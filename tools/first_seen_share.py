#!/usr/bin/env python3
"""Share of svcbench's vector requests whose parameter values a run's JVM
has not seen before.

Usage: python3 tools/first_seen_share.py [--seconds 10] \
           [search_mix:1101-1110] [ingest_search:1121-1126]

A request reaches generated code with its query id (and, for
ivf_filtered, its label). Where those values are inlined as literals,
a request whose values the JVM already compiled is served from Spark's
compile cache, and only a first-seen one compiles. This replays each
seed's request plan from svcbench/inputs.py (the set-up reps' first
answers, then the untraced timed stream in order, one client) and
prints, per class and run, how many vector requests carry values not
seen earlier in that JVM. No corpus is written.
"""
import os
import statistics
import sys

sys.dont_write_bytecode = True  # leave nothing in svcbench/
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "svcbench"))
import inputs  # noqa: E402

# only the request plan is needed: skip writing corpora and batches
inputs.corpora = lambda seed, rundir, reps: ([], [])
inputs._batch = lambda rundir, name, first_id, seed: {"name": name}

# per class, the request values that reach generated code (hybrid_rrf:
# its KNN side; its text reaches generated code by reference)
KEY = {"knn_cosine": ("qid",), "ivf_ann": ("qid",),
       "ivf_filtered": ("qid", "label"), "hybrid_rrf": ("qid",)}


def first_seen(workload, seed, seconds):
    m = inputs.generate(workload, seed, os.devnull, seconds, False)
    s = m["streams"]["1"]
    ops = s["clients"][0] if "clients" in s else \
        [o for r in s["rounds"] for o in r["reads"]]
    key = lambda o: (o["cls"], tuple(o[f] for f in KEY[o["cls"]]))
    seen = {key(o) for o in m["first"] if o["cls"] in KEY}
    n, new = {}, {}
    for o in ops:
        if o["cls"] in KEY:
            n[o["cls"]] = n.get(o["cls"], 0) + 1
            new[o["cls"]] = new.get(o["cls"], 0) + (key(o) not in seen)
            seen.add(key(o))
    return n, new


def main(argv):
    seconds = 10
    if argv[:1] == ["--seconds"]:
        seconds, argv = float(argv[1]), argv[2:]
    specs = argv or ["search_mix:1101-1110", "ingest_search:1121-1126"]
    for spec in specs:
        workload, seeds = spec.split(":")
        lo, hi = (int(x) for x in seeds.split("-"))
        tot_n, tot_new, per = {}, {}, {}
        for seed in range(lo, hi + 1):
            n, new = first_seen(workload, seed, seconds)
            for c in n:
                tot_n[c] = tot_n.get(c, 0) + n[c]
                tot_new[c] = tot_new.get(c, 0) + new[c]
                per.setdefault(c, []).append(new[c] / n[c])
            print(workload, seed,
                  " ".join(f"{c}={new[c]}/{n[c]}" for c in sorted(n)))
        for c in sorted(tot_n):
            print(f"{workload} {c}: {tot_new[c]}/{tot_n[c]} = "
                  f"{tot_new[c] / tot_n[c]:.3f} (per run: min "
                  f"{min(per[c]):.2f}, median {statistics.median(per[c]):.2f})")
        a, b = sum(tot_new.values()), sum(tot_n.values())
        print(f"{workload} all vector classes: {a}/{b} = {a / b:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
