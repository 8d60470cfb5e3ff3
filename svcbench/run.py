#!/usr/bin/env python3
"""Service benchmark for the graft search engine.

Usage, from the root of the repository:

    python3 svcbench/run.py --workload search_mix|ingest_search|curation_batch \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source (once per source state,
cached under .bench_build/), runs one workload in a fresh JVM against a
run-private corpus, warehouse and scratch directory, checks a sample of
responses against the operators' DuckDB oracle SQL, and prints the
metrics. The last line of standard output is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See svcbench/NOTES.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("search_mix", "ingest_search")
RUN_LIMIT_S = 170
TRAIN_LIMIT_S = 600
HEAP = "2g"
# Spark on JDK 17 needs these outside spark-submit (the program's
# build.sbt passes the same list to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# a tail percentile is reported only with this many samples beyond it
TAIL_MIN_BEYOND = 10


def die(msg):
    print(f"svcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Fingerprint of every file the build reads."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                     .encode())
    return h.hexdigest()


def jar_dirs(cp, cache):
    """Replaces class directories on the classpath by jars under `cache`,
    which the JVM needs for its class-data sharing archive."""
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(cache, "jars", f"{i}.jar")
            os.makedirs(os.path.dirname(jar), exist_ok=True)
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in os.walk(p):
                    for f in sorted(fs):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm(cp, cds, args, rundir, log, limit):
    """Runs svcbench.Main in a fresh JVM with a pinned heap; `cds` is
    the class-data sharing option. Returns the exit code."""
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", cds, f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "svcbench.Main"] + args
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def train(cp, cds):
    """Dumps the class-data sharing archive from a short untimed run of
    every workload, so every measured run maps the same archive and
    starts alike (about 10 s faster than without it on a 4-core host)."""
    import inputs
    rundir = os.path.join(BUILD, "runs", f"train-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        args = ["1"]
        for w in WORKLOADS:
            d = os.path.join(rundir, w)
            m = inputs.generate(w, 1, d, 1, 1, reps=1)
            with open(os.path.join(d, "manifest.json"), "w") as f:
                json.dump(m, f)
            args += [os.path.join(d, "manifest.json"), d]
        log = os.path.join(os.path.dirname(cds), "train.log")
        code = jvm(cp, f"-XX:ArchiveClassesAtExit={cds}", args, rundir, log,
                   TRAIN_LIMIT_S)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    if code != 0 or not os.path.isfile(cds):
        die(f"training run failed (exit {code}, see {log})")


def build():
    """Compiles program and harness with sbt and dumps the class-data
    sharing archive. The classpath, jars and archive are cached under
    .bench_build/<source stamp>/, so builds of different sources
    coexist. Returns the classpath and the archive."""
    cache = os.path.join(BUILD, source_stamp())
    cp_file = os.path.join(cache, "classpath.txt")
    cds = os.path.join(cache, "classes.jsa")
    if os.path.isfile(cp_file) and os.path.isfile(cds):
        with open(cp_file) as f:
            return f.read().strip(), cds
    shutil.rmtree(cache, ignore_errors=True)
    os.makedirs(cache)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(cache, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "--no-colors", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
        out.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (see {log})")
    cp = jar_dirs(lines[-1], cache)
    train(cp, cds)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, cds


def run_jvm(cp, cds, manifest, rundir, trace):
    log = os.path.join(rundir, "jvm.log")
    code = jvm(cp, f"-XX:SharedArchiveFile={cds}", [str(trace), manifest, rundir],
               rundir, log, RUN_LIMIT_S)
    res = os.path.join(rundir, "result.json")
    if code != 0 or not os.path.isfile(res):
        with open(log) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        die(f"run failed (exit {code})")
    with open(res) as f:
        return json.load(f)


def tail_percentile(xs):
    """Highest of p99/p95/p90 with at least ten samples beyond it."""
    for q in (99, 95, 90):
        if len(xs) * (100 - q) / 100 >= TAIL_MIN_BEYOND:
            return q, statistics.quantiles(xs, n=100)[q - 1]
    return None, None


def class_medians(ops, traced=None):
    """Median latency (ms) of each read class's successful requests,
    with their count; `traced` keeps only traced or untraced ones."""
    by = {}
    for cls, kind, ms, ok, tr in ops:
        if kind == "read" and ok and traced in (None, tr):
            by.setdefault(cls, []).append(ms)
    return {c: (statistics.median(v), len(v)) for c, v in sorted(by.items())}


def summarize(phase):
    """Read latencies (ms), the geometric mean of the per-class median
    latencies (every class has the same share of the mix) and completed
    operations per second."""
    ops = phase["ops"]  # [cls, kind, ms, ok, traced]
    lat = [o[2] for o in ops if o[1] == "read" and o[3]]
    meds = class_medians(ops)
    p50 = statistics.geometric_mean(v for v, _ in meds.values()) if meds else 0.0
    return lat, p50, sum(1 for o in ops if o[3]) / phase["wall_s"]


def trace_overhead(phase):
    """Geometric mean over read classes of the traced requests' median
    latency over the untraced ones' in the same traced phase."""
    on, off = class_medians(phase["ops"], True), class_medians(phase["ops"], False)
    ratios = [on[c][0] / off[c][0] for c in on if c in off]
    return statistics.geometric_mean(ratios) if ratios else 0.0


def bytes_under(*paths):
    n = 0
    for p in paths:
        for d, _, fs in os.walk(p):
            n += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return n


def storage_amplification(m, rundir):
    """Bytes under the serving corpus and its warehouse over raw user
    bytes: text, float32 vectors, event props, and every batch ingested."""
    last = len(m["corpora"]) - 1
    raw = m["raw"][last]
    if m["workload"] == "ingest_search":
        raw += m["setup_batches"][last]["raw"]
        raw += sum(r["batch"]["raw"] for st in m["streams"].values()
                   for r in st["rounds"])
    disk = bytes_under(m["corpora"][last],
                       os.path.join(rundir, f"warehouse-{last}"))
    return disk / raw


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the program's sources (build.sbt, src/main/scala) are missing")
    cp, cds = build()

    rundir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        import inputs
        import oracle
        t0 = time.monotonic()
        m = inputs.generate(args.workload, args.seed, rundir, args.seconds,
                            args.trace)
        manifest = os.path.join(rundir, "manifest.json")
        with open(manifest, "w") as f:
            json.dump(m, f)
        t1 = time.monotonic()
        res = run_jvm(cp, cds, manifest, rundir, args.trace)
        storage = storage_amplification(m, rundir)
        t2 = time.monotonic()
        phases = [res["plain"]] + ([res["traced"]] if res["traced"] else [])
        checks = [c for p in phases for c in p["checks"]]
        verdicts = oracle.run(checks, os.path.join(rundir, "duckdb"))
        t3 = time.monotonic()
        if args.trace and res["spans"]:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces",
                                   f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(res["spans"], f)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    w = args.workload
    lat, p50, thr = summarize(res["plain"])
    attempted = sum(len(p["ops"]) for p in phases)
    failed = sum(1 for p in phases for o in p["ops"] if not o[3])
    mismatched = [(c, e) for c, e in verdicts if e]
    failed += len(mismatched)
    for p in phases:
        for e in p["errors"]:
            print(f"error: {e}")
        if w == "search_mix" and p["builds_timed"] > 0:
            failed += 1
    for c, e in mismatched:
        print(f"oracle mismatch: {c['req']} {c['cls']}: {e}")
    if not lat:
        die("no successful timed operation")

    setup = res["setup_s"]
    setup_med = statistics.median(setup)
    q, tail = tail_percentile(lat)
    print(f"workload {w} seed {args.seed}: {len(lat)} timed reads, "
          f"{len(verdicts)} oracle checks, {len(mismatched)} mismatched")
    print(f"setup_s {setup_med:.3f} (median of {len(setup)} reps: "
          + ", ".join(f"{s:.3f}" for s in setup) + ")")
    print(f"latency_p50_ms {p50:.2f} (geometric mean of the class medians, "
          f"n={len(lat)})")
    print(f"latency_p{q}_ms {tail:.2f} (n={len(lat)})" if q else
          f"tail percentile withheld: n={len(lat)} leaves fewer than "
          f"{TAIL_MIN_BEYOND} samples beyond p90")
    vis = res["plain"]["visible_ms"]
    if vis:
        print(f"visible_p50_ms {statistics.median(vis):.2f} (n={len(vis)})")
    done = sum(1 for o in res["plain"]["ops"] if o[3])
    print(f"throughput {thr:.4f}/s (n={done} completed operations)")
    print(f"storage_amplification {storage:.4f}")
    by_cls = {}
    for o in res["plain"]["ops"]:
        by_cls.setdefault(o[0], []).append(o[2])
    print("per class p50 ms (ingests and probes included): " + ", ".join(
        f"{c} {statistics.median(v):.1f} (n={len(v)})" for c, v in sorted(by_cls.items())))
    print(f"error_rate {failed / attempted:.4f} ({failed}/{attempted})")
    nf = res["noop_floor_ms"]
    print(f"noop floor {nf[0]:.2f} ms before, {nf[1]:.2f} ms after")
    print(f"run time: inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
          f"oracle {t3 - t2:.1f} s")

    if args.trace:
        values = dict(res["layers"])
        values["trace.overhead"] = trace_overhead(res["traced"])
        values["mix.repeat_share"] = m["streams"]["1"]["repeat_share"]
    else:
        values = {"setup_s": setup_med, "throughput": thr,
                  "latency_p50_ms": p50, "storage_amplification": storage}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # a layer this workload does not exercise did no work: 0
    metrics = {d["name"]: {"value": values.get(d["name"], 0.0),
                           "unit": d["unit"]} for d in declared}
    if args.trace:
        for k, v in metrics.items():
            print(f"  {k} {v['value']:.4f} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
