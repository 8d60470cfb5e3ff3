"""Seeded inputs of the service benchmark.

Writes the corpora, ingest batches and request sequences of one run and
returns the manifest the JVM harness executes. The same seed always
yields the same files and requests; the program sees only these inputs.

Tables are shaped like the program's test fixtures (FIXTURES.md):
`documents` is word soup over a small technical vocabulary with a tail
of near-duplicate and exact copies, `embeddings` holds unit 64-d float
vectors around ten label centroids, and `events` carries a JSON `props`
with one integer key.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch index shard token rank score cache page "
         "chunk graph node edge cluster").split()
STOPS = "the a of to in and".split()
LANGS = ("en", "fr", "es", "de", "zh")
DIM = 64
LABELS = 10

N_DOCS = 5000
N_VECS = 2000
N_EVENTS = 20000
# set-up reps per run: the first in a cold JVM, as a service starts,
# the second in the warm one
SETUP_REPS = 2

# request classes of each mix. Every class gets the same share: the
# reference service exposes one search endpoint (full-text search), so
# its traffic gives no split between the classes a search service built
# on this engine would serve.
MIX = ("fts_topk", "hybrid_rrf", "ivf_ann", "ivf_filtered", "knn_cosine",
       "paginate")
# the classes that read `documents`, so the only ones an ingest can change
DOC_CLASSES = ("paginate", "fts_topk", "fts_bm25", "hybrid_rrf")
# Zipf exponent of word frequencies in the corpus and of the popularity
# of request parameters: Zipf's law in its classic form. It is an
# assumption, not measured on the reference's traffic.
ZIPF_S = 1.0


def zipf_cdf(n, s):
    w = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    return w / w[-1]


def draw(rng, cdf, size=None):
    """Index drawn from the distribution with cumulative weights `cdf`."""
    i = np.minimum(np.searchsorted(cdf, rng.random(size), side="right"),
                   len(cdf) - 1)
    return i if size else int(i)


WORD_CDF = zipf_cdf(len(WORDS), ZIPF_S)


def _rng(*key):
    return np.random.default_rng([abs(int(k)) for k in key])


def documents(seed, n, first_id=0, lang=None, token=None):
    """n documents with ids from first_id. About 8% rewrite a recent
    document with one to three word substitutions and 2% copy one
    verbatim, so the dedup structure is real. With `token`, every
    document starts and ends with it."""
    rng = _rng(seed, 1)
    lens = 10 + rng.integers(91, size=n)
    words = _words(rng, int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    y = rng.integers(100, size=n)
    langs = [LANGS[0] if v < 40 else LANGS[1 + (v - 40) // 15] for v in y]
    sources = [f"src{v}" for v in rng.integers(20, size=n)]
    for i, x in enumerate(rng.integers(100, size=n)):
        if i == 0 or x >= 10:
            continue
        b = i - 1 - int(rng.integers(min(200, i)))
        ws = texts[b].split(" ")
        if x >= 2:
            for _ in range(1 + int(rng.integers(3))):
                ws[rng.integers(len(ws))] = _words(rng, 1)[0]
        texts[i], langs[i] = " ".join(ws), langs[b]
    if token:
        texts = [f"{token} {t} {token}" for t in texts]
    if lang:
        langs = [lang] * n
    return pa.table({
        "doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _words(rng, n):
    """n words: 8% stopwords, the rest Zipf-skewed content words."""
    content = np.array(WORDS, dtype=object)[draw(rng, WORD_CDF, n)]
    stops = np.array(STOPS, dtype=object)[rng.integers(len(STOPS), size=n)]
    return list(np.where(rng.integers(100, size=n) < 8, stops, content))


def embeddings(seed, n):
    rng = _rng(seed, 2)
    cents = rng.uniform(-1, 1, (LABELS, DIM))
    labels = rng.integers(LABELS, size=n)
    v = cents[labels] + 0.9 * rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events(seed, n):
    rng = _rng(seed, 3)
    types = np.array(["signup", "click", "error", "view", "purchase"])
    ts = np.sort(1704067200 + rng.integers(30 * 86400, size=n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts * 1_000_000, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1500, size=n), pa.int64()),
        "event_type": pa.array(types[rng.integers(5, size=n)], pa.string()),
        "value": pa.array(np.round(rng.random(n) * 20000) / 100, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=n)],
                          pa.string()),
    })


def raw_bytes(table):
    """Raw user bytes: text as UTF-8, vectors as float32, event props."""
    names = table.column_names
    if "text" in names:
        return sum(len(t.encode()) for t in table["text"].to_pylist())
    if "embedding" in names:
        return table.num_rows * DIM * 4
    return sum(len(p.encode()) for p in table["props"].to_pylist())


def write(dir_, **tables):
    os.makedirs(dir_, exist_ok=True)
    raw = 0
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))
        raw += raw_bytes(t)
    return raw


# a query's cost depends mostly on its language (en holds 40% of the
# documents) and its term count. The k-th text request of a class takes
# stratum k (mod 10), so every seed times the same cost profile and only
# the words differ.
STRATA = [(lang, n) for n in (2, 3) for lang in LANGS]
QUERIES_PER_STRATUM = 40


class Mix:
    """Request generator: parameters come from seeded candidate lists
    drawn with a Zipf skew, so some requests repeat as in a real
    session; `key` names a request's class and parameters."""

    def __init__(self, seed):
        rng = _rng(seed, 4)
        self.queries = []
        for lang, n in STRATA:
            qs = []
            for _ in range(QUERIES_PER_STRATUM):
                ws = []
                while len(ws) < n:
                    w = WORDS[draw(rng, WORD_CDF)]
                    if w not in ws:
                        ws.append(w)
                qs.append((" ".join(ws), lang))
            self.queries.append(qs)
        self.qids = [int(x) for x in rng.permutation(N_VECS)]
        self.c_query = zipf_cdf(QUERIES_PER_STRATUM, ZIPF_S)
        self.c_vec = zipf_cdf(N_VECS, ZIPF_S)
        self.c_page = zipf_cdf(N_DOCS // 50, ZIPF_S)

    def op(self, cls, rng, k):
        """The k-th request of class `cls`."""
        def text():
            return self.queries[k % len(STRATA)][draw(rng, self.c_query)]

        def qid():
            return self.qids[draw(rng, self.c_vec)]
        o = {"cls": cls}
        if cls in ("fts_topk", "fts_bm25"):
            o["q"], o["lang"] = text()
        elif cls == "hybrid_rrf":
            (o["q"], o["lang"]), o["qid"] = text(), qid()
        elif cls in ("ivf_ann", "knn_cosine"):
            o["qid"] = qid()
        elif cls == "ivf_filtered":
            o["qid"], o["label"] = qid(), k % LABELS
        elif cls == "paginate":
            o["off"] = 50 * draw(rng, self.c_page)
        o["key"] = "|".join(str(o[f]) for f in sorted(o))
        o["k"] = k
        return o

    def sequence(self, rng, n, classes):
        """n requests, the same count of each class, in a seeded order,
        so every run times the same mix."""
        ops = [self.op(classes[i % len(classes)], rng, i // len(classes))
               for i in range(n)]
        return [ops[i] for i in rng.permutation(len(ops))]


def mark(ops, traced):
    """Marks the first request of each class for the oracle. In a traced
    stream, every other request of each class is traced and the rest
    are not, so the tracing overhead compares like with like: the same
    classes, interleaved in one phase of one JVM."""
    seen = {}
    for o in ops:
        k = seen.get(o["cls"], 0)
        seen[o["cls"]] = k + 1
        if k == 0:
            o["check"] = True
        if traced and k % 2 == 0:
            o["trace"] = True


def corpora(seed, rundir, reps):
    """One fresh corpus per set-up rep; returns their dirs and raw bytes."""
    dirs, raw = [], []
    for r in range(reps):
        d = os.path.join(rundir, f"corpus-{r}")
        s = seed * 17 + r
        raw.append(write(d, documents=documents(s, N_DOCS),
                         embeddings=embeddings(s, N_VECS),
                         events=events(s, N_EVENTS)))
        dirs.append(d)
    return dirs, raw


def search_mix(seed, rundir, seconds, trace, reps):
    mix = Mix(seed)
    dirs, raw = corpora(seed, rundir, reps)
    per_client = max(1, round(seconds * SEARCH_REQS_PER_S / CLIENTS))
    streams = {}
    for stream in (1, 2) if trace else (1,):
        rng = _rng(seed, 5, stream)
        ops = mix.sequence(rng, per_client * CLIENTS, MIX)
        mark(ops, traced=stream == 2)
        keys = [o["key"] for o in ops]
        streams[str(stream)] = {"clients": [ops[c::CLIENTS] for c in range(CLIENTS)],
                                "repeat_share": 1 - len(set(keys)) / len(keys)}
    rng = _rng(seed, 6)
    return {
        "corpora": dirs,
        "raw": raw,
        # the corpus is scaled down from the 4 MiB FTS index-route
        # threshold the program defaults to; the threshold scales with it
        # so FTS serves from its persisted index
        "conf": {"graft.fts.indexRouteMinBytes": str(256 << 10)},
        "first": [mix.op(c, rng, 0) for c in MIX],
        "streams": streams,
    }


BATCH_DOCS = 25
BATCH_BASE = 1_000_000


def _batch(rundir, name, first_id, seed):
    """A batch of English documents that all carry the batch's own
    token, so a probe for the token must return exactly the batch."""
    token = "zq" + "".join(chr(ord("a") + int(c)) for c in str(abs(seed))[-8:]) \
        + "".join(chr(ord("a") + (ord(c) % 26)) for c in name)
    t = documents(seed, BATCH_DOCS, first_id, lang="en", token=token)
    d = os.path.join(rundir, "batches", name)
    raw = write(d, documents=t)
    return {"name": name, "dir": d, "token": token, "first_id": first_id,
            "n": BATCH_DOCS, "raw": raw}


def ingest_search(seed, rundir, seconds, trace, reps):
    mix = Mix(seed)
    dirs, raw = corpora(seed, rundir, reps)
    setup_batches = [_batch(rundir, f"setup{r}", BATCH_BASE - 3000, seed * 17 + r + 1)
                     for r in range(reps)]
    rounds = max(1, round(seconds * ROUNDS_PER_S))
    streams = {}
    for stream in (1, 2) if trace else (1,):
        rng = _rng(seed, 5, stream)
        # the class counts of the whole stream are fixed; a repeated
        # request is redrawn within its class
        reads, seen = mix.sequence(rng, rounds * READS_PER_ROUND, DOC_CLASSES), set()
        for j, o in enumerate(reads):
            while o["key"] in seen:
                o = mix.op(o["cls"], rng, o["k"])
            seen.add(o["key"])
            reads[j] = o
        mark(reads, traced=stream == 2)
        plan = []
        for i in range(rounds):
            # timed batches get ids above the base corpus and every
            # earlier batch, so "documents with smaller ids" is the corpus
            # as it stood when the batch became visible
            first = BATCH_BASE + ((stream - 1) * rounds + i) * BATCH_DOCS
            b = _batch(rundir, f"s{stream}-r{i}", first, seed * 29 + stream * 1000 + i)
            plan.append({"batch": b, "bound": first + BATCH_DOCS,
                         "reads": reads[i * READS_PER_ROUND:(i + 1) * READS_PER_ROUND]})
        plan[0]["batch"]["check"] = True
        streams[str(stream)] = {"rounds": plan, "repeat_share": 0.0}
    rng = _rng(seed, 6)
    return {
        "corpora": dirs,
        "raw": raw,
        "conf": {},
        "setup_batches": setup_batches,
        "first": [mix.op(c, rng, 0) for c in DOC_CLASSES],
        "streams": streams,
    }


CLIENTS = 1
# fixed work per second of --seconds, so a run's work does not depend
# on the speed of the program (4-core host reference rates)
SEARCH_REQS_PER_S = 3.0
ROUNDS_PER_S = 0.3
READS_PER_ROUND = 8
WORKLOADS = {"search_mix": search_mix, "ingest_search": ingest_search}


def generate(workload, seed, rundir, seconds, trace, reps=SETUP_REPS):
    m = WORKLOADS[workload](seed, rundir, seconds, trace, reps)
    m.update(workload=workload, seed=seed, n_vecs=N_VECS)
    return m
