"""Seeded workload plans: everything the JVM side is told to do.

The engine sees only what this module generates from the seed: the
order of the batch queries, the set-up corpus, and every request of the
serving workloads with its due time.
"""
import json
import os

import pyarrow.parquet as pq

import stats
import gen

WORKLOADS = ("batch_fleet", "serve_read", "serve_unique", "serve_mixed")
# search-only workloads: Zipf-repeated texts, and never-repeated texts
READ_WORKLOADS = ("serve_read", "serve_unique")

# batch_fleet: registry queries timed per run. The full registry (142
# queries, ~41 s a pass at 4 cores even on the smallest tables) does not
# fit a run; this set covers the three families and names every query
# the roadmap's join-policy and scheduling-floor items are stated in.
BATCH_QUERIES = (
    # dedup family
    "q22_jaccard_neardup", "q24b_simhash_banded", "q21b_minhash_fast",
    # pipeline family (pipeline, retrieval, curation registries)
    "q37_neardup_dedup", "q107_leakage_split", "q57_tfidf_topterms", "q26_ann_ivf",
    # relational family (core, analytics, audit, ownership, selection)
    "q18_exact_dedup", "q39_rollup", "q51_cube", "q66_event_argmax", "q136_drift_windows",
)
BATCH_SF = 0.01
# timed passes: one per BATCH_PASS_S of --seconds (a pass with its
# collections took about that long on 4 cores at the introducing commit),
# at least one; a fixed count keeps the sample size the same on every run
BATCH_PASS_S = 10.0

# Serving. Rates are frozen, so later changes are compared at the same
# offered load: the read workloads' open loop runs at 60% of the
# closed-loop capacity measured when the benchmark was introduced
# (search_qps median 3.76/s over ten 12-second serve_read runs on 4
# vCPUs, seeds 601-610; serve_unique 3.68/s: the server has no request
# cache).
SERVE_SF = 0.1            # 5,000 documents: the first 4,000 set up, 1,000 held out
SETUP_DOCS = 4000
WARM_DOCS = 200           # untimed bootstrap before the timed set-ups
SERVE_SETUPS = 2
READ_RATE = 2.25          # searches per second, open loop
MIXED_RATE = 2.0          # operations per second, open loop
OPEN_REQUESTS = 16        # read workloads' traced run: open-loop requests
# serve_read's texts: a Zipf draw over a fixed pool. Both numbers are
# assumptions, not fitted to a query log; they give a measured share of
# about 0.3 of searches repeating a text sent within the last 5 s (see
# README.md). serve_unique sends every text once, so whatever a cache or
# batching of repeats gains on serve_read it cannot gain there.
TEXT_POOL = 400           # distinct query texts behind the Zipf draw
ZIPF_S = 1.1
POOL_SEED = 42
ZIPF_BLOCK = 20           # texts are drawn in blocks of this many, stratified
WARMUP_S = 0.5            # untimed searches before the timed phases
CHECKS = 2                # sampled exhaustive (centroids -1) answers


def _docs(data_dir):
    t = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pylist()
    return t


def _doc_json(d):
    return {"title": d["source"], "lang": d["lang"], "text": d["text"]}


def _text(rng, lo=2, hi=8):
    return " ".join(rng.choice(gen.VOCAB) for _ in range(rng.randint(lo, hi)))


def _variants(n, rng):
    """Request shapes for n searches: in every block of ten, eight are the
    reference default, one paginates (offset 10 or 20) and one probes
    2-8 lists, in seeded order (so any prefix a closed loop consumes has
    the same mix)."""
    shapes = []
    while len(shapes) < n:
        block = [{}] * 8 + [{"offset": rng.choice((10, 20))},
                            {"centroids": rng.randint(2, 8)}]
        rng.shuffle(block)
        shapes.extend(block)
    return shapes[:n]


def _search(text, shape):
    body = {"text": text, "count": 10, "offset": 0, "centroids": 1}
    body.update(shape)
    return body


def _dump(o):
    return json.dumps(o, separators=(",", ":"))


def batch(seed, seconds, trace, data_dir):
    order = list(BATCH_QUERIES)
    stats.seeded(seed, "order").shuffle(order)
    docs = _docs(data_dir)
    held = docs[len(docs) * 4 // 5:]
    return {"workload": "batch_fleet", "queries": order,
            "passes": max(1, round(seconds / BATCH_PASS_S)),
            "micro_docs": [_dump(_doc_json(d)) for d in held] if trace else []}


def serve(workload, seed, seconds, trace, data_dir, work_dir, clients):
    docs = _docs(data_dir)
    setup, held = docs[:SETUP_DOCS], docs[SETUP_DOCS:]
    upload = {"documents": [{"external_id": f"doc-{d['doc_id']}", "document": _doc_json(d)}
                            for d in setup]}
    upload_path = os.path.join(work_dir, "setup_upload.json")
    with open(upload_path, "w") as f:
        f.write(_dump(upload))
    warm_path = os.path.join(work_dir, "warm_upload.json")
    with open(warm_path, "w") as f:
        f.write(_dump({"documents": upload["documents"][:WARM_DOCS]}))
    p = {"workload": workload, "clients": clients, "seconds": seconds,
         "setups": SERVE_SETUPS, "setup_upload": upload_path, "warm_upload": warm_path,
         "micro_docs": [_dump(_doc_json(d)) for d in held] if trace else []}
    rng = stats.seeded(seed, "requests")
    warm = stats.seeded(seed, "warmup")
    used = set()   # texts sent so far: a fresh text is never one of them

    def fresh(lo=2, hi=8, r=rng):
        while True:
            t = _text(r, lo, hi)
            if t not in used:
                used.add(t)
                return t
    if workload == "serve_read":
        # the pool, and so which texts are hot, is the same for every seed
        # (as the corpus is); the seed draws from it
        pool_rng = stats.seeded(POOL_SEED, "pool")
        pool = [fresh(r=pool_rng) for _ in range(TEXT_POOL)]
        zipf = stats.Zipf(TEXT_POOL, ZIPF_S, rng)

        def drawn():
            while True:
                yield from (pool[k] for k in zipf.block(ZIPF_BLOCK))
        texts = drawn()
        text = lambda: next(texts)  # noqa: E731
    else:
        text = fresh
    p["warmup"] = [[0.0, "search", _dump(_search(fresh(r=warm), v))]
                   for v in _variants(200, warm)]
    p["warmup_seconds"] = WARMUP_S
    if workload in READ_WORKLOADS:
        # the open loop runs in the traced run only, which reports its
        # figures; an untraced run spends all of `seconds` in the closed
        # loop, whose figures are gated
        p["rate"] = READ_RATE
        arrivals = stats.poisson_arrivals(READ_RATE, OPEN_REQUESTS, rng) if trace else []
        p["open"] = [[due, "search", _dump(_search(text(), v))]
                     for due, v in zip(arrivals, _variants(OPEN_REQUESTS, rng))]
        p["closed"] = [[0.0, "search", _dump(_search(text(), v))]
                       for v in _variants(int(seconds * 200), rng)]
        p["closed_seconds"] = seconds
        check_texts = [text() for _ in range(CHECKS)]
    else:
        live = list(range(1, SETUP_DOCS + 1))   # server ids of the set-up corpus
        rng.shuffle(live)
        held_next = 0
        reqs = []
        arrivals = stats.poisson_arrivals(MIXED_RATE, round(MIXED_RATE * seconds), rng)
        for due, v in zip(arrivals, _variants(len(arrivals), rng)):
            u = rng.random()
            if u < 0.80:
                reqs.append([due, "search", _dump(_search(fresh(4, 10), v))])
            elif u < 0.95:
                k = rng.randint(1, 5)
                batch_docs = [held[(held_next + i) % len(held)] for i in range(k)]
                held_next += k
                reqs.append([due, "upload", _dump({"documents": [
                    {"external_id": f"doc-{d['doc_id']}", "document": _doc_json(d)}
                    for d in batch_docs]})])
            else:
                reqs.append([due, "delete", _dump({"document_id": live.pop()})])
        p["rate"] = MIXED_RATE
        p["open"] = reqs
        p["closed"] = []
        check_texts = [fresh(4, 10) for _ in range(CHECKS)]
    p["exhaustive_checks"] = [_dump({"text": t, "count": 10, "offset": 0, "centroids": -1})
                              for t in check_texts]
    return p
