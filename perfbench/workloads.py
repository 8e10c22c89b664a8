"""The three workloads, one closed-loop client each.

- ``serve``: read-only SDK searches against a synced, warmed collection
  (vector / hybrid / filtered vector, shares 50/30/20). The served tier
  answers every call; Spark should launch no job.
- ``ingest``: rounds of one ``upsert_documents_df`` batch that mixes
  updates with new documents; the upsert syncs the attached pipeline,
  then the client searches until the batch's marker document is
  returned. Writes beside reads on the same serving layer.
- ``catalog``: a pass over nine catalog queries, each collected, in an
  order the seed permutes. The SQL and analytics side.

Each workload drives the library only through its public API, checks
its outputs, and returns its per-op samples to ``run.py``.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter

import numpy as np

import measure
from corpus import Corpus

from postgresml_spark.collections import Collection, Pipeline
from postgresml_spark.functions.embed import hash_embed_py
from postgresml_spark.queries import QUERIES
from postgresml_spark.session import TABLES, load_table

EMBED_DIM = 384
SCHEMA = {
    "body": {
        "semantic_search": {"model": f"hash:{EMBED_DIM}", "hnsw": {}},
        "full_text_search": {"configuration": "english"},
    }
}
# Set-up runs once per run, in the fresh session, so setup_s includes
# the JVM's warm-up as a user starting a process pays it. Repeating it
# would add ~5 s (catalog) to ~11 s (SDK) to every run, which the
# benchmark's time budget for three workloads cannot afford.
SERVE_DOCS = 800
INGEST_DOCS = 300
# filtered searches cycle through a seeded order of N_CATS values, more
# than the served index's filter cache holds (256 entries, cleared
# when full), so every filtered search misses it however long the run
N_CATS = 300
# the 50/30/20 vector/hybrid/filtered mix as a 10-search pattern the
# seed shuffles once, so every stretch of a run holds the same mix
SERVE_PATTERN = ("vector",) * 5 + ("hybrid",) * 3 + ("filtered",) * 2
SERVE_MIN_OPS = 1000  # so the tail readout is a p99 (10 samples beyond it)
# Serve times a fixed reference search (NumPy and JSON, no library code)
# once per ten searches; on the 4-vCPU VM the benchmark was tuned on it
# takes this long when the host is quiet. Serve's throughput and latency
# are scaled by the ratio of the run's median reference time to it:
# other tenants' load moved the speed of the single-threaded search
# path by up to 2x over minutes, and the reference moved with it.
SERVE_REFERENCE_S = 3.0e-4
INGEST_UPDATES, INGEST_NEW = 8, 8
INGEST_MIN_ROUNDS = 3
RECALL_FLOOR = 0.9
RECALL_SAMPLE = 200
# Nine of the catalog's queries, chosen so each layer the workload
# stands for has a query it dominates: driver, py4j and job-count bound
# (q174, q47, q200), executor bound at larger scale (q43, q44, q117,
# q189), MLlib fit and predict (q40), plain SQL (q01). A cold pass over
# them takes ~20 s on 4 cores. The sync-lifecycle closure (q218) is
# left to the ingest workload, whose layers it repeats: its cold run
# alone takes ~14 s, which the benchmark's time budget cannot afford.
CATALOG = (
    "q01_pricing_summary q40_ols_regression q43_standard_scale "
    "q44_kmeans_k1_centroid q174_bfs_levels q47_array_features "
    "q200_jl_random_projection q117_frequent_itemsets "
    "q189_bloom_decontamination"
).split()
HERE = os.path.dirname(os.path.abspath(__file__))
CATALOG_DATA = os.path.join(HERE, "data", "sf0.001")
CATALOG_EXPECTED = os.path.join(HERE, "expected_catalog.json")
_DOC_SCHEMA = "id long, body string, cat long"
# each workload's own end-to-end figures (units), printed by every run
READOUTS = {
    "search_qps": "1/s", "search_p99_ms": "ms", "vector_p50_ms": "ms",
    "hybrid_p50_ms": "ms", "filtered_p50_ms": "ms",
    "ingest_docs_per_s": "1/s", "upsert_p50_s": "s", "visible_p50_s": "s",
    "catalog_wall_s": "s", "catalog_geomean_s": "s",
}


@dataclass
class Op:
    kind: str
    measured: bool
    t0: float = 0.0  # perf_counter
    t1: float = 0.0
    e0: float = 0.0  # epoch seconds, to meet the event log's clock
    e1: float = 0.0
    ok: bool = True
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Bench:
    """One run's client: the session, the op log and the check log.
    With a tracer, every op runs in its own Spark job group
    (``pb-<op index>``) so the event log can be split by op."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.ops: list[Op] = []
        self.check_failures: list[str] = []
        self.readouts: dict[str, float] = {}
        self.extra: dict[str, float] = {}

    @contextmanager
    def op(self, kind: str, measured: bool = True):
        o = Op(kind, measured)
        i = len(self.ops)
        self.ops.append(o)
        sc = self.spark.sparkContext
        if self.tracer is not None:
            sc.setJobGroup(f"pb-{i}", kind)
            self.tracer.op = i
        o.e0, o.t0 = time.time(), perf_counter()
        try:
            yield o
        except Exception:  # a failed op is counted, the run goes on
            o.ok = False
            traceback.print_exc(file=sys.stderr)
        finally:
            o.t1, o.e1 = perf_counter(), time.time()
            if self.tracer is not None:
                self.tracer.op = None
                sc.setLocalProperty("spark.jobGroup.id", None)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.check_failures.append(what)
            print(f"check failed: {what}", file=sys.stderr)

    def measured(self, prefix: str = "") -> list[Op]:
        return [o for o in self.ops if o.measured and o.kind.startswith(prefix)]

    def setup_s(self) -> float:
        return next(o.wall for o in self.ops if o.kind == "setup")


# -- SDK workloads ----------------------------------------------------------


class SyncLog:
    """Keeps what every ``Pipeline.sync`` returns, for the rest of the
    process: the upsert syncs the pipeline itself and drops the counts,
    and the ingest checks need them."""

    def __init__(self):
        self.results: list[dict] = []
        orig = Pipeline.sync

        def sync(pipe, *args, **kwargs):
            out = orig(pipe, *args, **kwargs)
            self.results.append(dict(out))
            return out

        Pipeline.sync = sync


def _docs_df(spark, docs):
    return spark.createDataFrame(
        [(d["id"], d["body"], d["cat"]) for d in docs], _DOC_SCHEMA
    )


def _vector_query(text: str, filter: dict | None = None) -> dict:
    q = {"query": {"fields": {"body": {"query": text}}}, "limit": 10}
    if filter is not None:
        q["query"]["filter"] = filter
    return q


def _hybrid_query(text: str) -> dict:
    return {
        "query": {
            "semantic_search": {"body": {"query": text}},
            "full_text_search": {"body": {"query": text}},
        },
        "limit": 10,
    }


def _source_ids(results) -> list[int]:
    return [int(r["document"]["id"]) for r in results]


def _bytes_on_disk(root: str) -> int:
    """Bytes under ``root``, each hard-linked file counted once."""
    seen, total = set(), 0
    for dirpath, _, files in os.walk(root):
        for fn in files:
            st = os.lstat(os.path.join(dirpath, fn))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def _user_bytes(doc: dict) -> int:
    return len(json.dumps(doc, sort_keys=True).encode())


def build_collection(b: Bench, corpus: Corpus, warm_all: bool):
    """The timed set-up of the SDK workloads: in the fresh session,
    upsert the corpus into a new collection, attach and sync the
    pipeline, and warm the served index with one vector search (and,
    with ``warm_all``, a hybrid and a filtered one)."""
    with b.op("setup", measured=False) as o:
        coll = Collection("c", b.spark, warehouse=os.path.join(b.work, "warehouse"))
        coll.upsert_documents_df(_docs_df(b.spark, corpus.docs))
        pipe = Pipeline("p", SCHEMA)
        coll.add_pipeline(pipe)
        probe = corpus.docs[0]["body"]
        coll.vector_search(_vector_query(probe), pipe)
        if warm_all:
            coll.search(_hybrid_query(probe), pipe)
            coll.vector_search(_vector_query(probe, {"cat": {"$eq": 0}}), pipe)
    if not o.ok:
        raise RuntimeError("collection build failed")
    live = sum(_user_bytes(d) for d in corpus.docs)
    b.extra["live_bytes_per_user_byte"] = _bytes_on_disk(coll.root) / live
    return coll, pipe


def _numpy_reference(mat: np.ndarray, payloads: list[str]):
    """The serve workload's host-speed reference: an exact top-10 over
    the client's own corpus matrix in NumPy, decoding the hits' JSON
    payloads — a search's kind of work, done without the library
    (serve scales its throughput and latency by it)."""
    rows = itertools.cycle(range(len(mat)))

    def task():
        top = np.argpartition(-(mat @ mat[next(rows)]), 10)[:10]
        return sorted(json.loads(payloads[j])["id"] for j in top)

    return task


def _recall_at_10(mat: np.ndarray, samples) -> float:
    """Share of served top-10 results whose exact cosine (numpy over the
    client's own embedding of the corpus) reaches the exact 10th-best
    score, so ties at the cut count as hits."""
    hits = total = 0
    for text, ids in samples:
        scores = mat @ np.asarray(hash_embed_py(text, EMBED_DIM))
        kth = np.sort(scores)[-10]
        hits += sum(scores[i] >= kth - 1e-9 for i in ids)
        total += 10
    return hits / total


def serve(b: Bench) -> None:
    corpus = Corpus(b.seed, SERVE_DOCS, N_CATS)
    coll, pipe = build_collection(b, corpus, warm_all=True)
    ids = {d["id"] for d in corpus.docs}
    mat = np.asarray([hash_embed_py(d["body"], EMBED_DIM) for d in corpus.docs])
    reference = _numpy_reference(mat, [json.dumps(d) for d in corpus.docs])
    pattern = list(SERVE_PATTERN)
    corpus.rng.shuffle(pattern)
    cats = corpus.rng.permutation(N_CATS).tolist()
    n_ops = n_filtered = 0
    recall_samples, reference_s = [], []
    start = perf_counter()
    while perf_counter() - start < b.seconds or n_ops < SERVE_MIN_OPS:
        if n_ops % len(pattern) == 0:
            t0 = perf_counter()
            reference()
            reference_s.append(perf_counter() - t0)
        kind = pattern[n_ops % len(pattern)]
        n_ops += 1
        text = corpus.query()
        if kind == "filtered":
            cat = cats[n_filtered % N_CATS]
            n_filtered += 1
        with b.op(f"serve.{kind}") as o:
            if kind == "vector":
                res = coll.vector_search(_vector_query(text), pipe)
            elif kind == "hybrid":
                res = coll.search(_hybrid_query(text), pipe)
            else:
                res = coll.vector_search(
                    _vector_query(text, {"cat": {"$eq": cat}}), pipe
                )
        if not o.ok:
            continue
        got = _source_ids(res)
        b.check(bool(got) and set(got) <= ids, f"{kind} results not in corpus: {got}")
        if kind == "filtered":
            b.check(all(r["document"]["cat"] == cat for r in res),
                    f"filtered results outside cat {cat}")
        if kind == "vector" and len(recall_samples) < RECALL_SAMPLE:
            b.check(len(got) == 10, f"vector search returned {len(got)} results")
            recall_samples.append((text, [i for i in got]))
    recall = _recall_at_10(mat, recall_samples)
    b.extra["recall_at_10"] = recall
    b.check(recall >= RECALL_FLOOR, f"recall@10 {recall:.3f} < {RECALL_FLOOR}")

    p50_ms = {
        k: statistics.median([o.wall for o in b.measured(f"serve.{k}")]) * 1e3
        for k in set(SERVE_PATTERN)
    }
    every = [o.wall for o in b.measured("serve.")]
    _, tail = measure.tail(every)
    b.readouts.update(
        search_qps=len(every) / sum(every),
        search_p99_ms=tail * 1e3,
        **{f"{k}_p50_ms": v for k, v in p50_ms.items()},
    )
    b.extra["units"] = len(every)
    b.extra["reference_s"] = statistics.median(reference_s)
    slowdown = b.extra["reference_s"] / SERVE_REFERENCE_S
    b.extra["throughput"] = len(every) / sum(every) * slowdown
    # the mix's typical search: per-kind medians weighted by the mix (the
    # median of all searches would sit on the edge between two kinds)
    b.extra["latency_ms"] = sum(
        p50_ms[k] for k in SERVE_PATTERN
    ) / len(SERVE_PATTERN) / slowdown


def ingest(b: Bench) -> None:
    corpus = Corpus(b.seed, INGEST_DOCS, N_CATS)
    syncs = SyncLog()
    coll, pipe = build_collection(b, corpus, warm_all=False)
    live = {d["id"]: d for d in corpus.docs}
    next_id = len(corpus.docs)
    user_bytes = 0
    rnd = 0
    start = perf_counter()
    while perf_counter() - start < b.seconds or rnd < INGEST_MIN_ROUNDS:
        old = corpus.rng.choice(sorted(live), INGEST_UPDATES, replace=False)
        batch = [corpus.doc(int(i), extra=f"rev{rnd}") for i in old]
        batch += [corpus.doc(next_id + k) for k in range(INGEST_NEW)]
        marker = batch[-1]
        marker["body"] += f" marker{b.seed}x{rnd}"
        next_id += INGEST_NEW
        df = _docs_df(b.spark, batch)
        n_syncs = len(syncs.results)
        with b.op("ingest.round") as o:
            coll.upsert_documents_df(df)
            o.info["upsert_s"] = perf_counter() - o.t0
            for polls in range(1, 11):
                res = coll.vector_search(_vector_query(marker["body"]), pipe)
                if marker["id"] in _source_ids(res):
                    break
        rnd += 1
        if not o.ok:
            continue
        o.info["docs"] = len(batch)
        user_bytes += sum(_user_bytes(d) for d in batch)
        live.update((d["id"], d) for d in batch)
        b.check(marker["id"] in _source_ids(res),
                f"round {rnd}: marker doc not visible after {polls} searches")
        counts = syncs.results[n_syncs:]
        o.info["derived"] = sum(sum(c.values()) for c in counts)
        b.check(
            len(counts) == 1 and set(counts[0].values()) == {len(batch)},
            f"round {rnd}: sync counts {counts} for {len(batch)} changed docs",
        )
    with b.op("ingest.noop_sync", measured=False) as o:
        noop = pipe.sync()
    b.check(o.ok and set(noop.values()) == {0}, f"no-op sync returned {noop}")

    rounds = [o for o in b.measured("ingest.round") if o.ok]
    docs = sum(o.info["docs"] for o in rounds)
    b.extra["rows_derived_per_changed_doc"] = (
        sum(o.info["derived"] for o in rounds) / docs
    )
    b.extra["user_bytes"] = user_bytes
    b.extra["live_bytes_per_user_byte"] = _bytes_on_disk(coll.root) / sum(
        _user_bytes(d) for d in live.values()
    )
    visible = [o.wall for o in rounds]
    b.extra["throughput"] = docs / sum(visible)
    b.readouts.update(
        ingest_docs_per_s=b.extra["throughput"],
        upsert_p50_s=statistics.median([o.info["upsert_s"] for o in rounds]),
        visible_p50_s=statistics.median(visible),
    )
    b.extra["units"] = len(rounds)
    # the mean round: with three or four rounds a run, a median is one
    # round, and the host's drift moves single rounds by up to 1.4x
    b.extra["latency_ms"] = statistics.mean(visible) * 1e3


# -- catalog ----------------------------------------------------------------


def catalog_results(spark, data_dir: str, names) -> dict:
    """Run ``names`` in order; per query, (row count, digest)."""
    out = {}
    for q in names:
        rows = QUERIES[q](spark, data_dir).collect()
        out[q] = (len(rows), measure.digest(rows))
    return out


def stage_catalog_data(work: str) -> str:
    """A private copy of the input tables, so no query can write into
    the committed ones."""
    data = os.path.join(work, "catalog_data")
    shutil.copytree(CATALOG_DATA, data)
    return data


def catalog(b: Bench) -> None:
    data = stage_catalog_data(b.work)
    with open(CATALOG_EXPECTED, encoding="utf-8") as fh:
        expected = json.load(fh)
    with b.op("setup", measured=False) as o:
        for name in TABLES:
            load_table(b.spark, data, name).count()
    if not o.ok:
        raise RuntimeError("catalog tables unreadable")
    order = list(CATALOG)
    np.random.default_rng(b.seed).shuffle(order)
    passes = []
    start = perf_counter()
    while perf_counter() - start < b.seconds or not passes:
        walls = []
        for q in order:
            with b.op(f"catalog.{q}") as o:
                rows = QUERIES[q](b.spark, data).collect()
            walls.append(o.wall)
            if not o.ok:
                continue
            got = [len(rows), measure.digest(rows)]
            b.check(got == expected[q], f"{q}: got {got}, expected {expected[q]}")
        passes.append(sum(walls))
    per_query = {}
    for o in b.measured("catalog."):
        per_query.setdefault(o.kind, []).append(o.wall)
    b.readouts.update(
        catalog_wall_s=statistics.median(passes),
        catalog_geomean_s=measure.geomean(
            [statistics.median(v) for v in per_query.values()]
        ),
    )
    b.extra["units"] = len(passes)
    b.extra["throughput"] = len(passes) * len(order) / sum(passes)
    b.extra["latency_ms"] = statistics.median(passes) / len(order) * 1e3


WORKLOADS = {"serve": serve, "ingest": ingest, "catalog": catalog}
