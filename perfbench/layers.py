"""Which library calls the traced run wraps, and how its spans, counters
and event-log groups become the per-layer metrics.

Per-layer values are per *unit* of the workload (one search on
``serve``, one ingest round on ``ingest``, one catalog pass on
``catalog``) over the measured ops, unless the name says otherwise.
A layer a workload does not touch reports 0.
"""

from __future__ import annotations

import os
import statistics

import py4j.java_gateway
import pyspark.ml.base

import measure
import workloads
from tracer import NAME, NOTE, OP, END, START, outermost, self_times

from postgresml_spark.collections import collection, pipeline, search, serving, storage
from postgresml_spark.operators import similarity

STORAGE_WRITE = "storage.write"


def targets():
    """(owner, attribute, span name) for every wrapped call. Names bound
    by ``from m import f`` are wrapped at the module that looks them up
    (``pipeline.hash_embed_py``); functions a caller imports inside its
    body are looked up on their own module at call time, so wrapping
    them there is enough (``storage.overwrite_multi``)."""
    return [
        (collection.Collection, "upsert_documents_df", "collection.upsert"),
        (search, "vector_search", "search.vector_search"),
        (search, "hybrid_search", "search.hybrid_search"),
        (pipeline.Pipeline, "sync", "pipeline.sync"),
        (pipeline, "hash_embed_py", "embed.query"),
        (serving.ServedPipelineIndex, "__init__", "serving.build"),
        (serving.ServedPipelineIndex, "search", "serving.search"),
        (serving.ServedTextIndex, "best_chunk_scores", "serving.text"),
        (similarity.ResidentHNSW, "__init__", "similarity.ann_build"),
        (similarity.ResidentANN, "__init__", "similarity.ann_build"),
        (similarity.ResidentHNSW, "search", "similarity.ann_search"),
        (similarity.ResidentANN, "search", "similarity.ann_search"),
        (storage.VersionedTable, "overwrite", STORAGE_WRITE),
        (storage.VersionedTable, "append", STORAGE_WRITE),
        (storage.BucketedVersionedTable, "overwrite", STORAGE_WRITE),
        (storage.BucketedVersionedTable, "delta_overwrite", STORAGE_WRITE),
        (storage.BucketedVersionedTable, "partial_overwrite", STORAGE_WRITE),
        (storage, "overwrite_multi", STORAGE_WRITE),
        (storage, "delta_overwrite_multi", STORAGE_WRITE),
        (pyspark.ml.base.Estimator, "fit", "ml.train"),
        (pyspark.ml.base.Transformer, "transform", "ml.predict"),
    ]


COUNTED = [
    (py4j.java_gateway.GatewayClient, "send_command", "py4j"),
    (os, "rename", "fs_meta"),
    (os, "replace", "fs_meta"),
    (os, "link", "fs_meta"),
    (os, "listdir", "fs_meta"),
]


def install(tracer) -> None:
    for owner, attr, name in targets():
        tracer.wrap(owner, attr, name)
    # a refresh that returns another object rebuilt the index
    tracer.wrap(serving.ServedPipelineIndex, "refresh", "serving.refresh",
                note=lambda args, out: out is not args[0])
    for owner, attr, name in COUNTED:
        tracer.count(owner, attr, name)


def names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    out = [
        "py4j.calls", "py4j.s", "spark.jobs", "spark.tasks",
        "spark.job_span_s", "spark.driver_gap_s", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_bytes",
        "spark.spill_bytes", "storage.write_s", "storage.fs_meta_ops",
        "storage.bytes_written", "storage.write_amp",
        "storage.live_bytes_per_user_byte", "collection.upsert_self_s",
        "pipeline.sync_s", "pipeline.rows_derived_per_changed_doc",
        "serving.refresh_s", "serving.rebuild_frac", "serving.build_s",
        "similarity.ann_build_s", "serving.search_ms",
        "similarity.ann_search_ms", "embed.query_ms", "search.self_ms",
        "filtered.serving.search_ms", "filtered.similarity.ann_search_ms",
        "filtered.embed.query_ms", "filtered.search.self_ms",
        "serving.text_ms", "similarity.recall_at_10", "ml.train_s",
        "ml.predict_s", "peak_rss_mb", "trace.overhead_frac", "failed_op_frac",
        *workloads.READOUTS,
    ]
    for q in workloads.CATALOG:
        out += [f"catalog.{q}.{m}" for m in ("wall_s", "jobs", "py4j_calls", "driver_gap_s")]
    return out


def unit_of(name: str) -> str:
    if name in workloads.READOUTS:
        return workloads.READOUTS[name]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("_frac", "_amp", "_per_user_byte", "_per_changed_doc",
                      "recall_at_10")):
        return "ratio"
    return "count"


def metrics(b, tracer, groups, wall_s: float) -> dict[str, float]:
    """Per-layer metrics of one traced run. ``groups`` is the event log
    split by job group; ``wall_s`` the traced run's wall since the
    tracer was installed."""
    ops = b.ops
    spans = tracer.spans
    measured = [i for i, o in enumerate(ops) if o.measured and o.ok]
    units = max(b.extra.get("units", 0), 1)
    mset = set(measured)
    selfs = self_times(spans)

    def grp(i):
        return groups.get(f"pb-{i}")

    def in_ops(op_ids):
        return [k for k, s in enumerate(spans) if s[OP] in op_ids]

    def dur(ks):
        return sum(spans[k][END] - spans[k][START] for k in ks)

    def named(ks, *names_):
        return [k for k in ks if spans[k][NAME] in names_]

    def top(name):  # outermost spans of one layer inside measured ops
        return [k for k in outermost(spans, [name]) if spans[k][OP] in mset]

    def counted(name, op_ids):
        calls = secs = 0
        for (n, op), (c, s) in tracer.counts.items():
            if n == name and op in op_ids:
                calls += c
                secs += s
        return calls, secs

    def job_spans(i):
        g = grp(i)
        o = ops[i]
        if g is None:
            return []
        return measure.clip([(s / 1e3, e / 1e3) for s, e in g.spans_ms], o.e0, o.e1)

    def gap(i):
        return ops[i].wall - measure.union_length(job_spans(i))

    def gsum(attr, op_ids):
        return sum(getattr(grp(i), attr) for i in op_ids if grp(i) is not None)

    m: dict[str, float] = {n: 0.0 for n in names()}
    ks = in_ops(mset)
    calls, secs = counted("py4j", mset)
    m["py4j.calls"] = calls / units
    m["py4j.s"] = secs / units
    m["spark.jobs"] = gsum("jobs", measured) / units
    m["spark.tasks"] = gsum("tasks", measured) / units
    m["spark.job_span_s"] = sum(
        measure.union_length(job_spans(i)) for i in measured
    ) / units
    m["spark.driver_gap_s"] = sum(gap(i) for i in measured) / units
    m["spark.executor_run_s"] = gsum("executor_run_ms", measured) / 1e3 / units
    m["spark.executor_cpu_s"] = gsum("executor_cpu_ns", measured) / 1e9 / units
    m["spark.gc_s"] = gsum("gc_ms", measured) / 1e3 / units
    m["spark.shuffle_bytes"] = gsum("shuffle_bytes", measured) / units
    m["spark.spill_bytes"] = gsum("spill_bytes", measured) / units

    m["storage.write_s"] = dur(top(STORAGE_WRITE)) / units
    m["storage.fs_meta_ops"] = counted("fs_meta", mset)[0] / units
    out_bytes = gsum("output_bytes", measured)
    m["storage.bytes_written"] = out_bytes / units
    if b.extra.get("user_bytes"):
        m["storage.write_amp"] = out_bytes / b.extra["user_bytes"]
    m["storage.live_bytes_per_user_byte"] = b.extra.get("live_bytes_per_user_byte", 0.0)

    m["collection.upsert_self_s"] = sum(
        selfs[k] for k in named(ks, "collection.upsert")
    ) / units
    m["pipeline.sync_s"] = dur(top("pipeline.sync")) / units
    m["pipeline.rows_derived_per_changed_doc"] = b.extra.get(
        "rows_derived_per_changed_doc", 0.0
    )

    refreshes = named(ks, "serving.refresh")
    m["serving.refresh_s"] = dur(refreshes) / units
    if refreshes:
        m["serving.rebuild_frac"] = sum(bool(spans[k][NOTE]) for k in refreshes) / len(refreshes)
    # builds are timed wherever they happen, set-up included, per build
    for metric, name in (("serving.build_s", "serving.build"),
                         ("similarity.ann_build_s", "similarity.ann_build")):
        every = [k for k, s in enumerate(spans) if s[NAME] == name]
        if every:
            m[metric] = dur(every) / len(every)

    for prefix, kinds in (("", ("serve.vector",)), ("filtered.", ("serve.filtered",))):
        op_ids = {i for i in measured if ops[i].kind in kinds}
        if not op_ids:
            continue
        kk = in_ops(op_ids)
        n = len(op_ids)
        m[f"{prefix}serving.search_ms"] = dur(named(kk, "serving.search")) / n * 1e3
        m[f"{prefix}similarity.ann_search_ms"] = dur(named(kk, "similarity.ann_search")) / n * 1e3
        m[f"{prefix}embed.query_ms"] = dur(named(kk, "embed.query")) / n * 1e3
        m[f"{prefix}search.self_ms"] = sum(
            selfs[k] for k in named(kk, "search.vector_search")
        ) / n * 1e3
    hybrid = {i for i in measured if ops[i].kind == "serve.hybrid"}
    if hybrid:
        m["serving.text_ms"] = dur(named(in_ops(hybrid), "serving.text")) / len(hybrid) * 1e3
    m["similarity.recall_at_10"] = b.extra.get("recall_at_10", 0.0)
    m["ml.train_s"] = dur(top("ml.train")) / units
    m["ml.predict_s"] = dur(top("ml.predict")) / units

    m["peak_rss_mb"] = b.extra["peak_rss_mb"]
    m["trace.overhead_frac"] = tracer.overhead_s / wall_s
    attempted = [o for o in ops if o.measured]
    m["failed_op_frac"] = sum(not o.ok for o in attempted) / max(len(attempted), 1)
    m.update(b.readouts)

    per_q: dict[str, list[int]] = {}
    for i in measured:
        if ops[i].kind.startswith("catalog."):
            per_q.setdefault(ops[i].kind, []).append(i)
    for kind, idx in per_q.items():
        m[f"{kind}.wall_s"] = statistics.median([ops[i].wall for i in idx])
        m[f"{kind}.jobs"] = statistics.median([grp(i).jobs if grp(i) else 0 for i in idx])
        m[f"{kind}.py4j_calls"] = statistics.median([counted("py4j", {i})[0] for i in idx])
        m[f"{kind}.driver_gap_s"] = statistics.median([gap(i) for i in idx])
    return m
