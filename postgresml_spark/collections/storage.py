"""Versioned parquet tables: one commit protocol for every write.

The reference mutates Postgres tables inside transactions (MERGE-style
upserts, queries.rs:146-169). Without Delta jars in this image, each
logical table is a directory of immutable version dirs `v_<n>` plus a
`_current` pointer file naming the published one. Every versioned
write (full overwrite, bucket-partial overwrite, delta write; one table
or several) goes through `_commit`, in three fixed steps:

1. Stage. One Spark job writes every table's new files into a
   dot-prefixed scratch dir. Then, per table, the driver deletes any
   unpublished leftover `v_<cur+1>`, moves the new files in, hardlinks
   the previous version's buckets the write does not replace, and
   writes the sidecars (`_delta`, `_tombstones`, `_schema.json`,
   `_stats.json`). `_stats.json` records the version's base: a full or
   bucket-partial write is its own base, a delta write carries its
   predecessor's forward, so a reader holding version n can ask
   `delta_since` for what a later version changed on top of it.
2. Publish. Only after every table is staged, each pointer is written
   to a dot-prefixed temp file and moved into place with `os.replace`,
   so a reader sees the old number or the new one, never a torn file.
3. Vacuum. Versions older than the newest `keep_versions` go last.

What a crash (or an exception) leaves behind:
- During stage: no pointer has moved, so every table reads its old
  version. The half-built `v_<cur+1>` dirs are invisible, because
  `versions()` lists only published numbers, and the next commit
  deletes them before it stages again.
- During publish: tables whose pointer moved read the new version, the
  rest the old one. Each table is coherent on its own, and a retried
  sync brings the laggards forward.
- During vacuum: old versions stay on disk until the next vacuum.

The gap that remains: pointers are replaced one table at a time, so
between two replaces (or after a crash mid-publish) a reader can see a
pipeline field's chunks and embeddings at different versions. Closing
it needs a field-level manifest published with a single replace.

At cluster scale the pointer would live in a real table format
(Delta/Iceberg); every caller goes through this module, so swapping
the backend is one file.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)
_warned: set[str] = set()


def _warn_once(key: str, msg: str, *args) -> None:
    """Log a silent-fallback warning the first time `key` fires."""
    if key not in _warned:
        _warned.add(key)
        _log.warning(msg, *args)


def atomic_write(path: str, text: str) -> None:
    """Replace `path`'s content so a concurrent reader sees the old text
    or the new, never a torn file: write a dot-prefixed temp sibling
    (hidden from Spark's file listing and from `versions()`), then
    `os.replace` it into place. Every pointer and JSON sidecar in
    `collections/` is written through here."""
    d, leaf = os.path.split(path)
    tmp = os.path.join(d, f".{leaf}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _read_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return {}


def _link_files(src: str, dst: str) -> None:
    """Hardlink every parquet file of `src` into `dst` (copy where the
    file system refuses links)."""
    os.makedirs(dst, exist_ok=True)
    for fn in os.listdir(src):
        if fn.endswith(".parquet"):
            s, d = os.path.join(src, fn), os.path.join(dst, fn)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def _parquet_files(d: str) -> list[str]:
    """The parquet files directly under `d`, sorted (none if `d` is
    absent). Spark reads of an underscore-prefixed sidecar dir get
    this explicit list: given the dir itself, Spark's listing treats
    the leaf name as hidden and logs `All paths were ignored` on every
    read."""
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, fn) for fn in sorted(os.listdir(d))
            if fn.endswith(".parquet") and not fn.startswith((".", "_"))]


def _concat(tables: list):
    """One pyarrow table from per-file reads (None for no files). Files
    of one dataset can differ in a column's nullability, which the
    default promotion unifies."""
    import pyarrow as pa

    return pa.concat_tables(tables, promote_options="default") if tables else None


def _read_keys(tomb_dir: str) -> set:
    """Driver-side read of a `_tombstones` dir's key set (empty if
    absent)."""
    import pyarrow.parquet as pq

    keys: set = set()
    for f in _parquet_files(tomb_dir):
        keys.update(pq.read_table(f).column("__key").to_pylist())
    return keys


def _filter_keys_not_in(df: DataFrame, kcol, keys) -> DataFrame:
    """`df` minus rows whose key is in `keys`; NULL keys kept (exact
    left_anti parity — NULL never equals any key).

    ONE py4j round-trip regardless of key count: `Column.isin(*keys)`
    creates a py4j Literal PER KEY (~0.5 ms of driver chatter each —
    a 2000-key sync batch × 3 derived tables measured 3.3 s of pure
    py4j inside delta_overwrite_multi, the bulk of the 100k-doc
    incremental-sync wall; SCALE.md round-4 documents the same
    element-wise F.lit cost). Rendering the set into a single parsed
    SQL `IN (...)` string keeps the driver cost O(len) string-build;
    Catalyst converts the parsed In to the same InSet (hash set) past
    10 elements that isin produced, so the executed plan is identical.
    Keys are SQL-quoted for the default parser
    (`spark.sql.parser.escapedStringLiterals=false`): `\\` is doubled
    first, so a key ending in a backslash cannot escape the closing
    quote, then `'` becomes `''`. The temp column binds an arbitrary
    key EXPRESSION (the derived tables key on an expression over
    chunk_id, not a named column) and collapses away."""
    from pyspark.sql import functions as F

    quoted = ",".join(
        "'" + str(k).replace("\\", "\\\\").replace("'", "''") + "'"
        for k in keys
    )
    tmp = "__in_set_key"
    return (
        df.withColumn(tmp, kcol)
        .filter(
            F.col(tmp).isNull() | ~F.expr(f"`{tmp}` IN ({quoted})")
        )
        .drop(tmp)
    )


def _data_files(path: str) -> list[str]:
    """Every parquet data file of a dataset dir, partition subdirs
    (names containing '=') included; underscore- or dot-prefixed
    sidecars (`_delta`, `_tombstones`, `_stats.json`) skipped — the same
    hidden-path rule Spark's file listing applies."""
    paths: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(
            d for d in dirs
            if "=" in d or not (d.startswith("_") or d.startswith("."))
        )
        paths.extend(
            os.path.join(root, fn) for fn in sorted(files)
            if fn.endswith(".parquet") and not fn.startswith((".", "_"))
        )
    return paths


def parquet_dir_stats(
    path: str,
    column: str | None = None,
    null_count_col: str | None = None,
) -> dict:
    """Driver-side parquet-footer census of a written dataset dir:
    total rows, optional max(column) and null-count(column) from the
    files' column statistics. ZERO Spark jobs — on the lifecycle hot
    path every count/max aggregation is otherwise a whole local job
    (~0.2 s of pure scheduling), and the writer just produced footers
    that already carry the numbers.

    Walks partition subdirs (names containing '='), skips sidecar
    stores (underscore/dot-prefixed names without '=': `_delta`,
    `_tombstones`, `_stats.json`) — the same hidden-path rule Spark's
    file listing applies. Returns {"rows", "max", "nulls",
    "stats_ok"}; callers must fall back to a Spark aggregation when
    stats_ok is False (a writer that omitted column statistics)."""
    import pyarrow.parquet as pq

    rows = 0
    mx = None
    nulls = 0
    stats_ok = True
    paths = _data_files(path)
    # footer reads are independent I/O — thread-pool them past a few
    # dozen files so a many-file version dir doesn't serialize the
    # driver (VERDICT r9 next #5; the walk itself stays the fallback —
    # the hot upsert path now carries stats arithmetically)
    if len(paths) > 32:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=8) as pool:
            mds = list(pool.map(pq.read_metadata, paths))
    else:
        mds = [pq.read_metadata(p) for p in paths]
    for md in mds:
        rows += md.num_rows
        if column is None and null_count_col is None:
            continue
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                col = rgm.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if column is not None and name == column:
                    if st is None or not st.has_min_max:
                        if rgm.num_rows:
                            stats_ok = False
                    else:
                        v = st.max
                        mx = v if mx is None else max(mx, v)
                if null_count_col is not None and name == null_count_col:
                    if st is None or not st.has_null_count:
                        stats_ok = False
                    else:
                        nulls += st.null_count
    return {"rows": rows, "max": mx, "nulls": nulls, "stats_ok": stats_ok}


class VersionedTable:
    # partition columns of a version dir's files (none: one flat dir)
    _part_cols: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, path: str, schema: str):
        self.spark = spark
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self.path, "_current")

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"v_{v}")

    # -- zero-job reads: schema sidecars --------------------------------------
    #
    # `spark.read.parquet(path)` runs a schema-INFERENCE Spark job on
    # every fresh path (~0.1-0.3 s of local scheduling; measured — see
    # OPTIMIZATION_r09.md). The writer knows the exact schema it just
    # wrote, so each version write records it in `_schema.json` and
    # readers pass it explicitly — no inference job, no drift risk
    # (the sidecar IS the written schema, not the declared one).

    def _save_schema(self, vdir: str, schema, delta_schema=None) -> None:
        payload = {}
        if schema is not None:
            payload["files"] = schema.json()
        if delta_schema is not None:
            payload["delta"] = delta_schema.json()
        try:
            atomic_write(os.path.join(vdir, "_schema.json"),
                         json.dumps(payload))
        except OSError as e:
            _warn_once(
                "save_schema",
                "schema sidecar not written under %s (%s); reads of such "
                "versions infer the schema and project to the declared one",
                self.path, e,
            )

    def _load_schema(self, vdir: str, key: str = "files"):
        from pyspark.sql import types as T

        try:
            with open(os.path.join(vdir, "_schema.json")) as f:
                payload = json.load(f)
            if key not in payload:
                return None
            return T.StructType.fromJson(json.loads(payload[key]))
        except (OSError, ValueError, KeyError):
            return None

    def _read_files(self, sch, *paths: str):
        """Parquet read of `paths` with the recorded write-time schema
        `sch` (zero-job). Without it: infer, then project to the
        declared columns — files of a multi-table commit carry the
        union schema, whose sibling columns are all NULL here."""
        if sch is not None:
            return self.spark.read.schema(sch).parquet(*paths)
        df = self.spark.read.parquet(*paths)
        keep = set(self.spark.createDataFrame([], self.schema).columns)
        keep.update(self._part_cols)
        return df.select(*[c for c in df.columns if c in keep])

    def _read_version_dir(self, vdir: str):
        return self._read_files(self._load_schema(vdir), vdir)

    def _current_version(self) -> int:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def exists(self) -> bool:
        return self._current_version() > 0

    def read_arrow(self, v: int, columns: list[str], above=None):
        """Driver-side pyarrow read (zero Spark jobs) of version `v`'s
        data files, bucket dirs included, projected to `columns`.
        `above=(column, lo)` keeps only rows with column > lo; pyarrow
        prunes row groups by their footer statistics, so a read of
        freshly assigned ids (which only grow) decodes just the files
        that hold them. Sidecar dirs are not applied: use it on tables
        that are never delta-written (the documents table). Raises
        FileNotFoundError once `v` has been vacuumed."""
        import pyarrow.parquet as pq

        vdir = self._vdir(v)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(vdir)
        filters = None if above is None else [(above[0], ">", above[1])]
        return _concat([
            pq.read_table(f, columns=columns, filters=filters)
            for f in _data_files(vdir)
        ])

    def _read_at(self, v: int) -> DataFrame:
        """Logical content of published version `v`."""
        df = self._read_version_dir(self._vdir(v))
        return df.drop("__bucket") if "__bucket" in df.columns else df

    def read(self) -> DataFrame:
        v = self._current_version()
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        return self._read_at(v)

    def versions(self) -> list[int]:
        """Published version numbers still on disk (ascending). A staged
        dir above the pointer is not a version until it is published."""
        cur = self._current_version()
        out = []
        for name in os.listdir(self.path):
            if name.startswith("v_"):
                try:
                    ver = int(name[2:])
                except ValueError:
                    continue
                if ver <= cur:
                    out.append(ver)
        return sorted(out)

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read of a specific retained version (the Delta
        `VERSION AS OF` analog — each version dir is a full snapshot,
        hardlink-shared with its neighbors in the bucketed subclass, so
        retention costs only the delta). Raises if vacuumed away."""
        if version not in self.versions():
            raise ValueError(
                f"version {version} not retained (have {self.versions()}; "
                f"raise keep_versions on writes to retain more)"
            )
        return self._read_at(version)

    def _frame(self, df: DataFrame) -> DataFrame:
        """Rows as the commit's Spark job writes them."""
        return df

    def overwrite(self, df: DataFrame, keep_versions: int = 2) -> None:
        _commit([(self, df)], keep_versions)

    def vacuum(self, keep_versions: int = 2) -> None:
        """Drop versions older than the newest `keep_versions` (storage
        hygiene — at 100 TB stale versions are real money; keeping one
        prior version preserves reader-in-flight safety for this
        single-writer design)."""
        cur = self._current_version()
        for ver in self.versions():
            if ver <= cur - keep_versions:
                shutil.rmtree(self._vdir(ver), ignore_errors=True)

    def append(self, df: DataFrame) -> None:
        cur = self.read()
        self.overwrite(cur.unionByName(df, allowMissingColumns=True))

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class BucketedVersionedTable(VersionedTable):
    """VersionedTable partitioned by a hash bucket of a key column, with
    partition-granular copy-on-write: a new version physically rewrites
    only the buckets an upsert touches and references every other
    bucket's files from the previous version via hardlink (the same
    unchanged-file reuse a Delta/Iceberg snapshot gets from its log).
    At 100 TB this is the difference between O(batch) and O(table) per
    upsert; swapping the backend for real Delta MERGE stays one file.
    """

    _part_cols = ("__bucket",)

    def __init__(self, spark: SparkSession, path: str, schema: str,
                 key: str = "source_uuid", n_buckets: int = 32):
        super().__init__(spark, path, schema)
        self.key = key
        self.n_buckets = n_buckets

    def _key_col(self):
        """Bucket-key column: `key` is a column name, or a callable
        returning a Column for DERIVED keys (the pipeline's
        embeddings/tsvectors tables bucket by the document id encoded
        in chunk_id, so all derived tables share the chunks table's
        bucket assignment). The expression must cast to string before
        hashing so derived and direct keys bucket identically."""
        from pyspark.sql import functions as F

        if callable(self.key):
            return self.key()
        return F.col(self.key).cast("string")

    def _bucketed(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        if "__bucket" in df.columns:
            return df
        return df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(self._key_col()), F.lit(self.n_buckets)).cast("int"),
        )

    def _frame(self, df: DataFrame) -> DataFrame:
        """Cluster rows by bucket before a partitionBy write: without
        this every shuffle partition writes a sliver into every bucket
        dir (N_partitions × N_buckets tiny files + that many commit
        round-trips — measured 1081 files / 8.8 s for a 5k-doc upsert);
        with it each bucket is one file (32 files / sub-second). At
        cluster scale cap file size with maxRecordsPerFile rather than
        adding partitions."""
        from pyspark.sql import functions as F

        b = self._bucketed(df)
        return b.repartition(self.n_buckets, F.col("__bucket"))

    def bucket_of(self, col):
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64(col.cast("string")), F.lit(self.n_buckets)).cast("int")

    def has_bucketed_current(self) -> bool:
        """True when the current version was written with __bucket
        partitioning — the precondition for partial_overwrite (a flat
        legacy version has no bucket dirs to hardlink, so callers must
        fall back to a full overwrite once to migrate the layout)."""
        v = self._current_version()
        if v == 0:
            return False
        try:
            return any(n.startswith("__bucket=")
                       for n in os.listdir(self._vdir(v)))
        except FileNotFoundError:
            return False

    # -- delta versions (O(changed) incremental writes) ----------------------
    #
    # A delta version carries the previous version's bucket files via
    # hardlink plus two underscore-hidden (invisible to Spark's file
    # listing) small datasets: `_delta` (all live rows whose bucket key
    # was changed since the last full write, COMPACTED each time) and
    # `_tombstones` (the accumulated changed/deleted string keys).
    # Logical content = base minus tombstoned keys, union delta — the
    # deletion-vector pattern Delta Lake formalizes, so a 1%-changed
    # sync writes O(changed) bytes instead of rewriting every touched
    # bucket (with uniformly hashed keys, 1% of docs touches ~every
    # bucket). `_stats.json` records base/tombstone row counts so the
    # caller can trigger compaction (a plain overwrite) before the
    # read-side anti-join grows past its budget.

    def _delta_at(self, vdir: str):
        """The version's `_delta` rows (None if it has none), read with
        the delta schema recorded at write — no inference job."""
        files = _parquet_files(os.path.join(vdir, "_delta"))
        if not files:
            return None
        return self._read_files(self._load_schema(vdir, key="delta"), *files)

    def stats(self, v: int | None = None) -> dict:
        """Version `v`'s `_stats.json` (default: the current version)."""
        if v is None:
            v = self._current_version()
        return _read_json(os.path.join(self._vdir(v), "_stats.json"))

    def write_stats(self, **kw) -> None:
        """Merge `kw` into the current version's `_stats.json`."""
        v = self._current_version()
        if v == 0:
            return
        st = self.stats(v)
        st.update(kw)
        atomic_write(os.path.join(self._vdir(v), "_stats.json"),
                     json.dumps(st))

    def delta_since(self, v: int, base, columns: list[str]):
        """What version `v` changed on top of version `base`, read
        driver-side with pyarrow (zero Spark jobs): (tombstoned keys,
        `_delta` rows projected to `columns`, or None when there are
        none). v's logical content is base's rows minus those whose key
        is tombstoned, plus the delta rows.

        Returns None unless v was written on top of `base`: `_commit`
        records each version's base in `_stats.json` (a full or
        bucket-partial write is its own base, a delta write carries its
        predecessor's forward). None therefore means a full rewrite
        since `base` (resync, compaction) or a version without the
        record, and the caller must re-read the whole table."""
        import pyarrow.parquet as pq

        vdir = self._vdir(v)
        if base is None or self.stats(v).get("base") != base:
            return None
        files = _parquet_files(os.path.join(vdir, "_delta"))
        rows = _concat([pq.read_table(f, columns=columns) for f in files])
        return _read_keys(os.path.join(vdir, "_tombstones")), rows

    # literal-tombstone cutover: below this many keys the read-side
    # anti-join becomes a codegen NOT-IN filter (no broadcast-exchange
    # job per read); above it, the broadcast anti-join amortizes
    _TOMB_LITERAL_MAX = 2048

    def _tomb_filter(self, out: DataFrame, vdir: str):
        """Anti-filter `out` by this version's tombstone keys.

        Tombstones are driver-written (the commit's pyarrow path)
        and bounded by the compaction threshold, so for small sets the
        keys are read back driver-side and applied as a literal
        `isNull() | ~isin(keys)` predicate — pure codegen, zero
        broadcast jobs; the anti-join launched a broadcast-exchange
        job on EVERY read of a delta version (guide §2.4). NULL keys
        are retained, matching left_anti's NULL semantics. Falls back
        to the broadcast anti-join for big tombstone sets or
        stats-free files."""
        from pyspark.sql import functions as F

        tomb_dir = os.path.join(vdir, "_tombstones")
        files = _parquet_files(tomb_dir)
        if not files:
            return out
        keys = None
        try:
            import pyarrow.parquet as pq

            if sum(
                pq.read_metadata(f).num_rows for f in files
            ) <= self._TOMB_LITERAL_MAX:
                keys = _read_keys(tomb_dir)
        except (OSError, ValueError, KeyError) as e:
            _warn_once(
                "tomb_filter",
                "tombstones under %s unreadable driver-side (%s); reads "
                "fall back to the broadcast anti-join",
                tomb_dir, e,
            )
        if keys is not None:
            # NULL tombstone keys are a no-op under left_anti (NULL
            # never equals any key) — drop them rather than crash
            # sorted() with a None (VERDICT r9 next #7)
            keys.discard(None)
            if not keys:
                return out
            return _filter_keys_not_in(out, self._key_col(), sorted(keys))
        tomb = self.spark.read.schema("__key string").parquet(*files)
        return out.join(tomb, self._key_col() == F.col("__key"), "left_anti")

    def _read_at(self, v: int) -> DataFrame:
        """Delta-aware (ADVICE r7): a plain parquet scan of a delta
        version sees only the hardlinked bucket files (underscore-
        prefixed `_delta`/`_tombstones` are invisible to Spark's
        listing), so delta rows would be missing and tombstoned rows
        would resurface. Apply the version's own delta/tombstones."""
        vdir = self._vdir(v)
        out = self._tomb_filter(self._read_version_dir(vdir), vdir)
        delta = self._delta_at(vdir)
        if delta is not None:
            out = out.unionByName(delta.select(*out.columns))
        return out.drop("__bucket") if "__bucket" in out.columns else out

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        """Scan only the requested buckets — partition pruning at file
        listing (PartitionFilters), so an upsert reads O(touched).
        Delta/tombstones apply bucket-filtered (the delta carries
        __bucket for exactly this)."""
        v = self._current_version()
        if v == 0:
            return self.spark.createDataFrame([], self.schema)
        from pyspark.sql import functions as F

        vdir = self._vdir(v)
        bl = [int(b) for b in buckets]
        df = self._read_version_dir(vdir).filter(F.col("__bucket").isin(bl))
        df = self._tomb_filter(df, vdir)
        delta = self._delta_at(vdir)
        if delta is not None:
            df = df.unionByName(
                delta.filter(F.col("__bucket").isin(bl)).select(*df.columns)
            )
        return df.drop("__bucket")

    def _compacted_delta(self, prev: str, new_rows: DataFrame,
                         batch: list[str]) -> DataFrame:
        """The previous version's `_delta` minus rows of this batch's
        keys, union the batch's new rows. Compaction uses the BATCH
        keys only: anti-joining against the accumulated tombstones
        would drop earlier syncs' still-live delta rows (their keys are
        tombstoned for the BASE, not for the delta). Small batches
        compact via a literal NOT-IN filter — no broadcast-exchange
        job per delta write (guide §2.4; same cutover as the read-side
        literal tombstones)."""
        from pyspark.sql import functions as F

        delta = self._bucketed(new_rows)
        old = self._delta_at(prev)
        if old is None:
            return delta
        if batch and len(batch) <= self._TOMB_LITERAL_MAX:
            old = _filter_keys_not_in(old, self._key_col(), batch)
        elif batch:
            keys = self.spark.createDataFrame(
                [(k,) for k in batch], "__key string"
            )
            old = old.join(keys, self._key_col() == F.col("__key"),
                           "left_anti")
        return old.unionByName(delta.select(*old.columns))

    def delta_overwrite(self, new_rows: DataFrame, replaced_keys,
                        keep_versions: int = 2) -> str:
        """New version = every base bucket hardlinked + compacted delta
        + accumulated tombstones. `replaced_keys` is a driver-side
        collection of key values whose base rows are dead (their
        replacement rows, if any, are in `new_rows`). Returns this
        version's _tombstones path."""
        vdir = _commit([(self, new_rows)], keep_versions,
                       replaced_keys=replaced_keys)[0]
        return os.path.join(vdir, "_tombstones")

    def overwrite(self, df: DataFrame, keep_versions: int = 2) -> None:
        # its own attribute (not inherited) so per-class tracing
        # (perfbench/layers.py) can wrap the bucketed entry point
        _commit([(self, df)], keep_versions)

    def partial_overwrite(self, touched_df: DataFrame, touched: list[int],
                          keep_versions: int = 2) -> None:
        """New version = touched buckets from touched_df + every other
        bucket hardlinked from the current version (copy fallback).
        Not composable with delta versions (a bucket rewrite can't see
        which delta rows belong to it) — a table is maintained through
        EITHER partial_overwrite (documents) or delta_overwrite
        (pipeline derived tables), never both."""
        _commit([(self, touched_df)], keep_versions,
                touched={int(b) for b in touched})


def overwrite_multi(
    entries: list[tuple["BucketedVersionedTable", DataFrame]],
    keep_versions: int = 2,
) -> None:
    """Full overwrite of SEVERAL BucketedVersionedTables whose rows
    share one bucket assignment (a pipeline field's chunks/embeddings/
    tsvectors — VERDICT r9 next #3) in ONE Spark job and one publish
    step. Files carry the UNION schema (absent sibling columns
    all-NULL — parquet nulls are ~free); each table's `_schema.json`
    records its own subset, which Spark's reader projects without
    touching sibling columns. Pointers still move one table at a time
    (see the module docstring), so a reader can briefly see the tables
    at different versions."""
    _commit(entries, keep_versions)


def delta_overwrite_multi(
    entries: list[tuple["BucketedVersionedTable", DataFrame]],
    replaced_keys,
    keep_versions: int = 2,
) -> str:
    """Delta write of SEVERAL tables in ONE Spark job (the incremental-
    sync counterpart of overwrite_multi). A field's derived tables
    share one tombstone history: the union of every table's previous
    tombstones and this batch's keys is written once driver-side
    (pyarrow, zero jobs) and hardlinked into each table. Returns the
    first table's _tombstones dir."""
    published = _commit(entries, keep_versions, replaced_keys=replaced_keys)
    return os.path.join(published[0], "_tombstones")


def _commit(entries, keep_versions: int = 2, *, touched: set | None = None,
            replaced_keys=None) -> list[str]:
    """The one versioned write: stage → publish → vacuum (module
    docstring) for every (table, frame) in `entries`. Kind of write:

    - full overwrite: `touched` and `replaced_keys` both None;
    - bucket-partial: `touched` = bucket ids the frames rewrite, every
      other bucket of the previous version is hardlinked;
    - delta: `replaced_keys` = keys whose base rows are dead, every
      previous bucket is hardlinked and the frames become `_delta`.

    Returns the published version dirs, in `entries` order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    delta = replaced_keys is not None
    batch = (sorted({str(k) for k in replaced_keys if k is not None})
             if delta else None)
    plans, frames = [], []
    for tbl, df in entries:
        cur = tbl._current_version()
        prev = tbl._vdir(cur) if cur else None
        if delta:
            if not cur:
                raise ValueError("delta_overwrite needs an existing version")
            # PER-BRANCH coalesce(4), before the union: a union-level
            # coalesce(4) collapsed the WHOLE upstream into 4 tasks
            # (measured 25% slower at the 100k-doc/1% sync); union is
            # NARROW, so each table keeps write width 4 and the one job
            # runs every table's tasks at once, with no shuffle
            # (OPTIMIZATION_r10.md multi-write)
            frame = tbl._compacted_delta(prev, df, batch).coalesce(4)
            schemas = (tbl._load_schema(prev), frame.schema)
        else:
            if touched is not None and prev and os.path.isdir(
                os.path.join(prev, "_delta")
            ):
                raise ValueError(
                    "partial_overwrite on a delta version would drop the "
                    "delta; compact first (overwrite(self.read()))"
                )
            # PER-TABLE clustering, THEN the narrow union: a union-level
            # repartition reduced a 3-table write to n_buckets tasks
            # (full_resync measured 16% slower); per branch, each task
            # holds one (table, bucket) — one file per bucket dir
            frame = tbl._frame(df)
            schemas = (frame.schema, None)
        plans.append((tbl, cur + 1, prev, schemas))
        frames.append(frame)
    tagged = None
    for i, frame in enumerate(frames):
        t = frame.withColumn("__table", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(
            t, allowMissingColumns=True
        )
    first = entries[0][0]
    part_cols = () if delta else first._part_cols
    stage = os.path.join(first.path, f".commit_{uuid.uuid4().hex[:8]}")
    try:
        # 1. stage: one Spark job for every table's new files ...
        tagged.write.mode("overwrite").partitionBy(
            "__table", *part_cols
        ).parquet(stage)
        if delta:
            keys = set(batch)
            for _, _, prev, _ in plans:
                keys |= _read_keys(os.path.join(prev, "_tombstones"))
            keys.discard(None)
            tomb = os.path.join(stage, "_tombstones")
            os.makedirs(tomb)
            pq.write_table(
                pa.table({"__key": pa.array(sorted(keys), pa.string())}),
                os.path.join(tomb, "part-00000.parquet"),
            )
        # ... then each table's next version, built around them
        for i, (tbl, v, prev, (files_schema, delta_schema)) in enumerate(plans):
            out = tbl._vdir(v)
            shutil.rmtree(out, ignore_errors=True)  # unpublished leftover
            dst = os.path.join(out, "_delta") if delta else out
            os.makedirs(dst)
            src = os.path.join(stage, f"__table={i}")
            for name in os.listdir(src) if os.path.isdir(src) else ():
                if name.startswith("__bucket=") or name.endswith(".parquet"):
                    os.rename(os.path.join(src, name),
                              os.path.join(dst, name))
            if prev and (delta or touched is not None):
                for name in os.listdir(prev):
                    if name.startswith("__bucket=") and (
                        delta or int(name.split("=", 1)[1]) not in touched
                    ):
                        _link_files(os.path.join(prev, name),
                                    os.path.join(out, name))
            if delta:
                # the predecessor's stats carry its base forward
                _link_files(tomb, os.path.join(out, "_tombstones"))
                st = _read_json(os.path.join(prev, "_stats.json"))
                st["tomb_rows"] = len(keys)
            else:
                st = {"base": v}
            atomic_write(os.path.join(out, "_stats.json"), json.dumps(st))
            tbl._save_schema(out, files_schema, delta_schema=delta_schema)
        # 2. publish, only once every table is staged
        for tbl, v, _, _ in plans:
            atomic_write(tbl._pointer(), str(v))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    # 3. vacuum
    for tbl, _, _, _ in plans:
        tbl.vacuum(keep_versions)
    return [tbl._vdir(v) for tbl, v, _, _ in plans]


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 4_000_000,
) -> int:
    """Compact an append-only parquet directory (e.g. the streaming
    fingerprint index, which gains one small file per micro-batch) into
    ceil(rows / target_rows_per_file) files. Returns the new file count.

    PARTITION- and SIDECAR-AWARE: a ``key=value``-partitioned store
    (the text/sparse/IVF indexes) compacts each partition directory in
    place — the layout that queries prune on survives — and top-level
    non-parquet sidecars (_stats.json, epoch fences) always carry
    over. A flat dir rewrites to a DOT-PREFIXED sibling temp dir and
    swaps in via two renames. The in-flight dirs are invisible to
    Spark's listing (hidden-path filter), so a concurrent reader of a
    partitioned store can never discover them as phantom partition
    values — it sees each partition's complete old or complete new
    file set, never a mix or a duplicate (pinned by
    tests/test_collections.py::test_compact_partitioned_no_phantoms).
    Between the two renames of one partition a reader may TRANSIENTLY
    miss that partition (POSIX rename can't exchange two dirs
    atomically) — a visible gap, not silent duplication. Not safe
    concurrently with a WRITER (run between micro-batches or from the
    maintenance job that also calls vacuum); at cluster scale the same
    job would be a Delta OPTIMIZE.
    """
    import math

    part_dirs = [
        e
        for e in sorted(os.listdir(path))
        if "=" in e and os.path.isdir(os.path.join(path, e))
    ]
    if part_dirs:
        total = 0
        for d in part_dirs:
            total += compact_parquet_dir(
                spark, os.path.join(path, d), target_rows_per_file
            )
        return total

    df = spark.read.parquet(path)
    rows = df.count()
    n_files = max(1, math.ceil(rows / target_rows_per_file))
    # Dot-prefixed siblings: Spark's hidden-path filter skips any
    # listing entry starting with '.'/'_', so a concurrent reader of a
    # PARTITIONED store never discovers the in-flight dirs as phantom
    # `key=value...` partition values during the swap window (a
    # `key=value.compact_tmp` sibling WOULD be picked up — the '='
    # makes it parse as a partition; ADVICE r2 #1).
    parent, leaf = os.path.split(path.rstrip("/"))
    tmp = os.path.join(parent, f".compact_tmp.{leaf}")
    old = os.path.join(parent, f".compact_old.{leaf}")
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    # sidecars (stats, fences) are part of the store, not of any one
    # parquet file set — they must survive the rewrite
    for fn in os.listdir(path):
        fp = os.path.join(path, fn)
        if os.path.isfile(fp) and not fn.endswith(".parquet") and not fn.startswith(("_SUCCESS", ".")):
            shutil.copy2(fp, os.path.join(tmp, fn))
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def merge_into(
    table: BucketedVersionedTable,
    source: DataFrame,
    key: str,
    when_matched: str = "replace",
    keep_versions: int = 2,
) -> list[int]:
    """Delta-MERGE-shaped upsert on a bucketed store: rows whose key
    matches are replaced by (or kept against, ``when_matched='ignore'``)
    the source row; unmatched source rows insert. Returns the touched
    bucket ids.

    Scale contract: the source's keys hash to a set of buckets; ONLY
    those buckets are read (pruned scan) and rewritten — O(batch), not
    O(table) — and every other bucket's files carry into the new
    version as hardlinks. The combine itself is one anti-join + union
    co-partitioned on the key. This is the general form of the
    collection upsert's tail (collection.rs:538-640's ON CONFLICT),
    exposed for any keyed table.
    """
    if when_matched not in ("replace", "ignore"):
        raise ValueError(f"when_matched must be replace|ignore, got {when_matched!r}")
    # Persist the (deduped, bucketed) source ONCE: the touched-bucket
    # listing is an action, and without the persist the entire source
    # lineage (often a scan+aggregate) re-executes inside the merge
    # write — measured 2x the refresh cost on q99's rollup source.
    # O(batch) executor memory/disk, never O(table).
    srcb = table._bucketed(source.dropDuplicates([key])).persist()
    try:
        touched = [
            int(r["__bucket"])
            for r in srcb.select("__bucket").distinct().collect()
        ]
        src = srcb.drop("__bucket")
        cur = table.read_buckets(touched)
        if when_matched == "replace":
            kept_cur = cur.join(src.select(key), key, "left_anti")
            merged = kept_cur.unionByName(src)
        else:
            new_src = src.join(cur.select(key), key, "left_anti")
            merged = cur.unionByName(new_src)
        table.partial_overwrite(merged, touched, keep_versions=keep_versions)
    finally:
        srcb.unpersist()
    return sorted(touched)


def table_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    key: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Reconcile two table snapshots (e.g. two retained versions via
    `read_version`): one row per changed key with change ∈
    {added, removed, changed}. Unchanged keys are filtered INSIDE the
    join output before anything else materializes, so the result is
    O(delta) even when both snapshots are 100 TB — and the full-outer
    join co-partitions both sides on the key (one shuffle each).

    Row identity = md5 of the concatenated compare columns (default:
    every non-key column present on both sides, sorted by name).
    """
    from pyspark.sql import functions as F

    if compare_cols is None:
        compare_cols = sorted(
            (set(old_df.columns) & set(new_df.columns)) - {key}
        )

    def fp(df):
        return df.select(
            F.col(key),
            F.md5(
                F.concat_ws(
                    "\x1f", *[F.col(c).cast("string") for c in compare_cols]
                )
            ).alias("__fp"),
        )

    o, n = fp(old_df).alias("o"), fp(new_df).alias("n")
    j = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    return j.select(
        F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
        F.when(F.col(f"o.{key}").isNull(), "added")
        .when(F.col(f"n.{key}").isNull(), "removed")
        .when(F.col("o.__fp") != F.col("n.__fp"), "changed")
        .alias("change"),
    ).filter(F.col("change").isNotNull())
