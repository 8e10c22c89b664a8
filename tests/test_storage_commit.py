"""The storage commit protocol (collections/storage.py `_commit`):
stage → atomic publish → vacuum. A failure at any step of a commit
leaves every table readable, and a retried sync lands exactly the rows
of a run without the failure; pointer readers never see a torn file;
sibling tables share one tombstone union; a missing schema sidecar
reads back the declared columns only."""

import json
import logging
import os
import subprocess
import sys
import time

import pytest

from postgresml_spark.collections import Collection, Pipeline, storage

_TABLES = ("text_chunks", "text_embeddings", "text_tsvectors")
# the file-system steps of a commit (an os.link failure is not one:
# it falls back to a copy by design)
_FS_STEPS = ("makedirs", "rename", "replace")


class _Steps:
    """Counts the file-system primitives a commit calls while `armed`
    and raises OSError at call number `fail_at` (0-based)."""

    def __init__(self, monkeypatch):
        self.n = 0
        self.armed = False
        self.fail_at = None
        for name in _FS_STEPS:
            monkeypatch.setattr(os, name, self._wrap(getattr(os, name)))

    def _wrap(self, real):
        def step(*args, **kwargs):
            if self.armed:
                k = self.n
                self.n += 1
                if k == self.fail_at:
                    raise OSError(f"injected failure at commit step {k}")
            return real(*args, **kwargs)

        return step

    def arm_during(self, monkeypatch, owner, attr, root=""):
        """Arm while `owner.attr` commits tables under `root`."""
        real = getattr(owner, attr)

        def armed(entries, *args, **kwargs):
            if not entries[0][0].path.startswith(root):
                return real(entries, *args, **kwargs)
            self.armed = True
            try:
                return real(entries, *args, **kwargs)
            finally:
                self.armed = False

        monkeypatch.setattr(owner, attr, armed)

    def reset(self, fail_at=None):
        self.n, self.fail_at = 0, fail_at


def _pipeline(name="p"):
    return Pipeline(name, {"text": {
        "semantic_search": {"model": "hash:8"},
        "full_text_search": {"configuration": "english"},
    }})


def _field(spark, tmp_path, name, n_docs=2):
    coll = Collection(name, spark, warehouse=str(tmp_path))
    pipe = _pipeline()
    coll.upsert_documents(
        [{"id": i, "text": f"alpha beta doc {i}"} for i in range(n_docs)]
    )
    coll.add_pipeline(pipe)
    return coll, pipe


def _rows(pipe):
    """Each derived table's rows as a sorted list (arrays as tuples)."""
    def freeze(v):
        return tuple(v) if isinstance(v, list) else v

    return {
        name: sorted(
            tuple(freeze(v) for v in r) for r in pipe.table(name).collect()
        )
        for name in _TABLES
    }


def _assert_readable(pipe, k):
    for name in _TABLES:
        try:
            pipe.table(name).collect()
        except Exception as e:
            pytest.fail(f"step {k}: {name}.read() raised {e!r}")


def test_full_commit_recovers_from_failure_at_every_step(
    spark, tmp_path, monkeypatch
):
    """resync() is one three-table full commit. Fail it at every step:
    each table still reads, and the retried resync lands exactly the
    clean run's rows (no stale bucket dir wedges the next attempt)."""
    _, pipe = _field(spark, tmp_path, "fc")
    steps = _Steps(monkeypatch)
    steps.arm_during(monkeypatch, storage, "overwrite_multi")
    steps.reset()
    pipe.resync()  # the clean run: reference rows and the step count
    want, n_steps = _rows(pipe), steps.n
    assert n_steps >= 2 * len(_TABLES)
    failed = 0
    for k in range(n_steps):
        steps.reset(fail_at=k)
        try:
            pipe.resync()
        except OSError:
            failed += 1
            steps.reset()
            _assert_readable(pipe, k)
            pipe.resync()
        assert _rows(pipe) == want, f"step {k}"
    # a failed schema-sidecar write only warns, so not every step raises
    assert failed >= n_steps // 2, (failed, n_steps)


def test_incremental_commit_recovers_from_failure_at_every_step(
    spark, tmp_path, monkeypatch
):
    """An upsert auto-syncs through one three-table delta commit. Fail
    it at every step: each table still reads, and the retried sync
    gives exactly the rows of a twin pipeline on the same collection
    that never failed (no leftover `_delta` files duplicate rows)."""
    coll, pipe = _field(spark, tmp_path, "ic")
    twin = _pipeline("twin")
    coll.add_pipeline(twin)  # syncs after `pipe` on every upsert
    steps = _Steps(monkeypatch)
    steps.arm_during(monkeypatch, storage, "delta_overwrite_multi",
                     root=pipe._root + os.sep)

    def change(i):
        return [{"id": 0, "text": f"gamma changed {i}"}]

    steps.reset()
    coll.upsert_documents(change(-1))
    n_steps = steps.n
    assert _rows(pipe) == _rows(twin)
    assert n_steps >= 2 * len(_TABLES)
    failed = 0
    for k in range(n_steps):
        steps.reset(fail_at=k)
        try:
            coll.upsert_documents(change(k))
        except OSError:
            failed += 1
            steps.reset()
            _assert_readable(pipe, k)
            pipe.sync()
            twin.sync()
        assert _rows(pipe) == _rows(twin), f"step {k}"
    assert failed >= n_steps // 2, (failed, n_steps)


_READER = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from postgresml_spark.collections.storage import VersionedTable
t = VersionedTable(None, sys.argv[2], "x long")
open(sys.argv[3] + ".ready", "w").close()
reads = errors = backwards = last = 0
while not os.path.exists(sys.argv[3]):
    try:
        v = t._current_version()
    except Exception:
        errors += 1
        continue
    reads += 1
    backwards += v < last
    last = max(last, v)
print(json.dumps({"reads": reads, "errors": errors,
                  "backwards": backwards, "last": last}))
"""


def test_pointer_reads_never_torn_under_concurrent_commits(spark, tmp_path):
    """A reader process polls `_current_version()` while the writer
    commits repeatedly: zero exceptions, and versions only go up."""
    path, stop = str(tmp_path / "vt"), str(tmp_path / "stop")
    t = storage.VersionedTable(spark, path, "x long")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    reader = subprocess.Popen(
        [sys.executable, "-c", _READER, repo, path, stop],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        deadline = time.time() + 60
        while not os.path.exists(stop + ".ready"):
            assert reader.poll() is None and time.time() < deadline
            time.sleep(0.05)
        n_commits = 30
        for _ in range(n_commits):
            t.overwrite(spark.range(1).toDF("x"))
    finally:
        open(stop, "w").close()
        out, _ = reader.communicate(timeout=60)
    got = json.loads(out)
    assert got["errors"] == 0, got
    assert got["backwards"] == 0, got
    assert got["reads"] > 0 and got["last"] == n_commits, got


def test_staged_version_is_invisible_and_replaced(spark, tmp_path):
    """An unpublished `v_<cur+1>` left by a failed commit is not a
    version: time travel cannot open it, and the next commit deletes
    it before staging (its stray files never reach a read)."""
    import shutil

    t = storage.VersionedTable(spark, str(tmp_path / "vt"), "id long")
    t.overwrite(spark.createDataFrame([(1,)], t.schema), keep_versions=3)
    t.overwrite(spark.createDataFrame([(2,)], t.schema), keep_versions=3)
    v2, v3 = (os.path.join(t.path, f"v_{v}") for v in (2, 3))
    shutil.copytree(v2, v3)  # a staged, unpublished v_3
    assert t.versions() == [1, 2]
    with pytest.raises(ValueError, match="not retained"):
        t.read_version(3)
    t.overwrite(spark.createDataFrame([(3,)], t.schema), keep_versions=3)
    assert t.versions() == [1, 2, 3]
    assert [r["id"] for r in t.read().collect()] == [3]


def test_delta_tombstones_union_every_sibling(spark, tmp_path):
    """A multi-table delta write tombstones the union of EVERY table's
    previous tombstones: a key one sibling had already deleted must not
    come back in that sibling."""
    from pyspark.sql import functions as F

    schema = "id long, k string"

    def table(name):
        t = storage.BucketedVersionedTable(
            spark, str(tmp_path / name), schema, key="k", n_buckets=4
        )
        t.overwrite(spark.createDataFrame(
            [(i, f"k{i}") for i in range(6)], schema
        ))
        return t

    a, b = table("a"), table("b")
    b.delta_overwrite(spark.createDataFrame([], schema), ["k1"])  # delete k1
    storage.delta_overwrite_multi(
        [(a, spark.createDataFrame([(20, "k2")], schema)),
         (b, spark.createDataFrame([(30, "k2")], schema))],
        ["k2"],
    )
    assert b.read().filter(F.col("k") == "k1").count() == 0
    assert sorted(r["id"] for r in b.read().collect()) == [0, 3, 4, 5, 30]
    assert a.read().filter(F.col("k") == "k2").collect()[0]["id"] == 20


def test_missing_schema_sidecar_projects_to_declared_columns(
    spark, tmp_path, monkeypatch, caplog
):
    """Files of a multi-table commit carry the union schema. Without
    `_schema.json` a read projects to the table's declared columns
    instead of returning all-NULL sibling columns; a failed sidecar
    write warns once instead of passing silently."""
    _, pipe = _field(spark, tmp_path, "sc")
    want = {n: pipe.table(n).count() for n in _TABLES}
    for name in _TABLES:
        t = pipe._tables[name]
        os.remove(os.path.join(t._vdir(t._current_version()), "_schema.json"))
    assert pipe.table("text_chunks").columns == [
        "chunk_id", "document_id", "chunk_index", "chunk"
    ]
    assert pipe.table("text_embeddings").columns == ["chunk_id", "embedding"]
    assert pipe.table("text_tsvectors").columns == ["chunk_id", "tokens"]
    assert {n: pipe.table(n).count() for n in _TABLES} == want

    real = storage.atomic_write

    def no_schema(path, text):
        if path.endswith("_schema.json"):
            raise OSError("disk full")
        real(path, text)

    monkeypatch.setattr(storage, "atomic_write", no_schema)
    monkeypatch.setattr(storage, "_warned", set())
    with caplog.at_level(logging.WARNING, logger=storage.__name__):
        pipe.resync()
        pipe.resync()
    warned = [r for r in caplog.records if "schema sidecar" in r.getMessage()]
    assert len(warned) == 1
    assert pipe.table("text_embeddings").columns == ["chunk_id", "embedding"]
    assert {n: pipe.table(n).count() for n in _TABLES} == want
