"""Served ANN tier for SDK vector search (VERDICT r2 next-steps #3).

The reference's `vector_search` latency (18-31 ms, BASELINE.md) is
measured against a pgvector index RESIDENT in Postgres shared memory —
the per-field `semantic_search.hnsw {m, ef_construction}` block of the
pipeline schema (pgml-sdks/pgml/src/pipeline.rs:61-94) becomes an
`CREATE INDEX ... USING hnsw (embedding vector_cosine_ops)` DDL at
sync time (queries.rs:117-119), and queries run
`ORDER BY embedding <=> $1 LIMIT k` against that index.

The Spark-first analog splits roles the same way the reference splits
Postgres-the-store from pgvector-the-index:

- Spark BUILDS: the embeddings/chunks/documents tables are synced
  distributed (pipeline.sync), and one Arrow hop materializes the
  serving shard — the same bytes any index build reads, paid once per
  sync, never per query.
- The serving process HOLDS: a ResidentHNSW graph over chunk
  embeddings (operators/similarity.py) plus the chunk→document payload
  maps, versioned against the underlying VersionedTables so a sync
  reaches the index exactly like the reference's index stays
  consistent under trigger-maintained inserts.
- Queries NEVER launch a Spark job: client-side query embed → beam
  search (~ef·log n candidate gathers) → float64 exact re-score of the
  candidates (so served scores agree with the exact DataFrame path to
  well past the 6-decimal oracle rounding) → top-k.

Measured (local[32]): build ≈1.1 ms/vector — the Python HNSW insert
loop, 8 s at sf0.1/5k chunks, 57 s at sf1/50k (linear; pgvector's
HNSW build is likewise the slow half and parallelizes by sharding);
serve ≈1.8-3.6 ms/query at those sizes (beam is sublinear, so the
per-query number barely moves with corpus growth).

Refresh (ServedPipelineIndex.refresh) applies each sync's committed
delta in the driver, with no Spark job: the derived tables' delta
versions hold tombstoned document keys plus the re-derived rows, so
the resident arrays drop the rows of tombstoned documents, append the
new rows, and read the payloads of new document ids straight from the
documents table's parquet files. The HNSW graph takes removals as
soft deletes — a removed node still routes, is never returned — the
way pgvector's HNSW keeps dead tuples until VACUUM. Storage compaction
plays VACUUM's role: the pipeline's compaction rule (and resync())
rewrites the derived tables in full, which moves their base version,
and that is the one case in which the index is rebuilt. ivfflat has
no in-place insert; its IVF structure is rebuilt lazily from the
resident arrays, driver-side.

Memory honesty at 100 TB: a serving host holds its shard —
d×(4+8) B/vector (float32 graph matrix + float64 re-score copy) plus
~M·8 B/node of links plus the chunk/document payload maps. Corpora
past one host shard by IVF centroid or document hash range across
serving processes (the ResidentANN/ResidentHNSW docstrings carry the
same budget math); the Spark build side is already partition-parallel.

Exactness contract: HNSW is approximate by nature — recall@10 >= 0.95
is asserted in tests (tests/test_serving_index.py) and the oracle-gated
queries (q51/q53/q54) keep using the exact DataFrame path. The served
path is what `collection.vector_search(..., method="index")` and the
steady-state bench metric use.
"""

from __future__ import annotations

import json

import numpy as np

__all__ = [
    "ServedPipelineIndex",
    "ServedTextIndex",
    "ShardedPipelineIndex",
    "ShardedTextIndex",
]


class ServedPipelineIndex:
    """Resident ANN (HNSW or ivfflat per schema) + payload maps for one
    (pipeline, field)."""

    def __init__(self, collection, pipeline, field: str,
                 shard: tuple[int, int] | None = None):
        cfg = pipeline.schema.get(field, {})
        if "semantic_search" not in cfg:
            # same named error the exact path raises (_scored_chunks) —
            # the default method="auto" routes here first, so the
            # user-facing message must not depend on the route taken
            raise ValueError(
                f"field {field!r} has no semantic_search in pipeline "
                f"{pipeline.name!r}; configured fields: {sorted(pipeline.schema)}"
            )
        kind, params = pipeline.index_config(field)
        self.collection = collection
        self.pipeline = pipeline
        self.field = field
        self.shard = shard  # (shard_id, n_shards) doc-hash slice, or None
        self._embed = lambda q: pipeline.embed_query(q, field)
        self.version_token = self._version_token()

        from pyspark.sql import functions as F

        emb = pipeline.table(f"{field}_embeddings")
        chunks = pipeline.table(f"{field}_chunks").select(
            "chunk_id", "document_id", "chunk"
        )
        docs = collection.documents.read().select(
            "id", "document"
        )
        if shard is not None:
            # DOC-granular hash sharding (a document's chunks colocate,
            # so per-doc best-chunk reductions never cross shards). The
            # filter sits in the SPARK plan — a serving host pulls only
            # its shard's bytes through Arrow, which is what makes N
            # hosts hold N× the corpus (ShardedPipelineIndex docstring
            # carries the capacity arithmetic).
            i, n = shard
            chunks = chunks.filter(
                F.pmod(F.xxhash64(F.col("document_id")), F.lit(n)) == i
            )
            docs = docs.filter(
                F.pmod(F.xxhash64(F.col("id")), F.lit(n)) == i
            )
        # ONE Arrow hop per build: embeddings ⋈ chunks (executor-side
        # join, then columnar transfer). Document payloads ride a
        # second small frame keyed by id.
        pdf = emb.join(chunks, "chunk_id").toPandas()
        ddf = docs.toPandas()

        self.chunk_ids = pdf["chunk_id"].to_numpy()
        self.doc_ids = pdf["document_id"].to_numpy()
        self.chunks = pdf["chunk"].tolist()
        self.mat64 = (
            np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            if len(pdf)
            else np.zeros((0, 1))
        )
        self.norms64 = np.linalg.norm(self.mat64, axis=1)
        self.doc_json = dict(zip(ddf["id"].tolist(), ddf["document"].tolist()))
        self.row_of = {int(c): i for i, c in enumerate(self.chunk_ids)}
        # what refresh() applies deltas on top of: each derived table's
        # base version, and the highest document id already read
        # (ids only grow, so later documents are exactly those above it)
        ver = dict(self.version_token)
        self._bases = {
            name: pipeline._tables[name].stats(ver[name]).get("base")
            for name in self._delta_tables()
        }
        doc_max = collection.documents.stats(ver["documents"]).get("max_id")
        self._doc_hi = int(
            doc_max if doc_max is not None
            else max(self.doc_json, default=0)
        )
        # bumped by every refresh that changes the resident rows:
        # caches derived from the row order key on it
        self._generation = 0

        # ANN structure built LAZILY on first search: hybrid serving
        # only needs the matrix (full matvec), so a hybrid-only
        # deployment never pays the HNSW insert loop or the IVF fit
        # (measured ~6 s at 5k chunks — q177 dropped 8.6 s → 3.4 s).
        # kind follows the schema: "hnsw" (reference default) or
        # "ivfflat" (pgvector's other index — centroid-pruned probes,
        # cheap build, linear-in-probed-lists search).
        self.kind = kind
        self._params = params
        # routing eligibility: a declared-DEFAULT hnsw ({} — the
        # reference's HNSW::default) may be routed to ivfflat on
        # clustered corpora; explicit m/ef_construction pins hnsw
        _hcfg = (pipeline.schema.get(field, {}).get("semantic_search") or {}).get(
            "hnsw"
        )
        self._hnsw_pinned = bool(_hcfg)
        self.routed_fraction: float | None = None
        if self.kind == "hnsw" and len(self.mat64):
            # ROUTE EAGERLY (ADVICE r5: the lazy route mutated
            # self.kind as a property side effect, so code branching
            # on kind before the first search saw a different answer
            # than after). The probe is one sample gram matrix
            # (~0.5 s at 2048×1024), paid once per build — declaration
            # time is where pgvector decides an index too.
            from postgresml_spark.operators.similarity import (
                clustered_fraction,
                warn_if_pinned_hnsw_clustered,
            )

            frac = clustered_fraction(self.mat64)
            self.routed_fraction = frac
            if self._hnsw_pinned:
                # pinned configs are respected but guarded (VERDICT r5
                # next #6): surface the measured recall risk + the
                # ivfflat alternative instead of silently serving
                # sub-0.8 recall on twin-heavy corpora
                warn_if_pinned_hnsw_clustered(
                    frac,
                    where=f"pipeline {pipeline.name!r} field {field!r}",
                    params=params,
                )
            elif frac >= 0.3:
                import logging

                logging.getLogger(__name__).info(
                    "served index %s.%s: declared-default hnsw routed "
                    "to ivfflat (clustered_fraction=%.2f >= 0.3)",
                    pipeline.name, field, frac,
                )
                self.kind = "ivfflat"
                self._params = {"lists": 100, "probes": 4}
        self._hnsw = None
        # monotonic ANN build counter: caches derived from the ANN's
        # internal row order (_ann_doc_cache, ann_mask) key on THIS,
        # not id(idx) — CPython reuses freed addresses, so an id()
        # key can validate a stale cache after refresh() rebuilds the
        # index (ADVICE r8 #1)
        self._ann_build = 0
        self._doc_meta = None  # lazily-parsed metadata for filtered serving
        self._doc_grp = None  # ((perm, starts, uniq, n_rows), generation)
        # filter-JSON -> {doc_ids, mask} bitmap cache (the partial-index
        # analog); invalidated wholesale on refresh()
        self._filter_cache: dict[str, dict] = {}

    @classmethod
    def from_arrays(
        cls,
        chunk_ids,
        doc_ids,
        mat,
        embed,
        doc_json: dict | None = None,
        chunks: list | None = None,
        kind: str = "ivfflat",
        params: dict | None = None,
    ) -> "ServedPipelineIndex":
        """Build a resident index directly from arrays — no Spark
        lifecycle. Used by scale tooling (tools/
        hybrid_candidate_agreement.py measures candidate-vs-exact
        agreement at 100k/1M chunks, where driving 1M documents through
        the SDK sync isn't the thing being measured) and by tests that
        need a resident tier without a warehouse. ``embed`` is the
        query-embedding callable (the pipeline.embed_query analog).
        No version tokens: refresh()/is_stale() are not supported on an
        array-built index."""
        self = cls.__new__(cls)
        self.collection = None
        self.pipeline = None
        self.field = "_arrays_"
        self.shard = None
        self._embed = embed
        self.version_token = ()
        self.chunk_ids = np.asarray(chunk_ids)
        self.doc_ids = np.asarray(doc_ids)
        self.chunks = (
            list(chunks) if chunks is not None
            else [""] * len(self.chunk_ids)
        )
        self.mat64 = np.asarray(mat, dtype=np.float64)
        self.norms64 = np.linalg.norm(self.mat64, axis=1)
        self.doc_json = doc_json or {
            int(d): "{}" for d in np.unique(self.doc_ids)
        }
        self.row_of = {int(c): i for i, c in enumerate(self.chunk_ids)}
        self._generation = 0
        self.kind = kind
        self._params = params or (
            {"lists": 100, "probes": 4} if kind == "ivfflat"
            else {"m": 16, "ef_construction": 64}
        )
        self._hnsw_pinned = True  # caller chose; never reroute
        self.routed_fraction = None
        self._hnsw = None
        self._ann_build = 0
        self._doc_meta = None
        self._doc_grp = None
        self._filter_cache = {}
        return self

    @property
    def hnsw(self):
        """Lazily-BUILT resident ANN — the index KIND is already
        decided (eagerly, in __init__), so reading .kind is stable
        across the index lifetime; only the build cost is deferred."""
        if self._hnsw is None:
            if self.kind == "ivfflat":
                from postgresml_spark.operators.similarity import ResidentANN

                self._hnsw = ResidentANN(
                    (self.chunk_ids, self.mat64.astype(np.float32)),
                    nlist=min(self._params["lists"],
                              max(1, len(self.chunk_ids) // 4)),
                    nprobe=self._params["probes"],
                )
            else:
                from postgresml_spark.operators.similarity import ResidentHNSW

                self._hnsw = ResidentHNSW(
                    (self.chunk_ids, self.mat64.astype(np.float32)),
                    m=self._params["m"],
                    ef_construction=self._params["ef_construction"],
                )
            self._ann_build += 1  # new row order: invalidate derived caches
        return self._hnsw

    # -- staleness ---------------------------------------------------------

    def _version_token(self):
        toks = [
            ("documents", self.collection.documents._current_version())
        ]
        for name, tbl in sorted(self.pipeline._tables.items()):
            if name.startswith(self.field + "_"):
                toks.append((name, tbl._current_version()))
        return tuple(toks)

    def is_stale(self) -> bool:
        return self._version_token() != self.version_token

    def _delta_tables(self) -> tuple[str, str]:
        return f"{self.field}_chunks", f"{self.field}_embeddings"

    def refresh(self) -> "ServedPipelineIndex":
        """Catch up with a sync by applying its committed delta to the
        resident state — the pgvector analog is the live index taking
        the new tuples in as they are inserted (queries.rs:117-119).
        No Spark job runs on an unsharded index. Returns self, or a
        fresh index where a rebuild is needed.

        Protocol, per changed version token:
        1. Read what the chunks and embeddings tables hold on top of
           the base versions this index was built from
           (`BucketedVersionedTable.delta_since`: tombstoned doc keys
           plus `_delta` rows, read with pyarrow).
        2. Drop resident rows whose doc key is tombstoned and whose
           chunk id is not in the delta (upserts re-id documents, so a
           changed document is one removed id and one added id);
           append delta rows not yet resident.
        3. The HNSW graph takes removals as soft deletes
           (`ResidentHNSW.remove`: the node keeps routing, is never
           returned) and new rows through `ResidentHNSW.add`. An
           ivfflat index is dropped and rebuilt lazily from the
           resident arrays on the next search, driver-side only.
        4. Payloads: documents above the highest id already read come
           from the current documents version (pyarrow; the id footer
           statistics skip the files an upsert did not write);
           tombstoned documents that no longer have chunks leave the
           payload map once the documents table confirms them gone.

        Dead graph nodes pile up only until storage compacts. The
        pipeline's compaction rule (and `resync()`) rewrites the
        derived tables in full — pgvector's VACUUM plays that role —
        and a full rewrite moves the base, which is the one case that
        rebuilds here. A reader caught between the chunks and the
        embeddings pointer replace (their deltas disagree) keeps
        serving its old state and retries on the next call.

        A sharded index (``shard`` set) evaluates its doc-hash filter
        on the new documents with one small Spark select, so that
        membership matches the build plan's hash exactly."""
        token = self._version_token()
        if token == self.version_token:
            return self
        ver = dict(token)
        names = self._delta_tables()
        tables = [self.pipeline._tables[n] for n in names]
        cols = (["chunk_id", "document_id", "chunk"], ["chunk_id", "embedding"])
        deltas = [
            t.delta_since(ver[n], self._bases[n], c)
            for t, n, c in zip(tables, names, cols)
        ]
        if deltas[0] is None and deltas[1] is None:  # the base moved
            return ServedPipelineIndex(self.collection, self.pipeline,
                                       self.field, shard=self.shard)
        if None in deltas:
            return self  # between two pointer replaces: retry next call
        (tomb, crows), (etomb, erows) = deltas
        c_ids = _int_col(crows, "chunk_id")
        if tomb != etomb or not np.array_equal(
            np.sort(c_ids), np.sort(_int_col(erows, "chunk_id"))
        ):
            return self  # the tables are at different versions: retry
        tomb_ids = np.fromiter((int(k) for k in tomb), dtype=np.int64,
                               count=len(tomb))
        c_docs = _int_col(crows, "document_id")
        gone = np.isin(self.doc_ids, tomb_ids) & ~np.isin(self.chunk_ids, c_ids)
        fresh = np.flatnonzero(~np.isin(c_ids, self.chunk_ids))
        # tombstoned documents with no chunk on either side: only the
        # documents table tells whether they still exist
        chunkless = [
            d for d in tomb_ids[~np.isin(tomb_ids, self.doc_ids)
                                & ~np.isin(tomb_ids, c_docs)].tolist()
            if d in self.doc_json
        ]
        docs = self.collection.documents
        try:
            new_docs = docs.read_arrow(ver["documents"], ["id", "document"],
                                       above=("id", self._doc_hi))
            live = (_int_col(docs.read_arrow(ver["documents"], ["id"]), "id")
                    if chunkless else None)
        except OSError:  # documents version vacuumed under us: retry
            return self
        nd_ids = _int_col(new_docs, "id")
        if self.shard is not None:
            own = self._owned(np.concatenate([c_docs[fresh], nd_ids]))
            fresh = fresh[np.isin(c_docs[fresh], own)]
            nd_keep = np.isin(nd_ids, own)
        else:
            nd_keep = np.ones(len(nd_ids), dtype=bool)

        # payload map: drop documents whose chunks are gone, and the
        # chunkless ones the documents table no longer holds
        dead_docs = set(self.doc_ids[gone].tolist())
        if chunkless:
            dead_docs.update(
                np.asarray(chunkless)[~np.isin(chunkless, live)].tolist()
            )
        for d in dead_docs:
            self.doc_json.pop(d, None)
        if len(nd_ids):
            self.doc_json.update(
                (d, payload) for d, payload, k in zip(
                    nd_ids.tolist(),
                    new_docs.column("document").to_pylist(),
                    nd_keep,
                ) if k
            )
            self._doc_hi = max(self._doc_hi, int(nd_ids.max()))

        if gone.any() or fresh.size:
            self._apply_rows(gone, crows, erows, fresh)
        self._doc_meta = None  # parsed-metadata cache follows the payload map
        self._filter_cache = {}  # bitmaps are stale: docs/metadata moved
        self.version_token = token
        return self

    def _owned(self, doc_ids: np.ndarray) -> np.ndarray:
        """The subset of `doc_ids` this shard holds: the build plan's
        pmod(xxhash64(id), n) == i, evaluated by Spark so the hash is
        bit-identical (one small job)."""
        from pyspark.sql import functions as F

        if not len(doc_ids):
            return doc_ids
        i, n = self.shard
        rows = (
            self.collection.spark.createDataFrame(
                [(int(d),) for d in np.unique(doc_ids)], "id long"
            )
            .filter(F.pmod(F.xxhash64(F.col("id")), F.lit(n)) == i)
            .collect()
        )
        return np.asarray([r["id"] for r in rows], dtype=np.int64)

    def _apply_rows(self, gone, crows, erows, fresh) -> None:
        """Remove the `gone` resident rows and append the chunks-delta
        rows at positions `fresh` (vectors joined from the embeddings
        delta by chunk id)."""
        keep = ~gone
        new_ids = _int_col(crows, "chunk_id")[fresh]
        new_mat = np.zeros((0, self.mat64.shape[1]))
        new_chunks: list = []
        if len(new_ids):
            e_pos = {c: i for i, c in
                     enumerate(_int_col(erows, "chunk_id").tolist())}
            vecs = erows.column("embedding").take(
                [e_pos[c] for c in new_ids.tolist()]
            ).combine_chunks()
            new_mat = np.asarray(
                vecs.flatten().to_numpy(), dtype=np.float64
            ).reshape(len(new_ids), -1)
            new_chunks = crows.column("chunk").take(fresh).to_pylist()
        if self._hnsw is not None and self.kind == "hnsw":
            # live graph: soft deletes + O(batch) inserts
            if gone.any():
                self._hnsw.remove(self.chunk_ids[gone])
            if len(new_ids):
                self._hnsw.add(new_ids, new_mat.astype(np.float32))
        else:
            # ivfflat (no in-place insert) or still-lazy: next search
            # rebuilds from the resident arrays — driver-side only
            self._hnsw = None
        self.chunk_ids = np.concatenate([self.chunk_ids[keep], new_ids])
        self.doc_ids = np.concatenate(
            [self.doc_ids[keep], _int_col(crows, "document_id")[fresh]]
        )
        self.chunks = [c for c, k in zip(self.chunks, keep) if k] + new_chunks
        old = self.mat64[keep]
        self.mat64 = np.concatenate([old, new_mat]) if len(old) else new_mat
        self.norms64 = np.concatenate(
            [self.norms64[keep], np.linalg.norm(new_mat, axis=1)]
        )
        self.row_of = {int(c): i for i, c in enumerate(self.chunk_ids)}
        # the ANN's row set changed: derived caches (_ann_doc_cache,
        # ann_mask) must not survive (ADVICE r8 #1); nor may the
        # row-order caches (_doc_groups, _norm32d)
        self._ann_build += 1
        self._generation += 1

    # -- filtered serving ----------------------------------------------------

    def _filter_entry(self, filter: dict) -> dict:
        """Cached evaluation of one SDK filter DSL document against the
        RESIDENT metadata — the partial-index analog (VERDICT r5 next
        #2): the O(resident docs) Python DSL walk is paid ONCE per
        (filter JSON, index version), and every repeat of the same hot
        filter reuses the precomputed doc-id set / chunk-row bitmap.
        refresh() clears the cache (docs or metadata moved); the cache
        is size-capped so adversarial unique-filter streams can't grow
        driver memory unboundedly."""
        key = json.dumps(filter, sort_keys=True, separators=(",", ":"),
                         default=str)
        ent = self._filter_cache.get(key)
        if ent is None:
            from postgresml_spark.operators.filter_dsl import compile_filter_py

            if self._doc_meta is None:
                self._doc_meta = {
                    did: json.loads(payload)
                    for did, payload in self.doc_json.items()
                }
            pred = compile_filter_py(filter)
            hits = [did for did, meta in self._doc_meta.items() if pred(meta)]
            if len(self._filter_cache) >= 256:
                self._filter_cache.clear()
            ent = self._filter_cache[key] = {
                "doc_ids": np.asarray(hits, dtype=np.int64),
                "mask": None,
            }
        return ent

    def _allowed_doc_ids(self, filter: dict) -> np.ndarray:
        """Document ids passing the SDK filter DSL — no Spark job,
        cached per (filter, index version) (see _filter_entry)."""
        return self._filter_entry(filter)["doc_ids"]

    def _row_mask_for_filter(self, filter: dict) -> np.ndarray:
        """Payload-row-order boolean mask of chunks whose document
        passes the filter — materialized once per cached filter."""
        ent = self._filter_entry(filter)
        if ent["mask"] is None or len(ent["mask"]) != len(self.doc_ids):
            ent["mask"] = np.isin(self.doc_ids, ent["doc_ids"])
        return ent["mask"]

    def _ann_allowed(self, filter: dict, payload_mask: np.ndarray, idx):
        """The filter's allowed-row mask in the ANN's row order. HNSW
        rows share the payload order until a refresh removes rows (the
        graph keeps soft-deleted nodes, so it is then longer); the IVF
        build clusters rows by centroid. Otherwise translate through
        the index's ids — cached per (filter, ANN build): the np.isin
        translation was O(n log n) per query on the filtered hot
        path."""
        if self.kind == "hnsw" and len(idx.ids) == len(self.chunk_ids):
            return payload_mask
        ent = self._filter_entry(filter)
        cached = ent.get("ann_mask")
        if cached is None or cached[1] != self._ann_build:
            cached = ent["ann_mask"] = (
                idx.row_mask(self.chunk_ids[payload_mask]), self._ann_build,
            )
        return cached[0]

    # -- serving -----------------------------------------------------------

    def search(
        self,
        query_text: str,
        limit: int = 10,
        boost: float = 1.0,
        ef: int | None = None,
        filter: dict | None = None,
        candidates: int | None = None,
        widen: float = 1.0,
    ) -> list[dict]:
        """Top-`limit` results, exact-rescored. No Spark job.

        ``candidates`` overrides the ANN shortlist size (default
        max(4·limit, limit+10)) — the explicit overfetch knob the
        rerank path threads through so `num_documents_to_rerank`
        controls the candidate bound, not just the final cut.

        ``widen`` (>= 1) multiplies the probe count (ivfflat) / ef
        (hnsw) for THIS call — the per-shard recall-normalization
        knob (VERDICT r8 next #1): a sharded deployment scales
        per-shard lists ~1/sqrt(n), which silently also cuts the
        probe COUNT ~1/sqrt(n); the scatter path passes
        widen=sqrt(n) so each shard probes as many cells as the
        single index would, at (still) ~1/sqrt(n) of its scan cost.

        ``filter`` (the SDK metadata-filter DSL) is honored ON the
        index: the resident metadata resolves to an allowed-row mask
        and the ANN layer iterates (expanding probes / ef) until the
        filtered top-k is full — so filtered queries keep served-tier
        latency instead of falling back to a per-query Spark plan."""
        qv = np.asarray(self._embed(query_text), dtype=np.float64)
        qn = float(np.linalg.norm(qv))
        if not len(self.mat64) or qn == 0.0:
            return []
        idx = self.hnsw  # kind was routed eagerly; this only pays the build
        allowed = None
        if filter is not None:
            payload_mask = self._row_mask_for_filter(filter)
            if not payload_mask.any():
                return []
            allowed = self._ann_allowed(filter, payload_mask, idx)
        # beam for extra candidates, then float64 exact re-score: the
        # approximate layer only GENERATES, the exact layer RANKS — so
        # float32 graph error can't perturb the returned ordering.
        n_cand = min(
            int(candidates) if candidates is not None
            else max(4 * limit, limit + 10),
            len(self.chunk_ids),
        )
        if self.kind == "ivfflat":
            npv = None
            if widen and widen > 1.0:
                npv = int(np.ceil(
                    int(self._params.get("probes", 4)) * float(widen)
                ))
            found = idx.search(qv, k=n_cand, allowed=allowed, nprobe=npv)
        else:
            base_ef = ef or max(4 * n_cand, 64)
            found = idx.search(
                qv, k=n_cand,
                ef=int(np.ceil(base_ef * max(1.0, float(widen)))),
                allowed=allowed,
            )
        rows = np.asarray([self.row_of[int(cid)] for cid, _ in found])
        dots = self.mat64[rows] @ qv
        denom = self.norms64[rows] * qn
        denom[denom == 0.0] = 1.0
        scores = dots / denom * boost
        order = sorted(
            range(len(rows)),
            key=lambda i: (-scores[i], int(self.doc_ids[rows[i]])),
        )[:limit]
        out = []
        for i in order:
            r = rows[i]
            did = int(self.doc_ids[r])
            out.append(
                {
                    "document_id": did,
                    "document": json.loads(self.doc_json[did]),
                    "chunk": self.chunks[r],
                    "score": float(scores[i]),
                }
            )
        return out


    def _doc_groups(self):
        """Row permutation sorted by doc + segment starts + unique doc
        ids + row count — computed once per resident row set (keyed on
        the refresh generation: a refresh that removes as many rows as
        it adds leaves the length unchanged), so every query's per-doc
        best-chunk reduction is a single C-level
        ``np.maximum.reduceat``."""
        if self._doc_grp is None or self._doc_grp[1] != self._generation:
            perm = np.argsort(self.doc_ids, kind="stable")
            uniq, starts = np.unique(self.doc_ids[perm], return_index=True)
            self._doc_grp = ((perm, starts, uniq.astype(np.int64),
                              len(self.doc_ids)), self._generation)
        return self._doc_grp[0]

    def best_chunk_scores(
        self, query_text: str, filter: dict | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(unique_doc_ids, best_cosine) — EXACT per-document best-chunk
        cosine over the whole resident matrix: one BLAS matvec + one
        segment-max.  The hybrid path's semantic side must cover EVERY
        doc because scores full-outer-SUM with the full-text side;
        candidate generation would zero out near-miss docs the exact
        plan scores.  Only the best VALUE per doc is needed (not which
        chunk), so the segment max is exact regardless of chunk-id tie
        order.  At shard sizes past a few million rows, route through
        the IVF/HNSW candidate path and accept the documented recall
        bound instead.

        ``filter`` restricts to documents passing the metadata DSL —
        still exact (masked rows score -inf and filtered docs drop),
        which is what keeps the FILTERED hybrid path on the served
        tier."""
        qv = np.asarray(self._embed(query_text), dtype=np.float64)
        qn = float(np.linalg.norm(qv))
        if not len(self.mat64):
            return np.empty(0, dtype=np.int64), np.empty(0)
        denom = self.norms64 * qn
        denom = np.where(denom == 0.0, 1.0, denom)
        scores = self.mat64 @ qv / denom
        if filter is not None:
            mask = self._row_mask_for_filter(filter)
            if not mask.any():
                return np.empty(0, dtype=np.int64), np.empty(0)
            scores = np.where(mask, scores, -np.inf)
        perm, starts, uniq, _ = self._doc_groups()
        best = np.maximum.reduceat(scores[perm], starts)
        if filter is not None:
            keep = best > -np.inf
            return uniq[keep], best[keep]
        return uniq, best

    def best_chunk_per_doc(
        self, query_text: str, filter: dict | None = None
    ) -> dict[int, float]:
        """dict view of best_chunk_scores (kept for callers that want
        the mapping; the hybrid hot path uses the array form)."""
        docs, scores = self.best_chunk_scores(query_text, filter=filter)
        return {int(d): float(s) for d, s in zip(docs, scores)}

    def best_chunk_scores_for_docs(
        self, query_text: str, docs: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """EXACT per-document best-chunk cosine for a GIVEN doc subset —
        the targeted gather that lets the candidate-bounded hybrid
        augment its ANN shortlist with the full-text side's top docs at
        O(|docs|·chunks_per_doc·d) instead of O(corpus·d). Docs not
        resident are dropped from the returned arrays."""
        qv = np.asarray(self._embed(query_text), dtype=np.float64)
        qn = float(np.linalg.norm(qv))
        docs = np.asarray(docs, dtype=np.int64)
        if not len(self.mat64) or qn == 0.0 or not docs.size:
            return np.empty(0, dtype=np.int64), np.empty(0)
        perm, starts, uniq, n = self._doc_groups()
        ends = np.append(starts[1:], n)
        pos = np.searchsorted(uniq, docs)
        valid = (pos < uniq.size)
        valid[valid] &= uniq[pos[valid]] == docs[valid]
        hit_docs = docs[valid]
        if not hit_docs.size:
            return np.empty(0, dtype=np.int64), np.empty(0)
        p = pos[valid]
        counts = ends[p] - starts[p]
        # vectorized ragged gather (no Python loop over docs: the
        # ft-augmentation path can pass tens of thousands of docs)
        seg_starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        flat = (
            np.repeat(starts[p] - seg_starts, counts)
            + np.arange(int(counts.sum()))
        )
        rows = perm[flat]
        dots = self.mat64[rows] @ qv
        denom = self.norms64[rows] * qn
        denom[denom == 0.0] = 1.0
        scores = dots / denom
        best = np.maximum.reduceat(scores, seg_starts)
        order = np.argsort(hit_docs, kind="stable")
        return hit_docs[order], best[order]

    def _norm32d(self) -> np.ndarray:
        """DOC-SORTED row-normalized float32 copy of the resident
        matrix (rows permuted by _doc_groups' perm), built lazily for
        the candidate-hybrid's screening gather (VERDICT r8 next #3).
        Two wins over a payload-order f32 copy: half the bytes of the
        f64 gather, and — because the missing-doc lists arrive SORTED —
        the gather indices are ascending runs of contiguous per-doc
        blocks, so the read is prefetch-friendly instead of
        random-access latency-bound (profiled ~3 µs/doc random vs
        sequential-class when sorted). Built in row blocks to avoid a
        full-matrix f64 temporary; keyed on the refresh generation
        (same discipline as _doc_groups)."""
        perm, _, _, n = self._doc_groups()
        cached = getattr(self, "_mat32d_cache", None)
        if cached is None or cached[1] != self._generation:
            norms = np.where(self.norms64 == 0.0, 1.0, self.norms64)
            out = np.empty((n, self.mat64.shape[1]), dtype=np.float32)
            step = 1 << 18
            for lo in range(0, n, step):
                pr = perm[lo:lo + step]
                out[lo:lo + step] = self.mat64[pr] / norms[pr, None]
            cached = (out, self._generation)
            self._mat32d_cache = cached
        return cached[0]

    def approx_chunk_scores_for_docs(
        self, query_text: str, docs: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, float]:
        """(hit_docs, best_cosine_f32, err) — float32 twin of
        best_chunk_scores_for_docs for the WAND-style augmentation
        screen (VERDICT r8 next #3): |f32 − f64| <= err for every
        returned value, so `s32 + err` is a per-doc upper bound the
        hybrid merge can prune with before paying the exact f64
        gather. Non-resident docs drop from the returned arrays, same
        as the exact gather."""
        qv = np.asarray(self._embed(query_text), dtype=np.float64)
        qn = float(np.linalg.norm(qv))
        docs = np.asarray(docs, dtype=np.int64)
        if not len(self.mat64) or qn == 0.0 or not docs.size:
            return np.empty(0, dtype=np.int64), np.empty(0), 0.0
        q32 = (qv / qn).astype(np.float32)
        perm, starts, uniq, n = self._doc_groups()
        ends = np.append(starts[1:], n)
        pos = np.searchsorted(uniq, docs)
        valid = pos < uniq.size
        valid[valid] &= uniq[pos[valid]] == docs[valid]
        hit_docs = docs[valid]
        if not hit_docs.size:
            return np.empty(0, dtype=np.int64), np.empty(0), 0.0
        p = pos[valid]
        counts = ends[p] - starts[p]
        seg_starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        # `flat` indexes DOC-SORTED row order directly (the _norm32d
        # matrix shares _doc_groups' perm), so a sorted doc list reads
        # as ascending contiguous per-doc blocks — no perm gather
        flat = (
            np.repeat(starts[p] - seg_starts, counts)
            + np.arange(int(counts.sum()))
        )
        scores = self._norm32d()[flat] @ q32
        best = np.maximum.reduceat(scores, seg_starts)
        order = np.argsort(hit_docs, kind="stable")
        # worst-case f32 error for unit-vector dots: input rounding
        # (~2 eps) + accumulation (<= d·eps conservative; BLAS blocked
        # sums are far tighter but not guaranteed)
        err = float(max(1e-5, 2.0 * self.mat64.shape[1]
                        * np.finfo(np.float32).eps))
        return hit_docs[order], best[order].astype(np.float64), err

    def _ann_doc_ids(self, idx) -> np.ndarray:
        """doc id per ANN-internal row (the IVF build clusters rows by
        centroid, so its row order differs from this index's): one
        O(n log n) searchsorted build, cached per ANN identity — the
        probe_scan per-doc aggregation would otherwise pay a Python
        dict lookup per scanned chunk."""
        cached = getattr(self, "_ann_doc_cache", None)
        if cached is None or cached[1] != self._ann_build:
            order = np.argsort(self.chunk_ids, kind="stable")
            pos = np.searchsorted(self.chunk_ids[order], idx.ids)
            cached = (self.doc_ids[order[pos]], self._ann_build)
            self._ann_doc_cache = cached
        return cached[0]

    def candidate_chunk_scores(
        self,
        query_text: str,
        n_candidates: int,
        filter: dict | None = None,
        ef: int | None = None,
        widen: int = 1,
        return_info: bool = False,
    ):
        """(doc_ids, best_cosine) over an ANN CANDIDATE SHORTLIST —
        the scale path for hybrid's semantic side (VERDICT r5 next #1).

        best_chunk_scores is exact but O(corpus·d) BLAS per query: at
        10M chunks × 1024 dims a single query reads ~80 GB. The
        reference does NOT pay this — its per-field semantic CTE is an
        HNSW-assisted top-k (pgml-sdks/pgml/src/
        search_query_builder.rs:131-187), so docs outside the shortlist
        contribute 0 to the hybrid COALESCE-sum. This method is that
        plan: the resident ANN (ivfflat or HNSW, whatever the router
        built) generates `n_candidates` chunks, a float64 exact
        re-score ranks them (approximation affects WHICH chunks are
        seen, never their scores), and a per-doc max reduces candidates
        to document scores. Docs absent from the shortlist are absent
        from the returned arrays — the hybrid merge already treats
        absent components as 0 (the full-outer-join NULL).

        Cost: O(n_candidates·d) instead of O(corpus·d); recall vs the
        exact plan is measured in tools/hybrid_candidate_agreement.py
        (top-10 agreement pinned ≥0.95 in tests)."""
        qv = np.asarray(self._embed(query_text), dtype=np.float64)
        qn = float(np.linalg.norm(qv))

        def _ret(docs, scores, info):
            return (docs, scores, info) if return_info else (docs, scores)

        # empty returns are SAFE (exhausted): the exact plan finds
        # nothing there either (zero query norm / empty corpus / filter
        # matching no rows), so no unseen doc can out-rank the merge
        empty = (np.empty(0, dtype=np.int64), np.empty(0))
        safe_info = {"min_score": float("-inf"), "max_score": float("-inf"),
                     "exhausted": True, "exact_topn": True,
                     "router_confident": True, "full_probe_mult": 1}
        if not len(self.mat64) or qn == 0.0:
            return _ret(*empty, safe_info)
        # flops crossover (same rule as filtered serving): below ~2M
        # multiply-adds the FULL exact scan is cheaper than one ANN
        # gather — and it makes candidate mode literally exact, so the
        # adaptive loop never needs to escalate on small corpora/shards
        # (weak-embedding small corpora otherwise trip the router check
        # and pay a pointless multi-pass sweep)
        if self.mat64.size <= 2_000_000:
            docs, scores = self.best_chunk_scores(query_text, filter=filter)
            return _ret(docs, scores, dict(safe_info))
        idx = self.hnsw
        allowed = None
        if filter is not None:
            payload_mask = self._row_mask_for_filter(filter)
            if not payload_mask.any():
                return _ret(*empty, safe_info)
            allowed = self._ann_allowed(filter, payload_mask, idx)
        avail = (
            len(self.chunk_ids) if allowed is None else int(allowed.sum())
        )
        n_cand = min(int(n_candidates), len(self.chunk_ids))
        exact_topn = False
        router_max = float("inf")
        full_probe_mult = 1
        scanned_docs = scanned_best32 = None
        unscanned_bound = scan_floor = None
        if self.kind == "ivfflat":
            base_probes = int(self._params.get("probes", 4))
            probes_used = base_probes * max(1, int(widen))
            nlist_now = (
                len(idx.centroids) if idx.centroids is not None else 0
            )
            scan = (
                idx.probe_scan(
                    qv, k=n_cand, allowed=allowed,
                    nprobe=probes_used if widen > 1 else None,
                )
                # full sweep (or exact index): the shortlist is already
                # provably exact top-n (exact_topn below) — min_score
                # is an unconditional bound there, so the scan arrays
                # buy nothing and their O(scanned) handoff isn't free
                if hasattr(idx, "probe_scan") and 0 < probes_used < nlist_now
                else None
            )
            if scan is not None:
                # geometric-certificate path (VERDICT r7 next #5): the
                # probe round scored EVERY chunk of the probed cells —
                # expose CHUNK-LEVEL f32 scores + doc ids for the scan's
                # top-T (one argpartition, which the shortlist needed
                # anyway) plus scan_floor = the T-th score: any scanned
                # chunk beyond the top-T scores <= scan_floor, so the
                # proof's outside-universe max stays a true bound while
                # the handoff is O(T), not O(scanned) — full-scan
                # handoffs measured 1.6-2.5x the candidate median at 1M.
                scan_rows, scan_s32, unscanned_bound = scan
                if not scan_rows.size:
                    return _ret(*empty, safe_info)
                kk = min(n_cand, len(scan_s32))
                T = min(max(2048, 4 * kk), len(scan_s32))
                if len(scan_s32) > T:
                    selT = np.argpartition(-scan_s32, T - 1)[:T]
                    scan_floor = float(scan_s32[selT].min())
                else:
                    selT = np.arange(len(scan_s32))
                    scan_floor = float("-inf")
                ordT = np.argsort(-scan_s32[selT], kind="stable")
                top = selT[ordT[:kk]]
                found = [(idx.ids[scan_rows[i]].item(),
                          float(scan_s32[i])) for i in top]
                scanned_docs = self._ann_doc_ids(idx)[scan_rows[selT]]
                scanned_best32 = scan_s32[selT]
            else:  # full sweep, exact index, or pre-r8 saved graph
                found = idx.search(
                    qv, k=n_cand, allowed=allowed,
                    nprobe=probes_used if widen > 1 else None,
                )
            if idx.centroids is None:
                exact_topn = True
            else:
                nlist_eff = len(idx.centroids)
                # probes >= nlist means every list was scanned: the
                # shortlist is PROVABLY the exact top-n_cand, so the
                # min-score bound below is a true bound, not a heuristic
                exact_topn = probes_used >= nlist_eff
                q32 = qv.astype(np.float32)
                q32n = float(np.linalg.norm(q32))
                if q32n:
                    q32 = q32 / q32n
                router_max = float(np.max(idx.centroids @ q32))
                full_probe_mult = -(-nlist_eff // base_probes)
        else:
            found = idx.search(
                qv, k=n_cand,
                ef=(ef or max(2 * n_cand, 64)) * max(1, int(widen)),
                allowed=allowed,
            )
        if not found:
            return _ret(*empty, safe_info)
        rows = np.asarray([self.row_of[int(cid)] for cid, _ in found])
        dots = self.mat64[rows] @ qv
        denom = self.norms64[rows] * qn
        denom[denom == 0.0] = 1.0
        scores = dots / denom
        cand_docs = self.doc_ids[rows]
        perm = np.argsort(cand_docs, kind="stable")
        uniq, starts = np.unique(cand_docs[perm], return_index=True)
        best = np.maximum.reduceat(scores[perm], starts)
        mx = float(scores.max())
        # fp32 slack (ADVICE r7): the shortlist was SELECTED by
        # float32 index scores but this bound is float64-rescored —
        # an unseen chunk u satisfies s32(u) <= min s32(shortlist),
        # which only gives s64(u) <= min s64(shortlist) + 2e where e
        # bounds fp32 dot rounding (~sqrt(d)*eps32 for BLAS order);
        # without the slack a boundary-straddling doc can defeat the
        # strict `boundary > unseen_bound` proof
        fp32_eps = 1e-5 * max(1.0, abs(float(scores.min())))
        info = {
            # exact-rescored boundary of the RAW shortlist: under the
            # exact-top-n reading of the shortlist, any unseen chunk
            # scores <= min_score — the adaptive-overfetch safety bound
            "min_score": float(scores.min()) + fp32_eps,
            "max_score": mx,
            "exhausted": len(found) >= avail,
            # the min-score bound is only as good as the index's
            # routing. IVF routing is informative when the best found
            # chunk aligns with SOME centroid (in-distribution query);
            # a query whose observed matches beat every centroid
            # alignment is off-codebook — probing order is noise and
            # the shortlist may miss better chunks INSIDE its own score
            # range (measured: OOD misses at 100k sat between min and
            # max). exact_topn (all lists probed) restores the bound.
            "exact_topn": exact_topn,
            "router_confident": (
                exact_topn or mx <= 0.0 or router_max >= 0.8 * mx
            ),
            # widen multiplier at which every list is probed — the
            # escalation target when the router is unconfident (skips
            # the useless intermediate probe rounds)
            "full_probe_mult": full_probe_mult,
            # geometric-certificate fields (None on non-IVF / full-
            # sweep paths): CHUNK-level doc ids + f32 scores over the
            # WHOLE probed scan, plus the unconditional q·c + R_c
            # bound on every unprobed cell — search.py's proof prefers
            # these over min_score when present
            "scan_chunk_docs": scanned_docs,
            "scan_chunk_s32": scanned_best32,
            "scan_floor": scan_floor,
            "unscanned_bound": unscanned_bound,
        }
        return _ret(uniq.astype(np.int64), best, info)


class ServedTextIndex:
    """Resident full-text postings for one (pipeline, field) — the
    GIN-index-in-shared-memory analog for the hybrid path. Holds
    term -> {chunk_row: tf} postings plus the chunk→document map;
    scores replicate search._tsrank_col's normalization-32 arithmetic
    bit-for-bit (same float64 ops in the same order)."""

    def __init__(self, collection, pipeline, field: str,
                 shard: tuple[int, int] | None = None):
        if "full_text_search" not in pipeline.schema.get(field, {}):
            raise ValueError(f"field {field!r} has no full_text_search config")
        self.collection = collection
        self.pipeline = pipeline
        self.field = field
        self.shard = shard
        self.version_token = self._version_token()

        chunks = pipeline.table(f"{field}_chunks").select("chunk_id", "document_id")
        if shard is not None:
            from pyspark.sql import functions as F

            i, n = shard
            chunks = chunks.filter(
                F.pmod(F.xxhash64(F.col("document_id")), F.lit(n)) == i
            )
        tsv = pipeline.table(f"{field}_tsvectors")
        pdf = tsv.join(chunks, "chunk_id").toPandas()
        self.chunk_ids = pdf["chunk_id"].to_numpy()
        self.doc_ids = pdf["document_id"].to_numpy()
        self.postings: dict[str, dict[int, int]] = {}
        for row, toks in enumerate(pdf["tokens"]):
            for t in toks:
                post = self.postings.setdefault(t, {})
                post[row] = post.get(row, 0) + 1
        # vectorized posting arrays: term -> (rows, tf/(tf+1) contribs),
        # built once so the per-query path is pure numpy over TOUCHED
        # postings (scoring is sparse — no O(corpus) per-query state)
        self._term_arrays: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t, post in self.postings.items():
            rows = np.fromiter(post.keys(), dtype=np.int64, count=len(post))
            tfs = np.fromiter(post.values(), dtype=np.float64, count=len(post))
            self._term_arrays[t] = (rows, tfs / (tfs + 1.0))
        self.n_rows = len(pdf)

    @classmethod
    def from_tokens(cls, chunk_ids, doc_ids, token_lists) -> "ServedTextIndex":
        """Build resident postings directly from per-chunk token lists —
        the array-path twin of ServedPipelineIndex.from_arrays, for
        scale tooling and warehouse-free tests. Same posting/contrib
        construction as __init__; no version tokens."""
        self = cls.__new__(cls)
        self.collection = None
        self.pipeline = None
        self.field = "_arrays_"
        self.version_token = ()
        self.chunk_ids = np.asarray(chunk_ids)
        self.doc_ids = np.asarray(doc_ids)
        self.postings = {}
        for row, toks in enumerate(token_lists):
            for t in toks:
                post = self.postings.setdefault(t, {})
                post[row] = post.get(row, 0) + 1
        self._term_arrays = {}
        for t, post in self.postings.items():
            rows = np.fromiter(post.keys(), dtype=np.int64, count=len(post))
            tfs = np.fromiter(post.values(), dtype=np.float64, count=len(post))
            self._term_arrays[t] = (rows, tfs / (tfs + 1.0))
        self.n_rows = len(self.chunk_ids)
        return self

    def _version_token(self):
        toks = [("documents", self.collection.documents._current_version())]
        for name, tbl in sorted(self.pipeline._tables.items()):
            if name.startswith(self.field + "_"):
                toks.append((name, tbl._current_version()))
        return tuple(toks)

    def is_stale(self) -> bool:
        return self._version_token() != self.version_token

    def best_chunk_scores(
        self, terms: list[str], allowed_docs: np.ndarray | set | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(unique_doc_ids, best ts_rank) — vectorized: per-term contrib
        arrays accumulate into a dense rank vector, normalization-32
        applies element-wise, and the per-doc best chunk is one
        segment-max (only the VALUE is needed, so chunk-id tie order
        cannot change the result).  Chunks with rank 0 excluded;
        ``allowed_docs`` restricts to a metadata-filtered document set
        (the filtered hybrid path).  Same float64 ops in the same order
        as search._tsrank_col, so served scores match the exact plan
        bit-for-bit."""
        # SPARSE accumulation over touched postings only — the dense
        # form (rank vector of n_rows + reduceat over every row) cost
        # O(corpus) per query, measured ~30 ms of the 1M-chunk hybrid
        # floor. Touched rows keep the SAME per-row addition order
        # (term order — np.add.at applies elementwise in concatenation
        # order), so scores stay bit-identical to _tsrank_col.
        parts = [
            self._term_arrays[t]
            for t in (term.lower() for term in terms)
            if t in self._term_arrays
        ]
        if not parts:
            return np.empty(0, dtype=np.int64), np.empty(0)
        rows_cat = np.concatenate([r for r, _ in parts])
        con_cat = np.concatenate([c for _, c in parts])
        uniq_rows, inv = np.unique(rows_cat, return_inverse=True)
        ranks = np.zeros(uniq_rows.size)
        np.add.at(ranks, inv, con_cat)
        scores = ranks / (ranks + 1.0)  # normalization 32
        docs = self.doc_ids[uniq_rows]
        perm = np.argsort(docs, kind="stable")
        uniq, starts = np.unique(docs[perm], return_index=True)
        best = np.maximum.reduceat(scores[perm], starts)
        keep = best > 0.0
        if allowed_docs is not None:
            allowed = np.asarray(
                sorted(allowed_docs) if isinstance(allowed_docs, set)
                else allowed_docs,
                dtype=np.int64,
            )
            keep &= np.isin(uniq, allowed)
        return uniq[keep], best[keep]

    def best_chunk_per_doc(
        self, terms: list[str], allowed_docs: set[int] | None = None
    ) -> dict[int, float]:
        """dict view of best_chunk_scores (compat; the hybrid hot path
        uses the array form)."""
        docs, scores = self.best_chunk_scores(terms, allowed_docs=allowed_docs)
        return {int(d): float(s) for d, s in zip(docs, scores)}


def _int_col(table, name: str) -> np.ndarray:
    """An integer column of a pyarrow table as int64 (empty if the
    table is None)."""
    if table is None:
        return np.empty(0, dtype=np.int64)
    return np.asarray(table.column(name).to_numpy(), dtype=np.int64)


def _build_shards(n: int, make):
    """Construct/refresh N shard indexes CONCURRENTLY (guide §2.6).

    Each shard build is two Spark collect actions (the Arrow hop for
    its 1/n slice + the payload frame) followed by a DRIVER-side
    numpy/BLAS index build (GIL mostly released). Sequential builds
    serialize those phases end to end; a thread per shard lets shard
    i's driver-side graph build overlap shard j's Spark fetch, and the
    fetches' own scheduling gaps back-fill each other (guide §2.6 —
    the sync writes that shared this argument are now one batched
    Spark job, storage.overwrite_multi). Order is preserved
    (shard i of the result is make(i)). Results are identical to the
    sequential build: shards never share mutable state (each holds its
    own arrays; the Spark reads are stateless plan constructions)."""
    if n == 1:
        return [make(0)]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=n, thread_name_prefix="shard-build"
    ) as pool:
        return list(pool.map(make, range(n)))


def _shard_pool(owner, n: int):
    """Lazily-created per-index thread pool for the scatter phase.
    Shards are independent and the per-shard work is numpy/BLAS (GIL
    released), so a thread fan-out makes scatter latency
    max(shard) + merge instead of sum(shards) (VERDICT r6 next #2).
    Cached on the owner: pool creation (~ms of thread spawns) would
    dominate a sub-ms serve if paid per query."""
    pool = getattr(owner, "_pool", None)
    if pool is None:
        from concurrent.futures import ThreadPoolExecutor

        pool = owner._pool = ThreadPoolExecutor(
            max_workers=n, thread_name_prefix="shard-scatter"
        )
    return pool


def _scatter(owner, shards, fn):
    """Run fn over every shard concurrently; preserves shard order."""
    if len(shards) == 1:
        return [fn(shards[0])]
    return list(_shard_pool(owner, len(shards)).map(fn, shards))


class ShardedPipelineIndex:
    """Scatter-gather serving across N doc-hash resident shards — the
    multi-host layout the 100 TB capacity math has always assumed, now
    as a real code path (VERDICT r5 next #4).

    Layout: shard i holds documents with pmod(xxhash64(id), n) == i —
    the same modular doc-hash each ServedPipelineIndex applies INSIDE
    its Spark build plan, so a serving host's Arrow hop moves only its
    own slice (1/n of the corpus) and hosts build in parallel against
    the same synced tables. Document granularity keeps a doc's chunks
    colocated, so per-doc best-chunk reductions never cross shards and
    the hybrid merge stays shard-local until the final k-way gather.

    Query path (scatter-gather):
    - search(): every shard answers its local top-`limit` (ANN
      candidates + float64 exact re-score, same as single-shard), the
      gather k-way merges by (-score, doc_id) and keeps `limit`. The
      union of per-shard exact top-k CONTAINS the global exact top-k
      (each shard's view covers its docs entirely), so the merged
      result is identical to the single-shard index modulo per-shard
      ANN recall — the same contract the unsharded tier carries.
    - best_chunk_scores()/candidate_chunk_scores(): doc-hash shards
      are doc-disjoint, so the gather is a concatenation + sort, no
      dedup pass needed.

    Capacity arithmetic (SCALE.md carries the table): a shard holds
    d×(4+8) B/vector + links + payload maps. At 1024 dims, 32 shards
    hold ~2.7 TB of raw float32 vectors at 64 GB/host resident —
    queries fan out N ways, each shard answering in the unsharded
    per-query time of a 1/N corpus (ANN search is sublinear, so the
    scatter is a strict latency WIN over one giant shard; the gather
    merge of N×limit rows is microseconds). Staleness and refresh
    delegate per-shard: each shard applies the same committed delta,
    keeping only the new documents its doc-hash filter owns, so a sync
    refreshes N shards in parallel with O(batch) work each."""

    def __init__(self, collection, pipeline, field: str, n_shards: int):
        if n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        self.n_shards = n_shards
        self.field = field
        self.shards = _build_shards(
            n_shards,
            lambda i: ServedPipelineIndex(
                collection, pipeline, field, shard=(i, n_shards)
            ),
        )

    # -- staleness (delegates) ---------------------------------------------

    def is_stale(self) -> bool:
        return any(s.is_stale() for s in self.shards)

    def refresh(self) -> "ShardedPipelineIndex":
        shards = self.shards
        self.shards = _build_shards(
            len(shards), lambda i: shards[i].refresh()
        )
        return self

    # -- payload / filter views --------------------------------------------

    @property
    def doc_json(self) -> dict:
        """Merged payload view — doc-hash shards are disjoint, so a
        ChainMap union is exact and copy-free."""
        from collections import ChainMap

        return ChainMap(*[s.doc_json for s in self.shards])

    def _allowed_doc_ids(self, filter: dict) -> np.ndarray:
        parts = [s._allowed_doc_ids(filter) for s in self.shards]
        parts = [p for p in parts if p.size]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.sort(np.concatenate(parts))

    # -- serving -------------------------------------------------------------

    def search(self, query_text: str, limit: int = 10, boost: float = 1.0,
               ef: int | None = None, filter: dict | None = None,
               candidates: int | None = None) -> list[dict]:
        """Scatter to every shard (concurrently — see _scatter),
        gather-merge by (-score, doc_id).

        Each shard searches with widen=sqrt(n_shards) (VERDICT r8
        next #1): per-shard ANN configs scale lists ~1/sqrt(n), which
        also cuts the probe COUNT ~1/sqrt(n) — measured as a recall
        cliff at 4 shards (0.854 vs 0.95 single, tools/
        shard_scatter_latency.json r8). Restoring the probe count
        keeps per-shard recall at the single-index level while each
        shard still scans ~1/sqrt(n) of the single index's chunks, so
        the scatter stays a strict latency win."""
        w = float(np.sqrt(self.n_shards)) if self.n_shards > 1 else 1.0
        merged: list[dict] = []
        for part in _scatter(
            self, self.shards,
            lambda s: s.search(query_text, limit=limit, boost=boost,
                               ef=ef, filter=filter, candidates=candidates,
                               widen=w),
        ):
            merged.extend(part)
        merged.sort(key=lambda r: (-r["score"], r["document_id"]))
        return merged[:limit]

    def _gather(self, parts):
        parts = [(d, s) for d, s in parts if d.size]
        if not parts:
            return np.empty(0, dtype=np.int64), np.empty(0)
        docs = np.concatenate([d for d, _ in parts])
        scores = np.concatenate([s for _, s in parts])
        order = np.argsort(docs, kind="stable")
        return docs[order], scores[order]

    def best_chunk_scores(self, query_text: str, filter: dict | None = None):
        return self._gather(
            _scatter(self, self.shards,
                     lambda s: s.best_chunk_scores(query_text, filter=filter))
        )

    def candidate_chunk_scores(self, query_text: str, n_candidates: int,
                               filter: dict | None = None,
                               ef: int | None = None,
                               widen: int = 1,
                               return_info: bool = False):
        # per-shard overfetch: each shard contributes up to the full
        # candidate budget; the hybrid merge takes care of ranking
        per = max(1, -(-int(n_candidates) // self.n_shards))
        parts = _scatter(
            self, self.shards,
            lambda s: s.candidate_chunk_scores(query_text, per, filter=filter,
                                               ef=ef, widen=widen,
                                               return_info=True),
        )
        docs, scores = self._gather([(d, s) for d, s, _ in parts])
        if not return_info:
            return docs, scores
        # an unseen doc lives in exactly ONE shard, so the global bound
        # is the max of the NON-exhausted shards' boundaries (exhausted
        # shards hide nothing)
        open_infos = [i for _, _, i in parts if not i["exhausted"]]
        # geometric certificate merge: shards are doc-disjoint, so the
        # scanned per-doc bests concatenate and the unscanned bound is
        # the max over OPEN shards. Usable only when every open shard
        # carries geometry (a pre-r8 shard degrades the whole merge to
        # the min_score heuristic).
        geo_ok = all(
            i.get("unscanned_bound") is not None for i in open_infos
        ) and bool(open_infos)
        sdocs = sbest = None
        unscanned = None
        if geo_ok:
            with_scan = [
                i for _, _, i in parts
                if i.get("scan_chunk_docs") is not None
            ]
            if with_scan:
                # chunk-level arrays concatenate as-is (shards are
                # doc-disjoint; the proof side only takes a masked max)
                sdocs = np.concatenate(
                    [i["scan_chunk_docs"] for i in with_scan]
                )
                sbest = np.concatenate(
                    [i["scan_chunk_s32"] for i in with_scan]
                )
            else:
                sdocs = np.empty(0, dtype=np.int64)
                sbest = np.empty(0)
            unscanned = max(
                i["unscanned_bound"] for i in open_infos
            )
            floors = [i["scan_floor"] for _, _, i in parts
                      if i.get("scan_floor") is not None]
            sfloor = max(floors) if floors else None
        info = {
            "min_score": max(
                (i["min_score"] for i in open_infos), default=float("-inf")
            ),
            "max_score": max(
                (i["max_score"] for _, _, i in parts), default=float("-inf")
            ),
            "exhausted": not open_infos,
            "exact_topn": all(i["exact_topn"] for i in open_infos),
            "router_confident": all(
                i["router_confident"] for i in open_infos
            ),
            "full_probe_mult": max(
                (i["full_probe_mult"] for i in open_infos), default=1
            ),
            "scan_chunk_docs": sdocs,
            "scan_chunk_s32": sbest,
            "scan_floor": sfloor if geo_ok else None,
            "unscanned_bound": unscanned,
        }
        return docs, scores, info

    def best_chunk_scores_for_docs(self, query_text: str, docs):
        # non-resident docs drop shard-locally, so routing is implicit
        return self._gather(
            _scatter(self, self.shards,
                     lambda s: s.best_chunk_scores_for_docs(query_text, docs))
        )

    def approx_chunk_scores_for_docs(self, query_text: str, docs):
        """f32 screening gather across shards (doc-disjoint concat);
        err is the max over shards so the bound stays valid."""
        parts = _scatter(
            self, self.shards,
            lambda s: s.approx_chunk_scores_for_docs(query_text, docs),
        )
        err = max((e for _, _, e in parts), default=0.0)
        d, s = self._gather([(d, s) for d, s, _ in parts])
        return d, s, err


class ShardedTextIndex:
    """Doc-hash sharded resident full-text postings — the ft twin of
    ShardedPipelineIndex for the sharded hybrid path."""

    def __init__(self, collection, pipeline, field: str, n_shards: int):
        self.n_shards = n_shards
        self.shards = _build_shards(
            n_shards,
            lambda i: ServedTextIndex(
                collection, pipeline, field, shard=(i, n_shards)
            ),
        )

    def is_stale(self) -> bool:
        return any(s.is_stale() for s in self.shards)

    def best_chunk_scores(self, terms, allowed_docs=None):
        parts = _scatter(
            self, self.shards,
            lambda s: s.best_chunk_scores(terms, allowed_docs=allowed_docs),
        )
        parts = [(d, sc) for d, sc in parts if d.size]
        if not parts:
            return np.empty(0, dtype=np.int64), np.empty(0)
        docs = np.concatenate([d for d, _ in parts])
        scores = np.concatenate([s for _, s in parts])
        order = np.argsort(docs, kind="stable")
        return docs[order], scores[order]
