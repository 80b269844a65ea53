"""RetrievalEngine: the user-facing facade.

Mirrors the reference's Python client surface (python_api.md /
LocalRetrievalMaster): create_table / build / upsert / commit-visible
search / filter / delete_by_ids / delete_by_filter / truncate / drop /
get_by_ids — re-expressed over Spark DataFrames. Search returns a
DataFrame with ``_score`` injected (RetrievalMaster.java:359-364).
"""

from __future__ import annotations

import dataclasses
from typing import Any, Dict, Iterable, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from byzer_retrieval_spark.operators import mutate
from byzer_retrieval_spark.operators.context import IndexContext
from byzer_retrieval_spark.operators.indexer import IndexConfig, build_index
from byzer_retrieval_spark.operators.fusion import rrf_fuse, score_sum_fuse
from byzer_retrieval_spark.operators.scorer_df import filter_query, search_df
from byzer_retrieval_spark.operators.wand import search_fast
from byzer_retrieval_spark.plans.query import SearchQuery
from byzer_retrieval_spark.sources.storage import IndexStore


class RetrievalEngine:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._qspark: Optional[SparkSession] = None
        self._ctx_cache: Dict[Any, Any] = {}

    @property
    def query_spark(self) -> SparkSession:
        """Dedicated session for the READ path (shares the
        SparkContext/executors, own SQLConf) with adaptive execution
        OFF: AQE's stage-by-stage re-planning adds ~1 s to every
        sub-second query (measured p50 2.45 s → 1.33 s on the 600k
        bench corpus), and queries don't need it — their joins are
        explicitly broadcast-hinted or statically broadcast from
        parquet size stats, and skew handling matters only at build
        time (builds keep the main session with AQE on)."""
        if self._qspark is None:
            s = self.spark.newSession()
            s.conf.set("spark.sql.adaptive.enabled", "false")
            self._qspark = s
        return self._qspark

    def store(self, database: str = "default", table: str = "default") -> IndexStore:
        return IndexStore(self.root, database, table)

    def ctx(self, database: str = "default", table: str = "default") -> IndexContext:
        return IndexContext.open(self.spark, self.store(database, table))

    def query_ctx(
        self, database: str = "default", table: str = "default"
    ) -> IndexContext:
        """Opened context for the READ path, cached per snapshot: the
        context memoizes its table readers (file listing + footer
        schema ≈ 0.3-0.5 s of driver work per open), and every mutation
        commits a new snapshot id, which invalidates the cache entry —
        so a reused context can never see a stale file set.

        The query session's conf is shared by every table, so the
        table's scan and shuffle settings are cached with its context
        and set again on every call, cache hits included: after a query
        on a table with smaller files, a cached table's split pin would
        otherwise stay below its own largest postings file."""
        store = self.store(database, table)
        sid = store.current_snapshot_id()
        key = (database, table)
        hit = self._ctx_cache.get(key)
        if hit is None or hit[0] != sid:
            ctx = IndexContext.open(self.query_spark, store)
            # shuffle partitions sized to the index, not the session default
            # (round 6): every query-path exchange keys on shard_id (scorer
            # cogroups, gate frames), whose cardinality IS num_shards —
            # partitions beyond that are empty JVM tasks. Spark skips the
            # Python runner for an empty partition, so each costs only task
            # scheduling (29 empty of 32 partitions added 25-50 ms to a
            # 3-group applyInPandas on local[3]); the fixed cost of a
            # non-empty Python task is the worker's per-task setup (see
            # _zipimport_guard). Scale-adaptive by construction: a 100 TB
            # table has thousands of shards and gets thousands of partitions.
            shuffle_partitions = max(8, int(ctx.meta.get("num_shards", 8)))
            # pin the split size just above the largest postings file
            # (round 6): the zero-exchange WAND stream path
            # (wand._shard_stream_runner) requires that no parquet file is
            # ever SPLIT across scan tasks — a split would separate a doc's
            # postings from its gate evidence. One listing per snapshot
            # (cached with the context); the +1 MB headroom matches
            # openCostInBytes so same-size sibling files over the 4 MB floor
            # don't pack two to a task (one file per task, the
            # shard-granular layout queries want at scale; smaller files
            # pack up to the floor, which packing order makes harmless).
            # Spark splits at min(maxPartitionBytes, max(openCostInBytes,
            # totalBytes / minPartitionNum)), and minPartitionNum defaults to
            # the task slots: with more slots than postings files that cap
            # falls below the pin and splits files of several row groups.
            # minPartitionNum=1 makes the pin the cap.
            pin = max(4 << 20, store.largest_postings_file() + (1 << 20) + 1)
            confs = {
                "spark.sql.shuffle.partitions": str(shuffle_partitions),
                "spark.sql.files.maxPartitionBytes": str(pin),
                "spark.sql.files.minPartitionNum": "1",
            }
            hit = (sid, ctx, confs)
            self._ctx_cache[key] = hit
        _, ctx, confs = hit
        for k, v in confs.items():
            self.query_spark.conf.set(k, v)
        return ctx

    # ---- table lifecycle (reference createTable, TableSettings) ---------
    def create_table(
        self,
        database: str,
        table: str,
        schema: str,
        num_shards: int = 8,
        analyzer: str = "whitespace",
        location: Optional[str] = None,
    ) -> IndexConfig:
        """Declare a table from the reference's ``st(field(...))`` schema
        DSL (records/TableSettings.java:16-35; parser SURVEY §1.2).

        ``analyze`` fields become postings; ``no_index``/plain fields are
        stored columns; a later ``build``/``upsert`` on this table picks
        the declared config up from meta.
        """
        from byzer_retrieval_spark.schema import parse_schema

        ts = parse_schema(schema)
        analyzed = tuple(ts.analyzed_fields)
        stored = tuple(f.name for f in ts.fields if f.stored and f.name != "_id")
        cfg = IndexConfig(
            num_shards=num_shards,
            analyzer=analyzer,
            analyzed_fields=analyzed,
            id_columns=(),  # schema tables carry an explicit _id field
            stored_fields=stored,
        )
        store = self.store(database, table)
        store.write_meta(
            {
                "num_shards": cfg.num_shards,
                "analyzer": cfg.analyzer,
                "analyzed_fields": list(cfg.analyzed_fields),
                "id_columns": [],
                "stored_fields": list(stored),
                "schema_dsl": schema,
                "block_size": cfg.block_size,
                "k1": cfg.k1,
                "b": cfg.b,
                "doc_bits": 40,
            }
        )
        return cfg

    def config_from_meta(
        self, database: str = "default", table: str = "default"
    ) -> Optional[IndexConfig]:
        store = self.store(database, table)
        if not store.exists():
            return None
        m = store.read_meta()
        return IndexConfig(
            num_shards=int(m["num_shards"]),
            analyzer=m["analyzer"],
            analyzed_fields=tuple(m["analyzed_fields"]),
            id_columns=tuple(m.get("id_columns", ())),
            stored_fields=(
                tuple(m["stored_fields"]) if m.get("stored_fields") else None
            ),
            block_size=int(m.get("block_size", 128)),
            k1=float(m.get("k1", 1.2)),
            b=float(m.get("b", 0.75)),
            lucene_dl_quantization=bool(m.get("lucene_dl_quantization", False)),
        )

    # ---- write path ----------------------------------------------------
    def build(
        self,
        source: DataFrame,
        database: str = "default",
        table: str = "default",
        cfg: Optional[IndexConfig] = None,
        resume: bool = True,
        source_desc: str = "",
    ) -> Dict[str, Any]:
        if cfg is None:
            cfg = self.config_from_meta(database, table)  # create_table'd?
        return build_index(
            self.spark, source, self.store(database, table), cfg, resume, source_desc
        )

    def upsert(
        self, rows: DataFrame, database: str = "default", table: str = "default"
    ) -> Dict[str, Any]:
        store = self.store(database, table)
        pre_sid = store.current_snapshot_id()
        out = mutate.upsert(self.spark, store, rows)
        self._ann_after_upsert(database, table, rows, pre_sid)
        return out

    def delete_by_ids(
        self, ids: Iterable[Any], database: str = "default", table: str = "default"
    ) -> int:
        store = self.store(database, table)
        pre_sid = store.current_snapshot_id()
        n = mutate.delete_by_ids(self.spark, store, ids)
        self._ann_bump(store, pre_sid)
        return n

    def delete_by_filter(
        self, condition: Dict[str, Any], database: str = "default", table: str = "default"
    ) -> int:
        store = self.store(database, table)
        pre_sid = store.current_snapshot_id()
        n = mutate.delete_by_filter(self.spark, store, condition)
        self._ann_bump(store, pre_sid)
        return n

    def compact(self, database: str = "default", table: str = "default") -> Dict[str, Any]:
        """Segment merge + ANN survival (round 4): compact only ERASES
        tombstoned rows — live ``__docid``s are unchanged — so a
        CURRENT ANN index stays valid if its dead rows are physically
        dropped (once the tombstone files are gone, the probe-time
        anti-join can no longer hide them). The dead-id set is captured
        (localCheckpoint) BEFORE compact deletes the tombstone files,
        then anti-joined out of each ANN data dir and the state bumped.
        Indexes that were already stale stay stale (exact fallback)."""
        store = self.store(database, table)
        pre_sid = store.current_snapshot_id()
        states = [
            (fld, st)
            for fld, st in self._ann_states(store)
            if int(st.get("snapshot_id", -2)) == pre_sid
        ]
        dead = None
        if states:
            tomb = self.ctx(database, table).tombstones_df()
            if tomb is not None:
                dead = (
                    tomb.select("__docid")
                    .distinct()
                    .localCheckpoint(eager=True)
                )
        out = mutate.compact(self.spark, store)
        for fld, state in states:
            if dead is not None:
                try:
                    self._ann_index_of(store, fld, state).remove_docids(
                        self.spark, dead
                    )
                except ValueError:
                    # index has no __docid column: leave it stale so the
                    # strict snapshot check forces the exact fallback
                    continue
            state["snapshot_id"] = store.current_snapshot_id()
            self._write_ann_state(store, fld, state)
        return out

    def truncate(self, database: str = "default", table: str = "default") -> None:
        import os as _os
        import shutil as _shutil

        store = self.store(database, table)
        store.truncate()
        _shutil.rmtree(_os.path.join(store.base, "ann"), ignore_errors=True)
        self._ctx_cache.pop((database, table), None)

    def drop(self, database: str = "default", table: str = "default") -> None:
        self.store(database, table).drop()
        self._ctx_cache.pop((database, table), None)

    def commit(self, database: str = "default", table: str = "default") -> int:
        """Reference ``Commit`` action (RetrievalFlightServer.java:306):
        make pending writes durable+visible. Our write paths each end in
        an atomic snapshot commit already (build_index / mutate.*), so
        the explicit commit is the read barrier: it returns the CURRENT
        snapshot id — the one every subsequent search is pinned to."""
        return self.store(database, table).current_snapshot_id()

    def cluster_info(self) -> Dict[str, Any]:
        """Reference ``ClusterInfo`` action (RetrievalFlightServer.java:131,
        records/ClusterInfo.java): cluster shape + per-table settings.
        The SparkSession IS the cluster here, so worker facts come from
        the SparkContext and table facts from each store's meta +
        current snapshot."""
        sc = self.spark.sparkContext
        tables = []
        import os as _os

        root = self.root
        if _os.path.isdir(root):
            for db in sorted(_os.listdir(root)):
                dbp = _os.path.join(root, db)
                if not _os.path.isdir(dbp):
                    continue
                for tbl in sorted(_os.listdir(dbp)):
                    store = self.store(db, tbl)
                    if not store.exists():
                        continue
                    meta = store.read_meta()
                    snap = store.current_snapshot() or {}
                    tables.append(
                        {
                            "database": db,
                            "table": tbl,
                            "num_shards": meta.get("num_shards"),
                            "analyzer": meta.get("analyzer"),
                            "analyzed_fields": meta.get("analyzed_fields"),
                            "snapshot_id": store.current_snapshot_id(),
                            "n_docs": snap.get("n_docs"),
                        }
                    )
        return {
            "name": sc.appName,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_version": self.spark.version,
            "tables": tables,
        }

    def shutdown(self) -> None:
        """Reference ``Shutdown`` action (RetrievalFlightServer.java:354):
        release engine-held resources. The shared SparkContext belongs
        to the caller and is NOT stopped — only the engine's caches and
        its dedicated query session are dropped."""
        self._ctx_cache.clear()
        self._qspark = None

    # ---- persisted ANN over the table's vector column -------------------
    def build_vector_ann(
        self,
        vector_field: str,
        database: str = "default",
        table: str = "default",
        kind: str = "lsh",
        probe: Optional[Dict[str, Any]] = None,
        **params: Any,
    ) -> Dict[str, Any]:
        """Build a persisted ANN index over a stored vector column —
        the engine-level analog of the HNSW graph the reference builds
        at index time (SchemaUtils.java:104-110). ``kind`` is "lsh"
        (random-hyperplane buckets) or "ivf" (spherical k-means).

        Lifecycle: the index records the table snapshot it serves.
        Upserts APPEND their new vectors into the matching
        buckets/clusters, deletes ride the probe-time tombstone
        anti-join, and a compact drops the dead rows in place (round
        4), so ordinary mutations keep the index CURRENT (the engine
        bumps the recorded snapshot). Only a full rebuild leaves it
        stale — vector searches then silently fall back to the exact
        scan until this is re-run. ``probe``
        overrides the query-time probe width (default:
        {"probe_hamming": 2} for lsh, {"nprobe": 4} for ivf).
        """
        import json as _json
        import os as _os

        from byzer_retrieval_spark.functions.similarity import (
            IvfVectorIndex,
            LshVectorIndex,
        )

        store = self.store(database, table)
        ctx = self.ctx(database, table)
        docs = ctx.exclude_tombstones(ctx.docs())
        # ONE column-pruned scan yields both the vector count (the
        # structure-sizing input) and the dimensionality — previously a
        # first() job plus a separate count() job each scanned the
        # embedding column (round 6)
        row = docs.select(
            F.count(vector_field).alias("n"),
            F.first(F.size(F.col(vector_field)), ignorenulls=True).alias("d"),
        ).collect()[0]
        n_vec_all = int(row["n"])
        if n_vec_all == 0:
            raise ValueError(
                f"build_vector_ann: no non-null {vector_field!r} vectors in "
                f"{database}.{table} (empty or fully tombstoned table)"
            )
        dim = int(row["d"])
        path = _os.path.join(store.base, "ann", vector_field, kind)
        if kind == "lsh":
            if "num_planes" not in params:
                # bucket count 2^planes sized so a probe set stays a few
                # hundred vectors: planes ≈ log2(N / 128), clamped —
                # scale-adaptive instead of one fixed default
                import math as _math

                params = {
                    **params,
                    "num_planes": max(
                        8,
                        min(
                            20,
                            int(_math.log2(max(n_vec_all, 1) / 128.0 + 1)) + 1,
                        ),
                    ),
                }
            idx = LshVectorIndex(path, **params)
            probe = probe or {"probe_hamming": 2}
        elif kind == "ivf":
            # classic IVF sizing: √N centroids (FAISS guidance), clamped
            # to [16, 4096] — keeps a probe at ~√N vectors whether the
            # corpus is 10^4 or 10^9; the count comes from the same scan
            # that yielded dim
            n_vec = n_vec_all
            if "num_clusters" not in params:
                params = {
                    **params,
                    "num_clusters": max(16, min(4096, int(n_vec**0.5))),
                }
            idx = IvfVectorIndex(path, **params)
            probe = probe or {"nprobe": 4}
            # the sizing count doubles as the build's sample-fit count
            # (round 6) — one fewer full-scan job
            idx.build(
                docs, "_id", vector_field, dim=dim,
                extra_cols=("__docid",), n_vec=n_vec,
            )
        else:
            raise ValueError(f"unknown ANN kind {kind!r}")
        if kind == "lsh":
            idx.build(docs, "_id", vector_field, dim=dim, extra_cols=("__docid",))
        state = {
            "kind": kind,
            "field": vector_field,
            "params": params,
            "probe": probe,
            "snapshot_id": store.current_snapshot_id(),
        }
        from byzer_retrieval_spark.sources.storage import _atomic_write_json

        _atomic_write_json(
            _os.path.join(store.base, "ann", vector_field, "state.json"), state
        )
        return state

    # ---- incremental ANN maintenance (engine-level lifecycle) -----------
    # An upsert APPENDS its new vectors into their buckets/clusters (both
    # are pure functions of the vector — no structure re-learn) and bumps
    # the state snapshot; deletes only bump (probe-time tombstone
    # anti-joins hide the rows); a compact physically drops the dead
    # rows and bumps (round 4 — live docids survive a compact). Only a
    # FULL rebuild does NOT bump, so the strict snapshot check falls
    # back to the exact scan until build_vector_ann runs again (docids
    # change on rebuild).
    def _ann_states(self, store: IndexStore):
        import json as _json
        import os as _os

        root = _os.path.join(store.base, "ann")
        if not _os.path.isdir(root):
            return []
        out = []
        for fld in sorted(_os.listdir(root)):
            p = _os.path.join(root, fld, "state.json")
            if _os.path.exists(p):
                with open(p) as f:
                    out.append((fld, _json.load(f)))
        return out

    def _ann_index_of(self, store: IndexStore, field: str, state: Dict[str, Any]):
        import os as _os

        from byzer_retrieval_spark.functions.similarity import (
            IvfVectorIndex,
            LshVectorIndex,
        )

        cls = LshVectorIndex if state["kind"] == "lsh" else IvfVectorIndex
        return cls(
            _os.path.join(store.base, "ann", field, state["kind"]),
            **state.get("params", {}),
        )

    def _write_ann_state(self, store: IndexStore, field: str, state: Dict[str, Any]):
        import os as _os

        from byzer_retrieval_spark.sources.storage import _atomic_write_json

        _atomic_write_json(
            _os.path.join(store.base, "ann", field, "state.json"), state
        )

    def _ann_bump(self, store: IndexStore, pre_sid: int) -> None:
        """After a delete: indexes that were CURRENT stay current (the
        deleted rows are hidden by the probe-time tombstone anti-join)."""
        for fld, state in self._ann_states(store):
            if int(state.get("snapshot_id", -2)) == pre_sid:
                state["snapshot_id"] = store.current_snapshot_id()
                self._write_ann_state(store, fld, state)

    def _ann_after_upsert(
        self, database: str, table: str, rows: DataFrame, pre_sid: int
    ) -> None:
        """After an upsert: append the fresh doc versions (new __docids)
        of indexed vector fields, then bump. Old versions are tombstoned
        → hidden at probe time."""
        store = self.store(database, table)
        states = [
            (fld, st)
            for fld, st in self._ann_states(store)
            if int(st.get("snapshot_id", -2)) == pre_sid
        ]
        if not states:
            return
        from byzer_retrieval_spark.operators.indexer import _derive_ids

        cfg = self.config_from_meta(database, table)
        ids = _derive_ids(rows, cfg).select("_id").distinct()
        ctx = self.ctx(database, table)
        fresh = ctx.exclude_tombstones(
            ctx.docs().join(F.broadcast(ids), "_id", "left_semi")
        )
        for fld, state in states:
            if fld not in fresh.columns:
                # vectors for this field were NOT appended — leave the
                # index stale so the strict snapshot check forces the
                # exact-scan fallback (bumping here would silently drop
                # the upserted docs from ANN results)
                continue
            self._ann_index_of(store, fld, state).append(fresh, "_id", fld)
            state["appends"] = int(state.get("appends", 0)) + 1
            state["snapshot_id"] = store.current_snapshot_id()
            self._write_ann_state(store, fld, state)
            self._maybe_compact_ann(store, fld, state)

    # every N incremental appends, rewrite the ANN data dir so probe
    # reads stay one-file-set-per-partition under streamed upserts
    ANN_COMPACT_EVERY = 32

    def _maybe_compact_ann(
        self, store: IndexStore, field: str, state: Dict[str, Any]
    ) -> None:
        every = int(state.get("compact_every", self.ANN_COMPACT_EVERY))
        if int(state.get("appends", 0)) < every:
            return
        self._ann_index_of(store, field, state).compact(self.spark)
        state["appends"] = 0
        self._write_ann_state(store, field, state)

    def _current_ann(self, store: IndexStore, vector_field: str):
        """(index, probe_kw) when a persisted ANN index exists for the
        field AND matches the CURRENT snapshot; else None.

        The index INSTANCE is cached per (table, field, exact state) —
        round 6: its memoized data reader then survives across queries,
        so the per-probe driver-side partition listing (1.6-3.4 s on a
        707-cluster index) is paid once per state, not once per query.
        Any mutation bumps the state's snapshot_id and any rebuild
        rewrites state.json, either of which changes the cache key."""
        import json as _json
        import os as _os

        p = _os.path.join(store.base, "ann", vector_field or "", "state.json")
        if not vector_field or not _os.path.exists(p):
            return None
        with open(p) as f:
            raw = f.read()
        state = _json.loads(raw)
        if int(state.get("snapshot_id", -2)) != store.current_snapshot_id():
            return None  # stale after a full rebuild → exact fallback
        key = ("__ann__", store.base, vector_field)
        hit = self._ctx_cache.get(key)
        if hit is not None and hit[0] == raw:
            return hit[1], dict(state.get("probe", {}))
        from byzer_retrieval_spark.functions.similarity import (
            IvfVectorIndex,
            LshVectorIndex,
        )

        cls = LshVectorIndex if state["kind"] == "lsh" else IvfVectorIndex
        idx = cls(
            _os.path.join(store.base, "ann", vector_field, state["kind"]),
            **state.get("params", {}),
        )
        self._ctx_cache[key] = (raw, idx)
        return idx, dict(state.get("probe", {}))

    # ---- read path -------------------------------------------------------
    def search(
        self,
        query: SearchQuery,
        database: str = "default",
        table: str = "default",
        use_fast_path: bool = True,
    ) -> DataFrame:
        """Search dispatch mirroring the reference master
        (LocalRetrievalMaster.search, :174-259):

        - keyword only       → BM25 top-k (Q2): WAND fast path when
          applicable, else the declarative DataFrame path
        - vector only        → filtered exact KNN (Q3)
        - keyword AND vector → two recalls fused with RRF
          (isRRF = keyword && vectorField, LocalRetrievalMaster.java:185)
        """
        ctx = self.query_ctx(database, table)
        has_vec = bool(query.vector) and query.vector_field
        has_kw = query.keyword is not None and query.keyword.strip() != ""
        if has_vec:
            if not has_kw:
                return self._vector_recall(ctx, database, table, query)
            # hybrid: both recalls carry the docs PHYSICAL key
            # (shard_id, __docid) through rrf_fuse_keyed, so the final
            # stored-field join runs on the partition column — dynamic
            # partition pruning + row-group pruning, never a full-table
            # ``_id`` scan (round-2 verdict hot-path fix)
            from byzer_retrieval_spark.operators.fusion import rrf_fuse_keyed
            from byzer_retrieval_spark.operators.wand import search_winners

            kw_w = search_winners(ctx, query) if use_fast_path else None
            if kw_w is None and use_fast_path:
                # match-all / empty keyword recall (round 4): build the
                # keyed winners frame directly — constant score 1.0,
                # _id-ordered top-k over the filtered candidates, same
                # ranking as search_df's match-all branch — so the
                # hybrid stays on the DPP-pruned (shard_id, __docid)
                # stored-field join instead of the full-table _id join
                from byzer_retrieval_spark.plans.query import parse_keyword

                parsed = parse_keyword(query.keyword, ctx.analyzer)
                if parsed.match_all or parsed.empty:
                    from byzer_retrieval_spark.operators.scorer_df import (
                        _candidate_docs,
                    )

                    base = _candidate_docs(ctx, query)
                    base = ctx.exclude_tombstones(
                        base if base is not None else ctx.docs()
                    )
                    kw_w = (
                        base.orderBy(F.col("_id").asc())
                        .limit(query.limit)
                        .select(
                            "shard_id",
                            "__docid",
                            "_id",
                            F.lit(1.0).alias("_score"),
                        )
                    )
            if kw_w is not None:
                vec_w = self._vector_winners(ctx, database, table, query)
                fused = rrf_fuse_keyed([kw_w, vec_w], query.limit)
                out = ctx.docs().join(F.broadcast(fused), ["shard_id", "__docid"])
                return (
                    out.orderBy(F.col("_score").desc(), F.col("_id").asc())
                    .select("_score", *ctx.stored_columns())
                )
            # keyword shape outside the fast path AND outside the
            # match-all branch above (group-local +/- hybrids — rare):
            # oracle-grade DataFrame recalls fused by _id (disclosed
            # slow path)
            vec_recall = self._vector_recall(ctx, database, table, query)
            kw_recall = self._keyword_search(ctx, query, use_fast_path)
            fused = rrf_fuse([kw_recall, vec_recall], query.limit)
            # tombstone exclusion is required here: the _id join would
            # otherwise also match a superseded version still present
            # in the docs parquet (upsert appends, never rewrites)
            docs = ctx.exclude_tombstones(ctx.docs())
            out = docs.join(F.broadcast(fused), "_id")
            return (
                out.orderBy(F.col("_score").desc(), F.col("_id").asc())
                .select("_score", *ctx.stored_columns())
            )
        return self._keyword_search(ctx, query, use_fast_path)

    def _vector_recall(
        self, ctx: IndexContext, database: str, table: str, query: SearchQuery
    ) -> DataFrame:
        """Vector recall dispatch: a CURRENT persisted ANN index serves
        vector queries (like the reference always querying its HNSW
        graph). Filtered queries probe the SAME pruned buckets and gate
        the candidates on the filter tree; if the gated candidate set
        can't fill k (selective filter vs approximate probe), the query
        falls back to the exact filtered scan — recall never drops
        below the unfiltered ANN's. Stale/absent indexes take the exact
        scan."""
        from byzer_retrieval_spark.operators.knn import vector_topk, vector_topk_ann

        ann = self._current_ann(self.store(database, table), query.vector_field)
        if ann is not None:
            idx, probe_kw = ann
            if not query.filters:
                return vector_topk_ann(ctx, query, idx, **probe_kw)
            cand = self._ann_filtered_cand(ctx, query, idx, probe_kw)
            if cand is not None:
                return vector_topk_ann(ctx, query, idx, cand=cand, **probe_kw)
        return vector_topk(ctx, query)

    def _ann_filtered_cand(self, ctx: IndexContext, query: SearchQuery, idx, probe_kw):
        """The probed+filtered candidate frame, MATERIALIZED once
        (localCheckpoint), when it can fill k — else None (exact
        fallback). One job total: the can-fill count and the scoring
        both read the checkpointed partitions."""
        from byzer_retrieval_spark.operators.knn import ann_candidates

        cand = ann_candidates(ctx, query, idx, **probe_kw).localCheckpoint(
            eager=True
        )
        if cand.limit(query.limit).count() >= query.limit:
            return cand
        return None

    def _vector_winners(
        self, ctx: IndexContext, database: str, table: str, query: SearchQuery
    ) -> DataFrame:
        """Vector recall carrying (shard_id, __docid, _id, _score) —
        same dispatch as _vector_recall (ANN when current+unfiltered,
        else exact)."""
        from byzer_retrieval_spark.operators.knn import (
            vector_winners,
            vector_winners_ann,
        )

        ann = self._current_ann(self.store(database, table), query.vector_field)
        if ann is not None:
            idx, probe_kw = ann
            if not query.filters:
                return vector_winners_ann(ctx, query, idx, **probe_kw)
            cand = self._ann_filtered_cand(ctx, query, idx, probe_kw)
            if cand is not None:
                return vector_winners_ann(ctx, query, idx, cand=cand, **probe_kw)
        return vector_winners(ctx, query)

    def _keyword_search(
        self, ctx: IndexContext, query: SearchQuery, use_fast_path: bool = True
    ) -> DataFrame:
        if use_fast_path:
            fast = search_fast(ctx, query)
            if fast is not None:
                return fast
        return search_df(ctx, query)

    def search_slow(
        self, query: SearchQuery, database: str = "default", table: str = "default"
    ) -> DataFrame:
        return search_df(self.query_ctx(database, table), query)

    def filter(
        self,
        query: SearchQuery,
        database: str = "default",
        table: str = "default",
        per_shard_limit: bool = False,
    ) -> DataFrame:
        """Filter-mode query (L1-L4): no scoring, multi-sort, limit.
        ``per_shard_limit=True`` = the reference's exact L4 behavior
        (limit per shard, concatenated without a global re-limit)."""
        return filter_query(self.query_ctx(database, table), query, per_shard_limit)

    def batch_filter(
        self,
        queries: List[SearchQuery],
        database: str = "default",
        table: str = "default",
        per_shard_limit: bool = False,
    ) -> DataFrame:
        """The reference ``filter(queryJson)`` LIST surface (L1,
        RetrievalMaster.java:201-250): every filter-mode query's result
        tagged with its ``query_id`` plus a deterministic per-query
        ``__rank`` (the query's own multi-sort order — union ordering
        alone is not a contract), unioned into ONE DataFrame so a
        collect pays the job-scheduling floor once per batch. Each
        branch's docs scan keeps its own pushed-down predicates."""
        import json as _json

        from pyspark.sql import Window

        from byzer_retrieval_spark.plans.query import (
            _leaf_to_column,
            filter_leaves,
            filters_to_column,
            sorts_to_columns,
        )

        ctx = self.query_ctx(database, table)
        if not queries:
            # empty batch is a legal caller state on the reference's
            # list surface — an empty result with the output schema
            return ctx.docs().limit(0).select(
                F.lit(0).cast("int").alias("query_id"),
                F.lit(0).cast("int").alias("__rank"),
                *ctx.stored_columns(),
            )
        # Queries with a truthy limit batch into ONE docs scan per
        # distinct sort spec: every tree compiles to a Column predicate,
        # a row explodes into the query ids it matches, a per-(query,
        # shard) pre-cut bounds the rank shuffle at shards×k rows per
        # query, and one partitioned window ranks all queries of the
        # group. Keeps the plan (and Catalyst time) constant-size per
        # distinct sort spec instead of one scan+union branch per query
        # (round 4 — same discipline as batch_search). Analyzed-field
        # leaves ride the SAME tagged scan since round 5: every distinct
        # (field, tokens) leaf across the batch resolves through ONE
        # postings-membership join that attaches the per-doc set of
        # matched leaf ids — a leaf's predicate is then array_contains,
        # composable under any and/or nesting, and the join count stays
        # constant in both batch size and distinct-leaf count. Only the
        # per_shard_limit L4 mode and falsy (unlimited) limits keep
        # their own filter_query branch.
        analyzed = set(ctx.analyzed_fields)

        batched: List[tuple] = []
        legacy: List[tuple] = []
        for qid, q in enumerate(queries):
            # falsy limit = unlimited in filter_query — legacy branch
            target = (
                batched if (not per_shard_limit and q.limit) else legacy
            )
            target.append((qid, q))

        parts = []
        if batched:
            from byzer_retrieval_spark.functions.analyzer import tokenize_py
            from byzer_retrieval_spark.operators.decode import flat_postings

            docs = ctx.exclude_tombstones(ctx.docs())
            # batch-wide analyzed-leaf resolution: distinct (field,
            # tokens) specs → leaf ids; ONE term-pruned postings scan +
            # ONE broadcast join + ONE left join onto docs
            leaf_lid: Dict[int, int] = {}
            spec_lid: Dict[tuple, int] = {}
            for _qid, q in batched:
                for leaf in filter_leaves(q.filters or {}):
                    fld = leaf.get("field")
                    if fld not in analyzed:
                        continue
                    if "value" not in leaf:
                        raise ValueError(
                            f"range filter on analyzed field {fld!r} is "
                            "not supported (the reference parses analyzed "
                            "filter values as full-text queries — "
                            "SchemaUtils.java:170-173)"
                        )
                    key = (
                        fld,
                        tuple(tokenize_py(str(leaf["value"]), ctx.analyzer)),
                    )
                    lid = spec_lid.setdefault(key, len(spec_lid))
                    leaf_lid[id(leaf)] = lid
            if spec_lid:
                pairs = [
                    (lid, fld, t)
                    for (fld, toks), lid in spec_lid.items()
                    for t in toks
                ]
                spec_df = ctx.spark.createDataFrame(
                    pairs, "lid int, field string, term string"
                )
                hits = (
                    flat_postings(
                        ctx.postings().filter(
                            F.col("field").isin(
                                sorted({p[1] for p in pairs})
                            )
                            & F.col("term").isin(
                                sorted({p[2] for p in pairs})
                            )
                        )
                    )
                    .join(F.broadcast(spec_df), ["field", "term"])
                    .select("__docid", "lid")
                    .distinct()
                    .groupBy("__docid")
                    .agg(F.collect_set("lid").alias("__af_set"))
                )
                docs = docs.join(hits, "__docid", "left")

            def leaf_fn(leaf: Dict[str, Any]) -> Column:
                lid = leaf_lid.get(id(leaf))
                if lid is None:
                    return _leaf_to_column(leaf)
                return F.coalesce(
                    F.array_contains(F.col("__af_set"), F.lit(lid)),
                    F.lit(False),
                )

            groups: Dict[str, list] = {}
            for qid, q in batched:
                sk = _json.dumps(q.sorts or [], sort_keys=True)
                groups.setdefault(sk, []).append((qid, q))
            # created on the CONTEXT's session (the dedicated query
            # session) so the join stays within one SQLConf
            lim_df = ctx.spark.createDataFrame(
                [(int(qid), int(q.limit)) for qid, q in batched],
                "query_id int, __klim int",
            )
            # ONE tagged frame per sort-spec group. For very large
            # groups (hundreds of predicates) the array-of-WHEN exceeds
            # janino's method limit and Spark falls back to interpreted
            # evaluation for that expression — measured FASTER than
            # splitting into per-chunk scans (one docs scan beats N):
            # 500 queries = 17 s unsplit vs 38-46 s chunked at 64/128.
            for _sk, members in groups.items():
                qid_arr = F.array(
                    *[
                        F.when(
                            filters_to_column(q.filters, leaf_fn)
                            if q.filters
                            else F.lit(True),
                            F.lit(int(qid)),
                        )
                        for qid, q in members
                    ]
                )
                tagged = docs.withColumn(
                    "query_id", F.explode(qid_arr)
                ).filter(F.col("query_id").isNotNull())
                order = sorts_to_columns(members[0][1].sorts or []) + [
                    F.col("_id").asc()
                ]
                w1 = Window.partitionBy("query_id", "shard_id").orderBy(*order)
                w2 = Window.partitionBy("query_id").orderBy(*order)
                ranked = (
                    tagged.withColumn("__pr", F.row_number().over(w1))
                    .join(F.broadcast(lim_df), "query_id")
                    .filter(F.col("__pr") <= F.col("__klim"))
                    .withColumn("__rank", F.row_number().over(w2))
                    .filter(F.col("__rank") <= F.col("__klim"))
                )
                parts.append(
                    ranked.select(
                        F.col("query_id").cast("int").alias("query_id"),
                        "__rank",
                        *ctx.stored_columns(),
                    )
                )
        for qid, q in legacy:
            w = Window.orderBy(*(sorts_to_columns(q.sorts) + [F.col("_id").asc()]))
            parts.append(
                filter_query(ctx, q, per_shard_limit)
                .withColumn("query_id", F.lit(qid).cast("int"))
                .withColumn("__rank", F.row_number().over(w))
                .select("query_id", "__rank", *ctx.stored_columns())
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select("query_id", "__rank", *ctx.stored_columns())

    def batch_search(
        self,
        queries: List[SearchQuery],
        database: str = "default",
        table: str = "default",
    ) -> DataFrame:
        """MANY queries in ONE Spark job (the scheduling floor is paid
        once per batch, not per query) — returns (query_id, _score,
        stored...) with per-query global top-k. Accepts ANY SearchQuery
        list (reference filter() parity, RetrievalMaster.java:201-250):

        - keyword queries (every clause shape incl. nested boolean
          groups, plus per-query filters) share ONE postings scan
          (operators/batch.py);
        - unfiltered VECTOR queries over a CURRENT persisted ANN index
          share ONE partition-pruned index scan per vector field,
          tagged by query_id (knn.batch_vector_winners_ann — round 5);
        - HYBRID queries fuse their batched keyword winners with their
          batched vector winners via one tagged keyed-RRF
          (fusion.rrf_fuse_keyed_tagged) — rank semantics identical to
          the single-query path;
        - everything funnels into ONE DPP-pruned stored-field join.

        Match-all keyword members (round 5) ride the batch_filter
        one-scan machinery: ALL of them share ONE tombstone-excluded
        docs scan (score is the constant 1.0, the order is the
        match-all tie order ``_id asc``, filters — stored AND analyzed
        leaves — compile into the same tagged explode), so a batch of
        N match-all queries no longer adds N docs-scan branches to the
        plan. Match-all/empty-keyword HYBRIDS batch too (round 5): their
        keyword recall is one shared _id-ordered constant-score head of
        docs, fused with the batched vector probe. FILTERED vector
        members AND filtered hybrids batch as well (round 5): one
        shared tagged probe, gated per query via one filtered_docs
        scan per distinct tree, with the single-query can-fill-k
        contract intact (a filtered hybrid's filters gate both recalls
        — the keyword side rides the batch as a tagged allow set).
        Every SearchQuery SHAPE batches; the only per-query fallbacks
        left are data- or config-dependent: a stale/absent ANN index
        under a HYBRID member (pure vector members then share one
        EXACT scan per distinct filter tree instead), an underfilled
        gated probe (candidates < k — the exact-scan recall
        guarantee), and falsy-limit members."""
        from byzer_retrieval_spark.operators.batch import (
            batch_search_winners,
            is_batchable,
        )
        from byzer_retrieval_spark.operators.fusion import rrf_fuse_keyed_tagged
        from byzer_retrieval_spark.operators.knn import batch_vector_winners_ann
        from byzer_retrieval_spark.plans.query import parse_keyword

        ctx = self.query_ctx(database, table)
        stored = ctx.stored_columns()
        if not queries:
            return ctx.docs().limit(0).select(
                F.lit(0).cast("int").alias("query_id"),
                F.lit(0.0).alias("_score"),
                *stored,
            )
        store = self.store(database, table)
        kw_queries: List[SearchQuery] = []  # keyword batch (incl. hybrid kw sides)
        kw_specs: List[tuple] = []          # (pos, caller_qid, is_hybrid)
        vec_items: Dict[str, list] = {}     # vector_field → [(qid, q)]
        fvec_items: Dict[str, list] = {}    # FILTERED vector members
        fhyb_items: Dict[str, list] = {}    # FILTERED hybrid members
        hyb_items: Dict[str, list] = {}
        hyb_ma_items: Dict[str, list] = {}  # match-all-keyword hybrids
        exact_vec_items: List[tuple] = []   # stale/absent-ANN vectors
        ma_items: List[tuple] = []          # match-all keyword members
        fallback: List[tuple] = []
        ann_cache: Dict[str, Any] = {}
        for qid, q in enumerate(queries):
            parsed = parse_keyword(q.keyword, ctx.analyzer)
            has_vec = bool(q.vector) and q.vector_field
            if not has_vec:
                if is_batchable(parsed, q):
                    kw_queries.append(q)
                    kw_specs.append((len(kw_queries) - 1, qid, False))
                elif parsed.match_all and q.limit:
                    ma_items.append((qid, q))
                else:
                    fallback.append((qid, q))
                continue
            fld = q.vector_field
            if fld not in ann_cache:
                ann_cache[fld] = self._current_ann(store, fld)
            ann = ann_cache[fld]
            # the batched probe needs the physical key in the index rows
            usable = (
                ann is not None and "__docid" in ann[0]._extra_cols()
            )
            has_kw = q.keyword is not None and q.keyword.strip() != ""
            if not usable and not has_kw and q.limit:
                # stale/absent ANN (round 5): pure vector members share
                # one EXACT scan per distinct (tree, field) instead of
                # one full scan each (knn.batch_vector_winners_exact)
                exact_vec_items.append((qid, q))
            elif not usable or (q.filters and not q.limit):
                fallback.append((qid, q))
            elif not has_kw:
                if q.filters:
                    # filtered vector members: batched probe + per-query
                    # gate + can-fill-k (knn.batch_vector_winners_ann_
                    # filtered); underfilled ones fall back per query
                    fvec_items.setdefault(fld, []).append((qid, q))
                else:
                    vec_items.setdefault(fld, []).append((qid, q))
            else:
                # the hybrid's keyword recall keeps the query's filters
                # (they gate BOTH recalls, reference semantics) — they
                # ride the keyword batch as a tagged allow set
                kw_only = SearchQuery(
                    keyword=q.keyword,
                    fields=list(q.fields),
                    filters=dict(q.filters or {}),
                    limit=q.limit,
                )
                if is_batchable(parsed, kw_only):
                    if q.filters:
                        # FILTERED hybrid (round 5): vector side goes
                        # through the gated batched probe; if it
                        # underfills, the whole query falls back and
                        # its kw winners are dropped from the fusion
                        fhyb_items.setdefault(fld, []).append((qid, q))
                    else:
                        hyb_items.setdefault(fld, []).append((qid, q))
                    kw_queries.append(kw_only)
                    kw_specs.append((len(kw_queries) - 1, qid, True))
                elif (parsed.match_all or parsed.empty) and q.limit:
                    # match-all/empty-keyword hybrid (round 5): the
                    # keyword recall is the constant-score _id-ordered
                    # head of the (optionally filtered) docs — same as
                    # search()'s match-all keyed winners; one shared
                    # subplan per distinct filter tree serves every such
                    # member, fused below with its batched vector probe
                    hyb_ma_items.setdefault(fld, []).append((qid, q))
                else:
                    fallback.append((qid, q))

        spark = ctx.spark
        win_parts: List[DataFrame] = []  # (query_id, shard_id, __docid, _score)
        kw_hyb = None
        if kw_queries:
            kwin = batch_search_winners(ctx, kw_queries)
            pos_df = spark.createDataFrame(
                [(int(pos), int(cq), bool(hy)) for pos, cq, hy in kw_specs],
                "query_id int, __cqid int, __hy boolean",
            )
            base = kwin.join(F.broadcast(pos_df), "query_id").select(
                F.col("__cqid").alias("query_id"),
                "shard_id", "__docid", "_id", "_score", "__hy",
            )
            if any(not hy for _, _, hy in kw_specs):
                win_parts.append(base.filter(~F.col("__hy")).drop("__hy", "_id"))
            if any(hy for _, _, hy in kw_specs):
                kw_hyb = base.filter(F.col("__hy")).drop("__hy")
        for fld, items in vec_items.items():
            idx, probe_kw = ann_cache[fld]
            win_parts.append(
                batch_vector_winners_ann(ctx, items, idx, **probe_kw).drop("_id")
            )
        for fld, items in fvec_items.items():
            from byzer_retrieval_spark.operators.knn import (
                batch_vector_winners_ann_filtered,
            )

            idx, probe_kw = ann_cache[fld]
            fw, under = batch_vector_winners_ann_filtered(
                ctx, items, idx, **probe_kw
            )
            if fw is not None:
                win_parts.append(fw.drop("_id"))
            # underfilled PURE-vector members (round 6): share the exact
            # scan per distinct filter tree (the stale-ANN machinery)
            # instead of one per-query fallback each — an adversarial
            # batch where no probe fills k stays O(distinct trees) jobs.
            # Scores are the same zip_with/aggregate arithmetic as the
            # per-query exact scan (bit-identical, r5-pinned).
            exact_vec_items.extend(qq for qq in under if qq[1].limit)
            fallback.extend(qq for qq in under if not qq[1].limit)
        if exact_vec_items:
            from byzer_retrieval_spark.operators.knn import (
                batch_vector_winners_exact,
            )

            win_parts.append(
                batch_vector_winners_exact(ctx, exact_vec_items).drop("_id")
            )
        fhyb_filled: Dict[str, list] = {}
        if fhyb_items:
            # filtered-hybrid vector sides: gated batched probe with the
            # can-fill contract; an underfilled member falls back WHOLE
            # (its kw winners are dropped from the fusion below)
            from byzer_retrieval_spark.operators.knn import (
                batch_vector_winners_ann_filtered,
            )

            under_ids: set = set()
            fhyb_vec_parts: List[DataFrame] = []
            for fld, items in fhyb_items.items():
                idx, probe_kw = ann_cache[fld]
                fw, under = batch_vector_winners_ann_filtered(
                    ctx, items, idx, **probe_kw
                )
                uq = {int(qid) for qid, _ in under}
                under_ids |= uq
                fallback.extend(under)
                filled = [(qid, q) for qid, q in items if int(qid) not in uq]
                if filled:
                    fhyb_filled[fld] = filled
                if fw is not None:
                    fhyb_vec_parts.append(fw)
            if under_ids and kw_hyb is not None:
                kw_hyb = kw_hyb.filter(
                    ~F.col("query_id").isin(sorted(under_ids))
                )
        # match-all hybrids: split per member — unfiltered vector sides
        # ride the plain batched probe, FILTERED ones the gated probe
        # with the can-fill contract (underfilled members fall back
        # whole; their kw head is simply never built)
        hyb_ma_filled: List[tuple] = []
        hyb_ma_vec_parts: List[DataFrame] = []
        if hyb_ma_items:
            from byzer_retrieval_spark.operators.knn import (
                batch_vector_winners_ann_filtered as _bvwaf,
            )

            for fld, items in hyb_ma_items.items():
                idx, probe_kw = ann_cache[fld]
                unf = [(qid, q) for qid, q in items if not q.filters]
                flt = [(qid, q) for qid, q in items if q.filters]
                if unf:
                    hyb_ma_vec_parts.append(
                        batch_vector_winners_ann(ctx, unf, idx, **probe_kw)
                    )
                    hyb_ma_filled.extend(unf)
                if flt:
                    fw, under = _bvwaf(ctx, flt, idx, **probe_kw)
                    if fw is not None:
                        hyb_ma_vec_parts.append(fw)
                    fallback.extend(under)
                    uq = {int(qid) for qid, _ in under}
                    hyb_ma_filled.extend(
                        (qid, q) for qid, q in flt if int(qid) not in uq
                    )
        if hyb_items or hyb_ma_filled or fhyb_filled:
            import json as _json

            from pyspark.sql import Window

            from byzer_retrieval_spark.operators.filtering import filtered_docs

            both_parts: List[DataFrame] = []
            if kw_hyb is not None:
                both_parts.append(kw_hyb.withColumn("__recall", F.lit(0)))
            for fw in fhyb_vec_parts if fhyb_items else []:
                both_parts.append(fw.withColumn("__recall", F.lit(1)))
            for fw in hyb_ma_vec_parts:
                both_parts.append(fw.withColumn("__recall", F.lit(1)))
            if hyb_ma_filled:
                # shared keyword recall per DISTINCT filter tree: the
                # _id-ordered constant-score head of the (filtered) docs
                # (mirrors search()'s match-all keyed winners), ranked
                # once and cut per member limit via a literal (qid, k)
                # explode — bounded at max-limit rows per tree
                groups: Dict[str, list] = {}
                for qid, q in hyb_ma_filled:
                    key = _json.dumps(q.filters or {}, sort_keys=True)
                    groups.setdefault(key, []).append((qid, q))
                for members in groups.values():
                    tree = members[0][1].filters or {}
                    base = filtered_docs(ctx, tree) if tree else ctx.docs()
                    maxk = max(q.limit for _, q in members)
                    kw_base = (
                        ctx.exclude_tombstones(base)
                        .orderBy(F.col("_id").asc())
                        .limit(int(maxk))
                        .select(
                            "shard_id", "__docid", "_id",
                            F.lit(1.0).alias("_score"),
                        )
                        .withColumn(
                            "__rn",
                            F.row_number().over(
                                Window.orderBy(F.col("_id").asc())
                            ),
                        )
                    )
                    pairs = F.array(
                        *[
                            F.struct(
                                F.lit(int(qid)).alias("q"),
                                F.lit(int(q.limit)).alias("k"),
                            )
                            for qid, q in members
                        ]
                    )
                    both_parts.append(
                        kw_base.withColumn("__p", F.explode(pairs))
                        .filter(F.col("__rn") <= F.col("__p.k"))
                        .select(
                            F.col("__p.q").alias("query_id"),
                            "shard_id", "__docid", "_id", "_score",
                        )
                        .withColumn("__recall", F.lit(0))
                    )
            for fld, items in hyb_items.items():
                idx, probe_kw = ann_cache[fld]
                both_parts.append(
                    batch_vector_winners_ann(ctx, items, idx, **probe_kw)
                    .withColumn("__recall", F.lit(1))
                )
            both = both_parts[0]
            for p in both_parts[1:]:
                both = both.unionByName(p)
            limits = spark.createDataFrame(
                [
                    (int(qid), int(q.limit))
                    for qid, q in [
                        (qid, q)
                        for items in list(hyb_items.values())
                        + list(fhyb_filled.values())
                        for qid, q in items
                    ]
                    + hyb_ma_filled
                ],
                "query_id int, __klim int",
            )
            win_parts.append(rrf_fuse_keyed_tagged(both, limits).drop("_id"))

        parts: List[DataFrame] = []
        if win_parts:
            wall = win_parts[0]
            for p in win_parts[1:]:
                wall = wall.unionByName(p)
            # ONE stored-field materialization for keyword + vector +
            # hybrid winners: shard_id is the docs partition column →
            # dynamic partition pruning scans only winner shards
            parts.append(
                ctx.docs()
                .join(F.broadcast(wall), ["shard_id", "__docid"])
                .select("query_id", "_score", *stored)
            )
        if ma_items:
            # match-all members: score is constant 1.0 and the order is
            # the match-all tie order (_id asc) — exactly batch_filter's
            # batched branch with sorts=[], so ALL of them share its ONE
            # docs scan (and its batch-wide analyzed-leaf join)
            # sorts are stripped: search() ignores q.sorts for match-all
            # (score-ordered surface), so the batch must too
            mf = self.batch_filter(
                [
                    dataclasses.replace(q, sorts=[])
                    for _, q in ma_items
                ],
                database,
                table,
            )
            remap = spark.createDataFrame(
                [(pos, int(qid)) for pos, (qid, _) in enumerate(ma_items)],
                "query_id int, __cqid int",
            )
            parts.append(
                mf.join(F.broadcast(remap), "query_id").select(
                    F.col("__cqid").alias("query_id"),
                    F.lit(1.0).alias("_score"),
                    *stored,
                )
            )
        for qid, q in fallback:
            parts.append(
                self.search(q, database, table).withColumn(
                    "query_id", F.lit(qid).cast("int")
                ).select("query_id", "_score", *stored)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(
            "query_id", F.col("_score").desc(), F.col("_id").asc()
        )

    def multi_search(
        self,
        queries: List[SearchQuery],
        database: str = "default",
        table: str = "default",
        rrf: bool = False,
        limit: Optional[int] = None,
    ) -> DataFrame:
        """Multiple recalls fused (M2/M3): score-sum by default, RRF when
        ``rrf`` (hybrid semantics, RetrievalMaster.java:162-192,326-342).

        When every recall is batchable, the recalls run in ONE job via
        batch_search and fuse from the query_id-tagged result — the
        multi-recall scheduling floor is paid once; otherwise each
        recall executes via ``search`` and the list-based fusion
        applies (identical semantics, tested)."""
        from byzer_retrieval_spark.operators.batch import is_batchable
        from byzer_retrieval_spark.operators.fusion import (
            rrf_fuse_tagged,
            score_sum_fuse_tagged,
        )
        from byzer_retrieval_spark.plans.query import parse_keyword

        lim = limit or max(q.limit for q in queries)
        ctx = self.query_ctx(database, table)
        if all(
            is_batchable(parse_keyword(q.keyword, ctx.analyzer), q)
            for q in queries
        ):
            tagged = self.batch_search(queries, database, table)
            return (
                rrf_fuse_tagged(tagged, lim)
                if rrf
                else score_sum_fuse_tagged(tagged, lim)
            )
        recalls = [self.search(q, database, table) for q in queries]
        fused = rrf_fuse(recalls, lim) if rrf else score_sum_fuse(recalls, lim)
        return fused

    # ---- JSON client surface (reference Flight API shape) ---------------
    def build_from_local(
        self,
        json_rows: Iterable[Any],
        database: str = "default",
        table: str = "default",
    ) -> Dict[str, Any]:
        """Reference ``BuildFromLocal``: list of JSON strings (or dicts),
        upserted by ``_id`` (RetrievalFlightServer.java:186-228,
        LocalRetrievalMaster.java:65-100 — updateDocument semantics)."""
        import json as _json

        rows = [
            _json.loads(r) if isinstance(r, str) else dict(r) for r in json_rows
        ]
        for r in rows:
            if "_id" not in r:
                raise ValueError("_id is required")  # RetrievalMaster.java:116-122
        df = self.spark.createDataFrame(rows)
        store = self.store(database, table)
        if store.current_snapshot() is not None:
            return self.upsert(df, database, table)
        return self.build(df, database, table)

    def search_json(
        self, query_json: str, database: str = "default", table: str = "default"
    ) -> str:
        """Reference ``search(queryJson)``: a JSON list of SearchQuery →
        JSON list of docs with ``_score`` injected. Multiple queries are
        score-sum fused (RetrievalMaster.java:326-357)."""
        import json as _json

        qs = SearchQuery.from_json(query_json)
        if len(qs) == 1:
            rows = self.search(qs[0], database, table).collect()
            return _json.dumps([r.asDict(recursive=True) for r in rows])
        fused = self.multi_search(qs, database, table)
        out = fused.collect()
        return _json.dumps([r.asDict(recursive=True) for r in out])

    def get_by_ids(
        self, ids: Iterable[Any], database: str = "default", table: str = "default"
    ) -> DataFrame:
        """Point lookups (G1, python_api.md:163-169)."""
        ctx = self.query_ctx(database, table)
        docs = ctx.docs()
        out = docs.filter(F.col("_id").isin([str(i) for i in ids]))
        out = ctx.exclude_tombstones(out)
        return out.select(*ctx.stored_columns()).orderBy("_id")
