"""Vector KNN search over a stored array<float> column (SURVEY §2.1 Q3).

The reference's vector path is Lucene HNSW with COSINE similarity
(KnnFloatVectorQuery, reference: RetrievalWorker.java:346-366; field def
SchemaUtils.java:104-110, maxConn=16 beamWidth=100). Our Spark-first
equivalents:

- EXACT brute-force cosine top-k (this module): the dot products are
  pure Catalyst expressions over the columnar docs scan — at any k,
  strictly better recall than HNSW (recall 1.0), and on a cluster the
  scan parallelizes perfectly. Filters compose as ordinary Column
  predicates BEFORE scoring — exactly Lucene's filtered-KNN semantics.
- APPROXIMATE path at extreme scale: the persisted
  functions/similarity.LshVectorIndex — bucket ids are PARTITION
  columns computed at build time, so a query's probe set prunes whole
  bucket directories (the engine's analog of the reference's
  index-time HNSW graph).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from byzer_retrieval_spark.functions.similarity import _cosine_expr
from byzer_retrieval_spark.operators.context import IndexContext
from byzer_retrieval_spark.plans.query import SearchQuery


def vector_topk(ctx: IndexContext, query: SearchQuery) -> DataFrame:
    """Filtered exact KNN: top-k by cosine over ``query.vector_field``.

    Returns (_score=cosine, stored fields...), ordered (score desc, _id).
    """
    from byzer_retrieval_spark.operators.filtering import filtered_docs

    cand = filtered_docs(ctx, query.filters)
    docs = cand if cand is not None else ctx.docs()
    docs = ctx.exclude_tombstones(docs)
    stored = ctx.stored_columns()
    scored = docs.withColumn(
        "_score", _cosine_expr(query.vector_field, [float(x) for x in query.vector])
    )
    return (
        scored.orderBy(F.col("_score").desc(), F.col("_id").asc())
        .limit(query.limit)
        .select("_score", *stored)
    )


def vector_winners(ctx: IndexContext, query: SearchQuery) -> DataFrame:
    """Exact-KNN top-k carrying the docs physical key: (shard_id,
    __docid, _id, _score) — the hybrid-fusion recall frame, the vector
    side of wand.search_winners, whose scorer task reads the keyword
    winners' ``_id`` from the docs files itself."""
    from byzer_retrieval_spark.operators.filtering import filtered_docs

    cand = filtered_docs(ctx, query.filters)
    docs = cand if cand is not None else ctx.docs()
    docs = ctx.exclude_tombstones(docs)
    scored = docs.withColumn(
        "_score", _cosine_expr(query.vector_field, [float(x) for x in query.vector])
    )
    return (
        scored.orderBy(F.col("_score").desc(), F.col("_id").asc())
        .limit(query.limit)
        .select("shard_id", "__docid", "_id", "_score")
    )


def ann_candidates(
    ctx: IndexContext, query: SearchQuery, index, **probe_kw
) -> DataFrame:
    """Probed candidate set for an engine ANN search: partition-pruned
    index read, LIVE rows only (tombstone anti-join BEFORE any top-k
    cut — an upsert's superseded version or a deleted doc must not
    occupy a winner slot), and — when the query carries filters — gated
    to the filter-tree survivors via a DPP-pruned join: candidates
    derive shard_id from their docid top bits and broadcast into the
    filtered docs scan, so the filter evaluates only on winner shards
    with its predicates pushed down."""
    from byzer_retrieval_spark.operators.filtering import filtered_docs

    qv = [float(x) for x in query.vector]
    cand = ctx.exclude_tombstones(index.candidates(ctx.spark, qv, **probe_kw))
    if query.filters:
        flt = filtered_docs(ctx, query.filters).select("shard_id", "__docid")
        cand = cand.withColumn(
            "shard_id",
            F.shiftright("__docid", ctx.doc_bits).cast("int"),
        )
        cand = flt.join(F.broadcast(cand), ["shard_id", "__docid"]).drop("shard_id")
    return cand


def vector_winners_ann(
    ctx: IndexContext, query: SearchQuery, index, cand: Optional[DataFrame] = None, **probe_kw
) -> DataFrame:
    """ANN top-k carrying the docs physical key (see vector_topk_ann
    for the probe/pruning shape). ``cand`` short-circuits the probe
    with an already-materialized candidate frame (the engine's
    filtered-dispatch can-fill check localCheckpoints it so the probe
    executes once, not twice)."""
    qv = [float(x) for x in query.vector]
    if cand is None:
        cand = ann_candidates(ctx, query, index, **probe_kw)
    scored = cand.withColumn("_score", _cosine_expr("vec", qv))
    return (
        scored.orderBy(F.col("_score").desc(), F.col("id").asc())
        .limit(query.limit)
        .select(
            F.shiftright("__docid", ctx.doc_bits).cast("int").alias("shard_id"),
            "__docid",
            F.col("id").alias("_id"),
            "_score",
        )
    )


def _batch_tagged_candidates(ctx: IndexContext, items, index, **probe_kw):
    """Shared tagged probe for the batched vector paths: ONE
    partition-pruned index scan for all queries, each surviving row
    tagged with its query ids, LIVE rows only. Returns (tagged, qrows)
    where tagged = (query_id, id, vec, *extras) and qrows carries each
    query's (id, vector, qnorm, limit) for the scoring join."""
    from byzer_retrieval_spark.functions.similarity import _qnorm

    spark = ctx.spark
    extras = index._extra_cols()
    dedup_cols = ["query_id", "id"] + extras
    key_cols = list(index.probe_key_cols)
    qrows = []
    key_rows: Optional[list] = []
    for qid, q in items:
        qv = [float(x) for x in q.vector]
        qrows.append((int(qid), qv, _qnorm(qv), int(q.limit)))
        if key_rows is not None:
            pk = index.probe_keys(qv, **probe_kw)
            if pk is None:
                key_rows = None  # someone needs a full scan → fallback
            else:
                key_rows.extend((int(qid), *k) for k in pk)
    data = index._data(spark)
    # per-query dedup is only needed across LSH table REPLICAS (a row
    # exists once per table, so two probed tables can both return it);
    # an IVF row exists exactly once and every (query, partition-key)
    # pair is distinct — the dropDuplicates exchange there shuffled the
    # full fat candidate set for nothing (round 6)
    replicated = getattr(index, "replicated", True)
    if key_rows is not None:
        kdf = spark.createDataFrame(
            key_rows,
            ", ".join(
                ["query_id int"] + [f"{c} int" for c in key_cols]
            ),
        )
        # static partition pruning from the distinct-key IN lists, then
        # O(1)-per-row tagging via the broadcast key join
        distinct = {k[1:] for k in key_rows}
        prune = F.lit(True)
        for i, c in enumerate(key_cols):
            prune = prune & F.col(c).isin(sorted({k[i] for k in distinct}))
        tagged = (
            data.filter(prune)
            .join(F.broadcast(kdf), key_cols)
            .select("query_id", "id", "vec", *extras)
        )
        if replicated:
            tagged = tagged.dropDuplicates(dedup_cols)
    else:
        conds = [
            (int(qid), index.probe_condition([float(x) for x in q.vector], **probe_kw))
            for qid, q in items
        ]
        tag = F.array(*[F.when(c, F.lit(qid)) for qid, c in conds])
        tagged = (
            data.withColumn("query_id", F.explode(tag))
            .filter(F.col("query_id").isNotNull())
            .select("query_id", "id", "vec", *extras)
        )
        if replicated:
            # dedup across LSH table replicas; keys include the extras
            # so old+new versions of an upserted id both survive to the
            # tombstone anti-join (same discipline as candidates())
            tagged = tagged.dropDuplicates(dedup_cols)
    return ctx.exclude_tombstones(tagged), qrows


def batch_vector_winners_ann_filtered(ctx: IndexContext, items, index, **probe_kw):
    """FILTERED vector batch members (round 5): the same ONE tagged
    probe as the unfiltered batch, gated per query by its filter tree
    with single-query parity, and the per-query can-fill-k dispatch
    decided from one materialized frame.

    Gate shape (all broadcast joins, no shuffle join): the candidates'
    slim KEYS (query_id, shard_id, __docid) broadcast into ONE
    ``filtered_docs`` scan per DISTINCT filter tree (the same machinery
    the single-query gate uses — analyzed leaves included; scans are
    DPP-pruned to candidate shards with predicates pushed down), and
    the surviving keys broadcast back onto the fat (vec-carrying)
    candidate rows. The gated frame is localCheckpointed once; the
    per-query counts and the scoring both read it — mirroring the
    single-query ``_ann_filtered_cand`` contract, so a query whose
    gated candidates can't fill k falls back to its exact filtered
    scan and recall never drops below the unfiltered ANN's.

    Returns (winners_df_or_None, underfilled_items): winners for every
    query whose gated candidates fill k, and the (qid, query) list the
    caller must serve per-query."""
    import json as _json

    from pyspark.sql import Window

    from byzer_retrieval_spark.functions.similarity import _cosine_expr_col
    from byzer_retrieval_spark.operators.filtering import filtered_docs

    spark = ctx.spark
    tagged, qrows = _batch_tagged_candidates(ctx, items, index, **probe_kw)
    tagged = tagged.withColumn(
        "shard_id", F.shiftright("__docid", ctx.doc_bits).cast("int")
    ).localCheckpoint(eager=True)
    # ^ materialized ONCE (round 6): the gate below references the
    # tagged frame twice (slim keys feeding the allow scan, fat rows
    # receiving the surviving keys) and without the checkpoint the
    # partition-pruned index scan executed twice inside the gated job
    # one allow scan per DISTINCT filter tree, tagged by tree id
    tree_gid: dict = {}
    qid_gid = []
    for qid, q in items:
        key = _json.dumps(q.filters, sort_keys=True)
        gid = tree_gid.setdefault(key, (len(tree_gid), q.filters))[0]
        qid_gid.append((int(qid), gid))
    allow = None
    for gid, tree in sorted(tree_gid.values()):
        part = filtered_docs(ctx, tree).select(
            "shard_id", "__docid", F.lit(gid).alias("__gid")
        )
        allow = part if allow is None else allow.unionByName(part)
    gmap = spark.createDataFrame(qid_gid, "query_id int, __gid int")
    keys = tagged.join(F.broadcast(gmap), "query_id").select(
        "query_id", "shard_id", "__docid", "__gid"
    )
    survivors = allow.join(
        F.broadcast(keys), ["shard_id", "__docid", "__gid"]
    ).select("query_id", "__docid")
    gated = tagged.join(
        F.broadcast(survivors), ["query_id", "__docid"]
    ).localCheckpoint(eager=True)
    counts = {
        r["query_id"]: r["n"]
        for r in gated.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    filled = [(qid, q) for qid, q in items if counts.get(int(qid), 0) >= q.limit]
    under = [(qid, q) for qid, q in items if counts.get(int(qid), 0) < q.limit]
    if not filled:
        return None, under
    filled_ids = {int(qid) for qid, _ in filled}
    keep = F.col("query_id").isin(sorted(filled_ids))
    qdf = spark.createDataFrame(
        [r for r in qrows if int(r[0]) in filled_ids],
        "query_id int, __qvec array<double>, __qnorm double, __klim int",
    )
    scored = (
        gated.filter(keep)
        .join(F.broadcast(qdf), "query_id")
        .withColumn("_score", _cosine_expr_col("vec", "__qvec", "__qnorm"))
        # slim projection before the rank window (guide §2.3) — drops
        # the candidate + query vectors from the shuffle
        .select("query_id", "shard_id", "__docid", "id", "_score", "__klim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("id").asc()
    )
    winners = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__klim"))
        .select(
            "query_id",
            "shard_id",
            "__docid",
            F.col("id").alias("_id"),
            "_score",
        )
    )
    return winners, under


def batch_vector_winners_exact(ctx: IndexContext, items) -> DataFrame:
    """Batched EXACT vector recall — the stale/absent-ANN analog of
    the batched probe (round 5). Previously each such member fell back
    to its own full docs scan (O(batch) scans in one collect); now ONE
    tombstone-excluded scan per DISTINCT (filter tree, vector field)
    serves all its members: each row explodes into the member structs
    (qid, qvec, qnorm, k — O(M·dim) plan literals), the cosine is the
    same zip_with/aggregate arithmetic as the per-query literal path
    (bit-identical scores), filters keep their pushdown because each
    tree gets its own scan, and one window takes each member's top-k.

    Total compute is the same M·N dot products the per-query scans do
    — the win is I/O and scheduling: one pass over the vectors.
    Returns (query_id, shard_id, __docid, _id, _score)."""
    import json as _json

    from pyspark.sql import Window

    from byzer_retrieval_spark.functions.similarity import (
        _cosine_expr_col,
        _qnorm,
    )
    from byzer_retrieval_spark.operators.filtering import filtered_docs

    groups: dict = {}
    for qid, q in items:
        key = (_json.dumps(q.filters or {}, sort_keys=True), q.vector_field)
        groups.setdefault(key, []).append((qid, q))
    parts = []
    for (_tree_json, fld), members in groups.items():
        tree = members[0][1].filters or {}
        base = filtered_docs(ctx, tree) if tree else None
        base = base if base is not None else ctx.docs()
        base = ctx.exclude_tombstones(base)
        pairs = F.array(
            *[
                F.struct(
                    F.lit(int(qid)).alias("q"),
                    F.array(
                        *[F.lit(float(x)) for x in qq.vector]
                    ).cast("array<double>").alias("v"),
                    F.lit(_qnorm([float(x) for x in qq.vector])).alias("n"),
                    F.lit(int(qq.limit)).alias("k"),
                )
                for qid, qq in members
            ]
        )
        tagged = (
            base.select("shard_id", "__docid", "_id", F.col(fld).alias("__vec"))
            .withColumn("__p", F.explode(pairs))
            .select(
                F.col("__p.q").alias("query_id"),
                "shard_id",
                "__docid",
                "_id",
                "__vec",
                F.col("__p.v").alias("__qv"),
                F.col("__p.n").alias("__qn"),
                F.col("__p.k").alias("__klim"),
            )
        )
        parts.append(
            tagged.withColumn(
                "_score", _cosine_expr_col("__vec", "__qv", "__qn")
            ).select(
                "query_id", "shard_id", "__docid", "_id", "_score", "__klim"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("_id").asc()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__klim"))
        .select("query_id", "shard_id", "__docid", "_id", "_score")
    )


def batch_vector_winners_ann(
    ctx: IndexContext, items, index, **probe_kw
) -> DataFrame:
    """MANY unfiltered vector queries against ONE persisted ANN index
    in ONE partition-pruned scan (round 5 — the batched analog of
    ``vector_winners_ann``).

    ``items``: [(query_id, SearchQuery)], all on this index's field.
    Every query's probe set is enumerated DRIVER-side as explicit
    partition keys (``index.probe_keys``); the scan gets a static IN
    filter over the distinct keys (partition pruning keeps the read at
    the union of probe sets, never the index) and each surviving row is
    tagged with its query ids by ONE broadcast hash join on the
    partition key — per-row cost is O(1) in batch size, where the
    previous when-array tagging was O(batch) comparisons per row. The
    per-query vector rides in via a second broadcast join (cosine
    arithmetic mirrors the per-query literal path
    operation-for-operation, see _cosine_expr_col), tombstones
    anti-join once, and one window takes each query's top-limit by
    (_score desc, id asc). When some query's probe set is not
    enumerable (LSH exact mode, nprobe >= num_clusters) the
    predicate-OR tagging path is kept as fallback.

    Returns (query_id, shard_id, __docid, _id, _score) — the keyed
    winners frame hybrid fusion consumes. A 100-query batch with N
    vector members pays ONE index scan instead of N."""
    from pyspark.sql import Window

    from byzer_retrieval_spark.functions.similarity import _cosine_expr_col

    spark = ctx.spark
    tagged, qrows = _batch_tagged_candidates(ctx, items, index, **probe_kw)
    qdf = spark.createDataFrame(
        qrows, "query_id int, __qvec array<double>, __qnorm double, __klim int"
    )
    scored = (
        tagged.join(F.broadcast(qdf), "query_id")
        .withColumn("_score", _cosine_expr_col("vec", "__qvec", "__qnorm"))
        # project to the slim rank columns BEFORE the window exchange
        # (guide §2.3): the candidate vec + query vec are dead after the
        # cosine, and shipping them through the rank shuffle multiplied
        # its bytes ~20x
        .select("query_id", "__docid", "id", "_score", "__klim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__klim"))
        .select(
            "query_id",
            F.shiftright("__docid", ctx.doc_bits).cast("int").alias("shard_id"),
            "__docid",
            F.col("id").alias("_id"),
            "_score",
        )
    )


def vector_topk_ann(
    ctx: IndexContext,
    query: SearchQuery,
    index,
    cand: Optional[DataFrame] = None,
    **probe_kw,
) -> DataFrame:
    """ANN vector top-k over a PERSISTED index (LshVectorIndex /
    IvfVectorIndex built by ``RetrievalEngine.build_vector_ann`` with
    ``extra_cols=("__docid",)``) — the engine-level analog of the
    reference querying its build-time HNSW graph
    (RetrievalWorker.java:346-366).

    Plan shape at 10^12 vectors: the probe reads only the matching
    bucket/cluster PARTITIONS of the index; winners (k rows) join back
    to the docs table on (shard_id, __docid) — shard_id derived from
    the docid's top bits — so stored-field materialization is partition-
    and row-group-pruned exactly like the WAND path's.

    Upserts/deletes keep the index CURRENT (the engine appends new
    vectors into their buckets/clusters and bumps the state snapshot);
    superseded and deleted rows are dropped by ann_candidates'
    tombstone anti-join before the top-k cut. ``cand`` short-circuits
    the probe with a pre-materialized candidate frame.
    """
    qv = [float(x) for x in query.vector]
    if cand is None:
        cand = ann_candidates(ctx, query, index, **probe_kw)
    scored = cand.withColumn("_score", _cosine_expr("vec", qv))
    win = (
        scored.orderBy(F.col("_score").desc(), F.col("id").asc())
        .limit(query.limit)
        .select(
            "__docid",
            F.shiftright("__docid", ctx.doc_bits).cast("int").alias("shard_id"),
            "_score",
        )
    )
    docs = ctx.docs()
    out = docs.join(F.broadcast(win), ["shard_id", "__docid"])
    return (
        out.orderBy(F.col("_score").desc(), F.col("_id").asc())
        .select("_score", *ctx.stored_columns())
    )
