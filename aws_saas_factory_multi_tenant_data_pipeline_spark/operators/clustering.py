"""Portable k-means clustering + semantic dedup over embedding columns
(SURVEY.md §2 B10).

SemDeDup (Abbas et al. 2023, arXiv:2303.09540) prunes semantically
redundant training documents: cluster the embedding space, then drop
near-identical vectors *within* each cluster — the clustering bounds the
pairwise comparison to O(Σ |cluster|²) instead of O(n²). This module
implements the whole chain with deterministic, engine-portable math so
the full pipeline is hash-checkable against DuckDB:

- seeding: the C centroids are the first C vectors in md5(vec_id) order
  (content-stable sample — same trick as the portable MinHash/manifest
  ops; any SQL engine replays it);
- assignment: argmax cosine, cosine rounded to 6 dp, ties broken by
  ascending centroid id;
- Lloyd update: per-dimension mean computed as an EXACT decimal sum
  (order-independent ⇒ identical across engines and partitionings),
  divided in double.

Scale shape: assignment is a broadcast of C tiny centroid rows against
the corpus — a narrow projection with C sequential-fold dot products per
row, no shuffle. The Lloyd update posexplodes dimensions but partial
aggregation collapses each partition to ≤ C·dim rows before the shuffle,
so shuffle volume is O(C·dim·partitions), not O(rows·dim). The
within-cluster pair join is the one quadratic piece — at 100 TB you
raise C so clusters stay bounded (SemDeDup uses ~100k clusters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.fanout import (
    fan_out_scan,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.similarity import dot, norm

#: exact-decimal accumulator for order-independent float means
_DEC = "decimal(38,12)"


def _cosine(a: Column, b: Column) -> Column:
    """Cosine rounded to 6 dp (the corpus determinism contract)."""
    return F.round(dot(a, b) / (norm(a) * norm(b)), 6)


def seed_centroids(
    df: DataFrame, n_clusters: int, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(cluster_id, centroid) — the first ``n_clusters`` vectors in
    md5(id) order. Content-stable and replayable in any engine; a
    TakeOrderedAndProject at any scale (no global sort materialized)."""
    ranked = df.select(
        F.md5(F.col(id_col).cast("string")).alias("__r"),
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid"),
    ).orderBy("__r", "__id").limit(n_clusters)
    w = Window.orderBy("__r", "__id")
    return ranked.select(
        (F.row_number().over(w) - 1).alias("cluster_id"), "centroid"
    )


def assign_clusters(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment: argmax cosine, round-6, ties to the
    lowest cluster_id.

    ZERO-shuffle shape: the C centroids collapse into ONE broadcast row
    holding an array of (cluster_id, centroid) structs, and the argmax is
    a per-row ``array_max`` over a transform — the corpus is scanned once
    as a narrow projection, with no C× candidate explosion and no
    id-keyed shuffle. (The first cut cross-joined the corpus against the
    centroid TABLE and ran a window argmax over the C× rows — a full
    shuffle of C·|corpus| candidates that broke this module's own
    documented scale contract.) Ties: struct ordering on
    (cosine, -cluster_id) makes the lowest cluster_id win, identical to
    the previous desc-cosine/asc-id window."""
    cents = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cluster_id", "centroid"))).alias(
            "__cents"
        )
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            _cosine(F.col("__v"), c["centroid"]).alias("cos"),
            (-c["cluster_id"]).alias("ncid"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(cents))
        .withColumn("__v", v)
        .withColumn("__best", F.array_max(scored))
        .select(
            *df.columns,
            (-F.col("__best.ncid")).alias("cluster_id"),
            F.col("__best.cos").alias("centroid_cosine"),
        )
    )


def lloyd_update(
    assigned: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Recompute centroids as per-dimension exact-decimal means.

    posexplode → partial-agg per (cluster, dim) → reassemble the array
    sorted by dim. Shuffle carries ≤ C·dim rows per input partition."""
    dims = assigned.select(
        "cluster_id", F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    per_dim = dims.groupBy("cluster_id", "dim").agg(
        (F.sum(F.col("val").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias("val")
    )
    return per_dim.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "val"))), lambda s: s["val"]
        ).alias("centroid")
    )


def kmeans_portable(
    df: DataFrame,
    n_clusters: int = 8,
    iterations: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """md5-seeded k-means with ``iterations`` Lloyd rounds; returns the
    final assignment (input cols + cluster_id + centroid_cosine).

    Every step is engine-portable (see module docstring), so the entire
    clustering is oracle-checkable — rare for k-means, and the reason the
    seeding/rounding rules are pinned the way they are."""
    # r16 (guide §2.5 input parallelism): a single-file embeddings scan
    # arrives as 1-2 partitions, so the per-row C×dim cosine argmax (the
    # assignment, this operator's dominant cost) ran on 1-2 cores.
    # Conditional fan-out spreads it; downstream semantic_dedup inherits
    # the layout through its checkpoint (sf1 A/B: semantic_dedup
    # 6.3 s → 1.3 s, rows identical; no-op on parallel inputs).
    df = fan_out_scan(df, id_col)
    centroids = seed_centroids(df, n_clusters, vec_col, id_col)
    assigned = assign_clusters(df, centroids, vec_col, id_col)
    for it in range(iterations):
        # checkpoint the (n_clusters-row) centroid frame each round: it is
        # the whole cross-round dependency, so cutting lineage here keeps
        # every round's plan at depth 1 over df instead of re-deriving all
        # prior assignments — same pattern as graph.pagerank. The LAST
        # round stays lazy — the returned assignment references its
        # centroids exactly once (one broadcast build), so an eager job
        # would buy nothing and cost one full extra driver round-trip;
        # earlier rounds keep eager cuts or round k's broadcast would
        # re-execute rounds 1..k-1.
        cents = lloyd_update(assigned, vec_col)
        centroids = cents if it == iterations - 1 else cents.localCheckpoint(eager=True)
        assigned = assign_clusters(df, centroids, vec_col, id_col)
    return assigned


def ivf_topk_portable(
    corpus: DataFrame,
    queries: DataFrame,
    n_clusters: int = 8,
    iterations: int = 1,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate nearest neighbors with fully portable math: build
    the inverted lists with ``kmeans_portable``, probe the ``nprobe``
    closest lists per query, exact top-k within the probed lists only.

    Unlike the xxhash64-seeded fast path (similarity.ivf_cosine_topk),
    every step here is replayable in plain SQL, so the approximate result
    itself is hash-checkable — the probe set, not just recall, is pinned.
    Scale shape: queries and centroids broadcast; the corpus side is
    filtered to probed lists via an equi-join on cluster_id (with the
    lists persisted as a partitioned table this becomes partition
    pruning)."""
    corpus = fan_out_scan(corpus, id_col)  # r16: see kmeans_portable
    centroids = seed_centroids(corpus, n_clusters, vec_col, id_col)
    assigned = assign_clusters(corpus, centroids, vec_col, id_col)
    for _ in range(iterations):
        centroids = lloyd_update(assigned, vec_col).localCheckpoint(eager=True)
        assigned = assign_clusters(corpus, centroids, vec_col, id_col)
    lists = assigned.select(
        F.col(id_col),
        "cluster_id",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("__ccos"), F.asc("cluster_id")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("__ccos", _cosine(F.col("__qv"), F.col("centroid")))
        .withColumn("__pr", F.row_number().over(probe_w))
        .where(F.col("__pr") <= nprobe)
        .select(query_id_col, "__qv", "cluster_id")
    )
    rank_w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        probes.join(lists, on="cluster_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", _cosine(F.col("__qv"), F.col("__v")))
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cosine")
    )


def build_ivf_index(
    df: DataFrame,
    root: str,
    n_clusters: int = 8,
    iterations: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Persist an IVF index: ``root/centroids`` (tiny) and ``root/lists``
    PARTITIONED BY cluster_id. At 100 TB the index is the artifact you
    maintain — re-clustering the corpus per query batch is the O(corpus)
    trap (same argument as the dedup band index above); queries touch
    only the probed list partitions via partition pruning."""
    df = fan_out_scan(df, id_col)  # r16: see kmeans_portable
    centroids = seed_centroids(df, n_clusters, vec_col, id_col)
    assigned = assign_clusters(df, centroids, vec_col, id_col)
    for _ in range(iterations):
        centroids = lloyd_update(assigned, vec_col).localCheckpoint(eager=True)
        assigned = assign_clusters(df, centroids, vec_col, id_col)
    centroids.write.mode(mode).parquet(f"{root}/centroids")
    (
        assigned.select(
            F.col(id_col),
            "cluster_id",
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        )
        .repartition("cluster_id")
        .write.mode(mode)
        .partitionBy("cluster_id")
        .parquet(f"{root}/lists")
    )


def query_ivf_index(
    queries: DataFrame,
    root: str,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN search against a persisted IVF index. The probed cluster ids
    (≤ |queries|·nprobe values — a bounded driver-side list, same
    contract as lake.py's partition-key pruning) are pushed into the
    list read as a partition filter, so only the probed subtrees are
    scanned."""
    spark = queries.sparkSession
    centroids = spark.read.parquet(f"{root}/centroids")
    q = queries.select(
        F.col(query_id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("__ccos"), F.asc("cluster_id")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("__ccos", _cosine(F.col("__qv"), F.col("centroid")))
        .withColumn("__pr", F.row_number().over(probe_w))
        .where(F.col("__pr") <= nprobe)
        .select(query_id_col, "__qv", "cluster_id")
    )
    probed_ids = sorted(
        {r["cluster_id"] for r in probes.select("cluster_id").distinct().collect()}
    )
    lists = spark.read.parquet(f"{root}/lists").where(
        F.col("cluster_id").isin(probed_ids)
    )
    rank_w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        probes.join(lists, on="cluster_id")
        .where(F.col("vec_id") != F.col(query_id_col))
        .withColumn("cosine", _cosine(F.col("__qv"), F.col("vec")))
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "vec_id", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 8,
    iterations: int = 1,
    tau: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup: cluster, then within each cluster drop any vector that
    has a lower-id neighbor with cosine ≥ tau. Returns one row per input
    vector: (id, cluster_id, is_kept).

    The pair join is cluster-partitioned (equi-join on cluster_id), so
    comparisons are Σ|cluster|² — bounded by raising n_clusters, never
    all-pairs."""
    vcol = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = (
        kmeans_portable(df, n_clusters, iterations, vec_col, id_col)
        .select(
            F.col(id_col),
            "cluster_id",
            vcol.alias("__v"),
            # hoist the vector norm: the pair join otherwise recomputes
            # BOTH sides' 64-element norm folds per pair — the norms are
            # per-vector constants, so computing them once cuts per-pair
            # work to the dot product alone (~3×). sqrt-once vs
            # sqrt-twice is the identical IEEE value, so the round-6
            # cosine (and the SQL oracle) are unchanged bit-for-bit.
            norm(vcol.alias("__v")).alias("__nrm"),
        )
        # the assignment feeds BOTH sides of the pair join and the final
        # keep-join: materialize it once, eagerly, or the whole
        # clustering runs 3×
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        F.col(id_col).alias("__ida"),
        F.col("cluster_id"),
        F.col("__v").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = assigned.select(
        F.col(id_col).alias("__idb"),
        F.col("cluster_id"),
        F.col("__v").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    pair_cos = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
    )
    dup_pairs = (
        a.join(b, on="cluster_id")
        .where(F.col("__ida") < F.col("__idb"))
        .where(pair_cos >= tau)
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(
            dup_pairs.withColumn("__dropped", F.lit(True)), on=id_col, how="left"
        )
        .select(
            F.col(id_col),
            "cluster_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"),
        )
    )
