"""Similarity search over embedding columns (SURVEY.md §2 B10).

Baseline: brute-force cosine top-k — broadcast the (small) query set
against the corpus; dot products computed JVM-side with zip_with/aggregate
(no Python). Scale path: random-hyperplane LSH bucketing cuts the candidate
set before exact re-ranking; at 100 TB the corpus side stays partitioned
and is scanned once either way, so cost is O(|corpus| · |queries|) for
brute force vs O(|corpus| + collisions) for LSH.

Determinism: cosine rounded to 6 dp for ranking, ties broken by ascending
id (FIXTURES.md oracle rules).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SEED = 42


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — deterministic order, double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("__norm", norm(F.col(vec_col)))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force exact top-k cosine per query (broadcast the query side).

    Returns (query_id, vec_id, cosine, rank). Excludes self-matches when
    ids collide. ``cosine`` rounded to 6 dp; rank ties broken by vec_id.
    """
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.fanout import (
        fan_out_scan,
    )

    # r16 (guide §2.5 input parallelism): the corpus side streams through
    # the broadcast join computing |corpus|·|queries| cosine folds — on a
    # single-file scan that ran on 1-2 cores (sf1 A/B: 1.60 s → 1.03 s,
    # rows identical; no-op on already-parallel inputs)
    corpus = fan_out_scan(corpus, id_col)
    c = with_norm(corpus, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("__cv"), F.col("__norm").alias("__cn")
    )
    q = with_norm(queries, vec_col).select(
        F.col(query_id_col), F.col(vec_col).alias("__qv"), F.col("__norm").alias("__qn")
    )
    pairs = c.crossJoin(F.broadcast(q)).where(F.col(id_col) != F.col(query_id_col))
    cos = F.round(dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn")), 6)
    scored = pairs.select(query_id_col, id_col, cos.alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = _SEED) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one bit per plane, packed as bigint."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        sig = sig + F.when(dot(vec, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """LSH-bucketed approximate top-k: equi-join on any matching band signature.

    ``n_tables`` independent hyperplane sets; candidates = corpus rows
    sharing a signature with the query in any table, then exact cosine
    re-rank. The query side optionally multiprobes all 1-bit-flipped
    signatures (costs n_planes× more probe rows on the tiny query side,
    buys large recall on the corpus side — the right trade at 100 TB).
    Recall vs candidate fraction is tunable via (n_planes, n_tables);
    near-orthogonal corpora (like the synthetic testdata) are the known
    worst case for hyperplane LSH — see tests/test_operators_ext.py.
    """
    tables = [
        _hyperplanes(n_planes, dim, seed=_SEED + 1000 * t) for t in range(n_tables)
    ]

    def sigs(df: DataFrame, idc: str, vec_alias: str, probe: bool) -> DataFrame:
        per_table = []
        for ti, planes in enumerate(tables):
            base = lsh_signature(F.col(vec_col), planes)
            variants = [base]
            if probe:
                variants += [base.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
            per_table += [
                F.struct(F.lit(ti).alias("table_idx"), v.alias("sig")) for v in variants
            ]
        return df.select(
            F.col(idc),
            F.col(vec_col).alias(vec_alias),
            F.explode(F.array(*per_table)).alias("__ts"),
        ).select(idc, vec_alias, "__ts.table_idx", "__ts.sig")

    c = sigs(corpus, id_col, "__cv", probe=False)
    q = sigs(queries, query_id_col, "__qv", probe=multiprobe)
    cand = (
        c.join(F.broadcast(q), ["table_idx", "sig"])
        .where(F.col(id_col) != F.col(query_id_col))
        .select(id_col, query_id_col, "__cv", "__qv")
        .dropDuplicates([id_col, query_id_col])
    )
    cos = F.round(
        dot(F.col("__cv"), F.col("__qv")) / (norm(F.col("__cv")) * norm(F.col("__qv"))), 6
    )
    scored = cand.select(query_id_col, id_col, cos.alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine.

    Index build: centroids = a deterministic pseudo-random corpus sample —
    the ``n_centroids`` rows with the smallest ``xxhash64(id)``. That is a
    global ``orderBy(...).limit(n)``, which Spark executes as
    TakeOrderedAndProject (per-partition top-k, tiny driver merge): one
    corpus scan, no global window, no ``count()`` action, survives any
    corpus size. Optional ``refine_iters`` Lloyd iterations (spherical
    k-means: assign to max-cosine centroid, recenter on the element-wise
    mean — each iteration one corpus scan + one tiny groupBy, all
    DataFrame ops). Every corpus vector is assigned to its max-cosine
    centroid — one broadcast join + per-id window argmax, a single scan.

    Search: each query probes its ``n_probe`` closest centroids and
    exact-re-ranks only vectors assigned to those lists — scanning
    n_probe/n_centroids of the corpus instead of all of it. At 100 TB the
    assignment is a write-once partitioned layout (cluster_id as partition
    key), so probing prunes whole partitions exactly like tenant pruning.
    """
    c_norm = with_norm(corpus, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("__cv"), F.col("__norm").alias("__cn")
    )
    # deterministic pseudo-random centroid sample: smallest-hash rows via
    # orderBy+limit (TakeOrderedAndProject — per-partition top-k, no global
    # window, no count()). The sampled row's own id doubles as the cluster
    # id, keeping tie-breaks deterministic.
    centroids = (
        c_norm.orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("__cid"),
            F.col("__cv").alias("__centroid"),
            F.col("__cn").alias("__centroid_norm"),
        )
    )

    def assign(df, idc, vcol, ncol, probe):
        sim = dot(F.col(vcol), F.col("__centroid")) / (F.col(ncol) * F.col("__centroid_norm"))
        scored = df.crossJoin(F.broadcast(centroids)).select(
            F.col(idc), F.col(vcol), F.col(ncol), F.col("__cid"), sim.alias("__sim")
        )
        w = Window.partitionBy(idc).orderBy(F.col("__sim").desc(), F.col("__cid"))
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= probe)
            .drop("__r", "__sim")
        )

    for _ in range(refine_iters):
        # Lloyd step: element-wise mean of each centroid's assigned vectors
        members = assign(c_norm, id_col, "__cv", "__cn", probe=1)
        means = (
            members.select("__cid", F.posexplode("__cv").alias("__pos", "__val"))
            .groupBy("__cid", "__pos")
            .agg(F.avg("__val").alias("__m"))
            .groupBy("__cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda s: s["__m"],
                ).alias("__centroid")
            )
        )
        centroids = means.withColumn("__centroid_norm", norm(F.col("__centroid")))

    assigned = assign(c_norm, id_col, "__cv", "__cn", probe=1)
    q_norm = with_norm(queries, vec_col).select(
        F.col(query_id_col), F.col(vec_col).alias("__qv"), F.col("__norm").alias("__qn")
    )
    probed = assign(q_norm, query_id_col, "__qv", "__qn", probe=n_probe).select(
        query_id_col, "__qv", "__qn", "__cid"
    )
    cand = assigned.join(probed, "__cid").where(F.col(id_col) != F.col(query_id_col))
    cos = F.round(dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn")), 6)
    scored = cand.select(query_id_col, id_col, cos.alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column.

    scale = max|v| / 127; codes = half-up-round(v / scale) ∈ [-127, 127];
    all-zero vectors quantize to zero codes with scale 0. Rounding is the
    explicit ``floor(x + 0.5)`` form so any engine reproduces it bit-for-
    bit (built-in round() differs between half-up and banker's across
    engines). Adds columns ``qcodes array<int>``, ``qscale double``.

    Scale story: 4× smaller vectors shrink the dominant cost of every ANN
    stage — shuffle bytes, broadcast size, cache footprint. No shuffle, no
    UDF; dequantization is ``transform(qcodes, c -> c * qscale)`` wherever
    a downstream stage needs approximate floats back.

    The max|v| reduction is materialized in its own projection before the
    per-element lambda references it — inlining it would re-run the O(dim)
    array_max once per element (the CollapseProject-into-lambda pitfall
    documented at dedup.shingles_of; multi-reference keeps the barrier).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    with_max = df.withColumn("__v", v).withColumn(
        "__maxabs", F.array_max(F.transform(F.col("__v"), F.abs))
    )
    m = F.col("__maxabs")
    codes = F.when(m == 0, F.transform(F.col("__v"), lambda x: F.lit(0))).otherwise(
        F.transform(F.col("__v"), lambda x: F.floor(x / (m / 127.0) + 0.5).cast("int"))
    )
    return (
        with_max.withColumn("qscale", m / F.lit(127.0))
        .withColumn("qcodes", codes)
        .drop("__v", "__maxabs")
    )


def dequantize_int8(codes: Column, scale: Column) -> Column:
    """Approximate float vector back from int8 codes (array<double>)."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


def _md5_rank_hash(c: Column) -> Column:
    """Cross-engine-stable pseudo-random rank (same trick as
    dedup._md5_hash61): first 15 md5 hex digits of the stringified id."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebooks: ``k`` centroids per ``m`` subspaces.

    Centroids are a deterministic pseudo-random corpus sample (the k rows
    with the smallest md5-derived id hash — TakeOrderedAndProject, one
    scan, any corpus size; same pattern as IVF), sliced into the m
    subvectors. Returns a broadcast-sized frame (sub_j, cid, cvec) with
    cid 1..k assigned in hash order — every engine can replay the exact
    sample, so PQ codes are oracle-checkable, unlike typical k-means
    codebooks.
    """
    sub = dim // m
    w = Window.orderBy(_md5_rank_hash(F.col(id_col)), F.col(id_col))
    sample = (
        corpus.orderBy(_md5_rank_hash(F.col(id_col)), F.col(id_col))
        .limit(k)
        .withColumn("cid", F.row_number().over(w))
    )
    return sample.select(
        "cid", F.posexplode(F.array(*[F.lit(j) for j in range(m)])).alias("__i", "sub_j")
    ).drop("__i").join(
        sample.select("cid", F.col(vec_col).alias("__v")), "cid"
    ).select(
        "sub_j",
        "cid",
        F.transform(
            F.slice(F.col("__v"), F.col("sub_j") * sub + 1, sub),
            lambda x: x.cast("double"),
        ).alias("cvec"),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Encode each vector as m small codes (nearest codebook centroid per
    subspace, L2, ties to the lowest cid) — 32 bits per vector at the
    default m=8/k=16 vs 2048 bits of float32: the memory/shuffle format
    for billion-scale ANN.

    Plan: explode into m subvectors, broadcast-join the codebooks,
    codegen'd L2, per-(vector, subspace) argmin window, re-collect the
    code array. No Python anywhere.
    """
    sub = dim // m
    subs = (
        corpus.select(F.col(id_col), F.col(vec_col).alias("__v"))
        .select(
            F.col(id_col),
            "__v",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_j"),
        )
        .select(
            F.col(id_col),
            "sub_j",
            F.transform(
                F.slice(F.col("__v"), F.col("sub_j") * sub + 1, sub),
                lambda x: x.cast("double"),
            ).alias("sv"),
        )
    )
    scored = subs.join(F.broadcast(codebooks), "sub_j")
    l2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col, "sub_j").orderBy(F.col("__l2").asc(), F.col("cid").asc())
    best = (
        scored.withColumn("__l2", l2)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_j", "cid"))), lambda s: s["cid"]
        ).alias("pq_codes")
    )


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    m: int = 8,
    n_centroids: int = 16,
    dim: int = 64,
    shortlist: int = 50,
    rerank: bool = True,
) -> DataFrame:
    """PQ-ADC approximate top-k by inner product over L2-normalized
    vectors (= cosine), with optional exact re-rank of the shortlist.

    ADC (asymmetric distance computation): the query stays un-quantized;
    each (query, subspace, centroid) inner product is a tiny broadcast
    table and a corpus vector's approximate score is the sum of m table
    lookups — the corpus side only ever ships its m-byte codes. The
    standard billion-scale trade: scan cost ∝ codes, exact floats touched
    only for the ``shortlist`` re-rank.
    """
    cn = with_norm(corpus, vec_col)
    unit = cn.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: x.cast("double") / F.col("__norm")
        ).alias("__unit"),
    )
    books = pq_train(unit, "__unit", id_col, m, n_centroids, dim)
    codes = pq_encode(unit, books, "__unit", id_col, m, dim)

    qn = with_norm(queries, vec_col)
    q_unit = qn.select(
        F.col(query_id_col),
        F.transform(
            F.col(vec_col), lambda x: x.cast("double") / F.col("__norm")
        ).alias("__qunit"),
    )
    sub = dim // m
    q_subs = (
        q_unit.select(
            F.col(query_id_col),
            "__qunit",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_j"),
        )
        .select(
            F.col(query_id_col),
            "sub_j",
            F.slice(F.col("__qunit"), F.col("sub_j") * sub + 1, sub).alias("qv"),
        )
    )
    ip = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = q_subs.join(F.broadcast(books), "sub_j").select(
        query_id_col, "sub_j", "cid", ip.alias("__ip")
    )
    code_rows = codes.select(
        F.col(id_col), F.posexplode("pq_codes").alias("sub_j", "cid")
    )
    approx = (
        code_rows.join(F.broadcast(lut), ["sub_j", "cid"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__ip").alias("adc_score"))
        .where(F.col(id_col) != F.col(query_id_col))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_score").desc(), F.col(id_col).asc()
    )
    short = (
        approx.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= (shortlist if rerank else k))
        .drop("__rn")
    )
    if not rerank:
        return short.withColumn(
            "rank",
            F.row_number().over(w),
        ).select(query_id_col, id_col, F.round("adc_score", 6).alias("score"), "rank")
    exact = short.join(unit.select(F.col(id_col), F.col("__unit")), id_col).join(
        q_unit, query_id_col
    )
    cos = F.round(
        F.aggregate(
            F.zip_with(F.col("__unit"), F.col("__qunit"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    rescored = exact.select(query_id_col, id_col, cos.alias("score"))
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    anchor_filter: Column | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: per
    anchor, the ``k`` most-similar vectors whose LABEL DIFFERS — exactly
    the near-boundary examples contrastive losses (InfoNCE, triplet)
    need, and the standard negative-selection pass run over a training
    corpus before embedding-model fine-tuning.

    Plan: identical to brute-force ``cosine_topk`` (anchor side
    broadcast against the partitioned corpus, JVM fold dot products)
    with the label-inequality predicate pushed into the join — the wrong
    label filter prunes BEFORE the window, so the top-k heap never sees
    same-label rows. ``anchor_filter`` bounds the anchor set (at 100 TB
    mining runs per shard of anchors; all-anchors is the degenerate
    |corpus|² case the LSH/IVF paths exist for).

    Returns (anchor_id, neg_id, neg_label, cosine, rank), cosine 6 dp,
    ties by neg_id.
    """
    anchors = corpus if anchor_filter is None else corpus.where(anchor_filter)
    a = with_norm(anchors, vec_col).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("__al"),
        F.col(vec_col).alias("__av"),
        F.col("__norm").alias("__an"),
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("__cv"),
        F.col("__norm").alias("__cn"),
    )
    pairs = c.crossJoin(F.broadcast(a)).where(F.col("neg_label") != F.col("__al"))
    cos = F.round(dot(F.col("__cv"), F.col("__av")) / (F.col("__cn") * F.col("__an")), 6)
    scored = pairs.select("anchor_id", "neg_id", "neg_label", cos.alias("cosine"))
    w = Window.partitionBy("anchor_id").orderBy(F.col("cosine").desc(), F.col("neg_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("anchor_id", "neg_id", "neg_label", "cosine", "rank")
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mutual: bool = False,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019,
    arXiv:1811.01136 — the LASER/CCMatrix recipe): score every candidate
    pair by cos(x,y) normalized by the mean similarity of each side's k
    nearest neighbors — margin(x,y) = cos / ((avg_k(x) + avg_k(y)) / 2)
    — then keep each source's best target, mined iff margin >
    ``threshold``. The margin cancels hubness (a vector that is close to
    EVERYTHING scores high raw cosine but low margin), which raw-cosine
    thresholding cannot.

    Determinism: cosines are rounded to 6 dp (the corpus convention),
    neighbor sums are DECIMAL(18,6)-exact (order-independent), and the
    margin is one double division of exactly-representable inputs — so
    the SQL oracle reproduces it bit-for-bit.

    Scale shape: this exact form cross-joins src×tgt (the oracle
    baseline, same contract as :func:`cosine_topk`); at 100 TB generate
    candidate pairs with the LSH/IVF index ops and feed them through
    the same margin scoring — the normalization only needs each side's
    top-k, which candidates supply.

    Returns (src_id, tgt_id, cosine, margin, mined)."""
    s = with_norm(src, vec_col).select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("__sv"),
        F.col("__norm").alias("__sn"),
    )
    g = with_norm(tgt, vec_col).select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).alias("__tv"),
        F.col("__norm").alias("__tn"),
    )
    pairs = s.crossJoin(F.broadcast(g)).select(
        "src_id",
        "tgt_id",
        F.round(
            dot(F.col("__sv"), F.col("__tv")) / (F.col("__sn") * F.col("__tn")), 6
        ).alias("cosine"),
    )
    # r15: materialize the scored pair matrix ONCE. It feeds three
    # subtrees (the rs window, the rt window, and the final margin
    # projection), and Catalyst does not share the cross-join between
    # them — the before-plan showed 3 BroadcastNestedLoopJoins, i.e.
    # every |src|·|tgt| cosine fold evaluated three times. One eager
    # checkpoint read three times cuts the dominant compute 3×. This is the
    # EXACT quadratic-by-contract oracle form (the scale paths are
    # bitext_mine_candidates/_ann/_lsh), so materializing |s|·|t| rows
    # of (id, id, cosine) is within this form's declared envelope.
    pairs = pairs.localCheckpoint(eager=True)
    dec = F.col("cosine").cast("decimal(18,6)")
    wsrc = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("tgt_id")
    )
    wtgt = Window.partitionBy("tgt_id").orderBy(
        F.col("cosine").desc(), F.col("src_id")
    )
    ranked = pairs.select(
        "src_id",
        "tgt_id",
        "cosine",
        F.row_number().over(wsrc).alias("__rs"),
        F.row_number().over(wtgt).alias("__rt"),
    )
    # carry the ACTUAL neighbor counts next to the sums: when a side has
    # fewer than k rows its sum holds fewer than k terms, and a fixed
    # 2k numerator would inflate every margin on small partitions (r8
    # ADVICE). The TRUE Artetxe-Schwenk margin is the mean-of-means
    # cos / ((sx/cx + sy/cy) / 2); spelled exact-arithmetic-first as
    # cos * 2*cx*cy / (sx*cy + sy*cx) — decimal×int products stay
    # exact, so both engines make the identical single double division.
    # Equals the 2k form whenever both sides have >= k rows.
    sum_src = (
        ranked.where(F.col("__rs") <= k)
        .groupBy("src_id")
        .agg(F.sum(dec).alias("__sx"), F.count(F.lit(1)).alias("__cx"))
    )
    sum_tgt = (
        ranked.where(F.col("__rt") <= k)
        .groupBy("tgt_id")
        .agg(F.sum(dec).alias("__sy"), F.count(F.lit(1)).alias("__cy"))
    )
    margin = F.round(
        F.col("cosine")
        * (2 * F.col("__cx") * F.col("__cy"))
        / (
            F.col("__sx") * F.col("__cy") + F.col("__sy") * F.col("__cx")
        ).cast("double"),
        6,
    )
    scored = (
        pairs.join(F.broadcast(sum_src), "src_id")
        .join(F.broadcast(sum_tgt), "tgt_id")
        .select("src_id", "tgt_id", "cosine", margin.alias("margin"))
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id")
    )
    forward = (
        scored.withColumn("__r", F.row_number().over(wbest))
        .where(F.col("__r") == 1)
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            "margin",
            (F.col("margin") > threshold).alias("mined"),
        )
    )
    if not mutual:
        return forward
    # mutual best: keep a pair only when the target also elects the
    # source as ITS best (forward ∩ backward — the highest-precision
    # CCMatrix setting); a semi-join on the backward winners
    wback = Window.partitionBy("tgt_id").orderBy(
        F.col("margin").desc(), F.col("src_id")
    )
    backward = (
        scored.withColumn("__r", F.row_number().over(wback))
        .where(F.col("__r") == 1)
        .select("src_id", "tgt_id")
    )
    return forward.join(backward, ["src_id", "tgt_id"], "left_semi")


def bitext_mine_candidates(
    src: DataFrame,
    tgt: DataFrame,
    candidates: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mutual: bool = False,
) -> DataFrame:
    """THE 100 TB FORM of :func:`bitext_mine` (r13, closing the sf1
    probe's finding that the cross-join oracle form is quadratic by
    construction): identical margin scoring over a CANDIDATE pair set
    (src_id, tgt_id) supplied by any first-stage retriever — the IVF
    list join (`bitext_mine_ann` below), LSH buckets, or a shard-local
    blocking key. The per-side k-NN means that normalize the margin
    are computed over the candidates (the Artetxe-Schwenk recipe run
    on retrieved neighborhoods — exactly how LASER/CCMatrix deploys
    it); with candidates ⊇ all pairs the output equals
    :func:`bitext_mine` row-for-row (pinned in tests).

    Scale shape: two equi-joins to attach vectors (candidate lists are
    id pairs — tiny next to vectors), windows partitioned by id, no
    cross join anywhere. Work is O(|candidates|), not O(|src|·|tgt|).
    """
    s = with_norm(src, vec_col).select(
        F.col(id_col).alias("src_id"),
        F.col(vec_col).alias("__sv"),
        F.col("__norm").alias("__sn"),
    )
    g = with_norm(tgt, vec_col).select(
        F.col(id_col).alias("tgt_id"),
        F.col(vec_col).alias("__tv"),
        F.col("__norm").alias("__tn"),
    )
    # attach vectors via broadcast-hash joins: the vector tables are
    # one row per distinct id (small next to the candidate pair set) —
    # broadcasting them keeps the 3-column candidate rows streaming
    # instead of shuffling wide array rows twice (the sf1 probe
    # measured SMJ here at ~8x the per-pair cost). Above broadcast
    # size, drop the hints and AQE shuffle-joins — still linear.
    pairs = (
        candidates.select("src_id", "tgt_id")
        .dropDuplicates(["src_id", "tgt_id"])
        .join(F.broadcast(s), "src_id")
        .join(F.broadcast(g), "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.round(
                dot(F.col("__sv"), F.col("__tv"))
                / (F.col("__sn") * F.col("__tn")),
                6,
            ).alias("cosine"),
        )
    )
    dec = F.col("cosine").cast("decimal(18,6)")
    wsrc = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("tgt_id")
    )
    wtgt = Window.partitionBy("tgt_id").orderBy(
        F.col("cosine").desc(), F.col("src_id")
    )
    # the vector-attach join + dot products are the expensive stage and
    # feed THREE consumers (both k-NN sums + the final scoring join);
    # checkpoint the slim (ids, cosine, 2 ranks) frame once so the plan
    # computes them once — the sf1 probe measured the un-checkpointed
    # shape recomputing the join 3x (SCALE.md tenth wave)
    ranked = pairs.select(
        "src_id",
        "tgt_id",
        "cosine",
        F.row_number().over(wsrc).alias("__rs"),
        F.row_number().over(wtgt).alias("__rt"),
    ).localCheckpoint(eager=False)
    sum_src = (
        ranked.where(F.col("__rs") <= k)
        .groupBy("src_id")
        .agg(F.sum(dec).alias("__sx"), F.count(F.lit(1)).alias("__cx"))
    )
    sum_tgt = (
        ranked.where(F.col("__rt") <= k)
        .groupBy("tgt_id")
        .agg(F.sum(dec).alias("__sy"), F.count(F.lit(1)).alias("__cy"))
    )
    margin = F.round(
        F.col("cosine")
        * (2 * F.col("__cx") * F.col("__cy"))
        / (
            F.col("__sx") * F.col("__cy") + F.col("__sy") * F.col("__cx")
        ).cast("double"),
        6,
    )
    scored = (
        ranked.select("src_id", "tgt_id", "cosine")
        .join(sum_src, "src_id")
        .join(sum_tgt, "tgt_id")
        .select("src_id", "tgt_id", "cosine", margin.alias("margin"))
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id")
    )
    forward = (
        scored.withColumn("__r", F.row_number().over(wbest))
        .where(F.col("__r") == 1)
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            "margin",
            (F.col("margin") > threshold).alias("mined"),
        )
    )
    if not mutual:
        return forward
    wback = Window.partitionBy("tgt_id").orderBy(
        F.col("margin").desc(), F.col("src_id")
    )
    backward = (
        scored.withColumn("__r", F.row_number().over(wback))
        .where(F.col("__r") == 1)
        .select("src_id", "tgt_id")
    )
    return forward.join(backward, ["src_id", "tgt_id"], "left_semi")


def bitext_mine_ann(
    src: DataFrame,
    tgt: DataFrame,
    n_clusters: int = 16,
    nprobe: int = 2,
    k: int = 4,
    threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mutual: bool = False,
) -> DataFrame:
    """End-to-end scale path: IVF candidate generation (portable
    k-means lists over the TARGET side; each source probes its
    ``nprobe`` closest lists — broadcast centroids, equi-join on
    cluster_id, no cross join) feeding
    :func:`bitext_mine_candidates`. Near-linear in rows at fixed
    cluster geometry — the sf1 probe measured 4.8x on a 10x data step
    vs 39.8x for the cross-join oracle form (SCALE.md tenth wave)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.clustering import (
        assign_clusters,
        lloyd_update,
        seed_centroids,
    )

    centroids = seed_centroids(tgt, n_clusters, vec_col, id_col)
    assigned = assign_clusters(tgt, centroids, vec_col, id_col)
    centroids = lloyd_update(assigned, vec_col).localCheckpoint(eager=True)
    t_lists = assign_clusters(tgt, centroids, vec_col, id_col).select(
        F.col(id_col).alias("tgt_id"), "cluster_id"
    )
    sq = src.select(
        F.col(id_col).alias("src_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )
    probe_w = Window.partitionBy("src_id").orderBy(
        F.desc("__ccos"), F.asc("cluster_id")
    )
    probes = (
        sq.crossJoin(F.broadcast(centroids))
        .withColumn("__ccos", _sim_cosine(F.col("__qv"), F.col("centroid")))
        .withColumn("__pr", F.row_number().over(probe_w))
        .where(F.col("__pr") <= nprobe)
        .select("src_id", "cluster_id")
    )
    cand = probes.join(t_lists, "cluster_id").select("src_id", "tgt_id")
    return bitext_mine_candidates(
        src, tgt, cand, k=k, threshold=threshold, vec_col=vec_col,
        id_col=id_col, mutual=mutual,
    )


def bitext_mine_lsh(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    mutual: bool = False,
) -> DataFrame:
    """Near-LINEAR scale path for bitext mining: candidates = pairs
    sharing a random-hyperplane signature in ANY of ``n_tables``
    tables — a pure equi-join on (table_idx, signature) with NO
    broadcast of either corpus side (both sides shuffle on the
    signature key; bucket sizes bound the per-key work), feeding
    :func:`bitext_mine_candidates`. Candidate volume is
    O(n + collisions) vs the IVF path's O(n^1.5) and the exact form's
    O(n^2) — the asymptotics the sf1 probe measured (SCALE.md tenth
    wave). Recall tunes via (n_planes, n_tables)."""
    tables = [
        _hyperplanes(n_planes, dim, seed=_SEED + 1000 * t)
        for t in range(n_tables)
    ]

    def sigs(df: DataFrame, out_id: str) -> DataFrame:
        per_table = [
            F.struct(
                F.lit(ti).alias("table_idx"),
                lsh_signature(F.col(vec_col), planes).alias("sig"),
            )
            for ti, planes in enumerate(tables)
        ]
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array(*per_table)).alias("__ts"),
        ).select(out_id, "__ts.table_idx", "__ts.sig")

    cand = (
        sigs(src, "src_id")
        .join(sigs(tgt, "tgt_id"), ["table_idx", "sig"])
        .select("src_id", "tgt_id")
    )
    return bitext_mine_candidates(
        src, tgt, cand, k=k, threshold=threshold, vec_col=vec_col,
        id_col=id_col, mutual=mutual,
    )


def _sim_cosine(a, b):
    num = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return num / (na * nb)


def maxsim_rerank(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    topk: int = 5,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    vec_col: str = "token_vecs",
) -> DataFrame:
    """ColBERT-style late-interaction reranking (Khattab & Zaharia,
    SIGIR 2020): score(q, d) = Σ over query-token vectors of the max
    dot product against any document-token vector (MaxSim). Returns
    (query_id, doc_id, score, rank) with rank 1..topk per query, ties
    broken by ascending doc id.

    Both frames carry ``vec_col: array<array<bigint>>`` — one integer
    vector per token. Integer dot products keep every score exact, so
    ranks are engine-portable (no float near-ties) and the whole
    scoring replays in a SQL oracle.

    Scale shape: the query side (a handful of reranking queries × a few
    token vectors each) collapses to ONE broadcast row; the document
    corpus is scanned once with a per-row nested fold — no shuffle
    until the per-query top-k window, which AQE handles at ≤ nq·|docs|
    rows. This is a RERANKER by design: at 100 TB the doc side is the
    top-N candidate set of a first-stage retriever (BM25
    `operators/ranking.py` or the ANN ops here), not the raw corpus —
    the ColBERT deployment shape."""

    def dot_int(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    packed = query_tokens.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(query_id_col).alias("qid"), F.col(vec_col).alias("qv"))
            )
        ).alias("__qs")
    )
    maxsim = lambda qv: F.aggregate(  # noqa: E731
        qv,
        F.lit(0).cast("long"),
        lambda acc, q: acc
        + F.array_max(F.transform(F.col(vec_col), lambda d: dot_int(q, d))),
    )
    scored = (
        doc_tokens.where(F.size(vec_col) > 0)
        .crossJoin(F.broadcast(packed))
        .select(
            F.col(id_col),
            F.explode("__qs").alias("__q"),
            F.col(vec_col),
        )
        .where(F.size("__q.qv") > 0)
        .select(
            F.col("__q.qid").alias("query_id"),
            F.col(id_col),
            maxsim(F.col("__q.qv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", id_col, "score", "rank")
    )
