"""Product quantization (PQ) for embedding columns — train, encode,
and asymmetric-distance (ADC) top-k search (SURVEY.md §2 B10 [EXT]).

PQ (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011) compresses a d-dim vector into m one-byte
codes: split the dimensions into m subspaces, k-means each subspace
independently, and store only each subvector's nearest-centroid index.
A 64-dim float32 embedding (256 bytes) becomes m=4 bytes — at 100 TB of
embeddings this is the difference between "the index fits in executor
memory" and "it doesn't". Search never decodes: per query, one m×k
lookup table of exact subspace distances is built once, and each
corpus row's approximate distance is m table lookups (ADC).

Everything here is ENGINE-PORTABLE integer math so the whole pipeline
— training included — replays hash-for-hash in a SQL oracle (the
kmeans_portable convention, operators/clustering.py):

- vectors are quantized once to BIGINT micro-units (floor(v · 1e6)) —
  all later arithmetic is exact, so no round-6 near-tie can flip a
  code or a rank at any scale;
- seeding: the k centroids of every subspace come from the first k
  vectors in md5(vec_id) order (content-stable, any engine replays it);
- assignment: argmin of the EXACT integer squared-L2 distance, ties to
  the lowest code;
- Lloyd update: per-dimension floor(sum/count) in micro-units (the
  double division is exact well past these magnitudes, and floor is
  portable).

Scale shape: codebooks are m·k tiny rows — broadcast everywhere;
training shuffles ≤ m·k·dsub partial rows per partition (posexplode +
partial agg); encoding is a zero-shuffle narrow projection; ADC search
broadcasts the per-query lookup tables and scans the code table once,
with a per-query top-k window over m-lookup sums. The corpus side
never shuffles on anything but the final per-query top-k, and the
100 TB candidate-bounding path (route queries through an IVF list
first, then ADC only within probed lists) composes with
operators/clustering.build_ivf_index unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.session import persisted

#: micro-unit scale: float embeddings quantize to floor(v * 1e6)
MICRO = 1_000_000


def quantize_micro(vec: Column, scale: int = MICRO) -> Column:
    """float array → BIGINT micro-unit array (floor — portable across
    engines for every input, unlike round-half at binary .5 edges)."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * scale).cast("long"))


def _l2sq(a: Column, b: Column) -> Column:
    """Exact integer squared-L2 between two micro-unit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _subvec(vec: Column, subspace: int, dsub: int) -> Column:
    return F.slice(vec, subspace * dsub + 1, dsub)


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 4,
    iterations: int = 1,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train per-subspace codebooks → (subspace, code, centroid) where
    centroid is an array<bigint> of micro-units.

    ALL m subspaces train in ONE plan (r15): the k seed vectors are the
    same ids for every subspace (md5(id) order does not depend on the
    subspace), so one TakeOrdered pass seeds all m·k centroids; each
    Lloyd round then assigns all m codes per input row in a single
    broadcast scan (the pq_encode shape) and runs one combined
    (subspace, code, dim) update aggregation. The previous per-subspace
    Python loop paid m eager checkpoint jobs and 2m scans of the
    quantized cache for identical arithmetic — measured at sf0.1 this
    halves the end-to-end similarity_pq_adc time. Per-subspace argmin,
    tie-to-lowest-code, and floor(sum/count) updates are unchanged
    bit-for-bit (exact integer math throughout).

    The quantized input is persisted for the duration of training
    (every Lloyd round reads it); the per-round centroid frames are
    eagerly checkpointed, so nothing returned still depends on it."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    q = df.select(
        F.col(id_col).alias("__id"), quantize_micro(F.col(vec_col)).alias("__q")
    )
    seeds = (
        q.select(F.md5(F.col("__id").cast("string")).alias("__r"), "__id", "__q")
        .orderBy("__r", "__id")
        .limit(k)
    )
    w = Window.orderBy("__r", "__id")
    # code numbering FIRST (its own projection — a window next to a
    # generator would number the exploded rows), THEN the m-way slice
    seeded = seeds.select((F.row_number().over(w) - 1).alias("code"), "__q")
    cents = seeded.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        _subvec(F.col("__q"), j, dsub).alias("centroid"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("__s"),
    ).select(
        F.col("__s.subspace").alias("subspace"), "code", F.col("__s.centroid").alias("centroid")
    )
    with persisted(q):
        for _ in range(iterations):
            assigned = _assign_codes_all(q, cents, m, dsub)
            # each round's centroid set is checkpointed EAGERLY, so no
            # returned centroid frame still reads the persisted training input
            cents = (
                assigned.select(
                    "subspace", "code", F.posexplode("__v").alias("dim", "val")
                )
                .groupBy("subspace", "code", "dim")
                .agg(
                    F.floor(
                        F.sum("val").cast("double") / F.count(F.lit(1))
                    ).cast("long").alias("val")
                )
                .groupBy("subspace", "code")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "val"))),
                        lambda s: s["val"],
                    ).alias("centroid")
                )
            ).localCheckpoint(eager=True)
    # with iterations=0 the lazy seed frame recomputes from df if read
    return cents


def _assign_codes_all(q: DataFrame, cents: DataFrame, m: int, dsub: int) -> DataFrame:
    """Nearest-codeword assignment for ALL m subspaces in one scan:
    the m·k centroids collapse into one broadcast row; per input row,
    each subspace's argmin (exact integer L2, ties to the lowest code)
    is an array_min over that subspace's filtered slice, exploded into
    (subspace, code, __v) rows. Zero-shuffle broadcast shape (the
    assign_clusters convention)."""
    packed = cents.agg(
        F.array_sort(
            F.collect_list(F.struct("subspace", "code", "centroid"))
        ).alias("__cb")
    )

    def best(j: int) -> Column:
        scored = F.transform(
            F.filter(F.col("__cb"), lambda c: c["subspace"] == F.lit(j)),
            lambda c: F.struct(
                _l2sq(_subvec(F.col("__q"), j, dsub), c["centroid"]).alias("dist"),
                c["code"].alias("code"),
            ),
        )
        return F.struct(
            F.lit(j).alias("subspace"),
            F.array_min(scored)["code"].alias("code"),
            _subvec(F.col("__q"), j, dsub).alias("__v"),
        )

    return (
        q.crossJoin(F.broadcast(packed))
        .select(F.explode(F.array(*[best(j) for j in range(m)])).alias("__a"))
        .select(
            F.col("__a.subspace").alias("subspace"),
            F.col("__a.code").alias("code"),
            F.col("__a.__v").alias("__v"),
        )
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) — one code per subspace. Codebooks are
    collapsed into a single broadcast row; the corpus is scanned once
    with no shuffle."""
    dsub = dim // m
    packed = codebooks.agg(
        F.array_sort(
            F.collect_list(F.struct("subspace", "code", "centroid"))
        ).alias("__cb")
    )
    q = quantize_micro(F.col(vec_col))
    out = df.crossJoin(F.broadcast(packed)).withColumn("__q", q)
    code_cols = []
    for j in range(m):
        scored = F.transform(
            F.filter(F.col("__cb"), lambda c: c["subspace"] == F.lit(j)),
            lambda c: F.struct(
                _l2sq(_subvec(F.col("__q"), j, dsub), c["centroid"]).alias("dist"),
                c["code"].alias("code"),
            ),
        )
        code_cols.append(F.array_min(scored)["code"])
    return out.select(
        F.col(id_col), F.array(*code_cols).cast("array<int>").alias("codes")
    )


def pq_topk_adc(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    topk: int = 5,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    candidates: DataFrame | None = None,
    k: int | None = None,
) -> DataFrame:
    """ADC top-k: per query, the exact integer distance from its
    subvector to EVERY codeword is computed once (an m·k lookup table);
    each encoded corpus row then costs m lookups. Returns
    (query_id, vec_id, adc_dist, rank) with rank 1..topk, ties broken
    by ascending vec_id — fully deterministic.

    The query set rides in as a broadcast (per-query tables are m·k
    ints); the big side is the one scan of the code table. At 100 TB,
    bound candidates first (an IVF probe via build_ivf_index, or a
    binary-Hamming tier) and pass the PER-QUERY shortlist as
    ``candidates`` (query_id, id) — each query is then ranked strictly
    within its own candidate set (a pair semi-join after the broadcast,
    before the window), never against other queries' survivors."""
    dsub = dim // m
    # the per-query distance map keys pack (subspace, code) as
    # subspace * mult + code; mult is the codebook width so keys can
    # never collide across subspaces, whatever k the caller trained with
    # (a fixed 1000 would silently corrupt ADC distances at k > 1000).
    # Pass k (the trained codewords-per-subspace) to make this free;
    # otherwise it is derived with a 1-row agg on the broadcast-tiny
    # codebook (a bounded collect by the documented convention — but one
    # that re-executes the codebook lineage, so prefer passing k or a
    # persisted codebook).
    if k is not None:
        mult = int(k)
    else:
        kmax = codebooks.agg(F.max("code").alias("kmax")).first()["kmax"]
        if kmax is None:
            raise ValueError("empty codebook")
        mult = int(kmax) + 1
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_micro(F.col(vec_col)).alias("__q"),
    )
    # per (query, subspace, code): exact distance — tiny (nq · m · k).
    # r15 (optimization round): the per-query table is a DENSE ARRAY
    # indexed by subspace*mult+code (+1 for SQL positions), derived from
    # the key-sorted map so a codeword dropped by a Lloyd round still
    # lands in its right slot (its slot reads NULL; pq_encode never
    # emits a dropped code, so valid lookups never touch those slots).
    table = (
        q.crossJoin(F.broadcast(codebooks))
        .select(
            "query_id",
            "subspace",
            "code",
            _l2sq(
                _subvec(
                    F.col("__q"),
                    F.col("subspace"),
                    F.lit(dsub),
                ),
                F.col("centroid"),
            ).alias("dist"),
        )
        .groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (F.col("subspace") * mult + F.col("code")).alias("key"),
                            F.col("dist").alias("value"),
                        )
                    )
                )
            ).alias("__dt")
        )
        # map -> dense array ONCE per query row (nq rows), so the
        # per-corpus-row hot path below never does a map probe
        .select(
            "query_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(m * mult - 1)),
                lambda key: F.try_element_at(F.col("__dt"), key),
            ).alias("__da"),
        )
    )
    # ADC sum UNROLLED over the m static subspaces: the previous
    # aggregate(zip_with(sequence, codes, ...)) form is an interpreted
    # higher-order expression evaluated once per (corpus row × query) —
    # at sf1 that lambda machinery was 2.5× the whole search phase
    # (measured 24.4 s → 9.9 s end-to-end, rows identical; sf0.1
    # 0.72 s → 0.57 s). m is a plan-time int, so the flat
    # codegen'd form costs m array reads + m-1 adds per row.
    # try_element_at (not element_at) keeps the old NULL semantics for
    # degenerate inputs — a short/invalid codes array yields a NULL
    # adc_dist instead of an ANSI out-of-bounds error, exactly like the
    # old map lookup. The leading lit(0) keeps the fold's IEEE-exact
    # add order (0 + t0 + t1 + ...).
    adc = F.lit(0).cast("long")
    for j in range(m):
        adc = adc + F.try_element_at(
            F.col("__da"),
            F.lit(j * mult) + F.try_element_at(F.col("codes"), F.lit(j + 1)) + 1,
        )
    w = Window.partitionBy("query_id").orderBy("adc_dist", F.col(id_col))
    scored = encoded.crossJoin(F.broadcast(table)).withColumn("adc_dist", adc)
    if candidates is not None:
        pairs = candidates.select(
            F.col(query_id_col).alias("query_id"), F.col(id_col)
        )
        scored = scored.join(pairs, ["query_id", id_col], "left_semi")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", F.col(id_col), "adc_dist", "rank")
    )


def binary_quantize(
    df: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "sig",
) -> DataFrame:
    """1-bit binary quantization: bit k of the BIGINT signature is set
    iff ``vec[k] >= 0`` (dim ≤ 64 packs into one word). The coarsest
    memory tier of a retrieval cascade — 512× smaller than float32 —
    with Hamming distance as the similarity proxy (sign-random-
    projection theory: Charikar, STOC 2002; works directly on roughly
    centered embeddings). Zero-shuffle narrow projection."""
    if not 1 <= dim <= 64:
        raise ValueError(f"dim {dim} does not pack into one 64-bit word")
    # literal per-bit weights; bit 63 is min-long (two's complement) and
    # sits LAST in fold order, so partial sums never exceed 2^63-1 —
    # ANSI-safe with no shift-by-column
    powers = F.array(
        *[
            F.lit((1 << k) if k < 63 else -(1 << 63)).cast("long")
            for k in range(dim)
        ]
    )
    bits = F.aggregate(
        F.zip_with(
            F.slice(F.col(vec_col), 1, dim),
            powers,
            lambda v, p: F.when(v >= 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return df.select(F.col(id_col), bits.alias(out_col))


def binary_hamming_topk(
    signatures: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    sig_col: str = "sig",
) -> DataFrame:
    """Hamming top-k over binary signatures: per query one broadcast
    scan, distance = bit_count(xor) — a single codegen'd expression per
    row. Returns (query_id, vec_id, hamming, rank), ties by ascending
    id (fully deterministic). The rerank tier above this is exact
    cosine or PQ-ADC over the survivors; at 100 TB the signature column
    is small enough to keep hot (8 bytes/vector)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(sig_col).alias("__qsig")
    )
    packed = q.agg(
        F.array_sort(F.collect_list(F.struct("query_id", "__qsig"))).alias("__qs")
    )
    scored = (
        signatures.crossJoin(F.broadcast(packed))
        .select(
            F.col(id_col),
            F.explode("__qs").alias("__q"),
            F.col(sig_col),
        )
        .select(
            F.col("__q.query_id").alias("query_id"),
            F.col(id_col),
            F.bit_count(F.col(sig_col).bitwiseXOR(F.col("__q.__qsig"))).alias(
                "hamming"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", id_col, "hamming", "rank")
    )
