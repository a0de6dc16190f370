"""Deduplication operators for LLM training-data pipelines (SURVEY.md §2 B10).

All hot paths are built-in-function compositions (JVM side, codegen'd):
- exact dedup: md5-keyed window, deterministic survivor (min doc_id)
- MinHash: shingle → xxhash64 → k universal-hash minima via transform/array_min
  (no UDF), LSH banding → bucket equi-join for candidates → exact Jaccard verify
- SimHash: explode tokens → 64 per-bit sign aggregates (one shuffle)
- n-gram Jaccard: inverted-index self-join (explode shingles, equi-join on
  shingle) — the scalable pattern; a crossJoin would be O(n²) rows at 100 TB.

Determinism: fixed hash seeds, fixed permutation constants; survivors and
pair orderings always tie-broken by id.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.fanout import (
    fan_out_scan,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.session import persisted

# Mersenne prime 2^31-1: universal hashing a*x+b mod p — (p-1)^2 + b fits in
# signed 64-bit, so the multiply never overflows under ANSI mode
_P = (1 << 31) - 1
_SEED = 42


def _perm_constants(k: int, seed: int = _SEED) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k universal hash permutations."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(k)]


def normalize_text(col: Column) -> Column:
    """Canonical text form: lowercase, strip punctuation, collapse whitespace.

    r16: ONE regex pass instead of two (guide §1.2 per-task work). The old
    form replaced each ``[^\\p{L}\\p{N}\\s]`` char with a space and then
    collapsed ``\\s+`` runs; replacing every maximal run of
    non-(letter|number) chars with one space is equivalent on ALL inputs:
    any maximal run the old pipeline turned into spaces-then-one-space is
    exactly one ``[^\\p{L}\\p{N}]+`` match (whitespace is neither letter
    nor number), and characters outside such runs are untouched by both.
    Verified byte-identical over the whole sf1 corpus; ~halves the
    tokenizer's regex cost (the dominant per-row work in minhash/BM25/
    TF-IDF at sf1)."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}]+", " "))


def tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def shingles_of(toks: Column, k: int = 3) -> Column:
    """Word k-shingles (distinct) from an ALREADY-MATERIALIZED tokens column.

    Callers must put the tokens expression in its own projection first
    (``with_shingle_col``): referencing an inline ``tokens(...)`` from the
    transform lambda makes Catalyst re-evaluate the whole regex pipeline per
    shingle position (CollapseProject inlines it; no CSE inside lambdas) —
    measured ~9× slower at sf0.1.
    """
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", toks))))


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles directly from a text column (small inputs only — see
    shingles_of for the projection-barrier version used on hot paths)."""
    return shingles_of(tokens(col), k)


def with_shingle_col(
    df: DataFrame, text_col: str = "text", k: int = 3, out: str = "__shingles"
) -> DataFrame:
    """Two-step shingling: tokens in their own projection, then shingles.

    The intermediate projection stops CollapseProject from inlining the
    multi-referenced tokens expression into every lambda element.
    """
    return df.withColumn("__toks", tokens(F.col(text_col))).withColumn(
        out, shingles_of(F.col("__toks"), k)
    ).drop("__toks")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one deterministic survivor (min id) per exact duplicate text."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """Returns (id_col, mh0..mh{k-1}): the classic scalable MinHash plan.

    explode(shingles) → hash each shingle ONCE with xxhash64 → one
    groupBy(id) with ``num_hashes`` flat ``min(a_j·h+b_j mod p)`` aggregates.
    Single shuffle keyed on the doc id, flat codegen'd expressions — unlike
    the nested transform/array_min formulation, whose 64 higher-order
    functions over the shingle array blow up the generated code (measured
    ~50× slower at sf0.1).
    """
    shs = with_shingle_col(fan_out_scan(df, id_col), text_col, shingle_k).select(
        F.col(id_col), F.col("__shingles")
    )
    return _signatures_from_shingles(shs, id_col, num_hashes)


def _md5_hash61(s: Column) -> Column:
    """Cross-engine-stable shingle hash: first 15 md5 hex digits as a
    61-bit int (DuckDB twin: CAST('0x'||substr(md5(s),1,15) AS BIGINT)).
    Slower than xxhash64 — used only by the portable/oracle path."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _signatures_from_shingles(
    shs: DataFrame, id_col: str, num_hashes: int, portable: bool = False
) -> DataFrame:
    """MinHash signatures from a precomputed (id, __shingles) frame — lets
    callers shingle ONCE and reuse the frame for candidate generation and
    exact-Jaccard verification (persist-once path). ``portable`` swaps
    xxhash64 for the md5-derived hash every SQL engine can replicate."""
    consts = _perm_constants(num_hashes)
    base_hash = (
        (lambda s: F.pmod(_md5_hash61(s), F.lit(_P)))
        if portable
        else (lambda s: F.pmod(F.xxhash64(s, F.lit(_SEED)), F.lit(_P)))
    )
    ex = shs.select(
        F.col(id_col),
        F.explode(F.transform(F.col("__shingles"), base_hash)).alias("__h"),
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("__h") + F.lit(b), F.lit(_P))).alias(f"mh{j}")
        for j, (a, b) in enumerate(consts)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    Returns pairs (id_a < id_b, jaccard ≥ threshold). Banding: num_hashes
    split into ``bands`` bands of r rows; docs sharing any band signature
    become candidates via an equi-join on (band_idx, band_hash) — the
    100 TB-safe alternative to an all-pairs comparison.

    ``portable`` swaps the engine-specific xxhash64 for md5-derived
    hashes (shingle hash AND band hash) so the ENTIRE pipeline — not just
    its recall — is replicable hash-for-hash in any SQL engine; the
    oracle-backed ``dedup_minhash_portable`` corpus query uses it. The
    fast path keeps xxhash64 (~2× cheaper per shingle at 100 TB).

    The corpus is shingled ONCE: the (id, shingles) frame is persisted
    (MEMORY_AND_DISK, spill-safe) so signature generation and
    exact-Jaccard verification share it — without it the whole
    normalize/tokenize/shingle pipeline runs twice. The pairs come back
    eagerly checkpointed, with both persisted frames already released.
    """
    r = num_hashes // bands
    # r16 (guide §2.5 input parallelism): a single-file documents table
    # arrives from the scan as 1-2 partitions, so the whole
    # tokenize/shingle/signature pipeline — the measured majority of this
    # operator's cost — ran on 1-2 cores. One conditional hash
    # repartition after the read spreads it across the session
    # (sf1 interleaved A/B: 8.9 s → 3.1 s full query, rows identical;
    # no-op when the scan is already parallel, see fanout.py).
    df = fan_out_scan(df, id_col)
    shs = with_shingle_col(df, text_col, shingle_k).select(F.col(id_col), F.col("__shingles"))
    sigs = _signatures_from_shingles(shs, id_col, num_hashes, portable=portable)
    # band hash: the key only needs to preserve tuple EQUALITY (equal
    # signature tuples must collide; unequal ones almost surely not).
    # The fast path hashes the r integer columns directly with variadic
    # xxhash64 — no int→string conversion, no concat buffer per band
    # (the md5-of-concat form stays on the portable path, where the
    # oracle must replay the exact hash in SQL).
    if portable:
        band_cols = lambda b: [
            F.md5(F.concat_ws(",", *[F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)]))
        ]
        mk_band = lambda b: band_cols(b)[0]
    else:
        mk_band = lambda b: F.xxhash64(*[F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)])
    banded = sigs.select(
        id_col,
        F.posexplode(F.array(*[mk_band(b) for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-Jaccard verification: join the SAME persisted shingle frame back
    # by id. (Shingling all docs once is cheaper than pruning to candidate
    # ids — a semi-join prune was measured 3× slower: the candidate set is
    # only known after the expensive banding pipeline, which then runs twice.)
    cand = (
        cand.join(shs.select(F.col(id_col).alias("id_a"), F.col("__shingles").alias("sh_a")), "id_a")
        .join(shs.select(F.col(id_col).alias("id_b"), F.col("__shingles").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    result = (
        cand.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # the band self-join references `banded` twice, and Catalyst does NOT
    # reuse the signature pipeline across the two sides (the broadcast
    # side canonicalizes differently, so ReuseExchange never fires) —
    # without its persist the shingle-hash explode + the num_hashes
    # min-aggregates run twice. The frame is tiny (|docs|·bands rows of
    # three fixed-width cols), so the cache cost is noise next to a
    # second signature pass. Measured at sf0.1: 2.7 s → 1.6 s warm.
    with persisted(shs), persisted(banded):
        return result.localCheckpoint(eager=True)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document — explode tokens, per-bit sign votes.

    One shuffle (groupBy id), 64 codegen'd aggregates; no Python.
    """
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("__tok")
    ).withColumn("__h", F.xxhash64("__tok", F.lit(_SEED)))
    votes = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(1 << i) if i < 63 else F.lit(-(1 << 63))) != 0, 1).otherwise(-1)
        ).alias(f"__b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    # assemble: sum of 2^i for positive-vote bits, as unsigned-ish bigint via XOR of high bit
    sig = None
    for i in range(bits - 1):
        term = F.when(F.col(f"__b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    high = F.when(F.col(f"__b{bits-1}") > 0, F.lit(-(1 << 63))).otherwise(F.lit(0))
    return agg.select(F.col(id_col), (sig + high).alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount of XOR)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing ≥1 shingle (inverted index).

    explode → equi-join on shingle → count shared → |A∪B| = |A|+|B|-shared.
    The doc-level shingle frame is persisted once (same decision as the
    MinHash and PPJoin paths): both sides of the self-join read it, and
    without the persist the tokenize+shingle pipeline — the CPU-dominant
    step — executes twice. The pairs come back eagerly checkpointed.
    """
    sized = (
        with_shingle_col(df, text_col, shingle_k, out="__sh")
        .select(F.col(id_col), F.col("__sh"))
        .withColumn("__n", F.size("__sh"))
    )
    inv = sized.select(id_col, "__n", F.explode("__sh").alias("__s"))
    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__n").alias("n_a"),
            F.col("b.__n").alias("n_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast(
        "double"
    )
    result = shared.withColumn("jaccard", jac).where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )
    with persisted(sized):
        return result.localCheckpoint(eager=True)


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard pairs via PREFIX FILTERING (PPJoin-style): identical
    results to ``ngram_jaccard_pairs(threshold=τ)``, but the inverted
    index holds only each document's first ``|s| − ⌈τ·|s|⌉ + 1`` shingles
    under a global total order — the classic guarantee that any pair with
    J ≥ τ must collide inside both prefixes. At τ=0.5 the index (and the
    equi-join fan-out, the O(collisions) cost driver at 100 TB) shrinks
    ~2×; higher thresholds prune harder. A length filter
    (τ·|a| ≤ |b| ≤ |a|/τ) prunes candidates further before verification.

    The total order is (xxhash64(shingle), shingle) — content-only, no
    frequency statistics needed, deterministic across runs. Verification
    recomputes exact |∩|/|∪| from the FULL shingle arrays (the prefix
    index alone cannot count sharing), reusing the persisted shingle
    frame like the MinHash verify path. The pairs come back eagerly
    checkpointed.
    """
    if not 0 < threshold <= 1:
        raise ValueError("prefix filtering requires 0 < threshold <= 1")
    shs = with_shingle_col(df, text_col, shingle_k, out="__sh").select(
        F.col(id_col), F.col("__sh")
    )
    n = F.size("__sh")
    p = n - F.ceil(F.lit(threshold) * n).cast("int") + 1
    ordered = F.transform(
        F.array_sort(
            F.transform(F.col("__sh"), lambda s: F.struct(F.xxhash64(s).alias("h"), s.alias("s")))
        ),
        lambda st: st["s"],
    )
    prefix = shs.select(
        F.col(id_col),
        n.alias("__n"),
        F.explode(F.slice(ordered, 1, p)).alias("__s"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    tau = F.lit(threshold)
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # length filter: J >= τ forces τ·|a| ≤ |b| and τ·|b| ≤ |a|
            & (F.col("b.__n").cast("double") >= tau * F.col("a.__n"))
            & (F.col("a.__n").cast("double") >= tau * F.col("b.__n")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        cand.join(shs.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa")), "id_a")
        .join(shs.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb")), "id_b")
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = F.size(F.array_union("__sa", "__sb")).cast("double")
    result = (
        verified.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    with persisted(shs):
        return result.localCheckpoint(eager=True)


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 10,
    plan_probe: list | None = None,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into CLUSTERS: connected components via
    iterative min-label propagation (the step that turns pairwise Jaccard
    matches into 'keep one doc per duplicate group').

    Each iteration joins every node's label with its neighbors' labels and
    takes the min — O(diameter) iterations, each a shuffle on the node id.
    Duplicate clusters in practice have tiny diameters (2-4), so this
    converges in a handful of rounds; ``max_iters`` bounds the worst case.
    Returns (node_id, cluster_id) where cluster_id = min doc id reachable.

    Scale: every iteration ``localCheckpoint``s the label frame, so lineage
    stays O(1) deep — without it iteration N re-evaluates the whole chain
    back to round 1 (multiplicative re-execution at 100 TB) and the
    convergence ``count()`` probe runs against the materialized frame, not
    a recomputation. The symmetrized EDGE list is pre-partitioned on the
    per-iteration join key and PERSISTED for the loop (the PageRank treatment,
    `operators/graph.py`): InMemoryTableScan preserves the cached
    hashpartitioning, so iterations shuffle only the node-sized label
    frame — re-deriving the union+distinct per round would both recompute
    and re-shuffle the edge list every iteration. If the loop exits
    without converging (component diameter > max_iters) a warning is
    emitted: labels are then PARTIAL — one component may carry several
    cluster_ids.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .repartition(F.col("dst"))
    )
    with persisted(edges):
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            # materialize l0: iteration 1 must not re-derive the distinct
            .localCheckpoint(eager=True)
        )
        converged = False
        for _ in range(max_iters):
            neighbor_min = (
                edges.join(labels.hint("shuffle_hash"), edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            if plan_probe is not None:  # test hook: capture the iteration body
                plan_probe.append(
                    neighbor_min._jdf.queryExecution().executedPlan().toString()
                )
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                        "label"
                    ),
                )
            )
            # truncate lineage BEFORE the convergence probe so the count() runs
            # on the materialized frame and later iterations never re-evaluate
            # earlier rounds
            new_labels = new_labels.localCheckpoint(eager=True)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
    if not converged:
        warnings.warn(
            f"dedup_clusters: not converged after max_iters={max_iters}; "
            "labels are partial (a component may span several cluster_ids). "
            "Raise max_iters (diameter bound) for deeper duplicate chains.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("node_id"), F.col("label").alias("cluster_id"))


def fuzzy_levenshtein_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    title_len: int = 32,
    prefix_len: int = 6,
    len_bucket: int = 4,
    max_dist: int = 3,
) -> DataFrame:
    """Edit-distance near-dup candidate pairs via blocked self-join.

    The fourth near-dup modality next to MinHash (content-level), SimHash
    (bit-level) and n-gram Jaccard (exact set-level): catch documents
    whose normalized title prefix differs by ≤ ``max_dist`` single-char
    edits (typos, version suffixes, pluralization).

    Scale shape: an all-pairs levenshtein is O(n²) and dead at 100 TB, so
    candidates are generated by BLOCKING — equi-self-join on
    (normalized-prefix, title-length bucket) — and the exact distance is
    computed only within blocks. Pairs that differ inside the first
    ``prefix_len`` normalized characters are missed by construction; that
    is the standard blocking recall trade (run multiple blocking passes —
    e.g. suffix or sorted-token keys — to tighten it; MinHash covers
    content-level variants). Deterministic: no hashing, ordered by ids.
    """
    title = F.substring(normalize_text(F.col(text_col)), 1, title_len)
    block = df.select(
        F.col(id_col).alias("id"),
        title.alias("title"),
    ).withColumn(
        "bk",
        F.concat_ws(
            ":",
            F.substring("title", 1, prefix_len),
            F.floor(F.length("title") / len_bucket).cast("string"),
        ),
    )
    a, b = block.alias("a"), block.alias("b")
    dist = F.levenshtein(F.col("a.title"), F.col("b.title"))
    return (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .where(dist <= max_dist)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.alias("dist"),
        )
        .orderBy("id_a", "id_b")
    )


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """Cross-engine-replicable SimHash: md5-derived 60-bit token hashes
    (``_md5_hash61``), per-bit sign votes, signature assembled from
    positive-vote bits — every step is plain integer arithmetic any SQL
    engine reproduces value-for-value (the ``dedup_simhash_portable``
    oracle does), upgrading SimHash from locality-property-tested to
    value-equal. The fast path (:func:`simhash`) keeps xxhash64 + the
    full 64 bits. Same plan shape: one explode, one groupBy, ``bits``
    codegen'd aggregates.
    """
    if not 1 <= bits <= 60:
        raise ValueError("portable simhash supports 1..60 bits (15 md5 hex digits)")
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("__tok")
    ).withColumn("__h", _md5_hash61(F.col("__tok")))
    votes = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
        ).alias(f"__b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"__b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def build_dedup_index(
    df: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist the dedup index for a corpus: one row per (doc, band) with
    the content md5 and the band signature — everything incremental
    dedup needs to test NEW documents against the corpus WITHOUT ever
    re-reading or re-shingling it. At 100 TB this index is the thing you
    maintain; recomputing signatures per batch is the naive O(corpus)
    trap. Laid out partitioned by band_idx so a batch's candidate lookup
    prunes to the bands it actually probes.
    """
    r = num_hashes // bands
    shs = with_shingle_col(df, text_col, shingle_k).select(
        F.col(id_col), F.col(text_col), F.col("__shingles")
    )
    sigs = _signatures_from_shingles(
        shs.select(id_col, "__shingles"), id_col, num_hashes
    )
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)])
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    index = banded.join(
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5")), id_col
    )
    (
        index.repartition("band_idx")
        .write.mode(mode)
        .partitionBy("band_idx")
        .parquet(root)
    )


def incremental_near_duplicates(
    new_df: DataFrame,
    index_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    update_index: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against the persisted corpus index: exact dups by
    content md5, near-dup candidates by band-signature equi-join — cost
    is O(batch) + the index join, never O(corpus) recompute. Returns
    (new_id, matched_id, match_type) with match_type 'exact'|'near';
    when ``update_index`` the batch's own rows are appended to the index
    so the next batch sees them.

    Near candidates here are band-collision candidates (the LSH
    contract); callers needing verified Jaccard re-check candidate pairs
    only — a tiny fraction of the batch.
    """
    spark = new_df.sparkSession
    r = num_hashes // bands
    index = spark.read.parquet(index_root)
    shs = with_shingle_col(new_df, text_col, shingle_k).select(
        F.col(id_col), F.col(text_col), F.col("__shingles")
    )
    sigs = _signatures_from_shingles(
        shs.select(id_col, "__shingles"), id_col, num_hashes
    )
    banded = sigs.select(
        F.col(id_col).alias("new_id"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)])
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    new_md5 = new_df.select(
        F.col(id_col).alias("new_id"), F.md5(F.col(text_col)).alias("content_md5")
    )
    exact = (
        new_md5.join(
            index.select("content_md5", F.col(id_col).alias("matched_id")).distinct(),
            "content_md5",
        )
        .select("new_id", "matched_id", F.lit("exact").alias("match_type"))
        .distinct()
    )
    near = (
        banded.join(
            index.select(
                "band_idx", "band_hash", F.col(id_col).alias("matched_id")
            ),
            ["band_idx", "band_hash"],
        )
        .select("new_id", "matched_id", F.lit("near").alias("match_type"))
        .distinct()
        .join(exact.select("new_id", "matched_id"), ["new_id", "matched_id"], "left_anti")
        .select("new_id", "matched_id", F.lit("near").alias("match_type"))
    )
    result = exact.unionByName(near).orderBy("new_id", "matched_id", "match_type")
    if update_index:
        # materialize matches BEFORE appending, so the result never
        # reports the batch matching itself through the refreshed index;
        # executor-side checkpoint — the match set can be large, it must
        # never round-trip through the driver
        result = result.localCheckpoint(eager=True)
        build_dedup_index(
            new_df, index_root, text_col, id_col, num_hashes, bands, shingle_k,
            mode="append",
        )
    return result


# ---------------------------------------------------------------------------
# Span-level (substring) exact dedup — remove n-token spans that appear more
# than once anywhere in the corpus (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better": duplicated substrings, not just whole
# near-duplicate documents, drive memorization; the reference pipeline has no
# equivalent, this is the training-data extension SURVEY §2 B10 calls for).
#
# Scale shape (100 TB): span keys shuffle as 8-byte xxhash64 values, never as
# token strings; duplicate detection is count(*)>=min_count with map-side
# combine; the mark-back is an equi-join on the hash; interval merging is a
# per-document window (islands), no driver state anywhere.
# ---------------------------------------------------------------------------


def span_starts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 20
) -> DataFrame:
    """(id, pos, span_hash) for every n-token span start position.

    Tokenization matches the MinHash path (normalize → whitespace split).
    Docs shorter than n tokens yield no rows. The span is hashed to 64 bits
    (xxhash64 of the space-joined token slice) so downstream shuffles carry
    fixed-width keys — at 100 TB the hash-vs-string difference is the
    entire shuffle budget.
    """
    toks_df = df.withColumn("__toks", tokens(F.col(text_col)))
    spans = F.transform(
        F.sequence(F.lit(0), F.size("__toks") - n),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__toks", i + 1, n)), F.lit(_SEED)),
    )
    return (
        toks_df.where(F.size("__toks") >= n)
        .select(F.col(id_col), F.posexplode(spans).alias("pos", "span_hash"))
    )


def duplicated_span_intervals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Merged per-document token intervals [start, end] covered by any
    n-token span occurring >= min_count times across the whole corpus
    (within-document repeats count — a doc repeating its own boilerplate
    is flagged too).

    Overlapping hits merge via the classic islands pattern: sort by start,
    break when start exceeds the running max end.
    """
    spans = span_starts(df, text_col, id_col, n)
    dup = (
        spans.groupBy("span_hash")
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("span_hash")
    )
    hits = (
        spans.join(dup, "span_hash")
        .select(id_col, F.col("pos").alias("s"), (F.col("pos") + n - 1).alias("e"))
    )
    w = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    grouped = (
        hits.withColumn(
            "__brk", F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0)
        )
        .withColumn("__g", F.sum("__brk").over(w))
    )
    return (
        grouped.groupBy(id_col, "__g")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .drop("__g")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Per-document span-dedup summary + cleaned text.

    Returns (id, n_tokens, n_removed, clean_text): tokens covered by any
    corpus-duplicated n-token span are dropped, the survivors rejoin in
    order. Documents with no duplicated span pass through with their
    normalized text intact (the output is always in normalized token form,
    so removal composes with the rest of the normalize-first pipeline).

    The reconstruction never explodes tokens: covered intervals collect to
    a small per-doc array and a higher-order filter keeps in-plan tokens
    whose position falls outside every interval — O(tokens × intervals)
    inside codegen, zero extra shuffles beyond the interval agg itself.
    """
    intervals = duplicated_span_intervals(df, text_col, id_col, n, min_count)
    per_doc = intervals.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__ivs"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("__n_removed"),
    )
    toks_df = df.withColumn("__toks", tokens(F.col(text_col)))
    joined = toks_df.join(per_doc, id_col, "left")
    ivs = F.coalesce(F.col("__ivs"), F.array())
    kept = F.filter(
        F.col("__toks"),
        lambda tok, i: ~F.exists(
            ivs, lambda iv: (i >= iv["span_start"]) & (i <= iv["span_end"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        F.coalesce(F.col("__n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def remove_duplicate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_count: int = 2,
) -> DataFrame:
    """C4-style line-level dedup: drop every line (delimiter-separated
    unit) whose trimmed content occurs >= min_count times across the whole
    corpus, keep survivors in order.

    Complements span-level dedup (`remove_duplicate_spans`): lines respect
    author-visible structure (boilerplate footers, nav menus, license
    headers dedup as whole units), spans catch duplication that ignores
    line breaks. Same scale shape: global duplicate detection is a
    count(*)>=k aggregate over 64-bit line hashes with map-side combine;
    reassembly is one groupBy(doc) over the surviving lines. Blank lines
    are never treated as duplicates (they carry no content).

    Returns (id, n_lines, n_removed, clean_text).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delimiter), -1)).alias(
            "pos", "line"
        ),
    ).withColumn("__h", F.xxhash64(F.trim(F.col("line")), F.lit(_SEED)))
    dup = (
        lines.where(F.trim(F.col("line")) != "")
        .groupBy("__h")
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("__h", F.lit(True).alias("__dup"))
    )
    marked = lines.join(dup, "__h", "left")
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("__dup"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.coalesce(F.col("__dup"), F.lit(False)), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )
    return per_doc


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    tau: float = 0.5,
    max_df: float | None = None,
) -> DataFrame:
    """Asymmetric shingle containment — the near-dup mode Jaccard misses.

    C(A→B) = |S(A) ∩ S(B)| / |S(A)| over distinct word-k-shingle sets:
    a short document quoted wholesale inside a long one scores ~1.0 on
    containment while its Jaccard stays tiny (the union is dominated by
    the long side). This is the boilerplate/quotation/subset detector of
    a dedup cascade (Broder's containment, "On the resemblance and
    containment of documents", SEQUENCES 1997).

    Same scale shape as :func:`ngram_jaccard_pairs`: shingle once
    (persisted for the call), explode to an inverted index, equi-join on
    shingle — candidate pairs share ≥1 shingle, never all-pairs; the
    pairs come back eagerly checkpointed. Returns (id_a, id_b, shared, n_a, n_b,
    c_ab, c_ba, contained) for pairs where max(c_ab, c_ba) ≥ tau;
    ``contained`` names the swallowed side ('a', 'b', or 'both' when
    the sets coincide). Counts are exact ints; the divisions are
    IEEE-deterministic, so the SQL oracle replays them bit-for-bit.

    ``max_df`` (fraction of docs) drops boilerplate shingles above that
    document frequency BEFORE the self-join — the candidate-pair
    explosion lives in the head of the shingle-frequency distribution,
    so this is the knob that bounds the join at corpus scale.
    Denominators stay the full shingle counts, so surviving scores are
    conservative (a pair can lose shared evidence, never gain it).
    """
    sized = (
        with_shingle_col(df, text_col, shingle_k, out="__sh")
        .select(F.col(id_col), F.col("__sh"))
        .withColumn("__n", F.size("__sh"))
        .where(F.col("__n") > 0)
    )
    with persisted(sized):
        inv = sized.select(id_col, "__n", F.explode("__sh").alias("__s"))
        if max_df is not None:
            # the documented 100 TB lever (SCALE.md): drop boilerplate
            # shingles appearing in more than max_df of all docs BEFORE the
            # self-join — candidate pairs shrink from the head of the
            # shingle-frequency distribution, where they explode. Denominators
            # (__n) stay the FULL distinct-shingle counts, so scores for
            # surviving pairs are conservative (never inflated) — a pair can
            # only lose evidence, not gain it.
            n_docs = sized.count()
            hot = (
                inv.groupBy("__s")
                .agg(F.count("*").alias("__df"))
                .where(F.col("__df") > max_df * n_docs)
                .select("__s")
            )
            inv = inv.join(F.broadcast(hot), "__s", "left_anti")
        a = inv.alias("a")
        b = inv.alias("b")
        shared = (
            a.join(
                b,
                (F.col("a.__s") == F.col("b.__s"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.__n").alias("n_a"),
                F.col("b.__n").alias("n_b"),
            )
            .agg(F.count("*").alias("shared"))
        )
        c_ab = F.col("shared").cast("double") / F.col("n_a").cast("double")
        c_ba = F.col("shared").cast("double") / F.col("n_b").cast("double")
        contained = (
            F.when((F.col("c_ab") >= 1.0) & (F.col("c_ba") >= 1.0), "both")
            .when(F.col("c_ab") >= F.col("c_ba"), "a")
            .otherwise("b")
        )
        return (
            shared.withColumn("c_ab", c_ab)
            .withColumn("c_ba", c_ba)
            .where(F.greatest("c_ab", "c_ba") >= tau)
            .withColumn("contained", contained)
            .select("id_a", "id_b", "shared", "n_a", "n_b", "c_ab", "c_ba", "contained")
            .localCheckpoint(eager=True)
        )


def containment_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    tau: float = 0.5,
    max_df: float | None = None,
) -> DataFrame:
    """:func:`containment_pairs` via PREFIX FILTERING — identical output,
    corpus-scale candidate generation (the r9 verdict's named next lever
    for the one probe near the red line).

    The qualifying direction of ``max(C(A→B), C(B→A)) ≥ τ`` is always
    the SMALLER set's containment (smaller denominator), so a qualifying
    pair must intersect inside the smaller doc's prefix: if B misses all
    of A's first ``p`` shingles under a global total order, then
    ``|K(A)∩K(B)| ≤ |K(A)| − p``, and C(A→B) = shared/|S(A)| < τ once
    ``p > |K(A)| − τ·|S(A)|`` — hence ``p = ⌊|K(A)| − τ·|S(A)|⌋ + 1``
    (``K`` = kept shingles after the optional ``max_df`` drop, ``S`` =
    the full set whose size stays the denominator; with no ``max_df``
    this is the classic ``⌊(1−τ)n⌋+1``). The candidate join probes each
    doc's PREFIX against the FULL index of strictly-larger docs only
    (ties broken by id), so the join fan-out shrinks by both the prefix
    factor and the half-matrix role split; verification recomputes exact
    shared counts from the kept-shingle ARRAYS per surviving pair
    (``array_intersect`` — no re-enumeration of every co-occurrence,
    which is what made the unfiltered form's cost track the 98×
    candidate growth at 10× data). Same total order as
    :func:`ngram_jaccard_pairs_prefix`: (xxhash64(shingle), shingle) —
    content-only, deterministic across runs.

    A doc whose ``τ·|S|`` exceeds ``|K|`` can never be the contained
    side (too much of it was dropped as boilerplate) — its prefix is
    empty, matching the unfiltered ``max_df`` semantics where such a
    pair cannot reach the threshold either. The pairs come back eagerly
    checkpointed.
    """
    if not 0 < tau <= 1:
        raise ValueError("prefix filtering requires 0 < tau <= 1")
    sized = (
        with_shingle_col(df, text_col, shingle_k, out="__sh")
        .select(F.col(id_col), F.col("__sh"))
        .withColumn("__n", F.size("__sh"))
        .where(F.col("__n") > 0)
    )
    ordered = F.transform(
        F.array_sort(
            F.transform(
                F.col("__sh"), lambda s: F.struct(F.xxhash64(s).alias("h"), s.alias("s"))
            )
        ),
        lambda st: st["s"],
    )
    # persist ABOVE the ordering transform: base feeds four consumers
    # (prefix index, full index, and both verification sides) — without
    # this the tokenize+shingle+sort pipeline executes four times
    base = sized.select(F.col(id_col), F.col("__n"), ordered.alias("__ord"))
    with persisted(base):
        if max_df is not None:
            # the pre-filter frame feeds three consumers (count,
            # hot-shingle scan, kept-explode); the kept frame is persisted
            # in its place for the four above
            n_docs = base.count()
            hot = (
                base.select(F.explode("__ord").alias("__s"))
                .groupBy("__s")
                .agg(F.count("*").alias("__df"))
                .where(F.col("__df") > max_df * n_docs)
                .select("__s")
            )
            kept_ex = base.select(
                F.col(id_col), F.col("__n"), F.posexplode("__ord").alias("__pos", "__s")
            ).join(F.broadcast(hot), "__s", "left_anti")
            base = kept_ex.groupBy(id_col, "__n").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__s"))),
                    lambda st: st["__s"],
                ).alias("__ord")
            )
        with persisted(base):  # already persisted (a no-op) without max_df
            return _prefix_containment(base, id_col, tau).localCheckpoint(eager=True)


def _prefix_containment(base: DataFrame, id_col: str, tau: float) -> DataFrame:
    """The candidate join and verification of :func:`containment_pairs_prefix`
    over (id, __n, __ord), each doc's kept shingles in the total order."""
    # p = floor(|K| - tau*|S|) + 1; the 1e-9 nudge makes a float near-tie
    # err toward a LONGER prefix (extra candidate, never a missed one)
    p = (
        F.floor(
            F.size("__ord").cast("double") - F.lit(tau) * F.col("__n").cast("double")
            + F.lit(1e-9)
        )
        + 1
    ).cast("int")
    pre = base.select(
        F.col(id_col),
        F.col("__n"),
        F.explode(F.slice("__ord", 1, F.greatest(p, F.lit(0)))).alias("__s"),
    )
    full = base.select(F.col(id_col), F.col("__n"), F.explode("__ord").alias("__s"))
    a, b = pre.alias("a"), full.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (
                (F.col("a.__n") < F.col("b.__n"))
                | (
                    (F.col("a.__n") == F.col("b.__n"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                )
            ),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ka = base.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"), F.col("__ord").alias("__ka")
    )
    kb = base.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"), F.col("__ord").alias("__kb")
    )
    ver = cand.join(ka, "id_a").join(kb, "id_b")
    shared = F.size(F.array_intersect("__ka", "__kb")).cast("long")
    c_ab = F.col("shared").cast("double") / F.col("n_a").cast("double")
    c_ba = F.col("shared").cast("double") / F.col("n_b").cast("double")
    contained = (
        F.when((F.col("c_ab") >= 1.0) & (F.col("c_ba") >= 1.0), "both")
        .when(F.col("c_ab") >= F.col("c_ba"), "a")
        .otherwise("b")
    )
    return (
        ver.withColumn("shared", shared)
        .withColumn("c_ab", c_ab)
        .withColumn("c_ba", c_ba)
        .where(F.greatest("c_ab", "c_ba") >= tau)
        .withColumn("contained", contained)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "c_ab", "c_ba", "contained")
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """EXACT duplicated-span detection (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): find every
    maximal token span whose length-``k`` windows all occur at least
    ``min_count`` times in the corpus — the memorization-prone
    boilerplate/license/quotation text that document-level dedup
    (MinHash, containment) cannot remove because the documents as a
    whole are distinct.

    Relationship to the r5 machinery: :func:`duplicated_span_intervals`
    is the hash-keyed removal primitive (merged [start, end] intervals
    feeding :func:`remove_duplicate_spans`); this form is the
    DIAGNOSTIC twin — exact string keying by default (fully
    SQL-replayable, hash path equality-pinned) and per-span window
    counts for reporting/thresholding.

    Spark-first shape (the suffix-array of the paper is a single-node
    construct; the equivalent corpus-scale join is):

    1. one scan explodes token k-grams WITH positions;
    2. a map-side-combined groupBy counts each gram's corpus frequency
       (by the gram STRING by default — exact, fully SQL-replayable;
       ``hash_grams=True`` is the declared 100 TB fast path, grouping
       on xxhash64 to shrink shuffle keys at a vanishing collision
       risk);
    3. duplicated gram starts flow back through a semi-join, and the
       classic gaps-and-islands window (pos − row_number) merges
       overlapping duplicated windows into MAXIMAL spans per doc.

    Returns (id, span_start, span_len, n_windows), eagerly checkpointed:
    token offsets, span_len = last_start − first_start + k. Exact
    integers end-to-end.
    Docs shorter than ``k`` tokens contribute no windows (they are
    document-level dedup's job, not span surgery's).
    """
    if k < 2:
        raise ValueError("duplicated_spans needs k >= 2")
    if min_count < 2:
        raise ValueError("a span occurring once is not duplicated")
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).where(F.size("__toks") >= k)
    grams = toked.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - k),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, k)),
            )
        ).alias("__pos", "__g"),
    )
    if hash_grams:
        grams = grams.select(F.col(id_col), "__pos", F.xxhash64("__g").alias("__g"))
    dup = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_count)
        .select("__g")
    )
    marked = grams.join(dup, "__g", "left_semi").select(F.col(id_col), "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    islands = marked.withColumn(
        "__isl", F.col("__pos") - F.row_number().over(w)
    )
    result = (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") - F.min("__pos") + F.lit(k)).alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_len", "n_windows")
    )
    # the exploded k-gram frame feeds BOTH the frequency count and the
    # semi-join probe; persist it once or the tokenize + k-gram concat —
    # the dominant cost at scale — executes twice
    with persisted(grams):
        return result.localCheckpoint(eager=True)


def remove_duplicated_spans_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """The ACTIONABLE half of :func:`duplicated_spans` (Lee et al., ACL
    2022 remove one copy, not all): excise duplicated text from every
    document while keeping exactly one corpus-canonical occurrence.

    Complements the r5 :func:`remove_duplicate_spans` (which removes
    EVERY copy — the right policy for contamination scrubbing, where no
    occurrence may survive); this keep-first form is the paper's
    training-dedup policy, where the corpus should retain each
    boilerplate block exactly once.

    Deterministic gram-level policy (documented, SQL-replayable): each
    duplicated k-gram's CANONICAL occurrence is its first by
    (id, position); a token is removed iff it is covered by at least
    one duplicated-gram occurrence and by NO canonical occurrence — so
    the first copy of a boilerplate block survives intact and every
    other copy disappears, with overlap between different duplicated
    grams resolved conservatively (tokens inside any kept copy stay).

    Returns (id, cleaned_text, n_tokens, n_removed) where cleaned_text
    is the NORMALIZED token stream with removed tokens excised (span
    surgery operates on the same normalization the detector used —
    callers wanting original-byte surgery map the token offsets back
    through their own tokenizer, exactly as with the paper's
    suffix-array offsets). Docs shorter than ``k`` tokens pass through
    untouched.

    Scale shape: the coverage explode (×k) runs ONLY over duplicated
    occurrences — the small head of the distribution — never the whole
    corpus; the gram frame is persisted once and shared by the count
    and the probe, and the result comes back eagerly checkpointed.
    """
    if k < 2:
        raise ValueError("remove_duplicated_spans needs k >= 2")
    if min_count < 2:
        raise ValueError("a span occurring once is not duplicated")

    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    grams = base.where(F.col("__n") >= k).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("__n") - k),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, k)),
            )
        ).alias("__pos", "__g"),
    )
    if hash_grams:
        grams = grams.select(F.col(id_col), "__pos", F.xxhash64("__g").alias("__g"))
    dup = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("__g")
    )
    occ = grams.join(dup, "__g", "left_semi")
    w = Window.partitionBy("__g").orderBy(F.col(id_col), F.col("__pos"))
    occ = occ.withColumn("__canon", (F.row_number().over(w) == 1).cast("int"))
    cov = occ.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("__pos"), F.col("__pos") + k - 1)).alias("__t"),
        "__canon",
    )
    remove = (
        cov.groupBy(id_col, "__t")
        .agg(F.max("__canon").alias("__anycanon"))
        .where(F.col("__anycanon") == 0)
        .select(id_col, "__t")
    )
    toks = base.select(
        F.col(id_col), "__n", F.posexplode("__toks").alias("__t", "__tok")
    )
    kept = toks.join(remove, [id_col, "__t"], "left_anti")
    rebuilt = kept.groupBy(id_col, "__n").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__t", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    result = (
        base.select(F.col(id_col), F.col("__n").alias("n_tokens"))
        .join(rebuilt.drop("__n"), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
            F.col("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("__kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )
    with persisted(grams):
        return result.localCheckpoint(eager=True)
