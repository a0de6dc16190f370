"""Training-corpus selection operators (SURVEY.md §2 B10).

Two selection primitives every corpus build eventually needs:

- :func:`leakage_safe_split` — train/val/test assignment where a
  near-duplicate CLUSTER is the atomic unit: hashing document ids (the
  plain split) lets two near-identical documents land in train and val,
  quietly leaking eval data into training. Splitting by the cluster's
  canonical id keeps whole duplicate groups on one side. Composes the
  existing pair→cluster resolution; the split itself stays the
  content-stable md5-bucket trick.

- :func:`budget_select` — the token-budget data-selection rule: keep the
  highest-quality documents whose cumulative token count fits a budget,
  deterministic ties by hashed id. The SCALABLE shape matters: no global
  sort over documents — scores are quantized into ``n_bins`` equi-width
  bins, per-bin token totals (one groupBy over ≤ n_bins rows) locate the
  boundary bin, whole bins above it are kept with a broadcast range
  check, and only the single boundary bin's documents run an ordered
  prefix window (≈ corpus/n_bins rows, not corpus-wide). The boundary
  frame is bounded by construction — ≤ n_bins rows no matter how many
  distinct score values exist (a continuous per-document score is the
  norm, not the exception) — which is what the earlier per-distinct-score
  variant could not guarantee. This is exactly how a 100 TB selection
  must run; the naive ``ORDER BY quality LIMIT``-style global sort is
  the trap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
    dedup_clusters,
    tokens,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.session import persisted


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
    seed: str = "ls-seed",
) -> DataFrame:
    """Add a ``split`` column ('train'/'val'/'test') assigned PER
    NEAR-DUP CLUSTER: documents connected through ``pairs`` (id_a, id_b)
    share the bucket of their cluster's min id; unpaired documents are
    their own singleton cluster. Content-stable (md5), engine-portable,
    and leak-proof by construction — no cluster ever straddles splits.
    """
    if not (0 < train_pct and 0 < val_pct and train_pct + val_pct < 100):
        raise ValueError("need 0 < train_pct, 0 < val_pct, train+val < 100")
    clusters = dedup_clusters(pairs)  # (node_id, cluster_id)
    withc = df.join(
        clusters.select(F.col("node_id").alias(id_col), "cluster_id"),
        id_col,
        "left",
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("cluster_id").cast("string"), F.lit(":" + seed))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    return withc.withColumn(
        "split",
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def budget_select(
    df: DataFrame,
    budget_tokens: int,
    score_col: str = "quality_score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: str = "budget",
    n_bins: int = 4096,
) -> DataFrame:
    """Keep the greedy highest-quality prefix whose token total fits
    ``budget_tokens``; within a score, documents are taken in
    md5(seed:id) order (content-stable tie-break). Adds ``is_selected``.

    Exactness contract: the selected set is identical to sorting ALL
    documents by (score DESC, md5 tie, id) and taking the maximal prefix
    with cumulative tokens ≤ budget — but computed without any
    corpus-wide sort (see module docstring). NULL-score rows are kept in
    the output with ``is_selected = false`` (a NULL quality score means
    "unscorable", which a budget selection must never spend tokens on —
    and must never silently drop from the returned frame either).

    Bounded-memory contract: everything that leaves the executors is
    ≤ ``n_bins`` rows (the per-bin token/count profile, collected once
    for driver-side planning — bin decisions become literal predicates,
    so the final job is two plain corpus scans with NO joins). The
    ordered-prefix window input is ≤ ``n_bins`` rows in the common case
    (boundary bin ≈ corpus/n_bins, known from the collected profile);
    ONLY a pathological distribution (all mass in one equi-width bin —
    e.g. a corpus-wide constant score) pays a one-shot checkpoint + re-bin —
    by score when the bin's scores spread, by the uniform md5 tie hash
    when they don't — shrinking the window input to ≈ corpus / n_bins²
    rows. The irreducible residual is an equal-(score,
    13-hex-tie-prefix) class — cryptographically negligible.

    ``df`` is persisted MEMORY_AND_DISK for the call: budget selection
    is inherently multi-pass (min/max, per-bin profile, final split
    scans), and recomputing an expensive upstream (a quality model is
    typical) 3-4× dwarfs the cache cost of a slim scored frame — at
    100 TB pass a projection of (id, score, tokens, carry-along
    columns), which spills fine. The result comes back eagerly
    checkpointed and the cache is released before returning; a ``df``
    the caller had already cached stays cached.
    """
    if budget_tokens < 0:
        raise ValueError("budget_tokens must be >= 0")
    with persisted(df):
        result = _select(df, budget_tokens, score_col, tokens_col, id_col, seed, n_bins)
        return result.localCheckpoint(eager=True)


def _select(
    df: DataFrame,
    budget_tokens: int,
    score_col: str,
    tokens_col: str,
    id_col: str,
    seed: str,
    n_bins: int,
) -> DataFrame:
    """:func:`budget_select`'s lazy plan over the persisted ``df``."""
    score = F.col(score_col).cast("double")
    tok_l = F.col(tokens_col).cast("long")
    tie = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    tie_u = F.conv(F.substring(tie, 1, 13), 16, 10).cast("double") / float(1 << 52)

    # Driver-side planning (r8): min/max + the per-bin (tokens, count)
    # profile are TINY (1 row, then ≤ n_bins rows) — collect them and
    # turn every whole-bin decision into a literal predicate. This
    # removes both broadcast hash joins the r6/r7 plans carried AND the
    # r7 re-bin's extra boundary traversals: the final job is exactly
    # two corpus scans (the non-boundary filter and the boundary filter
    # + its ≤-n_bins-row window). At 100 TB the collected state is still
    # ≤ n_bins rows — nothing corpus-sized ever reaches the driver.
    lohi = df.agg(F.min(score).alias("lo"), F.max(score).alias("hi")).collect()[0]
    lo, hi = lohi["lo"], lohi["hi"]
    if lo is None:
        # no scorable rows at all: keep everything, select nothing
        return df.withColumn("is_selected", F.lit(False))
    # equi-width bin ids are a monotone function of the score, so equal
    # scores share a bin and bin order = score order. NULL scores ride
    # the SAME scan as bin -1 (kept, never selected) — no separate pass.
    if hi == lo:
        bkt = F.when(score.isNull(), F.lit(-1)).otherwise(F.lit(0))
    else:
        width = (hi - lo) / n_bins  # same IEEE double arithmetic as Spark's
        bkt = F.when(score.isNull(), F.lit(-1)).otherwise(
            F.least(
                F.lit(n_bins - 1),
                F.floor((score - F.lit(lo)) / F.lit(width)).cast("int"),
            )
        )
    binned = df.withColumn("__bkt", bkt)
    stats = (
        binned.where(F.col("__bkt") >= 0)
        .groupBy("__bkt")
        .agg(F.sum(tok_l).alias("bt"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    # replay the cumulative walk driver-side (descending bin = greedy
    # order): whole_in bins are kept wholesale, at most ONE bin straddles
    # the budget (once before ≥ budget, every lower bin is excluded)
    full_bins: list[int] = []
    boundary_bkt = None
    boundary_before = 0
    boundary_cnt = 0
    before = 0
    for row in sorted(stats, key=lambda r: -r["__bkt"]):
        bt = row["bt"] or 0
        if before + bt <= budget_tokens:
            full_bins.append(row["__bkt"])
        elif before < budget_tokens:
            boundary_bkt, boundary_before, boundary_cnt = (
                row["__bkt"],
                before,
                row["cnt"],
            )
        before += bt
    in_full = (
        F.col("__bkt").isin(full_bins) if full_bins else F.lit(False)
    )
    if boundary_bkt is None:
        # no straddling bin: one corpus scan, a literal IN-set, done
        return binned.withColumn("is_selected", in_full).drop("__bkt")
    decided = binned.where(F.col("__bkt") != boundary_bkt).withColumn(
        "is_selected", in_full
    )
    if boundary_cnt <= n_bins:
        # common case (boundary bin ≈ corpus/n_bins rows): the ordered
        # prefix runs straight over the bounded boundary bin — no
        # checkpoint, no re-bin, no extra jobs (this was the r7 regression)
        wb0 = Window.orderBy(score.desc(), tie, F.col(id_col))
        run0 = F.sum(tok_l).over(wb0)
        edge = binned.where(F.col("__bkt") == boundary_bkt).withColumn(
            "is_selected", (F.lit(boundary_before) + run0) <= budget_tokens
        )
        return decided.unionByName(edge).drop("__bkt")
    # pathological case ONLY (all mass in one equi-width bin — e.g. a
    # corpus-wide constant score): materialize the boundary bin and re-bin
    # it once before the window. Sub-bin ids are monotone along the exact
    # greedy order (score DESC, tie ASC): by score when the bin's scores
    # spread, by the uniform md5 tie hash (13 hex digits = 52
    # double-exact bits) when they don't — ≈ bin/n_bins rows reach the
    # window.
    edge_in = binned.where(F.col("__bkt") == boundary_bkt).localCheckpoint(eager=True)
    lohi2 = edge_in.agg(
        F.min(score).alias("lo"), F.max(score).alias("hi")
    ).collect()[0]
    lo2, hi2 = lohi2["lo"], lohi2["hi"]
    if hi2 == lo2:
        sub = F.least(F.lit(n_bins - 1), F.floor(tie_u * n_bins).cast("int"))
    else:
        width2 = (hi2 - lo2) / n_bins
        sub = F.least(
            F.lit(n_bins - 1),
            F.floor((F.lit(hi2) - score) / F.lit(width2)).cast("int"),
        )
    binned2 = edge_in.withColumn("__bkt2", sub)
    stats2 = (
        binned2.groupBy("__bkt2")
        .agg(F.sum(tok_l).alias("bt"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    # ascending sub-bin = greedy order (hi2 - score grows as score falls)
    full2: list[int] = []
    bb2 = None
    bb2_before = 0
    before2 = boundary_before
    for row in sorted(stats2, key=lambda r: r["__bkt2"]):
        bt = row["bt"] or 0
        if before2 + bt <= budget_tokens:
            full2.append(row["__bkt2"])
        elif before2 < budget_tokens:
            bb2, bb2_before = row["__bkt2"], before2
        before2 += bt
    in_full2 = F.col("__bkt2").isin(full2) if full2 else F.lit(False)
    if bb2 is None:
        edge = binned2.withColumn("is_selected", in_full2).drop("__bkt2")
        return decided.unionByName(edge).drop("__bkt")
    decided2 = binned2.where(F.col("__bkt2") != bb2).withColumn(
        "is_selected", in_full2
    )
    # only the boundary SUB-bin runs the ordered prefix, over its own rows
    wb = Window.orderBy(score.desc(), tie, F.col(id_col))
    run = F.sum(tok_l).over(wb)
    edge2 = binned2.where(F.col("__bkt2") == bb2).withColumn(
        "is_selected", (F.lit(bb2_before) + run) <= budget_tokens
    )
    edge = decided2.unionByName(edge2).drop("__bkt2")
    return decided.unionByName(edge).drop("__bkt")


def dsir_importance(
    df: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every document by how target-like its hashed unigram profile
    is. ``is_target`` is a boolean Column marking the (small) target
    sample inside ``df``.

    Per hashed-token bucket b: ``llr(b) = ln p_target(b) − ln p_raw(b)``
    with add-one smoothing; per document: importance = round-6 MEAN of
    its tokens' llr (mean, not sum, so length doesn't masquerade as
    target-likeness). All hashing is the md5-portable kind and the two
    distributions live in one ``n_buckets``-row frame built with a single
    conditional aggregation pass, broadcast back — so scoring 100 TB is
    one tokenize pass + a broadcast join on an 8-byte bucket id. The
    ``llm_dsir_importance`` oracle replays every step (ln/exp round-6 is
    the same single-pass float contract the quality model uses).

    Returns (id, n_tokens, importance) for NON-target rows (the raw pool
    being reweighted/resampled).
    """
    toks = df.select(
        F.col(id_col),
        is_target.alias("__t"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    ).where(F.col("__tok") != "")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(seed), F.col("__tok"))), 1, 13),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    hits = toks.select(F.col(id_col), "__t", bucket.alias("__b"))
    dist = hits.groupBy("__b").agg(
        F.count(F.when(F.col("__t"), 1)).alias("__ct"),
        F.count(F.when(~F.col("__t"), 1)).alias("__cr"),
    )
    totals = dist.agg(
        F.sum("__ct").alias("__tt"), F.sum("__cr").alias("__tr")
    )
    # per-bucket llr becomes an INTEGER (micro-llr, 1e-6 units) BEFORE the
    # cross-doc aggregation: ln is the one step where engines can differ
    # by an ulp, and quantizing at the 1024-row bucket level keeps that
    # difference away from everything downstream — per-doc sums and the
    # floor-divided mean are then exact BIGINT arithmetic, bit-identical
    # in any engine at any scale. (The earlier round-6 double mean still
    # divided a decimal sum in double and re-rounded — a near-tie there
    # flipped the 6th decimal between engines at sf0.1.)
    llr_u = F.round(
        (
            F.log((F.col("__ct") + 1).cast("double") / (F.col("__tt") + n_buckets))
            - F.log((F.col("__cr") + 1).cast("double") / (F.col("__tr") + n_buckets))
        )
        * 1000000,
        0,
    ).cast("bigint")
    llr_frame = dist.crossJoin(F.broadcast(totals)).select("__b", llr_u.alias("__u"))
    # portable floor division: (s - pmod(s, n)) / n is exact integer math
    s, cnt = F.col("__s"), F.col("n_tokens")
    fdiv = (s - F.pmod(s, cnt)) / cnt
    scored = (
        hits.where(~F.col("__t"))
        .join(F.broadcast(llr_frame), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__u").alias("__s"),
        )
        .select(
            id_col,
            "n_tokens",
            (fdiv / 1000000.0).alias("importance"),
        )
    )
    return scored
