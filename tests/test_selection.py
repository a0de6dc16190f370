"""Corpus selection: leakage-safe splits and token-budget selection."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.selection import (
    budget_select,
    leakage_safe_split,
)


def _docs(spark, n=200):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def test_leakage_safe_split_no_cluster_straddles(spark):
    docs = _docs(spark)
    # chains 0-1-2, 10-11, and a long chain 20..24
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(docs, pairs).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in out}
    assert len(split_of) == 200
    # every connected group shares one split
    assert split_of[0] == split_of[1] == split_of[2]
    assert split_of[10] == split_of[11]
    assert len({split_of[i] for i in range(20, 25)}) == 1
    assert cluster_of[24] == 20 and cluster_of[2] == 0
    # singletons got their own id as cluster
    assert cluster_of[99] == 99
    # all three splits are populated at n=200
    assert {r["split"] for r in out} == {"train", "val", "test"}
    # and the plain doc-hash split WOULD have straddled at least one
    # cluster (the reason this operator exists): find a pair whose members
    # hash to different buckets under the doc-id rule
    def doc_bucket(i):
        return int(hashlib.md5(f"{i}:ls-seed".encode()).hexdigest()[:4], 16) % 100

    def to_split(b):
        return "train" if b < 80 else ("val" if b < 90 else "test")

    straddles = [
        (a, b)
        for a, b in [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)]
        if to_split(doc_bucket(a)) != to_split(doc_bucket(b))
    ]
    assert straddles, "fixture should demonstrate the leak the guard prevents"


def test_leakage_safe_split_validates(spark):
    docs = _docs(spark, 10)
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(ValueError):
        leakage_safe_split(docs, pairs, train_pct=0)
    with pytest.raises(ValueError):
        leakage_safe_split(docs, pairs, train_pct=95, val_pct=5)


def _scored(spark, n=300):
    # quality in {0.1 .. 0.9}, tokens 10..59, both deterministic
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (((F.col("id") * 7) % 9 + 1) / 10.0).alias("quality_score"),
        ((F.col("id") * 13) % 50 + 10).alias("n_tokens"),
    )


def _brute_force(rows, budget):
    def tie(i):
        return hashlib.md5(f"budget:{i}".encode()).hexdigest()

    order = sorted(rows, key=lambda r: (-r["quality_score"], tie(r["doc_id"]), r["doc_id"]))
    kept, total = set(), 0
    for r in order:
        if total + r["n_tokens"] <= budget:
            kept.add(r["doc_id"])
            total += r["n_tokens"]
        else:
            break  # greedy prefix, not knapsack
    return kept


@pytest.mark.parametrize("budget", [0, 137, 2_000, 5_003, 10_000_000])
def test_budget_select_equals_bruteforce_prefix(spark, budget):
    df = _scored(spark)
    rows = [r.asDict() for r in df.collect()]
    got = {
        r["doc_id"]
        for r in budget_select(df, budget).where(F.col("is_selected")).collect()
    }
    assert got == _brute_force(rows, budget)


def test_budget_select_respects_budget_and_maximality(spark):
    df = _scored(spark)
    sel = budget_select(df, 3_000).where(F.col("is_selected"))
    total = sel.agg(F.sum("n_tokens")).collect()[0][0]
    assert total <= 3_000
    # maximal prefix: the next document in order would overflow
    assert total > 3_000 - 60  # max token size is 59


def test_dsir_importance_prefers_target_like_docs(spark):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.selection import (
        dsir_importance,
    )

    # target sample talks about chemistry; the raw pool mixes chemistry-
    # like docs with sports docs — chemistry docs must score higher
    target = [(i, "atoms molecules reaction catalyst electron orbit", True) for i in range(5)]
    chem = [(100 + i, "the reaction of molecules and catalyst electron", False) for i in range(5)]
    sport = [(200 + i, "goal match referee stadium crowd season trophy", False) for i in range(5)]
    df = spark.createDataFrame(target + chem + sport, "doc_id long, text string, t boolean")
    out = {r["doc_id"]: r["importance"] for r in dsir_importance(df, F.col("t")).collect()}
    assert set(out) == {r[0] for r in chem + sport}  # target rows excluded
    chem_mean = sum(out[i] for i, _, _ in chem) / 5
    sport_mean = sum(out[i] for i, _, _ in sport) / 5
    assert chem_mean > sport_mean + 0.5


def test_dsir_importance_is_length_invariant(spark):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.selection import (
        dsir_importance,
    )

    # a doc repeated 5x has the same MEAN llr as the single copy
    base = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon", True),
         (1, base, False),
         (2, " ".join([base] * 5), False)],
        "doc_id long, text string, t boolean",
    )
    out = {r["doc_id"]: r for r in dsir_importance(df, F.col("t")).collect()}
    assert out[1]["importance"] == out[2]["importance"]
    assert out[2]["n_tokens"] == 5 * out[1]["n_tokens"]


def _scored_continuous(spark, n=300):
    # effectively-continuous score: unique per document (the realistic
    # logistic-model output case the per-distinct-score design choked on)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.sin(F.col("id").cast("double") * 0.7113) * 1000).alias("quality_score"),
        ((F.col("id") * 13) % 50 + 10).alias("n_tokens"),
    )


@pytest.mark.parametrize("budget", [0, 137, 2_000, 5_003, 10_000_000])
def test_budget_select_continuous_scores_equal_bruteforce(spark, budget):
    """Unique-per-doc scores: the quantized boundary search must still
    reproduce the exact greedy prefix."""
    df = _scored_continuous(spark)
    rows = [r.asDict() for r in df.collect()]
    got = {
        r["doc_id"]
        for r in budget_select(df, budget).where(F.col("is_selected")).collect()
    }
    assert got == _brute_force(rows, budget)


def test_budget_select_continuous_scores_few_bins(spark):
    """Coarse binning (n_bins far below |distinct scores|) stays exact —
    bins only bound the search, never change the semantics."""
    df = _scored_continuous(spark, 200)
    rows = [r.asDict() for r in df.collect()]
    for n_bins in (1, 2, 7, 64):
        got = {
            r["doc_id"]
            for r in budget_select(df, 2_500, n_bins=n_bins)
            .where(F.col("is_selected"))
            .collect()
        }
        assert got == _brute_force(rows, 2_500), f"n_bins={n_bins}"


def test_budget_select_boundary_frame_bounded(spark):
    """The boundary-search frame is ≤ n_bins rows no matter how many
    distinct scores exist — the 100 TB guarantee the rewrite adds."""
    df = _scored_continuous(spark, 500)  # 500 distinct scores
    n_bins = 16
    score = F.col("quality_score").cast("double")
    mm = df.agg(F.min(score).alias("__lo"), F.max(score).alias("__hi"))
    width = (F.col("__hi") - F.col("__lo")) / n_bins
    per_bin = (
        df.crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.lit(n_bins - 1), F.floor((score - F.col("__lo")) / width).cast("int")
            ).alias("__bkt")
        )
        .groupBy("__bkt")
        .count()
    )
    assert per_bin.count() <= n_bins
    # and the real operator with that bin count is still exact
    rows = [r.asDict() for r in df.collect()]
    got = {
        r["doc_id"]
        for r in budget_select(df, 4_000, n_bins=n_bins)
        .where(F.col("is_selected"))
        .collect()
    }
    assert got == _brute_force(rows, 4_000)


def test_budget_select_null_scores_kept_unselected(spark):
    """NULL-score rows surface in the output with is_selected=false —
    never silently dropped (the round-5 ADVICE contract)."""
    df = spark.createDataFrame(
        [(0, 0.9, 10), (1, None, 10), (2, 0.5, 10), (3, None, 10)],
        "doc_id long, quality_score double, n_tokens long",
    )
    out = budget_select(df, 15).orderBy("doc_id").collect()
    assert len(out) == 4  # nothing dropped
    by_id = {r.doc_id: r.is_selected for r in out}
    assert by_id[1] is False and by_id[3] is False
    assert by_id[0] is True  # 0.9 fits
    assert by_id[2] is False  # second doc would overflow the 15-token budget


def test_budget_select_constant_score_exact_and_window_bounded(spark):
    """The round-6 worst case removed: a single-value-dominated score
    column (every row one score — the whole corpus lands in ONE
    equi-width bin) is re-binned by the uniform md5 tie hash before the
    ordered prefix, so the window input is ≈ corpus / n_bins rows, not
    the whole corpus — and the selection stays the exact greedy prefix."""
    n, n_bins = 2_000, 16
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0.5).alias("quality_score"),  # corpus-wide constant
        ((F.col("id") * 13) % 50 + 10).alias("n_tokens"),
    )
    rows = [r.asDict() for r in df.collect()]
    budget = 20_000  # boundary lands mid-corpus
    got = {
        r["doc_id"]
        for r in budget_select(df, budget, n_bins=n_bins)
        .where(F.col("is_selected"))
        .collect()
    }
    assert got == _brute_force(rows, budget)

    # the re-bin bound: replicate the operator's tie-hash sub-binning and
    # assert no sub-bin holds more than a few × n/n_bins rows (md5 is
    # uniform), i.e. the ordered-prefix window never sees the whole bin
    tie = F.md5(F.concat(F.lit("budget:"), F.col("doc_id").cast("string")))
    tie_u = F.conv(F.substring(tie, 1, 13), 16, 10).cast("double") / float(1 << 52)
    sizes = [
        r["count"]
        for r in df.select(
            F.least(F.lit(n_bins - 1), F.floor(tie_u * n_bins).cast("int")).alias("b")
        )
        .groupBy("b")
        .count()
        .collect()
    ]
    assert len(sizes) == n_bins  # every sub-bin populated at n >> n_bins
    assert max(sizes) < 3 * (n // n_bins)


def test_budget_select_mass_concentrated_bin_exact(spark):
    """90% of mass at one score (inside one bin), the rest spread: the
    boundary bin's sub-binning must keep the result exact whether the
    boundary falls in the dominated bin or not."""
    n = 1_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, 0.5)
        .otherwise(((F.col("id") % 97) + 1) / 100.0)
        .alias("quality_score"),
        ((F.col("id") * 7) % 40 + 5).alias("n_tokens"),
    )
    rows = [r.asDict() for r in df.collect()]
    for budget in (500, 5_000, 12_000, 23_000):
        got = {
            r["doc_id"]
            for r in budget_select(df, budget, n_bins=8)
            .where(F.col("is_selected"))
            .collect()
        }
        assert got == _brute_force(rows, budget), f"budget={budget}"

def test_budget_select_interleaved_calls_thread_safe(spark):
    """Two concurrent budget_select calls (directive r7#6) from different
    threads must both stay exact: each call persists and releases only
    its own input, and a released frame only loses its cache, never its
    plan."""
    import threading

    df1 = _scored_continuous(spark, 300)
    df2 = spark.range(400).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 31) % 100 / 100.0).alias("quality_score"),
        ((F.col("id") * 11) % 30 + 5).alias("n_tokens"),
    )
    rows1 = [r.asDict() for r in df1.collect()]
    rows2 = [r.asDict() for r in df2.collect()]
    results: dict = {}
    errors: list = []

    def run(key, df, budget):
        try:
            sel = budget_select(df, budget, n_bins=16)
            results[key] = {
                r["doc_id"]
                for r in sel.where(F.col("is_selected")).collect()
            }
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t1 = threading.Thread(target=run, args=("a", df1, 2_500))
    t2 = threading.Thread(target=run, args=("b", df2, 3_000))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    assert results["a"] == _brute_force(rows1, 2_500)
    assert results["b"] == _brute_force(rows2, 3_000)
