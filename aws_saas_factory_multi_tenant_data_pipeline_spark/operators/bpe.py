"""Byte-pair-encoding vocabulary induction (SURVEY.md §2 B10).

Real BPE trainers (Sennrich et al. 2016) do NOT iterate over the corpus:
they aggregate the corpus ONCE into a word-frequency table (Zipf ⇒ the
vocab is orders of magnitude smaller than the corpus), then run the merge
loop on that table. Same here: the only corpus-scale pass is the word
count (one shuffle); each merge round is a pair-count aggregate plus a
string replace over the small vocab frame, with a 1-row collect to pick
the winning pair (a scalar per round — the same driver-side pattern as
any iterative algorithm's convergence check).

Engine-portable representation: a word's symbol sequence is encoded as a
string — single leading/trailing space, symbols joined by DOUBLE spaces,
end-of-word marker '_' appended:

    "low" → " l  o  w  _ "

Applying merge (a,b) is then a plain non-overlapping left-to-right
``replace(s, ' a  b ', ' ab ')``. The double-space join makes adjacent
matches share no characters (each match consumes exactly one boundary
space on each side and the replacement re-emits both), so plain replace
reproduces BPE's greedy left-to-right merge — including the [a,a,a] →
[aa,a] overlap case — identically in Spark and DuckDB, no lookarounds
needed (RE2/ICU regex differences never enter).

Determinism: winning pair = max total count, ties by lexicographic pair
string; symbols are [a-z0-9_] after normalization, so '  ' never occurs
inside a symbol.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import tokens
from aws_saas_factory_multi_tenant_data_pipeline_spark.session import persisted


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the normalized corpus — the one corpus-scale pass."""
    w = df.select(F.explode(tokens(F.col(text_col))).alias("word")).where(
        F.col("word") != ""
    )
    return w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def symbolize(word: Column) -> Column:
    """' l  o  w  _ ' encoding: chars + end-of-word marker, double-space
    joined, single-space bordered."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: word.substr(i, F.lit(1))
    )
    syms = F.concat(chars, F.array(F.lit("_")))
    return F.concat(F.lit(" "), F.array_join(syms, "  "), F.lit(" "))


def pair_counts(vocab: DataFrame, sym_col: str = "s") -> DataFrame:
    """Adjacent-symbol-pair totals over the vocab frame: (pair, n) with
    pair = 'a b'."""
    l = F.split(F.trim(F.col(sym_col)), "  ")
    # Spark's sequence(1, 0) DESCENDS rather than being empty — guard the
    # fully-merged single-symbol case (DuckDB's range(1, 1) is empty)
    idx = F.when(F.size(l) >= 2, F.sequence(F.lit(1), F.size(l) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.transform(
        idx,
        lambda j: F.concat(F.element_at(l, j), F.lit(" "), F.element_at(l, j + 1)),
    )
    return (
        vocab.select(F.explode(pairs).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
    )


def apply_merge(s: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent pair (a, b) → ab."""
    return F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))


def symbolize_document(text: Column) -> Column:
    """Whole-document symbol string: every word contributes its chars +
    '_', all flattened into one double-space-joined sequence.

    Applying merges at document level is safe because no learnable pair
    can span a word boundary: '_'-suffixed symbols are always word-final,
    nothing follows '_' within a word, so a learned pair's LEFT symbol is
    never word-final — the replace pattern cannot straddle two words."""
    words = F.filter(tokens(text), lambda w: w != F.lit(""))
    per_word = F.transform(
        words,
        lambda w: F.concat(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
                ),
                "  ",
            ),
            F.lit("  _"),
        ),
    )
    return F.concat(F.lit(" "), F.array_join(per_word, "  "), F.lit(" "))


def encode_documents(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply an ordered merge list to every document; returns (id,
    n_tokens, token_fp) where token_fp is md5 of the single-space token
    join. Pure narrow projection — a chain of replaces, no shuffle."""
    s: Column = symbolize_document(F.col(text_col))
    for a, b in merges:
        s = apply_merge(s, a, b)
    toks = F.split(F.trim(s), "  ")
    joined = F.array_join(toks, " ")
    return df.select(
        F.col(id_col),
        F.when(F.trim(s) == "", F.lit(0))
        .otherwise(F.size(toks))
        .cast("int")
        .alias("n_tokens"),
        F.md5(F.when(F.trim(s) == "", F.lit("")).otherwise(joined)).alias("token_fp"),
    )


def learn_merges(
    spark: SparkSession,
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> DataFrame:
    """Learn the top ``n_merges`` BPE merges; returns (merge_rank,
    left_sym, right_sym, merged, pair_count) in merge order."""
    base = word_frequencies(df, text_col).select(symbolize(F.col("word")).alias("s"), "cnt")
    with persisted(base):
        base.count()  # materialize once; every round folds replaces on top
        vocab = base
        merges: list[tuple[int, str, str, str, int]] = []
        for r in range(1, n_merges + 1):
            best = (
                pair_counts(vocab)
                .orderBy(F.desc("n"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            pair, n = best[0]["pair"], int(best[0]["n"])
            a, b = pair.split(" ")
            merges.append((r, a, b, a + b, n))
            vocab = vocab.withColumn("s", apply_merge(F.col("s"), a, b))
            # every replace stacks another projection on the plan; without a
            # cut the chain re-evaluates all prior merges each round (O(k^2)
            # total work) and the plan depth grows unboundedly with n_merges.
            # Executor-side checkpoint every 16 rounds bounds both (same
            # pattern as operators/graph.py pagerank and dedup cluster
            # resolution).
            if r % 16 == 0:
                vocab = vocab.localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )
