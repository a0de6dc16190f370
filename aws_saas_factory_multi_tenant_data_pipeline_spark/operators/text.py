"""Text analysis operators (SURVEY.md §2 B10): language ID, quality scoring,
token counting, document fingerprinting.

All are built-in-function compositions (JVM, codegen). Heuristics are
deliberately simple and deterministic so the DuckDB oracle can mirror them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
    normalize_text,
    shingles,
    tokens,
)

#: tiny stopword lists per language for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "une", "les", "des", "est", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
}


def token_count(col: Column) -> Column:
    """Whitespace tokenization count."""
    t = tokens(col)
    return F.when(F.size(t) == 1, F.when(t[0] == "", 0).otherwise(1)).otherwise(F.size(t))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish proxy: count of word-piece matches (letters runs, digit runs,
    punctuation singletons) — a regex approximation of subword counts."""
    return F.size(F.regexp_extract_all(col, F.lit(r"(\p{L}+|\p{N}+|[^\p{L}\p{N}\s])"), 1))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation ratio / stopword ratio / mean word length —
    the standard cheap quality-filter features for LLM corpora.

    Tokens are materialized in their own projection first (see
    dedup.shingles_of for why: multi-referenced regex pipelines must not be
    inlined into downstream lambdas)."""
    c = F.col(text_col)
    df = df.withColumn("__toks", tokens(c))
    toks = F.col("__toks")
    n_tok = F.when(F.size(toks) == 1, F.when(toks[0] == "", 0).otherwise(1)).otherwise(
        F.size(toks)
    )
    en_stop = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    return (
        df.withColumn("n_chars_calc", F.length(c))
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "punct_ratio",
            F.round(
                F.size(F.regexp_extract_all(c, F.lit(r"([^\p{L}\p{N}\s])"), 1)).cast("double")
                / F.greatest(F.length(c), F.lit(1)).cast("double"),
                6,
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.round(
                F.size(F.array_intersect(F.array_distinct(toks), en_stop)).cast("double")
                / F.greatest(F.size(F.array_distinct(toks)), F.lit(1)).cast("double"),
                6,
            ),
        )
        .withColumn(
            "mean_word_len",
            F.round(
                F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
                / F.greatest(n_tok, F.lit(1)).cast("double"),
                6,
            ),
        )
        .drop("__toks")
    )


#: fixed linear-model weights for quality_model_score — a stand-in for a
#: trained fasttext/logreg quality classifier: rewards stopword density and
#: moderate word length (prose-like), penalizes punctuation soup, slight
#: length prior. Deterministic and published in-code so the oracle can
#: replicate the exact arithmetic.
QUALITY_WEIGHTS = {
    "bias": -0.8,
    "stopword_ratio": 3.0,
    "punct_ratio": -4.0,
    "mean_word_len": 0.08,
    "n_tokens": 0.0004,
}


def quality_model_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model-based quality scoring: sigmoid of a fixed linear model over the
    cheap quality features (the shape of a fasttext/logreg corpus-quality
    classifier, with in-code weights instead of a learned artifact).

    Adds ``quality_score`` (rounded 6 dp) and ``quality_keep``
    (score >= 0.5). Pure codegen'd expressions — scoring 100 TB is a
    narrow projection, no shuffle, no Python.
    """
    w = QUALITY_WEIGHTS
    feats = quality_features(df, text_col)
    z = (
        F.lit(w["bias"])
        + F.col("stopword_ratio") * w["stopword_ratio"]
        + F.col("punct_ratio") * w["punct_ratio"]
        + F.col("mean_word_len") * w["mean_word_len"]
        + F.col("n_tokens").cast("double") * w["n_tokens"]
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return feats.withColumn("quality_score", score).withColumn(
        "quality_keep", F.col("quality_score") >= 0.5
    )


#: PII detection patterns — spelled in the common Java-regex/RE2 subset so
#: Spark (Java) and the DuckDB oracle (RE2) match byte-identically. Redaction
#: order is the dict order (emails first: the other patterns can't overlap
#: the inserted placeholder tokens).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_redact(df: DataFrame, text_col: str = "text", out_col: str = "redacted") -> DataFrame:
    """PII scrubbing for training corpora: count and redact emails / phone
    numbers / IPv4 addresses with ``<EMAIL>``/``<PHONE>``/``<IPV4>``
    placeholders.

    Adds ``n_email``/``n_phone``/``n_ipv4`` (match counts on the ORIGINAL
    text) and ``out_col`` (the redacted text, patterns applied in
    PII_PATTERNS order). Pure regexp_extract_all/regexp_replace — narrow
    projection, no shuffle, no Python: scrubbing 100 TB is scan-speed.
    Production systems add NER-model passes for names/addresses; that step
    slots in as a mapInPandas stage after this cheap regex pass has
    handled the high-precision patterns.
    """
    c = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        df = df.withColumn(f"n_{name}", F.size(F.regexp_extract_all(c, F.lit(pat), 0)))
    red = c
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return df.withColumn(out_col, red)


#: Gopher-style document-level quality rule bounds (Rae et al. 2021 §A1.1
#: shape, simplified to the deterministic/oracle-replicable subset).
GOPHER_BOUNDS = {
    "word_count": (50, 100_000),
    "mean_word_len": (3.0, 10.0),
    "min_alpha_ratio": 0.8,
    "min_stopword_hits": 2,
    "max_symbol_ratio": 0.1,
}


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style heuristic quality rule cascade: one boolean per rule
    plus the conjunctive ``gopher_keep`` gate.

    Rules (document level): token count within bounds; mean word length
    within bounds; ≥80% of tokens contain a letter (filters number/symbol
    soup); ≥2 distinct English stopwords present (filters non-prose);
    symbol ratio (``#``/ellipsis per token) ≤ 0.1. All codegen'd built-ins
    over one tokens projection — no shuffle.
    """
    b = GOPHER_BOUNDS
    c = F.col(text_col)
    df = df.withColumn("__toks", tokens(c))
    toks = F.col("__toks")
    n_tok = F.when(F.size(toks) == 1, F.when(toks[0] == "", 0).otherwise(1)).otherwise(
        F.size(toks)
    )
    df = df.withColumn("__n_tok", n_tok)
    n = F.col("__n_tok")
    mean_wl = F.aggregate(toks, F.lit(0.0), lambda acc, w: acc + F.length(w)) / F.greatest(
        n, F.lit(1)
    ).cast("double")
    alpha_ratio = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast(
        "double"
    ) / F.greatest(n, F.lit(1)).cast("double")
    en_stop = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    symbol_ratio = F.size(F.regexp_extract_all(c, F.lit(r"(#|\.\.\.)"), 1)).cast(
        "double"
    ) / F.greatest(n, F.lit(1)).cast("double")
    lo_wc, hi_wc = b["word_count"]
    lo_mwl, hi_mwl = b["mean_word_len"]
    out = (
        df.withColumn("rule_word_count", n.between(lo_wc, hi_wc))
        .withColumn("rule_mean_word_len", mean_wl.between(lo_mwl, hi_mwl))
        .withColumn("rule_alpha_ratio", alpha_ratio >= b["min_alpha_ratio"])
        .withColumn("rule_stopwords", stop_hits >= b["min_stopword_hits"])
        .withColumn("rule_symbol_ratio", symbol_ratio <= b["max_symbol_ratio"])
    )
    keep = (
        F.col("rule_word_count")
        & F.col("rule_mean_word_len")
        & F.col("rule_alpha_ratio")
        & F.col("rule_stopwords")
        & F.col("rule_symbol_ratio")
    )
    return out.withColumn("gopher_keep", keep).drop("__toks", "__n_tok")


def language_scores(toks: Column) -> list[Column]:
    """Per-language stopword hit counts over a distinct-tokens column."""
    out = []
    for lang, words in STOPWORDS.items():
        lit = F.array(*[F.lit(w) for w in words])
        out.append(F.size(F.array_intersect(toks, lit)).alias(f"score_{lang}"))
    return out


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax language over stopword scores; 'und' when all zero.

    Ties broken by language code order (deterministic). A production
    system would use char n-gram models; the operator shape (scores →
    argmax) is identical.
    """
    scored = df.withColumn("__utoks", F.array_distinct(tokens(F.col(text_col))))
    scored = scored.select("*", *language_scores(F.col("__utoks"))).drop("__utoks")
    langs = sorted(STOPWORDS)  # deterministic tie order
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    for l in reversed(langs):  # earlier langs win ties → apply later ones first
        pred = F.when((F.col(f"score_{l}") == best) & (best > 0), F.lit(l)).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


def fingerprint(df: DataFrame, text_col: str = "text", shingle_k: int = 3) -> DataFrame:
    """Winnowing-style document fingerprint: min md5 over word shingles.

    md5 (not xxhash64) so the oracle engine computes identical values.
    """
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import with_shingle_col

    return (
        with_shingle_col(df, text_col, shingle_k)
        .withColumn("fingerprint", F.array_min(F.transform(F.col("__shingles"), lambda s: F.md5(s))))
        .withColumn("norm_fingerprint", F.md5(normalize_text(F.col(text_col))))
        .drop("__shingles")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-token-count chunks — the
    standard training/RAG preparation step (sequence construction,
    embedding-index population).

    Chunk k covers normalized tokens ``[k*stride, k*stride + chunk_tokens)``
    with ``stride = chunk_tokens - overlap``; the final chunk may be short;
    an empty document yields one empty chunk (so no document silently
    disappears). Output: one row per chunk with ``chunk_id``,
    ``chunk_text`` (space-joined tokens) and ``n_chunk_tokens``.

    Scale shape: tokens are materialized once in their own projection
    (the shingle projection-barrier rule, dedup.py:47-59), chunk starts
    come from a ``sequence()`` explode — a narrow per-row fan-out of
    ~n/stride rows, no shuffle at all. Deterministic: no hashing, chunk
    ids are positional.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toked = df.withColumn("__toks", tokens(F.col(text_col)))
    n = F.size("__toks")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    exploded = toked.withColumn("__start", F.explode(starts))
    chunk = F.slice("__toks", F.col("__start") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        (F.col("__start") / stride).cast("long").alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


def frequent_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 1,
    min_ratio: float = 0.001,
) -> DataFrame:
    """Exact corpus-wide heavy hitters: every n-gram whose frequency is
    >= min_ratio of all n-gram occurrences, with exact counts.

    Two-phase plan — the 100 TB point is that the full long-tail
    vocabulary never crosses the shuffle:

    1. **Candidate generation** (one scan, bounded memory): ``mapInPandas``
       counts each Arrow batch locally (vectorized ``value_counts``, memory
       bounded by the batch size, never the vocabulary) and emits only
       n-grams above ``min_ratio/2`` of the batch plus one token-count row
       per batch. Capture guarantee: a globally-heavy n-gram (freq >=
       min_ratio·N) must exceed min_ratio/2 of at least one batch — if it
       stayed below that in every batch, summing gives freq < min_ratio/2·N.
       The candidate set may contain false positives, never false negatives,
       so the final output is EXACT (and deterministic) even though batch
       boundaries are not.
    2. **Verification** (one scan): broadcast-semi-join the tokens against
       the candidate set, exact groupBy count, keep freq >= min_ratio·N.

    A plain groupBy(term).count() heavy-hitter query shuffles every
    distinct term; on web-scale text the tail vocabulary (typos, ids,
    urls) dwarfs the head this query is after.
    """
    toks = tokens(F.col(text_col))
    if n > 1:
        grams_col = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array())
    else:
        grams_col = toks
    grams = df.select(F.explode(grams_col).alias("gram"))

    theta = min_ratio / 2.0

    def gen_candidates(batches):
        import pandas as pd

        for pdf in batches:
            vc = pdf["gram"].value_counts()
            nb = int(vc.sum())
            cand = vc[vc > theta * nb]
            yield pd.DataFrame(
                {
                    "gram": list(cand.index) + [None],
                    "cnt": list(cand.values) + [nb],
                }
            )

    # materialized: both the total row and the candidate set read this
    # tiny frame (candidates + one count row per batch), and without the
    # checkpoint the candidate-generation scan would run twice
    phase1 = grams.mapInPandas(gen_candidates, "gram string, cnt long").localCheckpoint(
        eager=True
    )
    total = phase1.where(F.col("gram").isNull()).agg(F.sum("cnt").alias("total"))
    candidates = phase1.where(F.col("gram").isNotNull()).select("gram").distinct()
    return (
        grams.join(F.broadcast(candidates), "gram")
        .groupBy("gram")
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(total))
        .where(F.col("freq") >= F.col("total") * min_ratio)
        .select(
            "gram",
            "freq",
            F.round(F.col("freq") / F.col("total"), 6).alias("ratio"),
        )
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df: DataFrame | None = None,
    k: float = 1.0,
) -> DataFrame:
    """CCNet-style statistical quality score: average negative log-likelihood
    of each document under an add-k-smoothed bigram language model.

    P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V); unseen history backs off to
    pure smoothing mass. ``train_df`` defaults to the scored corpus itself
    (self-perplexity — boilerplate and natural text score low, corrupted /
    out-of-distribution text scores high, the CCNet filtering signal).

    Everything is counts + joins: unigram/bigram groupBy counts (map-side
    combine), the scored corpus' bigrams join the model on the gram keys,
    one final groupBy(doc). No Python in the plan. At web scale the model
    frames are Zipf-compact relative to the corpus and typically
    broadcastable after a min-count cut; here they flow through ordinary
    shuffle joins so the plan is size-agnostic.

    Returns (id, n_bigrams, nll); docs with fewer than 2 tokens get NULL
    nll (no bigram evidence), n_bigrams = 0.
    """
    train = df if train_df is None else train_df

    def doc_bigrams(frame: DataFrame, with_id: bool) -> DataFrame:
        toked = frame.withColumn("__toks", tokens(F.col(text_col)))
        pairs = F.when(
            F.size("__toks") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - 2),
                lambda i: F.struct(
                    F.element_at("__toks", i + 1).alias("w1"),
                    F.element_at("__toks", i + 2).alias("w2"),
                ),
            ),
        ).otherwise(F.array())
        cols = [F.col(id_col)] if with_id else []
        return toked.select(*cols, F.explode(pairs).alias("__bg")).select(
            *cols, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2")
        )

    tr_bigrams = doc_bigrams(train, with_id=False)
    big = tr_bigrams.groupBy("w1", "w2").agg(F.count("*").alias("__cb"))
    tr_toks = train.select(F.explode(tokens(F.col(text_col))).alias("w"))
    uni = tr_toks.groupBy("w").agg(F.count("*").alias("__cu"))
    vocab = uni.agg(F.count("*").alias("__V"))

    scored = (
        doc_bigrams(df, with_id=True)
        .join(big, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), "__cu"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
    )
    logp = F.log(
        (F.coalesce(F.col("__cb"), F.lit(0)) + F.lit(k))
        / (F.coalesce(F.col("__cu"), F.lit(0)) + F.lit(k) * F.col("__V"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"), F.round(F.avg(-logp), 6).alias("nll")
    )
    ids = df.select(id_col).distinct()
    return (
        ids.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.col("nll"),
        )
    )


# --- Unicode script detection -----------------------------------------------
#
# The stopword language-ID above is Latin-alphabet-only by construction; a
# multilingual crawl needs the coarser-but-universal signal first: WHICH
# WRITING SYSTEM is this document in? Script shares also catch mixed-script
# spam (Cyrillic homoglyph stuffing inside Latin text — a classic crawl
# pollution mode). Ranges are public Unicode block data (BMP-only, so no
# surrogate-pair issues in either engine); counting is one codegen'd
# regexp_count per script, and the DuckDB twin is GENERATED from the same
# range table with RE2's \x{hhhh} spelling vs Java's \uhhhh (the urlnorm
# convention: patterns shared, dialect spelling per engine).

#: script -> Unicode block ranges (inclusive, BMP)
SCRIPT_RANGES: dict[str, list[tuple[int, int]]] = {
    "latin": [(0x0041, 0x005A), (0x0061, 0x007A), (0x00C0, 0x024F)],
    "cyrillic": [(0x0400, 0x04FF)],
    "greek": [(0x0370, 0x03FF)],
    "arabic": [(0x0600, 0x06FF), (0x0750, 0x077F)],
    "hebrew": [(0x0590, 0x05FF)],
    "devanagari": [(0x0900, 0x097F)],
    "cjk": [(0x4E00, 0x9FFF), (0x3400, 0x4DBF)],
    "kana": [(0x3040, 0x309F), (0x30A0, 0x30FF)],
    "hangul": [(0xAC00, 0xD7AF), (0x1100, 0x11FF)],
    "thai": [(0x0E00, 0x0E7F)],
}


def _script_class_java(ranges: list[tuple[int, int]]) -> str:
    return "[" + "".join(f"\\u{lo:04X}-\\u{hi:04X}" for lo, hi in ranges) + "]"


def _script_class_re2(ranges: list[tuple[int, int]]) -> str:
    return "[" + "".join(f"\\x{{{lo:04X}}}-\\x{{{hi:04X}}}" for lo, hi in ranges) + "]"


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-script character counts + dominant script.

    Adds ``n_<script>`` for every entry of :data:`SCRIPT_RANGES`,
    ``n_scripted`` (their sum), ``main_script`` (argmax, ties by script
    name order, ``'none'`` when no scripted character occurs) and
    ``main_share`` (count/total as double — exact integer division, so
    engine-portable). Pure narrow projection: one regexp_count per
    script inside whole-stage codegen; no shuffle, no Python."""
    out = df
    names = sorted(SCRIPT_RANGES)
    for name in names:
        out = out.withColumn(
            f"n_{name}",
            F.regexp_count(
                F.col(text_col), F.lit(_script_class_java(SCRIPT_RANGES[name]))
            ).cast("long"),
        )
    total = sum([F.col(f"n_{n}") for n in names[1:]], F.col(f"n_{names[0]}"))
    out = out.withColumn("n_scripted", total.cast("long"))
    best = F.greatest(*[F.col(f"n_{n}") for n in names])
    main = F.lit("none")
    for n in reversed(names):  # earlier names win ties -> apply later first
        main = F.when((F.col(f"n_{n}") == best) & (best > 0), F.lit(n)).otherwise(main)
    share = F.when(
        F.col("n_scripted") > 0,
        best.cast("double") / F.col("n_scripted").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.withColumn("main_script", main).withColumn("main_share", share)


def script_profile_sql(text_expr: str) -> dict[str, str]:
    """DuckDB twins: {script: count-expression}, generated from the SAME
    range table (RE2 escape spelling)."""
    return {
        name: (
            f"len(regexp_extract_all({text_expr}, "
            f"'{_script_class_re2(ranges)}'))"
        )
        for name, ranges in sorted(SCRIPT_RANGES.items())
    }
