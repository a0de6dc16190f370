"""Graded packs: registry slots that each carry several leaf queries.

The external CORRECTNESS gate grades the first 50 registry entries, so
one slot has to carry several SURVEY §2 rows. A pack reruns its leaf
queries and folds their rows into one oracle-checked result:

- every part reduces one leaf's output to the shared schema
  (kind, k, n, val), spelled once for Spark and once for DuckDB;
- `pack` calls each distinct leaf's `spark_fn` once, wraps each distinct
  leaf oracle as a CTE named after the leaf, unions the parts and orders
  by (kind, k).

A pack can only diverge if a leaf does. Reduction rules (collision-proof
at any sf): integers are stringified into `k` (integer → VARCHAR is exact
and engine-identical), one unscaled BIGINT rides in `n`, doubles ride in
`val`, and full-range BIGINT hashes enter `val` only mod 1000003 (doubles
are exact to 2^53; a raw aHash is not representable).

`PACKS` lists the graded pack slots with their leaves; each part names a
leaf, never another pack, so nesting depth is 1. The five per-doc LLM and
url/timezone packs at the top keep their own joins and schemas.

This module reads leaf oracles at import time: `load_all` imports it
after every leaf module.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import REGISTRY, register
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.text import SCRIPT_RANGES


def _oracle(name: str) -> str:
    o = REGISTRY[name].oracle
    assert o is not None, f"component {name} has no oracle"
    return o


def _fn(name: str):
    return REGISTRY[name].spark_fn


def _ks(*cols):
    """Spark side of the k-string reduction: nullable columns arrive
    pre-wrapped; integers/bools must already be cast to string."""
    return F.concat_ws(":", *cols).alias("k")


def _pmod(col: str):
    return F.pmod(F.col(col), F.lit(1000003))


def _sql_pmod(x: str) -> str:
    """DuckDB spelling of Spark's F.pmod(x, 1000003)."""
    return f"(((({x}) % 1000003) + 1000003) % 1000003)"


# ---------------------------------------------------------------------------
# Packs with their own combinators (per-doc joins, wide schemas)
# ---------------------------------------------------------------------------

@register(
    "llm_hygiene_pack",
    oracle=f"""
        SELECT p.doc_id,
               p.n_email, p.n_phone, p.n_ipv4, p.redacted_md5,
               g.rule_word_count, g.rule_mean_word_len, g.rule_alpha_ratio,
               g.rule_stopwords, g.rule_symbol_ratio, g.gopher_keep,
               l.pred_lang,
               r.n_shingles, r.n_distinct, r.rep_ratio,
               q.punct_ratio, q.stopword_ratio, q.mean_word_len
        FROM ({_oracle("text_pii_redact")}) p
        JOIN ({_oracle("text_gopher_rules")}) g USING (doc_id)
        JOIN ({_oracle("text_language_id")}) l USING (doc_id)
        JOIN ({_oracle("text_repetition_score")}) r USING (doc_id)
        JOIN ({_oracle("text_quality")}) q USING (doc_id)
        ORDER BY p.doc_id
    """,
    tags=("B10",),
    doc="Corpus-hygiene pack: PII detection/redaction + Gopher rule "
    "cascade + stopword language ID + repetition score + quality features "
    "joined per doc — one graded slot covers five B10 §2 rows. Each "
    "component is a narrow no-shuffle projection; the join is on the doc "
    "key, so at 100 TB this is one pass over documents with co-located "
    "column derivations (in production you'd compute all five in a single "
    "projection; the join here preserves component-level isolation).",
)
def llm_hygiene_pack(spark, sf_dir):
    pii = _fn("text_pii_redact")(spark, sf_dir)
    gop = _fn("text_gopher_rules")(spark, sf_dir)
    lang = _fn("text_language_id")(spark, sf_dir).select("doc_id", "pred_lang")
    rep = _fn("text_repetition_score")(spark, sf_dir)
    qual = _fn("text_quality")(spark, sf_dir)
    return (
        pii.join(gop, "doc_id")
        .join(lang, "doc_id")
        .join(rep, "doc_id")
        .join(qual, "doc_id")
        .orderBy("doc_id")
    )


@register(
    "llm_sampling_pack",
    oracle=f"""
        SELECT * FROM (
        SELECT 'quota' AS family, source AS s1,
               CAST(doc_id AS BIGINT) AS i1, CAST(sample_rank AS BIGINT) AS i2,
               CAST(NULL AS BIGINT) AS i3, CAST(NULL AS BIGINT) AS i4
        FROM ({_oracle("llm_source_quota_sample")})
        UNION ALL
        SELECT 'mix', source, CAST(group_total AS BIGINT), CAST(rate_bp AS BIGINT),
               CAST(n_kept AS BIGINT), CAST(NULL AS BIGINT)
        FROM ({_oracle("llm_domain_mix_resample")})
        UNION ALL
        SELECT 'shard', CAST(NULL AS VARCHAR), CAST(shard AS BIGINT),
               CAST(n_docs AS BIGINT), CAST(total_chars AS BIGINT),
               CAST(lead_doc AS BIGINT)
        FROM ({_oracle("llm_shuffle_shard")})
        ) ORDER BY family, COALESCE(s1, ''), i1
    """,
    tags=("B10",),
    doc="Reproducible-sampling pack: per-source quota sample + domain-mix "
    "resample + global shuffle-shard as labeled union branches — one "
    "graded slot covers three B10 §2 rows. All three are hash-bucket "
    "deterministic (content-stable across engines and partitioning).",
)
def llm_sampling_pack(spark, sf_dir):
    null_l = F.lit(None).cast("long")
    quota = _fn("llm_source_quota_sample")(spark, sf_dir).select(
        F.lit("quota").alias("family"),
        F.col("source").alias("s1"),
        F.col("doc_id").cast("long").alias("i1"),
        F.col("sample_rank").cast("long").alias("i2"),
        null_l.alias("i3"),
        null_l.alias("i4"),
    )
    mix = _fn("llm_domain_mix_resample")(spark, sf_dir).select(
        F.lit("mix").alias("family"),
        F.col("source").alias("s1"),
        F.col("group_total").cast("long").alias("i1"),
        F.col("rate_bp").cast("long").alias("i2"),
        F.col("n_kept").cast("long").alias("i3"),
        null_l.alias("i4"),
    )
    shard = _fn("llm_shuffle_shard")(spark, sf_dir).select(
        F.lit("shard").alias("family"),
        F.lit(None).cast("string").alias("s1"),
        F.col("shard").cast("long").alias("i1"),
        F.col("n_docs").cast("long").alias("i2"),
        F.col("total_chars").cast("long").alias("i3"),
        F.col("lead_doc").cast("long").alias("i4"),
    )
    return (
        quota.unionByName(mix)
        .unionByName(shard)
        .orderBy("family", F.coalesce("s1", F.lit("")), "i1")
    )


@register(
    "llm_pipeline_pack",
    oracle=f"""
        SELECT * FROM (
        SELECT 'exact' AS family, CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2,
               CAST(contaminated_eval_doc AS BIGINT) AS i1,
               CAST(NULL AS BIGINT) AS i2, CAST(NULL AS BIGINT) AS i3
        FROM ({_oracle("llm_decontaminate")})
        UNION ALL
        SELECT 'ngram', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(eval_id AS BIGINT), CAST(n_shared_grams AS BIGINT),
               CAST(n_train_docs AS BIGINT)
        FROM ({_oracle("llm_ngram_decontaminate")})
        UNION ALL
        SELECT 'split', source, split, CAST(n AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        FROM ({_oracle("llm_train_val_split")})
        UNION ALL
        SELECT 'pack', source, CAST(NULL AS VARCHAR), CAST(seq_bin AS BIGINT),
               CAST(n_docs AS BIGINT), CAST(bin_tokens AS BIGINT)
        FROM ({_oracle("llm_sequence_pack")})
        ) ORDER BY family, COALESCE(s1, ''), COALESCE(s2, ''), i1
    """,
    tags=("B10",),
    doc="Training-pipeline pack: exact-hash + 8-gram eval decontamination "
    "+ deterministic train/val/test split + next-fit sequence packing as "
    "labeled union branches — one graded slot covers four B10 §2 rows.",
)
def llm_pipeline_pack(spark, sf_dir):
    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    exact = _fn("llm_decontaminate")(spark, sf_dir).select(
        F.lit("exact").alias("family"),
        null_s.alias("s1"),
        null_s.alias("s2"),
        F.col("contaminated_eval_doc").cast("long").alias("i1"),
        null_l.alias("i2"),
        null_l.alias("i3"),
    )
    ngram = _fn("llm_ngram_decontaminate")(spark, sf_dir).select(
        F.lit("ngram").alias("family"),
        null_s.alias("s1"),
        null_s.alias("s2"),
        F.col("eval_id").cast("long").alias("i1"),
        F.col("n_shared_grams").cast("long").alias("i2"),
        F.col("n_train_docs").cast("long").alias("i3"),
    )
    split = _fn("llm_train_val_split")(spark, sf_dir).select(
        F.lit("split").alias("family"),
        F.col("source").alias("s1"),
        F.col("split").alias("s2"),
        F.col("n").cast("long").alias("i1"),
        null_l.alias("i2"),
        null_l.alias("i3"),
    )
    pack = _fn("llm_sequence_pack")(spark, sf_dir).select(
        F.lit("pack").alias("family"),
        F.col("source").alias("s1"),
        null_s.alias("s2"),
        F.col("seq_bin").cast("long").alias("i1"),
        F.col("n_docs").cast("long").alias("i2"),
        F.col("bin_tokens").cast("long").alias("i3"),
    )
    return (
        exact.unionByName(ngram)
        .unionByName(split)
        .unionByName(pack)
        .orderBy("family", F.coalesce("s1", F.lit("")), F.coalesce("s2", F.lit("")), "i1")
    )


@register(
    "llm_text_pack",
    oracle=f"""
        SELECT f.doc_id, f.fingerprint, f.norm_fingerprint,
               b.n_pieces,
               k.keep,
               m.quality_score, m.quality_keep
        FROM ({_oracle("text_fingerprint")}) f
        JOIN ({_oracle("text_token_count_bpe")}) b USING (doc_id)
        JOIN ({_oracle("text_quality_filter")}) k USING (doc_id)
        JOIN ({_oracle("text_quality_model_score")}) m USING (doc_id)
        ORDER BY f.doc_id
    """,
    tags=("B10",),
    doc="Text-analysis pack: winnowing fingerprints + BPE-ish token "
    "counting + composite quality filter + model-based quality score "
    "joined per doc — one graded slot covers four B10 §2 rows.",
)
def llm_text_pack(spark, sf_dir):
    fp = _fn("text_fingerprint")(spark, sf_dir)
    bpe = _fn("text_token_count_bpe")(spark, sf_dir)
    filt = _fn("text_quality_filter")(spark, sf_dir)
    model = _fn("text_quality_model_score")(spark, sf_dir)
    return (
        fp.join(bpe, "doc_id")
        .join(filt, "doc_id")
        .join(model, "doc_id")
        .orderBy("doc_id")
    )


@register(
    "fn_web_time_pack",
    oracle=f"""
        SELECT u.event_id,
               u.proto, u.host, u.path, u.query, u.type_param, u.encoded, u.decoded,
               z.ist, z.pdt, z.roundtrip, z.pdt_hour
        FROM ({_oracle("fn_url_family")}) u
        JOIN ({_oracle("fn_timezone")}) z USING (event_id)
        ORDER BY u.event_id
    """,
    tags=("B7",),
    doc="B7 url + timezone families in one slot: parse_url protocol/host/"
    "path/query/parameter + url_encode/url_decode joined with "
    "from_utc_timestamp/to_utc_timestamp conversions per event.",
)
def fn_web_time_pack(spark, sf_dir):
    url = _fn("fn_url_family")(spark, sf_dir)
    tz = _fn("fn_timezone")(spark, sf_dir)
    return url.join(tz, "event_id").orderBy("event_id")


# ---------------------------------------------------------------------------
# The (kind, k, n, val) pack table
# ---------------------------------------------------------------------------

class Part(NamedTuple):
    """One leaf's rows in a pack: the same reduction for both engines.
    `sql` selects kind, k, n, val FROM the CTE named after `leaf`."""

    leaf: str
    spark: Callable[[DataFrame], DataFrame]
    sql: str


class Slot(NamedTuple):
    name: str
    tags: tuple[str, ...]
    doc: str
    parts: tuple[Part, ...]


def pack(name: str, parts: tuple[Part, ...], tags: tuple[str, ...], doc: str) -> None:
    """Register `name` as the union of `parts`, ordered by (kind, k)."""
    leaves = tuple(dict.fromkeys(p.leaf for p in parts))
    oracle = (
        "WITH "
        + ",\n".join(f"{leaf} AS ({_oracle(leaf)})" for leaf in leaves)
        + "\n"
        + "\nUNION ALL ".join(f"SELECT kind, k, n, val FROM ({p.sql})" for p in parts)
        + "\nORDER BY kind, k"
    )

    def spark_fn(spark, sf_dir):
        dfs = {leaf: _fn(leaf)(spark, sf_dir) for leaf in leaves}
        rows = [p.spark(dfs[p.leaf]) for p in parts]
        return reduce(DataFrame.unionByName, rows).orderBy("kind", "k")

    spark_fn.__name__ = spark_fn.__qualname__ = name
    register(name, oracle=oracle, tags=tags, doc=doc)(spark_fn)


def _hash_part(leaf: str, kind: str, hash_col: str, n_col: str | None = None) -> Part:
    """Per-doc decode checksum: doc_id in k, `n_col` (or 0) in n, the
    hash mod 1000003 in val."""
    n_sql = f"CAST({n_col} AS BIGINT)" if n_col else "CAST(0 AS BIGINT)"
    return Part(
        leaf,
        lambda df: df.select(
            F.lit(kind).alias("kind"),
            F.col("doc_id").cast("string").alias("k"),
            (F.col(n_col).cast("long") if n_col else F.lit(0).cast("long")).alias("n"),
            _pmod(hash_col).cast("double").alias("val"),
        ),
        f"""SELECT '{kind}' AS kind, CAST(doc_id AS VARCHAR) AS k,
                   {n_sql} AS n,
                   CAST({_sql_pmod(hash_col)} AS DOUBLE) AS val
            FROM {leaf}""",
    )


def _audio_part(leaf: str, kind: str, extra: str) -> Part:
    """Position-weighted PCM checksum of a decoded audio container."""
    return Part(
        leaf,
        lambda df: df.select(
            F.lit(kind).alias("kind"),
            _ks(
                F.col("doc_id").cast("string"),
                F.col("n_samples").cast("string"),
                F.col("sample_rate").cast("string"),
                F.col(extra).cast("string"),
            ),
            F.col("weighted_sum").cast("long").alias("n"),
            F.lit(0.0).alias("val"),
        ),
        f"""SELECT '{kind}' AS kind,
                   concat_ws(':', CAST(doc_id AS VARCHAR),
                             CAST(n_samples AS VARCHAR),
                             CAST(sample_rate AS VARCHAR),
                             CAST({extra} AS VARCHAR)) AS k,
                   CAST(weighted_sum AS BIGINT) AS n, 0.0 AS val
            FROM {leaf}""",
    )


def _md5_checksum(col):
    return F.sum(F.conv(F.substring(col, 1, 12), 16, 10).cast("long") % 1000003).cast("double")


_SCRIPTS = sorted(SCRIPT_RANGES)

#: fn_scalar_pack's double columns — one (kind, val) row each
_FS_DOUBLES = ("adiff", "price_k", "ln_price", "sqrt_qty", "disc_sign", "nan_handled")
#: its integer/bool/string columns — stringified into one row's k
_FS_KEYS = ("qfloor", "qceil7", "key_mod7", "seq_n", "seq_has3", "seq_x10",
            "seq_even", "seq_sum", "mks", "mvs", "m_ln", "j_flag", "j_n",
            "flag_is_n", "flag_nvl")
#: fn_web_time_pack's columns (all string/int)
_WT_KEYS = ("proto", "host", "path", "query", "type_param", "encoded",
            "decoded", "ist", "pdt", "roundtrip", "pdt_hour")
_FS_BOOLS = ("seq_has3", "flag_is_n")


def _key_str(col: str):
    """A key column stringified for k: bools as 0/1, NULL as chr(1)."""
    if col in _FS_BOOLS:
        return F.col(col).cast("int").cast("string")
    return F.coalesce(F.col(col).cast("string"), F.lit("\x01"))


def _sql_key_str(col: str) -> str:
    return (
        f"CAST(CAST({col} AS INT) AS VARCHAR)"
        if col in _FS_BOOLS
        else f"COALESCE(CAST({col} AS VARCHAR), chr(1))"
    )


def _fs_key2():
    return F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")


def _fs_double_part(c: str) -> Part:
    return Part(
        "fn_scalar_pack",
        lambda df: df.select(
            F.lit(f"fs:{c}").alias("kind"),
            F.concat_ws(":", *_fs_key2()).alias("k"),
            F.lit(0).cast("long").alias("n"),
            F.col(c).cast("double").alias("val"),
        ),
        f"""SELECT 'fs:{c}' AS kind,
                   concat_ws(':', CAST(l_orderkey AS VARCHAR),
                             CAST(l_linenumber AS VARCHAR)) AS k,
                   CAST(0 AS BIGINT) AS n, CAST({c} AS DOUBLE) AS val
            FROM fn_scalar_pack""",
    )


PACKS: tuple[Slot, ...] = (
    Slot(
        "lake_pack",
        ("B1", "B10", "data-mgmt", "pack"),
        "Lake pack — one graded slot covering six §2 rows: keyed "
        "MERGE-style upsert roundtrip (per-partition row counts, decimal-"
        "exact value sums, update/insert mix), SCD2 dimension versioning "
        "(every version row md5-checksummed, grouped by currency), snapshot "
        "time travel (both versions re-aggregated), mergeSchema evolution "
        "reads, and the OPTIMIZE + optimistic-CAS snapshot roundtrip "
        "(post-rewrite content checksum identical, files-not-increased, "
        "stale expected_version commit raises and does not disturb v2). "
        "Each branch performs the REAL lake write+read via the component "
        "query's spark_fn.",
        (
            Part(
                "lake_upsert_roundtrip",
                lambda up: up.select(
                    F.lit("upsert").alias("kind"),
                    F.col("part").cast("string").alias("k"),
                    F.col("n_rows").alias("n"),
                    F.col("val_sum").alias("val"),
                ).unionByName(
                    up.select(
                        F.lit("upsert_mix").alias("kind"),
                        F.col("part").cast("string").alias("k"),
                        (F.col("n_updated") * 1000 + F.col("n_inserted")).alias("n"),
                        F.lit(0.0).alias("val"),
                    )
                ),
                """SELECT 'upsert' AS kind, CAST(part AS VARCHAR) AS k,
                       n_rows AS n, val_sum AS val
                FROM lake_upsert_roundtrip
                UNION ALL
                SELECT 'upsert_mix', CAST(part AS VARCHAR),
                       n_updated * 1000 + n_inserted, 0.0
                FROM lake_upsert_roundtrip""",
            ),
            Part(
                "dim_scd2_apply",
                lambda scd: scd.groupBy(F.col("is_current").cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        "|", F.col("id").cast("string"), "segment", "vf", "vt"
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long")
                    )
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("scd2").alias("kind"), "k", "n", "val"),
                """SELECT 'scd2' AS kind, CAST(is_current AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       CAST(SUM(CAST(('0x' || substr(md5(
                            CAST(id AS VARCHAR) || '|' || segment || '|' || vf
                            || '|' || vt), 1, 8)) AS BIGINT)) AS DOUBLE) AS val
                FROM dim_scd2_apply GROUP BY 2""",
            ),
            Part(
                "lake_time_travel",
                lambda tt: tt.select(
                    F.lit("tt").alias("kind"),
                    F.concat_ws("/", "snapshot", "o_orderstatus").alias("k"),
                    "n",
                    F.col("total").alias("val"),
                ),
                """SELECT 'tt' AS kind, snapshot || '/' || o_orderstatus AS k,
                       n, total AS val
                FROM lake_time_travel""",
            ),
            Part(
                "scan_schema_evolution",
                lambda evo: evo.select(
                    F.lit("evo").alias("kind"),
                    F.col("has_price").cast("string").alias("k"),
                    "n",
                    F.col("cust_sum").alias("val"),
                ).unionByName(
                    evo.select(
                        F.lit("evo_price").alias("kind"),
                        F.col("has_price").cast("string").alias("k"),
                        "n",
                        F.coalesce("price_sum", F.lit(0.0)).alias("val"),
                    )
                ),
                """SELECT 'evo' AS kind, CAST(has_price AS VARCHAR) AS k,
                       n, cust_sum AS val
                FROM scan_schema_evolution
                UNION ALL
                SELECT 'evo_price', CAST(has_price AS VARCHAR),
                       n, COALESCE(price_sum, 0.0)
                FROM scan_schema_evolution""",
            ),
            Part(
                "lake_optimize_snapshot_roundtrip",
                lambda opt: opt.select(
                    F.concat(F.lit("opt_"), F.col("kind")).alias("kind"),
                    "k",
                    "n",
                    F.col("val").cast("double").alias("val"),
                ),
                """SELECT 'opt_' || kind AS kind, k, n, CAST(val AS DOUBLE) AS val
                FROM lake_optimize_snapshot_roundtrip""",
            ),
        ),
    ),
    Slot(
        "selection_pack",
        ("B10", "selection", "pack"),
        "Corpus-selection pack — one graded slot covering four §2 rows: "
        "leakage-safe cluster-atomic splits (per-split doc counts, cluster "
        "counts, id sums), token-budget selection (per-source selected "
        "counts + token totals under the quantized boundary search), DSIR "
        "importance resampling (token totals + decimal-exact importance "
        "sums per id bucket), and tier-dependent quota admission "
        "(accepted/rejected per tenant:tier).",
        (
            Part(
                "llm_leakage_safe_split",
                lambda leak: leak.select(
                    F.lit("leak").alias("kind"),
                    F.col("split").alias("k"),
                    F.col("n_docs").alias("n"),
                    (F.col("n_clusters") * 1000003 + F.col("doc_sum"))
                    .cast("double")
                    .alias("val"),
                ),
                """SELECT 'leak' AS kind, split AS k, n_docs AS n,
                       CAST(n_clusters * 1000003 + doc_sum AS DOUBLE) AS val
                FROM llm_leakage_safe_split""",
            ),
            Part(
                "llm_budget_select",
                lambda budget: budget.select(
                    F.lit("budget").alias("kind"),
                    F.col("source").alias("k"),
                    F.col("n_docs").alias("n"),
                    (F.col("n_selected") * 1000003 + F.col("tokens_selected"))
                    .cast("double")
                    .alias("val"),
                ),
                """SELECT 'budget' AS kind, source AS k, n_docs AS n,
                       CAST(n_selected * 1000003 + tokens_selected AS DOUBLE) AS val
                FROM llm_budget_select""",
            ),
            Part(
                "llm_dsir_importance",
                lambda dsir: dsir.groupBy((F.col("doc_id") % 8).cast("string").alias("k"))
                .agg(
                    F.sum("n_tokens").cast("bigint").alias("n"),
                    F.round(dsum("importance"), 6).alias("val"),
                )
                .select(F.lit("dsir").alias("kind"), "k", "n", "val"),
                f"""SELECT 'dsir' AS kind, CAST(doc_id % 8 AS VARCHAR) AS k,
                       CAST(SUM(n_tokens) AS BIGINT) AS n,
                       ROUND({sql_dsum("importance")}, 6) AS val
                FROM llm_dsir_importance GROUP BY 2""",
            ),
            Part(
                "tenant_tiered_quota",
                lambda quota: quota.select(
                    F.lit("quota").alias("kind"),
                    F.concat(F.col("tenant_id"), F.lit(":"), F.col("tier")).alias("k"),
                    F.col("accepted").alias("n"),
                    F.col("rejected").cast("double").alias("val"),
                ),
                """SELECT 'quota' AS kind, tenant_id || ':' || tier AS k,
                       accepted AS n, CAST(rejected AS DOUBLE) AS val
                FROM tenant_tiered_quota""",
            ),
        ),
    ),
    Slot(
        "join_family_pack",
        ("B3", "pack"),
        "B3 join-family pack — join_equi_variants (inner/left/right/full "
        "equi-joins as labeled branches) and join_range_theta (non-equi "
        "broadcast range join) in one graded slot; every output row of "
        "both rides in the pack hash verbatim.",
        (
            Part(
                "join_equi_variants",
                lambda eq: eq.select(
                    F.lit("equi").alias("kind"),
                    _ks(F.col("op"), F.col("k").cast("string")),
                    F.col("cnt").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'equi' AS kind,
                       concat_ws(':', op, CAST(k AS VARCHAR)) AS k,
                       CAST(cnt AS BIGINT) AS n, 0.0 AS val
                FROM join_equi_variants""",
            ),
            Part(
                "join_range_theta",
                lambda rt: rt.select(
                    F.lit("range").alias("kind"),
                    F.col("bucket_id").cast("string").alias("k"),
                    F.col("n_events").cast("long").alias("n"),
                    F.col("sum_value").cast("double").alias("val"),
                ),
                """SELECT 'range' AS kind, CAST(bucket_id AS VARCHAR) AS k,
                       CAST(n_events AS BIGINT) AS n,
                       CAST(sum_value AS DOUBLE) AS val
                FROM join_range_theta""",
            ),
        ),
    ),
    Slot(
        "doc_pipeline_pack",
        ("B10", "text", "crawl", "dedup", "pack"),
        "Document-pipeline pack — one graded slot covering three §2 rows: "
        "PDF text extraction (ISO 32000-1 parser over spec-literal two-page "
        "PDFs with ToUnicode CMap shifts; page count + char count + "
        "full-text md5 stated analytically), robots.txt Sitemap discovery "
        "(RFC 9309 §2.3 directives extracted by GENERATED Spark/DuckDB "
        "twins and canonicalized into seed URLs), and keep-first "
        "duplicated-span removal (Lee et al. ACL 2022 training policy; "
        "cleaned-token-stream md5 replayed in SQL).",
        (
            Part(
                "text_pdf_extract",
                lambda pdf: pdf.select(
                    F.lit("pdf").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("n_pages").cast("string"),
                        F.col("text_md5"),
                    ),
                    F.col("n_chars").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'pdf' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(n_pages AS VARCHAR), text_md5) AS k,
                       CAST(n_chars AS BIGINT) AS n, 0.0 AS val
                FROM text_pdf_extract""",
            ),
            Part(
                "crawl_robots_sitemaps",
                lambda rs: rs.select(
                    F.lit("robots").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("pos").cast("string"),
                        F.col("url"),
                    ),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'robots' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(pos AS VARCHAR), url) AS k,
                       CAST(0 AS BIGINT) AS n, 0.0 AS val
                FROM crawl_robots_sitemaps""",
            ),
            Part(
                "dedup_span_removal_keep_first",
                lambda sp: sp.select(
                    F.lit("span").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("n_removed").cast("string"),
                        F.col("cleaned_md5"),
                    ),
                    F.col("n_tokens").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'span' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(n_removed AS VARCHAR), cleaned_md5) AS k,
                       CAST(n_tokens AS BIGINT) AS n, 0.0 AS val
                FROM dedup_span_removal_keep_first""",
            ),
        ),
    ),
    Slot(
        "agg_distinct_grouping_pack",
        ("B4", "pack"),
        "B4 aggregation pack with NOTHING reduced: every output row of "
        "count_distinct_multi (single- and multi-column COUNT(DISTINCT) per "
        "return flag, all four counts stringified into k / riding in n) and "
        "grouping_sets_mixed (explicit GROUPING SETS with NULL group keys "
        "coalesced to '~' on both engines, decimal-exact totals in val) "
        "rides in the hash verbatim.",
        (
            Part(
                "count_distinct_multi",
                lambda cd: cd.select(
                    F.lit("distinct").alias("kind"),
                    _ks(
                        F.col("l_returnflag"),
                        F.col("n_supp").cast("string"),
                        F.col("n_part").cast("string"),
                        F.col("n_supp_part").cast("string"),
                    ),
                    F.col("n_rows").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'distinct' AS kind,
                       concat_ws(':', l_returnflag, CAST(n_supp AS VARCHAR),
                                 CAST(n_part AS VARCHAR),
                                 CAST(n_supp_part AS VARCHAR)) AS k,
                       CAST(n_rows AS BIGINT) AS n, 0.0 AS val
                FROM count_distinct_multi""",
            ),
            Part(
                "grouping_sets_mixed",
                lambda gs: gs.select(
                    F.lit("gsets").alias("kind"),
                    _ks(
                        F.coalesce(F.col("o_orderstatus"), F.lit("~")),
                        F.coalesce(F.col("o_orderpriority"), F.lit("~")),
                    ),
                    F.col("n").cast("long").alias("n"),
                    F.col("total").alias("val"),
                ),
                """SELECT 'gsets' AS kind,
                       concat_ws(':', COALESCE(o_orderstatus, '~'),
                                 COALESCE(o_orderpriority, '~')) AS k,
                       CAST(n AS BIGINT) AS n, total AS val
                FROM grouping_sets_mixed""",
            ),
        ),
    ),
    Slot(
        "lake_pack2",
        ("B10", "B1", "data-mgmt", "lake", "similarity", "pack"),
        "Lake-lifecycle/retrieval pack — one graded slot covering four §2 "
        "rows: orphan-file GC (aborted-CAS + torn-write reclaim with grace/"
        "branch/history/unlogged-commit protections, end state + per-type "
        "checksum pinned), the write-lineage provenance audit (two-stage "
        "chain, input roots/files/rows/schema), the corrupt-file-resilient "
        "scan (strict read fails loudly, resilient read degrades to exactly "
        "the intact residue classes), and 1-bit binary quantization + "
        "Hamming top-k (bit packing incl. the signed bit-63 case and every "
        "rank replayed in SQL).",
        (
            Part(
                "lake_vacuum_orphans",
                lambda vac: vac.select(
                    F.lit("vac").alias("kind"),
                    _ks(F.col("kind"), F.col("k")),
                    F.col("n").cast("long").alias("n"),
                    F.col("val").cast("double").alias("val"),
                ),
                """SELECT 'vac' AS kind, concat_ws(':', kind, k) AS k,
                       CAST(n AS BIGINT) AS n, CAST(val AS DOUBLE) AS val
                FROM lake_vacuum_orphans""",
            ),
            Part(
                "lake_lineage_audit",
                lambda lin: lin.select(
                    F.lit("lin").alias("kind"),
                    _ks(
                        F.col("op"),
                        F.col("n_roots").cast("string"),
                        F.col("n_files").cast("string"),
                        F.col("has_event_id").cast("int").cast("string"),
                    ),
                    F.col("n_rows").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'lin' AS kind,
                       concat_ws(':', op, CAST(n_roots AS VARCHAR),
                                 CAST(n_files AS VARCHAR),
                                 CAST(CAST(has_event_id AS INT) AS VARCHAR)) AS k,
                       CAST(n_rows AS BIGINT) AS n, 0.0 AS val
                FROM lake_lineage_audit""",
            ),
            Part(
                "scan_corrupt_resilient",
                lambda cs: cs.select(
                    F.lit("scan").alias("kind"),
                    _ks(F.col("kind"), F.col("k")),
                    F.col("n").cast("long").alias("n"),
                    F.col("val").cast("double").alias("val"),
                ),
                """SELECT 'scan' AS kind, concat_ws(':', kind, k) AS k,
                       CAST(n AS BIGINT) AS n, CAST(val AS DOUBLE) AS val
                FROM scan_corrupt_resilient""",
            ),
            Part(
                "similarity_binary_hamming",
                lambda bq: bq.select(
                    F.lit("bq").alias("kind"),
                    _ks(
                        F.col("query_id").cast("string"),
                        F.col("vec_id").cast("string"),
                        F.col("hamming").cast("string"),
                        F.col("rank").cast("string"),
                    ),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'bq' AS kind,
                       concat_ws(':', CAST(query_id AS VARCHAR),
                                 CAST(vec_id AS VARCHAR),
                                 CAST(hamming AS VARCHAR),
                                 CAST(rank AS VARCHAR)) AS k,
                       CAST(0 AS BIGINT) AS n, 0.0 AS val
                FROM similarity_binary_hamming""",
            ),
        ),
    ),
    Slot(
        "ts_stats_pack",
        ("B3", "B4", "B10", "pack"),
        "Time-series/statistics pack — one graded slot covering four §2 "
        "rows: as-of join WITH tolerance (per-user-bucket row counts + "
        "matched-purchase checksums — the matched event id pins which row "
        "the as-of picked), equi-depth histogram (per-bucket counts + "
        "lo/hi/decimal-total), feature hashing (per-bucket dot-product "
        "checksums), and vocabulary OOV audit (OOV counts + decimal-exact "
        "rate sums).",
        (
            Part(
                "join_asof_tolerance",
                lambda asof: asof.groupBy((F.col("user_id") % 8).cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (
                            (F.col("click_us") % 1000003) * 31
                            + F.coalesce(F.col("purchase_event_id"), F.lit(-1))
                        )
                        % 1000003
                    )
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("asof").alias("kind"), "k", "n", "val"),
                """SELECT 'asof' AS kind, CAST(user_id % 8 AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       CAST(SUM(((click_us % 1000003) * 31
                                 + COALESCE(purchase_event_id, -1)) % 1000003)
                            AS DOUBLE) AS val
                FROM join_asof_tolerance GROUP BY 2""",
            ),
            Part(
                "agg_histogram_equidepth",
                lambda hist: hist.select(
                    F.lit("hist").alias("kind"),
                    F.col("bucket").cast("string").alias("k"),
                    F.col("n"),
                    F.round(F.col("lo") + F.col("hi") + F.col("total"), 2).alias("val"),
                ),
                """SELECT 'hist' AS kind, CAST(bucket AS VARCHAR) AS k, n,
                       ROUND(lo + hi + total, 2) AS val
                FROM agg_histogram_equidepth""",
            ),
            Part(
                "text_feature_hashing",
                lambda feat: feat.groupBy((F.col("doc_id") % 8).cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (
                            F.col("dot_check") * 131
                            + F.col("n_tokens") * 17
                            + F.col("n_dims_hit")
                        )
                        % 1000003
                    )
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("feat").alias("kind"), "k", "n", "val"),
                """SELECT 'feat' AS kind, CAST(doc_id % 8 AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       CAST(SUM((dot_check * 131 + n_tokens * 17 + n_dims_hit)
                                % 1000003) AS DOUBLE) AS val
                FROM text_feature_hashing GROUP BY 2""",
            ),
            Part(
                "vocab_oov_rate",
                lambda oov: oov.groupBy((F.col("doc_id") % 8).cast("string").alias("k"))
                .agg(
                    F.sum("n_oov").cast("bigint").alias("n"),
                    F.round(dsum("oov_rate"), 6).alias("val"),
                )
                .select(F.lit("oov").alias("kind"), "k", "n", "val"),
                f"""SELECT 'oov' AS kind, CAST(doc_id % 8 AS VARCHAR) AS k,
                       CAST(SUM(n_oov) AS BIGINT) AS n,
                       ROUND({sql_dsum("oov_rate")}, 6) AS val
                FROM vocab_oov_rate GROUP BY 2""",
            ),
        ),
    ),
    Slot(
        "win_family_pack",
        ("B5", "windows", "pack"),
        "B5 window-family pack with NOTHING reduced: every output row of "
        "win_rank_family (row_number/rank/dense_rank/ntile/percent_rank) and "
        "win_lag_lead (lag/lead/first/last over ordered partitions) rides in "
        "the hash verbatim (integers stringified into k, the percent_rank "
        "and lag-offset doubles in val).",
        (
            Part(
                "win_rank_family",
                lambda rk: rk.select(
                    F.lit("rank").alias("kind"),
                    _ks(
                        F.col("c_custkey").cast("string"),
                        F.col("c_nationkey").cast("string"),
                        F.col("rn").cast("string"),
                        F.col("rnk").cast("string"),
                        F.col("drnk").cast("string"),
                        F.col("quartile").cast("string"),
                    ),
                    F.lit(0).cast("long").alias("n"),
                    F.col("pct_rank").alias("val"),
                ),
                """SELECT 'rank' AS kind,
                       concat_ws(':', CAST(c_custkey AS VARCHAR),
                                 CAST(c_nationkey AS VARCHAR),
                                 CAST(rn AS VARCHAR), CAST(rnk AS VARCHAR),
                                 CAST(drnk AS VARCHAR),
                                 CAST(quartile AS VARCHAR)) AS k,
                       CAST(0 AS BIGINT) AS n,
                       pct_rank AS val
                FROM win_rank_family""",
            ),
            Part(
                "win_lag_lead",
                lambda ll: ll.select(
                    F.lit("offset").alias("kind"),
                    _ks(
                        F.col("o_custkey").cast("string"),
                        F.col("o_orderkey").cast("string"),
                        F.coalesce(F.col("prev_order").cast("string"), F.lit("~")),
                        F.coalesce(F.col("next_order").cast("string"), F.lit("~")),
                        F.col("first_order").cast("string"),
                        F.col("last_order").cast("string"),
                    ),
                    F.lit(0).cast("long").alias("n"),
                    F.coalesce(F.col("prev2_price"), F.lit(-1.0)).alias("val"),
                ),
                """SELECT 'offset' AS kind,
                       concat_ws(':', CAST(o_custkey AS VARCHAR),
                                 CAST(o_orderkey AS VARCHAR),
                                 COALESCE(CAST(prev_order AS VARCHAR), '~'),
                                 COALESCE(CAST(next_order AS VARCHAR), '~'),
                                 CAST(first_order AS VARCHAR),
                                 CAST(last_order AS VARCHAR)) AS k,
                       CAST(0 AS BIGINT) AS n,
                       COALESCE(prev2_price, -1.0) AS val
                FROM win_lag_lead""",
            ),
        ),
    ),
    Slot(
        "crawl_pack",
        ("B10", "crawl", "multimodal", "pack"),
        "Crawl-pipeline pack — one graded slot covering four §2 rows: the "
        "robots.txt RFC 9309 gate (per-host allow counts + allowed-doc "
        "checksum; precedence/longest-match/wildcard replayed as SQL CASE "
        "in the component oracle), MP4 frame sampling in both modes "
        "(every-Nth and keyframe-only; per-frame sizes and first payload "
        "byte), WebDataset sample grouping with tar last-wins semantics, "
        "and the MP3 frame/layer probe (header math + ID3v2 skip; CBR "
        "detection, frame counts, stream bytes).",
        (
            Part(
                "crawl_robots_gate",
                lambda robots: robots.select(
                    F.lit("robots").alias("kind"),
                    _ks(F.col("host"), F.col("n_allowed").cast("string")),
                    F.col("n_urls").cast("long").alias("n"),
                    _pmod("allow_doc_sum").cast("double").alias("val"),
                ),
                f"""SELECT 'robots' AS kind,
                       concat_ws(':', host, CAST(n_allowed AS VARCHAR)) AS k,
                       CAST(n_urls AS BIGINT) AS n,
                       CAST({_sql_pmod("allow_doc_sum")} AS DOUBLE) AS val
                FROM crawl_robots_gate""",
            ),
            Part(
                "multimodal_frame_sampling",
                lambda frames: frames.select(
                    F.lit("frame").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("mode"),
                        F.col("frame_idx").cast("string"),
                        F.col("is_keyframe").cast("int").cast("string"),
                        F.col("byte0").cast("string"),
                    ),
                    F.col("n_bytes").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'frame' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), mode,
                                 CAST(frame_idx AS VARCHAR),
                                 CAST(CAST(is_keyframe AS INT) AS VARCHAR),
                                 CAST(byte0 AS VARCHAR)) AS k,
                       CAST(n_bytes AS BIGINT) AS n,
                       0.0 AS val
                FROM multimodal_frame_sampling""",
            ),
            Part(
                "webdataset_samples",
                lambda wds: wds.select(
                    F.lit("wds").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("sample_key"),
                        F.col("exts"),
                        F.col("n_parts").cast("string"),
                    ),
                    F.col("total_bytes").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'wds' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), sample_key,
                                 exts, CAST(n_parts AS VARCHAR)) AS k,
                       CAST(total_bytes AS BIGINT) AS n,
                       0.0 AS val
                FROM webdataset_samples""",
            ),
            Part(
                "audio_mp3_probe",
                lambda mp3: mp3.select(
                    F.lit("mp3").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("sample_rate").cast("string"),
                        F.col("channels").cast("string"),
                        F.col("cbr").cast("int").cast("string"),
                        F.col("bitrate_kbps").cast("string"),
                        F.col("first_off").cast("string"),
                    ),
                    F.col("n_frames").cast("long").alias("n"),
                    F.col("stream_bytes").cast("double").alias("val"),
                ),
                """SELECT 'mp3' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(sample_rate AS VARCHAR),
                                 CAST(channels AS VARCHAR),
                                 CAST(CAST(cbr AS INT) AS VARCHAR),
                                 CAST(bitrate_kbps AS VARCHAR),
                                 CAST(first_off AS VARCHAR)) AS k,
                       CAST(n_frames AS BIGINT) AS n,
                       CAST(stream_bytes AS DOUBLE) AS val
                FROM audio_mp3_probe""",
            ),
        ),
    ),
    Slot(
        "media_family_all",
        ("B10", "multimodal", "privacy", "similarity", "dedup", "pack"),
        "Media family pack — twenty media/similarity §2 rows in one graded "
        "slot: EXIF extract + GPS-PII strip (stripped-payload aHash in the "
        "hash), ID3v2 extract + strip, zip/tar archive ingestion (member "
        "names, sizes, per-member aHash), the WebDataset-style tar shard "
        "writer, MJPEG frame decode (per-frame analytic aHash), the scoped "
        "MP3 Layer III spectral decode (integer-exact Σ rint(xr³)), "
        "margin-based bitext mining, GIF and ICO/BMP decode, image pHash "
        "(DCT), the audio spectral fingerprint, the audio envelope hash "
        "over both the WAV and FLAC→WAV-transcode branches, both audio "
        "resample oracles, QOI and baseline TIFF decode, G.711 voice WAVs, "
        "PQ ANN end-to-end, MaxSim late-interaction reranking, asymmetric "
        "containment dedup, and the H.264 intra keyframe chain.",
        (
            Part(
                "multimodal_exif_privacy",
                lambda exif: exif.select(
                    F.lit("exif").alias("kind"),
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.coalesce(F.col("byte_order"), F.lit("~")),
                        F.coalesce(F.col("make"), F.lit("~")),
                    ).alias("k"),
                    F.coalesce(F.col("orientation"), F.lit(-1)).cast("long").alias("n"),
                    F.round(
                        F.coalesce(F.col("gps_d"), F.lit(0)) * 3600
                        + F.coalesce(F.col("gps_m"), F.lit(0)) * 60
                        + F.coalesce(F.col("gps_s"), F.lit(0))
                        + F.col("exif_after_strip").cast("int") * 100000
                        + F.coalesce(_pmod("ahash"), F.lit(0)),
                        6,
                    ).cast("double").alias("val"),
                ),
                f"""SELECT 'exif' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 COALESCE(byte_order, '~'),
                                 COALESCE(make, '~')) AS k,
                       CAST(COALESCE(orientation, -1) AS BIGINT) AS n,
                       ROUND(COALESCE(gps_d, 0) * 3600
                             + COALESCE(gps_m, 0) * 60
                             + COALESCE(gps_s, 0)
                             + CAST(exif_after_strip AS INT) * 100000
                             + COALESCE({_sql_pmod("ahash")}, 0),
                             6) AS val
                FROM multimodal_exif_privacy""",
            ),
            Part(
                "audio_id3_privacy",
                lambda id3: id3.select(
                    F.lit("id3").alias("kind"),
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.coalesce(F.col("id3_version"), F.lit("~")),
                        F.coalesce(F.col("title"), F.lit("~")),
                        F.coalesce(F.col("artist"), F.lit("~")),
                        F.coalesce(F.col("comment"), F.lit("~")),
                    ).alias("k"),
                    F.coalesce(F.col("n_frames"), F.lit(-1)).cast("long").alias("n"),
                    F.round(
                        F.coalesce(F.col("n_audio_frames"), F.lit(0))
                        + F.col("id3_after_strip").cast("int") * 100000,
                        6,
                    ).cast("double").alias("val"),
                ),
                """SELECT 'id3' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 COALESCE(id3_version, '~'),
                                 COALESCE(title, '~'),
                                 COALESCE(artist, '~'),
                                 COALESCE(comment, '~')) AS k,
                       CAST(COALESCE(n_frames, -1) AS BIGINT) AS n,
                       ROUND(COALESCE(n_audio_frames, 0)
                             + CAST(id3_after_strip AS INT) * 100000, 6) AS val
                FROM audio_id3_privacy""",
            ),
            Part(
                "ingest_zip_media",
                lambda zipm: zipm.select(
                    F.lit("zip").alias("kind"),
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.coalesce(F.col("member_name"), F.lit("~")),
                        F.coalesce(F.col("kind"), F.lit("~")),
                    ).alias("k"),
                    F.col("n_bytes").cast("long").alias("n"),
                    F.round(F.coalesce(_pmod("ahash"), F.lit(0)), 6).cast("double").alias("val"),
                ),
                f"""SELECT 'zip' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 COALESCE(member_name, '~'),
                                 COALESCE(kind, '~')) AS k,
                       CAST(n_bytes AS BIGINT) AS n,
                       ROUND(COALESCE({_sql_pmod("ahash")}, 0), 6) AS val
                FROM ingest_zip_media""",
            ),
            Part(
                "webdataset_roundtrip",
                lambda wds: wds.select(
                    F.lit("wds").alias("kind"),
                    F.col("doc_id").cast("string").alias("k"),
                    F.col("n_shards").cast("long").alias("n"),
                    F.round(F.coalesce(_pmod("ahash"), F.lit(0)), 6).cast("double").alias("val"),
                ),
                f"""SELECT 'wds' AS kind,
                       CAST(doc_id AS VARCHAR) AS k,
                       CAST(n_shards AS BIGINT) AS n,
                       ROUND(COALESCE({_sql_pmod("ahash")}, 0), 6) AS val
                FROM webdataset_roundtrip""",
            ),
            Part(
                "multimodal_mjpeg_frames",
                lambda mjpeg: mjpeg.select(
                    F.lit("mjpeg").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("frame_idx").cast("string")
                    ).alias("k"),
                    F.col("is_keyframe").cast("int").cast("long").alias("n"),
                    F.round(F.coalesce(_pmod("ahash"), F.lit(0)), 6).cast("double").alias("val"),
                ),
                f"""SELECT 'mjpeg' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(frame_idx AS VARCHAR)) AS k,
                       CAST(CAST(is_keyframe AS INT) AS BIGINT) AS n,
                       ROUND(COALESCE({_sql_pmod("ahash")}, 0), 6) AS val
                FROM multimodal_mjpeg_frames""",
            ),
            Part(
                "multimodal_mp3_spectral",
                lambda mp3: mp3.select(
                    F.lit("mp3").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("granule").cast("string")
                    ).alias("k"),
                    F.col("n_nonzero").cast("long").alias("n"),
                    F.round(F.coalesce(_pmod("val"), F.lit(0)), 6).cast("double").alias("val"),
                ),
                f"""SELECT 'mp3' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(granule AS VARCHAR)) AS k,
                       CAST(n_nonzero AS BIGINT) AS n,
                       ROUND(COALESCE({_sql_pmod("val")}, 0), 6) AS val
                FROM multimodal_mp3_spectral""",
            ),
            Part(
                "similarity_bitext_margin",
                lambda bitext: bitext.select(
                    F.lit("bitext").alias("kind"),
                    F.concat_ws(
                        ":", F.col("src_id").cast("string"), F.col("tgt_id").cast("string")
                    ).alias("k"),
                    F.col("mined").cast("int").cast("long").alias("n"),
                    F.round(F.col("cosine") * 1000 + F.col("margin"), 6).alias("val"),
                ),
                """SELECT 'bitext' AS kind,
                       concat_ws(':', CAST(src_id AS VARCHAR),
                                 CAST(tgt_id AS VARCHAR)) AS k,
                       CAST(CAST(mined AS INT) AS BIGINT) AS n,
                       ROUND(cosine * 1000 + margin, 6) AS val
                FROM similarity_bitext_margin""",
            ),
            _hash_part("multimodal_gif_decode", "gif", "ahash"),
            _hash_part("multimodal_ico_decode", "ico", "ahash"),
            _hash_part("image_phash_dct", "phash", "phash"),
            _hash_part("audio_spectral_tone", "tone", "fingerprint"),
            Part(
                "audio_envelope_hash",
                lambda env: env.select(
                    F.lit("env").alias("kind"),
                    _ks(F.col("doc_id").cast("string"), F.col("kind")),
                    F.lit(0).cast("long").alias("n"),
                    _pmod("envhash").cast("double").alias("val"),
                ),
                f"""SELECT 'env' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), kind) AS k,
                       CAST(0 AS BIGINT) AS n,
                       CAST({_sql_pmod("envhash")} AS DOUBLE) AS val
                FROM audio_envelope_hash""",
            ),
            _hash_part("audio_resample_exact", "rs_exact", "checksum", "n_out"),
            _hash_part("audio_resample_fractional", "rs_frac", "checksum", "n_out"),
            _hash_part("multimodal_qoi_decode", "qoi", "ahash"),
            _hash_part("multimodal_tiff_decode", "tiff", "ahash"),
            Part(
                "audio_g711_voice",
                lambda g711: g711.select(
                    F.lit("g711").alias("kind"),
                    _ks(F.col("doc_id").cast("string"), F.col("n_samples").cast("string")),
                    F.col("weighted_sum").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'g711' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(n_samples AS VARCHAR)) AS k,
                       CAST(weighted_sum AS BIGINT) AS n, 0.0 AS val
                FROM audio_g711_voice""",
            ),
            Part(
                "similarity_pq_adc",
                lambda pq: pq.select(
                    F.lit("pq").alias("kind"),
                    _ks(
                        F.col("query_id").cast("string"),
                        F.col("vec_id").cast("string"),
                        F.col("rank").cast("string"),
                    ),
                    F.col("adc_dist").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'pq' AS kind,
                       concat_ws(':', CAST(query_id AS VARCHAR),
                                 CAST(vec_id AS VARCHAR),
                                 CAST(rank AS VARCHAR)) AS k,
                       CAST(adc_dist AS BIGINT) AS n, 0.0 AS val
                FROM similarity_pq_adc""",
            ),
            Part(
                "similarity_maxsim_rerank",
                lambda ms: ms.select(
                    F.lit("maxsim").alias("kind"),
                    _ks(
                        F.col("query_id").cast("string"),
                        F.col("doc_id").cast("string"),
                        F.col("rank").cast("string"),
                    ),
                    F.col("score").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'maxsim' AS kind,
                       concat_ws(':', CAST(query_id AS VARCHAR),
                                 CAST(doc_id AS VARCHAR),
                                 CAST(rank AS VARCHAR)) AS k,
                       CAST(score AS BIGINT) AS n, 0.0 AS val
                FROM similarity_maxsim_rerank""",
            ),
            Part(
                "dedup_containment",
                lambda ct: ct.select(
                    F.lit("contain").alias("kind"),
                    _ks(
                        F.col("id_a").cast("string"),
                        F.col("id_b").cast("string"),
                        F.col("n_a").cast("string"),
                        F.col("n_b").cast("string"),
                        F.col("contained"),
                    ),
                    F.col("shared").cast("long").alias("n"),
                    (F.col("c_ab") + F.col("c_ba")).alias("val"),
                ),
                """SELECT 'contain' AS kind,
                       concat_ws(':', CAST(id_a AS VARCHAR), CAST(id_b AS VARCHAR),
                                 CAST(n_a AS VARCHAR), CAST(n_b AS VARCHAR),
                                 contained) AS k,
                       CAST(shared AS BIGINT) AS n,
                       c_ab + c_ba AS val
                FROM dedup_containment""",
            ),
            Part(
                "multimodal_h264_keyframes",
                lambda h264: h264.select(
                    F.lit("h264").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("frame_idx").cast("string"),
                        F.col("is_keyframe").cast("int").cast("string"),
                    ),
                    F.lit(0).cast("long").alias("n"),
                    _pmod("ahash").cast("double").alias("val"),
                ),
                f"""SELECT 'h264' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(frame_idx AS VARCHAR),
                                 CAST(CAST(is_keyframe AS INT) AS VARCHAR)) AS k,
                       CAST(0 AS BIGINT) AS n,
                       CAST({_sql_pmod("ahash")} AS DOUBLE) AS val
                FROM multimodal_h264_keyframes""",
            ),
        ),
    ),
    Slot(
        "r6_pack",
        ("B4", "B10", "pack"),
        "PNG/Bloom/HLL pack — one graded slot covering three §2 rows: real "
        "PNG decode (per-doc channel means folded into one checksum value, "
        "decoded=TRUE rows only so a stub fall-through empties the branch "
        "and fails rows), Bloom-filter decontamination (per-bucket gram/"
        "maybe/true-hit sums — false positives included), and the portable "
        "HyperLogLog (exact integer harmonic sums, unrounded IEEE "
        "estimates, and the register-array md5 re-hashed to a number).",
        (
            Part(
                "multimodal_png_decode",
                lambda png: png.where(F.col("decoded")).select(
                    F.lit("png").alias("kind"),
                    F.col("doc_id").cast("string").alias("k"),
                    (F.col("w") * 1000 + F.col("h")).alias("n"),
                    (
                        F.col("mean_r")
                        + F.lit(256.0) * F.col("mean_g")
                        + F.lit(65536.0) * F.col("mean_b")
                    ).alias("val"),
                ),
                """SELECT 'png' AS kind, CAST(doc_id AS VARCHAR) AS k,
                       w * 1000 + h AS n,
                       mean_r + 256.0 * mean_g + 65536.0 * mean_b AS val
                FROM multimodal_png_decode WHERE decoded""",
            ),
            Part(
                "llm_bloom_decontaminate",
                lambda bloom: bloom.groupBy((F.col("doc_id") % 16).cast("string").alias("k"))
                .agg(
                    F.sum("n_grams").alias("n"),
                    (F.sum("maybe_hits") * 100000 + F.sum("true_hits")).cast("double").alias("val"),
                )
                .select(F.lit("bloom").alias("kind"), "k", "n", "val"),
                """SELECT 'bloom' AS kind, CAST(doc_id % 16 AS VARCHAR) AS k,
                       CAST(SUM(n_grams) AS BIGINT) AS n,
                       CAST(SUM(maybe_hits) * 100000 + SUM(true_hits) AS DOUBLE) AS val
                FROM llm_bloom_decontaminate GROUP BY 2""",
            ),
            Part(
                "sketch_hll_portable",
                lambda hll: hll.select(
                    F.lit("hll").alias("kind"),
                    F.col("event_type").alias("k"),
                    F.col("sum_units").alias("n"),
                    F.col("hll_estimate").alias("val"),
                ).unionByName(
                    hll.select(
                        F.lit("hll_sketch").alias("kind"),
                        F.col("event_type").alias("k"),
                        F.col("n_empty").alias("n"),
                        F.conv(F.substring("registers_md5", 1, 13), 16, 10)
                        .cast("double")
                        .alias("val"),
                    )
                ),
                """SELECT 'hll' AS kind, event_type AS k,
                       sum_units AS n, hll_estimate AS val
                FROM sketch_hll_portable
                UNION ALL
                SELECT 'hll_sketch', event_type,
                       n_empty,
                       CAST(CAST(('0x' || substr(registers_md5, 1, 13)) AS BIGINT) AS DOUBLE)
                FROM sketch_hll_portable""",
            ),
        ),
    ),
    Slot(
        "setop_sort_pack",
        ("B6", "setops", "pack"),
        "B6 pack with NOTHING reduced: every labeled UNION ALL/UNION/"
        "INTERSECT/EXCEPT row of setop_family and every top-100 row of "
        "sort_nulls_limit (multi-key sort, NULLS FIRST, unique tie-break) "
        "rides in the hash verbatim.",
        (
            Part(
                "setop_family",
                lambda so: so.select(
                    F.lit("setop").alias("kind"),
                    _ks(F.col("op"), F.col("k").cast("string")),
                    F.col("n").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'setop' AS kind,
                       concat_ws(':', op, CAST(k AS VARCHAR)) AS k,
                       CAST(n AS BIGINT) AS n, 0.0 AS val
                FROM setop_family""",
            ),
            Part(
                "sort_nulls_limit",
                lambda srt: srt.select(
                    F.lit("sort").alias("kind"),
                    _ks(
                        F.col("o_orderkey").cast("string"),
                        F.col("o_orderstatus"),
                        F.coalesce(F.col("prio"), F.lit("~")),
                    ),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'sort' AS kind,
                       concat_ws(':', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                                 COALESCE(prio, '~')) AS k,
                       CAST(0 AS BIGINT) AS n, 0.0 AS val
                FROM sort_nulls_limit""",
            ),
        ),
    ),
    Slot(
        "fn_string_datetime_pack",
        ("B7", "functions", "pack"),
        "B7 scalar-function pack with NOTHING reduced: every output column "
        "of fn_string (case/trim/substr/split/replace/pad/instr/regex/format "
        "over part names) and fn_datetime (extract/trunc/add/diff/format/"
        "epoch over order dates) rides in the hash verbatim as a "
        "stringified k (integer->VARCHAR and DATE->ISO casts are "
        "engine-identical; epoch_s rides in n).",
        (
            Part(
                "fn_string",
                lambda s: s.select(
                    F.lit("str").alias("kind"),
                    _ks(
                        F.col("p_partkey").cast("string"),
                        F.col("lname"),
                        F.col("ubrand"),
                        F.col("trimmed"),
                        F.col("first8"),
                        F.col("nlen").cast("string"),
                        F.col("joined"),
                        F.col("replaced"),
                        F.col("padded"),
                        F.col("first_a").cast("string"),
                        F.col("first_word"),
                        F.col("devoweled"),
                        F.col("formatted"),
                        F.col("has_gold").cast("int").cast("string"),
                        F.col("starts_lower").cast("int").cast("string"),
                    ),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'str' AS kind,
                       concat_ws(':', CAST(p_partkey AS VARCHAR), lname,
                                 ubrand, trimmed, first8,
                                 CAST(nlen AS VARCHAR), joined, replaced,
                                 padded, CAST(first_a AS VARCHAR), first_word,
                                 devoweled, formatted,
                                 CAST(CAST(has_gold AS INT) AS VARCHAR),
                                 CAST(CAST(starts_lower AS INT) AS VARCHAR)) AS k,
                       CAST(0 AS BIGINT) AS n, 0.0 AS val
                FROM fn_string""",
            ),
            Part(
                "fn_datetime",
                lambda dt: dt.select(
                    F.lit("dt").alias("kind"),
                    _ks(
                        F.col("o_orderkey").cast("string"),
                        F.col("y").cast("string"),
                        F.col("m").cast("string"),
                        F.col("d").cast("string"),
                        F.col("h").cast("string"),
                        F.col("mi").cast("string"),
                        F.col("month_start").cast("string"),
                        F.col("plus30").cast("string"),
                        F.col("minus7").cast("string"),
                        F.col("days_since_95").cast("string"),
                        F.col("months_since_95").cast("string"),
                        F.col("od").cast("string"),
                        F.col("formatted"),
                    ),
                    F.col("epoch_s").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'dt' AS kind,
                       concat_ws(':', CAST(o_orderkey AS VARCHAR),
                                 CAST(y AS VARCHAR), CAST(m AS VARCHAR),
                                 CAST(d AS VARCHAR), CAST(h AS VARCHAR),
                                 CAST(mi AS VARCHAR),
                                 CAST(CAST(month_start AS DATE) AS VARCHAR),
                                 CAST(CAST(plus30 AS DATE) AS VARCHAR),
                                 CAST(CAST(minus7 AS DATE) AS VARCHAR),
                                 CAST(days_since_95 AS VARCHAR),
                                 CAST(months_since_95 AS VARCHAR),
                                 CAST(od AS VARCHAR), formatted) AS k,
                       epoch_s AS n, 0.0 AS val
                FROM fn_datetime""",
            ),
        ),
    ),
    Slot(
        "text_codec_pack",
        ("B10", "text", "crawl", "archives", "pack"),
        "Byte-stream codec ingest pack — one graded slot carrying the five "
        "compressed-corpus ingest rows verbatim: zstd (RFC 8878 from spec "
        "through BOTH production seams), xz/LZMA (liblzma-pinned, .xz + "
        ".tar.xz routes), compressed .jsonl shards (5-codec magic-sniff "
        "explode), LZ4-frame tars, and the .7z container walk "
        "(libarchive-pinned, 5 coder shapes incl. delta/BCJ bind-pair "
        "chains). All-integer/string outputs ride in the exact k/n "
        "channels. All five decode paths dispatch through the injectable "
        "stream-codec registry (operators/codecs.py).",
        (
            Part(
                "text_zstd_decode",
                lambda zs: zs.select(
                    F.lit("zstd").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("route"),
                        F.col("mode"), F.col("roundtrip_ok").cast("string"),
                    ).alias("k"),
                    F.col("n_bytes").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'zstd' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), route, mode,
                                 CAST(roundtrip_ok AS VARCHAR)) AS k,
                       n_bytes AS n, 0.0 AS val
                FROM text_zstd_decode""",
            ),
            Part(
                "text_xz_decode",
                lambda xz: xz.select(
                    F.lit("xz").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("route"),
                        F.col("preset").cast("string"),
                        F.col("roundtrip_ok").cast("string"),
                    ).alias("k"),
                    F.col("n_bytes").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'xz' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), route,
                                 CAST(preset AS VARCHAR),
                                 CAST(roundtrip_ok AS VARCHAR)) AS k,
                       n_bytes AS n, 0.0 AS val
                FROM text_xz_decode""",
            ),
            Part(
                "ingest_jsonl_shards",
                lambda js: js.select(
                    F.lit("jsonl").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("codec"),
                        F.col("shard_id").cast("string"),
                        F.col("text_ok").cast("string"),
                    ).alias("k"),
                    F.col("n_chars").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'jsonl' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), codec,
                                 CAST(shard_id AS VARCHAR),
                                 CAST(text_ok AS VARCHAR)) AS k,
                       n_chars AS n, 0.0 AS val
                FROM ingest_jsonl_shards""",
            ),
            Part(
                "archive_lz4_roundtrip",
                lambda l4: l4.select(
                    F.lit("lz4").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("n_members").cast("string"), F.col("names"),
                    ).alias("k"),
                    F.col("total_bytes").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'lz4' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(n_members AS VARCHAR), names) AS k,
                       total_bytes AS n, 0.0 AS val
                FROM archive_lz4_roundtrip""",
            ),
            Part(
                "archive_7z_extract",
                lambda sz: sz.select(
                    F.lit("sevenz").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("codec"),
                        F.col("n_members").cast("string"), F.col("names"),
                        F.col("roundtrip_ok").cast("string"),
                    ).alias("k"),
                    F.col("total_bytes").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'sevenz' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), codec,
                                 CAST(n_members AS VARCHAR), names,
                                 CAST(roundtrip_ok AS VARCHAR)) AS k,
                       total_bytes AS n, 0.0 AS val
                FROM archive_7z_extract""",
            ),
        ),
    ),
    Slot(
        "fn_family_pack2",
        ("B7", "pack"),
        "B7 scalar-function family pack 2 — fn_scalar_pack (math/bitwise, "
        "array + higher-order, map, json/variant, null/misc branches) and "
        "fn_web_time_pack (url parsing + timezone conversion) in one graded "
        "slot; every output column of both rides in the pack hash verbatim "
        "(doubles each in their own val-channel row — never stringified).",
        (
            Part(
                "fn_scalar_pack",
                lambda fs: fs.select(
                    F.lit("fs").alias("kind"),
                    F.concat_ws(":", *_fs_key2(), *[_key_str(c) for c in _FS_KEYS]).alias("k"),
                    (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                f"""SELECT 'fs' AS kind,
                       concat_ws(':', CAST(l_orderkey AS VARCHAR),
                                 CAST(l_linenumber AS VARCHAR),
                                 {", ".join(_sql_key_str(c) for c in _FS_KEYS)}) AS k,
                       CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS n,
                       0.0 AS val
                FROM fn_scalar_pack""",
            ),
            *(_fs_double_part(c) for c in _FS_DOUBLES),
            Part(
                "fn_web_time_pack",
                lambda wt: wt.select(
                    F.lit("wt").alias("kind"),
                    F.concat_ws(
                        ":",
                        F.col("event_id").cast("string"),
                        *[_key_str(c) for c in _WT_KEYS],
                    ).alias("k"),
                    F.col("event_id").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                f"""SELECT 'wt' AS kind,
                       concat_ws(':', CAST(event_id AS VARCHAR),
                                 {", ".join(_sql_key_str(c) for c in _WT_KEYS)}) AS k,
                       CAST(event_id AS BIGINT) AS n, 0.0 AS val
                FROM fn_web_time_pack""",
            ),
        ),
    ),
    Slot(
        "r11_pack",
        ("B10", "multimodal", "text", "crawl", "video", "pack"),
        "Operator pack — one graded slot hard-grading five §2 rows: lossy "
        "VP8 key-frame decode (RFC 6386, bit-exact vs libwebp on the real "
        "python.webp), PDF embedded-image extraction (DCTDecode passthrough "
        "+ FlateDecode/predictor re-wrap), EPUB ingestion (OCF/OPF spine "
        "walk through the crawl html_to_text chain), the five-format raster "
        "wave (Sun Raster/SGI/OpenEXR/PNM/XBM, every one real-file-pinned), "
        "and H.264 CABAC I-slices (twin-match vs CAVLC per doc).",
        (
            Part(
                "multimodal_vp8_decode",
                lambda vp8: vp8.select(
                    F.lit("vp8").alias("kind"),
                    F.col("doc_id").cast("string").alias("k"),
                    F.col("ahash").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'vp8' AS kind, CAST(doc_id AS VARCHAR) AS k,
                       CAST(ahash AS BIGINT) AS n, 0.0 AS val
                FROM multimodal_vp8_decode""",
            ),
            Part(
                "multimodal_pdf_images",
                lambda pdfi: pdfi.select(
                    F.lit("pdf").alias("kind"),
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("img_idx").cast("string"),
                        F.col("fmt"),
                    ).alias("k"),
                    F.col("ahash").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'pdf' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(img_idx AS VARCHAR), fmt) AS k,
                       CAST(ahash AS BIGINT) AS n, 0.0 AS val
                FROM multimodal_pdf_images""",
            ),
            Part(
                "text_epub_extract",
                lambda ep: ep.select(
                    F.lit("epub").alias("kind"),
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("ch_order").cast("string"),
                        F.col("href"),
                        F.col("title"),
                        F.col("language"),
                        F.col("text_md5"),
                    ).alias("k"),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'epub' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(ch_order AS VARCHAR), href, title,
                                 language, text_md5) AS k,
                       CAST(0 AS BIGINT) AS n, 0.0 AS val
                FROM text_epub_extract""",
            ),
            Part(
                "multimodal_raster_formats",
                lambda ras: ras.select(
                    F.lit("ras").alias("kind"),
                    F.concat_ws(":", F.col("doc_id").cast("string"), F.col("fmt")).alias("k"),
                    F.col("ahash").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'ras' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), fmt) AS k,
                       CAST(ahash AS BIGINT) AS n, 0.0 AS val
                FROM multimodal_raster_formats""",
            ),
            Part(
                "multimodal_h264_cabac",
                lambda cab: cab.select(
                    F.lit("cabac").alias("kind"),
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("mb_w").cast("string"),
                        F.col("mb_h").cast("string"),
                        F.col("twin_match").cast("int").cast("string"),
                        F.col("uniform_is_128").cast("int").cast("string"),
                    ).alias("k"),
                    F.col("n_px").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'cabac' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(mb_w AS VARCHAR), CAST(mb_h AS VARCHAR),
                                 CAST(CAST(twin_match AS INT) AS VARCHAR),
                                 CAST(CAST(uniform_is_128 AS INT) AS VARCHAR)) AS k,
                       CAST(n_px AS BIGINT) AS n, 0.0 AS val
                FROM multimodal_h264_cabac""",
            ),
        ),
    ),
    Slot(
        "media_codec_pack",
        ("B10", "multimodal", "audio", "video", "image", "pack"),
        "Media codec pack — eight codec §2 rows in one graded slot: the "
        "extended TIFF decode surface (LZW both predictors / Deflate / "
        "tiled / 16-bit / planar-2 / JPEG-in-TIFF, real-libtiff-pinned in "
        "tests), the analytic IMA+MS ADPCM WAV decode, the HEVC stream "
        "probe (SPS geometry/profile/level, IRAP/IDR census), the Ogg "
        "container probe (real-CRC page walk, Vorbis/Opus id headers, "
        "granule duration semantics), full HEVC intra decode "
        "(libde265-bit-exact in tests), HEIC decode (single/grid/irot, "
        "libheif-pinned), HEVC Main10 decode, and the AV1/AVIF structure "
        "probe. All-integer outputs ride in the exact k/n channels.",
        (
            Part(
                "multimodal_tiff_extended",
                lambda tx: tx.select(
                    F.lit("tiffx").alias("kind"),
                    F.col("doc_id").cast("string").alias("k"),
                    F.col("ahash").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'tiffx' AS kind, CAST(doc_id AS VARCHAR) AS k,
                       CAST(ahash AS BIGINT) AS n, 0.0 AS val
                FROM multimodal_tiff_extended""",
            ),
            Part(
                "audio_adpcm_roundtrip",
                lambda ad: ad.select(
                    F.lit("adpcm").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("n_samples").cast("string"),
                    ).alias("k"),
                    F.col("checksum").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'adpcm' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(n_samples AS VARCHAR)) AS k,
                       CAST(checksum AS BIGINT) AS n, 0.0 AS val
                FROM audio_adpcm_roundtrip""",
            ),
            Part(
                "video_hevc_probe",
                lambda hv: hv.select(
                    F.lit("hevc").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("width").cast("string"), F.col("height").cast("string"),
                        F.col("bit_depth").cast("string"),
                        F.col("profile_idc").cast("string"),
                        F.col("level_idc").cast("string"),
                        F.col("n_irap").cast("string"), F.col("n_idr").cast("string"),
                    ).alias("k"),
                    F.col("n_nals").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'hevc' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(width AS VARCHAR),
                                 CAST(height AS VARCHAR),
                                 CAST(bit_depth AS VARCHAR),
                                 CAST(profile_idc AS VARCHAR),
                                 CAST(level_idc AS VARCHAR),
                                 CAST(n_irap AS VARCHAR),
                                 CAST(n_idr AS VARCHAR)) AS k,
                       CAST(n_nals AS BIGINT) AS n, 0.0 AS val
                FROM video_hevc_probe""",
            ),
            Part(
                "audio_ogg_probe",
                lambda og: og.select(
                    F.lit("ogg").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.col("codec"),
                        F.col("channels").cast("string"),
                        F.col("sample_rate").cast("string"),
                        F.col("pre_skip").cast("string"),
                        F.col("n_pages").cast("string"),
                    ).alias("k"),
                    F.col("dur_s").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'ogg' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), codec,
                                 CAST(channels AS VARCHAR),
                                 CAST(sample_rate AS VARCHAR),
                                 CAST(pre_skip AS VARCHAR),
                                 CAST(n_pages AS VARCHAR)) AS k,
                       CAST(dur_s AS BIGINT) AS n, 0.0 AS val
                FROM audio_ogg_probe""",
            ),
            Part(
                "multimodal_hevc_decode",
                lambda hd: hd.select(
                    F.lit("hevcd").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("n_px").cast("string"),
                    ).alias("k"),
                    F.col("ahash").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'hevcd' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(n_px AS VARCHAR)) AS k,
                       CAST(ahash AS BIGINT) AS n, 0.0 AS val
                FROM multimodal_hevc_decode""",
            ),
            Part(
                "multimodal_heic_decode",
                lambda hc: hc.select(
                    F.lit("heic").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("n_items").cast("string"),
                        F.col("n_tiles").cast("string"),
                        F.col("rotation").cast("string"),
                    ).alias("k"),
                    F.col("ahash").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'heic' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(n_items AS VARCHAR),
                                 CAST(n_tiles AS VARCHAR),
                                 CAST(rotation AS VARCHAR)) AS k,
                       CAST(ahash AS BIGINT) AS n, 0.0 AS val
                FROM multimodal_heic_decode""",
            ),
            Part(
                "video_hevc_main10",
                lambda m10: m10.select(
                    F.lit("main10").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("bit_depth").cast("string"),
                        F.col("n_px").cast("string"),
                    ).alias("k"),
                    F.col("ahash").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'main10' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(bit_depth AS VARCHAR),
                                 CAST(n_px AS VARCHAR)) AS k,
                       CAST(ahash AS BIGINT) AS n, 0.0 AS val
                FROM video_hevc_main10""",
            ),
            Part(
                "video_av1_probe",
                lambda av: av.select(
                    F.lit("av1").alias("kind"),
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("width").cast("string"),
                        F.col("height").cast("string"),
                        F.col("profile").cast("string"),
                        F.col("bit_depth").cast("string"),
                        F.col("monochrome").cast("string"),
                    ).alias("k"),
                    F.col("n_obus").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'av1' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(width AS VARCHAR),
                                 CAST(height AS VARCHAR),
                                 CAST(profile AS VARCHAR),
                                 CAST(bit_depth AS VARCHAR),
                                 CAST(monochrome AS VARCHAR)) AS k,
                       CAST(n_obus AS BIGINT) AS n, 0.0 AS val
                FROM video_av1_probe""",
            ),
        ),
    ),
    Slot(
        "stream_window_pack",
        ("B8", "pack"),
        "B8 windowed-streaming pack with NOTHING reduced: every output row "
        "of stream_sliding_session (sliding + session window batch twins) "
        "and stream_late_drop (the SPARK-24634 two-watermark late-drop "
        "replay, decimal-exact sums riding in val) rides in the hash "
        "verbatim; the real streaming forms stay pinned in "
        "tests/test_streaming.py.",
        (
            Part(
                "stream_sliding_session",
                lambda ss: ss.select(
                    F.lit("slide").alias("kind"),
                    _ks(F.col("kind"), F.col("k")),
                    F.col("n").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'slide' AS kind, concat_ws(':', kind, k) AS k,
                       CAST(n AS BIGINT) AS n, 0.0 AS val
                FROM stream_sliding_session""",
            ),
            Part(
                "stream_late_drop",
                lambda ld: ld.select(
                    F.lit("late").alias("kind"),
                    _ks(F.col("event_type"), F.col("win_start").cast("string")),
                    F.col("n").cast("long").alias("n"),
                    F.col("sum_value").alias("val"),
                ),
                """SELECT 'late' AS kind,
                       concat_ws(':', event_type, CAST(win_start AS VARCHAR)) AS k,
                       CAST(n AS BIGINT) AS n, sum_value AS val
                FROM stream_late_drop""",
            ),
        ),
    ),
    Slot(
        "r10_pack",
        ("B10", "B1", "multimodal", "crawl", "dedup", "data-mgmt", "pack"),
        "Codec/crawl/lake pack — one graded slot covering seven §2 rows: "
        "WebP VP8L decode (analytic aHash rotating the feature surface), "
        "Sun AU decode (all four integer depths), 8SVX decode "
        "(Fibonacci-delta + stereo blocks), sitemap frontier extraction "
        "(index + urlset, CDATA, entities, canonicalization), exact "
        "duplicated-span dedup (Lee et al. gaps-and-islands replay), the "
        "schema-drift report, and ANALYZE catalog statistics.",
        (
            _hash_part("multimodal_webp_decode", "webp", "ahash"),
            _audio_part("audio_au_roundtrip", "au", "bits"),
            _audio_part("audio_8svx_roundtrip", "svx", "channels"),
            Part(
                "crawl_sitemap_frontier",
                lambda smap: smap.select(
                    F.lit("smap").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("kind"),
                        F.col("pos").cast("string"),
                        F.col("url"),
                        F.col("lastmod"),
                    ),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'smap' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), kind,
                                 CAST(pos AS VARCHAR), url, lastmod) AS k,
                       CAST(0 AS BIGINT) AS n, 0.0 AS val
                FROM crawl_sitemap_frontier""",
            ),
            Part(
                "dedup_duplicated_spans",
                lambda spans: spans.select(
                    F.lit("spans").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("span_start").cast("string"),
                        F.col("span_len").cast("string"),
                    ),
                    F.col("n_windows").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'spans' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(span_start AS VARCHAR),
                                 CAST(span_len AS VARCHAR)) AS k,
                       CAST(n_windows AS BIGINT) AS n, 0.0 AS val
                FROM dedup_duplicated_spans""",
            ),
            Part(
                "lake_schema_drift_report",
                lambda drift: drift.select(
                    F.lit("drift").alias("kind"),
                    _ks(F.col("kind"), F.col("k")),
                    F.col("n").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'drift' AS kind, concat_ws(':', kind, k) AS k,
                       CAST(n AS BIGINT) AS n, 0.0 AS val
                FROM lake_schema_drift_report""",
            ),
            Part(
                "lake_analyze_stats",
                lambda stats: stats.select(
                    F.lit("stats").alias("kind"),
                    F.col("k"),
                    F.col("n").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'stats' AS kind, k,
                       CAST(n AS BIGINT) AS n, 0.0 AS val
                FROM lake_analyze_stats""",
            ),
        ),
    ),
    Slot(
        "sketch_pack2",
        ("B4", "B10", "sketch", "pack"),
        "Sketch/stats pack — one graded slot covering five §2 rows: the "
        "portable count-min sketch (per-event-type probe counts + "
        "exact/overestimate checksum, so the CMS error behavior is in the "
        "hash), exact bitmap count-distinct per event type, the Benford "
        "first-digit audit (share/expectation/deviation), CCNet perplexity "
        "buckets (tercile routing + NLL mass + doc-id bounds), and "
        "curriculum phase assignment (per-phase count, quality mass, "
        "doc-membership checksum). Double reductions go through dsum/"
        "sql_dsum, so no float-merge-order wobble enters the hash.",
        (
            Part(
                "sketch_countmin_portable",
                lambda cms: cms.groupBy(
                    F.split_part(F.col("key"), F.lit("/"), F.lit(1)).alias("k")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("exact_n") * 3 + F.col("overestimate") * 7)
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("cms").alias("kind"), "k", "n", "val"),
                """SELECT 'cms' AS kind, split_part(key, '/', 1) AS k,
                       COUNT(*) AS n,
                       CAST(SUM(exact_n * 3 + overestimate * 7) AS DOUBLE) AS val
                FROM sketch_countmin_portable GROUP BY 2""",
            ),
            Part(
                "agg_bitmap_exact_distinct",
                lambda bmap: bmap.select(
                    F.lit("bitmap").alias("kind"),
                    F.col("event_type").alias("k"),
                    F.col("distinct_users").alias("n"),
                    F.col("distinct_users").cast("double").alias("val"),
                ),
                """SELECT 'bitmap' AS kind, event_type AS k, distinct_users AS n,
                       CAST(distinct_users AS DOUBLE) AS val
                FROM agg_bitmap_exact_distinct""",
            ),
            Part(
                "agg_benford_digits",
                lambda benford: benford.select(
                    F.lit("benford").alias("kind"),
                    F.col("digit").cast("string").alias("k"),
                    F.col("n"),
                    F.round(
                        F.col("share") + 7 * F.col("benford_p") + 31 * F.col("abs_dev"), 6
                    ).alias("val"),
                ),
                """SELECT 'benford' AS kind, CAST(digit AS VARCHAR) AS k, n,
                       ROUND(share + 7 * benford_p + 31 * abs_dev, 6) AS val
                FROM agg_benford_digits""",
            ),
            Part(
                "text_ccnet_buckets",
                lambda ccnet: ccnet.select(
                    F.lit("ccnet").alias("kind"),
                    F.col("bucket").alias("k"),
                    F.col("n_docs").alias("n"),
                    F.round(
                        F.col("nll_mass") + F.col("min_doc") * 7 + F.col("max_doc"), 6
                    ).alias("val"),
                ),
                """SELECT 'ccnet' AS kind, bucket AS k, n_docs AS n,
                       ROUND(nll_mass + min_doc * 7 + max_doc, 6) AS val
                FROM text_ccnet_buckets""",
            ),
            Part(
                "llm_curriculum_phases",
                lambda curr: curr.groupBy(F.col("phase").cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(
                        dsum("quality_score")
                        + F.pmod(F.sum("doc_id").cast("bigint"), F.lit(1000003)),
                        6,
                    ).alias("val"),
                )
                .select(F.lit("curriculum").alias("kind"), "k", "n", "val"),
                f"""SELECT 'curriculum' AS kind, CAST(phase AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       ROUND({sql_dsum("quality_score")}
                             + (CAST(SUM(doc_id) AS BIGINT) % 1000003), 6) AS val
                FROM llm_curriculum_phases GROUP BY 2""",
            ),
        ),
    ),
    Slot(
        "udf_b9_pack",
        ("B9", "pack"),
        "B9 family pack — udf_scalar_py_pandas (row-at-a-time Python UDF + "
        "vectorized pandas UDF, byte-equal outputs), udf_grouped_map_agg "
        "(applyInPandas grouped-map + grouped-agg pandas UDAF, integer-exact "
        "metrics riding in n) and udf_table_function (explode/LATERAL VIEW "
        "table function, duplicate char rows included verbatim) in one "
        "graded slot; every output row rides in the pack hash verbatim.",
        (
            Part(
                "udf_scalar_py_pandas",
                lambda sc: sc.select(
                    F.lit("udfsc").alias("kind"),
                    F.concat_ws(
                        ":", F.col("o_orderkey").cast("string"), F.col("size_band")
                    ).alias("k"),
                    F.col("price_cents").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'udfsc' AS kind,
                       concat_ws(':', CAST(o_orderkey AS VARCHAR),
                                 size_band) AS k,
                       CAST(price_cents AS BIGINT) AS n, 0.0 AS val
                FROM udf_scalar_py_pandas""",
            ),
            Part(
                "udf_grouped_map_agg",
                lambda gm: gm.select(
                    F.lit("grouped").alias("kind"),
                    _ks(F.col("kind"), F.col("event_type")),
                    F.col("metric").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'grouped' AS kind,
                       concat_ws(':', kind, event_type) AS k,
                       CAST(metric AS BIGINT) AS n, 0.0 AS val
                FROM udf_grouped_map_agg""",
            ),
            Part(
                "udf_table_function",
                lambda tf: tf.select(
                    F.lit("tablefn").alias("kind"),
                    _ks(F.col("r_regionkey").cast("string"), F.col("ch")),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'tablefn' AS kind,
                       concat_ws(':', CAST(r_regionkey AS VARCHAR), ch) AS k,
                       CAST(0 AS BIGINT) AS n, 0.0 AS val
                FROM udf_table_function""",
            ),
        ),
    ),
    Slot(
        "crawl_pack2",
        ("B10", "crawl", "multimodal", "text", "pack"),
        "Crawl/media pack — one graded slot covering four §2 rows: crawl "
        "link-graph extraction (href matcher + URL canonicalization "
        "replayed character-for-character by the generated DuckDB twin), "
        "the Unicode script profile (per-script counts from the same public "
        "block-range table, dominant script + share), TGA decode via the "
        "registry's explicit-dict no-sniff path (raw/RLE × gray/RGB × both "
        "row origins, analytic two-tone aHash), and the AIFF/AIFF-C "
        "roundtrip (position-weighted PCM sum + 80-bit extended-float rate "
        "recovery, both byte orders).",
        (
            Part(
                "crawl_link_graph",
                lambda lg: lg.select(
                    F.lit("link").alias("kind"),
                    _ks(F.col("doc_id").cast("string"), F.col("url")),
                    F.col("n").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'link' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR), url) AS k,
                       CAST(n AS BIGINT) AS n, 0.0 AS val
                FROM crawl_link_graph""",
            ),
            Part(
                "text_script_profile",
                lambda sp: sp.select(
                    F.lit("script").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        *[F.col(f"n_{s}").cast("string") for s in _SCRIPTS],
                        F.col("main_script"),
                    ),
                    F.col("n_scripted").cast("long").alias("n"),
                    F.col("main_share").alias("val"),
                ),
                f"""SELECT 'script' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 {", ".join(f"CAST(n_{s} AS VARCHAR)" for s in _SCRIPTS)},
                                 main_script) AS k,
                       CAST(n_scripted AS BIGINT) AS n,
                       main_share AS val
                FROM text_script_profile""",
            ),
            _hash_part("multimodal_tga_decode", "tga", "ahash"),
            Part(
                "audio_aiff_roundtrip",
                lambda aiff: aiff.select(
                    F.lit("aiff").alias("kind"),
                    _ks(
                        F.col("doc_id").cast("string"),
                        F.col("n_samples").cast("string"),
                        F.col("sample_rate").cast("string"),
                    ),
                    F.col("weighted_sum").cast("long").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'aiff' AS kind,
                       concat_ws(':', CAST(doc_id AS VARCHAR),
                                 CAST(n_samples AS VARCHAR),
                                 CAST(sample_rate AS VARCHAR)) AS k,
                       CAST(weighted_sum AS BIGINT) AS n, 0.0 AS val
                FROM audio_aiff_roundtrip""",
            ),
        ),
    ),
    Slot(
        "ops_pack",
        ("B10", "saas", "ops", "pack"),
        "SaaS-ops analytics pack — one graded slot covering four §2 rows: "
        "the ordered view→click→purchase funnel (stage survivor counts), "
        "the cohort retention triangle (per week-offset cohort count + "
        "date-weighted active-user checksum), per-tenant usage metering "
        "with windowed cost attribution (event/user counts, metered value, "
        "payload bytes, day cost share), and per-tenant usage-anomaly "
        "z-scores (z mass + anomaly-flag count).",
        (
            Part(
                "funnel_view_click_purchase",
                lambda funnel: funnel.select(
                    F.explode(
                        F.array(
                            F.struct(F.lit("view").alias("k"), F.col("n_view").alias("n")),
                            F.struct(
                                F.lit("view_click").alias("k"),
                                F.col("n_view_click").alias("n"),
                            ),
                            F.struct(
                                F.lit("full").alias("k"), F.col("n_full_funnel").alias("n")
                            ),
                        )
                    ).alias("s")
                ).select(
                    F.lit("funnel").alias("kind"),
                    F.col("s.k").alias("k"),
                    F.col("s.n").alias("n"),
                    F.col("s.n").cast("double").alias("val"),
                ),
                """SELECT 'funnel' AS kind, 'view' AS k, n_view AS n,
                       CAST(n_view AS DOUBLE) AS val FROM funnel_view_click_purchase
                UNION ALL
                SELECT 'funnel', 'view_click', n_view_click,
                       CAST(n_view_click AS DOUBLE) FROM funnel_view_click_purchase
                UNION ALL
                SELECT 'funnel', 'full', n_full_funnel,
                       CAST(n_full_funnel AS DOUBLE) FROM funnel_view_click_purchase""",
            ),
            Part(
                "cohort_retention",
                lambda cohort: cohort.groupBy(F.col("week_offset").cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.col("active_users")
                        * (1 + F.datediff(F.col("cohort_day"), F.lit("2024-01-01")))
                    )
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("cohort").alias("kind"), "k", "n", "val"),
                """SELECT 'cohort' AS kind, CAST(week_offset AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       CAST(SUM(active_users *
                                (1 + DATE_DIFF('day', DATE '2024-01-01', cohort_day)))
                            AS DOUBLE) AS val
                FROM cohort_retention GROUP BY 2""",
            ),
            Part(
                "tenant_usage_metering",
                lambda meter: meter.groupBy(F.col("tenant_id").alias("k"))
                .agg(
                    F.sum("n_events").cast("bigint").alias("n"),
                    F.round(
                        dsum("metered_value")
                        + F.pmod(F.sum("payload_bytes").cast("bigint"), F.lit(1000003))
                        + F.sum("active_users") * 13
                        + dsum("day_cost_share") * 1000,
                        6,
                    ).alias("val"),
                )
                .select(F.lit("meter").alias("kind"), "k", "n", "val"),
                f"""SELECT 'meter' AS kind, tenant_id AS k,
                       CAST(SUM(n_events) AS BIGINT) AS n,
                       ROUND({sql_dsum("metered_value")}
                             + (CAST(SUM(payload_bytes) AS BIGINT) % 1000003)
                             + SUM(active_users) * 13
                             + {sql_dsum("day_cost_share")} * 1000, 6) AS val
                FROM tenant_usage_metering GROUP BY 2""",
            ),
            Part(
                "tenant_usage_anomaly",
                lambda anom: anom.groupBy(F.col("tenant_id").alias("k"))
                .agg(
                    F.sum("n_events").cast("bigint").alias("n"),
                    F.round(
                        dsum(F.coalesce(F.col("z"), F.lit(0.0)))
                        + 1000 * F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0)),
                        6,
                    ).alias("val"),
                )
                .select(F.lit("anomaly").alias("kind"), "k", "n", "val"),
                f"""SELECT 'anomaly' AS kind, tenant_id AS k,
                       CAST(SUM(n_events) AS BIGINT) AS n,
                       ROUND({sql_dsum("COALESCE(z, 0)")}
                             + 1000 * SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END),
                             6) AS val
                FROM tenant_usage_anomaly GROUP BY 2""",
            ),
        ),
    ),
    Slot(
        "dedup_family_pack",
        ("B10", "dedup", "pack"),
        "Dedup family pack — one graded slot covering five §2 rows: the "
        "full MinHash-LSH pipeline (md5-portable hash mode, verified "
        "Jaccard in the val channel), portable SimHash signatures (every "
        "60-bit signature checksummed), blocked-Levenshtein near-dup pairs "
        "(per-distance counts + pair-key checksums), PPJoin prefix-filtered "
        "exact-Jaccard pairs (counts + decimal-exact similarity sums), and "
        "canonical-survivor selection (every cluster's size, kept doc, and "
        "kept score).",
        (
            Part(
                "dedup_minhash_portable",
                lambda mh: mh.select(
                    F.lit("minhash").alias("kind"),
                    F.concat_ws(
                        ":", F.col("id_a").cast("string"), F.col("id_b").cast("string")
                    ).alias("k"),
                    F.lit(0).cast("long").alias("n"),
                    F.col("jaccard").alias("val"),
                ),
                """SELECT 'minhash' AS kind,
                       concat_ws(':', CAST(id_a AS VARCHAR),
                                 CAST(id_b AS VARCHAR)) AS k,
                       CAST(0 AS BIGINT) AS n, jaccard AS val
                FROM dedup_minhash_portable""",
            ),
            Part(
                "dedup_simhash_portable",
                lambda sim: sim.groupBy((F.col("doc_id") % 8).cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("simhash") % 1000003).cast("double").alias("val"),
                )
                .select(F.lit("simhash").alias("kind"), "k", "n", "val"),
                """SELECT 'simhash' AS kind, CAST(doc_id % 8 AS VARCHAR) AS k,
                       COUNT(*) AS n, CAST(SUM(simhash % 1000003) AS DOUBLE) AS val
                FROM dedup_simhash_portable GROUP BY 2""",
            ),
            Part(
                "dedup_fuzzy_levenshtein",
                lambda lev: lev.groupBy(
                    F.concat(F.lit("d"), F.col("dist").cast("string")).alias("k")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("id_a") * 211 + F.col("id_b")) % 1000003)
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("lev").alias("kind"), "k", "n", "val"),
                """SELECT 'lev' AS kind, 'd' || CAST(dist AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       CAST(SUM((id_a * 211 + id_b) % 1000003) AS DOUBLE) AS val
                FROM dedup_fuzzy_levenshtein GROUP BY 2""",
            ),
            Part(
                "dedup_ngram_prefix",
                lambda pre: pre.groupBy((F.col("id_a") % 4).cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.round(dsum("jaccard"), 6).alias("val"),
                )
                .select(F.lit("ppjoin").alias("kind"), "k", "n", "val"),
                f"""SELECT 'ppjoin' AS kind, CAST(id_a % 4 AS VARCHAR) AS k,
                       COUNT(*) AS n, ROUND({sql_dsum("jaccard")}, 6) AS val
                FROM dedup_ngram_prefix GROUP BY 2""",
            ),
            Part(
                "dedup_select_canonical",
                lambda canon: canon.select(
                    F.lit("canon").alias("kind"),
                    F.col("cluster_id").cast("string").alias("k"),
                    F.col("n_members").alias("n"),
                    (F.col("keep_doc") + F.col("keep_score")).alias("val"),
                ),
                """SELECT 'canon' AS kind, CAST(cluster_id AS VARCHAR) AS k,
                       n_members AS n, keep_doc + keep_score AS val
                FROM dedup_select_canonical""",
            ),
        ),
    ),
    Slot(
        "r7_pack",
        ("B10", "multimodal", "sketch", "pack"),
        "Media/sketch pack — one graded slot covering four §2 rows: full "
        "JPEG decode (baseline even ids, progressive SOF2 odd ids → "
        "analytic aHash checksums per id bucket), lossless FLAC decode "
        "(envelope-hash checksums — exact, no tolerance), the KMV bottom-k "
        "sketch (every quantile/count estimate AND the oneshot≡merged "
        "exact-merge property), and the key-skew diagnostic (summary + "
        "hot-key shares).",
        (
            Part(
                "multimodal_jpeg_ahash",
                lambda jpeg: jpeg.groupBy((F.col("doc_id") % 8).cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (F.col("ahash") % 1000003) * 7
                        + F.col("first_bright_row") * 31
                        + F.col("progressive")
                    )
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("jpeg").alias("kind"), "k", "n", "val"),
                """SELECT 'jpeg' AS kind, CAST(doc_id % 8 AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       CAST(SUM((ahash % 1000003) * 7
                                + first_bright_row * 31 + progressive) AS DOUBLE) AS val
                FROM multimodal_jpeg_ahash GROUP BY 2""",
            ),
            Part(
                "multimodal_flac_envelope",
                lambda flac: flac.groupBy((F.col("doc_id") % 8).cast("string").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("envhash") % 1000003 + F.col("n_loud_frames"))
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("flac").alias("kind"), "k", "n", "val"),
                """SELECT 'flac' AS kind, CAST(doc_id % 8 AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       CAST(SUM(envhash % 1000003 + n_loud_frames) AS DOUBLE) AS val
                FROM multimodal_flac_envelope GROUP BY 2""",
            ),
            Part(
                "sketch_kmv_sample",
                lambda kmv: kmv.select(
                    F.lit("kmv").alias("kind"),
                    F.concat(F.col("kind"), F.lit(":"), F.col("stat")).alias("k"),
                    F.lit(1).cast("bigint").alias("n"),
                    F.col("est").alias("val"),
                ),
                """SELECT 'kmv' AS kind, sketch_kmv_sample.kind || ':' || stat AS k,
                       CAST(1 AS BIGINT) AS n, est AS val
                FROM sketch_kmv_sample""",
            ),
            Part(
                "ops_skew_report",
                lambda skew: skew.select(
                    F.lit("skew").alias("kind"),
                    F.concat(
                        F.col("kind"), F.lit(":"), F.coalesce(F.col("key"), F.lit("-"))
                    ).alias("k"),
                    F.col("n"),
                    F.round(
                        F.coalesce(F.col("mean_n"), F.lit(0.0))
                        + F.coalesce(F.col("share"), F.lit(0.0))
                        + F.coalesce(F.col("skew_ratio"), F.lit(0.0)),
                        6,
                    ).alias("val"),
                ),
                """SELECT 'skew' AS kind,
                       ops_skew_report.kind || ':' || COALESCE(key, '-') AS k,
                       n,
                       ROUND(COALESCE(mean_n, 0) + COALESCE(share, 0)
                             + COALESCE(skew_ratio, 0), 6) AS val
                FROM ops_skew_report""",
            ),
        ),
    ),
    Slot(
        "r6_pack2",
        ("B10", "pack"),
        "Crawl-pipeline pack — one graded slot covering four §2 rows: "
        "perceptual-hash image near-dup pairs (per-hamming counts + pair "
        "checksums), WARC ingest roundtrip (Content-Length sums + body md5 "
        "checksums), HTML-to-text extraction (byte sums + text md5 "
        "checksums), and URL canonicalization groups (variant counts + "
        "canonical-URL checksums).",
        (
            Part(
                "multimodal_image_ahash_dedup",
                lambda ah: ah.groupBy(
                    F.concat(F.lit("h"), F.col("hamming").cast("string")).alias("k")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("id_a") * 211 + F.col("id_b")) % 1000003)
                    .cast("double")
                    .alias("val"),
                )
                .select(F.lit("ahash").alias("kind"), "k", "n", "val"),
                """SELECT 'ahash' AS kind, 'h' || CAST(hamming AS VARCHAR) AS k,
                       COUNT(*) AS n,
                       CAST(SUM((id_a * 211 + id_b) % 1000003) AS DOUBLE) AS val
                FROM multimodal_image_ahash_dedup GROUP BY 2""",
            ),
            Part(
                "ingest_warc_roundtrip",
                lambda wc: wc.groupBy((F.col("doc_id") % 8).cast("string").alias("k"))
                .agg(
                    F.sum("content_length").alias("n"),
                    _md5_checksum(F.col("body_md5")).alias("val"),
                )
                .select(F.lit("warc").alias("kind"), "k", "n", "val"),
                """SELECT 'warc' AS kind, CAST(doc_id % 8 AS VARCHAR) AS k,
                       CAST(SUM(content_length) AS BIGINT) AS n,
                       CAST(SUM(CAST(('0x' || substr(body_md5, 1, 12)) AS BIGINT) % 1000003)
                            AS DOUBLE) AS val
                FROM ingest_warc_roundtrip GROUP BY 2""",
            ),
            Part(
                "text_html_extract",
                lambda hx: hx.groupBy((F.col("doc_id") % 8).cast("string").alias("k"))
                .agg(
                    F.sum("text_bytes").alias("n"),
                    _md5_checksum(F.col("text_md5")).alias("val"),
                )
                .select(F.lit("html").alias("kind"), "k", "n", "val"),
                """SELECT 'html' AS kind, CAST(doc_id % 8 AS VARCHAR) AS k,
                       CAST(SUM(text_bytes) AS BIGINT) AS n,
                       CAST(SUM(CAST(('0x' || substr(text_md5, 1, 12)) AS BIGINT) % 1000003)
                            AS DOUBLE) AS val
                FROM text_html_extract GROUP BY 2""",
            ),
            Part(
                "url_canonicalize_dedup",
                lambda uc: uc.groupBy((F.col("first_doc") % 16).cast("string").alias("k"))
                .agg(
                    F.sum("n_variants").alias("n"),
                    _md5_checksum(F.md5(F.col("curl"))).alias("val"),
                )
                .select(F.lit("url").alias("kind"), "k", "n", "val"),
                """SELECT 'url' AS kind, CAST(first_doc % 16 AS VARCHAR) AS k,
                       CAST(SUM(n_variants) AS BIGINT) AS n,
                       CAST(SUM(CAST(('0x' || substr(md5(curl), 1, 12)) AS BIGINT) % 1000003)
                            AS DOUBLE) AS val
                FROM url_canonicalize_dedup GROUP BY 2""",
            ),
        ),
    ),
    Slot(
        "r4_mgmt_pack",
        ("B10", "data-mgmt", "pack"),
        "Data-management pack — one graded slot covering four §2 rows: CDC "
        "diff per-change-type counts + key checksums, the k-anonymity "
        "generalization ladder, sliding rate-limit throttle counts, and "
        "Z-order coarse-bucket rectangle spans.",
        (
            Part(
                "table_cdc_diff",
                lambda cdc: cdc.groupBy(F.col("change_type").alias("k"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("o_orderkey") % 100003).cast("double").alias("val"),
                )
                .select(F.lit("cdc").alias("kind"), "k", "n", "val"),
                """SELECT 'cdc' AS kind, change_type AS k, COUNT(*) AS n,
                       CAST(SUM(o_orderkey % 100003) AS DOUBLE) AS val
                FROM table_cdc_diff GROUP BY change_type""",
            ),
            Part(
                "privacy_generalize_release",
                lambda gr: gr.select(
                    F.lit("priv").alias("kind"),
                    F.concat_ws("/", F.col("level").cast("string"), "qi").alias("k"),
                    F.col("group_n").alias("n"),
                    F.lit(0.0).alias("val"),
                ),
                """SELECT 'priv' AS kind, CAST(level AS VARCHAR) || '/' || qi AS k,
                       group_n AS n, 0.0 AS val
                FROM privacy_generalize_release""",
            ),
            Part(
                "tenant_rate_limit_sliding",
                lambda rl: rl.groupBy(
                    F.concat(F.lit("throttled_"), F.col("throttled").cast("string")).alias("k")
                )
                .agg(F.count(F.lit(1)).alias("n"), F.sum("n_1h").cast("double").alias("val"))
                .select(F.lit("rate").alias("kind"), "k", "n", "val"),
                """SELECT 'rate' AS kind, 'throttled_' || CAST(throttled AS VARCHAR) AS k,
                       COUNT(*) AS n, CAST(SUM(n_1h) AS DOUBLE) AS val
                FROM tenant_rate_limit_sliding GROUP BY 2""",
            ),
            Part(
                "lake_zorder_layout",
                lambda zl: zl.groupBy(F.shiftright(F.col("z_bucket"), 2).cast("string").alias("k"))
                .agg(
                    F.sum("n").alias("n"),
                    (
                        F.max("cust_hi") - F.min("cust_lo") + F.max("day_hi") - F.min("day_lo")
                    ).cast("double").alias("val"),
                )
                .select(F.lit("z").alias("kind"), "k", "n", "val"),
                """SELECT 'z' AS kind, CAST(z_bucket >> 2 AS VARCHAR) AS k,
                       CAST(SUM(n) AS BIGINT) AS n,
                       CAST(MAX(cust_hi) - MIN(cust_lo) + MAX(day_hi) - MIN(day_lo)
                            AS DOUBLE) AS val
                FROM lake_zorder_layout GROUP BY 2""",
            ),
        ),
    ),
    Slot(
        "r5_pack",
        ("B3", "B4", "B10", "privacy", "scale", "pack"),
        "Privacy/scale pack — one graded slot covering five §2 rows: "
        "skew-salted join aggregates (row-identical to the plain join), "
        "ε-DP noisy counts (every noisy value re-derived), keyed "
        "pseudonymization token counts, the equi-width histogram, and "
        "hard-negative top-5 per-anchor cosine checksums.",
        (
            Part(
                "join_skew_salted",
                lambda sk: sk.select(
                    F.lit("skew").alias("kind"),
                    F.col("event_type").alias("k"),
                    "n",
                    F.col("total").alias("val"),
                ),
                """SELECT 'skew' AS kind, event_type AS k, n, total AS val
                FROM join_skew_salted""",
            ),
            Part(
                "privacy_dp_counts",
                lambda dp: dp.select(
                    F.lit("dp").alias("kind"),
                    F.concat_ws("|", F.col("c_nationkey").cast("string"), "c_mktsegment").alias("k"),
                    F.lit(0).cast("long").alias("n"),
                    F.col("noisy_n").alias("val"),
                ),
                """SELECT 'dp' AS kind,
                       CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS k,
                       CAST(0 AS BIGINT) AS n, noisy_n AS val
                FROM privacy_dp_counts""",
            ),
            Part(
                "privacy_pseudonymize",
                lambda pn: pn.groupBy(F.col("c_mktsegment").alias("k"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit("pn").alias("kind"), "k", "n", F.lit(0.0).alias("val")),
                """SELECT 'pn' AS kind, c_mktsegment AS k, COUNT(*) AS n, 0.0 AS val
                FROM privacy_pseudonymize GROUP BY c_mktsegment""",
            ),
            Part(
                "agg_histogram_equiwidth",
                lambda hist: hist.select(
                    F.lit("hist").alias("kind"),
                    F.col("bucket").cast("string").alias("k"),
                    "n",
                    F.col("total").alias("val"),
                ),
                """SELECT 'hist' AS kind, CAST(bucket AS VARCHAR) AS k, n, total AS val
                FROM agg_histogram_equiwidth""",
            ),
            Part(
                "embedding_hard_negatives",
                lambda hn: hn.groupBy(F.col("anchor_id").cast("string").alias("k"))
                .agg(F.count(F.lit(1)).alias("n"), dsum("cosine").alias("val"))
                .select(F.lit("hn").alias("kind"), "k", "n", "val"),
                f"""SELECT 'hn' AS kind, CAST(anchor_id AS VARCHAR) AS k,
                       COUNT(*) AS n, {sql_dsum('cosine')} AS val
                FROM embedding_hard_negatives GROUP BY anchor_id""",
            ),
        ),
    ),
    Slot(
        "r5_pack2",
        ("B10", "B5", "saas", "pack"),
        "SaaS-analytics pack — one graded slot covering five §2 rows: BM25 "
        "top-20 (doc, rank, score), last-touch attribution channel totals, "
        "RFM segment rollup, unicode-normalization corpus checksums, and the "
        "top-20 PageRank nodes (exact fixed-point units).",
        (
            Part(
                "text_bm25_rank",
                lambda bm: bm.select(
                    F.lit("bm25").alias("kind"),
                    F.col("doc_id").cast("string").alias("k"),
                    F.col("rank").cast("long").alias("n"),
                    F.col("score").alias("val"),
                ),
                """SELECT 'bm25' AS kind, CAST(doc_id AS VARCHAR) AS k,
                       CAST(rank AS BIGINT) AS n, score AS val
                FROM text_bm25_rank""",
            ),
            Part(
                "attribution_last_touch",
                lambda at: at.select(
                    F.lit("attr").alias("kind"),
                    F.col("channel").alias("k"),
                    F.col("n_purchases").alias("n"),
                    F.col("revenue").alias("val"),
                ),
                """SELECT 'attr' AS kind, channel AS k, n_purchases AS n, revenue AS val
                FROM attribution_last_touch""",
            ),
            Part(
                "customer_rfm_segment",
                lambda rfm: rfm.groupBy(F.col("segment").alias("k"))
                .agg(F.count(F.lit(1)).alias("n"), dsum("monetary").alias("val"))
                .select(F.lit("rfm").alias("kind"), "k", "n", "val"),
                f"""SELECT 'rfm' AS kind, segment AS k, COUNT(*) AS n,
                       {sql_dsum('monetary')} AS val
                FROM customer_rfm_segment GROUP BY segment""",
            ),
            Part(
                "text_normalize_unicode",
                lambda norm: norm.agg(F.count(F.lit(1)).alias("n"), dsum("clean_len").alias("val"))
                .select(F.lit("norm").alias("kind"), F.lit("lens").alias("k"), "n", "val")
                .unionByName(
                    norm.agg(F.count_distinct("clean_md5").alias("n")).select(
                        F.lit("norm").alias("kind"),
                        F.lit("distinct").alias("k"),
                        "n",
                        F.lit(0.0).alias("val"),
                    )
                ),
                f"""SELECT 'norm' AS kind, 'lens' AS k, COUNT(*) AS n,
                       {sql_dsum('clean_len')} AS val
                FROM text_normalize_unicode
                UNION ALL
                SELECT 'norm', 'distinct', COUNT(DISTINCT clean_md5), 0.0
                FROM text_normalize_unicode""",
            ),
            Part(
                "graph_pagerank",
                lambda pr: pr.orderBy(F.col("rank_units").desc(), F.col("node_id").asc())
                .limit(20)
                .select(
                    F.lit("pr").alias("kind"),
                    F.col("node_id").cast("string").alias("k"),
                    F.col("rank_units").alias("n"),
                    F.col("rank").alias("val"),
                ),
                """SELECT 'pr' AS kind, CAST(node_id AS VARCHAR) AS k,
                       rank_units AS n, rank AS val
                FROM graph_pagerank
                ORDER BY rank_units DESC, node_id LIMIT 20""",
            ),
        ),
    ),
)

for _slot in PACKS:
    pack(_slot.name, _slot.parts, _slot.tags, _slot.doc)
