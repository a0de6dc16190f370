"""B10 [EXT] wave 2: corpus hygiene + reproducible sampling for LLM
training-data pipelines — PII scrubbing, Gopher-style rule cascade,
deterministic quota sampling / domain mixing / global shuffle-sharding,
and n-gram-level eval decontamination.

Every query here is fully oracle-backed: the operators are deliberately
built from content-stable hash arithmetic (md5) and the common
Java-regex/RE2 subset so DuckDB replicates them byte-identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.sampling import (
    domain_mix_resample,
    quota_sample,
    shuffle_shard,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.text import (
    gopher_rules,
    pii_redact,
)

# DuckDB twin of operators.dedup.normalize_text (see ext_llm._DUCK_NORM)
_DUCK_NORM = r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"

# Deterministic PII synthesis: the fixture corpus carries no real PII, so
# both engines append the same synthetic email/phone/IP per doc — the
# detector then has non-trivial work whose results must match exactly.
_DUCK_SYNTH = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com tel +1-555-' || "
    "lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0') || ' ip 10.' || "
    "CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id * 3 % 200 AS VARCHAR) || '.7'"
)


def _synth_pii(doc_id, text):
    return F.concat(
        text,
        F.lit(" Contact user"),
        doc_id.cast("string"),
        F.lit("@example.com tel +1-555-"),
        F.lpad(F.pmod(doc_id * 7919, F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        F.pmod(doc_id, F.lit(200)).cast("string"),
        F.lit("."),
        F.pmod(doc_id * 3, F.lit(200)).cast("string"),
        F.lit(".7"),
    )


@register(
    "text_pii_redact",
    oracle=f"""
        WITH synth AS (
            SELECT doc_id, {_DUCK_SYNTH} AS s FROM documents),
        counted AS (
            SELECT doc_id, s,
                   len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
                   len(regexp_extract_all(s, '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}')) AS n_phone,
                   len(regexp_extract_all(s, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b')) AS n_ipv4
            FROM synth)
        SELECT doc_id, n_email, n_phone, n_ipv4,
               md5(regexp_replace(regexp_replace(regexp_replace(s,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                       '\\+[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{4}}', '<PHONE>', 'g'),
                       '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '<IPV4>', 'g')) AS redacted_md5
        FROM counted
        ORDER BY doc_id
    """,
    tags=("B10",),
    doc="PII scrubbing (operators.text.pii_redact): detect + redact "
    "emails/phones/IPv4s with placeholder tokens. PII is synthesized "
    "deterministically per doc (the fixtures carry none), counts are "
    "checked per pattern and the redacted text md5 byte-compared. Narrow "
    "projection, no shuffle — scrubbing 100 TB runs at scan speed.",
)
def text_pii_redact(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    synth = d.select("doc_id", _synth_pii(F.col("doc_id"), F.col("text")).alias("s"))
    out = pii_redact(synth, text_col="s", out_col="redacted")
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5("redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "text_gopher_rules",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, text, string_split({_DUCK_NORM}, ' ') AS ws FROM documents),
        feats AS (
            SELECT doc_id, text, ws,
                   CASE WHEN len(ws) = 1 AND ws[1] = '' THEN 0 ELSE len(ws) END AS n
            FROM toks),
        rules AS (
            SELECT doc_id,
                   n BETWEEN 50 AND 100000 AS rule_word_count,
                   (CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
                        / GREATEST(n, 1)) BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
                   CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
                        / GREATEST(n, 1) >= 0.8 AS rule_alpha_ratio,
                   len(list_intersect(list_distinct(ws),
                       ['the','a','and','of','to','in','is','it','that','for'])) >= 2
                       AS rule_stopwords,
                   CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
                        / GREATEST(n, 1) <= 0.1 AS rule_symbol_ratio
            FROM feats)
        SELECT doc_id, rule_word_count, rule_mean_word_len, rule_alpha_ratio,
               rule_stopwords, rule_symbol_ratio,
               (rule_word_count AND rule_mean_word_len AND rule_alpha_ratio
                AND rule_stopwords AND rule_symbol_ratio) AS gopher_keep
        FROM rules
        ORDER BY doc_id
    """,
    tags=("B10",),
    doc="Gopher-style heuristic quality cascade (operators.text."
    "gopher_rules): five document-level rules (token count, mean word "
    "length, alpha-token ratio, stopword presence, symbol ratio) with "
    "per-rule booleans + the conjunctive keep gate — the standard "
    "pre-model filter for web-scale corpora. One tokens projection, "
    "no shuffle.",
)
def text_gopher_rules(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return gopher_rules(d).select(
        "doc_id",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_alpha_ratio",
        "rule_stopwords",
        "rule_symbol_ratio",
        "gopher_keep",
    ).orderBy("doc_id")


@register(
    "llm_source_quota_sample",
    oracle="""
        WITH ranked AS (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota-seed-7'), doc_id)
                       AS sample_rank
            FROM documents)
        SELECT source, doc_id, sample_rank
        FROM ranked WHERE sample_rank <= 40
        ORDER BY source, sample_rank
    """,
    tags=("B10",),
    doc="Fixed-size deterministic per-source sample (operators.sampling."
    "quota_sample): exactly min(40, |source|) docs per source, chosen by "
    "md5 hash rank — content-stable across runs/engines/partitioning, "
    "unlike df.sample. The 100 TB path pre-filters with a hash-bucket cut "
    "before ranking (see operator docstring).",
)
def llm_source_quota_sample(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        quota_sample(d, group_col="source", n=40, id_col="doc_id", salt=":quota-seed-7")
        .select("source", "doc_id", "sample_rank")
        .orderBy("source", "sample_rank")
    )


@register(
    "llm_domain_mix_resample",
    oracle="""
        WITH cnt AS (SELECT source, COUNT(*) AS group_total FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(group_total) AS BIGINT) AS total, COUNT(*) AS k FROM cnt),
        dims AS (
            SELECT source, group_total,
                   CAST(FLOOR(LEAST(1.0, (1.0 / k) * CAST(total AS DOUBLE)
                        / CAST(group_total AS DOUBLE)) * 10000) AS BIGINT) AS rate_bp
            FROM cnt CROSS JOIN tot),
        kept AS (
            SELECT d.source
            FROM documents d JOIN dims USING (source)
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix-seed-3'), 1, 4))
                       AS INTEGER) % 10000 < rate_bp)
        SELECT dims.source,
               CAST(dims.group_total AS BIGINT) AS group_total,
               dims.rate_bp,
               COALESCE(k.n_kept, 0) AS n_kept
        FROM dims
        LEFT JOIN (SELECT source, COUNT(*) AS n_kept FROM kept GROUP BY source) k
               ON dims.source = k.source
        ORDER BY dims.source
    """,
    tags=("B10",),
    doc="Domain mixing (operators.sampling.domain_mix_resample): "
    "downsample over-represented sources toward a uniform mixture via "
    "per-source acceptance rates applied as a deterministic hash-bucket "
    "cut (rate quantized to 1/10000). Plan: tiny groupBy for counts -> "
    "broadcast rate dim -> narrow filter; no extra full-data shuffle.",
)
def llm_domain_mix_resample(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    kept = domain_mix_resample(
        d, group_col="source", id_col="doc_id", salt=":mix-seed-3"
    )
    return (
        kept.groupBy("source", "group_total", "rate_bp")
        .agg(F.count("*").alias("n_kept"))
        .select("source", "group_total", "rate_bp", "n_kept")
        .orderBy("source")
    )


@register(
    "llm_shuffle_shard",
    oracle="""
        WITH sharded AS (
            SELECT doc_id, n_chars,
                   md5(CAST(doc_id AS VARCHAR) || ':shard-seed-13') AS shuffle_key,
                   CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard-seed-13'), 1, 4))
                        AS INTEGER) % 8 AS BIGINT) AS shard
            FROM documents)
        SELECT shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               arg_min(doc_id, shuffle_key) AS lead_doc
        FROM sharded
        GROUP BY shard
        ORDER BY shard
    """,
    tags=("B10",),
    doc="Deterministic global shuffle + sharding (operators.sampling."
    "shuffle_shard): every doc gets a shard in [0,8) and a content-stable "
    "shuffle key defining the within-shard order — the reproducible "
    "'globally shuffled, shard-local sorted' training layout (one shuffle "
    "regardless of cluster size). Checked via per-shard stats + the "
    "hash-order lead doc.",
)
def llm_shuffle_shard(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    sharded = shuffle_shard(d, id_col="doc_id", n_shards=8, salt=":shard-seed-13")
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min_by("doc_id", "shuffle_key").alias("lead_doc"),
        )
        .orderBy("shard")
    )


@register(
    "llm_ngram_decontaminate",
    oracle=f"""
        WITH tr_toks AS (
            SELECT doc_id, string_split({_DUCK_NORM}, ' ') AS ws FROM documents),
        tr_sh AS (
            SELECT doc_id AS train_doc,
                   list_distinct(CASE WHEN len(ws) >= 8
                        THEN list_transform(generate_series(1, len(ws) - 7),
                                            i -> array_to_string(ws[i:i+7], ' '))
                        ELSE [array_to_string(ws, ' ')] END) AS grams
            FROM tr_toks),
        train AS (SELECT train_doc, unnest(grams) AS g FROM tr_sh),
        eval_raw AS (
            SELECT doc_id + 500000 AS eval_id, substr(text, 21, 400) AS text
            FROM documents WHERE doc_id % 11 = 3
            UNION ALL
            SELECT doc_id + 900000 AS eval_id,
                   'benchmark probe ' || CAST(doc_id AS VARCHAR) || ' asks about topic '
                       || CAST(doc_id * 17 AS VARCHAR) AS text
            FROM documents WHERE doc_id % 13 = 5),
        ev_toks AS (
            SELECT eval_id, string_split({_DUCK_NORM}, ' ') AS ws FROM eval_raw),
        ev_sh AS (
            SELECT eval_id,
                   list_distinct(CASE WHEN len(ws) >= 8
                        THEN list_transform(generate_series(1, len(ws) - 7),
                                            i -> array_to_string(ws[i:i+7], ' '))
                        ELSE [array_to_string(ws, ' ')] END) AS grams
            FROM ev_toks),
        evg AS (SELECT eval_id, unnest(grams) AS g FROM ev_sh)
        SELECT e.eval_id,
               COUNT(DISTINCT e.g) AS n_shared_grams,
               COUNT(DISTINCT t.train_doc) AS n_train_docs
        FROM evg e JOIN train t ON e.g = t.g
        GROUP BY e.eval_id
        ORDER BY e.eval_id
    """,
    tags=("B10",),
    doc="N-gram-level eval decontamination (the GPT-3-style 8-gram overlap "
    "check, stronger than llm_decontaminate's exact-hash form): flag eval "
    "docs sharing any word 8-gram with the training corpus. The eval set "
    "mixes corpus-derived substrings (contaminated) with synthetic probes "
    "(clean). Plan: both sides explode to distinct grams, equi-join on the "
    "gram, two count-distinct aggs — at 100 TB the join key becomes "
    "md5(gram) (16 bytes, never ship document text through the shuffle).",
)
def llm_ngram_decontaminate(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        with_shingle_col,
    )

    d = t(spark, sf_dir, "documents")
    train = (
        with_shingle_col(d, "text", k=8, out="__g")
        .select(F.col("doc_id").alias("train_doc"), F.explode("__g").alias("g"))
    )
    eval_raw = d.where(F.pmod("doc_id", F.lit(11)) == 3).select(
        (F.col("doc_id") + 500000).alias("eval_id"),
        F.substring("text", 21, 400).alias("text"),
    ).unionByName(
        d.where(F.pmod("doc_id", F.lit(13)) == 5).select(
            (F.col("doc_id") + 900000).alias("eval_id"),
            F.concat(
                F.lit("benchmark probe "),
                F.col("doc_id").cast("string"),
                F.lit(" asks about topic "),
                (F.col("doc_id") * 17).cast("string"),
            ).alias("text"),
        )
    )
    evg = (
        with_shingle_col(eval_raw, "text", k=8, out="__g")
        .select("eval_id", F.explode("__g").alias("g"))
    )
    return (
        evg.join(train, "g")
        .groupBy("eval_id")
        .agg(
            F.countDistinct("g").alias("n_shared_grams"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
        .orderBy("eval_id")
    )


@register(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, substr({_DUCK_NORM}, 1, 32) AS title FROM documents),
        b AS (
            SELECT doc_id, title,
                   substr(title, 1, 6) || ':' ||
                       CAST(CAST(floor(length(title) / 4) AS BIGINT) AS VARCHAR) AS bk
            FROM t)
        SELECT a.doc_id AS id_a, c.doc_id AS id_b,
               levenshtein(a.title, c.title) AS dist
        FROM b a JOIN b c ON a.bk = c.bk AND a.doc_id < c.doc_id
        WHERE levenshtein(a.title, c.title) <= 3
        ORDER BY id_a, id_b
    """,
    tags=("B10",),
    doc="Edit-distance (Levenshtein) near-dup pairs over normalized title "
    "prefixes — the typo/suffix-variant modality MinHash/SimHash/Jaccard "
    "don't target. Blocked self-join (prefix + length-bucket key) keeps "
    "the exact distance computation inside blocks instead of all-pairs; "
    "the blocking recall trade is documented on the operator "
    "(operators.dedup.fuzzy_levenshtein_pairs).",
)
def dedup_fuzzy_levenshtein(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        fuzzy_levenshtein_pairs,
    )

    d = t(spark, sf_dir, "documents")
    return fuzzy_levenshtein_pairs(d)


@register(
    "text_chunk_split",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split({_DUCK_NORM}, ' ') AS ws FROM documents),
        starts AS (
            SELECT doc_id, ws,
                   unnest(generate_series(0, GREATEST(len(ws) - 1, 0), 48)) AS s
            FROM toks)
        SELECT doc_id,
               CAST(s / 48 AS BIGINT) AS chunk_id,
               len(ws[s + 1 : s + 64]) AS n_chunk_tokens,
               md5(array_to_string(ws[s + 1 : s + 64], ' ')) AS chunk_md5
        FROM starts
        ORDER BY doc_id, chunk_id
    """,
    tags=("B10",),
    doc="Overlapping fixed-token chunking (operators.text.chunk_documents, "
    "64-token chunks / 16 overlap → stride 48): the training/RAG sequence-"
    "construction step. Chunk text is md5'd for hash parity; counts and "
    "positional chunk ids compared exactly. Narrow sequence+explode "
    "fan-out, zero shuffle.",
)
def text_chunk_split(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.text import (
        chunk_documents,
    )

    d = t(spark, sf_dir, "documents")
    return (
        chunk_documents(d, chunk_tokens=64, overlap=16)
        .select(
            "doc_id",
            "chunk_id",
            "n_chunk_tokens",
            F.md5("chunk_text").alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def _minhash_oracle_sql(num_hashes: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    """DuckDB twin of the ENTIRE portable MinHash-LSH pipeline — same
    md5-derived shingle hashes, same (a,b) permutation constants, same
    band hashing, same exact-Jaccard verification."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        _P,
        _perm_constants,
    )

    consts = _perm_constants(num_hashes)
    r = num_hashes // bands
    mins = ",\n                   ".join(
        f"MIN(({a} * hh + {b}) % {_P}) AS mh{j}" for j, (a, b) in enumerate(consts)
    )
    band_selects = "\n            UNION ALL\n            ".join(
        "SELECT doc_id, {idx} AS band_idx, md5({cc}) AS bh FROM sig".format(
            idx=b,
            cc=" || ',' || ".join(
                f"CAST(mh{i} AS VARCHAR)" for i in range(b * r, (b + 1) * r)
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split({_DUCK_NORM}, ' ') AS ws FROM documents),
        sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(ws) >= 3
                        THEN list_transform(generate_series(1, len(ws) - 2),
                                            i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))
                        ELSE [concat_ws(' ', ws)] END) AS shingles
            FROM toks),
        inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {_P} AS hh
            FROM inv),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM h GROUP BY doc_id),
        bands AS (
            {band_selects}),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id),
        verified AS (
            SELECT c.id_a, c.id_b,
                   ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                         / (len(sa.shingles) + len(sb.shingles)
                            - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b)
        SELECT id_a, id_b, jaccard FROM verified
        WHERE jaccard >= {threshold}
        ORDER BY id_a, id_b
    """


@register(
    "dedup_minhash_portable",
    oracle=_minhash_oracle_sql(),
    tags=("B10",),
    doc="The FULL MinHash-LSH pipeline, oracle-verified hash-for-hash: "
    "portable mode swaps xxhash64 for md5-derived hashes (shingle hash "
    "and band hash) so DuckDB replicates signatures, banding, candidate "
    "generation and exact-Jaccard verification exactly — upgrading the "
    "flagship near-dup operator from recall-property-tested to "
    "value-equal. k=16 permutations, 4 bands x 4 rows, tau=0.5. The "
    "bench/production path keeps xxhash64 (dedup_minhash_lsh, ~2x "
    "cheaper per shingle); both share every line of the plan "
    "(operators.dedup.minhash_near_duplicates(portable=True)).",
)
def dedup_minhash_portable(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        minhash_near_duplicates,
    )

    d = t(spark, sf_dir, "documents")
    res = minhash_near_duplicates(
        d, num_hashes=16, bands=4, jaccard_threshold=0.5, portable=True,
    )
    out = res.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")
    return out


@register(
    "embedding_quality_stats",
    oracle="""
        WITH norms AS (
            SELECT label,
                   len(embedding) AS dim,
                   ROUND(sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm
            FROM embeddings)
        SELECT label,
               COUNT(*) AS n_vecs,
               COUNT(DISTINCT dim) AS n_dims,
               CAST(MIN(dim) AS BIGINT) AS min_dim,
               COUNT(*) FILTER (WHERE norm = 0) AS n_zero,
               ROUND(CAST(SUM(CAST(norm AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_norm,
               ROUND(MIN(norm), 6) AS min_norm,
               ROUND(MAX(norm), 6) AS max_norm
        FROM norms
        GROUP BY label
        ORDER BY label
    """,
    tags=("B10",),
    doc="Embedding QA stats per label — the vector-hygiene gate before an "
    "ANN index build: dimension consistency (n_dims must be 1), zero-"
    "vector count (break cosine), norm distribution (detect unnormalized "
    "or degenerate batches). Per-vector norms are deterministic (fixed "
    "in-array order); the cross-row mean uses the decimal-sum trick. One "
    "narrow projection + one groupBy — scan-speed at any scale.",
)
def embedding_quality_stats(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norms = e.select(
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq), 6).alias("norm"),
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.countDistinct("dim").alias("n_dims"),
            F.min("dim").cast("long").alias("min_dim"),
            F.count(F.when(F.col("norm") == 0, 1)).alias("n_zero"),
            F.round(
                F.sum(F.col("norm").cast("decimal(38,12)")).cast("double") / F.count("*"), 6
            ).alias("mean_norm"),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


def _simhash_oracle_sql(bits: int = 60) -> str:
    """DuckDB twin of the portable SimHash: same md5-derived token hash,
    same per-bit votes, same positive-vote signature assembly."""
    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (hh >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split({_DUCK_NORM}, ' '))) AS tok
            FROM documents),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hh
            FROM toks),
        votes AS (
            SELECT doc_id,
                   {votes}
            FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
        FROM votes
        ORDER BY doc_id
    """


@register(
    "dedup_simhash_portable",
    oracle=_simhash_oracle_sql(),
    tags=("B10",),
    doc="SimHash signatures verified value-for-value: the portable mode "
    "(operators.dedup.simhash_portable) derives 60-bit token hashes from "
    "md5 so DuckDB reproduces every per-bit vote and the assembled "
    "signature exactly — same upgrade as dedup_minhash_portable. The "
    "xxhash64 64-bit fast path (dedup_simhash) remains the bench/"
    "production form, locality-property-tested.",
)
def dedup_simhash_portable(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        simhash_portable,
    )

    d = t(spark, sf_dir, "documents")
    return simhash_portable(d).orderBy("doc_id")


@register(
    "llm_corpus_prep_v2",
    oracle=f"""
        WITH norm AS (
            SELECT doc_id, source, text, n_chars,
                   {_DUCK_NORM} AS ntext,
                   string_split({_DUCK_NORM}, ' ') AS ws
            FROM documents),
        qual AS (
            SELECT doc_id FROM norm
            WHERE n_chars BETWEEN 100 AND 2000
              AND len(ws) >= 20
              AND CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
                  / GREATEST(length(text), 1) < 0.1
              AND CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
                  / GREATEST(len(ws), 1) BETWEEN 2.0 AND 12.0),
        survivors AS (
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        eval_h AS (
            SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 7 = 0),
        langs AS (
            SELECT doc_id,
                   len(list_intersect(list_distinct(ws),
                       ['the','a','and','of','to','in','is','it','that','for'])) AS s_en,
                   len(list_intersect(list_distinct(ws),
                       ['der','die','das','und','ist','ein','eine','zu','den','von'])) AS s_de,
                   len(list_intersect(list_distinct(ws),
                       ['el','la','de','que','y','en','un','una','los','por'])) AS s_es,
                   len(list_intersect(list_distinct(ws),
                       ['le','la','de','et','un','une','les','des','est','pour'])) AS s_fr
            FROM norm),
        en_docs AS (
            SELECT doc_id FROM langs
            WHERE GREATEST(s_de, s_en, s_es, s_fr) > 0
              AND s_en = GREATEST(s_de, s_en, s_es, s_fr) AND s_de < s_en),
        kept AS (
            SELECT n.doc_id, n.source, n.ws FROM norm n
            JOIN qual USING (doc_id)
            JOIN survivors USING (doc_id)
            JOIN en_docs USING (doc_id)
            WHERE md5(n.text) NOT IN (SELECT h FROM eval_h)),
        chunks AS (
            SELECT doc_id, source,
                   CAST(s / 48 AS BIGINT) AS chunk_id,
                   len(ws[s + 1 : s + 64]) AS n_toks
            FROM (SELECT doc_id, source, ws,
                         unnest(generate_series(0, GREATEST(len(ws) - 1, 0), 48)) AS s
                  FROM kept)),
        packed AS (
            SELECT doc_id, source, chunk_id, n_toks,
                   CAST(FLOOR((SUM(n_toks) OVER (PARTITION BY source
                        ORDER BY doc_id, chunk_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks)
                        / 2048) AS BIGINT) AS seq_bin,
                   CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                             || CAST(chunk_id AS VARCHAR) || ':prep2-seed'), 1, 4))
                             AS INTEGER) % 100 < 90 THEN 'train' ELSE 'val' END AS split
            FROM chunks)
        SELECT source, split, seq_bin,
               COUNT(*) AS n_chunks,
               CAST(SUM(n_toks) AS BIGINT) AS bin_tokens
        FROM packed
        GROUP BY source, split, seq_bin
        ORDER BY source, split, seq_bin
    """,
    tags=("B10",),
    doc="Corpus-prep flagship v2 — the r4 pipeline end-to-end in ONE "
    "declarative plan: composite quality gate -> exact-dedup survivors "
    "(min-id per content hash) -> eval decontamination (hash anti-join) "
    "-> English language gate (stopword argmax, strict de<en tie rule) "
    "-> 64/16 overlapping chunking -> next-fit 2048-token sequence "
    "packing per source -> deterministic 90/10 train/val split per "
    "chunk. Every stage is a projection, hash semi/anti-join, or one "
    "keyed window — the whole pipeline is THREE shuffles (dedup "
    "group, decontam join, pack window+final agg share the source "
    "key) regardless of corpus size.",
)
def llm_corpus_prep_v2(spark, sf_dir):
    from pyspark.sql import Window as W

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import tokens
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.text import (
        chunk_documents,
        language_id,
        quality_features,
    )

    d = t(spark, sf_dir, "documents")
    qual = quality_features(d).where(
        F.col("n_chars").between(100, 2000)
        & (F.col("n_tokens") >= 20)
        & (F.col("punct_ratio") < 0.1)
        & F.col("mean_word_len").between(2.0, 12.0)
    ).select("doc_id")
    survivors = d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    eval_h = d.where(F.pmod("doc_id", F.lit(7)) == 0).select(F.md5("text").alias("h")).distinct()
    en_docs = language_id(d).where(F.col("pred_lang") == "en").select("doc_id")
    kept = (
        d.join(qual, "doc_id")
        .join(survivors, "doc_id")
        .join(en_docs, "doc_id")
        .join(eval_h, F.md5(d["text"]) == F.col("h"), "left_anti")
        .select("doc_id", "source", "text")
    )
    chunks = chunk_documents(kept, chunk_tokens=64, overlap=16).join(
        kept.select("doc_id", "source"), "doc_id"
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("chunk_id").cast("string"),
                        F.lit(":prep2-seed"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    packed = chunks.select(
        "source",
        "doc_id",
        "chunk_id",
        F.col("n_chunk_tokens").alias("n_toks"),
        F.floor(
            (F.sum("n_chunk_tokens").over(w) - F.col("n_chunk_tokens")) / 2048
        ).cast("long").alias("seq_bin"),
        F.when(bucket < 90, "train").otherwise("val").alias("split"),
    )
    return (
        packed.groupBy("source", "split", "seq_bin")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_toks").cast("long").alias("bin_tokens"),
        )
        .orderBy("source", "split", "seq_bin")
    )


def _canonical_oracle() -> str:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import (
        REGISTRY,
        ext_llm,  # noqa: F401 — registers the component queries
    )

    clusters = REGISTRY["dedup_clusters_resolve"].oracle
    scores = REGISTRY["text_quality_model_score"].oracle
    return f"""
        SELECT cluster_id,
               COUNT(*) AS n_members,
               arg_max(node_id, quality_score + 1.0 / (1000.0 + node_id)) AS keep_doc,
               ROUND(MAX(quality_score), 6) AS keep_score
        FROM ({clusters}) c
        JOIN ({scores}) s ON s.doc_id = c.node_id
        GROUP BY cluster_id
        ORDER BY cluster_id
    """


@register(
    "dedup_select_canonical",
    oracle=_canonical_oracle(),
    tags=("B10",),
    doc="Canonical-survivor selection: near-dup clusters keep their "
    "HIGHEST-QUALITY member (model quality score, id-decay tiebreak "
    "toward the lower doc_id), not the arbitrary min-id - the policy "
    "that actually matters when deduping a training corpus. Composes "
    "cluster resolution (recursive-CTE oracle) with the quality model; "
    "one keyed argmax over the cluster id.",
)
def dedup_select_canonical(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.text import (
        quality_model_score,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    clusters = dedup_clusters(ngram_jaccard_pairs(d, threshold=0.2))
    scored = quality_model_score(d).select("doc_id", "quality_score")
    member = clusters.join(scored, clusters.node_id == scored.doc_id).select(
        "cluster_id", "node_id", "quality_score"
    )
    pref = F.col("quality_score") + 1.0 / (1000.0 + F.col("node_id"))
    return (
        member.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max_by("node_id", pref).alias("keep_doc"),
            F.round(F.max("quality_score"), 6).alias("keep_score"),
        )
        .orderBy("cluster_id")
    )


@register(
    "multimodal_ppm_decode",
    oracle="""
        WITH img AS (
            SELECT doc_id,
                   doc_id % 9 AS k_r,
                   (doc_id * 3) % 9 AS k_g,
                   (doc_id * 5) % 9 AS k_b
            FROM documents WHERE doc_id < 100)
        SELECT doc_id,
               TRUE AS decoded,
               CAST(4 AS BIGINT) AS w,
               CAST(2 AS BIGINT) AS h,
               CAST(k_r AS DOUBLE) / 8 AS mean_r,
               CAST(k_g AS DOUBLE) / 8 AS mean_g,
               CAST(k_b AS DOUBLE) / 8 AS mean_b
        FROM img
        ORDER BY doc_id
    """,
    tags=("B10",),
    doc="REAL image decode, oracle-checked: a 4x2 ascii PPM (P3) is "
    "synthesized per doc — channel c has (doc_id * {{1,3,5}}) % 9 white "
    "pixels — the payload goes through the actual numpy PPM parser "
    "(operators.multimodal.decode_ppm) inside the Arrow mapInPandas "
    "path, and the oracle states the channel means the decoder must "
    "recover. Means are eighths (exactly representable in float32), so "
    "the decode is compared value-equal, not approximately.",
)
def multimodal_ppm_decode(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,  # noqa: F401 — documents the canonical shape
        extract_features,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    pos = F.sequence(F.lit(0), F.lit(7))
    def chan(mult):
        k = F.pmod(F.col("doc_id") * mult, F.lit(9))
        return k
    px = F.transform(
        pos,
        lambda i: F.concat_ws(
            " ",
            F.when(i < chan(1), F.lit("255")).otherwise(F.lit("0")),
            F.when(i < chan(3), F.lit("255")).otherwise(F.lit("0")),
            F.when(i < chan(5), F.lit("255")).otherwise(F.lit("0")),
        ),
    )
    payload = F.encode(
        F.concat(F.lit("P3\n4 2\n255\n"), F.array_join(px, " ")), "utf-8"
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.lit(None)
        .cast("struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>")
        .alias("meta"),
    )
    feats = extract_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "decoded",
        F.round(F.element_at("feature", 1) * 10000, 0).cast("long").alias("w"),
        F.round(F.element_at("feature", 2) * 10000, 0).cast("long").alias("h"),
        F.element_at("feature", 3).cast("double").alias("mean_r"),
        F.element_at("feature", 4).cast("double").alias("mean_g"),
        F.element_at("feature", 5).cast("double").alias("mean_b"),
    ).orderBy("doc_id")


# 44-byte PCM WAV header: mono, 16-bit, 8000 Hz, 8 samples (16 data bytes)
_WAV_HDR_HEX = (
    "524946463400000057415645666D7420100000000100010040"
    "1F0000803E0000020010006461746110000000"
)


@register(
    "multimodal_wav_decode",
    oracle="""
        WITH sig AS (
            SELECT doc_id,
                   len(list_filter(generate_series(0, 7),
                       i -> (doc_id >> i) & 1 = 1)) AS n_plus
            FROM documents WHERE doc_id < 100)
        SELECT doc_id,
               TRUE AS decoded,
               CAST(8000 AS BIGINT) AS sample_rate,
               CAST(8 AS BIGINT) AS n_samples,
               CAST(n_plus AS DOUBLE) / 16 - CAST(8 - n_plus AS DOUBLE) / 16 AS mean_amp,
               0.5 AS rms,
               CASE WHEN n_plus = 8 THEN 0.5 ELSE -0.5 END AS min_amp,
               CASE WHEN n_plus = 0 THEN -0.5 ELSE 0.5 END AS max_amp
        FROM sig
        ORDER BY doc_id
    """,
    tags=("B10",),
    doc="REAL audio decode, oracle-checked (the WAV twin of "
    "multimodal_ppm_decode): an 8-sample 16-bit PCM WAV is synthesized "
    "per doc via unhex — sample i is +0.5 when bit i of doc_id is set, "
    "else -0.5 — decoded by the actual stdlib-wave parser inside the "
    "Arrow mapInPandas path, and the oracle states sample rate, count, "
    "mean, RMS and extremes the decoder must recover. All values are "
    "sixteenths, exactly representable in float32 → value-equal compare "
    "(zero-crossing rate, a /7 fraction, is deliberately excluded).",
)
def multimodal_wav_decode(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        extract_features,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    pos = F.sequence(F.lit(0), F.lit(7))
    samples = F.transform(
        pos,
        lambda i: F.when(
            F.col("doc_id").bitwiseAND(
                F.pow(F.lit(2.0), i.cast("double")).cast("long")
            )
            != 0,
            F.lit("0040"),  # +16384 little-endian
        ).otherwise(F.lit("00C0")),  # -16384
    )
    payload = F.unhex(F.concat(F.lit(_WAV_HDR_HEX), F.array_join(samples, "")))
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        payload.alias("payload"),
        F.lit(None)
        .cast("struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>")
        .alias("meta"),
    )
    feats = extract_features(media)
    return feats.select(
        F.col("media_id").alias("doc_id"),
        "decoded",
        F.round(F.element_at("feature", 1) * 100000, 0).cast("long").alias("sample_rate"),
        F.round(F.element_at("feature", 2) * 1000000, 0).cast("long").alias("n_samples"),
        F.element_at("feature", 3).cast("double").alias("mean_amp"),
        F.element_at("feature", 4).cast("double").alias("rms"),
        F.element_at("feature", 5).cast("double").alias("min_amp"),
        F.element_at("feature", 6).cast("double").alias("max_amp"),
    ).orderBy("doc_id")
