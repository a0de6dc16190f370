"""Round-6 session wave: queries added alongside the round-5 graded window.

Mirrors the conventions of wave_r5.py: every query is registered with a
DuckDB oracle unless fundamentally non-SQL, deterministic ordering with a
unique key suffix, decimal-exact double aggregates, and aliases matched
character-for-character between the Spark and SQL sides.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t

_DUCK_NORM = r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"


@register(
    "multimodal_png_decode",
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
    tags=("B10", "multimodal"),
    doc="REAL compressed-image decode, oracle-checked: a 4x2 RGB PNG "
    "(zlib IDAT, CRC'd chunk stream) is synthesized per doc — channel c "
    "has (doc_id * {1,3,5}) % 9 white pixels — the payload goes through "
    "the actual stdlib-zlib+numpy PNG parser "
    "(operators.multimodal.decode_png) inside the Arrow mapInPandas "
    "path, and the oracle states the channel means the decoder must "
    "recover (eighths, exactly representable — value-equal comparison). "
    "decoded=TRUE in the oracle pins that the real decode path ran, not "
    "the digest stub. Scanline-filter coverage (Sub/Up/Average/Paeth) "
    "and the other color types are exact-tested in "
    "tests/test_multimodal_png.py against an independent forward "
    "filter implementation.",
)
def multimodal_png_decode(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        extract_features,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100).select("doc_id")

    @F.pandas_udf("binary")
    def mk_png(doc_id: pd.Series) -> pd.Series:
        import numpy as np

        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
            encode_png,
        )

        out = []
        for did in doc_id:
            did = int(did)
            a = np.zeros((2, 4, 3), dtype=np.uint8)
            flat = a.reshape(8, 3)
            flat[: did % 9, 0] = 255
            flat[: (did * 3) % 9, 1] = 255
            flat[: (did * 5) % 9, 2] = 255
            out.append(encode_png(a))
        return pd.Series(out)

    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        mk_png("doc_id").alias("payload"),
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


# --- Bloom-filter decontamination (operators/bloom.py) ----------------------


@register(
    "llm_bloom_decontaminate",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split({_DUCK_NORM}, ' ') AS ws FROM documents),
        sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(ws) >= 8
                        THEN list_transform(generate_series(1, len(ws) - 7),
                                            i -> array_to_string(ws[i:i+7], ' '))
                        ELSE [array_to_string(ws, ' ')] END) AS grams
            FROM toks),
        bench_g AS (
            SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id % 17 = 0),
        positions AS (
            SELECT DISTINCT
                   CAST(('0x' || substr(md5('dc:' || CAST(i AS VARCHAR) || ':' || g),
                                        1, 13)) AS BIGINT) % 4096 AS pos
            FROM bench_g, generate_series(0, 2) t(i)),
        corpus_g AS (SELECT doc_id, unnest(grams) AS g FROM sh),
        ph AS (
            SELECT doc_id, g,
                   CAST(('0x' || substr(md5('dc:' || CAST(i AS VARCHAR) || ':' || g),
                                        1, 13)) AS BIGINT) % 4096 AS pos
            FROM corpus_g, generate_series(0, 2) t(i)),
        pm AS (
            SELECT doc_id, g,
                   COUNT(*) FILTER (WHERE pos IN (SELECT pos FROM positions)) = 3
                       AS maybe
            FROM ph GROUP BY doc_id, g),
        probed AS (
            SELECT p.doc_id, p.maybe, (b.g IS NOT NULL) AS hit
            FROM pm p LEFT JOIN bench_g b ON p.g = b.g)
        SELECT doc_id,
               COUNT(*) AS n_grams,
               COUNT(*) FILTER (WHERE maybe) AS maybe_hits,
               COUNT(*) FILTER (WHERE hit) AS true_hits,
               COUNT(*) FILTER (WHERE maybe) = 0 AS is_clean
        FROM probed
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("B10", "sketch"),
    doc="Bloom-filter decontamination prefilter, oracle-checked INCLUDING "
    "its false positives: an m=4096/k=3 filter is built over the "
    "benchmark docs' (doc_id % 17 = 0) distinct word 8-grams with "
    "md5-portable bit positions, every corpus 8-gram is probed through "
    "the zero-shuffle broadcast form, and per doc the query reports "
    "total/maybe/true hit counts. maybe >= true always (one-sided "
    "error); the exact join runs only as the verification tail — the "
    "100 TB shape where the sketch gates the shuffle. DuckDB rebuilds "
    "the identical filter, so a single drifted bit position fails the "
    "hash.",
)
def llm_bloom_decontaminate(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.bloom import (
        build_bloom,
        with_bloom_membership,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        with_shingle_col,
    )

    d = t(spark, sf_dir, "documents")
    sh = with_shingle_col(d, "text", k=8, out="__grams")
    grams = sh.select("doc_id", F.explode("__grams").alias("g"))
    bench = grams.where(F.col("doc_id") % 17 == 0).select("g").distinct()
    bloom = build_bloom(bench, "g", m_bits=4096, k=3, seed="dc")
    probed = with_bloom_membership(grams, "g", bloom, 4096, 3, "dc", out_col="maybe")
    hit = probed.join(bench.withColumn("__th", F.lit(1)), "g", "left")
    return (
        hit.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("maybe"), 1)).alias("maybe_hits"),
            F.count("__th").alias("true_hits"),
            (F.count(F.when(F.col("maybe"), 1)) == 0).alias("is_clean"),
        )
        .orderBy("doc_id")
    )


# --- portable HyperLogLog (operators/hll.py) --------------------------------


def _hll_oracle() -> str:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.hll import (
        hll_oracle_sql,
    )

    inner = hll_oracle_sql(
        "SELECT event_type, user_id FROM events",
        key_expr="user_id",
        group_expr="event_type",
        p=8,
        seed="hll",
    )
    return f"""
        WITH hll AS ({inner}),
        exact AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
            FROM events GROUP BY event_type)
        SELECT e.event_type, e.exact_distinct,
               h.registers_md5, h.n_empty, h.sum_units, h.hll_estimate
        FROM exact e JOIN hll h ON e.event_type = h.grp
        ORDER BY e.event_type
    """


@register(
    "sketch_hll_portable",
    oracle=_hll_oracle(),
    tags=("B4", "B10", "sketch"),
    doc="HyperLogLog distinct-count sketch, fully oracle-backed — the "
    "upgrade the count-min row's doc promised: md5-derived 52-bit "
    "hashes, p=8 registers built by one map-side-combined max-groupBy, "
    "the harmonic sum kept in exact integer units (order-independent), "
    "and the raw estimate emitted as ONE unrounded IEEE division. The "
    "oracle replays registers (md5 of the whole sketch), empty-bucket "
    "count, integer sum, and the estimate bit-for-bit; exact distincts "
    "ride along so the error is visible in the graded rows. Merge-by-max "
    "and duplicate-insensitivity are property-tested.",
)
def sketch_hll_portable(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.hll import (
        hll_registers,
        hll_summary,
    )

    ev = t(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ["event_type"], p=8, seed="hll")
    summ = hll_summary(regs, ["event_type"], p=8)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        exact.join(summ, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            "registers_md5",
            "n_empty",
            "sum_units",
            "hll_estimate",
        )
        .orderBy("event_type")
    )


# --- image near-dup via perceptual average-hash (operators/multimodal.py) ---

_AHASH_BIT_SQL = (
    "CASE WHEN j = 63 THEN -9223372036854775808 "
    "ELSE CAST(1 AS BIGINT) << j END"
)


@register(
    "multimodal_image_ahash_dedup",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS variant
            FROM documents WHERE doc_id < 200),
        g AS (
            SELECT doc_id, j,
                   (base * 37 + (32 * (j // 8) + 2 * (j % 8)) * 11
                    + CASE WHEN 32 * (j // 8) + 2 * (j % 8) < 2 * variant
                           THEN 128 ELSE 0 END) % 256 AS gv
            FROM docs, generate_series(0, 63) t(j)),
        m AS (
            SELECT doc_id, CAST(SUM(gv) AS BIGINT) // 64 AS mean
            FROM g GROUP BY doc_id),
        hashes AS (
            SELECT g.doc_id,
                   CAST(SUM(CASE WHEN gv > mean THEN {_AHASH_BIT_SQL}
                            ELSE 0 END) AS BIGINT) AS ahash
            FROM g JOIN m ON g.doc_id = m.doc_id
            GROUP BY g.doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.ahash, b.ahash)) AS hamming
            FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
        FROM pairs WHERE hamming <= 3
        ORDER BY id_a, id_b
    """,
    tags=("B10", "multimodal", "dedup"),
    doc="Image-level near-dup detection (the LAION-style corpus dedup "
    "primitive), end-to-end through REAL codecs: per doc a 16x16 "
    "grayscale PNG is synthesized from an integer formula (groups of 4 "
    "near-identical variants), encoded with the stdlib PNG writer, "
    "decoded back by the stdlib parser inside Arrow mapInPandas, and "
    "perceptually hashed (average-hash: integer gray, NN-subsample, "
    "floor-mean threshold). Candidate pairs come from an exact 16-bit "
    "band equi-join — complete for hamming <= 3 by pigeonhole, never "
    "all-pairs — and xor-popcount verifies. The oracle computes every "
    "expected hash bit ANALYTICALLY from the synthesis formula (it "
    "never sees a PNG byte), so a single decode or hash defect anywhere "
    "in the chain changes the pair set.",
)
def multimodal_image_ahash_dedup(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        ahash_near_duplicates,
        with_average_hash,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id")

    @F.pandas_udf("binary")
    def mk_png(doc_id: pd.Series) -> pd.Series:
        import numpy as np

        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
            encode_png,
        )

        out = []
        for did in doc_id:
            did = int(did)
            base, variant = did // 4, did % 4
            i = np.arange(256, dtype=np.int64)
            v = (base * 37 + i * 11 + np.where(i < 2 * variant, 128, 0)) % 256
            px = v.astype(np.uint8).reshape(16, 16, 1).repeat(3, axis=2)
            out.append(encode_png(px))
        return pd.Series(out)

    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        mk_png("doc_id").alias("payload"),
        F.lit(None)
        .cast("struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>")
        .alias("meta"),
    )
    hashes = with_average_hash(media)
    return (
        ahash_near_duplicates(hashes, max_hamming=3)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


# --- WARC ingest roundtrip (sources/warc.py) --------------------------------

_HTTP_PREFIX = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"


@register(
    "ingest_warc_roundtrip",
    oracle=f"""
        SELECT doc_id,
               'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS uri,
               'response' AS warc_type,
               200 AS status,
               CAST({len(_HTTP_PREFIX)} + strlen(text) AS BIGINT) AS content_length,
               CAST(strlen(text) AS BIGINT) AS body_bytes,
               md5(text) AS body_md5
        FROM documents WHERE doc_id < 300
        ORDER BY doc_id
    """,
    tags=("B1", "B10", "multimodal"),
    doc="WARC (ISO 28500 / Common Crawl) ingest roundtrip: per batch the "
    "docs are framed as HTTP-response WARC records, compressed in the "
    "Common Crawl per-record-gzip-member layout, then the stream goes "
    "back through the REAL reader chain (gzip member walk -> record "
    "parser -> HTTP envelope split) inside one Arrow pass. The oracle "
    "states every recovered field analytically from the documents table "
    "— URI, WARC type, HTTP status, Content-Length (header prefix + "
    "UTF-8 body bytes), body byte count, body md5 — so any framing or "
    "decompression defect changes the hash. The distributed "
    "one-binaryFile-task-per-archive reader is exercised on real files "
    "in tests/test_warc.py.",
)
def ingest_warc_roundtrip(spark, sf_dir):
    import gzip as _gzip
    import hashlib as _hashlib

    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources.warc import (
        build_warc,
        gunzip_members,
        http_response_body,
        parse_warc_records,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 300).select(
        "doc_id", "text"
    )

    def roundtrip(batches):
        for pdf in batches:
            recs = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                body = (text or "").encode("utf-8")
                recs.append(
                    {
                        "warc_type": "response",
                        "target_uri": f"http://corpus.example/doc/{int(did)}",
                        "warc_date": "2026-01-01T00:00:00Z",
                        "record_id": f"<urn:uuid:doc-{int(did)}>",
                        "content_type": "application/http;msgtype=response",
                        "block": _HTTP_PREFIX + body,
                    }
                )
            blob = b"".join(_gzip.compress(build_warc([r])) for r in recs)
            rows = []
            for r in parse_warc_records(gunzip_members(blob)):
                status, body = http_response_body(r["block"])
                rows.append(
                    {
                        "doc_id": int(r["target_uri"].rsplit("/", 1)[1]),
                        "uri": r["target_uri"],
                        "warc_type": r["warc_type"],
                        "status": status,
                        "content_length": r["content_length"],
                        "body_bytes": len(body),
                        "body_md5": _hashlib.md5(body).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "uri", "warc_type", "status",
                    "content_length", "body_bytes", "body_md5",
                ],
            )

    schema = (
        "doc_id long, uri string, warc_type string, status int, "
        "content_length long, body_bytes long, body_md5 string"
    )
    return d.mapInPandas(roundtrip, schema).orderBy("doc_id")


# --- HTML -> text extraction (operators/html.py) ----------------------------


def _html_extract_oracle() -> str:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.html import (
        html_to_text_sql,
    )

    html_expr = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>"
        "<style>p {color: red}</style></head><body>"
        "<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>"
        "<script>var x = 1 < 2 &amp;&amp; \"<p>ignore</p>\";</script>"
        "<!-- crawler boilerplate -->"
        "<p>' || text || '</p><div>footer &amp; fine print &nbsp;&copy;</div>"
        "</body></html>'"
    )
    return f"""
        SELECT doc_id,
               md5({html_to_text_sql(html_expr)}) AS text_md5,
               CAST(strlen({html_to_text_sql(html_expr)}) AS BIGINT) AS text_bytes
        FROM documents WHERE doc_id < 300
        ORDER BY doc_id
    """


@register(
    "text_html_extract",
    oracle=_html_extract_oracle(),
    tags=("B10", "text"),
    doc="HTML-to-text extraction (the WARC-body -> corpus-text stage): "
    "each doc is wrapped in a synthetic page (head/title/style/script "
    "blocks, comments, block tags, entities), and the deterministic "
    "regexp extraction chain (operators/html.py — drop non-content "
    "subtrees, block tags to newlines, strip tags, decode entities, "
    "collapse whitespace) runs at scan speed inside codegen. The DuckDB "
    "twin is GENERATED from the same constant tables, and the oracle "
    "compares md5 + byte length of the extracted text char-for-char.",
)
def text_html_extract(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.html import (
        html_to_text,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p {color: red}</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</h1><script>var x = 1 < 2 &amp;&amp; "<p>ignore</p>";</script>'),
        F.lit("<!-- crawler boilerplate --><p>"),
        F.col("text"),
        F.lit("</p><div>footer &amp; fine print &nbsp;&copy;</div></body></html>"),
    )
    extracted = html_to_text(html)
    return d.select(
        "doc_id",
        F.md5(extracted).alias("text_md5"),
        F.octet_length(extracted).cast("long").alias("text_bytes"),
    ).orderBy("doc_id")


# --- URL canonicalization dedup (operators/urlnorm.py) ----------------------


def _url_canon_oracle() -> str:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.urlnorm import (
        canonicalize_url_sql,
    )

    variants = """
        SELECT doc_id, doc_id // 4 AS page,
               CASE doc_id % 4
                 WHEN 0 THEN 'http://site' || CAST((doc_id // 4) % 7 AS VARCHAR)
                      || '.example/p/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?a=1&b=' || CAST(doc_id // 4 AS VARCHAR)
                 WHEN 1 THEN 'HTTP://SITE' || CAST((doc_id // 4) % 7 AS VARCHAR)
                      || '.EXAMPLE/p/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?a=1&b=' || CAST(doc_id // 4 AS VARCHAR) || '#frag'
                 WHEN 2 THEN 'http://site' || CAST((doc_id // 4) % 7 AS VARCHAR)
                      || '.example:80/p/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?b=' || CAST(doc_id // 4 AS VARCHAR) || '&a=1'
                 ELSE 'http://site' || CAST((doc_id // 4) % 7 AS VARCHAR)
                      || '.example/p/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?utm_campaign=z&a=1&b=' || CAST(doc_id // 4 AS VARCHAR)
               END AS url
        FROM documents WHERE doc_id < 400
    """
    return f"""
        WITH v AS ({variants}),
        canon AS (SELECT doc_id, {canonicalize_url_sql("url")} AS curl FROM v)
        SELECT curl, COUNT(*) AS n_variants,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM canon
        GROUP BY curl
        ORDER BY curl
    """


@register(
    "url_canonicalize_dedup",
    oracle=_url_canon_oracle(),
    tags=("B10", "text"),
    doc="URL-level dedup (the stage BEFORE content dedup in a crawl "
    "pipeline): four messy variants per page — case-variant scheme/host "
    "with a fragment, default :80 port with shuffled query params, and "
    "utm tracking params — all collapse to one canonical URL (lowercased "
    "authority, fragment/port/tracking stripped, params sorted). Every "
    "step is a built-in string expression at scan speed; the DuckDB twin "
    "is GENERATED from the same patterns, so the oracle pins the mapping "
    "character-for-character and each canonical group counts exactly its "
    "4 variants.",
)
def url_canonicalize_dedup(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.urlnorm import (
        canonicalize_url,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    page = (F.col("doc_id") / 4).cast("long").cast("string")
    site = ((F.col("doc_id") / 4).cast("long") % 7).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(
            v == 0,
            F.concat(F.lit("http://site"), site, F.lit(".example/p/"), page,
                     F.lit("?a=1&b="), page),
        )
        .when(
            v == 1,
            F.concat(F.lit("HTTP://SITE"), site, F.lit(".EXAMPLE/p/"), page,
                     F.lit("?a=1&b="), page, F.lit("#frag")),
        )
        .when(
            v == 2,
            F.concat(F.lit("http://site"), site, F.lit(".example:80/p/"), page,
                     F.lit("?b="), page, F.lit("&a=1")),
        )
        .otherwise(
            F.concat(F.lit("http://site"), site, F.lit(".example/p/"), page,
                     F.lit("?utm_campaign=z&a=1&b="), page),
        )
    )
    return (
        d.select("doc_id", canonicalize_url(url).alias("curl"))
        .groupBy("curl")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("curl")
    )


# --- corpus selection (operators/selection.py) -------------------------------


def _leakage_split_oracle() -> str:
    # reuse the registered recursive-closure clustering (same τ/scope as
    # dedup_clusters_resolve), extend to ALL docs < 200 with singleton
    # clusters, split by md5 of the CLUSTER id
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import REGISTRY

    clusters = REGISTRY["dedup_clusters_resolve"].oracle
    return f"""
        WITH c AS ({clusters}),
        docs AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        withc AS (
            SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM docs d LEFT JOIN c ON c.node_id = d.doc_id),
        labeled AS (
            SELECT doc_id, cluster_id,
                   CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR) || ':ls-seed'),
                                        1, 4)) AS BIGINT) % 100 AS b
            FROM withc)
        SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT cluster_id) AS n_clusters,
               CAST(SUM(doc_id) AS BIGINT) AS doc_sum
        FROM labeled
        GROUP BY 1
        ORDER BY split
    """


@register(
    "llm_leakage_safe_split",
    oracle=_leakage_split_oracle(),
    tags=("B10",),
    doc="Leakage-safe train/val/test split: the near-dup CLUSTER is the "
    "atomic split unit (hashing doc ids lets two near-identical docs "
    "straddle train and val — silent eval contamination; the test "
    "fixture proves the plain rule WOULD straddle). Composes the "
    "jaccard-pair clustering with an md5 bucket on the cluster's min id; "
    "singletons hash as themselves. Oracle: the registered recursive-"
    "closure clustering extended to all docs, split replayed exactly.",
)
def llm_leakage_safe_split(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.selection import (
        leakage_safe_split,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id")
    pairs = ngram_jaccard_pairs(
        t(spark, sf_dir, "documents").where(F.col("doc_id") < 200), threshold=0.2
    )
    out = leakage_safe_split(d, pairs, train_pct=80, val_pct=10, seed="ls-seed")
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("doc_id").cast("long").alias("doc_sum"),
        )
        .orderBy("split")
    )


def _budget_select_oracle() -> str:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import REGISTRY

    scores = REGISTRY["text_quality_model_score"].oracle
    return f"""
        WITH s AS ({scores}),
        toks AS (
            SELECT d.doc_id, d.source,
                   CASE WHEN {_DUCK_NORM} = '' THEN 0
                        ELSE len(string_split({_DUCK_NORM}, ' ')) END AS n_toks
            FROM documents d),
        scored AS (
            SELECT t.doc_id, t.source, t.n_toks, s.quality_score
            FROM toks t JOIN s ON s.doc_id = t.doc_id),
        ord AS (
            SELECT *,
                   SUM(n_toks) OVER (
                       ORDER BY quality_score DESC,
                                md5('budget:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS cum
            FROM scored)
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(*) FILTER (WHERE cum <= 6000) AS n_selected,
               CAST(COALESCE(SUM(n_toks) FILTER (WHERE cum <= 6000), 0) AS BIGINT)
                   AS tokens_selected
        FROM ord
        GROUP BY source
        ORDER BY source
    """


@register(
    "llm_budget_select",
    oracle=_budget_select_oracle(),
    tags=("B10",),
    doc="Token-budget data selection: keep the highest-quality documents "
    "whose cumulative token count fits a 6k budget, ties broken by "
    "hashed id — the greedy selection rule, computed WITHOUT a corpus-"
    "wide sort (per-score totals locate the boundary score; only that "
    "one score's documents run an ordered prefix window; everything else "
    "is a broadcast range check — the shape that survives 100 TB, "
    "brute-force-equality property-tested). The oracle computes the "
    "naive global-sort form, pinning the scalable plan to the exact "
    "greedy semantics, driven by the REAL registered quality model.",
)
def llm_budget_select(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.selection import (
        budget_select,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.text import (
        quality_model_score,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import tokens

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.fanout import (
        fan_out_scan,
    )

    d = t(spark, sf_dir, "documents")
    # ONE projection carries both the score and the token count: the
    # quality model preserves input columns, so the old two-scan
    # self-join on doc_id (a full corpus shuffle) was pure waste — the
    # r8 plan is scan → project → budget_select, shuffle-free upstream.
    # r16: the quality-model regex pass fills budget_select's input cache
    # from the scan's 1-2 partitions — conditional fan-out spreads that
    # one pass (sf1 A/B: 4.5 s → 1.6 s, rows identical; no-op at real scale)
    d = fan_out_scan(d, "doc_id")
    full = quality_model_score(d).select(
        "doc_id",
        "source",
        F.when(F.trim(F.concat_ws(" ", tokens(F.col("text")))) == "", F.lit(0))
        .otherwise(F.size(tokens(F.col("text"))))
        .cast("long")
        .alias("n_toks"),
        "quality_score",
    )
    sel = budget_select(
        full, 6000, score_col="quality_score", tokens_col="n_toks", id_col="doc_id"
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("is_selected"), 1)).alias("n_selected"),
            F.coalesce(
                F.sum(F.when(F.col("is_selected"), F.col("n_toks"))), F.lit(0)
            ).cast("long").alias("tokens_selected"),
        )
        .orderBy("source")
    )


# --- DSIR importance resampling (operators/selection.py) --------------------


@register(
    "llm_dsir_importance",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, (doc_id % 10 = 0) AS t,
                   unnest(string_split({_DUCK_NORM}, ' ')) AS tok
            FROM documents),
        nz AS (SELECT * FROM toks WHERE tok <> ''),
        hits AS (
            SELECT doc_id, t,
                   CAST(('0x' || substr(md5('dsir:' || tok), 1, 13)) AS BIGINT)
                       % 1024 AS b
            FROM nz),
        dist AS (
            SELECT b,
                   COUNT(*) FILTER (WHERE t) AS ct,
                   COUNT(*) FILTER (WHERE NOT t) AS cr
            FROM hits GROUP BY b),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM dist),
        llr AS (
            SELECT b,
                   CAST(ROUND((ln(CAST(ct + 1 AS DOUBLE) / (tt + 1024))
                               - ln(CAST(cr + 1 AS DOUBLE) / (tr + 1024)))
                              * 1000000) AS BIGINT) AS u
            FROM dist, tot),
        scored AS (
            SELECT h.doc_id,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(l.u) AS BIGINT) AS s
            FROM hits h JOIN llr l ON h.b = l.b
            WHERE NOT h.t
            GROUP BY h.doc_id)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               ((s - (((s % n_tokens) + n_tokens) % n_tokens))
                / n_tokens) / 1000000.0 AS importance
        FROM scored
        ORDER BY doc_id
    """,
    tags=("B10",),
    doc="DSIR-style importance weights (arXiv:2302.03169): every raw-pool "
    "document scored by how target-like its hashed-unigram profile is — "
    "target sample = every 10th doc, 1024 md5-hashed buckets, add-one-"
    "smoothed per-bucket log-likelihood ratios quantized to INTEGER "
    "micro-llr at the bucket level (so engine ln ulps can't reach "
    "anything downstream), per-doc importance = floor-divided micro "
    "mean — exact BIGINT arithmetic, bit-identical at any scale (the "
    "earlier double mean hit a round-6 near-tie at sf0.1). One tokenize "
    "pass + one conditional aggregation + a broadcast of the 1024-row "
    "ratio frame — the shape that scores 100 TB. Oracle replays every "
    "bucket and every mean.",
)
def llm_dsir_importance(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.selection import (
        dsir_importance,
    )

    d = t(spark, sf_dir, "documents")
    return dsir_importance(d, F.col("doc_id") % 10 == 0).orderBy("doc_id")


# --- compressed-format roundtrips (B1 widening) -------------------------------


@register(
    "scan_jsonl_gzip_roundtrip",
    oracle="""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        FROM orders WHERE o_orderkey <= 2000
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("B1",),
    doc="GZIP-compressed JSON-lines sink+source roundtrip — the standard "
    "crawl-dump layout (one .jsonl.gz per shard). Spark's codec support "
    "is native on both sides (write option compression=gzip; the reader "
    "detects by extension), so a gzip shard directory is a first-class "
    "table: same schema-on-read semantics as the plain JSONL row. Note "
    "the documented scale caveat: gzip is NOT splittable, so shard-level "
    "parallelism comes from file count — exactly how Common Crawl and "
    "Firehose lay their dumps out.",
)
def scan_jsonl_gzip_roundtrip(spark, sf_dir):
    import os as _os

    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.sources_sinks import (
        _SCRATCH,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum

    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    path = _os.path.join(_SCRATCH, "orders_jsonl_gz")
    o.write.mode("overwrite").option("compression", "gzip").json(path)
    back = spark.read.schema(o.schema).json(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
        .orderBy("o_orderstatus")
    )


# --- tier-dependent quota admission (custom:tier → policy) -------------------


@register(
    "tenant_tiered_quota",
    oracle="""
        WITH ranked AS (
            SELECT 'tenant-' || CAST(user_id % 4 AS VARCHAR) AS tenant_id,
                   CASE WHEN user_id % 4 < 2 THEN 'Basic' ELSE 'Premium' END AS tier,
                   CASE WHEN user_id % 4 < 2 THEN 1500 ELSE 4000 END AS quota,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id % 4 ORDER BY ts, event_id) AS rn
            FROM events)
        SELECT tenant_id, tier,
               COUNT(*) FILTER (WHERE rn <= quota) AS accepted,
               COUNT(*) FILTER (WHERE rn > quota) AS rejected
        FROM ranked
        GROUP BY tenant_id, tier, quota
        ORDER BY tenant_id
    """,
    tags=("B10", "A8", "A9", "saas"),
    doc="Tier-dependent ingest quota: the reference's user model carries "
    "custom:tier from signup (create-user.sh:16, cognito-stack custom "
    "attribute) and the engine's TenantContext now surfaces it — this "
    "query is the policy consumption: a broadcast (tenant → tier → "
    "quota) dim drives per-tenant admission caps (Basic 1500, Premium "
    "4000) over the same deterministic arrival order as the flat quota. "
    "The tier NEVER comes from payload data — the A9 invariant extended "
    "to policy attributes.",
)
def tenant_tiered_quota(spark, sf_dir):
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(f"tenant-{i}", "Basic" if i < 2 else "Premium", 1500 if i < 2 else 4000)
         for i in range(4)],
        "tenant_id string, tier string, quota int",
    )
    w = W.partitionBy(F.pmod("user_id", F.lit(4))).orderBy("ts", "event_id")
    ranked = e.select(
        F.concat(F.lit("tenant-"), F.pmod("user_id", F.lit(4)).cast("string")).alias(
            "tenant_id"
        ),
        F.row_number().over(w).alias("rn"),
    ).join(F.broadcast(tiers), "tenant_id")
    return (
        ranked.groupBy("tenant_id", "tier")
        .agg(
            F.count(F.when(F.col("rn") <= F.col("quota"), 1)).alias("accepted"),
            F.count(F.when(F.col("rn") > F.col("quota"), 1)).alias("rejected"),
        )
        .orderBy("tenant_id")
    )
