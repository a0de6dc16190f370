"""Round-11 operator wave (r10 verdict "Next round" #2): the lossy
VP8 key-frame codec lands with an ANALYTIC oracle query, closing the
last real-crawl image boundary — CPython's python.webp (ALPH + lossy
VP8) now decodes end-to-end, BIT-EXACT vs the system libwebp
(tests/test_realworld_r11.py); this query grades the same decoder
over generated fixtures at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t


@register(
    "multimodal_vp8_decode",
    oracle="""
        SELECT doc_id,
               -CAST(POWER(2, 8 * (2 + doc_id % 5)) AS BIGINT) AS ahash
        FROM documents WHERE doc_id < 64
        ORDER BY doc_id
    """,
    tags=("B10", "multimodal", "image"),
    doc="Lossy WebP/VP8 key-frame decode END-TO-END with an ANALYTIC "
    "oracle (the [r11] codec closing the r10 lossy boundary — most "
    "real-world .webp traffic is VP8, and the REAL python.webp is "
    "pinned bit-exact vs the system libwebp in tests): per doc a "
    "32x32 two-tone RIFF/WEBP/VP8 image (bright split at row "
    "8 + 4*(doc_id % 5), grays 40/200) rotates the decoder surface — "
    "quantizer index (doc_id * 7) % 56 + 4 sweeps the dequant tables, "
    "odd docs use B_PRED (16 subblock predictions, plane-3 tokens, no "
    "Y2), even docs 16x16 DC_PRED (Y2 + IWHT path); 2x2 macroblocks "
    "exercise above/left prediction and entropy contexts — then "
    "decodes through the codec registry's RIFF sniffer and average-"
    "hashes to -(2^(8*(2 + doc_id%5))), the same closed form the "
    "PNG/GIF/ICO/QOI/TGA/WebP-VP8L oracles pin. The split sits on a "
    "4-row boundary so quantization noise (bounded by the DC step) "
    "can never flip an aHash cell; any bool-decoder, token-tree, "
    "context, dequant, IDCT/IWHT, prediction, or conversion defect "
    "flips whole rows (operators/vp8.py; RFC 6386).",
)
def multimodal_vp8_decode(spark, sf_dir):
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        with_average_hash,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 64).select("doc_id")

    def op(batches):
        import numpy as np

        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.webp import (
            encode_webp_vp8,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                split = 8 + 4 * (did % 5)
                px = np.full((32, 32, 3), 40, dtype=np.uint8)
                px[split:, :, :] = 200
                rows.append(
                    {
                        "media_id": did,
                        "kind": "image",
                        "payload": encode_webp_vp8(
                            px,
                            qi=4 + (did * 7) % 56,
                            use_bpred=did % 2 == 1,
                        ),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    media = d.mapInPandas(op, MEDIA_SCHEMA)
    return (
        with_average_hash(media)
        .select(F.col("media_id").alias("doc_id"), "ahash")
        .orderBy("doc_id")
    )


@register(
    "multimodal_pdf_images",
    oracle="""
        WITH base AS (SELECT doc_id FROM documents WHERE doc_id < 48)
        SELECT doc_id, 0 AS img_idx, 'ppm' AS fmt,
               -CAST(POWER(2, 8 * (2 + doc_id % 5)) AS BIGINT) AS ahash
        FROM base
        UNION ALL
        SELECT doc_id, 1 AS img_idx, 'jpeg' AS fmt,
               -CAST(POWER(2, 8 * (2 + (doc_id + 2) % 5)) AS BIGINT) AS ahash
        FROM base
        ORDER BY doc_id, img_idx
    """,
    tags=("B10", "multimodal", "text", "image"),
    doc="PDF embedded-image extraction END-TO-END (r10 verdict #4 — "
    "composing the r10 PDF parser with the image registry so PDF-borne "
    "images flow through the same aHash/dedup machinery as crawled "
    "images): per doc a two-page PDF embeds TWO /Subtype /Image "
    "XObjects — a FlateDecode DeviceRGB two-tone (split 8+4*(doc%5); "
    "odd docs add the PNG Up-predictor /DecodeParms path) and a "
    "DCTDecode stream written by the from-spec JPEG encoder (split "
    "8+4*((doc+2)%5)) — then extract_pdf_images re-emits them as "
    "sniffable payloads (PPM verbatim samples; the DCTDecode stream "
    "IS a JPEG payload) which decode through the registry and average-"
    "hash to the same closed form the other codec oracles pin; text "
    "extraction on the same blob must stay intact (n_pages gates the "
    "row). Any parser, filter-chain, predictor, JPEG, or registry "
    "defect flips rows (operators/pdf.py extract_pdf_images; ISO "
    "32000-1 §8.9).",
)
def multimodal_pdf_images(spark, sf_dir):
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        with_average_hash,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 48).select("doc_id")

    def op(batches):
        import numpy as np

        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.pdf import (
            build_pdf,
            extract_pdf_images,
            pdf_page_count,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                s0 = 8 + 4 * (did % 5)
                s1 = 8 + 4 * ((did + 2) % 5)
                px0 = np.full((32, 32, 3), 40, dtype=np.uint8)
                px0[s0:, :, :] = 200
                px1 = np.full((32, 32, 3), 40, dtype=np.uint8)
                px1[s1:, :, :] = 200
                blob = build_pdf(
                    [f"doc {did} with images", "page two"],
                    images=[
                        {"rgb": px0, "filter": "flate-pred" if did % 2 else "flate"},
                        {"rgb": px1, "filter": "jpeg"},
                    ],
                )
                if pdf_page_count(blob) != 2:
                    continue  # gates the row: text side must stay intact
                for im in extract_pdf_images(blob):
                    rows.append(
                        {
                            # media_id packs (doc, img) uniquely
                            "media_id": did * 4 + im["index"],
                            "kind": "image",
                            "payload": im["payload"],
                            "meta": {
                                "width": im["width"],
                                "height": im["height"],
                                "sample_rate": None,
                                "n_frames": None,
                                "mime": im["fmt"],
                            },
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    media = d.mapInPandas(op, MEDIA_SCHEMA)
    fmts = media.select("media_id", F.col("meta.mime").alias("fmt"))
    return (
        with_average_hash(media)
        .join(F.broadcast(fmts), "media_id")
        .select(
            (F.col("media_id") / 4).cast("long").alias("doc_id"),
            F.pmod(F.col("media_id"), F.lit(4)).cast("int").alias("img_idx"),
            "fmt",
            "ahash",
        )
        .orderBy("doc_id", "img_idx")
    )


def _epub_oracle() -> str:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.html import (
        html_to_text_sql,
    )

    # the same single-line XHTML the Spark fixture builds, concat'd in
    # SQL from (doc_id, orig chapter index o) — the generated
    # html_to_text twin then replays extraction character-for-character
    xhtml = (
        "'<?xml version=\"1.0\"?><html xmlns=\"http://www.w3.org/1999/xhtml\">"
        "<head><title>skip</title><style>p{color:red}</style></head>"
        "<body><h1>chapter ' || CAST(o AS VARCHAR) || ' of ' || "
        "CAST(doc_id AS VARCHAR) || '</h1><p>alpha &amp; beta ' || "
        "CAST((doc_id * 7 + o) % 13 AS VARCHAR) || '</p><p>line ' || "
        "CAST((doc_id + o) % 5 AS VARCHAR) || '</p></body></html>'"
    )
    text = html_to_text_sql(f"({xhtml})")
    return f"""
        WITH base AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        spine AS (
            SELECT doc_id, CAST(p AS INT) AS ch_order,
                   CAST((p + doc_id) % 3 AS INT) AS o
            FROM base, LATERAL (SELECT unnest([0, 1, 2]) AS p)),
        rows_ AS (
            SELECT doc_id, ch_order,
                   'text/ch' || CAST(o AS VARCHAR) || '.xhtml' AS href,
                   'Book ' || CAST(doc_id AS VARCHAR) AS title,
                   ['en', 'fr', 'de'][1 + doc_id % 3] AS language,
                   md5({text}) AS text_md5
            FROM spine)
        SELECT doc_id, ch_order, href, title, language, text_md5
        FROM rows_ ORDER BY doc_id, ch_order
    """


@register(
    "text_epub_extract",
    oracle=_epub_oracle(),
    tags=("B10", "text", "crawl"),
    doc="EPUB ingestion END-TO-END (r10 verdict #5 — the books-corpus "
    "slice): per doc a spec-literal OCF container (STORED mimetype "
    "member first, container.xml rootfile walk, OPF manifest + spine, "
    "Dublin Core metadata) packs three XHTML chapters whose SPINE "
    "order is rotated by doc_id against storage order — a parser that "
    "walks the zip instead of the spine mis-orders two thirds of all "
    "rows — then explodes to reading-ordered chapters and extracts "
    "text through the SAME html_to_text chain as the crawl pipeline; "
    "the oracle rebuilds each chapter's XHTML in SQL and replays "
    "extraction through the GENERATED DuckDB twin, md5 for md5 "
    "(operators/epub.py; operators/html.py; W3C EPUB 3.3 OCF+Packages).",
)
def text_epub_extract(spark, sf_dir):
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.epub import (
        explode_epub_chapters,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.html import (
        html_to_text,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 60).select("doc_id")

    def op(batches):
        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.epub import (
            build_epub,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                chapters = []
                for o in range(3):
                    body = (
                        '<?xml version="1.0"?>'
                        '<html xmlns="http://www.w3.org/1999/xhtml">'
                        "<head><title>skip</title><style>p{color:red}</style>"
                        f"</head><body><h1>chapter {o} of {did}</h1>"
                        f"<p>alpha &amp; beta {(did * 7 + o) % 13}</p>"
                        f"<p>line {(did + o) % 5}</p></body></html>"
                    )
                    chapters.append((f"text/ch{o}.xhtml", body))
                spine = [(p + did) % 3 for p in range(3)]
                rows.append(
                    {
                        "doc_id": did,
                        "payload": build_epub(
                            chapters,
                            title=f"Book {did}",
                            language=["en", "fr", "de"][did % 3],
                            spine_order=spine,
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    epubs = d.mapInPandas(op, "doc_id long, payload binary")
    ch = explode_epub_chapters(epubs)
    return (
        ch.where(F.col("parse_error").isNull())
        .select(
            "doc_id",
            F.col("order").alias("ch_order"),
            "href",
            "title",
            "language",
            F.md5(html_to_text(F.col("xhtml"))).alias("text_md5"),
        )
        .orderBy("doc_id", "ch_order")
    )


@register(
    "multimodal_raster_formats",
    oracle="""
        WITH base AS (SELECT doc_id FROM documents WHERE doc_id < 40),
        fmts AS (
            SELECT doc_id, f.fmt
            FROM base, (SELECT unnest(['exr', 'pnm', 'ras', 'sgi', 'xbm']) AS fmt) f)
        SELECT doc_id, fmt,
               -CAST(POWER(2, 8 * (2 + doc_id % 5)) AS BIGINT) AS ahash
        FROM fmts
        ORDER BY doc_id, fmt
    """,
    tags=("B10", "multimodal", "image"),
    doc="The r11 raster codec wave END-TO-END in one slot (five "
    "formats, EVERY one real-file-pinned against the CPython "
    "imghdrdata twins of the same logo in tests/test_realworld_r11.py "
    "— Sun Raster, SGI and OpenEXR pixel-for-pixel, XBM bit-for-bit "
    "vs the PBM twin, PGM as Rec.709 luma within 1 level): per doc a "
    "32x32 two-tone (split 8+4*(doc%5)) is encoded as Sun Raster "
    "(type rotates 1/2/3: BGR, byte-RLE, RGB order; depth 24/32), SGI "
    "(VERBATIM/RLE by parity; RGB/RGBA rotating), scanline OpenEXR "
    "(compression NONE/ZIPS/ZIP rotating; half floats), Netpbm "
    "(P1/P2/P4/P5 rotating), and XBM (C-source bits, LSB-first) — "
    "each decodes back through the registry SNIFFER (no format hints) "
    "and average-hashes to the same closed form the other codec "
    "oracles pin (operators/{ras,sgi,exr,pnm,xbm}.py).",
)
def multimodal_raster_formats(spark, sf_dir):
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        with_average_hash,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select("doc_id")
    fmt_names = ["exr", "pnm", "ras", "sgi", "xbm"]

    def op(batches):
        import numpy as np

        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.exr import (
            encode_exr,
        )
        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.pnm import (
            encode_pnm,
        )
        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.ras import (
            encode_ras,
        )
        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.sgi import (
            encode_sgi,
        )
        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.xbm import (
            encode_xbm,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                split = 8 + 4 * (did % 5)
                rgb = np.full((32, 32, 3), 40, dtype=np.uint8)
                rgb[split:, :, :] = 200
                gray = rgb[..., 0]
                bits = (gray < 128).astype(np.uint8)  # ink on the dark top
                payloads = {
                    "ras": encode_ras(
                        rgb,
                        rtype=(1, 2, 3)[did % 3],
                        depth=24 if did % 2 else 32,
                    ),
                    "sgi": encode_sgi(
                        np.concatenate(
                            [rgb, np.full((32, 32, 1), 255, np.uint8)], axis=2
                        )
                        if did % 4 == 0
                        else rgb,
                        storage=did % 2,
                    ),
                    "exr": encode_exr(
                        {c: gray / 255.0 for c in ("R", "G", "B")},
                        32,
                        32,
                        compression=(0, 2, 3)[did % 3],
                    ),
                    "pnm": encode_pnm(
                        bits if did % 4 in (0, 2) else gray,
                        (b"P1", b"P2", b"P4", b"P5")[did % 4],
                    ),
                    "xbm": encode_xbm(bits, name=f"doc{did}"),
                }
                for fmt in fmt_names:
                    rows.append(
                        {
                            "media_id": did * 8 + fmt_names.index(fmt),
                            "kind": "image",
                            "payload": payloads[fmt],
                            "meta": None,
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    media = d.mapInPandas(op, MEDIA_SCHEMA)
    fmt_expr = F.array(*[F.lit(n) for n in fmt_names])
    return (
        with_average_hash(media)
        .select(
            (F.col("media_id") / 8).cast("long").alias("doc_id"),
            F.element_at(fmt_expr, (F.pmod(F.col("media_id"), F.lit(8)) + 1).cast("int")).alias("fmt"),
            "ahash",
        )
        .orderBy("doc_id", "fmt")
    )


#: multimodal_h264_cabac's doc count: the Spark filter, the oracle's
#: filter and the media fan-out decision all read it
_CABAC_DOCS = 48


@register(
    "multimodal_h264_cabac",
    oracle=f"""
        SELECT doc_id,
               CAST(1 + doc_id % 3 AS INT) AS mb_w,
               CAST(1 + doc_id % 2 AS INT) AS mb_h,
               CAST((1 + doc_id % 3) * (1 + doc_id % 2) * 256 AS BIGINT)
                   AS n_px,
               TRUE AS twin_match,
               TRUE AS uniform_is_128
        FROM documents WHERE doc_id < {_CABAC_DOCS}
        ORDER BY doc_id
    """,
    tags=("B10", "multimodal", "video"),
    doc="H.264 CABAC I-slice decode END-TO-END (r10 verdict #3 — real-"
    "world H.264 defaults to main/high profile = CABAC; the r10 CAVLC-"
    "only boundary is closed for intra frames by operators/"
    "h264_cabac.py, its engine tables verified byte-for-byte against "
    "the system libde265): per doc a doc-seeded I-frame (mixed I_4x4/"
    "I_16x16, availability-safe prediction modes, sparse residuals "
    "across all five block categories) is encoded TWICE — once CAVLC "
    "(the r9 writer), once CABAC — and both decode through the same "
    "reconstruction; twin_match pins pixel identity (the verdict's "
    "done-criterion, graded per doc per scale), and a zero-residual "
    "CABAC frame must decode to exactly RGB 128 everywhere "
    "(uniform_is_128), pinning the DC-prediction + conversion "
    "constants in SQL. Frame shape rotates 1..3 x 1..2 MBs.",
)
def multimodal_h264_cabac(spark, sf_dir):
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.fanout import (
        fan_out_media_ids,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < _CABAC_DOCS).select("doc_id")
    # payload-size seam: identity at this fixture doc count
    # (MEDIA_FANOUT_MIN_DOCS), fans out at real doc counts
    d = fan_out_media_ids(d, "doc_id", _CABAC_DOCS)

    def op(batches):
        import numpy as np

        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators import (
            h264 as H,
        )
        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators import (
            h264_cabac as C,
        )

        def sparse(rng, n, k):
            v = [0] * n
            for _ in range(k):
                v[int(rng.randint(0, n))] = int(rng.randint(-4, 5)) or 1
            return v

        def safe_modes(rng):
            ms = []
            for b in range(16):
                bx, by = H._BLK4[b]
                opts = [2] + ([0] if by else []) + ([1] if bx else [])
                ms.append(int(rng.choice(opts)))
            return ms

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rng = np.random.RandomState(did + 1)
                mw, mh = 1 + did % 3, 1 + did % 2
                mbs = []
                for a in range(mw * mh):
                    if a % 3 == 0:
                        mbs.append(
                            {"kind": "i16", "pred": 2, "dc": sparse(rng, 16, 4),
                             "ac": {b: sparse(rng, 15, 2) for b in range(16)
                                    if rng.rand() < 0.4},
                             "chroma_mode": 0,
                             "cb_dc": sparse(rng, 4, 1),
                             "cr_dc": sparse(rng, 4, 1),
                             "cb_ac": {b: sparse(rng, 15, 2) for b in range(4)
                                       if rng.rand() < 0.4}}
                        )
                    else:
                        mbs.append(
                            {"kind": "i4", "modes": safe_modes(rng),
                             "coeffs": {b: sparse(rng, 16, 3) for b in range(16)
                                        if rng.rand() < 0.35},
                             "chroma_mode": 0,
                             "cr_dc": sparse(rng, 4, 1)}
                        )
                qp = 12 + (did * 5) % 36
                p1, _, _ = H.decode_idr(H.encode_idr(mw, mh, mbs, qp=qp))
                p2, _, _ = H.decode_idr(C.encode_idr_cabac(mw, mh, mbs, qp=qp))
                flat = [{"kind": "i16", "pred": 2, "dc": [0] * 16,
                         "chroma_mode": 0} for _ in range(mw * mh)]
                pu, _, _ = H.decode_idr(C.encode_idr_cabac(mw, mh, flat, qp=qp))
                rows.append(
                    {"doc_id": did, "mb_w": mw, "mb_h": mh,
                     "n_px": p2.shape[0] * p2.shape[1],
                     "twin_match": bool(np.array_equal(p1, p2)),
                     "uniform_is_128": bool((pu == 128).all())}
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "mb_w", "mb_h", "n_px", "twin_match",
                         "uniform_is_128"],
            )

    return d.mapInPandas(
        op,
        "doc_id long, mb_w int, mb_h int, n_px long, twin_match boolean, "
        "uniform_is_128 boolean",
    ).orderBy("doc_id")


@register(
    "audio_ogg_probe",
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
               CAST(1 + doc_id % 2 AS INT) AS channels,
               CAST(CASE WHEN doc_id % 2 = 0
                    THEN ([8000, 16000, 44100, 48000])[1 + doc_id % 4]
                    ELSE 48000 END AS INT) AS sample_rate,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                    ELSE 104 + doc_id % 19 END AS INT) AS pre_skip,
               CAST(3 + doc_id % 3 AS INT) AS n_pages,
               CAST(1 + doc_id % 7 AS BIGINT) AS dur_s
        FROM documents WHERE doc_id < 72
        ORDER BY doc_id
    """,
    tags=("B10", "multimodal", "audio", "crawl"),
    doc="Ogg container probe END-TO-END (the container-level twin of "
    "the MP3 frame/ID3 probe row — crawl pipelines need codec/rate/"
    "channels/duration without a transform decode): per doc a "
    "spec-exact Ogg stream (RFC 3533 pages with real CRC-32s, lacing "
    "incl. 255-continuation for long packets, BOS/EOS flags) carrying "
    "a Vorbis I or OpusHead (RFC 7845) id header by parity — rate/"
    "channels/pre-skip/page-count/duration rotate with doc_id and the "
    "final granule position is chosen so the duration is integral "
    "(Opus durations subtract pre-skip at 48 kHz per RFC 7845 §4). "
    "Any page-walk, CRC, lacing, id-header, or granule-semantics "
    "defect flips rows (operators/ogg.py).",
)
def audio_ogg_probe(spark, sf_dir):
    import pandas as pd

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 72).select("doc_id")

    def op(batches):
        from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.ogg import (
            build_ogg,
            build_opus_head,
            build_vorbis_id_packet,
            probe_ogg,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                ch = 1 + did % 2
                dur = 1 + did % 7
                n_pages = 3 + did % 3
                if did % 2 == 0:
                    rate = (8000, 16000, 44100, 48000)[did % 4]
                    pkts = [build_vorbis_id_packet(ch, rate)]
                    granule = dur * rate
                    pre = 0
                else:
                    rate = 48000
                    pre = 104 + did % 19
                    pkts = [build_opus_head(ch, pre, 16000)]
                    granule = pre + dur * 48000
                pkts += [b"meta" * 80] * (n_pages - 2)
                pkts.append(b"frame" * (20 + did % 60))
                granules = [0] * (n_pages - 1) + [granule]
                blob = build_ogg(pkts, serial=did + 1, granules=granules)
                p = probe_ogg(blob)
                rows.append(
                    {
                        "doc_id": did,
                        "codec": p["codec"],
                        "channels": p["channels"],
                        "sample_rate": p["sample_rate"],
                        "pre_skip": p["pre_skip"],
                        "n_pages": p["n_pages"],
                        "dur_s": int(round(p["duration_seconds"])),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "codec", "channels", "sample_rate",
                         "pre_skip", "n_pages", "dur_s"],
            )

    return d.mapInPandas(
        op,
        "doc_id long, codec string, channels int, sample_rate int, "
        "pre_skip int, n_pages int, dur_s long",
    ).orderBy("doc_id")
