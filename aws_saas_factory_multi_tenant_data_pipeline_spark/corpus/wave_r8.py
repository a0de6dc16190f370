"""Round-7-session operator wave: lake branch / write-audit-publish
roundtrip with a SQL-checkable end state.

Snapshot branches and WAP were tests-only in round 6; their observable
END STATE is pure SQL over the input tables, so this wave gives them a
driver-gradeable oracle: the query performs the REAL lake lifecycle
(write v1 to main -> isolated branch write -> fast-forward -> WAP a good
batch that publishes -> WAP a bad batch that must raise and must NOT
reach main) and returns main's final read-back plus the state flags; the
oracle recomputes the expected final frame analytically (base + branch +
good batches, the bad batch absent) and pins the version pointer, the
isolation row count, and the quarantined staging count as constants.
Reference parity: the reference's Firehose error routing ships bad
records to an error prefix (README.md:41-47); WAP is the lake-side
equivalent where audited-bad data never reaches published readers.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.sources_sinks import _SCRATCH
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum


#: multimodal_mjpeg_frames' doc count: the Spark filter, the oracle's
#: filter and the media fan-out decision all read it
_MJPEG_DOCS = 64


@register(
    "multimodal_mjpeg_frames",
    oracle=f"""
        SELECT doc_id, frame_idx,
               (frame_idx = 0) AS is_keyframe,
               -CAST(POWER(2, 8 * ((11 + (doc_id + 5 * frame_idx) % 16) // 4))
                     AS BIGINT) AS ahash
        FROM documents
        CROSS JOIN (VALUES (0), (2), (4)) AS k(frame_idx)
        WHERE doc_id < {_MJPEG_DOCS}
        ORDER BY doc_id, frame_idx
    """,
    tags=("B10", "multimodal", "video"),
    doc="MJPEG video END-TO-END with an ANALYTIC oracle and zero new "
    "codec code: per doc a six-frame MJPEG movie is assembled as a REAL "
    "MP4 (ISO-BMFF with full sample tables, fourcc 'jpeg', sync samples "
    "{1,4}); each frame is a 32×32 two-tone REAL JPEG whose bright-split "
    "row varies with (doc_id, frame). The pipeline is the production "
    "path: sample_video_frames (byte-exact access-unit extraction from "
    "stsz/stsc/stco, every_n=2) → mjpeg_frame_hashes (each unit IS a "
    "JPEG → T.81 decode → aHash, through the codec registry). The "
    "two-tone contrast makes the hash provably DCT-rounding-independent: "
    "signed aHash = -(2^(8·r0)) with r0 = ceil(split/4), which the "
    "oracle states without seeing a byte of MP4 or JPEG — any sample-"
    "table, extraction, JPEG, or keyframe-flag defect changes the hash "
    "or the row set (operators/mp4.py; operators/multimodal.py "
    "sample_video_frames/mjpeg_frame_hashes).",
)
def multimodal_mjpeg_frames(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.fanout import (
        fan_out_media_ids,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.mp4 import (
        build_minimal_mp4,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        mjpeg_frame_hashes,
        sample_video_frames,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < _MJPEG_DOCS).select("doc_id")
    # payload-size seam: identity at this fixture doc count
    # (MEDIA_FANOUT_MIN_DOCS), fans out at real doc counts
    d = fan_out_media_ids(d, "doc_id", _MJPEG_DOCS)

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for k in range(6):
                    split = 8 + (did + 5 * k) % 16
                    a = (did * 7 + k) % 96
                    b = 160 + (did * 11 + k) % 96
                    px = np.full((32, 32, 3), a, dtype=np.uint8)
                    px[split:, :, :] = b
                    frames.append(encode_jpeg(px, quality=90))
                payload = build_minimal_mp4(
                    frames, width=32, height=32, codec=b"jpeg", keyframes=[1, 4]
                )
                rows.append(
                    {
                        "media_id": did,
                        "kind": "video",
                        "payload": payload,
                        "meta": None,
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    media = d.mapInPandas(op, MEDIA_SCHEMA)
    return (
        mjpeg_frame_hashes(sample_video_frames(media, every_n=2))
        .select(
            F.col("media_id").alias("doc_id"),
            "frame_idx",
            "is_keyframe",
            "ahash",
        )
        .orderBy("doc_id", "frame_idx")
    )


@register(
    "lake_branch_wap_roundtrip",
    oracle=f"""
        WITH o AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey <= 5000),
        final AS (
            SELECT * FROM o WHERE o_orderkey % 4 IN (0, 1, 2)),
        main_rows AS (
            SELECT 'main' AS kind, o_orderstatus AS k, COUNT(*) AS n,
                   {sql_dsum("o_totalprice")} AS val
            FROM final GROUP BY 2),
        state_rows AS (
            SELECT 'state' AS kind, 'main_version' AS k,
                   CAST(3 AS BIGINT) AS n, 3.0 AS val
            UNION ALL
            SELECT 'state', 'isolation_main_rows',
                   (SELECT COUNT(*) FROM o WHERE o_orderkey % 4 = 0), 1.0
            UNION ALL
            SELECT 'state', 'wap_bad_staged',
                   (SELECT COUNT(*) FROM o WHERE o_orderkey % 4 = 3), 1.0)
        SELECT kind, k, n, val FROM main_rows
        UNION ALL SELECT kind, k, n, val FROM state_rows
        ORDER BY kind, k
    """,
    tags=("B1", "B10", "data-mgmt", "lake"),
    doc="Snapshot branches + write-audit-publish, end-state-checked: "
    "write base to main (v1); write a batch to an isolated branch (v2) "
    "while main still reads v1 (isolation pinned as a row); fast-forward "
    "main to v2; WAP a good batch (publishes v3); WAP a batch violating "
    "its in_range constraint (must raise AuditFailure, stays staged on "
    "the audit branch, never reaches main). The result is main's final "
    "group-by read-back plus state rows for the main version pointer, "
    "the isolation count, and the quarantined staging count — so a WAP "
    "that leaks bad data or a fast-forward that moves the wrong pointer "
    "flips the hash. Iceberg WAP semantics per pkg/lake.py:1032; "
    "reference parity: error routing away from published data "
    "(reference README.md:41-47).",
)
def lake_branch_wap_roundtrip(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        AuditFailure,
        create_branch,
        fast_forward,
        latest_snapshot_version,
        read_branch,
        read_snapshot,
        write_audit_publish,
        write_snapshot,
        write_snapshot_to_branch,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.constraints import (
        in_range,
    )

    o = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 5000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    batch = F.col("o_orderkey") % 4
    root = os.path.join(_SCRATCH, "w8_branch_wap")
    shutil.rmtree(root, ignore_errors=True)
    # v1: base batch straight to main
    write_snapshot(o.where(batch == 0), root)
    # v2 on an isolated branch: main must still read v1 while it exists
    create_branch(root, "dev")
    write_snapshot_to_branch(
        read_branch(spark, root, "dev").unionByName(o.where(batch == 1)),
        root,
        "dev",
    )
    isolation_main_rows = read_snapshot(spark, root).count()  # still v1
    fast_forward(root, "dev")  # main -> v2 (ancestry-checked pointer move)
    # v3: WAP a good batch — audits the staged bytes, then publishes
    gate = [in_range("o_totalprice", 0.0, 1e12)]
    write_audit_publish(
        read_snapshot(spark, root).unionByName(o.where(batch == 2)), root, gate
    )
    # WAP a bad batch (negated prices violate the gate): must raise and
    # must leave main untouched; the staged version stays on its audit
    # branch for inspection
    bad = o.where(batch == 3).withColumn(
        "o_totalprice", -F.abs(F.col("o_totalprice"))
    )
    wap_bad_raised = 0
    try:
        write_audit_publish(
            read_snapshot(spark, root).unionByName(bad),
            root,
            gate,
            audit_branch="audit_bad",
        )
    except AuditFailure:
        wap_bad_raised = 1
    staged_bad = (
        read_branch(spark, root, "audit_bad")
        .where(F.col("o_totalprice") < 0)
        .count()
    )
    main_version = latest_snapshot_version(root)
    main_rows = (
        read_snapshot(spark, root)
        .groupBy(F.col("o_orderstatus").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("val"))
        .select(F.lit("main").alias("kind"), "k", "n", "val")
    )
    state_rows = spark.createDataFrame(
        [
            ("state", "main_version", main_version, float(main_version)),
            ("state", "isolation_main_rows", isolation_main_rows, 1.0),
            ("state", "wap_bad_staged", staged_bad, float(wap_bad_raised)),
        ],
        "kind string, k string, n long, val double",
    )
    return main_rows.unionByName(state_rows).orderBy("kind", "k")


@register(
    "multimodal_mp3_spectral",
    oracle="""
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 48),
        g0 AS (
            SELECT d.doc_id, 0 AS granule,
                   CAST(SUM(CASE WHEN u >= 0 THEN POWER(u, 4)
                                 ELSE -POWER(-u, 4) END)
                        * POWER(8, d.doc_id % 3) AS BIGINT) AS val,
                   CAST(SUM(CASE WHEN u <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_nonzero
            FROM d CROSS JOIN (
                SELECT k, doc_id, ((doc_id + k) % 15) - 7 AS u
                FROM d, range(16) t(k)) s
            WHERE s.doc_id = d.doc_id
            GROUP BY d.doc_id),
        g1 AS (
            SELECT d.doc_id, 1 AS granule,
                   CAST(SUM(CASE WHEN w >= 0 THEN POWER(w, 4)
                                 ELSE -POWER(-w, 4) END)
                        * POWER(8, d.doc_id % 3) AS BIGINT) AS val,
                   CAST(SUM(CASE WHEN w <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_nonzero
            FROM d CROSS JOIN (
                SELECT k, doc_id, ((doc_id * 3 + k) % 3) - 1 AS w
                FROM d, range(8) t(k)) s
            WHERE s.doc_id = d.doc_id
            GROUP BY d.doc_id)
        SELECT doc_id, granule, val, n_nonzero FROM g0
        UNION ALL SELECT doc_id, granule, val, n_nonzero FROM g1
        ORDER BY doc_id, granule
    """,
    tags=("B10", "multimodal", "audio"),
    doc="MP3 Layer III decode with an ANALYTIC oracle over the "
    "SPEC-EXACT stages: per doc a real MPEG-1 frame is assembled "
    "(build_mp3_frame_l3 — Huffman-coded big-values with an "
    "auto-selected shipped table, count1 quadruples, global_gain "
    "210 + 4*(doc_id%3)) and decoded by the real chain (side info, "
    "scalefactors, Huffman with bit-exact part2_3_length accounting, "
    "power-law requantization). Because xr = sign(v)*|v|^(4/3)*2^m "
    "with integer m, the per-granule sum of rint(xr^3) is the exact "
    "integer sum(sign(v)*v^4)*8^m — which the oracle states in pure "
    "SQL from the doc_id formula without seeing an MP3 byte. Any "
    "side-info, table, sign-bit, bit-accounting, or exponent defect "
    "changes val or n_nonzero (operators/mp3.py decode_mp3_spectra).",
)
def multimodal_mp3_spectral(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.mp3 import (
        build_mp3_frame_l3,
        decode_mp3_spectra,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 48).select("doc_id")

    def op(batches):
        cols = ["doc_id", "granule", "val", "n_nonzero"]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                gr0 = [((did + k) % 15) - 7 for k in range(16)]
                gr1 = [((did * 3 + k) % 3) - 1 for k in range(8)]
                frame = build_mp3_frame_l3(
                    [gr0, gr1], global_gain=210 + 4 * (did % 3)
                )
                for _fi, gi, _c, xr in decode_mp3_spectra(frame):
                    cubes = np.rint(xr ** 3).astype(np.int64)
                    rows.append(
                        {
                            "doc_id": did,
                            "granule": gi,
                            "val": int(cubes.sum()),
                            "n_nonzero": int((xr != 0).sum()),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return d.mapInPandas(
        op, "doc_id long, granule int, val long, n_nonzero long"
    ).orderBy("doc_id", "granule")


@register(
    "multimodal_exif_privacy",
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
               CAST(1 + doc_id % 8 AS INT) AS orientation,
               'cam-' || CAST(doc_id % 5 AS VARCHAR) AS make,
               CAST(doc_id % 90 AS INT) AS gps_d,
               CAST(doc_id * 7 % 60 AS INT) AS gps_m,
               CAST(doc_id * 13 % 60 AS INT) AS gps_s,
               FALSE AS exif_after_strip,
               -CAST(POWER(2, 8 * ((11 + doc_id % 16) // 4)) AS BIGINT) AS ahash
        FROM documents WHERE doc_id < 64
        ORDER BY doc_id
    """,
    tags=("B10", "multimodal", "privacy"),
    doc="EXIF extraction + GPS-PII stripping with an ANALYTIC oracle: "
    "per doc a real two-tone JPEG gets a spec-literal APP1/Exif segment "
    "(orientation/make varying with doc_id, GPS DMS latitude, byte "
    "order II for even ids / MM for odd). The pipeline runs the real "
    "operators: with_exif extracts the tags (pinned against the "
    "generating formulas), strip_image_metadata removes every APPn/COM "
    "segment BYTE-LEVEL, a second with_exif proves the EXIF (and GPS) "
    "is gone, and the aHash of the STRIPPED payload equals the analytic "
    "-(2^(8*r0)) — proving the scan data survived the strip "
    "bit-identically. The oracle never sees a JPEG or TIFF byte "
    "(operators/exif.py).",
)
def multimodal_exif_privacy(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.exif import (
        build_exif_app1,
        insert_app1,
        strip_image_metadata,
        with_exif,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        with_average_hash,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 64).select("doc_id")

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                split = 8 + did % 16
                a = (did * 7) % 96
                b = 160 + (did * 11) % 96
                px = np.full((32, 32, 3), a, dtype=np.uint8)
                px[split:, :, :] = b
                app1 = build_exif_app1(
                    {
                        "make": f"cam-{did % 5}",
                        "orientation": 1 + did % 8,
                        "pixel_width": 32,
                        "pixel_height": 32,
                    },
                    gps_dms=(did % 90, did * 7 % 60, did * 13 % 60),
                    byte_order="II" if did % 2 == 0 else "MM",
                )
                rows.append(
                    {
                        "media_id": did,
                        "kind": "image",
                        "payload": insert_app1(encode_jpeg(px, quality=90), app1),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    media = d.mapInPandas(op, MEDIA_SCHEMA)
    pre = with_exif(media).select(
        F.col("media_id").alias("doc_id"),
        "byte_order",
        "orientation",
        "make",
        "gps_d",
        "gps_m",
        "gps_s",
    )
    stripped = strip_image_metadata(media).select(
        "media_id", "kind", "payload", "meta"
    )
    post = with_exif(stripped).select(
        F.col("media_id").alias("doc_id"),
        F.col("has_exif").alias("exif_after_strip"),
    )
    hashed = with_average_hash(stripped).select(
        F.col("media_id").alias("doc_id"), "ahash"
    )
    return (
        pre.join(post, "doc_id").join(hashed, "doc_id").orderBy("doc_id")
    )


@register(
    "ingest_zip_media",
    oracle="""
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 32),
        txt AS (
            SELECT d.doc_id, 'm' || k.k || '.txt' AS member_name,
                   'text' AS kind,
                   CAST(LENGTH(CAST(d.doc_id AS VARCHAR)) + 3
                        + d.doc_id % 7 + k.k AS BIGINT) AS n_bytes,
                   CAST(NULL AS BIGINT) AS ahash
            FROM d CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)),
        img AS (
            SELECT doc_id, 'img.png' AS member_name, 'image' AS kind,
                   CAST(NULL AS BIGINT) AS n_bytes,
                   -CAST(POWER(2, 8 * ((5 + doc_id % 8) // 2)) AS BIGINT)
                       AS ahash
            FROM d)
        SELECT doc_id, member_name, kind, n_bytes, ahash FROM txt
        UNION ALL SELECT doc_id, member_name, kind, n_bytes, ahash FROM img
        ORDER BY doc_id, member_name
    """,
    tags=("B1", "B10", "multimodal", "archive"),
    doc="Zip-shard ingestion END-TO-END with an ANALYTIC oracle: per doc "
    "a real STORED zip (deterministic central directory) bundles four "
    "text members of formula-known sizes and one two-tone PNG; "
    "explode_archives yields the member rows inside the executors, "
    "members_to_media routes the PNG into MEDIA_SCHEMA, and the image "
    "branch decodes + aHashes it — expected bits analytic "
    "(-(2^(8·r0)), r0 = ceil(split/2) on the 16×16 subsample grid). "
    "Any zip-structure, member-extraction, routing, or decode defect "
    "changes sizes, names, or the hash; the oracle never sees a zip or "
    "PNG byte (operators/archives.py).",
)
def ingest_zip_media(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.archives import (
        build_zip,
        explode_archives,
        members_to_media,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        encode_png,
        with_average_hash,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 32).select("doc_id")

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                members = [
                    (f"m{k}.txt", f"{did}:{k}:".encode() + b"x" * (did % 7 + k))
                    for k in range(4)
                ]
                split = 4 + did % 8
                a = (did * 7) % 96
                b = 160 + (did * 11) % 96
                px = np.full((16, 16, 3), a, dtype=np.uint8)
                px[split:, :, :] = b
                members.append(("img.png", encode_png(px)))
                rows.append(
                    {"archive_id": did, "payload": build_zip(members)}
                )
            yield pd.DataFrame(rows, columns=["archive_id", "payload"])

    archives = d.mapInPandas(op, "archive_id long, payload binary")
    members = explode_archives(archives)
    txt_rows = members.where(
        F.col("parse_error").isNull() & F.col("member_name").endswith(".txt")
    ).select(
        F.col("archive_id").alias("doc_id"),
        "member_name",
        F.lit("text").alias("kind"),
        "n_bytes",
        F.lit(None).cast("long").alias("ahash"),
    )
    media = members_to_media(members)
    hashed = with_average_hash(media)
    img_rows = (
        members.where(
            F.col("parse_error").isNull()
            & F.col("member_name").endswith(".png")
        )
        .select(
            F.col("archive_id").alias("doc_id"),
            "member_name",
            F.xxhash64("archive_id", "member_name").alias("media_id"),
        )
        .join(hashed, "media_id")
        .select(
            "doc_id",
            "member_name",
            F.lit("image").alias("kind"),
            F.lit(None).cast("long").alias("n_bytes"),
            "ahash",
        )
    )
    return txt_rows.unionByName(img_rows).orderBy("doc_id", "member_name")


@register(
    "webdataset_roundtrip",
    oracle="""
        SELECT doc_id,
               -CAST(POWER(2, 8 * ((5 + doc_id % 8) // 2)) AS BIGINT) AS ahash,
               CAST(4 AS BIGINT) AS n_shards
        FROM documents WHERE doc_id < 48
        ORDER BY doc_id
    """,
    tags=("B1", "B10", "multimodal", "archive"),
    doc="WebDataset-style shard write + read-back roundtrip with an "
    "ANALYTIC oracle: 48 two-tone PNG media rows are packed into 4 tar "
    "shards (hash-bucketed by xxhash64(media_id) — one shuffle, no "
    "global sort; members sorted, fixed mtimes, byte-deterministic "
    "tars written executor-side), then re-ingested via binaryFile + "
    "explode_archives; every member's doc id is recovered from its "
    "{media_id}.png name and its decoded aHash must equal the analytic "
    "-(2^(8*r0)). n_shards pins that all 4 shard files were written "
    "AND read back. Any packing, naming, tar, extraction, or decode "
    "defect changes rows or the hash (operators/archives.py "
    "write_tar_shards).",
)
def webdataset_roundtrip(spark, sf_dir):
    import shutil

    import numpy as np
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.archives import (
        explode_archives,
        write_tar_shards,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        encode_png,
        with_average_hash,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 48).select("doc_id")

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                split = 4 + did % 8
                a = (did * 7) % 96
                b = 160 + (did * 11) % 96
                px = np.full((16, 16, 3), a, dtype=np.uint8)
                px[split:, :, :] = b
                rows.append(
                    {
                        "media_id": did,
                        "kind": "image",
                        "payload": encode_png(px),
                        "meta": {
                            "width": 16,
                            "height": 16,
                            "sample_rate": None,
                            "n_frames": None,
                            "mime": "image/png",
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    media = d.mapInPandas(op, MEDIA_SCHEMA)
    root = os.path.join(_SCRATCH, "w8_webdataset")
    shutil.rmtree(root, ignore_errors=True)
    manifest = write_tar_shards(media, root, n_shards=4).collect()
    n_shards = len(manifest)

    back = spark.read.format("binaryFile").load(root)
    members = explode_archives(
        back.select(F.xxhash64("path").alias("archive_id"), F.col("content").alias("payload"))
    )
    media2 = members.where(F.col("parse_error").isNull()).select(
        F.split_part(F.col("member_name"), F.lit("."), F.lit(1))
        .cast("long")
        .alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("member_bytes").alias("payload"),
        F.lit(None)
        .cast(
            "struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>"
        )
        .alias("meta"),
    )
    return (
        with_average_hash(media2)
        .select(
            F.col("media_id").alias("doc_id"),
            "ahash",
            F.lit(n_shards).cast("long").alias("n_shards"),
        )
        .orderBy("doc_id")
    )


@register(
    "audio_id3_privacy",
    oracle="""
        SELECT doc_id,
               '2.' || CAST(3 + doc_id % 2 AS VARCHAR) AS id3_version,
               't-' || CAST(doc_id AS VARCHAR) AS title,
               'a-' || CAST(doc_id % 7 AS VARCHAR) AS artist,
               'c' || CAST(doc_id % 3 AS VARCHAR) AS comment,
               CAST(4 AS INT) AS n_frames,
               FALSE AS id3_after_strip,
               CAST(1 AS BIGINT) AS n_audio_frames
        FROM documents WHERE doc_id < 48
        ORDER BY doc_id
    """,
    tags=("B10", "multimodal", "privacy", "audio"),
    doc="ID3v2 tag extraction + stripping (the audio EXIF) with an "
    "ANALYTIC oracle: per doc a real MPEG-2-LSF frame gets a "
    "spec-literal ID3v2.3 (even ids; plain big-endian frame sizes, "
    "latin-1) or v2.4 (odd ids; syncsafe sizes, UTF-8) tag with "
    "doc_id-derived title/artist/encoder/comment. The pipeline runs "
    "the real operators: with_id3 extracts (pinned against the "
    "generating formulas), strip_audio_metadata removes the tag block "
    "byte-level, a second with_id3 proves it gone, and probe_mp3 on "
    "the stripped payload pins that the audio frames survived intact. "
    "The oracle never sees a tag or MP3 byte (operators/id3.py).",
)
def audio_id3_privacy(spark, sf_dir):
    import pandas as pd

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.id3 import (
        build_id3v2,
        strip_audio_metadata,
        with_id3,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.mp3 import (
        build_mp3_frame_lsf,
        probe_mp3,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 48).select("doc_id")
    audio = build_mp3_frame_lsf([1, 1, -1, 1] + [0] * 572)

    def op(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                tag = build_id3v2(
                    {
                        "title": f"t-{did}",
                        "artist": f"a-{did % 7}",
                        "encoder": "mtdp",
                        "comment": f"c{did % 3}",
                    },
                    version=3 + did % 2,
                )
                rows.append(
                    {
                        "media_id": did,
                        "kind": "audio",
                        "payload": tag + audio,
                        "meta": None,
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    media = d.mapInPandas(op, MEDIA_SCHEMA)
    pre = with_id3(media).select(
        F.col("media_id").alias("doc_id"),
        "id3_version",
        "title",
        "artist",
        "comment",
        "n_frames",
    )
    stripped = strip_audio_metadata(media).select(
        "media_id", "kind", "payload", "meta"
    )
    post = with_id3(stripped).select(
        F.col("media_id").alias("doc_id"),
        F.col("has_id3").alias("id3_after_strip"),
    )

    def frames_op(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": [int(m) for m in pdf["media_id"]],
                    "n_audio_frames": [
                        probe_mp3(bytes(p))["n_frames"] for p in pdf["payload"]
                    ],
                }
            )

    frames = stripped.mapInPandas(frames_op, "doc_id long, n_audio_frames long")
    return pre.join(post, "doc_id").join(frames, "doc_id").orderBy("doc_id")


@register(
    "similarity_bitext_margin",
    oracle="""
        WITH src AS (
            SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE label = 0),
        tgt AS (
            SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE label = 1),
        pairs AS (
            SELECT src_id, tgt_id,
                   ROUND(list_dot_product(s.v, t.v)
                         / (sqrt(list_dot_product(s.v, s.v))
                            * sqrt(list_dot_product(t.v, t.v))), 6) AS cosine
            FROM src s CROSS JOIN tgt t),
        ranked AS (
            SELECT src_id, tgt_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY src_id
                                      ORDER BY cosine DESC, tgt_id) AS rs,
                   ROW_NUMBER() OVER (PARTITION BY tgt_id
                                      ORDER BY cosine DESC, src_id) AS rt
            FROM pairs),
        sx AS (SELECT src_id, SUM(CAST(cosine AS DECIMAL(18,6))) AS sx,
                      COUNT(*) AS cx
               FROM ranked WHERE rs <= 4 GROUP BY src_id),
        sy AS (SELECT tgt_id, SUM(CAST(cosine AS DECIMAL(18,6))) AS sy,
                      COUNT(*) AS cy
               FROM ranked WHERE rt <= 4 GROUP BY tgt_id),
        scored AS (
            SELECT p.src_id, p.tgt_id, p.cosine,
                   ROUND(p.cosine * (2 * sx.cx * sy.cy)
                         / CAST(sx.sx * sy.cy + sy.sy * sx.cx AS DOUBLE), 6)
                       AS margin
            FROM pairs p JOIN sx USING (src_id) JOIN sy USING (tgt_id)),
        best AS (
            SELECT src_id, tgt_id, cosine, margin,
                   ROW_NUMBER() OVER (PARTITION BY src_id
                                      ORDER BY margin DESC, tgt_id) AS r
            FROM scored)
        SELECT src_id, tgt_id, cosine, margin, (margin > 1.05) AS mined
        FROM best WHERE r = 1
        ORDER BY src_id
    """,
    tags=("B10", "similarity"),
    doc="Margin-based bitext mining (Artetxe & Schwenk — the "
    "LASER/CCMatrix recipe) over the embeddings table, labels 0/1 as "
    "the two languages: cosine normalized by both sides' k=4 "
    "nearest-neighbor means cancels hubness; each source keeps its best "
    "target with mined = margin > 1.05. Exact brute-force form (the "
    "oracle baseline — candidate generation at scale comes from the "
    "existing LSH/IVF index ops and feeds the SAME margin scoring); "
    "neighbor sums are DECIMAL(18,6)-exact so the hash matches "
    "bit-for-bit (operators/similarity.py bitext_mine).",
)
def similarity_bitext_margin(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.similarity import (
        bitext_mine,
    )

    emb = t(spark, sf_dir, "embeddings")
    return bitext_mine(
        emb.where(F.col("label") == 0),
        emb.where(F.col("label") == 1),
        k=4,
        threshold=1.05,
    ).orderBy("src_id")
