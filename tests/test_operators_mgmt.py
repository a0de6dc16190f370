"""Unit tests for round-4 data-management operators: CDC diff and
privacy release gates."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.cdc import (
    cdc_diff,
    cdc_summary,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.privacy import (
    generalized_release,
    k_anonymity_report,
    suppress_non_anonymous,
)


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, amt double")


def test_cdc_diff_change_types(spark):
    old = _snap(
        spark,
        [
            (1, "a", 1.0),  # unchanged
            (2, "b", 2.0),  # updated value
            (3, None, 3.0),  # NULL -> value = update
            (4, "d", 4.0),  # deleted
            (6, None, 6.0),  # NULL -> NULL = unchanged (null-safe)
        ],
    )
    new = _snap(
        spark,
        [
            (1, "a", 1.0),
            (2, "B", 2.0),
            (3, "c", 3.0),
            (5, "e", 5.0),  # inserted
            (6, None, 6.0),
        ],
    )
    d = cdc_diff(old, new, ["k"], ["v", "amt"], include_unchanged=True)
    got = {r["k"]: r["change_type"] for r in d.collect()}
    assert got == {
        1: "unchanged",
        2: "update",
        3: "update",
        4: "delete",
        5: "insert",
        6: "unchanged",
    }
    # default excludes unchanged
    d2 = cdc_diff(old, new, ["k"], ["v", "amt"])
    assert {r["k"] for r in d2.collect()} == {2, 3, 4, 5}
    # before/after values survive on updates
    row2 = d2.where(F.col("k") == 2).collect()[0]
    assert row2["old_v"] == "b" and row2["new_v"] == "B"


def test_cdc_summary_checksum_partition_invariant(spark):
    old = _snap(spark, [(i, "x", float(i)) for i in range(100)])
    new = _snap(spark, [(i, "x" if i % 3 else "y", float(i)) for i in range(5, 105)])
    d = cdc_diff(old, new, ["k"], ["v", "amt"])
    s1 = {tuple(r) for r in cdc_summary(d, ["k"]).collect()}
    s2 = {tuple(r) for r in cdc_summary(d.repartition(7), ["k"]).collect()}
    assert s1 == s2 and len(s1) >= 2


def test_prefix_filtered_jaccard_equals_full_index(spark, sf_smoke):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = t(spark, sf_smoke, "documents").where(F.col("doc_id") < 150)
    for tau in (0.2, 0.5):
        full = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(docs, threshold=tau).collect()
        }
        pref_df = ngram_jaccard_pairs_prefix(docs, threshold=tau)
        pref = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in pref_df.collect()
        }
        assert pref == full, f"tau={tau}: prefix filtering changed the result"


def test_change_feed_between_snapshots(spark, tmp_path):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import write_snapshot
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.cdc import change_feed

    root = str(tmp_path / "cf")
    write_snapshot(_snap(spark, [(1, "a", 1.0), (2, "b", 2.0)]), root)
    write_snapshot(_snap(spark, [(1, "a", 1.0), (2, "B", 2.0), (3, "c", 3.0)]), root)
    feed = {
        r["k"]: r["change_type"]
        for r in change_feed(spark, root, 1, 2, ["k"], ["v", "amt"]).collect()
    }
    assert feed == {2: "update", 3: "insert"}


def test_k_anonymity_report_and_suppression(spark):
    rows = []
    # cell (1, 'A'): 6 rows, 3 distinct sensitive values -> releasable at k=5,l=2
    for i in range(6):
        rows.append((1, "A", i % 3))
    # cell (2, 'A'): 2 rows -> fails k
    rows += [(2, "A", 0), (2, "A", 1)]
    # cell (3, 'B'): 7 rows but single sensitive value -> fails l
    rows += [(3, "B", 9)] * 7
    df = spark.createDataFrame(rows, "region int, seg string, sens int")

    rep = k_anonymity_report(df, ["region", "seg"], "sens", k=5, l=2)
    by_cell = {(r["region"], r["seg"]): r for r in rep.collect()}
    assert by_cell[(1, "A")]["releasable"]
    assert not by_cell[(2, "A")]["is_k_anonymous"]
    assert by_cell[(3, "B")]["is_k_anonymous"] and not by_cell[(3, "B")]["is_l_diverse"]

    kept = suppress_non_anonymous(df, ["region", "seg"], "sens", k=5, l=2)
    assert kept.count() == 6
    assert {(r["region"], r["seg"]) for r in kept.collect()} == {(1, "A")}
    # suppression keeps row content intact (it is a semi-join, not a projection)
    assert set(kept.columns) == set(df.columns)


def test_asof_join_tolerance_nulls_stale_matches(spark):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 1, 100.0), (2, 1, 500.0), (3, 2, 50.0)], "id int, k int, ts double"
    )
    right = spark.createDataFrame(
        [(10, 1, 90.0, "a"), (11, 1, 480.0, "b"), (12, 2, 10.0, "c")],
        "rid int, k int, ts double, v string",
    )
    out = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], tolerance_seconds=30,
        ).collect()
    }
    # id=1: right at 90 (gap 10s) within 30s; id=2: right at 480 (gap 20s)
    # within; id=3: right at 10 (gap 40s) -> stale, nulled
    assert out == {1: "a", 2: "b", 3: None}

    fwd = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], direction="forward", tolerance_seconds=15,
        ).collect()
    }
    # forward: id=1 (ts=100) -> next right at 480: gap 380 -> nulled;
    # id=3 (ts=50) -> no later right row -> null
    assert fwd == {1: None, 2: None, 3: None}


def test_generalized_release_ladder_conserves_rows(spark):
    # fine = (city, seg); coarse = (country, seg)
    rows = (
        [("us-nyc", "US", "A")] * 6      # passes at city level
        + [("us-sfo", "US", "A")] * 2    # fails city, merges into (US, A)
        + [("us-chi", "US", "A")] * 3    # fails city, merges into (US, A)
        + [("fr-par", "FR", "B")] * 2    # fails both levels -> suppressed
    )
    df = spark.createDataFrame(rows, "city string, country string, seg string")
    rel = generalized_release(df, [["city", "seg"], ["country", "seg"]], k=5)
    got = {(r["level"], r["qi"]): r["group_n"] for r in rel.collect()}
    assert got[(0, "us-nyc/A")] == 6
    assert got[(1, "US/A")] == 5  # the two failing city cells merged
    assert got[(2, "*")] == 2
    # every input row is accounted for exactly once across rungs
    assert sum(got.values()) == len(rows)


def test_resize_ppm_exact_nearest_neighbor(spark):
    import numpy as np

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_ppm,
        resize_images,
        resize_ppm,
    )

    # 4x4 gradient image: pixel (y, x) = (10y, 10x, y+x)
    src = np.zeros((4, 4, 3), dtype=np.uint8)
    for y in range(4):
        for x in range(4):
            src[y, x] = (10 * y, 10 * x, y + x)
    payload = b"P6\n4 4\n255\n" + src.tobytes()

    # pure-function check: NN with src=(dst*4)//2 picks rows/cols 0 and 2
    out = resize_ppm(payload, 2, 2)
    px, w, h = decode_ppm(out)
    assert (w, h) == (2, 2)
    assert np.array_equal(px, src[[0, 2]][:, [0, 2]])

    # through the Arrow mapInPandas operator, and the stub passthrough
    rows = [
        (1, "image", bytearray(payload), (4, 4, None, None, "image/x-portable-pixmap")),
        (2, "image", bytearray(b"\x89PNG fake"), (8, 8, None, None, "image/png")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in resize_images(media, 2, 2).collect()}
    px2, w2, h2 = decode_ppm(bytes(got[1]["payload"]))
    assert (w2, h2) == (2, 2) and np.array_equal(px2, src[[0, 2]][:, [0, 2]])
    assert bytes(got[2]["payload"]) == b"\x89PNG fake"  # stub path untouched
    assert got[2]["meta"]["width"] == 2 and got[1]["meta"]["height"] == 2


def test_resample_wav_linear_interpolation(spark):
    import io
    import wave

    import numpy as np

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_wav,
        resample_audio,
        resample_wav,
    )

    # 8 kHz sine, 100 ms
    sr = 8000
    t = np.arange(int(sr * 0.1)) / sr
    x = np.sin(2 * np.pi * 440 * t)
    pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(pcm.tobytes())
    payload = buf.getvalue()

    out = resample_wav(payload, 4000)
    y, out_sr, ch = decode_wav(out)
    assert out_sr == 4000 and ch == 1
    assert len(y) == len(x) // 2
    # independent reference: np.interp on the same clamped grid
    src = pcm.astype(np.float64) / 32768.0
    pos = np.arange(len(y)) * (sr / 4000)
    ref = np.interp(pos, np.arange(len(src)), src)
    ref_pcm = np.clip(np.round(ref * 32767.0), -32768, 32767) / 32768.0
    assert np.max(np.abs(y - ref_pcm)) < 1e-9

    # operator path + stub passthrough
    rows = [
        (1, "audio", bytearray(payload), (None, None, sr, None, "audio/wav")),
        (2, "audio", bytearray(b"ID3 fake mp3"), (None, None, 44100, None, "audio/mpeg")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in resample_audio(media, 4000).collect()}
    y2, sr2, _ = decode_wav(bytes(got[1]["payload"]))
    assert sr2 == 4000 and len(y2) == len(y)
    assert bytes(got[2]["payload"]) == b"ID3 fake mp3"
    assert got[2]["meta"]["sample_rate"] == 4000


def test_equidepth_sampled_agrees_with_exact_ntile(spark):
    """The sampled-cutpoint equi-depth histogram (no global sort) must
    agree with the exact NTILE form: equal-mass buckets within the
    sketch's rank tolerance, monotone boundaries, identical totals."""
    from pyspark.sql import functions as F

    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.saas_ops_wave3 import (
        equidepth_histogram_sampled,
    )

    df = spark.range(10_000).select(
        (((F.col("id") * 2654435761) % 100_000) / 7.0).alias("v")
    )
    n_buckets, rel_err = 10, 1e-3
    got = equidepth_histogram_sampled(df, "v", n_buckets, rel_err).collect()
    assert [r.bucket for r in got] == list(range(1, n_buckets + 1))
    n_total = sum(r.n for r in got)
    assert n_total == 10_000
    # equal mass within the sketch's rank error (+1 for the tie boundary)
    tol = int(n_total * rel_err) + n_buckets
    for r in got:
        assert abs(r.n - n_total // n_buckets) <= tol, (r.bucket, r.n)
    # boundaries monotone and non-overlapping
    for a, b in zip(got, got[1:]):
        assert a.hi <= b.lo
    # the decimal-exact grand total matches a direct aggregation
    direct = df.agg(
        F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
    ).collect()[0][0]
    assert abs(sum(r.total for r in got) - direct) < 1e-6
