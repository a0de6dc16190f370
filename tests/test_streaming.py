"""B8 streaming semantics tests: the pipeline as a real Structured Streaming
query (batch/stream parity by construction), watermark late-data behavior,
stateful dedup (SURVEY.md §5 item 3).
"""

from __future__ import annotations

import json
import os

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake, stream_json_source
from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import start_ingest_stream

RAW_SCHEMA = T.StructType(
    [T.StructField("tenant_id", T.StringType()), T.StructField("raw", T.StringType())]
)


def _write_raw_json(path: str, n: int = 30) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "batch0.json"), "w") as f:
        for i in range(n):
            rec = {
                "tenant_id": f"t{i % 2}",
                "raw": json.dumps(
                    {"Data": {"device": "TV", "event": f"e{i}", "region": "US"}}
                ),
            }
            f.write(json.dumps(rec) + "\n")
        # one malformed payload → quarantine
        f.write(json.dumps({"tenant_id": "t0", "raw": "{oops"}) + "\n")


def test_streaming_ingest_pipeline(spark, tmp_path):
    """A1→A5 as one streaming query; results equal the batch path by construction."""
    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    _write_raw_json(src)

    stream = stream_json_source(spark, src, RAW_SCHEMA)
    assert stream.isStreaming
    q = start_ingest_stream(stream, lake, ckpt, available_now=True)
    q.awaitTermination(120)

    out = read_lake(spark, lake)
    assert out.count() == 30
    assert set(c for c in out.columns) >= {"event", "TenantId", "tenant", "year", "hour"}
    # tenant partition dirs exist
    assert any(d.startswith("tenant=") for d in os.listdir(lake))
    # quarantine got the malformed record
    err = spark.read.json(os.path.join(lake, "error", "validation-failed"))
    assert err.count() == 1


def _land_backlog(src: str, n_files: int = 40, per_file: int = 5) -> int:
    """A backlog of small landing files with distinct events; returns the
    number of events landed."""
    os.makedirs(src, exist_ok=True)
    for k in range(n_files):
        with open(os.path.join(src, f"f{k:03d}.json"), "w") as f:
            for i in range(per_file):
                payload = {"Data": {"device": "TV", "event": f"e{k}-{i}", "region": "US"}}
                f.write(json.dumps({"tenant_id": f"t{k % 3}", "raw": json.dumps(payload)}) + "\n")
    return n_files * per_file


def _drain(spark, src: str, lake: str, ckpt: str, **kw) -> list[int]:
    """Run the ingest stream over ``src`` to completion; returns the input
    rows of each micro-batch that read data."""
    q = start_ingest_stream(
        stream_json_source(spark, src, RAW_SCHEMA), lake, ckpt, available_now=True, **kw
    )
    q.awaitTermination(120)
    assert q.exception() is None
    return [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]


def _assert_exactly_once(spark, lake: str, n_events: int) -> None:
    out = read_lake(spark, lake)
    assert out.count() == n_events
    assert out.select("event").distinct().count() == n_events


def test_backlog_drains_in_one_byte_bounded_batch(spark, tmp_path):
    """40 small landing files sit far under MAX_BYTES_PER_TRIGGER, so one
    micro-batch takes the whole backlog."""
    src, lake = str(tmp_path / "src"), str(tmp_path / "lake")
    n = _land_backlog(src)
    assert _drain(spark, src, lake, str(tmp_path / "ckpt")) == [n]
    _assert_exactly_once(spark, lake, n)


def test_byte_bound_splits_backlog(spark, tmp_path, monkeypatch):
    """A bound of a few KB splits the same backlog into several batches;
    every event still lands exactly once, on the exactly-once sink."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark import sources

    monkeypatch.setattr(sources, "MAX_BYTES_PER_TRIGGER", 4096)
    src, lake = str(tmp_path / "src"), str(tmp_path / "lake")
    n = _land_backlog(src)
    batches = _drain(spark, src, lake, str(tmp_path / "ckpt"), exactly_once=True)
    assert len(batches) >= 3 and sum(batches) == n
    _assert_exactly_once(spark, lake, n)


def test_clean_batch_writes_no_quarantine(spark, tmp_path):
    """A micro-batch without malformed rows creates no error/ directory,
    and one with a malformed row still quarantines it."""
    src, lake, ckpt = str(tmp_path / "src"), str(tmp_path / "lake"), str(tmp_path / "ckpt")
    n = _land_backlog(src, n_files=3)
    _drain(spark, src, lake, ckpt)
    _assert_exactly_once(spark, lake, n)
    assert not os.path.exists(os.path.join(lake, "error"))

    with open(os.path.join(src, "bad.json"), "w") as f:
        f.write(json.dumps({"tenant_id": "t0", "raw": "{oops"}) + "\n")
    _drain(spark, src, lake, ckpt)
    err = spark.read.json(os.path.join(lake, "error", "validation-failed"))
    assert [r["raw_record"] for r in err.collect()] == ["{oops"]


def test_zero_byte_landing_file_is_a_noop_batch(spark, tmp_path):
    """An empty landing file runs a batch whose lake write has no task;
    the sink must read that as nothing to quarantine, not fail."""
    src, lake = str(tmp_path / "src"), str(tmp_path / "lake")
    os.makedirs(src)
    open(os.path.join(src, "empty.json"), "w").close()
    _drain(spark, src, lake, str(tmp_path / "ckpt"))
    assert not os.path.exists(os.path.join(lake, "error"))


def test_streaming_tumbling_window_matches_batch(spark, tmp_path):
    """Streaming windowed agg == batch windowed agg on the same data."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
    from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import tumbling_counts

    events = t(spark, "/root/testdata/sf0.001", "events")
    # write events to a parquet dir and re-read as a stream
    src = str(tmp_path / "events_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    agg = tumbling_counts(stream.withWatermark("ts", "1 hour"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql(
        "SELECT window_start, event_type, n, sum_value FROM tumbling_out"
    ).toPandas()
    batch = tumbling_counts(events).toPandas()
    s = streamed.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    b = batch.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    assert len(s) == len(b)
    assert (s["n"].values == b["n"].values).all()
    assert (s["sum_value"].values == b["sum_value"].values).all()


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    """dropDuplicates with watermark: duplicated keys arrive once downstream."""
    src = str(tmp_path / "dup_src")
    os.makedirs(src, exist_ok=True)
    rows = [{"event_id": i % 10, "ts": f"2024-01-01T00:{i:02d}:00.000Z"} for i in range(30)]
    with open(os.path.join(src, "a.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    stream = spark.readStream.schema(schema).json(src)
    dedup = stream.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_out").toPandas()
    assert sorted(got["event_id"]) == list(range(10))


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: custom per-key state across micro-batches."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import running_user_totals

    src = str(tmp_path / "state_src")
    os.makedirs(src, exist_ok=True)
    # two files → two micro-batches (maxFilesPerTrigger=1)
    for b in range(2):
        with open(os.path.join(src, f"b{b}.json"), "w") as f:
            for i in range(10):
                f.write(
                    json.dumps(
                        {
                            "user_id": i % 3,
                            "value": 1.5,
                            "ts": f"2024-01-01T0{b}:0{i % 10}:00.000Z",
                        }
                    )
                    + "\n"
                )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("state_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, max(n) AS n, max(total) AS total FROM state_out GROUP BY user_id"
    ).toPandas().sort_values("user_id")
    # 20 events, users 0..2 → 7/7/6 splits; final totals = n * 1.5
    assert got.n.sum() == 20
    assert (got.total.values == got.n.values * 1.5).all()


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Clean-restart no-replay: stop the query, add new input, restart from
    the same checkpoint — previously-processed files must not be reprocessed
    (Flink-checkpoint parity, kinesis-stack.ts:200-205). NOTE this covers
    clean stop/restart only; the sink overall is at-least-once (a crash
    between append and checkpoint commit replays the batch — see
    start_ingest_stream docstring)."""
    src = str(tmp_path / "ck_src")
    lake = str(tmp_path / "ck_lake")
    ckpt = str(tmp_path / "ck_ckpt")
    os.makedirs(src, exist_ok=True)

    def write_batch(fname: str, start: int, n: int) -> None:
        with open(os.path.join(src, fname), "w") as f:
            for i in range(start, start + n):
                f.write(
                    json.dumps(
                        {
                            "tenant_id": "t0",
                            "raw": json.dumps(
                                {"Data": {"device": "TV", "event": f"e{i}", "region": "US"}}
                            ),
                        }
                    )
                    + "\n"
                )

    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake

    write_batch("a.json", 0, 10)
    q = start_ingest_stream(
        stream_json_source(spark, src, RAW_SCHEMA), lake, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert read_lake(spark, lake).count() == 10

    write_batch("b.json", 10, 5)
    q2 = start_ingest_stream(
        stream_json_source(spark, src, RAW_SCHEMA), lake, ckpt, available_now=True
    )
    q2.awaitTermination(120)
    out = read_lake(spark, lake)
    assert out.count() == 15
    assert out.select("event").distinct().count() == 15


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream inner join (B8 advanced): clicks joined to
    purchases within a ±10-minute interval per user."""
    import pandas as pd

    src_a = str(tmp_path / "ss_a")
    src_b = str(tmp_path / "ss_b")
    for src, etype in [(src_a, "click"), (src_b, "purchase")]:
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, "data.json"), "w") as f:
            for i in range(20):
                f.write(
                    json.dumps(
                        {
                            "event_id": i,
                            "user_id": i % 5,
                            "ts": f"2024-01-01T00:{i + (2 if etype == 'purchase' else 0):02d}:00.000Z",
                        }
                    )
                    + "\n"
                )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    clicks = (
        spark.readStream.schema(schema).json(src_a)
        .withColumnRenamed("ts", "click_ts")
        .withColumnRenamed("event_id", "click_id")
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        spark.readStream.schema(schema).json(src_b)
        .withColumnRenamed("ts", "purchase_ts")
        .withColumnRenamed("event_id", "purchase_id")
        .withColumnRenamed("user_id", "p_user_id")
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts BETWEEN click_ts AND click_ts + INTERVAL 10 MINUTES
            """
        ),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT click_id, purchase_id FROM ss_join_out").toPandas()
    assert len(got) > 0
    # batch equivalence: same join on static frames
    a = spark.read.schema(schema).json(src_a)
    b = spark.read.schema(schema).json(src_b)
    batch = a.withColumnRenamed("ts", "click_ts").withColumnRenamed("event_id", "click_id").join(
        b.withColumnRenamed("ts", "purchase_ts")
        .withColumnRenamed("event_id", "purchase_id")
        .withColumnRenamed("user_id", "p_user_id"),
        F.expr(
            "user_id = p_user_id AND purchase_ts BETWEEN click_ts AND click_ts + INTERVAL 10 MINUTES"
        ),
    )
    assert len(got) == batch.count()


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with watermark: events arriving later than
    the watermark horizon are dropped, on-time events are not (◐ property
    from SURVEY §2 B8 / §5 item 3)."""
    src = str(tmp_path / "late_src")
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    os.makedirs(src, exist_ok=True)
    # batch 1: events at minute 0-4 and a high-watermark event at minute 40
    with open(os.path.join(src, "b1.json"), "w") as f:
        for m in [0, 1, 2, 3, 4, 40]:
            f.write(json.dumps({"event_id": m, "ts": f"2024-01-01T00:{m:02d}:00.000Z"}) + "\n")

    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )

    def run_once():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out).toPandas()
    # the [00:00,00:05) window closed with exactly the 5 on-time events
    closed = first[first.ws == pd.Timestamp("2024-01-01 00:00:00")]
    assert len(closed) == 1 and int(closed.n.iloc[0]) == 5

    # batch 2: a late event at minute 1 — watermark advanced to 00:30, the
    # window is finalized, so the event must be dropped on replay
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write(json.dumps({"event_id": 99, "ts": "2024-01-01T00:01:00.000Z"}) + "\n")
    run_once()
    second = spark.read.parquet(out).toPandas()
    again = second[second.ws == pd.Timestamp("2024-01-01 00:00:00")]
    assert len(again) == 1 and int(again.n.iloc[0]) == 5  # unchanged; late data dropped


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the watermark window
    collapse even when their event-times differ (dropDuplicates would treat
    (id, ts) re-sends with a drifted ts as distinct keys); the state for a
    key is droppable once the watermark passes — bounded state at 100 TB/day
    ingest, unlike an unbounded dropDuplicates on event_id alone."""
    src = str(tmp_path / "dupw_src")
    os.makedirs(src, exist_ok=True)
    # each id sent 3x with ts drift of 0/1/2 minutes — same logical event
    rows = []
    for i in range(10):
        for drift in range(3):
            rows.append({"event_id": i, "ts": f"2024-01-01T00:{i + drift:02d}:00.000Z"})
    with open(os.path.join(src, "a.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    stream = spark.readStream.schema(schema).json(src)
    dedup = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(["event_id"])
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_within_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_within_out").toPandas()
    assert sorted(got["event_id"]) == list(range(10))


def test_exactly_once_sink_replay_is_idempotent(spark, tmp_path):
    """exactly_once mode: re-delivering the SAME epoch (crash between write
    and checkpoint commit) must overwrite, not duplicate; a new epoch must
    append. The at-least-once default under the same replay duplicates —
    asserted as the contrast."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import write_lake
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake
    from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import (
        epoch_idempotent_write,
    )

    rows = [
        ("t0", json.dumps({"Data": {"device": "TV", "event": f"e{i}", "region": "US"}}))
        for i in range(10)
    ]
    raw = spark.createDataFrame(rows, "tenant_id string, raw string")
    res = ingest_batch(raw, ingest_ts=1700000000)

    eo_lake = str(tmp_path / "eo_lake")
    epoch_idempotent_write(res.valid, eo_lake, epoch_id=7)
    epoch_idempotent_write(res.valid, eo_lake, epoch_id=7)  # replayed epoch
    assert read_lake(spark, eo_lake).count() == 10  # no duplicates
    epoch_idempotent_write(res.valid, eo_lake, epoch_id=8)  # next epoch
    assert read_lake(spark, eo_lake).count() == 20
    assert "_epoch" not in read_lake(spark, eo_lake).columns

    alo_lake = str(tmp_path / "alo_lake")
    write_lake(res.valid, alo_lake)
    write_lake(res.valid, alo_lake)  # same replay under append mode
    assert read_lake(spark, alo_lake).count() == 20  # duplicated — the contrast


def test_tws_variant_gated_when_protobuf_missing(spark):
    """transformWithState needs google.protobuf for its state-server wire
    protocol; the tws variant must fail fast at construction (not crash
    the stream mid-run) when it is absent, and work when present."""
    import pytest

    from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import (
        transform_with_state_available,
        user_value_ewma_tws,
    )

    if transform_with_state_available():
        pytest.skip("protobuf present: gate not exercised (tws path usable)")
    with pytest.raises(RuntimeError, match="protobuf"):
        user_value_ewma_tws(None)


def test_stateful_ewma_stream_matches_batch(spark, tmp_path):
    """Keyed-state EWMA folded across two micro-batches equals the same
    fold over the whole history at once (stream/batch parity)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import user_value_ewma

    src = str(tmp_path / "tws_src")
    os.makedirs(src, exist_ok=True)
    vals = [1.0, 5.0, 3.0, 8.0, 2.0, 4.0]
    rows_per_batch = 3
    for b in range(2):
        path = os.path.join(src, f"b{b}.json")
        with open(path, "w") as f:
            for i in range(rows_per_batch):
                idx = b * rows_per_batch + i
                f.write(
                    json.dumps(
                        {
                            "user_id": idx % 2,
                            "value": vals[idx],
                            "ts": f"2024-01-01T0{b}:0{i}:00.000Z",
                        }
                    )
                    + "\n"
                )
        # The file stream source orders micro-batches by mtime; two files
        # written back-to-back can land on the same timestamp, making batch
        # order (and hence the EWMA fold order) nondeterministic. Pin it.
        mtime = 1_700_000_000 + b * 60
        os.utime(path, (mtime, mtime))
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
    q = (
        user_value_ewma(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted row per user is the final state
    got = (
        spark.sql(
            """SELECT user_id, ewma, peak, n FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n DESC) rk
                 FROM tws_out) WHERE rk = 1"""
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    # batch twin: fold the whole JSON history per user in ts order
    hist = spark.read.schema(schema).json(src).toPandas().sort_values("ts")
    want = []
    for uid, grp in hist.groupby("user_id"):
        ewma, peak, n = 0.0, float("-inf"), 0
        for v in grp["value"]:
            ewma = v if n == 0 else 0.2 * v + 0.8 * ewma
            peak = max(peak, v)
            n += 1
        want.append((uid, round(ewma, 6), peak, n))
    want.sort()
    print("GOT:\n", got); print("WANT:", want)
    assert got[["user_id", "n"]].values.tolist() == [[u, n] for u, _, _, n in want]
    assert all(abs(got.loc[i, "ewma"] - w[1]) < 1e-9 for i, w in enumerate(want))
    assert all(got.loc[i, "peak"] == w[2] for i, w in enumerate(want))
    # hand-check one user: user 0 sees vals[0], vals[2], vals[4] in ts order
    e = vals[0]
    for v in (vals[2], vals[4]):
        e = 0.2 * v + 0.8 * e
    assert abs(got.loc[0, "ewma"] - round(e, 6)) < 1e-9


def test_late_drop_stream_matches_twin(spark, tmp_path):
    """A real watermarked windowed aggregation (append mode) produces
    exactly what the documented late-drop rule predicts — the stream-side
    pin for the graded batch twin `stream_late_drop` (corpus/streaming_batch.py).

    Spark's two-watermark semantics (SPARK-24634): the late-input filter
    for batch k uses the PREVIOUS trigger's watermark — max event time
    over batches <= k-2 minus the 10-min delay — against the row's WINDOW
    END; eviction/emission uses the current watermark. Final output =
    every non-dropped row's window whose end the final watermark passed.
    The fixture keeps timestamps off watermark/window boundaries so
    boundary (<= vs <) semantics cannot flip the result.
    """
    src = str(tmp_path / "late_src")
    os.makedirs(src, exist_ok=True)
    batches = [
        # filter wm for b0/b1: none (no batch k-2 yet)
        ["2024-01-01T10:01:00", "2024-01-01T10:07:00", "2024-01-01T10:20:00"],
        ["2024-01-01T10:35:00", "2024-01-01T10:40:00", "2024-01-01T09:50:00"],  # kept
        # b2 filter wm = 10:20-10m = 10:10 → 10:12 (win end 10:15) kept
        ["2024-01-01T10:50:00", "2024-01-01T11:04:00", "2024-01-01T10:12:00"],
        # b3 filter wm = 10:40-10m = 10:30 → 09:55 (win end 10:00) DROPPED
        ["2024-01-01T11:06:00", "2024-01-01T09:55:00"],
    ]
    for b, rows in enumerate(batches):
        path = os.path.join(src, f"b{b}.json")
        with open(path, "w") as f:
            for ts in rows:
                f.write(json.dumps({"event_type": "view", "ts": ts + ".000Z"}) + "\n")
        mtime = 1_700_000_000 + b * 60
        os.utime(path, (mtime, mtime))
    schema = T.StructType(
        [T.StructField("event_type", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT window.start AS ws, event_type, n FROM late_out ORDER BY ws")
        .toPandas()
    )
    # twin: apply the documented rule by hand
    import datetime as dt
    from collections import Counter

    def p(s):
        return dt.datetime.fromisoformat(s)

    delay = dt.timedelta(minutes=10)
    win_len = dt.timedelta(minutes=15)

    def win_start(ts):
        return ts.replace(minute=(ts.minute // 15) * 15, second=0, microsecond=0)

    kept = []
    for k, rows in enumerate(batches):
        upto = [p(ts) for rs in batches[: k - 1] for ts in rs] if k >= 2 else []
        filter_wm = (max(upto) - delay) if upto else None
        for ts in rows:
            t = p(ts)
            if filter_wm is None or win_start(t) + win_len > filter_wm:
                kept.append(t)
    final_wm = max(p(ts) for rs in batches for ts in rs) - delay
    win = Counter()
    for t in kept:
        if win_start(t) + win_len <= final_wm:
            win[win_start(t)] += 1
    want = sorted(win.items())
    assert [(w.to_pydatetime(), n) for w, n in zip(got["ws"], got["n"])] == want, (got, want)
    # sanity: exactly one row (09:55) was dropped, and the drop is visible —
    # had it survived, the already-emitted 09:45 window would re-emit.
    assert sum(n for _, n in want) == 7
    assert want[0] == (p("2024-01-01T09:45:00"), 1)


def test_windowed_agg_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Append-mode windowed aggregation across a clean stop + restart from
    the same checkpoint: previously-emitted windows must not re-emit, and
    the combined output equals a single-run batch aggregation of all
    closed windows."""
    src = str(tmp_path / "ck_win_src")
    out = str(tmp_path / "ck_win_out")
    ckpt = str(tmp_path / "ck_win_ckpt")
    os.makedirs(src, exist_ok=True)
    schema = T.StructType(
        [T.StructField("event_type", T.StringType()), T.StructField("ts", T.TimestampType())]
    )

    def write_file(name, stamps, mtime):
        path = os.path.join(src, name)
        with open(path, "w") as f:
            for s in stamps:
                f.write(json.dumps({"event_type": "view", "ts": s + ".000Z"}) + "\n")
        os.utime(path, (mtime, mtime))

    def run_stream():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes"), "event_type")
            .agg(F.count("*").alias("n"))
            .select("window.start", "event_type", "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: two files; windows up to the watermark close and land in out
    write_file("b0.json", ["2024-01-01T10:01:00", "2024-01-01T10:05:00"], 1_700_000_000)
    write_file("b1.json", ["2024-01-01T10:31:00", "2024-01-01T10:40:00"], 1_700_000_060)
    run_stream()
    first = spark.read.parquet(out).count()
    # run 2: restart from the same checkpoint with one more file
    write_file("b2.json", ["2024-01-01T11:02:00", "2024-01-01T11:20:00"], 1_700_000_120)
    run_stream()
    got = (
        spark.read.parquet(out)
        .groupBy("start", "event_type")
        .agg(F.sum("n").alias("n"), F.count("*").alias("emissions"))
        .collect()
    )
    # no window row emitted twice across the restart
    assert all(r.emissions == 1 for r in got), got
    assert len(got) > first >= 1
    # combined output = batch agg of windows closed by the final watermark
    batch = spark.read.schema(schema).json(src)
    final_wm = batch.agg(F.max("ts")).collect()[0][0] - __import__("datetime").timedelta(
        minutes=10
    )
    want = {
        ((r.ws), r.n)
        for r in batch.groupBy(
            F.window("ts", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
        .where(F.col("we") <= F.lit(final_wm))
        .collect()
    }
    assert {(r.start, r.n) for r in got} == want, (got, want)


def test_streaming_incremental_dedup(spark, tmp_path):
    """Docs arriving as micro-batches dedup against everything previously
    ingested: batch 2 finds its exact/near matches in batch 1 via the
    persisted index, without recomputing batch 1."""
    import json

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        build_dedup_index,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import (
        start_dedup_stream,
    )

    idx = str(tmp_path / "dedup_index")
    matches = str(tmp_path / "matches")
    ckpt = str(tmp_path / "dedup_ckpt")
    src = str(tmp_path / "docs_src")
    os.makedirs(src)

    base = "the quick brown fox jumps over the lazy dog again and again"
    seed = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark plans")],
        "doc_id long, text string",
    )
    build_dedup_index(seed, idx)

    # two files -> maxFilesPerTrigger=1 forces two micro-batches; doc 10
    # duplicates the seed corpus, doc 20 duplicates doc 10 (cross-batch)
    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": base}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": "novel text one of a kind"}) + "\n")
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write(json.dumps({"doc_id": 20, "text": base}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_dedup_stream(stream, idx, matches, ckpt, available_now=True)
    q.awaitTermination(180)

    got = {
        (r.new_id, r.matched_id, r.match_type)
        for r in spark.read.parquet(matches).collect()
    }
    assert (10, 1, "exact") in got          # batch 1 vs seed corpus
    assert (20, 1, "exact") in got          # batch 2 vs seed corpus
    assert (20, 10, "exact") in got         # batch 2 vs batch 1 — the index absorbed it
    assert not any(n == 11 for n, _, _ in got)  # novel doc matches nothing


def test_streaming_cdc_upsert_matches_batch_apply(spark, tmp_path):
    """A CDC change stream applied to the lake via foreachBatch +
    upsert_partitioned, one micro-batch per file, converges to the same
    table state as applying the full changeset in one batch upsert."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import upsert_partitioned

    chg_dir = str(tmp_path / "changes")
    os.makedirs(chg_dir)
    stream_root = str(tmp_path / "lake_stream")
    batch_root = str(tmp_path / "lake_batch")

    file0 = [  # initial inserts
        {"k": 1, "part": "a", "v": 1.0, "deleted": False, "seq": 1},
        {"k": 2, "part": "a", "v": 2.0, "deleted": False, "seq": 1},
        {"k": 3, "part": "b", "v": 3.0, "deleted": False, "seq": 1},
    ]
    file1 = [  # update k=2, delete k=3, insert k=4 in a new partition
        {"k": 2, "part": "a", "v": 20.0, "deleted": False, "seq": 2},
        {"k": 3, "part": "b", "v": 3.0, "deleted": True, "seq": 2},
        {"k": 4, "part": "c", "v": 4.0, "deleted": False, "seq": 2},
    ]
    schema = "k int, part string, v double, deleted boolean, seq int"
    for name, rows in [("f0.json", file0), ("f1.json", file1)]:
        with open(os.path.join(chg_dir, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(chg_dir)
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(
            lambda batch, _id: upsert_partitioned(
                batch.sparkSession, stream_root, batch, ["k"], ["part"],
                delete_col="deleted", seq_col="seq",
            )
        )
        .start()
    )
    q.awaitTermination(120)

    all_changes = spark.createDataFrame(file0 + file1, schema)
    upsert_partitioned(
        spark, batch_root, all_changes, ["k"], ["part"],
        delete_col="deleted", seq_col="seq",
    )

    got = {(r["k"], r["part"], r["v"]) for r in spark.read.parquet(stream_root).collect()}
    want = {(r["k"], r["part"], r["v"]) for r in spark.read.parquet(batch_root).collect()}
    assert got == want == {(1, "a", 1.0), (2, "a", 20.0), (4, "c", 4.0)}


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Real streaming session_window agg: every emitted (append-mode)
    session must equal the batch session_window computation; append only
    finalizes sessions whose end fell below the final watermark, so the
    emitted set is a prefix-in-event-time subset of the batch set."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t

    events = t(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    def sessionize(df):
        return (
            df.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
            .select(
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "user_id",
                "n",
                "sum_value",
            )
        )

    q = (
        sessionize(stream.withWatermark("ts", "1 hour"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("session_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM session_out").toPandas()
    batch = sessionize(events).toPandas()
    assert len(streamed) > 0, "no sessions finalized below the watermark"
    key = ["session_start", "session_end", "user_id"]
    b = {tuple(r[k] for k in key): (r["n"], round(r["sum_value"], 6)) for _, r in batch.iterrows()}
    for _, r in streamed.iterrows():
        got = b.get(tuple(r[k] for k in key))
        assert got is not None, f"streamed session missing from batch: {r.values}"
        assert got == (r["n"], round(r["sum_value"], 6))
    assert len(streamed) <= len(batch)


def test_streaming_media_archive_pipeline(spark, tmp_path):
    """Media shards as a STREAM: binaryFile file-source -> foreachBatch
    explode_archives + aHash into a lake dir; the streamed result must
    equal the batch pipeline over the same files (batch-equivalence, the
    B8 convention) — the archive/media surface composes with Structured
    Streaming like every other operator."""
    import numpy as np

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.archives import (
        build_zip,
        explode_archives,
        members_to_media,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.multimodal import (
        encode_png,
        with_average_hash,
    )
    from pyspark.sql import functions as F

    src = str(tmp_path / "shards")
    out = str(tmp_path / "hashes")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    for a in range(3):
        members = []
        for k in range(4):
            px = np.full((8, 8, 3), 20 * a + k, dtype=np.uint8)
            px[4:, :, :] = 200
            members.append((f"{a}_{k}.png", encode_png(px)))
        with open(os.path.join(src, f"pack-{a}.zip"), "wb") as f:
            f.write(build_zip(members))

    def pipeline(df):
        archives = df.select(
            F.xxhash64("path").alias("archive_id"), F.col("content").alias("payload")
        )
        return with_average_hash(members_to_media(explode_archives(archives)))

    bin_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    stream = spark.readStream.format("binaryFile").schema(bin_schema).load(src)
    assert stream.isStreaming

    def sink(batch_df, _bid):
        pipeline(batch_df).write.mode("append").parquet(out)

    q = stream.writeStream.option("checkpointLocation", ckpt).foreachBatch(
        sink
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    streamed = {
        (r.media_id, r.ahash)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.media_id, r.ahash)
        for r in pipeline(spark.read.format("binaryFile").load(src)).collect()
    }
    assert streamed == batch and len(batch) == 12
