"""Structured Streaming pipeline (SURVEY.md §2 Tier A A1-A5 + B8).

The reference's stream path is Kinesis → Flink stateless enrich → Firehose
60 s-buffered partitioned S3 sink (FirehoseStreamingSinkJob.java:62-66,
kinesis-stack.ts:137-162). Here the same dataflow is ONE streaming query:

    readStream (A1) → ingest_batch's transforms (A2/A8/A4 — the exact same
    functions as batch, so batch/stream parity holds by construction) →
    foreachBatch partitioned write + quarantine (A3/A4/A5).

Checkpointing stands in for Flink's 60 s checkpoints
(kinesis-stack.ts:200-205); trigger defaults to the Firehose 60 s buffer
(kinesis-stack.ts:140-142) but tests use availableNow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import split_validated, validate_raw
from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
    write_lake,
    write_lake_overwrite_partitions,
    write_quarantine,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.model import PARTITION_COLS
from aws_saas_factory_multi_tenant_data_pipeline_spark.observability import observed_count
from aws_saas_factory_multi_tenant_data_pipeline_spark.session import persisted
from aws_saas_factory_multi_tenant_data_pipeline_spark.tenancy import TenantContext

#: hidden partition column carrying the micro-batch epoch in exactly-once
#: sink mode; read_lake drops it on read
EPOCH_COL = "_epoch"


def epoch_idempotent_write(
    valid: DataFrame, lake_root: str, epoch_id: int, fmt: str = "parquet"
) -> None:
    """Idempotent micro-batch write: stamp the epoch id as an extra
    (innermost) partition column and DYNAMICALLY OVERWRITE only this
    epoch's partitions. A replayed epoch rewrites byte-identical
    partitions instead of appending duplicates; distinct epochs land in
    disjoint ``_epoch=N`` subtrees and never clobber each other. This is
    what upgrades the foreachBatch file sink from at-least-once to
    effectively-once."""
    stamped = valid.withColumn(EPOCH_COL, F.lit(int(epoch_id)).cast("string"))
    write_lake_overwrite_partitions(
        stamped, lake_root, fmt=fmt, partition_cols=[*PARTITION_COLS, EPOCH_COL]
    )


def start_ingest_stream(
    raw_stream: DataFrame,
    lake_root: str,
    checkpoint: str,
    tenant: TenantContext | None = None,
    trigger_seconds: int | None = 60,
    fmt: str = "parquet",
    available_now: bool = False,
    exactly_once: bool = False,
    ingest_ts: int | None = None,
) -> StreamingQuery:
    """The A1→A5 pipeline as one streaming query with a foreachBatch sink.

    Delivery semantics, default mode: AT-LEAST-ONCE — the append write is
    not atomic with the checkpoint commit, so a failure between the two
    replays the batch on restart and duplicates lake rows (exactly the
    reference's Firehose sink semantics, kinesis-stack.ts:140-142). Clean
    stop/restart never replays (covered by tests/test_streaming.py).

    ``exactly_once=True`` switches the valid-row write to
    ``epoch_idempotent_write``: each micro-batch lands under an extra
    innermost ``_epoch=N`` partition via dynamic partition overwrite, so
    a replayed epoch overwrites itself instead of duplicating —
    effectively-once, at the cost of one extra directory level versus the
    reference's byte-level layout (``read_lake`` hides the column).
    Alternatively, keep the default layout and dedup upstream with
    ``with_watermarked_dedup`` or at read time with
    ``operators.dedup.exact_dedup``.
    """

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        # ingest_ts pins the A2 ingest timestamp (and so the A4
        # partition layout) for deterministic replays / the corpus
        # stream_sink_roundtrip oracle; None = wall clock (production)
        quarantined = Observation()
        # held across both writes, so the quarantine write reads the
        # validated rows the lake write cached instead of the source again
        with persisted(validate_raw(batch_df, observation=quarantined)) as checked:
            res = split_validated(checked, tenant, ingest_ts=ingest_ts)
            if exactly_once:
                epoch_idempotent_write(res.valid, lake_root, epoch_id, fmt=fmt)
            else:
                write_lake(res.valid, lake_root, fmt=fmt)
            # counted on the lake write's own pass, so a clean batch creates
            # no error/ directory without a probe job; an empty or
            # all-malformed batch reports no metrics and is probed instead
            n_quarantined = observed_count(quarantined, "n_quarantined")
            if n_quarantined is None:
                n_quarantined = res.quarantine.limit(1).count()
            if n_quarantined > 0:
                write_quarantine(res.quarantine, lake_root, "validation-failed")

    writer = raw_stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def tumbling_counts(events: DataFrame, ts_col: str = "ts", width: str = "1 hour") -> DataFrame:
    """B8 tumbling window agg (A4's hourly partitioning is a tumbling hour)."""
    return (
        events.groupBy(F.window(F.col(ts_col), width).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("event_type"),
            F.col("n"),
            F.col("sum_value"),
        )
    )


def sliding_counts(
    events: DataFrame, ts_col: str = "ts", width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """B8 sliding window agg."""
    return (
        events.groupBy(F.window(F.col(ts_col), width, slide).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), F.col("event_type"), F.col("n"))
    )


def session_counts(events: DataFrame, ts_col: str = "ts", gap: str = "30 minutes") -> DataFrame:
    """B8 session window agg (gap-based; batch-equivalent to lag+cumsum islands)."""
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col("user_id"),
            F.col("n"),
        )
    )


def with_watermarked_dedup(
    events: DataFrame, ts_col: str = "ts", key: str = "event_id", delay: str = "10 minutes"
) -> DataFrame:
    """B8 stateful dedup: at-most-once per key within the watermark horizon."""
    return events.withWatermark(ts_col, delay).dropDuplicates([key])


def running_user_totals(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Custom stateful streaming operator: per-user running event count +
    value total via applyInPandasWithState (B8 advanced surface).

    State = (n, total) per user_id; each micro-batch folds its rows into
    the state and emits the updated row. This is the engine's template for
    operators Structured Streaming lacks natively.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n long, total double"
    state_schema = "n long, total double"

    def fold(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [round(total, 2)]})

    return events.groupBy("user_id").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def transform_with_state_available() -> bool:
    """Spark 4's transformWithState protocol talks to the state server
    over protobuf; without ``google.protobuf`` in the Python env the
    driver worker crashes at query start. Probe it so callers can pick
    the applyInPandasWithState fallback instead of failing mid-stream."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        return False


def user_value_ewma(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Per-user exponentially-weighted moving average of ``value`` plus a
    running peak, kept as keyed state across micro-batches
    (applyInPandasWithState — runs in any Python env).

    State = (ewma, peak, n) per user; rows within a batch fold in
    timestamp order so the EWMA is deterministic. Tests pin stream-vs-
    batch-history equivalence. See ``user_value_ewma_tws`` for the same
    operator on the newer transformWithState API.

    Scale: state lives in the state store keyed by user_id — partitioned
    with the stream, no driver involvement.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, ewma double, peak double, n long"
    state_schema = "ewma double, peak double, n long"

    def fold(key, pdfs, state: GroupState):
        ewma, peak, n = state.get if state.exists else (0.0, float("-inf"), 0)
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        for v in batch["value"]:
            v = float(v)
            ewma = v if n == 0 else alpha * v + (1.0 - alpha) * ewma
            peak = max(peak, v)
            n += 1
        state.update((ewma, peak, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "ewma": [round(ewma, 6)], "peak": [peak], "n": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def user_value_ewma_tws(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """``user_value_ewma`` on the transformWithState API (Spark 4): typed
    state handles (value/list/map state, timers, optional TTL) instead of
    a single state tuple — the forward path for custom stateful
    operators. Requires ``google.protobuf`` (the state-server wire
    format) and the RocksDB state store provider; call
    ``transform_with_state_available()`` first. In environments without
    protobuf this raises at construction rather than crashing the stream
    mid-run.
    """
    if not transform_with_state_available():
        raise RuntimeError(
            "transformWithState needs the 'protobuf' package (google.protobuf) "
            "for its state-server protocol; it is not installed in this "
            "environment. Use user_value_ewma (applyInPandasWithState) instead."
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class EwmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("ewma_state", "ewma double, peak double, n long")

        def handleInputRows(self, key, rows, timerValues):
            exists = self._state.exists()
            ewma, peak, n = self._state.get() if exists else (0.0, float("-inf"), 0)
            batch = pd.concat(list(rows), ignore_index=True).sort_values("ts")
            for v in batch["value"]:
                v = float(v)
                ewma = v if n == 0 else alpha * v + (1.0 - alpha) * ewma
                peak = max(peak, v)
                n += 1
            self._state.update((ewma, peak, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "ewma": [round(ewma, 6)], "peak": [peak], "n": [n]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=EwmaProcessor(),
        outputStructType="user_id long, ewma double, peak double, n long",
        outputMode="Update",
        timeMode="None",
    )


def start_dedup_stream(
    doc_stream: DataFrame,
    index_root: str,
    matches_root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    trigger_seconds: int | None = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming near-duplicate detection against the persisted band index:
    each micro-batch of new documents is checked with
    ``operators.dedup.incremental_near_duplicates`` (O(batch) + index
    join, never O(corpus) recompute), its matches append to
    ``matches_root``, and its own signatures absorb into the index so the
    NEXT batch sees it — the reference's streaming ingest shape applied
    to corpus hygiene: arriving documents are deduped against everything
    ever ingested, continuously.

    Delivery: at-least-once (same contract as ``start_ingest_stream``'s
    default); a replayed epoch re-appends its matches and re-appends its
    index rows, and the index join dedups matched pairs, so downstream
    consumers of ``matches_root`` should treat (new_id, matched_id) as
    the idempotency key.
    """
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
        incremental_near_duplicates,
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        matches = incremental_near_duplicates(
            batch_df,
            index_root,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
            update_index=True,
        )
        matches.withColumn("_epoch", F.lit(int(epoch_id))).write.mode(
            "append"
        ).parquet(matches_root)

    writer = doc_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
