"""Pipeline observability: in-flight metrics without extra passes.

The reference ships its operational visibility via CloudWatch on the
managed services (Kinesis/Firehose/Glue emit their own metrics); a
self-contained engine needs an equivalent signal source. Spark's
``Observation``/``observe`` API is the idiomatic one: metrics are
aggregated ON the data path while the action runs — no second scan, no
driver-side recount — and in streaming they surface per micro-batch in
``StreamingQueryProgress.observedMetrics`` (the hook a metrics shipper
subscribes to via ``StreamingQueryListener``).

Scale note: every metric here is an aggregate expression evaluated
inside the existing job (map-side combined, constant extra state per
task). At 100 TB the alternative — re-scanning to count — doubles the
bill; observation is free by comparison. ``approx_count_distinct`` is
used for cardinalities precisely because an exact distinct would add a
shuffle to the observed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: metric names emitted by observed_ingest (stable contract for shippers)
INGEST_METRICS = (
    "n_records",
    "n_tenants_approx",
    "bytes_in",
    "n_null_payload",
)


def _ingest_metrics(tenant_col: str, payload_col: str) -> list:
    """The ``INGEST_METRICS`` expressions, in that order."""
    return [
        F.count(F.lit(1)).alias("n_records"),
        F.approx_count_distinct(tenant_col).alias("n_tenants_approx"),
        F.sum(F.coalesce(F.length(payload_col), F.lit(0))).alias("bytes_in"),
        F.sum(F.col(payload_col).isNull().cast("long")).alias("n_null_payload"),
    ]


def observed_ingest(
    df: DataFrame,
    tenant_col: str = "tenant_id",
    payload_col: str = "raw",
    name: str = "ingest_metrics",
) -> tuple[DataFrame, Observation]:
    """Attach ingest health metrics to a raw-events frame.

    Returns (df, observation); run any action on a descendant of ``df``,
    then read ``observation.get`` — a dict with record count, approximate
    tenant cardinality, payload bytes, and null-payload count. Works on
    batch frames; for streaming frames pass a string name to
    :func:`observed_stream` instead (Observation objects are batch-only).
    """
    obs = Observation(name)
    return df.observe(obs, *_ingest_metrics(tenant_col, payload_col)), obs


def observed_stream(
    df: DataFrame,
    tenant_col: str = "tenant_id",
    payload_col: str = "raw",
    name: str = "ingest_metrics",
) -> DataFrame:
    """Streaming variant: same metric set, registered by name. Each micro-
    batch's values appear in ``query.lastProgress['observedMetrics'][name]``
    and in every ``StreamingQueryListener.onQueryProgress`` event — the
    subscription point for an external metrics shipper."""
    return df.observe(name, *_ingest_metrics(tenant_col, payload_col))


def observed_count(obs: Observation, metric: str) -> int | None:
    """One count metric of an attached Observation, waiting for the first
    action on the observed frame to finish; None when that action reported
    no metrics. Spark then completes the observation with an empty row, on
    which ``Observation.get`` fails. It happens when the action ran no task
    (empty input, e.g. a zero-byte landing file), and when adaptive
    execution replaced the rest of the plan with an empty relation after
    the observed stage ran (e.g. a filter above it that kept no row)."""
    value = obs._jo.getAsJava().get(metric)
    return None if value is None else int(value)


def observed_result(df: DataFrame, name: str = "result_metrics") -> tuple[DataFrame, Observation]:
    """Attach output-side metrics (row count) to any query result — the
    'rows returned' half of a query log entry, measured in-flight."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows")), obs


class MetricsLogListener:
    """A concrete metrics shipper: a ``StreamingQueryListener`` that
    appends each micro-batch's progress — batch id, rows/sec, watermark,
    and every observed-metrics block — as JSON lines to a local file
    (swap the ``_emit`` method for a push to any real metrics backend).

    Register with ``spark.streams.addListener(listener)``; remove with
    ``removeListener``. The listener runs driver-side on the progress
    event bus — zero cost on executors.
    """

    def __new__(cls, path: str):
        from pyspark.sql.streaming import StreamingQueryListener

        class _Impl(StreamingQueryListener):
            def __init__(self, p: str):
                self.path = p

            def _emit(self, entry: dict) -> None:
                import json

                with open(self.path, "a") as f:
                    f.write(json.dumps(entry, default=str) + "\n")

            def onQueryStarted(self, event):
                self._emit({"event": "started", "id": str(event.id), "name": event.name})

            def onQueryProgress(self, event):
                p = event.progress
                self._emit(
                    {
                        "event": "progress",
                        "id": str(p.id),
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "observedMetrics": {
                            k: dict(zip(v.__fields__, v)) for k, v in p.observedMetrics.items()
                        },
                    }
                )

            def onQueryTerminated(self, event):
                self._emit({"event": "terminated", "id": str(event.id)})

            def onQueryIdle(self, event):
                pass

        return _Impl(path)
