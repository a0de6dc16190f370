"""Ingest: edge validation (A8) + per-record enrichment (A2).

Reference behavior being re-expressed (NOT ported):
- A8 edge gate: reject unless ``Data.{device,event,region}`` present and
  string-typed (apigateway-stack.ts:91-111,130-136). Here: ``from_json``
  against an explicit StructType; rows that fail to parse or miss required
  fields are split to a quarantine DataFrame instead of an HTTP 400.
- A2 enrich: parse JSON, add ``TenantId`` (from auth context / partition
  key) and epoch-second ``timestamp`` (FirehoseStreamingSinkJob.java:74-82).
  Here: pure ``withColumn`` projections — narrow, UDF-free, stays inside
  whole-stage codegen, works identically on batch and streaming DataFrames.
- A4 partition derivation: the Firehose jq query derives zero-padded
  ``year/month/day/hour`` strings from the timestamp with strftime
  (kinesis-stack.ts:153-154) — ``date_format`` produces the same strings.

Scale notes: everything here is a narrow map — no shuffle, no state. At
100 TB ingest this is embarrassingly parallel; the only wide step in the
pipeline is the optional repartition-by-tenant before the partitioned
write (see lake.py) to control file counts.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.model import (
    ENVELOPE_SCHEMA,
    PARTITION_COLS,
    REQUIRED_DATA_FIELDS,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.tenancy import TenantContext


class IngestResult(NamedTuple):
    """Valid enriched rows + quarantined raw records (A5 error routing)."""

    valid: DataFrame
    quarantine: DataFrame


def _ingest_time_col(ingest_ts: int | None) -> Column:
    """Epoch-seconds ingest timestamp (…Job.java:80 uses Instant.now())."""
    if ingest_ts is not None:
        return F.lit(int(ingest_ts)).cast("long")
    return F.unix_timestamp(F.current_timestamp())


def validate_raw(
    raw: DataFrame,
    json_col: str = "raw",
    strict_types: bool = True,
    observation: Observation | None = None,
) -> DataFrame:
    """Parse+validate the request envelope; adds ``Data`` struct and ``_valid``.

    Keeps invalid rows (null/missing fields) so the caller can split them to
    quarantine — mirrors Firehose's ``error/`` routing (kinesis-stack.ts:139).

    ``observation`` (batch frames only) counts the invalid rows as
    ``n_quarantined`` while the first action over the result runs, so a
    caller that writes the valid rows first learns whether the quarantine
    is empty without scanning it.

    ``strict_types`` enforces the reference's API-Gateway model contract
    (apigateway-stack.ts:130-136, ``type: string``): ``from_json`` alone
    coerces JSON numbers/booleans to StringType, so ``{"device": 123}``
    would slip through — the strict gate additionally checks the raw JSON
    token type via the variant type (``schema_of_variant`` == STRING,
    JVM-side, no UDF) and quarantines coerced rows like the reference's
    HTTP 400.
    """
    parsed = raw.withColumn("Data", F.from_json(F.col(json_col), ENVELOPE_SCHEMA)["Data"])
    if strict_types:
        # pure-column API (no SQL-string interpolation, so json_col may be
        # any column name); variant_get path keys are fixed literals.
        #
        # Perf shape (the round-2 regression and its fix): `_valid` gets
        # inlined into Filter conditions by predicate pushdown, so every
        # occurrence of a parse expression in the condition TREE is a
        # re-parse per record — the round-2 version held try_parse_json
        # ×3 + from_json ×4 and benched 6× the loose gate. A projection
        # barrier does NOT help: pushdown substitutes straight through
        # Projects. The fix binds the parsed variant to a lambda variable
        # of a single-element `transform` — a genuine DAG node that all
        # three per-field checks reference without re-evaluating — so the
        # condition parses the JSON exactly ONCE per record. The variant
        # type checks subsume the from_json null checks (a field whose
        # JSON token is a string parses non-null under ENVELOPE_SCHEMA),
        # so the strict condition needs no from_json occurrence at all.
        def _strict_ok(v: Column) -> Column:
            per_field = [
                F.coalesce(
                    F.schema_of_variant(F.variant_get(v, f"$.Data.{f}", "variant"))
                    == F.lit("STRING"),
                    F.lit(False),
                )
                for f in REQUIRED_DATA_FIELDS
            ]
            ok = per_field[0]
            for c in per_field[1:]:
                ok = ok & c
            return ok

        cond = F.element_at(
            F.transform(F.array(F.try_parse_json(F.col(json_col))), _strict_ok), 1
        )
    else:
        checks = [F.col("Data").isNotNull()] + [
            F.col(f"Data.{f}").isNotNull() for f in REQUIRED_DATA_FIELDS
        ]
        cond = checks[0]
        for c in checks[1:]:
            cond = cond & c
    checked = parsed.withColumn("_valid", cond)
    if observation is not None:
        checked = checked.observe(observation, F.count_if(~F.col("_valid")).alias("n_quarantined"))
    return checked


def enrich(valid: DataFrame, tenant: TenantContext | None, ingest_ts: int | None = None) -> DataFrame:
    """A2: flatten payload, stamp TenantId + epoch-second timestamp.

    If ``tenant`` is None the DataFrame must already carry a ``tenant_id``
    column (multi-tenant batch replay); otherwise the authenticated tenant
    id is stamped server-side — client data can never set it.
    """
    tenant_col = F.lit(tenant.tenant_id) if tenant is not None else F.col("tenant_id")
    return valid.select(
        F.col("Data.event").alias("event"),
        F.col("Data.region").alias("region"),
        F.col("Data.device").alias("device"),
        tenant_col.alias("TenantId"),
        _ingest_time_col(ingest_ts).alias("timestamp"),
    )


def with_partition_cols(enriched: DataFrame) -> DataFrame:
    """A4: derive Hive partition columns from the epoch-second timestamp.

    Zero-padded strings to byte-match the reference layout
    (jq ``strftime "%Y"/"%m"/"%d"/"%H"`` — kinesis-stack.ts:153-154).
    """
    ts = F.to_timestamp(F.from_unixtime(F.col("timestamp")))
    return enriched.withColumns(
        {
            "tenant": F.col("TenantId"),
            "year": F.date_format(ts, "yyyy"),
            "month": F.date_format(ts, "MM"),
            "day": F.date_format(ts, "dd"),
            "hour": F.date_format(ts, "HH"),
        }
    )


def ingest_batch(
    raw: DataFrame,
    tenant: TenantContext | None = None,
    json_col: str = "raw",
    ingest_ts: int | None = None,
    strict_types: bool = True,
    observation: Observation | None = None,
) -> IngestResult:
    """Full batch ingest: validate (A8) → split (A5) → enrich (A2) → partition cols (A4).

    Works on a batch or streaming DataFrame of raw JSON strings.
    ``observation`` is ``validate_raw``'s quarantine count.
    """
    checked = validate_raw(raw, json_col=json_col, strict_types=strict_types, observation=observation)
    return split_validated(checked, tenant, json_col=json_col, ingest_ts=ingest_ts)


def split_validated(
    checked: DataFrame,
    tenant: TenantContext | None = None,
    json_col: str = "raw",
    ingest_ts: int | None = None,
) -> IngestResult:
    """Split ``validate_raw``'s output (A5) and enrich the valid rows (A2,
    A4). Both outputs read ``checked``, so a caller that persists it
    parses each record once for both writes."""
    # carry the (server-side) tenant identity into quarantine when present:
    # without it dead-lettered records can never be re-attributed on a
    # reprocess (lake.reprocess_quarantine) — the reference's error/ dir
    # loses it, which is exactly the operational gap this closes
    quarantine_cols = [
        F.col(json_col).alias("raw_record"),
        F.lit("validation-failed").alias("error_type"),
    ]
    if "tenant_id" in checked.columns:
        quarantine_cols.insert(0, F.col("tenant_id"))
    quarantine = checked.where(~F.col("_valid")).select(*quarantine_cols)
    valid = checked.where(F.col("_valid"))
    enriched = with_partition_cols(enrich(valid, tenant, ingest_ts=ingest_ts))
    ordered = enriched.select("event", "region", "device", "TenantId", "timestamp", *PARTITION_COLS)
    return IngestResult(valid=ordered, quarantine=quarantine)
