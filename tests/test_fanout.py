"""Pins for the r16 scan fan-out seam and the fused tokenizer regex."""

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import (
    normalize_text,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.fanout import (
    fan_out_scan,
)


def test_fan_out_spreads_a_single_partition_scan(spark):
    df = spark.range(1000).coalesce(1).select(F.col("id").alias("doc_id"))
    assert df.rdd.getNumPartitions() == 1
    fanned = fan_out_scan(df, "doc_id")
    # the seam adds a hash exchange (AQE sizes it from the observed
    # bytes, so tiny test frames may still coalesce — the pin is the
    # exchange plus row identity, not a fixed count)
    plan = fanned._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan, plan
    # rows only relocate, never change
    assert sorted(r["doc_id"] for r in fanned.collect()) == list(range(1000))


def test_fan_out_is_a_noop_on_parallel_inputs(spark):
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.range(0, 1000, 1, target).select(F.col("id").alias("doc_id"))
    fanned = fan_out_scan(df, "doc_id")
    # no Exchange added: the returned plan equals the input's
    assert fanned is df


def test_media_fanout_threshold(spark):
    """The media payload seam is identity below MEDIA_FANOUT_MIN_DOCS
    (fixture-scale plans unchanged) and repartitions at/above it."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.fanout import (
        MEDIA_FANOUT_MIN_DOCS,
        fan_out_media_ids,
    )

    d = spark.range(64).select(F.col("id").alias("doc_id"))
    assert fan_out_media_ids(d, "doc_id", 64) is d
    big = fan_out_media_ids(d, "doc_id", MEDIA_FANOUT_MIN_DOCS)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan, plan


def test_normalize_text_single_pass_equals_two_pass(spark):
    """The r16 fused regex must match the historical two-pass form on
    adversarial inputs: unicode whitespace, control chars, punct runs,
    leading/trailing junk, empty and all-junk strings."""
    samples = [
        "Hello, World!",
        "  leading and trailing  ",
        "tab\tand\nnewline\x0bvertical",
        "unicode nbsp em-space",
        "punct...runs---mixed!?; end",
        "digits 123 mix4ed 5+6=11",
        "",
        "!!!",
        " \t\n ",
        "café naïve 中文 رمز",
        "a.b,c;d:e",
        "emoji \U0001f600 mark ́ combining",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["t"])
    two_pass = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("t")), r"[^\p{L}\p{N}\s]", " "),
            r"\s+",
            " ",
        )
    )
    out = df.select(
        normalize_text(F.col("t")).alias("new"), two_pass.alias("old")
    ).collect()
    for r in out:
        assert r["new"] == r["old"], (r["new"], r["old"])
