"""Lake maintenance + skew operators: small-file compaction, salted join."""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
    compact_partitions,
    write_lake,
    write_lake_overwrite_partitions,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.joins import salted_join
from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake


def _parquet_files(root: str) -> list[tuple[str, str]]:
    """(partition directory, file name) of every data file under ``root``."""
    return [
        (dp, f)
        for dp, _, fns in os.walk(root)
        for f in fns
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def _count_files(root: str) -> int:
    return len(_parquet_files(root))


def _files_per_partition(root: str) -> Counter:
    return Counter(dp for dp, _ in _parquet_files(root))


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    root = str(tmp_path / "lake")
    rows = [
        ("t0", json.dumps({"Data": {"device": "TV", "event": f"e{i}", "region": "US"}}))
        for i in range(200)
    ]
    raw = spark.createDataFrame(rows, "tenant_id string, raw string")
    # many tiny appends → many small files (the Firehose 60 s problem)
    for _ in range(5):
        write_lake(ingest_batch(raw, ingest_ts=1700000000).valid, root)
    before_files = _count_files(root)
    before_rows = read_lake(spark, root).count()
    compact_partitions(spark, root, target_file_mb=512)
    after_files = _count_files(root)
    after_rows = read_lake(spark, root).count()
    assert after_rows == before_rows == 1000
    assert after_files < before_files
    assert after_files <= 2
    # hashing on the full layout: exactly one file per Hive partition
    assert set(_files_per_partition(root).values()) == {1}


@pytest.mark.parametrize("write", [write_lake, write_lake_overwrite_partitions])
def test_layout_write_runs_one_writer_per_core(spark, tmp_path, write):
    root = str(tmp_path / "lake")
    n_parts = 2 * spark.sparkContext.defaultParallelism
    rows = [(f"t{i:03d}", "2024", "1", "2", "3", f"e{i}-{j}") for i in range(n_parts) for j in range(3)]
    df = spark.createDataFrame(rows, "tenant string, year string, month string, day string, hour string, event string")
    write(df, root)
    files = _parquet_files(root)
    # (a) several writer tasks made the files, not one coalesced task
    writers = {re.match(r"part-(\d{5})", f).group(1) for _, f in files}
    assert len(writers) > 1, writers
    # (b) exactly one file per Hive partition
    counts = _files_per_partition(root)
    assert len(counts) == n_parts and set(counts.values()) == {1}
    # (c) the rows read back are the rows written
    back = read_lake(spark, root).select(*[F.col(c).cast("string") for c in df.columns])
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_salted_join_matches_plain_join(spark, sf_smoke):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t

    o = t(spark, sf_smoke, "orders").select("o_custkey", "o_orderkey")
    c = t(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    plain = o.join(c, "o_custkey").count()
    salted = salted_join(o, c, "o_custkey", salt_buckets=8).count()
    assert plain == salted


def test_lakehouse_stubs_raise_clearly(spark):
    import pytest

    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources.lakehouse import (
        CONNECTOR_PACKAGES,
        LakehouseUnavailable,
        read_delta,
        read_iceberg,
        read_kafka,
        read_kinesis,
    )

    for fn, args in [
        (read_delta, (spark, "/tmp/nope")),
        (read_iceberg, (spark, "db.t")),
        (read_kafka, (spark, "localhost:9092", "t")),
        (read_kinesis, (spark, "mtdp-stream", "us-east-1")),
    ]:
        with pytest.raises(LakehouseUnavailable) as ei:
            fn(*args)
        # the error must carry the exact package coordinate to fix it
        assert "spark.jars.packages=" in str(ei.value)
    assert set(CONNECTOR_PACKAGES) >= {"kafka", "kinesis", "delta", "iceberg", "hudi"}


def test_dynamic_partition_overwrite_replay(spark, tmp_path):
    """Replaying one tenant's batch overwrites only that tenant's partitions."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        write_lake_overwrite_partitions,
    )

    root = str(tmp_path / "replay_lake")

    def batch(tenant, n, event):
        rows = [
            (tenant, json.dumps({"Data": {"device": "TV", "event": event, "region": "US"}}))
            for _ in range(n)
        ]
        raw = spark.createDataFrame(rows, "tenant_id string, raw string")
        return ingest_batch(raw, ingest_ts=1700000000).valid

    write_lake_overwrite_partitions(batch("t0", 10, "orig"), root)
    write_lake_overwrite_partitions(batch("t1", 7, "orig"), root)
    # replay t0 with corrected data; t1 must be untouched
    write_lake_overwrite_partitions(batch("t0", 4, "fixed"), root)
    out = read_lake(spark, root).toPandas()
    t0 = out[out.tenant == "t0"]
    t1 = out[out.tenant == "t1"]
    assert len(t0) == 4 and set(t0.event) == {"fixed"}
    assert len(t1) == 7 and set(t1.event) == {"orig"}


def test_dynamic_overwrite_leaves_session_conf_static(spark, tmp_path, monkeypatch):
    """The dynamic overwrite is a per-write option: the shared session's
    partitionOverwriteMode reads static while the write runs and after it,
    and the replay still replaces only the partitions it touches."""
    from pyspark.sql.readwriter import DataFrameWriter

    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        write_lake_overwrite_partitions,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    seen = []
    save = DataFrameWriter.save

    def spy(self, *args, **kwargs):
        seen.append(spark.conf.get(key).lower())
        return save(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", spy)

    def batch(tenant, event):
        raw = spark.createDataFrame(
            [(tenant, json.dumps({"Data": {"device": "TV", "event": event, "region": "US"}}))],
            "tenant_id string, raw string",
        )
        return ingest_batch(raw, ingest_ts=1700000000).valid

    root = str(tmp_path / "lake")
    write_lake_overwrite_partitions(batch("t0", "orig"), root)
    write_lake_overwrite_partitions(batch("t1", "orig"), root)
    write_lake_overwrite_partitions(batch("t0", "fixed"), root)
    assert seen == ["static"] * 3
    assert spark.conf.get(key).lower() == "static"
    got = {(r.tenant, r.event) for r in read_lake(spark, root).collect()}
    assert got == {("t0", "fixed"), ("t1", "orig")}


def test_compaction_recovers_from_crashed_prior_run(spark, tmp_path):
    """Rename-aside swap: a leftover __compact_old tree from a crashed run
    must not break (or double-count in) the next compaction."""
    import shutil

    root = str(tmp_path / "lake2")
    rows = [
        ("t0", json.dumps({"Data": {"device": "TV", "event": f"e{i}", "region": "US"}}))
        for i in range(50)
    ]
    raw = spark.createDataFrame(rows, "tenant_id string, raw string")
    write_lake(ingest_batch(raw, ingest_ts=1700000000).valid, root)
    # simulate the crash window: an old copy left aside by a dead process
    shutil.copytree(root, root + "__compact_old")
    compact_partitions(spark, root, target_file_mb=512)
    assert read_lake(spark, root).count() == 50
    assert not os.path.exists(root + "__compact_old")
    assert not os.path.exists(root + "__compact_tmp")


def test_register_table_rejects_bad_identifiers(spark, tmp_path):
    import pytest

    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import register_table

    with pytest.raises(ValueError, match="table name"):
        register_table(spark, str(tmp_path), "evil; DROP TABLE x")
    with pytest.raises(ValueError, match="database name"):
        register_table(spark, str(tmp_path), "events", db="bad-db-name!")
    with pytest.raises(ValueError, match="quote"):
        register_table(spark, str(tmp_path) + "/it's", "events")


def test_catalog_refresh_discovers_new_partitions(spark, tmp_path):
    """A6 periodic re-crawl (Glue 5-min cron parity): partitions written
    AFTER registration appear in the catalog only after refresh_table."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        refresh_table,
        register_table,
    )

    root = str(tmp_path / "growing_lake")

    def batch(tenant: str, hour_epoch: int):
        rows = [
            (tenant, json.dumps({"Data": {"device": "TV", "event": f"e{i}", "region": "US"}}))
            for i in range(10)
        ]
        raw = spark.createDataFrame(rows, "tenant_id string, raw string")
        write_lake(ingest_batch(raw, ingest_ts=hour_epoch).valid, root)

    batch("t0", 1700000000)
    fq = register_table(spark, root, "growing_events", db="refresh_db")
    n0 = spark.sql(f"SHOW PARTITIONS {fq}").count()
    assert spark.sql(f"SELECT COUNT(*) AS n FROM {fq}").collect()[0].n == 10

    # the lake grows: a new tenant and a new hour land after registration
    batch("t1", 1700000000)
    batch("t0", 1700003600)
    # catalog is stale until the crawl cycle runs
    assert spark.sql(f"SHOW PARTITIONS {fq}").count() == n0
    n1 = refresh_table(spark, "growing_events", db="refresh_db")
    assert n1 == n0 + 2
    assert spark.sql(f"SELECT COUNT(*) AS n FROM {fq}").collect()[0].n == 30
    spark.sql(f"DROP TABLE {fq}")


def test_read_lake_refuses_quarantine_only_lake(spark, tmp_path):
    """A lake with only an error/ quarantine subtree (first batches all
    invalid) must raise, not silently return quarantine records as lake
    rows — the regression the tenant=* glob guard exists to prevent."""
    import pytest

    root = str(tmp_path / "quarantine_only")
    os.makedirs(os.path.join(root, "error", "validation-failed"), exist_ok=True)
    with open(os.path.join(root, "error", "validation-failed", "x.json"), "w") as f:
        f.write('{"raw_record":"bad","error_type":"validation-failed"}\n')
    with pytest.raises(FileNotFoundError, match="no tenant="):
        read_lake(spark, root)


def _files_with_mtime(root: str) -> dict[str, float]:
    out = {}
    for dp, _, fns in os.walk(root):
        for f in fns:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                p = os.path.join(dp, f)
                out[p] = os.path.getmtime(p)
    return out


def test_maintain_rollup_refreshes_only_touched_partitions(spark, tmp_path):
    import pytest

    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        maintain_rollup,
        write_lake_overwrite_partitions,
    )

    pcols = ["tenant", "day"]
    fact_root = str(tmp_path / "fact")
    rollup_root = str(tmp_path / "rollup")

    def build(fact):
        return fact.groupBy("tenant", "day").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total"),
        )

    base = spark.createDataFrame(
        [(f"t{i % 2}", f"2024-01-0{1 + i % 3}", i, float(i)) for i in range(60)],
        "tenant string, day string, id long, value double",
    )
    base.write.partitionBy(*pcols).parquet(fact_root)
    write_lake_overwrite_partitions(build(spark.read.parquet(fact_root)), rollup_root,
                                    partition_cols=pcols)
    before = _files_with_mtime(rollup_root)

    # late delta lands in exactly one (tenant, day) partition
    delta = spark.createDataFrame(
        [("t0", "2024-01-01", 1000 + i, 100.0) for i in range(5)],
        "tenant string, day string, id long, value double",
    )
    delta.write.mode("append").partitionBy(*pcols).parquet(fact_root)
    n = maintain_rollup(spark, fact_root, rollup_root, build, touched=delta,
                        partition_cols=pcols)
    assert n == 1

    cols = ["tenant", "day", "n", "total"]
    got = spark.read.parquet(rollup_root).select(*cols)
    want = build(spark.read.parquet(fact_root)).select(*cols)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    after = _files_with_mtime(rollup_root)
    untouched_before = {p: m for p, m in before.items() if "tenant=t0/day=2024-01-01" not in p}
    untouched_after = {p: m for p, m in after.items() if "tenant=t0/day=2024-01-01" not in p}
    assert untouched_before == untouched_after  # siblings not rewritten

    # empty delta is a no-op
    assert maintain_rollup(spark, fact_root, rollup_root, build,
                           touched=delta.limit(0), partition_cols=pcols) == 0

    # a build() that drops the partition columns is rejected before any write
    with pytest.raises(ValueError, match="partition columns"):
        maintain_rollup(spark, fact_root, rollup_root,
                        lambda f: f.groupBy("tenant").agg(F.count("*").alias("n")),
                        touched=delta, partition_cols=pcols)

    # a delta wider than the cap demands a full rebuild instead
    with pytest.raises(ValueError, match="full rebuild"):
        maintain_rollup(spark, fact_root, rollup_root, build, touched=base,
                        partition_cols=pcols, max_touched_partitions=2)


def test_upsert_partitioned_insert_update_delete(spark, tmp_path):
    """Keyed upsert: update + insert + delete land; untouched partitions
    are byte-identical; re-applying the same changeset is idempotent."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import upsert_partitioned

    root = str(tmp_path / "upsert_lake")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "p1"), (2, "b", 20.0, "p1"), (3, "c", 30.0, "p2"),
         (4, "d", 40.0, "p3")],
        ["id", "name", "val", "part"],
    )
    base.write.partitionBy("part").parquet(root)

    changes = spark.createDataFrame(
        [(2, "b2", 21.0, "p1", False),     # update
         (5, "e", 50.0, "p2", False),      # insert
         (3, None, 0.0, "p2", True)],      # delete
        ["id", "name", "val", "part", "is_deleted"],
    )
    n = upsert_partitioned(
        spark, root, changes, key_cols=["id"], partition_cols=["part"],
        delete_col="is_deleted",
    )
    assert n == 2  # p1 and p2 rewritten, p3 untouched
    got = {
        (r.id, r.name, r.val, r.part)
        for r in spark.read.parquet(root).collect()
    }
    assert got == {
        (1, "a", 10.0, "p1"), (2, "b2", 21.0, "p1"),
        (5, "e", 50.0, "p2"), (4, "d", 40.0, "p3"),
    }
    # idempotent re-run (the delete's key is simply absent now)
    upsert_partitioned(
        spark, root, changes, key_cols=["id"], partition_cols=["part"],
        delete_col="is_deleted",
    )
    assert {
        (r.id, r.name, r.val, r.part)
        for r in spark.read.parquet(root).collect()
    } == got
    # a changeset wider than the cap demands a full rebuild and writes nothing
    with pytest.raises(ValueError, match="full rebuild"):
        upsert_partitioned(
            spark, root, changes, key_cols=["id"], partition_cols=["part"],
            delete_col="is_deleted", max_touched_partitions=1,
        )
    assert {
        (r.id, r.name, r.val, r.part)
        for r in spark.read.parquet(root).collect()
    } == got


def test_upsert_partitioned_seq_col_and_dup_guard(spark, tmp_path):
    """Multi-version changesets: highest seq wins; without seq_col,
    duplicate keys raise instead of silently picking one."""
    import pytest

    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import upsert_partitioned

    root = str(tmp_path / "upsert_seq_lake")
    spark.createDataFrame(
        [(1, "a", "p1")], ["id", "name", "part"]
    ).write.partitionBy("part").parquet(root)
    changes = spark.createDataFrame(
        [(1, "v1", "p1", 1), (1, "v2", "p1", 2)], ["id", "name", "part", "seq"]
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        upsert_partitioned(spark, root, changes.drop("seq").withColumn("seq", F.lit(1)).drop("seq"),
                           key_cols=["id"], partition_cols=["part"])
    upsert_partitioned(
        spark, root, changes, key_cols=["id"], partition_cols=["part"], seq_col="seq"
    )
    rows = spark.read.parquet(root).drop("seq").collect()
    assert [(r.id, r.name, r.part) for r in rows] == [(1, "v2", "p1")]


def test_upsert_partitioned_creates_new_partition(spark, tmp_path):
    """A changeset whose rows land in a partition the lake has never seen
    creates it; existing partitions stay untouched."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import upsert_partitioned

    root = str(tmp_path / "upsert_newpart")
    spark.createDataFrame(
        [(1, "a", "p1")], ["id", "name", "part"]
    ).write.partitionBy("part").parquet(root)
    changes = spark.createDataFrame([(9, "z", "p9")], ["id", "name", "part"])
    n = upsert_partitioned(spark, root, changes, key_cols=["id"], partition_cols=["part"])
    assert n == 1
    got = {(r.id, r.name, r.part) for r in spark.read.parquet(root).collect()}
    assert got == {(1, "a", "p1"), (9, "z", "p9")}


def test_reprocess_quarantine_recovers_fixed_records(spark, tmp_path):
    """A5 repair loop: coerced-type rows quarantined by the strict gate are
    recovered under a relaxed gate and land in the lake with their tenant;
    truly-malformed JSON stays quarantined; re-running is a no-op."""
    import json as _json

    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        reprocess_quarantine,
        write_lake,
        write_quarantine,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake

    root = str(tmp_path / "redrive_lake")
    rows = [
        ("t0", _json.dumps({"Data": {"device": "TV", "event": "ok", "region": "US"}})),
        ("t1", _json.dumps({"Data": {"device": 123, "event": "coerced", "region": "US"}})),
        ("t1", "{not json"),
    ]
    raw = spark.createDataFrame(rows, "tenant_id string, raw string")
    res = ingest_batch(raw, ingest_ts=1700000000)
    write_lake(res.valid, root)
    write_quarantine(res.quarantine, root, "validation-failed")
    assert read_lake(spark, root).count() == 1
    assert spark.read.json(os.path.join(root, "error", "validation-failed")).count() == 2

    # upstream fix = relaxed type gate; numeric device now coerces to string
    n_rec, n_rem = reprocess_quarantine(
        spark, root, strict_types=False, ingest_ts=1700000000
    )
    assert (n_rec, n_rem) == (1, 1)
    lake = read_lake(spark, root)
    assert lake.count() == 2
    assert {r.TenantId for r in lake.collect()} == {"t0", "t1"}
    left = spark.read.json(os.path.join(root, "error", "validation-failed"))
    assert left.count() == 1 and left.collect()[0].tenant_id == "t1"

    # idempotent: nothing more recoverable under the same gate
    assert reprocess_quarantine(spark, root, strict_types=False, ingest_ts=1700000000) == (0, 1)


def test_reprocess_quarantine_recovers_crash_between_renames(spark, tmp_path, monkeypatch):
    """A redrive that dies between its swap's two renames leaves
    error/<type> absent, with the still-failing rows set aside under
    __redrive_old. The next redrive must bring them back before anything
    else, so a quarantine row the stream appends joins them instead of
    replacing them — also when that append lands before the recovering
    redrive and recreates error/<type>."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    schema = "tenant_id string, raw string"
    good = ("t0", json.dumps({"Data": {"device": "TV", "event": "ok", "region": "US"}}))
    bad = [("t1", f"{{broken {i}") for i in range(5)]
    real_rename = os.rename
    for append_first in (False, True):
        root = str(tmp_path / f"redrive_crash_{append_first}")
        qdir = os.path.join(root, "error", "validation-failed")
        res = ingest_batch(spark.createDataFrame([good, *bad], schema), ingest_ts=1700000000)
        write_lake(res.valid, root)
        lake.write_quarantine(res.quarantine, root, "validation-failed")

        calls = {"n": 0}

        def crashing_rename(src, dst):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("simulated crash between the two renames")
            return real_rename(src, dst)

        monkeypatch.setattr(lake.os, "rename", crashing_rename)
        with pytest.raises(OSError, match="simulated crash"):
            lake.reprocess_quarantine(spark, root, ingest_ts=1700000000)
        monkeypatch.setattr(lake.os, "rename", real_rename)
        assert not os.path.exists(qdir)

        later = ingest_batch(
            spark.createDataFrame([("t1", "{broken later")], schema), ingest_ts=1700000000
        )
        if append_first:
            lake.write_quarantine(later.quarantine, root, "validation-failed")
        lake.reprocess_quarantine(spark, root, ingest_ts=1700000000)
        if not append_first:
            lake.write_quarantine(later.quarantine, root, "validation-failed")
        lake.reprocess_quarantine(spark, root, ingest_ts=1700000000)
        assert spark.read.json(qdir).count() == 6, f"append_first={append_first}"
        assert read_lake(spark, root).count() == 1
        assert not [d for d in os.listdir(os.path.dirname(qdir)) if "__redrive_" in d]


def test_delete_tenant_removes_only_that_subtree(spark, tmp_path):
    """Offboarding drops exactly the tenant's partitions; other tenants'
    data and the catalog stay consistent; invalid tenant ids refuse."""
    import json as _json

    import pytest

    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import delete_tenant, write_lake
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake

    root = str(tmp_path / "offboard_lake")
    rows = [
        (f"t{i % 3}", _json.dumps({"Data": {"device": "TV", "event": f"e{i}", "region": "US"}}))
        for i in range(30)
    ]
    raw = spark.createDataFrame(rows, "tenant_id string, raw string")
    write_lake(ingest_batch(raw, ingest_ts=1700000000).valid, root)
    assert read_lake(spark, root).count() == 30

    n = delete_tenant(spark, root, "t1")
    assert n >= 1
    left = read_lake(spark, root)
    assert left.count() == 20
    assert set(r.tenant for r in left.select("tenant").distinct().collect()) == {"t0", "t2"}
    # second delete is a no-op; dashed ids (valid tenants) are accepted;
    # path-traversal shapes refuse
    assert delete_tenant(spark, root, "t1") == 0
    assert delete_tenant(spark, root, "tenant-77") == 0
    with pytest.raises(Exception):
        delete_tenant(spark, root, "../t0")
    with pytest.raises(Exception):
        delete_tenant(spark, root, "t0/..")


def test_snapshot_versioning_rollback_vacuum(spark, tmp_path):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        latest_snapshot_version,
        read_snapshot,
        rollback_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )

    root = str(tmp_path / "versioned")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    df2 = spark.createDataFrame([(1, "a2"), (3, "c")], "id int, v string")
    df3 = spark.createDataFrame([(9, "z")], "id int, v string")
    assert write_snapshot(df1, root) == 1
    assert write_snapshot(df2, root) == 2
    assert write_snapshot(df3, root) == 3

    # latest read follows the pointer; time travel reads stay immutable
    assert {r["v"] for r in read_snapshot(spark, root).collect()} == {"z"}
    assert {r["v"] for r in read_snapshot(spark, root, 1).collect()} == {"a", "b"}

    rollback_snapshot(root, 2)
    assert latest_snapshot_version(root) == 2
    assert {r["v"] for r in read_snapshot(spark, root).collect()} == {"a2", "c"}

    # vacuum never drops the pointed version even when it is old
    removed = vacuum_snapshots(root, keep_last=1)
    assert 2 not in removed and latest_snapshot_version(root) == 2
    assert {r["v"] for r in read_snapshot(spark, root).collect()} == {"a2", "c"}

    # a new write after rollback branches forward from the pointer
    assert write_snapshot(df1, root) == 3 or latest_snapshot_version(root) >= 3


def test_schema_drift_report(spark):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import schema_drift

    old = spark.createDataFrame([], "a int, b string, c struct<x:int>")
    new = spark.createDataFrame([], "a bigint, c struct<x:int,y:string>, d double")
    rep = {r["column"]: r for r in schema_drift(old, new)}
    assert rep["a"]["change"] == "type_changed" and rep["a"]["new_type"] == "bigint"
    assert rep["b"]["change"] == "removed"
    assert rep["c"]["change"] == "type_changed"  # nested addition surfaces
    assert rep["d"]["change"] == "added"
    assert schema_drift(old, old) == []


def test_analyze_table_records_statistics(spark, tmp_path):
    import json as _json

    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        analyze_table,
        register_table,
        write_lake,
    )

    raw = spark.createDataFrame(
        [
            ("t0", _json.dumps({"Data": {"device": "tv", "event": "e", "region": "US"}})),
            ("t1", _json.dumps({"Data": {"device": "tv", "event": "f", "region": "EU"}})),
        ],
        "tenant_id string, raw string",
    )
    root = str(tmp_path / "lake")
    write_lake(ingest_batch(raw, ingest_ts=1700000000).valid, root)
    register_table(spark, root, "t_stats_quickcheck")
    got = analyze_table(spark, "t_stats_quickcheck", columns=["device"])
    assert got["statistics"] is not None and "rows" in got["statistics"]


def test_optimize_table_compacts_clusters_and_indexes(spark, tmp_path, sf_smoke):
    import os as _os

    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        optimize_table,
        read_with_skipping,
    )

    o = spark.read.parquet(_os.path.join(sf_smoke, "orders.parquet"))
    root = str(tmp_path / "tbl")
    # fragmented, unclustered start: 23 files in random key order
    o.repartition(23).write.parquet(root)
    idx = str(tmp_path / "idx")
    report = optimize_table(
        spark,
        root,
        order_by=["o_orderkey"],
        target_file_mb=1,
        stats_cols=["o_orderkey"],
        stats_index_root=idx,
    )
    assert report["files_before"] == 23
    assert report["files_after"] < 23
    assert report["stats_files_indexed"] == report["files_after"]
    back = spark.read.parquet(root)
    assert back.count() == o.count()
    # clustering makes skipping effective: a narrow key range prunes files
    df, files_read, files_total = read_with_skipping(spark, idx, "o_orderkey", 10, 60)
    assert files_total == report["files_after"]
    if files_total > 1:
        assert files_read < files_total
    expected = o.where((F.col("o_orderkey") >= 10) & (F.col("o_orderkey") <= 60)).count()
    assert df.count() == expected


def test_reprocess_quarantine_large_remainder(spark, tmp_path):
    """A poisoned day: thousands of unrecoverable records survive the
    redrive. The rewrite must go through Spark (no driver round-trip) and
    the surviving quarantine must be byte-complete after the dir swap."""
    import json as _json

    from pyspark.sql import functions as F

    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        reprocess_quarantine,
        write_lake,
        write_quarantine,
    )

    root = str(tmp_path / "redrive_big")
    n_bad = 5000
    raw = spark.range(n_bad + 10).select(
        F.lit("t1").alias("tenant_id"),
        F.when(
            F.col("id") < 10,
            F.to_json(
                F.struct(
                    F.struct(
                        F.lit(123).alias("device"),  # coerced type → recoverable
                        F.concat(F.lit("e"), F.col("id").cast("string")).alias("event"),
                        F.lit("US").alias("region"),
                    ).alias("Data")
                )
            ),
        )
        .otherwise(F.concat(F.lit("{broken json "), F.col("id").cast("string")))
        .alias("raw"),
    )
    res = ingest_batch(raw, ingest_ts=1700000000)
    write_lake(res.valid, root) if res.valid.count() else None
    write_quarantine(res.quarantine, root, "validation-failed")
    q0 = spark.read.json(os.path.join(root, "error", "validation-failed"))
    assert q0.count() == n_bad + 10

    n_rec, n_rem = reprocess_quarantine(
        spark, root, strict_types=False, ingest_ts=1700000000
    )
    assert (n_rec, n_rem) == (10, n_bad)
    left = spark.read.json(os.path.join(root, "error", "validation-failed"))
    assert left.count() == n_bad
    # every surviving raw record is intact (checksum over the payloads)
    n_distinct = left.select("raw_record").distinct().count()
    assert n_distinct == n_bad
    # re-run: nothing recoverable, remainder stable
    assert reprocess_quarantine(
        spark, root, strict_types=False, ingest_ts=1700000000
    ) == (0, n_bad)


def test_snapshot_branches_isolated_writes_and_fast_forward(spark, tmp_path):
    """Nessie-style branches over the snapshot store: shared immutable
    versions, per-branch pointers, fast-forward merge by ancestry."""
    import pytest

    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        branch_version,
        create_branch,
        delete_branch,
        fast_forward,
        latest_snapshot_version,
        list_branches,
        read_branch,
        read_snapshot,
        write_snapshot,
        write_snapshot_to_branch,
    )

    root = str(tmp_path / "tbl")
    write_snapshot(spark.range(3).toDF("id"), root)  # main v1
    create_branch(root, "dev")
    assert list_branches(root) == {"main": 1, "dev": 1}

    # writes on dev don't move main
    write_snapshot_to_branch(spark.range(5).toDF("id"), root, "dev")  # v2
    write_snapshot_to_branch(spark.range(7).toDF("id"), root, "dev")  # v3
    assert latest_snapshot_version(root) == 1
    assert branch_version(root, "dev") == 3
    assert read_branch(spark, root, "dev").count() == 7
    assert read_snapshot(spark, root).count() == 3  # main still v1

    # fast-forward: main (v1) IS an ancestor of dev (v3 → v2 → v1)
    assert fast_forward(root, "dev") == 3
    assert latest_snapshot_version(root) == 3
    assert read_snapshot(spark, root).count() == 7

    # diverged histories refuse the pointer merge
    create_branch(root, "exp")  # at v3
    write_snapshot_to_branch(spark.range(9).toDF("id"), root, "exp")  # v4
    write_snapshot(spark.range(11).toDF("id"), root)  # main v5 (parallel)
    with pytest.raises(ValueError, match="diverged"):
        fast_forward(root, "exp")

    # optimistic concurrency per branch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        ConcurrentSnapshotError,
    )

    with pytest.raises(ConcurrentSnapshotError):
        write_snapshot_to_branch(
            spark.range(1).toDF("id"), root, "exp", expected_version=3
        )

    delete_branch(root, "exp")
    assert "exp" not in list_branches(root)
    with pytest.raises(ValueError, match="does not exist"):
        branch_version(root, "exp")


def test_vacuum_protects_branch_heads(spark, tmp_path):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        create_branch,
        read_branch,
        vacuum_snapshots,
        write_snapshot,
        write_snapshot_to_branch,
    )

    root = str(tmp_path / "tbl")
    write_snapshot(spark.range(1).toDF("id"), root)  # v1
    create_branch(root, "old")  # pins v1
    for n in (2, 3, 4, 5):
        write_snapshot(spark.range(n).toDF("id"), root)  # v2..v5
    write_snapshot_to_branch(spark.range(9).toDF("id"), root, "old")  # v6 on old
    removed = vacuum_snapshots(root, keep_last=1)
    # v1 was un-pinned when 'old' advanced to v6; v5 (main) + v6 (old) survive
    assert 5 not in removed and 6 not in removed
    assert read_branch(spark, root, "old").count() == 9


def test_write_audit_publish_gates_main(spark, tmp_path):
    """WAP: bad data stays quarantined on the audit branch; good data
    publishes by pointer move; main readers never see staged bytes."""
    import pytest
    from pyspark.sql import functions as F

    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        AuditFailure,
        latest_snapshot_version,
        read_snapshot,
        write_audit_publish,
        write_snapshot,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.constraints import (
        Constraint,
    )

    root = str(tmp_path / "tbl")
    write_snapshot(spark.range(3).toDF("id"), root)  # main v1
    rules = [Constraint("id_nonneg", "check", violation=F.col("id") < 0)]

    bad = spark.createDataFrame([(1,), (-5,)], "id long")
    with pytest.raises(AuditFailure, match="id_nonneg"):
        write_audit_publish(bad, root, rules)
    assert latest_snapshot_version(root) == 1  # main untouched
    assert read_snapshot(spark, root).count() == 3

    good = spark.range(10).toDF("id")
    v = write_audit_publish(good, root, rules)
    assert latest_snapshot_version(root) == v
    assert read_snapshot(spark, root).count() == 10


def test_vacuum_orphans_reclaims_aborted_cas_commit(spark, tmp_path):
    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(10).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)
    lake.write_snapshot(df.withColumn("k", df.k + 1), root)
    # simulate a writer that lost the CAS race AFTER materializing v3:
    # the directory exists (with _SUCCESS and the abort path's _ABORTED
    # stamp) but no pointer ever moved
    df.write.parquet(root + "/v3")
    lake._mark_aborted(root + "/v3")
    assert lake.latest_snapshot_version(root) == 2

    listed = lake.vacuum_orphans(root, grace_seconds=0, dry_run=True)
    assert listed == [3]
    import os

    assert os.path.isdir(root + "/v3")  # dry run never deletes
    assert lake.vacuum_orphans(root, grace_seconds=0) == [3]
    assert not os.path.isdir(root + "/v3")
    # current read unaffected; next write reuses the reclaimed number
    assert lake.read_snapshot(spark, root).count() == 10
    assert lake.write_snapshot(df, root) == 3


def test_vacuum_orphans_torn_write_and_grace(spark, tmp_path):
    import os

    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(5).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)
    # torn write: a v2 directory without _SUCCESS (crashed mid-job)
    os.makedirs(root + "/v2")
    with open(root + "/v2/part-zzz.parquet", "wb") as f:
        f.write(b"garbage")
    # grace window protects a fresh directory
    assert lake.vacuum_orphans(root, grace_seconds=3600) == []
    assert lake.vacuum_orphans(root, grace_seconds=0) == [2]
    assert not os.path.isdir(root + "/v2")


def test_vacuum_orphans_respects_branch_refs(spark, tmp_path):
    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(5).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)  # v1 (main)
    lake.create_branch(root, "dev")
    lake.write_snapshot_to_branch(df.withColumn("k", df.k * 2), root, "dev")  # v2
    # main still at v1; v2 is ABOVE main's pointer but the dev branch
    # holds it — not an orphan
    assert lake.latest_snapshot_version(root) == 1
    assert lake.vacuum_orphans(root, grace_seconds=0) == []
    assert lake.read_branch(spark, root, "dev").count() == 5


def test_vacuum_orphans_never_touches_reachable_history(spark, tmp_path):
    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(3).withColumnRenamed("id", "k")
    for _ in range(4):
        lake.write_snapshot(df, root)
    # history v1..v3 below the pointer is vacuum_snapshots territory
    assert lake.vacuum_orphans(root, grace_seconds=0) == []
    assert lake.read_snapshot(spark, root, version=1).count() == 3


def test_vacuum_orphans_preserves_rolled_back_versions(spark, tmp_path):
    """rollback_snapshot promises later versions stay on disk for
    re-promotion; a committed-then-rolled-back version is recorded in
    the commit log and must never be treated as an aborted orphan."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(4).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)                      # v1
    lake.write_snapshot(df.withColumn("k", df.k + 1), root)  # v2
    lake.write_snapshot(df.withColumn("k", df.k + 2), root)  # v3
    lake.rollback_snapshot(root, 2)                    # v3 now above the ref
    assert lake.vacuum_orphans(root, grace_seconds=0) == []
    # re-promotion still possible — the documented audit path
    lake.rollback_snapshot(root, 3)
    assert lake.read_snapshot(spark, root).count() == 4
    # while a genuinely aborted dir above the refs still reclaims
    lake.rollback_snapshot(root, 2)
    df.write.parquet(root + "/v9")
    lake._mark_aborted(root + "/v9")
    assert lake.vacuum_orphans(root, grace_seconds=0) == [9]


def test_vacuum_orphans_preserves_unlogged_committed_versions(spark, tmp_path):
    """A completed version directory with NO commit-log entry and NO
    _ABORTED stamp must never be reclaimed: it is indistinguishable from
    a commit that predates the log, or a writer that crashed between the
    pointer promote and the log append (ADVICE r9)."""
    import os

    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(4).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)                            # v1
    lake.write_snapshot(df.withColumn("k", df.k + 1), root)  # v2
    lake.write_snapshot(df.withColumn("k", df.k + 2), root)  # v3
    os.remove(root + "/_commits.jsonl")  # pre-log-era table
    lake.rollback_snapshot(root, 1)      # v2, v3 now above the ref
    assert lake.vacuum_orphans(root, grace_seconds=0) == []
    # rollback's re-promotion promise still holds
    lake.rollback_snapshot(root, 3)
    assert lake.read_snapshot(spark, root).count() == 4


def test_real_lost_race_abort_is_marked_and_vacuumable(spark, tmp_path, monkeypatch):
    """Drive write_snapshot's actual second-check abort path (a competing
    promote landing DURING the parquet write) and verify the materialized
    directory carries the _ABORTED stamp, never reaches the commit log,
    and is reclaimed by vacuum_orphans."""
    import os

    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(6).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)  # v1
    real = lake.latest_snapshot_version
    calls = {"n": 0}

    def racing(r):
        # calls 1 (pre-check) and 2 (version computation) see v1; from
        # the post-write re-check onward a competitor has promoted v2
        calls["n"] += 1
        return real(r) if calls["n"] <= 2 else real(r) + 1

    import pytest

    monkeypatch.setattr(lake, "latest_snapshot_version", racing)
    with pytest.raises(lake.ConcurrentSnapshotError, match="will be vacuumed"):
        lake.write_snapshot(df, root, expected_version=1)
    monkeypatch.setattr(lake, "latest_snapshot_version", real)

    orphan = root + "/v2"
    assert os.path.exists(orphan + "/_ABORTED")
    assert 2 not in lake._read_commit_parents(root)
    assert lake.vacuum_orphans(root, grace_seconds=0) == [2]
    assert not os.path.isdir(orphan)


def test_aborted_branch_commit_stays_out_of_log_and_vacuums(spark, tmp_path, monkeypatch):
    """The branch CAS abort must not reach the commit log (the log append
    now follows the pointer promote) so vacuum_orphans can reclaim the
    orphan directory (ADVICE r9)."""
    import os

    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(5).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)  # v1
    lake.create_branch(root, "dev")
    real = lake.branch_version
    calls = {"n": 0}

    def racing(r, b):
        # call 1 (base read) sees v1; the post-write re-check sees a
        # competitor's v2 promote
        calls["n"] += 1
        return real(r, b) if calls["n"] <= 1 else real(r, b) + 1

    import pytest

    monkeypatch.setattr(lake, "branch_version", racing)
    with pytest.raises(lake.ConcurrentSnapshotError, match="lost the race"):
        lake.write_snapshot_to_branch(df, root, "dev", expected_version=1)
    monkeypatch.setattr(lake, "branch_version", real)

    orphan = root + "/v2"
    assert os.path.exists(orphan + "/_ABORTED")
    assert 2 not in lake._read_commit_parents(root)  # never logged
    assert lake.branch_version(root, "dev") == 1     # pointer never moved
    assert lake.vacuum_orphans(root, grace_seconds=0) == [2]
    assert not os.path.isdir(orphan)


def test_promoted_head_is_always_logged_before_pointer_move(spark, tmp_path, monkeypatch):
    """r10 review finding: the log append must precede the pointer
    promote, or a crash in between leaves a promoted head with no
    parent record — permanently breaking fast_forward's ancestry walk.
    Pin the ordering by asserting the log entry exists at the moment
    os.replace promotes the pointer."""
    import os as _os

    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(4).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)  # v1
    lake.create_branch(root, "dev")

    real_replace = _os.replace
    seen = {}

    def checking_replace(src, dst):
        if dst.endswith("_BRANCH_dev") or dst.endswith("_LATEST"):
            seen[dst.rsplit("/", 1)[-1]] = dict(lake._read_commit_parents(root))
        return real_replace(src, dst)

    monkeypatch.setattr(lake.os, "replace", checking_replace)
    lake.write_snapshot_to_branch(df, root, "dev")  # v2
    lake.write_snapshot(df, root)  # v3 (main)
    monkeypatch.setattr(lake.os, "replace", real_replace)
    assert 2 in seen["_BRANCH_dev"], "branch head promoted before it was logged"
    assert 3 in seen["_LATEST"], "main head promoted before it was logged"


def test_vacuum_migration_flag_reclaims_legacy_unmarked_orphans(spark, tmp_path):
    """Pre-marker lakes: a completed, unlogged, unmarked directory above
    every ref stays preserved by default and is reclaimed only under the
    explicit include_unmarked_above_refs migration flag."""
    import os as _os

    from aws_saas_factory_multi_tenant_data_pipeline_spark import lake

    root = str(tmp_path / "snap")
    df = spark.range(5).withColumnRenamed("id", "k")
    lake.write_snapshot(df, root)  # v1
    df.write.parquet(root + "/v7")  # legacy aborted CAS: no marker, no log
    assert lake.vacuum_orphans(root, grace_seconds=0) == []
    assert _os.path.isdir(root + "/v7")
    assert lake.vacuum_orphans(
        root, grace_seconds=0, include_unmarked_above_refs=True
    ) == [7]
    assert not _os.path.isdir(root + "/v7")
