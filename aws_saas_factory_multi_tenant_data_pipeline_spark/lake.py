"""Lake: partitioned writes (A4), quarantine (A5), catalog registration (A6), compaction.

Reference behavior re-expressed:
- A4: Firehose dynamic partitioning writes to
  ``tenant=!{tenantId}/year=…/month=…/day=…/hour=…`` (kinesis-stack.ts:137-138).
  Spark: ``df.write.partitionBy(...)``. Partition columns become queryable
  columns with partition pruning exactly as Glue/Athena exposes them.
- A5: failures → ``error/!{firehose:error-output-type}/`` (kinesis-stack.ts:139).
  Spark: quarantine DataFrame written under ``<root>/error/<type>/``.
- A6: Glue crawler infers schema and registers table in ``multi-tenant-db``
  every 5 min (glue-stack.ts:32-46). Spark: create database + external
  table over the lake root, then ``recoverPartitions`` (≈ MSCK REPAIR).

Scale notes (100 TB):
- Writes hash-repartition on the full partition layout first
  (``_by_layout``), so each Hive partition is produced by exactly one task
  and every write adds exactly one file per partition — no
  every-task-writes-every-partition small-file explosion. At cluster scale
  this is the one shuffle in the ingest path and it is keyed on the same
  columns the storage layout uses.
- The shuffle is sized at one writer task per core
  (``defaultParallelism``). A write costs per file, not per byte (a PUT on
  S3; on local disk a file create plus about 6.5 ms of parquet writer CPU
  per file; ``get_spark``'s file system sets each mode in-process rather
  than forking a ``chmod``), and a micro-batch is small enough that AQE
  would coalesce an unnumbered shuffle onto one task, which then creates
  every partition file in turn while the other cores idle.
- ``compact_partitions`` is the periodic OPTIMIZE-style rewrite the
  reference lacks (Firehose's known small-file weakness): rewrite a
  partition subtree to one file per partition.

Every table-format feature below (snapshots, branches, WAP, compaction,
redrive, upsert, rollups) is built from two protocols, each implemented
once:
- **Pointer commit** (``write_snapshot_to_branch``; ``write_snapshot`` is
  its ``main`` case): write an immutable ``v<N>`` directory, log it, then
  move a pointer file (``_write_pointer``, a tmp file plus an atomic
  ``os.replace``).
- **Rename-aside promote** (``_promote``): set the live tree aside,
  rename the staged tree into place, then delete the old one. Every
  rewriter first runs ``_recover_rename_swap``, which restores a tree a
  crash left set aside.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.model import PARTITION_COLS
from aws_saas_factory_multi_tenant_data_pipeline_spark.session import persisted

DEFAULT_DB = "multi_tenant_db"  # reference: "multi-tenant-db" (glue-stack.ts:39)

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str, what: str) -> str:
    """DDL below interpolates identifiers into SQL text; reject anything
    that is not a plain identifier so caller-supplied table/db names can
    never smuggle SQL into the session catalog."""
    if not _IDENT.match(name):
        raise ValueError(f"invalid {what} {name!r}: must match {_IDENT.pattern}")
    return name


def write_lake(df: DataFrame, root: str, fmt: str = "parquet") -> None:
    """A4 partitioned lake write: append ``df`` under the ``PARTITION_COLS``
    layout.

    ``fmt="json"`` gives byte-level parity with the reference's JSON-lines
    lake; ``parquet`` (default) is the scale path (column pruning + min/max
    pushdown, which JSON can never give).
    """
    # one shuffle keyed on the storage layout → one file per partition,
    # written by one task per core in parallel
    _by_layout(df, PARTITION_COLS).write.mode("append").partitionBy(*PARTITION_COLS).format(fmt).save(root)


def _by_layout(df: DataFrame, pcols: list[str], n_writers: int = 0) -> DataFrame:
    """Hash-repartition ``df`` on the full layout ``pcols`` into at least
    one writer task per core. Each Hive partition lands in exactly one
    task, so the write makes one file per partition; the explicit count
    keeps AQE from coalescing a small shuffle onto a single writer."""
    n = max(n_writers, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n, *[F.col(c) for c in pcols])


def write_quarantine(quarantine: DataFrame, root: str, error_type: str = "processing-failed") -> None:
    """A5: dead-letter records under ``<root>/error/<error-type>/``."""
    out = os.path.join(root, "error", error_type)
    quarantine.write.mode("append").format("json").save(out)


def register_table(
    spark: SparkSession,
    root: str,
    table: str,
    db: str = DEFAULT_DB,
    fmt: str = "parquet",
) -> str:
    """A6: register the lake as an external partitioned table + discover partitions.

    Equivalent of the Glue crawler pass: schema from the files, partitions
    from the directory layout, table upserted into the catalog db.
    """
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake

    _check_ident(db, "database name")
    _check_ident(table, "table name")
    if "'" in root:
        raise ValueError(f"lake root {root!r} must not contain a quote (LOCATION DDL)")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    fq = f"{db}.{table}"
    spark.sql(f"DROP TABLE IF EXISTS {fq}")
    # schema inference from the lake (crawler parity), partition cols from
    # layout; read_lake scopes discovery to the tenant=* subtree so the
    # error/ quarantine prefix (A5, same-bucket layout as the reference) is
    # excluded — the crawler likewise catalogs errors as a separate table
    sample = read_lake(spark, root, fmt=fmt, first_partition_col=PARTITION_COLS[0])
    data_cols = [f for f in sample.schema.fields if f.name not in PARTITION_COLS]
    cols_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in data_cols)
    part_ddl = ", ".join(f"`{c}` string" for c in PARTITION_COLS)
    spark.sql(
        f"CREATE TABLE {fq} ({cols_ddl}) USING {fmt} "
        f"PARTITIONED BY ({part_ddl}) LOCATION '{root}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {fq}")
    return fq


def refresh_table(spark: SparkSession, table: str, db: str = DEFAULT_DB) -> int:
    """A6 periodic re-crawl, single cycle: discover partitions added to the
    lake since registration (the Glue crawler's 5-minute cron,
    glue-stack/multi-tenant-glue-stack.ts:41-43, minus the scheduler — cadence
    belongs to the caller's orchestrator).

    ``MSCK REPAIR`` ≡ ``spark.catalog.recoverPartitions``: scans the
    directory layout and upserts missing partitions into the catalog.
    Returns the table's partition count after refresh so schedulers can log
    crawl deltas like the crawler does.
    """
    fq = f"{_check_ident(db, 'database name')}.{_check_ident(table, 'table name')}"
    spark.sql(f"MSCK REPAIR TABLE {fq}")
    return spark.sql(f"SHOW PARTITIONS {fq}").count()


def _tree_size_bytes(spark: SparkSession, root: str) -> int:
    """Total data size under ``root`` via the Hadoop FileSystem API — works
    on any supported filesystem (local, HDFS, s3a…), not just local disk."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(conf)
    return fs.getContentSummary(path).getLength()


def write_lake_overwrite_partitions(
    df: DataFrame, root: str, fmt: str = "parquet", partition_cols: list[str] | None = None
) -> None:
    """Idempotent batch re-run: dynamically overwrite ONLY the partitions
    present in ``df`` (sibling partitions untouched). The reference has no
    replay story at all; this is the engine's reprocessing primitive.

    The dynamic mode is a per-write option, so the shared session's
    ``spark.sql.sources.partitionOverwriteMode`` is never touched and a
    concurrent static overwrite on the same session keeps its meaning.
    """
    pcols = partition_cols or PARTITION_COLS
    (
        _by_layout(df, pcols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*pcols)
        .format(fmt)
        .save(root)
    )


def _recover_rename_swap(root: str, old: str) -> bool:
    """Recover from a crash mid-swap in the rename-aside protocol: if the
    live directory is missing but the set-aside copy exists, restore it.
    The protocol (root -> old, tmp -> root, delete old) has exactly one
    window where ``root`` is absent — between the two renames — and this
    entry-time check closes it: the next maintenance run (or any caller)
    puts the old tree back before doing anything else. Returns True if a
    recovery was performed."""
    if os.path.exists(old) and not os.path.exists(root):
        os.rename(old, root)
        return True
    return False


def _promote(root: str, staged: str | None, old: str) -> None:
    """The rename-aside swap: set ``root`` aside as ``old`` (atomic),
    rename ``staged`` into place (atomic; ``None`` retires ``root``
    without a replacement), and only then delete ``old``. No step deletes
    the only copy of the data; a crash between the renames leaves
    ``root`` absent and ``old`` intact, which the caller's entry-time
    :func:`_recover_rename_swap` restores on the next run."""
    if os.path.exists(old):  # left by a run that crashed after promoting
        shutil.rmtree(old)
    os.rename(root, old)
    if staged is not None:
        os.rename(staged, root)
    shutil.rmtree(old)


def compact_partitions(
    spark: SparkSession,
    root: str,
    fmt: str = "parquet",
    target_file_mb: int = 512,
) -> None:
    """Small-file compaction: rewrite the lake to one file per partition.

    The reference has no answer to Firehose's 60 s micro-file problem; at
    100 TB this job is what keeps scan task counts sane. The rewrite hashes
    on the full layout, so each partition becomes exactly one file whatever
    its size; ``target_file_mb`` only sets the writer-task count (lake
    size / target, but at least one per core). Rewrites into a
    temp subtree then swaps via rename-aside (root -> root__old,
    tmp -> root, delete root__old): at no point is the only copy of the
    data deleted, so a crash at any step leaves either the old or the new
    tree intact under a recoverable name. Sizing goes through the Hadoop
    FS API (any filesystem); the rename swap below is local-FS — on an
    object store, swap via the catalog (repoint the table LOCATION).

    Callers must ensure NO writer appends to ``root`` during compaction:
    the rewrite works from a snapshot, so files added after the read are
    not carried into the new tree. (At scale, compact per-partition with
    ``write_lake_overwrite_partitions`` on closed partitions instead.)
    """
    base = root.rstrip("/")
    tmp = base + "__compact_tmp"
    old = base + "__compact_old"
    _recover_rename_swap(root, old)  # heal a crash between the two renames
    df = spark.read.format(fmt).load(root)
    size_bytes = _tree_size_bytes(spark, root)
    n_writers = int(size_bytes // (target_file_mb * 1024 * 1024))
    (
        _by_layout(df, PARTITION_COLS, n_writers)
        .write.mode("overwrite")
        .partitionBy(*PARTITION_COLS)
        .format(fmt)
        .save(tmp)
    )
    _promote(root, tmp, old)


def _touched_partitions(df: DataFrame, pcols: list[str], limit: int, what: str):
    """The distinct ``pcols`` tuples in ``df`` and a static predicate that
    selects exactly those partitions (``None`` when ``df`` is empty). The
    tuples are collected to the driver, so more than ``limit`` of them
    raises: a change that wide should be a full rebuild, not ``what``."""
    keys = df.select(*pcols).distinct().limit(limit + 1).collect()
    if len(keys) > limit:
        raise ValueError(
            f"more than {limit} partitions touched; "
            f"use a full rebuild (write_lake) instead of {what}"
        )
    clauses = [reduce(and_, [F.col(c) == F.lit(row[c]) for c in pcols]) for row in keys]
    return keys, reduce(or_, clauses) if clauses else None


def maintain_rollup(
    spark: SparkSession,
    fact_root: str,
    rollup_root: str,
    build,
    touched: DataFrame,
    partition_cols: list[str] | None = None,
    fmt: str = "parquet",
    max_touched_partitions: int = 10_000,
) -> int:
    """Incrementally maintain a rollup table: recompute ONLY the partitions
    a new batch touched (the continuous-aggregate / hypertable-refresh
    pattern the reference's 60 s Firehose buffering implies but never
    provides).

    ``touched`` is any DataFrame carrying the partition columns of the
    rows that just arrived (typically the ingested micro-batch itself).
    Its distinct partition tuples are collected to the driver — bounded by
    ``max_touched_partitions`` (an increment touches few partitions; a
    full backfill should use a plain rebuild) — and turned into a static
    pushdown predicate, so the fact scan prunes to exactly the dirty
    partition directories. ``build`` maps the scoped fact DataFrame to its
    rollup rows; the result dynamically overwrites only those partitions
    of the rollup table (siblings untouched, so the refresh is idempotent
    and crash-safe at partition granularity).

    Returns the number of partitions refreshed. Scale: at 100 TB the fact
    re-read is bounded by the dirty partitions (hours × tenants), not the
    table; the overwrite is keyed on the same columns as the layout so no
    second shuffle is introduced beyond the rollup aggregation itself.
    """
    pcols = list(partition_cols or PARTITION_COLS)
    keys, pred = _touched_partitions(touched, pcols, max_touched_partitions, "an incremental refresh")
    if not keys:
        return 0
    fact = spark.read.format(fmt).load(fact_root).where(pred)
    rolled = build(fact)
    missing = [c for c in pcols if c not in rolled.columns]
    if missing:
        raise ValueError(f"build() result is missing partition columns {missing}")
    write_lake_overwrite_partitions(rolled, rollup_root, fmt=fmt, partition_cols=pcols)
    return len(keys)


def upsert_partitioned(
    spark: SparkSession,
    root: str,
    changes: DataFrame,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    fmt: str = "parquet",
    delete_col: str | None = None,
    seq_col: str | None = None,
    max_touched_partitions: int = 10_000,
) -> int:
    """MERGE-style keyed upsert: apply a changeset (inserts + updates +
    optional deletes) to a partitioned lake table, rewriting ONLY the
    partitions the changeset touches.

    The reference's lake is append-only (Firehose); this is the engine's
    mutation primitive, built from the same two ingredients as
    :func:`maintain_rollup` — a bounded driver-side list of touched
    partition tuples turned into a static pruning predicate, and a dynamic
    partition overwrite of exactly those partitions:

      1. touched = distinct partition tuples in ``changes`` (bounded by
         ``max_touched_partitions`` — a changeset touches few partitions;
         a table-wide rewrite should be a plain ``write_lake``),
      2. current = lake rows in the touched partitions only (static
         pushdown — the scan never reads a clean partition),
      3. merged = current rows whose key has no change row (left_anti)
         UNION the change rows (minus rows flagged by ``delete_col``),
      4. dynamic-overwrite the touched partitions (siblings untouched, so
         a re-run of the same changeset is idempotent).

    ``seq_col``: when the changeset may carry several versions of a key,
    names a monotone column; the highest value wins (ties broken against
    duplicate-emitting upstreams deterministically by the remaining key
    order). Without it, duplicate keys in ``changes`` raise.

    Contract: keys are unique in the table, and a change row lives in the
    SAME partition as the current row for that key — moving a row across
    partitions requires the caller to also emit a delete for the old
    partition (the standard constraint for partition-scoped merges; at
    100 TB this is why partition keys are derived from immutable columns).

    Returns the number of partitions rewritten. Scale: cost is bounded by
    the touched partitions, not the table; the anti-join shuffles only
    those partitions' rows keyed on ``key_cols``, and the write re-uses
    the partition-column clustering.
    """
    pcols = list(partition_cols or PARTITION_COLS)
    kcols = list(key_cols)
    keys, pred = _touched_partitions(changes, pcols, max_touched_partitions, "a keyed upsert")
    if not keys:
        return 0
    if seq_col is not None:
        w = Window.partitionBy(*kcols).orderBy(F.col(seq_col).desc(), *kcols)
        changes = (
            changes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        dups = changes.groupBy(*kcols).count().where(F.col("count") > 1).limit(1).count()
        if dups:
            raise ValueError(
                "changeset has duplicate keys and no seq_col to pick a winner"
            )
    try:
        current = spark.read.format(fmt).load(root).where(pred)
    except Exception as exc:  # PATH_NOT_FOUND: first changeset bootstraps
        if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
            raise
        template = changes if delete_col is None else changes.drop(delete_col)
        current = spark.createDataFrame([], template.schema)
    survivors = current.join(changes.select(*kcols), kcols, "left_anti")
    apply_rows = changes
    if delete_col is not None:
        apply_rows = apply_rows.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    merged = survivors.unionByName(apply_rows.select(*survivors.columns))
    # dynamic partition overwrite only rewrites partitions PRESENT in the
    # output — a delete-only changeset that empties a partition would
    # silently leave the old files live. Find touched partitions with no
    # surviving rows and drop their directories explicitly (local-FS
    # rmtree here; at object-store scale the same step is a prefix
    # delete, exactly like delete_tenant).
    with persisted(merged):
        present = {
            tuple(r[c] for c in pcols)
            for r in merged.select(*pcols).distinct().collect()
        }
        write_lake_overwrite_partitions(merged, root, fmt=fmt, partition_cols=pcols)
    for row in keys:
        if tuple(row[c] for c in pcols) not in present:
            victim = os.path.join(root, *[f"{c}={row[c]}" for c in pcols])
            shutil.rmtree(victim, ignore_errors=True)
    return len(keys)


def reprocess_quarantine(
    spark: SparkSession,
    root: str,
    error_type: str = "validation-failed",
    strict_types: bool = True,
    ingest_ts: int | None = None,
) -> tuple[int, int]:
    """A5 repair loop: re-drive dead-lettered records through the (fixed)
    ingest gate and merge the recovered ones into the lake.

    Reads ``<root>/error/<error_type>/``, re-runs the full batch ingest
    (validate → enrich → partition) on the raw records — after an
    upstream fix this typically means a corrected parser or a relaxed
    ``strict_types`` — appends recovered rows to the lake, and REWRITES
    the quarantine directory with only the still-failing remainder
    (the rename-aside :func:`_promote`, recovered on entry like
    compact_partitions). Recovered rows are at-least-once across a crash
    between the swap's two renames: the entry-time recovery restores the
    whole set-aside quarantine, so a row already appended to the lake
    before the crash is re-driven and appended again, as in the stream
    sink's default mode. A quarantine append that lands between the
    crash and the next redrive keeps its rows too (:func:`_recover_redrive`).
    Requires the quarantine rows to carry ``tenant_id`` (ingest_batch
    writes it when the source had one); rows without it cannot be
    re-attributed and are kept quarantined.

    Returns ``(n_recovered, n_remaining)``. Scale: the quarantine is by
    construction a tiny fraction of the corpus; both passes are one scan
    of it plus the normal partitioned append.
    """
    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch

    qdir = os.path.join(root, "error", error_type)
    base = qdir.rstrip("/")
    tmp, old = base + "__redrive_tmp", base + "__redrive_old"
    _recover_redrive(qdir, tmp, old)
    if not os.path.exists(qdir):
        return (0, 0)
    q = spark.read.json(qdir)
    if "raw_record" not in q.columns:
        return (0, 0)
    attributable = (
        q.where(F.col("tenant_id").isNotNull())
        if "tenant_id" in q.columns
        else q.limit(0)
    )
    orphans = (
        q.where(F.col("tenant_id").isNull()) if "tenant_id" in q.columns else q
    )
    redriven = ingest_batch(
        attributable.select("tenant_id", F.col("raw_record").alias("raw")),
        strict_types=strict_types,
        ingest_ts=ingest_ts,
    )
    recovered = redriven.valid
    n_recovered = recovered.count()
    if n_recovered:
        write_lake(recovered, root)
    remaining = redriven.quarantine.select("tenant_id", "raw_record", "error_type")
    if "tenant_id" in q.columns:
        remaining = remaining.unionByName(
            orphans.select(
                "tenant_id", "raw_record", F.coalesce("error_type", F.lit(error_type)).alias("error_type")
            )
        )
    # Write the surviving quarantine to a sibling tmp dir WITH SPARK (the
    # write materializes it fully before the swap, so the rewrite never
    # reads the tree it is replacing), then promote by rename. A poisoned
    # upstream day can make the quarantine arbitrarily large — it must
    # never round-trip through the driver.
    shutil.rmtree(tmp, ignore_errors=True)  # left by a run that crashed before promoting
    n_remaining = remaining.count()
    if n_remaining:
        remaining.write.format("json").save(tmp)
    _promote(qdir, tmp if n_remaining else None, old)
    return (n_recovered, n_remaining)


def _recover_redrive(qdir: str, tmp: str, old: str) -> None:
    """Entry-time recovery of :func:`reprocess_quarantine`'s swap. ``tmp``
    next to ``old`` means the swap stopped between its two renames:
    ``old`` is the whole quarantine as it was, and a stream append since
    then may have recreated ``qdir``, so old's part files move into
    ``qdir`` (made if needed) rather than replace it. ``old`` alone next
    to a live ``qdir`` is a finished swap's leftover and goes now, before
    a new ``tmp`` is written next to it."""
    if not os.path.exists(old):
        return
    if os.path.exists(tmp):
        os.makedirs(qdir, exist_ok=True)
        for name in os.listdir(old):
            if "part-" in name:  # part files and their .crc twins
                os.rename(os.path.join(old, name), os.path.join(qdir, name))
        shutil.rmtree(old)
    elif not _recover_rename_swap(qdir, old):
        shutil.rmtree(old)


def delete_tenant(spark: SparkSession, root: str, tenant_id: str, table: str | None = None) -> int:
    """Tenant offboarding / right-to-erasure: drop a tenant's entire
    partition subtree from the lake (physical isolation makes this an
    O(1)-per-partition directory removal, no rewrite of other tenants'
    data — THE operational payoff of tenant-first partitioning), then
    resync the catalog if a table is registered.

    Returns the number of partition directories removed. At object-store
    scale the same call is a prefix delete on ``tenant=<id>/``.
    """
    from aws_saas_factory_multi_tenant_data_pipeline_spark.tenancy import TenantContext

    TenantContext(tenant_id)  # same identity rule as ingest; rejects path shapes
    victim = os.path.join(root, f"tenant={tenant_id}")
    n = 0
    if os.path.exists(victim):
        n = sum(len(dirs) == 0 for _, dirs, _ in os.walk(victim))
        shutil.rmtree(victim)
    if table is not None:
        refresh_table(spark, table)
    return n


# ---------------------------------------------------------------------------
# Snapshot versioning / time travel. The reference lake is append-only with
# no transaction log (Firehose prefixes, kinesis-stack.ts:137-145); these
# helpers add the minimal Delta/Iceberg-style capability on plain parquet:
# immutable version directories + an atomically-swapped pointer file.
# Readers resolve the pointer once and then read an immutable tree, so a
# concurrent writer can never show them a half-written snapshot; rollback
# is a pointer move, not a data rewrite.


def _versions_meta(root: str) -> str:
    return os.path.join(root, "_LATEST")


def _read_pointer(path: str) -> int | None:
    """The version a pointer file names; None when there is no such file."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(f.read().strip())


def _write_pointer(path: str, version: int) -> None:
    """Move a pointer atomically: write a tmp file, then ``os.replace`` it
    over the pointer (on an object store, a conditional put)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, path)


def _version_dirs(root: str) -> list[int]:
    """The numbers of the ``v<N>`` directories under ``root``, ascending."""
    return sorted(
        int(m.group(1))
        for d in os.listdir(root)
        if (m := re.fullmatch(r"v(\d+)", d)) and os.path.isdir(os.path.join(root, d))
    )


class ConcurrentSnapshotError(RuntimeError):
    """Raised when ``write_snapshot(expected_version=...)`` loses the race:
    another writer promoted a version after the caller read theirs."""


def _mark_aborted(path: str) -> bool:
    """Stamp a materialized version directory as a lost-race abort so
    :func:`vacuum_orphans` can reclaim it. A completed directory WITHOUT
    this marker (and without a commit-log entry) is indistinguishable
    from a commit that predates the log — vacuum preserves those, so the
    marker is what keeps the ConcurrentSnapshotError promise. Returns
    False when the stamp could not be written (the raised error then
    says so instead of promising a vacuum that will never come; such
    leaks are reclaimable via ``include_unmarked_above_refs``)."""
    try:
        with open(os.path.join(path, "_ABORTED"), "w") as f:
            f.write("lost optimistic-concurrency race\n")
        return True
    except OSError:
        return False  # best-effort: an unmarked leak is preserved, never corrupted


def write_snapshot(
    df: DataFrame,
    root: str,
    partition_cols: list[str] | None = None,
    expected_version: int | None = None,
) -> int:
    """Write ``df`` as the next immutable snapshot version of ``main`` and
    atomically promote main's pointer: :func:`write_snapshot_to_branch`
    on ``main``, creating ``root`` first. Returns the new version number.

    ``expected_version`` enables OPTIMISTIC CONCURRENCY (the Delta/Iceberg
    commit rule): pass the version your read-modify-write began from; if
    another writer promoted a different version in the meantime the
    commit raises :class:`ConcurrentSnapshotError` BEFORE promoting, and
    the caller re-reads + retries. Without it, last-writer-wins (the
    data itself is never corrupted either way — versions are immutable
    and the pointer move is atomic; this guards against LOST UPDATES,
    not torn state). The check runs again right before the pointer swap,
    narrowing (not eliminating) the local-FS race window — an object
    store's conditional put closes it entirely.
    """
    os.makedirs(root, exist_ok=True)
    return write_snapshot_to_branch(df, root, "main", partition_cols, expected_version)


def latest_snapshot_version(root: str) -> int:
    return _read_pointer(_versions_meta(root)) or 0


def read_snapshot(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Time-travel read: the requested (or latest) immutable version."""
    v = latest_snapshot_version(root) if version is None else version
    if v < 1:
        raise ValueError(f"no snapshot versions at {root}")
    return spark.read.parquet(os.path.join(root, f"v{v}"))


def rollback_snapshot(root: str, version: int) -> None:
    """Point the table back at an earlier version — a pointer move, no
    data rewrite; later versions stay on disk for re-promotion/audit."""
    if not os.path.isdir(os.path.join(root, f"v{version}")):
        raise ValueError(f"snapshot v{version} does not exist at {root}")
    _write_pointer(_versions_meta(root), version)


def vacuum_snapshots(root: str, keep_last: int = 2) -> list[int]:
    """Drop snapshot directories older than the newest ``keep_last``
    versions, never dropping the currently-pointed version NOR any
    version a branch points at. Returns the removed version numbers."""
    current = latest_snapshot_version(root)
    protected = {current} | set(list_branches(root).values())
    versions = _version_dirs(root)
    victims = [v for v in versions[:-keep_last] if v not in protected] if keep_last else []
    for v in victims:
        shutil.rmtree(os.path.join(root, f"v{v}"))
    return victims


def vacuum_orphans(
    root: str,
    grace_seconds: float = 86400.0,
    dry_run: bool = False,
    include_unmarked_above_refs: bool = False,
) -> list[int]:
    """Reclaim version directories no ref can reach — the other half of
    GC that :func:`vacuum_snapshots` (history-tail retention) never
    touches:

    - **aborted optimistic commits**: a writer that lost the
      ``expected_version`` race has already materialized its ``v{N}``
      directory and stamped it with the ``_ABORTED`` marker (the
      :class:`ConcurrentSnapshotError` message promises "orphan vN will
      be vacuumed" — this is the function that keeps that promise);
    - **torn writes**: a crashed job's version directory without the
      ``_SUCCESS`` marker, at any position, unless a ref points at it.

    COMMITTED versions are never orphans, wherever the pointer sits:
    every successful commit (main and branch alike) is recorded in the
    append-only commit log after its pointer promote, and an aborted
    commit never reaches the log — so a version that was promoted and
    later rolled back PAST (which :func:`rollback_snapshot` promises
    stays on disk for re-promotion/audit) is distinguishable from a
    lost-race directory and is preserved; its retention belongs to
    :func:`vacuum_snapshots`.

    A COMPLETED directory that is neither logged nor marked is
    preserved too: it is indistinguishable from a commit that predates
    the commit log (older tables) — reclaiming it could destroy a
    version :func:`rollback_snapshot` promised to keep. Only evidence
    of failure (no ``_SUCCESS``) or an explicit ``_ABORTED`` stamp
    makes a directory a victim.

    ``include_unmarked_above_refs=True`` is the explicit MIGRATION
    escape hatch for lakes written before the ``_ABORTED`` stamp
    existed (or whose stamp write failed): it restores the positional
    rule — a completed, unlogged, unmarked directory ABOVE every ref
    is reclaimed. Only enable it on tables whose history is known to
    be fully logged (any modern table) or that never used rollback;
    on a pre-log table it can reclaim rolled-back committed versions,
    which is exactly why it is not the default.

    ``grace_seconds`` (Delta's VACUUM retention rule) protects
    in-flight writers: a directory younger than the grace window is
    never touched, because "above every ref" is indistinguishable from
    "about to be promoted". ``dry_run`` lists victims without deleting.
    Concurrent vacuums are safe: a directory that vanishes between the
    listing and the delete is simply skipped.
    """
    import time as _time

    current = latest_snapshot_version(root)
    refs = {current} | set(list_branches(root).values())
    refs.discard(0)
    max_ref = max(refs, default=0)
    committed = set(_read_commit_parents(root))
    now = _time.time()
    victims: list[int] = []
    for v in _version_dirs(root):
        if v in refs or v in committed:
            continue
        path = os.path.join(root, f"v{v}")
        torn = not os.path.exists(os.path.join(path, "_SUCCESS"))
        aborted = os.path.exists(os.path.join(path, "_ABORTED"))
        legacy = include_unmarked_above_refs and v > max_ref
        if not (torn or aborted or legacy):
            # completed + unlogged + unmarked: indistinguishable from a
            # pre-log commit — preserve it (see the migration flag)
            continue
        try:
            if now - os.path.getmtime(path) < grace_seconds:
                continue
            if not dry_run:
                shutil.rmtree(path)
        except FileNotFoundError:
            continue  # a concurrent vacuum got here first
        victims.append(v)
    return sorted(victims)


# --- snapshot branches (Nessie/Iceberg-refs-style) ---------------------------
#
# Branches share the SAME immutable version directories; a branch is just
# another atomically-swapped pointer file plus an append-only commit log
# recording each version's parent — enough for isolated writes, per-branch
# time travel, and FAST-FORWARD merges (main adopts the branch head iff
# main's current version is an ancestor of it; anything else raises — a
# three-way data merge is a MERGE-INTO job, not a pointer move).


def _branch_meta(root: str, branch: str) -> str:
    if branch == "main":
        return _versions_meta(root)
    if not re.fullmatch(r"[A-Za-z0-9_\-]{1,64}", branch):
        raise ValueError(f"bad branch name {branch!r}")
    return os.path.join(root, f"_BRANCH_{branch}")


def _commit_log(root: str) -> str:
    return os.path.join(root, "_commits.jsonl")


def _read_commit_parents(root: str) -> dict[int, int]:
    parents: dict[int, int] = {}
    path = _commit_log(root)
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    rec = json.loads(line)
                    parents[int(rec["version"])] = int(rec["parent"])
    return parents


def branch_version(root: str, branch: str) -> int:
    """Current version a branch points at (0 = no commits)."""
    v = _read_pointer(_branch_meta(root, branch))
    if v is None and branch != "main":
        raise ValueError(f"branch {branch!r} does not exist at {root}")
    return v or 0


def _head(root: str, branch: str) -> int:
    """A branch's head: main's through :func:`latest_snapshot_version`,
    any other branch's through :func:`branch_version`."""
    return latest_snapshot_version(root) if branch == "main" else branch_version(root, branch)


def create_branch(root: str, branch: str, from_version: int | None = None) -> int:
    """Create a branch pointing at ``from_version`` (default: current
    main). Costs one tiny pointer file — no data is copied."""
    if branch == "main":
        raise ValueError("'main' always exists")
    meta = _branch_meta(root, branch)
    if os.path.exists(meta):
        raise ValueError(f"branch {branch!r} already exists")
    v = latest_snapshot_version(root) if from_version is None else from_version
    if v > 0 and not os.path.isdir(os.path.join(root, f"v{v}")):
        raise ValueError(f"snapshot v{v} does not exist at {root}")
    _write_pointer(meta, v)
    return v


def list_branches(root: str) -> dict[str, int]:
    """All branches (main included) and the version each points at."""
    out = {"main": latest_snapshot_version(root)}
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d.startswith("_BRANCH_") and not d.endswith(".tmp"):
                out[d[len("_BRANCH_") :]] = branch_version(root, d[len("_BRANCH_") :])
    return out


def delete_branch(root: str, branch: str) -> None:
    if branch == "main":
        raise ValueError("cannot delete main")
    os.remove(_branch_meta(root, branch))


def write_snapshot_to_branch(
    df: DataFrame,
    root: str,
    branch: str,
    partition_cols: list[str] | None = None,
    expected_version: int | None = None,
) -> int:
    """The snapshot commit: write ``df`` as the next immutable version and
    move ``branch``'s pointer to it (:func:`write_snapshot` is the
    ``main`` case). The new version's parent is the branch's current head
    (recorded in the commit log), other branches are untouched, and
    ``expected_version`` is the optimistic-concurrency check described
    at :func:`write_snapshot`, per branch."""
    base = _head(root, branch)
    if expected_version is not None and base != expected_version:
        raise ConcurrentSnapshotError(
            f"branch {branch!r}: expected v{expected_version} but at v{base} — re-read and retry"
        )
    # next version = 1 + max(head, main, existing dirs): after a rollback
    # the superseded versions are still on disk, and a new write must
    # branch FORWARD past them, never overwrite an immutable snapshot
    version = max([base, latest_snapshot_version(root), *_version_dirs(root)]) + 1
    out = os.path.join(root, f"v{version}")
    w = df.write.mode("errorifexists")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(out)
    if expected_version is not None and (now := _head(root, branch)) != expected_version:
        fate = (
            f"orphan v{version} will be vacuumed"
            if _mark_aborted(out)
            else f"orphan v{version} could not be stamped — reclaim via "
            "vacuum_orphans(include_unmarked_above_refs=True)"
        )
        raise ConcurrentSnapshotError(
            f"branch {branch!r}: lost the race, expected v{expected_version} but at "
            f"v{now} — re-read and retry ({fate})"
        )
    # record the commit AFTER the CAS re-check but BEFORE the promote:
    # an aborted commit raises above and never reaches the log (what lets
    # vacuum_orphans tell a lost race from committed history), while a
    # PROMOTED head is always logged — the reverse order left a crash
    # window where a promoted version had no parent record, permanently
    # breaking fast_forward's ancestry walk. The remaining window
    # (logged, then crash before promote) only leaves a harmless
    # never-promoted entry that vacuum conservatively preserves.
    with open(_commit_log(root), "a") as f:
        f.write(json.dumps({"version": version, "parent": base, "branch": branch}) + "\n")
    _write_pointer(_branch_meta(root, branch), version)
    return version


def read_branch(spark: SparkSession, root: str, branch: str) -> DataFrame:
    """Read a branch's head snapshot."""
    v = branch_version(root, branch)
    if v < 1:
        raise ValueError(f"branch {branch!r} has no snapshot")
    return spark.read.parquet(os.path.join(root, f"v{v}"))


def fast_forward(root: str, branch: str, into: str = "main") -> int:
    """Merge ``branch`` into ``into`` by pointer move, allowed iff
    ``into``'s current head is an ANCESTOR of the branch head (i.e. the
    branch strictly extends it). Divergent histories raise — resolving
    them is a data job (merge_upsert + a new commit), not a pointer
    swap. Returns the new head version."""
    head = branch_version(root, branch)
    target = _head(root, into)
    parents = _read_commit_parents(root)
    v = head
    seen = set()
    while v > 0 and v not in seen:
        if v == target:
            break
        seen.add(v)
        v = parents.get(v, 0)
    else:
        v = -1
    if target != 0 and v != target:
        raise ValueError(
            f"cannot fast-forward: {into!r} (v{target}) is not an ancestor of "
            f"{branch!r} (v{head}) — histories diverged; merge the data instead"
        )
    _write_pointer(_branch_meta(root, into), head)
    return head


def schema_drift(old_df: DataFrame, new_df: DataFrame) -> list[dict]:
    """Column-level drift report between two table generations (the
    Glue-recrawl question: what did the new files change?): added /
    removed / type-changed columns, nested types compared by their full
    simpleString. Driver-side metadata only — no data is read."""
    old_t = {f.name: f.dataType.simpleString() for f in old_df.schema.fields}
    new_t = {f.name: f.dataType.simpleString() for f in new_df.schema.fields}
    report: list[dict] = []
    for name in sorted(old_t.keys() | new_t.keys()):
        if name not in new_t:
            report.append({"column": name, "change": "removed", "old_type": old_t[name], "new_type": None})
        elif name not in old_t:
            report.append({"column": name, "change": "added", "old_type": None, "new_type": new_t[name]})
        elif old_t[name] != new_t[name]:
            report.append(
                {"column": name, "change": "type_changed", "old_type": old_t[name], "new_type": new_t[name]}
            )
    return report


def analyze_table(
    spark: SparkSession,
    table: str,
    db: str = DEFAULT_DB,
    columns: list[str] | None = None,
) -> dict:
    """Collect CBO statistics for a registered lake table (row count +
    size, and per-column NDV/null/min/max when ``columns`` given) —
    what lets Catalyst's cost-based optimizer choose broadcast sides
    and join orders from facts instead of size guesses. The Glue-crawler
    analog keeps statistics fresh the same way. Returns the stats it
    recorded (from DESCRIBE EXTENDED) for caller logging."""
    fq = f"{_check_ident(db, 'database name')}.{_check_ident(table, 'table name')}"
    spark.sql(f"ANALYZE TABLE {fq} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(f"`{_check_ident(c, 'column name')}`" for c in columns)
        spark.sql(f"ANALYZE TABLE {fq} COMPUTE STATISTICS FOR COLUMNS {cols}")
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {fq}").collect()
    stats = next((r["data_type"] for r in rows if r["col_name"] == "Statistics"), None)
    return {"table": fq, "statistics": stats}


# ---------------------------------------------------------------------------
# File-level data skipping. Parquet footers already carry row-group min/max,
# but the scan still has to OPEN every file to learn it excludes the
# predicate. A manifest of per-FILE min/max stats (what Delta keeps in its
# transaction log and Iceberg in manifest files) lets the planner drop
# whole files before any footer read — at 100 TB the difference between
# listing+opening millions of objects and reading one small stats table.
# Complements Z-ordering (operators/layout.py): clustering makes per-file
# ranges narrow, the index makes them actionable at planning time.


def build_file_stats_index(
    spark: SparkSession, root: str, cols: list[str], index_root: str
) -> int:
    """Scan the lake ONCE and persist per-file min/max/null-count stats
    for ``cols``. Uses the ``_metadata.file_path`` hidden column, so stats
    aggregate in one map-side-combined groupBy keyed on file path — no
    driver-side file loop. Returns the number of files indexed."""
    df = spark.read.parquet(root).select(
        F.col("_metadata.file_path").alias("file_path"), *cols
    )
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
        ]
    stats = df.groupBy("file_path").agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    stats.coalesce(1).write.mode("overwrite").parquet(index_root)
    return spark.read.parquet(index_root).count()


def read_with_skipping(
    spark: SparkSession,
    index_root: str,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, int, int]:
    """Plan a range scan ``lo <= col <= hi`` through the stats index:
    keep only files whose [min, max] interval intersects the predicate,
    read exactly those paths, and re-apply the row-level filter (file
    stats are necessary, not sufficient). Returns
    ``(df, files_read, files_total)`` so callers can assert the skip rate.

    The index read + pruning happens on the (tiny) manifest; the file
    list is collected driver-side — bounded by the matching-file count,
    the same thing any table format's planner materializes."""
    stats = spark.read.parquet(index_root)
    keep = stats.where(
        (F.col(f"min_{col}") <= F.lit(hi)) & (F.col(f"max_{col}") >= F.lit(lo))
    )
    files_total = stats.count()
    if files_total == 0:
        raise ValueError(
            f"empty file-stats index at {index_root!r}: no files have been "
            "indexed, so the data schema is unknown — build the index with "
            "build_file_stats_index before reading through it"
        )
    paths = [r.file_path for r in keep.select("file_path").collect()]
    if not paths:
        empty = spark.read.parquet(*[r.file_path for r in stats.limit(1).collect()]).where(
            F.lit(False)
        )
        return empty, 0, files_total
    df = spark.read.parquet(*paths).where((F.col(col) >= lo) & (F.col(col) <= hi))
    return df, len(paths), files_total


def expire_partitions(
    spark: SparkSession,
    root: str,
    partition_col: str,
    cutoff: str,
    table: str | None = None,
) -> int:
    """Retention TTL: drop every ``<partition_col>=<value>`` directory
    with value lexicographically below ``cutoff`` (dates in zero-padded
    ISO form compare correctly as strings — the reason A4 zero-pads its
    partition values, kinesis-stack.ts:153-154). Partition-level deletes
    only: no file rewrite, no scan of surviving data — the same
    O(expired-partitions) shape as ``delete_tenant``. Returns the number
    of partition directories dropped."""
    _check_ident(partition_col, "partition column")
    prefix = f"{partition_col}="
    dropped = 0
    for entry in sorted(os.listdir(root)) if os.path.exists(root) else []:
        if entry.startswith(prefix) and entry[len(prefix):] < cutoff:
            shutil.rmtree(os.path.join(root, entry))
            dropped += 1
    if table is not None:
        refresh_table(spark, table)
    return dropped


def record_lineage(
    df: DataFrame,
    output_root: str,
    op: str,
    extra: dict | None = None,
) -> dict:
    """Append a lineage entry for a write: input files' roots, output
    path, operation label, row schema. The log is a JSON-lines file under
    ``<output_root>/_lineage/`` — the minimal provenance record an audit
    ("which raw prefixes fed this table?") or an incremental rebuild
    ("did my inputs change?") needs, written driver-side once per write
    (metadata cost, not a data pass). Input roots are derived from the
    plan's file sources; in-memory inputs yield an empty list."""
    files = df.inputFiles()
    roots = sorted({os.path.dirname(f) for f in files})
    entry = {
        "op": op,
        "output": output_root,
        "input_roots": roots,
        "n_input_files": len(files),
        "schema": df.schema.simpleString(),
        **(extra or {}),
    }
    lineage_dir = os.path.join(output_root, "_lineage")
    os.makedirs(lineage_dir, exist_ok=True)
    with open(os.path.join(lineage_dir, "log.jsonl"), "a") as f:
        f.write(json.dumps(entry, sort_keys=True) + "\n")
    return entry


def read_lineage(root: str) -> list[dict]:
    """All lineage entries recorded for ``root`` (oldest first)."""
    path = os.path.join(root, "_lineage", "log.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def optimize_table(
    spark: SparkSession,
    root: str,
    order_by: list[str] | None = None,
    target_file_mb: int = 512,
    stats_cols: list[str] | None = None,
    stats_index_root: str | None = None,
) -> dict:
    """The OPTIMIZE maintenance job for a FLAT (non-hive-partitioned)
    table directory: one rewrite that composes the engine's layout tools —

    - compaction to ~``target_file_mb`` files (small-file repair),
    - optional clustering: range-partitioned AND sorted by ``order_by``
      (pass a Z-order key column name list of 1+ cols; for 2-D use
      ``operators.layout.zorder_key`` to derive a key column first),
    - optional per-file min/max stats manifest refresh
      (``stats_cols`` + ``stats_index_root``), so data skipping is
      immediately effective on the new layout.

    Rename-aside swap (same protocol as compact_partitions: old tree set
    aside, new tree promoted, only then deleted). No single copy of the
    data is ever unreachable, but the swap itself is NOT atomic: a crash
    between the two renames leaves ``root`` absent with the data intact
    in ``<root>__opt_old`` — the entry-time recovery below (shared with
    compact_partitions and reprocess_quarantine) restores it on the next
    run. Returns a report
    dict: files/bytes before and after. Partitioned lake trees use
    ``compact_partitions``; snapshot tables should be optimized by
    writing an optimized NEW version instead (immutable versions are
    never rewritten in place).
    """
    base = root.rstrip("/")
    tmp, old = base + "__opt_tmp", base + "__opt_old"
    _recover_rename_swap(root, old)  # heal a crash between the two renames
    df = spark.read.parquet(root)
    files_before = len(df.inputFiles())
    size_bytes = _tree_size_bytes(spark, root)
    n_files = max(1, size_bytes // (target_file_mb * 1024 * 1024))
    out = df
    if order_by:
        out = out.repartitionByRange(int(n_files), *[F.col(c) for c in order_by])
        out = out.sortWithinPartitions(*order_by)
    else:
        out = out.repartition(int(n_files))
    out.write.mode("overwrite").parquet(tmp)
    _promote(root, tmp, old)
    report = {
        "files_before": files_before,
        "files_after": len(spark.read.parquet(root).inputFiles()),
        "bytes": size_bytes,
        "clustered_by": list(order_by or []),
    }
    if stats_cols and stats_index_root:
        report["stats_files_indexed"] = build_file_stats_index(
            spark, root, stats_cols, stats_index_root
        )
    return report


class AuditFailure(RuntimeError):
    """Raised by :func:`write_audit_publish` when the staged snapshot
    fails a constraint — the staged version stays on its audit branch
    for inspection and is never published."""


def write_audit_publish(
    df: DataFrame,
    root: str,
    constraints,
    partition_cols: list[str] | None = None,
    audit_branch: str | None = None,
) -> int:
    """The Iceberg write-audit-publish (WAP) pattern, composed from the
    pieces this lake already has: write ``df`` as a snapshot on an audit
    BRANCH (readers of main never see it), run the single-scan
    constraint gate over the STAGED files (auditing exactly the bytes
    that would ship, not the input frame), then publish by fast-forward
    pointer move iff every constraint passes. On failure the staged
    version stays on the audit branch for debugging and
    :class:`AuditFailure` lists the violations. Returns the published
    version number.

    ``audit_branch`` defaults to a fresh unique name per call, so
    concurrent WAP writers stage independently (publishes still
    serialize through main's pointer like any snapshot commit); pass a
    fixed name only when you want a known place to inspect failures."""
    import uuid

    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.constraints import (
        check_constraints,
    )

    spark = df.sparkSession
    if audit_branch is None:
        audit_branch = f"audit_{uuid.uuid4().hex[:12]}"
    try:
        branch_version(root, audit_branch)
    except ValueError:
        create_branch(root, audit_branch)
    else:
        # re-anchor the audit branch at main so the publish fast-forwards
        delete_branch(root, audit_branch)
        create_branch(root, audit_branch)
    version = write_snapshot_to_branch(df, root, audit_branch, partition_cols)
    staged = spark.read.parquet(os.path.join(root, f"v{version}"))
    report = check_constraints(staged, constraints).collect()
    failures = [r for r in report if not r.passed]
    if failures:
        raise AuditFailure(
            f"staged v{version} failed audit on branch {audit_branch!r}: "
            + "; ".join(f"{r.constraint} ({r.violations}/{r.total_rows})" for r in failures)
        )
    fast_forward(root, audit_branch)
    delete_branch(root, audit_branch)
    return version
