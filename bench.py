"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed once warm-up-free except a shared session/JVM spin-up
query (excluded from timings). Results are forced with a count() on the
final DataFrame (no driver-side collect of payloads).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_saas_factory_multi_tenant_data_pipeline_spark import get_spark
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

#: headline set: one per major operator family (SURVEY.md §2)
HEADLINE = [
    "agg_pricing_summary",     # B4 flagship (TPC-H Q1 shape)
    "join_inner_star",         # B3 fact-dim star
    "join_star_multiway",      # B3 6-way join (TPC-H Q5 shape)
    "join_asof",               # B3 as-of (union+window plan)
    "win_topk_per_group",      # B5 windows
    "count_distinct_multi",    # B4 distinct
    "stream_tumbling_hour",    # B8 window agg
    "stream_session_30m",      # B8 sessionization
    "fn_string",               # B7 string-heavy scan
    "dedup_exact",             # B10 dedup
    "dedup_minhash_lsh",       # B10 MinHash-LSH
    "similarity_topk_cosine",  # B10 ANN baseline
    "text_tfidf_top_terms",    # B10 text analytics
    # newer operator families: a regression in them should show up in
    # the bench, not just in pytest
    "text_bm25_rank",          # B10 ranking (BM25 over inverted stats)
    "graph_pagerank",          # B10 iterative fixed-point (int64 arithmetic)
    "lake_zorder_layout",      # B10 Z-order clustering + skip-effectiveness
    "dedup_semantic",          # B10 SemDeDup (portable k-means + pair join)
    "llm_budget_select",       # B10 token-budget selection (quantized bins)
    "sketch_kmv_sample",       # B4/B10 KMV sketch (TakeOrdered, exact merge)
    "lake_branch_wap_roundtrip",  # B1/B10 branches + write-audit-publish
    "multimodal_mjpeg_frames",    # B10 MP4(MJPEG) -> JPEG decode -> aHash
    "similarity_bitext_margin",   # B10 cross-lingual pair mining
    "multimodal_h264_keyframes",  # B10 MP4(avc1) -> intra decode -> aHash
    "similarity_pq_adc",          # B10 product quantization end-to-end
    "multimodal_webp_decode",     # B10 RIFF/VP8L -> decode -> aHash
    "dedup_duplicated_spans",     # B10 exact-substring span dedup
    "multimodal_vp8_decode",      # B10 RIFF/VP8 lossy -> decode -> aHash
    "multimodal_h264_cabac",      # B10 CAVLC/CABAC twin decode match
    "multimodal_hevc_decode",     # B10 HEVC intra encode -> decode -> aHash
    "multimodal_pdf_ccitt",       # B10 PDF G4 fax extract -> aHash
    "multimodal_heic_decode",     # B10 HEIF items -> HEVC intra -> aHash
    "video_hevc_main10",          # B10 Main10 encode -> decode -> aHash
    "text_brotli_decode",         # B10 HTTP br/gzip -> decode chain
    "similarity_bitext_candidates",  # B10 candidate-fed margin mining
    "text_zstd_decode",           # B10 HTTP zstd + tar.zst roundtrips
    "ingest_jsonl_shards",        # B10 .jsonl.{zst,xz,gz,bz2,lz4} explode
    "text_office_extract",        # B10 docx/xlsx/pptx/odt -> text
    "archive_7z_extract",         # B10 5-coder .7z member census
]


def _raw_events(spark, n_rows: int):
    from pyspark.sql import functions as F

    return spark.range(n_rows).select(
        F.concat(F.lit("tenant-"), (F.col("id") % 8).cast("string")).alias("tenant_id"),
        F.to_json(
            F.struct(
                F.struct(
                    F.concat(F.lit("dev"), (F.col("id") % 5).cast("string")).alias("device"),
                    F.concat(F.lit("evt"), (F.col("id") % 50).cast("string")).alias("event"),
                    F.when(F.col("id") % 2 == 0, "US").otherwise("EU").alias("region"),
                ).alias("Data")
            )
        ).alias("raw"),
    )


def _bench_ingest_transform(spark, n_rows: int = 500_000) -> float:
    """The reference's actual workload, compute side: validate + enrich +
    partition-derive a raw JSON event stream (A8/A2/A4). CPU-bound and
    stable; the reference's Flink path runs parallelism=2 with a 60 s sink
    buffer (kinesis-stack.ts:194-205), i.e. a floor of minutes for the same
    records. The strict type gate (schema_of_variant token-type checks,
    API-contract parity) binds its variant parse to a lambda variable so
    the pushed-down filter parses each record's JSON once, not four times
    (pinned by tests/test_plans.py::test_strict_ingest_parses_json_once)."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch

    t0 = time.time()
    res = ingest_batch(_raw_events(spark, n_rows), ingest_ts=1700000000)
    res.valid.count()
    return time.time() - t0


def _bench_calibration(spark) -> float:
    """Fixed constant-work CPU-bound query with NO I/O: 200M xxhash64
    hashes reduced to one sum. Identical work every run, so its timing
    is a pure host-contention probe: divide a cross-run query ratio by
    the calibration ratio to remove host noise (see COVERAGE.md), which
    can reach ~20% on identical plans."""
    from pyspark.sql import functions as F

    t0 = time.time()
    # modulo before the sum: 200M full-range longs would overflow the
    # ANSI sum; the mod keeps the total < 2^48 without changing the work
    spark.range(200_000_000).select(
        F.sum(F.xxhash64("id") % 1_000_003)
    ).collect()
    return time.time() - t0


def _bench_scaling_probe(spark) -> float:
    """Fixed constant-work CPU-BOUND probe for the driver's core-scaling
    comparison: 20M rows of chained sha2-256, reduced to
    one sum — per-row work heavy enough that wall time tracks available
    CPU, unlike the xxhash calibration row (200M xxhash64 reads 0.23 s at
    both local[8] and local[32]: it is memory/task-overhead-bound, so its
    8-vs-32 ratio sits near 1). This row's 8-vs-32 ratio measures the HARDWARE's
    parallel ceiling: on this host it reads ~2.1x (0.71 s @32 vs 1.47 s
    @8) because the 32 vCPUs are 16 physical cores with SMT (20M rows
    cost ~23 cpu-s at 32 threads vs ~12 cpu-s at 8 — the same silicon,
    hyperthread-shared). Read per-query scaling ratios against THIS row,
    not against the 4x thread ratio."""
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.range(20_000_000).select(
        F.sum(
            F.xxhash64(F.sha2(F.sha2(F.col("id").cast("string"), 256), 256)) % 1_000_003
        )
    ).collect()
    return time.time() - t0


def gate_is_quiet(attempts: list[float], steals: list[float], best_known: float) -> bool:
    """Quiet-host decision for the calibration gate (pure; unit-tested).

    Quiet iff the LAST probe ran at historical speed (≤ 1.2× best_known
    — a hard cap, ~0.133 s on this host's 0.111 s reference). Stable
    probes do not count as quiet: a stable but slow window (calibration
    0.164, ~1.3× inflation on every query) would make cross-run reads
    misleading. Genuinely different silicon is declared explicitly via
    SPARK_GRAFT_BEST_CAL, not inferred from stability; a persistently
    noisy host fails the gate and the run records host_quiet=false
    (the explicit waiver the reader can see)."""
    if not attempts:
        return False
    return attempts[-1] <= best_known * 1.2


def _scratch_dir() -> str | None:
    """tmpfs when available: the host's virtualized disk has bimodal
    latency under co-tenant load (3-24 s spikes for identical work), which
    would measure the neighbor's I/O, not this engine's write path."""
    import os

    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def _bench_lake_write(spark, n_rows: int = 100_000) -> float:
    """Partitioned lake write (A4) — kept separate from the transform
    timing because local virtualized-disk latency is bimodal (3-24 s spikes
    for identical work) and would mask compute regressions."""
    import shutil
    import tempfile

    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import write_lake

    out = tempfile.mkdtemp(prefix="mtdp_bench_lake_", dir=_scratch_dir())
    t0 = time.time()
    res = ingest_batch(_raw_events(spark, n_rows), ingest_ts=1700000000)
    write_lake(res.valid, out)
    dt = time.time() - t0
    shutil.rmtree(out, ignore_errors=True)
    return dt


def _bench_tenant_pruning(spark, n_rows: int = 400_000, n_tenants: int = 16) -> tuple[float, float]:
    """The reference's core perf property (A7): a tenant-scoped read must
    cost ~1/n_tenants of a full scan thanks to partition pruning. Returns
    (full_scan_sec, pruned_scan_sec)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import write_lake
    from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake

    raw = spark.range(n_rows).select(
        F.concat(F.lit("tenant-"), (F.col("id") % n_tenants).cast("string")).alias("tenant_id"),
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("TV").alias("device"),
                    F.sha2(F.col("id").cast("string"), 256).alias("event"),
                    F.lit("US").alias("region"),
                ).alias("Data")
            )
        ).alias("raw"),
    )
    root = tempfile.mkdtemp(prefix="mtdp_bench_prune_", dir=_scratch_dir())
    write_lake(ingest_batch(raw, ingest_ts=1700000000).valid, root)
    lake = read_lake(spark, root)
    t0 = time.time()
    lake.agg({"event": "count"}).collect()
    full = time.time() - t0
    t0 = time.time()
    lake.where(lake.tenant == "tenant-3").agg({"event": "count"}).collect()
    pruned = time.time() - t0
    shutil.rmtree(root, ignore_errors=True)
    return full, pruned


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark("mtdp-bench", cpus=cpus, shuffle_partitions=cpus)
    registry = load_all()

    # JVM/session warm-up (not timed): tiny scan touching the parquet reader
    registry["join_cross"].spark_fn(spark, sf_dir).count()

    loadavg_before = [round(x, 2) for x in os.getloadavg()]
    # calibration pass 1 (best-of-3, post-warmup): constant-work CPU probe.
    # Quiet-host gate (gate_is_quiet): if the probe reads >1.2× the best
    # known quiet-host value, the host is under co-tenant load — wait and
    # re-probe so recorded numbers don't need forensic normalization. The
    # reference value is per-host (0.111 s on the box this repo's numbers
    # were measured on); override via SPARK_GRAFT_BEST_CAL on different
    # hardware. If no probe passes, proceed but mark the run.
    best_known = float(os.environ.get("SPARK_GRAFT_BEST_CAL", "0.111"))

    def _steal_jiffies() -> tuple[int, int]:
        # (steal, total) jiffies: co-tenant CPU theft is INVISIBLE to
        # loadavg — a 10% steal reading once turned a 0.111 s probe into
        # 0.5 s on a loadavg-0.4 "idle" box
        try:
            f = open("/proc/stat").readline().split()
            return int(f[8]), sum(int(x) for x in f[1:])
        except Exception:
            return 0, 1

    gate_attempts: list[float] = []
    steal_pcts: list[float] = []
    host_quiet = False
    # the budget escalates (up to 7 probes over ~5 minutes): a host still
    # settling from prior work (loadavg decaying from ~2.9) can take
    # minutes to pass, and a shorter budget expires before it does
    backoffs = [20, 20, 30, 45, 60, 90]
    max_attempts = int(os.environ.get("SPARK_GRAFT_GATE_ATTEMPTS", "7"))
    for attempt in range(max_attempts):
        s0, t0 = _steal_jiffies()
        c = round(min(_bench_calibration(spark) for _ in range(3)), 3)
        s1, t1 = _steal_jiffies()
        gate_attempts.append(c)
        steal_pcts.append(round(100.0 * (s1 - s0) / max(t1 - t0, 1), 1))
        if gate_is_quiet(gate_attempts, steal_pcts, best_known):
            host_quiet = True
            break
        if attempt < max_attempts - 1:
            time.sleep(backoffs[min(attempt, len(backoffs) - 1)])
    calib = [min(gate_attempts)]

    # best-of-2 per query: the second run amortizes codegen/JIT compilation
    # and page-cache warmup, isolating steady-state engine speed from
    # scheduler noise (observed ±40% run-to-run on single-shot timings)
    timings: dict[str, float] = {}
    # ingest timings first: measured on a quiet JVM (late in a long session,
    # accumulated broadcast/GC state inflates them ~5×)
    # best-of-3 here: the strict validation plan (variant type checks)
    # carries a one-time codegen/JIT cost big enough that the second run
    # can still be paying it — three runs reach steady state reliably
    timings["ingest_transform"] = round(
        min(_bench_ingest_transform(spark) for _ in range(3)), 3
    )
    # best-of-3 for the same reason: the partitioned-write commit path has
    # its own one-time codegen, and host I/O stalls are long enough that
    # two back-to-back runs can both land inside one stall window
    timings["lake_write"] = round(min(_bench_lake_write(spark) for _ in range(3)), 3)
    full_scan, pruned_scan = _bench_tenant_pruning(spark)
    timings["lake_full_scan"] = round(full_scan, 3)
    timings["tenant_pruned_scan"] = round(pruned_scan, 3)
    # three full passes (not back-to-back repeats): the host shows
    # multi-second co-tenant stall windows, and with min-of-N a stall must
    # span every pass to poison a timing; pass 1 also absorbs the one-time
    # codegen compile of the heavier plans (the 64-aggregate MinHash plan
    # compiles for ~10 s on first execution, then runs in ~3 s)
    # CPU-bound core-scaling anchor, recorded as a queries row so the
    # driver's 8-vs-32 comparison has a row whose ratio is the HARDWARE's
    # parallel ceiling (see _bench_scaling_probe).
    # Measured BEFORE the headline passes: after 42 queries the
    # accumulated JVM state inflates the same constant work ~4x (0.71 s
    # fresh vs ~3.0 s at the tail of the sequence in two separate runs),
    # which would just add noise to the anchor.
    timings["scaling_probe_cpu"] = round(
        min(_bench_scaling_probe(spark) for _ in range(3)), 3
    )
    for _pass in range(int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))):
        # Every pass must be a full recompute from parquet — the honest
        # minimum. Operators release what they persist before returning
        # (session.persisted; tools/driver_sim.py fails any query that
        # leaves a cached relation), so this clear is a guard: a leaked
        # InMemoryRelation would be plan-matched and reused by passes 2/3,
        # and their recorded minimum would partly measure a warm cache.
        spark.catalog.clearCache()
        for name in HEADLINE:
            fn = registry[name].spark_fn
            t0 = time.time()
            fn(spark, sf_dir).count()
            dt = time.time() - t0
            timings[name] = round(min(timings.get(name, float("inf")), dt), 3)

    # calibration pass 2 (same best-of-3, after the headline passes): the
    # spread between the two passes bounds how much the host degraded
    # DURING the bench window itself
    calib.append(round(min(_bench_calibration(spark) for _ in range(3)), 3))
    loadavg_after = [round(x, 2) for x in os.getloadavg()]

    # isolated minimums for the five slowest headliners. In-sequence
    # numbers after 80+ prior stages carry ~1.5x JVM/GC and
    # broadcast-accumulation inflation (pagerank once read 6.28 s
    # in-sequence vs 4.15 s isolated). A fresh session — caches,
    # broadcasts, and shuffle state dropped — approximates the isolated
    # re-run without a new process; both numbers are recorded so
    # cross-run comparisons stop paying the in-sequence tax.
    top5 = sorted(
        (n for n in HEADLINE if n in timings), key=lambda n: timings[n], reverse=True
    )[:5]
    spark.stop()
    spark = get_spark("mtdp-bench-isolated", cpus=cpus, shuffle_partitions=cpus)
    registry["join_cross"].spark_fn(spark, sf_dir).count()  # fresh-session warmup
    isolated: dict[str, float] = {}
    for name in top5:
        fn = registry[name].spark_fn
        best = float("inf")
        for _ in range(3):
            # same cache hygiene as the headline passes: each isolated
            # repetition recomputes from parquet
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
        isolated[name] = round(best, 3)
    # the in-sequence lake_write has drifted ±50% between runs (cold-JVM
    # write-path noise); a pinned fresh-session isolated minimum
    # adjudicates such a drift by artifact.
    isolated_lake_write = round(min(_bench_lake_write(spark) for _ in range(3)), 3)

    out = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        # host-noise normalization (constant work, no I/O): divide any
        # cross-run query ratio by the calibration ratio to remove host
        # contention; loadavg shows EXTERNAL load (this process pegs ~cpus)
        "calibration": min(calib),
        "calibration_passes": calib,
        # quiet-host gate: host_quiet is true ONLY when a probe reached
        # <=1.2x the best-known quiet value (default 0.111 s; per-host
        # override SPARK_GRAFT_BEST_CAL; see gate_is_quiet).
        # host_quiet=false marks the run as taken under contention (see
        # gate_steal_pct); prefer the calibration_passes spread to judge
        # whether the headline passes themselves ran quiet (the gate
        # only samples the run's START)
        "calibration_gate_attempts": gate_attempts,
        "gate_steal_pct": steal_pcts,
        "host_quiet": host_quiet,
        # the gate samples the run's START; this derives the same 1.2x
        # judgment from the in-run calibration passes that bracket the
        # headline measurements themselves (a run that starts contended
        # but settles — 0.147 -> 0.103 — records false/true)
        "in_run_quiet": min(calib) <= best_known * 1.2,
        # fresh-session min-of-3 for the five slowest headliners (the
        # in-sequence numbers in "queries" carry accumulated JVM state;
        # these are the steady-state engine speeds — compare LIKE WITH
        # LIKE across runs)
        "isolated_top5": isolated,
        # fresh-session min-of-3 for the partitioned write path: the
        # in-sequence lake_write number rides cold-JVM disk-latency noise;
        # this series is the one to diff across runs
        "isolated_lake_write": isolated_lake_write,
        "loadavg_before": loadavg_before,
        "loadavg_after": loadavg_after,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
