"""Benchmark entry point for the multi-tenant pipeline package.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {ingest_stream,tenant_queries,corpus_batch} \
        --seed N --seconds S --trace {0,1}

One run: generate the workload's inputs from the seed, start the package's
SparkSession on local[N] (N <= nproc, at most 4), set up (the setup_s
metric), measure for ``--seconds``, check every output, stop Spark and
wait for its processes. With ``--trace 1`` the run measures a second,
traced window after the untraced one, reports the per-layer metrics and
prints the tracing overhead (traced minus untraced). The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aws_saas_factory_multi_tenant_data_pipeline_spark"
WORKLOADS = ("ingest_stream", "tenant_queries", "corpus_batch")


def _workload(name: str):
    if name == "ingest_stream":
        from perfbench.ingest_stream import IngestStream

        return IngestStream
    if name == "tenant_queries":
        from perfbench.tenant_queries import TenantQueries

        return TenantQueries
    from perfbench.corpus_batch import CorpusBatch

    return CorpusBatch


def _prepare_env(work: str) -> None:
    """Keep every file the run or Spark writes inside the work directory,
    and let Spark's Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    manifest_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(manifest_path):
        print(f"perfbench: {PACKAGE}/ or BENCHMARK.json not found under {ROOT}", file=sys.stderr)
        return 2
    with open(manifest_path) as f:
        manifest = json.load(f)

    sys.path.insert(0, ROOT)
    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    host = harness.HostContext()
    try:
        return _run(args, manifest, work, out_dir, host, harness)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


def _run(args, manifest, work, out_dir, host, harness) -> int:
    t = time.perf_counter()
    wl = _workload(args.workload)(args.seed, args.seconds, work)
    gen_s = time.perf_counter() - t
    untraced, traced = harness.Tracer(False), harness.Tracer(True)
    layers: dict[str, float] = {}
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = harness.start_spark(work)
        start_s = time.perf_counter() - t0
        phases = {"start": start_s}
        try:
            warmup_s = wl.setup(spark, untraced)
            setup_s = time.perf_counter() - t0
            phases["setup"] = setup_s - start_s
            t = time.perf_counter()
            e2e = wl.measure(spark, 0, untraced)
            e2e["retained_heap_mb"] = harness.retained_heap_mb(spark)
            phases["window"] = time.perf_counter() - t
            report = wl.report(0)
            if args.trace:
                t = time.perf_counter()
                store = harness.StatusStore(spark)
                e2e_traced = wl.measure(spark, 1, traced, store=store)
                e2e_traced["retained_heap_mb"] = harness.retained_heap_mb(spark)
                phases["traced_window"] = time.perf_counter() - t
            t = time.perf_counter()
            attempted, failed, notes = wl.check(spark)
            phases["check"] = time.perf_counter() - t
            if args.trace:
                t = time.perf_counter()
                layers = wl.layers(spark, traced, 1)
                phases["layers"] = time.perf_counter() - t
        finally:
            t = time.perf_counter()
            harness.stop_spark(spark)
            phases["stop"] = time.perf_counter() - t
        rss.sample()
    e2e["setup_s"] = setup_s

    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("host " + json.dumps(host.report()))
    print(f"inputs generated in {gen_s:.3f} s (not part of setup_s)")
    print("phase seconds " + json.dumps({k: round(v, 3) for k, v in phases.items()}))
    units = {m["name"]: m["unit"] for m in manifest["end_to_end"]}
    for name, value in e2e.items():
        print(f"metric {name} = {value:.6g} {units.get(name, '')}")
    report.update(
        {
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
            "error_share": failed / max(attempted, 1),
            "attempted": attempted,
            "failed": failed,
        }
    )
    print("report " + json.dumps(report, default=str))
    for note in notes:
        print(f"check: {note}")

    if args.trace:
        layers.update({"session.start_s": start_s, "session.warmup_s": warmup_s})
        overhead = {k: e2e_traced[k] - e2e[k] for k in e2e_traced}
        print("tracing overhead (traced minus untraced window) " + json.dumps(overhead))
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl")
        traced.dump(trace_path)
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        wanted = manifest["per_layer"]
        unknown = set(layers) - {m["name"] for m in wanted}
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer the workload does not exercise did no work: it reads 0
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in manifest["end_to_end"]}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result line
        traceback.print_exc()
        sys.exit(1)
