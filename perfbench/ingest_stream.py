"""Workload ``ingest_stream``: open-loop tenant event ingest.

A generator thread drops JSON-lines files of ``{"tenant_id", "raw"}``
records into a landing directory at a fixed rate (each file is written to
a staging directory first and renamed in when due); one
``streaming.start_ingest_stream`` over ``sources.stream_json_source`` with
a processing-time trigger writes the parquet lake. Each window ends with a
burst backlog of several micro-batches' worth of files, which the stream
drains.

Headline figures: freshness (file due -> commit of the micro-batch that
read it) and the valid events committed per second of batch time while
full batches drain the burst.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time

from perfbench.harness import walk_lake
from perfbench.inputs import EventGen
from perfbench.stats import freshness_join, median, percentile_report

EVENTS_PER_FILE = 500
FILES_PER_S = 2.5
TRIGGER_S = 1
#: sources.stream_json_source takes at most 16 files per trigger, so the
#: burst leaves at least two full batches to drain
BURST_FILES = 32
WARM_FILES = 3
COMMIT_TIMEOUT_S = 90.0
REPLAY_BATCHES = 3


def _source_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("tenant_id", T.StringType()), T.StructField("raw", T.StringType())])


class CheckpointLog:
    """Reads the stream checkpoint from outside: which files each batch
    read (``sources/0``) and when each batch committed (``commits``)."""

    def __init__(self, root: str) -> None:
        self.root = root

    def batch_files(self) -> dict[int, list[str]]:
        out: dict[int, list[str]] = {}
        for path in glob.glob(os.path.join(self.root, "sources", "0", "*")):
            if os.path.basename(path).startswith("."):
                continue
            with open(path) as f:
                lines = f.read().splitlines()[1:]  # first line is the log version
            for line in lines:
                entry = json.loads(line)
                out.setdefault(int(entry["batchId"]), [])
                name = os.path.basename(entry["path"])
                if name not in out[int(entry["batchId"])]:
                    out[int(entry["batchId"])].append(name)
        return out

    def commit_times(self) -> dict[int, float]:
        out = {}
        for path in glob.glob(os.path.join(self.root, "commits", "*")):
            base = os.path.basename(path)
            if base.isdigit():
                out[int(base)] = os.stat(path).st_mtime
        return out

    def committed_files(self) -> set[str]:
        commits = self.commit_times()
        return {f for b, files in self.batch_files().items() if b in commits for f in files}


class IngestStream:
    name = "ingest_stream"

    def __init__(self, seed: int, seconds: int, work: str) -> None:
        self.seed, self.seconds, self.work = seed, seconds, work
        self.gen = EventGen(seed)
        self.files = []  # every EventFile offered, in order
        self.landing = os.path.join(work, "landing")
        self.staging = os.path.join(work, "staging")
        self.lake = os.path.join(work, "lake")
        self.ckpt = CheckpointLog(os.path.join(work, "checkpoint"))
        for d in (self.landing, self.staging):
            os.makedirs(d, exist_ok=True)
        self.query = None
        self.windows: dict[int, dict] = {}
        self._quarantined = 0

    # -- inputs ---------------------------------------------------------------

    def _new_files(self, n: int) -> list:
        start = len(self.files)
        batch = [self.gen.file(start + i, EVENTS_PER_FILE) for i in range(n)]
        self.files.extend(batch)
        return batch

    def _stage(self, f) -> str:
        path = os.path.join(self.staging, f.name)
        with open(path, "w") as out:
            out.write("\n".join(f.lines) + "\n")
        return path

    def _land(self, staged: str) -> None:
        os.rename(staged, os.path.join(self.landing, os.path.basename(staged)))

    def _wait_committed(self, names: set[str]) -> None:
        deadline = time.time() + COMMIT_TIMEOUT_S
        while not names <= self.ckpt.committed_files():
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"{len(names - self.ckpt.committed_files())} files not committed")
            time.sleep(0.05)

    def _progress(self, last_batch: int) -> dict[int, dict]:
        """Progress reports of batches that read data, by batch id; a
        report is posted just after its batch commits, so wait for it."""
        deadline = time.time() + COMMIT_TIMEOUT_S
        while True:
            reports = [p if isinstance(p, dict) else json.loads(p.json) for p in self.query.recentProgress]
            progress = {p["batchId"]: p for p in reports if p.get("numInputRows", 0) > 0}
            if last_batch in progress or time.time() > deadline:
                return progress
            time.sleep(0.05)

    # -- phases ---------------------------------------------------------------

    def setup(self, spark, tracer) -> float:
        """Start the stream and push the warm files through it one batch at
        a time; returns the seconds until the first batch committed."""
        from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import stream_json_source
        from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import start_ingest_stream

        t0 = time.perf_counter()
        source = stream_json_source(spark, self.landing, _source_schema())
        self.query = start_ingest_stream(source, self.lake, self.ckpt.root, trigger_seconds=TRIGGER_S)
        first = None
        for f in self._new_files(WARM_FILES):
            self._land(self._stage(f))
            self._wait_committed({f.name})
            first = first or time.perf_counter() - t0
        return first

    def measure(self, spark, window: int, tracer, store=None) -> dict:
        opened = self._new_files(int(FILES_PER_S * self.seconds))
        burst = self._new_files(BURST_FILES)
        staged = {f.name: self._stage(f) for f in opened}
        due: dict[str, float] = {}
        late: list[float] = []
        mark = store.mark() if store else None

        def offer() -> None:
            t0 = time.time() + 0.2
            for i, f in enumerate(opened):
                at = t0 + i / FILES_PER_S
                pause = at - time.time()
                if pause > 0:
                    time.sleep(pause)
                self._land(staged[f.name])
                due[f.name] = at
                late.append(time.time() - at)

        burst_staged = [self._stage(f) for f in burst]
        gen = threading.Thread(target=offer, name="landing-generator")
        gen.start()
        gen.join()
        for path in burst_staged:
            self._land(path)
            due[os.path.basename(path)] = time.time()
        self._wait_committed(set(due))
        batch_files = self.ckpt.batch_files()
        commits = self.ckpt.commit_times()
        fresh = freshness_join({f.name: due[f.name] for f in opened}, batch_files, commits)
        burst_names = {f.name for f in burst}
        burst_batches = sorted(b for b, files in batch_files.items() if burst_names & set(files))
        window_names = set(due)
        window_batches = sorted(b for b, files in batch_files.items() if window_names & set(files))
        progress = self._progress(window_batches[-1])

        batch_s = {b: progress[b]["durationMs"]["triggerExecution"] / 1000.0 for b in window_batches}
        # drain rate: the full batches (as many files as one trigger takes)
        # that read burst files, i.e. batches that ran back to back on a backlog
        n_valid = {f.name: f.n_valid for f in opened + burst}
        most = max(len(batch_files[b]) for b in burst_batches)
        full = [b for b in burst_batches if len(batch_files[b]) == most]
        drain_s = sum(batch_s[b] for b in full)
        drain_events = sum(n_valid[n] for b in full for n in batch_files[b])
        file_batch = {f: b for b, files in batch_files.items() for f in files}
        out = {
            "freshness": percentile_report(fresh.values()),
            "ingest_drain_events_per_s": drain_events / drain_s,
            "drain_s": drain_s,
            "drain_batches": len(full),
            "batch_log": [[b, len(batch_files[b]), round(batch_s[b], 3)] for b in window_batches],
            "generator_late_s_max": max(late),
            "batches": len(window_batches),
            "batch_s_p50": median(batch_s.values()),
            "wait_s_p50": median(v - batch_s[file_batch[f]] for f, v in fresh.items()),
            "source_reads_per_event": sum(progress[b]["numInputRows"] for b in window_batches)
            / sum(len(f.lines) for f in opened + burst),
            "replay_batches": [[os.path.join(self.landing, n) for n in batch_files[b]] for b in window_batches],
        }
        if store is not None:
            spark_totals = store.totals(mark)
            out["spark"] = spark_totals
            out["jobs_per_batch"] = spark_totals["jobs"] / len(window_batches)
        self.windows[window] = out
        return {
            "latency_p50_s": out["freshness"]["p50"],
            "throughput_per_s": out["ingest_drain_events_per_s"],
        }

    def report(self, window: int) -> dict:
        w = self.windows[window]
        return {
            "freshness_p50_s": w["freshness"].get("p50"),
            "freshness_p90_s": w["freshness"].get("p90"),
            "freshness_percentiles": w["freshness"],
            "ingest_drain_events_per_s": w["ingest_drain_events_per_s"],
            "ingest_drain_s": w["drain_s"],
            "ingest_drain_batches": w["drain_batches"],
            "batches": w["batch_log"],
            "generator_late_s_max": w["generator_late_s_max"],
        }

    def layers(self, spark, tracer, window: int) -> dict:
        """Replay micro-batch inputs of the traced window through the same
        calls the foreachBatch sink makes, timing each; walk the lake."""
        from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch
        from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import write_lake, write_quarantine

        w = self.windows[window]
        replay_root = os.path.join(self.work, "replay_lake")
        for files in w["replay_batches"][:REPLAY_BATCHES]:
            raw = spark.read.schema(_source_schema()).json(files)
            with tracer.span("ingest.transform"):
                res = ingest_batch(raw)
                res.valid.write.format("noop").mode("overwrite").save()
            with tracer.span("lake.write"):
                write_lake(res.valid, replay_root)
            with tracer.span("lake.quarantine_probe"):
                res.quarantine.limit(1).count()
            with tracer.span("lake.quarantine_write"):
                write_quarantine(res.quarantine, replay_root, "validation-failed")
        offered = sum(len(f.lines) for f in self.files)
        return {
            "ingest.transform_s": median(tracer.durations("ingest.transform")),
            "ingest.quarantine_share": self._quarantined / offered,
            "lake.write_s": median(tracer.durations("lake.write")),
            "lake.quarantine_probe_s": median(tracer.durations("lake.quarantine_probe")),
            "lake.quarantine_write_s": median(tracer.durations("lake.quarantine_write")),
            **walk_lake(self.lake, sum(f.n_valid for f in self.files)),
            "streaming.batches": w["batches"],
            "streaming.batch_s_p50": w["batch_s_p50"],
            "streaming.wait_s_p50": w["wait_s_p50"],
            "streaming.source_reads_per_event": w["source_reads_per_event"],
            "streaming.jobs_per_batch": w["jobs_per_batch"],
            **{f"spark.{k}": v for k, v in w["spark"].items()},
        }

    def check(self, spark) -> tuple[int, int, list[str]]:
        """Per offered file: its valid events are in the lake exactly once
        under the right tenant, and its malformed records are in the
        quarantine exactly. Returns (files attempted, files failed, notes)."""
        from pyspark.sql import functions as F

        from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake

        if self.query is not None:
            self.query.stop()
        notes = []
        file_of = F.regexp_extract("device", r"^d(\d+)-", 1).cast("int")
        rows = (
            read_lake(spark, self.lake)
            .groupBy(file_of.alias("file"), "tenant")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("device").alias("distinct"),
                F.sum((F.col("tenant") != F.col("TenantId")).cast("int")).alias("mislabelled"),
            )
            .collect()
        )
        got: dict[int, dict] = {}
        bad_files: set[int] = set()
        for r in rows:
            got.setdefault(r["file"], {})[r["tenant"]] = r["n"]
            if r["distinct"] != r["n"] or r["mislabelled"]:
                bad_files.add(r["file"])
        quarantine = spark.read.json(os.path.join(self.lake, "error", "validation-failed")).collect()
        self._quarantined = len(quarantine)
        q_got: dict[int, list] = {}
        for r in quarantine:
            m = re.search(r'"device": "d(\d+)-', r["raw_record"])
            q_got.setdefault(int(m.group(1)) if m else -1, []).append(r["raw_record"])
        known = {f.index for f in self.files}
        for f in self.files:
            if got.get(f.index, {}) != dict(f.valid):
                bad_files.add(f.index)
            if sorted(q_got.get(f.index, [])) != sorted(f.malformed):
                bad_files.add(f.index)
        stray = (set(got) | set(q_got)) - known
        if stray:
            notes.append(f"rows from unknown files: {sorted(stray)[:5]}")
        if bad_files:
            notes.append(f"files with wrong lake or quarantine contents: {sorted(bad_files)[:10]}")
        return len(self.files), len(bad_files & known) + (1 if stray else 0), notes
