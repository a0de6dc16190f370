"""Process plumbing shared by the workloads: the Spark session the
benchmark drives, tracing spans, the process-tree RSS sampler, host
context, Spark status-store reads, and shutdown.

Everything the benchmark writes lives under the work directory it is
given, inside the checkout.
"""

from __future__ import annotations

import gc
import os
import signal
import threading
import time
from contextlib import nullcontext

from perfbench.stats import aggregate_stages

#: local[N] with N no greater than the CPUs this process may use
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"


def start_spark(work: str):
    """Start the package's session (``session.get_spark``) on local[CPUS]
    with temp, shuffle and warehouse directories under ``work``."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run attributes stages to jobs after the fact, so
            # the status store must keep every job and stage of a run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    other process started under this one (Spark's Python workers) has
    exited; stragglers after 30 s are killed."""
    from pyspark import SparkContext

    children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while any(_alive(p) for p in children) and time.time() < deadline:
        time.sleep(0.1)
    for p in children:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process waiting to be reaped
    (state Z) no longer counts."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --- tracing -----------------------------------------------------------------


class _Span:
    __slots__ = ("_tracer", "_name", "_req", "_id", "_parent", "_t0")

    def __init__(self, tracer: Tracer, name: str, req) -> None:
        self._tracer, self._name, self._req = tracer, name, req

    def __enter__(self):
        tr = self._tracer
        self._parent = getattr(tr._local, "current", None)
        with tr._lock:
            tr._next_id += 1
            self._id = tr._next_id
        tr._local.current = self._id
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        t1 = time.perf_counter()
        tr = self._tracer
        tr._local.current = self._parent
        with tr._lock:
            tr.spans.append((self._id, self._parent, self._name, self._req, self._t0, t1))


class Tracer:
    """Spans around the benchmark's calls into each layer: id, parent id,
    layer name, request id, start and end. Kept in memory and written out
    when the run ends. Disabled, ``span`` returns a shared no-op context."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._null = nullcontext()

    def span(self, name: str, req=None):
        return _Span(self, name, req) if self.enabled else self._null

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _, _, n, _, t0, t1 in self.spans if n == name]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for sid, parent, name, req, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name, "req": req, "start": t0, "end": t1}) + "\n")


# --- process tree RSS --------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int) -> list[int]:
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    JVM and its Python workers) every ``interval`` seconds; ``peak_mb`` is
    the largest sum seen."""

    interval = 0.2

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, root: int | None = None) -> None:
        total = sum(_rss_kb(p) for p in process_tree(root or os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def walk_lake(root: str, valid_events: int) -> dict[str, float]:
    """``lake.files_written``, ``lake.files_per_partition`` and
    ``lake.bytes_per_event`` of the parquet files under ``root``, leaving
    out the ``error/`` quarantine subtree."""
    files, partitions, size = 0, set(), 0
    for dirpath, dirnames, names in os.walk(root):
        if dirpath == root and "error" in dirnames:
            dirnames.remove("error")
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                partitions.add(dirpath)
                size += os.path.getsize(os.path.join(dirpath, n))
    return {
        "lake.files_written": files,
        "lake.files_per_partition": files / max(len(partitions), 1),
        "lake.bytes_per_event": size / max(valid_events, 1),
    }


def retained_heap_mb(spark) -> float:
    """JVM heap still live after full collections: what the session keeps
    (caches, catalog, status store, leaked intermediates) once work ends.
    Python is collected first, so dropped DataFrame proxies release their
    JVM objects; the second JVM collection catches what the first one's
    cleanup freed."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


# --- host context (not metrics) ----------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    values = [int(x) for x in fields[1:]]
    return values[7], sum(values)


class HostContext:
    """nproc, load averages and CPU steal before and after a run, so a
    reader can judge how quiet the host was."""

    def __init__(self) -> None:
        self.before = self._snap()

    @staticmethod
    def _snap() -> dict:
        steal, total = _cpu_jiffies()
        return {"loadavg": [round(x, 2) for x in os.getloadavg()], "steal": steal, "total": total}

    def report(self) -> dict:
        after = self._snap()
        dt = max(after["total"] - self.before["total"], 1)

        def boot_pct(s: dict) -> float:
            return round(100.0 * s["steal"] / max(s["total"], 1), 3)

        return {
            "nproc": os.cpu_count(),
            "cpus_used": CPUS,
            "loadavg_before": self.before["loadavg"],
            "loadavg_after": after["loadavg"],
            "steal_pct_since_boot_before": boot_pct(self.before),
            "steal_pct_since_boot_after": boot_pct(after),
            "steal_pct_during_run": round(100.0 * (after["steal"] - self.before["steal"]) / dt, 3),
        }


# --- Spark status store ------------------------------------------------------


class StatusStore:
    """Reads job and stage records from Spark's app status store (kept
    with the UI off). Work is attributed by job-id window: every job
    started between two ``mark()`` calls belongs to that window."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters

    def _jobs(self) -> list:
        self._sc.listenerBus().waitUntilEmpty()
        return list(self._conv.asJava(self._sc.statusStore().jobsList(None)))

    def mark(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def totals(self, after: int, upto: int | None = None) -> dict[str, float]:
        """``task_run_s``, ``task_cpu_s``, ``shuffle_bytes``, ``spill_bytes``
        and ``jobs`` over jobs with ``after < jobId <= upto``."""
        store = self._sc.statusStore()
        stage_ids: set[int] = set()
        n_jobs = 0
        for j in self._jobs():
            jid = j.jobId()
            if jid > after and (upto is None or jid <= upto):
                n_jobs += 1
                stage_ids.update(int(s) for s in self._conv.asJava(j.stageIds()))
        stages = []
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            stages.append(
                {
                    "status": st.status().toString(),
                    "executorRunTime": st.executorRunTime(),
                    "executorCpuTime": st.executorCpuTime(),
                    "shuffleWriteBytes": st.shuffleWriteBytes(),
                    "diskBytesSpilled": st.diskBytesSpilled(),
                }
            )
        return aggregate_stages(stages, jobs=n_jobs)
