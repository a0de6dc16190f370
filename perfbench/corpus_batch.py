"""Workload ``corpus_batch``: one client runs a fixed list of registry
queries over the committed sf0.01 fixture, each fully materialized through
a ``noop`` sink (what a consumer pays, not what ``count()`` lets Catalyst
skip), with ``spark.catalog.clearCache()`` between queries.

Setup runs one checked pass: each query's collected result is hashed and
compared with the hash pinned in ``corpus_hashes.json``. That pass also
warms code generation, so the timed passes run warm. The seed sets the
query order of every pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from perfbench.inputs import rng_for
from perfbench.stats import median

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
HASHES = os.path.join(HERE, "corpus_hashes.json")
QUERIES = (
    "agg_pricing_summary",
    "dedup_semantic",
    "graph_pagerank",
)


def _canon(v):
    if hasattr(v, "asDict"):  # a Row is also a tuple: test it first
        return {k: _canon(x) for k, x in v.asDict(recursive=False).items()}
    if isinstance(v, list | tuple):
        return [_canon(x) for x in v]
    return v


def result_hash(rows) -> str:
    """Order-insensitive hash of collected rows (column names included);
    floats keep every digit, other non-JSON values hash by ``str``."""
    lines = sorted(json.dumps(_canon(r), sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class CorpusBatch:
    name = "corpus_batch"

    def __init__(self, seed: int, seconds: int, work: str) -> None:
        self.seed, self.seconds, self.work = seed, seconds, work
        self.order = list(QUERIES)
        rng_for(seed, "corpus-order").shuffle(self.order)
        with open(HASHES) as f:
            self.pinned = json.load(f)
        self.registry = None
        self.hashes: dict[str, str] = {}
        self.windows: dict[int, dict] = {}

    def setup(self, spark, tracer) -> float:
        """Load the registry and run the checked pass; returns its
        seconds."""
        from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all

        self.registry = load_all()
        t0 = time.perf_counter()
        for name in self.order:
            try:
                self.hashes[name] = result_hash(self.registry[name].spark_fn(spark, SF_DIR).collect())
            except Exception as e:  # noqa: BLE001 — a failing query is a failed check
                self.hashes[name] = f"error: {type(e).__name__}: {e}"[:300]
            spark.catalog.clearCache()
        return time.perf_counter() - t0

    def _run(self, spark, name: str) -> None:
        self.registry[name].spark_fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    def measure(self, spark, window: int, tracer, store=None) -> dict:
        """Run whole passes over the list until the window is over; the
        pass time is the sum of each query's median time. Whole passes keep
        every query's share of the window equal."""
        times: dict[str, list[float]] = {q: [] for q in self.order}
        per_query_spark: dict[str, list[dict]] = {q: [] for q in self.order}
        runs = 0
        t0 = time.perf_counter()
        while runs == 0 or time.perf_counter() - t0 < self.seconds:
            for name in self.order:
                mark = store.mark() if store else None
                t = time.perf_counter()
                with tracer.span(f"corpus.{name}"):
                    self._run(spark, name)
                times[name].append(time.perf_counter() - t)
                if store is not None:
                    per_query_spark[name].append(store.totals(mark))
                runs += 1
        elapsed = time.perf_counter() - t0
        pass_s = sum(median(v) for v in times.values())
        out = {"corpus_pass_s": pass_s, "runs": runs, "queries_per_s": runs / elapsed, "times": times}
        if store is not None:
            out["per_query_spark"] = per_query_spark
        self.windows[window] = out
        return {"latency_p50_s": pass_s, "throughput_per_s": runs / elapsed}

    def report(self, window: int) -> dict:
        w = self.windows[window]
        return {
            "corpus_pass_s": w["corpus_pass_s"],
            "corpus_queries_run": w["runs"],
            "per_query_median_s": {q: median(v) for q, v in w["times"].items()},
        }

    def layers(self, spark, tracer, window: int) -> dict:
        w = self.windows[window]
        out: dict[str, float] = {}
        totals = {"task_run_s": 0.0, "task_cpu_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "jobs": 0.0}
        for q in QUERIES:
            out[f"corpus.{q}_s"] = median(w["times"][q])
            recs = w["per_query_spark"][q]
            for key in ("task_cpu_s", "shuffle_bytes", "spill_bytes"):
                out[f"corpus.{q}.{key}"] = median(r[key] for r in recs)
            for r in recs:
                for key in totals:
                    totals[key] += r[key]
        out.update({f"spark.{k}": v for k, v in totals.items()})
        return out

    def check(self, spark) -> tuple[int, int, list[str]]:
        bad = [q for q in QUERIES if self.hashes.get(q) != self.pinned.get(q)]
        return len(QUERIES), len(bad), [f"{q}: {self.hashes.get(q)}" for q in bad]
