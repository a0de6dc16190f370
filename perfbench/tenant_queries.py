"""Workload ``tenant_queries``: closed-loop tenant-scoped queries from
several clients sharing one SparkSession.

Setup builds a Hive-partitioned lake (64 Zipf tenants x several hours)
with the package's own write path and registers it. Each request then
authorizes an RS256 token through ``tenancy.CachedAuthorizer``, runs one
query of a fixed mix and collects the small result:

- ``dashboard``: ``query.run_saved_query`` with a bound tenant parameter;
- ``regions``: ``query.saved_query`` then a per-region count;
- ``masked``: ``query.tenant_scoped`` over a ``query.create_masked_view`` view;
- ``rollup``: a cross-tenant count per tenant (a full scan).

Every response is compared with the answer computed from the generator's
own record of what setup wrote.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from collections import Counter

from perfbench.harness import CPUS, walk_lake
from perfbench.inputs import EventGen, Request, RequestGen
from perfbench.stats import median, percentile_report

HOURS = 2
LAKE_EVENTS = 48_000
FILES_PER_HOUR = 8
#: base epoch second of the first hour partition (an hour boundary, UTC)
BASE_TS = 1_699_999_200
#: clients leave half the cores to the driver, py4j and the JVM's own threads
CLIENTS = max(1, CPUS // 2)
TABLE = "events"
DB = "multi_tenant_db"
MASK_SECRET = "perfbench"
MASKED_VIEW = "events_masked"
MASK_POLICY = {"event": "hash", "device": "partial"}
DASHBOARD_SQL = (
    f"SELECT tenant, hour, event, count(*) AS n FROM {DB}.{TABLE} "
    "WHERE tenant = :tenant GROUP BY tenant, hour, event"
)
WARM_REQUESTS = 1


def _masked_event(event: str) -> str:
    """The ``hash`` rule of ``query.masked_projection``, computed in Python."""
    return hashlib.md5(f"{MASK_SECRET}:event:{event}".encode()).hexdigest()[:16]


class TenantQueries:
    name = "tenant_queries"

    def __init__(self, seed: int, seconds: int, work: str) -> None:
        self.seed, self.seconds, self.work = seed, seconds, work
        self.lake = os.path.join(work, "lake")
        self.gen = EventGen(seed)
        self.requests = RequestGen(seed)
        self.expected: dict[str, Counter] = {"dashboard": Counter(), "regions": Counter(), "masked": Counter()}
        self.totals: Counter = Counter()
        self.hour_files = []
        for h in range(HOURS):
            path = os.path.join(work, "prebuild", f"h{h}")
            os.makedirs(path, exist_ok=True)
            hour = time.strftime("%H", time.gmtime(BASE_TS + h * 3600))
            for k in range(FILES_PER_HOUR):
                f = self.gen.file(h * FILES_PER_HOUR + k, LAKE_EVENTS // HOURS // FILES_PER_HOUR)
                with open(os.path.join(path, f.name), "w") as out:
                    out.write("\n".join(f.lines) + "\n")
                for t, data in f.records:
                    self.expected["dashboard"][(t, hour, data["event"])] += 1
                    self.expected["regions"][(t, data["region"])] += 1
                    self.expected["masked"][(t, data["region"], _masked_event(data["event"]))] += 1
                    self.totals[t] += 1
            self.hour_files.append(path)
        self.windows: dict[int, dict] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.setup_layers: dict[str, float] = {}

    # -- setup ----------------------------------------------------------------

    def setup(self, spark, tracer) -> float:
        """Build and register the lake, then warm every query shape;
        returns the seconds of the first action (the lake write)."""
        from pyspark.sql import types as T

        from aws_saas_factory_multi_tenant_data_pipeline_spark import lake, query
        from aws_saas_factory_multi_tenant_data_pipeline_spark.ingest import ingest_batch

        schema = T.StructType([T.StructField("tenant_id", T.StringType()), T.StructField("raw", T.StringType())])
        t0 = time.perf_counter()
        valid = None
        for h, path in enumerate(self.hour_files):
            res = ingest_batch(spark.read.schema(schema).json(path), ingest_ts=BASE_TS + h * 3600)
            valid = res.valid if valid is None else valid.unionByName(res.valid)
        lake.write_lake(valid, self.lake)
        first = time.perf_counter() - t0
        self.setup_layers["lake.write_s"] = first
        t = time.perf_counter()
        lake.register_table(spark, self.lake, TABLE, db=DB)
        self.setup_layers["lake.register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        lake.refresh_table(spark, TABLE, db=DB)
        self.setup_layers["lake.refresh_s"] = time.perf_counter() - t
        query.register_saved_query("tenant_dashboard", DASHBOARD_SQL)
        query.create_masked_view(spark, f"{DB}.{TABLE}", MASKED_VIEW, MASK_POLICY, secret=MASK_SECRET)
        warm = new_authorizer(self.requests)
        stream = self.requests.stream("warm", 0)
        for req in [next(r for r in stream if r.tenant) for _ in range(WARM_REQUESTS)]:
            for kind in ("dashboard", "regions", "masked", "rollup"):
                self._serve(spark, warm, Request(req.token, req.tenant, kind), tracer)
        return first

    # -- one request ------------------------------------------------------------

    def _serve(self, spark, authorizer, req, tracer, rid=None) -> tuple[bool, bool]:
        """Run one request; returns (served, correct)."""
        from pyspark.sql import functions as F

        from aws_saas_factory_multi_tenant_data_pipeline_spark import query
        from aws_saas_factory_multi_tenant_data_pipeline_spark.tenancy import TenantError

        try:
            with tracer.span("tenancy.authorize", rid):
                ctx = authorizer.authorize(req.token)
        except TenantError:
            return False, req.tenant is None
        if req.tenant is None or ctx.tenant_id != req.tenant:
            return False, False
        with tracer.span("query.plan", rid):
            if req.kind == "dashboard":
                df = query.run_saved_query(spark, "tenant_dashboard", tenant=ctx.tenant_id)
            elif req.kind == "regions":
                df = query.saved_query(spark, f"{DB}.{TABLE}", ctx).groupBy("tenant", "region").count()
            elif req.kind == "masked":
                df = query.tenant_scoped(spark.table(MASKED_VIEW), ctx).groupBy("tenant", "region", "event").count()
            else:
                df = spark.table(f"{DB}.{TABLE}").groupBy("tenant").agg(F.count("*").alias("n"))
        with tracer.span("query.exec", rid):
            rows = df.collect()
        return True, self._correct(req.kind, ctx.tenant_id, rows)

    def _correct(self, kind: str, tenant: str, rows) -> bool:
        if kind == "rollup":
            return {r["tenant"]: r["n"] for r in rows} == dict(self.totals)
        if any(r["tenant"] != tenant for r in rows):  # isolation
            return False
        if kind == "dashboard":
            got = {(r["tenant"], r["hour"], r["event"]): r["n"] for r in rows}
        elif kind == "regions":
            got = {(r["tenant"], r["region"]): r["count"] for r in rows}
        else:
            got = {(r["tenant"], r["region"], r["event"]): r["count"] for r in rows}
        want = {k: v for k, v in self.expected[kind].items() if k[0] == tenant}
        return got == want

    # -- measured window --------------------------------------------------------

    def measure(self, spark, window: int, tracer, store=None) -> dict:
        authorizer = new_authorizer(self.requests)
        lat: list[float] = []
        lock = threading.Lock()
        counts = Counter()
        wrong = Counter()  # failed requests by kind
        errors: list[str] = []
        mark = store.mark() if store else None
        deadline = time.perf_counter() + self.seconds

        def client(c: int) -> None:
            for i, req in enumerate(self.requests.stream(window, c)):
                if time.perf_counter() >= deadline:
                    return
                t = time.perf_counter()
                try:
                    served, ok = self._serve(spark, authorizer, req, tracer, rid=f"{window}-{c}-{i}")
                except Exception as e:  # noqa: BLE001 — a failed request is counted, the client goes on
                    served, ok = False, False
                    with lock:
                        errors.append(f"{req.kind}: {type(e).__name__}: {e}"[:300])
                dt = time.perf_counter() - t
                with lock:
                    counts["attempted"] += 1
                    counts["failed"] += not ok
                    if not ok:
                        wrong[req.kind] += 1
                    counts["denied"] += req.tenant is None
                    if served:
                        lat.append(dt)
                        counts[req.kind] += 1

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}") for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = time.perf_counter() - t0
        self.attempted += counts["attempted"]
        self.failures.extend(errors)
        self.failures.extend(f"window {window}: {n} failed {kind} requests" for kind, n in wrong.items())
        self.failed += counts["failed"]
        out = {
            "latency": percentile_report(lat),
            "queries_per_s": len(lat) / elapsed,
            "counts": dict(counts),
            "authorizer": authorizer,
        }
        if store is not None:
            out["spark"] = store.totals(mark)
        self.windows[window] = out
        return {"latency_p50_s": out["latency"]["p50"], "throughput_per_s": out["queries_per_s"]}

    def report(self, window: int) -> dict:
        w = self.windows[window]
        return {
            "query_p50_s": w["latency"].get("p50"),
            "query_p90_s": w["latency"].get("p90"),
            "query_percentiles": w["latency"],
            "queries_per_s": w["queries_per_s"],
            "requests": w["counts"],
        }

    def layers(self, spark, tracer, window: int) -> dict:
        from aws_saas_factory_multi_tenant_data_pipeline_spark import query
        from aws_saas_factory_multi_tenant_data_pipeline_spark.plans import assert_partition_pruned
        from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_lake
        from aws_saas_factory_multi_tenant_data_pipeline_spark.tenancy import TenantContext

        w = self.windows[window]
        auth = w["authorizer"]
        calls = len(tracer.durations("tenancy.authorize"))
        with tracer.span("sources.read_lake"):
            read_lake(spark, self.lake)
        ctx = TenantContext(self.gen.tenants.tenants[0])
        shapes = [
            query.run_saved_query(spark, "tenant_dashboard", tenant=ctx.tenant_id),
            query.saved_query(spark, f"{DB}.{TABLE}", ctx),
            query.tenant_scoped(spark.table(MASKED_VIEW), ctx),
        ]
        pruned_ok = 0
        for df in shapes:
            try:
                assert_partition_pruned(df, "tenant", ctx.tenant_id)
                pruned_ok += 1
            except AssertionError:
                pass
        lake_files = len(spark.table(f"{DB}.{TABLE}").inputFiles())
        scanned = [len(df.inputFiles()) for df in shapes]
        return {
            **self.setup_layers,
            **walk_lake(self.lake, sum(self.totals.values())),
            "sources.read_lake_s": median(tracer.durations("sources.read_lake")),
            "sources.files_scanned_share": median(scanned) / lake_files,
            "query.plan_s": median(tracer.durations("query.plan")),
            "query.exec_s": median(tracer.durations("query.exec")),
            "tenancy.authorize_s": median(tracer.durations("tenancy.authorize")),
            # every decision the cache stored was a miss; the rest were hits
            "tenancy.decision_cache_hit_ratio": 1.0 - len(auth._decisions) / max(calls, 1),
            "tenancy.jwks_fetches": auth.fetch_count,
            "plans.pruned_ok": pruned_ok,
            **{f"spark.{k}": v for k, v in w["spark"].items()},
        }

    def check(self, spark) -> tuple[int, int, list[str]]:
        return self.attempted, self.failed, self.failures[:10]


def new_authorizer(requests: RequestGen):
    """A fresh decision cache whose JWKS comes from an injected fetch."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.tenancy import CachedAuthorizer

    jwks = requests.signer.jwks()
    return CachedAuthorizer("bench://jwks", fetch=lambda url: jwks)
