"""Graph algorithms over edge DataFrames (SURVEY.md §2 B10 extensions).

Connected components (duplicate-cluster resolution) lives in
``operators/dedup.py``; this module adds PageRank — the standard
importance measure a data platform wants over entity graphs (supplier/
part networks, document link graphs, user interaction graphs).

Scale shape (r16): the edge list is cached ONCE laid out by the edge
destination; each power iteration broadcasts the node-sized rank frame
to the edge partitions, so the per-destination contribution sums
aggregate IN PLACE (zero edge-sized exchange per round — the r15 shape
still exchanged edge-cardinality partial sums keyed by dst every
round). Lineage is truncated per iteration with ``localCheckpoint``
exactly like the connected-components loop, so iteration N never
re-executes rounds 1..N-1. The memory trade is explicit: two node-sized
broadcasts per round (ranks into the contribution join, sums into the
rank update); a graph whose NODE set outgrows a broadcast (~100M+
nodes / the 8 GB broadcast cap) needs the rank frame shuffled instead —
re-key the contribution join with ``.hint("shuffle_hash")`` on the rank
side over a src-partitioned cache (the pre-r16 shape, kept in git
history) before running at that scale.

Determinism contract — FIXED-POINT INTEGER arithmetic: ranks live as
BIGINT micro-units (1 = 1e-12 of total mass), every step is integer
division (``div``) and integer sums, so the k-round loop contains no
floating point at all and replays bit-for-bit in any SQL engine.
(A first cut rounded doubles to 12 dp instead; Spark's round() on
doubles goes through the shortest-decimal-representation BigDecimal
path while DuckDB rounds the true binary value, and the two drift by
1 unit-in-the-last-place often enough that 4 iterations amplified it
into ~5% of ranks — integers make the divergence impossible rather
than unlikely.) ``pagerank_oracle_sql`` GENERATES the unrolled-CTE
replay from the same parameters; ``graph_pagerank`` hash-checks it.
Simplified semantics, documented: no dangling-mass redistribution (a
node with no out-edges keeps only its teleport term) — symmetrized
graphs have no dangling nodes, and both engines implement the same rule
either way. Floor division loses ≤1 unit (1e-12) of mass per node per
round: deterministic, and irrelevant at ranking granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.session import persisted

#: fixed-point scale: 1.0 of total rank mass = 10^12 units
UNITS = 10**12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    damping_pct: int = 85,
    plan_probe: list | None = None,
    tol_units: int | None = None,
    info: dict | None = None,
) -> DataFrame:
    """PageRank by power iteration over a directed edge list.

    Returns (node_id, rank_units, rank): ``rank_units`` is the exact
    BIGINT fixed-point value (the oracle-checked column), ``rank`` the
    double view for human consumption. Undirected graphs: pass the
    symmetrized edge list (both directions). ``damping_pct`` is the
    damping factor in percent (85 = the classic 0.85) so the update rule
    stays in integers.

    ``tol_units``: optional convergence early-exit — stop after the
    first round whose integer max |Δrank| is <= tol_units (e.g.
    ``10**6`` = 1e-6 of total mass). The check is an exact BIGINT agg
    over the already-materialized round, so the run REMAINS bit-for-bit
    replayable: the result equals a fixed ``iters=R`` run where R is
    the executed round count (``pagerank_oracle_sql(..., iters=R)`` is
    its oracle). With d=0.85 the max delta contracts by ~0.85/round, so
    the exit pays off on long runs (iters=20+) and on graphs that hit
    an exact integer fixed point — not on a 4-round run.

    ``info``: optional dict filled with ``rounds`` (executed),
    ``converged`` and ``final_max_delta_units`` when ``tol_units`` is
    set (exact-integer observability for schedulers/tests).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    from pyspark.sql import Window

    # NOTE on (not) caching the input: persisting `edges` here was
    # measured SLOWER at sf0.1 (5.7 s vs 3.7 s) — Catalyst already
    # deduplicates the caller's distinct via ReusedExchange inside each
    # job, and an InMemoryRelation replaces that reuse with a cache
    # materialization pass plus per-scan deserialization. The
    # degree-annotated e_deg persist below is the one that matters.
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    # Materialize the degree-annotated edge list ONCE: without this, every
    # iteration re-executes the caller's edge-derivation lineage (often a
    # scan + distinct) twice — at sf0.1 that made a 4-iteration run ~9 s,
    # ~7 of which were redundant upstream recomputes. One executor-side
    # checkpoint turns the loop body into join + map-side-combined groupBy
    # + node join, the shape the module docstring promises.
    #
    # Out-degree comes from a window count partitioned by __src, not from
    # a groupBy + broadcast-join back onto the edges: the window keeps the
    # caller's edge lineage to ONE execution (a degree groupBy is a second
    # full pass over it — measured r16: the join form ties at sf0.1 but
    # re-runs an arbitrary upstream plan twice, which is strictly worse at
    # scale), and it keeps null-__src edge rows (a join on __src would
    # drop or null-pad them; the oracle's outdeg GROUP BY keeps the null
    # group). Every edge row's __src has ≥ 1 row by definition, so the
    # window count equals a per-src degree row-for-row.
    # r16: the cache is then laid out by __dst — the aggregation key of
    # every iteration's contribution sums. With the rank frame BROADCAST
    # into the contribution join (node-sized, see the loop), the
    # per-round groupBy(__dst) aggregates in place on the cached layout:
    # the r15 shape's per-round `Exchange hashpartitioning(node)` of
    # edge-cardinality partial sums is GONE (guide §2.4 — the one
    # remaining per-round exchange carried the most rows of anything in
    # the loop; interleaved sf0.1 A/B old min 2.98 / new min 2.32, and
    # the win grows with edges/node density). The setup pays one extra
    # edge-sized exchange ONCE (window needs __src layout, the cache
    # needs __dst) and saves one per ROUND.
    # PERSIST (not localCheckpoint): InMemoryTableScan preserves the
    # cached plan's hashpartitioning(__dst), so each round's complete
    # aggregation pipelines over the cache scan with no exchange — a
    # localCheckpoint here loses outputPartitioning (Scan ExistingRDD
    # reports Unknown) and silently re-shuffles the partial sums every
    # round; pinned by
    # tests/test_plans.py::test_pagerank_iteration_never_moves_edges.
    # MEMORY_AND_DISK is the GraphX-style iterative trade: the edge list
    # spills rather than recomputes.
    e_deg = (
        e.select(
            "__src",
            "__dst",
            F.count(F.lit(1)).over(Window.partitionBy("__src")).alias("__deg"),
        )
        .repartition("__dst")
    )
    with persisted(e_deg):
        e_deg.count()  # materialize once, before the loop
        ranks = _power_iterations(e_deg, iters, damping_pct, plan_probe, tol_units, info)
    return ranks.select(
        F.col("node").alias("node_id"),
        F.col("ru").alias("rank_units"),
        (F.col("ru").cast("double") / F.lit(float(UNITS))).alias("rank"),
    )


def _power_iterations(
    e_deg: DataFrame,
    iters: int,
    damping_pct: int,
    plan_probe: list | None,
    tol_units: int | None,
    info: dict | None,
) -> DataFrame:
    """:func:`pagerank`'s rounds over the persisted (__src, __dst, __deg)
    edge cache; returns the (node, __n, ru) rank frame, materialized."""
    # r15: the node frame and r0 derive from the PERSISTED e_deg, not from
    # the caller's edge lineage — e_deg holds exactly the input edge rows
    # (outdeg is computed from edges, so the inner join drops nothing),
    # and reading the cache replaces a second scan + distinct of the
    # upstream plan (guide §2.4: remove shuffles/passes outright).
    nodes = (
        e_deg.select(F.col("__src").alias("node"))
        .unionByName(e_deg.select(F.col("__dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("__n"))
    ranks = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .select("node", "__n", F.expr(f"CAST({UNITS} AS BIGINT) div __n").alias("ru"))
        # materialize r0: its lineage re-derives the cached edge frame
        # scan; without the cut, iteration 1 pays it again
        .localCheckpoint(eager=True)
    )
    teleport = F.expr(f"CAST({(100 - damping_pct) * UNITS} AS BIGINT) div (100 * __n)")
    rounds = 0
    converged = False
    last_delta: int | None = None
    for _it in range(iters):
        # BROADCAST the node-sized rank frame into the edge partitions:
        # the cached edge list is laid out by __dst, so after this
        # exchange-free join the contribution aggregation below runs
        # complete-in-place on the cache partitioning. A shuffle-hash
        # form would keep the cache by __src instead and pay an
        # edge-cardinality exchange of partial sums keyed by __dst
        # EVERY round — strictly more bytes per round than the
        # node-sized broadcast build this form pays.
        # Scale limit documented in the module docstring: a node set
        # beyond broadcast reach needs the shuffle-hash loop instead.
        contribs = e_deg.join(
            F.broadcast(ranks.select("node", "ru")),
            F.col("__src") == F.col("node"),
        ).select(F.col("__dst").alias("node"), F.expr("ru div __deg").alias("__c"))
        sums = contribs.groupBy("node").agg(F.sum("__c").alias("__s"))
        prev_cols = [F.col("ru").alias("__prev_ru")] if tol_units is not None else []
        # the rank update broadcasts the sums too: one row per node with
        # in-edges, so it is node-sized by construction — the second of
        # the module docstring's two node-sized broadcasts per round
        update = (
            ranks.select("node", "__n", *prev_cols)
            .join(F.broadcast(sums), "node", "left")
            .select(
                "node",
                "__n",
                *(["__prev_ru"] if tol_units is not None else []),
                (
                    teleport
                    + F.expr(f"({damping_pct} * coalesce(__s, CAST(0 AS BIGINT))) div 100")
                ).alias("ru"),
            )
        )
        if plan_probe is not None:  # test hook: capture the iteration body
            plan_probe.append(update._jdf.queryExecution().executedPlan().toString())
        # lazy checkpoints for rounds 1..k-1: lineage still truncates at
        # first materialization (round k+1 reads round k's persisted
        # blocks, never its plan), but the whole loop runs as ONE fused
        # job — measured 4.8 s -> 3.7 s at sf0.1 (per-job scheduling
        # overhead, not data, dominated). The LAST round checkpoints
        # EAGERLY because e_deg is released when the loop returns: the
        # fused job must read the edge cache before it is released. The
        # tol_units path materializes each round anyway via the delta agg.
        ranks = update.localCheckpoint(eager=(_it == iters - 1 and tol_units is None))
        rounds += 1
        if tol_units is not None:
            # exact BIGINT max |Δ| over the round just materialized —
            # one node-sized agg job against the fresh checkpoint, no
            # extra join. Stop when the fixed-point loop is within
            # tolerance: the returned frame is bit-identical to a
            # fixed iters=rounds run (replayable by
            # pagerank_oracle_sql(..., iters=rounds)).
            last_delta = ranks.agg(
                F.max(F.abs(F.col("ru") - F.col("__prev_ru"))).alias("d")
            ).collect()[0]["d"]
            if last_delta is not None and last_delta <= tol_units:
                converged = True
                break
    if info is not None:
        info["rounds"] = rounds
        info["converged"] = converged
        info["final_max_delta_units"] = last_delta
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    iters: int = 4,
    damping_pct: int = 85,
) -> str:
    """Generate the DuckDB replay of :func:`pagerank`: one CTE per
    iteration applying the identical integer-division update rule.
    ``edges_cte`` must be a SQL fragment selecting columns (src, dst).
    """
    tele = (100 - damping_pct) * UNITS
    parts = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges))",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({UNITS} AS BIGINT) // n AS ru FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, r.ru // o.deg AS c "
            f"FROM edges e JOIN {prev} r ON e.src = r.node "
            f"JOIN outdeg o ON e.src = o.node)"
        )
        parts.append(f"s{i} AS (SELECT node, SUM(c) AS s FROM c{i} GROUP BY node)")
        parts.append(
            f"r{i} AS (SELECT n.node, "
            f"CAST({tele} AS BIGINT) // (100 * nn.n) "
            f"+ ({damping_pct} * COALESCE(s.s, 0)) // 100 AS ru "
            f"FROM nodes n CROSS JOIN nn LEFT JOIN s{i} s ON n.node = s.node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node AS node_id, CAST(ru AS BIGINT) AS rank_units, "
        f"CAST(ru AS DOUBLE) / {float(UNITS)} AS rank FROM r{iters} ORDER BY node_id"
    )
