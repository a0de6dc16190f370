"""B2/B3 subquery surface: scalar subqueries, IN / EXISTS (correlated and
uncorrelated), NOT IN / NOT EXISTS — the rewrites Catalyst turns into
semi/anti joins (RewritePredicateSubquery, RewriteCorrelatedScalarSubquery;
SURVEY.md §4).
"""

from __future__ import annotations

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import duck_sql, table_sql

_SCALAR_UNCORRELATED = """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM {orders}
    WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM {orders})
    ORDER BY o_orderkey
"""


@register(
    "subq_scalar_uncorrelated",
    oracle=duck_sql(_SCALAR_UNCORRELATED),
    tags=("B2",),
    doc="Uncorrelated scalar subquery in a filter.",
)
def subq_scalar_uncorrelated(spark, sf_dir):
    return table_sql(spark, sf_dir, _SCALAR_UNCORRELATED)


_CORRELATED_SCALAR = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM {lineitem} l1
    WHERE l_quantity > 1.9 * (SELECT AVG(l_quantity) FROM {lineitem} l2
                              WHERE l2.l_partkey = l1.l_partkey)
    ORDER BY l_orderkey, l_linenumber
"""


@register(
    "subq_correlated_scalar",
    oracle=duck_sql(_CORRELATED_SCALAR),
    tags=("B2",),
    doc="Correlated scalar subquery (TPC-H Q17 shape) — decorrelated by "
    "Catalyst into an aggregate+join.",
)
def subq_correlated_scalar(spark, sf_dir):
    return table_sql(spark, sf_dir, _CORRELATED_SCALAR)


_EXISTS_CORRELATED = """
    SELECT s_suppkey, s_name
    FROM {supplier} s
    WHERE EXISTS (SELECT 1 FROM {lineitem} l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
      AND NOT EXISTS (SELECT 1 FROM {lineitem} l2
                      WHERE l2.l_suppkey = s.s_suppkey
                        AND l2.l_quantity > 48 AND l2.l_extendedprice > 98000)
    ORDER BY s_suppkey
"""


@register(
    "subq_exists_correlated",
    oracle=duck_sql(_EXISTS_CORRELATED),
    tags=("B2", "B3"),
    doc="Correlated EXISTS / NOT EXISTS → left-semi + left-anti joins.",
)
def subq_exists_correlated(spark, sf_dir):
    return table_sql(spark, sf_dir, _EXISTS_CORRELATED)


_IN_NOTIN = """
    SELECT c_custkey
    FROM {customer}
    WHERE c_nationkey IN (SELECT n_nationkey FROM {nation} WHERE n_regionkey = 2)
      AND c_custkey NOT IN (SELECT o_custkey FROM {orders} WHERE o_totalprice > 450000)
    ORDER BY c_custkey
"""


@register(
    "subq_in_notin",
    oracle=duck_sql(_IN_NOTIN),
    tags=("B2", "B3"),
    doc="IN / NOT IN subqueries (null-safe anti-join semantics).",
)
def subq_in_notin(spark, sf_dir):
    return table_sql(spark, sf_dir, _IN_NOTIN)


_LATERAL_DERIVED = """
    SELECT n_name, top.o_orderkey, CAST(top.o_totalprice AS DOUBLE) AS o_totalprice
    FROM {nation},
    LATERAL (SELECT o_orderkey, o_totalprice
             FROM {orders} JOIN {customer} ON o_custkey = c_custkey
             WHERE c_nationkey = n_nationkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) top
    ORDER BY n_name, o_totalprice DESC, top.o_orderkey
"""


@register(
    "subq_lateral_derived",
    oracle=duck_sql(_LATERAL_DERIVED),
    tags=("B2", "B3"),
    doc="LATERAL derived table (top-2 orders per nation).",
)
def subq_lateral_derived(spark, sf_dir):
    return table_sql(spark, sf_dir, _LATERAL_DERIVED)
