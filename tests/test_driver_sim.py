"""Change selection in tools/driver_sim.py --changed-since: a query is
re-verified when its module imports a changed module, and a pack when any
of its leaf queries is touched."""

from __future__ import annotations

import inspect
import os

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all
from tools.driver_sim import REPO, close_over_packs, touched_queries

REGISTRY = load_all()  # packs.py reads leaf oracles: import it after load_all

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.packs import PACKS  # noqa: E402


def test_close_over_packs_follows_edges_to_a_fixed_point():
    edges = {"p": {"a", "b"}, "q": {"p"}, "r": {"c"}}
    assert close_over_packs({"b"}, edges) == {"b", "p", "q"}
    assert close_over_packs(set(), edges) == set()
    assert close_over_packs({"c"}, edges) == {"c", "r"}


def test_pack_selected_when_only_one_leaf_module_changed():
    reg = REGISTRY
    slot = next(s for s in PACKS if s.name == "media_family_all")
    leaf = slot.parts[0].leaf
    leaf_module = os.path.relpath(inspect.getsourcefile(reg[leaf].spark_fn), REPO)
    assert not leaf_module.endswith("packs.py")
    touched = touched_queries(reg, {os.path.normpath(leaf_module)})
    assert leaf in touched
    assert "media_family_all" in touched
    # a pack with no leaf in that module stays out
    other = next(
        s.name for s in PACKS
        if all(
            os.path.relpath(inspect.getsourcefile(reg[p.leaf].spark_fn), REPO) != leaf_module
            for p in s.parts
        )
    )
    assert other not in touched


def test_hand_written_pack_selected_through_quoted_component():
    reg = REGISTRY
    leaf_module = os.path.relpath(inspect.getsourcefile(reg["fn_url_family"].spark_fn), REPO)
    touched = touched_queries(reg, {os.path.normpath(leaf_module)})
    # fn_web_time_pack names fn_url_family in its source; fn_family_pack2
    # lists fn_web_time_pack as a leaf
    assert {"fn_web_time_pack", "fn_family_pack2"} <= touched


def test_query_selected_when_its_module_imports_the_changed_module():
    # ext_llm_wave4 imports operators.clustering at top level; dedup_semantic's
    # own source only calls the imported semantic_dedup
    touched = touched_queries(REGISTRY, {os.path.normpath(
        "aws_saas_factory_multi_tenant_data_pipeline_spark/operators/clustering.py")})
    assert "dedup_semantic" in touched


def test_package_init_change_selects_every_query_reading_through_util():
    # corpus/_util.py's t() reads every table through sources.read_table,
    # which lives in sources/__init__.py
    pkg = "aws_saas_factory_multi_tenant_data_pipeline_spark"
    through_util = touched_queries(REGISTRY, {os.path.normpath(f"{pkg}/corpus/_util.py")})
    assert "agg_pricing_summary" in through_util
    assert through_util <= touched_queries(
        REGISTRY, {os.path.normpath(f"{pkg}/sources/__init__.py")}
    )


def test_checked_run_fails_a_query_that_writes_the_session(spark, sf_smoke):
    """The gate fails a query that sets session conf or leaves a temp view
    while it runs, and removes the view so the next query is judged on
    its own."""
    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
    from tools.driver_sim import checked_run, temp_views

    def clean(spark, sf):
        return t(spark, sf, "nation")

    def sets_conf(spark, sf):
        tz = "spark.sql.session.timeZone"
        spark.conf.set(tz, spark.conf.get(tz))
        return clean(spark, sf)

    def leaves_view(spark, sf):
        clean(spark, sf).createOrReplaceTempView("nation_leak")
        return spark.table("nation_leak")

    sdf, wrote = checked_run(spark, clean, sf_smoke)
    assert wrote is None and len(sdf) == 25
    assert checked_run(spark, sets_conf, sf_smoke)[1] == "set session conf ['spark.sql.session.timeZone']"
    assert checked_run(spark, leaves_view, sf_smoke)[1] == "left temp views ['nation_leak']"
    assert "nation_leak" not in temp_views(spark)
