"""One long-lived session serves every tenant: a query reads and writes
nothing through the session's names or conf, so concurrent queries return
their own answers and leave the session as they found it."""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import load_all
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from tools.driver_sim import driver_canon, temp_views

TZ = "spark.sql.session.timeZone"
FOREIGN_ZONE = "America/Los_Angeles"

# queries that named base tables in the session catalog before binding
# their tables per call
CONCURRENT = (
    "subq_scalar_uncorrelated",
    "subq_in_notin",
    "subq_correlated_scalar",
    "tpch_q2_min_per_group",
    "catalog_table_sql",
    "udf_python_udtf",
)


def _hash(df) -> str:
    canon = driver_canon(df.toPandas())
    return hashlib.sha256((repr(canon.dtypes.to_dict()) + canon.to_csv(index=False)).encode()).hexdigest()


def test_concurrent_queries_return_serial_answers(spark, sf_smoke, sf_oracle):
    # a fresh session on the shared context: its catalog starts empty
    # whatever other tests left in the fixture session
    session = spark.newSession()
    views, conf = temp_views(session), session.conf.getAll
    registry = load_all()
    runs = [(q, sf) for _ in range(2) for q in CONCURRENT for sf in (sf_smoke, sf_oracle)]

    def run(q, sf):
        return _hash(registry[q].spark_fn(session, sf))

    serial = {(q, sf): run(q, sf) for q, sf in set(runs)}
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [pool.submit(run, q, sf) for q, sf in runs]
        wrong = [key for key, f in zip(runs, futures) if f.result(timeout=120) != serial[key]]

    assert wrong == []
    assert temp_views(session) == views
    assert session.conf.getAll == conf


def test_table_read_keeps_session_zone(spark, sf_smoke, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    keys: list[str] = []
    real_set = RuntimeConfig.set
    before = spark.conf.get(TZ)
    spark.conf.set(TZ, FOREIGN_ZONE)
    try:
        monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: keys.append(k) or real_set(self, k, v))
        t(spark, sf_smoke, "nation")
        assert spark.conf.get(TZ) == FOREIGN_ZONE
        assert keys == []
    finally:
        monkeypatch.undo()
        spark.conf.set(TZ, before)


def test_driver_contract_pins_utc(spark, sf_smoke):
    """The external driver may hand over a session in another zone; each
    ``queries()`` callable answers as in UTC."""
    import __spark_entry__

    q = "tpch_q15_top_supplier"  # its TIMESTAMP literals read in the session zone
    before = spark.conf.get(TZ)
    spark.conf.set(TZ, "UTC")
    try:
        utc = _hash(load_all()[q].spark_fn(spark, sf_smoke))
        spark.conf.set(TZ, FOREIGN_ZONE)
        assert _hash(load_all()[q].spark_fn(spark, sf_smoke)) != utc
        spark.conf.set(TZ, FOREIGN_ZONE)
        assert _hash(__spark_entry__.queries()[q](spark, sf_smoke)) == utc
    finally:
        spark.conf.set(TZ, before)
