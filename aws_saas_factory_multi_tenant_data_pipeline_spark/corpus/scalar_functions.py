"""B7 scalar function families: string, date/time, math, array, map, json,
null/misc. One query per family, each exercising the representative
functions from SURVEY.md §2 (Athena/Presto names → Spark builtins; the
DuckDB oracle uses its own spellings of the same ANSI semantics).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t


@register(
    "fn_string",
    oracle="""
        SELECT p_partkey,
               lower(p_name) AS lname,
               upper(p_brand) AS ubrand,
               trim(concat('  ', p_type, ' ')) AS trimmed,
               substr(p_name, 1, 8) AS first8,
               length(p_name) AS nlen,
               concat_ws('|', p_brand, p_type) AS joined,
               replace(p_type, ' ', '_') AS replaced,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
               instr(p_name, 'a') AS first_a,
               regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
               regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
               printf('%s-%03d', p_brand, p_size) AS formatted,
               (p_name LIKE '%gold%') AS has_gold,
               regexp_matches(p_name, '^[a-z]') AS starts_lower
        FROM part
        ORDER BY p_partkey
    """,
    tags=("B7",),
    doc="String family: lower/upper/trim/substr/length/concat_ws/replace/"
    "lpad/instr/regexp_extract/regexp_replace/format_string/like/rlike.",
)
def fn_string(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("trimmed"),
        F.substring("p_name", 1, 8).alias("first8"),
        F.length("p_name").alias("nlen"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("replaced"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("devoweled"),
        F.format_string("%s-%03d", F.col("p_brand"), F.col("p_size")).alias("formatted"),
        F.col("p_name").like("%gold%").alias("has_gold"),
        F.col("p_name").rlike("^[a-z]").alias("starts_lower"),
    ).orderBy("p_partkey")


@register(
    "fn_datetime",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate) AS y,
               month(o_orderdate) AS m,
               day(o_orderdate) AS d,
               hour(o_orderdate) AS h,
               minute(o_orderdate) AS mi,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS plus30,
               CAST(o_orderdate AS DATE) - INTERVAL 7 DAY AS minus7,
               date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
               (year(o_orderdate) - 1995) * 12 + (month(o_orderdate) - 1) AS months_since_95,
               CAST(o_orderdate AS DATE) AS od,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS formatted,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        FROM orders
        ORDER BY o_orderkey
    """,
    tags=("B7",),
    doc="Date/time family: extract fns, date_trunc, date_add/sub, datediff, "
    "to_date, date_format, unix_timestamp (A4's strftime ≡ date_format).",
)
def fn_datetime(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(od).alias("y"),
        F.month(od).alias("m"),
        F.dayofmonth(od).alias("d"),
        F.hour(od).alias("h"),
        F.minute(od).alias("mi"),
        F.date_trunc("month", od).cast("date").alias("month_start"),
        F.date_add(od.cast("date"), 30).alias("plus30"),
        F.date_sub(od.cast("date"), 7).alias("minus7"),
        F.datediff(od.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        ((F.year(od) - 1995) * 12 + (F.month(od) - 1)).alias("months_since_95"),
        F.to_date(od).alias("od"),
        F.date_format(od, "yyyy-MM-dd HH:mm:ss").alias("formatted"),
        F.unix_timestamp(od).alias("epoch_s"),
    ).orderBy("o_orderkey")


@register(
    "fn_math",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(abs(l_discount - 0.05) AS DOUBLE) AS adiff,
               CAST(round(l_extendedprice / 1000, 2) AS DOUBLE) AS price_k,
               CAST(floor(l_quantity) AS BIGINT) AS qfloor,
               CAST(ceil(l_quantity / 7) AS BIGINT) AS qceil7,
               CAST(round(exp(l_discount), 6) AS DOUBLE) AS e_disc,
               CAST(round(ln(l_extendedprice), 6) AS DOUBLE) AS ln_price,
               CAST(round(log10(l_extendedprice), 6) AS DOUBLE) AS log10_price,
               CAST(round(sqrt(l_quantity), 6) AS DOUBLE) AS sqrt_qty,
               CAST(round(pow(l_quantity, 2), 6) AS DOUBLE) AS qty_sq,
               ((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS key_mod7,
               CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
        FROM lineitem
        WHERE l_orderkey <= 500
        ORDER BY l_orderkey, l_linenumber
    """,
    tags=("B7",),
    doc="Math family: abs/round/floor/ceil/exp/ln/log10/sqrt/pow/pmod/sign "
    "(transcendentals rounded to 6 dp — libm vs JVM may differ in the last ulp).",
)
def fn_math(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).cast("double").alias("adiff"),
        F.round(F.col("l_extendedprice") / 1000, 2).cast("double").alias("price_k"),
        F.floor("l_quantity").cast("long").alias("qfloor"),
        F.ceil(F.col("l_quantity") / 7).cast("long").alias("qceil7"),
        F.round(F.exp("l_discount"), 6).cast("double").alias("e_disc"),
        F.round(F.log(F.col("l_extendedprice")), 6).cast("double").alias("ln_price"),
        F.round(F.log10("l_extendedprice"), 6).cast("double").alias("log10_price"),
        F.round(F.sqrt("l_quantity"), 6).cast("double").alias("sqrt_qty"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).cast("double").alias("qty_sq"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "fn_array",
    oracle="""
        WITH base AS (
            SELECT n_nationkey,
                   string_split(n_name, '') AS chars,
                   generate_series(1, (n_nationkey % 5) + 1) AS seq
            FROM nation)
        SELECT n_nationkey,
               len(chars) AS n_chars,
               list_contains(chars, 'a') AS has_a,
               to_json(list_sort(list_distinct(chars))) AS uniq_chars,
               to_json(chars[2:4]) AS mid_chars,
               to_json(flatten([seq, seq])) AS doubled_seq,
               to_json(list_transform(seq, x -> x * 10)) AS seq_x10,
               to_json(list_filter(seq, x -> x % 2 = 0)) AS seq_even,
               CAST(list_sum(seq) AS BIGINT) AS seq_sum
        FROM base
        ORDER BY n_nationkey
    """,
    tags=("B7",),
    doc="Array family: size/contains/sort/distinct/slice/flatten/transform/"
    "filter/aggregate/sequence. Array outputs serialized via to_json on both "
    "engines so the driver canonicalizer sees plain strings (hashable).",
)
def fn_array(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    base = n.select(
        "n_nationkey",
        F.split(F.col("n_name"), "").alias("chars"),
        F.sequence(F.lit(1), F.pmod(F.col("n_nationkey"), F.lit(5)) + 1).alias("seq"),
    )
    return base.select(
        "n_nationkey",
        F.size("chars").alias("n_chars"),
        F.array_contains("chars", "a").alias("has_a"),
        F.to_json(F.array_sort(F.array_distinct("chars"))).alias("uniq_chars"),
        F.to_json(F.slice("chars", 2, 3)).alias("mid_chars"),
        F.to_json(F.flatten(F.array("seq", "seq"))).alias("doubled_seq"),
        F.to_json(F.transform("seq", lambda x: x * 10)).alias("seq_x10"),
        F.to_json(F.filter("seq", lambda x: x % 2 == 0)).alias("seq_even"),
        F.aggregate("seq", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("seq_sum"),
    ).orderBy("n_nationkey")


@register(
    "fn_array_explode",
    oracle="""
        WITH base AS (
            SELECT n_nationkey, string_split(n_name, '') AS chars
            FROM nation WHERE n_nationkey <= 5)
        SELECT n_nationkey,
               unnest(generate_series(1, len(chars))) - 1 AS pos,
               unnest(chars) AS ch
        FROM base
        ORDER BY n_nationkey, pos
    """,
    tags=("B7", "B9"),
    doc="explode / posexplode (table function / LATERAL VIEW).",
)
def fn_array_explode(spark, sf_dir):
    n = t(spark, sf_dir, "nation").where(F.col("n_nationkey") <= 5)
    return (
        n.select("n_nationkey", F.posexplode(F.split("n_name", "")).alias("pos", "ch"))
        .orderBy("n_nationkey", "pos")
    )


@register(
    "fn_map",
    oracle="""
        WITH m AS (
            SELECT n_nationkey,
                   map(['key','region'], [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)]) AS props
            FROM nation)
        SELECT n_nationkey,
               to_json(map_keys(props)) AS ks,
               to_json(map_values(props)) AS vs,
               props['region'][1] AS region_val
        FROM m
        ORDER BY n_nationkey
    """,
    tags=("B7",),
    doc="Map family: creation, map_keys/map_values/element_at. Array outputs "
    "serialized via to_json on both engines (driver-canonicalizer-safe).",
)
def fn_map(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    m = n.select(
        "n_nationkey",
        F.map_from_arrays(
            F.array(F.lit("key"), F.lit("region")),
            F.array(F.col("n_nationkey").cast("long"), F.col("n_regionkey").cast("long")),
        ).alias("props"),
    )
    return m.select(
        "n_nationkey",
        F.to_json(F.map_keys("props")).alias("ks"),
        F.to_json(F.map_values("props")).alias("vs"),
        F.element_at(F.col("props"), F.lit("region")).alias("region_val"),
    ).orderBy("n_nationkey")


@register(
    "fn_json",
    oracle="""
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,
               (CAST(json_extract(props, '$.k') AS BIGINT) > 50) AS k_big
        FROM events
        WHERE event_type = 'view'
        ORDER BY event_id
    """,
    tags=("B7",),
    doc="JSON family over events.props (Athena json_extract_scalar parity): "
    "get_json_object / from_json / json_tuple.",
)
def fn_json(spark, sf_dir):
    e = t(spark, sf_dir, "events").where(F.col("event_type") == "view")
    k_struct = F.from_json(F.col("props"), T.StructType([T.StructField("k", T.LongType())]))
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        k_struct["k"].alias("k_int"),
        (k_struct["k"] > 50).alias("k_big"),
    ).orderBy("event_id")


@register(
    "fn_null_misc",
    oracle="""
        SELECT c_custkey,
               (NULLIF(c_mktsegment, 'BUILDING') IS NULL) AS is_building,
               (NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL) AS not_building,
               COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'N/A') AS nvl_seg,
               -1.0 AS nan_handled,
               COALESCE(c_acctbal, 0.0) AS bal_nvl
        FROM customer
        ORDER BY c_custkey
    """,
    tags=("B7",),
    doc="Null handling: isnull/isnotnull/nvl/coalesce (+nanvl in the Spark plan).",
)
def fn_null_misc(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        F.isnull(seg).alias("is_building"),
        seg.isNotNull().alias("not_building"),
        F.nvl(seg, F.lit("N/A")).alias("nvl_seg"),
        F.nanvl(F.lit(float("nan")).cast("double"), F.lit(-1.0)).alias("nan_handled"),
        F.nvl(F.col("c_acctbal"), F.lit(0.0)).alias("bal_nvl"),
    ).orderBy("c_custkey")


@register(
    "fn_hashing",
    oracle=None,  # hash values are engine-specific (SURVEY §2: excluded from oracle)
    tags=("B7",),
    doc="xxhash64 / hash / monotonically_increasing_id exist and are stable "
    "within Spark; excluded from cross-engine value compare by design.",
)
def fn_hashing(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.xxhash64("n_name").alias("xx64"),
        F.hash("n_name").alias("h32"),
        F.md5("n_name").alias("md5hex"),
        F.sha2(F.col("n_name"), 256).alias("sha256hex"),
    ).orderBy("n_nationkey")


@register(
    "fn_explode_outer",
    oracle="""
        WITH base AS (
            SELECT r_regionkey,
                   CASE WHEN r_regionkey % 2 = 0
                        THEN string_split(r_name, '_') ELSE NULL END AS parts
            FROM region)
        SELECT r_regionkey, part
        FROM base LEFT JOIN LATERAL (SELECT unnest(parts) AS part) u ON TRUE
        ORDER BY r_regionkey, part NULLS FIRST
    """,
    tags=("B7", "B9"),
    doc="explode_outer: null/empty arrays keep their row (LEFT LATERAL unnest).",
)
def fn_explode_outer(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    base = r.select(
        "r_regionkey",
        F.when(F.pmod("r_regionkey", F.lit(2)) == 0, F.split("r_name", "_")).alias("parts"),
    )
    return (
        base.select("r_regionkey", F.explode_outer("parts").alias("part"))
        .orderBy("r_regionkey", F.col("part").asc_nulls_first())
    )


@register(
    "fn_scalar_pack",
    oracle="""
        WITH base AS (
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax, l_returnflag,
                   generate_series(1, (l_linenumber % 4) + 1) AS seq,
                   '{"f":"' || l_returnflag || '","n":' || CAST(l_linenumber AS VARCHAR) || '}' AS j
            FROM lineitem WHERE l_orderkey <= 300)
        SELECT l_orderkey, l_linenumber,
               CAST(abs(l_discount - 0.05) AS DOUBLE) AS adiff,
               CAST(round(l_extendedprice / 1000, 2) AS DOUBLE) AS price_k,
               CAST(floor(l_quantity) AS BIGINT) AS qfloor,
               CAST(ceil(l_quantity / 7) AS BIGINT) AS qceil7,
               CAST(round(ln(l_extendedprice), 6) AS DOUBLE) AS ln_price,
               CAST(round(sqrt(l_quantity), 6) AS DOUBLE) AS sqrt_qty,
               ((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS key_mod7,
               CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
               len(seq) AS seq_n,
               list_contains(seq, 3) AS seq_has3,
               to_json(list_transform(seq, x -> x * 10)) AS seq_x10,
               to_json(list_filter(seq, x -> x % 2 = 0)) AS seq_even,
               CAST(list_sum(seq) AS BIGINT) AS seq_sum,
               to_json(map_keys(map(['ok','ln'],
                   [CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT)]))) AS mks,
               to_json(map_values(map(['ok','ln'],
                   [CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT)]))) AS mvs,
               map(['ok','ln'], [CAST(l_orderkey AS BIGINT),
                   CAST(l_linenumber AS BIGINT)])['ln'][1] AS m_ln,
               json_extract_string(j, '$.f') AS j_flag,
               CAST(json_extract(j, '$.n') AS BIGINT) AS j_n,
               (NULLIF(l_returnflag, 'N') IS NULL) AS flag_is_n,
               COALESCE(NULLIF(l_returnflag, 'N'), 'X') AS flag_nvl,
               -1.0 AS nan_handled
        FROM base
        ORDER BY l_orderkey, l_linenumber
    """,
    tags=("B7",),
    doc="B7 math + array + map + json + null families in one lineitem "
    "projection (the per-family originals remain in the registry tail): "
    "abs/round/floor/ceil/ln/sqrt/pmod/sign; size/contains/transform/"
    "filter/aggregate over a derived sequence; map create/keys/values/"
    "element_at; get_json_object/from_json over derived JSON; nullif/"
    "isnull/coalesce/nanvl. Pure codegen projection — scan-speed at any "
    "scale.",
)
def fn_scalar_pack(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 300)
    seq = F.sequence(F.lit(1), F.pmod(F.col("l_linenumber"), F.lit(4)) + 1)
    mp = F.map_from_arrays(
        F.array(F.lit("ok"), F.lit("ln")),
        F.array(F.col("l_orderkey").cast("long"), F.col("l_linenumber").cast("long")),
    )
    j = F.concat(
        F.lit('{"f":"'),
        F.col("l_returnflag"),
        F.lit('","n":'),
        F.col("l_linenumber").cast("string"),
        F.lit("}"),
    )
    base = li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", seq.alias("seq"), mp.alias("mp"), j.alias("j"),
    )
    return base.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).cast("double").alias("adiff"),
        F.round(F.col("l_extendedprice") / 1000, 2).cast("double").alias("price_k"),
        F.floor("l_quantity").cast("long").alias("qfloor"),
        F.ceil(F.col("l_quantity") / 7).cast("long").alias("qceil7"),
        F.round(F.log(F.col("l_extendedprice")), 6).cast("double").alias("ln_price"),
        F.round(F.sqrt("l_quantity"), 6).cast("double").alias("sqrt_qty"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("disc_sign"),
        F.size("seq").alias("seq_n"),
        F.array_contains("seq", 3).alias("seq_has3"),
        F.to_json(F.transform("seq", lambda x: x * 10)).alias("seq_x10"),
        F.to_json(F.filter("seq", lambda x: x % 2 == 0)).alias("seq_even"),
        F.aggregate("seq", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("seq_sum"),
        F.to_json(F.map_keys("mp")).alias("mks"),
        F.to_json(F.map_values("mp")).alias("mvs"),
        F.element_at(F.col("mp"), F.lit("ln")).alias("m_ln"),
        F.get_json_object("j", "$.f").alias("j_flag"),
        F.from_json("j", T.StructType([T.StructField("n", T.LongType())]))["n"].alias("j_n"),
        F.isnull(F.nullif(F.col("l_returnflag"), F.lit("N"))).alias("flag_is_n"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("X")).alias("flag_nvl"),
        F.nanvl(F.lit(float("nan")).cast("double"), F.lit(-1.0)).alias("nan_handled"),
    ).orderBy("l_orderkey", "l_linenumber")
