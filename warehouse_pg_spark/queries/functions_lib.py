"""Scalar function library coverage (SURVEY §2.9, utils/adt/ 111 files).

One wide SELECT per family, each expression aliased identically in the
Spark and DuckDB forms. Cross-dialect gotchas handled here:
  - date formatting: Spark date_format (Java patterns) vs DuckDB
    strftime (C patterns) — picked equivalent format strings.
  - instr/strpos naming, log naming (ln), string slicing semantics.
  - generate_series → Spark sequence()+explode.
PG-specific functions (split_part, initcap, levenshtein, md5,
width_bucket, translate) exist natively in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warehouse_pg_spark.queries.registry import dec, register, table


@register(
    "fn_strings",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up, lower(c_mktsegment) AS lo,
           substr(c_name, 1, 8) AS sub8,
           length(c_name) AS len,
           concat(c_name, '#', c_mktsegment) AS conc,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           rpad(c_mktsegment, 12, '.') AS rpadded,
           trim('  x' || c_mktsegment || 'x  ') AS trimmed,
           replace(c_name, 'Customer', 'Cust') AS repl,
           reverse(c_mktsegment) AS rev,
           split_part(c_name, '#', 2) AS part2,
           strpos(c_name, '#') AS pos_hash,
           md5(c_name) AS name_md5,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS transl,
           repeat(substr(c_mktsegment, 1, 2), 3) AS rep3,
           left(c_name, 4) AS l4, right(c_name, 3) AS r3,
           contains(c_name, '1') AS has1,
           starts_with(c_mktsegment, 'BU') AS is_bu,
           regexp_replace(c_name, '[0-9]+', 'N') AS digits_masked,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits
    FROM customer
    """,
    tags=("functions", "strings"),
)
def fn_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (varlena.c, oracle_compat.c, regexp.c)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("cust_fn")
    return spark.sql(
        """
        SELECT c_custkey,
               upper(c_name) AS up, lower(c_mktsegment) AS lo,
               substr(c_name, 1, 8) AS sub8,
               length(c_name) AS len,
               concat(c_name, '#', c_mktsegment) AS conc,
               lpad(CAST(c_custkey AS STRING), 8, '0') AS padded,
               rpad(c_mktsegment, 12, '.') AS rpadded,
               trim(concat('  x', c_mktsegment, 'x  ')) AS trimmed,
               replace(c_name, 'Customer', 'Cust') AS repl,
               reverse(c_mktsegment) AS rev,
               split_part(c_name, '#', 2) AS part2,
               instr(c_name, '#') AS pos_hash,
               md5(c_name) AS name_md5,
               translate(c_mktsegment, 'AEIOU', 'aeiou') AS transl,
               repeat(substr(c_mktsegment, 1, 2), 3) AS rep3,
               left(c_name, 4) AS l4, right(c_name, 3) AS r3,
               contains(c_name, '1') AS has1,
               startswith(c_mktsegment, 'BU') AS is_bu,
               regexp_replace(c_name, '[0-9]+', 'N') AS digits_masked,
               regexp_extract(c_name, '([0-9]+)', 1) AS digits
        FROM cust_fn
        """
    )


@register(
    "fn_math",
    oracle="""
    SELECT p_partkey,
           abs(p_retailprice - 1000) AS absdiff,
           CAST(ceil(p_retailprice) AS DOUBLE) AS c, CAST(floor(p_retailprice) AS DOUBLE) AS f,
           round(p_retailprice, 1) AS r1,
           CAST(sign(p_retailprice - 1200) AS DOUBLE) AS sgn,
           ROUND(sqrt(p_retailprice), 8) AS sq,
           ROUND(cbrt(p_retailprice), 8) AS cb,
           ROUND(exp(p_size / 25.0), 8) AS ex,
           ROUND(ln(p_retailprice), 10) AS lnp,
           ROUND(log10(p_retailprice), 10) AS lg,
           ROUND(power(p_size, 2.5), 6) AS pw,
           mod(p_partkey, 7) AS m7,
           greatest(p_size, 25) AS g25, least(p_size, 25) AS l25,
           ROUND(sin(p_size), 10) AS sn, ROUND(atan2(p_size, 10), 10) AS at2,
           CAST(p_size // 10 AS BIGINT) AS intdiv,
           pi() AS pival
    FROM part
    """,
    tags=("functions", "math"),
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family (float.c, int.c, numeric.c).

    Transcendentals rounded: libm results may differ in the final ulp
    across platforms; round(x, 8-10) removes that while keeping 8+
    significant checks."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part_fn")
    return spark.sql(
        """
        SELECT p_partkey,
               abs(p_retailprice - 1000) AS absdiff,
               CAST(ceil(p_retailprice) AS DOUBLE) AS c, CAST(floor(p_retailprice) AS DOUBLE) AS f,
               round(p_retailprice, 1) AS r1,
               CAST(sign(p_retailprice - 1200) AS DOUBLE) AS sgn,
               ROUND(sqrt(p_retailprice), 8) AS sq,
               ROUND(cbrt(p_retailprice), 8) AS cb,
               ROUND(exp(p_size / 25.0), 8) AS ex,
               ROUND(ln(p_retailprice), 10) AS lnp,
               ROUND(log10(p_retailprice), 10) AS lg,
               ROUND(power(p_size, 2.5), 6) AS pw,
               mod(p_partkey, 7) AS m7,
               greatest(p_size, 25) AS g25, least(p_size, 25) AS l25,
               ROUND(sin(p_size), 10) AS sn, ROUND(atan2(p_size, 10), 10) AS at2,
               CAST(p_size DIV 10 AS BIGINT) AS intdiv,
               pi() AS pival
        FROM part_fn
        """
    )


@register(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(date_trunc('year', o_orderdate) AS DATE) AS year_start,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dy,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow,
           CAST(EXTRACT(doy FROM o_orderdate) AS INT) AS doy,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day,
           strftime(o_orderdate, '%Y/%m') AS ym,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
           CAST(o_orderdate - INTERVAL 3 MONTH AS DATE) AS minus3m,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS eom,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95,
           make_date(2020, 6, least(CAST(EXTRACT(day FROM o_orderdate) AS INT), 28)) AS md
    FROM orders
    """,
    tags=("functions", "datetime"),
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family (timestamp.c, date.c, formatting.c to_char engine).

    PG dow: Sunday=0 — matches DuckDB dow and Spark dayofweek-1."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_fn")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
               CAST(date_trunc('year', o_orderdate) AS DATE) AS year_start,
               year(o_orderdate) AS yr,
               month(o_orderdate) AS mo,
               day(o_orderdate) AS dy,
               quarter(o_orderdate) AS qtr,
               dayofweek(o_orderdate) - 1 AS dow,
               dayofyear(o_orderdate) AS doy,
               date_format(o_orderdate, 'yyyy-MM-dd') AS iso_day,
               date_format(o_orderdate, 'yyyy/MM') AS ym,
               CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
               CAST(o_orderdate - INTERVAL 3 MONTH AS DATE) AS minus3m,
               last_day(CAST(o_orderdate AS DATE)) AS eom,
               datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS days_since_95,
               make_date(2020, 6, least(day(o_orderdate), 28)) AS md
        FROM ord_fn
        """
    )


@register(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 150000 THEN 'mid'
                ELSE 'low' END AS bucket,
           coalesce(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
           nullif(o_orderpriority, '4-NOT SPECIFIED') AS prio_or_null,
           CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 ELSE 0 END AS status_code,
           if(o_totalprice > 200000, 'big', 'small') AS size_flag
    FROM orders
    """,
    tags=("functions", "conditional"),
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE / COALESCE / NULLIF / IF (conditional family)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("ord_cond")
    return spark.sql(
        """
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 300000 THEN 'high'
                    WHEN o_totalprice > 150000 THEN 'mid'
                    ELSE 'low' END AS bucket,
               coalesce(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
               nullif(o_orderpriority, '4-NOT SPECIFIED') AS prio_or_null,
               CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 ELSE 0 END AS status_code,
               if(o_totalprice > 200000, 'big', 'small') AS size_flag
        FROM ord_cond
        """
    )


@register(
    "fn_casts",
    oracle="""
    SELECT l_orderkey,
           CAST(l_quantity AS BIGINT) AS qty_int,
           CAST(l_quantity AS VARCHAR) AS qty_str,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
           CAST(l_linenumber AS DOUBLE) AS line_dbl,
           CAST(l_shipdate AS DATE) AS ship_day,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_str,
           TRY_CAST(l_returnflag AS INT) AS bad_cast
    FROM lineitem
    """,
    tags=("functions", "casts"),
)
def fn_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix (parse_coerce.c): numeric↔string↔date + TRY_CAST."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_cast")
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(l_quantity AS BIGINT) AS qty_int,
               CAST(l_quantity AS STRING) AS qty_str,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS STRING) AS price_str,
               CAST(l_linenumber AS DOUBLE) AS line_dbl,
               CAST(l_shipdate AS DATE) AS ship_day,
               CAST(CAST(l_shipdate AS DATE) AS STRING) AS ship_str,
               TRY_CAST(l_returnflag AS INT) AS bad_cast
        FROM li_cast
        """
    )


@register(
    "fn_generate_series",
    oracle="""
    SELECT n, n * n AS sq
    FROM (SELECT unnest(generate_series(1, 50)) AS n) t
    """,
    tags=("functions", "srf"),
)
def fn_generate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_series SRF (ProjectSet, nodeProjectSet.c) → sequence+explode."""
    return spark.sql(
        "SELECT n, n * n AS sq FROM (SELECT explode(sequence(1, 50)) AS n)"
    ).select(F.col("n").cast("long").alias("n"), F.col("sq").cast("long").alias("sq"))


@register(
    "fn_arrays",
    oracle="""
    WITH a AS (
      SELECT n_regionkey, array_agg(n_name ORDER BY n_name) AS names
      FROM nation GROUP BY n_regionkey
    )
    SELECT n_regionkey,
           len(names) AS n_names,
           names[1] AS first_name,
           list_contains(names, 'NATION_3') AS has_n3,
           array_to_string(names, '|') AS joined,
           array_to_string(list_sort(list_distinct(names || ['NATION_0'])), ',') AS with_n0
    FROM a
    """,
    tags=("functions", "arrays"),
)
def fn_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family (arrayfuncs.c): length, index, contains, concat, distinct."""
    n = table(spark, sf_dir, "nation")
    a = n.groupBy("n_regionkey").agg(
        F.sort_array(F.collect_list("n_name")).alias("names")
    )
    return a.select(
        "n_regionkey",
        F.size("names").cast("long").alias("n_names"),
        F.col("names")[0].alias("first_name"),
        F.array_contains("names", "NATION_3").alias("has_n3"),
        F.array_join("names", "|").alias("joined"),
        F.sort_array(
            F.array_distinct(F.concat("names", F.array(F.lit("NATION_0"))))
        ).alias("with_n0"),
    )


@register(
    "fn_levenshtein",
    oracle="""
    SELECT a.n_name AS n1, b.n_name AS n2, levenshtein(a.n_name, b.n_name) AS dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 2
    """,
    tags=("functions", "fuzzy"),
)
def fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance (levenshtein.c) — fuzzy-match seed for dedup."""
    a = table(spark, sf_dir, "nation").alias("a")
    b = table(spark, sf_dir, "nation").alias("b")
    return (
        a.join(b, F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .select(
            F.col("a.n_name").alias("n1"),
            F.col("b.n_name").alias("n2"),
            F.levenshtein(F.col("a.n_name"), F.col("b.n_name")).alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


@register(
    "fn_width_bucket",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 0
                WHEN c_acctbal >= 10000 THEN 11
                ELSE CAST(FLOOR((c_acctbal - 0) / (10000 - 0) * 10) AS BIGINT) + 1
           END AS bucket, COUNT(*) AS n
    FROM customer GROUP BY 1
    """,
    tags=("functions", "math"),
)
def fn_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket histogram binning (PG numeric.c).

    DuckDB has no width_bucket — the oracle inlines PG's definition."""
    c = table(spark, sf_dir, "customer")
    return (
        c.select(
            F.width_bucket("c_acctbal", F.lit(0), F.lit(10000), F.lit(10)).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@register(
    "fn_strings_hash_format",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS h_md5,
           sha256(c_name) AS h_sha256,
           to_base64(encode(c_name)) AS b64,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
           substring(c_name, 1, 2) || 'XX' || substring(c_name, 5) AS ov,
           printf('%s:%d', c_mktsegment, c_custkey) AS fmt,
           CAST(CAST(c_acctbal AS DECIMAL(38,2)) AS VARCHAR) AS money_txt
    FROM customer
    WHERE c_custkey < 100
    ORDER BY c_custkey
    """,
    tags=("functions", "strings"),
)
def fn_strings_hash_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/encode/format string family (cryptohashes.c, encode.c,
    oracle_compat.c translate/overlay, varlena.c format, formatting.c
    to_char numeric shim)."""
    from warehouse_pg_spark.functions.pg import bind_functions

    money_txt = "to_char_num(c_acctbal, 'FM999999990.00')"
    bind_functions(spark, money_txt)
    cust = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return cust.select(
        "c_custkey",
        F.md5("c_name").alias("h_md5"),
        F.sha2(F.col("c_name"), 256).alias("h_sha256"),
        F.base64(F.col("c_name").cast("binary")).alias("b64"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("tr"),
        F.overlay(F.col("c_name"), F.lit("XX"), F.lit(3), F.lit(2)).alias("ov"),
        F.format_string("%s:%d", F.col("c_mktsegment"), F.col("c_custkey")).alias("fmt"),
        F.expr(money_txt).alias("money_txt"),
    ).orderBy("c_custkey")


@register(
    "fn_numeric_edge_semantics",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey // (l_linenumber + 1) AS idiv,
           (l_linenumber - 3) % 3 AS imod,
           round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS rnd_pos,
           round(-CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS rnd_neg,
           CAST(CASE WHEN l_discount - 0.04 >= 0 THEN floor((l_discount - 0.04) * 100)
                ELSE ceil((l_discount - 0.04) * 100) END AS BIGINT) AS trunc_signed,
           CAST(sign(l_linenumber - 3) AS INT) AS sgn,
           CAST(factorial(l_linenumber) AS BIGINT) AS fact
    FROM lineitem
    WHERE l_orderkey < 200
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("functions", "numeric"),
)
def fn_numeric_edge_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG numeric edge semantics (int.c, numeric.c; SURVEY §7.2):
    integer division truncates toward zero, modulo takes the dividend's
    sign, numeric round() breaks .5 ties away from zero (both signs),
    trunc() cuts toward zero, factorial on small ints — each verified
    value-for-value against the oracle."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    money = dec("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("l_orderkey div (l_linenumber + 1)").alias("idiv"),
        ((F.col("l_linenumber") - 3) % 3).alias("imod"),
        F.round(money, 1).alias("rnd_pos"),
        F.round(-money, 1).alias("rnd_neg"),
        F.when(
            F.col("l_discount") - 0.04 >= 0,
            F.floor((F.col("l_discount") - 0.04) * 100),
        )
        .otherwise(F.ceil((F.col("l_discount") - 0.04) * 100))
        .alias("trunc_signed"),
        F.signum(F.col("l_linenumber") - 3).cast("int").alias("sgn"),
        F.factorial(F.col("l_linenumber")).alias("fact"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "fn_regex_family",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)$', 1) AS tail_digits,
           CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) AS tail_num,
           regexp_replace(c_name, '0+', '-', 'g') AS squashed,
           array_to_string(string_split_regex(c_name, '#'), ',') AS parts,
           regexp_matches(c_name, '^Customer#0*[0-9]+$') AS well_formed,
           array_to_string(regexp_extract_all(translate(c_name, '#', '0'), '[0-9]+'), ',') AS runs
    FROM customer
    WHERE c_custkey < 300
    ORDER BY c_custkey
    """,
    tags=("functions", "regex"),
)
def fn_regex_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family (regexp.c: regexp_match/replace/split_to_array,
    like.c RLIKE): capture-group extract, global replace, regex split,
    anchored match, extract-all. Spark's regexp_replace is global by
    default — the oracle passes DuckDB the 'g' option to match PG's
    regexp_replace(..., 'g')."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)$", 1).alias("tail_digits"),
        F.regexp_extract("c_name", r"([0-9]+)$", 1).cast("bigint").alias("tail_num"),
        F.regexp_replace("c_name", "0+", "-").alias("squashed"),
        F.split("c_name", "#").alias("parts"),
        F.col("c_name").rlike("^Customer#0*[0-9]+$").alias("well_formed"),
        F.regexp_extract_all(
            F.translate("c_name", "#", "0"), F.lit("[0-9]+"), 0
        ).alias("runs"),
    ).orderBy("c_custkey")


@register(
    "fn_datetime_extended",
    oracle="""
    SELECT o_orderkey,
           CAST(extract(dow FROM CAST(o_orderdate AS DATE)) AS INT) AS dow,
           CAST(extract(doy FROM CAST(o_orderdate AS DATE)) AS INT) AS doy,
           CAST(extract(week FROM CAST(o_orderdate AS DATE)) AS INT) AS iso_week,
           CAST(extract(quarter FROM CAST(o_orderdate AS DATE)) AS INT) AS qtr,
           epoch_ms(o_orderdate) AS epoch_millis,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           dayname(CAST(o_orderdate AS DATE)) AS day_name,
           make_date(2024, CAST(extract(month FROM o_orderdate) AS INT), 1)
               AS normalized,
           (CAST(o_orderdate AS DATE) < DATE '1996-01-01'
            AND DATE '1995-01-01' < CAST(o_orderdate AS DATE) + 30)
               AS overlaps_1995h1
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
    tags=("functions", "datetime"),
)
def fn_datetime_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended date/time family (timestamp.c, date.c, datetime.c):
    EXTRACT fields (dow/doy/week/quarter/epoch), last_day,
    date_trunc-to-date, day names, make_date, and the SQL OVERLAPS
    predicate lowered to its defining comparison (s1 < e2 AND s2 < e1).
    PG dow is 0=Sunday; Spark dayofweek is 1=Sunday, so the lowering
    subtracts 1."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        (F.dayofweek(d) - 1).alias("dow"),
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("iso_week"),
        F.quarter(d).alias("qtr"),
        # fixture timestamps are NTZ; session tz is UTC so the LTZ cast
        # is the same instant DuckDB's naive epoch_ms sees
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
            "epoch_millis"
        ),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "month").alias("month_start"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.make_date(F.lit(2024), F.month(d), F.lit(1)).alias("normalized"),
        (
            (d < F.lit("1996-01-01").cast("date"))
            & (F.lit("1995-01-01").cast("date") < F.date_add(d, 30))
        ).alias("overlaps_1995h1"),
    ).orderBy("o_orderkey")


@register(
    "fn_interval_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
           CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus_45d,
           CAST(o_orderdate - INTERVAL 1 YEAR AS DATE) AS minus_1y,
           CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS DATE)
               AS next_month_start,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '1996-12-31')
               AS days_to_eoy96,
           (epoch_ms(TIMESTAMP '1996-12-31 00:00:00') - epoch_ms(o_orderdate))
               // 3600000 AS hours_to_eoy96
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
    tags=("functions", "datetime", "interval"),
)
def fn_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic (datetime.c, timestamp_pl_interval):
    date/timestamp +- month/day/year intervals, month rollover
    semantics (Jan 31 + 1 month = Feb 28 in both engines), day and
    hour differences. Month math via add_months (calendar-aware);
    day math via date_add/datediff (calendar-day exact)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.to_date("o_orderdate")
    eoy_ms = F.unix_millis(F.lit("1996-12-31 00:00:00").cast("timestamp"))
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).alias("plus_3mo"),
        F.date_add(d, 45).alias("plus_45d"),
        F.add_months(d, -12).alias("minus_1y"),
        F.add_months(F.trunc(d, "month"), 1).alias("next_month_start"),
        F.datediff(F.lit("1996-12-31").cast("date"), d).cast("long").alias(
            "days_to_eoy96"
        ),
        F.floor(
            (eoy_ms - F.unix_millis(F.col("o_orderdate").cast("timestamp")))
            / F.lit(3600000)
        ).alias("hours_to_eoy96"),
    ).orderBy("o_orderkey")


@register(
    "fn_bitwise",
    oracle="""
    SELECT c_custkey,
           c_custkey & 255 AS band,
           c_custkey | 4096 AS bor,
           xor(c_custkey, 170) AS bxor,
           c_custkey << 2 AS shl,
           c_custkey >> 3 AS shr,
           ~c_custkey AS bnot,
           bit_count(c_custkey) AS popcount
    FROM customer WHERE c_custkey < 500 ORDER BY c_custkey
    """,
    tags=("functions", "bitwise"),
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator family (PG int.c/int8.c: & | # << >> ~ plus
    bit_count). PG spells xor `#`; DuckDB spells it xor(); Spark `^`.
    All JVM-side Catalyst expressions, codegen'd."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    k = F.col("c_custkey")
    return c.select(
        "c_custkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.lit(170)).alias("bxor"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 3).alias("shr"),
        F.expr("~c_custkey").alias("bnot"),
        F.bit_count(k).alias("popcount"),
    ).orderBy("c_custkey")


@register(
    "fn_array_advanced",
    oracle="""
    WITH a AS (
      SELECT n_regionkey, array_agg(n_name ORDER BY n_name) AS names
      FROM nation GROUP BY n_regionkey
    )
    SELECT n_regionkey,
           array_to_string(names[2:4], ',') AS middle,
           CAST(list_position(names, 'NATION_3') AS INT) AS pos_n3,
           array_to_string(list_filter(names, x -> x <> 'NATION_0'), ',') AS removed,
           list_has_any(names, ['NATION_1', 'NATION_2']) AS overlaps_12,
           list_has_all(names, ['NATION_1', 'NATION_2']) AS contains_12,
           array_to_string(flatten([names[1:2], names[3:3]]), ',') AS reflattened,
           array_to_string(list_reverse(names), ',') AS rev
    FROM a
    """,
    tags=("functions", "arrays"),
)
def fn_array_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advanced array family (arrayfuncs.c): slicing (PG arr[2:4],
    1-based inclusive), array_position, array_remove, && overlap,
    @> containment, 2-D flatten, reverse. All Catalyst built-ins —
    arrays stay columnar, no Python."""
    n = table(spark, sf_dir, "nation")
    a = n.groupBy("n_regionkey").agg(
        F.sort_array(F.collect_list("n_name")).alias("names")
    )
    probe = F.array(F.lit("NATION_1"), F.lit("NATION_2"))
    return a.select(
        "n_regionkey",
        F.slice("names", 2, 3).alias("middle"),
        F.array_position("names", "NATION_3").cast("int").alias("pos_n3"),
        F.array_remove("names", "NATION_0").alias("removed"),
        F.arrays_overlap("names", probe).alias("overlaps_12"),
        F.forall(probe, lambda x: F.array_contains(F.col("names"), x)).alias(
            "contains_12"
        ),
        F.flatten(
            F.array(F.slice("names", 1, 2), F.slice("names", 3, 1))
        ).alias("reflattened"),
        F.reverse("names").alias("rev"),
    )


@register(
    "fn_generate_series_ts",
    oracle="""
    WITH months AS (
      SELECT CAST(g.m AS DATE) AS month_start
      FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-12-01',
                           INTERVAL 1 MONTH) AS g(m)
    )
    SELECT m.month_start, COUNT(o.o_orderkey) AS n_orders
    FROM months m
    LEFT JOIN orders o
      ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m.month_start
    GROUP BY m.month_start ORDER BY m.month_start
    """,
    tags=("functions", "srf", "datetime"),
)
def fn_generate_series_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_series(timestamp, timestamp, interval) (timestamp.c
    SRF) → sequence(date, date, interval) + explode, then the classic
    calendar-grid left join that keeps empty months (the gap-filling
    report shape). The 12-row series is broadcast — no shuffle on the
    orders side beyond the final group-by."""
    o = table(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-12-01").cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start")
    )
    per_order = o.select(F.trunc("o_orderdate", "month").alias("om"), "o_orderkey")
    return (
        months.join(
            per_order, per_order["om"] == months["month_start"], "left"
        )
        .groupBy("month_start")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("month_start")
    )


@register(
    "agg_percentile_multi",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_transform(quantile_cont(l_quantity, [0.25, 0.5, 0.75]),
                                          x -> round(x, 6)), ',') AS quartiles,
           array_to_string(list_transform(quantile_disc(l_quantity, [0.1, 0.9]),
                                          x -> round(x, 6)), ',') AS deciles_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "percentile", "orderedset"),
)
def agg_percentile_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_cont/disc with an ARRAY of fractions (PG
    orderedsetaggs.c:557 percentile_cont_multi_final) — one sort per
    group serves every requested quantile, exactly PG's multi-fraction
    path. Spark's percentile/percentile_approx accept fraction arrays
    natively."""
    li = table(spark, sf_dir, "lineitem")
    fracs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.transform(
                F.percentile("l_quantity", fracs), lambda x: F.round(x, 6)
            ).alias("quartiles"),
            F.transform(
                F.percentile_approx(
                    "l_quantity", F.array(F.lit(0.1), F.lit(0.9)), F.lit(2147483647)
                ),
                lambda x: F.round(x, 6),
            ).alias("deciles_disc"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "fn_trig_family",
    oracle="""
    SELECT n_nationkey,
           round(sin(CAST(n_nationkey AS DOUBLE) / 7), 10) AS sin_v,
           round(cos(CAST(n_nationkey AS DOUBLE) / 7), 10) AS cos_v,
           round(atan2(CAST(n_nationkey AS DOUBLE), 5.0), 10) AS atan2_v,
           round(degrees(CAST(n_nationkey AS DOUBLE) / 7), 10) AS deg_v,
           round(radians(CAST(n_nationkey AS DOUBLE)), 10) AS rad_v,
           round(pi(), 10) AS pi_v,
           round(cbrt(CAST(n_nationkey AS DOUBLE) + 1), 10) AS cbrt_v
    FROM nation ORDER BY n_nationkey
    """,
    tags=("functions", "math"),
)
def fn_trig_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric / angular family (float.c: sin, cos, atan2,
    degrees, radians, pi, cbrt). Results rounded to 10 decimals —
    JVM Math and C libm agree to well past that, and PG float8 display
    itself truncates at 15-17 significant digits."""
    n = table(spark, sf_dir, "nation")
    x = F.col("n_nationkey").cast("double")
    return n.select(
        "n_nationkey",
        F.round(F.sin(x / 7), 10).alias("sin_v"),
        F.round(F.cos(x / 7), 10).alias("cos_v"),
        F.round(F.atan2(x, F.lit(5.0)), 10).alias("atan2_v"),
        F.round(F.degrees(x / 7), 10).alias("deg_v"),
        F.round(F.radians(x), 10).alias("rad_v"),
        F.round(F.lit(3.141592653589793), 10).alias("pi_v"),
        F.round(F.cbrt(x + 1), 10).alias("cbrt_v"),
    ).orderBy("n_nationkey")


@register(
    "fn_to_char_formats",
    oracle=r"""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS iso_day,
           strftime(CAST(o_orderdate AS DATE), '%d %b %Y') AS pretty_day,
           upper(strftime(CAST(o_orderdate AS DATE), '%A')) AS dow_upper,
           CAST(EXTRACT(quarter FROM CAST(o_orderdate AS DATE)) AS VARCHAR)
               || strftime(CAST(o_orderdate AS DATE), '%m') AS q_tag,
           regexp_replace(printf('%.2f', CAST(o_totalprice AS DECIMAL(18,2))),
                          '(\.\d*?)0+$', '\1') AS price_fm,
           ' ' || format('{:,}', CAST(floor(o_totalprice) AS BIGINT)) || '.' ||
               printf('%02d', CAST(round((CAST(o_totalprice AS DECIMAL(18,2))
                   - floor(o_totalprice)) * 100) AS INT)) AS price_grouped,
           printf('%07d', o_orderkey) AS key_padded
    FROM orders WHERE o_orderkey < 200
    ORDER BY o_orderkey
    """,
    tags=("functions", "datetime", "formatting"),
)
def fn_to_char_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG to_char() format engine (utils/adt/formatting.c DCH_*/NUM_*
    keywords) — plan-time pattern translation to date_format /
    format_number concat segments (functions/to_char.py), pure Catalyst
    codegen. Exercises date codes (YYYY-MM-DD, DD Mon YYYY, DAY upper,
    literal passthrough), FM numeric pictures, comma grouping with the
    PG sign slot, and zero-padded integers."""
    from warehouse_pg_spark.functions.to_char import (
        to_char_datetime,
        to_char_numeric,
    )

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    d = F.col("o_orderdate")
    price = dec("o_totalprice")
    return o.select(
        "o_orderkey",
        to_char_datetime(d, "YYYY-MM-DD").alias("iso_day"),
        to_char_datetime(d, "DD Mon YYYY").alias("pretty_day"),
        to_char_datetime(d, "DAY").alias("dow_upper"),
        to_char_datetime(d, "QMM").alias("q_tag"),
        to_char_numeric(price, "FM9999999.99").alias("price_fm"),
        to_char_numeric(price, "9,999,999.99").alias("price_grouped"),
        to_char_numeric(F.col("o_orderkey"), "FM0000000").alias("key_padded"),
    ).orderBy("o_orderkey")


@register(
    "fn_format_family",
    oracle="""
    SELECT c_custkey,
           printf('%s has %d in segment %s',
                  c_name, CAST(c_custkey * 10 AS BIGINT), c_mktsegment) AS msg,
           printf('%08d', c_custkey) AS padded_key,
           printf('%.3f', CAST(c_acctbal AS DECIMAL(18,2))) AS bal3,
           array_to_string(string_split(c_name, '0'), '|') AS split_on_zero,
           concat_ws('/', c_mktsegment, NULL, c_name) AS ws_joined,
           CAST((c_name IS NOT NULL) AS INT)
             + CAST((NULLIF(c_mktsegment, 'BUILDING') IS NOT NULL) AS INT)
             AS n_nonnulls
    FROM customer WHERE c_custkey < 250
    ORDER BY c_custkey
    """,
    tags=("functions", "strings", "formatting"),
)
def fn_format_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG format()/printf-style string composition (varlena.c
    text_format), zero-padding, fixed decimals, string_to_array round
    trip (with empty-element preservation), NULL-skipping concat_ws,
    and num_nonnulls-style counting — all Catalyst built-ins."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 250)
    return c.select(
        "c_custkey",
        F.format_string(
            "%s has %d in segment %s",
            F.col("c_name"),
            (F.col("c_custkey") * 10).cast("bigint"),
            F.col("c_mktsegment"),
        ).alias("msg"),
        F.format_string("%08d", F.col("c_custkey")).alias("padded_key"),
        F.format_string("%.3f", dec("c_acctbal").cast("double")).alias("bal3"),
        F.array_join(F.split("c_name", "0"), "|").alias("split_on_zero"),
        F.concat_ws("/", "c_mktsegment", F.lit(None), "c_name").alias("ws_joined"),
        (
            F.col("c_name").isNotNull().cast("int")
            + F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
            .isNotNull()
            .cast("int")
        ).alias("n_nonnulls"),
    ).orderBy("c_custkey")


@register(
    "fn_encode_family",
    oracle="""
    SELECT c_custkey,
           to_base64(encode(c_name)) AS b64,
           hex(c_name) AS hexed,
           sha256(c_name) AS sha,
           md5(c_name) AS md,
           CAST(octet_length(encode(c_name)) AS BIGINT) AS n_bytes
    FROM customer WHERE c_custkey < 200
    ORDER BY c_custkey
    """,
    tags=("functions", "encode", "hash"),
)
def fn_encode_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encode/digest family (encode.c, utils/adt/varlena.c
    byteaout; pgcrypto digest): base64/hex encodings and SHA-256/MD5
    digests over UTF-8 bytes, plus octet_length — the content-addressing
    primitives the dedup operators build on."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    return c.select(
        "c_custkey",
        F.base64(F.col("c_name").cast("binary")).alias("b64"),
        F.hex(F.col("c_name")).alias("hexed"),
        F.lower(F.sha2(F.col("c_name"), 256)).alias("sha"),
        F.md5("c_name").alias("md"),
        F.octet_length("c_name").cast("long").alias("n_bytes"),
    ).orderBy("c_custkey")


@register(
    "fn_array_replace",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list_transform(
             string_split(n_name, 'A'),
             x -> CASE WHEN x = '' THEN '_' ELSE x END
           ), '|') AS parts
    FROM nation ORDER BY n_nationkey
    """,
    tags=("functions", "arrays"),
)
def fn_array_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG array_replace (arrayfuncs.c array_replace): split each nation
    name on 'A' and replace empty fragments — transform() lambda, fully
    codegen'd, no UDF. LIST output stringified on both sides (parity
    channel convention)."""
    from warehouse_pg_spark.functions.pg import array_replace

    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.array_join(
            array_replace(F.split("n_name", "A"), "", "_"), "|"
        ).alias("parts"),
    ).orderBy("n_nationkey")
