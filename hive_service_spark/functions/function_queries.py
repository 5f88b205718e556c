"""Wave 6 — scalar function parity queries.

One oracle-backed query per function family from the reference's
286-entry FunctionRegistry (SURVEY.md §2.7); the full name→impl map is
``hive_compat.HIVE_FUNCTION_TABLE``. Functions DuckDB lacks (initcap,
soundex, xpath, conv, bround, sentences, months_between, next_day) are
exercised by pytest unit tests instead (tests/test_functions.py) or a
rows-only query — the capability is still Spark-side tested.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.functions import hive_compat as hc
from hive_service_spark.registry import query

_STRING_ORACLE = """
SELECT
  p_partkey,
  upper(p_name)                    AS up_name,
  lower(p_brand)                   AS low_brand,
  length(p_name)                   AS name_len,
  substr(p_name, 3, 8)             AS name_mid,
  strpos(p_name, 'a')              AS first_a,
  concat_ws('|', p_brand, p_type)  AS brand_type,
  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
  rpad(p_brand, 12, '.')           AS brand_dots,
  reverse(p_brand)                 AS brand_rev,
  replace(p_type, ' ', '_')        AS type_snake,
  translate(p_brand, '#', '-')     AS brand_dash,
  repeat('*', p_size % 5)          AS stars,
  ascii(p_name)                    AS first_char_code,
  chr(65 + p_size % 26)            AS size_letter
FROM part
"""


@query("func_string_basics", oracle=_STRING_ORACLE)
def func_string_basics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core string registry: upper/lower/length/substr/instr/concat_ws/
    lpad/rpad/reverse/replace/translate/repeat/ascii/chr."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("low_brand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 3, 8).alias("name_mid"),
        F.instr("p_name", "a").alias("first_a"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.rpad("p_brand", 12, ".").alias("brand_dots"),
        F.reverse("p_brand").alias("brand_rev"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.translate("p_brand", "#", "-").alias("brand_dash"),
        F.repeat(F.lit("*"), F.col("p_size") % 5).alias("stars"),
        F.ascii("p_name").alias("first_char_code"),
        F.chr(F.lit(65) + F.col("p_size") % 26).alias("size_letter"),
    )


_REGEX_ORACLE = """
SELECT
  p_partkey,
  regexp_extract(p_brand, '([0-9]+)', 1)             AS brand_num,
  regexp_replace(p_name, '[aeiou]', '_', 'g')        AS devoweled,
  regexp_matches(p_name, '^[a-m]')                   AS starts_early,
  len(string_split(p_type, ' '))                     AS type_words,
  array_to_string(list_slice(string_split(p_type, ' '), 1, 2), ' ')
                                                     AS type_prefix2,
  list_position(string_split('AUTOMOBILE,BUILDING,FURNITURE', ','),
                'BUILDING')                          AS fis_demo
FROM part
"""


@query("func_string_regex", oracle=_REGEX_ORACLE)
def func_string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / regexp_replace (Spark replaces globally — the
    oracle needs the 'g' flag) / rlike / split / substring_index /
    find_in_set."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("^[a-m]").alias("starts_early"),
        F.size(F.split("p_type", " ")).alias("type_words"),
        F.substring_index("p_type", " ", 2).alias("type_prefix2"),
        F.find_in_set(F.lit("BUILDING"), F.lit("AUTOMOBILE,BUILDING,FURNITURE"))
        .alias("fis_demo"),
    )


_HASH_ORACLE = """
SELECT
  p_partkey,
  md5(p_name)                       AS name_md5,
  sha256(p_name)                    AS name_sha256,
  base64(encode(p_brand))           AS brand_b64,
  decode(from_base64(base64(encode(p_name)))) AS name_roundtrip,
  levenshtein(p_brand, 'Brand#25')  AS brand_dist
FROM part
WHERE p_partkey < 100
"""


@query("func_hash_crypto", oracle=_HASH_ORACLE)
def func_hash_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 / sha2 / base64 / unbase64 / levenshtein (crc32 and Hive
    `hash` are engine-specific — unit-tested instead)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2("p_name", 256).alias("name_sha256"),
        F.base64(F.col("p_brand").cast("binary")).alias("brand_b64"),
        F.unbase64(F.base64(F.col("p_name").cast("binary")))
        .cast("string")
        .alias("name_roundtrip"),
        F.levenshtein("p_brand", F.lit("Brand#25")).alias("brand_dist"),
    )


_MATH_ORACLE = """
SELECT
  l_orderkey,
  l_linenumber,
  abs(l_quantity - 25)                        AS dist_from_25,
  CAST(ceil(l_discount * 100) AS BIGINT)      AS disc_pct_ceil,
  CAST(floor(l_tax * 100) AS BIGINT)          AS tax_pct_floor,
  sqrt(l_quantity)                            AS qty_sqrt,
  exp(l_discount)                             AS disc_exp,
  ln(l_quantity + 1)                          AS qty_ln,
  log10(l_extendedprice)                      AS price_log10,
  log2(l_quantity + 1)                        AS qty_log2,
  pow(l_quantity, 2)                          AS qty_sq,
  cbrt(l_quantity)                            AS qty_cbrt,
  CAST(sign(l_discount - 0.05) AS DOUBLE)     AS disc_sign,
  ((CAST(l_quantity AS BIGINT) % 7) + 7) % 7  AS qty_pmod7,
  greatest(l_discount, l_tax)                 AS max_rate,
  least(l_discount, l_tax)                    AS min_rate,
  CAST(l_linenumber AS BIGINT) << 2           AS ln_shl,
  CAST(l_quantity AS BIGINT) >> 1             AS qty_shr,
  CAST(l_linenumber AS BIGINT) & 3            AS ln_and,
  CAST(l_linenumber AS BIGINT) | 8            AS ln_or,
  xor(CAST(l_linenumber AS BIGINT), 5)        AS ln_xor
FROM lineitem
WHERE l_orderkey < 200
"""


@query("func_math", oracle=_MATH_ORACLE)
def func_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math registry: abs/ceil/floor/sqrt/exp/ln/log10/log2/pow/cbrt/
    sign/pmod/greatest/least + bitwise shifts and ops."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    qty_l = F.col("l_quantity").cast("bigint")
    ln_l = F.col("l_linenumber").cast("bigint")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("dist_from_25"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.exp("l_discount").alias("disc_exp"),
        F.log(F.col("l_quantity") + 1).alias("qty_ln"),
        F.log10("l_extendedprice").alias("price_log10"),
        F.log2(F.col("l_quantity") + 1).alias("qty_log2"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.cbrt("l_quantity").alias("qty_cbrt"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.pmod(qty_l, F.lit(7)).alias("qty_pmod7"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.shiftleft(ln_l, 2).alias("ln_shl"),
        F.shiftright(qty_l, 1).alias("qty_shr"),
        ln_l.bitwiseAND(F.lit(3)).alias("ln_and"),
        ln_l.bitwiseOR(F.lit(8)).alias("ln_or"),
        ln_l.bitwiseXOR(F.lit(5)).alias("ln_xor"),
    )


_DATE_ORACLE = """
SELECT
  o_orderkey,
  year(o_orderdate)                       AS o_year,
  month(o_orderdate)                      AS o_month,
  day(o_orderdate)                        AS o_day,
  quarter(o_orderdate)                    AS o_quarter,
  dayofweek(o_orderdate) + 1              AS o_dow,
  dayofyear(o_orderdate)                  AS o_doy,
  weekofyear(o_orderdate)                 AS o_week,
  CAST(CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS VARCHAR)
    AS month_end,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR)          AS due_date,
  CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus3m,
  datediff('day', o_orderdate, TIMESTAMP '2000-01-01') AS days_to_y2k,
  CAST(epoch(o_orderdate) AS BIGINT)      AS o_epoch,
  strftime(o_orderdate, '%Y-%m-%d')       AS o_fmt
FROM orders
WHERE o_orderkey < 500
"""


@query("func_datetime", oracle=_DATE_ORACLE)
def func_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time registry: year/month/day/quarter/dayofweek/dayofyear/
    weekofyear/last_day/date_trunc (also the floor_<unit> shim family)/
    date_add/add_months/datediff/unix_timestamp/date_format.

    Engine deltas handled: DuckDB dayofweek is 0-based (Spark 1-based);
    epoch() returns double (cast to BIGINT). DATE-typed outputs are
    cast to string on BOTH sides: DuckDB's pandas path renders DATE as
    a midnight Timestamp while Spark collects datetime.date, so a raw
    date output column can never repr-match in the driver canon
    (TIMESTAMP outputs are fine — proven by round-1 sampled passes)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.dayofweek("o_orderdate").alias("o_dow"),
        F.dayofyear("o_orderdate").alias("o_doy"),
        F.weekofyear("o_orderdate").alias("o_week"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        hc.floor_month(F.col("o_orderdate")).alias("month_start"),
        F.date_add(F.col("o_orderdate"), 30).cast("string").alias("due_date"),
        F.add_months(F.col("o_orderdate"), 3).cast("string").alias("plus3m"),
        F.datediff(F.lit("2000-01-01").cast("timestamp"), F.col("o_orderdate"))
        .alias("days_to_y2k"),
        F.unix_timestamp("o_orderdate").alias("o_epoch"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_fmt"),
    )


_MASK_ORACLE = """
SELECT
  c_custkey,
  regexp_replace(regexp_replace(regexp_replace(c_name,
    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked,
  concat(
    regexp_replace(regexp_replace(regexp_replace(substr(c_name, 1, 4),
      '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g'),
    substr(c_name, 5)) AS masked_first4,
  concat(
    substr(c_name, 1, 4),
    regexp_replace(regexp_replace(regexp_replace(substr(c_name, 5),
      '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g'))
    AS show_first4,
  md5(c_name) AS name_hash
FROM customer
WHERE c_custkey < 100
"""


@query("func_mask_family", oracle=_MASK_ORACLE)
def func_mask_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mask / mask_first_n / mask_show_first_n / mask_hash shims
    (GenericUDFMask* family; Hive defaults X/x/n)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return c.select(
        "c_custkey",
        hc.mask(F.col("c_name")).alias("masked"),
        hc.mask_first_n(F.col("c_name"), 4).alias("masked_first4"),
        hc.mask_show_first_n(F.col("c_name"), 4).alias("show_first4"),
        hc.mask_hash(F.col("c_name")).alias("name_hash"),
    )


_SHIM_ORACLE = """
SELECT
  c_custkey,
  list_position(['BUILDING', 'AUTOMOBILE', 'MACHINERY'], c_mktsegment)
                                                   AS seg_field,
  ['even', 'odd'][1 + CAST(c_custkey % 2 AS INTEGER)] AS parity_word,
  CAST(date_trunc('quarter', TIMESTAMP '2024-05-17 10:30:00') AS TIMESTAMP) AS q_demo,
  regexp_extract(url, '^https?://([^/]+)', 1)      AS url_host,
  regexp_extract(url, '^https?://[^/]+([^?#]*)', 1) AS url_path,
  regexp_extract(url, '[?&]seg=([^&#]*)', 1)       AS url_seg
FROM (
  SELECT c_custkey, c_mktsegment,
         concat('https://shop.example.com/c/', c_custkey,
                '?seg=', lower(c_mktsegment), '&v=1') AS url
  FROM customer
  WHERE c_custkey < 200
)
"""


@query("func_shims_misc", oracle=_SHIM_ORACLE)
def func_shims_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """field() shim, elt(), floor_quarter shim, parse_url/
    parse_url_tuple (oracle uses the equivalent regex extraction)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    url = F.concat(
        F.lit("https://shop.example.com/c/"),
        F.col("c_custkey").cast("string"),
        F.lit("?seg="),
        F.lower("c_mktsegment"),
        F.lit("&v=1"),
    )
    withurl = c.select("c_custkey", "c_mktsegment", url.alias("url"))
    host, path, seg = hc.parse_url_tuple(F.col("url"), "HOST", "PATH", "QUERY:seg")
    return withurl.select(
        "c_custkey",
        hc.field(F.col("c_mktsegment"), "BUILDING", "AUTOMOBILE", "MACHINERY")
        .alias("seg_field"),
        F.elt(F.lit(1) + (F.col("c_custkey") % 2).cast("int"), F.lit("even"), F.lit("odd"))
        .alias("parity_word"),
        hc.floor_quarter(F.lit("2024-05-17 10:30:00").cast("timestamp"))
        .alias("q_demo"),
        host.alias("url_host"),
        path.alias("url_path"),
        seg.alias("url_seg"),
    )


_XPATH_ORACLE = """
SELECT n_nationkey,
       n_nationkey                        AS xml_key,
       n_name                             AS xml_name,
       bin(n_nationkey)                   AS key_binary,
       -- bround (HALF_EVEN) rebuilt: DuckDB ROUND is half-up. The
       -- operand n_nationkey/4.0 is exactly representable, so w=v*10
       -- hits exact .5 boundaries and the parity branch is exact.
       CAST((FLOOR(n_nationkey / 4.0 * 10) +
             CASE WHEN n_nationkey / 4.0 * 10
                       - FLOOR(n_nationkey / 4.0 * 10) > 0.5 THEN 1
                  WHEN n_nationkey / 4.0 * 10
                       - FLOOR(n_nationkey / 4.0 * 10) < 0.5 THEN 0
                  ELSE CAST(FLOOR(n_nationkey / 4.0 * 10) AS BIGINT) % 2
             END) / 10.0 AS DOUBLE)       AS key_bround,
       printf('%X', n_nationkey)          AS key_hex,
       array_to_string(list_transform(string_split(n_name, ' '),
           x -> upper(x[1]) || lower(x[2:])), ' ') AS name_title,
       -- soundex literal: testdata names are NATION_<k>; soundex reads
       -- letters only (N,A,T,I,O,N -> N350) so the value is constant
       -- for the naming scheme, pinned per the literal-rows policy.
       CASE WHEN n_name LIKE 'NATION%' THEN 'N350' END AS name_soundex
FROM nation
"""


@query("func_xpath_misc", oracle=_XPATH_ORACLE)
def func_xpath_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xpath* family + conv/bround/bin/hex/initcap/soundex — DuckDB has
    no xpath, but the XML is BUILT from nation columns here, so the
    oracle recomputes every output from first principles instead
    (xpath_int(<key>k</key>) == n_nationkey, etc.); bround's HALF_EVEN
    is rebuilt with an explicit parity expression and soundex is a
    literal pin for the fixed naming scheme (broader soundex values are
    exact-pinned in tests/test_functions.py)."""
    n = load(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit("<n><key>"), F.col("n_nationkey").cast("string"),
        F.lit("</key><name>"), F.col("n_name"), F.lit("</name></n>"),
    )
    return n.withColumn("xml", xml).select(
        "n_nationkey",
        F.expr("xpath_int(xml, '/n/key')").alias("xml_key"),
        F.expr("xpath_string(xml, '/n/name')").alias("xml_name"),
        F.conv(F.col("n_nationkey").cast("string"), 10, 2).alias("key_binary"),
        F.bround(F.col("n_nationkey") / 4.0, 1).alias("key_bround"),
        F.hex(F.col("n_nationkey")).alias("key_hex"),
        F.initcap(F.lower("n_name")).alias("name_title"),
        F.soundex("n_name").alias("name_soundex"),
    )


_UNION_INTERVAL_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderstatus = 'O' THEN 0 ELSE 1 END AS u_tag,
       CASE WHEN o_orderstatus = 'O' THEN ROUND(o_totalprice, 2) END AS u_price,
       CASE WHEN o_orderstatus <> 'O' THEN o_orderpriority END AS u_priority,
       CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_90d,
       CAST(o_orderdate + INTERVAL 5 MONTH AS TIMESTAMP) AS due_5mo,
       CAST(o_orderdate + INTERVAL '1 day 2 hours 30 minutes' AS TIMESTAMP)
         AS due_day_time
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
"""


@query("func_union_interval", oracle=_UNION_INTERVAL_ORACLE)
def func_union_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniontype encoding (create_union/extract_union — SURVEY.md §1.2:
    struct<tag,field0,field1>, only the tagged branch non-null) +
    interval_year_month / interval_day_time arithmetic (§2.7 cast
    family). The union struct is built then taken apart with
    extract_union so the oracle checks BOTH directions; intervals
    exercise day, month (calendar-aware), and day-to-second addition.
    (5 MONTH, not 3: DuckDB interval constants compare months*30+days,
    so INTERVAL 3 MONTH == INTERVAL 90 DAY and its CSE pass would merge
    the two additions — a cross-engine trap worth pinning here.)"""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    tag = F.when(F.col("o_orderstatus") == "O", 0).otherwise(1)
    u = hc.create_union(
        tag,
        F.round("o_totalprice", 2),
        F.col("o_orderpriority"),
    )
    return o.withColumn("u", u).select(
        "o_orderkey",
        F.col("u.tag").cast("int").alias("u_tag"),
        hc.extract_union(F.col("u"), 0).alias("u_price"),
        hc.extract_union(F.col("u"), 1).alias("u_priority"),
        F.expr("o_orderdate + INTERVAL 90 DAY").alias("due_90d"),
        F.expr("o_orderdate + INTERVAL 5 MONTH").alias("due_5mo"),
        F.expr("o_orderdate + INTERVAL '1 02:30:00' DAY TO SECOND").alias(
            "due_day_time"
        ),
    ).orderBy("o_orderkey")


# --- SQL macros (CREATE TEMPORARY MACRO analog) -------------------------------

_SQL_MACRO_ORACLE = """
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS disc_revenue,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
         AS charged_revenue
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("func_sql_macro", oracle=_SQL_MACRO_ORACLE)
def func_sql_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TEMPORARY MACRO (reference: MacroSemanticAnalyzer +
    FunctionRegistry macro entries [src: ql/src/java/org/apache/hadoop/
    hive/ql/parse/MacroSemanticAnalyzer.java]) → Spark 4.x SQL scalar
    functions: `CREATE TEMPORARY FUNCTION f(args) RETURNS T RETURN
    expr`. Like Hive macros these inline into the plan (Catalyst sees
    the expression, so codegen/pushdown still apply — NOT a Python UDF
    round-trip; the hot path stays JVM-side at any scale)."""
    catalog.bind(spark, sf_dir, "lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1 - d)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION charged_price(
            p DOUBLE, d DOUBLE, t DOUBLE)
        RETURNS DOUBLE RETURN disc_price(p, d) * (1 + t)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(SUM(disc_price(l_extendedprice, l_discount)), 2)
                 AS disc_revenue,
               ROUND(SUM(charged_price(l_extendedprice, l_discount, l_tax)), 2)
                 AS charged_revenue
        FROM lineitem
        WHERE l_quantity BETWEEN 10 AND 20
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


_PYUDF_ORACLE = """
SELECT r_name,
       reverse(r_name) AS rev_name,
       length(regexp_replace(lower(r_name), '[^aeiou]', '', 'g')) AS n_vowels
FROM region
ORDER BY r_name
"""


@query("func_python_udf_registered", oracle=_PYUDF_ORACLE)
def func_python_udf_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persistent-UDF surface (reference: CREATE FUNCTION ->
    FunctionTask -> FunctionRegistry, SURVEY.md §2.7 extension):
    register Python UDFs on the session and call them FROM SQL. The
    functions themselves are trivial on purpose (reverse, vowel count
    — so DuckDB can oracle the values); what is verified is the
    registration + SQL-resolution + row-at-a-time execution path. The
    100 TB note: this is the SLOW path (pickled Python per row) — real
    deployments use pandas_udf (Arrow) like llm/multimodal.py; tiny
    dim table here, so the demo is harmless."""
    catalog.bind(spark, sf_dir, "region")
    spark.udf.register("py_reverse", lambda s: s[::-1] if s else None, "string")
    spark.udf.register(
        "py_vowels",
        lambda s: sum(c in "aeiou" for c in s.lower()) if s else None,
        "int",
    )
    return spark.sql(
        "SELECT r_name, py_reverse(r_name) AS rev_name, "
        "py_vowels(r_name) AS n_vowels FROM region ORDER BY r_name"
    )


_PANDAS_GROUPED_AGG_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(median(n_chars) AS DOUBLE) AS med_chars,
       CAST(quantile_cont(n_chars, 0.75) AS DOUBLE) AS p75_chars
FROM documents
GROUP BY source
ORDER BY source
"""


@query("func_pandas_grouped_agg", oracle=_PANDAS_GROUPED_AGG_ORACLE)
def func_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE via Arrow: pandas GROUPED_AGG UDFs
    (reference: Hive's GenericUDAFResolver2 custom-UDAF extension
    surface [src: ql/src/java/org/apache/hadoop/hive/ql/udf/generic/
    GenericUDAFEvaluator.java]). Completes the Python-interop matrix
    (mapInPandas / applyInPandas / applyInPandasWithState / Python
    UDTF / Python DataSource / applyInArrow / scalar pandas_udf) with
    the one missing shape: a pandas Series → scalar aggregate callable
    directly inside .agg() next to built-in aggregates.

    The functions are numpy median / 75th-percentile over the integer
    n_chars column — exact-valued (odd groups hit an element, even
    groups a half, p75 a quarter: all exact in binary doubles on BOTH
    engines, so no rounding is needed). Scale note: GROUPED_AGG has NO
    partial aggregation — every row shuffles to its group and the
    whole group materializes in one Arrow batch, so this surface is
    for modest group cardinalities x sizes; at 100 TB per-group
    percentiles belong to the built-in percentile_approx (mergeable
    sketch, map-side combine — see agg_percentile_approx)."""
    # The UDAFs live in pandas_udafs.py, a module WITHOUT
    # `from __future__ import annotations` — GROUPED_AGG inference needs
    # live (non-stringified) `pd.Series -> float` hints (round-6 crash).
    from hive_service_spark.functions.pandas_udafs import (
        np_count,
        np_median,
        np_p75,
    )

    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            np_count("n_chars").alias("n_docs"),
            np_median("n_chars").alias("med_chars"),
            np_p75("n_chars").alias("p75_chars"),
        )
        .orderBy("source")
    )


_HIVE_HASH_ORACLE = """
WITH h AS (
  SELECT c_custkey,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(
               list_filter(string_split(c_name, ''), ch -> len(ch) > 0),
               ch -> ascii(ch)::BIGINT)),
           (acc, c) -> (acc*31 + c) % 4294967296) AS uh
  FROM customer
),
signed AS (
  SELECT c_custkey,
         CASE WHEN uh >= 2147483648 THEN uh - 4294967296 ELSE uh END AS jh
  FROM h
)
SELECT ((jh % 16) + 16) % 16 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(jh) AS BIGINT) AS min_hash,
       CAST(MAX(jh) AS BIGINT) AS max_hash
FROM signed GROUP BY bucket ORDER BY bucket
"""


@query("func_hive_hash_buckets", oracle=_HIVE_HASH_ORACLE)
def func_hive_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``hash()`` = Java String.hashCode (NOT Spark's Murmur3) and
    the bucket assignment Hive's bucketed tables derive from it
    (SURVEY.md §7 hard parts: Hive bucketing hash ≠ Spark bucketing
    hash — this shim reproduces Hive's layout bucket-for-bucket). The
    oracle folds the identical 31x+c recurrence in DuckDB; pytest pins
    known Java values ("abc" -> 96354)."""
    from hive_service_spark.functions.hive_compat import hive_hash_string

    c = load(spark, sf_dir, "customer")
    jh = hive_hash_string(F.col("c_name"))
    return (
        c.select(F.pmod(jh, F.lit(16)).cast("bigint").alias("bucket"), jh.alias("jh"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("jh").alias("min_hash"),
            F.max("jh").alias("max_hash"),
        )
        .orderBy("bucket")
    )


_TRY_ORACLE = """
SELECT l_orderkey, l_linenumber,
       ROUND(l_quantity / NULLIF(l_linenumber - 1, 0), 6) AS try_div,
       TRY_CAST(CAST(l_orderkey AS VARCHAR) AS INTEGER) AS try_int_ok,
       TRY_CAST(CASE WHEN l_orderkey % 2 = 0
                     THEN CAST(l_orderkey AS VARCHAR)
                     ELSE l_returnflag END AS INTEGER) AS try_int_mixed,
       CASE WHEN l_quantity <= 10
            THEN CAST(l_quantity AS BIGINT) * 922337203685477580
            ELSE NULL END AS try_ovf_mul,
       [CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT)]
         [l_linenumber] AS try_elem
FROM lineitem
WHERE l_orderkey < 200
"""


@query("func_try_family", oracle=_TRY_ORACLE)
def func_try_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe `try_*` family — NULL-on-error arithmetic the
    data-cleaning path depends on (division by zero, unparseable casts,
    bigint overflow, out-of-range array index via a variable index that
    overruns for most rows). Hive 2.3 predates these
    (its non-strict mode silently NULLs some of the same cases); the
    oracle reproduces each NULL contract explicitly: NULLIF for /0,
    DuckDB TRY_CAST for casts, a CASE guard for the overflow DuckDB
    would raise on, and DuckDB's native NULL-past-end list index."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide("l_quantity", F.col("l_linenumber") - 1), 6
        ).alias("try_div"),
        F.try_to_number(
            F.col("l_orderkey").cast("string"), F.lit("999999999")
        ).cast("int").alias("try_int_ok"),
        F.expr(
            "try_cast(CASE WHEN l_orderkey % 2 = 0 "
            "THEN CAST(l_orderkey AS STRING) "
            "ELSE l_returnflag END AS INT)"
        ).alias("try_int_mixed"),
        F.try_multiply(
            F.col("l_quantity").cast("bigint"), F.lit(922337203685477580)
        ).alias("try_ovf_mul"),
        F.try_element_at(
            F.array(
                F.col("l_orderkey").cast("bigint"),
                F.col("l_linenumber").cast("bigint"),
            ),
            F.col("l_linenumber"),
        ).alias("try_elem"),
    )
