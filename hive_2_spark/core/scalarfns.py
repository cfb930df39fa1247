"""Scalar function surface (SURVEY.md §2A ops 21-25, §2B op 40).

Reference parity (citations into the reference source):
- type-cast on ingest: classes/hive/model.php:297 + classes/hive/field/*.php
  (every __set normalizes through field->value()).
- timestamp parse/format: classes/hive/field/timestamp.php:30-45
  (strtotime on input, date($format) on output).
- number display formatting: classes/hive/field/float.php:33-43.
- boolean verbose map: classes/hive/field/boolean.php:28-33.
- row -> JSON: classes/hive/model.php:392-395, 470-473 (as_json()).
- default-value materialization: classes/hive/model.php:343-364, 612-634.

Breadth beyond the reference: padding/case/reverse/translate/edit-distance
for strings; month arithmetic and week/day-of-year for dates; hashing;
map-typed columns; ANSI-safe ``try_`` variants; arrays with lambdas;
VARIANT; binary/URL/from_json.

Everything is a JVM-side built-in (whole-stage codegen) — no Python in
the row path. Outputs stay in hash-stable types. Float-returning
transcendentals (log/exp) are excluded from oracle-hashed outputs because
libm last-ulp behavior is engine-specific; sqrt IS included (IEEE-754
requires correct rounding, so it is bit-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table


def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/trim/substring/length/concat/replace/regexp_extract."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
    )


def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day/quarter/dayofweek/date_trunc/date_add/datediff/last_day."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("due_date"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).alias(
            "days_to_2002"
        ),
    )


def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/ceil/floor/round/sqrt/mod/sign/power — bit-exact subset only."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc_delta"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
    )


def fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif / greatest / least."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("(dflt)")).alias(
            "seg_or_default"
        ),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_cap1k"),
    )


def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split/array size/element access/contains over derived arrays."""
    p = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_type"), " ")
    return p.select(
        "p_partkey",
        F.size(words).alias("n_words"),
        F.element_at(words, 1).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.array_contains(words, "BRASS").alias("has_brass"),
    )


def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating function: one row per word of p_type (UNNEST)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey", F.explode(F.split(F.col("p_type"), " ")).alias("word")
    )


# ---------------------------------------------------------- Layer-A ops
def cast_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 21: field->value() typing boundary — explicit casts at ingest."""
    li = load_table(spark, sf_dir, "lineitem")
    # Final outputs stay in hash-stable types (bigint/string/double/timestamp):
    # DATE and DECIMAL round-trip through the cast but are re-widened so both
    # engines' pandas/Arrow renderings agree cell-for-cell.
    return li.select(
        F.col("l_linenumber").cast("bigint").alias("linenumber_i64"),
        F.col("l_orderkey").cast("string").alias("orderkey_str"),
        F.col("l_shipdate").cast("date").cast("timestamp").alias("ship_day"),
        F.col("l_quantity").cast("decimal(12,2)").cast("double").alias("qty_dec"),
    )


def ts_parse_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 22: strtotime-in / date($format)-out — parse + format roundtrip."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("iso_full"),
        F.to_timestamp(F.date_format("o_orderdate", "yyyy-MM-dd")).alias(
            "reparsed"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


def num_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 23: float decimals display formatting (Hive_Field_Float)."""
    c = load_table(spark, sf_dir, "customer")
    # printf-style (no thousands separator): DuckDB's format() refuses
    # thousand separators on floats, so both sides use %.2f. The display
    # path with separators (format_number) lives in the model layer.
    return c.select(
        "c_custkey",
        F.format_string("%.2f", F.col("c_acctbal")).alias("bal_disp"),
    )


def bool_verbose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 24: TRUE/FALSE -> 'Yes'/'No' verbose rendering."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") >= 0, "Yes").otherwise("No").alias("in_credit"),
    )


def row_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 25: as_json() — whole row serialized to a JSON string."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.to_json(F.struct("n_nationkey", "n_name", "n_regionkey")).alias("js"),
    )


def fill_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 31: reset()/__unset default materialization — falsy -> default."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("(open)")).alias(
            "status_filled"
        ),
    )


# ------------------------------------------------------- breadth ops
def fn_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad("c_name", 25, "*").alias("name_lpad"),
        F.rpad("c_mktsegment", 12, ".").alias("seg_rpad"),
        F.initcap(F.lower("c_mktsegment")).alias("seg_title"),
        F.reverse("c_name").alias("name_rev"),
        F.translate("c_name", "#0", "_O").alias("name_trans"),
        F.levenshtein(F.col("c_mktsegment"), F.lit("BUILDING")).alias(
            "lev_building"
        ),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.left(F.col("c_name"), F.lit(8)).alias("name_left8"),
    )


def fn_date2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).cast("timestamp").alias("plus3mo"),
        F.weekofyear("o_orderdate").cast("long").alias("week_no"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.dayofweek("o_orderdate").cast("long").alias("dow_1sun"),
        F.date_sub(F.col("o_orderdate"), 7).cast("timestamp").alias("week_before"),
        F.make_date(
            F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1)
        ).cast("timestamp").alias("month_floor"),
    )


def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-stable hashes: md5 / sha2-256 (DuckDB lacks sha1)."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.md5(F.col("n_name")).alias("h_md5"),
        F.sha2(F.col("n_name").cast("binary"), 256).alias("h_sha256"),
    )


def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a map column per row, access by key, cardinality,
    key-membership — scalar outputs only (map cells don't hash portably
    across engines' pandas renderings)."""
    p = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return p.select(
        "p_partkey",
        F.element_at(m, "brand").alias("brand_val"),
        F.size(m).alias("n_keys"),
        F.array_contains(F.map_keys(m), "type").alias("has_type_key"),
        F.element_at(F.map_values(m), 1).alias("first_val"),
    )


def fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 runs under ANSI mode where x/0 and bad casts THROW;
    ``try_divide`` / ``try_cast`` give the NULL-on-failure semantics.
    DuckDB's native division already NULLs on /0, so the oracle is plain."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "price_per_disc"  # NULL where discount == 0
        ),
        F.col("l_returnflag").try_cast("long").alias("flag_as_long"),
        F.concat(F.lit("20"), F.col("l_linenumber").cast("string"))
        .try_cast("long")
        .alias("derived_long"),
    )


def fn_array2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array breadth: slice / position / join / overlap / sort."""
    p = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_type"), " ")
    return p.select(
        "p_partkey",
        F.array_join(F.slice(words, 1, 2), "+").alias("first_two"),
        F.array_position(words, "BRASS").cast("long").alias("brass_pos"),
        F.arrays_overlap(
            words, F.array(F.lit("BRASS"), F.lit("STEEL"))
        ).alias("metallic"),
        F.array_join(F.array_sort(words), "|").alias("sorted_words"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_no"),
    )


def fn_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions with LAMBDAS — transform / filter /
    aggregate run as Catalyst expressions inside codegen (NOT Python
    UDFs): the lambda is a SQL expression tree, evaluated JVM-side per
    element. Outputs folded to scalars (arrays don't hash portably)."""
    p = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.array_join(F.transform(words, lambda x: F.upper(x)), ",").alias(
            "upper_words"
        ),
        F.array_join(
            F.filter(words, lambda x: F.length(x) > 5), ","
        ).alias("long_words"),
        F.aggregate(
            words, F.lit(0), lambda acc, x: acc + F.length(x)
        )
        .cast("long")
        .alias("total_chars"),
    )


def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT type (Spark 4): ``parse_json`` once into a
    binary variant, then typed path extraction with ``try_variant_get``
    (NULL on missing path / cast failure, never a throw). At scale this
    beats re-parsing the JSON string per extraction — parse once, extract
    many. Outputs are typed scalars, so the DuckDB JSON oracle matches."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_num"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_val"),
    )


def fn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/bit surface: hex encode, base64 roundtrip, bit shifts/xor.

    All codegen JVM expressions; hex and base64 are byte-exact across
    engines (uppercase hex, RFC 4648 base64), shifts/xor are integer ops.
    """
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.hex(F.col("p_name").cast("binary")).alias("name_hex"),
        F.base64(F.col("p_brand").cast("binary")).alias("brand_b64"),
        F.shiftleft(F.col("p_partkey"), 3).alias("key_shl3"),
        F.shiftright(F.col("p_partkey"), 2).alias("key_shr2"),
        F.expr("p_partkey ^ p_size").cast("long").alias("key_xor_size"),
    )


def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parse/encode surface: parse_url HOST/PATH/QUERY + url_encode.

    URLs are synthesized from part columns so every component varies;
    the oracle re-derives each component with regex/string functions
    (DuckDB has no parse_url), proving semantics not just execution.
    """
    p = load_table(spark, sf_dir, "part")
    url = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_replace("p_brand", "#", "")),
        F.lit(".example.com/catalog/"),
        F.col("p_partkey").cast("string"),
        F.lit("?size="),
        F.col("p_size").cast("string"),
    )
    return p.select(
        "p_partkey",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.url_encode(F.col("p_type")).alias("type_enc"),
    )


def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: rows with EMPTY arrays survive as NULL rows.

    The outer variant matters in pipelines that must not lose parents
    when a child list is empty (e.g. documents with zero long tokens) —
    plain explode silently drops them.
    """
    p = load_table(spark, sf_dir, "part")
    long_words = F.filter(
        F.split(F.col("p_type"), " "), lambda x: F.length(x) > 6
    )
    return p.select(
        "p_partkey",
        F.posexplode_outer(long_words).alias("pos", "word"),
    ).withColumn("pos", F.col("pos").cast("long"))


def fn_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_json`` with an EXPLICIT schema: parse once into a typed
    struct, then field access — the production JSON path (per-extraction
    ``get_json_object`` re-parses the string each call; ``fn_variant``
    is the schema-on-read cousin)."""
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT")
    rt = F.from_json(
        F.to_json(F.struct("event_type", "value")),
        "event_type STRING, value DOUBLE",
    )
    return e.select(
        "event_id",
        parsed.getField("k").alias("k_num"),
        rt.getField("event_type").alias("etype"),
        rt.getField("value").alias("val"),
    )


QUERIES = {
    "fn_string": fn_string,
    "fn_date": fn_date,
    "fn_math": fn_math,
    "fn_cond": fn_cond,
    "fn_json": fn_json,
    "fn_array": fn_array,
    "fn_explode": fn_explode,
    "cast_ingest": cast_ingest,
    "ts_parse_format": ts_parse_format,
    "num_format": num_format,
    "bool_verbose": bool_verbose,
    "row_to_json": row_to_json,
    "fill_defaults": fill_defaults,
    "fn_string2": fn_string2,
    "fn_date2": fn_date2,
    "fn_hash": fn_hash,
    "fn_map": fn_map,
    "fn_try": fn_try,
    "fn_array2": fn_array2,
    "fn_lambda": fn_lambda,
    "fn_variant": fn_variant,
    "fn_binary": fn_binary,
    "fn_url": fn_url,
    "fn_explode_outer": fn_explode_outer,
    "fn_from_json": fn_from_json,
}

ORACLES = {
    "fn_string": (
        "SELECT p_partkey, UPPER(p_name) AS name_upper, "
        "LOWER(p_brand) AS brand_lower, SUBSTRING(p_type, 1, 5) AS type_prefix, "
        "CAST(LENGTH(p_name) AS INT) AS name_len, "
        "p_brand || '/' || p_type AS brand_type, "
        "REPLACE(p_name, ' ', '_') AS name_snake, "
        "regexp_extract(p_brand, '#(\\d+)', 1) AS brand_num, "
        "TRIM('  pad  ') AS trimmed "
        "FROM part"
    ),
    "fn_date": (
        "SELECT o_orderkey, "
        "CAST(YEAR(o_orderdate) AS INT) AS yr, "
        "CAST(MONTH(o_orderdate) AS INT) AS mo, "
        "CAST(DAY(o_orderdate) AS INT) AS dom, "
        "CAST(QUARTER(o_orderdate) AS INT) AS qtr, "
        "DATE_TRUNC('month', o_orderdate) AS month_start, "
        "CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS TIMESTAMP) AS due_date, "
        "CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end, "
        "CAST(DATEDIFF('day', o_orderdate, TIMESTAMP '2002-01-01') AS INT) "
        "AS days_to_2002 "
        "FROM orders"
    ),
    "fn_math": (
        "SELECT l_orderkey, l_linenumber, "
        "ABS(l_discount - 0.05) AS abs_disc_delta, "
        "CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil, "
        "CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor, "
        "SQRT(l_quantity) AS qty_sqrt, "
        "l_orderkey % 7 AS key_mod7, "
        "CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign, "
        "l_quantity * l_quantity AS qty_sq "
        "FROM lineitem"
    ),
    "fn_cond": (
        "SELECT c_custkey, "
        "CASE WHEN c_acctbal < 0 THEN 'overdrawn' "
        "WHEN c_acctbal < 5000 THEN 'standard' ELSE 'premium' END AS tier, "
        "COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(dflt)') AS seg_or_default, "
        "GREATEST(c_acctbal, 0.0) AS bal_floor0, "
        "LEAST(c_acctbal, 1000.0) AS bal_cap1k "
        "FROM customer"
    ),
    "fn_json": (
        "SELECT event_id, "
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k FROM events"
    ),
    "fn_array": (
        "SELECT p_partkey, "
        "CAST(len(string_split(p_type, ' ')) AS INT) AS n_words, "
        "list_extract(string_split(p_type, ' '), 1) AS first_word, "
        "list_extract(string_split(p_type, ' '), "
        "  len(string_split(p_type, ' '))) AS last_word, "
        "list_contains(string_split(p_type, ' '), 'BRASS') AS has_brass "
        "FROM part"
    ),
    "fn_explode": (
        "SELECT p_partkey, UNNEST(string_split(p_type, ' ')) AS word FROM part"
    ),
    "cast_ingest": (
        "SELECT CAST(l_linenumber AS BIGINT) AS linenumber_i64, "
        "CAST(l_orderkey AS VARCHAR) AS orderkey_str, "
        "CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP) AS ship_day, "
        "CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty_dec "
        "FROM lineitem"
    ),
    "ts_parse_format": (
        "SELECT o_orderkey, "
        "strftime(o_orderdate, '%Y-%m-%d') AS iso_day, "
        "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS iso_full, "
        "CAST(strftime(o_orderdate, '%Y-%m-%d') AS TIMESTAMP) AS reparsed, "
        "CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s "
        "FROM orders"
    ),
    "num_format": (
        "SELECT c_custkey, printf('%.2f', c_acctbal) AS bal_disp FROM customer"
    ),
    "bool_verbose": (
        "SELECT c_custkey, "
        "CASE WHEN c_acctbal >= 0 THEN 'Yes' ELSE 'No' END AS in_credit "
        "FROM customer"
    ),
    "row_to_json": (
        "SELECT n_nationkey, to_json(struct_pack(n_nationkey := n_nationkey, "
        "n_name := n_name, n_regionkey := n_regionkey))::VARCHAR AS js "
        "FROM nation"
    ),
    "fill_defaults": (
        "SELECT o_orderkey, "
        "COALESCE(NULLIF(o_orderstatus, 'O'), '(open)') AS status_filled "
        "FROM orders"
    ),
    "fn_string2": (
        "SELECT c_custkey, "
        "lpad(c_name, 25, '*') AS name_lpad, "
        "rpad(c_mktsegment, 12, '.') AS seg_rpad, "
        "list_aggregate(list_transform(string_split(lower(c_mktsegment), ' '), "
        "  x -> UPPER(x[1]) || x[2:]), 'string_agg', ' ') AS seg_title, "
        "reverse(c_name) AS name_rev, "
        "translate(c_name, '#0', '_O') AS name_trans, "
        "CAST(levenshtein(c_mktsegment, 'BUILDING') AS INT) AS lev_building, "
        "repeat('ab', 3) AS repeated, "
        "CAST(CASE WHEN strpos(c_name, '#') IS NULL THEN 0 "
        "     ELSE strpos(c_name, '#') END AS INT) AS hash_pos, "
        "left(c_name, 8) AS name_left8 "
        "FROM customer"
    ),
    "fn_date2": (
        "SELECT o_orderkey, "
        "CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP) "
        "  AS plus3mo, "
        "CAST(weekofyear(o_orderdate) AS BIGINT) AS week_no, "
        "CAST(dayofyear(o_orderdate) AS BIGINT) AS doy, "
        "CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_1sun, "
        "CAST(CAST(o_orderdate - INTERVAL 7 DAY AS DATE) AS TIMESTAMP) "
        "  AS week_before, "
        "CAST(make_date(CAST(year(o_orderdate) AS INT), "
        "  CAST(month(o_orderdate) AS INT), 1) AS TIMESTAMP) AS month_floor "
        "FROM orders"
    ),
    "fn_hash": (
        "SELECT n_nationkey, "
        "md5(n_name) AS h_md5, "
        "sha256(n_name) AS h_sha256 "
        "FROM nation"
    ),
    "fn_binary": (
        "SELECT p_partkey, "
        "hex(encode(p_name)) AS name_hex, "
        "to_base64(encode(p_brand)) AS brand_b64, "
        "p_partkey << 3 AS key_shl3, "
        "p_partkey >> 2 AS key_shr2, "
        "CAST(xor(p_partkey, p_size) AS BIGINT) AS key_xor_size "
        "FROM part"
    ),
    # The JSON roundtrip (to_json -> from_json) is value-preserving, so
    # the oracle reads the source columns directly.
    "fn_from_json": (
        "SELECT event_id, "
        "CAST(json_extract(props, '$.k') AS BIGINT) AS k_num, "
        "event_type AS etype, value AS val FROM events"
    ),
    # Empty lists become [NULL] before UNNEST to mirror the OUTER
    # semantics; pos is NULL exactly when word is NULL.
    "fn_explode_outer": (
        "WITH t AS (SELECT p_partkey, "
        "  list_filter(string_split(p_type, ' '), x -> length(x) > 6) AS lw "
        "  FROM part), "
        "t2 AS (SELECT p_partkey, "
        "  CASE WHEN len(lw) = 0 THEN [NULL::VARCHAR] ELSE lw END AS lw2 "
        "  FROM t) "
        "SELECT p_partkey, "
        "CASE WHEN lw2[i] IS NULL THEN NULL "
        "     ELSE CAST(i - 1 AS BIGINT) END AS pos, "
        "lw2[i] AS word "
        "FROM t2, UNNEST(range(1, len(lw2) + 1)) u(i)"
    ),
    # p_type is ASCII letters+spaces, so form-encoding is exactly the
    # space->'+' map; host/path/query re-derived by construction.
    "fn_url": (
        "SELECT p_partkey, "
        "lower(replace(p_brand, '#', '')) || '.example.com' AS host, "
        "'/catalog/' || CAST(p_partkey AS VARCHAR) AS path, "
        "'size=' || CAST(p_size AS VARCHAR) AS query, "
        "replace(p_type, ' ', '+') AS type_enc "
        "FROM part"
    ),
    "fn_variant": (
        "SELECT event_id, "
        "CAST(json_extract(props, '$.k') AS BIGINT) AS k_num, "
        "json_extract_string(props, '$.k') AS k_str, "
        "json_extract_string(props, '$.missing') AS missing_val "
        "FROM events"
    ),
    "fn_lambda": (
        "SELECT p_partkey, "
        "array_to_string(list_transform(string_split(p_name, ' '), "
        "  x -> upper(x)), ',') AS upper_words, "
        "COALESCE(array_to_string(list_filter(string_split(p_name, ' '), "
        "  x -> length(x) > 5), ','), '') AS long_words, "
        "CAST(list_sum(list_transform(string_split(p_name, ' '), "
        "  x -> length(x))) AS BIGINT) AS total_chars "
        "FROM part"
    ),
    "fn_map": (
        "SELECT p_partkey, "
        "map(['brand','type'], [p_brand, p_type])['brand'][1] AS brand_val, "
        "CAST(cardinality(map(['brand','type'], [p_brand, p_type])) AS INT) "
        "  AS n_keys, "
        "list_contains(map_keys(map(['brand','type'], [p_brand, p_type])), "
        "  'type') AS has_type_key, "
        "map_values(map(['brand','type'], [p_brand, p_type]))[1] AS first_val "
        "FROM part"
    ),
    "fn_array2": (
        "SELECT p_partkey, "
        "array_to_string(string_split(p_type, ' ')[1:2], '+') AS first_two, "
        "CAST(COALESCE(list_position(string_split(p_type, ' '), 'BRASS'), 0) "
        "  AS BIGINT) AS brass_pos, "
        "len(list_intersect(string_split(p_type, ' '), "
        "  ['BRASS', 'STEEL'])) > 0 AS metallic, "
        "array_to_string(list_sort(string_split(p_type, ' ')), '|') "
        "  AS sorted_words, "
        "split_part(p_brand, '#', 2) AS brand_no "
        "FROM part"
    ),
    "fn_try": (
        "SELECT l_orderkey, l_linenumber, "
        "l_extendedprice / NULLIF(l_discount, 0.0) AS price_per_disc, "
        "TRY_CAST(l_returnflag AS BIGINT) AS flag_as_long, "
        "TRY_CAST('20' || CAST(l_linenumber AS VARCHAR) AS BIGINT) "
        "  AS derived_long "
        "FROM lineitem"
    ),
}
