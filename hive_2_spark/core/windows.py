"""Window-function operators (SURVEY.md §2B op 38).

Ranking, analytic (lag/lead/first/last/ntile), and frame aggregates
(ROWS / RANGE BETWEEN). Every window ORDER BY includes a unique
tiebreaker so row_number/lag/frames are deterministic across engines.

Scale notes: a window = one shuffle on partitionBy keys + an in-partition
sort. Partition keys here (custkey, mktsegment, suppkey) have enough
cardinality to spread; a window with no partitionBy (global sort) is the
anti-pattern at 100 TB and none runs over data-sized input. Running sums
accumulate in frame order (deterministic left-assoc), so they are
bit-exact across engines — no rounding needed.

The order-dependent aggregates of every module compose two primitives
held here: :func:`nearest_rank` (exact quantiles off a domain-bounded
histogram; DuckDB twin :func:`_dk_nearest_rank`) and
:func:`bucketed_running_sum` (global or per-group running sums from
bucket-local windows plus prefix offsets over the bucket totals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_2_spark import catalog
from hive_2_spark.catalog import load_table


def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile per market segment."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        # cast to long: DuckDB/ANSI rank functions return BIGINT, Spark INT
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order history: previous/next order price and date gap."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate", 1).over(w)
        ).cast("long").alias("days_since_prev"),
    )


def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer (ROWS UNBOUNDED PRECEDING..CURRENT)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum("o_totalprice").over(w).alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value over the full partition frame."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
    )


def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric key: peers within 1000.0 below each price.

    COUNT over the frame (exact) — value-based frames are the one window
    kind where peers are defined by the ORDER BY value, not row position.
    """
    o = load_table(spark, sf_dir, "orders")
    # DataFrame-API rangeBetween only accepts integer offsets; a fractional
    # (double-typed) RANGE frame needs the SQL form.
    return o.selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC "
        "RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS peers_within_1k",
    )


def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the canonical window+filter pattern."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def win_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist: relative-position analytics (exact
    rational arithmetic -> bit-stable across engines)."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


def win_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval RANGE frame: orders in the trailing 30 days per
    customer (time-windowed running count — SQL form, since the
    DataFrame API's rangeBetween is numeric-only)."""
    return catalog.sql(spark, sf_dir, """
        SELECT o_custkey, o_orderkey,
               COUNT(*) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
               ) AS n_last_30d
        FROM orders
        """
    )


def topk_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL ordering in a top-k: DESC NULLS LAST over a derived
    nullable column, deterministic via unique tiebreaker."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bonus",
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")),
        )
        .orderBy(
            F.col("bonus").desc_nulls_last(), F.col("o_orderkey").asc()
        )
        .select("o_orderkey", "bonus")
        .limit(30)
    )


def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS analytics over a sparse column: forward-fill via
    running ``last(x) IGNORE NULLS`` (the canonical gap-fill), plus
    first/nth non-null over the full frame. The sparse column is derived
    (price only for finished orders) since testdata has no NULLs."""
    o = load_table(spark, sf_dir, "orders")
    x = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    run = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    full = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.last(x, ignorenulls=True).over(run).alias("ffill_price"),
        F.first(x, ignorenulls=True).over(full).alias("first_f_price"),
        F.nth_value(x, 2, ignoreNulls=True).over(full).alias("second_f_price"),
    )


def win_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count over a trailing 10-row frame.

    Spark has no COUNT(DISTINCT) OVER; the idiomatic rewrite is
    size(collect_set() OVER frame) — set state is bounded by the frame
    (10 rows), so memory stays O(frame) per partition at any scale.
    Oracle: DuckDB's native COUNT(DISTINCT ...) OVER the same frame.
    """
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-9, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        # cast to long: size() is INT in Spark, COUNT is BIGINT in DuckDB
        F.size(F.collect_set("o_orderstatus").over(w))
        .cast("long")
        .alias("distinct_status_10"),
    )


def win_median_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact MEDIAN over a trailing 10-row frame.

    Spark has no MEDIAN() OVER; the bounded-frame rewrite is
    sort_array(collect_list() OVER frame) + middle element(s) — state
    is O(frame) per row like the rolling-distinct op, and the
    even-count interpolation (mean of the two middles) matches
    DuckDB's windowed MEDIAN exactly. An UNBOUNDED frame would be the
    anti-pattern (per-row state grows with the partition); bounded
    frames are the contract.
    """
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-9, W.currentRow)
    )
    s = F.sort_array(F.collect_list("o_totalprice").over(w))
    n = F.size(s)
    lo = F.element_at(s, ((n + 1) / 2).cast("int"))
    hi = F.element_at(s, ((n + 2) / 2).cast("int"))
    # floor(x*100+0.5)/100, not ROUND: the interpolated midpoint lands
    # on exact half-cents, where Spark's and DuckDB's ROUND disagree;
    # this form is the same IEEE ops on both engines.
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.floor((lo + hi) / 2.0 * 100 + F.lit(0.5)) / F.lit(100.0)).alias(
            "median_price_10"
        ),
    )


def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance-quartile per customer within market segment (NTILE).

    The equal-height-bucket assignment behind cohorting and tiered
    pricing. NTILE needs a total order per partition: ties on acctbal
    break on custkey, so bucket membership is deterministic across
    engines and partial reruns. One segment-keyed exchange + in-
    partition sort, same cost envelope as every other window here.
    """
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


def bucketed_running_sum(
    df: DataFrame, value, order, bucket: str, part=()
) -> DataFrame:
    """``df`` plus column ``run``: the running sum of ``value`` along
    ``order`` within each ``part`` group — without the naive
    ``SUM() OVER (PARTITION BY part ORDER BY order)`` plan, which moves
    each whole group (the whole table, when ``part`` is empty) into ONE
    partition: the classic global-cumsum bottleneck.

    ``bucket`` names a DATA-DERIVED range id that must not decrease
    along ``order`` (calendar month, price band, hash prefix). Phase 1:
    local running sums inside each (part, bucket) — windows partitioned
    by the bucket run in parallel. Phase 2: the bucket totals get
    EXCLUSIVE prefix offsets from a window over the bucket table, whose
    size the bucket DOMAIN bounds, never the data. Phase 3: the offsets
    broadcast back; run = offset + local. A running count is the sum
    of ``F.lit(1)``, i.e. a global row_number when ``order`` is total.

    The range id must come from the data, not the partitioner:
    ``repartitionByRange`` + ``spark_partition_id`` re-samples
    boundaries per job, so two actions over the same plan can disagree
    on row->partition assignment (measured: ~0.5% value drift).
    """
    part = list(part)
    inside = (
        W.partitionBy(*part, bucket)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    before = (
        W.partitionBy(*part)
        .orderBy(bucket)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = df.withColumn("_local", F.sum(value).over(inside))
    offs = (
        df.groupBy(*part, bucket)
        .agg(F.sum(value).alias("_total"))
        .select(
            *part,
            bucket,
            F.coalesce(F.sum("_total").over(before), F.lit(0)).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offs), [*part, bucket])
        .withColumn("run", F.col("_off") + F.col("_local"))
        .drop("_local", "_off")
    )


def nearest_rank(df: DataFrame, by, value: str, weight, pcts) -> DataFrame:
    """Exact weighted nearest-rank quantiles of ``value`` per ``by``
    group, without a per-group row sort: ``weight`` sums into one
    histogram cell per (group, value) — the only data-sized exchange,
    partial-aggregated map-side — and one cumulative pass runs over the
    cells, whose count the value DOMAIN (cents, seconds, multiplicities)
    bounds, not the row count.

    One row per group: ``by``, ``n`` (the group's total weight) and one
    column per ``{name: p}`` of ``pcts`` — the smallest ``value`` whose
    cumulative weight ``cum`` satisfies ``cum * 100 >= n * p``. That is
    the value at rank ceil(p*n/100) (type-1 quantile); ``p = 100`` is the
    maximum. Whole-number weights keep every comparison exact integer
    math, so no float boundary can flip a pick. `_dk_nearest_rank` is
    the DuckDB twin.
    """
    by = list(by)
    group = W.partitionBy(*by)
    upto = group.orderBy(value).rowsBetween(W.unboundedPreceding, W.currentRow)
    cells = df.groupBy(*by, value).agg(F.sum(weight).alias("_w"))
    ranked = cells.withColumn("_cum", F.sum("_w").over(upto)).withColumn(
        "n", F.sum("_w").over(group)
    )
    return ranked.groupBy(*by).agg(
        F.max("n").alias("n"),
        *[
            F.min(
                F.when(F.col("_cum") * 100 >= F.col("n") * p, F.col(value))
            ).alias(name)
            for name, p in pcts.items()
        ],
    )


def _dk_nearest_rank(rows_sql: str, by, value: str, weight: str, pcts) -> str:
    """DuckDB text of :func:`nearest_rank` over the relation
    ``rows_sql`` (a table/CTE name or a parenthesised query)."""
    keys = "".join(f"{k}, " for k in by)
    group = f"PARTITION BY {', '.join(by)} " if by else ""
    picks = "".join(
        f", MIN(CASE WHEN cum * 100 >= n * {p} THEN {value} END) AS {name}"
        for name, p in pcts.items()
    )
    return (
        f"SELECT {keys}MAX(n) AS n{picks} FROM ("
        f"SELECT {keys}{value}, SUM(w) OVER ({group}ORDER BY {value} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, "
        f"SUM(w) OVER ({group.rstrip()}) AS n FROM ("
        f"SELECT {keys}{value}, SUM({weight}) AS w FROM {rows_sql} "
        f"GROUP BY {keys}{value}))"
        + (f" GROUP BY {', '.join(by)}" if by else "")
    )


def win_global_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL running total over all orders by (date, key) — the
    :func:`bucketed_running_sum` plan with a calendar-month range id
    (~84 months for TPC-H's 7 years bound the offsets window), never
    the single-partition ``SUM() OVER (ORDER BY ...)``.

    Money math in DECIMAL end-to-end: two-phase regrouping of doubles
    would drift in the last ULP vs the oracle's sequential fold;
    decimal addition is associative, so the hash match is exact by
    construction. The final value is emitted as double (exact — two
    decimals, far below 2^53).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("bid"),
    )
    order = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    return bucketed_running_sum(o, "price", order, "bid").select(
        "o_orderkey",
        F.col("run")
        .cast("decimal(18,2)")
        .cast("double")
        .alias("running_total"),
    )


def win_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL row_number over all orders by (price, key) — the running
    count of :func:`bucketed_running_sum` with range id floor(price /
    1000) (~600 bands at TPC-H prices: bounded by the price DOMAIN, not
    the data), never the single-partition ``ROW_NUMBER() OVER (ORDER BY
    ...)``. Pure integer math — no float boundary can flip a rank; the
    (price, o_orderkey) order is total."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") / 1000.0).cast("bigint").alias("bid"),
    )
    order = [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()]
    return bucketed_running_sum(o, F.lit(1), order, "bid").select(
        "o_orderkey",
        "o_totalprice",
        F.col("run").cast("bigint").alias("global_rn"),
    )


QUERIES = {
    "win_ntile": win_ntile,
    "win_median_rolling": win_median_rolling,
    "win_ignore_nulls": win_ignore_nulls,
    "win_range_time": win_range_time,
    "topk_nulls_last": topk_nulls_last,
    "win_pct_rank": win_pct_rank,
    "win_rank": win_rank,
    "win_lag_lead": win_lag_lead,
    "win_running_sum": win_running_sum,
    "win_first_last": win_first_last,
    "win_range_frame": win_range_frame,
    "win_topk_per_group": win_topk_per_group,
    "win_distinct_rolling": win_distinct_rolling,
    "win_global_cumsum": win_global_cumsum,
    "win_global_rank": win_global_rank,
}

_W_RANK = (
    "OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)"
)
_W_CUST = "PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC"

_W_PCT = (
    "OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)"
)

ORACLES = {
    # NOT native MEDIAN() OVER: its even-count midpoint differs in the
    # last ulp, flipping ROUND at exact half-cent boundaries. The list
    # replay makes the arithmetic identical to the Spark side. FLOOR
    # before CAST: DuckDB's double->INT cast ROUNDS, Spark's truncates.
    "win_median_rolling": (
        "SELECT o_orderkey, o_orderpriority, "
        "FLOOR((s[CAST(FLOOR((len(s)+1)/2) AS INT)] + "
        "s[CAST(FLOOR((len(s)+2)/2) AS INT)]) / 2.0 * 100 + 0.5) / 100.0 "
        "AS median_price_10 "
        "FROM (SELECT o_orderkey, o_orderpriority, "
        "  list_sort(list(o_totalprice) OVER (PARTITION BY o_orderpriority "
        "    ORDER BY o_orderdate ASC, o_orderkey ASC "
        "    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS s "
        "  FROM orders)"
    ),
    "win_ntile": (
        "SELECT c_custkey, c_mktsegment, c_acctbal, "
        "CAST(NTILE(4) OVER (PARTITION BY c_mktsegment "
        "ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS quartile "
        "FROM customer"
    ),
    "win_ignore_nulls": (
        "SELECT o_custkey, o_orderkey, "
        "LAST_VALUE(x IGNORE NULLS) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) AS ffill_price, "
        "FIRST_VALUE(x IGNORE NULLS) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING) AS first_f_price, "
        "NTH_VALUE(x, 2 IGNORE NULLS) OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING) AS second_f_price "
        "FROM (SELECT *, CASE WHEN o_orderstatus = 'F' "
        "THEN o_totalprice END AS x FROM orders)"
    ),
    "win_range_time": (
        "SELECT o_custkey, o_orderkey, "
        "COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate "
        "RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) "
        "AS n_last_30d FROM orders"
    ),
    "topk_nulls_last": (
        "SELECT o_orderkey, "
        "CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS bonus "
        "FROM orders "
        "ORDER BY bonus DESC NULLS LAST, o_orderkey ASC LIMIT 30"
    ),
    "win_pct_rank": (
        "SELECT c_custkey, c_mktsegment, "
        f"PERCENT_RANK() {_W_PCT} AS pct_rank, "
        f"CUME_DIST() {_W_PCT} AS cume "
        "FROM customer"
    ),
    "win_rank": (
        "SELECT c_custkey, c_mktsegment, c_acctbal, "
        f"ROW_NUMBER() {_W_RANK} AS rn, RANK() {_W_RANK} AS rnk, "
        f"DENSE_RANK() {_W_RANK} AS drnk, NTILE(4) {_W_RANK} AS quartile "
        "FROM customer"
    ),
    "win_lag_lead": (
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        f"LAG(o_totalprice, 1) OVER ({_W_CUST}) AS prev_price, "
        f"LEAD(o_totalprice, 1) OVER ({_W_CUST}) AS next_price, "
        f"CAST(DATEDIFF('day', LAG(o_orderdate, 1) OVER ({_W_CUST}), o_orderdate) "
        "AS BIGINT) AS days_since_prev "
        "FROM orders"
    ),
    "win_running_sum": (
        "SELECT o_custkey, o_orderkey, "
        f"SUM(o_totalprice) OVER ({_W_CUST} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_spend, "
        f"COUNT(*) OVER ({_W_CUST} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n "
        "FROM orders"
    ),
    "win_first_last": (
        "SELECT o_custkey, o_orderkey, "
        f"FIRST_VALUE(o_totalprice) OVER ({_W_CUST} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price, "
        f"LAST_VALUE(o_totalprice) OVER ({_W_CUST} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price "
        "FROM orders"
    ),
    "win_range_frame": (
        "SELECT o_orderkey, o_orderstatus, o_totalprice, "
        "COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC "
        "RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS peers_within_1k "
        "FROM orders"
    ),
    "win_topk_per_group": (
        "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) t "
        "WHERE rn <= 3"
    ),
    "win_distinct_rolling": (
        "SELECT o_orderkey, o_orderpriority, "
        "COUNT(DISTINCT o_orderstatus) OVER (PARTITION BY o_orderpriority "
        "ORDER BY o_orderdate ASC, o_orderkey ASC "
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS distinct_status_10 "
        "FROM orders"
    ),
    # The oracle IS the naive single-sequence formulation the two-phase
    # plan must equal; DECIMAL on both sides makes regrouping exact.
    "win_global_rank": (
        "SELECT o_orderkey, o_totalprice, "
        "CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) "
        "AS BIGINT) AS global_rn FROM orders"
    ),
    "win_global_cumsum": (
        "SELECT o_orderkey, "
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER ("
        "ORDER BY o_orderdate ASC, o_orderkey ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS DECIMAL(18,2)) AS DOUBLE) AS running_total "
        "FROM orders"
    ),
}
