"""Aggregation operators (SURVEY.md §2B ops 34-36; extends §2A op 10/33).

All built-in Spark hash aggregation: partial (map-side) + final, one
shuffle on the group keys. Floats that depend on accumulation order
(SUM/AVG/STDDEV over doubles) are rounded in BOTH engines to absorb
<=1e-9 relative reordering drift; MIN/MAX/COUNT are exact and left raw.

Scale notes: group-by keys here are low-cardinality (flags, priorities,
nations) — partial aggregation collapses each map task's output to a few
rows, so the shuffle is bytes, not gigabytes, regardless of input size.
approx_count_distinct (HLL) replaces exact distinct where a 2% error is
acceptable — at 100 TB exact countDistinct of a high-card key is a full
shuffle; HLL is a mergeable sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark import catalog
from hive_2_spark.catalog import load_table
from hive_2_spark.core.windows import (
    _dk_nearest_rank,
    bucketed_running_sum,
    nearest_rank,
)


def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/avg/min/max/count with group-by (partial+final hash agg)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT ...) per group — expand+dedup then count in Spark."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (status -> priority -> grand total)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations of the two flags."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL (the general form of rollup/cube)."""
    return catalog.sql(spark, sf_dir, """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentile (median + p90) per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance (rounded — accumulation-order sensitive)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        F.round(F.var_samp("o_totalprice"), 2).alias("var_price"),
        F.count(F.lit(1)).alias("n"),
    )


def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct — rows-only check (sketch != oracle).

    rsd=0.02 (not the 0.05 default): the default's 1-sigma bound makes
    ±5% errors routine, while 2% rsd keeps the observed error inside the
    ±5% accuracy gate (tests/test_approx_accuracy.py) for ~4x the sketch
    memory — still a fixed few KB per group at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
            "approx_median_price"
        ),
    )


def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg) and sorted set
    collection per group — order pinned by sort_array so the result is
    deterministic across engines."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("names"),
        F.size(F.array_distinct(F.collect_list("n_name"))).alias("n_distinct"),
    )


def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates over integer keys per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").cast("long").alias("and_ln"),
        F.bit_or("l_linenumber").cast("long").alias("or_ln"),
        F.bit_xor("l_linenumber").cast("long").alias("xor_ln"),
    )


def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance (rounded: accumulation-
    order-sensitive doubles)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("cov_qd"),
    )


def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: the most frequent l_quantity per
    returnflag, smallest value winning ties. Spark's built-in ``mode()``
    is tie-nondeterministic, so both engines compute count + row_number
    with a total order — same plan shape, hash-identical result.

    Scale: the inner groupBy collapses to (|groups| x |distinct values|)
    rows map-side before the window — the window input is tiny regardless
    of fact-table size."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("l_quantity").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("n").alias("mode_n"),
        )
    )


def agg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches HLL: per-group sketches UNIONED into a
    global distinct estimate — the 100-TB pattern for distinct counting
    (each partition builds a fixed-size sketch; merging is associative,
    so no re-shuffle of raw keys is ever needed; sketches can also be
    persisted and merged across days). Rows-only: the sketch estimate is
    deterministic in Spark but not reproducible by DuckDB's HLL."""
    li = load_table(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("distinct_parts"),
        F.sum("n_rows").alias("total_rows"),
    )


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via mergeable bitmaps (Spark 4 bitmap aggs).

    The scalable exact-distinct pattern: key space is split into 32k-bit
    buckets (bitmap_bucket_number / bitmap_bit_position), each group x
    bucket collapses to one bitmap map-side (bitmap_construct_agg), and
    popcounts are summed. Unlike COUNT(DISTINCT) the partial state is
    re-aggregatable — the same bitmaps roll up across partitions, days,
    or incremental batches without re-scanning. Oracle: plain
    COUNT(DISTINCT) — bitmap counting is exact, not a sketch.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag", F.bitmap_bucket_number("l_partkey").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("l_partkey")).alias("bm")
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_parts"))
    )


def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance via mergeable partials.

    The orders table is split into a base (90%) and a delta batch (10%);
    each side collapses to per-group partial state (sum/count/min/max),
    and the two states MERGE without touching base rows again —
    sum-of-sums, min-of-mins. This is the maintenance plan for a
    continuously updated aggregate at 100 TB: the delta costs O(batch),
    never O(history). AVG is derived at read time from merged sum/count
    (it is not itself mergeable). Oracle: the same aggregate computed
    flat over the full table.
    """
    o = load_table(spark, sf_dir, "orders")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.sum("o_totalprice").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    base = state(o.filter(F.col("o_orderkey") % 10 != 0))
    delta = state(o.filter(F.col("o_orderkey") % 10 == 0))
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("s").alias("s"),
            F.sum("n").alias("n_orders"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
        )
        .select(
            "o_orderpriority",
            F.round(F.col("s"), 2).alias("total"),
            "n_orders",
            "min_price",
            "max_price",
            F.round(F.col("s") / F.col("n_orders"), 4).alias("avg_price"),
        )
    )


def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax/argmin (MAX_BY/MIN_BY semantics): the
    customer holding the extreme acctbal per segment. Raw max_by is
    non-deterministic on value ties, so the ordering key is the
    composite struct (acctbal, custkey) — tie-free because custkey is
    unique, and struct comparison is lexicographic in both engines."""
    c = load_table(spark, sf_dir, "customer")
    key = F.struct(
        F.col("c_acctbal").alias("b"), F.col("c_custkey").alias("k")
    )
    return c.groupBy("c_mktsegment").agg(
        F.max(key)["k"].alias("top_cust"),
        F.min(key)["k"].alias("bottom_cust"),
        F.round(F.max("c_acctbal"), 2).alias("top_bal"),
    )


def _flag_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem as (l_returnflag, cent, l_quantity): prices carry two
    decimals, so integer cents are exact buckets, not approximate."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    return li.select("l_returnflag", cents.alias("cent"), "l_quantity")


_DK_FLAG_CENTS = (
    "(SELECT l_returnflag, "
    "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cent, "
    "l_quantity FROM lineitem)"
)
_WQ_PICKS = {"c25": 25, "c50": 50, "c75": 75}


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantity-weighted median price per return flag — the
    :func:`nearest_rank` cent histogram, not a per-group row sort (the
    naive cumsum window over rows sorts every row of a 3-key-partitioned
    table — three hot partitions at 100 TB). Quantities are whole
    numbers in doubles, so every sum/comparison is exact — no rounding
    boundary exists."""
    q = nearest_rank(
        _flag_cents(spark, sf_dir), ["l_returnflag"], "cent", "l_quantity",
        {"c50": 50},
    )
    return q.select(
        "l_returnflag",
        (F.col("c50").cast("double") / 100.0).alias("weighted_median_price"),
    )


def agg_weighted_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted p25/p50/p75 price per return flag — the
    `agg_weighted_median` histogram with three picks read off one
    :func:`nearest_rank` cumulative pass."""
    q = nearest_rank(
        _flag_cents(spark, sf_dir), ["l_returnflag"], "cent", "l_quantity",
        _WQ_PICKS,
    )
    return q.select(
        "l_returnflag",
        *[
            (F.col(c).cast("double") / 100.0).alias(f"p{p}_price")
            for c, p in _WQ_PICKS.items()
        ],
    )


_WS_PICKS = {"lo": 5, "hi": 95}


def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED and TRIMMED means per order priority — the robust-
    stats treatment an outlier-heavy metric pipeline applies before
    averaging (clip to the exact [p05, p95] band vs drop outside it),
    beside the location family (`agg_percentile` exact percentiles,
    `agg_weighted_median`): a handful of mega-orders should not drag
    the per-priority spend baseline.

    ONE corpus-sized exchange builds the (priority, cent) histogram;
    the p05/p95 edges are :func:`nearest_rank` picks off it (no float
    boundary can flip a rank); the edges broadcast back onto the
    histogram (5-row dim side) and both means are exact-integer cent
    sums in decimal(38,0) divided ONCE at the end (CAST DOUBLE / CAST
    DOUBLE, ROUND 4 — bit-identical across engines).

    Output per priority: n_orders, p05, p95, winsorized_mean,
    trimmed_mean.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    hist = (
        o.select(
            F.col("o_orderpriority").alias("prio"), cents.alias("cent")
        )
        .groupBy("prio", "cent")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    edges = nearest_rank(hist, ["prio"], "cent", "cnt", _WS_PICKS)
    j = hist.join(F.broadcast(edges), "prio")
    clamped = F.least(F.greatest(F.col("cent"), F.col("lo")), F.col("hi"))
    kept = (F.col("cent") >= F.col("lo")) & (F.col("cent") <= F.col("hi"))
    return (
        j.groupBy(F.col("prio").alias("o_orderpriority"))
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            (F.max("lo").cast("double") / F.lit(100.0)).alias("p05"),
            (F.max("hi").cast("double") / F.lit(100.0)).alias("p95"),
            # cnt is cast to decimal(38,0) BEFORE the multiply so the
            # product gets the same headroom as the oracle's
            # HUGEINT-first cnt*cent (a BIGINT-side product could wrap
            # at extreme per-cell counts where the oracle stays exact).
            F.round(
                F.sum(F.col("cnt").cast("decimal(38,0)") * clamped)
                .cast("double")
                / (F.lit(100) * F.max("n")).cast("double"),
                4,
            ).alias("winsorized_mean"),
            F.round(
                F.sum(
                    F.when(
                        kept,
                        F.col("cnt").cast("decimal(38,0)") * F.col("cent"),
                    ).otherwise(F.lit(0).cast("decimal(38,0)"))
                )
                .cast("double")
                / (
                    F.lit(100)
                    * F.sum(F.when(kept, F.col("cnt")).otherwise(F.lit(0)))
                ).cast("double"),
                4,
            ).alias("trimmed_mean"),
        )
    )


_QSM_PICKS = {"p25": 25, "p50": 50, "p75": 75}


def agg_quantile_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed quantiles from MERGEABLE shard states — the
    portable counterpart of the HLL `agg_sketch_merge` key (this one
    oracle-checks fully, because the state is a cent histogram, not an
    engine-internal sketch).

    One fact-sized pass builds per-(month, cent) counts — each month's
    histogram is a self-contained partial state a shard could persist.
    Per-shard p25/p50/p75 read off each state; the GLOBAL quartiles
    come from MERGING the states (re-aggregating the histograms by
    cent) — the facts are never rescanned. Cent buckets are exact for
    2-decimal prices and counts are integers, so every comparison is
    exact; this is how you get exact corpus-wide percentiles at 100 TB
    without ever sorting rows or funneling them to one partition.
    Output: one row per month shard + an 'ALL' row from the merge."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    hist = (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("shard"),
            cents.alias("cent"),
        )
        .groupBy("shard", "cent")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
    )
    merged = (
        hist.groupBy("cent")
        .agg(F.sum("bucket_n").alias("bucket_n"))
        .withColumn("shard", F.lit("ALL"))
        .select("shard", "cent", "bucket_n")
    )
    q = nearest_rank(
        hist.unionByName(merged), ["shard"], "cent", "bucket_n", _QSM_PICKS
    )
    return q.select(
        "shard",
        F.col("n").cast("bigint").alias("n"),
        *[
            (F.col(c).cast("double") / 100.0).alias(c)
            for c in _QSM_PICKS
        ],
    )


# Portable HyperLogLog: m = 256 registers (8-bit bucket from the first
# 2 md5 hex chars), rho = leading-zero count over the next 56 bits + 1.
# alpha_256 = 0.7213/(1 + 1.079/256), interpolated as the SAME double
# literal into both engines.
_HLL_ALPHA = 0.7213 / (1 + 1.079 / 256)
_HLL_M = 256
_HLL_P57 = float(2**57)  # exact double (power of two)


def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE HyperLogLog distinct-count sketch, oracle-verified —
    the engine-neutral twin of `agg_approx`/`agg_sketch_merge` (whose
    HLL register layouts are engine-internal and therefore rows-only).
    Proves the MERGEABILITY contract in the hash gate itself: the ALL
    row's registers are the bucket-wise MAX of the monthly shard
    registers — the facts are never rescanned, exactly how per-shard
    sketches merge into a corpus count at 100 TB.

    Register math is exact end-to-end: bucket = first 2 md5 hex chars;
    rho = 4*(leading '0' nibbles) + nibble-CLZ + 1 over the next 14
    nibbles (pure string/CASE ops, identical in both engines); the
    harmonic sum accumulates SHIFTED-INTEGER weights 2^(57-rho) in
    decimal(38,0)/HUGEINT (a double sum of 2^-rho terms needs a 57-bit
    window — accumulation order could flip the last bit). The ONE
    float step in the raw path is the final alpha*m^2*2^57/S division
    from identical literals — bit-identical. Empty registers (rho=0)
    come from a metadata-sized (shard x 256) spine. In the small-range
    regime (raw <= 2.5m with empty registers) the standard
    linear-counting correction m*ln(m/V) is applied as
    `est_corrected`; ln IS transcendental, but V has only 256 possible
    values and every m*ln(m/V) sits >=1.6e-4 from a half-cent ROUND
    boundary (enumerated offline) while cross-engine libm drift is
    ~1e-11, so ROUND(,2) is provably engine-stable. Both the raw and
    corrected estimates plus n_zero_reg and the exact count are
    reported, so the bias regime stays visible.

    Output: shard, n_exact, est_hll, est_corrected, n_zero_reg.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("shard"),
        F.md5(F.col("o_custkey").cast("string")).alias("h"),
    )
    nib = F.substring("h", 3, 14)
    k0 = F.length(F.regexp_extract(nib, "^(0*)", 1))
    v = F.conv(F.substring(nib, (k0 + 1).cast("int"), 1), 16, 10).cast("int")
    nlz = (
        F.when(v >= 8, 0).when(v >= 4, 1).when(v >= 2, 2).otherwise(3)
    )
    rho = F.when(k0 == 14, F.lit(57)).otherwise(4 * k0 + nlz + 1)
    keyed = o.select(
        "shard",
        F.conv(F.substring("h", 1, 2), 16, 10).cast("int").alias("bucket"),
        rho.alias("rho"),
        "h",
    )
    regs = keyed.groupBy("shard", "bucket").agg(F.max("rho").alias("r"))
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .withColumn("shard", F.lit("ALL"))
        .select("shard", "bucket", "r")
    )
    all_regs = regs.unionByName(merged)
    # (shard x 256) spine so empty registers contribute rho = 0
    spine = (
        all_regs.select("shard")
        .distinct()
        .select(
            "shard",
            F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("bucket"),
        )
    )
    full = spine.join(all_regs, ["shard", "bucket"], "left").withColumn(
        "r", F.coalesce("r", F.lit(0))
    )
    est = (
        full.groupBy("shard")
        .agg(
            F.sum(
                F.expr(
                    "CAST(shiftleft(CAST(1 AS BIGINT), 57 - r)"
                    " AS DECIMAL(38,0))"
                )
            ).alias("s"),
            F.sum((F.col("r") == 0).cast("bigint")).alias("n_zero_reg"),
        )
    )
    exact = keyed.groupBy("shard").agg(
        F.countDistinct("h").alias("n_exact")
    )
    exact_all = keyed.select("h").distinct().select(
        F.lit("ALL").alias("shard"), F.lit(1).alias("one")
    ).groupBy("shard").agg(F.count(F.lit(1)).alias("n_exact"))
    exacts = exact.unionByName(exact_all)
    raw = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.lit(_HLL_P57)
        / F.col("s").cast("double")
    )
    # linear-counting correction in the small-range regime (raw <=
    # 2.5m, empty registers exist): m*ln(m/V). ln IS transcendental,
    # but its domain here is the 256 possible V values — checked
    # offline: every m*ln(m/V) sits >=1.6e-4 from a half-cent ROUND
    # boundary, while cross-engine libm drift is ~1e-11, so ROUND(,2)
    # is provably engine-stable (the raw branch is bit-identical
    # anyway: exact ints + shared literals).
    lc = F.lit(float(_HLL_M)) * F.log(
        F.lit(float(_HLL_M)) / F.col("n_zero_reg").cast("double")
    )
    corrected = F.when(
        (F.col("n_zero_reg") > 0) & (raw <= F.lit(2.5 * _HLL_M)), lc
    ).otherwise(raw)
    return est.join(exacts, "shard").select(
        "shard",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.round(raw, 2).alias("est_hll"),
        F.round(corrected, 2).alias("est_corrected"),
        F.col("n_zero_reg").cast("bigint").alias("n_zero_reg"),
    )


# Count-Min sketch geometry: d hash rows x w buckets. w = 256 so the
# bucket is literally the first 2 md5 hex chars of "j:key" (the same
# trick agg_hll_portable uses — no modulo, identical in both engines);
# d = 4 rows. Probe keys are small fixed partkeys present at every SF.
_CMS_D = 4
_CMS_W = 256
_CMS_PROBES = (1, 7, 42, 99, 123)


def agg_countmin_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE Count-Min frequency sketch, oracle-verified — the
    point-frequency twin of `agg_hll_portable` (distinct counts): the
    engine-neutral answer to "how often does key X occur?" from a
    fixed-size mergeable summary instead of a full groupBy.

    Sketch: d=4 rows x w=256 buckets; cell (j, b) counts stream items
    whose row-j hash lands in bucket b, with hash_j(k) = first 2 md5
    hex chars of "j:k" (exact, engine-portable). Point estimate for a
    key = MIN over the 4 rows of its cells — the classic CMS upper
    bound (est >= exact always; collisions only ever inflate).

    Mergeability is in the hash gate itself, like the HLL key: per-
    shipyear shard sketches merge into the ALL row by cell-wise SUM —
    the facts are never rescanned, exactly how per-shard sketches
    roll up at 100 TB. Everything is integer arithmetic end-to-end, so
    both engines agree bit-for-bit.

    Scale: the explode is x4 map-side (no payload), the cell agg
    partial-combines to <= shards x 1024 rows, probes join the sketch
    as a 20-row broadcast. One scan of the facts, shuffle bounded by
    the sketch size.

    Output: shard, probe_key, est_count, exact_count (ALL row included;
    est_count >= exact_count is additionally gated in tests).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("string").alias("shard"),
        F.col("l_partkey").cast("bigint").alias("k"),
    )
    keyed = li.select(
        "shard",
        "k",
        F.explode(F.sequence(F.lit(1), F.lit(_CMS_D))).alias("j"),
    )

    def bucket(k_col, j_col):
        h = F.md5(
            F.concat(j_col.cast("string"), F.lit(":"), k_col.cast("string"))
        )
        return F.conv(F.substring(h, 1, 2), 16, 10).cast("int")

    # GROUPING SETS ((shard,j,b),(j,b)) computes the per-shard cells
    # AND the cell-wise-SUM 'ALL' merge in ONE aggregation pass (the
    # Expand is map-side, partial-agg collapses it to sketch size): the
    # previous shape localCheckpoint'ed the per-shard cells and unioned
    # a re-aggregate — one extra job + exchange for the same rows. The
    # merge-by-SUM semantics are unchanged: COUNT over the (j,b) set
    # IS the sum of the per-shard counts, facts still scanned once.
    all_cells = (
        keyed.select("shard", "j", bucket(F.col("k"), F.col("j")).alias("b"))
        .groupingSets([["shard", "j", "b"], ["j", "b"]], "shard", "j", "b")
        .agg(F.count(F.lit(1)).alias("c"), F.grouping("shard").alias("g"))
        .select(
            F.when(F.col("g") == 1, F.lit("ALL"))
            .otherwise(F.col("shard"))
            .alias("shard"),
            "j",
            "b",
            "c",
        )
    )
    probes = spark.createDataFrame(
        [(int(k),) for k in _CMS_PROBES], "k bigint"
    )
    probe_rows = probes.select(
        "k",
        F.explode(F.sequence(F.lit(1), F.lit(_CMS_D))).alias("j"),
    ).select("k", "j", bucket(F.col("k"), F.col("j")).alias("b"))
    # Estimate = min over the probe's d cells, where a cell MISSING
    # from the sketch is an exact zero: join probes to the cells they
    # hit (20-row broadcast side — no shard spine, no cross join) and
    # zero out any (shard, probe) that found fewer than d cells. A
    # (shard, probe) hitting NO cell at all drops out on both engines
    # identically (it would be the trivial est=0/exact=0 row).
    est = (
        all_cells.join(F.broadcast(probe_rows), ["j", "b"])
        .groupBy("shard", "k")
        .agg(
            F.min("c").alias("min_c"),
            F.count(F.lit(1)).alias("n_cells"),
        )
        .select(
            "shard",
            "k",
            F.when(F.col("n_cells") < _CMS_D, F.lit(0))
            .otherwise(F.col("min_c"))
            .alias("est_count"),
        )
    )
    # isin on the 20 literal probe keys pushes In(l_partkey, [...])
    # into the parquet scan (guide §6: make pushdown reach the scan) —
    # the broadcast-join shape read every fact row to keep 20 keys.
    # GROUPING SETS ((shard,k),(k)) then yields per-shard exacts AND
    # the additive 'ALL' merge in one pass, replacing the
    # localCheckpoint + union re-aggregate (same counts: COUNT over
    # the (k) set is the sum of the per-shard counts).
    exacts = (
        li.filter(F.col("k").isin([int(k) for k in _CMS_PROBES]))
        .groupingSets([["shard", "k"], ["k"]], "shard", "k")
        .agg(F.count(F.lit(1)).alias("exact_count"), F.grouping("shard").alias("g"))
        .select(
            F.when(F.col("g") == 1, F.lit("ALL"))
            .otherwise(F.col("shard"))
            .alias("shard"),
            "k",
            "exact_count",
        )
    )
    return (
        est.join(exacts, ["shard", "k"], "left")
        .select(
            "shard",
            F.col("k").alias("probe_key"),
            F.col("est_count").cast("bigint").alias("est_count"),
            F.coalesce("exact_count", F.lit(0))
            .cast("bigint")
            .alias("exact_count"),
        )
    )


def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of per-customer revenue — the
    inequality/concentration audit (is 1% of customers 90% of revenue?).

    gini = (2*S2 - (n+1)*S1) / (n*S1) with per-customer totals x_i
    sorted ascending, i = 1..n, S1 = sum(x_i), S2 = sum(i * x_i).

    The global rank i is the running count of
    :func:`bucketed_running_sum`, never a single-partition global
    window: band id = total_cents DIV 10^7 ($100k bands — bounded by
    the per-customer revenue DOMAIN (orders per customer x price cap),
    not by customer count, so the offsets table stays tiny while
    customers scale to billions). All money in integer cents and the
    rank products accumulated in decimal(38,0) (i ~ 1e9 customers x
    cents ~ 1e9 overflows bigint at 100 TB scale), so S1/S2/n are exact
    in both engines; the single final division is correctly-rounded
    IEEE — bit-identical — and rounded to 6.

    Output: one row — n_customers, total_cents, gini.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    per_cust = (
        o.select(F.col("o_custkey"), cents.alias("cent"))
        .groupBy("o_custkey")
        .agg(F.sum("cent").alias("x"))
        .withColumn("bid", F.expr("x DIV 10000000"))
    )
    order = [F.col("x").asc(), F.col("o_custkey").asc()]
    ranked = bucketed_running_sum(per_cust, F.lit(1), order, "bid").select(
        "x", F.col("run").alias("i")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
        ).alias("s2"),
    )
    return sums.select(
        F.col("n").alias("n_customers"),
        F.col("s1").cast("bigint").alias("total_cents"),
        F.round(
            (
                F.lit(2).cast("decimal(38,0)") * F.col("s2")
                - (F.col("n") + 1).cast("decimal(38,0)") * F.col("s1")
            ).cast("double")
            / (F.col("n").cast("double") * F.col("s1").cast("double")),
            6,
        ).alias("gini"),
    )


_KMV_K = 256  # sketch size: k smallest hash values per set
_KMV_M = 16 ** 12  # 48-bit hash domain (first 12 md5 hex chars)


def _kmv_sketch(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    """(t, h): the k smallest distinct 48-bit hashes per priority — the
    KMV sketch build. Factored out so (a) the plan gate can assert the
    rank filter compiles to a per-partition WindowGroupLimit (the
    caller localCheckpoints the tiny result, which truncates lineage
    and would hide the window from the final plan) and (b) the
    mergeability gate can sketch arbitrary slices (``orders`` override)
    and prove slice-sketch union == whole-corpus sketch."""
    from pyspark.sql.window import Window

    m = (
        (orders if orders is not None else load_table(spark, sf_dir, "orders"))
        .select(
            F.col("o_orderpriority").alias("t"),
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 12),
                16, 10,
            ).cast("bigint").alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("t").orderBy(F.col("h").asc())
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("t", "h")
    )


def agg_kmv_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE KMV/theta sketch for SET-ALGEBRA cardinalities — the
    third mergeable-summary face beside `agg_hll_portable` (distinct
    counts) and `agg_countmin_portable` (point frequencies): pairwise
    union AND intersection estimates over the customer sets of every
    order-priority pair, from k-minimum-values sketches instead of the
    exact self-join `event_audience_overlap` pays. At 100 TB the exact
    pairwise-overlap query reshuffles the membership table; the KMV
    path scans it ONCE, keeps k=256 hashes per set, and answers every
    pair from sketch-sized frames.

    Sketch math, exact and engine-portable end-to-end:
    - h = first 12 md5 hex chars of the custkey as a 48-bit integer;
    - sketch(S) = k smallest distinct h (per-priority rank window —
      Catalyst compiles the rn<=k filter to a per-partition
      WindowGroupLimit, i.e. the distributed k-min merge KMV needs);
    - theta(S) = k-th smallest if |sketch| = k else M (exact regime);
    - est|S| = (k-1)*M DIV theta — integer division, (k-1)*M < 2^54;
    - per pair: theta = least(theta_a, theta_b); among sketch values
      below theta, union/intersection counts scale by M DIV theta.
    A sketch with fewer than k values IS its set (est = exact count) —
    both engines take the same branch. The estimator is checked against
    the exact overlaps within +-25% in tests/test_sketches.py (k=256 =>
    ~6.3% standard error; the five priority sets share ~86% of their
    members, so their estimates are strongly correlated draws).

    Output: t_a, t_b, est_a, est_b, est_union, est_intersection.
    """
    sk = _kmv_sketch(spark, sf_dir).localCheckpoint()  # sketch-sized;
    # checkpointed because it is probed three times below
    stats = sk.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("h").alias("mx")
    ).select(
        "t",
        F.when(F.col("n_sk") < _KMV_K, F.lit(_KMV_M).cast("bigint"))
        .otherwise(F.col("mx")).alias("theta"),
        F.when(F.col("n_sk") < _KMV_K, F.col("n_sk").cast("bigint"))
        .otherwise(F.expr(
            f"CAST(({_KMV_K - 1} * CAST({_KMV_M} AS BIGINT))"
            " DIV mx AS BIGINT)"
        )).alias("est"),
    )
    a = stats.select(F.col("t").alias("t_a"), F.col("theta").alias("th_a"),
                     F.col("est").alias("est_a"))
    b = stats.select(F.col("t").alias("t_b"), F.col("theta").alias("th_b"),
                     F.col("est").alias("est_b"))
    pairs = (
        a.join(b, F.col("t_a") < F.col("t_b"))
        .select("t_a", "t_b", "est_a", "est_b",
                F.least("th_a", "th_b").alias("theta"))
    )
    am = pairs.join(sk.select(F.col("t").alias("t_a"), "h"), "t_a").filter(
        F.col("h") < F.col("theta")
    ).select("t_a", "t_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    bm = pairs.join(sk.select(F.col("t").alias("t_b"), "h"), "t_b").filter(
        F.col("h") < F.col("theta")
    ).select("t_a", "t_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    member = am.unionByName(bm).groupBy("t_a", "t_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    counts = member.groupBy("t_a", "t_b").agg(
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_common"),
    )
    # for theta < M the estimate is count * (M/theta) applied to the
    # below-theta counts; ONE integer DIV per output (counts <= 2k, so
    # count*M < 2^56 — no overflow, no double rounding)
    return (
        pairs.join(counts, ["t_a", "t_b"], "left")
        .select(
            "t_a", "t_b", "est_a", "est_b",
            F.when(F.col("theta") == _KMV_M,
                   F.coalesce("n_union", F.lit(0)).cast("bigint"))
            .otherwise(F.expr(
                f"CAST((COALESCE(n_union, 0) * CAST({_KMV_M} AS BIGINT))"
                " DIV theta AS BIGINT)"
            )).alias("est_union"),
            F.when(F.col("theta") == _KMV_M,
                   F.coalesce("n_common", F.lit(0)).cast("bigint"))
            .otherwise(F.expr(
                f"CAST((COALESCE(n_common, 0) * CAST({_KMV_M} AS BIGINT))"
                " DIV theta AS BIGINT)"
            )).alias("est_intersection"),
        )
    )


_SQ_K = 512  # bottom-k sample size per shard
_SQ_PICKS = {"p50_cents": 50, "p90_cents": 90, "p99_cents": 99}


def _sq_sample(
    spark: SparkSession, sf_dir: str, li: DataFrame | None = None
) -> DataFrame:
    """(shard, pri, okey, lineno, cents): the k rows with the SMALLEST
    md5 priorities per ship-year shard — a deterministic simple random
    sample (hash priority plays the RNG, the `sample_reservoir`
    discipline). Factored out so the mergeability gate can sample
    arbitrary slices (``li`` override)."""
    from pyspark.sql.window import Window

    rows = (
        (li if li is not None else load_table(spark, sf_dir, "lineitem"))
        .select(
            F.year("l_shipdate").cast("string").alias("shard"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("l_orderkey").cast("string"),
                            F.lit(":"),
                            F.col("l_linenumber").cast("string"),
                        )
                    ),
                    1, 12,
                ),
                16, 10,
            ).cast("bigint").alias("pri"),
            F.col("l_orderkey").alias("okey"),
            F.col("l_linenumber").cast("bigint").alias("lineno"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint").alias("cents"),
        )
    )
    w = Window.partitionBy("shard").orderBy("pri", "okey", "lineno")
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SQ_K)
        .select("shard", "pri", "okey", "lineno", "cents")
    )


def agg_sample_quantile_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PORTABLE bottom-k-sample QUANTILE sketch — the fourth mergeable
    summary beside `agg_hll_portable` (distinct), `agg_countmin_portable`
    (frequency) and `agg_kmv_portable` (set algebra): per-shard price
    quantiles estimated from a k=512 hash-priority sample, and the ALL
    row merged from the SHARD SAMPLES ALONE — never rescanning the
    facts — because the k smallest priorities of the union are each
    among their own shard's k smallest (the same closure KMV's k-min
    merge rests on). At 100 TB each shard ships k rows to the
    coordinator instead of re-sorting the fact table; a t-digest/KLL
    trades exactness of THIS estimator for smaller k, but its random
    compaction has no engine-portable replay — the bottom-k sample is
    the deterministic member of that family.

    Everything is exact integers: cents = floor(price*100 + 0.5),
    48-bit md5 priorities with (okey, lineno) collision tiebreak, and
    the type-1 quantile rule of :func:`nearest_rank` over the sample's
    cents — both engines replay the selection and the pick bit-for-bit.
    Accuracy vs the exact CDF is gated in tests/test_sketches.py (the
    estimated p50/p90 must land within +-6 rank points of their target,
    the k=512 two-sigma band).

    Output: (shard, n_sample, p50_cents, p90_cents, p99_cents), one
    row per ship-year plus the merged 'ALL' row.
    """
    from pyspark.sql.window import Window

    shard_s = _sq_sample(spark, sf_dir).localCheckpoint()  # sketch-sized
    w_all = Window.partitionBy(F.lit(1)).orderBy("pri", "okey", "lineno")
    all_s = (
        shard_s.withColumn("rn", F.row_number().over(w_all))
        .filter(F.col("rn") <= _SQ_K)
        .select(
            F.lit("ALL").alias("shard"), "pri", "okey", "lineno", "cents"
        )
    )
    q = nearest_rank(
        shard_s.unionByName(all_s), ["shard"], "cents", F.lit(1), _SQ_PICKS
    )
    return q.select(
        "shard", F.col("n").cast("bigint").alias("n_sample"), *_SQ_PICKS
    )


QUERIES = {
    "agg_hll_portable": agg_hll_portable,
    "agg_countmin_portable": agg_countmin_portable,
    "agg_kmv_portable": agg_kmv_portable,
    "agg_sample_quantile_portable": agg_sample_quantile_portable,
    "agg_gini": agg_gini,
    "agg_groupby": agg_groupby,
    "agg_argmax": agg_argmax,
    "agg_mode": agg_mode,
    "agg_sketch_merge": agg_sketch_merge,
    "agg_bitwise": agg_bitwise,
    "agg_corr": agg_corr,
    "agg_listagg": agg_listagg,
    "agg_distinct": agg_distinct,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_percentile": agg_percentile,
    "agg_stats": agg_stats,
    "agg_approx": agg_approx,  # rows-only: HLL/KLL sketches are engine-specific
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "agg_incremental_merge": agg_incremental_merge,
    "agg_weighted_median": agg_weighted_median,
    "agg_weighted_quartiles": agg_weighted_quartiles,
    "agg_winsorized_stats": agg_winsorized_stats,
    "agg_quantile_shard_merge": agg_quantile_shard_merge,
}

def _dk_hex_int(hexpr: str, n: int) -> str:
    """First ``n`` (at most 15) hex chars of ``hexpr`` as a BIGINT — the
    one DuckDB hex decoder, the twin of F.conv(F.substring(h, 1, n), 16,
    10): DuckDB has no conv(), but casts a '0x'-prefixed string."""
    return f"CAST(('0x' || substr({hexpr}, 1, {n})) AS BIGINT)"


def _dk_cms_bucket(jexpr: str, kexpr: str) -> str:
    """First 2 md5 hex chars of 'j:k' as an int 0..255 (DuckDB side of
    agg_countmin_portable's hash — mirrors F.conv(F.substring(md5,1,2)))."""
    return _dk_hex_int(f"md5({jexpr} || ':' || {kexpr})", 2)


# agg_hll_portable's first nonzero nibble after the 2-nibble bucket
_HLL_NIBBLE = _dk_hex_int(
    "substr(substr(h, 3, 14), "
    "length(regexp_extract(substr(h, 3, 14), '^(0*)', 1)) + 1)",
    1,
)

ORACLES = {
    # nibble->int via _dk_hex_int (DuckDB has no conv);
    # the shifted-weight sum is HUGEINT like the Spark decimal(38,0);
    # the single double division uses the same interpolated literals
    "agg_hll_portable": f"""
WITH o AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS shard,
         md5(CAST(o_custkey AS VARCHAR)) AS h
  FROM orders
), keyed AS (
  SELECT shard, h,
         {_dk_hex_int("h", 2)} AS bucket,
         CASE WHEN length(regexp_extract(substr(h, 3, 14), '^(0*)', 1)) = 14
              THEN 57
              ELSE 4 * length(regexp_extract(substr(h, 3, 14), '^(0*)', 1))
                   + (CASE WHEN {_HLL_NIBBLE} >= 8 THEN 0
                           WHEN {_HLL_NIBBLE} >= 4 THEN 1
                           WHEN {_HLL_NIBBLE} >= 2 THEN 2
                           ELSE 3 END) + 1
         END AS rho
  FROM o
), regs AS (
  SELECT shard, bucket, MAX(rho) AS r FROM keyed GROUP BY 1, 2
), all_regs AS (
  SELECT shard, bucket, r FROM regs
  UNION ALL
  SELECT 'ALL' AS shard, bucket, MAX(r) AS r FROM regs GROUP BY bucket
), spine AS (
  SELECT s.shard, b.bucket
  FROM (SELECT DISTINCT shard FROM all_regs) s
  CROSS JOIN (SELECT unnest(range(0, {_HLL_M})) AS bucket) b
), full_regs AS (
  SELECT sp.shard, sp.bucket, COALESCE(ar.r, 0) AS r
  FROM spine sp LEFT JOIN all_regs ar
    ON sp.shard = ar.shard AND sp.bucket = ar.bucket
), est AS (
  SELECT shard,
         SUM(CAST(CAST(1 AS BIGINT) << (57 - r) AS HUGEINT)) AS s,
         SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS n_zero_reg
  FROM full_regs GROUP BY shard
), exacts AS (
  SELECT shard, COUNT(DISTINCT h) AS n_exact FROM keyed GROUP BY shard
  UNION ALL
  SELECT 'ALL' AS shard, COUNT(DISTINCT h) AS n_exact FROM keyed
)
SELECT e.shard,
       CAST(x.n_exact AS BIGINT) AS n_exact,
       ROUND(((CAST({_HLL_ALPHA!r} AS DOUBLE) * 65536.0) * {_HLL_P57!r})
             / CAST(e.s AS DOUBLE), 2) AS est_hll,
       ROUND(CASE WHEN e.n_zero_reg > 0
                   AND ((CAST({_HLL_ALPHA!r} AS DOUBLE) * 65536.0)
                        * {_HLL_P57!r}) / CAST(e.s AS DOUBLE)
                       <= {2.5 * _HLL_M!r}
             THEN {float(_HLL_M)!r}
                  * ln({float(_HLL_M)!r} / CAST(e.n_zero_reg AS DOUBLE))
             ELSE ((CAST({_HLL_ALPHA!r} AS DOUBLE) * 65536.0)
                   * {_HLL_P57!r}) / CAST(e.s AS DOUBLE)
             END, 2) AS est_corrected,
       CAST(e.n_zero_reg AS BIGINT) AS n_zero_reg
FROM est e JOIN exacts x ON e.shard = x.shard
""",
    # pure integer arithmetic end-to-end (counts + min), identical md5
    # bucket math via _dk_hex_int (DuckDB has no conv)
    "agg_countmin_portable": f"""
WITH li AS (
  SELECT CAST(EXTRACT(year FROM l_shipdate) AS VARCHAR) AS shard,
         CAST(l_partkey AS BIGINT) AS k
  FROM lineitem
), bucketed AS (
  SELECT shard, j, {_dk_cms_bucket("CAST(j AS VARCHAR)", "CAST(k AS VARCHAR)")} AS b
  FROM li, UNNEST([1, 2, 3, 4]) AS t(j)
), cells AS (
  SELECT shard, j, b, COUNT(*) AS c FROM bucketed GROUP BY 1, 2, 3
), all_cells AS (
  SELECT shard, j, b, c FROM cells
  UNION ALL
  SELECT 'ALL' AS shard, j, b, SUM(c) AS c FROM cells GROUP BY j, b
), probes AS (
  SELECT unnest({list(_CMS_PROBES)}) AS k
), probe_rows AS (
  SELECT k, j, {_dk_cms_bucket("CAST(j AS VARCHAR)", "CAST(k AS VARCHAR)")} AS b
  FROM probes, UNNEST([1, 2, 3, 4]) AS t(j)
), est AS (
  SELECT ac.shard, p.k,
         CASE WHEN COUNT(*) < 4 THEN 0 ELSE MIN(ac.c) END AS est_count
  FROM all_cells ac JOIN probe_rows p ON ac.j = p.j AND ac.b = p.b
  GROUP BY 1, 2
), exact_sh AS (
  SELECT shard, k, COUNT(*) AS exact_count
  FROM li JOIN probes USING (k) GROUP BY 1, 2
), exacts AS (
  SELECT shard, k, exact_count FROM exact_sh
  UNION ALL
  SELECT 'ALL' AS shard, k, SUM(exact_count) AS exact_count
  FROM exact_sh GROUP BY k
)
SELECT e.shard, CAST(e.k AS BIGINT) AS probe_key,
       CAST(e.est_count AS BIGINT) AS est_count,
       CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count
FROM est e LEFT JOIN exacts x ON e.shard = x.shard AND e.k = x.k
""",
    # pure integer arithmetic end-to-end (rank-window k-min, MAX, one
    # integer division per estimate); 12-nibble _dk_hex_int decode
    # because DuckDB has no conv()
    "agg_sample_quantile_portable": f"""
WITH rows AS (
  SELECT CAST(year(l_shipdate) AS VARCHAR) AS shard,
         {_dk_hex_int(
            "md5(CAST(l_orderkey AS VARCHAR) || ':' || "
            "CAST(l_linenumber AS VARCHAR))", 12)} AS pri,
         l_orderkey AS okey,
         CAST(l_linenumber AS BIGINT) AS lineno,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
), shard_s AS (
  SELECT shard, pri, okey, lineno, cents FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY shard ORDER BY pri, okey, lineno) AS rn
    FROM rows)
  WHERE rn <= {_SQ_K}
), all_s AS (
  SELECT 'ALL' AS shard, pri, okey, lineno, cents FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY pri, okey, lineno) AS rn
    FROM shard_s)
  WHERE rn <= {_SQ_K}
), s AS (
  SELECT * FROM shard_s UNION ALL SELECT * FROM all_s
)
SELECT shard, CAST(n AS BIGINT) AS n_sample, {", ".join(_SQ_PICKS)}
FROM ({_dk_nearest_rank("s", ["shard"], "cents", "1", _SQ_PICKS)})
""",
    "agg_kmv_portable": f"""
WITH m AS (
  SELECT DISTINCT o_orderpriority AS t,
         {_dk_hex_int("md5(CAST(o_custkey AS VARCHAR))", 12)} AS h
  FROM orders
), sk AS (
  SELECT t, h FROM (
    SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t ORDER BY h ASC) AS rn
    FROM m
  ) WHERE rn <= {_KMV_K}
), stats AS (
  SELECT t,
         CASE WHEN COUNT(*) < {_KMV_K} THEN CAST({_KMV_M} AS BIGINT)
              ELSE MAX(h) END AS theta,
         CASE WHEN COUNT(*) < {_KMV_K} THEN CAST(COUNT(*) AS BIGINT)
              ELSE CAST(({_KMV_K - 1} * CAST({_KMV_M} AS BIGINT))
                        // MAX(h) AS BIGINT) END AS est
  FROM sk GROUP BY t
), pairs AS (
  SELECT a.t AS t_a, b.t AS t_b, a.est AS est_a, b.est AS est_b,
         LEAST(a.theta, b.theta) AS theta
  FROM stats a JOIN stats b ON a.t < b.t
), member AS (
  SELECT p.t_a, p.t_b, x.h,
         MAX(CASE WHEN x.side = 'a' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN x.side = 'b' THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN (
    SELECT 'a' AS side, t, h FROM sk
    UNION ALL
    SELECT 'b' AS side, t, h FROM sk
  ) x ON (x.side = 'a' AND x.t = p.t_a) OR (x.side = 'b' AND x.t = p.t_b)
  WHERE x.h < p.theta
  GROUP BY 1, 2, 3
), counts AS (
  SELECT t_a, t_b, COUNT(*) AS n_union, SUM(in_a * in_b) AS n_common
  FROM member GROUP BY 1, 2
)
SELECT p.t_a, p.t_b, p.est_a, p.est_b,
       CASE WHEN p.theta = {_KMV_M}
            THEN CAST(COALESCE(c.n_union, 0) AS BIGINT)
            ELSE CAST((COALESCE(c.n_union, 0) * CAST({_KMV_M} AS BIGINT))
                      // p.theta AS BIGINT) END AS est_union,
       CASE WHEN p.theta = {_KMV_M}
            THEN CAST(COALESCE(c.n_common, 0) AS BIGINT)
            ELSE CAST((COALESCE(c.n_common, 0) * CAST({_KMV_M} AS BIGINT))
                      // p.theta AS BIGINT) END AS est_intersection
FROM pairs p LEFT JOIN counts c ON p.t_a = c.t_a AND p.t_b = c.t_b
""",
    # HUGEINT accumulation mirrors the Spark side's decimal(38,0); the
    # one double division is correctly-rounded IEEE in both engines
    "agg_gini": """
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC, o_custkey ASC) AS i
  FROM per_cust
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS s1,
         SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS s2
  FROM ranked
)
SELECT n AS n_customers,
       CAST(s1 AS BIGINT) AS total_cents,
       ROUND(CAST(2 * s2 - (n + 1) * s1 AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)), 6) AS gini
FROM s
""",
    "agg_quantile_shard_merge": f"""
WITH hist AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS shard,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cent,
         COUNT(*) AS bucket_n
  FROM orders GROUP BY 1, 2
),
u AS (
  SELECT shard, cent, bucket_n FROM hist
  UNION ALL
  SELECT 'ALL' AS shard, cent, SUM(bucket_n) AS bucket_n
  FROM hist GROUP BY cent
)
SELECT shard, CAST(n AS BIGINT) AS n,
       {", ".join(f"CAST({c} AS DOUBLE) / 100.0 AS {c}" for c in _QSM_PICKS)}
FROM ({_dk_nearest_rank("u", ["shard"], "cent", "bucket_n", _QSM_PICKS)})
""",
    # same histogram/edges/integer-threshold shape as the Spark plan;
    # HUGEINT sums mirror decimal(38,0), one CAST-DOUBLE division
    "agg_winsorized_stats": f"""
WITH h AS (
  SELECT o_orderpriority AS prio,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cent,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
), e AS ({_dk_nearest_rank("h", ["prio"], "cent", "cnt", _WS_PICKS)})
SELECT prio AS o_orderpriority,
       CAST(MAX(e.n) AS BIGINT) AS n_orders,
       CAST(MAX(e.lo) AS DOUBLE) / 100.0 AS p05,
       CAST(MAX(e.hi) AS DOUBLE) / 100.0 AS p95,
       ROUND(CAST(SUM(CAST(h.cnt AS HUGEINT)
                      * LEAST(GREATEST(h.cent, e.lo), e.hi)) AS DOUBLE)
             / CAST(100 * MAX(e.n) AS DOUBLE), 4) AS winsorized_mean,
       ROUND(CAST(SUM(CASE WHEN h.cent BETWEEN e.lo AND e.hi
                      THEN CAST(h.cnt AS HUGEINT) * h.cent
                      ELSE 0 END) AS DOUBLE)
             / CAST(100 * SUM(CASE WHEN h.cent BETWEEN e.lo AND e.hi
                              THEN h.cnt ELSE 0 END) AS DOUBLE), 4)
         AS trimmed_mean
FROM h JOIN e USING (prio) GROUP BY prio
""",
    "agg_weighted_quartiles": (
        "SELECT l_returnflag, "
        + ", ".join(
            f"CAST({c} AS DOUBLE) / 100.0 AS p{p}_price"
            for c, p in _WQ_PICKS.items()
        )
        + " FROM ("
        + _dk_nearest_rank(
            _DK_FLAG_CENTS, ["l_returnflag"], "cent", "l_quantity", _WQ_PICKS
        )
        + ")"
    ),
    "agg_weighted_median": (
        "SELECT l_returnflag, "
        "CAST(c50 AS DOUBLE) / 100.0 AS weighted_median_price FROM ("
        + _dk_nearest_rank(
            _DK_FLAG_CENTS, ["l_returnflag"], "cent", "l_quantity",
            {"c50": 50},
        )
        + ")"
    ),
    "agg_argmax": (
        "SELECT c_mktsegment, "
        "(max(struct_pack(b := c_acctbal, k := c_custkey))).k AS top_cust, "
        "(min(struct_pack(b := c_acctbal, k := c_custkey))).k AS bottom_cust, "
        "ROUND(MAX(c_acctbal), 2) AS top_bal "
        "FROM customer GROUP BY c_mktsegment"
    ),
    "agg_bitmap_distinct": (
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    # Flat aggregate over the full table — proves base+delta state merge
    # is exact (sum drift ~1e-8 absorbed by the 2dp/4dp rounding).
    "agg_incremental_merge": (
        "SELECT o_orderpriority, "
        "ROUND(SUM(o_totalprice), 2) AS total, "
        "COUNT(*) AS n_orders, "
        "MIN(o_totalprice) AS min_price, "
        "MAX(o_totalprice) AS max_price, "
        "ROUND(SUM(o_totalprice) / COUNT(*), 4) AS avg_price "
        "FROM orders GROUP BY o_orderpriority"
    ),
    "agg_mode": (
        "SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n FROM ("
        "SELECT l_returnflag, l_quantity, COUNT(*) AS n, "
        "ROW_NUMBER() OVER (PARTITION BY l_returnflag "
        "ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn "
        "FROM lineitem GROUP BY l_returnflag, l_quantity) WHERE rn = 1"
    ),
    "agg_bitwise": (
        "SELECT l_returnflag, "
        "CAST(bit_and(l_linenumber) AS BIGINT) AS and_ln, "
        "CAST(bit_or(l_linenumber) AS BIGINT) AS or_ln, "
        "CAST(bit_xor(l_linenumber) AS BIGINT) AS xor_ln "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_corr": (
        "SELECT l_linestatus, "
        "ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp, "
        "ROUND(covar_samp(l_quantity, l_discount), 6) AS cov_qd "
        "FROM lineitem GROUP BY l_linestatus"
    ),
    "agg_listagg": (
        "SELECT n_regionkey, "
        "string_agg(n_name, ',' ORDER BY n_name) AS names, "
        "CAST(COUNT(DISTINCT n_name) AS INT) AS n_distinct "
        "FROM nation GROUP BY n_regionkey"
    ),
    "agg_groupby": (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "ROUND(SUM(o_totalprice), 2) AS sum_price, "
        "ROUND(AVG(o_totalprice), 4) AS avg_price, "
        "MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price "
        "FROM orders GROUP BY o_orderpriority"
    ),
    "agg_distinct": (
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, "
        "COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_rollup": (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        "ROUND(SUM(o_totalprice), 2) AS sum_price "
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"
    ),
    "agg_cube": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "ROUND(SUM(l_quantity), 2) AS sum_qty "
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
    ),
    "agg_grouping_sets": (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"
    ),
    "agg_percentile": (
        "SELECT l_returnflag, "
        "quantile_cont(l_quantity, 0.5) AS median_qty, "
        "quantile_cont(l_quantity, 0.9) AS p90_qty "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "agg_stats": (
        "SELECT o_orderstatus, ROUND(STDDEV_SAMP(o_totalprice), 4) AS sd_price, "
        "ROUND(VAR_SAMP(o_totalprice), 2) AS var_price, COUNT(*) AS n "
        "FROM orders GROUP BY o_orderstatus"
    ),
}
