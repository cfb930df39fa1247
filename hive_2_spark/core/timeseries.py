"""Time-series operators: gap-filled resampling (hypertable-rollup shape),
linear gap interpolation, and value histograms.

- ``ts_resample``: events rolled up to a 30-minute grid per event_type,
  with EMPTY buckets materialized (the time spine) — the "hypertable
  rollup + gap fill" pattern. The spine is generated from the observed
  min/max with ``sequence`` + ``explode``; at scale the spine is a
  metadata-sized cross join (buckets x types), never a fact-table blowup.
- ``ts_interpolate``: the same grid with empty buckets LINEARLY
  INTERPOLATED between their nearest observed neighbors (leading/trailing
  gaps back-/forward-fill) — the hypertable ``interpolate()`` shape.
  Pure window algebra: two IGNORE NULLS carries per direction, weights in
  exact integer microseconds; one shuffle on event_type, no Python.
- ``agg_histogram``: fixed-bin value histogram via ``width_bucket`` —
  bin edges shared with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core.windows import _dk_nearest_rank, nearest_rank

BUCKET = "30 minutes"
BUCKET_S = 1800


def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min rollup per event_type with gap-filled empty buckets."""
    e = load_table(spark, sf_dir, "events")
    bucketed = e.groupBy(
        F.window("ts", BUCKET).alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).select(F.col("w.start").alias("bucket"), "event_type", "n", "sum_value")

    bounds = e.agg(
        F.min(F.date_trunc("hour", "ts")).alias("lo"),
        F.max("ts").alias("hi"),
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence(
                    F.col("lo"),
                    F.col("hi"),
                    F.expr(f"INTERVAL {BUCKET}"),
                )
            ).alias("bucket")
        )
        .crossJoin(e.select("event_type").distinct())
    )
    return (
        spine.join(bucketed, on=["bucket", "event_type"], how="left")
        .select(
            "bucket",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        )
    )


def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 30-min grid with linear interpolation of empty buckets.

    For each empty bucket: value = prev + (next - prev) * frac, where
    frac is the exact integer-microsecond position between the two
    nearest observed buckets; leading gaps take the next observed value,
    trailing gaps the previous. Quantized with floor(x*10000 + 0.5)
    (engine-identical half-up; plain ROUND differs at halves).
    """
    from pyspark.sql import Window as W

    g = ts_resample(spark, sf_dir)
    us = F.unix_micros(F.col("bucket"))
    v = F.when(F.col("n") > 0, F.col("sum_value"))
    g = g.select("bucket", "event_type", "n", us.alias("us"), v.alias("v"))

    before = (
        W.partitionBy("event_type")
        .orderBy("us")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    after = (
        W.partitionBy("event_type")
        .orderBy("us")
        .rowsBetween(1, W.unboundedFollowing)
    )
    obs_us = F.when(F.col("v").isNotNull(), F.col("us"))
    carried = g.select(
        "bucket",
        "event_type",
        "n",
        "us",
        "v",
        F.last("v", ignorenulls=True).over(before).alias("pv"),
        F.last(obs_us, ignorenulls=True).over(before).alias("pus"),
        F.first("v", ignorenulls=True).over(after).alias("nv"),
        F.first(obs_us, ignorenulls=True).over(after).alias("nus"),
    )
    frac = (F.col("us") - F.col("pus")) / (F.col("nus") - F.col("pus"))
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return carried.select(
        "bucket",
        "event_type",
        "n",
        (F.floor(interp * 10000.0 + 0.5) / 10000.0).alias("value_interp"),
    )


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin histogram of order totals via width_bucket."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bin",
            F.width_bucket(
                F.col("o_totalprice"), F.lit(0.0), F.lit(500000.0), F.lit(20)
            ),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# EWMA smoothing factor. 0.3/0.7 are written as LITERALS on both
# engines (never `1 - alpha` at runtime): the fold must execute the
# bit-identical IEEE sequence `0.3*x + 0.7*acc` in Spark and DuckDB
# for hash parity.
_EWMA_A = 0.3
_EWMA_B = 0.7


def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values.

    ewma_1 = v_1; ewma_i = a*v_i + (1-a)*ewma_{i-1} over the user's
    events in (ts, event_id) order — the classic smoothing recurrence,
    which no fixed-frame window can express (every prior row
    contributes, geometrically damped).

    Implementation: one hash aggregation collects each user's ordered
    (ts, event_id, value) sequence, then a JVM ``aggregate`` lambda
    folds it left — identical op order to DuckDB's ``list_reduce``, so
    doubles match bit-for-bit. Scale: one shuffle keyed by user_id;
    per-user state is that user's event list (panel data: thousands of
    rows/user at most, far under executor memory) — the same
    sessionization-shaped distribution ``core.events`` relies on. No
    global sort, no Python.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    g = e.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq")
    )
    vals = F.transform(F.col("seq"), lambda s: s["value"])
    ewma = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(_EWMA_A) * x + F.lit(_EWMA_B) * acc,
    )
    return g.select(
        "user_id",
        F.size("seq").cast("bigint").alias("n_events"),
        F.round(ewma, 4).alias("ewma"),
    )


_IQR_PICKS = {"q1c": 25, "q3c": 75}


def ts_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY-FENCE (IQR) outlier census over the hourly series — the
    third member of the anomaly triad (z-score: parametric on points;
    MAD: robust scale on points; IQR: robust RANK fences on the
    rolled-up series): per event_type, hours whose revenue falls
    outside [q1 - 1.5*IQR, q3 + 1.5*IQR] of the observed hourly
    distribution — the box-plot rule a metrics dashboard draws.

    ALL-INTEGER exactness: hourly sums are exact cents; q1/q3 are
    :func:`nearest_rank` picks, and the fences are CROSS-MULTIPLIED
    (x < q1 - 1.5*IQR  <=>  2x < 5*q1 - 3*q3) so no fractional fence
    value ever materializes — no float boundary can flip a flag on
    either engine. Dollars divide once in the output.

    Scale: the fact table collapses to the calendar-bounded hourly
    series first; the rank window and census ride per-type partitions
    of <= 8,760 rows/year, and the 5-row quartile frame broadcasts
    back.

    Output per event_type: n_pts, q1, q3, n_low, n_high.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.sum("value") * 100).cast("bigint").alias("x"))
    qs = nearest_rank(hourly, ["event_type"], "x", F.lit(1), _IQR_PICKS)
    j = hourly.join(F.broadcast(qs), "event_type")
    low = (2 * F.col("x") < 5 * F.col("q1c") - 3 * F.col("q3c"))
    high = (2 * F.col("x") > 5 * F.col("q3c") - 3 * F.col("q1c"))
    return j.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_pts"),
        (F.max("q1c").cast("double") / F.lit(100.0)).alias("q1"),
        (F.max("q3c").cast("double") / F.lit(100.0)).alias("q3"),
        F.sum(low.cast("bigint")).alias("n_low"),
        F.sum(high.cast("bigint")).alias("n_high"),
    )


def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outliers: events whose value sits >= 3 population
    standard deviations from their event_type's mean.

    Two-pass exact anomaly detection: one hash agg computes per-type
    (mean, stddev_pop) — a handful of rows, auto-broadcast back onto
    the fact scan — then a single codegen pass flags outliers. Scale:
    the stats agg is map-side partial + tiny final; the flagging join
    is a BroadcastHashJoin, so the fact table is scanned once with no
    fact-sized shuffle at any size. The filter compares the UNROUNDED
    z on both engines; rounding happens only in the output column.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(stats, "event_type")
        .filter(F.abs(z) >= 3.0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("z"),
        )
    )


_MAD_K = 0.6745  # Phi^-1(0.75): scales MAD to sigma-equivalents
_MAD_CUT = 3.5   # Iglewicz–Hoaglin modified-z threshold


def _mad_model(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The median/MAD model of ``e``'s values per event_type: the
    (event_type, med) and (event_type, mad) frames :func:`_mad_flags`
    scores against. Per-type exact medians (hash agg; per-type state is
    a sort within the aggregate — with a handful of types this is the
    textbook case for `percentile`; at extreme cardinality you'd swap in
    the cent histogram of `core.windows.nearest_rank`), then the
    medians broadcast back and |v − med| aggregated to the per-type MAD.
    :data:`_DK_MAD_FLAGS` is the DuckDB twin of both functions.
    """
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return med, mad


def _mad_flags(e: DataFrame, med: DataFrame, mad: DataFrame) -> DataFrame:
    """Rows of ``e`` (batch or stream) whose modified z under the model
    is ≥ ``_MAD_CUT``: both model frames broadcast, one codegen pass.
    The filter compares UNROUNDED modified z on both engines; output
    rounds only. Types whose MAD is 0 (>50% identical values) are
    excluded on both sides rather than dividing by zero."""
    z = _MAD_K * (F.col("value") - F.col("med")) / F.col("mad")
    # FLOOR(x*1e4+0.5)/1e4, not ROUND: the doubles are bit-identical
    # across engines (exact interpolated percentiles), but DuckDB's
    # ROUND double-rounds through a decimal intermediate and flips
    # .x49999... boundaries (observed at sf0.1) — the explicit-floor
    # idiom (same as ts_rollup_cascade's avg) is formula-identical on
    # both sides.
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(z) >= _MAD_CUT))
        .select(
            "event_id",
            "event_type",
            "value",
            (F.floor(z * 10000.0 + 0.5) / 10000.0).alias("mz"),
        )
    )


# quantile_cont interpolates like Spark's exact `percentile`; the
# modified-z filter compares unrounded doubles on both engines
_DK_MAD_FLAGS = f"""med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
), flagged AS (
  SELECT e.event_id, e.event_type, e.value,
         FLOOR({_MAD_K} * (e.value - m.med) / d.mad * 10000.0 + 0.5)
           / 10000.0 AS mz
  FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
  WHERE d.mad > 0
    AND abs({_MAD_K} * (e.value - m.med) / d.mad) >= {_MAD_CUT}
)"""


def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers: modified z-score 0.6745*(v − median)/MAD ≥ 3.5
    per event_type — the median/MAD twin of :func:`ts_anomaly_zscore`
    for when the mean/stddev are themselves polluted by the outliers.
    Three passes, none fact-shuffled: the two of :func:`_mad_model`,
    then :func:`_mad_flags` over the same table."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return _mad_flags(e, *_mad_model(e))


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition per event_type: for each
    (type, hour) cell, the cell mean, its seasonal index (cell mean −
    type mean), and the within-cell residual stddev — the classic
    "seasonal profile + residual" table a monitoring pipeline alarms
    on (is 3am traffic low because it is always low, or anomalously?).

    ONE fact-sized aggregation: the (type, hour) hash agg carries
    mergeable (n, cent-sum, stddev) state; the per-type mean is then
    re-derived from the 24 cell rows (sum of sums / sum of counts — a
    metadata-sized second agg, NOT a second fact scan) and broadcast
    back onto the cells. Values are 2-decimal, so the cell sums are
    EXACT INTEGER CENTS — order-independent across engines, no
    float-summation boundary exists for the means (the lesson from the
    first cut of this op: a double SUM drifted one ULP and flipped a
    ROUND(...,4) at sf0.001). stddev keeps the usual rounded-double
    treatment.
    """
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    cells = (
        e.select("event_type", F.hour("ts").alias("hh"), "value",
                 cents.alias("vc"))
        .groupBy("event_type", "hh")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vc").alias("sc"),
            F.stddev_pop("value").alias("sd"),
        )
    )
    tmean = cells.groupBy("event_type").agg(
        F.sum("sc").alias("tsc"), F.sum("n").alias("tn")
    )
    hour_avg_raw = F.col("sc").cast("double") / (100.0 * F.col("n"))
    type_avg_raw = F.col("tsc").cast("double") / (100.0 * F.col("tn"))

    def _r4(c):
        return F.floor(c * 10000.0 + 0.5) / 10000.0

    return (
        cells.join(F.broadcast(tmean), "event_type")
        .select(
            "event_type",
            F.col("hh").cast("bigint").alias("hh"),
            "n",
            _r4(hour_avg_raw).alias("hour_avg"),
            _r4(hour_avg_raw - type_avg_raw).alias("seasonal"),
            F.round("sd", 4).alias("resid_std"),
        )
    )


def ts_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of event value over time (least squares).

    ``regr_slope`` / ``regr_intercept`` / ``regr_r2`` over
    (value, days-since-epoch) — the built-in OLS aggregates, so the fit
    is one partial+final hash aggregation: each map task accumulates
    (n, sum_x, sum_y, sum_xx, sum_xy, sum_yy) moments and the shuffle
    carries one 6-tuple per (task x type). The same mergeable-moments
    trick scales to any fact volume — no sort, no window, no second
    pass. x is epoch DAYS (not micros) so the slope magnitude survives
    rounding on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    x = (F.unix_micros(F.col("ts")) / F.lit(86400000000.0)).alias("x")
    return (
        e.select("event_type", F.col("value").alias("y"), x)
        .groupBy("event_type")
        .agg(
            F.regr_count("y", "x").cast("bigint").alias("n"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 2).alias("icept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        )
    )


def ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup computed FROM hourly partials (hypertable cascade).

    The hourly layer keeps mergeable state only (count/sum/min/max);
    the daily layer re-aggregates the partials — ``sum(n)``,
    ``sum(sum)``, ``min(min)``, ``max(max)`` — and derives avg at read
    time. This is the continuous-aggregate / materialized-rollup
    pattern: each coarser resolution costs O(finer-layer rows), never a
    rescan of the raw facts, and late data patches one hourly bucket +
    its single daily parent. The oracle aggregates the raw table
    directly, proving the cascade is lossless.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "h").alias("day"), "event_type"
    ).agg(
        F.sum("n").alias("n"),
        F.round(F.sum("s"), 2).alias("sum_value"),
        F.round(F.min("mn"), 2).alias("min_value"),
        F.round(F.max("mx"), 2).alias("max_value"),
    )
    # avg derives from the ALREADY-ROUNDED sum so both engines divide
    # identical doubles — a raw-sum avg can flip at a round-4 boundary
    # when partial-agg order differs.
    return daily.withColumn(
        "avg_value",
        F.floor(F.col("sum_value") / F.col("n") * 10000 + F.lit(0.5))
        / F.lit(10000.0),
    )


_FORECAST_DAYS = 7


def ts_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day-ahead linear forecast per event type: the ``ts_trend``
    OLS line evaluated at max(observed day) + 1..7.

    The simplest defensible forecast, and the one every dashboard
    ships first. Cost = the trend fit (one moments aggregation, see
    ``ts_trend``) + a 7-row-per-type explode — the forecast itself is
    metadata-sized at any fact volume. Coefficients stay UNROUNDED
    through the projection (rounding them first would compound across
    the horizon); only the forecast value rounds.
    """
    e = load_table(spark, sf_dir, "events")
    x = (F.unix_micros(F.col("ts")) / F.lit(86400000000.0)).alias("x")
    fit = (
        e.select("event_type", F.col("value").alias("y"), x)
        .groupBy("event_type")
        .agg(
            F.regr_slope("y", "x").alias("sl"),
            F.regr_intercept("y", "x").alias("ic"),
            F.max("x").alias("mx"),
        )
    )
    return fit.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(_FORECAST_DAYS))).alias("d"),
        "sl",
        "ic",
        "mx",
    ).select(
        "event_type",
        F.col("d").cast("bigint").alias("ahead"),
        F.round(
            F.col("ic") + F.col("sl") * (F.col("mx") + F.col("d")), 4
        ).alias("forecast"),
    )


_ACF_MAX_LAG = 6


def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..6) of each event_type's hourly
    value series — the periodicity probe that complements
    ``ts_seasonal_decompose`` (ACF spikes at lag 24 = daily cycle, etc.).

    Scale shape: the fact table collapses to an HOURLY series first
    (map-side partial agg + one exchange), so every window partition is
    calendar-bounded — a year of events is 8,760 points per type no
    matter how many trillions of raw rows fed it. One lead-window pass
    produces all K lag products (stack + re-agg), never K self-joins.

    Cross-engine exactness: hourly sums become integer CENTS, and the
    classic mean-centering is rescaled by n^2 so numerator and
    denominator are exact INTEGER sums — r_k = sum(y_t*y_{t+k}) /
    sum(y_t^2) with y_t = n*x_t - S1 (the n^2 factors cancel). Both
    engines divide the same two exact integers, so the quotient is
    bit-identical (decimal(38) accumulation; DuckDB uses HUGEINT).
    Missing hours are skipped, not zero-filled: this is the ACF of the
    observed hourly sequence (``ts_resample`` owns gap filling).

    Output: event_type, lag, n (series length), acf (null when fewer
    than lag+1 points or a constant series).
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.round(F.sum("value") * 100)
            .cast("decimal(38,0)")
            .alias("x")
        )
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s1"),
    )
    y = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "h",
        F.col("n").cast("bigint").alias("n_pts"),
        (F.col("n") * F.col("x") - F.col("s1"))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    leads = y.select(
        "event_type",
        "n_pts",
        "y",
        *[
            F.lead("y", k).over(w).alias(f"y{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    stack_args = ", ".join(
        f"{k}, CAST(y * y{k} AS decimal(38,0))"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    pairs = leads.select(
        "event_type",
        "n_pts",
        F.expr(f"stack({_ACF_MAX_LAG}, {stack_args}) AS (lag, p)"),
    )
    per_lag = pairs.groupBy("event_type", "lag").agg(
        F.max("n_pts").alias("n"),
        F.sum("p").alias("num"),
    )
    # denominator over the UNSTACKED series (the stack fans each row
    # out 6x, which would inflate sum(y^2) by the lag count)
    denom = y.groupBy("event_type").agg(
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("den")
    )
    acf = F.when(
        F.col("num").isNotNull() & (F.col("den") != 0),
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double"), 6
        ),
    )
    return per_lag.join(denom, "event_type").select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n"),
        acf.alias("acf"),
    )


_HOLT_A = 0.5  # level smoothing
_HOLT_B = 0.3  # trend smoothing


def ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing of each event_type's
    hourly value series + the one-step-ahead forecast.

    The coupled recurrence (l_t depends on b_{t-1} and vice versa) is
    beyond any frame window — it is ``ts_ewma``'s fold pattern lifted
    to TWO states: one hash agg collects the calendar-bounded hourly
    series in (hour) order, then a JVM ``aggregate`` lambda folds a
    struct(l, b) accumulator left. Init l=y_2, b=y_2-y_1 (the
    textbook two-point start, algebraically equal to l_1=y_1,
    b_1=y_2-y_1 advanced one step); for t>=3:
    l_t = a*y_t + (1-a)*(l+b);  b_t = g*(l_t - l) + (1-g)*b.

    Cross-engine exactness: hourly sums are cents-rounded INTEGERS
    cast to double before the fold, the fold expressions are written
    token-for-token identically in the DuckDB lambda (same literals,
    same association), and units divide back by 100 only once at the
    end — so both engines run the same IEEE op sequence. Scale: the
    fact table collapses to <= 8,760 points/type/year before anything
    is collected; per-type state is that bounded series.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.round(F.sum("value") * 100)
        .cast("long")
        .cast("double")
        .alias("x")
    )
    g = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("h", "x"))).alias("seq")
    )
    vals = F.transform(F.col("seq"), lambda s: s["x"])
    n = F.size(vals)
    y1, y2 = F.element_at(vals, 1), F.element_at(vals, 2)
    zero = F.struct(y2.alias("l"), (y2 - y1).alias("b"))
    tail = F.slice(vals, F.lit(3), F.greatest(n - 2, F.lit(0)))

    def _step(acc, x):
        l_new = F.lit(_HOLT_A) * x + F.lit(1 - _HOLT_A) * (
            acc["l"] + acc["b"]
        )
        return F.struct(
            l_new.alias("l"),
            (
                F.lit(_HOLT_B) * (l_new - acc["l"])
                + F.lit(1 - _HOLT_B) * acc["b"]
            ).alias("b"),
        )

    fin = F.aggregate(tail, zero, _step)
    return g.filter(n >= 2).select(
        "event_type",
        n.cast("bigint").alias("n_pts"),
        F.round(fin["l"] / 100, 4).alias("level"),
        F.round(fin["b"] / 100, 4).alias("trend"),
        F.round((fin["l"] + fin["b"]) / 100, 4).alias("forecast_next"),
    )


_HW_A = 0.5  # level smoothing
_HW_G = 0.3  # trend smoothing
_HW_D = 0.2  # seasonal smoothing
_HW_M = 24   # hour-of-day season length


def ts_holtwinters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE (triple) exponential smoothing per
    event_type — the seasonal member that completes the forecasting
    family (EWMA = level, `ts_holt` = level+trend, this = level+
    trend+season): hourly revenue has an hour-of-day cycle, and the
    one-step forecast l + b + s_next is what a capacity planner or
    anomaly baseline actually consumes.

    The series is the ZERO-FILLED hourly grid (ts_resample's spine
    discipline — a seasonal index is only meaningful when slot t-m is
    exactly m hours back, so gaps become explicit 0-revenue hours).
    `ts_holt`'s struct(l, b) fold lifted to struct(l, b, s[1..m]):
    the seasonal queue carries the last m seasonal components, each
    step consumes the front (s_{t-m}) and appends s_t. Textbook
    two-season init: l0 = mean(y_1..y_m), b0 = (sum(y_{m+1..2m}) -
    sum(y_1..y_m))/m^2, s_i = y_i - l0; fold runs t = m+1..n.
    Types with fewer than 2m points are dropped (init undefined).

    Cross-engine exactness (the ts_holt discipline): hourly sums are
    cents-rounded INTEGERS cast to double, init sums are exact
    integer arithmetic before the single division, the fold
    expressions are written token-for-token identically in the DuckDB
    recursive-CTE replay (same literals, same association — l_new's
    expression is textually repeated inside b_new and s_new), and
    units divide back by 100 only once at the end.

    Scale: the fact table collapses to the calendar-bounded hourly
    grid (8,760 points/type/year) before anything is collected;
    per-type state is that bounded series plus an m-slot queue.
    """
    e = load_table(spark, sf_dir, "events")
    m = _HW_M
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.round(F.sum("value") * 100).cast("long").alias("xi")
    )
    bounds = e.agg(
        F.min(F.date_trunc("hour", "ts")).alias("lo"),
        F.max("ts").alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    ).crossJoin(e.select("event_type").distinct())
    grid = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("xi"), F.lit(0)).cast("long").cast("double")
        .alias("x"),
    )
    g = grid.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("h", "x"))).alias("seq")
    )
    vals = F.transform(F.col("seq"), lambda s: s["x"])
    n = F.size(vals)
    head = F.slice(vals, 1, m)
    nxt = F.slice(vals, m + 1, m)
    # sums of exact-integer doubles — order-independent, both engines
    s1 = F.aggregate(head, F.lit(0.0), lambda a, x: a + x)
    s2 = F.aggregate(nxt, F.lit(0.0), lambda a, x: a + x)
    l0 = s1 / F.lit(float(m))
    b0 = (s2 - s1) / F.lit(float(m * m))
    zero = F.struct(
        l0.alias("lv"),
        b0.alias("tr"),
        F.transform(head, lambda v: v - l0).alias("s"),
    )
    tail = F.slice(vals, m + 1, F.greatest(n - m, F.lit(0)))

    def _step(acc, x):
        sm = F.element_at(acc["s"], 1)
        l_new = F.lit(_HW_A) * (x - sm) + F.lit(1 - _HW_A) * (
            acc["lv"] + acc["tr"]
        )
        return F.struct(
            l_new.alias("lv"),
            (
                F.lit(_HW_G) * (l_new - acc["lv"])
                + F.lit(1 - _HW_G) * acc["tr"]
            ).alias("tr"),
            F.concat(
                F.slice(acc["s"], 2, m - 1),
                F.array(
                    F.lit(_HW_D) * (x - l_new) + F.lit(1 - _HW_D) * sm
                ),
            ).alias("s"),
        )

    fin = F.aggregate(tail, zero, _step)
    s_next = F.element_at(fin["s"], 1)
    return g.filter(n >= 2 * m).select(
        "event_type",
        n.cast("bigint").alias("n_pts"),
        F.round(fin["lv"] / 100, 4).alias("level"),
        F.round(fin["tr"] / 100, 4).alias("trend"),
        F.round(s_next / 100, 4).alias("season_next"),
        F.round((fin["lv"] + fin["tr"] + s_next) / 100, 4)
        .alias("forecast_next"),
    )


def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event_type hourly series: the
    split index k* maximizing |n·S_k − k·S_n| (the integer-rescaled
    max-deviation-from-trend statistic), plus the before/after means —
    the level-shift detector that complements MAD (point outliers) and
    seasonal decompose (cycles).

    Exactness: hourly sums are integer cents and the statistic is kept
    as n·S_k − k·S_n in decimal(38,0) (ts_acf's overflow-proof
    rescaling — the division by n·k that textbooks apply cancels for
    the argmax), so both engines take an argmax over EXACT integers.
    Ties break to the smallest k via (max-stat join + MIN(k)), not an
    engine-specific arg_max. Means divide once at the end, rounded 4.

    Scale: the fact table collapses to the calendar-bounded hourly
    series first; the cumsum window and the argmax ride per-type
    partitions of <= 8,760 rows/year.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.round(F.sum("value") * 100)
        .cast("decimal(38,0)")
        .alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    cum = hourly.select(
        "event_type",
        "h",
        F.row_number().over(w).cast("decimal(38,0)").alias("k"),
        F.sum("x")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("decimal(38,0)")
        .alias("sk"),
    )
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sn"),
    )
    d = (
        cum.join(F.broadcast(tot), "event_type")
        .filter((F.col("k") < F.col("n")) & (F.col("n") >= 2))
        .withColumn(
            "stat",
            F.abs(
                (F.col("n") * F.col("sk") - F.col("k") * F.col("sn")).cast(
                    "decimal(38,0)"
                )
            ),
        )
    )
    best = d.groupBy("event_type").agg(F.max("stat").alias("max_stat"))
    at = (
        d.join(F.broadcast(best), "event_type")
        .filter(F.col("stat") == F.col("max_stat"))
        .groupBy("event_type")
        .agg(F.min(F.struct("k", "h", "sk", "n", "sn")).alias("b"))
    )
    kk = F.col("b.k").cast("double")
    nn = F.col("b.n").cast("double")
    sk = F.col("b.sk").cast("double")
    sn = F.col("b.sn").cast("double")
    return at.select(
        "event_type",
        F.col("b.n").cast("bigint").alias("n_pts"),
        F.col("b.k").cast("bigint").alias("cp_k"),
        F.col("b.h").alias("cp_hour"),
        F.round(sk / kk / 100, 4).alias("mean_before"),
        F.round((sn - sk) / (nn - kk) / 100, 4).alias("mean_after"),
    )


_CCF_MAX_LAG = 3


def ts_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation (lead-lag) between every event_type pair's
    hourly series at lags 0..3 — ACF's bivariate sibling: does type A's
    volume at hour h predict type B's at h+k?

    Alignment is CALENDAR arithmetic, not sequence position: series x
    at epoch-hour e joins series y at e + k (exact integer hour ids =
    unix_micros div 3600e6), so gaps misalign nothing. All moments
    (m, Sx, Sy, Sxy, Sxx, Syy) accumulate as exact integers in
    decimal(38,0)/HUGEINT over the aligned sample; r = (m·Sxy − Sx·Sy)
    / (sqrt(m·Sxx − Sx²) · sqrt(m·Syy − Sy²)) is computed double-for-
    double in the same order — IEEE sqrt is correctly rounded, so both
    engines produce bit-identical r. NULL when either side is constant
    (zero variance). Scale: the join operands are the calendar-bounded
    hourly collapse (8,760 rows/type/year); the lag fan-out is a
    4-constant explode.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.sum("value") * 100).cast("long").alias("x"))
    he = hourly.select(
        "event_type",
        F.expr("unix_micros(h) div 3600000000").alias("he"),
        "x",
    )
    a = he.select(
        F.col("event_type").alias("t_x"),
        "he",
        F.col("x").alias("vx"),
    ).withColumn(
        "lag", F.explode(F.array(*[F.lit(k) for k in range(_CCF_MAX_LAG + 1)]))
    )
    b = he.select(
        F.col("event_type").alias("t_y"),
        (F.col("he")).alias("he_y"),
        F.col("x").alias("vy"),
    )
    # BOTH lead directions for lag >= 1 ("x leads y" is not "y leads
    # x"); lag 0 is symmetric, so one row per unordered pair suffices
    j = a.join(
        b,
        (F.col("he_y") == F.col("he") + F.col("lag"))
        & (
            ((F.col("lag") > 0) & (F.col("t_x") != F.col("t_y")))
            | ((F.col("lag") == 0) & (F.col("t_x") < F.col("t_y")))
        ),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = j.groupBy("t_x", "t_y", "lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        dec(F.sum("vx")).alias("sx"),
        dec(F.sum("vy")).alias("sy"),
        dec(F.sum(dec(F.col("vx")) * dec(F.col("vy")))).alias("sxy"),
        dec(F.sum(dec(F.col("vx")) * dec(F.col("vx")))).alias("sxx"),
        dec(F.sum(dec(F.col("vy")) * dec(F.col("vy")))).alias("syy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    varx = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vary = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    r = num / F.nullif(F.sqrt(varx) * F.sqrt(vary), F.lit(0.0))
    return s.filter(F.col("m") >= 2).select(
        "t_x",
        "t_y",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("m").cast("bigint").alias("n_aligned"),
        F.round(r, 4).alias("ccf"),
    )


_DRIFT_BANDS = 10          # fixed value bands over [0, 500)
_DRIFT_SPLIT_DAYS = 15     # reference window length (days from corpus start)
_DRIFT_TVD_FLAG_PM = 100   # flag types whose TVD exceeds 10%


def ts_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor per event_type: the value histogram
    of the REFERENCE window (first 15 days) vs the CURRENT window
    (the rest), summarized as total-variation distance and a
    chi-square-style statistic — the drift gate a training pipeline
    runs before trusting new data (PSI's ln() replaced by rational
    statistics so every number is an exact integer).

    All-integer determinism: band = width_bucket over fixed edges;
    per-band shares are per-mille via integer division; TVD_pm =
    sum|p-q| div 2 (integers); chi2_micro = per-band
    floor(d^2 * 1e6 / (p+q)) summed — integer division PER BAND, so
    no double summation order exists at all. The split day is a
    1-row min-day scalar broadcast (the scalar-subquery shape).
    An event_type entirely absent from one window is the STRONGEST
    drift signal, not a divide-by-zero: tp=0/tq=0 is guarded and the
    type reports tvd_pm=1000, drifted=true (the empty window's share
    is defined as 0 per-mille in every band).

    Scale: one fact scan -> (type, window, band) map-side-combined
    counts (a few hundred cells); everything after is metadata-sized.

    Output: event_type, n_ref, n_cur, tvd_pm, chi2_micro, drifted.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    lo = e.agg(F.min(day).alias("d0"))
    binned = (
        e.select(day.alias("d"), "event_type", "value")
        .crossJoin(F.broadcast(lo))
        .select(
            "event_type",
            (F.col("d") < F.col("d0") + _DRIFT_SPLIT_DAYS).alias("is_ref"),
            F.width_bucket(
                F.col("value"), F.lit(0.0), F.lit(500.0), F.lit(_DRIFT_BANDS)
            ).alias("band"),
        )
    )
    cells = binned.groupBy("event_type", "band").agg(
        F.sum(F.col("is_ref").cast("bigint")).alias("n_p"),
        F.sum((~F.col("is_ref")).cast("bigint")).alias("n_q"),
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("n_p").alias("tp"), F.sum("n_q").alias("tq")
    )
    shares = cells.join(totals, "event_type").select(
        "event_type",
        "band",
        F.expr(
            "CASE WHEN tp > 0 THEN n_p * 1000 div tp ELSE 0 END"
        ).alias("p_pm"),
        F.expr(
            "CASE WHEN tq > 0 THEN n_q * 1000 div tq ELSE 0 END"
        ).alias("q_pm"),
        "tp",
        "tq",
    )
    s = F.col("p_pm") + F.col("q_pm")
    chi_band = F.when(s > 0, F.expr(
        "(p_pm - q_pm) * (p_pm - q_pm) * 1000000 div (p_pm + q_pm)"
    )).otherwise(F.lit(0))
    return (
        shares.groupBy("event_type")
        .agg(
            F.max("tp").cast("bigint").alias("n_ref"),
            F.max("tq").cast("bigint").alias("n_cur"),
            F.expr("CAST(sum(abs(p_pm - q_pm)) DIV 2 AS BIGINT)").alias(
                "tvd_raw"
            ),
            F.sum(chi_band).cast("bigint").alias("chi2_micro"),
        )
        .withColumn(
            "tvd_pm",
            F.when(
                (F.col("n_ref") == 0) | (F.col("n_cur") == 0), F.lit(1000)
            ).otherwise(F.col("tvd_raw")).cast("bigint"),
        )
        .withColumn("drifted", F.col("tvd_pm") > _DRIFT_TVD_FLAG_PM)
        .select("event_type", "n_ref", "n_cur", "tvd_pm", "chi2_micro",
                "drifted")
    )


_DRIFT_ORACLE = f"""
WITH lo AS (
  SELECT MIN(epoch_us(ts) // 86400000000) AS d0 FROM events
), binned AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000) < d0 + {_DRIFT_SPLIT_DAYS} AS is_ref,
         CASE WHEN value >= 500.0 THEN {_DRIFT_BANDS} + 1
              WHEN value < 0.0 THEN 0
              ELSE CAST(FLOOR(value / (500.0 / {_DRIFT_BANDS})) AS INT) + 1
         END AS band
  FROM events, lo
), cells AS (
  SELECT event_type, band,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_p,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_q
  FROM binned GROUP BY 1, 2
), totals AS (
  SELECT event_type, SUM(n_p) AS tp, SUM(n_q) AS tq
  FROM cells GROUP BY 1
), shares AS (
  SELECT c.event_type, c.band,
         CASE WHEN t.tp > 0 THEN c.n_p * 1000 // t.tp ELSE 0 END AS p_pm,
         CASE WHEN t.tq > 0 THEN c.n_q * 1000 // t.tq ELSE 0 END AS q_pm,
         t.tp, t.tq
  FROM cells c JOIN totals t USING (event_type)
), agg AS (
  SELECT event_type,
         CAST(MAX(tp) AS BIGINT) AS n_ref,
         CAST(MAX(tq) AS BIGINT) AS n_cur,
         CAST(SUM(ABS(p_pm - q_pm)) // 2 AS BIGINT) AS tvd_raw,
         CAST(SUM(CASE WHEN p_pm + q_pm > 0
              THEN (p_pm - q_pm) * (p_pm - q_pm) * 1000000 // (p_pm + q_pm)
              ELSE 0 END) AS BIGINT) AS chi2_micro
  FROM shares GROUP BY event_type
)
SELECT event_type, n_ref, n_cur,
       CAST(CASE WHEN n_ref = 0 OR n_cur = 0 THEN 1000
            ELSE tvd_raw END AS BIGINT) AS tvd_pm,
       chi2_micro,
       (CASE WHEN n_ref = 0 OR n_cur = 0 THEN 1000 ELSE tvd_raw END)
         > {_DRIFT_TVD_FLAG_PM} AS drifted
FROM agg
"""


_LTTB_T = 12  # output points per series (first + 10 buckets + last)


def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of each
    event_type's hourly series to 12 points — the shape-preserving
    reduction dashboards run before plotting (keeps peaks/valleys a
    uniform stride would miss).

    LTTB is inherently SEQUENTIAL (each bucket's pick is the triangle
    with the PREVIOUS pick and the next bucket's centroid), so like
    ts_ewma/ts_holt it is a fold: one hash agg collects each type's
    calendar-bounded hourly series, then a JVM ``aggregate`` over the
    10 interior bucket indices carries struct(prev_pick, selected[])
    left to right. EXACT integer geometry: x = epoch-hour id, y =
    summed cents; the next-bucket centroid (Sx/c, Sy/c) is cleared of
    its division by multiplying the triangle area through by c, so
    the argmax compares exact decimal(38,0)/HUGEINT areas — no float
    ever, and no silent BIGINT wrap at 100 TB y-magnitudes (~1e13
    cents x c ~1e3 passes 2^63) — tie to smallest x
    via (area, -x) struct-max. Series with <= 12 points pass through
    unchanged. The oracle replays all 10 picks as unrolled CTE rounds
    (the kmeans-unroll pattern; DuckDB's list_reduce mutates struct
    state in place — the ts_holt lesson — so folds with struct state
    replay as chained CTEs/recursion, never list_reduce).

    Scale: the fact scan collapses to <= 8,760 hourly rows per type
    per year BEFORE collection; the fold state is one 12-point array.

    Output: event_type, sel_idx, x (epoch hour), y_cents, y.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.round(F.sum("value") * 100).cast("long").alias("y")
    ).select(
        "event_type",
        F.expr("unix_micros(h) div 3600000000").alias("x"),
        "y",
    )
    g = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("x", "y"))).alias("seq")
    )
    n = F.size("seq")
    T, B = _LTTB_T, _LTTB_T - 2

    small = (
        g.filter(n <= T)
        .select("event_type", F.posexplode("seq").alias("pos", "p"))
        .select(
            "event_type",
            (F.col("pos") + 1).cast("bigint").alias("sel_idx"),
            F.col("p.x").alias("x"),
            F.col("p.y").alias("y_cents"),
        )
    )

    big = g.filter(n > T)
    seq = F.col("seq")
    first = F.element_at(seq, 1)
    last = F.element_at(seq, n)

    def _step(acc, i):
        # bucket bounds: floor() over exact integer ratios — the
        # ratios stay far below 2^53 (hourly series are calendar-
        # bounded), so the double floor equals integer division
        lo = F.floor(((i - 1) * (n - 2)) / B) + 2
        hi = F.floor((i * (n - 2)) / B) + 1
        bucket = F.slice(seq, lo.cast("int"), (hi - lo + 1).cast("int"))
        lo2 = F.floor((i * (n - 2)) / B) + 2
        hi2 = F.floor(((i + 1) * (n - 2)) / B) + 1
        nxt = F.when(
            i < F.lit(B),
            F.slice(seq, lo2.cast("int"), (hi2 - lo2 + 1).cast("int")),
        ).otherwise(F.slice(seq, n.cast("int"), 1))
        # area factors in decimal(38,0): y is summed cents (~1e13 at
        # 100 TB hourly) and c ~1e3+, so the cross products pass 2^63
        # where BIGINT wraps silently in Spark and raises in DuckDB —
        # decimal/HUGEINT keeps the geometry exact AND cross-engine
        # (the ts_changepoint / ts_crosscorr convention).
        d38 = "decimal(38,0)"
        sx = F.aggregate(
            nxt, F.lit(0).cast(d38), lambda a, p: a + p["x"]
        )
        sy = F.aggregate(
            nxt, F.lit(0).cast(d38), lambda a, p: a + p["y"]
        )
        c = F.size(nxt).cast(d38)
        px = acc["prev"]["x"].cast(d38)
        py = acc["prev"]["y"].cast(d38)
        scored = F.transform(
            bucket,
            lambda p: F.struct(
                F.abs(
                    (px * c - sx) * (p["y"].cast(d38) - py)
                    - (px - p["x"].cast(d38)) * (sy - py * c)
                ).alias("area"),
                (-p["x"]).alias("negx"),
                p.alias("p"),
            ),
        )
        best = F.array_max(scored)["p"]
        return F.struct(
            best.alias("prev"),
            F.concat(acc["sel"], F.array(best)).alias("sel"),
        )

    zero = F.struct(first.alias("prev"), F.array(first).alias("sel"))
    fin = F.aggregate(F.sequence(F.lit(1), F.lit(B)), zero, _step)
    big_out = (
        big.select(
            "event_type",
            F.posexplode(F.concat(fin["sel"], F.array(last))).alias(
                "pos", "p"
            ),
        )
        .select(
            "event_type",
            (F.col("pos") + 1).cast("bigint").alias("sel_idx"),
            F.col("p.x").alias("x"),
            F.col("p.y").alias("y_cents"),
        )
    )
    return (
        small.unionByName(big_out)
        .select(
            "event_type",
            "sel_idx",
            "x",
            "y_cents",
            (F.col("y_cents").cast("double") / 100.0).alias("y"),
        )
    )


def _lttb_oracle() -> str:
    """Unrolled-CTE replay: sel0 = first point; each round i joins the
    previous pick, scores bucket i's candidates with the SAME integer
    area, and keeps ROW_NUMBER() = 1 over (area DESC, x ASC)."""
    B = _LTTB_T - 2
    parts = [
        f"""
WITH hourly AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS x,
         CAST(ROUND(SUM(value) * 100) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), series AS (
  SELECT event_type, x, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn
  FROM hourly
), st AS (
  SELECT event_type, COUNT(*) AS n FROM series GROUP BY 1
), small AS (
  SELECT s.event_type, s.rn AS sel_idx, s.x, s.y
  FROM series s JOIN st USING (event_type) WHERE st.n <= {_LTTB_T}
), sel0 AS (
  SELECT s.event_type, s.x, s.y
  FROM series s JOIN st USING (event_type)
  WHERE st.n > {_LTTB_T} AND s.rn = 1
)"""
    ]
    for i in range(1, B + 1):
        lo = f"(({i} - 1) * (n - 2)) // {B} + 2"
        hi = f"({i} * (n - 2)) // {B} + 1"
        if i < B:
            lo2 = f"({i} * (n - 2)) // {B} + 2"
            hi2 = f"(({i} + 1) * (n - 2)) // {B} + 1"
            nxt_cond = f"s.rn BETWEEN {lo2} AND {hi2}"
        else:
            nxt_cond = "s.rn = n"
        parts.append(f""",
nx{i} AS (
  SELECT s.event_type, SUM(s.x) AS sx, SUM(s.y) AS sy,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM series s JOIN st ON s.event_type = st.event_type
  WHERE {nxt_cond} GROUP BY 1
), sel{i} AS (
  SELECT event_type, x, y FROM (
    SELECT s.event_type, s.x, s.y,
           ROW_NUMBER() OVER (PARTITION BY s.event_type ORDER BY
             ABS((CAST(p.x AS HUGEINT) * nx.c - nx.sx)
                   * (CAST(s.y AS HUGEINT) - p.y)
                 - (CAST(p.x AS HUGEINT) - s.x)
                   * (CAST(nx.sy AS HUGEINT) - CAST(p.y AS HUGEINT) * nx.c))
               DESC,
             s.x ASC) AS rk
    FROM series s
    JOIN st ON s.event_type = st.event_type
    JOIN sel{i - 1} p ON s.event_type = p.event_type
    JOIN nx{i} nx ON s.event_type = nx.event_type
    WHERE s.rn BETWEEN {lo} AND {hi}
  ) WHERE rk = 1
)""")
    sel_union = "\nUNION ALL\n".join(
        f"SELECT event_type, {k + 1} AS sel_idx, x, y FROM sel{k}"
        for k in range(0, B + 1)
    )
    parts.append(f""",
lastp AS (
  SELECT s.event_type, {B + 2} AS sel_idx, s.x, s.y
  FROM series s JOIN st USING (event_type)
  WHERE st.n > {_LTTB_T} AND s.rn = st.n
), allsel AS (
  {sel_union}
  UNION ALL SELECT event_type, sel_idx, x, y FROM lastp
  UNION ALL SELECT event_type, sel_idx, x, y FROM small
)
SELECT event_type, CAST(sel_idx AS BIGINT) AS sel_idx, x,
       y AS y_cents, CAST(y AS DOUBLE) / 100.0 AS y
FROM allsel""")
    return "".join(parts)


QUERIES = {
    "ts_drift_report": ts_drift_report,
    "ts_downsample_lttb": ts_downsample_lttb,
    "ts_crosscorr": ts_crosscorr,
    "ts_changepoint": ts_changepoint,
    "ts_holt": ts_holt,
    "ts_holtwinters": ts_holtwinters,
    "ts_resample": ts_resample,
    "ts_interpolate": ts_interpolate,
    "agg_histogram": agg_histogram,
    "ts_ewma": ts_ewma,
    "ts_anomaly_zscore": ts_anomaly_zscore,
    "ts_anomaly_mad": ts_anomaly_mad,
    "ts_anomaly_iqr": ts_anomaly_iqr,
    "ts_seasonal_decompose": ts_seasonal_decompose,
    "ts_trend": ts_trend,
    "ts_rollup_cascade": ts_rollup_cascade,
    "ts_forecast_linear": ts_forecast_linear,
    "ts_acf": ts_acf,
}

_ACF_LAG_UNION = " UNION ALL ".join(
    f"SELECT event_type, {k} AS lag, MAX(n_pts) AS n, SUM(p) AS num "
    f"FROM (SELECT event_type, n_pts, "
    f"      y * LEAD(y, {k}) OVER (PARTITION BY event_type ORDER BY h) AS p"
    f"      FROM y) GROUP BY event_type"
    for k in range(1, _ACF_MAX_LAG + 1)
)

_GRID_CTE = (
    "b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS bucket, "
    "  event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value "
    "  FROM events GROUP BY 1, 2), "
    "spine AS (SELECT UNNEST(generate_series("
    "  (SELECT date_trunc('hour', MIN(ts)) FROM events), "
    "  (SELECT MAX(ts) FROM events), INTERVAL '30 minutes')) AS bucket), "
    "types AS (SELECT DISTINCT event_type FROM events), "
    "g AS (SELECT s.bucket, t.event_type, COALESCE(b.n, 0) AS n, "
    "  epoch_us(s.bucket) AS us, "
    "  CASE WHEN b.n > 0 THEN b.sum_value END AS v "
    "  FROM spine s CROSS JOIN types t "
    "  LEFT JOIN b ON b.bucket = s.bucket AND b.event_type = t.event_type)"
)

ORACLES = {
    "ts_drift_report": _DRIFT_ORACLE,
    "ts_downsample_lttb": _lttb_oracle(),
    # exact-integer moments (HUGEINT); same double cast points and op
    # order as the Spark expression; IEEE sqrt is correctly rounded
    "ts_crosscorr": (
        "WITH hourly AS (SELECT event_type, "
        "CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x, "
        "epoch_us(date_trunc('hour', ts)) // 3600000000 AS he "
        "FROM events GROUP BY event_type, date_trunc('hour', ts)), "
        "lags AS (SELECT unnest(range(0, "
        f"{_CCF_MAX_LAG + 1})) AS lag), "
        "j AS (SELECT a.event_type AS t_x, b.event_type AS t_y, l.lag, "
        "CAST(a.x AS HUGEINT) AS vx, CAST(b.x AS HUGEINT) AS vy "
        "FROM hourly a CROSS JOIN lags l JOIN hourly b "
        "ON b.he = a.he + l.lag AND "
        "((l.lag > 0 AND a.event_type <> b.event_type) OR "
        "(l.lag = 0 AND a.event_type < b.event_type))), "
        "s AS (SELECT t_x, t_y, lag, CAST(COUNT(*) AS HUGEINT) AS m, "
        "SUM(vx) AS sx, SUM(vy) AS sy, SUM(vx * vy) AS sxy, "
        "SUM(vx * vx) AS sxx, SUM(vy * vy) AS syy "
        "FROM j GROUP BY 1, 2, 3) "
        "SELECT t_x, t_y, CAST(lag AS BIGINT) AS lag, "
        "CAST(m AS BIGINT) AS n_aligned, "
        "ROUND(CAST(m * sxy - sx * sy AS DOUBLE) / "
        "NULLIF(SQRT(CAST(m * sxx - sx * sx AS DOUBLE)) * "
        "SQRT(CAST(m * syy - sy * sy AS DOUBLE)), 0.0), 4) AS ccf "
        "FROM s WHERE m >= 2"
    ),
    # HUGEINT keeps n*S_k - k*S_n exact (the decimal(38,0) twin); means
    # divide in the same sequence as the Spark expression
    "ts_changepoint": (
        "WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, "
        "CAST(ROUND(SUM(value) * 100) AS HUGEINT) AS x "
        "FROM events GROUP BY 1, 2), "
        "cum AS (SELECT event_type, h, "
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS k, "
        "SUM(x) OVER (PARTITION BY event_type ORDER BY h "
        "ROWS UNBOUNDED PRECEDING) AS sk FROM hourly), "
        "tot AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sn "
        "FROM hourly GROUP BY 1), "
        "d AS (SELECT c.event_type, c.h, c.k, c.sk, t.n, t.sn, "
        "ABS(t.n * c.sk - c.k * t.sn) AS stat "
        "FROM cum c JOIN tot t USING (event_type) "
        "WHERE c.k < t.n AND t.n >= 2), "
        "best AS (SELECT event_type, MAX(stat) AS ms FROM d GROUP BY 1), "
        "at AS (SELECT d.event_type, MIN(d.k) AS mk FROM d "
        "JOIN best ON d.event_type = best.event_type AND d.stat = best.ms "
        "GROUP BY 1) "
        "SELECT d.event_type, CAST(d.n AS BIGINT) AS n_pts, "
        "CAST(d.k AS BIGINT) AS cp_k, d.h AS cp_hour, "
        "ROUND(CAST(d.sk AS DOUBLE) / CAST(d.k AS DOUBLE) / 100, 4) "
        "AS mean_before, "
        "ROUND((CAST(d.sn AS DOUBLE) - CAST(d.sk AS DOUBLE)) / "
        "(CAST(d.n AS DOUBLE) - CAST(d.k AS DOUBLE)) / 100, 4) "
        "AS mean_after "
        "FROM d JOIN at ON d.event_type = at.event_type AND d.k = at.mk"
    ),
    # recursive-CTE replay of the recurrence with the SAME literals and
    # association as the Spark _step lambda. NOT list_reduce: DuckDB
    # mutates a struct accumulator IN PLACE field-by-field, so a 2-state
    # fold's second field sees the already-updated first field.
    # same observed-hourly cents, nearest-rank integer thresholds, and
    # cross-multiplied fences as the Spark plan
    "ts_anomaly_iqr": f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), q AS ({_dk_nearest_rank("hourly", ["event_type"], "x", "1", _IQR_PICKS)})
SELECT h.event_type,
       CAST(MAX(q.n) AS BIGINT) AS n_pts,
       CAST(MAX(q.q1c) AS DOUBLE) / 100.0 AS q1,
       CAST(MAX(q.q3c) AS DOUBLE) / 100.0 AS q3,
       CAST(SUM(CASE WHEN 2 * h.x < 5 * q.q1c - 3 * q.q3c
                THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN 2 * h.x > 5 * q.q3c - 3 * q.q1c
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM hourly h JOIN q ON h.event_type = q.event_type
GROUP BY h.event_type
""",
    # same zero-filled hourly grid, exact-integer init sums, and
    # token-identical fold literals as the Spark aggregate() lambda;
    # l_new's expression is textually repeated inside tr and s so both
    # engines run the same IEEE op sequence
    "ts_holtwinters": f"""
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(CAST(ROUND(SUM(value) * 100) AS BIGINT) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, MAX(ts) AS hi FROM events
), spine AS (
  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM bounds WHERE lo IS NOT NULL
), types AS (SELECT DISTINCT event_type FROM events),
grid AS (
  SELECT t.event_type, s.h, COALESCE(hh.x, 0.0) AS x
  FROM spine s CROSS JOIN types t
  LEFT JOIN hourly hh ON hh.event_type = t.event_type AND hh.h = s.h
), ord AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i
  FROM grid
), npts AS (
  SELECT event_type, MAX(i) AS n FROM ord GROUP BY 1
  HAVING MAX(i) >= {2 * _HW_M}
), base AS (
  SELECT o.event_type,
         SUM(CASE WHEN o.i <= {_HW_M} THEN o.x END) AS sum1,
         SUM(CASE WHEN o.i BETWEEN {_HW_M + 1} AND {2 * _HW_M}
             THEN o.x END) AS sum2
  FROM ord o JOIN npts USING (event_type) GROUP BY 1
), seas AS (
  SELECT o.event_type,
         list(o.x - b.sum1 / {float(_HW_M)} ORDER BY o.i) AS s
  FROM ord o JOIN base b USING (event_type)
  WHERE o.i <= {_HW_M} GROUP BY o.event_type
), init AS (
  SELECT b.event_type, {_HW_M} AS i,
         b.sum1 / {float(_HW_M)} AS lv,
         (b.sum2 - b.sum1) / {float(_HW_M * _HW_M)} AS tr,
         seas.s AS s
  FROM base b JOIN seas ON seas.event_type = b.event_type
), step AS (
  SELECT event_type, i, lv, tr, s FROM init
  UNION ALL
  SELECT st.event_type, st.i + 1,
    {_HW_A} * (o.x - st.s[1]) + {1 - _HW_A} * (st.lv + st.tr),
    {_HW_G} * (({_HW_A} * (o.x - st.s[1])
                + {1 - _HW_A} * (st.lv + st.tr)) - st.lv)
      + {1 - _HW_G} * st.tr,
    st.s[2:] || [{_HW_D} * (o.x - ({_HW_A} * (o.x - st.s[1])
                                   + {1 - _HW_A} * (st.lv + st.tr)))
                 + {1 - _HW_D} * st.s[1]]
  FROM step st JOIN ord o
    ON o.event_type = st.event_type AND o.i = st.i + 1
)
SELECT st.event_type, CAST(npts.n AS BIGINT) AS n_pts,
       ROUND(st.lv / 100, 4) AS level,
       ROUND(st.tr / 100, 4) AS trend,
       ROUND(st.s[1] / 100, 4) AS season_next,
       ROUND((st.lv + st.tr + st.s[1]) / 100, 4) AS forecast_next
FROM step st JOIN npts ON st.event_type = npts.event_type
WHERE st.i = npts.n
""",
    "ts_holt": (
        "WITH RECURSIVE hourly AS ("
        "SELECT event_type, date_trunc('hour', ts) AS h, "
        "CAST(CAST(ROUND(SUM(value) * 100) AS BIGINT) AS DOUBLE) AS x "
        "FROM events GROUP BY 1, 2), "
        "ord AS (SELECT event_type, x, "
        "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i "
        "FROM hourly), "
        "npts AS (SELECT event_type, MAX(i) AS n FROM ord GROUP BY 1), "
        "step AS ("
        "SELECT o2.event_type, 2 AS i, o2.x AS l, o2.x - o1.x AS b "
        "FROM ord o2 JOIN ord o1 ON o1.event_type = o2.event_type "
        "AND o1.i = 1 AND o2.i = 2 "
        "UNION ALL "
        "SELECT s.event_type, s.i + 1, "
        "0.5 * o.x + 0.5 * (s.l + s.b), "
        "0.3 * ((0.5 * o.x + 0.5 * (s.l + s.b)) - s.l) + 0.7 * s.b "
        "FROM step s JOIN ord o ON o.event_type = s.event_type "
        "AND o.i = s.i + 1) "
        "SELECT s.event_type, CAST(npts.n AS BIGINT) AS n_pts, "
        "ROUND(s.l / 100, 4) AS level, ROUND(s.b / 100, 4) AS trend, "
        "ROUND((s.l + s.b) / 100, 4) AS forecast_next "
        "FROM step s JOIN npts ON s.event_type = npts.event_type "
        "WHERE s.i = npts.n"
    ),
    # hourly cents + n^2-rescaled centering: numerator and denominator
    # are exact integer sums (HUGEINT here, decimal(38) in Spark), so
    # the double quotient is bit-identical across engines.
    "ts_acf": f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(ROUND(SUM(value) * 100) AS HUGEINT) AS x
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s1
  FROM hourly GROUP BY 1
), y AS (
  SELECT h.event_type, h.h, CAST(s.n AS BIGINT) AS n_pts,
         s.n * h.x - s.s1 AS y
  FROM hourly h JOIN stats s USING (event_type)
), per_lag AS (
  {_ACF_LAG_UNION}
), denom AS (
  SELECT event_type, SUM(y * y) AS den FROM y GROUP BY 1
)
SELECT p.event_type, CAST(p.lag AS BIGINT) AS lag,
       CAST(p.n AS BIGINT) AS n,
       CASE WHEN p.num IS NOT NULL AND d.den <> 0
            THEN ROUND(CAST(p.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6)
       END AS acf
FROM per_lag p JOIN denom d USING (event_type)
""",
    "ts_resample": (
        "WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS bucket, "
        "  event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value "
        "  FROM events GROUP BY 1, 2), "
        "spine AS (SELECT UNNEST(generate_series("
        "  (SELECT date_trunc('hour', MIN(ts)) FROM events), "
        "  (SELECT MAX(ts) FROM events), INTERVAL '30 minutes')) AS bucket), "
        "types AS (SELECT DISTINCT event_type FROM events) "
        "SELECT s.bucket, t.event_type, "
        "COALESCE(b.n, 0) AS n, COALESCE(b.sum_value, 0.0) AS sum_value "
        "FROM spine s CROSS JOIN types t "
        "LEFT JOIN b ON b.bucket = s.bucket AND b.event_type = t.event_type"
    ),
    "ts_interpolate": (
        f"WITH {_GRID_CTE}, "
        "c AS (SELECT bucket, event_type, n, us, v, "
        "  LAST_VALUE(v IGNORE NULLS) OVER w1 AS pv, "
        "  LAST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) "
        "    OVER w1 AS pus, "
        "  FIRST_VALUE(v IGNORE NULLS) OVER w2 AS nv, "
        "  FIRST_VALUE(CASE WHEN v IS NOT NULL THEN us END IGNORE NULLS) "
        "    OVER w2 AS nus "
        "  FROM g WINDOW "
        "  w1 AS (PARTITION BY event_type ORDER BY us "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), "
        "  w2 AS (PARTITION BY event_type ORDER BY us "
        "    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)) "
        "SELECT bucket, event_type, n, "
        "FLOOR((CASE WHEN v IS NOT NULL THEN v "
        "  WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv "
        "  ELSE pv + (nv - pv) * "
        "    (CAST(us - pus AS DOUBLE) / CAST(nus - pus AS DOUBLE)) END"
        ") * 10000.0 + 0.5) / 10000.0 AS value_interp FROM c"
    ),
    # DuckDB has no width_bucket; same binning arithmetically
    "agg_histogram": (
        "SELECT CASE WHEN o_totalprice < 0.0 THEN 0 "
        "WHEN o_totalprice >= 500000.0 THEN 21 "
        "ELSE CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) + 1 END AS bin, "
        "COUNT(*) AS n FROM orders GROUP BY bin"
    ),
    # list_reduce seeds the fold with the first element — the same
    # init as the Spark side's aggregate(slice(.., 2, ..), first, ..)
    "ts_ewma": (
        "WITH s AS (SELECT user_id, "
        "list(value ORDER BY ts, event_id) AS vals "
        "FROM events GROUP BY user_id) "
        "SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events, "
        "ROUND(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 4) "
        "AS ewma FROM s"
    ),
    "ts_anomaly_mad": f"WITH {_DK_MAD_FLAGS} SELECT * FROM flagged",
    # exact integer cent sums (order-independent); divisions and the
    # FLOOR rounding are expression-identical to the Spark side
    "ts_seasonal_decompose": """
WITH cells AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hh,
         COUNT(*) AS n,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS sc,
         stddev_pop(value) AS sd
  FROM events GROUP BY 1, 2
), tmean AS (
  SELECT event_type, SUM(sc) AS tsc, SUM(n) AS tn FROM cells
  GROUP BY event_type
)
SELECT c.event_type, CAST(c.hh AS BIGINT) AS hh, c.n,
       FLOOR(CAST(c.sc AS DOUBLE) / (100.0 * c.n) * 10000.0 + 0.5)
         / 10000.0 AS hour_avg,
       FLOOR((CAST(c.sc AS DOUBLE) / (100.0 * c.n)
              - CAST(t.tsc AS DOUBLE) / (100.0 * t.tn)) * 10000.0 + 0.5)
         / 10000.0 AS seasonal,
       ROUND(c.sd, 4) AS resid_std
FROM cells c JOIN tmean t USING (event_type)
""",
    "ts_trend": (
        "SELECT event_type, CAST(regr_count(y, x) AS BIGINT) AS n, "
        "ROUND(regr_slope(y, x), 6) AS slope, "
        "ROUND(regr_intercept(y, x), 2) AS icept, "
        "ROUND(regr_r2(y, x), 6) AS r2 FROM ("
        "  SELECT event_type, value AS y, "
        "  epoch_us(ts) / 86400000000.0 AS x FROM events"
        ") GROUP BY event_type"
    ),
    "ts_rollup_cascade": (
        "SELECT date_trunc('day', ts) AS day, event_type, "
        "COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value, "
        "ROUND(MIN(value), 2) AS min_value, "
        "ROUND(MAX(value), 2) AS max_value, "
        "FLOOR(ROUND(SUM(value), 2) / COUNT(*) * 10000 + 0.5) / 10000.0 "
        "  AS avg_value "
        "FROM events GROUP BY 1, 2"
    ),
    "ts_forecast_linear": (
        "WITH fit AS (SELECT event_type, regr_slope(y, x) AS sl, "
        "  regr_intercept(y, x) AS ic, MAX(x) AS mx FROM ("
        "  SELECT event_type, value AS y, "
        "  epoch_us(ts) / 86400000000.0 AS x FROM events"
        ") GROUP BY event_type) "
        "SELECT event_type, CAST(d AS BIGINT) AS ahead, "
        "ROUND(ic + sl * (mx + d), 4) AS forecast "
        "FROM fit CROSS JOIN "
        "(SELECT UNNEST(generate_series(1, 7)) AS d)"
    ),
    "ts_anomaly_zscore": (
        "WITH stats AS (SELECT event_type, AVG(value) AS mu, "
        "STDDEV_POP(value) AS sigma FROM events GROUP BY event_type) "
        "SELECT event_id, e.event_type, value, "
        "ROUND((value - mu) / sigma, 4) AS z "
        "FROM events e JOIN stats s ON e.event_type = s.event_type "
        "WHERE ABS((value - mu) / sigma) >= 3.0"
    ),
}
