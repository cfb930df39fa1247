"""Data-layout optimization: z-order (Morton) clustering for multi-
dimensional file skipping (SURVEY.md §2B op 41 extension).

Parquet keeps per-row-group min/max stats; a scan with a predicate can
skip whole row groups whose stat range misses the predicate. A linear
sort clusters ONE column; z-ordering interleaves the bits of several
columns so that files are simultaneously range-clustered on all of
them — a 2-D predicate then touches only the files whose Morton range
intersects the query box.

The interleave is pure JVM-side bit arithmetic (shiftright/bitwiseAND/
shiftleft composed in a Python loop at PLAN time — the loop builds one
expression tree, it does not run per row), so the whole pipeline stays
in whole-stage codegen. At cluster scale the write becomes
``repartitionByRange(zkey)`` + ``sortWithinPartitions(zkey)`` — one
range shuffle, then each task writes one tightly-clustered file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core.aggregates import _dk_hex_int
from hive_2_spark.core.io import _scratch


def morton_key(a: Column, b: Column, nbits: int = 16) -> Column:
    """Interleave the low ``nbits`` of two non-negative integral columns
    into one long: z = ...b1 a1 b0 a0. Equal-prefix z-values are close in
    BOTH dimensions."""
    z = F.lit(0).cast("long")
    a = a.cast("long")
    b = b.cast("long")
    for i in range(nbits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_write(
    df: DataFrame, out: str, dim_a: str, dim_b: str, files: int = 8
) -> None:
    """Rewrite ``df`` z-ordered on (dim_a, dim_b) into ``files`` parquet
    files. Both dims are min-max scaled to the full 16-bit range first —
    without that, the wider-magnitude dimension's high bits dominate the
    interleave and the narrow dimension never clusters. The scaling agg
    is one tiny job (answerable from parquet footer stats); the rewrite
    itself is one range shuffle + per-partition sort."""
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(dim_a), F.max(dim_a), F.min(dim_b), F.max(dim_b)
    ).first()

    def scaled(col: str, lo: float, hi: float) -> Column:
        span = max(hi - lo, 1)
        return ((F.col(col) - F.lit(lo)) * F.lit(65535.0 / span)).cast("long")

    keyed = df.withColumn(
        "_zkey",
        morton_key(scaled(dim_a, lo_a, hi_a), scaled(dim_b, lo_b, hi_b)),
    )
    (
        keyed.repartitionByRange(files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(out)
    )


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query key: orders rewritten z-ordered on (o_custkey, o_orderkey),
    then scanned with a 2-D box predicate. The oracle runs the same
    predicate on the original table — proving the layout rewrite is
    value-preserving; the layout win itself (row-group skipping) is
    asserted in tests/test_layout.py."""
    out = _scratch("orders_zorder", sf_dir)
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zorder_write(src, out, "o_custkey", "o_orderkey")
    return spark.read.parquet(out).filter(
        (F.col("o_custkey") < 100) & (F.col("o_orderkey") < 10000)
    )


def compact_write(
    df: DataFrame, out: str, src_dir: str, target_bytes: int = 128 << 20
) -> int:
    """OPTIMIZE-style small-file compaction: rewrite ``src_dir``'s
    fragments into ceil(total_bytes / target_bytes) evenly-sized files.

    ``repartition`` (round-robin shuffle), not ``coalesce``: coalesce
    glues whole input partitions and inherits their skew, while the
    shuffle costs one pass over data that is being rewritten anyway and
    guarantees even output sizes — the property that keeps downstream
    scan tasks uniform. Returns the target file count."""
    import os

    total = sum(
        os.path.getsize(os.path.join(src_dir, f))
        for f in os.listdir(src_dir)
        if f.endswith(".parquet")
    )
    n_target = max(1, -(-total // target_bytes))
    df.repartition(n_target).write.mode("overwrite").parquet(out)
    return n_target


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query key: orders deliberately fragmented into 64 tiny files,
    compacted back by size target, then aggregated from the compacted
    copy — the oracle on the original table proves the rewrite is
    value-preserving. The small-file problem is THE operational failure
    mode of streaming/incremental ingestion at scale (10^6 kilobyte
    files turn a scan into a metadata storm); file-count reduction is
    asserted in tests/test_layout.py."""
    frag = _scratch("orders_fragmented", sf_dir)
    out = _scratch("orders_compacted", sf_dir)
    load_table(spark, sf_dir, "orders").repartition(64).write.mode(
        "overwrite"
    ).parquet(frag)
    compact_write(spark.read.parquet(frag), out, frag, target_bytes=1 << 20)
    return (
        spark.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def catalog_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed managed tables joined WITHOUT an exchange.

    Both sides are written ``bucketBy(8, key).sortBy(key)`` into the
    managed warehouse; a later equi-join on the bucket key reuses the
    stored hash layout, so the sort-merge join runs with NO shuffle on
    either side (gated in tests/test_bucketing.py). This is the
    co-located-join strategy for repeated large-large joins at 100 TB:
    pay the shuffle once at write time, never at read time. Oracle: the
    same join computed flat from the source files.
    """
    from hive_2_spark.core.metastore import (
        DB,
        _clear_orphaned_location,
        ensure_database,
    )

    ensure_database(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    # the two bucketed writes are independent jobs — overlap them (the
    # dedup-index _write_bucketed_tables discipline, guide §2.6)
    from hive_2_spark.llm.dedup import _write_bucketed_tables

    items = [
        ("bkt_lineitem", li, ["l_orderkey"]),
        ("bkt_orders", o, ["o_orderkey"]),
    ]
    for name, _, _ in items:
        _clear_orphaned_location(spark, name, DB)
    _write_bucketed_tables(spark, items, "overwrite")
    return (
        spark.table(f"{DB}.bkt_lineitem")
        .join(
            spark.table(f"{DB}.bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


_RV_N = 8  # shard count before the capacity change (after: _RV_N + 1)


def _hrw_hash(doc: Column, shard: int) -> Column:
    """48-bit rendezvous weight of (doc, shard): the first 12 md5 hex
    chars of 'doc:shard' as an integer — deterministic, engine-neutral
    (the same md5-prefix idiom as the KMV/reservoir samplers)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(doc.cast("string"), F.lit(f":{shard}"))), 1, 12
        ),
        16, 10,
    ).cast("bigint")


def _hrw_shard(doc: Column, n: int) -> Column:
    """Highest-random-weight (rendezvous) shard for ``doc`` among
    shards 0..n-1: argmax over the per-shard weights, built as ONE
    ``greatest`` expression over (weight, shard) structs — plan-time
    expression construction, whole-stage codegen at run time, no
    explode and no shuffle."""
    return F.greatest(
        *[
            F.struct(
                _hrw_hash(doc, s).alias("h"),
                F.lit(s).cast("bigint").alias("s"),
            )
            for s in range(n)
        ]
    )["s"]


def layout_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STABLE shard assignment by rendezvous (highest-random-weight)
    hashing, and the movement audit for a capacity change from
    ``_RV_N`` to ``_RV_N + 1`` shards — the re-sharding discipline an
    incremental 100 TB pipeline needs: with mod-N placement, growing N
    by one relocates ~N/(N+1) of ALL documents (every downstream
    bucketed index and dedup shard rebuilt); with rendezvous hashing
    only ~1/(N+1) move, and every mover lands on the NEW shard
    (adding a shard can only create a new argmax, never re-rank the
    old ones — visible structurally in the output: ``n_arrived`` is 0
    for every pre-existing shard).

    Exact-integer end to end (md5-prefix weights, argmax with shard-id
    tiebreak), so the DuckDB oracle replays the assignment bit-for-bit.

    Scale: the assignment is a per-row expression over 2(N+1) md5
    calls — no join, no shuffle; the census is one shard-keyed
    aggregate. The movement rate is gated ~1/(N+1) in
    tests/test_round11_ops.py.

    Output: (scheme, shard, n_docs, n_arrived) — one row per scheme
    ('rendezvous' | 'mod') and destination shard under N+1, where
    ``n_arrived`` counts docs whose shard under N differed.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    a = d.select(
        doc,
        _hrw_shard(doc, _RV_N).alias("rv_old"),
        _hrw_shard(doc, _RV_N + 1).alias("rv_new"),
        (doc % _RV_N).alias("md_old"),
        (doc % (_RV_N + 1)).alias("md_new"),
    )

    def census(scheme: str, old: str, new: str) -> DataFrame:
        return a.groupBy(F.col(new).alias("shard")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col(old) != F.col(new)).cast("bigint"))
            .alias("n_arrived"),
        ).select(F.lit(scheme).alias("scheme"), "shard", "n_docs",
                 "n_arrived")

    return census("rendezvous", "rv_old", "rv_new").unionByName(
        census("mod", "md_old", "md_new")
    )


_HILB_BITS = 8  # 256 x 256 grid -> 16-bit Hilbert index
_HILB_N = 1 << _HILB_BITS
_HILB_BUCKET = 4096  # 16 index ranges in the census


def _hilbert_step_exprs(bits: int = _HILB_BITS) -> list[tuple[str, str, str]]:
    """Per-iteration (d, x, y) update fragments of the standard xy2d
    Hilbert transform (one tuple per bit plane, most significant
    first), shared VERBATIM by the Spark plan (F.expr) and the DuckDB
    oracle so both engines evaluate identical integer arithmetic. The
    quadrant term (3*rx) XOR ry is spelled as a CASE over rx, ry in
    {0,1} because the engines spell bitwise XOR differently; the
    rotation flips use the full grid size n (not the plane size s) —
    the classic rot() contract."""
    n = 1 << bits
    steps = []
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        quad = (
            f"(CASE WHEN {rx} = 0 THEN {ry} "
            f"WHEN {ry} = 0 THEN 3 ELSE 2 END)"
        )
        steps.append((
            f"d + {s * s} * {quad}",
            f"(CASE WHEN {ry} = 1 THEN x "
            f"WHEN {rx} = 1 THEN {n - 1} - y ELSE y END)",
            f"(CASE WHEN {ry} = 1 THEN y "
            f"WHEN {rx} = 1 THEN {n - 1} - x ELSE x END)",
        ))
    return steps


def hilbert_index(df: DataFrame) -> DataFrame:
    """Append ``hd`` (the 16-bit Hilbert index) to a frame carrying
    integer columns ``x``, ``y`` in [0, 256). Pure unrolled codegen
    expressions — 8 bit-plane rounds of CASE/AND/negate, no UDF, no
    shuffle; x and y must update SIMULTANEOUSLY from the previous
    round (a withColumn chain would feed round k's y into round k's x)
    so each round is one select over the prior round's columns.

    Carry columns pass through untouched, so a caller column named
    ``d`` would collide with the accumulator and be silently
    clobbered — rejected up front (round-12 ADVICE)."""
    assert "d" not in df.columns, (
        "hilbert_index uses 'd' as its accumulator; rename the "
        "caller's 'd' column first"
    )
    carry = [c for c in df.columns if c not in ("x", "y")]
    cur = df.withColumn("d", F.lit(0).cast("bigint"))
    for d_e, x_e, y_e in _hilbert_step_exprs():
        cur = cur.select(
            F.expr(d_e).alias("d"),
            F.expr(x_e).alias("x"),
            F.expr(y_e).alias("y"),
            *carry,
        )
    return cur.select(*carry, F.col("d").alias("hd"))


def layout_hilbert_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILBERT-CURVE data layout — the locality-preserving successor
    to `zorder_layout`: consecutive Hilbert indices are ALWAYS
    spatially adjacent (manhattan distance exactly 1), while the
    z-order/Morton curve jumps across the grid at power-of-two seams,
    so range scans over a Hilbert-clustered table touch spatially
    tighter row groups (the CLUSTER BY curve choice Delta/Iceberg
    expose). The curve-defining property itself — bijectivity over all
    65536 cells and unit-step adjacency, where Morton shows thousands
    of multi-cell jumps — is gated in tests/test_layout.py.

    This key maps orders onto the 256x256 (customer-bits, day-bits)
    grid via 8 unrolled bit-plane rounds of the classic xy2d transform
    (pure codegen CASE/AND arithmetic, no UDF — the same shared SQL
    fragments the oracle replays), then reports the layout census per
    4096-wide index range: how many rows and distinct cells each
    contiguous curve segment holds — the file/row-group manifest a
    curve-clustered rewrite would produce.

    Output: (bucket, n_rows, n_cells, min_hd, max_hd), 16 rows.
    """
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % _HILB_N).cast("bigint").alias("x"),
        # o_orderdate is TIMESTAMP_NTZ in the fixture: unix_date over
        # the DATE part is NTZ-safe and matches DuckDB's epoch-us DIV
        (
            F.expr("unix_date(CAST(o_orderdate AS DATE))").cast("bigint")
            % _HILB_N
        ).alias("y"),
    )
    return (
        hilbert_index(o)
        .groupBy(F.expr(f"hd DIV {_HILB_BUCKET}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("hd").alias("n_cells"),
            F.min("hd").alias("min_hd"),
            F.max("hd").alias("max_hd"),
        )
    )


QUERIES = {
    "layout_rendezvous_shards": layout_rendezvous_shards,
    "layout_hilbert_curve": layout_hilbert_curve,
    "zorder_layout": zorder_layout,
    "compact_small_files": compact_small_files,
    "catalog_bucketed_join": catalog_bucketed_join,
}

def _rendezvous_sql() -> str:
    """Replays both shard layouts: per-(doc, shard) md5 weights over a
    range() lateral, argmax with the SAME (h desc, s desc) tiebreak as
    the Spark greatest-struct, then the two movement censuses."""
    n = _RV_N
    h = _dk_hex_int(
        "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(t.s AS VARCHAR))", 12
    )
    return f"""
WITH w AS (
  SELECT doc_id, t.s, {h} AS h
  FROM documents, range({n + 1}) t(s)
),
rv_new AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY h DESC, s DESC) AS rn
    FROM w
  ) WHERE rn = 1
),
rv_old AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY h DESC, s DESC) AS rn
    FROM w WHERE s < {n}
  ) WHERE rn = 1
)
SELECT 'rendezvous' AS scheme, nw.s AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ol.s <> nw.s THEN 1 ELSE 0 END) AS BIGINT)
         AS n_arrived
FROM rv_new nw JOIN rv_old ol USING (doc_id)
GROUP BY nw.s
UNION ALL
SELECT 'mod' AS scheme, doc_id % {n + 1} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % {n} <> doc_id % {n + 1}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_arrived
FROM documents
GROUP BY doc_id % {n + 1}
"""


def _hilbert_sql() -> str:
    """Replays the same unrolled xy2d fragments, one CTE per bit
    plane, then the same 4096-wide range census."""
    steps = "".join(
        f", st{j} AS (SELECT {d_e} AS d, {x_e} AS x, {y_e} AS y"
        f" FROM st{j - 1})"
        for j, (d_e, x_e, y_e) in enumerate(_hilbert_step_exprs(), start=1)
    )
    return f"""
WITH st0 AS (
  SELECT CAST(o_custkey % {_HILB_N} AS BIGINT) AS x,
         CAST((epoch_us(o_orderdate) // 86400000000) % {_HILB_N}
              AS BIGINT) AS y,
         CAST(0 AS BIGINT) AS d
  FROM orders
){steps}
SELECT d // {_HILB_BUCKET} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT d) AS BIGINT) AS n_cells,
       MIN(d) AS min_hd,
       MAX(d) AS max_hd
FROM st{_HILB_BITS} GROUP BY 1
"""


ORACLES = {
    "layout_rendezvous_shards": _rendezvous_sql(),
    "layout_hilbert_curve": _hilbert_sql(),
    "catalog_bucketed_join": (
        "SELECT o_orderstatus, COUNT(*) AS n_lines, "
        "ROUND(SUM(l_extendedprice), 2) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderstatus"
    ),
    "zorder_layout": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_custkey < 100 AND o_orderkey < 10000"
    ),
    "compact_small_files": (
        "SELECT o_orderstatus, COUNT(*) AS n_orders, "
        "ROUND(SUM(o_totalprice), 2) AS total_price "
        "FROM orders GROUP BY o_orderstatus"
    ),
}
