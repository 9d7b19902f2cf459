"""Aggregation surface: GROUP BY, DISTINCT, FILTER, ROLLUP/CUBE/GROUPING
SETS, count-distinct (exact + approx HLL), arg_max/min, list/string agg,
median/quantile, statistical moments.

Reference parity: SURVEY.md §2B "Aggregation" — the full DuckDB-1.0 agg
surface reachable through the delegation points.

Cross-engine determinism notes:
- stddev/var/corr over doubles are NOT deterministic across engines (both
  use pairwise/partial merging in different orders). We compute the moments
  (Σx, Σx², Σxy) as exact DECIMAL sums and derive the statistic in double —
  identical on both engines AND parallel-safe at 100 TB (the decimal sums
  are associative; one shuffle, map-side partials do the heavy lifting).
- approx_count_distinct: Spark HLL++ ≠ DuckDB HLL sketches → gated as a
  bounded-error row (round 8): exact twin + within_bound flag, hashed.
- collect_list/string_agg need deterministic ordering: we aggregate sorted
  (array_sort / ORDER BY inside the aggregate) so both engines agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duck_server_spark.engine.session import load_table, register_views
from duck_server_spark.operators import common
from duck_server_spark.operators.common import sql_op


def agg_filter_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER (WHERE …) aggregates + exact DISTINCT counts per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("l_quantity") > 25.0, 1)).alias("n_bigqty"),
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey", "l_suppkey").alias("n_partsupp"),
        )
    )


AGG_FILTER_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(*) AS n,
       count(*) FILTER (WHERE l_quantity > 25.0) AS n_bigqty,
       count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT (l_partkey, l_suppkey)) AS n_partsupp
FROM lineitem GROUP BY l_returnflag
"""


def agg_minmax_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max + arg_max/arg_min (Spark max_by/min_by ≙ DuckDB arg_max).

    arg_max with tied extremes is engine-arbitrary in BOTH engines, so the
    ordering key is a zero-padded (price, orderkey) string — totally
    ordered, hence deterministic everywhere (and DuckDB 1.0's arg_max
    doesn't take struct keys)."""
    orders = load_table(spark, sf_dir, "orders")
    key = F.format_string("%015.2f|%012d", F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.expr("max_by(o_orderkey, format_string('%015.2f|%012d', o_totalprice, o_orderkey))").alias("max_price_orderkey"),
            F.expr("min_by(o_orderkey, format_string('%015.2f|%012d', o_totalprice, o_orderkey))").alias("min_price_orderkey"),
        )
    )


AGG_MINMAX_ARGMAX_ORACLE = """
SELECT o_orderpriority,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       arg_max(o_orderkey, printf('%015.2f|%012d', o_totalprice, o_orderkey)) AS max_price_orderkey,
       arg_min(o_orderkey, printf('%015.2f|%012d', o_totalprice, o_orderkey)) AS min_price_orderkey
FROM orders GROUP BY o_orderpriority
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        # decimal(8,2) Spark-side, oracle keeps (18,2) — see the round-13
        # narrowing rationale in operators/tpch.py (lossless: qty ≤ 50;
        # sum accumulator stays a compact-long DECIMAL(18,2))
        .agg(F.sum(F.col("l_quantity").cast("decimal(8,2)")).cast("double").alias("sum_qty"))
    )


AGG_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


AGG_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + grouping() marker columns."""
    return sql_op(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )(spark, sf_dir)


AGG_GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """list()/string_agg parity with deterministic ordering. Both the
    '|'-joined and ','-joined forms exercise the collect+sort path; the
    result carries no ARRAY column because the verification driver's
    pandas canonicalizer cannot hash list cells."""
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias("names"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names_csv"),
        )
    )


AGG_COLLECT_SORTED_ORACLE = """
SELECT n_regionkey,
       array_to_string(list_sort(list(n_name)), '|') AS names,
       list_aggregate(list_sort(list(n_name)), 'string_agg', ',') AS names_csv
FROM nation GROUP BY n_regionkey
"""


def agg_median_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / continuous quantiles (both engines interpolate
    linearly over the sorted values; inputs are .01-granular doubles so
    interpolation is FP-identical)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        )
    )


AGG_MEDIAN_QUANTILE_ORACLE = """
SELECT l_linestatus,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.25) AS p25_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty
FROM lineitem GROUP BY l_linestatus
"""


def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance/covar/corr via exact integer-cents moment sums.

    Why cents (scale-0 decimals) and not DECIMAL(38,4): converting a
    scaled decimal to double is TWO roundings in DuckDB (int128→double,
    then ÷10^scale) but one in Spark (BigDecimal→double), so last bits
    differ. A scale-0 decimal converts in a single correctly-rounded step
    in both engines; all remaining arithmetic is identical IEEE double
    ops, so results are bit-equal. Still parallel-safe at 100 TB: the
    integer sums are associative, one shuffle, map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    xc = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("decimal(18,0)")
    yc = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("decimal(18,0)")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(xc).cast("double")
    sy = F.sum(yc).cast("double")
    sxx = F.sum((xc * xc).cast("decimal(38,0)")).cast("double")
    syy = F.sum((yc * yc).cast("decimal(38,0)")).cast("double")
    sxy = F.sum((xc * yc).cast("decimal(38,0)")).cast("double")
    var_x = (sxx - sx * sx / n) / (n - F.lit(1.0))
    var_y = (syy - sy * sy / n) / (n - F.lit(1.0))
    cov = (sxy - sx * sy / n) / (n - F.lit(1.0))
    return (
        li.groupBy("l_returnflag")
        .agg(
            (F.sqrt(var_x) / F.lit(100.0)).alias("stddev_qty"),
            (var_y / F.lit(10000.0)).alias("var_price"),
            (cov / F.lit(10000.0)).alias("covar_qty_price"),
            (cov / F.sqrt(var_x * var_y)).alias("corr_qty_price"),
        )
    )


AGG_STATS_MOMENTS_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS xc,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS yc
  FROM lineitem
), m AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(xc) AS DOUBLE) AS sx,
         CAST(sum(yc) AS DOUBLE) AS sy,
         CAST(sum(CAST(xc * xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(sum(CAST(xc * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM c GROUP BY l_returnflag
)
SELECT l_returnflag,
       sqrt((sxx - sx * sx / n) / (n - 1.0)) / 100.0 AS stddev_qty,
       ((syy - sy * sy / n) / (n - 1.0)) / 10000.0 AS var_price,
       ((sxy - sx * sy / n) / (n - 1.0)) / 10000.0 AS covar_qty_price,
       ((sxy - sx * sy / n) / (n - 1.0)) / sqrt(((sxx - sx * sx / n) / (n - 1.0)) * ((syy - sy * sy / n) / (n - 1.0))) AS corr_qty_price
FROM m
"""


def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++), as a BOUNDED-ERROR ORACLE GATE
    (round 8, VERDICT r7 punch item 2 — the r6 HLL/Theta recipe): the
    estimates are engine-specific so the gate can't hash them directly;
    instead the query outputs the EXACT distinct counts plus
    `within_bound` = (HLL++ rsd=0.01 estimate within max(5%, ±2) of
    exact — 5σ of the configured rsd), and the oracle emits the same
    exact counts with TRUE. The hash matches iff every estimate meets
    the bound, so the accuracy contract lives in the driver gate itself
    instead of a rows-only row."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    return (
        approx.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("exact_parts").cast("bigint").alias("exact_parts"),
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= F.greatest(0.05 * F.col("exact_parts"), F.lit(2.0))
            ).alias("within_bound"),
        )
        .orderBy("l_returnflag")
    )


def agg_bool_any_every(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or + any_value-style determinized pick."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.expr("bool_and(o_totalprice > 1000.0)").alias("all_over_1k"),
            F.expr("bool_or(o_totalprice > 400000.0)").alias("any_over_400k"),
            F.min("o_orderpriority").alias("first_priority"),
        )
    )


AGG_BOOL_ANY_EVERY_ORACLE = """
SELECT o_orderstatus,
       bool_and(o_totalprice > 1000.0) AS all_over_1k,
       bool_or(o_totalprice > 400000.0) AS any_over_400k,
       min(o_orderpriority) AS first_priority
FROM orders GROUP BY o_orderstatus
"""


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: lineitem quantity by returnflag × linestatus."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(8,2)")).cast("double"))
    )


PIVOT_STATUS_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS "O",
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS "F"
FROM lineitem GROUP BY l_returnflag
"""


def unpivot_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long) over part price/size measures."""
    part = load_table(spark, sf_dir, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_retailprice").alias("retail"),
        F.col("p_size").cast("double").alias("size_d"),
    )
    return wide.unpivot("p_partkey", ["retail", "size_d"], "measure", "val")


UNPIVOT_PRICES_ORACLE = """
SELECT p_partkey, measure, val FROM (
  SELECT p_partkey, 'retail' AS measure, p_retailprice AS val FROM part
  UNION ALL
  SELECT p_partkey, 'size_d' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
) t
"""


def agg_count_star_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no GROUP BY) multi-aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.col("l_quantity").cast("decimal(8,2)")).cast("double").alias("total_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


AGG_COUNT_STAR_GLOBAL_ORACLE = """
SELECT count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       min(l_shipdate) AS first_ship,
       max(l_shipdate) AS last_ship
FROM lineitem
"""


QUERIES = {
    "agg_filter_distinct": agg_filter_distinct,
    "agg_minmax_argmax": agg_minmax_argmax,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_collect_sorted": agg_collect_sorted,
    "agg_median_quantile": agg_median_quantile,
    "agg_stats_moments": agg_stats_moments,
    "agg_approx_count_distinct": agg_approx_count_distinct,
    "agg_bool_any_every": agg_bool_any_every,
    "pivot_status": pivot_status,
    "unpivot_prices": unpivot_prices,
    "agg_count_star_global": agg_count_star_global,
}

ORACLE = {
    "agg_filter_distinct": AGG_FILTER_DISTINCT_ORACLE,
    "agg_minmax_argmax": AGG_MINMAX_ARGMAX_ORACLE,
    "agg_rollup": AGG_ROLLUP_ORACLE,
    "agg_cube": AGG_CUBE_ORACLE,
    "agg_grouping_sets": AGG_GROUPING_SETS_ORACLE,
    "agg_collect_sorted": AGG_COLLECT_SORTED_ORACLE,
    "agg_median_quantile": AGG_MEDIAN_QUANTILE_ORACLE,
    "agg_stats_moments": AGG_STATS_MOMENTS_ORACLE,
    "agg_bool_any_every": AGG_BOOL_ANY_EVERY_ORACLE,
    "pivot_status": PIVOT_STATUS_ORACLE,
    "unpivot_prices": UNPIVOT_PRICES_ORACLE,
    "agg_count_star_global": AGG_COUNT_STAR_GLOBAL_ORACLE,
    # Bounded-error gate (round 8): exact twin + within_bound flag; the
    # hash matches iff Spark's HLL++ estimate meets its error bound.
    "agg_approx_count_distinct": """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
""",
}


def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram over l_extendedprice (5000-wide
    bins): count, exact decimal revenue sum, and bin bounds. The
    binning expression is a decimal division + floor — exact on both
    engines (prices have 2 decimals; a quotient can only approach an
    integer boundary from 0.01 away, far outside double rounding
    error). One map-side-combined shuffle on ~20 bin keys; avg derived
    from the decimal sum with a single final cast."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.selectExpr(
            "CAST(floor(l_extendedprice / 5000.0) AS INT) AS bin",
            "l_extendedprice",
            "l_quantity",
        )
        .groupBy("bin")
        .agg(
            F.expr("CAST(bin * 5000 AS DOUBLE)").alias("bin_lo"),
            F.count(F.lit(1)).alias("n_items"),
            F.expr("CAST(sum(l_extendedprice) AS DOUBLE)").alias("sum_price"),
            F.expr("CAST(sum(l_quantity) AS DOUBLE)").alias("sum_qty"),
            F.expr("CAST(CAST(sum(l_extendedprice) AS DOUBLE) / count(*) AS DOUBLE)").alias("avg_price"),
        )
    )


HISTOGRAM_PRICES_ORACLE = """
SELECT CAST(floor(l_extendedprice / 5000.0) AS INT) AS bin,
       CAST(CAST(floor(l_extendedprice / 5000.0) AS INT) * 5000 AS DOUBLE) AS bin_lo,
       count(*) AS n_items,
       CAST(sum(l_extendedprice) AS DOUBLE) AS sum_price,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(l_extendedprice) AS DOUBLE) / count(*) AS DOUBLE) AS avg_price
FROM lineitem
GROUP BY 1
"""

QUERIES["histogram_prices"] = histogram_prices
ORACLE["histogram_prices"] = HISTOGRAM_PRICES_ORACLE


_RANK_BUCKETS = 256  # execution knob only — result is bucket-invariant


def _doubled_avg_ranks(values: DataFrame, valcol: str, outcol: str) -> DataFrame:
    """Exact doubled average rank per distinct value, computed as a
    two-level distributed prefix sum instead of a row-level window.

    `values` = (l_returnflag, <valcol>, c) where c = # rows carrying that
    value. A naive rank() window would PARTITION BY l_returnflag — 3
    partitions holding the whole table, the classic single-sorter scale
    ceiling. Here every step is either a parallel hash aggregate or a
    window over (flag, bucket) — parallelism = #buckets — plus one
    window over the tiny (flag, bucket) totals table (3×256 rows):

      1. range-bucket each distinct value (min/max per flag, broadcast);
      2. per-bucket row totals → exclusive prefix over buckets (tiny);
      3. exclusive prefix WITHIN each bucket (ordered by value, values
         are distinct per (flag, valcol) so the order is total);
      4. doubled avg rank rx2 = 2*(rows before v) + c(v) + 1, identical
         to 2*rank() + tiecount - 1 of the window formulation.

    Bucket assignment only routes execution — any value-monotone
    bucketing yields the same ranks, so double rounding is harmless."""
    from pyspark.sql import Window

    stats = values.groupBy("l_returnflag").agg(
        F.min(valcol).cast("double").alias("_lo"), F.max(valcol).cast("double").alias("_hi")
    )
    span = F.col("_hi") - F.col("_lo")
    bkt = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.lit(_RANK_BUCKETS - 1),
            F.floor((F.col(valcol).cast("double") - F.col("_lo")) / span * _RANK_BUCKETS).cast("int"),
        )
    )
    bucketed = values.join(F.broadcast(stats), "l_returnflag").withColumn("_bkt", bkt)
    totals = bucketed.groupBy("l_returnflag", "_bkt").agg(F.sum("c").alias("_bc"))
    w_bkt = (
        Window.partitionBy("l_returnflag").orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn("_off", F.coalesce(F.sum("_bc").over(w_bkt), F.lit(0)))
    w_in = (
        Window.partitionBy("l_returnflag", "_bkt").orderBy(valcol)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        bucketed.join(F.broadcast(offsets.select("l_returnflag", "_bkt", "_off")), ["l_returnflag", "_bkt"])
        .withColumn("_within", F.coalesce(F.sum("c").over(w_in), F.lit(0)))
        .select(
            "l_returnflag",
            F.col(valcol),
            (2 * (F.col("_off") + F.col("_within")) + F.col("c") + 1).alias(outcol),
        )
    )


def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per return
    flag: rank both variables (average-rank ties, doubled so ranks stay
    integral), then Pearson over the INTEGER ranks — every moment is
    exact integer arithmetic, so the coefficient is bit-equal across
    engines with no fixed-point staging.

    Scale shape (rewritten after the 10× sweep flagged the original):
    ranks come from `_doubled_avg_ranks` — distributed two-level prefix
    sums over the DISTINCT-value tables, never a rank() window
    partitioned by the 3-value flag column (whose per-partition sort is
    the single-machine bottleneck a 100 TB corpus cannot fit). Moments
    are then Σ over the joint (qty, price) histogram: c·rx2, c·rx2², …
    — one hash-agg shuffle; the qty-rank side is broadcast (≤ 3×50
    rows), the price-rank join keys on the high-cardinality price.

    The rank-based formulation is the robust-correlation tool when
    values are heavy-tailed (corr of raw doubles is agg_stats_moments)."""
    from duck_server_spark.engine.session import register_views

    register_views(spark, sf_dir)
    li = spark.table("lineitem").select(
        "l_returnflag", F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    joint = li.groupBy("l_returnflag", "x", "y").agg(F.count("*").alias("c"))
    # separate single-column scans: map-side-combined count per distinct
    # value straight off the (pruned) parquet scan — cheaper than routing
    # the tuple-level `joint` histogram through a second shuffle
    vx = li.groupBy("l_returnflag", "x").agg(F.count("*").alias("c"))
    vy = li.groupBy("l_returnflag", "y").agg(F.count("*").alias("c"))
    rx = _doubled_avg_ranks(vx, "x", "rx2")
    ry = _doubled_avg_ranks(vy, "y", "ry2")
    dec = "decimal(38,0)"
    ranked = (
        joint.join(F.broadcast(rx), ["l_returnflag", "x"])
        .join(ry, ["l_returnflag", "y"])
        .select(
            "l_returnflag",
            F.col("c").cast(dec).alias("c"),
            F.col("rx2").cast(dec).alias("rx2"),
            F.col("ry2").cast(dec).alias("ry2"),
        )
    )
    m = ranked.groupBy("l_returnflag").agg(
        F.sum("c").cast("double").alias("n"),
        F.sum(F.col("c") * F.col("rx2")).cast("double").alias("sx"),
        F.sum(F.col("c") * F.col("ry2")).cast("double").alias("sy"),
        F.sum(F.col("c") * F.col("rx2") * F.col("rx2")).cast("double").alias("sxx"),
        F.sum(F.col("c") * F.col("ry2") * F.col("ry2")).cast("double").alias("syy"),
        F.sum(F.col("c") * F.col("rx2") * F.col("ry2")).cast("double").alias("sxy"),
    )
    return m.select(
        "l_returnflag",
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            )
        ).alias("spearman_qty_price"),
    )


SPEARMAN_ORACLE = """
WITH ranked AS (
  SELECT l_returnflag,
         2 * rank()  OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx2,
         2 * rank()  OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry2
  FROM lineitem
),
m AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(rx2 AS DECIMAL(18,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ry2 AS DECIMAL(18,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CAST(rx2 AS DECIMAL(18,0)) * CAST(rx2 AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(CAST(ry2 AS DECIMAL(18,0)) * CAST(ry2 AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(sum(CAST(CAST(rx2 AS DECIMAL(18,0)) * CAST(ry2 AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM ranked GROUP BY l_returnflag
)
SELECT l_returnflag,
       (sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS spearman_qty_price
FROM m
"""

QUERIES["spearman_corr"] = spearman_corr
ORACLE["spearman_corr"] = SPEARMAN_ORACLE


# ---------------------------------------------------------------------------
# KMV distinct-count sketch — a PORTABLE approximate count-distinct
# ---------------------------------------------------------------------------
# approx_count_distinct can only be bounded-error gated because Spark's HLL++ and
# DuckDB's HLL are different sketches. KMV (k minimum hash values,
# Bar-Yossef et al.) is deterministic GIVEN the hash function, and the
# md5→BIGINT bridge is portable — so the ESTIMATE itself is
# oracle-gated: est = (k-1) / fraction(kth smallest distinct hash).
#
# Scale shape: the sketch is mergeable — each partition keeps its k
# smallest distinct hashes (partial distinct + partial top-k run
# map-side; Spark plans TakeOrdered over the partial aggregate), only
# k values per partition move. This is how count-distinct dashboards
# run at 100 TB when the exact distinct shuffle is too big; the exact
# twin rides along here to expose the relative error.

_KMV_K = 64
_KMV_HASH_S = "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 8), 16, 10) AS BIGINT)"
_KMV_HASH_D = "('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT"


def _kmv_sql(hash_expr: str) -> str:
    return f"""
WITH hashed AS (
  SELECT DISTINCT {hash_expr} AS h FROM lineitem
),
sketch AS (
  SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K}
)
SELECT CAST({_KMV_K} AS BIGINT) AS k,
       max(h) AS kth_hash,
       CAST({_KMV_K} - 1 AS DOUBLE) / (CAST(max(h) AS DOUBLE) / 4294967296.0) AS est_distinct,
       (SELECT count(DISTINCT l_partkey) FROM lineitem) AS exact_distinct
FROM sketch
"""


QUERIES["agg_kmv_distinct"] = sql_op(_kmv_sql(_KMV_HASH_S))
ORACLE["agg_kmv_distinct"] = _kmv_sql(_KMV_HASH_D)


# ---------------------------------------------------------------------------
# Linear-regression aggregates — regr_slope / intercept / r²
# ---------------------------------------------------------------------------
# The regr_* family (price-vs-quantity line per return flag) from the
# same exact integer-cents moments as agg_stats_moments: decimal sums
# are associative (parallel-safe, map-side partials), one cast to
# double at the end, every remaining op identical IEEE arithmetic —
# so the fitted line is bit-equal across engines without using either
# engine's built-in regr_* (whose internal merge orders differ). The
# SQL is dialect-neutral and serves as its own oracle.

AGG_REGRESSION_SQL = """
WITH c AS (
  SELECT l_returnflag,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS xc,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS yc
  FROM lineitem
), m AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(xc) AS DOUBLE) AS sx,
         CAST(sum(yc) AS DOUBLE) AS sy,
         CAST(sum(CAST(xc * xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(sum(CAST(xc * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM c GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, n, sx, sy,
         n * sxx - sx * sx AS dxx,
         n * syy - sy * sy AS dyy,
         n * sxy - sx * sy AS dxy
  FROM m
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       dxy / dxx AS regr_slope,
       ((sy - (dxy / dxx) * sx) / n) / 100.0 AS regr_intercept,
       (dxy * dxy) / (dxx * dyy) AS r2
FROM d
"""

QUERIES["agg_regression"] = sql_op(AGG_REGRESSION_SQL)
ORACLE["agg_regression"] = AGG_REGRESSION_SQL


# ---------------------------------------------------------------------------
# Incremental aggregate-state merge (materialized-view maintenance)
# ---------------------------------------------------------------------------
# THE operational pattern at 100 TB: never recompute history. Partial
# aggregate states are computed per time slice (here: events before /
# after a split date — in production, per daily partition), stored, and
# MERGED by summing the commutative state columns. The oracle computes
# the same aggregate over the full table in one pass — the hash-match
# PROVES state mergeability (count/sum/min/max states merge exactly;
# value sums ride fixed-point BIGINTs so partial sums are associative).
# One shuffle per slice + one tiny merge shuffle; the full-recompute
# alternative re-reads all history every refresh.

AGG_INCREMENTAL_MERGE_SQL = """
WITH slice1 AS (
  SELECT user_id, count(*) AS n,
         sum(CAST(floor(value * 100) AS BIGINT)) AS sv_cents,
         min(ts) AS first_ts, max(ts) AS last_ts
  -- NULL ts rows land in slice1 (a bare < predicate would drop them
  -- from BOTH slices while the full-recompute oracle counts them)
  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' OR ts IS NULL
  GROUP BY user_id
),
slice2 AS (
  SELECT user_id, count(*) AS n,
         sum(CAST(floor(value * 100) AS BIGINT)) AS sv_cents,
         min(ts) AS first_ts, max(ts) AS last_ts
  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
  GROUP BY user_id
),
merged AS (
  SELECT user_id, sum(n) AS n_events,
         sum(sv_cents) AS sv_cents,
         min(first_ts) AS first_ts, max(last_ts) AS last_ts
  FROM (SELECT * FROM slice1 UNION ALL SELECT * FROM slice2)
  GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(sv_cents AS DOUBLE) / 100.0 AS total_value,
       first_ts, last_ts
FROM merged
"""

# Oracle: the full single-pass aggregate — hash equality proves the
# merged partial states reconstruct it exactly.
AGG_INCREMENTAL_MERGE_ORACLE = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM events
GROUP BY user_id
"""

QUERIES["agg_incremental_merge"] = sql_op(AGG_INCREMENTAL_MERGE_SQL)
ORACLE["agg_incremental_merge"] = AGG_INCREMENTAL_MERGE_ORACLE


# ---------------------------------------------------------------------------
# HLL sketch mergeability (round 5)
# ---------------------------------------------------------------------------
# The incremental-distinct path every materialized view / daily-rollup
# pipeline runs at 100 TB: build an HLL sketch PER SLICE once (here per
# event_type over user ids; in production per daily partition), persist
# the sketch bytes, and answer "distinct across any slice combination"
# by UNIONING SKETCHES — no rescan of the raw data, ever. Spark 4's
# Apache DataSketches functions (hll_sketch_agg / hll_union_agg /
# hll_sketch_estimate) make both levels ordinary aggregates; the tiny
# per-slice sketch table is checkpointed so the global union reads the
# materialized sketches exactly as a production rollup would (and not a
# CTE-inlined rescan). Sketch bytes are engine-specific → rows-only in
# the driver gate; relative error vs exact distinct is asserted in
# tests/test_operators.py (HLL lgK=12 ⇒ ~1.6% standard error).


def agg_hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 6: BOUNDED-ERROR ORACLE GATE. Sketch bytes are engine-
    specific, so the gate can't hash the estimates — instead the query
    outputs the exact distinct counts plus `within_bound` = (sketch
    estimate within max(5%, ±2) of exact), and the oracle outputs the
    same exact counts with TRUE: the hash matches iff EVERY estimate
    meets the sketch's published error bound, moving the accuracy
    contract into the driver gate itself (the pytest contract stays).
    The production path is the first two statements (sketch per slice,
    union of sketches — never a raw-id rescan); the exact twin exists
    for the gate and costs one distinct-count at fixture scale."""
    from duck_server_spark.engine.session import register_views

    register_views(spark, sf_dir)
    sketches = spark.sql(
        "SELECT event_type, hll_sketch_agg(user_id) AS sk "
        "FROM events GROUP BY event_type"
    ).localCheckpoint(eager=False)
    sketches.createOrReplaceTempView("hll_slice_sketches")
    per_slice = sketches.selectExpr(
        "event_type", "hll_sketch_estimate(sk) AS est_users"
    )
    merged = sketches.selectExpr(
        "'__all__' AS event_type",
        "hll_sketch_estimate(hll_union_agg(sk)) AS est_users",
    )
    est = per_slice.unionAll(merged)
    ev = spark.table("events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    ).unionAll(
        ev.agg(F.countDistinct("user_id").alias("exact_users")).select(
            F.lit("__all__").alias("event_type"), "exact_users"
        )
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            F.col("exact_users").cast("bigint").alias("exact_users"),
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= F.greatest(0.05 * F.col("exact_users"), F.lit(2.0))
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


# checkpoint RDD ids of the previous _prod call, released by the next one
_hll_prod_cached: list = []
_theta_prod_cached: list = []


def agg_hll_mergeable_distinct_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION PATH (round-7 punch item 6): the plan a 100 TB user
    actually runs — sketch per slice (ONE raw scan, materialized as the
    persisted rollup table), then every estimate (per-slice and global
    union) reads ONLY the tiny sketch table. Rows-only in the gate (the
    sketch estimates are engine-specific); the bounded-error accuracy
    contract lives in the registered `agg_hll_mergeable_distinct` gate
    row and in tests. tools/explain_audit.py FORBIDS any parquet scan in
    this query's plan — machine-checking "never a raw-id rescan"."""
    register_views(spark, sf_dir)
    common.release_checkpoints(spark, _hll_prod_cached)
    rollup = spark.sql(
        "SELECT event_type, hll_sketch_agg(user_id) AS sk "
        "FROM events GROUP BY event_type"
    )  # the persisted per-slice rollup
    sketches = common.tracked_local_checkpoint(spark, rollup, _hll_prod_cached)
    per_slice = sketches.selectExpr(
        "event_type", "CAST(hll_sketch_estimate(sk) AS BIGINT) AS est_users"
    )
    merged = sketches.selectExpr(
        "'__all__' AS event_type",
        "CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT) AS est_users",
    )
    return per_slice.unionAll(merged).orderBy("event_type")


def agg_theta_audience_overlap_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION PATH (round-7 punch item 6): pairwise audience overlap
    from the persisted theta sketch table only — one raw scan to build
    the sketches, then the pair join + intersection reads sketch bytes,
    never user ids. Rows-only; accuracy is gated by the registered
    `agg_theta_audience_overlap` bounded-error row. explain_audit
    FORBIDS parquet scans in this plan (no raw-id rescan)."""
    register_views(spark, sf_dir)
    common.release_checkpoints(spark, _theta_prod_cached)
    rollup = spark.sql(
        "SELECT event_type, theta_sketch_agg(user_id) AS sk "
        "FROM events GROUP BY event_type"
    )
    sk = common.tracked_local_checkpoint(spark, rollup, _theta_prod_cached)
    sk.createOrReplaceTempView("theta_slice_sk_prod")
    pairs = spark.sql(
        "SELECT a.event_type AS type_a, b.event_type AS type_b, "
        "a.sk AS ska, b.sk AS skb "
        "FROM theta_slice_sk_prod a JOIN theta_slice_sk_prod b "
        "ON a.event_type < b.event_type"
    )
    return (
        pairs.selectExpr("type_a", "type_b", "stack(2, ska, skb) AS sk")
        .groupBy("type_a", "type_b")
        .agg(
            F.expr(
                "CAST(theta_sketch_estimate(theta_intersection_agg(sk)) AS BIGINT)"
            ).alias("est_overlap")
        )
        .orderBy("type_a", "type_b")
    )


QUERIES["agg_hll_mergeable_distinct_prod"] = agg_hll_mergeable_distinct_prod
QUERIES["agg_theta_audience_overlap_prod"] = agg_theta_audience_overlap_prod
QUERIES["agg_hll_mergeable_distinct"] = agg_hll_mergeable_distinct
ORACLE["agg_hll_mergeable_distinct"] = """
WITH per AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_users
  FROM events GROUP BY event_type
),
allr AS (
  SELECT '__all__' AS event_type, count(DISTINCT user_id) AS exact_users
  FROM events
)
SELECT event_type, CAST(exact_users AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM (SELECT * FROM per UNION ALL SELECT * FROM allr)
"""


# ---------------------------------------------------------------------------
# Theta-sketch audience overlap (round 5)
# ---------------------------------------------------------------------------
# HLL unions answer "distinct across slices"; Theta sketches also answer
# INTERSECTIONS — the audience-overlap / cross-surface-reach question
# ("how many users both clicked and purchased") that exact computation
# answers only with a full shuffle of both id sets. Same mergeable-
# sketch deployment as agg_hll_mergeable_distinct: one sketch per slice,
# persisted; any pairwise overlap then costs two sketch reads, never a
# rescan. Pairs are a self-join of the tiny per-slice sketch table;
# the intersection is stack → theta_intersection_agg per pair. Estimates
# are engine-specific → rows-only; accuracy vs exact intersections is
# asserted in tests/test_operators.py.


def agg_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 6: BOUNDED-ERROR ORACLE GATE (same pattern as
    agg_hll_mergeable_distinct): the query outputs each pair's EXACT
    overlap plus `within_bound` = (theta-intersection estimate within
    max(10%, ±3) of exact); the oracle outputs the exact overlaps with
    TRUE — hash equality proves every estimate meets the bound inside
    the driver gate. Production path: sketch per slice, pairwise
    intersection of the tiny sketch table (never a raw-id rescan)."""
    from pyspark.sql import functions as F

    from duck_server_spark.engine.session import register_views

    register_views(spark, sf_dir)
    sk = spark.sql(
        "SELECT event_type, theta_sketch_agg(user_id) AS sk "
        "FROM events GROUP BY event_type"
    ).localCheckpoint(eager=False)
    sk.createOrReplaceTempView("theta_slice_sk")
    pairs = spark.sql(
        "SELECT a.event_type AS type_a, b.event_type AS type_b, a.sk AS ska, b.sk AS skb "
        "FROM theta_slice_sk a JOIN theta_slice_sk b ON a.event_type < b.event_type"
    )
    est = (
        pairs.selectExpr("type_a", "type_b", "stack(2, ska, skb) AS sk")
        .groupBy("type_a", "type_b")
        .agg(
            F.expr(
                "CAST(theta_sketch_estimate(theta_intersection_agg(sk)) AS BIGINT)"
            ).alias("est_overlap")
        )
    )
    d = spark.table("events").select("event_type", "user_id").distinct()
    exact = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        est.join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("exact_overlap"), F.lit(0)).cast("bigint").alias("exact_overlap"),
            (
                F.abs(
                    F.col("est_overlap")
                    - F.coalesce(F.col("exact_overlap"), F.lit(0))
                )
                <= F.greatest(
                    0.10 * F.coalesce(F.col("exact_overlap"), F.lit(0)),
                    F.lit(3.0),
                )
            ).alias("within_bound"),
        )
        .orderBy("type_a", "type_b")
    )


QUERIES["agg_theta_audience_overlap"] = agg_theta_audience_overlap
ORACLE["agg_theta_audience_overlap"] = """
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS exact_overlap
  FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
),
allp AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM events) a
  JOIN (SELECT DISTINCT event_type FROM events) b ON a.event_type < b.event_type
)
SELECT allp.type_a, allp.type_b,
       CAST(coalesce(pairs.exact_overlap, 0) AS BIGINT) AS exact_overlap,
       TRUE AS within_bound
FROM allp LEFT JOIN pairs
  ON allp.type_a = pairs.type_a AND allp.type_b = pairs.type_b
"""
# (the raw-estimate accuracy contract ALSO stays in tests/test_operators.py)
# in tests/test_operators.py
