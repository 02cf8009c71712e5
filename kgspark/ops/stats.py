"""Distribution statistics for corpus QA: exact per-group quantiles and
z-score outlier flagging — the per-domain "is this slice healthy" pass a
crawl pipeline runs before mixing data.

Both ops are engine-portable by construction:
- quantiles use the discrete rank formula (element at row_number
  ceil(q*n) under a total order) instead of an engine's interpolating
  percentile, whose type-4/7 interpolation conventions differ.
- outliers avoid sqrt entirely: z > k  <=>  (n*x - s)^2 > k^2 * (n*ssq - s^2)
  with BIGINT n, s, ssq — exact integer comparison, no double
  accumulation order anywhere. (At 10^12 rows cast the sums to
  DECIMAL(38,0): ssq of 10^12 million-token docs overflows 64 bits;
  the inequality itself is unchanged.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

OUTLIER_K = 3  # outlier_zscore flags rows more than this many sigmas out


def group_quantiles(
    df: DataFrame,
    grp_col: str,
    val_col: str,
    qs: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """(grp, n, q50, q95, ...): exact discrete quantiles per group — the
    value at rank ceil(q*n) under (value, id) order. The value AT a rank
    is id-invariant (rows tied on value share it), so the selection
    reduces to a VALUE HISTOGRAM: smallest v whose cumulative count
    reaches the rank. Column names are percent-based: q50 for 0.5, q95
    for 0.95, q99_9 for 0.999.

    Scale shape (round-5 verdict #4): the previous row_number window
    sorted every ROW of a group on one reducer — a single-task 30 TB sort
    when one domain is 30% of a 100 TB corpus. Now: (1) map-side-combined
    groupBy (grp, value) compresses the hot group to its distinct values
    BEFORE the wire; (2) one window per grp orders only that distinct-
    value table (doc-length/score domains are bounded, orders of
    magnitude below row count); (3) a groups-sized final agg picks the
    rank-crossing value per q. Still exact for any distribution — only
    the sort input shrank. tests/test_stats.py pins the plan: the window
    consumes the aggregate, never raw rows."""
    counts = df.groupBy(grp_col, val_col).agg(F.count("*").alias("_c"))
    wg = Window.partitionBy(grp_col)
    w_cum = wg.orderBy(F.col(val_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
        "_n", F.sum("_c").over(wg)
    )
    aggs = [F.max("_n").cast("long").alias("n")]
    for q in qs:
        name = "q" + ("%g" % (q * 100)).replace(".", "_")
        aggs.append(
            F.min(
                F.when(
                    F.col("_cum") >= F.ceil(F.lit(q) * F.col("_n")), F.col(val_col)
                )
            ).alias(name)
        )
    return cum.groupBy(grp_col).agg(*aggs)


def outlier_zscore(df: DataFrame, grp_col: str, val_col: str) -> DataFrame:
    """Rows whose integer value sits more than k = OUTLIER_K
    group-standard-deviations from the group mean, decided by the EXACT
    integer inequality
    (n*x - s)^2 > k^2 * (n*ssq - s^2) — no sqrt, no doubles, so the flag
    set is bit-identical at any parallelism and in any engine. val_col
    must be integral. Group moments are one map-side-combined groupBy;
    they broadcast back (#groups rows)."""
    moments = df.groupBy(grp_col).agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(F.col(val_col).cast("long")).alias("_s"),
        F.sum(F.col(val_col).cast("long") * F.col(val_col).cast("long")).alias("_ssq"),
    )
    x = F.col(val_col).cast("long")
    dev = F.col("_n") * x - F.col("_s")
    var_n2 = F.col("_n") * F.col("_ssq") - F.col("_s") * F.col("_s")
    return (
        df.join(F.broadcast(moments), grp_col)
        .where(dev * dev > F.lit(OUTLIER_K * OUTLIER_K) * var_n2)
        .drop("_n", "_s", "_ssq")
    )
