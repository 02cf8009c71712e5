"""Exact group quantiles and integer z-score outliers."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark.ops import stats


def test_group_quantiles_pinned(spark):
    # group 'a': values 1..10 -> q50 = rank ceil(5.0)=5 -> 5; q95 -> rank 10 -> 10
    rows = [(i, "a", i) for i in range(1, 11)] + [(100, "b", 7)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, v long")
    out = {r["grp"]: r for r in stats.group_quantiles(df, "grp", "v").collect()}
    assert out["a"]["n"] == 10 and out["a"]["q50"] == 5 and out["a"]["q95"] == 10
    # singleton group: both quantiles are the single value
    assert out["b"]["q50"] == 7 and out["b"]["q95"] == 7


def test_group_quantiles_tie_break_deterministic(spark):
    # duplicate values: the (value, id) total order fixes which row is hit
    rows = [(i, "a", 5) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, v long")
    out = stats.group_quantiles(df, "grp", "v", qs=(0.5,)).collect()[0]
    assert out["q50"] == 5 and out["n"] == 4


def test_group_quantiles_hot_group_sorts_histogram_not_rows(spark):
    """Skew guard (round-5 verdict #4): one group holds 50% of rows with
    few distinct values; the per-group Window must consume the
    groupBy(grp, value) aggregate (distinct-value histogram), never the
    raw rows — otherwise one reducer sorts the whole hot group."""
    hot = [(i, "hot", i % 7) for i in range(4000)]
    cold = [(10_000 + i, f"g{i % 40}", i % 11) for i in range(4000)]
    df = spark.createDataFrame(hot + cold, "doc_id long, grp string, v long")
    q = stats.group_quantiles(df, "grp", "v")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # plan prints top-down: everything BELOW the Window (its input) must be
    # the (grp, v) count aggregate, not a row-level scan
    below_window = plan[plan.index("Window") :]
    assert "HashAggregate" in below_window, plan
    agg_keys = below_window[below_window.index("HashAggregate") :]
    assert "grp" in agg_keys[:200] and "v" in agg_keys[:200], agg_keys[:200]
    # exactness on the skewed data: hot group 4000 rows of values 0..6
    out = {r["grp"]: r for r in q.collect()}
    # ranks: q50 -> 2000th of sorted [0]*572.. pattern; values 0..6 near-
    # uniform (4000/7 each ~571.4): rank 2000 falls in value 3's run
    vals = sorted(x % 7 for x in range(4000))
    assert out["hot"]["q50"] == vals[2000 - 1]
    assert out["hot"]["q95"] == vals[3800 - 1]
    assert out["hot"]["n"] == 4000


def test_outlier_zscore_flags_planted_anomaly(spark):
    base = [(i, "a", 100 + (i % 5)) for i in range(50)]
    df = spark.createDataFrame(
        base + [(999, "a", 1000)], "doc_id long, grp string, v long"
    )
    flagged = stats.outlier_zscore(df, "grp", "v").collect()
    assert {r["doc_id"] for r in flagged} == {999}


def test_outlier_zscore_none_on_tight_group(spark):
    df = spark.createDataFrame(
        [(i, "a", 100) for i in range(20)], "doc_id long, grp string, v long"
    )
    assert stats.outlier_zscore(df, "grp", "v").count() == 0


def test_outlier_zscore_broadcasts_moments(spark):
    df = spark.createDataFrame(
        [(i, "a", i) for i in range(30)], "doc_id long, grp string, v long"
    )
    plan = (
        stats.outlier_zscore(df, "grp", "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
