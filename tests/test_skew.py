"""Scale/skew test (SURVEY.md §5.6): head-entity corpus where one key owns
~30%+ of all rows; salted results must equal unsalted exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark.ops import skew


def _skewed(spark, n=20000):
    # ~35% of rows hit the head key "canada"
    return spark.range(n).select(
        F.when(F.pmod("id", 100) < 35, F.lit("canada"))
        .otherwise(F.concat(F.lit("e"), F.pmod("id", 500).cast("string")))
        .alias("entity"),
        F.col("id").alias("row_id"),
    )


def test_salted_count_equals_plain(spark):
    df = _skewed(spark)
    plain = {r["entity"]: r["count"] for r in df.groupBy("entity").count().collect()}
    salted = {
        r["entity"]: r["count"]
        for r in skew.salted_count(df, ["entity"], identity_cols=["row_id"]).collect()
    }
    assert salted == plain
    assert salted["canada"] == 7000


def test_salted_agg_sum_min_max(spark):
    df = _skewed(spark)
    plain = {
        r["entity"]: (r["s"], r["mn"], r["mx"])
        for r in df.groupBy("entity").agg(
            F.sum("row_id").alias("s"), F.min("row_id").alias("mn"), F.max("row_id").alias("mx")
        ).collect()
    }
    salted = {
        r["entity"]: (r["s"], r["mn"], r["mx"])
        for r in skew.salted_agg(
            df,
            ["entity"],
            partial_aggs=[
                F.sum("row_id").alias("_s"), F.min("row_id").alias("_mn"),
                F.max("row_id").alias("_mx"),
            ],
            merge_aggs=[
                F.sum("_s").alias("s"), F.min("_mn").alias("mn"), F.max("_mx").alias("mx"),
            ],
            identity_cols=["row_id"],
        ).collect()
    }
    assert salted == plain


def test_salt_deterministic(spark):
    df = _skewed(spark, 2000)
    a = df.select("row_id", skew.salt_column(16, "row_id").alias("s")).collect()
    b = df.select("row_id", skew.salt_column(16, "row_id").alias("s")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    salts = {r["s"] for r in a}
    assert salts == set(range(16))  # uniform-ish coverage


def test_salted_repartition_spreads_hot_key(spark):
    df = _skewed(spark)
    parts = (
        skew.salted_repartition(df, ["entity"], n_salts=8, identity_cols=["row_id"],
                                num_partitions=8)
        .where(F.col("entity") == "canada")
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .count()
    )
    assert parts >= 4  # head key spread over several partitions, not one


def test_pipeline_head_entity_output_matches_golden(spark):
    """End-to-end skew check: the 35%-head-entity fixture corpus still
    yields exact P/R (salting/partial-agg never changes results)."""
    from kgspark import fixtures
    from kgspark.evaluate import precision_recall
    from kgspark.pipeline import run_pipeline

    out = run_pipeline(spark, fixtures.gen_pages(spark, 200), fixtures.gen_alias_index(spark))
    pr = precision_recall(out["triples"], fixtures.gen_golden_triples(spark, 200))
    assert pr["precision"] >= 0.95 and pr["recall"] >= 0.95
