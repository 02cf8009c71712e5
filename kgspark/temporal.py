"""Temporal-snapshot dimension: entity evolution across crawl years.

Reference analog: the reference links census units ACROSS years and orders
each entity's name chain chronologically (assign_canonical_names.py:96-158),
then serves "how did X change over time" queries
(query_test_results.log:12-20). The webtext analog snapshots by crawl year
(`year(warc_ts)`): per-entity per-year mention profiles, lag/lead chains
over the years, and name-change events where the dominant surface form of
an entity flips between snapshots.

Scale notes:
- the page->year map is 1:1 with pages; it joins to links on url, the key
  links were already shuffled on — AQE plans a co-partitioned join;
- per-(entity, year, surface) counts pre-reduce BEFORE the per-(entity,
  year) argmax aggregate, so head entities ("Canada", 35% of pages) enter
  it at vocabulary-size, not corpus-size;
- the chain window partitions by entity and orders by year — bounded by
  the number of snapshots (~tens), never by corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def page_years(pages: DataFrame) -> DataFrame:
    """(url, snapshot_year) — the snapshot key carrier."""
    return pages.select("url", F.year("warc_ts").cast("int").alias("snapshot_year"))


def entity_snapshots(links: DataFrame, pages: DataFrame) -> DataFrame:
    """One row per (entity_id, snapshot_year): the high-confidence mention
    count and the year's dominant surface form (count desc, surface asc).
    `links` holds one row per (url, surface), so the count is also the
    number of (page, surface) pairs."""
    l = links.where(F.col("confidence") == "high").join(page_years(pages), "url")
    per_surface = l.groupBy("entity_id", "snapshot_year", "surface").agg(
        F.count(F.lit(1)).alias("n")
    )
    # argmax as min-of-struct (as in canonicalize.consensus_canonical):
    # (n desc, surface asc) is min(struct(-n, surface)), and surface is
    # unique per row of the group, so the order has no ties
    return per_surface.groupBy("entity_id", "snapshot_year").agg(
        F.sum("n").cast("long").alias("n_mentions"),
        F.min(F.struct((-F.col("n")).alias("_neg_n"), "surface")).alias("_top"),
    ).select(
        "entity_id", "snapshot_year", "n_mentions", F.col("_top.surface").alias("top_surface")
    )


def entity_timeline(snapshots: DataFrame) -> DataFrame:
    """Chronological chain per entity (reference W3 lag/lead): previous
    snapshot's year/surface/count and the flags downstream queries gate on."""
    w = Window.partitionBy("entity_id").orderBy("snapshot_year")
    return snapshots.select(
        "entity_id",
        "snapshot_year",
        "n_mentions",
        "top_surface",
        F.lag("snapshot_year").over(w).alias("prev_year"),
        F.lag("top_surface").over(w).alias("prev_surface"),
        F.lag("n_mentions").over(w).alias("prev_mentions"),
    ).withColumn(
        "name_changed",
        F.col("prev_surface").isNotNull()
        & (F.col("prev_surface") != F.col("top_surface")),
    )


def name_change_events(timeline: DataFrame) -> DataFrame:
    """(entity_id, from_year, to_year, from_surface, to_surface) rows — the
    reference's name-change chain entries (assign_canonical_names.py:96-158)."""
    return timeline.where(F.col("name_changed")).select(
        "entity_id",
        F.col("prev_year").alias("from_year"),
        F.col("snapshot_year").alias("to_year"),
        F.col("prev_surface").alias("from_surface"),
        F.col("top_surface").alias("to_surface"),
    )
