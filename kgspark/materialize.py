"""Graph materialization: partitioned entities/edges/lineage tables.

Reference analog: 67 Neo4j bulk-CSV files with :ID/:START_ID/:END_ID/:TYPE
headers (/root/reference/scripts/build_neo4j_cidoc_crm.py:289-334,
build_census_observations_v2.py:421-489). Here the graph is two relational
tables — the (subj, pred, obj) triple store itself:

  entities(entity_id, canonical_name, entity_type, admin_region,
           latitude, longitude, geonames_id, inception_date, n_mentions)
  edges(subj, pred, obj, src_url)        partitioned by pred

plus `lineage` (per-partition counters, metrics.py). This module builds the
tables; io.CheckpointRegistry writes them (pipeline.STAGES,
tools/submit_pipeline.py). Partitioning by `pred` mirrors the reference's
one-CSV-per-edge-type layout and gives partition pruning on the query side
(every reference Cypher test filters on a single relationship type).
`mentions` edges (page -> entity) carry the provenance dimension the
reference models as P70_documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_entities(alias_index: DataFrame, links: DataFrame) -> DataFrame:
    """Entity dimension: vocabulary + observed mention counts.

    Mention counting groups by entity_id — the textbook head-entity hot key
    ("Canada" on 35% of pages). A plain count needs no salt: its partial
    aggregate combines map-side, so a hot key reaches its reducer as at
    most one row per map task."""
    mention_counts = (
        links.where(F.col("confidence") == "high")
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    return (
        alias_index.select(
            "entity_id", "canonical_name", "entity_type", "admin_region",
            "latitude", "longitude", "geonames_id", "inception_date",
        )
        .join(mention_counts, "entity_id", "left")
        .withColumn("n_mentions", F.coalesce("n_mentions", F.lit(0)))
    )


def build_mention_edges(links: DataFrame) -> DataFrame:
    """(page) -[mentions]-> (entity) provenance edges."""
    return (
        links.where(F.col("confidence") == "high")
        .select(
            F.col("url").alias("subj"),
            F.lit("mentions").alias("pred"),
            F.col("entity_id").alias("obj"),
            F.col("url").alias("src_url"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )


def build_edges(relation_triples: DataFrame, mention_edges: DataFrame) -> DataFrame:
    cols = ["subj", "pred", "obj", "src_url"]
    return relation_triples.select(cols).unionByName(mention_edges.select(cols))

