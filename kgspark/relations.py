"""Relation extraction: surface-level pattern triples -> entity-id triples.

The patterns themselves are matched in the single annotation UDF pass
(mentions.py `_REL_PATTERNS`: born_in, governed, signed, located_in,
participated_in — the north-rule predicate set). This module resolves the
captured argument surfaces to entity ids through the per-page link decisions
(link.py), producing the raw (subj, pred, obj, src_url) triples that
materialize.py writes as the edge table.

Reference analog: each edge row in the reference is a literal
(:START_ID, :END_ID, :TYPE) record (build_neo4j_cidoc_crm.py:162-166);
here the edge row additionally carries provenance (src_url — the analog of
the reference's per-measurement P70_documents edge,
build_census_observations_v2.py:329-333).

Scale: two equi-joins against the per-page link table. The relation stream
is repartitioned by url once, and every later key contains url, so it is
not shuffled again; AQE broadcasts the link side while it is small, and
otherwise plans sort-merge joins that shuffle only the link side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import link as linkmod


def resolve_triples(relations: DataFrame, links: DataFrame, resolved_surfaces: DataFrame) -> DataFrame:
    """relations(url, subj_surface, pred, obj_surface) x links -> id triples.

    ``links``: output of link.link_mentions (one row per url, surface).
    ``resolved_surfaces``: canonicalization fallback map (norm_surface ->
    entity_id) used for surfaces whose per-page link was ambiguous/missing
    — the recall-recovery path for OCR-corrupted forms. With an empty map
    every surface keeps its link id.
    """
    link_slim = links.select(
        "url",
        "surface",
        F.col("entity_id").alias("linked_id"),
        F.col("confidence"),
        F.col("norm_surface"),
    )
    # Resolution is deterministic per (url, surface) — links carries one
    # row per (url, surface) and the fallback map is keyed on the
    # normalized surface — so relation rows identical in all four surface
    # columns resolve identically and the final dropDuplicates collapses
    # them anyway. Dedup BEFORE the two joins (r7): repeated sentences on
    # a page stop multiplying the join and shuffle volume.
    # ONE url-hash exchange serves the whole tail (r7): every downstream
    # clustering requirement — this dedup (url,s,p,o), both attach joins
    # (url, surface), and the final output dedup (subj,pred,obj,src_url
    # where src_url==url) — contains url, so hashpartitioning(url)
    # satisfies each of them and no further exchange of the relation
    # stream is needed. Rows sharing a url are a page's handful, so the
    # url hash spreads as evenly as the page distribution itself.
    relations = relations.repartition("url").dropDuplicates(
        ["url", "subj_surface", "pred", "obj_surface"]
    )

    def attach(df: DataFrame, surf_col: str, out_col: str) -> DataFrame:
        side = link_slim.withColumnRenamed("surface", surf_col).withColumnsRenamed(
            {"linked_id": f"{out_col}_id", "confidence": f"{out_col}_conf",
             "norm_surface": f"{out_col}_norm"}
        )
        df = df.join(side, ["url", surf_col], "left")
        fb = resolved_surfaces.select(
            F.col("norm_surface").alias(f"{out_col}_norm"),
            F.col("entity_id").alias(f"{out_col}_fallback"),
        )
        # A surface with NO link row at all has a NULL links-derived norm
        # key; normalize the raw surface so those (the very forms the
        # recall-recovery path exists for) can still hit the fallback map.
        df = df.withColumn(
            f"{out_col}_norm",
            F.coalesce(
                F.col(f"{out_col}_norm"),
                linkmod.normalize_surface(F.col(surf_col)),
            ),
        )
        df = df.join(F.broadcast(fb), f"{out_col}_norm", "left").withColumn(
            f"{out_col}_id",
            F.when(
                (F.col(f"{out_col}_conf") == "high") & F.col(f"{out_col}_id").isNotNull(),
                F.col(f"{out_col}_id"),
            ).otherwise(F.coalesce(F.col(f"{out_col}_fallback"), F.col(f"{out_col}_id"))),
        ).drop(f"{out_col}_fallback")
        return df

    out = attach(relations, "subj_surface", "subj")
    out = attach(out, "obj_surface", "obj")
    return (
        out.where(F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull())
        .select(
            F.col("subj_id").alias("subj"),
            "pred",
            F.col("obj_id").alias("obj"),
            F.col("url").alias("src_url"),
        )
        .dropDuplicates(["subj", "pred", "obj", "src_url"])
    )
