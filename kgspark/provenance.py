"""Provenance dimension: source/actor/rights entities + documentation edges.

Reference analog: build_provenance_entities.py:21-259 emits CIDOC-CRM
provenance nodes (E33 linguistic objects for the census volumes, E39 actors
for the enumerating agency, E30 rights, E65 creation events) and links every
measurement to its source document. The webtext analog derives the same
dimension from the triple store's `src_url` provenance column:

- one ``web_source`` entity per source domain (E33 analog),
- one ``publisher`` actor per domain (E39 analog),
- one ``rights`` row per domain (E30 analog — web pages carry implied
  copyright; the statement value is a placeholder column, not inference),
- ``published_by`` / ``has_rights`` edges between them,
- a ``documented_in`` edge per (entity, domain) with an evidence count —
  the E65-ish link from graph content back to where it was read.

Everything is built-in column expressions over one groupBy of the triple
store — the dimension is domain-cardinality (tiny vs the store), and the
edges aggregate map-side, so a head domain (half the corpus from one host)
costs no more than any other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SOURCE_PREFIX = "SRC_"
ACTOR_PREFIX = "PUB_"
RIGHTS_PREFIX = "RGT_"


def _domain(url_col) -> F.Column:
    # scheme://host/... -> host; bad urls fall back to the raw string
    host = F.regexp_extract(url_col, r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    return F.when(host != "", host).otherwise(url_col)


def _safe(col) -> F.Column:
    return F.regexp_replace(col, r"[^0-9A-Za-z_.-]", "_")


def source_domains(triples: DataFrame) -> DataFrame:
    """(domain, n_triples, n_entities) — one row per source domain."""
    return (
        triples.withColumn("domain", _domain(F.col("src_url")))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.approx_count_distinct("subj").alias("n_entities"),
        )
    )


def provenance_entities(triples: DataFrame) -> DataFrame:
    """Three dimension rows (source, publisher actor, rights) per domain,
    in the pipeline's entity-table shape (entity_id, entity_type,
    canonical_name, n_mentions)."""
    doms = source_domains(triples).select(
        "domain", F.col("n_triples").alias("n_mentions")
    )
    sid = F.concat(F.lit(SOURCE_PREFIX), _safe(F.col("domain")))
    aid = F.concat(F.lit(ACTOR_PREFIX), _safe(F.col("domain")))
    rid = F.concat(F.lit(RIGHTS_PREFIX), _safe(F.col("domain")))
    src = doms.select(
        sid.alias("entity_id"),
        F.lit("web_source").alias("entity_type"),
        F.col("domain").alias("canonical_name"),
        "n_mentions",
    )
    actor = doms.select(
        aid.alias("entity_id"),
        F.lit("publisher").alias("entity_type"),
        F.col("domain").alias("canonical_name"),
        "n_mentions",
    )
    rights = doms.select(
        rid.alias("entity_id"),
        F.lit("rights").alias("entity_type"),
        F.concat(F.lit("implied-copyright:"), F.col("domain")).alias("canonical_name"),
        "n_mentions",
    )
    return src.unionByName(actor).unionByName(rights)


def provenance_edges(triples: DataFrame) -> DataFrame:
    """Dimension-internal edges (published_by, has_rights) plus one
    documented_in edge per (graph entity, domain) carrying the evidence
    count as weight — (subj, pred, obj, weight)."""
    with_dom = triples.withColumn("domain", _domain(F.col("src_url")))
    doms = with_dom.select("domain").distinct()
    sid = F.concat(F.lit(SOURCE_PREFIX), _safe(F.col("domain")))
    aid = F.concat(F.lit(ACTOR_PREFIX), _safe(F.col("domain")))
    rid = F.concat(F.lit(RIGHTS_PREFIX), _safe(F.col("domain")))
    meta = doms.select(
        sid.alias("subj"), F.lit("published_by").alias("pred"), aid.alias("obj"),
        F.lit(1).cast("long").alias("weight"),
    ).unionByName(
        doms.select(
            sid.alias("subj"), F.lit("has_rights").alias("pred"), rid.alias("obj"),
            F.lit(1).cast("long").alias("weight"),
        )
    )
    documented = (
        with_dom.groupBy("subj", "domain")
        .agg(F.count(F.lit(1)).alias("weight"))
        .select(
            "subj",
            F.lit("documented_in").alias("pred"),
            F.concat(F.lit(SOURCE_PREFIX), _safe(F.col("domain"))).alias("obj"),
            F.col("weight").cast("long").alias("weight"),
        )
    )
    return meta.unionByName(documented)
