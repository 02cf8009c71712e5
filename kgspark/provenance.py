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

Each table is built-in column expressions over one aggregate of the triple
store and one explode of its rows — the dimension is domain-cardinality
(tiny vs the store), and the edges aggregate map-side, so a head domain
(half the corpus from one host) costs no more than any other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SOURCE_PREFIX = "SRC_"
ACTOR_PREFIX = "PUB_"
RIGHTS_PREFIX = "RGT_"


def _domain() -> F.Column:
    # scheme://host/... of src_url -> host; bad urls fall back to the raw string
    host = F.regexp_extract("src_url", r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    return F.when(host != "", host).otherwise(F.col("src_url"))


def _dim_id(prefix: str) -> F.Column:
    """Dimension entity id of the row's `domain`: prefix + a safe token."""
    return F.concat(F.lit(prefix), F.regexp_replace("domain", r"[^0-9A-Za-z_.-]", "_"))


def provenance_entities(triples: DataFrame) -> DataFrame:
    """Three dimension rows (source, publisher actor, rights) per domain,
    in the pipeline's entity-table shape (entity_id, entity_type,
    canonical_name, n_mentions)."""
    doms = triples.groupBy(_domain().alias("domain")).agg(
        F.count(F.lit(1)).alias("n_mentions")
    )

    def row(prefix, entity_type, name):
        return F.struct(
            _dim_id(prefix).alias("entity_id"),
            F.lit(entity_type).alias("entity_type"),
            name.alias("canonical_name"),
        )

    rows = F.array(
        row(SOURCE_PREFIX, "web_source", F.col("domain")),
        row(ACTOR_PREFIX, "publisher", F.col("domain")),
        row(RIGHTS_PREFIX, "rights", F.concat(F.lit("implied-copyright:"), "domain")),
    )
    return doms.select(F.explode(rows).alias("_e"), "n_mentions").select("_e.*", "n_mentions")


def provenance_edges(triples: DataFrame) -> DataFrame:
    """Dimension-internal edges (published_by, has_rights) plus one
    documented_in edge per (graph entity, domain) carrying the evidence
    count as weight — (subj, pred, obj, weight).

    One aggregate over two grouping sets: (subj, domain) rows count the
    documented_in evidence, and (domain) rows carry the two meta edges."""
    counts = (
        triples.select("subj", _domain().alias("domain"))
        .groupingSets([["subj", "domain"], ["domain"]], "subj", "domain")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.grouping("subj").alias("_per_domain"))
    )

    def edge(subj, pred, obj, weight):
        return F.struct(
            subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj"),
            weight.alias("weight"),
        )

    one = F.lit(1).cast("long")
    edges = F.when(
        F.col("_per_domain") == 1,
        F.array(
            edge(_dim_id(SOURCE_PREFIX), "published_by", _dim_id(ACTOR_PREFIX), one),
            edge(_dim_id(SOURCE_PREFIX), "has_rights", _dim_id(RIGHTS_PREFIX), one),
        ),
    ).otherwise(
        F.array(edge(F.col("subj"), "documented_in", _dim_id(SOURCE_PREFIX), F.col("n")))
    )
    return counts.select(F.explode(edges).alias("_e")).select("_e.*")
