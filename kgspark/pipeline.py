"""End-to-end KG construction pipeline: pages -> triples, resumable.

Composition of the stage modules (SURVEY.md §7.2 build order), each stage an
optional checkpoint via io.CheckpointRegistry so a killed run resumes from
the last completed stage (reference pattern: scripts re-load prior CSVs;
SURVEY.md §4 "Checkpoint/resume").

    extract -> annotate -> link -> canonicalize -> resolve -> materialize
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import canonicalize as canon
from . import link as linkmod
from . import materialize as mat
from . import metrics
from . import provenance as prov
from . import temporal
from .extract import with_extracted_text
from .io import CheckpointRegistry
from .mentions import annotate_pages, explode_mentions, explode_relations
from .relations import resolve_triples


def gazetteer_from_alias_index(alias_index: DataFrame) -> tuple[list[str], list[str]]:
    """Collect the (small, broadcastable) vocabulary to the driver once.
    This is the ONE permitted driver-side collect: the alias index is by
    definition broadcast-sized (north rule)."""
    rows = alias_index.select("aliases", "admin_region").collect()
    gaz = sorted({a for r in rows for a in r["aliases"]})
    regions = sorted({r["admin_region"] for r in rows if r["admin_region"]})
    return gaz, regions


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_index: DataFrame,
    checkpoint_dir: str | None = None,
) -> Mapping[str, DataFrame]:
    """Run (or resume) the full pipeline; returns all stage DataFrames."""
    reg = CheckpointRegistry(spark, checkpoint_dir) if checkpoint_dir else None

    # Stages consumed by 2+ downstream stages: break recomputation with a
    # localCheckpoint. It is not lazy: with AQE on, building the
    # checkpoint RDD runs every shuffle stage beneath it, so run_pipeline
    # itself executes most of the pipeline (only the last stage after
    # the final exchange waits for the first action). Single-consumer
    # stages stay lazy so Catalyst fuses them into their consumer (fewer
    # jobs — job-launch latency is the serial floor at small scale).
    _SHARED = {"annotated", "links", "surfaces", "surface_entity", "components"}

    def ck(name: str, make, partition_by=None) -> DataFrame:
        if reg is None:
            df = make()
            return df.localCheckpoint(eager=False) if name in _SHARED else df
        return reg.stage(name, make, partition_by=partition_by)

    gaz, regions = gazetteer_from_alias_index(alias_index)

    # The frozen extractor is fused into the annotation pass so the
    # 13KB-per-page text never crosses the JVM<->Python boundary twice
    # (guide §4.1). Byte-identical output: annotate_pages(from_html=True)
    # applies the same extract_text_bytes the lazy `extracted` stage uses.
    annotated = ck(
        "annotated", lambda: annotate_pages(pages, gaz, regions, from_html=True)
    )
    mentions = ck("mentions", lambda: explode_mentions(annotated))
    relations = ck("relations", lambda: explode_relations(annotated))
    links = ck("links", lambda: linkmod.link_mentions(mentions, alias_index))

    def make_canonical_inputs():
        return (
            mentions.withColumn("norm_surface", linkmod.normalize_surface(F.col("surface")))
            .groupBy("norm_surface")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
        )

    surfaces = ck("surfaces", make_canonical_inputs)
    s2e = ck("surface_entity", lambda: linkmod.surface_to_entity_map(links))

    def make_components():
        edges = canon.same_as_edges(surfaces, s2e)
        return canon.connected_components(
            surfaces.select(F.col("norm_surface").alias("node")), edges
        )

    components = ck("components", make_components)
    canonical_map = ck(
        "canonical_map", lambda: canon.consensus_canonical(surfaces, components)
    )
    resolved = ck(
        "resolved_surfaces", lambda: canon.resolve_unlinked_surfaces(components, s2e)
    )
    triples = ck(
        "triples", lambda: resolve_triples(relations, links, resolved), partition_by=["pred"]
    )

    # Derived dimensions are built LAZILY (first dict access): their
    # construction triggers eager Catalyst analysis (unionByName resolves
    # schemas immediately) over the full pipeline tree — measured ~5s of
    # driver time per run — which consumers that only want `triples`
    # should not pay. entities/edges/lineage live here too: they are
    # pure plan construction (Py4J + analysis, part of the serial driver
    # floor) that triples-only consumers — including the scaling bench —
    # never execute.
    lazy_builders = {
        "extracted": lambda: ck(
            "extracted", lambda: with_extracted_text(pages.drop("text"))
        ),
        "entities": lambda: ck("entities", lambda: mat.build_entities(alias_index, links)),
        "edges": lambda: ck(
            "edges",
            lambda: mat.build_edges(triples, mat.build_mention_edges(links)),
            partition_by=["pred"],
        ),
        "lineage": lambda: ck(
            "lineage",
            lambda: metrics.lineage_rows(stages["edges"], "edges", "subj").unionByName(
                metrics.lineage_rows(triples, "triples", "subj")
            ),
        ),
        "prov_entities": lambda: ck(
            "prov_entities", lambda: prov.provenance_entities(triples)
        ),
        "prov_edges": lambda: ck("prov_edges", lambda: prov.provenance_edges(triples)),
        "entity_snapshots": lambda: ck(
            "entity_snapshots", lambda: temporal.entity_snapshots(links, pages)
        ),
        # Built from the (checkpointed) entity_snapshots stage via the lazy
        # dict itself so accessing both keys runs the snapshot agg once.
        "entity_timeline": lambda: ck(
            "entity_timeline",
            lambda: temporal.entity_timeline(stages["entity_snapshots"]),
        ),
    }

    stages = _LazyStages(lazy_builders, {
        "annotated": annotated,
        "mentions": mentions,
        "relations": relations,
        "links": links,
        "surfaces": surfaces,
        "surface_entity": s2e,
        "components": components,
        "canonical_map": canonical_map,
        "resolved_surfaces": resolved,
        "triples": triples,
    })
    return stages


class _LazyStages(Mapping):
    """Stage mapping whose derived entries build on first access.

    Iteration, len() and ``in`` see every stage, eager and lazy, without
    building anything; item access (and so get/items/values) builds."""

    def __init__(self, builders, eager):
        self._stages = dict(eager)
        self._builders = builders

    def __getitem__(self, key):
        if key not in self._stages:
            self._stages[key] = self._builders[key]()
        return self._stages[key]

    def __iter__(self):
        return iter(dict.fromkeys([*self._stages, *self._builders]))

    def __len__(self):
        return len(self._stages.keys() | self._builders.keys())

    def __contains__(self, key):
        return key in self._stages or key in self._builders
