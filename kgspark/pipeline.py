"""End-to-end KG construction pipeline: pages -> triples, resumable.

Composition of the stage modules (SURVEY.md §7.2 build order), declared once
in `STAGES`, each stage an optional checkpoint via io.CheckpointRegistry so
a killed run resumes from the last completed stage (reference pattern:
scripts re-load prior CSVs; SURVEY.md §4 "Checkpoint/resume").

    extract -> annotate -> link -> canonicalize -> resolve -> materialize
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import canonicalize as canon
from . import link as linkmod
from . import materialize as mat
from . import metrics
from . import provenance as prov
from . import temporal
from .io import CheckpointRegistry, spread
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


def _annotated(s: _Stages) -> DataFrame:
    # The frozen extractor is fused into the annotation pass so the
    # 13KB-per-page text never crosses the JVM<->Python boundary twice
    # (guide §4.1). Byte-identical output: annotate_pages(from_html=True)
    # applies the same extract_text_bytes as extract.with_extracted_text.
    # A pages input of fewer files than cores is spread first, or the
    # annotate pass runs in as few tasks as there are files.
    gaz, regions = gazetteer_from_alias_index(s.alias_index)
    return annotate_pages(spread(s.pages.select("url", "html")), gaz, regions, from_html=True)


def _surfaces(s: _Stages) -> DataFrame:
    return (
        s["mentions"].withColumn("norm_surface", linkmod.normalize_surface(F.col("surface")))
        .groupBy("norm_surface")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def _components(s: _Stages) -> DataFrame:
    surfaces = s["surfaces"]
    edges = canon.same_as_edges(surfaces, s["surface_entity"])
    return canon.connected_components(surfaces.select(F.col("norm_surface").alias("node")), edges)


def _lineage(s: _Stages) -> DataFrame:
    return metrics.lineage_rows(s["edges"], "edges", "subj").unionByName(
        metrics.lineage_rows(s["triples"], "triples", "subj")
    )


class Stage(NamedTuple):
    build: Callable[[_Stages], DataFrame]  # reads its inputs from the run
    shared: bool = False  # two or more consumers: cut the lineage once
    partition_by: list[str] | None = None  # checkpoint layout


# Every stage of a run, in build order. A shared stage without a checkpoint
# dir is cut with localCheckpoint(eager=False). That is not lazy: under AQE
# the call runs every shuffle stage beneath it, so reading a shared stage
# executes it up to its last exchange. Single-consumer stages stay plain
# DataFrames that Catalyst fuses into their consumer (fewer jobs: job
# launch latency is the serial floor at small scale).
STAGES: dict[str, Stage] = {
    "annotated": Stage(_annotated, shared=True),
    "mentions": Stage(lambda s: explode_mentions(s["annotated"])),
    "relations": Stage(lambda s: explode_relations(s["annotated"])),
    "links": Stage(lambda s: linkmod.link_mentions(s["mentions"], s.alias_index), shared=True),
    "surfaces": Stage(_surfaces, shared=True),
    "surface_entity": Stage(lambda s: linkmod.surface_to_entity_map(s["links"]), shared=True),
    "components": Stage(_components, shared=True),
    "canonical_map": Stage(lambda s: canon.consensus_canonical(s["surfaces"], s["components"])),
    "resolved_surfaces": Stage(
        lambda s: canon.resolve_unlinked_surfaces(s["components"], s["surface_entity"])
    ),
    "triples": Stage(
        lambda s: resolve_triples(s["relations"], s["links"], s["resolved_surfaces"]),
        partition_by=["pred"],
    ),
    "entities": Stage(lambda s: mat.build_entities(s.alias_index, s["links"])),
    "edges": Stage(
        lambda s: mat.build_edges(s["triples"], mat.build_mention_edges(s["links"])),
        partition_by=["pred"],
    ),
    "lineage": Stage(_lineage),
    "prov_entities": Stage(lambda s: prov.provenance_entities(s["triples"])),
    "prov_edges": Stage(lambda s: prov.provenance_edges(s["triples"])),
    "entity_snapshots": Stage(lambda s: temporal.entity_snapshots(s["links"], s.pages)),
    "entity_timeline": Stage(lambda s: temporal.entity_timeline(s["entity_snapshots"])),
}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_index: DataFrame,
    checkpoint_dir: str | None = None,
) -> Mapping[str, DataFrame]:
    """Declare (or resume) the full pipeline; returns every stage by name.

    The call builds nothing. Reading a stage builds it and, first, the
    stages it reads; with `checkpoint_dir` only those are written."""
    reg = CheckpointRegistry(spark, checkpoint_dir) if checkpoint_dir else None
    return _Stages(reg, pages, alias_index)


class _Stages(Mapping):
    """A run's stages, each built once, on first read.

    Iteration, len() and ``in`` read `STAGES` and build nothing; item
    access (and so get/items/values) builds."""

    def __init__(self, reg: CheckpointRegistry | None, pages: DataFrame, alias_index: DataFrame):
        self.reg, self.pages, self.alias_index = reg, pages, alias_index
        self._built: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            build, shared, partition_by = STAGES[name]
            if self.reg is not None:
                df = self.reg.stage(name, lambda: build(self), partition_by=partition_by)
            else:
                df = build(self)
                df = df.localCheckpoint(eager=False) if shared else df
            self._built[name] = df
        return self._built[name]

    def __iter__(self):
        return iter(STAGES)

    def __len__(self):
        return len(STAGES)

    def __contains__(self, name):
        return name in STAGES
