"""Per-layer measurement from outside the program.

A traced build composes the same public layer functions that
``kgspark.pipeline.run_pipeline`` composes, in the same order, and
materializes each layer's output under a job group of its own. Spans stay
in memory; engine counters come from the uncompressed Spark event log,
read once after the session stops and grouped by job group.
"""

from __future__ import annotations

import json
import os
import statistics
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from time import perf_counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark import canonicalize as canon
from kgspark import materialize as mat
from kgspark import metrics as kgmetrics
from kgspark import provenance as prov
from kgspark import temporal
from kgspark.extract import with_extracted_text
from kgspark.io import MARKER, CheckpointRegistry
from kgspark.link import link_mentions, normalize_surface, surface_to_entity_map
from kgspark.mentions import annotate_pages, explode_mentions, explode_relations
from kgspark.pipeline import gazetteer_from_alias_index
from kgspark.relations import resolve_triples

# Layers named after the kgspark module whose public functions they call.
LAYERS = ("extract", "mentions", "link", "canonicalize", "relations",
          "materialize", "metrics", "provenance", "temporal", "io")


@dataclass
class Span:
    layer: str
    sub: str
    group: str
    start: float
    end: float


class Tracer:
    """Spans of one traced build, each under a unique Spark job group."""

    def __init__(self, spark: SparkSession, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, sub: str):
        group = f"{self.prefix}-{len(self.spans)}-{layer}.{sub}"
        self.sc.setJobGroup(group, group)
        start = perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(layer, sub, group, start, perf_counter()))
            self.sc.setJobGroup(f"{self.prefix}-glue", "glue")


def traced_build(spark: SparkSession, pages: DataFrame, aliases: DataFrame,
                 ckdir: Path | None, tracer: Tracer) -> dict[str, DataFrame]:
    """run_pipeline's composition, one materialized layer output at a time.

    Without a checkpoint dir this is the fused html->annotate path and only
    what the triples need; with one, every stage is written and read back
    through CheckpointRegistry, then every graph table is built."""
    reg = CheckpointRegistry(spark, ckdir) if ckdir is not None else None
    out: dict[str, DataFrame] = {}

    def stage(layer: str, name: str, make, partition_by=None) -> DataFrame:
        with tracer.span(layer, name):
            df = make().localCheckpoint(eager=True)
        if reg is not None:
            with tracer.span("io", f"write.{name}"):
                reg.write(name, df, partition_by=partition_by)
            with tracer.span("io", f"read.{name}"):
                df = reg.read(name).localCheckpoint(eager=True)
        out[name] = df
        return df

    with tracer.span("mentions", "gazetteer"):
        gaz, regions = gazetteer_from_alias_index(aliases)
    if reg is None:
        annotated = stage("mentions", "annotated",
                          lambda: annotate_pages(pages, gaz, regions, from_html=True))
    else:
        extracted = stage("extract", "extracted", lambda: with_extracted_text(pages.drop("text")))
        annotated = stage("mentions", "annotated", lambda: annotate_pages(extracted, gaz, regions))
    mentions = stage("mentions", "mentions", lambda: explode_mentions(annotated))
    relations = stage("mentions", "relations", lambda: explode_relations(annotated))
    links = stage("link", "links", lambda: link_mentions(mentions, aliases))
    s2e = stage("link", "surface_entity", lambda: surface_to_entity_map(links))
    surfaces = stage(
        "canonicalize", "surfaces",
        lambda: mentions.withColumn("norm_surface", normalize_surface(F.col("surface")))
        .groupBy("norm_surface")
        .agg(F.count(F.lit(1)).alias("n_occurrences")),
    )
    with tracer.span("canonicalize", "same_as_edges"):
        out["same_as_edges"] = same_as = canon.same_as_edges(surfaces, s2e).localCheckpoint(eager=True)
    components = stage(
        "canonicalize", "components",
        lambda: canon.connected_components(
            surfaces.select(F.col("norm_surface").alias("node")), same_as
        ),
    )
    if reg is not None:
        stage("canonicalize", "canonical_map", lambda: canon.consensus_canonical(surfaces, components))
    resolved = stage("canonicalize", "resolved_surfaces",
                     lambda: canon.resolve_unlinked_surfaces(components, s2e))
    triples = stage("relations", "triples", lambda: resolve_triples(relations, links, resolved),
                    partition_by=["pred"])
    if reg is None:
        return out
    stage("materialize", "entities", lambda: mat.build_entities(aliases, links))
    edges = stage("materialize", "edges",
                  lambda: mat.build_edges(triples, mat.build_mention_edges(links)),
                  partition_by=["pred"])
    stage("metrics", "lineage",
          lambda: kgmetrics.lineage_rows(edges, "edges", "subj").unionByName(
              kgmetrics.lineage_rows(triples, "triples", "subj")))
    stage("provenance", "prov_entities", lambda: prov.provenance_entities(triples))
    stage("provenance", "prov_edges", lambda: prov.provenance_edges(triples))
    snaps = stage("temporal", "entity_snapshots", lambda: temporal.entity_snapshots(links, pages))
    stage("temporal", "entity_timeline", lambda: temporal.entity_timeline(snaps))
    return out


def tally(out: dict[str, DataFrame]) -> dict[str, float]:
    """Row counts and ratios over a traced build's materialized outputs."""
    conf = dict(out["links"].groupBy("confidence").count().collect())
    pairs = out["mentions"].select("url", "surface").distinct().count()
    res = {
        "mentions.mentions_out": out["mentions"].count(),
        "mentions.relations_out": out["relations"].count(),
        "link.high_ratio": conf.get("high", 0) / pairs,
        "link.ambiguous_ratio": conf.get("ambiguous", 0) / pairs,
        "link.unlinked_ratio": (pairs - sum(conf.values())) / pairs,
        "canonicalize.same_as_edges": out["same_as_edges"].count(),
        "canonicalize.components": out["components"].select("component").distinct().count(),
        "relations.triples_out": out["triples"].count(),
    }
    if "extracted" in out:
        res["extract.text_bytes"] = out["extracted"].agg(
            F.sum(F.octet_length("text"))).first()[0]
        for layer, names in (("materialize", ("entities", "edges")),
                             ("metrics", ("lineage",)),
                             ("provenance", ("prov_entities", "prov_edges")),
                             ("temporal", ("entity_snapshots", "entity_timeline"))):
            res[f"{layer}.rows_out"] = sum(out[k].count() for k in names)
    return res


def checkpoint_files(ckdir: Path) -> dict[str, float]:
    """Bytes and data files a checkpointed build left on disk."""
    files = [p for p in ckdir.rglob("*") if p.is_file() and p.name.startswith("part-")]
    return {"io.bytes_written": sum(p.stat().st_size for p in files),
            "io.files_written": len(files)}


def resume_hit_ratio(ckdir: Path, stages: list[str]) -> float:
    """Share of the stages a resume requests that are already complete."""
    return sum((ckdir / s / MARKER).exists() for s in stages) / len(stages)


# --- engine counters from the event log ---------------------------------


@dataclass
class GroupCounters:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_run_s: list[float] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Slowest task ÷ median task; run times have 1 ms resolution, so
        the median counts as at least 1 ms (empty tasks take ~0)."""
        if not self.task_run_s:
            return 0.0
        return max(self.task_run_s) / max(statistics.median(self.task_run_s), 0.001)


def read_event_logs(log_dir: Path) -> dict[str, GroupCounters]:
    """Job-group counters over every application log in `log_dir`.

    A stage is charged to the first job that lists it: later jobs that
    list the same stage skip it."""
    groups: dict[str, GroupCounters] = {}
    for path in sorted(log_dir.iterdir()):
        stage_group: dict[int, str] = {}
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    groups.setdefault(g, GroupCounters()).jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    c = groups.setdefault(g, GroupCounters())
                    m = ev.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1000
                    c.tasks += 1
                    c.task_s += run_s
                    c.task_run_s.append(run_s)
                    c.gc_s += m.get("JVM GC Time", 0) / 1000
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return groups


def merge(groups: dict[str, GroupCounters], names) -> GroupCounters:
    total = GroupCounters()
    for g in names:
        c = groups.get(g)
        if c is None:
            continue
        total.jobs += c.jobs
        total.tasks += c.tasks
        total.task_s += c.task_s
        total.gc_s += c.gc_s
        total.spill_bytes += c.spill_bytes
        total.shuffle_write_bytes += c.shuffle_write_bytes
        total.task_run_s.extend(c.task_run_s)
    return total


def layer_metrics(spans: list[Span], groups: dict[str, GroupCounters]) -> dict[str, float]:
    """Per-layer times and engine counters of one traced build."""
    res: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        res[f"{layer}.s"] = sum(s.end - s.start for s in mine)
        c = merge(groups, [s.group for s in mine])
        res[f"{layer}.jobs"] = c.jobs
        res[f"{layer}.task_s"] = c.task_s
        res[f"{layer}.shuffle_write_bytes"] = c.shuffle_write_bytes
    annotate = merge(groups, [s.group for s in spans if s.sub == "annotated"])
    res["mentions.tasks"] = annotate.tasks
    res["mentions.task_s"] = annotate.task_s
    res["mentions.task_skew"] = annotate.task_skew
    res["canonicalize.cc_jobs"] = merge(
        groups, [s.group for s in spans if s.sub == "components"]).jobs
    io = [s for s in spans if s.layer == "io"]
    res["io.write_s"] = sum(s.end - s.start for s in io if s.sub.startswith("write."))
    res["io.read_s"] = sum(s.end - s.start for s in io if s.sub.startswith("read."))
    res["trace.build_s"] = spans[-1].end - spans[0].start
    res["trace.layer_share"] = sum(s.end - s.start for s in spans) / res["trace.build_s"]
    return res


# --- peak resident memory of the JVM and its Python workers -------------


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                # the command name may hold spaces: ppid follows its ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")  # resets VmHWM to the current RSS
        except (FileNotFoundError, ProcessLookupError):
            pass  # exited since the scan


def peak_rss_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        except (FileNotFoundError, ProcessLookupError, StopIteration):
            pass  # exited, or a kernel thread without an address space
    return kb / 1024
