"""Workload corpora, the timed pages -> graph build and its checks.

Everything here drives kgspark through its public functions only. Each
workload's pages and golden triples come from ``kgspark.fixtures`` for a
seed, are written once as Parquet, and are read back as the only input the
pipeline sees.
"""

from __future__ import annotations

import shutil
import threading
from dataclasses import dataclass
from pathlib import Path
from time import perf_counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark import fixtures
from kgspark.evaluate import precision_recall
from kgspark.pipeline import run_pipeline

import layers as tr

# Every table a checkpointed run writes beyond the stage chain, plus the
# triples: what `checkpointed_graph` writes and what its resume reads back.
GRAPH_TABLES = (
    "triples", "entities", "edges", "lineage", "prov_entities", "prov_edges",
    "entity_snapshots", "entity_timeline",
)
MIN_PR = 0.95
FILE_BYTES = 128 * 1024 * 1024  # html per corpus file, as in a crawl table
KEEP_CORPORA = 12  # cached (workload, seed) corpora kept per workload
BUILD_TIMEOUT_S = 90


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    bulk_words: int  # lowercase filler words per page
    checkpoint: bool  # write every stage and graph table, then resume


# Sized so that a benchmark check (4 + 22 runs per workload in 3,420 s)
# fits on a 4-vCPU host, where each run_pipeline call costs 6-17 s warm
# and 18-36 s cold mostly in per-job latency (README: "Why two workloads").
WORKLOADS = {
    w.name: w
    for w in (
        Workload("heavy_pages", pages=400, bulk_words=24_000, checkpoint=False),
        Workload("checkpointed_graph", pages=400, bulk_words=0, checkpoint=True),
    )
}
SMOKE_PAGES = 200


@dataclass
class Inputs:
    pages: DataFrame
    golden: DataFrame
    aliases: DataFrame


def ensure_corpus(wl: Workload, seed: int, root: Path) -> Path:
    """Write the workload's pages and golden triples for `seed` once.

    Runs in the driver before Spark starts, so it is housekeeping, not
    set-up. Pages are written as files of at most FILE_BYTES of html with
    one row group each, the layout of a crawl table, not one file per
    core: splitting the input is the program's job. Returns the corpus
    directory."""
    d = root / f"{wl.name}-p{wl.pages}-w{wl.bulk_words}-s{seed}"
    if (d / "_DONE").exists():
        d.touch()
        return d
    shutil.rmtree(d, ignore_errors=True)
    recs = [
        fixtures.page_record(i, seed, wl.bulk_words, with_text=False) for i in range(wl.pages)
    ]
    (d / "pages").mkdir(parents=True)
    (d / "golden").mkdir()
    files, size = [[]], 0
    for r in recs:
        if files[-1] and size + len(r["html"]) > FILE_BYTES:
            files.append([])
            size = 0
        files[-1].append(r)
        size += len(r["html"])
    for j, chunk in enumerate(files):
        _write_pages(chunk, d / "pages" / f"part-{j:05d}.parquet")
    triples = [(s, p, o, r["url"]) for r in recs for s, p, o in r["_triples"]]
    pq.write_table(
        pa.table(dict(zip(("subj", "pred", "obj", "src_url"), zip(*triples)))),
        d / "golden" / "part-00000.parquet",
    )
    (d / "_DONE").touch()
    _prune(root, wl)
    return d


def _write_pages(recs: list[dict], path: Path) -> None:
    table = pa.table({
        "url": pa.array([r["url"] for r in recs], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in recs], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in recs], pa.binary()),
        "lang": pa.array([r["lang"] for r in recs], pa.string()),
    })
    pq.write_table(table, path, row_group_size=len(recs))


def _prune(root: Path, wl: Workload) -> None:
    mine = sorted(root.glob(f"{wl.name}-*"), key=lambda p: p.stat().st_mtime)
    for old in mine[:-KEEP_CORPORA]:
        shutil.rmtree(old, ignore_errors=True)


def load_inputs(spark: SparkSession, corpus: Path) -> Inputs:
    return Inputs(
        spark.read.parquet(str(corpus / "pages")),
        spark.read.parquet(str(corpus / "golden")),
        fixtures.gen_alias_index(spark),
    )


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(rows, order-free hash sum over every column): reads all the data."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")  # a long sum overflows
    r = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(r[0]), int(r[1] or 0)


class Timeout:
    """Cancels every running Spark job if a build outlives `seconds`."""

    def __init__(self, spark: SparkSession, seconds: float):
        self._timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        self._timer.join()


def build(spark: SparkSession, inp: Inputs, ckdir: Path | None) -> dict:
    """One run_pipeline call, timed until every output the workload needs
    is materialized. The caller sets the job group."""
    if ckdir is not None:
        shutil.rmtree(ckdir, ignore_errors=True)
    t0 = perf_counter()
    out = run_pipeline(spark, inp.pages, inp.aliases,
                       checkpoint_dir=str(ckdir) if ckdir is not None else None)
    t1 = perf_counter()
    if ckdir is not None:
        for name in GRAPH_TABLES:  # lazy tables are written on first access
            out[name]
        triples = out["triples"]
    else:
        triples = out["triples"].persist()
        triples.count()
    t2 = perf_counter()
    return {"build_s": t2 - t0, "construct_s": t1 - t0, "action_s": t2 - t1,
            "out": out, "triples": triples}


def resume(spark: SparkSession, inp: Inputs, ckdir: Path) -> dict:
    """A second run_pipeline over a completed checkpoint dir, timed until
    the triples and every graph table are read back."""
    t0 = perf_counter()
    out = run_pipeline(spark, inp.pages, inp.aliases, checkpoint_dir=str(ckdir))
    fps = {name: fingerprint(out[name]) for name in GRAPH_TABLES}
    return {"resume_s": perf_counter() - t0, "fingerprints": fps}


def check(b: dict, inp: Inputs) -> tuple[dict, list[str]]:
    """Precision/recall of a build against the seed's golden triples."""
    pr = precision_recall(b["triples"], inp.golden)
    errors = [
        f"{k} {pr[k]:.4f} < {MIN_PR}" for k in ("precision", "recall") if pr[k] < MIN_PR
    ]
    return pr, errors


def measure(spark: SparkSession, wl: Workload, inp: Inputs, i: int, tag: str, scratch: Path,
            jvm: int) -> tuple[dict, list[str], tuple[int, int]]:
    """One timed build of the workload and its correctness checks.
    Returns (sample, errors, fingerprint of the triples)."""
    sc = spark.sparkContext
    ck = scratch / f"ck{i}" if wl.checkpoint else None
    sc.setJobGroup(f"{tag}-u{i}", "build")
    tr.reset_peak_rss(tr.process_tree(jvm))
    with Timeout(spark, BUILD_TIMEOUT_S):
        b = build(spark, inp, ck)
    s = {k: b[k] for k in ("build_s", "construct_s", "action_s")}
    s["pipeline.peak_rss_mb"] = tr.peak_rss_mb(tr.process_tree(jvm))

    sc.setJobGroup(f"{tag}-c{i}", "check")
    pr, errors = check(b, inp)
    s.update(precision=pr["precision"], recall=pr["recall"],
             triples_per_s=pr["emitted"] / b["build_s"])
    written = fingerprint(b["triples"])
    if wl.checkpoint:
        s.update(tr.checkpoint_files(ck))
        s["io.resume_hit_ratio"] = tr.resume_hit_ratio(ck, list(b["out"].keys()))
        sc.setJobGroup(f"{tag}-r{i}", "resume")
        r = resume(spark, inp, ck)
        s["io.resume_s"] = r["resume_s"]
        if r["fingerprints"]["triples"] != written:
            errors.append("resumed triples differ from the written ones")
    return s, errors, written


def measure_traced(spark: SparkSession, wl: Workload, inp: Inputs, i: int, tag: str,
                   scratch: Path) -> tuple[list, dict, tuple[int, int]]:
    """One traced build: the layers one at a time, each materialized under
    its own job group. Returns (spans, counts, fingerprint of the triples)."""
    tracer = tr.Tracer(spark, f"{tag}-t{i}")
    with Timeout(spark, BUILD_TIMEOUT_S):
        out = tr.traced_build(spark, inp.pages, inp.aliases,
                              scratch / f"tck{i}" if wl.checkpoint else None, tracer)
    spark.sparkContext.setJobGroup(f"{tag}-k{i}", "tally")
    return tracer.spans, tr.tally(out), fingerprint(out["triples"])
