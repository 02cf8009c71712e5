"""One scaling-bench measurement in a FRESH process.

Usage: python tools/bench_scaling_child.py <master> <n_pages> [--stages]

Prints exactly one JSON line on stdout:
  {"master": ..., "pages": N, "triples": N, "dt_sec": s}
or, with --stages, {"master": ..., "pages": N, "stage_sec": {...}}.

Why a subprocess per measurement (rather than SparkSession restarts in one
process): PySpark's internal Python-accumulator server does not survive
repeated SparkContext stop/start in a single interpreter — round 1's bench
recorded a PythonAccumulatorV2.merge stack trace mid-run and noise-dominated
timings. A fresh JVM + fresh interpreter per measurement gives fully
independent, residue-free observations; JVM/JIT warmup happens inside the
child (untimed small pipeline run) so the timed run measures the engine.
The child runs on whatever CPUs and memory the host gives it: no pinning,
no heap override.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Realistic page weight: the fixture's sentence skeleton is ~0.6KB of html —
# toy-sized next to Common-Crawl pages (tens of KB). The bench corpus carries
# ~13KB/page of pattern-inert filler so the measured job is
# extraction/annotation-bound like the real workload, not driver-floor-bound.
# Golden triples are unchanged at any bulk size.
BULK_WORDS = 2000


def main() -> None:
    master = sys.argv[1]
    n_pages = int(sys.argv[2])
    stages_mode = "--stages" in sys.argv[3:]

    from kgspark import fixtures
    from kgspark.pipeline import run_pipeline
    from kgspark.session import get_spark, unpersist_all

    # Pipeline runs interpreted: whole-stage-codegen compile of the ~50-stage
    # plan is ~60s of serial driver time that amortizes to zero on a
    # long-lived cluster (see BENCH/BASELINE.md methodology).
    # shuffle partitions scale with the corpus (spill-aware sizing): 8
    # partitions at 360k pages means ~45k pages (~90MB+) per sort — past
    # the spill threshold, and spilling is superlinear. ~20k pages per
    # shuffle partition keeps sorts in memory at any bench size.
    spark = get_spark(
        app_name=f"kgspark-scaling-{master}",
        master=master,
        shuffle_partitions=max(8, n_pages // 20000),
        extra_conf={"spark.sql.codegen.wholeStage": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def pipeline(n: int) -> dict:
        pages = fixtures.gen_pages(spark, n, bulk_words=BULK_WORDS, with_text=False)
        return run_pipeline(spark, pages, fixtures.gen_alias_index(spark))

    # untimed warmup: JIT + Arrow/pandas import on workers
    pipeline(max(n_pages // 50, 500))["triples"].count()
    unpersist_all(spark)

    t0 = time.time()
    out = pipeline(n_pages)
    if stages_mode:
        # Informational per-stage split: materialize each pipeline boundary
        # in order and report CUMULATIVE seconds. This run does extra work
        # (each boundary forces a job) so it never feeds the scaling ratio.
        splits = {}
        for stage in ("annotated", "links", "components", "triples"):
            out[stage].count()
            splits[stage] = round(time.time() - t0, 2)
        print(json.dumps({"master": master, "pages": n_pages, "stage_sec": splits}))
    else:
        # The timed section covers the WHOLE job: run_pipeline only
        # declares the stages; reading `triples` builds them (shared
        # stages run their shuffles as they are built, canonicalization
        # included) and count() runs the rest.
        n_triples = out["triples"].count()
        dt = time.time() - t0
        print(json.dumps({"master": master, "pages": n_pages, "triples": n_triples,
                          "dt_sec": round(dt, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
