"""Pages -> graph benchmark for kgspark.

    python3 perfbench/run.py --workload heavy_pages --seed 1 --seconds 5 --trace 0

Runs one workload on Spark ``local[N]``, N = the CPUs this process may use,
from one driver process, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones (builds run untraced);
with ``--trace 1`` they are the per-layer ones from a traced run, which
also reports the tracing overhead. ``--smoke`` shrinks every workload to
a few hundred pages for the benchmark's own test. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import traceback
from pathlib import Path
from time import perf_counter

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"

TRACED_PAIRS = 2  # minimum (untraced, traced) build pairs in a traced run

END_TO_END = {
    "setup_s": "s",
    "build_s": "s",
    "triples_per_s": "triples/s",
    "precision": "ratio",
    "recall": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "pipeline.jobs": "count", "pipeline.tasks": "count", "pipeline.construct_s": "s",
    "pipeline.action_s": "s", "pipeline.spill_bytes": "bytes", "pipeline.gc_s": "s",
    "pipeline.peak_rss_mb": "MB",
    "extract.s": "s", "extract.task_s": "s", "extract.text_bytes": "bytes",
    "mentions.s": "s", "mentions.task_s": "s", "mentions.tasks": "count",
    "mentions.task_skew": "ratio", "mentions.mentions_out": "count",
    "mentions.relations_out": "count",
    "link.s": "s", "link.jobs": "count", "link.task_s": "s",
    "link.shuffle_write_bytes": "bytes", "link.high_ratio": "ratio",
    "link.ambiguous_ratio": "ratio", "link.unlinked_ratio": "ratio",
    "canonicalize.s": "s", "canonicalize.jobs": "count", "canonicalize.cc_jobs": "count",
    "canonicalize.same_as_edges": "count", "canonicalize.components": "count",
    "relations.s": "s", "relations.shuffle_write_bytes": "bytes",
    "relations.triples_out": "count",
    "materialize.s": "s", "materialize.rows_out": "count",
    "provenance.s": "s", "provenance.rows_out": "count",
    "temporal.s": "s", "temporal.rows_out": "count",
    "metrics.s": "s", "metrics.rows_out": "count",
    "io.write_s": "s", "io.read_s": "s", "io.bytes_written": "bytes",
    "io.files_written": "count", "io.resume_hit_ratio": "ratio", "io.resume_s": "s",
    "trace.build_s": "s", "trace.untraced_build_s": "s", "trace.overhead_s": "s",
    "trace.layer_share": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_env() -> int:
    """Point Spark and its Python workers at this checkout and this host:
    cores from the affinity mask, heap from MemAvailable, scratch inside
    the checkout. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        avail_mb = next(int(l.split()[1]) for l in fh if l.startswith("MemAvailable:")) // 1024
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(cores),
        # a fifth of MemAvailable in whole GiB, so that small swings in
        # free memory between runs do not change the heap
        "KGSPARK_DRIVER_MEM": f"{max(1, min(4, avail_mb // 5 // 1024))}g",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        # every JVM spark-submit starts: temp files in the checkout, and no
        # hsperfdata file, which HotSpot would write under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    return cores


def median_metrics(rows: list[dict]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="a few hundred pages per workload")
    args = ap.parse_args(argv)
    cores = host_env()

    # imported after host_env: kgspark must resolve from this checkout
    import dataclasses

    from pyspark import SparkContext

    from kgspark.session import get_spark, unpersist_all

    import layers as tr
    import workloads as wk

    wl = wk.WORKLOADS[args.workload]
    if args.smoke:
        wl = dataclasses.replace(wl, pages=wk.SMOKE_PAGES)
    tag = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    scratch = WORK / "runs" / tag
    event_dir = scratch / "events"
    event_dir.mkdir(parents=True)
    conf = {}
    if args.trace:
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": event_dir.as_uri()}
    log(f"{wl} on local[{cores}], heap {os.environ['KGSPARK_DRIVER_MEM']}")

    attempted = failed = 0
    spark = None
    try:
        t0 = perf_counter()
        corpus = wk.ensure_corpus(wl, args.seed, WORK / "corpus")
        log(f"corpus ready in {perf_counter() - t0:.2f}s (housekeeping, not set-up)")

        # set-up: session start, JVM launch included, plus one warm-up run
        # of the workload's own shape
        t0 = perf_counter()
        spark = get_spark(app_name="kgspark-perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = perf_counter()
        inp = wk.load_inputs(spark, corpus)
        spark.sparkContext.setJobGroup(f"{tag}-w", "warm-up")
        wk.build(spark, inp, scratch / "ck" if wl.checkpoint else None)
        unpersist_all(spark)
        setup = {"session.start_s": t1 - t0, "session.warmup_s": perf_counter() - t1}
        setup["setup_s"] = setup["session.start_s"] + setup["session.warmup_s"]
        log("set-up: " + " ".join(f"{n}={v:.4g}" for n, v in setup.items()))
        jvm = SparkContext._gateway.proc.pid

        # A traced run pairs each untraced build with a traced one of the
        # same inputs, alternating which goes first so that warm-up drift
        # cancels out of the tracing overhead.
        samples, traced, built = [], [], []
        deadline = perf_counter() + args.seconds
        while attempted < (TRACED_PAIRS if args.trace else 1) or perf_counter() < deadline:
            i = attempted
            attempted += 1
            try:
                t = None
                if args.trace and i % 2:
                    t = wk.measure_traced(spark, wl, inp, i, tag, scratch)
                    unpersist_all(spark)
                s, errors, written = wk.measure(spark, wl, inp, i, tag, scratch, jvm)
                if args.trace and t is None:
                    unpersist_all(spark)
                    t = wk.measure_traced(spark, wl, inp, i, tag, scratch)
                if t is not None and t[2] != written:
                    errors.append("traced triples differ from run_pipeline's")
            except Exception:  # a failed build is counted, not fatal
                errors = [traceback.format_exc()]
            if errors:
                failed += 1
                log(f"build {i} FAILED: {'; '.join(errors)}")
            else:
                samples.append(s)
                built.append(f"{tag}-u{i}")
                if t is not None:
                    traced.append(t[:2])
                log(f"build {i}: " + " ".join(f"{k}={v:.4g}" for k, v in s.items()))
            unpersist_all(spark)
            for d in scratch.glob("*ck*"):
                shutil.rmtree(d)
        spark.stop()  # finishes the event log
        spark = None
        if not samples:
            raise RuntimeError("every build failed")

        m = {**median_metrics(samples), **setup}
        if args.trace:
            groups = tr.read_event_logs(event_dir)
            m.update(median_metrics([
                {**tr.layer_metrics(spans, groups), **counts} for spans, counts in traced
            ]))
            pipe = [tr.merge(groups, [g]) for g in built]
            m.update({
                "pipeline.jobs": statistics.median(c.jobs for c in pipe),
                "pipeline.tasks": statistics.median(c.tasks for c in pipe),
                "pipeline.spill_bytes": statistics.median(c.spill_bytes for c in pipe),
                "pipeline.gc_s": statistics.median(c.gc_s for c in pipe),
                "pipeline.construct_s": m["construct_s"],
                "pipeline.action_s": m["action_s"],
                "trace.untraced_build_s": m["build_s"],
                "trace.overhead_s": m["trace.build_s"] - m["build_s"],
            })
        names = PER_LAYER if args.trace else END_TO_END
        metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in names.items()}
    finally:
        if spark is not None:
            spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:  # stop the JVM and wait for it
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(scratch, ignore_errors=True)

    for k, v in metrics.items():
        log(f"{k:32s} {v['value']:>14.6g} {v['unit']}")
    log(f"fail_rate {failed}/{attempted}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
