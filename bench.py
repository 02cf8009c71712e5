"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR plus the
north-rule scaling evidence (same KG-construction job at N and 4N cores).

Prints ONE JSON line:
  {"metric": "kg_triples_per_sec", "value": <triples/s at the high side>,
   "unit": "triples/sec", "queries": {<name>: <sec>, ...}, "sf": <sf>,
   "scaling": {...}, ...}
rewrites BENCH/BASELINE.md and appends one row to BENCH/HISTORY.md.

Methodology (also written to BENCH/BASELINE.md):
- Everything is measured live, unpinned, on the host the bench runs on:
  CPUS is $SPARK_GRAFT_CPUS, else the number of CPUs this process may use.
- Scaling: ROUNDS interleaved rounds of local[1] and local[min(4, CPUS)],
  each side in a fresh child process (tools/bench_scaling_child.py) that
  does one untimed warmup run and one timed run. Efficiency is the median
  of the per-round ratios. A failed or timed-out child makes the result
  invalid; nothing is retried and nothing waits for a quiet host.
- Headline queries: one warmup and min-of-2 on local[CPUS].
- The warmup run exists to populate the JVM's JIT — on a real cluster these
  compile costs amortize over hours of executor lifetime; including them in
  a seconds-scale measurement would measure javac, not the engine.
- All persisted RDDs are dropped between runs (kgspark.session.unpersist_all)
  so repeats are independent.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# 45k pages x ~13KB (BULK_WORDS in the child): realistic page weight makes
# the job extraction/annotation-bound like a real crawl rather than bound by
# the serial driver floor (plan analysis + CC-loop jobs, constant across
# parallelism).
SCALE_PAGES = 45000
ROUNDS = 2
# Scaling pair: 1 vs 4 threads (not 2 vs 8): the pipeline carries a serial
# driver floor (plan analysis + job launches) that is constant across
# parallelism, so a wider pair measures the floor rather than the engine.
# The high side never asks for more threads than the host has.
SCALE_LOW = 1
SCALE_HIGH = min(4, CPUS)
CHILD_TIMEOUT_SEC = 1800
ROOT = Path(__file__).parent

# headline operator queries timed at SF_DIR (one execution each, after the
# session is warm — these are scan-bound, not compile-bound)
HEADLINE = [
    "kg_mention_detect",
    "kg_mention_topk",
    "kg_cooccurrence_edges",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "window_top_order_per_customer",
    "unpivot_lineitem",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "ann_cosine_topk",
    "events_sessionize",
    "corpus_span_dedup",
    "text_tfidf_topk",
    "pack_sequences",
    "graph_pagerank",
    # round 6: the consensus stage gained a driver oracle and
    # group_quantiles switched to histogram rank selection — track both
    "kg_pipeline_consensus",
    "stats_group_quantiles",
    # round 6 new ops: decontamination screen, bigram-LM scoring,
    # degree-oriented triangle counting, single-pass curation composite
    "corpus_decontaminate",
    "corpus_bigram_lm",
    "graph_triangles",
    "corpus_c4_filter",
]


def _sf_of(path: str) -> float:
    name = Path(path).name  # e.g. sf0.1
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _run_child(master: str, n_pages: int, *flags: str) -> dict | None:
    """One measurement in a FRESH process (fresh JVM + interpreter — no
    accumulator-server residue, no leftover checkpoint RDDs, independent
    JIT state). Child stderr is captured, not forwarded: Spark's shutdown
    chatter must not pollute the one-JSON-line bench contract."""
    child = ROOT / "tools" / "bench_scaling_child.py"
    try:
        proc = subprocess.run(
            [sys.executable, str(child), master, str(n_pages), *flags],
            capture_output=True,
            text=True,
            cwd=str(ROOT),
            timeout=CHILD_TIMEOUT_SEC,
        )
    except subprocess.TimeoutExpired:
        print(f"[scaling] child timeout: {master}", file=sys.stderr, flush=True)
        return None
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode == 0 and lines:
        return json.loads(lines[-1])
    tail = proc.stderr.strip().splitlines()[-3:]
    print(
        f"[scaling] child failed rc={proc.returncode}: {' | '.join(tail)}",
        file=sys.stderr,
        flush=True,
    )
    return None


def measure_scaling(n_pages: int) -> dict:
    """North-rule evidence: the same KG job at N and 4N cores.

    Rounds are interleaved low/high pairs; the first side alternates so a
    drifting host does not always bias the same side, and a ratio is only
    ever computed within a round. The result is valid only when every
    child completed and all of them produced the same triples count."""
    masters = {"low": f"local[{SCALE_LOW}]", "high": f"local[{SCALE_HIGH}]"}
    rounds = []
    for rnd in range(ROUNDS):
        r = {}
        for side in ("low", "high") if rnd % 2 == 0 else ("high", "low"):
            r[side] = _run_child(masters[side], n_pages)
            print(f"[scaling] round={rnd} {side} {json.dumps(r[side])}",
                  file=sys.stderr, flush=True)
        rounds.append(r)

    complete = [r for r in rounds if r["low"] and r["high"]]
    effs = [
        round(r["low"]["dt_sec"] / r["high"]["dt_sec"] / (SCALE_HIGH / SCALE_LOW), 3)
        for r in complete
    ]
    summary = {}
    for side, master in masters.items():
        obs = [r[side] for r in rounds if r[side]]
        best = min((o["dt_sec"] for o in obs), default=0.0)
        n_triples = obs[0]["triples"] if obs else 0
        summary[side] = {
            "master": master,
            "pages": n_pages,
            "triples": n_triples,
            "times_sec": [o["dt_sec"] for o in obs],
            "best_sec": best,
            "triples_per_sec": round(n_triples / best, 1) if best else 0.0,
            "pages_per_sec": round(n_pages / best, 1) if best else 0.0,
        }
    triples_seen = {r[s]["triples"] for r in complete for s in masters}
    return {
        **summary,
        "efficiency": round(statistics.median(effs), 3) if effs else 0.0,
        "estimator": "live",
        "valid": len(complete) == ROUNDS and len(triples_seen) == 1,
        "efficiency_per_round": effs,
        "n_rounds": len(complete),
    }


def _steal_ticks() -> int:
    """Machine-wide hypervisor steal ticks (/proc/stat cpu line, field 8)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_headline() -> tuple[dict[str, float], float]:
    """Headline queries on local[CPUS]: one warmup, then min-of-2. Also
    returns the machine-wide stolen cores/s over the phase, as context for
    comparing runs; it gates nothing."""
    from kgspark.entry_queries import QUERIES
    from kgspark.session import get_spark, unpersist_all

    spark = get_spark(app_name="kgspark-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}
    st0, t0_all = _steal_ticks(), time.time()
    for name in HEADLINE:
        fn = QUERIES[name]
        t0 = time.time()
        fn(spark, SF_DIR).count()  # warmup (codegen)
        t_warm = time.time() - t0
        best = float("inf")
        for _ in range(2):  # min-of-2: one burst must not poison the number
            t0 = time.time()
            fn(spark, SF_DIR).count()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        print(
            f"[headline] {name} warm={t_warm:.2f}s best={best:.3f}s",
            file=sys.stderr,
            flush=True,
        )
        unpersist_all(spark)
    rate = round((_steal_ticks() - st0) / 100.0 / (time.time() - t0_all), 3)
    print(f"[headline] steal_rate={rate} cores/s", file=sys.stderr, flush=True)
    spark.stop()
    return out, rate


def write_baseline(scaling: dict, stage_splits: dict, results: dict,
                   headline_steal_rate: float) -> None:
    """Rewrite the BENCH/BASELINE.md snapshot and append this run's row to
    the append-only BENCH/HISTORY.md ledger, which the snapshot embeds so a
    later rewrite never hides an earlier measurement."""
    low, high = scaling["low"], scaling["high"]
    efficiency, valid = scaling["efficiency"], scaling["valid"]
    md = ROOT / "BENCH" / "BASELINE.md"
    md.parent.mkdir(exist_ok=True)
    hist = md.parent / "HISTORY.md"
    if not hist.exists():
        hist.write_text(
            "# Scaling-evidence ledger (append-only; one row per bench run)\n\n"
            "| utc | pages | low best (s) | high best (s) | estimator | "
            "efficiency | valid | clean/total rounds | headline steal "
            "(cores/s) | triples/s (high) |\n"
            "|---|---|---|---|---|---|---|---|---|---|\n"
        )
    utc = datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%dT%H:%MZ")
    with hist.open("a") as fh:
        fh.write(
            f"| {utc} | {low['pages']} | {low['best_sec']} | {high['best_sec']} "
            f"| {scaling['estimator']} | {efficiency} | {valid} "
            f"| {scaling['n_rounds']}/{ROUNDS} "
            f"| {headline_steal_rate} | {high['triples_per_sec']} |\n"
        )
    md.write_text(
        "# BENCH — kgspark measured numbers\n\n"
        f"Corpus: deterministic synthetic pages (seed=42), {low['pages']} pages "
        f"(~13 KB/page); sf dir `{SF_DIR}`. Since round 7 the timed corpus is "
        "html-only (`gen_pages(..., with_text=False)`): page generation no "
        "longer runs the text extractor for a `text` column the pipeline "
        "drops, so triples/s before and after round 7 are not directly "
        "comparable.\n\n"
        "## Scaling (north rule: same job at N and 4N cores)\n\n"
        f"Live method, on the host the bench ran on ({CPUS} CPUs, unpinned): "
        f"{ROUNDS} interleaved rounds of local[{SCALE_LOW}] and "
        f"local[{SCALE_HIGH}], each side in a fresh child process (own JVM; "
        "one untimed warmup run, then one timed run). Efficiency is the "
        "median of the per-round ratios (low / high) / "
        f"{SCALE_HIGH // SCALE_LOW}. A failed or timed-out child makes the "
        "result invalid; nothing is retried. Timed section = the whole job "
        "(plan construction, the canonicalization loop, triple "
        "materialization), run interpreted: whole-stage-codegen compile "
        "(~60s for the ~50-stage plan) amortizes to zero over a long-lived "
        "job and gains ~0 for this python-UDF + shuffle bound pipeline "
        "(measured). Per-layer numbers come from `perfbench/` (see "
        "`perfbench/README.md`).\n\n"
        "| master | pages | triples | times (s) | best (s) | triples/s | pages/s |\n"
        "|---|---|---|---|---|---|---|\n"
        + "".join(
            f"| {r['master']} | {r['pages']} | {r['triples']} | {r['times_sec']} | "
            f"{r['best_sec']} | {r['triples_per_sec']} | {r['pages_per_sec']} |\n"
            for r in (low, high)
        )
        + f"\nPer-round efficiencies {scaling['efficiency_per_round']}.\n\n"
        + (
            f"**Scaling efficiency ({SCALE_LOW} -> {SCALE_HIGH} cores, "
            f"estimator `live`): {efficiency}**\n\n"
            if valid
            else f"**INVALID: {scaling['n_rounds']}/{ROUNDS} rounds completed "
            "(or the sides disagree on the triples count) — the recorded "
            f"ratio {efficiency} is not a scaling measurement.**\n\n"
        )
        + "## Pipeline stage splits (one instrumented run, high side)\n\n"
        "| stage | cumulative boundary (s) |\n|---|---|\n"
        + "".join(f"| {k} | {v} |\n" for k, v in stage_splits.items())
        + "\n## Headline query times (s, warm)\n\n"
        f"Measured on local[{CPUS}] at machine-wide steal rate "
        f"{headline_steal_rate} cores/s (context only).\n\n"
        "| query | sec |\n|---|---|\n"
        + "".join(f"| {k} | {v} |\n" for k, v in results.items())
        + "\nReference baseline (BASELINE.md): ~173 links/s single-threaded "
        "temporal linking; Neo4j 2.3-2.8 s multi-hop queries on the built "
        "graph.\n\n"
        "## Scaling evidence history (append-only across runs)\n\n"
        + hist.read_text().split("\n", 2)[2]
    )


def main() -> None:
    scaling = measure_scaling(SCALE_PAGES)
    stages = _run_child(f"local[{SCALE_HIGH}]", SCALE_PAGES, "--stages") or {}
    stage_splits = stages.get("stage_sec", {})
    results, headline_steal_rate = run_headline()

    high = scaling["high"]
    results["kg_pipeline"] = high["best_sec"]
    write_baseline(scaling, stage_splits, results, headline_steal_rate)
    print(
        json.dumps(
            {
                "metric": "kg_triples_per_sec",
                "value": high["triples_per_sec"],
                "unit": "triples/sec",
                "queries": results,
                "sf": _sf_of(SF_DIR),
                "headline_steal_rate": headline_steal_rate,
                "pages_per_sec": high["pages_per_sec"],
                # kept for output-key stability: nothing re-runs a failed
                # high side any more
                "pipeline_fallback": None,
                "stage_sec": stage_splits,
                "scaling": scaling,
            }
        )
    )


if __name__ == "__main__":
    main()
