"""Physical-plan audit: assert pushdown / pruning / broadcast properties on
key queries and print the evidence. Run: python tools/audit_plans.py [sf_dir]

Checks (docs/SCALING.md "the plan you'd want"):
- scans read only the referenced columns (ReadSchema)
- filters reach the parquet scan (PushedFilters)
- dimension joins broadcast (BroadcastHashJoin), big joins SMJ/shuffled-hash
- top-k plans TakeOrderedAndProject (no global sort)
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    "q1_pricing_summary": [
        (r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", "shipdate filter pushed to scan"),
        (r"ReadSchema: [^\n]*l_returnflag", "column pruning"),
        (r"HashAggregate", "partial aggregation"),
    ],
    "q3_top_revenue_orders": [
        (r"BroadcastHashJoin|BroadcastExchange", "customer dim broadcast"),
        (r"TakeOrderedAndProject", "top-k without global sort"),
        (r"PushedFilters: \[.*EqualTo\(c_mktsegment,BUILDING\)", "segment filter pushed"),
    ],
    "kg_mention_detect": [
        (r"ReadSchema: [^\n]*struct<doc_id:bigint,text:string>", "scan reads only doc_id+text"),
        (r"HashAggregate", "partial aggregation"),
    ],
    "kg_mention_topk": [
        (r"TakeOrderedAndProject", "top-k without global sort"),
    ],
    "join_semi_orders": [
        (r"LeftSemi", "planned as semi join"),
        (r"PushedFilters: \[.*GreaterThan\(l_quantity,45", "quantity filter pushed"),
    ],
    "join_anti_customers": [
        (r"LeftAnti", "planned as anti join"),
        (r"BroadcastHashJoin|BroadcastExchange", "nation dim broadcast"),
    ],
    "window_top_order_per_customer": [
        # r7: argmax expressed as max-of-struct aggregation (map-side
        # combined) instead of a row_number window — pin that it STAYS an
        # aggregate and never regresses to a full sort-window of orders
        (r"HashAggregate|ObjectHashAggregate|SortAggregate", "argmax aggregate"),
        (r"ReadSchema: [^\n]*struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>",
         "scan reads only 3 columns"),
    ],
    "ann_cosine_topk": [
        (r"BroadcastNestedLoopJoin|BroadcastExchange", "query vectors broadcast"),
    ],
    "dedup_exact": [
        (r"HashAggregate", "hash aggregation"),
        (r"ReadSchema: [^\n]*struct<doc_id:bigint,text:string>", "scan pruned to 2 cols"),
    ],
    "corpus_decontaminate": [
        # the eval n-gram set must broadcast; the corpus side is map-only
        (r"BroadcastHashJoin", "eval n-gram set broadcast into the screen"),
        (r"ReadSchema: [^\n]*struct<doc_id:bigint,text:string>", "scan pruned to 2 cols"),
    ],
    "corpus_bigram_lm": [
        (r"HashAggregate", "map-combined count tables"),
        (r"ReadSchema: [^\n]*struct<doc_id:bigint,text:string>", "scan pruned to 2 cols"),
    ],
    "dedup_minhash_lsh": [
        # band buckets become pairs inside one aggregate per bucket; a
        # band-key self-join would build the md5 signature once per side
        (r"(?s)\A(?!.*SortMergeJoin)", "band buckets from one aggregate, no band-key join"),
    ],
    "graph_triangles": [
        # wedge enumeration must stay equi-join — a cartesian/NL join on
        # the oriented edge table is the hub blow-up this op exists to avoid
        (r"(?s)\A(?!.*(CartesianProduct|BroadcastNestedLoopJoin))", "no cartesian wedge join"),
        (r"HashAggregate", "per-node counts partially aggregated"),
    ],
    "kg_pipeline_link_triples": [
        # each distinct surface's candidates are built once and broadcast
        # back to the (url, surface) rows; occurrence rows are never
        # shuffled into a join, and the top-1 is a narrow array pick
        (r"\(\d+\) BroadcastExchange\nInput \[2\]: \[surface#\d+, cands#\d+\]",
         "candidate arrays broadcast to the occurrence rows"),
        (r"(?s)\A(?!.*SortMergeJoin)", "no sort-merge join of occurrence rows"),
        (r"(?s)\A(?!.*Window)", "top-1 picked per row, not by a window"),
    ],
    "ann_ivf_topk": [
        # the centroid set and the probe table must ride broadcasts — an
        # IVF whose assignment shuffles the corpus against K rows is wrong
        (r"BroadcastExchange", "centroids/probes broadcast"),
        (r"ReadSchema: [^\n]*struct<embedding:array<float>,vec_id:bigint>"
         r"|ReadSchema: [^\n]*struct<vec_id:bigint,embedding:array<float>>",
         "scan pruned to id+vector"),
    ],
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from kgspark.entry_queries import QUERIES
    from kgspark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    failures = 0
    for name, checks in CHECKS.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        for pattern, why in checks:
            ok = re.search(pattern, plan) is not None
            print(f"{'PASS' if ok else 'FAIL'}  {name}: {why}")
            if not ok:
                failures += 1
                print("      pattern:", pattern)
                if "--verbose" in sys.argv:
                    print(plan)
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
