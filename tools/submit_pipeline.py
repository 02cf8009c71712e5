"""spark-submit entrypoint: run the KG-construction pipeline as a batch job.

Cluster usage (north rule: spark-submit --py-files on multi-executor):

    zip -r kgspark.zip kgspark
    spark-submit --py-files kgspark.zip tools/submit_pipeline.py \
        --pages-dir s3://bucket/pages --out s3://bucket/graph \
        --checkpoint-dir s3://bucket/ck

Sandbox smoke (local master picked up from env / defaults):

    python tools/submit_pipeline.py --n-pages 500 --out /tmp/graph

Reads pages from --pages-dir (parquet, FIXTURES.md F1 schema) or generates
the deterministic fixture corpus with --n-pages; writes entities/edges/
lineage under --out; resumable via --checkpoint-dir.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages-dir", help="parquet dir with pages(url, warc_ts, html, text, lang)")
    src.add_argument("--n-pages", type=int, help="generate the deterministic fixture corpus")
    ap.add_argument("--out", required=True, help="output dir for entities/edges/lineage")
    ap.add_argument("--checkpoint-dir", default=None, help="resumable stage checkpoints")
    ap.add_argument("--alias-index", default=None,
                    help="parquet dir with the alias index (default: built-in fixture vocabulary)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from kgspark import fixtures
    from kgspark.io import CheckpointRegistry
    from kgspark.pipeline import run_pipeline
    from kgspark.session import get_spark

    spark = get_spark(app_name="kgspark-submit", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.pages_dir:
        pages = spark.read.parquet(args.pages_dir)
    else:
        pages = fixtures.gen_pages(spark, args.n_pages)
    aliases = (
        spark.read.parquet(args.alias_index) if args.alias_index else fixtures.gen_alias_index(spark)
    )

    t0 = time.time()
    out = run_pipeline(spark, pages, aliases, checkpoint_dir=args.checkpoint_dir)
    reg = CheckpointRegistry(spark, args.out)
    reg.write("entities", out["entities"])
    reg.write("edges", out["edges"], partition_by=["pred"])
    reg.write("lineage", out["lineage"])
    n_edges = reg.read("edges").count()
    print(json.dumps({
        "edges": n_edges,
        "entities": reg.read("entities").count(),
        "elapsed_sec": round(time.time() - t0, 1),
        "out": args.out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
