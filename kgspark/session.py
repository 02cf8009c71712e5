"""SparkSession factory tuned for the KG-construction workload.

The reference runs single-threaded pandas (SURVEY.md §4); here every knob
that matters at cluster scale is set explicitly so the same code runs
unchanged on local[N] and on a 1000-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (all Python UDFs are vectorized pandas/Arrow UDFs)
- shuffle partitions sized to parallelism (overridable per deployment)
- broadcast threshold generous: the alias index / dimension tables are
  broadcast-joined (reference built in-memory dict indexes instead,
  convert_1921_to_lod.py:46-64)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, else one thread per
    CPU this process may run on (``os.sched_getaffinity``); on a real
    cluster pass None and let spark-submit decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~1x cores; cluster deployments override (rule of
        # thumb: ~2-3x total executor cores, or rely on AQE coalescing
        # from a high initial value).
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("KGSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate duplicates the full generator-input
        # expression as a size()>0 Filter that then pushes below any
        # repartition — for our shingle/token explodes the arrays are never
        # empty (dedup.word_shingles_from pads to >=1 element), so the
        # inferred filter excludes nothing while re-evaluating the whole
        # shingle build on the scan side (measured: 10x on dedup_minhash over a single-file
        # input: the filter ran the shingle pipeline single-partition).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # allow a join child partitioned on a SUBSET of the join keys to
        # keep its partitioning (guide §2.4 "two operations keyed the same
        # way can share one exchange"): resolve_triples partitions the
        # relation stream ONCE by url and both attach joins + the output
        # dedup then ride it (3 exchanges of the stream removed — see
        # relations.py). Plan-shape only, never results; the subset keys
        # in this engine (url, norm_surface) are all high-cardinality, so
        # no coarse-partitioning skew arises.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def unpersist_all(spark: SparkSession) -> int:
    """Drop every persisted RDD/DataFrame (incl. localCheckpoint storage).

    Without a checkpoint dir, run_pipeline localCheckpoints each shared
    stage it builds (one read by two or more stages); in a long-lived
    session (benchmark loops, notebooks) those persist until dropped and
    eventually GC-thrash the JVM. Call between independent pipeline runs."""
    spark.catalog.clearCache()
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jrdds.values())
    for r in rdds:
        r.unpersist()
    return len(rdds)
