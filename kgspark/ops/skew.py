"""Explicit skew handling: salted two-phase aggregation and salted joins.

AQE's skew-join splitting covers joins, and map-side partial aggregation
covers most hot-key groupBys — but two shapes still need explicit salt at
10^12-page scale (north rule: "salted repartitioning to defuse head-entity
skew"):

1. **High-cardinality agg states on hot keys**: `collect_list`/`collect_set`
   per entity (e.g. surface variants) puts every row of a head entity in ONE
   task's state. `salted_agg` splits each key into `N_SALTS` subkeys,
   aggregates partials, then merges — the classic two-phase salt.
2. **Replicated broadcast-side joins** where the probe side is hot and the
   per-row work is heavy (e.g. geometry/embedding verify): `salt_column`
   gives a deterministic uniform salt derived from row identity (no
   Math.random — results stay reproducible and resume-safe).

Used by the pipeline's mention-count materialization and available to any
caller; `tests/test_skew.py` proves salted == unsalted on a 30%-head-entity
corpus (the SURVEY §5.6 scale/skew test).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALTS = 16  # subkeys per key in the two-phase salted aggregates


def salt_column(n_salts: int, *identity_cols: str) -> Column:
    """Deterministic uniform salt in [0, n_salts): hash of row identity.

    xxhash64 (JVM, codegen'd) rather than rand() so that re-runs and
    checkpoint resumes produce identical partitioning."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in identity_cols]), F.lit(n_salts)).cast("int")


def salted_count(
    df: DataFrame,
    key_cols: list[str],
    identity_cols: list[str] | None = None,
    count_col: str = "count",
) -> DataFrame:
    """Two-phase count: groupBy(key, salt) -> partial counts -> groupBy(key).

    Equivalent to `df.groupBy(key).count()` but no single task ever sees
    more than ~1/N_SALTS of a head key's rows in phase one."""
    ident = identity_cols or df.columns
    partial = (
        df.withColumn("_salt", salt_column(N_SALTS, *ident))
        .groupBy(*key_cols, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*key_cols).agg(F.sum("_partial").cast("long").alias(count_col))


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    partial_aggs: list[Column],
    merge_aggs: list[Column],
    identity_cols: list[str] | None = None,
) -> DataFrame:
    """General two-phase salted aggregation.

    partial_aggs run per (key, salt); merge_aggs combine the partials per
    key. Caller guarantees the aggregate is decomposable (sum/count/min/
    max/collect_* with a flatten merge)."""
    ident = identity_cols or df.columns
    partial = (
        df.withColumn("_salt", salt_column(N_SALTS, *ident))
        .groupBy(*key_cols, "_salt")
        .agg(*partial_aggs)
    )
    return partial.groupBy(*key_cols).agg(*merge_aggs)


def salted_repartition(df: DataFrame, key_cols: list[str], n_salts: int = N_SALTS,
                       identity_cols: list[str] | None = None,
                       num_partitions: int | None = None) -> DataFrame:
    """Repartition by (key, salt) so a hot key spreads over n_salts
    partitions — the pre-shuffle for downstream per-partition work
    (applyInPandas group maps, heavy verify UDFs)."""
    ident = identity_cols or df.columns
    salted = df.withColumn("_salt", salt_column(n_salts, *ident))
    cols = [F.col(c) for c in key_cols] + [F.col("_salt")]
    out = (
        salted.repartition(num_partitions, *cols)
        if num_partitions
        else salted.repartition(*cols)
    )
    return out.drop("_salt")
