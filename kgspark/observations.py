"""Measurement extraction: wide table -> long observation rows.

The reference's largest operator (R1): a row x column double loop over wide
census tables emitting one (E16 measurement, E54 dimension) pair + 6 edges
per non-null cell, with keyword-based unit inference, id semi-join
validation, and a broadcast variable-metadata lookup
(/root/reference/scripts/build_census_observations_v2.py:244-337, units
:44-69, semi-join :250-254, metadata :277-281). Re-expressed:

- the double loop      -> `DataFrame.melt` (one shuffle-free projection)
- null-skip            -> `where(value is not null)`
- id validation        -> left-semi join against the valid-id set
- metadata lookup      -> broadcast hash join on the ~490-row dimension
- unit inference       -> `F.when` keyword chain (pure expression)
- value-or-string split-> two nullable columns via try-cast, exactly the
                          reference's value:float | value_string convention
- driver-side column selection (reference P5 metadata-column exclusion)
  stays driver-side set algebra on df.columns — schema ops, not data ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# keyword -> unit rules (reference build_census_observations_v2.py:44-69)
UNIT_RULES = [
    ("population", "persons"),
    ("person", "persons"),
    ("price", "currency"),
    ("bal", "currency"),
    ("revenue", "currency"),
    ("acre", "acres"),
    ("area", "acres"),
    ("size", "count"),
    ("quantity", "count"),
    ("qty", "count"),
    ("ratio", "ratio"),
    ("pct", "percent"),
]


def infer_unit():
    """Unit of the `variable` column's measure, by the first UNIT_RULES
    keyword it contains."""
    c = F.lower(F.col("variable"))
    expr = F.lit("unknown")
    for kw, unit in reversed(UNIT_RULES):
        expr = F.when(c.contains(kw), F.lit(unit)).otherwise(expr)
    return expr


def melt_observations(
    wide: DataFrame,
    id_cols: list[str],
    metadata_cols: list[str] | None = None,
    valid_ids: DataFrame | None = None,
    variable_meta: DataFrame | None = None,
) -> DataFrame:
    """wide(id..., m1, m2, ...) -> (id..., variable, value_numeric,
    value_string, unit [, category]).

    metadata_cols: excluded from melting (reference P5 anti-filter).
    valid_ids: optional one-column frame; rows whose first id column is not
      present are dropped (reference J3 semi-join validation).
    variable_meta: optional (variable, category, ...) dimension — broadcast
      joined (reference J5)."""
    meta = set(metadata_cols or [])
    measures = [c for c in wide.columns if c not in set(id_cols) | meta]
    long = wide.melt(
        ids=id_cols,
        values=measures,
        variableColumnName="variable",
        valueColumnName="_raw",
    ).where(F.col("_raw").isNotNull())
    out = (
        # try_cast: ANSI mode throws on non-numeric strings; the reference's
        # convention is value:float OR value_string (v2.py:268-274)
        long.withColumn("value_numeric", F.col("_raw").try_cast("double"))
        .withColumn(
            "value_string",
            F.when(F.col("value_numeric").isNull(), F.col("_raw").cast("string")),
        )
        .withColumn("unit", infer_unit())
        .drop("_raw")
    )
    if valid_ids is not None:
        key = id_cols[0]
        out = out.join(
            F.broadcast(valid_ids.selectExpr(f"{valid_ids.columns[0]} as {key}").distinct()),
            key,
            "left_semi",
        )
    if variable_meta is not None:
        out = out.join(F.broadcast(variable_meta), "variable", "left")
    return out


def observation_ids(obs: DataFrame, id_col: str) -> DataFrame:
    """Deterministic measurement ids MEAS_{id}_{variable} (reference
    build_census_observations_v2.py:147, without its snapshot part)."""
    return obs.withColumn(
        "measurement_id",
        F.concat_ws("_", F.lit("MEAS"), F.col(id_col).cast("string"), F.col("variable")),
    )
