"""Candidate entity linking against a broadcast alias index.

Re-expresses the reference's O(N*M) nested-loop fuzzy matcher
(/root/reference/scripts/convert_1921_to_lod.py:97-153: name 0.5 + coords
0.3 + province 0.2, accept if total >= 0.6 and name >= 0.7) and its
blocked name crosswalk (/root/reference/scripts/csd_name_crosswalk.py:130-160:
exact normalized match, else first-token block + banded Levenshtein <= 2)
as relational plans:

1. **exact**: normalized surface equi-join against the exploded alias index
   (broadcast hash join — the reference's in-memory dict index, O7).
2. **fuzzy**: only surfaces that missed exact go through a character-2-gram
   blocking equi-join (candidate generation) + `F.levenshtein <= 2` verify —
   the same prefilter-then-verify shape as the reference's R-tree bbox probe
   (O1), done JVM-side with built-ins (no Python in the hot path).
3. **score**: 0.5*name_sim + 0.3*context(admin region seen on page) +
   0.2*match prior; **top-1 per (url, surface)** as a min-of-struct
   aggregate over a total order (score desc, name_sim desc, entity_id asc)
   so results are identical at any parallelism (determinism precondition
   for the scaling bench, SURVEY.md §7.4.4).
4. **routing**: high-confidence vs ambiguous, mirroring the reference's
   confidence split (link_csd_years_spatial_v2.py:252-260).

Scale: the alias index is broadcast (north rule). Mention data is shuffled
by the distincts over unmatched surfaces and their fuzzy candidates — a tiny
set because exact matching absorbs the head of the distribution — and by the
(url, surface) top-1 aggregate, which combines map-side before its
exchange. Skewed surfaces ("Canada" on 35% of pages) hit the *broadcast*
join, and the top-1 key is per page, so no shuffle skew arises here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCORE_ACCEPT = 0.6
NAME_SIM_ACCEPT = 0.7
LEV_MAX = 2


def normalize_surface(col):
    """lower + trim + collapse whitespace + strip edge punctuation.

    Mirrors the reference's normalize_name chain
    (convert_1921_to_lod.py:13-24, csd_name_crosswalk.py:65-77) as pure
    column expressions."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"[’']", "'")
    c = F.regexp_replace(c, r"^[^0-9a-z]+|[^0-9a-z]+$", "")
    return F.regexp_replace(c, r"\s+", " ")


def build_alias_table(alias_index: DataFrame) -> DataFrame:
    """alias_index(F2) -> one row per (entity_id, alias) with norm key."""
    return (
        alias_index.select(
            "entity_id",
            "canonical_name",
            "entity_type",
            "admin_region",
            F.explode("aliases").alias("alias"),
        )
        .withColumn("norm_alias", normalize_surface(F.col("alias")))
        .dropDuplicates(["entity_id", "norm_alias"])
    )


def char_ngrams(col: str, n: int):
    """Distinct character n-grams of a string column, JVM-side: the fuzzy
    join's blocking key here and the surface shingles in canonicalize."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(0, greatest(length({col}) - {n}, 0)), "
            f"i -> substring({col}, i + 1, {n}))"
        )
    )


def link_mentions(mentions: DataFrame, alias_index: DataFrame) -> DataFrame:
    """(url, surface, ctx_regions) -> top-1 link per (url, surface).

    Returns (url, surface, entity_id, canonical_name, entity_type,
    name_sim, ctx_score, score, match_kind, confidence).
    """
    aliases = build_alias_table(alias_index)
    # three consumers (exact join, missed anti-join, fuzzy join-back): cut
    # the lineage once so the 3-regex normalize over every mention
    # occurrence runs once, not three times (r7)
    m = mentions.withColumn(
        "norm_surface", normalize_surface(F.col("surface"))
    ).localCheckpoint(eager=False)

    # ---- exact: broadcast equi-join on normalized form
    exact = (
        m.join(F.broadcast(aliases), m.norm_surface == aliases.norm_alias, "inner")
        .withColumn("name_sim", F.lit(1.0))
        .withColumn("match_kind", F.lit("exact"))
    )

    # ---- fuzzy: only the surfaces that missed exact (left-anti), distinct
    missed = (
        m.join(F.broadcast(aliases), m.norm_surface == aliases.norm_alias, "left_anti")
        .select("norm_surface")
        .distinct()
    )
    surf_grams = missed.select(
        "norm_surface", F.explode(char_ngrams("norm_surface", 2)).alias("gram")
    )
    alias_grams = aliases.select(
        "entity_id", "norm_alias",
        F.explode(char_ngrams("norm_alias", 2)).alias("gram"),
    )
    fuzzy_pairs = (
        surf_grams.join(F.broadcast(alias_grams), "gram")
        .select("norm_surface", "entity_id", "norm_alias")
        .distinct()
        .where(
            F.abs(F.length("norm_surface") - F.length("norm_alias")) <= LEV_MAX
        )
        .withColumn("lev", F.levenshtein("norm_surface", "norm_alias"))
        .where(F.col("lev") <= LEV_MAX)
        .withColumn(
            "name_sim",
            F.round(
                1.0 - F.col("lev") / F.greatest(F.length("norm_surface"), F.length("norm_alias")),
                6,
            ),
        )
    )
    fuzzy = (
        m.join(fuzzy_pairs, "norm_surface")
        .join(
            F.broadcast(aliases.select("entity_id", "norm_alias", "canonical_name", "entity_type", "admin_region")),
            ["entity_id", "norm_alias"],
        )
        .withColumn("match_kind", F.lit("fuzzy"))
    )

    cols = [
        "url", "surface", "norm_surface", "ctx_regions", "entity_id",
        "canonical_name", "entity_type", "admin_region", "name_sim", "match_kind",
    ]
    cand = exact.select(*cols).unionByName(fuzzy.select(*cols))

    # ---- scoring (weights per convert_1921_to_lod.py:139-140 pattern)
    cand = cand.withColumn(
        "ctx_score",
        F.when(F.array_contains(F.col("ctx_regions"), F.col("admin_region")), 1.0).otherwise(0.0),
    ).withColumn(
        "prior", F.when(F.col("match_kind") == "exact", 1.0).otherwise(F.col("name_sim"))
    ).withColumn(
        "score",
        F.round(0.5 * F.col("name_sim") + 0.3 * F.col("ctx_score") + 0.2 * F.col("prior"), 6),
    )

    # ---- top-1 per (url, surface); total order for determinism.
    # argmax as min-of-struct (r7, same move as surface_to_entity_map): the
    # row_number window needed a full sort of every candidate row on both
    # sides of its exchange; min(struct) runs as a partially-aggregating
    # ObjectHashAggregate that combines map-side before the shuffle. The
    # ordering (score desc, name_sim desc, entity_id asc) is encoded as
    # min(struct(1-score, 1-name_sim, entity_id, ...)): both doubles are
    # rounded to 6 dp in [0,1], so 1-x is an exact order reversal (1e-6
    # spacing >> ulp(1.0)) with no -0.0 hazard. Rows tied on all three
    # keys are identical in every carried column (same entity -> same
    # canonical_name/type/region; match_kind is constant per surface;
    # ctx/score derive from those), so any-of-ties == row_number's
    # first-of-ties. Pinned by tools/audit_plans.py + the link oracles.
    payload = [
        "norm_surface", "entity_id", "canonical_name", "entity_type",
        "admin_region", "name_sim", "match_kind", "ctx_score", "score",
    ]
    best = (
        cand.drop("prior", "ctx_regions")
        .groupBy("url", "surface")
        .agg(
            F.min(
                F.struct(
                    (1.0 - F.col("score")).alias("_inv_score"),
                    (1.0 - F.col("name_sim")).alias("_inv_name_sim"),
                    F.col("entity_id").alias("_tie_id"),
                    *[F.col(c).alias(c) for c in payload],
                )
            ).alias("_m")
        )
        .select("url", "surface", *[F.col(f"_m.{c}").alias(c) for c in payload])
    )

    # ---- confidence routing (link_csd_years_spatial_v2.py:252-260 analog)
    return best.withColumn(
        "confidence",
        F.when(
            (F.col("score") >= SCORE_ACCEPT) & (F.col("name_sim") >= NAME_SIM_ACCEPT), "high"
        ).otherwise("ambiguous"),
    )


def surface_to_entity_map(links: DataFrame) -> DataFrame:
    """High-confidence (norm_surface -> entity_id) consensus map.

    A surface can in principle link differently on different pages (context
    score); resolve by majority vote, tie-broken by entity_id — a mode-by-
    window (reference A4, assign_canonical_names_simple.py:96-97)."""
    counts = (
        links.where(F.col("confidence") == "high")
        .groupBy("norm_surface", "entity_id", "canonical_name", "entity_type")
        .count()
    )
    # argmax as min-of-struct (r7): (count desc, entity_id asc) is
    # min(struct(-count, entity_id, ...)); (norm_surface, entity_id) is
    # unique per counts row so the payload fields never decide the
    # comparison. One aggregation wave instead of a row_number window's
    # extra exchange+sort — this map is on the pipeline's serial floor.
    best = counts.groupBy("norm_surface").agg(
        F.min(
            F.struct(
                (-F.col("count")).alias("neg_n"),
                F.col("entity_id").alias("entity_id"),
                F.col("canonical_name").alias("canonical_name"),
                F.col("entity_type").alias("entity_type"),
            )
        ).alias("m")
    )
    return best.select(
        "norm_surface",
        F.col("m.entity_id").alias("entity_id"),
        F.col("m.canonical_name").alias("canonical_name"),
        F.col("m.entity_type").alias("entity_type"),
    )
