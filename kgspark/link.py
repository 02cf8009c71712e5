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
   (O1), done JVM-side with built-ins (no Python in the hot path). One
   broadcast key table serves both lookups.
3. **score**: 0.5*name_sim + 0.3*context(admin region seen on page) +
   0.2*match prior; **top-1 per (url, surface)** over a total order
   (score desc, name_sim desc, entity_id asc), so results are identical
   at any parallelism (determinism precondition for the scaling bench,
   SURVEY.md §7.4.4).
4. **routing**: high-confidence vs ambiguous, mirroring the reference's
   confidence split (link_csd_years_spatial_v2.py:252-260).

A surface's candidates depend only on the surface, as in the reference's
in-memory alias dict (O7), so steps 1-2 run once per distinct surface and
collect one candidate array per surface. The per-page work is one
(url, surface) dedup of the occurrences, combined map-side, then a
broadcast join of the candidate arrays and an `array_min` over each
array scored in the page's context: narrow, with no per-page sort.

Scale: the alias index is broadcast (north rule), and so are the candidate
arrays, which hold only surfaces within Levenshtein 2 of an alias. Mention
data is shuffled twice: by surface for the distinct, and by (url, surface)
for the dedup; both combine map-side before their exchange. A skewed
surface ("Canada" on 35% of pages) is one row of the distinct, and the
dedup key is per page, so no shuffle skew arises here.
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
    """alias_index(F2) -> one row per listed alias, with its norm key."""
    return alias_index.select(
        "entity_id",
        "canonical_name",
        "entity_type",
        "admin_region",
        F.explode("aliases").alias("alias"),
    ).withColumn("norm_alias", normalize_surface(F.col("alias")))


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

    Returns (url, surface, norm_surface, entity_id, canonical_name,
    entity_type, admin_region, name_sim, match_kind, ctx_score, score,
    confidence).
    """
    aliases = build_alias_table(alias_index)
    alias_cols = ["norm_alias", "entity_id", "canonical_name", "entity_type", "admin_region"]

    def gram_keys(col: str):
        return F.transform(char_ngrams(col, 2), lambda g: F.concat(F.lit("~"), g))

    # one broadcast lookup serves both arms: each alias under "=" + its
    # normalized form (exact) and under "~" + each of its 2-grams (fuzzy
    # blocking); the prefixes keep the two key spaces apart
    keys = F.broadcast(
        aliases.select(
            *alias_cols,
            F.explode(
                F.concat(F.array(F.concat(F.lit("="), "norm_alias")), gram_keys("norm_alias"))
            ).alias("key"),
        )
    )
    surf = (
        mentions.select("surface").distinct()
        .withColumn("norm_surface", normalize_surface(F.col("surface")))
    )
    # ---- exact: the normalized form is an alias. A surface that misses
    # probes its 2-grams instead, and only it does.
    probes = surf.join(keys, F.concat(F.lit("="), surf.norm_surface) == keys.key, "left").select(
        "surface",
        "norm_surface",
        F.when(F.col("key").isNotNull(), F.struct(*alias_cols)).alias("hit"),
        F.explode_outer(F.when(F.col("key").isNull(), gram_keys("norm_surface"))).alias("probe"),
    )
    # ---- fuzzy: the 2-gram hits within LEV_MAX edits (length first)
    rows = (
        probes.join(keys, probes.probe == keys.key, "left")
        .select(
            "surface",
            "norm_surface",
            F.col("hit").isNotNull().alias("exact"),
            F.coalesce("hit", F.when(F.col("key").isNotNull(), F.struct(*alias_cols))).alias("c"),
        )
        .where(F.abs(F.length("norm_surface") - F.length("c.norm_alias")) <= LEV_MAX)
        .withColumn("lev", F.levenshtein("norm_surface", "c.norm_alias"))
        .where(F.col("lev") <= LEV_MAX)
    )
    name_sim = F.when(F.col("exact"), 1.0).otherwise(
        F.round(1.0 - F.col("lev") / F.greatest(F.length("norm_surface"), F.length("c.norm_alias")), 6)
    )
    cand = F.struct(
        "norm_surface",
        *[F.col(f"c.{k}").alias(k) for k in alias_cols[1:]],
        name_sim.alias("name_sim"),
        F.when(F.col("exact"), "exact").otherwise("fuzzy").alias("match_kind"),
    )
    # one array per surface; the set drops the copies that shared 2-grams
    # and repeated aliases leave. The distinct above partitions by surface,
    # so this aggregate adds no exchange.
    cands = rows.groupBy("surface").agg(F.collect_set(cand).alias("cands"))

    # ---- per (url, surface): one dedup of the occurrences, combined
    # map-side. The context of a (url, surface) is the union over its rows:
    # a higher context score only raises a candidate, so scoring against
    # the union picks what the best row of the pair would.
    occ = mentions.groupBy("url", "surface").agg(
        F.flatten(F.collect_set("ctx_regions")).alias("ctx_regions")
    )

    # ---- top-1: the total order (score desc, name_sim desc, entity_id
    # asc) as the smallest struct (1-score, 1-name_sim, entity_id, ...).
    # Both doubles are rounded to 6 dp in [0, 1], so 1-x reverses their
    # order exactly. Candidates tied on all three keys carry the same
    # values, so any of them is the row a row_number window would keep.
    fields = ["norm_surface", *alias_cols[1:], "name_sim", "match_kind"]

    def scored(c):
        ctx = F.when(F.array_contains(F.col("ctx_regions"), c["admin_region"]), 1.0).otherwise(0.0)
        prior = F.when(c["match_kind"] == "exact", 1.0).otherwise(c["name_sim"])
        score = F.round(0.5 * c["name_sim"] + 0.3 * ctx + 0.2 * prior, 6)
        return F.struct(
            (1.0 - score).alias("_inv_score"),
            (1.0 - c["name_sim"]).alias("_inv_name_sim"),
            c["entity_id"].alias("_tie_id"),
            *[c[k].alias(k) for k in fields],
            ctx.alias("ctx_score"),
            score.alias("score"),
        )

    # broadcast the candidates: left to the planner, the join builds on the
    # occurrence side, whose size estimate is the smaller of the two
    best = occ.join(F.broadcast(cands), "surface").select(
        "url", "surface", F.array_min(F.transform("cands", scored)).alias("_m")
    ).select("url", "surface", *[F.col(f"_m.{c}").alias(c) for c in [*fields, "ctx_score", "score"]])
    return best.withColumn(
        "confidence",
        F.when(
            (F.col("score") >= SCORE_ACCEPT) & (F.col("name_sim") >= NAME_SIM_ACCEPT), "high"
        ).otherwise("ambiguous"),
    )


def surface_to_entity_map(links: DataFrame) -> DataFrame:
    """High-confidence (norm_surface -> entity_id) consensus map.

    A surface can in principle link differently on different pages (context
    score); resolve by majority vote, tie-broken by the smallest entity_id
    — a mode per surface (reference A4, assign_canonical_names_simple.py:
    96-97), one aggregate that counts map-side before its exchange."""
    top = F.mode(F.struct("entity_id", "canonical_name", "entity_type"), deterministic=True)
    return (
        links.where(F.col("confidence") == "high")
        .groupBy("norm_surface")
        .agg(top.alias("m"))
        .select("norm_surface", "m.*")
    )
