"""Canonicalization: MinHash-LSH blocking + connected components + consensus.

Re-expresses the reference's temporal-chain canonicalization
(/root/reference/scripts/assign_canonical_names.py:49-158 — explicit
dict-based graph walk with cycle guard; consensus + similarity gate at
assign_canonical_names_simple.py:94-124) as distributed primitives:

1. **Candidate pairs** between distinct mention surfaces via MinHash-LSH
   over character-3-gram shingles — all JVM-side (`xxhash64`, `transform`,
   `array_min`), no Python — plus a 3-char prefix block. Surfaces that share
   a band bucket become pairs inside that bucket (`ops.dedup.bucket_pairs`,
   one aggregate, no band-key self-join), the same path as document
   MinHash-LSH dedup. This is the blocking analog of the reference's R-tree
   bbox prefilter (SURVEY.md O1) and the north rule's "MinHash-LSH
   blocking".
2. **Verify + classify**: exact Jaccard on shingle sets + Levenshtein ratio;
   pairs above threshold become SAME_AS edges (reference classifier
   link_csd_years_spatial_v2.py:135-165 shape: block -> exact verify ->
   threshold classify). Surfaces that linked to the same entity id are
   SAME_AS by construction (the reference's SAME_AS/iou>=0.999 chains).
3. **Connected components** by a vectorized union-find over halving
   partitions: a numpy union-find runs over each edge partition where it
   lands (one `mapInPandas`, no exchange) and labels every node with its
   local root, the smallest node of its local component. Only nodes seen
   in more than one partition form the boundary graph, edges (node,
   local root); that graph goes through the same step over half as many
   partitions, and its labels relabel the local roots. A level with one
   partition has no boundary, so P edge partitions take at most
   floor(log2 P) + 1 levels, whatever the graph's diameter (the
   reference's cycle guard has no analog: union-find cannot loop).
   Distinct mention surfaces are vocabulary-sized and arrive in one
   partition, so only the first level runs.
   Head-entity skew ("Canada" on 35% of pages) never reaches this step at
   page-cardinality: CC runs over *distinct surfaces*; a star inside a
   partition costs the union-find one pass, and a star across partitions
   leaves at most one boundary edge per partition.
4. **Consensus canonical form**: occurrence-weighted mode per component
   (reference A4) gated by avg/min similarity >= 70/60 (reference
   assign_canonical_names_simple.py:117-124) so true renames
   (Berlin -> Kitchener) are preserved while OCR variants merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .link import char_ngrams
from .ops.dedup import bucket_pairs

N_HASHES = 12  # r=1 banding: any colliding minhash makes a candidate pair.
# Mention surfaces are short (1-4 words), so 3-gram Jaccard of true OCR
# variants can be as low as ~0.25; r=1 keeps blocking recall ~1-(1-j)^K
# while the exact verify step keeps precision. A deterministic prefix block
# is unioned in as a safety net for edit-distance-1 corruptions.
JACCARD_SAMEAS = 0.5
LEV_RATIO_SAMEAS = 0.7  # reference OCR-variant band is sim 60-95 (fix_ocr_errors.py:183-187)
AVG_SIM_GATE = 70.0
MIN_SIM_GATE = 60.0


def candidate_pairs_lsh(surfaces: DataFrame) -> DataFrame:
    """Distinct surfaces -> candidate (a, b) pairs via MinHash-LSH banding.

    surfaces: one row per distinct normalized surface (`norm_surface`).
    Returns pairs with a < b and their exact shingle Jaccard.
    """
    members = surfaces.select(
        F.struct("norm_surface", char_ngrams("norm_surface", 3).alias("sh")).alias("m")
    )
    # K minhashes, JVM-side: min over xxhash64(shingle, k); r=1 banding is
    # one (band, key) row per minhash, via a single explode
    banded = members.select(
        "m",
        F.posexplode(
            F.array(*[
                F.array_min(F.expr(f"transform(m.sh, s -> xxhash64(s, {k}))"))
                for k in range(N_HASHES)
            ])
        ).alias("band", "band_key"),
    )
    # deterministic safety-net block: the 3-char prefix
    prefix = members.select(
        "m",
        F.lit(-1).alias("band"),
        F.xxhash64(F.substring("m.norm_surface", 1, 3)).alias("band_key"),
    )
    # the shingles ride in the bucket members, so the exact verify (shingle
    # Jaccard, JVM-side) needs no lookup of either side
    return bucket_pairs(banded.unionByName(prefix)).select(
        F.col("x.norm_surface").alias("a"),  # a < b: symmetric dedup (reference O4)
        F.col("y.norm_surface").alias("b"),
        F.round(
            F.size(F.array_intersect("x.sh", "y.sh")) / F.size(F.array_union("x.sh", "y.sh")),
            6,
        ).alias("jaccard"),
    )


def same_as_edges(surfaces: DataFrame, surface_to_entity: DataFrame) -> DataFrame:
    """SAME_AS edge list over distinct surfaces: LSH candidates verified by
    shingle Jaccard OR Levenshtein ratio (the OCR-variant band), plus pairs
    that entity-linked to the same id. Pairs whose two sides linked to
    *different* entities are vetoed — the analog of the reference keeping
    Treaty 6 / Treaty 7 distinct despite 1-char edit distance."""
    cands = candidate_pairs_lsh(surfaces)
    lsh = (
        cands.withColumn(
            "lev_ratio",
            F.round(
                1.0 - F.levenshtein("a", "b") / F.greatest(F.length("a"), F.length("b")), 6
            ),
        )
        .where(
            (F.col("jaccard") >= JACCARD_SAMEAS)
            | (F.col("lev_ratio") >= LEV_RATIO_SAMEAS)
        )
        .select("a", "b")
    )
    ent = surface_to_entity.select("norm_surface", "entity_id")
    ent_a = ent.select(F.col("norm_surface").alias("a"), F.col("entity_id").alias("ent_a"))
    ent_b = ent.select(F.col("norm_surface").alias("b"), F.col("entity_id").alias("ent_b"))
    lsh = (
        lsh.join(F.broadcast(ent_a), "a", "left")
        .join(F.broadcast(ent_b), "b", "left")
        .where(
            F.col("ent_a").isNull() | F.col("ent_b").isNull() | (F.col("ent_a") == F.col("ent_b"))
        )
        .select("a", "b")
    )
    # every pair within an entity's surfaces, from one aggregate instead
    # of a self-join of the map
    via_entity = (
        ent.where(F.col("entity_id").isNotNull())
        .groupBy("entity_id")
        .agg(F.collect_set("norm_surface").alias("s"))
        .select(F.explode("s").alias("a"), "s")
        .select("a", F.explode("s").alias("b"))
        .where(F.col("a") < F.col("b"))
    )
    return lsh.unionByName(via_entity).distinct()


def _min_roots(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """root[i] = the smallest index joined to i by the edges (u[k], v[k]).

    Vectorized union-find: every round hooks each root to the smallest root
    across its edges, then pointer-jumps until every index points at a
    root. Hooking only ever lowers a pointer, so root[i] <= i throughout
    and the forest never cycles; edges whose ends share a root are done
    for good and are dropped."""
    root = np.arange(n)
    while True:
        ru, rv = root[u], root[v]
        cross = ru != rv
        if not cross.any():
            return root
        u, v, ru, rv = u[cross], v[cross], ru[cross], rv[cross]
        np.minimum.at(root, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped


def _local_union_find(batches):
    """mapInPandas body: union-find over one edge partition as it arrives.

    Emits (pid, node, root) for every node the partition's edges touch,
    root being the smallest node of its component within the partition.
    Nodes are factorized in sorted order, so the smallest index is the
    smallest node (string order is code-point order, as in Spark)."""
    frames = list(batches)
    if not frames:
        return
    ab = pd.concat(frames, ignore_index=True)
    codes, uniq = pd.factorize(pd.concat([ab["a"], ab["b"]], ignore_index=True), sort=True)
    uniq = np.asarray(uniq)
    n = len(ab)
    root = _min_roots(codes[:n], codes[n:], len(uniq))
    yield pd.DataFrame({
        "pid": np.full(len(uniq), TaskContext.get().partitionId(), dtype=np.int32),
        "node": uniq,
        "root": uniq[root],
    })


def _union_find_levels(edges: DataFrame) -> DataFrame:
    """(node, component) for every endpoint of the non-null edges (a, b):
    one level of `connected_components`, which recurses on the boundary."""
    node_type = edges.schema["a"].dataType
    local = edges.mapInPandas(
        _local_union_find,
        StructType([
            StructField("pid", IntegerType(), False),
            StructField("node", node_type, False),
            StructField("root", node_type, False),
        ]),
    ).localCheckpoint(eager=False)
    node_root = local.select("node", F.col("root").alias("component"))
    n_parts = local.rdd.getNumPartitions()
    # one edge partition: every node has exactly one row and no node can
    # cross into a second partition, so there is nothing to merge
    if n_parts <= 1:
        return node_root
    boundary = (
        local.groupBy("node")
        .agg(
            (F.min("pid") != F.max("pid")).alias("crosses"),
            F.collect_set("root").alias("roots"),
        )
        .where("crosses")
        .select(F.col("node").alias("a"), F.explode("roots").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    merged = _union_find_levels(boundary.coalesce(n_parts // 2))
    # a node has one row per partition it appears in, all with the same
    # label once its local roots take their merged label (even a node that
    # is its own local root everywhere, like a hub below all its spokes,
    # and so makes no boundary edge)
    return (
        node_root.join(
            merged.select(F.col("node").alias("component"), F.col("component").alias("merged")),
            "component",
            "left",
        )
        .select("node", F.coalesce("merged", "component").alias("component"))
        .distinct()
    )


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components of the graph `edges` (a, b), labelled for every
    distinct value of `nodes["node"]`.

    Returns (node, component) where component = the smallest node id in
    the node's component (reference cycle-guard analog,
    assign_canonical_names.py:146-151). Each level has two steps:

    1. **Local union-find.** One mapInPandas pass runs a vectorized numpy
       union-find over each edge partition where it already is (no
       exchange), emitting (pid, node, local root).
    2. **Boundary graph.** Nodes seen in more than one partition (one
       groupBy: min(pid) != max(pid)) link each of their local roots:
       boundary edges (node, local root). These are coalesced to half as
       many partitions and labelled by the next level; each local root
       then takes its merged label.

    A level with one partition has no boundary, so at most
    floor(log2 P) + 1 levels run for P edge partitions, whatever the
    graph's diameter. Vocabulary-sized graphs arrive in one partition, so
    only the first level runs.

    Input contract:

    - `edges` endpoints are cast to the type of `nodes["node"]`, which
      the output keeps (string and bigint are both used).
    - An edge with a null endpoint is ignored.
    - A null node comes back as its own component: (null, null).
    - Empty `edges`: every node is a singleton.
    - An edge endpoint missing from `nodes` still joins its neighbours:
      the components are those of the graph over nodes and edge
      endpoints, restricted to `nodes` on output, so a component can be
      labelled by an id that is not in `nodes`. The engine's callers take
      their edges from their nodes."""
    node_type = nodes.schema["node"].dataType
    node_root = _union_find_levels(
        edges.select(
            F.col("a").cast(node_type).alias("a"), F.col("b").cast(node_type).alias("b")
        ).where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    return (
        nodes.select("node")
        .distinct()
        .join(node_root, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def consensus_canonical(
    surface_occurrences: DataFrame,
    components: DataFrame,
) -> DataFrame:
    """Per component: occurrence-weighted mode surface + similarity gate.

    surface_occurrences: (norm_surface, n_occurrences)
    components: (node=norm_surface, component)

    Returns F5-shaped canonical_map:
    (norm_surface, component, canonical_surface, should_apply,
     avg_similarity, min_similarity, reason).
    """
    occ = surface_occurrences.join(
        components.withColumnRenamed("node", "norm_surface"), "norm_surface"
    )
    # argmax as min-of-struct (r7, same move as link top-1): the ordering
    # (n_occurrences desc, norm_surface asc) is min(struct(-n, surface));
    # (component, norm_surface) is unique per occ row, so the total order
    # has no ties and any-of-ties == row_number's first row. Partial
    # aggregation combines map-side instead of sorting every occurrence
    # row on both sides of the window exchange.
    consensus = (
        occ.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_occurrences")).alias("_neg_n"),
                    F.col("norm_surface").alias("canonical_surface"),
                )
            ).alias("_m")
        )
        .select("component", F.col("_m.canonical_surface").alias("canonical_surface"))
    )
    sim = (
        occ.join(consensus, "component")
        .withColumn(
            "similarity",
            F.round(
                100.0
                * (
                    1.0
                    - F.levenshtein("norm_surface", "canonical_surface")
                    / F.greatest(F.length("norm_surface"), F.length("canonical_surface"))
                ),
                4,
            ),
        )
    )
    gates = sim.groupBy("component").agg(
        F.round(F.avg("similarity"), 4).alias("avg_similarity"),
        F.min("similarity").alias("min_similarity"),
        F.countDistinct("norm_surface").alias("n_variants"),
    )
    return (
        sim.join(gates, "component")
        .withColumn(
            "should_apply",
            (F.col("n_variants") == 1)
            | (
                (F.col("avg_similarity") >= AVG_SIM_GATE)
                & (F.col("min_similarity") >= MIN_SIM_GATE)
            ),
        )
        .withColumn(
            "reason",
            F.when(F.col("n_variants") == 1, "unanimous")
            .when(F.col("should_apply"), "ocr_variants")
            .otherwise("name_change"),
        )
        .select(
            "norm_surface", "component", "canonical_surface", "should_apply",
            "avg_similarity", "min_similarity", "reason",
        )
    )


def resolve_unlinked_surfaces(
    components: DataFrame, surface_to_entity: DataFrame
) -> DataFrame:
    """Recall recovery: give unlinked surfaces the entity id of their
    component (majority entity among linked members, tie-break min id).

    `components` holds one row per node, so the vote is one mode over a
    window per component, on top of a broadcast lookup of each surface's
    own link."""
    linked = components.withColumnRenamed("node", "norm_surface").join(
        F.broadcast(surface_to_entity.select("norm_surface", "entity_id")), "norm_surface", "left"
    )
    comp_entity = F.mode("entity_id", deterministic=True).over(Window.partitionBy("component"))
    return linked.select(
        "norm_surface", F.coalesce("entity_id", comp_entity).alias("entity_id")
    ).where(F.col("entity_id").isNotNull())
