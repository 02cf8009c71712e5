"""Graph analytics over the materialized KG: PageRank (entity
importance) and degree-oriented triangle counting (clustering structure).
Connected components lives in kgspark/canonicalize.py (it is a pipeline
stage, not an analytics op); this module holds the query-side
iterative algorithms.

PageRank runs in exact integer fixed-point (e12) by default: ranks are
BIGINTs, per-edge shares use integral division, and BIGINT sums are
order-independent — so two runs at different parallelism (or a DuckDB
replay of the same recurrence) agree bit-for-bit, unlike double
accumulation whose shuffle-fetch order changes the last ulps. The `double`
mode is the production arithmetic for 10^9-node graphs where per-node e12
magnitudes would overflow 64 bits under heavy in-degree hubs.

Reference analog: the reference queries the built graph for hub entities
(degree-ranked, /root/reference/test_queries.sh TEST 4/6); PageRank is the
standard strengthening of that capability on the same edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000  # e12 fixed point
DAMPING_E2 = 85  # PageRank damping factor d, in hundredths


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    mode: str = "e12",
) -> DataFrame:
    """Unnormalized PageRank, fixed iteration count (no convergence test —
    deterministic work, and the oracle replays the same recurrence):

        rank_0(v)   = SCALE
        rank_i+1(v) = SCALE*(100-d)//100
                      + sum over in-edges (u,v) of (rank_i(u)*d//100) // deg(u)

    with d = DAMPING_E2. nodes: (node); edges: (src, dst) directed — pass both directions for
    an undirected graph. Dangling nodes (deg 0) keep the base mass and
    leak the rest, the usual simplification. Returns (node, rank_e12) in
    e12 mode, (node, rank) double otherwise.

    Scale shape per iteration: join ranks to edges on src [shuffle on
    src; the edge table is hash-partitioned once up front — by the degree
    window's exchange — and the partitioning is reused every round], sum
    shares by dst [map-side combined — a billion-in-degree hub reduces
    before the wire], left join back to nodes. Lineage is cut each round
    with localCheckpoint(eager=False) (r7), so each round is computed once
    (ranks has two consumers per round). It is not lazy under AQE: the
    call runs the round's shuffle stages at once, and only the stage after
    the last exchange waits for the next consumer.

    Degree attaches as a COUNT window over src rather than an aggregate +
    join-back (r7): the old form made Catalyst compute the whole
    edge-construction subtree twice (once under the join's build side),
    and the window's exchange doubles as the once-up-front src
    partitioning the iterations reuse."""
    if mode not in ("e12", "double"):
        raise ValueError(f"unknown mode {mode!r}")
    from pyspark.sql import Window

    e = (
        edges.select("src", "dst")
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .localCheckpoint(eager=False)
    )
    # scale-adaptive iteration partitioning (same rule as the CC loop):
    # the co-mention graphs this runs on are vocabulary-bounded, so the
    # 5 iteration rounds otherwise pay full-width shuffle latency on
    # near-empty partitions; billion-edge graphs still get full width.
    n_edges = e.count()
    n_parts = max(1, min(n_edges // 500_000, 1024))
    spark = edges.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if mode == "e12":
        base = SCALE * (100 - DAMPING_E2) // 100
        init = F.lit(SCALE).cast("long")
        share = F.expr(f"(rank * {DAMPING_E2}) div 100 div deg")
        out_col = "rank_e12"
    else:
        base = SCALE * (100 - DAMPING_E2) / 100.0
        init = F.lit(float(SCALE))
        share = F.col("rank") * (DAMPING_E2 / 100.0) / F.col("deg")
        out_col = "rank"
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        ranks = (
            nodes.select("node")
            .distinct()
            .withColumn("rank", init)
            .localCheckpoint(eager=False)
        )
        for _ in range(n_iter):
            inc = (
                e.join(ranks.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"), share.alias("share"))
                .groupBy("node")
                .agg(F.sum("share").alias("inc"))
            )
            ranks = (
                ranks.select("node")
                .join(inc, "node", "left")
                .select(
                    "node", (F.lit(base) + F.coalesce("inc", F.lit(0))).alias("rank")
                )
                .localCheckpoint(eager=False)
            )
        # materialize the last round while the loop's partitioning conf is
        # still in force (each checkpoint call ran its round's shuffles;
        # the stage after the last exchange waits for an action)
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return ranks.select("node", F.col("rank").alias(out_col))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected simple graph.
    edges: (a, b) with a != b, one row per undirected edge (either
    orientation, duplicates tolerated — normalized here). Returns
    (node, n_tri) for nodes in >= 1 triangle.

    Scale shape: every edge is ORIENTED from its lower-(degree, id)
    endpoint to the higher one before wedge enumeration — the classic
    degree-ordering trick that bounds any node's out-adjacency to
    O(sqrt(m)) on skewed graphs, so the wedge self-join on the shared
    middle vertex cannot explode on a billion-degree hub the way the
    naive id-ordered join does (the 'Canada' problem, same skew family
    as the multihop hub cap). Each triangle is then counted exactly once
    as a directed wedge u->v->w whose closing edge u->w exists:
    three equi-joins, no cross join, no iteration."""
    und = (
        edges.select(F.col("a").cast("string").alias("a"), F.col("b").cast("string").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        # three consumers (both degree-count sides + the orientation join):
        # cut the lineage once so the dedup runs once, not three times (r7)
        .localCheckpoint(eager=False)
    )
    both = und.select(F.col("a").alias("node")).unionByName(
        und.select(F.col("b").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    withdeg = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "deg_b"), "b")
    )
    lower_first = F.struct(F.col("deg_a"), F.col("a")) < F.struct(F.col("deg_b"), F.col("b"))
    # the oriented edge table feeds all three wedge-join branches: cut the
    # lineage once so the edge scan + degree joins run once, not three
    # times (under AQE this call already runs the degree joins' shuffles)
    o = withdeg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=False)
    e1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = o.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
