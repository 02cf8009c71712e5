"""Connected components, LSH blocking recall, consensus gates.

Covers the reference's hard cases (SURVEY.md §5.3): chains, cycles, the
Berlin->Kitchener change-preservation gate, OCR-variant merging, and
head-entity skew (one node connected to many).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kgspark import canonicalize as canon


def _labels(components):
    """{node: component} of a connected_components result, which must hold
    one row per node."""
    rows = components.collect()
    comp = {r["node"]: r["component"] for r in rows}
    assert len(comp) == len(rows), "a node came back more than once"
    return comp


def _cc(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node string")
    edf = spark.createDataFrame(edges, "a string, b string")
    return _labels(canon.connected_components(ndf, edf))


def test_cc_chain(spark):
    comp = _cc(spark, list("abcdef"), [("a", "b"), ("b", "c"), ("d", "e")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"


def test_cc_cycle_terminates(spark):
    comp = _cc(spark, list("abc"), [("a", "b"), ("b", "c"), ("c", "a")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"


def test_cc_long_chain_converges(spark):
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(11)]
    comp = _cc(spark, nodes, edges)
    assert set(comp.values()) == {"n00"}


def test_cc_very_long_chain_across_partitions(spark):
    """60-node path over the session's default partitions: plain
    min-label propagation would need 60 rounds; the union-find levels
    are bounded by the partition count, not the path length."""
    nodes = [f"n{i:02d}" for i in range(60)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(59)]
    comp = _cc(spark, nodes, edges)
    assert set(comp.values()) == {"n00"}


def test_cc_two_chains_and_isolated(spark):
    nodes = [f"a{i}" for i in range(20)] + [f"b{i}" for i in range(20)] + ["solo"]
    edges = [(f"a{i}", f"a{i+1}") for i in range(19)] + [
        (f"b{i}", f"b{i+1}") for i in range(19)
    ]
    comp = _cc(spark, nodes, edges)
    assert comp["a19"] == "a0" and comp["b19"] == "b0" and comp["solo"] == "solo"


def test_cc_star_skew(spark):
    """Head-entity star: hub connected to 200 spokes — one component."""
    nodes = ["hub"] + [f"s{i}" for i in range(200)]
    edges = [("hub", f"s{i}") for i in range(200)]
    comp = _cc(spark, nodes, edges)
    assert len(set(comp.values())) == 1


def test_cc_hub_across_partitions_one_row_per_node(spark):
    """A hub below all its spokes is its own local root in every partition
    its edges land in, so it makes no boundary edge; it still comes back
    exactly once."""
    nodes = ["hub"] + [f"s{i:03d}" for i in range(200)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node string")
    edf = spark.createDataFrame([("hub", s) for s in nodes[1:]], "a string, b string")
    out = canon.connected_components(ndf, edf.repartition(5))
    assert out.count() == ndf.distinct().count()
    assert {r["component"] for r in out.collect()} == {"hub"}


def test_cc_null_endpoints_ignored_null_node_kept(spark):
    """Edges with a null endpoint connect nothing; a null node comes back
    as its own component."""
    comp = _cc(spark, ["a", "b", "c", None], [("a", None), (None, "b"), ("b", "c"), (None, None)])
    assert comp == {"a": "a", "b": "b", "c": "b", None: None}


def test_cc_empty_edges_all_singletons(spark):
    comp = _cc(spark, ["x", "y", "z"], [])
    assert comp == {"x": "x", "y": "y", "z": "z"}


def test_cc_missing_endpoint_bridges(spark):
    """Endpoints absent from `nodes` still join their neighbours, and the
    label is the smallest id of the whole component, listed or not."""
    comp = _cc(spark, ["b", "c", "d"], [("a", "b"), ("a", "c")])
    assert comp == {"b": "a", "c": "a", "d": "d"}


def test_cc_preserves_node_type(spark):
    big = 10**12
    ndf = spark.createDataFrame([(big + i,) for i in range(4)], "node bigint")
    edf = spark.createDataFrame([(big + 3, big + 1)], "a bigint, b bigint")
    out = canon.connected_components(ndf, edf)
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]
    assert _labels(out) == {big: big, big + 1: big + 1, big + 2: big + 2, big + 3: big + 1}
    sout = canon.connected_components(
        ndf.select(F.col("node").cast("string").alias("node")), edf
    )
    assert [f.dataType.simpleString() for f in sout.schema] == ["string", "string"]
    assert _labels(sout)[str(big + 3)] == str(big + 1)


def _reference_components(nodes, edges):
    """Pure-Python union-find; the root of a set is its smallest member."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _random_graph(rng, ids, n_edges, path_len):
    edges = [tuple(rng.sample(ids, 2)) for _ in range(n_edges)]
    path = rng.sample(ids, path_len)
    return edges + list(zip(path, path[1:]))


def _job_count(spark, group, run):
    """run() under job group `group`; returns (its result, Spark jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_random_graphs_match_union_find(spark):
    """Edges spread over 7 (bigint), 3 (string) and 8 (bigint)
    partitions, so local union-find leaves a boundary graph for the next
    level (a path in random order crosses partitions many times). A
    300-id path over 8 partitions has a long boundary graph; the level
    count, and so the job count, stays bounded by the partition count."""
    import random

    rng = random.Random(20240607)
    ids = rng.sample(range(-(2**40), 2**40), 300)
    edges = _random_graph(rng, ids, 240, 40)
    ndf = spark.createDataFrame([(i,) for i in ids], "node bigint")
    edf = spark.createDataFrame(edges, "a bigint, b bigint").repartition(7)
    got = _labels(canon.connected_components(ndf, edf))
    assert got == _reference_components(ids, edges)

    names = sorted({"".join(rng.choices("aZé中_0", k=4)) for _ in range(60)})
    sedges = _random_graph(rng, names, 40, 12)
    ndf = spark.createDataFrame([(n,) for n in names], "node string")
    edf = spark.createDataFrame(sedges, "a string, b string").repartition(3)
    got = _labels(canon.connected_components(ndf, edf))
    assert got == _reference_components(names, sedges)

    ndf = spark.createDataFrame([(i,) for i in ids], "node bigint")
    path = rng.sample(ids, len(ids))
    pedges = list(zip(path, path[1:]))
    edf = spark.createDataFrame(pedges, "a bigint, b bigint").repartition(8)
    got, n_jobs = _job_count(
        spark, "test-cc-path-jobs", lambda: _labels(canon.connected_components(ndf, edf))
    )
    assert got == _reference_components(ids, pedges)
    assert n_jobs <= 15, n_jobs

    # AQE coalesces a small boundary into one partition, so the second
    # level is the last; with coalescing off the boundary keeps its
    # shuffle partitions and all floor(log2 8) + 1 = 4 levels run
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = _labels(canon.connected_components(ndf, edf))
    finally:
        spark.conf.set(key, old)
    assert got == _reference_components(ids, pedges)


def test_cc_single_partition_job_budget(spark):
    """A vocabulary-sized graph in one partition: local union-find settles
    it, no node crosses partitions so the merge is skipped, and the whole
    call — output included — stays within 9 Spark jobs."""
    nodes = [f"n{i:02d}" for i in range(70)]
    edges = [(nodes[6 * p + i], nodes[6 * p + i + 1]) for p in range(10) for i in range(5)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node string").coalesce(1)
    edf = spark.createDataFrame(edges, "a string, b string").coalesce(1)
    comp, n_jobs = _job_count(
        spark, "test-cc-job-budget", lambda: _labels(canon.connected_components(ndf, edf))
    )
    assert comp == _reference_components(nodes, edges)
    assert n_jobs <= 9, n_jobs


def test_lsh_blocking_recall_on_ocr_variants(spark):
    """Every OCR pair must survive LSH blocking (blocking-recall test,
    SURVEY.md §5.3 — analog of the reference bbox-prefilter assumption)."""
    pairs = [
        ("macdonald", "macdonaid"),
        ("ottawa", "ottavva"),
        ("winnipeg", "winipeg"),
        ("toronto", "torooto"),
        ("wilfrid laurier", "wilfrid lavrier"),
    ]
    surfaces = spark.createDataFrame(
        [(s,) for p in pairs for s in p], "norm_surface string"
    )
    cands = canon.candidate_pairs_lsh(surfaces)
    got = {(r["a"], r["b"]) for r in cands.collect()}
    for x, y in pairs:
        a, b = min(x, y), max(x, y)
        assert (a, b) in got, f"blocking lost pair {(a, b)}"
    # pairs come from one aggregate per band bucket, not a band-key
    # self-join (which builds the signature once per side)
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_consensus_gate_preserves_true_renames(spark):
    """Berlin->Kitchener analog: dissimilar names in one component must NOT
    be renamed; OCR variants MUST be."""
    occ = spark.createDataFrame(
        [("berlin", 5), ("kitchener", 9), ("ottawa", 50), ("ottavva", 2)],
        "norm_surface string, n_occurrences int",
    )
    comps = spark.createDataFrame(
        [("berlin", "berlin"), ("kitchener", "berlin"),
         ("ottawa", "ottava_c"), ("ottavva", "ottava_c")],
        "node string, component string",
    )
    cmap = {r["norm_surface"]: r for r in canon.consensus_canonical(occ, comps).collect()}
    assert not cmap["berlin"]["should_apply"]
    assert cmap["berlin"]["reason"] == "name_change"
    assert cmap["ottavva"]["should_apply"]
    assert cmap["ottavva"]["canonical_surface"] == "ottawa"
    assert cmap["ottavva"]["reason"] == "ocr_variants"


def test_same_as_edges_via_entity(spark):
    surfaces = spark.createDataFrame(
        [("ottawa",), ("bytown",), ("zzz",)], "norm_surface string"
    )
    s2e = spark.createDataFrame(
        [("ottawa", "Q2"), ("bytown", "Q2")], "norm_surface string, entity_id string"
    )
    edges = canon.same_as_edges(surfaces, s2e)
    got = {(r["a"], r["b"]) for r in edges.collect()}
    assert ("bytown", "ottawa") in got


def test_resolve_unlinked_majority_then_smallest_id(spark):
    """An unlinked surface takes its component's majority entity, a count
    tie going to the smallest id; linked surfaces keep their own link and
    a component with no link resolves nothing."""
    comps = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
         ("h", "h"), ("i", "h"), ("j", "h"), ("k", "h"), ("g", "g")],
        "node string, component string",
    )
    s2e = spark.createDataFrame(
        [("a", "Q9"), ("b", "Q3"), ("h", "Q8"), ("i", "Q8"), ("j", "Q1")],
        "norm_surface string, entity_id string",
    )
    got = canon.resolve_unlinked_surfaces(comps, s2e)
    assert got.columns == ["norm_surface", "entity_id"]
    assert sorted(map(tuple, got.collect())) == [
        ("a", "Q9"), ("b", "Q3"), ("c", "Q3"), ("d", "Q3"),
        ("h", "Q8"), ("i", "Q8"), ("j", "Q1"), ("k", "Q8"),
    ]
