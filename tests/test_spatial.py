"""Spatial operator family: blocking recall, IoU math, WKB codec, dissolve."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from kgspark import geom, spatial


def _mk_units(spark, rects):
    rows = [(i, float(a), float(b), float(c), float(d)) for i, (a, b, c, d) in enumerate(rects)]
    df = spark.createDataFrame(
        rows, "unit_id bigint, xmin double, ymin double, xmax double, ymax double"
    )
    return df.select(
        "unit_id",
        spatial.bbox_struct(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")
        ).alias("bbox"),
    )


def _brute_pairs(rects, pred):
    out = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(rects), 2):
        if pred(a, b):
            out.add((i, j))
    return out


def _inter(a, b):
    iw = min(a[2], b[2]) - max(a[0], b[0])
    ih = min(a[3], b[3]) - max(a[1], b[1])
    return max(iw, 0.0) * max(ih, 0.0)


def _iou(a, b):
    i = _inter(a, b)
    area = lambda r: (r[2] - r[0]) * (r[3] - r[1])
    return i / (area(a) + area(b) - i)


def test_overlap_join_matches_brute_force(spark):
    """Blocking recall: the grid-blocked join must find EXACTLY the pairs a
    brute-force scan finds (candidate generation is lossless; reference-point
    dedup emits each pair once) — on random rectangles spanning multiple
    cells, including giants covering many cells."""
    rng = random.Random(7)
    rects = []
    for _ in range(120):
        x, y = rng.uniform(0, 200), rng.uniform(0, 200)
        w, h = rng.uniform(1, 30), rng.uniform(1, 30)
        rects.append((x, y, x + w, y + h))
    rects.append((0.0, 0.0, 190.0, 190.0))  # giant: covers nearly every cell
    units = _mk_units(spark, rects)

    got = {
        (r["a_id"], r["b_id"], r["iou_e6"])
        for r in spatial.spatial_overlap_join(
            units, units, cell_size=16.0, iou_threshold_e6=1
        )
        .where(F.col("a_id") < F.col("b_id"))
        .collect()
    }
    import math

    want = {
        (i, j, math.floor(1e6 * _iou(rects[i], rects[j])))
        for i, j in _brute_pairs(rects, lambda a, b: _iou(a, b) * 1e6 >= 1)
    }
    assert got == want and len(want) > 50


def test_reference_point_dedup_no_duplicates(spark):
    # two rects sharing MANY cells must emit their pair exactly once
    rects = [(0.0, 0.0, 100.0, 100.0), (1.0, 1.0, 99.0, 99.0)]
    units = _mk_units(spark, rects)
    pairs = spatial.spatial_overlap_join(
        units, units, cell_size=8.0, iou_threshold_e6=1
    ).where(F.col("a_id") < F.col("b_id"))
    assert pairs.count() == 1


def test_borders_touch_semantics(spark):
    rects = [
        (0.0, 0.0, 10.0, 10.0),
        (10.0, 0.0, 20.0, 10.0),  # shares an edge with 0
        (10.0, 10.0, 20.0, 20.0),  # corner-touches 0, edge-touches 1
        (30.0, 30.0, 40.0, 40.0),  # disjoint
        (2.0, 2.0, 8.0, 8.0),  # strictly inside 0: overlap, NOT border
    ]
    units = _mk_units(spark, rects)
    got = {(r["a_id"], r["b_id"]) for r in spatial.spatial_borders(units).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_dissolve_extent_and_area(spark):
    rects = [(0.0, 0.0, 10.0, 10.0), (10.0, 0.0, 20.0, 10.0), (50.0, 50.0, 60.0, 60.0)]
    units = _mk_units(spark, rects).withColumn(
        "grp", F.when(F.col("unit_id") < 2, "a").otherwise("b")
    )
    rows = {r["grp"]: r for r in spatial.dissolve(units, "grp").collect()}
    assert rows["a"]["n_parts"] == 2
    assert rows["a"]["extent"].asDict() == {"xmin": 0.0, "ymin": 0.0, "xmax": 20.0, "ymax": 10.0}
    assert rows["a"]["area_sum"] == 200.0
    assert rows["b"]["n_parts"] == 1 and rows["b"]["area_sum"] == 100.0


def test_wkb_roundtrip_and_shoelace(spark):
    rects = {1: (2.0, 3.0, 7.0, 11.0), 2: (-5.0, -5.0, 0.0, 0.0)}
    wkb = spark.createDataFrame(
        [
            (gid, bytearray(geom.encode_polygon_wkb([[(a, b), (c, b), (c, d), (a, d)]])))
            for gid, (a, b, c, d) in rects.items()
        ],
        "gid int, wkb binary",
    )
    parsed = spatial.with_wkb_geometry(wkb)
    rows = {r["gid"]: r for r in parsed.collect()}
    assert rows[1]["bbox"].asDict() == {"xmin": 2.0, "ymin": 3.0, "xmax": 7.0, "ymax": 11.0}
    assert rows[1]["ring_area"] == 5.0 * 8.0  # shoelace exact on the rectangle
    assert rows[2]["ring_area"] == 25.0


def test_wkb_non_rectangular_ring_area(spark):
    # right triangle (0,0) (4,0) (0,3): shoelace area 6
    import struct as st

    ring = [(0.0, 0.0), (4.0, 0.0), (0.0, 3.0), (0.0, 0.0)]
    buf = st.pack("<BII", 1, 3, 1) + st.pack("<I", len(ring))
    for x, y in ring:
        buf += st.pack("<dd", x, y)
    df = spark.createDataFrame([(1, bytearray(buf))], "gid int, wkb binary")
    row = spatial.with_wkb_geometry(df).collect()[0]
    assert row["ring_area"] == 6.0
    assert row["bbox"].asDict() == {"xmin": 0.0, "ymin": 0.0, "xmax": 4.0, "ymax": 3.0}


def _rot_rect(cx, cy, w, h, theta):
    import math

    c, s = math.cos(theta), math.sin(theta)
    pts = []
    for dx, dy in [(-w / 2, -h / 2), (w / 2, -h / 2), (w / 2, h / 2), (-w / 2, h / 2)]:
        pts.append((cx + c * dx - s * dy, cy + s * dx + c * dy))
    return pts


def test_convex_clip_analytic():
    """Sutherland–Hodgman vs closed-form areas (no Spark needed)."""
    import math

    import numpy as np

    sq = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], float)
    assert geom.polygon_intersection_area(sq, sq) == 4.0
    s2 = math.sqrt(2)
    diamond = np.array([[1 + s2, 1], [1, 1 + s2], [1 - s2, 1], [1, 1 - s2]])
    got = geom.polygon_intersection_area(sq, diamond)
    assert abs(got - (8 * s2 - 8)) < 1e-9
    # orientation-insensitive; disjoint is zero
    assert abs(geom.polygon_intersection_area(sq[::-1], diamond[::-1]) - got) < 1e-12
    assert geom.polygon_intersection_area(sq, sq + 10.0) == 0.0


def test_overlap_join_wkb_rotated_rings(spark):
    """Exact intersection on NON-axis-aligned convex rings: the WKB overlap
    join must reproduce a brute-force numpy clip over all pairs — and the
    rotated-rectangle areas must match the shoelace parity (verdict item:
    bbox-IoU fallback retired for convex rings)."""
    import math

    import numpy as np

    rng = random.Random(11)
    left_rings, right_rings = [], []
    for i in range(40):
        cx, cy = rng.uniform(0, 120), rng.uniform(0, 120)
        left_rings.append(_rot_rect(cx, cy, rng.uniform(4, 20), rng.uniform(4, 20), rng.uniform(0, math.pi)))
        cx, cy = rng.uniform(0, 120), rng.uniform(0, 120)
        right_rings.append(_rot_rect(cx, cy, rng.uniform(4, 20), rng.uniform(4, 20), rng.uniform(0, math.pi)))

    mk = lambda rings: spark.createDataFrame(
        [(i, bytearray(geom.encode_polygon_wkb([r]))) for i, r in enumerate(rings)],
        "unit_id bigint, wkb binary",
    )
    got = {
        (r["a_id"], r["b_id"]): (r["iou_e6"], r["a_cover_e6"])
        for r in spatial.spatial_overlap_join_wkb(
            mk(left_rings), mk(right_rings), iou_threshold_e6=10000
        ).collect()
    }

    want = {}
    for i, ra in enumerate(left_rings):
        pa = np.array(ra)
        area_a = abs(geom._signed_area2(pa)) / 2
        for j, rb in enumerate(right_rings):
            pb = np.array(rb)
            area_b = abs(geom._signed_area2(pb)) / 2
            inter = geom.polygon_intersection_area(pa, pb)
            union = area_a + area_b - inter
            iou_e6 = int(math.floor(1e6 * inter / union)) if union > 0 else 0
            if iou_e6 >= 10000:
                want[(i, j)] = (iou_e6, int(math.floor(1e6 * inter / area_a)))
    assert got == want
    assert len(want) > 0  # fixture exercises the path
