"""Geometry stage (operators/geo.py): shoelace area, Sutherland–
Hodgman convex clipping, grid spatial join — the nass_cmz.sql:1-16
PostGIS twin. Everything is pure Catalyst HOFs; these tests pin the
numeric semantics on hand-computed polygons and prove the grid join
is lossless/dup-free against a closed-form naive join."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from nass_summary_spark.operators import geo

RING_T = "array<struct<x:double,y:double>>"


def _ring(pts):
    return [{"x": float(x), "y": float(y)} for x, y in pts]


def _df(spark, polys):
    return spark.createDataFrame(
        [(i, _ring(p)) for i, p in enumerate(polys)],
        f"id int, ring {RING_T}",
    )


def _areas(spark, polys, expr):
    df = _df(spark, polys)
    return [r.v for r in df.select(expr.alias("v")).orderBy("id").collect()]


SQUARE4 = [(0, 0), (4, 0), (4, 4), (0, 4)]
TRI = [(0, 0), (6, 0), (0, 6)]
LSHAPE = [(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)]


class TestArea:
    def test_hand_computed(self, spark):
        polys = [SQUARE4, TRI, LSHAPE, list(reversed(SQUARE4))]
        got = _areas(spark, polys, geo.poly_area(F.col("ring")))
        assert got == [16.0, 18.0, 12.0, 16.0]  # |.| makes CW == CCW

    def test_signed_orientation(self, spark):
        polys = [SQUARE4, list(reversed(SQUARE4))]
        got = _areas(spark, polys, geo.poly_signed_area2(F.col("ring")))
        assert got == [32.0, -32.0]

    def test_ensure_ccw_fixes_cw(self, spark):
        polys = [list(reversed(SQUARE4))]
        got = _areas(
            spark, polys, geo.poly_signed_area2(geo.ensure_ccw(F.col("ring")))
        )
        assert got == [32.0]

    def test_degenerate(self, spark):
        # < 3 distinct points enclose nothing
        polys = [[(1, 1)], [(0, 0), (5, 5)], [(0, 0), (3, 3), (6, 6)]]
        got = _areas(spark, polys, geo.poly_area(F.col("ring")))
        assert got == [0.0, 0.0, 0.0]


class TestClip:
    def _clip_area(self, spark, subject, clip):
        df = spark.createDataFrame(
            [(_ring(subject), _ring(clip))], f"s {RING_T}, c {RING_T}"
        )
        return df.select(
            geo.intersection_area(F.col("s"), F.col("c")).alias("v")
        ).collect()[0].v

    def test_square_square(self, spark):
        assert self._clip_area(
            spark, SQUARE4, [(1, 1), (3, 1), (3, 3), (1, 3)]
        ) == 4.0

    def test_triangle_square(self, spark):
        # hypotenuse x+y=6 cuts the clip square [2,5]^2 at (2,4),(4,2):
        # kept region = triangle (2,2),(4,2),(2,4) -> area 2
        assert self._clip_area(
            spark, TRI, [(2, 2), (5, 2), (5, 5), (2, 5)]
        ) == 2.0

    def test_nonconvex_subject(self, spark):
        # L-shape ∩ [1,3]^2 = [1,3]x[1,2] ∪ [1,2]x[2,3] -> 2 + 1
        assert self._clip_area(
            spark, LSHAPE, [(1, 1), (3, 1), (3, 3), (1, 3)]
        ) == 3.0

    def test_disjoint_and_touching(self, spark):
        # boundary touch counts as area 0 (matches the downstream
        # fraction > 0 filter, nass_cmz.sql:16)
        assert self._clip_area(spark, SQUARE4, [(9, 9), (12, 9), (12, 12), (9, 12)]) == 0.0
        assert self._clip_area(spark, SQUARE4, [(4, 0), (8, 0), (8, 4), (4, 4)]) == 0.0

    def test_containment_both_ways(self, spark):
        inner = [(1, 1), (2, 1), (2, 2), (1, 2)]
        assert self._clip_area(spark, inner, SQUARE4) == 1.0
        assert self._clip_area(spark, SQUARE4, inner) == 1.0

    def test_convex_general_angles(self, spark):
        # pentagon clipped by a rotated square (diamond) — verified
        # against an independently hand-derived shoelace value
        diamond = [(3, 0), (6, 3), (3, 6), (0, 3)]
        # subject = big square [0,6]^2; intersection IS the diamond
        assert self._clip_area(spark, [(0, 0), (6, 0), (6, 6), (0, 6)], diamond) == 18.0

    def test_convex_pair_symmetry_and_bounds(self, spark):
        # for two CONVEX rings, intersection area must be symmetric
        # in the arguments (either may clip) and bounded by both
        # areas — an invariant the closed-form rectangle tests can't
        # cover for rotated shapes
        rng = random.Random(41)
        rows = []
        for i in range(120):
            def convex(cx, cy):
                nv = rng.randint(3, 7)
                r = rng.uniform(3, 12)
                angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(nv))
                return [
                    (cx + r * math.cos(a), cy + r * math.sin(a)) for a in angs
                ]
            rows.append(
                (
                    i,
                    _ring(convex(rng.uniform(0, 30), rng.uniform(0, 30))),
                    _ring(convex(rng.uniform(0, 30), rng.uniform(0, 30))),
                )
            )
        df = spark.createDataFrame(rows, f"id int, a {RING_T}, b {RING_T}")
        out = df.select(
            geo.poly_area(F.col("a")).alias("aa"),
            geo.poly_area(F.col("b")).alias("ab"),
            geo.intersection_area(F.col("a"), geo.ensure_ccw(F.col("b"))).alias("iab"),
            geo.intersection_area(F.col("b"), geo.ensure_ccw(F.col("a"))).alias("iba"),
        ).collect()
        for r in out:
            assert abs(r.iab - r.iba) < 1e-6, (r.iab, r.iba)
            assert r.iab <= min(r.aa, r.ab) + 1e-6

    def test_random_rect_pairs_match_closed_form(self, spark):
        rng = random.Random(11)
        rows = []
        for i in range(200):
            ax0, ay0 = rng.randint(0, 60), rng.randint(0, 60)
            aw, ah = rng.randint(1, 30), rng.randint(1, 30)
            bx0, by0 = rng.randint(0, 60), rng.randint(0, 60)
            bw, bh = rng.randint(1, 30), rng.randint(1, 30)
            exp = max(0, min(ax0 + aw, bx0 + bw) - max(ax0, bx0)) * max(
                0, min(ay0 + ah, by0 + bh) - max(ay0, by0)
            )
            rows.append(
                (
                    i,
                    _ring([(ax0, ay0), (ax0 + aw, ay0), (ax0 + aw, ay0 + ah), (ax0, ay0 + ah)]),
                    _ring([(bx0, by0), (bx0 + bw, by0), (bx0 + bw, by0 + bh), (bx0, by0 + bh)]),
                    float(exp),
                )
            )
        df = spark.createDataFrame(
            rows, f"id int, a {RING_T}, b {RING_T}, exp double"
        )
        bad = df.where(
            geo.intersection_area(F.col("a"), F.col("b")) != F.col("exp")
        ).count()
        assert bad == 0

    def test_arrow_twin_bit_identical(self, spark):
        # the Arrow hot path must reproduce the pure-HOF reference
        # EXACTLY (same IEEE expressions) — including on non-convex
        # subjects and general (non-axis-aligned) convex clips where
        # intersection points involve real divisions
        rng = random.Random(23)
        rows = []
        for i in range(150):
            # random simple star-shaped subject around a center
            cx, cy = rng.uniform(0, 50), rng.uniform(0, 50)
            nv = rng.randint(3, 9)
            pts = []
            for k in range(nv):
                ang = 2 * math.pi * (k + rng.uniform(0, 0.7)) / nv
                r = rng.uniform(2, 15)
                pts.append((cx + r * math.cos(ang), cy + r * math.sin(ang)))
            # random convex clip: rotated rectangle
            qx, qy = rng.uniform(0, 50), rng.uniform(0, 50)
            th = rng.uniform(0, math.pi)
            w, h = rng.uniform(3, 20), rng.uniform(3, 20)
            ct, st = math.cos(th), math.sin(th)
            clip = [
                (qx, qy),
                (qx + w * ct, qy + w * st),
                (qx + w * ct - h * st, qy + w * st + h * ct),
                (qx - h * st, qy + h * ct),
            ]
            rows.append((i, _ring(pts), _ring(clip)))
        df = spark.createDataFrame(rows, f"id int, a {RING_T}, b {RING_T}")
        diff = df.select(
            geo.intersection_area(F.col("a"), F.col("b")).alias("hof"),
            geo.intersection_area_arrow(F.col("a"), F.col("b")).alias("arrow"),
        ).where(F.col("hof") != F.col("arrow"))
        assert diff.count() == 0


class TestGridJoin:
    def test_matches_naive_and_no_dups(self, spark):
        rng = random.Random(5)
        zones = [
            (i, rng.randint(0, 400), rng.randint(0, 400), rng.randint(10, 90), rng.randint(10, 90))
            for i in range(40)
        ]
        cnty = [
            (i, rng.randint(0, 450), rng.randint(0, 450), rng.randint(2, 30), rng.randint(2, 30))
            for i in range(150)
        ]

        def mk(rows, idc, ringc):
            df = spark.createDataFrame(rows, f"{idc} int, x0 int, y0 int, w int, h int")
            return df.select(
                idc,
                geo.rect_ring(
                    F.col("x0"), F.col("y0"), F.col("x0") + F.col("w"), F.col("y0") + F.col("h")
                ).alias(ringc),
            )

        z = mk(zones, "zid", "zr")
        c = mk(cnty, "cid", "cr")
        got = (
            geo.grid_spatial_join(z, c, 48.0, "zr", "cr")
            .withColumn("ov", geo.intersection_area(F.col("cr"), F.col("zr")))
            .where(F.col("ov") > 0)
        )
        got_pairs = {(r.zid, r.cid, r.ov) for r in got.select("zid", "cid", "ov").collect()}
        exp = set()
        for zi, zx, zy, zw, zh in zones:
            for ci, cx, cy, cw, ch in cnty:
                ow = min(zx + zw, cx + cw) - max(zx, cx)
                oh = min(zy + zh, cy + ch) - max(zy, cy)
                if ow > 0 and oh > 0:
                    exp.add((zi, ci, float(ow * oh)))
        assert got_pairs == exp
        # reference-point rule: candidate set itself has no dup pairs
        cand = geo.grid_spatial_join(z, c, 48.0, "zr", "cr")
        assert cand.count() == cand.select("zid", "cid").distinct().count()

    def test_world_spanning_polygon(self, spark):
        # a polygon covering the whole extent replicates into every
        # grid cell (the documented worst case for bbox-cell
        # decomposition) — results must stay exact and dup-free
        z = spark.createDataFrame(
            [
                (0, _ring([(0, 0), (500, 0), (500, 500), (0, 500)])),  # world
                (1, _ring([(10, 10), (20, 10), (20, 20), (10, 20)])),
            ],
            f"zid int, zr {RING_T}",
        )
        c = spark.createDataFrame(
            [(i, _ring([(i * 30 + 5, 15), (i * 30 + 15, 15), (i * 30 + 15, 25), (i * 30 + 5, 25)])) for i in range(15)],
            f"cid int, cr {RING_T}",
        )
        got = (
            geo.grid_spatial_join(z, c, 32.0, "zr", "cr")
            .withColumn("ov", geo.intersection_area(F.col("cr"), F.col("zr")))
            .where(F.col("ov") > 0)
            .select("zid", "cid")
        )
        rows = [(r.zid, r.cid) for r in got.collect()]
        assert len(rows) == len(set(rows))  # reference-point rule held
        # world zone overlaps every county; small zone only county 0
        assert {(0, i) for i in range(15)}.issubset(set(rows))
        assert (1, 0) in set(rows) and all(z != 1 or c == 0 for z, c in rows)

    def test_broadcast_right_plan(self, spark):
        z = spark.range(3).select(
            F.col("id").alias("zid"),
            geo.rect_ring(F.lit(0), F.lit(0), F.lit(10), F.lit(10)).alias("zr"),
        )
        c = spark.range(3).select(
            F.col("id").alias("cid"),
            geo.rect_ring(F.lit(5), F.lit(5), F.lit(15), F.lit(15)).alias("cr"),
        )
        plan = geo.grid_spatial_join(z, c, 8.0, "zr", "cr", broadcast_right=True)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestPointInPoly:
    def _pip(self, spark, pts, ring):
        df = spark.createDataFrame(
            [(float(x), float(y), _ring(ring)) for x, y in pts],
            f"x double, y double, r {RING_T}",
        )
        return [
            r.v
            for r in df.select(
                geo.point_in_poly(F.col("x"), F.col("y"), F.col("r")).alias("v")
            ).collect()
        ]

    def test_hand_cases(self, spark):
        # square, concave L-shape, triangle — inside / outside / notch
        assert self._pip(
            spark, [(2, 2), (5, 5), (-1, 2), (3.5, 3.5)], SQUARE4
        ) == [True, False, False, True]
        assert self._pip(
            spark, [(1, 1), (3, 3), (1, 3), (3.5, 0.5)], LSHAPE
        ) == [True, False, True, True]
        assert self._pip(spark, [(1, 1), (4, 4)], TRI) == [True, False]

    def test_winding_independent(self, spark):
        assert self._pip(spark, [(2, 2)], list(reversed(SQUARE4))) == [True]

    def test_join_matches_naive(self, spark):
        rng = random.Random(13)
        zones = [
            (i, rng.randint(0, 400), rng.randint(0, 400), rng.randint(20, 120), rng.randint(20, 120))
            for i in range(30)
        ]
        pts = [
            (i, rng.randint(0, 500) + 0.5, rng.randint(0, 500) + 0.5)
            for i in range(500)
        ]
        z = spark.createDataFrame(zones, "zid int, x0 int, y0 int, w int, h int").select(
            "zid",
            geo.rect_ring(
                F.col("x0"), F.col("y0"), F.col("x0") + F.col("w"), F.col("y0") + F.col("h")
            ).alias("ring"),
        )
        p = spark.createDataFrame(pts, "pid int, x double, y double")
        got = {
            (r.pid, r.zid)
            for r in geo.points_in_polygons(p, z, 64.0).select("pid", "zid").collect()
        }
        exp = {
            (pi, zi)
            for pi, px, py in pts
            for zi, zx, zy, zw, zh in zones
            if zx < px < zx + zw and zy < py < zy + zh
        }
        assert got == exp


class TestFractionTable:
    def test_fraction_semantics(self, spark):
        # zone covers exactly half of county 1, none of county 2
        z = spark.createDataFrame(
            [("z1", _ring([(0, 0), (10, 0), (10, 10), (0, 10)]))],
            f"cmz string, zone_ring {RING_T}",
        )
        c = spark.createDataFrame(
            [
                (1, _ring([(5, 0), (15, 0), (15, 10), (5, 10)])),
                (2, _ring([(50, 50), (60, 50), (60, 60), (50, 60)])),
            ],
            f"fips int, county_ring {RING_T}",
        )
        out = geo.overlap_fraction_table(
            z, c, 8.0, zone_ring="zone_ring", county_ring="county_ring"
        ).select("cmz", "fips", "overlap_area", "county_area", "fraction_micro")
        rows = {r.fips: r for r in out.collect()}
        assert set(rows) == {1}
        assert rows[1].overlap_area == 50.0
        assert rows[1].county_area == 100.0
        assert rows[1].fraction_micro == 500000


class TestGeneralClip:
    """intersection_area_general (F6): ear-clip decomposition lifts
    the convex-clip-ring restriction. Fixtures are exact closed
    forms; randomized checks cross-validate against the CERTIFIED
    concave-SUBJECT path (SH handles a concave subject against a
    convex clip, so area(star ∩ rect) is computable both ways)."""

    def _general(self, spark, pairs):
        df = spark.createDataFrame(
            [(i, _ring(s), _ring(c)) for i, (s, c) in enumerate(pairs)],
            f"id int, s {RING_T}, c {RING_T}",
        )
        return [
            r.v
            for r in df.select(
                geo.intersection_area_general(
                    F.col("s"), F.col("c")
                ).alias("v"),
                "id",
            ).orderBy("id").collect()
        ]

    def test_ear_clip_partitions_polygon(self):
        # triangulation areas must sum to the polygon area exactly
        for pts in (
            LSHAPE,
            [(0, 0), (8, 0), (8, 8), (4, 4), (0, 8)],  # arrowhead
            [(0, 0), (10, 0), (10, 2), (2, 2), (2, 8), (10, 8),
             (10, 10), (0, 10)],  # C-shape, two reflex corners
        ):
            total = abs(geo._signed_area2_py(pts)) / 2.0
            tris = geo._ear_clip(pts)
            assert len(tris) == len(pts) - 2
            got = sum(
                abs(geo._signed_area2_py([pts[a], pts[b], pts[c]])) / 2.0
                for a, b, c in tris
            )
            assert abs(got - total) < 1e-9, (pts, got, total)

    def test_concave_clip_closed_forms(self, spark):
        big = [(-10, -10), (20, -10), (20, 20), (-10, 20)]
        right_half = [(3, -10), (20, -10), (20, 20), (3, 20)]
        got = self._general(
            spark,
            [
                (big, LSHAPE),         # full containment: area(L)=12
                (right_half, LSHAPE),  # clip L to x>=3: only 1x2 strip
                (LSHAPE, LSHAPE),      # self-intersection = own area
                ([(50, 50), (60, 50), (60, 60), (50, 60)], LSHAPE),
            ],
        )
        assert abs(got[0] - 12.0) < 1e-9
        assert abs(got[1] - 2.0) < 1e-9
        assert abs(got[2] - 12.0) < 1e-9
        assert got[3] == 0.0

    def test_clip_winding_independent(self, spark):
        cw = list(reversed(LSHAPE))
        got = self._general(
            spark,
            [([(-1, -1), (5, -1), (5, 5), (-1, 5)], LSHAPE),
             ([(-1, -1), (5, -1), (5, 5), (-1, 5)], cw)],
        )
        assert abs(got[0] - 12.0) < 1e-9 and got[0] == got[1]

    def test_random_stars_match_certified_concave_subject_path(
        self, spark
    ):
        # area(star ∩ rect) two ways: (a) the NEW path — star as the
        # CLIP ring, ear-clipped into convex pieces; (b) the CERTIFIED
        # path — star as the SUBJECT against the convex rect clip
        # (Sutherland–Hodgman supports concave subjects). Agreement on
        # 200 random star polygons proves the decomposition correct
        # on arbitrary concave rings, not just rectilinear fixtures.
        def _is_simple(pts):
            def cr(o, a, b):
                return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (
                    b[0] - o[0]
                )

            n = len(pts)
            for i in range(n):
                for j in range(i + 1, n):
                    if j == i or (j + 1) % n == i or (i + 1) % n == j:
                        continue
                    p1, p2 = pts[i], pts[(i + 1) % n]
                    p3, p4 = pts[j], pts[(j + 1) % n]
                    if ((cr(p3, p4, p1) > 0) != (cr(p3, p4, p2) > 0)) and (
                        (cr(p1, p2, p3) > 0) != (cr(p1, p2, p4) > 0)
                    ):
                        return False
            return True

        rng = random.Random(77)
        pairs = []
        while len(pairs) < 200:
            cx, cy = rng.uniform(5, 25), rng.uniform(5, 25)
            nv = rng.randint(5, 12)
            angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(nv))
            # one radius PER VERTEX keeps each point on its ray; a
            # wrap-around angular gap > pi can still break simplicity,
            # so reject-and-resample on an explicit crossing check
            radii = [rng.uniform(2, 10) for _ in angs]
            star = [
                (cx + r * math.cos(a), cy + r * math.sin(a))
                for a, r in zip(angs, radii)
            ]
            if not _is_simple(star):
                continue
            x0, y0 = rng.uniform(0, 25), rng.uniform(0, 25)
            w, h = rng.uniform(4, 15), rng.uniform(4, 15)
            rect = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            pairs.append((rect, star))
        df = spark.createDataFrame(
            [(i, _ring(r), _ring(s)) for i, (r, s) in enumerate(pairs)],
            f"id int, rect {RING_T}, star {RING_T}",
        )
        out = df.select(
            geo.intersection_area_general(
                F.col("rect"), F.col("star")
            ).alias("general"),
            geo.intersection_area_arrow(
                F.col("star"), F.col("rect")
            ).alias("certified"),
            geo.poly_area(F.col("star")).alias("sa"),
            geo.poly_area(F.col("rect")).alias("ra"),
        ).collect()
        n_pos = 0
        for r in out:
            assert abs(r.general - r.certified) <= 1e-6 * max(
                1.0, r.certified
            ), (r.general, r.certified)
            assert r.general <= min(r.sa, r.ra) + 1e-6
            n_pos += r.general > 0
        assert n_pos > 50  # a meaningful share genuinely overlaps

    def test_ear_clip_raises_when_stuck_on_nonsimple_ring(self):
        # a self-intersecting ring on which the ear search genuinely
        # deadlocks (every remaining corner reflex or blocked) must
        # raise, not loop forever. (Small non-simple rings like a
        # 4-vertex bowtie can triangulate without getting stuck —
        # simplicity is the caller's documented contract; the raise
        # is the backstop.)
        bad = [
            (9.38, 25.43), (5.26, 27.10), (2.20, 28.65), (3.07, 18.10),
            (6.15, 13.26), (5.73, 13.40), (7.19, 13.16), (8.09, 18.04),
            (10.75, 16.49), (14.95, 19.67), (14.76, 18.81),
        ]
        assert geo._signed_area2_py(bad) > 0
        with pytest.raises(ValueError, match="ear clipping failed"):
            geo._ear_clip(bad)
