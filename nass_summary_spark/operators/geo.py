"""Geometry stage for the CMZ pipeline: polygon area, convex
clipping, and a grid-partitioned spatial join — all Spark-first.

The reference's ``nass_cmz.sql:1-16`` builds ``cmz_cnty`` with
PostGIS (``st_intersects`` join, ``st_intersection`` overlay,
``st_area`` fraction). Spark has no native geometry type, but the
shapes needed here — area and area-of-intersection with a convex
zone polygon — are expressible as PURE Catalyst higher-order
functions over ``array<struct<x:double,y:double>>`` vertex arrays:

- ``poly_area``: shoelace formula via ``zip_with`` + ``aggregate``
  (one pass over the vertex array, whole-stage codegen, no UDF);
- ``clip_convex``: Sutherland–Hodgman clipping as an ``aggregate``
  over the clip polygon's edges whose accumulator IS the partially
  clipped vertex array; each edge step is a ``zip_with`` over
  subject edges emitting 0–2 points (inside/cross tests + the
  closed-form segment×line intersection). Still zero Python.
- ``grid_spatial_join``: the distributed ``st_intersects`` join.
  Each bounding box explodes into the fixed-size grid cells it
  covers; candidates meet on an integer (cell_x, cell_y) hash join;
  a pair that overlaps several cells is kept exactly once via the
  REFERENCE-POINT rule (only the cell containing the top-left
  corner of the bbox intersection reports it) — so no distinct
  pass, shuffle keys are two ints, and the join parallelizes over
  cells regardless of polygon-table size. This is the same
  decomposition used by distributed spatial engines (and by
  ``operators/range_join.py`` for 1-D intervals).

Semantics + restrictions (documented, asserted in tests):
- polygons are simple (non-self-intersecting) vertex rings without
  a repeated closing point; ``clip_convex`` requires the CLIP ring
  to be convex and counter-clockwise (``ensure_ccw`` helps) — the
  subject ring may be non-convex (Sutherland–Hodgman then may emit
  zero-width bridge edges, which contribute nothing to the area);
  ``intersection_area_general`` lifts the convex-clip-ring
  restriction by ear-clip decomposition (any simple clip ring,
  either winding; no repeated or collinear-consecutive vertices);
- "intersects" is interior-overlap (``intersection area > 0``):
  boundary-touching polygons count as disjoint, which matches the
  reference's downstream ``fraction > 0`` filter
  (``nass_cmz.sql:16``);
- with integer vertex coordinates (as the CMZ county/zone grids
  use) every arithmetic step here is exact in IEEE double up to
  ~2^17-sized coordinates, so areas are exactly reproducible
  cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nass_summary_spark.functions.lits import bigint_sql, string_sql

# ---------------------------------------------------------------------------
# vertex-array helpers (pure Column expressions)
# ---------------------------------------------------------------------------


def point(x: Column, y: Column) -> Column:
    return F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))


def _rotl(ring: Column) -> Column:
    """Rotate a vertex array left by one: [v1..vn] -> [v2..vn, v1]."""
    n = F.size(ring)
    return F.concat(
        F.slice(ring, F.lit(2), F.greatest(n - F.lit(1), F.lit(0))),
        F.slice(ring, F.lit(1), F.least(n, F.lit(1))),
    )


def poly_signed_area2(ring: Column) -> Column:
    """Twice the signed shoelace area (positive = counter-clockwise)."""
    cross = F.zip_with(
        ring, _rotl(ring), lambda a, b: a["x"] * b["y"] - b["x"] * a["y"]
    )
    return F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v)


def poly_area(ring: Column) -> Column:
    """Absolute polygon area (shoelace / 2); 0 for degenerate rings."""
    return F.abs(poly_signed_area2(ring)) / F.lit(2.0)


def ensure_ccw(ring: Column) -> Column:
    """Reverse the ring if it winds clockwise."""
    return F.when(poly_signed_area2(ring) < 0, F.reverse(ring)).otherwise(ring)


def poly_bbox(ring: Column) -> Column:
    xs = F.transform(ring, lambda p: p["x"])
    ys = F.transform(ring, lambda p: p["y"])
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


def rect_ring(x0: Column, y0: Column, x1: Column, y1: Column) -> Column:
    """Counter-clockwise rectangle ring [x0,x1]×[y0,y1]."""
    return F.array(
        point(x0, y0), point(x1, y0), point(x1, y1), point(x0, y1)
    )


# ---------------------------------------------------------------------------
# Sutherland–Hodgman convex clip as one aggregate expression
# ---------------------------------------------------------------------------


def clip_convex(subject: Column, clip: Column) -> Column:
    """Vertex ring of ``subject ∩ clip`` (clip convex + CCW).

    Folds the clip edges over the subject ring: the ``aggregate``
    accumulator is the partially-clipped vertex array, and each step
    re-walks its edges with ``zip_with``, emitting per edge the 0–2
    output points of the classic Sutherland–Hodgman case table. An
    empty intermediate ring short-circuits naturally (zip_with over
    an empty array is empty). Fully JVM-side; no UDF.
    """
    edges = F.zip_with(
        clip, _rotl(clip), lambda a, b: F.struct(a.alias("a"), b.alias("b"))
    )

    def one_edge(acc: Column, e: Column) -> Column:
        a, b = e["a"], e["b"]

        def inside(p: Column) -> Column:
            # left-of (or on) the directed clip edge a->b (CCW ⇒ inside)
            return (b["x"] - a["x"]) * (p["y"] - a["y"]) - (
                b["y"] - a["y"]
            ) * (p["x"] - a["x"]) >= 0

        def isect(s: Column, t: Column) -> Column:
            # segment s-t × infinite line a-b (only evaluated when the
            # segment genuinely crosses the line, so the determinant
            # cannot be 0 there)
            d = (s["x"] - t["x"]) * (a["y"] - b["y"]) - (s["y"] - t["y"]) * (
                a["x"] - b["x"]
            )
            n1 = s["x"] * t["y"] - s["y"] * t["x"]
            n2 = a["x"] * b["y"] - a["y"] * b["x"]
            return F.struct(
                ((n1 * (a["x"] - b["x"]) - (s["x"] - t["x"]) * n2) / d).alias("x"),
                ((n1 * (a["y"] - b["y"]) - (s["y"] - t["y"]) * n2) / d).alias("y"),
            )

        empty = F.slice(acc, F.lit(1), F.lit(0))  # typed empty array
        segs = F.zip_with(
            acc,
            _rotl(acc),
            lambda s, t: F.when(
                inside(t),
                F.when(inside(s), F.array(t)).otherwise(F.array(isect(s, t), t)),
            ).otherwise(
                F.when(inside(s), F.array(isect(s, t))).otherwise(empty)
            ),
        )
        return F.flatten(segs)

    return F.aggregate(edges, subject, one_edge)


def intersection_area(subject: Column, clip: Column) -> Column:
    """Area of ``subject ∩ clip`` (clip convex + CCW) — pure-HOF
    reference implementation. NOTE: Spark evaluates higher-order
    functions interpreted (no whole-stage codegen), which measures
    ~0.5 ms per pair — fine for dimension-sized overlays, wrong for
    100k+ candidate pairs. Hot paths use
    ``intersection_area_arrow`` (identical results, ~100× faster);
    tests pin the two implementations equal."""
    return poly_area(clip_convex(subject, clip))


def _sh_isect(s, t, a, b):
    # MUST mirror clip_convex's isect() expression op-for-op so both
    # implementations produce bit-identical IEEE results
    d = (s[0] - t[0]) * (a[1] - b[1]) - (s[1] - t[1]) * (a[0] - b[0])
    n1 = s[0] * t[1] - s[1] * t[0]
    n2 = a[0] * b[1] - a[1] * b[0]
    return (
        (n1 * (a[0] - b[0]) - (s[0] - t[0]) * n2) / d,
        (n1 * (a[1] - b[1]) - (s[1] - t[1]) * n2) / d,
    )


def _sh_clip_area(subject, clip) -> float:
    """Plain-Python Sutherland–Hodgman + shoelace (one pair)."""
    out = subject
    n = len(clip)
    for i in range(n):
        if not out:
            break
        a = clip[i]
        b = clip[(i + 1) % n]
        ex, ey = b[0] - a[0], b[1] - a[1]
        inp = out
        out = []
        m = len(inp)
        # pair order (v_i, v_{i+1}) mirrors clip_convex's
        # zip_with(acc, rotl(acc)): same output-ring rotation, hence
        # the same shoelace summation order ⇒ bit-identical area
        ins = [ex * (p[1] - a[1]) - ey * (p[0] - a[0]) >= 0 for p in inp]
        for i in range(m):
            s, t = inp[i], inp[(i + 1) % m]
            s_in, t_in = ins[i], ins[(i + 1) % m]
            if t_in:
                if not s_in:
                    out.append(_sh_isect(s, t, a, b))
                out.append(t)
            elif s_in:
                out.append(_sh_isect(s, t, a, b))
    acc = 0.0
    m = len(out)
    for i in range(m):
        x1, y1 = out[i]
        x2, y2 = out[(i + 1) % m]
        acc += x1 * y2 - x2 * y1
    return abs(acc) / 2.0


def _ring_xy(ring: Column) -> tuple[Column, Column]:
    """Split a struct ring into bare coordinate arrays JVM-side.

    Arrow converts ``array<double>`` cells to numpy views ~10×
    cheaper than ``array<struct>`` cells (which materialize a Python
    dict per vertex) — at millions of candidate rows the struct
    conversion, not the geometry math, dominated the UDF stage."""
    return (
        F.transform(ring, lambda p: p["x"]),
        F.transform(ring, lambda p: p["y"]),
    )


def intersection_area_arrow(subject: Column, clip: Column) -> Column:
    """Arrow-batched twin of ``intersection_area`` for the hot path.

    Same algorithm, same arithmetic expressions (so results are
    bit-identical — asserted in tests), but evaluated per Arrow
    batch in Python instead of per-element through Spark's
    interpreted HOF evaluator: ~10 µs/pair vs ~500 µs/pair, and it
    scales out with partitions like any projection. Rings cross the
    boundary as plain float arrays (see ``_ring_xy``).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _batch(sxs, sys_, cxs, cys):
        return pd.Series(
            [
                _sh_clip_area(
                    list(zip(sx.tolist(), sy.tolist())),
                    list(zip(cx.tolist(), cy.tolist())),
                )
                for sx, sy, cx, cy in zip(sxs, sys_, cxs, cys)
            ]
        )

    _batch.__annotations__ = {
        "sxs": pd.Series, "sys_": pd.Series, "cxs": pd.Series,
        "cys": pd.Series, "return": pd.Series,
    }
    udf = pandas_udf(_batch, "double")
    # The function is pure, but Catalyst clones deterministic UDF
    # expressions into every operator that references them (a filter
    # + a projection on the same column = TWO ArrowEvalPython nodes,
    # 2× the Python work — observed in PLANS.md). asNondeterministic
    # is used strictly as an evaluate-once barrier; results are
    # unchanged (same rows, bit-identical values).
    udf = udf.asNondeterministic()
    sx, sy = _ring_xy(subject)
    cx, cy = _ring_xy(clip)
    return udf(sx, sy, cx, cy)


# ---------------------------------------------------------------------------
# general (non-convex) clip via convex decomposition
# ---------------------------------------------------------------------------


def _signed_area2_py(pts) -> float:
    acc = 0.0
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        acc += x1 * y2 - x2 * y1
    return acc


def _ear_clip(pts) -> list[tuple[int, int, int]]:
    """Ear-clipping triangulation of a simple CCW ring (no repeated
    or collinear-consecutive vertices): returns index triples whose
    triangles PARTITION the interior — the decomposition that lifts
    the convex-clip-ring restriction (each ear is convex + CCW by
    construction, so the certified Sutherland–Hodgman piece areas
    sum to the exact subject∩ring area). O(n²) per DISTINCT ring,
    computed once per ring on the driver-side of each Arrow batch
    (zone rings are dimension-sized; the candidate rows reuse the
    cached triangulation)."""

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    idx = list(range(len(pts)))
    tris: list[tuple[int, int, int]] = []
    while len(idx) > 3:
        m = len(idx)
        for ii in range(m):
            i0, i1, i2 = idx[ii - 1], idx[ii], idx[(ii + 1) % m]
            a, b, c = pts[i0], pts[i1], pts[i2]
            if cross(a, b, c) <= 0:  # reflex or degenerate corner
                continue
            # ear iff no OTHER remaining vertex lies in (or on) abc
            if any(
                cross(a, b, pts[j]) >= 0
                and cross(b, c, pts[j]) >= 0
                and cross(c, a, pts[j]) >= 0
                for j in idx
                if j not in (i0, i1, i2)
            ):
                continue
            tris.append((i0, i1, i2))
            idx.pop(ii)
            break
        else:
            raise ValueError(
                "ear clipping failed: ring not simple, or has repeated/"
                "collinear-consecutive vertices"
            )
    tris.append((idx[0], idx[1], idx[2]))
    return tris


def intersection_area_general(subject: Column, clip: Column) -> Column:
    """Area of ``subject ∩ clip`` for an ARBITRARY simple clip ring —
    lifts ``clip_convex``'s convex-ring restriction (real county/zone
    polygons are concave) by convex decomposition: the clip ring is
    ear-clipped ONCE per distinct ring (cached by ring bytes inside
    each Arrow batch — candidate joins repeat the same dimension
    rings thousands of times) and the subject is clipped against
    each triangle with the same ``_sh_clip_area`` the convex path
    uses, summing the pieces. Arrow-batched like
    ``intersection_area_arrow``; for a CONVEX clip ring the result
    agrees with that path to FP summation (pytest pins both the
    closed-form rectilinear fixtures exactly-after-round and random
    star-shaped rings against the certified concave-SUBJECT path)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _batch(sxs, sys_, cxs, cys):
        cache: dict[bytes, tuple[list, list]] = {}
        out = []
        for sx, sy, cx, cy in zip(sxs, sys_, cxs, cys):
            key = cx.tobytes() + cy.tobytes()
            hit = cache.get(key)
            if hit is None:
                pts = list(zip(cx.tolist(), cy.tolist()))
                if _signed_area2_py(pts) < 0:
                    pts = pts[::-1]
                hit = (pts, _ear_clip(pts))
                cache[key] = hit
            pts, tris = hit
            subject = list(zip(sx.tolist(), sy.tolist()))
            out.append(
                sum(
                    _sh_clip_area(subject, [pts[a], pts[b], pts[c]])
                    for a, b, c in tris
                )
            )
        return pd.Series(out)

    _batch.__annotations__ = {
        "sxs": pd.Series, "sys_": pd.Series, "cxs": pd.Series,
        "cys": pd.Series, "return": pd.Series,
    }
    udf = pandas_udf(_batch, "double").asNondeterministic()
    sx, sy = _ring_xy(subject)
    cx, cy = _ring_xy(clip)
    return udf(sx, sy, cx, cy)


def point_in_poly(px: Column, py: Column, ring: Column) -> Column:
    """st_contains(ring, point) via the crossing-number (ray-cast)
    test, as one fold over the ring's edges — pure Catalyst.

    Counts edges whose y-span straddles the point's y and whose
    x-intercept at that y lies right of the point; odd count =
    inside. Works for any simple ring (either winding). Points
    exactly ON an edge get ray-casting's usual half-open behavior —
    callers wanting determinism keep points off integer edges (the
    registered query offsets points by 0.5 for exactly this).
    """
    edges = F.zip_with(
        ring, _rotl(ring), lambda a, b: F.struct(a.alias("a"), b.alias("b"))
    )
    hits = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e["a"]["y"] > py) != (e["b"]["y"] > py))
            & (
                px
                < e["a"]["x"]
                + (py - e["a"]["y"])
                * (e["b"]["x"] - e["a"]["x"])
                / (e["b"]["y"] - e["a"]["y"])
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return hits % 2 == 1


def point_in_poly_arrow(px: Column, py: Column, ring: Column) -> Column:
    """Arrow-batched twin of ``point_in_poly`` (same motivation as
    ``intersection_area_arrow``: Spark HOFs evaluate interpreted;
    per-batch Python is far cheaper at 100k+ candidate rows, and the
    ring crosses the boundary as bare float arrays — see
    ``_ring_xy``). Same expression order ⇒ identical booleans;
    evaluate-once barrier applied like the clip UDF."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _batch(pxs, pys, xss, yss):
        # candidate batches repeat the same few rings thousands of
        # times (every point in a polygon's cells carries that
        # polygon's ring): group by ring bytes and run the crossing
        # test VECTORIZED over each ring's points. Same expression
        # order per element as the scalar/HOF forms ⇒ identical
        # booleans (edges with ay == by fail the straddle test, so
        # their inf/nan intercepts never contribute).
        px = pxs.to_numpy()
        py = pys.to_numpy()
        out = np.zeros(len(px), dtype=bool)
        groups: dict[bytes, list[int]] = {}
        for i, (xs_i, ys_i) in enumerate(zip(xss, yss)):
            groups.setdefault(xs_i.tobytes() + ys_i.tobytes(), []).append(i)
        for idxs in groups.values():
            idx = np.asarray(idxs)
            xs_r = np.asarray(xss.iloc[idxs[0]], dtype=np.float64)
            ys_r = np.asarray(yss.iloc[idxs[0]], dtype=np.float64)
            x = px[idx]
            y = py[idx]
            hits = np.zeros(len(idx), dtype=np.int64)
            n = len(xs_r)
            for i in range(n):
                ax, ay = xs_r[i], ys_r[i]
                bx, by = xs_r[(i + 1) % n], ys_r[(i + 1) % n]
                straddle = (ay > y) != (by > y)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = ax + (y - ay) * (bx - ax) / (by - ay)
                hits += (straddle & (x < xint)).astype(np.int64)
            out[idx] = (hits % 2) == 1
        return pd.Series(out)

    _batch.__annotations__ = {
        "pxs": pd.Series, "pys": pd.Series, "xss": pd.Series,
        "yss": pd.Series, "return": pd.Series,
    }
    xs, ys = _ring_xy(ring)
    return pandas_udf(_batch, "boolean").asNondeterministic()(px, py, xs, ys)


def points_in_polygons(
    points: DataFrame,
    polys: DataFrame,
    cell_size: float,
    x_col: str = "x",
    y_col: str = "y",
    ring_col: str = "ring",
    arrow: bool = True,
) -> DataFrame:
    """Distributed st_contains join: each point hashes to exactly ONE
    grid cell (no dedup pass at all), each polygon's bbox explodes
    into its covered cells, candidates meet on the int cell id and
    the exact ray-cast test filters. Returns point cols + poly cols
    for every (point, containing polygon) pair.

    The polygon side is DIMENSION-sized (it is the broadcast side of
    the join). The default ``arrow=True`` path therefore collects
    the rings once to the driver — same bytes a broadcast would ship
    — and closes the UDF over pid → numpy ring; candidate rows then
    carry only (x, y, pid) scalars into Arrow and the ray-cast runs
    numpy-vectorized per polygon. Shipping the ring arrays per
    candidate row instead measured ~37 µs/row of pure Arrow
    list-cell deserialization — 10× the geometry math.
    ``arrow=False`` evaluates the pure-HOF predicate instead
    (semantic reference; no collect)."""
    cs = float(cell_size)
    p = points.withColumn(
        "__cx", F.floor(F.col(x_col) / cs).cast("long")
    ).withColumn("__cy", F.floor(F.col(y_col) / cs).cast("long"))
    # spread the probe side across the cluster BEFORE the (broadcast)
    # join: a broadcast join preserves probe partitioning, and a
    # point table read from a handful of parquet splits would run the
    # ray-cast stage almost single-threaded. The partition count is
    # EXPLICIT because the pre-join point rows are tiny (ids + 2
    # doubles) — AQE's coalescer would happily merge them back into
    # one partition, not knowing the join fans each row out ~10×
    # into ring-carrying candidates (a user-specified numPartitions
    # is exempt from AQE coalescing). Point rows are cheap to
    # shuffle; hashing by cell co-locates each cell's points.
    sc = points.sparkSession.sparkContext
    p = p.repartition(sc.defaultParallelism, F.col("__cx"), F.col("__cy"))
    b = poly_bbox(F.col(ring_col))
    z = polys.withColumn("__bbox", b).withColumn(
        "__cell",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(
                        F.floor(F.col("__bbox")["xmin"] / cs).cast("long"),
                        F.floor(F.col("__bbox")["xmax"] / cs).cast("long"),
                    ),
                    lambda ix: F.transform(
                        F.sequence(
                            F.floor(F.col("__bbox")["ymin"] / cs).cast("long"),
                            F.floor(F.col("__bbox")["ymax"] / cs).cast("long"),
                        ),
                        lambda iy: F.struct(ix.alias("cx"), iy.alias("cy")),
                    ),
                )
            )
        ),
    )
    z = z.withColumn("__zcx", F.col("__cell")["cx"]).withColumn(
        "__zcy", F.col("__cell")["cy"]
    ).drop("__cell")
    if not arrow:
        joined = p.join(
            F.broadcast(z),
            (F.col("__cx") == F.col("__zcx")) & (F.col("__cy") == F.col("__zcy")),
            "inner",
        )
        return joined.where(
            point_in_poly(F.col(x_col), F.col(y_col), F.col(ring_col))
        ).drop("__cx", "__cy", "__zcx", "__zcy", "__bbox")

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # one dimension-table collect (the rings a broadcast would ship
    # anyway), rebuilt with a deterministic pid for the join + the
    # UDF closure
    spark = points.sparkSession
    poly_rows = polys.collect()
    rings = {
        i: (
            np.array([v["x"] for v in r[ring_col]], dtype=np.float64),
            np.array([v["y"] for v in r[ring_col]], dtype=np.float64),
        )
        for i, r in enumerate(poly_rows)
    }
    polys_pid = spark.createDataFrame(
        [(i, *[r[c] for c in polys.columns]) for i, r in enumerate(poly_rows)],
        schema=polys.select(
            F.lit(0).cast("long").alias("__pid"), "*"
        ).schema,
    )
    b2 = poly_bbox(F.col(ring_col))
    z2 = polys_pid.withColumn("__bbox", b2).withColumn(
        "__cell",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(
                        F.floor(F.col("__bbox")["xmin"] / cs).cast("long"),
                        F.floor(F.col("__bbox")["xmax"] / cs).cast("long"),
                    ),
                    lambda ix: F.transform(
                        F.sequence(
                            F.floor(F.col("__bbox")["ymin"] / cs).cast("long"),
                            F.floor(F.col("__bbox")["ymax"] / cs).cast("long"),
                        ),
                        lambda iy: F.struct(ix.alias("cx"), iy.alias("cy")),
                    ),
                )
            )
        ),
    )
    z2 = (
        z2.withColumn("__zcx", F.col("__cell")["cx"])
        .withColumn("__zcy", F.col("__cell")["cy"])
        .drop("__cell")
    )

    def _batch(pxs, pys, pids):
        px = pxs.to_numpy()
        py = pys.to_numpy()
        pid = pids.to_numpy()
        out = np.zeros(len(px), dtype=bool)
        order = np.argsort(pid, kind="stable")
        bounds = np.searchsorted(pid[order], np.unique(pid))
        for s, pv in zip(bounds, np.unique(pid)):
            e = np.searchsorted(pid[order], pv, side="right")
            idx = order[s:e]
            xs_r, ys_r = rings[int(pv)]
            x, y = px[idx], py[idx]
            hits = np.zeros(len(idx), dtype=np.int64)
            n = len(xs_r)
            for i in range(n):
                ax, ay = xs_r[i], ys_r[i]
                bx, by = xs_r[(i + 1) % n], ys_r[(i + 1) % n]
                straddle = (ay > y) != (by > y)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = ax + (y - ay) * (bx - ax) / (by - ay)
                hits += (straddle & (x < xint)).astype(np.int64)
            out[idx] = (hits % 2) == 1
        return pd.Series(out)

    _batch.__annotations__ = {
        "pxs": pd.Series, "pys": pd.Series, "pids": pd.Series,
        "return": pd.Series,
    }
    pip_udf = pandas_udf(_batch, "boolean").asNondeterministic()

    # polys are the dimension side: broadcast them EXPLICITLY. Both
    # sides of this join can sit under the autoBroadcastJoinThreshold,
    # and if the engine picks the POINT side as the build relation the
    # probe (and with it the ray-cast stage) runs over the polygon
    # table's handful of partitions — observed as bimodal 4s/10s runs.
    joined = p.join(
        F.broadcast(z2),
        (F.col("__cx") == F.col("__zcx")) & (F.col("__cy") == F.col("__zcy")),
        "inner",
    )
    return joined.where(
        pip_udf(F.col(x_col), F.col(y_col), F.col("__pid"))
    ).drop("__cx", "__cy", "__zcx", "__zcy", "__bbox", "__pid")


# ---------------------------------------------------------------------------
# distributed st_intersects join (grid decomposition)
# ---------------------------------------------------------------------------


def grid_spatial_join(
    left: DataFrame,
    right: DataFrame,
    cell_size: float,
    left_ring: str = "ring",
    right_ring: str = "ring",
    broadcast_right: bool = False,
) -> DataFrame:
    """Candidate pairs whose bounding boxes overlap, via grid cells.

    Both sides explode their bbox into covered ``cell_size`` grid
    cells (map-side, bounded by bbox extent / cell_size); candidates
    meet on an integer (cx, cy) equi-join. The reference-point rule
    — only the cell containing (max(xmin), max(ymin)) of the two
    bboxes keeps the pair — makes each surviving pair unique WITHOUT
    a distinct shuffle. Downstream callers apply the exact geometry
    predicate (e.g. ``intersection_area > 0``).

    ``cell_size`` ≈ typical polygon extent: smaller cells replicate
    polygons into more cells; larger cells weaken pruning. Pick so a
    polygon covers O(1–10) cells. Worst case — a polygon spanning
    the whole extent — replicates that one polygon into every cell:
    results stay exact and dup-free (tested), cost degrades toward
    the naive join for that polygon only. At 100 TB with wildly
    mixed extents, route outliers (bbox > k cells) to a separate
    broadcast pass instead of lowering the grid resolution for
    everyone. Columns bbox/cx/cy are internal; output = left columns
    + right columns (caller disambiguates names beforehand).
    """
    cs = float(cell_size)

    def cells(df: DataFrame, ring_col: str, side: str) -> DataFrame:
        df = df.withColumn(f"__bbox_{side}", poly_bbox(F.col(ring_col)))
        b = F.col(f"__bbox_{side}")
        cell = F.explode(
            F.flatten(
                F.transform(
                    F.sequence(
                        F.floor(b["xmin"] / cs).cast("long"),
                        F.floor(b["xmax"] / cs).cast("long"),
                    ),
                    lambda ix: F.transform(
                        F.sequence(
                            F.floor(b["ymin"] / cs).cast("long"),
                            F.floor(b["ymax"] / cs).cast("long"),
                        ),
                        lambda iy: F.struct(ix.alias("cx"), iy.alias("cy")),
                    ),
                )
            )
        )
        df = df.withColumn("__cell", cell)
        return df.withColumn(f"__cx_{side}", F.col("__cell")["cx"]).withColumn(
            f"__cy_{side}", F.col("__cell")["cy"]
        ).drop("__cell")

    l = cells(left, left_ring, "l")
    r = cells(right, right_ring, "r")
    if broadcast_right:
        r = F.broadcast(r)
    lb, rb = F.col("__bbox_l"), F.col("__bbox_r")
    joined = l.join(
        r,
        (F.col("__cx_l") == F.col("__cx_r"))
        & (F.col("__cy_l") == F.col("__cy_r"))
        # bbox overlap residual (closed intervals: exact test is downstream)
        & (lb["xmin"] <= rb["xmax"]) & (rb["xmin"] <= lb["xmax"])
        & (lb["ymin"] <= rb["ymax"]) & (rb["ymin"] <= lb["ymax"])
        # reference point: report in exactly one shared cell
        & (F.col("__cx_l") == F.floor(F.greatest(lb["xmin"], rb["xmin"]) / cs).cast("long"))
        & (F.col("__cy_l") == F.floor(F.greatest(lb["ymin"], rb["ymin"]) / cs).cast("long")),
        "inner",
    )
    drop = ["__bbox_l", "__bbox_r", "__cx_l", "__cy_l", "__cx_r", "__cy_r"]
    return joined.drop(*drop)


def overlap_fraction_table(
    zones: DataFrame,
    counties: DataFrame,
    cell_size: float,
    zone_ring: str = "ring",
    county_ring: str = "ring",
    general: bool = False,
) -> DataFrame:
    """``cmz_fips_fraction`` from raw geometry (nass_cmz.sql:1-16).

    Grid spatial join → clip intersection area → fraction of each
    county covered by each zone, keeping fraction > 0. The fraction
    is emitted in exact integer micro-units
    (``(1e6 * overlap) DIV county_area``) instead of the reference's
    ``::decimal(6,2)`` so the value is bankers-rounding-proof across
    engines; callers wanting the reference's 2-dp form divide by 1e4
    and round. ``general=True`` routes the overlap through
    :func:`intersection_area_general` (ear-clip decomposition), so
    zone rings may be CONCAVE — true PostGIS-shaped zones; the
    overlap is rounded to 6 dp first (the piece sum carries ~1e-9 of
    FP summation noise the convex single-pass doesn't; 6 dp absorbs
    it while preserving genuinely fractional diagonal-edge overlaps).
    Output: zone cols + county cols + overlap_area + county_area +
    fraction_micro.
    """
    cand = grid_spatial_join(
        zones, counties, cell_size, zone_ring, county_ring
    )
    if general:
        overlap = F.round(
            intersection_area_general(
                F.col(county_ring), F.col(zone_ring)
            ),
            6,
        )
    else:
        overlap = intersection_area_arrow(
            F.col(county_ring), F.col(zone_ring)
        )
    out = cand.withColumn("overlap_area", overlap).withColumn(
        "county_area", poly_area(F.col(county_ring))
    )
    return (
        out.where(F.col("overlap_area") > 0)
        .withColumn(
            "fraction_micro",
            F.expr("CAST(1000000 * overlap_area AS BIGINT) DIV CAST(county_area AS BIGINT)"),
        )
    )


def nearest_ring_centroid(
    points: DataFrame,
    zones: DataFrame,
    ring_col: str = "zone_ring",
    key_col: str = "cmz",
    px_col: str = "x",
    py_col: str = "y",
    arrow: bool = True,
) -> DataFrame:
    """Nearest-zone assignment (SURVEY.md §2 F5): each point gets the
    zone whose VERTEX CENTROID is closest — the ``st_distance`` +
    ``ORDER BY .. LIMIT 1`` lateral-join shape, re-planned for Spark.

    Plan: zones are a dimension relation (thousands, not billions),
    so instead of a candidate join + per-point argmin — which would
    push |points| x |zones| rows through an exchange — the centroid
    table is collected driver-side (dim-sized, the same budget as
    the zone-ring LUT at geo.py ``points_in_polygons``) and folded
    per point with one ``F.aggregate`` over a LITERAL
    array<struct<cx2,cy2,key>>: a pure projection, zero shuffle,
    whole-stage codegen, embarrassingly parallel at any point-table
    scale. Only if the zone table outgrew broadcast would the
    grid-bucketed expanding-ring k-NN be the right plan.

    Exactness: centroids are computed in DOUBLED integer coordinates
    (``2*sum(x)/n`` stays integral for rectangle rings), distances
    compare as exact BIGINT ``(2px-2cx)^2 + (2py-2cy)^2``, ties break
    on the zone key — a SQL oracle reproduces the argmin bit-for-bit
    with no FP hazard.

    Output: all point columns + ``<key_col>`` (nearest zone) +
    ``dist2_x4`` (squared distance in quarter-units).

    Two physical twins (the intersection_area pattern): the default
    ``arrow=True`` evaluates the argmin as one vectorized numpy
    matrix sweep per Arrow batch (HOF lambdas run INTERPRETED in
    Catalyst — measured ~9s vs <2s at 150k points x 1000 zones);
    ``arrow=False`` keeps the pure-Column ``F.aggregate`` fold as
    the dependency-free reference. Tests pin the two identical.
    """
    ring = F.col(ring_col)
    n = F.size(ring)
    cx2 = F.aggregate(
        ring, F.lit(0).cast("bigint"),
        lambda a, p: a + (p["x"] * 2).cast("bigint"),
    ) / n
    cy2 = F.aggregate(
        ring, F.lit(0).cast("bigint"),
        lambda a, p: a + (p["y"] * 2).cast("bigint"),
    ) / n
    cents = (
        zones.select(
            F.col(key_col).alias("k"),
            cx2.cast("bigint").alias("cx2"),
            cy2.cast("bigint").alias("cy2"),
        )
        .collect()
    )
    if not cents:
        raise ValueError("nearest_ring_centroid: empty zone relation")
    cents_sorted = sorted(
        [(str(r["k"]), int(r["cx2"]), int(r["cy2"])) for r in cents]
    )
    if arrow:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        keys = [k for k, _, _ in cents_sorted]
        cxa = np.array([cx for _, cx, _ in cents_sorted], dtype=np.int64)
        cya = np.array([cy for _, _, cy in cents_sorted], dtype=np.int64)

        def _argmin(xs, ys):
            px = (xs.to_numpy() * 2).astype(np.int64)[:, None]
            py = (ys.to_numpy() * 2).astype(np.int64)[:, None]
            d2m = (px - cxa[None, :]) ** 2 + (py - cya[None, :]) ** 2
            # argmin returns the FIRST index on ties; the centroid
            # arrays are key-sorted, so ties break to the smaller key
            idx = d2m.argmin(axis=1)
            return pd.DataFrame(
                {
                    "d2": d2m[np.arange(len(idx)), idx],
                    "k": [keys[i] for i in idx],
                }
            )

        # real-type annotations (the module uses string annotations;
        # pandas_udf needs resolvable hints — intersection_area_arrow
        # pattern)
        _argmin.__annotations__ = {
            "xs": pd.Series, "ys": pd.Series, "return": pd.DataFrame,
        }
        udf = pandas_udf(_argmin, "d2 bigint, k string")
        return points.withColumn(
            "__best", udf(F.col(px_col), F.col(py_col))
        ).select(
            *points.columns,
            F.col("__best.k").alias(key_col),
            F.col("__best.d2").alias("dist2_x4"),
        )

    # ONE parsed SQL literal for the whole LUT: building it from
    # per-element F.lit()/F.struct() costs ~75k py4j round-trips at
    # 1000 zones (measured 14s of pure driver time); a single
    # F.expr string is one round-trip and parses in milliseconds.
    lut = F.expr(
        "array(" + ",".join(
            f"named_struct('cx2',{bigint_sql(cx)},'cy2',{bigint_sql(cy)},"
            f"'k',{string_sql(k)})"
            for k, cx, cy in cents_sorted
        ) + ")"
    )
    px2 = (F.col(px_col) * 2).cast("bigint")
    py2 = (F.col(py_col) * 2).cast("bigint")

    def d2(z):
        return (px2 - z["cx2"]) * (px2 - z["cx2"]) + (py2 - z["cy2"]) * (
            py2 - z["cy2"]
        )

    # fold: carry (best_d2, best_key); strict < keeps the FIRST key
    # in array order on ties, and the LUT is pre-sorted by key
    best = F.aggregate(
        lut,
        F.struct(
            F.lit(None).cast("bigint").alias("d2"),
            F.lit(None).cast("string").alias("k"),
        ),
        lambda acc, z: F.when(
            acc["d2"].isNull() | (d2(z) < acc["d2"]),
            F.struct(d2(z).alias("d2"), z["k"].cast("string").alias("k")),
        ).otherwise(acc),
    )
    # materialize the fold ONCE, then flatten — keeps a single
    # aggregate() evaluation per row in the generated code
    return points.withColumn("__best", best).select(
        *points.columns,
        F.col("__best.k").alias(key_col),
        F.col("__best.d2").alias("dist2_x4"),
    )
