"""Scalable spatial join + kNN over lat/lon grid cells.

The reference evaluates ``st_intersects`` with a full table scan in
SpatiaLite (``pyroSAR/archive.py:1070`` — the R-tree index tables exist
but the query never uses them). At 10^12 rows that is not an option, so
the engine uses the classic two-stage distributed spatial join:

 1. **coarse**: cover each geometry's bbox with integer lat/lon grid
    cells (pure ``sequence``/``explode`` — JVM-side, no UDF) and
    equi-join on the cell id. This is the only shuffle, and it is on a
    high-cardinality key; hot cells can be salted (see
    :func:`cover_cells` ``salt`` note).
 2. **refine**: exact polygon-polygon intersect on the candidate pairs
    as JVM column expressions (:func:`rings_intersect_jvm`).

``select`` refines its one AOI with the same kernel, unless the AOI
is convex: then the separating-axis test of :func:`sat_refine`, which
needs no hull, decides.

Grid resolution trades replication (rows × cells/bbox) against
candidate precision; 1° matches SAR scene footprints (~2-4 cells).

kNN scene matching (SURVEY J10): candidate generation via a 3×3 cell
neighborhood ring join, haversine centroid distance, ``row_number``
top-k with deterministic tie-breaks.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pyrosar_spark import geom

CELL_DEG = 1.0


def _grid_index(v: Column, s: float, half: float) -> Column:
    """The clamped grid index of coordinate ``v`` at ``s``-degree cells:
    ``floor(v / s)`` clamped to ``[-half/s, half/s - 1]`` (``half`` 90
    for rows, 180 for columns), so lon 180 falls in the last column and
    lat 90 in the top row instead of a phantom cell past the edge. A
    NULL coordinate stays NULL (``least``/``greatest`` would skip it and
    turn it into an edge index)."""
    lo, hi = -int(round(half / s)), int(round(half / s)) - 1
    i = F.floor(v / s).cast("long")
    return F.when(i < lo, lo).when(i > hi, hi).otherwise(i)


def _cell_id(row: Column, col: Column, s: float) -> Column:
    """The one grid-cell id: row-major over the ``180/s`` x ``360/s``
    grid, ``(row + 90/s) * (360/s) + pmod(col + 180/s, 360/s)``. The
    ``pmod`` wraps kNN's unclamped neighbor columns across the date
    line and is the identity on clamped columns."""
    n_lon = int(round(360.0 / s))
    return (row + int(round(90 / s))) * n_lon + F.pmod(col + int(round(180 / s)), F.lit(n_lon))


def cover_cells(
    df: DataFrame,
    xmin="xmin",
    xmax="xmax",
    ymin="ymin",
    ymax="ymax",
    cell_deg: float = CELL_DEG,
    out: str = "cell",
) -> DataFrame:
    """Explode each row into the grid cells covering its bbox: the
    clamped row and column index ranges (:func:`_grid_index`) of the
    bbox, each cell named by :func:`_cell_id`. Every cell has exactly
    one id, also at lon ±180 and lat ±90. A NULL bbox coordinate covers
    no cell, so the row drops.

    JVM-only (``sequence`` + ``explode``). For extreme single-cell skew
    the join key can be salted afterwards:
    ``withColumn('salt', pmod(xxhash64('doc_id'), lit(n)))`` replicated
    on the smaller side.
    """
    s = float(cell_deg)
    lat_seq = F.sequence(_grid_index(F.col(ymin), s, 90), _grid_index(F.col(ymax), s, 90))
    lon_seq = F.sequence(_grid_index(F.col(xmin), s, 180), _grid_index(F.col(xmax), s, 180))
    return (
        df.withColumn("_la", F.explode(lat_seq))
        .withColumn("_lo", F.explode(lon_seq))
        .withColumn(out, _cell_id(F.col("_la"), F.col("_lo"), s))
        .drop("_la", "_lo")
    )


def spatial_join(scenes: DataFrame, aois: DataFrame) -> DataFrame:
    """Scene × AOI polygon-intersect join (J1 at many-AOI scale).

    ``scenes`` needs ``doc_id``, bbox cols + the flat ``ring`` column;
    ``aois`` needs ``aoi_id``, bbox cols (``a_xmin``...) and ``a_ring``.
    Returns the intersecting (``doc_id``, ``aoi_id``) pairs, each once,
    also for bboxes reaching lon ±180 or lat ±90. Both sides are
    covered by ``CELL_DEG`` grid cells (:func:`cover_cells`) and the AOI
    cover is broadcast: the AOI side is the small one. A scene with a
    NULL bbox coordinate covers no cell and joins nothing.

    The exact intersect is JVM column expressions
    (:func:`rings_intersect_jvm` — arbitrary simple polygons,
    touch-inclusive), so the refine runs no Python worker (round 5,
    BENCH/BASELINE.md).
    """
    if "a_ring" not in aois.columns:
        raise ValueError("aois must carry a_ring + a_xmin/a_xmax/a_ymin/a_ymax")
    a = cover_cells(aois, "a_xmin", "a_xmax", "a_ymin", "a_ymax", out="cell")
    s = cover_cells(scenes, out="cell")
    cand = s.join(F.broadcast(a), on="cell", how="inner")
    # report-once dedup (r6; the reference-point method of Dittrich &
    # Seeger, ICDE 2000): a bbox pair shares several cells, but exactly
    # ONE of them is the canonical common cell — the cell of (greatest
    # clamped row, greatest clamped column) of the two bboxes. Both
    # covers are the clamped index ranges of their bbox, and clamped
    # floor is monotone, so the greatest lower index lies inside both
    # ranges whenever any common cell exists; and every cell has exactly
    # one id, so the pair matches there exactly once. Keeping only that
    # cell's match yields one candidate row per pair MAP-SIDE, replacing
    # the dropDuplicates whose SortAggregate sorted every candidate row
    # (with its fat ring arrays) through a full Exchange.
    sd = CELL_DEG
    canon = _cell_id(
        F.greatest(_grid_index(F.col("ymin"), sd, 90), _grid_index(F.col("a_ymin"), sd, 90)),
        F.greatest(_grid_index(F.col("xmin"), sd, 180), _grid_index(F.col("a_xmin"), sd, 180)),
        sd,
    )
    cand = cand.where(F.col("cell") == canon).select(
        "doc_id", "ring", "aoi_id", "a_ring"
    )
    refined = cand.where(
        F.col("ring").isNotNull() & rings_intersect_jvm("ring", "a_ring")
    )
    return refined.drop("ring", "a_ring")


def aoi_frame(spark, aoi_wkts: list[tuple[str, str]]) -> DataFrame:
    """Build the AOI side from (aoi_id, wkt) pairs (driver-side tiny)."""
    rows = []
    for aoi_id, wkt in aoi_wkts:
        ring = geom.wkt_to_ring(wkt)
        rows.append(
            (
                aoi_id,
                float(ring[:, 0].min()),
                float(ring[:, 0].max()),
                float(ring[:, 1].min()),
                float(ring[:, 1].max()),
                [float(v) for v in ring.reshape(-1)],
            )
        )
    return spark.createDataFrame(
        rows,
        "aoi_id string, a_xmin double, a_xmax double, a_ymin double, a_ymax double, a_ring array<double>",
    )


# -- JVM convex-AOI refine ---------------------------------------------------
#
# Round-5 scaling finding (BENCH/BASELINE.md):
# an ArrowEvalPython stage runs a Python worker NEXT TO each JVM task
# thread, so its core demand is ~2x the parallelism level — the flagship's
# Python refine measured 0.40 in-box 4->16 efficiency on a host that
# delivers ~17 cores, vs ~0.87 for pure-JVM stages. For a CONVEX AOI the
# exact footprint-intersects test needs no hull and no Python: the scene
# footprint is the convex hull of its points, and two convex sets are
# disjoint iff a STRICT separating line exists through an edge of one of
# them (separating-axis theorem; see :func:`sat_refine`). Touch counts as
# intersecting, matching :func:`rings_intersect_jvm`.
#
# The unrolled geometry predicates below are rendered as SQL TEXT and
# handed to Catalyst as strings, not composed from Column objects.
# Composing them Column-by-Column costs a py4j round trip per node —
# measured 2.9 s of DRIVER time to build the ~520-node corners SAT (vs
# 88 ms to EXECUTE it over 81k rows), re-paid on every query
# construction. The SQL string renders in microseconds of Python and
# parses JVM-side in milliseconds.


def _fd(v: float) -> str:
    """Exact Spark-SQL double literal. The ``D`` suffix is load-bearing
    (a bare ``1.5`` parses as DECIMAL(2,1) and would poison the
    arithmetic to decimal), and so are the parens: an unparenthesized
    negative after a minus renders ``x--60.0D``, which SQL lexes as a
    line comment. Non-finite values have no SQL literal (``infD`` is a
    parse error deep in the JVM) — reject them here with a message that
    names the real problem."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"non-finite AOI coordinate {v!r} has no SQL literal")
    return f"({v!r}D)"


def _term(v) -> str:
    return _fd(v) if isinstance(v, (int, float)) else f"({v})"


def _orient_sql(ax, ay, bx, by, cx, cy) -> str:
    """SQL text of the orientation ``(b - a) x (c - a)`` (> 0: c left of
    a->b); args are floats (folded in Python) or SQL snippets. When both
    segment ends are constants the two differences fold to literals
    driver-side."""
    const_ab = isinstance(ax, (int, float)) and isinstance(bx, (int, float))
    bax = _fd(bx - ax) if const_ab else f"({_term(bx)}-{_term(ax)})"
    bay = _fd(by - ay) if const_ab else f"({_term(by)}-{_term(ay)})"
    return (f"({bax}*({_term(cy)}-{_term(ay)})"
            f" - {bay}*({_term(cx)}-{_term(ax)}))")


def aoi_ring_is_convex(ring: np.ndarray) -> bool:
    """Driver-side: is the (closed) AOI ring convex with nonzero area?
    (Degenerate line/point rings return False, so ``select`` refines
    them with :func:`rings_intersect_jvm` instead of :func:`sat_refine`.)"""
    r = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    if len(r) < 4:  # point / segment rings
        return False
    v = r[:-1]
    nxt = np.roll(v, -1, axis=0)
    nxt2 = np.roll(v, -2, axis=0)
    cross = (nxt[:, 0] - v[:, 0]) * (nxt2[:, 1] - v[:, 1]) - (
        (nxt[:, 1] - v[:, 1]) * (nxt2[:, 0] - v[:, 0])
    )
    if abs(geom.ring_area(r)) == 0.0:
        return False
    return bool((cross >= 0).all() or (cross <= 0).all())


# Point accessors for :func:`sat_refine`: (point count SQL, i -> (x, y)
# SQL, max points). They use 0-based ``get``, which is NULL past the end
# (``element_at`` raises under ANSI): the refine binds every point
# whatever the row's count.


def corner_points(col: str):
    """The catalog ``corners`` column (array<struct<lon,lat>>):
    canonically exactly 4 points; lower counts kept for robustness,
    higher ones dropped (the count is also Catalyst analysis cost, so no
    speculative headroom)."""
    q = f"`{col}`"
    return (f"size({q})",
            lambda i: (f"get({q}, {i}).lon", f"get({q}, {i}).lat"), 4)


def ring_points(col: str):
    """A closed flat-ring column (x0, y0, x1, y1, ...): canonically 2-5
    points including the closure (degenerate point/segment up to a quad
    hull + closure)."""
    q = f"`{col}`"
    return (f"cast(size({q})/2 as int)",
            lambda i: (f"get({q}, {2 * i})", f"get({q}, {2 * i + 1})"), 5)


def sat_refine(points, aoi_ring: np.ndarray) -> tuple[list[str], list[str]]:
    """Separating-axis intersects of the convex hull of a row's points
    (``points``: :func:`corner_points` / :func:`ring_points`) vs a
    constant convex AOI, as fully UNROLLED flat arithmetic (no
    higher-order functions: Spark HOF lambdas evaluate interpreted per
    element, which measured as slow as the Python kernel they were meant
    to replace).

    Two convex sets are disjoint iff a STRICT separating line exists
    through an edge of one of them. Candidate axes for k points:
     - each AOI edge (constants; CCW ⇒ interior left): separated iff
       every scene point is STRICTLY right (orient < 0);
     - each scene point-pair line (hull edges are a subset of pairs):
       separated iff the remaining scene points are all on one closed
       side while every AOI vertex is STRICTLY on the other. Degenerate
       pairs (p == q) orient to 0 for every z, so the strict AOI side
       can never hold — no false separation.

    Returns SQL text ``(binds, conjuncts)``. Apply each bind in order
    as ``df.selectExpr("*", f"inline({bind})")`` — a Generate barrier,
    one row in, one row out, whose struct fields become plain columns
    named ``_sat_*`` — then each conjunct as a ``where``. Binding is
    what lets the stage compile: rendered inline, every orientation term
    repeated its point accessors and every conjunct repeated its terms,
    and the fused Generate+Filter method outgrew Janino's 64 KB limit,
    which ran the whole stage interpreted. No rule inlines a generator's
    child into it, so each bind evaluates once per row:
     1. ``n`` (the point count) and each point's ``x{i}``/``y{i}``;
     2. ``in``, the true-hit test (*Raster Intervals*, SIGMOD 2023):
        1 <= n <= max and every point STRICTLY left of every AOI edge,
        so the footprint certainly intersects. Boundary ties and NULL
        coordinates read false and take the exact path;
     3. ``o{j}``: NULL when ``in``, else every distinct orientation
        term of the k = 1..max SATs, each exactly once (the k-branches
        share them).

    The conjuncts are the size guard (never OR'ed, so k = 0, k > max
    and NULL geometry stay dropped; it reads only ``n``, so Catalyst
    pushes it below binds 2 and 3) and ``in OR <SAT of the row's k>``.
    ``in`` implies the SAT, so the row set is the SAT's alone."""
    n_sql, point_at, max_pts = points
    prefix = "_sat_"
    ring = np.asarray(aoi_ring, dtype=np.float64).reshape(-1, 2)
    if geom.ring_area(ring) < 0:  # normalize to CCW so interior is left
        ring = ring[::-1]
    edges = [
        (float(ring[i][0]), float(ring[i][1]),
         float(ring[i + 1][0]), float(ring[i + 1][1]))
        for i in range(len(ring) - 1)
        if not (ring[i][0] == ring[i + 1][0] and ring[i][1] == ring[i + 1][1])
    ]
    verts = sorted({(float(x), float(y)) for x, y in ring[:-1]})
    n = f"`{prefix}n`"
    pts = [(f"`{prefix}x{i}`", f"`{prefix}y{i}`") for i in range(max_pts)]
    terms: dict[str, str] = {}  # orientation SQL -> bound column

    def o(*abc):
        sql = _orient_sql(*abc)
        return f"`{terms.setdefault(sql, f'{prefix}o{len(terms)}')}`"

    def all_of(conds):
        return "(" + " AND ".join(conds) + ")"

    def sat(k):
        axes = [
            "(NOT " + all_of([f"{o(ax, ay, bx, by, px, py)} < 0.0D"
                              for (px, py) in pts[:k]]) + ")"
            for (ax, ay, bx, by) in edges
        ]
        for i in range(k):
            for j in range(i + 1, k):
                (px, py), (qx, qy) = pts[i], pts[j]
                o_sides = [o(px, py, qx, qy, zx, zy)
                           for m, (zx, zy) in enumerate(pts[:k]) if m not in (i, j)]
                a_sides = [o(px, py, qx, qy, vx, vy) for (vx, vy) in verts]
                scene_pos = all_of([f"{s} >= 0.0D" for s in o_sides]) if o_sides else "true"
                scene_neg = all_of([f"{s} <= 0.0D" for s in o_sides]) if o_sides else "true"
                aoi_neg = all_of([f"{s} < 0.0D" for s in a_sides])
                aoi_pos = all_of([f"{s} > 0.0D" for s in a_sides])
                axes.append(
                    f"(NOT (({scene_pos} AND {aoi_neg}) OR ({scene_neg} AND {aoi_pos})))"
                )
        return all_of(axes)

    branches = "".join(f" WHEN {k} THEN {sat(k)}" for k in range(1, max_pts + 1))
    inside = all_of([f"{n} BETWEEN 1 AND {max_pts}"] + [
        f"({i} >= {n} OR "
        + all_of([f"{_orient_sql(ax, ay, bx, by, px, py)} > 0.0D"
                  for (ax, ay, bx, by) in edges])
        + ")"
        for i, (px, py) in enumerate(pts)
    ])

    def bind(fields: dict[str, str]) -> str:
        return ("array(named_struct("
                + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + "))")

    coords = {f"{prefix}n": n_sql}
    for i in range(max_pts):
        coords[f"{prefix}x{i}"], coords[f"{prefix}y{i}"] = point_at(i)
    no_terms = bind({name: "CAST(NULL AS DOUBLE)" for name in terms.values()})
    some_terms = bind({name: sql for sql, name in terms.items()})
    return [
        bind(coords),
        bind({f"{prefix}in": f"coalesce({inside}, false)"}),
        f"IF(`{prefix}in`, {no_terms}, {some_terms})",
    ], [
        f"{n} BETWEEN 1 AND {max_pts}",
        f"`{prefix}in` OR CASE {n}{branches} END",
    ]


def _edge_ids(flat: str) -> str:
    """SQL text of the 1-based edge indices of a flat ring, empty when
    the ring has no edge: Spark's ``sequence(1, 0)`` is ``[1, 0]``, so
    an unguarded loop over a one-vertex ring would read past its end."""
    n = f"(cast(size({flat})/2 as int) - 1)"
    return f"IF({n} >= 1, sequence(1, {n}), array())"


def _point_in_flat_ring_sql(px: str, py: str, flat: str) -> str:
    """Crossing-number containment of one point (SQL snippets) vs a
    closed flat ring column — arbitrary simple polygons, pure JVM
    (boundary may report either side; :func:`rings_intersect_jvm`
    pairs this with the edge test). A ring with no edge contains no
    point. The crossing test ahead of the ``AND`` keeps the division
    off horizontal edges, where it would raise ``DIVIDE_BY_ZERO``."""
    ex = lambda i: f"element_at({flat}, ({i})*2-1)"  # noqa: E731
    ey = lambda i: f"element_at({flat}, ({i})*2)"  # noqa: E731
    vx, vy, wx, wy = ex("i"), ey("i"), ex("i+1"), ey("i+1")
    xint = f"({vx} + (({py}) - {vy}) / ({wy} - {vy}) * ({wx} - {vx}))"
    crossing = f"((({vy} > ({py})) != ({wy} > ({py}))) AND (({px}) < {xint}))"
    return f"((size(filter({_edge_ids(flat)}, i -> {crossing})) % 2) = 1)"


def rings_intersect_jvm(ring_a: str, ring_b: str) -> Column:
    """Exact st_intersects of two closed flat-ring column NAMES as pure
    JVM column expressions (round 5): edge-pair intersection (proper +
    touching/collinear) OR either polygon's first vertex inside the
    other — valid for arbitrary simple polygons, touch counts as
    intersecting. A ring with no edge (one vertex) pairs no edge, so
    the first-vertex tests decide.

    The engine's one general refine: :func:`spatial_join` runs it on
    the cell-join candidates, ``select`` on the bbox survivors of a
    non-convex AOI. No Python stage: one runs a worker process per task
    thread (~2× the level in core demand — the worst in-box scaling
    term, BENCH/BASELINE.md). Rendered as ONE SQL string — composing it
    from Column objects cost ~1 s of py4j driver time per query build
    (module note above)."""
    a, b = f"`{ring_a}`", f"`{ring_b}`"
    ax = lambda i: f"element_at({a}, ({i})*2-1)"  # noqa: E731
    ay = lambda i: f"element_at({a}, ({i})*2)"  # noqa: E731
    bx = lambda j: f"element_at({b}, ({j})*2-1)"  # noqa: E731
    by = lambda j: f"element_at({b}, ({j})*2)"  # noqa: E731

    p1x, p1y, p2x, p2y = ax("i"), ay("i"), ax("i+1"), ay("i+1")
    q1x, q1y, q2x, q2y = bx("j"), by("j"), bx("j+1"), by("j+1")
    d1 = _orient_sql(q1x, q1y, q2x, q2y, p1x, p1y)
    d2 = _orient_sql(q1x, q1y, q2x, q2y, p2x, p2y)
    d3 = _orient_sql(p1x, p1y, p2x, p2y, q1x, q1y)
    d4 = _orient_sql(p1x, p1y, p2x, p2y, q2x, q2y)
    proper = (
        f"((({d1} > 0.0D AND {d2} < 0.0D) OR ({d1} < 0.0D AND {d2} > 0.0D))"
        f" AND (({d3} > 0.0D AND {d4} < 0.0D) OR ({d3} < 0.0D AND {d4} > 0.0D)))"
    )

    def on_seg(sx1, sy1, sx2, sy2, px, py):
        return (
            f"(least({sx1}, {sx2}) <= {px} AND {px} <= greatest({sx1}, {sx2})"
            f" AND least({sy1}, {sy2}) <= {py} AND {py} <= greatest({sy1}, {sy2}))"
        )

    touch = (
        f"(({d1} = 0.0D AND {on_seg(q1x, q1y, q2x, q2y, p1x, p1y)})"
        f" OR ({d2} = 0.0D AND {on_seg(q1x, q1y, q2x, q2y, p2x, p2y)})"
        f" OR ({d3} = 0.0D AND {on_seg(p1x, p1y, p2x, p2y, q1x, q1y)})"
        f" OR ({d4} = 0.0D AND {on_seg(p1x, p1y, p2x, p2y, q2x, q2y)}))"
    )
    edges_cross = (
        f"exists({_edge_ids(a)},"
        f" i -> exists({_edge_ids(b)}, j -> ({proper} OR {touch})))"
    )
    a_in_b = _point_in_flat_ring_sql(ax("1"), ay("1"), b)
    b_in_a = _point_in_flat_ring_sql(bx("1"), by("1"), a)
    return F.expr(f"({edges_cross} OR {a_in_b} OR {b_in_a})")


# -- kNN scene matching (J10) ------------------------------------------------


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    r = 6371.0088
    p = 3.141592653589793 / 180.0
    dlat = (lat2 - lat1) * p / 2
    dlon = (lon2 - lon1) * p / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(lat1 * p) * F.cos(lat2 * p) * F.sin(dlon) * F.sin(dlon)
    )
    return F.lit(2 * r) * F.asin(F.sqrt(a))


def knn_scenes(scenes: DataFrame, k: int = 3) -> DataFrame:
    """k nearest neighbor scenes by footprint-centroid distance.

    Candidates come from a 3×3 cell-neighborhood self-join on
    ``CELL_DEG`` (1°) cells (each ``doc_id`` is indexed into its
    centroid cell and probes the 9 surrounding cells), so the shuffle
    is a cell-id equi-join, not a cross join. Ties broken on neighbor
    id — fully deterministic (SURVEY §7 hard part (e)). The ring is the
    trade-off: a neighbor closer than ``CELL_DEG`` on both axes is
    always a candidate, one ``2 · CELL_DEG`` or more away on either axis
    never is, so a scene in a sparse region returns fewer than k
    matches; a larger cell would reach farther at the cost of more
    candidates per probe everywhere.
    """
    s = CELL_DEG
    cent = scenes.select(
        F.col("doc_id"),
        ((F.col("xmin") + F.col("xmax")) / 2).alias("cx"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("cy"),
    )
    home = cent.select(
        "doc_id", "cx", "cy",
        F.floor(F.col("cy") / s).cast("long").alias("_la"),
        F.floor(F.col("cx") / s).cast("long").alias("_lo"),
    )
    # probe side: replicate into the 9 neighbor cells. Longitude wraps
    # (pmod); latitude CLAMPS at the poles — an unclamped _la ± 1 for a
    # pole-adjacent footprint would probe phantom rows outside
    # [-90/s, 90/s) and silently lose recall exactly where polar SAR
    # coverage is densest (VERDICT r2 #6). Clamped duplicates collapse
    # in the array_distinct of the 9 probe cells below.
    la_lo, la_hi = -int(round(90 / s)), int(round(90 / s)) - 1
    # r6 (guide §2.4): build the 9 neighbor cells as ONE array and
    # array_distinct it BEFORE the explode. Every neighbor scene lives
    # in exactly one home cell, so with distinct probe cells each
    # (q_id, n_id) pair can meet in at most one cell — the pair-level
    # dropDuplicates (a full Exchange + two aggregates over the
    # candidate table, the join's largest intermediate) is removed
    # outright. Clamped polar duplicates collapse map-side in the
    # 9-element array instead.
    cells9 = F.array_distinct(
        F.array(
            *[
                _cell_id(
                    F.greatest(F.least(F.col("_la") + dy, F.lit(la_hi)), F.lit(la_lo)),
                    F.col("_lo") + dx,
                    s,
                )
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    )
    probe = (
        home.withColumn("_cell", F.explode(cells9))
        .select(F.col("doc_id").alias("q_id"), F.col("cx").alias("q_cx"),
                F.col("cy").alias("q_cy"), "_cell")
    )
    # index side: the home cell, row unclamped (the frozen scene_knn
    # oracle SQL encodes this formula and the probe row's clamp above)
    index = home.withColumn("_cell", _cell_id(F.col("_la"), F.col("_lo"), s)).select(
        F.col("doc_id").alias("n_id"), F.col("cx").alias("n_cx"), F.col("cy").alias("n_cy"), "_cell"
    )
    cand = (
        probe.join(index, on="_cell")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("dist_km", haversine_km(F.col("q_cy"), F.col("q_cx"),
                                            F.col("n_cy"), F.col("n_cx")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("dist_km").asc(), F.col("n_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "dist_km", "rank")
    )
