"""Tile-cover assignment + radius range-join (raster<->vector core).

- ``way_cell_cover``: assign every way (vector feature) the set of grid
  cells its segments' bboxes intersect — the cell-cover intersection that
  drives raster-tile <-> vector-feature assignment (reference tile-set
  build, route/src/formats/region_tiles.rs:262-270, and the bit-tile
  stamping cover of sparse_contour.rs). Conservative bbox cover per
  segment (segments are short: fixture step <= 400 m < cell edge).
- ``radius_prefilter``: J9, the Euclidean radius pre-filter of
  route/src/matrix/neighbors.rs:44-135 — per-query candidate lists within
  ``radius_m``, realized as a bounded cell-rectangle equi-join + exact
  metric filter instead of the reference's longitude-sorted binary-search
  bands.
- ``auto_radius``: A7 — ``auto`` radius = p95 of pairwise distances x 1.1
  (neighbors.rs:101-135), as an exact percentile aggregate.

All three are pure DataFrame algebra (explode/sequence/join/agg — no
UDFs) and have exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cells
from ..geo import M_PER_DEG_LAT, M_PER_DEG_LON, equirect_d2_col, equirect_d2_sql

COVER_RES = 9  # 0.025 deg — segment bboxes span at most 2x2 cells at <=400 m


def way_cell_cover(way_nodes: DataFrame, nodes: DataFrame, res: int = COVER_RES) -> DataFrame:
    """Distinct (way_id, cell_id) covered by any segment bbox of the way.

    Plan shape: vertex join -> lead window -> integer cell-range explode
    (sequence) -> distinct. The explode fan-out is bounded (<= 4 cells per
    segment at fixture step lengths); distinct is the only shuffle.
    """
    s = cells.SIZE_E7[res]
    wv = way_nodes.join(nodes, way_nodes.node_id == nodes.id).select(
        "way_id", "seq", "lat_e7", "lon_e7"
    )
    w = Window.partitionBy("way_id").orderBy("seq")
    pairs = wv.select(
        "way_id",
        "lon_e7",
        "lat_e7",
        F.lead("lon_e7").over(w).alias("nlon"),
        F.lead("lat_e7").over(w).alias("nlat"),
    ).filter(F.col("nlon").isNotNull())
    ranges = pairs.select(
        "way_id",
        ((F.least("lon_e7", "nlon") + F.lit(cells.OFF_LON_E7)).cast("long") / F.lit(s)).cast("long").alias("x0"),
        ((F.greatest("lon_e7", "nlon") + F.lit(cells.OFF_LON_E7)).cast("long") / F.lit(s)).cast("long").alias("x1"),
        ((F.least("lat_e7", "nlat") + F.lit(cells.OFF_LAT_E7)).cast("long") / F.lit(s)).cast("long").alias("y0"),
        ((F.greatest("lat_e7", "nlat") + F.lit(cells.OFF_LAT_E7)).cast("long") / F.lit(s)).cast("long").alias("y1"),
    )
    cx = ranges.select("way_id", F.explode(F.sequence("x0", "x1")).alias("cx"), "y0", "y1")
    cxy = cx.select("way_id", "cx", F.explode(F.sequence("y0", "y1")).alias("cy"))
    return cxy.select(
        "way_id",
        (
            F.lit(res << cells.RES_SHIFT) + F.col("cy") * F.lit(1 << cells.Y_SHIFT) + F.col("cx")
        ).alias("cell_id"),
    ).distinct()


def way_cell_cover_oracle_sql(fix: str, res: int = COVER_RES) -> str:
    s = cells.SIZE_E7[res]
    return f"""
WITH wv AS (
  SELECT w.way_id, w.seq, n.lat_e7, n.lon_e7
  FROM read_parquet('{fix}/way_nodes.parquet') w
  JOIN read_parquet('{fix}/osm_nodes.parquet') n ON w.node_id = n.id
), pairs AS (
  SELECT way_id, lon_e7, lat_e7,
         lead(lon_e7) OVER (PARTITION BY way_id ORDER BY seq) AS nlon,
         lead(lat_e7) OVER (PARTITION BY way_id ORDER BY seq) AS nlat
  FROM wv
), ranges AS (
  SELECT way_id,
         (least(lon_e7, nlon) + {cells.OFF_LON_E7}) // {s} AS x0,
         (greatest(lon_e7, nlon) + {cells.OFF_LON_E7}) // {s} AS x1,
         (least(lat_e7, nlat) + {cells.OFF_LAT_E7}) // {s} AS y0,
         (greatest(lat_e7, nlat) + {cells.OFF_LAT_E7}) // {s} AS y1
  FROM pairs WHERE nlon IS NOT NULL
), cx AS (
  SELECT way_id, unnest(generate_series(x0, x1)) AS cx, y0, y1 FROM ranges
), cxy AS (
  SELECT way_id, cx, unnest(generate_series(y0, y1)) AS cy FROM cx
)
SELECT DISTINCT way_id,
       CAST({res << cells.RES_SHIFT} AS BIGINT) + cy * {1 << cells.Y_SHIFT} + cx AS cell_id
FROM cxy
"""


# ---------------------------------------------------------------------------
# J9: Euclidean radius pre-filter (range join via bounded cell rectangle)
# ---------------------------------------------------------------------------

RADIUS_RES = 9


def res_for_radius(radius_m: float) -> int:
    """Finest res whose lon cell edge is >= radius/2 — scans ~2-3 cells
    per axis instead of sweeping many oversized cells (the reference sizes
    its longitude bands to the radius, neighbors.rs:8-11)."""
    for r in range(13, 6, -1):
        if cells.SIZE_E7[r] / 1e7 * M_PER_DEG_LON >= radius_m / 2:
            return r
    return 7


def radius_prefilter(
    queries: DataFrame,
    points: DataFrame,
    radius_m: float,
    res: int | None = None,
    point_id: str = "image_id",
    salt_threshold: int | None = None,
) -> DataFrame:
    """(query_id, point_id, dist_m) for all points within radius_m.

    The reference binary-searches a longitude-sorted band then applies the
    exact check (neighbors.rs:44-99); here the band is a bounded cell
    rectangle (equi-join on cell ids) and the exact check is the same
    final metric filter.

    ``salt_threshold`` enables explicit hot-cell salting (operators/salt.py)
    on top of AQE: point cells with occupancy above the threshold split
    into hash-derived sub-keys. Result set is identical either way
    (FIXTURES.md §9 invariant, asserted in tests).
    """
    if res is None:
        res = res_for_radius(radius_m)
    s = cells.SIZE_E7[res]
    rx = int(radius_m / M_PER_DEG_LON * 1e7 // s) + 1
    ry = int(radius_m / M_PER_DEG_LAT * 1e7 // s) + 1
    offsets = F.array(
        *[
            F.lit(dy * (1 << cells.Y_SHIFT) + dx)
            for dx in range(-rx, rx + 1)
            for dy in range(-ry, ry + 1)
        ]
    )
    q = (
        queries.withColumn("qcell", cells.cell_col("lon_e7", "lat_e7", res))
        .select(
            "query_id",
            F.col("lon_e7").alias("qlon"),
            F.col("lat_e7").alias("qlat"),
            F.explode(offsets).alias("off"),
            "qcell",
        )
        .select("query_id", "qlon", "qlat", (F.col("qcell") + F.col("off")).alias("cell_id"))
    )
    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lon_e7").alias("plon"),
        F.col("lat_e7").alias("plat"),
        cells.cell_col("lon_e7", "lat_e7", res).alias("cell_id"),
    )
    d2 = equirect_d2_col("qlon", "qlat", "plon", "plat")
    if salt_threshold is not None:
        from .salt import salted_join

        joined = salted_join(p, q, key="cell_id", build_id="point_id", threshold=salt_threshold)
    else:
        joined = q.join(p, "cell_id", "inner")
    return (
        joined.withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(radius_m * radius_m))
        .select("query_id", "point_id", F.round(F.sqrt("d2"), 3).alias("dist_m"))
    )


def radius_prefilter_oracle_sql(
    fix: str,
    radius_m: float,
    point_table: str = "image_geo",
    point_id: str = "image_id",
) -> str:
    d2 = equirect_d2_sql("q.lon_e7", "q.lat_e7", "p.lon_e7", "p.lat_e7")
    dlon = int(radius_m / M_PER_DEG_LON * 1e7)
    dlat = int(radius_m / M_PER_DEG_LAT * 1e7)
    return f"""
SELECT q.query_id, p.{point_id} AS point_id, round(sqrt({d2}), 3) AS dist_m
FROM read_parquet('{fix}/query_points.parquet') q
JOIN read_parquet('{fix}/{point_table}.parquet') p
  ON p.lon_e7 BETWEEN q.lon_e7 - {dlon} AND q.lon_e7 + {dlon}
 AND p.lat_e7 BETWEEN q.lat_e7 - {dlat} AND q.lat_e7 + {dlat}
WHERE {d2} <= {radius_m * radius_m!r}
"""


# ---------------------------------------------------------------------------
# A7: auto radius = p95 pairwise distance x 1.1 (neighbors.rs:101-135)
# ---------------------------------------------------------------------------


def auto_radius(queries: DataFrame, sample_n: int = 500) -> DataFrame:
    """Single-row (auto_radius_m): 1.1 x exact p95 of pairwise distances
    over the first ``sample_n`` query points (ordered by id — the
    deterministic sampling the reference gets from its fixed source list)."""
    s = queries.orderBy("query_id").limit(sample_n).select("query_id", "lon_e7", "lat_e7")
    a = s.alias("a")
    b = s.alias("b")
    pairs = a.join(b, F.col("a.query_id") < F.col("b.query_id"))
    d2 = equirect_d2_col(
        F.col("a.lon_e7"), F.col("a.lat_e7"), F.col("b.lon_e7"), F.col("b.lat_e7")
    )
    return pairs.select(F.sqrt(d2).alias("d")).agg(
        F.round(F.expr("percentile(d, 0.95)") * 1.1, 3).alias("auto_radius_m")
    )


def auto_radius_oracle_sql(fix: str, sample_n: int = 500) -> str:
    d2 = equirect_d2_sql("a.lon_e7", "a.lat_e7", "b.lon_e7", "b.lat_e7")
    return f"""
WITH s AS (
  SELECT query_id, lon_e7, lat_e7 FROM read_parquet('{fix}/query_points.parquet')
  ORDER BY query_id LIMIT {sample_n}
), d AS (
  SELECT sqrt({d2}) AS d FROM s a JOIN s b ON a.query_id < b.query_id)
SELECT round(quantile_cont(d, 0.95) * 1.1, 3) AS auto_radius_m FROM d
"""


# ---------------------------------------------------------------------------
# multi-zoom tile pyramid (round 4)
# ---------------------------------------------------------------------------

PYRAMID_BASE_RES = 12
PYRAMID_MIN_RES = 6


def tile_pyramid(
    points: DataFrame,
    base_res: int = PYRAMID_BASE_RES,
    min_res: int = PYRAMID_MIN_RES,
) -> DataFrame:
    """(res, cell_id, n_points): point counts per tile at EVERY zoom level
    in [min_res, base_res] — the classic web-map tile-pyramid rollup
    (complement of the reference's single-level 0.1-degree region tiles,
    region_tiles.rs:53-64, generalized over the power-of-two hierarchy).

    Scale shape: the corpus is aggregated ONCE, at base_res (the only
    corpus-sized shuffle, map-side combined); every coarser level is then
    derived by exploding the zoom range over the base-cell VOCABULARY and
    re-aggregating parent cells — child->parent is a pure bit shift
    (exact: the grid is power-of-two aligned), so the rollup input is
    |base cells| x |levels| rows regardless of corpus size. At 10^12
    points the base aggregate dominates; the rollup is vocabulary-sized.
    """
    if not cells.RES_MIN <= min_res <= base_res <= cells.RES_MAX:
        raise ValueError(f"need {cells.RES_MIN} <= min_res <= base_res <= {cells.RES_MAX}")
    base = points.groupBy(
        cells.cell_col("lon_e7", "lat_e7", base_res).alias("cell_base")
    ).agg(F.count(F.lit(1)).alias("n"))
    lev = base.select(
        F.explode(F.sequence(F.lit(min_res), F.lit(base_res))).alias("res"),
        "cell_base",
        "n",
    )
    # child -> parent at (base_res - res) levels up is a pure right shift
    # of the unpacked x/y (power-of-two aligned grid; parent_np's shape,
    # but with a per-row shift distance)
    parent = (
        F.col("res").cast("long") * F.lit(1 << cells.RES_SHIFT)
        + F.expr(f"shiftright(shiftright(cell_base, {cells.Y_SHIFT}) & {cells.Y_MASK}, "
                 f"{base_res} - res)").cast("long") * F.lit(1 << cells.Y_SHIFT)
        + F.expr(f"shiftright(cell_base & {cells.X_MASK}, {base_res} - res)").cast("long")
    )
    return (
        lev.select("res", parent.alias("cell_id"), "n")
        .groupBy("res", "cell_id")
        .agg(F.sum("n").alias("n_points"))
    )


def tile_pyramid_oracle_sql(
    fix: str,
    base_res: int = PYRAMID_BASE_RES,
    min_res: int = PYRAMID_MIN_RES,
) -> str:
    base_cell = cells.cell_sql("lon_e7", "lat_e7", base_res)
    return f"""
WITH base AS (
  SELECT {base_cell} AS cell_base, count(*) AS n
  FROM read_parquet('{fix}/image_geo.parquet') GROUP BY 1
), lev AS (
  SELECT CAST(z AS INTEGER) AS res, cell_base, n
  FROM base, unnest(range({min_res}, {base_res} + 1)) AS t(z)
)
SELECT res,
       (CAST(res AS BIGINT) * {1 << cells.RES_SHIFT}
        + (((cell_base >> {cells.Y_SHIFT}) & {cells.Y_MASK}) >> ({base_res} - res)) * {1 << cells.Y_SHIFT}
        + ((cell_base & {cells.X_MASK}) >> ({base_res} - res))) AS cell_id,
       CAST(sum(n) AS BIGINT) AS n_points
FROM lev GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Grid-based DBSCAN hotspots (beyond-§2 geospatial extension): density
# clustering over the point table via the cell grid — dense cells are core
# regions, 8-neighbour adjacency between dense cells is the eps-reachability
# graph, and connected components resolve the clusters. This is the
# GriT/grid-DBSCAN formulation (eps = one cell edge, minPts per cell): the
# scale-correct shape, because after ONE corpus-sized count aggregate every
# later step runs on the vocabulary-sized dense-cell table. Reference
# analogs: the per-cell occupancy stats of the snap index (snap_index.rs
# ring iteration) and the dedup-join group-and-fan-back semantics
# (docs/api.md:511) applied to spatial density.
# ---------------------------------------------------------------------------

DBSCAN_RES = 7  # ~0.1 deg cell edge: the hotspot granularity
DBSCAN_MINPTS = 20  # core-cell density threshold

# positive-direction half of the 8-neighbourhood: each unordered adjacent
# pair is generated exactly once (CC symmetrizes internally)
_DBSCAN_HALF_OFFSETS = [(1, -1), (1, 0), (1, 1), (0, 1)]


def dbscan_hotspots(
    nodes: DataFrame, res: int = DBSCAN_RES, minpts: int = DBSCAN_MINPTS
) -> DataFrame:
    """(cell_id, cluster_id, n_points) for every DENSE cell (>= ``minpts``
    points): cluster_id = min cell_id of its 8-connected dense component;
    an isolated dense cell is its own single-cell cluster. Points in
    sparse cells are noise; fanning cluster labels back onto points is
    the standard J4 cell-equi join, so the output here stays
    vocabulary-sized.

    Scale shape (10^12 points): the point table is touched by exactly ONE
    aggregate (partial aggs make the exchange vocabulary-sized x
    partitions); the adjacency is an EQUI-join — each dense cell explodes
    its 4 positive-direction neighbour ids (pure packed-id arithmetic,
    cells.neighbor_col) and joins back against the dense-cell set
    (broadcastable under AQE) — never a range/theta join; the CC kernel
    (dedup.connected_components) runs on the dense-cell graph: O(log d)
    rounds of vocabulary-sized shuffles, per-round localCheckpoint
    lineage cuts. Caching contract: returns ONE persisted
    vocabulary-sized frame; intermediates are released before returning
    (``eager_release``); caller unpersists the result.

    Domain-edge caveat: neighbour-id arithmetic wraps at the +/-180 deg
    antimeridian column (the packed-id x overflow borrows into y); the
    fixture extract — like any single-region OSM extract — never touches
    it, and a global run would pre-split the seam column."""
    from .dedup import connected_components, eager_release

    dense = (
        nodes.select(cells.cell_col("lon_e7", "lat_e7", res).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .where(F.col("n_points") >= minpts)
        .persist()
    )
    offs = F.array(
        *[F.lit(dy * (1 << cells.Y_SHIFT) + dx) for dx, dy in _DBSCAN_HALF_OFFSETS]
    )
    nbr = dense.select("cell_id", F.explode(offs).alias("d")).select(
        "cell_id", (F.col("cell_id") + F.col("d")).alias("nbr_id")
    )
    edges = nbr.join(
        dense.select(F.col("cell_id").alias("nbr_id")), "nbr_id"
    ).select("cell_id", "nbr_id")
    labels, _ = connected_components(edges, dense.select("cell_id"))
    out = dense.join(
        labels.select(F.col("id").alias("cell_id"), F.col("lab").alias("cluster_id")),
        "cell_id",
    ).select("cell_id", "cluster_id", "n_points")
    return eager_release(out, [dense, labels])


def dbscan_hotspots_oracle_sql(
    fix: str, res: int = DBSCAN_RES, minpts: int = DBSCAN_MINPTS
) -> str:
    """Differential oracle: adjacency recomputed from UNPACKED grid
    coordinates (Chebyshev distance <= 1) rather than packed-id
    arithmetic, then recursive min-label reachability (the
    dedup_clusters/phash_clusters oracle pattern; the ``r.lab < e.eb``
    prune keeps the recursion linear)."""
    c = cells.cell_sql("lon_e7", "lat_e7", res)
    s = cells.SIZE_E7[res]
    return f"""
WITH RECURSIVE dense AS (
  SELECT {c} AS cell_id,
         ((CAST(lon_e7 AS BIGINT) + {cells.OFF_LON_E7}) // {s}) AS xi,
         ((CAST(lat_e7 AS BIGINT) + {cells.OFF_LAT_E7}) // {s}) AS yi,
         count(*) AS n_points
  FROM read_parquet('{fix}/osm_nodes.parquet') GROUP BY 1, 2, 3
  HAVING count(*) >= {minpts}
), edges AS (
  SELECT a.cell_id AS ea, b.cell_id AS eb FROM dense a JOIN dense b
  ON abs(a.xi - b.xi) <= 1 AND abs(a.yi - b.yi) <= 1 AND a.cell_id <> b.cell_id
), reach(node, lab) AS (
  SELECT cell_id, cell_id FROM dense
  UNION
  SELECT e.eb, r.lab FROM reach r JOIN edges e ON e.ea = r.node WHERE r.lab < e.eb
), labs AS (
  SELECT node AS cell_id, min(lab) AS cluster_id FROM reach GROUP BY node
)
SELECT d.cell_id, l.cluster_id, CAST(d.n_points AS BIGINT) AS n_points
FROM dense d JOIN labs l ON d.cell_id = l.cell_id
"""


# ---------------------------------------------------------------------------
# Binomial-kernel heat surface (beyond-§2 geospatial extension): discrete
# KDE over the cell grid — the map-tile heatmap layer. Kernel = the 5-tap
# binomial [1,4,6,4,1] (the integer Gaussian approximation), applied
# SEPARABLY: two vocabulary-sized 5-tap passes (x then y) instead of one
# 25-offset 2D explode — the classic separable-convolution factorization,
# which is the plan you'd want at 10^12 points: the point table is touched
# by ONE count aggregate, then each blur pass is explode(5) + re-aggregate
# on the vocabulary-sized cell table. All weights integer (sum 16 per
# axis, 256 total), so the surface is exact BIGINT arithmetic end-to-end.
# ---------------------------------------------------------------------------

KDE_RES = 7
_KDE_W = [1, 4, 6, 4, 1]  # binomial taps, offsets -2..+2


def _blur_axis(df: DataFrame, val: str, axis_step: int) -> DataFrame:
    """One separable 5-tap pass: shift cell ids by k*axis_step for
    k in -2..2 with binomial weights, re-aggregate. Pure packed-id
    arithmetic (axis_step = 1 for x, 1<<Y_SHIFT for y)."""
    taps = F.array(
        *[
            F.struct(F.lit(k * axis_step).alias("d"), F.lit(w).alias("w"))
            for k, w in zip(range(-2, 3), _KDE_W)
        ]
    )
    return (
        df.select("cell_id", F.col(val).alias("v"), F.explode(taps).alias("t"))
        .groupBy((F.col("cell_id") + F.col("t.d")).alias("cell_id"))
        .agg(F.sum(F.col("v") * F.col("t.w")).alias(val))
    )


def heatmap_kde(nodes: DataFrame, res: int = KDE_RES) -> DataFrame:
    """(cell_id, heat): integer binomial-KDE surface over the point table —
    heat = sum over the 5x5 neighbourhood of n_points x w(dx) x w(dy),
    w = [1,4,6,4,1] per axis (sum 256). Cells whose whole 5x5
    neighbourhood is empty do not appear (heat 0 rows are the infinite
    empty plane).

    Scale shape: ONE corpus-sized count aggregate, then two separable
    5-tap blur passes over the vocabulary-sized cell table (explode(5) +
    re-aggregate each — 2 vocabulary-sized exchanges total vs the 25x
    fan-out of the direct 2D form). Exact BIGINT arithmetic throughout —
    no float anywhere, so cross-engine parity is structural. Same
    antimeridian caveat as dbscan_hotspots (packed-id x overflow borrows
    into y; a global run pre-splits the seam column)."""
    base = (
        nodes.select(cells.cell_col("lon_e7", "lat_e7", res).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("heat"))
    )
    bx = _blur_axis(base, "heat", 1)
    return _blur_axis(bx, "heat", 1 << cells.Y_SHIFT).select("cell_id", "heat")


def heatmap_kde_oracle_sql(fix: str, res: int = KDE_RES) -> str:
    """Differential oracle: DIRECT (non-separable) 2D 25-tap recompute
    from UNPACKED grid coordinates — independently re-derives both the
    factorization and the packed-id shift arithmetic."""
    c = cells.cell_sql("lon_e7", "lat_e7", res)
    s = cells.SIZE_E7[res]
    w = ",".join(str(v) for v in _KDE_W)
    return f"""
WITH base AS (
  SELECT ((CAST(lon_e7 AS BIGINT) + {cells.OFF_LON_E7}) // {s}) AS xi,
         ((CAST(lat_e7 AS BIGINT) + {cells.OFF_LAT_E7}) // {s}) AS yi,
         count(*) AS n
  FROM read_parquet('{fix}/osm_nodes.parquet') GROUP BY 1, 2
), taps AS (
  SELECT CAST(k - 3 AS BIGINT) AS d, w
  FROM (SELECT unnest([{w}]) AS w, unnest(range(1, 6)) AS k)
), blurred AS (
  SELECT b.xi + tx.d AS xi, b.yi + ty.d AS yi, sum(b.n * tx.w * ty.w) AS heat
  FROM base b CROSS JOIN taps tx CROSS JOIN taps ty
  GROUP BY 1, 2
)
SELECT (CAST({res << cells.RES_SHIFT} AS BIGINT) + yi * {1 << cells.Y_SHIFT} + xi) AS cell_id,
       CAST(heat AS BIGINT) AS heat
FROM blurred
"""


# ---------------------------------------------------------------------------
# cell-set compaction (H3 `compact`-style tile-set compression, round 5c)
# ---------------------------------------------------------------------------

COMPACT_BASE_RES = 12
COMPACT_MIN_RES = 8


def cell_compact(
    nodes: DataFrame, base_res: int = COMPACT_BASE_RES, min_res: int = COMPACT_MIN_RES
) -> DataFrame:
    """(cell_id, res, n_leaves): the minimal mixed-resolution cell set
    whose leaf expansion equals the distinct base_res cover of ``nodes``
    — the H3 ``compact`` operation on this engine's power-of-two grid,
    and the set representation the reference's region-tile membership
    would ship at planet scale (region_tiles.rs stores flat max-res
    sets; compaction shrinks dense-urban covers ~4x per full level).

    Plan shape: the level loop is BOUNDED (base_res - min_res rounds,
    a compile-time constant, no data-dependent iteration): each round
    is one vocabulary-sized groupBy on the parent id (count==4 detects
    full parents) plus a left-anti join removing their children —
    both keyed on cell ids, both AQE-coalesced; the corpus is touched
    once (the initial distinct cover), everything after is cell-set
    sized. All parent arithmetic is exact integer shifts (cells.py
    packing), identical in the unrolled DuckDB oracle.
    """
    from .dedup import release_checkpoint

    w = (
        nodes.select(cells.cell_col("lon_e7", "lat_e7", base_res).alias("cell_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for r in range(base_res, min_res, -1):
        is_r = F.shiftright(F.col("cell_id"), cells.RES_SHIFT) == r
        cur = w.filter(is_r)
        rest = w.filter(~is_r)
        x = F.col("cell_id").bitwiseAND(F.lit(cells.X_MASK))
        y = F.shiftright(F.col("cell_id"), cells.Y_SHIFT).bitwiseAND(F.lit(cells.Y_MASK))
        parent = (
            F.lit((r - 1) << cells.RES_SHIFT)
            + F.shiftleft(F.shiftright(y, 1), cells.Y_SHIFT)
            + F.shiftright(x, 1)
        )
        tagged = cur.withColumn("pcell", parent)
        full = (
            tagged.groupBy("pcell")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") == 4)
            .select("pcell")
        )
        kept = tagged.join(full, "pcell", "left_anti").select("cell_id")
        # Each level references w three times (cur, rest, tagged->full/kept):
        # without a lineage cut the logical plan grows 3^levels and the
        # base distinct scan is re-executed exponentially often (measured
        # 133 s -> ~2 s at sf0.1). Same discipline as the CC loop: cut via
        # localCheckpoint per level, free the superseded level's blocks.
        nxt = (
            rest.unionByName(kept)
            .unionByName(full.select(F.col("pcell").alias("cell_id")))
            .localCheckpoint(eager=True)
        )
        release_checkpoint(w)
        w = nxt
    res_col = F.shiftright(F.col("cell_id"), cells.RES_SHIFT).cast("int")
    out = w.select(
        "cell_id",
        res_col.alias("res"),
        F.pow(F.lit(4.0), (F.lit(base_res) - res_col)).cast("long").alias("n_leaves"),
    ).persist()
    out.count()
    release_checkpoint(w)  # caching contract: ONE persisted result survives
    return out


def cell_compact_oracle_sql(
    fix: str, base_res: int = COMPACT_BASE_RES, min_res: int = COMPACT_MIN_RES
) -> str:
    """Unrolled per-level replay of the compaction in DuckDB."""
    c = cells.cell_sql("lon_e7", "lat_e7", base_res)
    sql = f"WITH w{base_res} AS (SELECT DISTINCT {c} AS cell_id FROM read_parquet('{fix}/osm_nodes.parquet'))"
    prev = f"w{base_res}"
    for r in range(base_res, min_res, -1):
        parent = (
            f"(CAST({(r - 1) << cells.RES_SHIFT} AS BIGINT)"
            f" + ((((cell_id >> {cells.Y_SHIFT}) & {cells.Y_MASK}) >> 1) << {cells.Y_SHIFT})"
            f" + ((cell_id & {cells.X_MASK}) >> 1))"
        )
        sql += f""",
cur{r} AS (SELECT cell_id, {parent} AS pcell FROM {prev}
           WHERE (cell_id >> {cells.RES_SHIFT}) = {r}),
rest{r} AS (SELECT cell_id FROM {prev} WHERE (cell_id >> {cells.RES_SHIFT}) <> {r}),
full{r} AS (SELECT pcell FROM cur{r} GROUP BY pcell HAVING count(*) = 4),
w{r - 1} AS (
  SELECT cell_id FROM rest{r}
  UNION ALL
  SELECT cell_id FROM cur{r} WHERE pcell NOT IN (SELECT pcell FROM full{r})
  UNION ALL
  SELECT pcell AS cell_id FROM full{r}
)"""
        prev = f"w{r - 1}"
    sql += f"""
SELECT cell_id,
       CAST(cell_id >> {cells.RES_SHIFT} AS INT) AS res,
       CAST(pow(4.0, {base_res} - (cell_id >> {cells.RES_SHIFT})) AS BIGINT) AS n_leaves
FROM {prev}
"""
    return sql


def cell_uncompact(
    nodes: DataFrame, base_res: int = COMPACT_BASE_RES, min_res: int = COMPACT_MIN_RES
) -> DataFrame:
    """(cell_id): the base_res leaf expansion of the COMPACTED cover —
    the H3 ``uncompact`` inverse of :func:`cell_compact`. Registered as
    the composition uncompact(compact(cover)): its oracle is simply the
    plain distinct base-res cover recomputed from the corpus, so a green
    row differentially proves BOTH directions round-trip losslessly
    (compaction is exactly invertible).

    Scale shape: expansion is MAP-ONLY over the compacted (vocabulary-
    sized) set — two bounded ``explode(sequence(...))`` fan-outs per
    cell (max 2^(base_res-min_res) = 8 per axis here, a compile-time
    constant); children of distinct compacted cells are disjoint by
    construction, so no distinct/dedup pass is needed after the
    explode. All arithmetic is the exact integer packing of cells.py.
    """
    comp = cell_compact(nodes, base_res, min_res)
    side = F.expr(f"shiftleft(1L, {base_res} - res)")
    x = F.col("cell_id").bitwiseAND(F.lit(cells.X_MASK))
    y = F.shiftright(F.col("cell_id"), cells.Y_SHIFT).bitwiseAND(F.lit(cells.Y_MASK))
    out = (
        comp.withColumn("side", side)
        .withColumn("bx", x * F.col("side"))
        .withColumn("by", y * F.col("side"))
        .select(
            "bx",
            "by",
            "side",
            F.explode(F.sequence(F.lit(0), F.col("side") - 1)).alias("dy"),
        )
        .select(
            "bx",
            "by",
            "dy",
            F.explode(F.sequence(F.lit(0), F.col("side") - 1)).alias("dx"),
        )
        .select(
            (
                F.lit(base_res << cells.RES_SHIFT)
                + F.shiftleft(F.col("by") + F.col("dy"), cells.Y_SHIFT)
                + (F.col("bx") + F.col("dx"))
            ).alias("cell_id")
        )
    )
    from .dedup import eager_release

    return eager_release(out, [comp])


def cell_uncompact_oracle_sql(fix: str, base_res: int = COMPACT_BASE_RES) -> str:
    """Independent formulation: the plain distinct base-res cover — a
    green row proves compact→uncompact is lossless."""
    c = cells.cell_sql("lon_e7", "lat_e7", base_res)
    return f"SELECT DISTINCT {c} AS cell_id FROM read_parquet('{fix}/osm_nodes.parquet')"
