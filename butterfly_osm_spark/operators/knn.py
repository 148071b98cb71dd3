"""kNN snap: one tile-keyed exchange, a vectorized ring-walk kernel per
tile, one per-query merge.

Reference semantics: concentric cell rings around the query cell with an
early exit once the accepted k-th best distance beats the next ring's
inner edge (route/src/server/snap_index.rs:833-904 ``iterate_rings``;
k-th-best tracking :625-754, the #525 dense-cell fix), under a 5 km snap
cutoff (route/src/server/spatial.rs:9). Grid cells are sized from data
density (``cell_log2``, snap_index.rs:183-201).

Shape:

- Tiles. Every target is keyed by its cell at ``tile_res(cutoff_m)``,
  the finest level whose edge spans a query's whole routing box
  ``±(int(cutoff_m / M_PER_DEG * 1e7) + 1)`` on both axes. The box is
  the oracle's bbox plus one fixed-point unit, so every target the
  oracle can keep lies inside it. An interval no longer than a tile
  edge meets at most 2 tiles per axis, so the tiles under the box's 4
  corners are every tile it overlaps: at most 4. The edge is then more
  than 2 × cutoff_m; for 5 km it is res 6 (0.2°).
- Exchange. Each query row goes to its distinct corner tiles, each
  target row to its own tile; both sides travel in ONE frame (``is_q``
  tells them apart) through ONE shuffle on (tile, sub) into
  ``mapInArrow``. It carries at most 4 copies of a query and one copy of
  a target (more only in a split hot tile), never a candidate pair;
  tiles that hold no target, or that no query reaches, drop out before
  it. ``mapInArrow`` rather than a cogroup: a grouped pandas call costs
  ~20 ms per (tile, sub) group on a 4-core host, more than the kernel
  (Python stage 2.0-2.3 s vs 0.8-1.0 s at sf0.01).
- Kernel (``snap_tile``, per (tile, sub) group of a partition). Targets
  are sorted by fine cell id (a CSR grid probed with ``searchsorted``);
  with ``res=None`` the fine level comes from the tile's own occupancy.
  All open queries walk Chebyshev rings of fine cells outward from their
  own cell in lockstep, each stopping once its k-th best beats the inner
  edge of the next ring, its ring passes the cutoff, or its ring covers
  the tile. At most k rows (query_id, k, node_id, d2) leave per query
  per tile.
- Merge. ``row_number() OVER (PARTITION BY query_id ORDER BY d2,
  node_id)`` keeps the best k across the query's tiles (W1 deterministic
  ties).
- Hot tiles. The kernel takes a tile's queries ``HOT_TILE_QUERIES`` at
  a time, so one call's arrays stay bounded however dense the tile. A
  tile with more queries than that is also split for parallelism: its
  queries hash into ``min(partitions, ceil(nq / HOT_TILE_QUERIES))``
  sub-buckets and its targets are copied to each, so the copies never
  exceed one per kernel partition.
- Memory. Each kernel partition arrives sorted on (tile, sub) and is
  consumed one Arrow batch at a time; a group runs as soon as the next
  one starts, so a task holds one batch plus one group, not its whole
  partition.

Ranking uses the reference's equirectangular metric with FIXED constants
(spatial.rs:226-230) — pure arithmetic on fixed-point ints, bit-identical
across Spark / numpy / DuckDB, so ranks match the SQL oracle exactly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import cells
from ..geo import E7, M_PER_DEG_LAT, M_PER_DEG_LON, equirect_d2_np, equirect_d2_sql

CUTOFF_M = 5_000.0  # reference SNAP_CUTOFF (spatial.rs:9)
# density rule for res=None: the coarsest fine level whose mean occupancy
# over occupied cells is at most this many targets
TARGETS_PER_CELL = 16
# queries per kernel call: the lockstep ring arrays grow with it. On the
# heaviest tile of the seed-42 sf1 fixtures (14 461 queries x 142 010
# targets, 4-core host) 16k / 8k / 4k / 2k queries per call peaked at
# 253 / 134 / 72 / 40 MB of numpy memory in 6.0 / 5.3 / 4.9 / 5.0 s. A
# tile with more queries is also split into query sub-buckets that
# spread over the kernel's partitions.
HOT_TILE_QUERIES = 4096


def _box_e7(cutoff_m: float) -> tuple[int, int]:
    """Half-widths (lon, lat) of a query's routing box in 1e-7 degrees."""
    return int(cutoff_m / M_PER_DEG_LON * 1e7) + 1, int(cutoff_m / M_PER_DEG_LAT * 1e7) + 1


def tile_res(cutoff_m: float) -> int:
    """Finest cell level whose edge is at least the routing box's width."""
    width = 2 * max(_box_e7(cutoff_m))
    for r in range(cells.RES_MAX, cells.RES_MIN - 1, -1):
        if cells.SIZE_E7[r] >= width:
            return r
    raise ValueError(f"cutoff {cutoff_m} m is wider than the coarsest cell")


def _fine_res(tlon: np.ndarray, tlat: np.ndarray, coarsest: int) -> int:
    x, y = cells.xy_np(tlon, tlat, cells.RES_MAX)
    for r in range(coarsest, cells.RES_MAX):
        d = cells.RES_MAX - r
        if len(x) <= TARGETS_PER_CELL * np.unique(((y >> d) << 32) | (x >> d)).size:
            return r
    return cells.RES_MAX


def snap_tile(
    qlon: np.ndarray,
    qlat: np.ndarray,
    qk: np.ndarray,
    tid: np.ndarray,
    tlon: np.ndarray,
    tlat: np.ndarray,
    cutoff_m: float,
    res: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Best ``qk[i]`` targets of one tile for every query ``i`` within
    ``cutoff_m``, by (d2, node id). Returns (query index, node id, d2);
    rows of one query are in rank order."""
    tid = np.asarray(tid)
    if len(qk) == 0 or len(tid) == 0:
        return np.empty(0, np.int64), tid[:0], np.empty(0, np.float64)
    if res is None:
        res = _fine_res(tlon, tlat, tile_res(cutoff_m))
    size = cells.SIZE_E7[res]
    tx, ty = cells.xy_np(tlon, tlat, res)
    gx0, gx1, gy0, gy1 = tx.min(), tx.max(), ty.min(), ty.max()
    width = gx1 - gx0 + 1
    key = (ty - gy0) * width + (tx - gx0)
    order = np.argsort(key, kind="stable")
    key, tid, tlon, tlat = key[order], tid[order], tlon[order], tlat[order]

    qk = np.asarray(qk, dtype=np.int64)
    qx, qy = cells.xy_np(qlon, qlat, res)
    # rings below the first that reaches the targets' cell range are empty;
    # the last ring covers the whole range
    ring = np.maximum.reduce([gx0 - qx, qx - gx1, gy0 - qy, qy - gy1, np.zeros_like(qx)])
    last = np.maximum.reduce([qx - gx0, gx1 - qx, qy - gy0, gy1 - qy])
    c2 = cutoff_m * cutoff_m
    min_m_per_deg = min(M_PER_DEG_LON, M_PER_DEG_LAT)

    open_q = np.flatnonzero(qk > 0)
    # running top-k of the open queries, sorted by (query, d2, node id),
    # and each query's k-th best d2 once it has k (inf before)
    bq, bn, bd = np.empty(0, np.int64), tid[:0], np.empty(0, np.float64)
    kth = np.full(len(qk), np.inf)
    done_q, done_n, done_d = [], [], []
    while open_q.size:
        r = ring[open_q]
        # perimeter cells of ring r: four sides of 2r cells (one cell at r = 0)
        n = np.where(r == 0, 1, 8 * r)
        qi = np.repeat(open_q, n)
        rr = np.repeat(r, n)
        side, pos = np.divmod(np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n), np.maximum(2 * rr, 1))
        a = pos - rr
        cx = qx[qi] + np.choose(side, [a, rr, -a, -rr])
        cy = qy[qi] + np.choose(side, [-rr, a, rr, -a])
        inside = (cx >= gx0) & (cx <= gx1) & (cy >= gy0) & (cy <= gy1)
        qi, ck = qi[inside], (cy[inside] - gy0) * width + (cx[inside] - gx0)
        lo = np.searchsorted(key, ck, "left")
        m = np.searchsorted(key, ck, "right") - lo
        pq = np.repeat(qi, m)
        pt = np.arange(m.sum()) - np.repeat(np.cumsum(m) - m, m) + np.repeat(lo, m)
        d2 = equirect_d2_np(qlon[pq], qlat[pq], tlon[pt], tlat[pt])
        # a query's full top-k only takes candidates at or below its k-th
        hit = (d2 <= c2) & (d2 <= kth[pq])

        aq = np.concatenate([bq, pq[hit]])
        an = np.concatenate([bn, tid[pt[hit]]])
        ad = np.concatenate([bd, d2[hit]])
        o = np.lexsort((an, ad, aq))
        aq, an, ad = aq[o], an[o], ad[o]
        idx = np.arange(len(aq))
        start = np.maximum.accumulate(np.where(np.r_[True, aq[1:] != aq[:-1]], idx, 0))
        keep = idx - start < qk[aq]
        bq, bn, bd = aq[keep], an[keep], ad[keep]

        kth = np.full(len(qk), np.inf)
        ends = np.r_[bq[1:] != bq[:-1], True] if len(bq) else np.empty(0, bool)
        kth[bq[ends]] = bd[ends]
        kth[np.bincount(bq, minlength=len(qk)) < qk] = np.inf
        # every unexplored target lies >= r * size + 1 units away on one axis
        b = (r * size + 1).astype(np.float64) * min_m_per_deg / E7
        bound2 = b * b
        fin = (kth[open_q] < bound2) | (bound2 > c2) | (r >= last[open_q])
        is_fin = np.zeros(len(qk), bool)
        is_fin[open_q[fin]] = True
        emit = is_fin[bq]
        done_q.append(bq[emit])
        done_n.append(bn[emit])
        done_d.append(bd[emit])
        bq, bn, bd = bq[~emit], bn[~emit], bd[~emit]
        open_q = open_q[~fin]
        ring[open_q] += 1
    if not done_q:
        return np.empty(0, np.int64), tid[:0], np.empty(0, np.float64)
    return np.concatenate(done_q), np.concatenate(done_n), np.concatenate(done_d)


def _route(queries: DataFrame, targets: DataFrame, cutoff_m: float, target_id: str, parts: int) -> DataFrame:
    """Queries (``is_q``, one row per corner tile) and targets (one row per
    tile, or per sub-bucket of a split tile) in one frame keyed on
    (tile, sub); only tiles with both sides survive. Built from SQL
    strings: each Column call is a JVM round trip at plan time."""
    hx, hy = _box_e7(cutoff_m)
    tres = tile_res(cutoff_m)
    corners = ", ".join(
        cells.cell_sql(f"(CAST(lon_e7 AS BIGINT) + {dx})", f"(CAST(lat_e7 AS BIGINT) + {dy})", tres, "spark")
        for dx in (-hx, hx)
        for dy in (-hy, hy)
    )
    q = queries.selectExpr("query_id", "k", "lon_e7", "lat_e7", f"explode(array_distinct(array({corners}))) AS tile")
    t = targets.selectExpr(
        f"`{target_id}` AS node_id", "lon_e7", "lat_e7", f"{cells.cell_sql('lon_e7', 'lat_e7', tres, 'spark')} AS tile"
    )
    # the load table holds at most 4 rows per query (a bounded request batch)
    load = F.broadcast(
        q.selectExpr("tile", "1 AS nq", "0 AS nt")
        .unionByName(t.selectExpr("tile", "0 AS nq", "1 AS nt"))
        .groupBy("tile")
        .agg(F.expr("sum(nq) AS nq"), F.expr("sum(nt) AS nt"))
        .where("nq > 0 AND nt > 0")
        .selectExpr("tile", f"CAST(least({parts}, ceil(nq / {HOT_TILE_QUERIES})) AS INT) AS nsub")
    )
    q = q.join(load, "tile").selectExpr("*", "true AS is_q", "pmod(hash(query_id), nsub) AS sub")
    t = t.join(load, "tile").selectExpr("*", "false AS is_q", "explode(sequence(0, nsub - 1)) AS sub")
    return q.unionByName(t, allowMissingColumns=True).drop("nsub")


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    res: int | None = None,
    cutoff_m: float = CUTOFF_M,
    target_id: str = "id",
) -> DataFrame:
    """Top-k nearest targets per query point under the snap cutoff.

    ``queries`` has (query_id, lon_e7, lat_e7, k); ``targets`` has an
    integer id column ``target_id`` and lon_e7, lat_e7. ``res`` pins the
    kernel's fine grid level; ``None`` sizes it per tile from the tile's
    occupancy. Results are identical at every level.

    Output: (query_id, rank, node_id, dist_m) — rank 1-based by
    (d2, node_id); dist_m rounded to mm. Queries with no target inside
    the cutoff produce no rows (reference empty-snap semantics). The
    frame is lazy: nothing runs and nothing is cached until it is used.
    """
    if res is not None and not cells.RES_MIN <= res <= cells.RES_MAX:
        raise ValueError(f"resolution {res} out of [{cells.RES_MIN},{cells.RES_MAX}]")
    # one Python task per scheduler slot: each task has a fixed cost that
    # outweighs the kernel here (warm knn_join on 4 cores with 4 / 8 / 32
    # tasks: sf0.01 2.7 / 2.6 / 5.0 s, sf0.1 3.2 / 3.6 / 5.9 s); an explicit
    # count also keeps AQE from coalescing the stage into one serial task
    n = queries.sparkSession.sparkContext.defaultParallelism
    rows = _route(queries, targets, cutoff_m, target_id, n)

    def snap(batches):
        # rows come sorted on (tile, sub): run the complete groups of each
        # batch and hold back only the last one, which may continue
        held = []
        for b in batches:
            if b.num_rows == 0:
                continue
            tile, sub = b.column("tile").to_numpy(), b.column("sub").to_numpy()
            other = np.flatnonzero((tile != tile[-1]) | (sub != sub[-1]))
            cut = other[-1] + 1 if other.size else 0
            if cut:
                yield run(pa.Table.from_batches(held + [b.slice(0, cut)]))
                held = []
            held.append(b.slice(cut))
        if held:
            yield run(pa.Table.from_batches(held))

    def run(tbl):
        tile, sub = tbl["tile"].to_numpy(), tbl["sub"].to_numpy()
        is_q = tbl["is_q"].to_numpy(zero_copy_only=False)
        lon, lat = tbl["lon_e7"].to_numpy(), tbl["lat_e7"].to_numpy()
        k, node = tbl["k"].fill_null(0).to_numpy(), tbl["node_id"].fill_null(0).to_numpy()
        qrows, nodes, d2s = [], [], []
        for g in np.split(np.arange(len(tile)), np.flatnonzero(np.diff(tile) | np.diff(sub)) + 1):
            gq, gt = g[is_q[g]], g[~is_q[g]]
            for c in np.array_split(gq, max(1, -(-len(gq) // HOT_TILE_QUERIES))):
                qi, nd, d2 = snap_tile(lon[c], lat[c], k[c], node[gt], lon[gt], lat[gt], cutoff_m, res)
                qrows.append(c[qi])
                nodes.append(nd)
                d2s.append(d2)
        r = pa.array(np.concatenate(qrows))
        return pa.RecordBatch.from_arrays(
            [
                tbl["query_id"].take(r).combine_chunks(),
                tbl["k"].take(r).combine_chunks(),
                pa.array(np.concatenate(nodes), type=tbl.schema.field("node_id").type),
                pa.array(np.concatenate(d2s), type=pa.float64()),
            ],
            names=["query_id", "k", "node_id", "d2"],
        )

    schema = StructType(
        [rows.schema["query_id"], rows.schema["k"], rows.schema["node_id"], StructField("d2", DoubleType())]
    )
    best = rows.repartition(n, "tile", "sub").sortWithinPartitions("tile", "sub").mapInArrow(snap, schema)
    return (
        best.selectExpr("*", "row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id) AS rank")
        .where("rank <= k")
        .selectExpr("query_id", "CAST(rank AS INT) AS rank", "node_id", "round(sqrt(d2), 3) AS dist_m")
    )


def knn_oracle_sql(fix: str, cutoff_m: float = CUTOFF_M) -> str:
    """Brute-force oracle with bbox prefilter; identical metric/tie-break."""
    d2 = equirect_d2_sql("q.lon_e7", "q.lat_e7", "n.lon_e7", "n.lat_e7")
    dlon = int(cutoff_m / M_PER_DEG_LON * 1e7)
    dlat = int(cutoff_m / M_PER_DEG_LAT * 1e7)
    return f"""
WITH cand AS (
  SELECT q.query_id, q.k, n.id AS node_id, {d2} AS d2
  FROM read_parquet('{fix}/query_points.parquet') q
  JOIN read_parquet('{fix}/osm_nodes.parquet') n
    ON n.lon_e7 BETWEEN q.lon_e7 - {dlon} AND q.lon_e7 + {dlon}
   AND n.lat_e7 BETWEEN q.lat_e7 - {dlat} AND q.lat_e7 + {dlat}
), ranked AS (
  SELECT query_id, k, node_id, d2,
         row_number() OVER (PARTITION BY query_id ORDER BY d2, node_id) AS rank
  FROM cand WHERE d2 <= {cutoff_m * cutoff_m!r})
SELECT query_id, CAST(rank AS INT) AS rank, node_id, round(sqrt(d2), 3) AS dist_m
FROM ranked WHERE rank <= k
"""
