"""Hierarchical integer grid cells — the engine's spatial index keystone.

A from-scratch, dependency-free analog of the reference's uniform snap
grid (reference route/src/server/snap_index.rs:183-254 ``floor_to_cell``)
and its 0.1-degree region tiles (route/src/formats/region_tiles.rs:53-64,
packed ``(y<<32|x)`` u64 ids). We generalize both into ONE power-of-two
hierarchy so parent/child/k-ring are exact integer ops:

- resolution ``r`` in [0, 13]; cell edge at res 7 is exactly 0.1 degrees
  (= 1_000_000 fixed-point 1e-7 units — the reference's region-tile size);
  each +1 resolution halves the edge. Res 12 ~ 347 m, res 13 ~ 174 m.
- coordinates are fixed-point i32 at 1e-7 degrees end-to-end
  (route/src/formats/nodes_sa.rs:37 ``SCALE = 10_000_000``), so cell
  assignment is EXACT integer math — identical in numpy, Spark SQL and
  DuckDB SQL, which is what makes every spatial join oracle-checkable.
- cell id packs ``(res << 56) | (y << 28) | (x)`` into an int64
  (mirrors region_tiles.rs:60-64 packing; x,y < 2^28 for all res <= 13).

Everything downstream (PIP, kNN, tile cover) is an equi-join on these ids,
which Catalyst treats as a plain shuffle/broadcast hash join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_MIN = 0
RES_MAX = 13
# Fixed-point scale: 1e-7 degrees per unit (reference nodes_sa.rs:37).
E7 = 10_000_000
# Offsets make packed x/y non-negative so truncating int division == floor.
OFF_LON_E7 = 1_800_000_000
OFF_LAT_E7 = 900_000_000
X_BITS = 28
Y_SHIFT = 28
RES_SHIFT = 56
X_MASK = (1 << X_BITS) - 1
Y_MASK = (1 << (RES_SHIFT - Y_SHIFT)) - 1

# Cell edge length in 1e-7-degree units per resolution. Res 7 = 0.1 deg
# exactly; all sizes are exact integers (that is why RES_MAX is 13).
SIZE_E7 = tuple(
    1_000_000 * 2 ** (7 - r) if r <= 7 else 1_000_000 // 2 ** (r - 7) for r in range(RES_MAX + 1)
)


# ---------------------------------------------------------------------------
# numpy kernels (used inside pandas UDFs and fixture generation)
# ---------------------------------------------------------------------------


def xy_np(lon_e7: np.ndarray, lat_e7: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    s = SIZE_E7[res]
    x = (lon_e7.astype(np.int64) + OFF_LON_E7) // s
    y = (lat_e7.astype(np.int64) + OFF_LAT_E7) // s
    return x, y


def pack_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    return (np.int64(res) << RES_SHIFT) | (y.astype(np.int64) << Y_SHIFT) | x.astype(np.int64)


def cell_np(lon_e7: np.ndarray, lat_e7: np.ndarray, res: int) -> np.ndarray:
    x, y = xy_np(lon_e7, lat_e7, res)
    return pack_np(x, y, res)


def unpack_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = cell.astype(np.int64)
    res = cell >> RES_SHIFT
    y = (cell >> Y_SHIFT) & Y_MASK
    x = cell & X_MASK
    return x, y, res


def parent_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Exact parent cell: sizes are power-of-two multiples, so x >> dr."""
    x, y, res = unpack_np(np.asarray(cell))
    dr = res - parent_res
    if np.any(dr < 0):
        raise ValueError("parent_res must be <= cell res")
    return pack_np(x >> dr, y >> dr, parent_res)


def cell_py(lon_e7: int, lat_e7: int, res: int) -> int:
    s = SIZE_E7[res]
    x = (lon_e7 + OFF_LON_E7) // s
    y = (lat_e7 + OFF_LAT_E7) // s
    return (res << RES_SHIFT) | (y << Y_SHIFT) | x


def cover_bbox_py(
    min_lon_e7: int, min_lat_e7: int, max_lon_e7: int, max_lat_e7: int, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """All (x, y) cells whose area intersects the closed bbox."""
    s = SIZE_E7[res]
    x0 = (min_lon_e7 + OFF_LON_E7) // s
    x1 = (max_lon_e7 + OFF_LON_E7) // s
    y0 = (min_lat_e7 + OFF_LAT_E7) // s
    y1 = (max_lat_e7 + OFF_LAT_E7) // s
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return gx.ravel(), gy.ravel()


def cell_bounds_py(cell: int) -> tuple[int, int, int, int]:
    """(min_lon_e7, min_lat_e7, max_lon_e7_excl, max_lat_e7_excl) — half-open,
    matching the reference's floor_to_cell convention (snap_index.rs:327-336)."""
    res = cell >> RES_SHIFT
    y = (cell >> Y_SHIFT) & Y_MASK
    x = cell & X_MASK
    s = SIZE_E7[res]
    return (
        x * s - OFF_LON_E7,
        y * s - OFF_LAT_E7,
        (x + 1) * s - OFF_LON_E7,
        (y + 1) * s - OFF_LAT_E7,
    )


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side, whole-stage-codegen'd — no UDF)
# ---------------------------------------------------------------------------


def cell_col(lon_e7: Column | str, lat_e7: Column | str, res: int) -> Column:
    """Cell id as a pure Column expression — stays inside codegen."""
    lon = F.col(lon_e7) if isinstance(lon_e7, str) else lon_e7
    lat = F.col(lat_e7) if isinstance(lat_e7, str) else lat_e7
    s = SIZE_E7[res]
    x = (lon.cast("long") + F.lit(OFF_LON_E7)) / F.lit(s)
    y = (lat.cast("long") + F.lit(OFF_LAT_E7)) / F.lit(s)
    # operands are non-negative -> floor == truncating integer division
    xi = F.floor(x).cast("long")
    yi = F.floor(y).cast("long")
    return (F.lit(res << RES_SHIFT) + yi * F.lit(1 << Y_SHIFT) + xi).cast("long")


def neighbor_col(cell: Column | str, dx: int, dy: int) -> Column:
    """Shift a packed cell id by (dx, dy) grid steps — pure arithmetic."""
    c = F.col(cell) if isinstance(cell, str) else cell
    return (c + F.lit(dy * (1 << Y_SHIFT) + dx)).cast("long")


# ---------------------------------------------------------------------------
# Portable SQL fragments (Spark SQL and DuckDB dialects) — used to build
# DuckDB oracle queries that compute the IDENTICAL cell ids.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Hilbert curve key (O2 locality sort, reference snap_index.rs:203-243
# Hilbert-sorted PackedPoints within cells). Standard xy2d walk, order 16:
# global lon/lat quantized to 16-bit x/y, then 16 unrolled rotate steps.
# Three parity-identical implementations: numpy (fixtures/UDF), Spark
# Column select-chain (JVM codegen), DuckDB SQL (oracle).
# ---------------------------------------------------------------------------

HILBERT_ORDER = 16
# integer quantizers: (lon_e7+OFF)//DIV in [0, 65535] for the full domain
HILBERT_DIV_LON = 3_600_000_000 // (1 << HILBERT_ORDER) + 1
HILBERT_DIV_LAT = 1_800_000_000 // (1 << HILBERT_ORDER) + 1


def hilbert_xy_np(lon_e7: np.ndarray, lat_e7: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x = (lon_e7.astype(np.int64) + OFF_LON_E7) // HILBERT_DIV_LON
    y = (lat_e7.astype(np.int64) + OFF_LAT_E7) // HILBERT_DIV_LAT
    return x, y


def hilbert_np(x: np.ndarray, y: np.ndarray, order: int = HILBERT_ORDER) -> np.ndarray:
    """Vectorized xy2d Hilbert distance for x, y in [0, 2^order)."""
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = 1 << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: only where ry == 0
        flip = (ry == 0) & (rx == 1)
        x2 = np.where(flip, s - 1 - x, x)
        y2 = np.where(flip, s - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y2, x2), np.where(swap, x2, y2)
        s >>= 1
    return d


def with_hilbert(df, lon_e7: str = "lon_e7", lat_e7: str = "lat_e7", out: str = "hilbert"):
    """Append a Hilbert key column via an Arrow-vectorized pandas UDF over
    the shared numpy kernel (the index-encoder shape the north rule
    sanctions). An unrolled pure-Column chain was tried first and is
    parity-identical, but Catalyst's CollapseProject re-inlines the 16
    rotate steps into an exponential expression tree (16 s to optimize a
    toy plan) — the batched UDF plans in milliseconds and the kernel is
    a handful of vectorized int ops per batch."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _hilbert(lon, lat):
        hx, hy = hilbert_xy_np(lon.to_numpy(), lat.to_numpy())
        import pandas as pd

        return pd.Series(hilbert_np(hx, hy))

    return df.withColumn(out, _hilbert(F.col(lon_e7), F.col(lat_e7)))


def hilbert_oracle_cte(src: str, lon_e7: str = "lon_e7", lat_e7: str = "lat_e7") -> str:
    """DuckDB chained-CTE computing the identical Hilbert key. ``src`` is a
    relation exposing the coordinate columns plus anything to carry through
    (carried columns must be SELECTed by the caller from the final CTE
    ``hfin`` alongside ``hd``)."""
    steps = [
        f"h{HILBERT_ORDER} AS (SELECT *, "
        f"(CAST({lon_e7} AS BIGINT) + {OFF_LON_E7}) // {HILBERT_DIV_LON} AS hx, "
        f"(CAST({lat_e7} AS BIGINT) + {OFF_LAT_E7}) // {HILBERT_DIV_LAT} AS hy, "
        f"CAST(0 AS BIGINT) AS hd FROM {src})"
    ]
    prev = f"h{HILBERT_ORDER}"
    for b in range(HILBERT_ORDER - 1, -1, -1):
        s = 1 << b
        nxt = f"h{b}"
        rx = f"((hx >> {b}) & 1)"
        ry = f"((hy >> {b}) & 1)"
        steps.append(
            f"{nxt} AS (SELECT * REPLACE ("
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END) ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END) ELSE hy END AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd) FROM {prev})"
        )
        prev = nxt
    steps.append(f"hfin AS (SELECT * FROM {prev})")
    return ",\n".join(steps)


def cell_sql(lon_e7: str, lat_e7: str, res: int, dialect: str = "duckdb") -> str:
    s = SIZE_E7[res]
    if dialect == "duckdb":
        x = f"((CAST({lon_e7} AS BIGINT) + {OFF_LON_E7}) // {s})"
        y = f"((CAST({lat_e7} AS BIGINT) + {OFF_LAT_E7}) // {s})"
    elif dialect == "spark":
        x = f"((CAST({lon_e7} AS BIGINT) + {OFF_LON_E7}) div {s})"
        y = f"((CAST({lat_e7} AS BIGINT) + {OFF_LAT_E7}) div {s})"
    else:
        raise ValueError(dialect)
    return f"(CAST({res << RES_SHIFT} AS BIGINT) + {y} * {1 << Y_SHIFT} + {x})"
