"""Raster ↔ vector operators: rasterize-to-tile and zonal statistics.

rasterize: point density burned into per-tile grids — groupBy(cell).count is
a map-side-combinable shuffle; the tile build is one applyInPandas over the
(already small) per-cell counts; tiles carry NODATA masks where no data fell.

zonal: tile ∩ zone candidates via broadcast equi-join on tile key, then one
pandas kernel doing {zone mask ∧ tile mask → masked partial (min,max,sum,n)}
with the erased-cells kernels, then an ordinary groupBy(zone).agg final
reduce — i.e. partial aggregation happens WHERE THE TILE LIVES, only tiny
partials shuffle (reference kernel reuse: MaskedCellBuffer.min_max / mask AND).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from erased_cells_spark.cells import CellBuffer, CellType, Mask, MaskedCellBuffer
from erased_cells_spark.operators.cells_expr import cell_key_expr
from erased_cells_spark.operators.pip import polygon_cover_keys
from erased_cells_spark.plans.tuning import local_df
from erased_cells_spark.spatial.geom import points_in_ring

TILE_OUT_SCHEMA = StructType(
    [
        StructField("tile_key", LongType(), False),
        StructField("cell_type", StringType(), False),
        StructField("cols", IntegerType(), False),
        StructField("rows", IntegerType(), False),
        StructField("data", BinaryType(), False),
        StructField("mask", BinaryType(), False),
    ]
)


def _tile_key_expr(cell: F.Column, res: int, tile_shift: int) -> F.Column:
    """Parent tile key: (iy >> s) * 2^(res-s) + (ix >> s) — plain arithmetic."""
    n = 1 << res
    tn = 1 << (res - tile_shift)
    iy = F.shiftright(cell.cast("long"), res)
    ix = cell.cast("long") - iy * F.lit(n)
    return F.shiftright(iy, tile_shift) * F.lit(tn) + F.shiftright(ix, tile_shift)


def rasterize_points(
    points: DataFrame,
    res: int = 10,
    tile_shift: int = 4,
    lon_col: str = "lon",
    lat_col: str = "lat",
    weight_col: str | None = None,
) -> DataFrame:
    """Point density raster: count (or sum of weight) per fine cell at `res`,
    packed into (2^tile_shift)² uint32/float64 tiles. Mask marks cells that
    received ≥1 point (NODATA elsewhere)."""
    n = 1 << res
    ts = 1 << tile_shift
    agg = F.sum(F.col(weight_col)).alias("v") if weight_col else F.count("*").alias("v")
    per_cell = (
        points.select(cell_key_expr(F.col(lon_col), F.col(lat_col), res).alias("cell"), *(
            [F.col(weight_col)] if weight_col else []
        ))
        .groupBy("cell")
        .agg(agg)
    )
    dtype = "Float64" if weight_col else "UInt32"
    np_dtype = np.float64 if weight_col else np.uint32
    with_tile = per_cell.withColumn("tile_key", _tile_key_expr(F.col("cell"), res, tile_shift))

    # JVM-side grouping (collect_list of one struct keeps cell/value rows
    # aligned), then ONE mapInPandas batch burns MANY tiles: the r7
    # groupBy().applyInPandas paid a per-group pandas round-trip (~2 ms x
    # one group per tile — half the rasterize wall time at sf0.1). The
    # scatter into the grid is order-independent (cells are unique per
    # tile after the per-cell aggregate), so tile bytes are identical.
    packed = with_tile.groupBy("tile_key").agg(
        F.collect_list(F.struct("cell", "v")).alias("cv")
    )

    def burn_batch(it):
        cols = ["tile_key", "cell_type", "cols", "rows", "data", "mask"]
        for pdf in it:
            rows = []
            for tile_key, cv in zip(pdf["tile_key"], pdf["cv"]):
                grid = np.zeros((ts, ts), dtype=np_dtype)
                mask = np.zeros((ts, ts), dtype=bool)
                cells = np.fromiter((e["cell"] for e in cv), np.int64, len(cv))
                vals = np.fromiter((e["v"] for e in cv), np.float64, len(cv))
                iy = cells // n
                ix = cells - iy * n
                ly, lx = iy % ts, ix % ts
                grid[ly, lx] = vals.astype(np_dtype)
                mask[ly, lx] = True
                rows.append(
                    {
                        "tile_key": int(tile_key),
                        "cell_type": dtype,
                        "cols": ts,
                        "rows": ts,
                        "data": grid.tobytes(),
                        "mask": mask.astype(np.uint8).tobytes(),
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return packed.mapInPandas(burn_batch, TILE_OUT_SCHEMA)


PARTIAL_SCHEMA = StructType(
    [
        StructField("poly_id", IntegerType(), False),
        StructField("p_min", DoubleType(), True),
        StructField("p_max", DoubleType(), True),
        StructField("p_sum", DoubleType(), False),
        StructField("p_cnt", LongType(), False),
    ]
)


def _tile_cell_centers(tile_key: int, res: int, tile_shift: int):
    """(lon, lat) centers of each cell in the tile, shape (ts, ts)."""
    n = 1 << res
    ts = 1 << tile_shift
    tn = 1 << (res - tile_shift)
    tiy, tix = divmod(tile_key, tn)
    ix0, iy0 = tix * ts, tiy * ts
    xs = (ix0 + np.arange(ts) + 0.5) / n * 360.0 - 180.0
    ys = (iy0 + np.arange(ts) + 0.5) / n * 180.0 - 90.0
    return np.meshgrid(xs, ys)


def _zonal_partials(
    tiles: DataFrame, polygons: list[dict], res: int, tile_shift: int, fold, schema
) -> DataFrame:
    """The zonal operators' shared plan: tiles ⋈ broadcast (poly_id,
    tile_key), then one mapInPandas calling fold(poly_id, buf, mask) per
    pair, where mask = tile NODATA mask AND cell centre in the zone ring.

    Each zone's tile keys are its polygon cover at TILE resolution
    (res − tile_shift), not fine cells projected onto tiles: a tile holding
    an in-zone cell centre intersects the ring, and the mask applies the
    exact centre-in-ring test. The pairs are driver-side metadata, so they
    travel as an Arrow LocalRelation (no Python-worker tasks)."""
    rows = [
        (int(p["poly_id"]), int(t))
        for p in polygons
        for t in polygon_cover_keys(p["ring"], res - tile_shift).tolist()
    ]
    ztiles = local_df(tiles.sparkSession, rows, "poly_id INT, tile_key BIGINT")
    rings = {int(p["poly_id"]): np.asarray(p["ring"], np.float64) for p in polygons}

    def partials(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples(index=False):
            buf = CellBuffer.from_bytes(r.data, CellType.parse(r.cell_type))
            gx, gy = _tile_cell_centers(int(r.tile_key), res, tile_shift)
            zone = points_in_ring(gx.ravel(), gy.ravel(), rings[int(r.poly_id)])
            out.extend(fold(int(r.poly_id), buf, Mask(Mask.from_bytes(r.mask).data & zone)))
        return pd.DataFrame(out, columns=schema.names)

    cand = tiles.join(F.broadcast(ztiles), "tile_key")
    return cand.mapInPandas(lambda it: (partials(pdf) for pdf in it), schema)


def zonal_stats(
    tiles: DataFrame,
    polygons: list[dict],
    res: int = 10,
    tile_shift: int = 4,
) -> DataFrame:
    """Zonal min/max/mean/sum/count of a tiled raster under each polygon.
    Zone membership of a cell = its CENTER in the polygon (one convention,
    shared with the oracle). Candidate (zone, tile) pairs come from the
    polygon cover at tile grain, and the exact centre-in-ring test runs
    per (tile, zone) in the pandas kernel (_zonal_partials)."""

    def fold(poly_id: int, buf: CellBuffer, mask: Mask) -> list[dict]:
        m = MaskedCellBuffer(buf, mask)
        d, _ = m.counts()
        if d == 0:
            return []
        lo, hi = m.min_max()  # mask-aware reference kernel
        s = float(buf.data.astype(np.float64)[mask.data].sum())
        return [{"poly_id": poly_id, "p_min": float(lo.v), "p_max": float(hi.v),
                 "p_sum": s, "p_cnt": int(d)}]

    part = _zonal_partials(tiles, polygons, res, tile_shift, fold, PARTIAL_SCHEMA)
    return (
        part.groupBy("poly_id")
        .agg(
            F.min("p_min").alias("z_min"),
            F.max("p_max").alias("z_max"),
            F.sum("p_sum").alias("z_sum"),
            F.sum("p_cnt").alias("z_count"),
        )
        .withColumn("z_mean", F.col("z_sum") / F.col("z_count"))
        .orderBy("poly_id")
    )


def focal_mean(
    cells: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "n",
) -> DataFrame:
    """FOCAL (3×3 neighborhood) mean over a sparse cell grid — the raster
    map-algebra smoothing op (GDAL focal statistics): for every lit cell,
    the mean of the values of the ≤9 LIT cells in its Moore neighborhood
    (sparse convention: absent cells don't contribute zeros — matching
    zonal_stats' masked-cell convention).

    Pure JVM: each lit cell EXPLODES its 9 neighbor target offsets
    (lon wraps, lat rows clamp — same grid conventions as cell_key_expr)
    and a groupBy on the target cell folds sum/count; one shuffle of
    (cell, value) pairs ×9 — the classic halo-exchange cost, with no tile
    state and no Python. Returns (cell, focal_mean, n_neighbors) for lit
    cells only."""
    n = 1 << res
    src = cells.select(F.col(cell_col).alias("c"), F.col(value_col).alias("v"))
    # ix/iy of the source cell; targets = (iy+dy in bounds) × wrap(ix+dx)
    contrib = (
        src.withColumn("iy", F.expr(f"c div {n}"))
        .withColumn("ix", F.expr(f"c % {n}"))
        .withColumn("o", F.expr(
            "explode(flatten(transform(sequence(-1, 1), dy -> "
            "transform(sequence(-1, 1), dx -> named_struct('dx', dx, 'dy', dy)))))"
        ))
        .withColumn("ny", F.expr("iy + o.dy"))
        .filter(f"ny >= 0 AND ny < {n}")
        .select(F.expr(f"ny * {n} + pmod(ix + o.dx, {n})").alias("tgt"), "v")
    )
    agg = contrib.groupBy("tgt").agg(
        F.sum("v").alias("s"), F.count("*").alias("n_neighbors")
    )
    # only LIT cells appear in the output (the sparse-raster convention)
    return (
        cells.select(F.col(cell_col).alias("tgt"))
        .join(agg, "tgt")
        .select(
            F.col("tgt").alias(cell_col),
            (F.col("s").cast("double") / F.col("n_neighbors").cast("double")).alias(
                "focal_mean"
            ),
            "n_neighbors",
        )
    )


def horn_terrain(
    cells: DataFrame,
    res: int,
    cell_col: str = "cell",
    value_col: str = "n",
    sun_azimuth_deg: float = 315.0,
    sun_altitude_deg: float = 45.0,
) -> DataFrame:
    """Slope / aspect / hillshade over a sparse cell grid via Horn's
    8-neighbor kernel (the GDAL `gdaldem` operators, public method:
    Horn 1981, "Hill shading and the reflectance map"):

        gx = (z[+1,-1] + 2·z[+1,0] + z[+1,+1]) − (z[-1,-1] + 2·z[-1,0] + z[-1,+1])
        gy = (z[-1,+1] + 2·z[0,+1] + z[+1,+1]) − (z[-1,-1] + 2·z[0,-1] + z[+1,-1])

    i.e. per relative offset (dx, dy) the weights are wx = dx·(2−|dy|),
    wy = dy·(2−|dx|). Values are whatever the caller rasterized (here:
    integer doc counts → gx/gy are EXACT integer sums, the cross-engine
    anchor); slope/aspect/hillshade are the standard trig on top with
    cell size 1 grid unit:

        slope     = atan(sqrt(gx² + gy²) / 8)
        aspect    = atan2(gy, −gx)                      (trig-angle form)
        hillshade = max(0, 255·(cos z·cos slope
                       + sin z·sin slope·cos(az_math − aspect)))
        with z = radians(90 − altitude), az_math = radians(360 − azimuth + 90)

    Sparse convention, strict Horn window: only cells whose FULL 3×3
    neighborhood is lit get a gradient (n_window == 9) — matching the
    masked-cell discipline of zonal_stats; no zero-fill invents terrain at
    region edges.

    Scale shape: identical to focal_mean — each lit cell explodes its 9
    weighted neighbor targets (lon wraps, lat clamps), one groupBy folds
    (gx, gy, n_window); pure JVM halo exchange, shuffle volume 9×(cell,
    value), no tile state, no Python.
    """
    n = 1 << res
    src = cells.select(F.col(cell_col).alias("c"), F.col(value_col).cast("long").alias("v"))
    contrib = (
        src.withColumn("iy", F.expr(f"c div {n}"))
        .withColumn("ix", F.expr(f"c % {n}"))
        .withColumn("o", F.expr(
            "explode(flatten(transform(sequence(-1, 1), dy -> "
            "transform(sequence(-1, 1), dx -> named_struct('dx', dx, 'dy', dy)))))"
        ))
        # source at (target + (dx,dy)) ⇒ target = source − (dx,dy)
        .withColumn("ty", F.expr("iy - o.dy"))
        .filter(f"ty >= 0 AND ty < {n}")
        .select(
            F.expr(f"ty * {n} + pmod(ix - o.dx, {n})").alias("tgt"),
            (F.col("v") * F.expr("o.dx * (2 - abs(o.dy))")).alias("cx"),
            (F.col("v") * F.expr("o.dy * (2 - abs(o.dx))")).alias("cy"),
        )
    )
    agg = contrib.groupBy("tgt").agg(
        F.sum("cx").alias("gx"),
        F.sum("cy").alias("gy"),
        F.count("*").alias("n_window"),
    )
    import math

    zen = math.radians(90.0 - sun_altitude_deg)
    az = math.radians(360.0 - sun_azimuth_deg + 90.0)
    slope = F.atan(F.sqrt((F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")).cast("double")) / F.lit(8.0))
    aspect = F.atan2(F.col("gy").cast("double"), (-F.col("gx")).cast("double"))
    shade = F.lit(255.0) * (
        F.lit(math.cos(zen)) * F.cos(slope)
        + F.lit(math.sin(zen)) * F.sin(slope) * F.cos(F.lit(az) - aspect)
    )
    return (
        cells.select(F.col(cell_col).alias("tgt"))
        .join(agg, "tgt")
        .filter(F.col("n_window") == 9)
        .select(
            F.col("tgt").alias(cell_col),
            "gx",
            "gy",
            slope.alias("slope"),
            aspect.alias("aspect"),
            F.greatest(shade, F.lit(0.0)).alias("hillshade"),
        )
    )


def sql_horn_terrain(
    cells_cte: str,
    res: int,
    sun_azimuth_deg: float = 315.0,
    sun_altitude_deg: float = 45.0,
) -> str:
    """DuckDB twin of horn_terrain: identical offsets, weights, trig.
    `cells_cte` must expose (cell, n)."""
    import math

    n = 1 << res
    zen = math.radians(90.0 - sun_altitude_deg)
    az = math.radians(360.0 - sun_azimuth_deg + 90.0)
    return f"""
offs AS (SELECT dy, dx FROM (SELECT unnest(generate_series(-1, 1)) AS dy),
                            (SELECT unnest(generate_series(-1, 1)) AS dx)),
contrib AS (
  SELECT ((cell // {n}) - dy) * {n}
           + (((cell % {n}) - dx) + {n}) % {n} AS tgt,
         CAST(n AS BIGINT) * dx * (2 - abs(dy)) AS cx,
         CAST(n AS BIGINT) * dy * (2 - abs(dx)) AS cy
  FROM {cells_cte}, offs
  WHERE (cell // {n}) - dy >= 0 AND (cell // {n}) - dy < {n}
),
grad AS (
  SELECT tgt, sum(cx) AS gx, sum(cy) AS gy, count(*) AS n_window
  FROM contrib GROUP BY 1 HAVING count(*) = 9
),
terrain AS (
  SELECT tgt, gx, gy,
         atan(sqrt((gx * gx + gy * gy)::DOUBLE) / 8.0) AS slope,
         atan2(gy::DOUBLE, (-gx)::DOUBLE) AS aspect
  FROM grad
),
shaded AS (
  SELECT tgt, gx, gy, slope, aspect,
         greatest(255.0 * ({math.cos(zen)!r} * cos(slope)
           + {math.sin(zen)!r} * sin(slope) * cos({az!r} - aspect)), 0.0)
           AS hillshade
  FROM terrain
)"""


def polygonize_regions(
    cells: DataFrame,
    res: int,
    cell_col: str = "cell",
    weight_col: str = "n",
) -> DataFrame:
    """RASTER → VECTOR (GDAL polygonize twin): 4-connected regions of lit
    grid cells → (region_id = min cell id, n_cells, n_docs). The inverse of
    rasterize_points, completing the raster↔vector pair.

    Adjacency edges are built with TWO equi-self-joins (right neighbor
    cell+1 within the row, down neighbor cell+2^res) — pure JVM, no
    neighborhood explode — then resolved by the pointer-jumping
    connected-components operator; isolated lit cells come back as
    singleton regions via the left join. 4-connectivity does not wrap at
    the antimeridian (documented; matches the SQL oracle)."""
    from erased_cells_spark.operators.components import connected_components

    n = 1 << res
    a = cells.select(F.col(cell_col).alias("a"))
    b = cells.select(F.col(cell_col).alias("b"))
    right = a.filter(F.col("a") % n < n - 1).join(b, F.col("b") == F.col("a") + 1)
    down = a.join(b, F.col("b") == F.col("a") + F.lit(n))
    edges = right.unionByName(down).select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )
    cc = connected_components(edges, "id_a", "id_b").withColumnRenamed("node", cell_col)
    labeled = cells.join(cc, cell_col, "left").withColumn(
        "region", F.coalesce(F.col("component"), F.col(cell_col))
    )
    return (
        labeled.groupBy("region")
        .agg(F.count("*").alias("n_cells"), F.sum(weight_col).alias("n_docs"))
        .select(F.col("region").alias("region_id"), "n_cells", "n_docs")
        .orderBy("region_id")
    )


def idw_surface(
    points: DataFrame,
    radius_km: float,
    res: int,
    *,
    value_col: str = "value",
    lon_col: str = "lon",
    lat_col: str = "lat",
    power: float = 2.0,
    min_dist_km: float = 1.0,
) -> DataFrame:
    """Vector → raster INTERPOLATION (inverse-distance weighting): every
    grid-cell center at ``res`` (the 2^res x 2^res equirect grid of
    cells_expr) within ``radius_km`` of at least one point gets
    sum(v / d^p) / sum(1 / d^p) over the in-radius points, d clamped below
    by ``min_dist_km`` (the standard IDW spike guard at the sample point).

    The weighted surface complements rasterize_points (pure density burn):
    same grid, same cell keys, but a continuous field interpolated from
    sparse samples. Candidates come from operators/radius.radius_join
    against a GENERATED centers DataFrame (spark.range — never a driver
    list, never a cross join), so the plan is one exactly-once band/bucket
    equi-join + one groupBy(cell): both sides data-scaled, 100 TB-shaped.

    Returns (ix, iy, n_pts, idw) sorted by (ix, iy).
    """
    from erased_cells_spark.operators.radius import radius_join

    n = 1 << res
    spark = points.sparkSession
    centers = spark.range(n * n).select(
        F.col("id").alias("cid"),
        ((F.col("id") % n).cast("double") + 0.5) / n * 360.0 - 180.0,
        ((F.col("id") / n).cast("long").cast("double") + 0.5) / n * 180.0 - 90.0,
    ).toDF("cid", "clon", "clat")
    # radius_join carries (left id, right id, dist); the point's VALUE rides
    # as its id — the aggregation needs nothing else from the point row
    pairs = radius_join(
        points.select(
            F.col(value_col).cast("double").alias("v"), lon_col, lat_col
        ),
        centers,
        radius_km,
        left_id="v",
        right_id="cid",
        left_lon=lon_col,
        left_lat=lat_col,
        right_lon="clon",
        right_lat="clat",
    )
    w = F.lit(1.0) / F.pow(F.greatest(F.col("dist_km"), F.lit(min_dist_km)), F.lit(power))
    return (
        pairs.groupBy(F.col("id_b").alias("cid"))
        .agg(
            F.count("*").alias("n_pts"),
            (F.sum(F.col("id_a") * w) / F.sum(w)).alias("idw"),
        )
        .select(
            (F.col("cid") % n).cast("int").alias("ix"),
            (F.col("cid") / n).cast("long").cast("int").alias("iy"),
            "n_pts",
            "idw",
        )
        .orderBy("ix", "iy")
    )


HIST_PARTIAL_SCHEMA = StructType(
    [
        StructField("poly_id", IntegerType(), False),
        StructField("cell_value", LongType(), False),
        StructField("n_cells", LongType(), False),
    ]
)


def zonal_histogram(
    tiles: DataFrame,
    polygons: list[dict],
    res: int = 10,
    tile_shift: int = 4,
) -> DataFrame:
    """Zonal HISTOGRAM of a tiled integer raster: per zone, the frequency of
    each distinct cell value (gdal_rasterize → `gdalinfo -hist` shape, and
    the zonal companion of zonal_stats' scalar summaries — a distribution
    instead of min/max/mean). Zone membership shares zonal_stats'
    center-in-polygon convention; values come from the erased-cells tile
    kernels (mask AND between tile NODATA and zone), so only data cells
    count.

    Plan shape (identical to zonal_stats, _zonal_partials): broadcast
    tile-grain (poly_id, tile_key) join, one mapInPandas computing np.unique
    partials per (tile, zone) — each partial is at most |distinct values in tile| rows, so
    the shuffle carries histograms, never cells — then one groupBy
    (poly_id, value) final sum. Returns (poly_id, cell_value, n_cells)
    ordered by (poly_id, cell_value)."""

    def fold(poly_id: int, buf: CellBuffer, mask: Mask) -> list[dict]:
        uniq, cnt = np.unique(buf.data[mask.data], return_counts=True)
        return [
            {"poly_id": poly_id, "cell_value": int(v), "n_cells": int(c)}
            for v, c in zip(uniq.tolist(), cnt.tolist())
        ]

    part = _zonal_partials(tiles, polygons, res, tile_shift, fold, HIST_PARTIAL_SCHEMA)
    return (
        part.groupBy("poly_id", "cell_value")
        .agg(F.sum("n_cells").alias("n_cells"))
        .orderBy("poly_id", "cell_value")
    )


QUARTER_SCHEMA = StructType(
    [
        StructField("tile_key", LongType(), False),  # PARENT tile key
        StructField("qx", IntegerType(), False),
        StructField("qy", IntegerType(), False),
        StructField("data", BinaryType(), False),
        StructField("mask", BinaryType(), False),
    ]
)

CELLS_SCHEMA = StructType(
    [
        StructField("ix", LongType(), False),
        StructField("iy", LongType(), False),
        StructField("value", DoubleType(), False),
    ]
)


def downsample_tiles(tiles: DataFrame, res: int, tile_shift: int) -> DataFrame:
    """One overview level: every 2x2 block of DATA cells at ``res`` becomes
    one Float64 parent cell at ``res - 1`` holding the mask-aware block
    MEAN (NODATA children are skipped; all-NODATA blocks stay NODATA) —
    GDAL 'average' overview semantics on the erased-cells tile layout.

    2x2 blocks never straddle tiles (tile sides are even), so each child
    tile downsamples to one exact (ts/2)^2 quarter independently — no
    partial-sum merge — and a parent tile is assembled from <= 4 quarters
    by one groupBy(parent_key). Both stages are partition-local pandas
    kernels; the only shuffle carries quarter tiles (4x smaller than the
    input)."""
    if tile_shift < 1:
        raise ValueError("downsample needs tile_shift >= 1 (even tile sides)")
    if res <= tile_shift:
        raise ValueError(f"cannot downsample below one tile (res={res}, ts={tile_shift})")
    ts = 1 << tile_shift
    half = ts >> 1
    tn_child = 1 << (res - tile_shift)
    tn_par = tn_child >> 1

    def quarters(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples(index=False):
            buf = CellBuffer.from_bytes(r.data, CellType.parse(r.cell_type))
            d = buf.data.astype(np.float64).reshape(ts, ts)
            m = Mask.from_bytes(r.mask).data.reshape(ts, ts)
            db = d.reshape(half, 2, half, 2)
            mb = m.reshape(half, 2, half, 2)
            cnt = mb.sum(axis=(1, 3))
            s = (db * mb).sum(axis=(1, 3))
            qv = np.zeros((half, half), dtype=np.float64)
            np.divide(s, cnt, out=qv, where=cnt > 0)
            qm = cnt > 0
            if not qm.any():
                continue
            tiy, tix = divmod(int(r.tile_key), tn_child)
            pkey = (tiy >> 1) * tn_par + (tix >> 1)
            out.append(
                {
                    "tile_key": pkey, "qx": tix & 1, "qy": tiy & 1,
                    "data": qv.tobytes(), "mask": qm.astype(np.uint8).tobytes(),
                }
            )
        return pd.DataFrame(out, columns=["tile_key", "qx", "qy", "data", "mask"])

    q = tiles.mapInPandas(lambda it: (quarters(pdf) for pdf in it), QUARTER_SCHEMA)

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        grid = np.zeros((ts, ts), dtype=np.float64)
        mask = np.zeros((ts, ts), dtype=bool)
        for r in pdf.itertuples(index=False):
            y0, x0 = int(r.qy) * half, int(r.qx) * half
            grid[y0 : y0 + half, x0 : x0 + half] = np.frombuffer(
                r.data, np.float64
            ).reshape(half, half)
            mask[y0 : y0 + half, x0 : x0 + half] = (
                np.frombuffer(r.mask, np.uint8).reshape(half, half).astype(bool)
            )
        return pd.DataFrame(
            [
                {
                    "tile_key": int(key[0]), "cell_type": "Float64",
                    "cols": ts, "rows": ts,
                    "data": grid.tobytes(), "mask": mask.astype(np.uint8).tobytes(),
                }
            ]
        )

    return q.groupBy("tile_key").applyInPandas(assemble, TILE_OUT_SCHEMA)


def build_overviews(
    tiles: DataFrame, res: int, tile_shift: int, n_levels: int
) -> list[tuple[int, DataFrame]]:
    """Overview pyramid: [(res-1, tiles), (res-2, tiles), ...] — RECURSIVE
    averaging (level k averages level k-1, the GDAL default), each level 4x
    smaller than the last. Level plans chain lazily; callers materialize
    the levels they use."""
    out: list[tuple[int, DataFrame]] = []
    cur, r = tiles, res
    for _ in range(n_levels):
        cur = downsample_tiles(cur, r, tile_shift)
        r -= 1
        out.append((r, cur))
    return out


def tiles_to_cells(tiles: DataFrame, res: int, tile_shift: int) -> DataFrame:
    """Sparse (ix, iy, value) rows for every DATA cell of a tiled raster —
    the audit/export path back from tiles to the cell grid (values as
    Float64; mask rules which cells emit)."""
    ts = 1 << tile_shift
    tn = 1 << (res - tile_shift)

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for r in pdf.itertuples(index=False):
            buf = CellBuffer.from_bytes(r.data, CellType.parse(r.cell_type))
            m = Mask.from_bytes(r.mask).data.reshape(ts, ts)
            d = buf.data.astype(np.float64).reshape(ts, ts)
            ly, lx = np.nonzero(m)
            if ly.size == 0:
                continue
            tiy, tix = divmod(int(r.tile_key), tn)
            out.append(
                pd.DataFrame(
                    {
                        "ix": (tix * ts + lx).astype(np.int64),
                        "iy": (tiy * ts + ly).astype(np.int64),
                        "value": d[ly, lx],
                    }
                )
            )
        if not out:
            return pd.DataFrame({"ix": [], "iy": [], "value": []}).astype(
                {"ix": np.int64, "iy": np.int64, "value": np.float64}
            )
        return pd.concat(out, ignore_index=True)

    return tiles.mapInPandas(lambda it: (emit(pdf) for pdf in it), CELLS_SCHEMA)


def marching_cases(
    cells: DataFrame, iso: float, ix_col: str = "ix", iy_col: str = "iy",
    v_col: str = "value",
) -> DataFrame:
    """Marching-squares CASE extraction over a sparse cell grid — the
    contour half of the raster→vector family (polygonize_regions traces
    region membership; this classifies every 2x2 corner block against an
    iso threshold into the canonical 16-case table, from which contour
    segments follow mechanically: cases 0/15 none, the 5/10 saddles two,
    every other case one).

    Sparse-exact: only cells with value >= iso can set a corner bit, so
    each such cell EMITS its four (block, bit) memberships (c00 of
    (ix,iy), c10 of (ix-1,iy), c01 of (ix,iy-1), c11 of (ix-1,iy-1)) and
    one groupBy(block) sums the bits into the case index — absent and
    below-iso cells contribute bit 0 by construction, blocks with case 0
    never materialize. Pure JVM integer logic end to end; one shuffle on
    the block key (4x the >=iso cell count, skinny rows).

    Returns (bx, by, case_idx, n_segments) per non-empty block."""
    hot = cells.filter(F.col(v_col) >= F.lit(iso)).select(
        F.col(ix_col).alias("ix"), F.col(iy_col).alias("iy")
    )
    member = F.array(
        F.struct(F.col("ix").alias("bx"), F.col("iy").alias("by"), F.lit(1).alias("bit")),
        F.struct((F.col("ix") - 1).alias("bx"), F.col("iy").alias("by"), F.lit(2).alias("bit")),
        F.struct(F.col("ix").alias("bx"), (F.col("iy") - 1).alias("by"), F.lit(8).alias("bit")),
        F.struct((F.col("ix") - 1).alias("bx"), (F.col("iy") - 1).alias("by"), F.lit(4).alias("bit")),
    )
    blocks = hot.select(F.explode(member).alias("m")).select("m.bx", "m.by", "m.bit")
    case = (
        blocks.groupBy("bx", "by").agg(F.sum("bit").alias("case_idx"))
    )
    segs = (
        F.when(F.col("case_idx").isin(5, 10), F.lit(2))
        .when(F.col("case_idx").isin(0, 15), F.lit(0))
        .otherwise(F.lit(1))
    )
    return case.withColumn("n_segments", segs).orderBy("bx", "by")


# D8 direction codes (the ESRI/ArcGIS encoding): E=1, SE=2, S=4, SW=8,
# W=16, NW=32, N=64, NE=128, with +dy treated as south on the cell grid.
# w is the exactness weight: comparing an orthogonal drop d_o against a
# diagonal drop d_d over distance sqrt(2) is d_o > d_d/sqrt(2), i.e.
# 2*d_o^2 > d_d^2 on positive ints — so the sort key drop^2 * w (w=2
# orthogonal, w=1 diagonal) ranks steepness EXACTLY with no sqrt anywhere.
_D8_DIRS = [
    (1, 0, 1, 2), (1, 1, 2, 1), (0, 1, 4, 2), (-1, 1, 8, 1),
    (-1, 0, 16, 2), (-1, -1, 32, 1), (0, -1, 64, 2), (1, -1, 128, 1),
]


def d8_flow(cells: DataFrame, res: int) -> DataFrame:
    """D8 flow direction (the `gdaldem`/hydrology routing primitive) over
    a sparse lit-cell surface (cell, n): each cell routes to its
    steepest-DESCENT lit neighbor among the 8, encoded E=1..NE=128;
    cells with no lower lit neighbor are pits/flats (dir_code 0,
    to_cell NULL). Steepness comparison is the exact integer key
    drop^2 * (2 orthogonal | 1 diagonal) — see _D8_DIRS — with the
    standard direction-code tie-break, so routing is deterministic and
    cross-engine identical. The x axis wraps at the antimeridian (the
    grid's convention everywhere); y clips at the poles.

    Plan: one 8-way JVM explode, one equi-join back on the neighbor key
    (lit cells only — absent cells can't receive flow by definition),
    one per-cell window. No Python, no NLJ; the join and window share
    the cell-key shuffle."""
    from pyspark.sql import Window

    n = 1 << res
    dirs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                F.lit(code).alias("code"), F.lit(w).alias("w"),
            )
            for dx, dy, code, w in _D8_DIRS
        ]
    )
    c = cells.select(F.col("cell"), F.col("n").alias("z"))
    cand = (
        c.select("cell", "z", F.explode(dirs).alias("d"))
        .withColumn("ny", F.expr(f"cell div {n}") + F.col("d.dy"))
        .filter((F.col("ny") >= 0) & (F.col("ny") < n))
        .withColumn("nx", ((F.col("cell") % n) + F.col("d.dx") + n) % n)
        .select(
            "cell", "z", F.col("d.code").alias("code"), F.col("d.w").alias("w"),
            (F.col("ny") * n + F.col("nx")).alias("ncell"),
        )
    )
    tgt = cells.select(F.col("cell").alias("ncell"), F.col("n").alias("zn"))
    drops = (
        cand.join(tgt, "ncell")
        .filter(F.col("z") > F.col("zn"))
        .withColumn("drop", F.col("z") - F.col("zn"))
    )
    w_rank = Window.partitionBy("cell").orderBy(
        (F.col("drop") * F.col("drop") * F.col("w")).desc(), F.col("code")
    )
    best = (
        drops.withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") == 1)
        .select("cell", "code", "ncell", "drop")
    )
    return (
        cells.join(best, "cell", "left")
        .select(
            "cell",
            F.col("n").alias("n_docs"),
            F.coalesce(F.col("code"), F.lit(0)).cast("long").alias("dir_code"),
            F.col("ncell").alias("to_cell"),
            F.col("drop").alias("drop"),
        )
    )


def sql_d8_flow(cells_cte: str, res: int) -> str:
    """DuckDB twin of d8_flow: identical directions, wrap, exact key,
    tie-break. `cells_cte` must expose (cell, n)."""
    n = 1 << res
    dirs = ", ".join(f"({dx}, {dy}, {code}, {w})" for dx, dy, code, w in _D8_DIRS)
    return f"""
dirs(dx, dy, code, w) AS (VALUES {dirs}),
cand AS (
  SELECT c.cell, c.n AS z, d.code, d.w,
         ((c.cell // {n}) + d.dy) * {n} + (((c.cell % {n}) + d.dx) + {n}) % {n} AS ncell
  FROM {cells_cte} c, dirs d
  WHERE (c.cell // {n}) + d.dy >= 0 AND (c.cell // {n}) + d.dy < {n}
),
drops AS (
  SELECT cand.cell, cand.code, cand.ncell, cand.z - t.n AS drop, cand.w
  FROM cand JOIN {cells_cte} t ON t.cell = cand.ncell
  WHERE cand.z > t.n
),
ranked AS (
  SELECT cell, code, ncell, drop,
         row_number() OVER (PARTITION BY cell
                            ORDER BY drop * drop * w DESC, code) AS rn
  FROM drops
),
d8 AS (
  SELECT c.cell, c.n AS n_docs,
         coalesce(r.code, 0) AS dir_code, r.ncell AS to_cell, r.drop AS drop
  FROM {cells_cte} c
  LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.cell = c.cell
)"""


def d8_accumulation(flow: DataFrame) -> DataFrame:
    """Flow accumulation + watershed labeling over a d8_flow routing
    table — the two questions downstream of "where does each cell
    drain": HOW MUCH drains through each cell (upstream cell count and
    upstream doc load — the hydrology 'flow accumulation' / pollutant
    load analog), and INTO WHICH SINK (the basin label partitioning the
    surface into watersheds).

    The D8 forest is acyclic by construction (strictly decreasing z), so
    every cell has one path to one sink. Both outputs derive from the
    full downstream-reachability relation R = {(u, w): w strictly
    downstream of u}, built by POINTER DOUBLING: with J_k the exact
    2^k-step jump table and R_k covering distances 1..2^k,

        R_{k+1} = R_k UNION (J_k join R_k)   — distances 2^k+1..2^{k+1}
        J_{k+1} = J_k join J_k               — exactly 2^{k+1} steps

    Each pair lands at exactly one distance, so the union needs NO
    dedup shuffle; the loop runs ceil(log2(longest path)) rounds (driver
    checks only an emptiness scalar per round; lineage is cut with
    localCheckpoint — the components.py convention). Output size is
    sum of path lengths (O(cells * depth)); all counts/sums exact ints.

    Oracle twin: a DuckDB recursive CTE walks the same forest edge by
    edge — different algorithm, exact integer agreement
    (raster_flow_accumulation)."""
    sess = flow.sparkSession
    _CP_CONF = "spark.sql.constraintPropagation.enabled"
    prev_cp = sess.conf.get(_CP_CONF, "true")
    # Unions over localCheckpointed frames hit a Catalyst constraint-rewrite
    # bug (UnionBase.rewriteConstraints: "key not found: <attr>") — the
    # LogicalRDD keeps constraints referencing pre-checkpoint exprIds.
    # Constraint propagation buys nothing on these metadata-scale id pairs;
    # disable it for the duration and restore on exit.
    sess.conf.set(_CP_CONF, "false")
    try:
        return _d8_accumulation_inner(flow)
    finally:
        sess.conf.set(_CP_CONF, prev_cp)


def _d8_accumulation_inner(flow: DataFrame) -> DataFrame:
    edges = flow.filter(F.col("to_cell").isNotNull()).select(
        F.col("cell").alias("src"), F.col("to_cell").alias("dst")
    )
    reach = edges.localCheckpoint(eager=True)
    jump = reach
    while True:
        longer = (
            jump.alias("j")
            .join(reach.alias("r"), F.col("j.dst") == F.col("r.src"))
            .select(F.col("j.src").alias("src"), F.col("r.dst").alias("dst"))
        )
        jump2 = (
            jump.alias("a")
            .join(jump.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .localCheckpoint(eager=True)
        )
        new_rows = longer.localCheckpoint(eager=True)
        if new_rows.isEmpty():
            break
        reach = reach.unionAll(new_rows).localCheckpoint(eager=True)
        jump = jump2
        if jump.isEmpty():
            break
    ups = reach.groupBy(F.col("dst").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_upstream")
    )
    load = (
        reach.join(
            flow.select(F.col("cell").alias("src"), F.col("n_docs").alias("src_docs")),
            "src",
        )
        .groupBy(F.col("dst").alias("cell"))
        .agg(F.sum("src_docs").alias("docs_upstream"))
    )
    # basin without a Union (the returned plan outlives the constraint-
    # propagation guard in the wrapper): non-sinks get their reachable
    # sink via the join; a sink IS its own basin (it has no downstream
    # row in `reach`), handled by the coalesce
    sinks = flow.filter(F.col("dir_code") == 0).select(F.col("cell").alias("sink"))
    r2s = reach.join(sinks, reach["dst"] == sinks["sink"]).select(
        F.col("src").alias("cell"), F.col("sink").alias("reached_basin")
    )
    return (
        flow.select("cell", "n_docs", "dir_code")
        .join(ups, "cell", "left")
        .join(load, "cell", "left")
        .join(r2s, "cell", "left")
        .select(
            "cell",
            "n_docs",
            F.coalesce("n_upstream", F.lit(0)).alias("n_upstream"),
            F.coalesce("docs_upstream", F.lit(0)).alias("docs_upstream"),
            F.coalesce(
                "reached_basin", F.when(F.col("dir_code") == 0, F.col("cell"))
            ).alias("basin"),
        )
    )


def viewshed(
    cells: DataFrame,
    res: int,
    *,
    radius: int,
    eye: int = 1,
) -> DataFrame:
    """Viewshed (line-of-sight) over a sparse lit-cell surface: which
    occupied cells can an observer standing on the highest cell actually
    SEE — the visibility primitive behind tower placement, coverage
    audits, and terrain-aware sampling. The surface height is the cell
    value (n), unoccupied cells are height 0, the observer's eye sits
    `eye` above its own cell.

    EXACT INTEGER GEOMETRY, planar (no antimeridian wrap — a viewshed is
    an observer-local window; callers near the seam translate first):

    * the discrete sight line is the dominant-axis DDA: at step k of
      `steps = max(|dx|, |dy|)`, minor coordinate = round-half-up of
      k*minor_span/steps via ((2*k*ady + adx) div (2*adx)) with the sign
      applied outside — pure int64, identical `div` truncation both
      engines (operands positive);
    * cell C at step k blocks target T iff it rises strictly above the
      sight line: (z_C - z_eye) * steps > (z_T - z_eye) * k — the
      cross-multiplied similar-triangles test, no division, no floats;
      grazing the line does NOT block (strict >), and height-0 cells can
      never block a positive-eye observer (proof: LHS <= -z_eye*steps <
      (z_T - z_eye)*k = RHS for k < steps, z_T >= 0), so only OCCUPIED
      intermediates need checking — an inner join against the lit table.

    Observer selection is deterministic: max height, min cell id
    tie-break. Targets are occupied cells within Chebyshev `radius`
    (excluding the observer). Output: (cell, z, steps, n_blockers,
    visible).

    Scale shape: one bounded explode (steps-1 <= radius rows per
    target), one equi-join on the intermediate cell key against the lit
    table, one groupBy target — all sharing the cell-key shuffle; the
    observer row broadcasts."""
    if radius < 1:
        raise ValueError("radius must be >= 1")
    n = 1 << res
    obs = (
        cells.orderBy(F.desc("n"), "cell")
        .limit(1)
        .select(
            (F.col("cell") % n).alias("ox"),
            F.expr(f"cell div {n}").alias("oy"),
            (F.col("n") + eye).alias("z_eye"),
            F.col("cell").alias("obs_cell"),
        )
    )
    tgt = (
        cells.crossJoin(F.broadcast(obs))
        .withColumn("tx", F.col("cell") % n)
        .withColumn("ty", F.expr(f"cell div {n}"))
        .withColumn("adx", F.abs(F.col("tx") - F.col("ox")))
        .withColumn("ady", F.abs(F.col("ty") - F.col("oy")))
        .withColumn("steps", F.greatest("adx", "ady"))
        .filter(
            (F.col("steps") >= 1)
            & (F.col("adx") <= radius)
            & (F.col("ady") <= radius)
        )
        .withColumn("sx", F.signum((F.col("tx") - F.col("ox")).cast("double")).cast("long"))
        .withColumn("sy", F.signum((F.col("ty") - F.col("oy")).cast("double")).cast("long"))
    )
    inter = (
        tgt.select(
            F.col("cell").alias("t_cell"),
            F.col("n").alias("z_t"),
            "ox", "oy", "z_eye", "adx", "ady", "steps", "sx", "sy",
            F.explode(
                F.when(
                    F.col("steps") >= 2, F.sequence(F.lit(1), F.col("steps") - 1)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("k"),
        )
        # round-half-up minor offset; major advances k cells exactly
        .withColumn(
            "cx",
            F.when(
                F.col("adx") >= F.col("ady"),
                F.col("ox") + F.col("sx") * F.col("k"),
            ).otherwise(
                F.col("ox")
                + F.col("sx")
                * F.expr("(2 * k * adx + ady) div (2 * ady)")
            ),
        )
        .withColumn(
            "cy",
            F.when(
                F.col("adx") >= F.col("ady"),
                F.col("oy")
                + F.col("sy")
                * F.expr("(2 * k * ady + adx) div (2 * adx)"),
            ).otherwise(F.col("oy") + F.col("sy") * F.col("k")),
        )
        .withColumn("i_cell", F.col("cy") * n + F.col("cx"))
    )
    blockers = (
        inter.join(
            cells.select(F.col("cell").alias("i_cell"), F.col("n").alias("z_c")),
            "i_cell",
        )
        .filter(
            (F.col("z_c") - F.col("z_eye")) * F.col("steps")
            > (F.col("z_t") - F.col("z_eye")) * F.col("k")
        )
        .groupBy("t_cell")
        .agg(F.count(F.lit(1)).alias("n_blockers"))
    )
    return (
        tgt.join(blockers, tgt["cell"] == blockers["t_cell"], "left")
        .select(
            "cell",
            F.col("n").alias("z"),
            "steps",
            F.coalesce("n_blockers", F.lit(0)).alias("n_blockers"),
            (F.coalesce("n_blockers", F.lit(0)) == 0).alias("visible"),
        )
    )


def rasterize_polygons(
    vertices: DataFrame,
    res: int,
) -> DataFrame:
    """Polygon rasterization (scanline parity fill): the covered-cell set
    of integer-vertex polygons — the vector->raster half that
    rasterize_points doesn't cover (zones, land masks, no-go areas as
    cell sets; the input side of zonal rollups when zones arrive as
    geometry, not points).

    Input: ring vertices (poly_id, ring_id, seq, x, y) in DOUBLED cell
    coordinates (vertex (x, y) = cell corner (x/2, y/2)) — cell CENTERS
    are then odd integers (2*ix+1), so a center never coincides with a
    vertex y and every scanline test is non-degenerate BY PARITY, no
    epsilon. Rings close themselves (last->first edge); multiple rings
    per poly_id compose by even-odd parity, so HOLES work with zero
    special cases.

    Coverage rule: cell center inside by crossing-number parity — the
    same center-in-polygon convention as zonal_stats. The crossing-right
    test is exact integer cross-multiplication:

        edge (x1,y1)-(x2,y2) crosses the row of center (px, py) iff
        (y1 > py) != (y2 > py);  the crossing lies right of px iff
        (py-y1)*(x2-x1) >? (px-x1)*(y2-y1)   (inequality flips with the
                                              sign of y2-y1)

    — no division, so boundary centers resolve identically on any
    engine (the raster_polygon_fill twin checks a diamond, a concave L,
    and a square-with-hole against a DuckDB mirror).

    Scale shape: edges explode once; candidate cells are the polygon's
    bbox rows x cols (the right grain for zone-sized polygons — tile
    the geometry first for continent-sized ones); one equi-join on
    (poly, row) and one groupBy(poly, cell) parity count. All JVM
    integer expressions — no UDF, no Python."""
    from pyspark.sql import Window

    n = 1 << res
    w = Window.partitionBy("poly_id", "ring_id").orderBy("seq")
    verts = vertices.select("poly_id", "ring_id", "seq", "x", "y")
    first = verts.groupBy("poly_id", "ring_id").agg(
        F.min_by(F.struct("x", "y"), "seq").alias("f")
    )
    edges = (
        verts.withColumn("x2", F.lead("x").over(w))
        .withColumn("y2", F.lead("y").over(w))
        .join(first, ["poly_id", "ring_id"])
        .select(
            "poly_id",
            F.col("x").alias("x1"),
            F.col("y").alias("y1"),
            F.coalesce("x2", F.col("f.x")).alias("x2"),
            F.coalesce("y2", F.col("f.y")).alias("y2"),
        )
        .filter(F.col("y1") != F.col("y2"))  # horizontal edges never cross a row
    )
    bbox = vertices.groupBy("poly_id").agg(
        F.min("x").alias("bx0"), F.max("x").alias("bx1"),
        F.min("y").alias("by0"), F.max("y").alias("by1"),
    )
    # candidate centers: odd coords inside the bbox, clipped to the grid
    cand = (
        bbox.withColumn(
            "iy",
            F.explode(
                F.sequence(
                    F.greatest(F.expr("by0 div 2"), F.lit(0)),
                    F.least(F.expr("(by1 - 1) div 2"), F.lit(n - 1)),
                )
            ),
        )
        .withColumn(
            "ix",
            F.explode(
                F.sequence(
                    F.greatest(F.expr("bx0 div 2"), F.lit(0)),
                    F.least(F.expr("(bx1 - 1) div 2"), F.lit(n - 1)),
                )
            ),
        )
        .select(
            "poly_id",
            "ix",
            "iy",
            (2 * F.col("ix") + 1).alias("px"),
            (2 * F.col("iy") + 1).alias("py"),
        )
    )
    crossed = cand.join(edges, "poly_id").filter(
        (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    )
    t_ = (F.col("py") - F.col("y1")) * (F.col("x2") - F.col("x1"))
    lhs = (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    right_of = F.when(F.col("y2") > F.col("y1"), t_ > lhs).otherwise(t_ < lhs)
    return (
        crossed.filter(right_of)
        .groupBy("poly_id", (F.col("iy") * n + F.col("ix")).alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_cross"))
        .filter(F.col("n_cross") % 2 == 1)
        .select("poly_id", "cell")
    )


def rasterize_segments(
    segs: DataFrame,
    res: int,
    id_col: str = "seg_id",
) -> DataFrame:
    """Line rasterization: the grid cells each segment traverses — the
    vector->raster third after points (rasterize_points) and polygons
    (rasterize_polygons); aggregated downstream it is the road/route
    heatmap ("how many trips crossed each cell").

    Input: integer GRID-coordinate endpoints (id_col, ax, ay, bx, by),
    0 <= coord < 2^res. The traversal is the dominant-axis DDA the
    viewshed walks (one cell per major-axis step, minor coordinate =
    round-half-up via the shared ((2*k*minor + major) div (2*major))
    integer formula) — so sight lines, rasterized routes, and any other
    line walk in the engine land on the IDENTICAL cell sequence. Each
    step has a distinct major coordinate, so every (segment, cell) pair
    emits EXACTLY ONCE with no distinct. Pure JVM integer expressions;
    one bounded explode (steps+1 <= grid span); the output shuffles only
    in whatever aggregation the caller adds.

    Note this is the one-cell-per-major-step convention (8-connected
    line), not the thicker supercover (every cell the ideal line
    touches) — the right grain for traversal DENSITY; corridor queries
    wanting supercover buffer the output by one ring."""
    adx = F.abs(F.col("bx") - F.col("ax"))
    ady = F.abs(F.col("by") - F.col("ay"))
    steps = F.greatest(adx, ady)
    sx = F.signum((F.col("bx") - F.col("ax")).cast("double")).cast("long")
    sy = F.signum((F.col("by") - F.col("ay")).cast("double")).cast("long")
    n = 1 << res
    k = F.explode(F.sequence(F.lit(0), steps))
    base = segs.select(
        F.col(id_col),
        F.col("ax"), F.col("ay"),
        adx.alias("adx"), ady.alias("ady"),
        steps.alias("steps"), sx.alias("sx"), sy.alias("sy"),
        k.alias("k"),
    )
    cx = F.when(F.col("steps") == 0, F.col("ax")).otherwise(
        F.when(
            F.col("adx") >= F.col("ady"),
            F.col("ax") + F.col("sx") * F.col("k"),
        ).otherwise(
            F.col("ax") + F.col("sx") * F.expr("(2 * k * adx + ady) div (2 * ady)")
        )
    )
    cy = F.when(F.col("steps") == 0, F.col("ay")).otherwise(
        F.when(
            F.col("adx") >= F.col("ady"),
            F.col("ay") + F.col("sy") * F.expr("(2 * k * ady + adx) div (2 * adx)"),
        ).otherwise(F.col("ay") + F.col("sy") * F.col("k"))
    )
    return base.select(id_col, (cy * n + cx).alias("cell"))


def cells_dilate(cells: DataFrame, res: int, id_cols: list[str] | None = None) -> DataFrame:
    """Morphological DILATION of a sparse cell set (4-neighborhood): the
    set grown by one ring — buffer zones, gap closing before region
    labeling, the corridor widening rasterize_segments' docstring
    promises. One 5-way JVM explode + distinct on (ids..., cell); x
    wraps at the antimeridian (grid convention), y clips at the poles."""
    n = 1 << res
    ids = id_cols or []
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    e = cells.select(*ids, F.col("cell"), F.explode(offs).alias("d"))
    iy = F.expr(f"cell div {n}") + F.col("d.dy")
    ix = (F.col("cell") % n + F.col("d.dx") + n) % n
    return (
        e.filter((iy >= 0) & (iy < n))
        .select(*ids, (iy * n + ix).alias("cell"))
        .distinct()
    )


def cells_erode(cells: DataFrame, res: int, id_cols: list[str] | None = None) -> DataFrame:
    """Morphological EROSION (4-neighborhood): cells whose four edge
    neighbors are ALL present — one explode of the 4 required neighbors
    + an equi-join back to the set + a count==4 filter (no distinct:
    each (cell, neighbor) pair is unique by construction). Wrap/clip as
    in dilation; cells on the pole rows always erode (their outside
    neighbor is missing by definition)."""
    n = 1 << res
    ids = id_cols or []
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    e = cells.select(*ids, F.col("cell"), F.explode(offs).alias("d"))
    iy = F.expr(f"cell div {n}") + F.col("d.dy")
    ix = (F.col("cell") % n + F.col("d.dx") + n) % n
    need = e.filter((iy >= 0) & (iy < n)).select(
        *ids, "cell", (iy * n + ix).alias("ncell")
    )
    present = cells.select(*ids, F.col("cell").alias("ncell"))
    hits = (
        need.join(present, [*ids, "ncell"])
        .groupBy(*ids, "cell")
        .agg(F.count(F.lit(1)).alias("n_nb"))
    )
    return hits.filter(F.col("n_nb") == 4).select(*ids, "cell")


def region_perimeter(cells: DataFrame, res: int, id_cols: list[str] | None = None) -> DataFrame:
    """Perimeter (exposed 4-neighbor edges) and compactness per region —
    the shape-metrics layer over any covered-cell set (polygon fills,
    watersheds, dilated buffers): per id group,

        area       = |cells|
        perimeter  = 4*area - 2*|adjacent in-set pairs|   (exact ints)
        compactness_r = 4*pi*area / perimeter^2           (Polsby-Popper
                       in cell units; 1 for a square-ish blob's limit,
                       ->0 for filaments; one fixed double chain)

    Adjacent pairs come from ONE directed half-neighborhood join (+x and
    +y only — each undirected adjacency counted exactly once, no
    distinct). Pole-row edges count as exposed; x wraps."""
    n = 1 << res
    ids = id_cols or []
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (0, 1))
        ]
    )
    e = cells.select(*ids, F.col("cell"), F.explode(offs).alias("d"))
    iy = F.expr(f"cell div {n}") + F.col("d.dy")
    ix = (F.col("cell") % n + F.col("d.dx") + n) % n
    half = e.filter(iy < n).select(*ids, "cell", (iy * n + ix).alias("ncell"))
    present = cells.select(*ids, F.col("cell").alias("ncell"))
    adj = half.join(present, [*ids, "ncell"]).groupBy(*ids).agg(
        F.count(F.lit(1)).alias("n_adj")
    )
    area = cells.groupBy(*ids).agg(F.count(F.lit(1)).alias("area"))
    out = area.join(adj, ids, "left").select(
        *ids,
        "area",
        (4 * F.col("area") - 2 * F.coalesce("n_adj", F.lit(0))).alias("perimeter"),
    )
    comp = (
        F.lit(4.0 * 3.141592653589793)
        * F.col("area").cast("double")
        / (F.col("perimeter") * F.col("perimeter")).cast("double")
    )
    return out.select(*ids, "area", "perimeter", F.round(comp, 6).alias("compactness_r"))
