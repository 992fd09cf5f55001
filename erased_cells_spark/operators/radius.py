"""Distance-bounded spatial pair join (radius SELF-join): every unordered
pair of points within ``radius_km`` great-circle kilometres, found with a
lat-band x wrap-aware lon-bucket equi-join — no cross join, no per-query
driver state, and BOTH sides data-scaled.

Complements the fixed-query-side radius join (queries.radius_join_docs,
whose query set is broadcast-small): this is the variant a 100 TB corpus
runs against itself ("every page within R km of another page"). Reference parity: the reference has no spatial
join at all (it is a cell-kernel crate); this row is mandated by the north
rule's PIP/kNN/spatial-join family (BASELINE.json north_star).

Candidate-key scheme (exactly-once, superset-complete):

- band(p)   = floor((lat + 90) / h), h = radius_km / KM_PER_DEG degrees.
  Great-circle distance >= meridian distance, so dist <= R implies
  |dlat| <= h implies |band_a - band_b| <= 1 (floor((x+h)/h) = floor(x/h)+1).
- bucket(p | band b) = floor((lon + 180) / 360 * n_b) mod n_b, where n_b is
  the per-band lon bucket count. From the haversine identity
  sin^2(dlam/2) <= sin^2(R / 2Re) / (cos phi_a cos phi_b), any pair within R
  whose RIGHT point lies in band b has wrapped |dlon| <= dlam_max(b) =
  2 asin(sin(R/2Re) / cos(phi_max)), phi_max = max |lat| reachable by either
  endpoint (band edges + h). n_b = max(1, floor(360 / dlam_max)) makes the
  bucket width 360/n_b >= dlam_max, so bucket indices differ by <= 1 mod n_b
  (exact: the index is floor((lon+180) * n_b / 360), one multiply, no
  accumulated width rounding). Bands whose phi_max reaches the pole get
  n_b = 1 (whole circle) — no clamp-induced recall hole at |lat| -> 90.
- The LEFT side emits (band', bucket' +/- 1 mod n_b') for band' in
  {b-1, b, b+1} (<= 9 rows, array_distinct-deduped when n_b' <= 3); the
  RIGHT side carries its own single (band, bucket). Every candidate key on
  the left is distinct and the right key is unique, so an unordered pair
  survives the `id_a < id_b` filter EXACTLY once; the exact haversine
  predicate then keeps true pairs only.

Scale notes (100 TB): one shuffle of <= 9x|pts| skinny rows (id, lon, lat,
two int keys) + one equi-join; per-key candidate count is density x O(R^2)
patch area, so the quadratic blowup is confined to genuinely dense disks —
the same hot-key profile as LSH buckets, and the same remedy applies
(plans.skew salting / operators.buckets hot-cap) if a corpus concentrates
in one city-sized cell. AQE skew-join splitting is on in the test config.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from erased_cells_spark.operators.knn import (
    EARTH_R_KM,
    haversine_km_expr,
    haversine_km_np,
)

KM_PER_DEG = math.pi / 180.0 * EARTH_R_KM  # meridian km per degree (111.195)


def _band_expr(lat: Column, h_deg: float) -> Column:
    return F.floor((lat + F.lit(90.0)) / F.lit(h_deg)).cast("long")


def _n_buckets_expr(band: Column, radius_km: float, h_deg: float) -> Column:
    """Per-band lon bucket count n_b as a JVM expression of the band index.

    phi_max = (largest |lat| on the band's edges) + h — the furthest either
    endpoint of a pair (right point IN the band, left point within h of it)
    can sit from the equator. Bands that reach the pole (phi_max >= 90) or
    whose dlam bound exceeds the circle (c >= 1) collapse to one bucket.
    """
    lo = band.cast("double") * F.lit(h_deg) - F.lit(90.0)
    hi = lo + F.lit(h_deg)
    phi = F.greatest(F.abs(lo), F.abs(hi)) + F.lit(h_deg)
    sin_half = math.sin(min(radius_km / (2.0 * EARTH_R_KM), math.pi / 2.0))
    c = F.lit(sin_half) / F.cos(F.radians(phi))
    dlam_deg = F.degrees(F.lit(2.0) * F.asin(F.least(c, F.lit(1.0))))
    return (
        F.when((phi >= F.lit(90.0)) | (c >= F.lit(1.0)), F.lit(1).cast("long"))
        .otherwise(
            F.greatest(F.floor(F.lit(360.0) / dlam_deg), F.lit(1)).cast("long")
        )
    )


def _bucket0_expr(lon: Column, n_b: Column) -> Column:
    # floor((lon+180)/360 * n_b): one multiply — bucket adjacency is exact
    # (no accumulated 360/n_b width rounding); lon = +180 lands on n_b,
    # which pmod folds onto 0 (the antimeridian wrap).
    return F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n_b.cast("double")).cast("long")


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    *,
    left_id: str = "id",
    right_id: str = "id",
    left_lon: str = "lon",
    left_lat: str = "lat",
    right_lon: str = "lon",
    right_lat: str = "lat",
) -> DataFrame:
    """Every (left, right) pair within ``radius_km`` haversine km — the
    general two-table distance join. Returns (id_a, id_b, dist_km) with
    id_a from ``left`` and id_b from ``right``, each true pair exactly once.

    Both sides scale with data: one equi-join shuffle on the two int keys.
    For the self-join "all near-duplicate pairs" shape use radius_pairs
    (adds the id_a < id_b dedup of the mirror match).
    """
    if radius_km <= 0.0:
        raise ValueError(f"radius_km must be positive, got {radius_km}")
    h = radius_km / KM_PER_DEG
    max_band = int(math.floor(180.0 / h))

    r = right.select(
        F.col(right_id).alias("id_b"),
        F.col(right_lon).alias("lon_b"),
        F.col(right_lat).alias("lat_b"),
        _band_expr(F.col(right_lat), h).alias("jband"),
    )
    r_nb = _n_buckets_expr(F.col("jband"), radius_km, h)
    r = r.withColumn("jbucket", F.pmod(_bucket0_expr(F.col("lon_b"), r_nb), r_nb))

    band_a = _band_expr(F.col(left_lat), h)
    l = (  # noqa: E741 - left/right symmetry
        left.select(
            F.col(left_id).alias("id_a"),
            F.col(left_lon).alias("lon_a"),
            F.col(left_lat).alias("lat_a"),
            band_a.alias("band_a"),
        )
        .withColumn(
            "jband",
            F.explode(
                F.array(F.col("band_a") - 1, F.col("band_a"), F.col("band_a") + 1)
            ),
        )
        .filter((F.col("jband") >= 0) & (F.col("jband") <= F.lit(max_band)))
    )
    l = l.withColumn("jnb", _n_buckets_expr(F.col("jband"), radius_km, h))  # noqa: E741
    b0 = _bucket0_expr(F.col("lon_a"), F.col("jnb"))
    l = (  # noqa: E741
        l.withColumn(
            "jbucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.pmod(b0 - 1, F.col("jnb")),
                        F.pmod(b0, F.col("jnb")),
                        F.pmod(b0 + 1, F.col("jnb")),
                    )
                )
            ),
        )
        .drop("jnb", "band_a")
    )

    dist = haversine_km_expr(
        F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b")
    )
    return (
        l.join(r, ["jband", "jbucket"])
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= F.lit(radius_km))
        .select("id_a", "id_b", "dist_km")
    )


def radius_pairs(
    pts: DataFrame,
    radius_km: float,
    *,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """All unordered pairs (id_a < id_b) within ``radius_km`` haversine km.

    Returns (id_a, id_b, dist_km). Input must have one row per id; lon in
    [-180, 180], lat in [-90, 90]. The `id_a < id_b` filter keeps exactly
    one of the two mirror matches the general join produces for a
    self-joined table.
    """
    return radius_join(
        pts,
        pts,
        radius_km,
        left_id=id_col,
        right_id=id_col,
        left_lon=lon_col,
        right_lon=lon_col,
        left_lat=lat_col,
        right_lat=lat_col,
    ).filter(F.col("id_a") < F.col("id_b"))


def radius_pairs_np(
    ids: np.ndarray, lon: np.ndarray, lat: np.ndarray, radius_km: float
) -> list[tuple[int, int, float]]:
    """Brute-force all-pairs twin (oracle for tests)."""
    ids = np.asarray(ids)
    lon = np.asarray(lon, np.float64)
    lat = np.asarray(lat, np.float64)
    out: list[tuple[int, int, float]] = []
    for i in range(len(ids)):
        d = haversine_km_np(lon[i], lat[i], lon[i + 1 :], lat[i + 1 :])
        for j in np.nonzero(d <= radius_km)[0]:
            a, b = int(ids[i]), int(ids[i + 1 + j])
            lo, hi = (a, b) if a < b else (b, a)
            out.append((lo, hi, float(d[j])))
    return sorted(out)
