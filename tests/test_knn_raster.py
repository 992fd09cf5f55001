"""kNN ring-expansion vs brute-force haversine; rasterize + zonal stats vs
first-principles numpy oracle (FIXTURES.md F6, SURVEY.md §7.5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from erased_cells_spark.operators.cells_expr import cell_key_np
from erased_cells_spark.operators.knn import knn_join, knn_np
from erased_cells_spark.operators.raster import rasterize_points, zonal_histogram, zonal_stats
from erased_cells_spark.pipeline import geocoded_pages
from erased_cells_spark.sources.pages import generate_pages
from erased_cells_spark.spatial.geom import make_polygon_fixtures, points_in_ring

SEED = 42
N = 4000
RES, SHIFT = 10, 4


@pytest.fixture(scope="module")
def pts(spark):
    pages = generate_pages(spark, N, SEED)
    return geocoded_pages(pages, use_extracted_text=False).select("url", "lon", "lat").cache()


@pytest.fixture(scope="module")
def pts_local(pts):
    return pts.toPandas()


def make_queries(pts_local, n_grid=24):
    """FIXTURES F6: seeded points in the data bbox + empty-space points +
    exact page-location duplicates (distance-0 ties)."""
    rng = np.random.default_rng(99)
    qs = []
    for i in range(n_grid):
        qs.append({"q_id": i, "lon": float(rng.uniform(-170, 170)), "lat": float(rng.uniform(-80, 80))})
    # duplicates of real page locations → 0-distance ties
    for j, row in enumerate(pts_local.head(4).itertuples(index=False)):
        qs.append({"q_id": n_grid + j, "lon": float(row.lon), "lat": float(row.lat)})
    # pole-adjacent (stresses the lon-escape bound)
    qs.append({"q_id": n_grid + 4, "lon": 10.0, "lat": 84.5})
    return qs


class TestKNN:
    def test_knn_matches_bruteforce(self, spark, pts, pts_local):
        queries = make_queries(pts_local)
        got = knn_join(pts, queries, k=5, res=7)
        got_rows = {(r.q_id, r.rank): (r.nn_id, r.dist_km) for r in got.collect()}

        want = knn_np(
            pts_local.lon.to_numpy(), pts_local.lat.to_numpy(),
            pts_local.url.tolist(), queries, k=5,
        )
        assert len(got_rows) == len(want)
        for qid, nn_id, dist, rank in want:
            g_id, g_dist = got_rows[(qid, rank)]
            assert g_id == nn_id, (qid, rank)
            assert g_dist == pytest.approx(dist, rel=1e-9, abs=1e-9)


class TestRasterZonal:
    def test_rasterize_counts_match(self, spark, pts, pts_local):
        tiles = rasterize_points(pts, res=RES, tile_shift=SHIFT)
        rows = tiles.collect()
        # total burned count equals N; mask counts equal distinct cells
        total = 0
        marked = 0
        for r in rows:
            grid = np.frombuffer(r.data, np.uint32)
            m = np.frombuffer(r.mask, np.uint8).astype(bool)
            total += int(grid.sum())
            marked += int(m.sum())
            assert (grid[~m] == 0).all()
        assert total == N
        keys = cell_key_np(pts_local.lon.to_numpy(), pts_local.lat.to_numpy(), RES)
        assert marked == len(np.unique(keys))

    def test_zonal_stats_match_oracle(self, spark, pts, pts_local):
        polys = make_polygon_fixtures(32, seed=7)
        tiles = rasterize_points(pts, res=RES, tile_shift=SHIFT)
        got = {r.poly_id: r for r in zonal_stats(tiles, polys, res=RES, tile_shift=SHIFT).collect()}

        # oracle: per-cell counts; zone membership = cell CENTER in polygon
        keys = cell_key_np(pts_local.lon.to_numpy(), pts_local.lat.to_numpy(), RES)
        uniq, cnt = np.unique(keys, return_counts=True)
        n = np.int64(1) << RES
        iy, ix = np.divmod(uniq, n)
        cx = (ix + 0.5) / float(n) * 360.0 - 180.0
        cy = (iy + 0.5) / float(n) * 180.0 - 90.0
        want = {}
        for p in polys:
            inside = points_in_ring(cx, cy, p["ring"])
            if not inside.any():
                continue
            c = cnt[inside].astype(np.float64)
            want[p["poly_id"]] = (c.min(), c.max(), c.sum(), len(c), c.mean())
        assert set(got) == set(want)
        for pid, (mn, mx, sm, ct, mean) in want.items():
            g = got[pid]
            assert g.z_min == mn and g.z_max == mx
            assert g.z_sum == pytest.approx(sm)
            assert g.z_count == ct
            assert g.z_mean == pytest.approx(mean)

    def test_zonal_rows_do_not_depend_on_arrow(self, spark, pts):
        """The (zone, tile) candidates are a driver-built LocalRelation; an
        Arrow-off session must plan the same rows (no float-widened ids)."""
        polys = make_polygon_fixtures(32, seed=7)
        tiles = rasterize_points(pts, res=RES, tile_shift=SHIFT).cache()

        def run():
            return (
                zonal_stats(tiles, polys, res=RES, tile_shift=SHIFT).collect(),
                zonal_histogram(tiles, polys, res=RES, tile_shift=SHIFT).collect(),
            )

        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(key)
        arrow_on = run()
        spark.conf.set(key, "false")
        try:
            arrow_off = run()
        finally:
            spark.conf.set(key, prev)
            tiles.unpersist()
        assert arrow_on[0] and arrow_on[1]
        assert arrow_off == arrow_on


class TestRingKeys:
    def test_annulus_equals_masked_meshgrid(self):
        """_query_ring_keys builds the Chebyshev annulus directly; must equal
        the naive full-meshgrid-then-mask construction on random cases."""
        import numpy as np

        from erased_cells_spark.operators.knn import _query_ring_keys

        def brute(q_lon, q_lat, res, rk_lo, rk_hi):
            n = np.int64(1) << np.int64(res)
            ix = np.int64(np.mod(np.floor((q_lon + 180.0) / 360.0 * float(n)), n))
            iy = np.int64(np.clip(np.floor((q_lat + 90.0) / 180.0 * float(n)), 0, int(n) - 1))
            d = np.arange(-rk_hi, rk_hi + 1)
            dx, dy = np.meshgrid(d, d)
            cheb = np.maximum(np.abs(dx), np.abs(dy))
            sel = (cheb > rk_lo) & (cheb <= rk_hi)
            nx = np.mod(ix + dx[sel], n)
            ny = iy + dy[sel]
            ok = (ny >= 0) & (ny < n)
            return np.unique(ny[ok] * n + nx[ok])

        rng = np.random.default_rng(1)
        for _ in range(80):
            lon = float(rng.uniform(-180, 180))
            lat = float(rng.uniform(-90, 90))
            res = int(rng.integers(2, 9))
            rk_hi = int(rng.integers(0, 1 << res))
            rk_lo = int(rng.integers(-1, rk_hi + 1)) if rk_hi else -1
            got = _query_ring_keys(lon, lat, res, rk_lo, rk_hi)
            assert np.array_equal(got, brute(lon, lat, res, rk_lo, rk_hi))
        # pole / antimeridian-wrap / full-grid edges
        for lon, lat, res, lo, hi in [
            (179.9, 89.9, 7, -1, 2),
            (-180.0, -90.0, 7, 2, 8),
            (0, 0, 3, -1, 8),
            (10, 10, 5, 5, 5),
        ]:
            assert np.array_equal(
                _query_ring_keys(lon, lat, res, lo, hi), brute(lon, lat, res, lo, hi)
            )
