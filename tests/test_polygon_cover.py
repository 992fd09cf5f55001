"""polygon_cover_keys: the vectorized crossing step against the per-cell loop
it replaced, and the tile-grain cover the zonal operators join on. numpy
only — no SparkSession."""

import numpy as np
import pytest

from erased_cells_spark.operators import pip
from erased_cells_spark.operators.pip import _cell_boxes, polygon_cover_keys
from erased_cells_spark.spatial.geom import (
    make_polygon_fixtures,
    points_in_ring,
    polygon_bbox,
    regular_polygon,
)

RESOLUTIONS = (6, 8, 10)


def _segments_intersect(p0, p1, q0, q1) -> bool:
    d = lambda a, b, c: (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    d1, d2 = d(q0, q1, p0), d(q0, q1, p1)
    d3, d4 = d(p0, p1, q0), d(p0, p1, q1)
    return ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0))


def reference_cover_keys(ring: np.ndarray, res: int) -> np.ndarray:
    """The scalar per-cell form of polygon_cover_keys: step (c) loops over
    pending cells × ring edges × box edges in Python."""
    x0, y0, x1, y1 = polygon_bbox(ring)
    n = np.int64(1) << np.int64(res)
    w, h = 360.0 / float(n), 180.0 / float(n)
    ix0, ix1 = int(np.floor((x0 + 180.0) / w)), int(np.floor((x1 + 180.0 - 1e-12) / w))
    iy0, iy1 = int(np.floor((y0 + 90.0) / h)), int(np.floor((y1 + 90.0 - 1e-12) / h))
    iy0, iy1 = max(iy0, 0), min(iy1, int(n) - 1)
    xs = np.arange(ix0, ix1 + 1, dtype=np.int64) % n
    ys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    keys = (gy * n + gx).ravel()
    bx0, by0, bx1, by1 = _cell_boxes(keys, res)
    keep = np.zeros(len(keys), dtype=bool)
    v = np.asarray(ring, np.float64)
    for cx, cy in ((bx0, by0), (bx1, by0), (bx0, by1), (bx1, by1)):
        keep |= points_in_ring(cx, cy, v)
    for px, py in v:
        keep |= (bx0 <= px) & (px < bx1) & (by0 <= py) & (py < by1)
    edges = list(zip(v[:-1], v[1:]))
    for idx in np.nonzero(~keep)[0]:
        box = [
            ((bx0[idx], by0[idx]), (bx1[idx], by0[idx])),
            ((bx1[idx], by0[idx]), (bx1[idx], by1[idx])),
            ((bx1[idx], by1[idx]), (bx0[idx], by1[idx])),
            ((bx0[idx], by1[idx]), (bx0[idx], by0[idx])),
        ]
        keep[idx] = any(
            _segments_intersect(p0, p1, q0, q1) for p0, p1 in edges for q0, q1 in box
        )
    return keys[keep]


def seeded_zones(seed: int, n: int) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    return [
        regular_polygon(
            float(rng.uniform(-170, 170)), float(rng.uniform(-75, 75)),
            float(rng.uniform(0.05, 3.0)), int(rng.integers(3, 13)), 0.2, seed * 100 + z,
        )
        for z in range(n)
    ]


def _closed(pts) -> np.ndarray:
    v = np.asarray(pts, np.float64)
    return np.vstack([v, v[:1]])


# res-6 cells are 5.625° × 2.8125°; 0.0 and these multiples are borders at every res
EDGE_CASES = {
    "antimeridian_east": regular_polygon(179.5, 12.0, 2.0, 9, 0.2, 3),
    "antimeridian_west": regular_polygon(-179.7, -30.0, 1.5, 7, 0.2, 4),
    "inside_one_cell": _closed([[10.01, 20.05], [10.05, 20.06], [10.03, 20.1]]),
    "vertex_on_border": _closed([[0.0, 0.0], [4.0, 1.0], [1.0, 4.0]]),
    "edges_on_borders": _closed([[0.0, 0.0], [5.625, 0.0], [5.625, 2.8125], [0.0, 2.8125]]),
    # touches the y=0 border line from above: the cell below is pending and
    # one ring edge starts exactly on its top-edge line
    "vertex_touches_border_line": _closed([[1.0, 0.0], [2.0, 2.0], [-8.0, 2.0], [-8.0, -2.0], [-6.0, 0.5]]),
    "vertex_on_corner": _closed([[-5.625, -2.8125], [3.0, -1.0], [5.625, 2.8125], [-1.0, 3.0]]),
}


class TestBitIdentity:
    @pytest.mark.parametrize("res", RESOLUTIONS)
    def test_seeded_zones(self, res):
        for ring in seeded_zones(7, 24):
            np.testing.assert_array_equal(
                polygon_cover_keys(ring, res), reference_cover_keys(ring, res)
            )

    @pytest.mark.parametrize("res", RESOLUTIONS)
    def test_polygon_fixtures(self, res):
        # n=16 keeps the fixture's pole-adjacent, overlap-partner and sliver
        # polygons (the last four ids) at a test-sized reference cost
        for p in make_polygon_fixtures(16, seed=42):
            np.testing.assert_array_equal(
                polygon_cover_keys(p["ring"], res), reference_cover_keys(p["ring"], res)
            )

    @pytest.mark.parametrize("res", RESOLUTIONS)
    @pytest.mark.parametrize("case", sorted(EDGE_CASES))
    def test_edge_cases(self, case, res):
        ring = EDGE_CASES[case]
        got = polygon_cover_keys(ring, res)
        assert len(got) == 1 if case == "inside_one_cell" else len(got) > 0
        np.testing.assert_array_equal(got, reference_cover_keys(ring, res))

    @pytest.mark.parametrize("res", RESOLUTIONS)
    def test_ring_longer_than_one_chunk(self, res, monkeypatch):
        # a 64-element block holds 16 ring edges of one cell: the 40-gon's
        # crossing test splits over both edges and cells
        monkeypatch.setattr(pip, "_CROSS_CHUNK", 64)
        ring = regular_polygon(30.0, -20.0, 4.0, 40, 0.3, 11)
        assert len(ring) - 1 > pip._CROSS_CHUNK // 4
        np.testing.assert_array_equal(
            polygon_cover_keys(ring, res), reference_cover_keys(ring, res)
        )


class TestTileGrain:
    @pytest.mark.parametrize("res,shift", [(10, 4), (8, 4), (8, 2)])
    def test_tile_cover_is_projected_fine_cover(self, res, shift):
        n, tn = 1 << res, 1 << (res - shift)
        for ring in seeded_zones(res * 10 + shift, 60):
            tiles = polygon_cover_keys(ring, res - shift)
            iy, ix = np.divmod(polygon_cover_keys(ring, res), n)
            projected = np.unique((iy >> shift) * tn + (ix >> shift))
            np.testing.assert_array_equal(np.sort(tiles), projected)

            # every tile holding an in-ring cell centre is a candidate
            x0, y0, x1, y1 = polygon_bbox(ring)
            w, h = 360.0 / n, 180.0 / n
            cx = np.arange(int((x0 + 180.0) // w), int((x1 + 180.0) // w) + 1) % n
            cy = np.arange(max(int((y0 + 90.0) // h), 0), min(int((y1 + 90.0) // h), n - 1) + 1)
            gx, gy = np.meshgrid(cx, cy)
            gx, gy = gx.ravel(), gy.ravel()
            inside = points_in_ring((gx + 0.5) / n * 360.0 - 180.0, (gy + 0.5) / n * 180.0 - 90.0, ring)
            need = np.unique((gy[inside] >> shift) * tn + (gx[inside] >> shift))
            assert np.isin(need, tiles).all()
