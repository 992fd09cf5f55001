"""DataFrame-native kNN JOIN (knn_join_df) vs brute-force haversine: the
query side is a DATAFRAME and all per-query ring state lives in DataFrame
columns — no driver dicts / numpy seen arrays (VERDICT r3 item 1). Checks:
exact agreement with knn_np on the F6-style query mix (including 0-distance
ties and a pole-adjacent query), regions with < k points, empty query side,
and that the number of Spark jobs does NOT grow with the query count (the
driver loop iterates ROUNDS, not queries)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from erased_cells_spark.operators.knn import knn_join_df, knn_np
from erased_cells_spark.pipeline import geocoded_pages
from erased_cells_spark.sources.pages import generate_pages

SEED = 42
N = 4000
JOBS_KNN_DOCS_SHAPE = 16  # contract 6, three rounds of 3, final collect 1


@pytest.fixture(scope="module")
def pts(spark):
    pages = generate_pages(spark, N, SEED)
    return geocoded_pages(pages, use_extracted_text=False).select("url", "lon", "lat").cache()


@pytest.fixture(scope="module")
def pts_local(pts):
    return pts.toPandas()


def queries_pd(pts_local, n_grid=24):
    rng = np.random.default_rng(99)
    rows = [
        {"q_id": i, "q_lon": float(rng.uniform(-170, 170)), "q_lat": float(rng.uniform(-80, 80))}
        for i in range(n_grid)
    ]
    # exact page-location duplicates → 0-distance ties
    for j, row in enumerate(pts_local.head(4).itertuples(index=False)):
        rows.append({"q_id": n_grid + j, "q_lon": float(row.lon), "q_lat": float(row.lat)})
    # pole-adjacent (stresses the lon-escape bound)
    rows.append({"q_id": n_grid + 4, "q_lon": 10.0, "q_lat": 84.5})
    return pd.DataFrame(rows)


class TestKnnJoinDf:
    def test_matches_bruteforce(self, spark, pts, pts_local):
        qpd = queries_pd(pts_local)
        qdf = spark.createDataFrame(qpd)
        got = knn_join_df(pts, qdf, k=5, res=7)
        got_rows = {(r.q_id, r.rank): (r.nn_id, r.dist_km) for r in got.collect()}

        q_dicts = [
            {"q_id": int(r.q_id), "lon": float(r.q_lon), "lat": float(r.q_lat)}
            for r in qpd.itertuples(index=False)
        ]
        want = knn_np(
            pts_local.lon.to_numpy(), pts_local.lat.to_numpy(),
            pts_local.url.tolist(), q_dicts, k=5,
        )
        assert len(got_rows) == len(want)
        for qid, nn_id, dist, rank in want:
            g_id, g_dist = got_rows[(qid, rank)]
            assert g_id == nn_id, (qid, rank)
            assert g_dist == pytest.approx(dist, rel=1e-9, abs=1e-9)

    def test_fewer_points_than_k(self, spark):
        """3 points, k=5: the whole-grid terminator must finish every query
        with the 3 that exist (never hang, never raise)."""
        pts = spark.createDataFrame(
            [("a", 10.0, 10.0), ("b", 11.0, 10.0), ("c", -170.0, -80.0)],
            "url STRING, lon DOUBLE, lat DOUBLE",
        )
        qdf = spark.createDataFrame(
            [(0, 10.5, 10.0), (1, 179.0, 85.0)], "q_id LONG, q_lon DOUBLE, q_lat DOUBLE"
        )
        out = knn_join_df(pts, qdf, k=5, res=5)
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.q_id, []).append(r.nn_id)
        assert sorted(by_q[0]) == ["a", "b", "c"]
        assert sorted(by_q[1]) == ["a", "b", "c"]
        # ranks are 1..3 with rank 1 = nearest
        r1 = {r.q_id: r.nn_id for r in rows if r.rank == 1}
        assert r1[0] in ("a", "b")

    def test_duplicate_and_null_queries_raise(self, spark, pts):
        """Silent-wrongness guards: duplicate q_ids would merge two queries'
        ring state; NULL ids/coords would hang to the max_rounds raise."""
        dup = spark.createDataFrame(
            [(1, 0.0, 0.0), (1, 10.0, 10.0)], "q_id LONG, q_lon DOUBLE, q_lat DOUBLE"
        )
        with pytest.raises(ValueError, match="duplicate"):
            knn_join_df(pts, dup, k=3, res=5)
        nulls = spark.createDataFrame(
            [(1, 0.0, 0.0), (2, None, 10.0)], "q_id LONG, q_lon DOUBLE, q_lat DOUBLE"
        )
        with pytest.raises(ValueError, match="NULL"):
            knn_join_df(pts, nulls, k=3, res=5)

    def test_empty_query_side(self, spark, pts):
        qdf = spark.createDataFrame([], "q_id LONG, q_lon DOUBLE, q_lat DOUBLE")
        out = knn_join_df(pts, qdf, k=5, res=7)
        assert out.count() == 0
        assert set(out.columns) == {"q_id", "nn_id", "dist_km", "rank"}

    def test_annulus_single_cover_matches_ring_keys(self, spark):
        """The JVM annulus generator must emit every cell of the
        (prev_rk, rk] annulus EXACTLY ONCE at its true wrap-aware radius —
        no dupes even when rings wrap the antimeridian (the r = n/2 column
        for even n) or clamp at the poles — and unioned over a round
        schedule it must equal the driver generator's coverage."""
        from pyspark.sql import functions as F

        from erased_cells_spark.operators.cells_expr import ix_expr, iy_expr
        from erased_cells_spark.operators.knn import _annulus_cells_df, _query_ring_keys

        res = 4  # n=16: rings wrap fast
        n = 1 << res
        cases = [(0, 10.0, 0.0), (1, 179.0, 84.0), (2, -170.0, -80.0), (3, 0.0, 50.0)]
        st = spark.createDataFrame(cases, "q_id LONG, q_lon DOUBLE, q_lat DOUBLE")

        def df_annulus(prev_rk: int, rk: int) -> dict[int, set]:
            s = st.withColumns(
                {
                    "_ix": ix_expr(F.col("q_lon"), res),
                    "_iy": iy_expr(F.col("q_lat"), res),
                    "prev_rk": F.lit(prev_rk),
                }
            )
            got = [
                (r.q_id, r.cell)
                for r in _annulus_cells_df(s, rk, n).select("q_id", "cell").collect()
            ]
            assert len(got) == len(set(got)), f"dupes within annulus ({prev_rk}, {rk}]"
            by_q: dict[int, set] = {}
            for qid, c in got:
                by_q.setdefault(qid, set()).add(c)
            return by_q

        # cumulative coverage over a round schedule == the driver generator's
        # coverage (the driver emits wrapped cells at their unwrapped offset
        # radius and dedups via seen arrays; the DF generator emits each cell
        # once at its TRUE radius — sets must agree cumulatively)
        schedule = [(-1, 2), (2, 8), (8, 16)]
        cum: dict[int, set] = {qid: set() for qid, *_ in cases}
        for prev_rk, rk in schedule:
            ann = df_annulus(prev_rk, rk)
            for qid, cells in ann.items():
                assert not (cum[qid] & cells), f"cross-round dupes at ({prev_rk}, {rk}]"
                cum[qid] |= cells
            for qid, lon, lat in cases:
                want = set(_query_ring_keys(lon, lat, res, -1, rk).tolist())
                assert cum[qid] == want, (qid, prev_rk, rk)
        # one-shot full ring == the same coverage
        full = df_annulus(-1, 16)
        for qid, lon, lat in cases:
            assert full[qid] == cum[qid], qid

    def test_frontier_checkpoint_kill_and_resume(self, spark, pts, pts_local, tmp_path):
        """North-rule resumability for the DataFrame-native join: kill after
        round 1 (max_rounds=1 raises fail-loud), then a resumed call with the
        same dir continues from the committed frontier — same result as the
        brute-force oracle, candidate delta dirs all present, and round 1's
        delta is REUSED (not rewritten)."""
        qpd = queries_pd(pts_local, n_grid=12)
        qdf = spark.createDataFrame(qpd)
        ckpt = str(tmp_path / "knnj_ckpt")
        with pytest.raises(RuntimeError, match="pending"):
            knn_join_df(pts, qdf, k=5, res=7, max_rounds=1, checkpoint_dir=ckpt)
        import os

        assert os.path.exists(os.path.join(ckpt, "CURRENT"))
        delta1 = os.path.join(ckpt, "candidates-0001")
        mtime1 = os.path.getmtime(os.path.join(delta1, "_SUCCESS"))

        out = knn_join_df(pts, qdf, k=5, res=7, checkpoint_dir=ckpt)
        got_rows = {(r.q_id, r.rank): (r.nn_id, r.dist_km) for r in out.collect()}
        q_dicts = [
            {"q_id": int(r.q_id), "lon": float(r.q_lon), "lat": float(r.q_lat)}
            for r in qpd.itertuples(index=False)
        ]
        want = knn_np(
            pts_local.lon.to_numpy(), pts_local.lat.to_numpy(),
            pts_local.url.tolist(), q_dicts, k=5,
        )
        assert len(got_rows) == len(want)
        for qid, nn_id, dist, rank in want:
            g_id, g_dist = got_rows[(qid, rank)]
            assert g_id == nn_id and g_dist == pytest.approx(dist, rel=1e-9, abs=1e-9)
        # round-1 delta untouched by the resume; later rounds committed
        assert os.path.getmtime(os.path.join(delta1, "_SUCCESS")) == mtime1
        with open(os.path.join(ckpt, "CURRENT")) as f:
            assert int(f.read()) >= 2

    def test_jobs_do_not_scale_with_query_count(self, spark, pts, pts_local):
        """The driver loop is over ROUNDS: 8× more queries must not run more
        Spark jobs per round (a per-query driver loop would). Jobs may differ
        by a few (ring start adapts to density), never by ~|queries|."""
        rng = np.random.default_rng(7)

        def run(n_queries: int) -> int:
            qdf = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "q_id": np.arange(n_queries),
                        "q_lon": rng.uniform(-170, 170, n_queries),
                        "q_lat": rng.uniform(-75, 75, n_queries),
                    }
                )
            )
            sc = spark.sparkContext
            group = f"knnjobs{n_queries}"
            sc.setJobGroup(group, group)
            try:
                knn_join_df(pts, qdf, k=3, res=7, points_count=N).count()
            finally:
                sc.setJobGroup(None, None)
            tracker = sc.statusTracker()
            return len(tracker.getJobIdsForGroup(group))

        small = run(25)
        big = run(200)
        assert big <= small + 4, (small, big)


class TestKnnDocsShape:
    def test_local_query_side_arrow_off(self, spark, pts, pts_local):
        """knn_docs' call shape — a few literal queries with INT ids as a
        local_df — with Arrow off, Spark's default session setting:
        exact against knn_np, and within a fixed Spark job budget (the
        input contract job, one materializing job per round plus its
        shuffle stages, the final collect), so an added driver round trip
        fails here."""
        from erased_cells_spark.plans.tuning import local_df
        from erased_cells_spark.queries import _KNN_QUERIES

        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        sc = spark.sparkContext
        sc.setJobGroup("knn_docs_shape", "knn_docs_shape")
        try:
            qdf = local_df(
                spark,
                [(q["q_id"], q["lon"], q["lat"]) for q in _KNN_QUERIES],
                "q_id INT, q_lon DOUBLE, q_lat DOUBLE",
            )
            rows = knn_join_df(pts, qdf, k=5, res=7).collect()
        finally:
            sc.setJobGroup(None, None)
            spark.conf.set(key, prev)
        jobs = len(sc.statusTracker().getJobIdsForGroup("knn_docs_shape"))
        want = knn_np(
            pts_local.lon.to_numpy(), pts_local.lat.to_numpy(),
            pts_local.url.tolist(), _KNN_QUERIES, k=5,
        )
        got = {(r.q_id, r.rank): (r.nn_id, r.dist_km) for r in rows}
        assert len(got) == len(want)
        for qid, nn_id, dist, rank in want:
            g_id, g_dist = got[(qid, rank)]
            assert g_id == nn_id and g_dist == pytest.approx(dist, rel=1e-9, abs=1e-9)
        assert jobs <= JOBS_KNN_DOCS_SHAPE, jobs


class TestAnnulusBlockRanges:
    def test_block_range_annulus_matches_frame_walk(self, spark):
        """r8 equivalence gate for the block-range rewrite of
        _annulus_cells_df: for a grid of query positions (corners, edges,
        center) and (prev_rk, rk] combinations including first-round,
        wrap-width and whole-grid radii, the generated cell set must equal
        the r7 per-radius frame walk, with no duplicates (single cover)."""
        from erased_cells_spark.operators.knn import _annulus_cells_df

        def frame_walk(st, rk_hi, n):
            w_lo, w_hi = -(n // 2), (n - 1) // 2
            empty = "CAST(array() AS ARRAY<STRUCT<dx: INT, dy: INT>>)"
            frame_sql = f"""
            CASE WHEN r = 0 THEN array(named_struct('dx', 0, 'dy', 0))
            ELSE concat(
              transform(sequence(greatest(-r, {w_lo}), least(r, {w_hi})),
                        dx -> named_struct('dx', dx, 'dy', -r)),
              transform(sequence(greatest(-r, {w_lo}), least(r, {w_hi})),
                        dx -> named_struct('dx', dx, 'dy', r)),
              IF(-r >= {w_lo},
                 transform(sequence(1 - r, r - 1), dy -> named_struct('dx', -r, 'dy', dy)),
                 {empty}),
              IF(r <= {w_hi},
                 transform(sequence(1 - r, r - 1), dy -> named_struct('dx', r, 'dy', dy)),
                 {empty})
            ) END"""
            radii = st.select(
                "q_id", "q_lon", "q_lat", "_ix", "_iy",
                F.expr(f"explode(sequence(prev_rk + 1, {rk_hi}))").alias("r"),
            )
            offs = radii.select(
                "q_id", "q_lon", "q_lat", "_ix", "_iy",
                F.expr(f"explode({frame_sql})").alias("o"),
            )
            return (
                offs.withColumn("_ny", F.expr("_iy + o.dy"))
                .filter(f"_ny >= 0 AND _ny < {n}")
                .select(
                    "q_id", "q_lon", "q_lat",
                    F.expr(f"_ny * {n} + pmod(_ix + o.dx, {n})").alias("cell"),
                )
            )

        for n in (8, 16):
            qs, qid = [], 0
            for ix in (0, 1, n // 2, n - 1):
                for iy in (0, 1, n // 2, n - 1):
                    qs.append((qid, 0.0, 0.0, ix, iy))
                    qid += 1
            for prev, rk in [(-1, 2), (-1, n), (2, 7), (7, n), (n // 2, n)]:
                st = spark.createDataFrame(
                    [(*q, prev) for q in qs],
                    "q_id INT, q_lon DOUBLE, q_lat DOUBLE, _ix INT, _iy INT, prev_rk INT",
                )
                want = {(r.q_id, r.cell) for r in frame_walk(st, rk, n).collect()}
                got = [(r.q_id, r.cell) for r in _annulus_cells_df(st, rk, n).collect()]
                assert len(got) == len(set(got)), (n, prev, rk, "duplicate cells")
                assert set(got) == want, (n, prev, rk)
