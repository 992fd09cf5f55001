"""kNN join: k nearest points for each query, via cell-ring expansion.

One operator, `knn_join_df`, serves every query side, from a few literal
rows (`local_df`) to a DataFrame as large as the points. Rounds expand a
Chebyshev ring around each query's grid cell (the first ring sized from
the point density, then ×4 per round) until the k-th best candidate is
provably closer than anything outside the searched block (rigorous
haversine lower bound, conservative at poles) or the whole grid has been
searched. All per-query state lives in DataFrame columns; the driver only
iterates the O(log gridsize) rounds.

Scale note: each round is one equi-join of the cell-keyed points against
that round's annulus cells plus one window over ≤ k rows per query, so
the 100 TB plan is `scan × few joins` — no all-pairs cross join.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from erased_cells_spark.operators.cells_expr import cell_key_expr, ix_expr, iy_expr

EARTH_R_KM = 6371.0088


def haversine_km_expr(lon1, lat1, lon2, lat2):
    """Great-circle distance in km, builtin-only (JVM codegen)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = (rlat2 - rlat1) / 2.0
    dlon = (F.radians(lon2) - F.radians(lon1)) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_R_KM) * F.asin(F.sqrt(a))


def haversine_km_np(lon1, lat1, lon2, lat2):
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = (rlat2 - rlat1) / 2.0
    dlon = (np.radians(lon2) - np.radians(lon1)) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon) ** 2
    return 2.0 * EARTH_R_KM * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def _query_ring_keys(q_lon: float, q_lat: float, res: int, rk_lo: int, rk_hi: int):
    """Grid keys with Chebyshev distance in (rk_lo, rk_hi] of the query cell
    (rk_lo = -1 means include the center). Lon wraps, lat clamps.

    The annulus is generated DIRECTLY (per-radius frame edges), never as a
    full (2·rk_hi+1)² meshgrid masked down — driver memory stays O(|output|)
    so high-res grids (res ≥ 10) don't blow up the per-round key build."""
    n = np.int64(1) << np.int64(res)
    ix = np.int64(np.mod(np.floor((q_lon + 180.0) / 360.0 * float(n)), n))
    iy = np.int64(np.clip(np.floor((q_lat + 90.0) / 180.0 * float(n)), 0, int(n) - 1))
    dxs, dys = [], []
    for r in range(max(rk_lo + 1, 0), rk_hi + 1):
        if r == 0:
            dxs.append(np.zeros(1, dtype=np.int64))
            dys.append(np.zeros(1, dtype=np.int64))
            continue
        span = np.arange(-r, r + 1, dtype=np.int64)
        # top + bottom rows of the frame
        dxs.append(span)
        dys.append(np.full(len(span), -r, dtype=np.int64))
        dxs.append(span)
        dys.append(np.full(len(span), r, dtype=np.int64))
        if r > 0 and len(span) > 2:
            inner = span[1:-1]
            dxs.append(np.full(len(inner), -r, dtype=np.int64))
            dys.append(inner)
            dxs.append(np.full(len(inner), r, dtype=np.int64))
            dys.append(inner)
    if not dxs:
        return np.empty(0, dtype=np.int64)
    dx = np.concatenate(dxs)
    dy = np.concatenate(dys)
    nx = np.mod(ix + dx, n)
    ny = iy + dy
    ok = (ny >= 0) & (ny < n)
    return np.unique(ny[ok] * n + nx[ok])


def _annulus_cells_df(st: DataFrame, rk_hi: int, n: int) -> DataFrame:
    """(q_id, q_lon, q_lat, cell) for every grid cell with TRUE (wrap-aware)
    Chebyshev distance in (prev_rk, rk_hi] of each query's cell — frame
    edges only, pure JVM; st carries (q_id, q_lon, q_lat, _ix, _iy,
    prev_rk). SINGLE COVER: the top/bottom rows clamp dx to the one-wrap
    window [-n/2, (n-1)/2] and the side columns exist only while ±r is
    inside that window (for even n the +n/2 column IS the −n/2 column —
    only the − side emits it), so a cell is generated exactly once, at its
    true radius, across ALL rounds; the naive unclamped frame would
    re-generate ~3× the cells once rings wrap the antimeridian and need a
    dedup shuffle + seen-set subtraction (proven single-cover in
    tests/test_knn_join_df.py against _query_ring_keys)."""
    w_lo, w_hi = -(n // 2), (n - 1) // 2
    # BLOCK-RANGE generation (r8): the annulus { (dx, dy) :
    # prev_rk < max(|dx|, |dy|) <= rk_hi, dx in the one-wrap window,
    # 0 <= _iy + dy < n } is emitted row-by-row — one native
    # explode(sequence(...)) for dy (pre-clamped to the annulus radius AND
    # the lat range), then per dy either the full dx span (|dy| > prev_rk)
    # or the two side strips outside the already-searched block. The cell
    # SET is identical to the r7 per-radius frame walk (equivalence-tested
    # against it in tests/test_knn_join_df.py), but the hot explode is a
    # plain integer sequence instead of a per-cell named_struct built by an
    # interpreted transform lambda — measured 4-6x faster generation on the
    # whole-grid round, which dominates the join's wall time.
    empty = "CAST(array() AS ARRAY<STRUCT<lo: INT, hi: INT>>)"
    dx_lo, dx_hi = f"greatest({-rk_hi}, {w_lo})", f"least({rk_hi}, {w_hi})"
    ranges_sql = f"""
    CASE WHEN abs(dy) > prev_rk THEN array(named_struct('lo', {dx_lo}, 'hi', {dx_hi}))
    ELSE concat(
      IF({dx_lo} <= -(prev_rk + 1),
         array(named_struct('lo', {dx_lo}, 'hi', -(prev_rk + 1))), {empty}),
      IF(prev_rk + 1 <= {dx_hi},
         array(named_struct('lo', prev_rk + 1, 'hi', {dx_hi})), {empty})
    ) END"""
    dys = st.selectExpr(
        "q_id", "q_lon", "q_lat", "_ix", "_iy", "prev_rk",
        f"explode(sequence(greatest({-rk_hi}, -_iy), least({rk_hi}, {n - 1} - _iy))) AS dy",
    )
    strips = dys.selectExpr(
        "q_id", "q_lon", "q_lat", "_ix", "_iy", "dy", f"explode({ranges_sql}) AS rg"
    )
    return strips.selectExpr(
        "q_id", "q_lon", "q_lat", "_ix", f"(_iy + dy) * {n} AS _rowbase",
        "explode(sequence(rg.lo, rg.hi)) AS dx",
    ).selectExpr("q_id", "q_lon", "q_lat", f"_rowbase + pmod(_ix + dx, {n}) AS cell")


def knn_join_df(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res: int = 7,
    id_col: str = "url",
    lon_col: str = "lon",
    lat_col: str = "lat",
    q_id_col: str = "q_id",
    q_lon_col: str = "q_lon",
    q_lat_col: str = "q_lat",
    max_rounds: int = 16,
    points_count: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k nearest points for EACH row of a query DATAFRAME. Every piece of
    per-query state is a DataFrame column; the driver loop only iterates
    the O(log gridsize) rounds, so the query side may be as large as the
    points side ("k nearest corpus docs for each of 10^7 training
    examples") or a handful of literal rows.

    The round frame holds, per query, its current top-k candidates (or one
    NULL-candidate row while it has none) plus its frontier: the query
    coordinates and a `pending` flag. One round, entirely in the JVM:
      pending rows ──explode──► this round's Chebyshev ANNULUS cells
      (prev_rk, rk] per query, SINGLE COVER (see _annulus_cells_df), so
      annuli are disjoint within and across rounds and the one global
      `prev_rk` is the complete ring state ──► equi-join on cell against
      the cell-keyed points ──► union with the previous frame ──► one
      window on q_id keeps the top k under the final ranking's total order
      (rounded distance, then id) ──► per-query count and k-th distance
      against the rigorous outside-block bound clear `pending`.
    The frame is materialized ONCE per round, and the pending count is an
    observed metric of that same job: no second driver action per round.

    Scale: the cell equi-join is a plain shuffle/broadcast join Catalyst
    sizes per round (the query side is NOT assumed driver-sized), candidate
    rows never duplicate (single-cover rings), the frame stays ≤ k rows per
    query, and driver memory is O(1). Returns (q_id, {id_col}, dist_km,
    rank), rank ∈ [1, k] ties by id asc; queries in regions with < k points
    return what exists once the whole grid is provably searched. Raises if
    max_rounds is exhausted with pending queries (fail-loud, like
    connected_components).

    checkpoint_dir: each round's frame is written as `candidates-NNNN`
    parquet (the read-back is the round's materialization), then an atomic
    manifest rename commits the round; a restarted call with the same dir
    resumes from the last committed frame (north rule: "checkpoints ...
    join frontiers ... for resumability")."""
    import json
    import os
    import uuid

    from pyspark.sql import Observation

    spark = points.sparkSession
    n = 1 << res
    pts = points.select(
        F.col(id_col).alias("nn_id"),
        F.col(lon_col).alias("p_lon"),
        F.col(lat_col).alias("p_lat"),
        cell_key_expr(F.col(lon_col), F.col(lat_col), res).alias("cell"),
    ).cache()

    # fail-loud input contract: duplicate q_ids would silently MERGE two
    # queries' ring state and mix their rankings; NULL ids/coordinates
    # would hang a query until the max_rounds raise. The contract agg and
    # the density count (below) ride ONE Spark job — the cross join of two
    # 1-row aggregates — whose points side is the cache materialization
    # round 1 needs anyway; its `n` is also the initial pending count.
    qagg = queries.agg(
        F.count("*").alias("n"),
        F.count(q_id_col).alias("n_id"),
        F.countDistinct(q_id_col).alias("n_dist"),
        F.count(q_lon_col).alias("n_lon"),
        F.count(q_lat_col).alias("n_lat"),
    )
    if points_count is None:
        chk = qagg.crossJoin(pts.agg(F.count("*").alias("n_pts"))).collect()[0]
        points_count = chk.n_pts
    else:
        chk = qagg.collect()[0]
    if chk.n_id < chk.n or chk.n_lon < chk.n or chk.n_lat < chk.n:
        raise ValueError(
            f"knn_join_df: queries contain NULLs ({chk.n - chk.n_id} ids, "
            f"{chk.n - chk.n_lon} lons, {chk.n - chk.n_lat} lats of {chk.n} rows)"
        )
    if chk.n_dist < chk.n_id:
        raise ValueError(
            f"knn_join_df: {chk.n_id - chk.n_dist} duplicate {q_id_col} values — "
            "per-query ring state is keyed by q_id; de-duplicate the query side"
        )
    frame = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.col(q_lon_col).cast("double").alias("q_lon"),
        F.col(q_lat_col).cast("double").alias("q_lat"),
        F.lit(None).cast(pts.schema["nn_id"].dataType).alias("nn_id"),
        F.lit(None).cast("double").alias("dist_km"),
        F.lit(1).alias("rn"),
        F.lit(True).alias("pending"),
    )
    # density-adaptive first ring: skip the guaranteed-empty early rounds
    # on sparse grids; rigor is unaffected
    density = points_count / float(n * n)
    rk = int(min(n, max(2, math.ceil(2.0 * math.sqrt(k / max(density, 1e-12))))))
    prev_rk, round_no, pending = -1, 0, chk.n

    # ---- frontier resume ---------------------------------------------------
    if checkpoint_dir and os.path.exists(os.path.join(checkpoint_dir, "CURRENT")):
        with open(os.path.join(checkpoint_dir, "CURRENT")) as f:
            last = int(f.read().strip())
        with open(os.path.join(checkpoint_dir, f"frontier-{last:04d}.json")) as f:
            meta = json.load(f)
        rk, prev_rk = int(meta["rk"]), int(meta["prev_rk"])
        round_no, pending = int(meta["round"]), int(meta["pending"])
        frame = spark.read.parquet(os.path.join(checkpoint_dir, f"candidates-{last:04d}"))

    # every Column the rounds share is built once: each driver-side
    # expression call costs py4j round trips
    w_rank = Window.partitionBy("q_id").orderBy(
        F.col("nn_id").isNull().asc(), F.round(F.col("dist_km"), 6).asc(), F.col("nn_id").asc()
    )
    iy = iy_expr(F.col("q_lat"), res)
    grid_xy = [ix_expr(F.col("q_lon"), res).alias("_ix"), iy.alias("_iy")]
    lat_reach = F.greatest(iy, F.lit(n - 1) - iy)
    cand_cols = [
        "q_id", "q_lon", "q_lat", "nn_id",
        haversine_km_expr(
            F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")
        ).alias("dist_km"),
        F.lit(1).alias("rn"),
        F.lit(True).alias("pending"),
    ]
    # TOP-K PRUNING: cutting the union to each query's top k under the
    # final ranking's total order gives top-k(top-k(old) ∪ new) ==
    # top-k(old ∪ new), so the frame stays ≤ k rows per query. The NULL
    # candidate row sorts last and survives only as a query's sole row.
    top_k = (F.col("rn") <= k) & (F.col("nn_id").isNotNull() | (F.col("rn") == 1))
    q_win = "OVER (PARTITION BY q_id)"  # the per-query count and k-th distance
    live = F.col("pending") & (F.col("rn") == 1)
    n_live = F.count(F.when(live, 1)).alias("pending")
    cell_h, cell_w = 180.0 / n, 360.0 / n
    while pending and round_no < max_rounds:
        state = frame.filter(live).select(
            "q_id", "q_lon", "q_lat", *grid_xy, F.lit(prev_rk).alias("prev_rk")
        )
        cand = pts.join(_annulus_cells_df(state, rk, n), "cell").select(cand_cols)
        # rigorous lower bound on the distance to anything outside the
        # searched (2rk+1)² block: the query sits inside its center cell,
        # so the clear margin is (rk-1) cells. lat escape: d ≥ R·Δφ (exact);
        # lon escape: d ≥ (2/π)·R·Δλ·cos(band) (asin/sin inequalities), with
        # the cos at the worst latitude reachable without tripping the lat
        # bound (|lat| + (rk+1) cells, clamped)
        margin = rk - 1
        if margin < 1:
            bound_sql = "0.0"
        else:
            lat_bound = math.radians(margin * cell_h) * EARTH_R_KM
            lon_coef = (2.0 / math.pi) * EARTH_R_KM * math.radians(margin * cell_w)
            bound_sql = (
                f"greatest(0.0, least({lat_bound!r}, {lon_coef!r} * "
                f"cos(radians(least(89.99, abs(q_lat) + {(rk + 1) * cell_h!r})))))"
            )
        done = F.expr(f"count(nn_id) {q_win} >= {k} AND max(dist_km) {q_win} <= {bound_sql}")
        if 2 * rk + 1 >= n:
            # whole-grid coverage: rings wrap in x but CLAMP in lat, so
            # "searched everything" also needs the ring to have reached
            # both lat edges from the query's own row
            done = done | (F.lit(rk) >= lat_reach)
        frame = (
            frame.unionByName(cand)
            .withColumn("rn", F.row_number().over(w_rank))
            .filter(top_k)
            .withColumn("pending", F.col("pending") & ~done)
        )
        # the pending count is an observed metric of the materializing job
        obs = Observation()
        frame = frame.observe(obs, n_live)
        round_no += 1
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)
            frame_dir = os.path.join(checkpoint_dir, f"candidates-{round_no:04d}")
            frame.write.mode("overwrite").parquet(frame_dir)
            frame = spark.read.parquet(frame_dir)
        else:
            frame = frame.localCheckpoint(eager=True)
        pending = obs.get["pending"]
        prev_rk, rk = rk, min(rk * 4, n)
        # once the next ring would wrap the grid in x anyway, the remaining
        # exits are the y-edge whole-grid terminators — jump straight to the
        # full radius instead of paying an extra almost-full round
        if 2 * rk + 1 >= n:
            rk = n

        # ---- frontier commit (data first, manifest rename last) -----------
        if checkpoint_dir:
            tmp = os.path.join(checkpoint_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump({"round": round_no, "rk": rk, "prev_rk": prev_rk, "pending": pending}, f)
            os.rename(tmp, os.path.join(checkpoint_dir, f"frontier-{round_no:04d}.json"))
            cur_tmp = os.path.join(checkpoint_dir, f".tmp-{uuid.uuid4().hex}")
            with open(cur_tmp, "w") as f:
                f.write(str(round_no))
            os.rename(cur_tmp, os.path.join(checkpoint_dir, "CURRENT"))

    pts.unpersist()
    if pending:
        raise RuntimeError(
            f"knn_join_df: {pending} queries still pending after {max_rounds} "
            "rounds — raise max_rounds (ring radius quadruples per round, so "
            "this means an extreme grid/points configuration, not slow convergence)"
        )
    return frame.filter(F.col("nn_id").isNotNull()).select(
        "q_id", "nn_id", "dist_km", F.col("rn").alias("rank")
    )


def knn_np(points_lon, points_lat, point_ids, queries: list[dict], k: int = 5):
    """Brute-force haversine oracle; ties by id asc."""
    out = []
    for q in queries:
        d = haversine_km_np(q["lon"], q["lat"], points_lon, points_lat)
        order = sorted(range(len(d)), key=lambda i: (d[i], point_ids[i]))[:k]
        out.extend((int(q["q_id"]), point_ids[i], float(d[i]), r + 1) for r, i in enumerate(order))
    return out
