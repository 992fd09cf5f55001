"""kNN join: k nearest pages per query point, via cell-ring expansion.

The query side is tiny (broadcast); the point side is only ever touched by
broadcast hash joins on the cell key — no all-pairs cross join, no big
shuffle. Rounds expand a Chebyshev ring around each query cell (1, 2, 4, …
cells) until the k-th best candidate is provably closer than anything outside
the searched block (rigorous haversine lower bound, conservative at poles).

Scale note: rounds are O(log ring); each round is one broadcast join over the
(cell-keyed) points table, so the 100 TB plan is `scan × few broadcast joins`.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from erased_cells_spark.operators.cells_expr import cell_key_expr, ix_expr, iy_expr
from erased_cells_spark.plans.tuning import local_df

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


def _outside_block_bound_km(q_lat: float, rk: int, res: int) -> float:
    """Lower bound on distance from the query point to ANY point outside the
    (2rk+1)² searched cell block. Points outside differ by > rk grid steps in
    x or y; the query sits somewhere inside its center cell, so the clear
    margin is (rk-1) full cells.

    lat escape:  d ≥ R·Δφ                    (exact)
    lon escape:  d ≥ (2/π)·R·Δλ·cos(band)    (rigorous: asin/sin inequalities),
    with the cos taken at the worst latitude reachable without tripping the
    lat bound (|lat| + (rk+1) cells, clamped).
    """
    if rk < 1:
        return 0.0
    n = 1 << res
    cell_h = 180.0 / n
    cell_w = 360.0 / n
    margin = rk - 1
    lat_bound = math.radians(margin * cell_h) * EARTH_R_KM
    band = min(89.99, abs(q_lat) + (rk + 1) * cell_h)
    lon_bound = (2.0 / math.pi) * EARTH_R_KM * math.radians(margin * cell_w) * math.cos(
        math.radians(band)
    )
    return max(0.0, min(lat_bound, lon_bound))


def _grid_iy(q_lat: float, res: int) -> int:
    """Row index of the query's cell (clamped like _query_ring_keys)."""
    n = 1 << res
    return int(np.clip(np.floor((q_lat + 90.0) / 180.0 * n), 0, n - 1))


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


def knn_join(
    points: DataFrame,
    queries: list[dict],
    k: int = 5,
    res: int = 7,
    id_col: str = "url",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_rounds: int = 12,
    checkpoint_dir: str | None = None,
    points_count: int | None = None,
) -> DataFrame:
    """queries: [{q_id, lon, lat}, ...] (small). Returns (q_id, {id_col},
    lon, lat, dist_km, rank) with rank ∈ [1, k], ties broken by id asc.

    checkpoint_dir: when set, the join FRONTIER (per-round candidate DELTAS +
    per-query ring progress) is committed after every round — atomic
    manifest, same protocol as the snapshot sink — and a restarted call with
    the same dir resumes from the last committed round instead of round 0
    (north rule: "checkpoints ... join frontiers ... for resumability").
    The `seen` key sets are NOT persisted: they are a pure function of the
    committed per-query ring radius, so resume reconstructs them."""
    import json
    import os
    import uuid

    spark = points.sparkSession
    pts = points.select(
        F.col(id_col).alias("nn_id"),
        F.col(lon_col).alias("p_lon"),
        F.col(lat_col).alias("p_lat"),
        cell_key_expr(F.col(lon_col), F.col(lat_col), res).alias("cell"),
    ).cache()

    pending = {int(q["q_id"]): (float(q["lon"]), float(q["lat"])) for q in queries}
    acc: DataFrame | None = None
    prev_rk: dict[int, int] = {qid: -1 for qid in pending}
    # keys already searched per query: once the ring wraps the antimeridian
    # (2·rk+1 ≥ grid width) it re-covers earlier cells — subtract them so a
    # candidate is joined exactly once across rounds. Kept as SORTED numpy
    # arrays: late rounds touch 10^5+ keys per query and python-set
    # subtraction + list-of-tuples createDataFrame was the dominant
    # driver-side cost of the whole join (the key build is now numpy
    # end-to-end and ships to the JVM as one Arrow batch).
    empty = np.empty(0, dtype=np.int64)
    seen: dict[int, np.ndarray] = {qid: empty for qid in pending}
    n = 1 << res
    # density-adaptive initial radius: each driver round costs ~1s of
    # scheduling, so size round 1 to (likely) contain k neighbors AND a
    # stop-bound margin — expected k-th distance ≈ sqrt(k/(π·density)) cells,
    # doubled for slack. The count runs on the cached points (round 1 would
    # materialize them anyway); the stop bound stays rigorous regardless, the
    # heuristic only shifts WHERE the geometric rk progression starts. Dense
    # tables (the 100 TB case) start at the floor rk=2; sparse ones skip the
    # guaranteed-empty early rounds instead of paying a driver round each.
    # points_count: pass it when the table's row count is already known
    # (catalog statistics / manifest metrics) — at warehouse scale that makes
    # this a zero-cost lookup instead of a count job
    density = (points_count if points_count is not None else pts.count()) / float(n * n)
    rk = int(min(n, max(2, math.ceil(2.0 * math.sqrt(k / max(density, 1e-12))))))
    round_no = 0

    # ---- frontier resume ---------------------------------------------------
    if checkpoint_dir and os.path.exists(os.path.join(checkpoint_dir, "CURRENT")):
        with open(os.path.join(checkpoint_dir, "CURRENT")) as f:
            last = int(f.read().strip())
        with open(os.path.join(checkpoint_dir, f"frontier-{last:04d}.json")) as f:
            st = json.load(f)
        pending = {int(q): tuple(v) for q, v in st["pending"].items()}
        prev_rk.update({int(q): int(v) for q, v in st["prev_rk"].items()})
        rk, round_no = int(st["rk"]), int(st["round"])
        for qid, pr in prev_rk.items():
            if pr >= 0 and qid in pending:
                qlon, qlat = pending[qid]
                seen[qid] = _query_ring_keys(qlon, qlat, res, -1, pr)
        # candidates are PER-ROUND DELTAS: accumulate every committed round
        acc = spark.read.parquet(
            *[os.path.join(checkpoint_dir, f"candidates-{i:04d}") for i in range(1, last + 1)]
        )
        acc = acc.localCheckpoint(eager=True)

    while round_no < max_rounds:
        if not pending:
            break
        import pandas as pd

        parts = []
        for qid, (qlon, qlat) in pending.items():
            keys = _query_ring_keys(qlon, qlat, res, prev_rk[qid], rk)
            if len(seen[qid]):
                keys = keys[~np.isin(keys, seen[qid])]
            seen[qid] = np.union1d(seen[qid], keys)
            parts.append(
                pd.DataFrame(
                    {"q_id": np.full(len(keys), qid, np.int32), "cell": keys.astype(np.int64)}
                )
            )
            prev_rk[qid] = rk
        qcells = spark.createDataFrame(
            pd.concat(parts) if parts else pd.DataFrame({"q_id": [], "cell": []}),
            "q_id INT, cell BIGINT",
        )
        qmeta = local_df(
            spark,
            [(qid, lon, lat) for qid, (lon, lat) in pending.items()],
            "q_id INT, q_lon DOUBLE, q_lat DOUBLE",
        )
        cand = (
            pts.join(F.broadcast(qcells), "cell")
            .join(F.broadcast(qmeta), "q_id")
            .select(
                "q_id",
                "nn_id",
                F.col("p_lon"),
                F.col("p_lat"),
                haversine_km_expr(F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")).alias("dist_km"),
            )
        )
        if checkpoint_dir:
            # delta checkpoint: ONLY this round's new candidates hit disk —
            # O(total candidates) IO across the whole run, not O(rounds²) —
            # and the read-back doubles as the round's materialization
            os.makedirs(checkpoint_dir, exist_ok=True)
            delta_dir = os.path.join(checkpoint_dir, f"candidates-{round_no + 1:04d}")
            cand.write.mode("overwrite").parquet(delta_dir)
            cand = spark.read.parquet(delta_dir)
        acc = cand if acc is None else acc.unionByName(cand)
        # lazy localCheckpoint: lineage stays flat, but materialization rides
        # the stats job below instead of costing its own round-trip — one
        # Spark job per round, not two
        acc = acc.localCheckpoint(eager=False)

        # per-query k-th distance so far (tiny collect: |queries| rows)
        w = Window.partitionBy("q_id").orderBy(
        F.round(F.col("dist_km"), 6).asc(), F.col("nn_id").asc()
    )
        stats = (
            acc.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .groupBy("q_id")
            .agg(F.count("*").alias("n"), F.max("dist_km").alias("kth"))
            .collect()
        )
        by_q = {r.q_id: r for r in stats}
        done = []
        for qid, (qlon, qlat) in pending.items():
            bound = _outside_block_bound_km(qlat, prev_rk[qid], res)
            r = by_q.get(qid)
            if r is not None and r.n >= k and r.kth <= bound:
                done.append(qid)
            else:
                # whole-grid coverage: rings wrap in x but CLAMP in lat, so
                # "searched everything" needs the x wrap AND the ring to have
                # reached both lat edges from the query's own row (a pure
                # 2·rk ≥ n test can finalize a lat-edge query with rows
                # [n/2, n) never searched)
                iy = _grid_iy(qlat, res)
                if (2 * prev_rk[qid] + 1 >= n) and prev_rk[qid] >= max(iy, n - 1 - iy):
                    done.append(qid)
        for qid in done:
            pending.pop(qid)
        rk = min(rk * 4, n)
        round_no += 1

        # ---- frontier commit (atomic: data first, manifest rename last) ----
        if checkpoint_dir:
            state = {
                "round": round_no,
                "rk": rk,
                "pending": {str(q): list(v) for q, v in pending.items()},
                "prev_rk": {str(q): v for q, v in prev_rk.items()},
            }
            tmp = os.path.join(checkpoint_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(state, f)
            os.rename(tmp, os.path.join(checkpoint_dir, f"frontier-{round_no:04d}.json"))
            cur_tmp = os.path.join(checkpoint_dir, f".tmp-{uuid.uuid4().hex}")
            with open(cur_tmp, "w") as f:
                f.write(str(round_no))
            os.rename(cur_tmp, os.path.join(checkpoint_dir, "CURRENT"))

    w = Window.partitionBy("q_id").orderBy(
        F.round(F.col("dist_km"), 6).asc(), F.col("nn_id").asc()
    )
    return (
        acc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "dist_km", "rank")
    )


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
    # whole-grid round, which dominates knn_join wall time.
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
    dys = st.select(
        "q_id", "q_lon", "q_lat", "_ix", "_iy", "prev_rk",
        F.expr(
            f"explode(sequence(greatest({-rk_hi}, -_iy), least({rk_hi}, {n - 1} - _iy)))"
        ).alias("dy"),
    )
    strips = dys.select(
        "q_id", "q_lon", "q_lat", "_ix", "_iy", "dy",
        F.expr(f"explode({ranges_sql})").alias("rg"),
    )
    return strips.select(
        "q_id", "q_lon", "q_lat",
        F.expr(
            f"explode(sequence(rg.lo, rg.hi))"
        ).alias("dx"),
        F.expr(f"(_iy + dy) * {n}").alias("_rowbase"),
        "_ix",
    ).select(
        "q_id", "q_lon", "q_lat",
        F.expr(f"_rowbase + pmod(_ix + dx, {n})").alias("cell"),
    )


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
    """DataFrame-native kNN JOIN: k nearest points for EACH row of a query
    DATAFRAME — the shape `knn_join` cannot scale to ("k nearest corpus docs
    for each of 10^7 training examples"): there, per-query ring state lives
    in driver dicts and numpy `seen` arrays; here EVERY piece of per-query
    state is a DataFrame column and the driver loop only iterates the
    O(log gridsize) ROUNDS (one scalar count per round, the same shape as
    connected_components' fixpoint).

    Per round, entirely in the JVM:
      state(q_id, q_lon, q_lat, prev_rk) ──explode──► this round's Chebyshev
      ANNULUS cells (prev_rk, rk] per query. Each ring is generated as frame
      edges via sequence/transform (never a masked meshgrid) with a
      SINGLE-COVER x-window [-n/2, (n-1)/2]: every grid cell appears exactly
      at its TRUE (wrap-aware) Chebyshev radius, so annuli are disjoint
      within a round AND across rounds — `prev_rk` alone is the complete
      frontier state, no seen-set subtraction, no dedup shuffle ──►
      equi-join on cell against the cell-keyed points ──► union into the
      accumulated candidates ──► per-query k-th-distance stats vs the
      rigorous outside-block bound (same inequality as
      _outside_block_bound_km, as a JVM expression) decide completion; done
      queries drop out of `state`.

    Scale: the cell equi-join is a plain shuffle/broadcast join Catalyst
    sizes per round (the query side is NOT assumed driver-sized), candidate
    rows never duplicate (single-cover rings), and driver memory is O(1).
    Returns (q_id, {id_col}, dist_km, rank), rank ∈ [1, k] ties by id asc;
    queries in regions with < k points return what exists once the whole
    grid is provably searched. Raises if max_rounds is exhausted with
    pending queries (fail-loud, like connected_components).

    checkpoint_dir: the same frontier protocol as knn_join — per-round
    candidate DELTAS + the pending-state DataFrame hit parquet, then an
    atomic manifest rename commits the round; a restarted call with the
    same dir resumes from the last committed round (north rule:
    "checkpoints ... join frontiers ... for resumability"). Unlike
    knn_join, the persisted frontier state IS a DataFrame — no driver-side
    per-query structures exist to rebuild."""
    import json
    import os
    import uuid
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
    # 1-row aggregates — instead of two serialized driver actions (r8);
    # the points side of that job is the cache materialization round 1
    # needs anyway.
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
    state = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.col(q_lon_col).cast("double").alias("q_lon"),
        F.col(q_lat_col).cast("double").alias("q_lat"),
    ).withColumns(
        {
            "_ix": ix_expr(F.col("q_lon"), res),
            "_iy": iy_expr(F.col("q_lat"), res),
            "prev_rk": F.lit(-1),
        }
    )
    # density-adaptive first ring (same heuristic as knn_join): skip the
    # guaranteed-empty early rounds on sparse grids; rigor is unaffected
    density = points_count / float(n * n)
    rk = int(min(n, max(2, math.ceil(2.0 * math.sqrt(k / max(density, 1e-12))))))

    cell_h, cell_w = 180.0 / n, 360.0 / n
    acc: DataFrame | None = None
    round_no = 0

    # ---- frontier resume ---------------------------------------------------
    if checkpoint_dir and os.path.exists(os.path.join(checkpoint_dir, "CURRENT")):
        with open(os.path.join(checkpoint_dir, "CURRENT")) as f:
            last = int(f.read().strip())
        with open(os.path.join(checkpoint_dir, f"frontier-{last:04d}.json")) as f:
            meta = json.load(f)
        rk, round_no = int(meta["rk"]), int(meta["round"])
        state = spark.read.parquet(os.path.join(checkpoint_dir, f"state-{last:04d}"))
        deltas = [
            os.path.join(checkpoint_dir, f"candidates-{i:04d}") for i in range(1, last + 1)
        ]
        if deltas:
            acc = spark.read.parquet(*deltas).localCheckpoint(eager=True)

    pending = state.count()

    while round_no < max_rounds:
        if pending == 0:
            break
        cells = _annulus_cells_df(state, rk, n)
        cand = pts.join(cells, "cell").select(
            "q_id", "nn_id",
            haversine_km_expr(
                F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")
            ).alias("dist_km"),
        )
        if checkpoint_dir:
            # delta checkpoint: only this round's NEW candidates hit disk;
            # the read-back doubles as the round's materialization
            os.makedirs(checkpoint_dir, exist_ok=True)
            delta_dir = os.path.join(checkpoint_dir, f"candidates-{round_no + 1:04d}")
            cand.write.mode("overwrite").parquet(delta_dir)
            cand = spark.read.parquet(delta_dir)
        acc = cand if acc is None else acc.unionByName(cand)

        w = Window.partitionBy("q_id").orderBy(
        F.round(F.col("dist_km"), 6).asc(), F.col("nn_id").asc()
    )
        # TOP-K PRUNING per round (r8): the accumulated candidate set is cut
        # to each query's current top-k under the SAME deterministic total
        # order the final ranking uses (rounded distance, id tiebreak), so
        # top-k(top-k(old) ∪ new) == top-k(old ∪ new) — the output rows and
        # ranks are identical while acc stays ≤ k·|queries| rows instead of
        # growing by every ring's candidates (the whole-grid final round
        # previously re-windowed millions of rows). The lazy localCheckpoint
        # keeps lineage flat; materialization rides the stats job below.
        acc = (
            acc.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
            .localCheckpoint(eager=False)
        )
        stats = (
            acc.groupBy("q_id")
            .agg(F.count("*").alias("n_cand"), F.max("dist_km").alias("kth"))
        )
        # rigorous outside-block lower bound (JVM twin of
        # _outside_block_bound_km): everything outside the searched
        # (2rk+1)² block is at least `bound` km away
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
        # whole-grid coverage: x wraps, lat CLAMPS — both lat edges must be
        # reachable from the query's own row (see knn_join)
        wg_sql = (
            f"{rk} >= greatest(_iy, {n - 1} - _iy)" if (2 * rk + 1 >= n) else "false"
        )
        done_sql = (
            f"(coalesce(n_cand, 0) >= {k} AND kth <= {bound_sql}) OR ({wg_sql})"
        )
        state = (
            state.join(stats, "q_id", "left")
            .filter(f"NOT ({done_sql})")
            .select("q_id", "q_lon", "q_lat", "_ix", "_iy", F.lit(rk).alias("prev_rk"))
            .localCheckpoint(eager=False)
        )
        pending = state.count()
        rk = min(rk * 4, n)
        # once the next ring would wrap the grid in x anyway, the remaining
        # exits are the y-edge whole-grid terminators — jump straight to the
        # full radius instead of paying an extra almost-full round
        if 2 * rk + 1 >= n:
            rk = n
        round_no += 1

        # ---- frontier commit (data first, manifest rename last) -----------
        if checkpoint_dir:
            state_dir = os.path.join(checkpoint_dir, f"state-{round_no:04d}")
            state.write.mode("overwrite").parquet(state_dir)
            state = spark.read.parquet(state_dir)
            tmp = os.path.join(checkpoint_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump({"round": round_no, "rk": rk}, f)
            os.rename(tmp, os.path.join(checkpoint_dir, f"frontier-{round_no:04d}.json"))
            cur_tmp = os.path.join(checkpoint_dir, f".tmp-{uuid.uuid4().hex}")
            with open(cur_tmp, "w") as f:
                f.write(str(round_no))
            os.rename(cur_tmp, os.path.join(checkpoint_dir, "CURRENT"))

    if pending:
        raise RuntimeError(
            f"knn_join_df: {pending} queries still pending after {max_rounds} "
            "rounds — raise max_rounds (ring radius quadruples per round, so "
            "this means an extreme grid/points configuration, not slow convergence)"
        )
    if acc is None:  # no queries at all: empty result with the right schema
        acc = pts.join(
            state.select("q_id", "q_lon", "q_lat", F.lit(0).cast("long").alias("cell")),
            "cell",
        ).select(
            "q_id", "nn_id",
            haversine_km_expr(
                F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat")
            ).alias("dist_km"),
        )
    w = Window.partitionBy("q_id").orderBy(
        F.round(F.col("dist_km"), 6).asc(), F.col("nn_id").asc()
    )
    out = (
        acc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "nn_id", "dist_km", "rank")
    )
    pts.unpersist()
    return out


def knn_np(points_lon, points_lat, point_ids, queries: list[dict], k: int = 5):
    """Brute-force haversine oracle; ties by id asc."""
    out = []
    for q in queries:
        d = haversine_km_np(q["lon"], q["lat"], points_lon, points_lat)
        order = sorted(range(len(d)), key=lambda i: (d[i], point_ids[i]))[:k]
        out.extend((int(q["q_id"]), point_ids[i], float(d[i]), r + 1) for r, i in enumerate(order))
    return out
