"""The four benchmark workloads.

Each workload generates its inputs from the seed at set-up, materializes
them where the engine will read them, and computes a numpy reference answer
from the same generated inputs.  A lap runs the engine; `check` compares the
lap's output with the reference and returns a list of errors (empty when
the output is correct).  Spans name the engine layer each call goes into.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _clustered_points(rng: np.random.Generator, n: int, n_clusters: int, sigma=(1.0, 4.0)):
    """Gaussian blobs: dense cores and empty space between them."""
    cx = rng.uniform(-150.0, 150.0, n_clusters)
    cy = rng.uniform(-60.0, 60.0, n_clusters)
    sd = rng.uniform(sigma[0], sigma[1], n_clusters)
    which = rng.integers(0, n_clusters, n)
    lon = np.clip(cx[which] + rng.normal(0.0, 1.0, n) * sd[which], -179.99, 179.99)
    lat = np.clip(cy[which] + rng.normal(0.0, 1.0, n) * sd[which], -89.99, 89.99)
    return lon, lat, cx, cy, sd


class Workload:
    """Base: subclasses set `name`, `sizes` and implement the hooks."""

    name = ""
    sizes: dict[str, dict] = {}
    # warm laps a run makes even when --seconds is already used up; set so
    # that the count does not depend on how fast the host happens to be
    min_warm = 1
    # untimed laps between the cold lap and the warm window
    warmup = 0

    def __init__(self, spark, seed: int, workdir: str, size: str = "default") -> None:
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.params = dict(self.sizes[size])
        self.input_rows = 0

    def setup(self) -> None:
        raise NotImplementedError

    def lap(self, tr, lap_no: int):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def prefix(self, tr) -> None:
        """Traced mode only: extra spans outside the lap (default: none)."""

    def after_lap(self, tr, lap_no: int) -> None:
        """Untimed clean-up after a lap has been checked."""

    def run_metrics(self) -> dict[str, float]:
        """Traced mode only: per-run layer metrics measured outside laps."""
        return {}

    def plan_counters(self, span_name: str, plans: list, tr) -> None:
        """Traced mode only: read operator counters from executed plans."""


# --------------------------------------------------------------------------
class PagesZonal(Workload):
    """North-rule flagship: scan pages → extract → geocode → PIP → zonal counts."""

    name = "pages_zonal"
    warmup = 2  # its first laps after the cold one still warm the JIT
    min_warm = 3
    sizes = {"default": {"pages": 60_000, "polygons": 64}, "tiny": {"pages": 4_000, "polygons": 16}}

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from erased_cells_spark.functions.geocode import geocode_np
        from erased_cells_spark.operators.pip import pip_join_np
        from erased_cells_spark.sources.pages import materialize_pages
        from erased_cells_spark.spatial.geom import make_polygon_fixtures

        n = self.params["pages"]
        self.path = os.path.join(self.workdir, "pages")
        materialize_pages(self.spark, n, self.seed, self.path)
        self.polys = make_polygon_fixtures(self.params["polygons"], seed=self.seed)
        self.input_rows = n

        urls = pq.read_table(self.path, columns=["url"]).column("url").to_pandas()
        per_host = urls.str.extract(r"^https?://([^/]+)", expand=False).value_counts()
        lon, lat = geocode_np(list(per_host.index))
        pages = per_host.to_numpy()
        ref: dict[int, list[int]] = {}
        for idx, pid in pip_join_np(lon, lat, self.polys):
            acc = ref.setdefault(pid, [0, 0])
            acc[0] += int(pages[idx])
            acc[1] += 1
        self.ref = {pid: tuple(v) for pid, v in ref.items()}
        self.n_rows = int(pages.sum())

    def prefix(self, tr) -> None:
        """A fused plan cannot be split from outside, so traced laps first
        force each layer's prefix with a noop write; a layer's time is its
        prefix span minus the prefix span of its input."""
        from erased_cells_spark.operators.pip import pip_join
        from erased_cells_spark.pipeline import geocoded_pages

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        with tr.span("prefix.sources"):
            pages = self.spark.read.parquet(self.path)
            force(pages.select("url", "html", "text"))
        with tr.span("prefix.functions"):
            g = geocoded_pages(pages).select("url", "host", "extracted", "text", "lon", "lat")
            force(g)
        with tr.span("prefix.pip"):
            force(pip_join(g, self.polys))

    def lap(self, tr, lap_no):
        from erased_cells_spark.pipeline import flagship_with_invariant

        with tr.span("flagship"):
            pages = self.spark.read.parquet(self.path)
            out, obs = flagship_with_invariant(pages, self.polys)
            rows = out.collect()
        return {"rows": rows, "obs": obs.get}

    def check(self, out) -> list[str]:
        errs = []
        if out["obs"]["bad_extractions"] != 0:
            errs.append(f"bad_extractions={out['obs']['bad_extractions']}")
        if out["obs"]["rows_in"] != self.n_rows:
            errs.append(f"rows_in={out['obs']['rows_in']} expected {self.n_rows}")
        got = {int(r["poly_id"]): (int(r["n_pages"]), int(r["n_hosts"])) for r in out["rows"]}
        if got != self.ref:
            bad = sorted(k for k in set(got) | set(self.ref) if got.get(k) != self.ref.get(k))
            errs.append(
                "zone counts differ for polygons "
                + ", ".join(f"{k}: got {got.get(k)} expected {self.ref.get(k)}" for k in bad[:5])
            )
        return errs

    def plan_counters(self, span_name, plans, tr) -> None:
        if span_name != "flagship":
            return
        # Filter(winding test) <- InputAdapter <- ArrowEvalPython(_inside):
        # the UDF sees every candidate, the filter passes the accepted ones
        for plan in plans:
            for node in plan.walk():
                if node.name != "Filter" or not node.children:
                    continue
                py = node.children[0]
                while py.name == "InputAdapter" and py.children:
                    py = py.children[0]
                if py.name == "ArrowEvalPython" and "_inside(" in py.describe():
                    tr.count("pip.candidates", py.metrics.get("pythonNumRowsReceived", 0))
                    tr.count("pip.accepted", node.metrics.get("numOutputRows", 0))


# --------------------------------------------------------------------------
class RasterTiles(Workload):
    """Cell semantics: rasterize, masked tile division, tile stats, zonal."""

    name = "raster_tiles"
    sizes = {
        "default": {"points": 40_000, "clusters": 48, "zones": 16, "subset": 0.3},
        "tiny": {"points": 20_000, "clusters": 6, "zones": 4, "subset": 0.3},
    }
    RES, SHIFT = 10, 4

    def setup(self) -> None:
        from erased_cells_spark.operators.cells_expr import cell_key_np
        from erased_cells_spark.spatial.geom import points_in_ring, regular_polygon

        p = self.params
        rng = np.random.default_rng(self.seed)
        lon, lat, cx, cy, sd = _clustered_points(rng, p["points"], p["clusters"])
        sub = rng.random(p["points"]) < p["subset"]
        self.zones = [
            {"poly_id": z, "ring": regular_polygon(
                cx[z], cy[z], float(2.0 * sd[z]), int(rng.integers(5, 13)), 0.2, self.seed * 100 + z
            )}
            for z in range(p["zones"])
        ]
        pdf = pd.DataFrame({"lon": lon, "lat": lat})
        self.pts = self.spark.createDataFrame(pdf).cache()
        self.sub = self.spark.createDataFrame(pdf[sub].reset_index(drop=True)).cache()
        self.pts.count()
        self.sub.count()
        self.input_rows = p["points"]
        self._sample = None

        n, ts, tn = 1 << self.RES, 1 << self.SHIFT, 1 << (self.RES - self.SHIFT)

        def raster(keys):
            cells, counts = np.unique(keys, return_counts=True)
            return dict(zip(cells.tolist(), counts.tolist()))

        all_c = raster(cell_key_np(lon, lat, self.RES))
        sub_c = raster(cell_key_np(lon[sub], lat[sub], self.RES))

        def tile_of(cell):
            iy, ix = divmod(cell, n)
            return (iy >> self.SHIFT) * tn + (ix >> self.SHIFT), (iy % ts) * ts + ix % ts

        def tile_stats(cells: dict) -> dict:
            tiles: dict[int, np.ndarray] = {}
            for cell, v in cells.items():
                tk, off = tile_of(cell)
                tiles.setdefault(tk, np.full(ts * ts, np.nan))[off] = v
            out = {}
            for tk, g in tiles.items():
                lit = g[~np.isnan(g)]
                out[tk] = (float(lit.min()), float(lit.max()), float(lit.sum()), len(lit), ts * ts - len(lit))
            return out

        self.ref_all = tile_stats(all_c)
        self.ref_div = tile_stats({c: sub_c[c] / all_c[c] for c in sub_c})
        cells = np.array(sorted(all_c), dtype=np.int64)
        vals = np.array([all_c[c] for c in cells.tolist()], dtype=np.float64)
        iy, ix = np.divmod(cells, n)
        clon = (ix + 0.5) / n * 360.0 - 180.0
        clat = (iy + 0.5) / n * 180.0 - 90.0
        self.ref_zonal = {}
        for z in self.zones:
            v = vals[points_in_ring(clon, clat, z["ring"])]
            if len(v):
                self.ref_zonal[z["poly_id"]] = (float(v.min()), float(v.max()), float(v.sum()), len(v))

    def lap(self, tr, lap_no):
        from pyspark.sql import functions as F

        from erased_cells_spark.operators.raster import rasterize_points, zonal_stats
        from erased_cells_spark.tiles.udfs import tile_binop, tile_stats

        with tr.span("raster.rasterize"):
            a = rasterize_points(self.pts, self.RES, self.SHIFT).cache()
            b = rasterize_points(self.sub, self.RES, self.SHIFT).cache()
            n_tiles = a.count() + b.count()
        tr.count("raster.tiles", n_tiles)
        with tr.span("tiles"):
            j = b.alias("b").join(a.alias("a"), "tile_key")
            q = tile_binop(
                "div", F.col("b.cell_type"), F.col("b.data"), F.col("b.mask"),
                F.col("a.cell_type"), F.col("a.data"), F.col("a.mask"),
            )
            stats = j.select(
                "tile_key",
                tile_stats(F.col("a.cell_type"), F.col("a.data"), F.col("a.mask")).alias("all"),
                q.alias("q"),
            ).select("tile_key", "all", tile_stats(F.col("q.cell_type"), F.col("q.data"), F.col("q.mask")).alias("div"))
            stats = stats.collect()
        with tr.span("raster.zonal"):
            zonal = zonal_stats(a, self.zones, self.RES, self.SHIFT).collect()
        self._rasters = (a, b)
        return {"tiles": n_tiles, "stats": stats, "zonal": zonal}

    def check(self, out) -> list[str]:
        errs = []
        n_tiles = len(self.ref_all) + len(self.ref_div)
        if out["tiles"] != n_tiles:
            errs.append(f"rasterized {out['tiles']} tiles, expected {n_tiles}")
        for label, ref in (("all", self.ref_all), ("div", self.ref_div)):
            got = {int(r["tile_key"]): tuple(r[label]) for r in out["stats"]}
            if set(got) != set(self.ref_div):
                errs.append(f"{label}: stats for {len(got)} tiles, expected {len(self.ref_div)}")
                continue
            for k in sorted(got):
                lo, hi, s, d, nd = ref[k]
                g = got[k]
                if (g[0], g[1], g[3], g[4]) != (lo, hi, d, nd) or abs(g[2] - s) > 1e-9 * max(1.0, abs(s)):
                    errs.append(f"{label}: tile {k} got {g} expected {ref[k]}")
                    break
        got = {int(r["poly_id"]): (r["z_min"], r["z_max"], r["z_sum"], int(r["z_count"])) for r in out["zonal"]}
        if got != self.ref_zonal:
            bad = sorted(k for k in set(got) | set(self.ref_zonal) if got.get(k) != self.ref_zonal.get(k))
            errs.append(f"zonal differs for zones {bad[:5]}: got {[got.get(k) for k in bad[:2]]} "
                        f"expected {[self.ref_zonal.get(k) for k in bad[:2]]}")
        return errs

    def after_lap(self, tr, lap_no) -> None:
        a, b = self._rasters
        if tr.enabled and self._sample is None:
            # a seeded sample of (subset tile, all-points tile) pairs for run_metrics
            from pyspark.sql import functions as F

            with tr.span("cells.sample"):
                cols = [F.col(f"{s}.{c}") for s in "ba" for c in ("cell_type", "data", "mask")]
                rows = b.alias("b").join(a.alias("a"), "tile_key").select(*cols).collect()
            rng = np.random.default_rng(self.seed + 1)
            pick = rng.choice(len(rows), size=min(64, len(rows)), replace=False)
            self._sample = [rows[i] for i in sorted(pick)]
        a.unpersist()
        b.unpersist()

    def run_metrics(self) -> dict[str, float]:
        """Time the cells kernels directly on a sample of this run's tiles."""
        from erased_cells_spark.tiles.schema import tile_to_masked_buffer

        pairs = [
            (tile_to_masked_buffer(*r[0:3]), tile_to_masked_buffer(*r[3:6])) for r in self._sample
        ]

        def per_tile_us(fn) -> float:
            reps = []
            for _ in range(15):
                t = time.perf_counter()
                for x, y in pairs:
                    fn(x, y)
                reps.append((time.perf_counter() - t) / len(pairs) * 1e6)
            return float(np.median(reps))

        return {
            "cells.binop_us_per_tile": per_tile_us(lambda x, y: x / y),
            "cells.minmax_us_per_tile": per_tile_us(lambda x, y: y.min_max()),
        }


# --------------------------------------------------------------------------
class DocsDedupKnn(Workload):
    """Near-duplicate detection (MinHash-LSH, SimHash) and a kNN join."""

    name = "docs_dedup_knn"
    sizes = {
        "default": {"docs": 2_000, "planted": 0.06, "query_frac": 0.1, "knn_sample": 25},
        "tiny": {"docs": 1_500, "planted": 0.06, "query_frac": 0.1, "knn_sample": 10},
    }
    THRESHOLD, K = 0.8, 3

    def setup(self) -> None:
        from erased_cells_spark.operators.knn import knn_np
        from erased_cells_spark.sources.pages import WORDS, gen_batch

        p = self.params
        rng = np.random.default_rng(self.seed)
        n = p["docs"]
        ids = np.arange(n, dtype=np.int64)
        texts = list(gen_batch(ids, self.seed)["text"])
        lens = np.array([t.count(" ") + 1 for t in texts])
        # planted near-duplicates: copy[i] is a copy of source[i]; half are
        # exact, half get one word replaced per 40 words (Jaccard >= ~0.86)
        n_plant = int(n * p["planted"])
        long_docs = rng.permutation(np.nonzero(lens >= 60)[0])
        sources, copies = long_docs[:n_plant], long_docs[n_plant : 2 * n_plant]
        self.exact, self.planted = set(), set()
        for i, (s, c) in enumerate(zip(sources.tolist(), copies.tolist())):
            words = texts[s].split(" ")
            if i % 2:
                for pos in rng.choice(len(words), size=len(words) // 40, replace=False):
                    words[pos] = WORDS[(WORDS.index(words[pos]) + 1 + int(rng.integers(0, 500))) % len(WORDS)]
            else:
                self.exact.add((min(s, c), max(s, c)))
            texts[c] = " ".join(words)
            self.planted.add((min(s, c), max(s, c)))
        self.texts = texts
        lon, lat, *_ = _clustered_points(rng, n, 24, sigma=(2.0, 5.0))
        docs = pd.DataFrame({"doc_id": ids, "text": texts, "lon": lon, "lat": lat})
        q_idx = np.sort(rng.choice(n, size=int(n * p["query_frac"]), replace=False))
        queries = pd.DataFrame({"q_id": ids[q_idx], "q_lon": lon[q_idx], "q_lat": lat[q_idx]})
        self.docs_path = os.path.join(self.workdir, "docs")
        self.q_path = os.path.join(self.workdir, "queries")
        self.spark.createDataFrame(docs).coalesce(4).write.parquet(self.docs_path)
        self.spark.createDataFrame(queries).coalesce(1).write.parquet(self.q_path)
        self.input_rows = n

        sample = rng.choice(len(q_idx), size=min(p["knn_sample"], len(q_idx)), replace=False)
        qs = [{"q_id": int(ids[q_idx[i]]), "lon": lon[q_idx[i]], "lat": lat[q_idx[i]]} for i in sample]
        self.ref_knn = {}
        for q_id, nn_id, dist, rank in knn_np(lon, lat, ids.tolist(), qs, k=self.K):
            self.ref_knn[(q_id, rank)] = (int(nn_id), dist)
        self._sim_cache: dict[int, int] = {}

    def lap(self, tr, lap_no):
        from erased_cells_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
        from erased_cells_spark.operators.knn import knn_join_df

        docs = self.spark.read.parquet(self.docs_path)
        out = {}
        for label, fn, kw in (
            ("minhash", minhash_lsh_pairs, {"threshold": self.THRESHOLD}),
            ("simhash", simhash_pairs, {"max_hamming": 3}),
        ):
            with tr.span(f"dedup.{label}"):
                caches, hot = [], []
                out[label] = fn(docs, caches=caches, hot_report=hot, **kw).collect()
                n_hot = hot[0].count() if hot else 0
                for c in caches:
                    c.unpersist()
            tr.count("dedup.hot_buckets", n_hot)
            tr.count("dedup.pairs", len(out[label]))
        with tr.span("knn"):
            q = self.spark.read.parquet(self.q_path)
            out["knn"] = knn_join_df(docs.select("doc_id", "lon", "lat"), q, k=self.K, id_col="doc_id").collect()
        return out

    def _hamming(self, a: int, b: int) -> int:
        from erased_cells_spark.operators.dedup import simhash_np

        for i in (a, b):
            if i not in self._sim_cache:
                self._sim_cache[i] = simhash_np(self.texts[i])
        return bin(self._sim_cache[a] ^ self._sim_cache[b]).count("1")

    def check(self, out) -> list[str]:
        from erased_cells_spark.operators.dedup import shingle_set

        errs = []
        mh = {(int(r["id_a"]), int(r["id_b"])): r["jaccard"] for r in out["minhash"]}
        missed = self.planted - set(mh)
        if missed:
            errs.append(f"minhash missed {len(missed)} planted pairs, e.g. {sorted(missed)[:3]}")
        for (a, b), j in mh.items():
            sa, sb = shingle_set(self.texts[a]), shingle_set(self.texts[b])
            exact = len(sa & sb) / len(sa | sb)
            if exact < self.THRESHOLD or abs(exact - j) > 1e-9:
                errs.append(f"minhash pair ({a}, {b}) jaccard {j} exact {exact}")
                break
        sh = {(int(r["id_a"]), int(r["id_b"])): int(r["hamming"]) for r in out["simhash"]}
        missed = self.exact - set(sh)
        if missed:
            errs.append(f"simhash missed {len(missed)} exact copies, e.g. {sorted(missed)[:3]}")
        for (a, b), h in sh.items():
            want = 0 if (a, b) in self.exact else self._hamming(a, b)
            if h != want or h > 3:
                errs.append(f"simhash pair ({a}, {b}) hamming {h} expected {want}")
                break
        got = {(int(r["q_id"]), int(r["rank"])): (int(r["nn_id"]), r["dist_km"]) for r in out["knn"]}
        for key, (nn, dist) in self.ref_knn.items():
            g = got.get(key)
            if g is None or g[0] != nn or abs(g[1] - dist) > 1e-6:
                errs.append(f"knn {key}: got {g} expected {(nn, dist)}")
                break
        return errs

    def plan_counters(self, span_name, plans, tr) -> None:
        marker = {"dedup.minhash": "array_intersect", "dedup.simhash": "bit_count"}.get(span_name)
        if marker is None:
            return
        for plan in plans:
            for node in plan.walk():
                if node.name == "Filter" and marker in node.describe():
                    tr.count("dedup.candidates", node.rows_in())


# --------------------------------------------------------------------------
class SnapshotIngest(Workload):
    """Writes beside reads: appends, upserts, compaction, pruned reads."""

    name = "snapshot_ingest"
    sizes = {
        "default": {"batches": 4, "rows": 6_000, "upserts": 0.1, "read_batches": 2},
        "tiny": {"batches": 4, "rows": 2_000, "upserts": 0.1, "read_batches": 2},
    }

    def setup(self) -> None:
        p = self.params
        rng = np.random.default_rng(self.seed)
        nb, nr = p["batches"], p["rows"]
        keys = rng.permutation(nb * nr * 2)[: nb * nr].astype(np.int64)
        table = pd.DataFrame({
            "key": keys,
            "batch": np.repeat(np.arange(nb, dtype=np.int32), nr),
            "cell": rng.integers(0, 1 << 40, nb * nr),
            "value": np.round(rng.normal(100.0, 30.0, nb * nr), 3),
        })
        n_up = int(nb * nr * p["upserts"])
        upd = table.sample(n=n_up // 2, random_state=self.seed).copy()
        upd["value"] = np.round(upd["value"] + rng.uniform(1.0, 5.0, len(upd)), 3)
        fresh = np.setdiff1d(np.arange(nb * nr * 2, dtype=np.int64), keys)
        ins = pd.DataFrame({
            "key": rng.choice(fresh, n_up - len(upd), replace=False),
            "batch": rng.integers(0, nb, n_up - len(upd)).astype(np.int32),
            "cell": rng.integers(0, 1 << 40, n_up - len(upd)),
            "value": np.round(rng.normal(100.0, 30.0, n_up - len(upd)), 3),
        })
        ups = pd.concat([upd, ins], ignore_index=True)
        self.batch_paths = []
        for b in range(nb):
            path = os.path.join(self.workdir, f"batch-{b}")
            self.spark.createDataFrame(table[table["batch"] == b].reset_index(drop=True)).coalesce(2).write.parquet(path)
            self.batch_paths.append(path)
        self.ups_path = os.path.join(self.workdir, "upserts")
        self.spark.createDataFrame(ups).coalesce(2).write.parquet(self.ups_path)
        self.user_bytes = sum(_dir_bytes(pth) for pth in self.batch_paths + [self.ups_path])
        self.input_rows = nb * nr + n_up

        final = pd.concat([table[~table["key"].isin(upd["key"])], ups], ignore_index=True)
        self.read_batches = sorted(rng.choice(nb, p["read_batches"], replace=False).tolist())
        sel = final[final["batch"].isin(self.read_batches)]
        self.ref_read = {
            int(b): (len(g), round(float(g["value"].sum()), 3), int(g["key"].sum()))
            for b, g in sel.groupby("batch")
        }
        self.ref_rows = len(final)
        self.ref_changes = (len(ups), len(upd))
        self.n_batches = nb

    def lap(self, tr, lap_no):
        from pyspark.sql import functions as F

        from erased_cells_spark.sources.snapshot import SnapshotTable

        self.tbl_path = os.path.join(self.workdir, f"table-{lap_no}")
        t = SnapshotTable(self.tbl_path)
        with tr.span("snapshot.append"):
            for b, path in enumerate(self.batch_paths):
                t.write_partitions(self.spark.read.parquet(path), "batch", [b])
        sid0 = t.current_manifest()["snapshot_id"]
        with tr.span("snapshot.merge"):
            t.merge(self.spark, self.spark.read.parquet(self.ups_path), "key", "batch")
        with tr.span("snapshot.compact"):
            t.compact(self.spark, 1)
        with tr.span("snapshot.read"):
            df = t.read(self.spark, where=[("batch", "in", self.read_batches)])
            read = df.groupBy("batch").agg(
                F.count("*").alias("n"), F.round(F.sum("value"), 3).alias("v"), F.sum("key").alias("k")
            ).collect()
            scan = dict(t.last_scan)
        with tr.span("snapshot.changes"):
            ch = t.changes(self.spark, sid0)
            changes = (ch["appended"].count(), ch["deleted"].count())
        with tr.span("snapshot.files_df"):
            files = t.files_df(self.spark).collect()
        tr.count("snapshot.partitions_read", scan["partitions_read"])
        tr.count("snapshot.partitions_total", scan["partitions_total"])
        return {"read": read, "scan": scan, "changes": changes, "files": files}

    def check(self, out) -> list[str]:
        errs = []
        got = {int(r["batch"]): (int(r["n"]), round(float(r["v"]), 3), int(r["k"])) for r in out["read"]}
        if got != self.ref_read:
            errs.append(f"pruned read got {got} expected {self.ref_read}")
        scan = out["scan"]
        if scan["partitions_read"] != len(self.read_batches) or scan["partitions_total"] != self.n_batches:
            errs.append(f"pruning: read {scan['partitions_read']} of {scan['partitions_total']} partitions")
        if out["changes"] != self.ref_changes:
            errs.append(f"changes (appended, deleted) {out['changes']} expected {self.ref_changes}")
        rows = sum(int(r["rows"]) for r in out["files"])
        per_part = {}
        for r in out["files"]:
            per_part[r["lineage"]] = per_part.get(r["lineage"], 0) + 1
        if rows != self.ref_rows or len(per_part) != self.n_batches or max(per_part.values()) != 1:
            errs.append(f"files_df: {rows} rows in {len(out['files'])} files, expected {self.ref_rows} rows "
                        f"in one file per partition")
        return errs

    def after_lap(self, tr, lap_no) -> None:
        if tr.enabled:
            written = _dir_bytes(os.path.join(self.tbl_path, "data"))
            tr.count("snapshot.write_amp", written / self.user_bytes)
        shutil.rmtree(self.tbl_path, ignore_errors=True)


WORKLOADS = {w.name: w for w in (PagesZonal, RasterTiles, DocsDedupKnn, SnapshotIngest)}
