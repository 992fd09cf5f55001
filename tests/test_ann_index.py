"""Persisted ANN index (r7): one SnapshotTable carries IVF assignments,
PQ codes, and LSH signatures under a frozen model; IVF probes are
zone-pruned partition reads; refresh() consumes the source changelog and
is proven equivalent to a full rebuild under the same frozen model."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from erased_cells_spark.operators.ann_index import AnnIndex
from erased_cells_spark.operators.similarity import (
    ann_lsh_topk,
    ivf_ann_topk,
    pq_ann_topk,
    train_ivf_centroids,
    train_pq_codebooks,
)
from erased_cells_spark.sources.snapshot import SnapshotTable

DIM = 16


def make_vecs(n, seed=3):
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, DIM)).round(3)


def emb_df(spark, ids, vecs):
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def src_table(spark, tmp_path, ids, vecs, batch=0):
    t = SnapshotTable(str(tmp_path / "src"))
    df = emb_df(spark, ids, vecs).withColumn(
        "part", F.concat(F.lit(f"b{batch}-"), (F.col("vec_id") % 4).cast("string"))
    )
    t.write_partitions(df, "part", df.select("part"))
    return t


def queries_df(spark, ids, vecs):
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(rows, "q_id LONG, q_vec ARRAY<DOUBLE>")


@pytest.fixture()
def built(spark, tmp_path):
    vecs = make_vecs(120)
    src = src_table(spark, tmp_path, range(120), vecs)
    e = src.read(spark)
    cent = train_ivf_centroids(e, n_lists=6, seed=11)
    cb = train_pq_codebooks(e, m_sub=4, n_codes=8, seed=11)
    idx = AnnIndex(str(tmp_path / "ann"))
    idx.build(
        spark, e, centroids=cent, codebooks=cb, n_tables=1, n_planes=4,
        seed=7, dim=DIM, src_snapshot=src.metrics()["snapshot_id"],
    )
    return idx, src, e, cent, cb, vecs


class TestServing:
    def test_ivf_matches_operator(self, spark, built):
        idx, src, e, cent, cb, vecs = built
        q = queries_df(spark, range(5), vecs[:5])
        got = idx.ivf_topk(spark, q, k=5, n_probe=3).collect()
        want = ivf_ann_topk(e, q, k=5, n_probe=3, centroids=cent).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    def test_ivf_probe_is_partition_pruned(self, spark, built):
        idx, *_ , vecs = built
        q = queries_df(spark, [0], vecs[:1])
        idx.ivf_topk(spark, q, k=3, n_probe=2)
        scan = idx.last_probe_scan
        assert scan["lists_probed"] == 2
        # 6 lists → 6 partitions; a 2-list probe must not open them all
        assert scan["partitions_read"] < scan["partitions_total"]
        assert scan["partitions_read"] <= 2

    def test_pq_matches_operator(self, spark, built):
        idx, src, e, cent, cb, vecs = built
        q = queries_df(spark, range(5), vecs[5:10])
        got = idx.pq_topk(spark, q, k=5).collect()
        want = pq_ann_topk(e, q, cb, k=5).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    def test_lsh_matches_operator(self, spark, built):
        idx, src, e, cent, cb, vecs = built
        q = queries_df(spark, range(4), vecs[10:14])
        got = idx.lsh_topk(spark, q, k=5, probe_depth=2).collect()
        want = ann_lsh_topk(
            e, q, k=5, dim=DIM, n_planes=4, probe_depth=2
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


class TestRefresh:
    def _full_rebuild(self, spark, tmp_path, src, cent, cb):
        full = AnnIndex(str(tmp_path / "ann_full"))
        full.build(
            spark, src.read(spark), centroids=cent, codebooks=cb,
            n_tables=1, n_planes=4, seed=7, dim=DIM,
            src_snapshot=src.metrics()["snapshot_id"],
        )
        return full

    @staticmethod
    def _index_rows(spark, idx):
        return sorted(
            (r.vec_id, r.list_id, tuple(r.codes), tuple(r.sigs))
            for r in idx.df(spark).collect()
        )

    def test_append_window_equals_full_rebuild(self, spark, built, tmp_path):
        idx, src, e, cent, cb, vecs = built
        new = make_vecs(30, seed=9)
        df = emb_df(spark, range(200, 230), new).withColumn(
            "part", F.concat(F.lit("b1-"), (F.col("vec_id") % 4).cast("string"))
        )
        src.write_partitions(df, "part", df.select("part"))
        stats = idx.refresh(spark, src)
        assert stats["mode"] == "incremental"
        # O(churn): the changelog scanned zero batch-0 partitions
        assert stats["changes_scan"]["scanned_from"] == 0
        full = self._full_rebuild(spark, tmp_path, src, cent, cb)
        assert self._index_rows(spark, idx) == self._index_rows(spark, full)

    def test_delete_and_update_window_equals_full_rebuild(
        self, spark, built, tmp_path
    ):
        idx, src, e, cent, cb, vecs = built
        # takedown of 3 vectors + an UPDATE of vec 7 (delete + re-append
        # with a different embedding in the same window)
        src.delete_keys(
            spark,
            spark.createDataFrame([(3,), (50,), (99,)], "vec_id long"),
            "vec_id",
            scope="past",
        )
        upd = make_vecs(1, seed=77)
        src.delete_keys(
            spark, spark.createDataFrame([(7,)], "vec_id long"), "vec_id",
            scope="past",
        )
        df = emb_df(spark, [7], upd).withColumn("part", F.lit("b2-upd"))
        src.write_partitions(df, "part", df.select("part"))
        stats = idx.refresh(spark, src)
        assert stats["mode"] == "incremental"
        full = self._full_rebuild(spark, tmp_path, src, cent, cb)
        got, want = self._index_rows(spark, idx), self._index_rows(spark, full)
        assert got == want
        assert 3 not in {r[0] for r in got}
        # the updated vector's NEW encoding is the visible one
        v7 = [r for r in got if r[0] == 7]
        assert len(v7) == 1
        # and the serving paths agree with operators on the CURRENT corpus
        q = queries_df(spark, [0], upd)
        got_q = idx.ivf_topk(spark, q, k=5, n_probe=6).collect()
        want_q = ivf_ann_topk(
            src.read(spark), q, k=5, n_probe=6, centroids=cent
        ).collect()
        assert [tuple(r) for r in got_q] == [tuple(r) for r in want_q]

    def test_noop_window(self, spark, built):
        idx, src, *_ = built
        assert idx.refresh(spark, src)["mode"] == "noop"

    def test_double_build_fails(self, spark, built, tmp_path):
        idx, src, e, cent, cb, _ = built
        with pytest.raises(ValueError, match="already built"):
            idx.build(spark, e, centroids=cent, codebooks=cb, dim=DIM)

    def test_refresh_is_crash_idempotent(self, spark, built, tmp_path):
        """A refresh re-run after a crash-before-model-save replays the
        same window: delete_keys re-commits the same key set (harmless —
        deletes are idempotent) and write_partitions skips committed
        b{sid} partitions, so the index still equals the full rebuild."""
        idx, src, e, cent, cb, vecs = built
        new = make_vecs(10, seed=13)
        df = emb_df(spark, range(300, 310), new).withColumn(
            "part", F.concat(F.lit("b1-"), (F.col("vec_id") % 4).cast("string"))
        )
        src.write_partitions(df, "part", df.select("part"))
        src.delete_keys(
            spark, spark.createDataFrame([(11,)], "vec_id long"), "vec_id",
            scope="past",
        )
        model_before = idx.model
        idx.refresh(spark, src)
        # simulate crash before the model save persisted: restore and rerun
        idx._save_model(model_before)
        idx.refresh(spark, src)
        full = self._full_rebuild(spark, tmp_path, src, cent, cb)
        assert self._index_rows(spark, idx) == self._index_rows(spark, full)


class TestLshPostings:
    """r8: the LSH serve path reads a bucket-partitioned POSTINGS table
    with zone-map pruning instead of full-scanning + exploding the index."""

    def test_lsh_probe_is_partition_pruned(self, spark, tmp_path):
        # 256 buckets (n_planes=8) -> 64 bucket groups; one query at
        # probe_depth=1 probes 9 buckets, so the read must open a small
        # fraction of the postings partitions
        vecs = make_vecs(300, seed=9)
        src = src_table(spark, tmp_path, range(300), vecs)
        e = src.read(spark)
        cent = train_ivf_centroids(e, n_lists=4, seed=11)
        cb = train_pq_codebooks(e, m_sub=4, n_codes=8, seed=11)
        idx = AnnIndex(str(tmp_path / "ann8"))
        idx.build(
            spark, e, centroids=cent, codebooks=cb, n_tables=1, n_planes=8,
            seed=7, dim=DIM, src_snapshot=src.metrics()["snapshot_id"],
        )
        q = queries_df(spark, [0], vecs[:1])
        got = idx.lsh_topk(spark, q, k=5, probe_depth=1).collect()
        want = ann_lsh_topk(
            e, q, k=5, dim=DIM, n_planes=8, probe_depth=1
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        scan = idx.last_probe_scan
        assert scan["partitions_read"] < scan["partitions_total"], scan
        assert scan["partitions_read"] <= scan["buckets_probed"], scan

    def test_refresh_maintains_postings(self, spark, built, tmp_path):
        # append + delete window: LSH serving from the refreshed postings
        # must equal a rebuilt index
        idx, src, e, cent, cb, vecs = built
        new = make_vecs(30, seed=21) + 0.05
        df = emb_df(spark, range(200, 230), new).withColumn(
            "part", F.concat(F.lit("b1-"), (F.col("vec_id") % 4).cast("string"))
        )
        src.write_partitions(df, "part", df.select("part"))
        drop = emb_df(spark, [5, 17], vecs[[5, 17]]).select("vec_id")
        src.delete_keys(spark, drop, "vec_id")
        idx.refresh(spark, src)
        q = queries_df(spark, [0, 1], vecs[:2])
        got = idx.lsh_topk(spark, q, k=5, probe_depth=2).collect()
        want = ann_lsh_topk(
            src.read(spark), q, k=5, dim=DIM, n_planes=4, probe_depth=2
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    def test_missing_postings_asks_for_rebuild(self, spark, built):
        import shutil

        idx, src, e, cent, cb, vecs = built
        shutil.rmtree(idx.postings.path)
        q = queries_df(spark, [0, 1], vecs[:2])
        with pytest.raises(ValueError, match="rebuild the index"):
            idx.lsh_topk(spark, q, k=5, probe_depth=2)
