"""Sequence-scoped equality deletes (r7, ADVICE r6): delete_keys grows a
`scope` switch —

- scope='global' (default, the r6 behavior): the key is hidden everywhere,
  including rows appended AFTER the delete (takedown semantics);
- scope='past' (Iceberg-v2 sequence numbers): the delete applies only to
  partitions whose data-sequence predates it, so delete-then-re-append
  (update) windows keep the new version visible.

Partition metas record a data-sequence (`seq`) stamped at the commit that
(re)wrote their data; compaction and rollback spread old metas and
therefore PRESERVE it (a layout change or a restore is not new data).
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from erased_cells_spark.sources.snapshot import SnapshotTable


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def docs(spark, lo, hi, tag="v1", bucket=0):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.lit(bucket).alias("bucket"),
        F.concat(F.lit(f"{tag}-"), F.col("id").cast("string")).alias("val"),
    )


def keys_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id LONG")


def vals(table, spark, snapshot_id=None):
    return {
        r.doc_id: r.val for r in table.read(spark, snapshot_id=snapshot_id).collect()
    }


class TestScopePast:
    def test_reappend_after_scoped_delete_is_visible(self, spark, table):
        table.write_partitions(docs(spark, 0, 10), "bucket", [0])
        table.delete_keys(spark, keys_df(spark, [3, 7]), "doc_id", scope="past")
        table.write_partitions(docs(spark, 3, 4, tag="v2", bucket=1), "bucket", [1])
        got = vals(table, spark)
        # 3's OLD version is hidden, its NEW version visible; 7 is gone
        assert got[3] == "v2-3"
        assert 7 not in got
        assert len(got) == 9  # 0..9 minus 7, with 3 replaced

    def test_global_default_still_hides_reappends(self, spark, table):
        """Pins the r6 takedown semantics as the DEFAULT: without
        scope='past' a pending delete swallows later appends too."""
        table.write_partitions(docs(spark, 0, 10), "bucket", [0])
        table.delete_keys(spark, keys_df(spark, [3]), "doc_id")
        table.write_partitions(docs(spark, 3, 4, tag="v2", bucket=1), "bucket", [1])
        assert 3 not in vals(table, spark)

    def test_bad_scope_raises(self, spark, table):
        table.write_partitions(docs(spark, 0, 4), "bucket", [0])
        with pytest.raises(ValueError, match="scope"):
            table.delete_keys(spark, keys_df(spark, [1]), "doc_id", scope="future")

    def test_time_travel_isolation(self, spark, table):
        table.write_partitions(docs(spark, 0, 10), "bucket", [0])
        sid0 = table.metrics()["snapshot_id"]
        sid1 = table.delete_keys(spark, keys_df(spark, [3]), "doc_id", scope="past")
        table.write_partitions(docs(spark, 3, 4, tag="v2", bucket=1), "bucket", [1])
        assert vals(table, spark, sid0)[3] == "v1-3"  # before the delete
        assert 3 not in vals(table, spark, sid1)  # at the delete
        assert vals(table, spark)[3] == "v2-3"  # after the re-append

    def test_apply_deletes_folds_scoped(self, spark, table):
        table.write_partitions(docs(spark, 0, 10), "bucket", [0])
        table.delete_keys(spark, keys_df(spark, [3, 7]), "doc_id", scope="past")
        table.write_partitions(docs(spark, 3, 4, tag="v2", bucket=1), "bucket", [1])
        table.apply_deletes(spark)
        assert table.metrics()["pending_delete_files"] == 0
        got = vals(table, spark)
        assert got[3] == "v2-3" and 7 not in got and len(got) == 9

    def test_compact_preserves_data_sequence(self, spark, table):
        """Compaction is a pure layout change: the compacted partition
        keeps its data-seq, so a scoped delete committed between the write
        and the compaction still hides the old rows afterwards."""
        # two files in the partition so compact() has something to do
        table.write_partitions(docs(spark, 0, 5), "bucket", [0])
        table.write_partitions(
            docs(spark, 5, 10).withColumn("bucket", F.lit(1)), "bucket", [1]
        )
        table.delete_keys(spark, keys_df(spark, [2]), "doc_id", scope="past")
        table.write_partitions(docs(spark, 2, 3, tag="v2", bucket=2), "bucket", [2])
        man = table.current_manifest()["partitions"]
        seq_before = {k: m["seq"] for k, m in man.items()}
        table.compact(spark, max_files_per_partition=1)
        man2 = table.current_manifest()["partitions"]
        for k, m in man2.items():
            assert m["seq"] == seq_before[k], f"compact advanced seq of {k}"
        got = vals(table, spark)
        assert got[2] == "v2-2" and len(got) == 10

    def test_rollback_keeps_scoped_takedown(self, spark, table):
        """Rolling back across a scope='past' delete must not re-expose the
        deleted rows: the restored partitions keep their original (old)
        data-seq, which the carried-forward delete still covers."""
        table.write_partitions(docs(spark, 0, 10), "bucket", [0])
        sid0 = table.metrics()["snapshot_id"]
        table.delete_keys(spark, keys_df(spark, [4]), "doc_id", scope="past")
        table.rollback(sid0)
        assert 4 not in vals(table, spark)

    def test_mixed_scoped_and_global_entries(self, spark, table):
        table.write_partitions(docs(spark, 0, 10), "bucket", [0])
        table.delete_keys(spark, keys_df(spark, [1]), "doc_id", scope="past")
        table.delete_keys(spark, keys_df(spark, [2]), "doc_id")  # global
        table.write_partitions(
            docs(spark, 1, 3, tag="v2", bucket=1), "bucket", [1]
        )
        got = vals(table, spark)
        assert got[1] == "v2-1"  # scoped: re-append visible
        assert 2 not in got  # global: re-append swallowed

    def test_changes_window_sees_update(self, spark, table):
        """A scoped delete + re-append window surfaces as delete(old row) +
        insert(new row) in the batch changelog."""
        table.write_partitions(docs(spark, 0, 5), "bucket", [0])
        sid0 = table.metrics()["snapshot_id"]
        table.delete_keys(spark, keys_df(spark, [2]), "doc_id", scope="past")
        table.write_partitions(docs(spark, 2, 3, tag="v2", bucket=1), "bucket", [1])
        ch = table.changes(spark, sid0)
        appended = {(r.doc_id, r.val) for r in ch["appended"].collect()}
        deleted = {(r.doc_id, r.val) for r in ch["deleted"].collect()}
        assert (2, "v2-2") in appended
        assert (2, "v1-2") in deleted

    def test_position_deletes_compose_with_scoped(self, spark, table):
        table.write_partitions(docs(spark, 0, 10), "bucket", [0])
        table.delete_keys(spark, keys_df(spark, [3]), "doc_id", scope="past")
        table.write_partitions(docs(spark, 3, 4, tag="v2", bucket=1), "bucket", [1])
        table.delete_where_positions(spark, "doc_id = 5")
        got = vals(table, spark)
        # visible ids: 0..9 with 3 = the re-appended v2, minus position-deleted 5
        assert got[3] == "v2-3" and 5 not in got and len(got) == 9
        # idempotent: the scoped-visibility inline application means a
        # second identical call matches nothing new
        sid = table.metrics()["snapshot_id"]
        assert table.delete_where_positions(spark, "doc_id = 5") == sid


class TestPartitionDirNames:
    """Lineage keys that the scan's URI-encoded file paths spell differently
    from the manifest (space → %20, % → %25) or that form decoding would
    misread ('+' → space) still map each row to its own partition."""

    @pytest.mark.parametrize("key", ["c d", "c%d", "c+d"])
    def test_scoped_delete_and_merge(self, spark, table, key):
        def rows(lo, hi, tag, lineage):
            return docs(spark, lo, hi, tag).withColumn("bucket", F.lit(lineage))

        table.write_partitions(rows(0, 10, "v1", "ab"), "bucket", ["ab"])
        table.delete_keys(spark, keys_df(spark, [3]), "doc_id", scope="past")
        table.write_partitions(rows(3, 4, "v2", key), "bucket", [key])
        got = vals(table, spark)
        assert got[3] == "v2-3" and len(got) == 10  # the re-append is new data
        table.apply_deletes(spark)
        assert vals(table, spark) == got
        upd = spark.createDataFrame(
            [(3, key, "v3-3"), (20, key, "v3-20")], "doc_id LONG, bucket STRING, val STRING"
        )
        table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")
        got = vals(table, spark)
        assert got[3] == "v3-3" and got[20] == "v3-20" and len(got) == 11
        assert table.current_manifest()["partitions"][key]["rows"] == 2


class TestSeqStamping:
    def test_metas_carry_seq_and_appends_advance_it(self, spark, table):
        table.write_partitions(docs(spark, 0, 5), "bucket", [0])
        table.write_partitions(
            docs(spark, 5, 10).withColumn("bucket", F.lit(1)), "bucket", [1]
        )
        man = table.current_manifest()["partitions"]
        assert man["0"]["seq"] < man["1"]["seq"]

    def test_rewrites_advance_seq(self, spark, table):
        table.write_partitions(docs(spark, 0, 5), "bucket", [0])
        s0 = table.current_manifest()["partitions"]["0"]["seq"]
        table.delete_where(spark, "doc_id = 1")
        s1 = table.current_manifest()["partitions"]["0"]["seq"]
        assert s1 > s0


class TestOrphanSweep:
    def test_expire_sweeps_uncommitted_part_dirs(self, spark, table, tmp_path):
        """A crash between batched commits (commit_batch > 1) leaves fully
        written part-* dirs referenced by no snapshot; expire_snapshots
        collects them (ADVICE r6)."""
        table.write_partitions(docs(spark, 0, 5), "bucket", [0])
        orphan = os.path.join(table.data_dir, "part-9-deadbeef")
        docs(spark, 90, 95, bucket=9).write.parquet(orphan)
        res = table.expire_snapshots(keep_last=1)
        rel = os.path.relpath(orphan, table.path)
        assert rel in res["deleted_dirs"] and not os.path.exists(orphan)
        assert table.read(spark).count() == 5

    def test_expire_sweeps_stale_stage_dirs_only(self, spark, table):
        table.write_partitions(docs(spark, 0, 5), "bucket", [0])
        stale = os.path.join(table.data_dir, ".stage-dead")
        fresh = os.path.join(table.data_dir, ".stage-live")
        os.makedirs(stale)
        os.makedirs(fresh)
        old = time.time() - 7200
        os.utime(stale, (old, old))
        table.expire_snapshots(keep_last=1, stage_grace_seconds=3600)
        assert not os.path.exists(stale), "stale stage dir must be swept"
        assert os.path.exists(fresh), "in-flight stage dir must survive"
