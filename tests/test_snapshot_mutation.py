"""Snapshot row-level mutation (VERDICT r3 items 2+3): copy-on-write MERGE
(upsert by key) and delete_where, plus manifest zone maps and pruned reads.
Contracts: merge replaces exactly the keyed rows and only rewrites affected
partitions; delete is idempotent; time travel / rollback work across a
mutation; pruned reads open fewer partitions with unchanged results."""

import os

import pytest
from pyspark.sql import functions as F

from erased_cells_spark.sources.snapshot import SnapshotTable, _zone_excludes


@pytest.fixture()
def table(tmp_path):
    return SnapshotTable(str(tmp_path / "tbl"))


def docs_df(spark, n=400, tag="v1"):
    """(doc_id, bucket, val): bucket = doc_id // 100 → doc_id RANGES map to
    partitions, so zone maps on doc_id actually prune."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") / 100).cast("long").alias("bucket"),
        F.concat(F.lit(tag + "-"), F.col("id").cast("string")).alias("val"),
    )


def write_base(spark, table, n=400):
    df = docs_df(spark, n)
    table.write_partitions(df, "bucket", [0, 1, 2, 3])
    return table.metrics()["snapshot_id"]


class TestMerge:
    def test_upsert_replaces_exactly_keyed_rows(self, spark, table):
        sid0 = write_base(spark, table)
        # update 3 existing keys, insert 2 new ones into partition 3
        upd = spark.createDataFrame(
            [
                (5, 0, "NEW-5"),
                (150, 1, "NEW-150"),
                (399, 3, "NEW-399"),
                (1000, 3, "NEW-1000"),
                (1001, 3, "NEW-1001"),
            ],
            "doc_id LONG, bucket LONG, val STRING",
        )
        sid1 = table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")
        assert sid1 == sid0 + 1
        back = {r.doc_id: r.val for r in table.read(spark).collect()}
        assert len(back) == 402  # 400 - 3 replaced + 3 re-added + 2 inserted
        assert back[5] == "NEW-5" and back[150] == "NEW-150" and back[399] == "NEW-399"
        assert back[1000] == "NEW-1000" and back[1001] == "NEW-1001"
        assert back[6] == "v1-6"  # untouched neighbors keep old values

    def test_merge_rewrites_only_affected_partitions(self, spark, table):
        write_base(spark, table)
        before = {k: v["path"] for k, v in table.current_manifest()["partitions"].items()}
        upd = spark.createDataFrame([(5, 0, "NEW-5")], "doc_id LONG, bucket LONG, val STRING")
        table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")
        after = {k: v["path"] for k, v in table.current_manifest()["partitions"].items()}
        assert after["0"] != before["0"]  # rewritten (copy-on-write)
        for k in ("1", "2", "3"):
            assert after[k] == before[k]  # untouched metadata

    def test_key_moves_partition(self, spark, table):
        """An update whose lineage differs from the key's current partition
        MOVES the row: dropped from the old partition, landed in the new."""
        write_base(spark, table)
        upd = spark.createDataFrame([(5, 2, "MOVED-5")], "doc_id LONG, bucket LONG, val STRING")
        table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")
        back = table.read(spark)
        assert back.count() == 400
        row = back.filter("doc_id = 5").collect()[0]
        assert row.val == "MOVED-5" and row.bucket == 2
        man = table.current_manifest()["partitions"]
        assert man["0"]["rows"] == 99 and man["2"]["rows"] == 101

    def test_null_update_keys_raise(self, spark, table):
        write_base(spark, table)
        upd = spark.createDataFrame(
            [(None, 0, "x")], "doc_id LONG, bucket LONG, val STRING"
        )
        with pytest.raises(ValueError, match="NULL"):
            table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")

    def test_null_lineage_values_raise(self, spark, table):
        """ADVICE r4: a NULL lineage value must get a targeted diagnostic
        naming the column, not a confusing 'lineage keys [None]' error or a
        __HIVE_DEFAULT_PARTITION__ orphan in the stage dir."""
        write_base(spark, table)
        upd = spark.createDataFrame(
            [(5, None, "NEW-5")], "doc_id LONG, bucket LONG, val STRING"
        )
        with pytest.raises(ValueError, match="NULL bucket"):
            table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")

    def test_duplicate_update_keys_raise(self, spark, table):
        write_base(spark, table)
        upd = spark.createDataFrame(
            [(5, 0, "a"), (5, 0, "b")], "doc_id LONG, bucket LONG, val STRING"
        )
        with pytest.raises(ValueError, match="duplicate"):
            table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")

    def test_duplicate_key_across_lineages_raises(self, spark, table):
        write_base(spark, table)
        upd = spark.createDataFrame(
            [(5, 0, "a"), (5, 1, "b")], "doc_id LONG, bucket LONG, val STRING"
        )
        with pytest.raises(ValueError, match="duplicate"):
            table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")

    def test_null_key_outranks_duplicate(self, spark, table):
        """A batch that is wrong in several ways names the NULL key first."""
        write_base(spark, table)
        upd = spark.createDataFrame(
            [(None, 0, "x"), (5, 0, "a"), (5, 0, "b")],
            "doc_id LONG, bucket LONG, val STRING",
        )
        with pytest.raises(ValueError, match="1 NULL doc_id"):
            table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")

    def test_merge_after_add_column(self, spark, table):
        """Partitions written before a column existed read it as its
        add_column default (or NULL without one) through a merge, beside a
        partition that carries real values."""
        write_base(spark, table)
        table.add_column("score", default=-1)
        post = docs_df(spark, 500).filter("bucket = 4").select(
            "*", (F.col("doc_id") * 2).alias("score"), F.lit("t").alias("tag")
        )
        table.write_partitions(post, "bucket", [4])
        upd = spark.createDataFrame(
            [(5, 0, "NEW-5", 50), (450, 4, "NEW-450", 51), (1000, 1, "NEW-1000", 52)],
            "doc_id LONG, bucket LONG, val STRING, score LONG",
        )
        table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")
        got = {r.doc_id: (r.val, r.score, r.tag) for r in table.read(spark).collect()}
        assert len(got) == 501
        assert got[5] == ("NEW-5", 50, None) and got[1000] == ("NEW-1000", 52, None)
        assert got[6] == ("v1-6", -1, None)  # old row of a rewritten partition
        assert got[250] == ("v1-250", -1, None)  # untouched partition
        assert got[451] == ("v1-451", 902, "t") and got[450] == ("NEW-450", 51, None)

    def test_job_budget(self, spark, spark_jobs, table):
        """One aggregate over the batch answers every pre-write check and
        the table is read in one scan: a merge runs at most 12 Spark jobs
        (batch aggregate 3, schema 1, matched-rows collect 4, write 4)."""
        write_base(spark, table)
        upd = spark.createDataFrame(
            [(5, 0, "NEW-5"), (150, 1, "NEW-150"), (1000, 3, "NEW-1000")],
            "doc_id LONG, bucket LONG, val STRING",
        )
        with spark_jobs() as jobs:
            table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")
        assert len(jobs) <= 12, len(jobs)
        assert table.read(spark).count() == 401

    def test_insert_into_unknown_partition_raises(self, spark, table):
        write_base(spark, table)
        upd = spark.createDataFrame([(9999, 42, "x")], "doc_id LONG, bucket LONG, val STRING")
        with pytest.raises(ValueError, match="not in the current snapshot"):
            table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")

    def test_time_travel_and_rollback_across_merge(self, spark, table):
        sid0 = write_base(spark, table)
        upd = spark.createDataFrame([(5, 0, "NEW-5")], "doc_id LONG, bucket LONG, val STRING")
        table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")
        # pre-merge snapshot still reads the ORIGINAL value
        old = {r.doc_id: r.val for r in table.read(spark, snapshot_id=sid0).collect()}
        assert old[5] == "v1-5"
        # rollback undoes the merge (as a NEW snapshot, history kept)
        table.rollback(sid0)
        assert {r.doc_id: r.val for r in table.read(spark).collect()}[5] == "v1-5"

    def test_empty_updates_noop(self, spark, table):
        sid0 = write_base(spark, table)
        upd = spark.createDataFrame([], "doc_id LONG, bucket LONG, val STRING")
        assert table.merge(spark, upd, key_col="doc_id", lineage_col="bucket") == sid0


class TestDeleteWhere:
    def test_delete_and_idempotence(self, spark, table):
        sid0 = write_base(spark, table)
        sid1 = table.delete_where(spark, "doc_id >= 350")
        assert sid1 == sid0 + 1
        assert table.read(spark).count() == 350
        assert table.read(spark).filter("doc_id >= 350").count() == 0
        # idempotent: nothing left to delete → NO new snapshot
        assert table.delete_where(spark, "doc_id >= 350") == sid1
        # only partition 3 was rewritten
        man = table.current_manifest()["partitions"]
        assert man["3"]["rows"] == 50 and "rewrite_of" in man["3"]
        assert "rewrite_of" not in man["0"]

    def test_delete_whole_partition_keeps_schema(self, spark, table):
        write_base(spark, table)
        table.delete_where(spark, "bucket = 2")
        back = table.read(spark)
        assert back.count() == 300
        assert table.current_manifest()["partitions"]["2"]["rows"] == 0
        assert set(back.columns) == {"doc_id", "bucket", "val"}

    def test_job_budget(self, spark, spark_jobs, table):
        """One schema job for the whole table, not one per partition: a
        delete_where runs at most 6 Spark jobs."""
        write_base(spark, table)
        with spark_jobs() as jobs:
            table.delete_where(spark, "doc_id % 7 = 0")
        assert len(jobs) <= 6, len(jobs)
        assert table.read(spark).count() == 342

    def test_time_travel_across_delete(self, spark, table):
        sid0 = write_base(spark, table)
        table.delete_where(spark, "doc_id = 7")
        assert table.read(spark, snapshot_id=sid0).filter("doc_id = 7").count() == 1


class TestCommitConcurrency:
    def test_concurrent_manifest_claim_raises_not_overwrites(self, spark, table):
        """Two committers that both read parent N must NOT both own N+1 —
        the link-if-absent claim makes the loser raise instead of silently
        replacing the winner's manifest (a lost commit)."""
        from erased_cells_spark.sources.snapshot import CommitConflictError

        write_base(spark, table)
        sid = table.metrics()["snapshot_id"]
        other = SnapshotTable(table.path)  # a second driver handle
        other._commit_state(dict(other.current_manifest()["partitions"]), operation="noop")
        # the first handle prepared against parent `sid` — the world moved on
        with pytest.raises(CommitConflictError, match="advanced"):
            table._commit_state(
                dict(table.current_manifest()["partitions"]),
                _expected_parent=sid,
                operation="stale",
            )
        # winner's commit intact
        assert table.metrics()["snapshot_id"] == sid + 1

    def test_replace_committers_detect_concurrent_append(self, spark, table):
        """ADVICE r5 (medium): every replace-style committer computes its
        new state from a manifest read at function start — an append landing
        between that read and the commit must raise CommitConflictError, NOT
        be silently erased from the replacement state. Exercised by patching
        the commit window: a concurrent append lands right before the
        replace commit claims its snapshot."""
        from erased_cells_spark.sources.snapshot import CommitConflictError

        write_base(spark, table)

        def race_then(fn, *args, **kwargs):
            other = SnapshotTable(table.path)
            orig = table._commit_state

            def inject_once(partitions, _expected_parent=None, **extra):
                table._commit_state = orig  # re-arm before the real commit
                other._commit(
                    {"late": {"lineage": "late", "path": "data/none",
                              "rows": 0, "bytes": 0, "n_files": 0}}
                )
                return orig(partitions, _expected_parent=_expected_parent, **extra)

            table._commit_state = inject_once
            try:
                with pytest.raises(CommitConflictError):
                    fn(*args, **kwargs)
            finally:
                table._commit_state = orig
            # the concurrent append survived
            man = table.current_manifest()
            assert "late" in man["partitions"]
            del man["partitions"]["late"]  # reset for the next committer
            table._commit_state(dict(man["partitions"]), operation="cleanup")

        keys = spark.createDataFrame([(3,)], "doc_id long")
        race_then(table.delete_keys, spark, keys, "doc_id")
        race_then(table.delete_where, spark, "doc_id = 5")
        race_then(table.add_column, "lang", "en")
        race_then(table.rename_column, "val", "value")
        race_then(table.drop_column, "val")
        race_then(table.build_bloom, spark, "doc_id")
        # give compact real work (multi-file partitions) so it reaches commit
        table.write_partitions(
            docs_df(spark, 400).repartition(8), "bucket", [0, 1, 2, 3], overwrite=True
        )
        assert any(
            m["n_files"] > 1 for m in table.current_manifest()["partitions"].values()
        )
        race_then(table.compact, spark)

    def test_append_retries_through_a_lost_race(self, spark, table):
        """The append path re-reads the parent and retries on conflict — a
        stale first read (simulating a concurrent winner) must still land
        the append, merged over the fresh state."""
        write_base(spark, table)
        fresh = table.current_manifest()
        stale = {**fresh, "snapshot_id": fresh["snapshot_id"] - 1}
        calls = {"n": 0}
        orig = table.current_manifest

        def flaky():
            calls["n"] += 1
            return stale if calls["n"] == 1 else orig()

        table.current_manifest = flaky  # first read stale, then fresh
        sid = table._commit({"extra": {"lineage": "extra", "path": "data/none",
                                       "rows": 0, "bytes": 0, "n_files": 0}})
        table.current_manifest = orig
        assert sid == fresh["snapshot_id"] + 1
        assert "extra" in table.current_manifest()["partitions"]
        assert calls["n"] >= 2  # the retry actually happened

    def test_orphaned_manifest_adopted_as_true_parent(self, spark, table):
        """A crashed committer's orphaned manifest (linked but CURRENT never
        advanced) must not brick the table (ADVICE r4, medium): a manifest is
        fsynced before it is linked, so an orphan is a COMPLETE commit — the
        next committer rolls CURRENT forward and builds on it instead of
        conflicting on the same id forever."""
        import json as _json

        write_base(spark, table)
        sid = table.metrics()["snapshot_id"]
        # simulate the crash window: a fully-written manifest exists but
        # CURRENT still names its parent
        orphan = dict(table.current_manifest())
        orphan["snapshot_id"] = sid + 1
        orphan["parent"] = sid
        with open(table._manifest_path(sid + 1), "w") as f:
            _json.dump(orphan, f)
        assert table._current_id() == sid
        new_sid = table._commit({})
        assert new_sid == sid + 2  # built ON TOP of the orphan, not around it
        man = table.current_manifest()
        assert man["parent"] == sid + 1
        assert set(man["partitions"]) == set(orphan["partitions"])
        # the table is fully writable again end-to-end
        table.write_partitions(docs_df(spark, 500).filter("bucket = 4"), "bucket", [4])
        assert table.read(spark).count() == 500

    def test_repair_current_is_a_noop_when_current_is_fresh(self, spark, table):
        write_base(spark, table)
        sid = table.metrics()["snapshot_id"]
        assert table._repair_current() == sid
        assert table._current_id() == sid


class TestZoneMaps:
    def test_stats_recorded_at_write(self, spark, table):
        write_base(spark, table)
        man = table.current_manifest()["partitions"]
        assert man["0"]["stats"]["doc_id"] == [0, 99]
        assert man["3"]["stats"]["doc_id"] == [300, 399]
        assert man["1"]["stats"]["val"][0].startswith("v1-")

    def test_pruned_read_opens_fewer_partitions_same_result(self, spark, table):
        write_base(spark, table)
        plan = table.plan_scan(where=[("doc_id", "<", 150)])
        assert plan["read"] == ["0", "1"]
        # partitions 2/3 are excluded at the GROUP level: their group
        # manifests' summary zone maps exclude the predicate, so they are
        # pruned WITHOUT the group files being opened
        assert plan["pruned_n"] == 2
        assert plan["pruned"] == [] and sum(
            g["n_partitions"] for g in plan["pruned_groups"]
        ) == 2
        assert plan["groups_opened"] < plan["groups_total"]
        pruned = table.read(spark, where=[("doc_id", "<", 150)])
        scan = dict(table.last_scan)
        full = table.read(spark).filter("doc_id < 150")
        assert scan["partitions_read"] == 2 < scan["partitions_total"]
        assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))
        # the pruned scan really reads fewer FILES (physical plan check)
        import re

        files_read = re.findall(r"part-\d-", pruned._jdf.queryExecution().sparkPlan().toString())
        assert all("part-2" not in f and "part-3" not in f for f in files_read)

    def test_all_pruned_returns_empty_with_schema(self, spark, table):
        write_base(spark, table)
        out = table.read(spark, where=[("doc_id", ">", 10_000)])
        assert out.count() == 0
        assert set(out.columns) == {"doc_id", "bucket", "val"}

    def test_all_pruned_schema_is_union_under_evolution(self, spark, table):
        """ADVICE r4: the all-pruned empty result must carry the UNION of all
        partition schemas — an arbitrary single partition can predate an
        added column, and a multi-predicate where on that column would raise
        AnalysisException against its schema."""
        write_base(spark, table)
        evolved = docs_df(spark, 500).filter("bucket = 4").withColumn(
            "score", F.col("doc_id") * 2
        )
        table.write_partitions(evolved, "bucket", [4])
        # both predicates prune everything; `score` exists only in partition 4
        out = table.read(
            spark, where=[("doc_id", ">", 10_000), ("score", ">", 10_000)]
        )
        assert "score" in out.columns
        assert out.count() == 0
        assert table.last_scan["partitions_read"] == 0

    def test_string_and_equality_pruning(self, spark, table):
        write_base(spark, table)
        plan = table.plan_scan(where=[("doc_id", "=", 250)])
        assert plan["read"] == ["2"]
        # string zone: val is 'v1-<n>' everywhere → a 'w...' probe prunes all
        plan = table.plan_scan(where=[("val", ">", "w")])
        assert plan["read"] == []

    def test_merge_refreshes_zone_maps(self, spark, table):
        write_base(spark, table)
        upd = spark.createDataFrame([(5, 0, "zzz")], "doc_id LONG, bucket LONG, val STRING")
        table.merge(spark, upd, key_col="doc_id", lineage_col="bucket")
        man = table.current_manifest()["partitions"]
        assert man["0"]["stats"]["val"][1] == "zzz"

    def test_zone_excludes_unit(self):
        st = {"x": [10, 20]}
        assert _zone_excludes(st, "x", ">", 20)
        assert not _zone_excludes(st, "x", ">=", 20)
        assert _zone_excludes(st, "x", "<", 10)
        assert not _zone_excludes(st, "x", "<=", 10)
        assert _zone_excludes(st, "x", "=", 9) and _zone_excludes(st, "x", "=", 21)
        assert not _zone_excludes(st, "x", "=", 15)
        assert not _zone_excludes(st, "y", "=", 1)  # unknown col: never prune
        assert not _zone_excludes(st, "x", "=", "str")  # cross-type: never prune
        assert not _zone_excludes(None, "x", "=", 1)

    def test_old_manifests_without_stats_never_prune(self, spark, table, tmp_path):
        """Partitions committed before zone maps existed (no 'stats' key)
        must read normally — filter-only, no prune, no KeyError."""
        write_base(spark, table)
        import copy
        import json

        sid = table.metrics()["snapshot_id"]
        p = table._manifest_path(sid)
        # rewrite the snapshot as a PRE-SPLIT inline manifest (the format
        # before the manifest-list layout) with every stats key stripped —
        # covers the compat read path and the no-stats behavior at once
        man = copy.deepcopy(table.current_manifest())
        man.pop("manifest_list", None)
        for meta in man["partitions"].values():
            meta.pop("stats", None)
        with open(p, "w") as f:
            json.dump(man, f)
        plan = table.plan_scan(where=[("doc_id", "<", 50)])
        assert plan["pruned"] == []
        assert table.read(spark, where=[("doc_id", "<", 50)]).count() == 50


class TestOverwritePartitions:
    def test_overwrite_replaces_listed_partitions_only(self, spark, table):
        write_base(spark, table)
        before = {k: v["path"] for k, v in table.current_manifest()["partitions"].items()}
        sid0 = table.metrics()["snapshot_id"]
        recrawl = docs_df(spark, 400, tag="v2").filter("bucket IN (1, 2)")
        stats = table.write_partitions(recrawl, "bucket", [1, 2], overwrite=True)
        assert not any(s.get("skipped") for s in stats.values())
        after = table.current_manifest()["partitions"]
        assert after["1"]["path"] != before["1"] and after["2"]["path"] != before["2"]
        assert after["0"]["path"] == before["0"] and after["3"]["path"] == before["3"]
        vals = {r.doc_id: r.val for r in table.read(spark).collect()}
        assert len(vals) == 400
        assert vals[150] == "v2-150" and vals[250] == "v2-250"  # replaced shards
        assert vals[50] == "v1-50" and vals[350] == "v1-350"  # untouched shards
        # time travel still reads the pre-overwrite content
        old = {r.doc_id: r.val for r in table.read(spark, snapshot_id=sid0).collect()}
        assert old[150] == "v1-150"
        # the replaced dirs are reclaimed once history expires
        res = table.expire_snapshots(keep_last=1)
        assert before["1"] in res["deleted_dirs"]

    def test_plain_write_still_skips(self, spark, table):
        write_base(spark, table)
        stats = table.write_partitions(docs_df(spark, 400), "bucket", [0, 1, 2, 3])
        assert all(s.get("skipped") for s in stats.values())
