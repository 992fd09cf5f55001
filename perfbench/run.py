"""Seeded benchmark of the erased-cells-spark engine, one workload per run.

    python3 perfbench/run.py --workload pages_zonal --seed 7 --seconds 4 --trace 0

Runs from the root of a checkout, on local[nproc] from this single driver
process.  It generates the workload's inputs from --seed, runs one cold lap
and then warm laps for --seconds, checks every lap's output against a numpy
reference, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end ones; with --trace 1 half the window runs untraced laps
and half traced laps, and the metrics are the per-layer ones.  The line
before it ("# conf ...") states the session conf, nproc and input size, so
runs with different settings are never compared.  Spans and raw laps go to
the side file .perfbench/results/<workload>-seed<seed>-trace<t>.json.
The exit code is 1 when any lap failed its output check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

from spans import RssSampler, SparkProbe, Tracer, become_subreaper, covered, end_children, self_times
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[1]
DATA = ROOT / ".perfbench"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "driver.jobs": "count",
    "driver.idle_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "snapshot.append_s": "s",
    "snapshot.merge_s": "s",
    "snapshot.compact_s": "s",
    "snapshot.read_s": "s",
    "snapshot.changes_s": "s",
    "snapshot.files_df_s": "s",
    "snapshot.partitions_read": "count",
    "snapshot.partitions_total": "count",
    "snapshot.write_amp": "ratio",
    "functions.s": "s",
    "pip.s": "s",
    "pip.candidates": "count",
    "pip.accepted": "count",
    "arrow.rows_to_python": "count",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.python_s": "s",
    "arrow.python_init_s": "s",
    "raster.rasterize_s": "s",
    "raster.zonal_s": "s",
    "raster.tiles": "count",
    "tiles.s": "s",
    "cells.binop_us_per_tile": "us",
    "cells.minmax_us_per_tile": "us",
    "dedup.minhash_s": "s",
    "dedup.simhash_s": "s",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.hot_buckets": "count",
    "knn.s": "s",
    "knn.jobs": "count",
    "shuffle.bytes_written": "bytes",
    "shuffle.records": "count",
    "shuffle.spill_bytes": "bytes",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "trace.lap_s": "s",
    "trace.overhead_s": "s",
}
# span name whose self time is the layer metric
SPAN_METRICS = {
    "snapshot.append": "snapshot.append_s",
    "snapshot.merge": "snapshot.merge_s",
    "snapshot.compact": "snapshot.compact_s",
    "snapshot.read": "snapshot.read_s",
    "snapshot.changes": "snapshot.changes_s",
    "snapshot.files_df": "snapshot.files_df_s",
    "raster.rasterize": "raster.rasterize_s",
    "raster.zonal": "raster.zonal_s",
    "tiles": "tiles.s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.simhash": "dedup.simhash_s",
    "knn": "knn.s",
}
MAX_WALL_S = 140.0  # stop starting laps; the run must end within 180 s
STOP_GRACE_S = 10.0  # per step of stopping the JVM and its Python workers
FLUSH_POLICY = "the engine's own commit fsyncs (SnapshotTable), unchanged"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(cpus: int, workdir: Path) -> dict[str, str]:
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "erased-cells-spark-perfbench",
        "spark.sql.shuffle.partitions": str(max(cpus * 2, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "64m",
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": (
            # a fixed heap and fixed generation sizes: heap resizing made
            # laps and peak memory depend on GC timing
            "-Xms3g -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -XX:-UsePerfData "
            f"-Djava.io.tmpdir={workdir / 'tmp'}"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(workdir / "spark-local"),
        "spark.sql.warehouse.dir": str(workdir / "warehouse"),
    }


def build_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stops the session, then the gateway JVM, and waits until the JVM and
    every process below it (Python daemon and workers) have ended, so that
    nothing of this run outlives it."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            SparkContext._gateway = SparkContext._jvm = None
        left = end_children(STOP_GRACE_S)
        if left:
            print(f"perfbench: processes still running after stop: {left}", file=sys.stderr)


def layer_metrics(wl, tr, spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced lap from its spans and counters."""
    root = next(s for s in spans if s["name"] == "lap")
    lap, ids = [], {root["id"]}
    for s in spans:
        if s["id"] in ids or s["parent"] in ids:
            ids.add(s["id"])
            lap.append(s)
    for s in lap:
        wl.plan_counters(s["name"], s["plans"], tr)
    m = {name: 0.0 for name in PER_LAYER}
    own = self_times(spans)
    for span, metric in SPAN_METRICS.items():
        m[metric] = own.get(span, 0.0)
    prefix = [own.get(f"prefix.{p}", 0.0) for p in ("sources", "functions", "pip")]
    m["sources.scan_s"] = prefix[0]
    m["functions.s"] = prefix[1] - prefix[0] if prefix[1] else 0.0
    m["pip.s"] = prefix[2] - prefix[1] if prefix[2] else 0.0

    intervals = []
    for s in lap:
        sp = s["spark"]
        m["driver.jobs"] += sp["jobs"]
        m["exec.cpu_s"] += sp["cpu_s"]
        m["exec.gc_s"] += sp["gc_s"]
        m["shuffle.bytes_written"] += sp["shuffle_bytes"]
        m["shuffle.records"] += sp["shuffle_records"]
        m["shuffle.spill_bytes"] += sp["spill_bytes"]
        intervals += [(max(a, root["start"]), min(b, root["end"])) for a, b in sp["stage_intervals"]]
        if s["name"] == "knn":
            m["knn.jobs"] += sp["jobs"]
        for plan in s["plans"]:
            for node in plan.walk():
                m["sources.input_bytes"] += node.metrics.get("filesSize", 0)
                if "pythonDataSent" not in node.metrics:
                    continue
                m["arrow.bytes_to_python"] += node.metrics["pythonDataSent"]
                m["arrow.bytes_from_python"] += node.metrics.get("pythonDataReceived", 0)
                m["arrow.python_s"] += node.metrics.get("pythonTotalTime", 0) / 1e3
                m["arrow.python_init_s"] += (
                    node.metrics.get("pythonBootTime", 0) + node.metrics.get("pythonInitTime", 0)
                ) / 1e3
                m["arrow.rows_to_python"] += (
                    node.metrics.get("pythonNumRowsReceived", 0)
                    if node.name == "ArrowEvalPython"
                    else node.rows_in()
                )
    lap_s = root["end"] - root["start"]
    m["driver.idle_s"] = lap_s - covered([iv for iv in intervals if iv[1] > iv[0]])
    m["trace.lap_s"] = lap_s
    m.update({k: v for k, v in tr.counters.items() if k in m})
    for s in spans:
        s.pop("plans", None)  # release the py4j plan references
    return m


def run(args) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import erased_cells_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    cpus = nproc()
    workdir = DATA / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    (workdir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = session_conf(cpus, workdir)
    # a run ended by SIGTERM still stops the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(conf)
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with RssSampler(jvm_pid) as rss:
            wl = WORKLOADS[args.workload](spark, args.seed, str(workdir))
            t0 = time.perf_counter()
            wl.setup()
            data_setup_s = time.perf_counter() - t0
            result = measure(spark, wl, args, t_start)
        result["setup"] = {"session_s": session_s, "data_s": data_setup_s}
        result["peak_rss_mb"] = rss.peak_bytes / (1 << 20)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    warm = result["warm"]
    ok = not result["errors"] and result["cold"] is not None and len(warm) >= 1
    e2e = {
        "setup_s": session_s + data_setup_s,
        "cold_s": result["cold"] or 0.0,
        "warm_s": statistics.median(warm) if warm else 0.0,
        "rows_per_s": wl.input_rows / statistics.median(warm) if warm else 0.0,
        "peak_rss_mb": result["peak_rss_mb"],
    }
    if args.trace:
        names, units = result["layer"], PER_LAYER
        names["trace.overhead_s"] = names["trace.lap_s"] - e2e["warm_s"]
    else:
        names, units = e2e, END_TO_END
    attempted = result["attempted"]
    failed = result["failed"]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "size": wl.params,
        "input_rows": wl.input_rows,
        "nproc": cpus,
        "session_conf": {k: v.replace(str(workdir), "<run dir>") for k, v in conf.items()},
        "pyspark": pyspark.__version__,
        "flush_policy": FLUSH_POLICY,
        "trace": args.trace,
        "warm_laps": len(warm),
        "setup": result["setup"],
        "failed_frac": failed / attempted,
        "end_to_end": e2e,
    }
    side = dict(info, laps=result["laps"], errors=result["errors"], spans=result.get("spans", []))
    if args.trace:
        side["per_layer"] = result["layer"]
        side["layer_laps"] = result["layer_laps"]
    out_dir = DATA / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    with open(out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(side, f, indent=1, default=str)
    for err in result["errors"]:
        print(f"perfbench: CHECK FAILED: {err}", file=sys.stderr)
    print("# conf " + json.dumps(info))
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": names[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if ok else 1


def measure(spark, wl, args, t_start: float) -> dict:
    """Cold lap, warm laps for --seconds, and (traced) per-layer laps."""
    off = Tracer(None, "untraced")
    res = {"cold": None, "warm": [], "laps": [], "errors": [], "attempted": 0, "failed": 0}

    def timed(tr, lap_no: int, traced: bool):
        tr.counters = {}
        first = len(tr.spans)
        res["attempted"] += 1
        try:
            if traced:
                wl.prefix(tr)
            t0 = time.perf_counter()
            with tr.span("lap") if traced else nullcontext():
                out = wl.lap(tr, lap_no)
            dt = time.perf_counter() - t0
            errs = wl.check(out)
            wl.after_lap(tr, lap_no)
        except Exception:  # a lap that raises is a failed lap, not a crash
            dt, errs = None, [traceback.format_exc(limit=4)]
        spark.catalog.clearCache()
        res["laps"].append({"lap": lap_no, "traced": traced, "s": dt, "ok": not errs})
        if errs:
            res["failed"] += 1
            res["errors"] += [f"lap {lap_no}: {e}" for e in errs]
            return None, tr.spans[first:]
        return dt, tr.spans[first:]

    def out_of_time(start: float, budget: float, n: int, floor: int) -> bool:
        now = time.perf_counter()
        return now - t_start > MAX_WALL_S or (now - start >= budget and n >= floor)

    res["cold"], _ = timed(off, 0, False)
    lap_no = 1
    for _ in range(wl.warmup):  # checked like any lap, but not timed into warm_s
        timed(off, lap_no, False)
        lap_no += 1
    window = time.perf_counter()
    untraced_budget = args.seconds / 2 if args.trace else args.seconds
    while not out_of_time(window, untraced_budget, len(res["warm"]), wl.min_warm):
        dt, _ = timed(off, lap_no, False)
        lap_no += 1
        if dt is not None:
            res["warm"].append(dt)
    if not args.trace:
        return res

    probe = SparkProbe(spark)
    tr = Tracer(probe, f"{wl.name}-{args.seed}")
    per_lap: list[dict] = []
    try:
        while not out_of_time(window, args.seconds, len(per_lap), 1):
            dt, spans = timed(tr, lap_no, True)
            lap_no += 1
            if dt is not None:
                per_lap.append(layer_metrics(wl, tr, spans))
            else:
                for s in spans:
                    s.pop("plans", None)
    finally:
        probe.close()
    layer = {k: statistics.median(m[k] for m in per_lap) if per_lap else 0.0 for k in PER_LAYER}
    if per_lap:
        layer.update(wl.run_metrics())
    res.update(layer=layer, layer_laps=per_lap, spans=tr.spans)
    return res


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


if __name__ == "__main__":
    sys.exit(run(parse_args()))
