"""Self-tests of the benchmark: run with `python3 -m pytest perfbench -q`.

- a tiny-size lap of each workload passes its output check
- each checker rejects a deliberately corrupted result
- the same seed gives byte-identical input files, another seed does not
- a traced lap reports every per-layer metric, with the workload's own
  layers busy and the layers it bypasses at zero
- the metric names printed match BENCHMARK.json
- without the engine next to it, the benchmark fails without a result
- the clean-up after a run ends and reaps every process the run started
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

OFF = Tracer(None, "test")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    workdir = tmp_path_factory.mktemp("perfbench")
    (workdir / "tmp").mkdir()
    with pytest.MonkeyPatch.context() as mp:
        # Python workers import the engine from this checkout
        mp.setenv("PYTHONPATH", os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]))
        s = run.build_session(run.session_conf(run.nproc(), workdir))
        yield s
        run.stop_spark(s)


@pytest.fixture(scope="module")
def laps(spark, tmp_path_factory):
    """One tiny workload instance and one lap output per workload."""
    out = {}
    for name, cls in WORKLOADS.items():
        wl = cls(spark, 3, str(tmp_path_factory.mktemp(name)), "tiny")
        wl.setup()
        out[name] = (wl, wl.lap(OFF, 0))
        wl.after_lap(OFF, 0)
    return out


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_lap_passes_check(laps, name):
    wl, result = laps[name]
    assert wl.check(result) == []


def _corrupt(name, result):
    bad = copy.deepcopy(result)
    if name == "pages_zonal":
        r = bad["rows"][0].asDict()
        r["n_pages"] += 1  # one polygon count off by one
        bad["rows"][0] = r
    elif name == "raster_tiles":
        r = bad["zonal"][0].asDict()
        r["z_count"] += 1
        bad["zonal"][0] = r
    elif name == "docs_dedup_knn":
        bad["minhash"] = bad["minhash"][1:]  # one planted pair dropped
    else:
        r = bad["read"][0].asDict()
        r["n"] -= 1
        bad["read"][0] = r
    return bad


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_checker_rejects_corrupted_result(laps, name):
    wl, result = laps[name]
    assert wl.check(_corrupt(name, result))


def _inputs_digest(path: Path) -> list[str]:
    """Content digests of every input data file, independent of file names."""
    return sorted(
        hashlib.sha256(p.read_bytes()).hexdigest()
        for p in path.rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    )


@pytest.mark.parametrize("name", ["pages_zonal", "docs_dedup_knn", "snapshot_ingest"])
def test_same_seed_gives_identical_inputs(spark, tmp_path, name):
    digests = []
    for i, seed in enumerate((5, 5, 6)):
        d = tmp_path / f"in{i}"
        d.mkdir()
        wl = WORKLOADS[name](spark, seed, str(d), "tiny")
        wl.setup()
        digests.append(_inputs_digest(d))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


BUSY = {
    "pages_zonal": ["sources.scan_s", "sources.input_bytes", "arrow.bytes_to_python",
                    "pip.candidates"],
    "raster_tiles": ["raster.rasterize_s", "raster.zonal_s", "raster.tiles", "tiles.s",
                     "cells.binop_us_per_tile", "arrow.bytes_to_python"],
    "docs_dedup_knn": ["dedup.minhash_s", "dedup.simhash_s", "dedup.pairs", "dedup.candidates",
                       "knn.s", "knn.jobs", "shuffle.bytes_written"],
    "snapshot_ingest": ["snapshot.append_s", "snapshot.merge_s", "snapshot.read_s",
                        "snapshot.partitions_read", "snapshot.write_amp"],
}
IDLE = {
    "pages_zonal": ["raster.", "tiles.", "cells.", "dedup.", "knn.", "snapshot."],
    "raster_tiles": ["sources.", "functions.", "pip.", "dedup.", "knn.", "snapshot."],
    "docs_dedup_knn": ["functions.", "pip.", "raster.", "tiles.", "cells.", "snapshot."],
    "snapshot_ingest": ["functions.", "pip.", "raster.", "tiles.", "cells.", "dedup.", "knn."],
}


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_lap_splits_layers(spark, tmp_path, name):
    wl = WORKLOADS[name](spark, 4, str(tmp_path), "tiny")
    wl.setup()
    probe = run.SparkProbe(spark)
    tr = Tracer(probe, "test")
    try:
        wl.prefix(tr)
        with tr.span("lap"):
            out = wl.lap(tr, 1)
        assert wl.check(out) == []
        wl.after_lap(tr, 1)
        m = run.layer_metrics(wl, tr, tr.spans)
    finally:
        probe.close()
    m.update(wl.run_metrics())
    assert set(m) == set(run.PER_LAYER)
    assert m["driver.jobs"] > 0 and m["trace.lap_s"] > 0
    assert [k for k in BUSY[name] if not m[k] > 0] == []
    assert [k for k, v in m.items() if k.startswith(tuple(IDLE[name])) and v != 0] == []


def test_benchmark_json_names_match():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_printed_metrics_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pages_zonal", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }


def test_fails_without_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "raster_tiles", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


END_CHILDREN_SCRIPT = """
import json, os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from spans import become_subreaper, end_children, process_tree
assert become_subreaper()
subprocess.Popen(["sleep", "60"])
subprocess.Popen(["sh", "-c", "sleep 60 & exit"]).wait()  # leaves an orphan
subprocess.Popen(["sh", "-c", "trap '' TERM; sleep 60"])  # needs SIGKILL
started = process_tree(os.getpid())[1:]
left = end_children(0.3)
print(json.dumps([started, left, process_tree(os.getpid())[1:]]))
"""


def test_end_children_ends_and_reaps_every_process():
    proc = subprocess.run(
        [sys.executable, "-c", END_CHILDREN_SCRIPT, str(HERE)],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    started, left, after = json.loads(proc.stdout)
    assert len(started) >= 3
    assert left == [] and after == []
