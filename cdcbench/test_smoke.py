"""Smoke tests of the benchmark itself, not of the engine.

Run from the repository root::

    python3 -m pytest cdcbench/test_smoke.py -q

Each workload runs at ``--size tiny`` in both trace modes and must emit every
metric ``BENCHMARK.json`` declares, with its unit. A deliberately corrupted
table state, and corrupted lookup and scan records, must trip the correctness
gate. Outside a repository checkout the benchmark must fail without a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "cdcbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "2",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in declared}
    for v in result["metrics"].values():
        assert isinstance(v["value"], float) and math.isfinite(v["value"])
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    out = _run("stream_tail", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.fixture(scope="module")
def spark():
    from arlas_proc_spark.config import build_session
    s = build_session(app_name="cdcbench-smoke", master="local[2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_corrupted_state_trips_the_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    import workloads as W
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import changefeed_df

    gen_kw = dict(n_repos=4, files_per_repo=50, **W.GEN_SKEW)
    s0, n = 5_000, 2_000
    eng = CdcEngine(spark, str(tmp_path / "table"), n_buckets=2)
    eng.replay(changefeed_df(spark, s0 + n, start=s0, **gen_kw))
    rows = eng.table.read().orderBy("repo", "path").limit(2).collect()
    lookups = [{"repo": r.repo, "path": r.path, "cutoff": s0 + n,
                "rows": [r.asDict()]} for r in rows]
    lookups.append({"repo": "repo_9999", "path": "src/f_00000.py",
                    "cutoff": s0 + n, "rows": []})

    scans = [{"cutoff": s0 + n, "count": eng.table.read().count()}]

    ok = W.check_against_oracle(spark, eng.table, s0, s0 + n, gen_kw,
                                lookups, str(tmp_path / "ok"), scans)
    assert ok["missing_rows"] == ok["extra_rows"] == 0
    assert ok["lookups"] == 3 and ok["wrong_lookups"] == 0
    assert ok["scans"] == 1 and ok["wrong_scans"] == 0

    # drop one live row behind the feed's back, and misreport one lookup
    # and one scan
    victim = rows[0]
    eng.table.delete_where((F.col("repo") == victim.repo) &
                           (F.col("path") == victim.path), "corrupt-1")
    lookups[1]["rows"][0]["content"] = "tampered"
    scans[0]["count"] += 1
    bad = W.check_against_oracle(spark, eng.table, s0, s0 + n, gen_kw,
                                 lookups, str(tmp_path / "bad"), scans)
    assert bad["missing_rows"] == 1 and bad["extra_rows"] == 0
    assert bad["wrong_lookups"] == 1
    assert bad["wrong_scans"] == 1
