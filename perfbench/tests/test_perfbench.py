"""The benchmark's own tests: span arithmetic, output checks, and each
workload end to end at a tiny size.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.spans import Span, covered, inclusive_counts, net_durations, self_times  # noqa: E402
from perfbench.workloads import _pubsub_ok  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(tmp_cwd: str, *args: str, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=tmp_cwd,
        capture_output=True,
        text=True,
        timeout=600,
        env=None if env is None else {**os.environ, **env},
    )


# -- span arithmetic ---------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_on_a_synthetic_tree():
    # root [0,100]: children a [10,40] and b [50,60]; a has child c [20,30]
    # and, with tracer work around it, d inside [32,38] with outer [31,39];
    # a itself carries tracer work [9,10] and [40,41.5] outside its interval
    spans = [
        Span(0, "root", None, 1, 0.0, 100.0),
        Span(1, "a", 0, 1, 10.0, 40.0, outer_start=9.0, outer_end=41.5),
        Span(2, "c", 1, 1, 20.0, 30.0),
        Span(3, "b", 0, 1, 50.0, 60.0),
        Span(4, "d", 1, 1, 32.0, 38.0, outer_start=31.0, outer_end=39.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(100 - 32.5 - 10)
    assert st[1] == pytest.approx(30 - 10 - 8)
    assert st[2] == pytest.approx(10)
    assert st[3] == pytest.approx(10)
    assert st[4] == pytest.approx(6)
    # durations leave out the tracer work around every descendant: d's 2
    # inside a, and a's 2.5 plus d's 2 inside root
    net = net_durations(spans)
    assert net[4] == pytest.approx(6)
    assert net[1] == pytest.approx(30 - 2)
    assert net[0] == pytest.approx(100 - 2.5 - 2)
    assert net[2] == pytest.approx(10) and net[3] == pytest.approx(10)
    # self time plus the children's net durations is the net duration
    assert net[0] == pytest.approx(st[0] + net[1] + net[3])


def test_inclusive_counts_sum_descendants():
    spans = [
        Span(0, "flush", None, 1, 0, 10, jobs=0),
        Span(1, "produce", 0, 1, 1, 9, jobs=4, stages=5, tasks=9),
        Span(2, "write", 1, 1, 2, 3, jobs=1, stages=1, tasks=4),
    ]
    c = inclusive_counts(spans)
    assert c[0] == (5, 6, 13)
    assert c[1] == (5, 6, 13)
    assert c[2] == (1, 1, 4)


# -- output checks -----------------------------------------------------------


def test_pubsub_check_rejects_any_byte_difference():
    recs = [{"partition": 3, "key": b"k%d" % j, "value": bytes([j]) * 8} for j in range(8)]
    rows = [dict(r, offset=10 + j) for j, r in enumerate(recs)]
    got = {("tail", 3): rows, ("tail", 0): []}
    assert _pubsub_ok(got, recs, {3: 10}, 3)
    bad = [dict(r) for r in rows]
    bad[5]["value"] = b"\x00" * 8
    assert not _pubsub_ok({("tail", 3): bad}, recs, {3: 10}, 3)
    assert not _pubsub_ok({("tail", 3): rows[:-1]}, recs, {3: 10}, 3)
    assert not _pubsub_ok({("tail", 3): rows}, recs, {3: 11}, 3)
    assert not _pubsub_ok({("tail", 3): rows, ("tail", 1): rows[:1]}, recs, {3: 10}, 3)


def test_exits_nonzero_without_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(str(tmp_path), "--workload", "bulk_ingest", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert not [ln for ln in p.stdout.splitlines() if ln.startswith("{")]


# -- each workload end to end, tiny ------------------------------------------


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["bulk_ingest", "tail_pubsub", "log_analytics"])
def test_workload_passes_its_checks_and_prints_every_metric(workload):
    # an inherited master setting must not change the measured local[nproc]
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", "0", "--scale", "0.05",
             env={"SPARK_GRAFT_CPUS": "32", "SPARK_MASTER": "local[1]"})
    res = _result(p)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    bench = _bench()
    assert set(res["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    for m in bench["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
    names = {ln.split()[2] for ln in p.stdout.splitlines() if ln.startswith(f"perfbench {workload} ")}
    assert "failed_share" in names and "setup_s" in names
    record = json.loads(next(ln for ln in p.stdout.splitlines()
                             if ln.startswith("perfbench record "))[len("perfbench record "):])
    assert record["master"] == f"local[{len(os.sched_getaffinity(0))}]"


def test_traced_run_prints_every_per_layer_metric():
    p = _run(ROOT, "--workload", "tail_pubsub", "--seed", "7", "--seconds", "1",
             "--trace", "1", "--scale", "0.5")
    res = _result(p)
    assert res["correct"]
    bench = _bench()
    assert set(res["metrics"]) == {m["name"] for m in bench["per_layer"]}
    for m in bench["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    met = {k: v["value"] for k, v in res["metrics"].items()}
    # the local produce path runs no Spark job and every timed poll hits
    assert met["engine.produce_spark_jobs"] == 0
    assert met["engine.tail_hit_ratio"] == 1.0
    assert met["engine.offset_commit_batch_spark_jobs"] >= 1
    assert met["engine.produce_ms"] > 0 and met["fsio.write_text_atomic_ms"] > 0
