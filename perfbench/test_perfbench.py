"""Tests of the benchmark's own rules and process hygiene.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test starts Spark (about a minute); the rest need no JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procs  # noqa: E402
import stats  # noqa: E402
from harness import Run  # noqa: E402


# ---------------------------------------------------------------------------
# tail percentile: the highest with at least ten samples beyond it
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n,pct", [(10, 0), (11, 5), (20, 50), (40, 75), (60, 80), (100, 90), (1000, 95)])
def test_tail_pct_rule(n, pct):
    assert stats.tail_pct(n) == pct


@pytest.mark.parametrize("n", [11, 19, 20, 33, 40, 57, 100, 250])
def test_tail_pct_leaves_ten_beyond(n):
    values = [float(i) for i in range(n)]
    cut = stats.percentile(values, stats.tail_pct(n))
    assert sum(v > cut for v in values) >= stats.TAIL_MIN_BEYOND


def test_fixed_tail_constants_follow_the_rule():
    import workloads

    n_releases = round(workloads.LIVE_TAIL_SECONDS / workloads.RELEASE_EVERY_S)
    assert workloads.FRESHNESS_TAIL_PCT == stats.tail_pct(n_releases)


def test_percentile_interpolates_like_numpy():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 90) == 5
    assert stats.percentile([0, 10], 75) == 7.5


# ---------------------------------------------------------------------------
# self time
# ---------------------------------------------------------------------------


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0, 10),
        _span(2, 1, 1, 3),
        _span(3, 1, 2, 5),  # overlaps 2 (concurrent families)
        _span(4, 1, 8, 12),  # runs past the parent: clipped
        _span(5, 2, 1, 2),  # grandchild: counts against 2, not 1
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10 - (4 + 2))
    assert st[2] == pytest.approx(2 - 1)
    assert st[5] == pytest.approx(1)


def test_self_time_of_leaf_is_its_duration():
    assert stats.self_times([_span(1, None, 3, 7.5)]) == {1: 4.5}


# ---------------------------------------------------------------------------
# freshness, visible blocks per second, backlog — from stamped logs
# ---------------------------------------------------------------------------


def _releases(n, every=1.0, blocks=2, t0=100.0):
    return [
        {"due": t0 + i * every, "actual": t0 + i * every + 0.01,
         "files": [f"f{i}"], "head": (i + 1) * blocks}
        for i in range(n)
    ]


def test_freshness_from_due_time_to_first_covering_refresh():
    rel = _releases(4)
    # epoch 1 read f0 and f1, epoch 2 read f2 and f3
    file_epoch = {"f0": 1, "f1": 1, "f2": 2, "f3": 2}
    swaps = [(2, 106.0), (1, 103.0)]
    fresh = stats.freshness(rel, file_epoch, swaps)
    assert fresh == {0: 3.0, 1: 2.0, 2: 4.0, 3: 3.0}


def test_freshness_waits_for_every_file_of_a_reorg_release():
    rel = [{"due": 10.0, "actual": 10.0, "files": ["marker", "alt"], "head": 4}]
    # the source split the release across two triggers
    fresh = stats.freshness(rel, {"marker": 3, "alt": 4}, [(3, 11.0), (4, 12.5)])
    assert fresh == {0: 2.5}


def test_release_never_visible_has_no_sample():
    rel = _releases(2)
    assert stats.freshness(rel, {"f0": 1}, [(1, 101.5)]) == {0: 1.5}


def test_visible_blocks_per_s_equals_offered_rate_when_keeping_up():
    rel = _releases(12, every=0.5, blocks=2)  # 4 blocks/s offered
    # a refresh every 1.5 s, each covering the releases due 1 s before it
    file_epoch = {f"f{i}": i // 3 for i in range(12)}
    swaps = [(e, 100.0 + 3 * 0.5 * e + 1.5) for e in range(4)]
    assert stats.visible_blocks_per_s(rel, file_epoch, swaps) == pytest.approx(4.0)


def test_visible_blocks_per_s_falls_when_backlog_grows():
    rel = _releases(12, every=0.5, blocks=2)
    file_epoch = {f"f{i}": i // 3 for i in range(12)}
    # each refresh takes longer than the 1.5 s of input it covers
    swaps = [(e, 100.0 + 3.0 * e + 1.5) for e in range(4)]
    assert stats.visible_blocks_per_s(rel, file_epoch, swaps) < 4.0


def test_reorg_release_adds_no_new_blocks():
    rel = _releases(3, every=1.0, blocks=2)
    rel.append({"due": 103.0, "actual": 103.0, "files": ["m", "a"], "head": 6})
    file_epoch = {"f0": 0, "f1": 1, "f2": 2, "m": 3, "a": 3}
    swaps = [(0, 101.0), (1, 102.0), (2, 103.0), (3, 104.0)]
    # the head stops at block 6; the reorg refresh must not stretch the slope
    assert stats.visible_blocks_per_s(rel, file_epoch, swaps) == pytest.approx(2.0)


def test_backlog_counts_released_unconsumed_files():
    rel = _releases(4)
    file_epoch = {"f0": 0, "f1": 1, "f2": 1, "f3": 2}
    # trigger 1 starts after f2 landed: f1 and f2 wait; trigger 2: f3 waits
    assert stats.backlog_at_triggers(rel, file_epoch, {1: 102.5, 2: 103.5}) == [2, 1]


def test_checkpoint_file_epochs_reads_batch_and_compact_logs(tmp_path):
    import workloads

    d = tmp_path / "ckpt" / "sources" / "0"
    d.mkdir(parents=True)

    def entry(name, batch):
        return json.dumps({"path": f"file:///feed/{name}", "timestamp": 1, "batchId": batch})

    (d / "0").write_text("v1\n" + entry("boot.parquet", 0) + "\n")
    (d / "1.compact").write_text("v1\n" + entry("boot.parquet", 0) + "\n" + entry("a.parquet", 1) + "\n")
    (d / "2").write_text("v1\n" + entry("b.parquet", 2) + "\n" + entry("c.parquet", 2) + "\n")
    (d / ".2.tmp").write_text("partial")
    assert workloads.checkpoint_file_epochs(str(tmp_path / "ckpt")) == {
        "boot.parquet": 0, "a.parquet": 1, "b.parquet": 2, "c.parquet": 2}


def test_release_plan_reorgs_at_a_fixed_share():
    import workloads

    plan = workloads.plan_releases(40)
    reorgs = [r for r in plan if r["reorg"]]
    assert len(reorgs) == (40 - 1) // workloads.REORG_EVERY
    for i, r in enumerate(plan):
        if r["reorg"]:
            # the marker sorts (and is released) before the new-chain data,
            # and re-emits the slice the previous release landed
            assert r["files"] == sorted(r["files"]) and len(r["files"]) == 2
            assert r["slice"] == plan[i - 1]["slice"]
    slices = [r["slice"] for r in plan if not r["reorg"]]
    assert slices == list(range(1, len(slices) + 1))


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_generator_releases_on_schedule_and_logs_due_and_actual(tmp_path):
    stage, feed = tmp_path / "stage", tmp_path / "feed"
    stage.mkdir()
    feed.mkdir()
    for n in ("a", "b", "c"):
        (stage / n).write_bytes(b"x")
        os.utime(stage / n, (0, 0))
    t0 = time.time() + 0.2
    plan = {"stage_dir": str(stage), "feed_dir": str(feed),
            "releases": [{"due": t0, "files": ["a"]}, {"due": t0 + 0.2, "files": ["b", "c"]}]}
    log_path = tmp_path / "gen.log"
    with open(log_path, "w") as log:
        assert gen.release_all(plan, log) == 2
    logged = [json.loads(line) for line in log_path.read_text().splitlines()]
    assert [r["files"] for r in logged] == [["a"], ["b", "c"]]
    for r in logged:
        assert 0 <= r["actual"] - r["due"] < 0.5
    assert sorted(os.listdir(feed)) == ["a", "b", "c"] and not os.listdir(stage)
    # the release set the mtime the streaming source orders by (to the
    # file system's clock granularity)
    assert abs(os.stat(feed / "b").st_mtime - logged[1]["actual"]) < 0.1


# ---------------------------------------------------------------------------
# no process left running
# ---------------------------------------------------------------------------


def _run_without_spark(tmp_path) -> Run:
    run = Run("backfill", 1, 1, False, 1, str(tmp_path))
    run.sampler.start()
    return run


def test_close_names_and_kills_a_stray_process(tmp_path):
    run = _run_without_spark(tmp_path)
    stray = subprocess.Popen(["sleep", "60"])
    problems = run.close()
    assert any("process left running" in p and "sleep 60" in p and str(stray.pid) in p
               for p in problems), problems
    assert stray.poll() is not None  # killed and reaped
    assert procs.descendants() == []


def test_close_stops_generator_and_its_process_group(tmp_path):
    run = _run_without_spark(tmp_path)
    # a generator-like child that itself has a child, in its own group
    run.generator = subprocess.Popen(
        ["bash", "-c", "sleep 60 & wait"], start_new_session=True
    )
    time.sleep(0.3)
    assert len(procs.descendants()) == 2
    assert run.close() == []
    assert run.generator.returncode is not None
    assert procs.descendants() == []


def test_clean_close_reports_nothing(tmp_path):
    assert _run_without_spark(tmp_path).close() == []


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""


def test_full_run_leaves_no_process_behind():
    """A real (short) run: a clean result, and nothing of it alive after."""
    checkout = os.path.dirname(HERE)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "3",
         "--seconds", "1", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=200,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    runs_dir = os.path.join(checkout, ".perfbench_runs")
    assert not os.path.isdir(runs_dir) or not os.listdir(runs_dir)
    assert [pid for pid in map(int, filter(str.isdigit, os.listdir("/proc")))
            if _in_run_root(pid)] == []


def _in_run_root(pid: int) -> bool:
    """Started by a benchmark run: its TMPDIR points into a run root."""
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            return b".perfbench_runs" in f.read()
    except OSError:
        return False
