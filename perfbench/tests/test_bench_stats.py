"""Metric aggregation and the /proc process-tree sampler."""

import os
import shutil
import statistics
import subprocess
import sys
import time

import pytest

from perfbench import procstat
from perfbench.stats import median, metric, quartile_spread


def test_median_and_metric():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1, 2, 3, 4]) == 2.5
    assert metric(2, "s") == {"value": 2.0, "unit": "s"}
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 12.0, 10.1, 9.9, 10.4, 10.0, 10.3]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert quartile_spread([5.0] * 10) == 0.0
    with pytest.raises(ValueError):
        quartile_spread([1.0])


def _fake_proc(root, procs, self_dir=True):
    """procs: pid -> (ppid, comm, resident pages)."""
    for pid, (ppid, comm, pages) in procs.items():
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        (d / "statm").write_text(f"1000 {pages} 10 1 0 50 0\n")
    if self_dir:
        (root / "self").mkdir()  # non-numeric entries are skipped


def test_tree_walk_and_rss_on_fake_proc(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, "python3", 100),
        11: (10, "java (gw) x", 1000),  # spaces and ')' in the command name
        12: (11, "python3", 50),
        13: (12, "python3", 50),
        20: (1, "other", 7777),
    })
    parents = procstat.parent_map(str(tmp_path))
    assert parents[11] == 10 and parents[13] == 12
    assert procstat.tree_pids(10, parents) == {10, 11, 12, 13}
    page = os.sysconf("SC_PAGE_SIZE")
    assert procstat.tree_rss_bytes(10, str(tmp_path)) == 1200 * page
    assert procstat.rss_bytes(99, str(tmp_path)) == 0  # exited process


def test_sampler_counts_children():
    # a child holding ~64 MiB must show up in the tree's peak
    child = subprocess.Popen(
        [sys.executable, "-c", "import sys,time; b=bytearray(64<<20); sys.stdout.write('x\\n'); sys.stdout.flush(); time.sleep(30)"],
        stdout=subprocess.PIPE,
    )
    try:
        child.stdout.readline()
        own = procstat.rss_bytes(os.getpid())
        with procstat.TreeRssSampler(os.getpid(), interval_s=0.02) as s:
            time.sleep(0.2)
        assert s.samples >= 2
        assert s.peak_bytes >= own + (60 << 20)
    finally:
        child.kill()
        child.wait(timeout=10)


def test_sampler_counts_a_process_from_its_second_sample(tmp_path):
    _fake_proc(tmp_path, {10: (1, "python3", 100), 11: (10, "java", 1000)})
    s = procstat.TreeRssSampler(10, proc=str(tmp_path))
    page = os.sysconf("SC_PAGE_SIZE")
    assert s.sample() == 100 * page  # the JVM is new
    assert s.sample() == 1100 * page
    # a helper the JVM spawned shows the JVM's pages for one sample
    _fake_proc(tmp_path, {12: (11, "java", 1000)}, self_dir=False)
    assert s.sample() == 1100 * page
    shutil.rmtree(tmp_path / "12")
    assert s.sample() == 1100 * page
    assert s.peak_bytes == 1100 * page


def test_steal_clock_takes_out_stolen_time(tmp_path):
    stat = tmp_path / "stat"
    # user nice system idle iowait irq softirq steal guest guest_nice
    stat.write_text("cpu  100 0 50 900 0 0 50 0 0 0\ncpu0 1 2 3\n")
    assert procstat.cpu_ticks(str(tmp_path)) == (200, 0)
    clock = procstat.StealClock(str(tmp_path))
    time.sleep(0.05)
    stat.write_text("cpu  400 0 50 900 0 0 50 100 0 0\n")  # 300 busy, 100 stolen
    wall, free = clock.read()
    assert wall >= 0.05
    assert free == pytest.approx(wall * 0.75)
    stat.write_text("cpu  400 0 50 2000 0 0 50 100 0 0\n")
    clock = procstat.StealClock(str(tmp_path))
    wall, free = clock.read()  # idle only: nothing to correct
    assert free == wall
