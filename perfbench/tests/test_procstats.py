import subprocess
import sys

import pytest

from procstats import cpu_seconds, end_processes, process_tree, start_ticks, tail_percentile


def test_tail_is_the_eleventh_largest_sample():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail_percentile(samples)
    assert value == 90.0  # exactly ten samples (91..100) lie beyond it
    assert pct == pytest.approx(90.0)


def test_tail_percentile_moves_with_sample_count():
    value, pct = tail_percentile([5.0] * 15 + [1.0] * 5)
    assert value == 5.0
    assert pct == pytest.approx(50.0)
    value, pct = tail_percentile(list(range(11)))
    assert value == 0 and pct == pytest.approx(100 / 11)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_tail_ignores_input_order():
    samples = [3.0, 9.0, 1.0, 7.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    assert tail_percentile(samples) == tail_percentile(sorted(samples))


def test_process_tree_holds_this_process():
    tree = process_tree()
    assert tree[0] > 0
    assert cpu_seconds(tree) > 0


def test_process_tree_finds_a_child_process():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in process_tree()
    finally:
        child.kill()
        child.wait()


def test_end_processes_returns_once_each_has_ended():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        end_processes({child.pid: start_ticks(child.pid)}, grace_s=5.0)
        assert child.wait(timeout=1) != 0  # already ended: terminated, not timed out
    finally:
        child.kill()
        child.wait()


def test_end_processes_leaves_a_reused_pid_alone():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        # A start time other than the pid's own names a process that has ended.
        end_processes({child.pid: start_ticks(child.pid) - 1}, grace_s=0.1)
        assert child.poll() is None
    finally:
        child.kill()
        child.wait()
