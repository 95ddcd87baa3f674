"""Span self times and the filesystem counter."""

import os
import threading

from tracing import FsCounter, Tracer


def test_self_time_and_nesting():
    t = Tracer()
    q = t.add("query/x", 0.0, 10.0)
    t.add("builder", 0.0, 3.0, q)
    t.add("catalyst", 3.0, 4.0, q)
    e = t.add("exec", 4.0, 9.5, q)
    t.add("fs", 5.0, 6.0, e)
    assert abs(t.self_time(q) - 0.5) < 1e-9
    assert abs(t.self_time(e) - 4.5) < 1e-9
    assert t.nesting_ok()


def test_self_time_counts_overlapping_children_once():
    t = Tracer()
    q = t.add("batch/0", 0.0, 10.0)
    t.add("sink", 1.0, 6.0, q)
    t.add("sink", 5.0, 8.0, q)
    assert abs(t.self_time(q) - 3.0) < 1e-9
    # the two children's self times (8 s) fit, so nesting still holds
    assert t.nesting_ok()


def test_nesting_rejects_child_outside_parent():
    t = Tracer()
    b = t.add("batch/0", 0.0, 1.0)
    t.add("sink", 0.5, 1.5, b)
    assert not t.nesting_ok()


def test_fs_counter_counts_only_its_thread(tmp_path):
    (tmp_path / "a").write_text("x")
    with FsCounter() as fs:
        os.link(tmp_path / "a", tmp_path / "b")
        os.listdir(tmp_path)
        th = threading.Thread(target=os.listdir, args=(tmp_path,))
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    os.listdir(tmp_path)
    assert fs.counts["link"] == 1 and fs.counts["listdir"] == 1
    assert fs.intervals and all(lo <= hi for lo, hi in fs.intervals)


def test_tree_cpu_counts_children(tmp_path):
    import subprocess
    import sys

    from tracing import cpu_s_between, cpu_sample, tree_rss_mb

    before = cpu_sample()
    child = subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"],
                           timeout=60)
    assert child.returncode == 0
    assert cpu_s_between(before, cpu_sample()) > 0.05
    assert tree_rss_mb(os.getpid()) > 1


def test_cpu_between_drops_jit_threads_even_when_they_exit():
    from tracing import cpu_s_between

    tick = os.sysconf("SC_CLK_TCK")
    a = (1000, {(1, "7"): 300, (1, "8"): 50})
    b = (1000 + 5 * tick, {(1, "7"): 300 + 2 * tick, (1, "9"): tick})  # "8" exited
    assert abs(cpu_s_between(a, b) - 2.0) < 1e-9
