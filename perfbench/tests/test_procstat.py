import os
import subprocess
import sys
import time

from perfbench import procstat


def _fake_proc(tmp_path, procs):
    """procs: pid -> (ppid, utime, stime, cutime, cstime, rss_pages)."""
    for pid, (ppid, ut, st, cut, cst, rss) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # a command name with spaces and ')' must not shift the fields
        fields = ["S", ppid] + [0] * 9 + [ut, st, cut, cst] + [0] * 20
        (d / "stat").write_text(
            f"{pid} (java) x (y)) " + " ".join(map(str, fields)) + "\n"
        )
        (d / "statm").write_text(f"100 {rss} 0 0 0 0 0\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped


def test_parse_stat_sums_own_and_reaped_children_time():
    t = procstat._TICKS
    line = f"7 (a b)) S 3 " + " ".join(["0"] * 9) + f" {t} {t} {2 * t} {t} 0 0"
    assert procstat.parse_stat(line) == (7, 3, 5.0)


def test_tree_sums_descendants_only(tmp_path):
    t = procstat._TICKS
    _fake_proc(
        tmp_path,
        {
            10: (1, t, 0, 0, 0, 5),       # driver
            11: (10, 2 * t, t, 0, 0, 7),  # jvm
            12: (11, t, 0, t, 0, 3),      # worker daemon with a reaped child
            13: (1, 50 * t, 0, 0, 0, 1000),  # unrelated process
        },
    )
    assert procstat.tree_cpu_s(10, str(tmp_path)) == 6.0
    assert procstat.tree_cpu_s(11, str(tmp_path)) == 5.0
    mb = procstat.tree_rss_mb(10, str(tmp_path))
    assert mb == 15 * procstat._PAGE / 1e6


def test_live_child_cpu_is_counted():
    before = procstat.tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.time()\nwhile time.time()-t<0.6: pass"]
    )
    try:
        time.sleep(0.4)
        during = procstat.tree_cpu_s()
    finally:
        child.wait()
    after = procstat.tree_cpu_s()  # reaped: moved into our cutime
    assert during - before > 0.1
    assert after - before > 0.4
    assert os.getpid() in procstat.descendants(os.getpid(), procstat.snapshot())


def test_rss_sampler_keeps_peak():
    with procstat.RssSampler(period_s=0.01) as s:
        time.sleep(0.05)
    assert s.peak_mb > 1.0
