import os
import subprocess
import sys

from xmlbench import procstat

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def test_tree_cpu_counts_reaped_children():
    before = procstat.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", _BURN], check=True)  # exits and is reaped
    assert procstat.tree_cpu_s(os.getpid()) - before >= 0.25


def test_descendants_and_worker_rss_see_a_live_python_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procstat.descendants(os.getpid())
        assert procstat.worker_rss_bytes(os.getpid()) > 1_000_000
        with procstat.PeakRss(os.getpid(), interval_s=0.01) as rss:
            pass
        assert rss.peak_bytes > 1_000_000
    finally:
        child.kill()
        child.wait()

