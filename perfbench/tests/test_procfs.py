"""CPU seconds of a process tree count children that already exited."""

import os
import subprocess
import sys

from perfbench import procfs

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"


def test_live_child_is_in_the_tree():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in procfs.tree(os.getpid())
        assert procfs.rss_kb(child.pid) > 0
    finally:
        child.kill()
        child.wait(timeout=10)


def test_reaped_child_cpu_is_counted():
    before = procfs.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", BURN], check=True, timeout=30)
    assert procfs.tree_cpu_s(os.getpid()) - before >= 0.25
