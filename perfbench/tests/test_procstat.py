import subprocess
import sys

from perfbench import procstat

# burns ~0.6 s of CPU, holds ~200 MB resident, then waits for stdin to close
CHILD = """
import sys, time
buf = bytearray(200 * 1024 * 1024)
for i in range(0, len(buf), 4096):
    buf[i] = 1
t = time.process_time()
while time.process_time() - t < 0.6:
    pass
print("ready", flush=True)
sys.stdin.read()
"""


def test_tree_meter_counts_child_cpu_and_peak_rss():
    meter = procstat.TreeMeter()
    meter.start()
    child = subprocess.Popen([sys.executable, "-c", CHILD], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        cpu, peaks = meter.stop()
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert cpu >= 0.5
    assert peaks[child.pid] >= 190


def test_reset_peak_rss_forgets_an_earlier_peak():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys\nb = bytearray(150 * 2**20)\nb[::4096] = b'x' * len(b[::4096])\n"
         "del b\nprint('ready', flush=True)\nsys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        before = procstat.peak_rss_mb([child.pid])[child.pid]
        procstat.reset_peak_rss([child.pid])
        after = procstat.peak_rss_mb([child.pid])[child.pid]
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert before >= 140
    assert after < before / 2


def test_descendants_sees_grandchildren():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys\n"
         "g = subprocess.Popen([sys.executable, '-c', 'import sys; sys.stdin.read()'],"
         " stdin=subprocess.PIPE)\n"
         "print(g.pid, flush=True)\nsys.stdin.read()\ng.stdin.close()\ng.wait()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        grandchild = int(child.stdout.readline())
        tree = procstat.descendants(procstat.os.getpid())
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert child.pid in tree and grandchild in tree
