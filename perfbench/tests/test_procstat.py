import os
import subprocess
import sys
from pathlib import Path

from perfbench import procstat

# burns ~0.6 s of CPU, holds 64 MiB resident, then waits to be told to exit
CHILD = """
import sys, time
block = bytearray(64 << 20)
for i in range(0, len(block), 4096):
    block[i] = 1
t = time.process_time()
while time.process_time() - t < 0.6:
    pass
print("ready", flush=True)
sys.stdin.readline()
"""


def _rss() -> int:
    """Current RSS of this process."""
    return int(Path("/proc/self/statm").read_text().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _start_child():
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    assert child.stdout.readline().strip() == "ready"
    return child


def _stop_child(child):
    child.stdin.close()
    child.wait(timeout=30)
    assert child.returncode == 0


def test_sampler_sees_a_known_child():
    with procstat.TreeSampler() as sampler:
        child = _start_child()
        assert child.pid in procstat.tree_pids(os.getpid())
    _stop_child(child)
    assert 0.5 <= sampler.cpu_s < 5.0
    assert sampler.peak_rss_bytes - _rss() >= 50 << 20


def test_child_that_exits_inside_the_block_is_not_counted():
    with procstat.TreeSampler() as sampler:
        _stop_child(_start_child())
    assert sampler.cpu_s >= 0.5  # its CPU is reaped into the parent's
    assert sampler.peak_rss_bytes < _rss() + (48 << 20)


def test_peak_before_the_block_is_not_counted():
    block = bytearray(96 << 20)
    for i in range(0, len(block), 4096):
        block[i] = 1
    del block
    rss = _rss()
    assert procstat.peak_rss_bytes(os.getpid()) >= rss + (80 << 20)
    with procstat.TreeSampler() as sampler:
        pass
    assert sampler.peak_rss_bytes < _rss() + (48 << 20)


def test_exited_child_is_not_running():
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait(timeout=30)
    assert not procstat.is_running(child.pid)
    assert procstat.is_running(os.getpid())
