"""CPU and peak-RSS accounting for a process tree, read from ``/proc``.

The engine runs as one JVM plus the Python worker processes Spark forks
under it. Their cost is the sum over that tree:

* CPU: ``utime + stime`` of every live process, plus ``cutime + cstime``
  (children already reaped by a tree member). A snapshot before and after a
  pass gives the CPU the pass cost; a pid that appears mid-pass counts from
  zero.
* Peak RSS: ``VmHWM`` per process. Writing ``5`` to ``/proc/<pid>/clear_refs``
  resets the high-water mark, so resetting before a pass and summing after
  it bounds the tree's peak during the pass from above (the per-process peaks
  need not coincide). No polling thread is needed.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # process exited between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm (field 2) may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    """ppid -> [pid] for every process visible in /proc."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        out.setdefault(int(f[1]), []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    """All live descendants of ``root`` (not including it)."""
    kids = children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids) -> dict[int, float]:
    """pid -> user+sys CPU seconds, own plus reaped children's."""
    out = {}
    for pid in pids:
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        out[pid] = sum(int(x) for x in f[11:15]) / _TICK
    return out


def _status_kb(pid: int, key: str) -> int:
    raw = _read(f"/proc/{pid}/status")
    if raw is None:
        return 0
    for line in raw.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def reset_peak_rss(pids) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # exited, or not ours


def peak_rss_mb(pids) -> dict[int, float]:
    """pid -> VmHWM in MB."""
    return {pid: _status_kb(pid, "VmHWM") / 1024.0 for pid in pids}


class TreeMeter:
    """CPU and peak RSS of the descendants of ``root`` over one interval.

    ``start()`` snapshots CPU and resets the RSS high-water marks;
    ``stop()`` returns ``(cpu_s, {pid: peak_rss_mb})`` for the interval."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self._cpu0: dict[int, float] = {}

    def start(self) -> None:
        pids = descendants(self.root)
        reset_peak_rss(pids)
        self._cpu0 = cpu_seconds(pids)

    def stop(self) -> tuple[float, dict[int, float]]:
        pids = descendants(self.root)
        cpu1 = cpu_seconds(pids)
        cpu = sum(v - self._cpu0.get(pid, 0.0) for pid, v in cpu1.items())
        return cpu, peak_rss_mb(pids)
