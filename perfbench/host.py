"""Host state and process control, read from /proc (psutil is not installed)."""

from __future__ import annotations

import os
import signal
import subprocess
import time

# a run is flagged busy when this share of all CPUs was busy just before
# it (the 1-minute loadavg is recorded too, but lags a previous run)
BUSY_CPU_FRAC = 0.25


def cores() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> tuple[int, int, int]:
    """Jiffies since boot over all CPUs: busy, stolen by the hypervisor,
    total."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle, vals[7], sum(vals)


def cpu_busy_frac(window_s: float = 0.5) -> float:
    """Share of all CPUs busy over a short window."""
    b0, _, t0 = cpu_times()
    time.sleep(window_s)
    b1, _, t1 = cpu_times()
    return (b1 - b0) / max(1, t1 - t0)


def steal_frac(since: tuple[int, int, int]) -> float:
    """Share of CPU time stolen from this VM since ``cpu_times()`` read
    ``since``: a co-tenant slowing the run."""
    _, s1, t1 = cpu_times()
    return (s1 - since[1]) / max(1, t1 - since[2])


def snapshot() -> dict:
    return {"loadavg_1m": loadavg_1m(), "cpu_busy_frac": round(cpu_busy_frac(), 4)}


def is_busy(snap: dict) -> bool:
    return snap["cpu_busy_frac"] > BUSY_CPU_FRAC


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces: fields resume after ')'
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _ppid(name)
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an unreaped zombie counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def end_all(pids: list[int], grace_s: float) -> None:
    """Wait up to ``grace_s`` seconds for ``pids`` to end, then SIGKILL
    those still running and wait until they have ended."""
    deadline = time.monotonic() + grace_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def pin(pids: list[int], cpus: list[int]) -> None:
    """Set the CPU affinity of every thread of ``pids`` with taskset.
    Processes they fork later inherit it."""
    cpu_list = ",".join(str(c) for c in cpus)
    for pid in pids:
        # a worker may exit between listing and pinning
        subprocess.run(["taskset", "-a", "-p", "-c", cpu_list, str(pid)],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       check=False)


def python_peak_rss_mb(pids: list[int]) -> float:
    """Highest VmHWM (peak resident set) among the Python processes."""
    peak_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"python" not in f.read().split(b"\0")[0]:
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0

