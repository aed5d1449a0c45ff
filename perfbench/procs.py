"""Process-tree and host readings from /proc (Linux).

CPU is read as user + system ticks of every live process in the tree rooted
at this interpreter, plus the ticks each of them has already collected from
reaped children (cutime/cstime). Summed that way, a Python worker that exits
between two readings is still counted once its parent reaps it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def classify(pid: int) -> str:
    """'jvm' for java, 'pyworker' for the PySpark daemon and its workers,
    'driver' for this interpreter and anything else it started."""
    if pid == os.getpid():
        return "driver"
    cmd = _cmdline(pid)
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "pyworker"
    if "java" in cmd.split(" ", 1)[0]:
        return "jvm"
    return "driver"


def tree_pids() -> list[int]:
    """This interpreter and every process descended from it."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds so far, per process class of the tree rooted here.
    A reaped child is billed to the class of the parent that reaped it
    (e.g. exited Python workers to the PySpark daemon, so to 'pyworker')."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based) of stat
        ticks = sum(int(v) for v in f[11:15])
        out[classify(pid)] += ticks / _TICK
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_by_class() -> dict[str, float]:
    """Sum of VmHWM per class, except the largest for Python workers."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in tree_pids():
        cls = classify(pid)
        if cls == "pyworker":
            out[cls] = max(out[cls], vm_hwm_mb(pid))
        else:
            out[cls] += vm_hwm_mb(pid)
    return out


def host_state() -> dict[str, float]:
    """Host-wide steal seconds since boot and the 1-minute load average.
    Diagnostics only: no metric is ever rescaled by them."""
    steal = 0.0
    with open("/proc/stat") as fh:
        first = fh.readline().split()
    if first and first[0] == "cpu" and len(first) > 8:
        steal = int(first[8]) / _TICK
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"steal_s": steal, "load1": load1}
