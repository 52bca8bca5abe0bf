"""Host and process readings from ``/proc`` (Linux).

- ``host_sample()``: cumulative CPU ticks (with hypervisor steal) and the
  1-minute load average; ``host_delta`` turns two samples into steal % and
  load for the interval (the ``_cpu_ticks`` pattern of ``bench.py``).
- ``tree_cpu_s(root)``: CPU seconds (user + system, including reaped
  children) of a process and every live descendant — the Python driver,
  the JVM it launched, and the JVM's Python workers.
- ``peak_rss_mb(pids)``: sum of the kernel's peak resident set (``VmHWM``)
  of the given processes.
- ``stop_tree(pids)``: wait for processes to end, killing stragglers.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def host_sample() -> dict:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal": vals[7] if len(vals) > 7 else 0, "total": sum(vals), "load1": load1}


def host_delta(a: dict, b: dict) -> dict:
    total = b["total"] - a["total"]
    steal = 100.0 * (b["steal"] - a["steal"]) / total if total > 0 else 0.0
    return {"steal_pct": round(steal, 3), "loadavg_1m": b["load1"]}


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    ticks = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def stop_tree(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, whatever lingers."""
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if _stat(p) is not None and _stat(p)[0] != "Z"]
        if not alive:
            return
        for p in alive:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while time.monotonic() < deadline:
            if all(_stat(p) is None or _stat(p)[0] == "Z" for p in alive):
                break
            time.sleep(0.1)
        deadline = time.monotonic() + 5.0
