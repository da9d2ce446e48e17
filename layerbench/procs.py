"""/proc readers for the layer benchmark: process-tree CPU, peak RSS,
host steal, and finding (and reaping) every process a run started.

Every process a run starts inherits ``RUN_MARK`` in its environment
(the driver JVM, the pyspark daemon and its forked workers), so a run's
processes can be found and killed even after they were re-parented.
"""

from __future__ import annotations

import os
import signal
import time

RUN_MARK = "LAYERBENCH_RUN"
TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at state (index 0)
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _environ(pid: int) -> list[bytes]:
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            return f.read().split(b"\0")
    except OSError:
        return []


def pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def cpu_s(pid: int, children: bool = True) -> float:
    """utime+stime of ``pid`` (plus its reaped children's) in seconds."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])  # utime, stime
    if children:
        ticks += int(st[13]) + int(st[14])  # cutime, cstime
    return ticks / TICK


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in pids():
        st = _stat(p)
        if st is not None:
            kids.setdefault(int(st[1]), []).append(p)
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = children_map() if kids is None else kids
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU of ``root`` and every live descendant, including the CPU of
    descendants that already exited and were reaped (it sits in their
    parent's cutime/cstime)."""
    return cpu_s(root) + sum(cpu_s(p) for p in descendants(root))


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK if len(fields) > 8 else 0.0


def spark_tree(root: int) -> dict:
    """Classify the live descendants of the driver Python process:
    the JVM, and the pyspark daemon with its workers."""
    kids = children_map()
    jvm, pyworkers = None, []
    for p in descendants(root, kids):
        cmd = _cmdline(p)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            pyworkers.append(p)
        elif jvm is None and "java" in cmd.split(" ", 1)[0]:
            jvm = p
    return {"jvm": jvm, "pyworkers": pyworkers}


def marked(token: str) -> list[int]:
    """Live processes carrying ``RUN_MARK=token``, except this one."""
    needle = f"{RUN_MARK}={token}".encode()
    me = os.getpid()
    return [p for p in pids() if p != me and needle in _environ(p)]


def reap(token: str, timeout: float = 20.0) -> list[int]:
    """SIGTERM, then SIGKILL, every process marked with ``token``; wait
    until none is left. Returns the pids still alive (normally none)."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, timeout)):
        left = marked(token)
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while left and time.monotonic() < deadline:
            time.sleep(0.1)
            left = [p for p in marked(token) if _stat(p) and _stat(p)[0] != "Z"]
        if not left:
            return []
    return left


def leftovers(sample_s: float = 0.3) -> list[dict]:
    """Processes of an earlier run still burning CPU: any process
    carrying RUN_MARK, or a Spark JVM / pyspark daemon not descended
    from this process. Each entry gives pid, command and cores used."""
    me = os.getpid()
    ours = set(descendants(me))
    prefix = f"{RUN_MARK}=".encode()
    cand = []
    for p in pids():
        if p == me or p in ours:
            continue
        cmd = _cmdline(p)
        if ("org.apache.spark" in cmd or "pyspark.daemon" in cmd
                or any(v.startswith(prefix) for v in _environ(p))):
            cand.append(p)
    before = {p: cpu_s(p, children=False) for p in cand}
    time.sleep(sample_s)
    out = []
    for p, c0 in before.items():
        used = (cpu_s(p, children=False) - c0) / sample_s
        if _stat(p) is not None:
            out.append({"pid": p, "cmd": _cmdline(p)[:120],
                        "cores": round(used, 2)})
    return out

