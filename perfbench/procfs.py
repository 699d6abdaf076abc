"""Process-tree CPU and memory from /proc (no psutil).

The tree is this process and every descendant: the Spark driver JVM, the
PySpark daemon and its forked Python workers.  CPU of a descendant that has
exited and been reaped shows in its parent's ``cutime``/``cstime``, so the
sum over the live tree of all four counters never loses a reaped child's
time.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open("/proc/%d/stat" % pid) as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), fields  # fields[0] is state, [1] is ppid


def tree() -> dict[int, list[str]]:
    """{pid: stat fields} for this process and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    me = os.getpid()
    out = {me: stats[me][1]} if me in stats else {}
    frontier = [me]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, fields) in stats.items():
            if ppid == parent and pid not in out:
                out[pid] = fields
                frontier.append(pid)
    return out


def cpu_seconds() -> float:
    """user+sys CPU of the live tree, reaped children included."""
    total = 0
    for fields in tree().values():
        # utime, stime, cutime, cstime are stat fields 14-17 (1-based);
        # fields here start at field 3
        total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open("/proc/%d/cmdline" % pid, "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def worker_pids() -> list[int]:
    """The PySpark daemon and the Python workers it forked."""
    return [pid for pid in tree() if "pyspark.daemon" in _cmdline(pid)]


def peak_rss_mb(pids: list[int]) -> float:
    """Largest VmHWM (peak resident set) among ``pids``, in MiB."""
    peak = 0
    for pid in pids:
        try:
            with open("/proc/%d/status" % pid) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` is alive; SIGKILL what remains after
    ``timeout`` and wait for that too.  Our own exited children are reaped."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        alive = [pid for pid in pids if (st := _stat(pid)) is not None and st[1][0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)
