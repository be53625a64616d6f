"""Process trees from /proc: peak memory and teardown.

The tree is found by walking parent pids over every process (not threads:
``/proc/<pid>/task/<tid>/`` repeats the whole process's memory for each
thread, so summing threads overcounts by the thread count).

A tree's memory is the sum of its processes' PSS (proportional set size,
``/proc/<pid>/smaps_rollup``): a page shared by n processes counts 1/n in
each. Summed RSS counts every copy-on-write page a forked PySpark worker
shares with its daemon once per worker, so each extra worker adds those
pages again; and since Linux 6.2 VmRSS in ``/proc/<pid>/status`` is
an approximate read of per-CPU counters, while smaps_rollup walks the page
tables.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

SAMPLE_S = 0.1  # PeakPss sampling interval


def _stats() -> dict[int, tuple[str, int, int]]:
    """(state, ppid, session id) of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; the fields after the closing paren are fixed
        state, ppid, _pgrp, sid = stat[stat.rindex(")") + 2 :].split()[:4]
        out[int(name)] = (state, int(ppid), int(sid))
    return out


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in _stats().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    """PSS of one process in kB, resident plus swapped out (so that the
    host's memory pressure does not move it); 0 once it has ended."""
    kb = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith(("Pss:", "SwapPss:")):
                    kb += int(line.split()[1])
    except OSError:
        pass
    return kb


class PeakPss:
    """Sample the summed PSS of ``pid``'s tree every ``SAMPLE_S`` seconds on
    a background thread; ``stop`` ends sampling and returns the largest sum
    in MB."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, sum(pss_kb(p) for p in tree(self.pid)))
            if self._stop.wait(SAMPLE_S):
                return

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def session(sid: int) -> list[int]:
    """Live members of session ``sid``; zombies that another parent must
    reap count as ended."""
    return [pid for pid, (state, _, s) in _stats().items() if s == sid and state != "Z"]


def stop(proc: subprocess.Popen, timeout: float = 30.0) -> None:
    """Kill ``proc``, its descendants and anything left in its session (it
    was started with ``start_new_session``), and wait until all have ended."""
    deadline = time.time() + timeout
    while True:
        alive = set(session(proc.pid))
        if proc.poll() is None:
            alive.update(tree(proc.pid))
        if not alive or time.time() > deadline:
            break
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    proc.wait()
