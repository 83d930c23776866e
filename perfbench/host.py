"""Host-noise record taken at the start and at the end of every run.

It is reported beside the metrics and never used to rescale them.
"""

from __future__ import annotations

import os
import time

import duckdb

#: An anchor drift beyond this share labels the run ``contended``.
ANCHOR_DRIFT = 0.25
_BUSY_SHARE = 0.2  # a foreign process using this much of one CPU is busy
_ANCHOR_SQL = "SELECT sum((i * 7919) % 104729) FROM range(8000000) t(i)"


def _cpu_ticks() -> dict[int, tuple[int, int, str]]:
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1: stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[1] is the parent pid; fields[11:13] are utime and stime
        out[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]), comm)
    return out


def _descendants(procs: dict, root: int) -> set[int]:
    mine, grew = {root}, True
    while grew:
        grew = False
        for pid, (ppid, _, _) in procs.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine


def busy_foreign(window_s: float = 0.3) -> list[dict]:
    """Processes outside this run's process tree that used more than
    ``_BUSY_SHARE`` of a CPU over a short window."""
    before = _cpu_ticks()
    time.sleep(window_s)
    after = _cpu_ticks()
    hz = os.sysconf("SC_CLK_TCK")
    mine = _descendants(after, os.getpid())
    busy = []
    for pid, (_, ticks, comm) in after.items():
        if pid in mine or pid not in before:
            continue
        share = (ticks - before[pid][1]) / hz / window_s
        if share > _BUSY_SHARE:
            busy.append({"pid": pid, "comm": comm, "cpu": round(share, 2)})
    return busy


def anchor_s(repeats: int = 3) -> float:
    """Fastest of a few timings of a fixed single-threaded DuckDB query."""
    con = duckdb.connect()
    con.execute("SET threads = 1")
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        con.execute(_ANCHOR_SQL).fetchall()
        best = min(best, time.perf_counter() - t0)
    con.close()
    return best


def snapshot() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "busy_foreign": busy_foreign(),
        "anchor_s": anchor_s(),
    }


def contended(start: dict, end: dict) -> bool:
    return abs(end["anchor_s"] / start["anchor_s"] - 1.0) > ANCHOR_DRIFT
