"""A fixed reference job that gauges how fast the host is at the moment.

The benchmark runs on a few vCPUs of a shared host whose speed drifts by
2-3x within minutes (CPU steal, and contention that slows even the CPU
time of a thread). Wall and CPU seconds of an op follow that drift, so
they are reported relative to this reference: a hash join and aggregate
over an in-memory table in DuckDB (4 threads, in this process), a job
that owes nothing to the program under test. The op loop runs it before
the first op and after each, once the JVM is idle, and divides each op by
the mean of the references on either side of it; set-up is divided by the
median of runs before and after set-up.

A reported time is ``measured / reference * REF_WALL_S`` (CPU time:
``REF_CPU_S``), that is, the seconds the op would take on a host where the
reference takes ``REF_WALL_S`` of wall and ``REF_CPU_S`` of CPU time, about
its median on a 4-vCPU Sapphire Rapids VM. Raw seconds and every reference
time go to the ``perfbench-info`` line.
"""

from __future__ import annotations

import os
import resource
import time

import duckdb

REF_WALL_S = 0.15
REF_CPU_S = 0.5
ROWS = 2_000_000
QUERY = """
SELECT a.g, count(*), sum(a.v - b.v), min(b.s)
FROM ref a JOIN ref b ON a.k = b.k
GROUP BY a.g
"""


def wait_idle(pid: int, timeout: float = 2.0) -> None:
    """Wait until process ``pid`` (the Spark JVM) used under a fifth of a
    core over 50 ms, or ``timeout`` passed: after an op its GC, JIT and
    clean-up threads run on, and the reference would share the CPUs."""
    tick = os.sysconf("SC_CLK_TCK")

    def ticks() -> int:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime + stime

    end = time.perf_counter() + timeout
    last = ticks()
    while time.perf_counter() < end:
        time.sleep(0.05)
        now = ticks()
        if (now - last) / tick < 0.01:
            return
        last = now


def _cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


class Reference:
    def __init__(self, tmpdir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(f"SET temp_directory = '{tmpdir}'")
        self.con.execute(
            "CREATE TABLE ref AS SELECT i AS k, hash(i) % 1000 AS g, i * 1.5 AS v, "
            f"substr(md5(i::VARCHAR), 1, 12) AS s FROM range({ROWS}) r(i)"
        )
        self.walls: list[float] = []

    def run(self) -> tuple[float, float]:
        """Run the reference once: (wall s, CPU s of this process)."""
        c, t = _cpu_s(), time.perf_counter()
        rows = self.con.execute(QUERY).fetchall()
        wall, cpu = time.perf_counter() - t, _cpu_s() - c
        if len(rows) != 1000 or sum(r[1] for r in rows) != ROWS:
            raise RuntimeError("the reference query returned a wrong result")
        self.walls.append(wall)
        return wall, cpu

    def close(self) -> None:
        self.con.close()
