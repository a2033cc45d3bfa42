#!/usr/bin/env python3
"""Closed-loop benchmark of dbt_model_diff_spark's public entry points.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload flagship_sf0.1 --seed 1 --seconds 20 --trace 0

One client runs one operation at a time on ``local[4]``:

- ``flagship_sf0.1``: ``diff_frames`` on two variants of the sf0.1
  ``orders`` table (unique keys);
- ``model_diff_lines``: ``run_model_diff`` of a 17-column line-level model
  over the sf0.01 tables, whose key repeats about four times per order.

The tables are fixed copies of the project's test data in ``data/``;
``--seed`` picks which key residues each side drops or mutates. Scratch
files go under ``.perfbench/`` in the checkout and are deleted at exit.
Every op's result is checked against DuckDB.

``--trace 0`` times ops untraced and prints the end-to-end metrics. The
host's speed drifts, so times are reported relative to a fixed DuckDB
reference job run between the ops (``reference.py``).
``--trace 1`` runs an untraced, a traced and an untraced op, attributes
every Spark job of the traced op to a layer (``jobtrace.py``, ``layers.py``),
times the 44 headliners of ``headliners.json`` once each, checks them
against ``catalog.ORACLES`` and prints the per-layer metrics. Spans go
to ``.perfbench/traces/``.

The last line of stdout is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

from jobtrace import Store, log
from reference import REF_CPU_S, REF_WALL_S, Reference, wait_idle

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
# the driver heap; the program's default (8g) is larger than the
# benchmark's inputs need
HEAP = "2g"
# reference runs before and after set-up, for the host's speed during it
SETUP_REFS = 3


def percentile_tail(samples: list[float]) -> tuple[int, float]:
    """The highest percentile with at least ten samples beyond it, never
    below the median; returns (percentile, value)."""
    n = len(samples)
    pct = max(50, math.floor(100 * (n - 10) / n)) if n > 10 else 50
    if pct == 50:
        return 50, statistics.median(samples)
    return pct, statistics.quantiles(samples, n=100, method="inclusive")[pct - 1]


def peak_rss_mb(spark) -> float:
    """High-water RSS of the Spark JVM plus this Python driver."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far, from /proc/stat.
    Stolen ticks are time the hypervisor ran other guests on our CPUs;
    wall times rise with their share."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def start_spark(work: Path):
    from dbt_model_diff_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """One benchmark run: set-up, the op loop, and its metrics."""

    def __init__(self, args, work: Path):
        import workloads

        self.args = args
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload](args.seed)
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.info: dict = {"workload": args.workload, "seed": args.seed}

    def setup(self) -> None:
        """Session start, input preparation (reading the tables into the
        op's frames and the DuckDB expectations) and warm-up ops, which are
        checked but not timed. The reference runs a few times before and
        after, to gauge the host during set-up."""
        self.ref = Reference(str(self.work / "tmp"))
        refs = [self.ref.run()[0] for _ in range(SETUP_REFS)]
        t = time.perf_counter()
        self.spark = start_spark(self.work)
        self.session_s = time.perf_counter() - t
        self.store = Store(self.spark)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

        t = time.perf_counter()
        self.wl.build(self.spark)
        self.wl.expect()
        prep_s = time.perf_counter() - t

        t = time.perf_counter()
        for _ in range(self.wl.warmup_ops):
            if not self.wl.check(self.wl.op(self.spark)):
                self.correct = False
                log("warm-up op returned a wrong result")
        warm_s = time.perf_counter() - t
        self.setup_s = self.session_s + prep_s + warm_s
        wait_idle(self.jvm_pid)
        refs += [self.ref.run()[0] for _ in range(SETUP_REFS)]
        self.setup_ref_s = statistics.median(refs)
        self.info.update(
            session_s=round(self.session_s, 3),
            prep_s=round(prep_s, 3),
            warmup_s=round(warm_s, 3),
        )

    def timed(self, fn):
        """Run ``fn`` once: (seconds, result, job ids, raised). The status
        store is read outside the timed region."""
        mark = self.store.watermark()
        t = time.perf_counter()
        try:
            res, err = fn(), False
        except Exception:
            traceback.print_exc()
            res, err = None, True
        dt = time.perf_counter() - t
        return dt, res, self.store.jobs_after(mark), err

    def op(self):
        """One timed, checked op of the workload."""
        dt, res, jobs, err = self.timed(lambda: self.wl.op(self.spark))
        self.attempted += 1
        if err or not self.wl.check(res):
            self.failed += 1
            log("op returned a wrong result" if not err else "op raised")
        return dt, res, jobs

    def measure(self) -> dict:
        """Ops until ``--seconds`` have passed. Before the first op and
        after each, once the JVM is idle, the reference runs; each op is
        reported relative to the references on either side of it, which
        follows the host's speed at the op's time scale (``reference.py``).

        The JVM keeps warming for dozens of ops, so a fast host that fits
        more ops in the run would report a later, faster stretch of it.
        The metrics therefore take the first ``window_ops`` timed ops of
        every run, whatever the host's speed; the run goes on to
        ``--seconds``, with every op checked."""
        walls, cpus, wall_x, cpu_x, refs = [], [], [], [], []
        stolen0, total0 = cpu_ticks()
        deadline = time.perf_counter() + self.args.seconds
        prev = self.refs()
        n = self.wl.window_ops
        while len(walls) < n or time.perf_counter() < deadline:
            dt, _, jobs = self.op()
            cpu = self.store.usage(jobs).cpu_s
            self.info["op_jobs"] = len(jobs)
            wait_idle(self.jvm_pid)
            nxt = self.refs()
            walls.append(dt)
            cpus.append(cpu)
            wall_x.append(2 * dt / (prev[0] + nxt[0]))
            cpu_x.append(2 * cpu / (prev[1] + nxt[1]))
            refs.append(nxt)
            prev = nxt
        stolen1, total1 = cpu_ticks()
        pct, tail = percentile_tail(wall_x[:n])
        self.info.update(
            ops=len(walls), window_ops=n, tail_percentile=pct,
            raw_wall_s=[round(x, 3) for x in walls],
            raw_cpu_s=[round(x, 3) for x in cpus],
            raw_setup_s=round(self.setup_s, 3),
            ref_wall_s=[round(r[0], 3) for r in refs],
            ref_cpu_s=[round(r[1], 3) for r in refs],
            setup_ref_s=round(self.setup_ref_s, 3),
            steal_pct=round(100.0 * (stolen1 - stolen0) / max(1, total1 - total0), 1),
        )
        return {
            "wall_s_p50": (statistics.median(wall_x[:n]) * REF_WALL_S, "s"),
            "wall_s_tail": (tail * REF_WALL_S, "s"),
            "cpu_s": (statistics.median(cpu_x[:n]) * REF_CPU_S, "s"),
            "setup_s": (self.setup_s / self.setup_ref_s * REF_WALL_S, "s"),
            "ok_ops_frac": ((self.attempted - self.failed) / self.attempted, "ratio"),
        }

    def refs(self) -> tuple[float, float]:
        """The workload's reference runs between two ops: median (wall s,
        CPU s)."""
        got = [self.ref.run() for _ in range(self.wl.refs_per_op)]
        return statistics.median(r[0] for r in got), statistics.median(r[1] for r in got)

    def measure_traced(self) -> dict:
        import layers
        from jobtrace import Tracer

        tracer = Tracer()
        values = layers.trace_diff(self, tracer)
        # before the headliners, so that it is this workload's high water;
        # G1's heap sizing makes it bimodal across runs (about 1.6 or 2.1 GB
        # on a 2 GB heap), too wide for an end-to-end bound
        values["session.peak_rss_mb"] = peak_rss_mb(self.spark)
        values.update(layers.trace_catalog(self, tracer))
        values["session.start_s"] = self.session_s
        layers.write_spans(self, tracer)
        return {name: (float(values[name]), unit) for name, unit in layers.per_layer_metrics()}


def main() -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "dbt_model_diff_spark" / "__init__.py").is_file():
        log(f"no dbt_model_diff_spark package in {ROOT}; run from a checkout of the repository")
        return 2

    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Spark's Python workers import the program too (pandas UDFs), and
    # every scratch file stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))

    run = Run(args, work)
    try:
        run.setup()
        metrics = run.measure_traced() if args.trace else run.measure()
    finally:
        if hasattr(run, "spark"):
            stop_spark(run.spark)
        if hasattr(run, "ref"):
            run.ref.close()
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench-info " + json.dumps(run.info, default=str))
    print(json.dumps({
        "correct": run.correct and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
