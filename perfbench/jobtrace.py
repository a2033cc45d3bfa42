"""Spark job accounting and layer spans for the benchmark.

Jobs are found by job-id watermark: the highest job id the status tracker
knows before a call, and every id above it after. This catches jobs that
the program submits from its own thread pools, which a job group set on
the calling thread does not. Stage metrics (executor CPU, shuffle write,
spill) come from the status store, which works with the Spark UI off; it
keeps only the last 1000 jobs and stages, so callers read it right after
each call.

Inside one ``diff_frames`` call the phases run concurrently, so a
watermark cannot split them; ``diff_phases`` classifies each job by the
physical plan of its SQL execution instead: a top-N is the changed-key
sample, a full outer join is the row diff, anything else (row counts and
column profiles) is the profile phase. ``install_spans`` times the
``diff_frames`` and snapshot calls themselves.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@dataclass
class Usage:
    """Resources of a set of Spark jobs."""

    jobs: int = 0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "Usage") -> None:
        self.jobs += other.jobs
        self.cpu_s += other.cpu_s
        self.shuffle_write_mb += other.shuffle_write_mb
        self.spill_mb += other.spill_mb


class Store:
    """Read-only view of one SparkSession's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._all_statuses = spark._jvm.java.util.ArrayList()

    def settle(self) -> None:
        """Wait until every listener event so far reached the stores."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _job_ids(self):
        """Ids of every retained job, newest first, in any job group."""
        jobs = self.conv.asJava(self.store.jobsList(self._all_statuses))
        for i in range(jobs.size()):
            yield jobs.get(i).jobId()

    def watermark(self) -> int:
        self.settle()
        return next(self._job_ids(), -1)

    def jobs_after(self, mark: int) -> list[int]:
        self.settle()
        out = []
        for j in self._job_ids():
            if j <= mark:
                break
            out.append(j)
        return sorted(out)

    def usage(self, job_ids, seen_stages: set[int] | None = None) -> Usage:
        """Sum stage metrics over ``job_ids``; a stage shared by several
        jobs (a reused shuffle) counts once."""
        seen = set() if seen_stages is None else seen_stages
        u = Usage(jobs=len(job_ids))
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped) or evicted
                    continue
                u.cpu_s += st.executorCpuTime() / 1e9
                u.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
                u.spill_mb += st.diskBytesSpilled() / 1e6
        return u

    def executions_after(self, first_job: int) -> dict[int, tuple[str, float, float]]:
        """Map job id -> (physical plan, start s, end s) of its SQL
        execution, for executions that ran jobs numbered ``first_job`` or
        higher."""
        out = {}
        n = self.sql_store.executionsCount()
        recent = self.sql_store.executionsList(max(0, n - 300), 300)
        for e in self.conv.asJava(recent):
            jobs = [j for j in self.conv.asJava(e.jobs()).keySet() if j >= first_job]
            if not jobs:
                continue
            end = e.completionTime()
            span = (
                e.physicalPlanDescription(),
                e.submissionTime() / 1000.0,
                end.get().getTime() / 1000.0 if end.isDefined() else time.time(),
            )
            for j in jobs:
                out[j] = span
        return out

    def cached_mb(self) -> float:
        return sum(
            (r.memSize() + r.diskSize()) / 1e6 for r in self.jsc.getRDDStorageInfo()
        )


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, op)."""

    spans: list[dict] = field(default_factory=list)
    ops: list[dict] = field(default_factory=list)  # per-op layer values
    op: int = 0
    _open: list[str] = field(default_factory=list)  # names of open spans

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "op": self.op,
        }
        self._open.append(name)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def seconds(self, name: str, op: int) -> float:
        """Wall time covered by op ``op``'s spans called ``name``."""
        return union_seconds(
            (s["start"], s["end"]) for s in self.spans if s["name"] == name and s["op"] == op
        )


def install_spans(tracer: Tracer):
    """Time each ``diff_frames`` call (span ``diff``) and each snapshot
    call (span ``snapshots``); returns a function that undoes it."""
    from dbt_model_diff_spark import snapshots
    from dbt_model_diff_spark.operators import diff, model_diff

    saved = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def spanned(name):
        def make(fn):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        return make

    patch(snapshots.SnapshotManager, "snapshot", spanned("snapshots"))
    traced_diff = spanned("diff")(diff.diff_frames)
    patch(diff, "diff_frames", lambda _: traced_diff)
    patch(model_diff, "diff_frames", lambda _: traced_diff)

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


DIFF_PHASES = ("profile", "rowdiff", "sample")


def diff_phases(store: Store, job_ids: list[int]) -> tuple[dict[str, dict], int]:
    """Split the jobs of one ``diff_frames`` call into its phases.

    Returns ``({phase: {"usage": Usage, "s": busy seconds}}, unplanned)``,
    where busy seconds is the union of the phase's SQL execution intervals
    and ``unplanned`` counts jobs whose SQL execution the store no longer
    (or never) held, which were classified blind.
    """
    by_phase: dict[str, list[int]] = {p: [] for p in DIFF_PHASES}
    spans: dict[str, list] = {p: [] for p in DIFF_PHASES}
    execs = store.executions_after(job_ids[0]) if job_ids else {}
    unplanned = 0
    for jid in job_ids:
        if jid not in execs:
            unplanned += 1
        plan, start, end = execs.get(jid, ("", None, None))
        if "TakeOrderedAndProject" in plan or "CollectLimit" in plan:
            phase = "sample"
        elif "FullOuter" in plan:
            phase = "rowdiff"
        else:
            phase = "profile"
        by_phase[phase].append(jid)
        if start is not None:
            spans[phase].append((start, end))
    seen: set[int] = set()
    phases = {
        p: {"usage": store.usage(by_phase[p], seen), "s": union_seconds(set(spans[p]))}
        for p in DIFF_PHASES
    }
    return phases, unplanned
