"""The traced run: per-layer metrics.

Layer names are the program's modules. After the warm-up ops, an
untraced, a traced and another untraced op of the diff workload run; the
traced op is split into its phases by ``jobtrace.diff_phases``. Layer calls then run
once each on the op's inputs:
building base and head through ``ModelRegistry`` (registry), freezing
them with ``SnapshotManager`` and materializing what it persists
(snapshots), a fingerprint-only scan with ``row_hash_expr`` (hashing), a
count of ``row_diff_frame``'s join output (join amplification) and the
result formatters. Last, each of the 44 headliners is timed once, so
that every layer is measured in every traced run.
"""

from __future__ import annotations

import json
import statistics
import time
import traceback

import jobtrace
import workloads
from jobtrace import log

_PHASE_METRICS = {
    "profile": ("s", "jobs", "cpu_s", "shuffle_write_mb", "spill_mb"),
    "rowdiff": ("s", "jobs", "cpu_s", "shuffle_write_mb", "spill_mb"),
    "sample": ("s", "jobs"),
}
_UNITS = {"s": "s", "jobs": "count", "cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB"}


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [
        ("session.start_s", "s"),
        ("session.peak_rss_mb", "MB"),
        ("registry.build_s", "s"),
        ("registry.jobs", "count"),
        ("snapshots.s", "s"),
        ("snapshots.jobs", "count"),
        ("snapshots.cached_mb", "MB"),
    ]
    for phase, fields in _PHASE_METRICS.items():
        out += [(f"{phase}.{f}", _UNITS[f]) for f in fields]
        if phase == "profile":
            out += [("hashing.s", "s"), ("hashing.cpu_s", "s")]
        if phase == "rowdiff":
            out.append(("rowdiff.join_amplification", "ratio"))
    out += [
        ("formatters.render_ms", "ms"),
        ("diff.jobs", "count"),
        ("diff.overlap_s", "s"),
    ]
    for q in workloads.headliners():
        out += [(f"catalog.{q}.s", "s"), (f"catalog.{q}.jobs", "count")]
    out += [
        ("catalog.cpu_s", "s"),
        ("catalog.shuffle_write_mb", "MB"),
        ("trace.overhead_s", "s"),
    ]
    return out


def write_spans(run, tracer: jobtrace.Tracer) -> None:
    out = run.work.parent / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{run.args.workload}-seed{run.args.seed}.json"
    path.write_text(json.dumps({"spans": tracer.spans, "ops": tracer.ops}, indent=1))
    run.info["spans"] = f".perfbench/traces/{path.name}"


def _traced_op(run, tracer: jobtrace.Tracer) -> tuple[dict, dict, dict, int]:
    """One traced op: (per-layer values, result, phases, jobs classified
    without their plan)."""
    tracer.op += 1
    op = tracer.op
    uninstall = jobtrace.install_spans(tracer)
    try:
        dt, res, jobs = run.op()
    finally:
        uninstall()
    phases, unplanned = jobtrace.diff_phases(run.store, jobs)
    v = {"wall_s": dt}
    for phase, fields in _PHASE_METRICS.items():
        u = phases[phase]["usage"]
        for f in fields:
            v[f"{phase}.{f}"] = phases[phase]["s"] if f == "s" else getattr(u, f)
    v["diff.jobs"] = len(jobs)
    busy = tracer.seconds("snapshots", op) + sum(p["s"] for p in phases.values())
    v["diff.overlap_s"] = busy - tracer.seconds("diff", op)
    return v, res, phases, unplanned


def trace_diff(run, tracer: jobtrace.Tracer) -> dict:
    from dbt_model_diff_spark.config import DiffConfig
    from dbt_model_diff_spark.formatters import render_json, render_markdown, render_text
    from dbt_model_diff_spark.functions.hashing import row_hash_expr
    from dbt_model_diff_spark.operators.diff import row_diff_frame
    from dbt_model_diff_spark.snapshots import SnapshotManager

    # untraced, traced, untraced: the mean of the two untraced ops takes
    # the JVM's warming out of the tracing overhead
    before, _, jobs = run.op()
    v, result, phases, unplanned = _traced_op(run, tracer)
    after, _, _ = run.op()
    tracer.ops.append(v)
    run.info["untraced_op_jobs"] = len(jobs)
    # tracing adds no job and loses none, every job was classified by its
    # plan, and each phase ran
    empty = [p for p, ph in phases.items() if not ph["usage"].jobs]
    if v["diff.jobs"] != len(jobs) or unplanned or empty:
        run.correct = False
        log(f"traced op ran {v['diff.jobs']} jobs, untraced op {len(jobs)}; "
            f"{unplanned} without a plan; phases without jobs: {empty}")
    values = {k: x for k, x in v.items() if k != "wall_s"}
    values["trace.overhead_s"] = v["wall_s"] - (before + after) / 2

    cfg = DiffConfig()
    keys, where = run.wl.keys, run.wl.where
    tracer.op += 1  # the single layer calls below share one op id
    with tracer.span("registry"):
        dt, sides, jobs, _ = run.timed(lambda: run.wl.sides(run.spark))
    values["registry.build_s"] = dt
    values["registry.jobs"] = len(jobs)

    # persist() is lazy: count what the snapshot manager froze, so that
    # building the cache is charged here rather than to a later scan
    snap = SnapshotManager(cfg)

    def freeze():
        out = []
        for name, df in zip(("base", "head"), sides):
            frozen = snap.snapshot(df, name, bucket_cols=keys)
            if frozen.is_cached:
                frozen.count()
            out.append(frozen)
        return out

    cached_before = run.store.cached_mb()
    with tracer.span("snapshots"):
        dt, frozen, jobs, _ = run.timed(freeze)
    values["snapshots.s"] = dt
    values["snapshots.jobs"] = len(jobs)
    values["snapshots.cached_mb"] = run.store.cached_mb() - cached_before
    base, head = (f.filter(where) for f in frozen) if where else frozen

    non_key = [c for c in head.columns if c in base.columns and c not in keys]
    dtypes = {f.name: f.dataType for f in base.schema.fields}
    fingerprint = base.select(
        *keys,
        row_hash_expr(non_key, cfg.hash_algo, cfg.null_sentinel, cfg.hash_separator,
                      dtypes=dtypes).alias("fp"),
    )
    with tracer.span("hashing"):
        dt, _, jobs, _ = run.timed(lambda: fingerprint.write.format("noop").mode("overwrite").save())
    values["hashing.s"] = dt
    values["hashing.cpu_s"] = run.store.usage(jobs).cpu_s
    with tracer.span("rowdiff.join"):
        n_join = row_diff_frame(base, head, keys, non_key, cfg).count()
    snap.cleanup()
    exp = run.wl.expected
    if n_join != exp["row_diff"]["added"] + exp["row_diff"]["removed"] + exp["matched_pairs"]:
        run.correct = False
        log(f"row_diff_frame emitted {n_join} rows; the DuckDB join disagrees")
    values["rowdiff.join_amplification"] = n_join / (
        exp["rowcounts"]["base"] + exp["rowcounts"]["head"]
    )

    renders = []
    for _ in range(5):
        t = time.perf_counter()
        render_text(result), render_markdown(result), render_json(result)
        renders.append(time.perf_counter() - t)
    values["formatters.render_ms"] = statistics.median(renders) * 1000.0
    run.info["join_rows"] = n_join
    return values


def trace_catalog(run, tracer: jobtrace.Tracer) -> dict:
    """Each headliner once, on the sf0.001 tables, checked against its
    oracle outside the timed region."""
    cat = workloads.Catalog()
    cat.expect()
    values: dict = {}
    total = jobtrace.Usage()
    seen: set[int] = set()
    t0 = time.perf_counter()
    try:
        for q in workloads.headliners():
            tracer.op += 1
            with tracer.span(f"catalog.{q}"):
                dt, out, jobs, err = run.timed(lambda q=q: cat.query(run.spark, q))
            run.attempted += 1
            try:
                ok = not err and cat.check(q, out)
            except Exception:  # the oracle itself failed
                traceback.print_exc()
                ok = False
            if not ok:
                run.failed += 1
                log(f"headliner {q} raised or differs from its oracle")
            values[f"catalog.{q}.s"] = dt
            values[f"catalog.{q}.jobs"] = len(jobs)
            total.add(run.store.usage(jobs, seen))
    finally:
        cat.close()
    values["catalog.cpu_s"] = total.cpu_s
    values["catalog.shuffle_write_mb"] = total.shuffle_write_mb
    run.info["catalog_s"] = round(time.perf_counter() - t0, 1)
    return values
