"""Turn a finished run into the result line, the per-layer table and a
human-readable summary.

End-to-end metrics are the same five on every workload (the result line
must carry each declared metric on each workload).  Per-layer metrics come
from a traced run: spans recorded by ``tracing`` plus the jobs read from
Spark's event log.  A layer a workload never calls reports 0.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

from .inputs import cycle_length
from .stats import covered_within, median, tail, union_length

E2E_UNITS = {
    "setup_s": "s",
    "op_gmean_ms": "ms",
    "ops_per_s": "1/s",
    "index_bytes_ratio": "ratio",
}

STAGES = ("index_base", "mention_cells", "cell_totals", "token_postings")

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.build_s": "s",
    **{f"catalog.materialize_s.{s}": "s" for s in STAGES},
    "catalog.overlap_ratio": "ratio",
    **{f"catalog.bytes.{s}": "bytes" for s in STAGES},
    "catalog.read_ms": "ms",
    "engine.init_ms": "ms",
    "engine.context_ms": "ms",
    "engine.corpus_tokens_ms": "ms",
    "engine.open_ms": "ms",
    "engine.background_jobs": "count",
    "engine.background_ms": "ms",
    "optree.parse_us": "us",
    "planner.plan_ms_p50": "ms",
    "planner.plan_ms_tail": "ms",
    "planner.plan_ms_tail_pct": "pct",
    "planner.plan_jobs": "count",
    "planner.plan_job_ms": "ms",
    "planner.plan_driver_ms": "ms",
    "cqr.exec_ms_p50": "ms",
    "cqr.exec_jobs": "count",
    "cqr.exec_tasks": "count",
    "cqr.task_ms": "ms",
    "cqr.shuffle_bytes": "bytes",
    "cqr.result_docs": "count",
    "region_query.driver_ms_p50": "ms",
    "region_query.driver_jobs": "count",
    "region_query.exec_ms_p50": "ms",
    "region_query.rows_read_per_result": "ratio",
    "knn.driver_ms_p50": "ms",
    "knn.driver_jobs": "count",
    "knn.exec_ms_p50": "ms",
    "knn.rows_read_per_result": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_records": "count",
    "trace.phase_coverage_min": "ratio",
    "trace.label_ms": "ms",
}

MIN_PHASE_COVERAGE = 0.9


def stage_of(table: str) -> str:
    """``token_postings_s2_10`` → ``token_postings``."""
    parts = table.rsplit("_", 2)
    return parts[0] if len(parts) == 3 and parts[2].isdigit() else table


def catalog_bytes(root: str) -> dict[str, int]:
    """Stored parquet bytes per stage, summed over grids."""
    out: dict[str, int] = defaultdict(int)
    for entry in os.listdir(root):
        path = os.path.join(root, entry)
        if not os.path.isdir(path):
            continue
        for dirpath, _dirs, files in os.walk(path):
            out[stage_of(entry)] += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files if f.endswith(".parquet"))
    return dict(out)


def _med(xs) -> float:
    xs = list(xs)
    return float(median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs)) / len(xs) if xs else 0.0


def _completed(ops, kind: str) -> list:
    return [op for op in ops if op.kind == kind and not op.raised]


def _label_key(group: str) -> tuple[str, str]:
    """``workload/op/phase`` → (op, phase)."""
    parts = group.split("/", 2)
    return (parts[1], parts[2]) if len(parts) == 3 else (group, "")


def _phase_interval(op, phase: str) -> tuple[float, float]:
    for name, s, e in op.phases:
        if name == phase:
            return s, e
    return 0.0, 0.0


def _spans_within(spans, op) -> float:
    return sum(max(0.0, min(s.end, op.end) - max(s.start, op.start)) for s in spans)


def e2e_metrics(run, corpus_bytes: int) -> dict[str, float]:
    """``op_gmean_ms`` is the geometric mean latency over every op of the
    run's whole shape cycles: each query shape weighs the same, so a change
    to the cheapest or the costliest shape moves it (a median of one cycle
    would rest on its two middle shapes only)."""
    done = [op for op in run.ops if not op.raised]
    busy = sum(op.latency_s for op in done)
    gmean = (math.exp(sum(math.log(op.latency_s * 1e3) for op in done) / len(done))
             if done else 0.0)
    return {
        "setup_s": run.timings["setup_s"],
        "op_gmean_ms": gmean,
        "ops_per_s": len(done) / busy if busy > 0 else 0.0,
        "index_bytes_ratio": sum(run.catalog_bytes.values()) / corpus_bytes,
    }


def layer_metrics(run, jobs) -> dict[str, float]:
    by_phase = defaultdict(list)
    for j in jobs:
        if j.group is not None:
            by_phase[_label_key(j.group)].append(j)

    def phase_jobs(op, phase):
        return by_phase.get((op.op_id, phase), [])

    # counts come from the first shape cycle, which every run completes, so
    # they repeat exactly at a fixed seed whatever the host speed
    counted = run.ops[:cycle_length(run.workload)]
    out: dict[str, float] = {"session.start_s": run.timings["session_s"],
                             "catalog.build_s": run.timings["build_s"]}

    # catalog: wrapped-call intervals of the set-up's table writes (a reopen's
    # materialize calls only find the stored table)
    writes = [s for s in run.tracer.spans_named("materialize")
              if s.end <= run.timings["build_end"]]
    per_stage = defaultdict(float)
    for s in writes:
        per_stage[stage_of(s.key)] += s.end - s.start
    ivs = [(s.start, s.end) for s in writes]
    for st in STAGES:
        out[f"catalog.materialize_s.{st}"] = per_stage.get(st, 0.0)
        out[f"catalog.bytes.{st}"] = run.catalog_bytes.get(st, 0)
    out["catalog.overlap_ratio"] = (sum(e - s for s, e in ivs) / union_length(ivs)
                                    if ivs else 0.0)

    # engine: the reopen cycles and the idle barriers
    opens = _completed(run.open_ops, "open")
    reads = run.tracer.spans_named("catalog_read")
    toks = run.tracer.spans_named("corpus_tokens")
    out["catalog.read_ms"] = _mean(_spans_within(reads, op) * 1e3 for op in opens)
    out["engine.init_ms"] = _med(op.phase_s("init") * 1e3 for op in opens)
    out["engine.context_ms"] = _med(op.phase_s("context") * 1e3 for op in opens)
    out["engine.corpus_tokens_ms"] = _mean(_spans_within(toks, op) * 1e3 for op in opens)
    out["engine.open_ms"] = _med(op.latency_s * 1e3 for op in opens)
    out["engine.background_jobs"] = sum(1 for j in jobs if j.group is None)
    out["engine.background_ms"] = _mean(w * 1e3 for w in run.idle_waits)

    # optree → planner → cqr
    trees = _completed(run.ops, "optree")
    counted_trees = [op for op in counted if op.kind == "optree" and not op.raised]
    plan_ms = [op.phase_s("plan") * 1e3 for op in trees]
    plan_job_ms = [covered_within([j.interval for j in phase_jobs(op, "plan")],
                                  *_phase_interval(op, "plan")) * 1e3 for op in trees]
    pct, tail_ms = tail(plan_ms) if plan_ms else (None, None)
    out["optree.parse_us"] = _med(op.phase_s("parse") * 1e6 for op in trees)
    out["planner.plan_ms_p50"] = _med(plan_ms)
    out["planner.plan_ms_tail"] = tail_ms or 0.0
    out["planner.plan_ms_tail_pct"] = pct or 0
    out["planner.plan_jobs"] = _mean(len(phase_jobs(op, "plan")) for op in counted_trees)
    out["planner.plan_job_ms"] = _med(plan_job_ms)
    out["planner.plan_driver_ms"] = _med(p - j for p, j in zip(plan_ms, plan_job_ms))
    out["cqr.exec_ms_p50"] = _med(op.phase_s("exec") * 1e3 for op in trees)
    for name, attr in (("exec_tasks", "tasks"), ("task_ms", "task_ms"),
                       ("shuffle_bytes", "shuffle_write_bytes")):
        out[f"cqr.{name}"] = _mean(sum(getattr(j, attr) for j in phase_jobs(op, "exec"))
                                   for op in counted_trees)
    out["cqr.exec_jobs"] = _mean(len(phase_jobs(op, "exec")) for op in counted_trees)
    out["cqr.result_docs"] = _mean(len(op.result) for op in counted_trees)

    # region_query and knn: driver call (plan + driver-side jobs), then collect
    for kind, layer in (("region", "region_query"), ("knn", "knn")):
        done = _completed(run.ops, kind)
        cnt = [op for op in counted if op.kind == kind and not op.raised]
        rows_read = sum(j.input_records for op in cnt
                        for ph in ("driver", "exec") for j in phase_jobs(op, ph))
        results = sum(len(op.result) for op in cnt)
        out[f"{layer}.driver_ms_p50"] = _med(op.phase_s("driver") * 1e3 for op in done)
        out[f"{layer}.driver_jobs"] = _mean(len(phase_jobs(op, "driver")) for op in cnt)
        out[f"{layer}.exec_ms_p50"] = _med(op.phase_s("exec") * 1e3 for op in done)
        out[f"{layer}.rows_read_per_result"] = rows_read / max(1, results)

    # spark: every job except those of ops beyond the first cycle
    uncounted = {op.op_id for op in run.ops} - {op.op_id for op in counted}
    kept = [j for j in jobs
            if j.group is None or _label_key(j.group)[0] not in uncounted]
    out["spark.jobs"] = len(kept)
    for name, attr in (("stages", "stages"), ("tasks", "tasks"), ("task_ms", "task_ms"),
                       ("gc_ms", "gc_ms"), ("shuffle_write_bytes", "shuffle_write_bytes"),
                       ("spill_bytes", "spill_bytes"), ("input_records", "input_records")):
        out[f"spark.{name}"] = sum(getattr(j, attr) for j in kept)

    # tracing itself: phases must cover each op's wall; label-call cost per op
    all_ops = [op for op in run.ops + run.open_ops if not op.raised]
    out["trace.phase_coverage_min"] = min(
        (sum(e - s for _n, s, e in op.phases) / (op.end - op.start)
         for op in all_ops if op.end > op.start), default=0.0)
    out["trace.label_ms"] = run.tracer.label_s * 1e3 / max(1, len(all_ops))
    return out


def summary_lines(run, e2e: dict, layers: dict | None) -> list[str]:
    """The per-op-type view of a run, for people reading logs."""
    lines = [f"# perfbench {run.workload} seed={run.seed} seconds={run.seconds} "
             f"trace={int(run.trace)} cores={run.cores}"]

    def row(name, value, unit, note=""):
        lines.append(f"{name:<34} {value:>14.4f} {unit:<6} {note}".rstrip())

    row("setup_s", e2e["setup_s"], "s", "session start + engine init + build + idle")
    kinds = ("optree",) if run.workload == "optree_mix" else ("region", "knn")
    for kind in kinds:
        lat = [op.latency_s * 1e3 for op in _completed(run.ops, kind)]
        if not lat:
            lines.append(f"{kind}: no completed ops")
            continue
        row(f"{kind}_p50_ms", median(lat), "ms", f"n={len(lat)}")
        pct, val = tail(lat)
        if pct is None:
            lines.append(f"{kind + '_p90_ms':<34} {'n/a':>14} ms     "
                         f"n={len(lat)}: no percentile has 10 samples beyond it")
        else:
            row(f"{kind}_p90_ms", val, "ms",
                f"reports p{pct}, n={len(lat)}" if pct != 90 else f"n={len(lat)}")
    qps_name = "optree_qps" if run.workload == "optree_mix" else "geo_qps"
    row(qps_name, e2e["ops_per_s"], "1/s", "ops / Σ latency, one client")
    row("op_gmean_ms", e2e["op_gmean_ms"], "ms", "geometric mean over all ops")
    row("build_s", run.timings["build_s"], "s",
        "create of " + " then ".join(f"{g}/{r}" for g, r in
                                     (k for k in run.contexts)))
    row("index_bytes_ratio", e2e["index_bytes_ratio"], "ratio",
        "stored catalog parquet ÷ corpus parquet")
    if run.open_ops:
        opens = [op.latency_s * 1e3 for op in _completed(run.open_ops, "open")]
        row("open_p50_ms", _med(opens), "ms", f"new Engine to first result, n={len(opens)}")
    ops = run.ops + run.open_ops
    failed = sum(1 for op in ops if op.error is not None)
    row("error_rate", failed / max(1, len(ops)), "ratio", f"{failed}/{len(ops)}")
    if run.idle_timeouts:
        lines.append(f"warning: {run.idle_timeouts} idle barrier(s) timed out")
    if layers is not None:
        lines.append("# per-layer (traced run)")
        for name, unit in PER_LAYER_UNITS.items():
            row(name, float(layers[name]), unit)
        if layers["trace.phase_coverage_min"] < MIN_PHASE_COVERAGE:
            lines.append(f"warning: phases cover only "
                         f"{layers['trace.phase_coverage_min']:.1%} of some op's wall")
    for op in ops:
        lines.append(f"op {op.op_id:<7} {op.kind:<6} "
                     + (f"{op.latency_s * 1e3:10.1f} ms " if not op.raised else "    raised    ")
                     + " ".join(f"{n}={(e - s) * 1e3:.1f}" for n, s, e in op.phases)
                     + f"  {op.payload if op.kind != 'region' else op.payload[0]!s:.80}")
        if op.error is not None:
            lines.append(f"failed {op.kind} {op.op_id} {op.payload!r:.120}: "
                         f"{op.error.strip().splitlines()[-1]}")
    return lines


def result(run, corpus_bytes: int, jobs) -> tuple[dict, list[str]]:
    """(result line object, summary lines)."""
    e2e = e2e_metrics(run, corpus_bytes)
    layers = layer_metrics(run, jobs) if jobs is not None else None
    ops = run.ops + run.open_ops
    failed = sum(1 for op in ops if op.error is not None)
    if layers is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    else:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    line = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": metrics}
    return line, summary_lines(run, e2e, layers)
