"""Per-layer arithmetic on a hand-built run: interval subtraction for the
plan phase, first-cycle counts and catalog overlap."""
import pytest

from perfbench.eventlog import Job
from perfbench.harness import Op
from perfbench.inputs import cycle_length
from perfbench.report import PER_LAYER_UNITS, e2e_metrics, layer_metrics, stage_of
from perfbench.tracing import Tracer


class _Run:
    workload = "optree_mix"

    def __init__(self):
        self.tracer = Tracer(enabled=True)
        self.timings = {"session_s": 5.0, "build_s": 10.0, "setup_s": 20.0,
                        "build_end": 50.0}
        self.catalog_bytes = {"index_base": 300, "token_postings": 700}
        self.idle_waits = [0.5, 1.5]
        self.open_ops = []
        self.ops = []
        n = cycle_length(self.workload)
        for i in range(n + 1):  # one op beyond the first cycle
            t = 100.0 + 10 * i
            self.ops.append(Op("optree", f"q{i}", "a / b",
                               phases=[("plan", t, t + 2.0), ("exec", t + 2.0, t + 2.5)],
                               result=[1, 2, 3]))


def _job(jid, group, start, end, **kw):
    return Job(jid, group, int(start * 1000), int(end * 1000), **kw)


def test_plan_phase_split_and_first_cycle_counts():
    run = _Run()
    jobs = []
    for i, op in enumerate(run.ops):
        t = op.phases[0][1]
        # two overlapping plan jobs covering 0.5 s, one exec job with 4 tasks
        jobs += [_job(3 * i, f"optree_mix/{op.op_id}/plan", t + 0.2, t + 0.6),
                 _job(3 * i + 1, f"optree_mix/{op.op_id}/plan", t + 0.5, t + 0.7),
                 _job(3 * i + 2, f"optree_mix/{op.op_id}/exec", t + 2.0, t + 2.4,
                      tasks=4, input_records=10)]
    jobs.append(_job(999, None, 90.0, 91.0))  # background
    run.tracer.record("materialize", "index_base_s2_10", 0.0, 4.0)
    run.tracer.record("materialize", "token_postings_s2_10", 2.0, 6.0)
    run.tracer.record("materialize", "token_postings_s2_10", 60.0, 61.0)  # a reopen
    out = layer_metrics(run, jobs)
    assert set(out) == set(PER_LAYER_UNITS)
    assert out["planner.plan_ms_p50"] == pytest.approx(2000.0)
    assert out["planner.plan_job_ms"] == pytest.approx(500.0, abs=1.0)
    assert out["planner.plan_driver_ms"] == pytest.approx(1500.0, abs=1.0)
    assert out["planner.plan_jobs"] == 2
    assert out["cqr.exec_tasks"] == 4 and out["cqr.result_docs"] == 3
    # the op beyond the first cycle is left out of the Spark totals
    assert out["spark.jobs"] == 3 * cycle_length("optree_mix") + 1
    assert out["engine.background_jobs"] == 1
    assert out["engine.background_ms"] == pytest.approx(1000.0)
    assert out["catalog.materialize_s.index_base"] == pytest.approx(4.0)
    assert out["catalog.overlap_ratio"] == pytest.approx(8.0 / 6.0)
    assert out["catalog.bytes.token_postings"] == 700
    assert out["trace.phase_coverage_min"] == pytest.approx(1.0)


def test_e2e_metrics():
    run = _Run()
    out = e2e_metrics(run, corpus_bytes=100)
    assert out["op_gmean_ms"] == pytest.approx(2500.0)
    assert out["ops_per_s"] == pytest.approx(0.4)
    assert out["index_bytes_ratio"] == pytest.approx(10.0)
    assert out["setup_s"] == 20.0


def test_stage_of():
    assert stage_of("token_postings_s2_10") == "token_postings"
    assert stage_of("index_base_h3_6") == "index_base"
    assert stage_of("snapshots") == "snapshots"
