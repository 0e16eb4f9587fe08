"""One benchmark run: set up Spark and the catalog, run a closed loop, check it.

A run is single-client and closed-loop: the next operation starts when the
previous one has returned its collected result.  The workload's Spark session
starts fresh (``local[nproc]``, shuffle partitions = nproc), with its catalog
root, Spark local dir and event log under the run's own scratch directory.

Order of a run:
  1. generate the seeded corpus and queries, and load the DuckDB oracle
     (untimed inputs);
  2. set-up (timed as ``setup_s``): session start, ``Engine`` init, catalog
     build of every grid the workload queries, then the idle barrier that
     waits for the engine's background jobs;
  3. the timed loop: whole passes of the workload's query-shape cycle until
     ``seconds`` have passed (at least one pass);
  4. traced optree_mix runs only: reopen cycles over the stored catalog;
  5. stop Spark, then check every result against the oracle.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
import traceback
from dataclasses import dataclass, field

from . import inputs, report
from .tracing import Tracer

WORKLOADS = {
    # workload → (grid, res) contexts its set-up builds, in build order
    "optree_mix": [("s2", 10)],
    "geo_mix": [("s2", 10)],
}
N_OPEN_CYCLES = 2
IDLE_QUIET_S = 0.25  # the tracker must stay idle this long to count as idle
IDLE_TIMEOUT_S = 60.0
DRIVER_MEMORY = "2g"
# C1 only: a run is one short JVM lifetime, and C2 would spend all of it
# compiling Catalyst on the cores the engine runs on, so op latencies would
# trace its warm-up curve, whose slope follows the host's spare CPU
DRIVER_JVM_OPTS = "-XX:TieredStopAtLevel=1"


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Op:
    kind: str  # optree | region | knn | open
    op_id: str  # job-label component, e.g. "q3"
    payload: object
    phases: list = field(default_factory=list)  # [(name, start, end)] epoch s
    result: object = None
    error: str | None = None
    raised: bool = False  # failed before returning a result

    @property
    def start(self) -> float:
        return self.phases[0][1]

    @property
    def end(self) -> float:
        return self.phases[-1][2]

    def phase_s(self, name: str) -> float:
        return sum(e - s for n, s, e in self.phases if n == name)

    @property
    def latency_s(self) -> float:
        """Call to collected result; the traced-only parse probe is excluded."""
        return self.end - min(s for n, s, _ in self.phases if n != "parse")


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 root: str, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.work = work
        self.cores = n_cores()
        self.tracer = Tracer(trace)
        self.corpus_dir = os.path.join(work, "corpus")
        self.catalog_root = os.path.join(work, "catalog")
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.ops: list[Op] = []
        self.open_ops: list[Op] = []
        self.idle_waits: list[float] = []
        self.idle_timeouts = 0
        self.timings: dict[str, float] = {}
        self.spark = None

    # -- session ---------------------------------------------------------
    def _start_session(self):
        for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_NO_PRELOAD",
                    "PYSPARK_PIN_THREAD"):
            os.environ.pop(var, None)
        # Python workers unpickle package functions: make the package importable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, os.path.join(self.work, "spark-local"), self.eventlog_dir):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {DRIVER_JVM_OPTS}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        from oscar_spatial_index_compare_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               cores=self.cores, shuffle_partitions=self.cores,
                               extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.tracer.sc = self.sc
        self._baseline_threads = {t.ident for t in threading.enumerate()}

    def _stop_session(self) -> None:
        """Stop Spark and wait for the JVM process to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    def _wait_idle(self) -> float:
        """Block until no Spark job is active and no thread the engine started
        is alive; return how long that took (the background tail)."""
        t0 = time.time()
        quiet_since = None
        while True:
            now = time.time()
            busy = bool(self.sc.statusTracker().getActiveJobsIds()) or any(
                t.ident not in self._baseline_threads and t.is_alive()
                for t in threading.enumerate())
            if busy:
                quiet_since = None
            elif quiet_since is None:
                quiet_since = now
            elif now - quiet_since >= IDLE_QUIET_S:
                break
            if now - t0 > IDLE_TIMEOUT_S:
                self.idle_timeouts += 1
                quiet_since = now
                break
            time.sleep(0.02)
        waited = quiet_since - t0
        self.idle_waits.append(waited)
        return waited

    # -- operations ------------------------------------------------------
    def _label(self, op: Op, phase: str | None) -> None:
        self.tracer.label(None if phase is None else
                          f"{self.workload}/{op.op_id}/{phase}")

    def _run_op(self, op: Op, steps) -> Op:
        """Run ``steps`` — [(phase, fn(prev) -> value)] — timing each phase;
        the last value is the op's result.  Failures are recorded, not raised."""
        value = None
        self.tracer.phase = f"{self.workload}/{op.op_id}"
        try:
            for phase, fn in steps:
                self._label(op, phase)
                t0 = time.time()
                try:
                    value = fn(value)
                finally:
                    op.phases.append((phase, t0, time.time()))
            op.result = value
        except Exception:
            op.error = traceback.format_exc(limit=3)
            op.raised = True
        return op

    def _optree_op(self, i: int, query: str) -> Op:
        from oscar_spatial_index_compare_spark.plans.optree import parse

        op = Op("optree", f"q{i}", query)
        steps = [("parse", lambda _: parse(query))] if self.trace else []
        steps += [
            ("plan", lambda _: self.engine.query_docs(query, grid="s2", res=10)),
            ("exec", lambda df: df.collect()),
        ]
        self._run_op(op, steps)
        if not op.raised:
            op.result = sorted(r[0] for r in op.result)
        return op

    def _region_op(self, i: int, name: str, poly) -> Op:
        from oscar_spatial_index_compare_spark.operators.region_query import (
            region_query_docs,
        )

        mcells = self.contexts[("s2", 10)].mcells
        op = Op("region", f"r{i}", (name, poly))
        self._run_op(op, [
            ("driver", lambda _: region_query_docs(self.spark, mcells, poly, "s2", 10)),
            ("exec", lambda df: df.collect()),
        ])
        if not op.raised:
            op.result = sorted(r[0] for r in op.result)
        return op

    def _knn_op(self, i: int, query: tuple) -> Op:
        from oscar_spatial_index_compare_spark.operators.knn import knn_docs

        mcells = self.contexts[("s2", 10)].mcells
        op = Op("knn", f"k{i}", query)
        self._run_op(op, [
            ("driver", lambda _: knn_docs(self.spark, mcells, [query], "s2", 10)),
            ("exec", lambda df: df.collect()),
        ])
        if not op.raised:
            op.result = sorted((int(r["query_id"]), int(r["doc_id"]), int(r["rank"]))
                               for r in op.result)
        return op

    def _open_op(self, i: int, query: str) -> Op:
        """New Engine over the stored catalog → context → one op-tree."""
        from oscar_spatial_index_compare_spark.engine import Engine

        op = Op("open", f"open{i}", query)
        holder = {}

        def init(_):
            holder["engine"] = Engine(self.spark, self.corpus_dir,
                                      catalog_root=self.catalog_root)

        self._run_op(op, [
            ("init", init),
            ("context", lambda _: holder["engine"].context("s2", 10)),
            ("exec", lambda _: holder["engine"].query_docs(
                query, grid="s2", res=10).collect()),
        ])
        self._label(op, None)
        if not op.raised:
            op.result = sorted(r[0] for r in op.result)
        return op

    # -- phases of a run -------------------------------------------------
    def _inputs(self):
        from oscar_spatial_index_compare_spark.sources.gazetteer import (
            VOCAB,
            gazetteer,
        )
        from .oracle import Oracle

        self.corpus_parquet = os.path.join(self.corpus_dir, "documents.parquet")
        inputs.write_corpus(self.corpus_parquet, self.seed)
        self.oracle = Oracle(self.corpus_parquet, self.cores)
        if self.workload == "optree_mix":
            self.stream = inputs.optree_stream(self.seed, VOCAB)
            self.open_queries = inputs.open_queries(self.seed, VOCAB, N_OPEN_CYCLES)
        else:
            import numpy as np

            centres = np.array([(lat, lon) for _n, lat, lon, _p in gazetteer()])
            self.stream = inputs.geo_stream(
                self.seed, self.oracle.mention_points(), centres)

    def _setup(self) -> None:
        from oscar_spatial_index_compare_spark.engine import Engine

        t0 = time.time()
        self._start_session()
        t1 = time.time()
        self.tracer.phase = f"{self.workload}/setup"
        self.tracer.label(f"{self.workload}/setup/init")
        self.engine = Engine(self.spark, self.corpus_dir,
                             catalog_root=self.catalog_root)
        t2 = time.time()
        self.tracer.label(f"{self.workload}/setup/build")
        self.contexts = {}
        for grid, res in WORKLOADS[self.workload]:
            self.contexts[(grid, res)] = self.engine.context(grid, res)
        t3 = time.time()
        self.tracer.label(None)
        # the barrier's own quiet-period check is not set-up work
        idle = self._wait_idle()
        self.timings.update(session_s=t1 - t0, build_s=t3 - t2,
                            setup_s=t3 - t0 + idle, build_end=t3)

    def _loop(self) -> None:
        """Closed loop over whole shape cycles, so every run weighs each query
        shape equally."""
        cycle = inputs.cycle_length(self.workload)
        deadline = time.time() + self.seconds
        i = 0
        while i % cycle or time.time() < deadline:
            item = next(self.stream)
            if self.workload == "optree_mix":
                op = self._optree_op(i, item)
            elif item[0] == "region":
                op = self._region_op(i, item[1], item[2])
            else:
                op = self._knn_op(i, item[1])
            self.ops.append(op)
            i += 1
        self.tracer.label(None)

    def _reopen_cycles(self) -> None:
        for i, q in enumerate(self.open_queries):
            self.open_ops.append(self._open_op(i, q))
            self._wait_idle()

    def _check(self, op: Op) -> None:
        """Compare a finished op with its oracle; a mismatch becomes its error."""
        if op.error is not None:
            return
        if op.kind in ("optree", "open"):
            want = self.oracle.optree_docs(op.payload, 10)
        elif op.kind == "region":
            want = self.oracle.region_docs(op.payload[1])
        else:
            want = self.oracle.knn_rows([op.payload])
        if op.result != want:
            op.error = (f"oracle mismatch: {len(op.result)} rows vs "
                        f"{len(want)} expected")

    def execute(self) -> tuple[dict, list[str]]:
        """Run the workload; return (result line object, summary lines)."""
        self._inputs()
        try:
            with self.tracer.wrapping():
                self._setup()
                self.catalog_bytes = report.catalog_bytes(self.catalog_root)
                self._loop()
                if self.trace and self.workload == "optree_mix":
                    self._reopen_cycles()
        finally:
            self._stop_session()
        for op in self.ops + self.open_ops:
            self._check(op)
        self.oracle.close()
        corpus_bytes = os.path.getsize(self.corpus_parquet)
        jobs = None
        if self.trace:
            from .eventlog import find_log, read_jobs

            jobs = read_jobs(find_log(self.eventlog_dir))
        return report.result(self, corpus_bytes, jobs)
