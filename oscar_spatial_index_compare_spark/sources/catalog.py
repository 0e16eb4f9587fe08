"""Table catalog with snapshot lineage + resumable checkpoints (SURVEY S3,
M8; north_rule: "resumable from checkpoint with per-partition lineage +
metrics logged per snapshot").

Reference analog: ``osi-compare-create`` serializes the index to
``outdir/index`` + ``outdir/search`` and re-opens them read-only
(``apps/mainc.cpp:84-125``, ``src/static-htm-index.cpp:202-207``).  Here a
"serialized index" is a parquet table directory plus a JSON snapshot log:

  snapshots.json: [{snapshot_id, table, stage, inputs (lineage),
                    n_rows, n_files, bytes, wall_sec}]

Resume semantics: ``materialize`` is a no-op returning the stored table when
a snapshot for (table, fingerprint) already exists — a pipeline re-run after
a crash skips every completed stage (checkpoint gating).  The fingerprint
covers the table format version + stage name + input lineage + params, so
changed inputs re-materialize, and a root written by code with another
table format rebuilds instead of being silently reused.
Every ``Engine`` builds its index tables through this one path.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession

# version of the stored table formats: bump it whenever a build writes
# different rows, columns or layout for the same inputs, so every
# fingerprint changes and existing catalog roots rebuild
FORMAT_VERSION = 1


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.log_path = os.path.join(root, "snapshots.json")
        # materialize() may be called from concurrent build threads (the
        # driver submits independent table writes in parallel to fill the
        # cluster through stage tails); the log append is read-modify-write
        self._log_lock = threading.Lock()

    # -- snapshot log --------------------------------------------------------
    def _log(self) -> list[dict]:
        if os.path.exists(self.log_path):
            with open(self.log_path) as f:
                return json.load(f)
        return []

    def _append(self, entry: dict) -> None:
        with self._log_lock:
            log = self._log()
            log.append(entry)
            tmp = self.log_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(log, f, indent=1)
            os.replace(tmp, self.log_path)

    def snapshots(self, table: str | None = None) -> list[dict]:
        return [s for s in self._log() if table is None or s["table"] == table]

    @staticmethod
    def fingerprint(stage: str, inputs: list[str], params: dict | None = None) -> str:
        payload = json.dumps({"format": FORMAT_VERSION, "stage": stage,
                              "inputs": sorted(inputs),
                              "params": params or {}}, sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def has(self, table: str, fp: str) -> bool:
        return any(s["table"] == table and s["fingerprint"] == fp for s in self._log())

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # -- materialize (checkpoint-gated write) ---------------------------------
    def materialize(
        self,
        df,  # DataFrame | Callable[[], DataFrame] (thunk: built only on write)
        table: str,
        stage: str,
        inputs: list[str],
        sort_within: list[str] | None = None,
        params: dict | None = None,
    ) -> DataFrame:
        """Write ``df`` as a snapshot of ``table`` unless an identical
        (stage, lineage, params) snapshot already exists; return the stored
        table either way.  ``sort_within`` pre-sorts partitions (postings
        sorted by cell_id → parquet min/max stats prune range queries).

        ``df`` may be a zero-arg callable returning the DataFrame: it is
        invoked only when a build is actually needed, so plan constructions
        that run eager Spark actions (the token build's vocab/collision
        audit) cost nothing on the checkpoint-gated resume path."""
        fp = self.fingerprint(stage, inputs, params)
        if self.has(table, fp):
            return self.read(table)
        t0 = time.perf_counter()
        out = df() if callable(df) else df
        if sort_within:
            out = out.sortWithinPartitions(*sort_within)
        out.write.mode("overwrite").parquet(self.path(table))
        wall = time.perf_counter() - t0
        stored = self.read(table)
        n_rows = stored.count()
        n_files, nbytes = self._file_stats(table)
        self._append({
            "snapshot_id": f"{table}-{len(self.snapshots(table))}-{fp}",
            "table": table,
            "stage": stage,
            "fingerprint": fp,
            "inputs": inputs,
            "params": params or {},
            "n_rows": n_rows,
            "n_files": n_files,
            "bytes": nbytes,
            "wall_sec": round(wall, 3),
        })
        return stored

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def _file_stats(self, table: str) -> tuple[int, int]:
        n, b = 0, 0
        for dirpath, _dirs, files in os.walk(self.path(table)):
            for fn in files:
                if fn.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(dirpath, fn))
        return n, b

