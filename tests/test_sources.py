"""Source-layer rules: the scan-split estimate follows Spark's own file
packing, and catalog fingerprints carry the table format version."""

import hashlib
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from oscar_spatial_index_compare_spark.sources.catalog import Catalog
from oscar_spatial_index_compare_spark.sources.tables import (
    ensure_scan_parallelism,
    estimated_scan_partitions,
)


@pytest.mark.parametrize("k,big", [(1, False), (3, False), (5, False),
                                   (7, False), (8, False), (12, False),
                                   (16, False), (23, False), (5, True)])
def test_scan_estimate_matches_planned_partitions(spark, tmp_path, k, big):
    """For a directory of k small parquet files (plus, optionally, one file
    larger than a split) the estimate equals the partitions Spark plans, so
    ensure_scan_parallelism repartitions exactly when the scan is short of
    the session's cores (12 small files at 8 cores plan 6 partitions)."""
    d = tmp_path / "docs"
    d.mkdir()
    rng = np.random.default_rng(k)
    for i in range(k):
        n = 20 + 37 * i
        pq.write_table(pa.table({"doc_id": np.arange(n, dtype=np.int64)}),
                       str(d / f"part-{i:03d}.parquet"))
    if big:
        pq.write_table(
            pa.table({"doc_id": rng.integers(0, 1 << 62, 700_000)}),
            str(d / "part-big.parquet"), compression="none")
    sizes = [p.stat().st_size for p in d.iterdir()]
    df = spark.read.parquet(str(d))
    planned = df.rdd.getNumPartitions()
    n = spark.sparkContext.defaultParallelism
    assert estimated_scan_partitions(spark, sizes) == planned
    kept = ensure_scan_parallelism(df, spark, input_path=str(d)) is df
    assert kept == (planned >= n)


def test_unversioned_fingerprint_does_not_gate_build(spark, tmp_path):
    """A snapshot logged under the fingerprint of code without a table
    format version must not be reused: the stage rebuilds, and the new
    (versioned) snapshot gates the next run."""
    cat = Catalog(spark, str(tmp_path / "cat"))
    stage, inputs, params = "demo", ["src"], {"grid": "s2", "res": 10}
    unversioned = hashlib.sha256(json.dumps(
        {"stage": stage, "inputs": sorted(inputs), "params": params},
        sort_keys=True).encode()).hexdigest()[:16]
    assert cat.fingerprint(stage, inputs, params) != unversioned
    cat._append({
        "snapshot_id": f"demo_t-0-{unversioned}", "table": "demo_t",
        "stage": stage, "fingerprint": unversioned, "inputs": inputs,
        "params": params, "n_rows": 3, "n_files": 1, "bytes": 1,
        "wall_sec": 0.0,
    })
    built = []

    def thunk():
        built.append(1)
        return spark.range(3)

    assert cat.materialize(thunk, "demo_t", stage, inputs,
                           params=params).count() == 3
    assert built == [1]
    cat.materialize(thunk, "demo_t", stage, inputs, params=params)
    assert built == [1]
