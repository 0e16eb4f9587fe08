"""r06 third pass: the two PIP lowerings must be bit-identical, and the
bound-driven form choice must never change results.

pip_hof_sql (array-literal aggregate fold, polygon-independent codegen
source) replaced the unrolled pip_sql in the region-query gate whenever the
driver-known boundary-row bound is small; both forms must agree on every
row, and forcing either form through the public entry points must produce
identical doc sets.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.functions.geo import pip_hof_sql, pip_sql
from oscar_spatial_index_compare_spark.sources.regions import REGIONS, region_by_name


def test_pip_forms_bit_identical_on_corpus(spark, engine):
    """Every region polygon: zero rows where the two forms disagree over
    the full mention set (the exact arithmetic-equivalence claim)."""
    m = engine.mentions
    checks = []
    for _rid, name, _lvl, poly in REGIONS:
        # null-safe: a NULL from one form against true/false from the
        # other counts as a disagreement, not a masked row
        same = F.expr(pip_sql("lat", "lon", poly)).eqNullSafe(
            F.expr(pip_hof_sql("lat", "lon", poly)))
        checks.append(F.sum((~same).cast("int")).alias(name))
    row = m.agg(*checks).collect()[0]
    assert all(v == 0 for v in row), row.asDict()


def test_pip_form_choice_result_identical(spark, engine, monkeypatch):
    """region_query_docs with the HOF gate forced on (huge cap) and forced
    off (cap 0) returns the same doc set."""
    from oscar_spatial_index_compare_spark.operators import region_query as rq

    ctx = engine.context("s2", 10)
    poly = region_by_name("north_band")

    monkeypatch.setattr(rq, "PIP_HOF_MAX_ROWS", 0)
    lo = {r.doc_id for r in rq.region_query_docs(
        spark, ctx.mcells, poly, "s2", 10).collect()}
    monkeypatch.setattr(rq, "PIP_HOF_MAX_ROWS", 1 << 60)
    hi = {r.doc_id for r in rq.region_query_docs(
        spark, ctx.mcells, poly, "s2", 10).collect()}
    assert lo == hi and len(lo) > 0


def test_pop_row_bound_exact(spark, engine):
    """The per-cell mention rows of ``cell_stats`` sum to the true row count
    of any cell subset (the bound that gates the interpreted PIP form), and
    to 0 when nothing is populated."""
    from oscar_spatial_index_compare_spark.operators.cell_stats import cell_stats

    ctx = engine.context("s2", 10)
    probe = ctx.mcells.where((F.col("grid") == "s2") & (F.col("res") == 10))
    stats = cell_stats(ctx.mcells, "s2", 10)
    pop = stats.cells
    assert len(pop) > 0 and (np.diff(pop) > 0).all()
    subset = pop[:: max(1, len(pop) // 17)]
    truth = probe.where(
        F.col("cell_id").isin([int(c) for c in subset])).count()
    assert stats.row_bound(subset) == truth
    # total over all cells == total probe rows
    assert stats.row_bound(pop) == probe.count()
    # unpopulated ids add nothing
    assert stats.row_bound(np.array([-1, -3], np.int64)) == 0
    # a (grid, res) with zero mentions has EMPTY stats; the bound over any
    # covering is then 0 (the planner passes the unpruned covering boundary)
    empty = cell_stats(ctx.mcells, "s2", 11)
    assert empty is not None and len(empty.cells) == 0
    assert (empty.mstar, empty.ndocs) == (0, 0)
    assert empty.row_bound(subset) == 0


def test_knn_cell_counts_exact(spark, engine):
    """The per-cell distinct docs and (M*, D) spread of ``cell_stats`` equal
    the brute-force counts over the distinct (cell, doc) pairs."""
    from oscar_spatial_index_compare_spark.operators.cell_stats import (
        collect_cell_stats,
    )

    ctx = engine.context("h3", 6)
    probe = ctx.mcells.where((F.col("grid") == "h3") & (F.col("res") == 6))
    stats = collect_cell_stats(ctx.mcells, "h3", 6)
    pairs = {(r.cell_id, r.doc_id) for r in
             probe.select("cell_id", "doc_id").dropDuplicates().collect()}
    exp_counts: dict[int, int] = {}
    per_doc: dict[int, int] = {}
    for c, d in pairs:
        exp_counts[c] = exp_counts.get(c, 0) + 1
        per_doc[d] = per_doc.get(d, 0) + 1
    assert dict(zip(stats.cells.tolist(), stats.docs.tolist())) == exp_counts
    assert stats.mstar == max(per_doc.values())
    assert stats.ndocs == len(per_doc)


@pytest.mark.parametrize("grid,res", [("s2", 10), ("h3", 6)])
def test_cell_stats_match_cell_totals(spark, engine, grid, res):
    """The mention-derived populated cells are exactly the stored
    ``cell_totals`` cells, with the same per-cell distinct docs: the
    planner's fm pruning reads ``cell_stats`` where it once read
    ``cell_totals``."""
    from oscar_spatial_index_compare_spark.operators.cell_stats import cell_stats

    ctx = engine.context(grid, res)
    stats = cell_stats(ctx.mcells, grid, res)
    ct = sorted((r.cell_id, r.n_docs)
                for r in ctx.ctotals.select("cell_id", "n_docs").collect())
    assert stats.cells.tolist() == [c for c, _n in ct]
    assert stats.docs.tolist() == [n for _c, n in ct]
