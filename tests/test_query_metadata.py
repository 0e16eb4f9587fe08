"""Query metadata lives in one per-frame ``CellStats``: a context open leaves
no engine thread behind, and every spatial entry point over a (grid, res)
with zero mentions returns an empty result with the usual schema."""

import dataclasses
import threading

from pyspark.sql import functions as F

from oscar_spatial_index_compare_spark.engine import Engine
from oscar_spatial_index_compare_spark.operators.knn import knn_docs
from oscar_spatial_index_compare_spark.operators.region_query import (
    region_query_docs,
)
from oscar_spatial_index_compare_spark.plans.planner import Planner
from oscar_spatial_index_compare_spark.sources.regions import region_by_name
from tests.conftest import SF_DIR


def _new_threads(before: set) -> list[str]:
    return [t.name for t in threading.enumerate()
            if t.ident not in before and t.is_alive()]


def test_context_leaves_no_engine_thread_alive(spark, tmp_path):
    """Neither a fresh create nor a reopen of the same catalog root leaves a
    thread running once ``context()`` has returned."""
    root = str(tmp_path / "cat")
    before = {t.ident for t in threading.enumerate()}
    Engine(spark, SF_DIR, catalog_root=root).context("s2", 10)
    assert _new_threads(before) == []
    Engine(spark, SF_DIR, catalog_root=root).context("s2", 10)
    assert _new_threads(before) == []


def _types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_empty_mention_cells_give_empty_results(spark, engine):
    """region_query_docs, knn_docs and a planner ``$rect`` leaf over a
    zero-row mention-cells frame return no rows and the same column types
    as over the populated frame (which must return rows here)."""
    ctx = engine.context("s2", 10)
    empty_m = ctx.mcells.where(F.lit(False))
    poly = region_by_name("metro")
    full = region_query_docs(spark, ctx.mcells, poly, "s2", 10)
    got = region_query_docs(spark, empty_m, poly, "s2", 10)
    assert full.count() > 0
    assert got.collect() == [] and _types(got) == _types(full)

    q = [(1, 48.86, 2.36, 5)]
    full = knn_docs(spark, ctx.mcells, q, "s2", 10)
    got = knn_docs(spark, empty_m, q, "s2", 10)
    assert full.count() == 5
    assert got.collect() == [] and _types(got) == _types(full)

    rect = "$rect:42.3,51.7,-4.8,8.7"
    empty_ctx = dataclasses.replace(
        ctx, mcells=empty_m, ctotals=ctx.ctotals.where(F.lit(False)),
        _pop_anc=None)
    full = Planner(ctx).docs(rect)
    got = Planner(empty_ctx).docs(rect)
    assert full.count() > 0
    assert got.collect() == [] and _types(got) == _types(full)
