"""Per-cell query metadata of one mention-cells frame (SURVEY S7).

The reference loads its cell info once, when it opens an index
(``energize()``, ``apps/main.cpp:111-121``).  ``cell_stats`` is that step
for one (grid, res): ONE Spark action returns, per populated cell, its
mention rows and distinct docs, plus the per-doc spread (M*, D).  Region
queries and the planner's polygon leaves prune coverings to ``cells`` and
pick their PIP form with ``row_bound``; kNN seeds its candidate cells from
``docs``, the spread and the cell ``geometry``.  The stats are memoized per
frame OBJECT in a WeakKeyDictionary, so an entry lives exactly as long as
its frame: no id() aliasing, no cap, no eviction.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import haversine_np
from ..grids.base import get_grid

# above this many populated cells the stats stay off the driver (None):
# region queries take distributed ancestor joins, kNN ring expansion.
# 6*4^10 s2 cells ≈ 6.3M, so res-10 indexes always qualify.
MAX_DRIVER_POP_CELLS = 4_000_000


@dataclass(frozen=True, eq=False)
class CellStats:
    """Driver-side stats of the populated cells at one (grid, res)."""

    grid: str
    res: int
    cells: np.ndarray  # sorted populated cell ids
    rows: np.ndarray   # mention rows per cell, aligned with ``cells``
    docs: np.ndarray   # distinct docs per cell, aligned with ``cells``
    mstar: int         # most distinct cells one doc spans (M*)
    ndocs: int         # distinct docs with a mention (D)

    def row_bound(self, cells: np.ndarray) -> int:
        """Exact Σ mention rows over ``cells`` (unpopulated ids add 0) —
        the driver-known bound that gates the interpreted PIP form."""
        if not len(cells) or not len(self.cells):
            return 0
        idx = np.clip(np.searchsorted(self.cells, cells), 0, len(self.cells) - 1)
        hit = self.cells[idx] == cells
        return int(self.rows[idx[hit]].sum())

    @cached_property
    def geometry(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(center lat, center lon, circumradius km = max haversine center→
        bbox corner) per cell, built on first use; needs ≥ 1 cell."""
        g = get_grid(self.grid)
        clat, clon = g.center(self.cells)
        bb = g.bbox(self.cells)  # (n, 4): min_lat, max_lat, min_lon, max_lon
        rad_km = np.zeros(len(self.cells))
        for la, lo in ((0, 2), (0, 3), (1, 2), (1, 3)):
            rad_km = np.maximum(
                rad_km, haversine_np(clat, clon, bb[:, la], bb[:, lo]))
        return clat, clon, rad_km


def collect_cell_stats(mcells: DataFrame, grid: str,
                       res: int) -> CellStats | None:
    """ONE Spark action over ``mcells`` at (grid, res) → CellStats (None
    above MAX_DRIVER_POP_CELLS): per-cell ``count(*)`` and
    ``count_distinct(doc_id)`` unioned with the per-doc spread row; nothing
    doc-cardinality-sized reaches the driver."""
    probe = mcells.where((F.col("grid") == grid) & (F.col("res") == res))
    per_cell = (
        probe.groupBy("cell_id")
        .agg(F.count("*").alias("a"), F.count_distinct("doc_id").alias("b"))
        .select(F.lit(0).alias("kind"), "cell_id", "a", "b")
        .limit(MAX_DRIVER_POP_CELLS + 1)
    )
    spread = (
        probe.groupBy("doc_id").agg(F.count_distinct("cell_id").alias("nc"))
        .agg(F.max("nc").alias("a"), F.count("*").alias("b"))
        .select(F.lit(1).alias("kind"), F.lit(0).cast("long").alias("cell_id"),
                "a", "b")
    )
    rows = per_cell.unionByName(spread).collect()
    cell_rows = [r for r in rows if r.kind == 0]
    if len(cell_rows) > MAX_DRIVER_POP_CELLS:
        return None
    srow = next(r for r in rows if r.kind == 1)
    cells = np.array([r.cell_id for r in cell_rows], np.int64)
    order = np.argsort(cells)
    return CellStats(
        grid=grid, res=res,
        cells=cells[order],
        rows=np.array([r.a for r in cell_rows], np.int64)[order],
        docs=np.array([r.b for r in cell_rows], np.int64)[order],
        mstar=int(srow.a or 0), ndocs=int(srow.b or 0),
    )


_STATS: "weakref.WeakKeyDictionary[DataFrame, dict]" = weakref.WeakKeyDictionary()


def cell_stats(mcells: DataFrame, grid: str, res: int) -> CellStats | None:
    """``collect_cell_stats`` memoized per (frame, grid, res)."""
    per_frame = _STATS.setdefault(mcells, {})
    if (grid, res) not in per_frame:
        per_frame[(grid, res)] = collect_cell_stats(mcells, grid, res)
    return per_frame[(grid, res)]
