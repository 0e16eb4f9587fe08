"""DuckDB oracles for every timed result, run outside the timed intervals.

Uses the package's own oracle SQL (``optree_oracle_sql``,
``region_query_oracle_sql``, ``knn_oracle_sql``) over ``documents``.  That
SQL inlines the canonical gazetteer-mentions subquery at every leaf; the
subquery is materialized once here as a table and the identical text is
swapped for the table name, so each check reads the same relation without
re-running the gazetteer match per leaf.
"""

from __future__ import annotations

import numpy as np


class Oracle:
    def __init__(self, corpus_parquet: str, threads: int):
        import duckdb

        from oscar_spatial_index_compare_spark.sources.gazetteer import (
            mentions_subquery_sql,
        )

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        self.con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet(?)",
                         [corpus_parquet])
        self._mentions_sql = mentions_subquery_sql()
        self.con.execute(
            f"CREATE TABLE oracle_mentions AS SELECT * FROM {self._mentions_sql} m")

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[tuple]:
        return self.con.execute(
            sql.replace(self._mentions_sql, "oracle_mentions")).fetchall()

    def mention_points(self) -> np.ndarray:
        """(lat, lon) of every mention, for the polygon edge-margin rule."""
        return np.array(self._rows("SELECT lat, lon FROM oracle_mentions"),
                        dtype=np.float64).reshape(-1, 2)

    def optree_docs(self, query: str, res: int) -> list[int]:
        from oscar_spatial_index_compare_spark.plans.oracle import optree_oracle_sql

        return sorted(r[0] for r in self._rows(optree_oracle_sql(query, res)))

    def region_docs(self, poly: np.ndarray) -> list[int]:
        from oscar_spatial_index_compare_spark.operators.region_query import (
            region_query_oracle_sql,
        )

        return sorted(r[0] for r in self._rows(region_query_oracle_sql(poly)))

    def knn_rows(self, queries: list[tuple]) -> list[tuple[int, int, int]]:
        """Sorted (query_id, doc_id, rank) rows."""
        from oscar_spatial_index_compare_spark.operators.knn import knn_oracle_sql

        return sorted((int(q), int(d), int(r)) for q, d, _dist, r
                      in self._rows(knn_oracle_sql(queries)))
