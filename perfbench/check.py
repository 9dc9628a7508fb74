"""Output checks, run after the timed phase: every collected Spark result
is compared, order-insensitively and value-exactly, with its DuckDB
oracle from ``operators.all_oracles()`` over the same generated files,
using the comparison of the repository's test suite
(``tests/oracle_utils.compare_big``)."""

from __future__ import annotations

import hashlib
import os

import duckdb

from go_mapreduce_crawler_spark.operators import all_oracles
from tests.oracle_utils import compare_big


class Collected:
    """A result already collected to the driver, shaped like the
    DataFrame ``compare_big`` expects (it only calls ``toPandas``)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def digest(pdf) -> str:
    """Order-insensitive content digest of a collected result."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(r) for r in pdf[cols].itertuples(index=False, name=None))
    return hashlib.sha1("\n".join([repr(cols)] + rows).encode()).hexdigest()


class OracleChecker:
    """Compares results with their oracles; a result identical to one
    already judged reuses that verdict instead of re-running DuckDB."""

    def __init__(self):
        self.oracles = all_oracles()
        self._cons: dict[str, duckdb.DuckDBPyConnection] = {}
        self._verdicts: dict[tuple[str, str, str], list[str]] = {}

    def _con(self, table_dir: str) -> duckdb.DuckDBPyConnection:
        con = self._cons.get(table_dir)
        if con is None:
            con = duckdb.connect()
            for f in sorted(os.listdir(table_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(table_dir, f)
                    con.execute(f"CREATE VIEW {f[:-8]} AS "
                                f"SELECT * FROM read_parquet('{path}')")
            self._cons[table_dir] = con
        return con

    def problems(self, sql: str, table_dir: str, pdf, label: str) -> list[str]:
        """Differences between ``pdf`` and the oracle ``sql`` (an
        ``all_oracles()`` entry or a query over one) on ``table_dir``."""
        if pdf is None:
            return [f"{label}: no result"]
        key = (sql, table_dir, digest(pdf))
        if key not in self._verdicts:
            self._verdicts[key] = compare_big(
                Collected(pdf), self._con(table_dir), sql, label)
        return self._verdicts[key]

    def close(self) -> None:
        for con in self._cons.values():
            con.close()
        self._cons.clear()
