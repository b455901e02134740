"""Output checks against DuckDB, run outside every timed region.

Catalog results are compared in the certification sweep's canonical form
(``tools/driver_sim.py``'s ``canon_frame`` / ``cell``): both sides as
pandas, columns sorted, rows sorted, every cell stringified by dtype.
"""

from __future__ import annotations

import math

import duckdb

from stadvdb_olap_spark.sources.parquet import TABLES
from tools.driver_sim import canon_frame, cell


def connect(sf_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET threads={threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def same_frame(spark_pdf, oracle_pdf) -> bool:
    """True when both frames have the same columns and the same multiset
    of canonical rows."""
    return canon_frame(spark_pdf) == canon_frame(oracle_pdf)


def same_row(spark_row: tuple, oracle_row: tuple, rel_tol: float = 1e-9) -> bool:
    """Compare one aggregate row: exact by ``cell`` for non-floats, to
    ``rel_tol`` for float sums (summation order differs by engine)."""
    if len(spark_row) != len(oracle_row):
        return False
    for a, b in zip(spark_row, oracle_row):
        if isinstance(a, float) and isinstance(b, float):
            if not math.isclose(a, b, rel_tol=rel_tol):
                return False
        elif cell(a) != cell(b):
            return False
    return True
