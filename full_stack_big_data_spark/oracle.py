"""Differential-oracle harness: Spark result vs DuckDB SQL.

Replicates the driver's correctness gate locally (row-count + schema-name
+ order-insensitive value-hash) so every registered query is verified at
sf0.001/sf0.01 in pytest before the driver ever sees it. This is the
engine's upgrade of the reference's identity-oracle test style
(``KafkaSpec.scala:88`` — "output should equal input") to differential
testing against an independent SQL engine.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb
from pyspark.sql import DataFrame

from .engine.catalog import TABLES


def duckdb_connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """Views over the standard table set. The driver's testdata ships each
    table as ONE parquet file; builder-derived dirs (scripts/make_sf1.py)
    are Spark datasets — a directory of part files — so those get a
    recursive glob. Semantically identical either way."""
    import os

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/**/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 15 significant digits: strict enough to catch any real numeric
        # divergence; queries are designed to be exact (decimal paths +
        # explicit rounding) so this should never be load-bearing.
        return f"{v:.15g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return repr(v)


def _canon(rows, colnames) -> list[str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def compare(name: str, spark_df: DataFrame, oracle_sql: str,
            con: "duckdb.DuckDBPyConnection") -> CompareResult:
    # Both sides go through Arrow, exactly like the driver's harness. This
    # is load-bearing for type fidelity: cursor.fetchall() would collapse
    # DuckDB's widened types back to Python ints (e.g. SUM(BIGINT) →
    # HUGEINT → int), hiding mismatches the driver's value-hash sees
    # (HUGEINT surfaces as decimal128 via Arrow — caught round 1 on
    # q_json_extract only by the driver, not locally).
    s_tbl = spark_df.toArrow()
    s_cols = s_tbl.column_names
    s_rows = [tuple(d[c] for c in s_cols) for d in s_tbl.to_pylist()]
    o_tbl = con.execute(oracle_sql).arrow()
    o_cols = o_tbl.column_names
    o_rows = [tuple(d[c] for c in o_cols) for d in o_tbl.to_pylist()]

    if sorted(s_cols) != sorted(o_cols):
        return CompareResult(name, False, len(s_rows), len(o_rows),
                             f"columns differ: spark={s_cols} duckdb={o_cols}")
    if len(s_rows) != len(o_rows):
        return CompareResult(name, False, len(s_rows), len(o_rows), "row count differs")
    s_canon, o_canon = _canon(s_rows, s_cols), _canon(o_rows, o_cols)
    if s_canon != o_canon:
        diff = next((f"first diff:\n  spark  {a}\n  duckdb {b}"
                     for a, b in zip(s_canon, o_canon) if a != b), "tail diff")
        return CompareResult(name, False, len(s_rows), len(o_rows), diff)
    return CompareResult(name, True, len(s_rows), len(o_rows))
