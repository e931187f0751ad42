"""DuckDB oracles for the workloads' outputs.

Results are compared with the rule of ``tools/verify_gate.py`` (sorted by
every column, floats within rel_tol 1e-9, everything else by string), so
the benchmark judges correctness exactly as the repository's oracle gate
does. The cube op templates below are written from the table schemas,
independently of the engine's own registry SQL.
"""

from __future__ import annotations

import importlib.util
import os
from decimal import Decimal

import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: the cube's four measures over lineitem, decimal-exact as in the engine
MEASURES = (
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"
    " AS DOUBLE) AS revenue, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    " * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge, "
    "COUNT(*) AS n_lines"
)

STAR = (
    "lineitem"
    " JOIN supplier s ON l_suppkey = s.s_suppkey"
    " JOIN nation sn ON s.s_nationkey = sn.n_nationkey"
    " JOIN region sr ON sn.n_regionkey = sr.r_regionkey"
    " JOIN part p ON l_partkey = p.p_partkey"
    " JOIN orders o ON l_orderkey = o.o_orderkey"
    " JOIN customer c ON o.o_custkey = c.c_custkey"
    " JOIN nation cn ON c.c_nationkey = cn.n_nationkey"
    " JOIN region cr ON cn.n_regionkey = cr.r_regionkey"
)

#: cube attribute name -> SQL over STAR
ATTR_SQL = {
    "s_suppkey": "l_suppkey",
    "r_name": "sr.r_name",
    "n_name": "sn.n_name",
    "p_brand": "p.p_brand",
    "cr_name": "cr.r_name",
    "cn_name": "cn.n_name",
    "c_mktsegment": "c.c_mktsegment",
    "d_year": "CAST(year(o.o_orderdate) AS INT)",
    "d_quarter": "CAST(quarter(o.o_orderdate) AS INT)",
    "d_month": "CAST(month(o.o_orderdate) AS INT)",
}


def _load_compare():
    """``compare`` from the repository's oracle gate."""
    path = os.path.join("tools", "verify_gate.py")
    spec = importlib.util.spec_from_file_location("_perfbench_verify_gate", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def cube_sql(attrs: list[str], where: str = "", rollup: bool = False) -> str:
    """Measures grouped by cube attributes over the full star."""
    inner = ", ".join(f"{ATTR_SQL[a]} AS {a}" for a in attrs)
    cols = ", ".join(attrs)
    sql = (f"SELECT {cols + ', ' if cols else ''}{MEASURES}"
           + (", CAST(" + " + ".join(f"GROUPING({a})" for a in attrs)
              + " AS INT) AS grouping_level" if rollup else "")
           + f" FROM (SELECT {inner + ', ' if inner else ''}l_quantity, l_extendedprice,"
           f" l_discount, l_tax FROM {STAR} {'WHERE ' + where if where else ''})")
    if attrs:
        sql += f" GROUP BY {'ROLLUP (' + cols + ')' if rollup else cols}"
    return sql


def rows_frame(rows) -> pd.DataFrame:
    """Spark rows (or dicts) as a frame, decimals surfaced as doubles."""
    recs = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in rows]
    df = pd.DataFrame.from_records(recs)
    for c in df.columns:
        if any(isinstance(v, Decimal) for v in df[c]):
            df[c] = [None if v is None else float(v) for v in df[c]]
    return df


class Oracle:
    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
        self.compare = _load_compare()

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def check(self, got: pd.DataFrame, sql: str) -> str | None:
        """None when ``got`` matches the oracle, else the first difference."""
        want = self.frame(sql)
        if got.empty and want.empty and sorted(got.columns) != sorted(want.columns):
            got = pd.DataFrame(columns=want.columns)
        return self.compare(got, want)
