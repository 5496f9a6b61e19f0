"""Result checking: canonical row multisets, compared with a float
tolerance, against DuckDB (python ``duckdb``) on the same parquet."""

import datetime
import decimal
import math
import os

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def canonical(rows):
    """Rows (tuples) → sorted list, floats last in the sort key and rounded
    there, so engines that differ in the last float bits sort alike."""
    rows = [tuple(_cell(c) for c in r) for r in rows]

    def key(r):
        exact = tuple("" if c is None else str(c) for c in r if not isinstance(c, float))
        approx = tuple(float(f"{c:.6g}") for c in r if isinstance(c, float))
        return exact, approx
    return sorted(rows, key=key)


def same(a, b):
    """Canonical row lists equal, floats within tolerance."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(float(x), float(y), rel_tol=REL_TOL, abs_tol=ABS_TOL):
                    return False
            elif x != y:
                return False
    return True


def arrow_rows(table):
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return list(zip(*cols)) if cols else []


class DuckOracle:
    """DuckDB over the lake's parquet files, one view per table."""

    def __init__(self, lake_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for f in sorted(os.listdir(lake_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(lake_dir, f).replace("'", "''")
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql):
        return canonical(self.con.execute(sql).fetchall())

    def close(self):
        self.con.close()
