"""Output checks, run after the timed passes.

* ``oracle``  -- a result directory against the DuckDB SQL the engine
  ships for that query (``SparkEntry.oracleSql``), over the staged inputs,
  compared with the canonical values, row order and table list of the
  repo's correctness gate (``scripts/check.py``).
* ``landed``  -- the landed tables against the generator's exact
  per dataset-date counts, key sums and value sums in cents.
"""
import glob
import os
import sys

import duckdb

from gen import KEY_COL, VALUE_COL

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check import TABLES, canon, skey  # noqa: E402


def _rows(df):
    cols = sorted(df.columns)
    rows = [tuple(canon(v) for v in r) for r in df[cols].itertuples(index=False)]
    return cols, sorted(rows, key=skey)


def oracle(inputs_dir, results, sql_by_query):
    """Compare each results[q] directory with sql_by_query[q]. Returns a
    list of failure strings (empty when every result matches)."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(inputs_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    fails = []
    for q, out_dir in sorted(results.items()):
        try:
            exp = con.sql(sql_by_query[q]).df()
            files = glob.glob(os.path.join(out_dir, "*.parquet"))
            got = (con.sql(f"SELECT * FROM read_parquet({files!r}, "
                           f"hive_partitioning = false)").df()
                   if files else exp.iloc[0:0])
        except Exception as e:  # noqa: BLE001 -- report, do not abort
            fails.append(f"{q}: {e}")
            continue
        ec, er = _rows(exp)
        gc, gr = _rows(got)
        if ec != gc:
            fails.append(f"{q}: columns {gc} vs oracle {ec}")
        elif len(er) != len(gr):
            fails.append(f"{q}: {len(gr)} rows vs oracle {len(er)}")
        elif er != gr:
            bad = sum(1 for a, b in zip(er, gr) if a != b)
            fails.append(f"{q}: {bad}/{len(er)} rows differ")
    return fails


def landed(landing_root, expected):
    """expected: {"<dataset>/<date>": [rows, key sum, value cents]} for
    every dataset-date that must be in the landed tables, and no other."""
    con = duckdb.connect()
    got = {}
    for ds in KEY_COL:
        files = glob.glob(os.path.join(landing_root, f"data_{ds}", "*", "*.parquet"))
        if not files:
            continue
        rows = con.sql(
            f"SELECT CAST(target_date AS VARCHAR), count(*), "
            f"sum({KEY_COL[ds]}), "
            f"sum(CAST(round({VALUE_COL[ds]} * 100) AS BIGINT)) "
            f"FROM read_parquet({files!r}, hive_partitioning = true) "
            f"GROUP BY 1").fetchall()
        for d, n, k, v in rows:
            got[f"{ds}/{d}"] = [int(n), int(k), int(v)]
    fails = [f"landed {cell}: {got.get(cell)} vs generated {want}"
             for cell, want in sorted(expected.items()) if got.get(cell) != want]
    fails += [f"landed {cell}: not generated" for cell in sorted(got)
              if cell not in expected]
    return fails
