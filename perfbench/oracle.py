"""DuckDB oracle compare for the benchmark's correctness pass.

Each query's Spark output (parquet) is compared with its `GraftQuery.oracle`
SQL run in DuckDB over the same generated tables, canonicalised by
`tools/check_oracle.py`'s own `canon` (columns sorted by name, rows sorted,
floats to 12 significant digits) and judged the way that script judges:
column names equal ignoring case, then rows equal.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import canon  # noqa: E402


def canonical(rel):
    return canon(list(rel.columns), rel.fetchall())


def compare(data_dir, oracle, tmp_dir):
    """oracle: {query: {"sql": ..., "out": parquet dir}}. Returns
    {query: None if equal else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdict = {}
    for name, e in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(e["out"], "*.parquet")))
        if not e["sql"]:
            verdict[name] = "query declares no oracle"
        elif not files:
            verdict[name] = "no Spark output"
        else:
            try:
                g_cols, g_rows = canonical(con.sql(f"SELECT * FROM read_parquet({files!r})"))
                w_cols, w_rows = canonical(con.sql(e["sql"]))
                if [c.lower() for c in g_cols] != [c.lower() for c in w_cols]:
                    verdict[name] = f"columns {g_cols} vs oracle {w_cols}"
                elif g_rows != w_rows:
                    verdict[name] = f"{len(g_rows)} rows vs oracle {len(w_rows)} rows"
                else:
                    verdict[name] = None
            except Exception as ex:  # an oracle that cannot run is a failed check
                verdict[name] = f"oracle error: {ex}".splitlines()[0][:300]
    con.close()
    return verdict
