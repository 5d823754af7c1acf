"""DuckDB oracle check for catalog-row outputs.

Each row's first result is written by the harness as parquet under
`<out>/<name>/`; its oracle SQL (from `SparkEntry.oracleSql` and
`oracleSqlDynamic`) runs in DuckDB over the same input tables. Results are
compared as in the repository's oracle tool, `tools/check_oracle.py`, whose
table list and row-order-insensitive value digest (columns sorted by name)
are used here: column names, row count, then the digest.
"""
import glob
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracle import TABLES, frame_fingerprint  # noqa: E402


def check(tables_dir, out_dir, names):
    """Returns {name: error or None} for every name."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    path = os.path.join(out_dir, "oracle_sql.json")
    oracles = json.load(open(path)) if os.path.exists(path) else {}
    verdicts = {}
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            verdicts[name] = "no output written"
            continue
        if name not in oracles:
            verdicts[name] = "no oracle SQL"
            continue
        try:
            s = con.sql("SELECT * FROM read_parquet([" +
                        ",".join(f"'{f}'" for f in files) + "])")
            s_cols = [c.lower() for c in s.columns]
            s_rows = s.fetchall()
            d = con.sql(oracles[name])
            d_cols = [c.lower() for c in d.columns]
            d_rows = d.fetchall()
        except Exception as e:  # a failing oracle is a failed check
            verdicts[name] = f"oracle error: {e}"
            continue
        if sorted(s_cols) != sorted(d_cols):
            verdicts[name] = f"columns differ: {sorted(s_cols)} vs {sorted(d_cols)}"
        elif len(s_rows) != len(d_rows):
            verdicts[name] = f"row count {len(s_rows)} vs oracle {len(d_rows)}"
        elif frame_fingerprint(s_rows, s_cols) != frame_fingerprint(d_rows, d_cols):
            verdicts[name] = "values differ from oracle"
        else:
            verdicts[name] = None
    con.close()
    return verdicts
