"""Correctness gate for the registry workloads.

Compares each query's Spark output (parquet, written during the cold pass)
with its DuckDB oracle over the same input tables, using the canonical form
and cell rules of the repository's `tools/check_oracle.py`. The tool's own
`main` applies the same rules but reads each cell through `DataFrame.iloc`,
which is too slow for the run's time limit, so the loop is repeated here over
whole columns.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import TABLES, canon, cell_eq, kind  # noqa: E402


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """Returns None when the two results agree, else the first difference."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        if kind(got[c].dtype) != kind(want[c].dtype):
            return f"dtype of {c}: spark {got[c].dtype}, duckdb {want[c].dtype}"
    cols = {c: (got[c].tolist(), want[c].tolist()) for c in got.columns}
    for i in range(len(got)):
        for c, (g, w) in cols.items():
            if not cell_eq(g[i], w[i]):
                return f"row {i} col {c}: spark={g[i]!r} duckdb={w[i]!r}"
    return None


def mismatches(data_dir: Path, out_dir: Path, names) -> dict:
    """Maps each query in `names` that fails the gate to the reason.

    Queries without an oracle are skipped; a query with an oracle but no
    Spark output fails.
    """
    con = duckdb.connect()
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    bad = {}
    for name in names:
        if name not in oracle:
            continue
        path = out_dir / name
        if not path.exists():
            bad[name] = "no spark output"
            continue
        try:
            diff = compare(pd.read_parquet(path), con.execute(oracle[name]).df())
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            diff = f"{type(e).__name__}: {e}"
        if diff:
            bad[name] = diff
    con.close()
    return bad
