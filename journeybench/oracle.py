"""Output checks of the knn_batch workload that run outside the JVM.

* Every oracle-backed query's output (written by the harness from its last
  measured pass) must equal the DuckDB run of the query's declared oracle
  SQL over the same seeded tables, normalised as tools/check.py normalises
  them: columns sorted by name, values compared as strings, in row order
  or, failing that, after a row sort.
* Every ANN query's recall@13 against the exact top-13 must stay at or
  above its committed floor in floors.json.
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.reset_index(drop=True).astype(str)


def _same(got, want):
    g, w = _norm(got), _norm(want)
    if list(g.columns) != list(w.columns) or g.shape != w.shape:
        return False
    if g.equals(w):
        return True
    cols = list(g.columns)
    return g.sort_values(cols).reset_index(drop=True).equals(w.sort_values(cols).reset_index(drop=True))


def check(report):
    """Return the list of problems found; empty means every check passed."""
    import duckdb
    import pandas as pd

    problems = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for table in ("documents", "embeddings"):
        path = os.path.join(report["data_dir"], f"{table}.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    for name, sql in sorted(report["oracle_sql"].items()):
        try:
            got = pd.read_parquet(os.path.join(report["oracle_out"], name))
            want = con.sql(sql).df()
        except Exception as e:  # a missing output or an oracle error fails the check
            problems.append(f"{name}: {e}")
            continue
        if not _same(got, want):
            problems.append(f"{name}: output differs from the DuckDB oracle ({len(got)} vs {len(want)} rows)")
    with open(os.path.join(HERE, "floors.json")) as f:
        floors = json.load(f)["recall_at_13"]
    for name, floor in sorted(floors.items()):
        got = report["recall_at_13"].get(name)
        if got is None or got < floor:
            problems.append(f"{name}: recall@13 {got} below the floor {floor}")
    return problems
