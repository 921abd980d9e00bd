"""Output checks against the DuckDB oracle.

Each engine output (a parquet directory) is compared with the query's
`SparkEntry.oracleSql` run by DuckDB over the generated tables, under the
repository's own oracle compare rules, reused from tools/check.py: columns
sorted by name, timestamps as ISO strings, integer widths upcast to int64,
float32 upcast to float64, rows sorted, then an exact, dtype-strict frame
compare.
"""
import importlib.util
import os

import duckdb
import pandas as pd

# loaded by path: the module name `check` is this file's own
_spec = importlib.util.spec_from_file_location(
    "repo_oracle_check",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check.py"))
_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_oracle)
TABLES, load_result, canon = _oracle.TABLES, _oracle.load_result, _oracle.canon


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def fold_samples(emitted):
    """The streaming twin's final fold: per chunk hash `h`, the minimum
    (doc_id, chunk_idx, chunk_text, n_tokens) over every emission."""
    keys = ["doc_id", "chunk_idx", "chunk_text", "n_tokens"]
    return (emitted.sort_values(["h"] + keys, kind="mergesort")
            .drop_duplicates("h", keep="first")[keys].reset_index(drop=True))


def compare(got, expected):
    """None when equal, else a one-line reason."""
    g, e = canon(got), canon(expected)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=True, check_exact=True)
        return None
    except AssertionError as ex:
        return "value mismatch: " + " ".join(str(ex).split())[:300]


def check_all(data_dir, checks, oracle_sql, fold_queries=()):
    """checks: [{"query", "path"}]. Returns [(query, path, reason-or-None)]."""
    con = connect(data_dir)
    expected = {}
    results = []
    for c in checks:
        q, path = c["query"], c["path"]
        try:
            if q not in expected:
                expected[q] = con.execute(oracle_sql[q]).fetchdf()
            got = load_result(path)
            if got is None:
                reason = "no result parquet"
            else:
                if q in fold_queries:
                    got = fold_samples(got)
                reason = compare(got, expected[q])
        except Exception as ex:  # an oracle or read error fails the check
            reason = f"{type(ex).__name__}: {ex}"[:300]
        results.append((q, path, reason))
    return results
