"""Checks each catalog query's parquet result against its DuckDB oracle
(`SparkEntry.oracleSql`), with the normalisation of tools/compare.py.
A query without an oracle passes when it returns at least one row."""
import glob
import importlib.util
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _compare_module():
    path = os.path.join(os.getcwd(), "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("repo_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_query(con, cmp, files, oracle_sql):
    """Returns None when the result matches, else what differs."""
    rel = f"SELECT * FROM read_parquet({files!r})"
    got = con.execute(rel)
    gcols = [d[0] for d in got.description]
    grows = got.fetchall()
    if oracle_sql is None:
        return None if grows else "no rows"
    exp = con.execute(oracle_sql)
    ecols = [d[0] for d in exp.description]
    erows = exp.fetchall()
    gc, gr = cmp.canon(gcols, grows)
    ec, er = cmp.canon(ecols, erows)
    if gc != ec:
        return f"columns differ: {gc} vs {ec}"
    gt = cmp.arrow_types(con, rel + " LIMIT 0")
    et = cmp.arrow_types(con, f"SELECT * FROM ({oracle_sql}) LIMIT 0")
    if gt != et:
        return f"column types differ: {gt} vs {et}"
    if gr != er:
        if len(gr) != len(er):
            return f"{len(gr)} rows, oracle has {len(er)}"
        bad = next(i for i in range(len(gr)) if gr[i] != er[i])
        return f"row {bad}: {gr[bad]} vs oracle {er[bad]}"
    return None


def check(tables_dir, check_dir, queries):
    """Returns {query: failure or None} for every query in `queries`."""
    cmp = _compare_module()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        if not files:
            out[q] = "no parquet output"
            continue
        try:
            out[q] = check_query(con, cmp, files, oracle.get(q))
        except Exception as e:  # an oracle or read error is a failed check
            out[q] = f"error: {e}"
    return out
