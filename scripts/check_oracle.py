#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

Mimics the driver: for every query dumped by graft.Verify, run the
oracle SQL in DuckDB over the same parquet tables, sort columns by
name, sort rows, and compare cell-by-cell. Reports schema and value
diffs per query. (Driver-side tooling only — not part of the library.)

With SPARK_GRAFT_ONLY set (the comma-separated query list graft.Verify
also reads), only those queries are scored: a named query with no
output, or a name the oracle does not know, still fails. Unset, every
query in oracle_sql.json is scored.
"""
import sys, os, json, glob, math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 vs 0.0
        return v + 0.0
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        names = {n for n in only.split(",") if n}
        for name in sorted(names - oracle.keys()):
            print(f"FAIL {name}: not an oracle query")
            n_fail += 1
        oracle = {n: q for n, q in oracle.items() if n in names}
    for name, sql in sorted(oracle.items()):
        pdirs = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not pdirs:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got_rel = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = [d[0] for d in got_rel.description]
            got_rows = got_rel.fetchall()
            exp_rel = con.execute(sql)
            exp_cols = [d[0] for d in exp_rel.description]
            exp_rows = exp_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        gc, gr = canon(got_rows, got_cols)
        ec, er = canon(exp_rows, exp_cols)
        if gc != ec:
            print(f"FAIL {name}: columns differ spark={gc} oracle={ec}")
            n_fail += 1
            continue
        if len(gr) != len(er):
            print(f"FAIL {name}: rowcount spark={len(gr)} oracle={len(er)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(gr, er) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(gr)} rows differ; first: spark={bad[0][0]} oracle={bad[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gr)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
