#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (dev tool only; the
engine itself is pure Scala/Spark). Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out

For each query dir under out/: read the Spark parquet result, run the
oracle SQL in DuckDB over the same sf tables, sort columns by name and
rows by value, and compare cell-by-cell.
"""
import sys, os, json, glob, decimal, datetime, math
import duckdb

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)

def table_rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output"); n_fail += 1; continue
        got_cols, got = table_rows(con, f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(got)} rows)"); continue
        try:
            exp_cols, exp = table_rows(con, oracles[name])
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}"); n_fail += 1; continue
        if got == exp:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: {len(got)} vs {len(exp)} rows")
            exp_set, got_set = set(exp), set(got)
            diff_g = [r for r in got if r not in exp_set][:3]
            diff_e = [r for r in exp if r not in got_set][:3]
            for r in diff_g: print(f"   spark-only: {r}")
            for r in diff_e: print(f"   duck-only:  {r}")
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
