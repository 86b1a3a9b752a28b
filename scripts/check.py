#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle
SQL in DuckDB against the sf parquet tables (registered as views by
table name) and compare with the Verify-dumped Spark parquet.

Usage: python3 scripts/check.py <sfdir> <outdir> [query ...]
"""
import json, sys, math
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(rows, cols):
    # sort columns by name, then rows lexicographically
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v): v = "NaN"
                else: v = repr(v)
            rr.append(str(v))
        out.append(tuple(rr))
    return sorted(out), [cols[i] for i in order]

def normty(t):
    # the driver's hash is type-sensitive where pandas conversion
    # diverges: HUGEINT (int128) → float64 breaks it, while plain
    # integer widths (int32 vs int64) hash the same. Normalize
    # integer widths, keep HUGEINT/DECIMAL/DOUBLE distinct.
    return "INT" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") else t

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only: continue
        try:
            got = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
            gcols = [c[0] for c in got.description]
            grows = got.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}"); n_bad += 1; continue
        try:
            want = con.execute(sql)
            wcols = [c[0] for c in want.description]
            wrows = want.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}"); n_bad += 1; continue
        try:
            gt = {r[0]: normty(r[1]) for r in con.execute(
                f"DESCRIBE SELECT * FROM '{outdir}/{name}/*.parquet'").fetchall()}
            wt = {r[0]: normty(r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()}
            if gt != wt:
                diff = {k: (gt.get(k), wt.get(k)) for k in set(gt) | set(wt)
                        if gt.get(k) != wt.get(k)}
                print(f"FAIL {name}: dtypes differ (spark, duck): {diff}"); n_bad += 1; continue
        except Exception as e:
            print(f"WARN {name}: dtype check skipped: {e}")
        g, gc = canon(grows, gcols)
        w, wc = canon(wrows, wcols)
        if gc != wc:
            print(f"FAIL {name}: columns differ spark={gc} duck={wc}"); n_bad += 1; continue
        if len(g) != len(w):
            print(f"FAIL {name}: rowcount spark={len(g)} duck={len(w)}"); n_bad += 1; continue
        if g != w:
            bad = [(a, b) for a, b in zip(g, w) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs: {bad}"); n_bad += 1; continue
        print(f"ok   {name} ({len(g)} rows)"); n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
