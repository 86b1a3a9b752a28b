#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps query by query.

For each key prints one of:
  same        the SQL texts are equal after collapsing whitespace;
  rows-equal  DuckDB returns equal canonical rows and column types
              (check.py's `canon` and type rule) on the sf tables;
  DIFF        anything else (with the reason).
A key present in only one file is reported as `only-old`/`only-new`.
Exits 1 on any DIFF or one-sided key.

`Verify` writes every oracle even when SPARK_GRAFT_ONLY limits the
dump to one query, so a dump of either commit is cheap to make.

Usage: python3 scripts/oracle_diff.py OLD/oracle_sql.json NEW/oracle_sql.json <sfdir>
"""
import json, os, sys
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import TABLES, canon, normty


def squash(sql):
    return " ".join(sql.split())


def result(con, sql):
    """(canonical rows, canonical columns, normalized column types)."""
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    rows, ccols = canon(cur.fetchall(), cols)
    types = {r[0]: normty(r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    return rows, ccols, types


def compare(con, old, new):
    if squash(old) == squash(new):
        return "same", ""
    try:
        a = result(con, old)
    except Exception as e:
        return "DIFF", f"old oracle error: {e}"
    try:
        b = result(con, new)
    except Exception as e:
        return "DIFF", f"new oracle error: {e}"
    if a[1] != b[1]:
        return "DIFF", f"columns {a[1]} vs {b[1]}"
    if a[2] != b[2]:
        return "DIFF", f"types {a[2]} vs {b[2]}"
    if a[0] != b[0]:
        return "DIFF", f"rows differ ({len(a[0])} vs {len(b[0])})"
    return "rows-equal", f"({len(a[0])} rows)"


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    old = json.load(open(sys.argv[1]))
    new = json.load(open(sys.argv[2]))
    sfdir = sys.argv[3]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    bad = 0
    counts = {}
    for name in sorted(set(old) | set(new)):
        if name not in new:
            verdict, why = "only-old", ""
        elif name not in old:
            verdict, why = "only-new", ""
        else:
            verdict, why = compare(con, old[name], new[name])
        counts[verdict] = counts.get(verdict, 0) + 1
        if verdict not in ("same", "rows-equal"):
            bad += 1
        print(f"{verdict:<10} {name} {why}".rstrip())
    print("== " + ", ".join(f"{v} {k}" for k, v in sorted(counts.items())) + " ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
