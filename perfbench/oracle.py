"""DuckDB oracle for the qan_monitor dashboard outputs.

Each dashboard query's Spark output is written by the benchmark as
canonical rows (see Canon in QanMonitor.scala); this module computes the
same canonical rows from the query's oracle SQL in DuckDB over the
generated statement log, and compares them.  The canonical-row rule is
the one scripts/check.py applies: columns sorted by name, rows sorted;
doubles compare by their exact bits (equal bits <=> equal repr).
"""
import datetime
import decimal
import hashlib
import os
import struct

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return "d%x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo else EPOCH
        return "T%d" % ((v - base) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, str):
        return v.replace("\\", "\\\\").replace("\n", "\\n").replace("\x1f", "\\u001f")
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def oracle_canon(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(cell(r[i]) for i in order) for r in cur.fetchall())
    return ["\x1f".join(cols[i] for i in order)] + rows


def _unescape(s):
    out, i = [], 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append({"n": "\n", "t": "\t", "\\": "\\"}.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def compare(events, canon_dir, cache_dir):
    """Returns (queries checked, failure messages)."""
    with open(f"{canon_dir}/oracle_sql.tsv", encoding="utf-8") as fh:
        sqls = [line.rstrip("\n").split("\t", 1) for line in fh if line.strip()]
    con = None
    failures = []
    os.makedirs(cache_dir, exist_ok=True)
    for name, sql in sqls:
        sql = _unescape(sql)
        cache = f"{cache_dir}/{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.txt"
        if os.path.exists(cache):
            with open(cache, encoding="utf-8") as fh:
                want = fh.read().split("\n")
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads=2")
                con.execute(f"CREATE VIEW events AS SELECT * FROM '{events}'")
            want = oracle_canon(con, sql)
            with open(cache + ".tmp", "w", encoding="utf-8") as fh:
                fh.write("\n".join(want))
            os.replace(cache + ".tmp", cache)
        with open(f"{canon_dir}/{name}.txt", encoding="utf-8") as fh:
            got = fh.read().rstrip("\n").split("\n")
        got = got[:1] + sorted(got[1:])
        if got[0] != want[0]:
            failures.append(f"oracle {name}: columns differ spark={got[0]!r} duck={want[0]!r}")
        elif len(got) != len(want):
            failures.append(f"oracle {name}: rowcount spark={len(got) - 1} duck={len(want) - 1}")
        elif got != want:
            diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
            failures.append(f"oracle {name}: values differ, first diffs {diff}")
    if con is not None:
        con.close()
    return len(sqls), failures
