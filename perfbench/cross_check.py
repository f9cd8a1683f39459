#!/usr/bin/env python3
"""Recompute the committed query digests from DuckDB, independently of Spark.

    python3 perfbench/cross_check.py <parquet dir> <verify out dir> <digests file>

<verify out dir> is where `graft.Verify <parquet dir> <out>` wrote
oracle_sql.json. Each query in the digests file whose oracle SQL exists is run
in DuckDB over the same parquet tables; its rows are canonicalized the way
perfbench/src/main/scala/perfbench/Digest.scala does (columns sorted by name, a
double by its IEEE bits, a decimal by its plain string, a timestamp by its
microseconds) and digested to (row count, sum of 64-bit row hashes). Exits 1
if any digest differs.
"""
import sys, json, glob, os, struct, hashlib, datetime, decimal
import duckdb
sf, out, digests = sys.argv[1], sys.argv[2], sys.argv[3]
con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    t = os.path.basename(p).removesuffix(".parquet")
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
oracle = json.load(open(f"{out}/oracle_sql.json"))
EPOCH = datetime.datetime(1970, 1, 1)
def render(v):
    if v is None: return "\u0000"
    if isinstance(v, bool): return "s" + ("true" if v else "false")
    if isinstance(v, float):
        bits = struct.unpack(">q", struct.pack(">d", v))[0]
        return "d" + format(bits & 0xffffffffffffffff, "x")
    if isinstance(v, decimal.Decimal): return "n" + format(v, "f")
    if isinstance(v, int): return "n" + str(v)
    if isinstance(v, datetime.datetime):
        d = v.replace(tzinfo=None) - EPOCH
        return "t" + str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date): return "s" + v.isoformat()
    if isinstance(v, (list, tuple)): return "[" + "\u0001".join(render(x) for x in v) + "]"
    if isinstance(v, dict): return "(" + "\u0001".join(render(x) for x in v.values()) + ")"
    return "s" + str(v)
want = {}
for l in open(digests):
    n, r, h = l.rstrip("\n").split("\t"); want[n] = (int(r), h)
bad = 0
for name, sql in sorted(oracle.items()):
    stem = name.split("_")[0]
    if stem not in want: continue
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    s = 0
    for row in rows:
        txt = "(" + "\u0001".join(render(row[i]) for i in order) + ")"
        s = (s + struct.unpack(">q", hashlib.md5(txt.encode()).digest()[:8])[0]) & 0xffffffffffffffff
    got = (len(rows), format(s, "016x"))
    ok = got == want[stem]
    bad += not ok
    print(("OK  " if ok else "DIFF"), stem, got, want[stem])
print("MISMATCHES:", bad)
sys.exit(1 if bad else 0)
