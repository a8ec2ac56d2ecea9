#!/usr/bin/env python3
"""Driver-style oracle compare: for each <name> dir under outDir, run the
matching SQL from oracle_sql.json in DuckDB over the sf tables and
hash-compare sorted rows (columns sorted by name, doubles rounded via repr).
Usage: compare_oracle.py <sfDir> <outDir> [name ...]
"""
import sys, os, json, math
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v): v = "nan"
                else: v = f"{v:.9g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)

fail = ok = 0
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    pq = f"{out_dir}/{name}"
    if not os.path.isdir(pq):
        print(f"MISSING-RESULT {name}")
        fail += 1
        continue
    try:
        cur = con.execute(sql)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
    except Exception as e:
        print(f"ORACLE-ERROR {name}: {e}")
        fail += 1
        continue
    cur2 = con.execute(f"SELECT * FROM '{pq}/*.parquet'")
    scols = [d[0] for d in cur2.description]
    srows = cur2.fetchall()
    if sorted(dcols) != sorted(scols):
        print(f"SCHEMA-MISMATCH {name}: spark={sorted(scols)} duck={sorted(dcols)}")
        fail += 1
        continue
    # Output-TYPE parity at the driver's exact strictness: the driver
    # renders both sides to pandas, where every <=64-bit integer width
    # becomes a plain int (INTEGER-vs-BIGINT rows hash green, r1-r11
    # boards prove it) but HUGEINT falls out of int64 and renders as
    # float64 — so a DuckDB HUGEINT sum vs a Spark BIGINT hash-fails even
    # on bit-identical values (g_assortativity, rounds 10-11). Normalize
    # integer widths into one class; keep everything else exact.
    _intish = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
               "UTINYINT", "USMALLINT", "UINTEGER"}
    def normty(t):
        return "INT64CLASS" if t in _intish else t
    dtypes = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    stypes = {r[0]: r[1] for r in
              con.execute(f"DESCRIBE SELECT * FROM '{pq}/*.parquet'").fetchall()}
    badty = {c: (stypes[c], dtypes[c]) for c in dtypes
             if normty(stypes.get(c)) != normty(dtypes[c])}
    if badty:
        print(f"TYPE-MISMATCH {name}: spark-vs-duck {badty}")
        fail += 1
        continue
    a, b = canon(srows, scols), canon(drows, dcols)
    if len(a) != len(b):
        print(f"ROWCOUNT-MISMATCH {name}: spark={len(a)} duck={len(b)}")
        fail += 1
    elif a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        print(f"HASH-MISMATCH {name}: first diffs {diff}")
        fail += 1
    else:
        print(f"OK {name} ({len(a)} rows)")
        ok += 1
print(f"== {ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
