#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle compare.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>
                                [--against <otherVerifyOutDir>] [query ...]

Reads each <verifyOutDir>/<name>/ parquet (Spark output), runs the matching
oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB against the sfDir
tables, and compares: schema (sorted column names), row count, and a hash of
the sorted rows (columns sorted by name, rows sorted by string repr).

With --against, it then compares the two Verify outputs gate by gate: the
same column names and types and the same sorted rows for every gate, the
rows-only gates (no oracle) included, and an equal oracle_sql.json. This is
the check that a change left every result of a parent commit unchanged.
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) for i in order))
    out.sort()
    return out

def read_sorted(con, gate_dir):
    """(sorted column names, their types, canonical sorted rows)."""
    rel = con.sql(f"SELECT * FROM '{gate_dir}/*.parquet'")
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    cols = sorted(rel.columns)
    return cols, [types[c] for c in cols], canon(rel.fetchall(), rel.columns)

def compare(con, out_dir, other_dir, only):
    """Gate-by-gate equality of two Verify outputs; returns the diff count."""
    def gates(d):
        return {os.path.basename(os.path.dirname(p))
                for p in glob.glob(f"{d}/*/*.parquet")}
    mine, theirs = gates(out_dir), gates(other_dir)
    n_same = n_diff = 0
    for name in sorted(mine | theirs):
        if only and name not in only:
            continue
        if name not in mine or name not in theirs:
            print(f"DIFF {name}: output only in "
                  f"{out_dir if name in mine else other_dir}")
            n_diff += 1
            continue
        a = read_sorted(con, f"{out_dir}/{name}")
        b = read_sorted(con, f"{other_dir}/{name}")
        if a[:2] != b[:2]:
            print(f"DIFF {name}: schema {list(zip(*a[:2]))} vs "
                  f"{list(zip(*b[:2]))}")
            n_diff += 1
        elif a[2] != b[2]:
            print(f"DIFF {name}: rows {len(a[2])} vs {len(b[2])}")
            n_diff += 1
        else:
            n_same += 1
    oa, ob = (json.load(open(f"{d}/oracle_sql.json"))
              for d in (out_dir, other_dir))
    if only:
        oa, ob = ({k: v for k, v in o.items() if k in only} for o in (oa, ob))
    if oa != ob:
        keys = sorted(k for k in oa.keys() | ob.keys() if oa.get(k) != ob.get(k))
        print(f"DIFF oracle_sql.json: {len(keys)} keys differ: {keys[:10]}")
        n_diff += 1
    print(f"== against {other_dir}: {n_same} gates same, {n_diff} diff "
          f"(oracle_sql.json {'equal' if oa == ob else 'differs'}, "
          f"{len(oa)} keys) ==")
    return n_diff

def main():
    args = sys.argv[1:]
    other = None
    if "--against" in args:
        i = args.index("--against")
        other = args[i + 1]
        del args[i:i + 2]
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        srel = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'")
        scols, srows = [c for c in srel.columns], srel.fetchall()
        try:
            orel = con.sql(sql)
            ocols, orows = [c for c in orel.columns], orel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: schema {sorted(scols)} vs {sorted(ocols)}")
            n_fail += 1
            continue
        # column TYPE skew: a HUGEINT (e.g. DuckDB list_sum/sum over BIGINT)
        # renders as float64 "42.0" in pandas/arrow-based compares while the
        # int values still repr-match via fetchall — the exact doc_stats
        # round-5/6 failure mode. Flag any int-width/float skew as FAIL.
        stypes = dict(zip(srel.columns, [str(t) for t in srel.types]))
        otypes = dict(zip(orel.columns, [str(t) for t in orel.types]))
        skew = {c: (otypes[c], stypes[c]) for c in otypes
                if otypes[c] != stypes[c]}
        if skew:
            print(f"FAIL {name}: column type skew {skew}")
            n_fail += 1
            continue
        cs, co = canon(srows, scols), canon(orows, ocols)
        if cs != co:
            print(f"FAIL {name}: rows {len(cs)} vs {len(co)}")
            for a, b in list(zip(cs, co))[:5]:
                if a != b:
                    print(f"  spark={a}\n  duck ={b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(cs)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    n_diff = compare(con, out_dir, other, only) if other else 0
    sys.exit(1 if n_fail or n_diff else 0)

main()
