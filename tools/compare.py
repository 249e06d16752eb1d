#!/usr/bin/env python3
"""Local replica of the driver's DuckDB correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Runs every oracle SQL from <verifyOutDir>/oracle_sql.json against DuckDB
views over <sfDir>/*.parquet and compares to the Spark parquet dumps under
<verifyOutDir>/<name>/. Reports EXACT (hash-safe), CLOSE (float-tolerance
only — would likely fail a strict hash), or MISMATCH per query. Column types
count too: a column whose DuckDB type differs from the Spark parquet's (e.g.
HUGEINT from an uncast sum of BIGINT) is TYPE-MISMATCH, even when its values
are equal.

Dev tool only — the engine itself is pure Scala/Spark.
"""
import sys, json, glob, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out, [cols[i] for i in idx]


def close(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-6 + 1e-6 * max(abs(a), abs(b))
    return False


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_exact = n_close = n_bad = 0
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"{name:28s} NO-SPARK-OUTPUT")
            n_bad += 1
            continue
        try:
            duck = con.sql(sql)
            dcols, dtypes = duck.columns, duck.types
            drows = duck.fetchall()
        except Exception as e:
            print(f"{name:28s} ORACLE-ERROR {e}")
            n_bad += 1
            continue
        sq = con.sql(f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')")
        scols, stypes = sq.columns, sq.types
        srows = sq.fetchall()
        if sorted(scols) != sorted(dcols):
            print(f"{name:28s} SCHEMA-MISMATCH spark={sorted(scols)} duck={sorted(dcols)}")
            n_bad += 1
            continue
        dtype = dict(zip(dcols, map(str, dtypes)))
        badtypes = [f"{c}: spark={t} duck={dtype[c]}"
                    for c, t in zip(scols, map(str, stypes)) if t != dtype[c]]
        if badtypes:
            print(f"{name:28s} TYPE-MISMATCH " + "; ".join(badtypes))
            n_bad += 1
            continue
        s, _ = canon(srows, scols)
        d, _ = canon(drows, dcols)
        if s == d:
            print(f"{name:28s} EXACT  rows={len(s)}")
            n_exact += 1
        elif len(s) == len(d) and all(
                all(close(x, y) for x, y in zip(rs, rd)) for rs, rd in zip(s, d)):
            print(f"{name:28s} CLOSE  rows={len(s)} (float-tolerance only)")
            n_close += 1
        else:
            n_bad += 1
            diff = [(rs, rd) for rs, rd in zip(s, d)
                    if not all(close(x, y) for x, y in zip(rs, rd))]
            print(f"{name:28s} MISMATCH rows spark={len(s)} duck={len(d)}")
            for rs, rd in (diff[:3] if len(s) == len(d) else []):
                print(f"    spark {rs}\n    duck  {rd}")
            if len(s) != len(d):
                onlys = set(map(str, s)) - set(map(str, d))
                onlyd = set(map(str, d)) - set(map(str, s))
                for x in list(onlys)[:2]:
                    print(f"    only-spark {x}")
                for x in list(onlyd)[:2]:
                    print(f"    only-duck  {x}")
    print(f"\nEXACT={n_exact} CLOSE={n_close} BAD={n_bad}")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
