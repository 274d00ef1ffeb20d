#!/usr/bin/env python3
"""Dev-loop parity checker mimicking the driver's t2 gate:
runs each oracle_sql.json query in DuckDB over the same parquet tables,
sorts columns by name, and compares against the Spark-side parquet dump.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir> [query ...]
This is a LOCAL DEV TOOL only (duckdb is driver-side, never a library
dependency of the engine itself).
"""
import json, math, os, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def rows_of(con, sql):
    cur = con.sql(sql)
    cols = cur.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # Arrow-level types, NOT just values: the driver's hash is
    # type-sensitive (an uncast DuckDB SUM is HUGEINT/decimal128 where
    # Spark emits int64 — identical values, divergent hash). Capturing
    # the Arrow schema here kills that miss class in the dev loop.
    schema = con.sql(sql).arrow().schema
    types = [str(schema.field(cols[i]).type) for i in order]
    data = cur.fetchall()
    return ([cols[i] for i in order], types,
            [tuple(canon(r[i]) for i in order) for r in data])


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            # a table is one file (driver testdata) or a directory of
            # part files (hwbench/gen.py's large tables)
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    n_pass = n_fail = 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        spark_path = os.path.join(out_dir, name)
        if not os.path.isdir(spark_path):
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            ocols, otypes, orows = rows_of(con, oracles[name])
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            scols, stypes, srows = rows_of(
                con, f"SELECT * FROM read_parquet('{spark_path}/*.parquet')")
        except Exception as e:
            print(f"FAIL {name}: spark read error: {e}")
            n_fail += 1
            continue
        if ocols != scols:
            print(f"FAIL {name}: columns differ oracle={ocols} spark={scols}")
            n_fail += 1
            continue
        if otypes != stypes:
            diffs = [f"{c}: oracle={a} spark={b}"
                     for c, a, b in zip(ocols, otypes, stypes) if a != b]
            print(f"FAIL {name}: arrow types differ — " + "; ".join(diffs))
            n_fail += 1
            continue
        if len(orows) != len(srows):
            print(f"FAIL {name}: rowcount oracle={len(orows)} spark={len(srows)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(orows, srows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)} differing rows; first at {i}:\n"
                  f"  oracle: {a}\n  spark : {b}\n  cols  : {ocols}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(orows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
