#!/usr/bin/env python3
"""Build a bench-only ~sf1 catalog by replicating an sf0.1 catalog 10x.

The test data tops out at sf0.1. This tool writes a larger local catalog
with no download: primary keys are offset per replica, and document
text and embedding values are perturbed per replica, so the corpus is
near-dup-rich rather than exact clones. No oracle CORRECTNESS claim is
made at sf1: the catalog is for measurements only (for instance, which
scale-conditional routes engage from data volume alone). LOCAL DEV
TOOL (duckdb is driver-side, never an engine dependency).

Usage:
  python3 tools/bench_trend.py build <sf0.1dir> <sf1dir> [factor]
      # replicate the parquet tables `factor` times (default 10)

BENCH_TREND.json is an earlier record made with this catalog; the
capture and merge steps that produced it are gone.
"""
import os
import sys

FACTOR = 10


def build(src, dst, factor=FACTOR):
    import duckdb
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    def copy(sql, table):
        con.sql(f"COPY ({sql}) TO '{dst}/{table}.parquet' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE 8192)")
        n = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{dst}/{table}.parquet')"
        ).fetchone()[0]
        print(f"  {table}: {n} rows")

    def rp(t):
        return f"read_parquet('{src}/{t}.parquet')"

    # dims unchanged (facts keep referencing the same keys — replicas
    # model 10x rows per entity, the realistic growth axis)
    for t in ["region", "nation", "customer", "supplier", "part"]:
        copy(f"SELECT * FROM {rp(t)}", t)
    copy(f"""SELECT o_orderkey + i*mx AS o_orderkey, o_custkey,
             o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
             FROM {rp('orders')}, range({factor}) r(i),
               (SELECT MAX(o_orderkey)+1 mx FROM {rp('orders')})""",
         "orders")
    # l_orderkey offset matches orders' so the FK survives
    copy(f"""SELECT l_orderkey + i*mx AS l_orderkey, l_partkey, l_suppkey,
             l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
             l_returnflag, l_linestatus, l_shipdate
             FROM {rp('lineitem')}, range({factor}) r(i),
               (SELECT MAX(o_orderkey)+1 mx FROM {rp('orders')})""",
         "lineitem")
    # same users, 10x events each; +i µs breaks exact-tie degeneracy.
    # ::TIMESTAMPTZ so parquet stores an INSTANT (isAdjustedToUTC) like
    # the driver's NANOS originals — plain NTZ would type-mismatch
    # unix_micros on the Spark side (session TZ is UTC throughout, so
    # the wall values are identical)
    copy(f"""SELECT event_id + i*mx AS event_id,
             (ts + i * INTERVAL 1 MICROSECOND)::TIMESTAMPTZ AS ts,
             user_id, event_type, value, props
             FROM {rp('events')}, range({factor}) r(i),
               (SELECT MAX(event_id)+1 mx FROM {rp('events')})""",
         "events")
    # replica 0 verbatim; others get a 1-token suffix so the corpus is
    # near-dup-RICH (the hard case for dedup tiers), not exact clones
    copy(f"""SELECT doc_id + i*mx AS doc_id,
             CASE WHEN i = 0 THEN text
                  ELSE text || ' r' || i::VARCHAR END AS text,
             lang, source,
             CASE WHEN i = 0 THEN n_chars
                  ELSE length(text || ' r' || i::VARCHAR)::BIGINT
             END AS n_chars
             FROM {rp('documents')}, range({factor}) r(i),
               (SELECT MAX(doc_id)+1 mx FROM {rp('documents')})""",
         "documents")
    copy(f"""SELECT vec_id + i*mx AS vec_id,
             CASE WHEN i = 0 THEN embedding
                  ELSE list_transform(embedding,
                    x -> CAST(x + i * 0.000001 AS FLOAT)) END AS embedding,
             label
             FROM {rp('embeddings')}, range({factor}) r(i),
               (SELECT MAX(vec_id)+1 mx FROM {rp('embeddings')})""",
         "embeddings")


def main():
    if len(sys.argv) < 4 or sys.argv[1] != "build":
        sys.exit("usage: bench_trend.py build <sf0.1dir> <sf1dir> [factor]")
    build(sys.argv[2], sys.argv[3],
          int(sys.argv[4]) if len(sys.argv) > 4 else FACTOR)


if __name__ == "__main__":
    main()
