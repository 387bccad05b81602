#!/usr/bin/env python3
"""Generate an sf1.0 rehearsal dataset by deterministic 10x replication of
the driver's sf0.1 tables (testdata itself is read-only).

Usage: python3 tools/make_sf1.py [out_dir]   (default target/sf1.0)

Replication semantics: fact tables get 10 copies with key-space shifts that
keep every primary/foreign key relationship intact copy-by-copy (copy i of
lineitem references copy i of orders/part/supplier, etc.). Dimensions
(region, nation) stay fixed, as they would at any TPC-H scale. Document
texts get a per-copy suffix token so the near-dedup family sees 10-member
NEAR-duplicate groups (the realistic crawl shape) instead of exact clones;
n_chars is recomputed. events keeps user_id (graph queries get a denser,
not wider, graph - the skew-stress direction) and shifts event_id.

This is a PERF REHEARSAL dataset: timed by `graft.Bench` runs with
SPARK_GRAFT_SF_DIR=target/sf1.0 (plus SPARK_GRAFT_NOOP_TOP for the noop-sink
column; each query's profile `rows` against an sf0.1 run gives the row
factor), never by the correctness gate (oracle assumptions like pinned row
counts are sf0.01-specific by design).
"""
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
COPIES = 10


def main(out_dir: str) -> None:
    import os
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET memory_limit='6GB'")
    con.execute("SET temp_directory='/tmp/graft_duckdb_spill'")

    def src(t):
        return f"read_parquet('{SRC}/{t}.parquet')"

    def stride(t, key):
        return con.execute(f"SELECT max({key}) + 1 FROM {src(t)}").fetchone()[0]

    sc = stride("customer", "c_custkey")
    ss = stride("supplier", "s_suppkey")
    sp = stride("part", "p_partkey")
    so = stride("orders", "o_orderkey")
    se = stride("events", "event_id")
    sd = stride("documents", "doc_id")
    sv = stride("embeddings", "vec_id")

    copies = f"(SELECT unnest(range({COPIES})) AS i) c"
    jobs = {
        "region": f"SELECT * FROM {src('region')}",
        "nation": f"SELECT * FROM {src('nation')}",
        "customer": f"""SELECT c_custkey + i*{sc} AS c_custkey, c_name,
            c_nationkey, c_acctbal, c_mktsegment
            FROM {src('customer')}, {copies}""",
        "supplier": f"""SELECT s_suppkey + i*{ss} AS s_suppkey, s_name,
            s_nationkey, s_acctbal FROM {src('supplier')}, {copies}""",
        "part": f"""SELECT p_partkey + i*{sp} AS p_partkey, p_name, p_brand,
            p_type, p_size, p_retailprice FROM {src('part')}, {copies}""",
        "orders": f"""SELECT o_orderkey + i*{so} AS o_orderkey,
            o_custkey + i*{sc} AS o_custkey, o_orderstatus, o_totalprice,
            o_orderdate, o_orderpriority FROM {src('orders')}, {copies}""",
        "lineitem": f"""SELECT l_orderkey + i*{so} AS l_orderkey,
            l_partkey + i*{sp} AS l_partkey, l_suppkey + i*{ss} AS l_suppkey,
            l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
            l_returnflag, l_linestatus, l_shipdate
            FROM {src('lineitem')}, {copies}""",
        "events": f"""SELECT event_id + i*{se} AS event_id, ts, user_id,
            event_type, value, props FROM {src('events')}, {copies}""",
        "documents": f"""SELECT doc_id + i*{sd} AS doc_id,
            CASE WHEN i = 0 THEN text ELSE text || ' copy' || i END AS text,
            lang, source,
            CAST(length(CASE WHEN i = 0 THEN text
                             ELSE text || ' copy' || i END) AS BIGINT) AS n_chars
            FROM {src('documents')}, {copies}""",
        "embeddings": f"""SELECT vec_id + i*{sv} AS vec_id, embedding, label
            FROM {src('embeddings')}, {copies}""",
    }
    for t, q in jobs.items():
        con.execute(f"COPY ({q}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out_dir}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "target/sf1.0")
