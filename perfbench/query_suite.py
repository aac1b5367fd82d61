"""The query_suite workload: every registered query over seeded base
tables, into the noop sink, checked against its DuckDB oracle.

The tables follow the shapes and value domains of the repository's
synthetic star schema plus its ``events``/``documents``/``embeddings``
tables, at about a hundredth of the sf1 row counts, generated here from the
run's seed so the benchmark needs no data outside its checkout.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from go_bqloader_spark.plans import ORACLE_SQL, QUERIES
from go_bqloader_spark.plans.queries import TABLES, load

from harness import Run, span_s

WORDS = ("a agg batch big column customer data dup fast filter group hash join key"
         " line merge order part query row scan slow small sort spark stream table"
         " the value vector window").split()


def _dates(rng, n, lo, hi):
    a, b = np.datetime64(lo), np.datetime64(hi)
    span = int((b - a) / np.timedelta64(1, "D"))
    return (a + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")


def gen_tables(out: str, seed: int, scale: int) -> None:
    """Write the ten base tables; ``scale`` multiplies the smallest size
    (lineitem = 6000 × scale rows)."""
    rng = np.random.default_rng(seed)
    n_li, n_ord, n_cust = 6000 * scale, 1500 * scale, 150 * scale
    n_part, n_supp, n_ev, n_doc = 2000, 100, 1000 * scale, 50 * scale
    f64, i64, i32, s, ts = pa.float64(), pa.int64(), pa.int32(), pa.string(), pa.timestamp("us")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", {"c_custkey": pa.array(np.arange(n_cust), i64),
                       "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
                       "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                       "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), f64),
                       "c_mktsegment": pa.array(rng.choice(segs, n_cust), s)})
    write("supplier", {"s_suppkey": pa.array(np.arange(n_supp), i64),
                       "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
                       "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                       "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2), f64)})
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    write("part", {"p_partkey": pa.array(np.arange(n_part), i64),
                   "p_name": pa.array([f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)], s),
                   "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
                   "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                                  "STANDARD"], n_part), s),
                   "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                   "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", {"o_orderkey": pa.array(np.arange(n_ord), i64),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                     "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
                     "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
                     "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
                     "o_orderpriority": pa.array(rng.choice(prio, n_ord), s)})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_dates(rng, n_li, "1995-01-02", "2001-11-04"), ts)})
    base = np.datetime64("2024-01-01T00:00:00.000000")
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(base + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), i64),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.round(rng.uniform(0.01, 200, n_ev), 2), f64),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)], s)})
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n_doc)]
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64), "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], n_doc,
                                    p=[0.41, 0.15, 0.15, 0.15, 0.14]), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    v = rng.normal(size=(n_doc, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write("embeddings", {"vec_id": pa.array(np.arange(n_doc), i64),
                         "embedding": pa.array(list(v), pa.list_(pa.float32())),
                         "label": pa.array(rng.integers(0, 10, n_doc), i32)})


def oracle_pass(run: Run, sf: str, canon_rows) -> None:
    """Collect every query on Spark and compare it with its DuckDB oracle,
    canonicalized the way ``tools/check_oracle.py`` does; each mismatch is a
    failed check. The pass is untimed, so the Spark side runs the queries
    concurrently, one thread per core. It runs after the timed passes: by
    then the queries that write a fixture directory on first use have done
    so, and no two threads race to write it."""
    names = [n for n in QUERIES if n in ORACLE_SQL]

    def collect(name):
        return QUERIES[name](run.spark, sf).toPandas()

    with ThreadPoolExecutor(max_workers=run.cpus) as pool:
        frames = dict(zip(names, pool.map(collect, names)))
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name in names:
            spdf, dpdf = frames[name], con.execute(ORACLE_SQL[name]).df()
            ok = (sorted(spdf.columns) == sorted(dpdf.columns) and len(spdf) == len(dpdf)
                  and canon_rows(spdf) == canon_rows(dpdf))
            if not run.check(ok, f"query {name} differs from its DuckDB oracle"):
                run.final["oracle_mismatches"] = run.final.get("oracle_mismatches", 0) + 1
    finally:
        con.close()


def query_suite(run: Run, canon_rows) -> list[dict]:
    sf = run.path("sf")

    def setup(i: int) -> None:
        os.makedirs(sf, exist_ok=True)
        with run.tracer.span("bench.gen_tables"):
            gen_tables(sf, run.seed, run.size["query_scale"])

    run.repeat_setup(setup)
    # untimed, as in bench.py: one scan of each base table
    for t in ("documents", "embeddings", "events"):
        load(run.spark, sf, t).count()

    def one_pass(i: int) -> dict:
        times = {}
        with run.tracer.span("bench.suite", round=i) as suite:
            for name, fn in QUERIES.items():
                with run.tracer.span(f"plans.{name}", round=i) as s:
                    fn(run.spark, sf).write.format("noop").mode("overwrite").save()
                times[name] = span_s(s)
        run.op(len(times))
        return {"round_s": span_s(suite), "op_s": list(times.values()), "query_s": times}

    rounds = run.rounds(one_pass)
    oracle_pass(run, sf, canon_rows)
    return rounds
