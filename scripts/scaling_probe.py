"""Scaling probe: does the sf0.1 -> sf1 (10x rows) wall-time ratio stay
near-linear for the heaviest headline queries?

The bench only ever runs at sf0.1; this script builds a 10x-scale
events/documents/embeddings set with the repo's own generator (the
generator is the product), runs the 5 heaviest headline queries at
both scales in one session, and prints the ratio table that
docs/PROFILES.md records.  A ratio near 10 validates the linear-scan
claims; anything superlinear names the next optimization target.

The synthetic sf1 tables mirror the driver testdata's statistical
shape at 10x: 1M events / 15k users / 5 event types over 30 days,
50k documents of ~50-word soup from a ~30-token vocabulary across 5
languages and 20 sources, 20k 64-d embeddings in 10 label classes,
PLUS the full TPC-H-ish star (6M lineitem / 1.5M orders / 150k
customer / 200k part / 10k supplier / 25 nation / 5 region, same
value domains and key ranges as the driver set) so the ENTIRE
headline bench runs at sf1:

    python scripts/scaling_probe.py --dir /tmp/sf1-scale gen
    SPARK_GRAFT_SF_DIR=/tmp/sf1-scale python bench.py   # sf1 lane

Everything is pure-Catalyst generation (no UDFs) — writing sf1 takes
seconds.  bench.py records the run under the sf1 steady lane
(bench_steady.json is two-lane; scripts/update_steady.py folds sf1
outputs in via the BENCH_sf1*.json glob or explicit paths).

Usage:
    python scripts/scaling_probe.py [--dir /tmp/sf1-scale]
        [--queries q1,q2,...] [gen|run|all]

``--queries`` overrides the default heavy-headline list — any registry
query that reads only events/documents/embeddings works.
"""

from __future__ import annotations

import json
import os
import sys

from measure import best_of

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"

HEAVY = [
    "dedup_minhash_lsh",
    "events_sessionize",
    "events_ewma",
    "events_cms_heavy_hitters",
    "text_quality",
]

VOCAB = [
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "vector", "query",
    "agg", "table", "key", "stream", "filter", "customer", "the",
    "window", "join", "shuffle", "page", "row", "index", "cache",
]


def generate(spark, out_dir: str) -> None:
    from dbldatagen_spark import DataGenerator

    vocab_sql = "array(" + ", ".join(f"'{w}'" for w in VOCAB) + ")"
    os.makedirs(out_dir, exist_ok=True)

    events = (
        DataGenerator(spark, name="events_sf1", rows=1_000_000, partitions=32)
        .withColumn("event_id", "long", uniqueValues=1_000_000)
        .withColumn("ts", "timestamp", begin="2024-01-01 00:00:00",
                    end="2024-01-30 23:59:59", random=True)
        .withColumn("user_id", "long", minValue=1, maxValue=15_000,
                    random=True)
        .withColumn("event_type", "string",
                    values=["click", "error", "purchase", "signup", "view"],
                    random=True)
        .withColumn("value", "double", minValue=0.0, maxValue=100.0,
                    random=True)
        .withColumn("props", "string",
                    expr="concat('{\"k\": ', pmod(xxhash64(id, 7), 100), '}')")
        .build()
    )
    events.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    documents = (
        DataGenerator(spark, name="documents_sf1", rows=50_000, partitions=32)
        .withColumn("doc_id", "long", uniqueValues=50_000)
        .withColumn("text", "string", expr=(
            "array_join(transform(sequence(1, 40 + int(pmod(xxhash64(id, 1),"
            " 21))), i -> element_at(" + vocab_sql +
            ", int(pmod(xxhash64(id, i + 100), 30)) + 1)), ' ')"))
        .withColumn("lang", "string",
                    values=["en", "zh", "es", "de", "fr"],
                    weights=[41, 15, 15, 14, 15], random=True)
        .withColumn("source", "string",
                    values=[f"src{i}" for i in range(20)], random=True)
        .withColumn("n_chars", "long", expr="length(text)",
                    baseColumn="text")
        .build()
    )
    documents.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    embeddings = (
        DataGenerator(spark, name="embeddings_sf1", rows=20_000, partitions=32)
        .withColumn("vec_id", "long", uniqueValues=20_000)
        .withColumn("embedding", "array<float>", expr=(
            "transform(sequence(1, 64), i -> cast(cast(pmod(xxhash64(id, i),"
            " 9007199254740992) as double) / 4503599627370496.0 - 1.0"
            " as float))"))
        .withColumn("label", "integer", minValue=0, maxValue=9, random=True)
        .build()
    )
    embeddings.write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    # TPC-H-ish star schema at 10x the driver sf0.1 shape, so the FULL
    # headline set (q1/q3/q5/q9 included) runs at sf1 — value domains
    # and key ranges mirror /root/testdata (join selectivities and
    # filter fractions carry over): 6M lineitem / 1.5M orders / 150k
    # customer / 200k part / 10k supplier / 25 nation / 5 region.
    region = spark.createDataFrame(
        [(i, n) for i, n in enumerate(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
        "r_regionkey int, r_name string",
    )
    region.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/region.parquet")

    nation = spark.createDataFrame(
        [(i, f"NATION_{i}", i % 5) for i in range(25)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    nation.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/nation.parquet")

    customer = (
        DataGenerator(spark, name="customer_sf1", rows=150_000, partitions=16)
        .withColumn("c_custkey", "long", uniqueValues=150_000)
        .withColumn("c_name", "string",
                    expr="concat('Customer#', lpad(cast(id as string), 9, '0'))")
        .withColumn("c_nationkey", "integer", minValue=0, maxValue=24,
                    random=True)
        .withColumn("c_acctbal", "double", minValue=-999.99,
                    maxValue=9999.99, random=True)
        .withColumn("c_mktsegment", "string",
                    values=["AUTOMOBILE", "BUILDING", "FURNITURE",
                            "HOUSEHOLD", "MACHINERY"], random=True)
        .build()
    )
    customer.write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    supplier = (
        DataGenerator(spark, name="supplier_sf1", rows=10_000, partitions=8)
        .withColumn("s_suppkey", "long", uniqueValues=10_000)
        .withColumn("s_name", "string",
                    expr="concat('Supplier#', lpad(cast(id as string), 9, '0'))")
        .withColumn("s_nationkey", "integer", minValue=0, maxValue=24,
                    random=True)
        .withColumn("s_acctbal", "double", minValue=-999.99,
                    maxValue=9999.99, random=True)
        .build()
    )
    supplier.write.mode("overwrite").parquet(f"{out_dir}/supplier.parquet")

    # p_name = "adjective noun" with 'gear' one of 8 nouns (q9's LIKE
    # '%gear%' keeps ~1/8 of parts, the driver-testdata fraction)
    adjectives = ("large hot blue old small red green new shiny plain "
                  "dark light").split()
    nouns = "ring bolt gear plate wheel cap rod pin".split()
    adj_sql = "array(" + ", ".join(f"'{w}'" for w in adjectives) + ")"
    noun_sql = "array(" + ", ".join(f"'{w}'" for w in nouns) + ")"
    part = (
        DataGenerator(spark, name="part_sf1", rows=200_000, partitions=16)
        .withColumn("p_partkey", "long", uniqueValues=200_000)
        .withColumn("p_name", "string", expr=(
            f"concat(element_at({adj_sql}, int(pmod(xxhash64(id, 11), 12))"
            f" + 1), ' ', element_at({noun_sql},"
            f" int(pmod(xxhash64(id, 13), 8)) + 1))"))
        .withColumn("p_brand", "string",
                    expr="concat('Brand#', pmod(xxhash64(id, 17), 25))")
        .withColumn("p_type", "string",
                    values=["ECONOMY", "SMALL", "MEDIUM", "LARGE",
                            "STANDARD", "PROMO"], random=True)
        .withColumn("p_size", "integer", minValue=1, maxValue=50,
                    random=True)
        .withColumn("p_retailprice", "double", minValue=900.0,
                    maxValue=999.9, random=True)
        .build()
    )
    part.write.mode("overwrite").parquet(f"{out_dir}/part.parquet")

    orders = (
        DataGenerator(spark, name="orders_sf1", rows=1_500_000,
                      partitions=32)
        .withColumn("o_orderkey", "long", uniqueValues=1_500_000)
        .withColumn("o_custkey", "long", minValue=0, maxValue=149_999,
                    random=True)
        .withColumn("o_orderstatus", "string", values=["O", "F", "P"],
                    weights=[5, 4, 1], random=True)
        .withColumn("o_totalprice", "double", minValue=1000.0,
                    maxValue=400_000.0, random=True)
        .withColumn("o_orderdate", "timestamp", begin="1995-01-01 00:00:00",
                    end="2001-08-01 00:00:00", random=True)
        .withColumn("o_orderpriority", "string",
                    values=["1-URGENT", "2-HIGH", "3-MEDIUM",
                            "4-NOT SPECIFIED", "5-LOW"], random=True)
        .build()
    )
    orders.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    lineitem = (
        DataGenerator(spark, name="lineitem_sf1", rows=6_000_000,
                      partitions=32)
        .withColumn("l_orderkey", "long", minValue=0, maxValue=1_499_999,
                    random=True)
        .withColumn("l_partkey", "long", minValue=0, maxValue=199_999,
                    random=True)
        .withColumn("l_suppkey", "long", minValue=0, maxValue=9_999,
                    random=True)
        .withColumn("l_linenumber", "integer", minValue=1, maxValue=7,
                    random=True)
        .withColumn("l_quantity", "double", minValue=1.0, maxValue=50.0,
                    step=1.0, random=True)
        .withColumn("l_extendedprice", "double", minValue=900.0,
                    maxValue=105_000.0, random=True)
        .withColumn("l_discount", "double", minValue=0.0, maxValue=0.1,
                    step=0.01, random=True)
        .withColumn("l_tax", "double", minValue=0.0, maxValue=0.08,
                    step=0.01, random=True)
        .withColumn("l_returnflag", "string", values=["A", "N", "R"],
                    weights=[1, 2, 1], random=True)
        .withColumn("l_linestatus", "string", values=["O", "F"],
                    random=True)
        .withColumn("l_shipdate", "timestamp", begin="1995-01-02 00:00:00",
                    end="2001-11-04 00:00:00", random=True)
        .build()
    )
    lineitem.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    for t in ("events", "documents", "embeddings", "region", "nation",
              "customer", "supplier", "part", "orders", "lineitem"):
        n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"  generated {t}: {n} rows")


def run(spark, sf1_dir: str, queries=None) -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    heavy = list(queries) if queries else HEAVY
    # hot page cache on both scales before any timed run
    for d in (SF01, sf1_dir):
        for t in ("events", "documents", "embeddings"):
            df = spark.read.parquet(f"{d}/{t}.parquet")
            df.selectExpr(
                "count(xxhash64(" + ", ".join(df.columns) + "))"
            ).collect()

    report = {}
    for name in heavy:
        t_small = best_of(lambda: qs[name](spark, SF01).collect(), 2)
        t_big = best_of(lambda: qs[name](spark, sf1_dir).collect(), 2)
        report[name] = {
            "sf0.1_sec": t_small,
            "sf1_sec": t_big,
            "ratio": round(t_big / max(t_small, 1e-9), 2),
        }
        print(f"  {name}: {t_small}s -> {t_big}s  ratio "
              f"{report[name]['ratio']}")
    print(json.dumps({"metric": "sf1_over_sf01", "queries": report}))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    out_dir = "/tmp/sf1-scale"
    queries = None
    if "--dir" in args:
        i = args.index("--dir")
        out_dir = args[i + 1]
        del args[i:i + 2]
    if "--queries" in args:
        i = args.index("--queries")
        queries = [q for q in args[i + 1].split(",") if q]
        del args[i:i + 2]
    mode = args[0] if args else "all"
    from dbldatagen_spark.session import tool_session

    spark = tool_session(
        "scaling-probe",
        int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    if mode in ("gen", "all"):
        print(f"generating sf1 set at {out_dir} ...")
        generate(spark, out_dir)
    if mode in ("run", "all"):
        print("timing heavy queries at sf0.1 vs sf1 ...")
        run(spark, out_dir, queries)
    spark.stop()


if __name__ == "__main__":
    main()
