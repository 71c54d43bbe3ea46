"""The benchmark workloads: ``generation``, whose op runs the ``star_noop``
and ``text_parquet`` parts, and ``corpus_dedup``.

Each workload derives its inputs from the seed in ``prepare`` (repeatable,
timed as set-up), runs one closed-loop ``op`` at a time (timed), and checks
the outputs of an op with Spark code of its own in ``check`` (untimed).
Checks never reuse the package's helpers: row counts, FK orphans by left
joins against the generated parents, an order-insensitive ``xxhash64`` fingerprint compared at two
partition counts and against parquet read-back, template shapes by regex,
and dedup results against what ``prepare`` planted.
"""

from __future__ import annotations

import os
import random
from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import dbldatagen_spark as dg
from dbldatagen_spark.core import resolve_plan
from dbldatagen_spark.functions import (
    duplicate_components,
    exact_dedup,
    minhash_near_duplicates,
)

# Sizes, chosen so one op takes a few seconds on a 4-core host (NOTES.md).
STAR_ORDERS = 1_000_000
STAR_PRODUCTS = 10_000
TEXT_ROWS = 30_000
CORPUS_BASE_DOCS = 1_000


def fingerprint(df: DataFrame):
    """(row count, order-insensitive sum of per-row xxhash64)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), row["h"]


def force_plan(df: DataFrame) -> None:
    """Spark planning of the emitted tree, ahead of the action."""
    df._jdf.queryExecution().executedPlan()


def land(tracer, df: DataFrame, write, exec_span: str = "exec") -> None:
    with tracer.span("plan"):
        force_plan(df)
    with tracer.span(exec_span):
        write(df)


def write_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    # untimed ops after the cold one, until op times level off (NOTES.md)
    settle_ops = 1

    def __init__(self, spark, seed: int, scratch: str):
        self.spark = spark
        self.seed = seed
        self.scratch = scratch
        self.cpus = spark.sparkContext.defaultParallelism

    def prepare(self) -> None:
        """Build the seeded inputs; called several times during set-up."""

    def op(self, tracer):
        raise NotImplementedError

    def after_op(self) -> None:
        """Untimed cleanup between ops."""

    def check(self, out) -> List[str]:
        raise NotImplementedError

    def trace_metrics(self, out) -> Dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# star_noop: core generate() of a 3-table star plan into the noop sink
# ---------------------------------------------------------------------------


class StarNoop(Workload):
    name = "star_noop"

    def prepare(self) -> None:
        # the seed changes values, never the amount of work
        rng = random.Random(self.seed)
        self.params = {
            "weights": [rng.randint(1, 9) for _ in range(4)],
            "zipf": 1.2,
            "null": 0.05,
            "mean": rng.uniform(300, 700),
        }

    def plan(self, order_partitions=None) -> dg.DataGenPlan:
        p = self.params
        customers = dg.TableSpec("customers", STAR_ORDERS // 10, [
            dg.ColumnSpec("customer_id", dg.PatternColumn("CUST-{seq:8}")),
            dg.ColumnSpec("email", dg.PatternColumn("user{digit:6}@{alpha:5}.example")),
            dg.ColumnSpec("tier", dg.ValuesColumn(
                ["gold", "silver", "bronze"], dg.WeightedValues([1, 3, 6]))),
            dg.ColumnSpec("signup", dg.DateColumn("2015-01-01", "2024-12-31")),
        ], primary_key="customer_id")
        products = dg.TableSpec("products", STAR_PRODUCTS, [
            dg.ColumnSpec("product_id", dg.SequenceColumn(start=1)),
            dg.ColumnSpec("sku", dg.PatternColumn("SKU-{hex:6}")),
            dg.ColumnSpec("price", dg.RangeColumn(1.0, 500.0), dtype="decimal(10,2)"),
        ], primary_key="product_id")
        cols = [
            dg.ColumnSpec("order_id", dg.SequenceColumn(start=1)),
            dg.ColumnSpec("customer_id", dg.ForeignKeyColumn("customers.customer_id")),
            dg.ColumnSpec("product_id", dg.ForeignKeyColumn(
                "products.product_id", dg.Zipf(p["zipf"]))),
            dg.ColumnSpec("qty", dg.RangeColumn(
                1, 20, distribution=dg.Zipf(p["zipf"] + 0.3)), dtype="int"),
            dg.ColumnSpec("amount", dg.RangeColumn(
                0.0, 1000.0, distribution=dg.Normal(p["mean"], 150.0)),
                dtype="double", nullable=True, null_fraction=p["null"]),
            dg.ColumnSpec("status", dg.ValuesColumn(
                ["new", "paid", "shipped", "returned"], dg.WeightedValues(p["weights"]))),
            dg.ColumnSpec("code", dg.PatternColumn("ORD-{digit:6}-{alpha:2}")),
            dg.ColumnSpec("ordered_at", dg.TimestampColumn(
                "2024-01-01 00:00:00", "2024-12-31 23:59:59")),
            dg.ColumnSpec("ship_date", dg.DateColumn("2024-01-01", "2025-01-31")),
            dg.ColumnSpec("total", dg.ExpressionColumn("qty * amount")),
        ]
        for i in range(10):
            cols.append(dg.ColumnSpec(
                f"f{i}", dg.RangeColumn(0, 10 ** (i % 5 + 2)), dtype="int",
                nullable=True, null_fraction=p["null"]))
        orders = dg.TableSpec("orders", STAR_ORDERS, cols, partitions=order_partitions)
        return dg.DataGenPlan([customers, products, orders], seed=self.seed)

    def op(self, tracer):
        with tracer.span("plans.validate"):
            plan = self.plan()
            resolve_plan(plan)
        with tracer.span("generator.build"):
            tables = dg.generate(self.spark, plan)
        for df in tables.values():
            land(tracer, df, write_noop)
        return plan, tables

    def check(self, out) -> List[str]:
        plan, tables = out
        failures = []
        counts = {name: tables[name].count() for name in ("customers", "products")}
        # one pass over orders: row count, fingerprint and FK orphans, by
        # left joins against the generated parents (a duplicate parent key
        # would show up as extra rows)
        orders = tables["orders"]
        joined = orders
        for key, parent in (("customer_id", "customers"), ("product_id", "products")):
            found = tables[parent].select(key, F.lit(True).alias(f"_{parent}"))
            joined = joined.join(F.broadcast(found), key, "left")
        row = joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*orders.columns).cast("decimal(38,0)")).alias("h"),
            F.sum((F.col("_customers").isNull() | F.col("_products").isNull()).cast("int"))
            .alias("orphans"),
        ).first()
        counts["orders"] = row["n"]
        for name, n in counts.items():
            if n != plan.table(name).rows:
                failures.append(f"{name}: {n} rows, spec says {plan.table(name).rows}")
        if row["orphans"]:
            failures.append(f"orders: {row['orphans']} FK orphans")
        other = dg.generate(self.spark, self.plan(order_partitions=2 * self.cpus + 1))
        if (row["n"], row["h"]) != fingerprint(other["orders"]):
            failures.append("orders: fingerprint depends on partition count")
        return failures


# ---------------------------------------------------------------------------
# text_parquet: v0 pandas-UDF text columns written through the parquet sink
# ---------------------------------------------------------------------------

TEMPLATES = {
    "phone": ("ddd-ddd-dddd", r"^[0-9]{3}-[0-9]{3}-[0-9]{4}$"),
    "email": (r"\w.\w@\w.com", r"^[a-z]+\.[a-z]+@[a-z]+\.com$"),
    "code": ("KKKK-dddd|AAAA-Dddd", r"^([A-Z0-9]{4}-[0-9]{4}|[A-Z]{4}-[1-9][0-9]{3})$"),
}


class TextParquet(Workload):
    name = "text_parquet"

    def prepare(self) -> None:
        rng = random.Random(self.seed)
        self.weights = [rng.randint(1, 9) for _ in range(3)]
        self.words = (rng.randint(3, 5), rng.randint(6, 9))
        self.path = os.path.join(self.scratch, "out", "text")

    def generator(self, partitions=None) -> dg.DataGenerator:
        gen = dg.DataGenerator(self.spark, name="text", rows=TEXT_ROWS,
                               partitions=partitions or self.cpus, randomSeed=self.seed)
        for name, (template, _) in TEMPLATES.items():
            gen.withColumn(name, "string", template=template)
        gen.withColumn("body", "string", text=dg.ILText(
            paragraphs=1, sentences=(1, 3), words=self.words))
        gen.withColumn("qty", "int", minValue=1, maxValue=100, random=True)
        gen.withColumn("price", "double", minValue=1.0, maxValue=500.0, random=True)
        gen.withColumn("status", "string", values=["new", "paid", "shipped"],
                       weights=self.weights, random=True)
        gen.withConstraint(dg.PositiveValues("qty"))
        return gen

    def op(self, tracer):
        with tracer.span("datagen.build"):
            df = self.generator().build()
        sink = dg.OutputDataset(location=self.path, mode="overwrite")
        with tracer.span("plan"):
            force_plan(df)
        with tracer.span("sinks.write"):
            dg.write_data_to_output(df, sink)
        return df

    def check(self, df) -> List[str]:
        failures = []
        back = self.spark.read.parquet(self.path)
        n, h = fingerprint(back)
        if n != TEXT_ROWS:
            failures.append(f"parquet: {n} rows, spec says {TEXT_ROWS}")
        # the parquet was written at the default partition count, so one
        # in-memory recompute at another count checks both the read-back
        # and partition invariance
        if (n, h) != fingerprint(self.generator(partitions=2 * self.cpus + 1).build()):
            failures.append("parquet read-back differs from in-memory data "
                            "at another partition count")
        bad = back.agg(*[
            F.sum((~F.col(name).rlike(regex)).cast("int")).alias(name)
            for name, (_, regex) in TEMPLATES.items()
        ]).first().asDict()
        failures += [f"{k}: {v} values off the template shape" for k, v in bad.items() if v]
        return failures

    def trace_metrics(self, out) -> Dict[str, float]:
        files = [os.path.join(self.path, f) for f in os.listdir(self.path)
                 if f.startswith("part-")]
        return {"sinks.files": len(files),
                "sinks.bytes": sum(os.path.getsize(f) for f in files)}


# ---------------------------------------------------------------------------
# corpus_dedup: exact + MinHash-LSH + components over a planted corpus
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    name = "corpus_dedup"
    settle_ops = 4
    MINHASH = dict(k=3, threshold=0.5, num_hashes=32, bands=16)

    def prepare(self) -> None:
        """Base documents of random words, plus planted copies of disjoint
        bases: exact copies (groups of 2-3), near copies (one word replaced,
        3-shingle Jaccard >= 0.8) and decoys (second half rewritten, Jaccard
        ~0.3) that LSH proposes but verification must reject."""
        rng = random.Random(self.seed)
        vocab = sorted({"".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=rng.randint(3, 9)))
                        for _ in range(20_000)})
        base = [[rng.choice(vocab) for _ in range(rng.randint(30, 50))]
                for _ in range(CORPUS_BASE_DOCS)]
        picks = rng.sample(range(CORPUS_BASE_DOCS), 3 * (CORPUS_BASE_DOCS // 10))
        exact_src, near_src, decoy_src = picks[0::3], picks[1::3], picks[2::3]
        docs = list(base)
        groups = {i: [i] for i in exact_src + near_src}
        for i in exact_src:
            for _ in range(rng.randint(1, 2)):
                groups[i].append(len(docs))
                docs.append(base[i])
        for i in near_src:
            words = list(base[i])
            words[rng.randrange(1, len(words) - 1)] = rng.choice(vocab) + "x"
            groups[i].append(len(docs))
            docs.append(words)
        for i in decoy_src:
            half = len(base[i]) // 2
            docs.append(base[i][:half] + [rng.choice(vocab) + "y" for _ in base[i][half:]])
        ids = list(range(len(docs)))
        rng.shuffle(ids)
        rows = [(ids[k], " ".join(words)) for k, words in enumerate(docs)]
        id_groups = {src: sorted(ids[k] for k in g) for src, g in groups.items()}
        self.n_docs = len(rows)
        self.exact_groups = [id_groups[i] for i in exact_src]
        self.expected_pairs = {(a, b) for g in id_groups.values()
                               for x, a in enumerate(g) for b in g[x + 1:]}
        self.expected_components = {v: g[0] for g in id_groups.values() for v in g}
        self.path = os.path.join(self.scratch, "input", f"corpus-{self.seed}")
        self.out = os.path.join(self.scratch, "out", "dedup")
        self.spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite").parquet(self.path)

    def op(self, tracer):
        spark = self.spark
        docs = spark.read.parquet(self.path)
        paths = {k: os.path.join(self.out, k) for k in ("exact", "pairs", "components")}

        def write_to(key):
            return lambda df: df.write.mode("overwrite").parquet(paths[key])

        with tracer.span("dedup.exact_dedup.build"):
            exact = exact_dedup(docs, "doc_id", "text")
        land(tracer, exact, write_to("exact"), "dedup.exact_dedup.exec")
        with tracer.span("dedup.minhash_near_duplicates.build"):
            pairs = minhash_near_duplicates(docs, "doc_id", "text", **self.MINHASH)
        land(tracer, pairs, write_to("pairs"), "dedup.minhash_near_duplicates.exec")
        with tracer.span("dedup.duplicate_components.build"):
            comps = duplicate_components(spark.read.parquet(paths["pairs"]))
        land(tracer, comps, write_to("components"), "dedup.duplicate_components.exec")
        return paths

    def after_op(self) -> None:
        # minhash_near_duplicates leaves its hashed shingles cached; drop
        # them so every op pays the full pipeline
        self.spark.catalog.clearCache()

    def check(self, paths) -> List[str]:
        spark = self.spark
        failures = []
        exact = spark.read.parquet(paths["exact"])
        n_distinct = self.n_docs - sum(len(g) - 1 for g in self.exact_groups)
        if exact.count() != n_distinct:
            failures.append(f"exact_dedup: {exact.count()} rows, expected {n_distinct}")
        dup_groups = {(r["doc_id"], r["dup_count"])
                      for r in exact.where("dup_count > 1").collect()}
        if dup_groups != {(g[0], len(g)) for g in self.exact_groups}:
            failures.append(f"exact_dedup: {len(dup_groups)} duplicate groups, "
                            f"planted {len(self.exact_groups)}")
        found = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(paths["pairs"]).collect()}
        missed = self.expected_pairs - found
        if missed or found - self.expected_pairs:
            failures.append(f"minhash: recall {1 - len(missed) / len(self.expected_pairs):.4f}, "
                            f"{len(found - self.expected_pairs)} unplanted pairs")
        comps = {r["vertex"]: r["component"]
                 for r in spark.read.parquet(paths["components"]).collect()}
        if comps != self.expected_components:
            failures.append("duplicate_components: clusters differ from the planted groups")
        return failures

    def trace_metrics(self, paths) -> Dict[str, float]:
        docs = self.spark.read.parquet(self.path)
        params = dict(self.MINHASH, verify=False)
        candidates = minhash_near_duplicates(docs, "doc_id", "text", **params).count()
        verified = self.spark.read.parquet(paths["pairs"]).count()
        self.spark.catalog.clearCache()
        return {"dedup.candidates": candidates,
                "dedup.verified_over_candidates": verified / candidates}


class Generation(Workload):
    """``star_noop`` then ``text_parquet`` in one op: both API layers (core
    and v0), the Catalyst-only and the pandas-UDF paths, the noop and the
    file sink."""

    name = "generation"

    def __init__(self, spark, seed: int, scratch: str):
        super().__init__(spark, seed, scratch)
        self.parts = (StarNoop(spark, seed, scratch), TextParquet(spark, seed, scratch))

    def prepare(self) -> None:
        for part in self.parts:
            part.prepare()

    def op(self, tracer):
        return tuple(part.op(tracer) for part in self.parts)

    def check(self, out) -> List[str]:
        return [f for part, o in zip(self.parts, out) for f in part.check(o)]

    def trace_metrics(self, out) -> Dict[str, float]:
        metrics: Dict[str, float] = {}
        for part, o in zip(self.parts, out):
            metrics.update(part.trace_metrics(o))
        return metrics


WORKLOADS = {w.name: w for w in (Generation, CorpusDedup)}
