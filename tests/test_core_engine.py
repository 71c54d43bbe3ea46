"""Core engine tests: builders, determinism, nulls, FK integrity.

Modeled on the reference's test strategy (SURVEY §5): two-build equality as
the repeatability oracle, repartition invariance, distribution shape within
tolerance, referential integrity without joins.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from dbldatagen_spark import (
    ColumnSpec,
    ConstantColumn,
    DataGenPlan,
    DateColumn,
    ExpressionColumn,
    Exponential,
    ForeignKeyColumn,
    Normal,
    PatternColumn,
    RangeColumn,
    SequenceColumn,
    TableSpec,
    TimestampColumn,
    Uniform,
    UUIDColumn,
    ValuesColumn,
    WeightedValues,
    Zipf,
    generate,
    generate_table,
)
from dbldatagen_spark.plans.spec import SpecValidationError


def df_fingerprint(df):
    rows = sorted(tuple(str(x) for x in r) for r in df.collect())
    return hashlib.md5(repr(rows).encode()).hexdigest()


def basic_table(rows=2000, partitions=4, name="t"):
    return TableSpec(
        name,
        rows,
        columns=[
            ColumnSpec("pk", SequenceColumn(start=1, step=1), dtype="long"),
            ColumnSpec("code1", RangeColumn(100, 200), dtype="int"),
            ColumnSpec("amount", RangeColumn(5.0, 500.0), dtype="double"),
            ColumnSpec(
                "status",
                ValuesColumn(
                    ["pending", "shipped", "delivered", "cancelled"],
                    WeightedValues([0.1, 0.2, 0.6, 0.1]),
                ),
            ),
            ColumnSpec("ts", TimestampColumn("2022-01-01 00:00:00", "2024-12-31 23:59:59")),
            ColumnSpec("d", DateColumn("2020-01-01", "2020-12-31")),
            ColumnSpec("u", UUIDColumn()),
            ColumnSpec("ordcode", PatternColumn("ORD-{digit:4}-{alpha:3}")),
            ColumnSpec("maybe", RangeColumn(0, 100), dtype="int", nullable=True, null_fraction=0.12),
            ColumnSpec("derived", ExpressionColumn("code1 * 2 + 1")),
            ColumnSpec("tag", ConstantColumn("x")),
        ],
        primary_key="pk",
        partitions=partitions,
    )


class TestDeterminism:
    def test_two_builds_identical(self, spark):
        t = basic_table()
        assert df_fingerprint(generate_table(spark, t, seed=42)) == df_fingerprint(
            generate_table(spark, t, seed=42)
        )

    def test_partition_count_invariance(self, spark):
        h1 = df_fingerprint(generate_table(spark, basic_table(partitions=2), seed=42))
        h2 = df_fingerprint(generate_table(spark, basic_table(partitions=17), seed=42))
        assert h1 == h2

    def test_different_seed_differs(self, spark):
        t = basic_table()
        assert df_fingerprint(generate_table(spark, t, seed=42)) != df_fingerprint(
            generate_table(spark, t, seed=43)
        )

    def test_column_decorrelation(self, spark):
        t = TableSpec(
            "c",
            5000,
            columns=[
                ColumnSpec("a", RangeColumn(0, 9), dtype="int"),
                ColumnSpec("b", RangeColumn(0, 9), dtype="int"),
            ],
        )
        df = generate_table(spark, t, seed=1)
        same = df.where(F.col("a") == F.col("b")).count()
        assert 0.05 < same / 5000 < 0.15  # ~10% if independent


class TestBuilders:
    def test_sequence(self, spark):
        t = TableSpec(
            "s", 100,
            columns=[ColumnSpec("pk", SequenceColumn(start=10, step=5), dtype="long")],
        )
        vals = [r.pk for r in generate_table(spark, t, seed=1).collect()]
        assert vals == list(range(10, 10 + 5 * 100, 5))

    def test_int_range_bounds_and_lattice(self, spark):
        t = TableSpec(
            "r", 3000,
            columns=[ColumnSpec("x", RangeColumn(0, 40, step=5), dtype="int")],
        )
        df = generate_table(spark, t, seed=1)
        distinct = {r.x for r in df.select("x").distinct().collect()}
        assert distinct <= {0, 5, 10, 15, 20, 25, 30, 35, 40}
        assert len(distinct) == 9

    def test_float_step_lattice(self, spark):
        t = TableSpec(
            "f", 3000,
            columns=[ColumnSpec("x", RangeColumn(1.0, 5.0, step=0.5), dtype="float")],
        )
        distinct = {r.x for r in generate_table(spark, t, seed=1).select("x").distinct().collect()}
        assert distinct <= {1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0}
        assert len(distinct) == 9

    def test_decimal_scale(self, spark):
        t = TableSpec(
            "dec", 500,
            columns=[ColumnSpec("x", RangeColumn(0.0, 1000.0), dtype="decimal(10,3)")],
        )
        df = generate_table(spark, t, seed=1)
        assert str(df.schema["x"].dataType) == "DecimalType(10,3)"
        mn, mx = df.agg(F.min("x"), F.max("x")).first()
        assert float(mn) >= 0.0 and float(mx) <= 1000.0

    def test_temporal_bounds_inclusive(self, spark):
        t = TableSpec(
            "tt", 5000,
            columns=[
                ColumnSpec("ts", TimestampColumn("2020-01-01 00:00:00", "2020-12-31 23:59:59", interval_seconds=3600)),
                ColumnSpec("d", DateColumn("2020-01-01", "2020-12-31")),
            ],
        )
        df = generate_table(spark, t, seed=1)
        lo_ts, hi_ts, lo_d, hi_d = df.agg(
            F.min("ts"), F.max("ts"), F.min("d"), F.max("d")
        ).first()
        assert str(lo_ts) >= "2020-01-01 00:00:00" and str(hi_ts) <= "2020-12-31 23:59:59"
        assert str(lo_d) >= "2020-01-01" and str(hi_d) <= "2020-12-31"
        # hour lattice
        assert df.where(F.minute("ts") != 0).count() == 0

    def test_values_cyclic_nonrandom(self, spark):
        from dbldatagen_spark.operators.strings import values_expr
        from dbldatagen_spark.operators.seed import ROW_ID_COL

        df = spark.range(9).withColumnRenamed("id", ROW_ID_COL)
        out = df.select(
            F.expr(values_expr(["a", "b", "c"], ROW_ID_COL, Uniform(), random=False,
                               id_col=ROW_ID_COL)).alias("v")
        )
        assert [r.v for r in out.collect()] == ["a", "b", "c"] * 3

    def test_uuid_shape(self, spark):
        t = TableSpec("u", 200, columns=[ColumnSpec("u", UUIDColumn())])
        df = generate_table(spark, t, seed=1)
        ok = df.where(
            F.col("u").rlike("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
        ).count()
        assert ok == 200
        assert df.select("u").distinct().count() == 200

    def test_pattern_shape(self, spark):
        t = TableSpec(
            "p", 300,
            columns=[ColumnSpec("c", PatternColumn("ORD-{digit:4}-{alpha:3}-{hex:2}-{seq:5}"))],
        )
        df = generate_table(spark, t, seed=1)
        ok = df.where(F.col("c").rlike(r"^ORD-\d{4}-[A-Z]{3}-[0-9a-f]{2}-\d{5}$")).count()
        assert ok == 300

    def test_expression_column_inferred(self, spark):
        t = TableSpec(
            "e", 10,
            columns=[
                ColumnSpec("a", RangeColumn(1, 5), dtype="int"),
                ColumnSpec("b", ExpressionColumn("a * 1.5")),
            ],
        )
        df = generate_table(spark, t, seed=1)
        assert df.schema["b"].dataType.typeName() in ("double", "decimal")

    def test_expression_dependency_ordering(self, spark):
        t = TableSpec(
            "dep", 10,
            columns=[
                ColumnSpec("c", ExpressionColumn("b + 1")),
                ColumnSpec("b", ExpressionColumn("a + 1")),
                ColumnSpec("a", SequenceColumn(start=0, step=1), dtype="long"),
            ],
        )
        row = generate_table(spark, t, seed=1).where("a = 4").first()
        assert row.b == 5 and row.c == 6

    def test_null_fraction(self, spark):
        t = TableSpec(
            "n", 10000,
            columns=[ColumnSpec("x", RangeColumn(0, 100), dtype="int", nullable=True, null_fraction=0.25)],
        )
        nulls = generate_table(spark, t, seed=1).where(F.col("x").isNull()).count()
        assert abs(nulls / 10000 - 0.25) < 0.03


class TestDistributions:
    def test_weighted_ratios(self, spark):
        t = TableSpec(
            "w", 30000,
            columns=[
                ColumnSpec(
                    "v",
                    ValuesColumn(["a", "b", "c"], WeightedValues([9, 1, 1])),
                )
            ],
        )
        counts = {
            r.v: r["count"]
            for r in generate_table(spark, t, seed=1).groupBy("v").count().collect()
        }
        total = sum(counts.values())
        assert abs(counts["a"] / total - 9 / 11) < 0.05
        assert abs(counts["b"] / total - 1 / 11) < 0.03

    def test_normal_shape(self, spark):
        t = TableSpec(
            "nm", 20000,
            columns=[ColumnSpec("x", RangeColumn(0.0, 1.0, distribution=Normal()), dtype="double")],
        )
        mean, std = generate_table(spark, t, seed=1).agg(F.mean("x"), F.stddev("x")).first()
        assert abs(mean - 0.5) < 0.02
        assert abs(std - 1 / 6) < 0.02

    def test_zipf_skew(self, spark):
        t = TableSpec(
            "z", 20000,
            columns=[ColumnSpec("x", RangeColumn(0, 999, distribution=Zipf(1.5)), dtype="int")],
        )
        df = generate_table(spark, t, seed=1)
        top = df.groupBy("x").count().orderBy(F.desc("count")).first()
        assert top["x"] == 0  # rank-1 dominates
        assert top["count"] / 20000 > 0.05  # far above uniform 1/1000

    def test_exponential_skew(self, spark):
        t = TableSpec(
            "ex", 20000,
            columns=[ColumnSpec("x", RangeColumn(0, 99, distribution=Exponential(1.0)), dtype="int")],
        )
        df = generate_table(spark, t, seed=1)
        med = df.agg(F.expr("percentile_approx(x, 0.5)")).first()[0]
        assert med < 20  # mass concentrated at low values


class TestMultiTable:
    def plan(self):
        customers = TableSpec(
            "customers",
            200,
            columns=[
                ColumnSpec("customer_id", SequenceColumn(start=1, step=1), dtype="long"),
                ColumnSpec("name", ValuesColumn(["Alice", "Bob", "Carol", "Dave"])),
                ColumnSpec("signup_date", TimestampColumn("2022-01-01 00:00:00", "2024-12-31 23:59:59")),
            ],
            primary_key="customer_id",
        )
        orders = TableSpec(
            "orders",
            1000,
            columns=[
                ColumnSpec("order_id", SequenceColumn(start=1, step=1), dtype="long"),
                ColumnSpec(
                    "customer_id",
                    ForeignKeyColumn("customers.customer_id", distribution=Zipf(1.2)),
                ),
                ColumnSpec("amount", RangeColumn(5.0, 500.0), dtype="double"),
                ColumnSpec(
                    "status",
                    ValuesColumn(
                        ["pending", "shipped", "delivered", "cancelled"],
                        WeightedValues([0.1, 0.2, 0.6, 0.1]),
                    ),
                ),
            ],
            primary_key="order_id",
        )
        return DataGenPlan([customers, orders], seed=42)

    def test_referential_integrity_no_join(self, spark):
        dfs = generate(spark, self.plan())
        parents = {r.customer_id for r in dfs["customers"].select("customer_id").collect()}
        children = {r.customer_id for r in dfs["orders"].select("customer_id").collect()}
        assert children <= parents

    def test_zipf_fk_skew(self, spark):
        dfs = generate(spark, self.plan())
        top = (
            dfs["orders"].groupBy("customer_id").count().orderBy(F.desc("count")).first()
        )
        assert top["count"] / 1000 > 1.5 / 200  # above uniform expectation

    def test_generation_order_parents_first(self):
        from dbldatagen_spark.plans.planner import resolve_plan

        resolved = resolve_plan(self.plan())
        assert resolved.generation_order == ["customers", "orders"]

    def test_uuid_pk_reconstruction(self, spark):
        parent = TableSpec(
            "p", 50,
            columns=[ColumnSpec("pid", UUIDColumn())],
            primary_key="pid",
        )
        child = TableSpec(
            "c", 500,
            columns=[
                ColumnSpec("cid", SequenceColumn(), dtype="long"),
                ColumnSpec("pid", ForeignKeyColumn("p.pid", distribution=Uniform())),
            ],
            primary_key="cid",
        )
        dfs = generate(spark, DataGenPlan([parent, child], seed=7))
        parents = {r.pid for r in dfs["p"].collect()}
        children = {r.pid for r in dfs["c"].select("pid").collect()}
        assert children <= parents
        assert len(children) > 10  # actually spread across parents


class TestValidation:
    def test_fk_unknown_parent(self):
        with pytest.raises(SpecValidationError):
            generate_plan = DataGenPlan(
                [
                    TableSpec(
                        "c", 10,
                        columns=[ColumnSpec("x", ForeignKeyColumn("nope.pk"))],
                    )
                ]
            )
            from dbldatagen_spark.plans.planner import resolve_plan

            resolve_plan(generate_plan)

    def test_sequence_overflow_rejected(self):
        with pytest.raises(SpecValidationError):
            TableSpec(
                "o", 10**10,
                columns=[ColumnSpec("x", SequenceColumn(start=2**62, step=10**9), dtype="long")],
            )

    def test_expression_dtype_rejected(self):
        with pytest.raises(SpecValidationError):
            ColumnSpec("x", ExpressionColumn("1+1"), dtype="int")

    @pytest.mark.parametrize("name", ["__synth_row_id", "__SYNTH_ROW_ID"])
    def test_row_id_name_is_reserved(self, name):
        # the generator builds every table over this column: a spec
        # column of the same name would be an ambiguous reference
        with pytest.raises(SpecValidationError, match="reserved"):
            ColumnSpec(name, RangeColumn(0, 9), dtype="int")

    def test_null_fraction_requires_nullable(self):
        with pytest.raises(SpecValidationError):
            ColumnSpec("x", RangeColumn(0, 1), dtype="int", null_fraction=0.5)

    def test_bad_pattern_placeholder(self):
        with pytest.raises(SpecValidationError):
            PatternColumn("bad-{digit}")

    def test_cyclic_expressions_rejected(self, spark):
        t = TableSpec(
            "cy", 10,
            columns=[
                ColumnSpec("a", ExpressionColumn("b + 1")),
                ColumnSpec("b", ExpressionColumn("a + 1")),
            ],
        )
        with pytest.raises(SpecValidationError):
            generate_table(spark, t, seed=1)
        # the same toposort orders v0 columns and FK tables
        from dbldatagen_spark import DataGenerator
        from dbldatagen_spark.plans.planner import resolve_plan

        v0 = (
            DataGenerator(spark, rows=10)
            .withColumn("a", "int", minValue=0, maxValue=9, baseColumn="b")
            .withColumn("b", "int", minValue=0, maxValue=9, baseColumn="a")
        )
        with pytest.raises(SpecValidationError, match="cyclic"):
            v0.build()
        ring = DataGenPlan([
            TableSpec(
                name, 10,
                columns=[
                    ColumnSpec("pk", SequenceColumn(), dtype="long"),
                    ColumnSpec("fk", ForeignKeyColumn(f"{other}.pk")),
                ],
                primary_key="pk",
            )
            for name, other in (("t1", "t2"), ("t2", "t1"))
        ])
        with pytest.raises(SpecValidationError, match="cyclic"):
            resolve_plan(ring)


class TestSeedFrom:
    def test_correlated_columns(self, spark):
        t = TableSpec(
            "sf", 2000,
            columns=[
                ColumnSpec("g", RangeColumn(0, 9), dtype="int"),
                ColumnSpec("corr", RangeColumn(0, 999), dtype="int", seed_from="g"),
            ],
        )
        df = generate_table(spark, t, seed=1)
        # same g value => same corr value (functional dependency)
        violations = (
            df.groupBy("g").agg(F.countDistinct("corr").alias("k")).where("k > 1").count()
        )
        assert violations == 0

    def test_seed_from_chain_rejected(self, spark):
        t = TableSpec(
            "sfc", 10,
            columns=[
                ColumnSpec("a", RangeColumn(0, 9), dtype="int"),
                ColumnSpec("b", RangeColumn(0, 9), dtype="int", seed_from="a"),
                ColumnSpec("c", RangeColumn(0, 9), dtype="int", seed_from="b"),
            ],
        )
        with pytest.raises(SpecValidationError):
            generate_table(spark, t, seed=1)
