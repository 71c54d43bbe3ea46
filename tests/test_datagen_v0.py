"""v0 fluent facade tests, modeled on FIXTURES.md F1/F2/F4/F5/F8."""

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbldatagen_spark import (
    ChainedRelation,
    DataGenerator,
    INFER_DATATYPE,
    LiteralRange,
    PositiveValues,
    PyfuncText,
    RangedValues,
    SqlExpr,
    UniqueCombinations,
    parse_distribution,
)
from dbldatagen_spark.plans.spec import Normal, SpecValidationError


def fingerprint(df):
    rows = sorted(tuple(str(x) for x in r) for r in df.collect())
    return hashlib.md5(repr(rows).encode()).hexdigest()


class TestF1Basic:
    def mk(self, spark, partitions=4):
        return (
            DataGenerator(spark, name="f1", rows=10000, partitions=partitions, randomSeed=42)
            .withIdOutput()
            .withColumn("code1", "int", minValue=100, maxValue=200)
            .withColumn("code2", "int", minValue=0, maxValue=1000000)
            .withColumn("code3", "string", values=["a", "b", "c"])
            .withColumn("code4", "string", values=["a", "b", "c"], random=True)
            .withColumn(
                "code5", "string", values=["a", "b", "c"], random=True,
                weights=[9, 1, 1],
            )
        )

    def test_two_build_equality(self, spark):
        assert fingerprint(self.mk(spark).build()) == fingerprint(self.mk(spark).build())

    def test_partition_invariance(self, spark):
        assert fingerprint(self.mk(spark, 4).build()) == fingerprint(
            self.mk(spark, 11).build()
        )

    def test_code1_modulo_cycle(self, spark):
        df = self.mk(spark).build()
        bad = df.where("code1 != 100 + (id % 101)").count()
        assert bad == 0

    def test_code3_cyclic(self, spark):
        df = self.mk(spark).build()
        bad = df.where(
            "code3 != element_at(array('a','b','c'), cast(id % 3 as int) + 1)"
        ).count()
        assert bad == 0

    def test_code5_weights(self, spark):
        counts = {
            r.code5: r["count"]
            for r in self.mk(spark).build().groupBy("code5").count().collect()
        }
        assert abs(counts["a"] / 10000 - 9 / 11) < 0.05


class TestF2BenchmarkGroupby:
    def mk(self, spark, groups=100, rows=20000):
        return (
            DataGenerator(spark, name="groupby", rows=rows, partitions=4)
            .withColumn(
                "_base1", "int", minValue=1, maxValue=groups, uniqueValues=groups,
                omit=True,
            )
            .withColumn("id1", "string", format="id%03d", baseColumn="_base1")
            .withColumn("id4", "int", minValue=1, maxValue=groups, random=True)
            .withColumn("id6", "int", minValue=1, maxValue=1 + rows // groups, random=True)
            .withColumn("v1", "int", minValue=1, maxValue=5, random=True)
            .withColumn("v3", "decimal(9,6)", minValue=0.0, maxValue=100.0, random=True)
        )

    def test_group_cardinality(self, spark):
        df = self.mk(spark).build()
        assert df.select(F.countDistinct("id1")).first()[0] == 100

    def test_format_shape(self, spark):
        df = self.mk(spark).build()
        assert df.where(~F.col("id1").rlike(r"^id\d{3}$")).count() == 0

    def test_agg_deterministic(self, spark):
        a = self.mk(spark).build().groupBy("id1").agg(F.sum("v1"), F.avg("v3"))
        b = self.mk(spark).build().groupBy("id1").agg(F.sum("v1"), F.avg("v3"))
        assert fingerprint(a) == fingerprint(b)

    def test_omitted_column_absent(self, spark):
        assert "_base1" not in self.mk(spark).build().columns


class TestF4RangedTypes:
    def test_byte_default_range(self, spark):
        df = (
            DataGenerator(spark, rows=1000, partitions=2)
            .withColumn("b", "byte", minValue=0, maxValue=127, random=True)
            .build()
        )
        mn, mx = df.agg(F.min("b"), F.max("b")).first()
        assert mn >= 0 and mx <= 127
        assert dict(df.dtypes)["b"] == "tinyint"

    def test_int_step_lattice(self, spark):
        df = (
            DataGenerator(spark, rows=3000, partitions=2)
            .withColumn("i_step", "int", minValue=0, maxValue=40, step=5, random=True)
            .build()
        )
        vals = {r.i_step for r in df.select("i_step").distinct().collect()}
        assert vals == {0, 5, 10, 15, 20, 25, 30, 35, 40}

    def test_float_step(self, spark):
        df = (
            DataGenerator(spark, rows=3000, partitions=2)
            .withColumn("f", "float", minValue=1.0, maxValue=5.0, step=0.5, random=True)
            .build()
        )
        vals = {r.f for r in df.select("f").distinct().collect()}
        assert vals <= {1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0}

    def test_unique_values_random(self, spark):
        df = (
            DataGenerator(spark, rows=10000, partitions=4)
            .withColumn(
                "uniq", "int", minValue=1, maxValue=1000000, uniqueValues=50,
                random=True,
            )
            .build()
        )
        assert df.select(F.countDistinct("uniq")).first()[0] == 50
        mn, mx = df.agg(F.min("uniq"), F.max("uniq")).first()
        assert mn >= 1 and mx <= 1000000
        assert mx - mn > 100000  # scattered across the range, not clustered

    def test_dates_and_timestamps(self, spark):
        df = (
            DataGenerator(spark, rows=5000, partitions=2)
            .withColumn("d", "date", begin="2020-01-01", end="2020-12-31",
                        interval="1 day", random=True)
            .withColumn("ts", "timestamp", begin="2020-01-01 00:00:00",
                        end="2020-12-31 23:59:59", interval="1 hour", random=True)
            .build()
        )
        lo_d, hi_d, lo_t, hi_t = df.agg(
            F.min("d"), F.max("d"), F.min("ts"), F.max("ts")
        ).first()
        assert str(lo_d) >= "2020-01-01" and str(hi_d) <= "2020-12-31"
        assert str(lo_t) >= "2020-01-01 00:00:00" and str(hi_t) <= "2020-12-31 23:59:59"

    def test_decimal_rounding(self, spark):
        df = (
            DataGenerator(spark, rows=500, partitions=2)
            .withColumn("dec", "decimal(10,3)", minValue=0, maxValue=1000.0, random=True)
            .build()
        )
        assert dict(df.dtypes)["dec"] == "decimal(10,3)"


class TestF5TextAndNulls:
    def test_template_phone(self, spark):
        df = (
            DataGenerator(spark, rows=1000, partitions=2)
            .withColumn("phone", "string", template="ddd-ddd-dddd")
            .build()
        )
        assert df.where(~F.col("phone").rlike(r"^\d{3}-\d{3}-\d{4}$")).count() == 0

    def test_template_deterministic(self, spark):
        mk = lambda: (
            DataGenerator(spark, rows=500, partitions=3, randomSeed=7)
            .withColumn("t", "string", template=r"AAA-ddd|\w-\N")
            .build()
        )
        assert fingerprint(mk()) == fingerprint(mk())

    def test_template_expr_mode(self, spark):
        """mode='expr' compiles the template to pure Catalyst: same
        conformance and partition-independence, zero Python in the plan."""
        from dbldatagen_spark import TemplateGenerator

        def mk(parts):
            return (
                DataGenerator(spark, rows=800, partitions=parts, randomSeed=7)
                .withColumn(
                    "t", "string",
                    text=TemplateGenerator(r"AAA-ddd|\w-\N|xx.kk", mode="expr"),
                )
                .build()
            )

        df = mk(2)
        pat = r"^([A-Z]{3}-\d{3}|[a-z]+-\d+|[0-9a-f]{2}\.[a-z0-9]{2})$"
        assert df.where(~F.col("t").rlike(pat)).count() == 0
        assert fingerprint(mk(2)) == fingerprint(mk(5))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        # all three alternatives actually occur
        assert df.select("t").where(F.col("t").rlike(r"^[A-Z]{3}-")).count() > 0
        assert df.select("t").where(F.col("t").rlike(r"^[a-z]+-")).count() > 0
        assert df.select("t").where(F.col("t").contains(".")).count() > 0

    def test_template_expr_null_and_short_array_degrade(self, spark):
        """expr mode degrades like the UDF path on hostile bases: a null
        base renders 'None' (not a null concat), an out-of-range \\vN
        renders '' (no ANSI element_at error), a null element 'None'."""
        from dbldatagen_spark.operators.templates import template_expr

        df = spark.createDataFrame(
            [(0, None, [10, 20]), (1, "x", [30]), (2, "y", None)],
            "id long, s string, arr array<int>",
        )
        out = df.select(
            template_expr(r"q:\v", F.col("id"), F.col("s")).alias("plain"),
            template_expr(r"b:\v1", F.col("id"), F.col("arr")).alias("idx1"),
        ).orderBy("id").collect()
        assert [r["plain"] for r in out] == ["q:None", "q:x", "q:y"]
        # arr[1]: present -> value; too short -> ''; null array -> ''
        assert [r["idx1"] for r in out] == ["b:20", "b:", "b:"]

        # null element at a valid index renders 'None' like str(None)
        one = spark.createDataFrame([(0, [None, 5])], "id long, arr array<int>")
        got = one.select(
            template_expr(r"\v0", F.col("id"), F.col("arr")).alias("t")
        ).first()["t"]
        assert got == "None"

    def test_template_value_substitution(self, spark):
        df = (
            DataGenerator(spark, rows=100, partitions=2)
            .withColumn("n", "int", minValue=0, maxValue=9)
            .withColumn("serial", "string", template=r"S/\v", baseColumn="n")
            .build()
        )
        assert df.where("serial != concat('S/', cast(n as string))").count() == 0

    def test_prefix_suffix(self, spark):
        df = (
            DataGenerator(spark, rows=100, partitions=2)
            .withColumn("code", "int", minValue=1, maxValue=20, prefix="item",
                        suffix="ver", textSeparator="_")
            .build()
        )
        assert df.where(~F.col("code").rlike(r"^item_\d+_ver$")).count() == 0

    def test_format(self, spark):
        df = (
            DataGenerator(spark, rows=100, partitions=2)
            .withColumn("fmtd", "string", minValue=0, maxValue=99, format="%05d")
            .build()
        )
        assert df.where(~F.col("fmtd").rlike(r"^\d{5}$")).count() == 0

    def test_percent_nulls(self, spark):
        df = (
            DataGenerator(spark, rows=10000, partitions=4)
            .withColumn("maybe", "int", minValue=0, maxValue=100, percentNulls=0.12)
            .build()
        )
        frac = df.where(F.col("maybe").isNull()).count() / 10000
        assert abs(frac - 0.12) < 0.02

    def test_pyfunc_text(self, spark):
        gen = PyfuncText(lambda ctx, v: f"v={v}")
        df = (
            DataGenerator(spark, rows=50, partitions=2)
            .withColumn("n", "int", minValue=0, maxValue=9)
            .withColumn("t", "string", text=gen, baseColumn="n")
            .build()
        )
        assert df.where("t != concat('v=', cast(n as string))").count() == 0


class TestMultiColumn:
    def test_num_columns_flat(self, spark):
        df = (
            DataGenerator(spark, rows=100, partitions=2)
            .withColumn("r", "float", minValue=0, maxValue=1, random=True, numColumns=5)
            .build()
        )
        assert [f"r_{i}" in df.columns for i in range(5)] == [True] * 5

    def test_struct_type_array(self, spark):
        df = (
            DataGenerator(spark, rows=200, partitions=2)
            .withColumn(
                "features", "float", minValue=0, maxValue=1, random=True,
                numColumns=(2, 6), structType="array",
            )
            .build()
        )
        sizes = df.select(F.size("features").alias("n")).agg(
            F.min("n"), F.max("n")
        ).first()
        assert sizes[0] >= 2 and sizes[1] <= 6

    def test_struct_column_json(self, spark):
        df = (
            DataGenerator(spark, rows=50, partitions=2)
            .withColumn("a", "int", minValue=1, maxValue=5)
            .withColumn("b", "string", values=["x", "y"])
            .withStructColumn("payload", fields={"a": "a", "b": "b"}, asJson=True)
            .build()
        )
        parsed = df.select(
            F.get_json_object("payload", "$.a").alias("ja"),
            F.col("a").cast("string").alias("sa"),
        )
        assert parsed.where("ja != sa").count() == 0


class TestSchemaImport:
    def test_with_schema_and_specs(self, spark):
        schema = T.StructType(
            [
                T.StructField("name", T.StringType()),
                T.StructField("score", T.IntegerType()),
                T.StructField("ratio", T.DoubleType()),
            ]
        )
        df = (
            DataGenerator(spark, rows=500, partitions=2)
            .withSchema(schema)
            .withColumnSpec("name", values=["ann", "bea"])
            .withColumnSpecs(matchTypes=["int"], minValue=10, maxValue=20, random=True)
            .build()
        )
        assert set(df.columns) == {"name", "score", "ratio"}
        mn, mx = df.agg(F.min("score"), F.max("score")).first()
        assert mn >= 10 and mx <= 20
        assert {r.name for r in df.select("name").distinct().collect()} == {"ann", "bea"}

    def test_infer_datatype(self, spark):
        df = (
            DataGenerator(spark, rows=50, partitions=2)
            .withColumn("a", "int", minValue=1, maxValue=5)
            .withColumn("b", INFER_DATATYPE, expr="a * 2.5d")
            .build()
        )
        assert dict(df.dtypes)["b"] == "double"


class TestF8Constraints:
    def mk(self, spark):
        return (
            DataGenerator(spark, rows=10000, partitions=4)
            .withColumn("a", "int", minValue=-100, maxValue=100, random=True)
            .withColumn("b", "int", minValue=0, maxValue=50, random=True)
            .withColumn("lo", "int", minValue=0, maxValue=10, random=True)
            .withColumn("hi", "int", minValue=20, maxValue=30, random=True)
            .withColumn("v", "int", minValue=0, maxValue=40, random=True)
        )

    def test_all_constraints(self, spark):
        df = (
            self.mk(spark)
            .withConstraint(PositiveValues("b"))
            .withConstraint(LiteralRange("a", -50, 50))
            .withConstraint(RangedValues("v", "lo", "hi"))
            .withConstraint(ChainedRelation(["lo", "hi"], "<"))
            .withSqlConstraint("a % 2 == 0")
            .withConstraint(UniqueCombinations(["a", "b"]))
            .build()
        )
        rows = df.collect()
        assert len(rows) > 0
        for r in rows:
            assert r.b >= 0
            assert -50 <= r.a <= 50
            assert r.lo <= r.v <= r.hi
            assert r.lo < r.hi
            assert r.a % 2 == 0
        pairs = [(r.a, r.b) for r in rows]
        assert len(pairs) == len(set(pairs))

    def test_single_fused_filter(self, spark):
        df = (
            self.mk(spark)
            .withConstraint(PositiveValues("b"))
            .withConstraint(LiteralRange("a", -50, 50))
            .build()
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Filter") == 1

    def test_streaming_gate(self, spark):
        with pytest.raises(SpecValidationError):
            self.mk(spark).withConstraint(UniqueCombinations()).build(
                withStreaming=True
            )


class TestDistributionParsing:
    def test_parse_forms(self):
        d = parse_distribution("beta(alpha=5.0, beta=2.0)")
        assert d.alpha == 5.0 and d.beta == 2.0
        d2 = parse_distribution("normal(mean=0.5, stddev=0.1)")
        assert isinstance(d2, Normal)
        assert parse_distribution(None) is None

    def test_parse_errors(self):
        with pytest.raises(SpecValidationError):
            parse_distribution("nosuch(x=1)")
        with pytest.raises(SpecValidationError):
            parse_distribution("beta(5.0)")

    def test_distribution_in_column(self, spark):
        df = (
            DataGenerator(spark, rows=20000, partitions=4)
            .withColumn("g", "double", minValue=0.0, maxValue=1.0, random=True,
                        distribution="gamma(shape=2.0, scale=1.0)")
            .build()
        )
        mean = df.agg(F.mean("g")).first()[0]
        assert 0.0 < mean < 1.0


class TestScripts:
    def test_script_table(self, spark):
        sql = (
            DataGenerator(spark, name="tbl1", rows=10)
            .withColumn("a", "int", minValue=1, maxValue=5)
            .withColumn("b", "string", values=["x"])
            .scriptTable(location="/tmp/x")
        )
        assert "CREATE TABLE IF NOT EXISTS tbl1" in sql
        assert "a INT" in sql and "b STRING" in sql
        assert "LOCATION '/tmp/x'" in sql

    def test_script_merge(self, spark):
        sql = (
            DataGenerator(spark, name="m", rows=10)
            .withColumn("k", "int", minValue=1, maxValue=5)
            .withColumn("val", "string", values=["x"])
            .scriptMerge("tgt_tbl", "src_tbl", joinExpr="tgt.k = src.k",
                         delExpr="src.op = 'D'")
        )
        assert "MERGE INTO tgt_tbl" in sql
        assert "WHEN MATCHED AND src.op = 'D' THEN DELETE" in sql
        assert "WHEN NOT MATCHED THEN INSERT" in sql


class TestTextFactories:
    def test_pyfunc_text_factory_method_dispatch(self, spark):
        """Factory with root property: string method name resolves against
        the context root (reference text_generator_plugins.py:181-313)."""
        from dbldatagen_spark import DataGenerator, PyfuncTextFactory

        class Gen:
            def __init__(self):
                self.n = 0

            def tag(self, prefix="t"):
                self.n += 1
                return f"{prefix}{self.n % 5}"

        def init(ctx):
            ctx.gen = Gen()

        TagText = (
            PyfuncTextFactory(name="TagText")
            .withInit(init)
            .withRootProperty("gen")
        )
        df = (
            DataGenerator(spark, name="tf", rows=50, partitions=2)
            .withColumn("a", "string", text=TagText("tag"))
            .withColumn("b", "string", text=TagText("tag", "x"))
            .build()
        )
        rows = df.collect()
        assert all(r["a"].startswith("t") for r in rows)
        assert all(r["b"].startswith("x") for r in rows)

    def test_pyfunc_text_factory_callable_and_context(self, spark):
        from dbldatagen_spark import DataGenerator, PyfuncTextFactory

        def init(ctx):
            ctx.words = ["alpha", "beta"]

        WordText = PyfuncTextFactory(name="WordText").withInit(init)
        df = (
            DataGenerator(spark, name="tf2", rows=30, partitions=2)
            .withColumn(
                "w", "string",
                text=WordText(lambda ctx, v: ctx.words[int(v) % 2]),
            )
            .build()
        )
        assert {r["w"] for r in df.collect()} == {"alpha", "beta"}

    def test_faker_text_factory_fallback(self, spark):
        """Without the faker lib the factory uses the deterministic builtin
        shim — same dispatch path, importable-safe."""
        from dbldatagen_spark import DataGenerator, FakerTextFactory

        FT = FakerTextFactory(locale="en_US")
        df = (
            DataGenerator(spark, name="tf3", rows=20, partitions=2)
            .withColumn("mail", "string", text=FT("email"))
            .withColumn("nm", "string", text=FT("name"))
            .build()
        )
        rows = df.collect()
        assert all("@" in r["mail"] for r in rows)
        assert all(r["nm"] for r in rows)


class TestCustomDistribution:
    def test_register_distribution_pure_expr(self, spark):
        """Custom distribution plugged in via register_distribution: pure
        expressions, usable by object or parsed string spec."""
        from pyspark.sql import functions as F2

        from dbldatagen_spark import DataGenerator, register_distribution
        from dbldatagen_spark.operators.seed import uniform_fraction

        @register_distribution("tri")
        class Triangular:
            def __init__(self, mode: float = 0.5):
                self.mode = mode

            def unit_expr(self, seed_col):
                # symmetric triangular via average of two decorrelated uniforms
                u1 = uniform_fraction(seed_col)
                u2 = uniform_fraction(F2.xxhash64(F2.lit(7), seed_col))
                return (u1 + u2) / F2.lit(2.0)

        df = (
            DataGenerator(spark, name="cd", rows=4000, partitions=4)
            .withColumn("t", "double", minValue=0.0, maxValue=1.0,
                        distribution="tri(mode=0.5)", random=True)
            .build()
        )
        mean, mn, mx = df.agg(F2.avg("t"), F2.min("t"), F2.max("t")).first()
        assert 0.45 < mean < 0.55
        assert mn >= 0.0 and mx <= 1.0
        # triangular concentrates mass centrally: middle half holds > 55%
        middle = df.where((F2.col("t") > 0.25) & (F2.col("t") < 0.75)).count()
        assert middle / 4000 > 0.55


class TestIntrospection:
    def test_explain_describe_build_order(self, spark):
        gen = (
            DataGenerator(spark, name="intro", rows=100, partitions=2)
            .withColumn("a", "int", minValue=1, maxValue=10)
            .withColumn("b", "int", expr="a * 2")
            .withColumn("lab", "string", values=["x", "y"])
            .withSqlConstraint("a > 0")
        )
        order = gen.build_order
        # b depends on a, so a must appear in an earlier phase than b
        pos = {n: i for i, phase in enumerate(order) for n in phase}
        assert pos["a"] < pos["b"]
        assert order == [["a", "lab"], ["b"]]  # declaration order per phase
        text = gen.explain(suppressOutput=True)
        assert "Data generation plan" in text
        assert "b <- a * 2" in text
        assert "SqlExpr" in text
        d = gen.describe()
        assert d["rowCount"] == 100 and d["name"] == "intro"
        assert [f.name for f in d["schema"].fields] == ["a", "b", "lab"]
        assert "rows=100" in repr(gen)


class TestSeedColumnOverride:
    """Reference data_generator.py:1043-1045: a column spec named like the
    seed column warns and overrides it rather than erroring."""

    def test_override_replaces_seed_and_feeds_dependents(self, spark):
        gen = (
            DataGenerator(spark, rows=500, partitions=2)
            .withIdOutput()
            .withColumn("id", "long", minValue=100, maxValue=149, noWarn=True)
            .withColumn("dep", "long", baseColumn="id", expr="id * 2")
        )
        df = gen.build()
        assert df.columns == ["id", "dep"]
        rows = df.collect()
        assert all(100 <= r["id"] <= 149 for r in rows)
        assert all(r["dep"] == r["id"] * 2 for r in rows)
        # schema report uses the override's type, listed once
        names = [n for n, _ in gen._output_fields()]
        assert names.count("id") == 1

    def test_override_warns(self, spark, caplog):
        import logging

        with caplog.at_level(logging.WARNING, logger="dbldatagen_spark"):
            DataGenerator(spark, rows=10).withColumn("id", "long")
        assert any("overrides seed column" in r.message for r in caplog.records)

    def test_clone_shares_session_and_builds(self, spark):
        gen = DataGenerator(spark, rows=10).withColumn("x", "int", minValue=1, maxValue=5)
        clone = gen.clone()
        assert clone is not gen and clone.spark is gen.spark
        clone.withColumn("y", "int", expr="x + 1")
        assert clone.build().columns == ["x", "y"]
        # mutating the clone never touches the original
        assert gen.build().columns == ["x"]
