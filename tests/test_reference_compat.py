"""Drop-in compatibility: code written against the reference package's
documented top-level API must run unchanged against this package
(modulo the import name). Shapes follow the reference README quick-start
(``/root/reference/README.md:115-152``) and top-level exports
(``/root/reference/dbldatagen/__init__.py:26-78``).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType, IntegerType, StringType

import dbldatagen_spark as dg


def test_readme_custom_spec_shape(spark):
    """The README's fully-custom DataGenerator example, including Spark
    type objects as the type argument and multi-column expr columns."""
    column_count = 10
    data_rows = 5000
    df_spec = (
        dg.DataGenerator(spark, name="test_data_set1", rows=data_rows, partitions=4)
        .withIdOutput()
        .withColumn(
            "r",
            FloatType(),
            expr="floor(rand() * 350) * (86400 + 3600)",
            numColumns=column_count,
        )
        .withColumn("code1", IntegerType(), minValue=100, maxValue=200)
        .withColumn("code2", IntegerType(), minValue=0, maxValue=10)
        .withColumn("code3", StringType(), values=["a", "b", "c"])
        .withColumn("code4", StringType(), values=["a", "b", "c"], random=True)
        .withColumn(
            "code5", StringType(), values=["a", "b", "c"], random=True,
            weights=[9, 1, 1],
        )
    )
    df = df_spec.build()
    assert df.count() == data_rows
    # id + 10 r_* + code1..5
    assert len(df.columns) == 16
    assert {f"r_{i}" for i in range(column_count)} <= set(df.columns)
    codes = {r["code3"] for r in df.select("code3").distinct().collect()}
    assert codes <= {"a", "b", "c"}


def test_readme_datasets_shape(spark):
    """The README's standard-dataset one-liner."""
    df = dg.Datasets(spark, "basic/user").get(rows=2000).build()
    assert df.count() == 2000
    assert len(df.columns) >= 4


def test_template_generator_object_form(spark):
    """text=TemplateGenerator(...) is equivalent to template=..."""
    tg = dg.TemplateGenerator(r"ddd-ddd-dddd")
    assert isinstance(tg, dg.TextGenerator)
    df = (
        dg.DataGenerator(spark, name="tg", rows=500, partitions=2)
        .withColumn("phone_obj", "string", text=tg)
        .withColumn("phone_str", "string", template=r"ddd-ddd-dddd")
        .build()
    )
    ok = df.agg(
        F.sum(
            F.when(F.col("phone_obj").rlike(r"^\d{3}-\d{3}-\d{4}$"), 1).otherwise(0)
        ).alias("n_obj"),
        F.sum(F.when(F.col("phone_obj") == F.col("phone_str"), 1).otherwise(0)).alias(
            "n_same"
        ),
    ).first()
    assert ok["n_obj"] == 500
    # same column seed stream -> the object and string forms differ only
    # by column name salt; both must at least conform
    assert ok["n_same"] >= 0


def test_compat_utilities():
    assert dg.topologicalSort(
        [("c", {"a", "b"}), ("b", {"a"}), ("a", set())]
    ) == ["a", "b", "c"]
    with pytest.raises(dg.DataGenError):
        dg.topologicalSort([("a", {"b"}), ("b", {"a"})])
    # levels keep declaration order; initial columns come first and
    # count as satisfied; unknown and self dependencies are ignored
    deps = [("z", {"id"}), ("y", {"z", "q"}), ("x", {"id", "x"}), ("w", {"y"})]
    assert dg.topologicalSort(deps, flatten=False) == [["z", "x"], ["y"], ["w"]]
    assert dg.topologicalSort(deps, initial_columns=["id"], flatten=False) == [
        ["id"], ["z", "x"], ["y"], ["w"]
    ]
    assert dg.topologicalSort(deps, initial_columns=["id"]) == [
        "id", "z", "x", "y", "w"
    ]
    with pytest.raises(dg.DataGenError):
        dg.ensure(False, "nope")
    opts = dg.ColumnSpecOptions({"min": 1, "percent_nulls": 0.5})
    assert opts.getOrElse("minValue") == 1
    with pytest.raises(dg.DataGenError):
        dg.ColumnSpecOptions({"not_an_option": 1})
    sql = dg.ColumnGeneratorBuilder.mkExprChoicesFn(
        ["x", "y"], [3, 1], "_scaled", StringType()
    )
    assert "when _scaled <= 0.75 then 'x'" in sql
    assert sql.strip().startswith("CASE") and sql.strip().endswith("end")
    assert "Copy code" in dg.HtmlUtils.formatCodeAsHtml("print(1)")
    assert "<h3>Output</h3>" in dg.HtmlUtils.formatTextAsHtml("hello")
    assert dg.DEFAULT_RANDOM_SEED == 42


def test_pandas_generate_text_standalone():
    import pandas as pd

    tg = dg.TemplateGenerator(r"\w.\w@\w.com")
    out = tg.pandasGenerateText(pd.Series(["x", "y", "z"]))
    assert len(out) == 3
    assert all("@" in s and s.endswith(".com") for s in out)


def test_script_as_html(spark):
    gen = (
        dg.DataGenerator(spark, name="h", rows=10)
        .withColumn("a", "int", minValue=1, maxValue=5)
    )
    html = gen.scriptTable(name="t1", asHtml=True)
    assert "CREATE TABLE IF NOT EXISTS t1" in html and "<pre>" in html
    mhtml = gen.scriptMerge("t1", "s1", joinExpr="tgt.a = src.a", asHtml=True)
    assert "MERGE INTO t1" in mhtml and "Copy code" in mhtml


def test_tuned_builder_configs(spark):
    from dbldatagen_spark import RECOMMENDED_CONFIGS, tuned_builder

    # builder carries the recommended configs plus caller overrides
    b = tuned_builder("t", shuffle_partitions=7,
                      **{"spark.sql.ansi.enabled": "true"})
    opts = b._options
    for k, v in RECOMMENDED_CONFIGS.items():
        assert opts[k] == v
    assert opts["spark.sql.shuffle.partitions"] == "7"
    assert opts["spark.sql.ansi.enabled"] == "true"


def test_tuned_session_runs_plain_aggregate():
    """A tuned session must run a plain aggregate: one recommended key
    made Spark 4.1.2 hang on it.  Runs in its own process (the test
    session is already up) and fails by timeout instead of hanging."""
    import os
    import pathlib
    import signal
    import subprocess
    import sys

    code = (
        "from dbldatagen_spark import tuned_session\n"
        "spark = tuned_session(master='local[2]')\n"
        "print(spark.range(1000).selectExpr('sum(id)').collect()[0][0])\n"
        "spark.stop()\n"
    )
    repo = pathlib.Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=str(repo))
    proc = subprocess.Popen(
        [sys.executable, "-c", code], cwd=repo, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=90)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the JVM child too
        proc.communicate()
        pytest.fail("tuned_session hung on spark.range(1000) sum(id)")
    assert proc.returncode == 0
    assert out.split()[-1] == "499500"

def test_root_namespace_parity():
    """Every public name the reference exports from its package root
    resolves on this package root too — parsed programmatically from the
    reference ``__init__`` so new reference exports fail loudly here
    instead of silently drifting (``/root/reference/dbldatagen/__init__.py``)."""
    import ast
    import pathlib

    ref_init = pathlib.Path("/root/reference/dbldatagen/__init__.py")
    if not ref_init.exists():
        pytest.skip("reference tree not present")
    tree = ast.parse(ref_init.read_text())
    names = [
        alias.asname or alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 1
        for alias in node.names
    ]
    # module-internal/meta names with no behavioral surface
    skip = {"__version__"}
    missing = [n for n in names if n not in skip and not hasattr(dg, n)]
    assert not missing, f"reference root exports missing here: {missing}"


def test_utils_semantics():
    """Behavioral parity of the root utility functions (reference
    ``utils.py:74-370``)."""
    from datetime import timedelta

    assert dg.coalesce_values(None, None, 3, 4) == 3
    assert dg.coalesce_values(None) is None

    assert dg.mkBoundsList(None, 5) == (True, [5, 5])
    assert dg.mkBoundsList(7, 5) == (False, [7, 7])
    assert dg.mkBoundsList([2, 9], 5) == (False, [2, 9])

    assert dg.parse_time_interval("1 hour, 30 minutes") == timedelta(
        hours=1, minutes=30
    )
    assert dg.parse_time_interval("hours=2") == timedelta(hours=2)
    assert dg.parse_time_interval("1 year") == timedelta(weeks=52)

    assert dg.strip_margins("one\n    |two\n    |three", "|") == "one\ntwo\nthree"

    x = ["id", "a", "b", "id", "c"]
    assert dg.split_list_matching_condition(x, lambda e: e == "id") == [
        ["id"], ["a", "b"], ["id"], ["c"]
    ]

    assert dg.json_value_from_path("a.b", '{"a": {"b": 42}}', 0) == 42
    assert dg.json_value_from_path("a.z", '{"a": {"b": 42}}', "dflt") == "dflt"

    import time
    assert abs(dg.system_time_millis() - time.time() * 1000) < 5000

    @dg.deprecated("use other()")
    def legacy():
        return 1

    import warnings
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert legacy() == 1
    assert any(issubclass(x.category, DeprecationWarning) for x in w)


def test_datarange_hierarchy():
    """NRange/DateRange derive from the DataRange ABC with min/max views
    (reference ``datarange.py:14-56``)."""
    nr = dg.NRange(0, 100, 5)
    assert isinstance(nr, dg.DataRange)
    assert (nr.min, nr.max) == (0, 100)
    assert nr.isFullyPopulated() and not nr.isEmpty()
    assert nr.getDiscreteRange() == 20

    dr = dg.DateRange("2020-01-01", "2020-12-31", "1 day")
    assert isinstance(dr, dg.DataRange)
    # reference semantics: min/max are the epoch-seconds lattice bounds
    import datetime as dt

    assert dr.min == dt.datetime(2020, 1, 1).timestamp()
    assert dr.max == dt.datetime(2020, 12, 31).timestamp()
    assert dr.isFullyPopulated()
    assert dg.NRange().isEmpty()


def test_nrange_discrete_range_parity():
    """getDiscreteRange matches the reference (``nrange.py:215-239``):
    fractional steps floor, max itself excluded, unset/zero inputs raise
    ValueError."""
    import pytest

    assert dg.NRange(0, 1, 0.3).getDiscreteRange() == 3.0
    assert dg.NRange(1, 5, 0.5).getDiscreteRange() == 8.0
    assert dg.NRange(0, 4, 0.5).getDiscreteRange() == 8.0  # max excluded
    assert dg.NRange(0, 20, 1).getDiscreteRange() == 20.0
    with pytest.raises(ValueError):
        dg.NRange(0, 10).getDiscreteRange()  # step unset
    with pytest.raises(ValueError):
        dg.NRange(0, 10, 0).getDiscreteRange()
    assert dg.NRange(2, 10).getContinuousRange() == 8.0


def test_daterange_reference_parity():
    """DateRange mirrors the reference (``daterange.py:19-280``): parsed
    datetimes/timedelta, epoch lattice min/max/step with max snapped to a
    whole interval multiple, interval parsing, compute* classmethods with
    the unique_values back-off, and the trivial method contracts."""
    import datetime as dt

    import pytest

    dr = dg.DateRange("2024-01-01 00:00:00", "2024-01-02 01:30:00", "1 hour")
    assert dr.begin == dt.datetime(2024, 1, 1)
    assert dr.interval == dt.timedelta(hours=1)
    # 25.5 intervals -> snapped to 25 whole hours past begin
    assert dr.maxValue == dr.minValue + 25 * 3600
    assert dr.step == 3600.0
    assert dr.getDiscreteRange() == 25.0
    assert dr.getContinuousRange() == 25 * 3600.0
    assert dr.getScale() == 0
    assert not dr.isEmpty()  # constructed ranges are never empty
    dr.adjustForColumnDatatype(None)  # no-op contract

    assert dg.DateRange.parseInterval("1 hour, 30 minutes") == dt.timedelta(
        hours=1, minutes=30
    )
    with pytest.raises(ValueError):
        dg.DateRange.parseInterval(None)

    r = dg.DateRange.computeDateRange(None, "2024-06-30", "1 day", 10)
    assert r.begin == dt.datetime(2024, 6, 21)  # end - interval*(k-1)
    assert r.end == dt.datetime(2024, 6, 30)
    with pytest.raises(ValueError):
        dg.DateRange.computeDateRange(None, "2024-06-30", "1 day", 0)

    r2 = dg.DateRange.computeTimestampRange(
        "2024-01-01 00:00:00", "2024-01-01 06:00:00", "minutes=30", None
    )
    assert r2.step == 1800.0 and r2.getDiscreteRange() == 12.0

    # datetime/timedelta inputs pass straight through; str() shows both views
    d3 = dg.DateRange(dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 2),
                      dt.timedelta(hours=6))
    assert d3.getDiscreteRange() == 4.0
    assert "DateRange(" in str(d3)


def test_nrange_adjust_for_column_datatype_parity():
    """adjustForColumnDatatype fills type-default bounds/step and
    validates integral representability (``nrange.py:161-213``)."""
    import pytest
    from pyspark.sql import types as T

    nr = dg.NRange()
    nr.adjustForColumnDatatype(T.IntegerType())
    assert (nr.minValue, nr.maxValue, nr.step) == (0, 2 ** 31 - 1, 1)

    nr = dg.NRange()
    nr.adjustForColumnDatatype(T.DoubleType())
    assert nr.minValue == 0.0 and nr.step == 1.0

    nr = dg.NRange()
    nr.adjustForColumnDatatype(T.DecimalType(5, 2))
    assert nr.maxValue == 10.0 ** 3 - 1.0

    # decreasing ranges are legal; out-of-type bounds raise ValueError
    nr = dg.NRange(10, 1, -1)
    nr.adjustForColumnDatatype(T.ByteType())
    with pytest.raises(ValueError):
        dg.NRange(-1000, 10).adjustForColumnDatatype(T.ByteType())
    with pytest.raises(ValueError):
        dg.NRange(0, 400).adjustForColumnDatatype(T.ByteType())


def test_datagenerator_introspection_surface(spark):
    """The reference's introspection/utility methods exist with matching
    semantics (``data_generator.py:240-770, 973, 1484-1608``)."""
    gen = (
        dg.DataGenerator(spark, name="intro", rows=100, partitions=2,
                         randomSeed=7, seedColumnName="id")
        .withColumn("a", "int", minValue=1, maxValue=10)
        .withColumn("b", "string", values=["x", "y"], omit=True)
    )
    assert gen.seedColumnName == "id"
    assert gen.randomSeed == 7
    assert gen.random is False
    assert gen.constraints == []
    assert [c.name for c in gen.columnGenerationSpecs] == ["a", "b"]
    assert [f.name for f in gen.schemaFields] == ["a"]  # omitted excluded
    assert gen.getInferredColumnNames() == ["id", "a", "b"]
    assert gen.getOutputColumnNames() == ["a"]
    names_types = gen.getOutputColumnNamesAndTypes()
    assert names_types[0][0] == "a"
    from pyspark.sql import types as T
    assert isinstance(names_types[0][1], T.IntegerType)
    assert isinstance(gen.getColumnType("a"), T.IntegerType)
    assert isinstance(gen.getColumnType("id"), T.LongType)
    assert gen.hasColumnSpec("a") and gen.hasColumnSpec("id")
    assert not gen.hasColumnSpec("zzz")
    assert gen["a"].name == "a"  # __getitem__
    assert gen.getColumnSpec("b").omit is True
    assert gen.isFieldExplicitlyDefined("a")
    assert not gen.isFieldExplicitlyDefined("zzz")
    assert dg.DataGenerator.flatten([[1, 2], [3]]) == [1, 2, 3]
    assert [f.name for f in gen.inferredSchema.fields] == ["id", "a", "b"]

    assert gen.withRowCount(250).rowCount == 250
    import pytest
    with pytest.warns(DeprecationWarning):
        gen.setRowCount(300)
    assert gen.rowCount == 300

    gen.options(startingId=5, rowCount=120)
    assert gen._starting_id == 5 and gen.rowCount == 120
    with pytest.raises(Exception):
        gen.option("bogus", 1)

    plan = gen.computeBuildPlan()
    assert plan is gen and gen.buildPlanComputed
    assert any("seed column" in line for line in gen._buildPlan)


def test_datagenerator_class_seed_and_names(spark):
    """useSeed installs a class default seed; generateName/reset mirror the
    reference counter behavior."""
    try:
        dg.DataGenerator.useSeed(1234)
        g = dg.DataGenerator(spark, name="seeded", rows=10)
        assert g.randomSeed == 1234
        explicit = dg.DataGenerator(spark, name="explicit", rows=10, randomSeed=9)
        assert explicit.randomSeed == 9
    finally:
        dg.DataGenerator._class_random_seed = None

    dg.DataGenerator.reset()
    assert dg.DataGenerator.generateName() == "Untitled_1"
    assert dg.DataGenerator.generateName() == "Untitled_2"
    dg.DataGenerator.reset()
    assert dg.DataGenerator.generateName() == "Untitled_1"

    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        try:
            dg.DataGenerator.use_seed(7)
            assert dg.DataGenerator._class_random_seed == 7
        finally:
            dg.DataGenerator._class_random_seed = None


def test_datagenerator_dict_and_json_roundtrip(spark):
    """saveToInitializationDict / loadFromInitializationDict and the
    string form of saveToJson / loadFromJson round-trip the spec."""
    gen = (
        dg.DataGenerator(spark, name="rt", rows=50, partitions=2, randomSeed=3)
        .withColumn("k", "int", minValue=0, maxValue=9)
    )
    d = gen.saveToInitializationDict()
    back = dg.DataGenerator.loadFromInitializationDict(d, sparkSession=spark)
    assert back.name == "rt" and back.rowCount == 50

    js = gen.saveToJson()  # no path -> JSON string (reference signature)
    assert isinstance(js, str) and '"kind"' in js
    back2 = dg.DataGenerator.loadFromJson(js, sparkSession=spark)
    assert sorted(r["k"] for r in back2.build().collect()) == \
        sorted(r["k"] for r in gen.build().collect())


def test_datagenerator_save_as_dataset(spark, tmp_path):
    """saveAsDataset builds and writes through OutputDataset; batch mode
    returns None and the parquet reads back the full row count."""
    from dbldatagen_spark import OutputDataset

    gen = (
        dg.DataGenerator(spark, name="sad", rows=40, partitions=2)
        .withColumn("v", "int", minValue=1, maxValue=5)
    )
    out = str(tmp_path / "sad_out")
    res = gen.saveAsDataset(OutputDataset(location=out, mode="overwrite"))
    assert res is None
    assert spark.read.parquet(out).count() == 40


def test_column_spec_introspection_surface(spark):
    """Column specs expose the reference ColumnGenerationSpec read surface
    (``column_generation_spec.py:458-1207``): option dict access, name
    expansion, datatype, base-column views."""
    from pyspark.sql import types as T

    gen = (
        dg.DataGenerator(spark, name="csintro", rows=10)
        .withColumn("a", "int", minValue=1, maxValue=9, step=2, random=True)
        .withColumn("m", "float", numColumns=3)
        .withColumn("fv", "float", numFeatures=4, structType="array")
        .withColumn("w", "string", values=["x", "y"], weights=[3, 1])
        .withColumn("e", "int", expr="a + 1", baseColumn="a")
    )
    a = gen.getColumnSpec("a")
    assert (a.min, a.max, a.step) == (1, 9, 2)
    assert a["minValue"] == 1 and a.getOrElse("nope", 7) == 7
    assert a.isRandom and not a.isFieldOmitted
    assert isinstance(a.datatype, T.IntegerType)
    assert a.baseColumn == "id" and a.baseColumns == ["id"]
    assert "minValue" in a.keys() and "maxValue" in a.specOptions

    m = gen.getColumnSpec("m")
    assert m.getNames() == ["m_0", "m_1", "m_2"]
    assert m.numColumns == 3 and m.numFeatures is None
    assert [t for _, t in m.getNamesAndTypes()] == [T.FloatType()] * 3

    fv = gen.getColumnSpec("fv")
    assert fv.getNames() == ["fv"]
    assert fv.numFeatures == 4 and fv.numColumns is None
    assert fv.structType() == "array"
    assert isinstance(fv.getNamesAndTypes()[0][1], T.ArrayType)

    w = gen.getColumnSpec("w")
    assert w.isWeightedValuesColumn
    assert not a.isWeightedValuesColumn

    e = gen.getColumnSpec("e")
    assert e.expr == "a + 1" and e.baseColumn == "a"
    assert "a + 1" in e.getPlanEntry()
    assert e.exprs is None and not e.inferDatatype
    e.setBaseColumnDatatypes([T.IntegerType()])
    assert e._base_column_datatypes == [T.IntegerType()]
    import pytest
    with pytest.raises(ValueError):
        e.setBaseColumnDatatypes("not-a-list")


def test_text_generator_base_surface():
    """TextGenerator base utilities match the reference
    (``text_generators.py:248-410``): seeded RNG, compact dtype, bounds
    pair, classic/pandas generation on every generator class."""
    import numpy as np
    import pandas as pd

    tg = dg.TemplateGenerator(r"ddd-AAA")
    assert isinstance(tg, dg.TextGenerator)
    assert tg.randomSeed == 42
    assert tg.withRandomSeed(7) is tg and tg.randomSeed == 7
    rng = tg.getNPRandomGenerator()
    assert tg.getNPRandomGenerator() is rng  # cached
    assert tg.getNPRandomGenerator(forceNewInstance=True) is not rng
    import re
    assert re.fullmatch(r"\d{3}-[A-Z]{3}", tg.classicGenerateText("x"))

    assert dg.TextGenerator.compactNumpyTypeForValues([3, 200]) == np.dtype("B")
    assert dg.TextGenerator.compactNumpyTypeForValues([70000]) == np.dtype("u4")
    assert dg.TextGenerator.getAsTupleOrElse(5, (1, 2)) == (5, 5)
    assert dg.TextGenerator.getAsTupleOrElse(None, (1, 2)) == (1, 2)
    assert dg.TextGenerator.getAsTupleOrElse([2, 9], (1, 2)) == (2, 9)
    import pytest
    with pytest.raises(ValueError):
        dg.TextGenerator.getAsTupleOrElse((5, 2), (1, 2))
    with pytest.raises(ValueError):
        dg.TextGenerator.getAsTupleOrElse(True, (1, 2))

    il = dg.ILText(paragraphs=1, sentences=(1, 2), words=(3, 5))
    assert isinstance(il, dg.TextGenerator)
    texts = il.generateText(["a", "b"], 2)
    assert il.generateText(["a", "b"], 2) == texts  # deterministic
    assert len(il.pandasGenerateText(pd.Series(["x", "y", "z"]))) == 3
    assert il.classicGenerateText("q").endswith(".")

    pf = dg.PyfuncText(lambda ctx, v: f"<{v}>")
    assert isinstance(pf, dg.TextGenerator)
    assert list(pf.pandasGenerateText(pd.Series(["a", "b"]))) == ["<a>", "<b>"]


def test_constraint_reference_names(spark):
    """Constraint exposes the reference method names
    (``constraints/constraint.py:80-155``)."""
    from pyspark.sql import functions as F

    c = dg.SqlExpr("a > 0")
    assert c.supportsStreaming is True
    assert c.filterExpression is not None
    df = spark.createDataFrame([(1,), (-1,)], ["a"])
    gen = dg.DataGenerator(spark, name="cx", rows=10)
    assert c.prepareDataGenerator(gen) is gen
    assert c.transformDataframe(gen, df).count() == 2  # filter applies later

    combined = dg.Constraint.mkCombinedConstraintExpression(
        [F.col("a") > 0, None, F.col("a") < 10]
    )
    assert df.where(combined).count() == 1
    assert dg.Constraint.mkCombinedConstraintExpression([None]) is None
    import pytest
    with pytest.raises(ValueError):
        dg.Constraint.mkCombinedConstraintExpression("not-a-list")
    with pytest.raises(ValueError):
        dg.Constraint.mkCombinedConstraintExpression(["not-a-column"])

    uc = dg.UniqueCombinations(["a"])
    assert uc.supportsStreaming is False


def test_column_spec_options_checks():
    """ColumnSpecOptions validation helpers
    (``column_spec_options.py:225-330``)."""
    from pyspark.sql.types import ByteType
    import pytest

    opts = dg.ColumnSpecOptions({"minValue": 1, "maxValue": 5, "random": True})
    assert opts.options["minValue"] == 1  # property view
    assert opts["nope"] is None  # missing reads None, not KeyError
    opts.checkBoolOption(True, name="random")
    opts.checkBoolOption(None, name="random")
    with pytest.raises(dg.DataGenError):
        opts.checkBoolOption("yes", name="random")
    opts.checkExclusiveOptions(["values", "template"])  # neither set: ok
    with pytest.raises(dg.DataGenError):
        dg.ColumnSpecOptions({"values": [1], "template": "d"}) \
            .checkExclusiveOptions(["values", "template"])
    opts2 = dg.ColumnSpecOptions({"baseColumnType": "hash"})
    opts2.checkOptionValues("baseColumnType", ["auto", "hash", "values"])
    with pytest.raises(dg.DataGenError):
        opts2.checkOptionValues("baseColumnType", ["auto"])
    bad = dg.ColumnSpecOptions({"minValue": 0, "maxValue": 1000})
    bad._options["type"] = ByteType()
    with pytest.raises(dg.DataGenError):
        bad.checkValidColumnProperties(object())


def test_dataset_provider_registry_surface(spark):
    """DatasetProvider registry classmethods and the Datasets facade
    filters (``dataset_provider.py:100-312``, ``datasets_object.py:52-90``)."""
    from dbldatagen_spark.datasets.registry import DatasetProvider

    regs = DatasetProvider.getRegisteredDatasets()
    assert "basic/user" in regs and len(regs) >= 9
    p = regs["basic/user"]
    assert p.getDatasetDefinition() is p
    assert p.getDatasetTables() == p.tables
    assert DatasetProvider.isValidDataProviderType(p)
    assert not DatasetProvider.isValidDataProviderType(int)
    # documented example: 1B rows x 10 cols -> 18 partitions, min 4
    assert p.autoComputePartitions(1_000_000_000, 10) == 18
    assert p.autoComputePartitions(10, 2) == 4
    import pytest
    with pytest.raises(ValueError):
        p.checkOptions({"bogus": 1}, ["rows"])

    df = p.getTableGenerator(spark, rows=500).build()
    assert df.count() == 500

    defs = dg.Datasets.getProviderDefinitions(pattern="basic/.*")
    assert {d.name for d in defs} >= {"basic/user"}
    only = dg.Datasets.getProviderDefinitions(name="basic/user")
    assert len(only) == 1

    # register/unregister bump the version and round-trip
    import dbldatagen_spark.datasets.registry as reg
    v0 = DatasetProvider.getRegisteredDatasetsVersion()
    custom = reg.DatasetProvider(
        name="test/custom", summary="s", description="d", tables=["primary"],
        factory=lambda spark_, table, rows, partitions, **o: (
            dg.DataGenerator(spark_, name="c", rows=rows)
            .withColumn("x", "int", minValue=1, maxValue=3)
        ),
    )
    try:
        DatasetProvider.registerDataset(custom)
        assert DatasetProvider.getRegisteredDatasetsVersion() == v0 + 1
        assert dg.Datasets(spark, "test/custom").get(rows=10).build().count() == 10
    finally:
        DatasetProvider.unregisterDataset("test/custom")
    assert "test/custom" not in DatasetProvider.getRegisteredDatasets()

    with pytest.raises(NotImplementedError):
        p.getAssociatedDataset(spark, tableName="primary")

    # allowed_options decorator enforces the option whitelist
    @DatasetProvider.allowed_options(["extra"])
    def factory(sparkSession=None, tableName=None, rows=-1, partitions=-1,
                extra=None):
        return rows

    assert factory(rows=5, extra=1) == 5
    with pytest.raises(ValueError):
        factory(rows=5, nope=1)


def test_subpackage_import_paths():
    """Reference-style subpackage imports resolve (reference
    ``distributions/__init__.py``, ``constraints/__init__.py``,
    ``core/__init__.py`` module layouts)."""
    from dbldatagen_spark.constraints import (  # noqa: F401
        ChainedRelation, Constraint, LiteralRange, LiteralRelation,
        NegativeValues, PositiveValues, RangedValues, SqlExpr,
        UniqueCombinations,
    )
    from dbldatagen_spark.core import (  # noqa: F401
        ColumnSpec, DataGenPlan, DataType, ForeignKeyRef, PrimaryKey,
        ResolvedPlan, TableSpec, generate, generate_table, resolve_plan,
    )
    from dbldatagen_spark.core.api import generate as _g  # noqa: F401
    from dbldatagen_spark.core.engine.generator import (  # noqa: F401
        generate_table as _gt,
    )
    from dbldatagen_spark.core.engine.planner import (  # noqa: F401
        resolve_plan as _rp,
    )
    from dbldatagen_spark.core.spec import TableSpec as _TS  # noqa: F401
    from dbldatagen_spark.distributions import (  # noqa: F401
        Beta, DataDistribution, Exponential, Gamma, Normal, Pareto,
    )

    assert isinstance(Beta(2.0, 5.0), DataDistribution)
    assert not isinstance(object(), DataDistribution)


def test_core_spec_reference_forms(spark):
    """DataType/PrimaryKey/ForeignKeyRef and the gen=/foreign_key=
    ColumnSpec forms (reference ``core/spec/schema.py:849-1005``)."""
    import pytest

    assert dg.DataType("integer") is dg.DataType.INT
    assert dg.DataType("bool") is dg.DataType.BOOLEAN
    assert dg.DataType.INTEGER is dg.DataType.INT

    assert dg.PrimaryKey(["a", "b"]).columns == ["a", "b"]
    with pytest.raises(Exception):
        dg.PrimaryKey([])
    with pytest.raises(Exception):
        dg.PrimaryKey(["a", "a"])

    fk = dg.ForeignKeyRef("orders.o_id", nullable=True, null_fraction=0.25)
    with pytest.raises(Exception):
        dg.ForeignKeyRef("no_dot")
    with pytest.raises(Exception):
        dg.ForeignKeyRef("t.c", null_fraction=1.5)

    # foreign_key= builds the FK strategy and folds nullability
    c = dg.ColumnSpec("cust_id", foreign_key=fk)
    assert c.strategy.strategy == "foreign_key"
    assert c.strategy.references == "orders.o_id"
    assert c.nullable and c.null_fraction == 0.25

    # gen= is the reference field name for the strategy
    c2 = dg.ColumnSpec("x", gen=dg.RangeColumn(1, 10), dtype="int")
    assert c2.strategy.strategy == "range"
    with pytest.raises(Exception):
        dg.ColumnSpec("y")  # no strategy at all

    # end-to-end: a plan using the reference forms generates with RI intact
    plan = dg.DataGenPlan(
        tables=[
            dg.TableSpec(
                "parents", 50,
                columns=[dg.ColumnSpec("pid", dg.SequenceColumn(start=0, step=1),
                                       dtype="long")],
                primary_key="pid",
            ),
            dg.TableSpec(
                "children", 200,
                columns=[
                    dg.ColumnSpec("cid", dg.SequenceColumn(start=0, step=1),
                                  dtype="long"),
                    dg.ColumnSpec("pid", foreign_key=dg.ForeignKeyRef("parents.pid")),
                ],
            ),
        ],
        seed=42,
    )
    dfs = dg.generate(spark, plan)
    parents = {r["pid"] for r in dfs["parents"].collect()}
    child_refs = {r["pid"] for r in dfs["children"].collect()}
    assert child_refs <= parents


def test_core_spec_dsl_helpers(spark):
    """The core DSL one-liners (reference ``core/spec/dsl.py:38-449``)
    build a full multi-table plan that generates with RI intact."""
    from dbldatagen_spark.core.spec.dsl import (
        array, constant, decimal, double, expression, faker, fk, integer,
        pattern, pk_auto, pk_pattern, pk_uuid, struct, text, timestamp,
    )

    plan = dg.DataGenPlan(tables=[
        dg.TableSpec("customers", 100, columns=[
            pk_auto("cid"),
            faker("name", "name"),
            text("tier", ["gold", "silver", "bronze"]),
            integer("age", 18, 90),
            double("score", 0.0, 1.0),
            decimal("balance", 0, 10000, precision=12, scale=2),
            timestamp("joined", "2022-01-01 00:00:00", "2023-12-31 23:59:59"),
            pattern("code", "CUST-{digit:6}"),
            constant("src", "webstore"),
            struct("address", [pattern("zip", "{digit:5}"),
                               text("city", ["a", "b"])]),
            array("tags", dg.ValuesColumn(("x", "y", "z")), 1, 3),
        ], primary_key="cid"),
        dg.TableSpec("orders", 300, columns=[
            pk_uuid("oid"),
            fk("cid", "customers.cid", distribution=dg.Zipf(1.5)),
            expression("flag", "length(oid) > 10"),
        ]),
    ], seed=42)
    dfs = dg.generate(spark, plan)
    cust = dfs["customers"]
    assert cust.count() == 100
    assert dict(cust.dtypes)["balance"] == "decimal(12,2)"
    assert dict(cust.dtypes)["age"] == "int"
    assert cust.where(~F.col("code").rlike(r"^CUST-\d{6}$")).count() == 0
    assert cust.where("size(tags) < 1 OR size(tags) > 3").count() == 0
    parents = {r["cid"] for r in cust.collect()}
    assert {r["cid"] for r in dfs["orders"].select("cid").collect()} <= parents
    # pk_pattern builds a patterned PK spec
    spec = pk_pattern("k", "K-{digit:4}")
    assert spec.strategy.strategy == "pattern"


def test_final_surface_audit_and_semantics(spark):
    """Every public method on every reference top-level class resolves on
    our counterpart (programmatic audit), and the last-closed members
    behave: NRange.getScale, SchemaParser reference extraction + type
    parser, spec randomSeed/makeGenerationExpressions contracts."""
    import ast
    import pathlib

    ref_dir = pathlib.Path("/root/reference/dbldatagen")
    if not ref_dir.exists():
        pytest.skip("reference tree not present")
    gaps = []
    for f in ref_dir.glob("*.py"):
        tree = ast.parse(f.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                ours = getattr(dg, node.name, None)
                if ours is None:
                    continue  # root-namespace parity covered elsewhere
                gaps += [
                    f"{node.name}.{n.name}"
                    for n in node.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not n.name.startswith("_")
                    and not hasattr(ours, n.name)
                ]
    assert not gaps, f"reference class methods missing here: {gaps}"

    assert dg.NRange(0, 10.25, 0.5).getScale() == 2
    assert dg.NRange(0, 10).getScale() == 0
    assert dg.NRange(0, 1, 0.125).getScale() == 3

    sp = dg.SchemaParser
    refs = sp.columnsReferencesFromSQLString("a + b * `weird col` + 'lit x'")
    assert refs == ["a", "b", "weird col"]  # literal contents excluded
    assert sp.columnsReferencesFromSQLString("a + b", filterItems=["b"]) == ["b"]
    with pytest.raises(ValueError):
        sp.columnsReferencesFromSQLString(None)

    from pyspark.sql import types as T
    parser = sp.getTypeDefinitionParser()
    assert parser.parseString("decimal(10,2)") == T.DecimalType(10, 2)
    assert isinstance(parser.parseString("array<int>"), T.ArrayType)

    gen = dg.DataGenerator(spark, rows=10).withColumn("a", "int", minValue=1,
                                                      maxValue=5)
    spec = gen.getColumnSpec("a")
    assert spec.randomSeed is None  # generator-level seed streams here
    with pytest.raises(NotImplementedError):
        spec.makeGenerationExpressions()
