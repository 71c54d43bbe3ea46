"""Golden fingerprints and optimized plans for the core generation compiler.

Every shape below was fingerprinted before the per-column builders moved
from the ``Column`` API to Spark SQL text: one ``sum(xxhash64(col))`` per
output column at 3 and 7 partitions, with ANSI mode off and on, plus a
digest of the normalized optimized plan (expression ids stripped).  The
compiler must reproduce those bits and those plans.  The literal shapes
run the edge values of the SQL literal renderer through value lists and
constants, and ``test_sql_lit_matches_lit`` checks the renderer against
``F.lit`` value by value.
"""

import datetime as dt
import decimal
import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from dbldatagen_spark import DataGenerator
from dbldatagen_spark.generator import generate
from dbldatagen_spark.plans.spec import (
    ArrayColumn,
    Beta,
    ColumnSpec as C,
    ConstantColumn,
    DataGenPlan,
    DateColumn,
    Exponential,
    ExpressionColumn,
    ForeignKeyColumn,
    Gamma,
    LogNormal,
    Normal,
    Pareto,
    PatternColumn,
    RangeColumn,
    SequenceColumn,
    StructColumn,
    TableSpec,
    TimestampColumn,
    Uniform,
    UUIDColumn,
    ValuesColumn,
    WeightedValues,
    Zipf,
)

ROWS = 4000

DISTS = {
    "uniform": Uniform(),
    "normal": Normal(),
    "normal_set": Normal(0.3, 0.1),
    "lognormal": LogNormal(0.5, 0.8),
    "zipf": Zipf(1.5),
    "exponential": Exponential(2.0),
    "beta": Beta(2.0, 5.0),
    "gamma": Gamma(2.0, 1.5),
    "pareto": Pareto(2.0),
}

INTS = [2**31 - 1, -(2**31), 2**31, -(2**31) - 1, 2**63 - 1, -(2**63), 0, -1]
FLOATS = [-0.0, float("nan"), float("inf"), float("-inf"), 5e-324, 1e300, -2.5, 1e16]
STRINGS = [
    "it's", "back\\slash", "new\nline", "nul\x00char", "emoji\U0001F600",
    "tab\tand \"dq\"", "-- not a comment", "/* nor this */", "`tick`", "",
]


def _range_cols(dtype, lo, hi, step):
    cols = [C(k, RangeColumn(lo, hi, distribution=d), dtype=dtype) for k, d in DISTS.items()]
    return cols + [C("stepped", RangeColumn(lo, hi, step), dtype=dtype)]


def _table(name, columns, **kw):
    return lambda p: TableSpec(name, ROWS, columns, partitions=p, **kw)


def _parents():
    return [
        _table("seqp", [C("k", SequenceColumn(10, 3))], primary_key="k"),
        _table("uuidp", [C("k", UUIDColumn())], primary_key="k"),
        _table("patp", [C("k", PatternColumn("P-{seq:6}-{digit:3}-{uuid}"))],
               primary_key="k"),
    ]


# name -> [table factory(partitions)]; the last table is fingerprinted
SHAPES = {
    "sequence": [_table("t", [
        C("a", SequenceColumn()),
        C("b", SequenceColumn(100, 3), dtype="int"),
        C("c", SequenceColumn(-5, 7), dtype="short"),
    ])],
    "range_int": [_table("t", _range_cols("int", -50, 1000, 7))],
    "range_long": [_table("t", _range_cols("long", -10**12, 10**12, 999_999_937))],
    "range_double": [_table("t", _range_cols("double", -2.5, 7.5, 0.25))],
    "range_decimal": [_table("t", _range_cols("decimal(10,2)", 0, 1000, 0.125))],
    "values": [_table("t", [
        C("uniform", ValuesColumn(["a", "b", "c", "d"])),
        C("weighted", ValuesColumn(["x", "y", "z"], WeightedValues([5, 1, 2]))),
        C("zero_weights", ValuesColumn(["x", "y"], WeightedValues([0, 0]))),
        C("zipf", ValuesColumn([10, 20, 30, 40, 50], Zipf(1.3))),
        C("normal", ValuesColumn([1.5, 2.5, 3.5], Normal())),
        C("single", ValuesColumn(["only"])),
        C("typed", ValuesColumn([3, 1, 4, 1, 5]), dtype="int"),
    ])],
    "constant": [_table("t", [
        C("i", ConstantColumn(7)),
        C("l", ConstantColumn(7), dtype="long"),
        C("d", ConstantColumn(2.5)),
        C("s", ConstantColumn("const")),
        C("b", ConstantColumn(True)),
        C("n", ConstantColumn(None)),
        C("cast", ConstantColumn("12"), dtype="int"),
    ])],
    "expression": [_table("t", [
        C("q", SequenceColumn()),
        C("e", ExpressionColumn("q * 2")),
        C("commented", ExpressionColumn("q * 2 -- doubled")),
        C("s", ExpressionColumn("concat('x-', CAST(q AS STRING))")),
        C("chained", ExpressionColumn("e + commented")),
    ])],
    "uuid": [_table("t", [C("u", UUIDColumn())])],
    "pattern": [_table("t", [
        C("p", PatternColumn("A{seq}-{seq:6}/{uuid}/{digit:4}.{alpha:3}_{hex:5}z")),
        C("q", PatternColumn("{digit:18}{alpha:1}{hex:15}")),
        C("only_lit", PatternColumn("fixed")),
    ])],
    "timestamp": [_table("t", [
        C("u", TimestampColumn("2020-01-01 00:00:00", "2024-12-31 23:59:59")),
        C("h", TimestampColumn("2022-03-01 00:00:00", "2022-03-31 00:00:00",
                               interval_seconds=3600, distribution=Normal())),
        C("z", TimestampColumn("2000-01-01", "2000-12-31", 60, Zipf(1.2))),
    ])],
    "date": [_table("t", [
        C("u", DateColumn("1999-01-01", "2030-12-31")),
        C("w", DateColumn("2024-01-01", "2024-12-31", interval_days=7,
                          distribution=Exponential(3.0))),
        C("b", DateColumn("1970-01-01", "1970-01-02", distribution=Beta(2, 2))),
    ])],
    "struct": [_table("t", [C("s", StructColumn([
        C("x", RangeColumn(0, 9), dtype="int"),
        C("v", ValuesColumn(["a", "b"])),
        C("n", RangeColumn(0, 1), dtype="double", nullable=True, null_fraction=0.3),
        C("inner", StructColumn([C("d", DateColumn("2020-01-01", "2020-02-01"))])),
    ]))])],
    "array": [_table("t", [
        C("fixed", ArrayColumn(C("e", RangeColumn(0, 99), dtype="int"), 3, 3)),
        C("var", ArrayColumn(C("e", ValuesColumn(["p", "q", "r"])), 0, 4)),
        C("nullable", ArrayColumn(
            C("e", RangeColumn(0, 1), dtype="double", nullable=True, null_fraction=0.5),
            1, 2)),
    ])],
    "fk": _parents() + [_table("child", [
        C("id", SequenceColumn()),
        C("to_seq", ForeignKeyColumn("seqp.k", Zipf(1.2))),
        C("to_uuid", ForeignKeyColumn("uuidp.k", Zipf(1.5))),
        C("to_pat", ForeignKeyColumn("patp.k", Zipf(1.1))),
        C("to_seq_uniform", ForeignKeyColumn("seqp.k", Uniform())),
    ])],
    "seed_from": [_table("t", [
        C("a", RangeColumn(0, 100), dtype="int"),
        C("b", ValuesColumn(["x", "y", "z"]), seed_from="a"),
        C("c", PatternColumn("{digit:4}"), seed_from="a"),
        C("d", RangeColumn(0, 1), dtype="double", seed_from="a",
          nullable=True, null_fraction=0.2),
    ])],
    "nulls": [_table("t", [
        C("a", RangeColumn(0, 100), dtype="int", nullable=True, null_fraction=0.25),
        C("s", ValuesColumn(["x", "y"]), nullable=True, null_fraction=0.5),
        C("all", PatternColumn("{digit:3}"), nullable=True, null_fraction=1.0),
        C("none", RangeColumn(0, 1), nullable=True, null_fraction=0.0),
        C("d", DateColumn("2020-01-01", "2020-12-31"), nullable=True, null_fraction=0.1),
    ])],
    "lit_ints": [_table("t", [
        C("mixed", ValuesColumn(INTS)),
        *[C(f"v{i}", ValuesColumn([v])) for i, v in enumerate(INTS)],
        *[C(f"c{i}", ConstantColumn(v)) for i, v in enumerate(INTS)],
    ])],
    "lit_floats": [_table("t", [
        C("mixed", ValuesColumn(FLOATS)),
        *[C(f"c{i}", ConstantColumn(v)) for i, v in enumerate(FLOATS)],
    ])],
    "lit_strings": [_table("t", [
        C("mixed", ValuesColumn(STRINGS)),
        *[C(f"c{i}", ConstantColumn(v)) for i, v in enumerate(STRINGS)],
    ])],
    "lit_misc": [_table("t", [
        C("with_none", ValuesColumn(["a", None, "b"])),
        C("bools", ValuesColumn([True, False])),
        C("none", ConstantColumn(None)),
        C("t", ConstantColumn(True)),
        C("f", ConstantColumn(False)),
        C("none_typed", ConstantColumn(None), dtype="int"),
    ])],
}

# v0 cycled value lists reach the same values_expr with random=False
V0_SHAPES = {
    "values_cycled": [
        ("v", "string", dict(values=["a", "b", "c"])),
        ("w", "string", dict(values=["a", "b", "c", "d"], weights=[1, 2, 3, 4])),
        ("n", "int", dict(values=[2**31 - 1, -(2**31), 7])),
    ],
}

GOLDEN = {
    'array': ['4000', '286764259657563413596', '-1376453406369291433712', '216182055073425454244'],
    'constant': ['4000', '11147312861804581340000', '-11456846224781038652000', '9740846935311034688000', '13155093722929224488000', '-26794502359156955996000', '168000', '290955024445745180000'],
    'date': ['4000', '-61880796513996203034', '-1440057473479754325009', '-5992530701763390838998'],
    'expression': ['4000', '80645261067008376169', '218879261523817509375', '218879261523817509375', '-95687354685809658932', '116835667813636974092'],
    'fk': ['4000', '80645261067008376169', '4777956699526410754144', '-9302293936999397293222', '-1720075927088949133924', '-84579969375709591325'],
    'lit_floats': ['4000', '-6090428224279897887991', '-21010101848383303248000', '-12511776246099804984000', '23243944954415229968000', '21305048322021433724000', '-28006690542812182328000', '-26642150505614782040000', '-9099919422929705216000', '3699231874342699264000'],
    'lit_ints': ['4000', '-10660532363095195538297', '6035579975154124912000', '8295399839732967220000', '-33645145335383527204000', '-13956222701559297032000', '-12986384222553191400000', '-34478995354506033200000', '14458787987682042828000', '8068033949689035028000', '6035579975154124912000', '8295399839732967220000', '-33645145335383527204000', '-13956222701559297032000', '-12986384222553191400000', '-34478995354506033200000', '14458787987682042828000', '8068033949689035028000'],
    'lit_misc': ['4000', '-19943173739405853731907', '-6590703411792556321946', '168000', '-26794502359156955996000', '14458787987682042828000', '168000'],
    'lit_strings': ['4000', '-8349104978113748755352', '-32392872829074308588000', '-24314236918339724696000', '10230856230349184952000', '-8905969601154719332000', '-24105158906948372584000', '29700191887625945124000', '-11837409055637627444000', '31114186959363703228000', '-26093087696154664912000', '-29776287068804113392000'],
    'nulls': ['4000', '-173777695667377265654', '-8464961418474904188980', '168000', '-120202675339396922168', '1853358218862719912046'],
    'pattern': ['4000', '134956663943273475506', '-226431373241202805644', '-4306297247637369776000'],
    'range_decimal': ['4000', '-108381334396738975709', '682861266252689807582', '154908629495889804412', '-22156664513219787898', '385583789804866899708', '-101495434601963809807', '247424318729954073383', '8431610757852056507', '811825075763512462770', '-551991454967192621111'],
    'range_double': ['4000', '515870385187124161550', '457081986467110817817', '-672061342577040121211', '-328543600606862712519', '-371977682301889692250', '-744108548447187439712', '-98784247350850712756', '156298783797342089835', '-217054435674128817203', '-2046773872901091117694'],
    'range_int': ['4000', '-277805796953932069279', '-1229318892268053722710', '-2624531829678048432052', '-493147382979603438841', '1095087820045986623113', '-1457076632045325119811', '-2533675421372238674415', '-1833144560872111497042', '118396232937137459911', '115650460282900918169'],
    'range_long': ['4000', '307416298759080800144', '208963028957131753586', '214242718571511086308', '-617079720999803589407', '-8121978916899395914148', '395441257644245510695', '29349047362583423305', '-463346699120598105196', '-21520659162659270564407', '-994311581430440570979'],
    'seed_from': ['4000', '-358336540716631858082', '-2762616083729774068794', '1528518961495030780914', '470445817024568326833'],
    'sequence': ['4000', '80645261067008376169', '-246008100022120971748', '98837687958966218710'],
    'struct': ['4000', '64589545144567177457'],
    'timestamp': ['4000', '-375550660509257806027', '90784856629910057487', '-6564712679952544214958'],
    'uuid': ['4000', '97587141216524064819'],
    'values': ['4000', '-13763921907415050606576', '-8080171164275844388094', '-17052916093741522556016', '6482050620064694312986', '12088945198904335764828', '10002434280280264944000', '-12123223818223506131998'],
    'values_cycled': ['4000', '-24563442074354160672679', '-5627156685743526710400', '8492149929501288715772'],
}

# normalized optimized plan at 3 partitions, per ANSI mode
PLANS = {
    'array/false': 'f50b12174c1a2d6e',
    'array/true': '5242560f07721fe3',
    'constant/false': '252e99c114121604',
    'constant/true': '252e99c114121604',
    'date/false': '4f14822fe677dd12',
    'date/true': '4f14822fe677dd12',
    'expression/false': '8e00587e9ded6032',
    'expression/true': '8e00587e9ded6032',
    'fk/false': '0c5c60d0cb085fdd',
    'fk/true': '0c5c60d0cb085fdd',
    'lit_floats/false': 'deeff06ccc3b07d0',
    'lit_floats/true': '9b6ccbb9e23c165d',
    'lit_ints/false': 'be6ed676c9cd2927',
    'lit_ints/true': 'dc47b22cb366b257',
    'lit_misc/false': 'b8ea178f9daf1c27',
    'lit_misc/true': 'a28e403689435665',
    'lit_strings/false': 'dfcf80ecf40a6141',
    'lit_strings/true': 'df2115715e3675ef',
    'nulls/false': 'ea6aa9651a2993bf',
    'nulls/true': 'd273544008eb7530',
    'pattern/false': '0770462fabce9636',
    'pattern/true': '0770462fabce9636',
    'range_decimal/false': 'd70f30c15f4b0da8',
    'range_decimal/true': 'd70f30c15f4b0da8',
    'range_double/false': '83c3cfd2eb86ac62',
    'range_double/true': '83c3cfd2eb86ac62',
    'range_int/false': '3c45f3bd324c2ee6',
    'range_int/true': '3c45f3bd324c2ee6',
    'range_long/false': 'a630e965a1a76438',
    'range_long/true': 'a630e965a1a76438',
    'seed_from/false': '551453ce66e77a58',
    'seed_from/true': '2d50cbed731c7be6',
    'sequence/false': 'dde09c496810149c',
    'sequence/true': 'dde09c496810149c',
    'struct/false': 'a652e5ad43ce3bd6',
    'struct/true': 'f7859d4194cd4ccb',
    'timestamp/false': '511d35397bbd5fd4',
    'timestamp/true': '511d35397bbd5fd4',
    'uuid/false': '773f7b20c42b26c5',
    'uuid/true': '773f7b20c42b26c5',
    'values/false': '24530210bf0d9aff',
    'values/true': '04cb852aa7287e2c',
    'values_cycled/false': '18c9f587253354f7',
    'values_cycled/true': '5b2f506c0f0611f3',
}


def build(spark, name, partitions):
    if name in V0_SHAPES:
        gen = DataGenerator(spark, name=f"golden_{name}", rows=ROWS,
                            partitions=partitions, randomSeed=4242)
        for col, dtype, options in V0_SHAPES[name]:
            gen = gen.withColumn(col, dtype, **options)
        return gen.build()
    tables = [make(partitions) for make in SHAPES[name]]
    return generate(spark, DataGenPlan(tables, seed=4242))[tables[-1].name]


def fingerprint(df):
    row = df.agg(
        F.count(F.lit(1)),
        *[F.sum(F.xxhash64(c).cast("decimal(38,0)")) for c in df.columns],
    ).first()
    return [str(x) for x in row]


def plan_digest(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return hashlib.sha256(re.sub(r"#\d+L?", "#", plan).encode()).hexdigest()[:16]


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prior)


@pytest.mark.parametrize("name", sorted([*SHAPES, *V0_SHAPES]))
def test_core_shape_is_bit_identical(spark, ansi, name):
    for partitions in (3, 7):
        df = build(spark, name, partitions)
        assert fingerprint(df) == GOLDEN[name], (name, partitions)
        if partitions == 3:
            assert plan_digest(df) == PLANS[f"{name}/{ansi}"], (
                df._jdf.queryExecution().optimizedPlan().toString()
            )


LIT_VALUES = [
    *INTS, *FLOATS, *STRINGS, None, True, False,
    decimal.Decimal("1.50"), decimal.Decimal("-0.001"), decimal.Decimal("1E+2"),
    dt.date(2024, 2, 29), dt.datetime(2020, 1, 2, 3, 4, 5, 678),
    dt.datetime(2020, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc), b"\x00\xff",
]


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a):
            return math.isnan(b)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return type(a) is type(b) and a == b


def test_sql_lit_matches_lit(spark):
    """``sql_lit(v)`` parses to the data type and value ``F.lit(v)`` gives."""
    from dbldatagen_spark.operators.sqltext import sql_lit

    one = spark.range(1)
    by_text = one.selectExpr(*[f"{sql_lit(v)} AS c{i}" for i, v in enumerate(LIT_VALUES)])
    by_lit = one.select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(LIT_VALUES)])
    assert [f.dataType for f in by_text.schema] == [f.dataType for f in by_lit.schema]
    got, want = by_text.first(), by_lit.first()
    for i, v in enumerate(LIT_VALUES):
        assert _same(got[i], want[i]), (v, got[i], want[i])


def test_sql_lit_rejects_what_lit_cannot_type():
    from dbldatagen_spark.operators.sqltext import sql_lit

    with pytest.raises(ValueError):
        sql_lit(2**63)
    with pytest.raises(ValueError):
        sql_lit(decimal.Decimal("NaN"))
    with pytest.raises(TypeError):
        sql_lit(object())
