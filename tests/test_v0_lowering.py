"""Golden fingerprints for v0 value lists and numeric ranges.

The v0 facade compiles value lists and plain numeric ranges through the
core ``values_expr`` / ``range_expr`` operators.  Each spec below was
fingerprinted before that lowering (one ``sum(xxhash64(col))`` per output
column); the lowered compiler must reproduce those bits at any partition
count, with ANSI mode off and on, and every table must still optimize to
``Project`` nodes over one ``Range`` (one Project per dependency level).
"""

import pytest
from pyspark.sql import functions as F

from dbldatagen_spark import DataGenerator, INFER_DATATYPE

ROWS = 5000

# name -> (generator kwargs, [(column, type, options), ...])
SPECS = {
    "int_random": ({}, [("v", "int", dict(minValue=0, maxValue=100, random=True))]),
    "int_cycled": ({}, [("v", "int", dict(minValue=100, maxValue=200))]),
    "long_random": ({}, [("v", "long", dict(minValue=0, maxValue=10**12, random=True))]),
    "long_cycled_step": ({}, [("v", "long", dict(minValue=7, maxValue=10**9, step=13))]),
    "short_cycled_step": ({}, [("v", "short", dict(minValue=-50, maxValue=50, step=5))]),
    "short_random": ({"random": True}, [("v", "short", dict(minValue=1, maxValue=300))]),
    "int_zipf": ({}, [("v", "int", dict(minValue=1, maxValue=1000, random=True,
                                         distribution="zipf(exponent=1.5)"))]),
    "double_continuous": ({}, [("v", "double", dict(minValue=0.0, maxValue=1.0, random=True))]),
    "double_normal": ({}, [("v", "double", dict(minValue=-10, maxValue=10, random=True,
                                                 distribution="normal"))]),
    "double_cycled": ({}, [("v", "double", dict(minValue=0, maxValue=100))]),
    "double_stepped": ({}, [("v", "double", dict(minValue=1.0, maxValue=5.0, step=0.5,
                                                  random=True))]),
    "float_continuous": ({"random": True}, [("v", "float", dict(minValue=-1.5, maxValue=2.5))]),
    "float_stepped_cycled": ({}, [("v", "float", dict(minValue=0, maxValue=10, step=0.25))]),
    "decimal_random": ({}, [("v", "decimal(10,2)", dict(minValue=0, maxValue=1000,
                                                         random=True))]),
    "decimal_stepped": ({}, [("v", "decimal(10,3)", dict(minValue=0, maxValue=10,
                                                          step=0.125, random=True))]),
    "decimal_cycled": ({}, [("v", "decimal(8,2)", dict(minValue=0, maxValue=100, step=0.01))]),
    "string_prefix": ({}, [("v", "string", dict(minValue=1, maxValue=100, prefix="item"))]),
    "string_format": ({}, [("v", "string", dict(minValue=0, maxValue=1000, random=True,
                                                 format="code-%05d"))]),
    "base_by_value": ({}, [
        ("a", "int", dict(minValue=0, maxValue=999, random=True)),
        ("v", "int", dict(minValue=0, maxValue=9, baseColumn="a")),
    ]),
    "base_by_hash": ({}, [
        ("a", "int", dict(minValue=0, maxValue=999, random=True)),
        ("b", "string", dict(values=["x", "y", "z"], random=True)),
        ("v", "int", dict(minValue=0, maxValue=99, baseColumn=["a", "b"])),
        ("w", "string", dict(values=["p", "q", "r", "s"], baseColumn="a",
                             baseColumnType="hash")),
    ]),
    "values_random": ({}, [("v", "string", dict(values=["a", "b", "c", "d"], random=True))]),
    "values_cycled": ({}, [("v", "string", dict(values=["a", "b", "c"]))]),
    "values_weighted_random": ({}, [("v", "string", dict(values=["a", "b", "c"],
                                                          weights=[9, 1, 1], random=True))]),
    "values_weighted_cycled": ({}, [("v", "string", dict(values=["a", "b", "c", "d"],
                                                          weights=[1, 2, 3, 4]))]),
    "values_typed": ({}, [("v", "int", dict(values=[3, 1, 4, 1, 5], random=True))]),
    "infer": ({}, [
        ("v", INFER_DATATYPE, dict(values=[10, 20, 30])),
        ("w", INFER_DATATYPE, dict(expr="id * 2")),
    ]),
    "num_columns": ({}, [("v", "int", dict(minValue=0, maxValue=100, random=True,
                                            numColumns=3))]),
    "array_features": ({}, [("v", "double", dict(minValue=0, maxValue=1, random=True,
                                                  numFeatures=(2, 4), structType="array"))]),
    "percent_nulls": ({}, [("v", "int", dict(minValue=0, maxValue=100, random=True,
                                              percentNulls=0.2))]),
    "unique_random": ({}, [("v", "int", dict(minValue=0, maxValue=10000, uniqueValues=50,
                                              random=True))]),
    "unique_cycled": ({}, [("v", "long", dict(minValue=1000, uniqueValues=20))]),
    # edge cases
    "int_fractional_step": ({}, [
        ("v", "int", dict(minValue=0, maxValue=10, step=0.5)),
        ("w", "int", dict(minValue=0.5, maxValue=20, step=1.5, random=True)),
    ]),
    "string_fractional": ({}, [("v", "string", dict(minValue=0.5, maxValue=10.5, step=0.25))]),
    "decimal_18_6": ({}, [("v", "decimal(18,6)", dict(minValue=0, maxValue=10**6,
                                                       step=0.000125, random=True))]),
    "decimal_5_4": ({}, [("v", "decimal(5,4)", dict(minValue=0, maxValue=9.9,
                                                     step=0.0003, random=True))]),
    "decimal_12_1": ({}, [("v", "decimal(12,1)", dict(minValue=-10**6, maxValue=10**6,
                                                       step=0.5))]),
    "long_near_2_40": ({}, [
        ("v", "long", dict(minValue=2**40 - 1000, maxValue=2**40 + 1000, random=True)),
        ("w", "long", dict(minValue=2**40 - 7, maxValue=2**40 + 7 * 10**6, step=7)),
    ]),
    "negative_fractional_max": ({}, [
        ("v", "int", dict(minValue=-10, maxValue=-2.5)),
        ("w", "int", dict(minValue=-10, maxValue=-2.5, random=True)),
        ("x", "double", dict(minValue=-10, maxValue=-2.5)),
        ("y", "long", dict(minValue=-10, maxValue=-2.5, step=2, random=True)),
        ("z", "int", dict(minValue=-10, maxValue=-2.5, uniqueValues=3, random=True)),
    ]),
}

# recorded from the pre-lowering compiler: one decimal sum per column
GOLDEN = {
    'array_features': ['5000', '-178182735245516239734'],
    'base_by_hash': [
        '5000',
        '-1588648640177699661059',
        '-2855058552743535590322',
        '851997044515063280270',
        '-19233609327359900422940',
    ],
    'base_by_value': ['5000', '-1203924314644066551431', '-1841461196954592748392'],
    'decimal_12_1': ['5000', '30073044421082859214'],
    'decimal_18_6': ['5000', '-564497046171507282361'],
    'decimal_5_4': ['5000', '-256106338817709636946'],
    'decimal_cycled': ['5000', '350925004441198026938'],
    'decimal_random': ['5000', '-950274530741299640325'],
    'decimal_stepped': ['5000', '3684424778682606836703'],
    'double_continuous': ['5000', '14224241438668737002'],
    'double_cycled': ['5000', '-4595799525911328886074'],
    'double_normal': ['5000', '-556054887613741918426'],
    'double_stepped': ['5000', '11401807875626866245816'],
    'float_continuous': ['5000', '-492356380033656898184'],
    'float_stepped_cycled': ['5000', '2826664692740068303394'],
    'infer': ['5000', '6860137881870502885370', '-44118461593991840190'],
    'int_cycled': ['5000', '-3337833177878051133733'],
    'int_fractional_step': [
        '5000',
        '-2337035779794017819714',
        '4821726580140873845550',
    ],
    'int_random': ['5000', '-352044946254403344052'],
    'int_zipf': ['5000', '-3455239157566540663195'],
    'long_cycled_step': ['5000', '-602140476409489843687'],
    'long_near_2_40': ['5000', '124022569124767761561', '-794727149606381349832'],
    'long_random': ['5000', '32376585853319118610'],
    'negative_fractional_max': [
        '5000',
        '12348037656669287530625',
        '12185036729046886745434',
        '-14924523045997832316250',
        '-13382251483683244732640',
        '18522842889785085576942',
    ],
    'num_columns': [
        '5000',
        '-562874469886504396068',
        '1090327302033161194435',
        '-28464623652959055010',
    ],
    'percent_nulls': ['5000', '274423885483293686422'],
    'short_cycled_step': ['5000', '4034628971611528251916'],
    'short_random': ['5000', '-2809619524071908108580'],
    'string_format': ['5000', '1427639078321518564809'],
    'string_fractional': ['5000', '6980189248595600612560'],
    'string_prefix': ['5000', '2016772599861067067750'],
    'unique_cycled': ['5000', '-8646797250292480504750'],
    'unique_random': ['5000', '-1370754001222824196892'],
    'values_cycled': ['5000', '-30703943737950928342255'],
    'values_random': ['5000', '-17186173141930310788061'],
    'values_typed': ['5000', '-15620184536562576270242'],
    'values_weighted_cycled': ['5000', '-7033945857179408388000'],
    'values_weighted_random': ['5000', '-39568543627358923159459'],
}


def build(spark, name, partitions):
    gen_kwargs, columns = SPECS[name]
    gen = DataGenerator(spark, name=f"lower_{name}", rows=ROWS, partitions=partitions,
                        randomSeed=4242, **gen_kwargs)
    for col, dtype, options in columns:
        gen = gen.withColumn(col, dtype, **options)
    return gen.build()


def fingerprint(df):
    row = df.agg(
        F.count(F.lit(1)),
        *[F.sum(F.xxhash64(c).cast("decimal(38,0)")) for c in df.columns],
    ).first()
    return [str(x) for x in row]


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prior)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_lowering_is_bit_identical(spark, ansi, name):
    for partitions in (3, 7):
        df = build(spark, name, partitions)
        assert fingerprint(df) == GOLDEN[name], (name, partitions)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [line.lstrip(" +-:").split(" ")[0] for line in plan.splitlines()]
    assert nodes[-1] == "Range" and set(nodes[:-1]) == {"Project"}, plan


def test_negative_fractional_max_stays_in_range(spark):
    """An integral lattice under a negative non-integer ``maxValue`` stops
    at ``floor(maxValue)``: ``[-10, -2.5]`` step 1 is the 8 points -10..-3."""
    df = build(spark, "negative_fractional_max", 3)
    rows = df.collect()
    for c in df.columns:
        assert all(-10 <= r[c] <= -2.5 for r in rows), c
    assert {r.v for r in rows} == set(range(-10, -2))
    assert {r.x for r in rows} == {float(v) for v in range(-10, -2)}


@pytest.mark.parametrize("lo", [2**53, 2**53 + 1])
def test_integral_span_beyond_2_53_counts_exactly(spark, lo):
    """An integral lattice is counted in exact integer arithmetic: every
    point of ``[lo, lo + 3]`` is reached and none lies beyond it, also when
    ``lo`` itself is not a double."""
    hi = lo + 3
    df = (
        DataGenerator(spark, rows=40, partitions=3)
        .withColumn("v", "long", minValue=lo, maxValue=hi)
        .withColumn("r", "long", minValue=lo, maxValue=hi, random=True)
        .build()
    )
    rows = df.collect()
    assert {r.v for r in rows} == set(range(lo, hi + 1))
    assert all(lo <= r.r <= hi for r in rows)
    assert max(r.r for r in rows) > 2**53 + 1
