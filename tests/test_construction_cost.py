"""Driver-side construction cost and the contracts the SQL-text builders
keep.

Generation builders emit Spark SQL text and each dependency level is one
``selectExpr``, so building a plan sends few py4j commands.  The counts
below wrap the gateway client's ``send_command`` for the duration of one
build (memory-management commands excluded); the bounds leave headroom
over the measured 114 (star) and 336 (v0 text, of which the four
pandas-UDF columns are most) while catching any return to one ``F.*``
call per node (4,557 and 917 before the change).

The dedup kernels build SQL text too, one ``selectExpr``, ``F.expr`` or
join condition per step.  Through the ``Column`` API ``exact_dedup``
sent 146 commands, ``minhash_near_duplicates`` (32 hashes, 16 bands)
784, ``ngram_jaccard_pairs(max_posting_len=None)`` 868 and
``duplicate_components`` over 50 3-cliques 488 (its eager jobs and the
per-round probe job included); as text they send 35, 117, 156 and 117.
"""

import contextlib

import pytest
from py4j.protocol import CALL_COMMAND_NAME, MEMORY_COMMAND_NAME
from pyspark.errors import ParseException

import dbldatagen_spark as dg
from dbldatagen_spark.functions.dedup import (
    duplicate_components,
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
)
from dbldatagen_spark.generator import generate_table


@contextlib.contextmanager
def count_py4j(spark):
    """Yields the py4j commands sent inside the block, one entry each: the
    method name of a call, the command letter of anything else."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting_send(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            call = command.startswith(CALL_COMMAND_NAME)
            sent.append(command.split("\n", 3)[2] if call else command[:1])
        return send(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        yield sent
    finally:
        client.send_command = send


def star_plan(seed=7):
    C = dg.ColumnSpec
    customers = dg.TableSpec("customers", 20_000, [
        C("customer_id", dg.PatternColumn("CUST-{seq:8}")),
        C("email", dg.PatternColumn("user{digit:6}@{alpha:5}.example")),
        C("tier", dg.ValuesColumn(["gold", "silver", "bronze"], dg.WeightedValues([1, 3, 6]))),
        C("signup", dg.DateColumn("2015-01-01", "2024-12-31")),
    ], primary_key="customer_id")
    products = dg.TableSpec("products", 5_000, [
        C("product_id", dg.SequenceColumn(start=1)),
        C("sku", dg.PatternColumn("SKU-{hex:6}")),
        C("price", dg.RangeColumn(1.0, 500.0), dtype="decimal(10,2)"),
    ], primary_key="product_id")
    cols = [
        C("order_id", dg.SequenceColumn(start=1)),
        C("customer_id", dg.ForeignKeyColumn("customers.customer_id")),
        C("product_id", dg.ForeignKeyColumn("products.product_id", dg.Zipf(1.2))),
        C("qty", dg.RangeColumn(1, 20, distribution=dg.Zipf(1.5)), dtype="int"),
        C("amount", dg.RangeColumn(0.0, 1000.0, distribution=dg.Normal(500.0, 150.0)),
          dtype="double", nullable=True, null_fraction=0.05),
        C("status", dg.ValuesColumn(["new", "paid", "shipped", "returned"],
                                    dg.WeightedValues([3, 5, 2, 1]))),
        C("code", dg.PatternColumn("ORD-{digit:6}-{alpha:2}")),
        C("ordered_at", dg.TimestampColumn("2024-01-01 00:00:00", "2024-12-31 23:59:59")),
        C("ship_date", dg.DateColumn("2024-01-01", "2025-01-31")),
        C("total", dg.ExpressionColumn("qty * amount")),
    ]
    cols += [C(f"f{i}", dg.RangeColumn(0, 10 ** (i % 5 + 2)), dtype="int",
               nullable=True, null_fraction=0.05) for i in range(10)]
    orders = dg.TableSpec("orders", 200_000, cols)
    return dg.DataGenPlan([customers, products, orders], seed=seed)


def text_generator(spark):
    gen = dg.DataGenerator(spark, name="text", rows=30_000, partitions=4, randomSeed=7)
    for name, template in (("phone", "ddd-ddd-dddd"), ("email", r"\w.\w@\w.com"),
                           ("code", "KKKK-dddd|AAAA-Dddd")):
        gen.withColumn(name, "string", template=template)
    gen.withColumn("body", "string", text=dg.ILText(paragraphs=1, sentences=(1, 3),
                                                     words=(4, 8)))
    gen.withColumn("qty", "int", minValue=1, maxValue=100, random=True)
    gen.withColumn("price", "double", minValue=1.0, maxValue=500.0, random=True)
    gen.withColumn("status", "string", values=["new", "paid", "shipped"],
                   weights=[2, 3, 4], random=True)
    gen.withConstraint(dg.PositiveValues("qty"))
    return gen


def test_star_generate_sends_few_py4j_commands(spark):
    plan = star_plan()
    dg.generate(spark, plan)  # warm: first-use class loading is not construction
    with count_py4j(spark) as sent:
        tables = dg.generate(spark, plan)
    assert len(sent) <= 250, len(sent)
    assert tables["orders"].columns[-1] == "f9"


def test_v0_text_build_sends_few_py4j_commands(spark):
    text_generator(spark).build()
    with count_py4j(spark) as sent:
        df = text_generator(spark).build()
    assert len(sent) <= 460, len(sent)
    assert df.columns == ["phone", "email", "code", "body", "qty", "price", "status"]


def chained_generator(spark, levels):
    """``levels`` single-column dependency levels: ``c{i} = c{i-1} + 1``."""
    gen = dg.DataGenerator(spark, rows=10, partitions=2)
    gen.withColumn("c0", "int", minValue=0, maxValue=9, random=True)
    for i in range(1, levels):
        gen.withColumn(f"c{i}", "int", expr=f"c{i - 1} + 1")
    return gen


def test_v0_chained_build_reads_no_schema(spark):
    """A chain of 12 dependency levels is 12 ``selectExpr`` plus the output
    one. The columns each level carries over are tracked on the driver,
    so the build fetches no schema (a ``schema`` and a ``json`` command
    per level before)."""
    def chain():
        return chained_generator(spark, 12)

    names = [f"c{i}" for i in range(12)]
    chain().build()
    with count_py4j(spark) as sent:
        df = chain().build()
    assert sent.count("selectExpr") == 13, sent
    assert "schema" not in sent and "json" not in sent, sent
    assert df.columns == names
    assert all(r[i] == r[0] + i for r in df.collect() for i in range(12))
    stream = chain().build(
        withStreaming=True,
        options={"rowsPerSecond": 10, "includeSourceTimestamp": True},
    )
    assert stream.columns == ["_source_timestamp"] + names


def test_v0_chained_build_is_linear_in_py4j_commands(spark):
    """A level that replaces no column carries the others over as ``*``,
    one list item, instead of naming each one: py4j sends a list one
    ``add`` per item, so 42 chained levels sent 1,572 commands (987 of
    them ``add``) when every level named its carried columns; 711
    (126 ``add``) when only ``*`` was carried."""
    chained_generator(spark, 42).build()
    with count_py4j(spark) as sent:
        df = chained_generator(spark, 42).build()
    assert len(sent) <= 500, len(sent)
    assert sent.count("add") <= 4 * 42, sent.count("add")
    # one parser handle per build: 711 commands when every expression
    # walked from the active session to the parser; 426 now
    assert sent.count("sqlParser") == 1, sent.count("sqlParser")
    assert all(r[i] == r[0] + i for r in df.collect() for i in range(42))


def _expression_table(expr):
    return dg.TableSpec("t", 5, [
        dg.ColumnSpec("q", dg.SequenceColumn()),
        dg.ColumnSpec("e", dg.ExpressionColumn(expr)),
    ])


@pytest.mark.parametrize("expr", [
    "q * 2 -- doubled", "q * 2 AS doubled", "q * 2 doubled",
    "/* twice */ q * 2 -- doubled\n", "(q) * 2 AS `we``ird` -- alias and comment",
])
def test_user_sql_keeps_expr_contract(spark, expr):
    """As over ``F.expr``: a trailing comment works and a user alias is
    replaced by the column's own name."""
    df = generate_table(spark, _expression_table(expr))
    assert df.columns == ["q", "e"]
    assert [(r.q, r.e) for r in df.collect()] == [(q, 2 * q) for q in range(1, 6)]


@pytest.mark.parametrize("expr", ["q + 1) * (2", "q, q", "(q", "'open", "q /* open"])
def test_malformed_expression_raises_parse_exception(spark, expr):
    with pytest.raises(ParseException):
        generate_table(spark, _expression_table(expr))


def test_v0_expr_with_trailing_comment_builds(spark):
    df = (dg.DataGenerator(spark, rows=4, partitions=2)
          .withColumn("a", "int", minValue=1, maxValue=4)
          .withColumn("b", "int", expr="a * 10 -- tens")
          .build())
    assert sorted((r.a, r.b) for r in df.collect()) == [(a, 10 * a) for a in range(1, 5)]


@pytest.mark.parametrize("name", ["a.b", "we`ird", "a b", "select"])
def test_v0_names_that_need_quoting_build(spark, name):
    """Column names are backquoted in generated SQL, so a dot or a backtick
    in a v0 name no longer breaks the build; the name survives as is, also
    as a base column and under a null mask."""
    df = (dg.DataGenerator(spark, rows=20, partitions=2)
          .withColumn(name, "int", minValue=0, maxValue=9, random=True)
          .withColumn("t", "string", template=r"\v-\w", baseColumn=name,
                      percentNulls=0.1)
          .withColumn("v", "int", baseColumn=name, minValue=0, maxValue=3)
          .build())
    assert df.columns == [name, "t", "v"]
    rows = df.collect()
    assert all(0 <= r[name] <= 9 for r in rows)
    assert all(r["t"] is None or r["t"].startswith(f"{r[name]}-") for r in rows)


def _dedup_frames(spark):
    """A few documents (two exact copies, a near copy, a text shorter than
    k) and the pairs of 50 disjoint 3-cliques."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox leaps over the lazy dog"),
         (3, "tiny doc"), (4, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(3 * c + a, 3 * c + b) for c in range(50) for a, b in ((0, 1), (1, 2), (0, 2))],
        "id_a long, id_b long",
    )
    return docs, pairs


_DEDUP_BUILDS = {
    "exact_dedup": (80, lambda docs, pairs: exact_dedup(docs, "doc_id", "text")),
    "minhash_near_duplicates": (250, lambda docs, pairs: minhash_near_duplicates(
        docs, "doc_id", "text", k=3, num_hashes=32, bands=16)),
    "ngram_jaccard_pairs": (320, lambda docs, pairs: ngram_jaccard_pairs(
        docs, "doc_id", "text", max_posting_len=None)),
    "duplicate_components": (250, lambda docs, pairs: duplicate_components(pairs)),
}


@pytest.mark.parametrize("name", sorted(_DEDUP_BUILDS))
def test_dedup_build_sends_few_py4j_commands(spark, name):
    """Eager jobs included: ``duplicate_components`` runs its rounds and
    ``ngram_jaccard_pairs`` its density guard during the build."""
    bound, build = _DEDUP_BUILDS[name]
    frames = _dedup_frames(spark)
    build(*frames)  # warm
    try:
        with count_py4j(spark) as sent:
            build(*frames)
    finally:
        spark.catalog.clearCache()
    assert len(sent) <= bound, len(sent)
