"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2.
Three oracle styles are used:

* **exact** — deterministic (non-random) generation paths reproduced in
  portable SQL over DuckDB's ``range()`` table function;
* **invariant** — hash-seeded random paths can't be recomputed by DuckDB,
  so the query returns a *verifiable property* (FK-violation count, regex
  conformance count, two-build mismatch count, bounds check) whose expected
  value is a constant the oracle states;
* **relational** — pipeline operators (dedup, text analysis, similarity,
  TPC-H-ish aggregates) run over the driver's parquet tables and are
  reproduced verbatim in DuckDB SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # two on-disk generations exist: TIMESTAMP(NANOS) (which Spark's
        # vectorized reader only yields as long) and native TIMESTAMP(MICROS).
        # Read with nanosAsLong on; if ts surfaces as a long it was nanos —
        # integer-divide to micros (exact; a double division would wobble
        # the last microsecond). A native timestamp passes through.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # native TIMESTAMP_NTZ generation: normalize to TIMESTAMP_LTZ
            # (identity wall-clock under the UTC session) so downstream
            # epoch arithmetic (cast to double) stays legal
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# exact money arithmetic
#
# Double SUM is aggregation-order-dependent: under the driver's local[32]
# partitioning a last-ulp wobble can flip a cent at ROUND(x, 2) (observed on
# q11 in round 1).  Every money aggregate therefore sums DECIMAL-cast per-row
# values (exact, order-independent — also what TPC-H specifies), rounds in
# decimal space (Spark and DuckDB agree: half-away-from-zero), and casts the
# final value to DOUBLE so both engines render bit-identical floats.
# Averages divide the exact decimal sum (as double) by the count — a single
# IEEE division of identical inputs is deterministic; no double ROUND is
# ever applied (engines differ in last-ulp round behavior on doubles).
# ---------------------------------------------------------------------------

_DEC = "decimal(18,2)"


def _detach(spark: SparkSession, df: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize a SMALL summary frame, release the caches that fed
    it, and hand back a local equivalent.  Several conformance queries
    cache intermediate frames (decoded media pair sets, bloom semi-join
    sides) so invariant stats and stability diffs share one evaluation;
    returning the lazy frame would populate those caches at the
    driver's collect and never free them — across a 50-query driver
    session the cached full-row frames accumulate in executor memory.
    Only for O(1)-row results: the collect here is the same work the
    driver's collect would do anyway."""
    rows = df.collect()
    for c in cached:
        c.unpersist()
    return spark.createDataFrame(rows, df.schema)


def _lit_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny literal frame built JVM-natively (ONE partition of Catalyst
    literals via inline(array(structs))).  ``spark.createDataFrame`` over
    Python rows parallelizes to defaultParallelism PYTHON partitions, and
    a downstream ``coalesce(1)`` — the one-file-per-micro-batch pattern
    the streaming conformance queries need — then evaluates those
    partitions SEQUENTIALLY through one Python-worker round-trip each:
    measured ~6 s to write a ONE-row probe on local[32], vs 0.3 s for
    this literal form.  Values identical (same rows, same types from the
    given schema)."""
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, schema.fields)
            ]
        )
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def _dec(name: str):
    """Column cast to exact money decimal; mirror of CAST(c AS DECIMAL(18,2))."""
    return F.col(name).cast(_DEC)


# DuckDB-side revenue expression the oracles replay; the Spark side sums
# its exact scale-4 integer-units twin (_rev_units4 below)
_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))"
)


# ---------------------------------------------------------------------------
# integer-cents money aggregation (r15 optimization)
#
# SUM over DECIMAL(18,2) promotes to DECIMAL(28,2), whose precision exceeds
# the 18-digit compact-long representation, so every aggregate add runs on
# java.math.BigDecimal — measured 0.998 s vs 0.054 s (18x) for the whole q1
# at sf0.1.  The headline TPC-H aggregates therefore sum EXACT INTEGER UNITS
# in int64 (codegen'd long adds) and convert to the identical displayed
# double only at the final handful of group rows:
#
# * per-row units are exact: CAST(x AS DECIMAL(18,2)) * 100 is an
#   integer-valued decimal (the cast's HALF_UP at the 3rd decimal is the
#   same rounding the decimal pipeline applied), cast to long losslessly;
# * scale-2 sums (quantity / price / discount cents) stay single long sums —
#   per-row magnitude <= 1e7, so a group overflows int64 only past ~9e11
#   rows (~1 PB of lineitem), documented headroom;
# * scale-4 revenue/profit sums would overflow int64 near sf ~1400 (~1.4 TB:
#   per-row |units| <= ~1.1e9), so they sum SPLIT as (units div 1e6,
#   units % 1e6) — two long sums, each safe past 9e12 rows/group (~9 PB) —
#   and are reassembled exactly from the split at the final group rows;
# * _money_hilo reproduces DECIMAL ROUND's HALF_UP (away from zero,
#   negative-safe — q9 profit can go negative) in integer space, then the
#   single double division renders the same bits the decimal->double cast
#   produced (cents < 2^53 up to ~$90T per group, far past 100 TB).
#
# Bit-equality with the decimal formulation is asserted per query against
# the unchanged DuckDB oracles (full-precision repr cells) at sf0.001/0.01/
# 0.1, plus a randomized tie/negative unit test for _money_hilo.
# ---------------------------------------------------------------------------

_S4_SPLIT = 1_000_000


def _cents(name: str):
    """Exact integer cents of CAST(col AS DECIMAL(18,2)) as int64."""
    return (F.col(name).cast(_DEC) * 100).cast("long")


def _rev_units4():
    """l_extendedprice * (1 - l_discount) as exact scale-4 integer units
    (the long twin of the ``_SQL_REV`` decimal product; |units| <=
    ~1.1e9 per row)."""
    return _cents("l_extendedprice") * (
        (F.lit(1) - F.col("l_discount")).cast(_DEC) * 100
    ).cast("long")


def _s4_sum_aggs(units, prefix: str):
    """Two overflow-safe long SUMs of a scale-4 units expression, split as
    (units div 1e6, units % 1e6).  The per-row div rides an exact double
    division (|units| <= 1.1e9 < 2^53; cast-to-long truncates toward zero,
    same as DIV); ``%`` keeps the dividend's sign, so
    hi*1e6 + lo == units row-wise and sum-wise regardless of sign."""
    hi = (units / F.lit(_S4_SPLIT)).cast("long")
    lo = units % F.lit(_S4_SPLIT)
    return [F.sum(hi).alias(f"{prefix}_hi"), F.sum(lo).alias(f"{prefix}_lo")]


def _hilo_dec(prefix: str):
    """Exact DECIMAL total of split scale-4 sums ``<prefix>_hi/_lo``
    (units / 1e4, no rounding).  Runs only on final GROUP rows; the
    division result scale exceeds 4, so the value is exact."""
    total = (
        F.col(f"{prefix}_hi").cast("decimal(38,0)") * _S4_SPLIT
        + F.col(f"{prefix}_lo")
    )
    return total / 10000


def _money_hilo(prefix: str):
    """Rounded-dollars double from split scale-4 sums ``<prefix>_hi/_lo``.
    Reassembles the exact total in DECIMAL space — this runs only on the
    final handful of GROUP rows, so the BigDecimal cost the split avoided
    per input row is irrelevant here — and applies the identical
    ROUND(..., 2)::DOUBLE the decimal pipeline used (HALF_UP away from
    zero, negative-safe).  total/10000 lands past scale 4: exact,
    since scale-4 units carry at most 4 decimal digits."""
    return F.round(_hilo_dec(prefix), 2).cast("double")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary over sf0.001 lineitem."""
    return _q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No trailing orderBy on this or any registry query whose final sort was
    # purely presentational: the correctness gates hash result rows
    # order-insensitively (both the driver's canonicalizer and
    # scripts/check_oracle.py sort rows before hashing), while a final
    # orderBy costs a range exchange + full sort AND re-executes the child
    # subtree once more for range-boundary sampling (measured: up to 3.9 s
    # of 4.5 s on sessionize at sf1 — see OPTIMIZATION_r15.md).
    li = _load(spark, sf_dir, "lineitem")
    # integer-cents aggregation (18x over decimal sums, bit-identical —
    # see the _cents/_money_hilo helper block)
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents("l_quantity")).alias("_qc"),
            F.sum(_cents("l_extendedprice")).alias("_pc"),
            *_s4_sum_aggs(_rev_units4(), "_rev"),
            F.sum(_cents("l_discount")).alias("_dc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("_qc") / 100.0).alias("sum_qty"),
            (F.col("_pc") / 100.0).alias("sum_base_price"),
            _money_hilo("_rev").alias("sum_disc_price"),
            ((F.col("_qc") / 100.0) / F.col("count_order")).alias("avg_qty"),
            ((F.col("_dc") / 100.0) / F.col("count_order")).alias("avg_disc"),
            "count_order",
        )
    )


# ---------------------------------------------------------------------------
# generation-operator queries (engine exercised at fixed rows; sf_dir unused
# for the exact/invariant styles, which is fine — the operator is the unit)
# ---------------------------------------------------------------------------

_GEN_ROWS = 5000


def _gen_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark import ColumnSpec, SequenceColumn, TableSpec, generate_table

    t = TableSpec(
        "seq_t",
        _GEN_ROWS,
        columns=[ColumnSpec("seq_val", SequenceColumn(start=100, step=3), dtype="long")],
        partitions=8,
    )
    return generate_table(spark, t, seed=42)


def _gen_range_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-random ranged int: cycles the lattice by row id (v0 semantics)."""
    from dbldatagen_spark.operators.numeric import range_expr
    from dbldatagen_spark.operators.seed import ROW_ID_COL
    from dbldatagen_spark.plans.spec import RangeColumn

    df = spark.range(_GEN_ROWS).withColumnRenamed("id", ROW_ID_COL)
    expr = F.expr(range_expr(
        RangeColumn(100, 200), "int", ROW_ID_COL, random=False,
        id_col=ROW_ID_COL,
    ))
    return df.select(
        F.col(ROW_ID_COL).alias("row_id"), expr.alias("code")
    )


def _gen_values_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.operators.seed import ROW_ID_COL
    from dbldatagen_spark.operators.strings import values_expr
    from dbldatagen_spark.plans.spec import Uniform

    df = spark.range(_GEN_ROWS).withColumnRenamed("id", ROW_ID_COL)
    expr = F.expr(values_expr(
        ["alpha", "beta", "gamma", "delta"],
        ROW_ID_COL,
        Uniform(),
        random=False,
        id_col=ROW_ID_COL,
    ))
    return df.select(F.col(ROW_ID_COL).alias("row_id"), expr.alias("val"))


def _gen_date_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.operators.seed import ROW_ID_COL
    from dbldatagen_spark.operators.temporal import date_expr
    from dbldatagen_spark.plans.spec import DateColumn

    df = spark.range(_GEN_ROWS).withColumnRenamed("id", ROW_ID_COL)
    expr = F.expr(date_expr(
        DateColumn("2020-01-01", "2020-12-31"),
        ROW_ID_COL,
        random=False,
        id_col=ROW_ID_COL,
    ))
    # cast to string so the Spark (datetime.date) and DuckDB (Timestamp)
    # pandas representations hash identically on the driver's compare
    return df.select(
        F.col(ROW_ID_COL).alias("row_id"), expr.cast("string").alias("d")
    )


def _gen_timestamp_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.operators.seed import ROW_ID_COL
    from dbldatagen_spark.operators.temporal import timestamp_expr
    from dbldatagen_spark.plans.spec import TimestampColumn

    df = spark.range(_GEN_ROWS).withColumnRenamed("id", ROW_ID_COL)
    expr = F.expr(timestamp_expr(
        TimestampColumn("2022-01-01 00:00:00", "2022-12-31 23:59:59",
                        interval_seconds=3600),
        ROW_ID_COL,
        random=False,
        id_col=ROW_ID_COL,
    ))
    return df.select(F.col(ROW_ID_COL).alias("row_id"), expr.alias("ts"))


def _gen_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark import (
        ColumnSpec,
        ExpressionColumn,
        SequenceColumn,
        TableSpec,
        generate_table,
    )

    t = TableSpec(
        "expr_t",
        _GEN_ROWS,
        columns=[
            ColumnSpec("n", SequenceColumn(start=0, step=1), dtype="long"),
            ColumnSpec("doubled", ExpressionColumn("n * 2")),
            ColumnSpec("parity", ExpressionColumn("CASE WHEN n % 2 = 0 THEN 'even' ELSE 'odd' END")),
        ],
        partitions=8,
    )
    return generate_table(spark, t, seed=42)


def _gen_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: FK reconstruction never produces an orphan (violations=0)."""
    from dbldatagen_spark import (
        ColumnSpec,
        DataGenPlan,
        ForeignKeyColumn,
        SequenceColumn,
        TableSpec,
        Zipf,
        generate,
    )

    plan = DataGenPlan(
        [
            TableSpec(
                "parents",
                500,
                columns=[ColumnSpec("pid", SequenceColumn(start=1000, step=7), dtype="long")],
                primary_key="pid",
            ),
            TableSpec(
                "children",
                _GEN_ROWS,
                columns=[
                    ColumnSpec("cid", SequenceColumn(), dtype="long"),
                    ColumnSpec("pid", ForeignKeyColumn("parents.pid", distribution=Zipf(1.2))),
                ],
                primary_key="cid",
            ),
        ],
        seed=42,
    )
    dfs = generate(spark, plan)
    orphans = dfs["children"].join(dfs["parents"], "pid", "left_anti")
    return orphans.agg(F.count(F.lit(1)).cast("long").alias("violations"))


def _gen_determinism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: two builds at different partition counts are identical."""
    from dbldatagen_spark import (
        ColumnSpec,
        Normal,
        RangeColumn,
        TableSpec,
        TimestampColumn,
        UUIDColumn,
        ValuesColumn,
        WeightedValues,
        generate_table,
    )

    def build(partitions: int) -> DataFrame:
        t = TableSpec(
            "det_t",
            _GEN_ROWS,
            columns=[
                ColumnSpec("a", RangeColumn(0, 10**6), dtype="int"),
                ColumnSpec("b", RangeColumn(0.0, 1.0, distribution=Normal()), dtype="double"),
                ColumnSpec("c", ValuesColumn(["x", "y", "z"], WeightedValues([5, 3, 2]))),
                ColumnSpec("d", TimestampColumn("2020-01-01 00:00:00", "2024-12-31 23:59:59")),
                ColumnSpec("u", UUIDColumn()),
            ],
            partitions=partitions,
        )
        return generate_table(spark, t, seed=42)

    d1, d2 = build(4), build(23)
    # symmetric multiset difference in ONE aggregation: exceptAll both
    # directions plans two separate count-compare aggregates over the same
    # inputs; tagging each side +-1 and summing per row computes the same
    # sum(|mult1 - mult2|) with one shuffle (measured 1.45 s -> 0.97 s)
    tagged = d1.withColumn("_tag", F.lit(1)).unionByName(
        d2.withColumn("_tag", F.lit(-1))
    )
    per_row = tagged.groupBy(d1.columns).agg(F.sum("_tag").alias("_d"))
    return per_row.agg(
        F.coalesce(F.sum(F.abs(F.col("_d"))), F.lit(0))
        .cast("long")
        .alias("mismatches")
    )


def _gen_uuid_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: every UUID matches 8-4-4-4-12 hex shape and is distinct."""
    from dbldatagen_spark import ColumnSpec, TableSpec, UUIDColumn, generate_table

    t = TableSpec(
        "uuid_t", _GEN_ROWS, columns=[ColumnSpec("u", UUIDColumn())], partitions=8
    )
    df = generate_table(spark, t, seed=42)
    pat = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
    return df.agg(
        F.sum(F.when(F.col("u").rlike(pat), 1).otherwise(0)).cast("long").alias("well_formed"),
        F.countDistinct("u").cast("long").alias("distinct_count"),
    )


def _gen_pattern_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark import ColumnSpec, PatternColumn, TableSpec, generate_table

    t = TableSpec(
        "pat_t",
        _GEN_ROWS,
        columns=[ColumnSpec("code", PatternColumn("ORD-{digit:4}-{alpha:3}-{hex:2}"))],
        partitions=8,
    )
    df = generate_table(spark, t, seed=42)
    return df.agg(
        F.sum(
            F.when(F.col("code").rlike(r"^ORD-\d{4}-[A-Z]{3}-[0-9a-f]{2}$"), 1).otherwise(0)
        ).cast("long").alias("well_formed")
    )


def _gen_null_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: observed null rate within 2% of the requested 12%."""
    from dbldatagen_spark import ColumnSpec, RangeColumn, TableSpec, generate_table

    t = TableSpec(
        "null_t",
        20000,
        columns=[
            ColumnSpec("x", RangeColumn(0, 100), dtype="int", nullable=True, null_fraction=0.12)
        ],
        partitions=8,
    )
    df = generate_table(spark, t, seed=42)
    return df.agg(
        (
            F.abs(
                F.sum(F.when(F.col("x").isNull(), 1).otherwise(0)) / F.count(F.lit(1))
                - 0.12
            )
            < 0.02
        ).alias("within_tolerance")
    )


def _gen_weighted_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: 9:1:1 weighting lands within 3% per value (SURVEY §5)."""
    from dbldatagen_spark import ColumnSpec, TableSpec, ValuesColumn, WeightedValues, generate_table

    t = TableSpec(
        "w_t",
        30000,
        columns=[ColumnSpec("v", ValuesColumn(["a", "b", "c"], WeightedValues([9, 1, 1])))],
        partitions=8,
    )
    df = generate_table(spark, t, seed=42)
    shares = df.groupBy("v").agg((F.count(F.lit(1)) / 30000).alias("share"))
    expected = F.when(F.col("v") == "a", 9 / 11).otherwise(1 / 11)
    return shares.agg(
        (F.max(F.abs(F.col("share") - expected)) < 0.03).alias("within_tolerance")
    )


# ---------------------------------------------------------------------------
# pipeline-operator queries over the driver's parquet tables
# ---------------------------------------------------------------------------


def _q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-flavored join: revenue of building-segment orders."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(*_s4_sum_aggs(_rev_units4(), "_rev"))
        .select(
            "o_orderkey", "o_orderdate", _money_hilo("_rev").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on document text: survivors keep the lowest doc_id."""
    docs = _load(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).cast("long").alias("dup_count"))
        .select("doc_id", "dup_count")
    )


def _text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts per document (text-analysis operator)."""
    docs = _load(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return docs.select(
        "doc_id",
        toks.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
    )


def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.functions import ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    # max_posting_len=None: exact blocking so the result equals the
    # DuckDB oracle's full-pair Jaccard (library default caps at 1000)
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, max_posting_len=None
    )


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact verification — the verified output
    equals the exact >=0.5 Jaccard pair set, so it shares the n-gram
    oracle. 32 hashes / 16 bands (vs the library's conservative 64/32
    default) halves the signature cost; banding is deterministic (fixed
    xxhash64 salts) and every real pair in this corpus has J >= 0.8,
    where 16-band miss probability is (1-0.64)^16 ~ 8e-8 — verified
    identical to the 64-hash output at sf0.01 and sf0.1."""
    from dbldatagen_spark.functions import minhash_near_duplicates

    docs = _load(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", k=3, threshold=0.5, num_hashes=32, bands=16
    )


def _json_flatten_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-inference JSON flattening — the generic semi-structured
    ETL step (event props / API payloads) without hand-written
    get_json_object paths: the schema merges across a bounded sample
    (fields missing from some rows still appear), nested structs
    flatten to dotted-path columns, arrays stay arrays, and
    unparseable or NULL rows yield NULLs everywhere instead of
    vanishing.  The parse+flatten itself is map-only from_json (plan
    pytest-asserted).  Conformance runs the adversarial fixture set
    (nested structs, row-varying fields, corrupt JSON, NULL) against
    HAND-DERIVED expected values; array cells are projected to
    scalar size/joined forms for the gate."""
    from dbldatagen_spark.functions import flatten_json

    fixtures = [
        (1, '{"k": 1, "user": {"name": "a", "geo": {"cc": "US"}},'
            ' "tags": ["x","y"]}'),
        (2, '{"k": 2, "user": {"name": "b"}, "extra": 3.5}'),
        (3, '{"k": 3, "tags": []}'),
        (4, "not json at all"),
        (5, None),
    ]
    df = spark.createDataFrame(fixtures, "id long, props string")
    out = flatten_json(df, "props")
    return out.select(
        "id",
        "k",
        F.col("extra"),
        F.col("user_name"),
        F.col("user_geo_cc"),
        F.size("tags").cast("int").alias("n_tags"),
        F.array_join("tags", ",").alias("tags_csv"),
    )


def _text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-SCRIPT composition per document — the multilingual
    splitter langid alone can't provide (routing, tokenizer selection,
    and mixed-script spam filters branch on script counts, not
    language guesses).  Counts are defined by Unicode script
    properties, evaluated by Java regex here and RE2's \\p{Script} in
    the oracle — the conformance fixture covers ten scripts plus
    mixed, empty, and NULL rows against HAND-COUNTED expected values
    (independent truth).  The op itself is map-only regex arithmetic
    (plan pytest-asserted: no exchange, no Python)."""
    from dbldatagen_spark.functions import script_profile

    fixtures = [
        (1, "Hello world"),
        (2, "Привет мир"),
        (3, "你好世界"),
        (4, "Hello Привет 123!"),
        (5, "مرحبا"),
        (6, "नमस्ते"),
        (7, "안녕하세요"),
        (8, "こんにちはカタカナ"),
        (9, "γειά σου"),
        (10, "שלום"),
        (11, ""),
        (12, None),
    ]
    df = spark.createDataFrame(fixtures, "id long, text string")
    return (
        script_profile(df, "text")
        .select(
            "id", "n_chars", "latin", "cyrillic", "han", "arabic",
            "devanagari", "hangul", "hiragana", "katakana", "greek",
            "hebrew", "digits", "dominant_script",
        )
    )


def _docs_jaccard_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe shingle search: the corpus ranked by EXACT 3-word-
    shingle Jaccard against one literal query — contamination lookups
    and "find the source of this quote" triage.  The query's shingles
    are a constant array in the plan, so the search is per-row array
    arithmetic + one tiny aggregate exchange of (id, long, double) rows
    (the barrier that keeps the n_common cut out of the scan predicate)
    + a top-k (TakeOrderedAndProject): no join, the corpus text streams
    through once at any scale.  Every emitted number is an integer or
    one ratio of integers — exactly replayed by the oracle."""
    from dbldatagen_spark.functions import jaccard_topk

    docs = _load(spark, sf_dir, "documents")
    return jaccard_topk(
        docs, "doc_id", "text",
        "spark batch part line column order",
        k=3, top_k=10,
    )


_BPE_ENCODE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def _text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING at corpus scale — the apply half of bpe_train, as
    pure JVM expressions: each word becomes a prefix-marker symbol
    string (" t h e") and each merge is one literal replace, leftmost
    non-overlapping == the greedy training fold (pytest-proven
    symbol-for-symbol vs a pure-Python reference, including the
    cross-boundary and adjacent-merge-site traps).  Map-only: no UDF,
    no shuffle, no vocabulary broadcast — tokenization rides the same
    scan that filters and dedups, the property that matters at 100 TB.
    The merge table is a FIXED literal (training itself is oracle-
    checked via text_bpe_pairs), so the oracle replays the identical
    replace chain; per-language token totals are pure integers."""
    from dbldatagen_spark.functions import bpe_encode

    docs = _load(spark, sf_dir, "documents")
    enc = bpe_encode(docs, "text", _BPE_ENCODE_MERGES)
    n_words = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"), lambda w: w != ""
        )
    )
    return (
        enc.select("lang", n_words.alias("_w"),
                   F.size("bpe_tokens").alias("_t"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_w").cast("long").alias("n_words"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
    )


def _layout_file_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-per-file layout audit — the small-files detector: writes a
    bucket-partitioned parquet dataset (7 hash-routed buckets over 10k
    rows) and measures the produced layout with file_rows_report (one
    count-only aggregate over input_file_name metadata).  The oracle
    replays the expected layout from first principles (bucket
    cardinalities of id % 7), so the conformance covers the write ->
    list -> measure path end-to-end, not just the arithmetic."""
    import shutil
    import tempfile

    from dbldatagen_spark.functions import file_rows_report

    tmp = tempfile.mkdtemp(prefix="layout_rows_")
    try:
        (
            spark.range(10_000)
            .withColumn("bucket", (F.col("id") % 7).cast("int"))
            .repartition("bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(f"{tmp}/t")
        )
        rep = file_rows_report(
            spark.read.parquet(f"{tmp}/t"), target_rows_per_file=3000
        )
        rows = rep.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, rep.schema
    )


def _text_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registrable-domain extraction — the
    standard pre-dedup web normalizer (scheme/www/default-port/
    tracking-param/fragment/trailing-slash noise collapses to one
    scheme-agnostic key; PSL-style owner domain feeds quota_sample
    and per-domain dedup).  Conformance runs over an adversarial
    fixture set (case soup, userinfo, ports, multi-part TLDs, IPv4,
    bare params, garbage, NULL) against HAND-DERIVED expected outputs
    in the oracle — independent truth, not a mirrored implementation.
    The op itself is map-only whole-stage-codegen expressions
    (pytest-asserted: no exchange, no Python eval in the plan)."""
    from dbldatagen_spark.functions import canonicalize_urls

    fixtures = [
        (1, "HTTP://WWW.Example.COM:80/a//b/?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.com/a/b?a=1&b=2"),
        (3, "example.com/"),
        (4, "https://user:pw@Sub.Shop.co.uk:8080/Path/"),
        (5, "http://192.168.0.1:443/x"),
        (6, "https://blog.example.github.io/post?"),
        (7, "ftp://files.example.org./data"),
        (8, "not a url at all"),
        (9, None),
        (10, "localhost:8000/api?fbclid=zzz&q=term"),
        (11, "example.com/s?q&UTM_CAMPAIGN=x"),
        (12, "https://news.bbc.CO.UK//world///europe/?_ga=1.2&id=9#top"),
    ]
    df = spark.createDataFrame(fixtures, "id long, url string")
    return (
        canonicalize_urls(df, "url")
        .select("id", "url_canonical", "registrable_domain")
    )


def _dedup_lsh_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-driven LSH banding: lsh_tune derives (bands, rows)
    from the target Jaccard via the s-curve 1-(1-s^r)^b — largest r
    (sharpest curve, fewest sub-threshold candidates: the cost that
    matters at 100 TB where every candidate is a verification-join
    row) whose recall at the threshold still clears 0.95.  For
    threshold 0.8 over 128 hashes the tuner lands on 32 bands x 4
    rows (recall 1-5e-8, midpoint 0.42 < 0.8 — the curve brackets
    the threshold, asserted in the emitted boolean and hardcoded in
    the oracle since the tuner is pure deterministic math).  The
    verified pair output equals the exact >=0.8 Jaccard pair set,
    replayed relationally by the oracle."""
    from dbldatagen_spark.functions import lsh_tune, minhash_near_duplicates

    b, r, recall, midpoint = lsh_tune(0.8, num_hashes=128, target_recall=0.95)
    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", k=3, threshold=0.8,
        num_hashes=128, bands="auto",
    )
    return pairs.select(
        "id_a", "id_b", "jaccard",
        F.lit(int(b)).cast("int").alias("bands"),
        F.lit(int(r)).cast("int").alias("rows_per_band"),
        F.lit(bool(recall >= 0.95 and midpoint <= 0.8)).alias(
            "curve_brackets_threshold"
        ),
    )


def _dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.functions import embedding_near_duplicates

    emb = _load(spark, sf_dir, "embeddings")
    # bucketed=False: exact all-pairs so the result equals the DuckDB
    # oracle at this low threshold (library default is LSH-bucketed)
    return embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.45, bucketed=False
    )


def _events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase matched to the user's most recent
    view at-or-before it (union + ordered-window — no range-join blowup)."""
    from dbldatagen_spark.functions import asof_join

    ev = _load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    return asof_join(
        purchases, views, ["user_id"], "ts", ["value"]
    ).select(
        "event_id",
        "user_id",
        F.col("asof_ts").alias("view_ts"),
        F.col("asof_value").alias("view_value"),
    )


def _sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 30% systematic sample — scan-local modulo predicate."""
    from dbldatagen_spark.functions import deterministic_sample

    docs = _load(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 3, 10).select(
        "doc_id", "lang", "n_chars"
    )


def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 lowest-id docs per language stratum."""
    from dbldatagen_spark.functions import stratified_sample

    docs = _load(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", 20).select(
        "doc_id", "lang"
    )


def _corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pipeline: English + quality >= 0.5 + near-dup removal
    keeping each cluster's min-id canonical doc."""
    from dbldatagen_spark.functions import curate_corpus

    docs = _load(spark, sf_dir, "documents")
    return curate_corpus(
        docs, "doc_id", "text", lang="en", min_quality=0.5,
        max_posting_len=None,  # oracle's pair graph is exact
    )


def _text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window document chunking (training sequence packing)."""
    from dbldatagen_spark.functions import chunk_documents

    docs = _load(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64)


def _text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-200 tokens by frequency (map-side-combined
    wordcount, deterministic count-then-token ordering)."""
    from dbldatagen_spark.functions import token_vocabulary

    docs = _load(spark, sf_dir, "documents")
    return token_vocabulary(docs, "text", top_k=200)


def _text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 word bigrams by occurrence (expression-built n-grams +
    one wordcount shuffle)."""
    from dbldatagen_spark.functions import ngram_counts

    docs = _load(spark, sf_dir, "documents")
    return ngram_counts(docs, "text", n=2, top_k=200)


def _text_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment: contiguous cumulative packing into
    ~2048-token shards within 8 id-hash buckets (one bucketed window
    pass — no global sort)."""
    from dbldatagen_spark.functions import assign_training_shards

    docs = _load(spark, sf_dir, "documents")
    return assign_training_shards(
        docs, "doc_id", "text", target_tokens=2048, num_buckets=8
    )


def _text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: odd-id docs (test) sharing any
    distinct 5-gram with even-id docs (train); posting-list join on
    8-byte gram hashes — bodies never shuffle."""
    from dbldatagen_spark.functions import ngram_contamination

    docs = _load(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    return ngram_contamination(train, test, "doc_id", "text", n=5)


def _corpus_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: exact counts (oracle-checked) plus
    sketch estimates validated in-query against their exact
    counterparts (HLL distinct within 3*rsd, GK median within 5%)."""
    from dbldatagen_spark.functions import corpus_stats

    docs = _load(spark, sf_dir, "documents")
    stats = corpus_stats(docs, "lang", "text", rsd=0.02)
    return stats.select(
        "lang",
        "n_rows",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.06 * F.col("exact_distinct")
        ).alias("hll_ok"),
        (
            F.abs(F.col("approx_p50_chars") - F.col("exact_p50_chars"))
            <= 0.05 * F.col("exact_p50_chars")
        ).alias("p50_ok"),
    )


def _ann_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: distributed Lloyd's k-means (k=16) converges (inertia
    non-increasing), uses every cell, and IVF probing 4 learned cells
    recovers >= 6 of the exact cosine top-10 (measured 9-10 at both
    gate SFs; the algorithm is deterministic — init is the first k
    vectors by id)."""
    from dbldatagen_spark.functions import (
        cosine_topk,
        ivf_ann_topk,
        kmeans_assign,
        kmeans_fit,
    )

    emb = _load(spark, sf_dir, "embeddings")
    cents, hist = kmeans_fit(emb, "embedding", k=16, id_col="vec_id", max_iter=5)
    monotone = all(hist[i] >= hist[i + 1] - 1e-6 for i in range(len(hist) - 1))
    assigned = kmeans_assign(emb, "embedding", cents)
    n_cells = assigned.select("cell").distinct().count()
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    exact = {
        r["vec_id"]
        for r in cosine_topk(emb, "vec_id", "embedding", q, k=10).collect()
    }
    approx = {
        r["vec_id"]
        for r in ivf_ann_topk(
            assigned, "vec_id", "embedding", q, k=10, cell_col="cell", n_probe=4
        ).collect()
    }
    return spark.createDataFrame(
        [(bool(monotone), int(n_cells), len(exact & approx) >= 6)],
        "inertia_monotone boolean, cells_used int, recall_ok boolean",
    )


def _emb_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: distributed PCA (k=8 over the 64-d embeddings) yields
    orthonormal components, descending explained variance, projections
    whose per-dimension variance matches the eigenvalues, and total
    projected variance <= total variance."""
    import numpy as np

    from dbldatagen_spark.functions import embedding_moments, embedding_pca

    emb = _load(spark, sf_dir, "embeddings")
    projected, comps, expl = embedding_pca(emb, "embedding", k=8)
    _, _, cov = embedding_moments(emb, "embedding")
    k = comps.shape[1]
    ortho_err = float(np.abs(comps.T @ comps - np.eye(k)).max())
    descending = bool(all(expl[i] >= expl[i + 1] - 1e-9 for i in range(k - 1)))
    total_var = float(np.trace(cov))
    # per-dimension variance of the projected vectors must equal the
    # eigenvalues (that IS the PCA property, measured on the data)
    stats = projected.select(
        *[
            F.variance(F.element_at("pca_vec", j + 1)).alias(f"v{j}")
            for j in range(k)
        ],
        F.count(F.lit(1)).alias("n"),
    ).first()
    nrows = stats["n"]
    # sample variance vs population eigenvalue: scale by (n-1)/n
    var_match = all(
        abs(stats[f"v{j}"] * (nrows - 1) / nrows - expl[j])
        <= 0.02 * max(expl[j], 1e-9)
        for j in range(k)
    )
    return spark.createDataFrame(
        [
            (
                k,
                ortho_err < 1e-9,
                descending,
                bool(var_match),
                bool(float(expl.sum()) <= total_var + 1e-6),
            )
        ],
        "n_components int, orthonormal boolean, variance_descending boolean, "
        "projected_variance_matches boolean, variance_bounded boolean",
    )


def _sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split assignment in portable md5 mode —
    bit-for-bit recomputable by the DuckDB oracle."""
    from dbldatagen_spark.functions import split_assign

    docs = _load(spark, sf_dir, "documents")
    return (
        split_assign(
            docs,
            "doc_id",
            {"train": 0.8, "val": 0.1, "test": 0.1},
            seed=42,
            hash_mode="md5",
        )
        .select("doc_id", "split")
    )


def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-increment ingestion gate: the 'new batch' is the upper
    half of the documents table plus exact re-submissions of five seen
    docs (new ids) and one internal duplicate pair; the 'seen corpus' is
    the lower half. Survivors = upper-half originals minus re-seen
    content, with the internal dup collapsed to its min id. Only 32-byte
    content hashes shuffle; the oracle reproduces the survivor set."""
    from dbldatagen_spark.functions import incremental_dedup

    docs = _load(spark, sf_dir, "documents")
    n = docs.count()
    half = n // 2
    seen = docs.where(F.col("doc_id") < half)
    upper = docs.where(F.col("doc_id") >= half)
    resubmits = (
        docs.where(F.col("doc_id") < 5)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text",
                "lang", "source", "n_chars")
    )
    internal_dup = upper.where(F.col("doc_id") == half).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text",
        "lang", "source", "n_chars",
    )
    new_batch = upper.unionByName(resubmits).unionByName(internal_dup)
    return (
        incremental_dedup(new_batch, seen, "doc_id", "text")
        .select("doc_id")
    )


def _events_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: the 20 hottest user_ids with counts, row
    share, and deterministic rank — the pre-salting measurement for
    skew-aware planning. Top-k compiles to per-partition heads, no full
    sort; the oracle recomputes the profile exactly."""
    from dbldatagen_spark.functions import hot_key_report

    ev = _load(spark, sf_dir, "events")
    return hot_key_report(ev, "user_id", top_k=20)


def _privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release gate over (nation, market
    segment) quasi-identifiers with account balance as the sensitive
    attribute — one bounded hash aggregation; the oracle recomputes
    every class."""
    from dbldatagen_spark.functions import k_anonymity_report

    cust = _load(spark, sf_dir, "customer")
    return (
        k_anonymity_report(
            cust,
            ["c_nationkey", "c_mktsegment"],
            sensitive_col="c_acctbal",
            k_threshold=5,
        )
    )


def _events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour lattice with forward fill: last observation per
    bucket (deterministic by event_id), every bucket between each user's
    first and last observation emitted, values carried across gaps.
    Lattice explode is bounded by span/interval per key; all epoch math
    integer-exact, so the oracle reproduces every row."""
    from dbldatagen_spark.functions import time_gap_fill

    ev = _load(spark, sf_dir, "events")
    return (
        time_gap_fill(
            ev, "user_id", "ts", "value",
            interval_seconds=21600, order_col="event_id",
        )
    )


def _events_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization (applyInPandasWithState) with a
    max-events cap — a close rule native session_window cannot express —
    run as a REAL two-micro-batch stream with sessions spanning the
    batch boundary. Deterministic comparison set: gap- and cap-closed
    sessions only (timeout emissions depend on end-of-stream watermark
    timing and are filtered on both sides); the oracle recomputes them
    via gaps-and-islands + per-island cap subdivision, excluding each
    user's trailing still-open session unless the cap closed it."""
    import shutil
    import tempfile

    from dbldatagen_spark.streaming.stateful import sessionize_with_state

    ev = _load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    tmid = ev.selectExpr("percentile(cast(ts as double), 0.5) p").first()["p"]
    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_capsess_")
    try:
        ev.where(F.col("ts").cast("double") <= tmid).coalesce(1).write.parquet(
            f"{tmp}/src"
        )
        ev.where(F.col("ts").cast("double") > tmid).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/src")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        sess = sessionize_with_state(
            stream, gap_minutes=720, max_events=3, watermark="2 hours"
        )
        q = (
            sess.writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.read.parquet(f"{tmp}/out")
        out = (
            got.where(F.col("closed_by").isin(0, 1))
            .select(
                "user_id",
                F.col("session_start").cast("timestamp_ntz").alias("session_start"),
                F.col("session_end").cast("timestamp_ntz").alias("session_end"),
                F.col("n_events").cast("long").alias("n_events"),
                F.round("value_sum", 2).alias("value_sum"),
                F.col("closed_by").cast("long").alias("closed_by"),
            )
            .orderBy("user_id", "session_start")
        )
        # materialize before the temp dir disappears
        rows = out.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id long, session_start timestamp_ntz, session_end timestamp_ntz, "
        "n_events long, value_sum double, closed_by long",
    )


def _corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram (packing/budget planning).
    Bucket index is exact integer arithmetic (binary-string length), so
    power-of-two boundary counts can never misbucket to libm error."""
    from dbldatagen_spark.functions import sequence_length_histogram

    docs = _load(spark, sf_dir, "documents")
    return sequence_length_histogram(docs, "n_chars")


def _docs_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-micro-batch global dedup via applyInPandasWithState, run as
    a REAL two-micro-batch stream: the documents corpus arrives first,
    then an exact duplicate of every document (new ids, later
    timestamps) in a second file — only first occurrences may emit. The
    oracle recomputes the expected survivor set (min (ts, id) per
    normalized content) independently; stream-vs-batch equality rides
    along as a constant column."""
    import shutil
    import tempfile

    from dbldatagen_spark.streaming.stateful import global_dedup_with_state

    base = _load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.expr(
            "timestamp'2024-01-01 00:00:00' "
            "+ make_interval(0, 0, 0, 0, 0, cast(doc_id % 100000 as int), 0)"
        ).alias("ts"),
    )
    dups = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        F.expr("ts + interval 1 day").alias("ts"),
    )
    both = base.union(dups)
    batch = global_dedup_with_state(both, "doc_id", "text")

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_dedupstream_")
    try:
        base.coalesce(1).write.parquet(f"{tmp}/src")
        dups.coalesce(1).write.mode("append").parquet(f"{tmp}/src")
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        q = (
            global_dedup_with_state(stream, "doc_id", "text")
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.read.parquet(f"{tmp}/out")
        mismatches = (
            streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        batch.select(
            "doc_id",
            F.col("first_seen_ts").cast("timestamp_ntz").alias("first_seen_ts"),
        )
        .withColumn("stream_batch_mismatches", F.lit(int(mismatches)).cast("long"))
    )


def _events_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup run as a REAL two-micro-batch
    stream: the events rows arrive first, then exact duplicates of every
    fourth user's rows in a second file — dropDuplicatesWithinWatermark
    must suppress them all (the watermark delay covers the corpus span,
    so no key state evicts and the stream output equals batch DISTINCT,
    which the oracle recomputes). Stream-vs-batch equality rides along
    as a constant mismatch column."""
    import shutil
    import tempfile

    from dbldatagen_spark.streaming.windows import dedup_within_watermark

    keys = ["user_id", "ts", "value"]
    base = _load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    dups = base.where(F.col("user_id") % 4 == 0)
    batch = dedup_within_watermark(base.union(dups), keys, "ts", "3650 days")

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_wmdedup_")
    try:
        base.coalesce(1).write.parquet(f"{tmp}/src")
        dups.coalesce(1).write.mode("append").parquet(f"{tmp}/src")
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        q = (
            dedup_within_watermark(stream, keys, "ts", "3650 days")
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.read.parquet(f"{tmp}/out")
        mismatches = (
            streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        batch.select(
            "user_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "value",
        )
        .withColumn(
            "stream_batch_mismatches", F.lit(int(mismatches)).cast("long")
        )
    )


def _events_watermark_late_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark late-data path exercised end-to-end on a REAL
    four-micro-batch stream of hourly windowed counts (append mode, so
    only watermark-finalized windows emit): batch 1 is the events table
    (max event time T, which sets the watermark to T-1h), batch 2 plants
    a row 30 minutes behind T (inside the 1-hour delay -> admitted),
    batch 3 plants a row 3 hours behind T (beyond the delay -> dropped
    by the watermark; Spark filters input against the PREVIOUS trigger's
    watermark, so the drop row must arrive one batch after the
    watermark-setting data), and batch 4 plants a single future row at
    T+3h whose only job is to advance the watermark to T+2h and flush
    every earlier window. The emitted set must therefore equal the batch
    windows over (events + the admitted probe) exactly — which the
    oracle recomputes — with the too-late row absent and the future
    row's own window unfinalized."""
    import datetime
    import shutil
    import tempfile

    from dbldatagen_spark.streaming.windows import windowed_event_counts

    base = _load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    t_max = base.agg(F.max("ts")).first()[0]
    # _lit_df, not createDataFrame: each probe is written coalesce(1)
    # below, and a python-parallelized one-row frame pays ~6 s of
    # sequential python-worker round-trips per write on local[32]
    admitted = _lit_df(
        spark,
        [(t_max - datetime.timedelta(minutes=30), "late_probe", 1.5)],
        base.schema,
    )
    too_late = _lit_df(
        spark,
        [(t_max - datetime.timedelta(hours=3), "late_probe", 99.0)],
        base.schema,
    )
    flush = _lit_df(
        spark,
        [(t_max + datetime.timedelta(hours=3), "flush", 0.0)],
        base.schema,
    )
    expected = windowed_event_counts(
        base.union(admitted), "ts", window="1 hour", group_col="event_type"
    )

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_wmlate_")
    try:
        import glob
        import os
        import time

        # one file per micro-batch, arrival order enforced through file
        # mtimes (the file source batches by modification time; the
        # writes can otherwise land in the same millisecond and collapse
        # into one batch, which would process the too-late row before the
        # watermark ever advanced)
        seen: list = []
        now = time.time()
        for i, frame in enumerate((base, admitted, too_late, flush)):
            frame.coalesce(1).write.mode("append").parquet(f"{tmp}/src")
            for f in sorted(glob.glob(f"{tmp}/src/*.parquet")):
                if f not in seen:
                    os.utime(f, (now + 1000 * i, now + 1000 * i))
                    seen.append(f)
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        q = (
            windowed_event_counts(
                stream, "ts", window="1 hour", watermark="1 hour",
                group_col="event_type",
            )
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.read.parquet(f"{tmp}/out")
        mismatches = (
            streamed.exceptAll(expected)
            .union(expected.exceptAll(streamed))
            .count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        expected.select(
            F.col("window_start").cast("timestamp_ntz").alias("window_start"),
            F.col("window_end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.round("value_sum", 2).alias("value_sum"),
        )
        .withColumn(
            "stream_batch_mismatches", F.lit(int(mismatches)).cast("long")
        )
    )


def _events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build over the events change stream: per
    user, consecutive events with the same event_type collapse into one
    validity interval [effective_from, effective_to) with per-key version
    numbers and an is_current flag on the open interval. One shuffle on
    user_id; the change-detection lag, the interval-close lead, and the
    version running sum all reuse that partitioning (single Exchange in
    the plan). The oracle rebuilds the intervals with the same lag/lead
    windows in DuckDB."""
    from dbldatagen_spark.functions import scd2_intervals

    events = _load(spark, sf_dir, "events")
    return (
        scd2_intervals(
            events, "user_id", "ts", ["event_type"], order_col="event_id"
        )
        .select(
            "user_id",
            "event_type",
            F.col("effective_from").cast("timestamp_ntz").alias("effective_from"),
            F.col("effective_to").cast("timestamp_ntz").alias("effective_to"),
            "version",
            "is_current",
        )
    )


def _events_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 event_type dimension: every
    event probes the dimension 30 minutes after its own timestamp and
    the resolved (as-of) event_type distribution is aggregated. The
    equi-join on user_id carries the interval containment as a residual
    predicate, so Catalyst keeps an ordinary hash join — disjoint
    intervals guarantee no row amplification (asserted by construction:
    one output row per probe). Probes beyond a user's last event resolve
    to the open current version; probes before the first version (none
    here, since probes are event-anchored) would bucket as
    '__unmatched__'."""
    from dbldatagen_spark.functions import scd2_intervals, scd2_lookup

    events = _load(spark, sf_dir, "events")
    dim = scd2_intervals(
        events, "user_id", "ts", ["event_type"], order_col="event_id"
    )
    probes = events.select(
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("probe_ts"),
    )
    resolved = scd2_lookup(
        probes, dim, "user_id", "probe_ts"
    ).select(
        F.coalesce(F.col("event_type"), F.lit("__unmatched__")).alias(
            "valid_type"
        )
    )
    return (
        resolved.groupBy("valid_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    )


def _events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-style stream-stream interval join run as a REAL
    two-source Structured Streaming job: the click events and the
    purchase events are written to separate directories, read back as
    two independent file streams, and joined on user_id with purchases
    constrained to [click_ts, click_ts + 1 hour] — the time-range
    predicate that lets Spark bound both sides' join state (state is
    evicted as the watermark passes each row's participation window; the
    probe watermark here covers the corpus span so every pair emits).
    The batch expression is the identical equi-join + range residual,
    which the oracle recomputes; stream-vs-batch equality rides along as
    a constant mismatch column."""
    import shutil
    import tempfile

    from dbldatagen_spark.streaming.windows import interval_join_streams

    events = _load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
    )

    def _pairs(left, right):
        joined = interval_join_streams(
            left,
            right,
            "user_id",
            left_ts="click_ts",
            right_ts="purchase_ts",
            max_delay="1 hour",
            watermark="3650 days",
        )
        return joined.select(
            "user_id",
            "click_id",
            "purchase_id",
            (
                F.floor(
                    F.unix_timestamp("purchase_ts")
                    - F.unix_timestamp("click_ts")
                ).cast("long")
            ).alias("seconds_to_purchase"),
        )

    batch = _pairs(clicks, purchases)

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_ssjoin_")
    try:
        clicks.coalesce(1).write.parquet(f"{tmp}/clicks")
        purchases.coalesce(1).write.parquet(f"{tmp}/purchases")
        lstream = (
            spark.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/clicks")
        )
        rstream = (
            spark.readStream.schema(purchases.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/purchases")
        )
        q = (
            _pairs(lstream, rstream)
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.read.parquet(f"{tmp}/out")
        mismatches = (
            streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        batch.withColumn(
            "stream_batch_mismatches", F.lit(int(mismatches)).cast("long")
        )
    )


def _events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: users reaching each
    stage, where each stage's event must be strictly after the event
    that satisfied the previous stage. One shuffle on user_id; each
    user's funnel events are sorted and folded through a stage machine
    with F.aggregate (JVM higher-order function — no UDF, no per-step
    join). Greedy-earliest is optimal, so the oracle's chain of
    min-after-min aggregations computes the identical reach counts."""
    from dbldatagen_spark.functions import funnel_steps

    events = _load(spark, sf_dir, "events")
    return funnel_steps(
        events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).select(
        F.col("step_index").cast("long").alias("step_index"),
        "step",
        "n_users",
    )


def _events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users cohorted by the Monday of
    their first activity week; each (cohort, offset) cell counts
    distinct users active that many weeks later (offset 0 = cohort
    size). One shuffle on user_id (the cohort min-window shares the
    partitioning with the distinct-activity dedup) plus one
    map-side-combined aggregation on (cohort, offset) — dates and keys
    shuffle, never payloads. Integer-exact date arithmetic keeps the
    matrix engine-portable."""
    from dbldatagen_spark.functions import cohort_retention

    events = _load(spark, sf_dir, "events")
    return cohort_retention(
        events, "user_id", "ts", period="week", max_offset=10
    )


def _events_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER stream-stream interval join run for real: clicks LEFT OUTER
    purchases within 1 hour per user. Matched pairs emit as soon as both
    sides arrive; the unmatched-click null rows are the hard part — Spark
    holds them in state until the watermark passes their join window, so
    the run plants a flush row far past the corpus max in BOTH streams
    to advance the global watermark and release every outer row. The
    batch expression is the identical left join, which the oracle
    recomputes; stream-vs-batch equality (flush probes excluded) rides
    along as a constant mismatch column."""
    import datetime
    import shutil
    import tempfile

    from dbldatagen_spark.streaming.windows import interval_join_streams

    events = _load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
    )

    def _joined(left, right):
        out = interval_join_streams(
            left,
            right,
            "user_id",
            left_ts="click_ts",
            right_ts="purchase_ts",
            max_delay="1 hour",
            watermark="1 hour",
            how="leftOuter",
        )
        return out.select(
            "user_id",
            "click_id",
            "purchase_id",
            F.floor(
                F.unix_timestamp("purchase_ts")
                - F.unix_timestamp("click_ts")
            ).cast("long").alias("seconds_to_purchase"),
        )

    batch = _joined(clicks, purchases).where(F.col("click_id") >= 0)

    t_max = events.agg(F.max(F.col("ts").cast("timestamp"))).first()[0]
    flush_ts = t_max + datetime.timedelta(hours=10)
    # _lit_df: see the watermark query — a python one-row frame costs
    # ~6 s per coalesce(1) write on local[32]
    flush_click = _lit_df(spark, [(-1, -1, flush_ts)], clicks.schema)
    flush_purchase = _lit_df(spark, [(-1, -2, flush_ts)], purchases.schema)

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_ssoj_")
    try:
        clicks.coalesce(1).write.parquet(f"{tmp}/clicks")
        flush_click.coalesce(1).write.mode("append").parquet(f"{tmp}/clicks")
        purchases.coalesce(1).write.parquet(f"{tmp}/purchases")
        flush_purchase.coalesce(1).write.mode("append").parquet(
            f"{tmp}/purchases"
        )
        import glob
        import os
        import time

        now = time.time()
        for d in ("clicks", "purchases"):
            for i, f in enumerate(sorted(glob.glob(f"{tmp}/{d}/*.parquet"))):
                os.utime(f, (now + 1000 * i, now + 1000 * i))
        lstream = (
            spark.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/clicks")
        )
        rstream = (
            spark.readStream.schema(purchases.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/purchases")
        )
        q = (
            _joined(lstream, rstream)
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        streamed = spark.read.parquet(f"{tmp}/out").where(
            F.col("click_id") >= 0
        )
        mismatches = (
            streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        batch.withColumn(
            "stream_batch_mismatches", F.lit(int(mismatches)).cast("long")
        )
    )


def _events_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog-to-state reduction: events replayed as a CDC log keyed
    by user_id with event_id as the log sequence number — error events
    are tombstones, everything else upserts. Each user's final state is
    the highest-sequence operation, and users whose last operation is a
    tombstone are absent. One key shuffle; the descending-seq top-1
    plans as a pre-exchange WindowGroupLimit, so a hot key's update
    history never sorts in one reducer. The oracle replays the same
    last-writer-wins rule with a rank window."""
    from dbldatagen_spark.functions import apply_cdc

    events = _load(spark, sf_dir, "events")
    log = events.withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    return (
        apply_cdc(log, ["user_id"], "event_id", op_col="op")
        .select(
            "user_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "event_type",
            "value",
        )
    )


def _events_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store session rows: inactivity-gap sessions rolled into
    the standard engagement features (count, duration, entry/exit
    event types via min_by/max_by on a packed (epoch, id) key, bounce
    flag, value sum). The session lag window and the feature rollup
    share one user-key shuffle; integer epochs keep durations exact.
    The oracle replays the identical assignment and rollup with rank
    windows."""
    from dbldatagen_spark.functions import session_features

    events = _load(spark, sf_dir, "events")
    return (
        session_features(
            events, "user_id", "ts",
            event_type_col="event_type", order_col="event_id",
            value_col="value",
        )
        .select(
            "user_id",
            "session_seq",
            "n_events",
            "duration_seconds",
            "entry_type",
            "exit_type",
            "is_bounce",
            F.round("session_value", 4).alias("session_value"),
        )
    )


def _events_missing_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine completeness per event type: hour buckets between
    each type's first and last event that received NO data. The spine
    explodes from (min, max) per group — bounded by span/period, never
    by event count — and the anti-join compares bucket sets, not
    events. Integer-exact hour truncation keeps the spine engine-
    portable."""
    from dbldatagen_spark.functions import missing_periods

    events = _load(spark, sf_dir, "events")
    return missing_periods(
        events, "ts", period="hour", group_col="event_type"
    ).select(
        "event_type",
        F.col("missing_start").cast("timestamp_ntz").alias("missing_start"),
    )


def _events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate limiting (at most 3 events per user per
    trailing day): a genuinely RECURSIVE admission rule — each decision
    depends on which earlier events were admitted — folded through
    F.aggregate over per-user time-sorted events with the admitted-epoch
    state pruned to the window (O(max_events) per row, one key shuffle,
    no UDF). The oracle replays the identical walk with a recursive CTE;
    the streaming twin (rate_limit_with_state) is asserted
    decision-for-decision equal in pytest's real checkpointed run."""
    from dbldatagen_spark.functions import rate_limit_events

    events = _load(spark, sf_dir, "events")
    return (
        rate_limit_events(
            events, "user_id", "ts",
            max_events=3, window_seconds=86400, order_col="event_id",
        )
    )


def _gen_stock_ticker_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """basic/stock_ticker provider conformance: 2000 generated rows must
    have the declared shape (one row per symbol per day: 100 symbols x
    20 days), positive prices, high >= max(open, close) and
    low <= min(open, close) everywhere, strictly increasing dates per
    symbol, and bit-identical rebuilds under a different partition
    count (the partition-independence invariant). Constant-frame
    oracle."""
    from dbldatagen_spark.datasets.registry import Datasets

    rows = 2000
    df = Datasets(spark, "basic/stock_ticker").get(rows=rows).build().cache()
    n_rows = df.count()
    n_symbols = df.select("symbol").distinct().count()
    n_days = df.select("post_date").distinct().count()
    bad_prices = df.where(
        (F.col("open") <= 0)
        | (F.col("close") <= 0)
        | (F.col("high") < F.greatest("open", "close"))
        | (F.col("low") > F.least("open", "close"))
    ).count()
    from pyspark.sql import Window

    w = Window.partitionBy("symbol").orderBy("post_date")
    non_monotone = (
        df.withColumn("_prev", F.lag("post_date").over(w))
        .where(F.col("_prev").isNotNull() & (F.col("post_date") <= F.col("_prev")))
        .count()
    )
    a = sorted(map(tuple, df.collect()))
    b = sorted(
        map(
            tuple,
            Datasets(spark, "basic/stock_ticker").get(rows=rows).build()
            .repartition(7)
            .collect(),
        )
    )
    df.unpersist()
    return spark.createDataFrame(
        [
            (
                n_rows,
                n_symbols,
                n_days,
                bad_prices,
                non_monotone,
                a == b,
            )
        ],
        "n_rows long, n_symbols long, n_days long, bad_prices long, "
        "non_monotone long, rebuild_identical boolean",
    )


def _text_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-artifact screening over a deterministically corrupted
    corpus: docs with id % 7 == 0 get a Latin-1-mojibake suffix and ids
    % 11 == 0 a U+FFFD decode failure; mojibake_stats counts the marker
    hits by pure replace-and-measure string arithmetic (no regex), so
    every count and ratio is engine-exact. Map-only — text never leaves
    the scan."""
    from dbldatagen_spark.functions import mojibake_stats

    docs = _load(spark, sf_dir, "documents")
    corrupted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" cafÃ© â€œquote")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" �")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return mojibake_stats(corrupted, "doc_id", "text")


def _events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-to-bar compaction: hourly OHLC bars of the event value per
    event type — ONE map-side-combined aggregation on (type, hour
    bucket); open/close ride min_by/max_by over a packed (epoch, id)
    sort key, so there is no window, no sort, no second shuffle. The
    oracle re-derives open/close with rank windows over the same
    integer-exact epoch math."""
    from dbldatagen_spark.functions import ohlc_bars

    events = _load(spark, sf_dir, "events")
    return ohlc_bars(
        events, "event_type", "ts", "value",
        interval_seconds=3600, order_col="event_id",
    )


def _events_common_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top click-path mining: every window of 3 consecutive events in a
    user's sequence counts as one path occurrence; the 25 most common
    paths win, ties broken by path string. One key shuffle shared by
    both lags, one map-side-combined count on the path string, and the
    top-k compiles to TakeOrderedAndProject (per-partition heads, no
    global sort)."""
    from dbldatagen_spark.functions import common_paths

    events = _load(spark, sf_dir, "events")
    return common_paths(
        events, "user_id", "ts", "event_type",
        path_len=3, top_k=25, order_col="event_id",
    )


def _events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user:
    lag window on the user key (one shuffle of state names only), one
    map-side-combined pair aggregation, row-normalized over the
    metadata-sized matrix. Probabilities are single integer divisions —
    emitted unrounded, bit-identical across engines."""
    from dbldatagen_spark.functions import transition_matrix

    events = _load(spark, sf_dir, "events")
    return transition_matrix(
        events, "user_id", "ts", "event_type", order_col="event_id"
    )


def _events_scd2_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 integrity gate over a deliberately corrupted dimension: the
    clean interval table built from events gets deterministic defects —
    every 7th version's start pulled 1 hour early (overlaps), every
    19th version inverted (to < from, which also opens a gap to the next
    version), and the first version of every 13th user left open (a
    second current row). scd2_validate reports each as (key, from,
    violation); one key shuffle shared by the ordered lag and the
    open-version count. The oracle rebuilds the dim, applies the same
    corruption, and re-derives every violation kind in SQL."""
    from dbldatagen_spark.functions import scd2_intervals, scd2_validate

    events = _load(spark, sf_dir, "events")
    dim = scd2_intervals(
        events, "user_id", "ts", ["event_type"], order_col="event_id"
    )
    corrupted = dim.select(
        "user_id",
        F.when(
            (F.col("version") % 7 == 0) & (F.col("version") > 1),
            F.col("effective_from") - F.expr("INTERVAL 1 HOUR"),
        )
        .otherwise(F.col("effective_from"))
        .alias("effective_from"),
        F.when(
            F.col("version") % 19 == 0,
            F.col("effective_from") - F.expr("INTERVAL 1 HOUR"),
        )
        .when(
            (F.col("version") == 1) & (F.col("user_id") % 13 == 0),
            F.lit(None).cast("timestamp"),
        )
        .otherwise(F.col("effective_to"))
        .alias("effective_to"),
    )
    return scd2_validate(corrupted, "user_id").select(
        "key",
        F.col("effective_from").cast("timestamp_ntz").alias("effective_from"),
        "violation",
    )


def _events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof direction=
    'nearest' at cluster scale): each click finds the closest purchase
    by the same user in EITHER direction within a 1-day tolerance, ties
    breaking backward. Composed from the backward and forward union+
    ordered-window passes — one shuffle each on the user key, zero row
    amplification at any skew — while the oracle brute-forces the
    nearest pair per click (fine for DuckDB at test scale, exactly the
    quadratic the distributed plan avoids)."""
    from dbldatagen_spark.functions import asof_join_nearest

    events = _load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    return (
        asof_join_nearest(
            clicks,
            purchases,
            ["user_id"],
            "ts",
            ["value"],
            tolerance_seconds=86400.0,
        )
        .select(
            "user_id",
            "click_id",
            F.col("asof_ts").cast("timestamp_ntz").alias("purchase_ts"),
            F.col("asof_value").alias("purchase_value"),
        )
    )


def _events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly monitor: per (event_type, hour-of-day)
    slot mean/stddev over event values, rows beyond 3 sigma flagged,
    summarized per slot. One bounded aggregation on the (type, slot)
    key broadcast back over the scan — the value column never shuffles.
    Means/stddevs round at 4 to absorb streaming-moment association
    order; the anomaly counts are integer-exact unless a value sits
    within ULPs of the 3-sigma boundary (continuous values make that
    probability negligible)."""
    from dbldatagen_spark.functions import seasonal_residual_flags

    events = _load(spark, sf_dir, "events")
    flagged = seasonal_residual_flags(
        events, "ts", "value", group_col="event_type",
        season="hour_of_day", k=3.0,
    )
    # displayed stats via sorted float folds (bit-stable across
    # partitionings AND engines — plain avg/stddev aggregate in
    # association order, which lands on round-half boundaries)
    v = F.col("value").cast("double")
    add = lambda a, x: a + x
    stats = (
        flagged.groupBy("event_type", "season_slot")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
            F.aggregate(
                F.array_sort(F.collect_list(v)), F.lit(0.0), add
            ).alias("_sx"),
            F.aggregate(
                F.array_sort(F.collect_list(v * v)), F.lit(0.0), add
            ).alias("_sxx"),
        )
    )
    m = F.col("_sx") / F.col("n_obs")
    m2 = F.col("_sxx") / F.col("n_obs")
    return stats.select(
        "event_type",
        "season_slot",
        "n_obs",
        "n_anomalies",
        m.alias("slot_mean"),
        F.sqrt(F.greatest(m2 - m * m, F.lit(0.0))).alias("slot_std"),
    )


def _events_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation maintenance: the month's per-type metric
    state built as mergeable (n, sum, min, max) states from two separate
    "days" and MERGED — never rescanning day one — must equal the full
    recompute, which is exactly what the oracle does. The merge shuffles
    one state row per key, not events; avg derives at read time."""
    from dbldatagen_spark.functions import (
        merge_aggregates,
        mergeable_aggregate,
    )

    events = _load(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    day1 = mergeable_aggregate(
        events.where(F.col("ts") < cut), ["event_type"], "value"
    )
    day2 = mergeable_aggregate(
        events.where(F.col("ts") >= cut), ["event_type"], "value"
    )
    merged = merge_aggregates(day1, day2, ["event_type"])
    return merged.select(
        "event_type",
        "n",
        F.round("sum", 2).alias("value_sum"),
        F.round("min", 6).alias("value_min"),
        F.round("max", 6).alias("value_max"),
        F.round(F.col("sum") / F.col("n"), 6).alias("value_avg"),
    )


def _emb_mrl_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation of the embedding table to its first 8
    components with L2 re-normalization — map-only slice + one
    aggregate fold per row, no UDF, no shuffle. The oracle rebuilds the
    prefix, norm, and normalized components positionally (rounded at 6
    decimals to absorb group-sum association order). The component
    array is rendered to ONE '|'-joined fixed-6-decimal string — the
    driver's canonicalizer sorts rows via pandas and cannot hash
    list-typed cells (r6 red row), so conformance queries must emit
    scalar cells only; ROUND-then-%.6f is tie-free on both engines
    (a post-round double is never an exact 7-decimal dyadic), so Java's
    half-up and C's half-even formatters agree. The library function
    keeps returning the real array column."""
    from dbldatagen_spark.functions import truncate_embeddings

    emb = _load(spark, sf_dir, "embeddings")
    t = truncate_embeddings(emb, "embedding", 8)
    return t.select(
        "vec_id",
        F.round("embedding_mrl_norm", 6).alias("mrl_norm"),
        F.concat_ws(
            "|",
            F.transform(
                F.col("embedding_mrl"),
                lambda x: F.format_string("%.6f", F.round(x, 6)),
            ),
        ).alias("vec_mrl"),
    )


def _events_streaming_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization run as a REAL two-micro-batch job:
    the events change log (error = tombstone, event_id = sequence)
    replays through applyInPandasWithState, which keeps one
    (seq, alive, payload) row of state per key and emits a key's new
    current row whenever a batch advances it — the continuous
    counterpart of apply_cdc, with tombstones emitted dead rather than
    dropped so sinks can propagate deletes. The final emission per key
    must equal the batch path (one ranked window), which the oracle
    recomputes; stream-vs-batch equality rides along as a constant
    mismatch column."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    from dbldatagen_spark.streaming.stateful import cdc_latest_with_state

    events = _load(spark, sf_dir, "events")
    log = events.select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.to_json(F.struct("event_type", "value")).alias("payload"),
    )
    batch_final = cdc_latest_with_state(
        log, "user_id", "seq", payload_col="payload"
    )

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_cdcstate_")
    try:
        mid = log.agg(F.expr("percentile(seq, 0.5)")).first()[0]
        log.where(F.col("seq") <= mid).coalesce(1).write.parquet(f"{tmp}/src")
        log.where(F.col("seq") > mid).coalesce(1).write.mode("append").parquet(
            f"{tmp}/src"
        )
        now = time.time()
        for i, f in enumerate(sorted(glob.glob(f"{tmp}/src/*.parquet"))):
            os.utime(f, (now + 1000 * i, now + 1000 * i))
        stream = (
            spark.readStream.schema(log.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        q = (
            cdc_latest_with_state(stream, "user_id", "seq", payload_col="payload")
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        emissions = spark.read.parquet(f"{tmp}/out")
        w = Window.partitionBy("key").orderBy(F.col("seq").desc())
        final = (
            emissions.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
        )
        mismatches = (
            final.exceptAll(batch_final)
            .union(batch_final.exceptAll(final))
            .count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # re-derive the payload fields relationally (JSON text formats differ
    # across engines, so the hash-compared columns come from the source row)
    src = events.select(
        F.col("event_id").alias("seq"), "event_type", "value"
    )
    return (
        batch_final.join(src, "seq")
        .select(
            F.col("key").alias("user_id"),
            F.col("seq").alias("last_seq"),
            "alive",
            "event_type",
            "value",
        )
        .withColumn(
            "stream_batch_mismatches", F.lit(int(mismatches)).cast("long")
        )
    )


def _events_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-gap detection over a deliberately holed id sequence
    (every id ending in 3 dropped, plus the 500-549 range): maximal
    missing runs inside [min, max]. The naive lag-over-global-order
    funnels everything through one task; this plan buckets ids, finds
    within-bucket gaps in parallel, and closes cross-bucket gaps on the
    one-row-per-bucket summary. The oracle uses the single-task global
    lag — fine for DuckDB at test scale, exactly what the distributed
    plan avoids."""
    from dbldatagen_spark.functions import sequence_gaps

    events = _load(spark, sf_dir, "events")
    holed = events.where(
        (F.col("event_id") % 10 != 3)
        & ~F.col("event_id").between(500, 549)
    )
    return sequence_gaps(holed, "event_id", bucket_size=100)


def _privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy histogram of event types (sensitivity 1,
    scale 1/epsilon): noise drawn by inverse-CDF from a 60-bit md5
    uniform of (seed, group) so the release is deterministic and
    oracle-reproducible — the documented caveat being that a known seed
    voids the DP guarantee (production draws a fresh secret seed; the
    calibration is unchanged). One map-side-combined aggregation; noise
    is scan-local arithmetic on the tiny per-group result."""
    from dbldatagen_spark.functions import dp_noisy_counts

    events = _load(spark, sf_dir, "events")
    out = dp_noisy_counts(events, ["event_type"], epsilon=1.0, seed=42)
    return out.select(
        "event_type",
        "true_count",
        F.round("noisy_count", 4).alias("noisy_count"),
    )


def _events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment run as a REAL streaming job: the events
    file stream joins a small static weight dimension (broadcast — the
    stateless stream-static join needs no watermark and no state store)
    and every enriched row lands in an append-mode parquet sink. The
    weighted value is one IEEE multiply, so stream, batch, and the
    oracle agree bit-for-bit; stream-vs-batch equality rides along as a
    constant mismatch column."""
    import shutil
    import tempfile

    events = _load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = spark.createDataFrame(
        [
            ("click", 1.0),
            ("view", 0.5),
            ("purchase", 10.0),
            ("signup", 5.0),
            ("error", 0.0),
        ],
        ["event_type", "weight"],
    )

    def _enrich(src):
        return src.join(F.broadcast(dim), "event_type").select(
            "event_id",
            "event_type",
            "weight",
            (F.col("value") * F.col("weight")).alias("weighted_value"),
        )

    batch = _enrich(events)

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_ssj_")
    try:
        events.coalesce(2).write.parquet(f"{tmp}/src")
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        q = (
            _enrich(stream)
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        streamed = spark.read.parquet(f"{tmp}/out")
        mismatches = (
            streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        batch.withColumn(
            "stream_batch_mismatches", F.lit(int(mismatches)).cast("long")
        )
    )


def _customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over orders: per customer recency (days since
    last order, vs the corpus max date), frequency (order count) and
    monetary (lifetime spend, rounded before bucketing so the value is
    engine-exact), each quintile-bucketed with the scale-safe exact-
    quantile NTILE (cut points broadcast — no global sort) and composed
    into the classic RxFyMz segment label. One shuffle on custkey for
    the per-customer rollup; everything after operates on the (small)
    customer aggregate. The oracle recomputes buckets from identical
    quantile_cont cut points."""
    from dbldatagen_spark.functions import quantile_bucket

    orders = _load(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("_mx"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("_mx"), F.col("_last")).cast("long").alias(
                "recency_days"
            ),
            "n_orders",
            "monetary",
        )
    )
    b = quantile_bucket(per_cust, "recency_days", 5, out_col="r_bucket")
    b = quantile_bucket(b, "n_orders", 5, out_col="f_bucket")
    b = quantile_bucket(b, "monetary", 5, out_col="m_bucket")
    return (
        b.select(
            "o_custkey",
            "recency_days",
            "n_orders",
            "monetary",
            F.col("r_bucket").cast("int").alias("r_bucket"),
            F.col("f_bucket").cast("int").alias("f_bucket"),
            F.col("m_bucket").cast("int").alias("m_bucket"),
            F.concat(
                F.lit("R"), F.col("r_bucket").cast("string"),
                F.lit("F"), F.col("f_bucket").cast("string"),
                F.lit("M"), F.col("m_bucket").cast("string"),
            ).alias("segment"),
        )
    )


def _events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user bucket, hour bucket):
    the multidimensional file-layout trick — interleave the bits of the
    normalized dimensions into one long, range-partition and sort by it,
    and min/max file stats prune on BOTH columns at once. The key is a
    flat sum of shift/mask terms (whole-stage codegen, no UDF), which
    the oracle recomputes bit-for-bit; the range exchange itself is
    sampled-boundary and skew-resistant. Output is each event's z-value
    (the layout key a writer would sort by)."""
    from dbldatagen_spark.functions import zorder_value_expr

    events = _load(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1024))
    y = F.pmod(
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600),
        F.lit(1024),
    )
    return (
        events.select(
            "event_id",
            zorder_value_expr([x, y], bits=10).alias("zvalue"),
        )
    )


def _lineitem_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over lineitem: five named boolean
    expectations evaluated in ONE map-side-combined aggregation over a
    single scan (each rule is a conditional count in the same agg —
    adding rules adds expressions, never passes; NULL evaluates as a
    failure). The oracle recomputes every rule as a conditional SUM."""
    from dbldatagen_spark.functions import expectation_report

    li = _load(spark, sf_dir, "lineitem")
    return expectation_report(
        li,
        {
            "quantity_in_range": "l_quantity BETWEEN 1 AND 50",
            "price_positive": "l_extendedprice > 0",
            "discount_bounded": "l_discount BETWEEN 0.0 AND 0.2",
            "tax_bounded": "l_tax BETWEEN 0.0 AND 0.2",
            "flag_known": "l_returnflag IN ('A', 'N', 'R')",
        },
    )


def _events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: PSI of the event value column, first
    half of the month (reference) vs the rest (current), over the
    reference's exact quintile buckets. One bounded quantile aggregation
    broadcast to both scans, one count per (frame, bucket), a 5-row
    join — values never shuffle. Shares clamp at 1e-6 so empty buckets
    stay finite; the oracle recomputes buckets, shares, and ln terms
    bit-for-bit (rounded at 6 decimals)."""
    from dbldatagen_spark.functions import psi_report

    events = _load(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    ref = events.where(F.col("ts") < cut)
    cur = events.where(F.col("ts") >= cut)
    return psi_report(ref, cur, "value", num_buckets=5)


def _events_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-x-interval overlap join: each user's daily click span
    ([first, last] click of the day) paired with their daily purchase
    spans wherever the two time ranges intersect. Bucket blocking on
    (user, hour-bucket) turns the theta join into an ordinary hash
    equi-join, and the canonical-bucket rule (only the bucket containing
    the intersection's start emits) yields exactly one row per
    overlapping pair with NO distinct stage. Integer epoch bounds keep
    overlap durations engine-exact; the oracle recomputes the pairs
    with a plain theta join."""
    from dbldatagen_spark.functions import interval_overlap_join

    events = _load(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp"))).alias("ep"),
    )

    def _spans(etype, day_alias, s_alias, e_alias):
        return (
            base.where(F.col("event_type") == etype)
            .groupBy("user_id", F.col("day").alias(day_alias))
            .agg(
                F.min("ep").alias(s_alias),
                F.max("ep").alias(e_alias),
            )
        )

    clicks = _spans("click", "click_day", "cs", "ce")
    purchases = _spans("purchase", "purchase_day", "ps", "pe")
    return (
        interval_overlap_join(
            clicks,
            purchases,
            "cs",
            "ce",
            "ps",
            "pe",
            equi_keys=["user_id"],
            bucket_width_seconds=3600,
        )
        .select(
            "user_id",
            "click_day",
            "purchase_day",
            (
                F.least(F.col("ce"), F.col("pe"))
                - F.greatest(F.col("cs"), F.col("ps"))
            ).cast("long").alias("overlap_seconds"),
        )
    )


def _events_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-engineering pass: global exact-quartile bucketing of the
    value column (the scale-safe NTILE — cut points from one bounded
    aggregation broadcast over the scan, no global sort) composed with
    per-event-type robust z-scores (median-centered, IQR-scaled), then
    summarized per (type, bucket). Thresholds are exact interpolated
    percentiles, so every bucket edge and z-score is engine-portable."""
    from dbldatagen_spark.functions import quantile_bucket, zscore_normalize

    events = _load(spark, sf_dir, "events")
    bucketed = quantile_bucket(events, "value", 4)
    scaled = zscore_normalize(
        bucketed, "value", by="event_type", robust=True
    )
    return (
        scaled.groupBy(
            "event_type", F.col("value_bucket").cast("int").alias("value_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.min("value_z"), 4).alias("z_min"),
            F.round(F.max("value_z"), 4).alias("z_max"),
        )
    )


def _docs_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: every document gets
    2 negatives from its hash bucket's pseudo-random ring — balanced
    (each row also SERVES as a negative exactly twice), no repeats, no
    driver state, no cross join. Two windows over the bucket
    partitioning + one co-partitioned equi-join on (bucket, rank); md5
    mode keeps bucket and ring order recomputable by the oracle."""
    from dbldatagen_spark.functions import contrastive_negatives

    docs = _load(spark, sf_dir, "documents")
    return contrastive_negatives(
        docs, "doc_id", k=2, num_buckets=16, seed=42, hash_mode="md5"
    )


def _docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    20 documents per source with inclusion probability proportional to
    n_chars, via the key ln(u)/w over a 60-bit md5-derived uniform — a
    deterministic, partitioning-independent, engine-portable draw (the
    oracle recomputes the identical keys and ranks). Same pre-exchange
    WindowGroupLimit top-n shape as the quota sampler."""
    from dbldatagen_spark.functions import weighted_sample

    docs = _load(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, "source", "doc_id", "n_chars", 20)
        .select("doc_id", "source", "n_chars")
    )


def _docs_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: every source keeps at most 50
    documents, chosen by md5-of-id priority so the subset is
    deterministic, partitioning-independent, and reproducible by any
    engine that can hash (the oracle re-derives the identical subset
    with the same md5 ranking). Spark plans the rank-filter as a
    WindowGroupLimit — per-map-task top-50 BEFORE the exchange — so a
    billion-row hot domain ships 50 rows per task, not its whole
    history."""
    from dbldatagen_spark.functions import quota_sample

    docs = _load(spark, sf_dir, "documents")
    return (
        quota_sample(docs, "source", "doc_id", 50, hash_mode="md5")
        .select("doc_id", "source", "n_chars")
    )


def _docs_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget selection: longest documents first
    (ties by id), kept while each source's running character total stays
    within 100k — the corpus-composition step that fixes every source's
    token share. The inclusive running sum is emitted as cum_weight so
    the keep decision is auditable; one shuffle on source shared by the
    ranking sort and the windowed sum. The oracle replays the same
    greedy prefix with a windowed SUM."""
    from dbldatagen_spark.functions import budget_select

    docs = _load(spark, sf_dir, "documents")
    return (
        budget_select(docs, "source", "doc_id", "n_chars", 100_000.0)
        .select("source", "doc_id", "n_chars", "cum_weight")
    )


def _events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type metric summary: event values are clipped to
    the exact global [p01, p99] (Spark `percentile` and DuckDB
    `quantile_cont` are the same linear-interpolation estimator, so the
    thresholds — and every clipped value — are engine-portable), then
    summarized per event_type with the clip thresholds and the count of
    clipped rows. One all-reduce to two doubles broadcast back over the
    scan, one map-side-combined aggregation; the value column never
    shuffles."""
    from dbldatagen_spark.functions import winsorize

    events = _load(spark, sf_dir, "events")
    w = winsorize(events, "value", lower_q=0.01, upper_q=0.99)
    return (
        w.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value_winsorized"), 2).alias("clipped_sum"),
            F.round(F.min("value_winsorized"), 4).alias("clipped_min"),
            F.round(F.max("value_winsorized"), 4).alias("clipped_max"),
            F.sum(
                (
                    (F.col("value") < F.col("_clip_lo"))
                    | (F.col("value") > F.col("_clip_hi"))
                ).cast("long")
            ).alias("n_clipped"),
        )
    )


def _dedup_fuzzy_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution over customer names: candidate pairs
    within one Levenshtein edit, generated inside 16-char prefix blocks
    (JVM levenshtein, one self-equi-join on the block key, no UDF, no
    cross product; the 16-char block bounds every block at ~100 records
    so the quadratic step stays constant-sized as the corpus grows).
    The oracle recomputes every pair and distance."""
    from dbldatagen_spark.functions import fuzzy_match_records

    cust = _load(spark, sf_dir, "customer")
    return (
        fuzzy_match_records(
            cust, "c_custkey", "c_name", max_distance=1, block_len=16
        )
        .select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))
    )


def _dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup with a pre-existing clustering (the
    label column): within each cluster, any vector with a smaller-id
    neighbor at cosine >= 0.45 is dropped; the oracle reproduces every
    keep/drop decision exactly. The kmeans/LSH clustering methods are
    pytest-covered (clustering quality is invariant-checked by
    ann_kmeans_ivf)."""
    from dbldatagen_spark.functions import semantic_dedup

    emb = _load(spark, sf_dir, "embeddings")
    return (
        semantic_dedup(
            emb, "vec_id", "embedding", cluster_col="label", threshold=0.45
        )
        .withColumn("cluster", F.col("cluster").cast("long"))
    )


def _text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (target domain = source 'src0' documents,
    raw = whole corpus): total log2 likelihood ratio between the
    target-fit and self-fit char-bigram LMs. Two charset-bounded model
    fits + scan-local scoring + an id join of metadata-sized frames —
    document text never shuffles."""
    from dbldatagen_spark.functions import dsir_importance

    docs = _load(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return dsir_importance(docs, "doc_id", "text", target)


def _text_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality battery (word count, mean word length,
    symbol ratio, bullet/ellipsis lines, alpha-word fraction, stop-word
    hits) — every rule a scan-stage expression, map-only plan; the
    oracle recomputes all measurements and flags independently."""
    from dbldatagen_spark.functions import gopher_quality_flags

    docs = _load(spark, sf_dir, "documents")
    return gopher_quality_flags(docs, "doc_id", "text")


def _text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span duplication (Lee et al.-style): 10-token
    windows every 5 tokens, corpus-wide counts, per-doc duplicated-span
    fraction. Only (md5, doc_id) pairs shuffle — span text is hashed in
    the scan; the oracle recomputes every window hash bit-for-bit."""
    from dbldatagen_spark.functions import duplicated_span_stats

    docs = _load(spark, sf_dir, "documents")
    return duplicated_span_stats(
        docs, "doc_id", "text", window=10, stride=5, hash_mode="md5"
    )


def _text_charlm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style char-bigram LM quality scoring, self-fit on the corpus:
    the model is charset-bounded (one aggregation, collapsed to a single
    broadcast row of map columns), scoring is scan-local expressions —
    no per-char explode, no per-doc regroup, no UDF. Sorted-fold float
    sums keep the score bit-stable across partitionings and engines."""
    from dbldatagen_spark.functions import charlm_score

    docs = _load(spark, sf_dir, "documents")
    return charlm_score(docs, "doc_id", "text")


def _corpus_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus mixing (dataset composition): rate<1
    downsamples, rate>1 emits epoch copies with expected multiplicity
    exactly the rate. Portable md5 mode so the oracle recomputes every
    keep/copy decision bit-for-bit. Map-only plan: the downsample
    predicate sits in the scan, upsampling is a map-side explode."""
    from dbldatagen_spark.functions import mix_corpus

    docs = _load(spark, sf_dir, "documents")
    return (
        mix_corpus(
            docs,
            "doc_id",
            "source",
            {"src0": 0.5, "src1": 2.25, "src2": 1.0, "src3": 3.0},
            seed=42,
            hash_mode="md5",
        )
        .select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))
    )


def _corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing placement map: documents hashed into 8
    shards, shuffled by seeded hash, concatenated, chopped every 2048
    tokens (n_chars stands in for the token count — packing is agnostic
    to the counter). One shuffle (shard key) + per-shard bounded sort;
    portable md5 mode so the oracle reproduces shard, order, and every
    prefix-sum offset exactly."""
    from dbldatagen_spark.functions import pack_sequences

    docs = _load(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "doc_id", "n_chars", 2048, num_shards=8, seed=42, hash_mode="md5"
    )


def _text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (shared explode feeds tf and df;
    df broadcast back; per-doc top-k rides the tf partitioning)."""
    from dbldatagen_spark.functions import tfidf_terms

    docs = _load(spark, sf_dir, "documents")
    return tfidf_terms(docs, "doc_id", "text", top_k_per_doc=3)


def _text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval for a fixed query (query-term filter precedes all
    aggregation; posting lists for other terms never exist)."""
    from dbldatagen_spark.functions import bm25_search

    docs = _load(spark, sf_dir, "documents")
    return bm25_search(
        docs, "doc_id", "text", "window column scan", top_k=20
    )


def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs collapsed to duplicate clusters: each doc labelled
    with the min doc_id reachable through the >=0.5-Jaccard pair graph
    (iterative min-label propagation; oracle is a recursive CTE)."""
    from dbldatagen_spark.functions import duplicate_components, ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    # exact pair graph (max_posting_len=None): the oracle's recursive CTE is
    # exact, so the stop-shingle cap must be off or the graphs can diverge
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, max_posting_len=None
    )
    return duplicate_components(pairs)


def _dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction cluster dedup: every doc labelled with its
    cluster's canonical (min) id WITHOUT materializing the pair set —
    output equals the components of the exact >=0.5-Jaccard pair graph
    (oracle: recursive CTE over that graph, singletons map to self)."""
    from dbldatagen_spark.functions import minhash_cluster_dedup

    docs = _load(spark, sf_dir, "documents")
    return minhash_cluster_dedup(docs, "doc_id", "text", threshold=0.5)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable SimHash signatures (md5 token hashing, 60-bit) — fully
    recomputable by the DuckDB oracle bit-for-bit."""
    from dbldatagen_spark.functions import simhash_signatures

    docs = _load(spark, sf_dir, "documents")
    return simhash_signatures(docs, "doc_id", "text", token_hash="md5")


def _ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.functions import cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    return cosine_topk(emb, "vec_id", "embedding", q, k=10)


def _ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: LSH-bucketed ANN recovers >= 6 of the exact top-10."""
    from dbldatagen_spark.functions import cosine_topk, lsh_bucket_ann_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    exact = cosine_topk(emb, "vec_id", "embedding", q, k=10).select("vec_id")
    approx = lsh_bucket_ann_topk(
        emb, "vec_id", "embedding", q, k=10, max_hamming=6
    ).select("vec_id")
    overlap = exact.join(approx, "vec_id").count()
    return spark.createDataFrame([(overlap >= 6,)], "recall_ok boolean")


def _text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.functions import detect_language

    docs = _load(spark, sf_dir, "documents")
    return detect_language(docs, "doc_id", "text")


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.functions import quality_metrics

    docs = _load(spark, sf_dir, "documents")
    return quality_metrics(docs, "doc_id", "text")


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbldatagen_spark.functions import document_fingerprint

    docs = _load(spark, sf_dir, "documents")
    return document_fingerprint(docs, "doc_id", "text").select(
        "doc_id", "sha256_hex"
    )


def _gen_distribution_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: each continuous distribution lands in its expected
    statistical window (deterministic for a fixed seed; windows are wide
    enough to survive implementation-preserving refactors)."""
    from dbldatagen_spark import (
        Beta,
        ColumnSpec,
        Exponential,
        Gamma,
        LogNormal,
        Normal,
        Pareto,
        RangeColumn,
        TableSpec,
        Zipf,
        generate_table,
    )

    t = TableSpec(
        "dist",
        _GEN_ROWS,
        columns=[
            ColumnSpec("nrm", RangeColumn(0.0, 1.0, distribution=Normal()), dtype="double"),
            ColumnSpec("bet", RangeColumn(0.0, 1.0, distribution=Beta(2.0, 5.0)), dtype="double"),
            ColumnSpec("gam", RangeColumn(0.0, 1.0, distribution=Gamma(2.0, 2.0)), dtype="double"),
            ColumnSpec("par", RangeColumn(0.0, 1.0, distribution=Pareto(1.5)), dtype="double"),
            ColumnSpec("zpf", RangeColumn(0.0, 1.0, distribution=Zipf(1.5)), dtype="double"),
            ColumnSpec("exp", RangeColumn(0.0, 1.0, distribution=Exponential(1.0)), dtype="double"),
            ColumnSpec("lgn", RangeColumn(0.0, 1.0, distribution=LogNormal(0.0, 0.5)), dtype="double"),
        ],
        partitions=8,
    )
    df = generate_table(spark, t, seed=42)

    def _between(c, lo, hi):
        return (F.avg(c) >= lo) & (F.avg(c) <= hi)

    return df.agg(
        _between("nrm", 0.45, 0.55).alias("normal_centered"),
        _between("bet", 0.23, 0.34).alias("beta_mean_ok"),
        _between("gam", 0.15, 0.25).alias("gamma_mean_ok"),
        _between("exp", 0.15, 0.25).alias("exp_mean_ok"),
        # heavy tails: median far below mean, support reaches high values
        (F.median("par") < F.avg("par")).alias("pareto_skewed"),
        (F.median("zpf") < F.avg("zpf")).alias("zipf_skewed"),
        (F.max("par") > 0.3).alias("pareto_tail_reaches"),
        (F.median("lgn") >= 0.05).alias("lognormal_median_ok"),
        (F.median("lgn") <= 0.15).alias("lognormal_median_ok2"),
        (
            (F.min("nrm") >= 0.0) & (F.max("nrm") <= 1.0)
            & (F.min("bet") >= 0.0) & (F.max("bet") <= 1.0)
            & (F.min("par") >= 0.0) & (F.max("par") <= 1.0)
        ).alias("all_bounded"),
    )


def _gen_unique_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniqueCombinations constraint: dedupe on (a, b) over cycling bases
    (exact oracle: SELECT DISTINCT of the same modular cycle)."""
    from dbldatagen_spark import DataGenerator, UniqueCombinations

    df = (
        DataGenerator(spark, name="uc", rows=_GEN_ROWS, partitions=8)
        .withColumn("a", "int", minValue=0, maxValue=4)
        .withColumn("b", "int", minValue=0, maxValue=2)
        .withConstraint(UniqueCombinations(["a", "b"]))
        .build()
    )
    return df.select("a", "b")


def _ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force kNN join: 20 probe vectors x full table, top-5 each
    (exact oracle: DuckDB cross join + window rank on the same cosine)."""
    from dbldatagen_spark.functions.similarity import knn_join

    emb = _load(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return knn_join(
        probes, emb, "probe_id", "vec_id", "probe_vec", "embedding", k=5
    )


def _gen_constant_seedfrom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant columns are literal; seed_from-correlated columns are a
    pure function of the source column's values (same src value -> same
    derived value, across all rows and partitions)."""
    from dbldatagen_spark import (
        ColumnSpec,
        ConstantColumn,
        RangeColumn,
        TableSpec,
        generate_table,
    )

    t = TableSpec(
        "sf",
        _GEN_ROWS,
        columns=[
            ColumnSpec("region_id", RangeColumn(1, 10), dtype="int"),
            ColumnSpec("source", ConstantColumn("synthetic")),
            ColumnSpec(
                "region_score",
                RangeColumn(0, 1_000_000),
                dtype="int",
                seed_from="region_id",
            ),
        ],
        partitions=8,
    )
    df = generate_table(spark, t, seed=42)
    per_src = df.groupBy("region_id").agg(
        F.countDistinct("region_score").alias("n")
    )
    return df.agg(
        F.min(F.col("source") == "synthetic").alias("constant_ok")
    ).crossJoin(
        per_src.agg(
            (F.max("n") == 1).alias("functional_dependency"),
            (F.count(F.lit(1)) == 10).alias("src_cardinality_ok"),
        )
    )


def _gen_sales_order_ri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sales_order dataset: row counts plus zero FK orphans
    across orders->customers and line_items->{orders, catalog_items}
    (broadcast anti-joins; exact count oracle)."""
    from dbldatagen_spark.datasets.registry import Datasets

    rows = 1000
    ds = Datasets(spark, "multi_table/sales_order")
    get = lambda t: ds.get(table=t, rows=rows).build()
    customers = get("customers")
    catalog = get("catalog_items")
    orders = get("base_orders")
    items = get("base_order_line_items")

    def orphans(child, parent, key):
        return child.join(F.broadcast(parent.select(key)), key, "left_anti").count()

    return spark.createDataFrame(
        [
            (
                customers.count(),
                catalog.count(),
                orders.count(),
                items.count(),
                orphans(orders, customers, "customer_id"),
                orphans(items, orders, "order_id"),
                orphans(items, catalog, "item_id"),
            )
        ],
        "n_customers long, n_catalog long, n_orders long, n_items long, "
        "orphan_orders long, orphan_item_orders long, orphan_item_catalog long",
    )


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: probe the 2 label-cells nearest the query by centroid,
    exact cosine within (exact oracle: same two-stage plan in DuckDB)."""
    from dbldatagen_spark.functions.similarity import ivf_ann_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    return ivf_ann_topk(
        emb, "vec_id", "embedding", q, k=10, cell_col="label", n_probe=2
    )


def _gen_struct_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """withStructColumn -> named_struct -> to_json over non-random bases
    (exact oracle: DuckDB to_json emits the same compact encoding)."""
    from dbldatagen_spark import DataGenerator

    df = (
        DataGenerator(spark, name="sj", rows=_GEN_ROWS, partitions=8)
        .withIdOutput()
        .withColumn("a", "int", minValue=1, maxValue=20)
        .withColumn("b", "string", values=["x", "y", "z"])
        .withStructColumn("sj", fields=["a", "b"], asJson=True)
        .build()
    )
    return df.select(F.col("id").alias("row_id"), "sj")


def _gen_format_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v0 format/prefix/suffix decorators over a non-random base (exact)."""
    from dbldatagen_spark import DataGenerator

    df = (
        DataGenerator(spark, name="fmt", rows=_GEN_ROWS, partitions=8)
        .withIdOutput()
        .withColumn("code", "int", minValue=1, maxValue=20, prefix="item",
                    suffix="ver", textSeparator="_")
        .withColumn("fmtd", "string", minValue=0, maxValue=99, format="%05d")
        .build()
    )
    return df.select(
        F.col("id").alias("row_id"), "code", "fmtd"
    )


def _gen_weighted_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted cycling (v0 non-random weighted values)."""
    from dbldatagen_spark import DataGenerator

    df = (
        DataGenerator(spark, name="wc", rows=_GEN_ROWS, partitions=8)
        .withIdOutput()
        .withColumn("v", "string", values=["a", "b", "c"], weights=[9, 1, 1])
        .build()
    )
    return df.select(F.col("id").alias("row_id"), "v")


def _gen_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint pipeline over non-random columns — fully reproducible:
    every surviving row satisfies the AND of all filters (exact oracle)."""
    from dbldatagen_spark import (
        ChainedRelation,
        DataGenerator,
        LiteralRange,
        PositiveValues,
        RangedValues,
    )

    df = (
        DataGenerator(spark, name="cons", rows=_GEN_ROWS, partitions=8)
        .withIdOutput()
        .withColumn("a", "int", minValue=-100, maxValue=100)
        .withColumn("b", "int", minValue=0, maxValue=50)
        .withColumn("lo", "int", minValue=0, maxValue=10)
        .withColumn("hi", "int", minValue=20, maxValue=30)
        .withColumn("v", "int", minValue=0, maxValue=40)
        .withConstraint(PositiveValues("b"))
        .withConstraint(LiteralRange("a", -50, 50))
        .withConstraint(RangedValues("v", "lo", "hi"))
        .withConstraint(ChainedRelation(["lo", "hi"], "<"))
        .withSqlConstraint("a % 2 == 0")
        .build()
    )
    return df.select(
        F.col("id").alias("row_id"), "a", "b", "lo", "hi", "v"
    )


def _gen_template_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: template, ILText, and faker-pool outputs all conform."""
    from dbldatagen_spark import DataGenerator, ILText, fakerText

    df = (
        DataGenerator(spark, name="txt", rows=_GEN_ROWS, partitions=8)
        .withColumn("phone", "string", template="ddd-ddd-dddd")
        .withColumn("lorem", "string", text=ILText(paragraphs=1, sentences=(1, 2), words=(3, 6)))
        .withColumn("mail", "string", text=fakerText("email"))
        .build()
    )
    return df.agg(
        F.sum(F.when(F.col("phone").rlike(r"^\d{3}-\d{3}-\d{4}$"), 1).otherwise(0))
        .cast("long").alias("phone_ok"),
        F.sum(
            F.when(
                F.col("lorem").rlike(r"^[A-Z].*\.$") & (F.length("lorem") > 0), 1
            ).otherwise(0)
        ).cast("long").alias("lorem_ok"),
        F.sum(F.when(F.col("mail").contains("@"), 1).otherwise(0))
        .cast("long").alias("mail_ok"),
    )


def _gen_array_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: variable-length feature arrays respect (2,6) bounds."""
    from dbldatagen_spark import DataGenerator

    df = (
        DataGenerator(spark, name="arr", rows=_GEN_ROWS, partitions=8)
        .withColumn(
            "features", "float", minValue=0.0, maxValue=1.0, random=True,
            numColumns=(2, 6), structType="array",
        )
        .build()
    )
    return df.agg(
        F.sum(
            F.when((F.size("features") >= 2) & (F.size("features") <= 6), 1).otherwise(0)
        ).cast("long").alias("size_ok"),
        F.sum(
            F.when(
                (F.array_min("features") >= 0.0) & (F.array_max("features") <= 1.0), 1
            ).otherwise(0)
        ).cast("long").alias("range_ok"),
    )


def _gen_unique_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: uniqueValues restricts random dates to exactly k points."""
    from dbldatagen_spark import DataGenerator

    df = (
        DataGenerator(spark, name="ud", rows=_GEN_ROWS, partitions=8)
        .withColumn("d", "date", begin="2020-01-01", end="2020-12-31",
                    uniqueValues=30, random=True)
        .build()
    )
    return df.agg(
        F.countDistinct("d").cast("long").alias("distinct_days"),
        (F.min("d") >= F.lit("2020-01-01").cast("date")).alias("min_ok"),
        (F.max("d") <= F.lit("2020-02-01").cast("date")).alias("max_in_first_k"),
    )


def _gen_iltext_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ILText invariants (reference ``text_generators.py:996-1257``): every
    token comes from the fixed lorem vocabulary, per-row word counts stay
    inside the paragraphs*sentences*words envelope, and two builds at
    different partition counts are bit-identical."""
    from dbldatagen_spark import DataGenerator, ILText
    from dbldatagen_spark.operators.templates import LOREM_WORDS

    def build(partitions: int) -> DataFrame:
        return (
            DataGenerator(
                spark, name="il_t", rows=_GEN_ROWS, partitions=partitions,
                randomSeed=42,
            )
            .withColumn(
                "txt", "string",
                text=ILText(paragraphs=1, sentences=(1, 3), words=(3, 8)),
            )
            .build()
        )

    df = build(8)
    vocab = F.array(*[F.lit(w) for w in LOREM_WORDS])
    toks = F.filter(
        F.split(F.lower(F.regexp_replace(F.col("txt"), r"[.\n]+", " ")), r"\s+"),
        lambda t: t != F.lit(""),
    )
    per_row = df.select(
        F.size(F.array_except(toks, vocab)).alias("n_foreign"),
        F.size(toks).alias("n_words"),
    )
    stats = per_row.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("n_foreign") > 0, 1).otherwise(0))
        .cast("long").alias("rows_with_foreign_words"),
        # 1 paragraph of 1-3 sentences of 3-8 words each
        F.sum(
            F.when((F.col("n_words") >= 3) & (F.col("n_words") <= 24), 0).otherwise(1)
        ).cast("long").alias("rows_out_of_bounds"),
    )
    d1, d2 = build(8), build(3)
    diff = (
        d1.exceptAll(d2).union(d2.exceptAll(d1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return stats.crossJoin(diff)


def _gen_faker_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faker-pool invariants (reference ``faker_pool.py:18-135``): every
    generated value is a member of the deterministic driver-side pool
    (rebuilt here via the same seed derivation), and two builds at
    different partition counts are identical."""
    from dbldatagen_spark import ColumnSpec, FakerColumn, TableSpec, generate_table
    from dbldatagen_spark.operators.seed import derive_column_seed
    from dbldatagen_spark.operators.text import build_pool

    spec = FakerColumn(method="name", pool_size=64)

    def build(partitions: int) -> DataFrame:
        t = TableSpec(
            "faker_t", _GEN_ROWS,
            columns=[ColumnSpec("person", spec)],
            partitions=partitions,
        )
        return generate_table(spark, t, seed=42)

    pool = build_pool(spec, derive_column_seed(42, "faker_t", "person"))
    pool_arr = F.array(*[F.lit(v) for v in pool])
    df = build(8)
    stats = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.array_contains(pool_arr, F.col("person")), 0).otherwise(1))
        .cast("long").alias("values_outside_pool"),
        (F.countDistinct("person") <= F.lit(len(pool))).alias("distinct_within_pool"),
    )
    d1, d2 = build(8), build(5)
    diff = (
        d1.exceptAll(d2).union(d2.exceptAll(d1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return stats.crossJoin(diff)


def _gen_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sink + view registration invariants: a generated table written
    through OutputDataset (range-partitioned parquet layout) reads back
    identical, and the temp-view registration path serves the same rows
    through spark.sql."""
    import os
    import tempfile

    from dbldatagen_spark import (
        ColumnSpec,
        OutputDataset,
        RangeColumn,
        SequenceColumn,
        TableSpec,
        generate_table,
        write_data_to_output,
    )

    t = TableSpec(
        "sink_t",
        _GEN_ROWS,
        columns=[
            ColumnSpec("pk", SequenceColumn(start=0, step=1), dtype="long"),
            ColumnSpec("grp", RangeColumn(1, 50), dtype="int"),
        ],
        partitions=8,
    )
    df = generate_table(spark, t, seed=42)

    out_dir = os.path.join(tempfile.gettempdir(), "dbldatagen_spark_sink_rt")
    write_data_to_output(
        df,
        OutputDataset(
            location=out_dir,
            mode="overwrite",
            range_partition_by=["pk"],
            sort_within_files=True,
            range_partitions=4,
        ),
    )
    back = spark.read.parquet(out_dir)
    mismatches = df.exceptAll(back).union(back.exceptAll(df))

    df.createOrReplaceTempView("sink_rt_view")
    via_view = spark.sql("SELECT COUNT(*) AS n FROM sink_rt_view")

    return (
        back.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .crossJoin(
            mismatches.agg(F.count(F.lit(1)).cast("long").alias("readback_mismatches"))
        )
        .crossJoin(via_view.select((F.col("n") == _GEN_ROWS).alias("view_ok")))
    )


def _gen_streaming_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-surface invariant (SURVEY §2.7): a streaming build over the
    rate source emits exactly the rows a batch build produces for the same
    seed ids — all randomness is xxhash64(seed, id), so batch ≡ stream.
    Runs a real Structured Streaming query (rate source -> parquet sink with
    checkpoint), then compares the captured id range against the batch
    build. Timing-independent: the comparison is restricted to whatever ids
    the stream committed before stop."""
    import shutil
    import tempfile

    from dbldatagen_spark import DataGenerator
    from dbldatagen_spark.streaming import build_streaming, run_stream_until_rows

    def make_gen() -> DataGenerator:
        return (
            DataGenerator(spark, name="stream_t", rows=100000, partitions=4,
                          randomSeed=42)
            .withIdOutput()
            .withColumn("code", "int", minValue=100, maxValue=999, random=True)
            .withColumn("grp", "string", values=["a", "b", "c"], random=True)
        )

    stream_df = build_streaming(make_gen(), rows_per_second=5000)
    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_stream_rt_")
    try:
        run_stream_until_rows(
            stream_df, f"{tmp}/data", f"{tmp}/ckpt", min_rows=500,
            timeout_seconds=90.0,
        )
        captured = spark.read.parquet(f"{tmp}/data")
        max_id = captured.agg(F.max("id")).first()[0] or 0
        # cap at the batch generator's row count in case the stream ran long
        cutoff = min(int(max_id), 100000 - 1)
        batch = make_gen().build().where(F.col("id") <= F.lit(cutoff))
        cap = captured.select("id", "code", "grp").where(F.col("id") <= F.lit(cutoff))
        diffs = cap.exceptAll(batch).union(batch.exceptAll(cap))
        n_captured = cap.count()
        n_diffs = diffs.count()
        return spark.createDataFrame(
            [(n_captured >= 500, int(n_diffs))],
            "enough_rows boolean, stream_batch_mismatches bigint",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _events_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming surface: native session windows computed by a
    REAL Structured Streaming run (file source -> session_window agg ->
    memory sink, availableNow) must equal both the batch run of the same
    operator and the oracle's independent gaps-and-islands SQL. Output is
    the per-session table (the oracle recomputes it row-for-row) plus a
    constant mismatch count from the stream-vs-batch exceptAll probe.
    Session semantics verified against Spark: events exactly ``gap``
    apart merge, the break is strictly-greater, session_end is last event
    + gap."""
    import shutil
    import tempfile
    import uuid

    from dbldatagen_spark.streaming.stateful import session_window_agg

    src = _load(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = session_window_agg(src, "user_id", "ts", gap="30 minutes")

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_evstream_")
    name = f"sess_tbl_{uuid.uuid4().hex[:8]}"
    try:
        shutil.copy(f"{sf_dir}/events.parquet", f"{tmp}/events.parquet")
        stream = (
            spark.readStream.schema(_load(spark, sf_dir, "events").schema)
            .parquet(tmp)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        sess = session_window_agg(
            stream, "user_id", "ts", gap="30 minutes", watermark="2 hours"
        )
        q = (
            sess.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        streamed = spark.table(name)
        mismatches = (
            streamed.exceptAll(batch).union(batch.exceptAll(streamed)).count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return (
        batch.select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round("value_sum", 2).alias("value_sum"),
        )
        .withColumn(
            "stream_batch_mismatches", F.lit(int(mismatches)).cast("long")
        )
    )


def _gen_template_expr_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-Catalyst template fast path (TemplateGenerator mode='expr'):
    conformance + cross-partitioning determinism, with zero Python UDF
    nodes in the plan (asserted in tests; here the invariants)."""
    from dbldatagen_spark import DataGenerator, TemplateGenerator

    def build(partitions: int) -> DataFrame:
        return (
            DataGenerator(spark, name="texpr_t", rows=_GEN_ROWS,
                          partitions=partitions, randomSeed=42)
            .withColumn(
                "phone", "string",
                text=TemplateGenerator(r"ddd-ddd-dddd", mode="expr"),
            )
            .withColumn(
                "alt", "string",
                text=TemplateGenerator(r"AAA|ddd|\w.\w@\w.com", mode="expr"),
            )
            .build()
        )

    df = build(8)
    stats = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col("phone").rlike(r"^\d{3}-\d{3}-\d{4}$"), 0).otherwise(1)
        ).cast("long").alias("phone_malformed"),
        F.sum(
            F.when(
                F.col("alt").rlike(r"^([A-Z]{3}|\d{3}|[a-z]+\.[a-z]+@[a-z]+\.com)$"),
                0,
            ).otherwise(1)
        ).cast("long").alias("alt_malformed"),
    )
    d1, d2 = build(8), build(3)
    diff = (
        d1.exceptAll(d2).union(d2.exceptAll(d1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return stats.crossJoin(diff)


def _dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dedup (scrub an eval split against a train
    split): documents with doc_id >= 250 treated as the query corpus,
    < 250 as the training corpus; MinHash-banded candidates verified by
    exact shingle Jaccard. Oracle = exact cross-pair Jaccard."""
    from dbldatagen_spark.functions import cross_corpus_near_duplicates

    docs = _load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") < 250)
    query = docs.where(F.col("doc_id") >= 250)
    return cross_corpus_near_duplicates(
        query, corpus, "doc_id", "text",
        k=3, num_hashes=64, bands=32, threshold=0.5,
    )


def _multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (P6 PPM, numpy-only — no codec libs needed):
    synthesized decodable payloads flow through the mapInPandas extractor;
    invariants prove true decoding (exact dims, in-range channel stats)
    and rebuild determinism."""
    from dbldatagen_spark.functions.multimodal import (
        extract_image_features,
        synthesize_ppm_table,
    )

    def feats(partitions: int) -> DataFrame:
        media = synthesize_ppm_table(spark, rows=500, partitions=partitions, size=8)
        return extract_image_features(media)

    f = feats(4)
    stats = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when((F.col("width") == 8) & (F.col("height") == 8), 0).otherwise(1))
        .cast("long").alias("bad_dims"),
        F.sum(
            F.when(
                (F.col("mean_r") >= 0) & (F.col("mean_r") <= 255)
                & (F.col("mean_g") >= 0) & (F.col("mean_g") <= 255)
                & (F.col("mean_b") >= 0) & (F.col("mean_b") <= 255)
                & (F.col("std_gray") >= 0),
                0,
            ).otherwise(1)
        ).cast("long").alias("out_of_range"),
    )
    d1, d2 = feats(4), feats(7)
    diff = (
        d1.exceptAll(d2).union(d2.exceptAll(d1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return stats.crossJoin(diff)


def _multimodal_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize (P6 PPM decode -> integer-exact nearest-neighbor
    -> re-encode): every output payload is re-decoded and compared
    byte-for-byte against an independent numpy recomputation from the
    original pixels, and the whole transform is rebuilt under a different
    partitioning to prove determinism. Payloads stay inside their
    partitions throughout (mapInPandas, no shuffle of blobs)."""
    import numpy as np
    import pandas as pd

    from dbldatagen_spark.functions import resize_ppm_images
    from dbldatagen_spark.functions.multimodal import (
        decode_ppm,
        synthesize_ppm_table,
    )

    tw, th, size = 6, 4, 8

    def build(partitions: int) -> DataFrame:
        media = synthesize_ppm_table(spark, rows=500, partitions=partitions, size=size)
        return resize_ppm_images(media, target_width=tw, target_height=th)

    resized = build(4)
    orig = synthesize_ppm_table(spark, rows=500, partitions=4, size=size)
    joined = orig.withColumnRenamed("payload", "orig_payload").join(
        resized, "media_id"
    )

    def _check(batches):
        for pdf in batches:
            flags = []
            for orig_payload, payload, w, h in zip(
                pdf["orig_payload"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                src = decode_ppm(bytes(orig_payload))
                got = decode_ppm(bytes(payload))
                ys = (np.arange(th) * src.shape[0]) // th
                xs = (np.arange(tw) * src.shape[1]) // tw
                flags.append(
                    got.shape == (th, tw, 3)
                    and (w, h) == (tw, th)
                    and bool((got == src[ys][:, xs]).all())
                )
            yield pd.DataFrame({"exact": flags})

    checked = joined.mapInPandas(_check, schema="exact boolean")
    stats = checked.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("exact"), 0).otherwise(1)).cast("long").alias("inexact"),
    )
    h1 = build(4).select("media_id", F.md5(F.col("payload")).alias("sig"))
    h2 = build(7).select("media_id", F.md5(F.col("payload")).alias("sig"))
    diff = (
        h1.exceptAll(h2).union(h2.exceptAll(h1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return stats.crossJoin(diff)


def _multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (mono 16-bit PCM WAV, numpy-only — RIFF chunk
    walk, no codec libs): synthesized decodable clips flow through the
    mapInPandas extractor; invariants prove true decoding (exact sample
    counts and duration from the header, unit-scale energy bounds, sane
    zero-crossing rates for the planted sine frequencies) and rebuild
    determinism across partitionings."""
    from dbldatagen_spark.functions import extract_audio_features
    from dbldatagen_spark.functions.multimodal import synthesize_wav_table

    def feats(partitions: int) -> DataFrame:
        media = synthesize_wav_table(spark, rows=500, partitions=partitions)
        return extract_audio_features(media)

    f = feats(4)
    stats = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(
                (F.col("sample_rate") == 16000)
                & (F.col("n_samples") == 800)
                & (F.abs(F.col("duration_ms") - 50.0) < 1e-9),
                0,
            ).otherwise(1)
        ).cast("long").alias("bad_dims"),
        F.sum(
            F.when(
                (F.col("rms") > 0.2) & (F.col("rms") < 0.7)
                & (F.col("peak") <= 1.0)
                & (F.col("zero_crossing_rate") > 0.0)
                & (F.col("zero_crossing_rate") < 0.7),
                0,
            ).otherwise(1)
        ).cast("long").alias("out_of_range"),
    )
    d1, d2 = feats(4), feats(7)
    diff = (
        d1.exceptAll(d2).union(d2.exceptAll(d1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return stats.crossJoin(diff)


def _multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling (P6-stream container — self-delimiting
    frames, numpy-only multi-frame decode): every 4th frame of 12-frame
    clips is decoded and characterized. Invariants: exact sampled-frame
    count and indices, per-frame dimensions from the headers, the
    planted monotone brightness ramp across each clip's sampled frames,
    and rebuild determinism across partitionings."""
    from dbldatagen_spark.functions import sample_video_frames
    from dbldatagen_spark.functions.multimodal import synthesize_ppm_video_table

    def frames(partitions: int) -> DataFrame:
        media = synthesize_ppm_video_table(
            spark, rows=300, partitions=partitions, n_frames=12, size=8
        )
        return sample_video_frames(media, every_n=4)

    f = frames(4)
    ramp = (
        f.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min_by("mean_brightness", "frame_idx").alias("_first"),
            F.max_by("mean_brightness", "frame_idx").alias("_last"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_videos"),
            F.sum(F.when(F.col("_n") == 3, 0).otherwise(1))
            .cast("long").alias("bad_counts"),
            F.sum(F.when(F.col("_first") < F.col("_last"), 0).otherwise(1))
            .cast("long").alias("ramp_violations"),
        )
    )
    dims = f.agg(
        F.sum(
            F.when(
                (F.col("width") == 8) & (F.col("height") == 8)
                & (F.col("n_frames") == 12)
                & F.col("frame_idx").isin(0, 4, 8),
                0,
            ).otherwise(1)
        ).cast("long").alias("bad_dims")
    )
    d1, d2 = frames(4), frames(7)
    diff = (
        d1.exceptAll(d2).union(d2.exceptAll(d1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return ramp.crossJoin(dims).crossJoin(diff)


def _multimodal_type_sniffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-bytes content sniffing invariants: payloads synthesized from
    the library's own MEDIA_SIGNATURES table (so spec and test cannot
    drift) are all detected as their planted format; deliberately
    mislabeled rows all flag type_mismatch; garbage reads unknown; NULL
    payloads never flag. Map-only plan (asserted in pytest)."""
    from dbldatagen_spark.functions import detect_media_types
    from dbldatagen_spark.functions.multimodal import MEDIA_SIGNATURES

    def payload(fmt: str, off: int, sig: bytes) -> bytes:
        prefix = b"RIFF1234" if fmt == "webp" else bytes(off)
        return prefix + sig + b"\x00payload-tail"

    rows = []
    mid = 0
    for fmt, off, sig in MEDIA_SIGNATURES:
        for _ in range(3):  # correctly declared
            rows.append((mid, payload(fmt, off, sig), fmt)); mid += 1
        rows.append((mid, payload(fmt, off, sig), "mislabeled"))  # planted lie
        mid += 1
    n_garbage, n_null = 7, 5
    for i in range(n_garbage):
        rows.append((mid, b"\x01garbage" + bytes([i]), "jpeg")); mid += 1
    for _ in range(n_null):
        rows.append((mid, None, "png")); mid += 1

    df = spark.createDataFrame(
        rows, "media_id long, payload binary, declared string"
    )
    out = detect_media_types(df, "media_id", "payload", declared_col="declared")
    n_sigs = len(MEDIA_SIGNATURES)
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("type_mismatch"), 1).otherwise(0))
        .cast("long").alias("n_flagged"),
        F.sum(F.when(F.col("detected_type") == "unknown", 1).otherwise(0))
        .cast("long").alias("n_unknown"),
        F.sum(F.when(F.col("detected_type").isNull(), 1).otherwise(0))
        .cast("long").alias("n_null_payloads"),
        F.sum(
            F.when(
                F.col("detected_type").isNull()
                | (F.col("detected_type") == "unknown")
                | (F.col("detected_type") == F.col("declared"))
                | (F.col("declared") == "mislabeled"),
                0,
            ).otherwise(1)
        ).cast("long").alias("n_wrong_detections"),
    ).select(
        "n_rows",
        # flagged = planted mislabels + garbage-with-wrong-declared
        (F.col("n_flagged") == F.lit(n_sigs + n_garbage)).alias("flags_exact"),
        (F.col("n_unknown") == F.lit(n_garbage)).alias("unknown_exact"),
        (F.col("n_null_payloads") == F.lit(n_null)).alias("nulls_exact"),
        "n_wrong_detections",
    )


def _text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the documents table: redacted text + per-kind match
    counts, all computed in-scan (map-only plan)."""
    from dbldatagen_spark.functions import redact_pii

    docs = _load(spark, sf_dir, "documents")
    return redact_pii(docs, "doc_id", "text")


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (dup-line/dup-paragraph fractions,
    top-bigram share) per document."""
    from dbldatagen_spark.functions import repetition_metrics

    docs = _load(spark, sf_dir, "documents")
    return repetition_metrics(docs, "doc_id", "text")


def _text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate-line removal: full cleaned text compared
    line-for-line against the oracle's reconstruction."""
    from dbldatagen_spark.functions import strip_boilerplate_lines

    docs = _load(spark, sf_dir, "documents")
    return strip_boilerplate_lines(
        docs, "doc_id", "text", min_doc_frac=0.05, min_docs=2
    )


def _text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only text normalization (control-char strip, typographic
    folding, whitespace collapse) — runs entirely inside the scan."""
    from dbldatagen_spark.functions import normalize_text

    docs = _load(spark, sf_dir, "documents")
    return normalize_text(docs, "doc_id", "text")


def _text_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup: each distinct trimmed line survives only
    at its first (doc_id, position) occurrence in corpus order."""
    from dbldatagen_spark.functions import dedup_lines_corpus

    docs = _load(spark, sf_dir, "documents")
    return dedup_lines_corpus(docs, "doc_id", "text")


def _text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per document (degenerate-text detector);
    float fold runs over the sorted count list for partition-independence."""
    from dbldatagen_spark.functions import token_entropy

    docs = _load(spark, sf_dir, "documents")
    return token_entropy(docs, "doc_id", "text")


def _gen_constraint_stream_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint streaming gate (reference ``data_generator.py:1609-1616``):
    building with a constraint whose semantics are per-micro-batch-unsound
    (``UniqueCombinations``, ``supports_streaming=False``) under
    ``withStreaming=True`` must raise *before* the stream source is touched,
    while (a) the identical batch build succeeds and actually enforces the
    constraint, and (b) a streaming-safe constraint (``SqlExpr``) builds a
    streaming DataFrame without raising."""
    from dbldatagen_spark import DataGenerator
    from dbldatagen_spark.operators.constraints import SqlExpr, UniqueCombinations
    from dbldatagen_spark.plans.spec import SpecValidationError

    def make_gen() -> DataGenerator:
        return (
            DataGenerator(spark, name="gate_t", rows=_GEN_ROWS, partitions=4,
                          randomSeed=42)
            .withColumn("a", "int", minValue=1, maxValue=20, random=True)
            .withColumn("b", "int", minValue=1, maxValue=5, random=True)
        )

    gate_raised = False
    try:
        make_gen().withConstraint(UniqueCombinations(["a", "b"])).build(
            withStreaming=True, options={"rowsPerSecond": 100}
        )
    except SpecValidationError:
        gate_raised = True

    batch = make_gen().withConstraint(UniqueCombinations(["a", "b"])).build()
    dup = (
        batch.groupBy("a", "b").count().where(F.col("count") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("duplicate_combos"))
    )

    streaming_ok = False
    try:
        sdf = make_gen().withConstraint(SqlExpr("a > 0")).build(
            withStreaming=True, options={"rowsPerSecond": 100}
        )
        streaming_ok = bool(sdf.isStreaming)
    except Exception:
        streaming_ok = False

    return spark.createDataFrame(
        [(gate_raised, streaming_ok)],
        "gate_raised boolean, streaming_safe_ok boolean",
    ).crossJoin(dup)


def _gen_analyzer_codegen_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyzer codegen round-trip (reference ``data_analyzer.py:411-527``):
    ``scriptDataGeneratorFromData`` over the nation table emits a runnable
    generator script; ``exec``-ing it and building must reproduce the source
    schema and row count, with every numeric column inside the observed
    [min, max] bounds and low-cardinality string columns drawn from the
    observed value set."""
    from dbldatagen_spark.analyzer import DataAnalyzer

    src = _load(spark, sf_dir, "nation")
    script = DataAnalyzer(df=src).scriptDataGeneratorFromData(name="nation_synth")
    ns: dict = {"spark": spark}
    exec(script, ns)  # noqa: S102 — round-trip of our own emitted code
    out = ns["generation_spec"].build()

    schema_match = [
        (f.name, f.dataType.simpleString()) for f in out.schema.fields
    ] == [(f.name, f.dataType.simpleString()) for f in src.schema.fields]
    rows_match = out.count() == src.count()

    bounds = src.agg(
        F.min("n_nationkey").alias("lo"), F.max("n_nationkey").alias("hi")
    ).first()
    out_of_bounds = out.where(
        (F.col("n_nationkey") < F.lit(bounds["lo"]))
        | (F.col("n_nationkey") > F.lit(bounds["hi"]))
    ).count()
    src_regions = {r[0] for r in src.select("n_regionkey").distinct().collect()}
    foreign_regions = out.where(
        ~F.col("n_regionkey").isin(*src_regions)
    ).count()

    return spark.createDataFrame(
        [(schema_match, rows_match, int(out_of_bounds), int(foreign_regions))],
        "schema_match boolean, rows_match boolean, "
        "out_of_bounds bigint, foreign_regions bigint",
    )


def _analyzer_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataAnalyzer single-pass profile of the customer table (exact
    measures only — approx/formatting-sensitive ones excluded)."""
    from dbldatagen_spark.analyzer import DataAnalyzer

    cust = _load(spark, sf_dir, "customer")
    summary = DataAnalyzer(df=cust).summarizeToDF()
    return summary.where(
        F.col("measure").isin("count", "null_count", "min", "max")
    ).select("measure", "c_custkey", "c_name", "c_mktsegment")


def _events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via the library's
    ``sessionize`` operator, ``method="window"`` (one shuffle on user_id,
    reused by the groupBy). At 100x scale with bot-heavy traffic, switch
    to ``method="skew_safe"`` — the two-phase (user, day-bucket) variant
    in ``functions/sessions.py`` that spreads a mega-user across tasks
    and produces identical results (pytest-asserted)."""
    from dbldatagen_spark.functions import sessionize

    ev = _load(spark, sf_dir, "events")
    out = sessionize(ev, "user_id", "ts", gap_seconds=1800, value_col="value")
    return out.withColumn("session_value", F.round("session_value", 2))


def _events_session_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join: each event assigned to its session's
    [start, end] window via the bucketed range_join operator (equi key
    user_id + 1h time buckets — no theta join, no cartesian)."""
    from dbldatagen_spark.functions import range_join

    ev = _load(spark, sf_dir, "events")
    sessions = _events_sessionize(spark, sf_dir).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    return (
        range_join(
            ev.select("event_id", "user_id", "ts"),
            sessions,
            "ts",
            "session_start",
            "session_end",
            equi_keys=["user_id"],
            bucket_width_seconds=3600,
        )
        .select("event_id", "user_id", "session_seq")
    )


def _events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type (batch form of the
    streaming windowed aggregation)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def _events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + per-type stats over the parsed value."""
    ev = _load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


def _q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-flavored multi-join: revenue by nation within one region;
    dimension tables broadcast."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            *_s4_sum_aggs(_rev_units4(), "_rev"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
        .select(
            "n_name", _money_hilo("_rev").alias("revenue"), "n_lineitems"
        )
    )


def _q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share (conditional aggregation over a join)."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    # integer-cents aggregation (see the _cents/_money_hilo helper block):
    # both conditional sums ride long adds; the exact decimal totals are
    # reassembled on the single output row and cast to double there —
    # the same nearest-double each decimal SUM's cast produced.
    units = _rev_units4()
    return joined.agg(
        *_s4_sum_aggs(
            F.when(F.col("p_type").startswith("PROMO"), units), "_pr"
        ),
        *_s4_sum_aggs(units, "_tot"),
    ).select(
        (
            _hilo_dec("_pr").cast("double")
            / _hilo_dec("_tot").cast("double")
            * 100
        ).alias("promo_share_pct")
    )


def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change (pure filter + aggregate; the scan should
    absorb every predicate — no join, no shuffle beyond the final agg)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # integer-cents: price_cents * discount_cents is the exact
            # scale-4 units twin of _dec * _dec (see helper block)
            *_s4_sum_aggs(
                _cents("l_extendedprice") * _cents("l_discount"), "_rev"
            )
        )
        .select(_money_hilo("_rev").alias("revenue"))
    )


def _q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order priority counts with an EXISTS semi-join (left_semi — no
    row duplication, no payload shuffle of lineitem columns): orders with
    at least one line shipped >30 days after the order date."""
    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    late = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).where(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30)).select(
        "l_orderkey"
    )
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1996-07-01"))
            & (F.col("o_orderdate") < F.lit("1996-10-01"))
        )
        .join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


def _q12_returnflag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service levels by return flag (join + conditional aggregation)."""
    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def _q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between two nations by year (TPC-H Q7 flavor).

    Lineitem carries both fact keys, so only the big lineitem⋈orders join
    shuffles; supplier/customer/nation are broadcast and the nation-pair
    filter prunes before the aggregate."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.s_nkey)
        .join(F.broadcast(n2), cust.c_nationkey == n2.c_nkey)
        .where(pair | rpair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            *_s4_sum_aggs(_rev_units4(), "_rev"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
        .select(
            "supp_nation",
            "cust_nation",
            "ship_year",
            _money_hilo("_rev").alias("volume"),
            "n_lineitems",
        )
    )


def _q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top customers by revenue lost to returns (TPC-H Q10 flavor).

    The returnflag filter lands in the lineitem scan; customer/nation are
    broadcast so the only shuffles are the fact join and the final top-k."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            *_s4_sum_aggs(_rev_units4(), "_rev"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            _money_hilo("_rev").alias("revenue"),
            "n_lineitems",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def _q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive brand/size/quantity predicate revenue (TPC-H Q19 flavor).

    The OR-of-ANDs predicate references both sides, so it must sit on the
    joined rows; part is broadcast and the partkey equi-join is the only
    join key, keeping the plan a single broadcast-hash-join stage."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    b2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity").between(10, 35))
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(20, 50))
        & (F.col("l_quantity").between(20, 50))
    )
    return (
        j.where(b1 | b2 | b3)
        .agg(
            *_s4_sum_aggs(_rev_units4(), "_rev"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
        .select(_money_hilo("_rev").alias("revenue"), "n_lineitems")
    )


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers: groupBy-having pushed as a pre-aggregated
    semi-join key set (aggregate once, then join only qualifying keys)."""
    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    cust = _load(spark, sf_dir, "customer")
    # integer-cents sum (long adds, see helper block): the > 250 cut is
    # the exact integer compare > 25000 cents, and cents/100.0 is the
    # same nearest-double the decimal cast rendered (q1 sum_qty pattern)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents("l_quantity")).alias("_qty_c"))
        .where(F.col("_qty_c") > 25000)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").alias("o_orderdate"),
            # raw pass-through: identical double bits on both engines
            F.col("o_totalprice").alias("o_totalprice"),
            (F.col("_qty_c") / 100.0).alias("total_qty"),
        )
    )


def _q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier per part (TPC-H Q2 flavor; this schema has no
    partsupp, so observed avg unit price from lineitem stands in for
    ps_supplycost).

    The correlated MIN subquery becomes a window row_number over the
    (part, supplier) aggregate — one shuffle on l_partkey that serves
    both the aggregate and the window; dimensions broadcast."""
    from pyspark.sql import Window

    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        # exact integer-micros avg (see the cents helper block): per-row
        # unit price rounded to 6 decimals exactly as before (same
        # decimal(18,6) cast), then scaled to an integer-valued decimal
        # and summed as LONG adds instead of BigDecimal(38,6) adds;
        # micros/1e6 renders the same nearest-double the decimal sum's
        # cast produced, and the one IEEE division by count follows
        # identically — order-independent either way
        (
            F.sum(
                (
                    (F.col("l_extendedprice") / F.col("l_quantity")).cast(
                        "decimal(18,6)"
                    )
                    * 1_000_000
                ).cast("long")
            )
            / 1_000_000.0
            / F.count(F.lit(1))
        ).alias("_unit_cost")
    )
    parts = part.where(
        (F.col("p_size").between(1, 15)) & (F.col("p_type") == "STANDARD")
    )
    j = per.join(F.broadcast(parts), per.l_partkey == parts.p_partkey)
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("_unit_cost").asc(), F.col("l_suppkey").asc()
    )
    best = j.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)
    return (
        best.join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            F.col("_unit_cost").cast("decimal(18,4)").cast("double")
            .alias("unit_cost"),
        )
    )


def _q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_1's share of PROMO-part revenue among ASIA customers by
    year (TPC-H Q8 flavor): conditional-sum ratio over a star join —
    only lineitem⋈orders shuffles; every dimension broadcasts."""
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region")
    part = _load(spark, sf_dir, "part")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    # integer-cents conditional-sum ratio (see helper block): both sums
    # ride long adds; exact decimal totals reassemble on the handful of
    # year rows and cast to the same nearest-doubles the decimal SUMs'
    # casts produced (NULL -> 0.0 via coalesce AFTER the cast, which is
    # the same value the decimal-space coalesce rendered).
    units = _rev_units4()
    return (
        li.join(F.broadcast(part.where(F.col("p_type") == "PROMO")),
                li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            *_s4_sum_aggs(
                F.when(F.col("supp_nation") == "NATION_1", units), "_n1"
            ),
            *_s4_sum_aggs(units, "_tot"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
        .select(
            "o_year",
            (
                F.coalesce(_hilo_dec("_n1").cast("double"), F.lit(0.0))
                / _hilo_dec("_tot").cast("double")
            ).alias("mkt_share"),
            "n_lineitems",
        )
    )


def _q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on gear parts by supplier nation and ship year (TPC-H Q9
    flavor; 60% of p_retailprice stands in for ps_supplycost). Grouping
    on l_shipdate's year instead of o_orderdate's drops the orders join
    entirely — part/supplier/nation broadcast, so the only shuffle is
    the final aggregate."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    # profit in exact scale-4 integer units: the cost side casts to
    # DECIMAL(18,4) exactly as before (same HALF_UP at the 5th decimal),
    # then x10000 is integer-valued and lossless in int64
    profit_units = _rev_units4() - (
        (
            F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
        ).cast("decimal(18,4)")
        * 10000
    ).cast("long")
    return (
        li.join(
            F.broadcast(part.where(F.col("p_name").like("%gear%"))),
            li.l_partkey == part.p_partkey,
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name"), F.year("l_shipdate").cast("long").alias("ship_year")
        )
        .agg(
            *_s4_sum_aggs(profit_units, "_pr"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
        .select(
            "n_name",
            "ship_year",
            _money_hilo("_pr").alias("profit"),
            "n_lineitems",
        )
    )


def _q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts holding an outsized share of three nations' supply value
    (TPC-H Q11 flavor): the HAVING-vs-global-total scalar subquery is a
    broadcast cross join of a 1-row aggregate against the per-part
    aggregate — the base is scanned once and reused, no second pass.

    The cut is scale-invariant (part value > 2x the mean part value, the
    Q11 fraction restated per-part) so the row set stays non-trivial at
    every SF; a fixed share-of-total fraction degenerates to 0 rows as
    the part count grows. Values are summed in exact DECIMAL and the
    comparison runs on bit-identical doubles on both engines."""
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    nkeys = nation.where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    ).select("n_nationkey")
    skeys = supp.join(F.broadcast(nkeys), supp.s_nationkey == nkeys.n_nationkey).select(
        "s_suppkey"
    )
    # integer-cents two-level sums (see helper block): per-row scale-4
    # units split hi/lo; the grand total re-sums the per-part splits
    # (two more long adds, still exact); decimal reassembly + the
    # double casts run only on per-part/1-row aggregate outputs.
    base = li.join(F.broadcast(skeys), li.l_suppkey == skeys.s_suppkey).select(
        "l_partkey", _rev_units4().alias("_val")
    )
    per_part = base.groupBy("l_partkey").agg(
        *_s4_sum_aggs(F.col("_val"), "_pv")
    )
    stats = per_part.agg(
        F.sum("_pv_hi").alias("_t_hi"),
        F.sum("_pv_lo").alias("_t_lo"),
        F.count(F.lit(1)).alias("_np"),
    )
    return (
        per_part.crossJoin(F.broadcast(stats))
        .where(
            _hilo_dec("_pv").cast("double")
            > F.lit(2.0) * _hilo_dec("_t").cast("double") / F.col("_np")
        )
        .select("l_partkey", _money_hilo("_pv").alias("part_value"))
    )


def _q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count histogram (TPC-H Q13): left outer join with
    the filter on the orders side (kept customers with zero orders), then
    a two-level aggregation. Customers broadcast on the outer join's
    build side at this scale; at 100 TB the join shuffles on custkey and
    the second aggregate is tiny."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    orders_f = orders.where(F.col("o_orderpriority") != "1-URGENT")
    c_orders = (
        cust.join(orders_f, cust.c_custkey == orders_f.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
    )


def _q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum Q1-1996 revenue (TPC-H Q15): the
    revenue view aggregated once, its MAX broadcast back as a 1-row
    cross join instead of re-evaluating the view."""
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    # integer-cents (see helper block): the per-supplier sums ride long
    # adds; the exact decimal reassembly, the MAX, and the equality all
    # run on per-supplier aggregate rows (decimal compare is exact, so
    # the argmax set is unchanged).
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(*_s4_sum_aggs(_rev_units4(), "_rev"))
        .select("l_suppkey", _hilo_dec("_rev").alias("_total_rev"))
    )
    mx = rev.agg(F.max("_total_rev").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("_total_rev") == F.col("_max_rev"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("_total_rev"), 2).cast("double")
            .alias("total_revenue"),
        )
    )


def _q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size) for non-excluded parts
    (TPC-H Q16 flavor): the NOT IN complaint subquery becomes a broadcast
    anti-join on the tiny negative-balance supplier set; lineitem stands
    in for partsupp as the part↔supplier relation."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    supp = _load(spark, sf_dir, "supplier")
    excl = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    parts_f = part.where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    return (
        li.join(F.broadcast(parts_f), li.l_partkey == parts_f.p_partkey)
        .join(F.broadcast(excl), li.l_suppkey == excl.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def _q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if small-quantity Brand#2 orders were
    dropped (TPC-H Q17): the correlated per-part AVG subquery becomes a
    broadcast join against the per-part aggregate of the same filtered
    scan — the brand filter prunes 2000 parts to ~dozens before either
    pass touches lineitem."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    brand_parts = part.where(F.col("p_brand") == "Brand#2").select("p_partkey")
    li2 = li.join(F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey"))
    # integer-cents sums (long adds, see helper block) -> one IEEE
    # division -> *0.5 (a power of two, exact): cents/100.0 is the same
    # correctly-rounded nearest-double the decimal sum's cast produced
    # (the q1 sum_qty pattern, bit-equality proven at 3 SFs), so the
    # comparison row set and avg_yearly are bit-identical
    half_avg = li2.groupBy("l_partkey").agg(
        (
            (F.sum(_cents("l_quantity")) / 100.0 / F.count(F.lit(1))) * 0.5
        ).alias("_half_avg")
    ).withColumnRenamed("l_partkey", "_pk")
    return (
        li2.join(F.broadcast(half_avg), li2.l_partkey == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("_half_avg"))
        .agg(
            (F.sum(_cents("l_extendedprice")) / 100.0 / 7.0).alias("avg_yearly")
        )
    )


def _q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EUROPE suppliers who moved >50 units of any red part in 1996
    (TPC-H Q20 flavor): the nested IN subqueries become a chain of
    broadcast semi-joins — part filter → per-(supplier, part) quantity
    threshold → distinct supplier keys → supplier/nation/region probe."""
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region")
    red = part.where(F.col("p_name").startswith("red")).select("p_partkey")
    movers = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(F.broadcast(red), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        # exact integer-cents sum (long adds): order-independent like the
        # decimal sum it replaces, and > 50 is the exact > 5000 cents cut
        .agg(F.sum(_cents("l_quantity")).alias("_qty_c"))
        .where(F.col("_qty_c") > 5000)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(movers, supp.s_suppkey == movers.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "n_name")
    )


def _q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely responsible for the latest shipment in
    multi-supplier 'F' orders (TPC-H Q21 flavor; this schema has no
    receipt/commit dates, so "latest l_shipdate in the order" stands in
    for "failed the commit date"). The EXISTS / NOT EXISTS pair becomes
    two window counts over the per-(order, supplier) aggregate — a
    single shuffle on l_orderkey serves the aggregate and both windows."""
    from pyspark.sql import Window

    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    supp = _load(spark, sf_dir, "supplier")
    f_orders = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    sup_ship = (
        li.join(f_orders, li.l_orderkey == f_orders.o_orderkey, "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("_s_max"))
    )
    w = Window.partitionBy("l_orderkey")
    annotated = sup_ship.select(
        "l_orderkey",
        "l_suppkey",
        "_s_max",
        F.max("_s_max").over(w).alias("_o_max"),
        F.count(F.lit(1)).over(w).alias("_n_supp"),
    ).withColumn(
        "_n_at_max",
        F.sum(F.when(F.col("_s_max") == F.col("_o_max"), 1).otherwise(0)).over(
            Window.partitionBy("l_orderkey")
        ),
    )
    waiting = annotated.where(
        (F.col("_s_max") == F.col("_o_max"))
        & (F.col("_n_supp") > 1)
        & (F.col("_n_at_max") == 1)
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


def _q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich customers gone quiet (no orders since 2000), by nation
    (TPC-H Q22 flavor; nation replaces the phone-prefix grouping, and
    "lapsed" replaces "never ordered", which is vacuous in this dense
    testdata): the scalar AVG subquery broadcasts as a 1-row cross join
    and the NOT EXISTS becomes a left-anti join against the recent
    buyer keys."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    nation = _load(spark, sf_dir, "nation")
    # order-independent avg: exact integer-cents sum (long adds), one
    # IEEE division — cents/100.0 is the same nearest-double the decimal
    # cast produced (q1 sum_qty pattern)
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        (F.sum(_cents("c_acctbal")) / 100.0 / F.count(F.lit(1)))
        .alias("_avg_bal")
    )
    recent = orders.where(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
        "o_custkey"
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            # ROUND(scale-2 decimal, 2) was an identity, so the cents
            # twin is the plain q1 sum pattern
            F.sum(_cents("c_acctbal")).alias("_bal_c"),
        )
        .select(
            "n_name", "numcust", (F.col("_bal_c") / 100.0).alias("totacctbal")
        )
    )


def _emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors (posexplode + group avg) —
    the reduce step of IVF index construction."""
    emb = _load(spark, sf_dir, "embeddings")
    # + 0.0 collapses IEEE negative zero (-0.0 rounds can differ between
    # engines' renderers even though the values compare equal)
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("centroid_v"))
    )


def _emb_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization of embeddings: per-vector L2 norm plus the max
    dequantization error — one map-only pass, no shuffle."""
    from dbldatagen_spark.functions import quantize_embeddings
    from dbldatagen_spark.functions.similarity import norm_expr

    emb = _load(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb, "embedding", levels=256)
    recon_err = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(
            acc,
            F.abs(
                x.cast("double")
                - (
                    F.col("q_min")
                    + F.round(
                        (x.cast("double") - F.col("q_min")) / F.col("q_scale"), 0
                    )
                    * F.col("q_scale")
                )
            ),
        ),
    )
    return q.select(
        "vec_id",
        F.size("codes").cast("long").alias("n_dims"),
        F.round(norm_expr(F.col("embedding")), 4).alias("l2_norm"),
        F.round(recon_err, 6).alias("max_quant_err"),
    )


def _events_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain rollup (day x event_type with subtotals + grand total)
    — the hypertable-rollup pattern as one partial-aggregatable pass."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.rollup(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def _gen_scripts_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: CTAS and MERGE script generators emit the expected
    clauses (schema columns, USING format, LOCATION, matched/not-matched
    branches, time-travel clause) — the reference's script surface."""
    from dbldatagen_spark import DataGenerator

    gen = (
        DataGenerator(spark, name="script_t", rows=10, partitions=2)
        .withIdOutput()
        .withColumn("code", "int", minValue=1, maxValue=5)
        .withColumn("label", "string", values=["a", "b"])
    )
    ctas = gen.scriptTable(name="tgt_tbl", location="/data/tgt", tableFormat="delta")
    merge = gen.scriptMerge(
        "tgt_tbl",
        "src_tbl",
        joinExpr="tgt.id = src.id",
        delExpr="src.label = 'drop'",
        timeExpr="TIMESTAMP AS OF '2024-01-01'",
    )
    checks = [
        "CREATE TABLE IF NOT EXISTS tgt_tbl" in ctas,
        "code INT" in ctas and "label STRING" in ctas and "id BIGINT" in ctas,
        "USING delta" in ctas and "LOCATION '/data/tgt'" in ctas,
        "MERGE INTO tgt_tbl AS tgt" in merge,
        "USING src_tbl TIMESTAMP AS OF '2024-01-01' AS src" in merge,
        "WHEN MATCHED AND src.label = 'drop' THEN DELETE" in merge,
        "WHEN MATCHED THEN UPDATE SET" in merge,
        "WHEN NOT MATCHED THEN INSERT (id, code, label)" in merge,
    ]
    return spark.createDataFrame(
        [tuple(bool(c) for c in checks)],
        "ctas_header boolean, ctas_schema boolean, ctas_format_location boolean, "
        "merge_header boolean, merge_time_travel boolean, merge_delete boolean, "
        "merge_update boolean, merge_insert boolean",
    )


def _gen_serialization_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: saveToJson -> loadFromJson reconstructs a generator
    that builds byte-identical data (mismatches = 0)."""
    import os
    import tempfile

    from dbldatagen_spark import DataGenerator, LiteralRange

    def mk() -> DataGenerator:
        return (
            DataGenerator(spark, name="ser_t", rows=2000, partitions=4,
                          randomSeed=99)
            .withIdOutput()
            .withColumn("v", "int", minValue=0, maxValue=100, random=True)
            .withColumn("w", "string", values=["x", "y", "z"], weights=[3, 2, 1])
            .withColumn("d", "date", begin="2022-01-01", end="2022-12-31")
            .withConstraint(LiteralRange("v", 0, 100))
        )

    src = mk()
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "gen.json")
        src.saveToJson(path)
        loaded = DataGenerator.loadFromJson(path, spark)
        d1, d2 = src.build(), loaded.build()
        mismatches = d1.exceptAll(d2).union(d2.exceptAll(d1)).count()
    return spark.createDataFrame(
        [(mismatches,)], "mismatches long"
    )


def _events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join: events (hot user keys) x a per-user
    dimension derived from customers; each user key spreads over 16
    salt partitions, the dim replicates 16x. Result must equal the
    plain join — the oracle IS the plain SQL join."""
    from dbldatagen_spark.functions import salted_join

    ev = _load(spark, sf_dir, "events")
    cust = _load(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment")
    )
    joined = salted_join(
        ev.select("event_id", "user_id", "value"),
        dim,
        on=["user_id"],
        salt=16,
        how="inner",
        large_id_col="event_id",
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def _events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h length, 15 min slide): each event
    lands in 4 overlapping windows. Spark's ``window()`` expands rows
    inside the scan stage; the only shuffle is the aggregate — the same
    expression drives the streaming form with a watermark."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily event counts spread into one column per event type.
    Explicit pivot values keep the plan single-pass (no distinct-values
    pre-query) and the output schema static — required at scale and for
    streaming parity."""
    ev = _load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


def _events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (linear interpolation — matches
    DuckDB's quantile_cont). The exact path buffers per-group values;
    the 100 TB path is the GK sketch in corpus_stats."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.25), 4).alias("p25"),
            F.round(F.percentile("value", 0.5), 4).alias("p50"),
            F.round(F.percentile("value", 0.75), 4).alias("p75"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


def _events_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling window frame: 5-event trailing mean of value per user —
    one shuffle on user_id, sort within partition, frame slide in a
    single pass."""
    from pyspark.sql import Window

    ev = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("rolling_avg_5"),
    )


def _events_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (weekday, event_type): all four grouping combinations in
    one partial-aggregatable pass (the full-lattice complement of the
    rollup query)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.cube(
            F.date_format("ts", "EEEE").alias("weekday"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def _customers_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers active in BOTH 1996 and 1997 (INTERSECT)
    and in 1996 but not 1997 (EXCEPT), labelled and unioned. Spark plans
    both as aggregate-free semi/anti joins over distinct keys."""
    orders = _load(spark, sf_dir, "orders")

    def buyers(year: int) -> DataFrame:
        return (
            orders.where(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    both = buyers(1996).intersect(buyers(1997)).select(
        "o_custkey", F.lit("both").alias("cohort")
    )
    churned = buyers(1996).exceptAll(buyers(1997)).select(
        "o_custkey", F.lit("churned").alias("cohort")
    )
    return both.union(churned)


def _events_unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the pivoted daily matrix stacked back to long form
    — must reproduce the plain groupBy counts exactly (zero cells drop)."""
    wide = _events_pivot_daily(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        wide.unpivot(
            "day",
            [f"n_{t}" for t in types],
            "event_type",
            "n_events",
        )
        .where(F.col("n_events") > 0)
        .withColumn("event_type", F.expr("substring(event_type, 3)"))
    )


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: mapInPandas feature extraction yields one row per media
    item with FEATURE_DIM features all inside [0,1]."""
    from dbldatagen_spark.functions.multimodal import (
        FEATURE_DIM,
        extract_media_features,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, rows=500, partitions=4)
    feats = extract_media_features(media, fake=True)
    return feats.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(
                (F.size("features") == FEATURE_DIM)
                & (F.array_min("features") >= 0.0)
                & (F.array_max("features") <= 1.0),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_valid"),
    )


def _lineitem_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-bloom runtime filter on a fact/dim semi join: the
    promo-part keys build a distributed bit set (bit_or word merge,
    driver traffic = num_bits/64 longs), lineitem rows are discarded
    map-side by a pure-expression membership test BEFORE any shuffle,
    and the exact semi join runs only on survivors. No false negatives
    means the result is exactly the plain semi join (asserted via
    exceptAll both ways, and the anti-join twin likewise); the oracle
    replays the md5-derived bit positions in SQL and counts the same
    pass/match/false-positive split."""
    from dbldatagen_spark.functions import (
        bloom_anti_join,
        bloom_build,
        bloom_contains_expr,
        bloom_semi_join,
    )

    num_bits, num_hashes, seed = 1 << 14, 5, 42
    lineitem = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    promo = part.where(F.col("p_type").like("PROMO%"))
    dim = promo.select(F.col("p_partkey").alias("l_partkey"))

    # hash_method="md5" (not the xxhash64 library default): the DuckDB
    # oracle replays the md5 hex-window positions bit-for-bit
    words = bloom_build(
        promo, "p_partkey", num_bits=num_bits, num_hashes=num_hashes,
        seed=seed, hash_method="md5",
    )
    passed = lineitem.where(
        bloom_contains_expr(
            F.col("l_partkey"), words,
            num_bits=num_bits, num_hashes=num_hashes, seed=seed,
            hash_method="md5",
        )
    )
    # pass the already-built words so the semi/anti pair shares ONE
    # bloom-build job instead of each re-running the promo scan +
    # bit_or aggregate + driver collect (3 builds -> 1 per call)
    semi = bloom_semi_join(
        lineitem, dim, "l_partkey",
        num_bits=num_bits, num_hashes=num_hashes, seed=seed,
        hash_method="md5", words=words,
    )
    exact_semi = lineitem.join(dim.distinct(), "l_partkey", "left_semi").select(
        *lineitem.columns
    )
    anti = bloom_anti_join(
        lineitem, dim, "l_partkey",
        num_bits=num_bits, num_hashes=num_hashes, seed=seed,
        hash_method="md5", words=words,
    )
    exact_anti = lineitem.join(dim.distinct(), "l_partkey", "left_anti").select(
        *lineitem.columns
    )

    # both sides of each symmetric diff are row subsets of the SAME
    # lineitem scan, so set equality over full rows == set equality over
    # the (l_orderkey, l_linenumber) primary key — compare 2 columns, not
    # 16.  The multiset symmetric-difference SIZE each exceptAll pair
    # computed equals sum over keys of |mult_a - mult_b|, so each pair
    # collapses to ONE tagged-union aggregate (the gen_determinism
    # idiom, r15): tag sides +1/-1, sum per key, sum the absolutes.
    # Riding these as one-row crossJoined aggregates (instead of two
    # eager counts + an eager distinct-count) submits ONE job for the
    # whole query and lets AQE reuse the lineitem/part exchanges across
    # the semi and exact legs.
    pk = ["l_orderkey", "l_linenumber"]

    def _sym_diff_agg(a: DataFrame, b: DataFrame, name: str) -> DataFrame:
        tagged = (
            a.select(*pk).withColumn("_t", F.lit(1))
            .unionByName(b.select(*pk).withColumn("_t", F.lit(-1)))
        )
        per_key = tagged.groupBy(*pk).agg(F.sum("_t").alias("_d"))
        return per_key.agg(
            F.coalesce(F.sum(F.abs(F.col("_d"))), F.lit(0))
            .cast("long").alias(name)
        )

    semi = semi.cache()
    stats = semi.agg(
        F.count(F.lit(1)).cast("long").alias("n_match_rows"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("promo_revenue"),
    ).crossJoin(passed.agg(F.count(F.lit(1)).cast("long").alias("n_pass_rows")))
    out = (
        stats.crossJoin(
            promo.agg(
                F.count_distinct(F.col("p_partkey"))
                .cast("long").alias("n_ref_keys")
            )
        )
        .crossJoin(_sym_diff_agg(semi, exact_semi, "semi_mismatch"))
        .crossJoin(_sym_diff_agg(anti, exact_anti, "anti_mismatch"))
        .select(
            "n_ref_keys",
            "n_pass_rows",
            "n_match_rows",
            (F.col("n_pass_rows") - F.col("n_match_rows")).alias("fp_rows"),
            "promo_revenue",
            "semi_mismatch",
            "anti_mismatch",
        )
    )
    return _detach(spark, out, semi)


def _events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (k-minimum-values, Bar-Yossef et al.):
    per event type, estimate the distinct-user count from the 32
    smallest md5-derived hash values and report it against the exact
    count. The row_number()<=k pruning plans as a pre-exchange
    WindowGroupLimit (each map task forwards at most k hashes per
    group), so the sketch cost is O(groups*k) rows after the distinct —
    values never shuffle, only 8-byte hashes. The oracle replays the
    identical hash/min-k/estimator arithmetic in SQL."""
    from dbldatagen_spark.functions import kmv_sketch

    k = 32
    events = _load(spark, sf_dir, "events")
    sk = kmv_sketch(events, "user_id", group_cols=["event_type"], k=k)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        sk.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.col("n_kept").alias("n_kept"),
            F.round(F.col("dv_estimate"), 4).alias("dv_est"),
            F.round(
                F.abs(F.col("dv_estimate") - F.col("n_exact"))
                / F.col("n_exact"),
                4,
            ).alias("rel_err"),
        )
    )


def _events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values —
    a genuinely recursive smoother (s_i = a*v_i + (1-a)*s_{i-1}) no
    window frame can express, folded through F.aggregate over each
    user's time-sorted events (one key shuffle, no UDF) and exploded
    back to one row per event. alpha=0.25 and its complement are exact
    binary fractions and the fold order is total (ts, event_id), so the
    oracle's recursive-CTE replay reproduces every double bit-for-bit —
    no rounding anywhere. The streaming twin (ewma_with_state, one
    double of state per key) is asserted bit-for-bit equal in pytest's
    real checkpointed run."""
    from dbldatagen_spark.functions import ewma

    events = _load(spark, sf_dir, "events")
    return ewma(
        events, "user_id", "ts", "value", alpha=0.25, order_col="event_id"
    ).select("user_id", "event_id", "value", "ewma")


def _events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries: a width=64/depth=3 CMS of
    per-user event frequencies (narrow on purpose — collisions are the
    interesting case) probed for every user_id % 7 == 0, alongside the
    exact count. CMS cells are commutative sums, so the sketch is
    order-independent and the oracle reproduces every cell — and hence
    every min-over-rows estimate — exactly. Estimates never undershoot:
    cms_count >= exact_count by construction."""
    from dbldatagen_spark.functions import cms_estimate, cms_sketch

    events = _load(spark, sf_dir, "events")
    sk = cms_sketch(events, "user_id", width=64, depth=3, seed=7)
    probes = events.where("user_id % 7 = 0")
    est = cms_estimate(sk, probes, "user_id", width=64, depth=3, seed=7)
    exact = (
        events.where("user_id IS NOT NULL")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    )
    return (
        est.join(exact, "user_id")
        .select("user_id", "exact_count", "cms_count")
    )


def _multimodal_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplication over REAL decodable PPM
    payloads: 60 seeded images plus byte-identical twins at id+1000 flow
    through decode -> average-hash -> banded Hamming join (pigeonhole
    guarantee: hamming <= 3 with 4 bands can't miss). Invariants prove
    it: every planted twin found at hamming 0, no spurious pairs among
    the 60 distinct random images, and the pair set is identical under
    a different partitioning. Constant oracle."""
    from dbldatagen_spark.functions import image_near_duplicates
    from dbldatagen_spark.functions.multimodal import synthesize_ppm_table

    def pairs(partitions: int) -> DataFrame:
        base = synthesize_ppm_table(spark, rows=60, partitions=partitions, size=16)
        dup = base.selectExpr("media_id + 1000 as media_id", "payload")
        return image_near_duplicates(base.unionByName(dup))

    # decode once per partitioning: cache each pair set so the invariant
    # stats and the partitioning-stability diff share one decode pass
    p, d2 = pairs(4).cache(), pairs(7).cache()
    stats = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when((F.col("id_b") - F.col("id_a") == 1000) & (F.col("hamming") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_planted"),
        F.coalesce(F.max("hamming"), F.lit(0)).cast("long").alias("max_hamming"),
    )
    diff = (
        p.exceptAll(d2).union(d2.exceptAll(p))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return _detach(spark, stats.crossJoin(diff), p, d2)


def _multimodal_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplication over REAL decodable PCM WAV clips: 60
    seeded clips plus byte-identical twins at id+1000 flow through
    decode -> gain-invariant RMS-envelope fingerprint -> the shared
    banded Hamming kernel (pigeonhole guarantee, hamming <= 3 with 4
    bands). Invariants: every planted twin found at hamming 0, exactly
    4 additional same-tone pairs (the synthesizer reuses frequencies
    every 40 ids, so clips differing only in seeded noise are
    legitimately near by the envelope — max hamming 2), and a
    partition-independent pair set. Constant oracle."""
    from dbldatagen_spark.functions import audio_near_duplicates
    from dbldatagen_spark.functions.multimodal import synthesize_wav_table

    def pairs(partitions: int) -> DataFrame:
        base = synthesize_wav_table(spark, rows=60, partitions=partitions)
        dup = base.selectExpr("media_id + 1000 as media_id", "payload")
        return audio_near_duplicates(base.unionByName(dup))

    # decode once per partitioning: cache each pair set so the invariant
    # stats and the partitioning-stability diff share one decode pass
    p, d2 = pairs(4).cache(), pairs(7).cache()
    stats = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when((F.col("id_b") - F.col("id_a") == 1000) & (F.col("hamming") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_planted"),
        F.coalesce(F.max("hamming"), F.lit(0)).cast("long").alias("max_hamming"),
    )
    diff = (
        p.exceptAll(d2).union(d2.exceptAll(p))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return _detach(spark, stats.crossJoin(diff), p, d2)


def _docs_hybrid_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers over documents — the
    standard hybrid-search combiner: retriever A ranks by length
    (n_chars), retriever B by query-term hit count, each contributing
    its TOP-100 candidate list (limit-after-orderBy plans as
    TakeOrderedAndProject, so the rank window runs over <= 100 rows,
    never the corpus — the realistic fuse-the-heads shape). Both ranks
    are integer sorts with id tiebreaks and the fused score is a
    sorted fold of 1/(60+rank) terms, so every double reproduces
    exactly; top-15 emitted."""
    from pyspark.sql import Window

    from dbldatagen_spark.functions import rrf_fuse

    docs = _load(spark, sf_dir, "documents")
    ra_base = docs.select("doc_id", "n_chars").orderBy(
        F.col("n_chars").desc(), "doc_id"
    ).limit(100)
    ra = ra_base.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rank"),
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    hits = (
        toks.where(F.col("token").isin("window", "column", "scan"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    rb_base = hits.orderBy(F.col("_c").desc(), "doc_id").limit(100)
    rb = rb_base.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("_c").desc(), "doc_id"))
        .alias("rank"),
    )
    fused = rrf_fuse([ra, rb], "doc_id", k=60)
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(15)


def _events_behavior_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral signatures: each user's own 5x5 event-type
    transition-frequency matrix, row-flattened over a FIXED vocabulary
    (stable feature order across runs) — the categorical twin of the
    trajectory envelope; cosine/kNN over `behavior` finds users who
    behave alike. Frequencies are integer ratios assembled in fixed
    index order, so the oracle reproduces every array element exactly;
    the signature is rendered to ONE '|'-joined fixed-6-decimal string
    because the driver's canonicalizer cannot hash list cells (r6 red
    row) — ROUND before %.6f so a dyadic ratio like 1/128 (an exact
    .xxxxxx5 in binary) cannot hit the Java-half-up vs C-half-even
    formatter tie. The library function keeps returning the real
    array."""
    from dbldatagen_spark.functions import behavior_vectors

    events = _load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    bv = behavior_vectors(
        events, "user_id", "ts", "event_type",
        order_col="event_id", states=types,
    )
    return bv.select(
        "user_id",
        F.concat_ws(
            "|",
            F.transform(
                F.col("behavior"),
                lambda x: F.format_string("%.6f", F.round(x, 6)),
            ),
        ).alias("behavior"),
        "n_transitions",
    )


def _events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of event values — the
    persistence profile separating trending signals from noise. Every
    sum folds left-to-right over the explicit (ts, event_id) total
    order with a 0.0 seed, so the oracle's list_reduce over the same
    ordered list reproduces each double bit-for-bit; NULL where
    undefined (single event or zero variance)."""
    from dbldatagen_spark.functions import autocorrelation

    events = _load(spark, sf_dir, "events")
    return (
        autocorrelation(
            events, "user_id", "ts", "value", lag=1, order_col="event_id"
        )
        .select("user_id", "n", "acf")
    )


def _lineitem_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over l_extendedprice (a
    naturally multiplicative magnitude): per digit 1-9 the observed
    count, the integer-ratio observed fraction, the closed-form
    log10(1+1/d) expectation, and the absolute deviation — the
    data-integrity check fabricated numbers fail. Digit extraction is
    string arithmetic (no float log at power-of-ten boundaries), and
    the value range keeps both engines in plain decimal rendering, so
    the oracle reproduces every row exactly."""
    from dbldatagen_spark.functions import benford_report

    li = _load(spark, sf_dir, "lineitem")
    return benford_report(li, "l_extendedprice")


def _customers_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent portable table checksum: the decimal(38,0) sum
    of per-row 60-bit md5 hashes over (custkey, name, mktsegment) —
    dataset equality at scale without a sort or shuffle, recomputable
    by ANY engine with md5 (the oracle recomputes the identical sum).
    Also asserts the incremental law: the checksums of the two custkey
    parity halves add up to the whole."""
    from dbldatagen_spark.functions import table_checksum

    cust = _load(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_name", "c_mktsegment"]
    whole = table_checksum(cust, cols)
    p1 = table_checksum(cust.where("c_custkey % 2 = 0"), cols).select(
        F.col("checksum").alias("_c1")
    )
    p2 = table_checksum(cust.where("c_custkey % 2 = 1"), cols).select(
        F.col("checksum").alias("_c2")
    )
    return (
        whole.crossJoin(p1)
        .crossJoin(p2)
        .select(
            "n_rows",
            # decimal(38,0) exceeds a long and decimals render differently
            # across driver fetch paths — ship the exact digits as a string
            F.col("checksum").cast("string").alias("checksum"),
            (F.col("checksum") == F.col("_c1") + F.col("_c2")).alias(
                "halves_additive"
            ),
        )
    )


def _events_trajectory_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral trajectory similarity (cf. REPOSE, ICDE 2021 —
    signature-based distributed trajectory search): every user's value
    series is resampled to a 16-point time-normalized envelope (bucket
    means over the user's own span, value-sorted folds, forward fill),
    then the lowest-user-id probe ranks the 3 most-similar other users
    by envelope cosine. All doubles are bit-exact: bucket means and the
    key mean use the portable sorted-fold idiom, and dot products fold
    in index order seeded with 0.0 — the oracle's list_reduce replays
    them term for term."""
    from dbldatagen_spark.functions import trajectory_vectors

    events = _load(spark, sf_dir, "events")
    # eager localCheckpoint: the probe subquery and the scored branch
    # both read the trajectory frame, and Catalyst re-executes the whole
    # per-user envelope fold per consumer (measured 7.1 s vs ~2 s for
    # one fold at sf0.1) — the fertility-fix idiom; one (user, 16
    # doubles) row per user, so the materialization is tiny
    traj = trajectory_vectors(
        events, "user_id", "ts", "value", n_points=16
    ).localCheckpoint()
    probe = traj.orderBy("user_id").limit(1).select(
        F.col("user_id").alias("_qid"), F.col("traj").alias("_qt")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    t = F.col("traj")
    q = F.col("_qt")
    scored = (
        traj.crossJoin(F.broadcast(probe))
        .where(F.col("user_id") != F.col("_qid"))
        .select(
            "user_id",
            dot(t, q).alias("_dot"),
            dot(t, t).alias("_nb"),
            dot(q, q).alias("_nq"),
        )
        .where((F.col("_nb") > 0) & (F.col("_nq") > 0))
        .select(
            "user_id",
            (F.col("_dot") / (F.sqrt(F.col("_nq")) * F.sqrt(F.col("_nb"))))
            .alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), "user_id").limit(3)


def _gen_copula_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian-copula correlated generation (beyond the reference —
    its columns correlate only through baseColumn chaining, never to a
    TARGET correlation): three jointly normal columns built from a
    Cholesky-weighted sum of decorrelated Box-Muller draws must hit the
    requested correlation matrix within sampling tolerance at 40k rows,
    carry unit marginals, and rebuild bit-identically under a different
    partition count (zero shuffle, pure expressions over the row id).
    Constant oracle."""
    from dbldatagen_spark.operators.distributions import correlated_normal_exprs

    corr = [[1.0, 0.7, 0.2], [0.7, 1.0, 0.4], [0.2, 0.4, 1.0]]

    def build(parts: int) -> DataFrame:
        cols = correlated_normal_exprs(F.col("id"), corr, seed=42)
        return spark.range(0, 40000, 1, parts).select(
            "id", *[c.alias(f"z{i}") for i, c in enumerate(cols)]
        )

    d = build(8)
    stats = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            (F.abs(F.corr("z0", "z1") - 0.7) < 0.03)
            & (F.abs(F.corr("z0", "z2") - 0.2) < 0.03)
            & (F.abs(F.corr("z1", "z2") - 0.4) < 0.03)
        ).alias("corr_on_target"),
        (
            (F.abs(F.mean("z0")) < 0.03)
            & (F.abs(F.stddev("z1") - 1.0) < 0.03)
            & (F.abs(F.stddev("z2") - 1.0) < 0.03)
        ).alias("marginals_standard"),
    )
    d1, d2 = build(8), build(13)
    diff = (
        d1.exceptAll(d2).union(d2.exceptAll(d1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return stats.crossJoin(diff)


def _gen_markov_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain sequence generation (beyond the reference — its
    rows are independent; here each step's distribution is the
    transition row of the previous state): 20k users x 20-step chains,
    empirical transition frequencies measured by the engine's own
    transition_matrix operator must sit within 0.02 of every target
    cell, and the build must be bit-identical under a different
    partition count (zero shuffle, pure fold over per-step decorrelated
    uniforms). Constant oracle."""
    from dbldatagen_spark.functions import transition_matrix
    from dbldatagen_spark.operators.distributions import markov_sequence_expr

    target = [[0.8, 0.15, 0.05], [0.3, 0.6, 0.1], [0.1, 0.2, 0.7]]

    def build(parts: int) -> DataFrame:
        seq = markov_sequence_expr(F.col("id"), target, seed=42, length=20)
        return spark.range(0, 20000, 1, parts).select(
            F.col("id").alias("user_id"),
            F.posexplode(seq).alias("step", "state"),
        )

    seqs = build(8)
    emp = transition_matrix(seqs, "user_id", "step", "state")
    checks = []
    for i in range(3):
        for j in range(3):
            p = F.max(
                F.when(
                    (F.col("from_state") == i) & (F.col("to_state") == j),
                    F.col("prob"),
                )
            )
            checks.append(F.abs(F.coalesce(p, F.lit(0.0)) - target[i][j]) < 0.02)
    on_target = checks[0]
    for c in checks[1:]:
        on_target = on_target & c
    stats = emp.agg(
        on_target.alias("transitions_on_target"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    d1, d2 = build(8), build(13)
    diff = (
        d1.exceptAll(d2).union(d2.exceptAll(d1))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return stats.crossJoin(diff)


def _events_kmv_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV merge law under the oracle, not just in pytest: per-day
    user_id sketches merged (distinct-union, re-sorted, first k) must
    be CELL-IDENTICAL to the whole-corpus sketch — the lossless-union
    property that makes daily sketch states incrementally maintainable
    — and both estimators must agree. Emits the merged and direct
    estimates (rounded like events_kmv_distinct), the identity flag,
    and the exact distinct count."""
    from dbldatagen_spark.functions import (
        kmv_estimate_expr,
        kmv_merge_expr,
        kmv_sketch,
    )

    events = _load(spark, sf_dir, "events")
    days = events.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    daily = kmv_sketch(days, "user_id", group_cols=["day"], k=32)
    merged = daily.agg(
        kmv_merge_expr(F.collect_list("sketch"), 32).alias("m_sketch")
    )
    direct = kmv_sketch(events, "user_id", k=32).select(
        F.col("sketch").alias("d_sketch")
    )
    exact = events.where("user_id IS NOT NULL").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return (
        merged.crossJoin(direct)
        .crossJoin(exact)
        .select(
            F.round(kmv_estimate_expr(F.col("m_sketch"), 32), 4).alias("dv_merged"),
            F.round(kmv_estimate_expr(F.col("d_sketch"), 32), 4).alias("dv_direct"),
            (F.col("m_sketch") == F.col("d_sketch")).alias("sketches_identical"),
            F.col("n_exact"),
        )
    )


def _multimodal_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplication over REAL decodable P6-stream clips: 60
    seeded videos plus byte-identical twins at id+1000 flow through
    frame decode -> per-frame average-hash -> majority-vote clip
    fingerprint -> the shared banded Hamming kernel. Invariants: every
    planted twin found at hamming 0, no spurious pairs, partition-
    independent pair set. Constant oracle."""
    from dbldatagen_spark.functions import video_near_duplicates
    from dbldatagen_spark.functions.multimodal import synthesize_ppm_video_table

    def pairs(partitions: int) -> DataFrame:
        base = synthesize_ppm_video_table(
            spark, rows=60, partitions=partitions, size=16
        )
        dup = base.selectExpr("media_id + 1000 as media_id", "payload")
        return video_near_duplicates(base.unionByName(dup))

    # decode once per partitioning: cache each pair set so the invariant
    # stats and the partitioning-stability diff share one decode pass
    p, d2 = pairs(4).cache(), pairs(7).cache()
    stats = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when((F.col("id_b") - F.col("id_a") == 1000) & (F.col("hamming") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_planted"),
        F.coalesce(F.max("hamming"), F.lit(0)).cast("long").alias("max_hamming"),
    )
    diff = (
        p.exceptAll(d2).union(d2.exceptAll(p))
        .agg(F.count(F.lit(1)).cast("long").alias("mismatches"))
    )
    return _detach(spark, stats.crossJoin(diff), p, d2)


def _events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-screened heavy hitters with a no-false-negative
    guarantee: users whose event count reaches 1.3x the mean
    (threshold derived from two exact scalars, identically in both
    engines), screened through a deliberately narrow width=32 CMS so
    collision impostors appear — flagged is_heavy=false by the exact
    verify pass rather than silently dropped. The exact pass counts
    only rows whose user survived the broadcast-semi screen.

    The threshold rides the plan as a ONE-row broadcast frame instead
    of an eager collect: same two exact scalars, same
    ceil(1.3 * n / d) double arithmetic (1.3*n then /d, n,d < 2^53 so
    the promotions are exact and the IEEE op sequence matches the old
    Python math.ceil path bit-for-bit), but zero Spark jobs before the
    action — the old version paid a full scan + countDistinct shuffle
    per call just to derive the constant (guide §1.2/§5.1)."""
    from dbldatagen_spark.functions import cms_heavy_hitters

    events = _load(spark, sf_dir, "events")
    thr_frame = (
        events.where("user_id IS NOT NULL")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("d"),
        )
        .select(
            F.ceil(F.lit(1.3) * F.col("n") / F.col("d")).cast("long").alias("thr")
        )
    )
    return cms_heavy_hitters(
        events, "user_id", threshold=thr_frame, width=32, depth=3, seed=7
    ).select("user_id", "cms_count", "exact_count", "is_heavy")


def _events_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram sketch (lo=0, hi=600, 240 bins of
    width 2.5) of event values per event_type, probed for p50/p90/p99
    via cumulative-walk linear interpolation. Bin increments commute so
    the sketch is order-independent, and the interpolation arithmetic
    is plain double math in a fixed order — the oracle's window-
    cumulative replay agrees bit-for-bit. Boundary targets resolve to
    the shared bin edge (single-valued by construction)."""
    from dbldatagen_spark.functions import histogram_quantiles, histogram_sketch

    events = _load(spark, sf_dir, "events")
    sk = histogram_sketch(
        events, "value", lo=0.0, hi=600.0, bins=240, group_cols=["event_type"]
    )
    return (
        histogram_quantiles(
            sk,
            [0.5, 0.9, 0.99],
            lo=0.0,
            hi=600.0,
            bins=240,
            group_cols=["event_type"],
        )
        .select("event_type", "q", "estimate")
    )


def _events_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from sketches alone: the CMS
    inner-product estimate (min over depth rows of sum-of-cell-products)
    for the user_id equi-join of the two event-id parity halves,
    alongside the exact join size — the optimizer probe that sizes a
    join from two bounded depth x width state tables without touching
    either input. Cell sums commute, so the oracle reproduces the
    estimate exactly; by construction estimate >= exact."""
    from dbldatagen_spark.functions import cms_join_size, cms_sketch

    events = _load(spark, sf_dir, "events")
    a = events.where("event_id % 2 = 0")
    b = events.where("event_id % 2 = 1")
    est = cms_join_size(
        cms_sketch(a, "user_id", width=64, depth=3, seed=7),
        cms_sketch(b, "user_id", width=64, depth=3, seed=7),
    )
    exact = (
        a.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_na"))
        .join(b.groupBy("user_id").agg(F.count(F.lit(1)).alias("_nb")), "user_id")
        .agg(
            F.coalesce(F.sum(F.col("_na") * F.col("_nb")), F.lit(0))
            .cast("long")
            .alias("exact_join_size")
        )
    )
    return est.crossJoin(exact).select("join_size_estimate", "exact_join_size")


def _events_cusum_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user two-sided CUSUM change-point detection, self-calibrated
    to each user's own mean (computed as a sorted fold so the oracle's
    list_sum(list_sort(...)) reproduces the double bit-for-bit), with
    the standard reset-after-alarm. Recursive like ewma — folded
    through F.aggregate over each user's time-sorted events (one key
    shuffle, no UDF) and replayed by the oracle's recursive CTE.
    drift=0.25, threshold=1.5; all doubles emitted unrounded. The
    streaming twin (cusum_with_state, two doubles of state per key,
    explicit target) is asserted bit-for-bit equal in pytest's real
    checkpointed run."""
    from dbldatagen_spark.functions import cusum_flags

    events = _load(spark, sf_dir, "events")
    return (
        cusum_flags(
            events,
            "user_id",
            "ts",
            "value",
            drift=0.25,
            threshold=1.5,
            order_col="event_id",
        )
        .select("user_id", "event_id", "value", "cusum_pos", "cusum_neg", "alarm")
    )


def _customers_derive_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC derivation: two deterministic snapshots of the
    customer table (before drops custkey%10==0; after drops %13==0 and
    bumps acctbal by 100 where %7==0) are diffed into the I/U/D
    changelog that turns one into the other. Each side reduces map-side
    to (key, payload fingerprint) so the single shuffle moves 8-byte
    hashes, never the payload — the oracle's FULL OUTER JOIN is exactly
    the physical shape the operator avoids."""
    from dbldatagen_spark.functions import derive_cdc

    cust = _load(spark, sf_dir, "customer")
    before = cust.where("c_custkey % 10 != 0").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    after = cust.where("c_custkey % 13 != 0").select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(100.0))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    return derive_cdc(before, after, ["c_custkey"])



def _events_streaming_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user transition signatures maintained as STREAMING STATE,
    run as a REAL two-micro-batch job: events replay through
    transition_counts_with_state (applyInPandasWithState; state = one
    (last-state, k^2 count cells) row per key), the per-key LAST
    emission must equal the batch lag-window aggregation integer-exact
    (stream-vs-batch mismatches ride along as a constant column), and
    the oracle recomputes the batch counts relationally. The count
    matrix renders as one '|'-joined integer string (driver-canonical
    scalar cells; longs render identically on both engines)."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    from dbldatagen_spark.streaming.stateful import transition_counts_with_state

    states = ["click", "error", "purchase", "signup", "view"]
    events = _load(spark, sf_dir, "events")
    src = events.select("user_id", "ts", "event_id", "event_type")
    kwargs = dict(order_col="event_id", states=states)
    batch = transition_counts_with_state(
        src, "user_id", "ts", "event_type", **kwargs
    )

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_transtate_")
    try:
        # split on a floored-second boundary so (ts, id) ties never
        # straddle micro-batches (per-key event-time order assumption)
        mid = int(src.agg(F.expr(
            "percentile(floor(unix_timestamp(cast(ts as timestamp))), 0.5)"
        )).first()[0])
        e = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
        now = time.time()
        seen: list = []
        for i, frame in enumerate((src.where(e < mid), src.where(e >= mid))):
            frame.coalesce(1).write.mode("append").parquet(f"{tmp}/src")
            for f in sorted(glob.glob(f"{tmp}/src/*.parquet")):
                if f not in seen:
                    os.utime(f, (now + 1000 * i, now + 1000 * i))
                    seen.append(f)
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        q = (
            transition_counts_with_state(
                stream, "user_id", "ts", "event_type", **kwargs
            )
            .writeStream.format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", f"{tmp}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        emissions = spark.read.parquet(f"{tmp}/out")
        w = Window.partitionBy("key").orderBy(F.col("n_transitions").desc())
        final = (
            emissions.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
        )
        mismatches = (
            final.exceptAll(batch).union(batch.exceptAll(final)).count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return batch.select(
        F.col("key").alias("user_id"),
        "n_transitions",
        F.concat_ws(
            "|", F.transform(F.col("counts"), lambda x: x.cast("string"))
        ).alias("counts"),
        F.lit(int(mismatches)).cast("long").alias("stream_batch_mismatches"),
    )


def _events_session_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization skew audit: every user whose event count exceeds
    the per-task threshold — the users method='window' would serialize
    onto one task — with the skew_safe phase-1 split shape (bucket
    count and the largest single (user, day) slice). Count-only
    aggregations, integer-exact, so the oracle reproduces every row."""
    from dbldatagen_spark.functions import session_key_report

    events = _load(spark, sf_dir, "events")
    return session_key_report(
        events, "user_id", "ts", max_events_per_key=20, bucket_seconds=86400
    )



def _emb_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval-quality audit: recall@10 of prefix-dim
    cosine rankings (8/16/32 of 64) vs the full-vector ranking over 20
    deterministic md5-selected probe vectors — the measurement that
    decides which truncate_embeddings prefix is safe to serve. Rankings
    order by round(cosine, 4) with id tiebreaks (the repo's portable
    ranking convention), overlaps are integer sums, so the oracle
    reproduces every row exactly; the per-(query, dim) top-k plans as a
    pre-exchange WindowGroupLimit so only candidate ids shuffle."""
    from dbldatagen_spark.functions import mrl_recall_report

    emb = _load(spark, sf_dir, "embeddings")
    return mrl_recall_report(
        emb, "vec_id", "embedding", dims=[8, 16, 32], k=10, n_queries=20
    )


def _events_sessionize_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-routed sessionization: ``method="auto"`` runs a count-only
    pre-pass (``choose_sessionize_method``) and picks the plan per
    call — bounded users keep the cheap single-window route, a
    detected mega-user routes through the two-phase skew_safe
    decomposition. Both routes are exercised here: a cap of 50 routes
    skew_safe (every testdata user holds ~67 events), the default cap
    keeps the window plan. The emitted sessions come from the
    skew-safe route; ``route_mismatch_rows`` counts row differences
    between the two on the integer/timestamp session identity (always
    0 — the routes are result-identical by construction) and
    ``values_close`` bounds the float session sums' associativity
    drift at 1e-6 (observed ~1e-13)."""
    from dbldatagen_spark.functions import (
        choose_sessionize_method,
        sessionize,
    )

    ev = _load(spark, sf_dir, "events")
    route_low = choose_sessionize_method(ev, "user_id",
                                         max_events_per_key=50)
    route_default = choose_sessionize_method(ev, "user_id")
    lo = sessionize(ev, "user_id", "ts", gap_seconds=1800,
                    value_col="value", method="auto",
                    max_events_per_key=50)
    hi = sessionize(ev, "user_id", "ts", gap_seconds=1800,
                    value_col="value", method="auto")
    ident = ["user_id", "session_seq", "n_events", "session_start",
             "session_end"]
    mism = (
        lo.select(*ident).exceptAll(hi.select(*ident))
        .union(hi.select(*ident).exceptAll(lo.select(*ident)))
        .count()
    )
    drift = (
        lo.select(*ident[:2], F.col("session_value").alias("_a"))
        .join(hi.select(*ident[:2], F.col("session_value").alias("_b")),
              ident[:2])
        .agg(F.max(F.abs(F.col("_a") - F.col("_b"))).alias("d"))
        .first()["d"]
    )
    return (
        lo.select(
            *ident, F.round("session_value", 2).alias("session_value")
        )
        .withColumn("route_low_cap", F.lit(route_low))
        .withColumn("route_default_cap", F.lit(route_default))
        .withColumn("route_mismatch_rows",
                    F.lit(int(mism)).cast("long"))
        .withColumn("values_close",
                    F.lit(bool(drift is None or drift < 1e-6)))
    )


def _events_streaming_sketch_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV + CMS sink twins, run as REAL checkpointed
    foreachBatch jobs over two file-source micro-batches: each epoch
    commits its own sketch partition (idempotent under redelivery),
    and merge-on-read must equal the whole-input batch sketch EXACTLY
    — KMV because the k smallest distinct hashes of a union are
    recoverable from each part's k smallest (lossless union law), CMS
    because cells are commutative sums (the same laws the batch-side
    pytests assert; here re-proven on a live streaming run). One row
    per event type: the merged KMV state (kept hashes, estimate) and
    the type's CMS occupancy/mass, with stream==batch equality riding
    as boolean columns. The oracle replays the md5 sketch arithmetic
    relationally; the booleans are constants by the merge laws."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from dbldatagen_spark.functions import cms_sketch, kmv_sketch
    from dbldatagen_spark.sources.sinks import (
        foreach_batch_cms_sink,
        foreach_batch_kmv_sink,
        read_merged_cms,
        read_merged_kmv,
    )

    k = 32
    cms_kw = dict(width=64, depth=3, seed=7)
    events = _load(spark, sf_dir, "events")
    src = events.select("event_type", "user_id", "event_id")
    kmv_batch = kmv_sketch(src, "user_id", group_cols=["event_type"], k=k)
    cms_batch = cms_sketch(
        src, "user_id", group_cols=["event_type"], **cms_kw
    )

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_sketchsink_")
    try:
        now = time.time()
        seen: list = []
        halves = (src.where("event_id % 2 = 0"),
                  src.where("event_id % 2 = 1"))
        for i, frame in enumerate(halves):
            frame.coalesce(1).write.mode("append").parquet(f"{tmp}/src")
            for f in sorted(glob.glob(f"{tmp}/src/*.parquet")):
                if f not in seen:
                    os.utime(f, (now + 1000 * i, now + 1000 * i))
                    seen.append(f)

        def _stream():
            return (
                spark.readStream.schema(src.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/src")
            )

        q1 = foreach_batch_kmv_sink(
            _stream(), "user_id", f"{tmp}/kmv", f"{tmp}/ck_kmv",
            k=k, group_cols=["event_type"],
            trigger={"availableNow": True},
        )
        q1.awaitTermination(180)
        q2 = foreach_batch_cms_sink(
            _stream(), "user_id", f"{tmp}/cms", f"{tmp}/ck_cms",
            group_cols=["event_type"], trigger={"availableNow": True},
            **cms_kw,
        )
        q2.awaitTermination(180)

        kmv_merged = read_merged_kmv(
            spark, f"{tmp}/kmv", k=k, group_cols=["event_type"]
        )
        cms_merged = read_merged_cms(
            spark, f"{tmp}/cms", group_cols=["event_type"]
        )
        kmv_mism = (
            kmv_merged.select("event_type", "sketch")
            .exceptAll(kmv_batch.select("event_type", "sketch"))
            .union(
                kmv_batch.select("event_type", "sketch")
                .exceptAll(kmv_merged.select("event_type", "sketch"))
            )
            .count()
        )
        cms_mism = (
            cms_merged.exceptAll(cms_batch)
            .union(cms_batch.exceptAll(cms_merged))
            .count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    cms_stats = cms_batch.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cms_cells"),
        F.sum("cnt").cast("long").alias("cms_total"),
    )
    return (
        kmv_batch.select(
            "event_type",
            F.col("n_kept").alias("kmv_n_kept"),
            F.round("dv_estimate", 4).alias("kmv_dv_est"),
        )
        .join(cms_stats, "event_type")
        .withColumn("kmv_stream_matches", F.lit(bool(kmv_mism == 0)))
        .withColumn("cms_stream_matches", F.lit(bool(cms_mism == 0)))
    )


def _emb_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebooks over the embeddings table
    (Jegou et al. 2011): 8 subspaces x 16 codewords over the 64-d
    vectors — each vector compresses to 8 small ints (32x smaller
    than 64 floats), the 100 TB-realistic ANN compression next to
    the scalar quantize_embeddings. The conformance row per subspace
    carries the invariants that hold regardless of float jitter:
    Lloyd inertia is non-increasing, reconstruction MSE never exceeds
    the subspace variance (law of total variance; fresh assignment
    only lowers within-cell SS), and every emitted code is in [0, k).
    Booleans + integers only — centroid floats drift ~1e-15 across
    partitionings (driver-side partial-sum order), so they stay out
    of the emitted cells, the ann_kmeans_ivf convention."""
    from dbldatagen_spark.functions import (
        pq_encode,
        pq_reconstruction_report,
        pq_train,
    )

    m, k = 8, 16
    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb, hist = pq_train(emb, "v", m=m, k=k, id_col="vec_id", max_iter=6)
    inertia_monotone = all(
        a >= b - 1e-9 for a, b in zip(hist, hist[1:])
    )
    codes = pq_encode(emb, "v", cb)
    code_stats = codes.select(
        F.min(F.array_min("pq_codes")).alias("lo"),
        F.max(F.array_max("pq_codes")).alias("hi"),
        F.min(F.size("pq_codes")).alias("w_lo"),
        F.max(F.size("pq_codes")).alias("w_hi"),
    ).first()
    codes_in_range = bool(
        code_stats["lo"] >= 0
        and code_stats["hi"] < k
        and code_stats["w_lo"] == m
        and code_stats["w_hi"] == m
    )
    rep = pq_reconstruction_report(emb, "v", cb)
    return (
        rep.select(
            "subspace",
            "k",
            "n_vectors",
            "mse_improves",
            F.lit(bool(inertia_monotone)).alias("inertia_monotone"),
            F.lit(codes_in_range).alias("codes_in_range"),
        )
    )


def _events_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from KMV sketches (Beyer et al.):
    for three event-type pairs, the merged k-minimum set of the two
    per-type user sketches yields union / Jaccard / intersection
    estimates WITHOUT ever joining the audiences — the join moves
    k=32 longs per pair, never user sets. Exact distinct counts ride
    along as the accuracy reference. Every emitted number is integer
    or a ratio of integers over the portable md5 hash sets, so the
    oracle replays the identical arithmetic relationally."""
    from dbldatagen_spark.functions import kmv_set_ops, kmv_sketch

    k = 32
    events = _load(spark, sf_dir, "events")
    sk = kmv_sketch(
        events, "user_id", group_cols=["event_type"], k=k
    ).cache()
    pairs = [("purchase", "view"), ("click", "error"),
             ("signup", "purchase")]
    outs = []
    for ta, tb in pairs:
        ops = kmv_set_ops(
            sk.where(F.col("event_type") == ta).drop("event_type"),
            sk.where(F.col("event_type") == tb).drop("event_type"),
            k=k,
        )
        exact = events.where(
            F.col("event_type").isin([ta, tb])
            & F.col("user_id").isNotNull()
        ).agg(
            F.countDistinct("user_id").alias("exact_union"),
        )
        both = (
            events.where(F.col("user_id").isNotNull())
            .groupBy("user_id")
            .agg(
                F.max(F.when(F.col("event_type") == ta, 1).otherwise(0))
                .alias("_a"),
                F.max(F.when(F.col("event_type") == tb, 1).otherwise(0))
                .alias("_b"),
            )
            .where("_a = 1 AND _b = 1")
            .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
        )
        outs.append(
            ops.crossJoin(F.broadcast(exact))
            .crossJoin(F.broadcast(both))
            .select(
                F.lit(f"{ta}|{tb}").alias("pair"),
                "n_union_kept",
                "n_common",
                F.round("union_estimate", 4).alias("union_est"),
                F.round("jaccard_estimate", 4).alias("jaccard_est"),
                F.round("intersection_estimate", 4).alias(
                    "intersection_est"
                ),
                "exact_union",
                "exact_intersection",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _emb_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving path: ADC (asymmetric distance) shortlist over the
    coded corpus, then exact re-rank — the standard IVF-PQ pattern.
    The corpus scans as m=8 small ints per row (never the floats);
    each probe's shortlist of L = max(100, n/10) candidates is pure
    whole-stage-codegen lookup arithmetic planned as a per-partition
    top-k. Invariant emitted per md5-selected probe: the exact top-10
    overlaps the ADC shortlist by >= 3 (measured 5-10 at all three
    SFs — these UNIFORM random embeddings are PQ's worst case, no
    cluster structure, so the floor is deliberately loose; the
    raw per-probe overlaps are jitter-exposed integers and stay out
    of the emitted cells). ADC == decode-then-distance is definitional
    and pytest-proven (test_adc_equals_decode_then_distance), not
    re-proven here. Structural columns (candidate and shortlist
    sizes) are exact and the oracle recomputes them relationally."""
    from dbldatagen_spark.functions import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.count()
    L = max(100, n // 10)
    cb, _ = pq_train(emb, "v", m=8, k=16, id_col="vec_id", max_iter=6)
    coded = pq_encode(emb, "v", cb).select("vec_id", "pq_codes").cache()
    probes = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(5)
        .collect()
    )
    rows = []
    try:
        for p in probes:
            q = list(p["v"])
            shortlist = {
                r["vec_id"]
                for r in pq_adc_topk(
                    coded, "vec_id", "pq_codes", cb, q, k=L,
                    exclude_id=p["vec_id"],
                ).collect()
            }
            qa = F.array(*[F.lit(float(x)) for x in q])
            d = F.aggregate(
                F.zip_with(F.col("v"), qa, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            exact = {
                r["vec_id"]
                for r in emb.where(F.col("vec_id") != p["vec_id"])
                .select("vec_id", F.round(d, 4).alias("d"))
                .orderBy("d", "vec_id")
                .limit(10)
                .collect()
            }
            overlap = len(shortlist & exact)
            rows.append(
                (int(p["vec_id"]), int(n - 1), int(min(L, n - 1)),
                 bool(overlap >= 3))
            )
    finally:
        coded.unpersist()
    return spark.createDataFrame(
        rows,
        "qid long, n_candidates long, shortlist_size long, "
        "recall_floor_ok boolean",
    )


def _ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual serving index (Jegou et al. 2011 IVFADC) — the
    standard 100 TB ANN layout: a coarse k-means quantizer routes each
    vector to one of 8 inverted lists and PQ compresses the RESIDUAL
    to m=8 codes, so the serving state is 8 small ints + a cell id per
    row and a probe touches only n_probe=4 cells' codes via per-cell
    literal lookup tables (cell IN (...) is a pushable scan predicate;
    partition the index by cell at scale and it partition-prunes).
    Per md5-selected probe the exact L2 top-10 must overlap the
    ADC shortlist of L = max(50, n/10) by >= 3 (measured 6-10 at all
    three SFs; uniform random embeddings are PQ's worst case, and the
    floor is deliberately loose per the emb_pq_adc convention — the
    jitter-exposed raw overlaps stay out of the emitted cells).  The
    ADC==centroid+decode law is pytest-proven
    (test_adc_equals_centroid_plus_decode_distance)."""
    from dbldatagen_spark.functions import ivfpq_build, ivfpq_topk

    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.count()
    L = max(50, n // 10)
    idx, cents, cb = ivfpq_build(
        emb, "vec_id", "v", n_cells=8, m=8, k=16,
        coarse_max_iter=6, pq_max_iter=6,
    )
    idx = idx.cache()
    probes = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(3)
        .collect()
    )
    rows = []
    try:
        idx.count()  # materialize once; 3 probes + exact lanes reuse it
        for p in probes:
            q = list(p["v"])
            shortlist = {
                r["vec_id"]
                for r in ivfpq_topk(
                    idx, "vec_id", cents, cb, q, k=L, n_probe=4,
                    exclude_id=p["vec_id"],
                ).collect()
            }
            qa = F.array(*[F.lit(float(x)) for x in q])
            d = F.aggregate(
                F.zip_with(F.col("v"), qa, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            exact = {
                r["vec_id"]
                for r in emb.where(F.col("vec_id") != p["vec_id"])
                .select("vec_id", F.round(d, 4).alias("d"))
                .orderBy("d", "vec_id")
                .limit(10)
                .collect()
            }
            overlap = len(shortlist & exact)
            rows.append(
                (int(p["vec_id"]), int(n), 8, 4, int(min(L, n - 1)),
                 bool(overlap >= 3))
            )
    finally:
        idx.unpersist()
    return spark.createDataFrame(
        rows,
        "qid long, n_vectors long, n_cells int, n_probe int, "
        "shortlist_cap long, recall_floor_ok boolean",
    )


def _ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ serving layout — the twin of ann_ivf_pq that
    makes the 100 TB storage contract REAL instead of promised: the
    index is written partitioned by cell (ivfpq_write_index — one
    compact file per cell), read back, and probed.  Asserted per
    md5-selected query: (a) the probe predicate lands in the scan's
    PartitionFilters (partition pruning, checked in the executed
    plan), (b) the probed cells' footprint is <= n_probe of the
    written files (the scan never touches the other cells), and
    (c) the served top-k equals the in-memory index's top-k row for
    row — persistence changes where bytes live, never the ranking."""
    import re
    import shutil
    import tempfile

    import numpy as np

    from dbldatagen_spark.functions import (
        ivfpq_build, ivfpq_read_index, ivfpq_topk, ivfpq_write_index,
    )

    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    idx, cents, cb = ivfpq_build(
        emb, "vec_id", "v", n_cells=8, m=8, k=16,
        coarse_max_iter=6, pq_max_iter=6,
    )
    idx = idx.cache()
    n_probe = 4
    tmp = tempfile.mkdtemp(prefix="ivfpq_persist_")
    rows = []
    try:
        ivfpq_write_index(idx, f"{tmp}/index")
        stored = ivfpq_read_index(spark, f"{tmp}/index")
        probes = (
            emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(2)
            .collect()
        )
        for p in probes:
            q = np.asarray(list(p["v"]), dtype=float)
            served = ivfpq_topk(
                stored, "vec_id", cents, cb, list(q), k=10,
                n_probe=n_probe, exclude_id=p["vec_id"],
            )
            mem = ivfpq_topk(
                idx, "vec_id", cents, cb, list(q), k=10,
                n_probe=n_probe, exclude_id=p["vec_id"],
            )
            plan = served._jdf.queryExecution().executedPlan().toString()
            pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
            pruned = bool(pf and "cell" in pf.group(1))
            # recompute the probe set exactly as ivfpq_topk ranks it
            d2 = ((np.asarray(cents) - q[None, :]) ** 2).sum(axis=1)
            cells = [int(c) for c in
                     np.lexsort((np.arange(len(d2)), d2))[:n_probe]]
            files_scanned = (
                stored.where(F.col("cell").isin(cells))
                .select(F.input_file_name().alias("f"))
                .distinct()
                .count()
            )
            same = [tuple(r) for r in served.collect()] == \
                [tuple(r) for r in mem.collect()]
            rows.append(
                (int(p["vec_id"]), 8, n_probe, bool(pruned),
                 bool(files_scanned <= n_probe), bool(same))
            )
    finally:
        idx.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "qid long, n_cells int, n_probe int, partition_pruned boolean, "
        "files_scanned_le_probe boolean, matches_memory boolean",
    )


def _docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-style exact substring dedup (Lee et al. 2022 ExactSubstr,
    Spark-first as the k-gram cover): a token position is covered iff
    some 8-token window containing it occurs >= 2 times corpus-wide;
    maximal covered runs are the duplicate spans, removed from EVERY
    occurrence.  Per affected document the oracle replays span count,
    tokens removed, and the md5 of the REBUILT text — so the removal
    itself (not just the statistics) is verified relationally.  Only
    (k-gram md5, id, pos) rows ever shuffle; span location is one
    count-aggregate + one join + one per-doc window, and the rebuild
    joins one small span array back per affected doc."""
    from dbldatagen_spark.functions import (
        substring_dedup, substring_dedup_spans,
    )

    docs = _load(spark, sf_dir, "documents")
    spans = substring_dedup_spans(docs, "doc_id", "text", k=8)
    agg = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("tokens_removed"),
    )
    clean = substring_dedup(docs, "doc_id", "text", k=8).select(
        "doc_id", "n_tokens", F.md5("deduped_text").alias("deduped_md5")
    )
    return (
        agg.join(clean, "doc_id")
        .select(
            "doc_id", "n_spans", "tokens_removed", "n_tokens",
            "deduped_md5",
        )
    )


def _events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007): per
    event type, a dense 256-register HLL over the portable md5 hash
    basis estimates the distinct-user count next to the exact count.
    The register indicator sum stays in BIGINT (every term an exact
    power of two), so the estimate's only float steps — one division,
    and the linear-counting ln in the small-range regime — replay
    bit-for-bit in the SQL oracle.  merged_matches additionally
    asserts the HLL union law at register granularity: per-day
    sketches merged by element-wise max must equal the direct sketch.
    KMV twin: events_kmv_distinct (same hash basis, set-operation
    capable); HLL is the fixed-size-registers trade."""
    from dbldatagen_spark.functions import hll_merge_expr, hll_sketch

    p = 8
    events = _load(spark, sf_dir, "events")
    direct = hll_sketch(events, "user_id", group_cols=["event_type"], p=p)
    daily = hll_sketch(
        events.withColumn("day", F.to_date("ts")),
        "user_id",
        group_cols=["event_type", "day"],
        p=p,
    )
    merged = (
        daily.groupBy("event_type")
        .agg(F.collect_list("registers").alias("_s"))
        .select(
            "event_type", hll_merge_expr(F.col("_s"), p=p).alias("_m")
        )
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        direct.join(merged, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            F.round(F.col("dv_estimate"), 4).alias("est_hll"),
            "exact_distinct",
            F.col("n_zero_registers").cast("long").alias("n_zero_registers"),
            (F.col("_m") == F.col("registers")).alias("merged_matches"),
            (
                F.abs(F.col("dv_estimate") / F.col("exact_distinct") - 1)
                <= 0.2
            ).alias("rel_err_ok"),
        )
    )


def _docs_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): an 8-document sample
    per source with w_hat = max(w, tau) estimator weights answers the
    subset-sum question "how many characters does each source hold?"
    without a full scan.  tau (the 9th-largest priority) and the
    deterministic md5 uniforms make sample AND estimates exactly
    replayable; ratio_sane brackets the estimator against the exact
    per-source totals."""
    from dbldatagen_spark.functions import priority_sample

    docs = _load(spark, sf_dir, "documents")
    s = priority_sample(docs, "doc_id", "n_chars", 8, group_cols=["source"])
    # SUM over doubles is partial-aggregation-order dependent; fold the
    # sample in doc_id order instead so the conformance cell is the same
    # IEEE sum in both engines (0.0 + x1 + x2 + ... left-to-right)
    ordered_sum = F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("doc_id"), F.col("w_hat")))),
        F.lit(0.0),
        lambda acc, x: acc + x["w_hat"],
    )
    est = s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.round(F.max("tau"), 4).alias("tau"),
        F.round(ordered_sum, 4).alias("est_total_chars"),
    )
    exact = (
        docs.where(F.col("n_chars") > 0)
        .groupBy("source")
        .agg(F.sum("n_chars").alias("exact_total_chars"))
    )
    ratio = F.col("est_total_chars") / F.col("exact_total_chars")
    return (
        est.join(exact, "source")
        .select(
            "source",
            "n_sampled",
            "tau",
            "est_total_chars",
            "exact_total_chars",
            ((ratio >= 0.3) & (ratio <= 3.0)).alias("ratio_sane"),
        )
    )


def _text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-step statistics (Sennrich et al. 2016): corpus-wide
    adjacent character-pair frequencies over the distinct-word
    vocabulary (the corpus collapses to its vocabulary FIRST — the
    move that keeps full BPE training tractable at 100 TB), ranked to
    the top 25 merge candidates.  Pure integer arithmetic over a
    deterministic tokenization; ties break on the pair string.  The
    full iterative bpe_train loop shares this exact counting pass and
    is pytest-verified against a pure-Python reference."""
    from pyspark.sql import Window

    from dbldatagen_spark.functions import bpe_pair_counts

    docs = _load(spark, sf_dir, "documents")
    top = (
        bpe_pair_counts(docs, "text")
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(25)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return top.select(
        "pair", "n", F.row_number().over(w).cast("int").alias("rank")
    )


def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup detection (Broder 1997): pairs
    where one document's 3-word shingle set is >= 80% contained in the
    other's — the quote/subset duplicates Jaccard structurally misses
    (a short doc inside a long one has near-zero Jaccard but
    containment 1.0).  Candidates come from the shared inverted
    shingle index; every emitted number is an integer or a single
    ratio of integers, replayed exactly by the oracle."""
    from dbldatagen_spark.functions import containment_pairs

    docs = _load(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "doc_id", "text", k=3, threshold=0.8, max_posting_len=None
    )


def _events_interp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling onto a 6-hour lattice: each
    user's irregular value series becomes a regular grid, every grid
    point bracketed by real observations (no extrapolation) and
    interpolated on integer epoch-second arithmetic — the continuous
    sibling of the forward-fill gap filler (events_gap_fill).  Both
    bracket windows ride one (user ORDER BY ts) sort, so the operator
    costs a single shuffle at any scale."""
    from dbldatagen_spark.functions import resample_interpolate

    events = _load(spark, sf_dir, "events")
    out = resample_interpolate(
        events,
        "user_id",
        "ts",
        "value",
        interval_seconds=6 * 3600,
        order_col="event_id",
    )
    # two-decimal endpoints interpolated at rational ratios land
    # EXACTLY on decimal halves, where Spark's HALF_UP and DuckDB's
    # multiply-then-round disagree — so the conformance cell is the
    # FLOORED 1e-4 quantum (one multiply + floor on the identical
    # double, stable in both engines); pytest checks the true values
    return out.select(
        "user_id",
        "grid_ts",
        F.floor(F.col("value") * 10000).cast("long").alias("value_q4"),
        "was_exact",
    )


def _events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoother (double exponential smoothing) —
    the trend-aware sibling of events_ewma: level AND trend are
    mutually recursive, folded through one F.aggregate over each
    user's time-sorted events (one key shuffle, no UDF) and exploded
    to one row per event.  alpha=0.25 / beta=0.125 are exact binary
    fractions and the fold order is total (ts, event_id), so the
    oracle's recursive-CTE replay reproduces level and trend
    bit-for-bit — no rounding anywhere.  The streaming twin
    (holt_with_state, TWO doubles of state per key) is asserted
    bit-for-bit equal in pytest's real checkpointed run."""
    from dbldatagen_spark.functions import holt_linear

    events = _load(spark, sf_dir, "events")
    return (
        holt_linear(
            events, "user_id", "ts", "value",
            alpha=0.25, beta=0.125, order_col="event_id",
        )
        .select("user_id", "event_id", "value", "level", "trend")
    )


def _dedup_containment_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-estimated containment (Broder 1997 §4) — the 100 TB path
    for dedup_containment: documents collapse to 24 bottom-k shingle
    hashes each, the sketch doubles as the blocking index, and the
    per-pair estimate |M∩A∩B|/|M∩A| is array arithmetic over two
    24-long arrays (full shingle sets never shuffle).  Every emitted
    number is an integer or one ratio of integers over the md5 basis,
    so the oracle replays estimates exactly; pytest checks the
    estimates track exact containment within a few percent on the
    same corpus."""
    from dbldatagen_spark.functions import containment_sketch_pairs

    docs = _load(spark, sf_dir, "documents")
    return containment_sketch_pairs(
        docs, "doc_id", "text", k=3, sketch_k=24, threshold=0.7
    )


def _events_streaming_hll_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL sink twin, run as a REAL checkpointed foreachBatch
    job over two file-source micro-batches: each epoch commits its own
    register-vector partition (idempotent under redelivery — and
    element-wise max is itself idempotent), and merge-on-read must
    equal the whole-input batch sketch EXACTLY at register granularity
    (max of per-part maxima == max of the union).  One row per event
    type with the merged estimate, the exact distinct count, and the
    stream==batch register equality riding as a boolean.  The oracle
    replays the md5 register arithmetic relationally; registers_match
    is a constant by the merge law."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from dbldatagen_spark.functions import hll_sketch
    from dbldatagen_spark.sources.sinks import (
        foreach_batch_hll_sink,
        read_merged_hll,
    )

    p = 8
    events = _load(spark, sf_dir, "events")
    src = events.select("event_type", "user_id", "event_id")
    batch = hll_sketch(src, "user_id", group_cols=["event_type"], p=p)

    tmp = tempfile.mkdtemp(prefix="dbldatagen_spark_hllsink_")
    try:
        now = time.time()
        seen: list = []
        halves = (src.where("event_id % 2 = 0"),
                  src.where("event_id % 2 = 1"))
        for i, frame in enumerate(halves):
            frame.coalesce(1).write.mode("append").parquet(f"{tmp}/src")
            for f in sorted(glob.glob(f"{tmp}/src/*.parquet")):
                if f not in seen:
                    os.utime(f, (now + 1000 * i, now + 1000 * i))
                    seen.append(f)

        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        q = foreach_batch_hll_sink(
            stream, "user_id", f"{tmp}/hll", f"{tmp}/ck_hll",
            p=p, group_cols=["event_type"],
            trigger={"availableNow": True},
        )
        q.awaitTermination(180)

        merged = read_merged_hll(
            spark, f"{tmp}/hll", p=p, group_cols=["event_type"]
        )
        per_type = (
            merged.select(
                "event_type",
                F.col("registers").alias("_mr"),
                F.col("dv_estimate").alias("_me"),
            )
            .join(
                batch.select(
                    "event_type", "registers", "n_zero_registers",
                    "dv_estimate",
                ),
                "event_type",
            )
            .select(
                "event_type",
                (F.col("_mr") == F.col("registers")).alias("_rm"),
                (F.col("_me") == F.col("dv_estimate")).alias("_em"),
                "n_zero_registers",
                "dv_estimate",
            )
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    exact = {
        r["event_type"]: r["n"]
        for r in events.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    rows = [
        (
            r["event_type"],
            float(r["dv_estimate"]),
            int(exact[r["event_type"]]),
            int(r["n_zero_registers"]),
            bool(r["_rm"]) and bool(r["_em"]),
            abs(float(r["dv_estimate"]) / exact[r["event_type"]] - 1)
            <= 0.2,
        )
        for r in per_type
    ]
    # rounding happens in Spark (HALF_UP), matching the oracle's ROUND
    return (
        spark.createDataFrame(
            rows,
            "event_type string, est_raw double, exact_distinct long, "
            "n_zero_registers long, registers_match boolean, "
            "rel_err_ok boolean",
        )
        .select(
            "event_type",
            F.round(F.col("est_raw"), 4).alias("est_hll"),
            "exact_distinct",
            "n_zero_registers",
            "registers_match",
            "rel_err_ok",
        )
    )


def _events_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct counts WITHOUT rescanning: per
    (event_type, day) HLL register vectors merge across a 7-day
    calendar window (element-wise max over the joined days), so a
    month of trailing-week distinct-user curves costs one pass over
    the events plus arithmetic on 256-int vectors — the mergeable
    sketch pattern that replaces daily COUNT(DISTINCT) rescans at
    100 TB.  The BIGINT indicator sum keeps every estimate (including
    linear-counting) bit-replayable by the oracle; exact trailing
    counts ride along as the accuracy reference."""
    from dbldatagen_spark.functions import hll_merge_expr, hll_sketch
    from dbldatagen_spark.functions.sketches import hll_estimate_expr

    p = 8
    events = _load(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    with_day = events.select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = hll_sketch(
        with_day, "user_id", group_cols=["event_type", "day"], p=p
    )
    days = with_day.select("event_type", "day").distinct()
    a = days.alias("d")
    b = daily.alias("r")
    merged = (
        a.join(
            b,
            (F.col("d.event_type") == F.col("r.event_type"))
            & (
                F.col("r.day").between(
                    F.date_sub(F.col("d.day"), 6), F.col("d.day")
                )
            ),
        )
        .groupBy(F.col("d.event_type").alias("event_type"),
                 F.col("d.day").alias("day"))
        .agg(F.collect_list("r.registers").alias("_s"))
        .select(
            "event_type",
            "day",
            hll_merge_expr(F.col("_s"), p=p).alias("_m"),
        )
    )
    triples = with_day.distinct()
    t = triples.alias("t")
    exact = (
        a.join(
            t,
            (F.col("d.event_type") == F.col("t.event_type"))
            & (
                F.col("t.day").between(
                    F.date_sub(F.col("d.day"), 6), F.col("d.day")
                )
            ),
        )
        .groupBy(F.col("d.event_type").alias("event_type"),
                 F.col("d.day").alias("day"))
        .agg(F.countDistinct("t.user_id").alias("exact_7d"))
    )
    est = hll_estimate_expr(F.col("_m"), p=p)
    return (
        merged.join(exact, ["event_type", "day"])
        .select(
            "event_type",
            "day",
            F.round(est, 4).alias("est_7d"),
            "exact_7d",
            F.size(F.filter(F.col("_m"), lambda r: r == 0))
            .cast("long")
            .alias("n_zero_registers"),
            (F.abs(est / F.col("exact_7d") - 1) <= 0.2).alias("rel_err_ok"),
        )
    )


def _corpus_language_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus routing (the CCNet splitter shape):
    stopword language ID when it fires, und-<script> from the dominant
    Unicode script otherwise, und as the floor — written partitioned
    by route and read BACK, so the row verifies the full
    split-write-readback path, not just the expression.  The fixture
    covers every branch (5 languages, 8 script buckets incl. the
    two-kana fold to und-jpan, language-beats-script on mixed text,
    latin-without-stopwords, digits-only, empty, NULL) against
    hand-derived route counts.  The route itself is one scan-stage
    expression (pytest-asserted: no exchange, no Python, and the
    write compiles with codegen fallback disabled)."""
    import os
    import tempfile

    from dbldatagen_spark.functions import route_by_language

    fixtures = [
        (1, "the quick brown fox and the lazy dog is that for with a"),
        (2, "der hund und die katze ist nicht ein tier mit zu"),
        (3, "le chat et la maison les des est une dans pour que"),
        (4, "el perro la casa que de los una por con para es"),
        (5, "你好世界 这是 中文"),
        (6, "Привет мир как дела"),
        (7, "مرحبا بالعالم"),
        (8, "नमस्ते दुनिया"),
        (9, "안녕하세요 세계"),
        (10, "こんにちは せかい"),
        (11, "カタカナ テキスト"),
        (12, "γειά σου κόσμε"),
        (13, "שלום עולם"),
        (14, "the мир and the дела of it"),
        (15, "zxqwv plmkj trfde"),
        (16, "12345 67890"),
        (17, ""),
        (18, None),
    ]
    import shutil

    df = spark.createDataFrame(fixtures, "doc_id long, text string")
    # private mkdtemp + collect + rmtree (the _ann_ivfpq_persisted
    # pattern): a fixed shared path would race concurrent check
    # sessions and leak the directory
    out_dir = tempfile.mkdtemp(prefix="route_split_")
    try:
        route_by_language(
            df, "text", out_path=os.path.join(out_dir, "r")
        )
        back = spark.read.parquet(os.path.join(out_dir, "r"))
        rows = [
            (r["route"], r["n_docs"])
            for r in back.groupBy("route")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .orderBy("route")
            .collect()
        ]
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "route string, n_docs long")


def _text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring as pure exprs: a logistic over the
    standard web-corpus features (the post-Gopher filter stage —
    fastText-style classifiers reduce to exactly this once
    featurized).  Every feature is one IEEE division of exact integer
    counts and the logit is a left-to-right multiply-add fold in the
    documented feature order, so the oracle replays the LINEAR MODEL
    bit-exactly — no rounding anywhere in this row.  keep thresholds
    in logit space (0.0 ≡ prob 0.5), avoiding the one non-portable
    step (exp differs in the last ULP across math libraries).
    Map-only: scores at scan speed at any scale."""
    from dbldatagen_spark.functions import quality_classifier_score

    docs = _load(spark, sf_dir, "documents")
    return (
        quality_classifier_score(docs, "doc_id", "text")
        .select(
            "doc_id", "alpha_ratio", "digit_ratio", "punct_ratio",
            "distinct_ratio", "stop_ratio", "length_score", "logit",
            "keep",
        )
    )


def _corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual rebalance
    rule: sample group g ∝ count^alpha; alpha=0.5 the standard
    small-language up-sampling).  Exactness by construction: sqrt of
    integer counts is correctly rounded IEEE everywhere, and the
    normalizing sum folds over groups SORTED BY KEY (the
    priority-sample ordered-fold precedent), so the oracle replays
    weight and floor(budget*weight) bit-for-bit.  One count aggregate
    over the corpus; everything after runs on one row per group."""
    from dbldatagen_spark.functions import temperature_weights

    docs = _load(spark, sf_dir, "documents")
    return temperature_weights(
        docs, "lang", alpha=0.5, total_budget=100_000
    )


def _docs_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail per language — quality terciles from a
    fixed-bin HISTOGRAM, the quantile bucketing that survives 100 TB
    (an ntile window sorts each language in one task; exact percentile
    buffers every value per group; histogram thresholds shuffle only
    (lang, bin) keys and assign map-side via broadcast).  Composes
    quality_classifier_score's bit-exact logit; every bucketing step
    is integer counts + one fixed IEEE expression, replayed in full by
    the oracle (thresholds, assignment, and per-bucket count/min/max)."""
    from dbldatagen_spark.functions import (
        quality_classifier_score,
        score_buckets,
    )

    docs = _load(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang").join(
        quality_classifier_score(docs, "doc_id", "text").select(
            "doc_id", "logit"
        ),
        "doc_id",
    )
    return (
        score_buckets(
            scored, "doc_id", "logit",
            group_col="lang", n_buckets=3, n_bins=64,
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("logit").alias("min_logit"),
            F.max("logit").alias("max_logit"),
        )
    )


def _dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: near-dup clusters (star-
    contraction minhash, same graph as dedup_cluster_canonical)
    surrender every copy except their HIGHEST-quality member — argmax
    of the classifier logit, ties to the smallest id, a deterministic
    max over (score, -id) the oracle replays via the identical struct
    max over the exact >=0.5-Jaccard component graph.  Ids and scores
    shuffle; document bodies never move."""
    from dbldatagen_spark.functions import (
        keep_best_canonicals,
        minhash_cluster_dedup,
        quality_classifier_score,
    )

    docs = _load(spark, sf_dir, "documents")
    clusters = minhash_cluster_dedup(docs, "doc_id", "text", threshold=0.5)
    scores = quality_classifier_score(docs, "doc_id", "text").select(
        "doc_id", "logit"
    )
    return (
        keep_best_canonicals(clusters, scores, "doc_id", "logit")
        .select("doc_id", "canonical_id", "best_id", "keep")
    )


def _corpus_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget temperature mixing (round 12): the XLM-R-style
    ``mass ** alpha`` rebalance re-based on TOKEN totals — the unit
    training budgets are written in — with the 1M-token budget split
    EXACTLY by the deterministic largest-remainder (Hamilton) rule:
    floor every share, hand leftover units to the largest fractional
    parts, ties to the ascending group key.  The oracle replays the
    whole allocation bit-for-bit: integer token counts, sqrt masses,
    the key-ordered IEEE normalizing fold, and the same
    floor/frac/rank arithmetic."""
    from dbldatagen_spark.functions import temperature_token_allocation

    docs = _load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    return temperature_token_allocation(
        toks, "lang", "n_tok", alpha=0.5, target_tokens=1_000_000
    )


def _docs_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular dedup (round 12, RefinedWeb shape): chunk
    every document into 12-token paragraphs, plant a full duplicate of
    the corpus (doc_id + 1,000,000 twins), dedup at PARAGRAPH
    granularity, and rebuild each document from its surviving
    paragraphs.  The exact arm (first-occurrence winner over the
    trimmed paragraph key) is replayed relationally per doc — span
    counts AND the md5 of the rebuilt text, so the reassembly itself
    is verified; every planted twin must collapse to ''.  The minhash
    arm runs on the same corpus and is pinned by the containment
    invariant ``minhash_removed_ge_exact``: exact-duplicate paragraphs
    share every band bucket and survive verification at any threshold,
    so near-dup clustering can only remove MORE, never less."""
    from dbldatagen_spark.functions import paragraph_dedup

    docs = _load(spark, sf_dir, "documents")
    chunk = 12
    w = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.greatest(
        F.ceil(F.size(w) / F.lit(float(chunk))).cast("int"), F.lit(1)
    )
    ptext = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.array_join(
                F.slice(w, i * F.lit(chunk) + F.lit(1), chunk), " "
            ),
        ),
        "\n\n",
    )
    base = docs.select("doc_id", ptext.alias("ptext"))
    # both arms read the chunked twin corpus; cache it so tokenize +
    # chunk + twin-union runs once, not once per arm (released below)
    corpus = base.unionByName(
        base.select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "ptext"
        )
    ).persist()
    ex = paragraph_dedup(corpus, "doc_id", "ptext", method="exact")
    mh = paragraph_dedup(
        corpus, "doc_id", "ptext", method="minhash", threshold=0.9
    )
    inv = (
        ex.agg(F.sum("n_paragraphs_removed").alias("_e"))
        .crossJoin(mh.agg(F.sum("n_paragraphs_removed").alias("_m")))
        .select(
            (F.col("_m") >= F.col("_e")).alias("minhash_removed_ge_exact")
        )
    )
    out = (
        ex.select(
            "doc_id",
            "n_paragraphs",
            "n_paragraphs_removed",
            F.md5(F.col("deduped_text")).alias("deduped_md5"),
        )
        .crossJoin(F.broadcast(inv))
        .orderBy("doc_id")
    )
    return _detach(spark, out, corpus)


def _ann_ivfpq_nprobe_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ n_probe auto-tuner (round 12): per md5-selected probe
    query, the ROUTING recall@10 of each candidate n_probe — the
    fraction of exact L2 top-10 neighbors whose coarse cell falls in
    the n_probe nearest cells (the knob ann_ivfpq_persisted
    hardcodes).  Asserted per query: the recall curve is monotone
    nondecreasing (probed-cell sets are nested prefixes of one fixed
    centroid ranking), probing every cell reaches recall 1.0, and a
    second run under different partitioning replays every row
    identically (the measurement is a pure function of the corpus)."""
    from dbldatagen_spark.functions import ivfpq_build, ivfpq_tune_nprobe

    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    idx, cents, _cb = ivfpq_build(
        emb, "vec_id", "v", n_cells=8, m=8, k=16,
        coarse_max_iter=6, pq_max_iter=6,
    )
    idx = idx.cache()
    try:
        rows = ivfpq_tune_nprobe(
            idx, emb, "vec_id", "v", cents, k=10,
            n_probes=(1, 2, 4, 8), n_queries=3,
        ).collect()
        rows2 = ivfpq_tune_nprobe(
            idx.repartition(5), emb.repartition(3), "vec_id", "v", cents,
            k=10, n_probes=(1, 2, 4, 8), n_queries=3,
        ).collect()
    finally:
        idx.unpersist()
    stable = sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    per: dict = {}
    for r in rows:
        per.setdefault(r["qid"], []).append((r["n_probe"], r["recall"]))
    out = []
    for qid, lst in sorted(per.items()):
        lst.sort()
        recs = [x[1] for x in lst]
        out.append(
            (
                int(qid),
                len(lst),
                bool(recs == sorted(recs)),
                bool(recs[-1] == 1.0),
                bool(stable),
            )
        )
    return spark.createDataFrame(
        out,
        "qid long, n_levels int, monotone boolean, "
        "full_probe_recall_one boolean, replayable boolean",
    )



def _docs_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching (round 12): the padding-efficiency
    layout for pad-not-pack training (SFT/encoders) — route each doc
    to the smallest length bucket that holds it, batch within
    (bucket, md5-shard) at max(1, batch_tokens // cap) docs per batch,
    pad to the bucket cap; oversized docs take the overflow bucket one
    per batch, padded to themselves.  The oracle replays the ENTIRE
    assignment — bucket CASE, md5 shard and order, row_number batch
    arithmetic — and the checksum column pins every doc's
    (batch_index, pos_in_batch) pair, so the per-bucket report cannot
    mask compensating assignment errors."""
    from dbldatagen_spark.functions import length_bucket_batches

    docs = _load(spark, sf_dir, "documents")
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    out = length_bucket_batches(
        toks, "doc_id", "n_tok",
        bucket_boundaries=(32, 64, 96), batch_tokens=2048,
        num_shards=4, hash_mode="md5",
    )
    return (
        out.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("shard", "batch_index")
            .cast("long")
            .alias("n_batches"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("pad_tokens").cast("long").alias("sum_pad_tokens"),
            F.sum(
                (F.col("doc_id") + F.lit(1))
                * (F.col("batch_index") + F.lit(1))
                * (F.col("pos_in_batch") + F.lit(1))
            )
            .cast("long")
            .alias("assignment_checksum"),
        )
        .withColumn(
            "pad_fraction",
            F.col("sum_pad_tokens").cast("double")
            / (F.col("sum_tokens") + F.col("sum_pad_tokens")).cast("double"),
        )
    )



def _events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (round 12) over the event-type transition
    digraph — the link-authority prior of web-corpus curation, made
    bit-exact by carrying rank mass as integer units (floor products
    and divisions, order-independent integer sums) so the oracle
    replays three full iterations to the unit.  Edges are the distinct
    first-order transitions (lag over each user's time-ordered
    stream); per iteration one source-keyed join and one
    map-side-combined integer sum move only longs."""
    from dbldatagen_spark.functions import pagerank, transition_matrix

    events = _load(spark, sf_dir, "events")
    tm = transition_matrix(
        events, "user_id", "ts", "event_type", order_col="event_id"
    )
    edges = tm.select(
        F.col("from_state").alias("s"), F.col("to_state").alias("d")
    )
    return pagerank(edges, "s", "d", iterations=3)


def _web_host_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph authority composition (round 13): the Common
    Crawl-style host-rank prior end-to-end — page-level URLs (built
    deterministically from event columns, with scheme/www/port/
    tracking-param noise the canonicalizer must strip) collapse into
    a host-level WEIGHTED edge frame (weight = link multiplicity) and
    rank through the bit-exact weighted fixed-point pagerank.  This
    promotes the weighted arm to oracle coverage: the oracle derives
    the hosts from first principles of the fixture construction
    (independent truth, not URL parsing) and replays three weighted
    iterations with the exact two-term floor(damped*w/W) split to
    the unit.  Self-links drop; only (host, host, long) rows shuffle."""
    from dbldatagen_spark.functions import host_authority

    events = _load(spark, sf_dir, "events")
    links = events.where(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    ).select(
        F.concat(
            F.when(
                F.pmod(F.col("event_id"), F.lit(2)) == 0,
                F.lit("https://www."),
            ).otherwise(F.lit("HTTP://")),
            F.lit("h"),
            F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
            F.lit(".example.com"),
            F.when(
                F.pmod(F.col("event_id"), F.lit(3)) == 0, F.lit(":443")
            ).otherwise(F.lit("")),
            F.lit("/p/"),
            F.pmod(F.col("user_id"), F.lit(13)).cast("string"),
            F.lit("/?utm_source=reg&ref="),
            F.pmod(F.col("event_id"), F.lit(7)).cast("string"),
        ).alias("src_url"),
        F.concat(
            F.lit("http://h"),
            F.pmod(F.col("event_id"), F.lit(7)).cast("string"),
            F.lit(".example.com:80/t/"),
            F.pmod(F.col("event_id"), F.lit(11)).cast("string"),
            F.lit("/"),
        ).alias("dst_url"),
    )
    return host_authority(
        links, "src_url", "dst_url", iterations=3
    )


def _web_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text profile (round 13): per-target-host anchor
    aggregation — in-links, distinct referring hosts, unique
    normalized anchors, and the deterministic top anchor (count
    desc, anchor asc).  The fixture plants every contract corner:
    mixed-case/whitespace anchors that must normalize together
    ("  AnChOr  2 " -> "anchor 2"), blank anchors (eid%5==0,
    dropped), unparseable source URLs (eid%11==0, dropped), and
    self-links (eid%7==0 points at the source's own host, dropped).
    The oracle derives hosts and normalized anchors from fixture
    FIRST PRINCIPLES — arithmetic on the event columns, not URL
    parsing — and replays every count plus the ROW_NUMBER argmin."""
    from dbldatagen_spark.functions import anchor_text_profile

    events = _load(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    links = events.where(uid.isNotNull() & eid.isNotNull()).select(
        F.when(
            F.pmod(eid, F.lit(11)) == 0, F.lit("::bad::")
        ).otherwise(
            F.concat(
                F.lit("https://www.s"),
                F.pmod(uid, F.lit(4)).cast("string"),
                F.lit(".example.com/p/"),
                eid.cast("string"),
            )
        ).alias("src_url"),
        F.when(
            F.pmod(eid, F.lit(7)) == 0,
            F.concat(
                F.lit("http://s"),
                F.pmod(uid, F.lit(4)).cast("string"),
                F.lit(".example.com/self"),
            ),
        ).otherwise(
            F.concat(
                F.lit("HTTP://D"),
                F.pmod(eid, F.lit(3)).cast("string"),
                F.lit(".Example.ORG:80/t/"),
                uid.cast("string"),
            )
        ).alias("dst_url"),
        F.when(F.pmod(eid, F.lit(5)) == 0, F.lit("   ")).otherwise(
            F.concat(
                F.lit("  AnChOr  "),
                F.pmod(eid, F.lit(4)).cast("string"),
                F.lit(" "),
            )
        ).alias("anchor"),
    )
    return anchor_text_profile(
        links, "src_url", "dst_url", "anchor"
    )


def _web_domain_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level host authority (round 14): promotes the
    ``level="domain"`` arm AND the new ``suffix_list`` parameter to
    oracle coverage.  The fixture plants multi-label hosts across
    second-level public suffixes the built-in subset lacks
    (``s{u%3}.shop{u%2}.com.pl``) and a THREE-label suffix
    (``w{e%2}.uni{e%3}.act.edu.au`` — longest-match must claim four
    labels), with scheme/www/case/port noise on the URLs; every
    ``event_id % 5 == 0`` link targets a DIFFERENT host of the
    source's own registrable domain, so it survives host-level
    dedup but must drop as a domain-level self-link — the collapse
    itself is what separates the levels.  ``event_id % 13 == 0``
    sources are unparseable (dropped).  The oracle derives the
    registrable domains from fixture FIRST PRINCIPLES (arithmetic on
    the event columns, no URL parsing, no suffix table) and replays
    three weighted fixed-point iterations with the exact two-term
    floor(damped*w/W) split to the unit."""
    from dbldatagen_spark.functions import host_authority

    events = _load(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    links = events.where(uid.isNotNull() & eid.isNotNull()).select(
        F.when(F.pmod(eid, F.lit(13)) == 0, F.lit("::bad::")).otherwise(
            F.concat(
                F.when(
                    F.pmod(eid, F.lit(2)) == 0, F.lit("https://www.")
                ).otherwise(F.lit("HTTP://")),
                F.lit("s"),
                F.pmod(uid, F.lit(3)).cast("string"),
                F.lit(".shop"),
                F.pmod(uid, F.lit(2)).cast("string"),
                F.lit(".com.pl"),
                F.when(
                    F.pmod(eid, F.lit(3)) == 0, F.lit(":443")
                ).otherwise(F.lit("")),
                F.lit("/p/"),
                F.pmod(eid, F.lit(7)).cast("string"),
            )
        ).alias("src_url"),
        F.when(
            F.pmod(eid, F.lit(5)) == 0,
            F.concat(
                F.lit("http://x.shop"),
                F.pmod(uid, F.lit(2)).cast("string"),
                F.lit(".com.pl/self"),
            ),
        ).otherwise(
            F.concat(
                F.lit("HTTP://W"),
                F.pmod(eid, F.lit(2)).cast("string"),
                F.lit(".Uni"),
                F.pmod(eid, F.lit(3)).cast("string"),
                F.lit(".ACT.edu.au:80/t/"),
                F.pmod(uid, F.lit(11)).cast("string"),
            )
        ).alias("dst_url"),
    )
    return host_authority(
        links, "src_url", "dst_url", level="domain", iterations=3,
        suffix_list=["com.pl", "act.edu.au"],
    )


def _docs_authority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority-weighted sampling (round 14): host_authority's ranks
    CONSUMED as a sampling prior end-to-end — the web_host_authority
    link fixture ranks hosts h0..h6 (weighted 3-iteration fixed
    point), documents get deterministic URLs over hosts h0..h8 (h7/h8
    unranked -> floor rate; every 17th URL unparseable -> NULL node,
    floor rate), and each document keeps at base_ppm + (span *
    rank_units) div max(rank_units) per million via the md5 id-hash
    bucket.  The oracle replays EVERYTHING: the three weighted
    pagerank iterations from fixture first principles, the rank join,
    the integer keep-rate interpolation, and the md5 keep decision."""
    from dbldatagen_spark.functions import (
        authority_weighted_sample, host_authority,
    )

    events = _load(spark, sf_dir, "events")
    links = events.where(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    ).select(
        F.concat(
            F.lit("https://www.h"),
            F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
            F.lit(".example.com/p/"),
            F.pmod(F.col("event_id"), F.lit(13)).cast("string"),
        ).alias("src_url"),
        F.concat(
            F.lit("http://h"),
            F.pmod(F.col("event_id"), F.lit(7)).cast("string"),
            F.lit(".example.com:80/t/"),
            F.pmod(F.col("event_id"), F.lit(11)).cast("string"),
        ).alias("dst_url"),
    )
    auth = host_authority(links, "src_url", "dst_url", iterations=3)
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(17)) == 0, F.lit("::bad::")
        ).otherwise(
            F.concat(
                F.lit("https://www.h"),
                F.pmod(F.col("doc_id"), F.lit(9)).cast("string"),
                F.lit(".example.com/d/"),
                F.col("doc_id").cast("string"),
            )
        ).alias("url"),
    )
    return authority_weighted_sample(
        docs, "doc_id", "url", auth,
        base_ppm=200_000, max_ppm=1_000_000, seed=7, hash_mode="md5",
    ).select(
        "doc_id", "auth_node", "auth_rank_units",
        "auth_keep_ppm", "auth_keep",
    )


def _corpus_fertility_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility-driven re-mixing (round 14): the tokenizer_fertility
    equity report DRIVING temperature_token_allocation — temperature
    share over WORD mass (sqrt at alpha 0.5) scaled by each
    language's MEASURED tokens-per-word, so equal shares buy equal
    words seen rather than equal tokens burned, with the 1M-token
    budget split exactly by the largest-remainder rule.  The oracle
    replays the full chain: the BPE encode word/token counts under
    the 8-merge table, the one fixed-form raw mass sqrt(n_words) *
    (n_tokens / n_words), the key-ordered IEEE normalizing fold, and
    the floor/frac/rank arithmetic."""
    from dbldatagen_spark.functions import fertility_token_allocation

    docs = _load(spark, sf_dir, "documents")
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
              ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e")]
    return fertility_token_allocation(
        docs, "lang", "text", merges, alpha=0.5,
        target_tokens=1_000_000,
    )


def _docs_snapshot_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot novelty (round 14): the current crawl scored
    against the PRIOR snapshot at gram granularity — prior = the full
    documents table, current = every 3rd doc unchanged (seen_ratio
    must be exactly 1.0: pure re-crawl) plus planted FRESH pages
    (ids + 10^7, six digit-bearing words — no document text contains
    a digit, so their grams are provably absent from the prior and
    seen_ratio must be exactly 0.0) plus RE-SKINS (ids + 2*10^7:
    prior text with a digit-bearing tail appended — the original
    grams stay seen, the tail grams cannot be).  The oracle replays
    with raw gram strings across both frames."""
    from dbldatagen_spark.functions import cross_snapshot_novelty

    docs = _load(spark, sf_dir, "documents")
    prior = docs.select("doc_id", "text")
    fresh_words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"q{j}z"), F.col("doc_id").cast("string")
            )
            for j in range(6)
        ],
    )
    current = (
        docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 1).select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                fresh_words.alias("text"),
            )
        )
        .unionByName(
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 2).select(
                (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" "), fresh_words
                ).alias("text"),
            )
        )
    )
    return cross_snapshot_novelty(
        current, prior, "doc_id", "text", n=5
    )


def _docs_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split (round 14): train/val/test assignment where
    near-duplicate cluster-mates always co-locate.  The fixture
    plants 3-CHAINS — for every doc_id % 7 == 0, twins at id + 10^6
    and id + 2*10^6 with pairs (d, d+10^6) and (d+10^6, d+2*10^6):
    the chain ends are never paired directly, so transitive component
    collapse is what the oracle replays (representative = the
    arithmetic base id), then the md5 bucket of the REPRESENTATIVE
    decides the split for all three.  Singleton docs hash their own
    id — exactly the split_assign label."""
    from dbldatagen_spark.functions import cluster_aware_split

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    m = docs.where(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    corpus = (
        docs.unionByName(
            m.select((F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"))
        ).unionByName(
            m.select((F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"))
        )
    )
    pairs = m.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(1_000_000)).alias("id_b"),
    ).unionByName(
        m.select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("id_a"),
            (F.col("doc_id") + F.lit(2_000_000)).alias("id_b"),
        )
    )
    return cluster_aware_split(
        corpus, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
        pairs, seed=42, hash_mode="md5",
    )


def _docs_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration table (round 14): the FineWeb-Edu-style
    precision/volume sweep over a labeled sample — 8 equal-width
    score bins over the document length (range auto-detected from
    the data), label = doc_id % 3 == 0, per-bin exact counts and one
    fixed-form precision division, plus the gapless
    cumulative-from-the-top view a curator reads to pick the keep
    threshold.  The oracle replays the range detection, the IEEE bin
    arithmetic, the full bin spectrum incl. empty bins, the window
    cumsum, and every division."""
    from dbldatagen_spark.functions import calibration_report

    docs = _load(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("double").alias("score"),
        (F.pmod(F.col("doc_id"), F.lit(3)) == 0).alias("label"),
    )
    return calibration_report(docs, "score", "label", n_bins=8)


def _docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (round 13): difficulty-banded deterministic
    shard layout over document length — 4 histogram-quantile bands
    (score_buckets: no per-group sort, thresholds from 64 fixed bins),
    md5 shard + in-band seeded order, positions dense per (band,
    shard).  The oracle replays the ENTIRE assignment per document:
    histogram bucketing (range, bins, cumulative thresholds), the
    md5 shard/order arithmetic, and the row_number position."""
    from dbldatagen_spark.functions import curriculum_order

    docs = _load(spark, sf_dir, "documents")
    return curriculum_order(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars",
        n_buckets=4, n_bins=64, num_shards=4, seed=42, hash_mode="md5",
    )


def _docs_contamination_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-aware split (round 13): benchmark = docs with
    doc_id % 10 == 7; corpus = the remaining docs PLUS planted
    full-leak twins of every benchmark doc (id + 10^7, the planted-
    twin trick) — so the quarantine path provably fires.  Every
    corpus doc gets its md5-hash train/val/test label unless it
    shares a 5-gram with the benchmark, in which case it is rerouted
    to 'quarantined' with the overlap count as evidence.  The oracle
    replays the full assignment: the n-gram join on raw gram strings
    and the md5 bucket thresholds."""
    from dbldatagen_spark.functions import contamination_aware_split

    docs = _load(spark, sf_dir, "documents")
    is_bench = F.pmod(F.col("doc_id"), F.lit(10)) == 7
    bench = docs.where(is_bench).select("text")
    corpus = (
        docs.where(~is_bench)
        .select("doc_id", "text")
        .unionByName(
            docs.where(is_bench).select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                "text",
            )
        )
    )
    return contamination_aware_split(
        corpus, "doc_id", "text", bench,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        n=5, hash_mode="md5", seed=42,
    ).select("doc_id", "split", "n_shared_ngrams")


def _docs_distribution_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matched subsampling (round 13): flag corpus docs
    so kept rows track a reference length profile — reference = short
    docs (n_chars <= 200) plus every 5th doc, so short-length bins cap
    at rate 1e6 while long bins get intermediate exact ppm rates.
    The oracle replays the ENTIRE integer contract: the union value
    range, the 8 equal-width double bins (same IEEE op order), both
    histograms, the big-int floor rate per bin (HUGEINT in DuckDB,
    Python big-int driver-side in Spark), and the md5 id-hash keep
    decision."""
    from dbldatagen_spark.functions import distribution_matched_sample

    docs = _load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ref = docs.where(
        (F.col("n_chars") <= 200) | (F.col("doc_id") % 5 == 0)
    )
    return distribution_matched_sample(
        docs, "doc_id", "n_chars", ref,
        n_bins=8, seed=42, hash_mode="md5",
    )


def _docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring (round 13): corpus-internal commonness
    per document — the boilerplate / near-copy quality signal.  The
    corpus plants full twins of every 7th doc (id + 10^7), so twin
    pairs provably score common_ratio 1.0 while unique docs depend
    only on the word-soup's natural 5-gram collisions.  The oracle
    replays with RAW gram strings (hash-free independent truth) and
    the same single fixed-form division."""
    from dbldatagen_spark.functions import ngram_novelty

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            "text",
        )
    )
    return ngram_novelty(
        corpus, "doc_id", "text", n=5, df_threshold=2
    )


def _corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-equity report (round 13): per-language BPE fertility
    (tokens per word) and chars-per-token compression under the
    text_bpe_encode merge table — the XLM-R/NLLB multilingual
    fairness metric that temperature mixing and vocabulary
    re-allocation decisions consume.  The encode is map-only literal
    replaces, the report ONE map-side-combined aggregate of (lang,
    three longs); each ratio is one fixed-form IEEE division of
    exact longs, so the oracle replays every cell bit-for-bit."""
    from dbldatagen_spark.functions import tokenizer_fertility

    docs = _load(spark, sf_dir, "documents")
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
              ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e")]
    return tokenizer_fertility(
        docs, "text", merges, group_col="lang"
    )


def _docs_calibrated_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrated keep-threshold filtering (round 15): the
    calibration_report sweep CONSUMED end-to-end — the FineWeb-Edu
    second half.  Labeled sample = every 5th document, score =
    length, label = (doc_id % 600) < n_chars (precision rises with
    score, so a 0.75 target lands mid-sweep, never at an edge bin);
    the lowest 8-bin threshold whose cumulative-from-the-top
    precision reaches 0.75 becomes the corpus keep cutoff.  The
    oracle replays the WHOLE decision: range detection, IEEE bin
    edges, the gapless cumulative sweep, the lowest-qualifying-bin
    argmin, and the per-document keep comparison."""
    from dbldatagen_spark.functions import calibrated_keep

    docs = _load(spark, sf_dir, "documents")
    labeled = docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select(
        F.col("n_chars").cast("double").alias("score"),
        (F.pmod(F.col("doc_id"), F.lit(600)) < F.col("n_chars")).alias(
            "label"
        ),
    )
    corpus = docs.select(
        "doc_id", F.col("n_chars").cast("double").alias("score")
    )
    return calibrated_keep(
        corpus, "score", labeled, 0.75, n_bins=8
    ).select(
        "doc_id", "cal_threshold", "cal_expected_precision",
        "cal_expected_n", "cal_keep",
    )


def _web_domain_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level anchor profile (round 15): the PSL collapse
    applied to the anchor-text signal — the round-14
    web_domain_authority fixture pattern over anchor aggregation.
    Source hosts are subdomains under a second-level public suffix
    the built-in subset lacks (``s{u%3}.shop{u%2}.com.pl``), targets
    sit under a THREE-label suffix (``w{e%2}.uni{e%3}.act.edu.au`` —
    longest-match must claim four labels); every ``event_id % 5 ==
    0`` link targets a DIFFERENT host of the source's own
    registrable domain, surviving host-level self-link dedup but
    dropping at domain level — the collapse is what the oracle
    separates.  Unparseable sources (``eid % 13 == 0``) and blank
    anchors (``eid % 4 == 0``) drop; anchors carry case/whitespace
    noise that must normalize together.  The oracle derives domains
    and anchors from fixture FIRST PRINCIPLES (event-column
    arithmetic, no URL parsing, no suffix table) and replays every
    count plus the (count desc, anchor asc) argmin."""
    from dbldatagen_spark.functions import anchor_text_profile

    events = _load(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    links = events.where(uid.isNotNull() & eid.isNotNull()).select(
        F.when(F.pmod(eid, F.lit(13)) == 0, F.lit("::bad::")).otherwise(
            F.concat(
                F.when(
                    F.pmod(eid, F.lit(2)) == 0, F.lit("https://www.")
                ).otherwise(F.lit("HTTP://")),
                F.lit("s"),
                F.pmod(uid, F.lit(3)).cast("string"),
                F.lit(".shop"),
                F.pmod(uid, F.lit(2)).cast("string"),
                F.lit(".com.pl"),
                F.when(
                    F.pmod(eid, F.lit(3)) == 0, F.lit(":443")
                ).otherwise(F.lit("")),
                F.lit("/p/"),
                F.pmod(eid, F.lit(7)).cast("string"),
            )
        ).alias("src_url"),
        F.when(
            F.pmod(eid, F.lit(5)) == 0,
            F.concat(
                F.lit("http://x.shop"),
                F.pmod(uid, F.lit(2)).cast("string"),
                F.lit(".com.pl/self"),
            ),
        ).otherwise(
            F.concat(
                F.lit("HTTP://W"),
                F.pmod(eid, F.lit(2)).cast("string"),
                F.lit(".Uni"),
                F.pmod(eid, F.lit(3)).cast("string"),
                F.lit(".ACT.edu.au:80/t/"),
                F.pmod(uid, F.lit(11)).cast("string"),
            )
        ).alias("dst_url"),
        F.when(F.pmod(eid, F.lit(4)) == 0, F.lit("   ")).otherwise(
            F.concat(
                F.lit("  LiNk  "),
                F.pmod(uid, F.lit(3)).cast("string"),
                F.lit(" "),
            )
        ).alias("anchor"),
    )
    return anchor_text_profile(
        links, "src_url", "dst_url", "anchor", level="domain",
        suffix_list=["com.pl", "act.edu.au"],
    )


def _docs_authority_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority-prior sampling fused with benchmark-leak quarantine
    (round 15): the two admission gates composed over ONE id-hash
    bucket — the docs_authority_sample rank/keep fixture (weighted
    3-iteration pagerank over h0..h6, floor rate for unranked h7/h8
    and unparseable URLs, md5 keep at base 200k ppm) PLUS the
    planted-twin contamination fixture (benchmark = every
    ``doc_id % 10 == 7`` document; the corpus carries a full-leak
    twin of each at ``id + 10^7``, so quarantine provably fires on
    documents whose host authority says keep).  ``auth_admit`` =
    keep AND clean.  The oracle replays the ENTIRE fused decision:
    the pagerank iterations, the rank join and integer keep-rate
    interpolation, the md5 bucket, the raw-gram 5-gram overlap join,
    and the final AND."""
    from dbldatagen_spark.functions import (
        authority_contamination_sample, host_authority,
    )

    events = _load(spark, sf_dir, "events")
    links = events.where(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    ).select(
        F.concat(
            F.lit("https://www.h"),
            F.pmod(F.col("user_id"), F.lit(5)).cast("string"),
            F.lit(".example.com/p/"),
            F.pmod(F.col("event_id"), F.lit(13)).cast("string"),
        ).alias("src_url"),
        F.concat(
            F.lit("http://h"),
            F.pmod(F.col("event_id"), F.lit(7)).cast("string"),
            F.lit(".example.com:80/t/"),
            F.pmod(F.col("event_id"), F.lit(11)).cast("string"),
        ).alias("dst_url"),
    )
    auth = host_authority(links, "src_url", "dst_url", iterations=3)
    docs = _load(spark, sf_dir, "documents")
    is_bench = F.pmod(F.col("doc_id"), F.lit(10)) == 7
    bench = docs.where(is_bench).select("text")
    corpus = (
        docs.where(~is_bench)
        .select("doc_id", "text")
        .unionByName(
            docs.where(is_bench).select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                "text",
            )
        )
        .withColumn(
            "url",
            F.when(
                F.pmod(F.col("doc_id"), F.lit(17)) == 0, F.lit("::bad::")
            ).otherwise(
                F.concat(
                    F.lit("https://www.h"),
                    F.pmod(F.col("doc_id"), F.lit(9)).cast("string"),
                    F.lit(".example.com/d/"),
                    F.col("doc_id").cast("string"),
                )
            ),
        )
    )
    return authority_contamination_sample(
        corpus, "doc_id", "url", "text", auth, bench,
        n=5, base_ppm=200_000, max_ppm=1_000_000, seed=7,
        hash_mode="md5",
    ).select(
        "doc_id", "auth_node", "auth_rank_units", "auth_keep_ppm",
        "auth_keep", "auth_shared_ngrams", "auth_admit",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry. The driver's correctness gate checks the FIRST 50
    entries, so the leading cohort is chosen to cover every operator
    family; redundant variants of already-covered shapes follow after.

    Round-17 rotation: pure STALEST-FIRST drain.  The round-16 window
    drained green (CORRECTNESS_r16.json: 50/50) and is demoted.  The
    window is exactly the next-window draw order that
    ``python scripts/update_rotation.py`` prints after the r16 draw:
    the remaining 30 r11-stale rows, all 10 r12-stale rows, then the
    first 10 of the 50 r13-stale rows (ledger order within a cohort).
    The window is drawn by the ``_R17_WINDOW`` list below over the
    full registry dict, so the FIRST 50 entries of this function's
    return value ARE the window; the full query -> last-checked-round
    ledger lives in ROTATION.md."""
    _R17_WINDOW = [
        # the remaining 30 r11-stale rows, ledger order
        "events_behavior_vectors",
        "events_stream_stream_join",
        "events_session_features",
        "events_missing_hours",
        "events_rate_limit",
        "text_mojibake",
        "events_ohlc_bars",
        "events_common_paths",
        "events_scd2_validate",
        "events_asof_nearest",
        "events_incremental_agg",
        "events_sequence_gaps",
        "events_zorder_layout",
        "events_span_overlap",
        "events_feature_scaling",
        "docs_contrastive_negatives",
        "docs_token_budget",
        "events_winsorized_stats",
        "events_hourly_windows",
        "events_json_extract",
        "emb_label_centroids",
        "dedup_components",
        "dedup_simhash",
        "text_token_stats",
        "text_fingerprint",
        "text_chunking",
        "text_ngram_counts",
        "text_training_shards",
        "corpus_sketch_stats",
        "events_pivot_daily",
        # all 10 r12-stale rows, ledger order
        "gen_timestamp_cycle",
        "gen_expression",
        "gen_determinism",
        "gen_uuid_conformance",
        "gen_pattern_conformance",
        "gen_weighted_shape",
        "gen_unique_combinations",
        "gen_sales_order_ri",
        "gen_constant_seedfrom",
        "gen_format_prefix",
        # the first 10 r13-stale rows, ledger order
        "web_host_authority",
        "web_anchor_profile",
        "docs_curriculum_order",
        "docs_contamination_split",
        "docs_distribution_match",
        "docs_ngram_novelty",
        "corpus_tokenizer_fertility",
        "events_cube_counts",
        "customers_set_ops",
        "events_unpivot_daily",
    ]
    base = {
        # Full registry (window drawn by _R17_WINDOW above; the
        # remaining entries keep their prior order)
        "docs_calibrated_keep": _docs_calibrated_keep,
        "web_domain_anchor_profile": _web_domain_anchor_profile,
        "docs_authority_quarantine": _docs_authority_quarantine,
        "web_domain_authority": _web_domain_authority,
        "docs_authority_sample": _docs_authority_sample,
        "corpus_fertility_mix": _corpus_fertility_mix,
        "docs_snapshot_novelty": _docs_snapshot_novelty,
        "docs_leakage_split": _docs_leakage_split,
        "docs_score_calibration": _docs_score_calibration,
        "web_host_authority": _web_host_authority,
        "web_anchor_profile": _web_anchor_profile,
        "docs_curriculum_order": _docs_curriculum_order,
        "docs_contamination_split": _docs_contamination_split,
        "docs_distribution_match": _docs_distribution_match,
        "docs_ngram_novelty": _docs_ngram_novelty,
        "corpus_tokenizer_fertility": _corpus_tokenizer_fertility,
        "events_cube_counts": _events_cube_counts,
        "customers_set_ops": _customers_set_ops,
        "events_unpivot_daily": _events_unpivot_daily,
        "corpus_curation": _corpus_curation,
        "sample_deterministic": _sample_deterministic,
        "sample_stratified": _sample_stratified,
        "events_rollup_daily": _events_rollup_daily,
        "events_kmv_distinct": _events_kmv_distinct,
        "events_cms_user_counts": _events_cms_user_counts,
        "gen_weighted_cycle": _gen_weighted_cycle,
        "q12_returnflag_priority": _q12_returnflag_priority,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q4_order_priority": _q4_order_priority,
        "q18_large_orders": _q18_large_orders,
        "q7_nation_volume": _q7_nation_volume,
        "q10_returned_items": _q10_returned_items,
        "gen_constraints": _gen_constraints,
        "gen_template_conformance": _gen_template_conformance,
        "gen_array_features": _gen_array_features,
        "events_sessionize": _events_sessionize,
        "ann_knn_join": _ann_knn_join,
        "gen_sink_roundtrip": _gen_sink_roundtrip,
        "gen_constraint_stream_gate": _gen_constraint_stream_gate,
        "gen_template_expr_conformance": _gen_template_expr_conformance,
        "events_hll_distinct": _events_hll_distinct,
        "docs_priority_sample": _docs_priority_sample,
        "text_bpe_pairs": _text_bpe_pairs,
        "dedup_containment": _dedup_containment,
        "events_interp_resample": _events_interp_resample,
        "events_holt_trend": _events_holt_trend,
        "dedup_containment_sketch": _dedup_containment_sketch,
        "events_streaming_hll_sink": _events_streaming_hll_sink,
        "events_hll_sliding": _events_hll_sliding,
        "gen_iltext_conformance": _gen_iltext_conformance,
        "gen_faker_conformance": _gen_faker_conformance,
        "gen_scripts_conformance": _gen_scripts_conformance,
        "gen_serialization_roundtrip": _gen_serialization_roundtrip,
        "gen_analyzer_codegen_roundtrip": _gen_analyzer_codegen_roundtrip,
        "q1_pricing_summary": _q1_pricing_summary,
        "gen_streaming_conformance": _gen_streaming_conformance,
        "events_asof_join": _events_asof_join,
        "dedup_exact": _dedup_exact,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        # --- demoted (>=1 green driver row; see ROTATION.md ledger) ---
        # (dedup_ngram_jaccard, dedup_cross_corpus and
        # sample_split_assign slid out as the round-13 growth rows
        # entered at birth; they and the remaining r9-stale rows from
        # multimodal_features onward head the r14 draw, with any r14
        # growth rows)
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_cross_corpus": _dedup_cross_corpus,
        "sample_split_assign": _sample_split_assign,
        "multimodal_features": _multimodal_features,
        "corpus_token_budget_mix": _corpus_token_budget_mix,
        "docs_paragraph_dedup": _docs_paragraph_dedup,
        "ann_ivfpq_nprobe_tune": _ann_ivfpq_nprobe_tune,
        "docs_length_batches": _docs_length_batches,
        "events_pagerank": _events_pagerank,
        "events_sliding_windows": _events_sliding_windows,
        "events_value_quantiles": _events_value_quantiles,
        "events_rolling_avg": _events_rolling_avg,
        "events_streaming_behavior": _events_streaming_behavior,
        "events_session_skew_report": _events_session_skew_report,
        "emb_mrl_recall": _emb_mrl_recall,
        "events_sessionize_auto": _events_sessionize_auto,
        "events_streaming_sketch_sinks": _events_streaming_sketch_sinks,
        "emb_pq_codebooks": _emb_pq_codebooks,
        "events_kmv_overlap": _events_kmv_overlap,
        "emb_pq_adc": _emb_pq_adc,
        "q19_discounted_revenue": _q19_discounted_revenue,
        "q2_min_cost_supplier": _q2_min_cost_supplier,
        "q8_market_share": _q8_market_share,
        "q13_customer_distribution": _q13_customer_distribution,
        "q15_top_supplier": _q15_top_supplier,
        "q16_supplier_counts": _q16_supplier_counts,
        "q17_small_quantity_revenue": _q17_small_quantity_revenue,
        "q20_excess_suppliers": _q20_excess_suppliers,
        "q22_global_sales_opportunity": _q22_global_sales_opportunity,
        "gen_struct_json": _gen_struct_json,
        "analyzer_profile": _analyzer_profile,
        "emb_quantization": _emb_quantization,
        "dedup_cluster_canonical": _dedup_cluster_canonical,
        "text_vocabulary": _text_vocabulary,
        "gen_date_cycle": _gen_date_cycle,
        "q14_promo_share": _q14_promo_share,
        "q11_important_parts": _q11_important_parts,
        "events_session_range_join": _events_session_range_join,
        "events_salted_join": _events_salted_join,
        "ann_ivf_topk": _ann_ivf_topk,
        "emb_pca_invariants": _emb_pca_invariants,
        "gen_sequence": _gen_sequence,
        "gen_range_cycle": _gen_range_cycle,
        "gen_values_cycle": _gen_values_cycle,
        "gen_timestamp_cycle": _gen_timestamp_cycle,
        "gen_expression": _gen_expression,
        "gen_determinism": _gen_determinism,
        "gen_uuid_conformance": _gen_uuid_conformance,
        "gen_pattern_conformance": _gen_pattern_conformance,
        "gen_weighted_shape": _gen_weighted_shape,
        "gen_unique_combinations": _gen_unique_combinations,
        "gen_sales_order_ri": _gen_sales_order_ri,
        "gen_constant_seedfrom": _gen_constant_seedfrom,
        "gen_format_prefix": _gen_format_prefix,
        "ann_ivfpq_persisted": _ann_ivfpq_persisted,
        "docs_substring_dedup": _docs_substring_dedup,
        "corpus_language_routing": _corpus_language_routing,
        "text_quality_classifier": _text_quality_classifier,
        "corpus_temperature_mix": _corpus_temperature_mix,
        "docs_quality_buckets": _docs_quality_buckets,
        "dedup_keep_best": _dedup_keep_best,
        "events_funnel": _events_funnel,
        "events_cohort_retention": _events_cohort_retention,
        "events_transition_matrix": _events_transition_matrix,
        "events_seasonal_anomalies": _events_seasonal_anomalies,
        "privacy_dp_counts": _privacy_dp_counts,
        "lineitem_expectations": _lineitem_expectations,
        "events_psi_drift": _events_psi_drift,
        "customers_rfm_segments": _customers_rfm_segments,
        "customers_checksum": _customers_checksum,
        "lineitem_benford": _lineitem_benford,
        "docs_weighted_sample": _docs_weighted_sample,
        "docs_source_quota": _docs_source_quota,
        "emb_mrl_truncation": _emb_mrl_truncation,
        "events_behavior_vectors": _events_behavior_vectors,
        "events_stream_stream_join": _events_stream_stream_join,
        "events_session_features": _events_session_features,
        "events_missing_hours": _events_missing_hours,
        "events_rate_limit": _events_rate_limit,
        "text_mojibake": _text_mojibake,
        "events_ohlc_bars": _events_ohlc_bars,
        "events_common_paths": _events_common_paths,
        "events_scd2_validate": _events_scd2_validate,
        "events_asof_nearest": _events_asof_nearest,
        "events_incremental_agg": _events_incremental_agg,
        "events_sequence_gaps": _events_sequence_gaps,
        "events_zorder_layout": _events_zorder_layout,
        "events_span_overlap": _events_span_overlap,
        "events_feature_scaling": _events_feature_scaling,
        "docs_contrastive_negatives": _docs_contrastive_negatives,
        "docs_token_budget": _docs_token_budget,
        "events_winsorized_stats": _events_winsorized_stats,
        "events_hourly_windows": _events_hourly_windows,
        "events_json_extract": _events_json_extract,
        "emb_label_centroids": _emb_label_centroids,
        "dedup_components": _dedup_components,
        "dedup_simhash": _dedup_simhash,
        "text_token_stats": _text_token_stats,
        "text_fingerprint": _text_fingerprint,
        "text_chunking": _text_chunking,
        "text_ngram_counts": _text_ngram_counts,
        "text_training_shards": _text_training_shards,
        "corpus_sketch_stats": _corpus_sketch_stats,
        "events_pivot_daily": _events_pivot_daily,
        "ann_ivf_pq": _ann_ivf_pq,
        "dedup_lsh_tuned": _dedup_lsh_tuned,
        "text_url_canonical": _text_url_canonical,
        "docs_jaccard_search": _docs_jaccard_search,
        "text_bpe_encode": _text_bpe_encode,
        "layout_file_rows": _layout_file_rows,
        "text_script_profile": _text_script_profile,
        "json_flatten_conformance": _json_flatten_conformance,
        "corpus_mix_epochs": _corpus_mix_epochs,
        "corpus_pack_sequences": _corpus_pack_sequences,
        "corpus_length_histogram": _corpus_length_histogram,
        "q9_product_profit": _q9_product_profit,
        "q21_waiting_supplier": _q21_waiting_supplier,
        "dedup_embedding_cosine": _dedup_embedding_cosine,
        "gen_distribution_shapes": _gen_distribution_shapes,
        "gen_null_fraction": _gen_null_fraction,
        "gen_unique_temporal": _gen_unique_temporal,
        "gen_fk_integrity": _gen_fk_integrity,
        "gen_copula_conformance": _gen_copula_conformance,
        "gen_markov_conformance": _gen_markov_conformance,
        "gen_stock_ticker_conformance": _gen_stock_ticker_conformance,
        "q3_top_revenue": _q3_top_unshipped,
        "q5_region_revenue": _q5_region_revenue,
        "events_scd2_intervals": _events_scd2_intervals,
        "events_scd2_lookup": _events_scd2_lookup,
        "events_cdc_apply": _events_cdc_apply,
        "customers_derive_cdc": _customers_derive_cdc,
        "events_streaming_cdc": _events_streaming_cdc,
        "events_watermark_dedup": _events_watermark_dedup,
        "events_watermark_late_counts": _events_watermark_late_counts,
        "events_stream_stream_left_join": _events_stream_stream_left_join,
        "events_stream_static_join": _events_stream_static_join,
        "ann_kmeans_ivf": _ann_kmeans_ivf,
        "ann_lsh_recall": _ann_lsh_recall,
        "ann_cosine_topk": _ann_cosine_topk,
        "text_tfidf": _text_tfidf,
        "text_bm25_search": _text_bm25_search,
        "docs_hybrid_ranking": _docs_hybrid_ranking,
        "events_ewma": _events_ewma,
        "events_cusum_flags": _events_cusum_flags,
        "events_cms_heavy_hitters": _events_cms_heavy_hitters,
        "events_cms_join_size": _events_cms_join_size,
        "events_histogram_quantiles": _events_histogram_quantiles,
        "events_kmv_daily_merge": _events_kmv_daily_merge,
        "events_trajectory_similarity": _events_trajectory_similarity,
        "events_autocorrelation": _events_autocorrelation,
        "lineitem_bloom_prefilter": _lineitem_bloom_prefilter,
        "multimodal_image_near_dup": _multimodal_image_near_dup,
        "multimodal_audio_near_dup": _multimodal_audio_near_dup,
        "multimodal_video_near_dup": _multimodal_video_near_dup,
        "multimodal_ppm_decode": _multimodal_ppm_decode,
        "multimodal_type_sniffing": _multimodal_type_sniffing,
        "text_quality": _text_quality,
        "text_langid": _text_langid,
        "text_contamination": _text_contamination,
        "text_pii_redaction": _text_pii_redaction,
        "text_normalize": _text_normalize,
        "text_dedup_lines": _text_dedup_lines,
        "text_entropy": _text_entropy,
        "text_repetition": _text_repetition,
        "text_boilerplate_strip": _text_boilerplate_strip,
        "events_streaming_sessions": _events_streaming_sessions,
        "docs_streaming_dedup": _docs_streaming_dedup,
        "events_capped_sessions": _events_capped_sessions,
        "multimodal_ppm_resize": _multimodal_ppm_resize,
        "multimodal_wav_decode": _multimodal_wav_decode,
        "multimodal_video_frames": _multimodal_video_frames,
        "text_charlm_quality": _text_charlm_quality,
        "text_dup_spans": _text_dup_spans,
        "text_gopher_flags": _text_gopher_flags,
        "text_dsir_importance": _text_dsir_importance,
        "dedup_semantic": _dedup_semantic,
        "dedup_fuzzy_records": _dedup_fuzzy_records,
        "dedup_incremental": _dedup_incremental,
        "events_gap_fill": _events_gap_fill,
        "privacy_k_anonymity": _privacy_k_anonymity,
        "events_hot_keys": _events_hot_keys,
    }
    out = {name: base[name] for name in _R17_WINDOW}
    out.update(base)  # remaining entries keep their prior order
    return out


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_base()
    # composite: language + quality + canonical-only dedup, built from the
    # already-verified langid/quality/jaccard-component oracle fragments
    d["corpus_curation"] = f"""
        WITH RECURSIVE
        pairs AS (SELECT id_a, id_b FROM ({_NGRAM_JACCARD_ORACLE})),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(v, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.v
        ),
        comp AS (SELECT v, MIN(lbl) AS component FROM reach GROUP BY v),
        noncanon AS (SELECT v AS doc_id FROM comp WHERE v != component),
        lang AS (SELECT doc_id, detected_lang FROM ({d['text_langid']})),
        qual AS (SELECT doc_id, quality_score FROM ({d['text_quality']}))
        SELECT l.doc_id, l.detected_lang, q.quality_score
        FROM lang l JOIN qual q USING (doc_id)
        WHERE l.detected_lang = 'en' AND q.quality_score >= 0.5
          AND l.doc_id NOT IN (SELECT doc_id FROM noncanon)
        ORDER BY doc_id
    """
    return d


def _pii_oracle_sql() -> str:
    """DuckDB oracle for ``text_pii_redaction``, generated from the same
    ``PII_PATTERNS`` table the Spark side uses so the two can never drift.
    The patterns stay inside the Java/RE2-common regex subset."""
    from dbldatagen_spark.functions.pii import PII_PATTERNS

    redacted = "text"
    counts = []
    for kind, (pattern, token) in PII_PATTERNS.items():
        p = pattern.replace("'", "''")
        redacted = f"regexp_replace({redacted}, '{p}', '{token}', 'g')"
        counts.append(
            f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{kind}"
        )
    return (
        f"SELECT doc_id, {redacted} AS redacted, "
        + ", ".join(counts)
        + " FROM documents ORDER BY doc_id"
    )


def _normalize_oracle_sql() -> str:
    """DuckDB oracle for ``text_normalize``, generated from the library's
    own pattern/translate constants so the engines cannot drift (same
    approach as :func:`_pii_oracle_sql`)."""
    from dbldatagen_spark.functions.curation import (
        CONTROL_CHARS_PATTERN,
        NORMALIZE_TRANSLATE_DST,
        NORMALIZE_TRANSLATE_SRC,
        WHITESPACE_RUN_PATTERN,
    )

    def q(s: str) -> str:
        return s.replace("'", "''")

    t = f"regexp_replace(text, '{q(CONTROL_CHARS_PATTERN)}', '', 'g')"
    t = (
        f"translate({t}, '{q(NORMALIZE_TRANSLATE_SRC)}', "
        f"'{q(NORMALIZE_TRANSLATE_DST)}')"
    )
    t = f"regexp_replace({t}, '…', '...', 'g')"
    t = f"regexp_replace({t}, '{q(WHITESPACE_RUN_PATTERN)}', ' ', 'g')"
    t = f"regexp_replace({t}, ' ?\\n ?', chr(10), 'g')"
    t = f"trim({t})"
    return (
        f"SELECT doc_id, {t} AS normalized_text, "
        "CAST(length(text) AS BIGINT) AS n_chars_before, "
        f"CAST(length({t}) AS BIGINT) AS n_chars_after "
        "FROM documents ORDER BY doc_id"
    )


_DEDUP_LINES_ORACLE = """
    WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
    l0 AS (
        SELECT doc_id,
               [{'pos': i - 1, 'line': ls[i]} for i in generate_series(1, len(ls))]
               AS items
        FROM t
    ),
    l AS (SELECT doc_id, unnest(items, recursive := true) FROM l0),
    k AS (SELECT doc_id, pos, line, trim(line) AS key FROM l),
    nb AS (
        SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
        FROM k WHERE key != ''
    ),
    keep AS (
        SELECT doc_id, pos, line FROM nb WHERE rn = 1
        UNION ALL
        SELECT doc_id, pos, line FROM k WHERE key = ''
    ),
    reb AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS deduped_text,
               count(*) AS kept
        FROM keep GROUP BY 1
    ),
    tot AS (SELECT doc_id, count(*) AS total FROM l GROUP BY 1)
    SELECT tot.doc_id, coalesce(reb.deduped_text, '') AS deduped_text,
           CAST(tot.total - coalesce(reb.kept, 0) AS BIGINT) AS n_lines_removed
    FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id
"""

def _charlm_sql(fit_where: str = "") -> str:
    """Char-bigram LM scoring as DuckDB SQL: fit an add-0.5-smoothed
    bigram model on ``documents`` (optionally restricted by
    ``fit_where``), score EVERY document. Mirrors
    ``functions/text_analysis.py charlm_score`` term for term, including
    the sorted-fold float sum."""
    return f"""
        WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
        ft AS (SELECT lower(text) AS s FROM documents {fit_where}),
        fbg AS (
            SELECT unnest([substr(s, i, 2) FOR i IN range(1, length(s))]) AS bg
            FROM ft
        ),
        pairs AS (
            SELECT bg, CAST(COUNT(*) AS DOUBLE) AS nb FROM fbg GROUP BY bg
        ),
        ctx AS (
            SELECT substr(bg, 1, 1) AS c1, SUM(nb) AS nc FROM pairs GROUP BY 1
        ),
        v AS (
            SELECT CAST(COUNT(DISTINCT substr(bg, 2, 1)) AS DOUBLE) AS v
            FROM pairs
        ),
        lp AS (
            SELECT bg, log2((nb + 0.5) / (nc + 0.5 * v)) AS lp
            FROM pairs JOIN ctx ON substr(pairs.bg, 1, 1) = ctx.c1 CROSS JOIN v
        ),
        clp AS (
            SELECT c1, log2(0.5 / (nc + 0.5 * v)) AS clp FROM ctx CROSS JOIN v
        ),
        sbg AS (
            SELECT doc_id,
                   unnest([substr(s, i, 2) FOR i IN range(1, length(s))]) AS bg
            FROM t
        ),
        scored AS (
            SELECT sbg.doc_id,
                   COALESCE(lp.lp, clp.clp, d.dflt) AS x
            FROM sbg
            LEFT JOIN lp ON sbg.bg = lp.bg
            LEFT JOIN clp ON substr(sbg.bg, 1, 1) = clp.c1
            CROSS JOIN (SELECT -log2(v) AS dflt FROM v) d
        ),
        agg AS (
            SELECT doc_id, list_sort(list(x)) AS xs FROM scored GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(greatest(length(t.s) - 1, 0) AS BIGINT) AS n_bigrams,
               CASE WHEN length(t.s) >= 2
                    THEN round(-list_sum(agg.xs) / (length(t.s) - 1), 4)
               END AS bits_per_char
        FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    """


_ENTROPY_ORACLE = r"""
    WITH tok AS (
        SELECT doc_id, t AS tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
            FROM documents
        ) WHERE t != ''
    ),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    d AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct_tokens,
               list_sort(list(CAST(c AS DOUBLE))) AS cs
        FROM c GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_distinct_tokens,
           round(log2(CAST(n_tokens AS DOUBLE))
                 - list_sum([x * log2(x) FOR x IN cs]) / n_tokens,
                 4) AS entropy_bits
    FROM d ORDER BY doc_id
"""


def _oracle_sql_base() -> dict[str, str]:
    return {
        "gen_sequence": f"SELECT 100 + range * 3 AS seq_val FROM range({_GEN_ROWS}) ORDER BY seq_val",
        "gen_range_cycle": (
            f"SELECT range AS row_id, CAST(100 + range % 101 AS INTEGER) AS code "
            f"FROM range({_GEN_ROWS}) ORDER BY row_id"
        ),
        "gen_values_cycle": (
            f"SELECT range AS row_id, (['alpha','beta','gamma','delta'])[CAST(range % 4 AS INTEGER) + 1] AS val "
            f"FROM range({_GEN_ROWS}) ORDER BY row_id"
        ),
        "gen_date_cycle": (
            f"SELECT range AS row_id, "
            f"CAST(DATE '2020-01-01' + CAST(range % 366 AS INTEGER) AS VARCHAR) AS d "
            f"FROM range({_GEN_ROWS}) ORDER BY row_id"
        ),
        "gen_timestamp_cycle": (
            f"SELECT range AS row_id, TIMESTAMP '2022-01-01 00:00:00' + "
            f"INTERVAL 1 HOUR * CAST(range % 8760 AS INTEGER) AS ts "
            f"FROM range({_GEN_ROWS}) ORDER BY row_id"
        ),
        "gen_expression": (
            f"SELECT range AS n, range * 2 AS doubled, "
            f"CASE WHEN range % 2 = 0 THEN 'even' ELSE 'odd' END AS parity "
            f"FROM range({_GEN_ROWS}) ORDER BY n"
        ),
        "gen_fk_integrity": "SELECT CAST(0 AS BIGINT) AS violations",
        "gen_determinism": "SELECT CAST(0 AS BIGINT) AS mismatches",
        "gen_uuid_conformance": (
            f"SELECT CAST({_GEN_ROWS} AS BIGINT) AS well_formed, "
            f"CAST({_GEN_ROWS} AS BIGINT) AS distinct_count"
        ),
        "gen_pattern_conformance": f"SELECT CAST({_GEN_ROWS} AS BIGINT) AS well_formed",
        "gen_iltext_conformance": (
            f"SELECT CAST({_GEN_ROWS} AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS rows_with_foreign_words, "
            "CAST(0 AS BIGINT) AS rows_out_of_bounds, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "gen_faker_conformance": (
            f"SELECT CAST({_GEN_ROWS} AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS values_outside_pool, "
            "true AS distinct_within_pool, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "gen_sink_roundtrip": (
            f"SELECT CAST({_GEN_ROWS} AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS readback_mismatches, "
            "true AS view_ok"
        ),
        "gen_streaming_conformance": (
            "SELECT true AS enough_rows, "
            "CAST(0 AS BIGINT) AS stream_batch_mismatches"
        ),
        "gen_constraint_stream_gate": (
            "SELECT true AS gate_raised, true AS streaming_safe_ok, "
            "CAST(0 AS BIGINT) AS duplicate_combos"
        ),
        "gen_analyzer_codegen_roundtrip": (
            "SELECT true AS schema_match, true AS rows_match, "
            "CAST(0 AS BIGINT) AS out_of_bounds, "
            "CAST(0 AS BIGINT) AS foreign_regions"
        ),
        "gen_template_expr_conformance": (
            f"SELECT CAST({_GEN_ROWS} AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS phone_malformed, "
            "CAST(0 AS BIGINT) AS alt_malformed, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "multimodal_ppm_decode": (
            "SELECT CAST(500 AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS bad_dims, "
            "CAST(0 AS BIGINT) AS out_of_range, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "multimodal_image_near_dup": (
            "SELECT CAST(60 AS BIGINT) AS n_pairs, "
            "CAST(60 AS BIGINT) AS n_planted, "
            "CAST(0 AS BIGINT) AS max_hamming, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "multimodal_audio_near_dup": (
            "SELECT CAST(64 AS BIGINT) AS n_pairs, "
            "CAST(60 AS BIGINT) AS n_planted, "
            "CAST(2 AS BIGINT) AS max_hamming, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "multimodal_video_near_dup": (
            "SELECT CAST(60 AS BIGINT) AS n_pairs, "
            "CAST(60 AS BIGINT) AS n_planted, "
            "CAST(0 AS BIGINT) AS max_hamming, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "gen_copula_conformance": (
            "SELECT CAST(40000 AS BIGINT) AS n_rows, "
            "TRUE AS corr_on_target, "
            "TRUE AS marginals_standard, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "gen_markov_conformance": (
            "SELECT TRUE AS transitions_on_target, "
            "CAST(9 AS BIGINT) AS n_cells, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "dedup_cross_corpus": """
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ),
            sh0 AS (
                SELECT doc_id,
                       list_distinct([concat_ws(' ', w[i], w[i+1], w[i+2])
                                      for i in generate_series(1, greatest(len(w)-2, 1))]) AS shingles
                FROM t
            ),
            sh AS (SELECT doc_id, unnest(shingles) AS s FROM sh0),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            pair AS (
                SELECT q.doc_id AS query_id, c.doc_id AS corpus_id,
                       count(*) AS inter
                FROM sh q JOIN sh c ON q.s = c.s
                WHERE q.doc_id >= 250 AND c.doc_id < 250
                GROUP BY 1, 2
            )
            SELECT query_id, corpus_id,
                   ROUND(inter::DOUBLE / (s1.n + s2.n - inter), 4) AS jaccard
            FROM pair
            JOIN sz s1 ON query_id = s1.doc_id
            JOIN sz s2 ON corpus_id = s2.doc_id
            WHERE ROUND(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5
            ORDER BY query_id, corpus_id
        """,
        "text_pii_redaction": _pii_oracle_sql(),
        "text_normalize": _normalize_oracle_sql(),
        "multimodal_type_sniffing": (
            "SELECT CAST(68 AS BIGINT) AS n_rows, true AS flags_exact, "
            "true AS unknown_exact, true AS nulls_exact, "
            "CAST(0 AS BIGINT) AS n_wrong_detections"
        ),
        "multimodal_ppm_resize": (
            "SELECT CAST(500 AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS inexact, CAST(0 AS BIGINT) AS mismatches"
        ),
        "multimodal_wav_decode": (
            "SELECT CAST(500 AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS bad_dims, CAST(0 AS BIGINT) AS out_of_range, "
            "CAST(0 AS BIGINT) AS mismatches"
        ),
        "multimodal_video_frames": (
            "SELECT CAST(300 AS BIGINT) AS n_videos, "
            "CAST(0 AS BIGINT) AS bad_counts, "
            "CAST(0 AS BIGINT) AS ramp_violations, "
            "CAST(0 AS BIGINT) AS bad_dims, CAST(0 AS BIGINT) AS mismatches"
        ),
        "text_dedup_lines": _DEDUP_LINES_ORACLE,
        "text_entropy": _ENTROPY_ORACLE,
        "text_boilerplate_strip": r"""
            WITH split_docs AS (
                SELECT doc_id, string_split(text, chr(10)) AS l FROM documents
            ),
            lines AS (
                SELECT doc_id, i.i AS pos, l[i.i] AS line, trim(l[i.i]) AS key
                FROM split_docs, UNNEST(generate_series(1, len(l))) AS i(i)
            ),
            nd AS (SELECT COUNT(*) AS n_docs FROM documents),
            per AS (
                SELECT key, COUNT(DISTINCT doc_id) AS dwl
                FROM lines WHERE key <> '' GROUP BY key
            ),
            bp AS (
                SELECT key FROM per, nd
                WHERE dwl >= GREATEST(2, CAST(CEIL(0.05 * n_docs) AS INT))
            ),
            kept AS (
                SELECT doc_id, pos, line FROM lines
                WHERE key NOT IN (SELECT key FROM bp)
            ),
            rebuilt AS (
                SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned_text,
                       COUNT(*) AS n_kept
                FROM kept GROUP BY doc_id
            ),
            totals AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id)
            SELECT t.doc_id, COALESCE(r.cleaned_text, '') AS cleaned_text,
                   CAST(t.n_total - COALESCE(r.n_kept, 0) AS BIGINT) AS n_lines_removed
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY doc_id
        """,
        "text_repetition": r"""
            WITH parts AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                                   x -> x <> '') AS lines,
                       list_filter(list_transform(string_split_regex(text, '\n\n+'), x -> trim(x)),
                                   x -> x <> '') AS paras,
                       string_split_regex(trim(lower(text)), '\s+') AS toks
                FROM documents
            ),
            base AS (
                SELECT doc_id,
                       CASE WHEN len(lines) <= 0 THEN 0.0
                            ELSE 1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE)
                       END AS dup_line_fraction,
                       CASE WHEN len(paras) <= 0 THEN 0.0
                            ELSE 1.0 - len(list_distinct(paras)) / CAST(len(paras) AS DOUBLE)
                       END AS dup_paragraph_fraction,
                       toks
                FROM parts
            ),
            grams AS (
                SELECT doc_id, toks[i.i] || ' ' || toks[i.i + 1] AS g
                FROM base, UNNEST(generate_series(1, len(toks) - 1)) AS i(i)
                WHERE len(toks) >= 2
            ),
            counts AS (SELECT doc_id, g, COUNT(*) AS n FROM grams GROUP BY 1, 2),
            shares AS (
                SELECT doc_id, MAX(n) / CAST(SUM(n) AS DOUBLE) AS s
                FROM counts GROUP BY 1
            )
            SELECT b.doc_id, b.dup_line_fraction, b.dup_paragraph_fraction,
                   COALESCE(s.s, 0.0) AS top_bigram_share
            FROM base b LEFT JOIN shares s USING (doc_id)
            ORDER BY doc_id
        """,
        "gen_null_fraction": "SELECT true AS within_tolerance",
        "gen_weighted_shape": "SELECT true AS within_tolerance",
        "gen_distribution_shapes": (
            "SELECT true AS normal_centered, true AS beta_mean_ok, "
            "true AS gamma_mean_ok, true AS exp_mean_ok, "
            "true AS pareto_skewed, true AS zipf_skewed, "
            "true AS pareto_tail_reaches, true AS lognormal_median_ok, "
            "true AS lognormal_median_ok2, true AS all_bounded"
        ),
        "gen_unique_combinations": (
            f"SELECT DISTINCT CAST(range % 5 AS INTEGER) AS a, "
            f"CAST(range % 3 AS INTEGER) AS b FROM range({_GEN_ROWS}) "
            f"ORDER BY a, b"
        ),
        "gen_constant_seedfrom": (
            "SELECT true AS constant_ok, true AS functional_dependency, "
            "true AS src_cardinality_ok"
        ),
        "gen_sales_order_ri": (
            "SELECT CAST(50 AS BIGINT) AS n_customers, "
            "CAST(20 AS BIGINT) AS n_catalog, "
            "CAST(1000 AS BIGINT) AS n_orders, "
            "CAST(3000 AS BIGINT) AS n_items, "
            "CAST(0 AS BIGINT) AS orphan_orders, "
            "CAST(0 AS BIGINT) AS orphan_item_orders, "
            "CAST(0 AS BIGINT) AS orphan_item_catalog"
        ),
        "ann_ivf_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                       FROM embeddings WHERE vec_id = 0),
            comp AS (
                SELECT label, t.dim, AVG(embedding[t.dim]) AS c
                FROM embeddings,
                     LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS dim) t
                GROUP BY label, t.dim
            ),
            cent AS (
                SELECT label, list(c ORDER BY dim) AS centroid FROM comp GROUP BY label
            ),
            cell AS (
                SELECT label FROM cent, q
                ORDER BY list_cosine_similarity(centroid, qe) DESC, label LIMIT 2
            )
            -- cosine mirrored in the double domain exactly as Spark builds
            -- it: dot / (sqrt(dot_aa) * sqrt(dot_bb)) over double-cast lists
            SELECT e.vec_id, e.label,
                   ROUND(
                       list_dot_product(CAST(e.embedding AS DOUBLE[]), qe)
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(qe, qe))), 4) AS cosine
            FROM embeddings e, q WHERE e.label IN (SELECT label FROM cell)
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "ann_knn_join": """
            WITH probes AS (
                SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS probe_vec
                FROM embeddings WHERE vec_id < 20
            ),
            scored AS (
                -- cosine mirrored in the double domain exactly as Spark
                -- builds it: dot / (sqrt(dot_aa) * sqrt(dot_bb))
                SELECT p.probe_id, e.vec_id,
                       ROUND(
                           list_dot_product(CAST(e.embedding AS DOUBLE[]), p.probe_vec)
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(p.probe_vec, p.probe_vec))), 4)
                           AS cosine
                FROM probes p CROSS JOIN embeddings e
            ),
            ranked AS (
                SELECT probe_id, vec_id, cosine,
                       ROW_NUMBER() OVER (
                           PARTITION BY probe_id ORDER BY cosine DESC, vec_id
                       ) AS rank
                FROM scored
            )
            SELECT probe_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank
        """,
        "gen_struct_json": (
            f"SELECT range AS row_id, "
            f"to_json(struct_pack(a := CAST(1 + range % 20 AS INTEGER), "
            f"b := ['x','y','z'][CAST(range % 3 AS INTEGER) + 1])) AS sj "
            f"FROM range({_GEN_ROWS}) ORDER BY row_id"
        ),
        "gen_format_prefix": (
            f"SELECT range AS row_id, "
            f"'item_' || CAST(1 + range % 20 AS VARCHAR) || '_ver' AS code, "
            f"printf('%05d', CAST(range % 100 AS INTEGER)) AS fmtd "
            f"FROM range({_GEN_ROWS}) ORDER BY row_id"
        ),
        "gen_weighted_cycle": (
            f"SELECT range AS row_id, "
            f"CASE WHEN range % 1000 < 818 THEN 'a' "
            f"     WHEN range % 1000 < 909 THEN 'b' ELSE 'c' END AS v "
            f"FROM range({_GEN_ROWS}) ORDER BY row_id"
        ),
        "gen_constraints": f"""
            WITH g AS (
                SELECT range AS row_id,
                       CAST(-100 + range % 201 AS INTEGER) AS a,
                       CAST(range % 51 AS INTEGER) AS b,
                       CAST(range % 11 AS INTEGER) AS lo,
                       CAST(20 + range % 11 AS INTEGER) AS hi,
                       CAST(range % 41 AS INTEGER) AS v
                FROM range({_GEN_ROWS})
            )
            SELECT * FROM g
            WHERE b IS NOT NULL AND b >= 0
              AND a >= -50 AND a <= 50
              AND v >= lo AND v <= hi
              AND lo < hi
              AND a % 2 = 0
            ORDER BY row_id
        """,
        "gen_template_conformance": (
            f"SELECT CAST({_GEN_ROWS} AS BIGINT) AS phone_ok, "
            f"CAST({_GEN_ROWS} AS BIGINT) AS lorem_ok, "
            f"CAST({_GEN_ROWS} AS BIGINT) AS mail_ok"
        ),
        "gen_array_features": (
            f"SELECT CAST({_GEN_ROWS} AS BIGINT) AS size_ok, "
            f"CAST({_GEN_ROWS} AS BIGINT) AS range_ok"
        ),
        "gen_unique_temporal": (
            "SELECT CAST(30 AS BIGINT) AS distinct_days, true AS min_ok, "
            "true AS max_in_first_k"
        ),
        "analyzer_profile": """
            SELECT 'count' AS measure, CAST(COUNT(c_custkey) AS VARCHAR) AS c_custkey,
                   CAST(COUNT(c_name) AS VARCHAR) AS c_name,
                   CAST(COUNT(c_mktsegment) AS VARCHAR) AS c_mktsegment
            FROM customer
            UNION ALL
            SELECT 'max', CAST(MAX(c_custkey) AS VARCHAR), MAX(c_name), MAX(c_mktsegment)
            FROM customer
            UNION ALL
            SELECT 'min', CAST(MIN(c_custkey) AS VARCHAR), MIN(c_name), MIN(c_mktsegment)
            FROM customer
            UNION ALL
            SELECT 'null_count',
                   CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS VARCHAR),
                   CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS VARCHAR),
                   CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS VARCHAR)
            FROM customer
            ORDER BY measure
        """,
        "q6_forecast_revenue": """
            SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= DATE '1996-07-01'
              AND o.o_orderdate < DATE '1996-10-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem l
                  JOIN orders o2 ON l.l_orderkey = o2.o_orderkey
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o2.o_orderdate + INTERVAL 30 DAY
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "q12_returnflag_priority": """
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "q18_large_orders": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   ROUND(o_totalprice, 2) AS o_totalprice,
                   ROUND(total_qty, 2) AS total_qty
            FROM orders
            JOIN (
                SELECT l_orderkey,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
            ) big ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
        """,
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(ROUND(SUM({_SQL_REV}), 2) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                   CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue": """
            SELECT o_orderkey, o_orderdate,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
            FROM documents
            GROUP BY text
            ORDER BY doc_id
        """,
        "text_token_stats": """
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_obs
            FROM documents
            ORDER BY doc_id
        """,
        "q5_region_revenue": """
            SELECT n_name,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "q14_promo_share": f"""
            SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                                 THEN {_SQL_REV} END) AS DOUBLE)
                   / CAST(SUM({_SQL_REV}) AS DOUBLE) * 100 AS promo_share_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
        """,
        "q7_nation_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS volume,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "q19_discounted_revenue": """
            SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_lineitems
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 35)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                   AND l_quantity BETWEEN 20 AND 50)
        """,
        "q2_min_cost_supplier": """
            WITH per AS (
                -- mirror of the Spark side's order-independent decimal avg:
                -- per-row unit price rounded to 6 decimals, summed exactly,
                -- one IEEE division
                SELECT l_partkey, l_suppkey,
                       CAST(SUM(CAST(l_extendedprice / l_quantity AS DECIMAL(18,6)))
                            AS DOUBLE) / COUNT(*) AS unit_cost
                FROM lineitem GROUP BY l_partkey, l_suppkey
            ),
            ranked AS (
                SELECT p.p_partkey, p.p_brand, per.l_suppkey, per.unit_cost,
                       ROW_NUMBER() OVER (
                           PARTITION BY per.l_partkey
                           ORDER BY per.unit_cost ASC, per.l_suppkey ASC
                       ) AS rk
                FROM per
                JOIN part p ON per.l_partkey = p.p_partkey
                WHERE p.p_size BETWEEN 1 AND 15 AND p.p_type = 'STANDARD'
            )
            SELECT r.p_partkey, r.p_brand, s.s_name, n.n_name,
                   CAST(CAST(r.unit_cost AS DECIMAL(18,4)) AS DOUBLE) AS unit_cost
            FROM ranked r
            JOIN supplier s ON r.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE r.rk = 1
            ORDER BY r.p_partkey
        """,
        "q8_market_share": """
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                   CAST(COALESCE(
                       SUM(CASE WHEN n1.n_name = 'NATION_1'
                                THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                     * CAST(1 - l_discount AS DECIMAL(18,2))
                           END), 0) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
                       AS mkt_share,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region   ON n2.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            WHERE p_type = 'PROMO' AND r_name = 'ASIA'
            GROUP BY 1 ORDER BY 1
        """,
        "q9_product_profit": """
            SELECT n_name,
                   CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
                   CAST(ROUND(SUM(
                       CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(1 - l_discount AS DECIMAL(18,2))
                       - CAST(0.6 * p_retailprice * l_quantity AS DECIMAL(18,4))
                   ), 2) AS DOUBLE) AS profit,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%gear%'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q11_important_parts": """
            WITH base AS (
                SELECT l_partkey,
                       CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(1 - l_discount AS DECIMAL(18,2)) AS val
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
                WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
            ),
            per_part AS (
                SELECT l_partkey, SUM(val) AS pv FROM base GROUP BY 1
            ),
            stats AS (
                SELECT SUM(pv) AS total, COUNT(*) AS np FROM per_part
            )
            SELECT l_partkey, CAST(ROUND(pv, 2) AS DOUBLE) AS part_value
            FROM per_part, stats
            WHERE CAST(pv AS DOUBLE) > 2.0 * CAST(total AS DOUBLE) / np
            ORDER BY part_value DESC, l_partkey
        """,
        "q13_customer_distribution": """
            WITH c_orders AS (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN orders ON c_custkey = o_custkey
                     AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            )
            SELECT c_count, COUNT(*) AS custdist
            FROM c_orders
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q15_top_supplier": f"""
            WITH rev AS (
                SELECT l_suppkey,
                       SUM({_SQL_REV}) AS total_rev
                FROM lineitem
                WHERE l_shipdate >= DATE '1996-01-01'
                  AND l_shipdate < DATE '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, CAST(ROUND(total_rev, 2) AS DOUBLE) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
            ORDER BY s_suppkey
        """,
        "q16_supplier_counts": """
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_type NOT LIKE 'PROMO%'
              AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
              AND l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
              )
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
        "q17_small_quantity_revenue": """
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                       AS avg_yearly
            FROM lineitem l
            JOIN part ON l.l_partkey = p_partkey
            WHERE p_brand = 'Brand#2'
              AND l.l_quantity < (
                  SELECT (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                          / COUNT(*)) * 0.5
                  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
              )
        """,
        "q20_excess_suppliers": """
            SELECT s_suppkey, s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
              AND s_suppkey IN (
                  SELECT l_suppkey FROM lineitem
                  WHERE l_partkey IN (
                      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
                  )
                  AND l_shipdate >= DATE '1996-01-01'
                  AND l_shipdate < DATE '1997-01-01'
                  GROUP BY l_suppkey, l_partkey
                  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 50
              )
            ORDER BY s_suppkey
        """,
        "q21_waiting_supplier": """
            WITH sup_ship AS (
                SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS s_max
                FROM lineitem
                WHERE l_orderkey IN (
                    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
                )
                GROUP BY l_orderkey, l_suppkey
            ),
            win1 AS (
                SELECT l_orderkey, l_suppkey, s_max,
                       MAX(s_max) OVER (PARTITION BY l_orderkey) AS o_max,
                       COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp
                FROM sup_ship
            ),
            annotated AS (
                SELECT l_orderkey, l_suppkey, s_max, o_max, n_supp,
                       SUM(CASE WHEN s_max = o_max THEN 1 ELSE 0 END)
                           OVER (PARTITION BY l_orderkey) AS n_at_max
                FROM win1
            )
            SELECT s_name, COUNT(*) AS numwait
            FROM annotated
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE s_max = o_max AND n_supp > 1 AND n_at_max = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 10
        """,
        "q22_global_sales_opportunity": """
            SELECT n_name, COUNT(*) AS numcust,
                   CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
                       AS totacctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*)
                FROM customer WHERE c_acctbal > 0.0
            )
            AND c_custkey NOT IN (
                SELECT o_custkey FROM orders
                WHERE o_orderdate >= DATE '2000-01-01'
            )
            GROUP BY n_name
            ORDER BY n_name
        """,
        "events_sessionize": """
            WITH w AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
            ),
            s AS (
                SELECT user_id, ts, value,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_seq
                FROM w
            )
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   COUNT(*) AS n_events,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   ROUND(SUM(value), 2) AS session_value
            FROM s GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq
        """,
        "events_sessionize_auto": """
            WITH w AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
            ),
            s AS (
                SELECT user_id, ts, value,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_seq
                FROM w
            )
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   COUNT(*) AS n_events,
                   MIN(ts) AS session_start, MAX(ts) AS session_end,
                   ROUND(SUM(value), 2) AS session_value,
                   'skew_safe' AS route_low_cap,
                   'window' AS route_default_cap,
                   CAST(0 AS BIGINT) AS route_mismatch_rows,
                   true AS values_close
            FROM s GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq
        """,
        "events_session_range_join": """
            WITH w AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
            ),
            s AS (
                SELECT user_id, ts, value,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_seq
                FROM w
            ),
            sess AS (
                SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                       MIN(ts) AS session_start, MAX(ts) AS session_end
                FROM s GROUP BY user_id, session_seq
            )
            SELECT e.event_id, e.user_id, sess.session_seq
            FROM events e
            JOIN sess ON e.user_id = sess.user_id
                     AND e.ts BETWEEN sess.session_start AND sess.session_end
            ORDER BY e.event_id
        """,
        "emb_quantization": """
            SELECT vec_id,
                   CAST(len(embedding) AS BIGINT) AS n_dims,
                   ROUND(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
                   ROUND(list_max(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE)
                              - (mn + round((CAST(x AS DOUBLE) - mn) / sc, 0) * sc)))),
                         6) AS max_quant_err
            FROM (
                SELECT vec_id, embedding,
                       CAST(list_min(embedding) AS DOUBLE) AS mn,
                       greatest((CAST(list_max(embedding) AS DOUBLE)
                                 - CAST(list_min(embedding) AS DOUBLE)) / 255.0,
                                1e-12) AS sc
                FROM embeddings
            )
            ORDER BY vec_id
        """,
        "events_rollup_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
            FROM events
            GROUP BY ROLLUP(strftime(ts, '%Y-%m-%d'), event_type)
            ORDER BY day, event_type
        """,
        "events_ewma": """
            WITH RECURSIVE ordered AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events WHERE value IS NOT NULL
            ),
            walk AS (
                SELECT user_id, 0 AS rn, NULL::DOUBLE AS s,
                       NULL::BIGINT AS event_id, NULL::DOUBLE AS value
                FROM (SELECT DISTINCT user_id FROM ordered)
                UNION ALL
                SELECT o.user_id, o.rn,
                       CASE WHEN w.s IS NULL THEN o.value
                            ELSE 0.25 * o.value + 0.75 * w.s END,
                       o.event_id, o.value
                FROM walk w
                JOIN ordered o
                  ON o.user_id = w.user_id AND o.rn = w.rn + 1
            )
            SELECT user_id, event_id, value, s AS ewma
            FROM walk WHERE rn > 0
            ORDER BY user_id, event_id
        """,
        "events_cms_heavy_hitters": """
            WITH vals AS (
                SELECT user_id, count(*)::BIGINT AS w
                FROM events WHERE user_id IS NOT NULL
                GROUP BY user_id
            ),
            th AS (
                SELECT ceil(1.3 * count(*) / count(DISTINCT user_id))::BIGINT
                           AS t
                FROM events WHERE user_id IS NOT NULL
            ),
            sk AS (
                SELECT t.d AS depth_idx,
                       ('0x' || substr(md5(concat_ws(':', 7, t.d, v.user_id)),
                                       1, 15))::BIGINT % 32 AS bucket,
                       sum(v.w)::BIGINT AS cnt
                FROM vals v CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) t
                GROUP BY 1, 2
            ),
            pb AS (
                SELECT v.user_id, t.d AS depth_idx,
                       ('0x' || substr(md5(concat_ws(':', 7, t.d, v.user_id)),
                                       1, 15))::BIGINT % 32 AS bucket
                FROM vals v CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) t
            ),
            est AS (
                SELECT pb.user_id,
                       min(coalesce(s.cnt, 0))::BIGINT AS cms_count
                FROM pb LEFT JOIN sk s
                  ON s.depth_idx = pb.depth_idx AND s.bucket = pb.bucket
                GROUP BY pb.user_id
            )
            SELECT e.user_id, e.cms_count, v.w AS exact_count,
                   (v.w >= th.t) AS is_heavy
            FROM est e
            JOIN vals v ON v.user_id = e.user_id
            CROSS JOIN th
            WHERE e.cms_count >= th.t
            ORDER BY e.user_id
        """,
        "events_histogram_quantiles": """
            WITH hist AS (
                SELECT event_type,
                       least(239, greatest(0,
                           floor((value - 0.0) / 2.5)::INTEGER)) AS bin,
                       count(*)::BIGINT AS cnt
                FROM events WHERE value IS NOT NULL
                GROUP BY 1, 2
            ),
            cum AS (
                SELECT event_type, bin, cnt,
                       sum(cnt) OVER (PARTITION BY event_type
                                      ORDER BY bin) AS c,
                       sum(cnt) OVER (PARTITION BY event_type) AS n
                FROM hist
            ),
            probes AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q)
            SELECT event_type, q,
                   0.0 + (bin + (q * n - (c - cnt)) / cnt) * 2.5 AS estimate
            FROM cum CROSS JOIN probes
            WHERE c >= q * n AND (c - cnt) < q * n
            ORDER BY event_type, q
        """,
        "events_cms_join_size": """
            WITH av AS (
                SELECT user_id, count(*)::BIGINT AS w FROM events
                WHERE user_id IS NOT NULL AND event_id % 2 = 0
                GROUP BY user_id
            ),
            bv AS (
                SELECT user_id, count(*)::BIGINT AS w FROM events
                WHERE user_id IS NOT NULL AND event_id % 2 = 1
                GROUP BY user_id
            ),
            ask AS (
                SELECT t.d,
                       ('0x' || substr(md5(concat_ws(':', 7, t.d, v.user_id)),
                                       1, 15))::BIGINT % 64 AS bucket,
                       sum(v.w)::BIGINT AS cnt
                FROM av v CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) t
                GROUP BY 1, 2
            ),
            bsk AS (
                SELECT t.d,
                       ('0x' || substr(md5(concat_ws(':', 7, t.d, v.user_id)),
                                       1, 15))::BIGINT % 64 AS bucket,
                       sum(v.w)::BIGINT AS cnt
                FROM bv v CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) t
                GROUP BY 1, 2
            ),
            per_row AS (
                SELECT sp.sd,
                       coalesce((SELECT sum(a.cnt * b.cnt)
                                 FROM ask a JOIN bsk b
                                   ON a.d = sp.sd AND b.d = sp.sd
                                  AND a.bucket = b.bucket), 0) AS s
                FROM (SELECT unnest([0, 1, 2]) AS sd) sp
            )
            SELECT (SELECT min(s) FROM per_row)::BIGINT AS join_size_estimate,
                   coalesce((SELECT sum(av.w * bv.w) FROM av
                             JOIN bv ON av.user_id = bv.user_id),
                            0)::BIGINT AS exact_join_size
        """,
        "events_cms_user_counts": """
            WITH vals AS (
                SELECT user_id, count(*)::BIGINT AS w
                FROM events WHERE user_id IS NOT NULL
                GROUP BY user_id
            ),
            sk AS (
                SELECT t.d AS depth_idx,
                       ('0x' || substr(md5(concat_ws(':', 7, t.d, v.user_id)),
                                       1, 15))::BIGINT % 64 AS bucket,
                       sum(v.w)::BIGINT AS cnt
                FROM vals v CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) t
                GROUP BY 1, 2
            ),
            pb AS (
                SELECT p.user_id, t.d AS depth_idx,
                       ('0x' || substr(md5(concat_ws(':', 7, t.d, p.user_id)),
                                       1, 15))::BIGINT % 64 AS bucket
                FROM (SELECT DISTINCT user_id FROM events
                      WHERE user_id IS NOT NULL AND user_id % 7 = 0) p
                CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) t
            ),
            est AS (
                SELECT pb.user_id,
                       min(coalesce(s.cnt, 0))::BIGINT AS cms_count
                FROM pb LEFT JOIN sk s
                  ON s.depth_idx = pb.depth_idx AND s.bucket = pb.bucket
                GROUP BY pb.user_id
            )
            SELECT e.user_id, v.w AS exact_count, e.cms_count
            FROM est e JOIN vals v ON v.user_id = e.user_id
            ORDER BY e.user_id
        """,
        "docs_hybrid_ranking": """
            WITH ra_base AS (
                SELECT doc_id, n_chars FROM documents
                ORDER BY n_chars DESC, doc_id LIMIT 100
            ),
            ra AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY n_chars DESC, doc_id)
                           AS rank
                FROM ra_base
            ),
            toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS token
                FROM documents
            ),
            hits AS (
                SELECT doc_id, count(*)::BIGINT AS c
                FROM toks WHERE token IN ('window', 'column', 'scan')
                GROUP BY doc_id
            ),
            rb_base AS (
                SELECT doc_id, c FROM hits ORDER BY c DESC, doc_id LIMIT 100
            ),
            rb AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY c DESC, doc_id) AS rank
                FROM rb_base
            ),
            u AS (
                SELECT doc_id,
                       1.0::DOUBLE / (60.0::DOUBLE + rank) AS s FROM ra
                UNION ALL
                SELECT doc_id,
                       1.0::DOUBLE / (60.0::DOUBLE + rank) FROM rb
            ),
            f AS (
                SELECT doc_id,
                       list_reduce(list_prepend(0.0::DOUBLE,
                                                list_sort(list(s))),
                                   (a, x) -> a + x) AS rrf_score,
                       count(*)::BIGINT AS n_rankings
                FROM u GROUP BY doc_id
            )
            SELECT doc_id, rrf_score, n_rankings
            FROM f ORDER BY rrf_score DESC, doc_id LIMIT 15
        """,
        "events_behavior_vectors": """
            WITH vocab(name, i) AS (
                VALUES ('click', 0), ('error', 1), ('purchase', 2),
                       ('signup', 3), ('view', 4)
            ),
            led AS (
                SELECT user_id, event_type AS ft,
                       lead(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS tt
                FROM events
            ),
            pairs AS (
                SELECT l.user_id, (vf.i * 5 + vt.i) AS idx
                FROM led l
                JOIN vocab vf ON vf.name = l.ft
                JOIN vocab vt ON vt.name = l.tt
            ),
            counts AS (
                SELECT user_id, idx, count(*)::BIGINT AS c
                FROM pairs GROUP BY 1, 2
            ),
            tot AS (
                SELECT user_id, sum(c)::BIGINT AS t FROM counts GROUP BY 1
            ),
            spine AS (
                SELECT t.user_id, g.i AS idx, t.t
                FROM tot t CROSS JOIN (SELECT unnest(range(0, 25)) AS i) g
            )
            SELECT s.user_id,
                   string_agg(
                       printf('%.6f',
                              ROUND(coalesce(c.c, 0)::DOUBLE / s.t, 6)),
                       '|' ORDER BY s.idx) AS behavior,
                   max(s.t)::BIGINT AS n_transitions
            FROM spine s
            LEFT JOIN counts c ON c.user_id = s.user_id AND c.idx = s.idx
            GROUP BY s.user_id
            ORDER BY s.user_id
        """,
        "events_autocorrelation": """
            WITH s AS (
                SELECT user_id,
                       list(value ORDER BY ts, event_id) AS vs
                FROM events WHERE value IS NOT NULL
                GROUP BY user_id
            ),
            m AS (
                SELECT user_id, vs, len(vs) AS n,
                       list_reduce(list_prepend(0.0::DOUBLE, vs),
                                   (a, x) -> a + x) / len(vs) AS mu
                FROM s
            ),
            f AS (
                SELECT user_id, n, mu,
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(range(1, greatest(n - 1, 1) + 1),
                               i -> (vs[least(i, n)] - mu)
                                    * (vs[least(i + 1, n)] - mu))),
                           (a, x) -> a + x) AS num,
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(vs, v -> (v - mu) * (v - mu))),
                           (a, x) -> a + x) AS den
                FROM m
            )
            SELECT user_id, n::BIGINT AS n,
                   CASE WHEN n > 1 AND den > 0.0 THEN num / den END AS acf
            FROM f
            ORDER BY user_id
        """,
        "lineitem_benford": """
            WITH d AS (
                SELECT CAST(substr(regexp_replace(regexp_replace(
                           CAST(abs(l_extendedprice) AS VARCHAR),
                           '[.\\-]', '', 'g'), '^0+', ''), 1, 1) AS INTEGER)
                           AS digit
                FROM lineitem
                WHERE l_extendedprice > 0
            ),
            base AS (
                SELECT digit, count(*)::BIGINT AS n
                FROM d WHERE digit BETWEEN 1 AND 9
                GROUP BY digit
            ),
            t AS (SELECT sum(n)::DOUBLE AS total FROM base)
            SELECT digit, n,
                   n / t.total AS observed_frac,
                   log10(1.0 + 1.0 / digit) AS expected_frac,
                   abs(n / t.total - log10(1.0 + 1.0 / digit)) AS abs_dev
            FROM base CROSS JOIN t
            ORDER BY digit
        """,
        "customers_checksum": """
            WITH h AS (
                SELECT ('0x' || substr(md5(concat_ws(':', 0, c_custkey,
                                                     c_name, c_mktsegment)),
                                       1, 15))::BIGINT AS hv,
                       c_custkey
                FROM customer
            )
            SELECT count(*)::BIGINT AS n_rows,
                   sum(hv)::DECIMAL(38,0)::VARCHAR AS checksum,
                   (sum(hv) = (SELECT sum(hv) FROM h WHERE c_custkey % 2 = 0)
                            + (SELECT sum(hv) FROM h WHERE c_custkey % 2 = 1))
                       AS halves_additive
            FROM h
        """,
        "events_trajectory_similarity": """
            WITH ev AS (
                SELECT user_id, FLOOR(epoch(ts)) AS t, value AS v
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL
            ),
            spans AS (
                SELECT user_id,
                       min(t)::DOUBLE AS t0, max(t)::DOUBLE AS t1,
                       list_sum(list_sort(list(v))) / count(v) AS kmean
                FROM ev GROUP BY user_id
            ),
            bucketed AS (
                SELECT e.user_id,
                       CASE WHEN s.t1 > s.t0
                            THEN least(15, greatest(0,
                                 CAST(floor((e.t - s.t0) / (s.t1 - s.t0)
                                            * 16.0) AS INTEGER)))
                            ELSE 0 END AS b,
                       e.v
                FROM ev e JOIN spans s USING (user_id)
            ),
            bmeans AS (
                SELECT user_id, b,
                       list_sum(list_sort(list(v))) / count(v) AS m
                FROM bucketed GROUP BY user_id, b
            ),
            lattice AS (
                SELECT s.user_id, g.b, s.kmean
                FROM spans s CROSS JOIN (SELECT unnest(range(0, 16)) AS b) g
            ),
            filled AS (
                SELECT l.user_id, l.b,
                       coalesce(
                           last_value(bm.m IGNORE NULLS) OVER (
                               PARTITION BY l.user_id ORDER BY l.b),
                           l.kmean) AS val
                FROM lattice l
                LEFT JOIN bmeans bm ON bm.user_id = l.user_id AND bm.b = l.b
            ),
            traj AS (
                SELECT user_id, list(val ORDER BY b) AS traj
                FROM filled GROUP BY user_id
            ),
            probe AS (
                SELECT user_id AS qid, traj AS qt
                FROM traj ORDER BY user_id LIMIT 1
            ),
            scored AS (
                SELECT t.user_id,
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(range(1, 17),
                                          i -> t.traj[i] * p.qt[i])),
                           (acc, x) -> acc + x) AS dot,
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(range(1, 17),
                                          i -> t.traj[i] * t.traj[i])),
                           (acc, x) -> acc + x) AS nb,
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(range(1, 17),
                                          i -> p.qt[i] * p.qt[i])),
                           (acc, x) -> acc + x) AS nq
                FROM traj t CROSS JOIN probe p
                WHERE t.user_id <> p.qid
            )
            SELECT user_id, dot / (sqrt(nq) * sqrt(nb)) AS cosine_sim
            FROM scored WHERE nb > 0 AND nq > 0
            ORDER BY cosine_sim DESC, user_id LIMIT 3
        """,
        "events_cusum_flags": """
            WITH RECURSIVE ordered AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events WHERE value IS NOT NULL
            ),
            mu AS (
                SELECT user_id,
                       list_sum(list_sort(list(value))) / count(value) AS mu
                FROM events WHERE value IS NOT NULL
                GROUP BY user_id
            ),
            walk AS (
                SELECT user_id, 0 AS rn,
                       0.0::DOUBLE AS sp, 0.0::DOUBLE AS sn,
                       NULL::DOUBLE AS cp, NULL::DOUBLE AS cn,
                       NULL::BIGINT AS event_id, NULL::DOUBLE AS value
                FROM (SELECT DISTINCT user_id FROM ordered)
                UNION ALL
                SELECT o.user_id, o.rn,
                       CASE WHEN greatest(0.0, w.sp + (o.value - m.mu - 0.25)) > 1.5
                              OR greatest(0.0, w.sn + (m.mu - o.value - 0.25)) > 1.5
                            THEN 0.0
                            ELSE greatest(0.0, w.sp + (o.value - m.mu - 0.25)) END,
                       CASE WHEN greatest(0.0, w.sp + (o.value - m.mu - 0.25)) > 1.5
                              OR greatest(0.0, w.sn + (m.mu - o.value - 0.25)) > 1.5
                            THEN 0.0
                            ELSE greatest(0.0, w.sn + (m.mu - o.value - 0.25)) END,
                       greatest(0.0, w.sp + (o.value - m.mu - 0.25)),
                       greatest(0.0, w.sn + (m.mu - o.value - 0.25)),
                       o.event_id, o.value
                FROM walk w
                JOIN ordered o
                  ON o.user_id = w.user_id AND o.rn = w.rn + 1
                JOIN mu m ON m.user_id = w.user_id
            )
            SELECT user_id, event_id, value,
                   cp AS cusum_pos, cn AS cusum_neg,
                   (cp > 1.5 OR cn > 1.5) AS alarm
            FROM walk WHERE rn > 0
            ORDER BY user_id, event_id
        """,
        "customers_derive_cdc": """
            WITH before AS (
                SELECT c_custkey, c_name, c_acctbal
                FROM customer WHERE c_custkey % 10 <> 0
            ),
            after AS (
                SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 7 = 0
                            THEN c_acctbal + 100.0 ELSE c_acctbal END
                           AS c_acctbal
                FROM customer WHERE c_custkey % 13 <> 0
            )
            SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
                   CASE WHEN b.c_custkey IS NULL THEN 'I'
                        WHEN a.c_custkey IS NULL THEN 'D'
                        ELSE 'U' END AS op
            FROM before b
            FULL OUTER JOIN after a ON b.c_custkey = a.c_custkey
            WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
               OR b.c_name IS DISTINCT FROM a.c_name
               OR b.c_acctbal IS DISTINCT FROM a.c_acctbal
            ORDER BY c_custkey
        """,
        "events_kmv_daily_merge": """
            WITH h AS (
                SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
                       ('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)),
                                       1, 15))::BIGINT AS hv
                FROM events
                WHERE user_id IS NOT NULL
            ),
            daily AS (
                SELECT day, hv,
                       row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
                FROM h
            ),
            merged AS (
                SELECT DISTINCT hv FROM daily WHERE rn <= 32
            ),
            m AS (
                SELECT list(hv ORDER BY hv)[:32] AS sk FROM merged
            ),
            direct AS (
                SELECT DISTINCT hv FROM h
            ),
            d AS (
                SELECT list(hv ORDER BY hv)[:32] AS sk FROM direct
            ),
            e AS (
                SELECT COUNT(DISTINCT user_id)::BIGINT AS n_exact
                FROM events WHERE user_id IS NOT NULL
            )
            SELECT
                ROUND(CASE WHEN len(m.sk) < 32 THEN CAST(len(m.sk) AS DOUBLE)
                           ELSE 31.0 / ((CAST(m.sk[32] AS DOUBLE) + 0.5)
                                        / 1152921504606846976.0)
                      END, 4) AS dv_merged,
                ROUND(CASE WHEN len(d.sk) < 32 THEN CAST(len(d.sk) AS DOUBLE)
                           ELSE 31.0 / ((CAST(d.sk[32] AS DOUBLE) + 0.5)
                                        / 1152921504606846976.0)
                      END, 4) AS dv_direct,
                (m.sk = d.sk) AS sketches_identical,
                e.n_exact
            FROM m CROSS JOIN d CROSS JOIN e
        """,
        "events_kmv_distinct": """
            WITH h AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)),
                                       1, 15))::BIGINT AS hv
                FROM events
                WHERE user_id IS NOT NULL
            ),
            r AS (
                SELECT event_type, hv,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY hv) AS rn
                FROM h
            ),
            s AS (
                SELECT event_type,
                       COUNT(*) AS n_kept,
                       MAX(hv) AS kth
                FROM r WHERE rn <= 32
                GROUP BY event_type
            ),
            e AS (
                SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
                FROM events GROUP BY event_type
            )
            SELECT s.event_type, e.n_exact, s.n_kept,
                   ROUND(CASE WHEN n_kept < 32
                              THEN CAST(n_kept AS DOUBLE)
                              ELSE 31.0 / ((CAST(kth AS DOUBLE) + 0.5)
                                           / 1152921504606846976.0)
                         END, 4) AS dv_est,
                   ROUND(ABS(CASE WHEN n_kept < 32
                                  THEN CAST(n_kept AS DOUBLE)
                                  ELSE 31.0 / ((CAST(kth AS DOUBLE) + 0.5)
                                               / 1152921504606846976.0)
                             END - n_exact) / n_exact, 4) AS rel_err
            FROM s JOIN e USING (event_type)
            ORDER BY event_type
        """,
        "events_kmv_overlap": """
            WITH pairs(pair, ta, tb) AS (
                VALUES ('click|error', 'click', 'error'),
                       ('purchase|view', 'purchase', 'view'),
                       ('signup|purchase', 'signup', 'purchase')
            ),
            h AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)),
                                       1, 15))::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL
            ),
            sa AS (
                SELECT pair, hv FROM (
                    SELECT p.pair, h.hv,
                           row_number() OVER (PARTITION BY p.pair
                                              ORDER BY h.hv) AS rn
                    FROM pairs p JOIN h ON h.event_type = p.ta
                ) WHERE rn <= 32
            ),
            sb AS (
                SELECT pair, hv FROM (
                    SELECT p.pair, h.hv,
                           row_number() OVER (PARTITION BY p.pair
                                              ORDER BY h.hv) AS rn
                    FROM pairs p JOIN h ON h.event_type = p.tb
                ) WHERE rn <= 32
            ),
            m AS (
                SELECT pair, hv FROM (
                    SELECT pair, hv,
                           row_number() OVER (PARTITION BY pair
                                              ORDER BY hv) AS rn
                    FROM (SELECT pair, hv FROM sa
                          UNION SELECT pair, hv FROM sb)
                ) WHERE rn <= 32
            ),
            stats AS (
                SELECT m.pair,
                       COUNT(*)::BIGINT AS n_union_kept,
                       MAX(m.hv) AS kth,
                       SUM(CASE WHEN sa2.hv IS NOT NULL
                                 AND sb2.hv IS NOT NULL
                                THEN 1 ELSE 0 END)::BIGINT AS n_common
                FROM m
                LEFT JOIN sa sa2 ON sa2.pair = m.pair AND sa2.hv = m.hv
                LEFT JOIN sb sb2 ON sb2.pair = m.pair AND sb2.hv = m.hv
                GROUP BY m.pair
            ),
            eu AS (
                SELECT p.pair,
                       COUNT(DISTINCT e.user_id)::BIGINT AS exact_union
                FROM pairs p
                JOIN events e ON e.event_type IN (p.ta, p.tb)
                WHERE e.user_id IS NOT NULL
                GROUP BY p.pair
            ),
            ei AS (
                SELECT pair, COUNT(*)::BIGINT AS exact_intersection FROM (
                    SELECT p.pair, e.user_id,
                           MAX(CASE WHEN e.event_type = p.ta
                                    THEN 1 ELSE 0 END) AS fa,
                           MAX(CASE WHEN e.event_type = p.tb
                                    THEN 1 ELSE 0 END) AS fb
                    FROM pairs p CROSS JOIN events e
                    WHERE e.user_id IS NOT NULL
                    GROUP BY p.pair, e.user_id
                ) WHERE fa = 1 AND fb = 1 GROUP BY pair
            )
            SELECT s.pair, s.n_union_kept, s.n_common,
                   ROUND(CASE WHEN s.n_union_kept < 32
                              THEN CAST(s.n_union_kept AS DOUBLE)
                              ELSE 31.0 / ((CAST(s.kth AS DOUBLE) + 0.5)
                                           / 1152921504606846976.0)
                         END, 4) AS union_est,
                   ROUND(CAST(s.n_common AS DOUBLE) / s.n_union_kept,
                         4) AS jaccard_est,
                   ROUND((CAST(s.n_common AS DOUBLE) / s.n_union_kept)
                         * CASE WHEN s.n_union_kept < 32
                                THEN CAST(s.n_union_kept AS DOUBLE)
                                ELSE 31.0 / ((CAST(s.kth AS DOUBLE) + 0.5)
                                             / 1152921504606846976.0)
                           END, 4) AS intersection_est,
                   coalesce(eu.exact_union, 0) AS exact_union,
                   coalesce(ei.exact_intersection, 0)
                       AS exact_intersection
            FROM stats s
            LEFT JOIN eu ON eu.pair = s.pair
            LEFT JOIN ei ON ei.pair = s.pair
            ORDER BY s.pair
        """,
        "events_streaming_sketch_sinks": """
            WITH h AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)),
                                       1, 15))::BIGINT AS hv
                FROM events
                WHERE user_id IS NOT NULL
            ),
            r AS (
                SELECT event_type, hv,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY hv) AS rn
                FROM h
            ),
            kmv AS (
                SELECT event_type,
                       COUNT(*)::BIGINT AS kmv_n_kept,
                       MAX(hv) AS kth
                FROM r WHERE rn <= 32
                GROUP BY event_type
            ),
            vals AS (
                SELECT event_type, user_id, count(*)::BIGINT AS w
                FROM events WHERE user_id IS NOT NULL
                GROUP BY event_type, user_id
            ),
            cms AS (
                SELECT event_type, t.d AS depth_idx,
                       ('0x' || substr(md5(concat_ws(':', 7, t.d, v.user_id)),
                                       1, 15))::BIGINT % 64 AS bucket,
                       sum(v.w)::BIGINT AS cnt
                FROM vals v CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) t
                GROUP BY 1, 2, 3
            ),
            cstats AS (
                SELECT event_type,
                       COUNT(*)::BIGINT AS cms_cells,
                       SUM(cnt)::BIGINT AS cms_total
                FROM cms GROUP BY event_type
            )
            SELECT k.event_type, k.kmv_n_kept,
                   ROUND(CASE WHEN k.kmv_n_kept < 32
                              THEN CAST(k.kmv_n_kept AS DOUBLE)
                              ELSE 31.0 / ((CAST(k.kth AS DOUBLE) + 0.5)
                                           / 1152921504606846976.0)
                         END, 4) AS kmv_dv_est,
                   c.cms_cells, c.cms_total,
                   true AS kmv_stream_matches,
                   true AS cms_stream_matches
            FROM kmv k JOIN cstats c USING (event_type)
            ORDER BY k.event_type
        """,
        "lineitem_bloom_prefilter": """
            WITH ref AS (
                SELECT DISTINCT p_partkey FROM part WHERE p_type LIKE 'PROMO%'
            ),
            refpos AS (
                -- hash i = 24-bit hex window [1 + 6*i, 6] of ONE digest
                -- md5(seed:0:key), mod 2^14 — mirrors bloom_positions_expr
                SELECT DISTINCT
                       ('0x' || substr(md5('42:0:'
                                       || CAST(p_partkey AS VARCHAR)),
                                       1 + 6 * i, 6)
                       )::BIGINT % 16384 AS p
                FROM ref, unnest([0, 1, 2, 3, 4]) AS t(i)
            ),
            keys AS (SELECT DISTINCT l_partkey FROM lineitem),
            kp AS (
                SELECT l_partkey,
                       ('0x' || substr(md5('42:0:'
                                       || CAST(l_partkey AS VARCHAR)),
                                       1 + 6 * i, 6)
                       )::BIGINT % 16384 AS p
                FROM keys, unnest([0, 1, 2, 3, 4]) AS t(i)
            ),
            failkeys AS (
                SELECT DISTINCT l_partkey FROM kp
                WHERE p NOT IN (SELECT p FROM refpos)
            ),
            passrows AS (
                SELECT COUNT(*) AS n_pass_rows FROM lineitem
                WHERE l_partkey NOT IN (SELECT l_partkey FROM failkeys)
            ),
            matchrows AS (
                SELECT COUNT(*) AS n_match_rows,
                       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                           AS promo_revenue
                FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM ref)
            )
            SELECT (SELECT COUNT(*) FROM ref) AS n_ref_keys,
                   n_pass_rows, n_match_rows,
                   n_pass_rows - n_match_rows AS fp_rows,
                   promo_revenue,
                   CAST(0 AS BIGINT) AS semi_mismatch,
                   CAST(0 AS BIGINT) AS anti_mismatch
            FROM passrows, matchrows
        """,
        "emb_mrl_recall": """
            WITH q AS (
                SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20
            ),
            pairs AS (
                SELECT e.vec_id AS cid, q.qid,
                       CAST(e.embedding AS DOUBLE[]) AS cv, q.qv
                FROM embeddings e, q WHERE e.vec_id <> q.qid
            ),
            sliced AS (
                SELECT qid, cid, d.dim,
                       CASE WHEN d.dim = 0 THEN cv
                            ELSE cv[1:d.dim] END AS ca,
                       CASE WHEN d.dim = 0 THEN qv
                            ELSE qv[1:d.dim] END AS qa
                FROM pairs, (SELECT unnest([0, 8, 16, 32]) AS dim) d
            ),
            -- zero-norm convention mirrors Spark cosine_similarity_expr:
            -- a prefix slice can be all-zero even when the full vector
            -- is not, and DuckDB's list_cosine_similarity NaNs there
            scored AS (
                SELECT qid, cid, dim,
                       ROUND(CASE WHEN list_dot_product(ca, ca) = 0
                                    OR list_dot_product(qa, qa) = 0
                                  THEN 0.0
                                  ELSE list_cosine_similarity(ca, qa)
                             END, 4) AS cos
                FROM sliced
            ),
            topk AS (
                SELECT qid, dim, cid,
                       row_number() OVER (PARTITION BY qid, dim
                                          ORDER BY cos DESC, cid) AS rn
                FROM scored
            ),
            t AS (SELECT qid, cid FROM topk WHERE dim = 0 AND rn <= 10),
            c AS (SELECT qid, dim, cid FROM topk WHERE dim <> 0 AND rn <= 10),
            ov AS (
                SELECT c.dim, count(*)::BIGINT AS total_overlap
                FROM c JOIN t ON t.qid = c.qid AND t.cid = c.cid
                GROUP BY 1
            ),
            nq AS (SELECT count(*)::BIGINT AS n FROM q)
            SELECT CAST(s.dim AS INTEGER) AS dim,
                   CAST(10 AS INTEGER) AS k,
                   nq.n AS n_queries,
                   coalesce(ov.total_overlap, 0)::BIGINT AS total_overlap,
                   ROUND(coalesce(ov.total_overlap, 0)::DOUBLE
                         / (10 * nq.n), 4) AS recall
            FROM (SELECT unnest([8, 16, 32]) AS dim) s
            LEFT JOIN ov ON ov.dim = s.dim
            CROSS JOIN nq
            ORDER BY dim
        """,
        "events_streaming_behavior": """
            WITH vocab(name, i) AS (
                VALUES ('click', 0), ('error', 1), ('purchase', 2),
                       ('signup', 3), ('view', 4)
            ),
            led AS (
                SELECT user_id, event_type AS ft,
                       lead(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS tt
                FROM events
            ),
            pairs AS (
                SELECT l.user_id, (vf.i * 5 + vt.i) AS idx
                FROM led l
                JOIN vocab vf ON vf.name = l.ft
                JOIN vocab vt ON vt.name = l.tt
            ),
            counts AS (
                SELECT user_id, idx, count(*)::BIGINT AS c
                FROM pairs GROUP BY 1, 2
            ),
            tot AS (
                SELECT user_id, sum(c)::BIGINT AS t FROM counts GROUP BY 1
            ),
            spine AS (
                SELECT t.user_id, g.i AS idx, t.t
                FROM tot t CROSS JOIN (SELECT unnest(range(0, 25)) AS i) g
            )
            SELECT s.user_id,
                   max(s.t)::BIGINT AS n_transitions,
                   string_agg(coalesce(c.c, 0)::BIGINT::VARCHAR,
                              '|' ORDER BY s.idx) AS counts,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM spine s
            LEFT JOIN counts c ON c.user_id = s.user_id AND c.idx = s.idx
            GROUP BY s.user_id
            ORDER BY s.user_id
        """,
        "events_session_skew_report": """
            WITH b AS (
                SELECT user_id AS user,
                       floor(epoch(ts) / 86400.0)::BIGINT AS bucket,
                       count(*)::BIGINT AS n
                FROM events GROUP BY 1, 2
            )
            SELECT user,
                   sum(n)::BIGINT AS n_events,
                   count(*)::BIGINT AS n_buckets,
                   max(n)::BIGINT AS max_bucket_events,
                   'route_skew_safe' AS action
            FROM b GROUP BY user
            HAVING sum(n) > 20
            ORDER BY n_events DESC, user
        """,
        "events_hourly_windows": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "events_json_extract": """
            SELECT event_type, COUNT(*) AS n,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events
            GROUP BY event_type ORDER BY event_type
        """,
        "emb_label_centroids": """
            SELECT label, CAST(ord - 1 AS INTEGER) AS dim,
                   ROUND(AVG(v), 4) + 0 AS centroid_v
            FROM (SELECT label, unnest(embedding) AS v,
                         generate_subscripts(embedding, 1) AS ord
                  FROM embeddings)
            GROUP BY label, dim ORDER BY label, dim
        """,
        "dedup_ngram_jaccard": _NGRAM_JACCARD_ORACLE,
        "dedup_minhash_lsh": _NGRAM_JACCARD_ORACLE,
        # tuned banding is pure deterministic math: (0.8, 128, 0.95)
        # -> 32 bands x 4 rows, curve brackets the threshold
        "dedup_lsh_tuned": f"""
            SELECT id_a, id_b, jaccard,
                   CAST(32 AS INTEGER) AS bands,
                   CAST(4 AS INTEGER) AS rows_per_band,
                   true AS curve_brackets_threshold
            FROM ({_NGRAM_JACCARD_ORACLE})
            WHERE jaccard >= 0.8
            ORDER BY id_a, id_b
        """,
        "dedup_simhash": r"""
            WITH t AS (
                SELECT doc_id,
                       lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
                FROM documents
            ),
            tok AS (
                SELECT doc_id, unnest(list_distinct(string_split(norm, ' '))) AS tk
                FROM t
            ),
            h AS (
                SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS hv
                FROM tok
            ),
            bits AS (
                SELECT doc_id, j,
                       CASE WHEN SUM(CASE WHEN (hv >> j) & 1 = 1
                                          THEN 1 ELSE -1 END) > 0
                            THEN 1 ELSE 0 END AS bit
                FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
                GROUP BY doc_id, j
            )
            SELECT doc_id,
                   CAST(SUM(bit * (1::BIGINT << j)) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id ORDER BY doc_id
        """,
        "dedup_components": f"""
            WITH RECURSIVE
            pairs AS (SELECT id_a, id_b FROM ({_NGRAM_JACCARD_ORACLE})),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            reach(v, lbl) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.v
            )
            SELECT v AS vertex, MIN(lbl) AS component
            FROM reach GROUP BY v ORDER BY vertex
        """,
        "dedup_cluster_canonical": f"""
            WITH RECURSIVE
            pairs AS (SELECT id_a, id_b FROM ({_NGRAM_JACCARD_ORACLE})),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            reach(v, lbl) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.v
            ),
            comp AS (SELECT v, MIN(lbl) AS component FROM reach GROUP BY v)
            SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS canonical_id
            FROM documents d LEFT JOIN comp ON d.doc_id = comp.v
            ORDER BY d.doc_id
        """,
        # same component graph as dedup_cluster_canonical + the
        # classifier logit; argmax via the identical (score, -id, id)
        # struct max, NULL scores coalesced below every real score
        "dedup_keep_best": f"""
            WITH RECURSIVE
            pairs AS (SELECT id_a, id_b FROM ({_NGRAM_JACCARD_ORACLE})),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            reach(v, lbl) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.v
            ),
            comp AS (SELECT v, MIN(lbl) AS component FROM reach GROUP BY v),
            lab AS (
                SELECT d.doc_id,
                       COALESCE(comp.component, d.doc_id) AS canonical_id
                FROM documents d LEFT JOIN comp ON d.doc_id = comp.v
            ),
            raw AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                       length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
                       length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS punct
                FROM documents
            ),
            feat AS (
                SELECT doc_id, n_chars,
                       len(toks) AS n_tokens,
                       len(list_distinct(toks)) AS n_distinct,
                       len(list_intersect(list_distinct(toks),
                           ['the','and','of','to','in','is','that','for','with','a'])) AS stop_hits,
                       alpha, digits, punct
                FROM raw
            ),
            lg AS (
                SELECT doc_id,
                       ((((((-3.0 + 3.5 * (alpha::DOUBLE / greatest(n_chars, 1)))
                            + (-3.0) * (digits::DOUBLE / greatest(n_chars, 1)))
                            + (-1.0) * (punct::DOUBLE / greatest(n_chars, 1)))
                            + 1.5 * (n_distinct::DOUBLE / greatest(n_tokens, 1)))
                            + 2.0 * (stop_hits::DOUBLE / 10.0))
                            + 1.5 * least(n_tokens::DOUBLE / 100.0, 1.0)) AS logit
                FROM feat
            ),
            best AS (
                SELECT canonical_id,
                       (max({{'s': COALESCE(logit, '-infinity'::DOUBLE),
                             'n': -lab.doc_id,
                             'b': lab.doc_id}})).b AS best_id
                FROM lab JOIN lg ON lab.doc_id = lg.doc_id
                GROUP BY canonical_id
            )
            SELECT lab.doc_id, lab.canonical_id, best.best_id,
                   lab.doc_id = best.best_id AS keep
            FROM lab JOIN best USING (canonical_id)
            ORDER BY lab.doc_id
        """,
        "dedup_embedding_cosine": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.45
            ORDER BY id_a, id_b
        """,
        "ann_cosine_topk": """
            WITH q AS (
                SELECT CAST(embedding AS DOUBLE[]) AS qe
                FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4)
                       AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        "ann_lsh_recall": "SELECT true AS recall_ok",
        "text_langid": """
            WITH t AS (
                SELECT doc_id, text,
                       list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
                FROM documents
            ),
            hits AS (
                SELECT doc_id, text,
                       len(list_intersect(toks, ['the','and','of','to','in','is','that','for','with','a'])) AS h_en,
                       len(list_intersect(toks, ['der','die','und','das','ist','nicht','ein','mit','auf','zu'])) AS h_de,
                       len(list_intersect(toks, ['le','la','et','les','des','est','une','dans','pour','que'])) AS h_fr,
                       len(list_intersect(toks, ['el','la','que','de','los','una','por','con','para','es'])) AS h_es
                FROM t
            )
            SELECT doc_id,
                   CASE
                     WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                     WHEN h_en = greatest(h_en, h_de, h_fr, h_es) AND h_en > 0 THEN 'en'
                     WHEN h_de = greatest(h_en, h_de, h_fr, h_es) AND h_de > 0 THEN 'de'
                     WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) AND h_fr > 0 THEN 'fr'
                     WHEN h_es = greatest(h_en, h_de, h_fr, h_es) AND h_es > 0 THEN 'es'
                     ELSE 'und'
                   END AS detected_lang,
                   CAST(greatest(h_en, h_de, h_fr, h_es) AS BIGINT) AS stopword_hits
            FROM hits
            ORDER BY doc_id
        """,
        "text_quality": """
            WITH raw AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                       length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
                       length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS punct
                FROM documents
            ),
            feat AS (
                SELECT doc_id, n_chars,
                       len(toks) AS n_tokens,
                       len(list_distinct(toks)) AS n_distinct,
                       len(list_intersect(list_distinct(toks),
                           ['the','and','of','to','in','is','that','for','with','a'])) AS stop_hits,
                       alpha, digits, punct
                FROM raw
            ),
            ratio AS (
                SELECT doc_id, n_chars, n_tokens,
                       n_chars::DOUBLE / greatest(n_tokens, 1) AS mean_word_len,
                       alpha::DOUBLE / greatest(n_chars, 1) AS alpha_ratio,
                       digits::DOUBLE / greatest(n_chars, 1) AS digit_ratio,
                       punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
                       n_distinct::DOUBLE / greatest(n_tokens, 1) AS distinct_ratio,
                       stop_hits::DOUBLE / 10.0 AS stop_ratio,
                       least(n_tokens::DOUBLE / 100.0, 1.0) AS length_score
                FROM feat
            )
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   ROUND(mean_word_len, 4) AS mean_word_len,
                   ROUND(alpha_ratio, 4) AS alpha_ratio,
                   ROUND(digit_ratio, 4) AS digit_ratio,
                   ROUND(punct_ratio, 4) AS punct_ratio,
                   ROUND(distinct_ratio, 4) AS distinct_ratio,
                   ROUND(0.3 * alpha_ratio + 0.2 * distinct_ratio
                         + 0.2 * length_score + 0.2 * stop_ratio
                         + 0.1 * (1.0 - least(digit_ratio * 5, 1.0)), 4) AS quality_score
            FROM ratio
            ORDER BY doc_id
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   sha256(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS sha256_hex
            FROM documents
            ORDER BY doc_id
        """,
        "text_chunking": """
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            )
            , e AS (
                SELECT doc_id, w,
                       unnest(generate_series(0, CAST(floor((len(w)-1)/64.0) AS BIGINT))) AS i
                FROM t
            )
            SELECT doc_id,
                   CAST(i AS INTEGER) AS chunk_idx,
                   array_to_string(w[i*64+1 : i*64+64], ' ') AS chunk_text,
                   CAST(least(64, len(w) - i*64) AS INTEGER) AS n_tokens
            FROM e
            ORDER BY doc_id, chunk_idx
        """,
        "text_vocabulary": """
            WITH toks AS (
                SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                FROM documents
            )
            SELECT token, COUNT(*) AS n_occurrences
            FROM toks WHERE token <> ''
            GROUP BY token
            ORDER BY n_occurrences DESC, token
            LIMIT 200
        """,
        "text_ngram_counts": """
            WITH t AS (
                SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
                FROM documents
            ),
            grams AS (
                SELECT w[i] || ' ' || w[i+1] AS ngram
                FROM t, LATERAL (
                    SELECT unnest(generate_series(1, len(w) - 1)) AS i
                ) s
                WHERE len(w) >= 2
            )
            SELECT ngram, COUNT(*) AS n_occurrences
            FROM grams
            GROUP BY ngram
            ORDER BY n_occurrences DESC, ngram
            LIMIT 200
        """,
        "text_contamination": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS w
                FROM documents
            ),
            e AS (
                SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
                FROM t WHERE len(w) >= 5
            ),
            dg AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS gram
                FROM e
            ),
            train AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 2 = 0),
            test AS (SELECT doc_id, gram FROM dg WHERE doc_id % 2 = 1)
            SELECT doc_id, COUNT(*) AS n_shared_ngrams
            FROM test JOIN train USING (gram)
            GROUP BY doc_id
            ORDER BY doc_id
        """,
        "corpus_sketch_stats": """
            SELECT lang, COUNT(*) AS n_rows,
                   COUNT(DISTINCT text) AS exact_distinct,
                   true AS hll_ok, true AS p50_ok
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "emb_pca_invariants": (
            "SELECT CAST(8 AS INTEGER) AS n_components, true AS orthonormal, "
            "true AS variance_descending, true AS projected_variance_matches, "
            "true AS variance_bounded"
        ),
        "text_gopher_flags": r"""
            WITH t AS (
                SELECT doc_id, text,
                       [w FOR w IN string_split_regex(trim(text), '\s+') IF w != ''] AS words,
                       [l FOR l IN string_split(text, chr(10)) IF trim(l) != ''] AS lines
                FROM documents
            ),
            m AS (
                SELECT doc_id,
                       len(words) AS n_words,
                       greatest(len(words), 1) AS sw,
                       greatest(len(lines), 1) AS sl,
                       CAST(list_sum([length(w) FOR w IN words]) AS DOUBLE)
                           / greatest(len(words), 1) AS mean_wlen,
                       (length(text) - length(replace(text, '#', ''))
                        + len(string_split(text, '...')) - 1
                        + length(text) - length(replace(text, '…', ''))
                       )::DOUBLE / greatest(len(words), 1) AS sym_ratio,
                       len([l FOR l IN lines
                            IF regexp_matches(trim(l), '^[•*-]')]) AS bullet_lines,
                       len([l FOR l IN lines
                            IF regexp_matches(trim(l), '(\.\.\.|…)$')]) AS ellipsis_lines,
                       len([w FOR w IN words
                            IF regexp_matches(w, '[A-Za-z]')]) AS alpha_words,
                       len(list_intersect(
                           list_distinct([lower(w) FOR w IN words]),
                           ['the','be','to','of','and','that','have','with']
                       )) AS stop_hits
                FROM t
            )
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   mean_wlen AS mean_word_len,
                   sym_ratio AS symbol_word_ratio,
                   CAST(stop_hits AS BIGINT) AS stop_word_hits,
                   (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
                   (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AS ok_mean_word_len,
                   (sym_ratio < 0.1) AS ok_symbol_ratio,
                   (bullet_lines::DOUBLE / sl < 0.9) AS ok_bullet_lines,
                   (ellipsis_lines::DOUBLE / sl < 0.3) AS ok_ellipsis_lines,
                   (alpha_words::DOUBLE / sw >= 0.8) AS ok_alpha_words,
                   (stop_hits >= 2) AS ok_stop_words,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (mean_wlen >= 3.0 AND mean_wlen <= 10.0)
                    AND (sym_ratio < 0.1)
                    AND (bullet_lines::DOUBLE / sl < 0.9)
                    AND (ellipsis_lines::DOUBLE / sl < 0.3)
                    AND (alpha_words::DOUBLE / sw >= 0.8)
                    AND (stop_hits >= 2)) AS pass_all
            FROM m
            ORDER BY doc_id
        """,
        "events_capped_sessions": """
            WITH w AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 43200
                            THEN 1 ELSE 0 END AS new_s
                FROM events
            ),
            s AS (
                SELECT user_id, ts, value,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS island
                FROM w
            ),
            r AS (
                SELECT user_id, ts, value, island,
                       row_number() OVER (PARTITION BY user_id, island
                                          ORDER BY ts) - 1 AS rn
                FROM s
            ),
            g AS (
                SELECT user_id, island, rn // 3 AS sub,
                       MIN(ts) AS session_start, MAX(ts) AS session_end,
                       CAST(COUNT(*) AS BIGINT) AS n_events,
                       ROUND(SUM(value), 2) AS value_sum
                FROM r GROUP BY user_id, island, rn // 3
            ),
            k AS (
                SELECT *,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY session_start DESC) AS rdesc
                FROM g
            )
            SELECT user_id, session_start, session_end, n_events, value_sum,
                   CAST(CASE WHEN n_events = 3 THEN 1 ELSE 0 END AS BIGINT)
                       AS closed_by
            FROM k WHERE rdesc > 1 OR n_events = 3
            ORDER BY user_id, session_start
        """,
        "corpus_length_histogram": """
            WITH b AS (
                SELECT CASE WHEN n_chars <= 0 THEN CAST(-1 AS BIGINT)
                            ELSE CAST(length(bin(n_chars)) - 1 AS BIGINT)
                       END AS bucket,
                       n_chars
                FROM documents
            )
            SELECT bucket,
                   CASE WHEN bucket < 0 THEN CAST(0 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) << bucket END AS bucket_lo,
                   CASE WHEN bucket < 0 THEN CAST(1 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) << (bucket + 1) END AS bucket_hi,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_tokens
            FROM b GROUP BY bucket
            ORDER BY bucket
        """,
        "events_watermark_dedup": """
            SELECT DISTINCT user_id, ts, value,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM events
            ORDER BY user_id, ts, value
        """,
        "events_watermark_late_counts": """
            WITH m AS (SELECT max(ts) AS mx FROM events),
            probe AS (
                SELECT mx - INTERVAL 30 MINUTE AS ts,
                       'late_probe' AS event_type,
                       1.5 AS value
                FROM m
            ),
            allrows AS (
                SELECT ts, event_type, value FROM events
                UNION ALL
                SELECT ts, event_type, value FROM probe
            )
            SELECT date_trunc('hour', ts) AS window_start,
                   date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 2) AS value_sum,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM allrows
            GROUP BY 1, 2, 3
            ORDER BY window_start, event_type
        """,
        "events_scd2_intervals": """
            WITH ordered AS (
                SELECT user_id, ts, event_type, event_id,
                       lag(ts) OVER w AS prev_ts,
                       lag(event_type) OVER w AS prev_type
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            flagged AS (
                SELECT user_id, ts, event_type, event_id,
                       CASE
                           WHEN prev_ts IS NULL THEN 1
                           WHEN event_type IS DISTINCT FROM prev_type THEN 1
                           ELSE 0
                       END AS chg
                FROM ordered
            ),
            versions AS (
                SELECT user_id, ts, event_type, chg,
                       SUM(chg) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS ver
                FROM flagged
            )
            SELECT user_id, event_type,
                   ts AS effective_from,
                   lead(ts) OVER wv AS effective_to,
                   CAST(ver AS BIGINT) AS version,
                   (lead(ts) OVER wv IS NULL) AS is_current
            FROM versions
            WHERE chg = 1
            WINDOW wv AS (PARTITION BY user_id ORDER BY ver)
            ORDER BY user_id, version
        """,
        "events_scd2_lookup": """
            WITH ordered AS (
                SELECT user_id, ts, event_type, event_id,
                       lag(ts) OVER w AS prev_ts,
                       lag(event_type) OVER w AS prev_type
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            flagged AS (
                SELECT user_id, ts, event_type, event_id,
                       CASE
                           WHEN prev_ts IS NULL THEN 1
                           WHEN event_type IS DISTINCT FROM prev_type THEN 1
                           ELSE 0
                       END AS chg
                FROM ordered
            ),
            versions AS (
                SELECT user_id, ts, event_type, chg,
                       SUM(chg) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS ver
                FROM flagged
            ),
            dim AS (
                SELECT user_id, event_type,
                       ts AS effective_from,
                       lead(ts) OVER (
                           PARTITION BY user_id ORDER BY ver
                       ) AS effective_to
                FROM versions
                WHERE chg = 1
            ),
            probes AS (
                SELECT user_id, ts + INTERVAL 30 MINUTE AS probe_ts
                FROM events
            ),
            resolved AS (
                SELECT COALESCE(d.event_type, '__unmatched__') AS valid_type
                FROM probes p
                LEFT JOIN dim d
                  ON p.user_id = d.user_id
                 AND p.probe_ts >= d.effective_from
                 AND (d.effective_to IS NULL OR p.probe_ts < d.effective_to)
            )
            SELECT valid_type, CAST(count(*) AS BIGINT) AS n_probes
            FROM resolved
            GROUP BY valid_type
            ORDER BY valid_type
        """,
        "events_stream_stream_join": """
            SELECT c.user_id,
                   c.event_id AS click_id,
                   p.event_id AS purchase_id,
                   CAST(FLOOR(epoch(p.ts)) - FLOOR(epoch(c.ts)) AS BIGINT)
                       AS seconds_to_purchase,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM events c
            JOIN events p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts
             AND p.ts <= c.ts + INTERVAL 1 HOUR
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
            ORDER BY click_id, purchase_id
        """,
        "events_funnel": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS t1
                FROM events WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                GROUP BY e.user_id
            ),
            s3 AS (
                SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                GROUP BY e.user_id
            )
            SELECT CAST(step_index AS BIGINT) AS step_index, step,
                   CAST(n_users AS BIGINT) AS n_users
            FROM (
                VALUES
                    (1, 'view', (SELECT count(*) FROM s1)),
                    (2, 'click', (SELECT count(*) FROM s2)),
                    (3, 'purchase', (SELECT count(*) FROM s3))
            ) AS t(step_index, step, n_users)
            ORDER BY step_index
        """,
        "events_cohort_retention": """
            WITH activity AS (
                SELECT DISTINCT user_id,
                       date_trunc('week', ts)::DATE AS p
                FROM events
            ),
            firstp AS (
                SELECT user_id, min(p) AS cohort
                FROM activity GROUP BY user_id
            )
            SELECT f.cohort AS cohort_start,
                   CAST((a.p - f.cohort) / 7 AS BIGINT) AS period_offset,
                   CAST(count(*) AS BIGINT) AS n_active
            FROM activity a JOIN firstp f ON a.user_id = f.user_id
            WHERE (a.p - f.cohort) / 7 <= 10
            GROUP BY 1, 2
            ORDER BY cohort_start, period_offset
        """,
        "events_stream_stream_left_join": """
            SELECT c.user_id,
                   c.event_id AS click_id,
                   p.event_id AS purchase_id,
                   CAST(FLOOR(epoch(p.ts)) - FLOOR(epoch(c.ts)) AS BIGINT)
                       AS seconds_to_purchase,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts
             AND p.ts <= c.ts + INTERVAL 1 HOUR
            ORDER BY click_id, purchase_id
        """,
        "events_cdc_apply": """
            WITH ranked AS (
                SELECT user_id, ts, event_type, value,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY event_id DESC
                       ) AS rn
                FROM events
            )
            SELECT user_id, ts, event_type, value
            FROM ranked
            WHERE rn = 1 AND event_type <> 'error'
            ORDER BY user_id
        """,
        "events_session_features": """
            WITH w AS (
                SELECT user_id, event_type, value, event_id,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS e,
                       lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS pe
                FROM events
            ),
            s AS (
                SELECT *,
                       SUM(CASE WHEN pe IS NULL OR e - pe > 1800
                                THEN 1 ELSE 0 END) OVER (
                           PARTITION BY user_id ORDER BY e, event_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS sid
                FROM w
            ),
            r AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY user_id, sid ORDER BY e, event_id
                       ) AS rn_a,
                       row_number() OVER (
                           PARTITION BY user_id, sid
                           ORDER BY e DESC, event_id DESC
                       ) AS rn_d
                FROM s
            )
            SELECT user_id,
                   CAST(sid AS BIGINT) AS session_seq,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(max(e) - min(e) AS BIGINT) AS duration_seconds,
                   MAX(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
                   MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type,
                   count(*) = 1 AS is_bounce,
                   ROUND(SUM(value), 4) AS session_value
            FROM r
            GROUP BY user_id, sid
            ORDER BY user_id, session_seq
        """,
        "events_missing_hours": """
            WITH observed AS (
                SELECT DISTINCT event_type,
                       date_trunc('hour', ts) AS p
                FROM events
            ),
            spans AS (
                SELECT event_type, min(p) AS lo, max(p) AS hi
                FROM observed GROUP BY event_type
            ),
            spine AS (
                SELECT event_type,
                       unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS p
                FROM spans
            )
            SELECT s.event_type, s.p AS missing_start
            FROM spine s
            LEFT JOIN observed o
              ON s.event_type = o.event_type AND s.p = o.p
            WHERE o.p IS NULL
            ORDER BY s.event_type, missing_start
        """,
        "events_rate_limit": """
            WITH RECURSIVE ordered AS (
                SELECT user_id, event_id,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS e,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                    event_id
                       ) AS rn
                FROM events
            ),
            walk AS (
                SELECT user_id, 0 AS rn, []::BIGINT[] AS adm,
                       NULL::BIGINT AS event_id, NULL::BOOLEAN AS allowed
                FROM (SELECT DISTINCT user_id FROM ordered)
                UNION ALL
                SELECT o.user_id, o.rn,
                       CASE WHEN len(list_filter(
                                w.adm, a -> a > o.e - 86400)) < 3
                            THEN list_append(list_filter(
                                w.adm, a -> a > o.e - 86400), o.e)
                            ELSE list_filter(
                                w.adm, a -> a > o.e - 86400) END,
                       o.event_id,
                       len(list_filter(w.adm, a -> a > o.e - 86400)) < 3
                FROM walk w
                JOIN ordered o
                  ON o.user_id = w.user_id AND o.rn = w.rn + 1
            )
            SELECT user_id, event_id, allowed
            FROM walk WHERE rn > 0
            ORDER BY user_id, event_id
        """,
        "gen_stock_ticker_conformance": (
            "SELECT CAST(2000 AS BIGINT) AS n_rows, "
            "CAST(100 AS BIGINT) AS n_symbols, "
            "CAST(20 AS BIGINT) AS n_days, "
            "CAST(0 AS BIGINT) AS bad_prices, "
            "CAST(0 AS BIGINT) AS non_monotone, "
            "true AS rebuild_identical"
        ),
        "text_mojibake": """
            WITH corrupted AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' cafÃ© â€œquote'
                               ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN ' �' ELSE '' END AS t
                FROM documents
            ),
            scored AS (
                SELECT doc_id,
                       CAST(length(t) AS BIGINT) AS n_chars,
                       CAST(
                         (length(t) - length(replace(t, '�', '')))
                       + (length(t) - length(replace(t, 'Ã©', ''))) // 2
                       + (length(t) - length(replace(t, 'Ã±', ''))) // 2
                       + (length(t) - length(replace(t, 'Ã¼', ''))) // 2
                       + (length(t) - length(replace(t, 'â€', ''))) // 2
                       + (length(t) - length(replace(t, 'Â ', ''))) // 2
                       AS BIGINT) AS n_mojibake
                FROM corrupted
            )
            SELECT doc_id, n_chars, n_mojibake,
                   CASE WHEN n_chars > 0
                        THEN CAST(n_mojibake AS DOUBLE) / n_chars
                        ELSE 0.0 END AS mojibake_ratio,
                   (CASE WHEN n_chars > 0
                         THEN CAST(n_mojibake AS DOUBLE) / n_chars
                         ELSE 0.0 END) > 0.001 AS is_mojibake
            FROM scored
            ORDER BY doc_id
        """,
        "events_ohlc_bars": """
            WITH keyed AS (
                SELECT event_type,
                       CAST(FLOOR(epoch(ts)) AS BIGINT)
                           // 3600 * 3600 AS b,
                       value,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS e,
                       event_id
                FROM events
            ),
            ranked AS (
                SELECT *,
                       row_number() OVER (
                           PARTITION BY event_type, b
                           ORDER BY e, event_id
                       ) AS rn_a,
                       row_number() OVER (
                           PARTITION BY event_type, b
                           ORDER BY e DESC, event_id DESC
                       ) AS rn_d
                FROM keyed
            )
            SELECT event_type,
                   make_timestamp(b * 1000000) AS bar_ts,
                   MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
                   MAX(value) AS high,
                   MIN(value) AS low,
                   MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM ranked
            GROUP BY event_type, b
            ORDER BY event_type, bar_ts
        """,
        "events_common_paths": """
            WITH lagged AS (
                SELECT lag(event_type, 2) OVER w AS s0,
                       lag(event_type, 1) OVER w AS s1,
                       event_type AS s2
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            paths AS (
                SELECT s0 || ' > ' || s1 || ' > ' || s2 AS path
                FROM lagged WHERE s0 IS NOT NULL
            ),
            counts AS (
                SELECT path, CAST(count(*) AS BIGINT) AS n_occurrences
                FROM paths GROUP BY path
            ),
            ranked AS (
                SELECT path, n_occurrences,
                       row_number() OVER (
                           ORDER BY n_occurrences DESC, path
                       ) AS rank
                FROM counts
            )
            SELECT path, n_occurrences, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 25
            ORDER BY rank
        """,
        "events_transition_matrix": """
            WITH pairs AS (
                SELECT lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS from_state,
                       event_type AS to_state
                FROM events
            ),
            counts AS (
                SELECT from_state, to_state,
                       CAST(count(*) AS BIGINT) AS n_transitions
                FROM pairs WHERE from_state IS NOT NULL
                GROUP BY from_state, to_state
            )
            SELECT from_state, to_state, n_transitions,
                   n_transitions / SUM(n_transitions) OVER (
                       PARTITION BY from_state
                   ) AS prob
            FROM counts
            ORDER BY from_state, to_state
        """,
        "events_scd2_validate": """
            WITH ordered AS (
                SELECT user_id, ts, event_type, event_id,
                       lag(ts) OVER w AS prev_ts,
                       lag(event_type) OVER w AS prev_type
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            flagged AS (
                SELECT user_id, ts, event_type, event_id,
                       CASE
                           WHEN prev_ts IS NULL THEN 1
                           WHEN event_type IS DISTINCT FROM prev_type THEN 1
                           ELSE 0
                       END AS chg
                FROM ordered
            ),
            versions AS (
                SELECT user_id, ts, chg,
                       SUM(chg) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS ver
                FROM flagged
            ),
            dim AS (
                SELECT user_id, ts AS effective_from,
                       lead(ts) OVER (
                           PARTITION BY user_id ORDER BY ver
                       ) AS effective_to,
                       ver
                FROM versions WHERE chg = 1
            ),
            corrupted AS (
                SELECT user_id,
                       CASE WHEN ver % 7 = 0 AND ver > 1
                            THEN effective_from - INTERVAL 1 HOUR
                            ELSE effective_from END AS effective_from,
                       CASE WHEN ver % 19 = 0
                            THEN effective_from - INTERVAL 1 HOUR
                            WHEN ver = 1 AND user_id % 13 = 0
                            THEN NULL
                            ELSE effective_to END AS effective_to
                FROM dim
            ),
            checked AS (
                SELECT user_id AS key, effective_from,
                       effective_to AS _to,
                       lag(effective_to) OVER (
                           PARTITION BY user_id ORDER BY effective_from
                       ) AS _prev_to,
                       SUM(CASE WHEN effective_to IS NULL THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id) AS _n_open
                FROM corrupted
            )
            SELECT key, effective_from, violation FROM (
                SELECT key, effective_from, 'inverted' AS violation
                FROM checked
                WHERE _to IS NOT NULL AND _to <= effective_from
                UNION ALL
                SELECT key, effective_from, 'overlap'
                FROM checked
                WHERE _prev_to IS NOT NULL AND effective_from < _prev_to
                UNION ALL
                SELECT key, effective_from, 'gap'
                FROM checked
                WHERE _prev_to IS NOT NULL AND effective_from > _prev_to
                UNION ALL
                SELECT key, effective_from, 'multiple_current'
                FROM checked
                WHERE _n_open > 1 AND _to IS NULL
            )
            ORDER BY key, effective_from, violation
        """,
        "events_asof_nearest": """
            WITH clicks AS (
                SELECT user_id, event_id AS click_id, ts
                FROM events WHERE event_type = 'click'
            ),
            purch AS (
                SELECT user_id, ts, value
                FROM events WHERE event_type = 'purchase'
            ),
            pairs AS (
                SELECT c.click_id, p.ts AS pts, p.value,
                       abs(epoch(p.ts) - epoch(c.ts)) AS dist,
                       CASE WHEN p.ts <= c.ts THEN 0 ELSE 1 END AS fwd
                FROM clicks c JOIN purch p ON c.user_id = p.user_id
            ),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY click_id ORDER BY dist, fwd
                ) AS rn
                FROM pairs
            )
            SELECT c.user_id, c.click_id,
                   r.pts AS purchase_ts,
                   r.value AS purchase_value
            FROM clicks c
            LEFT JOIN ranked r
              ON c.click_id = r.click_id AND r.rn = 1
             AND r.dist <= 86400.0
            ORDER BY c.click_id
        """,
        "events_seasonal_anomalies": """
            WITH keyed AS (
                SELECT event_type,
                       CAST(extract(hour FROM ts) AS INTEGER) AS season_slot,
                       value
                FROM events
            ),
            baseline AS (
                SELECT event_type, season_slot,
                       avg(value) AS m,
                       stddev_pop(value) AS s
                FROM keyed GROUP BY event_type, season_slot
            )
            SELECT k.event_type, k.season_slot,
                   CAST(count(*) AS BIGINT) AS n_obs,
                   CAST(SUM(CASE WHEN b.s > 0
                                  AND abs(k.value - b.m) > 3.0 * b.s
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
                   list_sum(list_sort(list(k.value))) / count(*)
                       AS slot_mean,
                   sqrt(GREATEST(
                       list_sum(list_sort(list(k.value * k.value)))
                           / count(*)
                       - (list_sum(list_sort(list(k.value))) / count(*))
                         * (list_sum(list_sort(list(k.value))) / count(*)),
                       0.0)) AS slot_std
            FROM keyed k
            JOIN baseline b
              ON k.event_type = b.event_type
             AND k.season_slot = b.season_slot
            GROUP BY k.event_type, k.season_slot, b.m, b.s
            ORDER BY k.event_type, k.season_slot
        """,
        "events_incremental_agg": """
            SELECT event_type,
                   CAST(count(value) AS BIGINT) AS n,
                   ROUND(SUM(value), 2) AS value_sum,
                   ROUND(MIN(value), 6) AS value_min,
                   ROUND(MAX(value), 6) AS value_max,
                   ROUND(SUM(value) / count(value), 6) AS value_avg
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "emb_mrl_truncation": """
            WITH expl AS (
                SELECT e.vec_id, t.i,
                       CAST(e.embedding[t.i] AS DOUBLE) AS x
                FROM embeddings e, range(1, 9) t(i)
            ),
            norms AS (
                SELECT vec_id, sqrt(SUM(x * x)) AS nrm
                FROM expl GROUP BY vec_id
            )
            SELECT e.vec_id,
                   ROUND(n.nrm, 6) AS mrl_norm,
                   string_agg(
                       printf('%.6f', ROUND(
                           CASE WHEN n.nrm > 0 THEN e.x / n.nrm
                                ELSE e.x END, 6)),
                       '|' ORDER BY e.i) AS vec_mrl
            FROM expl e JOIN norms n ON e.vec_id = n.vec_id
            GROUP BY e.vec_id, n.nrm
            ORDER BY e.vec_id
        """,
        "events_streaming_cdc": """
            WITH ranked AS (
                SELECT user_id, event_id, event_type, value,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY event_id DESC
                       ) AS rn
                FROM events
            )
            SELECT user_id,
                   event_id AS last_seq,
                   CAST(event_type <> 'error' AS BIGINT) AS alive,
                   event_type,
                   value,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM ranked
            WHERE rn = 1
            ORDER BY user_id
        """,
        "events_sequence_gaps": """
            WITH ids AS (
                SELECT DISTINCT event_id AS id FROM events
                WHERE event_id % 10 <> 3
                  AND NOT (event_id BETWEEN 500 AND 549)
            ),
            lagged AS (
                SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids
            )
            SELECT prev + 1 AS gap_start,
                   id - 1 AS gap_end,
                   id - prev - 1 AS gap_len
            FROM lagged
            WHERE prev IS NOT NULL AND id > prev + 1
            ORDER BY gap_start
        """,
        "privacy_dp_counts": """
            WITH counts AS (
                SELECT event_type,
                       CAST(count(*) AS BIGINT) AS true_count
                FROM events GROUP BY event_type
            ),
            noised AS (
                SELECT event_type, true_count,
                       (('0x' || substr(
                            md5('42-' || event_type), 1, 15
                        ))::BIGINT + 0.5) / 1152921504606846976.0 AS u
                FROM counts
            )
            SELECT event_type, true_count,
                   ROUND(true_count
                         - 1.0 * sign(u - 0.5)
                               * ln(1.0 - 2.0 * abs(u - 0.5)), 4)
                       AS noisy_count
            FROM noised
            ORDER BY event_type
        """,
        "events_stream_static_join": """
            WITH dim AS (
                SELECT * FROM (VALUES
                    ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
                    ('signup', 5.0), ('error', 0.0)
                ) AS t(event_type, weight)
            )
            SELECT e.event_id, e.event_type,
                   CAST(d.weight AS DOUBLE) AS weight,
                   e.value * CAST(d.weight AS DOUBLE) AS weighted_value,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM events e JOIN dim d ON e.event_type = d.event_type
            ORDER BY e.event_id
        """,
        "customers_rfm_segments": """
            WITH per_cust AS (
                SELECT o_custkey,
                       CAST(date_diff('day', max(o_orderdate),
                            (SELECT max(o_orderdate) FROM orders))
                            AS BIGINT) AS recency_days,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       ROUND(SUM(o_totalprice), 2) AS monetary
                FROM orders GROUP BY o_custkey
            ),
            cuts AS (
                SELECT quantile_cont(recency_days, 0.2) AS r0,
                       quantile_cont(recency_days, 0.4) AS r1,
                       quantile_cont(recency_days, 0.6) AS r2,
                       quantile_cont(recency_days, 0.8) AS r3,
                       quantile_cont(n_orders, 0.2) AS f0,
                       quantile_cont(n_orders, 0.4) AS f1,
                       quantile_cont(n_orders, 0.6) AS f2,
                       quantile_cont(n_orders, 0.8) AS f3,
                       quantile_cont(monetary, 0.2) AS m0,
                       quantile_cont(monetary, 0.4) AS m1,
                       quantile_cont(monetary, 0.6) AS m2,
                       quantile_cont(monetary, 0.8) AS m3
                FROM per_cust
            ),
            bucketed AS (
                SELECT p.o_custkey, p.recency_days, p.n_orders, p.monetary,
                       1 + CAST(p.recency_days > c.r0 AS INTEGER)
                         + CAST(p.recency_days > c.r1 AS INTEGER)
                         + CAST(p.recency_days > c.r2 AS INTEGER)
                         + CAST(p.recency_days > c.r3 AS INTEGER) AS r_bucket,
                       1 + CAST(p.n_orders > c.f0 AS INTEGER)
                         + CAST(p.n_orders > c.f1 AS INTEGER)
                         + CAST(p.n_orders > c.f2 AS INTEGER)
                         + CAST(p.n_orders > c.f3 AS INTEGER) AS f_bucket,
                       1 + CAST(p.monetary > c.m0 AS INTEGER)
                         + CAST(p.monetary > c.m1 AS INTEGER)
                         + CAST(p.monetary > c.m2 AS INTEGER)
                         + CAST(p.monetary > c.m3 AS INTEGER) AS m_bucket
                FROM per_cust p CROSS JOIN cuts c
            )
            SELECT o_custkey, recency_days, n_orders, monetary,
                   CAST(r_bucket AS INTEGER) AS r_bucket,
                   CAST(f_bucket AS INTEGER) AS f_bucket,
                   CAST(m_bucket AS INTEGER) AS m_bucket,
                   'R' || r_bucket || 'F' || f_bucket || 'M' || m_bucket
                       AS segment
            FROM bucketed
            ORDER BY o_custkey
        """,
        "events_zorder_layout": """
            WITH norm AS (
                SELECT event_id,
                       user_id % 1024 AS x,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 % 1024 AS y
                FROM events
            )
            SELECT event_id,
                   CAST(
                     ((x >> 0) & 1) * 1
                   + ((y >> 0) & 1) * 2
                   + ((x >> 1) & 1) * 4
                   + ((y >> 1) & 1) * 8
                   + ((x >> 2) & 1) * 16
                   + ((y >> 2) & 1) * 32
                   + ((x >> 3) & 1) * 64
                   + ((y >> 3) & 1) * 128
                   + ((x >> 4) & 1) * 256
                   + ((y >> 4) & 1) * 512
                   + ((x >> 5) & 1) * 1024
                   + ((y >> 5) & 1) * 2048
                   + ((x >> 6) & 1) * 4096
                   + ((y >> 6) & 1) * 8192
                   + ((x >> 7) & 1) * 16384
                   + ((y >> 7) & 1) * 32768
                   + ((x >> 8) & 1) * 65536
                   + ((y >> 8) & 1) * 131072
                   + ((x >> 9) & 1) * 262144
                   + ((y >> 9) & 1) * 524288
                   AS BIGINT) AS zvalue
            FROM norm
            ORDER BY event_id
        """,
        "lineitem_expectations": """
            WITH agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50
                                     THEN 1 ELSE 0 END) AS BIGINT) AS p_qty,
                       CAST(SUM(CASE WHEN l_extendedprice > 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS p_price,
                       CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.2
                                     THEN 1 ELSE 0 END) AS BIGINT) AS p_disc,
                       CAST(SUM(CASE WHEN l_tax BETWEEN 0.0 AND 0.2
                                     THEN 1 ELSE 0 END) AS BIGINT) AS p_tax,
                       CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R')
                                     THEN 1 ELSE 0 END) AS BIGINT) AS p_flag
                FROM lineitem
            )
            SELECT rule, n AS n_rows, n_pass, n - n_pass AS n_fail
            FROM (
                SELECT n, 'discount_bounded' AS rule, p_disc AS n_pass FROM agg
                UNION ALL
                SELECT n, 'flag_known', p_flag FROM agg
                UNION ALL
                SELECT n, 'price_positive', p_price FROM agg
                UNION ALL
                SELECT n, 'quantity_in_range', p_qty FROM agg
                UNION ALL
                SELECT n, 'tax_bounded', p_tax FROM agg
            )
            ORDER BY rule
        """,
        "events_psi_drift": """
            WITH ref AS (
                SELECT value FROM events
                WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
            ),
            cur AS (
                SELECT value FROM events
                WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
            ),
            cuts AS (
                SELECT quantile_cont(value, 0.2) AS q0,
                       quantile_cont(value, 0.4) AS q1,
                       quantile_cont(value, 0.6) AS q2,
                       quantile_cont(value, 0.8) AS q3
                FROM ref
            ),
            eb AS (
                SELECT 1 + CAST(r.value > c.q0 AS INTEGER)
                         + CAST(r.value > c.q1 AS INTEGER)
                         + CAST(r.value > c.q2 AS INTEGER)
                         + CAST(r.value > c.q3 AS INTEGER) AS bucket,
                       count(*) AS c
                FROM ref r CROSS JOIN cuts c GROUP BY 1
            ),
            ab AS (
                SELECT 1 + CAST(a.value > c.q0 AS INTEGER)
                         + CAST(a.value > c.q1 AS INTEGER)
                         + CAST(a.value > c.q2 AS INTEGER)
                         + CAST(a.value > c.q3 AS INTEGER) AS bucket,
                       count(*) AS c
                FROM cur a CROSS JOIN cuts c GROUP BY 1
            ),
            es AS (
                SELECT bucket, c / (SELECT SUM(c) FROM eb) AS expected_share
                FROM eb
            ),
            asx AS (
                SELECT bucket, c / (SELECT SUM(c) FROM ab) AS actual_share
                FROM ab
            ),
            spine AS (
                SELECT t.b AS bucket FROM unnest([1, 2, 3, 4, 5]) AS t(b)
            ),
            joined AS (
                SELECT sp.bucket,
                       COALESCE(expected_share, 0.0) AS expected_share,
                       COALESCE(actual_share, 0.0) AS actual_share
                FROM spine sp
                LEFT JOIN es ON sp.bucket = es.bucket
                LEFT JOIN asx ON sp.bucket = asx.bucket
            )
            SELECT CAST(bucket AS INTEGER) AS bucket,
                   ROUND(expected_share, 6) AS expected_share,
                   ROUND(actual_share, 6) AS actual_share,
                   ROUND((GREATEST(actual_share, 1e-6)
                          - GREATEST(expected_share, 1e-6))
                         * ln(GREATEST(actual_share, 1e-6)
                              / GREATEST(expected_share, 1e-6)), 6)
                       AS psi_term
            FROM joined
            ORDER BY bucket
        """,
        "events_span_overlap": """
            WITH base AS (
                SELECT user_id, event_type,
                       CAST(ts AS DATE) AS day,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep
                FROM events
            ),
            clicks AS (
                SELECT user_id, day AS click_day,
                       min(ep) AS cs, max(ep) AS ce
                FROM base WHERE event_type = 'click'
                GROUP BY user_id, day
            ),
            purchases AS (
                SELECT user_id, day AS purchase_day,
                       min(ep) AS ps, max(ep) AS pe
                FROM base WHERE event_type = 'purchase'
                GROUP BY user_id, day
            )
            SELECT c.user_id, c.click_day, p.purchase_day,
                   CAST(LEAST(c.ce, p.pe) - GREATEST(c.cs, p.ps) AS BIGINT)
                       AS overlap_seconds
            FROM clicks c
            JOIN purchases p
              ON c.user_id = p.user_id
             AND c.cs <= p.pe AND p.ps <= c.ce
            ORDER BY c.user_id, click_day, purchase_day
        """,
        "events_feature_scaling": """
            WITH cuts AS (
                SELECT quantile_cont(value, 0.25) AS q0,
                       quantile_cont(value, 0.5) AS q1,
                       quantile_cont(value, 0.75) AS q2
                FROM events
            ),
            stats AS (
                SELECT event_type,
                       quantile_cont(value, 0.5) AS c,
                       quantile_cont(value, 0.75)
                           - quantile_cont(value, 0.25) AS s
                FROM events GROUP BY event_type
            ),
            scored AS (
                SELECT e.event_type,
                       1 + CAST(e.value > cu.q0 AS INTEGER)
                         + CAST(e.value > cu.q1 AS INTEGER)
                         + CAST(e.value > cu.q2 AS INTEGER) AS value_bucket,
                       CASE WHEN st.s > 0
                            THEN (e.value - st.c) / st.s
                            ELSE 0.0 END AS z
                FROM events e
                CROSS JOIN cuts cu
                JOIN stats st ON e.event_type = st.event_type
            )
            SELECT event_type,
                   CAST(value_bucket AS INTEGER) AS value_bucket,
                   CAST(count(*) AS BIGINT) AS n_events,
                   ROUND(min(z), 4) AS z_min,
                   ROUND(max(z), 4) AS z_max
            FROM scored
            GROUP BY 1, 2
            ORDER BY event_type, value_bucket
        """,
        "docs_contrastive_negatives": """
            WITH ranked AS (
                SELECT doc_id,
                       ('0x' || substr(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 15)
                       )::BIGINT % 16 AS b,
                       md5('43-' || CAST(doc_id AS VARCHAR)) AS ord
                FROM documents
            ),
            rr AS (
                SELECT doc_id, b,
                       row_number() OVER (
                           PARTITION BY b ORDER BY ord, doc_id
                       ) AS r,
                       count(*) OVER (PARTITION BY b) AS n
                FROM ranked
            ),
            anchors AS (
                SELECT rr.doc_id AS anchor_id, rr.b,
                       t.j AS neg_index,
                       ((rr.r - 1 + t.j) % rr.n) + 1 AS target
                FROM rr, unnest([1, 2]) AS t(j)
            )
            SELECT a.anchor_id, n.doc_id AS negative_id,
                   CAST(a.neg_index AS INTEGER) AS neg_index
            FROM anchors a
            JOIN rr n ON a.b = n.b AND a.target = n.r
            WHERE a.anchor_id <> n.doc_id
            ORDER BY anchor_id, neg_index
        """,
        "docs_weighted_sample": """
            WITH keyed AS (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY
                               ln((('0x' || substr(
                                       md5(CAST(doc_id AS VARCHAR)), 1, 15
                                   ))::BIGINT + 1)
                                  / 1152921504606846976.0)
                               / CAST(n_chars AS DOUBLE) DESC,
                               doc_id
                       ) AS rn
                FROM documents
                WHERE n_chars > 0
            )
            SELECT doc_id, source, n_chars
            FROM keyed WHERE rn <= 20
            ORDER BY doc_id
        """,
        "docs_source_quota": """
            WITH ranked AS (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS rn
                FROM documents
            )
            SELECT doc_id, source, n_chars
            FROM ranked WHERE rn <= 50
            ORDER BY doc_id
        """,
        "docs_token_budget": """
            WITH running AS (
                SELECT source, doc_id, n_chars,
                       SUM(CAST(n_chars AS DOUBLE)) OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum_weight
                FROM documents
            )
            SELECT source, doc_id, n_chars, cum_weight
            FROM running WHERE cum_weight <= 100000.0
            ORDER BY source, cum_weight
        """,
        "events_winsorized_stats": """
            WITH clips AS (
                SELECT quantile_cont(value, 0.01) AS lo,
                       quantile_cont(value, 0.99) AS hi
                FROM events
            ),
            clipped AS (
                SELECT e.event_type, e.value,
                       LEAST(GREATEST(e.value, c.lo), c.hi) AS vw,
                       c.lo, c.hi
                FROM events e CROSS JOIN clips c
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   ROUND(SUM(vw), 2) AS clipped_sum,
                   ROUND(MIN(vw), 4) AS clipped_min,
                   ROUND(MAX(vw), 4) AS clipped_max,
                   CAST(SUM(CASE WHEN value < lo OR value > hi
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
            FROM clipped
            GROUP BY event_type
            ORDER BY event_type
        """,
        "docs_streaming_dedup": r"""
            WITH unioned AS (
                SELECT doc_id,
                       lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS content,
                       TIMESTAMP '2024-01-01 00:00:00'
                           + (doc_id % 100000) * INTERVAL 1 MINUTE AS ts
                FROM documents
                UNION ALL
                SELECT doc_id + 1000000,
                       lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                       TIMESTAMP '2024-01-01 00:00:00'
                           + (doc_id % 100000) * INTERVAL 1 MINUTE
                           + INTERVAL 1 DAY
                FROM documents
            ),
            ranked AS (
                SELECT doc_id, ts,
                       row_number() OVER (PARTITION BY content
                                          ORDER BY ts, doc_id) AS rn
                FROM unioned
            )
            SELECT doc_id, ts AS first_seen_ts,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM ranked WHERE rn = 1
            ORDER BY doc_id
        """,
        "dedup_incremental": r"""
            WITH norm AS (
                SELECT doc_id, text,
                       lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS content
                FROM documents
            ),
            half AS (SELECT COUNT(*) // 2 AS h FROM documents),
            seen AS (
                SELECT DISTINCT content FROM norm, half WHERE doc_id < h
            ),
            newb AS (
                SELECT doc_id, content FROM norm, half WHERE doc_id >= h
                UNION ALL
                SELECT doc_id + 1000000, content FROM norm WHERE doc_id < 5
                UNION ALL
                SELECT doc_id + 2000000, content FROM norm, half WHERE doc_id = h
            ),
            batch_dedup AS (
                SELECT doc_id, content,
                       row_number() OVER (PARTITION BY content
                                          ORDER BY doc_id) AS rn
                FROM newb
            )
            SELECT b.doc_id
            FROM batch_dedup b LEFT JOIN seen s ON b.content = s.content
            WHERE b.rn = 1 AND s.content IS NULL
            ORDER BY b.doc_id
        """,
        "events_hot_keys": """
            WITH c AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM events GROUP BY user_id
            ),
            t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM events)
            SELECT user_id, cnt,
                   cnt / total AS share,
                   CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
                        AS INTEGER) AS rank
            FROM c CROSS JOIN t
            ORDER BY rank
            LIMIT 20
        """,
        "privacy_k_anonymity": """
            SELECT c_nationkey, c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS class_size,
                   CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
                   (COUNT(*) < 5) AS violates_k,
                   (COUNT(DISTINCT c_acctbal) <= 1) AS homogeneous
            FROM customer
            GROUP BY c_nationkey, c_mktsegment
            ORDER BY c_nationkey, c_mktsegment
        """,
        "events_gap_fill": """
            WITH obs AS (
                SELECT user_id,
                       -- floor, not ::BIGINT: the cast ROUNDS fractional
                       -- seconds while Spark's unix_timestamp truncates
                       (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600
                           AS bucket,
                       arg_max(value, event_id) AS v
                FROM events
                GROUP BY 1, 2
            ),
            spans AS (
                SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
                FROM obs GROUP BY 1
            ),
            lattice AS (
                SELECT user_id,
                       unnest([b FOR b IN range(lo, hi + 1, 21600)]) AS bucket
                FROM spans
            ),
            j AS (
                SELECT l.user_id, l.bucket, obs.v
                FROM lattice l LEFT JOIN obs
                  ON l.user_id = obs.user_id AND l.bucket = obs.bucket
            )
            SELECT user_id,
                   to_timestamp(bucket)::TIMESTAMP AS bucket_ts,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value,
                   (v IS NOT NULL) AS was_observed
            FROM j
            ORDER BY user_id, bucket_ts
        """,
        "dedup_fuzzy_records": r"""
            WITH c AS (
                SELECT c_custkey,
                       lower(regexp_replace(trim(c_name), '\s+', ' ', 'g')) AS nm
                FROM customer
            ),
            b AS (
                SELECT c_custkey, nm, substr(nm, 1, 16) AS blk FROM c
            )
            SELECT a.c_custkey AS id_a, b2.c_custkey AS id_b,
                   CAST(levenshtein(a.nm, b2.nm) AS INTEGER) AS distance
            FROM b a JOIN b b2
              ON a.blk = b2.blk AND a.c_custkey < b2.c_custkey
            WHERE levenshtein(a.nm, b2.nm) <= 1
            ORDER BY id_a, id_b
        """,
        "dedup_semantic": """
            WITH e AS (
                SELECT vec_id, CAST(label AS BIGINT) AS cluster,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            dropped AS (
                SELECT DISTINCT b.vec_id
                FROM e a JOIN e b
                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                WHERE ROUND(list_cosine_similarity(a.v, b.v), 4) >= 0.45
            )
            SELECT e.vec_id, e.cluster, (d.vec_id IS NULL) AS keep
            FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
            ORDER BY e.vec_id
        """,
        "events_streaming_sessions": """
            WITH w AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
            ),
            s AS (
                SELECT user_id, ts, value,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_seq
                FROM w
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 2) AS value_sum,
                   CAST(0 AS BIGINT) AS stream_batch_mismatches
            FROM s GROUP BY user_id, session_seq
            ORDER BY user_id, session_start
        """,
        "text_dup_spans": r"""
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                FROM documents
            ),
            sp AS (
                SELECT doc_id,
                       md5(array_to_string(list_slice(w, i + 1, i + 10), ' ')) AS h
                FROM (
                    SELECT doc_id, w,
                           unnest([i FOR i IN range(0, greatest(len(w) - 10, 0) + 1, 5)]) AS i
                    FROM t
                )
            ),
            dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2)
            SELECT sp.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_spans,
                   round(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                         / COUNT(*), 4) AS dup_span_fraction
            FROM sp LEFT JOIN dup ON sp.h = dup.h
            GROUP BY sp.doc_id
            ORDER BY sp.doc_id
        """,
        "text_charlm_quality": _charlm_sql() + " ORDER BY t.doc_id",
        "text_dsir_importance": f"""
            SELECT a.doc_id,
                   a.n_bigrams,
                   a.bits_per_char AS bits_raw,
                   b.bits_per_char AS bits_target,
                   round(a.n_bigrams * (a.bits_per_char - b.bits_per_char), 4)
                       AS log2_weight
            FROM ({_charlm_sql()}) a
            JOIN ({_charlm_sql("WHERE source = 'src0'")}) b USING (doc_id)
            ORDER BY a.doc_id
        """,
        "corpus_mix_epochs": """
            WITH b AS (
                SELECT doc_id, source,
                       ('0x' || substr(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 15)
                       )::BIGINT % 1000000 AS bucket
                FROM documents
            ),
            c AS (
                SELECT doc_id, source,
                       CASE WHEN source = 'src0'
                                THEN 0 + CASE WHEN bucket < 500000 THEN 1 ELSE 0 END
                            WHEN source = 'src1'
                                THEN 2 + CASE WHEN bucket < 250000 THEN 1 ELSE 0 END
                            WHEN source = 'src2' THEN 1
                            WHEN source = 'src3' THEN 3
                            ELSE 0 END AS n
                FROM b
            )
            SELECT doc_id, source,
                   CAST(unnest([i FOR i IN range(n)]) AS BIGINT) AS epoch
            FROM c WHERE n > 0
            ORDER BY doc_id, epoch
        """,
        "corpus_pack_sequences": """
            WITH b AS (
                SELECT doc_id, n_chars,
                       ('0x' || substr(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 15)
                       )::BIGINT % 8 AS shard,
                       md5('43-' || CAST(doc_id AS VARCHAR)) AS ord
                FROM documents
            ),
            s AS (
                SELECT doc_id, shard, n_chars,
                       CAST(COALESCE(SUM(n_chars) OVER (
                           PARTITION BY shard ORDER BY ord, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS start_offset
                FROM b
            )
            SELECT doc_id,
                   CAST(shard AS BIGINT) AS shard,
                   start_offset,
                   CAST(n_chars AS BIGINT) AS n_tokens,
                   CAST(start_offset // 2048 AS BIGINT) AS first_seq,
                   CAST(CASE WHEN n_chars > 0
                             THEN (start_offset + n_chars - 1) // 2048
                             ELSE start_offset // 2048 END AS BIGINT) AS last_seq,
                   CAST(CASE WHEN n_chars > 0
                             THEN (start_offset + n_chars - 1) // 2048
                             ELSE start_offset // 2048 END
                        - start_offset // 2048 + 1 AS BIGINT) AS n_seqs
            FROM s
            ORDER BY doc_id
        """,
        "sample_split_assign": """
            WITH b AS (
                SELECT doc_id,
                       ('0x' || substr(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 15)
                       )::BIGINT % 1000000 AS bucket
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN bucket < 800000 THEN 'train'
                        WHEN bucket < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
            ORDER BY doc_id
        """,
        "text_tfidf": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                FROM documents
            ),
            toks_f AS (SELECT doc_id, token FROM toks WHERE token <> ''),
            tf AS (
                SELECT doc_id, token, COUNT(*) AS tf
                FROM toks_f GROUP BY doc_id, token
            ),
            docfreq AS (
                SELECT token, COUNT(DISTINCT doc_id) AS df
                FROM toks_f GROUP BY token
            ),
            n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.token, tf.tf, docfreq.df,
                       ROUND(tf.tf * ln(n.n_docs / docfreq.df), 4) AS tfidf
                FROM tf JOIN docfreq USING (token) CROSS JOIN n
            ),
            ranked AS (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC
                ) AS rank
                FROM scored
            )
            SELECT doc_id, token, tf, df, tfidf, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3
            ORDER BY doc_id, rank
        """,
        "text_bm25_search": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                FROM documents
            ),
            doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM doclen),
            hits AS (
                SELECT doc_id, token FROM toks
                WHERE token IN ('window', 'column', 'scan')
            ),
            tf AS (
                SELECT doc_id, token, COUNT(*) AS tf FROM hits GROUP BY doc_id, token
            ),
            docfreq AS (
                SELECT token, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY token
            )
            SELECT tf.doc_id,
                   ROUND(SUM(
                       ln(1.0 + (stats.n_docs - docfreq.df + 0.5) / (docfreq.df + 0.5))
                       * tf.tf * (1.2 + 1.0)
                       / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / stats.avgdl))
                   ), 4) AS bm25,
                   COUNT(*) AS n_terms_matched
            FROM tf
            JOIN docfreq USING (token)
            JOIN doclen ON tf.doc_id = doclen.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
            ORDER BY bm25 DESC, tf.doc_id ASC
            LIMIT 20
        """,
        "ann_kmeans_ivf": (
            "SELECT true AS inertia_monotone, CAST(16 AS INTEGER) AS cells_used, "
            "true AS recall_ok"
        ),
        # hand-counted Unicode-script expectations for the fixture set
        "text_script_profile": """
            SELECT * FROM (VALUES
                (1::BIGINT, 11::BIGINT, 10::BIGINT, 0::BIGINT, 0::BIGINT,
                 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT,
                 0::BIGINT, 0::BIGINT, 0::BIGINT, 'latin'),
                (2, 10, 0, 9, 0, 0, 0, 0, 0, 0, 0, 0, 0, 'cyrillic'),
                (3, 4, 0, 0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 'han'),
                (4, 17, 5, 6, 0, 0, 0, 0, 0, 0, 0, 0, 3, 'cyrillic'),
                (5, 5, 0, 0, 0, 5, 0, 0, 0, 0, 0, 0, 0, 'arabic'),
                (6, 6, 0, 0, 0, 0, 6, 0, 0, 0, 0, 0, 0, 'devanagari'),
                (7, 5, 0, 0, 0, 0, 0, 5, 0, 0, 0, 0, 0, 'hangul'),
                (8, 9, 0, 0, 0, 0, 0, 0, 5, 4, 0, 0, 0, 'hiragana'),
                (9, 8, 0, 0, 0, 0, 0, 0, 0, 0, 7, 0, 0, 'greek'),
                (10, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 4, 0, 'hebrew'),
                (11, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 'none'),
                (12, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
                 NULL, NULL, NULL, NULL, 'none')
            ) AS t(id, n_chars, latin, cyrillic, han, arabic, devanagari,
                   hangul, hiragana, katakana, greek, hebrew, digits,
                   dominant_script)
            ORDER BY id
        """,
        # hand-derived expected flattening for the JSON fixture set
        "json_flatten_conformance": """
            SELECT * FROM (VALUES
                (1::BIGINT, 1::BIGINT, NULL::DOUBLE, 'a', 'US',
                 2::INTEGER, 'x,y'),
                (2, 2, 3.5, 'b', NULL, NULL, NULL),
                (3, 3, NULL, NULL, NULL, 0, ''),
                (4, NULL, NULL, NULL, NULL, NULL, NULL),
                (5, NULL, NULL, NULL, NULL, NULL, NULL)
            ) AS t(id, k, extra, user_name, user_geo_cc, n_tags, tags_csv)
            ORDER BY id
        """,
        "docs_jaccard_search": """
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ),
            sh0 AS (
                SELECT doc_id,
                       list_distinct([concat_ws(' ', w[i], w[i+1], w[i+2])
                                      for i in generate_series(
                                          1, greatest(len(w)-2, 1))])
                         AS shingles
                FROM t
            ),
            sc AS (
                SELECT doc_id,
                       CAST(len(list_intersect(shingles,
                            ['spark batch part', 'batch part line',
                             'part line column', 'line column order']))
                            AS BIGINT) AS n_common,
                       len(shingles) AS n_d
                FROM sh0
            )
            SELECT doc_id, n_common,
                   ROUND(n_common::DOUBLE / (n_d + 4 - n_common), 4)
                     AS jaccard
            FROM sc WHERE n_common > 0
            ORDER BY jaccard DESC, doc_id LIMIT 10
        """,
        # fixed literal merge table; the replace chain is the encoder
        "text_bpe_encode": """
            WITH w AS (
                SELECT doc_id, lang,
                       unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS w
                FROM documents
            ),
            nz AS (SELECT * FROM w WHERE w <> ''),
            e AS (
                SELECT doc_id, lang,
                       len(list_filter(string_split(
                           replace(replace(replace(replace(replace(
                           replace(replace(replace(
                               ' ' || array_to_string(
                                   string_split(w, ''), ' '),
                           ' t h', ' th'), ' th e', ' the'),
                           ' i n', ' in'), ' a n', ' an'),
                           ' an d', ' and'), ' e r', ' er'),
                           ' o n', ' on'), ' r e', ' re'),
                       ' '), x -> x <> '')) AS n_tok
                FROM nz
            ),
            agg AS (
                SELECT lang, count(*) AS n_words,
                       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
                FROM e GROUP BY lang
            )
            SELECT d.lang,
                   count(*)::BIGINT AS n_docs,
                   CAST(COALESCE(MAX(agg.n_words), 0) AS BIGINT) AS n_words,
                   CAST(COALESCE(MAX(agg.n_tokens), 0) AS BIGINT)
                     AS n_tokens
            FROM documents d LEFT JOIN agg ON d.lang = agg.lang
            GROUP BY d.lang
            ORDER BY d.lang
        """,
        # the text_bpe_encode merge table applied per word, plus char
        # counts: fertility and compression are one IEEE division
        # each of exact longs — replayed to the bit
        "corpus_tokenizer_fertility": """
            WITH w AS (
                SELECT doc_id, lang,
                       unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS w
                FROM documents
            ),
            nz AS (SELECT * FROM w WHERE w <> ''),
            e AS (
                SELECT doc_id, lang, length(w)::BIGINT AS n_ch,
                       len(list_filter(string_split(
                           replace(replace(replace(replace(replace(
                           replace(replace(replace(
                               ' ' || array_to_string(
                                   string_split(w, ''), ' '),
                           ' t h', ' th'), ' th e', ' the'),
                           ' i n', ' in'), ' a n', ' an'),
                           ' an d', ' and'), ' e r', ' er'),
                           ' o n', ' on'), ' r e', ' re'),
                       ' '), x -> x <> '')) AS n_tok
                FROM nz
            ),
            agg AS (
                SELECT lang, count(*) AS n_words,
                       CAST(SUM(n_ch) AS BIGINT) AS n_chars,
                       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
                FROM e GROUP BY lang
            )
            SELECT d.lang AS "group",
                   count(*)::BIGINT AS n_docs,
                   CAST(COALESCE(MAX(agg.n_words), 0) AS BIGINT)
                     AS n_words,
                   CAST(COALESCE(MAX(agg.n_chars), 0) AS BIGINT)
                     AS n_chars,
                   CAST(COALESCE(MAX(agg.n_tokens), 0) AS BIGINT)
                     AS n_tokens,
                   CASE WHEN COALESCE(MAX(agg.n_words), 0) > 0 THEN
                       CAST(MAX(agg.n_tokens) AS DOUBLE)
                           / CAST(MAX(agg.n_words) AS DOUBLE)
                   END AS tokens_per_word,
                   CASE WHEN COALESCE(MAX(agg.n_tokens), 0) > 0 THEN
                       CAST(MAX(agg.n_chars) AS DOUBLE)
                           / CAST(MAX(agg.n_tokens) AS DOUBLE)
                   END AS chars_per_token
            FROM documents d LEFT JOIN agg ON d.lang = agg.lang
            GROUP BY d.lang
            ORDER BY d.lang
        """,
        # layout replayed from first principles: bucket cardinalities
        # of id % 7 over 10k rows, one file per bucket
        "layout_file_rows": """
            WITH b AS (
                SELECT i % 7 AS bucket, count(*) AS n
                FROM generate_series(0, 9999) t(i) GROUP BY 1
            )
            SELECT count(*)::BIGINT AS n_files,
                   CAST(SUM(n) AS BIGINT) AS total_rows,
                   CAST(MIN(n) AS BIGINT) AS min_rows,
                   CAST(MAX(n) AS BIGINT) AS max_rows,
                   CAST(FLOOR(SUM(n) / count(*)) AS BIGINT) AS avg_rows,
                   CAST(CEIL(SUM(n) / 3000.0) AS BIGINT)
                     AS recommended_files
            FROM b
        """,
        # hand-derived expected canonicalizations — independent truth
        # for the adversarial URL fixture set (NOT a mirrored impl)
        "text_url_canonical": """
            SELECT * FROM (VALUES
                (1::BIGINT, 'example.com/a/b?a=1&b=2', 'example.com'),
                (2, 'example.com/a/b?a=1&b=2', 'example.com'),
                (3, 'example.com', 'example.com'),
                (4, 'sub.shop.co.uk:8080/Path', 'shop.co.uk'),
                (5, '192.168.0.1/x', '192.168.0.1'),
                (6, 'blog.example.github.io/post', 'example.github.io'),
                (7, 'files.example.org/data', 'example.org'),
                (8, NULL, NULL),
                (9, NULL, NULL),
                (10, 'localhost:8000/api?q=term', 'localhost'),
                (11, 'example.com/s?q', 'example.com'),
                (12, 'news.bbc.co.uk/world/europe?id=9', 'bbc.co.uk')
            ) AS t(id, url_canonical, registrable_domain)
            ORDER BY id
        """,
        # persisted-layout twin: every emitted cell is a structural
        # invariant of the write/serve contract (pruned plan, <=
        # n_probe files, persisted == in-memory ranking), so the
        # oracle is the hand-stated expectation over the same
        # md5-selected probe ids
        "ann_ivfpq_persisted": """
            WITH q AS (
                SELECT vec_id AS qid FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2
            )
            SELECT qid,
                   CAST(8 AS INTEGER) AS n_cells,
                   CAST(4 AS INTEGER) AS n_probe,
                   true AS partition_pruned,
                   true AS files_scanned_le_probe,
                   true AS matches_memory
            FROM q ORDER BY qid
        """,
        # full relational replay of the k-gram-cover substring dedup:
        # duplicated 8-grams -> covered positions -> gaps-and-islands
        # span merge -> rebuilt text md5 (the removal itself verified)
        "docs_substring_dedup": """
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ),
            g AS (
                SELECT doc_id, i AS pos,
                       md5(array_to_string(w[i:i+7], ' ')) AS h
                FROM t,
                     unnest([x for x in generate_series(1, len(w) - 7)])
                     s(i)
            ),
            d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
            p AS (SELECT doc_id, pos FROM g JOIN d USING (h)),
            isl AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER (
                                PARTITION BY doc_id ORDER BY pos) <= 8
                            THEN 0 ELSE 1 END AS brk
                FROM p
            ),
            sid AS (
                SELECT doc_id, pos,
                       SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS s
                FROM isl
            ),
            spans AS (
                SELECT doc_id, s, MIN(pos) AS a, MAX(pos) + 7 AS b
                FROM sid GROUP BY doc_id, s
            ),
            agg AS (
                SELECT doc_id, count(*)::BIGINT AS n_spans,
                       CAST(SUM(b - a + 1) AS BIGINT) AS tokens_removed
                FROM spans GROUP BY doc_id
            ),
            toks AS (
                SELECT doc_id, j AS pos, w[j] AS tok
                FROM t,
                     unnest([x for x in generate_series(1, len(w))]) s(j)
            ),
            kept AS (
                SELECT tk.doc_id, tk.pos, tk.tok
                FROM toks tk
                WHERE NOT EXISTS (
                    SELECT 1 FROM spans sp
                    WHERE sp.doc_id = tk.doc_id
                      AND tk.pos BETWEEN sp.a AND sp.b
                )
            ),
            rebuilt AS (
                SELECT doc_id,
                       array_to_string(list(tok ORDER BY pos), ' ') AS txt
                FROM kept GROUP BY doc_id
            ),
            ntok AS (SELECT doc_id, len(w)::BIGINT AS n_tokens FROM t)
            SELECT a.doc_id, a.n_spans, a.tokens_removed, ntok.n_tokens,
                   md5(COALESCE(r.txt, '')) AS deduped_md5
            FROM agg a
            JOIN ntok USING (doc_id)
            LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY a.doc_id
        """,
        # hand-derived route counts for the 18-row multilingual fixture
        # (5 languages, 8 script buckets with both kana scripts folding
        # to und-jpan, language-beats-script, no-stopword latin,
        # digits-only, empty, NULL)
        "corpus_language_routing": """
            SELECT * FROM (VALUES
                ('de', 1::BIGINT), ('en', 2), ('es', 1), ('fr', 1),
                ('und', 4), ('und-arab', 1), ('und-cyrl', 1),
                ('und-deva', 1), ('und-grek', 1), ('und-hang', 1),
                ('und-hebr', 1), ('und-jpan', 2), ('zh', 1)
            ) AS t(route, n_docs)
            ORDER BY route
        """,
        # same integer-count features as text_quality (unrounded: each
        # is one IEEE division), logit folded left-to-right in the
        # documented feature order — bit-exact, no ROUND anywhere
        "text_quality_classifier": """
            WITH raw AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                       length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
                       length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS punct
                FROM documents
            ),
            feat AS (
                SELECT doc_id, n_chars,
                       len(toks) AS n_tokens,
                       len(list_distinct(toks)) AS n_distinct,
                       len(list_intersect(list_distinct(toks),
                           ['the','and','of','to','in','is','that','for','with','a'])) AS stop_hits,
                       alpha, digits, punct
                FROM raw
            ),
            f AS (
                SELECT doc_id,
                       alpha::DOUBLE / greatest(n_chars, 1) AS alpha_ratio,
                       digits::DOUBLE / greatest(n_chars, 1) AS digit_ratio,
                       punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
                       n_distinct::DOUBLE / greatest(n_tokens, 1) AS distinct_ratio,
                       stop_hits::DOUBLE / 10.0 AS stop_ratio,
                       least(n_tokens::DOUBLE / 100.0, 1.0) AS length_score
                FROM feat
            ),
            lg AS (
                SELECT *,
                       ((((((-3.0 + 3.5 * alpha_ratio)
                            + (-3.0) * digit_ratio)
                            + (-1.0) * punct_ratio)
                            + 1.5 * distinct_ratio)
                            + 2.0 * stop_ratio)
                            + 1.5 * length_score) AS logit
                FROM f
            )
            SELECT doc_id, alpha_ratio, digit_ratio, punct_ratio,
                   distinct_ratio, stop_ratio, length_score, logit,
                   logit >= 0.0 AS keep
            FROM lg
            ORDER BY doc_id
        """,
        # token-mass temperature + largest-remainder: integer counts,
        # sqrt masses, key-ordered IEEE fold, floor/frac/rank replayed
        # with the identical arithmetic — sums to the budget exactly
        "corpus_token_budget_mix": """
            WITH c AS (
                SELECT lang, COUNT(*)::BIGINT AS n_docs,
                       SUM(len(string_split_regex(trim(text), '\\s+')))::BIGINT
                           AS n_tokens
                FROM documents GROUP BY lang
            ),
            t AS (
                SELECT list_reduce(
                    list_prepend(0.0, list(sqrt(n_tokens::DOUBLE)
                                           ORDER BY lang)),
                    (a, b) -> a + b) AS tot
                FROM c
            ),
            w AS (
                SELECT lang, n_docs, n_tokens,
                       CASE WHEN tot > 0
                            THEN sqrt(n_tokens::DOUBLE) / tot
                            ELSE 0.0 END AS weight
                FROM c, t
            ),
            r AS (
                SELECT *,
                       CAST(floor(1000000.0 * weight) AS BIGINT) AS base,
                       1000000.0 * weight
                           - floor(1000000.0 * weight) AS frac
                FROM w
            ),
            s AS (
                SELECT *,
                       1000000 - SUM(base) OVER () AS rem,
                       ROW_NUMBER() OVER (ORDER BY frac DESC, lang ASC)
                           AS rk
                FROM r
            )
            SELECT lang, n_docs, n_tokens, weight,
                   (base + CASE WHEN rk <= rem THEN 1 ELSE 0 END)::BIGINT
                       AS target_tokens
            FROM s ORDER BY lang
        """,
        # planted-twin paragraph dedup: 12-token chunks, first-
        # occurrence winner over the trimmed paragraph key, per-doc
        # rebuild md5 (the reassembly itself verified); the minhash
        # containment invariant is true by construction (exact dups
        # always survive banding + verification)
        "docs_paragraph_dedup": """
            WITH base AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ),
            dup AS (
                SELECT doc_id, w FROM base
                UNION ALL
                SELECT doc_id + 1000000, w FROM base
            ),
            paras AS (
                SELECT doc_id, i AS pidx,
                       array_to_string(w[(i*12+1):((i+1)*12)], ' ') AS para
                FROM dup,
                     unnest([x for x in generate_series(0,
                         greatest(CAST(ceil(len(w) / 12.0) AS INT), 1)
                         - 1)]) s(i)
            ),
            np AS (
                SELECT doc_id, pidx, para FROM paras
                WHERE trim(para) != ''
            ),
            ranked AS (
                SELECT doc_id, pidx, para,
                       ROW_NUMBER() OVER (PARTITION BY trim(para)
                                          ORDER BY doc_id, pidx) AS rn
                FROM np
            ),
            reb AS (
                SELECT doc_id,
                       array_to_string(list(para ORDER BY pidx),
                                       chr(10) || chr(10)) AS txt,
                       COUNT(*)::BIGINT AS n_kept
                FROM ranked WHERE rn = 1 GROUP BY doc_id
            ),
            tot AS (
                SELECT doc_id, COUNT(*)::BIGINT AS n_total
                FROM np GROUP BY doc_id
            )
            SELECT t.doc_id,
                   t.n_total AS n_paragraphs,
                   (t.n_total - COALESCE(r.n_kept, 0))::BIGINT
                       AS n_paragraphs_removed,
                   md5(COALESCE(r.txt, '')) AS deduped_md5,
                   true AS minhash_removed_ge_exact
            FROM tot t LEFT JOIN reb r USING (doc_id)
            ORDER BY t.doc_id
        """,
        # conformance invariants per md5-selected probe query: the
        # routing-recall curve is monotone by construction (nested
        # probe prefixes), full probing reaches 1.0, and the
        # measurement replays under repartitioning
        "ann_ivfpq_nprobe_tune": """
            WITH q AS (
                SELECT vec_id AS qid FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 3
            )
            SELECT qid,
                   CAST(4 AS INTEGER) AS n_levels,
                   true AS monotone,
                   true AS full_probe_recall_one,
                   true AS replayable
            FROM q ORDER BY qid
        """,
        # full assignment replay: bucket CASE, md5 shard + order,
        # row_number batch arithmetic, checksum over every doc's
        # (batch_index, pos_in_batch)
        "docs_length_batches": """
            WITH t AS (
                SELECT doc_id,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT
                           AS n
                FROM documents WHERE text IS NOT NULL
            ),
            a AS (
                SELECT doc_id, n,
                       CASE WHEN n <= 32 THEN 0 WHEN n <= 64 THEN 1
                            WHEN n <= 96 THEN 2 ELSE 3 END AS bucket,
                       CASE WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
                            WHEN n <= 96 THEN 96 ELSE n END AS cap,
                       CASE WHEN n <= 32 THEN 64 WHEN n <= 64 THEN 32
                            WHEN n <= 96 THEN 21 ELSE 1 END AS bsize,
                       (('0x' || substr(md5('42-' ||
                            CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 4
                           AS shard,
                       md5('43-' || CAST(doc_id AS VARCHAR)) AS ordk
                FROM t
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY bucket, shard ORDER BY ordk, doc_id
                ) AS rn
                FROM a
            ),
            b AS (
                SELECT doc_id, n, bucket, cap, shard,
                       (rn - 1) // bsize AS batch_index,
                       (rn - 1) % bsize AS pos_in_batch,
                       cap - n AS pad
                FROM r
            )
            SELECT bucket,
                   COUNT(*)::BIGINT AS n_docs,
                   COUNT(DISTINCT shard * 1000000 + batch_index)::BIGINT
                       AS n_batches,
                   SUM(n)::BIGINT AS sum_tokens,
                   SUM(pad)::BIGINT AS sum_pad_tokens,
                   SUM((doc_id + 1) * (batch_index + 1)
                       * (pos_in_batch + 1))::BIGINT AS assignment_checksum,
                   SUM(pad)::DOUBLE / (SUM(n) + SUM(pad))::DOUBLE
                       AS pad_fraction
            FROM b GROUP BY bucket ORDER BY bucket
        """,
        # hosts derived from FIRST PRINCIPLES of the fixture (not URL
        # parsing — independent truth), then three weighted fixed-point
        # iterations with the exact two-term floor(damped*w/W) split
        "web_host_authority": """
            WITH raw AS (
                SELECT 'h' || CAST(user_id % 5 AS VARCHAR)
                           || '.example.com' AS sh,
                       'h' || CAST(event_id % 7 AS VARCHAR)
                           || '.example.com' AS dh
                FROM events
                WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            ),
            e AS (
                SELECT sh, dh, COUNT(*)::BIGINT AS w
                FROM raw WHERE sh <> dh GROUP BY sh, dh
            ),
            nodes AS (
                SELECT sh AS node FROM e UNION SELECT dh FROM e
            ),
            params AS (
                SELECT COUNT(*)::BIGINT AS n,
                       1000000000000 // COUNT(*)::BIGINT AS init_u,
                       ((1000000000000 // COUNT(*)::BIGINT) * 150000)
                           // 1000000 AS base
                FROM nodes
            ),
            deg AS (
                SELECT sh AS s, SUM(w)::BIGINT AS dg FROM e GROUP BY sh
            ),
            r0 AS (
                SELECT node, (SELECT init_u FROM params) AS u FROM nodes
            ),
            s1 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r0 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r1 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s1 s ON s.node = n2.node
            ),
            s2 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r1 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r2 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s2 s ON s.node = n2.node
            ),
            s3 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r2 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r3 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s3 s ON s.node = n2.node
            )
            SELECT node AS host, u::BIGINT AS rank_units,
                   u / 1000000000000.0 AS rank
            FROM r3 ORDER BY host
        """,
        # domain-level arm + suffix_list parameter: registrable
        # domains derived from fixture first principles (arithmetic
        # on the event columns — no URL parsing, no suffix table);
        # the e%5 branch is a domain-level SELF-link (different host,
        # same registrant) that must vanish in the sh <> dh cut, and
        # the weighted fixed-point replay is identical to
        # web_host_authority's
        "web_domain_authority": """
            WITH raw AS (
                SELECT 'shop' || CAST(user_id % 2 AS VARCHAR)
                           || '.com.pl' AS sd,
                       CASE WHEN event_id % 5 = 0
                            THEN 'shop' || CAST(user_id % 2 AS VARCHAR)
                                 || '.com.pl'
                            ELSE 'uni' || CAST(event_id % 3 AS VARCHAR)
                                 || '.act.edu.au' END AS dd
                FROM events
                WHERE user_id IS NOT NULL AND event_id IS NOT NULL
                  AND event_id % 13 <> 0
            ),
            e AS (
                SELECT sd AS sh, dd AS dh, COUNT(*)::BIGINT AS w
                FROM raw WHERE sd <> dd GROUP BY sd, dd
            ),
            nodes AS (
                SELECT sh AS node FROM e UNION SELECT dh FROM e
            ),
            params AS (
                SELECT COUNT(*)::BIGINT AS n,
                       1000000000000 // COUNT(*)::BIGINT AS init_u,
                       ((1000000000000 // COUNT(*)::BIGINT) * 150000)
                           // 1000000 AS base
                FROM nodes
            ),
            deg AS (
                SELECT sh AS s, SUM(w)::BIGINT AS dg FROM e GROUP BY sh
            ),
            r0 AS (
                SELECT node, (SELECT init_u FROM params) AS u FROM nodes
            ),
            s1 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r0 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r1 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s1 s ON s.node = n2.node
            ),
            s2 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r1 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r2 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s2 s ON s.node = n2.node
            ),
            s3 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r2 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r3 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s3 s ON s.node = n2.node
            )
            SELECT node AS domain, u::BIGINT AS rank_units,
                   u / 1000000000000.0 AS rank
            FROM r3 ORDER BY domain
        """,
        # the calibration sweep CONSUMED: replay the labeled-sample
        # report (range, IEEE bins, gapless cumulative), select the
        # LOWEST bin whose cum precision reaches the 0.75 target, and
        # apply its bin_lo edge to every corpus document
        "docs_calibrated_keep": """
            WITH v AS (
                SELECT CAST(n_chars AS DOUBLE) AS s,
                       (doc_id % 600) < n_chars AS y
                FROM documents
                WHERE doc_id % 5 = 0 AND n_chars IS NOT NULL
            ),
            rng AS (
                SELECT MIN(s) AS lo, MAX(s) - MIN(s) AS span FROM v
            ),
            binned AS (
                SELECT CASE WHEN span <= 0 THEN 0
                            ELSE CAST(floor(GREATEST(0.0, LEAST(7.0,
                                (s - lo) / span * 8))) AS INT)
                       END AS bin, y
                FROM v, rng
            ),
            counts AS (
                SELECT bin, COUNT(*)::BIGINT AS n,
                       SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT
                           AS n_pos
                FROM binned GROUP BY bin
            ),
            spectrum AS (
                SELECT CAST(g.b AS INT) AS bin,
                       COALESCE(c.n, 0) AS n,
                       COALESCE(c.n_pos, 0) AS n_pos
                FROM generate_series(0, 7) g(b)
                LEFT JOIN counts c ON c.bin = g.b
            ),
            cum AS (
                SELECT bin,
                       SUM(n) OVER (ORDER BY bin DESC)::BIGINT AS cum_n,
                       SUM(n_pos) OVER (ORDER BY bin DESC)::BIGINT
                           AS cum_pos
                FROM spectrum
            ),
            sel AS (
                SELECT lo + (CAST(bin AS DOUBLE) * span) / 8.0 AS thr,
                       cum_pos::DOUBLE / cum_n::DOUBLE AS cp,
                       cum_n
                FROM cum, rng
                WHERE cum_n > 0
                  AND cum_pos::DOUBLE / cum_n::DOUBLE >= 0.75
                ORDER BY bin ASC LIMIT 1
            )
            SELECT d.doc_id,
                   sel.thr AS cal_threshold,
                   sel.cp AS cal_expected_precision,
                   sel.cum_n AS cal_expected_n,
                   (d.n_chars IS NOT NULL
                    AND CAST(d.n_chars AS DOUBLE) >= sel.thr)
                       AS cal_keep
            FROM documents d, sel ORDER BY d.doc_id
        """,
        # domain-level anchor profile from fixture first principles:
        # registrable domains and normalized anchors via event-column
        # arithmetic (no URL parsing, no suffix table); the eid%5
        # rows map to the SOURCE's own domain and drop as
        # domain-level self-links; counts exact, top anchor the
        # (count desc, anchor asc) ROW_NUMBER argmin
        "web_domain_anchor_profile": """
            WITH links AS (
                SELECT 'shop' || CAST(user_id % 2 AS VARCHAR)
                           || '.com.pl' AS sd,
                       CASE WHEN event_id % 5 = 0 THEN
                                'shop' || CAST(user_id % 2 AS VARCHAR)
                                    || '.com.pl'
                            ELSE 'uni' || CAST(event_id % 3 AS VARCHAR)
                                    || '.act.edu.au' END AS dd,
                       'link ' || CAST(user_id % 3 AS VARCHAR) AS a
                FROM events
                WHERE user_id IS NOT NULL AND event_id IS NOT NULL
                  AND event_id % 13 <> 0
                  AND event_id % 4 <> 0
            ),
            f AS (SELECT * FROM links WHERE sd <> dd),
            pa AS (
                SELECT dd, a, COUNT(*)::BIGINT AS c
                FROM f GROUP BY dd, a
            ),
            prof AS (
                SELECT dd, SUM(c)::BIGINT AS in_links,
                       COUNT(*)::BIGINT AS unique_anchors
                FROM pa GROUP BY dd
            ),
            top AS (
                SELECT dd, a, c,
                       ROW_NUMBER() OVER (
                           PARTITION BY dd ORDER BY c DESC, a ASC
                       ) AS rn
                FROM pa
            ),
            refs AS (
                SELECT dd, COUNT(DISTINCT sd)::BIGINT
                           AS referring_domains
                FROM f GROUP BY dd
            )
            SELECT prof.dd AS domain, prof.in_links,
                   refs.referring_domains, prof.unique_anchors,
                   top.a AS top_anchor, top.c AS top_anchor_links
            FROM prof
            JOIN refs ON refs.dd = prof.dd
            JOIN top ON top.dd = prof.dd AND top.rn = 1
            WHERE prof.in_links >= 1
            ORDER BY domain
        """,
        # the fused admission decision: the docs_authority_sample
        # rank/keep replay over the twin-planted corpus, PLUS the
        # raw-gram 5-gram benchmark overlap, PLUS the final
        # keep-AND-clean admit bit
        "docs_authority_quarantine": """
            WITH raw AS (
                SELECT 'h' || CAST(user_id % 5 AS VARCHAR)
                           || '.example.com' AS sh,
                       'h' || CAST(event_id % 7 AS VARCHAR)
                           || '.example.com' AS dh
                FROM events
                WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            ),
            e AS (
                SELECT sh, dh, COUNT(*)::BIGINT AS w
                FROM raw WHERE sh <> dh GROUP BY sh, dh
            ),
            nodes AS (
                SELECT sh AS node FROM e UNION SELECT dh FROM e
            ),
            params AS (
                SELECT COUNT(*)::BIGINT AS n,
                       1000000000000 // COUNT(*)::BIGINT AS init_u,
                       ((1000000000000 // COUNT(*)::BIGINT) * 150000)
                           // 1000000 AS base
                FROM nodes
            ),
            deg AS (
                SELECT sh AS s, SUM(w)::BIGINT AS dg FROM e GROUP BY sh
            ),
            r0 AS (
                SELECT node, (SELECT init_u FROM params) AS u FROM nodes
            ),
            s1 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r0 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r1 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s1 s ON s.node = n2.node
            ),
            s2 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r1 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r2 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s2 s ON s.node = n2.node
            ),
            s3 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r2 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r3 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s3 s ON s.node = n2.node
            ),
            mx AS (SELECT MAX(u)::BIGINT AS m FROM r3),
            corpus AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT doc_id + 10000000, text FROM documents
                WHERE doc_id % 10 = 7
            ),
            d AS (
                SELECT doc_id, text,
                       CASE WHEN doc_id % 17 = 0 THEN NULL
                            ELSE 'h' || CAST(doc_id % 9 AS VARCHAR)
                                 || '.example.com' END AS node
                FROM corpus
            ),
            j AS (
                SELECT d.doc_id, d.node, r.u::BIGINT AS ru,
                       (200000 + (800000 * COALESCE(r.u, 0))
                           // (SELECT m FROM mx))::BIGINT AS ppm
                FROM d LEFT JOIN r3 r ON r.node = d.node
            ),
            bw AS (
                SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS w
                FROM documents WHERE doc_id % 10 = 7
            ),
            bg AS (
                SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS gram
                FROM (
                    SELECT w, unnest(generate_series(1, len(w) - 4)) AS i
                    FROM bw WHERE len(w) >= 5
                )
            ),
            cw AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS w
                FROM corpus
            ),
            cg AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i:i+4], ' ') AS gram
                FROM (
                    SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 4)) AS i
                    FROM cw WHERE len(w) >= 5
                )
            ),
            leak AS (
                SELECT doc_id, COUNT(*)::BIGINT AS n_shared
                FROM cg JOIN bg USING (gram) GROUP BY doc_id
            ),
            kept AS (
                SELECT j.doc_id, j.node, j.ru, j.ppm,
                       (('0x' || substr(md5('7-' ||
                            CAST(j.doc_id AS VARCHAR)), 1, 15))::BIGINT
                           % 1000000) < j.ppm AS keep
                FROM j
            )
            SELECT k.doc_id, k.node AS auth_node,
                   k.ru AS auth_rank_units,
                   k.ppm AS auth_keep_ppm,
                   k.keep AS auth_keep,
                   l.n_shared AS auth_shared_ngrams,
                   (k.keep AND l.n_shared IS NULL) AS auth_admit
            FROM kept k LEFT JOIN leak l USING (doc_id)
            ORDER BY k.doc_id
        """,
        # authority CONSUMED as a sampling prior: the full weighted
        # 3-iteration rank replay (the web_host_authority CTE chain,
        # hosts from event-column arithmetic), then the rank join onto
        # fixture-arithmetic doc hosts, the exact integer keep-rate
        # interpolation base + (span*u)//max(u), and the md5 bucket
        "docs_authority_sample": """
            WITH raw AS (
                SELECT 'h' || CAST(user_id % 5 AS VARCHAR)
                           || '.example.com' AS sh,
                       'h' || CAST(event_id % 7 AS VARCHAR)
                           || '.example.com' AS dh
                FROM events
                WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            ),
            e AS (
                SELECT sh, dh, COUNT(*)::BIGINT AS w
                FROM raw WHERE sh <> dh GROUP BY sh, dh
            ),
            nodes AS (
                SELECT sh AS node FROM e UNION SELECT dh FROM e
            ),
            params AS (
                SELECT COUNT(*)::BIGINT AS n,
                       1000000000000 // COUNT(*)::BIGINT AS init_u,
                       ((1000000000000 // COUNT(*)::BIGINT) * 150000)
                           // 1000000 AS base
                FROM nodes
            ),
            deg AS (
                SELECT sh AS s, SUM(w)::BIGINT AS dg FROM e GROUP BY sh
            ),
            r0 AS (
                SELECT node, (SELECT init_u FROM params) AS u FROM nodes
            ),
            s1 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r0 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r1 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s1 s ON s.node = n2.node
            ),
            s2 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r1 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r2 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s2 s ON s.node = n2.node
            ),
            s3 AS (
                SELECT e.dh AS node,
                       SUM((((r.u * 850000) // 1000000) // dg.dg) * e.w
                           + ((((r.u * 850000) // 1000000) % dg.dg)
                              * e.w) // dg.dg) AS m
                FROM r2 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.sh = r.node
                GROUP BY e.dh
            ),
            r3 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s3 s ON s.node = n2.node
            ),
            mx AS (SELECT MAX(u)::BIGINT AS m FROM r3),
            d AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 17 = 0 THEN NULL
                            ELSE 'h' || CAST(doc_id % 9 AS VARCHAR)
                                 || '.example.com' END AS node
                FROM documents
            ),
            j AS (
                SELECT d.doc_id, d.node, r.u::BIGINT AS ru,
                       (200000 + (800000 * COALESCE(r.u, 0))
                           // (SELECT m FROM mx))::BIGINT AS ppm
                FROM d LEFT JOIN r3 r ON r.node = d.node
            )
            SELECT doc_id, node AS auth_node,
                   ru AS auth_rank_units,
                   ppm AS auth_keep_ppm,
                   (('0x' || substr(md5('7-' || CAST(doc_id AS VARCHAR)),
                       1, 15))::BIGINT % 1000000) < ppm AS auth_keep
            FROM j ORDER BY doc_id
        """,
        # fertility-driven re-mixing: the BPE word/token counts
        # replayed per language (the corpus_tokenizer_fertility
        # merge-table replay), then the ONE fixed-form raw mass
        # sqrt(n_words) * (n_tokens / n_words), the key-ordered IEEE
        # fold, and the largest-remainder split of the 1M budget
        "corpus_fertility_mix": """
            WITH w AS (
                SELECT doc_id, lang,
                       unnest(string_split_regex(lower(text), '[^a-z]+'))
                         AS w
                FROM documents
            ),
            nz AS (SELECT * FROM w WHERE w <> ''),
            e AS (
                SELECT doc_id, lang,
                       len(list_filter(string_split(
                           replace(replace(replace(replace(replace(
                           replace(replace(replace(
                               ' ' || array_to_string(
                                   string_split(w, ''), ' '),
                           ' t h', ' th'), ' th e', ' the'),
                           ' i n', ' in'), ' a n', ' an'),
                           ' an d', ' and'), ' e r', ' er'),
                           ' o n', ' on'), ' r e', ' re'),
                       ' '), x -> x <> '')) AS n_tok
                FROM nz
            ),
            agg AS (
                SELECT lang, count(*) AS n_words,
                       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
                FROM e GROUP BY lang
            ),
            f AS (
                SELECT d.lang AS g,
                       count(*)::BIGINT AS n_docs,
                       CAST(COALESCE(MAX(agg.n_words), 0) AS BIGINT)
                           AS n_words,
                       CAST(COALESCE(MAX(agg.n_tokens), 0) AS BIGINT)
                           AS n_tokens
                FROM documents d LEFT JOIN agg ON d.lang = agg.lang
                GROUP BY d.lang
            ),
            m AS (
                SELECT *,
                       CASE WHEN n_words > 0 THEN
                           sqrt(n_words::DOUBLE)
                               * (n_tokens::DOUBLE / n_words::DOUBLE)
                       ELSE 0.0 END AS wr
                FROM f
            ),
            t AS (
                SELECT list_reduce(
                    list_prepend(0.0, list(wr ORDER BY g)),
                    (a, b) -> a + b) AS tot
                FROM m
            ),
            wt AS (
                SELECT m.*, CASE WHEN tot > 0 THEN wr / tot
                                 ELSE 0.0 END AS weight
                FROM m, t
            ),
            r AS (
                SELECT *,
                       CAST(floor(1000000.0 * weight) AS BIGINT) AS base,
                       1000000.0 * weight
                           - floor(1000000.0 * weight) AS frac
                FROM wt
            ),
            s AS (
                SELECT *,
                       1000000 - SUM(base) OVER () AS rem,
                       ROW_NUMBER() OVER (ORDER BY frac DESC, g ASC)
                           AS rk
                FROM r
            )
            SELECT g AS "group", n_docs, n_words, n_tokens,
                   CASE WHEN n_words > 0 THEN
                       n_tokens::DOUBLE / n_words::DOUBLE
                   END AS fertility,
                   weight,
                   (base + CASE WHEN rk <= rem THEN 1 ELSE 0 END)::BIGINT
                       AS target_tokens
            FROM s ORDER BY g
        """,
        # cross-snapshot novelty replayed with RAW gram strings across
        # both frames: prior = the full table, current = unchanged
        # thirds (ratio exactly 1.0), planted fresh pages (digit-
        # bearing tokens, provably absent from the digit-free prior,
        # ratio exactly 0.0), and re-skins (original grams seen, the
        # appended tail unseen)
        "docs_snapshot_novelty": """
            WITH fresh AS (
                SELECT doc_id,
                       'q0z' || CAST(doc_id AS VARCHAR) || ' q1z'
                           || CAST(doc_id AS VARCHAR) || ' q2z'
                           || CAST(doc_id AS VARCHAR) || ' q3z'
                           || CAST(doc_id AS VARCHAR) || ' q4z'
                           || CAST(doc_id AS VARCHAR) || ' q5z'
                           || CAST(doc_id AS VARCHAR) AS salt
                FROM documents
            ),
            cur AS (
                SELECT d.doc_id, d.text FROM documents d
                WHERE d.doc_id % 3 = 0
                UNION ALL
                SELECT d.doc_id + 10000000, f.salt
                FROM documents d JOIN fresh f USING (doc_id)
                WHERE d.doc_id % 3 = 1
                UNION ALL
                SELECT d.doc_id + 20000000, d.text || ' ' || f.salt
                FROM documents d JOIN fresh f USING (doc_id)
                WHERE d.doc_id % 3 = 2
            ),
            pw AS (
                SELECT list_filter(string_split_regex(lower(text),
                           '\\s+'), x -> x <> '') AS w
                FROM documents
            ),
            pg AS (
                SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS gram
                FROM (
                    SELECT w, unnest(generate_series(1, len(w) - 4)) AS i
                    FROM pw WHERE len(w) >= 5
                )
            ),
            cw AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text),
                           '\\s+'), x -> x <> '') AS w
                FROM cur
            ),
            cg AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i:i+4], ' ') AS gram
                FROM (
                    SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 4)) AS i
                    FROM cw WHERE len(w) >= 5
                )
            ),
            per AS (
                SELECT cg.doc_id, COUNT(*)::BIGINT AS n_grams,
                       SUM(CASE WHEN pg.gram IS NOT NULL THEN 1
                                ELSE 0 END)::BIGINT AS n_seen
                FROM cg LEFT JOIN pg ON cg.gram = pg.gram
                GROUP BY cg.doc_id
            )
            SELECT c.doc_id,
                   COALESCE(p.n_grams, 0) AS n_grams,
                   COALESCE(p.n_seen, 0) AS n_seen,
                   CASE WHEN p.n_grams > 0 THEN
                       p.n_seen::DOUBLE / p.n_grams::DOUBLE
                   END AS seen_ratio
            FROM cur c LEFT JOIN per p ON c.doc_id = p.doc_id
            ORDER BY c.doc_id
        """,
        # leakage-safe split: the 3-chain component collapse replayed
        # ARITHMETICALLY (representative = the base id the fixture
        # planted the chain on — transitivity derived from first
        # principles, not label propagation), then the md5 bucket of
        # the representative and the 800k/900k thresholds
        "docs_leakage_split": """
            WITH corpus AS (
                SELECT doc_id FROM documents
                UNION ALL
                SELECT doc_id + 1000000 FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id + 2000000 FROM documents WHERE doc_id % 7 = 0
            ),
            k AS (
                SELECT doc_id,
                       CASE WHEN doc_id >= 2000000 THEN doc_id - 2000000
                            WHEN doc_id >= 1000000 THEN doc_id - 1000000
                            ELSE doc_id END AS key
                FROM corpus
            ),
            b AS (
                SELECT doc_id, key,
                       (('0x' || substr(md5('42-' || CAST(key AS VARCHAR)),
                           1, 15))::BIGINT) % 1000000 AS bkt
                FROM k
            )
            SELECT doc_id, key AS split_key,
                   CASE WHEN bkt < 800000 THEN 'train'
                        WHEN bkt < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM b ORDER BY doc_id
        """,
        # calibration sweep replayed cell-for-cell: auto range over
        # the valid scores, the same IEEE bin arithmetic
        # floor((s-lo)/span*n), the FULL 8-bin spectrum (empty bins
        # kept — the cumulative must be gapless), the desc-window
        # cumsum, the fixed-form edges lo + (bin*span)/n, and each
        # precision as one division (NULL on zero denominators)
        "docs_score_calibration": """
            WITH v AS (
                SELECT CAST(n_chars AS DOUBLE) AS s,
                       (doc_id % 3 = 0) AS y
                FROM documents
                WHERE n_chars IS NOT NULL
            ),
            rng AS (
                SELECT MIN(s) AS lo, MAX(s) - MIN(s) AS span FROM v
            ),
            binned AS (
                SELECT CASE WHEN span <= 0 THEN 0
                            ELSE CAST(floor(GREATEST(0.0, LEAST(7.0,
                                (s - lo) / span * 8))) AS INT)
                       END AS bin, y
                FROM v, rng
            ),
            counts AS (
                SELECT bin, COUNT(*)::BIGINT AS n,
                       SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT
                           AS n_pos
                FROM binned GROUP BY bin
            ),
            spectrum AS (
                SELECT CAST(g.b AS INT) AS bin,
                       COALESCE(c.n, 0) AS n,
                       COALESCE(c.n_pos, 0) AS n_pos
                FROM generate_series(0, 7) g(b)
                LEFT JOIN counts c ON c.bin = g.b
            ),
            cum AS (
                SELECT *,
                       SUM(n) OVER (ORDER BY bin DESC)::BIGINT AS cum_n,
                       SUM(n_pos) OVER (ORDER BY bin DESC)::BIGINT
                           AS cum_pos
                FROM spectrum
            )
            SELECT bin,
                   lo + (CAST(bin AS DOUBLE) * span) / 8.0 AS bin_lo,
                   lo + (CAST(bin + 1 AS DOUBLE) * span) / 8.0 AS bin_hi,
                   n, n_pos,
                   CASE WHEN n > 0 THEN
                       n_pos::DOUBLE / n::DOUBLE END AS "precision",
                   cum_n, cum_pos,
                   CASE WHEN cum_n > 0 THEN
                       cum_pos::DOUBLE / cum_n::DOUBLE
                   END AS cum_precision
            FROM cum, rng ORDER BY bin
        """,
        # novelty replayed with RAW gram strings (hash-free truth):
        # the planted twins, per-doc distinct 5-grams, corpus document
        # frequency, the >=2 commonness cut, and the one fixed-form
        # division
        "docs_ngram_novelty": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000000, text FROM documents
                WHERE doc_id % 7 = 0
            ),
            cw AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS w
                FROM corpus
            ),
            cg AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i:i+4], ' ') AS gram
                FROM (
                    SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 4)) AS i
                    FROM cw WHERE len(w) >= 5
                )
            ),
            dfreq AS (
                SELECT gram, COUNT(*)::BIGINT AS df
                FROM cg GROUP BY gram
            ),
            per AS (
                SELECT cg.doc_id, COUNT(*)::BIGINT AS n_grams,
                       SUM(CASE WHEN dfreq.df >= 2 THEN 1
                                ELSE 0 END)::BIGINT AS n_common
                FROM cg JOIN dfreq USING (gram)
                GROUP BY cg.doc_id
            )
            SELECT c.doc_id,
                   COALESCE(p.n_grams, 0) AS n_grams,
                   COALESCE(p.n_common, 0) AS n_common,
                   CASE WHEN p.n_grams > 0 THEN
                       p.n_common::DOUBLE / p.n_grams::DOUBLE
                   END AS common_ratio
            FROM corpus c LEFT JOIN per p ON c.doc_id = p.doc_id
            ORDER BY c.doc_id
        """,
        # anchor profile from fixture first principles: hosts and
        # NORMALIZED anchors derived by arithmetic on the event
        # columns (independent of the URL/whitespace parsing under
        # test), every count exact, top anchor replayed as the
        # (count desc, anchor asc) ROW_NUMBER argmin
        "web_anchor_profile": """
            WITH links AS (
                SELECT
                    CASE WHEN event_id % 11 = 0 THEN NULL
                         ELSE 's' || CAST(user_id % 4 AS VARCHAR)
                              || '.example.com' END AS sh,
                    CASE WHEN event_id % 7 = 0
                         THEN 's' || CAST(user_id % 4 AS VARCHAR)
                              || '.example.com'
                         ELSE 'd' || CAST(event_id % 3 AS VARCHAR)
                              || '.example.org' END AS dh,
                    CASE WHEN event_id % 5 = 0 THEN NULL
                         ELSE 'anchor '
                              || CAST(event_id % 4 AS VARCHAR) END AS a
                FROM events
                WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            ),
            kept AS (
                SELECT sh, dh, a FROM links
                WHERE sh IS NOT NULL AND dh IS NOT NULL
                  AND a IS NOT NULL AND sh <> dh
            ),
            pa AS (
                SELECT dh, a, COUNT(*)::BIGINT AS c
                FROM kept GROUP BY dh, a
            ),
            prof AS (
                SELECT dh, SUM(c)::BIGINT AS in_links,
                       COUNT(*)::BIGINT AS unique_anchors
                FROM pa GROUP BY dh
            ),
            top AS (
                SELECT dh, a AS top_anchor, c AS top_anchor_links
                FROM (
                    SELECT dh, a, c, ROW_NUMBER() OVER (
                        PARTITION BY dh ORDER BY c DESC, a ASC
                    ) AS rn FROM pa
                ) WHERE rn = 1
            ),
            refs AS (
                SELECT dh, COUNT(DISTINCT sh)::BIGINT AS referring_hosts
                FROM kept GROUP BY dh
            )
            SELECT prof.dh AS host, prof.in_links, refs.referring_hosts,
                   prof.unique_anchors, top.top_anchor,
                   top.top_anchor_links
            FROM prof
            JOIN top ON prof.dh = top.dh
            JOIN refs ON prof.dh = refs.dh
            ORDER BY host
        """,
        # the full histogram-matching contract: union range, the 8
        # equal-width double bins (same IEEE op order as the Spark
        # side), both histograms, the exact HUGEINT floor rate per
        # bin capped at 1e6, and the md5 id-hash keep decision
        "docs_distribution_match": """
            WITH cval AS (
                SELECT doc_id, n_chars FROM documents
                WHERE n_chars IS NOT NULL
            ),
            ref AS (
                SELECT n_chars FROM documents
                WHERE n_chars IS NOT NULL
                  AND (n_chars <= 200 OR doc_id % 5 = 0)
            ),
            rng AS (
                SELECT
                    LEAST((SELECT MIN(n_chars) FROM cval),
                          (SELECT MIN(n_chars) FROM ref))::DOUBLE AS lo,
                    GREATEST((SELECT MAX(n_chars) FROM cval),
                             (SELECT MAX(n_chars) FROM ref))::DOUBLE AS hi
            ),
            cb AS (
                SELECT LEAST(7, CAST(FLOOR(
                           (n_chars::DOUBLE - rng.lo)
                           / (rng.hi - rng.lo) * 8.0) AS INT)) AS b,
                       COUNT(*)::HUGEINT AS n
                FROM cval, rng GROUP BY 1
            ),
            rb AS (
                SELECT LEAST(7, CAST(FLOOR(
                           (n_chars::DOUBLE - rng.lo)
                           / (rng.hi - rng.lo) * 8.0) AS INT)) AS b,
                       COUNT(*)::HUGEINT AS n
                FROM ref, rng GROUP BY 1
            ),
            rates AS (
                -- CASE, not bare LEAST: DuckDB's LEAST ignores NULLs,
                -- so an empty-reference bin would cap to 1e6, not 0
                SELECT cb.b,
                       CASE WHEN rb.n IS NULL THEN 0::HUGEINT
                            ELSE LEAST(1000000::HUGEINT,
                                 (1000000::HUGEINT * rb.n
                                  * (SELECT SUM(n) FROM cb))
                                 // ((SELECT SUM(n) FROM rb) * cb.n))
                       END AS rate
                FROM cb LEFT JOIN rb ON cb.b = rb.b
            )
            SELECT d.doc_id, d.n_chars,
                   CASE WHEN d.n_chars IS NULL THEN NULL
                        ELSE LEAST(7, CAST(FLOOR(
                            (d.n_chars::DOUBLE - rng.lo)
                            / (rng.hi - rng.lo) * 8.0) AS INT))
                   END AS match_bin,
                   COALESCE(r.rate, 0)::BIGINT AS match_rate_ppm,
                   (('0x' || substr(md5('42-' || CAST(d.doc_id AS VARCHAR)),
                                    1, 15))::BIGINT % 1000000)
                       < COALESCE(r.rate, 0) AS match_keep
            FROM documents d
            CROSS JOIN rng
            LEFT JOIN rates r ON r.b = CASE WHEN d.n_chars IS NULL
                THEN NULL ELSE LEAST(7, CAST(FLOOR(
                    (d.n_chars::DOUBLE - rng.lo)
                    / (rng.hi - rng.lo) * 8.0) AS INT)) END
            ORDER BY d.doc_id
        """,
        # the full curriculum assignment per document: histogram
        # bucketing (range, 64 bins, cumulative quartile thresholds),
        # md5 shard + order arithmetic, row_number position
        "docs_curriculum_order": """
            WITH s AS (
                SELECT doc_id, n_chars::DOUBLE AS sc FROM documents
            ),
            -- invalid (NULL) scores stay out of the histogram AND the
            -- positions, mirroring curriculum_order's NULL contract
            -- (left join at the end gives them NULL assignments)
            v AS (SELECT doc_id, sc FROM s WHERE sc IS NOT NULL),
            rng AS (SELECT min(sc) AS lo, max(sc) AS hi FROM v),
            binned AS (
                SELECT v.doc_id, v.sc,
                       CASE WHEN rng.hi - rng.lo > 0 THEN
                           least(63, greatest(0, CAST(floor(
                               (v.sc - rng.lo) / (rng.hi - rng.lo)
                               * 64.0) AS BIGINT)))::INTEGER
                       ELSE 0 END AS bin
                FROM v, rng
            ),
            hist AS (
                SELECT bin, COUNT(*) AS c FROM binned GROUP BY bin
            ),
            cum AS (
                SELECT bin, c,
                       SUM(c) OVER (ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS cumc,
                       SUM(c) OVER () AS n
                FROM hist
            ),
            thr AS (
                SELECT min(CASE WHEN cumc >= ceil(n * 1 / 4.0)
                                THEN bin END) AS t1,
                       min(CASE WHEN cumc >= ceil(n * 2 / 4.0)
                                THEN bin END) AS t2,
                       min(CASE WHEN cumc >= ceil(n * 3 / 4.0)
                                THEN bin END) AS t3
                FROM cum
            ),
            a AS (
                SELECT b.doc_id,
                       (1 + (CASE WHEN b.bin > t.t1 THEN 1 ELSE 0 END)
                          + (CASE WHEN b.bin > t.t2 THEN 1 ELSE 0 END)
                          + (CASE WHEN b.bin > t.t3 THEN 1 ELSE 0 END)
                       )::INTEGER AS difficulty,
                       (('0x' || substr(md5('42-' ||
                            CAST(b.doc_id AS VARCHAR)), 1, 15))::BIGINT)
                           % 4 AS shard,
                       md5('43-' || CAST(b.doc_id AS VARCHAR)) AS ordk
                FROM binned b, thr t
            ),
            pos AS (
                SELECT doc_id, difficulty, shard,
                       (row_number() OVER (
                            PARTITION BY difficulty, shard
                            ORDER BY ordk, doc_id
                        ) - 1)::BIGINT AS position
                FROM a
            )
            SELECT s.doc_id, p.difficulty, p.shard, p.position
            FROM s LEFT JOIN pos p ON s.doc_id = p.doc_id
            ORDER BY s.doc_id
        """,
        # planted-twin decontaminating split: raw-gram-string join
        # (hash-free independent truth) + md5 bucket thresholds
        "docs_contamination_split": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7
                UNION ALL
                SELECT doc_id + 10000000, text FROM documents
                WHERE doc_id % 10 = 7
            ),
            bw AS (
                SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS w
                FROM documents WHERE doc_id % 10 = 7
            ),
            bg AS (
                SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS gram
                FROM (
                    SELECT w, unnest(generate_series(1, len(w) - 4)) AS i
                    FROM bw WHERE len(w) >= 5
                )
            ),
            cw AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS w
                FROM corpus
            ),
            cg AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i:i+4], ' ') AS gram
                FROM (
                    SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 4)) AS i
                    FROM cw WHERE len(w) >= 5
                )
            ),
            leak AS (
                SELECT doc_id, COUNT(*)::BIGINT AS n_shared
                FROM cg JOIN bg USING (gram) GROUP BY doc_id
            ),
            sp AS (
                SELECT doc_id,
                       (('0x' || substr(md5('42-' ||
                            CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
                           % 1000000 AS b
                FROM corpus
            )
            SELECT c.doc_id,
                   CASE WHEN l.n_shared IS NOT NULL THEN 'quarantined'
                        WHEN s.b < 800000 THEN 'train'
                        WHEN s.b < 900000 THEN 'val'
                        ELSE 'test' END AS split,
                   l.n_shared AS n_shared_ngrams
            FROM corpus c
            JOIN sp s USING (doc_id)
            LEFT JOIN leak l USING (doc_id)
            ORDER BY c.doc_id
        """,
        # three chained fixed-point iterations: integer floor
        # arithmetic replays the ranks to the unit
        "events_pagerank": """
            WITH pairs AS (
                SELECT lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS s,
                       event_type AS d
                FROM events
            ),
            e AS (
                SELECT DISTINCT s, d FROM pairs
                WHERE s IS NOT NULL AND d IS NOT NULL
            ),
            nodes AS (
                SELECT s AS node FROM e UNION SELECT d FROM e
            ),
            params AS (
                SELECT COUNT(*)::BIGINT AS n,
                       1000000000000 // COUNT(*)::BIGINT AS init_u,
                       ((1000000000000 // COUNT(*)::BIGINT) * 150000)
                           // 1000000 AS base
                FROM nodes
            ),
            deg AS (SELECT s, COUNT(*)::BIGINT AS dg FROM e GROUP BY s),
            r0 AS (SELECT node, (SELECT init_u FROM params) AS u FROM nodes),
            s1 AS (
                SELECT e.d AS node,
                       SUM((r.u * 850000) // 1000000 // dg.dg) AS m
                FROM r0 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.s = r.node
                GROUP BY e.d
            ),
            r1 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s1 s ON s.node = n2.node
            ),
            s2 AS (
                SELECT e.d AS node,
                       SUM((r.u * 850000) // 1000000 // dg.dg) AS m
                FROM r1 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.s = r.node
                GROUP BY e.d
            ),
            r2 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s2 s ON s.node = n2.node
            ),
            s3 AS (
                SELECT e.d AS node,
                       SUM((r.u * 850000) // 1000000 // dg.dg) AS m
                FROM r2 r
                JOIN deg dg ON dg.s = r.node
                JOIN e ON e.s = r.node
                GROUP BY e.d
            ),
            r3 AS (
                SELECT n2.node,
                       (SELECT base FROM params) + COALESCE(s.m, 0) AS u
                FROM nodes n2 LEFT JOIN s3 s ON s.node = n2.node
            ),
            final AS (SELECT node, u FROM r3)
            SELECT node, u::BIGINT AS rank_units,
                   u / 1000000000000.0 AS rank
            FROM final ORDER BY node
        """,
        # sqrt of integer counts + key-ordered fold: bit-exact weights
        "corpus_temperature_mix": """
            WITH c AS (
                SELECT lang, COUNT(*)::BIGINT AS n_docs
                FROM documents GROUP BY lang
            ),
            t AS (
                SELECT list_reduce(
                    list_prepend(0.0, list(sqrt(n_docs::DOUBLE)
                                           ORDER BY lang)),
                    (a, b) -> a + b) AS tot
                FROM c
            )
            SELECT lang, n_docs,
                   sqrt(n_docs::DOUBLE) / tot AS weight,
                   CAST(floor(100000.0 * (sqrt(n_docs::DOUBLE) / tot))
                        AS BIGINT) AS target_docs
            FROM c, t
            ORDER BY lang
        """,
        # the classifier logit CTE, then the full histogram bucketing:
        # per-lang min/max range, 64 fixed bins, cumulative counts,
        # tercile threshold bins, map-side assignment — all integer
        # counts + fixed-form IEEE expressions
        "docs_quality_buckets": """
            WITH raw AS (
                SELECT doc_id, lang,
                       length(text) AS n_chars,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                       length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
                       length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS punct
                FROM documents
            ),
            feat AS (
                SELECT doc_id, lang, n_chars,
                       len(toks) AS n_tokens,
                       len(list_distinct(toks)) AS n_distinct,
                       len(list_intersect(list_distinct(toks),
                           ['the','and','of','to','in','is','that','for','with','a'])) AS stop_hits,
                       alpha, digits, punct
                FROM raw
            ),
            f AS (
                SELECT doc_id, lang,
                       alpha::DOUBLE / greatest(n_chars, 1) AS alpha_ratio,
                       digits::DOUBLE / greatest(n_chars, 1) AS digit_ratio,
                       punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
                       n_distinct::DOUBLE / greatest(n_tokens, 1) AS distinct_ratio,
                       stop_hits::DOUBLE / 10.0 AS stop_ratio,
                       least(n_tokens::DOUBLE / 100.0, 1.0) AS length_score
                FROM feat
            ),
            lg AS (
                SELECT doc_id, lang,
                       ((((((-3.0 + 3.5 * alpha_ratio)
                            + (-3.0) * digit_ratio)
                            + (-1.0) * punct_ratio)
                            + 1.5 * distinct_ratio)
                            + 2.0 * stop_ratio)
                            + 1.5 * length_score) AS logit
                FROM f
            ),
            rng AS (
                SELECT lang, min(logit) AS lo, max(logit) AS hi
                FROM lg GROUP BY lang
            ),
            binned AS (
                SELECT lg.doc_id, lg.lang, lg.logit,
                       CASE WHEN rng.hi - rng.lo > 0 THEN
                           least(63, greatest(0, CAST(floor(
                               (lg.logit - rng.lo) / (rng.hi - rng.lo)
                               * 64.0) AS INTEGER)))
                       ELSE 0 END AS bin
                FROM lg JOIN rng USING (lang)
            ),
            hist AS (
                SELECT lang, bin, COUNT(*) AS c
                FROM binned GROUP BY lang, bin
            ),
            cum AS (
                SELECT lang, bin, c,
                       SUM(c) OVER (PARTITION BY lang ORDER BY bin
                                    ROWS UNBOUNDED PRECEDING) AS cumc,
                       SUM(c) OVER (PARTITION BY lang) AS n
                FROM hist
            ),
            thr AS (
                SELECT lang,
                       min(CASE WHEN cumc >= ceil(n * 1 / 3.0)
                                THEN bin END) AS t1,
                       min(CASE WHEN cumc >= ceil(n * 2 / 3.0)
                                THEN bin END) AS t2
                FROM cum GROUP BY lang
            ),
            assigned AS (
                SELECT b.lang, b.logit,
                       1 + (CASE WHEN b.bin > t.t1 THEN 1 ELSE 0 END)
                         + (CASE WHEN b.bin > t.t2 THEN 1 ELSE 0 END)
                         AS bucket
                FROM binned b JOIN thr t USING (lang)
            )
            SELECT lang, CAST(bucket AS INTEGER) AS bucket,
                   COUNT(*)::BIGINT AS n_docs,
                   min(logit) AS min_logit,
                   max(logit) AS max_logit
            FROM assigned
            GROUP BY lang, bucket
            ORDER BY lang, bucket
        """,
        "ann_ivf_pq": """
            WITH n AS (SELECT count(*)::BIGINT AS c FROM embeddings),
            q AS (
                SELECT vec_id AS qid FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 3
            )
            SELECT q.qid,
                   n.c AS n_vectors,
                   CAST(8 AS INTEGER) AS n_cells,
                   CAST(4 AS INTEGER) AS n_probe,
                   CASE WHEN greatest(50, n.c // 10) < n.c - 1
                        THEN greatest(50, n.c // 10)
                        ELSE n.c - 1 END AS shortlist_cap,
                   true AS recall_floor_ok
            FROM q CROSS JOIN n
            ORDER BY q.qid
        """,
        "emb_pq_adc": """
            WITH n AS (SELECT count(*)::BIGINT AS c FROM embeddings),
            q AS (
                SELECT vec_id AS qid FROM embeddings
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5
            )
            SELECT q.qid,
                   n.c - 1 AS n_candidates,
                   CASE WHEN greatest(100, n.c // 10) < n.c - 1
                        THEN greatest(100, n.c // 10)
                        ELSE n.c - 1 END AS shortlist_size,
                   true AS recall_floor_ok
            FROM q CROSS JOIN n
            ORDER BY q.qid
        """,
        "emb_pq_codebooks": """
            SELECT CAST(g.sub AS INTEGER) AS subspace,
                   CAST(16 AS INTEGER) AS k,
                   (SELECT count(*) FROM embeddings)::BIGINT AS n_vectors,
                   true AS mse_improves,
                   true AS inertia_monotone,
                   true AS codes_in_range
            FROM (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS sub) g
            ORDER BY subspace
        """,
        "gen_scripts_conformance": (
            "SELECT true AS ctas_header, true AS ctas_schema, "
            "true AS ctas_format_location, true AS merge_header, "
            "true AS merge_time_travel, true AS merge_delete, "
            "true AS merge_update, true AS merge_insert"
        ),
        "gen_serialization_roundtrip": "SELECT CAST(0 AS BIGINT) AS mismatches",
        "events_pivot_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
            FROM events GROUP BY day ORDER BY day
        """,
        "events_cube_counts": """
            SELECT strftime(ts, '%A') AS weekday, event_type,
                   COUNT(*) AS n_events,
                   ROUND(AVG(value), 4) AS avg_value
            FROM events
            GROUP BY CUBE (weekday, event_type)
            ORDER BY weekday, event_type
        """,
        "customers_set_ops": """
            WITH b96 AS (
                SELECT DISTINCT o_custkey FROM orders
                WHERE EXTRACT(year FROM o_orderdate) = 1996
            ),
            b97 AS (
                SELECT DISTINCT o_custkey FROM orders
                WHERE EXTRACT(year FROM o_orderdate) = 1997
            )
            SELECT o_custkey, 'both' AS cohort
            FROM (SELECT o_custkey FROM b96 INTERSECT SELECT o_custkey FROM b97)
            UNION ALL
            SELECT o_custkey, 'churned' AS cohort
            FROM (SELECT o_custkey FROM b96 EXCEPT SELECT o_custkey FROM b97)
            ORDER BY cohort, o_custkey
        """,
        "events_unpivot_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   COUNT(*) AS n_events
            FROM events
            GROUP BY day, event_type
            ORDER BY day, event_type
        """,
        "events_salted_join": """
            SELECT c_mktsegment,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS total_value
            FROM events
            JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "events_sliding_windows": """
            WITH e AS (
                SELECT event_type, value, epoch(ts) AS t FROM events
            ),
            w AS (
                SELECT event_type, value,
                       (CAST(floor(t / 900) AS BIGINT)
                        - unnest(generate_series(0, 3))) * 900 AS wstart
                FROM e
            )
            SELECT TIMESTAMP '1970-01-01 00:00:00'
                       + wstart * INTERVAL 1 SECOND AS window_start,
                   event_type,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS total_value
            FROM w
            GROUP BY wstart, event_type
            ORDER BY window_start, event_type
        """,
        "events_value_quantiles": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.25), 4) AS p25,
                   ROUND(quantile_cont(value, 0.5), 4) AS p50,
                   ROUND(quantile_cont(value, 0.75), 4) AS p75,
                   COUNT(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_rolling_avg": """
            SELECT event_id, user_id,
                   ROUND(AVG(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
                   ), 4) AS rolling_avg_5
            FROM events
            ORDER BY event_id
        """,
        "text_training_shards": """
            WITH base AS (
                SELECT doc_id,
                       CAST(doc_id % 8 AS INTEGER) AS bucket,
                       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                           AS n_tokens
                FROM documents
            ),
            cum AS (
                SELECT doc_id, bucket, n_tokens,
                       SUM(n_tokens) OVER (
                           PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS running
                FROM base
            )
            SELECT doc_id, bucket, n_tokens,
                   CAST(bucket AS BIGINT) * 1000000
                       + CAST(floor((running - n_tokens) / 2048.0) AS BIGINT)
                       AS shard_id
            FROM cum
            ORDER BY doc_id
        """,
        "events_asof_join": """
            SELECT p.event_id, p.user_id, v.ts AS view_ts, v.value AS view_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON p.user_id = v.user_id AND p.ts >= v.ts
            ORDER BY p.event_id
        """,
        "sample_deterministic": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id % 10 < 3 ORDER BY doc_id
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
                FROM documents
            ) WHERE rn <= 20 ORDER BY doc_id
        """,
        "multimodal_features": (
            "SELECT CAST(500 AS BIGINT) AS n_rows, CAST(500 AS BIGINT) AS n_valid"
        ),
        # HLL: bucket = h % 256, rho from the bit length of h // 256
        # (INTEGER division — float floor(h/256) loses bits past 2^53).
        # The indicator sum stays in BIGINT so the estimate's only float
        # steps (one division; ln in the linear-counting branch) match
        # Spark bit-for-bit.  4.2399330249068963e+20 is
        # alpha_256 * 256^2 * 2^53 collapsed to one literal, the same
        # double the library builds.  merged_matches is the HLL union
        # law (max of per-day register maxima == direct maxima) — an
        # identity here; the Spark side computes it from real merges.
        "events_hll_distinct": """
            WITH h AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)),
                                       1, 15))::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL
            ),
            reg AS (
                SELECT event_type, hv % 256 AS b,
                       MAX(CASE WHEN hv // 256 = 0 THEN 53
                                ELSE 53 - length(bin(hv // 256)) END) AS r
                FROM h GROUP BY 1, 2
            ),
            agg AS (
                SELECT event_type,
                       CAST(SUM(CAST(pow(2, 53 - r) AS BIGINT)) AS BIGINT)
                       + (256 - COUNT(*)) * CAST(pow(2, 53) AS BIGINT)
                         AS s_int,
                       256 - COUNT(*) AS zeros
                FROM reg GROUP BY 1
            ),
            est AS (
                SELECT event_type, zeros,
                       CASE WHEN 4.2399330249068963e+20 / s_int <= 640.0
                                 AND zeros > 0
                            THEN 256.0 * ln(256.0 / zeros)
                            ELSE 4.2399330249068963e+20 / s_int
                       END AS e
                FROM agg
            ),
            ex AS (
                SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
                FROM events GROUP BY 1
            )
            SELECT est.event_type,
                   ROUND(e, 4) AS est_hll,
                   ex.exact_distinct,
                   CAST(zeros AS BIGINT) AS n_zero_registers,
                   TRUE AS merged_matches,
                   (ABS(e / exact_distinct - 1) <= 0.2) AS rel_err_ok
            FROM est JOIN ex USING (event_type)
            ORDER BY event_type
        """,
        # streaming HLL sink: merge-on-read equals the whole-input
        # sketch register-for-register (element-wise-max union law), so
        # the oracle replays the batch registers and states the
        # equality as a constant
        "events_streaming_hll_sink": """
            WITH h AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)),
                                       1, 15))::BIGINT AS hv
                FROM events WHERE user_id IS NOT NULL
            ),
            reg AS (
                SELECT event_type, hv % 256 AS b,
                       MAX(CASE WHEN hv // 256 = 0 THEN 53
                                ELSE 53 - length(bin(hv // 256)) END) AS r
                FROM h GROUP BY 1, 2
            ),
            agg AS (
                SELECT event_type,
                       CAST(SUM(CAST(pow(2, 53 - r) AS BIGINT)) AS BIGINT)
                       + (256 - COUNT(*)) * CAST(pow(2, 53) AS BIGINT)
                         AS s_int,
                       256 - COUNT(*) AS zeros
                FROM reg GROUP BY 1
            ),
            est AS (
                SELECT event_type, zeros,
                       CASE WHEN 4.2399330249068963e+20 / s_int <= 640.0
                                 AND zeros > 0
                            THEN 256.0 * ln(256.0 / zeros)
                            ELSE 4.2399330249068963e+20 / s_int
                       END AS e
                FROM agg
            ),
            ex AS (
                SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
                FROM events WHERE user_id IS NOT NULL GROUP BY 1
            )
            SELECT est.event_type,
                   ROUND(e, 4) AS est_hll,
                   ex.exact_distinct,
                   CAST(zeros AS BIGINT) AS n_zero_registers,
                   TRUE AS registers_match,
                   (ABS(e / exact_distinct - 1) <= 0.2) AS rel_err_ok
            FROM est JOIN ex USING (event_type)
            ORDER BY event_type
        """,
        # sliding 7-day HLL: per-(type, day) registers merged over the
        # calendar window by max-per-bucket — identical to merging the
        # vectors element-wise; BIGINT indicator sum as everywhere
        "events_hll_sliding": """
            WITH e AS (
                SELECT event_type, CAST(ts AS DATE) AS day, user_id
                FROM events WHERE user_id IS NOT NULL
            ),
            h AS (
                SELECT DISTINCT event_type, day,
                       ('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)),
                                       1, 15))::BIGINT AS hv
                FROM e
            ),
            reg AS (
                SELECT event_type, day, hv % 256 AS b,
                       MAX(CASE WHEN hv // 256 = 0 THEN 53
                                ELSE 53 - length(bin(hv // 256)) END) AS r
                FROM h GROUP BY 1, 2, 3
            ),
            days AS (SELECT DISTINCT event_type, day FROM e),
            win AS (
                SELECT d.event_type, d.day, r.b, MAX(r.r) AS r
                FROM days d
                JOIN reg r
                  ON r.event_type = d.event_type
                 AND r.day BETWEEN d.day - 6 AND d.day
                GROUP BY 1, 2, 3
            ),
            agg AS (
                SELECT event_type, day,
                       CAST(SUM(CAST(pow(2, 53 - r) AS BIGINT)) AS BIGINT)
                       + (256 - COUNT(*)) * CAST(pow(2, 53) AS BIGINT)
                         AS s_int,
                       256 - COUNT(*) AS zeros
                FROM win GROUP BY 1, 2
            ),
            est AS (
                SELECT event_type, day, zeros,
                       CASE WHEN 4.2399330249068963e+20 / s_int <= 640.0
                                 AND zeros > 0
                            THEN 256.0 * ln(256.0 / zeros)
                            ELSE 4.2399330249068963e+20 / s_int
                       END AS e
                FROM agg
            ),
            ex AS (
                SELECT d.event_type, d.day,
                       COUNT(DISTINCT t.user_id) AS exact_7d
                FROM days d
                JOIN e t
                  ON t.event_type = d.event_type
                 AND t.day BETWEEN d.day - 6 AND d.day
                GROUP BY 1, 2
            )
            SELECT est.event_type, est.day,
                   ROUND(e, 4) AS est_7d,
                   ex.exact_7d,
                   CAST(zeros AS BIGINT) AS n_zero_registers,
                   (ABS(e / exact_7d - 1) <= 0.2) AS rel_err_ok
            FROM est JOIN ex USING (event_type, day)
            ORDER BY event_type, day
        """,
        # priority sampling: q = w / ((h+1)/2^60), tau = 9th-largest
        # priority per source (0 when the source has <= 8 docs),
        # w_hat = greatest(w, tau) — identical arithmetic order to the
        # library, so sample membership and estimates replay exactly
        "docs_priority_sample": """
            WITH base AS (
                SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS w,
                       CAST(n_chars AS DOUBLE)
                       / ((('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)),
                                           1, 15))::BIGINT + 1)
                          / 1152921504606846976.0) AS q
                FROM documents WHERE n_chars > 0
            ),
            r AS (
                SELECT *, row_number() OVER (PARTITION BY source
                                             ORDER BY q DESC, doc_id) AS rn
                FROM base
            ),
            t AS (
                SELECT source,
                       COALESCE(MAX(CASE WHEN rn = 9 THEN q END), 0.0) AS tau
                FROM r WHERE rn <= 9 GROUP BY source
            ),
            samp AS (
                SELECT r.source, r.doc_id, r.w, t.tau,
                       GREATEST(r.w, t.tau) AS w_hat
                FROM r JOIN t USING (source) WHERE rn <= 8
            ),
            est AS (
                -- deterministic-order sum: left-fold in doc_id order,
                -- matching Spark's F.aggregate over the sorted sample
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
                       ROUND(MAX(tau), 4) AS tau,
                       ROUND(list_reduce(list(w_hat ORDER BY doc_id),
                                         (acc, x) -> acc + x),
                             4) AS est_total_chars
                FROM samp GROUP BY source
            ),
            ex AS (
                SELECT source,
                       CAST(SUM(n_chars) AS BIGINT) AS exact_total_chars
                FROM documents WHERE n_chars > 0 GROUP BY source
            )
            SELECT est.source, n_sampled, tau, est_total_chars,
                   exact_total_chars,
                   (est_total_chars / exact_total_chars >= 0.3
                    AND est_total_chars / exact_total_chars <= 3.0)
                     AS ratio_sane
            FROM est JOIN ex USING (source)
            ORDER BY source
        """,
        # BPE pair counts: lowercase alphabetic words, length 2..40,
        # weighted character bigrams — integer-exact
        "text_bpe_pairs": """
            WITH w AS (
                SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
                FROM documents
            ),
            v AS (
                SELECT w, COUNT(*) AS wn FROM w
                WHERE length(w) BETWEEN 2 AND 40 GROUP BY w
            ),
            p AS (
                SELECT unnest([substr(w, i, 2)
                               for i in generate_series(1, length(w) - 1)])
                         AS pair,
                       wn
                FROM v
            ),
            c AS (
                SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
                FROM p GROUP BY pair
            )
            SELECT pair, n,
                   CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT)
                     AS rank
            FROM c ORDER BY n DESC, pair LIMIT 25
        """,
        # containment: same 3-word shingle basis as the jaccard oracle;
        # both directional ratios are single integer divisions
        "dedup_containment": """
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ),
            sh0 AS (
                SELECT doc_id,
                       list_distinct(
                           [concat_ws(' ', w[i], w[i+1], w[i+2])
                            for i in generate_series(1, greatest(len(w)-2, 1))]
                       ) AS shingles
                FROM t
            ),
            sh AS (SELECT doc_id, unnest(shingles) AS s FROM sh0),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            pair AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(count(*) AS BIGINT) AS n_common
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   CAST(s1.n AS BIGINT) AS n_a,
                   CAST(s2.n AS BIGINT) AS n_b,
                   n_common,
                   ROUND(n_common / s1.n, 4) AS containment_a_in_b,
                   ROUND(n_common / s2.n, 4) AS containment_b_in_a
            FROM pair
            JOIN sz s1 ON id_a = s1.doc_id
            JOIN sz s2 ON id_b = s2.doc_id
            WHERE ROUND(n_common / s1.n, 4) >= 0.8
               OR ROUND(n_common / s2.n, 4) >= 0.8
            ORDER BY id_a, id_b
        """,
        # Holt level+trend: dyadic alpha/beta (0.25/0.125) + total
        # (ts, event_id) fold order => the recursive CTE reproduces
        # every double bit-for-bit, like events_ewma
        "events_holt_trend": """
            WITH RECURSIVE ordered AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events WHERE value IS NOT NULL
            ),
            walk AS (
                SELECT user_id, 0 AS rn, NULL::DOUBLE AS l,
                       NULL::DOUBLE AS b, NULL::BIGINT AS event_id,
                       NULL::DOUBLE AS value
                FROM (SELECT DISTINCT user_id FROM ordered)
                UNION ALL
                SELECT user_id, rn, l,
                       CASE WHEN prev_l IS NULL THEN 0.0
                            ELSE 0.125 * (l - prev_l) + 0.875 * prev_b
                       END AS b,
                       event_id, value
                FROM (
                    SELECT o.user_id, o.rn,
                           CASE WHEN w.l IS NULL THEN o.value
                                ELSE 0.25 * o.value
                                     + 0.75 * (w.l + w.b)
                           END AS l,
                           w.l AS prev_l, w.b AS prev_b,
                           o.event_id, o.value
                    FROM walk w
                    JOIN ordered o
                      ON o.user_id = w.user_id AND o.rn = w.rn + 1
                )
            )
            SELECT user_id, event_id, value, l AS level, b AS trend
            FROM walk WHERE rn > 0
            ORDER BY user_id, event_id
        """,
        # bottom-k containment estimation: same shingle basis as
        # dedup_containment, md5-hashed, bottom-24 per doc; the pair
        # merge and both estimates are integer arithmetic replayed
        # relationally (rank the pair's union hashes, count membership)
        "dedup_containment_sketch": """
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                FROM documents
            ),
            sh0 AS (
                SELECT doc_id,
                       list_distinct(
                           [concat_ws(' ', w[i], w[i+1], w[i+2])
                            for i in generate_series(1, greatest(len(w)-2, 1))]
                       ) AS shingles
                FROM t
            ),
            sh AS (SELECT doc_id, unnest(shingles) AS s FROM sh0),
            hv AS (
                SELECT doc_id,
                       ('0x' || substr(md5('0:' || s), 1, 15))::BIGINT AS h
                FROM sh
            ),
            sk AS (
                SELECT doc_id, h FROM (
                    SELECT doc_id, h,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY h) AS rn
                    FROM hv
                ) WHERE rn <= 24
            ),
            keep AS (
                SELECT h FROM sk GROUP BY h HAVING COUNT(*) <= 1000
            ),
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sk a
                JOIN keep USING (h)
                JOIN sk b ON a.h = b.h AND a.doc_id < b.doc_id
            ),
            u AS (
                SELECT p.id_a, p.id_b, s.h,
                       MAX(CASE WHEN s.doc_id = p.id_a THEN 1 ELSE 0 END)
                         AS in_a,
                       MAX(CASE WHEN s.doc_id = p.id_b THEN 1 ELSE 0 END)
                         AS in_b
                FROM pairs p
                JOIN sk s ON s.doc_id = p.id_a OR s.doc_id = p.id_b
                GROUP BY 1, 2, 3
            ),
            m AS (
                SELECT id_a, id_b, in_a, in_b,
                       row_number() OVER (PARTITION BY id_a, id_b
                                          ORDER BY h) AS rn
                FROM u
            ),
            c AS (
                SELECT id_a, id_b,
                       CAST(SUM(in_a) AS BIGINT) AS n_m_a,
                       CAST(SUM(in_b) AS BIGINT) AS n_m_b,
                       CAST(SUM(in_a * in_b) AS BIGINT) AS n_m_both
                FROM m WHERE rn <= 24 GROUP BY 1, 2
            )
            SELECT id_a, id_b, n_m_a, n_m_b, n_m_both,
                   CASE WHEN n_m_a > 0
                        THEN ROUND(n_m_both / n_m_a, 4) ELSE 0.0
                   END AS est_a_in_b,
                   CASE WHEN n_m_b > 0
                        THEN ROUND(n_m_both / n_m_b, 4) ELSE 0.0
                   END AS est_b_in_a
            FROM c
            WHERE (CASE WHEN n_m_a > 0
                        THEN ROUND(n_m_both / n_m_a, 4) ELSE 0.0 END) >= 0.7
               OR (CASE WHEN n_m_b > 0
                        THEN ROUND(n_m_both / n_m_b, 4) ELSE 0.0 END) >= 0.7
            ORDER BY id_a, id_b
        """,
        # linear interpolation on a 6h lattice: integer epoch seconds
        # (date_trunc matches Spark's unix_timestamp flooring of
        # sub-second timestamps), observations dedupe by arg_max over
        # event_id, brackets via IGNORE NULLS window frames over the
        # grid/observation union, ratio arithmetic mirrored exactly
        "events_interp_resample": """
            WITH obs AS (
                SELECT user_id,
                       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
                       arg_max(value, event_id) AS v
                FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            spans AS (
                SELECT user_id,
                       CAST(CEIL(MIN(t) / 21600.0) * 21600 AS BIGINT) AS lo,
                       MAX(t) AS hi
                FROM obs GROUP BY 1
            ),
            grid AS (
                SELECT user_id,
                       unnest([lo + 21600 * i
                               for i in generate_series(0, (hi - lo) // 21600)])
                         AS t
                FROM spans WHERE lo <= hi
            ),
            u AS (
                SELECT user_id, t, v, 0 AS g FROM obs
                UNION ALL
                SELECT user_id, t, NULL AS v, 1 AS g FROM grid
            ),
            b AS (
                SELECT user_id, t, g,
                       last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY t, g
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS pt,
                       last_value(v IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY t, g
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS pv,
                       first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY t, g
                                 ROWS BETWEEN 1 FOLLOWING
                                          AND UNBOUNDED FOLLOWING) AS nt,
                       first_value(v IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY t, g
                                 ROWS BETWEEN 1 FOLLOWING
                                          AND UNBOUNDED FOLLOWING) AS nv
                FROM u
            )
            SELECT user_id,
                   epoch_ms(t * 1000) AS grid_ts,
                   CAST(FLOOR((CASE WHEN t = pt THEN pv
                               ELSE pv + (nv - pv)
                                    * (CAST(t - pt AS DOUBLE)
                                       / CAST(nt - pt AS DOUBLE))
                          END) * 10000) AS BIGINT) AS value_q4,
                   (t = pt) AS was_exact
            FROM b WHERE g = 1
            ORDER BY user_id, grid_ts
        """,
    }


_NGRAM_JACCARD_ORACLE = """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ),
    sh0 AS (
        SELECT doc_id,
               list_distinct([concat_ws(' ', w[i], w[i+1], w[i+2])
                              for i in generate_series(1, greatest(len(w)-2, 1))]) AS shingles
        FROM t
    ),
    sh AS (SELECT doc_id, unnest(shingles) AS s FROM sh0),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pair AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(inter::DOUBLE / (s1.n + s2.n - inter), 4) AS jaccard
    FROM pair
    JOIN sz s1 ON id_a = s1.doc_id
    JOIN sz s2 ON id_b = s2.doc_id
    WHERE ROUND(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5
    ORDER BY id_a, id_b
"""
