"""Local stand-in for the driver's t2 correctness gate — strictly stricter.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` counterpart on DuckDB over the same parquet tables,
comparing row count, column names, and an order-insensitive value hash.

Three hardenings over the driver's gate (each catches a class of
driver-side failure the old ``%.6g`` normalization masked):

1. **Full-precision cells** — floats render via ``repr`` so a single-ulp
   divergence (double SUM aggregation-order wobble) fails loudly.
2. **Result-type audit** — the DuckDB result's Arrow schema is checked
   against Spark's dtypes.  DuckDB's SUM(int) yields HUGEINT which
   pandas/arrow fetch paths render as ``5.0``/``Decimal('5')`` instead of
   ``5`` — invisible to ``fetchall()`` but red on the driver.  Any
   hugeint/decimal column or Spark/DuckDB type split is an error.
3. **Partitioning-stability probe** — every Spark query runs twice under
   different ``shuffle.partitions`` / ``files.maxPartitionBytes``; if the
   two hashes differ the query's values depend on aggregation order and
   will flake on the driver's local[32] even if they pass here.

Usage: python scripts/check_oracle.py [sf_dir] [query ...] [--window]
                                       [--chunk I/N] [--ansi]
  --window checks exactly the driver's gate: the FIRST 50 queries()
  entries (the current rotation window).
  --ansi runs the Spark side under spark.sql.ansi.enabled=true — the
  standing pre-rotation gate (ROTATION.md policy #5): ANSI mode turns
  silent out-of-range element_at / cast corner cases into loud errors.
  --chunk I/N (1-based) checks the I-th of N contiguous slices of the
  full registry — the full-registry certification runs as N short
  sessions instead of one session that outlives the timeout:
      for i in $(seq 1 9); do
          python scripts/check_oracle.py /root/testdata/sf0.01 --chunk $i/9
      done
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Spark simpleString -> acceptable Arrow type prefixes for the DuckDB side.
_TYPE_OK = {
    "bigint": ("int64", "int32", "int16", "int8"),
    "int": ("int64", "int32", "int16", "int8"),
    "smallint": ("int64", "int32", "int16", "int8"),
    "tinyint": ("int64", "int32", "int16", "int8"),
    "double": ("double", "float"),
    "float": ("double", "float"),
    "string": ("string", "large_string"),
    "boolean": ("bool",),
    "date": ("date32", "date64"),
    "timestamp": ("timestamp",),
    "timestamp_ntz": ("timestamp",),
}


def canon_shape_problems(dtypes) -> list:
    """Reject output schemas the DRIVER's canonicalizer cannot sort.

    The driver sorts result rows via pandas ``sort_values`` over every
    column before hashing; Array/Map/Struct cells arrive as python
    lists/dicts/Rows — unhashable, so the gate dies with
    ``TypeError: unhashable type: 'list'`` BEFORE any value comparison
    (round-6 red rows ``emb_mrl_truncation`` / ``events_behavior_vectors``).
    This local gate historically stringified cells (stricter on values,
    weaker on dtype shape) and passed what the driver cannot sort —
    so nested output types are now a hard local failure too.  Render
    arrays to delimited full-precision strings or explode to rows;
    library functions may still RETURN arrays — only registry
    conformance queries must project scalar cells.

    ``dtypes`` is ``DataFrame.dtypes`` (name, simpleString) pairs.
    """
    return [
        f"col {name!r} is {dt} — driver canonicalizer cannot sort "
        f"nested cells; render to string or explode to rows"
        for name, dt in dtypes
        if dt.startswith(("array", "map", "struct"))
    ]


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def frame_signature(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(normed).encode()).hexdigest()
    return len(rows), sorted(columns), h


def _type_problems(sdf, arrow_schema):
    """Cross-engine result-type audit; returns list of problem strings."""
    problems = []
    spark_types = dict(sdf.dtypes)
    duck_types = {f.name: str(f.type) for f in arrow_schema}
    for name, dt in duck_types.items():
        if dt.startswith("decimal"):
            problems.append(
                f"duckdb col {name!r} is {dt} (HUGEINT/decimal renders "
                f"differently on driver fetch paths) — CAST it"
            )
            continue
        st = spark_types.get(name)
        if st is None:
            continue  # column-name mismatch surfaces via schema compare
        base = st.split("(")[0]
        ok = _TYPE_OK.get(base)
        if ok is not None and not dt.startswith(ok):
            problems.append(f"col {name!r}: spark {st} vs duckdb {dt}")
    for name, st in spark_types.items():
        if st.startswith("decimal"):
            problems.append(
                f"spark col {name!r} is {st} — cast final decimals to "
                f"double/bigint for rendering parity"
            )
    return problems


def main() -> int:
    raw = sys.argv[1:]
    chunk_spec = None
    if "--chunk" in raw:
        i = raw.index("--chunk")
        chunk_spec = raw[i + 1]
        del raw[i:i + 2]
    args = [a for a in raw if a not in ("--window", "--ansi")]
    window_only = "--window" in raw
    ansi = "--ansi" in raw
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from dbldatagen_spark.session import tool_session

    if window_only:
        # --window: exactly the driver's gate — the FIRST 50 queries()
        # entries (the rotation window); combine with names to subset
        window = list(entrymod.queries())[:50]
        only = (only & set(window)) if only else set(window)
    if chunk_spec is not None:
        try:
            idx, total = (int(x) for x in chunk_spec.split("/"))
        except ValueError:
            raise SystemExit(f"--chunk expects I/N, got {chunk_spec!r}")
        if not 1 <= idx <= total:
            raise SystemExit(f"--chunk index {idx} outside 1..{total}")
        names = sorted(only) if only else list(entrymod.queries())
        per = -(-len(names) // total)  # ceil
        only = set(names[(idx - 1) * per: idx * per])
        print(f"chunk {idx}/{total}: {len(only)} queries")

    spark = tool_session("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    if ansi:
        # standing rotation gate (the round-10 sweep caught two latent
        # element_at hazards): run the Spark side under ANSI mode
        spark.conf.set("spark.sql.ansi.enabled", "true")
        print("ANSI mode: spark.sql.ansi.enabled=true")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            # pass 1: driver-like config
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            ssig = frame_signature([tuple(r) for r in srows], scols)
            # pass 2: perturbed partitioning — detects order-dependent values
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")
            sdf2 = fn(spark, sf_dir)
            ssig2 = frame_signature([tuple(r) for r in sdf2.collect()], sdf2.columns)
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        shape_probs = canon_shape_problems(sdf.dtypes)
        if shape_probs:
            failures += 1
            print(f"FAIL  {name}: canon-shape audit:")
            for p in shape_probs:
                print(f"      {p}")
            continue
        if ssig != ssig2:
            failures += 1
            print(
                f"FAIL  {name}: UNSTABLE under repartitioning "
                f"({ssig[2][:12]} vs {ssig2[2][:12]}) — "
                f"values depend on aggregation order"
            )
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={ssig[0]} (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            atbl = cur.fetch_arrow_table()
            ocols = atbl.schema.names
            # to_pylist per column then zip (arrow keeps python types faithful)
            cols_pylists = [c.to_pylist() for c in atbl.columns]
            orows = list(zip(*cols_pylists)) if cols_pylists and atbl.num_rows else []
            osig = frame_signature(orows, ocols)
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        tprobs = _type_problems(sdf, atbl.schema)
        if tprobs:
            failures += 1
            print(f"FAIL  {name}: type audit:")
            for p in tprobs:
                print(f"      {p}")
            continue
        if ssig == osig:
            print(f"ok    {name}: rows={ssig[0]}")
        else:
            failures += 1
            print(f"FAIL  {name}:")
            print(f"      spark  rows={ssig[0]} cols={ssig[1]} hash={ssig[2]}")
            print(f"      duckdb rows={osig[0]} cols={osig[1]} hash={osig[2]}")
            if ssig[0] == osig[0] and ssig[1] == osig[1]:
                # show first differing row for debugging
                sset = {
                    "|".join(
                        _norm_cell(t[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for t in (tuple(r) for r in srows)
                }
                oset = {
                    "|".join(
                        _norm_cell(t[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for t in orows
                }
                diff_s = sorted(sset - oset)[:3]
                diff_o = sorted(oset - sset)[:3]
                print(f"      only-spark: {diff_s}")
                print(f"      only-duck:  {diff_o}")
    spark.stop()
    print("FAILURES:" if failures else "ALL OK:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
