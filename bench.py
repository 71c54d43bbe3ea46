"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Covers both halves of the engine: raw generation throughput (pure-expression
columns over spark.range — the reference's core workload) and the pipeline
operators over the driver's parquet tables.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

GEN_BENCH_ROWS = 10_000_000

# headline set (module-level so tests and scripts/update_steady.py can
# audit coverage without running the bench)
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_revenue",
    "q9_product_profit",
    "dedup_exact",
    "dedup_minhash_lsh",
    "events_sessionize",
    "events_rolling_avg",
    "text_quality",
    "text_vocabulary",
    "text_pii_redaction",
    "corpus_pack_sequences",
    "events_funnel",
    "events_ewma",
    "events_cms_heavy_hitters",
    "gen_determinism",
]

# Per-query steady-state bests (seconds) at sf0.1 on local[32],
# GENERATED by scripts/update_steady.py from bench history (driver
# BENCH_r*.json one-liners + solo runs) — per-query minima, never
# hand-edited, so a new headline query can't silently miss straggler
# protection and an optimized query can't false-positive against a
# stale constant (tests/test_bench_steady.py enforces coverage).
_STEADY_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_steady.json"
)


def _sf_of(sf_dir: str) -> float:
    """Scale factor of a data directory by naming convention; bench
    lanes exist at 0.1 (driver testdata) and 1 (scripts/scaling_probe
    output).  The sf tag must appear as a delimiter-bounded path token
    (``.../sf1``, ``run_sf0.1/...``, ``testdata.sf1``) — a bare
    substring match would route ``/data/sf10`` or ``mysf1-old`` into
    the wrong lane and silently compare timings against the wrong
    minima; unrecognized paths fall back to the sf0.1 lane (the
    driver default).  ``.`` counts as a delimiter (dot-separated
    names are common) — the longer dotted tags are tested first, so
    ``sf0.1`` can never half-match as ``sf1``."""
    for tag, sf in (("sf0.01", 0.01), ("sf0.001", 0.001), ("sf0.1", 0.1),
                    ("sf1", 1)):
        if re.search(
            rf"(^|[/_\-.]){re.escape(tag)}($|[/_\-.])", sf_dir.rstrip("/")
        ):
            return sf
    return 0.1


def _load_steady(sf: float = 0.1) -> dict:
    """Per-query steady minima for this run's bench LANE.  The artifact
    is two-lane ({"sf0.1": {...}, "sf1": {...}}); a legacy flat dict
    reads as the sf0.1 lane.  An SF with no lane gets {} (spread-only
    straggler mode)."""
    try:
        with open(_STEADY_PATH) as f:
            raw = json.load(f)
    except (OSError, ValueError):
        return {}
    if raw and all(isinstance(v, dict) for v in raw.values()):
        lane = raw.get(f"sf{sf}", {})
        return {k: float(v) for k, v in lane.items()}
    return {k: float(v) for k, v in raw.items()} if sf == 0.1 else {}


def _bench_generate(spark) -> None:
    """Generate 10M rows x 9 mixed columns (benchmark/groupby-style schema)
    and force full evaluation with a count+agg."""
    from pyspark.sql import functions as F

    from dbldatagen_spark import (
        ColumnSpec,
        Normal,
        PatternColumn,
        RangeColumn,
        SequenceColumn,
        TableSpec,
        ValuesColumn,
        WeightedValues,
        Zipf,
        generate_table,
    )

    t = TableSpec(
        "bench_t",
        GEN_BENCH_ROWS,
        columns=[
            ColumnSpec("id1", SequenceColumn(start=1, step=1), dtype="long"),
            ColumnSpec("grp", RangeColumn(1, 100), dtype="int"),
            ColumnSpec("big", RangeColumn(1, 1_000_000), dtype="int"),
            ColumnSpec("v1", RangeColumn(1, 5), dtype="int"),
            ColumnSpec("v3", RangeColumn(0.0, 100.0), dtype="decimal(9,6)"),
            ColumnSpec("nrm", RangeColumn(0.0, 1.0, distribution=Normal()), dtype="double"),
            ColumnSpec("zip", RangeColumn(0, 9999, distribution=Zipf(1.3)), dtype="int"),
            ColumnSpec(
                "status",
                ValuesColumn(
                    ["pending", "shipped", "delivered", "cancelled"],
                    WeightedValues([1, 2, 6, 1]),
                ),
            ),
            ColumnSpec("code", PatternColumn("ORD-{digit:6}-{alpha:2}")),
        ],
        partitions=int(CPUS),
    )
    df = generate_table(spark, t, seed=42)
    # groupBy forces every column through codegen plus one shuffle round
    df.groupBy("grp").agg(
        F.sum("v1"), F.avg("v3"), F.count(F.lit(1))
    ).collect()


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from dbldatagen_spark.session import tool_session

    spark = tool_session(
        "dbldatagen_spark-bench",
        int(CPUS),
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM so timings measure steady-state throughput, not one-off
    # startup: Janino/whole-stage-codegen compilation, the sort/shuffle/join
    # machinery, regexp + higher-order-function evaluators, and parquet
    # footer caches. At production scale these costs are amortized over
    # hours; at sf0.1 they would otherwise dominate every first execution.
    # Uses tiny synthetic data — never the benchmark queries themselves.
    warm = spark.range(10_000).selectExpr(
        "id", "id % 7 AS k", "repeat(uuid(), 2) AS s"
    )
    warm.selectExpr(
        "k",
        "size(split(s, '-')) AS a",
        "length(regexp_replace(s, '[^a-f]', '')) AS b",
        "transform(sequence(1, 4), x -> xxhash64(s, x)) AS h",
    ).groupBy("k").agg(F.sum("a"), F.max("b"), F.count(F.lit(1))).collect()
    warm.alias("l").join(warm.alias("r"), "k").groupBy("k").count().collect()
    warm.selectExpr(
        "k", "id", "sum(id) OVER (PARTITION BY k ORDER BY id) AS rs"
    ).orderBy("k", "id").limit(10).collect()
    warm.selectExpr("k", "explode(split(s, '-')) AS tok").distinct().count()

    # quiesce pass: force a full data-page read of every input table so the
    # OS page cache is hot before any timed run — when the driver runs this
    # bench right after a full-registry sweep, cold parquet reads otherwise
    # inflate the first queries by ~25% (observed BENCH_r05 16.9s vs 13.5s
    # solo for identical plans).
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        d = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        # count over the all-column hash: evaluates the hash per row, so
        # every data page is actually read (a bare count() would satisfy
        # itself from parquet metadata); count can't overflow ANSI mode
        d.selectExpr(
            "count(xxhash64(" + ", ".join(d.columns) + ")) AS chk"
        ).collect()

    qs = entrymod.queries()
    headline = HEADLINE
    timings: dict[str, float] = {}

    # Per-query steady-state bests — generated artifact, see
    # scripts/update_steady.py. Used only to FLAG stragglers: a query
    # whose best-of-3 exceeds 2x its (session-normalized) steady state
    # is re-run once at the end and the minimum kept, because a
    # session-local JIT/GC/page-cache effect can blow up all 3 runs of
    # ONE query (observed r6: driver sessionize 4.6s / rolling_avg
    # 3.1s, judge text_quality 4.3s — all 0.8-1.5s isolated) while the
    # MEDIAN spread heuristic below stays quiet.
    SF = _sf_of(SF_DIR)
    STEADY = _load_steady(SF)

    # steady-state timing: the first execution of each query compiles its
    # unique whole-stage-codegen classes (Janino) and the JVM's C2 compiler
    # needs a few executions before the generated loops run at full speed —
    # measured here: the same 10M-row generate goes 9.6s -> 6.8s -> 1.9s on
    # consecutive runs.  At production scale these costs amortize to nothing,
    # so: one untimed warmup execution, then the best of three timed runs
    # (two occasionally still catches a C2 recompile on the heavier
    # two-build queries — observed as a 3x outlier on gen_determinism).
    # Confirmed by a pinned-order isolation run at sf0.1: dedup_exact goes
    # 1.70s cold -> 0.36-0.45s steady, so round-to-round swings between
    # ~0.33s and ~1.1s on that query are JIT/page-cache timing, not plan
    # regressions (its plan is unchanged: two shuffles of hash keys only).
    spreads: list[float] = []
    firsts: dict[str, float] = {}
    benchfns = {"gen_10m_rows": lambda: _bench_generate(spark)}

    def _best_of(fn, runs: int = 3) -> tuple[float, float]:
        fn()  # untimed compile/JIT warmup
        best = float("inf")
        first = None
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            if first is None:
                first = dt
            best = min(best, dt)
        if best > 0.05:  # sub-50ms queries are all scheduler noise
            spreads.append(first / best)
        return round(best, 3), round(first, 3)

    timings["gen_10m_rows"], firsts["gen_10m_rows"] = _best_of(
        benchfns["gen_10m_rows"]
    )

    for name in headline:
        if name not in qs:
            continue
        benchfns[name] = lambda name=name: qs[name](spark, SF_DIR).collect()
        timings[name], firsts[name] = _best_of(benchfns[name])

    # straggler pass: the median-spread heuristic below misses a SINGLE
    # query whose whole best-of-3 is inflated by a session effect (JIT
    # recompile storm, GC, page-cache eviction). Flag any query whose
    # best exceeds 2x its steady state (or whose first/best spread
    # alone exceeds 2 when no steady entry exists), give each ONE more
    # run at the very end — after the session has settled — and keep
    # the minimum, annotating what happened so the number is auditable
    # instead of silently polluting the headline total.
    #
    # The steady table is pinned to sf0.1 on the reference machine, so
    # the comparison is normalized by the SESSION's own median
    # best/steady ratio: on slower hardware (or a smaller SF) every
    # ratio shifts together and the median absorbs it — only a query
    # far off its OWN expectation relative to its peers is flagged. A
    # genuine single-query blowup still towers over the median.
    ratios = sorted(
        timings[n] / STEADY[n]
        for n in timings
        if STEADY.get(n, 0) > 0
    )
    hw_factor = ratios[len(ratios) // 2] if ratios else 1.0
    stragglers = []
    for name, best in sorted(timings.items()):
        steady = STEADY.get(name)
        spread = firsts.get(name, best) / max(best, 1e-9)
        if (steady and best > 2 * steady * hw_factor) or (
            steady is None and spread > 2
        ):
            t0 = time.perf_counter()
            benchfns[name]()
            rerun = round(time.perf_counter() - t0, 3)
            timings[name] = min(best, rerun)
            stragglers.append(
                {
                    "query": name,
                    "best_in_loop": best,
                    "rerun": rerun,
                    "steady": steady,
                    "kept": timings[name],
                }
            )

    # Optional noop-sink companions (guide §1.4), ADDITIONS-ONLY and
    # default OFF: the three collect-bound queries move most of their
    # large-SF wall time into single-threaded driver row
    # deserialization (sf1 measured: events_sessionize ~86% of wall in
    # the collect transfer, events_rolling_avg ~80%, events_ewma ~58%),
    # so computation improvements are invisible in the collect-timed
    # number.  With SPARK_GRAFT_NOOP_COMPANIONS=1 each headline query
    # is ALSO timed against the noop sink (computes every column of
    # every row, discards the result) and reported as "<name>__noop"
    # NEXT TO the unchanged collect-timed entry.  The headline total
    # still sums only the historical entries and the straggler/
    # contention heuristics never see companions, so round-over-round
    # history stays comparable; proposed to the driver, off until
    # blessed.
    noop_timings: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_NOOP_COMPANIONS") == "1":
        from scripts.measure import best_of

        for name in headline:
            if name not in qs:
                continue
            noop_timings[f"{name}__noop"] = best_of(
                lambda name=name: qs[name](spark, SF_DIR)
                .write.format("noop").mode("overwrite").save(),
                3,
            )

    # contention heuristic: each query's first timed run comes AFTER its own
    # untimed warmup, so on a quiet machine first/best stays near 1.  A
    # median spread over 1.4 means something else is stealing the cores
    # (e.g. the driver's sweep still draining) and the totals read high —
    # the number is still a valid upper bound, but not comparable
    # round-to-round.
    spreads.sort()
    median_spread = spreads[len(spreads) // 2] if spreads else 1.0
    contended = median_spread > 1.4

    total = round(sum(timings.values()), 3)
    sf = SF
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": {**timings, **noop_timings},
                "sf": sf,
                "contended": contended,
                "median_first_over_best": round(median_spread, 3),
                "steady_factor": round(hw_factor, 3),
                "stragglers": stragglers,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
