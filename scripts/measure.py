"""Measure driver-contract registry queries, one JSON record per query.

Each ``__spark_entry__.queries()`` entry yields one line of JSON with

- ``construction_s``, ``eager_jobs``, ``construction_py4j``: wall time
  of the query function, the Spark jobs it fired before any action
  (counted through a per-query job group and ``statusTracker``) and the
  py4j commands it sent to the JVM (memory-management commands
  excluded);
- ``rows``: row count of one ``collect()`` of that DataFrame, after
  which its executed (post-AQE) plan is walked for ``shuffle_bytes``,
  ``shuffle_records``, ``spill_bytes`` and ``exchanges`` (bytes and
  records written per shuffle exchange, in plan order);
- ``persisted_rdds``: the persistent RDDs (cache entries and local
  checkpoints) that construction and that ``collect()`` added to the
  session, read before the timed rebuilds: what a call leaves held;
- ``collect_s``, ``noop_s``, ``sink_share``: rebuild-and-run timings
  with ``collect()`` and with the noop sink (one untimed warmup, then
  the best of ``--runs``; ``--runs 0`` skips them), so a slow query
  splits into slow plan vs big driver transfer.  Like ``bench.py``'s
  timed runs, these rebuilds read any cache the first build left;
- ``shuffles``, ``broadcasts``, ``sort_merge_joins``, ``py_udf_nodes``,
  ``codegen_fallbacks``: plan-shape counts over a separate build with
  AQE off, the table ``--update-plans`` writes to PLANS.md.

A query that raises gets an ``error`` field and the sweep goes on.
The session's cache is cleared after the timed builds and again after
the plan-shape build, so the first build of each phase plans as it would
in a fresh session.

Usage:
    python scripts/measure.py SF_DIR [QUERY ...] [--runs N]
        [--plans DIR] [--update-plans]

No QUERY means the whole registry.  ``--plans DIR`` writes each query's
``explain("formatted")`` (AQE on, before execution) to
``DIR/<query>.txt``.  The session is ``local[$SPARK_GRAFT_CPUS]``
(default: all cores).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FEATURES = {
    "shuffles": r"Exchange (?:hash|range)partitioning",
    "broadcasts": r"Broadcast(?:Hash|NestedLoop)Join",
    "sort_merge_joins": r"SortMergeJoin",
    "py_udf_nodes": r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
}


class Py4jCount:
    """Counts the py4j commands sent through the session's gateway client
    while the ``with`` block runs (memory-management commands excluded)."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0

    def __enter__(self):
        from py4j.protocol import MEMORY_COMMAND_NAME

        self.send = send = self.client.send_command

        def counting_send(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                self.count += 1
            return send(command, *args, **kwargs)

        self.client.send_command = counting_send
        return self

    def __exit__(self, *exc):
        self.client.send_command = self.send


def best_of(fn, runs: int) -> float:
    """Wall seconds of the fastest of ``runs`` calls of ``fn``, after one
    untimed warmup call (codegen/JIT), rounded to the millisecond."""
    fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _explain(spark, df, mode: str) -> str:
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def plan_shape(spark, fn, sf_dir: str) -> dict:
    """Plan-feature counts of a fresh build with AQE off, so the codegen
    explain sees concrete WholeStageCodegen subtrees (under AQE the
    pre-execution plan is a lazy AdaptiveSparkPlan with none); the
    counted node set matches the AQE initial plan."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = fn(spark, sf_dir)
        plan = _explain(spark, df, "simple")
        # explain-codegen COMPILES every whole-stage subtree; a generated
        # method past the JVM's 64 KB limit reports maxMethodCodeSize:-1
        # and would run interpreted
        codegen = _explain(spark, df, "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    # DISTINCT node texts, not raw matches: a cached subtree
    # (InMemoryRelation) prints at every reference site but executes
    # once, and a repeated identical Exchange is a ReusedExchange at
    # runtime.  Separately executed nodes carry distinct expression ids.
    # Matching from the node name to end of line drops the tree-drawing
    # prefix, which varies with depth.  Two separately executed nodes
    # that print identically inside one cached subtree count once.
    counts = {
        k: len(set(re.findall(pat + r"[^\n]*", plan))) for k, pat in FEATURES.items()
    }
    counts["codegen_fallbacks"] = codegen.count("maxMethodCodeSize:-1")
    return counts


def executed_metrics(df) -> dict:
    """Shuffle and spill totals of ``df``'s executed plan, read from the
    SQL metric accumulators after an action ran on ``df`` itself."""
    plan = df._jdf.queryExecution().executedPlan()
    # the outer AdaptiveSparkPlan carries no metrics; its final plan does
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    exchanges, spill = [], 0
    stack = [plan]
    while stack:
        node = stack.pop()
        values = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            values[str(kv._1())] = kv._2().value()
        if "shuffleRecordsWritten" in values:
            exchanges.append(
                {
                    "bytes": values.get("shuffleBytesWritten", 0),
                    "records": values["shuffleRecordsWritten"],
                }
            )
        spill += values.get("spillSize", 0)
        # QueryStage wrappers hide their subtree behind .plan()
        if "QueryStage" in node.nodeName():
            children = [node.plan()]
        else:
            ch = node.children()
            children = [ch.apply(i) for i in range(ch.size())]
        stack.extend(reversed(children))
    return {
        "shuffle_bytes": sum(e["bytes"] for e in exchanges),
        "shuffle_records": sum(e["records"] for e in exchanges),
        "spill_bytes": spill,
        "exchanges": exchanges,
    }


def persisted_ids(sc) -> set:
    """Ids of the RDDs the session holds persisted."""
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


def measure(spark, name: str, fn, sf_dir: str, runs: int = 1, plans_dir=None) -> dict:
    """The JSON record of one registry query (see the module docstring)."""
    rec: dict = {"query": name}
    try:
        sc = spark.sparkContext
        held = persisted_ids(sc)
        group = f"measure-{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"{name}: construction")
        try:
            with Py4jCount(spark) as sent:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                rec["construction_s"] = round(time.perf_counter() - t0, 3)
            rec["construction_py4j"] = sent.count
        finally:
            sc._jsc.clearJobGroup()
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        rec["eager_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(_explain(spark, df, "formatted"))
        rec["rows"] = len(df.collect())
        rec["persisted_rdds"] = len(persisted_ids(sc) - held)
        rec.update(executed_metrics(df))
        if runs > 0:
            rec["collect_s"] = best_of(lambda: fn(spark, sf_dir).collect(), runs)
            rec["noop_s"] = best_of(
                lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
                runs,
            )
            rec["sink_share"] = round(
                (rec["collect_s"] - rec["noop_s"]) / max(rec["collect_s"], 1e-9), 3
            )
    except Exception as exc:  # noqa: BLE001 - the sweep covers every query
        rec["error"] = f"{type(exc).__name__}: {exc}"
    # operators may cache a frame their lazy result reads; a later build
    # of the same query would scan that cache instead of planning afresh
    spark.catalog.clearCache()
    try:
        rec.update(plan_shape(spark, fn, sf_dir))
    except Exception as exc:  # noqa: BLE001 - the sweep covers every query
        # PLANS.md reports the plan-shape build's own failure
        rec["error"] = f"{type(exc).__name__}: {exc}"
    spark.catalog.clearCache()
    return rec


def plans_markdown(records: list, sf_dir: str) -> str:
    """PLANS.md from the plan-shape fields of ``records``."""
    lines = [
        "# PLANS — physical-plan audit of every driver-contract query",
        "",
        f"Generated by `scripts/measure.py --update-plans` at `{sf_dir}`. Counts are",
        "DISTINCT plan-node texts at audit scale — a cached subtree",
        "(`InMemoryRelation`) prints at every reference site but executes",
        "once, and a repeated identical Exchange is a `ReusedExchange` at",
        "runtime, so each counts once; separately-executed nodes carry",
        "distinct expression IDs and never collapse. Broadcast/shuffle",
        "split can shift with AQE and table sizes at other scales. Queries that",
        "collect driver-side state before planning (PCA, LSH probes,",
        "multi-build invariants) audit the final projection's plan.",
        "`codegen fallbacks` counts whole-stage subtrees whose generated",
        "method exceeds the JVM's 64 KB limit under explain-codegen",
        "(`maxMethodCodeSize:-1`) and would execute interpreted — the",
        "silent per-row re-evaluation hazard; the target is 0 everywhere.",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | python-UDF nodes | codegen fallbacks |",
        "|---|---|---|---|---|---|",
    ]
    audited = [r for r in records if "shuffles" in r]
    for r in records:
        if "shuffles" not in r:
            lines.append(f"| {r['query']} | audit error: {r['error']} | | | | |")
            continue
        lines.append(
            f"| {r['query']} | {r['shuffles']} | {r['broadcasts']} | "
            f"{r['sort_merge_joins']} | {r['py_udf_nodes']} | "
            f"{r['codegen_fallbacks']} |"
        )
    lines += [
        "",
        f"Totals: {len(audited)} queries audited, "
        f"{sum(r['shuffles'] for r in audited)} shuffles, "
        f"{sum(r['broadcasts'] for r in audited)} broadcast joins, "
        f"{sum(r['sort_merge_joins'] for r in audited)} sort-merge joins, "
        f"{sum(r['py_udf_nodes'] for r in audited)} python-UDF nodes, "
        f"{sum(r['codegen_fallbacks'] for r in audited)} whole-stage "
        f"subtrees falling back to interpreted evaluation "
        f"(maxMethodCodeSize:-1 under explain-codegen; target 0).",
        "",
    ]
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*", help="registry names (default: all)")
    ap.add_argument("--runs", type=int, default=1, help="timed runs per sink")
    ap.add_argument("--plans", metavar="DIR", help="write formatted explains here")
    ap.add_argument("--update-plans", action="store_true", help="rewrite PLANS.md")
    args = ap.parse_args()
    if args.update_plans and args.queries:
        ap.error("--update-plans audits the whole registry; drop the query names")

    import __spark_entry__ as entrymod
    from dbldatagen_spark.session import tool_session

    qs = entrymod.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        raise SystemExit(f"unknown queries {unknown}; {len(qs)} available")
    spark = tool_session("measure")
    spark.sparkContext.setLogLevel("FATAL")
    records = []
    for name in args.queries or sorted(qs):
        rec = measure(spark, name, qs[name], args.sf_dir, args.runs, args.plans)
        print(json.dumps(rec), flush=True)
        records.append(rec)
    if args.update_plans:
        with open(os.path.join(REPO, "PLANS.md"), "w") as f:
            f.write(plans_markdown(records, args.sf_dir))
        print(f"PLANS.md written ({len(records)} records)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
