"""Layer-attributed benchmark of the dbldatagen_spark generation engine.

    python3 perfbench/run.py --workload generation --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout.  One driver process, one Spark
session on ``local[<cpus>]``, one closed-loop client.  Set-up (session,
JVM warm-up, seeded inputs, one cold warm-up op) is timed separately; a
few untimed ops let the JIT settle; then ops run back to back for
``--seconds`` and the outputs of the last op are checked.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3


def metric_units(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json lists; a run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def span_metric(name: str) -> str:
    return f"{name}.s" if name in ("plan", "exec") else f"{name}_s"


def run(args) -> dict:
    import sparkenv
    import tracing
    import workloads

    spark, start_s = sparkenv.start_session(SCRATCH)
    try:
        pid = sparkenv.jvm_pid(spark)
        warm_s = sparkenv.warm_jvm(spark)
        workload = workloads.WORKLOADS[args.workload](spark, args.seed, SCRATCH)
        inputs = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.prepare()
            inputs.append(time.perf_counter() - t0)
        tracer = tracing.Tracer(spark, enabled=bool(args.trace))
        untraced = tracing.Tracer(spark, enabled=False)
        t0 = time.perf_counter()
        workload.op(untraced)
        workload.after_op()
        warmup_s = time.perf_counter() - t0
        setup_s = start_s + warm_s + statistics.median(inputs) + warmup_s
        # untimed: later ops still get faster while the JIT compiles the
        # driver's planning code (NOTES.md)
        for _ in range(workload.settle_ops):
            workload.op(untraced)
            workload.after_op()

        walls, traced_walls, attempted, failed, out = [], [], 0, 0, None
        profiler = "spark.sql.pyspark.udf.profiler"
        udf_python_s = 0.0
        deadline = time.perf_counter() + args.seconds
        # a traced run needs one untraced and one traced op however slow they are
        while attempted < 1 + args.trace or time.perf_counter() < deadline:
            traced = bool(args.trace) and attempted % 2 == 1
            attempted += 1
            if traced:
                spark.conf.set(profiler, "perf")
            try:
                if traced:
                    with tracer.op(attempted):
                        out = workload.op(tracer)
                    traced_walls.append(tracer.op_walls[attempted])
                else:
                    t0 = time.perf_counter()
                    out = workload.op(untraced)
                    walls.append(time.perf_counter() - t0)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            finally:
                if traced:
                    spark.conf.unset(profiler)
                    udf_python_s += sum(
                        s.total_tt for s in spark._profiler_collector._perf_profile_results.values())
                    spark.profile.clear(type="perf")
            workload.after_op()

        t0 = time.perf_counter()
        try:
            failures = workload.check(out) if out is not None else ["no op succeeded"]
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            failures = [f"check raised {exc!r}"]
        log(f"setup {setup_s:.2f}s (session {start_s:.2f}, warm {warm_s:.2f}, "
            f"inputs {statistics.median(inputs):.2f}, cold op {warmup_s:.2f}); "
            f"{attempted} ops {walls}; check {time.perf_counter() - t0:.2f}s")
        for f in failures:
            print(f"check failed: {f}", file=sys.stderr)
        if failures:
            failed = attempted
        correct = not failures and failed == 0

        if not args.trace:
            units = metric_units("end_to_end")
            metrics = {
                "wall_s": statistics.median(walls) if walls else 0.0,
                "setup_s": setup_s,
                "peak_rss_mb": sparkenv.peak_rss_mb(pid),
            }
        else:
            per_op = []
            for op_id, stats in sorted(tracer.op_stats.items()):
                row = dict(stats)
                row.update({span_metric(k): v for k, v in tracer.layer_self_times(op_id).items()})
                per_op.append(row)
            units = metric_units("per_layer")
            metrics = {k: tracing.median_over_ops(per_op, k) for k in units}
            metrics.update({
                "udf.python_s": udf_python_s / max(1, len(per_op)),
                "session.start_s": start_s,
                "session.warm_s": warm_s,
                "setup.corpus_s": statistics.median(inputs),
                "setup.warmup_s": warmup_s,
                "trace.overhead_s": (statistics.median(traced_walls) - statistics.median(walls))
                if walls and traced_walls else 0.0,
                "trace.ops": len(traced_walls),
                "failed_ratio": failed / attempted,
            })
            if out is not None:
                metrics.update(workload.trace_metrics(out))
            os.makedirs(os.path.join(SCRATCH, "traces"), exist_ok=True)
            tracer.dump(os.path.join(SCRATCH, "traces", f"{args.workload}-{args.seed}.json"))
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        sparkenv.stop_session(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import sparkenv

    shutil.rmtree(SCRATCH, ignore_errors=True)
    sparkenv.prepare_environment(ROOT, SCRATCH)
    try:
        import dbldatagen_spark
    except ImportError as exc:
        print(f"cannot import dbldatagen_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(dbldatagen_spark.__file__).startswith(ROOT + os.sep):
        print(f"dbldatagen_spark is not the source tree under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
