"""Spans around the calls into each layer, kept in memory per run.

A span records name, start, end, parent span and the op id shared by all
spans of one op.  While a span is open its Spark job tag is set
(``addJobTag``/``setJobDescription``, restored in ``finally``), so jobs,
stages and shuffle bytes attribute to it through the status store.  py4j
commands sent while it is open are counted by wrapping the gateway client
of this process (memory/GC commands excluded).

With tracing off ``span`` is a no-op and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Dict, List, Optional

from py4j.protocol import MEMORY_COMMAND_NAME, Py4JJavaError

PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class CallCounter:
    """Counts py4j commands sent through one gateway client."""

    def __init__(self, client):
        self.count = 0
        self._lock = threading.Lock()
        send = client.send_command

        def counting_send(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                with self._lock:
                    self.count += 1
            return send(command, *args, **kwargs)

        client.send_command = counting_send


@dataclass
class Span:
    name: str
    op: int
    parent: Optional[int]
    tag: str
    start: float = 0.0
    end: float = 0.0
    jvm_calls: int = 0
    jobs: List[int] = field(default_factory=list)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self.op_stats: Dict[int, Dict[str, float]] = {}
        self.op_walls: Dict[int, float] = {}
        self._stack: List[int] = []
        self._op = -1
        if not enabled:
            return
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._tracker = jsc.statusTracker()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.calls = CallCounter(self.sc._gateway._gateway_client)

    # -- recording ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.sc
        idx = len(self.spans)
        span = Span(name, self._op, self._stack[-1] if self._stack else None,
                    f"perfbench-op{self._op}-span{idx}")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.addJobTag(span.tag)
        sc.setJobDescription(name)
        self.spans.append(span)
        self._stack.append(idx)
        calls0 = self.calls.count
        span.start = time.perf_counter()
        try:
            yield
        finally:
            span.end = time.perf_counter()
            span.jvm_calls = self.calls.count - calls0
            self._stack.pop()
            sc.removeJobTag(span.tag)
            sc.setJobDescription(prev_desc)

    @contextlib.contextmanager
    def op(self, op_id: int):
        """Root span of one op; afterwards its Spark work is attributed."""
        self._op = op_id
        if not self.enabled:
            yield
            return
        self._drain()
        first_exec = int(self._sql.executionsCount())
        first_span = len(self.spans)
        with self.span("op"):
            yield
        root = self.spans[first_span]
        # the op's wall time ends with its root span, before the drain and
        # the attribution below
        self.op_walls[op_id] = root.end - root.start
        self._drain()
        self.op_stats[op_id] = self._attribute(first_span, first_exec)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    # -- attribution -------------------------------------------------------

    def _attribute(self, first_span: int, first_exec: int) -> Dict[str, float]:
        spans = self.spans[first_span:]
        for s in spans:
            s.jobs = sorted(int(j) for j in self._tracker.getJobIdsForTag(s.tag))
        stats: Dict[str, float] = {}
        for s in spans:
            if s.name.startswith("dedup.") and s.name.endswith(".build"):
                # jobs fired while the DataFrame was being constructed
                stats["dedup.eager_jobs"] = stats.get("dedup.eager_jobs", 0) + len(s.jobs)
            if s.name in ("generator.build", "datagen.build"):
                key = s.name.replace(".build", ".jvm_calls")
                stats[key] = stats.get(key, 0) + s.jvm_calls
        # every job of the op carries the root span's tag
        op = self._stage_stats(spans[0].jobs)
        stats.update({f"exec.{k}": op[k] for k in ("jobs", "stages", "tasks")})
        dedup = self._stage_stats(sorted({j for s in spans if s.name.startswith("dedup.")
                                          for j in s.jobs}))
        stats.update({f"dedup.{k}": dedup[k] for k in ("jobs", "shuffle_bytes", "spill_bytes")})
        stats.update(self._sql_stats(first_exec))
        return stats

    def _stage_stats(self, jobs: List[int]) -> Dict[str, int]:
        stages = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info.isDefined():
                stages.update(int(s) for s in info.get().stageIds())
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def _sql_stats(self, first_exec: int) -> Dict[str, float]:
        """Plan shape and Python-UDF metrics of the SQL executions the op
        ran, read from their final (post-AQE) plan graphs."""
        out = {"plan.nodes": 0, "plan.exchanges": 0, "plan.python_nodes": 0,
               "plan.codegen_stages": 0, "udf.rows": 0, "udf.bytes_sent": 0,
               "udf.bytes_received": 0}
        total = int(self._sql.executionsCount())
        execs = self._sql.executionsList(first_exec, total - first_exec)
        for i in range(execs.size()):
            exec_id = execs.apply(i).executionId()
            nodes = self._sql.planGraph(exec_id).allNodes()
            values: Optional[Dict[int, str]] = None
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if name.startswith("WholeStageCodegen"):
                    out["plan.codegen_stages"] += 1
                    continue
                out["plan.nodes"] += 1
                if "Exchange" in name:
                    out["plan.exchanges"] += 1
                if PYTHON_NODE.search(name):
                    out["plan.python_nodes"] += 1
                    if values is None:
                        values = _scala_map(self._sql.executionMetrics(exec_id))
                    self._udf_metrics(node, values, out)
        return out

    @staticmethod
    def _udf_metrics(node, values, out) -> None:
        metrics = node.metrics()
        for m in range(metrics.size()):
            metric = metrics.apply(m)
            text = values.get(metric.accumulatorId())
            if text is None:
                continue
            name = metric.name()
            if name == "data sent to Python workers":
                out["udf.bytes_sent"] += parse_size(text)
            elif name == "data returned from Python workers":
                out["udf.bytes_received"] += parse_size(text)
            elif name == "number of output rows":
                out["udf.rows"] += int(text.replace(",", ""))

    # -- reporting ---------------------------------------------------------

    def layer_self_times(self, op_id: int) -> Dict[str, float]:
        """Self time per span name for one op: duration minus the part of
        it that child spans cover."""
        own = {i: s.end - s.start for i, s in enumerate(self.spans) if s.op == op_id}
        for i in list(own):
            parent = self.spans[i].parent
            if parent is not None:
                own[parent] -= self.spans[i].end - self.spans[i].start
        out: Dict[str, float] = {}
        for i, t in own.items():
            name = self.spans[i].name
            out[name] = out.get(name, 0.0) + t
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "ops": {str(k): v for k, v in self.op_stats.items()}}, fh)


def parse_size(text: str) -> int:
    """Total of a Spark size metric, e.g. ``"total (min, ...)\\n1.5 MiB (...)"``."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    number, unit = line.split()[:2]
    return int(float(number.replace(",", "")) * _SIZE_UNITS[unit])


def _scala_map(m) -> Dict[int, str]:
    out = {}
    it = m.iterator()
    while it.hasNext():
        entry = it.next()
        out[int(entry._1())] = entry._2()
    return out


def median_over_ops(per_op: List[Dict[str, float]], key: str) -> float:
    values = [d.get(key, 0.0) for d in per_op]
    return statistics.median(values) if values else 0.0
