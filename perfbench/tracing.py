"""Layer trace for one benchmark run.

- :class:`Tracer` records spans (name, start, end, parent, operation id)
  in memory; nothing is written until :meth:`Tracer.dump`. A disabled
  tracer's :meth:`Tracer.span` is a no-op, so untraced runs pay nothing.
- :class:`Py4jCounter` counts Py4J round-trips made by this process, by
  wrapping the gateway client's ``send_command``.
- :func:`plan_fingerprint`, :func:`analyzed_nodes` and
  :func:`stage_metrics` read plan and status-store facts. They make
  many Py4J calls themselves and are only called outside timed spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql import DataFrame, SparkSession


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, first: int, last: int) -> dict[str, float]:
        """Seconds per span name, minus the time of each span's direct
        children, over the spans with index in ``[first, last)``."""
        total: dict[str, float] = defaultdict(float)
        for i in range(first, last):
            s = self.spans[i]
            total[s["name"]] += s["end"] - s["start"]
            if s["parent"] is not None and s["parent"] >= first:
                total[self.spans[s["parent"]]["name"]] -= s["end"] - s["start"]
        return dict(total)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans}) + "\n")


class Py4jCounter:
    """Counts ``send_command`` calls on the session's gateway client.
    Every Py4J method call, field read and object creation from Python
    is one such call. Memory commands are not counted: Py4J sends them
    from a finalizer thread when Python garbage-collects a proxy, so
    their number depends on GC timing, not on the code measured."""

    def __init__(self, spark: SparkSession):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counting(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                self.calls += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig


# Physical operators that run Python code in a worker process.
PYTHON_EVAL = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
)


def _walk_names(node, out: list[str]) -> None:
    name = node.nodeName()
    out.append(name)
    if name == "AdaptiveSparkPlan":
        # AdaptiveSparkPlanExec is a leaf; its plan hangs off executedPlan
        _walk_names(node.executedPlan(), out)
        return
    ch = node.children()
    for i in range(ch.length()):
        _walk_names(ch.apply(i), out)
    sq = node.subqueries()
    for i in range(sq.length()):
        _walk_names(sq.apply(i), out)


def plan_fingerprint(df: DataFrame) -> dict[str, int]:
    """Operator counts of ``df``'s physical plan, planned with AQE off so
    the whole-stage-codegen units are visible (AQE's initial plan hides
    them). Planning launches no job."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    names: list[str] = []
    _walk_names(plan, names)

    def count(*prefixes: str) -> int:
        return sum(1 for n in names if n.startswith(prefixes))

    return {
        "plan.shuffle_exchanges": count("Exchange"),
        "plan.broadcast_exchanges": count("BroadcastExchange"),
        "plan.wholestage_codegen": count("WholeStageCodegen"),
        "plan.python_eval": sum(1 for n in names if n in PYTHON_EVAL),
    }


def analyzed_nodes(df: DataFrame) -> int:
    """Plan plus expression nodes of the analyzed logical plan: every
    tree node serialises as one JSON object with a ``class`` key."""
    plan = df._jdf.queryExecution().analyzed()
    try:
        return plan.toJSON().count('"class":')
    except Exception:
        return len(plan.treeString().splitlines())


STAGE_FIELDS = {
    "exec.task_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "catalog.scan_bytes": ("inputBytes", 1),
    "exec.tasks": ("numTasks", 1),
    "exec.failed_tasks": ("numFailedTasks", 1),
}


def stage_metrics(spark: SparkSession, groups: list[str]) -> dict[str, float]:
    """Summed stage metrics of every job run under the given job groups,
    from the application status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs, stage_ids = 0, set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            if info is not None:
                jobs += 1
                stage_ids.update(int(x) for x in info.stageIds)
    out = {k: 0.0 for k in STAGE_FIELDS}
    out.update({"exec.jobs": jobs, "exec.stages": 0, "exec.spill_bytes": 0})
    store = sc._jsc.sc().statusStore()
    # stageList has Scala default arguments, which Py4J must pass explicitly
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages = store.stageList(None, *defaults)
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
            continue
        out["exec.stages"] += 1
        for key, (field, scale) in STAGE_FIELDS.items():
            out[key] += getattr(st, field)() * scale
        out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out
