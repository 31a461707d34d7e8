"""Per-layer probes, taken from outside the engine.

Each probe times one call into an engine entry point, or reads Spark/JVM
state around it: Spark jobs started under a job group the benchmark sets
(``statusTracker``), Catalyst phase times (``queryExecution.tracker``) and
SQLMetrics of the executed plan. Only traced runs use this module.
"""

from __future__ import annotations

import itertools
import time
from typing import Dict, List

PYTHON_NODES = {"BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "MapInPandas"}
PLAN_PHASES = ("analysis", "optimization", "planning")

_group_ids = itertools.count()


class JobCounter:
    """Counts the Spark jobs, stages and tasks started inside a ``with``
    block, by running the block under a fresh job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs = self.stages = self.tasks = 0

    def __enter__(self):
        self.group = f"perfbench-{next(_group_ids)}"
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        tracker = self.sc.statusTracker()
        ids = tracker.getJobIdsForGroup(self.group)
        self.jobs = len(ids)
        for jid in ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    self.stages += 1
                    self.tasks += stage.numTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return False


class CollectSpy:
    """Wraps ``df.collect`` on one DataFrame instance, so the rows and the
    collect time are visible even when an engine call (``response.*``)
    collects internally."""

    def __init__(self, df):
        self.rows = None
        self.ms = 0.0
        inner = df.collect

        def collect():
            t0 = time.perf_counter()
            self.rows = inner()
            self.ms += (time.perf_counter() - t0) * 1e3
            return self.rows

        df.collect = collect


def plan_stats(df) -> Dict[str, float]:
    """Catalyst phase time and executed-plan metrics of ``df``'s last
    execution: plan_ms, rows_scanned, python_nodes."""
    qe = df._jdf.queryExecution()
    plan_ms = 0.0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in PLAN_PHASES:
            plan_ms += kv._2().durationMs()
    scanned = python_nodes = 0
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in cls:
            stack.append(node.plan())
            continue
        name = node.nodeName()
        if name in PYTHON_NODES:
            python_nodes += 1
        if "Scan" in name:
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                scanned += metric.get().value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return {"catalyst.plan_ms": plan_ms, "execute.rows_scanned": scanned,
            "execute.python_nodes": python_nodes}


def gc_totals(spark) -> List[float]:
    """[collection time ms, collection count] summed over the JVM's
    garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return [float(sum(b.getCollectionTime() for b in beans)),
            float(sum(b.getCollectionCount() for b in beans))]
