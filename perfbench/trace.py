"""Tracing for the per-layer run: in-memory spans recorded around the
benchmark's own calls into each layer, plus the Spark status stores
(SQL plan-node metrics and per-task stage data), read after each job.
Both stores are populated with the Spark UI off.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager

# --------------------------------------------------------------- spans


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]]
            )
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f, indent=1)


# ------------------------------------------------- SQL status store

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(KiB|MiB|GiB|TiB|B|ms|s|m|h)?(?![A-Za-z])")


def parse_metric(text: str) -> dict[str, float]:
    """A formatted SQL metric value → {"total", "min", "med", "max",
    "stage"}. Sizes come back in bytes and times in seconds; "stage" is
    the stage that ran the slowest task. Sum metrics ("1,234") carry
    only a total."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    body, _, where = body.partition("(stage")
    vals = [
        float(n.replace(",", "")) * _UNITS.get(u or "", 1.0)
        for n, u in _NUM.findall(body)
    ]
    out = dict(zip(("total", "min", "med", "max"), vals[:4] if len(vals) >= 4 else vals[:1]))
    stage = re.match(r"\s*(\d+)\.", where)
    if stage:
        out["stage"] = int(stage.group(1))
    return out


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def last_execution_nodes(spark, after_id: int, timeout: float = 10.0) -> tuple[int, list[dict]]:
    """Plan nodes of the newest finished SQL execution with id > after_id:
    [{"name", "metrics": {metric name: parsed value}}]. Waits for the
    listener to record the execution's end (it runs asynchronously)."""
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + timeout
    while True:
        done = [
            e for e in _seq(store.executionsList())
            if e.executionId() > after_id and e.completionTime().isDefined()
        ]
        if done:
            break
        if time.monotonic() > deadline:
            return after_id, []
        time.sleep(0.05)
    ex = max(done, key=lambda e: e.executionId())
    eid = ex.executionId()
    raw = store.executionMetrics(eid)
    values = {}
    it = raw.iterator()
    while it.hasNext():
        kv = it.next()
        values[int(kv._1())] = kv._2()
    nodes = []
    for node in _seq(store.planGraph(eid).allNodes()):
        metrics = {}
        for m in _seq(node.metrics()):
            text = values.get(int(m.accumulatorId()))
            if text is not None:
                metrics[m.name()] = parse_metric(text)
        nodes.append({"name": node.name(), "metrics": metrics})
    return eid, nodes


def max_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _seq(store.executionsList())]
    return max(ids) if ids else -1


# ------------------------------------------------- app status store


def _stage_list(spark):
    """Every stage the app status store holds (its Scala defaults spelled
    out: any status, no details, no quantiles)."""
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    return _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None))


def max_stage_id(spark) -> int:
    ids = list(spark.sparkContext.statusTracker().getActiveStageIds())
    ids += [s.stageId() for s in _stage_list(spark)]
    return max(ids) if ids else -1


def stages_since(spark, after_stage: int) -> list[dict]:
    """Completed stages with id > after_stage: task count and per-task
    run times (seconds), GC and shuffle-write figures."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for s in _stage_list(spark):
        if s.stageId() <= after_stage or str(s.status()) != "COMPLETE":
            continue
        tasks = _seq(store.taskList(s.stageId(), s.attemptId(), 1 << 20))
        durs = []
        for t in tasks:
            tm = t.taskMetrics()
            if tm.isDefined():
                durs.append(tm.get().executorRunTime() / 1000.0)
        out.append({
            "stage": s.stageId(),
            "name": s.name(),
            "tasks": s.numTasks(),
            "task_s": durs,
            "input_bytes": s.inputBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "gc_ms": s.jvmGcTime(),
        })
    return out


def skew(durations: list[float]) -> float:
    """max / median task time (1.0 when balanced)."""
    pos = [d for d in durations if d > 0]
    if not pos:
        return 1.0
    return max(pos) / statistics.median(pos)


def jvm_gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))
