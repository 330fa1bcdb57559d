"""Spark's own counters, read from outside the engine over py4j.

Jobs and stages come from the core status store
(``SparkContext.statusStore``); plan-node metrics (rows, bytes crossing
the Python boundary) come from the SQL status store
(``SharedState.statusStore``). Both are filled by listeners that run
whether or not the web UI is enabled, so this works with
``spark.ui.enabled=false``; no REST endpoint is involved.
"""

from __future__ import annotations

import re
from collections import defaultdict

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
ROWS = "number of output rows"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _ints(s) -> list[int]:
    text = s.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def metric_value(text: str) -> float:
    """A formatted SQL metric as a number: '4,387' -> 4387 and
    'total (min, med, max ...)\\n1.2 KiB (...)' or '437.8 KiB' -> bytes."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StatusReader:
    """Marks a point in the application's history and reads every job
    and SQL execution after it, keyed by job group."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.job0 = self.exec0 = 0

    def _flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self._flush()
        jobs = _seq(self.jsc.statusStore().jobsList(None))
        self.job0 = 1 + max((j.jobId() for j in jobs), default=-1)
        execs = _seq(self._sql().executionsList())
        self.exec0 = 1 + max((e.executionId() for e in execs), default=-1)

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def jobs_by_group(self) -> dict[str | None, list[dict]]:
        """Every job since ``mark``: id and stage ids, by job group."""
        self._flush()
        out: dict[str | None, list[dict]] = defaultdict(list)
        for j in _seq(self.jsc.statusStore().jobsList(None)):
            if j.jobId() < self.job0:
                continue
            g = j.jobGroup()
            out[g.get() if g.isDefined() else None].append(
                {"id": j.jobId(), "stages": _ints(j.stageIds())}
            )
        return out

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Stage counters summed over ``jobs``; skipped stages (reused
        shuffle output) count for nothing."""
        store = self.jsc.statusStore()
        tot = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_write_bytes",
             "spill_bytes", "executor_run_s", "gc_s"), 0.0)
        tot["jobs"] = float(len(jobs))
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.diskBytesSpilled()
            tot["executor_run_s"] += st.executorRunTime() / 1000.0
            tot["gc_s"] += st.jvmGcTime() / 1000.0
        return tot

    def plan_nodes(self, job_ids: set[int]) -> list[dict]:
        """Plan nodes of every SQL execution since ``mark`` that ran one
        of ``job_ids``: name, description and metric values."""
        self._flush()
        sql = self._sql()
        nodes = []
        for e in _seq(sql.executionsList()):
            eid = e.executionId()
            if eid < self.exec0 or not set(_ints(e.jobs().keys())) & job_ids:
                continue
            values = sql.executionMetrics(eid)
            for n in _seq(sql.planGraph(eid).allNodes()):
                ms = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = metric_value(v.get())
                nodes.append({"exec": eid, "name": n.name(),
                              "desc": n.desc(), "metrics": ms})
        return nodes


def python_bytes(nodes: list[dict]) -> float:
    return sum(n["metrics"].get(PY_SENT, 0.0) + n["metrics"].get(PY_RECV, 0.0)
               for n in nodes)


def verifier_nodes(nodes: list[dict]) -> list[dict]:
    """The DE-9IM verifier's Arrow map (its output carries r_* flags)."""
    return [n for n in nodes
            if n["name"] == "MapInArrow" and "r_intersects" in n["desc"]]


def top_rows(nodes: list[dict]) -> float:
    """Output rows of the first node (plan order, root first) of the
    first execution that reports a row count: the frame's row count."""
    for n in nodes:
        if ROWS in n["metrics"]:
            return n["metrics"][ROWS]
    return 0.0
