"""Spark's own plan and stage metrics, read over py4j with the UI off.

Two stores hold what a traced run needs, keyed by the job group that each
span sets before its actions run:

* the SQL status store (``sharedState().statusStore()``): one entry per SQL
  execution, with its plan graph and the aggregated value of every plan
  metric -- "time to run Python workers", "data sent to Python workers",
  Exchange "shuffle bytes written", scan "number of output rows", ...;
* the core status store (``sc.statusStore()``): per-stage task metrics
  (executor CPU, GC, spill, task count) and per-task durations.

The SQL store keeps only the rendered metric strings ("12.3 s", "4.1 MiB",
"20,000", or a "total (min, med, max ...)" block), so `parse_metric` turns
them back into seconds, bytes or counts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_UDF_RE = re.compile(r"(\w+)\(")


def parse_metric(text: str | None) -> float:
    """Rendered SQL metric -> seconds (timings), bytes (sizes) or a count."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    tok = line.split()
    value = float(tok[0].replace(",", ""))
    if len(tok) > 1 and tok[1] in _UNITS:
        value *= _UNITS[tok[1]]
    return value


@dataclass
class PlanNode:
    id: int
    name: str
    desc: str
    metrics: dict[str, float]
    stage: int | None

    @property
    def udf(self) -> str | None:
        """Python function name of a MapInPandas / FlatMapGroupsInPandas node."""
        if "InPandas" not in self.name:
            return None
        m = _UDF_RE.search(self.desc[len(self.name):])
        return m.group(1) if m else None


@dataclass
class Execution:
    id: int
    group: str | None
    start: float                       # epoch seconds
    end: float
    nodes: dict[int, PlanNode]
    children: dict[int, list[int]]     # node id -> child node ids
    clusters: dict[int, list[int]]     # WholeStageCodegen id -> member ids

    @property
    def duration(self) -> float:
        return max(self.end - self.start, 0.0)

    def find(self, name_prefix: str, udf: str | None = None) -> list[PlanNode]:
        return [
            n for n in self.nodes.values()
            if n.name.startswith(name_prefix)
            and (udf is None or n.udf == udf)
        ]

    def first_below(self, node_id: int, name_prefix: str) -> PlanNode | None:
        """Nearest descendant of `node_id` whose name starts with the prefix."""
        todo = list(self.children.get(node_id, []))
        while todo:
            nid = todo.pop(0)
            node = self.nodes.get(nid)
            if node is not None and node.name.startswith(name_prefix):
                return node
            todo.extend(self.children.get(nid, []))
        return None


@dataclass
class StageStats:
    stage_id: int
    tasks: int
    cpu_s: float
    gc_s: float
    spill_bytes: float
    task_durations_s: list[float]


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o):
    return o.get() if o.isDefined() else None


def job_groups(spark) -> dict[int, str | None]:
    """job id -> job group, for every job the core status store retains."""
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = spark.sparkContext._jvm.java.util.ArrayList()
    return {int(j.jobId()): _opt(j.jobGroup()) for j in _iter(store.jobsList(empty))}


def read_executions(spark, groups: set[str]) -> list[Execution]:
    """Every finished SQL execution whose jobs ran under one of `groups`."""
    jg = job_groups(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _iter(store.executionsList()):
        jobs = [int(j) for j in _iter(e.jobs().keySet())]
        names = {jg.get(j) for j in jobs} & groups
        done = _opt(e.completionTime())
        if not names or done is None:
            continue
        eid = int(e.executionId())
        values = store.executionMetrics(eid)
        graph = store.planGraph(eid)
        nodes = {}
        for n in _iter(graph.allNodes()):
            metrics, stage = {}, None
            for m in _iter(n.metrics()):
                text = _opt(values.get(m.accumulatorId()))
                metrics[m.name()] = parse_metric(text)
                if stage is None and text:
                    hit = _STAGE_RE.search(text)
                    stage = int(hit.group(1)) if hit else None
            nodes[int(n.id())] = PlanNode(
                int(n.id()), n.name(), n.desc(), metrics, stage
            )
        children: dict[int, list[int]] = {}
        for edge in _iter(graph.edges()):
            children.setdefault(int(edge.toId()), []).append(int(edge.fromId()))
        clusters = {}
        for n in _iter(graph.nodes()):
            if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
                clusters[int(n.id())] = [int(c.id()) for c in _iter(n.nodes())]
        out.append(Execution(
            eid, sorted(names)[0], e.submissionTime() / 1000.0,
            done.getTime() / 1000.0, nodes, children, clusters,
        ))
    return out


def read_stages(spark, job_ids: set[int]) -> list[StageStats]:
    """Task metrics of every stage attempt that ran for one of `job_ids`."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stage_ids = set()
    for j in job_ids:
        stage_ids.update(int(s) for s in _iter(store.job(j).stageIds()))
    quantiles = sc._gateway.new_array(jvm.double, 0)
    out = []
    for s in _iter(store.stageList(
        jvm.java.util.ArrayList(), False, False, quantiles,
        jvm.java.util.ArrayList(),
    )):
        sid = int(s.stageId())
        if sid not in stage_ids or s.numCompleteTasks() == 0:
            continue
        durations = [
            _opt(t.duration()) or 0
            for t in _iter(store.taskList(sid, int(s.attemptId()), 1 << 20))
        ]
        out.append(StageStats(
            sid, int(s.numCompleteTasks()), s.executorCpuTime() / 1e9,
            s.jvmGcTime() / 1e3,
            float(s.memoryBytesSpilled() + s.diskBytesSpilled()),
            [d / 1e3 for d in durations],
        ))
    return out
