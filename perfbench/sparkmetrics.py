"""Read Spark's own SQL metrics for the executions of one traced op.

Every action of an op runs under one job description; afterwards the
SQL status store (``sharedState().statusStore()``, populated with the UI
disabled) gives each execution's plan graph and final metric values.
Nothing here needs JVM code or touches the program under test.
"""

from __future__ import annotations

import re

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

#: display names of the metrics the per-layer stats sum
ROWS = "number of output rows"
SHUFFLE = "shuffle bytes written"
SPILL = "spill size"
PY_TOTAL = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")

_REFINE_NODES = ("Filter", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "MapInArrow")


def parse_metric(text: str | None) -> float:
    """Value of one Spark metric string in base units (rows, bytes,
    seconds).  Aggregated task metrics read as
    ``total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)``;
    the total is used.  Plain forms: ``15,000``, ``9.8 MiB``, ``1.0 s``,
    ``61 ms``.  A metric that never received a value reads as 0."""
    if text is None:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparseable Spark metric value: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return num
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in Spark metric value {text!r}")


class Plan:
    """One execution's plan graph with its metric values: ``nodes`` maps
    node id to (name, {metric name: value}); ``children`` maps a node
    id to the ids of the nodes that feed it."""

    def __init__(self, nodes: dict, edges: list[tuple[int, int]]):
        self.nodes = nodes
        self.children: dict[int, list[int]] = {}
        parents = {}
        for src, dst in edges:
            self.children.setdefault(dst, []).append(src)
            parents[src] = dst
        self.parent = parents
        self.roots = [i for i in nodes if i not in parents]

    def total(self, *names: str) -> float:
        return sum(m.get(n, 0.0) for _, m in self.nodes.values() for n in names)

    def _first_with_rows(self, start: list[int]) -> float | None:
        queue = list(start)
        while queue:
            i = queue.pop(0)
            if ROWS in self.nodes[i][1]:
                return self.nodes[i][1][ROWS]
            queue.extend(self.children.get(i, []))
        return None

    def rows_out(self) -> float:
        """Rows reaching the sink: the topmost node that counts rows."""
        return self._first_with_rows(self.roots) or 0.0

    def candidates(self) -> float | None:
        """Pairs attempted by the plan's joins: for each join, its output
        rows when a refine step (a Filter or Python node, past any
        Project) consumes them, else, when the join evaluates the refine
        predicate itself, the rows it probed (its largest input).  The
        largest of these is the op's candidate count."""
        attempts = []
        for j, (name, m) in self.nodes.items():
            if "Join" not in name or ROWS not in m:
                continue
            up = self.parent.get(j)
            while up is not None and self.nodes[up][0] == "Project":
                up = self.parent.get(up)
            if up is not None and self.nodes[up][0].startswith(_REFINE_NODES):
                attempts.append(m[ROWS])
            else:
                inputs = [self._first_with_rows([c]) for c in self.children.get(j, [])]
                attempts.append(max((v for v in inputs if v is not None), default=m[ROWS]))
        return max(attempts, default=None)


class StatusStore:
    """The session's SQL status store, read through py4j."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def count(self) -> int:
        self._bus.waitUntilEmpty(30_000)
        return self._store.executionsCount()

    def plans(self, since: int, description: str) -> list[Plan]:
        """Plans of the executions recorded after ``since`` (a
        :meth:`count`) that ran under ``description``."""
        self._bus.waitUntilEmpty(30_000)
        out = []
        execs = self._store.executionsList(since, 1 << 30)
        for k in range(execs.size()):
            e = execs.apply(k)
            if e.description() != description:
                continue
            eid = e.executionId()
            values = self._store.executionMetrics(eid)
            graph = self._store.planGraph(eid)
            nodes = {}
            it = graph.allNodes().iterator()
            while it.hasNext():
                n = it.next()
                metrics = {}
                mi = n.metrics().iterator()
                while mi.hasNext():
                    pm = mi.next()
                    v = values.get(pm.accumulatorId())
                    metrics[pm.name()] = metrics.get(pm.name(), 0.0) + parse_metric(
                        v.get() if v.isDefined() else None
                    )
                nodes[n.id()] = (n.name(), metrics)
            edges = []
            ei = graph.edges().iterator()
            while ei.hasNext():
                ed = ei.next()
                edges.append((ed.fromId(), ed.toId()))
            out.append(Plan(nodes, edges))
        return out


def op_stats(plans: list[Plan]) -> dict[str, float]:
    """Per-op stats summed over an op's executions; ``rows_out`` and the
    candidate count come from its last execution (the sink action)."""
    stats = {
        "rows_out": plans[-1].rows_out() if plans else 0.0,
        "shuffle_bytes": sum(p.total(SHUFFLE) for p in plans),
        "spill_bytes": sum(p.total(SPILL) for p in plans),
        "py_s": sum(p.total(PY_TOTAL) for p in plans),
        "py_bytes_sent": sum(p.total(PY_SENT) for p in plans),
        "py_boot_s": sum(p.total(*PY_BOOT) for p in plans),
    }
    cand = plans[-1].candidates() if plans else None
    if cand:
        stats["candidates"] = cand
    return stats
