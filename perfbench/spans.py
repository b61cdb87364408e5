"""Per-layer tracing from outside the program.

Spans are recorded around calls into the program's public functions (the
benchmark's own wrappers; nothing inside the package changes) and held in
memory until the run ends. Each layer call runs under its own Spark job
group, so job, stage, task and shuffle counts are read back per layer
from the status store once the listener bus has drained. Operator metrics
come from the final (post-AQE) SQL plan graph of every execution an op
ran; Catalyst phases from each action's `QueryExecution.tracker()`; GC
time from the JVM's GarbageCollectorMXBeans.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import defaultdict

PYTHON_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "ArrowWindowPython", "WindowInPandas",
    "FlatMapGroupsInPandasWithState", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
}
PHASES = ("analysis", "optimization", "planning")

_UNITS_MS = {"ns": 1e-6, "us": 1e-3, "µs": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_UNITS_B = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-zµ]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it: a bare count
    ("1,234"), or a size/timing total whose first line is a header
    ("total (min, med, max (stageId: taskId))\\n12.3 MiB (...)")."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    line = lines[-1] if len(lines) > 1 else lines[0]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNITS_MS:
        return num * _UNITS_MS[unit]
    return num * _UNITS_B.get(unit, 1)


class Tracer:
    """Records spans and counts for one traced phase of a run.

    `layer(name)` times a call into the program and runs it under a job
    group unique to (layer, op); `action(layer, df, fn)` additionally reads
    the Catalyst phases of the DataFrame's QueryExecution. `finish()`
    resolves job groups and plan metrics into per-op counters."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._groups: dict[str, tuple[int, str, bool]] = {}
        self._op: dict | None = None
        self._phases: list = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def op(self, kind: str):
        op = {"id": len(self.ops), "kind": kind, "counts": defaultdict(float)}
        self._op = op
        t0 = time.perf_counter()
        try:
            with self.layer(f"op.{kind}", group=False):
                yield op
        finally:
            op["wall_ms"] = (time.perf_counter() - t0) * 1e3
            self.ops.append(op)
            self._op = None

    @contextlib.contextmanager
    def layer(self, name: str, group: bool = True, action: bool = False):
        parent = self._stack[-1] if self._stack else None
        span = {
            "name": name,
            "op": self._op["id"] if self._op else None,
            "parent": parent["name"] if parent else None,
        }
        gid = None
        if group and self._op is not None:
            gid = f"bench:{self._op['id']}:{name}:{len(self.spans)}"
            self._groups[gid] = (self._op["id"], name, action)
            self.sc.setJobGroup(gid, name)
        self._stack.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            self._stack.pop()
            if gid is not None:
                outer = next((s for s in reversed(self._stack) if s.get("group")), None)
                if outer is not None:
                    self.sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            # the job-group py4j calls stay inside the span, so an op's
            # spans cover its wall-clock
            span["end"] = time.perf_counter()
            self.spans.append(span)
            span["group"] = gid
            if self._op is not None:
                self._op["counts"][f"{name}_ms"] += (span["end"] - span["start"]) * 1e3

    def count(self, name: str, value: float) -> None:
        """Add to a counter of the running op, or of the last op when
        called between ops (untimed follow-up counts)."""
        op = self._op or (self.ops[-1] if self.ops else None)
        if op is not None:
            op["counts"][name] += value

    def action(self, layer: str, df, fn, prefix: str | None = None):
        """Run an action on `df` under `layer`, recording the Catalyst
        phases of df's QueryExecution under `prefix` (default: layer's
        module). `fn(df)` performs the action. When the action is a write,
        the writer re-plans df in its own QueryExecution, so the phases are
        forced first and that second planning lands in the action's time."""
        prefix = prefix or layer.split(".")[0]
        with self.layer(f"{prefix}.plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        # read back in finish(): py4j round trips here would land in the op
        self._phases.append((self._op, prefix, qe))
        with self.layer(layer, action=True):
            return fn(df)

    # ------------------------------------------------------------ resolve
    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def finish(self, tags: dict[str, str] | None = None) -> None:
        """Drain the listener bus, then attach job/stage/task/shuffle counts
        (per job group) and SQL plan metrics (per execution) to each op.

        `tags` maps a path fragment of a scanned input to a layer name: a
        broadcast exchange whose subtree scans a tagged input is counted
        under that layer (`<layer>.broadcast_bytes`, `.broadcast_collect_ms`)."""
        for op, prefix, qe in self._phases:
            phases = qe.tracker().phases()
            for phase in PHASES:
                if phases.contains(phase):
                    op["counts"][f"{prefix}.{phase}_ms"] += phases.apply(phase).durationMs()
            # DataFrame construction analyzes eagerly: the final analysis ran
            # inside the build span, so report build net of it
            op["counts"][f"{prefix}.build_ms"] -= op["counts"][f"{prefix}.analysis_ms"]
        self._phases.clear()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_op = {op["id"]: op for op in self.ops}
        job_owner: dict[int, tuple[int, bool]] = {}
        for gid, (op_id, name, action) in self._groups.items():
            counts = by_op[op_id]["counts"]
            for job_id in self.sc.statusTracker().getJobIdsForGroup(gid):
                job_owner[job_id] = (op_id, action)
                counts[f"{name}.jobs"] += 1
                counts["spark.jobs"] += 1
                stages = store.job(job_id).stageIds()
                for i in range(stages.size()):
                    st = store.lastStageAttempt(stages.apply(i))
                    if st.status().toString() != "COMPLETE":
                        continue
                    counts["spark.stages"] += 1
                    counts["spark.tasks"] += st.numCompleteTasks()
                    counts["shuffle.bytes_written"] += st.shuffleWriteBytes()
                    counts["shuffle.bytes_read"] += st.shuffleReadBytes()
                    counts["shuffle.fetch_wait_ms"] += st.shuffleFetchWaitTime()
                    counts["input.bytes_read"] += st.inputBytes()
                    # stages whose RDD graph has a "Scan csv" scope: the
                    # task time spent scanning and parsing the CSV source
                    dot = self.jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(
                        store.operationGraphForStage(stages.apply(i)))
                    if 'label="Scan csv' in dot:
                        counts["stage.scan_csv_ms"] += st.executorRunTime()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            owner = None
            it = ex.jobs().keySet().iterator()
            while it.hasNext():
                owner = job_owner.get(it.next(), owner)
            if owner is not None:
                op_id, action = owner
                self._plan_metrics(sql, ex.executionId(), by_op[op_id]["counts"], action, tags or {})

    def _plan_metrics(self, sql, execution_id: int, counts, action: bool, tags) -> None:
        values = sql.executionMetrics(execution_id)
        graph = sql.planGraph(execution_id)

        def metrics_of(node) -> dict[str, float]:
            out = {}
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if values.contains(m.accumulatorId()):
                    out[m.name()] = parse_metric(values.apply(m.accumulatorId()))
            return out

        nodes = graph.allNodes()
        info = {}
        for i in range(nodes.size()):
            node = nodes.apply(i)
            info[node.id()] = (node.name().split(" (")[0].strip(), str(node.desc()), metrics_of(node))
        children: dict[int, list[int]] = defaultdict(list)
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            children[e.toId()].append(e.fromId())

        def subtree_tags(node_id: int) -> set[str]:
            found, todo, seen = set(), [node_id], set()
            while todo:
                n = todo.pop()
                if n in seen or n not in info:
                    continue
                seen.add(n)
                kind, desc, _ = info[n]
                if kind.startswith("Scan"):
                    found |= {layer for frag, layer in tags.items() if frag in desc}
                todo += children.get(n, [])
            return found

        for node_id, (kind, desc, metrics) in info.items():
            for mname, v in metrics.items():
                counts[f"plan.{kind}.{mname}"] += v
            if kind in PYTHON_NODES and action:
                counts["plan.python_nodes"] += 1
            if kind == "WholeStageCodegen" and action:
                counts["plan.codegen_pipeline_ms"] += metrics.get("duration", 0.0)
            if kind.startswith("Scan"):
                fmt = kind.split()[1] if len(kind.split()) > 1 else "other"
                counts[f"plan.scan_{fmt}.rows"] += metrics.get("number of output rows", 0.0)
            if kind == "BroadcastExchange":
                for layer in subtree_tags(node_id):
                    counts[f"{layer}.broadcast_bytes"] += metrics.get("data size", 0.0)
                    counts[f"{layer}.broadcast_collect_ms"] += metrics.get("time to collect", 0.0)


def python_totals(counts) -> dict[str, float]:
    """Sum the Python-boundary SQL metrics over every Python plan node."""
    out = defaultdict(float)
    for key, v in counts.items():
        if not key.startswith("plan."):
            continue
        parts = key.split(".", 2)
        if len(parts) != 3 or parts[1] not in PYTHON_NODES:
            continue
        metric = parts[2]
        if metric == "time to initialize Python workers":
            out["init_ms"] += v
        elif metric == "time to run Python workers":
            out["compute_ms"] += v
        elif metric == "data sent to Python workers":
            out["bytes_sent"] += v
        elif metric == "data returned from Python workers":
            out["bytes_received"] += v
    return out

