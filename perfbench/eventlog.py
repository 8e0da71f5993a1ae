"""Fold a Spark event log into per-op counters, split by plan-node layer.

The benchmark tags every public engine call it makes with a job description
``"<layer>|<op id>"`` (``SparkContext.setJobDescription``).  Spark copies the
description onto every job, and onto the SQL execution that owns the jobs,
so each job, stage and task in the log belongs to exactly one op.

Inside an op, plan nodes are attributed by the UDF they run, which separates
the Python time and Arrow bytes of three engine layers from the JVM work
around them:

* ``tokenize`` -- build stage T, the ``mapInPandas`` whose output carries
  ``(term, doc_id, ..., pos_bytes)``;
* ``encode`` -- build stage P, the ``mapInPandas`` running ``encode_iter``;
* ``decode`` -- the query-time block decode, an ``ArrowEvalPython`` over
  ``struct(first_doc_id, n, enc, ...)``; its output rows are blocks decoded.

Every other Python node is ``python``; ``BroadcastExchange`` is
``broadcast``.

Plans that AQE re-plans inside a cached relation (the engine persists its
build and tombstone-mask frames) never reach the log as plan nodes: their
tasks report Python metrics under accumulator ids no plan names.  Those are
attributed by the op's layer and the stage's shape instead: in a build,
a task that reads the (term, salt) exchange is stage P (``encode``) and one
that scans the corpus is stage T (``tokenize``); on the query path the only
Python UDF is the decode.  A driver-side ``data size`` update comes from a
broadcast whether or not its node is named.

The log must be written uncompressed and non-rolling
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``),
which is one JSON object per line.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

PY_NODES = frozenset(
    {
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
        "PythonMapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "AggregateInPandas",
        "WindowInPandas",
    }
)

# plan-node metric name -> short name used in OpStats.node
NODE_METRICS = {
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "number of output rows": "rows_out",
    "data size": "bytes",
}
PY_METRICS = frozenset(k for k, v in NODE_METRICS.items() if v.startswith("py_"))
QUERY_LAYERS = frozenset({"query.engine", "query.batch", "index.blockrows.read"})

_OUTPUT_COLS = re.compile(r"\)#\d+, \[(.*?)\]")


def classify(node_name: str, simple: str) -> "str | None":
    """Layer class of one plan node, or None when no layer claims it."""
    if node_name == "BroadcastExchange":
        return "broadcast"
    if node_name not in PY_NODES:
        return None
    if node_name == "MapInPandas":
        if simple.startswith("MapInPandas encode_iter("):
            return "encode"
        m = _OUTPUT_COLS.search(simple)
        if m and "pos_bytes#" in m.group(1) and "term#" in m.group(1):
            return "tokenize"
    if node_name == "ArrowEvalPython" and "struct(first_doc_id" in simple:
        return "decode"
    return "python"


def op_of(description: "str | None") -> "tuple[str, str] | None":
    """``(layer, op id)`` from a ``"<layer>|<op id>"`` job description."""
    if not description or "|" not in description:
        return None
    layer, op = description.split("|", 1)
    return layer, op


def fallback_class(layer: str, shuffle_read: int) -> str:
    """Class of a Python node whose plan never reached the log."""
    if layer == "index.build":
        return "encode" if shuffle_read else "tokenize"
    if layer in QUERY_LAYERS:
        return "decode"
    return "python"


@dataclass
class OpStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    exec_cpu_s: float = 0.0
    task_run_s: float = 0.0
    scheduler_delay_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    # (class, short metric) -> summed value, e.g. ("decode", "py_run_ms")
    node: dict = field(default_factory=lambda: defaultdict(float))
    # class -> number of tasks that reported a metric of that class
    node_tasks: dict = field(default_factory=lambda: defaultdict(int))
    # BroadcastExchange "data size" accumulators updated in this op
    broadcast_ids: set = field(default_factory=set)
    # (submission ms, completion ms) of every job
    job_spans: list = field(default_factory=list)

    @property
    def broadcasts(self) -> int:
        return len(self.broadcast_ids)

    def job_covered_s(self) -> float:
        """Wall seconds covered by at least one of this op's jobs."""
        total, start, end = 0, None, None
        for a, b in sorted(self.job_spans):
            if end is not None and a <= end:
                end = max(end, b)
                continue
            if end is not None:
                total += end - start
            start, end = a, b
        if end is not None:
            total += end - start
        return total / 1000.0

    def py(self, cls: str, metric: str) -> float:
        """Summed node metric of one class; Python run time in seconds."""
        v = self.node.get((cls, metric), 0.0)
        return v / 1000.0 if metric == "py_run_ms" else v


_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "SQLExecutionStart",
    "SQLAdaptiveExecutionUpdate",
    "SQLAdaptiveSQLMetricUpdates",
    "DriverAccumUpdates",
)


def _walk(plan: dict, accs: dict, names: dict) -> None:
    cls = classify(plan["nodeName"], plan["simpleString"])
    for m in plan["metrics"]:
        names[m["accumulatorId"]] = m["name"]
        short = NODE_METRICS.get(m["name"])
        if cls is not None and short is not None:
            accs[m["accumulatorId"]] = (cls, short)
    for c in plan["children"]:
        _walk(c, accs, names)


def fold(lines) -> "dict[str, OpStats]":
    """Fold event-log lines into ``{op id: OpStats}``.  Jobs without a
    benchmark description (corpus set-up, Spark internals) are dropped."""
    ops: dict[str, OpStats] = defaultdict(OpStats)
    accs: dict[int, tuple] = {}  # accumulator id -> (class, short metric)
    names: dict[int, str] = {}  # accumulator id -> metric name
    exec_op: dict[int, "tuple | None"] = {}
    job_op: dict[int, "tuple | None"] = {}
    job_start: dict[int, int] = {}
    stage_op: dict[int, "tuple | None"] = {}
    for line in lines:
        head = line[:90]
        if not any(w in head for w in _WANTED):
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart"):
            exec_op[e["executionId"]] = op_of(e.get("description"))
            _walk(e["sparkPlanInfo"], accs, names)
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            _walk(e["sparkPlanInfo"], accs, names)
        elif ev.endswith("SQLAdaptiveSQLMetricUpdates"):
            for m in e["sqlPlanMetrics"]:
                names[m["accumulatorId"]] = m["name"]
        elif ev.endswith("DriverAccumUpdates"):
            op = exec_op.get(e["executionId"])
            if op is None:
                continue
            st = ops[op[1]]
            for acc_id, value in e["accumUpdates"]:
                key = accs.get(acc_id)
                if key is None and names.get(acc_id) == "data size":
                    key = ("broadcast", "bytes")  # only broadcasts post it
                if key is None:
                    continue
                st.node[key] += float(value)
                if key == ("broadcast", "bytes"):
                    st.broadcast_ids.add(acc_id)
        elif ev == "SparkListenerJobStart":
            op = op_of((e.get("Properties") or {}).get("spark.job.description"))
            job_op[e["Job ID"]] = op
            job_start[e["Job ID"]] = e["Submission Time"]
            for sid in e["Stage IDs"]:
                stage_op.setdefault(sid, op)
            if op is not None:
                ops[op[1]].jobs += 1
        elif ev == "SparkListenerJobEnd":
            op = job_op.get(e["Job ID"])
            if op is not None:
                ops[op[1]].job_spans.append(
                    (job_start[e["Job ID"]], e["Completion Time"])
                )
        elif ev == "SparkListenerStageCompleted":
            op = stage_op.get(e["Stage Info"]["Stage ID"])
            if op is not None:
                ops[op[1]].stages += 1
        elif ev == "SparkListenerTaskEnd":
            op = stage_op.get(e["Stage ID"])
            if op is not None:
                _add_task(ops[op[1]], op[0], e, accs)
    return dict(ops)


def _add_task(st: OpStats, layer: str, e: dict, accs: dict) -> None:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    st.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        st.failed_tasks += 1
    run = m.get("Executor Run Time", 0)
    st.task_run_s += run / 1000.0
    st.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
    # as the Spark UI defines it: the part of the task's wall time spent
    # neither deserializing, running, serializing nor fetching the result
    delay = (
        info["Finish Time"]
        - info["Launch Time"]
        - run
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0)
    )
    st.scheduler_delay_s += max(delay, 0) / 1000.0
    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    shuffle_read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_read_bytes += shuffle_read
    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    acc_list = [a for a in info.get("Accumulables") or () if "Update" in a]
    by_id = {a["ID"]: a for a in acc_list}
    unnamed_rows = set()  # "number of output rows" of unplanned Python nodes
    for a in acc_list:
        if a["ID"] not in accs and a.get("Name") == "time to run Python workers":
            # a Python node's metrics are created in one block that ends
            # with its output-row count
            nxt = by_id.get(a["ID"] + 1)
            if nxt is not None and nxt.get("Name") == "number of output rows":
                unnamed_rows.add(nxt["ID"])
    seen = set()
    for a in acc_list:
        key = accs.get(a["ID"])
        if key is None and (a.get("Name") in PY_METRICS or a["ID"] in unnamed_rows):
            key = (fallback_class(layer, shuffle_read), NODE_METRICS[a["Name"]])
        if key is None:
            continue
        st.node[key] += float(a["Update"])
        seen.add(key[0])
    for cls in seen:
        st.node_tasks[cls] += 1


def fold_file(path: str) -> "dict[str, OpStats]":
    with open(path, encoding="utf-8") as f:
        return fold(f)
