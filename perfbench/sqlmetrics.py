"""Spark's own SQL metrics, read from the session's ``SQLAppStatusStore``.

For each SQL execution the store keeps the final (post-AQE) plan graph and
the rendered value of every accumulator. The graph is flattened, so nodes
inside whole-stage-codegen clusters and AQE query stages are all visited.
Values are summed per operator kind into the benchmark's metric names.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0,
}
_AGGREGATES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
# (node predicate, spark metric name, benchmark name)
_RULES = [
    (lambda n: n.startswith("Scan "), "number of output rows", "scan.rows"),
    (lambda n: n.startswith("Scan "), "number of files read", "scan.files"),
    (lambda n: n.startswith("Scan "), "scan time", "scan.time_ms"),
    (lambda n: n == "Exchange", "shuffle bytes written", "exchange.bytes_written"),
    (lambda n: n == "Exchange", "shuffle write time", "exchange.write_ms"),
    (lambda n: n == "Exchange", "fetch wait time", "exchange.fetch_wait_ms"),
    (lambda n: n in _AGGREGATES, "time in aggregation build", "aggregate.time_ms"),
    (lambda n: n == "BroadcastExchange", "time to collect", "broadcast.collect_ms"),
    (lambda n: n == "BroadcastExchange", "time to build", "broadcast.build_ms"),
    (lambda n: n == "BroadcastExchange", "number of output rows", "broadcast.rows"),
    (lambda n: True, "time to run Python workers", "python_udf.ms"),
    (lambda n: True, "spill size", "spill.bytes"),
]


def parse_value(text: str | None) -> float:
    """A rendered SQL metric ('1,234', '2.1 s', or a 'total (min, med,
    max ...)' block whose total leads its second line) as a number in
    bytes, milliseconds or units."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStoreReader:
    """Reads executions of one session whose ids are above a watermark."""

    def __init__(self, spark):
        self.spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_execution_id(self) -> int:
        ids = [e.executionId() for e in _iter(self._store.executionsList())]
        return max(ids, default=-1)

    def _finished(self, since: int, timeout: float = 5.0) -> list:
        """Executions after ``since``, waiting for the listener to record
        their end (listener events arrive asynchronously)."""
        deadline = time.monotonic() + timeout
        while True:
            execs = [e for e in _iter(self._store.executionsList()) if e.executionId() > since]
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                return execs
            time.sleep(0.05)

    def collect(self, since: int) -> dict:
        """Summed operator metrics over executions after ``since``, plus
        ``python_udf.ms:<node>`` per Python node kind and ``max_join_rows`` /
        ``max_hashagg_rows_in``: the largest single join output and
        HashAggregate input, which locate a kernel's candidate set (q30's
        scored pairs, q26/q27's candidate pairs)."""
        out: dict[str, float] = defaultdict(float)
        out["max_join_rows"] = out["max_hashagg_rows_in"] = 0.0
        tracker = self.spark.sparkContext.statusTracker()
        for e in self._finished(since):
            out["spark.jobs"] += e.jobs().size()
            for sid in _iter(e.stages()):
                info = tracker.getStageInfo(sid)
                out["spark.stages"] += 1
                out["spark.tasks"] += info.numTasks if info else 0
            graph = self._store.planGraph(e.executionId())
            values = {kv._1(): kv._2() for kv in _iter(self._store.executionMetrics(e.executionId()))}
            nodes = {n.id(): n for n in _iter(graph.allNodes())}
            children = defaultdict(list)
            for edge in _iter(graph.edges()):
                children[edge.toId()].append(edge.fromId())
            metric = {nid: {m.name(): parse_value(values.get(m.accumulatorId())) for m in _iter(n.metrics())}
                      for nid, n in nodes.items()}

            def rows_out(nid: int) -> float:
                # descend through nodes without a row count (Project, codegen, ...)
                if "number of output rows" in metric[nid]:
                    return metric[nid]["number of output rows"]
                return sum(rows_out(c) for c in children[nid])

            for nid, n in nodes.items():
                name, ms = n.name(), metric[nid]
                for pred, spark_name, bench_name in _RULES:
                    if spark_name in ms and pred(name):
                        out[bench_name] += ms[spark_name]
                if name == "BroadcastExchange":
                    out["broadcast.count"] += 1
                if name in _AGGREGATES:
                    rows_in = sum(rows_out(c) for c in children[nid])
                    out["aggregate.rows_in"] += rows_in
                    if name == "HashAggregate":
                        out["max_hashagg_rows_in"] = max(out["max_hashagg_rows_in"], rows_in)
                if "time to run Python workers" in ms:
                    out["python_udf.rows_in"] += sum(rows_out(c) for c in children[nid])
                    out[f"python_udf.ms:{name}"] += ms["time to run Python workers"]
                if name in _JOINS:
                    out["max_join_rows"] = max(out["max_join_rows"], ms.get("number of output rows", 0.0))
        return dict(out)
