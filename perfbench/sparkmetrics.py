"""Spark's own per-execution metrics, read from the SQL status store.

``spark._jsparkSession.sharedState().statusStore()`` keeps every SQL
execution's final plan graph and metric values, also with
``spark.ui.enabled=false``.  Values come back as display strings:

- timings: ``"total (min, med, max (stageId: taskId))\\n2.6 s (...)"``,
  where the total is ``N ms`` below one second, ``N.N s`` below a
  minute, then ``N.N m`` and ``N.NN h``.  ``shuffle write time`` is
  accumulated in nanoseconds but displayed in the same millisecond-based
  form, so it parses the same way;
- sizes: ``"... \\n8.2 KiB (...)"`` or ``"0.0 B"`` (binary prefixes);
- sums: ``"1,000"``.

Metrics are final only once the execution's ``completionTime`` is set;
:class:`ExecutionReader` drains the listener bus and waits for it.  The
calibration test pins these formats and what the Python-worker timings
count.
"""

from __future__ import annotations

import re
import time
from collections import Counter

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_value(text: str) -> float:
    """Total of one displayed metric value, in seconds, bytes or units."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparsed metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in {text!r}")


# (node-name test, metric name) -> rollup key
_ROLLUP = [
    (lambda n: "Scan" in n, "scan time", "scan_s"),
    (lambda n: "Scan" in n, "size of files read", "scan_bytes"),
    (lambda n: n == "Exchange", "shuffle bytes written",
     "shuffle_write_bytes"),
    (lambda n: n == "Exchange", "shuffle write time", "shuffle_write_s"),
    (lambda n: n == "Exchange", "shuffle records written",
     "shuffle_records"),
    (lambda n: n == "BroadcastExchange", "time to collect", "broadcast_s"),
    (lambda n: n == "BroadcastExchange", "time to build", "broadcast_s"),
    (lambda n: n == "BroadcastExchange", "time to broadcast",
     "broadcast_s"),
    (lambda n: True, "time to run Python workers", "python_run_s"),
    (lambda n: True, "time to initialize Python workers", "python_init_s"),
    (lambda n: True, "time to start Python workers", "python_start_s"),
    (lambda n: True, "data sent to Python workers", "bytes_to_python"),
    (lambda n: True, "data returned from Python workers",
     "bytes_from_python"),
]


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class ExecutionReader:
    """Rolls up the metrics of every SQL execution that finished since
    the previous call."""

    def __init__(self, spark):
        self._jss = spark._jsparkSession
        self._store = self._jss.sharedState().statusStore()
        self._drain()
        ids = [e.executionId() for e in _iter(self._store.executionsList())]
        self._next = max(ids) + 1 if ids else 0

    def _drain(self) -> None:
        self._jss.sparkContext().listenerBus().waitUntilEmpty(10_000)

    def _finished(self, eid: int, timeout_s: float = 10.0):
        deadline = time.monotonic() + timeout_s
        while True:
            opt = self._store.execution(eid)
            if opt.isDefined() and opt.get().completionTime().isDefined():
                return opt.get()
            if time.monotonic() > deadline:
                raise TimeoutError(f"execution {eid} never completed")
            time.sleep(0.01)

    def skip_new(self) -> None:
        """Leave out the executions started since the last call."""
        self._drain()
        while self._store.execution(self._next).isDefined():
            self._next += 1

    def read_new(self) -> Counter:
        """Totals over the executions started since the last call."""
        self._drain()
        out: Counter = Counter()
        while self._store.execution(self._next).isDefined():
            e = self._finished(self._next)
            self._next += 1
            add_execution(out, self._store, e)
        return out


def add_execution(out: Counter, store, e) -> None:
    eid = e.executionId()
    out["executions"] += 1
    out["s"] += (e.completionTime().get().getTime()
                 - e.submissionTime()) / 1e3
    out["jobs"] += e.jobs().size()
    values = store.executionMetrics(eid)
    for node in _iter(store.planGraph(eid).allNodes()):
        name = node.name()
        if name == "Exchange":
            out["exchanges"] += 1
        if is_python_node(name):
            out["arrow_eval_nodes"] += 1
        for m in _iter(node.metrics()):
            mname = m.name()
            for test, want, key in _ROLLUP:
                if mname == want and test(name):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_value(v.get())
