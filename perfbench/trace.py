"""Tracing for the traced run: spans recorded from outside the program,
a streaming-progress collector, and the event-log fold.

A span wraps one public call of the program. While it is open the Spark
job description is ``"<layer> #op<k>"``, so every job, stage and task the
call launches carries the layer name and op id into the event log.
:func:`fold_event_log` folds the log back into per-(layer, op) counters;
streaming micro-batch jobs (whose description Spark sets itself) are
attributed to their query by the query id in that description.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: (name, start, end, parent, op). Disabled tracers
    record nothing and leave job descriptions alone."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(f"{name} #op{self.op}")
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{parent} #op{self.op}" if parent else None)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "op": self.op})

    def self_ms(self) -> dict[tuple[str, int], float]:
        """Self time per (layer, op): span duration minus the part its
        child spans cover (children of one span do not overlap here)."""
        out: dict[tuple[str, int], float] = defaultdict(float)
        for s in self.spans:
            out[(s["name"], s["op"])] += (s["end"] - s["start"]) * 1e3
            if s["parent"] is not None:
                out[(s["parent"], s["op"])] -= (s["end"] - s["start"]) * 1e3
        return dict(out)


class Progress:
    """A StreamingQueryListener registered on ``spark`` that keeps every
    micro-batch progress event (as a dict) and every terminated query id."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.events: list[dict] = []
        self.terminated: set[str] = set()
        self.lock = threading.Lock()
        outer = self

        class Collector(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {"id": str(p.id), "batch": p.batchId, "rows": p.numInputRows,
                       "duration": dict(p.durationMs or {}),
                       "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                       "stateful": len(p.stateOperators) > 0}
                with outer.lock:
                    outer.events.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated.add(str(event.id))

        self.listener = Collector()
        spark.streams.addListener(self.listener)

    def since(self, n_before: int, timeout: float = 20.0) -> list[dict]:
        """Progress events after the first ``n_before``, once every query
        they belong to has terminated (its progress events precede its
        terminated event on the listener bus)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                new = self.events[n_before:]
                if new and {e["id"] for e in new} <= self.terminated:
                    return list(new)
            time.sleep(0.02)
        raise RuntimeError("streaming progress events did not arrive")

    def close(self):
        self.spark.streams.removeListener(self.listener)


# -- event log ---------------------------------------------------------------

_DESC = re.compile(r"^(?P<layer>\S+) #op(?P<op>-?\d+|None)$")
_QUERY_ID = re.compile(r"\bid = ([0-9a-f-]{36})")
_PY = {"time to start Python workers": "python.boot_ms",
       "time to initialize Python workers": "python.init_ms",
       "time to run Python workers": "python.total_ms",
       "data sent to Python workers": "python.data_sent_bytes",
       "data returned from Python workers": "python.data_received_bytes"}


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]):
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for c in info.get("children", []):
        _plan_metrics(c, out)


def _attr(desc: str | None, query_layer: dict[str, str], when_ms: float,
          op_windows: list[tuple[float, float, int]]):
    """(layer, op) of a job from its description; streaming jobs by query
    id and the op window their submission time falls in."""
    if desc:
        m = _DESC.match(desc.strip())
        if m:
            op = m.group("op")
            return m.group("layer"), (None if op == "None" else int(op))
        q = _QUERY_ID.search(desc)
        if q:
            layer = query_layer.get(q.group(1), "ingest.stream")
            for lo, hi, op in op_windows:
                if lo <= when_ms <= hi:
                    return layer, op
            return layer, None
    return "unattributed", None


def fold_event_log(log_dir: str, query_layer: dict[str, str],
                   op_windows: list[tuple[float, float, int]]) -> dict:
    """Fold every event log under ``log_dir`` into
    ``{(layer, op): {counter: value}}``; ``executor.task_skew`` is the
    max/median task run time of the layer's most skewed stage.
    ``op_windows`` are (start_ms, end_ms, op) of the traced ops."""
    acc_meta: dict[int, tuple[str, str]] = {}
    stage_attr: dict[int, tuple[str, int | None]] = {}
    exec_attr: dict[int, tuple[str, int | None]] = {}
    counters: dict = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict = defaultdict(list)
    driver_updates: list[tuple[int, list]] = []
    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir)
                   for n in names if not n.startswith("."))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = _attr(props.get("spark.job.description"), query_layer,
                                ev.get("Submission Time", 0), op_windows)
                    for sid in ev.get("Stage IDs", []):
                        stage_attr[sid] = key
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_attr.setdefault(int(eid), key)
                    counters[key]["jobs"] += 1
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), acc_meta)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append((ev["executionId"], ev["accumUpdates"]))
                elif kind == "SparkListenerTaskEnd":
                    key = stage_attr.get(ev["Stage ID"], ("unattributed", None))
                    c = counters[key]
                    tm = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["executor.run_ms"] += tm.get("Executor Run Time", 0)
                    c["executor.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    c["executor.gc_ms"] += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    c["exchange.shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                    c["exchange.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    c["exchange.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    stage_tasks[(key, ev["Stage ID"])].append(tm.get("Executor Run Time", 0))
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        _count_acc(c, acc_meta.get(a.get("ID")), a.get("Name"),
                                   a.get("Update"))
    for eid, updates in driver_updates:
        key = exec_attr.get(eid, ("unattributed", None))
        for acc_id, value in updates:
            meta = acc_meta.get(acc_id)
            _count_acc(counters[key], meta, meta[1] if meta else None, value)
    skew: dict = defaultdict(float)
    for (key, _sid), runs in stage_tasks.items():
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skew[key] = max(skew[key], max(runs) / statistics.median(runs))
    for key, v in skew.items():
        counters[key]["executor.task_skew"] = v
    return {k: dict(v) for k, v in counters.items()}


def _count_acc(c, meta, name, update):
    if update is None or name is None:
        return
    try:
        v = float(update)
    except (TypeError, ValueError):
        return
    node = meta[0] if meta else ""
    if name in _PY:
        c[_PY[name]] += v  # 'timing' SQL metrics are ms, 'size' ones bytes
    elif node.startswith("Scan") and name == "number of files read":
        c["scan.files_read"] += v
    elif node.startswith("Scan") and name == "number of output rows":
        c["scan.rows"] += v
