"""Spans around the benchmark's calls into each layer, SQL metrics from
the executed plans of the benchmark's own actions, and scheduler numbers
from the Spark event log.

Everything is recorded from outside the engine: a span wraps a public
call or a Spark action the benchmark runs itself. With tracing off every
method is a no-op, so the untraced runs time the same code path.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# query-stage wrappers whose executed subtree hangs off .plan(), not .children()
_STAGES = {"ShuffleQueryStage", "BroadcastQueryStage", "TableCacheQueryStage",
           "ResultQueryStage"}


def plan_nodes(df) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every operator of df's last
    executed plan, descending through AdaptiveSparkPlan and query stages."""
    out = []

    def walk(p):
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(p.executedPlan())
            return
        kv, it = {}, p.metrics().iterator()
        while it.hasNext():
            t = it.next()
            kv[t._1()] = t._2().value()
        out.append((name, kv))
        if name in _STAGES:
            walk(p.plan())
        elif name == "InMemoryTableScan":
            walk(p.relation().cachedPlan())
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        subs = p.subqueries()
        for i in range(subs.size()):
            walk(subs.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def plan_sum(nodes, node: str, metric: str) -> int:
    """Sum of ``metric`` over every operator whose name starts with ``node``."""
    return sum(kv.get(metric, 0) for n, kv in nodes if n.startswith(node))


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory; written out
    by ``dump`` when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def plan(self, df) -> list[tuple[str, dict]]:
        """Executed-plan metrics of the action just run on ``df``; the
        walk itself is a ``trace.plan`` span, so it counts as overhead."""
        if not self.enabled:
            return []
        with self.span("trace.plan"):
            return plan_nodes(df)

    def self_times(self, op: str) -> dict[str, float]:
        """Self time per span name within one op: a span's duration minus
        what its children cover."""
        idx = [i for i, s in enumerate(self.spans) if s["op"] == op]
        child = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i in idx:
            s = self.spans[i]
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def event_log_stats(log_dir: str, app_id: str, prop: str) -> dict[str, dict]:
    """Per op (the value of local property ``prop`` on each job): jobs,
    stages and tasks run, JVM GC seconds and shuffle bytes written."""
    # plain file, or (Spark 4's default) an eventlog_v2_<app>/events_* directory
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*" + app_id + "*"),
                                  recursive=True) if os.path.isfile(f)
             and not os.path.basename(f).startswith("appstatus")]
    stage_op, stats = {}, defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get(prop)
                    if op is None:
                        continue
                    stats[op]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerStageCompleted":
                    op = stage_op.get(ev["Stage Info"]["Stage ID"])
                    if op is not None:
                        stats[op]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    if op is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    stats[op]["tasks"] += 1
                    stats[op]["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    stats[op]["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
    return {k: dict(v) for k, v in stats.items()}
