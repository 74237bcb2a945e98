"""Out-of-program tracing for the traced run.

Spans are recorded by wrapping public module and class attributes of the
program for the duration of one traced operation (the program itself is not
edited); lazy operator layers are measured by isolated forced calls whose
counts come from the executed plan's SQL metrics.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (id, name, thread, parent id, start, end, attrs).
    Parents are tracked per thread; nothing is written until ``dump``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "thread": threading.current_thread().name,
            "parent": stack[-1] if stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call until ``unwrap_all``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- queries ------------------------------------------------------------
    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def under(self, root: dict, prefix: str) -> list[dict]:
        """Spans named ``prefix*`` inside ``root``'s subtree, outermost only
        (a span nested in another span of the same prefix is not counted)."""
        by_id = {s["id"]: s for s in self.spans}

        def has_ancestor(s: dict, pred) -> bool:
            p = s["parent"]
            while p is not None:
                if pred(by_id[p]):
                    return True
                p = by_id[p]["parent"]
            return False

        return [
            s
            for s in self.named(prefix)
            if has_ancestor(s, lambda a: a is root)
            and not has_ancestor(s, lambda a: a["name"].startswith(prefix))
        ]

    def total_under(self, root: dict, prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in self.under(root, prefix))

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its direct children's intervals."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


# -- Spark-side counts ------------------------------------------------------


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def plan_metrics(df) -> list[tuple[str, dict[str, int]]]:
    """(node class, {metric: value}) for every node of ``df``'s executed
    plan, descending through adaptive plans and query stages. Call after an
    action ran on ``df`` itself (e.g. ``collect``), so the values are final."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        ms: dict[str, int] = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            ms[kv._1()] = int(kv._2().value())
        out.append((node.getClass().getSimpleName(), ms))
        todo.extend(_children(node))
    return out


def metric_sum(nodes, node_suffix: str, metric: str) -> int:
    return sum(ms.get(metric, 0) for cls, ms in nodes if cls.endswith(node_suffix))


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
