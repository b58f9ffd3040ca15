"""Driver-side spans for the traced run, and the per-operation layer
breakdown built from them.

Spans are kept in memory and analysed after Spark stops. Three sources
meet here:

* driver spans recorded by ``Tracer`` around the workload's own calls
  and around wrapped library functions (``sources.load_table``, the
  DataFrame checkpoint and action methods);
* streaming trigger records from a ``StreamingQueryListener``;
* worker spans written by ``worker_hook/perfbench_daemon.py``.

Spans from other threads and processes carry no parent; they are nested
under the deepest driver span that contains them in time. Where several
worker processes ran under one driver span, only the one covering the
most time (the blocking one) is kept in the tree.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

from pb.stats import self_times, union_length

CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "cache", "persist")
ACTION_METHODS = ("collect", "count", "toPandas", "take", "first", "head")
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else None,
            "name": name,
            **attrs,
        }
        stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that records a span;
        ``after(span, result, self_arg)`` may add attributes."""
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(rec, result, args[0] if args else None)
                return result

        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def _record_phases(rec: dict, _result, df) -> None:
    """Catalyst phase times of the DataFrame an action ran."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in PHASES:
            opt = phases.get(phase)
            if opt.isDefined():
                rec[f"{phase}_ms"] = float(opt.get().durationMs())
    except Exception:  # noqa: BLE001 -- phase times are best-effort diagnostics
        pass


def install_driver_wrappers(tracer: Tracer) -> None:
    """Wrap the driver-side layer boundaries. Must run before
    ``registry.all_queries()``: operator modules bind ``load_table`` by
    name when they are imported."""
    import pyspark_xgboost_spark.sources as sources
    from pyspark.sql.classic.dataframe import DataFrame

    tracer.wrap(sources, "load_table", "sources.load_table")
    for method in CHECKPOINT_METHODS:
        tracer.wrap(DataFrame, method, "spark.checkpoint")
    for method in ACTION_METHODS:
        tracer.wrap(DataFrame, method, "spark.action", after=_record_phases)


def make_stream_listener(records: list[dict]):
    """A StreamingQueryListener appending one record per trigger."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs)
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            records.append(
                {
                    "name": "streaming.trigger",
                    "start": start,
                    "end": start + d.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": d.get("addBatch", 0) / 1e3,
                    "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def read_worker_spans(trace_dir: str) -> list[dict]:
    spans = []
    for path in glob.glob(os.path.join(trace_dir, "spans-*.jsonl")):
        with open(path) as fh:
            spans.extend(json.loads(line) for line in fh if line.strip())
    return spans


def _contains(outer: dict, inner: dict) -> bool:
    return outer["start"] <= inner["start"] and inner["end"] <= outer["end"]


def _deepest_container(tree: list[dict], depth: dict[int, int], span: dict) -> dict | None:
    best = None
    for cand in tree:
        if _contains(cand, span) and (best is None or depth[cand["id"]] > depth[best["id"]]):
            best = cand
    return best


def build_op_tree(root: dict, driver: list[dict], triggers: list[dict], workers: list[dict]):
    """The span tree of one operation. ``driver`` holds every driver
    span (parentless ones from other threads get nested by time),
    ``triggers`` the streaming trigger records and ``workers`` the
    worker spans."""
    by_parent = defaultdict(list)
    for s in driver:
        if s["parent"] is not None:
            by_parent[s["parent"]].append(s)
    tree: list[dict] = []
    depth: dict[int, int] = {}

    def add_subtree(node: dict, d: int) -> None:
        tree.append(node)
        depth[node["id"]] = d
        for child in by_parent[node["id"]]:
            add_subtree(child, d + 1)

    add_subtree(root, 0)
    ids = itertools.count(-1, -1)
    orphans = [
        s for s in driver if s["parent"] is None and s is not root and _contains(root, s)
    ]
    orphans += [{**t, "id": next(ids)} for t in triggers if _contains(root, t)]
    for s in sorted(orphans, key=lambda s: s["start"]):
        parent = _deepest_container(tree, depth, s)
        add_subtree({**s, "parent": parent["id"]}, depth[parent["id"]] + 1)

    # worker spans: nest within each process, then hang each process's
    # top-level spans under the deepest containing driver span
    driver_tree = list(tree)
    groups: dict[tuple[int, int], list[dict]] = defaultdict(list)
    for pid, spans in itertools.groupby(
        sorted((w for w in workers if _contains(root, w)), key=lambda w: (w["pid"], w["start"], -w["end"])),
        key=lambda w: w["pid"],
    ):
        stack: list[dict] = []
        for w in spans:
            node = {**w, "id": next(ids)}
            while stack and not _contains(stack[-1], node):
                stack.pop()
            if stack:
                node["parent"], node["_anchor"] = stack[-1]["id"], stack[-1]["_anchor"]
            else:
                anchor = _deepest_container(driver_tree, depth, node)["id"]
                node["parent"] = node["_anchor"] = anchor
            groups[(node["_anchor"], pid)].append(node)
            stack.append(node)
    best: dict[int, tuple[float, int]] = {}
    for (anchor, pid), nodes in groups.items():
        covered = union_length(
            (n["start"], n["end"]) for n in nodes if n["parent"] == anchor
        )
        if anchor not in best or covered > best[anchor][0]:
            best[anchor] = (covered, pid)
    for (anchor, pid), nodes in groups.items():
        if best[anchor][1] == pid:
            tree.extend(nodes)
    return tree


def layer_breakdown(tree: list[dict], root_is_layer: bool) -> dict:
    """Self seconds per span name, and the share of the root's wall time
    the layers account for."""
    st = self_times(tree)
    root = tree[0]
    selfs: dict[str, float] = defaultdict(float)
    for s in tree:
        selfs[s["name"]] += st[s["id"]]
    wall = root["end"] - root["start"]
    unattributed = 0.0 if root_is_layer else st[root["id"]]
    accounted = sum(st.values()) - unattributed
    return {"self": dict(selfs), "wall": wall, "accounted_share": accounted / wall if wall else 1.0}
