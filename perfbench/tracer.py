"""Spans and layer counters recorded from outside the engine.

A traced run wraps the public functions of each layer (``io.read_table``,
``caching.persist_once``, ``skipping.plan_skipping``, ...) in place, in
every loaded engine module that bound them, so calls made from inside
the engine are seen too.  Spans (name, start, end, parent, op id) stay in
memory and are written once, when the run ends.  Nothing here runs in an
untraced run: the end-to-end numbers are measured with tracing off.
"""

from __future__ import annotations

import importlib
import json
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "columnar_analytics_engine_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """Records nested spans and per-op counters for one traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id: int | None = None
        # counters[op_id][name] -> value; op_id None = outside any op
        self.counters: dict[int | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._seen_frames: dict[int, object] = {}

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.op_id)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[self.op_id][name] += value

    # -- wrapping layer functions -------------------------------------------
    def patch(self, module_name: str, attr: str, make_wrapper) -> None:
        """Replace ``module.attr`` with ``make_wrapper(original)`` in every
        loaded engine module that holds the same function object."""
        module = importlib.import_module(module_name)
        original = getattr(module, attr)
        wrapper = make_wrapper(original)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, wrapper)

    def timed(self, span_name: str, after=None):
        """Wrapper factory: a span around each call, then ``after(result,
        args, kwargs)`` to record counters from the return value."""

        def make(original):
            def wrapper(*args, **kwargs):
                with self.span(span_name):
                    result = original(*args, **kwargs)
                if after is not None:
                    after(result, args, kwargs)
                return result

            return wrapper

        return make

    def install(self) -> None:
        """Wrap every layer function the per-layer metrics read."""
        p = PACKAGE
        self.patch(f"{p}.session", "get_spark", self.timed("session.get_spark"))

        def read_table_after(df, args, kwargs):
            self.count("io.read_table_calls")
            if id(df) in self._seen_frames:
                self.count("io.read_table_hits")
            self._seen_frames[id(df)] = df

        self.patch(f"{p}.io", "read_table", self.timed("io.read_table", read_table_after))

        def persist_once(original):
            def wrapper(df):
                from pyspark import StorageLevel

                new = df.storageLevel == StorageLevel.NONE
                with self.span("caching.persist_once"):
                    out = original(df)
                self.count("caching.persist_calls")
                self.count("caching.persist_new", 1.0 if new else 0.0)
                return out

            return wrapper

        self.patch(f"{p}.functions.caching", "persist_once", persist_once)

        def plan_after(plan, args, kwargs):
            self.count("skipping.files_total", plan["files_total"])
            self.count("skipping.files_kept", plan["files_total"] - plan["files_pruned"])

        self.patch(f"{p}.skipping", "plan_skipping", self.timed("skipping.plan_skipping", plan_after))
        self.patch(f"{p}.skipping", "update_stats_index", self.timed("skipping.update_stats_index"))
        self.patch(
            f"{p}.deletes", "delete_where",
            self.timed("deletes.delete_where", lambda n, a, k: self.count("deletes.tombstones", n)),
        )
        self.patch(f"{p}.deletes", "compact_deletes", self.timed("deletes.compact_deletes"))

        def rewrite_after(key):
            def after(res, args, kwargs):
                self.count("layout.files_rewritten", res.get(key, 0))

            return after

        self.patch(f"{p}.layout", "merge_upsert_files",
                   self.timed("layout.merge_upsert_files", rewrite_after("affected_files")))
        self.patch(f"{p}.layout", "cluster_compact",
                   self.timed("layout.cluster_compact", rewrite_after("rewritten")))
        self.patch(f"{p}.io", "write_colfile", self.timed("io.write_colfile"))
        self.patch(f"{p}.io", "read_colfile", self.timed("io.read_colfile"))

    def count_py4j(self, gateway_client) -> None:
        """Count py4j round trips: each goes through the one client
        object's ``send_command``."""
        original = gateway_client.send_command

        def send_command(*args, **kwargs):
            self.count("py4j_calls")
            return original(*args, **kwargs)

        gateway_client.send_command = send_command

    # -- output --------------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


_TREE_END = re.compile(r"\n\n\(\d+\) ")


def plan_node_counts(formatted: str) -> dict[str, int]:
    """Scan, exchange and Python-evaluation node counts of a formatted
    physical plan (the tree part above the per-node details)."""
    m = _TREE_END.search(formatted)
    tree = formatted[: m.start()] if m else formatted
    return {
        "scans": len(re.findall(r"Scan\b", tree)),
        "exchanges": len(re.findall(r"Exchange\b", tree)),
        "python_evals": len(re.findall(r"\w*(?:EvalPython|InPandas|InArrow)\w*", tree)),
    }


def stage_metrics(sc, group: str) -> dict[str, float]:
    """Sum the stage records of every job in ``group`` (skipped stages
    ran no tasks and are left out)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "run_s", "cpu_s", "input_bytes",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "first_stage_tasks"),
        0.0,
    )
    stage_ids = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        stage_ids.extend(info.stageIds)
    first = None
    for sid in sorted(set(stage_ids)):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["run_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if first is None:
            first = sd.numTasks()
    out["first_stage_tasks"] = float(first or 0)
    return out
