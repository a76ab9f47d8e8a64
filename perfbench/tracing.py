"""Spans around calls into the engine's layers, recorded from the benchmark.

:class:`Tracer` keeps spans in memory (name, layer, start, end, parent,
thread) and attaches Spark job counts to each through
``feasibility_etl_spark.observability.JobMetricsTracker``: every span runs
inside its own ``track()`` group, so a span's counts are the jobs submitted
while it was the innermost span (its exclusive counts); inclusive counts are
summed over the subtree. ``install()`` wraps the public DataFrame-building
functions of the package's layer modules (and a few named entry points) by
rebinding every module attribute that refers to them; ``uninstall()``
restores the originals. Nothing in the program itself changes.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "feasibility_etl_spark"

#: entry points wrapped although they do not return a DataFrame
NAMED = {
    f"{PKG}.session": ["build_session"],
    f"{PKG}.__main__": ["cmd_etl"],
    f"{PKG}.streaming.stateful": ["denormalizing_sink"],
    f"{PKG}.writer.denormalized": ["write_denormalized", "audit_dim_collisions"],
    f"{PKG}.driver_queries.pipelines_joins": ["pipe_corpus_stage_frames"],
}
#: StageCache methods (compose's persist lifecycle) wrapped on the class
STAGE_CACHE_METHODS = ["__call__", "cut", "release"]


def layer_of(module: str) -> str:
    """Layer name of a package module: ``operators.<name>`` for operator
    modules, the first path component for the rest, ``cli`` for
    ``__main__``."""
    parts = module.split(".")[1:]
    if not parts:
        return "package"
    if parts[0] == "__main__":
        return "cli"
    if parts[0] == "operators" and len(parts) > 1:
        return f"operators.{parts[1]}"
    if parts[0] == "flagship":
        return "driver_queries"
    return parts[0]


class Span:
    __slots__ = ("sid", "parent", "name", "layer", "t0", "t1", "counts", "thread", "row")

    def __init__(self, sid, parent, name, layer, thread):
        self.sid, self.parent, self.name, self.layer = sid, parent, name, layer
        self.thread = thread
        self.t0 = self.t1 = 0.0
        self.counts: dict = {}
        self.row = -1

    def as_dict(self) -> dict:
        return {"id": self.sid, "parent": self.parent, "name": self.name,
                "layer": self.layer, "start": self.t0, "end": self.t1,
                "thread": self.thread, "counts": self.counts}


class Tracer:
    def __init__(self, spark) -> None:
        from feasibility_etl_spark.observability import JobMetricsTracker

        self._spark = spark
        self._jmt = JobMetricsTracker(spark)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []
        self._patched: list[tuple] = []
        #: the driving thread's innermost span: parent of spans opened on
        #: other threads (foreachBatch callbacks run on a py4j thread)
        self._root: Span | None = None

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        sc = self._spark.sparkContext
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        with self._lock:
            sp = Span(len(self.spans), parent.sid if parent else None, name, layer,
                      threading.get_ident())
            self.spans.append(sp)
        outer = (sc.getLocalProperty("spark.jobGroup.id"),
                 sc.getLocalProperty("spark.job.description"))
        main_thread = threading.current_thread() is threading.main_thread()
        stack.append(sp)
        if main_thread:
            prev_root, self._root = self._root, sp
        try:
            with self._jmt.track(name):
                sp.t0 = time.perf_counter()
                try:
                    yield sp
                finally:
                    sp.t1 = time.perf_counter()
            sp.row = len(self._jmt._rows) - 1
        finally:
            stack.pop()
            if main_thread:
                self._root = prev_root
            if outer[0] is not None:
                sc.setJobGroup(outer[0], outer[1] or "", False)

    def finish(self) -> None:
        """Fold the tracker's rows into the spans (one ``metrics_df``
        read at the end of the run, outside every timed window)."""
        rows = self._jmt.metrics_df().collect()
        for sp in self.spans:
            if 0 <= sp.row < len(rows):
                r = rows[sp.row]
                sp.counts = {
                    "jobs": r["n_jobs"], "stages": r["n_stages"], "tasks": r["n_tasks"],
                    "input_records": r["input_records"], "input_bytes": r["input_bytes"],
                    "output_records": r["output_records"], "output_bytes": r["output_bytes"],
                    "shuffle_bytes": r["shuffle_read_bytes"] + r["shuffle_write_bytes"],
                    "executor_ms": r["executor_run_ms"],
                }

    def inclusive(self, sp: Span, key: str) -> int:
        kids = self.children()
        todo, total = [sp], 0
        while todo:
            s = todo.pop()
            total += s.counts.get(key, 0)
            todo.extend(kids[s.sid])
        return total

    def children(self) -> dict:
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span (children's
        intervals are merged and clipped to the parent's)."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            ivs = sorted((max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids[s.sid])
            covered, cur0, cur1 = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur1 is None or a > cur1:
                    if cur1 is not None:
                        covered += cur1 - cur0
                    cur0, cur1 = a, b
                else:
                    cur1 = max(cur1, b)
            if cur1 is not None:
                covered += cur1 - cur0
            out[s.layer] += max(0.0, (s.t1 - s.t0) - covered)
        return dict(out)

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap the layer functions."""
        mods = {n: m for n, m in list(sys.modules.items())
                if m is not None and (n == PKG or n.startswith(PKG + "."))}
        targets: dict[int, tuple] = {}
        for mname, mod in mods.items():
            named = NAMED.get(mname, [])
            for attr, fn in vars(mod).items():
                if not inspect.isfunction(fn) or fn.__module__ != mname:
                    continue
                if attr in named or (not attr.startswith("_") and _returns_frame(fn)):
                    targets[id(fn)] = (fn, self._wrap(fn, f"{layer_of(mname)}.{attr}",
                                                      layer_of(mname)))
        for mname, mod in mods.items():
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))
        from feasibility_etl_spark.plans.compose import StageCache

        for meth in STAGE_CACHE_METHODS:
            orig = getattr(StageCache, meth)
            setattr(StageCache, meth, self._wrap(orig, f"plans.StageCache.{meth}", "plans"))
            self._patched.append((StageCache, meth, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()


def _returns_frame(fn) -> bool:
    ann = fn.__annotations__.get("return")
    return ann is not None and "DataFrame" in str(ann)
