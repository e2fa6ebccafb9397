"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side only: ``install`` wraps the
public entry points of each layer (``cdc``, ``functions``, ``lake``,
``sources``, ``streaming``) in place, and ``uninstall`` restores them.
Each span records its name, start, end, parent span and trace id; all
spans of one operation (a micro-batch, a lookup, a scan, a set-up) share
one trace id. Spans stay in memory until ``dump``.

Self time is a span's duration minus the part of its interval that its
child spans cover. Spark job counts per operation come from a job group
set around the operation and read back from the status tracker.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

# (module path, owner attribute or None for a module function, function
#  name, span name); wrapped in place by Tracer.install
ENTRY_POINTS = [
    ("arlas_proc_spark.cdc.engine", "CdcEngine", "apply_batch", "cdc.apply_batch"),
    ("arlas_proc_spark.cdc.engine", "CdcEngine", "replay", "cdc.replay"),
    ("arlas_proc_spark.cdc.engine", None, "lww_compact", "cdc.lww_compact"),
    ("arlas_proc_spark.cdc.engine", None, "prepare_events", "functions.prepare_events"),
    ("arlas_proc_spark.lake.table", "LakeTable", "merge_batch", "lake.merge_batch"),
    ("arlas_proc_spark.lake.table", "LakeTable", "append_batch", "lake.append_batch"),
    ("arlas_proc_spark.lake.table", "LakeTable", "read", "lake.read"),
    ("arlas_proc_spark.lake.table", "LakeTable", "lookup", "lake.lookup"),
    ("arlas_proc_spark.lake.table", "LakeTable", "compact", "lake.compact"),
    ("arlas_proc_spark.lake.table", "LakeTable", "snapshot", "lake.snapshot"),
    ("arlas_proc_spark.sources.changefeed", None, "changefeed_df",
     "sources.changefeed_df"),
    ("arlas_proc_spark.sources.readers", None, "read_parquet",
     "sources.read_parquet"),
    ("arlas_proc_spark.streaming.ingest", "StreamingIngest", "start", "streaming.start"),
]

# operations whose Spark jobs are counted (outermost one on a thread wins)
JOB_COUNTED = {"cdc.apply_batch", "bench.lookup"}


class Tracer:
    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple] = []

    # ------------------------------------------------------------- recording
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Record one span. A span inherits its parent's trace id; a
        top-level span takes ``trace``, or a trace of its own."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "trace": stack[-1]["trace"] if stack else (trace or f"op-{sid}"),
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.get_ident(), "attrs": attrs}
        group = None
        if name in JOB_COUNTED and self.spark is not None and not any(
                s.get("jobs_group") for s in stack):
            group = f"bench-{rec['id']}"
            rec["jobs_group"] = group
        stack.append(rec)
        sc = self.spark.sparkContext if group else None
        if group:
            saved = {k: sc.getLocalProperty(k) for k in
                     ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel")}
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                for k, v in saved.items():
                    sc.setLocalProperty(k, v)
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            with self._lock:
                self.spans.append(rec)

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            trace = None
            attrs = {}
            if name == "cdc.apply_batch":
                bid = kwargs.get("batch_id", args[2] if len(args) > 2 else None)
                trace = f"batch-{bid}"
            elif name.startswith("lake.") and args and hasattr(args[0], "path"):
                attrs["table"] = args[0].path
            with tracer.span(name, trace=trace, **attrs):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        import importlib
        for mod_name, owner, attr, name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            target = getattr(mod, owner) if owner else mod
            orig = target.__dict__[attr]
            setattr(target, attr, self._wrapper(orig, name))
            self._restore.append((target, attr, orig))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._restore):
            setattr(target, attr, orig)
        self._restore.clear()

    # -------------------------------------------------------------- reducing
    def finished(self) -> list[dict]:
        with self._lock:
            return list(self.spans)

    def self_times(self) -> dict[int, float]:
        """Span id -> self time: duration minus the union of the child
        spans' intervals (clipped to the parent's)."""
        spans = self.finished()
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_self_s(self) -> dict[str, float]:
        """Summed self time per layer (first component of the span name)."""
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.finished():
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + st[s["id"]]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.finished() if s["name"] == name]

    def jobs(self, name: str) -> list[int]:
        return [s["jobs"] for s in self.finished()
                if s["name"] == name and "jobs" in s]

    def dump(self, path: str, extra: dict | None = None) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            if extra:
                f.write(json.dumps({"meta": extra}) + "\n")
            for s in sorted(self.finished(), key=lambda s: s["start"]):
                f.write(json.dumps({**{k: v for k, v in s.items()
                                       if k != "jobs_group"},
                                    "self": st[s["id"]]}) + "\n")


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one recorded span (enter + exit) on this host."""
    t = Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("probe"):
            pass
    return (time.perf_counter() - t0) / n
