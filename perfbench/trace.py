"""Outside-in tracing: spans around the program's layer entry points.

The benchmark never edits the program. In a traced run it replaces a
few module attributes of ``c99_vectordb_spark`` with wrappers that open
a span, so every call the CLI makes through those attributes is
recorded. Spark defers work, so the wrapped entry points are the ones
that run *actions* (YAML load/dump, the index write, the verb's own
collects) rather than the lazy plan builders.

Each span that may run Spark work sets its own job group; after every
op the tracer reads ``statusTracker()`` to count the jobs, stages and
tasks each span ran. Spans are kept in memory and written out once, at
the end of the run.
"""

from __future__ import annotations

import functools
import json
import math
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``span()`` nests; spans of one op share
    ``op`` (set by :meth:`op`)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._op = None
        self._next = 0

    def _set_group(self, gid):
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str, spark_work: bool = True):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next, "name": name, "op": self._op,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{self._next}" if spark_work else None}
        self._next += 1
        if spark_work:
            self._set_group(rec["group"])
        self._stack.append(rec)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["start"], rec["end"] = t0, t1
            self._stack.pop()
            if spark_work:
                outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
                self._set_group(outer)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def op(self, name: str, measured: bool = True):
        """Root span of one op; counts Spark work per span when it ends.
        Set-up and warm-up ops are traced with ``measured=False``."""
        op_id = len(self.ops)
        self._op = op_id
        first = len(self.spans)
        rec = {"op": op_id, "name": name, "measured": measured}
        try:
            with self.span(f"op.{name}") as root:
                yield rec
        finally:
            self._op = None
            t0 = time.perf_counter()
            for s in self.spans[first:]:
                s.update(spark_counts(self.sc, s["group"]))
            rec["wall_s"] = root["end"] - root["start"]
            self.ops.append(rec)
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[int, float]:
        """Span id -> self seconds: duration minus its children's
        durations (children of one span run one after another)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)


def spark_counts(sc, group) -> dict:
    """Jobs, stages, tasks and single-task stages run under one job group."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "single_task_stages": 0}
    if sc is None or group is None:
        return out
    st = sc.statusTracker()
    for jid in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is None or si.numTasks == 0:
                continue
            out["stages"] += 1
            out["tasks"] += si.numTasks
            out["single_task_stages"] += si.numTasks == 1
    return out


#: (module attribute, span name, runs Spark work) for every layer entry
#: point the CLI reaches through a module attribute
CLI_LAYERS = [
    ("cli.cmd_recall", "recall", True),
    ("cli.cmd_analyze", "analyze", True),
    ("cli.cmd_save", "save", True),
    ("cli.cmd_reindex", "reindex", True),
    ("cli._write_embeddings", "embed.index_write", True),
    ("yaml_io.load_records_yaml", "yaml_io.load", True),
    ("yaml_io.save_records_yaml", "yaml_io.dump", True),
    ("yaml_io.parse_save_batch_yaml", "yaml_io.batch_parse", False),
    ("filters.compile_filter", "filters.compile", False),
    ("mutate.validate_overwrites", "mutate.validate", True),
    *[(f"fmt.{fn}", "fmt", False) for fn in (
        "recall_header", "recall_hit", "recall_yaml", "format_cell", "table",
        "stats_block", "memorized", "matched", "compacted")],
]


def install(tracer: Tracer) -> None:
    """Wrap every :data:`CLI_LAYERS` entry point with a tracer span."""
    from c99_vectordb_spark import cli, fmt
    from c99_vectordb_spark.operators import filters, mutate
    from c99_vectordb_spark.sources import yaml_io

    mods = {"cli": cli, "fmt": fmt, "filters": filters, "mutate": mutate,
            "yaml_io": yaml_io}
    for path, name, spark_work in CLI_LAYERS:
        mod_name, attr = path.split(".")
        mod = mods[mod_name]
        setattr(mod, attr, _wrap(tracer, getattr(mod, attr), name, spark_work))


def _wrap(tracer: Tracer, fn, name: str, spark_work: bool):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, spark_work):
            return fn(*args, **kwargs)

    return wrapper


def percentile_tail(samples: list[float], candidates=(50, 75, 90, 95, 99, 99.9)):
    """The highest candidate percentile with at least ten samples beyond
    it (nearest-rank), as ``(percentile, value)``; None when fewer than
    eleven samples leave no percentile with ten beyond it."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in candidates:
        rank = max(1, math.ceil(round(p * n / 100, 9)))
        if n - rank >= 10:
            best = (p, xs[rank - 1])
    return best
