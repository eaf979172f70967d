"""Span tracing for the traced run.

Spans are recorded from the benchmark's own files: the public functions
of each program module are wrapped by patching the module attribute, so
callers that look the function up at call time (``pipeline.run_stats``
imports its operators inside the function) reach the wrapper.

Every span sets its own Spark job group, so a job is charged to the
innermost span active when it was launched. A lazy DataFrame built inside
one span (``bin_counts_df``, ``read_dataset``, ``normalize_df``) runs its
jobs later, under whichever span then collects it: those jobs are charged
to that enclosing span, not to the layer that built the plan.

Job counters come from the application status store
(``sc._jsc.sc().statusStore()``), which is populated with the UI off. It
is read after every pass; a job id missing from it means the store evicted
it before it was read, and the read raises.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute, layer): the public calls wrapped per layer. A name
# re-exported by a package __init__ is listed under both modules.
WRAPPED = [
    ("shifu_spark.session", "get_spark", "session"),
    ("shifu_spark.pipeline", "init_columns", "pipeline"),
    ("shifu_spark.pipeline", "run_stats", "pipeline"),
    ("shifu_spark.pipeline", "var_select", "pipeline"),
    ("shifu_spark.operators.stats", "numeric_column_stats", "operators.stats"),
    ("shifu_spark.operators.binning", "equal_population_boundaries", "operators.binning"),
    ("shifu_spark.operators.binning", "categorical_bins", "operators.binning"),
    ("shifu_spark.operators.ksiv", "bin_counts_df", "operators.ksiv"),
    ("shifu_spark.sources.reader", "read_dataset", "sources"),
    ("shifu_spark.sources.reader", "write_dataset", "sources"),
    ("shifu_spark.sources.reader", "write_header_sidecar", "sources"),
    ("shifu_spark.sources", "read_dataset", "sources"),
    ("shifu_spark.sources", "write_dataset", "sources"),
    ("shifu_spark.operators.normalize", "normalize_df", "operators.normalize"),
    ("shifu_spark.ml.nn", "train_nn_bagged", "ml.nn"),
    ("shifu_spark.ml.nn", "score_nn_ensemble", "ml.nn"),
    ("shifu_spark.ml.train", "assemble_features", "ml.train"),
    ("shifu_spark.ml.train", "score_ensemble", "ml.train"),
    ("shifu_spark.operators.eval_metrics", "curve_metrics_df", "operators.eval_metrics"),
    ("shifu_spark.operators.eval_metrics", "confusion_points_df", "operators.eval_metrics"),
    ("shifu_spark.operators.eval_metrics", "gain_buckets_df", "operators.eval_metrics"),
    ("shifu_spark.catalog.column_config", "load_column_configs", "catalog"),
    ("shifu_spark.catalog.column_config", "save_column_configs", "catalog"),
    ("shifu_spark.catalog", "load_column_configs", "catalog"),
    ("shifu_spark.catalog", "save_column_configs", "catalog"),
    ("shifu_spark.ml.registry", "load_model_set", "ml.registry"),
    ("shifu_spark.ml.registry", "save_model_set", "ml.registry"),
]
# one NN superstep: the per-epoch gradient job of ml.nn.train_nn
SUPERSTEP = ("shifu_spark.ml.nn", "_epoch")

PASS = "pass"  # root span of one pass; jobs outside every layer land here
JOB_SUFFIXES = ("jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb")
SPAN_SUFFIXES = ("calls", "wall_s", "self_s", "driver_s")

# The per-layer metrics a traced run reports, per pass. A layer whose
# calls only build lazy plans runs no job of its own, so it reports no job
# suffixes (its jobs are charged to the span that collects the plan); a
# layer that runs no job at all has self_s == driver_s == wall_s and keeps
# wall_s only.
LAYER_METRICS: dict[str, tuple[str, ...]] = {
    PASS: ("wall_s", "self_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_mb",
           "failed_tasks"),
    "session": ("calls", "wall_s"),
    "pipeline": SPAN_SUFFIXES + JOB_SUFFIXES,
    "operators.stats": SPAN_SUFFIXES + JOB_SUFFIXES,
    "operators.binning": SPAN_SUFFIXES + JOB_SUFFIXES + ("jobs_per_column",),
    "operators.ksiv": ("calls", "wall_s"),
    "sources": SPAN_SUFFIXES + JOB_SUFFIXES + ("write_mb",),
    "operators.normalize": ("calls", "wall_s"),
    "ml.nn": SPAN_SUFFIXES + JOB_SUFFIXES + ("supersteps", "superstep_s"),
    "ml.train": ("calls", "wall_s", "self_s"),
    "operators.eval_metrics": SPAN_SUFFIXES + JOB_SUFFIXES,
    "catalog": ("calls", "wall_s"),
    "ml.registry": SPAN_SUFFIXES + ("jobs", "tasks", "exec_cpu_s"),
}
RUN_METRICS = ("trace.overhead_frac",)


def per_layer_metric_names() -> list[str]:
    return [f"{layer}.{s}" for layer, sfx in LAYER_METRICS.items() for s in sfx] + list(RUN_METRICS)


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    group: str
    start: float
    end: float = 0.0
    extra: dict = field(default_factory=dict)


@dataclass
class Job:
    id: int
    group: str | None
    start: float  # seconds, wall clock
    end: float
    tasks: int
    failed_tasks: int
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0


class Tracer:
    """Collects spans and Spark jobs in memory for one worker process."""

    def __init__(self, group_prefix: str = "pb"):
        self.prefix = group_prefix
        self.spans: list[Span] = []
        self.jobs: list[Job] = []
        self.stack: list[Span] = []
        self.supersteps: list[float] = []  # walls of ml.nn _epoch calls, per traced pass
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []
        self._sc = None
        self._last_job = -1
        self._seen_stages: set[int] = set()
        self.active = False

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        """Open a span unless the innermost active span is of the same
        layer (a layer calling itself stays one span)."""
        if not self.active or (self.stack and self.stack[-1].layer == layer):
            yield None
            return
        sid = next(self._ids)
        s = Span(sid, self.stack[-1].id if self.stack else None, layer, name, f"{self.prefix}-{sid}",
                 time.time())
        self.stack.append(s)
        self._set_group(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            self.spans.append(s)
            if self.stack:
                self._set_group(self.stack[-1].group, self.stack[-1].name)
            elif self._sc is not None:
                self._sc._jsc.clearJobGroup()

    def _set_group(self, group: str, name: str) -> None:
        if self._sc is None:
            from pyspark import SparkContext

            self._sc = SparkContext._active_spark_context
        if self._sc is not None:
            self._sc.setJobGroup(group, name)

    def attach(self, sc) -> None:
        self._sc = sc

    # -- wrapping ---------------------------------------------------------
    def install(self) -> None:
        """Patch every WRAPPED attribute (and the superstep counter)."""
        if self._undo:
            return
        done: dict[int, object] = {}
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            # a re-export shares the first module's wrapper
            w = done.get(id(fn)) or self._wrap(fn, layer, f"{mod_name.rsplit('.', 1)[-1]}.{attr}")
            done[id(fn)] = w
            self._undo.append((mod, attr, fn))
            setattr(mod, attr, w)
        mod = importlib.import_module(SUPERSTEP[0])
        fn = getattr(mod, SUPERSTEP[1])
        self._undo.append((mod, SUPERSTEP[1], fn))
        setattr(mod, SUPERSTEP[1], self._count_superstep(fn))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(layer, name) as s:
                out = fn(*args, **kwargs)
                if s is not None and name.endswith("write_dataset"):
                    s.extra["write_mb"] = dir_bytes(args[1] if len(args) > 1 else kwargs["path"]) / 1e6
                if s is not None and name.endswith(("equal_population_boundaries", "categorical_bins")):
                    s.extra["columns"] = 1
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _count_superstep(self, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            t = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                if tracer.active:
                    tracer.supersteps.append(time.time() - t)

        wrapper.__wrapped__ = fn
        return wrapper

    # -- jobs ---------------------------------------------------------------
    def collect_jobs(self, sc) -> int:
        """Read every job launched since the last read from the status
        store. Returns how many were read; raises if one was evicted."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        rows = {}
        for j in conv.asJava(store.jobsList(None)):
            jid = j.jobId()
            if jid > self._last_job:
                rows[jid] = j
        if not rows:
            return 0
        top = max(rows)
        missing = [i for i in range(self._last_job + 1, top + 1) if i not in rows]
        if missing:
            raise RuntimeError(f"status store evicted jobs {missing[:5]}... before they were read")
        for jid in sorted(rows):
            j = rows[jid]
            grp = j.jobGroup().get() if j.jobGroup().isDefined() else None
            sub = j.submissionTime().get().getTime() / 1e3 if j.submissionTime().isDefined() else 0.0
            end = j.completionTime().get().getTime() / 1e3 if j.completionTime().isDefined() else sub
            job = Job(jid, grp, sub, end, j.numTasks() - j.numSkippedTasks(), j.numFailedTasks())
            for sid in conv.asJava(j.stageIds()):
                if sid in self._seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                job.exec_cpu_s += st.executorCpuTime() / 1e9
                job.gc_s += st.jvmGcTime() / 1e3
                job.shuffle_mb += st.shuffleWriteBytes() / 1e6
                job.spill_mb += st.diskBytesSpilled() / 1e6
            self.jobs.append(job)
        self._last_job = top
        return len(rows)

    def skip_jobs(self, sc) -> None:
        """Mark every job so far as read without recording it (untraced
        passes between traced ones)."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        ids = [j.jobId() for j in conv.asJava(jsc.statusStore().jobsList(None))]
        if ids:
            self._last_job = max(self._last_job, max(ids))

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": [s.__dict__ for s in self.spans],
                       "jobs": [j.__dict__ for j in self.jobs]}, f)


# ---------------------------------------------------------------------------
# arithmetic over spans and jobs (pure; covered by the self-tests)
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_table(spans: list[Span], jobs: list[Job]) -> list[dict]:
    """Per span: wall, self (wall minus the union of its children), driver
    (wall minus the union of the jobs launched in its subtree) and the
    counters of the jobs charged to it (launched while it was innermost)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group is not None:
            by_group.setdefault(j.group, []).append(j)

    def subtree_jobs(s: Span) -> list[Job]:
        out = list(by_group.get(s.group, []))
        for c in children.get(s.id, []):
            out += subtree_jobs(c)
        return out

    rows = []
    for s in spans:
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        sub = [(j.start, j.end) for j in subtree_jobs(s)]
        own = by_group.get(s.group, [])
        row = {
            "layer": s.layer, "name": s.name, "wall_s": wall,
            "self_s": wall - union_length(kids, s.start, s.end),
            "driver_s": wall - union_length(sub, s.start, s.end),
            "jobs": len(own), "tasks": sum(j.tasks for j in own),
            "failed_tasks": sum(j.failed_tasks for j in own),
            "exec_cpu_s": sum(j.exec_cpu_s for j in own), "gc_s": sum(j.gc_s for j in own),
            "shuffle_mb": sum(j.shuffle_mb for j in own), "spill_mb": sum(j.spill_mb for j in own),
        }
        row.update(s.extra)
        rows.append(row)
    return rows


def layer_metrics(rows: list[dict], n_passes: int, supersteps: list[float],
                  session_wall: float, overhead: float) -> dict[str, float]:
    """Fold the span table into the per-layer metrics, as means per traced
    pass (session: the set-up call itself)."""
    agg: dict[str, dict[str, float]] = {layer: {} for layer in LAYER_METRICS}
    for r in rows:
        a = agg.setdefault(r["layer"], {})
        a["calls"] = a.get("calls", 0) + 1
        for k, v in r.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                a[k] = a.get(k, 0.0) + v
    out: dict[str, float] = {}
    n = max(n_passes, 1)
    for layer, sfx in LAYER_METRICS.items():
        a = agg.get(layer, {})
        for s in sfx:
            if layer == "session":
                v = 1.0 if s == "calls" else session_wall
            elif s == "jobs_per_column":
                v = a.get("jobs", 0) / a["columns"] if a.get("columns") else 0.0
            elif s == "supersteps":
                v = len(supersteps) / n
            elif s == "superstep_s":
                v = statistics.median(supersteps) if supersteps else 0.0
            else:
                v = a.get(s, 0.0) / n
            out[f"{layer}.{s}"] = v
    out["trace.overhead_frac"] = overhead
    return out


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def unit_of(metric: str) -> str:
    suffix = metric.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix.endswith("_frac"):
        return "1"
    return "count"
