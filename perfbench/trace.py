"""Spans around the engine's layer boundaries, joined with Spark's event
log so each layer is charged for the Spark jobs its plans ran in.

The tracer wraps public functions from outside the engine (module and
class attributes are swapped for the duration of a traced run and put
back afterwards). Each span records its name, layer, start, end and
parent, and tags every Spark job started inside it with the local
property ``perfbench.span``. Span data stays in memory until the run
ends; the event log is folded in after the session stops.

Spark is lazy, so a layer's cost lands in whichever action runs its
plan. Action spans (``localCheckpoint``, ``collect``, ``count``,
``toPandas``, ``Observation.get``) and catalog write spans therefore
charge their jobs to a layer picked from the plan they execute when
they are called straight from the crawl loop: a plan holding the Bloom
membership UDF belongs to ``seen``, one holding the fused fetch stage to
``fetch``, one holding the politeness rank window to ``scheduler``.
Inside any other layer's span, jobs belong to that layer.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

# Plan markers, checked in this order (see module docstring).
PLAN_MARKERS = (
    ("seen", "maybe_seen"),          # seen.join_seen_state's Bloom UDF
    ("fetch", "MapInPandas run("),   # fetch_parse_stage's Arrow stage
    ("scheduler", "_r1#"),           # rank_per_host's phase-1 row_number
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str                 # "layer" | "action" | "write" | "op"
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    plan_layer: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def root(self) -> "Span":
        s = self
        while s.parent is not None:
            s = s.parent
        return s


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.op_start = 0   # index of the current operation's first span

    # ── spans ──
    @contextmanager
    def span(self, name: str, layer: str, kind: str = "layer"):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, kind, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(parent.id) if parent else None)

    def _plan_layer(self, span: Span, df) -> str | None:
        parent = span.parent
        if parent is None or parent.layer != "pipeline" or df is None:
            return None
        plan = df._jdf.queryExecution().analyzed().toString()
        for layer, marker in PLAN_MARKERS:
            if marker in plan:
                return layer
        return None

    # ── patching ──
    def patch(self, owner, attr: str, layer: str, kind: str = "layer",
              name: str | None = None, df_arg: int | None = None,
              keep_args: bool = False) -> None:
        """Swap ``owner.attr`` for a spanning wrapper. ``df_arg``: index
        of the DataFrame argument whose plan an action or write runs;
        ``keep_args`` keeps the call's arguments on the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(orig, property):
            return self._patch_property(owner, attr, orig, layer, kind, name)
        span_name = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = span_name
            if kind == "write" and args and hasattr(args[0], "name"):
                label = f"{span_name}:{args[0].name}"
            with tracer.span(label, layer, kind) as s:
                if df_arg is not None and len(args) > df_arg:
                    s.plan_layer = tracer._plan_layer(s, args[df_arg])
                if keep_args:
                    s.attrs["args"] = args
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _patch_property(self, owner, attr, prop, layer, kind, name):
        tracer = self

        def fget(obj):
            with tracer.span(name or f"{layer}.{attr}", layer, kind):
                return prop.fget(obj)

        setattr(owner, attr, property(fget))
        self._undo.append((owner, attr, prop))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def install(tracer: Tracer, spark) -> None:
    """Wrap every layer boundary the benchmark traces."""
    from pyspark.sql import Observation

    from ycrawl_spark import catalog, fetch, pipeline, scheduler, seen

    df_cls = type(spark.range(1))
    for attr in ("localCheckpoint", "collect", "count", "toPandas"):
        tracer.patch(df_cls, attr, "spark", "action", name=f"spark.{attr}",
                     df_arg=0)
    tracer.patch(Observation, "get", "spark", "action", name="spark.observation_get")
    tracer.patch(pipeline, "run_crawl", "pipeline")
    tracer.patch(pipeline, "run_epoch_incremental", "pipeline", name="pipeline.epoch")
    tracer.patch(pipeline, "ingest_frontier", "pipeline")
    tracer.patch(pipeline, "load_seen_agg", "seen")
    tracer.patch(pipeline, "_discover", "discovery", name="discovery.novel")
    tracer.patch(pipeline.DiscoveryBuffer, "flush", "discovery", name="discovery.flush")
    tracer.patch(scheduler, "rank_per_host", "scheduler")
    tracer.patch(scheduler, "crawl_shuffle_order", "scheduler")
    tracer.patch(scheduler, "hot_hosts_of", "scheduler")
    tracer.patch(fetch, "fetch_parse_stage", "fetch")
    tracer.patch(seen, "add_keys_to_bloom", "seen", keep_args=True)
    tracer.patch(seen, "join_seen_state", "seen")
    for attr, df_arg in (("append", 1), ("append_pdf", None), ("replace", 1)):
        tracer.patch(catalog.Table, attr, "catalog", "write",
                     name=f"catalog.{attr}", df_arg=df_arg)
    for attr in ("read", "read_snapshot"):
        tracer.patch(catalog.Table, attr, "catalog", name=f"catalog.{attr}")


# ───────────────────────────── event log ─────────────────────────────

@dataclass
class Job:
    id: int
    t0: float
    t1: float
    span: int | None
    stages: list[int]


def _acc(stage_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, dict]]:
    """Jobs (with their span tag) and per-stage metrics from the
    uncompressed event log(s) under ``log_dir``. Stage metrics of every
    attempt are summed; ``attempts`` counts stage retries."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if not name.startswith(("events_", "app-", "local-")):
                continue
            with open(os.path.join(root, name)) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        tag = (e.get("Properties") or {}).get(SPAN_PROPERTY)
                        jobs[e["Job ID"]] = Job(
                            e["Job ID"], e["Submission Time"] / 1e3, 0.0,
                            int(tag) if tag is not None else None,
                            list(e.get("Stage IDs", [])))
                    elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                        jobs[e["Job ID"]].t1 = e["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                            st = stages.setdefault(e["Stage ID"], {"attempts": 0})
                            st["failed_tasks"] = st.get("failed_tasks", 0) + 1
                    elif kind == "SparkListenerStageCompleted":
                        info = e["Stage Info"]
                        st = stages.setdefault(info["Stage ID"], {"attempts": 0})
                        st["attempts"] += 1
                        st["tasks"] = st.get("tasks", 0) + info.get("Number of Tasks", 0)
                        for k, v in _acc(info).items():
                            st[k] = st.get(k, 0.0) + v
    return jobs, stages


# ──────────────────────────── attribution ────────────────────────────

def job_layer(span: Span) -> str:
    """The layer a job started inside ``span`` is charged to."""
    s = span
    while s is not None and s.kind in ("action", "write"):
        if s.plan_layer:
            return s.plan_layer
        s = s.parent
    return s.layer if s is not None else "spark"


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _m(stages: dict[int, dict], ids, key: str) -> float:
    return sum(stages.get(i, {}).get(key, 0.0) for i in ids)


STAGE_KEYS = {
    "executor_run_s": ("internal.metrics.executorRunTime", 1e-3),
    "executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "python_s": ("time to run Python workers", 1e-3),
    "python_start_s": ("time to start Python workers", 1e-3),
    "to_python_bytes": ("data sent to Python workers", 1),
    "from_python_bytes": ("data returned from Python workers", 1),
}


def stage_sum(stages: dict[int, dict], stage_ids, name: str) -> float:
    key, scale = STAGE_KEYS[name]
    return _m(stages, stage_ids, key) * scale


class OpTrace:
    """Spans and jobs of one timed operation, with per-layer folds.

    Jobs can overlap (a broadcast runs beside the job that needs it), so
    each instant of the operation in which k jobs run is split equally
    among them: the layers' job times then add up to the time any job
    ran, and with ``driver_only_s`` to the operation's wall time."""

    def __init__(self, op: Span, spans: list[Span], jobs: dict[int, Job],
                 stages: dict[int, dict]):
        self.op = op
        self.spans = [s for s in spans if s.root() is op and s is not op]
        by_id = {s.id: s for s in spans}
        self.jobs = []
        for j in jobs.values():
            s = by_id.get(j.span) if j.span is not None else None
            if s is not None and s.root() is op and j.t1 > j.t0:
                self.jobs.append((j, s, job_layer(s)))
        self.stages = stages
        self.share = self._shares()

    def _shares(self) -> dict[int, float]:
        lo, hi = self.op.t0, self.op.t1
        cuts = sorted({lo, hi} | {min(max(t, lo), hi) for j, _, _ in self.jobs
                                  for t in (j.t0, j.t1)})
        share = {j.id: 0.0 for j, _, _ in self.jobs}
        for a, b in zip(cuts, cuts[1:]):
            live = [j.id for j, _, _ in self.jobs if j.t0 <= a and j.t1 >= b]
            for jid in live:
                share[jid] += (b - a) / len(live)
        return share

    def layer_jobs(self, layer: str):
        return [(j, s) for j, s, lay in self.jobs if lay == layer]

    def job_s(self, layer: str | None = None, plan_layer: str | None = None) -> float:
        return sum(self.share[j.id] for j, s, lay in self.jobs
                   if (layer is None or lay == layer)
                   and (plan_layer is None or s.plan_layer == plan_layer))

    def stage_ids(self, layer: str | None = None) -> list[int]:
        return [sid for j, _, lay in self.jobs
                if layer is None or lay == layer for sid in j.stages]

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def driver_only_s(self) -> float:
        lo, hi = self.op.t0, self.op.t1
        busy = [(max(j.t0, lo), min(j.t1, hi)) for j, _, _ in self.jobs
                if j.t1 > lo and j.t0 < hi]
        return self.op.dur - _union(busy)

    def jobs_within(self, span: Span) -> float:
        """Job time started inside ``span`` or its descendants."""
        def inside(s):
            while s is not None:
                if s is span:
                    return True
                s = s.parent
            return False
        return sum(self.share[j.id] for j, s, _ in self.jobs if inside(s))

    def coverage(self) -> float:
        """(job time charged to layers + driver-only time) ÷ op wall."""
        return (self.job_s() + self.driver_only_s()) / self.op.dur
