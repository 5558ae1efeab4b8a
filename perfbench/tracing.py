"""Span recording around the package's public calls, and attribution of
Spark jobs from the event log to those spans.

Spans are kept in memory (``Recorder.spans``) and turned into metrics
when the run ends. A span's layer is the part of its name before the
first dot (``warehouse.merge`` -> ``warehouse``); layer names are the
package's module names.

Wrapping is done by replacing module attributes and class methods with
recording wrappers. Every target is resolved up front, so a renamed or
removed function fails the traced run instead of silently zeroing its
layer.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds, the clock the event log uses
    end: float = 0.0
    extra: bool = False  # work the untraced run does not do
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """Thread-safe in-memory span list. ``enabled`` switches recording
    (and the extra materializations) on and off between operations."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()

    def span(self, name: str, extra: bool = False, **attrs) -> "_SpanCtx":
        return _SpanCtx(self, name, extra, attrs)

    def _add(self, s: Span) -> None:
        with self._lock:
            self.spans.append(s)


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str, extra: bool, attrs: dict):
        self.rec, self.name, self.extra, self.attrs = rec, name, extra, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.rec.enabled:
            self.span = Span(self.name, time.time(), extra=self.extra, attrs=self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.span.end = time.time()
            self.rec._add(self.span)


def _wrap(rec: Recorder, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not rec.enabled:
            return fn(*args, **kwargs)
        with rec.span(name):
            out = fn(*args, **kwargs)
            if after is not None:
                after(out)
        return out

    return wrapper


def _materialize(rec: Recorder, name: str):
    """An extract or transform returns a lazy frame: run it once into a
    ``noop`` sink so its own execution cost lands in its layer. The
    span is marked extra, so it is left out of the tracing overhead."""

    def after(df) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(name)
        with rec.span(name, extra=True) as s:
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).format("noop").save()
            s.attrs["rows"] = obs.get["rows"]

    return after


def install(rec: Recorder) -> None:
    """Wrap the public callees of ``stock_pipeline.run`` and the
    warehouse methods. Raises if any target no longer exists."""
    from stock_bars_data_engineering_project_spark.pipeline import stock_pipeline as sp
    from stock_bars_data_engineering_project_spark.sinks.warehouse import (
        ParquetWarehouse,
    )

    module_targets = {
        "extract_bars": ("sources.extract", _materialize(rec, "sources.materialize")),
        "transform_bars": (
            "pipeline.transform",
            _materialize(rec, "pipeline.transform_materialize"),
        ),
        "load_bars": ("pipeline.load", None),
        "rebuild_analysis": ("analysis.rebuild", None),
        "get_checkpoint": ("checkpoint.get", None),
        "save_checkpoint": ("checkpoint.save", None),
    }
    for attr, (name, after) in module_targets.items():
        fn = getattr(sp, attr, None)
        if not callable(fn):
            raise RuntimeError(f"trace target stock_pipeline.{attr} is missing")
        setattr(sp, attr, _wrap(rec, name, fn, after))
    for meth in ("read", "merge", "append", "overwrite", "log"):
        fn = getattr(ParquetWarehouse, meth, None)
        if not callable(fn):
            raise RuntimeError(f"trace target ParquetWarehouse.{meth} is missing")
        setattr(ParquetWarehouse, meth, _wrap(rec, f"warehouse.{meth}", fn))


# -- event log ---------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # seconds
    stage_ids: list[int]
    cpu_s: float = 0.0
    tasks: int = 0
    shuffle_mb: float = 0.0
    gc_s: float = 0.0
    sched_wait_s: float = 0.0
    source_scan_tasks: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Per-job totals from the newest event log under ``log_dir``
    (uncompressed, non-rolling): the session the workload ran in. Task
    metrics are summed per stage and then per job; a stage shared by two
    jobs counts in the first."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "local-*")))[-1:]:
        stage_job: dict[int, Job] = {}
        stage_submit: dict[int, float] = {}
        scan_stages: set[int] = set()
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(e["Job ID"], e["Submission Time"] / 1000.0, e["Stage IDs"])
                    jobs.append(job)
                    for sid in job.stage_ids:
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    sid = info["Stage ID"]
                    stage_submit[sid] = info.get("Submission Time", 0) / 1000.0
                    for rdd in info.get("RDD Info", []):
                        if rdd.get("Name") == "DataSourceRDD" and "BatchScan stockbars" in (
                            rdd.get("Scope") or ""
                        ):
                            scan_stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(e["Stage ID"])
                    if job is None:
                        continue
                    info = e.get("Task Info", {})
                    m = e.get("Task Metrics") or {}
                    job.tasks += 1
                    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    job.shuffle_mb += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    ) / 1e6
                    sub = stage_submit.get(e["Stage ID"])
                    if sub and info.get("Launch Time"):
                        job.sched_wait_s += max(0.0, info["Launch Time"] / 1000.0 - sub)
                    if e["Stage ID"] in scan_stages:
                        job.source_scan_tasks += 1
    return jobs


def attribute(
    jobs: list[Job], spans: list[Span], skip: tuple[str, ...] = ()
) -> dict[int, Span | None]:
    """Innermost open span (latest start) at each job's submission time,
    ignoring spans of the ``skip`` layers. Job groups cannot be used: in
    pinned-thread mode jobs submitted from the program's own thread pools
    lose their group tag."""
    ordered = sorted((s for s in spans if s.layer not in skip), key=lambda s: s.start)
    out: dict[int, Span | None] = {}
    for job in jobs:
        best = None
        for s in ordered:
            if s.start > job.submit:
                break
            if s.end >= job.submit:
                best = s
        out[job.job_id] = best
    return out


def covered(parent: Span, spans: list[Span]) -> float:
    """Length of ``parent``'s interval covered by the other spans inside it."""
    ivs = sorted(
        (max(s.start, parent.start), min(s.end, parent.end))
        for s in spans
        if s is not parent and s.start >= parent.start and s.end <= parent.end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
