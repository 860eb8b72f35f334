"""Traced run: spans around the engine's public calls and a Spark
event-log parser that attributes jobs, stages and tasks to those spans.

Everything is recorded from outside the program. ``Tracer.install``
replaces a few public functions of ``mee_spark`` modules with wrappers that
open a span and set the Spark job description to the span's path. Jobs
the engine starts from its own helper threads do not inherit the
description, so a job without one belongs to the innermost span open when
it was submitted (spans only open on the calling thread and nest).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    path: str
    start_ms: float
    end_ms: float = 0.0
    result: object = None

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Span recorder. ``enabled`` off makes every span a no-op, so one
    process can run the same loop untraced and traced."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[str] = []
        self.enabled = True
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        path = "/".join(self.stack + [name])
        sp = Span(path, time.time() * 1000.0)
        self.stack.append(name)
        self._describe(path)
        try:
            yield sp
        finally:
            self.stack.pop()
            sp.end_ms = time.time() * 1000.0
            self.spans.append(sp)
            self._describe("/".join(self.stack) or None)

    def _describe(self, desc: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(desc)

    def wrap(self, module, attr: str, name: str) -> None:
        """Route ``module.attr`` through a span named ``name``; the span
        keeps the call's return value."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = original(*args, **kwargs)
                if sp is not None:
                    sp.result = out
                return out

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def install(self) -> None:
        """Wrap the public write-path calls. build_segments is imported by
        name into build and merge, so each binding is wrapped."""
        from mee_spark import build, merge, segments

        self.wrap(build, "build_full_index", "build")
        self.wrap(build, "build_incremental", "build.diff")
        self.wrap(merge, "compact", "merge")
        for mod in (segments, build, merge):
            self.wrap(mod, "build_segments", "segments")

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()


@dataclass
class Stage:
    stage_id: int
    submit_ms: float = 0.0
    complete_ms: float = 0.0
    scopes: set = field(default_factory=set)
    tasks: int = 0
    executor_ms: float = 0.0
    shuffle_write_bytes: int = 0
    records_read: int = 0

    @property
    def wall_s(self) -> float:
        return max(0.0, self.complete_ms - self.submit_ms) / 1000.0


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float = 0.0
    description: str | None = None
    stage_ids: list = field(default_factory=list)
    span: Span | None = None


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stages of an uncompressed Spark event log (JSON lines).

    Task metrics are summed per stage; stages that were skipped (their
    shuffle output already existed) have no tasks and cost nothing."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}

    def stage(sid: int) -> Stage:
        return stages.setdefault(sid, Stage(sid))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(e["Job ID"], float(e["Submission Time"]),
                                    description=props.get("spark.job.description"),
                                    stage_ids=list(e.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = float(e["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage(info["Stage ID"])
            s.submit_ms = float(info.get("Submission Time") or 0)
            s.complete_ms = float(info.get("Completion Time") or 0)
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    s.scopes.add(json.loads(scope).get("name", ""))
        elif kind == "SparkListenerTaskEnd":
            s = stage(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            s.tasks += 1
            s.executor_ms += float(m.get("Executor Run Time", 0))
            s.shuffle_write_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            s.records_read += int((m.get("Input Metrics") or {}).get("Records Read", 0))
    return jobs, stages


def attribute(jobs: dict[int, Job], spans: list[Span]) -> None:
    """Set each job's span: the innermost span (latest start) open at the
    job's submission whose path matches the job description when the job
    has one; a job outside every span keeps ``span = None``."""
    ordered = sorted(spans, key=lambda s: s.start_ms)
    for job in jobs.values():
        best = None
        for sp in ordered:
            if sp.start_ms > job.submit_ms:
                break
            if sp.end_ms >= job.submit_ms and (
                    job.description is None or job.description == sp.path):
                best = sp
        job.span = best


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length in seconds of the union of [start_ms, end_ms] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def _within(inner: Span, outer: Span) -> bool:
    return outer.start_ms <= inner.start_ms and inner.end_ms <= outer.end_ms


class LayerTable:
    """Per-layer figures from attributed jobs. Every time and count is a
    mean per call of the owning public function."""

    def __init__(self, jobs: dict[int, Job], stages: dict[int, Stage],
                 spans: list[Span], cores: int) -> None:
        self.jobs, self.stages, self.spans, self.cores = jobs, stages, spans, cores
        attribute(jobs, spans)

    def calls(self, path: str) -> list[Span]:
        return [s for s in self.spans if s.path == path]

    def jobs_in(self, span: Span, exact: bool = True) -> list[Job]:
        """Jobs attributed to ``span`` itself, or (exact=False) to it or to
        any span nested inside it."""
        out = []
        for j in self.jobs.values():
            if j.span is None:
                continue
            if j.span is span or (not exact and _within(j.span, span)
                                  and j.span.path.startswith(span.path)):
                out.append(j)
        return out

    def job_stages(self, jobs: list[Job]) -> list[Stage]:
        return [self.stages[sid] for j in jobs for sid in j.stage_ids
                if sid in self.stages and self.stages[sid].tasks]

    @staticmethod
    def job_wall_s(jobs: list[Job]) -> float:
        return union_s([(j.submit_ms, j.end_ms) for j in jobs])

    def per_call(self, calls: list[Span], fn) -> float:
        return sum(fn(c) for c in calls) / len(calls) if calls else 0.0

    def executor_s(self, jobs: list[Job]) -> float:
        return sum(s.executor_ms for s in self.job_stages(jobs)) / 1000.0

    def occupancy(self, executor_s: float, wall_s: float) -> float:
        return executor_s / (wall_s * self.cores) if wall_s > 0 else 0.0

    def driver_s(self, call: Span) -> float:
        """Call wall minus the union of its jobs' intervals."""
        return max(0.0, call.wall_s - self.job_wall_s(self.jobs_in(call, exact=False)))

    def children(self, call: Span, name: str) -> list[Span]:
        path = f"{call.path}/{name}"
        return [s for s in self.spans if s.path == path and _within(s, call)]

    def metrics(self) -> dict[str, float]:
        m: dict[str, float] = {}
        full = self.calls("build")
        incr = self.calls("build.diff")
        comp = self.calls("merge")
        query = self.calls("query_wand")

        # full build: jobs before build_segments are the staging pass
        def staging_wall(c):
            segs = self.children(c, "segments")
            return ((segs[0].start_ms - c.start_ms) / 1000.0) if segs else c.wall_s

        stg_exec = self.per_call(full, lambda c: self.executor_s(self.jobs_in(c)))
        stg_wall = self.per_call(full, staging_wall)
        m["build.staging.wall_s"] = stg_wall
        m["build.staging.executor_s"] = stg_exec
        m["build.staging.tasks"] = self.per_call(
            full, lambda c: sum(s.tasks for s in self.job_stages(self.jobs_in(c))))
        m["build.staging.core_occupancy"] = self.occupancy(stg_exec, stg_wall)
        m["build.jobs_per_call"] = self.per_call(
            full, lambda c: len(self.jobs_in(c, exact=False)))
        m["build.driver_s"] = self.per_call(full, self.driver_s)

        # write-path segment builds (full and incremental; compaction's own
        # re-encode is reported under merge.*)
        segs = [s for c in full + incr for s in self.children(c, "segments")]
        seg_exec = self.per_call(segs, lambda s: self.executor_s(self.jobs_in(s)))
        seg_wall = self.per_call(segs, lambda s: s.wall_s)
        m["segments.wall_s"] = seg_wall
        m["segments.executor_s"] = seg_exec
        m["segments.shuffle_write_bytes"] = self.per_call(
            segs, lambda s: sum(st.shuffle_write_bytes
                                for st in self.job_stages(self.jobs_in(s))))
        m["segments.tasks"] = self.per_call(
            segs, lambda s: sum(st.tasks for st in self.job_stages(self.jobs_in(s))))
        m["segments.core_occupancy"] = self.occupancy(seg_exec, seg_wall)
        m["segments.groups"] = self.per_call(segs, lambda s: len(s.result or []))
        m["segments.postings"] = self.per_call(
            segs, lambda s: sum(p["n_postings"] for p in s.result or []))
        m["segments.bytes_written"] = self.per_call(
            segs, lambda s: sum(p["bytes_written"] for p in s.result or []))

        # incremental build outside its segment write: diff, staging, tombstones
        def diff_wall(c):
            return c.wall_s - sum(s.wall_s for s in self.children(c, "segments"))

        m["build.diff.wall_s"] = self.per_call(incr, diff_wall)
        m["build.diff.executor_s"] = self.per_call(
            incr, lambda c: self.executor_s(self.jobs_in(c)))

        # compaction: the decode runs on the map side of the re-encode shuffle
        def decode_stages(c):
            jobs = [j for s in self.children(c, "segments") for j in self.jobs_in(s)]
            return [st for st in self.job_stages(jobs) if st.shuffle_write_bytes]

        m["merge.wall_s"] = self.per_call(comp, lambda c: c.wall_s)
        m["merge.docmap_s"] = self.per_call(comp, lambda c: self.job_wall_s(self.jobs_in(c)))
        m["merge.decode.executor_s"] = self.per_call(
            comp, lambda c: sum(st.executor_ms for st in decode_stages(c)) / 1000.0)
        m["merge.rows_decoded"] = self.per_call(
            comp, lambda c: sum(st.records_read for st in decode_stages(c)))

        # queries: plan = the bm25_topk_wand call, score = collecting its result
        def sub_jobs(c, name):
            return [j for s in self.children(c, name) for j in self.jobs_in(s)]

        m["query_wand.jobs_per_call"] = self.per_call(
            query, lambda c: len(self.jobs_in(c, exact=False)))
        m["query_wand.driver_s"] = self.per_call(query, self.driver_s)
        m["query_wand.plan_jobs_s"] = self.per_call(
            query, lambda c: self.job_wall_s(sub_jobs(c, "plan")))
        m["query_wand.live_df_s"] = self.per_call(
            query, lambda c: sum(st.wall_s for st in self.job_stages(sub_jobs(c, "plan"))
                                 if "MapInPandas" in st.scopes))
        sc_exec = self.per_call(query, lambda c: self.executor_s(sub_jobs(c, "score")))
        sc_wall = self.per_call(query, lambda c: self.job_wall_s(sub_jobs(c, "score")))
        m["query_wand.score.executor_s"] = sc_exec
        m["query_wand.score.tasks"] = self.per_call(
            query, lambda c: sum(st.tasks for st in self.job_stages(sub_jobs(c, "score"))))
        m["query_wand.score.core_occupancy"] = self.occupancy(sc_exec, sc_wall)
        m["query_wand.scan_rows"] = self.per_call(
            query, lambda c: sum(st.records_read for st in
                                 self.job_stages(self.jobs_in(c, exact=False))))
        m["query_wand.tombstones_s"] = self.per_call(
            self.calls("tombstones"), lambda c: c.wall_s)
        return m

    def job_coverage(self, start_ms: float, end_ms: float) -> float:
        """Share of executor time in [start_ms, end_ms] spent in jobs that
        belong to some span."""
        window = [j for j in self.jobs.values() if start_ms <= j.submit_ms <= end_ms]
        total = self.executor_s(window)
        named = self.executor_s([j for j in window if j.span is not None])
        return named / total if total else 0.0
