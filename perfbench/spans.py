"""In-memory span tracer for the traced benchmark run.

A span records name, start, end and parent.  Each span runs under its
own Spark job group, so the status tracker attributes every job (and
its stages and tasks) to the innermost open span.  A span's jobs are
harvested whenever control leaves it — on entering a child and on
exit — so the status store's retention limit never drops them.

Self time is a span's duration minus its children's durations and minus
the tracer's own bookkeeping done inside it; the bookkeeping total is
reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    child_s: float = 0.0
    bookkeeping_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_ids: set = field(default_factory=set, repr=False)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.jt = spark_context._jsc.statusTracker()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0

    # ------------------------------------------------------------ spans
    def _harvest(self, span: Span) -> None:
        for jid in self.jt.getJobIdsForGroup(span.group):
            if jid in span.job_ids:
                continue
            span.job_ids.add(jid)
            span.jobs += 1
            job = self.jt.getJobInfo(jid)
            if job is None:
                continue
            for sid in job.stageIds():
                stage = self.jt.getStageInfo(sid)
                # skipped stages (shuffle output reused) never submit
                if stage is not None and stage.submissionTime() > 0:
                    span.stages += 1
                    span.tasks += stage.numCompletedTasks()

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        if parent is not None:
            self._harvest(parent)
        sp = Span(len(self.spans), name, parent.id if parent else None)
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        self._charge(parent, sp.start - t0)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._harvest(sp)
            self.stack.pop()
            self._set_group(parent)
            if parent is not None:
                parent.child_s += sp.end - sp.start
            self._charge(parent, time.perf_counter() - sp.end)

    def _charge(self, parent: Span | None, seconds: float) -> None:
        self.overhead_s += seconds
        if parent is not None:
            parent.bookkeeping_s += seconds

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # ---------------------------------------------------------- results
    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, seconds, self seconds, jobs, stages,
        tasks, summed over every span of that name.  Jobs, stages and
        tasks count the span's own group plus its children's."""
        out: dict[str, dict[str, float]] = {}
        child_counts: dict[int, list[int]] = {}
        for sp in reversed(self.spans):  # children close before parents
            own = child_counts.get(sp.id, [0, 0, 0])
            total = [sp.jobs + own[0], sp.stages + own[1], sp.tasks + own[2]]
            if sp.parent is not None:
                acc = child_counts.setdefault(sp.parent, [0, 0, 0])
                for i in range(3):
                    acc[i] += total[i]
            agg = out.setdefault(
                sp.name, {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0}
            )
            dur = sp.end - sp.start
            agg["calls"] += 1
            agg["s"] += dur
            agg["self_s"] += dur - sp.child_s - sp.bookkeeping_s
            agg["jobs"] += total[0]
            agg["stages"] += total[1]
            agg["tasks"] += total[2]
        return out

    def dump(self, path: str) -> None:
        rows = []
        for sp in self.spans:
            row = asdict(sp)
            row.pop("job_ids")
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f)


def install(tracer: Tracer) -> None:
    """Wrap the program's layer entry points.  ``plans.dag`` imports
    the matching functions and ``build_all`` at call time, so the
    module attributes are replaced, not dag's names."""
    import musicflow_spark.matching as matching
    import musicflow_spark.plans.pipeline as pipeline
    from musicflow_spark.checks.runner import CheckSet
    from musicflow_spark.matching.candidates import CatalogCandidateSource
    from musicflow_spark.matching.engine import MatchEngine
    from musicflow_spark.plans.dag import Pipeline

    for cls, attr, name in (
        (MatchEngine, "compute_matches", "matching.engine.compute_matches"),
        (MatchEngine, "compute_matches_others", "matching.engine.compute_matches_others"),
        (MatchEngine, "assemble", "matching.engine.assemble"),
        (CatalogCandidateSource, "search", "matching.candidates.search"),
        (matching, "load_cache", "matching.cache.load_cache"),
        (matching, "save_cache", "matching.cache.save_cache"),
        (matching, "match_with_cache", "matching.cache.match_with_cache"),
        (Pipeline, "run", "plans.dag.run"),
        (pipeline, "build_all", "plans.pipeline.build_all"),
        (CheckSet, "run", "checks.runner.run"),
    ):
        setattr(cls, attr, tracer.wrap(name, getattr(cls, attr)))


def wrap_tasks(tracer: Tracer, pipe) -> None:
    for task in pipe.tasks:
        task.fn = tracer.wrap(f"plans.dag.task.{task.name}", task.fn)
