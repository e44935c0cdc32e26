"""Spans around the benchmark's calls into each layer, plus the Spark
task counters of the stages each span submitted.

Spans are kept in memory and written out once, when the run ends.
Counters come from the JVM status store, which answers with the Spark
UI disabled; a stage belongs to every span whose interval contains its
submission time.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import asdict, dataclass

# per-span counters, with their units; every span reports all of them
SPAN_COUNTERS = {
    "busy_s": "s",
    "jobs": "count",
    "exec_run_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float
    run_id: str


@dataclass
class StageStats:
    submitted: float  # epoch seconds
    job_ids: tuple[int, ...]
    exec_run_s: float
    gc_s: float
    shuffle_write_mb: float
    spill_mb: float
    input_mb: float
    output_rows: int
    skew: float  # max / median task run time
    weight: float  # executor run time, for averaging skew


class Tracer:
    """``span(name)`` is a no-op context manager when disabled, so the
    untraced run executes exactly the same benchmark code."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # wall spent opening and closing spans
        # epoch time derived from one monotonic clock, so durations
        # never jump while start times still line up with the JVM's
        self._epoch0 = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, parent, self.now(), float("nan"), self.run_id)
        self.spans.append(span)
        self._stack.append(sid)
        self.cost_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self._stack.pop()
            span.end = self.now()
            self.cost_s += time.perf_counter() - t0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (s.start, s.end) for s in self.spans if s.parent == span.id
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span.end - span.start) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def collect_stages(spark) -> list[StageStats]:
    """Every completed stage the status store still holds."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()  # noqa: SLF001
    jsc.listenerBus().waitUntilEmpty(30_000)
    jvm, gw = sc._jvm, sc._gateway  # noqa: SLF001
    store = jsc.statusStore()
    stage_jobs: dict[int, list[int]] = {}
    jobs = store.jobsList(jvm.java.util.ArrayList())
    for i in range(jobs.size()):
        job = jobs.apply(i)
        ids = job.stageIds()
        for j in range(ids.size()):
            stage_jobs.setdefault(int(ids.apply(j)), []).append(int(job.jobId()))
    quantiles = gw.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    for i in range(stages.size()):
        st = stages.apply(i)
        submitted = st.submissionTime()
        if not submitted.isDefined() or st.status().toString() != "COMPLETE":
            continue
        skew = 1.0
        summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            skew = float(run.apply(1)) / max(float(run.apply(0)), 1.0)
        out.append(
            StageStats(
                submitted=submitted.get().getTime() / 1000.0,
                job_ids=tuple(stage_jobs.get(int(st.stageId()), ())),
                exec_run_s=st.executorRunTime() / 1000.0,
                gc_s=st.jvmGcTime() / 1000.0,
                shuffle_write_mb=st.shuffleWriteBytes() / 1e6,
                spill_mb=st.diskBytesSpilled() / 1e6,
                input_mb=st.inputBytes() / 1e6,
                output_rows=int(st.outputRecords()),
                skew=skew,
                weight=max(st.executorRunTime(), 1),
            )
        )
    return out


def stages_in(span: Span, stages: list[StageStats]) -> list[StageStats]:
    return [s for s in stages if span.start <= s.submitted <= span.end]


def span_counters(tracer: Tracer, span: Span, stages: list[StageStats]) -> dict[str, float]:
    mine = stages_in(span, stages)
    weight = sum(s.weight for s in mine)
    return {
        "busy_s": tracer.self_time(span),
        "jobs": float(len({j for s in mine for j in s.job_ids})),
        "exec_run_s": sum(s.exec_run_s for s in mine),
        "gc_s": sum(s.gc_s for s in mine),
        "shuffle_mb": sum(s.shuffle_write_mb for s in mine),
        "spill_mb": sum(s.spill_mb for s in mine),
        "task_skew": (
            sum(s.skew * s.weight for s in mine) / weight if weight else 0.0
        ),
    }


def median_counters(tracer: Tracer, name: str, stages: list[StageStats]) -> dict[str, float]:
    """Per-span counters of every span called ``name``, as medians over
    its instances; zeros when the workload never entered that span."""
    per = [span_counters(tracer, s, stages) for s in tracer.named(name)]
    return {
        k: (statistics.median(c[k] for c in per) if per else 0.0)
        for k in SPAN_COUNTERS
    }
