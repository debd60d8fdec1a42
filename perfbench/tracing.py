"""Spans around the engine's public calls, for the traced run.

A :class:`Tracer` wraps module attributes (patched at start-up, restored
by :meth:`Tracer.close`) so that each call records a span: name, start,
end, parent and run id. Spark is lazy, so the call that triggers an
action owns the execution: entering a span sets a Spark job group, exit
restores the parent's. At exit the span takes its jobs from
``statusTracker()`` and their stages' task counts, executor run time,
input, shuffle and spill bytes from Spark's status store, read through
the SparkContext because the web UI is disabled. Spans on a state store's
``write_*`` methods also walk the store directory before and after the
call to count the files, bytes and partitions written.

Spans stay in memory; :meth:`Tracer.dump` writes them out when the run
ends. Everything here lives in the benchmark; the engine is unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_ms",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "files_written",
    "bytes_written",
    "partitions_written",
)


@dataclass
class Span:
    idx: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def duration(self) -> float:
        return self.end - self.start


def walk_files(root: str) -> dict[str, int]:
    """Path → size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def written_between(before: dict[str, int], after: dict[str, int]) -> tuple[int, int, int]:
    """(data files, bytes, data_year partitions) new or grown since ``before``.
    Spark's ``.crc`` and ``_SUCCESS`` markers count toward bytes only."""
    files = nbytes = 0
    parts = set()
    for p, size in after.items():
        if before.get(p) == size:
            continue
        nbytes += size
        name = os.path.basename(p)
        if name.startswith("part-"):
            files += 1
            leaf = os.path.basename(os.path.dirname(p))
            if leaf.startswith("data_year="):
                parts.add(os.path.dirname(p))
    return files, nbytes, len(parts)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.cores = self.sc.defaultParallelism
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.bookkeeping_s = 0.0
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        try:
            self._store = self.sc._jsc.sc().statusStore()
        except Exception:  # no status store: stage and byte counters are dropped
            self._store = None

    # -- spans ----------------------------------------------------------

    def open(self, name: str) -> Span:
        t = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, parent.idx if parent else None, self.run_id, 0.0)
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(span))
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t
        return span

    def close_span(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        parent = self.stack[-1] if self.stack else None
        self.sc.setLocalProperty(
            "spark.jobGroup.id", self._group(parent) if parent else None
        )
        self._collect(span)
        self.bookkeeping_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close_span(s)

    def _group(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.idx}"

    def _collect(self, span: Span) -> None:
        c = span.counters
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(self._group(span)):
            c["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._seen_stages or self._store is None:
                    continue
                self._seen_stages.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # evicted or never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["executor_run_ms"] += sd.executorRunTime()
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()

    # -- patching -------------------------------------------------------

    def wrap(self, owner: object, attr: str, name: str, store_walk: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned version. A call made while a
        span of the same name is open joins that span (``last_accepted``
        calls ``file_log``: one ledger span, not two)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            if tracer.stack and tracer.stack[-1].name == name:
                return original(*args, **kwargs)
            span = tracer.open(name)
            before = None
            if store_walk:
                t = time.perf_counter()
                before = walk_files(args[0].root)
                tracer.bookkeeping_s += time.perf_counter() - t
            try:
                return original(*args, **kwargs)
            finally:
                if store_walk:
                    t = time.perf_counter()
                    f, b, p = written_between(before, walk_files(args[0].root))
                    span.counters.update(files_written=f, bytes_written=b,
                                         partitions_written=p)
                    tracer.bookkeeping_s += time.perf_counter() - t
                tracer.close_span(span)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def close(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- aggregation ----------------------------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.idx]

    def self_time(self, span: Span) -> float:
        # Children run inside their parent one at a time, so their
        # intervals never overlap and their durations simply add up.
        return span.duration - sum(c.duration for c in self.children(span))

    def subtree(self, span: Span) -> dict:
        """Counters of ``span`` plus all its descendants."""
        total = dict(span.counters)
        for c in self.children(span):
            for k, v in self.subtree(c).items():
                total[k] += v
        return total

    def top_level(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def span_fields(tracer: Tracer, spans: list[Span]) -> dict[str, float]:
    """The per-span field set (times, jobs, stages, tasks, bytes, core
    utilisation), summed over ``spans`` with their subtrees."""
    out = dict.fromkeys(
        ["s", "self_s", "jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes",
         "input_bytes", "spill_bytes", "core_util"], 0.0)
    run_ms = 0
    for s in spans:
        sub = tracer.subtree(s)
        out["s"] += s.duration
        out["self_s"] += tracer.self_time(s)
        for k in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes",
                  "input_bytes", "spill_bytes"):
            out[k] += sub[k]
        run_ms += sub["executor_run_ms"]
    if out["s"] > 0:
        out["core_util"] = run_ms / 1000.0 / (out["s"] * tracer.cores)
    return out
