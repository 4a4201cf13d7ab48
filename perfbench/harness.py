"""Timing, tracing and the closed-loop runner shared by every workload.

Untraced runs time only the benchmark's own calls (``time.perf_counter``
spans). A traced run also sets a Spark job group per op, reads Spark's
status store over py4j after each op (jobs, stages, tasks, bytes, GC),
and listens to streaming progress events; ``spark.ui.enabled=false``
leaves the status store populated, so nothing inside the package
changes.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class OpResult:
    """What one op did: work items done and failed checks, by name."""

    items: int = 0
    failures: list[str] = field(default_factory=list)
    #: the op's own timed seconds, leaving out answer checks; None means
    #: the op's whole wall time
    seconds: float | None = None


class Spans:
    """Wall time per named span, as one list of samples per name."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.samples[name].append(time.perf_counter() - t0)


class _ProgressCollector:
    """Streaming progress events, gathered by a StreamingQueryListener."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        self.terminated = 0
        self._lock = threading.Lock()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "name": p.name,
                    "at": _epoch(p.timestamp),
                    "duration_ms": dict(p.durationMs or {}),
                    "state": [
                        (s.numRowsTotal, s.memoryUsedBytes)
                        for s in (p.stateOperators or [])
                    ],
                }
                with outer._lock:
                    outer.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated += 1

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def reset(self) -> None:
        with self._lock:
            self.progress, self.terminated = [], 0

    def drain(self, since: float, expected_terminations: int,
              timeout_s: float = 5.0) -> list[dict]:
        """Progress events of batches started at or after ``since`` (epoch
        seconds), once ``expected_terminations`` queries have ended."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= expected_terminations:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.progress = self.progress, []
            self.terminated = 0
        return [r for r in out if r["at"] >= since]


class Tracer:
    """Job-level and stream-level accounting for traced ops.

    ``begin``/``end`` bracket one op. Between them every Spark job runs
    under the op's job group; ``end`` reads the status store for that
    group and folds the op's jobs, tasks, bytes and GC time into
    per-op samples.
    """

    def __init__(self, spark, slots: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.slots = slots
        self.ops: list[dict] = []
        self.stream_batches: list[dict] = []
        self._streams = _ProgressCollector(spark)
        self._stream_starts = 0
        self._group = None
        self._gc0 = 0.0
        self._t0 = 0.0
        self._epoch0 = 0.0
        self._seq = 0
        self.active = False

    def _gc_seconds(self) -> float:
        jvm = self.sc._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def expect_stream(self, n: int = 1) -> None:
        """Declare that the current op starts ``n`` streaming queries."""
        if self.active:
            self._stream_starts += n

    @contextmanager
    def member(self, name: str):
        """Run a part of the traced op under its own job sub-group, so its
        input bytes can be told apart (``end`` returns them by name)."""
        if not self.active:
            yield
            return
        self.sc.setJobGroup(f"{self._group}/{name}", name, False)
        try:
            yield
        finally:
            self.sc.setJobGroup(self._group, self._group, False)

    def begin(self, label: str) -> None:
        self._seq += 1
        self._group = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(self._group, label, False)
        self._stream_starts = 0
        self._streams.reset()
        self._gc0 = self._gc_seconds()
        self.active = True
        self._epoch0 = time.time()
        self._t0 = time.perf_counter()

    def end(self, wall_s: float | None = None) -> dict:
        wall = time.perf_counter() - self._t0 if wall_s is None else wall_s
        gc_s = self._gc_seconds() - self._gc0
        self.active = False
        self.sc.setJobGroup(None, None, False)
        store = self.sc._jsc.sc().statusStore()
        spans, stage_ids, tasks = [], {}, 0
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if not g.isDefined():
                continue
            group = g.get()
            if group != self._group and not group.startswith(self._group + "/"):
                continue
            member = group[len(self._group) + 1:]
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                spans.append((sub.get().getTime() / 1000.0,
                              comp.get().getTime() / 1000.0))
            tasks += j.numTasks()
            sit = j.stageIds().iterator()
            while sit.hasNext():
                stage_ids[int(sit.next())] = member
        run_ms = in_b = sh_b = spill_b = 0
        member_in: dict[str, int] = defaultdict(int)
        for sid, member in stage_ids.items():
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            run_ms += s.executorRunTime()
            in_b += s.inputBytes()
            member_in[member] += s.inputBytes()
            sh_b += s.shuffleReadBytes() + s.shuffleWriteBytes()
            spill_b += s.memoryBytesSpilled() + s.diskBytesSpilled()
        busy = _union_seconds(spans)
        rec = {
            "wall_s": wall,
            "jobs": len(spans),
            "tasks": tasks,
            "job_union_s": busy,
            "driver_gap_s": max(0.0, wall - busy),
            "slot_busy_frac": run_ms / 1000.0 / (wall * self.slots) if wall else 0.0,
            "input_bytes": in_b,
            "shuffle_bytes": sh_b,
            "spill_bytes": spill_b,
            "gc_s": gc_s,
            "member_input_bytes": dict(member_in),
        }
        if self._stream_starts:
            self.stream_batches.extend(
                self._streams.drain(self._epoch0 - 1.0, self._stream_starts))
        self.ops.append(rec)
        self._group = None
        return rec


def _epoch(iso: str) -> float:
    """Epoch seconds of a progress timestamp like 2026-01-01T00:00:00.000Z."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _union_seconds(spans: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class LoopResult:
    latencies: list[float]
    items: int
    attempted: int
    failed: int
    failures: list[str]
    traced: list[bool]


def closed_loop(op, seconds: float, tracer: Tracer | None = None,
                label: str = "op", min_ops: int = 1) -> LoopResult:
    """Run ``op(i)`` back to back until ``seconds`` have passed.

    One op is outstanding at a time; the op in flight when the window
    closes runs to the end and counts. An op that raises or reports a
    failed check counts as failed and is never dropped. With a tracer,
    ops alternate traced and untraced so one run yields the tracing
    overhead; only traced ops feed the per-layer accounting.
    """
    lat, traced_flags, failures = [], [], []
    items = failed = 0
    start = time.perf_counter()
    i = 0
    while i < min_ops or time.perf_counter() - start < seconds:
        traced = tracer is not None and i % 2 == 0
        if traced:
            tracer.begin(f"{label}{i}")
        t0 = time.perf_counter()
        try:
            res = op(i)
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            res = OpResult(failures=[f"{type(exc).__name__}: {exc}"[:300]])
        dt = time.perf_counter() - t0
        if res.seconds is not None:
            dt = res.seconds
        if traced:
            tracer.end(dt)
        lat.append(dt)
        traced_flags.append(traced)
        items += res.items
        if res.failures:
            failed += 1
            failures.extend(res.failures)
        i += 1
    return LoopResult(lat, items, i, failed, failures, traced_flags)
