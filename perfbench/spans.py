"""In-memory span tracing for the traced (``--trace 1``) run.

Spans are recorded by the benchmark's own code around each call into a
layer of the package (``with tracer.span("dataset.writer.write"): ...``).
One layer call that happens only inside another layer —
``schema.get_unified_schema`` under ``Dataset.load`` — is reached by
wrapping that module attribute for the duration of the traced run
(:meth:`Tracer.wrap`); the package itself is not changed.

Each span keeps (name, start, end, parent span, op id). Self time is the
span's duration minus the part of it that its child spans cover. Per op
the Spark job, stage and task counts come from ``statusTracker()`` via
a job group named after the op. Everything stays in memory until the
run ends; then the spans and per-op counts are printed as one JSON line
and summarised into the per-layer metrics.

The untraced run uses :class:`NullTracer`, whose methods do nothing.
"""

from __future__ import annotations

import contextlib
import statistics
import time


class Phases:
    """Wall time of consecutive run phases (generate, build, warm-up, ...)."""

    def __init__(self):
        self.t = time.perf_counter()
        self.seconds: dict[str, float] = {}

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.seconds[name] = round(now - self.t, 3)
        self.t = now


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        yield {}

    @contextlib.contextmanager
    def op(self, op_id: str):
        yield

    def count(self, name: str, value: float) -> None:
        pass

    def wrap(self, owner, attr: str, name: str) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self.op_jobs: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        """Record a span; the yielded dict takes counts set inside the span."""
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "counts": dict(counts),
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    @contextlib.contextmanager
    def op(self, op_id: str):
        """Run one op under its own Spark job group, then record its
        job/stage/task counts from the status tracker."""
        t0 = time.perf_counter()
        self._op = op_id
        self.sc.setJobGroup(op_id, op_id)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(op_id)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for s in info.stageIds:
                    sinfo = st.getStageInfo(s)
                    if sinfo is not None:
                        stages += 1
                        tasks += sinfo.numTasks
            self.op_jobs.append(
                {"op": op_id, "jobs": len(jobs), "stages": stages, "tasks": tasks}
            )
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanning wrapper until restore()."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries ------------------------------------------------------------

    def export(self) -> list[dict]:
        """Every span, times in seconds from the first span's start;
        ``parent`` is an index into this list."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {"name": s["name"], "parent": s["parent"], "op": s["op"],
             "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6),
             "counts": s["counts"]}
            for s in self.spans
        ]

    def durations(self, name: str, ops: set[str] | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s and (ops is None or s["op"] in ops)
        ]

    def span_counts(self, name: str, key: str) -> list[float]:
        return [s["counts"][key] for s in self.spans
                if s["name"] == name and key in s["counts"]]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if "end" not in s:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(i, [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def per_op(self, ops: set[str]) -> dict[str, float]:
        rows = [r for r in self.op_jobs if r["op"] in ops]
        if not rows:
            return {"jobs": 0.0, "stages": 0.0, "tasks": 0.0}
        return {k: statistics.fmean(r[k] for r in rows) for k in ("jobs", "stages", "tasks")}
