"""Tracing from outside the program.

Spans are recorded around calls into each layer's public functions by
wrapping them from here (``Pipeline.run``, the stage registry entries,
``VersionedTable`` methods and ``delta_interop`` functions). The
program's files are untouched: the wrappers are installed on the live
objects of this process only, and only for a traced run.

Spans are kept in memory and written out once, when the run ends.
After each traced operation the Spark status store is read for the
jobs that operation ran (job description, stage run/CPU/GC time,
shuffle, spill and input bytes) before stage retention can evict them.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. A span is (op id, span id, parent id,
    name, layer, start, end); spans of one operation share the op id."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        # op id -> driver seconds in stage bodies that returned a lazy
        # DataFrame (planning only)
        self.plan_s: dict[int, float] = defaultdict(float)
        self.op_id = -1
        self._stack: list[int] = []
        self._next = 0

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self._stack = []

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def wrap(self, owner, attr: str, name: str, layer: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Per layer: total span time minus the time its child spans
        cover, summed over the given operations."""
        child: dict[int, float] = defaultdict(float)
        for op, sid, parent, _n, _l, t0, t1 in self.spans:
            if op in op_ids and parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for op, sid, _p, _n, layer, t0, t1 in self.spans:
            if op in op_ids:
                out[layer] += (t1 - t0) - child[sid]
        return out

    def span_totals(self, op_ids: set[int]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for op, _s, _p, name, _l, t0, t1 in self.spans:
            if op in op_ids:
                out[name] += t1 - t0
        return out

    def dump(self, path: str, extra: dict) -> None:
        keys = ("op", "id", "parent", "name", "layer", "start", "end")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(keys, s)) for s in self.spans], **extra}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        self.sid = t._next
        t._next += 1
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.sid)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        t = self.t
        t._stack.pop()
        if t.enabled:
            t.spans.append((t.op_id, self.sid, self.parent, self.name,
                            self.layer, self.t0, t1))
        return False


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the benchmark reports on."""
    from sql_based_etl_spark.engine import pipeline
    from sql_based_etl_spark.engine.stages import STAGE_TYPES
    from sql_based_etl_spark.tables import delta_interop
    from sql_based_etl_spark.tables.versioned import VersionedTable

    tracer.wrap(pipeline.Pipeline, "run", "pipeline.run", "engine")
    for stype in list(STAGE_TYPES):
        _wrap_stage(tracer, STAGE_TYPES, stype)
    for m in ("merge", "write", "read", "compact", "vacuum"):
        tracer.wrap(VersionedTable, m, f"versioned.{m}", "versioned")
    for fn, name in (("write_delta", "write"), ("merge_delta", "merge"),
                     ("read_delta", "read"), ("read_delta_changes", "changes"),
                     ("compact_delta", "compact"), ("vacuum_delta", "vacuum")):
        tracer.wrap(delta_interop, fn, f"delta.{name}", "delta")


def _wrap_stage(tracer: Tracer, registry: dict, stype: str) -> None:
    """Stage entries live in a dict, not on an object: wrap the value.
    A stage body that returns a DataFrame ran lazily (planning only);
    its time is added to the operation's ``plan_s``."""
    fn = registry[stype]

    @functools.wraps(fn)
    def wrapper(ctx, conf):
        if not tracer.enabled:
            return fn(ctx, conf)
        t0 = time.perf_counter()
        with tracer.span(f"stage.{stype}", "engine"):
            out = fn(ctx, conf)
        if out is not None:
            tracer.plan_s[tracer.op_id] += time.perf_counter() - t0
        return out

    registry[stype] = wrapper


class SparkStatus:
    """Reads the driver's status store for the jobs an operation ran."""

    STAGE_FIELDS = (
        ("exec_run_s", "executorRunTime", 1e-3),
        ("exec_cpu_s", "executorCpuTime", 1e-9),
        ("gc_s", "jvmGcTime", 1e-3),
        ("shuffle_read_bytes", "shuffleReadBytes", 1.0),
        ("shuffle_write_bytes", "shuffleWriteBytes", 1.0),
        ("spill_bytes", "diskBytesSpilled", 1.0),
        ("spill_bytes", "memoryBytesSpilled", 1.0),
        ("input_bytes", "inputBytes", 1.0),
        ("tasks", "numTasks", 1.0),
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()  # noqa: SLF001
        self.store = self.jsc.statusStore()
        self.mark()

    def mark(self) -> None:
        """Start a new operation: later ``collect`` calls count only the
        jobs started from here on."""
        self.last_job = max(self._job_ids(), default=-1)

    def _job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup())

    def _drain(self) -> None:
        try:
            self.jsc.listenerBus().waitUntilEmpty(5000)
        except Exception:  # noqa: BLE001 — private surface: give the bus a moment instead
            time.sleep(0.05)

    def collect(self, t0_wall: float, t1_wall: float) -> tuple[dict, dict]:
        """Totals over jobs started since the last call, plus totals per
        job description. ``driver_only_s`` is the part of the wall
        interval [t0_wall, t1_wall] covered by no job."""
        self._drain()
        ids = sorted(j for j in self._job_ids() if j > self.last_job)
        if ids:
            self.last_job = ids[-1]
        tot: dict[str, float] = defaultdict(float)
        by_desc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        spans = []
        seen_stages: set[int] = set()
        for j in ids:
            try:
                jd = self.store.job(j)
            except Exception:  # noqa: BLE001 — evicted or still unknown
                continue
            desc = jd.description().get() if jd.description().isDefined() else ""
            desc = desc.split(":", 1)[0] or "(none)"
            tot["jobs"] += 1
            by_desc[desc]["jobs"] += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                spans.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage: never ran
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                for key, getter, scale in self.STAGE_FIELDS:
                    v = getattr(st, getter)() * scale
                    tot[key] += v
                    by_desc[desc][key] += v
        covered = _union_length(spans, t0_wall, t1_wall)
        tot["driver_only_s"] = max(0.0, (t1_wall - t0_wall) - covered)
        return dict(tot), {k: dict(v) for k, v in by_desc.items()}


def _union_length(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
