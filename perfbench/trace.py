"""Spans around the program's layer boundaries, recorded from outside.

A traced run replaces module attributes the epoch bodies look up at
call time (``pipeline.ingest_batch``, ``pipeline.write_collections``,
...) with wrappers that record a span, and puts every original back
when the run ends. Spark work inside a span is counted by job-ID and
stage-ID range (the DAG scheduler's next-id counters read at the span's
edges), so jobs submitted from thread pools are counted even though
they carry no job group.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager

from perfbench import procstat


class Tracer:
    """In-memory span recorder. Spans are dicts with ``name``, ``start``,
    ``end`` (epoch seconds), ``parent``, ``run_id``, job and stage id
    ranges, process-tree CPU seconds and any layer counters."""

    def __init__(self, spark, run_id: str) -> None:
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()
        self.run_id = run_id
        self.spans: list[dict] = []
        self.missing: list[str] = []
        self._saved: list[tuple[object, str, object]] = []

    def counters(self) -> tuple[int, int]:
        """(next job id, next stage id) right now."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    @contextmanager
    def span(self, name: str, parent=None, **extra):
        """Record one span; ``overhead_s`` accumulates the recorder's own
        cost around the body."""
        t_in = time.perf_counter()
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "overhead_s": 0.0, **extra}
        job0, stage0 = self.counters()
        cpu0 = procstat.tree_cpu_s()
        rec["start"] = time.time()
        t_body = time.perf_counter()
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            rec["cpu_s"] = procstat.tree_cpu_s() - cpu0
            job1, stage1 = self.counters()
            rec["job_range"] = (job0, job1)
            rec["stage_range"] = (stage0, stage1)
            self.spans.append(rec)
            rec["overhead_s"] += ((t_body - t_in)
                                  + (time.perf_counter() - t_out))

    def wrap(self, target: str, name: str, before=None, after=None) -> None:
        """Replace ``module.attr`` or ``module.Class.attr`` with a
        span-recording wrapper. ``before(args, kwargs)`` returns a state
        passed to ``after(state, result)``, which returns counters for
        the span. A target that no longer exists is recorded as
        missing."""
        mod_name, _, path = target.partition(":")
        try:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            original = getattr(owner, attr)
        except (ImportError, AttributeError):
            self.missing.append(target)
            return

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            state = before(args, kwargs) if before else None
            with self.span(name, overhead_s=time.perf_counter() - t0) as rec:
                result = original(*args, **kwargs)
                t1 = time.perf_counter()
                if after:
                    rec.update(after(state, result))
                rec["overhead_s"] += time.perf_counter() - t1
            return result

        self._saved.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        """Put every wrapped attribute back, newest first."""
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    def tasks_in(self, stage_range: tuple[int, int]) -> int:
        """Completed tasks of the stages in ``[lo, hi)``; stages the
        status store no longer retains count as zero."""
        tracker = self._sc._jsc.statusTracker()
        total = 0
        for sid in range(*stage_range):
            info = tracker.getStageInfo(sid)
            if info is not None:
                total += int(info.numCompletedTasks())
        return total


def overhead_frac(spans: list[dict], wall_s: float) -> float:
    """The recorder's own cost in ``spans`` as a share of ``wall_s``."""
    return sum(sp["overhead_s"] for sp in spans) / wall_s if wall_s else 0.0


def catalog_width(catalog) -> int:
    return sum(len(catalog.get_columns(p, c)) for p, c in catalog.tables())


def install_ingest_spans(tracer: Tracer) -> None:
    """The epoch bodies' layer calls, looked up at call time."""
    pipe = "rakam_api_collector_spark.streaming.pipeline"
    tracer.wrap(f"{pipe}:split_late", "streaming.latesplit.split_late")

    def before_ingest(args, kwargs):
        catalog = args[3] if len(args) > 3 else kwargs["catalog"]
        return catalog, catalog_width(catalog)

    def after_ingest(state, result):
        catalog, width = state
        return {"new_columns": catalog_width(catalog) - width,
                "schema_groups": len(getattr(result, "groups", ()))}

    tracer.wrap(f"{pipe}:ingest_batch", "ingest.batch.ingest_batch",
                before_ingest, after_ingest)
    tracer.wrap(f"{pipe}:write_collections", "sinks.write")
    tracer.wrap(f"{pipe}:write_collections_grouped", "sinks.write")
    tracer.wrap("rakam_api_collector_spark.manifest:ManifestedTable.write",
                "sinks.write")
    tracer.wrap("rakam_api_collector_spark.ingest.avro:decode_stream_records",
                "ingest.avro.decode")
