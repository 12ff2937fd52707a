"""The ``ingest`` workload: a closed loop of file-source micro-batches
through ``start_ingest_stream`` (fabric JSON) and then through
``start_avro_ingest_stream`` (framed Avro), each from a pre-written
backlog of one file per micro-batch with ``maxFilesPerTrigger=1``, so
batch b+1 is planned only after batch b commits.

JSON: ``JSON_FANOUT`` collections share the stress schema and
``JSON_DRIFT`` collections gain new fields every batch (one of them
null-first); 20% of envelopes re-send an earlier key, 1% are truncated
and dead-lettered, 10% are late and spooled. Avro: ``AVRO_COLLECTIONS``
collections whose schemas are declared in the catalog, 10% late.

One timed operation is a round: one JSON micro-batch plus one Avro
micro-batch, paired by position after each stream's warm-up.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import statistics
import threading
import time
from pathlib import Path

from perfbench import gen, procstat
from perfbench.trace import install_ingest_spans, overhead_frac

JSON_PER_BATCH = 1000
JSON_FANOUT = 2
JSON_DRIFT = 2
AVRO_PER_BATCH = 1000
AVRO_COLLECTIONS = 2
# untimed leading micro-batches per stream: the cold first one. A JSON
# stream's second batch is still 10-20% slower than its third; the timed
# figures are medians over the timed batches, so it drops out.
WARMUP_BATCHES = 1
# sets how many rounds a run of --seconds holds (a function of --seconds
# only, so every commit runs the same shape); one warm round took 8-10 s
# on a 4-core box of a busy shared host
NOMINAL_ROUND_S = 3.4
STREAM_TIMEOUT_S = 150


def rounds_for(seconds: float) -> int:
    return max(3, math.ceil(seconds / NOMINAL_ROUND_S))


class ProgressLog:
    """Collects ``StreamingQueryProgress`` for every query and samples
    the process-tree CPU (and, when traced, the job/stage counters) the
    moment each data batch of a query reports, from a chosen one on."""

    def __init__(self, spark, tracer=None) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: dict[str, list[dict]] = {}
        self.marks: dict[tuple[str, int], dict] = {}
        self._want: dict[str, int] = {}
        self.tracer = tracer
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log._on_progress(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def mark_from(self, query_id: str, n_data_batches: int) -> None:
        """Sample when the query's ``n``-th and every later data batch
        reports."""
        self._want[query_id] = n_data_batches

    def _on_progress(self, d: dict) -> None:
        qid = d["id"]
        with self._cv:
            evs = self.events.setdefault(qid, [])
            evs.append(d)
            n_data = sum(1 for e in evs if e["numInputRows"] > 0)
            if (d["numInputRows"] > 0
                    and n_data >= self._want.get(qid, n_data + 1)):
                self.marks[(qid, n_data)] = sample(self.tracer)
            self._cv.notify_all()

    def wait_data_batches(self, query_id: str, n: int,
                          timeout: float = 30.0) -> list[dict]:
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                evs = self.events.get(query_id, [])
                if sum(1 for e in evs if e["numInputRows"] > 0) >= n:
                    return list(evs)
                left = deadline - time.monotonic()
                if left <= 0:
                    raise RuntimeError(
                        f"query {query_id}: progress for {n} data "
                        "batches never arrived")
                self._cv.wait(left)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def sample(tracer=None) -> dict:
    out = {"t": procstat.now(), "cpu_s": procstat.tree_cpu_s()}
    if tracer is not None:
        out["jobs"], out["stages"] = tracer.counters()
    return out


def _stream(spark, log: ProgressLog, start, n_batches: int) -> dict:
    """Run one stream over its whole backlog; returns its timed part."""
    launched = procstat.now()
    query = start()
    qid = str(query.id)
    log.mark_from(qid, WARMUP_BATCHES)
    query.awaitTermination(STREAM_TIMEOUT_S)
    if query.isActive:
        query.stop()
        raise RuntimeError("stream did not drain its backlog in time")
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    evs = log.wait_data_batches(qid, n_batches)
    data = [e for e in evs if e["numInputRows"] > 0]
    cut = data[WARMUP_BATCHES - 1]["batchId"]
    # samples as the last warm-up batch and each timed batch reported
    marks = [log.marks[(qid, k)]
             for k in range(WARMUP_BATCHES, n_batches + 1)]
    return {
        "launched": launched,
        "events": evs,
        # every micro-batch after the warm-up, no-data ones included
        "timed": [e for e in evs if e["batchId"] > cut],
        "timed_data": data[WARMUP_BATCHES:],
        "batch_cpu_s": [b["cpu_s"] - a["cpu_s"]
                        for a, b in zip(marks, marks[1:])],
        "window": (marks[0], marks[-1]),
    }


def _iso_epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run(spark, seed: int, seconds: float, work: Path, tracer=None) -> dict:
    from pyspark.sql import functions as F

    from rakam_api_collector_spark.ingest.catalog import Catalog
    from rakam_api_collector_spark.streaming.pipeline import (
        start_avro_ingest_stream, start_ingest_stream)

    n_rounds = rounds_for(seconds)
    n_batches = WARMUP_BATCHES + n_rounds

    json_batches, json_book = gen.json_backlog(
        seed, n_batches, JSON_PER_BATCH, JSON_FANOUT, JSON_DRIFT)
    gen.write_backlog(json_batches, work / "json_src")
    avro_catalog = Catalog()
    fields = None
    for i in range(AVRO_COLLECTIONS):
        fields = avro_catalog.create_table(gen.PROJECT, f"avro_{i}",
                                           gen.avro_fields())
    avro_batches, avro_book = gen.avro_backlog(
        seed, n_batches, AVRO_PER_BATCH, AVRO_COLLECTIONS, fields)
    gen.write_backlog(avro_batches, work / "avro_src")
    del json_batches, avro_batches

    if tracer is not None:
        install_ingest_spans(tracer)
    log = ProgressLog(spark, tracer)
    json_catalog = Catalog()
    try:
        js = _stream(spark, log, lambda: start_ingest_stream(
            spark, str(work / "json_src"), "fabric", json_catalog,
            str(work / "json_tables"), checkpoint=str(work / "json_ckpt"),
            historical_dir=str(work / "json_late"), dedup=True,
            outdated_day_index=1, trigger={"availableNow": True},
            shard_time=gen.SHARD_TIME, now=gen.NOW, source_stream=None,
            errors_dir=str(work / "json_dead"), manifested=False,
            layout="per-table", maintenance=None, state_partitions=None,
            max_files_per_trigger=1), n_batches)
        feed = (spark.readStream.format("text")
                .option("maxFilesPerTrigger", 1).load(str(work / "avro_src"))
                .select(F.unbase64("value").alias("value")))
        av = _stream(spark, log, lambda: start_avro_ingest_stream(
            spark, None, avro_catalog, str(work / "avro_tables"),
            checkpoint=str(work / "avro_ckpt"), project=gen.PROJECT,
            default_collection=None, historical_dir=str(work / "avro_late"),
            dedup=True, outdated_day_index=1,
            trigger={"availableNow": True}, shard_time=gen.SHARD_TIME,
            now=gen.NOW, source="kafka", bulk_base=None,
            source_stream=feed, errors_dir=None, manifested=False,
            maintenance=None, state_partitions=None), n_batches)
    finally:
        log.close()
        if tracer is not None:
            tracer.restore()

    t_check = time.perf_counter()
    failures = check(work, json_catalog, json_book, avro_book, js, av)
    check_s = time.perf_counter() - t_check
    # a round's p50 is the p50 JSON micro-batch plus the p50 Avro one, so
    # an outlier batch of one stream is dropped on its own
    round_p50_ms = sum(
        statistics.median(e["durationMs"]["triggerExecution"]
                          for e in s["timed_data"]) for s in (js, av))
    timed_ms = sum(e["durationMs"]["triggerExecution"]
                   for s in (js, av) for e in s["timed"])
    records = sum(e["numInputRows"] for s in (js, av)
                  for e in s["timed_data"])
    round_cpu_s = sum(statistics.median(s["batch_cpu_s"])
                      for s in (js, av))
    # each stream's set-up ends when its last warm-up batch reports; the
    # first timed batch starts right after that batch commits
    setup_s = ((js["window"][0]["t"] - procstat.process_start())
               + (av["window"][0]["t"] - av["launched"]))
    out = {
        "attempted": 2 * n_rounds,
        "failures": failures,
        "metrics": {
            "setup_s": setup_s,
            "round_p50_ms": round_p50_ms,
            "cpu_s_per_round": round_cpu_s,
        },
        "record": {
            "rounds": n_rounds,
            "items_per_s": records / (timed_ms / 1000.0),
            "batch_cpu_s": {"json": js["batch_cpu_s"],
                            "avro": av["batch_cpu_s"]},
            "check_s": check_s,
            "warmup_batches": WARMUP_BATCHES,
            "json_batch_ms": [e["durationMs"]["triggerExecution"]
                              for e in js["events"]],
            "avro_batch_ms": [e["durationMs"]["triggerExecution"]
                              for e in av["events"]],
            "no_data_batches": sum(1 for s in (js, av) for e in s["events"]
                                   if e["numInputRows"] == 0),
            "json_book": {k: v for k, v in json_book.items()
                          if k != "columns"},
            "avro_book": avro_book,
        },
    }
    if tracer is not None:
        out["layers"] = layers(tracer, work, js, av, json_book, avro_book)
    return out


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in path.rglob("*.parquet"))


def _text_lines(path: Path) -> int:
    n = 0
    for f in path.rglob("part-*"):
        if f.suffix == ".crc":
            continue
        with open(f, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


def check(work: Path, json_catalog, json_book: dict, avro_book: dict,
          js: dict, av: dict) -> list[str]:
    """Compare committed tables, spools and catalog with the generator's
    bookkeeping. Returns one message per mismatch."""
    bad = []

    def expect(what, got, want):
        if got != want:
            bad.append(f"{what}: got {got}, expected {want}")

    for name, book, base in (("json", json_book, work / "json_tables"),
                             ("avro", avro_book, work / "avro_tables")):
        for coll, want in book["committed"].items():
            expect(f"{name} rows {coll}",
                   _parquet_rows(base / gen.PROJECT / coll), want)
    expect("json late spool", _text_lines(work / "json_late"),
           json_book["late"])
    expect("json dead letters", _parquet_rows(work / "json_dead"),
           json_book["dead"])
    expect("avro late spool", _parquet_rows(work / "avro_late"),
           avro_book["late"])
    for coll, want in json_book["columns"].items():
        cols = json_catalog.get_columns(gen.PROJECT, coll) or []
        expect(f"json catalog {coll}",
               {f.name: f.dataType.simpleString() for f in cols}, want)
    expect("json input rows",
           sum(e["numInputRows"] for e in js["events"]),
           json_book["envelopes"])
    expect("avro input rows",
           sum(e["numInputRows"] for e in av["events"]),
           avro_book["envelopes"])
    return bad


def _dedup(e: dict) -> dict:
    ops = e.get("stateOperators") or [{}]
    return ops[0]


def _executions(e: dict) -> float:
    """How many times the epoch ran the dedup operator: state store
    instances over shuffle partitions. The operator's row counters sum
    over executions, so they are divided by this."""
    op = _dedup(e)
    parts = op.get("numShufflePartitions") or 0
    return op.get("numStateStoreInstances", 0) / parts if parts else 0.0


def _per_execution(e: dict, value: float) -> float:
    n = _executions(e)
    return value / n if n else 0.0


def layers(tracer, work: Path, js: dict, av: dict, json_book: dict,
           avro_book: dict) -> dict:
    """Per-layer metrics over the timed micro-batches of both streams."""
    timed = js["timed_data"] + av["timed_data"]
    n = len(timed)
    windows = []
    for s in (js, av):
        for e in s["timed_data"]:
            t0 = _iso_epoch(e["timestamp"])
            windows.append((t0, t0 + e["durationMs"]["triggerExecution"]
                            / 1000.0, e))
    by_name: dict[str, list[dict]] = {}
    child_ms: dict[int, float] = {}
    traced = []
    for sp in tracer.spans:
        for t0, t1, e in windows:
            if t0 <= sp["start"] <= t1:
                sp["parent"] = e["batchId"]
                traced.append(sp)
                by_name.setdefault(sp["name"], []).append(sp)
                key = id(e)
                child_ms[key] = child_ms.get(key, 0.0) + 1000.0 * (
                    sp["end"] - sp["start"])
                break

    def total(name, field):
        spans = by_name.get(name, [])
        if field == "wall_s":
            return sum(sp["end"] - sp["start"] for sp in spans)
        if field == "jobs":
            return sum(sp["job_range"][1] - sp["job_range"][0]
                       for sp in spans)
        if field == "tasks":
            return sum(tracer.tasks_in(sp["stage_range"]) for sp in spans)
        return sum(sp.get(field, 0) for sp in spans)

    def per(x, k):
        return x / k if k else 0.0

    nj, na = len(js["timed_data"]), len(av["timed_data"])
    sink_wall = total("sinks.write", "wall_s")
    files = (list((work / "json_tables").rglob("*.parquet"))
             + list((work / "avro_tables").rglob("*.parquet")))
    all_batches = (sum(1 for e in js["events"] if e["numInputRows"] > 0)
                   + sum(1 for e in av["events"] if e["numInputRows"] > 0))
    jobs = stages = tasks = 0
    for s in (js, av):
        mark, end = s["window"]
        jobs += end["jobs"] - mark["jobs"]
        stages += end["stages"] - mark["stages"]
        tasks += tracer.tasks_in((mark["stages"], end["stages"]))
    add_batch = sum(e["durationMs"].get("addBatch", 0) for e in timed)
    dropped = sum(_per_execution(e, _dedup(e).get("customMetrics", {})
                                 .get("numDroppedDuplicateRows", 0)
                                 + _dedup(e).get("numRowsDroppedByWatermark", 0))
                  for s in (js, av) for e in s["events"])
    injected = json_book["dups"] + avro_book["dups"]
    timed_wall_s = sum(e["durationMs"]["triggerExecution"]
                       for e in timed) / 1000.0
    return {
        "sinks.write_s": per(sink_wall, n),
        "sinks.jobs": per(total("sinks.write", "jobs"), n),
        "sinks.tasks": per(total("sinks.write", "tasks"), n),
        "sinks.busy_cores": per(total("sinks.write", "cpu_s"), sink_wall),
        "sinks.files_per_batch": per(len(files), all_batches),
        "sinks.bytes_per_batch": per(sum(f.stat().st_size for f in files),
                                     all_batches),
        "ingest.batch.ingest_batch_s": per(
            total("ingest.batch.ingest_batch", "wall_s"), nj),
        "ingest.batch.jobs": per(
            total("ingest.batch.ingest_batch", "jobs"), nj),
        "ingest.batch.cpu_s": per(
            total("ingest.batch.ingest_batch", "cpu_s"), nj),
        "ingest.catalog.new_columns": per(
            total("ingest.batch.ingest_batch", "new_columns"), nj),
        "ingest.catalog.schema_groups": per(
            total("ingest.batch.ingest_batch", "schema_groups"), nj),
        "ingest.avro.decode_s": per(
            total("ingest.avro.decode", "wall_s"), na),
        "ingest.avro.jobs": per(total("ingest.avro.decode", "jobs"), na),
        "ingest.avro.cpu_s": per(total("ingest.avro.decode", "cpu_s"), na),
        "streaming.latesplit.split_late_s": per(
            total("streaming.latesplit.split_late", "wall_s"), n),
        "streaming.latesplit.jobs": per(
            total("streaming.latesplit.split_late", "jobs"), n),
        "streaming.latesplit.late_rows": per(
            json_book["late"] + avro_book["late"], all_batches),
        "streaming.source_ms": per(sum(
            e["durationMs"].get("latestOffset", 0)
            + e["durationMs"].get("getBatch", 0) for e in timed), n),
        "streaming.planning_ms": per(sum(
            e["durationMs"].get("queryPlanning", 0) for e in timed), n),
        "streaming.pipeline.add_batch_ms": per(add_batch, n),
        "streaming.pipeline.self_ms": per(
            add_batch - sum(child_ms.values()), n),
        "streaming.checkpoint_ms": per(sum(
            e["durationMs"].get("walCommit", 0)
            + e["durationMs"].get("commitOffsets", 0) for e in timed), n),
        "streaming.jobs_per_batch": per(jobs, n),
        "streaming.stages_per_batch": per(stages, n),
        "streaming.tasks_per_batch": per(tasks, n),
        "streaming.dedup.executions_per_batch": per(
            sum(_executions(e) for e in timed), n),
        "streaming.dedup.state_rows": sum(
            _per_execution(s["events"][-1],
                           _dedup(s["events"][-1]).get("numRowsTotal", 0))
            for s in (js, av)),
        "streaming.dedup.state_bytes": sum(
            _dedup(s["events"][-1]).get("memoryUsedBytes", 0)
            for s in (js, av)),
        "streaming.dedup.commit_ms": per(sum(
            _dedup(e).get("commitTimeMs", 0) for e in timed), n),
        "streaming.dedup.dropped_rows": dropped,
        "streaming.dedup.drop_ratio": per(dropped, injected),
        "trace_overhead_frac": overhead_frac(traced, timed_wall_s),
    }
