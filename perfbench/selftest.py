"""Self-tests of the benchmark's own machinery.

    python3 -m unittest perfbench.selftest      (from the repository root)

They check that the generators are pure functions of the seed, that the
metric tables match ``BENCHMARK.json``, that a traced run puts back every
module attribute it wrapped, and that span job counts include jobs
submitted from thread pools.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import tempfile
import unittest
from pathlib import Path

from perfbench import gen, run

ROOT = Path(__file__).resolve().parent.parent


class GeneratorTest(unittest.TestCase):

    def test_json_backlog_is_a_function_of_the_seed(self):
        a = gen.json_backlog(5, 3, 400, 4, 4)
        self.assertEqual(a, gen.json_backlog(5, 3, 400, 4, 4))
        self.assertNotEqual(a[0], gen.json_backlog(6, 3, 400, 4, 4)[0])

    def test_json_bookkeeping_adds_up(self):
        batches, book = gen.json_backlog(7, 4, 500, 4, 4)
        self.assertEqual(book["envelopes"], sum(map(len, batches)))
        originals = book["envelopes"] - book["dups"] - book["dead"]
        self.assertEqual(sum(book["committed"].values()),
                         originals - book["late"])
        self.assertGreater(book["dups"], 0)
        self.assertGreater(book["dead"], 0)
        self.assertGreater(book["late"], 0)
        # every batch drifts: new columns keep appearing
        self.assertGreater(len(book["columns"]["drift_0"]),
                           len(book["columns"]["fan_0"]))

    def test_avro_backlog_is_a_function_of_the_seed(self):
        from rakam_api_collector_spark.ingest.catalog import Catalog
        fields = Catalog().create_table(gen.PROJECT, "avro_0",
                                        gen.avro_fields())
        a = gen.avro_backlog(3, 2, 200, 4, fields)
        self.assertEqual(a, gen.avro_backlog(3, 2, 200, 4, fields))
        self.assertNotEqual(a[0], gen.avro_backlog(4, 2, 200, 4, fields)[0])

    def test_query_tables_are_a_function_of_the_seed(self):
        import pyarrow.parquet as pq

        def digest(seed):
            (ROOT / ".perfbench_run").mkdir(exist_ok=True)
            d = Path(tempfile.mkdtemp(dir=ROOT / ".perfbench_run"))
            try:
                gen.query_tables(seed, d)
                h = hashlib.sha256()
                for f in sorted(d.glob("*.parquet")):
                    h.update(str(pq.read_table(f).to_pylist()).encode())
                return h.hexdigest()
            finally:
                shutil.rmtree(d)

        self.assertEqual(digest(1), digest(1))
        self.assertNotEqual(digest(1), digest(2))


class MetricNamesTest(unittest.TestCase):

    def test_metric_tables_match_benchmark_json(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]),
                         run.WORKLOADS)


class SparkTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        work = ROOT / ".perfbench_run" / "selftest"
        run._pin_env(work)
        from rakam_api_collector_spark.session import get_spark
        cls.work = work
        cls.spark = get_spark("perfbench-selftest", cpus=2)

    @classmethod
    def tearDownClass(cls):
        run._stop_spark(cls.spark)
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_traced_run_restores_wrapped_attributes(self):
        import importlib

        from perfbench.trace import Tracer, install_ingest_spans
        targets = [
            ("rakam_api_collector_spark.streaming.pipeline", "split_late"),
            ("rakam_api_collector_spark.streaming.pipeline", "ingest_batch"),
            ("rakam_api_collector_spark.streaming.pipeline",
             "write_collections"),
            ("rakam_api_collector_spark.streaming.pipeline",
             "write_collections_grouped"),
            ("rakam_api_collector_spark.ingest.avro",
             "decode_stream_records"),
        ]
        mods = [importlib.import_module(m) for m, _ in targets]
        from rakam_api_collector_spark.manifest import ManifestedTable
        before = [getattr(m, a) for m, (_, a) in zip(mods, targets)]
        before_write = ManifestedTable.__dict__["write"]

        tracer = Tracer(self.spark, "selftest")
        install_ingest_spans(tracer)
        self.assertEqual(tracer.missing, [])
        for m, (_, a), orig in zip(mods, targets, before):
            self.assertIsNot(getattr(m, a), orig)
        tracer.restore()
        for m, (_, a), orig in zip(mods, targets, before):
            self.assertIs(getattr(m, a), orig)
        self.assertIs(ManifestedTable.__dict__["write"], before_write)

    def test_missing_target_is_reported_not_fatal(self):
        from perfbench.trace import Tracer
        tracer = Tracer(self.spark, "selftest")
        tracer.wrap("rakam_api_collector_spark.sinks:no_such_function", "x")
        self.assertEqual(tracer.missing,
                         ["rakam_api_collector_spark.sinks:no_such_function"])

    def test_span_counts_thread_pool_jobs(self):
        from perfbench.trace import Tracer
        from rakam_api_collector_spark.sinks import write_collections
        tables = {("p", f"c{i}"): self.spark.range(3).selectExpr(
            "id", "timestamp_seconds(id) AS _time") for i in range(100)}
        tracer = Tracer(self.spark, "selftest")
        out = tempfile.mkdtemp(dir=self.work)
        with tracer.span("sinks.write") as rec:
            write_collections(tables, out)
        lo, hi = rec["job_range"]
        self.assertGreaterEqual(hi - lo, 100)


def tearDownModule():
    try:
        (ROOT / ".perfbench_run").rmdir()
    except OSError:
        pass


if __name__ == "__main__":
    unittest.main()
