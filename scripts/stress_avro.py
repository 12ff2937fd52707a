"""Avro ingestion stress harness — the Avro twin of stress_ingest.py.

Synthesizes wire-faithful framed Avro records (the
KafkaAvroMessageTransformer.java:41-54 framing: type-2 collection
string + union[null,T] record body) across N collections, runs them
through the batch form of the streaming hot path — routing-key partial
parse → late split → per-collection typed decode → parquet sinks — and
prints ONE JSON line with records/sec.

Usage: python scripts/stress_avro.py [n_records] [n_collections]
"""

from __future__ import annotations

import json
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F
from pyspark.sql import types as T

from rakam_api_collector_spark.ingest import avro as A
from rakam_api_collector_spark.ingest.catalog import Catalog
from rakam_api_collector_spark.session import get_spark
from rakam_api_collector_spark.sinks import write_collections
from rakam_api_collector_spark.streaming.latesplit import split_late
from rakam_api_collector_spark.streaming.pipeline import (_decode_avro_frames,
                                                        _of_kind)

BASE_MS = 1704067200000   # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000

EXTRA = [
    *[T.StructField(f"str_{j}", T.StringType()) for j in range(5)],
    *[T.StructField(f"num_{j}", T.DoubleType()) for j in range(5)],
    *[T.StructField(f"int_{j}", T.LongType()) for j in range(3)],
    T.StructField("flag", T.BooleanType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
]


def make_frames(n: int, n_collections: int, fields: list[T.StructField],
                late_frac: float = 0.10, seed: int = 7) -> list[bytes]:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        late = rng.random() < late_frac
        ts = BASE_MS + (30 * DAY_MS) - (
            rng.randint(1, 30) * DAY_MS if late else rng.randint(0, DAY_MS))
        values = [
            None,                                   # _shard_time
            ts,                                     # _time
            f"user_{rng.randint(0, 5000)}",         # _user
            *[rng.choice(["a", "bb", "ccc", None]) for _ in range(5)],
            *[rng.random() * 100 for _ in range(5)],
            *[rng.randint(0, 10**6) for _ in range(3)],
            rng.random() > 0.5,
            [rng.choice("xyz") for _ in range(3)],
            {"k1": rng.random(), "k2": rng.random()},
        ]
        out.append(A.encode_stream_record(
            fields, values, collection=f"coll_{i % n_collections}"))
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    n_coll = int(sys.argv[2]) if len(sys.argv) > 2 else 100

    spark = get_spark("stress_avro")
    catalog = Catalog()
    fields = None
    for c in range(n_coll):
        fields = catalog.create_table("stress", f"coll_{c}", EXTRA)

    frames = make_frames(n, n_coll, fields)
    raw = spark.createDataFrame([(f,) for f in frames], "value: binary")
    raw = raw.repartition(32).cache()
    raw.count()

    out_dir = tempfile.mkdtemp(prefix="stress_avro_tables_")
    t0 = time.perf_counter()
    routed = A.extract_stream_routing(raw, catalog.get_columns, "stress")
    routed = routed.withColumn("_event_time",
                               F.timestamp_millis("_time_ms")).cache()
    rt, hist = split_late(routed, time_col="_event_time",
                          outdated_day_index=1, now="2024-01-31")
    tables = _decode_avro_frames(
        spark, _of_kind(rt, "stream"), _of_kind(rt, "bulk"),
        catalog.get_columns, "stress", None, None)
    out = {k: df.withColumn(
        "_shard_time",
        F.coalesce("_shard_time",
                   F.lit("2024-02-01 00:00:00").cast("timestamp")))
        for k, df in tables.items()}
    write_collections(out, out_dir, coalesce_to=2)
    wall = time.perf_counter() - t0
    tables.unpersist()
    routed.unpersist()

    n_tables = len(tables)
    # R1 fan-out rule, asserted: all collections share one schema here,
    # so the decode ran as ONE cached Python pass — plans (and Spark
    # jobs) scale with #schemas, not #collections.
    n_schema_groups = len(tables._caches)
    assert n_schema_groups == 1, \
        f"expected 1 cached schema-group decode pass, got {n_schema_groups}"
    shutil.rmtree(out_dir, ignore_errors=True)
    print(json.dumps({
        "metric": "avro_ingest_records_per_sec",
        "value": round(n / wall, 1),
        "unit": "records/sec",
        "records": n,
        "collections": n_tables,
        "schema_groups": n_schema_groups,
        "wall_sec": round(wall, 2),
    }))


if __name__ == "__main__":
    main()
