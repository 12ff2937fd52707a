"""Seeded input generators and the bookkeeping each run checks against.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs and identical expected counts. The program under
test only ever sees the generated files.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import math
import random
from pathlib import Path

PROJECT = "bench"
NOW = "2024-01-31"                    # pinned late-classification clock
SHARD_TIME = "2024-02-01 00:00:00"    # pinned _shard_time
DAY_MS = 86_400_000
NOW_MS = int(dt.datetime(2024, 1, 31, tzinfo=dt.timezone.utc)
             .timestamp() * 1000)
# Late events sit 3..27 days before NOW: outside the one-day realtime
# window, inside the 30-day dedup watermark, and spread thinly enough
# over days that split_late's bulk-backfill promotion never fires.
LATE_DAYS = (3, 27)
LATE_FRAC = 0.10      # share of originals that are late
DUP_FRAC = 0.20       # share of JSON lines that re-send an earlier envelope
BAD_FRAC = 0.01       # share of JSON lines that are truncated

SEED_COLUMNS = {"_shard_time": "timestamp", "_time": "timestamp",
                "_user": "string"}


def _stress_fields(rng: random.Random) -> dict:
    """The reference stress test's ~19 mixed fields."""
    return {
        **{f"str_{j}": rng.choice(["a", "bb", "ccc", None])
           for j in range(5)},
        **{f"num_{j}": round(rng.random() * 100, 6) for j in range(5)},
        **{f"int_{j}": rng.randint(0, 10**6) for j in range(3)},
        "flag": rng.random() > 0.5,
        "tags": [rng.choice("xyz") for _ in range(3)],
        "attrs": {"k1": round(rng.random(), 6), "k2": round(rng.random(), 6)},
        "note": "n" * rng.randint(1, 120),
    }


def json_type(value) -> str:
    """Catalog type the fabric JSON path infers for a generated value."""
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, (int, float)):
        return "double"
    if isinstance(value, str):
        return "string"
    if isinstance(value, list):
        return "array<string>"
    if isinstance(value, dict):
        return "map<string,double>"
    raise TypeError(f"no inference rule for {value!r}")


class _Keys:
    """Unique (_user, _time) keys, fresh or late."""

    def __init__(self, rng: random.Random) -> None:
        self._rng = rng
        self._used: set[tuple[str, int]] = set()

    def draw(self, late: bool) -> tuple[str, int]:
        while True:
            if late:
                day = NOW_MS - self._rng.randint(*LATE_DAYS) * DAY_MS
            else:
                day = NOW_MS - self._rng.randint(0, 1) * DAY_MS
            key = (f"user_{self._rng.randint(0, 4999)}",
                   day + self._rng.randint(0, DAY_MS - 1))
            if key not in self._used:
                self._used.add(key)
                return key


def json_backlog(seed: int, n_batches: int, per_batch: int, n_fanout: int,
                 n_drift: int) -> tuple[list[list[str]], dict]:
    """Fabric-format envelope lines, one list per micro-batch, and the
    expected outcome of ingesting all of them.

    ``n_fanout`` collections share the stress schema. ``n_drift``
    collections start from it too, and every batch adds one new numeric
    field to one of them and one null-first string field to another
    (``n_drift`` is at least 2). ``DUP_FRAC`` of the lines re-send an
    earlier envelope (half from the same batch, half from earlier ones),
    ``BAD_FRAC`` are truncated (unparseable) envelopes, and ``LATE_FRAC``
    of the originals carry an event day outside the realtime window."""
    rng = random.Random(seed * 1_000_003 + 11)
    keys = _Keys(rng)
    colls = ([f"fan_{i}" for i in range(n_fanout)]
             + [f"drift_{i}" for i in range(n_drift)])
    columns = {c: dict(SEED_COLUMNS) for c in colls}
    committed = {c: 0 for c in colls}
    book = {"envelopes": 0, "dups": 0, "dead": 0, "late": 0}
    earlier: list[str] = []
    batches = []
    serial = 0
    for b in range(n_batches):
        lines: list[str] = []
        this_batch: list[str] = []
        num_field = (f"drift_{b % n_drift}", f"d{b}_num")
        txt_field = (f"drift_{(b + 1) % n_drift}", f"d{b}_txt")
        txt_seen = 0
        for _ in range(per_batch):
            u = rng.random()
            if u < DUP_FRAC and (this_batch or earlier):
                pool = this_batch if (u < DUP_FRAC / 2 or not earlier) \
                    and this_batch else earlier
                lines.append(rng.choice(pool))
                book["dups"] += 1
                continue
            coll = colls[serial % len(colls)]
            late = rng.random() < LATE_FRAC
            user, ts = keys.draw(late)
            data = {"_project": PROJECT, "_collection": coll,
                    "_user": user, "_time": ts, **_stress_fields(rng)}
            if coll == num_field[0]:
                data[num_field[1]] = round(rng.random() * 1000, 3)
            if coll == txt_field[0]:
                # its first occurrences in the batch are null
                txt_seen += 1
                data[txt_field[1]] = (None if txt_seen <= per_batch // (
                    2 * len(colls)) else f"v{rng.randint(0, 99)}")
            line = json.dumps({"id": serial, "metadata": {}, "data": data})
            serial += 1
            if u > 1.0 - BAD_FRAC:
                lines.append(line[: len(line) // 2])
                book["dead"] += 1
                continue
            lines.append(line)
            this_batch.append(line)
            if late:
                book["late"] += 1
                continue
            committed[coll] += 1
            for name, value in data.items():
                if name in ("_project", "_collection"):
                    continue
                if value is not None and name not in columns[coll]:
                    columns[coll][name] = json_type(value)
        earlier.extend(this_batch)
        book["envelopes"] += len(lines)
        batches.append(lines)
    book["committed"] = committed
    book["columns"] = columns
    return batches, book


def avro_fields():
    """Declared catalog schema of every Avro collection (the seed
    columns are prepended by the catalog)."""
    from pyspark.sql import types as T
    return [
        *[T.StructField(f"str_{j}", T.StringType()) for j in range(5)],
        *[T.StructField(f"num_{j}", T.DoubleType()) for j in range(5)],
        *[T.StructField(f"int_{j}", T.LongType()) for j in range(3)],
        T.StructField("flag", T.BooleanType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
    ]


def avro_backlog(seed: int, n_batches: int, per_batch: int,
                 n_collections: int, fields
                 ) -> tuple[list[list[bytes]], dict]:
    """Base64-armoured framed Avro stream records (the Kafka value
    bytes), one list of lines per micro-batch, and the expected
    outcome. ``fields`` is the full catalog column list."""
    from rakam_api_collector_spark.ingest.avro import encode_stream_record

    rng = random.Random(seed * 1_000_003 + 29)
    keys = _Keys(rng)
    colls = [f"avro_{i}" for i in range(n_collections)]
    committed = {c: 0 for c in colls}
    book = {"envelopes": 0, "dups": 0, "dead": 0, "late": 0}
    batches = []
    serial = 0
    for _ in range(n_batches):
        lines = []
        for _ in range(per_batch):
            coll = colls[serial % len(colls)]
            serial += 1
            late = rng.random() < LATE_FRAC
            user, ts = keys.draw(late)
            extra = _stress_fields(rng)
            extra.pop("note")
            values = [None, ts, user, *extra.values()]
            frame = encode_stream_record(fields, values, collection=coll)
            lines.append(base64.b64encode(frame))
            if late:
                book["late"] += 1
            else:
                committed[coll] += 1
        book["envelopes"] += len(lines)
        batches.append(lines)
    book["committed"] = committed
    return batches, book


# -- query tables (the shape of the registry's TPC-H-ish fixtures) --------

_WORDS = ("scan column window order sort part agg value line key join merge "
          "group query a vector hash slow stream filter fast the batch "
          "spark table small data big customer row").split()


def query_tables(seed: int, out_dir: Path) -> dict[str, int]:
    """Write the ten registry tables as parquet under ``out_dir`` at the
    registry's smallest scale; returns row counts per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 1_000_003 + 47)
    out_dir.mkdir(parents=True, exist_ok=True)
    epoch = dt.datetime(1995, 1, 1)
    cols: dict[str, dict[str, list]] = {}

    cols["region"] = {"r_regionkey": list(range(5)),
                      "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                 "MIDDLE EAST"]}
    cols["nation"] = {"n_nationkey": list(range(25)),
                      "n_name": [f"NATION_{i}" for i in range(25)],
                      "n_regionkey": [i % 5 for i in range(25)]}
    segs = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
    cols["customer"] = {
        "c_custkey": list(range(150)),
        "c_name": [f"Customer#{i:09d}" for i in range(150)],
        "c_nationkey": [rng.randint(0, 24) for _ in range(150)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(150)],
        "c_mktsegment": [rng.choice(segs) for _ in range(150)]}
    cols["supplier"] = {
        "s_suppkey": list(range(10)),
        "s_name": [f"Supplier#{i:09d}" for i in range(10)],
        "s_nationkey": [rng.randint(0, 24) for _ in range(10)],
        "s_acctbal": [round(rng.uniform(0, 9999.99), 2) for _ in range(10)]}
    adj = ["cold", "small", "blue", "red", "big", "fast", "green", "shiny"]
    noun = ["widget", "anvil", "gear", "bolt", "valve", "spring", "lamp",
            "pipe"]
    types = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
    cols["part"] = {
        "p_partkey": list(range(200)),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}"
                   for _ in range(200)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(200)],
        "p_type": [rng.choice(types) for _ in range(200)],
        "p_size": [rng.randint(1, 50) for _ in range(200)],
        "p_retailprice": [round(900 + i * 0.1, 2) for i in range(200)]}
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    cols["orders"] = {
        "o_orderkey": list(range(1500)),
        "o_custkey": [rng.randint(0, 149) for _ in range(1500)],
        "o_orderstatus": [rng.choice("OFP") for _ in range(1500)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                         for _ in range(1500)],
        "o_orderdate": [epoch + dt.timedelta(days=rng.randint(0, 2403))
                        for _ in range(1500)],
        "o_orderpriority": [rng.choice(prios) for _ in range(1500)]}
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")}
    while len(li["l_orderkey"]) < 6000:
        order = rng.randint(0, 1499)
        for line in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(order)
            li["l_partkey"].append(rng.randint(0, 199))
            li["l_suppkey"].append(rng.randint(0, 9))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(
                round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("NRA"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(
                epoch + dt.timedelta(days=rng.randint(1, 2499)))
    cols["lineitem"] = {k: v[:6000] for k, v in li.items()}
    t0 = dt.datetime(2024, 1, 1)
    ets = sorted(t0 + dt.timedelta(microseconds=rng.randint(
        0, 30 * 86_400 * 10**6 - 1)) for _ in range(1000))
    cols["events"] = {
        "event_id": list(range(1000)),
        "ts": ets,
        "user_id": [rng.randint(0, 14) for _ in range(1000)],
        "event_type": [rng.choice(["click", "purchase", "error", "signup",
                                   "view"]) for _ in range(1000)],
        "value": [round(rng.uniform(0, 330), 2) for _ in range(1000)],
        "props": [f'{{"k": {rng.randint(0, 99)}}}' for _ in range(1000)]}
    texts: list[str] = []
    for _ in range(500):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS)
                                  for _ in range(rng.randint(10, 99))))
    langs = ["en"] * 8 + ["fr", "es", "zh", "de"] * 3
    cols["documents"] = {
        "doc_id": list(range(500)),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(500)],
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": [len(t) for t in texts]}
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(500):
        label = rng.randint(0, 9)
        v = [c + rng.gauss(0, 0.6) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    cols["embeddings"] = {"vec_id": list(range(500)), "embedding": vecs,
                          "label": labels}

    schemas = {
        "region": {"r_regionkey": pa.int32()},
        "nation": {"n_nationkey": pa.int32(), "n_regionkey": pa.int32()},
        "customer": {"c_nationkey": pa.int32()},
        "supplier": {"s_nationkey": pa.int32()},
        "part": {"p_size": pa.int32()},
        "lineitem": {"l_linenumber": pa.int32()},
        "embeddings": {"embedding": pa.list_(pa.float32()),
                       "label": pa.int32()},
    }
    counts = {}
    for name, data in cols.items():
        fields = []
        for col, values in data.items():
            typ = schemas.get(name, {}).get(col)
            if typ is None and isinstance(values[0], dt.datetime):
                typ = pa.timestamp("us")
            fields.append(pa.field(col, typ) if typ is not None else None)
        arrays = {col: (pa.array(v, type=f.type) if f is not None
                        else pa.array(v))
                  for (col, v), f in zip(data.items(), fields)}
        pq.write_table(pa.table(arrays), out_dir / f"{name}.parquet")
        counts[name] = len(next(iter(data.values())))
    return counts


def write_backlog(batches: list[list], src: Path) -> None:
    """One file per micro-batch; names sort in batch order."""
    src.mkdir(parents=True, exist_ok=True)
    for b, lines in enumerate(batches):
        if lines and isinstance(lines[0], bytes):
            payload = b"\n".join(lines) + b"\n"
        else:
            payload = ("\n".join(lines) + "\n").encode()
        (src / f"batch_{b:04d}.txt").write_bytes(payload)
