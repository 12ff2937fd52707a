"""Event-time late-data split + backfill re-promotion (ST3/ST4).

The reference classifies each record's event-time *day* against
``[today - outdated.day.index, today]`` — inside → real-time path,
outside → historical topic (KafkaRealTimeWorker.java:294-328,356-367).
One heuristic softens it: an old day carrying > 1000 records AND > 25%
of the batch is a bulk backfill and stays real-time
(KafkaRealTimeWorker.java:370-384).

Pure DataFrame logic so the same function serves the batch path and
``foreachBatch``: one aggregate job brings the batch total and the
candidate backfill days to the driver, and both outputs are row filters
of ``df`` itself. No join and no union, so inside ``foreachBatch`` both
outputs keep reading the epoch's cached frame; a self-join re-instances
the frame's leaf, misses the cache and re-runs the source and the
stateful dedup under it.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROMOTE_MIN_RECORDS = 1000   # KafkaRealTimeWorker.java:371
PROMOTE_MIN_FRACTION = 0.25  # KafkaRealTimeWorker.java:372


def split_late(df: DataFrame, time_col: str = "_time",
               outdated_day_index: int = 1,
               now: dt.datetime | str | None = None,
               promote_min_records: int = PROMOTE_MIN_RECORDS,
               promote_min_fraction: float = PROMOTE_MIN_FRACTION,
               ) -> tuple[DataFrame, DataFrame]:
    """Return (realtime, historical), two disjoint filters of ``df``.
    Null event times go historical (the reference can't classify them
    either — they'd fail the day window). ``now`` pins the reference's
    wall-clock for tests."""
    day = F.to_date(F.col(time_col))
    today = F.to_date(F.lit(now)) if now is not None else F.current_date()
    fresh = (day >= F.date_sub(today, outdated_day_index)) & (day <= today)

    # One rollup job: the grand-total row (grouping id 1) plus the days
    # with more than promote_min_records rows. At most
    # 1 + total / promote_min_records rows reach the driver.
    counts = (df.rollup(day.alias("_d"))
              .agg(F.count("*").alias("_n"), F.grouping_id().alias("_g"))
              .filter((F.col("_g") == 1)
                      | (F.col("_d").isNotNull()
                         & (F.col("_n") > promote_min_records)))
              .collect())
    total = sum(r["_n"] for r in counts if r["_g"] == 1)
    promoted = [r["_d"] for r in counts
                if r["_g"] == 0 and r["_n"] > promote_min_fraction * total]

    # null day → historical
    keep = F.coalesce(fresh | day.isin(promoted), F.lit(False))
    return df.filter(keep), df.filter(~keep)
