"""Loadtest: hidden-partition pruning cost vs data size (round 9).

The claim the transform layout exists for: a point lookup on a
bucket[N]-partitioned table and a range read on a day-partitioned
table cost O(matching partitions) — the scan-side work must grow with
the MATCHED slice, not the table, while the prune DECISION itself is
metadata-only (one manifest, no data reads). This script builds the
same layouts at two scales (10x apart), measures (a) the prune
decision alone, (b) the pruned read, and (c) the full-scan-and-filter
alternative, and prints one JSON line per scale.

Expected shape: decide_s flat (manifest arithmetic); pruned-read time
growing ~10x slower than the full-scan baseline for the bucket point
lookup (1/16 of the data) and staying proportional to the matched day
window for the range read.

Run: python scripts/loadtest_partition_prune.py
Results land in PLANS.md by hand (the round-7 loadtest discipline).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreduceindexer_spark.session import get_spark
from mapreduceindexer_spark.sources.transact import TransactionalTable


def run_scale(spark, n_rows: int) -> dict:
    # 90 days of events, a string payload so bytes dominate row count.
    df = (
        spark.range(n_rows)
        .withColumn("payload", F.md5(F.col("id").cast("string")))
        .withColumn(
            "d",
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                F.pmod(F.col("id"), F.lit(90)).cast("int"),
            ),
        )
    )
    root = tempfile.mkdtemp(prefix="loadtest_pp_")
    out: dict = {"n_rows": n_rows}
    try:
        day_t = TransactionalTable(os.path.join(root, "day"))
        day_t.commit_partitioned(spark, df, "d", transform="day")
        bkt_t = TransactionalTable(os.path.join(root, "bucket"))
        bkt_t.commit_partitioned(spark, df, "id", transform="bucket[16]")

        import datetime as dt

        lo, hi = dt.date(2024, 2, 1), dt.date(2024, 2, 7)
        t0 = time.monotonic()
        plan = day_t.plan({"d": (lo, hi)})
        out["range_decide_s"] = round(time.monotonic() - t0, 4)
        out["range_dirs"] = [len(plan.kept), len(plan.skipped)]
        t0 = time.monotonic()
        out["range_pruned_rows"] = day_t.scan(spark, plan).count()
        out["range_pruned_s"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        full = (
            day_t.read(spark)
            .filter((F.col("d") >= lo) & (F.col("d") <= hi))
            .count()
        )
        out["range_fullscan_s"] = round(time.monotonic() - t0, 3)
        assert full == out["range_pruned_rows"]

        probe = n_rows // 2
        t0 = time.monotonic()
        plan = bkt_t.plan({"id": [probe]})
        out["point_decide_s"] = round(time.monotonic() - t0, 4)
        out["point_dirs"] = [len(plan.kept), len(plan.skipped)]
        t0 = time.monotonic()
        out["point_rows"] = bkt_t.scan(spark, plan).count()
        out["point_pruned_s"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        full = bkt_t.read(spark).filter(F.col("id") == probe).count()
        out["point_fullscan_s"] = round(time.monotonic() - t0, 3)
        assert full == out["point_rows"] == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    spark = get_spark(app_name="loadtest_partition_prune")
    for n in (200_000, 2_000_000):
        print(json.dumps(run_scale(spark, n)))


if __name__ == "__main__":
    main()
