"""Loadtest: SHALLOW CLONE cost vs table size (round 9, third session).

The claim clone_to() exists for: forking a table into an independent
line costs ONE manifest write regardless of how much data it holds —
the 100 TB clone is a small JSON, where a copy-based fork would be
O(table). This script builds a three-commit table (+ a deletion vector,
so the re-key work is exercised) at two scales 10x apart, measures the
clone call alone, a pruned point-read through the clone's inherited
stats, and a full read-back, and prints one JSON line per scale.

Expected shape: clone_s flat (milliseconds, scale-independent) and
pruned_read_s near-flat (one dir of three) while readback_s grows with
the data — the clone itself never touches bytes.

Run: python scripts/loadtest_clone.py
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
    df = spark.range(n_rows).withColumn(
        "payload", F.md5(F.col("id").cast("string"))
    )
    t = TransactionalTable(tempfile.mkdtemp(prefix="loadtest_clone_src_"))
    dst = tempfile.mkdtemp(prefix="loadtest_clone_dst_") + "/t"
    try:
        third = n_rows // 3
        t.commit(df.filter(F.col("id") < third), stats_cols=["id"])
        t.commit(
            df.filter((F.col("id") >= third) & (F.col("id") < 2 * third)),
            mode="append",
            stats_cols=["id"],
        )
        t.commit(
            df.filter(F.col("id") >= 2 * third),
            mode="append",
            stats_cols=["id"],
        )
        dv_hi = third // 10
        t.delete_where_dv(spark, "id", lo=0, hi=dv_hi)

        t0 = time.perf_counter()
        clone = t.clone_to(dst)
        clone_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        plan = clone.plan({"id": (third, third + 100)})
        n_point = clone.scan(spark, plan).count()
        pruned_read_s = time.perf_counter() - t0
        kept, skipped = plan.kept, plan.skipped
        assert len(kept) == 1 and len(skipped) == 2, (kept, skipped)
        assert n_point == 101, n_point

        t0 = time.perf_counter()
        n = clone.read(spark).count()
        readback_s = time.perf_counter() - t0
        assert n == n_rows - (dv_hi + 1), (n, n_rows, dv_hi)
        return {
            "n_rows": n_rows,
            "clone_s": round(clone_s, 4),
            "pruned_read_s": round(pruned_read_s, 3),
            "readback_s": round(readback_s, 3),
        }
    finally:
        shutil.rmtree(t.path, ignore_errors=True)
        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)


def main() -> None:
    spark = get_spark(app_name="loadtest-clone")
    for n_rows in (200_000, 2_000_000):
        print(json.dumps(run_scale(spark, n_rows)), flush=True)


if __name__ == "__main__":
    main()
