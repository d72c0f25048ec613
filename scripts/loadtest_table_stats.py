"""Scale evidence for the round-7 table-stats tier and the HNSW
hierarchy (PLANS.md round-7 continuation).

Part A — data skipping / DML pruning at many snapshots:
  Build a transactional table of SNAPS range-disjoint snapshots (each a
  full sf0.1 documents copy with shifted doc_ids, ~5k rows/snapshot),
  all committed with doc_id stats. Measure, wall-clock:
    - full read + filter (scans every snapshot) vs a planned scan (1)
    - delete_where on a 1-snapshot range WITH stats (1 dir rewritten)
      vs the same delete on a stats-less clone (every dir rewritten)
    - merge_rows with a 1-snapshot key range (1 dir rewritten + batch)
  The claim under test: ranged read/delete/merge cost O(matching
  snapshots), not O(all snapshots).

Part B — HNSW vs flat NSW at many cells:
  sf0.1 embeddings (2,000 x 64) with n_centroids=CELLS (production-dial
  shape: many cells). Count edges and time the build for
  nsw_graph_edges (complete hub mesh: hubs^2) vs hnsw_graph_edges
  (hierarchical: linear in hubs).

Usage: python scripts/loadtest_table_stats.py [SNAPS] [CELLS]
(defaults 20, 100); JSON lines to stdout.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mapreduceindexer_spark.session import get_spark  # noqa: E402
from mapreduceindexer_spark.sources.transact import (  # noqa: E402
    TransactionalTable,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def emit(**kw) -> None:
    print(json.dumps(kw), flush=True)


def build_table(spark, docs, snaps: int, n: int, stats: bool) -> TransactionalTable:
    t = TransactionalTable(tempfile.mkdtemp(prefix="mri_lt_stats_"))
    cols = ["doc_id"] + [c for c in docs.columns if c != "doc_id"]
    for i in range(snaps):
        shifted = docs.select(
            (F.col("doc_id") + i * n).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        ).select(*cols)
        t.commit(
            shifted,
            mode="overwrite" if i == 0 else "append",
            stats_cols=["doc_id"] if stats else None,
        )
    return t


def main() -> None:
    snaps = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    cells = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = get_spark(app_name="loadtest-table-stats")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n = docs.count()

    # ---- Part A: skipping / DML pruning --------------------------------
    t = build_table(spark, docs, snaps, n, stats=True)
    mid_lo, mid_hi = (snaps // 2) * n, (snaps // 2) * n + n - 1

    t0 = time.perf_counter()
    full = t.read(spark).filter(
        (F.col("doc_id") >= mid_lo) & (F.col("doc_id") <= mid_hi)
    ).count()
    full_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    plan = t.plan({"doc_id": (mid_lo, mid_hi)})
    pruned = t.scan(spark, plan).count()
    pruned_s = time.perf_counter() - t0
    kept, skipped = plan.kept, plan.skipped
    assert full == pruned == n, (full, pruned, n)
    emit(
        test="ranged_read", snaps=snaps, rows=snaps * n,
        full_scan_s=round(full_s, 3), pruned_scan_s=round(pruned_s, 3),
        dirs_scanned=len(kept), dirs_skipped=len(skipped),
        speedup=round(full_s / max(pruned_s, 1e-9), 2),
    )

    t0 = time.perf_counter()
    v = t.delete_where(spark, "doc_id", mid_lo, mid_hi, stats_cols=["doc_id"])
    del_stats_s = time.perf_counter() - t0
    meta = t.meta_of(v)
    emit(
        test="delete_with_stats", snaps=snaps,
        wall_s=round(del_stats_s, 3),
        rewrote=meta["rewrote_dirs"], preserved=meta["preserved_dirs"],
    )
    shutil.rmtree(t.path, ignore_errors=True)

    t2 = build_table(spark, docs, snaps, n, stats=False)
    t0 = time.perf_counter()
    v = t2.delete_where(spark, "doc_id", mid_lo, mid_hi)
    del_nostats_s = time.perf_counter() - t0
    meta = t2.meta_of(v)
    emit(
        test="delete_without_stats", snaps=snaps,
        wall_s=round(del_nostats_s, 3),
        rewrote=meta["rewrote_dirs"], preserved=meta["preserved_dirs"],
        stats_speedup=round(del_nostats_s / max(del_stats_s, 1e-9), 2),
    )
    shutil.rmtree(t2.path, ignore_errors=True)

    t3 = build_table(spark, docs, snaps, n, stats=True)
    updates = docs.select(
        (F.col("doc_id") + mid_lo).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    ).filter(F.col("doc_id") <= mid_lo + n // 10)  # 10% of one snapshot
    t0 = time.perf_counter()
    v = t3.merge_rows(spark, updates, "doc_id", stats_cols=["doc_id"])
    merge_s = time.perf_counter() - t0
    meta = t3.meta_of(v)
    emit(
        test="merge_pruned", snaps=snaps, wall_s=round(merge_s, 3),
        rewrote=meta["rewrote_dirs"], preserved=meta["preserved_dirs"],
    )
    shutil.rmtree(t3.path, ignore_errors=True)

    # ---- Part B: HNSW vs flat NSW at many cells -------------------------
    from mapreduceindexer_spark.operators.similarity import (
        hnsw_graph_edges,
        nsw_graph_edges,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    n_coarse = max(4, int(cells ** 0.5))
    t0 = time.perf_counter()
    flat_edges = nsw_graph_edges(emb, k_edges=3, n_centroids=cells).count()
    flat_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    hier_edges = hnsw_graph_edges(
        emb, k_edges=3, n_centroids=cells, n_coarse=n_coarse
    ).count()
    hier_s = time.perf_counter() - t0
    emit(
        test="hnsw_vs_nsw_edges", cells=cells, n_coarse=n_coarse,
        flat_edges=flat_edges, hier_edges=hier_edges,
        flat_s=round(flat_s, 3), hier_s=round(hier_s, 3),
        edge_ratio=round(flat_edges / max(hier_edges, 1), 2),
    )


if __name__ == "__main__":
    main()
