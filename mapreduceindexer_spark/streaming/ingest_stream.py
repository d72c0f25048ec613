"""STREAMING INGEST DEDUP: continuous document arrival with online
near-duplicate rejection against a persisted signature-state table —
the production composition of `operators/dedup.py::ingest_signatures/
ingest_dedup_against` (batch probe + signature-agreement verify) with
the transactional table's exactly-once microbatch commits
(`streaming/table_sink.py` discipline).

Per microbatch, inside ``foreachBatch``:

1. hash the arriving documents once (``ingest_signatures`` — minhash +
   LSH bands, ~n_hashes small rows per doc, no text retained);
2. probe the STATE table's signatures on (band, sig) and verify by
   minhash agreement — the corpus text is never re-read, but the probe
   reads the whole signature state, so its cost is O(state);
3. ALSO dedup the batch against itself (the batch's own sigs probe the
   batch — first-doc-id wins), because two near-identical documents
   can arrive in the same microbatch before either is state;
4. append the survivors' signatures to the state table, gated on
   ``batch_id`` in the manifest meta — a retried microbatch recognizes
   its own committed version and no-ops (exactly-once), so replays
   can neither double-insert nor double-reject.

The state table is the single source of truth: batch N+1 probes what
batch N admitted (pinned by the batch-twin test in
tests/test_streaming.py). Rejections are appended to a side table with
the same idempotence, so the dedup decisions are themselves an
auditable relation. Scale: this is the shape a 100 TB ingest firehose
needs — per-batch work never touches corpus text, the quadratic
term is band-bucket-bounded with the oversized-bucket star guard, and
state grows by O(admitted docs × n_hashes) small rows, compactable by
the table's own OPTIMIZE.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ingest_batch(
    state,
    rejects,
    docs: DataFrame,
    batch_id: int,
    threshold: float,
) -> None:
    from mapreduceindexer_spark.operators.dedup import (
        ingest_dedup_against,
        ingest_signatures,
    )
    from mapreduceindexer_spark.streaming.table_sink import _append_batch

    cur = state.current_version()
    if cur > 0 and state.meta_of(cur).get("batch_id", -1) >= batch_id:
        return  # replayed microbatch: its effects are already committed
    sigs = ingest_signatures(docs).localCheckpoint()
    dropped = None
    if cur > 0:
        dropped = ingest_dedup_against(
            state.read(docs.sparkSession), sigs, threshold=threshold
        )
    # Intra-batch dedup: among batch docs sharing a band signature,
    # the SMALLEST doc_id is the keeper and larger ones reject against
    # it — the same first-wins rule the state probe induces across
    # batches (a doc admitted in batch N rejects its twin in batch
    # N+1). ingest_dedup_against can't express the strict ordering (a
    # self-probe matches every doc to itself at agreement 1.0), so the
    # pair relation is built directly with a.doc_id < b.doc_id and
    # verified by the SAME shared estimator the state probe uses
    # (dedup.py::signature_agreement_pairs — one definition, no drift).
    from mapreduceindexer_spark.operators.dedup import (
        signature_agreement_pairs,
    )

    st = sigs.select("doc_id", "band", "sig").distinct().alias("a")
    pb = sigs.select("doc_id", "band", "sig").distinct().alias("b")
    cands = (
        st.join(
            pb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("keep_doc"),
            F.col("b.doc_id").alias("new_doc"),
        )
        .distinct()
    )
    pair_est = signature_agreement_pairs(
        cands, sigs, sigs, "keep_doc", "new_doc", threshold=threshold
    )
    intra_dups = pair_est.groupBy(F.col("new_doc").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.round(F.max("est"), 6).alias("best_est"),
    )
    all_dropped = (
        dropped.unionByName(intra_dups) if dropped is not None else intra_dups
    )
    all_dropped = (
        all_dropped.groupBy("doc_id")
        .agg(
            F.sum("n_matches").cast("bigint").alias("n_matches"),
            F.max("best_est").alias("best_est"),
        )
        .localCheckpoint()
    )
    survivors = sigs.join(all_dropped.select("doc_id"), "doc_id", "left_anti")
    # REJECTS land FIRST, state LAST: the replay guard above keys on
    # the state table, so state-committed implies everything before it
    # committed too. A crash between the two appends replays the batch
    # (state unchanged → same recomputation), and the rejects append
    # no-ops on its own batch_id — exactly-once on both tables with no
    # window that loses rejection rows (review finding).
    _append_batch(
        rejects,
        all_dropped.withColumn("batch_id", F.lit(batch_id)),
        batch_id,
    )
    _append_batch(state, survivors, batch_id, stats_cols=("doc_id",))


def streaming_ingest_dedup(
    spark: SparkSession, sf_dir: str, n_slices: int = 4, threshold: float = 0.5
) -> DataFrame:
    """Documents arrive in ``n_slices`` microbatches; each dedups
    online against the state admitted so far (plus itself) and appends
    survivors' signatures exactly-once. Returns the admitted relation:
    (doc_id) of every document whose signatures made it into state —
    which the batch-twin test pins against a sequential batch replay."""
    from mapreduceindexer_spark.sources.transact import TransactionalTable

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tmp_dir = tempfile.mkdtemp(prefix="mri_ingest_stream_")
    try:
        stream_dir = os.path.join(tmp_dir, "arrivals")
        os.makedirs(stream_dir)
        # Deterministic arrival slices (doc_id mod n), one file each so
        # maxFilesPerTrigger=1 yields one microbatch per slice.
        for i in range(n_slices):
            sl = docs.filter(F.col("doc_id") % n_slices == i).coalesce(1)
            part = os.path.join(tmp_dir, f"part_{i}")
            sl.write.parquet(part)
            src = [
                f for f in os.listdir(part) if f.endswith(".parquet")
            ][0]
            dst = os.path.join(stream_dir, f"slice_{i:03d}.parquet")
            shutil.move(os.path.join(part, src), dst)
            os.utime(dst, (1_000_000_000 + i * 10,) * 2)
        state = TransactionalTable(os.path.join(tmp_dir, "state"))
        rejects = TransactionalTable(os.path.join(tmp_dir, "rejects"))
        src_stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
        )
        q = (
            src_stream.writeStream.foreachBatch(
                lambda df, bid: _ingest_batch(
                    state, rejects, df, bid, threshold
                )
            )
            .queryName(f"ingest_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(600):
                raise RuntimeError("ingest stream did not finish in 600 s")
        finally:
            q.stop()
        return (
            state.read(spark)
            .select("doc_id")
            .distinct()
            .localCheckpoint()  # materialize before tmp cleanup
        )
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
