"""Incremental inverted-index maintenance as a stream.

The reference's entire pipeline (``src/functions.cpp:48-168``) is a batch
build; this module is its Structured Streaming twin: documents arrive in
microbatches, each batch's postings DELTA is built with the normal batch
operator (``operators/index.build_postings``) and merged into the
maintained index state inside ``foreachBatch`` — the ingest-side shape of
a production index that must absorb new documents without re-scanning the
corpus.

Design:

- ``foreachBatch`` is the documented Structured Streaming escape hatch
  for stateful sinks that need arbitrary batch logic; exactly-once comes
  from making the batch body IDEMPOTENT in ``batch_id``: the state
  version for a batch is derived from ``batch_id`` itself (batch N reads
  version vN, overwrites version v(N+1)), so a microbatch retry rebuilds
  the same version from the same unchanged predecessor instead of
  double-merging the delta.
- State is a sequence of versioned BUCKETED-BY-TERM tables
  (``…_v0, _v1, …`` in the session warehouse), COMMITTED through a
  MANIFEST FILE: a batch first writes its new version table, then
  atomically renames a manifest (``os.replace`` — atomic on POSIX) that
  names the committed version and the exact table set that is live.
  The rename IS the commit point: a crash in any window (mid table
  write, between table write and manifest rename, mid manifest write)
  leaves the previous manifest intact, so the current version is never
  half-written and every unreferenced ``…_v*``/``…_d*`` table is
  recognizably an ORPHAN. Recovery = read manifest, drop orphans —
  performed automatically at stream start and after any failure. This is
  the plain-parquet realization of a table format's atomic commit
  (Delta/Iceberg at production scale — identical query, transactional
  state).
- Each delta is also written bucketed by term before merging, so the
  merge (``operators/index.merge_postings``, a full-outer join
  on term) is CO-LOCATED: zero exchanges in the merge plan — the big
  maintained index is never re-shuffled to absorb a delta. Pinned by
  tests/test_streaming.py. The per-batch delta write is the price, and
  it is linear in the delta, not the state.
- The merge identity ``merge(build(A), build(B)) == build(A ∪ B)`` for
  disjoint doc sets (pinned by q_postings_merge's oracle) is what makes
  the incremental result EXACTLY the full rebuild — asserted by the
  regression test for this module.
- The returned DataFrame is BACKED BY the final state table — never
  collected to the driver (at 100 TB the index is cluster-sized). The
  final table outlives this call; intermediate versions and deltas are
  dropped before returning (on timeout too). Callers that want to
  reclaim the state pass ``state_table=[]`` and drop the table name
  appended there (same out-param convention as ``merge_plans``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# _fsync_dir: one shared implementation of the rename-durability
# discipline (advisor finding, round 5; deduplicated with
# sources/transact.py in round 6's self-review).
from mapreduceindexer_spark.ioutil import fsync_path as _fsync_dir
from mapreduceindexer_spark.operators.index import build_postings, merge_postings


def _write_doc_slices(
    docs: DataFrame, stream_dir: str, n_slices: int, id_col: str = "doc_id"
) -> None:
    """Materialize a relation as n_slices parquet files (``id_col``-range
    sliced, mtime-ordered) so ``maxFilesPerTrigger=1`` replays them as an
    ordered multi-microbatch stream. Parameterized on the id column so
    the embedding backlog (streaming/ann_stream.py) reuses the same
    replay mechanics — including the slice fsync below, which a copied
    variant had silently dropped (round-7 review finding)."""
    os.makedirs(stream_dir, exist_ok=True)
    bounds = docs.agg(F.min(id_col), F.max(id_col)).collect()[0]
    lo, hi = bounds[0], bounds[1]
    span = (hi - lo + 1 + n_slices - 1) // n_slices
    for i in range(n_slices):
        part = docs.filter(
            (F.col(id_col) >= lo + i * span) & (F.col(id_col) < lo + (i + 1) * span)
        )
        tmp = os.path.join(stream_dir, f"_tmp{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f)
            for f in os.listdir(tmp)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(stream_dir, f"slice_{i:03d}.parquet")
        shutil.move(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (1_000_000_000 + i * 10, 1_000_000_000 + i * 10))
        # Durability before the backlog marker blesses this file: a torn
        # slice under a surviving marker would wedge every durable resume
        # (the rebuild path triggers only on marker ABSENCE).
        fd = os.open(dst, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    _fsync_dir(stream_dir)


def _write_bucketed(df: DataFrame, name: str, n_buckets: int) -> None:
    (
        df.write.bucketBy(n_buckets, "term")
        .sortBy("term")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(name)
    )


# --- manifest-atomic state commit ------------------------------------------


def _manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "manifest.json")


def read_manifest(state_dir: str) -> dict | None:
    """The committed state, or None if nothing has ever committed. Only
    the atomic-rename target is ever read — a crash mid-write leaves at
    most a ``*.tmp`` file, never a torn manifest."""
    path = _manifest_path(state_dir)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def commit_manifest(
    state_dir: str, prefix: str, version: int, tables: list[str] | None = None
) -> None:
    """Atomically advance the committed state: write the full new
    manifest to a temp file, fsync, then ``os.replace`` onto the live
    name. The replace is the commit point; everything before it is
    invisible, everything after it is the new truth. ``tables`` defaults
    to every version up to ``version`` (the during-run keep set); the
    final commit narrows it to just the final table."""
    payload = {
        "prefix": prefix,
        "version": version,
        "table": f"{prefix}_v{version}",
        "tables": tables
        if tables is not None
        else [f"{prefix}_v{v}" for v in range(1, version + 1)],
    }
    tmp = _manifest_path(state_dir) + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _manifest_path(state_dir))
    _fsync_dir(state_dir)


def recover_index_state(
    spark: SparkSession, state_dir: str, prefix: str
) -> int:
    """Crash recovery: drop every ``prefix``-named table the committed
    manifest does not reference (version tables written but never
    committed, leftover deltas) and return the committed version (0 if
    none). After this, the warehouse contains exactly the committed
    state — a batch killed between its table write and its manifest
    rename leaves the PREVIOUS version current and its table an orphan,
    which this removes."""
    manifest = read_manifest(state_dir)
    keep = set(manifest["tables"]) if manifest else set()
    for t in spark.catalog.listTables():
        if t.name.startswith(prefix) and t.name not in keep:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    return manifest["version"] if manifest else 0


def streaming_index_build(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 3,
    salt_buckets: int = 4,
    n_buckets: int = 8,
    merge_plans: list | None = None,
    state_table: list | None = None,
    state_dir: str | None = None,
    prefix: str | None = None,
    fail_after_write_batch: int | None = None,
) -> DataFrame:
    """Run the incremental index build over a sliced documents backlog and
    return the final postings relation (term, letter, doc_ids, df) — which
    equals the batch ``build_postings`` over the whole corpus.

    The result is backed by a bucketed warehouse table (see module
    docstring) — no driver materialization. ``merge_plans``, if given, is
    appended with the physical plan string of every co-located merge the
    stream performs (used by tests to pin the zero-exchange contract on
    the ACTUAL stream path, not a reconstruction). ``state_table``, if
    given, receives the final state table's name so the caller can DROP
    it when done with the result.

    ``state_dir``/``prefix`` make the state durable across calls: pass
    the same pair to RESUME after a failure — recovery drops orphaned
    tables (manifest-unreferenced), the stream's checkpoint skips
    completed batches, and the failed batch replays idempotently against
    the committed predecessor version. With neither given (the default)
    the state is ephemeral and fully cleaned up on failure.

    ``fail_after_write_batch`` is a TEST SEAM: raise inside foreachBatch
    for that batch id AFTER its version table is written but BEFORE the
    manifest commit — the exact crash window the manifest protocol
    closes. Never set outside crash-consistency tests.
    """
    from mapreduceindexer_spark.plans import explain_str
    from mapreduceindexer_spark.sources.tables import load_table

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    durable = state_dir is not None
    if prefix is None:
        prefix = f"mri_stream_index_{uuid.uuid4().hex[:8]}"
    tmp_dir = tempfile.mkdtemp(prefix="mri_stream_index_")
    if state_dir is None:
        state_dir = os.path.join(tmp_dir, "state")
    os.makedirs(state_dir, exist_ok=True)
    # Recovery-on-start: the warehouse must hold exactly the committed
    # state before any new batch runs (a previous crash may have left an
    # uncommitted version table or a delta behind).
    recover_index_state(spark, state_dir, prefix)
    stream_dir = os.path.join(state_dir, "in")
    try:
        # The backlog itself needs a commit marker: a crash MID
        # _write_doc_slices leaves some slices on disk, and a resume that
        # treated "non-empty dir" as "complete backlog" would stream a
        # partial corpus and SUCCEED with a partial index. The marker is
        # written only after every slice is in place (underscore-prefixed
        # files are invisible to Spark's file source); its absence means
        # rebuild from scratch — slice generation is deterministic, so a
        # rebuild over an already-checkpointed backlog reproduces the
        # identical files and the checkpoint skips the ones it has seen.
        slices_done = os.path.join(stream_dir, "_SLICES_DONE")
        if not os.path.exists(slices_done):
            shutil.rmtree(stream_dir, ignore_errors=True)
            _write_doc_slices(docs, stream_dir, n_slices)
            # Same fsync + atomic-rename discipline as commit_manifest:
            # the marker must never become visible before the slice data
            # it blesses is durable (slices fsync inside the writer).
            tmp_marker = slices_done + f".{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp_marker, "w", encoding="utf-8") as fh:
                fh.write("ok")
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp_marker, slices_done)
            _fsync_dir(stream_dir)
        schema = "doc_id " + dict(docs.dtypes)["doc_id"] + ", text string"
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
        )

        def upsert(batch: DataFrame, batch_id: int) -> None:
            # Version derived from batch_id: batch N reads vN, overwrites
            # v(N+1). A foreachBatch RETRY of batch N re-reads the same
            # (unchanged, committed) vN and overwrites the same v(N+1) —
            # idempotent, never a double merge or a skipped/duplicated
            # version. The manifest rename AFTER the table write is the
            # commit; a crash between the two orphans the table, and
            # recovery drops it.
            bid = int(batch_id)
            ss = batch.sparkSession
            delta = build_postings(batch, salt_buckets=salt_buckets)
            if bid == 0:
                _write_bucketed(delta, f"{prefix}_v1", n_buckets)
            else:
                d_tbl = f"{prefix}_d{bid}"
                _write_bucketed(delta, d_tbl, n_buckets)
                merged = merge_postings(
                    ss.table(f"{prefix}_v{bid}"), ss.table(d_tbl)
                )
                if merge_plans is not None:
                    merge_plans.append(explain_str(merged, "simple"))
                _write_bucketed(merged, f"{prefix}_v{bid + 1}", n_buckets)
            if fail_after_write_batch is not None and bid == fail_after_write_batch:
                raise RuntimeError(
                    f"injected crash after table write, before manifest "
                    f"commit (batch {bid})"
                )
            commit_manifest(state_dir, prefix, bid + 1)

        q = (
            src.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", os.path.join(state_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        failed = None
        try:
            finished = q.awaitTermination(300)
        except Exception as exc:  # StreamingQueryException from foreachBatch
            failed, finished = exc, False
        finally:
            q.stop()
        if not finished:
            if durable:
                # Roll back to the committed manifest: drop orphans only;
                # the committed versions stay for a resume with the same
                # (state_dir, prefix).
                recover_index_state(spark, state_dir, prefix)
            else:
                # Ephemeral state: nobody can resume — drop everything,
                # committed or not (a partial index must not outlive the
                # error).
                for t in spark.catalog.listTables():
                    if t.name.startswith(prefix):
                        spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            if failed is not None:
                raise failed
            raise TimeoutError(
                "streaming index build did not finish its backlog within "
                "300 s — refusing to return a partial index"
            )
        manifest = read_manifest(state_dir)
        n = manifest["version"] if manifest else 0
        if n == 0:  # empty backlog: typed empty postings relation
            return build_postings(docs.limit(0), salt_buckets=salt_buckets)
        # Keep only the final version: commit a manifest naming just it,
        # then drop intermediates and deltas (a crash between the two
        # leaves only orphans, which the next recovery drops).
        final = f"{prefix}_v{n}"
        commit_manifest(state_dir, prefix, n, tables=[final])
        recover_index_state(spark, state_dir, prefix)
        if state_table is not None:
            state_table.append(final)
        return spark.table(final)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)


__all__ = [
    "streaming_index_build",
    "read_manifest",
    "commit_manifest",
    "recover_index_state",
]
