"""Transactional table format (sources/transact.py): snapshot isolation,
time travel, optimistic concurrency, crash invisibility, vacuum. Value
parity of the registered query (q_table_versions) is covered by
test_oracle_parity; these tests pin the PROTOCOL."""

from __future__ import annotations

import json
import os
import uuid

import pytest

from mapreduceindexer_spark.sources.transact import (
    CommitConflict,
    TransactionalTable,
)


def _ids(df):
    return sorted(r[0] for r in df.select("id").collect())


def test_commit_append_time_travel(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    assert t.current_version() == 0
    t.commit(spark.range(0, 5))
    t.commit(spark.range(5, 8), mode="append")
    v3 = t.commit(spark.range(100, 102), mode="overwrite")
    assert v3 == 3 and t.versions() == [1, 2, 3]
    assert _ids(t.read(spark, 1)) == list(range(5))
    assert _ids(t.read(spark, 2)) == list(range(8))
    assert _ids(t.read(spark)) == [100, 101]
    with pytest.raises(ValueError, match="does not exist"):
        t.read(spark, 9)
    with pytest.raises(ValueError, match="does not exist"):
        t.read(spark, 0)  # empty-table read is an error, not a silent []


def test_optimistic_concurrency_loser_conflicts(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(3))
    base = t.current_version()
    t.commit(spark.range(10), expected_version=base)  # writer A wins v2
    with pytest.raises(CommitConflict):
        t.commit(spark.range(20), expected_version=base)  # writer B loses
    # The loser's snapshot dir must not leak into the table state.
    assert t.versions() == [1, 2]
    assert _ids(t.read(spark)) == list(range(10))


def test_crashed_commit_is_invisible_and_vacuumable(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(4))
    # Simulate a crash AFTER the snapshot write but BEFORE the manifest
    # link: an orphan snap dir plus a torn temp manifest.
    orphan = os.path.join(t.path, f"snap-{uuid.uuid4().hex[:12]}")
    spark.range(999).write.parquet(orphan)
    with open(
        os.path.join(t.manifest_dir, ".tmp-deadbeef.json"), "w"
    ) as fh:
        fh.write('{"version":')  # torn JSON — must never be read
    assert t.current_version() == 1
    assert _ids(t.read(spark)) == list(range(4))
    deleted = t.vacuum(keep_versions=1, grace_seconds=0)
    assert os.path.basename(orphan) in deleted
    assert _ids(t.read(spark)) == list(range(4))


def test_vacuum_keeps_time_travel_window(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(2))
    t.commit(spark.range(5), mode="overwrite")
    t.commit(spark.range(3), mode="append")
    t.vacuum(keep_versions=2, grace_seconds=0)
    assert t.versions() == [2, 3]
    assert _ids(t.read(spark, 2)) == list(range(5))
    assert _ids(t.read(spark, 3)) == sorted(list(range(5)) + list(range(3)))
    with pytest.raises(ValueError):
        t.read(spark, 1)


def test_append_extends_manifest_without_rewriting_data(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(6))
    m1 = json.load(
        open(os.path.join(t.manifest_dir, "v1.json"), encoding="utf-8")
    )
    files_before = {
        (d, f)
        for d in m1["dirs"]
        for f in os.listdir(os.path.join(t.path, d))
    }
    t.commit(spark.range(6, 9), mode="append")
    m2 = json.load(
        open(os.path.join(t.manifest_dir, "v2.json"), encoding="utf-8")
    )
    assert m2["dirs"][: len(m1["dirs"])] == m1["dirs"]
    files_after = {
        (d, f)
        for d in m1["dirs"]
        for f in os.listdir(os.path.join(t.path, d))
    }
    assert files_after == files_before  # old snapshots untouched


def test_commit_meta_rides_manifest_and_gates_replay(spark, tmp_path):
    """meta={'batch_id': N} is readable back, and the CDC idempotence
    guard skips a batch whose id is already committed."""
    from mapreduceindexer_spark.streaming.cdc_stream import _apply_batch

    t = TransactionalTable(str(tmp_path / "t"))

    def ev(uid, ts, eid, val):
        return spark.createDataFrame(
            [(uid, ts, eid, val)],
            "user_id bigint, ts string, event_id bigint, value double",
        ).selectExpr(
            "user_id", "CAST(ts AS TIMESTAMP) ts", "event_id", "value"
        )

    _apply_batch(t, ev(1, "2024-01-01 00:00:00", 1, 2.0), batch_id=7)
    assert t.current_version() == 1
    assert t.meta_of(1) == {"batch_id": 7}
    _apply_batch(t, ev(1, "2024-01-01 01:00:00", 2, 9.0), batch_id=7)
    assert t.current_version() == 1  # replayed batch: no new version
    _apply_batch(t, ev(1, "2024-01-01 01:00:00", 2, 9.0), batch_id=8)
    assert t.current_version() == 2
    assert t.meta_of(2) == {"batch_id": 8}
    rows = t.read(spark).collect()
    assert len(rows) == 1 and rows[0]["last_value"] == 9.0


def test_concurrent_committers_serialize_via_link_cas(spark, tmp_path):
    """Real thread race: N writers append concurrently with
    read-version/commit/retry loops. The hard-link CAS must serialize
    them — every writer lands exactly once, versions are a gap-free
    chain, and the final table holds all writers' rows."""
    import threading

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 1))  # v1 seed
    n_writers, errors = 6, []

    def writer(i):
        base = 1000 * (i + 1)
        for _ in range(30):  # retry budget
            try:
                cur = t.current_version()
                t.commit(
                    spark.range(base, base + 1),
                    mode="append",
                    expected_version=cur,
                )
                return
            except CommitConflict:
                continue
            except Exception as ex:  # pragma: no cover
                errors.append(ex)
                return
        errors.append(RuntimeError(f"writer {i} exhausted retries"))

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_writers)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.versions() == list(range(1, n_writers + 2))  # gap-free chain
    ids = _ids(t.read(spark))
    assert ids == sorted([0] + [1000 * (i + 1) for i in range(n_writers)])


def test_compact_collapses_dirs_preserves_content_and_history(spark, tmp_path):
    """Compaction must rewrite N snapshot dirs as one, byte-preserve the
    content, keep old versions time-travelable, record its provenance in
    the manifest meta, and leave the old dirs reclaimable by vacuum."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5))
    t.commit(spark.range(5, 8), mode="append")
    t.commit(spark.range(8, 12), mode="append")
    assert len(t._manifest(3)["dirs"]) == 3
    v4 = t.compact(spark, target_files=2)
    assert v4 == 4
    assert len(t._manifest(4)["dirs"]) == 1
    assert t.meta_of(4) == {"compacted_from": 3}
    assert _ids(t.read(spark)) == list(range(12))
    assert _ids(t.read(spark, 2)) == list(range(8))  # history intact
    # Target file count honored (coalesce): at most 2 data files.
    snap = os.path.join(t.path, t._manifest(4)["dirs"][0])
    parts = [f for f in os.listdir(snap) if f.startswith("part-")]
    assert 1 <= len(parts) <= 2
    # Vacuum (grace 0, keep 1) reclaims the three pre-compaction dirs.
    deleted = t.vacuum(keep_versions=1, grace_seconds=0)
    assert len(deleted) == 3
    assert _ids(t.read(spark)) == list(range(12))


def test_compact_empty_table_refuses(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="nothing to compact"):
        t.compact(spark)


def test_stats_ride_manifest_and_appends_inherit(spark, tmp_path):
    """stats_cols records (rows, min, max) per snapshot dir; appends
    inherit prior dirs' stats without recomputing; stats-less commits
    mix in safely (their dirs simply carry no stats)."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.commit(spark.range(5, 8), mode="append", stats_cols=["id"])
    t.commit(spark.range(100, 104), mode="append")  # no stats
    m = t._manifest(3)
    assert len(m["dirs"]) == 3
    d1, d2, d3 = m["dirs"]
    assert m["stats"][d1] == {"rows": 5, "cols": {"id": [0, 4]}}
    assert m["stats"][d2] == {"rows": 3, "cols": {"id": [5, 7]}}
    assert d3 not in m["stats"]


def test_pruned_dirs_skip_only_provably_nonmatching(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    t.commit(spark.range(10, 20), mode="append", stats_cols=["id"])
    t.commit(spark.range(20, 30), mode="append")  # stats-less: never skipped
    m = t._manifest(3)
    d1, d2, d3 = m["dirs"]
    kept, skipped = t.pruned_dirs("id", lo=12, hi=15)
    assert kept == [d2, d3] and skipped == [d1]
    # Unbounded sides.
    kept, skipped = t.pruned_dirs("id", hi=3)
    assert kept == [d1, d3] and skipped == [d2]
    kept, skipped = t.pruned_dirs("id", lo=18)
    assert kept == [d2, d3] and skipped == [d1]
    # Boundary touch keeps the dir (max == lo can match).
    kept, _ = t.pruned_dirs("id", lo=9, hi=9)
    assert d1 in kept
    # A column with no stats anywhere prunes nothing.
    kept, skipped = t.pruned_dirs("nosuch", lo=0, hi=1)
    assert kept == [d1, d2, d3] and skipped == []


def test_read_pruned_matches_full_filter_and_scans_fewer_files(
    spark, tmp_path
):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    t.commit(spark.range(10, 20), mode="append", stats_cols=["id"])
    t.commit(spark.range(20, 30), mode="append", stats_cols=["id"])
    pruned = t.read_pruned(spark, "id", lo=12, hi=15)
    assert _ids(pruned) == [12, 13, 14, 15]
    # The pruned scan touches exactly one snapshot dir's files.
    d2 = t._manifest(3)["dirs"][1]
    touched = {f.split("/snap-")[1].split("/")[0] for f in pruned.inputFiles()}
    assert touched == {d2.removeprefix("snap-")}
    # Residual filter still applies inside the kept dir (stats are dir-
    # granular; row-level selection is the filter's job).
    assert _ids(t.read_pruned(spark, "id", lo=12, hi=12)) == [12]
    # Fully out-of-range predicate: zero dirs scanned, empty result,
    # schema intact.
    empty = t.read_pruned(spark, "id", lo=500)
    assert empty.columns == ["id"] and empty.count() == 0
    assert empty.inputFiles() == []


def test_stats_empty_snapshot_is_skippable_and_compact_restates(
    spark, tmp_path
):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.commit(spark.range(0, 0), mode="append", stats_cols=["id"])
    m = t._manifest(2)
    d_empty = m["dirs"][1]
    assert m["stats"][d_empty] == {"rows": 0, "cols": {"id": [None, None]}}
    # Range predicates never match an empty/all-null snapshot.
    kept, skipped = t.pruned_dirs("id", lo=0, hi=100)
    assert skipped == [d_empty]
    assert _ids(t.read_pruned(spark, "id", lo=0, hi=2)) == [0, 1, 2]
    # Compaction can (re)state stats for the rewritten snapshot.
    v = t.compact(spark, target_files=1, stats_cols=["id"])
    mm = t._manifest(v)
    (d_new,) = mm["dirs"]
    assert mm["stats"][d_new] == {"rows": 5, "cols": {"id": [0, 4]}}


def test_delete_where_rewrites_only_matching_dirs(spark, tmp_path):
    """Copy-on-write delete: dirs whose stats preclude a match are
    carried into the new manifest untouched (same dir name, same
    stats); only may-match dirs are rewritten; meta records both."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    t.commit(spark.range(10, 20), mode="append", stats_cols=["id"])
    t.commit(spark.range(20, 30), mode="append", stats_cols=["id"])
    d1, d2, d3 = t._manifest(3)["dirs"]
    v = t.delete_where(spark, "id", lo=12, hi=15, stats_cols=["id"])
    assert v == 4
    m = t._manifest(4)
    # d1 and d3 preserved verbatim; d2 replaced by one rewritten snap.
    assert m["dirs"][:2] == [d1, d3] and len(m["dirs"]) == 3
    new_dir = m["dirs"][2]
    assert new_dir not in (d1, d2, d3)
    assert m["meta"] == {
        "deleted_from": 3, "rewrote_dirs": 1, "preserved_dirs": 2,
    }
    assert m["stats"][d1] == {"rows": 10, "cols": {"id": [0, 9]}}
    assert m["stats"][new_dir] == {"rows": 6, "cols": {"id": [10, 19]}}
    assert _ids(t.read(spark)) == [i for i in range(30) if not 12 <= i <= 15]
    assert _ids(t.read(spark, 3)) == list(range(30))  # time travel intact


def test_delete_where_preserves_nulls_and_refuses_unbounded(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 6).withColumn(
        "id", F.when(F.col("id") < 2, None).otherwise(F.col("id"))
    )
    t.commit(df, stats_cols=["id"])
    t.delete_where(spark, "id", lo=2, hi=3)
    rows = sorted(
        (r[0] is None, r[0]) for r in t.read(spark).collect()
    )
    # NULL rows never match a range predicate -> survive the delete.
    assert [r[1] for r in rows] == [4, 5, None, None]
    with pytest.raises(ValueError, match="at least one bound"):
        t.delete_where(spark, "id")
    empty = TransactionalTable(str(tmp_path / "e"))
    with pytest.raises(ValueError, match="nothing to delete"):
        empty.delete_where(spark, "id", lo=0)


def test_delete_where_noop_when_stats_preclude_all(spark, tmp_path):
    """A delete whose range no dir can contain publishes a new version
    with the SAME dirs and zero rewrites — pure metadata."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.commit(spark.range(5, 10), mode="append", stats_cols=["id"])
    dirs_before = t._manifest(2)["dirs"]
    v = t.delete_where(spark, "id", lo=100, hi=200)
    m = t._manifest(v)
    assert m["dirs"] == dirs_before
    assert m["meta"]["rewrote_dirs"] == 0
    assert m["meta"]["preserved_dirs"] == 2
    assert _ids(t.read(spark)) == list(range(10))


def test_merge_rows_latest_wins_and_rewrites_only_matching_dirs(
    spark, tmp_path
):
    """Copy-on-write merge: updates replace same-key rows, inserts land,
    and dirs whose key range cannot intersect the update batch are
    carried untouched."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = lambda a, b: spark.range(a, b).withColumn(  # noqa: E731
        "val", F.col("id") * 10
    )
    t.commit(base(0, 10), stats_cols=["id"])
    t.commit(base(10, 20), mode="append", stats_cols=["id"])
    t.commit(base(20, 30), mode="append", stats_cols=["id"])
    d1, d2, d3 = t._manifest(3)["dirs"]
    # Updates touch keys 12-14 (dir 2) and insert new keys 15.5-shaped
    # none — plus a brand-new key 17 stays in dir-2's range.
    updates = spark.createDataFrame(
        [(12, -1), (14, -2), (31, -3)], "id bigint, val bigint"
    )
    v = t.merge_rows(spark, updates, "id", stats_cols=["id"])
    assert v == 4
    m = t._manifest(4)
    # Key range [12, 31] intersects d2 and d3, not d1.
    assert m["dirs"][0] == d1 and len(m["dirs"]) == 2
    assert m["meta"] == {
        "merged_from": 3, "rewrote_dirs": 2, "preserved_dirs": 1,
    }
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert len(got) == 31  # 30 base keys + 1 insert
    assert got[12] == -1 and got[14] == -2 and got[31] == -3
    assert got[13] == 130 and got[0] == 0 and got[29] == 290
    assert _ids(t.read(spark, 3)) == list(range(30))  # history intact


def test_merge_rows_empty_batch_and_empty_table(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    # Merge into an empty table == initial commit.
    v = t.merge_rows(spark, spark.range(0, 5), "id", stats_cols=["id"])
    assert v == 1 and _ids(t.read(spark)) == list(range(5))
    # Empty update batch: new pure-metadata version, same dirs.
    dirs_before = t._manifest(1)["dirs"]
    v = t.merge_rows(spark, spark.range(0, 0), "id")
    assert v == 2
    m = t._manifest(2)
    assert m["dirs"] == dirs_before and m["meta"]["rewrote_dirs"] == 0
    assert _ids(t.read(spark)) == list(range(5))


def test_merge_rows_rejects_null_and_duplicate_keys(spark, tmp_path):
    """Review findings: an all-NULL-key batch must not silently vanish
    and duplicate update keys must not break the one-row-per-key
    contract — both raise (SQL MERGE's multiple-source-match
    discipline)."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    nulls = spark.range(0, 3).withColumn("id", F.lit(None).cast("bigint"))
    with pytest.raises(ValueError, match="NULL 'id'"):
        t.merge_rows(spark, nulls, "id")
    dups = spark.createDataFrame([(1,), (1,)], "id bigint")
    with pytest.raises(ValueError, match="duplicate 'id'"):
        t.merge_rows(spark, dups, "id")
    # Same discipline on the empty-table path (merge == initial commit).
    empty = TransactionalTable(str(tmp_path / "e"))
    with pytest.raises(ValueError, match="duplicate 'id'"):
        empty.merge_rows(spark, dups, "id")
    assert _ids(t.read(spark)) == list(range(5))  # nothing was published


def test_merge_mor_matches_cow_and_never_rewrites_base(spark, tmp_path):
    """Merge-on-read MERGE: same final table as the copy-on-write
    merge_rows on the same fixture, but the base dirs are carried
    VERBATIM — matched rows die via a deletion vector and the update
    batch appends as one new snapshot dir (write cost O(Δ))."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = lambda a, b: spark.range(a, b).withColumn(  # noqa: E731
        "val", F.col("id") * 10
    )
    t.commit(base(0, 10), stats_cols=["id"])
    t.commit(base(10, 20), mode="append", stats_cols=["id"])
    t.commit(base(20, 30), mode="append", stats_cols=["id"])
    d1, d2, d3 = t._manifest(3)["dirs"]
    updates = spark.createDataFrame(
        [(12, -1), (14, -2), (31, -3)], "id bigint, val bigint"
    )
    v = t.merge_rows_mor(spark, updates, "id", stats_cols=["id"])
    assert v == 4
    m = t._manifest(4)
    # All three base dirs survive untouched + one new snapshot dir.
    assert m["dirs"][:3] == [d1, d2, d3] and len(m["dirs"]) == 4
    assert m["meta"]["merged_from"] == 3
    assert m["meta"]["dv_rows"] == 2  # keys 12, 14 matched; 31 inserted
    assert m["meta"]["dv_target_dirs"] == 2  # [12, 31] ∩ {d2, d3}
    assert m["meta"]["preserved_dirs"] == 1
    # The vector is registered against exactly the may-match dirs.
    dv = m["dv"]
    assert set(dv) == {d2, d3} and dv[d2] == dv[d3]
    # Same answer as the CoW merge asserts on this fixture.
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert len(got) == 31
    assert got[12] == -1 and got[14] == -2 and got[31] == -3
    assert got[13] == 130 and got[0] == 0 and got[29] == 290
    assert _ids(t.read(spark, 3)) == list(range(30))  # history intact
    # Base-dir stats carried verbatim: pruning still works post-merge.
    may, preserved = t.pruned_dirs("id", lo=0, hi=5)
    assert d1 in may and d2 in preserved and d3 in preserved


def test_merge_mor_stacks_and_compact_materializes(spark, tmp_path):
    """Stacked MOR merges exclude positions a PRIOR vector already
    killed (dv_rows is the exact newly-dead count), compose with DV
    deletes, and compact() re-materializes dropping every vector."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(0, 20).withColumn("val", F.col("id")),
        stats_cols=["id"],
    )
    # First merge kills positions of keys 3..5 in the base dir.
    u1 = spark.createDataFrame(
        [(3, -3), (4, -4), (5, -5)], "id bigint, val bigint"
    )
    t.merge_rows_mor(spark, u1, "id")
    # Second merge re-touches key 4 (now live only in u1's snapshot)
    # and key 6 (live in base): base position of 4 is ALREADY dead, so
    # only u1's row of 4 and base's row of 6 are newly dead.
    u2 = spark.createDataFrame([(4, -44), (6, -66)], "id bigint, val bigint")
    v = t.merge_rows_mor(spark, u2, "id")
    assert t._manifest(v)["meta"]["dv_rows"] == 2
    # A DV delete composes on top.
    t.delete_where_dv(spark, "id", lo=0, hi=1)
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert len(got) == 18  # 20 - deleted {0, 1}
    assert got[3] == -3 and got[4] == -44 and got[5] == -5
    assert got[6] == -66 and got[19] == 19
    # Compaction materializes the merged state and drops the vectors.
    vc = t.compact(spark, stats_cols=["id"])
    mc = t._manifest(vc)
    assert "dv" not in mc and len(mc["dirs"]) == 1
    assert {r["id"]: r["val"] for r in t.read(spark).collect()} == got


def test_merge_mor_guards_and_degenerate_batches(spark, tmp_path):
    """NULL/duplicate keys and missing table columns raise; an empty
    batch publishes a pure-metadata version; a pure-insert batch whose
    range overlaps base dirs writes NO vector; merging into an empty
    table is the initial commit."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(0, 10).withColumn("val", F.col("id")),
        stats_cols=["id"],
    )
    nulls = (
        spark.range(0, 3)
        .withColumn("id", F.lit(None).cast("bigint"))
        .withColumn("val", F.lit(0).cast("bigint"))
    )
    with pytest.raises(ValueError, match="NULL 'id'"):
        t.merge_rows_mor(spark, nulls, "id")
    dups = spark.createDataFrame([(1, 0), (1, 1)], "id bigint, val bigint")
    with pytest.raises(ValueError, match="duplicate 'id'"):
        t.merge_rows_mor(spark, dups, "id")
    thin = spark.createDataFrame([(1,)], "id bigint")
    with pytest.raises(ValueError, match="missing table column"):
        t.merge_rows_mor(spark, thin, "id")
    # Empty batch: metadata-only version, no vector, same dirs.
    dirs_before = t._manifest(1)["dirs"]
    v = t.merge_rows_mor(spark, t.read(spark).limit(0), "id")
    m = t._manifest(v)
    assert m["dirs"] == dirs_before and m["meta"]["dv_rows"] == 0
    assert "dv" not in m
    # Pure insert with an in-range key: sparse keys put 100 inside the
    # new dir's recorded [99, 101] range, so stats can't prune — but
    # the semi-join matches nothing, so no vector is written or
    # registered.
    t.commit(
        spark.createDataFrame([(99, 0), (101, 0)], "id bigint, val bigint"),
        mode="append",
        stats_cols=["id"],
    )
    ins = spark.createDataFrame([(100, -1)], "id bigint, val bigint")
    v = t.merge_rows_mor(spark, ins, "id")
    m = t._manifest(v)
    assert m["meta"]["dv_rows"] == 0 and m["meta"]["dv_target_dirs"] == 1
    assert "dv" not in m
    assert not [d for d in m["dirs"] if d.startswith("dv-")]
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got[100] == -1 and len(got) == 13
    # Empty table: merge == initial commit.
    e = TransactionalTable(str(tmp_path / "e"))
    v = e.merge_rows_mor(spark, spark.range(0, 5), "id", stats_cols=["id"])
    assert v == 1 and _ids(e.read(spark)) == list(range(5))


def test_pruned_dirs_requires_bound_and_real_version(spark, tmp_path):
    """Review findings: unbounded pruning would wrongly drop all-NULL
    snapshots (no residual filter exists to reclaim them), and an
    empty table must fail like read() does, not with FileNotFoundError."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 3), stats_cols=["id"])
    with pytest.raises(ValueError, match="at least one bound"):
        t.pruned_dirs("id")
    with pytest.raises(ValueError, match="at least one bound"):
        t.read_pruned(spark, "id")
    empty = TransactionalTable(str(tmp_path / "e"))
    with pytest.raises(ValueError, match="does not exist"):
        empty.pruned_dirs("id", lo=0)


def test_bloom_stats_prune_point_lookups_on_unclustered_keys(
    spark, tmp_path, monkeypatch
):
    """Keys scattered by id % 3 make every snapshot's [min, max] span
    the domain — range stats prune nothing — but the Bloom bitmap
    pins a point lookup to the one snapshot holding the value."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(0, 60)
    for i in range(3):
        t.commit(
            base.filter(F.col("id") % 3 == i),
            mode="overwrite" if i == 0 else "append",
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    m = t._manifest(3)
    d = m["dirs"]
    for dd in d:
        bl = m["stats"][dd]["bloom"]["id"]
        assert bl["k"] == 5 and bl["bits"] == 8192
        assert int(bl["hex"], 16) > 0
    # id=7 lives in slice 7 % 3 == 1; ranges all overlap 7, bloom prunes.
    kept, skipped = t.pruned_dirs_eq("id", 7)
    assert kept == [d[1]] and sorted(skipped) == sorted([d[0], d[2]])
    import pyarrow.dataset as pads

    opened = []
    real_dataset = pads.dataset

    def dataset_spy(source, *args, **kwargs):
        opened.extend(source)
        return real_dataset(source, *args, **kwargs)

    monkeypatch.setattr(pads, "dataset", dataset_spy)
    got = t.read_eq(spark, "id", 7)
    assert [r["id"] for r in got.collect()] == [7]
    # Served on the driver: the plan scans no file, and every file Arrow
    # opened lies in the one kept dir.
    assert got.inputFiles() == []
    touched = {f.split("/snap-")[1].split("/")[0] for f in opened}
    assert touched == {d[1].removeprefix("snap-")}
    # A value nowhere in the table: all three dirs bloom-skipped.
    kept, skipped = t.pruned_dirs_eq("id", 999)
    assert kept == [] and len(skipped) == 3
    assert t.read_eq(spark, "id", 999).count() == 0
    # Range stats still participate: value outside every range.
    kept, _ = t.pruned_dirs_eq("id", -5)
    assert kept == []
    with pytest.raises(ValueError, match="never matches NULL"):
        t.pruned_dirs_eq("id", None)


def test_bloom_absent_never_skips_and_appends_inherit(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), bloom_cols=["id"])  # bloom only, no ranges
    t.commit(spark.range(100, 105), mode="append")  # no metadata at all
    m = t._manifest(2)
    d1, d2 = m["dirs"]
    assert "bloom" in m["stats"][d1] and "cols" not in m["stats"][d1]
    assert d2 not in m["stats"]
    # d1 bloom-skipped for 101, d2 unprunable -> kept.
    kept, skipped = t.pruned_dirs_eq("id", 101)
    assert kept == [d2] and skipped == [d1]
    assert [r["id"] for r in t.read_eq(spark, "id", 101).collect()] == [101]


def test_read_changes_returns_only_the_delta(spark, tmp_path):
    """Incremental-consumer feed: (from, to] over an append chain reads
    exactly the new snapshots; rewriting commits in the range raise."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5))
    t.commit(spark.range(5, 8), mode="append")
    t.commit(spark.range(8, 12), mode="append")
    assert _ids(t.read_changes(spark, 1)) == list(range(5, 12))
    assert _ids(t.read_changes(spark, 2, 3)) == list(range(8, 12))
    assert _ids(t.read_changes(spark, 0, 2)) == list(range(8))  # from empty
    empty = t.read_changes(spark, 3, 3)
    assert empty.count() == 0 and empty.columns == ["id"]
    with pytest.raises(ValueError, match="does not exist"):
        t.read_changes(spark, 9)
    with pytest.raises(ValueError, match="from_version 3 > to_version 2"):
        t.read_changes(spark, 3, 2)
    # A rewrite (compaction/overwrite/delete/merge) breaks the feed.
    t.compact(spark, target_files=1)
    with pytest.raises(ValueError, match="mode='overwrite'"):
        t.read_changes(spark, 2)
    # ...but a delta strictly before the rewrite still works.
    assert _ids(t.read_changes(spark, 1, 3)) == list(range(5, 12))


def test_point_lookup_rejects_unsound_key_types(spark, tmp_path):
    """Review finding: str(value) diverges from Spark's string cast for
    bool/timestamp/float keys, which would make bloom skipping silently
    drop matching rows — so non-int/str probes raise."""
    import datetime

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 3), bloom_cols=["id"])
    for bad in (True, 1.5, datetime.datetime(2020, 1, 1)):
        with pytest.raises(TypeError, match="int or str"):
            t.pruned_dirs_eq("id", bad)
    kept, _ = t.pruned_dirs_eq("id", 1)  # int stays fine
    assert kept


def test_point_lookup_type_mismatch_never_bloom_skips(spark, tmp_path):
    """Advisor finding: the probe-side int/str guard is not enough —
    an int probe against a DOUBLE column hashes '7' while the snapshot
    bloom hashed Spark's cast '7.0', so every dir holding the value
    would be bloom-skipped and read_eq would silently return nothing.
    The manifest now records the column's Spark type; on a mismatch
    the bloom falls back to 'always keep' and the range stats (which
    can't order against the probe) are treated as undecidable."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 5).select(
        F.col("id").cast("double").alias("x")
    )
    t.commit(df, stats_cols=["x"], bloom_cols=["x"])
    m = t._manifest(1)
    (d1,) = m["dirs"]
    assert m["stats"][d1]["bloom"]["x"]["type"] == "double"
    # int probe on double column: bloom unusable, dir must be KEPT.
    kept, skipped = t.pruned_dirs_eq("x", 3)
    assert kept == [d1] and skipped == []
    got = {r["x"] for r in t.read_eq(spark, "x", 3).collect()}
    assert got == {3.0}
    # str probe on double column likewise falls back to keep ('3' vs
    # Spark's '3.0' would never match the bitmap).
    kept, skipped = t.pruned_dirs_eq("x", "3")
    assert kept == [d1] and skipped == []
    # Matched types still prune: a bigint column, absent value skipped.
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(spark.range(0, 5), bloom_cols=["id"])
    m2 = t2._manifest(1)
    assert m2["stats"][m2["dirs"][0]]["bloom"]["id"]["type"] == "bigint"
    kept, skipped = t2.pruned_dirs_eq("id", 999)
    assert kept == [] and len(skipped) == 1


def test_pruned_dirs_eq_many_unions_per_probe_keeps(spark, tmp_path):
    """Batched IN-list point lookup: a dir is kept iff ANY probe may
    hit it, the union equals the per-probe pruned_dirs_eq results, and
    the empty probe set keeps nothing (IN () matches no row)."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    for i in range(3):
        t.commit(
            spark.range(i * 10, (i + 1) * 10),
            mode="overwrite" if i == 0 else "append",
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    d = t._manifest(3)["dirs"]
    kept, skipped = t.pruned_dirs_eq_many("id", [3, 25, 25])
    assert kept == [d[0], d[2]] and skipped == [d[1]]
    # Union contract vs the per-probe API.
    per = set()
    for v in (3, 25):
        per.update(t.pruned_dirs_eq("id", v)[0])
    assert set(kept) == per
    kept, skipped = t.pruned_dirs_eq_many("id", [])
    assert kept == [] and len(skipped) == 3
    with pytest.raises(TypeError, match="int or str"):
        t.pruned_dirs_eq_many("id", [3, 1.5])


def test_read_changes_empty_table_has_clear_bootstrap_error(
    spark, tmp_path
):
    t = TransactionalTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no commits yet"):
        t.read_changes(spark, 0)


def test_rewrites_can_restate_bloom(spark, tmp_path):
    """Review finding: compaction/delete/merge on a bloom-maintained
    table must be able to re-record the bitmap, or point-lookup pruning
    silently degrades after the very maintenance append-heavy tables
    run."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    for i in range(3):
        t.commit(
            spark.range(0, 60).filter(F.col("id") % 3 == i),
            mode="overwrite" if i == 0 else "append",
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    v = t.compact(spark, target_files=1, stats_cols=["id"], bloom_cols=["id"])
    (d,) = t._manifest(v)["dirs"]
    assert "bloom" in t._manifest(v)["stats"][d]
    kept, skipped = t.pruned_dirs_eq("id", 999)  # not in table
    assert kept == [] and skipped == [d]
    v = t.delete_where(
        spark, "id", lo=0, hi=9, stats_cols=["id"], bloom_cols=["id"]
    )
    new_dir = t._manifest(v)["dirs"][-1]
    assert "bloom" in t._manifest(v)["stats"][new_dir]
    updates = spark.createDataFrame([(10, )], "id bigint")
    v = t.merge_rows(
        spark, updates, "id", stats_cols=["id"], bloom_cols=["id"]
    )
    new_dir = t._manifest(v)["dirs"][-1]
    assert "bloom" in t._manifest(v)["stats"][new_dir]
    kept, _ = t.pruned_dirs_eq("id", 10)
    assert [r["id"] for r in t.read_eq(spark, "id", 10).collect()] == [10]


def test_incremental_consumer_equals_batch_over_change_feed(
    spark, tmp_path
):
    """The change feed's purpose, pinned end-to-end: a consumer that
    folds each delta into a running aggregate must land on exactly the
    full-table aggregate — incremental processing is a cost choice,
    never a semantics choice."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 100))
    t.commit(spark.range(100, 250), mode="append")
    t.commit(spark.range(250, 300), mode="append")
    last, total_sum, total_n = 0, 0, 0
    while last < t.current_version():
        cur = t.current_version()
        delta = t.read_changes(spark, last, cur).agg(
            F.sum("id").alias("s"), F.count("*").alias("n")
        ).collect()[0]
        total_sum += delta["s"] or 0
        total_n += delta["n"]
        last = cur
    full = t.read(spark).agg(
        F.sum("id").alias("s"), F.count("*").alias("n")
    ).collect()[0]
    assert (total_sum, total_n) == (full["s"], full["n"]) == (44850, 300)


def test_compact_clustered_restores_skipping_and_preserves_content(
    spark, tmp_path
):
    """Range-clustered compaction: an unclustered (mod-3) table where
    dir stats prune nothing becomes one snapshot of range-disjoint
    bucket sub-dirs whose stats prune ranged reads again; content,
    history and vacuum safety are all preserved."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(0, 90)
    for i in range(3):
        t.commit(
            base.filter(F.col("id") % 3 == i),
            mode="overwrite" if i == 0 else "append",
            stats_cols=["id"],
        )
    # Unclustered: every dir spans ~[0, 89] -> a mid-range predicate
    # scans all three dirs.
    kept, _ = t.pruned_dirs("id", lo=40, hi=45)
    assert len(kept) == 3
    v = t.compact_clustered(
        spark, "id", n_buckets=3, stats_cols=["id"], bloom_cols=["id"]
    )
    m = t._manifest(v)
    assert len(m["dirs"]) == 3
    assert all("/_bucket=" in d for d in m["dirs"])
    assert m["meta"]["cluster_col"] == "id"
    # Content preserved, history intact.
    assert _ids(t.read(spark)) == list(range(90))
    assert _ids(t.read(spark, 3)) == list(range(90))
    # Equal-width buckets: [0,29], [30,59], [60,89] — ranged read now
    # scans exactly one.
    kept, skipped = t.pruned_dirs("id", lo=40, hi=45)
    assert len(kept) == 1 and len(skipped) == 2
    assert _ids(t.read_pruned(spark, "id", lo=40, hi=45)) == list(range(40, 46))
    # Bloom restated per bucket: a point lookup scans one sub-dir.
    kept, _ = t.pruned_dirs_eq("id", 7)
    assert len(kept) == 1
    assert [r["id"] for r in t.read_eq(spark, "id", 7).collect()] == [7]
    # Vacuum must NOT delete the live clustered snapshot (it is
    # referenced via sub-dir names) but reclaims the three old dirs.
    deleted = t.vacuum(keep_versions=1, grace_seconds=0)
    assert len(deleted) == 3
    assert _ids(t.read(spark)) == list(range(90))
    # Deletes/merges are now surgical on the clustered layout.
    v = t.delete_where(spark, "id", lo=0, hi=29, stats_cols=["id"])
    meta = t.meta_of(v)
    assert meta["rewrote_dirs"] == 1 and meta["preserved_dirs"] == 2
    assert _ids(t.read(spark)) == list(range(30, 90))


def test_compact_clustered_nulls_and_degenerate_domains(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 10).withColumn(
        "id", F.when(F.col("id") < 2, None).otherwise(F.col("id"))
    )
    t.commit(df, stats_cols=["id"])
    v = t.compact_clustered(spark, "id", n_buckets=2, stats_cols=["id"])
    assert v == 2
    # NULL keys park in bucket 0 and survive.
    rows = [r["id"] for r in t.read(spark).collect()]
    assert sorted(x for x in rows if x is not None) == list(range(2, 10))
    assert sum(1 for x in rows if x is None) == 2
    # Single-value domain: everything lands in one bucket, no crash.
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(spark.range(5, 6), stats_cols=["id"])
    v2 = t2.compact_clustered(spark, "id", n_buckets=4)
    assert len(t2._manifest(v2)["dirs"]) == 1
    # All-NULL column refuses loudly.
    t3 = TransactionalTable(str(tmp_path / "t3"))
    t3.commit(spark.range(0, 3).withColumn("id", F.lit(None).cast("bigint")))
    with pytest.raises(ValueError, match="no non-NULL"):
        t3.compact_clustered(spark, "id")


def test_compact_clustered_guards(spark, tmp_path):
    """Review findings: non-integer keys, reserved column name, and
    degenerate n_buckets raise instead of silently degrading."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(0, 4).withColumn(
            "k", F.when(F.col("id") < 2, F.lit("abc")).otherwise(F.col("id").cast("string"))
        )
    )
    with pytest.raises(ValueError, match="not\\s+BIGINT-castable"):
        t.compact_clustered(spark, "k")
    with pytest.raises(ValueError, match="n_buckets must be >= 1"):
        t.compact_clustered(spark, "id", n_buckets=0)
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(spark.range(0, 3).withColumn("_bucket", F.lit(1)))
    with pytest.raises(ValueError, match="_bucket"):
        t2.compact_clustered(spark, "id")
    # Advisor finding: a key span wide enough that (span-1) * n_buckets
    # wraps BIGINT would silently break range-disjointness under
    # non-ANSI SQL — refuse loudly.
    t3 = TransactionalTable(str(tmp_path / "t3"))
    t3.commit(
        spark.createDataFrame(
            [(-(2**62),), (2**62,)], "k: bigint"
        )
    )
    with pytest.raises(ValueError, match="overflows BIGINT"):
        t3.compact_clustered(spark, "k", n_buckets=8)


def test_vacuum_reclaims_dead_bucket_subdirs(spark, tmp_path):
    """Review finding: after a surgical delete on a clustered layout,
    the rewritten bucket's old sub-dir is referenced by no kept
    manifest — vacuum must reclaim it sub-dir-granularly while the
    sibling buckets stay live."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 90), stats_cols=["id"])
    v = t.compact_clustered(spark, "id", n_buckets=3, stats_cols=["id"])
    top = t._manifest(v)["dirs"][0].split("/", 1)[0]
    t.delete_where(spark, "id", lo=0, hi=29, stats_cols=["id"])
    deleted = t.vacuum(keep_versions=1, grace_seconds=0)
    # The old full dir (v1) goes, and so does the dead bucket-0 subdir.
    assert f"{top}/_bucket=0" in deleted
    assert top not in deleted  # live siblings keep the top-level dir
    assert sorted(
        d for d in __import__("os").listdir(str(tmp_path / "t"))
        if d.startswith("snap-")
    )  # table still has snapshots
    assert _ids(t.read(spark)) == list(range(30, 90))


def test_commit_partitioned_roundtrip_stats_and_null_partition(
    spark, tmp_path
):
    """Partitioned commit: one sub-dir per key value (NULLs in the Hive
    default partition), the data files keep the original column, each
    sub-dir carries its own stats, and point-lookup pruning touches
    only the matching sub-dir."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 30).withColumn(
        "cell",
        F.when(F.col("id") < 27, F.col("id") % 3).cast("bigint"),
    )
    v = t.commit_partitioned(
        spark, df, "cell", stats_cols=["id"], bloom_cols=["id"]
    )
    m = t._manifest(v)
    assert m["meta"]["partitioned_by"] == "cell"
    assert len(m["dirs"]) == 4  # cells 0,1,2 + NULL partition
    assert any(d.endswith("__HIVE_DEFAULT_PARTITION__") for d in m["dirs"])
    got = t.read(spark, v)
    assert set(got.columns) == {"id", "cell"}
    assert _ids(got) == list(range(30))
    # id=1 lives only in cell 1's sub-dir; bloom+range keep exactly it.
    kept, skipped = t.pruned_dirs_eq("id", 1, v)
    assert len(kept) == 1 and len(skipped) == 3


def test_replace_partitions_is_o_delta_and_guarded(spark, tmp_path):
    """Partition-level replace: untouched sub-dirs' files are literally
    the same paths (zero read/write), the replaced partition's content
    changes, a declared-but-empty partition is dropped, rows outside
    the declared set raise, and vacuum reclaims the replaced sub-dir."""
    import os

    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 30).withColumn("cell", (F.col("id") % 3).cast("bigint"))
    v1 = t.commit_partitioned(spark, df, "cell", stats_cols=["id"])
    m1 = t._manifest(v1)
    untouched_before = sorted(d for d in m1["dirs"] if not d.endswith("=1"))
    # Replace cell 1 with a halved payload; declare cell 9 too (empty ->
    # dropped is a no-op here since cell 9 never existed).
    upd = df.filter((F.col("cell") == 1) & (F.col("id") < 10))
    v2 = t.replace_partitions(spark, upd, [1], stats_cols=["id"])
    m2 = t._manifest(v2)
    untouched_after = sorted(d for d in m2["dirs"] if not d.endswith("=1"))
    assert untouched_after == untouched_before  # carried, not rewritten
    want = sorted(
        [i for i in range(30) if i % 3 != 1] + [i for i in range(10) if i % 3 == 1]
    )
    assert _ids(t.read(spark, v2)) == want
    # Carried sub-dirs keep their inherited stats.
    assert all(d in m2.get("stats", {}) for d in untouched_before)
    # Partition delete: replace cell 0 with no rows.
    v3 = t.replace_partitions(spark, upd.limit(0), [0], stats_cols=["id"])
    assert _ids(t.read(spark, v3)) == sorted(
        i for i in want if i % 3 != 0
    )
    # Rows outside the declared set raise.
    with pytest.raises(ValueError, match="outside the declared"):
        t.replace_partitions(spark, df.filter(F.col("cell") == 2), [1])
    # A non-partitioned current version refuses.
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(df)
    with pytest.raises(ValueError, match="commit_partitioned"):
        t2.replace_partitions(spark, upd, [1])
    # Vacuum reclaims the replaced/deleted sub-dirs, keeps the live set.
    deleted = t.vacuum(keep_versions=1, grace_seconds=0)
    assert any(d.endswith("=1") for d in deleted)
    assert _ids(t.read(spark)) == sorted(i for i in want if i % 3 != 0)
    # The reserved partition-key column name is refused.
    with pytest.raises(ValueError, match="_part"):
        t.commit_partitioned(
            spark, df.withColumn("_part", F.lit(1)), "cell"
        )


def test_schema_evolution_add_only(spark, tmp_path):
    """ADD-ONLY schema evolution: each manifest records its version's
    schema and every read applies it — an appended column reads as
    NULL from historic dirs, time travel shows each version's OWN
    schema, an append missing a column keeps it (new rows NULL), and a
    type change raises BEFORE any snapshot dir is written."""
    import os

    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.commit(
        spark.range(5, 10).withColumn("score", F.col("id") * 2.0),
        mode="append",
        stats_cols=["id"],
    )
    cur = t.read(spark)
    assert set(cur.columns) == {"id", "score"}
    rows = {r["id"]: r["score"] for r in cur.collect()}
    assert all(rows[i] is None for i in range(5))
    assert all(rows[i] == i * 2.0 for i in range(5, 10))
    # Time travel: v1 shows v1's schema, no later column.
    assert t.read(spark, 1).columns == ["id"]
    # Append that OMITS the evolved column keeps it (new rows NULL).
    t.commit(spark.range(10, 12), mode="append")
    rows = {r["id"]: r["score"] for r in t.read(spark).collect()}
    assert rows[10] is None and rows[9] == 18.0
    # Pruned reads apply the recorded schema too.
    pr = t.read_pruned(spark, "id", lo=0, hi=4)
    assert set(pr.columns) == {"id", "score"}
    assert all(r["score"] is None for r in pr.collect())
    # Type change fails fast: no new snap dir appears.
    n_snaps = len([d for d in os.listdir(t.path) if d.startswith("snap-")])
    with pytest.raises(ValueError, match="add-only"):
        t.commit(
            spark.range(0, 2).withColumn("score", F.lit("text")),
            mode="append",
        )
    assert (
        len([d for d in os.listdir(t.path) if d.startswith("snap-")])
        == n_snaps
    )
    # Maintenance carries the schema: compact preserves evolved reads.
    t.compact(spark)
    rows = {r["id"]: r["score"] for r in t.read(spark).collect()}
    assert rows[0] is None and rows[9] == 18.0


def test_schema_evolution_partitioned_replace(spark, tmp_path):
    """Evolution through the partitioned write path: replace_partitions
    with an added column records the merged schema; untouched
    partitions' historic files read the new column as NULL."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(0, 12).withColumn("cell", (F.col("id") % 3).cast("bigint"))
    t.commit_partitioned(spark, base, "cell")
    upd = base.filter(F.col("cell") == 1).withColumn("w", F.lit(1.5))
    t.replace_partitions(spark, upd, [1])
    got = t.read(spark)
    assert set(got.columns) == {"id", "cell", "w"}
    by_cell = {
        (r["id"], r["w"]) for r in got.collect()
    }
    assert (1, 1.5) in by_cell and (0, None) in by_cell


def test_multi_column_pruning_intersects_conjuncts(spark, tmp_path):
    """AND-of-ranges pruning: a dir survives only if NO conjunct's
    stats preclude it, and results equal the full filtered read."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    # Two stats columns moving in opposite directions across snapshots:
    # id ascends 0..29, rev descends 29..0.
    base = spark.range(0, 30).withColumn("rev", 29 - F.col("id"))
    for i in range(3):
        t.commit(
            base.filter((F.col("id") >= i * 10) & (F.col("id") < (i + 1) * 10)),
            mode="overwrite" if i == 0 else "append",
            stats_cols=["id", "rev"],
        )
    d = t._manifest(3)["dirs"]
    # id in [5, 25] keeps all three dirs; rev in [0, 9] keeps only the
    # LAST dir (ids 20-29 <-> rev 0-9). Conjunction keeps exactly one.
    kept, skipped = t.pruned_dirs_multi({"id": (5, 25), "rev": (0, 9)})
    assert kept == [d[2]] and sorted(skipped) == sorted(d[:2])
    got = t.read_pruned_multi(spark, {"id": (5, 25), "rev": (0, 9)})
    assert _ids(got) == list(range(20, 26))
    # Order preserved; empty intersection yields typed empty.
    empty = t.read_pruned_multi(spark, {"id": (0, 5), "rev": (0, 5)})
    assert empty.count() == 0 and set(empty.columns) == {"id", "rev"}
    with pytest.raises(ValueError, match="at least one predicate"):
        t.pruned_dirs_multi({})
    # An unbounded conjunct prunes nothing and now raises explicitly
    # (previously raised from the per-column pruned_dirs delegate).
    with pytest.raises(ValueError, match="bounds neither side"):
        t.pruned_dirs_multi({"id": (5, 25), "rev": (None, None)})
    with pytest.raises(ValueError, match="does not exist"):
        t.pruned_dirs_multi({"id": (5, 25)}, version=99)


# -- deletion vectors (merge-on-read DELETE) --------------------------------


def _snap_files(table_path):
    """{rel_path: mtime} of every data file under every snap-* dir —
    the byte-stability witness: a merge-on-read delete must leave this
    map IDENTICAL."""
    out = {}
    for top in os.listdir(table_path):
        if not top.startswith("snap-"):
            continue
        for root, _, files in os.walk(os.path.join(table_path, top)):
            for f in files:
                p = os.path.join(root, f)
                out[os.path.relpath(p, table_path)] = os.path.getmtime(p)
    return out


def test_delete_dv_writes_positions_not_data(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10).withColumn("x", F.col("id") * 2),
             stats_cols=["id"])
    t.commit(spark.range(10, 20).withColumn("x", F.col("id") * 2),
             mode="append", stats_cols=["id"])
    before = _snap_files(t.path)
    v = t.delete_where_dv(spark, "id", lo=3, hi=5)
    # Data plane untouched: same files, same mtimes; one dv-* dir born.
    assert _snap_files(t.path) == before
    assert len([d for d in os.listdir(t.path) if d.startswith("dv-")]) == 1
    meta = t.meta_of(v)
    assert meta["dv_rows"] == 3
    # Stats pruned the vector scan to the one may-match dir.
    assert meta["dv_target_dirs"] == 1 and meta["preserved_dirs"] == 1
    assert _ids(t.read(spark)) == [0, 1, 2] + list(range(6, 20))
    # Old versions don't see the vector (time travel intact).
    assert _ids(t.read(spark, 2)) == list(range(20))
    # The non-deleted column rides through the anti-join untouched.
    row = t.read(spark).filter("id = 7").collect()[0]
    assert row["x"] == 14


def test_delete_dv_matches_cow_delete_and_guards(spark, tmp_path):
    from pyspark.sql import functions as F

    src = spark.range(0, 40).withColumn(
        "k", F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id"))
    )
    cow = TransactionalTable(str(tmp_path / "cow"))
    mor = TransactionalTable(str(tmp_path / "mor"))
    for tt in (cow, mor):
        tt.commit(src.filter("id < 20"), stats_cols=["k"])
        tt.commit(src.filter("id >= 20"), mode="append", stats_cols=["k"])
    cow.delete_where(spark, "k", lo=10, hi=30)
    mor.delete_where_dv(spark, "k", lo=10, hi=30)
    # Identical answers, including NULL-key rows surviving (a range
    # predicate never matches NULL).
    assert _ids(cow.read(spark)) == _ids(mor.read(spark))
    assert 21 in _ids(mor.read(spark))  # 21 % 7 == 0 -> k NULL -> kept
    with pytest.raises(ValueError, match="at least one bound"):
        mor.delete_where_dv(spark, "k")
    with pytest.raises(ValueError, match="no committed version"):
        TransactionalTable(str(tmp_path / "empty")).delete_where_dv(
            spark, "k", lo=0
        )
    # Reserved-name collision refuses at COMMIT time, on every write
    # path (evolving one in after a vector exists would corrupt the
    # read-side join).
    bad = TransactionalTable(str(tmp_path / "bad"))
    with pytest.raises(ValueError, match="reserved"):
        bad.commit(spark.range(3).withColumn("_dv_pos", F.col("id")))
    ok = TransactionalTable(str(tmp_path / "ok"))
    ok.commit(spark.range(3))
    with pytest.raises(ValueError, match="reserved"):
        ok.commit(
            spark.range(3).withColumn("__mri_dv_rel", F.lit("x")),
            mode="append",
        )


def test_delete_dv_stacks_noop_and_compact_materializes(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    t.commit(spark.range(10, 20), mode="append", stats_cols=["id"])
    t.delete_where_dv(spark, "id", lo=3, hi=5)
    v = t.delete_where_dv(spark, "id", lo=5, hi=12)
    # Overlap (5) is NOT re-recorded: dv_rows is the exact new count.
    assert t.meta_of(v)["dv_rows"] == 7
    assert _ids(t.read(spark)) == [0, 1, 2] + list(range(13, 20))
    # A delete whose range is stats-precluded is a metadata-only commit.
    n_dv = len([d for d in os.listdir(t.path) if d.startswith("dv-")])
    v2 = t.delete_where_dv(spark, "id", lo=500, hi=600)
    assert t.meta_of(v2)["dv_rows"] == 0 and t.meta_of(v2)["dv_target_dirs"] == 0
    # A delete whose dirs were kept by stats but whose rows are all
    # already vector-deleted registers no empty vector either.
    v3 = t.delete_where_dv(spark, "id", lo=4, hi=5)
    assert t.meta_of(v3)["dv_rows"] == 0
    assert (
        len([d for d in os.listdir(t.path) if d.startswith("dv-")]) == n_dv
    )
    # Compaction reads THROUGH the vectors and drops them.
    vc = t.compact(spark, stats_cols=["id"])
    assert "dv" not in t._manifest(vc)
    assert _ids(t.read(spark)) == [0, 1, 2] + list(range(13, 20))
    # Vacuum then reclaims the dead vectors (and old snaps).
    gone = t.vacuum(keep_versions=1, grace_seconds=0.0)
    assert [d for d in os.listdir(t.path) if d.startswith("dv-")] == []
    assert any(d.startswith("dv-") for d in gone)
    assert _ids(t.read(spark)) == [0, 1, 2] + list(range(13, 20))


def test_delete_dv_composes_with_append_merge_cow_and_evolution(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10).withColumn("v", F.lit("a")), stats_cols=["id"])
    t.delete_where_dv(spark, "id", lo=2, hi=3)
    # Append AFTER the vector: inherited dirs keep it; add-only schema
    # evolution composes (new column reads NULL on the vectored dir).
    t.commit(
        spark.range(10, 15)
        .withColumn("v", F.lit("b"))
        .withColumn("w", F.lit(1)),
        mode="append",
        stats_cols=["id"],
    )
    got = t.read(spark)
    assert _ids(got) == [0, 1] + list(range(4, 15))
    assert got.filter("id = 5").collect()[0]["w"] is None
    # MERGE over the vectored table: deleted rows stay deleted, the
    # update wins where it matches, preserved dirs keep their vector.
    updates = (
        spark.range(12, 14)
        .withColumn("v", F.lit("u"))
        .withColumn("w", F.lit(9))
    )
    t.merge_rows(spark, updates, key="id", stats_cols=["id"])
    got = t.read(spark)
    assert _ids(got) == [0, 1] + list(range(4, 15))
    assert got.filter("id = 12").collect()[0]["v"] == "u"
    assert "dv" in t._manifest(t.current_version())  # dir-1 vector kept
    # COW delete over a vectored dir: rewrite applies the vector, new
    # manifest drops it.
    t.delete_where(spark, "id", lo=0, hi=1)
    m = t._manifest(t.current_version())
    assert _ids(t.read(spark)) == list(range(4, 15))
    assert not m.get("dv"), m.get("dv")


def test_delete_dv_on_clustered_subdirs_and_plain_read_is_joinfree(
    spark, tmp_path
):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 100), stats_cols=["id"])
    t.compact_clustered(spark, "id", n_buckets=4, stats_cols=["id"])
    # The vector addresses rows inside snap-x/_bucket=N sub-dirs; the
    # rel-path anchor must capture the sub-dir path.
    v = t.delete_where_dv(spark, "id", lo=30, hi=34)
    assert t.meta_of(v)["dv_rows"] == 5
    # Stats pruned the scan to the one bucket holding [25, 50).
    assert t.meta_of(v)["dv_target_dirs"] == 1
    assert _ids(t.read(spark)) == [i for i in range(100) if not 30 <= i <= 34]
    # read_pruned composes: prune by stats, then anti-join the vector.
    assert _ids(t.read_pruned(spark, "id", lo=28, hi=40)) == [
        28, 29, 35, 36, 37, 38, 39, 40
    ]
    # A version with NO vectors plans a join-free scan (the DV read
    # path must cost nothing when unused).
    clean = TransactionalTable(str(tmp_path / "clean"))
    clean.commit(spark.range(10))
    plan = clean.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


# -- branches & tags (write-audit-publish) -----------------------------------


def test_branch_stages_invisibly_and_publishes_atomically(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    b = t.branch("stage")
    b.commit(spark.range(10, 15), mode="append", stats_cols=["id"])
    b.commit(spark.range(15, 20), mode="append", stats_cols=["id"])
    # Audit on the branch sees the staged state; main does not.
    assert _ids(b.read(spark)) == list(range(20))
    assert _ids(t.read(spark)) == list(range(10))
    v = t.publish_branch("stage")
    assert _ids(t.read(spark)) == list(range(20))
    # Append-only staging publishes as mode=append, so an incremental
    # change-feed consumer reads straight across the publish.
    assert t._manifest(v)["mode"] == "append"
    assert _ids(t.read_changes(spark, 1, v)) == list(range(10, 20))
    # The publish carried the branch's stats (skipping works on main).
    kept, skipped = t.pruned_dirs("id", lo=17, hi=19, version=v)
    assert len(skipped) == 2
    # Zero data movement: publish wrote no new snap dirs.
    snaps = [d for d in os.listdir(t.path) if d.startswith("snap-")]
    assert len(snaps) == 3


def test_branch_conflicts_guards_and_rewrite_mode(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    with pytest.raises(ValueError, match="already exists"):
        t.branch("b")
        t.branch("b")
    b = TransactionalTable(str(tmp_path / "t"), ref="b")
    b.commit(spark.range(10, 12), mode="append")
    t.commit(spark.range(50, 51), mode="append")  # main advances
    with pytest.raises(CommitConflict, match="main advanced"):
        t.publish_branch("b")
    t.drop_branch("b")
    with pytest.raises(ValueError, match="does not exist"):
        t.publish_branch("b")
    with pytest.raises(ValueError, match="does not exist"):
        t.drop_branch("b")
    # A branch that rewrote data publishes as a feed boundary.
    b2 = t.branch("rw")
    b2.delete_where(spark, "id", lo=0, hi=4)
    v = t.publish_branch("rw")
    assert t._manifest(v)["mode"] == "publish_branch"
    assert _ids(t.read(spark)) == list(range(5, 10)) + [50]
    with pytest.raises(ValueError, match="no commits to publish"):
        t.branch("empty")
        t.publish_branch("empty")
    # Branch-view guards: branch ops run on the main view only.
    with pytest.raises(ValueError, match="main view"):
        b2.branch("nested")
    with pytest.raises(ValueError, match="main view"):
        b2.publish_branch("rw")
    with pytest.raises(ValueError, match="main view"):
        b2.vacuum(grace_seconds=0.0)
    with pytest.raises(ValueError, match="invalid ref name"):
        t.branch("../escape")


def test_branch_dv_publishes_and_vacuum_pins_refs(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    # Stage a MERGE-ON-READ delete on the branch: the published dv map
    # must follow, and the vector dir must survive vacuum while only
    # the branch (then main) references it.
    b = t.branch("dvstage")
    b.delete_where_dv(spark, "id", lo=2, hi=3)
    assert _ids(t.read(spark)) == list(range(10))
    t.vacuum(keep_versions=1, grace_seconds=0.0)  # branch pins its dv
    assert _ids(b.read(spark)) == [0, 1] + list(range(4, 10))
    v = t.publish_branch("dvstage")
    assert t._manifest(v)["mode"] == "publish_branch"  # dv changed
    assert _ids(t.read(spark)) == [0, 1] + list(range(4, 10))
    t.drop_branch("dvstage")
    t.vacuum(keep_versions=1, grace_seconds=0.0)  # main still pins it
    assert _ids(t.read(spark)) == [0, 1] + list(range(4, 10))


def test_tags_pin_versions_through_vacuum(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5))
    t.tag("gold")  # defaults to current
    assert t.tag_version("gold") == 1
    t.commit(spark.range(5, 9), mode="append")
    t.commit(spark.range(9, 12), mode="append")
    with pytest.raises(ValueError, match="immutable"):
        t.tag("gold", version=2)
    with pytest.raises(ValueError, match="does not exist"):
        t.tag("v99", version=99)
    # Vacuum keeps the tagged version's manifest AND dirs beyond the
    # retention window.
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    assert _ids(t.read_tag(spark, "gold")) == list(range(5))
    assert _ids(t.read(spark)) == list(range(12))
    # Versions between the tag and the window are retired.
    assert 2 not in t.versions()
    # Dropping the tag releases the pin; the next vacuum reclaims.
    t.drop_tag("gold")
    with pytest.raises(ValueError, match="does not exist"):
        t.tag_version("gold")
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    assert t.versions() == [3]
    assert _ids(t.read(spark)) == list(range(12))


# -- z-ordered compaction (OPTIMIZE ZORDER BY) --------------------------------


def test_compact_zordered_prunes_both_axes_and_preserves_content(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    grid = spark.range(10_000).select(
        (F.col("id") % 100).alias("x"),
        (F.col("id") / 100).cast("bigint").alias("y"),
        F.col("id").alias("v"),
    )
    t.commit(grid, stats_cols=["x"])
    v = t.compact_zordered(spark, "x", "y", n_bucket_bits=6)
    m = t._manifest(v)
    assert m["meta"]["zorder_cols"] == ["x", "y"]
    assert 1 < len(m["dirs"]) <= 64
    # A small rectangle prunes to a handful of buckets; a single-axis
    # band prunes too (z bounds BOTH dimensions).
    kept, skipped = t.pruned_dirs_multi({"x": (0, 12), "y": (0, 12)}, version=v)
    assert len(kept) <= 4 and len(skipped) >= len(m["dirs"]) - 4
    ky, sy = t.pruned_dirs("y", lo=90, hi=99, version=v)
    assert len(sy) >= len(m["dirs"]) // 2
    # Content-preserving: same rows, same values.
    got = t.read_pruned_multi(spark, {"x": (0, 12), "y": (0, 12)}, version=v)
    assert got.count() == 13 * 13
    assert t.read(spark, v).count() == 10_000
    assert [r["v"] for r in t.read(spark, v).filter("x=5 and y=5").collect()] == [505]


def test_compact_zordered_nulls_guards_and_dv_materialization(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(100).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("x"),
        (F.col("id") % 7).alias("y"),
        F.col("id").alias("v"),
    )
    t.commit(df, stats_cols=["x"])
    # A vector-deleted row must NOT survive the z rewrite (the rewrite
    # reads through the vector and the new manifest drops it).
    t.delete_where_dv(spark, "v", lo=5, hi=6)
    v = t.compact_zordered(spark, "x", "y", n_bucket_bits=4)
    assert "dv" not in t._manifest(v)
    vs = sorted(r["v"] for r in t.read(spark, v).collect())
    assert vs == [i for i in range(100) if i not in (5, 6)]
    # NULL x rows parked but preserved.
    assert t.read(spark, v).filter("x IS NULL").count() == 10
    with pytest.raises(ValueError, match="n_bucket_bits"):
        t.compact_zordered(spark, "x", "y", n_bucket_bits=0)
    bad = TransactionalTable(str(tmp_path / "bad"))
    bad.commit(spark.range(3).withColumn("s", F.lit("a")))
    with pytest.raises(ValueError, match="not\n?.*BIGINT-castable|BIGINT"):
        bad.compact_zordered(spark, "id", "s")
    empty = TransactionalTable(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="no committed version"):
        empty.compact_zordered(spark, "x", "y")


def test_change_feed_refuses_internal_version_gaps(spark, tmp_path):
    """A tag-pinned vacuum can retire a manifest BETWEEN survivors; the
    feed must refuse the range (the missing version's mode — possibly a
    rewrite boundary — is unknowable) rather than silently diff across
    the gap (review finding)."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.tag("pin")  # pins v1 through retention
    t.delete_where(spark, "id", lo=0, hi=1)  # v2: rewrite boundary
    t.commit(spark.range(5, 8), mode="append")  # v3
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    assert t.versions() == [1, 3]  # v2 retired, v1 tag-pinned
    with pytest.raises(ValueError, match="removed by retention"):
        t.read_changes(spark, 1, 3)
    # A missing PREFIX stays legal: ordinary retention.
    t.drop_tag("pin")
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    assert t.versions() == [3]
    assert t.read_changes(spark, 0, 3).count() == t.read(spark).count()


# -- governance: CHECK constraints & timestamp time travel ---------------------


def test_constraints_gate_every_write_path(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(1, 6).withColumn("v", F.col("id") * 10))
    v = t.add_constraint(spark, "pos_id", "id > 0")
    t.add_constraint(spark, "v_not_null", "v IS NOT NULL")
    assert set(t.constraints()) == {"pos_id", "v_not_null"}
    assert t._manifest(v)["mode"] == "set_constraint"
    # Violating batches refuse on every write path, naming the rule.
    bad = spark.range(0, 2).withColumn("v", F.col("id"))  # id=0 violates
    with pytest.raises(ValueError, match="pos_id"):
        t.commit(bad, mode="append")
    with pytest.raises(ValueError, match="pos_id"):
        t.merge_rows(spark, bad, key="id")
    # NULL passes a CHECK (SQL semantics) unless spelled IS NOT NULL.
    nulls = spark.range(7, 9).select(
        F.col("id"),
        F.when(F.col("id") == 7, None).otherwise(F.col("id")).alias("v"),
    )
    with pytest.raises(ValueError, match="v_not_null"):
        t.commit(nulls, mode="append")
    t.drop_constraint("v_not_null")
    t.commit(nulls, mode="append")  # CHECK id > 0 passes NULL-free ids
    assert t.read(spark).count() == 7
    # Constraints survive overwrite and compaction (table properties).
    t.commit(spark.range(10, 12).withColumn("v", F.col("id")), mode="overwrite")
    assert set(t.constraints()) == {"pos_id"}
    t.compact(spark)
    assert set(t.constraints()) == {"pos_id"}
    with pytest.raises(ValueError, match="pos_id"):
        t.commit(bad, mode="append")
    # Adding a constraint existing data violates refuses.
    with pytest.raises(ValueError, match="existing table data"):
        t.add_constraint(spark, "small", "id < 5")
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint(spark, "pos_id", "id > 0")


def test_constraint_versions_are_feed_safe_and_branch_carried(
    spark, tmp_path
):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 4))
    t.add_constraint(spark, "nonneg", "id >= 0")  # v2, metadata-only
    t.commit(spark.range(4, 8), mode="append")  # v3
    # The metadata-only version does not break the change feed.
    assert _ids(t.read_changes(spark, 1, 3)) == list(range(4, 8))
    # Branches carry constraints (fork copies the manifest) and the
    # publish carries them back.
    b = t.branch("stage")
    with pytest.raises(ValueError, match="nonneg"):
        b.commit(spark.range(-2, 0), mode="append")
    b.commit(spark.range(8, 10), mode="append")
    t.publish_branch("stage")
    assert set(t.constraints()) == {"nonneg"}
    assert _ids(t.read(spark)) == list(range(10))


def test_timestamp_time_travel(spark, tmp_path):
    import json as _json
    import os as _os

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 3))
    t.commit(spark.range(3, 6), mode="append")
    t.commit(spark.range(6, 9), mode="append")
    # Stamps are wall-clock at publish; rewrite them to known instants
    # (manifests are plain JSON — the test owns the clock).
    for v, at in ((1, 1000.0), (2, 2000.0), (3, 3000.0)):
        p = _os.path.join(t.manifest_dir, f"v{v}.json")
        m = _json.load(open(p))
        m["committed_at"] = at
        _json.dump(m, open(p, "w"))
    assert t.version_asof(1500.0) == 1
    assert t.version_asof(2000.0) == 2
    assert _ids(t.read_asof(spark, 2999.9)) == list(range(6))
    assert _ids(t.read_asof(spark, 10_000)) == list(range(9))
    with pytest.raises(ValueError, match="at or before"):
        t.version_asof(999.0)
    import datetime

    assert (
        t.version_asof(datetime.datetime.fromtimestamp(2500.0)) == 2
    )


def test_fast_aggregates_from_metadata_only(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    t.commit(spark.range(10, 25), mode="append", stats_cols=["id"])
    assert t.fast_count() == 25
    assert t.fast_minmax("id") == (0, 24)
    # DV delete: count stays exact (footer arithmetic), min/max
    # honestly refuses (the extreme row might be deleted).
    t.delete_where_dv(spark, "id", lo=20, hi=24)
    assert t.fast_count() == 20
    assert t.fast_minmax("id") is None
    assert t.fast_count() == t.read(spark).count()
    # Stacked vectors stay exact (no double-count of overlaps).
    t.delete_where_dv(spark, "id", lo=18, hi=21)
    assert t.fast_count() == 18 == t.read(spark).count()
    # Compaction materializes: min/max resolvable again, count intact.
    t.compact(spark, stats_cols=["id"])
    assert t.fast_count() == 18
    assert t.fast_minmax("id") == (0, 17)
    # A stats-less dir makes COUNT unknowable -> None, never a guess.
    t.commit(spark.range(100, 103), mode="append")
    assert t.fast_count() is None
    assert t.fast_minmax("id") is None
    # All-NULL dirs are ignored by min/max (SQL semantics).
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(
        spark.range(3).select(F.lit(None).cast("bigint").alias("id")),
        stats_cols=["id"],
    )
    t2.commit(spark.range(5, 8), mode="append", stats_cols=["id"])
    assert t2.fast_minmax("id") == (5, 7)
    assert t2.fast_count() == 6


def test_history_describes_every_live_version(spark, tmp_path):
    import json as _json

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.commit(spark.range(5, 8), mode="append", stats_cols=["id"])
    t.add_constraint(spark, "nonneg", "id >= 0")
    t.delete_where_dv(spark, "id", lo=0, hi=1)
    h = {r["version"]: r for r in t.history(spark).collect()}
    assert set(h) == {1, 2, 3, 4}
    assert h[1]["mode"] == "overwrite" and h[1]["n_rows"] == 5
    assert h[2]["mode"] == "append" and h[2]["n_rows"] == 8
    assert h[3]["mode"] == "set_constraint" and h[3]["n_constraints"] == 1
    assert h[4]["mode"] == "delete_dv" and h[4]["has_dv"]
    assert h[4]["n_rows"] == 6  # fast_count stays exact under vectors
    assert _json.loads(h[4]["meta"])["dv_rows"] == 2
    assert all(r["committed_at"] > 0 for r in h.values())


def test_fast_count_exact_after_partial_rewrite_of_shared_vector(
    spark, tmp_path
):
    """A vector registered on TWO dirs keeps both dirs' positions in
    its file; when one dir is later rewritten (merge), only the
    surviving dir's positions may be subtracted (review finding)."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(0, 10).withColumn("v", F.lit("a")), stats_cols=["id"]
    )
    t.commit(
        spark.range(10, 20).withColumn("v", F.lit("a")),
        mode="append",
        stats_cols=["id"],
    )
    # One vector spanning both dirs: ids 8-12 (2 in dir A, 3 in dir B).
    t.delete_where_dv(spark, "id", lo=8, hi=12)
    assert t.fast_count() == 15 == t.read(spark).count()
    # Merge rewrites only dir B (keys 15-16); its vector entry drops
    # but the FILE still holds B's 3 positions — they must no longer
    # be subtracted.
    updates = spark.range(15, 17).withColumn("v", F.lit("u"))
    t.merge_rows(spark, updates, key="id", stats_cols=["id"])
    assert t.fast_count() == 15 == t.read(spark).count()
    h = {r["version"]: r["n_rows"] for r in t.history(spark).collect()}
    assert h[t.current_version()] == 15


def test_constraints_pass_on_append_omitting_constrained_column(
    spark, tmp_path
):
    """Add-only evolution legalizes omitting a recorded column (reads
    as NULL); a CHECK over that column must PASS by the NULL rule, not
    crash unresolved (review finding)."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(3).withColumn("v", F.col("id") + 1))
    t.add_constraint(spark, "v_pos", "v >= 0")
    t.commit(spark.range(3, 6), mode="append")  # no v column: legal
    got = t.read(spark)
    assert got.filter("v IS NULL").count() == 3
    # NOT-NULL-spelled constraints still catch the padded NULLs.
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(spark.range(3).withColumn("v", F.col("id") + 1))
    t2.add_constraint(spark, "v_req", "v IS NOT NULL")
    with pytest.raises(ValueError, match="v_req"):
        t2.commit(spark.range(3, 6), mode="append")


def test_stale_expected_version_after_vacuum_is_commit_conflict(
    spark, tmp_path
):
    """A retention-retired expected_version must surface as the
    optimistic-concurrency conflict callers catch, not a raw
    FileNotFoundError (review finding)."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(3))
    stale = t.current_version()
    t.commit(spark.range(3, 6), mode="append")
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    assert stale not in t.versions()
    with pytest.raises(CommitConflict, match="retired by retention"):
        t.commit(spark.range(9), mode="overwrite", expected_version=stale)


def test_upsert_eq_matches_merge_and_scopes_to_registered_dirs(spark, tmp_path):
    """Equality-delete upsert: same final table as merge_rows /
    merge_rows_mor on the same fixture, with ZERO base reads at write
    time — the batch's keys land in one eq- dir registered against the
    stats-pruned may-match dirs, the batch appends as one snapshot.
    The eq file must be SCOPED: it kills keys only in registered dirs,
    never in the batch's own snapshot (re-inserted keys survive)."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = lambda a, b: spark.range(a, b).withColumn(  # noqa: E731
        "val", F.col("id") * 10
    )
    t.commit(base(0, 10), stats_cols=["id"])
    t.commit(base(10, 20), mode="append", stats_cols=["id"])
    t.commit(base(20, 30), mode="append", stats_cols=["id"])
    d1, d2, d3 = t._manifest(3)["dirs"]
    updates = spark.createDataFrame(
        [(12, -1), (14, -2), (31, -3)], "id bigint, val bigint"
    )
    v = t.upsert_eq(spark, updates, "id", stats_cols=["id"])
    m = t._manifest(v)
    assert m["dirs"][:3] == [d1, d2, d3] and len(m["dirs"]) == 4
    assert m["meta"]["eq_keys"] == 3
    assert m["meta"]["eq_target_dirs"] == 2  # [12, 31] ∩ {d2, d3}
    assert m["meta"]["preserved_dirs"] == 1
    eq = m["eq"]
    assert set(eq) == {d2, d3} and eq[d2] == eq[d3]
    snap = m["dirs"][3]
    assert snap not in eq  # never registered against its own snapshot
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert len(got) == 31
    assert got[12] == -1 and got[14] == -2 and got[31] == -3
    assert got[13] == 130 and got[0] == 0 and got[29] == 290
    assert _ids(t.read(spark, 3)) == list(range(30))  # time travel
    # Stacking: a second upsert of an already-upserted key must kill
    # the FIRST upsert's snapshot row too (it registers against every
    # dir of v, including the first snap).
    v2 = t.upsert_eq(
        spark,
        spark.createDataFrame([(12, -100)], "id bigint, val bigint"),
        "id",
        stats_cols=["id"],
    )
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert len(got) == 31 and got[12] == -100 and got[14] == -2
    assert snap in t._manifest(v2)["eq"]  # first snap now targeted
    # Composes with position vectors; compaction materializes both.
    t.delete_where_dv(spark, "id", lo=0, hi=1)
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert len(got) == 29 and 0 not in got and got[12] == -100
    vc = t.compact(spark, stats_cols=["id"])
    mc = t._manifest(vc)
    assert "eq" not in mc and "dv" not in mc and len(mc["dirs"]) == 1
    assert {r["id"]: r["val"] for r in t.read(spark).collect()} == got


def test_upsert_eq_guards_degenerates_and_lifecycle(spark, tmp_path):
    """NULL/duplicate keys and thin batches raise; empty batch is a
    metadata-only version; empty table = initial commit; the change
    feed refuses eq-bearing versions; fast row counts fall back; diff
    treats an eq change as a changed dir; vacuum keeps referenced eq
    dirs and reclaims them after compaction."""
    import glob
    import os

    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(10).withColumn("val", F.col("id")), stats_cols=["id"])
    nulls = (
        spark.range(2)
        .withColumn("id", F.lit(None).cast("bigint"))
        .withColumn("val", F.lit(0).cast("bigint"))
    )
    with pytest.raises(ValueError, match="NULL 'id'"):
        t.upsert_eq(spark, nulls, "id")
    dups = spark.createDataFrame([(1, 0), (1, 1)], "id bigint, val bigint")
    with pytest.raises(ValueError, match="duplicate 'id'"):
        t.upsert_eq(spark, dups, "id")
    thin = spark.createDataFrame([(1,)], "id bigint")
    with pytest.raises(ValueError, match="missing table column"):
        t.upsert_eq(spark, thin, "id")
    dirs_before = t._manifest(1)["dirs"]
    v = t.upsert_eq(spark, t.read(spark).limit(0), "id")
    m = t._manifest(v)
    assert m["dirs"] == dirs_before and "eq" not in m
    assert m["meta"]["eq_keys"] == 0
    e = TransactionalTable(str(tmp_path / "e"))
    assert e.upsert_eq(spark, spark.range(5), "id", stats_cols=["id"]) == 1
    assert _ids(e.read(spark)) == list(range(5))
    # Real upsert: change feed refuses, fast count falls back, diff
    # sees the targeted dir as changed.
    v = t.upsert_eq(
        spark,
        spark.createDataFrame([(2, -2)], "id bigint, val bigint"),
        "id",
        stats_cols=["id"],
    )
    with pytest.raises(ValueError, match="change feed"):
        t.change_dirs(1, v)
    assert t._fast_count_m(t._manifest(v)) is None
    assert t.read(spark, v).count() == 10
    old_only, new_only, common = t.diff_dirs(2, v)
    assert old_only == 1 and new_only == 2 and common == 0
    d = t.diff(spark, 2, v)
    changes = {(r["id"], r["val"], r["_change"]) for r in d.collect()}
    assert (2, -2, "added") in changes and (2, 2, "removed") in changes
    # Vacuum: the referenced eq dir survives; after compaction it ages
    # out with the old versions.
    t.vacuum(keep_versions=1, grace_seconds=0)
    assert len(glob.glob(os.path.join(t.path, "eq-*"))) == 1
    assert t.read(spark).count() == 10
    t.compact(spark, stats_cols=["id"])
    t.vacuum(keep_versions=1, grace_seconds=0)
    assert glob.glob(os.path.join(t.path, "eq-*")) == []
    got = {r["id"]: r["val"] for r in t.read(spark).collect()}
    assert got[2] == -2 and len(got) == 10


def test_delete_eq_matches_dv_delete_and_guards(spark, tmp_path):
    """Equality delete by key set: same survivors as the DV range
    delete over the same keys, zero base reads (no snapshot written,
    dirs unchanged); NULL keys raise, duplicates collapse, absent keys
    are no-ops, empty batch is metadata-only, empty table raises."""
    from pyspark.sql import functions as F

    base = spark.range(0, 20).withColumn("v", F.col("id"))
    t = TransactionalTable(str(tmp_path / "eq"))
    t.commit(base, stats_cols=["id"])
    d = TransactionalTable(str(tmp_path / "dv"))
    d.commit(base, stats_cols=["id"])
    keys = spark.createDataFrame(
        [(5,), (5,), (6,), (7,), (99,)], "id bigint"  # dup + absent key
    )
    v = t.delete_eq(spark, keys, "id")
    m = t._manifest(v)
    assert m["meta"]["eq_keys"] == 4  # distinct batch keys
    assert m["dirs"] == t._manifest(1)["dirs"]  # nothing rewritten
    d.delete_where_dv(spark, "id", lo=5, hi=7)
    assert sorted(_ids(t.read(spark))) == sorted(_ids(d.read(spark)))
    assert t.read(spark, 1).count() == 20  # time travel
    with pytest.raises(ValueError, match="NULL 'id'"):
        t.delete_eq(
            spark,
            spark.range(1).withColumn("id", F.lit(None).cast("bigint")),
            "id",
        )
    v2 = t.delete_eq(spark, t.read(spark).select("id").limit(0), "id")
    m2 = t._manifest(v2)
    assert m2["meta"]["eq_keys"] == 0 and m2["eq"] == m["eq"]
    with pytest.raises(ValueError, match="no committed version"):
        TransactionalTable(str(tmp_path / "empty")).delete_eq(
            spark, keys, "id"
        )


def test_delete_eq_carries_partition_layout_and_validates_key(spark, tmp_path):
    """r12 second review: an equality delete changes no dirs, so the
    partitioned layout metadata must travel with the new version
    (dropping it wedges every partition-aware op), and a typo'd key
    must fail at WRITE time — deferring it poisons every later read
    with an unresolvable anti-join column."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 20).withColumn("part", F.col("id") % 4).withColumn(
        "v", F.col("id")
    )
    t.commit_partitioned(spark, df, "part", stats_cols=["id"])
    with pytest.raises(ValueError, match="not a table column"):
        t.delete_eq(
            spark, spark.range(2).select(F.col("id").alias("idd")), "idd"
        )
    v = t.delete_eq(
        spark, spark.createDataFrame([(3,), (7,)], "id bigint"), "id"
    )
    m = t._manifest(v)
    assert m["meta"]["partitioned_by"] == "part"
    assert sorted(_ids(t.read(spark))) == [
        i for i in range(20) if i not in (3, 7)
    ]
    # The partition-aware ops still work across the eq version.
    v2 = t.replace_partitions(
        spark,
        spark.createDataFrame(
            [(100, 1, 100)], "id bigint, part bigint, v bigint"
        ),
        [1],
        stats_cols=["id"],
    )
    got = sorted(_ids(t.read(spark, v2)))
    assert 100 in got and 3 not in got
    assert [i for i in got if i < 20] == [
        i for i in range(20) if i % 4 != 1 and i not in (3, 7)
    ]


def test_apply_cdc_tombstones_and_upserts_in_one_pass(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(0, 10).withColumn("v", F.col("id") * 10)
    t.commit(base.filter("id < 5"), stats_cols=["id"])
    t.commit(base.filter("id >= 5"), mode="append", stats_cols=["id"])
    changes = spark.createDataFrame(
        [
            (1, None, True),    # tombstone existing
            (3, 999, False),    # update existing
            (42, 4200, False),  # insert new
            (77, None, True),   # tombstone absent key: no-op
        ],
        "id bigint, v bigint, _deleted boolean",
    )
    v = t.apply_cdc(spark, changes, key="id", stats_cols=["id"])
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    want = {i: i * 10 for i in range(10) if i != 1}
    want[3] = 999
    want[42] = 4200
    assert got == want
    # Key-range pruning: changes span [1, 77] -> both dirs may match
    # here; a narrow batch rewrites one.
    t2 = TransactionalTable(str(tmp_path / "t2"))
    t2.commit(base.filter("id < 5"), stats_cols=["id"])
    t2.commit(base.filter("id >= 5"), mode="append", stats_cols=["id"])
    narrow = spark.createDataFrame(
        [(2, None, True)], "id bigint, v bigint, _deleted boolean"
    )
    v2 = t2.apply_cdc(spark, narrow, key="id")
    assert t2.meta_of(v2)["rewrote_dirs"] == 1
    assert t2.meta_of(v2)["preserved_dirs"] == 1
    assert sorted(r["id"] for r in t2.read(spark).collect()) == [
        0, 1, 3, 4, 5, 6, 7, 8, 9
    ]
    # Old version still shows the pre-CDC state (time travel).
    assert t2.read(spark, 2).count() == 10


def test_apply_cdc_mor_matches_cow_and_never_rewrites_base(spark, tmp_path):
    """Merge-on-read CDC apply: identical final table to apply_cdc on
    the same fixture, but tombstones AND updates kill base positions
    via ONE deletion vector and only live rows append — base dirs are
    carried verbatim (write cost O(batch))."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(0, 10).withColumn("v", F.col("id") * 10)
    t.commit(base.filter("id < 5"), stats_cols=["id"])
    t.commit(base.filter("id >= 5"), mode="append", stats_cols=["id"])
    d1, d2 = t._manifest(2)["dirs"]
    changes = spark.createDataFrame(
        [
            (1, None, True),    # tombstone existing
            (3, 999, False),    # update existing
            (42, 4200, False),  # insert new
            (77, None, True),   # tombstone absent key: no-op
        ],
        "id bigint, v bigint, _deleted boolean",
    )
    v = t.apply_cdc_mor(spark, changes, key="id", stats_cols=["id"])
    m = t._manifest(v)
    # Both base dirs survive untouched + one live-rows snapshot dir.
    assert m["dirs"][:2] == [d1, d2] and len(m["dirs"]) == 3
    # Positions of keys 1 and 3 die; 42 and 77 match nothing.
    assert m["meta"]["dv_rows"] == 2
    assert m["meta"]["n_changes"] == 4 and m["meta"]["cdc_from"] == 2
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    want = {i: i * 10 for i in range(10) if i != 1}
    want[3] = 999
    want[42] = 4200
    assert got == want
    assert t.read(spark, 2).count() == 10  # time travel intact
    # ALL-tombstone batch: vector only, NO new snapshot dir.
    tomb = spark.createDataFrame(
        [(0, None, True), (9, None, True)],
        "id bigint, v bigint, _deleted boolean",
    )
    v2 = t.apply_cdc_mor(spark, tomb, key="id")
    m2 = t._manifest(v2)
    assert len(m2["dirs"]) == 3  # no snap appended
    assert m2["meta"]["dv_rows"] == 2
    got2 = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert set(got2) == set(want) - {0, 9}
    # Compaction materializes and drops the vectors.
    vc = t.compact(spark, stats_cols=["id"])
    assert "dv" not in t._manifest(vc)
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == got2


def test_apply_cdc_mor_guards(spark, tmp_path):
    """The MOR CDC apply carries apply_cdc's full batch discipline:
    flag presence/type/non-NULL, unique keys, constraints on live rows
    only, tombstones-on-empty-table no-op."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(5).withColumn("v", F.col("id")))
    no_flag = spark.range(2).withColumn("v", F.col("id"))
    with pytest.raises(ValueError, match="_deleted"):
        t.apply_cdc_mor(spark, no_flag, key="id")
    bad_type = no_flag.withColumn("_deleted", F.lit(1))
    with pytest.raises(ValueError, match="boolean"):
        t.apply_cdc_mor(spark, bad_type, key="id")
    null_flag = no_flag.withColumn(
        "_deleted", F.when(F.col("id") == 0, True)
    )
    with pytest.raises(ValueError, match="NULL on"):
        t.apply_cdc_mor(spark, null_flag, key="id")
    dup = spark.createDataFrame(
        [(1, 1, False), (1, 2, False)], "id bigint, v bigint, _deleted boolean"
    )
    with pytest.raises(ValueError, match="duplicate"):
        t.apply_cdc_mor(spark, dup, key="id")
    empty = TransactionalTable(str(tmp_path / "empty"))
    tomb = spark.createDataFrame(
        [(9, None, True)], "id bigint, v bigint, _deleted boolean"
    )
    v = empty.apply_cdc_mor(spark, tomb, key="id")
    assert empty.read(spark, v).count() == 0
    t.add_constraint(spark, "v_pos", "v >= 0")
    mixed = spark.createDataFrame(
        [(0, None, True), (2, -5, False)],
        "id bigint, v bigint, _deleted boolean",
    )
    with pytest.raises(ValueError, match="v_pos"):
        t.apply_cdc_mor(spark, mixed, key="id")
    ok = spark.createDataFrame(
        [(0, None, True)], "id bigint, v bigint, _deleted boolean"
    )
    t.apply_cdc_mor(spark, ok, key="id")  # tombstone alone passes
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3, 4]


def test_tombstone_only_payload_free_batch_both_paths(spark, tmp_path):
    """A Debezium tombstone feed often carries ONLY (key, flag) — no
    payload columns. Both CDC paths must accept it (nothing is
    appended, so the thin-snapshot guard does not apply): CoW rewrites
    survivors alone (or publishes a metadata-only version when no dir
    matches), MOR writes the vector alone (r12 review)."""
    from pyspark.sql import functions as F

    base = spark.range(0, 10).withColumn("v", F.col("id") * 10)
    thin_tomb = spark.createDataFrame(
        [(2, True), (7, True)], "id bigint, _deleted boolean"
    )
    t = TransactionalTable(str(tmp_path / "cow"))
    t.commit(base, stats_cols=["id"])
    v = t.apply_cdc(spark, thin_tomb, key="id", stats_cols=["id"])
    assert sorted(r["id"] for r in t.read(spark, v).collect()) == [
        0, 1, 3, 4, 5, 6, 8, 9
    ]
    # No matching dir at all: CoW publishes a metadata-only version
    # (no snapshot dir is appended for an empty live set).
    far = spark.createDataFrame([(999, True)], "id bigint, _deleted boolean")
    v2 = t.apply_cdc(spark, far, key="id")
    assert t._manifest(v2)["dirs"] == t._manifest(v)["dirs"]
    m = TransactionalTable(str(tmp_path / "mor"))
    m.commit(base, stats_cols=["id"])
    vm = m.apply_cdc_mor(spark, thin_tomb, key="id")
    man = m._manifest(vm)
    assert man["meta"]["dv_rows"] == 2 and len(man["dirs"]) == 1
    assert sorted(r["id"] for r in m.read(spark, vm).collect()) == [
        0, 1, 3, 4, 5, 6, 8, 9
    ]


def test_apply_cdc_guards(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(5).withColumn("v", F.col("id")))
    no_flag = spark.range(2).withColumn("v", F.col("id"))
    with pytest.raises(ValueError, match="_deleted"):
        t.apply_cdc(spark, no_flag, key="id")
    bad_type = no_flag.withColumn("_deleted", F.lit(1))
    with pytest.raises(ValueError, match="boolean"):
        t.apply_cdc(spark, bad_type, key="id")
    null_flag = no_flag.withColumn(
        "_deleted", F.when(F.col("id") == 0, True)
    )
    with pytest.raises(ValueError, match="NULL on"):
        t.apply_cdc(spark, null_flag, key="id")
    dup = spark.createDataFrame(
        [(1, 1, False), (1, 2, False)], "id bigint, v bigint, _deleted boolean"
    )
    with pytest.raises(ValueError, match="duplicate"):
        t.apply_cdc(spark, dup, key="id")
    # Pure-tombstone batch on an EMPTY table is a no-op insert set.
    empty = TransactionalTable(str(tmp_path / "empty"))
    tomb = spark.createDataFrame(
        [(9, None, True)], "id bigint, v bigint, _deleted boolean"
    )
    v = empty.apply_cdc(spark, tomb, key="id")
    assert empty.read(spark, v).count() == 0
    # Constraints gate LIVE rows only.
    t.add_constraint(spark, "v_pos", "v >= 0")
    mixed = spark.createDataFrame(
        [(0, None, True), (2, -5, False)],
        "id bigint, v bigint, _deleted boolean",
    )
    with pytest.raises(ValueError, match="v_pos"):
        t.apply_cdc(spark, mixed, key="id")
    ok = spark.createDataFrame(
        [(0, None, True)], "id bigint, v bigint, _deleted boolean"
    )
    t.apply_cdc(spark, ok, key="id")  # tombstone alone passes the gate
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3, 4]


def test_ingest_wap_audit_gate(spark, tmp_path):
    """q_ingest_wap's protocol invariant: MAIN NEVER SEES AN UNAUDITED
    BATCH. Staged survivors are invisible to main readers; a failed
    audit drops the branch with main untouched; only a passed audit
    publishes — and then atomically, as one append-mode manifest."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta", "en"),
            (1, "one two three four five six seven", "en"),
            # batch: doc 2 duplicates doc 0's text (a guaranteed dup),
            # doc 3 is fresh (the survivor).
            (2, "alpha beta gamma delta epsilon zeta", "xx"),
            (3, "totally different words appear here now", "xx"),
        ],
        "doc_id bigint, text string, lang string",
    )
    t = TransactionalTable(str(tmp_path / "state"))
    state = dd.ingest_signatures(docs.filter(F.col("lang") == "en"))
    t.commit(state, stats_cols=["doc_id"])
    t.add_constraint(spark, "sig_complete", "sig IS NOT NULL AND mh >= 0")
    main_v = t.current_version()
    main_docs = t.read(spark).select("doc_id").distinct().count()

    batch = dd.ingest_signatures(
        docs.filter(F.col("lang") != "en")
    ).localCheckpoint()
    dups = dd.ingest_dedup_against(t.read(spark), batch, threshold=0.5)
    dup_ids = sorted(r["doc_id"] for r in dups.collect())
    assert dup_ids == [2]  # the exact-text twin flags; the fresh doc not
    survivors = batch.join(dups.select("doc_id"), "doc_id", "left_anti")

    # WRITE: staged on the branch — main readers see NOTHING.
    stage = t.branch("ingest")
    stage.commit(survivors, mode="append", stats_cols=["doc_id"])
    assert t.current_version() == main_v
    assert t.read(spark).select("doc_id").distinct().count() == main_docs

    # Failed AUDIT path: drop the branch; main is still untouched, and
    # the staged rows are gone with it.
    t.drop_branch("ingest")
    assert t.current_version() == main_v
    assert t.read(spark).select("doc_id").distinct().count() == main_docs
    with pytest.raises(ValueError, match="does not exist"):
        t.publish_branch("ingest")  # an unstaged batch cannot publish

    # Passed AUDIT path: re-stage, audit the counts, publish — main
    # changes exactly once, atomically, in append mode.
    stage = t.branch("ingest")
    stage.commit(survivors, mode="append", stats_cols=["doc_id"])
    staged = stage.read(spark).select("doc_id").distinct().count()
    assert staged == main_docs + 1  # state + the single survivor
    v = t.publish_branch("ingest")
    assert v == main_v + 1
    assert t._manifest(v)["mode"] == "append"
    assert t.read(spark).select("doc_id").distinct().count() == main_docs + 1
    assert sorted(
        r["doc_id"]
        for r in t.read(spark).select("doc_id").distinct().collect()
    ) == [0, 1, 3]
    # The CHECK constraint gates branch stages too (table property).
    bad = survivors.withColumn("mh", F.lit(-1).cast("long"))
    stage2 = t.branch("ingest2")
    with pytest.raises(ValueError, match="sig_complete"):
        stage2.commit(bad, mode="append")


def test_restore_rolls_back_without_deleting(spark, tmp_path):
    """restore(): rollback is a FORWARD commit — old versions stay
    time-travelable, current constraints are kept (not the target's),
    a shrinking restore is a change-feed boundary, and vacuum treats
    the restored head's dirs as live again."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5))                       # v1
    t.commit(spark.range(5, 8), mode="append")        # v2
    t.delete_where(spark, "id", lo=0, hi=2)           # v3 (incident)
    assert _ids(t.read(spark)) == list(range(3, 8))
    t.add_constraint(spark, "id_small", "id < 100")   # v4 (policy NOW)
    v_r = t.restore(2)                                # v5
    assert v_r == 5
    assert _ids(t.read(spark)) == list(range(8))      # pre-incident data
    assert _ids(t.read(spark, 3)) == list(range(3, 8))  # incident visible
    assert t.meta_of(v_r) == {"restored_from": 2}
    # CURRENT constraints survive the restore (properties ≠ data)...
    assert t.constraints() == {"id_small": "id < 100"}
    with pytest.raises(ValueError, match="id_small"):
        t.commit(spark.range(200, 201), mode="append")
    # ...and the restored-to version's own (empty) set is untouched.
    assert t.constraints(2) == {}
    # Rewrites are feed boundaries: a range spanning the incident hits
    # the DELETE first; a range starting after it hits the RESTORE's
    # own membership change. Consumers re-baseline either way.
    with pytest.raises(ValueError, match="delete"):
        t.read_changes(spark, 2, 5)
    with pytest.raises(ValueError, match="restore"):
        t.read_changes(spark, 4, 5)
    # Guards: no-op restores and unknown versions refuse.
    with pytest.raises(ValueError, match="already the current head"):
        t.restore(5)
    with pytest.raises(ValueError, match="does not exist"):
        t.restore(99)
    # Vacuum keeps the restored head's dirs (they are referenced by a
    # surviving manifest) — the full pre-incident data reads back.
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    assert _ids(t.read(spark)) == list(range(8))


def test_restore_carries_dv_and_stats(spark, tmp_path):
    """A restore target that carries deletion vectors and skipping
    stats restores BOTH: merge-on-read rows stay deleted and point
    lookups still prune."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 8), stats_cols=["id"], bloom_cols=["id"])
    t.delete_where_dv(spark, "id", lo=6, hi=7)        # v2: DV, no rewrite
    assert _ids(t.read(spark)) == list(range(6))
    t.commit(spark.range(100, 103), mode="overwrite")  # v3: wipes it
    v_r = t.restore(2)                                 # v4
    assert _ids(t.read(spark, v_r)) == list(range(6))  # DV honored
    kept, skipped = t.pruned_dirs_eq("id", 3, version=v_r)
    assert kept and not skipped  # single dir holds 3; stats carried


# -- hidden partitioning (transforms) + partition evolution ------------------


def test_transform_key_twins_agree(spark):
    """The Spark key expression and the driver-side python twin MUST
    produce identical keys — layout pruning's soundness rests on it."""
    import datetime as dt

    from pyspark.sql import functions as F

    ints = [-17, -5, -1, 0, 1, 4, 5, 42, 10**12]
    dates = [dt.date(1970, 1, 1), dt.date(1999, 12, 31), dt.date(2024, 2, 29)]
    stamps = [dt.datetime(2024, 1, 1, 0, 0, 7), dt.datetime(2025, 6, 30, 23, 59)]
    cases = [
        ("identity", None, ints, "bigint"),
        ("truncate", 5, ints, "bigint"),
        ("bucket", 8, ints, "bigint"),
        ("bucket", 8, ["alpha", "beta", ""], "string"),
        ("day", None, dates, "date"),
        ("month", None, dates, "date"),
        ("day", None, stamps, "timestamp"),
        ("month", None, stamps, "timestamp"),
    ]
    for kind, param, values, typ in cases:
        df = spark.createDataFrame([(v,) for v in values], f"v {typ}")
        got = [
            r[0]
            for r in df.select(
                TransactionalTable._transform_key_expr("v", kind, param)
            ).collect()
        ]
        want = [
            TransactionalTable._transform_key_py(v, kind, param)
            for v in values
        ]
        assert got == want, (kind, param, typ, got, want)


def _dated(spark, n=12):
    """n rows, one every 20 days from 2024-01-10 — spans ~8 months."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        "id",
        F.date_add(F.lit("2024-01-10").cast("date"), (F.col("id") * 20).cast("int")).alias("d"),
    )


def test_hidden_partition_month_prune(spark, tmp_path):
    """month(d) layout: a source-column range reads only the months it
    can touch, and the pruned read equals the filtered full read."""
    import datetime as dt

    t = TransactionalTable(str(tmp_path / "t"))
    df = _dated(spark)
    t.commit_partitioned(spark, df, "d", transform="month")
    m = t._manifest(t.current_version())
    assert m["meta"]["partition_transform"] == "month"
    assert m["specs"] == [{"col": "d", "transform": "month"}]
    lo, hi = dt.date(2024, 3, 1), dt.date(2024, 4, 30)
    kept, skipped = t.pruned_dirs_part("d", lo, hi)
    assert skipped and len(kept) == 2  # March + April dirs only
    got = _ids(t.read_pruned_part(spark, "d", lo, hi))
    want = _ids(df.filter((df.d >= lo) & (df.d <= hi)))
    assert got == want and got  # non-trivial and identical


def test_partition_evolution_append_requires_evolve_flag(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    df = _dated(spark)
    t.commit_partitioned(spark, df, "d", transform="day")
    with pytest.raises(ValueError, match="evolve=True"):
        t.commit_partitioned(
            spark, df, "d", mode="append", transform="month"
        )
    # Same-spec append still needs no flag.
    t.commit_partitioned(spark, df, "d", mode="append", transform="day")


def test_partition_evolution_reads_and_prunes_across_specs(spark, tmp_path):
    """day(d) history + month(d) tail: reads union both layouts; a
    range prune decides each dir under its own spec."""
    import datetime as dt

    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = _dated(spark)
    old = df.filter(F.col("id") < 6)
    new = df.filter(F.col("id") >= 6)
    t.commit_partitioned(spark, old, "d", transform="day")
    v2 = t.commit_partitioned(
        spark, new, "d", mode="append", transform="month", evolve=True
    )
    m = t._manifest(v2)
    assert len(m["specs"]) == 2
    assert _ids(t.read(spark)) == list(range(12))  # union of layouts
    # Time travel to v1 still shows only the day-spec half.
    assert _ids(t.read(spark, 1)) == list(range(6))
    # A range prune spanning the spec boundary keeps dirs from BOTH
    # layouts and equals the filtered full read.
    lo, hi = dt.date(2024, 4, 1), dt.date(2024, 8, 31)
    kept, skipped = t.pruned_dirs_part("d", lo, hi)
    day_kept = [d for d in kept if m["dir_spec"][d] == 0]
    month_kept = [d for d in kept if m["dir_spec"][d] == 1]
    assert day_kept and month_kept and skipped
    got = _ids(t.read_pruned_part(spark, "d", lo, hi))
    want = _ids(df.filter((df.d >= lo) & (df.d <= hi)))
    assert got == want and got


def test_replace_on_mixed_specs_raises_until_rewritten(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = _dated(spark)
    t.commit_partitioned(spark, df.filter(F.col("id") < 6), "d", transform="day")
    t.commit_partitioned(
        spark,
        df.filter(F.col("id") >= 6),
        "d",
        mode="append",
        transform="month",
        evolve=True,
    )
    upd = df.filter(F.col("id") == 7)
    key7 = TransactionalTable._transform_key_py(
        df.filter(F.col("id") == 7).collect()[0]["d"], "month", None
    )
    with pytest.raises(ValueError, match="rewrite_partitioned"):
        t.replace_partitions(spark, upd, [key7])
    v = t.rewrite_partitioned(spark)  # unify under the latest (month) spec
    m = t._manifest(v)
    assert m["specs"] == [{"col": "d", "transform": "month"}]
    assert _ids(t.read(spark)) == list(range(12))  # rewrite loses nothing
    t.replace_partitions(spark, upd.limit(0), [key7])  # month-key delete works
    assert key7 not in {
        TransactionalTable._transform_key_py(r["d"], "month", None)
        for r in t.read(spark).collect()
    }


def test_bucket_point_lookup_prunes_to_one_dir(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(64).withColumnRenamed("id", "k")
    t.commit_partitioned(spark, df, "k", transform="bucket[8]")
    kept, skipped = t.pruned_dirs_part_eq("k", 37)
    assert len(kept) == 1 and len(skipped) == 7
    assert [r[0] for r in t.read_eq_part(spark, "k", 37).collect()] == [37]
    # Ranges cannot prune a bucket layout (non-monotone) — all kept.
    kept_r, skipped_r = t.pruned_dirs_part("k", lo=10, hi=12)
    assert len(kept_r) == 8 and not skipped_r


def test_layout_prune_composes_with_stats_and_skips_null_partition(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    # grp keys the layout; id carries min/max stats; one NULL-key row.
    df = spark.range(30).withColumn(
        "grp", F.when(F.col("id") == 29, None).otherwise(F.col("id") % 3)
    )
    t.commit_partitioned(spark, df, "grp", stats_cols=["id"])
    # Predicate on the NON-partition column: layout undecidable, stats
    # cannot split within one snapshot write here (per-dir stats exist),
    # so pruning falls to per-dir id ranges — sound either way.
    kept, _ = t.pruned_dirs_part("id", lo=0, hi=29)
    got = _ids(t.read_pruned_part(spark, "id", 0, 29))
    assert got == list(range(30))  # NULL-grp row has id 29, still read
    # Predicate on the partition column skips the NULL dir.
    kept2, skipped2 = t.pruned_dirs_part("grp", lo=1, hi=1)
    assert len(kept2) == 1 and len(skipped2) == 3  # grp 0,2 + NULL dir
    assert _ids(t.read_pruned_part(spark, "grp", 1, 1)) == [
        i for i in range(29) if i % 3 == 1
    ]


def test_vacuum_after_partition_evolution(spark, tmp_path):
    """Evolution's mixed-layout dirs stay live through vacuum while the
    retention window covers them, and the PRE-rewrite layout is
    reclaimed once rewrite_partitioned retires it out of the window."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = _dated(spark)
    t.commit_partitioned(spark, df.filter(F.col("id") < 6), "d", transform="day")
    t.commit_partitioned(
        spark,
        df.filter(F.col("id") >= 6),
        "d",
        mode="append",
        transform="month",
        evolve=True,
    )
    t.vacuum(keep_versions=2, grace_seconds=0)
    assert _ids(t.read(spark)) == list(range(12))  # mixed layout intact
    assert _ids(t.read(spark, 1)) == list(range(6))  # window honored
    v = t.rewrite_partitioned(spark)
    t.vacuum(keep_versions=1, grace_seconds=0)
    assert t.versions() == [v]
    assert _ids(t.read(spark)) == list(range(12))
    # The unified layout prunes under the single (month) spec.
    m = t._manifest(v)
    assert m["specs"] == [{"col": "d", "transform": "month"}]
    import datetime as dt

    got = _ids(t.read_pruned_part(spark, "d", dt.date(2024, 3, 1), dt.date(2024, 4, 30)))
    want = _ids(
        df.filter((df.d >= dt.date(2024, 3, 1)) & (df.d <= dt.date(2024, 4, 30)))
    )
    assert got == want and got


def test_restore_carries_partition_specs(spark, tmp_path):
    """Restoring a transform-partitioned version must carry the spec
    list with the dirs it describes — a bare partitioned_by marker
    would attribute identity specs to bucket keys and make layout
    pruning skip live data."""
    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(64).withColumnRenamed("id", "k")
    t.commit_partitioned(spark, df, "k", transform="bucket[8]")
    t.commit(spark.range(5).withColumnRenamed("id", "k"), mode="overwrite")
    v = t.restore(1)
    m = t._manifest(v)
    assert m["specs"] == [{"col": "k", "transform": "bucket[8]"}]
    assert m["meta"]["partition_transform"] == "bucket[8]"
    kept, skipped = t.pruned_dirs_part_eq("k", 37, version=v)
    assert len(kept) == 1 and len(skipped) == 7
    assert [r[0] for r in t.read_eq_part(spark, "k", 37, version=v).collect()] == [37]


def test_delete_where_part_drops_interior_rewrites_boundary(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    # Ten rows on distinct days from Jan 10, one NULL-key row.
    df = spark.range(10).select(
        "id",
        F.when(
            F.col("id") == 9, None
        ).otherwise(
            F.date_add(F.lit("2024-01-10").cast("date"), F.col("id").cast("int"))
        ).alias("d"),
    )
    v1 = t.commit_partitioned(spark, df, "d", transform="day")
    before = set(t._manifest(v1)["dirs"])
    # Expire everything up to Jan 13 (aligned bound: day key of the
    # bound is rewritten conservatively, strictly-older days drop).
    v2 = t.delete_where_part(spark, hi=dt.date(2024, 1, 13))
    meta = t.meta_of(v2)
    assert meta["dropped_partitions"] == 3  # Jan 10, 11, 12
    assert meta["rewritten_partitions"] == 1  # Jan 13 (bound key)
    assert meta["untouched_partitions"] == 6  # Jan 14..18 + NULL dir
    after = set(t._manifest(v2)["dirs"])
    # Untouched dirs are carried by identity — zero read, zero write.
    assert len(before & after) == 6  # 5 later days + the NULL dir
    got = sorted(r["id"] for r in t.read(spark, v2).collect())
    assert got == [4, 5, 6, 7, 8, 9]  # Jan 14+ survive; NULL row survives
    # A range that provably matches nothing is a version-free no-op.
    assert t.delete_where_part(spark, hi=dt.date(2023, 6, 1)) == v2


def test_delete_where_part_guards(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(16).withColumnRenamed("id", "k")
    t.commit_partitioned(spark, df, "k", transform="bucket[4]")
    with pytest.raises(ValueError, match="bucket"):
        t.delete_where_part(spark, lo=0, hi=5)
    t2 = TransactionalTable(str(tmp_path / "t2"))
    dd = _dated(spark)
    t2.commit_partitioned(spark, dd.filter(F.col("id") < 6), "d", transform="day")
    t2.commit_partitioned(
        spark, dd.filter(F.col("id") >= 6), "d",
        mode="append", transform="month", evolve=True,
    )
    with pytest.raises(ValueError, match="rewrite_partitioned"):
        t2.delete_where_part(spark, hi=dt.date(2024, 3, 1))
    t3 = TransactionalTable(str(tmp_path / "t3"))
    t3.commit(spark.range(5))
    with pytest.raises(ValueError, match="partitioned layout"):
        t3.delete_where_part(spark, lo=1)


def test_diff_prunes_common_dirs_and_handles_dv_and_evolution(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(
        spark.range(0, 6).withColumn("x", F.col("id") * 2),
        stats_cols=["id"],
    )
    t.commit(
        spark.range(6, 10).withColumn("x", F.col("id") * 2),
        mode="append",
        stats_cols=["id"],
    )
    # v3: MOR delete touches slice 1's dir via a vector (dir set is
    # UNCHANGED — only the DV map distinguishes the versions).
    t.delete_where_dv(spark, "id", lo=1, hi=2)
    # v4: evolved append with a new column.
    t.commit(
        spark.range(10, 12)
        .withColumn("x", F.col("id") * 2)
        .withColumn("y", F.lit("new")),
        mode="append",
    )
    d = {(r["id"], r["_change"], r["y"]) for r in t.diff(spark, 1, 4).collect()}
    want = {(i, "added", None) for i in range(6, 10)} | {
        (i, "added", "new") for i in (10, 11)
    } | {(i, "removed", None) for i in (1, 2)}
    assert d == want
    # v1's dir appears on BOTH sides (its DV changed) — not common;
    # the v2 append dir IS common between v2 and v4 and is pruned.
    old_n, new_n, common = t.diff_dirs(2, 4)
    assert common == 1 and old_n == 1 and new_n == 2
    # Identity diff: nothing changed, everything prunes, zero rows.
    assert t.diff(spark, 4, 4).count() == 0
    assert t.diff_dirs(4, 4) == (0, 0, 3)
    # Reverse diff flips the labels.
    rev = {(r["id"], r["_change"]) for r in t.diff(spark, 4, 1).collect()}
    assert rev == {(i, "removed") for i in range(6, 12)} | {
        (i, "added") for i in (1, 2)
    }


# --- shallow clone (clone_to) ---


def test_clone_reads_source_state_and_diverges_independently(spark, tmp_path):
    src = TransactionalTable(str(tmp_path / "src"))
    src.commit(spark.range(0, 6), stats_cols=["id"])
    src.commit(spark.range(6, 10), mode="append", stats_cols=["id"])
    clone = src.clone_to(str(tmp_path / "dst"))
    assert _ids(clone.read(spark)) == list(range(10))
    # Divergence is two-way invisible.
    clone.commit(spark.range(100, 103), mode="append")
    src.commit(spark.range(200, 201), mode="append")
    assert _ids(clone.read(spark)) == list(range(10)) + [100, 101, 102]
    assert _ids(src.read(spark)) == list(range(10)) + [200]
    # Time travel inside the clone sees the inherited state as its v1.
    assert _ids(clone.read(spark, 1)) == list(range(10))
    # Cloning an older source version is pinned to that version.
    old = src.clone_to(str(tmp_path / "dst_old"), version=1)
    assert _ids(old.read(spark)) == list(range(6))


def test_clone_carries_stats_dv_and_constraints(spark, tmp_path):
    from pyspark.sql import functions as F

    src = TransactionalTable(str(tmp_path / "src"))
    src.commit(spark.range(0, 6), stats_cols=["id"], bloom_cols=["id"])
    src.commit(
        spark.range(6, 12), mode="append", stats_cols=["id"], bloom_cols=["id"]
    )
    src.add_constraint(spark, "id_nonneg", "id >= 0")
    src.delete_where_dv(spark, "id", lo=2, hi=3)
    clone = src.clone_to(str(tmp_path / "dst"))
    # DV rides across the root boundary (row addresses are relative).
    assert _ids(clone.read(spark)) == [0, 1, 4, 5] + list(range(6, 12))
    # Range stats prune inherited dirs from the clone's reads.
    kept, skipped = clone.pruned_dirs("id", lo=7, hi=8)
    assert len(kept) == 1 and len(skipped) == 1
    # Bloom bits survive the re-key: a point probe prunes too.
    keptb, skippedb = clone.pruned_dirs_eq("id", 7)
    assert len(keptb) == 1 and len(skippedb) == 1
    # Constraints gate clone commits exactly as they did on the source.
    with pytest.raises(ValueError, match="id_nonneg"):
        clone.commit(
            spark.range(0, 3).select((F.col("id") - 10).alias("id")),
            mode="append",
        )
    # UNIQUE keys ride the clone too (table properties carry whole).
    src.add_unique(spark, "id")
    clone2 = src.clone_to(str(tmp_path / "dst_uniq"))
    with pytest.raises(ValueError, match="already present"):
        clone2.commit(spark.range(5, 6), mode="append")


def test_clone_vacuum_never_touches_inherited_dirs(spark, tmp_path):
    src = TransactionalTable(str(tmp_path / "src"))
    src.commit(spark.range(0, 5), stats_cols=["id"])
    clone = src.clone_to(str(tmp_path / "dst"))
    clone.commit(spark.range(5, 8), mode="append")
    clone.commit(spark.range(50, 52), mode="overwrite")
    src_snaps = {
        d for d in os.listdir(str(tmp_path / "src")) if d.startswith("snap-")
    }
    deleted = clone.vacuum(keep_versions=1, grace_seconds=0.0)
    # The sweep walks the CLONE's root listing only, so the source's
    # snap dirs are structurally out of reach.
    assert deleted, "the clone's own dead snapshots should age out"
    assert src_snaps == {
        d for d in os.listdir(str(tmp_path / "src")) if d.startswith("snap-")
    }
    assert _ids(src.read(spark)) == list(range(5))


def test_clone_breaks_if_source_vacuums_unpinned_and_tag_prevents_it(
    spark, tmp_path
):
    # The documented shallow-clone retention caveat, both halves.
    src = TransactionalTable(str(tmp_path / "src"))
    src.commit(spark.range(0, 5))
    src.tag("for_clone")  # pin BEFORE cloning: the sound pattern
    pinned = src.clone_to(str(tmp_path / "pinned"))
    src.commit(spark.range(10, 12), mode="overwrite")
    src.vacuum(keep_versions=1, grace_seconds=0.0)
    # Tagged version's dirs survive retention → the clone still reads.
    assert _ids(pinned.read(spark)) == list(range(5))
    # Now the unpinned half: drop the tag, vacuum again → clone breaks.
    src.drop_tag("for_clone")
    deleted = src.vacuum(keep_versions=1, grace_seconds=0.0)
    assert deleted, "the cloned dirs should now age out"
    with pytest.raises(Exception):
        pinned.read(spark).collect()


def test_clone_localizes_via_compact(spark, tmp_path):
    src = TransactionalTable(str(tmp_path / "src"))
    src.commit(spark.range(0, 7), stats_cols=["id"])
    clone = src.clone_to(str(tmp_path / "dst"))
    clone.compact(spark)
    m = clone._manifest(clone.current_version())
    assert all(not os.path.isabs(d) for d in m["dirs"]), m["dirs"]
    # After localization the source can vacuum freely.
    src.commit(spark.range(10, 11), mode="overwrite")
    src.vacuum(keep_versions=1, grace_seconds=0.0)
    assert _ids(clone.read(spark)) == list(range(7))


def test_clone_guards(spark, tmp_path):
    src = TransactionalTable(str(tmp_path / "src"))
    with pytest.raises(ValueError, match="no commits"):
        src.clone_to(str(tmp_path / "dst"))
    src.commit_partitioned(
        spark, spark.range(0, 8).selectExpr("id", "id % 2 AS p"), "p"
    )
    with pytest.raises(ValueError, match="partitioned"):
        src.clone_to(str(tmp_path / "dst"))
    flat = TransactionalTable(str(tmp_path / "flat"))
    flat.commit(spark.range(0, 3))
    with pytest.raises(ValueError, match="does not exist"):
        flat.clone_to(str(tmp_path / "nope"), version=9)
    dst = flat.clone_to(str(tmp_path / "dst2"))
    with pytest.raises(ValueError, match="not empty"):
        flat.clone_to(str(tmp_path / "dst2"))
    # Clone-of-a-clone chains keep resolving (absolute stays absolute).
    dst.commit(spark.range(3, 5), mode="append")
    dd = dst.clone_to(str(tmp_path / "dst3"))
    assert _ids(dd.read(spark)) == list(range(5))


# --- maintenance advisor (maintenance_plan) ---


def _plan_of(t, **kw):
    return {p["action"]: p for p in t.maintenance_plan("id", **kw)}


def test_maintenance_plan_clean_table_triggers_nothing(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    # Two DISJOINT-range commits: clustered layout, no DVs, no history
    # past the keep window.
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.commit(spark.range(5, 10), mode="append", stats_cols=["id"])
    plan = _plan_of(t, keep_versions=2, max_dirs=4, dv_permille=50)
    assert not plan["compact"]["triggered"]
    assert not plan["cluster"]["triggered"] and plan["cluster"]["metric"] == 0
    assert not plan["materialize_dv"]["triggered"]
    assert plan["materialize_dv"]["metric"] == 0
    assert not plan["vacuum"]["triggered"]


def test_maintenance_plan_detects_debt_and_clears_after_action(
    spark, tmp_path
):
    t = TransactionalTable(str(tmp_path / "t"))
    # Overlapping commits (modulo slices) + a heavy DV → all four fire.
    for i in range(3):
        t.commit(
            spark.range(0, 30).filter(f"id % 3 = {i}"),
            mode="overwrite" if i == 0 else "append",
            stats_cols=["id"],
        )
    t.delete_where_dv(spark, "id", lo=0, hi=9)
    plan = _plan_of(t, keep_versions=1, max_dirs=2, dv_permille=50)
    assert plan["compact"]["triggered"]
    assert plan["cluster"]["triggered"] and plan["cluster"]["metric"] == 3
    assert plan["materialize_dv"]["triggered"]
    assert plan["materialize_dv"]["metric"] == 333  # 10 of 30 rows
    assert plan["vacuum"]["triggered"] and plan["vacuum"]["metric"] == 3
    # Acting on the advice clears it: clustered compaction folds dirs,
    # materializes the vector, and restores disjoint ranges...
    t.compact_clustered(spark, "id", n_buckets=2, stats_cols=["id"])
    t.vacuum(keep_versions=1, grace_seconds=0.0)
    after = _plan_of(t, keep_versions=1, max_dirs=2, dv_permille=50)
    assert not after["compact"]["triggered"]
    assert not after["cluster"]["triggered"]
    assert not after["materialize_dv"]["triggered"]
    # ...except history: vacuum reclaims dirs but keeps manifests
    # resolvable for the kept window; older manifests were retired.
    assert not after["vacuum"]["triggered"] or after["vacuum"]["metric"] >= 0


def test_maintenance_plan_counts_statless_dirs_as_overlapping(
    spark, tmp_path
):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.commit(spark.range(100, 105), mode="append")  # no stats recorded
    plan = _plan_of(t, keep_versions=2, max_dirs=4, dv_permille=50)
    # Unknown range must pessimize (overlap), never silently pass.
    assert plan["cluster"]["triggered"] and plan["cluster"]["metric"] == 1


def test_maintenance_plan_dv_permille_counts_statless_dirs(
    spark, tmp_path
):
    # r9 advice: the DV-debt denominator must cover stats-less dirs
    # too (via parquet footers), else mixed-history tables overstate
    # the permille and fully stats-less tables never trigger.
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    t.commit(spark.range(10, 30), mode="append")  # no stats recorded
    t.delete_where_dv(spark, "id", lo=0, hi=2)  # 3 of 30 rows deleted
    plan = _plan_of(t, keep_versions=3, max_dirs=4, dv_permille=50)
    # 3/30 = 100 permille (not 3/10 = 300 from stats-carrying dirs).
    assert plan["materialize_dv"]["metric"] == 100
    assert plan["materialize_dv"]["triggered"]
    # Fully stats-less table: DV debt must still be measurable.
    u = TransactionalTable(str(tmp_path / "u"))
    u.commit(spark.range(0, 10))
    u.delete_where_dv(spark, "id", lo=0, hi=4)  # 5 of 10 rows
    uplan = _plan_of(u, keep_versions=2, max_dirs=4, dv_permille=50)
    assert uplan["materialize_dv"]["metric"] == 500
    assert uplan["materialize_dv"]["triggered"]


def test_maintenance_plan_empty_table_refuses(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="empty"):
        t.maintenance_plan("id")


# --- ANALYZE (stats backfill) ---


def test_analyze_backfills_only_missing_and_is_idempotent(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.commit(spark.range(5, 10), mode="append")  # stats-less
    t.commit(spark.range(10, 15), mode="append", stats_cols=["id"])
    kept, skipped = t.pruned_dirs("id", lo=12, hi=13)
    assert len(kept) == 2  # true match + the unknown dir
    v = t.analyze(spark, stats_cols=["id"])
    assert t.meta_of(v)["analyzed_dirs"] == 1
    kept2, skipped2 = t.pruned_dirs("id", lo=12, hi=13)
    assert len(kept2) == 1 and len(skipped2) == 2
    # Same dirs, same data — analyze is metadata-only.
    assert t._manifest(v)["dirs"] == t._manifest(v - 1)["dirs"]
    assert _ids(t.read(spark)) == list(range(15))
    # Nothing left to backfill → no empty commit, version unchanged.
    assert t.analyze(spark, stats_cols=["id"]) == v


def test_analyze_backfills_bloom_and_preserves_dv(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 8), stats_cols=["id"])   # stats but no bloom
    t.commit(spark.range(8, 16), mode="append")      # nothing at all
    t.delete_where_dv(spark, "id", lo=2, hi=3)
    v = t.analyze(spark, stats_cols=["id"], bloom_cols=["id"])
    assert t.meta_of(v)["analyzed_dirs"] == 2  # both lacked bloom
    keptb, skippedb = t.pruned_dirs_eq("id", 12)
    assert len(keptb) == 1 and len(skippedb) == 1
    # The deletion vector rides across the metadata-only version.
    assert _ids(t.read(spark)) == [0, 1] + list(range(4, 16))


def test_analyze_is_feed_safe_and_guards_empty(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="empty"):
        t.analyze(spark, stats_cols=["id"])
    t.commit(spark.range(0, 4))
    t.commit(spark.range(4, 8), mode="append")
    v = t.analyze(spark, stats_cols=["id"])
    t.commit(spark.range(8, 10), mode="append", stats_cols=["id"])
    # The change feed reads straight across the analyze version (it is
    # append-shaped: same dirs, no boundary).
    delta = t.read_changes(spark, from_version=2, to_version=v + 1)
    assert _ids(delta) == [8, 9]


# --- UNIQUE keys (add_unique / _validate_unique) ---


def test_unique_blocks_batch_dups_and_existing_clashes(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.add_unique(spark, "id")
    with pytest.raises(ValueError, match=r"duplicate keys inside"):
        t.commit(
            spark.range(10, 12).unionAll(spark.range(10, 11)), mode="append"
        )
    with pytest.raises(ValueError, match=r"already present"):
        t.commit(spark.range(4, 6), mode="append")
    # The failed commits left no orphan state: version unchanged, clean
    # append still lands.
    v = t.commit(spark.range(5, 10), mode="append", stats_cols=["id"])
    assert _ids(t.read(spark, v)) == list(range(10))


def test_unique_probe_is_range_pruned_and_receipted(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 9, 2), stats_cols=["id"])  # evens 0..8
    t.add_unique(spark, "id")
    # Range-disjoint append: stats prove uniqueness, ZERO dirs scanned.
    v = t.commit(spark.range(100, 105), mode="append", stats_cols=["id"])
    assert t.meta_of(v)["unique_probe_dirs"] == 0
    # Interleaved-but-clean append (odds inside the evens' [0, 8]
    # range): exactly the one overlapping dir is read for the
    # existence check, and it passes.
    v2 = t.commit(spark.range(1, 8, 2), mode="append", stats_cols=["id"])
    assert t.meta_of(v2)["unique_probe_dirs"] == 1
    assert t.read(spark, v2).count() == 14


def test_unique_exempts_nulls_and_respects_dv(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"])
    t.add_unique(spark, "id")
    nulls = spark.range(2).select(F.lit(None).cast("long").alias("id"))
    v = t.commit(nulls.unionAll(spark.range(20, 22)), mode="append")
    assert t.read(spark, v).count() == 9
    # A DV-deleted key is reusable: the overlap scan reads through the
    # deletion vector.
    t.delete_where_dv(spark, "id", lo=3, hi=3)
    v2 = t.commit(spark.range(3, 4), mode="append")
    assert sorted(
        r[0] for r in t.read(spark, v2).select("id").collect() if r[0] is not None
    ) == [0, 1, 2, 3, 4, 20, 21]


def test_unique_lifecycle_guards(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="committed table"):
        t.add_unique(spark, "id")
    t.commit(spark.range(3).unionAll(spark.range(3)))
    with pytest.raises(ValueError, match="existing data violates"):
        t.add_unique(spark, "id")
    t.commit(spark.range(3), mode="overwrite")
    t.add_unique(spark, "id")
    with pytest.raises(ValueError, match="already recorded"):
        t.add_unique(spark, "id")
    # The key survives overwrite (table property) and releases cleanly.
    t.commit(spark.range(7), mode="overwrite")
    with pytest.raises(ValueError, match="already present"):
        t.commit(spark.range(0, 1), mode="append")
    t.drop_unique("id")
    t.commit(spark.range(0, 1), mode="append")  # now admitted
    with pytest.raises(ValueError, match="not recorded"):
        t.drop_unique("id")


def test_unique_gates_partitioned_commits_and_replace(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 12).select("id", (F.col("id") % 3).alias("p"))
    t.commit_partitioned(spark, df, "p", stats_cols=["id"])
    t.add_unique(spark, "id")
    # Partitioned append with a clashing key is refused like plain ones.
    with pytest.raises(ValueError, match="already present"):
        t.commit_partitioned(
            spark,
            spark.range(11, 13).select("id", (F.col("id") % 3).alias("p")),
            "p",
            mode="append",
        )
    # A clean disjoint partitioned append still lands.
    t.commit_partitioned(
        spark,
        spark.range(100, 103).select("id", (F.col("id") % 3).alias("p")),
        "p",
        mode="append",
        stats_cols=["id"],
    )
    # replace_partitions may REUSE keys of the partitions it replaces…
    t.replace_partitions(
        spark,
        spark.range(0, 12, 3).select("id", (F.col("id") % 3).alias("p")),
        parts=[0],
    )
    # …but not keys that live in the SURVIVING partitions (id=2 is in
    # partition 2; here it arrives as a partition-1 row).
    with pytest.raises(ValueError, match="already present"):
        t.replace_partitions(
            spark,
            spark.createDataFrame([(2, 1)], "id: bigint, p: bigint"),
            parts=[1],
        )


def test_clone_refuses_partitioned_head_even_after_dv(spark, tmp_path):
    # delete_where_dv on a partitioned table keeps meta.partitioned_by
    # but the guard must still fire (review finding: a top-level-only
    # check silently admitted this head and dropped the layout).
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit_partitioned(
        spark,
        spark.range(0, 12).select("id", (F.col("id") % 3).alias("p")),
        "p",
        stats_cols=["id"],
    )
    t.delete_where_dv(spark, "id", lo=0, hi=1)
    with pytest.raises(ValueError, match="partitioned"):
        t.clone_to(str(tmp_path / "dst"))


def test_analyze_refuses_empty_stats_cols(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 4))
    v = t.current_version()
    with pytest.raises(ValueError, match="at least one stats column"):
        t.analyze(spark, stats_cols=[])
    assert t.current_version() == v  # no do-nothing version minted


def test_concurrent_unique_writers_validate_against_cas_base(spark, tmp_path):
    """UNIQUE enforcement under real write racing: validation runs
    against the same manifest the CAS serializes on (base -> base+1),
    so a loser always re-validates against the winner's state on
    retry — the classic check-then-link TOCTOU cannot admit duplicate
    keys. Disjoint writers must all land; clashing writers must end
    with the UNIQUE violation (not spin on CommitConflict, not land);
    the final table must hold no duplicate keys."""
    import threading

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10), stats_cols=["id"])
    t.add_unique(spark, "id")
    results: dict[str, str] = {}

    def writer(name: str, lo: int, hi: int) -> None:
        for _ in range(40):
            try:
                t.commit(spark.range(lo, hi), mode="append", stats_cols=["id"])
                results[name] = "committed"
                return
            except CommitConflict:
                continue
            except ValueError as e:
                # Record, don't assert: an AssertionError in a worker
                # thread is swallowed by threading and the main thread
                # would die with an unrelated KeyError — classify here,
                # judge in the main thread (review finding).
                results[name] = (
                    "unique_violation"
                    if "UNIQUE" in str(e)
                    else f"wrong_error:{e}"
                )
                return
        results[name] = "exhausted"

    threads = [
        threading.Thread(target=writer, args=(f"disjoint{i}", 100 * (i + 1),
                                              100 * (i + 1) + 10))
        for i in range(3)
    ] + [
        threading.Thread(target=writer, args=(f"clash{i}", 5, 8))
        for i in range(2)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert all(
        results.get(f"disjoint{i}") == "committed" for i in range(3)
    ), results
    assert all(
        results.get(f"clash{i}") == "unique_violation" for i in range(2)
    ), results
    ids = [r["id"] for r in t.read(spark).collect()]
    assert len(ids) == len(set(ids)) == 40  # 10 seed + 3x10 disjoint


def test_commit_stats_match_readback(spark, tmp_path):
    """Single-pass commit stats (observed during the write) must equal
    what a re-read of the written snapshot aggregates — the exactness
    contract the optimization-round rewrite of the stats path rests on,
    across numeric / string / timestamp columns, an append, and an
    all-NULL stats column."""
    import datetime as dt

    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 100).select(
        F.col("id"),
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 3, "0")).alias(
            "name"
        ),
        (
            F.lit(dt.datetime(2024, 1, 1))
            + F.make_interval(hours=F.col("id").cast("int"))
        ).alias("ts"),
        F.lit(None).cast("double").alias("hole"),
    )
    v1 = t.commit(df, stats_cols=["id", "name", "ts", "hole"])
    t.commit(
        df.filter("id >= 90"), mode="append", stats_cols=["id", "name", "ts"]
    )

    m = t._manifest(t.current_version())
    for d, entry in m["stats"].items():
        back = spark.read.parquet(os.path.join(t.path, d))
        assert entry["rows"] == back.count()
        for c, (lo, hi) in entry["cols"].items():
            row = back.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
            norm = lambda v: v.isoformat() if hasattr(v, "isoformat") else v
            assert lo == norm(row["lo"]) and hi == norm(row["hi"]), (d, c)
    # The all-NULL column records [None, None], exactly as the read-back
    # aggregate would.
    v1_dir = t._manifest(v1)["dirs"][0]
    assert m["stats"][v1_dir]["cols"]["hole"] == [None, None]
    # Stats-driven pruning still works end to end on the observed stats:
    # [95, 99] intersects both dirs; [101, 200] prunes both.
    kept, skipped = t._range_prune(m, "id", 95, 99)
    assert len(kept) == 2 and skipped == []
    kept, skipped = t._range_prune(m, "id", 101, 200)
    assert kept == [] and len(skipped) == 2


def test_partitioned_write_clusters_one_file_per_subdir(spark, tmp_path):
    """The pre-write hash distribution on the partition key (Iceberg's
    write.distribution-mode=hash) must bound the fanout: each sub-dir
    holds whole key groups instead of one sliver per input task, so a
    32-task input no longer writes tasks x keys files."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 1000).repartition(8).select(
        F.col("id"), (F.col("id") % 5).alias("cell")
    )
    t.commit_partitioned(spark, df, "cell", stats_cols=["id"])
    snap = [d for d in os.listdir(t.path) if d.startswith("snap-")][0]
    for sub in os.listdir(os.path.join(t.path, snap)):
        p = os.path.join(t.path, snap, sub)
        if os.path.isdir(p):
            parts = [f for f in os.listdir(p) if f.endswith(".parquet")]
            assert len(parts) == 1, (sub, parts)
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(1000))


def test_empty_batch_observed_stats_fallback(spark, tmp_path):
    """AQE's empty-relation propagation can eliminate the CollectMetrics
    node from a zero-row write; the stats/guard fallbacks must stay
    exact (rows=0, all-None extents) instead of crashing or silently
    skipping the lossy-key guard."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    base = spark.range(0, 30).select(
        F.col("id"), (F.col("id") % 3).alias("cell")
    )
    t.commit_partitioned(spark, base, "cell", stats_cols=["id"])
    # Pure partition delete: zero-row replacement batch through the
    # partitioned write (the shape that loses its metrics under AQE).
    empty = base.filter("id < 0").localCheckpoint(eager=True)
    v = t.replace_partitions(spark, empty, [1], stats_cols=["id"])
    got = sorted(r["id"] for r in t.read(spark, v).collect())
    assert got == [i for i in range(30) if i % 3 != 1]
    # Plain commit of an empty checkpointed batch with stats: entry is
    # exact-empty, appended version still reads clean.
    v2 = t.commit(empty.select("id", "cell"), mode="append", stats_cols=["id"])
    m = t._manifest(v2)
    new_dir = m["dirs"][-1]
    e = m["stats"].get(new_dir)
    if e is not None:  # zero-task writes may leave no readable part files
        assert e["rows"] == 0 and e["cols"]["id"] == [None, None]
    assert sorted(r["id"] for r in t.read(spark, v2).collect()) == got


def test_commit_bloom_matches_readback(spark, tmp_path):
    """Single-pass bloom bitmaps (observed during the write as
    collect_set of hash positions) must equal what the old read-back
    path computes over the written snapshot — OR over every row's
    positions is the same bitmap as OR over the distinct values',
    across an int key, a string key, NULLs, and an empty batch."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.sources.transact import _snapshot_bloom

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 200).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 13).cast("string")))
        .alias("tag"),
    )
    t.commit(df, bloom_cols=["id", "tag"])
    m = t._manifest(t.current_version())
    d = m["dirs"][0]
    entry = m["stats"][d]["bloom"]
    back = _snapshot_bloom(
        spark.read.parquet(os.path.join(t.path, d)), ["id", "tag"]
    )
    assert entry == back
    assert entry["id"]["type"] == "bigint" and entry["tag"]["type"] == "string"
    # Empty appended batch: all-zero bitmap, exactly as the read-back
    # would compute (and the commit survives the AQE metrics hazard).
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    empty = spark.createDataFrame(
        [], StructType([StructField("id", LongType()), StructField("tag", StringType())])
    ).localCheckpoint(eager=True)
    v2 = t.commit(empty, mode="append", bloom_cols=["id"])
    e2 = t._manifest(v2)["stats"].get(t._manifest(v2)["dirs"][-1])
    if e2 is not None:
        assert e2["bloom"]["id"]["hex"] == "0"


def test_commit_constraint_folded_into_write(spark, tmp_path):
    """CHECK validation rides the write as observed violation counts:
    a violating commit raises the identical ValueError, publishes no
    version, and leaves no orphan snap dir; a passing commit records
    the same stats as ever."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 50).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t.commit(df, stats_cols=["id"])
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    before_dirs = sorted(
        d for d in os.listdir(t.path) if d.startswith("snap-")
    )
    v_before = t.current_version()
    bad = spark.range(0, 10).select(
        (F.col("id") + 1000).alias("id"), (F.col("id") - 5).alias("v")
    )
    with pytest.raises(ValueError, match="violates CHECK constraint"):
        t.commit(bad, mode="append", stats_cols=["id"])
    assert t.current_version() == v_before
    after_dirs = sorted(d for d in os.listdir(t.path) if d.startswith("snap-"))
    assert after_dirs == before_dirs  # violating snap was removed
    # Passing append still records exact stats in the same single pass.
    ok = spark.range(100, 120).select(F.col("id"), (F.col("id") * 3).alias("v"))
    v2 = t.commit(ok, mode="append", stats_cols=["id"])
    m = t._manifest(v2)
    assert m["stats"][m["dirs"][-1]]["cols"]["id"] == [100, 119]
    # Add-only append omitting a recorded column still validates via the
    # padded pre-write path (`v IS NOT NULL`-style constraints can fail
    # on the omitted column).
    t.add_constraint(spark, "v_present", "v IS NOT NULL")
    with pytest.raises(ValueError, match="v_present"):
        t.commit(
            spark.range(200, 210).select("id"),
            mode="append",
            stats_cols=["id"],
        )
    assert t.current_version() == v2 + 1  # only add_constraint's bump


def test_grouped_footer_stats_match_spark_agg(spark, tmp_path):
    """Partitioned/clustered manifest stats now come from the parquet
    footers of the files just written (zero Spark jobs); they must be
    byte-identical to the grouped Spark aggregate across int and string
    columns, NULLs, and every sub-dir."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 4).alias("cell"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.concat(F.lit("k"), F.lpad((F.col("id") % 17).cast("string"), 2, "0")))
        .alias("name"),
    )
    t.commit_partitioned(spark, df, "cell", stats_cols=["id", "name"])
    m = t._manifest(t.current_version())
    assert len(m["stats"]) == 4
    for d, entry in m["stats"].items():
        back = spark.read.parquet(os.path.join(t.path, d))
        assert entry["rows"] == back.count(), d
        for c, (lo, hi) in entry["cols"].items():
            row = back.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
            assert lo == row["lo"] and hi == row["hi"], (d, c)


def test_grouped_footer_stats_fallback_exact(spark, tmp_path):
    """Columns whose footer stats are not provably exact (timestamps,
    doubles, oversized strings) must take the grouped-aggregate
    fallback and still record the exact extents."""
    import datetime as dt

    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 40).select(
        F.col("id"),
        (F.col("id") % 3).alias("cell"),
        (
            F.lit(dt.datetime(2024, 6, 1))
            + F.make_interval(hours=F.col("id").cast("int"))
        ).alias("ts"),
        (F.col("id") / 7.0).alias("score"),
        F.concat(F.lit("x"), F.rpad((F.col("id") % 5).cast("string"), 3000, "y")).alias("blob"),
    )
    t.commit_partitioned(
        spark, df, "cell", stats_cols=["id", "ts", "score", "blob"]
    )
    m = t._manifest(t.current_version())
    norm = lambda v: v.isoformat() if hasattr(v, "isoformat") else v
    for d, entry in m["stats"].items():
        back = spark.read.parquet(os.path.join(t.path, d))
        assert entry["rows"] == back.count(), d
        for c, (lo, hi) in entry["cols"].items():
            row = back.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
            assert lo == norm(row["lo"]) and hi == norm(row["hi"]), (d, c)
