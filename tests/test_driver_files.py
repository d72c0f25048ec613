"""The driver path's file read (``operators/driver.py::collect_small``):
a relation that is a plain scan of local parquet files is read from
them with ``pyarrow.dataset``, with no Spark job; every other relation
is collected from a Spark job. Each case compares the result with
``toArrow`` (same sorted rows, same schema) and counts the Spark jobs
the call ran, which tells which read served it."""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pytest

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _collect(spark, rel):
    """(``collect_small(rel)``, number of Spark jobs it ran)."""
    from mapreduceindexer_spark.operators import driver

    sc = spark.sparkContext
    group = f"driver-files-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "collect_small")
    try:
        table = driver.collect_small(rel)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return table, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(table) -> list:
    return sorted(table.to_pylist(), key=repr)


def _same_as_to_arrow(spark, rel, jobs: bool):
    """Assert ``collect_small(rel)`` equals ``rel.toArrow()`` and ran a
    Spark job iff ``jobs``; return the rows."""
    table, n_jobs = _collect(spark, rel)
    assert (n_jobs > 0) == jobs, n_jobs
    want = rel.toArrow()
    assert table.schema == want.schema
    assert _rows(table) == _rows(want)
    return _rows(table)


def _write(spark, path, rows, ddl="doc_id bigint, text string", parts=3, mode="error"):
    spark.createDataFrame(rows, ddl).repartition(parts).write.mode(mode).parquet(str(path))
    return str(path)


ROWS = [(i, f"text {i % 4}") for i in range(12)]


# -- the file read -----------------------------------------------------------


def test_several_part_files(spark, tmp_path):
    path = _write(spark, tmp_path / "d", ROWS, parts=4)
    rel = spark.read.parquet(path)
    assert len(rel.inputFiles()) == 4
    assert len(_same_as_to_arrow(spark, rel, jobs=False)) == 12
    # A projection of bare columns, in any order, is a plain scan too.
    _same_as_to_arrow(spark, rel.select("text", "doc_id"), jobs=False)
    _same_as_to_arrow(spark, rel.select("text"), jobs=False)


def test_side_files_are_not_read(spark, tmp_path):
    path = _write(spark, tmp_path / "d", ROWS)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    for junk in ("_tmp-part-0.parquet", ".part-9.parquet"):
        with open(os.path.join(path, junk), "wb") as f:
            f.write(b"not parquet")
    os.mkdir(os.path.join(path, "_temporary"))
    assert len(_same_as_to_arrow(spark, spark.read.parquet(path), jobs=False)) == 12


def test_zero_row_file_among_others(spark, tmp_path):
    import pyarrow.parquet as pq

    path = _write(spark, tmp_path / "d", ROWS)
    _write(spark, path, [], parts=1, mode="append")
    rel = spark.read.parquet(path)
    counts = [pq.ParquetFile(f[len("file:"):]).metadata.num_rows for f in rel.inputFiles()]
    assert 0 in counts and sum(counts) == 12
    _same_as_to_arrow(spark, rel, jobs=False)


def test_empty_directory_of_one_zero_row_file(spark, tmp_path):
    path = _write(spark, tmp_path / "d", [], parts=1)
    assert _same_as_to_arrow(spark, spark.read.parquet(path), jobs=False) == []


def test_path_with_space_percent_and_non_ascii(spark, tmp_path):
    path = _write(spark, tmp_path / "a dir%20 wörld", ROWS)
    rel = spark.read.parquet(path)
    assert all("%20" in f for f in rel.inputFiles())  # the space, encoded
    assert len(_same_as_to_arrow(spark, rel, jobs=False)) == 12


@pytest.mark.parametrize("ddl", ["doc_id bigint, text string", "doc_id string, text string"])
def test_ids_with_nulls_and_duplicates(spark, tmp_path, ddl):
    rows = [(1, "a"), (1, "b"), (None, "c"), (2, None), (None, None), (3, "é 中文")]
    if ddl.startswith("doc_id string"):
        rows = [(None if i is None else str(i), t) for i, t in rows]
    path = _write(spark, tmp_path / "d", rows, ddl)
    got = _same_as_to_arrow(spark, spark.read.parquet(path), jobs=False)
    assert len(got) == 6


def test_path_glob_filter(spark, tmp_path):
    path = _write(spark, tmp_path / "d", ROWS)
    other = _write(spark, tmp_path / "o", [(99, "other")], parts=1)
    (part,) = [n for n in os.listdir(other) if n.endswith(".parquet")]
    os.rename(os.path.join(other, part), os.path.join(path, "extra.parquet.keep"))
    assert len(spark.read.parquet(path).collect()) == 13
    rel = spark.read.option("pathGlobFilter", "*.parquet").parquet(path)
    got = _same_as_to_arrow(spark, rel, jobs=False)
    assert {r["doc_id"] for r in got} == set(range(12))


def test_other_flat_types(spark, tmp_path):
    ddl = "b boolean, i8 tinyint, i16 smallint, i32 int, f float, d double, bin binary"
    rows = [(True, 1, 2, 3, 1.5, float("-inf"), b"\x00\xff"), (None, None, None, None, None, None, None)]
    path = _write(spark, tmp_path / "d", rows, ddl, parts=2)
    _same_as_to_arrow(spark, spark.read.parquet(path), jobs=False)


# -- the job read ------------------------------------------------------------


def test_filter_takes_the_job_read(spark, tmp_path):
    from pyspark.sql import functions as F

    rel = spark.read.parquet(_write(spark, tmp_path / "d", ROWS))
    assert len(_same_as_to_arrow(spark, rel.filter(F.col("doc_id") > 3), jobs=True)) == 8
    _same_as_to_arrow(spark, rel.select(F.upper("text").alias("text")), jobs=True)


def test_partitioned_directory_takes_the_job_read(spark, tmp_path):
    path = str(tmp_path / "p")
    spark.createDataFrame(ROWS, "doc_id bigint, text string").write.partitionBy("text").parquet(path)
    rel = spark.read.parquet(path)
    _same_as_to_arrow(spark, rel, jobs=True)
    # Only data columns selected: still a scan of a partitioned relation.
    _same_as_to_arrow(spark, rel.select("doc_id"), jobs=True)


def test_partition_column_also_stored_in_the_files(spark, tmp_path):
    """The directory's key, not the files' column of the same name, is
    what Spark returns."""
    path = tmp_path / "p"
    _write(spark, path / "k=5", [(1, 7), (2, 8)], "doc_id bigint, k bigint", parts=1)
    rel = spark.read.parquet(str(path))
    got = _same_as_to_arrow(spark, rel.select("doc_id", "k"), jobs=True)
    assert [r["k"] for r in got] == [5, 5]


def test_metadata_column_takes_the_job_read(spark, tmp_path):
    rel = spark.read.parquet(_write(spark, tmp_path / "d", ROWS))
    table, n_jobs = _collect(spark, rel.select("doc_id", "_metadata"))
    assert n_jobs > 0 and table.num_rows == 12


def test_upper_case_file_column_read_case_insensitively(spark, tmp_path):
    path = _write(spark, tmp_path / "d", ROWS, "ID bigint, Text string")
    rel = spark.read.schema("id bigint, text string").parquet(path)
    got = _same_as_to_arrow(spark, rel, jobs=True)
    assert {r["id"] for r in got} == set(range(12))


def test_int_file_column_under_a_long_schema(spark, tmp_path):
    path = _write(spark, tmp_path / "d", ROWS, "doc_id int, text string")
    rel = spark.read.schema("doc_id bigint, text string").parquet(path)
    assert len(_same_as_to_arrow(spark, rel, jobs=True)) == 12


def test_user_schema_with_a_column_some_files_lack(spark, tmp_path):
    path = _write(spark, tmp_path / "d", ROWS, parts=2)
    _write(spark, path, [(50, "x", 7)], "doc_id bigint, text string, extra bigint", 1, "append")
    rel = spark.read.schema("doc_id bigint, text string, extra bigint").parquet(path)
    got = _same_as_to_arrow(spark, rel, jobs=True)
    assert sum(r["extra"] is None for r in got) == 12


def test_corrupt_file_ignored_by_spark(spark, tmp_path):
    path = _write(spark, tmp_path / "d", ROWS)
    with open(os.path.join(path, "part-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet file PAR1")
    with _conf(spark, "spark.sql.files.ignoreCorruptFiles", "true"):
        rel = spark.read.parquet(path)
        assert len(_same_as_to_arrow(spark, rel, jobs=True)) == 12


def test_missing_file_ignored_by_spark(spark, tmp_path):
    path = _write(spark, tmp_path / "d", ROWS, parts=2)
    with _conf(spark, "spark.sql.files.ignoreMissingFiles", "true"):
        rel = spark.read.parquet(path)
        os.remove(rel.inputFiles()[0][len("file:"):])
        assert len(_same_as_to_arrow(spark, rel, jobs=True)) < 12


def test_bytes_over_the_threshold_return_none(spark, tmp_path):
    """The file read stops at the first batch past the threshold, as the
    job read does, and runs no job to find it out."""
    rel = spark.read.parquet(_write(spark, tmp_path / "d", ROWS))
    size = _collect(spark, rel)[0].nbytes
    with _conf(spark, THRESHOLD, size):
        assert _collect(spark, rel)[0].nbytes == size
    with _conf(spark, THRESHOLD, size - 1):
        assert _collect(spark, rel) == (None, 0)


def test_max_result_size_bounds_the_file_read(spark, tmp_path):
    """The file read brings no more into the driver than a collect may:
    a result over ``spark.driver.maxResultSize`` gives None."""
    conf = spark.sparkContext._jsc.sc().conf()
    old = conf.get("spark.driver.maxResultSize", "1g")
    rel = spark.read.parquet(_write(spark, tmp_path / "d", [(i, "x" * 200) for i in range(10)]))
    conf.set("spark.driver.maxResultSize", "1k")
    try:
        assert _collect(spark, rel) == (None, 0)
    finally:
        conf.set("spark.driver.maxResultSize", old)


def test_threshold_off_takes_the_job_read(spark, tmp_path):
    rel = spark.read.parquet(_write(spark, tmp_path / "d", ROWS))
    with _conf(spark, THRESHOLD, -1):
        table, n_jobs = _collect(spark, rel)
    assert table is None and n_jobs > 0
