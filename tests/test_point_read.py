"""Point reads served on the driver (``TransactionalTable._point_read``):
a small delete-free slice is read with Arrow and returned as a local
relation; every other slice is scanned by Spark. Each test reads the
same rows through both paths — the second time with the driver path
switched off on the instance — and asserts identical rows and schema,
and that the expected path actually ran."""

from __future__ import annotations

import pytest

from mapreduceindexer_spark.sources.transact import TransactionalTable


def _spy(t: TransactionalTable) -> list:
    """Record each ``_driver_files`` decision of ``t``: None means the
    read fell back to Spark, else (schema, files read on the driver)."""
    calls = []
    inner = t._driver_files

    def spy(*args):
        out = inner(*args)
        calls.append(out)
        return out

    t._driver_files = spy
    return calls


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _schemas(df):
    # df.schema of a local relation is the one handed to createDataFrame;
    # select("*") re-derives it from the JVM plan.
    return df.schema, df.select("*").schema


def _both(t: TransactionalTable, read, driver: bool):
    """Run ``read()`` on ``t`` as is, then with the driver path off;
    assert the two give the same rows and schema and that the first
    took the driver path iff ``driver``. Returns the rows."""
    calls = _spy(t)
    fast = read()
    assert calls and (calls[-1] is not None) == driver, calls
    fast_rows, fast_schemas = _rows(fast), _schemas(fast)
    t._driver_files = lambda *args: None
    try:
        slow = read()
        assert _rows(slow) == fast_rows
        assert _schemas(slow) == fast_schemas
    finally:
        del t._driver_files
    return fast_rows


def test_driver_read_collects_without_a_job(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 30).withColumn("s", F.col("id").cast("string")),
             stats_cols=["id"], bloom_cols=["id"])
    df = t.scan(spark, t.plan({"id": [7]}))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    sc = spark.sparkContext
    sc.setJobGroup("point-read-probe", "point read")
    try:
        assert [tuple(r) for r in df.collect()] == [(7, "7")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("point-read-probe") == []


def test_evolved_schema_reads_new_column_as_null(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10).withColumn("a", F.col("id").cast("string")),
             stats_cols=["id"])
    t.commit(
        spark.range(10, 20).withColumn("a", F.col("id").cast("string"))
        .withColumn("b", (F.col("id") * 2).cast("int")),
        mode="append", stats_cols=["id"],
    )
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [3]})), True) == [
        (3, "3", None)]
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [13]})), True) == [
        (13, "13", 26)]
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [3, 13, 99]})), True) == [
        (13, "13", 26), (3, "3", None)]
    # Time travel to v1 shows v1's schema: no column b.
    v1 = t.scan(spark, t.plan({"id": [3]}, 1))
    assert v1.columns == ["id", "a"]
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [3]}, 1)), True) == [(3, "3")]


def test_time_travel_reads_the_old_version(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10).withColumn("p", F.lit(1)), stats_cols=["id"])
    t.commit(spark.range(0, 10).withColumn("p", F.lit(2)), stats_cols=["id"])
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [4]}, 1)), True) == [(4, 1)]
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [4]})), True) == [(4, 2)]


def test_branch_view_reads_its_own_head(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5), stats_cols=["id"], bloom_cols=["id"])
    b = t.branch("audit")
    b.commit(spark.range(100, 105), mode="append", stats_cols=["id"], bloom_cols=["id"])
    assert _both(b, lambda: b.scan(spark, b.plan({"id": [101]})), True) == [(101,)]
    assert _both(b, lambda: b.scan(spark, b.plan({"id": [2]})), True) == [(2,)]
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [101]})), True) == []


def test_deletion_vectors_and_equality_deletes_fall_back(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 20).withColumn("p", F.lit(0)), stats_cols=["id"])
    t.delete_where_dv(spark, "id", lo=5, hi=6)
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [5]})), False) == []
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [7]})), False) == [(7, 0)]
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [4, 5, 6]})), False) == [(4, 0)]
    # The version before the vector has none: served on the driver.
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [5]}, 1)), True) == [(5, 0)]

    e = TransactionalTable(str(tmp_path / "e"))
    e.commit(spark.range(0, 20).withColumn("p", F.lit(0)), stats_cols=["id"])
    e.upsert_eq(spark, spark.range(3, 4).withColumn("p", F.lit(9)), "id", stats_cols=["id"])
    e.delete_eq(spark, spark.range(8, 9), "id")
    assert _both(e, lambda: e.scan(spark, e.plan({"id": [3]})), False) == [(3, 9)]
    assert _both(e, lambda: e.scan(spark, e.plan({"id": [8]})), False) == []
    assert _both(e, lambda: e.scan(spark, e.plan({"id": [9]})), False) == [(9, 0)]


def test_probe_of_another_type_than_the_key_falls_back(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10).withColumn("s", F.col("id").cast("string")),
             stats_cols=["id"])
    # Spark casts the string probe to the key's type; Arrow would not.
    assert _both(t, lambda: t.scan(spark, t.plan({"id": ["7"]})), False) == [(7, "7")]
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [3, "4"]})), False) == [
        (3, "3"), (4, "4")]
    assert _both(t, lambda: t.scan(spark, t.plan({"s": [7]})), False) == [(7, "7")]
    # An integral probe outside the key column's range.
    i = TransactionalTable(str(tmp_path / "i"))
    i.commit(spark.range(0, 10).select(F.col("id").cast("int").alias("k")))
    assert _both(i, lambda: i.scan(spark, i.plan({"k": [2**40]})), False) == []
    assert _both(i, lambda: i.scan(spark, i.plan({"k": [2]})), True) == [(2,)]
    # On a bucket layout a probe's bucket is its key's only when str()
    # renders it like Spark's string cast: float and bool probes are
    # refused, and a string probe of a bigint key (or the reverse)
    # keeps every bucket, so the rows are those of a filtered full read.
    rows = spark.range(0, 40).withColumn("s", F.col("id").cast("string"))
    b = TransactionalTable(str(tmp_path / "b"))
    b.commit_partitioned(spark, rows, "id", transform="bucket[8]", stats_cols=["id"])
    bs = TransactionalTable(str(tmp_path / "bs"))
    bs.commit_partitioned(spark, rows, "s", transform="bucket[8]", stats_cols=["s"])
    for bad in (1.0, 7.0, True):
        with pytest.raises(TypeError, match="int or str"):
            b.read_eq_part(spark, "id", bad)
    for table, col, probe in ((b, "id", "7"), (bs, "s", 7)):
        want = _rows(table.read(spark).filter(F.col(col) == probe))
        assert want == [(7, "7")]
        assert _both(table, lambda: table.read_eq_part(spark, col, probe), False) == want


def test_slice_over_the_size_bound_falls_back(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 50), stats_cols=["id"])
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "16")
        assert _both(t, lambda: t.scan(spark, t.plan({"id": [7]})), False) == [(7,)]
        spark.conf.set(key, "-1")
        assert _both(t, lambda: t.scan(spark, t.plan({"id": [7]})), False) == [(7,)]
        spark.conf.set(key, "1m")
        assert _both(t, lambda: t.scan(spark, t.plan({"id": [7]})), True) == [(7,)]
    finally:
        spark.conf.set(key, old)


def test_empty_kept_set(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 10).withColumn("v", F.array(F.col("id"))),
             stats_cols=["id"], bloom_cols=["id"])
    assert t.plan({"id": [999]}).kept == []
    assert _both(t, lambda: t.scan(spark, t.plan({"id": [999]})), True) == []
    assert _both(t, lambda: t.scan(spark, t.plan({"id": []})), True) == []
    p = TransactionalTable(str(tmp_path / "p"))
    p.commit_partitioned(spark, spark.range(0, 10).withColumn("v", F.array(F.col("id"))),
                         "id", transform="bucket[4]", stats_cols=["id"])
    kept, _ = p.pruned_dirs_part_eq("id", 999)
    assert len(kept) <= 1
    assert _both(p, lambda: p.read_eq_part(spark, "id", 999), True) == []


def test_read_eq_part_prunes_through_the_instance_hook(spark, tmp_path):
    """``read_eq_part`` reads the dirs that the instance's
    ``pruned_dirs_part_eq`` returns, so a tracer that wraps that
    attribute times the term lookup's prune and counts its dirs."""
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit_partitioned(spark, spark.range(0, 40), "id", transform="bucket[8]",
                         stats_cols=["id"])
    v = t.current_version()
    calls = []
    inner = t.pruned_dirs_part_eq

    def spy(col, value, version=None):
        calls.append((col, value, version))
        return inner(col, value, version)

    t.pruned_dirs_part_eq = spy
    assert [tuple(r) for r in t.read_eq_part(spark, "id", 7).collect()] == [(7,)]
    assert calls == [("id", 7, v)]
    t.pruned_dirs_part_eq = lambda col, value, version=None: ([], t._manifest(v)["dirs"])
    assert t.read_eq_part(spark, "id", 7).collect() == []


def test_bucketed_string_key_and_many_files(spark, tmp_path):
    """A term lookup on a bucket-partitioned postings table, and an IN
    read over many files most of which the filter empties."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    df = spark.range(0, 200).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("term"),
        F.array(F.col("id").cast("int"), (F.col("id") + 1).cast("int")).alias("doc_ids"),
    )
    t.commit_partitioned(spark, df, "term", transform="bucket[16]", stats_cols=("term",))
    assert _both(t, lambda: t.read_eq_part(spark, "term", "t5"), True) == [("t5", [5, 6])]
    assert _both(t, lambda: t.read_eq_part(spark, "term", "zz"), True) == []
    many = {"term": ["t5", "t7", "t150", "nope"]}
    got = _both(t, lambda: t.scan(spark, t.plan(many)), True)
    assert got == [("t150", [150, 151]), ("t5", [5, 6]), ("t7", [7, 8])]


def test_every_driver_type_reads_back_exactly(spark, tmp_path):
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("b", T.ByteType()),
        T.StructField("h", T.ShortType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("day", T.DateType()),
        T.StructField("amt", T.DecimalType(10, 2)),
        T.StructField("big", T.DecimalType(30, 4)),
        T.StructField("arr", T.ArrayType(T.StructType([
            T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())]))),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("st", T.StructType([
            T.StructField("u", T.DoubleType(), False), T.StructField("w", T.ArrayType(T.LongType(), False))])),
    ])
    rows = [
        (k, f"s{k}", bytes([k, 255]), k % 2 == 0, k - 3, 300 * k, -k, k / 4, k / 3,
         dt.date(1999, 12, 31) + dt.timedelta(days=k), Decimal(f"{k}.25"),
         Decimal(f"12345678901234567890.{k:04d}"), [(k, "a"), (None, None)],
         {"a": k, "b": None}, (k * 0.5, [k, k + 1]))
        for k in range(6)
    ] + [(6,) + (None,) * (len(schema.fields) - 1)]
    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame(rows, schema), stats_cols=["k"])
    for k in (0, 3, 6):
        got = _both(t, lambda: t.scan(spark, t.plan({"k": [k]})), True)
        assert len(got) == 1 and got[0][0] == k
    got = _both(t, lambda: t.scan(spark, t.plan({"s": ["s2"]})), True)
    assert [r[0] for r in got] == [2]
    got = _both(t, lambda: t.scan(spark, t.plan({"b": [1]})), True)
    assert [r[0] for r in got] == [4]
    got = _both(t, lambda: t.scan(spark, t.plan({"h": [300]})), True)
    assert [r[0] for r in got] == [1]
    got = _both(t, lambda: t.scan(spark, t.plan({"i": [-1, -5, 7]})), True)
    assert [r[0] for r in got] == [1, 5]


def test_timestamp_column_falls_back(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "t"))
    t.commit(spark.range(0, 5).withColumn("ts", F.timestamp_seconds(F.col("id") * 3600)),
             stats_cols=["id"])
    got = _both(t, lambda: t.scan(spark, t.plan({"id": [2]})), False)
    assert len(got) == 1 and got[0][0] == 2
