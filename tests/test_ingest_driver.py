"""The dedup ingest served on the driver (``operators/dedup.py::
_signatures_on_driver`` and ``_dedup_on_driver``): a batch and a state
within ``spark.sql.autoBroadcastJoinThreshold`` are collected once with
Arrow and hashed and probed in the driver process; every other input
takes the Spark plan. Each case runs the same pipeline twice — as is,
then with the threshold at -1, which turns the driver path off — and
asserts identical rows, identical schema (names, types, nullability)
and which path ran."""

from __future__ import annotations

import random
import uuid
from contextlib import contextmanager

import pytest

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
PATHS = ("_signatures_on_driver", "_dedup_on_driver")

WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho",
]


def _text(seed: int, n: int = 30) -> str:
    rng = random.Random(seed)
    return " ".join(rng.choice(WORDS) for _ in range(n))


# Each text exercises one tokenizer or shingling rule; id 3 repeats.
TEXTS = [
    (1, "Alpha beta! gamma... delta ??? epsilon"),  # punctuation
    (2, "abc123def 42 beta-gamma x1y2z omega"),  # digits inside and alone
    (3, "nbsp\u00a0joined alpha beta gamma"),  # NBSP does not split
    (3, "ab\x0bcd alpha beta"),  # duplicate id; vertical tab splits
    (4, "héllo wörld İstanbul ÀLPHA 中文 \U0001f600 beta"),  # non-ASCII
    (5, "two words"),  # fewer than k terms
    (6, ""),  # empty text
    (7, None),  # null text
    (8, _text(8)),
    (9, _text(8)),  # same text as 8
    (10, _text(10)),
]


@contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _traced(make) -> tuple:
    """(result of ``make()``, {path: [served?, ...]} for each driver-path
    call it made)."""
    from mapreduceindexer_spark.operators import dedup as dd

    calls = {name: [] for name in PATHS}
    inner = {name: getattr(dd, name) for name in PATHS}

    def spy(name):
        def call(*args):
            out = inner[name](*args)
            calls[name].append(out is not None)
            return out

        return call

    for name in PATHS:
        setattr(dd, name, spy(name))
    try:
        df = make()
    finally:
        for name in PATHS:
            setattr(dd, name, inner[name])
    return df, calls


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _schemas(df):
    # df.schema of a local relation is the one handed to createDataFrame;
    # select("*") re-derives it from the JVM plan.
    return df.schema, df.select("*").schema


def _both(spark, make, signatures: bool = True, dedup: bool = True) -> list:
    """Run ``make()`` as is, then with the driver path off; assert the
    same rows and schema, and that each driver-path call of the first
    run served iff ``signatures``/``dedup``. Returns the rows."""
    fast, calls = _traced(make)
    want = dict(zip(PATHS, (signatures, dedup)))
    assert all(v == [want[k]] * len(v) for k, v in calls.items()), calls
    if want[PATHS[1] if calls[PATHS[1]] else PATHS[0]]:
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
    fast_rows, fast_schemas = _rows(fast), _schemas(fast)
    with _threshold(spark, -1):
        slow, calls = _traced(make)
        assert not any(any(v) for v in calls.values()), calls
        assert _rows(slow) == fast_rows
        assert _schemas(slow) == fast_schemas
    return fast_rows


def _parquet(spark, tmp_path, rows, ddl="doc_id bigint, text string", name="docs"):
    # Read from files, so Spark estimates the relation from their size.
    # Three files, so the driver path's Arrow table has several chunks.
    path = str(tmp_path / name)
    spark.createDataFrame(rows, ddl).repartition(3).write.parquet(path)
    return spark.read.parquet(path)


def _probe(state, batch, **kw):
    from mapreduceindexer_spark.operators import dedup as dd

    return lambda: dd.ingest_dedup_against(
        dd.ingest_signatures(state), dd.ingest_signatures(batch), **kw
    )


@pytest.fixture
def docs(spark, tmp_path):
    return _parquet(spark, tmp_path, TEXTS)


def test_signatures_equal_the_spark_plan(spark, docs):
    from mapreduceindexer_spark.operators import dedup as dd

    rows = _both(spark, lambda: dd.ingest_signatures(docs))
    # Null and empty text, and fewer than k terms, give no row; id 3's
    # two texts merge into one document.
    assert sorted({r[0] for r in rows}) == [1, 2, 3, 4, 8, 9, 10]
    assert len(rows) == 7 * dd.INGEST_N_HASHES


@pytest.mark.parametrize(
    "k, n_hashes, rows_per_band",
    [(1, 16, 2), (5, 7, 3), (3, 128, 4), (2, 5, 5), (4, 3, 8)],
)
def test_other_shingle_and_band_sizes(spark, docs, tmp_path, k, n_hashes, rows_per_band):
    """Including a short last band (7 seeds in bands of 3) and a single
    band wider than the seeds."""
    from mapreduceindexer_spark.operators import dedup as dd

    rows = _both(spark, lambda: dd.ingest_signatures(docs, k, n_hashes, rows_per_band))
    bands = {r[3] for r in rows}
    assert bands == set(range(-(-n_hashes // rows_per_band)))
    batch = _parquet(spark, tmp_path, [(20, _text(8)), (21, TEXTS[0][1]), (22, _text(99))], name="b")

    def probe():
        return dd.ingest_dedup_against(
            dd.ingest_signatures(docs, k, n_hashes, rows_per_band),
            dd.ingest_signatures(batch, k, n_hashes, rows_per_band),
            n_hashes=n_hashes,
            threshold=0.3,
        )

    got = _both(spark, probe)
    assert {r[0] for r in got} >= {20, 21}


def test_probe_flags_planted_duplicates(spark, tmp_path):
    state = _parquet(spark, tmp_path, [(i, _text(i)) for i in range(40)], name="s")
    near = _text(3).split()
    near[5] = "planted"
    batch = _parquet(
        spark, tmp_path,
        [(100, _text(1)), (101, " ".join(near)), (102, _text(500)), (103, _text(1))],
        name="b",
    )
    rows = _both(spark, _probe(state, batch, threshold=0.5))
    assert {r[0] for r in rows} >= {100, 101, 103}
    assert dict((r[0], r[2]) for r in rows)[100] == 1.0


def test_string_and_duplicate_ids(spark, tmp_path):
    rows = [("b", _text(1)), ("a", _text(2)), ("b", _text(3)), ("é", _text(1)), ("B", _text(4))]
    state = _parquet(spark, tmp_path, rows, "doc_id string, text string", name="s")
    batch = _parquet(
        spark, tmp_path, [("x", _text(1)), ("y", _text(3)), ("z", _text(77))],
        "doc_id string, text string", name="b",
    )
    got = _both(spark, _probe(state, batch, threshold=0.2))
    assert {r[0] for r in got} >= {"x", "y"}


def test_int_ids_keep_their_type(spark, tmp_path):
    state = _parquet(spark, tmp_path, [(i, _text(i)) for i in range(5)], "doc_id int, text string", "s")
    batch = _parquet(spark, tmp_path, [(9, _text(2))], "doc_id int, text string", "b")
    assert _both(spark, _probe(state, batch))[0][0] == 9


def test_oversized_bucket_pairs_with_its_hub(spark, tmp_path):
    """More than LSH_MAX_BUCKET identical state documents: every bucket
    they share is oversized, so a copy matches only the bucket's min."""
    from mapreduceindexer_spark.operators import dedup as dd

    n = dd.LSH_MAX_BUCKET + 6
    state = _parquet(spark, tmp_path, [(i, _text(1)) for i in range(10, 10 + n)], name="s")
    batch = _parquet(spark, tmp_path, [(1, _text(1)), (2, _text(2))], name="b")
    assert _both(spark, _probe(state, batch)) == [(1, 1, 1.0)]
    # Below the bound every member is a candidate.
    assert _both(spark, _probe(state, batch, max_bucket=n)) == [(1, n, 1.0)]


def test_empty_batch_and_empty_state(spark, docs, tmp_path):
    from mapreduceindexer_spark.operators import dedup as dd

    empty = _parquet(spark, tmp_path, [], name="e")
    assert _both(spark, lambda: dd.ingest_signatures(empty)) == []
    assert _both(spark, _probe(docs, empty)) == []
    assert _both(spark, _probe(empty, docs)) == []
    cols = _traced(_probe(empty, docs))[0].columns
    assert cols == ["doc_id", "n_matches", "best_est"]


def test_null_doc_id_falls_back(spark, docs):
    """ingest_signatures drops a null id; a state read with one in it
    goes to the Spark plan, whose joins drop it."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators import dedup as dd

    nulled = docs.withColumn(
        "doc_id", F.when(F.col("doc_id") == 9, None).otherwise(F.col("doc_id"))
    )
    assert {r[0] for r in _both(spark, lambda: dd.ingest_signatures(nulled))} == {1, 2, 3, 4, 8, 10}

    def probe():
        sigs = dd.ingest_signatures(docs)
        state = sigs.withColumn(
            "doc_id", F.when(F.col("doc_id") == 8, None).otherwise(F.col("doc_id"))
        )
        return dd.ingest_dedup_against(state, sigs)

    rows = _both(spark, probe, dedup=False)
    assert {r[0] for r in rows} == {1, 2, 3, 4, 8, 9, 10}


def test_other_column_types_fall_back(spark, tmp_path):
    from mapreduceindexer_spark.operators import dedup as dd

    docs = _parquet(spark, tmp_path, [(1.5, _text(1))], "doc_id double, text string")
    _both(spark, lambda: dd.ingest_signatures(docs), signatures=False)


def test_over_the_size_bound_falls_back(spark, docs):
    with _threshold(spark, 16):
        _both(spark, _probe(docs, docs), signatures=False, dedup=False)


def test_estimate_exactly_at_the_threshold(spark, tmp_path):
    """The gate admits an estimate equal to the threshold, and one byte
    less turns it away."""
    from mapreduceindexer_spark.operators import dedup as dd

    docs = _parquet(spark, tmp_path, [(i, f"aa bb cc d{'abc'[i % 3]}") for i in range(6)])
    rel = docs.select("doc_id", "text")
    size = int(rel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert rel.toArrow().nbytes <= size
    with _threshold(spark, size):
        _both(spark, lambda: dd.ingest_signatures(docs))
    with _threshold(spark, size - 1):
        _both(spark, lambda: dd.ingest_signatures(docs), signatures=False)


def test_collected_bytes_over_the_threshold_fall_back(spark):
    """Spark counts a string as 20 bytes whatever its length, so this
    corpus is under the threshold by estimate and over it once
    collected: the collected bytes send it to the Spark plan."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators import dedup as dd

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.repeat(F.lit("alpha beta gamma "), 30), F.col("id").cast("string")).alias("text"),
    )
    rel = docs.select("doc_id", "text")
    limit = 4096
    assert int(rel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) <= limit
    assert rel.toArrow().nbytes > limit
    with _threshold(spark, limit):
        rows = _both(spark, lambda: dd.ingest_signatures(docs), signatures=False)
    assert len(rows) == 40 * dd.INGEST_N_HASHES


def test_read_stops_once_the_bytes_pass_the_threshold(spark):
    """The collect does not read the whole relation to find it too big:
    it stops at the first batch past the threshold and cancels the rest
    of the job."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators import driver

    docs = spark.range(0, 200, 1, 200).select(
        F.col("id").alias("doc_id"), F.repeat(F.lit("alpha "), 100).alias("text")
    )
    sc = spark.sparkContext
    with _threshold(spark, 8192):
        rel = driver.small_relation(docs, doc_id=driver.is_key, text=driver.is_string)
        assert rel is not None  # 200 rows of 28 bytes by estimate
        sc.setJobGroup("ingest-driver-overread", "collect past the threshold")
        try:
            assert driver.collect_small(rel) is None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup("ingest-driver-overread")
    (stage,) = tracker.getJobInfo(job).stageIds
    assert tracker.getStageInfo(stage).numCompletedTasks < 200


@contextmanager
def _max_result_size(spark, value):
    """Set ``spark.driver.maxResultSize`` on the running context; each
    new job's task set reads it."""
    conf = spark.sparkContext._jsc.sc().conf()
    old = conf.get("spark.driver.maxResultSize", "1g")
    conf.set("spark.driver.maxResultSize", value)
    try:
        yield
    finally:
        conf.set("spark.driver.maxResultSize", old)


def test_result_size_failure_falls_back(spark, docs):
    """A collect that fails on ``spark.driver.maxResultSize`` sends the
    call to the Spark plan, whose rows it then returns. The filter keeps
    every row but makes the input more than a scan of its files, so it
    is collected from a Spark job (a plain scan is read from the files,
    under the same bound: ``tests/test_driver_files.py``)."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators import dedup as dd

    docs = docs.filter(F.col("doc_id") > 0)
    with _max_result_size(spark, "1k"):
        fast, calls = _traced(lambda: dd.ingest_signatures(docs))
    assert calls == {"_signatures_on_driver": [False], "_dedup_on_driver": []}
    with _threshold(spark, -1):
        slow = dd.ingest_signatures(docs)
        assert _rows(fast) == _rows(slow)
        assert _schemas(fast) == _schemas(slow)


def test_driver_result_collects_without_a_job(spark, docs):
    df, calls = _traced(_probe(docs, docs))
    assert calls == {"_signatures_on_driver": [True, True], "_dedup_on_driver": [True]}
    sc = spark.sparkContext
    sc.setJobGroup("ingest-driver-probe", "ingest collect")
    try:
        assert len(df.collect()) == 7
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("ingest-driver-probe") == []


def _jobs(spark, make) -> tuple:
    """(result of ``make()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"ingest-driver-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ingest driver path")
    try:
        out = make()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_parquet_inputs_are_read_from_their_files(spark, docs, tmp_path):
    """Documents and persisted signatures that are plain scans of parquet
    directories are read from their files: hashing, probing and
    collecting the answer run no Spark job, and the rows are the Spark
    plan's."""
    from mapreduceindexer_spark.operators import dedup as dd

    batch = _parquet(spark, tmp_path, [(20, _text(8)), (21, TEXTS[0][1]), (22, _text(99))], name="b")
    state_dir, batch_dir = str(tmp_path / "state_sigs"), str(tmp_path / "batch_sigs")
    dd.ingest_signatures(docs).write.parquet(state_dir)
    dd.ingest_signatures(batch).write.parquet(batch_dir)

    # Reading a directory without a schema infers it with a Spark job,
    # so the reads are made before the jobs are counted.
    state_sigs, batch_sigs = spark.read.parquet(state_dir), spark.read.parquet(batch_dir)

    def probe():
        return dd.ingest_dedup_against(state_sigs, batch_sigs)

    for make in (_probe(docs, batch), probe):
        rows, n_jobs = _jobs(spark, lambda: _rows(make()))
        assert n_jobs == 0
        assert _both(spark, make) == rows
        assert {r[0] for r in rows} >= {20, 21}


def test_best_est_rounds_half_up_like_spark(spark, tmp_path):
    """One seed of 128 shared: 1/128 = 0.0078125, which Spark's round(·, 6)
    takes to 0.007813 and Python's round to 0.007812."""
    from mapreduceindexer_spark.operators import dedup as dd

    ddl = "doc_id bigint, seed int, mh bigint, band int, sig string"
    state = [(1, s, s, s // 2, f"{s - s % 2},{s - s % 2 + 1}") for s in range(128)]
    # Batch doc 10 agrees with doc 1 on seed 0 only; band 0 carries
    # doc 1's signature so the pair is a candidate.
    batch = [(10, s, s if s == 0 else s + 1000, s // 2, "0,1" if s < 2 else f"x{s}") for s in range(128)]

    state, batch = _parquet(spark, tmp_path, state, ddl, "s"), _parquet(spark, tmp_path, batch, ddl, "b")

    def probe():
        return dd.ingest_dedup_against(state, batch, n_hashes=128, threshold=0.005)

    assert _both(spark, probe, signatures=False) == [(10, 1, 0.007813)]
    assert round(1 / 128, 6) == 0.007812


def test_probe_across_state_table_versions(spark, tmp_path):
    """A state table with an appended batch, a deletion vector, an
    equality delete, an added column, time travel and a branch: every
    read of it probes the same rows on both paths."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators import dedup as dd
    from mapreduceindexer_spark.sources.transact import TransactionalTable

    def sigs(rows, name):
        return dd.ingest_signatures(_parquet(spark, tmp_path, rows, name=name))

    t = TransactionalTable(str(tmp_path / "state"))
    v1 = t.commit(sigs([(i, _text(i)) for i in range(10)], "v1"), stats_cols=["doc_id"])
    v2 = t.commit(sigs([(i, _text(i)) for i in range(10, 15)], "v2"), mode="append",
                  stats_cols=["doc_id"])
    v3 = t.delete_where_dv(spark, "doc_id", lo=3, hi=3)
    v4 = t.delete_eq(spark, spark.range(12, 13).withColumnRenamed("id", "doc_id"), "doc_id")
    v5 = t.commit(
        sigs([(20, _text(20))], "v5").withColumn("src", F.lit("late")),
        mode="append", stats_cols=["doc_id"],
    )
    audit = t.branch("audit")
    audit.commit(sigs([(30, _text(30))], "b"), mode="append", stats_cols=["doc_id"])

    batch = _parquet(
        spark, tmp_path, [(100 + i, _text(i)) for i in (1, 3, 12, 13, 20, 30, 99)], name="batch"
    )

    def found(read):
        rows = _both(
            spark,
            lambda: dd.ingest_dedup_against(read(), dd.ingest_signatures(batch)),
        )
        return sorted(r[0] - 100 for r in rows)

    # A delete-free version is one parquet scan of its dirs, read from
    # the files; a version with a deletion vector or an equality delete
    # joins them away, so its state is collected from a Spark job.
    sigs = dd.ingest_signatures(batch)
    jobs = [
        _jobs(spark, lambda: dd.ingest_dedup_against(t.read(spark, version=v), sigs))[1]
        for v in (v1, v2, v3, v4, v5)
    ]
    assert [n == 0 for n in jobs] == [True, True, False, False, False], jobs
    assert found(lambda: t.read(spark, version=v1)) == [1, 3]
    assert found(lambda: t.read(spark, version=v2)) == [1, 3, 12, 13]
    assert found(lambda: t.read(spark, version=v3)) == [1, 12, 13]
    assert found(lambda: t.read(spark, version=v4)) == [1, 13]
    assert found(lambda: t.read(spark, version=v5)) == [1, 13, 20]
    assert found(lambda: t.read(spark)) == [1, 13, 20]
    assert found(lambda: audit.read(spark)) == [1, 13, 20, 30]
