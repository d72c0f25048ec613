"""BM25 top-k scored on the driver (``operators/search.py::
_bm25_on_driver``): a corpus within ``spark.sql.autoBroadcastJoinThreshold``
is collected once with Arrow and scored in the driver process; every
other corpus takes the Spark plan. Each case scores the same query
twice — as is, then with the threshold at -1, which turns the driver
path off — and asserts identical rows (``rn`` included, in order),
identical schema, and which path ran."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

# Each text exercises one tokenizer rule; ids repeat (3) and are null.
TEXTS = [
    (1, "Alpha beta! beta ... !!! ??"),  # punctuation-only tokens
    (2, "abc123def 42 beta-gamma x1y2z"),  # digit-mixed tokens
    (3, "nbsp\u00a0joined alpha"),  # NBSP does not split
    (3, "ab\x0bcd alpha"),  # duplicate id; vertical tab splits
    (4, "héllo wörld İstanbul ÀLPHA"),  # accents, dotted capital I
    (5, "中文 cjk \U0001f600 emoji alpha"),  # CJK and emoji
    (6, ""),  # empty text
    (7, None),  # null text
    (None, "alpha tie tie"),  # null id: a group of its own
    (8, "alpha tie tie"),  # same text as 9 and the null id: a tie
    (9, "alpha tie tie"),
    (10, "   gamma\tdelta\nepsilon\rzeta\x0ceta  "),
]


@contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _scored(score) -> tuple:
    """(result of ``score()``, whether the driver path served it)."""
    from mapreduceindexer_spark.operators import search

    served = []
    inner = search._bm25_on_driver

    def spy(*args):
        out = inner(*args)
        served.append(out is not None)
        return out

    search._bm25_on_driver = spy
    try:
        df = score()
    finally:
        search._bm25_on_driver = inner
    assert len(served) == 1
    return df, served[0]


def _both(spark, score, driver: bool = True) -> list:
    """Run ``score()`` as is, then with the driver path off; assert the
    same rows in the same order and the same schema, and that the first
    run took the driver path iff ``driver``. Returns the rows."""
    fast, on_driver = _scored(score)
    assert on_driver == driver
    if driver:
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
    fast_rows = [tuple(r) for r in fast.collect()]
    with _threshold(spark, -1):
        slow, on_driver = _scored(score)
        assert not on_driver
        assert [tuple(r) for r in slow.collect()] == fast_rows
        assert slow.schema == fast.schema
    return fast_rows


def _corpus(spark, tmp_path, rows, ddl="doc_id bigint, text string"):
    # Three files, so the driver path's Arrow table has several chunks.
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, ddl).repartition(3).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture
def docs(spark, tmp_path):
    return _corpus(spark, tmp_path, TEXTS)


@pytest.mark.parametrize(
    "terms",
    [
        ["alpha"],
        ["beta", "cd", "ab"],  # vertical tab split "ab\x0bcd"
        ["abcdef", "xyz", "betagamma"],  # digits and hyphens stripped
        ["nbspjoined", "hllo", "stanbul", "cjk"],  # NBSP, accents, İ, CJK
        ["tie", "tie"],  # repeated term; ties broken by doc_id
        ["absent", "gamma"],  # absent term beside a present one
        ["absent"],  # no hit at all
    ],
)
def test_driver_path_equals_spark_plan(spark, docs, terms):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    rows = _both(spark, lambda: bm25_multi_topk(docs, terms, k=3))
    assert [r[-1] for r in rows] == list(range(1, len(rows) + 1))


def test_ties_order_by_doc_id_with_null_first(spark, docs):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    rows = _both(spark, lambda: bm25_multi_topk(docs, ["tie"], k=10))
    assert [r[0] for r in rows] == [None, 8, 9]
    assert len({r[2] for r in rows}) == 1


def test_duplicate_ids_merge(spark, docs):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    rows = _both(spark, lambda: bm25_multi_topk(docs, ["alpha", "nbspjoined", "cd"], k=100))
    # Both rows of id 3 form one document of 2 + 3 terms.
    assert [r[1] for r in rows if r[0] == 3] == [5]


@pytest.mark.parametrize("k", [0, 1, 4, 10**6])
def test_k_around_the_number_of_hits(spark, docs, k):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    rows = _both(spark, lambda: bm25_multi_topk(docs, ["alpha", "emoji"], k=k))
    assert len(rows) == min(k, 6)


def test_single_term_scorer_keeps_tf(spark, docs):
    from mapreduceindexer_spark.operators.search import bm25_topk

    rows = _both(spark, lambda: bm25_topk(docs, "tie", k=5))
    assert [(r[0], r[1], r[2]) for r in rows] == [(None, 2, 3), (8, 2, 3), (9, 2, 3)]


def test_string_ids_with_duplicates_and_null(spark, tmp_path):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    docs = _corpus(
        spark, tmp_path,
        [("b", "x y"), ("a", "x"), ("b", "x"), (None, "x x"), ("é", "x"), ("B", "y")],
        "doc_id string, text string",
    )
    rows = _both(spark, lambda: bm25_multi_topk(docs, ["x", "y"], k=10))
    assert sorted(r[0] for r in rows if r[0] is not None) == ["B", "a", "b", "é"]


def test_term_in_every_document(spark, tmp_path):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    docs = _corpus(spark, tmp_path, [(i, "every " * (i % 4 + 1) + "x" * i) for i in range(1, 30)])
    rows = _both(spark, lambda: bm25_multi_topk(docs, ["every", "xx"], k=10))
    assert len(rows) == 10 and all(r[2] > 0 for r in rows)


@pytest.mark.parametrize("rows", [[(1, "!!! 42"), (2, None), (3, ""), (4, " \t ")], []])
def test_corpus_with_no_terms_is_empty(spark, tmp_path, rows):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    docs = _corpus(spark, tmp_path, rows)
    assert _both(spark, lambda: bm25_multi_topk(docs, ["x"], k=10)) == []


def test_filtered_view(spark, docs):
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    view = docs.filter(F.col("doc_id") > 3).withColumn("text", F.upper("text"))
    rows = _both(spark, lambda: bm25_multi_topk(view, ["alpha", "tie"], k=10))
    assert {r[0] for r in rows} == {5, 8, 9}


def test_over_the_size_bound_falls_back(spark, docs):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    with _threshold(spark, 16):
        _both(spark, lambda: bm25_multi_topk(docs, ["alpha"], k=10), driver=False)


def test_collected_bytes_over_the_threshold_fall_back(spark):
    """Spark counts a string as 20 bytes whatever its length, so this
    corpus is under the threshold by estimate and over it once
    collected: the collected bytes send it to the Spark plan."""
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.repeat(F.lit("alpha beta "), 30), F.col("id").cast("string")).alias("text"),
    )
    corpus = docs.select("doc_id", "text")
    limit = 4096
    assert int(corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) <= limit
    assert corpus.toArrow().nbytes > limit
    with _threshold(spark, limit):
        rows = _both(spark, lambda: bm25_multi_topk(docs, ["alpha"], k=5), driver=False)
    assert [r[0] for r in rows] == [0, 1, 2, 3, 4]


def test_column_names_resolve_as_spark_resolves_them(spark, tmp_path):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    docs = _corpus(spark, tmp_path, [(1, "x y"), (2, "x")], "DOC_ID int, Text string")
    _both(spark, lambda: bm25_multi_topk(docs, ["x"], k=10))


def test_other_column_types_fall_back(spark, tmp_path):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    docs = _corpus(spark, tmp_path, [(1.5, "x y"), (2.5, "x")], "doc_id double, text string")
    _both(spark, lambda: bm25_multi_topk(docs, ["x"], k=10), driver=False)


def test_driver_result_collects_without_a_job(spark, docs):
    from mapreduceindexer_spark.operators.search import bm25_multi_topk

    df = bm25_multi_topk(docs, ["alpha", "tie"], k=10)
    sc = spark.sparkContext
    sc.setJobGroup("bm25-driver-probe", "bm25 collect")
    try:
        assert len(df.collect()) == 6
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("bm25-driver-probe") == []


def test_half_up_rounding_matches_spark_round(spark):
    """Spark's round(x, 6) on doubles near and on half-way points, where
    the JVM's decimal digits decide."""
    import numpy as np
    from pyspark.sql import functions as F

    from mapreduceindexer_spark.operators.driver import round_half_up_6

    rng = np.random.default_rng(7)
    halves = (rng.integers(0, 30_000_000, 300) + 0.5) / 1e6
    x = np.concatenate(
        [halves, np.nextafter(halves, 0), np.nextafter(halves, 99),
         rng.random(300) * 20, [0.0, 5e-7, 2.5e-6, 1e10 + 5e-7, 2.0**60]]
    )
    df = spark.createDataFrame([(float(v),) for v in x], "x double")
    want = [r[0] for r in df.select(F.round("x", 6)).collect()]
    assert round_half_up_6(x, spark).tolist() == want
