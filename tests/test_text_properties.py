"""Property tests for the tokenizer/normalizer and pipeline determinism —
the reference's determinism contract (identical output for every (M,R)
thread configuration, ``checker/checker.sh:141-247``) expressed as
partitioning-invariance properties.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

TEXTS = st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters="\x00"
        ),
        max_size=60,
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=12, deadline=None)
@given(TEXTS)
def test_normalizer_invariants(spark, texts):
    from mapreduceindexer_spark.functions.text import normalize_term, tokenize

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = (
        df.select(F.explode(tokenize("text")).alias("tok"))
        .select(
            normalize_term("tok").alias("term"),
            normalize_term(normalize_term("tok")).alias("term2"),
        )
        .collect()
    )
    for r in out:
        # Output alphabet: strictly [a-z]* (the reference's contract).
        assert re.fullmatch(r"[a-z]*", r.term), r.term
        # Idempotence: normalizing twice changes nothing.
        assert r.term == r.term2


@settings(max_examples=6, deadline=None)
@given(TEXTS)
def test_postings_invariant_under_repartitioning(spark, texts):
    from mapreduceindexer_spark.operators.index import build_postings

    rows = [(i + 1, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(map(tuple, build_postings(docs).collect()))
    shuffled = sorted(
        map(tuple, build_postings(docs.repartition(7, "doc_id")).collect())
    )
    single = sorted(map(tuple, build_postings(docs.coalesce(1)).collect()))
    assert base == shuffled == single


def _arrow_terms(docs) -> list:
    """Sorted (doc_id, term) pairs of ``arrow_tokens`` over ``docs``."""
    import pyarrow as pa

    from mapreduceindexer_spark.functions.text import arrow_tokens

    tokens = arrow_tokens(pa.array([t for _, t in docs], pa.string()))
    return sorted(
        (docs[row][0], term)
        for row, term in zip(tokens["row"].to_pylist(), tokens["term"].to_pylist())
    )


@settings(max_examples=12, deadline=None)
@given(TEXTS)
def test_arrow_tokens_equal_tokens_normalized(spark, texts):
    """The Arrow tokenizer yields each document's term multiset exactly
    as the JVM tokenizer does, for any text."""
    from mapreduceindexer_spark.functions.text import tokens_normalized

    docs = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    got_spark = sorted(map(tuple, tokens_normalized(sdf).collect()))
    assert _arrow_terms(docs) == got_spark


def test_tokenizer_lockstep_on_unicode_whitespace(spark):
    """Differential contract on NON-ASCII input: the Java tokenizer
    (functions/text.py), the DuckDB oracle fragment (SQL_TERMS), the
    Python UDTF kernel and the Arrow tokenizer of the driver-side BM25
    scorer must agree byte-for-byte on whitespace and Unicode. Java's
    \\s is the ASCII class [ \\t\\n\\x0B\\f\\r] (the reference's
    isspace); RE2's \\s leaves out vertical tab, so the oracle spells the
    class out (catalog.SQL_WS). Unicode whitespace (NBSP, ideographic
    space, line separator) splits in none of them, and [^A-Za-z] strips
    every non-ASCII-letter codepoint: accents, CJK, emoji, digits. The
    fixture corpora are pure ASCII, so without this test an engine
    disagreement on real-world text would reach production unseen."""
    import duckdb
    import pandas as pd

    from mapreduceindexer_spark.catalog import SQL_TERMS
    from mapreduceindexer_spark.functions.text import tokens_normalized

    texts = [
        "plain ascii words",
        "nbsp joined and tab\tsplit",
        "ideographic　space and line sep",
        "héllo wörld stripped-accents",
        "中文 only cjk \U0001f600 emoji",
        "mixed42digits and-hyphens_under",
        "  leading trailing  ",
        "vertical\x0btab splits\x0b\x0bin java",  # Java's \s, not RE2's
        " 　",  # whitespace-only after stripping -> no terms
    ]
    docs = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    got_spark = sorted(
        (r.doc_id, r.term) for r in tokens_normalized(sdf).collect()
    )

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    got_duck = sorted(map(tuple, con.execute(SQL_TERMS).fetchall()))
    con.close()

    assert got_spark == got_duck, (got_spark, got_duck)

    # Third engine leg: the Python UDTF kernel (q_udtf_topterms) uses
    # re.ASCII so its \s is the same ASCII class — its per-doc token
    # multiset must equal the JVM tokenizer's.
    import re

    got_py = sorted(
        (i, re.sub(r"[^A-Za-z]", "", tok).lower())
        for i, t in docs
        for tok in re.split(r"\s+", t, flags=re.ASCII)
        if re.sub(r"[^A-Za-z]", "", tok).lower() != ""
    )
    assert got_py == got_spark, (got_py, got_spark)

    # Fourth leg: the Arrow tokenizer of the driver-side BM25 scorer.
    assert _arrow_terms(docs) == got_spark

    # Sanity of the contract itself: NBSP did NOT split (joined token),
    # tab DID, accents/CJK/emoji/digits stripped.
    terms0 = {t for d, t in got_spark if d == 1}
    assert "nbspjoined" in terms0 and "tab" in terms0 and "split" in terms0
    assert {t for d, t in got_spark if d == 7} == {"vertical", "tab", "splits", "in", "java"}
    assert all(t.isascii() and t.isalpha() for _, t in got_spark)


@settings(max_examples=10, deadline=None)
@given(TEXTS)
def test_html_wrap_extract_roundtrip(spark, texts):
    """html_wrap ∘ html_extract_text recovers the original text (up to
    whitespace normalization, plus the page chrome prefix) for ANY
    text — including text containing '<', '&', quotes, literal entity
    strings like '&amp;', and tag-shaped substrings like '</p>'. The
    adversarial cases are exactly what the escape/decode ordering
    (& first out, &amp; last back) exists for."""
    import re

    from mapreduceindexer_spark.operators.textstats import (
        html_extract_text,
        html_wrap,
    )

    # Bias the corpus with the adversarial fragments.
    spiked = list(texts) + [
        "a < b && c > d",
        "literal &amp; and &lt;tag&gt; text",
        '</p><script>alert("x")</script>',
        "quotes ' and \" everywhere",
        "",  # empty and whitespace-only: the chrome's trailing space
        "   ",  # collapses too (the registered query trims both sides)
        "a\x0b\x0bb",  # vertical tab: in Java's \s, NOT in RE2's —
        "x\x0b",  # both engines must pass it through untouched
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(spiked)], "doc_id: bigint, text: string"
    )
    out = {
        r.doc_id: r.extracted
        for r in html_extract_text(html_wrap(docs)).collect()
    }
    for i, t in enumerate(spiked):
        # The python twin must model ENGINE semantics: the extraction
        # collapses the EXPLICIT class [ \t\n\f\r] (the Java∩RE2 \s —
        # Java's \s would also eat \x0B, RE2's would not) and
        # Spark/DuckDB trim strips ' ' only — python's bare
        # str.strip() would also eat unicode whitespace like U+0085
        # that both engines deliberately keep (found by Hypothesis:
        # texts=['\x85'], then texts=['\x0b'] for the class itself).
        norm = re.sub(r"[ \t\n\f\r]+", " ", t).strip(" ")
        want = f"doc {i} Document {norm}".strip(" ")
        assert out[i] == want, (t, out[i], want)
