"""Text scalar functions — tokenizer + normalizer, as Column expressions.

Reference semantics (verified against its golden outputs):
- Tokenize: split on whitespace, ``fin >> word`` (``src/functions.cpp:77``).
- Normalize: remove non-alphabetic characters *within* the token (NOT a
  split at punctuation) and lowercase the rest — "don't"→"dont",
  "abc123def"→"abcdef" (``src/functions.cpp:39-46,81``).
- Filter: drop tokens that normalize to empty (``src/functions.cpp:83-84``).

Everything here is built-in ``pyspark.sql.functions`` composition — pure
JVM-side, whole-stage-codegen-able, no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WHITESPACE_RE = r"\s+"
NON_ALPHA_RE = "[^A-Za-z]"
# Java's ``\s`` (the reference's ``isspace``) spelled out, for regex
# engines whose ``\s`` is another set: RE2's leaves out vertical tab.
WHITESPACE_CLASS = r"[ \t\n\x0B\f\r]"


def tokenize(text: Column | str) -> Column:
    """Whitespace-split a text column into an array of raw tokens.

    Matches ``fin >> word``: any run of whitespace separates tokens, and
    leading whitespace yields an empty first element which downstream
    normalization+filter drops (same as the reference's empty-skip).
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.split(col, WHITESPACE_RE)


def normalize_term(token: Column | str) -> Column:
    """Strip non-alphabetic chars in place, lowercase. Result ∈ ``[a-z]*``."""
    col = F.col(token) if isinstance(token, str) else token
    return F.lower(F.regexp_replace(col, NON_ALPHA_RE, ""))


def normalized_token_array(text: Column | str) -> Column:
    """Text → array of normalized nonempty terms, order-preserving.

    Array-valued sibling of :func:`tokens_normalized` for operators that
    need token *positions* (shingling, fingerprints) — all higher-order
    functions, JVM-side, no explode/shuffle.
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.transform(F.split(col, WHITESPACE_RE), lambda t: F.lower(F.regexp_replace(t, NON_ALPHA_RE, ""))),
        lambda t: t != "",
    )


def shingles(tokens: Column | str, k: int = 3) -> Column:
    """k-token shingles ("w1 w2 w3" strings) from an ordered token array.

    Documents with fewer than ``k`` tokens yield an empty array (guarded:
    ``sequence(0, negative)`` would otherwise count *down*).
    """
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.when(
        F.size(col) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(col) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(col, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Tiny fixed stopword lists for the text-analysis operators. Deliberately
# literal (not a file/broadcast) so the DuckDB oracle can embed the same
# lists; at scale these would be a broadcast dimension.
STOPWORDS_EN = ("the", "a", "of", "and", "in", "to", "is", "it", "as", "by")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "zu", "ein", "mit", "von", "nicht")
STOPWORDS_FR = ("le", "la", "et", "les", "des", "un", "une", "est", "dans", "que")


def tokens_normalized(df: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id") -> DataFrame:
    """documents → one row per (doc_id, term), normalized, empties dropped.

    The narrow (no-shuffle) prefix of the index pipeline: explode + scalar
    functions only, so Catalyst keeps it in a single codegen stage fused
    with the parquet scan.
    """
    return (
        df.select(doc_id_col, F.explode(tokenize(text_col)).alias("raw_token"))
        .withColumn("term", normalize_term("raw_token"))
        .filter(F.col("term") != "")
        .select(doc_id_col, "term")
    )


def arrow_tokens(text):
    """Arrow twin of :func:`tokens_normalized` over one string array:
    a table (row, term) with one entry per normalized nonempty term, in
    order, where ``row`` is the index of its text in ``text``.

    Lowercasing ASCII first and then deleting every code point outside
    ``[a-z]`` and :data:`WHITESPACE_CLASS` leaves each whitespace-split
    token with exactly the letters ``normalize_term`` keeps. Only those
    six whitespace characters survive the deletion, so Arrow's ASCII
    whitespace split cuts where Java's ``\\s`` does. The empty strings
    the split yields for leading, trailing or emptied tokens are dropped
    like the reference's empty terms. Null text gives no term.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    kept = pc.replace_substring_regex(
        pc.ascii_lower(text), "[^a-z" + WHITESPACE_CLASS[1:], ""
    )
    split = pc.ascii_split_whitespace(kept)
    tokens = pa.table(
        {"row": pc.list_parent_indices(split), "term": pc.list_flatten(split)}
    )
    return tokens.filter(pc.not_equal(tokens["term"], ""))
