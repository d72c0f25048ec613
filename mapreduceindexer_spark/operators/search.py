"""Boolean search over the inverted index (SURVEY §2.2).

The reference builds the index but ships no query executor — lookups are
what the output format is *for* (``/root/reference/README.md:14-16``). These
are the first-class Spark versions.

Scale design: every operator here works on the **distinct (term, doc_id)
pair** relation, not on materialized posting arrays. Filtering
``term IN (...)`` is a pushed-down predicate on the (letter-partitionable)
pairs table, and AND/OR/NOT become semi/anti joins and unions on ``doc_id``
— shapes that stay bounded per task no matter how long a stopword's posting
list gets. (``array_intersect`` on pre-built posting rows is the
small-scale shortcut; joins are the 100 TB path, so that is the default.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def docs_with_term(pairs: DataFrame, term: str) -> DataFrame:
    """doc_ids containing ``term`` (term lookup)."""
    return pairs.filter(F.col("term") == term).select("doc_id")


def bool_and(pairs: DataFrame, terms: Sequence[str]) -> DataFrame:
    """Documents containing ALL of ``terms`` (conjunctive query).

    Chain of left-semi joins: each term's doc set filters the running
    result; Catalyst turns these into shuffled or broadcast hash joins
    depending on runtime sizes (AQE).
    """
    result = docs_with_term(pairs, terms[0])
    for t in terms[1:]:
        result = result.join(docs_with_term(pairs, t), "doc_id", "left_semi")
    return result


def bool_or(pairs: DataFrame, terms: Sequence[str]) -> DataFrame:
    """Documents containing ANY of ``terms`` — one pass, no per-term union."""
    return (
        pairs.filter(F.col("term").isin(list(terms))).select("doc_id").distinct()
    )


def bool_not(pairs: DataFrame, include: str, exclude: str) -> DataFrame:
    """Documents containing ``include`` but not ``exclude`` (anti join)."""
    return docs_with_term(pairs, include).join(
        docs_with_term(pairs, exclude), "doc_id", "left_anti"
    )


def bm25_topk(
    docs: DataFrame,
    term: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranking for a single-term query — what the inverted index is
    FOR: (doc_id, tf, dl, score, rn) for the top-k documents.

    ``score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with the
    Lucene-style ``idf = ln((N − df + 0.5)/(df + 0.5) + 1)``.

    The multi-term scorer with one term, keeping its ``tf`` column (see
    :func:`bm25_multi_topk` for the two paths). Its score
    ``round(0.0 + c, 6)`` is ``round(c, 6)``: adding 0.0 to a
    non-negative double changes nothing.
    """
    return _bm25_ranked(docs, [term], k, k1, b, keep_tf=True)


def phrase_search(docs: DataFrame, first: str, second: str) -> DataFrame:
    """Positional phrase search: documents where ``first`` is immediately
    followed by ``second`` — the positional-postings extension of the
    index (term, doc_id, pos), matched by a pos+1 self-join.

    Both sides filter to their term BEFORE the join, so the join input is
    two slim posting streams, not the full positional index.
    """
    from mapreduceindexer_spark.functions.text import normalized_token_array

    pos = docs.select(
        "doc_id", F.posexplode(normalized_token_array("text")).alias("pos", "term")
    )
    a = pos.filter(F.col("term") == first).select("doc_id", F.col("pos").alias("pos_a"))
    bdf = pos.filter(F.col("term") == second).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        a.join(bdf, "doc_id")
        .filter(F.col("pos_b") == F.col("pos_a") + 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
    )


def top_terms(postings: DataFrame, k: int = 20) -> DataFrame:
    """Top-k terms by (df DESC, term ASC) — planned as TakeOrderedAndProject,
    so only k rows ever leave each partition."""
    return postings.select("term", "df").orderBy(F.desc("df"), F.asc("term")).limit(k)


def _bm25_per_doc_stats(docs: DataFrame, terms: Sequence[str]):
    """Shared BM25 preamble of the Spark plans: (per_doc: doc_id, dl,
    tf{i}...) from one tokenize-and-group of ``docs``, and the single-row
    (stats: n_docs, avgdl, df{i}...) relation. Extracted so the full and
    bound-pruned scorers — whose contract is exact output EQUALITY —
    cannot drift (round-6 review finding). Both are plans over ``docs``,
    not results: ``n_docs`` is a scan of its own, and a consumer of both
    reads the per-doc shuffle once per side."""
    from mapreduceindexer_spark.functions.text import tokens_normalized

    aggs = [F.count("*").cast("bigint").alias("dl")]
    for i, t in enumerate(terms):
        aggs.append(
            F.count(F.when(F.col("term") == t, True))
            .cast("bigint")
            .alias(f"tf{i}")
        )
    per_doc = tokens_normalized(docs).groupBy("doc_id").agg(*aggs)
    stat_aggs = [
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    ]
    for i in range(len(terms)):
        stat_aggs.append(
            F.count(F.when(F.col(f"tf{i}") > 0, True)).alias(f"df{i}")
        )
    stats = docs.agg(F.count("*").alias("n_docs")).crossJoin(
        per_doc.agg(*stat_aggs)
    )
    return per_doc, stats


def _bm25_contrib(i: int, k1: float, b: float) -> "F.Column":
    """Term i's BM25 contribution expression (identical AST in both
    scorers; the oracle replays the same grouping)."""
    idf = F.log(
        (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        + 1.0
    )
    denom = F.col(f"tf{i}") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    return idf * F.col(f"tf{i}") * (k1 + 1.0) / denom


def bm25_multi_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Multi-term BM25: per-document score summed over the query terms —
    the standard ranked disjunctive query. (doc_id, dl, score, rn) for
    the top-k documents, ordered by (score DESC, doc_id ASC).

    Two paths, one result. A corpus whose ``(doc_id, text)`` passes the
    driver-path gate (``operators/driver.py``: Spark's estimate and then
    the collected bytes within ``spark.sql.autoBroadcastJoinThreshold``,
    -1 turns it off), with a string ``text`` and an integral or string
    ``doc_id``, is scored on the driver (:func:`_bm25_on_driver`): it is
    collected once with ``toArrow``, tokenized and counted with Arrow and
    numpy, and the top k come back as a local relation, so collecting
    the result runs no job. Any other corpus takes the Spark plan: one
    per-doc aggregate yields dl and one conditional tf per query term,
    one tiny stats aggregate yields every df plus avgdl, and the top k
    go through TakeOrderedAndProject before being ranked. That plan
    scans the corpus twice (the tokenized per-doc aggregate and a
    column-less count for ``n_docs``) and reads the per-doc shuffle
    twice, once for the stats and once for scoring: about four corpus
    reads per query. Per-term contributions are summed from 0.0 in
    query order, so the score is bit-deterministic on both paths.
    """
    return _bm25_ranked(docs, terms, k, k1, b, keep_tf=False)


def _bm25_ranked(
    docs: DataFrame,
    terms: Sequence[str],
    k: int,
    k1: float,
    b: float,
    keep_tf: bool,
) -> DataFrame:
    """The shared scorer of :func:`bm25_topk` (``keep_tf``: one term,
    whose count is returned as ``tf``) and :func:`bm25_multi_topk`."""
    served = _bm25_on_driver(docs, terms, k, k1, b, keep_tf)
    if served is not None:
        return served
    per_doc, stats = _bm25_per_doc_stats(docs, terms)
    scored = per_doc.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + _bm25_contrib(i, k1, b)
    tf = [F.col("tf0").alias("tf")] if keep_tf else []
    scored = scored.filter(
        sum((F.col(f"tf{i}") > 0).cast("int") for i in range(len(terms))) > 0
    ).select("doc_id", *tf, "dl", F.round(score, 6).alias("score"))
    # Top-k FIRST via distributed TakeOrderedAndProject (each partition
    # surrenders at most k rows), THEN rank the k survivors: the global
    # row_number window only ever sees k rows, never the full match set.
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )


def _bm25_on_driver(
    docs: DataFrame,
    terms: Sequence[str],
    k: int,
    k1: float,
    b: float,
    keep_tf: bool,
) -> DataFrame | None:
    """The rows of :func:`_bm25_ranked`'s Spark plan, computed in the
    driver process, or None when ``docs`` is not eligible (gate in
    :func:`bm25_multi_topk`).

    Exactness, step by step against the plan:

    - terms: :func:`~mapreduceindexer_spark.functions.text.arrow_tokens`
      is ``tokens_normalized`` in Arrow;
    - groups: rows group by ``doc_id`` (duplicates merge, null is a
      group of its own); ``n_docs`` counts every row, avgdl averages dl
      over the groups with a term, and ``df_i`` counts the groups with
      ``tf_i > 0``;
    - arithmetic: the operations of :func:`_bm25_contrib` in the same
      order on IEEE doubles, idf from the JVM's ``StrictMath.log`` (what
      Spark's ``log`` calls) and Spark's HALF_UP rounding
      (:func:`~mapreduceindexer_spark.operators.driver.round_half_up_6`);
    - order: (score DESC, doc_id ASC, nulls first), ``rn`` from 1.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from mapreduceindexer_spark.functions.text import arrow_tokens
    from mapreduceindexer_spark.operators import driver

    if k < 0 or not terms or not all(isinstance(t, str) for t in terms):
        return None
    corpus = driver.small_relation(docs, doc_id=driver.is_key, text=driver.is_string)
    table = None if corpus is None else driver.collect_small(corpus)
    if table is None:
        return None
    spark = docs.sparkSession
    id_field = corpus.schema.fields[0]
    groups = pc.dictionary_encode(
        table.column(0).combine_chunks(), null_encoding="encode"
    )
    tokens = arrow_tokens(table.column(1))
    token_group = groups.indices.to_numpy()[tokens.column("row").to_numpy()]
    n_groups = len(groups.dictionary)
    dl = np.bincount(token_group, minlength=n_groups)
    tfs = [
        np.bincount(
            token_group[pc.equal(tokens.column("term"), t).to_numpy(zero_copy_only=False)],
            minlength=n_groups,
        )
        for t in terms
    ]
    hit = np.flatnonzero(np.logical_or.reduce([tf > 0 for tf in tfs]))
    n_docs = table.num_rows
    # sum(dl) and count(*) as Spark's bigints, then one double division;
    # a corpus without a term has no hit to score.
    avgdl = float(int(dl.sum())) / float(max(int(np.count_nonzero(dl)), 1))
    strict_log = spark._jvm.java.lang.StrictMath.log
    dl_hit = dl[hit].astype(np.float64)
    score = np.zeros(len(hit))
    for tf in tfs:
        df_i = int(np.count_nonzero(tf))
        idf = strict_log((float(n_docs - df_i) + 0.5) / (float(df_i) + 0.5) + 1.0)
        tf_hit = tf[hit].astype(np.float64)
        denom = tf_hit + k1 * ((1.0 - b) + b * dl_hit / avgdl)
        score = score + idf * tf_hit * (k1 + 1.0) / denom
    score = driver.round_half_up_6(score, spark)

    ranked = pa.table(
        {
            id_field.name: groups.dictionary.take(pa.array(hit)),
            **({"tf": pa.array(tfs[0][hit], pa.int64())} if keep_tf else {}),
            "dl": pa.array(dl[hit], pa.int64()),
            "score": pa.array(score, pa.float64()),
        }
    )
    order = pc.sort_indices(
        ranked,
        sort_keys=[("score", "descending"), (id_field.name, "ascending")],
        null_placement="at_start",
    )
    top = ranked.take(order[:k])
    top = top.append_column("rn", pa.array(np.arange(1, top.num_rows + 1), pa.int64()))
    schema = T.StructType(
        [
            id_field,
            *([T.StructField("tf", T.LongType(), False)] if keep_tf else []),
            T.StructField("dl", T.LongType(), False),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("rn", T.LongType(), False),
        ]
    )
    return driver.local_relation(spark, top, schema)


def prefix_search(postings: DataFrame, prefix: str) -> DataFrame:
    """Prefix (wildcard ``prefix*``) dictionary lookup over the postings
    relation: every indexed term starting with ``prefix``, with its df.

    On the letter-partitioned postings layout the first-letter partition
    prunes the scan to one partition; within it the term dictionary is
    sorted, so at scale this is a range scan, not a full filter.
    """
    return (
        postings.filter(F.col("term").startswith(prefix))
        .select("term", "letter", "df")
    )


def bm25_pruned_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Bound-pruned exact BM25 top-k (the MaxScore family, Turtle &
    Flood IPM'95): score only the documents whose UPPER BOUND can still
    reach the top-k, instead of every matching document.

    Phases (all relational, all deterministic):

    1. per-term max contribution ``ub_i = max over docs of contrib_i``
       (in a real index this is stored at build time — here one extra
       aggregate over the per-doc relation);
    2. ``bound(doc) = Σ ub_i over the terms the doc contains`` — an
       upper bound on its true score since each contribution is
       maximized independently;
    3. provisional threshold: exact-score the k docs with the highest
       bounds; ``theta`` = their minimum exact score;
    4. final: exact-score ONLY docs with ``bound >= theta`` (any doc
       below cannot beat k docs that already score >= theta), top-k.

    Soundness survives the 6-decimal parity rounding because rounding
    is monotone: bound >= score implies round(bound) >= round(score).
    The result is IDENTICAL to full-scoring BM25 — and the oracle
    exploits that: it replays the phases AND the equality, so an
    unsound prune breaks the value hash, not just performance. At scale
    the win is phase 4's candidate count: ``n_scored`` rides the output
    as the audit column (stopword-heavy queries score a fraction of
    their posting union).
    """
    per_doc, stats = _bm25_per_doc_stats(docs, terms)

    enriched = per_doc.crossJoin(F.broadcast(stats))

    enriched = enriched.select(
        "doc_id",
        "dl",
        *[F.col(f"tf{i}") for i in range(len(terms))],
        *[_bm25_contrib(i, k1, b).alias(f"c{i}") for i in range(len(terms))],
    ).filter(
        sum((F.col(f"tf{i}") > 0).cast("int") for i in range(len(terms))) > 0
    ).localCheckpoint()  # bounds, theta, and final scoring all read it

    ubs = enriched.agg(
        *[F.max(f"c{i}").alias(f"ub{i}") for i in range(len(terms))]
    )
    bound = F.lit(0.0)
    score = F.lit(0.0)
    for i in range(len(terms)):
        bound = bound + F.when(F.col(f"tf{i}") > 0, F.col(f"ub{i}")).otherwise(
            0.0
        )
        score = score + F.col(f"c{i}")
    scored = enriched.crossJoin(F.broadcast(ubs)).select(
        "doc_id",
        "dl",
        F.round(bound, 6).alias("bound"),
        F.round(score, 6).alias("score"),
    ).localCheckpoint()

    theta = (
        scored.orderBy(F.desc("bound"), F.asc("doc_id"))
        .limit(k)
        .agg(F.min("score").alias("theta"))
    )
    candidates = scored.crossJoin(F.broadcast(theta)).filter(
        F.col("bound") >= F.col("theta")
    )
    n_scored = candidates.agg(
        F.count("*").cast("bigint").alias("n_scored")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        candidates.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .crossJoin(F.broadcast(n_scored))
        .select(
            "doc_id",
            "dl",
            "score",
            "n_scored",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
    )
