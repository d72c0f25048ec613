"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all pure DataFrame (no Python in the hot path):

1. **Exact** — content hash + group. One shuffle on the hash; at 100 TB
   hash first (64-128 bit) so the shuffle carries digests, not documents.
2. **N-gram Jaccard** — exact set similarity over token shingles. The
   candidate generator is a lossless PREFIX FILTER (AllPairs/PPJoin,
   df-ascending global order), so the naive shared-shingle join's
   quadratic blowup on common shingles never happens; results are
   bit-identical to brute force. Tier 3 stays the cheaper approximate
   path at corpus scale.
3. **MinHash + LSH banding** — candidate pairs = documents agreeing on
   ALL rows of at least one band. Cost is linear in corpus size plus the
   (tiny) bucket collision joins; never all-pairs. Candidates are then
   verified with exact Jaccard (tier 2 applied to candidates only).
4. **SimHash** — per-document 16-bit signature whose Hamming distance
   approximates cosine similarity of term-frequency vectors; near-dup
   lookup becomes an equality/bucket join on signature (or signature
   chunks for Hamming radius > 0).
5. **Embedding-cosine** — semantic near-dup over an embedding column,
   blocked by IVF cell assignment so the pairwise compare never leaves
   a bounded-population cell.

Hashes use the portable md5-derived ``hash60`` so a DuckDB oracle can
reproduce every bucket decision bit-for-bit (``functions/hashing.py``; at
production scale flip to ``fast=True`` / xxhash64).

The reference's seed for this family is its exact per-document distinct
(``src/functions.cpp:75,86``); everything else is north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduceindexer_spark.functions.hashing import hash60
from mapreduceindexer_spark.functions.text import normalized_token_array, shingles


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Group documents by exact content hash.

    Returns (text_hash, n_docs, keeper_doc_id): ``keeper`` is the lowest
    doc_id, the conventional survivor choice.
    """
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def doc_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """Distinct k-token shingles per document: (doc_id, shingle).

    Dedup happens inside the row (``array_distinct`` on the shingle array
    before exploding), so the relation is produced by a purely narrow
    pipeline — no shuffle, one codegen stage fused with the scan.
    """
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(normalized_token_array("text"), k))
        ).alias("shingle"),
    )


def prefix_filter_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Lossless candidate pairs for Jaccard >= threshold via PREFIX
    filtering (the AllPairs / PPJoin family, Bayardo et al. WWW'07).

    Order all shingles by a global total order (df ascending, shingle
    ascending — rarest first). A document with n shingles exposes only
    its first ``n − ceil(θ·n) + 1`` shingles under that order (its
    "prefix") to the candidate join.

    Prefix-filter lemma (no false negatives): if J(A,B) >= θ then
    |A∩B| >= θ·|A∪B| >= ceil(θ·|A|) and >= ceil(θ·|B|). Let c be the
    FIRST common shingle in the global order. If c were outside A's
    prefix, fewer than ceil(θ·|A|) shingles of A would follow it in the
    order — but all |A∩B| >= ceil(θ·|A|) common shingles do. So c lies
    in A's prefix, and symmetrically in B's: every qualifying pair
    collides on at least one prefix shingle.

    Why this bounds the blowup: the naive shared-shingle join explodes
    quadratically on COMMON shingles (a shingle in k docs → k² join
    rows). Under df-ascending order, a near-universal shingle is the
    LAST in every document's order and lands in almost no prefixes, so
    it generates almost no join rows — stress-pinned in
    tests/test_scale_stress.py with a 100%-shared-shingle corpus.

    The df ranking shuffles on shingle (the same key the naive join
    shuffled on) and the per-document rank is a keyed window bounded by
    document size — no new scale hazards.
    """
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("_sdf"))
    w_doc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(df_counts, "shingle")
        .withColumn("_n_sh", F.count("*").over(w_doc))
        .withColumn(
            "_rank",
            F.row_number().over(w_doc.orderBy(F.asc("_sdf"), F.asc("shingle"))),
        )
    )
    # ceil in guarded arithmetic: IEEE can represent threshold*n a hair
    # ABOVE the true rational value (0.07*100 == 7.000000000000001), and a
    # raw ceil would then overshoot by 1, shortening the prefix and
    # silently dropping a qualifying pair. The 1e-9 epsilon exceeds the
    # max double error for any realistic n while never crossing a true
    # integer boundary — it can only err toward a LONGER prefix (more
    # candidates, still lossless).
    prefix = ranked.filter(
        F.col("_rank")
        <= F.col("_n_sh")
        - F.ceil(F.lit(threshold) * F.col("_n_sh") - F.lit(1e-9))
        + 1
    ).select("doc_id", "shingle")
    a = prefix.alias("a")
    b = prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard: (doc_a, doc_b, jaccard) with doc_a < doc_b
    and jaccard >= threshold.

    Semantics are identical to the brute-force shared-shingle all-pairs
    formulation (the registered oracle states exactly that SQL), but the
    candidate generator is the lossless prefix filter above, so the
    quadratic common-shingle blowup of the naive join never happens —
    this tier is exact AND scale-safe; tier 3 (MinHash-LSH) remains the
    cheaper approximate path for corpus-scale runs.
    """
    return (
        jaccard_for_pairs(sh, prefix_filter_candidates(sh, threshold))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(sh: DataFrame, n_hashes: int = 16) -> DataFrame:
    """Per-(doc, seed) minhash values: min over shingles of
    ``perm_seed(hash60(shingle))``.

    ONE md5 per shingle, not per shingle×seed: every permutation is a cheap
    affine map of the same 60-bit base hash (``functions/hashing.py
    minhash_perm`` — the classic ``(a·h+b) mod p`` universal family), and
    all ``n_hashes`` minima are computed as wide aggregates in a single
    ``groupBy(doc_id)`` — no row explosion, and the shuffle carries
    ``n_hashes`` partial mins per (doc, map-partition).

    The hashing is CPU-bound, so the input is explicitly spread to full
    parallelism first — AQE would otherwise coalesce the preceding small
    shuffle to one partition and serialize it (partition sizing by bytes is
    blind to downstream CPU).
    """
    from mapreduceindexer_spark.functions.hashing import (
        minhash_perm,
        minhash_perm_constants,
    )
    from mapreduceindexer_spark.sources.tables import ensure_parallelism

    sh = ensure_parallelism(sh, min_fraction=0.9)
    consts = minhash_perm_constants(n_hashes)
    wide = (
        sh.select("doc_id", hash60("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(minhash_perm(F.col("h"), a, b, c)).alias(f"mh{i}")
                for i, (a, b, c) in enumerate(consts)
            ]
        )
    )
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("seed"), F.col(f"mh{i}").alias("mh"))
            for i in range(n_hashes)
        ]
    )
    return wide.select("doc_id", F.explode(pairs).alias("x")).select(
        "doc_id", F.col("x.seed").alias("seed"), F.col("x.mh").alias("mh")
    )


def _band_of(seed, rows_per_band: int):
    """The band a minhash seed belongs to — ONE definition shared by
    ``lsh_band_signatures`` and ``ingest_signatures``: the persisted
    ingest state joins its per-seed rows to band signatures on this
    expression, so a silent divergence would mis-attach signatures
    with no error raised (review finding)."""
    return (seed / rows_per_band).cast("int")


def lsh_band_signatures(minhash: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """(doc_id, band, sig): concatenated minhash values per band."""
    banded = minhash.withColumn("band", _band_of(F.col("seed"), rows_per_band))
    return banded.groupBy("doc_id", "band").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                lambda s: s["mh"].cast("string"),
            ),
        ).alias("sig")
    )


LSH_MAX_BUCKET = 64  # mirrored bit-for-bit in every registered oracle SQL


def lsh_candidates(band_sigs: DataFrame, max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """Candidate pairs: documents sharing at least one full band signature.

    The join key is (band, sig) — bucket-local, never all-pairs. Two
    regimes, split by bucket population:

    - buckets with <= ``max_bucket`` members (every sane corpus): exact
      all-pairs within the bucket, as before;
    - oversized buckets (degenerate corpora — thousands of identical
      documents collapse into ONE signature) switch to a star pattern:
      each member pairs with the bucket's minimum doc_id only. That is
      linear in bucket size instead of quadratic, and still routes every
      member through the exact verify stage.

    Star-pattern trade-offs, stated honestly: two non-hub members of an
    oversized bucket are never verified against each other, so (a) their
    direct pair is lost to recall unless another (small) bucket emits it,
    and (b) the connected-components consumer (q_dup_clusters) sees the
    cluster linked ONLY through hub edges that survive the verify
    threshold — if a spoke→hub edge fails verify, that spoke detaches
    even though a direct spoke↔spoke edge might have passed. Acceptable
    for the degenerate near-identical corpora that trigger the guard
    (all edges are near-1.0 similarity there); raise ``max_bucket`` if
    exactness matters more than the quadratic blowup.

    The bucket census (count + min per (band, sig)) is a window over the
    same key the join shuffles on, so the guard adds no extra exchange of
    the big relation. The registered oracles (q_near_dup, q_containment,
    and the q_dup_clusters / q_curation_pipeline composites) replay the
    same census + two-regime split in SQL, so bucket decisions match
    bit-for-bit in both engines.
    """
    w = Window.partitionBy("band", "sig")
    sized = band_sigs.select(
        "doc_id",
        "band",
        "sig",
        F.count("*").over(w).alias("bsz"),
        F.min("doc_id").over(w).alias("bmin"),
    )
    small = sized.filter(F.col("bsz") <= max_bucket)
    a = small.alias("a")
    b = small.alias("b")
    pairs_small = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    pairs_large = sized.filter(
        (F.col("bsz") > max_bucket) & (F.col("doc_id") != F.col("bmin"))
    ).select(F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return pairs_small.unionByName(pairs_large).distinct()


def _pair_overlap_counts(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared verify-stage core for the set-overlap metrics:
    (doc_a, doc_b, n_inter, n_a, n_b) for exactly the given pairs.

    Scale rules, learned from the round-5 100x document load test (where
    Catalyst BROADCAST the full 50M-row shingle relation — its size
    estimate for an exploded relation is garbage — and OOM'd an 8 GB
    driver):

    - the shingle relation is SEMI-RESTRICTED to candidate-pair docs
      before anything joins it (candidates << corpus in healthy dedup,
      so the verify stage's input collapses by orders of magnitude);
    - BOTH the pair relation and the restricted shingle relation are
      localCheckpoint'd, so every join below sees REAL sizes and
      Catalyst's build-side choice is adaptive and correct at every
      scale: broadcast whichever side actually fits the threshold,
      sort-merge beyond. No hint forces anything — deliberately: the
      pair relation is bucket-collision-bounded only for the LSH
      callers; ``jaccard_pairs`` feeds prefix-filter candidates with no
      bucket cap, where a forced broadcast would itself be the OOM.
      (Measured: a static merge hint cost 2x at 1x; trusting the
      post-explode estimate OOM'd at 100x; this does neither.)

    The pair checkpoint also stops its LINEAGE (the whole minhash/LSH
    candidate DAG) re-running for each of its three references (two
    endpoint projections + the join).
    """
    pairs = pairs.localCheckpoint()
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shc = sh.join(cand_docs, "doc_id", "left_semi").localCheckpoint()
    sizes = shc.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = shc.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("s_a"))
    sb = shc.select(F.col("doc_id").alias("_doc_b"), F.col("shingle").alias("s_b"))
    inter = (
        sa.join(pairs, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("_doc_b")) & (F.col("s_a") == F.col("s_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter.join(na, "doc_a").join(nb, "doc_b")


def jaccard_for_pairs(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard computed ONLY for the given (doc_a, doc_b) pairs.

    Intersections come from joining each pair's shingle sets — cost is
    Σ|A ∪ B| over candidate pairs, not corpus-quadratic. Join shape and
    scale rules live in ``_pair_overlap_counts`` (shared with the
    asymmetric-containment metric).
    """
    return _pair_overlap_counts(sh, pairs).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
        ).alias("jaccard"),
    )


def near_duplicates(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard (the full tier-3
    pipeline): (doc_a, doc_b, jaccard >= threshold).

    Jaccard runs on candidate pairs ONLY (``jaccard_for_pairs``) — the
    whole point of LSH is that the quadratic verify collapses to the few
    bucket-collision pairs.

    The shingle relation feeds four consumers (minhash, set sizes, both
    sides of the verify join), so it is persisted — spill-to-disk, not
    memory-only, which is exactly what a 100 TB run would do (or write it
    once as a bucketed table and read it back). The pair RESULT is tiny
    (bucket collisions only), so it is materialized eagerly
    (``localCheckpoint``) and the big shingle cache released before
    returning — a long-lived session running many dedup queries must not
    accumulate one cached shingle relation per call.
    """
    from pyspark import StorageLevel

    sh = doc_shingles(docs, k).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidates(
        lsh_band_signatures(minhash_signatures(sh, n_hashes), rows_per_band)
    )
    out = (
        jaccard_for_pairs(sh, cands)
        .filter(F.col("jaccard") >= threshold)
        .localCheckpoint()
    )
    sh.unpersist()
    return out


def _pairs_within_cells(
    embeddings: DataFrame, cells: DataFrame, threshold: float
) -> DataFrame:
    """Shared within-cell pairing core of the embedding dedup tier:
    (vec_a, vec_b, cos_sim >= threshold) for vectors sharing a cell.

    L2 norms are computed ONCE per vector before pairing, so each
    candidate pair evaluates a single higher-order dot product instead
    of dot + two norms — pair comparison is the quadratic term, so this
    is a 3x cut on the dominant cost. Both the fixed-dial and the
    scaled-dial entry points feed this, so the metric and join shape
    cannot silently diverge between them.

    The (vector, cell, norm) relation is localCheckpointed before the
    self-join: both branches reference it and no ReusedExchange fires
    (verified on the executed plan), so without staging the n x cells
    centroid assignment — the dominant LINEAR term at 100x (PLANS.md
    round-5 table: assignment cost dominates q_embed_dup_scaled) — runs
    twice. Staging is a bounded builder-side job (n rows + arrays), the
    same class as the LSH staging in near_duplicates.
    """
    from mapreduceindexer_spark.functions.vector import dot, l2_norm

    e = (
        embeddings.join(cells, "vec_id")
        .withColumn("nrm", l2_norm("embedding"))
        .localCheckpoint()
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "cell",
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "cell",
    )
    # The quadratic stage keeps core-count parallelism regardless of its
    # (tiny) input byte size — see similarity._spread_cells (r13): AQE
    # would otherwise coalesce the whole in-cell pair join to ~1 task.
    from mapreduceindexer_spark.operators.similarity import _spread_cells

    return (
        _spread_cells(a, "cell").join(_spread_cells(b, "cell"), "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot("emb_a", "emb_b") / (F.col("nrm_a") * F.col("nrm_b")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_duplicates(
    embeddings: DataFrame, threshold: float = 0.4, n_centroids: int = 32
) -> DataFrame:
    """Tier-5 near-dup: embedding-cosine pairs within IVF-cell blocks.

    Blocking = nearest-centroid assignment (``similarity.ivf_assignments``),
    so pairs are generated per cell — never an all-pairs crossJoin over the
    corpus. At 100 TB the centroid count scales with corpus size
    (``cells ≈ N / target_cell_size``) so the per-cell self-join stays
    quadratic only in a bounded constant; recall is raised with multi-probe
    assignment (emit each vector's top-p cells — same query shape, p×
    candidate rows). Returns (vec_a, vec_b, cos_sim >= threshold).

    L2 norms are computed ONCE per vector before pairing, so each candidate
    pair evaluates a single higher-order dot product instead of dot + two
    norms — pair comparison is the quadratic term, so this is a 3× cut on
    the dominant cost.
    """
    from mapreduceindexer_spark.operators.similarity import ivf_assignments

    return _pairs_within_cells(
        embeddings, ivf_assignments(embeddings, n_centroids), threshold
    )


def embedding_near_duplicates_scaled(
    embeddings: DataFrame,
    threshold: float = 0.4,
    target_cell_size: int = 200,
    min_cells: int = 8,
) -> DataFrame:
    """Tier-5 embedding dedup with the production cell dial live:
    ``n_centroids = max(min_cells, floor(n / target_cell_size))`` — the
    scale-safe variant the round-4 100x load test prescribed (PLANS.md:
    fixed 32 cells never finished at 100x; ``cells ~ n/200`` completed
    in ~120 s). Per-cell population stays ~``target_cell_size`` at any
    corpus size, so the within-cell self-join is quadratic only in a
    bounded constant.

    The corpus count enters the plan as data (one-row count aggregate,
    broadcast-crossJoined onto the centroid filter) — no driver collect
    anywhere; the only builder-side job is the shared pair-stage staging
    checkpoint (see ``_pairs_within_cells``). Centroids remain the deterministic
    lowest-vec_id rows so the DuckDB oracle replays the assignment
    bit-for-bit; production would swap in ``similarity.kmeans_centroids``
    (same plan shape, trained centroid table).
    """
    from mapreduceindexer_spark.operators.similarity import assign_to_centroids

    nc = F.greatest(
        F.lit(min_cells), F.floor(F.col("n") / F.lit(target_cell_size))
    ).cast("bigint")
    stats = embeddings.agg(F.count("*").alias("n")).select(nc.alias("nc"))
    centroids = (
        embeddings.crossJoin(F.broadcast(stats))
        .filter(F.col("vec_id") < F.col("nc"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
    )
    return _pairs_within_cells(
        embeddings, assign_to_centroids(embeddings, centroids), threshold
    )


def simhash_signatures(docs: DataFrame, n_bits: int = 16) -> DataFrame:
    """Per-document SimHash over term frequencies: (doc_id, simhash).

    bit_b(doc) = sign( Σ_terms tf · (2·bit_b(hash60(term)) − 1) ). The bit
    loop unrolls into ``n_bits`` aggregate expressions over one groupBy —
    a single shuffle, no row explosion, fully whole-stage-codegen. 16 bits
    keeps the signature arithmetic trivially exact in both engines.
    """
    from mapreduceindexer_spark.functions.hashing import bit_at
    from mapreduceindexer_spark.functions.text import tokens_normalized

    tf = (
        tokens_normalized(docs)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", hash60("term"))
    )
    per_doc = tf.groupBy("doc_id").agg(
        *[
            F.sum(F.col("tf") * (bit_at(F.col("h"), b) * 2 - 1)).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    sig = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") >= 0, 1).otherwise(0) * (1 << b)
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.cast("bigint").alias("simhash"))


def cross_near_duplicates(
    docs_a: DataFrame,
    docs_b: DataFrame,
    k: int = 3,
    n_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-dataset near-dup: candidates from ``docs_b`` that near-match
    any reference document in ``docs_a`` — the dedup a pipeline runs when
    ingesting NEW data against an EXISTING corpus (no self-join, no
    re-hashing of the reference side per ingest in production: its band
    signatures would be precomputed and stored).

    Same LSH shape as ``near_duplicates`` but the bucket join is A-sigs ⋈
    B-sigs, so cost is linear in each side plus cross-bucket collisions.
    ``doc_id`` must be unique across both inputs (they may be slices of
    one table). Returns (doc_a, doc_b, jaccard >= threshold).
    """
    from pyspark import StorageLevel

    sh_a = doc_shingles(docs_a, k)
    sh_b = doc_shingles(docs_b, k)
    sh_all = sh_a.union(sh_b).persist(StorageLevel.MEMORY_AND_DISK)
    sig_a = lsh_band_signatures(minhash_signatures(sh_a, n_hashes), rows_per_band)
    sig_b = lsh_band_signatures(minhash_signatures(sh_b, n_hashes), rows_per_band)
    cands = (
        sig_a.alias("a")
        .join(
            sig_b.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    out = (
        jaccard_for_pairs(sh_all, cands)
        .filter(F.col("jaccard") >= threshold)
        .localCheckpoint()
    )
    sh_all.unpersist()
    return out


def containment_for_pairs(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Asymmetric containment for the given (doc_a, doc_b) pairs:
    cont_a = |A∩B| / |A| (how much of A lies inside B) and the mirror
    cont_b. High max-containment with low Jaccard is the boilerplate /
    quote-inclusion case symmetric Jaccard misses — a short document
    wholly embedded in a long one. Join shape and scale rules live in
    ``_pair_overlap_counts`` (shared with the Jaccard metric).
    """
    return _pair_overlap_counts(sh, pairs).select(
        "doc_a",
        "doc_b",
        F.round(F.col("n_inter") / F.col("n_a"), 6).alias("cont_a"),
        F.round(F.col("n_inter") / F.col("n_b"), 6).alias("cont_b"),
    )


def containment_pairs(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates scored by asymmetric containment, kept when either
    direction reaches ``threshold`` — the boilerplate/inclusion detector
    (same candidate generation as ``near_duplicates``, different verify
    metric). Returns (doc_a, doc_b, cont_a, cont_b).

    Recall caveat (documented, inherent): band-signature candidates are
    tuned for symmetric Jaccard; a tiny-inside-huge pair can evade the
    bands. Production raises recall with more/narrower bands or seeded
    suffix anchors — the verify stage here is metric-exact either way.
    """
    from pyspark import StorageLevel

    sh = doc_shingles(docs, k).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidates(
        lsh_band_signatures(minhash_signatures(sh, n_hashes), rows_per_band)
    )
    out = (
        containment_for_pairs(sh, cands)
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold)
        .localCheckpoint()
    )
    sh.unpersist()
    return out


def substring_duplicates(docs: DataFrame, w: int = 50) -> DataFrame:
    """Tier-6: exact-substring duplication coverage (the ExactSubstr
    criterion of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", re-expressed as a shuffle-friendly
    window-hash sweep instead of a monolithic suffix array).

    Every ``w``-token window (stride 1) is digested; a window whose digest
    occurs >= 2 times ANYWHERE in the corpus — across documents or
    repeated inside one — is *duplicated*. A document's duplicated-token
    coverage is the size of the union of its duplicated windows'
    ``[pos, pos+w)`` intervals, computed with gaps-and-islands (intervals
    arrive sorted by ``pos``, an island breaks when a window starts past
    the running max end).

    Returns one row per document:
    (doc_id, n_tokens, n_windows, n_dup_windows, dup_tokens,
    dup_frac_ppm) where ``dup_frac_ppm`` is the coverage fraction as an
    exact scaled integer (parts per million, integer division) so an
    external oracle replays it bit-for-bit with no float seam.

    Scale: the only corpus-wide shuffle carries (digest, count) — 16-byte
    md5 keys, never window text; the island walk is a keyed window
    bounded by single-document length. At 100 TB this is the standard
    two-pass MapReduce formulation of ExactSubstr (count window hashes,
    re-scan marking covered spans); the suffix-array original is a
    single-machine design and does not distribute. The windows relation
    feeds both passes, so it is persisted (spill-to-disk) — write-once
    read-twice, exactly what a production run would stage as a temp
    table — and released before returning (result is one narrow row per
    document, safe to materialize eagerly).

    Reference seed: the per-document distinct of ``src/functions.cpp:75``
    — this is its span-level generalization (north-star extension).
    """
    from pyspark import StorageLevel

    toks = docs.select("doc_id", normalized_token_array("text").alias("tk"))
    wins = (
        toks.filter(F.size("tk") >= w)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - (w - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice("tk", i, w))).alias("h"),
                    ),
                )
            ).alias("pw"),
        )
        .select("doc_id", "pw.pos", "pw.h")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup_h = wins.groupBy("h").agg(F.count("*").alias("c")).filter("c >= 2").select("h")
    dw = wins.join(dup_h, "h").select(
        "doc_id", "pos", (F.col("pos") + (w - 1)).alias("e")
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    isl = dw.withColumn(
        "brk",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(0)) + 1, 1)
        .when(prev_end.isNull(), 1)
        .otherwise(0),
    ).withColumn("island", F.sum("brk").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)))
    # One pipeline computes BOTH per-doc numbers: island extents carry the
    # window count along, so the duplicated-window relation is consumed
    # exactly once (no second branch, no extra join back).
    cov = isl.groupBy("doc_id", "island").agg(
        (F.max("e") - F.min("pos") + 1).alias("c"),
        F.count("*").alias("nw"),
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.sum("c").alias("dup_tokens"), F.sum("nw").alias("n_dup_windows")
    )
    base = toks.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.greatest(F.size("tk") - (w - 1), F.lit(0)).cast("bigint").alias("n_windows"),
    )
    out = (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr("coalesce(dup_tokens, 0) * 1000000 DIV n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("dup_frac_ppm"),
        )
        .localCheckpoint()
    )
    wins.unpersist()
    return out


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space,
    then prune pairs whose cosine similarity exceeds ``threshold`` WITHIN
    each cluster — cross-cluster near-dups are out of scope by design
    (that miss rate is the algorithm's recall/cost dial, controlled by k).

    Output: (vec_id, cell, is_kept) for every vector. Keep rule is
    deterministic min-id: a vector is dropped iff some lower-id member of
    its own cell is >= threshold similar (the paper keeps one arbitrary
    representative per similar group; min-id is the replayable choice,
    same convention as the LSH tiers).

    Scale: training and assignment are the shared k-means machinery
    (operators/similarity.py — decimal-exact, oracle-replayable). The
    within-cell pairing is quadratic PER CELL — exactly the cost model of
    the published algorithm, which sizes k so |cell| ~ n/k stays
    pair-able. The pair join is a self-equi-join on cell (one shuffle,
    AQE-balanced); the drop set is a distinct on the higher id, and the
    verdict join-back is a broadcast of that small set.
    """
    from mapreduceindexer_spark.operators.similarity import kmeans_centroids

    # The trained-centroid plan re-scans embeddings per Lloyd round, and
    # the pair self-join below references the assignment TWICE — without
    # staging, Spark recomputes the whole kmeans+assign subtree on both
    # sides (measured 7.8 s -> 1.3 s at sf0.1). Both relations are tiny
    # (k rows; one (vec_id, cell) row per vector), so checkpoint them
    # once and let every downstream branch read the materialized result.
    cents = kmeans_centroids(embeddings, k=k, iters=iters).localCheckpoint()
    return _semantic_prune(embeddings, cents, threshold)


def semantic_dedup_scaled(
    embeddings: DataFrame,
    target_cell_size: int = 200,
    min_k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    two_level: bool = False,
) -> DataFrame:
    """SemDeDup with the PRODUCTION cluster-count dial live:
    ``k = max(min_k, floor(n / target_cell_size))`` as a broadcast
    one-row count — the dialed twin of ``semantic_dedup``, closing the
    round-6 verdict's one flagged scale-killer (fixed k=8 makes the
    within-cell pairing grow as n²/k; per-cell population must stay a
    bounded constant, exactly the ``embedding_near_duplicates_scaled``
    / ``knn_graph_scaled`` precedent from the round-4/5 load tests).

    Training is real scaled k-means (``kmeans_centroids_scaled``: only
    the seed filter sees the dial; Lloyd's rounds are seed-agnostic), so
    the driver verifies the path you'd run at 100 TB — trained cells,
    corpus-proportional k — not the fixed-dial oracle-friendly one.
    """
    from mapreduceindexer_spark.operators.similarity import (
        kmeans_centroids_scaled,
    )

    cents = kmeans_centroids_scaled(
        embeddings,
        target_cell_size=target_cell_size,
        min_k=min_k,
        iters=iters,
        two_level=two_level,
    ).localCheckpoint()
    return _semantic_prune(embeddings, cents, threshold, two_level=two_level)


def _semantic_prune(
    embeddings: DataFrame,
    cents: DataFrame,
    threshold: float,
    two_level: bool = False,
) -> DataFrame:
    """Shared SemDeDup prune stage: assign to ``cents``, census the
    within-cell pairs ≥ threshold, keep the min-id representative.
    ``cents`` must already be materialized (localCheckpoint) — the
    assignment is referenced by BOTH sides of the pair self-join.
    ``two_level`` routes the final assignment through the 2n√k search
    (``assign_to_centroids_twolevel``) instead of the flat n·k one."""
    from mapreduceindexer_spark.functions.vector import dot, l2_norm
    from mapreduceindexer_spark.operators.similarity import (
        assign_to_centroids,
        assign_to_centroids_twolevel,
    )

    assign = (
        assign_to_centroids_twolevel if two_level else assign_to_centroids
    )
    cells = assign(embeddings, cents).localCheckpoint()
    # Norms are computed ONCE per vector before the pair join (the pair
    # expression is dot/(na·nb) — identical arithmetic to the inline
    # cosine, since the per-vector sqrt is the same either way, but the
    # O(d) norm reductions stop being per-PAIR work: 2 of the 3 array
    # reductions leave the quadratic stage).
    e = embeddings.join(cells, "vec_id").select(
        "cell",
        "vec_id",
        F.col("embedding").cast("array<double>").alias("vd"),
    ).withColumn("nrm", l2_norm("vd"))
    a = e.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("vd").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("vd").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    d = dot(F.col("va"), F.col("vb"))
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0), d / (F.col("na") * F.col("nb"))
    ).otherwise(F.lit(0.0))
    # Same AQE-collapse guard as _pairs_within_cells (r13): the in-cell
    # pair join is compute-quadratic at constant bytes.
    from mapreduceindexer_spark.operators.similarity import _spread_cells

    dropped = (
        _spread_cells(a, "cell").join(_spread_cells(b, "cell"), "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return cells.join(F.broadcast(dropped), "vec_id", "left").select(
        "vec_id",
        "cell",
        F.col("_dropped").isNull().alias("is_kept"),
    )


INGEST_N_HASHES = 16  # ONE source of truth for the ingest-dedup family


def ingest_signatures(
    docs: DataFrame,
    k: int = 3,
    n_hashes: int = INGEST_N_HASHES,
    rows_per_band: int = 2,
) -> DataFrame:
    """The denormalized dedup STATE of one document set: (doc_id, seed,
    mh, band, sig) — per-seed minhash values for signature-agreement
    verification, with each row carrying its band's concatenated LSH
    signature for bucketed candidate generation. This is the relation
    an incremental ingest pipeline PERSISTS (≈ n_hashes small rows per
    document, independent of document length): new batches dedup
    against the corpus by probing this state, never by re-reading or
    re-hashing corpus text — at 100 TB the difference between reading
    n_hashes small rows per stored document and a daily full-corpus
    recompute. One md5 per shingle as in
    ``minhash_signatures``; the banding is the same expression
    ``lsh_band_signatures`` uses, so stored state and ad-hoc dedup
    agree bit-for-bit (and the DuckDB oracle replays both).

    Two paths, one result. A ``(doc_id, text)`` that passes the
    driver-path gate (``operators/driver.py``), with a string ``text``
    and an integral or string ``doc_id``, is hashed in the driver
    process (:func:`_signatures_on_driver`): one ``toArrow`` read, each
    distinct shingle hashed once, and a local relation back. Any other
    input takes the Spark plan below, which the driver path replays."""
    served = _signatures_on_driver(docs, k, n_hashes, rows_per_band)
    if served is not None:
        return served
    mh = minhash_signatures(doc_shingles(docs, k), n_hashes)
    sigs = lsh_band_signatures(mh, rows_per_band)
    banded = mh.withColumn("band", _band_of(F.col("seed"), rows_per_band))
    return banded.join(sigs, ["doc_id", "band"]).select(
        "doc_id", "seed", "mh", "band", "sig"
    )


def ingest_dedup_against(
    state_sigs: DataFrame,
    batch_sigs: DataFrame,
    n_hashes: int = INGEST_N_HASHES,
    threshold: float = 0.5,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Batch-vs-state incremental dedup: (doc_id, n_matches, best_est)
    of BATCH documents whose estimated Jaccard against at least one
    STATE document reaches ``threshold``. Both inputs are
    ``ingest_signatures`` relations (state typically read from a
    transactional table; batch freshly hashed).

    Candidates are bucket-joined on (band, sig) — linear in each side
    plus collisions, never all-pairs. Oversized STATE buckets (boiler-
    plate corpora collapsing thousands of docs into one signature)
    switch to a star: each batch member pairs with the bucket's MIN
    state doc only — linear in bucket size, and since the guard only
    fires when the bucket is near-identical text, the hub verifies
    like any member would (same trade as ``lsh_candidates``, stated
    there).

    Verification is MINHASH SIGNATURE AGREEMENT — the fraction of the
    ``n_hashes`` seeds on which the two documents' minhash values
    coincide, an unbiased estimator of Jaccard computable from the
    stored state alone. That is the production contract: the state
    carries no shingles and no text, so exact re-verification would
    need a corpus re-read; estimator granularity is 1/n_hashes (raise
    n_hashes for a finer gate). The estimate never touches document
    bytes.

    Two paths, one result, and both are O(state): neither yet reads only
    the state buckets the batch touches. When both inputs pass the
    driver-path gate (``operators/driver.py``), the probe runs in the
    driver process (:func:`_dedup_on_driver`): each input is read once
    with ``toArrow`` (a batch that ``ingest_signatures`` hashed on the
    driver is not read again) and the plan is replayed in Arrow, with a
    local relation back. Any other input takes the Spark plan below. It
    reads the whole state twice, once for the bucket census and once
    for the agreement join, and evaluates the batch's plan twice, so a
    lazy batch is hashed twice."""
    served = _dedup_on_driver(state_sigs, batch_sigs, n_hashes, threshold, max_bucket)
    if served is not None:
        return served
    st = state_sigs.select("doc_id", "band", "sig").distinct()
    w = Window.partitionBy("band", "sig")
    census = st.select(
        "doc_id",
        "band",
        "sig",
        F.count("*").over(w).alias("bsz"),
        F.min("doc_id").over(w).alias("bmin"),
    )
    probe = batch_sigs.select("doc_id", "band", "sig").distinct()
    small = (
        census.filter(F.col("bsz") <= max_bucket)
        .alias("s")
        .join(
            probe.alias("b"),
            (F.col("s.band") == F.col("b.band"))
            & (F.col("s.sig") == F.col("b.sig")),
        )
        .select(
            F.col("s.doc_id").alias("state_doc"),
            F.col("b.doc_id").alias("new_doc"),
        )
    )
    large = (
        census.filter(
            (F.col("bsz") > max_bucket) & (F.col("doc_id") == F.col("bmin"))
        )
        .alias("s")
        .join(
            probe.alias("b"),
            (F.col("s.band") == F.col("b.band"))
            & (F.col("s.sig") == F.col("b.sig")),
        )
        .select(
            F.col("s.doc_id").alias("state_doc"),
            F.col("b.doc_id").alias("new_doc"),
        )
    )
    cands = small.unionByName(large).distinct()
    est = signature_agreement_pairs(
        cands, state_sigs, batch_sigs, "state_doc", "new_doc",
        n_hashes, threshold,
    )
    return est.groupBy(F.col("new_doc").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.round(F.max("est"), 6).alias("best_est"),
    )


def _signatures_on_driver(
    docs: DataFrame, k: int, n_hashes: int, rows_per_band: int
) -> DataFrame | None:
    """The rows of :func:`ingest_signatures`' Spark plan, computed in the
    driver process, or None when ``docs`` is not eligible. Step by step
    against the plan:

    - terms: :func:`~mapreduceindexer_spark.functions.text.arrow_tokens`
      is ``normalized_token_array`` in Arrow; a k-shingle starts at each
      term followed by k - 1 more of the same text, so a text of fewer
      than k terms (or null) gives none;
    - documents: rows group by ``doc_id`` (duplicates merge); a null id
      gives no row, as the plan's join on ``doc_id`` drops it;
    - hashes: ``hash60`` is the first 60 bits of md5 of ``"0:" +
      shingle``, taken once per distinct shingle; ``minhash_perm`` runs
      in int64, where its products stay below 2^61;
    - bands: ``band = seed // rows_per_band`` and ``sig`` joins the
      band's minhash values in seed order, a short last band included.
    """
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from mapreduceindexer_spark.functions.hashing import (
        _MASK30,
        MINHASH_MOD,
        minhash_perm_constants,
    )
    from mapreduceindexer_spark.functions.text import arrow_tokens
    from mapreduceindexer_spark.operators import driver

    if k < 1 or n_hashes < 1 or rows_per_band < 1:
        return None
    corpus = driver.small_relation(docs, doc_id=driver.is_key, text=driver.is_string)
    table = None if corpus is None else driver.collect_small(corpus)
    if table is None:
        return None
    id_field = corpus.schema.fields[0]

    groups = pc.dictionary_encode(table.column(0).combine_chunks())
    group_of_row = pc.fill_null(groups.indices, -1).to_numpy()
    tokens = arrow_tokens(table.column(1))
    rows = tokens.column("row").to_numpy()
    terms = tokens.column("term")
    n = max(len(rows) - k + 1, 0)
    starts = np.flatnonzero(rows[k - 1 : k - 1 + n] == rows[:n])
    group = group_of_row[rows[starts]]
    starts, group = starts[group >= 0], group[group >= 0]
    shingle = pc.dictionary_encode(
        pc.binary_join_element_wise(*(terms.take(starts + j) for j in range(k)), " ")
    ).combine_chunks()
    distinct = shingle.dictionary.cast(pa.binary()).to_pylist()
    h60 = np.fromiter(
        (int.from_bytes(hashlib.md5(b"0:" + s).digest()[:8], "big") >> 4 for s in distinct),
        np.int64,
        count=len(distinct),
    )
    # One entry per distinct (document, shingle), sorted by document.
    width = max(len(distinct), 1)
    pair = np.unique(group.astype(np.int64) * width + shingle.indices.to_numpy())
    group, h = pair // width, h60[pair % width]
    first = np.flatnonzero(np.diff(group, prepend=-1))
    lo, hi = h & _MASK30, (h >> 30) & _MASK30
    mh = np.stack(
        [
            np.minimum.reduceat((a * lo + b * hi + c) % MINHASH_MOD, first)
            for a, b, c in minhash_perm_constants(n_hashes)
        ],
        axis=1,
    )  # one row per document, one column per seed

    n_docs = len(first)
    seed = np.arange(n_hashes)
    band = seed // rows_per_band
    mh_text = [pc.cast(pa.array(mh[:, i]), pa.string()) for i in seed]
    sig = pa.chunked_array(
        [
            pc.binary_join_element_wise(*(mh_text[i] for i in seed[band == j]), ",")
            for j in range(int(band[-1]) + 1)
        ],
        pa.string(),
    )  # band-major: the sig of document d in band b is at b * n_docs + d
    at = np.repeat(np.arange(n_docs), n_hashes)
    seeds = np.tile(seed, n_docs)
    out = pa.table(
        {
            "doc_id": groups.dictionary.take(pa.array(group[first][at])),
            "seed": pa.array(seeds, pa.int32()),
            "mh": pa.array(mh.reshape(-1), pa.int64()),
            "band": pa.array(band[seeds], pa.int32()),
            "sig": sig.take(pa.array(band[seeds] * n_docs + at)),
        }
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", id_field.dataType, id_field.nullable),
            T.StructField("seed", T.IntegerType(), False),
            T.StructField("mh", T.LongType(), True),
            T.StructField("band", T.IntegerType(), True),
            T.StructField("sig", T.StringType(), False),
        ]
    )
    return driver.local_relation(docs.sparkSession, out, schema)


def _dedup_on_driver(
    state_sigs: DataFrame,
    batch_sigs: DataFrame,
    n_hashes: int,
    threshold: float,
    max_bucket: int,
) -> DataFrame | None:
    """The rows of :func:`ingest_dedup_against`'s Spark plan, computed in
    the driver process with Arrow, or None when an input is not
    eligible. Each step is the plan's: distinct (doc, band, sig), the
    census (bucket size and min doc), the star split at ``max_bucket``,
    distinct candidate pairs, and per pair the number of (seed, mh)
    values the two documents share over ``n_hashes``. A null in either
    input falls back, as does a ``threshold`` of 0 or below, where the
    plan's estimate also depends on pairs that share no seed at all."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from mapreduceindexer_spark.operators import driver

    if not (threshold > 0 and n_hashes >= 1):
        return None
    types = dict(
        doc_id=driver.is_key,
        seed=driver.is_integral,
        mh=driver.is_integral,
        band=driver.is_integral,
        sig=driver.is_string,
    )
    # The batch first: it is usually the table ingest_signatures just
    # built, and when it falls back the state is not read for nothing.
    rels = [driver.small_relation(df, **types) for df in (batch_sigs, state_sigs)]
    if None in rels:
        return None
    tables = []
    for rel in rels:
        t = driver.collect_small(rel)
        if t is None or any(c.null_count for c in t.columns):
            return None
        tables.append(
            pa.table(
                [t.column(0), *(pc.cast(t.column(i), pa.int64()) for i in (1, 2, 3)), t.column(4)],
                names=["doc", "seed", "mh", "band", "sig"],
            )
        )
    batch, state = tables

    def distinct(t, cols):
        return t.select(cols).group_by(cols).aggregate([])

    def join(a, b, keys):
        return a.join(b, keys, join_type="inner")

    st = distinct(state, ["doc", "band", "sig"])
    census = st.group_by(["band", "sig"]).aggregate([("doc", "count"), ("doc", "min")])
    small = join(st, census, ["band", "sig"]).filter(pc.field("doc_count") <= max_bucket)
    large = census.filter(pc.field("doc_count") > max_bucket)
    hubs = pa.concat_tables(
        [
            small.select(["doc", "band", "sig"]),
            large.select(["doc_min", "band", "sig"]).rename_columns(["doc", "band", "sig"]),
        ]
    )
    probe = distinct(batch, ["doc", "band", "sig"]).rename_columns(["new", "band", "sig"])
    cands = distinct(join(hubs, probe, ["band", "sig"]), ["doc", "new"])
    # Joined on (seed, mh) too: each row is one value the pair shares.
    am = distinct(state, ["doc", "seed", "mh"])
    bm = distinct(batch, ["doc", "seed", "mh"]).rename_columns(["new", "seed", "mh"])
    shared = (
        join(join(cands, am, "doc"), bm, ["new", "seed", "mh"])
        .group_by(["doc", "new"])
        .aggregate([("seed", "count")])
    )
    est = pc.divide(pc.cast(shared.column("seed_count"), pa.float64()), float(n_hashes))
    verified = shared.append_column("est", est).filter(pc.field("est") >= threshold)
    found = verified.group_by("new").aggregate([("doc", "count"), ("est", "max")])
    spark = batch_sigs.sparkSession
    out = pa.table(
        {
            "doc_id": found.column("new"),
            "n_matches": found.column("doc_count"),
            "best_est": driver.round_half_up_6(found.column("est_max").to_numpy(), spark),
        }
    )
    id_field = rels[0].schema.fields[0]
    schema = T.StructType(
        [
            T.StructField("doc_id", id_field.dataType, id_field.nullable),
            T.StructField("n_matches", T.LongType(), False),
            T.StructField("best_est", T.DoubleType(), True),
        ]
    )
    return driver.local_relation(spark, out, schema)


def signature_agreement_pairs(
    cands: DataFrame,
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    a_col: str,
    b_col: str,
    n_hashes: int = INGEST_N_HASHES,
    threshold: float = 0.5,
) -> DataFrame:
    """The SHARED verify stage of incremental dedup: (a_col, b_col,
    est) of candidate pairs whose MINHASH SIGNATURE AGREEMENT (the
    fraction of seeds on which the two documents' minhash values
    coincide — an unbiased Jaccard estimator computable from stored
    signatures alone) reaches ``threshold``. ``cands`` carries
    (a_col, b_col); ``sigs_a``/``sigs_b`` are ``ingest_signatures``
    relations. One definition serves both the state probe
    (``ingest_dedup_against``) and the intra-batch gate of the
    streaming ingest (``streaming/ingest_stream.py``) — two copies of
    the estimator would drift silently (review finding, the _band_of
    class of bug)."""
    am = sigs_a.select(
        F.col("doc_id").alias(a_col), "seed", F.col("mh").alias("_mh_a")
    ).distinct()
    bm = sigs_b.select(
        F.col("doc_id").alias(b_col), "seed", F.col("mh").alias("_mh_b")
    ).distinct()
    return (
        cands.join(am, a_col)
        .join(bm, [b_col, "seed"])
        .groupBy(a_col, b_col)
        .agg(
            (
                F.count(F.when(F.col("_mh_a") == F.col("_mh_b"), 1))
                / F.lit(float(n_hashes))
            ).alias("est")
        )
        .filter(F.col("est") >= threshold)
    )
