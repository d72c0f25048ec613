"""Similarity search over embedding columns (``ARRAY<FLOAT>``).

Two tiers:

- **Brute-force cosine top-k** — the correctness baseline. For a single
  probe this is a broadcast of one row against a full scan: linear, one
  pass, no shuffle except the final top-k (TakeOrderedAndProject). Never
  an all-pairs crossJoin.
- **IVF (inverted-file) top-k** — the scale path: vectors are assigned to
  coarse cells (nearest of ``n_centroids`` centroid vectors); a probe
  searches only its own cell. Here centroids are a deterministic sample
  (lowest vec_ids) so the DuckDB oracle can replay the exact assignment;
  production would k-means them (same query shape, different centroid
  table). At 100 TB the assignment output is written bucketed by cell so
  probes prune to one bucket — partition pruning does the fan-in.

All arithmetic in double via JVM higher-order functions
(``functions/vector.py``) — no Python UDFs. Ranks are total-ordered
(similarity DESC, vec_id ASC on values rounded to 6 digits) so top-k frontiers
are engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduceindexer_spark.functions.vector import cosine_similarity, l2_norm


def vector_norms(embeddings: DataFrame) -> DataFrame:
    """(vec_id, dim, l2) — sanity/statistics pass over the embedding table."""
    return embeddings.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(l2_norm("embedding"), 6).alias("l2"),
    )


def cosine_topk(embeddings: DataFrame, probe_id: int, k: int = 10) -> DataFrame:
    """Top-k most-similar vectors to ``probe_id`` by cosine (probe excluded).

    Plan: one-row probe is broadcast; similarity is computed scan-side;
    ``orderBy().limit(k)`` plans a distributed TakeOrderedAndProject
    (each partition surrenders at most k rows), and only the k survivors
    flow through the rank window — the full corpus never funnels into a
    single window partition.
    """
    probe = embeddings.filter(F.col("vec_id") == probe_id).select(
        F.col("embedding").alias("probe_vec")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != probe_id)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "probe_vec"), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(vec_id, cos_sim) → the top-k rows with a 1-based ``rn`` rank.

    Top-k FIRST via ``orderBy().limit(k)`` (TakeOrderedAndProject: every
    partition contributes at most k rows to the driver-side merge), THEN
    the global row_number window — which therefore only ever sees k rows.
    The (cos_sim DESC, vec_id ASC) order is total, so limit-then-rank is
    value-identical to rank-then-filter.
    """
    w = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )


def _sq_l2_to_centroid() -> "F.Column":
    return F.round(
        F.aggregate(
            F.zip_with(
                "embedding",
                "cvec",
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def assign_to_centroids(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest centroid per vector (squared-L2, ties →
    lowest centroid id). ``centroids`` = (centroid_id, cvec), broadcast.

    The argmin is ``min(struct(d2, centroid_id))`` — a hash aggregate
    with map-side partial combine, not a per-vector sort window: structs
    order lexicographically, so the minimum is exactly the (d2 ASC,
    centroid_id ASC) head, and the shuffle carries one candidate per
    (vector, map partition) instead of sorting n_centroids rows per
    vector. Same output, window-free.
    """
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "centroid_id", _sq_l2_to_centroid().alias("d2")
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "centroid_id")).alias("m"))
        .select("vec_id", F.col("m.centroid_id").alias("cell"))
    )


def _sq_l2_cols(a, b) -> "F.Column":
    """Rounded squared-L2 between two array columns (the
    ``_sq_l2_to_centroid`` idiom, parameterized)."""
    return F.round(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def assign_to_centroids_twolevel(
    embeddings: DataFrame, centroids: DataFrame
) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment via TWO-LEVEL search
    (IVF-on-IVF) — the production fix for the ``n × k`` distance-
    evaluation term that makes every corpus-scaled dial (k ∝ n/200)
    quadratic again once n is large (PLANS.md round-7 loadtest: the
    flat assignment is the dominant cost at 200k vectors).

    - coarse layer: the ``kc = max(4, 2^(⌈log2 k⌉ div 2))``
      LOWEST-RANKED centroids by id (≈ √k — the cost-minimizing split;
      exact-integer ``length(bin(k-1))`` keeps the dial bit-portable to
      DuckDB). Selection is by RANK, not by absolute id: Lloyd rounds
      drop empty cells, so after training the surviving ids can be
      sparse and an ``id < kc`` filter could select few or zero coarse
      centroids and silently drop whole coarse cells of vectors
      (round-7 review finding). The rank window runs over the CENTROID
      relation only (k = n/200 rows — the relation a deployment keeps
      in its coordinator store; a recursive level shrinks it again);
    - each FINE centroid is assigned to its nearest coarse centroid
      (k × kc evals); each VECTOR likewise (n × kc evals);
    - the fine argmin then runs only within the vector's coarse cell
      (an equi-join on coarse_cell: ~n × k/kc candidate pairs).

    Total ≈ n·kc + n·k/kc ≈ 2n√k instead of n·k — with k = n/200
    that's O(n^1.5) vs O(n²); recursing the construction (a third
    level) gives n log n, exactly HNSW/IMI's hierarchy, and this
    function is the single recursion step. The assignment is
    APPROXIMATE in the standard IVF sense (a vector whose true nearest
    fine centroid sits in a different coarse cell gets its in-cell
    best) but fully deterministic — every argmin is (rounded d2 ASC,
    id ASC) — so the oracle replays it bit-for-bit, and consumers use
    it as a BLOCKING step where determinism, not exactness, is the
    contract.

    A coarse cell normally contains at least its own coarse centroid
    (its f2c argmin is itself at d2=0); only EXACT-duplicate centroid
    vectors with a lower id can steal that self-assignment and leave a
    coarse cell fine-centroid-empty, in which case that cell's vectors
    drop from the output — deterministically, and the oracle replays
    the same behavior, so parity is unaffected; callers for whom every
    vector must appear should dedup exact-duplicate centroids first.
    """
    kstats = centroids.agg(F.count("*").alias("k")).select(
        F.greatest(
            F.lit(4),
            F.expr("shiftleft(1, cast(length(bin(k - 1)) as int) div 2)"),
        )
        .cast("bigint")
        .alias("kc")
    )
    coarse = (
        centroids.withColumn(
            "_rn", F.row_number().over(Window.orderBy("centroid_id"))
        )
        .crossJoin(F.broadcast(kstats))
        .filter(F.col("_rn") <= F.col("kc"))
        .select(
            F.col("centroid_id").alias("coarse_id"),
            F.col("cvec").alias("ccvec"),
        )
    )
    f2c = (
        centroids.crossJoin(F.broadcast(coarse))
        .select(
            "centroid_id",
            "coarse_id",
            _sq_l2_cols(F.col("cvec"), F.col("ccvec")).alias("d2"),
        )
        .groupBy("centroid_id")
        .agg(F.min(F.struct("d2", "coarse_id")).alias("m"))
        .select("centroid_id", F.col("m.coarse_id").alias("coarse_cell"))
    )
    cents2 = centroids.join(f2c, "centroid_id")
    v2c = (
        embeddings.crossJoin(F.broadcast(coarse))
        .select(
            "vec_id",
            "coarse_id",
            _sq_l2_cols(F.col("embedding"), F.col("ccvec")).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "coarse_id")).alias("m"))
        .select("vec_id", F.col("m.coarse_id").alias("coarse_cell"))
    )
    return (
        embeddings.join(v2c, "vec_id")
        .join(cents2, "coarse_cell")
        .select(
            "vec_id",
            "centroid_id",
            _sq_l2_cols(F.col("embedding"), F.col("cvec")).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "centroid_id")).alias("m"))
        .select("vec_id", F.col("m.centroid_id").alias("cell"))
    )


def ivf_assignments(embeddings: DataFrame, n_centroids: int = 8) -> DataFrame:
    """Assign every vector to its nearest centroid. Centroids = the
    ``n_centroids`` lowest vec_ids — deterministic 'training' the oracle
    can replay; swap in ``kmeans_centroids`` for trained cells."""
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    return assign_to_centroids(embeddings, centroids)


def ivf_topk_trained(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 5,
    n_centroids: int = 8,
    iters: int = 2,
) -> DataFrame:
    """IVF ANN over k-means-trained cells: train (deterministically),
    assign, search the probe's cell. The full production IVF shape —
    same query plan as ``ivf_topk``, different centroid table."""
    cents = kmeans_centroids(embeddings, k=n_centroids, iters=iters)
    cells = assign_to_centroids(embeddings, cents)
    probe_cell = cells.filter(F.col("vec_id") == probe_id).select(
        F.col("cell").alias("probe_cell")
    )
    probe_vec = embeddings.filter(F.col("vec_id") == probe_id).select(
        F.col("embedding").alias("probe_vec")
    )
    candidates = (
        embeddings.join(cells, "vec_id")
        .join(
            F.broadcast(probe_cell),
            F.col("cell") == F.col("probe_cell"),
            "left_semi",
        )
        .filter(F.col("vec_id") != probe_id)
    )
    scored = candidates.crossJoin(F.broadcast(probe_vec)).select(
        "vec_id",
        F.round(cosine_similarity("embedding", "probe_vec"), 6).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


def kmeans_centroids(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column:
    (centroid_id, cvec) after ``iters`` assign→mean rounds.

    Iterative algorithms on Spark = a driver loop over DataFrame rounds;
    each round is one assignment join + one aggregation. Determinism by
    construction (so the DuckDB oracle can replay training exactly):

    - init = the k lowest vec_ids (not random);
    - assignment ties → lowest centroid id (as ``ivf_assignments``);
    - new centroid = per-dimension mean computed as DECIMAL(38,10) sum /
      count — exact and shuffle-order-independent, where a double ``avg``
      would leak accumulation order into the result;
    - a cell that loses all members drops out (k shrinks), same rule in
      the oracle.

    At 100 TB each round is a scan + shuffle on (cell, dim); train on a
    sample (the plan is identical, only the input changes).
    """
    cents = embeddings.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    return lloyd_rounds(embeddings, cents, iters)


def kmeans_centroids_scaled(
    embeddings: DataFrame,
    target_cell_size: int = 200,
    min_k: int = 8,
    iters: int = 2,
    two_level: bool = False,
) -> DataFrame:
    """``kmeans_centroids`` with the PRODUCTION k dial live:
    ``k = max(min_k, floor(n / target_cell_size))`` entering the plan as
    a broadcast one-row count aggregate — the same corpus-scaling rule
    as ``knn_graph_scaled`` / ``dedup.embedding_near_duplicates_scaled``
    (fixed k keeps per-cell population growing linearly with the corpus,
    which any within-cell quadratic consumer — SemDeDup, embedding
    dedup — cannot survive at 100×; PLANS.md round-4/5 load tests).

    Only the SEED filter depends on k; Lloyd's rounds are pure
    (assign → mean) relational stages over whatever centroid table they
    are given, so the data-driven seed count composes with the exact
    decimal-mean training unchanged, and the DuckDB oracle replays the
    dial from ``count(*)``.
    """
    nc = F.greatest(
        F.lit(min_k), F.floor(F.col("n") / F.lit(target_cell_size))
    ).cast("bigint")
    stats = embeddings.agg(F.count("*").alias("n")).select(nc.alias("nc"))
    cents = (
        embeddings.crossJoin(F.broadcast(stats))
        .filter(F.col("vec_id") < F.col("nc"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
    )
    return lloyd_rounds(embeddings, cents, iters, two_level=two_level)


def lloyd_rounds(
    embeddings: DataFrame, cents: DataFrame, iters: int, two_level: bool = False
) -> DataFrame:
    """``iters`` deterministic Lloyd's rounds from an arbitrary seed
    centroid table (centroid_id, cvec) — the shared trainer behind
    ``kmeans_centroids`` (literal k seed) and ``kmeans_centroids_scaled``
    (broadcast data-driven seed count). With ``two_level=True`` each
    round's assignment goes through ``assign_to_centroids_twolevel``
    (≈2n√k distance evals instead of n·k — the training loop is where
    the flat-assignment cost multiplies by the round count, so a scaled
    k dial without two-level training stays quadratic; round-7
    loadtest). Two-level Lloyd is the standard approximate-assignment
    k-means every large-scale trainer (e.g. IVF index builders) runs —
    still fully deterministic, so the oracle replays training exactly."""
    if two_level:
        # Round 1's two-level assignment references the SEED table 4×
        # (count, coarse filter, f2c, fine argmin) — an un-materialized
        # seed (e.g. kmeans_centroids_scaled's count+filter over the
        # corpus) would re-run its full scan per reference (round-7
        # review finding; same rule as the per-round checkpoint below).
        cents = cents.localCheckpoint()
    for _ in range(iters):
        if two_level:
            assigned = (
                assign_to_centroids_twolevel(embeddings, cents)
                .join(embeddings, "vec_id")
                .select("vec_id", "embedding", "cell")
            )
        else:
            scored = embeddings.crossJoin(F.broadcast(cents)).select(
                "vec_id", "embedding", "centroid_id",
                _sq_l2_to_centroid().alias("d2"),
            )
            # Same window-free argmin as assign_to_centroids; the
            # embedding is constant per vec_id, so first() is
            # value-deterministic.
            assigned = (
                scored.groupBy("vec_id")
                .agg(
                    F.min(F.struct("d2", "centroid_id")).alias("m"),
                    F.first("embedding").alias("embedding"),
                )
                .select(
                    "vec_id", "embedding", F.col("m.centroid_id").alias("cell")
                )
            )
        dims = assigned.select(
            "cell", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        # Exact decimal SUM, then IEEE double division — decimal division
        # scale rules differ between engines, double division doesn't.
        means = dims.groupBy("cell", "pos").agg(
            (
                F.sum(F.col("col").cast("decimal(38,10)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
        cents = (
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
            .select(F.col("cell").alias("centroid_id"), "cvec")
        )
        if two_level:
            # The two-level assignment references the centroid table 4×
            # per round (count, coarse filter, f2c, fine argmin) — an
            # un-materialized cents would re-run the ENTIRE previous
            # round per reference, i.e. 4^rounds full-corpus scans. The
            # table is k rows; checkpoint it once per round (the
            # multi-referenced-DAG-node rule, PLANS.md round 6).
            cents = cents.localCheckpoint()
    return cents


def _nearest_probe_cells(
    embeddings: DataFrame,
    cells: DataFrame,
    probe_id: int,
    n_centroids: int,
    n_probe_cells: int,
) -> DataFrame:
    """The probe's ``n_probe_cells`` nearest IVF cells as a one-column
    (probe_cell) relation. For a single probe cell this is just the
    probe's own assignment row; multi-probe re-scores the centroid table
    with the assignment's exact distance/tie rule, ranks 1..n."""
    if n_probe_cells == 1:
        return cells.filter(F.col("vec_id") == probe_id).select(
            F.col("cell").alias("probe_cell")
        )
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    probe_vec0 = embeddings.filter(F.col("vec_id") == probe_id)
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                "embedding",
                "cvec",
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    scored_cells = probe_vec0.crossJoin(F.broadcast(centroids)).select(
        "centroid_id", d2.alias("d2")
    )
    wc = Window.orderBy(F.asc("d2"), F.asc("centroid_id"))
    return (
        scored_cells.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= n_probe_cells)
        .select(F.col("centroid_id").alias("probe_cell"))
    )


def ivf_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 5,
    n_centroids: int = 8,
    n_probe_cells: int = 1,
) -> DataFrame:
    """IVF-pruned cosine top-k: search the probe's ``n_probe_cells``
    nearest cells (multi-probe raises recall at proportional cost —
    the standard IVF recall/latency dial).

    Result can differ from exact brute force (that's ANN's contract);
    it is still fully deterministic, so the oracle replays it exactly.
    """
    cells = ivf_assignments(embeddings, n_centroids)
    probe_cells = _nearest_probe_cells(
        embeddings, cells, probe_id, n_centroids, n_probe_cells
    )
    candidates = (
        embeddings.join(cells, "vec_id")
        .join(
            F.broadcast(probe_cells),
            F.col("cell") == F.col("probe_cell"),
            "left_semi",
        )
        .filter(F.col("vec_id") != probe_id)
    )
    probe_vec = embeddings.filter(F.col("vec_id") == probe_id).select(
        F.col("embedding").alias("probe_vec")
    )
    scored = candidates.crossJoin(F.broadcast(probe_vec)).select(
        "vec_id",
        F.round(cosine_similarity("embedding", "probe_vec"), 6).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


def filtered_topk(
    embeddings: DataFrame, probe_id: int, label: int, k: int = 10
) -> DataFrame:
    """FILTERED vector search, exact tier: cosine top-k among vectors
    whose metadata satisfies a predicate (here ``label = value``) — "k
    nearest English docs", "k nearest from this source". The production
    serving shape is (predicate AND nearest), not nearest-then-filter:
    post-filtering a plain top-k can return fewer than k (or zero)
    matching rows; pre-filtering guarantees exactly min(k, |matches|).

    Plan: the predicate is an ordinary Catalyst filter, so it pushes to
    the parquet scan (PushedFilters) and the distance kernel only runs
    on surviving rows; top-k is TakeOrderedAndProject. At 100 TB with
    the table partitioned/bucketed by the predicate column, the filter
    prunes partitions before any vector math.
    """
    probe = embeddings.filter(F.col("vec_id") == probe_id).select(
        F.col("embedding").alias("probe_vec")
    )
    scored = (
        embeddings.filter(
            (F.col("label") == label) & (F.col("vec_id") != probe_id)
        )
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "probe_vec"), 6).alias(
                "cos_sim"
            ),
        )
    )
    return _rank_topk(scored, k)


def ivf_filtered_topk(
    embeddings: DataFrame,
    probe_id: int,
    label: int,
    k: int = 5,
    n_centroids: int = 8,
    n_probe_cells: int = 2,
) -> DataFrame:
    """FILTERED ANN, IVF tier, with a SOUND exact fallback: candidates =
    (probed cells ∩ predicate); if the intersection holds fewer than
    ``k`` vectors, the probe provably cannot fill its result from the
    index, so the search widens to an exact scan of the FULL filtered
    set instead of silently returning a short list — the failure mode
    every filtered-ANN serving system has to answer (a selective filter
    starves the probed cells). The widen rule is deterministic (count
    < k), so the DuckDB oracle replays the decision bit-for-bit, and
    the output carries its own evidence: ``n_cand`` (pre-widen
    candidate count) and ``fallback`` are value-checked columns.

    Cost: the decision is ONE bounded count over the probed cells'
    filtered rows (metadata-plane — candidates are capped by the cell
    sizes, never the corpus); the happy path scores only that
    intersection. At 100 TB the assignment table is bucketed by cell
    AND the predicate column is a partition/stats-pruned dimension, so
    both branches prune at the storage layer; the fallback's exact scan
    is the filtered slice, not the corpus.
    """
    cells = ivf_assignments(embeddings, n_centroids)
    probe_cells = _nearest_probe_cells(
        embeddings, cells, probe_id, n_centroids, n_probe_cells
    )
    # Pin ONLY ``cand`` before the gate count (the commit()
    # discipline): the count burns its result into F.lit(n_cand) and
    # the branch choice, so localCheckpoint makes the count and the
    # scored rows read the same snapshot (r9 advice). ``cand`` is
    # small — capped by the probed cells' sizes, never the corpus.
    # The label-filtered slice is NOT checkpointed (r10 advice): it is
    # corpus-proportional (every vector of one label), nothing gates
    # on its count, and the fallback branch's exact scan is correct
    # over a re-evaluated deterministic input — eagerly pinning it
    # accumulated executor storage blocks across repeated probes.
    filtered = embeddings.filter(
        (F.col("label") == label) & (F.col("vec_id") != probe_id)
    )
    cand = (
        filtered.join(cells, "vec_id")
        .join(
            F.broadcast(probe_cells),
            F.col("cell") == F.col("probe_cell"),
            "left_semi",
        )
        .localCheckpoint()
    )
    # Bounded decision count: |probed cells ∩ filter| rows at most.
    n_cand = cand.count()
    fallback = n_cand < k
    base = filtered if fallback else cand
    probe_vec = embeddings.filter(F.col("vec_id") == probe_id).select(
        F.col("embedding").alias("probe_vec")
    )
    scored = base.crossJoin(F.broadcast(probe_vec)).select(
        "vec_id",
        F.round(cosine_similarity("embedding", "probe_vec"), 6).alias("cos_sim"),
    )
    return _rank_topk(scored, k).select(
        "vec_id",
        "cos_sim",
        "rn",
        F.lit(n_cand).cast("bigint").alias("n_cand"),
        F.lit(fallback).alias("fallback"),
    )


def embedding_drift(embeddings: DataFrame, mod: int = 2) -> DataFrame:
    """EMBEDDING DISTRIBUTION-DRIFT MONITOR: per-label centroid
    agreement between two deterministic corpus halves (``vec_id % mod``
    — stand-ins for "yesterday's snapshot" vs "today's batch"). The
    data-quality gate an embedding pipeline runs before shipping a new
    corpus slice: a label whose new-half centroid swings away from the
    reference half signals upstream drift (embedder change, source
    shift, label contamination) before any model sees it.

    Determinism contract as everywhere: per-dimension means through
    DECIMAL(38,10) sums (order-independent), centroid cosine rounded to
    6 digits — the oracle replays both halves bit-for-bit. One shuffle
    on (label, half, dim), then a per-label join of two one-row-ish
    sides; at 100 TB the explode carries (label, half, dim, value)
    rows — linear, map-side combinable, no all-pairs anything.

    Output: (label, n_ref, n_new, centroid_cos) — cos near 1.0 means
    the halves agree; the monitor's consumer thresholds it.
    """
    from mapreduceindexer_spark.functions.vector import cosine_similarity

    ex = embeddings.select(
        "label",
        (F.col("vec_id") % mod).alias("h"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    cent = (
        ex.groupBy("label", "h", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
        .groupBy("label", "h")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
    )
    counts = embeddings.groupBy(
        "label", (F.col("vec_id") % mod).alias("h")
    ).count()
    side = cent.join(counts, ["label", "h"])
    a = side.filter(F.col("h") == 0).select(
        "label", F.col("c").alias("ca"), F.col("count").alias("n_ref")
    )
    b = side.filter(F.col("h") == 1).select(
        "label", F.col("c").alias("cb"), F.col("count").alias("n_new")
    )
    # FULL outer join: a label present in only one half is the
    # strongest drift event of all (brand-new label arriving, or an
    # established one vanishing) — an inner join would silently drop
    # exactly the row the monitor exists to raise. One-sided labels
    # report the absent half as 0 with a NULL cosine.
    return a.join(b, "label", "full").select(
        F.col("label").cast("bigint").alias("label"),
        F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        # Explicit NULL for one-sided labels: the higher-order cosine
        # over a NULL array would quietly yield 0.0, which reads as
        # "maximal drift" instead of "nothing to compare".
        F.when(
            F.col("ca").isNotNull() & F.col("cb").isNotNull(),
            F.round(cosine_similarity("ca", "cb"), 6),
        ).alias("centroid_cos"),
    )


def quantization_error(embeddings: DataFrame) -> DataFrame:
    """Per-vector int8 (0..255) min-max scalar quantization with exact
    reconstruction-error accounting — the storage tier every large vector
    corpus ends up on (4x smaller than float32; recall loss measured, not
    guessed).

    Everything is per-row array arithmetic (no shuffle at all): quantize
    with ``floor(z + 0.5)`` (identical in every engine, unlike round()'s
    tie rules), square the reconstruction errors, and sum them through
    DECIMAL(38,10) casts so the per-vector SSE is exact and
    order-independent. Constant vectors (scale = 0) quantize losslessly to
    code 0.
    """
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = embeddings.select(
        "vec_id", "label", v.alias("v"),
        F.array_min(v).alias("vmin"), F.array_max(v).alias("vmax"),
    ).withColumn("scale", (F.col("vmax") - F.col("vmin")) / F.lit(255.0))

    def err(x):
        q = F.floor((x - F.col("vmin")) / F.col("scale") + F.lit(0.5))
        recon = F.col("vmin") + q * F.col("scale")
        return F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(x - recon)

    d = d.withColumn("errs", F.transform("v", err))
    # Error-squares are ~1e-7: a double->decimal cast at that magnitude is
    # at the mercy of each engine's conversion path, so quantize to an
    # integer grid with floor (unambiguous everywhere) and sum exactly.
    sse = (
        F.aggregate(
            F.transform(
                "errs",
                lambda x: F.floor(x * x * F.lit(1e10) + F.lit(0.5)).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(1e10)
    )
    mae = F.array_max(F.transform("errs", F.abs))
    return d.select(
        "vec_id",
        "label",
        F.round(F.sqrt(sse / F.size("v")), 6).alias("rmse"),
        F.round(mae, 6).alias("max_abs_err"),
    )


def srp_candidate_pairs(
    embeddings: DataFrame, n_bits: int = 8, max_bucket: int | None = None
) -> DataFrame:
    """Sign-random-projection (SRP) cosine LSH: each vector gets an
    ``n_bits``-bit signature (bit k = sign of the dot product with fixed
    hyperplane k); vectors sharing a signature become candidate pairs and
    only THOSE pairs get an exact cosine — the hyperplane-LSH counterpart
    of the IVF blocking in ``embedding_duplicates``.

    Scale shape: signature computation is narrow per-row arithmetic
    (hyperplanes are inlined constants — config, not data); the candidate
    join is a hash self-equi-join on the signature, never all-pairs.
    E[collisions] for random vectors is n^2 / 2^(n_bits+1), so there are
    TWO scale dials and both are load-tested (PLANS.md round 4, where a
    fixed 8-bit signature over 100x the vectors went quadratic — 404x
    wall for 100x rows):

    - ``n_bits`` must grow with the corpus (~2 * log2(n)): more planes
      split buckets geometrically while signature cost grows linearly;
    - ``max_bucket`` guards the degenerate tail the hash cannot split
      (near-identical vectors share EVERY sign): oversized buckets
      switch to the star pattern — each member pairs with the bucket's
      minimum vec_id only — linear in bucket size, same trade-offs as
      ``dedup.lsh_candidates`` (spoke-spoke pairs route through the hub).

    The registered q_rp_lsh keeps ``max_bucket=None`` so the oracle
    replays plain bucket all-pairs bit-for-bit; production sets both
    dials. Per-plane dots go through DECIMAL(38,10) casts so every sign
    decision is bit-deterministic and replayable by the SQL oracle.
    """
    from mapreduceindexer_spark.functions.hashing import srp_plane_constants

    dim = 64
    planes = srp_plane_constants(n_bits, dim)
    v = F.transform("embedding", lambda x: x.cast("double"))
    sig = F.lit(0)
    for k, plane in enumerate(planes):
        arr = F.array(*[F.lit(c) for c in plane])
        dot_dec = F.aggregate(
            F.zip_with(v, arr, lambda a, b: (a * b).cast("decimal(38,10)")),
            F.lit(0).cast("decimal(38,10)"),
            lambda acc, x: (acc + x).cast("decimal(38,10)"),
        )
        sig = sig + F.when(dot_dec >= 0, F.lit(1 << k)).otherwise(F.lit(0))
    sigs = embeddings.select(
        "vec_id", v.alias("v"), sig.cast("bigint").alias("sig")
    )
    return _srp_pairs_from_sigs(sigs, max_bucket)


def _srp_pairs_from_sigs(
    sigs: DataFrame, max_bucket: int | None
) -> DataFrame:
    """Candidate-pair join over (vec_id, v, sig) signature rows, with the
    optional oversized-bucket star guard (shared by the fixed-dial and
    scaled SRP entry points)."""
    if max_bucket is not None:
        # Bucket census over the same key the join shuffles on (no extra
        # exchange of the big relation) — the lsh_candidates guard.
        w = Window.partitionBy("sig")
        sigs = sigs.select(
            "vec_id",
            "v",
            "sig",
            F.count("*").over(w).alias("bsz"),
            F.min("vec_id").over(w).alias("bmin"),
        )
        small = sigs.filter(F.col("bsz") <= max_bucket)
        hubs = sigs.filter(F.col("bsz") > max_bucket).filter(
            F.col("vec_id") == F.col("bmin")
        )
        spokes = sigs.filter(F.col("bsz") > max_bucket).filter(
            F.col("vec_id") != F.col("bmin")
        )
        star = (
            spokes.alias("s")
            .join(hubs.alias("h"), "sig")
            .select(
                F.col("h.vec_id").alias("vec_a"),
                F.col("h.v").alias("va"),
                F.col("s.vec_id").alias("vec_b"),
                F.col("s.v").alias("vb"),
                F.col("sig"),
            )
        )
        a = small.select(
            F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "sig"
        )
        b = small.select(
            F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "sig"
        )
        # _spread_cells: the per-bucket pair join is compute-quadratic
        # at constant bytes (per-pair cosine) — keep it core-parallel
        # instead of letting AQE coalesce it to ~1 task (r13).
        cands = (
            _spread_cells(a, "sig").join(_spread_cells(b, "sig"), "sig")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "va", "vec_b", "vb", "sig")
            .unionByName(star)
        )
    else:
        a = sigs.select(
            F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "sig"
        )
        b = sigs.select(
            F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "sig"
        )
        cands = (
            _spread_cells(a, "sig").join(_spread_cells(b, "sig"), "sig")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "va", "vec_b", "vb", "sig")
        )
    return cands.select(
        "vec_a",
        "vec_b",
        F.col("sig"),
        F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim"),
    )


def srp_candidate_pairs_scaled(
    embeddings: DataFrame,
    n_bands: int = 2,
    max_bits_per_band: int = 16,
    max_bucket: int = 64,
) -> DataFrame:
    """SRP cosine LSH with the production dials live — the scale-safe
    path the round-4 100x load test prescribed (PLANS.md: fixed 8-bit
    signatures went 404x wall at 100x rows; ``total bits ~ 2*log2(n)`` +
    the star guard measured 10.9x faster). Structured as BANDED LSH
    (``n_bands`` independent hash tables), the standard recall/cost
    shape: total signature bits = ``n_bands * ceil(log2 n)`` match the
    2*log2(n) dial, but splitting them into bands keeps recall non-zero
    while expected random collisions stay E = n^2 / 2^(r+1) ~ n/2 PER
    BAND — linear in the corpus at every scale, never quadratic.

    - ``r = min(max_bits_per_band, ceil(log2 n))`` bits per band. The
      corpus count enters the PLAN as data, not config: a one-row count
      aggregate broadcast-crossJoins onto the signature projection, so
      the whole query stays lazy/distributed — no driver action.
      ceil(log2 n) is computed as ``length(bin(n-1))`` — exact integer
      arithmetic identical in Spark and DuckDB, immune to the
      float-log-of-power-of-two ulp hazard.
    - ``max_bucket`` star-guards the degenerate (band, sig) buckets the
      hash cannot split (near-identical vectors share every sign bit):
      oversized buckets emit hub-spoke pairs only, linear in bucket size.

    Band b uses hyperplanes ``b*max_bits_per_band + k``; every plane dot
    is gated behind ``k < r`` so unused planes short-circuit at runtime.
    Candidate pairs dedupe across bands (``n_bands_hit`` = how many
    tables collided) and ONLY those pairs join the vector table back for
    the exact cosine — verification cost is candidate-bounded.
    Returns (vec_a, vec_b, n_bands_hit, cos_sim).
    """
    from mapreduceindexer_spark.functions.hashing import srp_plane_constants

    dim = 64
    planes = srp_plane_constants(n_bands * max_bits_per_band, dim)
    n1 = F.col("n") - F.lit(1)
    r = F.least(
        F.lit(max_bits_per_band),
        F.length(F.bin(F.when(n1 < 1, F.lit(1)).otherwise(n1))),
    ).cast("int")
    stats = embeddings.agg(F.count("*").alias("n")).select(r.alias("r"))
    base = embeddings.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "r",
    )

    # Each band's signature is ONE parsed SQL expression instead of
    # thousands of Column-DSL calls: building 32 planes x 64 literals
    # through py4j costs ~3 s of driver time per plan; the parser takes
    # the same tree in one round trip (measured 4.2 s -> ~1 s builder).
    # Literals carry the D suffix so they parse as the identical doubles
    # the DSL would have inlined.
    def band_sig_sql(b: int) -> str:
        terms = []
        for k in range(max_bits_per_band):
            plane = planes[b * max_bits_per_band + k]
            arr = "array(" + ",".join(f"{c!r}D" for c in plane) + ")"
            dot = (
                f"aggregate(zip_with(v, {arr},"
                f" (a, b) -> CAST(a * b AS DECIMAL(38,10))),"
                f" CAST(0 AS DECIMAL(38,10)),"
                f" (acc, x) -> CAST(acc + x AS DECIMAL(38,10)))"
            )
            terms.append(
                f"(CASE WHEN {k} < r AND {dot} >= 0 THEN {1 << k} ELSE 0 END)"
            )
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    per_band = [
        base.select(
            "vec_id",
            F.lit(b).alias("band"),
            F.expr(band_sig_sql(b)).alias("sig"),
        )
        for b in range(n_bands)
    ]
    sigs = per_band[0]
    for s in per_band[1:]:
        sigs = sigs.unionByName(s)
    # The signature projection is the expensive leaf (gated decimal dots)
    # and the bucket census + two join regimes reference it several times
    # — materialize it once (eager, spillable) instead of recomputing the
    # dot tree per consumer. Tiny relation: (vec_id, band, sig) rows.
    sigs = sigs.localCheckpoint()
    w = Window.partitionBy("band", "sig")
    sized = sigs.select(
        "vec_id",
        "band",
        "sig",
        F.count("*").over(w).alias("bsz"),
        F.min("vec_id").over(w).alias("bmin"),
    )
    small = sized.filter(F.col("bsz") <= max_bucket)
    a = small.select(F.col("vec_id").alias("vec_a"), "band", "sig")
    b2 = small.select(F.col("vec_id").alias("vec_b"), "band", "sig")
    pairs_small = (
        a.join(b2, ["band", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "band")
    )
    pairs_star = sized.filter(
        (F.col("bsz") > max_bucket) & (F.col("vec_id") != F.col("bmin"))
    ).select(
        F.col("bmin").alias("vec_a"), F.col("vec_id").alias("vec_b"), "band"
    )
    pairs = (
        pairs_small.unionByName(pairs_star)
        .groupBy("vec_a", "vec_b")
        .agg(F.count("*").alias("n_bands_hit"))
    )
    e = embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        pairs.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            "n_bands_hit",
            F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim"),
        )
    )


def ann_batch_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
) -> DataFrame:
    """Batched IVF ANN: top-k per probe for a whole SET of probe vectors in
    one plan — the embedding-search-service shape (N queries against one
    corpus scan), vs the single-probe ``ivf_topk``.

    Plan: centroids once; full-corpus cell assignment ONCE (one
    broadcast-crossJoin + per-vector argmin window); the probe set's own
    assignment runs on just the probe rows (tiny). Probes then broadcast
    against the assigned corpus on ``cell == probe_cell`` — one
    broadcast-hash join fans every probe's candidate cell out of the same
    scan, so adding probes adds join output, never corpus passes. Top-k
    is a window partitioned BY PROBE (each partition = one cell's
    candidates, bounded by cell population — no global funnel).

    At 100 TB: assignments are precomputed and bucketed by cell; the
    probe join prunes to the probed buckets; the per-probe window is
    unchanged. Probe batches beyond broadcast size shuffle on cell
    instead — same shape, same single corpus pass.
    """
    centroids = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    cells = assign_to_centroids(embeddings, centroids)
    probe_emb = embeddings.filter(F.col("vec_id").isin(list(probe_ids)))
    probe_cells = assign_to_centroids(probe_emb, centroids)
    probes = probe_emb.join(probe_cells, "vec_id").select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
        F.col("cell").alias("probe_cell"),
    )
    scored = (
        embeddings.join(cells, "vec_id")
        .join(F.broadcast(probes), F.col("cell") == F.col("probe_cell"))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "probe_vec"), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return scored.withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rn") <= k)


def principal_component(
    embeddings: DataFrame, rounds: int = 4, scale_round: int = 9
) -> DataFrame:
    """Top principal direction of the embedding corpus via POWER ITERATION
    on the gram matrix — the PCA/whitening building block (dominant
    eigenvector of X^T X; with mean-centering upstream it is the first
    principal component; spiky top directions are also how embedding
    outlier/duplicate structure gets diagnosed at corpus scale).

    Two-phase plan, and only phase 1 touches the corpus:

    1. **Gram reduction** — one pass over X builds the full d×d relation
       (i, j, g) exactly as q_gram_matrix (posexplode self-join on
       vec_id, exact decimal accumulation, round-6 doubles). At 100 TB
       this is the only data-sized stage, and it reduces to d² = const
       rows.
    2. **K matrix-vector rounds on the d²-row relation** — v₀ = 1⃗;
       each round computes w = G·v (join on j, groupBy i — d groups),
       normalizes by the max-|coordinate| (a window over d rows, never
       the corpus), and rounds to ``scale_round`` digits. All K rounds
       compile into ONE lazy plan over broadcast-scale relations.

    Determinism contract: g and v are rounded doubles, so each g·v
    product is IEEE-identical per-row in both engines; row sums
    accumulate exactly in DECIMAL(38,10); the max-|w| comparison happens
    on exact decimals; the normalizing division is one double/double op
    (identical IEEE result). The per-round round() on a quotient is the
    measure-zero-boundary case the repo's _davg convention already
    accepts. The dominant-eigenvalue estimate ``lambda_max`` is the last
    round's normalizer (for unit-normalized v it converges to the true
    eigenvalue up to the v-scaling convention).

    Sign/convergence convention: v₀ = 1⃗ fixes the sign deterministically
    (no random init); ``rounds`` is fixed, not convergence-tested, so
    the result is a pinned K-step iterate — the same contract as
    q_pagerank and q_ann_kmeans.
    """
    DEC = "decimal(38,10)"
    # Join formulation kept after a measured A/B at 100x the embeddings
    # (PLANS.md round 4): higher-order-function rewrites that avoid this
    # shuffle materialize a d^2 array per row and ran 2.5-3x slower.
    x = embeddings.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v"),
    ).select("vec_id", F.col("i").cast("bigint").alias("i"), "v")
    a = x.select("vec_id", F.col("i").alias("gi"), F.col("v").alias("av"))
    b = x.select("vec_id", F.col("i").alias("gj"), F.col("v").alias("bv"))
    # Every iteration round references the gram relation; without staging
    # Spark would recompute the corpus-sized reduction K+1 times (once
    # per round plus v0's distinct). The gram is d² rows — checkpoint it
    # once so the rounds run on the materialized constant-size relation.
    gram = (
        a.join(b, "vec_id")
        .groupBy("gi", "gj")
        .agg(
            F.round(
                F.sum((F.col("av") * F.col("bv")).cast(DEC)), 6
            ).cast("double").alias("g")
        )
    ).localCheckpoint()
    v = gram.select(F.col("gi").alias("j")).distinct().select(
        "j", F.lit(1.0).alias("vj")
    )
    w_all = Window.partitionBy()
    lam = None
    for _ in range(rounds):
        w = (
            gram.join(v, gram["gj"] == v["j"])
            .groupBy("gi")
            .agg(F.sum((F.col("g") * F.col("vj")).cast(DEC)).alias("wd"))
        )
        normed = w.withColumn("m", F.max(F.abs(F.col("wd"))).over(w_all))
        v = normed.select(
            F.col("gi").alias("j"),
            F.round(
                F.col("wd").cast("double") / F.col("m").cast("double"),
                scale_round,
            ).alias("vj"),
        )
        lam = normed.select(
            F.round(F.col("m"), 6).cast("double").alias("lambda_max")
        ).limit(1)
    return (
        v.crossJoin(F.broadcast(lam))
        .select(F.col("j").alias("i"), F.col("vj").alias("component"), "lambda_max")
    )


def knn_graph(
    embeddings: DataFrame, k: int = 3, n_centroids: int = 8
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: for EVERY vector, its ``k``
    most-cosine-similar neighbors within its IVF cell — the all-vectors
    counterpart of the single-probe ``ivf_topk``, and the building block
    for graph-based dedup refinement, label propagation over embeddings,
    and KNN-classifier data maps.

    Scale shape: the only pairing is a self-equi-join on ``cell`` — the
    same cell-bounded quadratic as ``embedding_near_duplicates`` (cost
    Σ|cell|², controlled by ``n_centroids``; production sizes cells as
    n/target via the ``q_embed_dup_scaled`` dial and trains them with
    k-means). The per-vector top-k is a ``row_number`` window PARTITIONED
    by the vector, so Spark's WindowGroupLimit prunes to k rows per task
    map-side before the window shuffle — no vector's full candidate list
    ever funnels anywhere. Neighbors are exact within the cell;
    cross-cell edges are the recall trade (measured by ``ann_recall``).

    Determinism: cosine rounded to 6 digits, ties broken by neighbor id
    ascending — the DuckDB oracle replays the graph bit-for-bit.
    """
    return _knn_topk_within_cells(
        embeddings, ivf_assignments(embeddings, n_centroids), k
    )


def _enrich_with_cells(embeddings: DataFrame, cells: DataFrame) -> DataFrame:
    """(vec_id, embedding, nrm, cell) — the ONE relation every branch of
    a graph-index construction reads (L0 self-join sides, hub selection,
    member stars, the final neighbor payload). Callers materialize it
    ONCE (``localCheckpoint``) instead of staging the assignment and the
    norm-enriched join separately — the r13 build-tier fix: each removed
    checkpoint is one fewer sequential job locally and one fewer
    cluster-wide pass at 100 TB, and every later branch that used to
    re-scan the base embeddings (the payload join, the hub star) now
    reads this bounded relation instead. ``nrm`` is the same
    ``l2_norm(embedding)`` expression as ever, so every downstream
    cosine is bit-identical."""
    from mapreduceindexer_spark.functions.vector import l2_norm

    return embeddings.join(cells, "vec_id").withColumn(
        "nrm", l2_norm("embedding")
    )


def _spread_cells(df: DataFrame, key: str) -> DataFrame:
    """Pin the partition count of a cell-keyed self-join side to the
    session's core count (r13; guide §2.5/§8 "use what you know that
    the optimizer does not"): AQE coalesces post-shuffle partitions by
    INPUT bytes, but an in-cell quadratic join produces ~cell_size x
    more compute than bytes — the interpreted per-pair dot product, the
    dominant term of every graph build. Measured at sf0.1: AQE packed
    the whole join into ONE task on 32 cores (1 MB of vectors -> 200k
    dot products on one core). An explicit ``repartition(n, key)`` is
    exempt from AQE coalescing, so the quadratic stage keeps core-count
    parallelism; 4x cores smooths cell->partition hash collisions. Rows
    and values are untouched (same join, same arithmetic; the key is
    deterministic, so retries are safe per SPARK-38388), and at cluster
    scale AQE's skew-join split still applies to the shuffle it reads."""
    n = df.sparkSession.sparkContext.defaultParallelism * 4
    return df.repartition(n, F.col(key))


def _knn_topk_enriched(e: DataFrame, k: int) -> DataFrame:
    """Pairing + per-vector top-k over a MATERIALIZED enriched relation
    ``e`` = (vec_id, embedding, nrm, cell): cell self-equi-join, round-6
    cosine, WindowGroupLimit top-k. ``e`` must be eagerly materialized
    (both sides of the self-join reference it, and Spark does not reuse
    un-materialized subtrees across join branches — no ReusedExchange
    fires here, verified on the executed plan; the multi-branch-staging
    rule from PLANS.md round 4).

    The in-cell join pairs each UNORDERED pair once (``vec_id <
    nbr_id``) and a post-scoring ``explode`` emits both directions —
    halving the dominant quadratic term, the per-pair interpreted dot
    product (r13; guide §1.2 "don't compute things twice"). The emitted
    cosine is bit-identical to scoring both directions independently:
    IEEE-754 multiplication is commutative, so ``dot(a,b) == dot(b,a)``
    element-by-element and ``nrm_a*nrm_b == nrm_b*nrm_a`` — the oracle
    replays the same value either way (pinned by the edge-identity
    tests and the recall contracts)."""
    from mapreduceindexer_spark.functions.vector import dot

    left = e.select(
        "vec_id", F.col("embedding").alias("va"), F.col("nrm").alias("nrm_a"), "cell"
    )
    right = e.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nrm_b"),
        F.col("cell").alias("cell_b"),
    )
    half = (
        _spread_cells(left, "cell").join(
            _spread_cells(right, "cell_b"),
            (F.col("cell") == F.col("cell_b"))
            & (F.col("vec_id") < F.col("nbr_id")),
        )
        .select(
            "vec_id",
            "nbr_id",
            F.round(
                dot("va", "vb") / (F.col("nrm_a") * F.col("nrm_b")), 6
            ).alias("cos_sim"),
        )
    )
    both = F.explode(
        F.array(
            F.struct(F.col("vec_id").alias("a"), F.col("nbr_id").alias("b")),
            F.struct(
                F.col("nbr_id").alias("a"), F.col("vec_id").alias("b")
            ),
        )
    )
    scored = half.select(both.alias("p"), "cos_sim").select(
        F.col("p.a").alias("vec_id"),
        F.col("p.b").alias("nbr_id"),
        "cos_sim",
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("nbr_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
    )


def _knn_topk_within_cells(
    embeddings: DataFrame, cells: DataFrame, k: int
) -> DataFrame:
    """Shared pairing + per-vector top-k for the KNN-graph family:
    cell self-equi-join, round-6 cosine, WindowGroupLimit top-k.

    L2 norms are computed ONCE per vector before pairing (the
    ``dedup._pairs_within_cells`` lesson, measured 3x on the dominant
    quadratic term): each candidate pair evaluates a single higher-order
    dot product, and ``sqrt`` of a per-vector aggregate is the same IEEE
    value whether computed per pair or per vector — the oracle replays
    it bit-for-bit either way."""
    return _knn_topk_enriched(
        _enrich_with_cells(embeddings, cells).localCheckpoint(), k
    )


def knn_graph_scaled(
    embeddings: DataFrame,
    k: int = 3,
    target_cell_size: int = 200,
    min_cells: int = 8,
) -> DataFrame:
    """KNN graph with the PRODUCTION cell dial live: ``n_centroids =
    max(min_cells, floor(n / target_cell_size))`` — the same corpus-
    scaling rule as ``dedup.embedding_near_duplicates_scaled`` (PLANS.md
    round-4/5 load tests: fixed cell counts go quadratic at 100x; cells
    ~ n/200 keep per-cell population — and therefore the self-join's
    quadratic term — a bounded constant). The corpus count enters the
    plan as a broadcast one-row aggregate, so the query stays fully
    lazy, and centroids remain the deterministic lowest-vec_id rows so
    the DuckDB oracle replays every edge."""
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
    return _knn_topk_within_cells(
        embeddings, assign_to_centroids(embeddings, centroids), k
    )


def nsw_graph_edges(
    embeddings: DataFrame, k_edges: int = 3, n_centroids: int = 8
) -> DataFrame:
    """Two-layer NAVIGABLE small-world edge set — the graph-ANN substrate
    (HNSW/NSW family) the round-6 verdict called out as the missing ANN
    tier. The in-cell KNN graph alone is NOT navigable: its components
    are the IVF cells, so a fixed-entry walk can never leave the entry's
    cell. Navigability comes from the classic two-layer construction:

    - layer 0: the existing in-cell KNN edges (``knn_graph`` — exact
      within the cell, ``k_edges`` out-degree);
    - hubs: each cell's min-vec_id member (deterministic, replayable);
    - hub mesh: hub↔hub edges (complete over the bounded hub count —
      HNSW's upper layer; with the production cell dial the mesh gets
      its own coarser hub layer recursively, log-many times, which is
      exactly HNSW's hierarchy);
    - membership: member↔hub edges both directions (descend into a
      cell / escape back up).

    Returned edges carry the neighbor's vector and L2 norm
    ((vec_id, nbr_id, nbr_vec, nbr_nrm)) so BEAM SEARCH never rejoins
    the corpus per hop: traversal + scoring read only this one relation
    — build once, probe hops-many times, the graph-with-payload layout
    every graph-ANN store uses.
    """
    # ONE materialized relation feeds the KNN self-join, the hub
    # selection, the member<->hub star AND the final payload join (r13:
    # previously the assignment and the norm-enriched join were staged
    # separately — two sequential jobs — and the payload re-scanned the
    # base embeddings; now one checkpoint, and the payload reads it).
    e0 = _enrich_with_cells(
        embeddings, ivf_assignments(embeddings, n_centroids)
    ).localCheckpoint()
    knn = _knn_topk_enriched(e0, k_edges).select("vec_id", "nbr_id")
    hubs = e0.groupBy("cell").agg(F.min("vec_id").alias("hub_id"))
    hub_mesh = (
        hubs.select(F.col("hub_id").alias("vec_id"))
        .crossJoin(F.broadcast(hubs.select(F.col("hub_id").alias("nbr_id"))))
        .filter(F.col("vec_id") != F.col("nbr_id"))
    )
    member_hub = e0.select("vec_id", "cell").join(
        F.broadcast(hubs), "cell"
    ).filter(F.col("vec_id") != F.col("hub_id"))
    up = member_hub.select("vec_id", F.col("hub_id").alias("nbr_id"))
    down = member_hub.select(
        F.col("hub_id").alias("vec_id"), F.col("vec_id").alias("nbr_id")
    )
    edges = knn.union(hub_mesh).union(up).union(down).distinct()
    return _payload_join_enriched(e0, edges)


def hnsw_graph_edges(
    embeddings: DataFrame,
    k_edges: int = 3,
    n_centroids: int = 8,
    n_coarse: int = 3,
) -> DataFrame:
    """THREE-layer hierarchical navigable edge set — full HNSW shape,
    closing the one scale cliff left in ``nsw_graph_edges``: its hub
    mesh is COMPLETE (hub² edges), fine at a fixed cell dial but
    quadratic once cells scale as n/target (production: n/200 cells →
    n²/40000 mesh edges). The hierarchy replaces it with:

    - layer 0: in-cell exact KNN (``_knn_topk_within_cells``, bounded
      out-degree ``k_edges``) + member↔hub star per cell — unchanged;
    - layer 1: the per-cell min-id hubs get their OWN coarse structure —
      the ``n_coarse`` lowest hub-ids act as coarse centroids, hubs are
      assigned by squared-L2 (``assign_to_centroids``, same rounding as
      everywhere), and within each coarse cell hubs link by exact KNN
      (again bounded degree) plus a hub↔coarse-hub star;
    - layer 2: one min-id hub per coarse cell, complete mesh over those
      ``n_coarse`` (bounded by the dial — with n_coarse ~ √#hubs this
      is where a fourth layer would recurse; three suffice through
      ~10^7 cells).

    Edge count: n·k_edges + 2n (L0) + h·k_edges + 2h (L1) + n_coarse²
    (L2) — LINEAR in corpus and hub count, vs h² for the flat mesh.
    Every construction step is the same deterministic primitive the
    DuckDB oracle already replays (min-id selection, rounded-L2 argmin,
    rounded-cosine KNN), so the full three-layer build is oracle-
    replayable bit-for-bit. Same (vec_id, nbr_id, nbr_vec, nbr_nrm)
    payload layout as ``nsw_graph_edges`` — ``ann_graph_search`` runs
    on either graph unchanged.
    """
    e0 = _enrich_with_cells(
        embeddings, ivf_assignments(embeddings, n_centroids)
    ).localCheckpoint()
    return _hnsw_edges_from(e0, min_id_coarse_picker(n_coarse), k_edges)


def min_id_coarse_picker(n_coarse: int):
    """The fixed-dial coarse-centroid rule (``n_coarse`` lowest hub
    ids), shared by the cold HNSW build and the maintenance stream so
    the two can never pick different coarse layers."""

    def coarse_of(hub_vecs: DataFrame) -> DataFrame:
        return (
            hub_vecs.orderBy("vec_id")
            .limit(n_coarse)
            .select(
                F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("cvec"),
            )
        )

    return coarse_of


def _hnsw_upper_edges(
    members: DataFrame,
    coarse_of,
    k_edges: int,
) -> DataFrame:
    """Layers 1-2 of the hierarchy + both member<->hub stars, given the
    MATERIALIZED L0 member relation (vec_id, embedding, cell[, nrm]) —
    the part of the index that is O(hubs), not O(corpus). Factored out
    of ``_hnsw_edges_from`` so the incremental maintenance stream
    (streaming/ann_stream.py::streaming_hnsw_index) can REBUILD these
    tiny layers per microbatch from the members state while maintaining
    only the corpus-sized L0 KNN incrementally — one construction body,
    so streamed and cold indexes cannot fork. The hub-level norm is
    computed HERE over the hub relation only (hubs-many rows), so a
    caller whose member state carries no ``nrm`` pays nothing
    corpus-sized."""
    from mapreduceindexer_spark.functions.vector import l2_norm

    hubs = members.groupBy("cell").agg(F.min("vec_id").alias("hub_id"))
    # One row per cell: tiny, but feeds three branches — stage it.
    hub_vecs = (
        members.join(hubs.select(F.col("hub_id").alias("vec_id")), "vec_id")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    coarse = coarse_of(hub_vecs)
    # ONE enriched hub relation (assignment + norm) instead of staging
    # the assignment and the KNN join input separately (r13: two
    # checkpoints -> one on the hub tier).
    e1 = (
        hub_vecs.join(assign_to_centroids(hub_vecs, coarse), "vec_id")
        .withColumn("nrm", l2_norm("embedding"))
        .localCheckpoint()
    )
    hub_knn = _knn_topk_enriched(e1, k_edges).select("vec_id", "nbr_id")
    hubs2 = e1.groupBy("cell").agg(F.min("vec_id").alias("hub2"))
    mesh2 = (
        hubs2.select(F.col("hub2").alias("vec_id"))
        .crossJoin(F.broadcast(hubs2.select(F.col("hub2").alias("nbr_id"))))
        .filter(F.col("vec_id") != F.col("nbr_id"))
    )
    memb1 = members.select("vec_id", "cell").join(
        F.broadcast(hubs), "cell"
    ).filter(F.col("vec_id") != F.col("hub_id"))
    up1 = memb1.select("vec_id", F.col("hub_id").alias("nbr_id"))
    down1 = memb1.select(
        F.col("hub_id").alias("vec_id"), F.col("vec_id").alias("nbr_id")
    )
    memb2 = e1.select("vec_id", "cell").join(
        F.broadcast(hubs2), "cell"
    ).filter(F.col("vec_id") != F.col("hub2"))
    up2 = memb2.select("vec_id", F.col("hub2").alias("nbr_id"))
    down2 = memb2.select(
        F.col("hub2").alias("vec_id"), F.col("vec_id").alias("nbr_id")
    )
    return hub_knn.union(mesh2).union(up1).union(down1).union(up2).union(down2)


def hnsw_payload_join(embeddings: DataFrame, edges: DataFrame) -> DataFrame:
    """Attach the neighbor payload (vector + norm) to an edge id-pair
    relation — the final step of every HNSW build, shared with the
    maintenance stream (which stores id pairs as state and re-attaches
    payload from the members table on read)."""
    from mapreduceindexer_spark.functions.vector import l2_norm

    payload = embeddings.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("nbr_vec"),
        l2_norm("embedding").alias("nbr_nrm"),
    )
    return edges.join(payload, "nbr_id").select(
        "vec_id", "nbr_id", "nbr_vec", "nbr_nrm"
    )


def _payload_join_enriched(e0: DataFrame, edges: DataFrame) -> DataFrame:
    """``hnsw_payload_join`` reading the already-materialized enriched
    relation instead of re-scanning the base embeddings and recomputing
    every norm (r13): ``e0.nrm`` is the identical ``l2_norm`` value, so
    the payload is bit-for-bit the same."""
    payload = e0.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").alias("nbr_vec"),
        F.col("nrm").alias("nbr_nrm"),
    )
    return edges.join(payload, "nbr_id").select(
        "vec_id", "nbr_id", "nbr_vec", "nbr_nrm"
    )


def _hnsw_edges_from(
    e0: DataFrame,
    coarse_of,
    k_edges: int,
) -> DataFrame:
    """The shared three-layer HNSW construction given the MATERIALIZED
    enriched L0 relation (``_enrich_with_cells(...).localCheckpoint()``)
    and a coarse-centroid picker over the hub relation — ONE body for
    the fixed-dial and production-dial builds (review finding: two
    verbatim copies could silently fork the index layouts)."""
    knn = _knn_topk_enriched(e0, k_edges).select("vec_id", "nbr_id")
    edges = knn.union(
        _hnsw_upper_edges(e0, coarse_of, k_edges)
    ).distinct()
    return _payload_join_enriched(e0, edges)


def hnsw_graph_edges_scaled(
    embeddings: DataFrame,
    k_edges: int = 3,
    target_cell_size: int = 200,
    min_cells: int = 8,
    min_coarse: int = 3,
) -> DataFrame:
    """``hnsw_graph_edges`` with the PRODUCTION dials live: cells =
    max(min_cells, n // target_cell_size) and n_coarse = max(min_coarse,
    floor(sqrt(cells))) — the corpus-scaling rule of ``knn_graph_scaled``
    applied to the hierarchy, so BOTH quadratic terms stay bounded as
    the corpus grows: per-cell population ≈ target_cell_size (the L0
    KNN self-join) and per-coarse-cell hub population ≈ sqrt(cells)
    (the L1 hub KNN self-join), with the L2 mesh ≈ cells edges. Every
    dial enters the plan as a broadcast one-row aggregate (fully lazy,
    no driver collect); the coarse-centroid pick is a rank filter over
    the hub relation instead of ``limit`` (a limit takes only a Python
    literal). Deterministic throughout — the DuckDB oracle replays the
    dials from count(*) and every edge bit-for-bit."""
    nc = F.greatest(
        F.lit(min_cells), F.floor(F.col("n") / F.lit(target_cell_size))
    ).cast("bigint")
    dial = embeddings.agg(F.count("*").alias("n")).select(
        nc.alias("nc"),
        F.greatest(
            F.lit(min_coarse), F.floor(F.sqrt(nc.cast("double")))
        )
        .cast("bigint")
        .alias("ncc"),
    )
    centroids = (
        embeddings.crossJoin(F.broadcast(dial))
        .filter(F.col("vec_id") < F.col("nc"))
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
    )
    e0 = _enrich_with_cells(
        embeddings, assign_to_centroids(embeddings, centroids)
    ).localCheckpoint()
    w_hub = Window.orderBy(F.asc("vec_id"))

    def coarse_of(hub_vecs: DataFrame) -> DataFrame:
        return (
            hub_vecs.withColumn("_rn", F.row_number().over(w_hub))
            .crossJoin(F.broadcast(dial.select("ncc")))
            .filter(F.col("_rn") <= F.col("ncc"))
            .select(
                F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("cvec"),
            )
        )

    return _hnsw_edges_from(e0, coarse_of, k_edges)


def ann_graph_search(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    ef: int = 4,
    hops: int = 4,
    k_edges: int = 3,
    n_centroids: int = 8,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Graph-based ANN: hop-synchronized BEAM SEARCH over the two-layer
    navigable graph (``nsw_graph_edges``) from a fixed global entry
    point — the NSW/HNSW query algorithm as a batch of relational hops.
    ``edges`` lets a caller pass a prebuilt (materialized) edge relation
    — the graph is the INDEX, built once and probed by every search and
    audit, which is how the catalog shares it between q_ann_graph and
    q_ann_graph_recall via the session staging registry.

    This is the BEST-FIRST search of the NSW papers, hop-synchronized:
    the visited set tracks which nodes have been EXPANDED, and each hop
    expands the top-``ef`` not-yet-expanded visited nodes per probe
    ((cos DESC, vec_id ASC) — deterministic), scores their out-edges
    from the edge payload, and dedups by (probe, vec). Without the
    expanded flag the same best-scoring nodes re-expand every hop and
    the walk stalls in its first good cell (measured: recall 0 on 3/5
    panel probes); with it, each hop is guaranteed ``ef`` NEW
    expansions, so the walk keeps descending the similarity surface —
    entry → hubs → best cells' members → their in-cell KNN refinement.
    The walk is seeded with BOTH the global entry and the probe's own
    node (for in-corpus self-queries the probe's neighborhood is the
    goal; an external query vector would seed entry-only — same plan).

    Scale shape: the probe relation is bounded (broadcast on every
    join); each hop is one pass over the checkpointed edge relation
    (never the corpus) with candidate volume ≤ |probes| × ef ×
    max-out-degree — out-degrees are bounded by construction (k_edges,
    hub-mesh width, cell population ≤ the production dial's target
    size). ``hops`` grows like the layer count (log n), a driver-side
    loop exactly like Lloyd's rounds. Every step is deterministic, so
    the DuckDB oracle replays the whole walk bit-for-bit — ANN's
    approximation is a property of the ALGORITHM, not of any runtime
    nondeterminism, and ``ann_graph_recall`` meters it against brute
    force.

    Output: (probe_id, vec_id, cos_sim, rn ≤ k) — the probe itself is
    excluded from the final ranking (it is reachable mid-walk, which is
    what pulls the beam into its own neighborhood).
    """
    from mapreduceindexer_spark.functions.vector import l2_norm

    if edges is None:
        edges = nsw_graph_edges(embeddings, k_edges, n_centroids).localCheckpoint()
    probes = (
        embeddings.filter(F.col("vec_id").isin(list(probe_ids)))
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pv"),
            l2_norm("embedding").alias("pnrm"),
        )
        .localCheckpoint()
    )
    seed_entry = _entry_seed(embeddings, probes)
    seed_self = probes.select(
        "probe_id",
        F.col("probe_id").alias("vec_id"),
        F.lit(1.0).alias("cos_sim"),
        F.lit(False).alias("expanded"),
    )
    return _graph_beam_walk(
        edges, probes, seed_entry.unionAll(seed_self), k, ef, hops
    )


def ann_graph_search_vectors(
    embeddings: DataFrame,
    query_vectors: DataFrame,
    k: int = 5,
    ef: int = 4,
    hops: int = 4,
    k_edges: int = 3,
    n_centroids: int = 8,
    edges: DataFrame | None = None,
) -> DataFrame:
    """The SERVING path of the graph-ANN tier: search with EXTERNAL
    query vectors — embeddings that are NOT corpus nodes (a user query,
    a freshly embedded document), which is what an ANN index exists for
    in production. ``query_vectors`` = (probe_id, qv) with probe_ids
    disjoint from corpus vec_ids.

    Identical hop-synchronized best-first walk as ``ann_graph_search``
    (same ``_graph_beam_walk``, same edge relation — ONE index serves
    in-corpus audits and external queries alike), differing only in the
    seed: an external query has no self node, so the walk seeds
    entry-only, exactly as the NSW papers' query algorithm does. The
    probe relation is bounded and broadcast on every join; per-query
    cost is hops × ef × max-out-degree edge expansions — independent of
    corpus size given the index, which is the serving contract.
    Deterministic end-to-end (rounded cosine, id-ascending ties), so the
    DuckDB oracle replays the full walk for literal query vectors.
    """
    from mapreduceindexer_spark.functions.vector import l2_norm

    if edges is None:
        edges = nsw_graph_edges(embeddings, k_edges, n_centroids).localCheckpoint()
    probes = query_vectors.select(
        "probe_id",
        F.col("qv").alias("pv"),
        l2_norm("qv").alias("pnrm"),
    ).localCheckpoint()
    return _graph_beam_walk(
        edges, probes, _entry_seed(embeddings, probes), k, ef, hops
    )


def persist_graph_index(
    spark, edges: DataFrame, table, n_buckets: int = 8
) -> int:
    """Write a graph-ANN edge relation (vec_id, nbr_id, nbr_vec,
    nbr_nrm) into a ``TransactionalTable`` as ``n_buckets``
    RANGE-CLUSTERED sub-dirs on vec_id, each with min/max stats AND a
    Bloom bitmap — the BUILD-ONCE half of the serving contract: the
    index survives the Spark application (unlike the session-scoped
    staged relation), later sessions time-travel it, and a point read
    of one node's adjacency is pruned to O(1) sub-dirs by manifest
    metadata alone. A plain overwrite commit would land everything in
    ONE dir (dir-granular stats then prune nothing), so the persist IS
    commit + OPTIMIZE CLUSTER BY — the same maintenance op that
    repairs skipping on any table. Returns the committed version."""
    table.commit(edges, mode="overwrite")
    return table.compact_clustered(
        spark,
        "vec_id",
        n_buckets=n_buckets,
        stats_cols=["vec_id"],
        bloom_cols=["vec_id"],
    )


def ann_graph_search_vectors_table(
    spark,
    table,
    embeddings: DataFrame,
    query_vectors: DataFrame,
    k: int = 5,
    ef: int = 4,
    hops: int = 4,
    version: int | None = None,
    label: int | None = None,
) -> DataFrame:
    """The serving walk of ``ann_graph_search_vectors`` reading the
    index from its PERSISTED transactional table instead of a staged
    in-session relation — build-once / probe-many across sessions.
    ``label`` composes the FILTERED contract on top (predicate at
    ranking, per-probe sound fallback via ``_filtered_visited_rank``)
    — storage, pruning, and filtering stack without touching the walk.
    Each hop fetches only the frontier's adjacency: the frontier ids
    (bounded by |probes| x ef) drive IN-list point reads (``scan`` of
    a plan over the pinned manifest), so the scan touches only snapshot
    dirs whose min/max range AND Bloom bitmap can hold a frontier
    node — at scale, O(frontier) dirs out of an arbitrarily large
    index. Results are identical to the staged-relation walk (same
    ``_graph_beam_walk``, same edge rows; pinned by
    tests/test_similarity_serving.py)."""
    from mapreduceindexer_spark.functions.vector import l2_norm
    from mapreduceindexer_spark.sources.transact import ScanPlan

    if version is None:
        version = table.current_version()
    # Pin the version's manifest ONCE for the whole walk (round-9
    # verdict item): manifests are immutable per version, so every
    # hop's Bloom/min-max probe runs against the held dict with zero
    # metadata I/O, and the kept dirs are read with the manifest's
    # RECORDED schema - no per-hop parquet footer schema inference (the
    # walk's fixed cost was hops x (listing + inference), not the probe
    # arithmetic). Small kept slices are read on the driver.
    manifest = table._manifest(version)

    def edges_for(ids):
        where = {"vec_id": [int(v) for v in ids]}
        kept, skipped = table._prune(manifest, where)
        return table.scan(
            spark, ScanPlan(version, manifest, where, kept, skipped)
        )

    probes = query_vectors.select(
        "probe_id",
        F.col("qv").alias("pv"),
        l2_norm("qv").alias("pnrm"),
    ).localCheckpoint()
    if label is None:
        return _graph_beam_walk(
            edges_for, probes, _entry_seed(embeddings, probes), k, ef, hops
        )
    visited = _graph_beam_visited(
        edges_for, probes, _entry_seed(embeddings, probes), ef, hops
    )
    return _filtered_visited_rank(embeddings, probes, visited, label, k)


def _entry_seed(embeddings: DataFrame, probes: DataFrame) -> DataFrame:
    """Seed rows scoring every probe against the global min-id entry
    point — shared by the in-corpus and external-query walks so the two
    can never diverge from the oracle's common seed fragment. ``probes``
    = (probe_id, pv, pnrm)."""
    from mapreduceindexer_spark.functions.vector import dot, l2_norm

    entry = (
        embeddings.select("vec_id", "embedding", l2_norm("embedding").alias("nrm"))
        .orderBy("vec_id")
        .limit(1)
    )
    return probes.crossJoin(F.broadcast(entry)).select(
        "probe_id",
        "vec_id",
        F.round(
            dot("embedding", "pv") / (F.col("nrm") * F.col("pnrm")), 6
        ).alias("cos_sim"),
        F.lit(False).alias("expanded"),
    )


def _graph_beam_walk(
    edges,
    probes: DataFrame,
    seeds: DataFrame,
    k: int,
    ef: int,
    hops: int,
) -> DataFrame:
    """Shared hop loop of the graph-ANN family: best-first beam search
    over a prebuilt edge-with-payload relation from the given seed set.
    ``probes`` = (probe_id, pv, pnrm) checkpointed; ``seeds`` =
    (probe_id, vec_id, cos_sim, expanded). See ``ann_graph_search`` for
    the algorithm and scale analysis.

    ``edges`` is either the whole edge relation (DataFrame) or a
    CALLABLE ``edges_for(frontier_ids) -> DataFrame`` — the serving
    shape, where each hop fetches only the frontier nodes' adjacency
    from a persisted index (Bloom/min-max-pruned point reads of the
    transactional table). The callable path collects the frontier ids
    first: bounded by |probes| x ef per hop (the beam width), a
    metadata-plane fetch in the same class as the table tier's commit
    scalars — never corpus-sized."""
    visited = _graph_beam_visited(edges, probes, seeds, ef, hops)
    w_beam = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        visited.filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("rn", F.row_number().over(w_beam).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select("probe_id", "vec_id", "cos_sim", "rn")
    )


def _graph_beam_visited(
    edges,
    probes: DataFrame,
    seeds: DataFrame,
    ef: int,
    hops: int,
) -> DataFrame:
    """The hop loop itself, returning the full VISITED relation
    (probe_id, vec_id, cos_sim, expanded) after ``hops`` rounds —
    factored out so filtered search can re-rank the visited set under
    a predicate instead of taking the plain top-k."""
    from mapreduceindexer_spark.functions.vector import dot

    visited = (
        seeds.groupBy("probe_id", "vec_id")
        .agg(
            F.min("cos_sim").alias("cos_sim"),
            F.bool_or("expanded").alias("expanded"),
        )
        .localCheckpoint()
    )
    w_beam = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    for _ in range(hops):
        frontier = (
            visited.filter(~F.col("expanded"))
            .withColumn("rn", F.row_number().over(w_beam))
            .filter(F.col("rn") <= ef)
            .select("probe_id", "vec_id")
        )
        if callable(edges):
            frontier = frontier.localCheckpoint()  # collected AND joined
            ids = sorted(
                r["vec_id"]
                for r in frontier.select("vec_id").distinct().collect()
            )
            hop_edges = edges(ids)
        else:
            hop_edges = edges
        scored = (
            F.broadcast(frontier)
            .join(hop_edges, "vec_id")
            .join(F.broadcast(probes), "probe_id")
            .select(
                "probe_id",
                F.col("nbr_id").alias("vec_id"),
                F.round(
                    dot("nbr_vec", "pv") / (F.col("nbr_nrm") * F.col("pnrm")),
                    6,
                ).alias("cos_sim"),
                F.lit(False).alias("expanded"),
            )
        )
        marked = visited.join(
            F.broadcast(frontier.withColumn("_f", F.lit(True))),
            ["probe_id", "vec_id"],
            "left",
        ).select(
            "probe_id",
            "vec_id",
            "cos_sim",
            (F.col("expanded") | F.col("_f").isNotNull()).alias("expanded"),
        )
        # Dedup by (probe, vec): duplicates carry the identical rounded
        # score, so min() is pure dedup and bool_or keeps a node
        # expanded once expanded — one shuffle over a relation bounded
        # by |probes| × ef × max-out-degree per hop. Checkpoint per
        # hop: the set feeds both the next beam and the final ranking,
        # and unrolled lazy unions would re-run every earlier hop per
        # branch.
        visited = (
            marked.unionAll(scored)
            .groupBy("probe_id", "vec_id")
            .agg(
                F.min("cos_sim").alias("cos_sim"),
                F.bool_or("expanded").alias("expanded"),
            )
            .localCheckpoint()
        )
    return visited


def ann_graph_search_filtered(
    embeddings: DataFrame,
    probe_ids: list[int],
    label: int,
    k: int = 5,
    ef: int = 8,
    hops: int = 4,
    k_edges: int = 3,
    n_centroids: int = 8,
    edges: DataFrame | None = None,
) -> DataFrame:
    """FILTERED graph-ANN: the standard filtered-HNSW strategy — the
    WALK routes through non-matching nodes unfiltered (filtering the
    routing graph fragments it and strands the beam; every production
    graph index routes-then-filters), and the PREDICATE applies at the
    final ranking. Per-probe soundness dial, same contract as
    ``ivf_filtered_topk``: a probe whose visited ∩ predicate set holds
    fewer than ``k`` nodes provably cannot fill its result from the
    walk, so THAT probe (and only that probe) widens to an exact scan
    of the filtered slice — the decision is a per-probe relational
    count (no driver collect), and the output carries its evidence
    (``n_cand``, ``fallback`` per probe, value-checked by the oracle's
    per-probe gated union).

    Scale: the walk is the ordinary bounded beam (|probes| × ef ×
    out-degree per hop); the filter join touches only the visited set;
    the fallback's exact scan is the filtered slice for the starved
    probes only, never the corpus for every probe.
    """
    from mapreduceindexer_spark.functions.vector import l2_norm

    if edges is None:
        edges = nsw_graph_edges(embeddings, k_edges, n_centroids).localCheckpoint()
    probes = (
        embeddings.filter(F.col("vec_id").isin(list(probe_ids)))
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pv"),
            l2_norm("embedding").alias("pnrm"),
        )
        .localCheckpoint()
    )
    seed_entry = _entry_seed(embeddings, probes)
    seed_self = probes.select(
        "probe_id",
        F.col("probe_id").alias("vec_id"),
        F.lit(1.0).alias("cos_sim"),
        F.lit(False).alias("expanded"),
    )
    visited = _graph_beam_visited(
        edges, probes, seed_entry.unionAll(seed_self), ef, hops
    )
    return _filtered_visited_rank(embeddings, probes, visited, label, k)


def ann_graph_search_vectors_filtered(
    embeddings: DataFrame,
    query_vectors: DataFrame,
    label: int,
    k: int = 5,
    ef: int = 8,
    hops: int = 4,
    k_edges: int = 3,
    n_centroids: int = 8,
    edges: DataFrame | None = None,
) -> DataFrame:
    """FILTERED search on the SERVING path: external query vectors (not
    corpus nodes) + a metadata predicate + the per-probe sound fallback
    — the full production picture in one operator: "the k nearest
    label-L documents to this fresh embedding". Entry-only seeding
    (external queries have no self node, as in
    ``ann_graph_search_vectors``); routing unfiltered; the predicate
    and the starvation gate apply at ranking, per probe, relationally
    (``_filtered_visited_rank``). ``edges`` accepts the same callable
    form as the walk (persisted-index point reads), so this composes
    with ``persist_graph_index`` unchanged."""
    from mapreduceindexer_spark.functions.vector import l2_norm

    if edges is None:
        edges = nsw_graph_edges(embeddings, k_edges, n_centroids).localCheckpoint()
    probes = query_vectors.select(
        "probe_id",
        F.col("qv").alias("pv"),
        l2_norm("qv").alias("pnrm"),
    ).localCheckpoint()
    visited = _graph_beam_visited(
        edges, probes, _entry_seed(embeddings, probes), ef, hops
    )
    return _filtered_visited_rank(embeddings, probes, visited, label, k)


def _filtered_visited_rank(
    embeddings: DataFrame,
    probes: DataFrame,
    visited: DataFrame,
    label: int,
    k: int,
) -> DataFrame:
    """Shared predicate-and-rank tail of the filtered graph searches:
    restrict the visited set to the label, gate each probe on its own
    candidate count (n_cand < k → that probe re-scores the exact
    filtered slice), rank, and carry (n_cand, fallback) as
    value-checked evidence. All relational — no driver collect."""
    from mapreduceindexer_spark.functions.vector import cosine_similarity as _cos

    lab = embeddings.select("vec_id", "label")
    matches = (
        visited.join(F.broadcast(lab.filter(F.col("label") == label)), "vec_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", "cos_sim")
    ).localCheckpoint()  # feeds the count gate AND the ranked union
    counts = (
        probes.select("probe_id")
        .join(
            matches.groupBy("probe_id").agg(F.count("*").alias("n_cand")),
            "probe_id",
            "left",
        )
        .select(
            "probe_id", F.coalesce("n_cand", F.lit(0)).cast("bigint").alias("n_cand")
        )
    ).localCheckpoint()  # gates both union branches
    graph_side = matches.join(
        F.broadcast(counts.filter(F.col("n_cand") >= k)), "probe_id"
    )
    starved = counts.filter(F.col("n_cand") < k)
    exact_side = (
        embeddings.filter(F.col("label") == label)
        .crossJoin(F.broadcast(probes.join(starved, "probe_id")))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(_cos("embedding", "pv"), 6).alias("cos_sim"),
            "n_cand",
        )
    )
    w_beam = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        graph_side.unionByName(exact_side)
        .withColumn("rn", F.row_number().over(w_beam).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select(
            "probe_id",
            "vec_id",
            "cos_sim",
            "rn",
            "n_cand",
            (F.col("n_cand") < k).alias("fallback"),
        )
    )


def ann_graph_recall_vectors(
    embeddings: DataFrame,
    query_vectors: DataFrame,
    k: int = 5,
    ef: int = 4,
    hops: int = 4,
    k_edges: int = 3,
    n_centroids: int = 8,
    floor_permille: int = 500,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the EXTERNAL-query serving path vs exact brute force
    — the honesty instrument for the path users actually hit: ground
    truth is the cosine top-k of each query vector over the whole
    corpus (one broadcast of the bounded probe set, one corpus pass),
    compared against the entry-seeded beam walk over the same index.
    ``query_vectors`` = (probe_id, qv), probe_ids disjoint from corpus
    vec_ids. Same contract projection as ``ann_graph_recall``
    (``_recall_contract`` — one body, the two audits cannot drift)."""
    # The query-vector relation feeds three plan branches (brute cross
    # join, the walk's probes, the contract spine) and may itself be a
    # join over the corpus — stage it once (multi-branch staging rule).
    query_vectors = query_vectors.localCheckpoint()
    probes = query_vectors.select("probe_id", F.col("qv").alias("pv"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    brute = (
        embeddings.crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "pv"), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "vec_id")
    )
    graph = ann_graph_search_vectors(
        embeddings, query_vectors, k=k, ef=ef, hops=hops,
        k_edges=k_edges, n_centroids=n_centroids, edges=edges,
    ).select("probe_id", "vec_id")
    return _recall_contract(
        probes.select("probe_id"), brute, graph, k, floor_permille
    )


def _recall_contract(
    probe_spine: DataFrame,
    brute: DataFrame,
    graph: DataFrame,
    k: int,
    floor_permille: int,
) -> DataFrame:
    """The shared (hits, recall, meets_floor) projection of the recall
    audits — one body so the in-corpus and serving-path contracts can
    never compute different arithmetic (review finding)."""
    hits = (
        brute.join(graph, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )
    return probe_spine.join(hits, "probe_id", "left").select(
        "probe_id",
        F.coalesce(F.col("hits"), F.lit(0).cast("bigint")).alias("hits"),
        F.round(
            F.coalesce(F.col("hits"), F.lit(0)).cast("double")
            / F.lit(float(k)),
            6,
        ).alias("recall"),
        (
            F.coalesce(F.col("hits"), F.lit(0)) * 1000
            >= F.lit(floor_permille * k)
        ).alias("meets_floor"),
    )


def ann_graph_recall(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 5,
    ef: int = 4,
    hops: int = 4,
    k_edges: int = 3,
    n_centroids: int = 8,
    floor_permille: int = 500,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of graph-ANN beam search vs exact brute force, per probe,
    with an explicit CONTRACT column: ``meets_floor`` = recall ≥
    floor_permille/1000. The same honesty instrument as ``ann_recall``
    is for IVF — a graph index without a measured recall bound is a
    guess, and the driver-checked floor turns a silent recall regression
    (a navigability bug, a bad hub choice) into a red row.
    """
    probes = embeddings.filter(F.col("vec_id").isin(list(probe_ids))).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    brute = (
        embeddings.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "pv"), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "vec_id")
    )
    graph = ann_graph_search(
        embeddings, probe_ids, k=k, ef=ef, hops=hops,
        k_edges=k_edges, n_centroids=n_centroids, edges=edges,
    ).select("probe_id", "vec_id")
    return _recall_contract(
        probes.select("probe_id"), brute, graph, k, floor_permille
    )


def ann_recall(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    n_centroids: int = 8,
) -> DataFrame:
    """Recall@k of the IVF index against exact brute force, per probe —
    the quality contract every ANN deployment needs MEASURED, not
    assumed (the IVF recall dial is cells probed; this is the meter).

    (probe_id, hits, recall): ``hits`` = |IVF top-k ∩ exact top-k|,
    ``recall`` = hits/k. Both sides are fully deterministic (round-6
    cosine, id-ascending ties), so the DuckDB oracle replays the exact
    overlap — this is an *audit* query, not an estimate.

    Scale shape: the probe set is a bounded relation (broadcast); the
    brute-force side is ONE corpus scan scoring |probes| dots per row
    with a per-probe WindowGroupLimit top-k (each partition surrenders
    ≤ k rows per probe); the IVF side reuses the cell assignment and
    scores only same-cell candidates. Cost: linear scan + cell-bounded
    candidates — never corpus × corpus.
    """
    probes = embeddings.filter(F.col("vec_id").isin(list(probe_ids))).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pv")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    brute = (
        embeddings.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "pv"), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "vec_id")
    )
    cells = ivf_assignments(embeddings, n_centroids)
    probe_cells = (
        cells.join(
            F.broadcast(probes.select("probe_id")),
            cells["vec_id"] == F.col("probe_id"),
        )
        .select("probe_id", F.col("cell").alias("pcell"))
    )
    ivf = (
        embeddings.join(cells, "vec_id")
        .join(
            F.broadcast(probe_cells),
            (F.col("cell") == F.col("pcell"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .join(F.broadcast(probes), "probe_id")
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine_similarity("embedding", "pv"), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "vec_id")
    )
    hits = (
        brute.join(ivf, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )
    return (
        probes.select("probe_id")
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce(F.col("hits"), F.lit(0).cast("bigint")).alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)).cast("double") / F.lit(float(k)),
                6,
            ).alias("recall"),
        )
    )


def _sub_d2(a: str, b: str, start: int, length: int) -> "F.Column":
    """Squared L2 between ``length``-dim slices of two float vectors,
    computed in double (exact float32→double widening) and rounded to 6
    decimals — the same last-ulp-absorbing parity idiom as
    ``_sq_l2_to_centroid``, replayed by the oracle with list_slice."""
    return F.round(
        F.aggregate(
            F.zip_with(
                F.slice(a, start, length),
                F.slice(b, start, length),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def pq_subspace_distances(
    embeddings: DataFrame, m: int = 4, ksub: int = 8, dim: int = 64
) -> DataFrame:
    """(vec_id, s, cid, d2s): squared-L2 from every vector's subspace-s
    slice to sub-centroid ``cid`` of that subspace. Codebook 'training'
    is deterministic — sub-centroid ``cid`` of subspace ``s`` is the
    slice of the vector with ``vec_id == cid`` (same replayable pattern
    as ``ivf_assignments``; ``kmeans_centroids`` per subspace is the
    trained drop-in). One broadcast cross join with ``ksub`` rows, then
    ``m`` narrow slice-distances inlined per pair — n·ksub·m rows total,
    linear in the corpus."""
    sub = dim // m
    cents = embeddings.filter(F.col("vec_id") < ksub).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    pairs = embeddings.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("bigint").alias("s"),
                    _sub_d2("embedding", "cvec", s * sub + 1, sub).alias("d2s"),
                )
                for s in range(m)
            ]
        ).alias("subs"),
    )
    return pairs.select(
        "vec_id", "cid", F.explode("subs").alias("e")
    ).select("vec_id", "cid", F.col("e.s").alias("s"), F.col("e.d2s").alias("d2s"))


def pq_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 10,
    m: int = 4,
    ksub: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization ANN top-k via asymmetric distance computation
    (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011).

    Encode: each vector's ``m`` subspace slices quantize to their nearest
    of ``ksub`` sub-centroids (argmin as ``min(struct)`` — hash
    aggregate, no window) — ``m`` small codes per vector, a 64-float
    vector compressed to ``m·log2(ksub)`` bits plus the shared codebook.
    Search: the probe computes one ``m × ksub`` distance TABLE (a
    broadcast-sized relation); approx d²(x) = Σ_s table[s][code_s(x)] —
    a lookup-join + sum, never touching the original vectors. At 100 TB
    the corpus is scanned once to encode (codes are 16-32× smaller than
    the vectors and would be the stored representation); each query is
    one broadcast of an m·ksub table against the code relation.
    """
    pairs = pq_subspace_distances(embeddings, m=m, ksub=ksub, dim=dim)
    codes = (
        pairs.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2s", "cid")).alias("mn"))
        .select("vec_id", "s", F.col("mn.cid").alias("code"))
    )
    ptab = pairs.filter(F.col("vec_id") == probe_id).select(
        F.col("s").alias("ps"), F.col("cid").alias("pcid"), F.col("d2s").alias("t")
    )
    scored = (
        codes.filter(F.col("vec_id") != probe_id)
        .join(
            F.broadcast(ptab),
            (F.col("s") == F.col("ps")) & (F.col("code") == F.col("pcid")),
        )
        .groupBy("vec_id")
        .agg(F.round(F.sum("t"), 6).alias("approx_d2"))
    )
    w = Window.orderBy(F.asc("approx_d2"), F.asc("vec_id"))
    return (
        scored.orderBy(F.asc("approx_d2"), F.asc("vec_id"))
        .limit(k)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )


def ivfpq_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 10,
    n_centroids: int = 8,
    m: int = 4,
    ksub: int = 8,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ composite ANN (the FAISS IVFPQ layout, Jégou et al.
    TPAMI'11): coarse IVF cells prune the candidate set, PQ codes give
    compressed in-cell distances via ADC — the memory/compute tradeoff
    production vector stores run at billion scale (cells bound the scan,
    codes shrink what's scanned ~16-32×).

    Simplification kept deliberate: codes quantize the RAW vectors (not
    cell residuals) so the codebook is the same deterministic,
    oracle-replayable one as ``pq_topk``; residual PQ is the same plan
    with per-cell codebooks. Search: assign all vectors + the probe to
    cells (broadcast centroid table), keep the probe's cell, join the
    cell's members' codes against the broadcast probe distance table,
    sum, top-k.
    """
    cells = ivf_assignments(embeddings, n_centroids=n_centroids)
    probe_cell = cells.filter(F.col("vec_id") == probe_id).select(
        F.col("cell").alias("pcell")
    )
    members = cells.join(F.broadcast(probe_cell), F.col("cell") == F.col("pcell"))
    pairs = pq_subspace_distances(embeddings, m=m, ksub=ksub, dim=dim)
    codes = (
        pairs.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2s", "cid")).alias("mn"))
        .select("vec_id", "s", F.col("mn.cid").alias("code"))
    )
    ptab = pairs.filter(F.col("vec_id") == probe_id).select(
        F.col("s").alias("ps"), F.col("cid").alias("pcid"), F.col("d2s").alias("t")
    )
    scored = (
        codes.join(members.select("vec_id"), "vec_id", "left_semi")
        .filter(F.col("vec_id") != probe_id)
        .join(
            F.broadcast(ptab),
            (F.col("s") == F.col("ps")) & (F.col("code") == F.col("pcid")),
        )
        .groupBy("vec_id")
        .agg(F.round(F.sum("t"), 6).alias("approx_d2"))
    )
    w = Window.orderBy(F.asc("approx_d2"), F.asc("vec_id"))
    return (
        scored.orderBy(F.asc("approx_d2"), F.asc("vec_id"))
        .limit(k)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
    )
