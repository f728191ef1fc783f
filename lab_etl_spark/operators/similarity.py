"""Similarity search over embedding columns (array<float>).

Scale design:
  * ``cosine_topk`` — brute-force exact top-k.  The query side is small and
    broadcast; the corpus side is scanned once, scored with JVM-side
    higher-order functions (no Python), and reduced per-query with a ranked
    window.  At cluster scale this is a single corpus scan, no corpus shuffle
    except the final per-query top-k (tiny after the rank filter).
  * ``cosine_topk_blocked`` — IVF-style coarse blocking: only score pairs in
    the same block (here the ``label`` column stands in for a learned coarse
    quantizer cell).  Cuts scored pairs by ~|blocks|×, the standard ANN
    recall/cost trade.

All folds are sequential left-to-right (`aggregate`), so doubles are
bit-identical to the DuckDB oracle's `list_reduce`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .iterate import checkpoint, iterate, undirected

# Sequential double fold: dot(a, b) and ||v||².
DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
SQNORM = (
    "aggregate({v}, CAST(0.0 AS DOUBLE),"
    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
)


def is_finite(c) -> "F.Column":
    """True iff the double column is a real number (not NULL/NaN/±Inf).

    Why every cosine DECISION in this module must check it: a zero-norm
    embedding (empty doc, failed encoder) makes cosine 0/0 = NaN, and
    BOTH Spark and DuckDB order NaN above every real number AND evaluate
    ``NaN >= t`` as true — so without the guard a single zero vector
    silently near-matches every block-mate (worst case for a dedup pass:
    real documents dropped) and outranks every true neighbor in top-k.
    Guarded semantics: cosine is undefined for such vectors — they never
    pass a threshold and never appear as a ranked neighbor.  The guard
    is enforced per SIDE via :func:`_finite_norm` on the hoisted norm
    columns (per-row cost, see its docstring) rather than per pair;
    purely-relative interior stages (k-means argmins, IVF probe ranking)
    stay unguarded — deterministic on both engines, and the admission
    gates already excluded garbage vectors.
    """
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))


def _finite_norm(c) -> "F.Column":
    """Per-SIDE vector admission test: norm is a real number > 0.

    Applied to the hoisted per-vector norm column BEFORE the pair join —
    NOT to the per-pair cosine — so the guard costs one scalar comparison
    per ROW instead of re-evaluating the dot-product fold per PAIR (the
    first implementation filtered is_finite(cosine) post-join and the
    alias inlining re-ran the fold; measured ~1.4-2x on the whole
    similarity family at sf0.1).  Equivalent semantics: a finite positive
    norm implies every component is finite (squares cannot cancel), hence
    the cosine of two admitted vectors is finite; conversely zero-norm /
    NaN / Inf vectors are excluded outright, which is exactly the
    "undefined cosine never matches, never ranks" contract of is_finite.
    """
    return is_finite(c) & (c > 0)


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Give a compute-DENSE map stage (k·d flops per row: the broadcast
    argmin scoring in kmeans_cells / graph-ANN hub assignment) at least
    the session's core count of input splits.

    Parquet splits are BYTE-based (maxPartitionBytes, and never inside a
    row group), so a few-MB single-row-group table scans as 1-2 tasks —
    the right call for byte-bound scans, but a ~30x parallelism loss for
    flop-bound projections: the sf1 lake's one-row-group embeddings file
    ran the whole n·k·d k-means assign on one core (measured 44 s; ~3 s
    spread).  Repartitions only UP (round-robin, deterministic row-wise
    results; all downstream aggregates here are order-independent
    DECIMAL sums) and never touches a frame that already has enough
    splits — at production scale a table has thousands of row groups, so
    this is a structural no-op there and the points still never shuffle
    more than once.  Delegates to :func:`..catalog.fan_out` (the same
    guard, first measured on byte-light/compute-heavy dim scans) so the
    two cannot drift.
    """
    from ..catalog import fan_out

    return fan_out(df)


def embedding_quality_census(emb: DataFrame, by: str = "label") -> DataFrame:
    """Admission census for an embedding corpus — the gate a production
    pipeline runs BEFORE spending a cluster-day on dedup/ANN indexing.

    Per ``by`` group: n_vecs, n_admitted (:func:`_finite_norm` — the same
    test every similarity operator here applies per side), n_zero_norm
    (norm exactly 0: empty docs / padding rows), n_nonfinite (NaN or Inf
    components, or a NULL embedding), and the min/max admitted norm
    (ROUND 6).  Shape: one map pass over the corpus + one hash
    aggregation on the group key; the readout is |groups| rows —
    broadcast-sized at any corpus scale.
    """
    nrm = F.expr(f"SQRT({SQNORM.format(v='embedding')})")
    base = emb.select(F.col(by), nrm.alias("nrm"))
    adm = _finite_norm(F.col("nrm"))
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    return base.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(adm, one).otherwise(zero)).alias("n_admitted"),
        F.sum(F.when(F.col("nrm") == 0, one).otherwise(zero)).alias(
            "n_zero_norm"
        ),
        F.sum(F.when(~is_finite(F.col("nrm")), one).otherwise(zero)).alias(
            "n_nonfinite"
        ),
        F.round(F.min(F.when(adm, F.col("nrm"))), 6).alias("min_norm"),
        F.round(F.max(F.when(adm, F.col("nrm"))), 6).alias("max_norm"),
    )


def _scored(queries: DataFrame, corpus: DataFrame, join_cond) -> DataFrame:
    # Norms are hoisted into the per-vector projections so each vector's
    # ||v|| fold runs once per row, not once per scored pair (same float
    # ops per vector → bit-identical cosine vs the unhoisted form).
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("q_nrm"),
    ).filter(_finite_norm(F.col("q_nrm")))
    e = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e_emb"),
        F.col("label").alias("e_label"),
        F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("e_nrm"),
    ).filter(_finite_norm(F.col("e_nrm")))
    # try_divide: ANSI mode makes a bare / THROW on a zero-norm vector
    # (one empty doc kills the whole scan); NULL is filtered by is_finite
    cos = F.try_divide(
        F.expr(DOT.format(a="q_emb", b="e_emb")),
        F.col("q_nrm") * F.col("e_nrm"),
    )
    return (
        F.broadcast(q)
        .join(e, join_cond(q, e))
        .select("query_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact brute-force cosine top-k (query side broadcast)."""
    scored = _scored(
        queries,
        corpus,
        lambda q, e: F.col("query_id") != F.col("neighbor_id"),
    )
    return _topk(scored, k)


def cosine_topk_blocked(
    queries: DataFrame, corpus: DataFrame, k: int = 3
) -> DataFrame:
    """Coarse-blocked (IVF-style) cosine top-k: score same-block pairs only."""
    scored = _scored(
        queries,
        corpus,
        lambda q, e: (F.col("q_label") == F.col("e_label"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    return _topk(scored, k)


def ivf_assign(
    corpus: DataFrame, n_clusters: int = 16, n_iter: int = 1
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: assign every corpus vector to a centroid.

    Fully distributed k-means-ish training, no driver-side collect:
      * seeds = the ``n_clusters`` corpus vectors with the smallest
        ``xxhash64(vec_id)`` (deterministic pseudo-random sample; a global
        top-k, not a sort);
      * ``n_iter`` Lloyd steps: nearest-centroid assignment via a broadcast
        cross join + ``min_by`` argmin, then per-dimension means rebuilt
        into centroid arrays with posexplode → groupBy → sorted collect.

    The centroid table stays O(n_clusters × dim) — always broadcastable —
    so the corpus is never shuffled during training; only the tiny
    per-dimension partial sums move.  The centroids (once per Lloyd step,
    on operators/iterate.py, which releases the superseded tables) and
    the final assignment are checkpointed: without that, every downstream
    reference (probe cross-join, candidate scoring) re-executes the whole
    Lloyd lineage — measured as 20 parquet scans of the corpus in one
    plan.

    Returns ``(assigned_corpus, centroids)``: the corpus with a ``cid``
    cluster-id column, and the (cid, c_emb) centroid table.
    """
    # admission gate first: a zero-norm/NaN seed would poison its
    # centroid (NaN mean) and every cosine scored against it — the same
    # _finite_norm contract as the rest of the family, applied before
    # BOTH seeding and assignment.  The norm is hoisted so the fold runs
    # once per row and is REUSED as prepared's q_norm below.
    corpus = corpus.withColumn(
        "_nrm", F.expr(f"SQRT({SQNORM.format(v='embedding')})")
    ).filter(_finite_norm(F.col("_nrm")))
    seeds = (
        corpus.orderBy(F.xxhash64("vec_id"))
        .limit(n_clusters)
        .select(
            F.xxhash64("vec_id").alias("seed_order"),
            F.col("embedding").alias("c_emb"),
        )
    )
    # Unpartitioned window is safe here: it only ever sees the n_clusters
    # seed rows (post-limit), never the corpus.
    w = W.orderBy("seed_order")
    centroids = seeds.select(
        (F.row_number().over(w) - 1).alias("cid"),
        F.expr("transform(c_emb, x -> CAST(x AS DOUBLE))").alias("c_emb"),
    )

    def nearest(df: DataFrame, centroids: DataFrame) -> DataFrame:
        dot = F.expr(DOT.format(a="emb_d", b="c_emb"))
        cnorm = F.expr(f"SQRT({SQNORM.format(v='c_emb')})")
        cos = F.try_divide(dot, F.col("q_norm") * cnorm)
        return (
            df.crossJoin(F.broadcast(centroids))
            .groupBy("vec_id")
            .agg(F.min_by("cid", F.struct(-cos, F.col("cid"))).alias("cid"))
        )

    prepared = corpus.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb_d"),
        F.col("_nrm").alias("q_norm"),
    )

    def lloyd(centroids: DataFrame) -> DataFrame:
        return (
            prepared.join(nearest(prepared, centroids), "vec_id")
            .select("cid", F.posexplode("emb_d").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))),"
                    " s -> s.m)"
                ).alias("c_emb")
            )
        )

    centroids, _ = iterate(checkpoint(centroids), lloyd, n_iter)
    final = checkpoint(nearest(prepared, centroids))
    return corpus.drop("_nrm").join(final, "vec_id"), centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate cosine top-k: probe the ``n_probe`` nearest centroid
    cells per query and brute-force only inside them.

    Scale shape: scored pairs drop from |Q|·|corpus| to
    |Q|·(n_probe/n_clusters)·|corpus| on average; the corpus shuffles once
    on ``cid`` and the centroid table is always broadcast.  With
    ``n_probe == n_clusters`` the search is exhaustive and exactly equals
    :func:`cosine_topk` (pinned by tests/test_similarity_ivf.py).
    """
    indexed, centroids = ivf_assign(corpus, n_clusters=n_clusters)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb_d"),
        F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("q_norm"),
    )
    cos_c = F.try_divide(
        F.expr(DOT.format(a="emb_d", b="c_emb")),
        F.col("q_norm") * F.expr(f"SQRT({SQNORM.format(v='c_emb')})"),
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select("query_id", "cid", cos_c.alias("c_cos"))
        .withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= n_probe)
        .select("query_id", "cid")
    )
    q_probed = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("q_nrm2"),
        )
        .filter(_finite_norm(F.col("q_nrm2")))
        .join(probes, "query_id")
    )
    e = indexed.select(
        "cid",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e_emb"),
        F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("e_nrm"),
    ).filter(_finite_norm(F.col("e_nrm")))
    cos = F.try_divide(
        F.expr(DOT.format(a="q_emb", b="e_emb")),
        F.col("q_nrm2") * F.col("e_nrm"),
    )
    scored = (
        q_probed.join(e, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
    )
    return _topk(scored, k)


def lsh_bucket_spark(nbits: int, emb: str = "embedding") -> str:
    """Spark SQL expression packing ``nbits`` random-hyperplane sign bits
    into a BIGINT cell id.  Hyperplane weights are integer prime-mixed
    (``(h*7919 + d*104729) % 2003 - 1001``) — no RNG, no training — and the
    dot product folds sequentially, so any engine rebuilds the exact same
    cells (see :func:`lsh_bucket_duck`)."""
    return (
        f"aggregate(transform(sequence(1, {nbits}), h -> CASE WHEN "
        f"aggregate(zip_with(CAST({emb} AS ARRAY<DOUBLE>), "
        f"transform(sequence(1, size({emb})), "
        "d -> CAST(pmod(h * 7919 + d * 104729, 2003) - 1001 AS DOUBLE)), "
        "(a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) > 0 "
        "THEN shiftleft(CAST(1 AS BIGINT), h - 1) ELSE CAST(0 AS BIGINT) "
        "END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def lsh_bucket_duck(nbits: int, emb: str = "embedding") -> str:
    """DuckDB twin of :func:`lsh_bucket_spark` (list_reduce is the same
    left-to-right fold as Spark's aggregate, so the doubles are
    bit-identical)."""
    return (
        f"list_reduce(list_transform(generate_series(1, {nbits}), h -> "
        "CASE WHEN list_reduce(list_transform("
        f"generate_series(1, len({emb})), "
        f"d -> CAST({emb}[d] AS DOUBLE) "
        "* CAST(((h * 7919 + d * 104729) % 2003) - 1001 AS DOUBLE)), "
        "(p, q) -> p + q) > 0 THEN CAST(pow(2, h - 1) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END), (p, q) -> p + q)"
    )


def ivf_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nbits: int = 6,
    n_probe: int = 3,
) -> DataFrame:
    """IVF approximate cosine top-k with a TRAINING-FREE coarse quantizer:
    the portable hyperplane-LSH cells of :func:`lsh_bucket_spark` replace
    learned k-means centroids, and probing ranks cells by Hamming distance
    between the query's own signature and each occupied cell id
    (tie-broken by cell id).

    Why this variant exists alongside :func:`ivf_topk` (k-means):
      * deterministic and engine-reproducible — the DuckDB oracle rebuilds
        the identical cells, so the query is full-value-checkable, not
        rows-only;
      * no training pass — composes with streaming ingest, and the cell of
        a vector never drifts when the corpus grows.

    Scale shape: corpus scanned once to bucket (map-only expression), the
    occupied-cell list is ≤ 2^nbits rows (always broadcast), probes are
    |Q|·n_probe rows (broadcast), and scoring touches only probed cells —
    |Q|·(n_probe/2^nbits)·|corpus| pairs on average, one shuffle on cell.
    """
    bucket = F.expr(lsh_bucket_spark(nbits))
    e = corpus.select(
        bucket.alias("cell"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e_emb"),
        F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("e_nrm"),
    ).filter(_finite_norm(F.col("e_nrm")))
    cells = e.select("cell").distinct()
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        bucket.alias("q_cell"),
        F.col("embedding").alias("q_emb"),
        F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("q_nrm"),
    ).filter(_finite_norm(F.col("q_nrm")))
    wq = W.partitionBy("query_id").orderBy(
        F.expr("bit_count(q_cell ^ cell)"), F.col("cell")
    )
    probes = (
        q.crossJoin(F.broadcast(cells))
        .withColumn("crk", F.row_number().over(wq))
        .filter(F.col("crk") <= n_probe)
        .select("query_id", "q_emb", "q_nrm", "cell")
    )
    cos = F.try_divide(
        F.expr(DOT.format(a="q_emb", b="e_emb")),
        F.col("q_nrm") * F.col("e_nrm"),
    )
    scored = (
        F.broadcast(probes)
        .join(e, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
    )
    return _topk(scored, k)


def embedding_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.98,
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    Pairs are generated only within a coarse block (label here; a quantizer
    cell at scale), so the self-join shuffles on the block key and the pair
    count is Σ|block|² instead of n² — the same bounded-shuffle shape as the
    MinHash band join.
    """
    # Per-vector norm hoist (see _scored): one fold per row, not per pair.
    a = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("nrm_a"),
    ).filter(_finite_norm(F.col("nrm_a")))
    b = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.expr(f"SQRT({SQNORM.format(v='embedding')})").alias("nrm_b"),
    ).filter(_finite_norm(F.col("nrm_b")))
    cos = F.try_divide(
        F.expr(DOT.format(a="emb_a", b="emb_b")),
        F.col("nrm_a") * F.col("nrm_b"),
    )
    # Threshold on the RAW cosine; round only in the projection — matching
    # the oracle exactly (filtering on the rounded value admits pairs in
    # [threshold - 5e-7, threshold) that the oracle rejects).
    return (
        a.join(b, ["blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_raw_cos", cos)
        .filter(F.col("_raw_cos") >= threshold)
        .select("id_a", "id_b", F.round(F.col("_raw_cos"), 6).alias("cosine"))
    )


#: deterministic 32-bit sub-block hash for the within-cell cap: any cell
#: larger than the cap is split into ceil(|cell|/cap) hash sub-blocks, so
#: pair work per cell is <= |cell| * cap — linear no matter how the
#: corpus's directional clusters pile into one LSH cell.  ``_n`` is the
#: cell's row count (exact census, broadcast back; 2**nbits rows).
_SD_SUB_SPARK = (
    "CAST(CONV(SUBSTRING(MD5(CONCAT('sdb:', CAST(vec_id AS STRING))), 1, 8),"
    " 16, 10) AS BIGINT)"
    " % CAST(CEIL(CAST(_n AS DOUBLE) / {cap}) AS BIGINT)"
)
_SD_SUB_DUCK = (
    "CAST(('0x' || SUBSTRING(MD5('sdb:' || CAST(vec_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
    " % CAST(CEIL(CAST(_n AS DOUBLE) / {cap}) AS BIGINT)"
)


def semdedup_dropped(
    emb: DataFrame, nbits: int, eps: float, cell_cap: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Cluster-then-prune semantic dedup (the SemDeDup recipe): a
    training-free hyperplane-LSH cell (:func:`lsh_bucket_spark`) plays the
    cluster, and within each cell every vector whose cosine to a
    SMALLER-id cell-mate reaches ``eps`` is dropped — the deterministic
    keep-first stand-in for the paper's keep-farthest-from-centroid rule.

    ``cell_cap`` bounds the within-cell pair work.  Hyperplane cells TRACK
    the corpus's directional clusters (co-directional vectors share every
    sign bit, so no number of planes splits a tight cluster — measured
    Σ|cell|² grew 101× for 10× vectors on the sf1 lake); the cap splits
    any cell over ``cell_cap`` vectors into ceil(|cell|/cap) deterministic
    md5 sub-blocks (``_SD_SUB_SPARK``), bounding pair work at n·cap.  The
    sub-block count derives from an exact per-cell census (2**nbits rows,
    broadcast back), so — like the posting-list stop-shingle cap in
    operators/dedup.py and kmeans_cells' k ∝ n — the split scales with
    the data in BOTH engine texts and stays oracle-replayable.  The cap
    trades recall for the bound (a near-dup pair split across sub-blocks
    is missed — roughly a 1/ceil(|cell|/cap) pair sample in oversized
    cells); for cluster-shaped corpora at scale prefer
    :func:`kmeans_cells`, which splits dense regions instead of sampling
    them.

    ``emb`` needs (vec_id, embedding).  Returns ``(sig, dropped)``:
    ``sig`` = (vec_id, cell[, sub], v, nrm), lazily persisted (it feeds
    both sides of the pair join plus any census the caller builds, and
    Catalyst does not dedupe common subtrees); ``dropped`` = (cell,
    vec_id), one row per pruned vector.  Pair work is Σ|block|² via the
    block-keyed self-join — never the n² cross product — and the cosine
    is a sequential fold, bit-identical on any engine or partitioning.
    """
    base = emb.selectExpr(
        "vec_id",
        f"{lsh_bucket_spark(nbits)} AS cell",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
    ).withColumn("nrm", F.expr(f"SQRT({SQNORM.format(v='v')})"))
    if cell_cap is None:
        sig = base.persist()
        return sig, _semdedup_prune(sig, eps)
    # exact per-cell census (2**nbits rows): Catalyst prunes v/nrm off this
    # branch, so the CENSUS side costs a cell-only scan.  `base` itself is
    # deliberately NOT persisted, so materializing `sig` recomputes the
    # embedding scan twice (census branch + join side) — both rescans are
    # narrow map passes (hash-bucket expr, double-cast; no shuffle) and
    # caching an embedding-wide corpus frame to save them would break the
    # repo's own never-persist-data-sized rule.  The RETURNED frame is the
    # one persisted so callers' unpersist() releases the cache.
    census = base.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    sig = (
        base.join(F.broadcast(census), "cell")
        .withColumn("sub", F.expr(_SD_SUB_SPARK.format(cap=cell_cap)))
        .drop("_n")
        .persist()
    )
    return sig, _semdedup_prune(sig, eps, keys=("cell", "sub"))


def _semdedup_prune(
    sig: DataFrame, eps: float, keys: tuple[str, ...] = ("cell",)
) -> DataFrame:
    """Within-block keep-first prune over a (vec_id, *keys, v, nrm) frame:
    (cell, vec_id) rows for every vector whose cosine to a smaller-id
    block-mate reaches ``eps``.  Pair work is Σ|block|² via the block-keyed
    self-join; how well that is bounded is the CELL BUILDER's problem —
    see :func:`semdedup_dropped` (hyperplane LSH, training-free; its
    ``cell_cap`` sub-blocks oversized cells, without it cells track the
    corpus's directional clusters and go quadratic on clustered data) vs
    :func:`kmeans_cells` (k ∝ corpus keeps cell sizes bounded;
    tests/test_scale_growth_sf1.py pins all three behaviors).
    """
    keyc = list(keys)
    a = sig.select(
        *keyc,
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    ).filter(_finite_norm(F.col("na")))
    b = sig.select(
        *keyc,
        "vec_id",
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    ).filter(_finite_norm(F.col("nb")))
    cos = F.try_divide(
        F.expr(DOT.format(a="va", b="vb")), F.col("na") * F.col("nb")
    )
    return (
        a.join(b, keyc)
        .filter(F.col("ia") < F.col("vec_id"))
        .filter(cos >= F.expr(f"CAST({eps} AS DOUBLE)"))
        .select("cell", "vec_id")
        .distinct()
    )


#: squared-L2 fold for k-means assignment — sequential left-to-right like
#: DOT/SQNORM, so DuckDB's init-less list_reduce replays it bit-for-bit.
#: squared-L2 sequential fold over zip_with, left-to-right from 0.0 —
#: the ONE source of the k-means distance text (both assign()
#: implementations and the DuckDB oracles must stay bit-identical to it).
#: ``{c}`` is the centroid array expression (e.g. ``s.c`` inside a
#: transform lambda).
KM_DIST_FOLD = (
    "aggregate(zip_with(v, {c}, (x, y) -> (x - y) * (x - y)),"
    " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
)
#: per-dimension centroid mean: DECIMAL-exact sum (order-independent under
#: hash aggregation) and ONE deterministic double division.
KM_MEAN = "CAST(SUM(CAST((x) AS DECIMAL(30,12))) AS DOUBLE) / COUNT(x)"


def kmeans_cells(emb: DataFrame, k: int, updates: int = 1) -> DataFrame:
    """(vec_id, cell, v, nrm) quantizer-cell assignments from a
    deterministic distributed k-means — the SemDeDup paper's actual cell
    builder (k-means with k ∝ corpus), for data whose directional clusters
    defeat hyperplane LSH: co-directional vectors share every sign bit, so
    no number of hyperplanes splits a tight cluster and Σ|cell|² goes
    quadratic (measured 101× for 10× vectors on the sf1 lake, fixed 16
    cells).  k-means seeds land INSIDE dense regions, so growing k with
    the corpus keeps max |cell| bounded (measured: work 4.0×/10.0× for
    4×/10× vectors at k = n/250, max cell ~300 flat).

    Scale note: with k ∝ n the ASSIGN stage's per-point work (k·d) is
    the residual superlinear term (n·k·d total — the SemDeDup paper pays
    the same in GPU brute force).  It is map-only here (no row
    multiplication, no shuffle; see assign()), and at sf1 the measured
    wall is dominated by the LINEAR Σ|cell|² prune, not assign; past
    ~10⁶ vectors the honest fix is ANN-assisted assignment (probe the
    IVF structure for candidate centroids), which changes the assignment
    and therefore the oracle — out of scope until a scale point demands
    it.

    Determinism (the whole pipeline is oracle-replayable):
      * seeds = the k smallest (md5('km:' || vec_id), vec_id) — a uniform
        deterministic sample, spread over the corpus no matter how ids
        cluster, computed as one TakeOrderedAndProject;
      * assignment = argmin over a BROADCAST centroid table with (dist,
        cid) tie-break — map-only, points never shuffle (the canonical
        k-means schedule, same as q_kmeans_lloyd);
      * each Lloyd update recomputes centroids as DECIMAL-exact per-dim
        means (KM_MEAN), so centroid doubles are partitioning-independent.

    Returns the same lazily-persisted sig shape :func:`semdedup_dropped`
    produces, ready for :func:`_semdedup_prune`.
    """
    pts = spread_for_compute(
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        )
        # admission gate (hoisted norm, ONE fold per row): a NaN/Inf
        # component would otherwise poison KM_MEAN asymmetrically across
        # engines (Spark ANSI CAST(NaN AS DECIMAL) -> NULL silently
        # drops the point's contribution; DuckDB throws) — the oracles
        # gate their pts CTE identically
        .withColumn("_nrm", F.expr(f"SQRT({SQNORM.format(v='v')})"))
        .filter(_finite_norm(F.col("_nrm")))
        .drop("_nrm")
    ).persist()  # scanned once per Lloyd pass + seeding; spills at worst
    seeds = (
        pts.withColumn(
            "_h", F.md5(F.concat(F.lit("km:"), F.col("vec_id").cast("string")))
        )
        .orderBy("_h", "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("c"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        # Centroids collapse to ONE broadcast row holding the full
        # centroid array; the per-point argmin is a map-only
        # transform + array_min whose struct ordering IS the (dist, cid)
        # tie-break — same winner as the previous row_number formulation,
        # bit-for-bit (dist is the identical sequential fold, so the
        # oracle is unchanged).  The previous shape materialized the
        # n·k crossJoin and shuffled it through a vec_id window — with
        # k ∝ n that shuffle is the hidden QUADRATIC the first
        # honest-cold sf1 replay caught (each scored row drags the
        # 64-double v array; at sf1 n=20k, k=80 that is 1.6M wide rows
        # per assign): q_semdedup_kmeans 24.2 s -> 3.1 s cold at sf1,
        # isolated min-of-3.  Per-point work is still k·d inside
        # whole-stage codegen, but rows are never multiplied and never
        # leave their input partition.
        carr = cents.agg(F.expr("collect_list(struct(cid, c))").alias("cs"))
        dist_s = KM_DIST_FOLD.format(c="s.c")
        return (
            pts.crossJoin(F.broadcast(carr))
            .withColumn(
                "_best",
                F.expr(
                    f"array_min(transform(cs,"
                    f" s -> struct({dist_s} AS dist, s.cid AS cid)))"
                ),
            )
            # empty centroid set -> empty cs array -> NULL best; dropping
            # preserves the previous zero-centroid-rows behavior (empty)
            .filter(F.col("_best").isNotNull())
            .select("vec_id", "v", F.col("_best.cid").alias("cid"))
        )

    cents = seeds
    for _ in range(updates):
        a = assign(cents)
        dims = a.select(
            "cid", F.posexplode("v").alias("pos0", "x")
        ).select("cid", (F.col("pos0") + 1).alias("pos"), "x")
        cm = dims.groupBy("cid", "pos").agg(F.expr(KM_MEAN).alias("m"))
        cents = cm.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
            ).alias("c")
        )
    sig = (
        assign(cents)
        .select(
            "vec_id",
            F.col("cid").alias("cell"),
            "v",
            F.expr(f"SQRT({SQNORM.format(v='v')})").alias("nrm"),
        )
        .persist()
    )
    # pts stays lazily persisted so the seeding/update/assign subtrees share
    # one materialization inside the caller's first action; the reference
    # dies with this frame and the ContextCleaner reclaims the blocks (the
    # same convention as q_kmeans_lloyd's point cache).
    return sig


def graph_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_hubs: int = 16,
    m: int = 4,
    beam: int = 8,
    hops: int = 3,
    k: int = 5,
) -> DataFrame:
    """HNSW-style graph ANN: fixed-hop beam search over a deterministic
    two-layer navigable neighbor graph.  Columns: (query_id, neighbor_id,
    cosine ROUNDed 6, rk).

    The graph mirrors HNSW's structure with Spark-friendly determinism:

      * upper layer = ``n_hubs`` HUB nodes, the hash-uniform sample with the
        smallest (md5('hub:'||vec_id), vec_id) — like HNSW's sparse top
        layers they give every search a short route into the right region;
      * layer 0 = each vector's top-``m`` cosine neighbors WITHIN its
        nearest-hub cell (symmetrized) — pair work is Σ|cell|² on
        bounded cells (hubs ∝ corpus), never n²;
      * search = exact scoring of the tiny hub layer picks 2 entry nodes,
        then ``hops`` beam steps, each one checkpointed round on
        operators/iterate.py: expand the beam along layer-0
        edges (vertex-keyed join), score candidates against the BROADCAST
        query vectors, keep the top-``beam`` by (cosine DESC, vec_id).

    Scale shape: hub scoring is a map-only broadcast pass; graph build
    shuffles on the cell key; each beam step shuffles O(|queries|·beam·m)
    rows — the corpus is never globally joined.  Everything ranks on raw
    sequential-fold cosines with id tie-breaks, so the DuckDB oracle
    replays the whole pipeline bit-for-bit (q_graph_ann).
    """
    base = (
        spread_for_compute(
            emb.select(
                "vec_id",
                F.expr(
                    "transform(embedding, x -> CAST(x AS DOUBLE))"
                ).alias("v"),
            )
        )
        .withColumn("nrm", F.expr(f"SQRT({SQNORM.format(v='v')})"))
        .filter(_finite_norm(F.col("nrm")))  # garbage vectors can be
        # neither hubs nor neighbors — undefined cosine never ranks
    )
    hubs = (
        base.withColumn(
            "_h", F.md5(F.concat(F.lit("hub:"), F.col("vec_id").cast("string")))
        )
        .orderBy("_h", "vec_id")
        .limit(n_hubs)
        .select(
            F.col("vec_id").alias("hub_id"),
            F.col("v").alias("hv"),
            F.col("nrm").alias("hnrm"),
        )
    )

    # nearest-hub cell assignment: the hub table collapses to ONE
    # broadcast row holding the hub array; per-point argmax is a map-only
    # transform + array_min over struct(-cosine, hub_id) — negation is an
    # exact sign flip, so min(-cos) with the hub_id tie IS the previous
    # row_number(desc(_hc), asc(hub_id)) winner bit-for-bit, without
    # multiplying the point stream x n_hubs and shuffling it through a
    # vec_id window (n_hubs ∝ n makes that shuffle the quadratic term —
    # the kmeans_cells round-9 pattern).
    harr = hubs.agg(
        F.expr("collect_list(struct(hub_id, hv, hnrm))").alias("hs")
    )
    _hub_cos_s = (
        f"try_divide({DOT.format(a='v', b='s.hv')}, nrm * s.hnrm)"
    )
    cells = (
        base.crossJoin(F.broadcast(harr))
        .withColumn(
            "_best",
            F.expr(
                f"array_min(transform(hs, s -> struct("
                f"-({_hub_cos_s}) AS negc, s.hub_id AS hub_id)))"
            ),
        )
        .filter(F.col("_best").isNotNull())
        .select("vec_id", "v", "nrm", F.col("_best.hub_id").alias("cell"))
        .persist()  # feeds both sides of the edge join and every hop;
        # unpersisted once the hops are done
    )

    # layer-0 edges: top-m cosine neighbors within the cell, symmetrized.
    a = cells.select(
        "cell", F.col("vec_id").alias("src"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = cells.select(
        "cell", F.col("vec_id").alias("dst"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    e_cos = F.try_divide(
        F.expr(DOT.format(a="va", b="vb")), F.col("na") * F.col("nb")
    )
    w_edge = W.partitionBy("src").orderBy(F.desc("_ec"), F.asc("dst"))
    knn = (
        a.join(b, "cell")
        .filter(F.col("src") != F.col("dst"))
        .withColumn("_ec", e_cos)
        .withColumn("rn", F.row_number().over(w_edge))
        .filter(F.col("rn") <= m)
        .select("src", "dst")
    )
    # DESCENT edges (hub → every member of its cell) guarantee the beam
    # can enter a cell from its hub — without them the knn edges are
    # near-neighbor-local and a cell containing no entry hub is
    # unreachable (a planted-corpus pin caught exactly that).  This is
    # HNSW's upper-layer descent made explicit; a hub's fan-out is its
    # cell size (~n/n_hubs), so expanding an entry hub costs one
    # cell-bounded candidate set — the IVF-probe shape.
    descent = cells.select(
        F.col("cell").alias("src"), F.col("vec_id").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    edges = (
        undirected(knn, "src", "dst")
        .unionByName(descent)
        .distinct()
        .persist()  # O(n·(m+1)) rows referenced by every hop — without
        # the persist each hop re-runs the Σ|cell|² edge-build join
        # (measured 3x the whole query's cost at sf0.1); unpersisted
        # once the hops are done
    )

    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("qv"),
        )
        .withColumn("qnrm", F.expr(f"SQRT({SQNORM.format(v='qv')})"))
        .filter(_finite_norm(F.col("qnrm")))
    )

    # entry points: exact top-2 hubs per query (hub layer is tiny).
    q_cos = F.try_divide(
        F.expr(DOT.format(a="qv", b="hv")), F.col("qnrm") * F.col("hnrm")
    )
    w_entry = W.partitionBy("query_id").orderBy(F.desc("_qc"), F.asc("hub_id"))
    beam_df = (
        q.crossJoin(F.broadcast(hubs))
        .withColumn("_qc", q_cos)
        .withColumn("rn", F.row_number().over(w_entry))
        .filter(F.col("rn") <= 2)
        .select("query_id", F.col("hub_id").alias("vec_id"))
    )

    qb = F.broadcast(q)
    corpus = cells.select("vec_id", "v", "nrm")
    c_cos = F.try_divide(
        F.expr(DOT.format(a="qv", b="v")), F.col("qnrm") * F.col("nrm")
    )
    w_beam = W.partitionBy("query_id").orderBy(F.desc("_cc"), F.asc("vec_id"))

    def score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(corpus, "vec_id")
            .join(qb, "query_id")
            .withColumn("_cc", c_cos)
            .withColumn("rn", F.row_number().over(w_beam))
            .filter(F.col("rn") <= beam)
            .select("query_id", "vec_id", "_cc")
        )

    def hop(cur: DataFrame) -> DataFrame:
        # One exchange per hop instead of two: the candidate dedup used
        # to be a ``.distinct()`` — an exchange hashed on BOTH columns,
        # which cannot serve the query_id-keyed beam window, so every
        # hop paid a second exchange.  Repartitioning on query_id first
        # lets the dedup aggregate (ClusteredDistribution on a SUPERSET
        # of the partitioning key) AND the window reuse the same
        # exchange; the dedup itself is unchanged (exact duplicates of a
        # 2-column frame either way).
        b = cur.select("query_id", "vec_id")
        return score(
            b.unionByName(
                b.join(edges, b["vec_id"] == edges["src"], "inner").select(
                    "query_id", F.col("dst").alias("vec_id")
                )
            )
            .repartition("query_id")
            .dropDuplicates(["query_id", "vec_id"])
        )

    # each hop's scored beam is checkpointed (operators/iterate.py), so
    # hop h plans against a materialized beam, not h unrolled hops; with
    # hops=0 the entry-hub beam is scored directly
    if hops:
        beam_scored, _ = iterate(beam_df, hop, hops)
    else:
        beam_scored = score(beam_df)
    edges.unpersist()
    cells.unpersist()

    # Readout reuses the FINAL hop's scored beam instead of re-joining
    # corpus and queries to recompute the identical cosine (c_cos is a
    # pure function of (qv, v) — recomputing it on the same rows is
    # bit-for-bit the kept _cc, and at real scale the dropped corpus
    # join is a data-sized join, not just plan noise).  Self-filter
    # before re-ranking matches the oracle readout's WHERE-then-
    # ROW_NUMBER order exactly.
    return (
        beam_scored.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("rk", F.row_number().over(w_beam))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("_cc"), 6).alias("cosine"),
            "rk",
        )
    )
