"""Deduplication operators over the ``documents`` table (SURVEY.md §2B).

Exact dedup: portable fingerprint (md5 of normalized text) + hash groupBy —
one shuffle on the fingerprint, scales linearly.

Near dedup, two strategies:
  * ``q_dedup_ngram_jaccard`` — exact 3-gram-shingle Jaccard via a shingle
    self-join.  Fully oracle-checkable; the inverted-index join bounds work to
    pairs that share ≥1 shingle (not the full n² cross product).
  * ``q_dedup_minhash_lsh`` — MinHash + banded LSH (operators/dedup.py), the
    100 TB-scale path: candidate generation cost is O(docs × bands), not
    O(pairs).  The md5-portable hash family makes the whole pipeline
    oracle-replayable (value-checked, not rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import (
    connected_components_auto,
    minhash_lsh_candidates,
    shingle_jaccard_pairs,
)
from . import register

# Normalization both engines apply before fingerprinting: trim + collapse
# whitespace + lowercase.
_NORM_SPARK = "lower(regexp_replace(trim(text), '\\\\s+', ' '))"
_NORM_DUCK = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"


@register(
    "q_dedup_exact",
    oracle=f"""
    SELECT md5({_NORM_DUCK}) AS fingerprint,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup via md5-of-normalized-text fingerprint; keeper = min id. "
    "Reference analogue: provenance file-hash dedup (util.py:83-93).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.expr(f"md5({_NORM_SPARK})").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


#: stop-shingle cap applied in every registered exact-Jaccard path: a shingle
#: shared by more than this many documents carries ~no Jaccard signal but
#: dominates the inverted-index join fan-out (a shingle in 10^5 docs at 100 TB
#: would alone emit 10^10 candidate pairs).  Mirrored in the DuckDB oracles.
MAX_SHINGLE_FREQ = 100

#: shared oracle CTEs: shingling + the same stop-shingle cap + sizes/pairs —
#: sizes are computed AFTER the cap filter, exactly as the Spark operator does.
_CAPPED_SHINGLE_CTES = f"""
    words AS (
      SELECT doc_id, string_split_regex(trim({_NORM_DUCK}), ' ') AS ws
      FROM documents
    ),
    shingles_all AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]) AS shingle
      FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
    ),
    keep AS (
      SELECT shingle FROM shingles_all
      GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}
    ),
    shingles AS (
      SELECT s.doc_id, s.shingle FROM shingles_all s
      JOIN keep USING (shingle)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    rawpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_CAPPED_SHINGLE_CTES}
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM rawpairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """,
    doc="Near-dup pairs by exact 3-gram-shingle Jaccard >= 0.5 via inverted-"
    "index self-join (only docs sharing a shingle are compared); stop-"
    f"shingles (> {MAX_SHINGLE_FREQ} docs) dropped before the join so a hot "
    "shingle cannot explode the pair fan-out at scale.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return shingle_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_freq=MAX_SHINGLE_FREQ
    )


def _minhash_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    final: str | None = None,
    pair_pred: str = "x.doc_id < y.doc_id",
    common_pred: str = "a.doc_id < b.doc_id",
    col_a: str = "doc_a",
    col_b: str = "doc_b",
) -> str:
    """DuckDB twin of minhash_lsh_candidates(portable=True): the identical
    md5-derived permutation family and band keys, so the LSH candidate set —
    and therefore the verified pair set — matches Spark value-for-value.

    ``pair_pred``/``common_pred``/``col_a``/``col_b`` parameterize the pair
    SPACE so variants (the batch-vs-index split of q_dedup_incremental)
    share this single CTE stack — one source of truth for the signature
    family, band keys, and shingle normalization."""
    from ..operators.dedup import (
        MINHASH_BASE_DUCK,
        _minhash_perm_sql,
        minhash_constants,
    )

    rows_per_band = num_hashes // bands
    mins = ",\n             ".join(
        f"MIN({_minhash_perm_sql(a, b, c, d, 'mh')}) AS h{i}"
        for i, (a, b, c, d) in enumerate(minhash_constants(num_hashes))
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, MD5(concat_ws(',', {cols})) AS bkey"
        " FROM sig".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + k}" for k in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim({_NORM_DUCK}), ' ') AS ws
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]) AS shingle
      FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
    ),
    shingle_h AS (
      SELECT doc_id, {MINHASH_BASE_DUCK} AS mh FROM shingles
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM shingle_h GROUP BY doc_id
    ),
    buckets AS (
      {band_rows}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS {col_a}, y.doc_id AS {col_b}
      FROM buckets x JOIN buckets y
        ON x.band = y.band AND x.bkey = y.bkey AND {pair_pred}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS {col_a}, b.doc_id AS {col_b}, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND {common_pred}
      GROUP BY 1, 2
    )
    {final or _MINHASH_DEFAULT_FINAL}
    """


_MINHASH_DEFAULT_FINAL = """
    SELECT c.doc_a, c.doc_b,
           CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common c
    JOIN cand USING (doc_a, doc_b)
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
"""


@register(
    "q_dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="MinHash(16 perms) + 4-band LSH candidate pairs with exact-Jaccard "
    "verify; the candidate-generation shuffle is O(docs*bands). The md5-"
    "derived permutation family (operators/dedup.py minhash_signatures "
    "portable=True) is engine-reproducible, so the DuckDB oracle recomputes "
    "the identical pipeline end-to-end — full value check, not rows-only.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    )


def _incremental_oracle() -> str:
    """DuckDB twin of q_dedup_incremental: the SAME CTE stack as
    q_dedup_minhash_lsh's oracle (one source of truth for the signature
    family, band keys, and shingle normalization), restricted to the
    batch-vs-index pair space (new = doc_id % 10 == 0 probes old != 0)."""
    return _minhash_oracle(
        pair_pred="x.doc_id % 10 = 0 AND y.doc_id % 10 != 0",
        common_pred="a.doc_id % 10 = 0 AND b.doc_id % 10 != 0",
        col_a="new_doc",
        col_b="old_doc",
        final="""
    SELECT c.new_doc, c.old_doc,
           CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common c
    JOIN cand USING (new_doc, old_doc)
    JOIN sizes sa ON sa.doc_id = c.new_doc
    JOIN sizes sb ON sb.doc_id = c.old_doc
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """,
    )


@register(
    "q_dedup_incremental",
    oracle=_incremental_oracle(),
    doc="Incremental dedup against a STORED MinHash-LSH index — the 100 TB "
    "ingestion path: the existing corpus's band buckets are written once "
    "as a parquet index (modeled here by an in-query write + read-back "
    "of the 90% partition, doc_id % 10 != 0), and each arriving batch "
    "(the 10% partition) computes only ITS OWN signatures and probes the "
    "index with a bucket equi-join — per-batch cost is O(|batch| x "
    "bands) plus the candidate fetches, independent of corpus size, "
    "where re-running the full self-join dedup would re-shuffle the "
    "whole corpus per batch.  The exact-Jaccard verify then fetches "
    "shingles for only the candidate OLD docs (semi-join pushdown into "
    "the corpus scan).  Same md5-portable hash family as "
    "q_dedup_minhash_lsh, so the DuckDB oracle replays the identical "
    "pipeline; output is (new_doc, old_doc, jaccard >= 0.5) — which "
    "incoming docs duplicate the existing corpus.",
    bench=False,  # dominated by the eager index write; the signature and
    # band-join compute is already benched via q_dedup_minhash_lsh
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import scratch_dir
    from ..operators.dedup import minhash_band_buckets, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)

    # the stored index: band buckets of the existing corpus, written once
    # and read back — at scale this table persists across ingestion runs
    # and is the only corpus-sized artifact the batch path touches
    idx_dir = scratch_dir("mh_index", sf_dir)
    minhash_band_buckets(old, n=3, num_hashes=16, bands=4).write.parquet(
        idx_dir
    )
    idx = spark.read.parquet(idx_dir)

    nb = minhash_band_buckets(new, n=3, num_hashes=16, bands=4)
    cand = (
        nb.alias("x")
        .join(
            idx.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey")),
        )
        .select(
            F.col("x.doc_id").alias("new_doc"),
            F.col("y.doc_id").alias("old_doc"),
        )
        .distinct()
        .persist()  # candidate-pair-sized, consumed by the old-doc
        # shingle prune AND the final verify semi-join (multi-consumer
        # rule; the two consumers prune it differently)
    )
    sh_new = word_shingles(new, 3)
    # fetch shingles for candidate OLD docs only — the semi join prunes
    # the corpus-side explode to the handful of docs worth verifying
    sh_old = word_shingles(old, 3).join(
        cand.select(F.col("old_doc").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    ).persist()  # candidate-doc-sized, consumed by the per-doc size agg
    # AND the common-shingle join (multi-consumer rule)
    na = sh_new.groupBy(F.col("doc_id").alias("new_doc")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    nbs = sh_old.groupBy(F.col("doc_id").alias("old_doc")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    common = (
        sh_new.alias("a")
        .join(sh_old.alias("b"), F.col("a.shingle") == F.col("b.shingle"))
        .groupBy(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("old_doc"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        common.join(cand, ["new_doc", "old_doc"], "left_semi")
        .join(na, "new_doc")
        .join(nbs, "old_doc")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("new_doc", "old_doc", "jaccard")
    )


_PAIRS_CTES = f"""
    {_CAPPED_SHINGLE_CTES},
    pairs AS (
      SELECT doc_a, doc_b FROM rawpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    )
"""


@register(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a
    ),
    reach AS (
      SELECT a, b FROM walk
      UNION SELECT doc_id, doc_id FROM documents
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    """,
    doc="Near-dup cluster assignment: adaptive connected components over the "
    "exact-Jaccard pair graph (threshold 0.5) — min-label propagation for "
    "the common shallow-cluster case, auto-escalating to O(log n) large-"
    "star/small-star rounds on the label-contracted graph when propagation "
    "hasn't converged (operators/dedup.py connected_components_auto), so a "
    "whale component cannot stall the job at 100 TB.  Every document gets a "
    "cluster id = smallest doc_id in its component (singletons = self).  "
    "The DuckDB oracle derives the same labeling via recursive reachability.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_freq=MAX_SHINGLE_FREQ
    )
    return connected_components_auto(
        docs.select("doc_id"),
        pairs.select("doc_a", "doc_b"),
        id_col="doc_id",
        src="doc_a",
        dst="doc_b",
        # the near-dup graph is tiny relative to the corpus; iterate at
        # edge-set size, not the shingle pipeline's partition count
        working_partitions=4,
    ).withColumnRenamed("component", "cluster_id")


def _simhash_oracle() -> str:
    from ..operators.simhash import BITS, simhash_sql_duck

    sig = simhash_sql_duck(_NORM_DUCK)
    width = BITS // 4
    return f"""
    WITH sig AS (
      SELECT doc_id, {sig} AS simhash FROM documents
    ),
    buckets AS (
      SELECT doc_id, simhash, b.band,
             (simhash // POWER(2, b.band * {width})::BIGINT) % {1 << width} AS bkey
      FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.simhash AS sig_a, y.simhash AS sig_b
      FROM buckets x JOIN buckets y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """


@register(
    "q_dedup_simhash",
    oracle=_simhash_oracle(),
    doc="SimHash(32-bit, md5-token-hash) near-dup pairs at Hamming<=3 via "
    "4-band LSH candidates — by pigeonhole any pair within distance 3 "
    "shares an exact band, so recall is total; value-exact vs the oracle "
    "because the token hash is md5 in both engines.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.simhash import simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, max_hamming=3, bands=4)


_DOT_D = (
    "list_reduce(list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (p, q) -> p + q)"
)
_SQN_D = (
    "list_reduce(list_transform({v},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (p, q) -> p + q)"
)


@register(
    "q_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DOT_D.format(a='a.embedding', b='b.embedding')}
                 / (SQRT({_SQN_D.format(v='a.embedding')})
                    * SQRT({_SQN_D.format(v='b.embedding')})), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE isfinite({_DOT_D.format(a='a.embedding', b='b.embedding')}
          / (SQRT({_SQN_D.format(v='a.embedding')})
             * SQRT({_SQN_D.format(v='b.embedding')})))
      AND {_DOT_D.format(a='a.embedding', b='b.embedding')}
          / (SQRT({_SQN_D.format(v='a.embedding')})
             * SQRT({_SQN_D.format(v='b.embedding')})) >= 0.35
    """,
    doc="Embedding-cosine near-duplicate pairs (cosine >= 0.35) within "
    "coarse blocks (label = quantizer cell): pair generation shuffles on "
    "the block key, Σ|block|² pairs instead of n².  Threshold 0.35, not the "
    "production-typical 0.9: the synthetic embeddings are near-random 64-d "
    "vectors whose max within-label cosine is ~0.47, so 0.9 returned 0 rows "
    "at every SF and the oracle comparison was vacuous; 0.35 yields "
    "14/26/391 pairs at sf0.001/0.01/0.1.  Both engines threshold the RAW "
    "double cosine computed with the same left-to-right fold, so the "
    "boundary is deterministic.",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_pairs

    em = load_table(spark, sf_dir, "embeddings")
    return embedding_near_pairs(em, threshold=0.35)


@register(
    "q_dedup_cross_source",
    priority=1,
    oracle=f"""
    WITH {_CAPPED_SHINGLE_CTES}
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common) AS jaccard,
           da.source AS source_a, db.source AS source_b,
           CASE WHEN da.source < db.source THEN doc_a ELSE doc_b
                END AS keeper_id
    FROM rawpairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    JOIN documents da ON da.doc_id = doc_a
    JOIN documents db ON db.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
      AND da.source <> db.source
    """,
    doc="Provenance-aware near-dup: Jaccard >= 0.5 pairs whose documents "
    "come from DIFFERENT sources — the cross-crawl duplication scan run "
    "before merging dumps, with a deterministic keep decision (the doc "
    "from the lexicographically-smaller source wins).  Same capped "
    "inverted-index shape as q_dedup_ngram_jaccard plus two broadcast-"
    "size provenance joins on the (tiny) surviving pair set.",
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_freq=MAX_SHINGLE_FREQ
    )
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("source_a") != F.col("source_b"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "source_a",
            "source_b",
            F.when(F.col("source_a") < F.col("source_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("keeper_id"),
        )
    )


@register(
    "q_setsim_join",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim({_NORM_DUCK}), ' ') AS ws
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]) AS shingle
      FROM words, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    rawpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM rawpairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 5 * n_common >= 4 * (sa.n_sh + sb.n_sh - n_common)
    """,
    doc="Exact Jaccard >= 4/5 pairs via PREFIX FILTERING (SSJoin/PPJoin "
    "family, operators/dedup.py setsim_prefix_pairs): candidates only from "
    "each doc's rarest |s|-ceil(t|s|)+1 shingles in a global df-ascending "
    "order — total recall by the prefix lemma, integer-exact threshold "
    "arithmetic, and the candidate join never touches hot shingles (the "
    "rare-prefix posting lists are short by construction).  The oracle is "
    "the BRUTE-FORCE inverted-index join with the same integer threshold, "
    "so the driver check proves the filter loses no pairs.",
)
def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import setsim_prefix_pairs

    docs = load_table(spark, sf_dir, "documents")
    return setsim_prefix_pairs(docs, n=3, t_num=4, t_den=5)


#: passage granularity for block-level dedup (words per block)
_PASSAGE_WORDS = 10


@register(
    "q_dedup_passages",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim({_NORM_DUCK}), ' ') AS ws
      FROM documents
      WHERE length(trim({_NORM_DUCK})) > 0
    ),
    blocks AS (
      SELECT doc_id,
             md5(array_to_string(
               ws[b * {_PASSAGE_WORDS} + 1 : (b + 1) * {_PASSAGE_WORDS}],
               ' ')) AS fp,
             LEAST({_PASSAGE_WORDS},
                   len(ws) - b * {_PASSAGE_WORDS}) AS n_words
      FROM words,
           UNNEST(generate_series(
             0, (len(ws) + {_PASSAGE_WORDS} - 1) // {_PASSAGE_WORDS} - 1
           )) AS t(b)
    ),
    freq AS (SELECT fp, COUNT(*) AS n_occ FROM blocks GROUP BY fp)
    SELECT b.doc_id,
           COUNT(*) AS n_passages,
           COUNT(*) FILTER (f.n_occ > 1) AS n_dup_passages,
           CAST(SUM(CASE WHEN f.n_occ > 1 THEN b.n_words ELSE 0 END)
                      AS DOUBLE) / SUM(b.n_words) AS dup_word_frac
    FROM blocks b JOIN freq f USING (fp)
    GROUP BY b.doc_id
    """,
    doc="Passage-level exact dedup (C4/RefinedWeb-style repeated-span "
    f"removal at fixed {_PASSAGE_WORDS}-word blocks): every document is cut "
    "into consecutive word blocks, blocks are md5-fingerprinted, and a "
    "block whose fingerprint occurs more than once ANYWHERE in the corpus "
    "is flagged as duplicated boilerplate.  Output per doc: block count, "
    "duplicated-block count, and the fraction of the doc's words inside "
    "duplicated blocks — the removal mask a curation rewrite would apply.  "
    "One codegen block explode + one fingerprint-frequency shuffle (reused "
    "by the join back) + one doc-keyed agg; linear at any corpus size.",
)
def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import fan_out

    docs = load_table(spark, sf_dir, "documents")
    B = _PASSAGE_WORDS
    norm = f"trim({_NORM_SPARK})"
    blocks = (
        fan_out(docs)
        .select("doc_id", F.split(F.expr(norm), " ").alias("_w"))
        .filter(F.expr(f"length({norm}) > 0"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, (size(_w) + {B - 1}) div {B} - 1),"
                    f" b -> struct("
                    f"   md5(concat_ws(' ', slice(_w, b * {B} + 1, {B}))) AS fp,"
                    f"   least({B}, size(_w) - b * {B}) AS n_words))"
                )
            ).alias("_b"),
        )
        .select("doc_id", "_b.fp", "_b.n_words")
    )
    freq = blocks.groupBy("fp").agg(F.count(F.lit(1)).alias("n_occ"))
    dup_words = F.sum(
        F.when(F.col("n_occ") > 1, F.col("n_words")).otherwise(F.lit(0))
    )
    return (
        blocks.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.count_if(F.col("n_occ") > 1).alias("n_dup_passages"),
            # raw exact-integer quotient; ROUND is the cross-engine
            # half-boundary trap on small-denominator rationals
            (dup_words.cast("double") / F.sum("n_words")).alias(
                "dup_word_frac"
            ),
        )
    )


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH {_CAPPED_SHINGLE_CTES}
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / sa.n_sh AS cont_a_in_b,
           CAST(n_common AS DOUBLE) / sb.n_sh AS cont_b_in_a
    FROM rawpairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE 10 * n_common >= 9 * LEAST(sa.n_sh, sb.n_sh)
    """,
    doc="Directional CONTAINMENT scoring (|A∩B|/|A| and |A∩B|/|B|) for "
    "pairs where the smaller document's shingle set is >= 90% inside the "
    "larger — the partial-copy/quotation detector symmetric Jaccard "
    "misses: a paragraph pasted into a much longer page scores near-zero "
    "Jaccard but containment ~1.  Same capped inverted-index shape as "
    "q_dedup_ngram_jaccard (posting lists -> codegen pair explosion), "
    "integer threshold arithmetic (10·common >= 9·min) so the boundary "
    "is engine-exact.",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _pair_common_counts, _shingle_postings, word_shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, 3)
    postings = _shingle_postings(sh, MAX_SHINGLE_FREQ)
    sizes = (
        postings.select(F.explode("_ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pairs = _pair_common_counts(postings)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            10 * F.col("n_common") >= 9 * F.least("n_a", "n_b")
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common").cast("double") / F.col("n_a")).alias(
                "cont_a_in_b"
            ),
            (F.col("n_common").cast("double") / F.col("n_b")).alias(
                "cont_b_in_a"
            ),
        )
    )


_LSH_RECALL_FINAL = """
    , truth AS (
      SELECT c.doc_a, c.doc_b
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ),
    marked AS (
      SELECT t.doc_a, t.doc_b,
             CASE WHEN cand.doc_a IS NULL THEN 0 ELSE 1 END AS hit
      FROM truth t LEFT JOIN cand USING (doc_a, doc_b)
    )
    SELECT COUNT(*) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_found,
           COUNT(*) - CAST(SUM(hit) AS BIGINT) AS n_missed,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall
    FROM marked
"""


@register(
    "q_lsh_recall",
    oracle=_minhash_oracle(final=_LSH_RECALL_FINAL),
    bench=False,  # re-measures the two already-benched dedup pipelines
    doc="Index-quality evaluation: recall of the MinHash-LSH candidate set "
    "against exhaustive ground truth (every pair with exact 3-shingle "
    "Jaccard >= 0.5, from the uncapped inverted-index join — the same "
    "shingling the LSH path uses, so the comparison is apples-to-apples). "
    "This is the measurement every probabilistic dedup deployment owes "
    "its users: banding (16 perms / 4 bands) trades a bounded miss rate "
    "for never materializing the candidate square, and the miss rate "
    "should be MEASURED on a sample, not quoted from the S-curve.  At "
    "100 TB this exact query runs on a stratified sample as the "
    "index-health canary while production dedups with the LSH path only. "
    "Both pipelines and the join of their outputs run in both engines — "
    "the evaluation itself is value-checked.",
)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_candidates, shingle_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    truth = shingle_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_freq=None
    ).select("doc_a", "doc_b")
    lsh = minhash_lsh_candidates(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    ).select("doc_a", "doc_b", F.lit(1).alias("hit"))
    marked = truth.join(lsh, ["doc_a", "doc_b"], "left").select(
        F.coalesce("hit", F.lit(0)).alias("hit")
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum("hit").cast("bigint").alias("n_found"),
        (F.count(F.lit(1)) - F.sum("hit")).cast("bigint").alias("n_missed"),
        (F.sum("hit").cast("double") / F.count(F.lit(1))).alias("recall"),
    )


# -- q_semdedup --------------------------------------------------------------

SD_NBITS = 4  #: hyperplane-LSH sign bits -> up to 16 quantizer cells
SD_EPS = 0.35  #: within-cell cosine at/above which the larger id is dropped
#: hard within-cell pair-work cap: cells over this split into
#: ceil(|cell|/cap) deterministic md5 sub-blocks (the r7 sf1 measurement:
#: uncapped hyperplane cells grew pair work 101x for 10x vectors because
#: co-directional embeddings share every sign bit; the cap bounds work at
#: n*cap while staying oracle-replayable — see semdedup_dropped).
SD_CELL_CAP = 150

#: order-independent 32-bit digest of a dropped vec_id (bit_xor-folded per
#: cell), pinning the EXACT drop set — not just its size — cross-engine.
_SD_H32_SPARK = (
    "CAST(CONV(SUBSTRING(MD5(CONCAT('sd:', CAST(vec_id AS STRING))), 1, 8),"
    " 16, 10) AS BIGINT)"
)
_SD_H32_DUCK = (
    "CAST(('0x' || SUBSTRING(MD5('sd:' || CAST(vec_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
)


def _semdedup_oracle() -> str:
    from ..operators.similarity import _SD_SUB_DUCK, lsh_bucket_duck

    dot = (
        "list_reduce(list_transform(generate_series(1, len(a.v)),"
        " i -> a.v[i] * b.v[i]), (p, q) -> p + q)"
    )
    return f"""
    WITH sig AS (
      SELECT vec_id, {lsh_bucket_duck(SD_NBITS)} AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    census AS (
      SELECT cell, COUNT(*) AS _n FROM sig GROUP BY cell
    ),
    nrm AS (
      SELECT vec_id, cell,
             {_SD_SUB_DUCK.format(cap=SD_CELL_CAP)} AS sub, v,
             sqrt(list_reduce(list_transform(v, x -> x * x),
                              (p, q) -> p + q)) AS nrm
      FROM sig JOIN census USING (cell)
    ),
    dropped AS (
      SELECT DISTINCT b.cell, b.vec_id
      FROM nrm a JOIN nrm b
        ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE isfinite({dot} / (a.nrm * b.nrm))
        AND {dot} / (a.nrm * b.nrm) >= CAST({SD_EPS} AS DOUBLE)
    ),
    drops AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_dropped,
             bit_xor({_SD_H32_DUCK}) AS drop_checksum
      FROM dropped GROUP BY cell
    )
    SELECT s.cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           COALESCE(MAX(d.n_dropped), CAST(0 AS BIGINT)) AS n_dropped,
           CAST(COUNT(*) AS BIGINT)
             - COALESCE(MAX(d.n_dropped), CAST(0 AS BIGINT)) AS n_kept,
           COALESCE(MAX(d.drop_checksum), CAST(0 AS BIGINT)) AS drop_checksum
    FROM sig s LEFT JOIN drops d ON s.cell = d.cell
    GROUP BY s.cell
    ORDER BY s.cell
    """


@register(
    "q_semdedup",
    oracle=_semdedup_oracle(),
    doc="Semantic dedup, cluster-then-prune (the SemDeDup recipe, Abbas et "
    "al. 2023): a training-free hyperplane-LSH quantizer cell plays the "
    "k-means cluster, and within each cell every vector whose cosine to a "
    "SMALLER-id cell-mate reaches eps is dropped (deterministic keep-first "
    "stand-in for the paper's keep-farthest-from-centroid rule).  Scale "
    "shape: one codegen scan computes the cell signature; any cell over "
    "SD_CELL_CAP vectors is split into ceil(|cell|/cap) deterministic md5 "
    "sub-blocks (hyperplane cells track directional clusters — the sf1 "
    "lake measured uncapped pair work 101x for 10x vectors — so the cap "
    "bounds the self-join at n*cap comparisons, the posting-list "
    "stop-shingle trick applied to cells); the self-join shuffles on the "
    "(cell, sub) key so pair work is sum(|block|^2) — never the n^2 cross "
    "product — and the readout is a cell-keyed aggregate whose bit_xor "
    "digest pins the exact drop set.  Cosines are sequential folds "
    "(aggregate <-> list_reduce), bit-identical cross-engine; the whole "
    "pipeline is value-checked including WHICH vectors drop.  For "
    "cluster-shaped corpora prefer q_semdedup_kmeans, which splits dense "
    "regions instead of pair-sampling them.",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semdedup_dropped

    emb = load_table(spark, sf_dir, "embeddings")
    sig, dropped = semdedup_dropped(
        emb, nbits=SD_NBITS, eps=SD_EPS, cell_cap=SD_CELL_CAP
    )
    return _semdedup_readout(sig, dropped)


def _semdedup_readout(sig: DataFrame, dropped: DataFrame) -> DataFrame:
    """Per-cell census + drop digest — shared by q_semdedup (hyperplane-LSH
    cells) and q_semdedup_kmeans (k-means cells): (cell, n_vecs, n_dropped,
    n_kept, drop_checksum)."""
    drops = dropped.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_dropped"),
        F.expr(f"bit_xor({_SD_H32_SPARK})").alias("drop_checksum"),
    )
    return (
        sig.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(drops, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias(
                "n_dropped"
            ),
            (
                F.col("n_vecs")
                - F.coalesce("n_dropped", F.lit(0)).cast("bigint")
            ).alias("n_kept"),
            F.coalesce("drop_checksum", F.lit(0)).cast("bigint").alias(
                "drop_checksum"
            ),
        )
        .orderBy("cell")
    )


# -- q_semdedup_kmeans ---------------------------------------------------------

SDK_CELL_TARGET = 250  #: target vectors per k-means cell: k = max(2, n/250).
#: k TRACKS THE CORPUS in both engine texts — a fixed k is exactly the
#: hidden quadratic the sf1 replay caught (k=8 at 20k vectors measured
#: 37x time for 10x rows; adaptive k, like the test's k ∝ n sweep, keeps
#: max |cell| ~flat and pair work linear).  The SemDeDup paper does the
#: same (k grows with the corpus; 110k clusters for LAION).
SDK_UPDATES = 1  #: Lloyd refinement passes after seeding
SDK_DIM = 64  #: embedding dimensionality (fixed across the corpus; the
#: dims CTE needs a CONSTANT series — DuckDB's generate_series table
#: function cannot take a lateral column parameter)


def _semdedup_kmeans_oracle() -> str:
    dist = (
        "list_reduce(list_transform(generate_series(1, len(p.v)),"
        " i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])), (acc, t) -> acc + t)"
    )
    dot = (
        "list_reduce(list_transform(generate_series(1, len(a.v)),"
        " i -> a.v[i] * b.v[i]), (p, q) -> p + q)"
    )
    mean = "CAST(SUM(CAST((x) AS DECIMAL(30,12))) AS DOUBLE) / COUNT(x)"
    return f"""
    WITH pts AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (p, q) -> p + q)) AS nrm
        FROM embeddings
      ) WHERE isfinite(nrm) AND nrm > 0
    ),
    seeds AS (
      SELECT vec_id AS cid, v AS c FROM (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (
                 ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id
               ) AS srn
        FROM pts
      ) WHERE srn <= GREATEST(2, (SELECT COUNT(*) // {SDK_CELL_TARGET}
                                  FROM pts))
    ),
    s1 AS (
      SELECT p.vec_id, p.v, c.cid, {dist} AS dist
      FROM pts p CROSS JOIN seeds c
    ),
    a1 AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM s1
      ) WHERE rn = 1
    ),
    dims AS (
      SELECT cid, i AS pos, v[i] AS x
      FROM a1, generate_series(1, {SDK_DIM}) g(i)
    ),
    cm AS (SELECT cid, pos, {mean} AS m FROM dims GROUP BY cid, pos),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS c FROM cm GROUP BY cid),
    s2 AS (
      SELECT p.vec_id, p.v, c.cid, {dist} AS dist
      FROM pts p CROSS JOIN c1 c
    ),
    sig AS (
      SELECT vec_id, cid AS cell, v,
             sqrt(list_reduce(list_transform(v, x -> x * x),
                              (p, q) -> p + q)) AS nrm
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cid) AS rn
        FROM s2
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.cell, b.vec_id
      FROM sig a JOIN sig b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE isfinite({dot} / (a.nrm * b.nrm))
        AND {dot} / (a.nrm * b.nrm) >= CAST({SD_EPS} AS DOUBLE)
    ),
    drops AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_dropped,
             bit_xor({_SD_H32_DUCK}) AS drop_checksum
      FROM dropped GROUP BY cell
    )
    SELECT s.cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           COALESCE(MAX(d.n_dropped), CAST(0 AS BIGINT)) AS n_dropped,
           CAST(COUNT(*) AS BIGINT)
             - COALESCE(MAX(d.n_dropped), CAST(0 AS BIGINT)) AS n_kept,
           COALESCE(MAX(d.drop_checksum), CAST(0 AS BIGINT)) AS drop_checksum
    FROM sig s LEFT JOIN drops d ON s.cell = d.cell
    GROUP BY s.cell
    ORDER BY s.cell
    """


@register(
    "q_semdedup_kmeans",
    oracle=_semdedup_kmeans_oracle(),
    doc="Semantic dedup with K-MEANS cells — the SemDeDup paper's actual "
    "cluster stage (Abbas et al. 2023 run k-means with k proportional to "
    "the corpus), added after the sf1 scale point exposed the hyperplane-"
    "LSH variant's limit: co-directional vectors share every sign bit, so "
    "no number of hyperplanes splits a tight directional cluster and the "
    "cell pair work went QUADRATIC on the 10x lake (101x for 10x vectors; "
    "tests/test_scale_growth_sf1.py pins both behaviors).  k-means seeds "
    "land inside dense regions, so k ∝ corpus keeps max |cell| bounded "
    "(measured flat ~300) and pair work linear (4.0x/10.0x for 4x/10x) — "
    "and the query APPLIES the rule: k = max(2, n // SDK_CELL_TARGET) in "
    "BOTH engine texts (the Spark side from an eager 1-row count, the "
    "oracle from a scalar subquery), because a fixed k is itself the "
    "hidden quadratic (k=8 at 20k vectors replayed 37x time for 10x "
    "rows before this rule).  "
    "Deterministic end-to-end, value-checked including WHICH vectors "
    "drop: seeds are the k smallest (md5('km:'||vec_id), vec_id) — a "
    "uniform deterministic sample via one TakeOrderedAndProject — "
    "assignment is a broadcast-centroid map-only argmin with (dist, cid) "
    "tie-break, centroid updates are DECIMAL-exact per-dim means, and "
    "the within-cell cosine prune + bit_xor drop digest replay the "
    "q_semdedup readout (operators/similarity.py kmeans_cells).",
)
def q_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _semdedup_prune, kmeans_cells

    from ..operators.similarity import SQNORM, _finite_norm

    emb = load_table(spark, sf_dir, "embeddings")
    # eager 1-row count: k must track the corpus (see SDK_CELL_TARGET) and
    # the seed selection is a TakeOrderedAndProject whose limit is a plan
    # constant — the same allowed-collect class as the file censuses.
    # Counted on the ADMITTED corpus (finite norm > 0): kmeans_cells
    # gates its points the same way and the oracle counts FROM its gated
    # pts CTE, so all three agree on dirty input too.
    k = max(
        2,
        emb.filter(
            _finite_norm(F.expr(f"SQRT({SQNORM.format(v='embedding')})"))
        ).count()
        // SDK_CELL_TARGET,
    )
    sig = kmeans_cells(emb, k=k, updates=SDK_UPDATES)
    return _semdedup_readout(sig, _semdedup_prune(sig, SD_EPS))
