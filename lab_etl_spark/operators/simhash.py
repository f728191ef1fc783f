"""SimHash near-duplicate detection, fully cross-engine checkable.

SimHash: each token hashes to b bits; bit j of the document signature is the
sign of Σ_tokens (2·bit_j − 1).  Near-duplicates are signature pairs within
a small Hamming distance.

Engine-portable choices (so a DuckDB oracle can verify values exactly):
  * token hash = first 8 hex chars of md5(token) as an integer (md5 is
    byte-identical everywhere; 32 bits keeps every intermediate in signed
    64-bit range in both engines);
  * candidate generation = LSH on k contiguous bit-bands of the signature
    (band equality join — O(docs·bands) shuffle, never the n² cross
    product), exact Hamming verify with bit_count(xor) after.

At 100 TB the band join is the only shuffle that grows with corpus size,
and it's linear; band-hash skew (many docs sharing a band value, e.g. the
all-zeros band from short docs) is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BITS = 32


def _tok_hash_sql(word: str) -> str:
    """32-bit token hash; identical text works in Spark SQL and DuckDB
    (CONV there is from_hex via the shared helper below)."""
    return f"CAST(CONV(SUBSTRING(MD5({word}), 1, 8), 16, 10) AS BIGINT)"


#: DuckDB spelling of the same hash (no CONV; use hex → ubigint cast)
def _tok_hash_duck(word: str) -> str:
    return f"CAST(('0x' || SUBSTRING(MD5({word}), 1, 8)) AS BIGINT)"


def simhash_sql_duck(norm_text: str) -> str:
    """DuckDB expression computing the identical signature from raw text."""
    words = f"string_split_regex(trim({norm_text}), ' ')"
    bit_terms = []
    for j in range(BITS):
        bit = f"(({_tok_hash_duck('w')} // {1 << j}) % 2)"
        bit_terms.append(
            f"(CASE WHEN list_reduce(list_transform({words}, "
            f"w -> CASE WHEN {bit} = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(bit_terms) + ")"


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash BIGINT) — whole pipeline is Catalyst builtins.

    Shape: explode words → one 32-bit token hash per word → hash-aggregate
    with 32 codegen'd SUM columns (bit-sums) → fold to the signature long.
    Every operator here vectorizes in whole-stage codegen; the only shuffle
    is the partial-aggregated groupBy(doc_id), which is map-side-combined so
    shuffle volume is O(docs · 32 longs), independent of document length —
    exactly the property that keeps this linear at 100 TB.
    """
    norm = f"lower(regexp_replace(trim({text_col}), '\\\\s+', ' '))"
    words = docs.select(
        "doc_id", F.explode(F.split(F.expr(norm), " ")).alias("w")
    )
    hashed = words.select(
        "doc_id", F.expr(_tok_hash_sql("w")).alias("h")
    )
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"IF((h div {1 << j}) % 2 = 1, 1L, -1L)")
            ).alias(f"_s{j}")
            for j in range(BITS)
        ]
    )
    sig = None
    for j in range(BITS):
        term = F.when(F.col(f"_s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_band_buckets(
    docs: DataFrame, bands: int = 4, text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash, band, bkey) — the BLOCKING stage of
    :func:`simhash_near_pairs`, exposed so the scale suite can measure the
    candidate join's work, Σ over buckets of C(|bucket|, 2), on the real
    lake at multiple scale factors (tests/test_scale_growth_sf1.py).
    """
    sig = simhash_signatures(docs, text_col)
    width = BITS // bands
    # One posexplode pass emits all band keys (vs a bands-way union, which
    # recomputes the signature subtree once per branch).
    band_arr = F.array(
        *[
            F.expr(f"(simhash div {1 << (b * width)}) % {1 << width}")
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id", "simhash", F.posexplode(band_arr).alias("band", "bkey")
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, hamming <= max_hamming).

    Bands of BITS/bands contiguous bits generate candidates; by pigeonhole a
    pair within ``max_hamming < bands`` distance shares ≥1 exact band, so
    recall is total — this is exact near-dup search with an LSH-bounded join.
    """
    buckets = simhash_band_buckets(docs, bands=bands, text_col=text_col)

    x, y = buckets.alias("x"), buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sig_a"),
            F.col("y.simhash").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(sig_a ^ sig_b)")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
