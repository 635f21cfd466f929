"""Deduplication operators for large-scale document pipelines.

First-class components of the engine (driver brief: exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).  All
are pure built-in-function compositions (JVM-side, codegen) — no Python
UDFs — and every hash is deterministic (md5/xxhash64), so results are
identical across runs and cluster sizes and reproducible in the DuckDB
oracle.

Scale notes (100 TB): exact dedup shuffles only (fingerprint, doc_id);
MinHash shuffles (band, minhash) signatures — constant per document;
the LSH self-join is banded so the join key cardinality stays bounded;
SimHash is a single aggregation per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def exact_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """md5 content fingerprint per document."""
    return docs.select(id_col, F.expr(f"md5({text_col})").alias("fp"))


def word_shingles(docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """k-word shingles: (doc_id, shingle); documents shorter than k words
    are dropped (same rule as the oracle)."""
    d = docs.select(id_col, F.split(F.col(text_col), " ").alias("t")).filter(
        F.size("t") >= k
    )
    pos = d.select(
        id_col, F.col("t"), F.explode(F.sequence(F.lit(1), F.size("t") - (k - 1))).alias("i")
    )
    parts = [F.element_at("t", F.col("i") + j) for j in range(k)]
    return pos.select(id_col, F.concat_ws(" ", *parts).alias("shingle"))


def minhash_signatures(
    docs: DataFrame, bands: int = 4, k: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    rows_per_band: int = 1,
) -> DataFrame:
    """Banded MinHash: per (doc, band) the LSH signature over seeded
    shingles — one row per document per band.

    ``rows_per_band`` (r) controls the LSH s-curve: a bucket key is the
    concatenation of r independent min-hashes, so the collision
    probability is s^r per band (r=1, the default, keeps the round-1
    oracle encoding byte-identical; r≥2 sharpens the curve against
    low-similarity false candidates at scale)."""
    sh = word_shingles(docs, k, text_col, id_col)
    r = rows_per_band
    # one MIN aggregate per (band, row) seed — computed map-side
    # (partial aggregation), so the shuffle carries ONE row of bands*r
    # digests per (doc × partition) instead of a bands*r-fold crossJoin
    # row blowup; seed == band when r = 1 (round-1 encoding preserved)
    mins = sh.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(
                    F.concat(
                        F.lit(str(seed)), F.lit(":"), F.col("shingle")
                    ).cast("binary")
                )
            ).alias(f"m{seed}")
            for seed in range(bands * r)
        ]
    )
    per_band = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"m{band * r + row}") for row in range(r)]
            ).alias("minhash"),
        )
        for band in range(bands)
    ]
    return mins.select(
        id_col, F.explode(F.array(*per_band)).alias("x")
    ).select(id_col, F.col("x.band").alias("band"), F.col("x.minhash").alias("minhash"))


#: buckets above this size are excluded from the self-join: one hot
#: bucket (boilerplate docs sharing a min-shingle) would otherwise go
#: O(n²).  NOT a silent cap — use :func:`lsh_oversized_buckets` to
#: log/quarantine the dropped bucket ids (plans/pipeline.py does).
LSH_MAX_BUCKET = 1000


def _bucket_sized(signatures: DataFrame, keys: list) -> DataFrame:
    w = Window.partitionBy(*keys)
    return signatures.withColumn("_bn", F.count(F.lit(1)).over(w))


def lsh_oversized_buckets(
    signatures: DataFrame, max_bucket: int = LSH_MAX_BUCKET
) -> DataFrame:
    """The (band, minhash, n) buckets the guarded self-join skips."""
    return (
        signatures.groupBy("band", "minhash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate candidates: pairs sharing any (band, minhash)
    bucket, skipping buckets larger than ``max_bucket`` (skew guard —
    the window count shuffles on the same keys as the join itself, so
    the guard adds no extra shuffle of the signature table)."""
    sized = _bucket_sized(signatures, ["band", "minhash"]).filter(
        F.col("_bn") <= max_bucket
    )
    a, b = sized.alias("a"), sized.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.minhash") == F.col("b.minhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def ngram_jaccard(
    docs: DataFrame, pairs: DataFrame, k: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard over distinct k-word shingles for candidate pairs:
    (doc_a, doc_b, inter, uni, jacc_permille).  Integer permille keeps
    the result float-free (oracle-hashable)."""
    sh = word_shingles(docs, k, text_col, id_col).distinct()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.withColumnRenamed(id_col, "doc_a")
    b = sh.withColumnRenamed(id_col, "doc_b")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("uni"),
            F.floor(F.col("inter") * 1000 / (F.col("na") + F.col("nb") - F.col("inter")))
            .cast("bigint")
            .alias("jacc_permille"),
        )
    )
    return out


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over whitespace tokens: per bit, the majority vote
    of token md5 bits; output as a 60-char '0'/'1' string (portable —
    no bigint/hex dialect differences vs the SQL oracle).

    bit b of a token = bit (b mod 4) of hex nibble (b div 4) of md5.

    Single aggregation pass: the 60 per-bit vote counters are 60 SUM
    expressions over the token rows — Spark computes them map-side
    (partial aggregation), so the shuffle carries ONE row of counters
    per (doc × input partition) instead of the previous 60-fold
    per-token row explode (the round-1 scale finding)."""
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    h = toks.select(id_col, F.md5(F.col("tok").cast("binary")).alias("hx"))
    # 15 hex nibbles → 60 bits; nibble values extracted once each
    nibs = h.select(
        id_col,
        *[
            F.expr(f"instr('0123456789abcdef', substring(hx, {i + 1}, 1)) - 1").alias(
                f"nib{i}"
            )
            for i in range(15)
        ],
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for b in range(60):
        nib, mask = F.col(f"nib{b // 4}"), 1 << (b % 4)
        aggs.append(
            F.sum(
                F.when(nib.cast("int").bitwiseAND(F.lit(mask)) > 0, 1).otherwise(0)
            ).alias(f"ones{b}")
        )
    votes = nibs.groupBy(id_col).agg(*aggs)
    chars = [
        F.when(F.col(f"ones{b}") * 2 >= F.col("n"), F.lit("1")).otherwise(F.lit("0"))
        for b in range(60)
    ]
    return votes.select(id_col, F.concat(*chars).alias("simhash"))
