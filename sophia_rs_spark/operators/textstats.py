"""Text-analysis operators for training-data pipelines: BPE-style token
counting and document fingerprinting.

All pure built-in-function compositions (JVM-side); every output column
is integer/boolean/string so the DuckDB oracle hashes identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# GPT-2-style pretokenizer shape, simplified to constructs whose
# semantics are identical in Java regex (Spark) and RE2 (DuckDB)
BPE_TOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-ish pretokenization counts: (doc_id, n_bpe_tokens,
    n_word_tokens) — the regex pass a tokenizer-bound pipeline uses for
    budget estimation before the real BPE merge step."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0)
    words = F.filter(toks, lambda t: t.rlike("[A-Za-z0-9]"))
    return docs.select(
        id_col,
        F.size(toks).alias("n_bpe_tokens"),
        F.size(words).alias("n_word_tokens"),
    )


def rolling_fingerprint(docs: DataFrame, window: int = 8, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: min-of-rolling-window hashes (winnowing-lite)
    — robust to local edits; deterministic md5 windows."""
    d = docs.select(id_col, F.split(F.col(text_col), " ").alias("t")).filter(
        F.size("t") >= window
    )
    pos = d.select(
        id_col, "t", F.explode(F.sequence(F.lit(1), F.size("t") - (window - 1))).alias("i")
    )
    win = pos.select(
        id_col,
        F.md5(
            F.concat_ws(
                " ", *[F.element_at("t", F.col("i") + j) for j in range(window)]
            ).cast("binary")
        ).alias("wh"),
    )
    return win.groupBy(id_col).agg(F.min("wh").alias("fingerprint"))
