"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

Everything here is built-in-function-first (codegen'd, SQL-expressible
so the DuckDB oracle can replay it); only the rolling-hash fingerprint
needs a vectorized UDF.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ..hashing import Keys, _group_by_length

#: Tiny deterministic stopword lists for the n-gram/stopword language
#: heuristic.  Intentionally small — the operator's value is the Spark
#: shape (per-language counts -> argmax), not lexicon quality.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "que", "por", "con"],
}


def _word_matches(text_col, words) -> F.Column:
    """Count of tokens equal to any of ``words`` (word-boundary regexp)."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text_col), F.lit(pattern), F.lit(1)))


def with_language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_id"
) -> DataFrame:
    """Stopword-vote language ID: per-language match counts -> argmax,
    'und' (undetermined) when no stopword hits at all.  Ties resolve in
    the fixed language order (deterministic)."""
    counts = [
        _word_matches(F.col(text_col), words).alias(f"__c_{lang}")
        for lang, words in STOPWORDS.items()
    ]
    tmp = df.select("*", *counts)
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"__c_{l}") for l in langs])
    expr = F.when(best <= 0, F.lit("und"))
    for l in langs:
        expr = expr.when(F.col(f"__c_{l}") == best, F.lit(l))
    return tmp.withColumn(out_col, expr).drop(*[f"__c_{l}" for l in langs])


def with_token_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Whitespace token count + BPE-ish subword count (word pieces and
    single punctuation marks, the `\\w+|[^\\w\\s]` convention)."""
    return df.withColumn(
        "n_ws_tokens", F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    ).withColumn(
        "n_bpe_tokens",
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(r"(\w+|[^\w\s])"), F.lit(1))
        ),
    )


def with_quality(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]:
    length band, mean word length band, alpha ratio, stopword presence.
    All built-ins; replayable in ANSI SQL."""
    text = F.col(text_col)
    n_chars = F.length(text)
    tokens = F.split(F.trim(text), r"\s+")
    n_tokens = F.size(tokens)
    mean_word_len = n_chars / F.greatest(n_tokens, F.lit(1))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    n_stop = _word_matches(text, STOPWORDS["en"])
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    score = (
        F.when((n_chars >= 200) & (n_chars <= 50000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(alpha_ratio >= 0.6, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("mean_word_len", F.round(mean_word_len, 6))
        .withColumn("alpha_ratio", F.round(alpha_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("quality_score", score)
    )


def with_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    """64-bit rolling-hash document fingerprint over normalized text.

    Normalization (lowercase, collapse whitespace) in built-ins; the
    polynomial rolling hash runs vectorized per Arrow batch: chunk the
    byte buffer into uint64 lanes and fold with Horner's rule.
    Content-identical documents get identical fingerprints regardless of
    formatting."""

    @arrow_udf("long")
    def fp(texts: pa.Array) -> pa.Array:
        keys = Keys.from_arrow(texts)
        # rolling polynomial hash: h = h*B + byte (mod 2^64), vectorized
        # per distinct length group via cumulative fold over columns
        out = np.zeros(len(keys), dtype=np.uint64)
        lengths = keys.lengths
        B = np.uint64(1099511628211)
        with np.errstate(over="ignore"):
            # process per length group (fixed-width matrix fold)
            for idx, mat in _group_by_length(keys):
                h = np.zeros(len(idx), dtype=np.uint64)
                for j in range(mat.shape[1]):
                    h = h * B + mat[:, j].astype(np.uint64)
                out[idx] = h
        return pa.array(out.view(np.int64))

    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out_col, fp(normalized))
