"""Text analysis operators for training-data pipelines (task brief:
language-ID heuristic, quality scoring, token counting, document
fingerprinting).  Everything is built-in expressions (JVM-side regex /
higher-order array functions) — engine-portable (md5-based hashing, no
``F.hash``) so every op has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately minimal — the operator shape (per-language hit
# counting + argmax) is what matters at scale.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que", "por"],
}

TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased (empty strings filtered)."""
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token count: alpha runs + digit runs + single punctuation
    (regex corpus-token heuristic)."""
    return F.regexp_count(text, F.lit(TOKEN_RE))


def stopword_hits(text: Column, words: list[str]) -> Column:
    toks = tokens(text)
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))


def add_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + composite
    score (training-data quality-scoring op)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = token_count_ws(t)
    n_punct = F.regexp_count(t, F.lit("[.,!?;:]"))
    n_stop = stopword_hits(t, STOPWORDS["en"])
    stop_ratio = n_stop / n_words
    punct_ratio = n_punct / n_chars
    mean_word_len = (n_chars - n_words + 1) / n_words
    score = (
        F.when(n_words >= 5, 0.25).otherwise(0.0)
        + F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.6), 0.25).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
        + F.when((mean_word_len >= 2) & (mean_word_len <= 12), 0.25).otherwise(0.0)
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_punct", n_punct)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("quality_score", score)
    )


def add_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID: argmax of per-language hit counts with a
    deterministic tiebreak (language code asc); 'und' when no hits."""
    t = F.col(text_col)
    hit_cols = {lang: stopword_hits(t, words) for lang, words in STOPWORDS.items()}
    out = df
    for lang, c in hit_cols.items():
        out = out.withColumn(f"hits_{lang}", c)
    best = None
    for lang in sorted(STOPWORDS):
        cond = F.lit(True)
        for other in sorted(STOPWORDS):
            if other == lang:
                continue
            op = (
                F.col(f"hits_{lang}") >= F.col(f"hits_{other}")
                if other > lang
                else F.col(f"hits_{lang}") > F.col(f"hits_{other}")
            )
            cond = cond & op
        branch = F.when((F.col(f"hits_{lang}") > 0) & cond, lang)
        best = branch if best is None else best.when(
            (F.col(f"hits_{lang}") > 0) & cond, lang
        )
    return out.withColumn("pred_lang", F.coalesce(best, F.lit("und")))


def add_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: sum of md5-token hashes mod 2^31−1 —
    order-insensitive token-bag hash (rolling-hash-family document
    fingerprint, collision-checkable in SQL)."""
    toks = tokens(F.col(text_col))
    hashed = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    fp = F.aggregate(hashed, F.lit(0).cast("long"), lambda a, x: a + x) % F.lit(
        2147483647
    )
    return df.withColumn("fingerprint", fp)
