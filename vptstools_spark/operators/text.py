"""Text analysis operators for large-scale training-data pipelines.

All pure Catalyst expressions (split/filter/aggregate on arrays) — no Python
UDFs, so everything stays in whole-stage codegen and scales linearly with
input partitions (narrow, shuffle-free until the final aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: default "stopword" markers for the synthetic corpus
STOPWORDS = ("the", "a")

#: deterministic language marker words (n-gram heuristic stand-in): the
#: classifier scores each language by marker occurrences and takes the first
#: max in this order.
LANG_MARKERS: tuple[tuple[str, str], ...] = (
    ("en", "the"),
    ("fr", "table"),
    ("es", "row"),
    ("de", "scan"),
    ("zh", "data"),
)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (single-space corpus → plain split)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_occurrences(text: Column, word: str) -> Column:
    """Exact-token occurrence count of `word` in `text`."""
    return F.size(F.filter(tokens(text), lambda w: w == F.lit(word)))


def stopword_count(text: Column, stopwords=STOPWORDS) -> Column:
    sw = list(stopwords)
    return F.size(F.filter(tokens(text), lambda w: w.isin(sw)))


def quality_features(text: Column, n_chars: Column) -> dict[str, Column]:
    """Per-document quality features: token count, stopword ratio, mean word
    length. Cheap, shuffle-free signals used to score/filter pretraining text."""
    n_tok = token_count(text).cast("double")
    n_stop = stopword_count(text).cast("double")
    # chars minus the (n_tok - 1) separating spaces, over token count
    avg_word_len = (n_chars.cast("double") - n_tok + F.lit(1.0)) / n_tok
    return {
        "n_tokens": token_count(text),
        "stopword_ratio": n_stop / n_tok,
        "avg_word_len": avg_word_len,
    }


def predict_language(text: Column, markers=LANG_MARKERS) -> Column:
    """Deterministic marker-frequency language ID: argmax of per-language
    marker counts, first-wins tie-break in `markers` order."""
    counts = [(lang, word_occurrences(text, marker)) for lang, marker in markers]
    expr = None
    for i, (lang, cnt) in enumerate(counts):
        cond = None
        for j, (_, other) in enumerate(counts):
            if i == j:
                continue
            # strictly-greater against earlier langs (they win ties), >= later
            c = (cnt > other) if j < i else (cnt >= other)
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
        expr = branch
    return expr.otherwise(F.lit(markers[-1][0]))


def hashed_token_weight(tok: Column) -> Column:
    """Deterministic signed weight in [-1.0, 1.0] for a token, derived from
    an md5 hex prefix — the hashing-trick feature map of a linear text
    classifier, expressed portably (md5+conv exist in Spark, DuckDB, and
    most warehouses, so oracles can replicate the exact model)."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit("w#"), tok)), 1, 6), 16, 10)
    return (h.cast("long") % 2001 - 1000) / F.lit(1000.0)


def hashed_linear_score(text: Column, scale: float = 4.0) -> Column:
    """Fasttext-style hashed linear classifier score: sigmoid of the scaled
    MEAN hashed-token weight. NULL for empty documents.

    A production deployment swaps `hashed_token_weight` for a broadcast
    (bucket, weight) table trained offline; what matters at 100 TB is the
    scoring SHAPE — a per-row higher-order aggregate (transform + fold) with
    no explode and no shuffle, so the classifier runs inside whole-stage
    codegen at scan speed. The fold is sequential (seeded 0.0), so the
    double is reproducible cross-engine.
    """
    toks = F.filter(tokens(text), lambda w: F.length(w) > 0)
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, hashed_token_weight), F.lit(0.0), lambda acc, x: acc + x
    )
    mean = total / n.cast("double")
    return F.when(n > 0, F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(scale) * mean)))


def fingerprint(text: Column) -> Column:
    """Normalized document fingerprint: md5 of lowercase/trimmed text.
    (Exact-dedup key; md5 chosen because it is identically available in
    Spark, DuckDB and most warehouses → portable dedup keys.)"""
    return F.md5(F.lower(F.trim(text)))
