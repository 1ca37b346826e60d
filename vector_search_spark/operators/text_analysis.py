"""Text-analysis operators over a documents table (north-star additions).

All pure Catalyst expressions from ``functions.text`` — a single projection
pass over the corpus (no shuffle except the final aggregate where noted),
whole-stage-codegen'd, so a 100 TB documents scan is I/O-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import round4
from ..partitioning import fan_out
from ..functions.text import (
    STOPWORDS,
    md5_fingerprint,
    quality_score,
    rolling_hash,
    token_count_ws,
)


def _lang_scores(t: Column) -> dict[str, Column]:
    """Per-language stopword-hit rate (hits per whitespace token)."""
    n = token_count_ws(t).cast("double")
    out = {}
    for lang, words in STOPWORDS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        hits = F.regexp_count(F.lower(t), F.lit(pat)).cast("double")
        out[lang] = F.when(n == 0, F.lit(0.0)).otherwise(hits / n)
    return out


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram/stopword language-ID heuristic: argmax stopword-hit rate.

    Tie-break order en > es > fr > de (fixed, engine-portable).  Returns
    (id, pred_lang, score) — compare against a ground-truth ``lang`` column
    downstream if one exists.
    """
    s = _lang_scores(F.col(text_col))
    pred = (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]), F.lit("en"))
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]), F.lit("es"))
        .when(s["fr"] >= s["de"], F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    best = F.greatest(*s.values())
    return fan_out(df, id_col).select(
        F.col(id_col), pred.alias("pred_lang"), round4(best).alias("lang_score")
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprints: md5 (normalized) + polynomial rolling hash."""
    return fan_out(df, id_col).select(
        F.col(id_col),
        md5_fingerprint(text_col).alias("fingerprint"),
        rolling_hash(text_col).alias("rhash"),
    )


def corpus_stats(df: DataFrame, group_col: str, text_col: str = "text") -> DataFrame:
    """Aggregate corpus statistics per group (lang/source/category):
    doc count, mean length, mean quality, distinct fingerprints.

    No fan_out here: the partial aggregate collapses each input partition
    to |groups| rows before the exchange, and the per-row expressions are
    cheap enough that an extra exchange costs more than it buys."""
    t = F.col(text_col)
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round4(F.avg(F.length(t))).alias("avg_chars"),
            round4(F.avg(token_count_ws(t).cast("double"))).alias("avg_tokens"),
            round4(F.avg(quality_score(t, "en"))).alias("avg_quality"),
            F.countDistinct(md5_fingerprint(t)).alias("distinct_texts"),
        )
        .orderBy(group_col)
    )
