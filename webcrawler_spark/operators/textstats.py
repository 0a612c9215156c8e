"""Text-analysis operators for a training-data pipeline over crawled text.

The crawl engine's item pipeline (reference: module/local/pipeline/
pipeline.go:55-84) ends where a training-data pipeline begins: the
`documents` table (doc_id, text, lang, source, n_chars). These operators
score/annotate that table entirely with native ``pyspark.sql.functions``
(JVM-side, whole-stage codegen — no Python in the hot path), so at 100 TB
they run as one codegen'd projection over the parquet scan with full
column pruning.

Every function here has an exact ANSI-SQL twin in ``__spark_entry__.
oracle_sql()`` (DuckDB); all arithmetic is integer or left-fold double so
results are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs | single digits | single punctuation.
# (GPT-2-style pretokenization collapses to this under ASCII; digits split
# one-per-token like modern BPE vocabularies.)
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# language marker words (tiny n-gram-free heuristic lang-ID; deterministic
# argmax with fixed tie order en > de > fr > es > zh)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "a", "in", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "que"],
    "es": ["el", "los", "las", "es", "una", "que", "por"],
    "zh": ["的", "是", "了", "在", "和", "有"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "at"]

FP_MOD = 1_000_000_007
FP_BASE = 31


def tokens(text: Column) -> Column:
    """Whitespace tokens (Go strings.Fields analog, JcUx.go:197 —
    the same split the reference's text invariant is built on)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (letter runs / digits / punct)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0))


def punct_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), 0))


def stopword_count(text: Column, stopwords: list[str] | None = None) -> Column:
    words = stopwords or EN_STOPWORDS
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def mean_word_len(text: Column) -> Column:
    """Sum of token lengths / token count, rounded to 4 — integer sums then
    one double division, so cross-engine exact."""
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(total.cast("double") / n.cast("double"), 4)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    healthy stopword ratio (C4/Gopher-style rule scoring, public recipe).

    All three terms are counts divided once at the end — deterministic
    double math, same fold both engines.
    """
    n_tok = token_count(text).cast("double")
    n_punct = punct_count(text).cast("double")
    n_stop = stopword_count(text).cast("double")
    n_char = F.length(text).cast("double")

    len_term = F.when(
        (n_tok >= 10) & (n_tok <= 5000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    punct_term = F.lit(1.0) - F.least(
        F.lit(1.0), F.when(n_char == 0, F.lit(0.0)).otherwise(n_punct / n_char) * 5.0
    )
    stop_term = F.least(
        F.lit(1.0), F.when(n_tok == 0, F.lit(0.0)).otherwise(n_stop / n_tok) * 10.0
    )
    return F.round(0.4 * len_term + 0.3 * punct_term + 0.3 * stop_term, 4)


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit count per language over whitespace tokens."""
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax of marker hits; 'und' when all scores are 0. Fixed tie order
    en > de > fr > es > zh keeps the argmax deterministic cross-engine."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    out = F.lit("und")
    # build the CASE chain in reverse priority so earlier langs win ties
    for lang in ["zh", "es", "fr", "de", "en"]:
        out = F.when((best > 0) & (s[lang] == best), F.lit(lang)).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over characters mod 1e9+7 (Rabin-Karp /
    BKDR-style — the reference dedups URLs with a BKDR string hash,
    cmap/utils.go:5-12; this is the same shape applied to document text).
    Left fold ⇒ identical in Spark `aggregate` and DuckDB `list_reduce`."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + F.ascii(c)) % FP_MOD,
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, public): per doc,
    the fraction of word n-grams occupied by the single most frequent one
    (`top_ngram_frac`, high = templated/repetitive boilerplate) and the
    distinct-n-gram ratio (`distinct_ngram_frac`, low = repetitive).

    N-grams keep multiplicity (unlike dedup.shingles). Plan: one explode +
    two hash aggregates keyed by (id, gram) then id — map-side combined,
    no joins; at 100 TB this is a single shuffle on the gram-count key.
    Docs with fewer than n tokens produce no row (no n-grams to measure).
    """
    toks = tokens(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        ),
    )
    ex = df.select(
        F.col(id_col), F.explode(F.when(F.size(toks) >= n, grams)).alias("gram")
    )
    per_gram = ex.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.max("c").alias("_top"),
            F.sum("c").alias("_total"),
            F.count(F.lit(1)).alias("_distinct"),
        )
        .select(
            F.col(id_col),
            F.round(F.col("_top").cast("double") / F.col("_total").cast("double"), 6)
            .alias("top_ngram_frac"),
            F.round(
                F.col("_distinct").cast("double") / F.col("_total").cast("double"), 6
            ).alias("distinct_ngram_frac"),
        )
    )

