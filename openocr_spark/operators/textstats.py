"""Text-analysis operators for large-scale training-data pipelines —
all pure JVM-side column expressions (whole-stage codegen, no Python).

These generalize the reference's text handling: normalization
(openrec/metrics/rec_metric.py:54-88), charset filtering
(tools/data/ratio_dataset_test.py:16-33), length histograms
(rec_metric.py:113-160) — to corpus-curation primitives: token counting,
quality scoring, language ID, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# words common in English-ish synthetic text; the lang-ID heuristic is a
# stopword-density n-gram stand-in (a real pipeline would plug a fastText
# model in behind the same column contract)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def token_count(text: Column) -> Column:
    """Whitespace token count (single-space-separated corpora)."""
    return F.size(F.split(text, " "))


# GPT-2-style pre-tokenizer pattern, simplified to the RE2/Java common
# subset (no lookaheads): contractions, letter runs, digit runs,
# punctuation runs, whitespace runs — the "BPE-ish" token boundary rule
BPE_TOKEN_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
)


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: how many pre-tokenizer pieces the text
    splits into under the GPT-2-style boundary regex (whitespace runs
    merge into the following word via the leading ' ?'). The honest
    cost-estimation proxy a training pipeline bills by."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def stopword_ratio(text: Column) -> Column:
    toks = F.split(text, " ")
    stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return stop / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: favors mid-length docs with
    some stopword mass and low punctuation density (the classic
    C4/Gopher-style length/stopword/punct gates)."""
    length_ok = F.when(
        (F.length(text) >= 50) & (F.length(text) <= 10000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(text) >= 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    return (length_ok + stop_ok + punct_ok) / F.lit(3.0)


def lang_id(text: Column) -> Column:
    """Stopword-density language heuristic (n-gram LID stand-in)."""
    return F.when(stopword_ratio(text) >= F.lit(0.02), F.lit("en")).otherwise(
        F.lit("other")
    )


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 (stable across engines; the rolling-hash
    analog of the reference's content-addressed model cache keys,
    tools/infer_det.py:36-116)."""
    return F.md5(text)


def charset_ok(text: Column, allowed_re: str = r"^[a-z0-9 ]*$") -> Column:
    """CharsetAdapter analog (ratio_dataset_test.py:16-33): does the text
    stay within the target charset."""
    return text.rlike(allowed_re)


# scrub patterns (training-data hygiene): order matters — URLs before
# emails (a URL may embed an @), digit runs last so scrubbed tokens
# don't re-trigger. Each is a plain Java regex so the DuckDB oracle can
# mirror it with regexp_replace.
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_DIGITS_RE = r"\d{9,}"


def scrub_text(text: Column) -> Column:
    """PII/URL scrub for training corpora: URLs → <URL>, emails →
    <EMAIL>, long digit runs (phone/account numbers) → <NUM>. Pure
    column expressions — codegen'd, no Python."""
    out = F.regexp_replace(text, URL_RE, "<URL>")
    out = F.regexp_replace(out, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, LONG_DIGITS_RE, "<NUM>")


def scrub_counts(text: Column) -> tuple[Column, Column, Column]:
    """How many of each scrub target scrub_text ACTUALLY replaces.
    Each stage counts on the previous stage's output — counting every
    pattern on the raw text would double-book (the email inside a URL,
    the digit run inside either) and the audit columns would disagree
    with the scrubbed text."""
    def n(col: Column, pat: str) -> Column:
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))

    after_url = F.regexp_replace(text, URL_RE, "<URL>")
    after_email = F.regexp_replace(after_url, EMAIL_RE, "<EMAIL>")
    return (
        n(text, URL_RE),
        n(after_url, EMAIL_RE),
        n(after_email, LONG_DIGITS_RE),
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("token_count"),
        F.round(stopword_ratio(t), 4).alias("stopword_ratio"),
        F.round(quality_score(t), 4).alias("quality_score"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )
