"""Text-analysis operators for training-data pipelines.

All pure JVM column expressions (whole-stage codegen; no Python) and all
reproducible in ANSI SQL for the DuckDB correctness oracle:

- token_count      — whitespace token count + a code-ish regex token count;
- quality_score    — length/stopword/distinct ratios, the standard cheap
                     quality heuristics used for corpus filtering;
- langid           — n-gram/stopword-overlap heuristic language ID;
- fingerprint      — md5 fingerprint of the normalized token stream
                     (content-defined identity; the cheap stand-in for a
                     winnowing fingerprint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]

# tiny per-language marker lists for the heuristic language ID
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "zh": ["de5", "shi4", "le5"],  # placeholder pinyin-ish markers
}


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def token_count(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, n_chars)."""
    toks = _tokens(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length(F.col(text_col)).cast("int").alias("n_chars"),
    )


# GPT-2-style pretokenizer pattern restricted to the RE2/Java-common
# subset (no unicode categories): contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs, residual whitespace. Counts
# these pretoken pieces ~ BPE token count upper-bound estimator for
# budgeting LLM training data (each piece splits into >= 1 BPE tokens).
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+"


def bpe_token_count(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_pieces, n_word_pieces, pieces_per_ws_token): BPE-ish
    subword-boundary counting over lowercased text — the 'token counting
    (whitespace + a BPE-ish regex)' pipeline op. Pure JVM regex
    (codegen); DuckDB reproduces it with the same RE2-compatible
    pattern."""
    pieces = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_ISH_PATTERN), 0)
    word_pieces = F.filter(pieces, lambda p: F.trim(p) != "")
    ws = _tokens(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(pieces).alias("n_pieces"),
        F.size(word_pieces).alias("n_word_pieces"),
        F.round(
            F.size(word_pieces)
            / F.greatest(F.size(ws), F.lit(1)).cast("double"),
            6,
        ).alias("pieces_per_ws_token"),
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, avg_token_len, stopword_ratio, distinct_ratio,
    quality) — quality = mean of clamped heuristics, rounded to 6 dp."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    avg_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    ) / F.greatest(n.cast("double"), F.lit(1.0))
    stop_ratio = n_stop.cast("double") / F.greatest(n.cast("double"), F.lit(1.0))
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n.cast("double"), F.lit(1.0)
    )
    length_ok = F.when((n >= 10) & (n <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    quality = (length_ok + F.least(stop_ratio * 5.0, F.lit(1.0)) + distinct_ratio) / 3.0
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def langid(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, score): argmax over marker-overlap counts,
    deterministic tie-break by language code."""
    toks = _tokens(F.col(text_col))
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        cnt = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scores.append(F.struct(cnt.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*[
        F.struct(
            s["score"].alias("score"),
            # invert lang for max so ties resolve to the alphabetically
            # FIRST language: max on (score, reversed-rank)
            F.lit(len(scores) - i).alias("tiebreak"),
            s["lang"].alias("lang"),
        )
        for i, s in enumerate(scores)
    ]))
    return docs.select(
        F.col(id_col), best["lang"].alias("pred_lang"), best["score"].cast("int").alias("score")
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fp16): md5 of the space-joined normalized token stream."""
    norm = F.concat_ws(" ", _tokens(F.col(text_col)))
    return docs.select(
        F.col(id_col), F.substring(F.md5(norm), 1, 16).alias("fp16")
    )
