"""Bitext (parallel-sentence) mining — the cross-lingual half of the
pwsim pipeline, analogue of ivory/lsh/bitext.

Reference pipeline reproduced (lsh/bitext/FindParallelSentencePairs.java
:44-210, Docs2Sentences.java, core/util/CLIRUtils.java:78-79):

1. docs -> sentences, each with a weighted term vector; sentences
   shorter than MIN_SENTENCE_LENGTH tokens or with fewer than
   MIN_VECTOR_TERMS distinct terms are dropped (CLIRUtils.MinVectorTerms
   = 3, MinSentenceLength = 5);
2. the foreign side's vectors are TRANSLATED into the English term
   space with a translation-probability table: v_e(t_e) += p(t_e|t_f) *
   v_f(t_f) (PreprocessHelper/CLIRUtils translation of HMapStFW
   vectors);
3. candidate DOC pairs come from the cross-lingual pwsim stage (LSH
   over translated doc vectors); for each doc pair every (f-sentence,
   e-sentence) cross pair is considered, SKIPPING pairs whose token
   lengths differ by more than 2x (FindParallelSentencePairs.java:
   176-180 ``eSentLength > 2*fSentLength || fSentLength > 2*e...``);
4. surviving pairs are scored and thresholded. The reference feeds
   cosine(eVector, translatedFVector) + length features to a trained
   MaxEnt classifier (CLIRUtils.computeFeaturesF1:1160); the bundled
   model file is environment-blocked here, so the DOCUMENTED
   SUBSTITUTION scores pairs by that same normalized cosine and
   thresholds it directly (the classifier's dominant feature). Plug a
   real model in via the `score_fn` hook of
   oracle_parallel_sentence_pairs / post-filter the returned frame.

Spark-first shape: sentences explode JVM-side with tf maps as
map<string,double>; translation is one generator-explode + re-aggregate
over a broadcast ttable; pairing is two broadcast-joins of sentences
into the (e_docno, f_docno) pair frame; the ratio filter and the
cosine (map-aggregate dot product over precomputed L2 norms) stay in
whole-stage codegen — no Python in the pair loop. At 100 TB the pair
frame comes from the capped LSH pwsim stage, so the sentence cross
product is bounded per doc pair, never corpus-global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ivory_spark.session import local_frame

MIN_VECTOR_TERMS = 3  # CLIRUtils.java:78
MIN_SENTENCE_LENGTH = 5  # CLIRUtils.java:79
SENT_SPLIT_RX = r"[.!?\n。！？]+"
TOKEN_RX = "[a-z_][a-z0-9_]*|[0-9]+"  # the engine's code_v1 chain


def _tokens_expr(col):
    return F.expr(
        f"filter(regexp_extract_all(lower({col}), '{TOKEN_RX}', 0), "
        "t -> length(t) <= 126)"
    )


def docs_to_sentences(
    docs: DataFrame,
    docno_col: str = "docno",
    text_col: str = "content",
    min_sentence_length: int = MIN_SENTENCE_LENGTH,
    min_vector_terms: int = MIN_VECTOR_TERMS,
) -> DataFrame:
    """(docno, sent_id, sentence, length, vector) — sentence-split,
    tokenized, tf term vectors; short / low-vocabulary sentences dropped
    (Docs2Sentences.java map stage + the CLIRUtils minimums)."""
    sents = docs.select(
        F.col(docno_col).alias("docno"),
        F.posexplode(F.split(F.col(text_col), SENT_SPLIT_RX)).alias("sent_id", "sentence"),
    ).filter(F.trim(F.col("sentence")) != "")
    toks = sents.withColumn("toks", _tokens_expr("sentence"))
    toks = toks.withColumn("length", F.size("toks")).filter(
        F.col("length") >= min_sentence_length
    )
    # tf map: aggregate duplicate tokens JVM-side
    exploded = toks.select(
        "docno", "sent_id", "sentence", "length", F.explode("toks").alias("term")
    )
    tf = exploded.groupBy("docno", "sent_id", "sentence", "length", "term").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )
    vec = tf.groupBy("docno", "sent_id", "sentence", "length").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), F.col("w")))
        ).alias("vector")
    )
    return vec.filter(F.size(F.map_keys("vector")) >= min_vector_terms)


def translate_vectors(
    sents: DataFrame, ttable: dict[str, list[tuple[str, float]]]
) -> DataFrame:
    """Project foreign-language sentence vectors into the English term
    space: v_e(e) = sum_f p(e|f) * v_f(f), terms without a translation
    dropped (the reference's HMapStFW translation in PreprocessHelper).
    ttable: f_term -> [(e_term, prob)], broadcast as literal rows."""
    spark = sents.sparkSession
    rows = [(f, e, float(p)) for f, es in ttable.items() for e, p in es]
    tt = local_frame(spark, rows, "f_term string, e_term string, p double")
    entries = sents.select(
        "docno", "sent_id", "sentence", "length",
        F.explode("vector").alias("f_term", "w"),
    )
    translated = (
        entries.join(F.broadcast(tt), "f_term")
        .groupBy("docno", "sent_id", "sentence", "length", "e_term")
        .agg(F.sum(F.col("w") * F.col("p")).alias("w"))
    )
    return translated.groupBy("docno", "sent_id", "sentence", "length").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("e_term"), F.col("w")))
        ).alias("vector")
    )


_DOT = (
    "aggregate(map_entries({a}), 0D, "
    "(acc, x) -> acc + x.value * coalesce(element_at({b}, x.key), 0D))"
)


def _with_norm(df: DataFrame, out: str) -> DataFrame:
    return df.withColumn(
        out,
        F.expr("sqrt(aggregate(map_values(vector), 0D, (acc, v) -> acc + v * v))"),
    )


def find_parallel_sentence_pairs(
    doc_pairs: DataFrame,  # (e_docno, f_docno)
    e_sents: DataFrame,  # docs_to_sentences of the English side
    f_sents_translated: DataFrame,  # translate_vectors of the foreign side
    threshold: float = 0.5,
    max_length_ratio: float = 2.0,
) -> DataFrame:
    """(e_docno, f_docno, e_sent_id, f_sent_id, e_sentence, f_sentence,
    cosine) for cross pairs within candidate doc pairs that pass the
    length-ratio filter and score >= threshold. Deterministic output
    order (e_docno, f_docno, e_sent_id, f_sent_id)."""
    e = e_sents.select(
        F.col("docno").alias("e_docno"), F.col("sent_id").alias("e_sent_id"),
        F.col("sentence").alias("e_sentence"), F.col("length").alias("e_len"),
        F.col("vector").alias("e_vec"),
    )
    f = f_sents_translated.select(
        F.col("docno").alias("f_docno"), F.col("sent_id").alias("f_sent_id"),
        F.col("sentence").alias("f_sentence"), F.col("length").alias("f_len"),
        F.col("vector").alias("f_vec"),
    )
    pairs = (
        doc_pairs.join(e, "e_docno").join(f, "f_docno")
        # FindParallelSentencePairs.java:176-180 — strict 2x cutoff
        .filter(
            ~(
                (F.col("e_len") > max_length_ratio * F.col("f_len"))
                | (F.col("f_len") > max_length_ratio * F.col("e_len"))
            )
        )
    )
    e_dot_f = _DOT.format(a="e_vec", b="f_vec")
    scored = (
        pairs.withColumn(
            "e_norm",
            F.expr("sqrt(aggregate(map_values(e_vec), 0D, (acc, v) -> acc + v * v))"),
        )
        .withColumn(
            "f_norm",
            F.expr("sqrt(aggregate(map_values(f_vec), 0D, (acc, v) -> acc + v * v))"),
        )
        .withColumn("dot", F.expr(e_dot_f))
        .withColumn(
            "cosine",
            F.when(
                (F.col("e_norm") > 0) & (F.col("f_norm") > 0),
                F.col("dot") / (F.col("e_norm") * F.col("f_norm")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return (
        scored.filter(F.col("cosine") >= threshold)
        .select(
            "e_docno", "f_docno", "e_sent_id", "f_sent_id",
            "e_sentence", "f_sentence", F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("e_docno", "f_docno", "e_sent_id", "f_sent_id")
    )


def crosslingual_doc_pairs(
    e_sents: DataFrame, f_sents_translated: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Candidate (e_docno, f_docno) pairs by cosine of whole-DOC
    translated vectors — the exact verification tier standing in for the
    pwsim LSH stage (which generates the same pairs approximately at
    scale; see ops/dedup.embedding_neardup_pairs_lsh for the bucketed
    production shape)."""
    def doc_vec(sents, docno_out):
        entries = sents.select("docno", F.explode("vector").alias("term", "w"))
        agg = entries.groupBy("docno", "term").agg(F.sum("w").alias("w"))
        return agg.groupBy("docno").agg(
            F.map_from_entries(F.collect_list(F.struct("term", "w"))).alias("vector")
        ).select(F.col("docno").alias(docno_out), F.col("vector"))

    e = doc_vec(e_sents, "e_docno").withColumnRenamed("vector", "e_vec")
    f = doc_vec(f_sents_translated, "f_docno").withColumnRenamed("vector", "f_vec")
    crossed = e.crossJoin(F.broadcast(f))
    scored = (
        crossed.withColumn(
            "e_norm",
            F.expr("sqrt(aggregate(map_values(e_vec), 0D, (acc, v) -> acc + v * v))"),
        )
        .withColumn(
            "f_norm",
            F.expr("sqrt(aggregate(map_values(f_vec), 0D, (acc, v) -> acc + v * v))"),
        )
        .withColumn("dot", F.expr(_DOT.format(a="e_vec", b="f_vec")))
        .withColumn(
            "cosine",
            F.when(
                (F.col("e_norm") > 0) & (F.col("f_norm") > 0),
                F.col("dot") / (F.col("e_norm") * F.col("f_norm")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return scored.filter(F.col("cosine") >= threshold).select("e_docno", "f_docno")


# ---------------------------------------------------------------------------
# oracle twin (brute force, pure python)
# ---------------------------------------------------------------------------


def oracle_parallel_sentence_pairs(
    e_docs: list[tuple[int, str]],
    f_docs: list[tuple[int, str]],
    ttable: dict[str, list[tuple[str, float]]],
    doc_pairs: set[tuple[int, int]],
    threshold: float = 0.5,
    max_length_ratio: float = 2.0,
    score_fn=None,
) -> list[dict]:
    """Brute-force golden: same sentence split / token regex / filters /
    translation / cosine, python floats. score_fn(cosine, e_len, f_len)
    -> score overrides the default cosine classifier substitution."""
    import math
    import re

    tok_rx = re.compile(TOKEN_RX)
    split_rx = re.compile(SENT_SPLIT_RX)

    def sentences(docs):
        out = {}
        for docno, text in docs:
            for sid, s in enumerate(split_rx.split(text)):
                if not s.strip():
                    continue
                toks = [t for t in tok_rx.findall(s.lower()) if len(t) <= 126]
                if len(toks) < MIN_SENTENCE_LENGTH:
                    continue
                vec: dict[str, float] = {}
                for t in toks:
                    vec[t] = vec.get(t, 0.0) + 1.0
                if len(vec) < MIN_VECTOR_TERMS:
                    continue
                out[(docno, sid)] = (s, len(toks), vec)
        return out

    e_s = sentences(e_docs)
    f_s = sentences(f_docs)
    out = []
    for (f_docno, f_sid), (f_sent, f_len, f_vec_raw) in sorted(f_s.items()):
        f_vec: dict[str, float] = {}
        for ft, w in f_vec_raw.items():
            for et, p in ttable.get(ft, []):
                f_vec[et] = f_vec.get(et, 0.0) + w * p
        if not f_vec:
            continue
        for (e_docno, e_sid), (e_sent, e_len, e_vec) in sorted(e_s.items()):
            if (e_docno, f_docno) not in doc_pairs:
                continue
            if e_len > max_length_ratio * f_len or f_len > max_length_ratio * e_len:
                continue
            dot = sum(w * f_vec.get(t, 0.0) for t, w in e_vec.items())
            en = math.sqrt(sum(w * w for w in e_vec.values()))
            fn = math.sqrt(sum(w * w for w in f_vec.values()))
            cos = dot / (en * fn) if en > 0 and fn > 0 else 0.0
            score = score_fn(cos, e_len, f_len) if score_fn else cos
            if score >= threshold:
                out.append(
                    {
                        "e_docno": e_docno, "f_docno": f_docno,
                        "e_sent_id": e_sid, "f_sent_id": f_sid,
                        "e_sentence": e_sent, "f_sentence": f_sent,
                        "cosine": round(cos, 6),
                    }
                )
    out.sort(key=lambda r: (r["e_docno"], r["f_docno"], r["e_sent_id"], r["f_sent_id"]))
    return out
