"""Relational (SQL-oracle-checkable) formulations of the IR pipeline.

These run the SURVEY.md §2 operators over the driver's `documents` table
(whitespace tokenization so a DuckDB oracle can reproduce them exactly):
term stats (A1), dictionary (A8), doc lengths (A2/A3), postings rows
(A5/H1 logical content), term positions (P1), BM25 / Dirichlet / TF-IDF
scoring (F1/F2/F5) with top-k (K1/K2) and conjunctive posting-list
intersection (J4/J5).

Scores here are double-precision (both Spark and DuckDB compute doubles)
rounded to 4 dp, with top-k selection on the *rounded* score and doc_id
tie-break so the two engines select identical rows. The engine-native
float32 rank-identity is tested separately against the numpy oracle
(tests/test_rank_identity.py); this module exists so an independent SQL
engine can audit the relational semantics.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ivory_spark.session import local_frame

K1 = 1.2
B = 0.75
MU = 2500.0

# gate query set over the documents table vocabulary
GATE_QUERIES = [
    {"qid": "g1", "query": "merge sort join"},
    {"qid": "g2", "query": "the fast key"},
    {"qid": "g3", "query": "spark window batch"},
    {"qid": "g4", "query": "data data stream"},  # duplicate token → qtf 2
    {"qid": "g5", "query": "zzz_nonexistent spark"},  # partial OOV
]
CONJ_TERMS = ["data", "join", "sort"]


def tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, term) — one row per token occurrence."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    return docs.select(F.col("doc_id"), F.explode(toks).alias("term"))


def term_stats(docs: DataFrame) -> DataFrame:
    """(term, df, cf). Two plain partial-aggregated groupBys — counting
    (term, doc_id) groups — instead of countDistinct-next-to-count,
    which Catalyst plans as an Expand that doubles every exploded token
    row before the first exchange (guide §2.3: shuffle fewer bytes).
    df = number of (term, doc_id) groups = countDistinct(doc_id);
    cf = sum of per-doc counts = count of occurrences. Identical values."""
    per_doc = tokens(docs).groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tfc")
    )
    return per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("int").alias("df"),
        F.sum("tfc").alias("cf"),
    )


def dictionary(docs: DataFrame) -> DataFrame:
    """(term, termid, df, cf), termid = rank by (df desc, term asc).
    Small result set → a plain window is fine here; the engine-native
    build uses the two-phase range-partition assigner for scale."""
    st = term_stats(docs)
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return st.withColumn("termid", F.row_number().over(w)).select(
        "term", "termid", "df", "cf"
    )


def doclens(docs: DataFrame) -> DataFrame:
    return tokens(docs).groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("doclen"))


def postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — the logical content of the inverted index."""
    return tokens(docs).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("int").alias("tf")
    )


def term_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, term, pos) — 1-based token positions (TermDocVector)."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    return docs.select(F.col("doc_id"), F.posexplode(toks).alias("pos0", "term")).select(
        "doc_id", "term", (F.col("pos0") + 1).cast("int").alias("pos")
    )


def _query_df(spark: SparkSession, queries: list[dict]) -> DataFrame:
    rows = []
    for q in queries:
        toks = [t for t in q["query"].lower().split(" ") if t]
        for term, qtf in sorted(Counter(toks).items()):
            rows.append((q["qid"], term, qtf))
    return local_frame(spark, rows, "qid string, term string, qtf int")


def _candidates(spark: SparkSession, docs: DataFrame, queries: list[dict]) -> DataFrame:
    """(qid, doc_id, term, qtf, tf, doclen, df) + global (n, avgdl) columns.

    One documents scan instead of four: df and doclen are window
    aggregates over the single (doc_id, term, tf) aggregation rather
    than three independent re-derivations re-scanned and equi-joined
    back (guide §2.4 — remove shuffles/passes outright). The global
    (n, avgdl) pair needs one more (cheap, fully aggregated) scan.
    Values are unchanged: doclen = sum(tf) per doc = token count;
    df = count of (term, doc_id) groups = countDistinct(doc_id);
    avgdl = clen / n is the same long/long double division avg() does."""
    qterms = sorted(
        {t for q in queries for t in q["query"].lower().split(" ") if t}
    )
    tf = postings(docs)
    # dl first (needs every term of a doc), then prune to query terms —
    # the df window then sorts only the query terms' postings, not the
    # whole corpus vocabulary (df per surviving term is unchanged: the
    # term filter drops whole term-partitions, never rows within one)
    enr = (
        tf.withColumn(
            "doclen", F.sum("tf").over(Window.partitionBy("doc_id")).cast("int")
        )
        .filter(F.col("term").isin(qterms))
        .withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("int")
        )
    )
    toks = tokens(docs)
    glob = toks.agg(
        F.countDistinct("doc_id").alias("n"),
        (F.count(F.lit(1)) / F.countDistinct("doc_id")).alias("avgdl"),
    )
    q = _query_df(spark, queries)
    return q.join(enr, "term").crossJoin(F.broadcast(glob))


def bm25_scores(spark: SparkSession, docs: DataFrame, queries: list[dict]) -> DataFrame:
    """(qid, doc_id, score) — all candidate docs, rounded to 4 dp."""
    cand = _candidates(spark, docs, queries)
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = ((K1 + 1) * F.col("tf")) / (
        K1 * ((1 - B) + B * F.col("doclen") / F.col("avgdl")) + F.col("tf")
    )
    contrib = F.col("qtf") * idf * tf_part
    return (
        cand.withColumn("contrib", contrib)
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )


def bm25_top10(spark: SparkSession, docs: DataFrame, queries: list[dict]) -> DataFrame:
    """(qid, rank, doc_id, score): top-10 by rounded score, doc_id tie-break."""
    s = bm25_scores(spark, docs, queries)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("qid", "rank", "doc_id", "score")
    )


def tfidf_scores(spark: SparkSession, docs: DataFrame, queries: list[dict]) -> DataFrame:
    cand = _candidates(spark, docs, queries)
    contrib = F.col("qtf") * F.col("tf") * F.log(F.col("n") / F.col("df"))
    return (
        cand.withColumn("contrib", contrib)
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )


def dirichlet_top10(spark: SparkSession, docs: DataFrame, queries: list[dict]) -> DataFrame:
    """Query-likelihood with Dirichlet smoothing, mu=2500
    (DirichletScoringFunction.java:30-66): candidate docs = docs matching
    >= 1 query term; every in-dictionary query term contributes
    (tf = 0 smoothed by the collection model when absent)."""
    tf = postings(docs)
    dl = doclens(docs)
    st = term_stats(docs).select("term", "cf")
    clen = tokens(docs).agg(F.count(F.lit(1)).alias("clen"))
    q = _query_df(spark, queries).join(st, "term")  # OOV terms drop
    cand_docs = q.join(tf, "term").select("qid", "doc_id").distinct()
    full = (
        cand_docs.join(q, "qid")
        .join(tf, ["doc_id", "term"], "left")
        .fillna({"tf": 0})
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(clen))
    )
    contrib = F.col("qtf") * F.log(
        (F.col("tf") + MU * F.col("cf") / F.col("clen")) / (F.col("doclen") + MU)
    )
    scored = (
        full.withColumn("contrib", contrib)
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("qid", "rank", "doc_id", "score")
    )


def conjunctive_docs(docs: DataFrame, terms: list[str] | None = None) -> DataFrame:
    """Posting-list intersection (AND of all terms) — the relational form
    of bloomir's SmallAdaptiveRanker conjunctive candidate generation."""
    terms = terms or CONJ_TERMS
    p = postings(docs).filter(F.col("term").isin(terms))
    return (
        p.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("doc_id")
    )
