"""Post-build index validation — Ivory's posting-count check (A9) widened.

Reference: the reducer hard-errors if the number of postings appended to
a term's list differs from its df
(ivory/core/index/BuildIPInvertedIndexDocSorted.java:155-161,200-208).
Here the same invariant (sum of run lengths per termid == dictionary df)
plus structural checks run as DataFrame assertions after the build, and
the serve image is checked against the artifacts it is derived from.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from ivory_spark.index.image import image_differs
from ivory_spark.index.reader import Index


class IndexValidationError(AssertionError):
    pass


def validate_index(spark: SparkSession, index: Index) -> dict:
    """Raises IndexValidationError on any violated invariant; returns
    a metrics dict on success."""
    checks: dict[str, int] = {}

    # postings count per term == df (A9)
    runs = index.postings.groupBy("termid").agg(F.sum("n").alias("n_post"))
    joined = runs.join(index.dictionary.select("termid", "df"), "termid", "full")
    bad = joined.filter(
        F.col("n_post").isNull() | F.col("df").isNull() | (F.col("n_post") != F.col("df"))
    ).count()
    if bad:
        raise IndexValidationError(f"{bad} termids with posting count != df")
    checks["terms_checked"] = joined.count()

    # termids dense 1..n_terms
    agg = index.dictionary.agg(
        F.min("termid").alias("lo"),
        F.max("termid").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("termid").alias("nd"),
    ).collect()[0]
    if not (agg["lo"] == 1 and agg["hi"] == agg["n"] == agg["nd"]):
        raise IndexValidationError(f"termids not dense 1..n: {agg}")

    # docnos dense 1..n_docs, doclens complete
    dagg = index.docmap.agg(
        F.min("docno").alias("lo"), F.max("docno").alias("hi"),
        F.count(F.lit(1)).alias("n"), F.countDistinct("docno").alias("nd"),
    ).collect()[0]
    if not (dagg["lo"] == 1 and dagg["hi"] == dagg["n"] == dagg["nd"] == index.n_docs):
        raise IndexValidationError(f"docnos not dense 1..n_docs: {dagg}")
    if index.doclens.count() != index.n_docs:
        raise IndexValidationError("doclens row count != n_docs")

    # salted runs are docno-range disjoint per term
    from pyspark.sql import Window

    w = Window.partitionBy("termid").orderBy("first_docno")
    overlap = (
        index.postings.withColumn("prev_last", F.lag("last_docno").over(w))
        .filter(F.col("prev_last").isNotNull() & (F.col("first_docno") <= F.col("prev_last")))
        .count()
    )
    if overlap:
        raise IndexValidationError(f"{overlap} overlapping salted runs")

    # the committed serve image is the parquet artifacts' (index/image.py)
    differs = image_differs(index.root, index.properties)
    if differs:
        raise IndexValidationError(f"serve image differs from the artifacts in: {differs}")

    checks["n_runs"] = index.postings.count()
    checks["n_docs"] = index.n_docs
    return checks
