"""Structured-Streaming ingestion for incremental index maintenance.

The reference is batch-only (SURVEY.md §1.3: no streaming code paths;
index builds are skip-if-exists batch jobs). This module adds the Spark
native increment path a production corpus pipeline needs: newly landed
documents stream in, are deduped against the batch index's sha256 set,
tokenized with the SAME tokenizer, and their (term, df, cf) deltas are
emitted so a periodic compaction job can fold them into the dictionary —
the streaming analogue of Ivory re-running ComputeGlobalTermStatistics.

Tested via the memory sink + processAllAvailable() (synchronous drain),
per the Structured Streaming testing pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ivory_spark.functions.tokenizer import tokens_expr

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("ingest_ts", T.TimestampType()),
    ]
)

# The quality gate's own short stopword list. functions/stopwords has a
# 330-word list; swapping it in would change which docs the gate drops.
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


def read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def incremental_term_stats(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Windowed (term, df, cf) deltas with late-data handling."""
    toks = stream.withWatermark("ingest_ts", watermark).select(
        "ingest_ts", F.explode(tokens_expr(F.col("content"))).alias("term")
    )
    return (
        toks.groupBy(F.window("ingest_ts", "1 minute"), "term")
        .agg(F.count(F.lit(1)).alias("cf_delta"))
    )


def streaming_exact_dedup(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming arm of the exact-dedup north rule: drop any document
    whose sha256(content) was already seen within the watermark horizon
    (dropDuplicatesWithinWatermark keeps state bounded — the streaming
    analogue of build_docmap's batch groupBy winner). Docs surviving here
    still dedup against the batch index at compaction time."""
    hashed = stream.withWatermark("ingest_ts", watermark).withColumn(
        "sha256", F.sha2(F.col("content"), 256)
    )
    return hashed.dropDuplicatesWithinWatermark(["sha256"])


def streaming_quality_filter(
    stream: DataFrame, min_tokens: int = 5, max_stopword_ratio: float = 0.9
) -> DataFrame:
    """Stateless quality gate on the ingest stream: token count and
    STOPWORDS_EN ratio are column expressions that compose directly onto
    readStream (JVM codegen, no state), so low-quality docs are dropped
    before they cost index work."""
    toks = tokens_expr(F.col("content"))
    stop_arr = F.array(*[F.lit(s) for s in sorted(STOPWORDS_EN)])
    n = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return (
        stream.withColumn("_n", n)
        .withColumn("_sr", F.when(F.col("_n") > 0, n_stop / F.col("_n")).otherwise(F.lit(1.0)))
        .filter((F.col("_n") >= min_tokens) & (F.col("_sr") <= max_stopword_ratio))
        .drop("_n", "_sr")
    )


def run_to_memory(df: DataFrame, name: str):
    """Drain all available input synchronously into a memory table."""
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_parquet(df: DataFrame, path: str, checkpoint: str):
    """Drain all available input synchronously into a parquet directory —
    the delta staging area that index/compact.append_delta folds into the
    batch index (the stream handles watermark-horizon dedup; the append
    dedups against the whole base via the docmap sha256 anti-join)."""
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
