"""Inverted-index build pipeline (Ivory's preprocess + BuildIndex, Spark-first).

Stage map to the reference (see SURVEY.md §3.1):
  docmap     <- DocnoMapping build (app/PreprocessCollection.java:195-196)
                + sha256 exact dedup (our north-rule addition)
  tdf        <- BuildTermDocVectors (core/preprocess/BuildTermDocVectors.java)
                as (docno, term, tf, dl) rows — positions deferred
  doclens    <- doclengths.dat side-file job (BuildTermDocVectors.java:194-290)
  dictionary <- ComputeGlobalTermStatistics + BuildDictionary
                (core/preprocess/ComputeGlobalTermStatistics.java:50-116,
                 core/preprocess/BuildDictionary.java:143-167 — termid =
                 rank by df desc, term asc, starting at 1)
  postings   <- BuildIPInvertedIndexDocSorted (core/index/
                BuildIPInvertedIndexDocSorted.java:220-226: partition by
                termid, sort by (termid, docno), stream-encode) — here a
                *salted* groupBy().applyInPandas() with docno-range salts
                so a skewed term (e.g. "return" in ~every doc) splits into
                bounded, independently-scorable runs.

Scale notes (100 TB / 10^12 rows):
- sequential id assignment (docno, termid) is two-phase — range
  partition + per-partition offsets — never a single-task global window;
- the dictionary join is left to AQE (broadcast when small, shuffle
  otherwise); the salt count adapts per term (ceil(df / target_run));
- postings rows are written range-clustered by termid so Parquet
  row-group min/max stats give termid predicate pushdown to the Spark
  query paths (the LocalSearcher serving tier reads the termid and blob
  columns whole, once, and slices them in memory);
- every stage writes an artifact + manifest and is skipped when valid
  (checkpoint-resume; BuildTermDocVectors.java:346-350 made auditable).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ivory_spark.functions.scoring import bm25_idf, bm25_tf_part
from ivory_spark.index import codec
from ivory_spark.plans.manifest import StageRun, stage_is_valid

# byte budget of a forced broadcast (the docmap re-attach and the
# vocabulary-sized termid joins); past it they fall back to a
# shuffled-hash join
BROADCAST_BUDGET_BYTES = 256 * 1024 * 1024
# per-row JVM overhead headroom of a broadcast hash relation
_BROADCAST_ROW_OVERHEAD = 48
# docmap winners up to this many rows broadcast without a key-width
# probe job; past it the probe and BROADCAST_BUDGET_BYTES decide
DOCMAP_PROBE_SKIP_ROWS = 10_000


@dataclass
class IndexConfig:
    min_df: int = 1  # reference default is 2 (app/PreprocessCollection.java:154-157)
    max_df: int | None = None  # df-band upper cut (ComputeGlobalTermStatistics.java:92-111)
    k1: float = 1.2
    b: float = 0.75
    idf_mode: str = "okapi"
    salt_threshold: int = 250_000  # df above this → per-shard salted runs
    n_shards: int = 32  # global docno-range grid; raise with collection size
    partitions: int | None = None  # shuffle/write parallelism; None = session default
    tokenizer: str = "code_v1"
    positional: bool = False  # store position p-gaps (pos_blob column)


def _p(index_root: str, name: str) -> str:
    return os.path.join(index_root, name)


def assign_sequential_ids(
    df: DataFrame, order_cols: list[str], id_col: str, partitions: int
) -> DataFrame:
    """Dense 1-based ids in (order_cols) order, without a global window.

    Range-partition + sortWithinPartitions, count rows per partition,
    then add per-partition offsets inside mapInPandas — the scalable
    replacement for row_number() over a global Window (which would put
    every row through one task).

    The sorted frame is persisted before counting: repartitionByRange
    samples range boundaries per job, so without pinning, the counting
    job and the assignment job could see different partitionings and
    produce permuted ids. The *input* is persisted too: the range
    sampler otherwise re-runs the whole upstream plan (e.g. the dedup
    aggregation) once for sampling and again for the shuffle.
    """
    cols = [F.col(c) for c in order_cols]
    src = df.persist()
    sorted_df = src.repartitionByRange(partitions, *cols).sortWithinPartitions(*cols)
    with_pid = sorted_df.withColumn("_pid", F.spark_partition_id()).persist()
    counts = {r["_pid"]: r["cnt"] for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    total = sum(counts.values())
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += f", {id_col} long"

    def add_ids(it):
        seen = 0
        base = None
        for pdf in it:
            n = len(pdf)
            if n and base is None:
                base = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            if n:
                pdf[id_col] = np.arange(base + seen + 1, base + seen + 1 + n, dtype=np.int64)
            else:
                pdf[id_col] = np.array([], dtype=np.int64)
            seen += n
            yield pdf

    class _Pinned:
        def unpersist(self):
            with_pid.unpersist()
            src.unpersist()

    return with_pid.mapInPandas(add_ids, schema=out_schema), total, _Pinned()


def build_docmap(
    spark: SparkSession, corpus: DataFrame, partitions: int
) -> tuple[DataFrame, int, DataFrame]:
    """Dedup by sha256(content) (deterministic winner = min identity),
    then assign dense 1-based docnos ordered by (repo, path, commit).

    Every decision here depends only on (repo, path, commit, sha256) —
    ~100 bytes/row — never on the content payload, so the winner window
    and the two-phase docno assignment run over that slim projection and
    the content is re-attached at the end with one equi-join (guide §8:
    decide with small rows, move big rows once). The slim side is
    broadcast when it fits (content then crosses ZERO exchanges — the
    previous shape shuffled and persisted the full content column twice);
    past the broadcast budget it falls back to a shuffled-hash join, one
    content exchange. Precondition (holds for every corpus source here):
    (repo, path, commit) identifies a row — two fully identical rows
    would both survive the re-attach where the window picked one;
    build_index detects that case from the (free) written-row count and
    repairs it with a dropDuplicates(docno), restoring the
    exactly-one-survivor-per-hash contract."""
    w_cols = ["repo", "path", "commit"]
    keys = corpus.select(*w_cols, F.sha2(F.col("content"), 256).alias("sha256"))
    # winner per hash via partial-aggregated min(struct) — map-side
    # combine shrinks the shuffle to ~one row per distinct hash and
    # needs no per-partition sort, unlike the previous row_number window
    # (struct comparison is lexicographic by field, identical to
    # orderBy(repo, path, commit) rank-1)
    winners = (
        keys.groupBy("sha256")
        .agg(F.min(F.struct(*w_cols)).alias("_k"))
        .select("_k.repo", "_k.path", "_k.commit", "sha256")
    )
    slim, total, pinned = assign_sequential_ids(winners, w_cols, "docno", partitions)
    hashed = corpus.withColumn("sha256", F.sha2(F.col("content"), 256))
    join_key = w_cols + ["sha256"]
    # broadcast gate in BYTES, not rows: long repo/path strings could
    # push a row-counted gate into a multi-hundred-MB forced broadcast.
    # The width probe is one tiny agg over the already-persisted slim
    # frame (reads the cache, no recompute).
    broadcast_ok = False
    if total <= 1_000_000:
        if total <= DOCMAP_PROBE_SKIP_ROWS:
            # even pathological kB-scale keys stay tens of MB here — skip
            # the probe job entirely for the common small-corpus case
            broadcast_ok = True
        else:
            avg_w = (
                slim.agg(
                    F.avg(
                        F.length("repo") + F.length("path") + F.length("commit")
                    ).alias("w")
                ).collect()[0]["w"]
                or 0.0
            )
            # 64 hex sha + 8B docno + per-row java overhead headroom
            broadcast_ok = (
                total * (avg_w + 72 + _BROADCAST_ROW_OVERHEAD) <= BROADCAST_BUDGET_BYTES
            )
    if broadcast_ok:
        docmap = hashed.join(F.broadcast(slim), join_key)
    else:
        docmap = hashed.join(slim.hint("shuffle_hash"), join_key)
    docmap = docmap.select(*corpus.columns, "sha256", "docno")
    return docmap, total, pinned


def join_on_termid(
    runs: DataFrame, stats: DataFrame, n_terms: int, row_bytes: int
) -> DataFrame:
    """runs.join(stats, "termid") for a vocabulary-sized `stats` frame of
    n_terms rows, each about row_bytes wide: a broadcast while it fits
    BROADCAST_BUDGET_BYTES, else a shuffled-hash join on termid (a
    10^8-term vocabulary would pass Spark's 8 GB broadcast limit)."""
    if n_terms * (row_bytes + _BROADCAST_ROW_OVERHEAD) <= BROADCAST_BUDGET_BYTES:
        return runs.join(F.broadcast(stats), "termid")
    return runs.join(stats.hint("shuffle_hash"), "termid")


def _postings_schema(positional: bool = False) -> str:
    s = (
        "termid long, salt int, df int, cf long, n int, "
        "first_docno long, last_docno long, max_impact float, blob binary"
    )
    return s + (", pos_blob binary" if positional else "")


def build_index(
    spark: SparkSession,
    corpus_path: str,
    index_root: str,
    config: IndexConfig | None = None,
) -> dict:
    """Run all stages (skipping valid checkpoints); returns properties."""
    cfg = config or IndexConfig()
    partitions = cfg.partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # codec format participates in the fingerprint: a codec upgrade must
    # invalidate checkpointed postings rather than silently mis-decode
    fp = {"corpus": corpus_path, "conf": asdict(cfg), "codec": codec.FORMAT_VERSION}
    os.makedirs(index_root, exist_ok=True)

    docmap_path = _p(index_root, "docmap")
    tdf_path = _p(index_root, "tdf")
    doclens_path = _p(index_root, "doclens")
    dict_path = _p(index_root, "dictionary")
    postings_path = _p(index_root, "postings")
    props_path = _p(index_root, "properties.json")

    # ---- stage: docmap (dedup + docno assignment) -----------------------
    if not stage_is_valid(index_root, "docmap", fp, [docmap_path]):
        with StageRun(index_root, "docmap", fp) as run:
            corpus = spark.read.parquet(corpus_path)
            docmap, n_docs, pinned = build_docmap(spark, corpus, partitions)
            docmap.write.mode("overwrite").parquet(docmap_path)
            pinned.unpersist()
            # build_docmap's slim re-attach join assumes (repo, path,
            # commit) identifies a row; a corpus with fully identical
            # rows would fan the winner out to the same docno twice.
            # The footer-only count is free — detect the (pathological)
            # case and restore the exactly-one-survivor-per-hash
            # semantics by deduping on docno (fanned rows are identical
            # by construction: same key, same sha, hence same content).
            written = spark.read.parquet(docmap_path).count()
            if written != n_docs:
                fixed = spark.read.parquet(docmap_path).dropDuplicates(["docno"])
                tmp_path = docmap_path + "_dedup_tmp"
                fixed.write.mode("overwrite").parquet(tmp_path)
                import shutil as _sh

                _sh.rmtree(docmap_path)
                os.replace(tmp_path, docmap_path)
                run.metrics["duplicate_rows_repaired"] = int(written - n_docs)
            run.record_artifact(docmap_path)
            run.metrics["n_docs"] = n_docs
            run.metrics["partitions"] = partitions

    docmap = spark.read.parquet(docmap_path)

    # ---- stage: tdf (tokenize -> (docno, term, tf, dl)) ------------------
    if not stage_is_valid(index_root, "tdf", fp, [tdf_path]):
        with StageRun(index_root, "tdf", fp) as run:
            from ivory_spark.functions.tokenizer import get_tokenizer

            tok = get_tokenizer(cfg.tokenizer)
            if cfg.positional:
                tdf = tok.doc_terms_positional(docmap.select("docno", "content"))
            else:
                tdf = tok.doc_terms(docmap.select("docno", "content"))
            from pyspark.sql import Window
            # range-cluster by docno BEFORE the dl window: RangePartitioning
            # satisfies the window's ClusteredDistribution(docno), so this
            # replaces (not adds to) the window's hash exchange — and the
            # written files then cover disjoint docno ranges with tight
            # parquet min/max stats, so docno-selective readers (PRF
            # feedback-doc mining, forward-index lookups) prune to a few
            # row groups instead of scanning the whole artifact.
            tdf = tdf.repartitionByRange(partitions, "docno")
            w = Window.partitionBy("docno")
            tdf = tdf.withColumn("dl", F.sum("tf").over(w).cast("int"))
            tdf.write.mode("overwrite").parquet(tdf_path)
            # count() over plain parquet is footer-metadata only — cheap
            run.metrics["n_rows"] = spark.read.parquet(tdf_path).count()
            run.record_artifact(tdf_path)

    tdf = spark.read.parquet(tdf_path)

    # ---- stages: doclens + dictionary (independent — both read only the
    # tdf artifact — so they run as two concurrent driver threads; the
    # second job's tasks back-fill executors freed by the first job's
    # tail instead of waiting for a stage barrier, guide §2.6) ----------
    def _run_doclens() -> None:
        if stage_is_valid(index_root, "doclens", fp, [doclens_path]):
            return
        with StageRun(index_root, "doclens", fp) as run:
            dls = tdf.groupBy("docno").agg(F.first("dl").alias("doclen"))
            # docs with zero kept tokens still get a row (doclen 0)
            all_docs = docmap.select("docno").join(dls, "docno", "left").fillna(
                {"doclen": 0}
            )
            all_docs.write.mode("overwrite").parquet(doclens_path)
            run.record_artifact(doclens_path)

    def _run_dictionary() -> None:
        if stage_is_valid(index_root, "dictionary", fp, [dict_path]):
            return
        with StageRun(index_root, "dictionary", fp) as run:
            stats = tdf.groupBy("term").agg(
                F.count(F.lit(1)).cast("int").alias("df"),
                F.sum("tf").cast("long").alias("cf"),
            )
            if cfg.min_df > 1:
                stats = stats.filter(F.col("df") >= cfg.min_df)
            if cfg.max_df is not None:
                stats = stats.filter(F.col("df") <= cfg.max_df)
            # termid rank by (df desc, term asc), 1-based
            stats = stats.withColumn("neg_df", -F.col("df"))
            dictionary, n_terms, pinned = assign_sequential_ids(
                stats, ["neg_df", "term"], "termid", partitions
            )
            dictionary.drop("neg_df").write.mode("overwrite").parquet(dict_path)
            pinned.unpersist()
            run.record_artifact(dict_path)
            run.metrics["n_terms"] = n_terms

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_run_doclens), pool.submit(_run_dictionary)]
        for f in futures:
            f.result()  # re-raise stage failures

    dictionary = spark.read.parquet(dict_path)

    # ---- stage: properties -----------------------------------------------
    if not stage_is_valid(index_root, "properties", fp, [props_path]):
        with StageRun(index_root, "properties", fp):
            from ivory_spark.plans.manifest import load_manifest

            dm_manifest = load_manifest(index_root, "docmap")
            dict_manifest = load_manifest(index_root, "dictionary")
            n_docs = (
                dm_manifest["metrics"]["n_docs"] if dm_manifest else docmap.count()
            )
            n_terms = (
                dict_manifest["metrics"]["n_terms"] if dict_manifest else dictionary.count()
            )
            clen = spark.read.parquet(doclens_path).agg(F.sum("doclen")).collect()[0][0] or 0
            props = {
                "n_docs": int(n_docs),
                "collection_length": int(clen),
                "avgdl": (float(clen) / n_docs) if n_docs else 0.0,
                "n_terms": int(n_terms),
                **asdict(cfg),
                "format_version": codec.FORMAT_VERSION,
            }
            tmp = props_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(props, f, indent=2)
            os.replace(tmp, props_path)

    with open(props_path) as f:
        props = json.load(f)

    # ---- stage: postings (salted term-partitioned encode) ----------------
    if not stage_is_valid(index_root, "postings", fp, [postings_path]):
        with StageRun(index_root, "postings", fp) as run:
            # cf is a per-term constant the encode kernel never reads:
            # leave it out of the posting-row shuffle (8 B/row, ~20% of
            # the exchange at 500k docs — guide §2.3) and re-attach it to
            # the run-level rows (vocabulary-sized) after encoding
            joined = tdf.join(dictionary.select("term", "termid", "df"), "term").drop(
                "term"
            )
            postings = encode_postings(
                joined, cfg, props["n_docs"], props["avgdl"], partitions
            ).drop("cf")
            postings = join_on_termid(
                postings, dictionary.select("termid", "cf"), props["n_terms"],
                row_bytes=16,  # termid, cf
            )
            cols = [f.split()[0] for f in _postings_schema(cfg.positional).split(", ")]
            # cluster by termid for parquet row-group pruning at query time
            (
                postings.select(*cols)
                .repartitionByRange(partitions, "termid")
                .sortWithinPartitions("termid", "salt")
                .write.mode("overwrite")
                .parquet(postings_path)
            )
            run.metrics["n_runs"] = spark.read.parquet(postings_path).count()
            run.metrics["partitions"] = partitions
            run.record_artifact(postings_path)

    return props


def encode_postings(
    joined: DataFrame, cfg: IndexConfig, n_docs: int, avgdl: float, partitions: int
) -> DataFrame:
    """(termid, docno, tf, dl, df, cf [, positions]) rows -> encoded
    postings-run rows (shared by build_index and compact.append_delta).

    Skew mitigation: terms over the df threshold (common keywords) split
    into one run per global docno shard; rare terms keep a single run
    (salt = -1). The shard grid is GLOBAL — all salted terms share the
    same docno boundaries — so the WAND kernel can co-locate every query
    term's postings for a docno range."""
    k1, b, idf_mode = cfg.k1, cfg.b, cfg.idf_mode
    shard_expr = F.floor(
        F.col("docno") * F.lit(cfg.n_shards) / F.lit(n_docs + 1)
    ).cast("int")
    joined = joined.withColumn(
        "salt",
        F.when(F.col("df") > cfg.salt_threshold, shard_expr).otherwise(F.lit(-1)),
    )

    def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        """Encode every complete (termid, salt) run in a sorted
        slice — one output DataFrame for the whole slice (a
        per-group pandas frame would dominate wall time). Blobs come
        from codec.encode_frame, which vectorizes the varint/bitlen
        work across the entire slice instead of per block (byte-
        identical output, ~8x less encode CPU)."""
        t = pdf["termid"].to_numpy(np.int64)
        s = pdf["salt"].to_numpy(np.int64)
        docno = pdf["docno"].to_numpy(np.int64)
        tf = pdf["tf"].to_numpy(np.int64)
        dl = pdf["dl"].to_numpy(np.int64)
        dfs = pdf["df"].to_numpy(np.int64)
        has_cf = "cf" in pdf.columns
        chg = np.nonzero(np.concatenate(([True], (t[1:] != t[:-1]) | (s[1:] != s[:-1]))))[0]
        ends = np.concatenate((chg[1:], [len(t)]))
        idf_all = bm25_idf(n_docs, dfs, mode=idf_mode)
        imp_all = idf_all * bm25_tf_part(tf, dl, avgdl, k1, b)
        positional = "positions" in pdf.columns
        out = {
            "termid": t[chg],
            "salt": s[chg],
            "df": dfs[chg],
            "cf": pdf["cf"].to_numpy(np.int64)[chg] if has_cf
            else np.zeros(len(chg), dtype=np.int64),
            "n": ends - chg,
            "first_docno": docno[chg],
            "last_docno": docno[ends - 1],
            "max_impact": np.maximum.reduceat(imp_all, chg).astype(np.float32),
            "blob": codec.encode_frame(
                docno.astype(np.uint64), tf, dl, imp_all, chg, ends
            ),
        }
        if positional:
            pos_lists = pdf["positions"].to_numpy()
            out["pos_blob"] = [
                codec.encode_positions(
                    np.concatenate([np.asarray(p) for p in pos_lists[a:z]])
                    if z > a
                    else np.empty(0, dtype=np.int64),
                    tf[a:z],
                )
                for a, z in zip(chg, ends)
            ]
        return pd.DataFrame(out)

    def encode_partition(batches):
        # rows arrive sorted by (termid, salt, docno); a run can
        # straddle Arrow batches, so carry the tail group forward
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            n = len(pdf)
            if n == 0:
                continue
            t = pdf["termid"].to_numpy()
            s = pdf["salt"].to_numpy()
            same_as_last = (t == t[-1]) & (s == s[-1])
            # first index of the trailing group
            tail_start = n - int(same_as_last[::-1].argmin()) if not same_as_last.all() else 0
            if same_as_last.all():
                carry = pdf
                continue
            carry = pdf.iloc[tail_start:]
            body = pdf.iloc[:tail_start]
            if len(body):
                yield encode_groups(body)
        if carry is not None and len(carry):
            yield encode_groups(carry)

    return (
        joined.repartition(partitions, "termid", "salt")
        .sortWithinPartitions("termid", "salt", "docno")
        .mapInPandas(encode_partition, schema=_postings_schema(cfg.positional))
    )
