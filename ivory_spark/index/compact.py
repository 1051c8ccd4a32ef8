"""Incremental index maintenance: fold a document delta (any parquet
delta in the corpus schema) into an existing index without rebuilding
it.

append_delta dedups the delta and folds its documents into the
inverted index as NEW docno-disjoint postings runs — the same
multi-run-per-term representation salted builds already use
(index/build.py encode_postings), so every query path reads appended
runs with zero changes. The reference's analogue is re-running
its MapReduce build over the grown collection
(ivory/app/PreprocessCollection.java); here appending is shuffle-light:
delta-only tokenize + stats, one postings encode over delta rows, and a
dictionary/doclens merge. The writes run one after another: docmap,
tdf, doclens and the new dictionary, then the postings encode, which
needs the merged dictionary and stats; then the serve image of the new
generation (index/image.py), and the properties file, the commit point,
last. (Running the independent ones on concurrent
driver threads cut the append's wall time on the 2,000-doc benchmark
corpus by less than its run-to-run spread and left build_ingest's
throughput unresolved, so they stay serial.)

Correctness contract:
- content-level exact dedup spans the delta (the minimum (repo, path,
  commit) identity keeps repeated content) and the base index (delta
  docs whose sha256 already exists in the base docmap are dropped — the
  north-rule content invariant);
- merged df/cf/doclen/n_docs/avgdl equal a full rebuild's, so the
  EXACT BM25 path scores identically to a full rebuild (modulo the
  termid fold order for multi-term queries: appended indexes keep the
  base termid ranking and append new termids, while a full rebuild
  re-ranks by merged df — same float32 values folded in a different
  canonical order);
- stored per-run max_impact bounds were computed against the stats at
  ENCODE time, and appending grows n_docs/avgdl, which can push true
  impacts ABOVE the stale bounds (okapi idf rises with N; tf_part rises
  with avgdl) — an unsafe direction for WAND pruning. append_delta
  therefore marks properties["bounds_stale"] = True; the WAND path
  refuses stale bounds until refresh_bounds() re-derives every run's
  impacts under current stats (run_batch and LocalSearcher read no
  bounds and serve the appended index at once) —
  a shuffle-free, embarrassingly-parallel pass that decodes and
  re-encodes each Arrow batch of runs as one frame
  (codec.decode_frame / codec.encode_frame).

Limitations (documented, asserted): min_df == 1 and max_df is None
(df-band cuts depend on merged stats and would need base tdf rows for
terms crossing the band).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ivory_spark.functions.scoring import bm25_idf, bm25_tf_part
from ivory_spark.index import codec, image
from ivory_spark.index.build import (
    IndexConfig,
    assign_sequential_ids,
    encode_postings,
    join_on_termid,
)
from ivory_spark.index.reader import artifact_rows, read_artifact


def append_delta(
    spark: SparkSession, index_root: str, delta_corpus_path: str
) -> dict:
    """Fold the documents at delta_corpus_path (same corpus schema) into
    the index at index_root. Returns the updated properties dict.

    Lineage: each append writes a StageRun manifest
    (_manifests/append_<k>.json) with wall time + row metrics, matching
    the per-stage lineage the build pipeline records. Crash safety: the
    properties file is written LAST; a crash mid-append leaves artifact
    rows beyond properties' n_docs/df counts, which validate_index
    detects (docno density + posting-count-vs-df checks) and
    repair_partial_append removes."""
    from ivory_spark.plans.manifest import StageRun

    props_path = os.path.join(index_root, "properties.json")
    with open(props_path) as f:
        props = json.load(f)
    append_idx = len(props.get("appended_deltas", []))
    with StageRun(
        index_root, f"append_{append_idx}", {"delta": delta_corpus_path}
    ) as run:
        props = _append_delta_inner(spark, index_root, delta_corpus_path, props, run)
    return props


def _append_delta_inner(
    spark: SparkSession, index_root: str, delta_corpus_path: str, props: dict, run
) -> dict:
    if props.get("min_df", 1) != 1 or props.get("max_df") is not None:
        raise ValueError("append_delta requires min_df=1 and max_df=None")
    cfg = IndexConfig(
        **{k: props[k] for k in IndexConfig.__dataclass_fields__ if k in props}
    )
    partitions = cfg.partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_docs0 = props["n_docs"]

    from ivory_spark.functions.tokenizer import get_tokenizer

    docmap_path = os.path.join(index_root, "docmap")
    base_docmap = read_artifact(spark, docmap_path)

    # 1. dedup the delta: within itself (min identity wins) and against
    #    the base docmap's content hashes
    from pyspark.sql import Window

    delta = spark.read.parquet(delta_corpus_path)
    hashed = delta.withColumn("sha256", F.sha2(F.col("content"), 256))
    w = Window.partitionBy("sha256").orderBy("repo", "path", "commit")
    # align to the base docmap's columns, in their order, so the parquet
    # append stays schema-homogeneous (a delta may carry extra columns
    # like an ingest timestamp, and the anti-join moves its key to the front)
    base_cols = [c for c in base_docmap.columns if c != "docno"]
    fresh = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(base_docmap.select("sha256"), "sha256", "left_anti")
        .select(*base_cols)
    )
    new_docs, n_new, pinned = assign_sequential_ids(
        fresh, ["repo", "path", "commit"], "docno", partitions
    )
    if n_new == 0:
        pinned.unpersist()
        return props
    new_docs = new_docs.withColumn("docno", F.col("docno") + F.lit(n_docs0))
    new_docs.write.mode("append").parquet(docmap_path)

    # 2. tokenize the delta only, from the pinned new_docs frame
    tok = get_tokenizer(cfg.tokenizer)
    if cfg.positional:
        tdf = tok.doc_terms_positional(new_docs.select("docno", "content"))
    else:
        tdf = tok.doc_terms(new_docs.select("docno", "content"))
    tdf = tdf.repartitionByRange(partitions, "docno")
    wdl = Window.partitionBy("docno")
    tdf = tdf.withColumn("dl", F.sum("tf").over(wdl).cast("int"))
    tdf.write.mode("append").parquet(os.path.join(index_root, "tdf"))
    tdf = read_artifact(spark, os.path.join(index_root, "tdf")).filter(
        F.col("docno") > n_docs0
    )

    # 3. doclens append (docs with zero kept tokens still get a row)
    dls = tdf.groupBy("docno").agg(F.first("dl").alias("doclen"))
    all_new = new_docs.select("docno").join(dls, "docno", "left").fillna({"doclen": 0})
    all_new.write.mode("append").parquet(os.path.join(index_root, "doclens"))
    pinned.unpersist()

    # 4. dictionary merge: existing terms keep their termid with df/cf
    #    incremented; new terms get termids beyond the current max,
    #    ranked by (delta df desc, term asc) — deterministic
    dict_path = os.path.join(index_root, "dictionary")
    base_dict = read_artifact(spark, dict_path)
    delta_stats = tdf.groupBy("term").agg(
        F.count(F.lit(1)).cast("int").alias("df_d"),
        F.sum("tf").cast("long").alias("cf_d"),
    )
    merged = (
        base_dict.join(delta_stats, "term", "left")
        .fillna({"df_d": 0, "cf_d": 0})
        .select(
            "term",
            (F.col("df") + F.col("df_d")).cast("int").alias("df"),
            (F.col("cf") + F.col("cf_d")).cast("long").alias("cf"),
            "termid",
        )
    )
    new_terms = delta_stats.join(base_dict.select("term"), "term", "left_anti")
    n_terms0 = props["n_terms"]
    new_dict, n_new_terms, pinned2 = assign_sequential_ids(
        new_terms.withColumn("neg_df", -F.col("df_d")).select(
            "term", "neg_df", F.col("df_d").alias("df"), F.col("cf_d").alias("cf")
        ),
        ["neg_df", "term"],
        "termid",
        partitions,
    )
    new_dict = new_dict.withColumn("termid", F.col("termid") + F.lit(n_terms0)).drop(
        "neg_df"
    )
    updated = merged.unionByName(new_dict.select("term", "df", "cf", "termid"))
    tmp_dict = dict_path + "_tmp"
    updated.write.mode("overwrite").parquet(tmp_dict)
    pinned2.unpersist()
    dictionary = read_artifact(spark, tmp_dict)

    # 5. properties BEFORE postings encode: the delta runs' impacts use
    #    the merged stats (they are the freshest bounds in the index)
    clen0 = props["collection_length"]
    clen_d = dls.agg(F.sum("doclen")).collect()[0][0] or 0
    n_docs1 = n_docs0 + n_new
    props.update(
        n_docs=int(n_docs1),
        collection_length=int(clen0 + clen_d),
        avgdl=float(clen0 + clen_d) / n_docs1,
        n_terms=int(n_terms0 + n_new_terms),
        bounds_stale=True,
        generation=props.get("generation", 0) + 1,
        appended_deltas=props.get("appended_deltas", [])
        + [{"path": delta_corpus_path, "n_docs": int(n_new)}],
    )

    # 6. encode delta postings as new runs (docno-disjoint from all base
    #    runs by construction) and append to the postings artifact
    joined = tdf.join(dictionary.select("term", "termid", "df", "cf"), "term").drop("term")
    postings = encode_postings(joined, cfg, props["n_docs"], props["avgdl"], partitions)
    postings.write.mode("append").parquet(os.path.join(index_root, "postings"))

    # 7. swap the dictionary, write the serve image of the new
    #    generation and persist properties (last: readers that see the
    #    old properties read a consistent old index and its image). The old
    #    dictionary is RENAMED aside, not deleted, until after the
    #    properties commit — every crash window leaves either the old or
    #    the new dictionary recoverable (repair_partial_append decides by
    #    comparing the live dictionary's row count to properties'
    #    n_terms).
    import shutil

    old_dict = dict_path + "_old"
    if os.path.exists(old_dict):
        shutil.rmtree(old_dict)
    os.rename(dict_path, old_dict)
    os.rename(tmp_dict, dict_path)
    image.write_image(index_root, props)
    _commit(index_root, props)
    shutil.rmtree(old_dict)
    run.metrics.update(
        n_docs_added=int(n_new),
        n_new_terms=int(n_new_terms),
        collection_length_added=int(clen_d),
        delta=delta_corpus_path,
    )
    return props


def repair_partial_append(spark: SparkSession, index_root: str) -> dict:
    """Remove artifact rows left behind by a crashed append_delta (rows
    beyond the last committed properties): docmap/tdf/doclens rows with
    docno > n_docs, postings runs whose first_docno > n_docs, and a
    leftover dictionary_tmp, and every serve image but the committed
    one, which is rewritten from the repaired artifacts. After repair,
    validate_index passes and the append can simply be retried (the
    properties file is the commit point, so the committed index was
    never touched)."""
    props_path = os.path.join(index_root, "properties.json")
    with open(props_path) as f:
        props = json.load(f)
    if "generation" not in props:
        # written before serve images: no committed image to rewrite
        raise ValueError(
            f"index at {index_root} has no serve image generation; rebuild the index"
        )
    n_docs = props["n_docs"]
    import shutil

    # dictionary: if a crash interrupted the swap, dictionary_old holds
    # the pre-append copy. Keep whichever version matches the committed
    # properties (current count == n_terms → the commit happened; else
    # restore the old copy, consistent with the row pruning below).
    dict_path = os.path.join(index_root, "dictionary")
    old_dict = dict_path + "_old"
    if os.path.exists(old_dict):
        cur_ok = (
            os.path.exists(dict_path)
            and artifact_rows(dict_path) == props["n_terms"]
        )
        if cur_ok:
            shutil.rmtree(old_dict)
        else:
            if os.path.exists(dict_path):
                shutil.rmtree(dict_path)
            os.rename(old_dict, dict_path)
    # postings: a *_old left by refresh_bounds — any complete directory
    # is score-equivalent (refresh changes bounds only), so the live one
    # wins and the leftover is dropped; if the live one is missing the
    # rename itself crashed, restore the old copy.
    postings_path = os.path.join(index_root, "postings")
    old_post = postings_path + "_old"
    if os.path.exists(old_post):
        if os.path.exists(postings_path):
            shutil.rmtree(old_post)
        else:
            os.rename(old_post, postings_path)
    for leftover in ("dictionary_tmp", "postings_tmp"):
        lp = os.path.join(index_root, leftover)
        if os.path.exists(lp):
            shutil.rmtree(lp)
    for name, col in (("docmap", "docno"), ("tdf", "docno"),
                      ("doclens", "docno"), ("postings", "first_docno")):
        path = os.path.join(index_root, name)
        kept = read_artifact(spark, path).filter(F.col(col) <= n_docs)
        if kept.count() == artifact_rows(path):
            continue
        tmp = path + "_repair"
        kept.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
    # the committed image, rewritten from the repaired artifacts (a
    # rewritten postings directory can order a term's runs differently),
    # and no image of an uncommitted generation
    image.write_image(index_root, props)
    image.prune(index_root, props["generation"])
    return props


def refresh_bounds(spark: SparkSession, index_root: str) -> dict:
    """Re-derive every postings run's impact bounds (per-run max_impact +
    in-blob block directory) under the CURRENT n_docs/avgdl/df stats, and
    clear bounds_stale so WAND pruning is safe again.

    Shuffle-free: one mapInPandas pass over the postings rows, vectorized
    a frame at a time: each Arrow batch of runs is decoded by one
    codec.decode_frame call, its float32 impacts are computed as
    build.encode_groups computes them, and it is re-encoded by one
    codec.encode_frame call. With stats unchanged since encode, the
    rows come out byte-identical to the build's. At cluster scale this
    is embarrassingly parallel over parquet splits. The new blobs reach
    the serving tier as the serve image of the next generation."""
    props_path = os.path.join(index_root, "properties.json")
    with open(props_path) as f:
        props = json.load(f)
    n_docs, avgdl = props["n_docs"], props["avgdl"]
    k1, b, idf_mode = props["k1"], props["b"], props["idf_mode"]
    positional = props.get("positional", False)
    postings_path = os.path.join(index_root, "postings")
    posts = read_artifact(spark, postings_path)
    # current df per termid (append keeps per-run df at encode-time value)
    cur = read_artifact(spark, os.path.join(index_root, "dictionary")).select(
        "termid", F.col("df").alias("df_now"), F.col("cf").alias("cf_now")
    )
    joined = join_on_termid(posts, cur, props["n_terms"], row_bytes=20)  # termid, df, cf

    cols = (
        "termid long, salt int, df int, cf long, n int, first_docno long, "
        "last_docno long, max_impact float, blob binary"
        + (", pos_blob binary" if positional else "")
    )

    def reencode(batches):
        for pdf in batches:
            d, tf, dl, indptr = codec.decode_frame(pdf["blob"].tolist())
            n = np.diff(indptr)
            idf = bm25_idf(n_docs, pdf["df_now"].to_numpy(np.int64), mode=idf_mode)
            # build.encode_groups' float32 impact expression, so runs
            # whose stats did not change re-encode byte-identically
            imp = np.repeat(idf, n) * bm25_tf_part(tf, dl, avgdl, k1, b)
            maxes = np.zeros(len(n), dtype=np.float32)
            if n.any():
                maxes[n > 0] = np.maximum.reduceat(imp, indptr[:-1][n > 0])
            out = pdf.drop(columns=["blob", "max_impact"]).copy()
            out["blob"] = codec.encode_frame(d, tf, dl, imp, indptr[:-1], indptr[1:])
            out["max_impact"] = maxes
            out["df"] = pdf["df_now"].astype("int32")
            out["cf"] = pdf["cf_now"].astype("int64")
            out = out.drop(columns=["df_now", "cf_now"])
            yield out[[c.split(" ")[0] for c in cols.split(", ")]]

    refreshed = joined.mapInPandas(reencode, schema=cols)
    tmp_path = postings_path + "_tmp"
    refreshed.write.mode("overwrite").parquet(tmp_path)
    import shutil

    # rename the live artifact aside instead of deleting it: every crash
    # window leaves a complete postings directory for
    # repair_partial_append to restore
    old_path = postings_path + "_old"
    if os.path.exists(old_path):
        shutil.rmtree(old_path)
    os.rename(postings_path, old_path)
    os.rename(tmp_path, postings_path)
    shutil.rmtree(old_path)
    props.update(bounds_stale=False, generation=props.get("generation", 0) + 1)
    image.write_image(index_root, props)
    _commit(index_root, props)
    return props


def _commit(index_root: str, props: dict) -> None:
    """Write properties.json, the commit point, then delete the serve
    images it superseded."""
    props_path = os.path.join(index_root, "properties.json")
    tmp = props_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(props, f, indent=2)
    os.replace(tmp, props_path)
    image.prune(index_root, props["generation"])