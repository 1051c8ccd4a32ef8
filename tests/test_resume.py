"""Checkpoint-resume: a build interrupted after an early stage must reuse
valid artifacts and produce identical results (FIXTURES.md §5 'resume'
axis; reference skip-if-exists: BuildTermDocVectors.java:346-350)."""

import json
import os
import shutil

from ivory_spark.corpus import QUERY_SET
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.plans.manifest import load_manifest
from ivory_spark.query.wand import bm25_topk_wand


def test_resume_after_partial_build(spark, tiny_corpus_path, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, tiny_corpus_path, root, IndexConfig())

    # simulate a crash between 'dictionary' and 'postings': wipe the later
    # artifacts + manifests, keep the early ones
    shutil.rmtree(os.path.join(root, "postings"))
    os.remove(os.path.join(root, "_manifests", "postings.json"))
    docmap_mtime = os.path.getmtime(os.path.join(root, "_manifests", "docmap.json"))

    props = build_index(spark, tiny_corpus_path, root, IndexConfig())
    # early stage was NOT re-run (manifest untouched)
    assert os.path.getmtime(os.path.join(root, "_manifests", "docmap.json")) == docmap_mtime
    assert load_manifest(root, "postings")["status"] == "complete"

    index = open_index(spark, root)
    res = bm25_topk_wand(spark, index, QUERY_SET[:3], k=5).collect()
    assert len(res) > 0
    assert props["n_docs"] > 0


def test_config_change_invalidates(spark, tiny_corpus_path, tmp_path):
    root = str(tmp_path / "idx2")
    build_index(spark, tiny_corpus_path, root, IndexConfig())
    m1 = load_manifest(root, "dictionary")
    # different config fingerprint → stages must re-run
    build_index(spark, tiny_corpus_path, root, IndexConfig(min_df=2))
    m2 = load_manifest(root, "dictionary")
    assert m1["input_fingerprint"] != m2["input_fingerprint"]
    with open(os.path.join(root, "properties.json")) as f:
        assert json.load(f)["min_df"] == 2


def test_manifest_lineage_metrics(spark, tiny_corpus_path, tmp_path):
    root = str(tmp_path / "idx3")
    build_index(spark, tiny_corpus_path, root, IndexConfig())
    for stage in ["docmap", "tdf", "doclens", "dictionary", "properties", "postings",
                  "serve_image"]:
        m = load_manifest(root, stage)
        assert m["status"] == "complete", stage
        assert m["wall_time_sec"] >= 0
    assert load_manifest(root, "docmap")["metrics"]["n_docs"] > 0
    assert load_manifest(root, "postings")["metrics"]["n_runs"] > 0


def test_open_index_refuses_foreign_format_version(spark, tiny_corpus_path, tmp_path):
    """A codec version bump must be refused at open time with a clear
    error — decoding a different blob layout would produce garbage, not
    an exception (VERDICT-style silent-corruption guard)."""
    import json
    import os

    import pytest

    from ivory_spark.index.build import IndexConfig, build_index
    from ivory_spark.index.reader import open_index

    root = str(tmp_path / "vchk")
    build_index(spark, tiny_corpus_path, root, IndexConfig())
    p = os.path.join(root, "properties.json")
    with open(p) as f:
        props = json.load(f)
    props["format_version"] = 2  # simulate a pre-PForDelta index
    with open(p, "w") as f:
        json.dump(props, f)
    with pytest.raises(ValueError, match="format_version"):
        open_index(spark, root)


def test_build_killed_before_the_serve_image_reruns_only_that_stage(
    spark, tiny_corpus_path, tmp_path
):
    """A build that died after postings, before its serve image, re-runs
    only the serve_image stage; the searcher then serves the index. So
    does a build resumed over an index written before serve images
    (properties without a generation), which gains generation 0."""
    from ivory_spark.query.serve import LocalSearcher

    root = str(tmp_path / "idx")
    build_index(spark, tiny_corpus_path, root, IndexConfig())
    shutil.rmtree(os.path.join(root, "serve"))
    os.remove(os.path.join(root, "_manifests", "serve_image.json"))
    p = os.path.join(root, "properties.json")
    with open(p) as f:
        props = json.load(f)
    del props["generation"]
    with open(p, "w") as f:
        json.dump(props, f)
    stages = ["docmap", "tdf", "doclens", "dictionary", "properties", "postings"]
    mtimes = {s: os.path.getmtime(os.path.join(root, "_manifests", f"{s}.json")) for s in stages}

    build_index(spark, tiny_corpus_path, root, IndexConfig())
    assert {s: os.path.getmtime(os.path.join(root, "_manifests", f"{s}.json"))
            for s in stages} == mtimes
    assert load_manifest(root, "serve_image")["status"] == "complete"
    assert os.listdir(os.path.join(root, "serve")) == ["g0"]
    searcher = LocalSearcher(root)
    assert searcher.props["generation"] == 0
    assert searcher.search(QUERY_SET[0]["query"], k=5)
