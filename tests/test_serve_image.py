"""The serve image (index/image.py): LocalSearcher maps it and reads no
parquet; every commit writes the image of a new generation before
properties.json, so a crash before the commit leaves the committed
image serving; an index without its image is refused; validate_index
checks the image against the parquet artifacts."""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from ivory_spark.corpus import QUERY_SET, generate_corpus
from ivory_spark.index import compact, image
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.plans.validate import IndexValidationError, validate_index
from ivory_spark.query.serve import LocalSearcher

CFG = IndexConfig(positional=True, salt_threshold=8, n_shards=5)


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    d = tmp_path_factory.mktemp("image_corpora")
    full = generate_corpus(160, seed=41).drop(columns=["sha256"])
    paths = {}
    for name, pdf in (("base", full.iloc[:100]), ("delta", full.iloc[100:])):
        paths[name] = str(d / f"{name}.parquet")
        pdf.to_parquet(paths[name], index=False)
    return paths


@pytest.fixture(scope="module")
def pos_root(spark, corpora, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("image_pos") / "idx")
    build_index(spark, corpora["base"], root, CFG)
    return root


def _bits(rows):
    return [(r["rank"], r["docno"], r.get("docid"),
             np.float32(r["score"]).view(np.uint32).item()) for r in rows]


def _served(searcher) -> dict:
    """Every model's rows for the QUERY_SET texts (OOV and qtf=2 among
    them) and a query term longer than the dictionary's widest term."""
    long_term = "x" * (searcher._terms.itemsize + 1)
    out = {}
    for q in [*QUERY_SET, {"qid": "long", "query": f"import {long_term}"}]:
        text = q["query"]
        out[q["qid"]] = (
            _bits(searcher.search(text)), _bits(searcher.search(text, scorer="dirichlet")),
            _bits(searcher.search_sd(text)),
        )
    return out


def test_open_and_first_miss_read_no_parquet(pos_root, monkeypatch):
    """A searcher's construction and its first BM25 and positional misses
    read only the mapped image: every pyarrow and pandas parquet reader
    raises, and the rows equal a searcher opened before the patch."""
    want = _served(LocalSearcher(pos_root, cache_runs=2))

    def refuse(*a, **kw):
        raise AssertionError("parquet read")

    for mod, name in ((pads, "dataset"), (pq, "read_table"), (pq, "ParquetFile"),
                      (pq, "read_metadata"), (pq, "ParquetDataset")):
        monkeypatch.setattr(mod, name, refuse)
    import pandas as pd

    monkeypatch.setattr(pd, "read_parquet", refuse)
    searcher = LocalSearcher(pos_root, cache_runs=2)
    assert _served(searcher) == want
    assert want["q001"][0] and want["q001"][2]


def test_crashed_append_serves_the_committed_image(spark, corpora, tmp_path, monkeypatch):
    """An append that dies after writing the image of generation g+1 but
    before properties.json leaves generation g committed: a searcher
    serves it bit for bit, validate_index flags the orphan rows, and
    repair_partial_append removes g+1 and the rows. The retried append
    commits g+1 and prunes g."""
    root = str(tmp_path / "idx")
    build_index(spark, corpora["base"], root, CFG)
    want = _served(LocalSearcher(root, cache_runs=2))
    write = image.write_image

    def write_then_die(index_root, props):
        write(index_root, props)
        raise RuntimeError("append killed before the commit")

    monkeypatch.setattr(image, "write_image", write_then_die)
    with pytest.raises(RuntimeError, match="killed"):
        compact.append_delta(spark, root, corpora["delta"])
    monkeypatch.setattr(image, "write_image", write)
    assert sorted(os.listdir(os.path.join(root, "serve"))) == ["g0", "g1"]
    with open(os.path.join(root, "properties.json")) as f:
        assert json.load(f)["generation"] == 0
    assert _served(LocalSearcher(root, cache_runs=2)) == want
    with pytest.raises(IndexValidationError):
        validate_index(spark, open_index(spark, root))

    compact.repair_partial_append(spark, root)
    assert os.listdir(os.path.join(root, "serve")) == ["g0"]
    validate_index(spark, open_index(spark, root))
    assert _served(LocalSearcher(root, cache_runs=2)) == want

    props = compact.append_delta(spark, root, corpora["delta"])
    assert props["generation"] == 1
    assert os.listdir(os.path.join(root, "serve")) == ["g1"]
    validate_index(spark, open_index(spark, root))
    grown = _served(LocalSearcher(root, cache_runs=2))
    n_added = props["appended_deltas"][0]["n_docs"]
    assert n_added > 0 and grown != want
    assert max(r[1] for rows in grown.values() for r in rows[0]) > props["n_docs"] - n_added


def test_index_without_its_image_is_refused(pos_root, tmp_path):
    root = str(tmp_path / "idx")
    shutil.copytree(pos_root, root)
    shutil.rmtree(os.path.join(root, "serve"))
    with pytest.raises(ValueError, match="rebuild the index"):
        LocalSearcher(root)


def test_repair_refuses_an_index_without_a_generation(spark, pos_root, tmp_path):
    """repair_partial_append over properties written before serve images
    (no generation) refuses before it rewrites any artifact."""
    root = str(tmp_path / "idx")
    shutil.copytree(pos_root, root)
    props_path = os.path.join(root, "properties.json")
    with open(props_path) as f:
        props = json.load(f)
    del props["generation"]
    with open(props_path, "w") as f:
        json.dump(props, f)
    listing = sorted(os.walk(root))
    with pytest.raises(ValueError, match="rebuild the index"):
        compact.repair_partial_append(spark, root)
    assert sorted(os.walk(root)) == listing


def test_validate_flags_an_image_whose_blobs_differ(spark, pos_root, tmp_path):
    """An image whose postings blobs are not the parquet postings' (two
    runs' blobs swapped) fails validate_index, naming the postings file;
    the untouched copy passes."""
    root = str(tmp_path / "idx")
    shutil.copytree(pos_root, root)
    validate_index(spark, open_index(spark, root))
    with open(os.path.join(root, "properties.json")) as f:
        props = json.load(f)
    tables = image.image_tables(root, props)
    post = tables["postings"]
    order = np.arange(post.num_rows)
    order[[0, 1]] = order[[1, 0]]
    blob = post["blob"].take(order)
    assert not blob.equals(post["blob"])
    post = post.set_column(post.schema.get_field_index("blob"), "blob", blob)
    path = os.path.join(image.image_dir(root, props["generation"]), "postings.arrow")
    with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, post.schema) as w:
        w.write_table(post)
    with pytest.raises(IndexValidationError, match="postings"):
        validate_index(spark, open_index(spark, root))
