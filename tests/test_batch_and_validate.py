"""Query sources (S8), TREC sink (S9), index validation (A9), df-band
filter (P7)."""

import gzip

import pytest
from pyspark.sql import functions as F

from ivory_spark.corpus import QUERY_SET
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.plans.validate import IndexValidationError, validate_index
from ivory_spark.query.batch import (
    Model,
    parse_model_xml,
    parse_query_xml,
    run_batch,
    write_trec_run,
)


@pytest.fixture(scope="module")
def idx(spark, tiny_corpus_path, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx") / "batch")
    build_index(spark, tiny_corpus_path, root, IndexConfig(salt_threshold=16, n_shards=5))
    return open_index(spark, root)


def test_query_xml_roundtrip():
    xml = """<parameters>
      <query id="601">turkey iraq water</query>
      <query id="602">def return import</query>
    </parameters>"""
    qs = parse_query_xml(xml)
    assert qs == [
        {"qid": "601", "query": "turkey iraq water"},
        {"qid": "602", "query": "def return import"},
    ]


def test_model_xml():
    m = parse_model_xml('<model id="b" score="bm25" k1="0.9" b="0.4" hits="20"/>')
    assert m.scorer == "bm25" and m.k == 20 and m.params == {"k1": 0.9, "b": 0.4}


def test_run_batch_and_trec_sink(spark, idx, tmp_path):
    res = run_batch(spark, idx, QUERY_SET[:3], Model(k=5))
    out = str(tmp_path / "run.txt.gz")
    n = write_trec_run(res, out, tag="t1")
    assert n == res.count()
    with gzip.open(out, "rt") as f:
        lines = f.read().strip().split("\n")
    assert len(lines) == n
    parts = lines[0].split(" ")
    assert parts[1] == "Q0" and parts[3] == "1" and parts[5] == "t1"
    # ranks within a qid are 1..k in file order
    q0 = [ln for ln in lines if ln.startswith(parts[0] + " ")]
    assert [int(x.split(" ")[3]) for x in q0] == list(range(1, len(q0) + 1))


def test_validate_index_passes(spark, idx):
    checks = validate_index(spark, idx)
    assert checks["terms_checked"] > 0
    assert checks["n_docs"] == idx.n_docs


def test_validate_detects_corruption(spark, idx):
    # an index whose dictionary lies about df must fail A9
    import copy

    broken = copy.copy(idx)
    broken.dictionary = idx.dictionary.withColumn(
        "df", F.when(F.col("termid") == 1, F.col("df") + 1).otherwise(F.col("df"))
    )
    with pytest.raises(IndexValidationError):
        validate_index(spark, broken)


def test_df_band_filter(spark, tiny_corpus_path, tmp_path):
    root = str(tmp_path / "band")
    props = build_index(
        spark, tiny_corpus_path, root, IndexConfig(min_df=2, max_df=50)
    )
    idx = open_index(spark, root)
    agg = idx.dictionary.agg(F.min("df").alias("lo"), F.max("df").alias("hi")).collect()[0]
    assert agg["lo"] >= 2 and agg["hi"] <= 50
    assert props["min_df"] == 2
