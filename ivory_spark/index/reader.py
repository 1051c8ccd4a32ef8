"""Index reader — loads the artifacts build_index wrote.

The analogue of Ivory's RetrievalEnvironment.initialize
(ivory/core/RetrievalEnvironment.java:109-180), which loads global stats,
the dictionary, the postings forward index and the doclengths table. Here
every artifact is a lazy DataFrame; termid "random access" is Parquet
predicate pushdown instead of byte-offset seeks
(IntPostingsForwardIndex.java:68-110 — unnecessary on columnar storage).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the footer key under which Spark stores the row schema it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class Index:
    root: str
    properties: dict
    docmap: DataFrame  # docno, repo, path, commit, lang, content, sha256
    doclens: DataFrame  # docno, doclen
    dictionary: DataFrame  # term, termid, df, cf
    postings: DataFrame  # termid, salt, df, cf, n, first/last_docno, max_impact, blob

    @property
    def n_docs(self) -> int:
        return self.properties["n_docs"]

    @property
    def avgdl(self) -> float:
        return self.properties["avgdl"]

    @property
    def collection_length(self) -> int:
        return self.properties["collection_length"]

    def docid_expr(self) -> DataFrame:
        """docno -> display docid 'repo/path@commit'."""
        from pyspark.sql import functions as F

        return self.docmap.select(
            "docno",
            F.concat_ws(
                "", F.col("repo"), F.lit("/"), F.col("path"), F.lit("@"), F.col("commit")
            ).alias("docid"),
        )


def _read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path) under the schema Spark wrote into the
    footer of the first data file ('.' and '_' files are not data).
    Given a schema, the read starts no Spark job to infer one."""
    first = min(
        e.name for e in os.scandir(path)
        if e.is_file() and not e.name.startswith((".", "_"))
    )
    meta = pq.read_metadata(os.path.join(path, first)).metadata
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(path)


def open_index(spark: SparkSession, index_root: str) -> Index:
    with open(os.path.join(index_root, "properties.json")) as f:
        props = json.load(f)
    from ivory_spark.index import codec

    stored = props.get("format_version")
    if stored != codec.FORMAT_VERSION:
        # the postings codec is versioned; decoding a different blob
        # layout would produce garbage, not an error — refuse up front
        raise ValueError(
            f"index at {index_root} has postings format_version={stored}, "
            f"this build reads {codec.FORMAT_VERSION}; rebuild the index "
            "(build stages re-run automatically: the codec version is in "
            "the stage fingerprint)"
        )
    return Index(
        root=index_root,
        properties=props,
        docmap=_read_artifact(spark, os.path.join(index_root, "docmap")),
        doclens=_read_artifact(spark, os.path.join(index_root, "doclens")),
        dictionary=_read_artifact(spark, os.path.join(index_root, "dictionary")),
        postings=_read_artifact(spark, os.path.join(index_root, "postings")),
    )
