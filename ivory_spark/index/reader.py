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
from urllib.parse import quote

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow import fs as pafs
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


def _data_files(path: str) -> list[str]:
    """The data files of a Spark-written parquet directory, in name
    order ('.' and '_' files are not data)."""
    return sorted(
        os.path.join(path, e.name) for e in os.scandir(path)
        if e.is_file() and not e.name.startswith((".", "_"))
    )


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """A parquet read of the artifact at path under the schema Spark
    wrote into the footer of its first data file. Given a schema, the
    read starts no Spark job to infer one."""
    meta = pq.read_metadata(_data_files(path)[0]).metadata
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(path)


def artifact_rows(path: str) -> int:
    """Row count of a parquet directory, summed from its data files'
    footers on the driver: the count a Spark read of it would return,
    without a Spark job."""
    return sum(pq.read_metadata(f).num_rows for f in _data_files(path))


def pinned_rows(frame: DataFrame, key: str, values: list, columns: list[str]) -> list[tuple]:
    """(key, *columns) rows of an Index artifact whose `key` is one of
    `values` (non-empty), read on the driver from the files the Index
    pinned at open: inputFiles() lists them without a Spark job, and
    pyarrow reads each file's key and columns. An Index opened before an
    append still names the files the append swapped out, so the read
    raises; it never returns rows of the new snapshot."""
    want = pa.array(values)
    rows = []
    for uri in frame.inputFiles():
        # Spark leaves non-ASCII characters of a path unescaped in the
        # URI, which pyarrow's parser refuses
        filesystem, path = pafs.FileSystem.from_uri(quote(uri, safe=":/%@"))
        with filesystem.open_input_file(path) as f:
            for batch in pq.ParquetFile(f).iter_batches(columns=[key, *columns]):
                hit = batch.filter(pc.is_in(batch.column(key), value_set=want))
                rows.extend(zip(*(c.to_pylist() for c in hit.columns)))
    return rows


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
        docmap=read_artifact(spark, os.path.join(index_root, "docmap")),
        doclens=read_artifact(spark, os.path.join(index_root, "doclens")),
        dictionary=read_artifact(spark, os.path.join(index_root, "dictionary")),
        postings=read_artifact(spark, os.path.join(index_root, "postings")),
    )
