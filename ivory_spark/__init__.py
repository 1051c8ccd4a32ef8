"""ivory_spark — a PySpark-native rebuild of the Ivory web-scale IR stack.

Reference semantics: lintool/Ivory (https://github.com/lintool/Ivory), a
Hadoop MapReduce toolkit that builds a term-partitioned compressed inverted
index over a document collection and runs top-k BM25 retrieval against it.

This package re-expresses that pipeline Spark-first:

- preprocessing (dedup, docno assignment, tokenization, doc lengths,
  global term statistics, dictionary) as DataFrame transformations with
  Arrow-vectorized pandas UDFs for tokenization
  (reference: ivory/core/preprocess/*.java),
- the inverted index as a salted, term-partitioned shuffle followed by a
  per-run NumPy d-gap + variable-byte block encoder
  (reference: ivory/core/index/BuildIPInvertedIndexDocSorted.java),
- BM25 top-k retrieval both as an exact DataFrame plan and as a batch
  path that runs the LocalSearcher serve kernel in Spark Python workers
  (reference: ivory/smrf/retrieval/MRFDocumentRanker.java,
  ivory/smrf/model/score/BM25ScoringFunction.java),
- incremental append of a parquet document delta to a built index, and
  the Spark-free LocalSearcher serving tier over the index files.

No code is copied from the reference; file:line citations in docstrings
identify the behavior being reproduced.
"""

__version__ = "0.1.0"
