"""cuvs_lucene_spark — a PySpark-native full-text (BM25) index build + query engine.

Built from scratch (NOT a port) with the full-text capabilities of the Lucene
stack that the reference codec (rapidsai/cuvs-lucene @ /root/reference) plugs
into; see SURVEY.md for the complete reference→Spark mapping. The engine is
DataFrame-first: Catalyst handles pushdown/pruning/top-k; the only Python in
the hot path is Arrow-vectorized numpy kernels (posting-block encode/decode,
BM25 scoring) inside pandas UDFs.

Layout:
  analysis        tokenizer contract + Lucene SmallFloat norm quantization
  codec           FOR/bit-packed delta posting-block kernels (numpy)
  fixtures        deterministic transcript corpus + query-set generator
  oracle          pure numpy/pandas Lucene-BM25 oracle (test gate)
  operators/      build, merge, deletes, doc-id assignment, dedup, similarity,
                  text analysis, multimodal plumbing
  sources/        index catalog (parquet layout standing in for Iceberg) +
                  lineage/checkpoint-resume
  query           top-k BM25 search (exhaustive + block-max pruned)
"""

__version__ = "0.1.0"

from cuvs_lucene_spark.analysis import tokenize_col, TOKEN_PATTERN  # noqa: F401
from cuvs_lucene_spark.session import guard_worker_zip_reads

guard_worker_zip_reads()
