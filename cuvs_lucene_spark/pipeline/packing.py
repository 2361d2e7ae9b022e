"""Sequence-packing bookkeeping for LLM pretraining.

The "concat-and-chunk" layout GPT-style training uses (from its public
descriptions): every document's tokens laid end-to-end on one global token
axis in a deterministic document order, then cut into fixed-length training
sequences; a document may straddle sequence boundaries. This operator emits
the per-document placement — which token offset the doc starts at, which
sequences it touches, and its offset inside the first one — so a downstream
loader can materialize sequences without re-tokenizing.

Reference analogy: this is the docID-assignment problem (SURVEY §2.3 B2,
``operators/doc_ids.py``) transposed from rows to tokens — a global prefix
sum whose result must depend ONLY on the global order, never on task
scheduling; it reuses the same two-level base scheme (per-partition
subtotals → driver bases → partition-local cumsum).

Scale shape: ONE range shuffle on the id (the deterministic order), a
#partitions-row driver collect for the bases, and a partition-parallel
window cumsum — no single-partition window, no global sort. Token counts
are the pinned analyzer's (JVM expression), so packing budgets agree with
the engine's dl accounting. Output is a pure function of (ids, texts,
seq_len): rerunning at any parallelism reproduces it bit-for-bit.

Requires unique ids (the corpus contract): duplicate ids would make the
global order — and therefore every placement after them — ambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cuvs_lucene_spark.analysis import tokenize_col


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    partitions: int | None = None,
) -> DataFrame:
    """Per-doc packing placement:
      (id, n_tokens, tok_start, seq_start, seq_end, offset)
    where tok_start = tokens before this doc in id order, seq_start/seq_end =
    first/last sequence index the doc's tokens touch (seq_end == seq_start
    for empty docs — they occupy no tokens), offset = position of the doc's
    first token inside seq_start. NULL text = 0 tokens."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    spark = docs.sparkSession
    n_tok = F.coalesce(F.array_size(tokenize_col(F.col(text_col))), F.lit(0))
    d = docs.select(
        F.col(id_col).cast("long").alias("id"),
        n_tok.cast("long").alias("n_tokens"),
    )
    p = partitions or spark.sparkContext.defaultParallelism
    d = (
        d.repartitionByRange(p, "id")
        .sortWithinPartitions("id")
        .withColumn("pid", F.spark_partition_id())
    )
    # phase 1: per-partition token subtotals (#partitions rows to the driver)
    psums = (
        d.groupBy("pid")
        .agg(F.sum("n_tokens").alias("s"), F.min("id").alias("min_id"))
        .collect()
    )
    bases, running = [], 0
    for r in sorted(psums, key=lambda r: r["min_id"]):
        bases.append((int(r["pid"]), running))
        running += int(r["s"])
    if not bases:
        return spark.createDataFrame(
            [],
            f"{id_col} long, n_tokens long, tok_start long, seq_start long,"
            " seq_end long, offset long",
        )
    base_df = spark.createDataFrame(bases, "pid int, base long")
    # phase 2: partition-local exclusive cumsum + base
    w = (
        Window.partitionBy("pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        d.join(F.broadcast(base_df), "pid")
        .withColumn(
            "tok_start",
            F.col("base") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
        )
        .withColumn("seq_start", F.expr(f"tok_start div {seq_len}"))
        .withColumn(
            "seq_end",
            F.when(
                F.col("n_tokens") > 0,
                F.expr(f"(tok_start + n_tokens - 1) div {seq_len}"),
            ).otherwise(F.col("seq_start")),
        )
        .withColumn("offset", F.col("tok_start") % seq_len)
    )
    return out.select(
        F.col("id").alias(id_col), "n_tokens", "tok_start",
        "seq_start", "seq_end", "offset",
    )


def pack_sequences_sql(
    table: str, seq_len: int, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin (single window over the global id order — correct as the
    small-scale oracle; the engine's two-phase form is the distributed
    equivalent of exactly this query). The running sum is cast back to
    BIGINT: DuckDB widens sum(BIGINT) to HUGEINT, which reaches pandas as
    float64, while the engine's tok_start/seq_* columns are long."""
    toks = (
        f"list_filter(regexp_split_to_array(lower(coalesce({text_col},'')),"
        f" '[^a-z0-9]+'), t -> t <> '')"
    )
    return f"""
WITH n AS (
  SELECT {id_col} AS id, CAST(len({toks}) AS BIGINT) AS n_tokens
  FROM {table}
),
c AS (
  SELECT id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_start
  FROM n
)
SELECT id AS {id_col}, n_tokens, tok_start,
       tok_start // {seq_len} AS seq_start,
       CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // {seq_len}
            ELSE tok_start // {seq_len} END AS seq_end,
       tok_start % {seq_len} AS "offset"
FROM c ORDER BY {id_col}
"""
