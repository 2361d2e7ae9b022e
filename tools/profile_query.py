"""Decompose one warm top-k query's latency at the bench tier.

Times, per variant (median of N reps, warm):
  full        — search() exactly as bench.py runs it
  no_ddjoin   — same minus the final doc_dim hydration join
  agg_only    — postings scan + kernel + pivot agg (no topk/join)
  scan_only   — postings scan count (term+bucket pruned, kernel cols)
  plan_only   — DataFrame construction without an action (driver overhead)
plus shuffle-partition sensitivity of the full query.

Usage: python tools/profile_query.py [tier] [query] [mode]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 5


def t(fn):
    fn()  # warm
    xs = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    return round(statistics.median(xs), 3), [round(x, 3) for x in xs]


def main() -> None:
    from pyspark.sql import functions as F

    from cuvs_lucene_spark.fixtures import ensure_corpus
    from cuvs_lucene_spark.operators.build import build_index
    from cuvs_lucene_spark.query import (
        SCORE_KERNEL_COLS,
        SCORE_ROWS_SCHEMA,
        IndexReader,
        make_score_kernel,
        search,
    )
    from cuvs_lucene_spark.session import get_spark

    tier = sys.argv[1] if len(sys.argv) > 1 else "bench"
    query = sys.argv[2] if len(sys.argv) > 2 else "world school student"
    mode = sys.argv[3] if len(sys.argv) > 3 else "or"

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("profile-query", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    idx = f"/tmp/profile_query_idx_{tier}"
    if not os.path.exists(os.path.join(idx, "manifest.json")):
        df = spark.read.parquet(ensure_corpus(tier))
        build_index(
            spark, df, idx, buckets=64, salt_buckets=8, hot_df_ratio=0.05
        )
    rd = IndexReader(spark, idx)

    out = {}
    out["full"] = t(lambda: search(spark, idx, query, k=10, mode=mode, reader=rd).collect())

    # plan-only: driver-side planning cost (term_stats cached after warm)
    out["plan_only"] = t(lambda: search(spark, idx, query, k=10, mode=mode, reader=rd))

    # reconstruct the internals for partial plans
    from collections import Counter

    from cuvs_lucene_spark.analysis import tokenize_py

    q_terms = tokenize_py(query)
    weights = Counter(q_terms)
    fld = rd.resolve_field(None)
    f_stats = rd.field_stats_of(fld)
    f_avgdl = f_stats[2]
    stats = rd.term_stats(list(weights), fld)
    present = [t_ for t_ in weights if stats.get(t_, (0, 0))[0] > 0]
    term_meta = {
        t_: (rd.term_weight(stats[t_], f_stats, "bm25"), weights[t_])
        for t_ in present
    }

    def postings():
        return rd._seek_postings(present, fld, stats)

    out["scan_only"] = t(
        lambda: postings().select(*SCORE_KERNEL_COLS).count()
    )

    def agg_only():
        sr = postings().select(*SCORE_KERNEL_COLS).mapInPandas(
            make_score_kernel(term_meta, f_avgdl, True), SCORE_ROWS_SCHEMA
        )
        per = [
            F.sum(F.when(F.col("tidx") == i, F.col("score"))).alias(f"_s{i}")
            for i in range(len(present))
        ]
        sr.groupBy("doc_id").agg(*per).count()

    out["agg_only"] = t(agg_only)

    def no_ddjoin():
        sr = postings().select(*SCORE_KERNEL_COLS).mapInPandas(
            make_score_kernel(term_meta, f_avgdl, True), SCORE_ROWS_SCHEMA
        )
        per = [
            F.sum(F.when(F.col("tidx") == i, F.col("score"))).alias(f"_s{i}")
            for i in range(len(present))
        ]
        agg = sr.groupBy("doc_id").agg(*per)
        total = F.coalesce(F.col("_s0"), F.lit(0.0))
        for i in range(1, len(present)):
            total = total + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        (
            agg.select("doc_id", total.cast("float").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .collect()
        )

    out["no_ddjoin"] = t(no_ddjoin)

    # kernel-less baseline: same scan + pivot WITHOUT the Python kernel
    def no_kernel():
        from cuvs_lucene_spark.operators.merge import decode_postings

        decode_postings(postings()).groupBy("doc_id").count().count()

    out["no_python_kernel_decode_agg"] = t(no_kernel)

    print("\n=== profile:", tier, repr(query), mode, f"cpus={cpus}")
    for name, (med, xs) in out.items():
        print(f"{name:32s} {med:7.3f} s   (all: {xs})")

    # shuffle-partition sensitivity
    for sp in (32, 8, 4):
        spark.conf.set("spark.sql.shuffle.partitions", sp)
        med, xs = t(
            lambda: search(spark, idx, query, k=10, mode=mode, reader=rd).collect()
        )
        print(f"full @ shuffle.partitions={sp:3d}    {med:7.3f} s   (all: {xs})")


if __name__ == "__main__":
    main()
