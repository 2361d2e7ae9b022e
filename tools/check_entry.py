"""Local mirror of the driver's correctness gate.

Runs every queries()[name] on Spark and the matching oracle_sql()[name] on
DuckDB over the same sf parquet dir; compares row count, column names, column
types (an integer Spark column must not come back from the oracle as a float,
HUGEINT or DECIMAL — equal values would otherwise hide a hash mismatch), and an
order-insensitive value comparison (sorted by all columns). Usage:

    python tools/check_entry.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

# this checkout's root, so the gate checks the package beside the script
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql.types import IntegralType

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# DuckDB result types that are not integers although they may hold whole values
NON_INTEGER_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "DOUBLE", "FLOAT", "REAL")


def type_mismatches(spark_schema, oracle_types: dict[str, str]) -> list[str]:
    """Columns the engine types as integers but the oracle does not."""
    return [
        f"{f.name}: spark {f.dataType.simpleString()} vs oracle {oracle_types[f.name]}"
        for f in spark_schema.fields
        if isinstance(f.dataType, IntegralType)
        and f.name in oracle_types
        and oracle_types[f.name].upper().startswith(NON_INTEGER_TYPES)
    ]


def run(sf_dir: str, only: list[str]) -> int:
    import __spark_entry__ as e
    from cuvs_lucene_spark.session import get_spark

    spark = get_spark("check-entry", cpus=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, os_ = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            got = sdf.toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            failures += 1
            continue
        if name not in os_:
            print(f"WEAK {name}: no oracle (rows-only check), rows={len(got)}")
            continue
        try:
            rel = con.sql(os_[name])
            oracle_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
            exp = rel.df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {ex}")
            failures += 1
            continue
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
            failures += 1
            continue
        bad_types = type_mismatches(sdf.schema, oracle_types)
        if bad_types:
            print(f"FAIL {name}: column types {bad_types}")
            failures += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            failures += 1
            continue
        cols = sorted(got.columns)
        g = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        x = exp[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
        diff = []
        for c in cols:
            gv, xv = g[c], x[c].astype(g[c].dtype, errors="ignore") if hasattr(x[c], "astype") else x[c]
            try:
                eq = (gv.values == x[c].values) | (pd.isna(gv.values) & pd.isna(x[c].values))
            except Exception:
                eq = gv.values == x[c].values
            if not eq.all():
                bad = (~eq).nonzero()[0][:3]
                diff.append((c, [(int(i), gv.iloc[i], x[c].iloc[i]) for i in bad]))
        if diff:
            print(f"FAIL {name}: value mismatches {diff}")
            failures += 1
        else:
            print(f"OK   {name}: {len(got)} rows")
    spark.stop()
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(1 if run(sf, sys.argv[2:]) else 0)
