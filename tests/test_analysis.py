"""Tokenizer 3-way parity + SmallFloat quantization unit tests.

Analog of the reference's I/O-primitive unit tests
(TestIndexOutputOutputStream.java:29-101) for our analyzer/norm kernels.
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from cuvs_lucene_spark.analysis import (
    LENGTH_TABLE,
    dequant_dl_sql,
    dequantize_dl_np,
    quantize_dl_np,
    small_float_byte4_to_int,
    small_float_int_to_byte4,
    tokenize_col,
    tokenize_py,
    tokenize_sql,
    with_quantized_dl,
)

TEXTS = [
    "Hello, World!  42 times",
    "",
    None,
    "UPPER lower 0x9F ---",
    "a  b\tc\nd",
    "émigré café naïve",  # non-ascii → splits on accents
    "123abc456 DEF",
]


def test_tokenizer_py_contract():
    assert tokenize_py("Hello, World! 42") == ["hello", "world", "42"]
    assert tokenize_py("") == []
    assert tokenize_py(None) == []
    assert tokenize_py("---") == []


def test_tokenizer_spark_matches_py(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = [r["toks"] for r in df.select(tokenize_col("text").alias("toks")).collect()]
    for t, g in zip(TEXTS, got):
        expected = tokenize_py(t)
        if t is None:
            assert g is None  # engine treats NULL array as no tokens
        else:
            assert g == expected, t


def test_tokenizer_duckdb_matches_py():
    con = duckdb.connect()
    for t in TEXTS:
        if t is None:
            continue
        got = con.execute(f"select {tokenize_sql('?')}", [t]).fetchone()[0]
        assert got == tokenize_py(t), t


# Known Lucene SmallFloat.intToByte4 behavior: identity below 8; decode
# keeps top-4 significant bits.
@pytest.mark.parametrize(
    "v,dec",
    [(0, 0), (1, 1), (7, 7), (8, 8), (15, 15), (16, 16), (17, 16),
     (31, 30), (100, 96), (255, 240), (1000, 960), (65535, 61440)],
)
def test_smallfloat_decode_encode(v, dec):
    assert small_float_byte4_to_int(small_float_int_to_byte4(v)) == dec


def test_smallfloat_monotone_and_table():
    prev = -1
    for b in range(256):
        d = small_float_byte4_to_int(b)
        assert d >= prev
        prev = d
    assert LENGTH_TABLE[255] == small_float_byte4_to_int(255)


def test_quantize_np_matches_scalar():
    vals = np.array([0, 1, 5, 7, 8, 9, 100, 127, 128, 4096, 123456, 2**31 - 1])
    got = quantize_dl_np(vals)
    exp = np.array([small_float_int_to_byte4(int(v)) for v in vals])
    np.testing.assert_array_equal(got, exp)
    np.testing.assert_array_equal(
        dequantize_dl_np(got), [small_float_byte4_to_int(int(b)) for b in exp]
    )


def test_spark_quantized_dl_matches_numpy(spark):
    vals = [0, 1, 7, 8, 20, 100, 200, 1000, 65535]
    df = spark.createDataFrame([(v,) for v in vals], "dl long")
    out = {r["dl"]: (r["dl_q"], r["dl_d"]) for r in with_quantized_dl(df, "dl").collect()}
    for v in vals:
        assert out[v][0] == small_float_int_to_byte4(v), v
        assert out[v][1] == small_float_byte4_to_int(small_float_int_to_byte4(v)), v


def test_duckdb_dequant_matches_py():
    con = duckdb.connect()
    for v in [0, 1, 7, 8, 20, 100, 200, 1000, 65535]:
        got = con.execute(f"select {dequant_dl_sql(str(v))}").fetchone()[0]
        assert got == small_float_byte4_to_int(small_float_int_to_byte4(v)), v


def test_jvm_norm_decode_matches_numpy_on_every_code(spark):
    """The Spark-side norm decode (query._dequant_dl_col) equals the numpy
    LENGTH_TABLE decode on all 256 quantized-norm codes."""
    from cuvs_lucene_spark.query import _dequant_dl_col

    df = spark.createDataFrame([(c,) for c in range(256)], "dl_q int")
    got = [
        r["dl_d"]
        for r in df.select("dl_q", _dequant_dl_col("dl_q").alias("dl_d"))
        .orderBy("dl_q")
        .collect()
    ]
    np.testing.assert_array_equal(got, dequantize_dl_np(np.arange(256)))
