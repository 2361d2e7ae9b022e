import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_addoption(parser):
    parser.addoption(
        "--regen-golden",
        action="store_true",
        default=False,
        help="rewrite tests/golden/*.json from current engine output "
        "(FIXTURES.md §4: regeneration is explicit and reviewed)",
    )


@pytest.fixture(scope="session")
def spark():
    from cuvs_lucene_spark.session import get_spark

    s = get_spark("cuvs-lucene-spark-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pdf():
    """tiny-tier transcripts as pandas (oracle side)."""
    from cuvs_lucene_spark.fixtures import TIERS, generate_transcripts

    return generate_transcripts(TIERS["tiny"]).to_pandas()


@pytest.fixture(scope="session")
def tiny_df(spark, tmp_path_factory):
    from cuvs_lucene_spark.fixtures import ensure_corpus

    root = str(tmp_path_factory.mktemp("corpus"))
    path = ensure_corpus("tiny", root)
    return spark.read.parquet(path)


@pytest.fixture(scope="session")
def oracle_tiny(tiny_pdf):
    from cuvs_lucene_spark.oracle import build_oracle_index

    return build_oracle_index(tiny_pdf)


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_df, tmp_path_factory):
    """Built index over the tiny tier (hot ratio low so salting is exercised)."""
    from cuvs_lucene_spark.operators.build import build_index

    d = str(tmp_path_factory.mktemp("idx") / "tiny")
    build_index(spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10)
    return d


@pytest.fixture(scope="session")
def pos_index(spark, tiny_df, tmp_path_factory):
    """The tiny tier indexed with positions=True, shared read-only by the
    phrase, span and query-parser tests (copy it before mutating)."""
    from cuvs_lucene_spark.operators.build import build_index

    d = str(tmp_path_factory.mktemp("idx") / "pos")
    build_index(
        spark, tiny_df, d, buckets=8, salt_buckets=4, hot_df_ratio=0.10,
        positions=True,
    )
    return d


@pytest.fixture(scope="session")
def corpus_toks(tiny_pdf):
    """[(conv_id, turn_idx, tokens)] in global docID order."""
    from cuvs_lucene_spark.analysis import tokenize_py

    pdf = tiny_pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    return [
        (r.conv_id, int(r.turn_idx), tokenize_py(r.text))
        for r in pdf.itertuples()
    ]
