from __future__ import annotations

import pandas as pd
import pytest

from jvector_spark.corpus import generate_corpus, generate_queries
from jvector_spark.oracle import BM25Oracle
from jvector_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("jvector_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf() -> pd.DataFrame:
    return generate_corpus(n_docs=300, seed=42)


@pytest.fixture(scope="session")
def queries_pdf(corpus_pdf) -> pd.DataFrame:
    return generate_queries(corpus_pdf, n_queries=40, seed=42)


@pytest.fixture(scope="session")
def oracle(corpus_pdf) -> BM25Oracle:
    return BM25Oracle(corpus_pdf)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    return spark.createDataFrame(corpus_pdf).repartition(8)


@pytest.fixture(scope="session")
def pos_index_b16(spark, corpus_df, tmp_path_factory):
    """A positional index in 16-posting blocks: the frequent terms span
    several blocks per segment (with 128-posting blocks every term of the
    75-doc segments sits in one block)."""
    from jvector_spark.operators.ids import assign_dense_docids
    from jvector_spark.sources.segment import SegmentReader, build_index

    idx = str(tmp_path_factory.mktemp("idx_pos_b16"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=4, positions=True, block_size=16)
    r = SegmentReader(manifest["path"].iloc[0])
    assert max(len(r.term_row(t)["block_n"]) for t in r.terms) > 1
    return idx, manifest
