"""Null sidecar attributes + k=0 degenerate queries (review findings).

SQL semantics for nulls: numeric aggregates (attr_stats/attr_histogram/
sorted_search) EXCLUDE null-attr docs (the oracle's `WHERE attr IS NOT
NULL`) instead of crashing the int64 cast; collapse keeps null group
values as SQL NULL (one distinct group) rather than stringifying to
"None" and colliding with a legitimate 'None' string value. k=0 is a
legal no-op query: zero rows, no IndexError from an empty top-k heap."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from jvector_spark.corpus import generate_corpus
from jvector_spark.operators.facets import (
    attr_histogram,
    attr_stats,
    collapse_topk,
    rank_collapsed,
    sorted_search,
)
from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import search_index
from jvector_spark.oracle import BM25Oracle
from jvector_spark.sources.segment import build_index


@pytest.fixture(scope="module")
def ncorpus_pdf() -> pd.DataFrame:
    pdf = generate_corpus(n_docs=150, seed=77)
    pdf = pdf.sort_values(["repo", "path", "commit"],
                          kind="mergesort").reset_index(drop=True)
    n = len(pdf)
    # stars: every 3rd doc null; grpc: mix of null and the LITERAL
    # string 'None' (the collision the stringify bug merged)
    pdf["stars"] = [None if i % 3 == 0 else (i * 7) % 50
                    for i in range(n)]
    pdf["grpc"] = [None if i % 5 == 0
                   else ("None" if i % 5 == 1 else f"g{i % 3}")
                   for i in range(n)]
    # big: int64 values above 2^53 (odd, so float64 cannot hold them)
    pdf["big"] = np.int64(2**53) + 2 * ((np.arange(n) * 37) % n) + 1
    return pdf


@pytest.fixture(scope="module")
def nindex(spark, ncorpus_pdf, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("nulidx"))
    docs = assign_dense_docids(
        spark.createDataFrame(ncorpus_pdf).repartition(4))
    build_index(docs, idx, num_segments=3,
                key_cols=("repo", "path", "commit", "lang", "stars",
                          "grpc", "big"))
    return idx


@pytest.fixture(scope="module")
def matched(ncorpus_pdf) -> np.ndarray:
    """docids matching ['import'] (docid i = row i of the key-sorted
    corpus, the assign_dense_docids contract)."""
    oracle = BM25Oracle(ncorpus_pdf)
    return oracle.postings["import"][0]


Q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [100]})


def test_attr_stats_skips_null_values(spark, nindex, ncorpus_pdf, matched):
    got = attr_stats(spark, nindex, Q[["qid", "terms"]],
                     attr="stars").toPandas()
    vals = ncorpus_pdf["stars"].iloc[matched]
    v = vals[vals.notna()].to_numpy(np.int64)
    assert len(v) < len(matched)  # nulls really occur in the match set
    row = got.iloc[0]
    assert (row["n_docs"], row["min_attr"], row["max_attr"],
            row["sum_attr"]) == (len(v), v.min(), v.max(), v.sum())
    assert row["avg_attr"] == round(float(v.sum()) / len(v), 6)


def test_attr_histogram_skips_null_values(spark, nindex, ncorpus_pdf,
                                          matched):
    got = attr_histogram(spark, nindex, Q[["qid", "terms"]], attr="stars",
                         bin_width=10).toPandas()
    vals = ncorpus_pdf["stars"].iloc[matched]
    v = vals[vals.notna()].to_numpy(np.int64)
    exp = pd.Series((v // 10) * 10).value_counts().to_dict()
    assert got.set_index("bin")["n_docs"].to_dict() == exp


def test_sorted_search_excludes_null_attr_docs(spark, nindex, ncorpus_pdf,
                                               matched):
    # "big" (no nulls) pins exact int64 keys above 2^53; at num_tasks=1
    # one task's top-k merges all three segments' keys
    for attr, num_tasks in (("stars", None), ("big", None), ("big", 1)):
        got = sorted_search(spark, nindex, Q, attr=attr, merge="driver",
                            num_tasks=num_tasks)
        vals = ncorpus_pdf[attr].iloc[matched].to_numpy()
        nn = [(int(v), int(d)) for v, d in zip(vals, matched)
              if pd.notna(v)]
        exp = sorted(nn, key=lambda t: (-t[0], t[1]))[:100]
        assert list(zip(got["sort_key"], got["docid"])) == exp, attr
        null_docids = {int(d) for v, d in zip(vals, matched)
                       if pd.isna(v)}
        assert not (set(got["docid"]) & null_docids)


def test_collapse_null_group_distinct_from_none_string(spark, nindex,
                                                       ncorpus_pdf,
                                                       matched):
    partial = collapse_topk(spark, nindex, Q, collapse_col="grpc")
    got = rank_collapsed(partial).toPandas()
    grp_vals = ncorpus_pdf["grpc"].to_numpy()[matched]
    exp_groups = {g for g in grp_vals}  # includes None AND 'None'
    assert None in exp_groups and "None" in exp_groups
    got_groups = {None if pd.isna(g) else g for g in got["grp"]}
    assert got_groups == exp_groups
    # the null group's representative really has a null grpc, and the
    # 'None' group's really has the literal string
    null_doc = int(got[got["grp"].isna()]["docid"].iloc[0])
    none_doc = int(got[got["grp"] == "None"]["docid"].iloc[0])
    assert ncorpus_pdf["grpc"].iloc[null_doc] is None
    assert ncorpus_pdf["grpc"].iloc[none_doc] == "None"


def test_k0_queries_return_no_rows(spark, nindex):
    q = pd.DataFrame({"qid": [0, 1], "terms": [["import"], ["import"]],
                      "k": [0, 5]})
    got = search_index(spark, nindex, q).toPandas()
    assert (got["qid"] == 1).all() and len(got) == 5
    srt = sorted_search(spark, nindex, q, attr="dl", merge="driver")
    assert (srt["qid"] == 1).all() and len(srt) == 5
