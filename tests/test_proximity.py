"""Proximity (within-window) search over positional postings — second
consumer of the per-posting payload stream (SURVEY §2.11 Feature plugin).

Oracle: pure-python sliding-window containment count over the same
tokenizer output; exact equality on docids and window counts, short-doc
clipping included."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from jvector_spark.functions.tokenizer import tokenize_series
from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.proximity import (
    match_window_on_segment,
    proximity_search,
)
from jvector_spark.sources.segment import SegmentReader, build_index


@pytest.fixture(scope="module")
def pos_index(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_prox"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=4, positions=True)
    return idx, manifest


def _python_window_counts(corpus_pdf: pd.DataFrame, terms: list[str],
                          window: int, mode: str = "code") -> dict[int, int]:
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    toks = tokenize_series(keyed["content"], mode)
    uniq = sorted(set(terms))
    out = {}
    for docid, ts in enumerate(toks):
        n_starts = max(len(ts) - window + 1, 1)
        n = sum(
            1 for i in range(n_starts)
            if all(t in ts[i:i + window] for t in uniq)
        )
        if n:
            out[docid] = n
    return out


QUERIES = [
    (["import", "def"], 6),
    (["return", "self"], 4),
    (["class", "init"], 10),
]


def _check_segment_window_counts(manifest, corpus_pdf):
    for terms, w in QUERIES:
        got: dict[int, int] = {}
        for path in manifest["path"]:
            d, n = match_window_on_segment(SegmentReader(path), {}, terms, w)
            got.update(dict(zip(d.tolist(), n.tolist())))
        exp = _python_window_counts(corpus_pdf, terms, w)
        assert got == exp, (terms, w)


def test_segment_window_counts_match_oracle(pos_index, corpus_pdf):
    _check_segment_window_counts(pos_index[1], corpus_pdf)


def test_segment_window_counts_match_oracle_b16(pos_index_b16, corpus_pdf):
    """The same over 16-posting blocks (terms span several blocks)."""
    _check_segment_window_counts(pos_index_b16[1], corpus_pdf)


def _check_proximity_search_topk(spark, idx, corpus_pdf):
    qpdf = pd.DataFrame(
        [(i, t, w, 15) for i, (t, w) in enumerate(QUERIES)],
        columns=["qid", "terms", "window", "k"],
    )
    res = proximity_search(spark, idx, qpdf).toPandas()
    for i, (terms, w) in enumerate(QUERIES):
        exp = _python_window_counts(corpus_pdf, terms, w)
        d = np.array(sorted(exp), dtype=np.int64)
        n = np.array([exp[x] for x in d], dtype=np.int64)
        order = np.lexsort((d, -n))[:15]
        got = res[res["qid"] == i].sort_values("rank")
        assert got["docid"].tolist() == d[order].tolist(), terms
        assert got["n_matches"].tolist() == n[order].tolist()


def test_proximity_search_topk(spark, pos_index, corpus_pdf):
    _check_proximity_search_topk(spark, pos_index[0], corpus_pdf)


def test_proximity_search_topk_b16(spark, pos_index_b16, corpus_pdf):
    """The same over 16-posting blocks (terms span several blocks)."""
    _check_proximity_search_topk(spark, pos_index_b16[0], corpus_pdf)


def test_short_doc_clipped_window(spark, tmp_path_factory):
    """A doc shorter than the window is ONE clipped window: counts 1 when
    it contains all terms, never 0."""
    pdf = pd.DataFrame({
        "repo": ["r"] * 3, "path": ["a", "b", "c"], "commit": ["c0"] * 3,
        "lang": ["python"] * 3,
        "content": ["alpha beta", "alpha gamma beta alpha", "alpha alpha"],
    })
    docs = assign_dense_docids(
        spark.createDataFrame(pdf).repartition(2))
    idx = str(tmp_path_factory.mktemp("idx_clip"))
    build_index(docs, idx, num_segments=1, positions=True)
    qpdf = pd.DataFrame(
        [(0, ["alpha", "beta"], 8, 10)],
        columns=["qid", "terms", "window", "k"],
    )
    res = proximity_search(spark, idx, qpdf).toPandas()
    # doc a (2 tokens, clipped): 1; doc b (4 tokens < 8, clipped): 1;
    # doc c has no beta
    assert sorted(res["n_matches"].tolist()) == [1, 1]
    assert len(res) == 2


def test_oov_term_empties_result(spark, pos_index):
    idx, _ = pos_index
    qpdf = pd.DataFrame(
        [(0, ["import", "zz_never_a_token"], 5, 10)],
        columns=["qid", "terms", "window", "k"],
    )
    assert proximity_search(spark, idx, qpdf).count() == 0


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    toks=st.lists(st.sampled_from("abcd"), min_size=1, max_size=60),
    terms=st.sets(st.sampled_from("abcd"), min_size=1, max_size=3),
    window=st.integers(1, 12),
)
@settings(max_examples=300, deadline=None)
def test_window_count_property(toks, terms, window):
    """window_match_count == brute-force sliding containment on random
    token sequences (incl. docs shorter than the window)."""
    from jvector_spark.operators.proximity import window_match_count

    plists = [
        np.array([i for i, t in enumerate(toks) if t == q], dtype=np.int64)
        for q in sorted(terms)
    ]
    got = window_match_count(plists, len(toks), window)
    n_starts = max(len(toks) - window + 1, 1)
    exp = sum(
        1 for i in range(n_starts)
        if all(q in toks[i:i + window] for q in terms)
    )
    assert got == exp
