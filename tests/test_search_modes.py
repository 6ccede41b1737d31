"""Filtered / threshold / search-after query modes vs the brute-force
oracle. Mirrors the reference's filtered-search tests
(TestVectorGraph.testSearchWithSkewedAcceptOrds:89-130), threshold queries
(Test2DThreshold.java:36-121), and testResume (resumed == from-scratch,
TestVectorGraph.java:132-175)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import search_index
from jvector_spark.sources.segment import build_index


@pytest.fixture(scope="module")
def index(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_modes"))
    docs = assign_dense_docids(corpus_df)
    # lang in key_cols -> lands in the docs sidecar -> filterable
    build_index(docs, idx, num_segments=6,
                key_cols=("repo", "path", "commit", "lang"))
    return idx


def _oracle_full_ranking(oracle, terms):
    docids, scores = oracle.score_query(list(terms))
    hit = scores > 0.0
    d, s = docids[hit], scores[hit]
    order = np.lexsort((d, -s))
    return d[order], s[order]


def test_filtered_search(spark, index, oracle, corpus_pdf, queries_pdf):
    """acceptOrds filter: results restricted to lang='python' docs, stats
    unchanged."""
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    accepted = set(np.flatnonzero((keyed["lang"] == "python").to_numpy()))
    res = search_index(
        spark, index, queries_pdf, doc_filter={"lang": "python"}
    ).toPandas()
    for q in queries_pdf.itertuples():
        d, s = _oracle_full_ranking(oracle, q.terms)
        keep = np.isin(d, list(accepted))
        exp_d, exp_s = d[keep][: q.k], s[keep][: q.k]
        got = res[res["qid"] == q.qid].sort_values("rank")
        assert got["docid"].tolist() == exp_d.tolist(), f"qid={q.qid}"
        assert np.allclose(got["score"].to_numpy(), exp_s, rtol=0, atol=0)


def test_threshold_search(spark, index, oracle, queries_pdf):
    thr = 2.0
    res = search_index(spark, index, queries_pdf, min_score=thr).toPandas()
    assert (res["score"] >= thr).all()
    for q in queries_pdf.itertuples():
        d, s = _oracle_full_ranking(oracle, q.terms)
        keep = s >= thr
        exp_d = d[keep][: q.k]
        got = res[res["qid"] == q.qid].sort_values("rank")
        assert got["docid"].tolist() == exp_d.tolist(), f"qid={q.qid}"


def test_search_after_pagination(spark, index, oracle, queries_pdf):
    """page1 + page2 (via cursors) == first 2k of the full ranking."""
    page1 = search_index(spark, index, queries_pdf).toPandas()
    cursors = {
        int(qid): (float(g["score"].iloc[-1]), int(g["docid"].iloc[-1]))
        for qid, g in page1.sort_values("rank").groupby("qid")
    }
    page2 = search_index(spark, index, queries_pdf, after=cursors).toPandas()
    for q in queries_pdf.itertuples():
        d, _ = _oracle_full_ranking(oracle, q.terms)
        exp = d[q.k: 2 * q.k]
        got = page2[page2["qid"] == q.qid].sort_values("rank")
        assert got["docid"].tolist() == exp.tolist(), f"qid={q.qid}"
        # no overlap with page 1
        p1 = set(page1[page1["qid"] == q.qid]["docid"])
        assert not p1 & set(got["docid"])


def test_conjunctive_search(spark, index, oracle, corpus_pdf, queries_pdf):
    """mode='and': results = exact BM25 over docs containing EVERY query
    term; a query with an OOV term is empty (strict AND). Checked on page
    1, under a lang='python' filter, and on page 2 via search-after."""
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    python = np.flatnonzero((keyed["lang"] == "python").to_numpy())
    page1 = search_index(spark, index, queries_pdf, mode="and",
                         merge="driver")
    filtered = search_index(spark, index, queries_pdf, mode="and",
                            merge="driver", doc_filter={"lang": "python"})
    cursors = {
        int(qid): (float(g["score"].iloc[-1]), int(g["docid"].iloc[-1]))
        for qid, g in page1.sort_values("rank").groupby("qid")
    }
    page2 = search_index(spark, index, queries_pdf, mode="and",
                         merge="driver", after=cursors)

    def check(res, qid, d, s):
        got = res[res["qid"] == qid].sort_values("rank")
        assert got["docid"].tolist() == d.tolist(), f"qid={qid}"
        assert np.allclose(got["score"].to_numpy(), s, rtol=0, atol=0)

    n_filtered = n_page2 = 0
    for q in queries_pdf.itertuples():
        # oracle: intersect per-term posting docids, rank by full score
        terms = sorted(set(q.terms))
        if any(t not in oracle.postings for t in terms):
            for res in (page1, filtered, page2):
                assert not (res["qid"] == q.qid).any()
            continue
        cand = None
        for t in terms:
            d = oracle.postings[t][0]
            cand = d if cand is None else np.intersect1d(cand, d)
        docids, scores = oracle.score_query(list(q.terms))
        keep = np.isin(docids, cand)
        d, s = docids[keep], scores[keep]
        order = np.lexsort((d, -s))
        d, s, k = d[order], s[order], int(q.k)
        check(page1, q.qid, d[:k], s[:k])
        py = np.isin(d, python)
        check(filtered, q.qid, d[py][:k], s[py][:k])
        check(page2, q.qid, d[k: 2 * k], s[k: 2 * k])
        n_filtered += bool((~py[:k]).any())
        n_page2 += len(d) > k
    # the filter drops some page-1 doc and some query reaches page 2
    assert n_filtered and n_page2
    # an OOV term empties the whole query under strict AND
    oov = pd.DataFrame({"qid": [0], "terms": [["import", "zz_not_a_term"]],
                        "k": [5]})
    assert len(search_index(spark, index, oov, mode="and",
                            merge="driver")) == 0


def test_range_filtered_search(spark, index, oracle, corpus_pdf, queries_pdf):
    """ES-style numeric range over a sidecar attribute (dl): results
    restricted to docs with 30 <= dl < 70, stats unchanged."""
    lo, hi = 30, 70
    accepted = set(np.flatnonzero(
        (oracle.doclen >= lo) & (oracle.doclen < hi)))
    res = search_index(
        spark, index, queries_pdf,
        doc_filter={"dl": {"gte": lo, "lt": hi}},
    ).toPandas()
    for q in queries_pdf.itertuples():
        d, s = _oracle_full_ranking(oracle, q.terms)
        keep = np.isin(d, list(accepted))
        exp_d, exp_s = d[keep][: q.k], s[keep][: q.k]
        got = res[res["qid"] == q.qid].sort_values("rank")
        assert got["docid"].tolist() == exp_d.tolist(), f"qid={q.qid}"
        assert np.allclose(got["score"].to_numpy(), exp_s, rtol=0, atol=0)


def test_range_filter_rejects_unknown_op(spark, index, queries_pdf):
    with pytest.raises(Exception, match="unknown range ops"):
        search_index(spark, index, queries_pdf,
                     doc_filter={"dl": {"between": (1, 2)}}).toPandas()


def test_search_after_deep_pagination_single_segment(
        spark, corpus_df, oracle, tmp_path_factory):
    """Regression: the cursor filter must apply BEFORE the per-segment
    top-k cut. With every match in ONE segment, page N's candidates are
    exactly the segment's ranks (N-1)k..Nk — an after-the-cut filter
    would return the segment's (already cut) top-k minus page-1 rows,
    silently losing deep pages."""
    idx = str(tmp_path_factory.mktemp("idx_deep_page"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=1)
    k = 7
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [k]})
    d_full, s_full = _oracle_full_ranking(oracle, ["import"])
    assert len(d_full) > 4 * k          # enough depth to matter
    cursor = None
    for page in range(4):
        res = search_index(
            spark, idx, q,
            after={0: cursor} if cursor else None).toPandas()
        res = res.sort_values("rank")
        exp = d_full[page * k:(page + 1) * k]
        assert res["docid"].tolist() == exp.tolist(), f"page={page}"
        cursor = (float(res["score"].iloc[-1]), int(res["docid"].iloc[-1]))
