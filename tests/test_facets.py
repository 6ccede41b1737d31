"""Faceted search + field collapsing vs brute-force pandas truth.

Facet counts must equal the per-(query, facet-value) cardinality of the
OR-match set (deletes/filters honored); collapse must pick each group's
true best doc and rank groups by the display contract (round(score,6)
desc, docid asc). The attribute plumbing mirrors the reference's
doc-attribute acceptOrds surface (GraphSearcher.java:202-214)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from jvector_spark.operators.facets import (
    collapse_topk,
    facet_counts,
    rank_collapsed,
)
from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.sources.segment import SegmentReader, build_index, load_manifest

QUERIES = pd.DataFrame({
    "qid": [0, 1, 2],
    "terms": [["hash_post50", "scan_post50"], ["if"], ["util_parse60"]],
    "k": [5, 3, 4],
})


@pytest.fixture(scope="module")
def findex(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("fidx"))
    docs = assign_dense_docids(corpus_df)
    build_index(docs, idx, num_segments=5,
                key_cols=("repo", "path", "commit", "lang"))
    return idx


@pytest.fixture(scope="module")
def doc_attrs(corpus_pdf) -> pd.DataFrame:
    """docid -> (repo, lang): row i of the key-sorted corpus is docid i
    (same sort assign_dense_docids/BM25Oracle use)."""
    return (corpus_pdf.sort_values(["repo", "path", "commit"],
                                   kind="mergesort")
            .reset_index(drop=True)[["repo", "lang"]])


def _expected_counts(oracle, attrs, terms, col, langs=None):
    parts = [oracle.postings[t][0] for t in terms if t in oracle.postings]
    if not parts:
        return {}
    d = np.unique(np.concatenate(parts))
    vals = attrs[col].to_numpy()[d]
    if langs is not None:
        keep = np.isin(attrs["lang"].to_numpy()[d], langs)
        vals = vals[keep]
    return pd.Series(vals).value_counts().to_dict()


def test_facet_counts_match_truth(spark, findex, oracle, doc_attrs):
    got = facet_counts(spark, findex, QUERIES, "lang").toPandas()
    for qid, terms in zip(QUERIES["qid"], QUERIES["terms"]):
        exp = _expected_counts(oracle, doc_attrs, terms, "lang")
        g = got[got["qid"] == qid].set_index("facet")["n_docs"].to_dict()
        assert g == exp, f"qid={qid}"


def test_facet_counts_respect_doc_filter(spark, findex, oracle, doc_attrs):
    langs = ["python", "go"]
    got = facet_counts(spark, findex, QUERIES, "repo",
                       doc_filter={"lang": langs}).toPandas()
    for qid, terms in zip(QUERIES["qid"], QUERIES["terms"]):
        exp = _expected_counts(oracle, doc_attrs, terms, "repo", langs=langs)
        g = got[got["qid"] == qid].set_index("facet")["n_docs"].to_dict()
        assert g == exp, f"qid={qid}"


def _expected_collapse(oracle, attrs, terms, k):
    docids, scores = oracle.score_query(terms)
    hit = scores > 0.0
    d, s = docids[hit], scores[hit]
    pdf = pd.DataFrame({
        "grp": attrs["repo"].to_numpy()[d], "docid": d,
        "score": np.round(s, 6),
    }).sort_values(["score", "docid"], ascending=[False, True],
                   kind="mergesort")
    best = pdf.drop_duplicates("grp", keep="first").head(k)
    best.insert(0, "rank", np.arange(len(best), dtype=np.int32))
    return best.reset_index(drop=True)


def test_collapse_matches_truth(spark, findex, oracle, doc_attrs):
    got = rank_collapsed(collapse_topk(spark, findex, QUERIES,
                                       "repo")).toPandas()
    for qid, terms, k in zip(QUERIES["qid"], QUERIES["terms"], QUERIES["k"]):
        exp = _expected_collapse(oracle, doc_attrs, terms, int(k))
        g = (got[got["qid"] == qid].sort_values("rank")
             .reset_index(drop=True))
        assert list(g["grp"]) == list(exp["grp"]), f"qid={qid}"
        assert list(g["docid"]) == list(exp["docid"]), f"qid={qid}"
        np.testing.assert_allclose(g["score"], exp["score"], atol=1e-6)


def test_collapse_partials_bounded_per_segment(spark, findex):
    """The shuffle contract: at most ONE partial row per
    (query, group, segment) — bounded by distinct groups, never by match
    count (the scale property that survives a stop-word-ish query)."""
    n_segs = len(load_manifest(findex)["segments"])
    partial = collapse_topk(spark, findex, QUERIES, "repo")
    per = partial.groupBy("qid", "grp").count().toPandas()
    assert (per["count"] <= n_segs).all()


def test_doc_attribute_memoized(findex):
    """One docs-sidecar read per (segment, column), shared across queries."""
    seg = load_manifest(findex)["segments"][0]["path"]
    r = SegmentReader(seg)
    a = r.doc_attribute("lang")
    b = r.doc_attribute("lang")
    assert a is b
    r.doc_attribute("repo")
    assert r.sidecar_reads == 2
    # dense layout: attribute rows align with the doclen array
    assert len(a) == len(r._dl)


def _expected_sorted(oracle, terms, k, ascending=False):
    parts = [oracle.postings[t][0] for t in terms if t in oracle.postings]
    if not parts:
        return [], []
    d = np.unique(np.concatenate(parts))
    v = oracle.doclen[d].astype(np.int64)
    order = np.lexsort((d, v if ascending else -v))[:k]
    return d[order].tolist(), v[order].tolist()


def test_sorted_search_desc_matches_truth(spark, findex, oracle):
    from jvector_spark.operators.facets import sorted_search

    got = sorted_search(spark, findex, QUERIES, attr="dl").toPandas()
    for q in QUERIES.itertuples():
        exp_d, exp_v = _expected_sorted(oracle, q.terms, q.k)
        g = got[got["qid"] == q.qid].sort_values("rank")
        assert g["docid"].tolist() == exp_d, f"qid={q.qid}"
        assert g["sort_key"].tolist() == exp_v


def test_sorted_search_ascending(spark, findex, oracle):
    from jvector_spark.operators.facets import sorted_search

    got = sorted_search(spark, findex, QUERIES, attr="dl",
                        ascending=True).toPandas()
    for q in QUERIES.itertuples():
        exp_d, exp_v = _expected_sorted(oracle, q.terms, q.k, ascending=True)
        g = got[got["qid"] == q.qid].sort_values("rank")
        assert g["docid"].tolist() == exp_d, f"qid={q.qid}"
        assert g["sort_key"].tolist() == exp_v


def test_sorted_search_oov_empty(spark, findex):
    from jvector_spark.operators.facets import sorted_search

    q = pd.DataFrame({"qid": [0], "terms": [["zz_never_a_token"]], "k": [5]})
    assert sorted_search(spark, findex, q, attr="dl").count() == 0


def test_attr_stats_matches_truth(spark, findex, oracle):
    from jvector_spark.operators.facets import attr_stats

    qpdf = QUERIES[["qid", "terms"]]
    got = attr_stats(spark, findex, qpdf, attr="dl").toPandas()
    for q in qpdf.itertuples():
        parts = [oracle.postings[t][0] for t in q.terms
                 if t in oracle.postings]
        d = np.unique(np.concatenate(parts))
        v = oracle.doclen[d].astype(np.int64)
        g = got[got["qid"] == q.qid]
        assert len(g) == 1
        row = g.iloc[0]
        assert (row["n_docs"], row["min_attr"], row["max_attr"],
                row["sum_attr"]) == (len(d), v.min(), v.max(), v.sum())
        assert row["avg_attr"] == round(float(v.sum()) / len(d), 6)


def test_attr_stats_oov_yields_no_row(spark, findex):
    from jvector_spark.operators.facets import attr_stats

    q = pd.DataFrame({"qid": [9], "terms": [["zz_never_a_token"]]})
    assert attr_stats(spark, findex, q, attr="dl").count() == 0


def test_attr_histogram_matches_truth(spark, findex, oracle):
    from jvector_spark.operators.facets import attr_histogram

    qpdf = QUERIES[["qid", "terms"]]
    got = attr_histogram(spark, findex, qpdf, attr="dl",
                         bin_width=8).toPandas()
    for q in qpdf.itertuples():
        parts = [oracle.postings[t][0] for t in q.terms
                 if t in oracle.postings]
        d = np.unique(np.concatenate(parts))
        v = (oracle.doclen[d].astype(np.int64) // 8) * 8
        exp = pd.Series(v).value_counts().to_dict()
        g = got[got["qid"] == q.qid].set_index("bin")["n_docs"].to_dict()
        assert g == exp, f"qid={q.qid}"


def test_match_export_matches_truth_and_is_shuffle_free(spark, findex,
                                                        oracle):
    from jvector_spark.operators.facets import match_export

    qpdf = QUERIES[["qid", "terms"]]
    df = match_export(spark, findex, qpdf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # disjoint across segments
    got = df.toPandas()
    for q in qpdf.itertuples():
        parts = [oracle.postings[t][0] for t in q.terms
                 if t in oracle.postings]
        exp = sorted(np.unique(np.concatenate(parts)).tolist())
        g = sorted(got[got["qid"] == q.qid]["docid"].tolist())
        assert g == exp, f"qid={q.qid}"


def test_sorted_search_skips_dominated_segments(spark, tmp_path_factory):
    """θ propagation + parquet-stats range skip: with a descending-dl
    segment layout, later segments (whose max dl cannot strictly beat the
    kept top-k) are never OPENED — metadata-only skip; result exact."""
    import numpy as np

    from jvector_spark.operators.facets import (
        sorted_scan_partition,
        sorted_search,
    )
    from jvector_spark.sources.segment import SegmentReader, load_manifest

    rows = []
    for i in range(30):
        n_tok = 100 - 3 * i  # strictly decreasing doc length with docid
        rows.append({"repo": "r", "path": f"{i:04d}", "commit": "c",
                     "lang": "python",
                     "content": " ".join(["tok"] * n_tok)})
    pdf = pd.DataFrame(rows)
    docs = assign_dense_docids(spark.createDataFrame(pdf), num_partitions=3)
    idx = str(tmp_path_factory.mktemp("idx_sortskip"))
    build_index(docs, idx, num_segments=3, assume_partitioned=True)
    paths = [s["path"] for s in load_manifest(idx)["segments"]]
    assert len(paths) == 3

    opened = []

    class SpyReader(SegmentReader):
        def __init__(self, path, *a, **kw):
            opened.append(path)
            super().__init__(path, *a, **kw)

    got = sorted_scan_partition(
        paths, pd.DataFrame({"qid": [0], "terms": [["tok"]], "k": [5]}),
        None, None, "dl", -1, reader_cls=SpyReader)
    # exactness: the 5 longest docs are docids 0..4 (all in segment 0)
    assert sorted(got["docid"].tolist()) == [0, 1, 2, 3, 4]
    assert len(opened) == 1, opened  # segments 1, 2 skipped on stats

    # distributed path stays exact with the skip active
    q = pd.DataFrame({"qid": [0], "terms": [["tok"]], "k": [5]})
    dist = sorted_search(spark, idx, q, attr="dl", num_tasks=1,
                         merge="driver")
    assert dist["docid"].tolist() == [0, 1, 2, 3, 4]


def test_match_count_matches_truth(spark, findex, oracle):
    from jvector_spark.operators.facets import match_count

    qpdf = QUERIES[["qid", "terms"]]
    got = match_count(spark, findex, qpdf).toPandas()
    for q in qpdf.itertuples():
        parts = [oracle.postings[t][0] for t in q.terms
                 if t in oracle.postings]
        exp = len(np.unique(np.concatenate(parts)))
        assert got[got["qid"] == q.qid]["n_docs"].iloc[0] == exp
