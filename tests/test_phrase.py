"""Positional postings + phrase search (the per-posting payload path —
SURVEY §2.11 Feature plugin analog, graph/disk/feature/Feature.java).

Oracle: pure-python sliding-window phrase count over the same tokenizer
output — exact equality on docids and match counts, plus payload
round-trip at the segment level."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from jvector_spark.functions.tokenizer import tokenize_series
from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.phrase import match_phrase_on_segment, phrase_search
from jvector_spark.sources.segment import SegmentReader, build_index


@pytest.fixture(scope="module")
def pos_index(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_pos"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=4, positions=True)
    return idx, manifest


def _python_phrase_counts(corpus_pdf: pd.DataFrame, phrase_terms: list[str],
                          mode: str = "code") -> dict[int, int]:
    """Sliding-window oracle over the docid-ordered corpus."""
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    toks = tokenize_series(keyed["content"], mode)
    m = len(phrase_terms)
    out = {}
    for docid, ts in enumerate(toks):
        n = sum(
            1 for i in range(len(ts) - m + 1)
            if list(ts[i:i + m]) == phrase_terms
        )
        if n:
            out[docid] = n
    return out


def test_positions_roundtrip(pos_index, corpus_pdf):
    """Every posting's position list reproduces the tokenizer's exact
    occurrence indices (payload write/load equality)."""
    idx, manifest = pos_index
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    toks = tokenize_series(keyed["content"], "code")
    reader = SegmentReader(manifest["path"].iloc[0])
    assert reader.has_positions
    for term in reader.terms[:30]:
        d, tf, pos = reader.decode_term_positions(term)
        off = np.concatenate(([0], np.cumsum(tf)))
        for i, docid in enumerate(d[:20]):
            got = pos[off[i]:off[i + 1]]
            exp = [j for j, t in enumerate(toks[int(docid)]) if t == term]
            assert got.tolist() == exp, (term, docid)


# bigrams/trigrams that actually occur in the seed-42 synthetic corpus
# (identifier Zipf vocabulary), plus a guaranteed miss
PHRASES = [
    "map_get21 run_parse33",
    "run_parse33 def",
    "import run_parse33",
    "run_parse33 map_get21 run_parse33",
    "not a phrase zzz",
]


def _check_phrase_search(spark, idx, corpus_pdf):
    queries = pd.DataFrame({
        "qid": np.arange(len(PHRASES), dtype=np.int64),
        "phrase": PHRASES,
        "k": [50] * len(PHRASES),
    })
    got = phrase_search(spark, idx, queries, merge="driver")
    any_hits = 0
    for qid, phrase in enumerate(PHRASES):
        terms = tokenize_series(pd.Series([phrase]), "code").iloc[0]
        exp = _python_phrase_counts(corpus_pdf, list(terms))
        g = got[got["qid"] == qid].sort_values("rank")
        exp_sorted = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
        assert g["docid"].tolist() == [d for d, _ in exp_sorted], phrase
        assert g["n_matches"].tolist() == [n for _, n in exp_sorted], phrase
        any_hits += len(g)
    assert any_hits > 0, "fixture phrases never matched — vacuous test"


def test_phrase_search_matches_oracle(spark, pos_index, corpus_pdf):
    _check_phrase_search(spark, pos_index[0], corpus_pdf)


def test_phrase_search_matches_oracle_b16(spark, pos_index_b16, corpus_pdf):
    """The same over 16-posting blocks: a term's occurrences span several
    blocks, all read whole and cut to the candidates."""
    _check_phrase_search(spark, pos_index_b16[0], corpus_pdf)


def test_phrase_spark_merge_equals_driver(spark, pos_index):
    idx, _ = pos_index
    queries = pd.DataFrame({
        "qid": [0, 1], "phrase": PHRASES[:2], "k": [20, 20]})
    a = phrase_search(spark, idx, queries, merge="driver") \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    b = phrase_search(spark, idx, queries).toPandas() \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    assert a[["qid", "docid", "n_matches"]].values.tolist() == \
        b[["qid", "docid", "n_matches"]].values.tolist()


def test_phrase_requires_positions(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_nopos"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=2)
    with pytest.raises(ValueError, match="positions"):
        phrase_search(spark, idx, pd.DataFrame(
            {"qid": [0], "phrase": [PHRASES[0]], "k": [5]}))


def test_phrase_survives_compaction_with_deletes(spark, pos_index,
                                                 corpus_pdf,
                                                 tmp_path_factory):
    """Compaction must CARRY the positional payload stream: phrase results
    on the compacted index equal the oracle over the reduced corpus with
    remapped docids (positions are within-doc indices — docid renumbering
    never touches them)."""
    from jvector_spark.plans.merge import compact_index, mark_deleted

    idx, _ = pos_index
    deleted = [1, 5, 40]
    mark_deleted(idx, deleted)
    out = str(tmp_path_factory.mktemp("idx_pos_compact"))
    compact_index(spark, idx, out, target_segments=2)
    phrase = PHRASES[0]
    terms = list(tokenize_series(pd.Series([phrase]), "code").iloc[0])
    exp_old = _python_phrase_counts(corpus_pdf, terms)
    # remap: survivors keep order; new docid = rank among survivors
    survivors = [d for d in range(len(corpus_pdf)) if d not in deleted]
    remap = {d: i for i, d in enumerate(survivors)}
    exp = {remap[d]: n for d, n in exp_old.items() if d in remap}
    got = phrase_search(
        spark, out,
        pd.DataFrame({"qid": [0], "phrase": [phrase], "k": [100]}),
        merge="driver")
    exp_sorted = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    assert got["docid"].tolist() == [d for d, _ in exp_sorted]
    assert got["n_matches"].tolist() == [n for _, n in exp_sorted]
    # cleanup: pos_index fixture is module-scoped — drop the tombstones
    import os
    os.remove(os.path.join(idx, "tombstones.json"))


def test_phrase_with_tombstones(spark, pos_index, corpus_pdf):
    """Deleted docs drop out of phrase results immediately."""
    idx, manifest = pos_index
    reader = SegmentReader(manifest["path"].iloc[0])
    d, n = match_phrase_on_segment(
        reader, {}, ["map_get21", "run_parse33"], tombstones=None)
    if not len(d):
        pytest.skip("fixture segment has no such phrase")
    dead = d[:1]
    d2, n2 = match_phrase_on_segment(
        reader, {}, ["map_get21", "run_parse33"], tombstones=dead)
    assert dead[0] not in d2
    assert np.array_equal(d2, d[1:]) and np.array_equal(n2, n[1:])
