"""Tombstones at scale: the journal (tombstones.json) is the only form the
deletes take. Every reader takes its sorted docids for the caller's
manifest epoch (tombstone_view), and open_segments cuts that array to each
segment's docid range, so a segment's live filter costs in proportion to
its own deletes.

Reference analog: the per-view liveNodes bitmap
(ImmutableGraphIndex.java:157), applied inside the search as acceptOrds."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import search_index
from jvector_spark.plans.merge import (
    TOMBSTONES_FILE,
    compact_index,
    compact_in_place,
    mark_deleted,
    tombstone_view,
    vacuum_index,
)
from jvector_spark.sources.segment import (
    SegmentReader, build_index, load_manifest)


@pytest.fixture(scope="module")
def idx(spark, corpus_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_tshards"))
    build_index(assign_dense_docids(corpus_df), d, num_segments=4)
    return d


def _expected(corpus_pdf, terms, k, excluded):
    from jvector_spark.oracle import BM25Oracle

    keyed = corpus_pdf.sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True)
    orc = BM25Oracle(keyed)
    docids, scores = orc.score_query(terms)
    hit = scores > 0
    d, s = docids[hit], scores[hit]
    live = ~np.isin(d, list(excluded))
    d, s = d[live], s[live]
    order = np.lexsort((d, -s))[:k]
    return d[order].tolist()


def test_million_tombstones_stay_off_driver(spark, idx, corpus_pdf,
                                            tmp_path_factory):
    """10^6 marked deletes (a ~7 MB journal, past the 1 MiB line where
    pyspark ships a task closure as a broadcast) plus 3 real ones: search
    returns the oracle's top-k without the deleted docs, and compaction
    purges exactly the real deletes."""
    man = load_manifest(idx)
    hi = max(s["max_docid"] for s in man["segments"])
    # 10^6 synthetic docids beyond the live range plus 3 real ones, as a
    # journal written before mark_deleted refused out-of-range docids:
    # readers must still take it whole
    ids = np.arange(hi + 1, hi + 1_000_001, dtype=np.int64).tolist()
    with open(os.path.join(idx, TOMBSTONES_FILE), "w") as f:
        json.dump({"docid_epoch": man.get("docid_epoch", 0),
                   "docids": [1, 2, 3] + ids}, f)
    try:
        tomb = tombstone_view(idx, epoch=man.get("docid_epoch", 0))
        assert tomb.dtype == np.int64 and len(tomb) == 1_000_003
        assert (np.diff(tomb) > 0).all()
        q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
        res = search_index(spark, idx, q, merge="driver")
        assert len(res) == 5
        assert not res["docid"].isin([1, 2, 3]).any()
        exp = _expected(corpus_pdf, ["import"], 5, {1, 2, 3})
        assert res.sort_values("rank")["docid"].tolist() == exp
        out = str(tmp_path_factory.mktemp("out_million")) + "/v"
        m = compact_index(spark, idx, out, target_segments=2)
        assert int(m["n_docs"].sum()) == int(man["n_docs"]) - 3
    finally:
        os.remove(os.path.join(idx, TOMBSTONES_FILE))


def test_out_of_range_delete_raises_and_spares_next_append(
        spark, corpus_pdf, tmp_path_factory):
    """A docid in no segment is refused with the journal unchanged: left
    in the journal, it would hide the doc the next append numbers so."""
    from jvector_spark.streaming.micro_segments import append_micro_segment

    d = str(tmp_path_factory.mktemp("idx_oor_delete"))
    build_index(assign_dense_docids(
        spark.createDataFrame(corpus_pdf.head(10))), d, num_segments=1)
    mark_deleted(d, [3])
    with open(os.path.join(d, TOMBSTONES_FILE)) as f:
        journal = f.read()
    with pytest.raises(ValueError, match=r"\[10, 11\]"):
        mark_deleted(d, [4, 10, 11])
    with open(os.path.join(d, TOMBSTONES_FILE)) as f:
        assert f.read() == journal

    new = corpus_pdf.head(1).assign(path="new.py",
                                    content="zz_fresh_token import")
    append_micro_segment(spark.createDataFrame(new), 0, d)
    assert load_manifest(d)["n_docs"] == 11
    q = pd.DataFrame({"qid": [0], "terms": [["zz_fresh_token"]], "k": [5]})
    assert search_index(spark, d, q, merge="driver")["docid"].tolist() == [10]


def test_compaction_moves_shards_to_new_epoch_and_vacuum_gcs(
        spark, corpus_df, tmp_path_factory):
    """After an in-place compaction the journal is scoped to epoch 1; a
    late delete lands there and the next search drops the doc. vacuum
    removes the per-segment tombstone copies older versions left in
    tombstones.d/."""
    d = str(tmp_path_factory.mktemp("idx_tsh_epoch"))
    build_index(assign_dense_docids(corpus_df), d, num_segments=3)
    mark_deleted(d, [0, 1])
    compact_in_place(spark, d, vacuum_min_age_sec=10**9)
    man = load_manifest(d)
    assert int(man["docid_epoch"]) == 1
    assert tombstone_view(d, epoch=1).tolist() == []  # purged, not carried

    # the rarest term of doc 7: a query for it with k above its df
    # returns every doc that holds it
    seg = next(s for s in man["segments"]
               if s["min_docid"] <= 7 <= s["max_docid"])
    r = SegmentReader(seg["path"])
    term = min((t for t in r.terms if 7 in r.decode_term(t)[0]),
               key=lambda t: (r.term_row(t)["df"], t))
    q = pd.DataFrame({"qid": [0], "terms": [[term]], "k": [1000]})
    before = search_index(spark, d, q, merge="driver")["docid"].tolist()
    assert 7 in before

    mark_deleted(d, [7])
    with open(os.path.join(d, TOMBSTONES_FILE)) as f:
        assert json.load(f) == {"docid_epoch": 1, "docids": [7]}
    after = search_index(spark, d, q, merge="driver")["docid"].tolist()
    assert after == [x for x in before if x != 7]

    legacy = os.path.join(d, "tombstones.d")
    os.makedirs(os.path.join(legacy, "epoch=0"))
    removed = vacuum_index(d, min_age_sec=0, lease_timeout_sec=0)
    assert legacy in removed
    assert not os.path.isdir(legacy)
