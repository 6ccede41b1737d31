"""Bulk upsert via replace_docs_bulk — the MERGE-INTO-shaped regime
(buildAndMergeNewNodes, GraphIndexBuilder.java:992-1029): the docs a
replace supersedes are matched as in replace_docs, the index rewrites
through compact_index's merge tasks purging them with the journal, and
the replacements append to the fresh index."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import search_index
from jvector_spark.plans.merge import (
    load_tombstones,
    mark_deleted,
    replace_docs_bulk,
)
from jvector_spark.sources.segment import build_index, load_manifest


def _mk(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def _base_rows(n=30):
    return [
        {"repo": "r", "path": f"{i:03d}", "commit": "c0", "lang": "python",
         "content": f"alpha token{i} shared"}
        for i in range(n)
    ]


@pytest.fixture()
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_bulk"))
    docs = assign_dense_docids(_mk(spark, _base_rows()).repartition(3))
    build_index(docs, d, num_segments=3)
    return d


def _live_count(spark, idx, term):
    res = search_index(
        spark, idx,
        pd.DataFrame({"qid": [0], "terms": [[term]], "k": [100]}),
        merge="driver")
    return len(res)


def test_bulk_replace_rewrites_and_appends(spark, idx, tmp_path_factory):
    """Replace a third of the corpus in one batch: old versions gone, new
    content live, untouched docs survive with exactly one copy, docid_map
    written, replaced count = batch size, and nothing but out_dir is
    written beside it."""
    out_dir = str(tmp_path_factory.mktemp("idx_bulk_out")) + "/v2"
    new = _mk(spark, [
        {"repo": "r", "path": f"{i:03d}", "commit": "c0", "lang": "python",
         "content": f"alpha zz_bulk{i} shared"}
        for i in range(0, 30, 3)
    ] + [
        # a brand-new key: upsert semantics — pure insert, nothing doomed
        {"repo": "r", "path": "999", "commit": "c0", "lang": "python",
         "content": "alpha zz_fresh shared"}
    ])
    res = replace_docs_bulk(spark, idx, new, out_dir)
    assert res["replaced"] == 10  # the fresh key dooms nothing
    assert _live_count(spark, out_dir, "token0") == 0      # replaced
    assert _live_count(spark, out_dir, "token3") == 0
    assert _live_count(spark, out_dir, "zz_bulk0") == 1    # new live
    assert _live_count(spark, out_dir, "zz_bulk27") == 1
    assert _live_count(spark, out_dir, "token1") == 1      # untouched
    assert _live_count(spark, out_dir, "zz_fresh") == 1    # pure insert
    assert _live_count(spark, out_dir, "alpha") == 31      # one per key
    assert os.path.isdir(os.path.join(out_dir, "docid_map"))
    assert os.listdir(os.path.dirname(out_dir)) == ["v2"]
    # the source index is untouched (read-only contract)
    assert _live_count(spark, idx, "token0") == 1


def test_bulk_replace_purges_journal_tombstones_too(spark, idx,
                                                    tmp_path_factory):
    """Pre-existing journal tombstones purge in the same rewrite, and a
    doc that is BOTH journal-tombstoned and in the incoming batch is not
    double-subtracted from the docid offsets."""
    out_dir = str(tmp_path_factory.mktemp("idx_bulk_out2")) + "/v2"
    mark_deleted(idx, [2, 4])  # journal path; docid 4 == path 004
    new = _mk(spark, [
        {"repo": "r", "path": "004", "commit": "c0", "lang": "python",
         "content": "alpha zz_resurrect shared"},
        {"repo": "r", "path": "010", "commit": "c0", "lang": "python",
         "content": "alpha zz_ten shared"},
    ])
    res = replace_docs_bulk(spark, idx, new, out_dir)
    # docid 4 was already journal-tombstoned -> not counted as replaced
    assert res["replaced"] == 1
    assert _live_count(spark, out_dir, "token2") == 0   # journal purge
    assert _live_count(spark, out_dir, "token4") == 0
    assert _live_count(spark, out_dir, "token10") == 0
    assert _live_count(spark, out_dir, "zz_resurrect") == 1
    assert _live_count(spark, out_dir, "zz_ten") == 1
    assert _live_count(spark, out_dir, "alpha") == 29   # 30 - deleted 002
    assert load_tombstones(out_dir) == []               # fresh index


def test_bulk_replace_empty_index_refuses(spark, tmp_path_factory):
    from jvector_spark.serve import create_index

    d = str(tmp_path_factory.mktemp("idx_bulk_empty"))
    create_index(d)
    new = _mk(spark, _base_rows(2))
    with pytest.raises(ValueError, match="non-empty"):
        replace_docs_bulk(spark, d, new, d + "_v2")
