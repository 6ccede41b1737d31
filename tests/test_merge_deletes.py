"""Merge-compaction + 2-phase delete semantics.

Mirrors the reference's delete/compaction tests: TestDeletions.java (mark ->
results excluded immediately; cleanup -> physically removed) and
TestOnDiskGraphIndex.testRenumberingOnDelete:94-143 (dense renumbering fills
holes, order preserved)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import search_index
from jvector_spark.oracle import BM25Oracle
from jvector_spark.plans.merge import (
    compact_index,
    load_tombstones,
    mark_deleted,
)
from jvector_spark.sources.segment import build_index, load_manifest


@pytest.fixture(scope="module")
def index(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_merge"))
    docs = assign_dense_docids(corpus_df)
    manifest = build_index(docs, idx, num_segments=6, positions=True)
    return idx, manifest


DELETED = [0, 3, 7, 50, 113, 200, 299]


def _expected_topk(oracle: BM25Oracle, terms, k, excluded: set[int]):
    """Oracle top-k with tombstones excluded but stats UNCHANGED (phase-1
    delete semantics: excluded from results, still counted in df/N/avgdl)."""
    docids, scores = oracle.score_query(list(terms))
    hit = (scores > 0.0) & ~np.isin(docids, list(excluded))
    d, s = docids[hit], scores[hit]
    order = np.lexsort((d, -s))[:k]
    return d[order], s[order]


def test_tombstones_visible_immediately(spark, index, oracle, queries_pdf):
    idx, _ = index
    mark_deleted(idx, DELETED)
    assert load_tombstones(idx) == sorted(DELETED)
    res = search_index(spark, idx, queries_pdf).toPandas()
    assert not res["docid"].isin(DELETED).any()
    for q in queries_pdf.itertuples():
        got = res[res["qid"] == q.qid].sort_values("rank")
        exp_d, exp_s = _expected_topk(oracle, q.terms, q.k, set(DELETED))
        assert got["docid"].tolist() == exp_d.tolist(), f"qid={q.qid}"
        assert np.allclose(got["score"].to_numpy(), exp_s, rtol=0, atol=0)


def test_compaction_purges_and_renumbers(spark, index, corpus_pdf, queries_pdf,
                                         tmp_path_factory):
    idx, manifest = index
    mark_deleted(idx, DELETED)
    out = str(tmp_path_factory.mktemp("idx_compacted"))
    out_manifest = compact_index(spark, idx, out, target_segments=3)

    # docids dense 0..n_live-1, contiguous across segments, order-preserving
    n_live = len(corpus_pdf) - len(DELETED)
    assert int(out_manifest["n_docs"].sum()) == n_live
    assert out_manifest["min_docid"].iloc[0] == 0
    for i in range(1, len(out_manifest)):
        assert (out_manifest["min_docid"].iloc[i]
                == out_manifest["max_docid"].iloc[i - 1] + 1)
    assert int(out_manifest["max_docid"].max()) == n_live - 1

    # docid_map is order-preserving on survivors
    dmap = pq.read_table(os.path.join(out, "docid_map")).to_pandas().sort_values(
        "old_docid"
    )
    assert (np.diff(dmap["new_docid"].to_numpy()) > 0).all()
    assert not dmap["old_docid"].isin(DELETED).any()
    assert len(dmap) == n_live

    # queries on the compacted index == oracle over the reduced corpus
    # (stats now EXCLUDE deleted docs — phase-2 semantics)
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    live_corpus = keyed[~keyed.index.isin(DELETED)].reset_index(drop=True)
    oracle2 = BM25Oracle(live_corpus)
    res = search_index(spark, out, queries_pdf).toPandas()
    for q in queries_pdf.itertuples():
        got = res[res["qid"] == q.qid].sort_values("rank")
        exp = oracle2.topk(list(q.terms), int(q.k))
        assert got["docid"].tolist() == exp["docid"].tolist(), f"qid={q.qid}"
        assert np.allclose(got["score"].to_numpy(),
                           exp["score"].to_numpy(), rtol=0, atol=0)


def test_compaction_fully_tombstoned_group(spark, corpus_df, corpus_pdf,
                                           queries_pdf, tmp_path_factory):
    """A group whose docs are ALL tombstoned must be skipped cleanly (no
    empty-segment crash, no seg-id collision): delete every doc of the
    first two of six segments, compact 6 -> 3 (group 0 fully dead)."""
    idx = str(tmp_path_factory.mktemp("idx_dead"))
    docs = assign_dense_docids(corpus_df)
    manifest = build_index(docs, idx, num_segments=6)
    segs = manifest.sort_values("min_docid")
    dead_hi = int(segs["max_docid"].iloc[1])
    mark_deleted(idx, list(range(0, dead_hi + 1)))
    out = str(tmp_path_factory.mktemp("idx_dead_out"))
    out_manifest = compact_index(spark, idx, out, target_segments=3)
    n_live = len(corpus_pdf) - (dead_hi + 1)
    assert int(out_manifest["n_docs"].sum()) == n_live
    assert len(set(out_manifest["segment_id"])) == len(out_manifest)
    assert out_manifest["min_docid"].iloc[0] == 0
    assert int(out_manifest["max_docid"].max()) == n_live - 1
    # queries still work on the compacted index
    res = search_index(spark, out, queries_pdf).toPandas()
    assert (res["docid"] <= n_live - 1).all()


def test_compaction_bytes_bounded_policy(spark, corpus_df, corpus_pdf,
                                         queries_pdf, oracle,
                                         tmp_path_factory):
    """target_bytes policy: adjacent-greedy groups each stay under the
    byte bound (unless a single segment exceeds it), docid order is
    preserved, and search results are unchanged."""
    idx = str(tmp_path_factory.mktemp("idx_bytes"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=6)
    bound = int(manifest["bytes_postings"].median() * 2.5)
    out = str(tmp_path_factory.mktemp("idx_bytes_out"))
    om = compact_index(spark, idx, out, target_bytes=bound)
    assert 1 < len(om) < 6
    # every output segment's INPUT group respected the bound: check via
    # merged_from meta against the input manifest's byte sizes
    import json as _json

    in_bytes = {s: b for s, b in zip(manifest["segment_id"],
                                     manifest["bytes_postings"])}
    for p in om["path"]:
        with open(os.path.join(p, "meta.json")) as f:
            meta = _json.load(f)
        src = meta["merged_from"]
        total = sum(in_bytes[s] for s in src)
        assert total <= bound or len(src) == 1, (src, total)
    # order-preserving, result-identical
    assert om["min_docid"].iloc[0] == 0
    res = search_index(spark, out, queries_pdf).toPandas()
    for q in queries_pdf.itertuples():
        got = res[res["qid"] == q.qid].sort_values("rank")
        exp = oracle.topk(list(q.terms), int(q.k))
        assert got["docid"].tolist() == exp["docid"].tolist()


def test_compaction_everything_tombstoned(spark, corpus_df, tmp_path_factory):
    """Tombstoning the whole corpus compacts to a valid EMPTY index."""
    idx = str(tmp_path_factory.mktemp("idx_all_dead"))
    docs = assign_dense_docids(corpus_df)
    manifest = build_index(docs, idx, num_segments=3)
    mark_deleted(idx, list(range(int(manifest["max_docid"].max()) + 1)))
    out = str(tmp_path_factory.mktemp("idx_all_dead_out"))
    out_manifest = compact_index(spark, idx, out, target_segments=2)
    assert len(out_manifest) == 0
    m = load_manifest(out)
    assert m["segments"] == [] and m["n_docs"] == 0


def test_compaction_no_tombstones_is_pure_merge(spark, corpus_df, corpus_pdf,
                                                queries_pdf, oracle,
                                                tmp_path_factory):
    """Compacting without deletes = segment-count reduction, results
    unchanged (the buildAndMergeNewNodes growth/merge path)."""
    idx = str(tmp_path_factory.mktemp("idx_pure"))
    docs = assign_dense_docids(corpus_df)
    build_index(docs, idx, num_segments=6)
    out = str(tmp_path_factory.mktemp("idx_pure_out"))
    out_manifest = compact_index(spark, idx, out, target_segments=2)
    assert len(out_manifest) == 2
    assert int(out_manifest["n_docs"].sum()) == len(corpus_pdf)
    res = search_index(spark, out, queries_pdf).toPandas()
    for q in queries_pdf.itertuples():
        got = res[res["qid"] == q.qid].sort_values("rank")
        exp = oracle.topk(list(q.terms), int(q.k))
        assert got["docid"].tolist() == exp["docid"].tolist()
        assert np.allclose(got["score"].to_numpy(),
                           exp["score"].to_numpy(), rtol=0, atol=0)


def test_deleted_docs_absent_from_every_operator(spark, index, corpus_pdf,
                                                oracle):
    """Tombstones reach every index-scatter operator, not just search:
    each query below is built from a DELETED doc's own tokens, so that
    doc would match (k covers the corpus) were its tombstone ignored."""
    from jvector_spark.functions.tokenizer import tokenize_series
    from jvector_spark.operators.boolquery import boolean_search_index
    from jvector_spark.operators.facets import (
        collapse_topk, facet_counts, match_export)
    from jvector_spark.operators.phrase import phrase_search
    from jvector_spark.operators.proximity import proximity_search
    from jvector_spark.operators.regex import regex_token_topk

    idx, _ = index
    mark_deleted(idx, DELETED)
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(
        drop=True)
    probes = [list(t[1:3]) for t in
              tokenize_series(keyed["content"].iloc[[0, 50, 200]], "code")]
    k = len(corpus_pdf)
    qids = range(len(probes))
    terms_q = pd.DataFrame({"qid": qids, "terms": probes, "k": k})
    live_matches = 0
    for q in terms_q.itertuples():
        d = np.unique(np.concatenate(
            [oracle.postings[t][0] for t in q.terms]))
        assert np.isin(d, DELETED).any()  # the check is not vacuous
        live_matches += int((~np.isin(d, DELETED)).sum())

    exported = match_export(spark, idx, terms_q[["qid", "terms"]]).toPandas()
    assert len(exported) == live_matches
    facets = facet_counts(spark, idx, terms_q[["qid", "terms"]],
                          "repo").toPandas()
    assert int(facets["n_docs"].sum()) == live_matches
    results = {
        "export": exported,
        "and": search_index(spark, idx, terms_q, mode="and", merge="driver"),
        "collapse": collapse_topk(spark, idx, terms_q, "repo").toPandas(),
        "boolean": boolean_search_index(spark, idx, pd.DataFrame({
            "qid": qids, "query": [" OR ".join(t) for t in probes],
            "k": k}), merge="driver"),
        "phrase": phrase_search(spark, idx, pd.DataFrame({
            "qid": qids, "phrase": [" ".join(t) for t in probes],
            "k": k}), merge="driver"),
        "proximity": proximity_search(spark, idx, pd.DataFrame({
            "qid": qids, "terms": probes, "window": 4, "k": k}),
            merge="driver"),
        "regex": regex_token_topk(spark, idx, pd.DataFrame({
            "qid": qids, "pattern": [f"^{t[0]}$" for t in probes],
            "k": k}), merge="driver"),
    }
    for name, res in results.items():
        assert len(res), name
        assert not res["docid"].isin(DELETED).any(), name


def test_empty_index_queries_return_empty(spark, corpus_df, tmp_path_factory):
    """A zero-segment index (everything-tombstoned compaction output) is
    valid: every index-scatter operator returns its typed EMPTY result,
    never crashes."""
    from jvector_spark.operators.boolquery import boolean_search_index
    from jvector_spark.operators.facets import (
        attr_histogram, attr_stats, collapse_topk, facet_counts,
        match_count, match_export, sorted_search,
    )
    from jvector_spark.operators.phrase import phrase_search
    from jvector_spark.operators.proximity import proximity_search
    from jvector_spark.operators.regex import regex_token_topk

    idx = str(tmp_path_factory.mktemp("idx_e"))
    m = build_index(assign_dense_docids(corpus_df), idx, num_segments=2,
                    positions=True)
    mark_deleted(idx, list(range(int(m["max_docid"].max()) + 1)))
    out = str(tmp_path_factory.mktemp("idx_e_out"))
    compact_index(spark, idx, out, target_segments=1)
    assert not load_manifest(out)["segments"]
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
    for col, res in [
        ("score", search_index(spark, out, q).toPandas()),
        ("score", search_index(spark, out, q, merge="driver")),
        ("score", boolean_search_index(spark, out, pd.DataFrame(
            {"qid": [0], "query": ["import OR os"], "k": [5]}),
            merge="driver")),
        ("n_occ", regex_token_topk(spark, out, pd.DataFrame(
            {"qid": [0], "pattern": ["^run_"], "k": [5]}), merge="driver")),
        ("n_matches", phrase_search(spark, out, pd.DataFrame(
            {"qid": [0], "phrase": ["import os"], "k": [5]}),
            merge="driver")),
        ("n_matches", proximity_search(spark, out, pd.DataFrame(
            {"qid": [0], "terms": [["import", "os"]], "window": [3],
             "k": [5]}), merge="driver")),
        ("sort_key", sorted_search(spark, out, q, merge="driver")),
    ]:
        assert list(res.columns) == ["qid", "rank", "docid", col]
        assert len(res) == 0, col
    terms = q[["qid", "terms"]]
    aggs = {
        ("qid", "facet", "n_docs"): facet_counts(spark, out, terms, "repo"),
        ("qid", "grp", "docid", "score", "k"): collapse_topk(spark, out, q,
                                                             "repo"),
        ("qid", "n_docs", "min_attr", "max_attr", "sum_attr",
         "avg_attr"): attr_stats(spark, out, terms),
        ("qid", "bin", "n_docs"): attr_histogram(spark, out, terms),
        ("qid", "docid"): match_export(spark, out, terms),
        ("qid", "n_docs"): match_count(spark, out, terms),
    }
    for cols, res in aggs.items():
        assert tuple(res.columns) == cols
        assert res.count() == 0, cols


def test_resume_rebuilds_when_build_params_change(spark, corpus_df,
                                                  tmp_path_factory):
    """The resume fingerprint covers output-affecting build params: the
    same docs rebuilt with positions=True must NOT resume the old
    non-positional segments."""
    import pandas as pd

    from jvector_spark.operators.phrase import phrase_search

    idx = str(tmp_path_factory.mktemp("idx_params"))
    docs = assign_dense_docids(corpus_df)
    m1 = build_index(docs, idx, num_segments=2)
    assert (m1["status"] == "built").all()
    m2 = build_index(docs, idx, num_segments=2, positions=True)
    assert (m2["status"] == "built").all(), "positions change must rebuild"
    res = phrase_search(
        spark, idx,
        pd.DataFrame({"qid": [0], "phrase": ["map_get21 run_parse33"],
                      "k": [5]}),
        merge="driver")
    assert len(res) >= 0  # phrase path now valid on this index
    # and an identical rebuild still resumes
    m3 = build_index(docs, idx, num_segments=2, positions=True)
    assert (m3["status"] == "resumed").all()


def test_vacuum_removes_orphans_only(spark, corpus_df, tmp_path_factory):
    """vacuum_index removes unreferenced segment dirs (crash leftovers,
    .tmp staging) and leaves every manifest-referenced segment intact;
    queries are unaffected."""
    import shutil as _shutil

    from jvector_spark.plans.merge import vacuum_index

    idx = str(tmp_path_factory.mktemp("idx_vac"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=3)
    # fabricate orphans: a copied segment dir not in the manifest + a tmp
    src = manifest["path"].iloc[0]
    orphan = os.path.join(idx, "seg-999999999999")
    _shutil.copytree(src, orphan)
    tmp = os.path.join(idx, "seg-000000000123.tmp")
    os.makedirs(tmp)
    would = vacuum_index(idx, dry_run=True, min_age_sec=0)
    assert set(would) == {orphan, tmp}
    assert os.path.exists(orphan)  # dry run touched nothing
    removed = vacuum_index(idx, min_age_sec=0)
    assert set(removed) == {orphan, tmp}
    assert not os.path.exists(orphan) and not os.path.exists(tmp)
    for p in manifest["path"]:
        assert os.path.exists(os.path.join(p, "_SUCCESS"))
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
    assert search_index(spark, idx, q).count() > 0


def test_compact_in_place(spark, corpus_df, corpus_pdf, queries_pdf,
                          tmp_path_factory):
    """In-place compaction: same directory serves the compacted index
    (atomic manifest flip), tombstones purge+reset, superseded segment
    dirs vacuum away, and a SECOND compaction chains generations."""
    from jvector_spark.plans.merge import compact_in_place

    idx = str(tmp_path_factory.mktemp("idx_inplace"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=6)
    mark_deleted(idx, DELETED)
    m1 = compact_in_place(spark, idx, target_segments=3,
                          vacuum_min_age_sec=0)
    n_live = len(corpus_pdf) - len(DELETED)
    assert int(m1["n_docs"].sum()) == n_live
    assert load_tombstones(idx) == []  # physically purged
    # old top-level seg dirs gone; only the generation's segments remain
    top_segs = [n for n in os.listdir(idx) if n.startswith("seg-")]
    assert top_segs == []
    # queries match the reduced-corpus oracle from the SAME path
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    live_corpus = keyed[~keyed.index.isin(DELETED)].reset_index(drop=True)
    oracle2 = BM25Oracle(live_corpus)
    res = search_index(spark, idx, queries_pdf).toPandas()
    for q in queries_pdf.itertuples():
        got = res[res["qid"] == q.qid].sort_values("rank")
        exp = oracle2.topk(list(q.terms), int(q.k))
        assert got["docid"].tolist() == exp["docid"].tolist(), f"qid={q.qid}"
    # second in-place compaction: old generation vacuumed
    gens_before = [n for n in os.listdir(idx) if n.startswith("gen-")]
    m2 = compact_in_place(spark, idx, target_segments=1,
                          vacuum_min_age_sec=0)
    assert int(m2["n_docs"].sum()) == n_live
    gens_after = [n for n in os.listdir(idx) if n.startswith("gen-")]
    assert len(gens_after) == 1 and gens_after != gens_before
    res2 = search_index(spark, idx, queries_pdf).toPandas()
    assert len(res2) == len(res)


def test_streaming_auto_compaction(spark, corpus_df, corpus_pdf,
                                   tmp_path_factory):
    """Continuous ingest with auto_compact_segments keeps the manifest's
    segment count bounded while results stay oracle-exact."""
    from jvector_spark.streaming.micro_segments import stream_build_index

    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    src = tmp_path_factory.mktemp("ac_src")
    for i, chunk in enumerate(np.array_split(np.arange(len(keyed)), 5)):
        keyed.iloc[chunk].to_parquet(src / f"p{i:02d}.parquet", index=False)
    idx = str(tmp_path_factory.mktemp("ac_idx"))
    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    q = stream_build_index(stream, idx, str(tmp_path_factory.mktemp("ac_ck")),
                           auto_compact_segments=2)
    q.awaitTermination(300)
    m = load_manifest(idx)
    assert m["n_docs"] == len(keyed)
    assert len(m["segments"]) <= 3
    # compaction renumbers docids densely but preserves arrival order, so
    # ranks must still match the whole-corpus oracle
    oracle = BM25Oracle(keyed)
    qdf = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [10]})
    res = search_index(spark, idx, qdf).toPandas().sort_values("rank")
    exp = oracle.topk(["import"], 10)
    assert res["docid"].tolist() == exp["docid"].tolist()


def test_verify_index_detects_corruption(spark, corpus_df, tmp_path_factory):
    """fsck: a clean positional index verifies ok everywhere; flipping one
    posting byte is caught (sha mismatch and/or decode failure), and so is
    one flipped key-bloom byte, which keeps the file's size and so still
    loads (a false negative there re-indexes a committed doc)."""
    from jvector_spark.plans.verify import verify_index
    from jvector_spark.sources.segment import KEY_BLOOM_FILE, load_key_bloom

    idx = str(tmp_path_factory.mktemp("idx_fsck"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=3, positions=True)
    clean = verify_index(spark, idx).toPandas()
    assert clean["ok"].all(), clean[~clean["ok"]]["errors"].tolist()

    # corrupt one byte mid-blob in segment 0
    victim = manifest["path"].iloc[0]
    blob = os.path.join(victim, "postings.bin")
    raw = bytearray(open(blob, "rb").read())
    raw[len(raw) // 2] ^= 0xFF
    with open(blob, "wb") as f:
        f.write(bytes(raw))
    # and one bit of segment 1's key bloom
    kvictim = manifest["path"].iloc[1]
    kb = os.path.join(kvictim, KEY_BLOOM_FILE)
    raw = bytearray(open(kb, "rb").read())
    raw[len(raw) // 2] ^= 0x01
    with open(kb, "wb") as f:
        f.write(bytes(raw))
    assert load_key_bloom(kvictim) is not None
    res = verify_index(spark, idx).toPandas().set_index("segment_id")
    vid = manifest["segment_id"].iloc[0]
    assert not res.loc[vid, "ok"]
    assert any("sha256" in e or "decode" in e or "ascending" in e
               for e in res.loc[vid, "errors"])
    kid = manifest["segment_id"].iloc[1]
    assert not res.loc[kid, "ok"]
    assert list(res.loc[kid, "errors"]) == ["key_bloom_sha256 mismatch"]
    others = res.drop(index=[vid, kid])
    assert len(others) and others["ok"].all()


def test_vacuum_respects_live_lease(spark, corpus_df, tmp_path_factory):
    """A dir staged by an in-flight writer (live lease, mtime ≥ lease
    start) must survive vacuum even at min_age_sec=0 — mtime age alone
    cannot distinguish a slow build from a crash leftover. Once the lease
    is released (or its heartbeat expires), the dir is collectable."""
    from jvector_spark.plans.merge import (
        acquire_lease,
        release_lease,
        vacuum_index,
    )

    idx = str(tmp_path_factory.mktemp("idx_lease"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=2)
    lease = acquire_lease(idx, purpose="append")
    staged = os.path.join(idx, "seg-777777777777.tmp")
    os.makedirs(staged)  # staged AFTER lease start -> owned by the writer
    assert vacuum_index(idx, min_age_sec=0) == []
    assert os.path.exists(staged)
    release_lease(lease)
    assert vacuum_index(idx, min_age_sec=0) == [staged]
    assert not os.path.exists(staged)
    # dead-writer path: an expired heartbeat stops protecting
    lease2 = acquire_lease(idx, purpose="append")
    staged2 = os.path.join(idx, "seg-777777777778.tmp")
    os.makedirs(staged2)
    assert vacuum_index(idx, min_age_sec=0) == []  # heartbeat fresh
    assert vacuum_index(idx, min_age_sec=0,
                        lease_timeout_sec=0.0) == [staged2]
    release_lease(lease2)


def test_late_delete_survives_in_place_compaction(spark, corpus_df,
                                                  corpus_pdf, queries_pdf,
                                                  tmp_path_factory,
                                                  monkeypatch):
    """A delete acked AFTER compaction snapshots the tombstones but BEFORE
    the manifest flip must not be lost: compact_in_place diffs the file at
    flip time and rewrites the late docid under the new epoch, translated
    through the docid_map."""
    import jvector_spark.plans.merge as merge_mod

    idx = str(tmp_path_factory.mktemp("idx_late"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=4)
    mark_deleted(idx, DELETED)
    late = 100  # not in DELETED: survives the purge, then gets deleted late
    assert late not in DELETED

    real_compact = merge_mod.compact_index

    def compact_then_late_delete(*args, **kwargs):
        out = real_compact(*args, **kwargs)
        # the late delete lands between the snapshot and the flip
        mark_deleted(idx, [late])
        return out

    monkeypatch.setattr(merge_mod, "compact_index", compact_then_late_delete)
    merge_mod.compact_in_place(spark, idx, target_segments=2,
                               vacuum_min_age_sec=0)
    # survivor renumbering: new docid = old - |deleted below old|
    translated = late - sum(1 for d in DELETED if d < late)
    assert load_tombstones(idx) == [translated]
    res = search_index(spark, idx, queries_pdf).toPandas()
    assert not res["docid"].isin([translated]).any()
    # and the doc is genuinely the same one: purging it at the NEXT
    # compaction keeps results oracle-exact for the doubly-reduced corpus
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    live = keyed[~keyed.index.isin(DELETED + [late])].reset_index(drop=True)
    monkeypatch.setattr(merge_mod, "compact_index", real_compact)
    merge_mod.compact_in_place(spark, idx, target_segments=1,
                               vacuum_min_age_sec=0)
    assert load_tombstones(idx) == []
    oracle2 = BM25Oracle(live)
    res2 = search_index(spark, idx, queries_pdf).toPandas()
    for q in queries_pdf.itertuples():
        got = res2[res2["qid"] == q.qid].sort_values("rank")
        exp = oracle2.topk(list(q.terms), int(q.k))
        assert got["docid"].tolist() == exp["docid"].tolist(), f"qid={q.qid}"


def test_torn_term_stats_detected_and_search_falls_back(
        spark, corpus_df, oracle, queries_pdf, tmp_path_factory):
    """Crash-window simulation: term_stats.parquet from a NEWER write than
    the manifest (the torn pair a crash between the two file replaces
    leaves behind). The manifest's recorded sha must flag the mismatch —
    the hot-tier lookup returns None and search falls back to the
    distributed df aggregation, staying oracle-exact."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from jvector_spark.sources.segment import read_global_term_stats

    idx = str(tmp_path_factory.mktemp("idx_torn"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=3)
    assert read_global_term_stats(idx, ["import"]) is not None
    # simulate the tear: rewrite the stats file with wrong (skewed) df
    stats = os.path.join(idx, "term_stats.parquet")
    t = _pq.read_table(stats).to_pandas()
    t["df"] = 1  # maximally-wrong idf if ever trusted
    _pq.write_table(_pa.Table.from_pandas(t, preserve_index=False), stats)
    assert read_global_term_stats(idx, ["import"]) is None  # tear detected
    res = search_index(spark, idx, queries_pdf).toPandas()
    for q in queries_pdf.itertuples():
        got = res[res["qid"] == q.qid].sort_values("rank")
        exp = oracle.topk(list(q.terms), int(q.k))
        assert got["docid"].tolist() == exp["docid"].tolist(), f"qid={q.qid}"
        assert np.allclose(got["score"].to_numpy(),
                           exp["score"].to_numpy(), rtol=0, atol=0)


def test_stale_epoch_tombstones_ignored(spark, corpus_df, tmp_path_factory):
    """Crash-window simulation: a tombstones file from BEFORE an in-place
    compaction (old docid_epoch) must be ignored by readers — old-
    numbering ids applied to renumbered docids would delete wrong docs."""
    import json as _json

    from jvector_spark.plans.merge import compact_in_place

    idx = str(tmp_path_factory.mktemp("idx_epoch"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=3)
    mark_deleted(idx, [0, 1])
    assert load_tombstones(idx) == [0, 1]
    compact_in_place(spark, idx, target_segments=2, vacuum_min_age_sec=0)
    # simulate the crash: resurrect the PRE-compaction tombstones file
    with open(os.path.join(idx, "tombstones.json"), "w") as f:
        _json.dump({"docid_epoch": 0, "docids": [0, 1]}, f)
    assert load_tombstones(idx) == []  # stale epoch -> ignored
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
    res = search_index(spark, idx, q, merge="driver")
    assert len(res) == 5  # renumbered docs 0,1 are NOT wrongly excluded
    # fresh deletes at the new epoch apply normally
    mark_deleted(idx, [2])
    assert load_tombstones(idx) == [2]


def test_optimize_refine_pass_upgrades_codec(spark, corpus_df, oracle,
                                             queries_pdf, tmp_path_factory):
    """Standalone refinement (SURVEY §2.9 graph-refinement analog): a
    varint-forced (v1-layout) index re-encoded through optimize_index
    shrinks via the adaptive codec while results stay rank- AND
    score-identical — refinement must not change ranks."""
    from jvector_spark.plans.merge import optimize_index
    from jvector_spark.sources.segment import SegmentReader

    idx = str(tmp_path_factory.mktemp("idx_opt"))
    m0 = build_index(assign_dense_docids(corpus_df), idx, num_segments=4,
                     codec="varint")
    bytes_before = int(m0["bytes_postings"].sum())
    before = search_index(spark, idx, queries_pdf, merge="driver")
    m1 = optimize_index(spark, idx, vacuum_min_age_sec=0)
    bytes_after = int(m1["bytes_postings"].sum())
    assert bytes_after < bytes_before, (bytes_after, bytes_before)
    # adaptive codec in the refreshed dictionaries: at least one FOR term
    r = SegmentReader(m1["path"].iloc[0])
    assert (np.asarray(r._cols["gap_codec"]) == 1).any()
    after = search_index(spark, idx, queries_pdf, merge="driver")
    assert before[["qid", "docid"]].values.tolist() == \
        after[["qid", "docid"]].values.tolist()
    assert np.allclose(before["score"], after["score"], rtol=0, atol=0)
    for q in queries_pdf.itertuples():
        got = after[after["qid"] == q.qid].sort_values("rank")
        exp = oracle.topk(list(q.terms), int(q.k))
        assert got["docid"].tolist() == exp["docid"].tolist(), f"qid={q.qid}"


def test_optimize_with_tombstones_purges_and_rescores(
        spark, corpus_df, corpus_pdf, tmp_path_factory):
    """ADVICE r3 (low): the rank-identical contract only holds on a
    tombstone-free index — with pending deletes, optimize purges them
    (n_docs/avgdl shrink, scores shift like a compaction's would) and the
    deleted docs stay excluded; result DOCIDS (post-remap) match the
    delete-filtered oracle."""
    from jvector_spark.oracle import BM25Oracle
    from jvector_spark.plans.merge import mark_deleted, optimize_index

    idx = str(tmp_path_factory.mktemp("idx_opt_tomb"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=3)
    doomed = [1, 5, 9]
    mark_deleted(idx, doomed)
    man = optimize_index(spark, idx, vacuum_min_age_sec=0)
    assert int(man["n_docs"].sum()) == len(corpus_pdf) - len(doomed)
    assert load_tombstones(idx) == []  # physically purged
    # scores now match an oracle over exactly the SURVIVING docs (stats
    # shrink with the purge): same reduced-corpus construction the
    # compaction tests use — key-sorted corpus minus the doomed rows
    keyed = corpus_pdf.sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True)
    live = keyed[~keyed.index.isin(doomed)].reset_index(drop=True)
    orc = BM25Oracle(live)
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [10]})
    got = search_index(spark, idx, q, merge="driver").sort_values("rank")
    exp = orc.topk(["import"], 10)
    assert got["docid"].tolist() == exp["docid"].tolist()
    assert np.allclose(got["score"], exp["score"], atol=1e-9)


def test_tombstone_writers_serialized(spark, corpus_df, tmp_path_factory):
    """ADVICE r3 (medium): tombstones.json writers are mutually exclusive
    — a mark_deleted issued while another writer holds the lock blocks
    until release and its delete is never clobbered."""
    import threading
    import time as _t

    from jvector_spark.plans.merge import _tombstone_lock, mark_deleted

    idx = str(tmp_path_factory.mktemp("idx_lock"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=2)
    started = threading.Event()
    done = threading.Event()

    def racer():
        started.set()
        mark_deleted(idx, [7])  # blocks on the flock until we release
        done.set()

    with _tombstone_lock(idx):
        t = threading.Thread(target=racer)
        t.start()
        started.wait(5)
        _t.sleep(0.2)
        assert not done.is_set()  # writer is genuinely blocked
    t.join(5)
    assert done.is_set()
    assert 7 in load_tombstones(idx)


def test_fsck_reports_position_rot_as_row_not_crash(spark, corpus_df,
                                                    tmp_path_factory,
                                                    monkeypatch):
    """Corrupt positional payloads must land in the segment's error row,
    and one unrelated dictionary error must not hide position corruption
    in later terms (review findings: positions decoded outside any try,
    gated on the segment-wide errors list)."""
    from jvector_spark.plans.verify import _verify_segment
    from jvector_spark.sources.segment import SegmentReader

    idx = str(tmp_path_factory.mktemp("idx_posrot"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                          num_segments=2, positions=True)
    seg = manifest["path"].iloc[0]

    def boom(self, t):
        raise RuntimeError("bit rot")

    monkeypatch.setattr(SegmentReader, "decode_term_positions", boom)
    ok, errors = _verify_segment(seg, max_terms=3)
    assert not ok
    assert any("positions decode failed" in e for e in errors)
    # one failure per checked term — later terms are NOT skipped
    assert sum("positions decode failed" in e for e in errors) == 3


def test_oracle_accepts_empty_corpus(corpus_pdf):
    from jvector_spark.oracle import BM25Oracle

    o = BM25Oracle(corpus_pdf.iloc[0:0])
    assert o.n_docs == 0 and o.postings == {}
    assert len(o.topk(["import"], 5)) == 0


def test_vacuum_grace_counts_from_supersession(spark, corpus_df,
                                               tmp_path_factory):
    """A segment built long ago but superseded a second ago must survive
    compact_in_place's vacuum: the grace clock restarts at the FLIP
    (readers holding the pre-flip manifest snapshot are what min_age_sec
    documents it protects), not at build time."""
    import time as _time

    from jvector_spark.plans.merge import compact_in_place

    idx = str(tmp_path_factory.mktemp("idx_grace"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=4)
    old_segs = [os.path.join(idx, n) for n in os.listdir(idx)
                if n.startswith("seg-")]
    assert old_segs
    # age the build far beyond the grace period
    stale = _time.time() - 7200
    for p in old_segs:
        os.utime(p, (stale, stale))
    compact_in_place(spark, idx, target_segments=2,
                     vacuum_min_age_sec=600)
    # superseded dirs survive: their mtime was bumped at the flip
    for p in old_segs:
        assert os.path.isdir(p), "superseded segment vacuumed under a reader"
    # and an explicit grace-less vacuum still collects them
    from jvector_spark.plans.merge import vacuum_index

    removed = vacuum_index(idx, min_age_sec=0)
    assert set(old_segs) <= set(removed)


def test_content_col_persists_through_build_and_merge(spark, corpus_pdf,
                                                     tmp_path_factory):
    """index_config recovers content_col from segment metas for
    build_index-built indexes (create.json only exists for serve
    sessions), and the merged segments carry it through compaction."""
    from jvector_spark.plans.merge import compact_in_place, index_config

    idx = str(tmp_path_factory.mktemp("idx_cc"))
    renamed = corpus_pdf.rename(columns={"content": "body"})
    docs = assign_dense_docids(spark.createDataFrame(renamed))
    build_index(docs, idx, num_segments=3, content_col="body")
    assert index_config(idx)["content_col"] == "body"
    compact_in_place(spark, idx, target_segments=1, vacuum_min_age_sec=0)
    assert index_config(idx)["content_col"] == "body"


def test_merge_of_all_empty_dictionaries_keeps_positions_false(
        spark, tmp_path_factory):
    """A compaction group whose segments all have empty dictionaries must
    not default has_positions to True via a vacuous all() — a merged
    segment of a position-LESS index claiming positions enables phrase
    serving against data that never had them."""
    import pandas as pd

    from jvector_spark.plans.merge import compact_in_place

    idx = str(tmp_path_factory.mktemp("idx_empty"))
    pdf = pd.DataFrame({
        "repo": [f"r{i}" for i in range(12)],
        "path": [f"p{i}" for i in range(12)],
        "commit": ["c"] * 12,
        "lang": ["py"] * 12,
        "content": [""] * 12,  # tokenizes to nothing -> empty dicts
    })
    docs = assign_dense_docids(spark.createDataFrame(pdf))
    build_index(docs, idx, num_segments=2, positions=False)
    compact_in_place(spark, idx, target_segments=1, vacuum_min_age_sec=0)
    assert load_manifest(idx)["has_positions"] is False


def test_term_stats_incremental_append_matches_full_rebuild(
        spark, corpus_df, tmp_path_factory):
    """The append fast path (prior stats + new segments' dictionaries)
    must produce exactly the full rebuild's aggregation; a segment
    rebuilt IN PLACE with a different fingerprint must force the full
    path rather than reuse stale sums."""
    import pyarrow.parquet as papq

    from jvector_spark.sources.segment import (
        load_manifest as _lm, write_global_term_stats,
        write_index_manifest)

    idx = str(tmp_path_factory.mktemp("idx_inc"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=4)
    man = _lm(idx)
    import pandas as pd
    full_df = pd.DataFrame(man["segments"])
    # drop one segment from the manifest view, rewrite stats (full), then
    # re-add it: the second write takes the incremental path (old subset
    # of new, fingerprints equal, sha matches)
    part = full_df.iloc[:-1]
    write_index_manifest(idx, part, man["tokenizer_mode"])
    write_index_manifest(idx, full_df, man["tokenizer_mode"])
    inc = papq.read_table(os.path.join(idx, "term_stats.parquet")).to_pandas()
    # force the full path by clearing the recorded sha
    m2 = _lm(idx)
    write_global_term_stats(idx, full_df)
    full = papq.read_table(os.path.join(idx, "term_stats.parquet")).to_pandas()
    pd.testing.assert_frame_equal(
        inc.reset_index(drop=True), full.reset_index(drop=True))
    # fingerprint gate: same paths, changed fingerprint -> full rebuild
    drifted = full_df.copy()
    drifted.loc[drifted.index[0], "fingerprint"] = "CHANGED"
    write_index_manifest(idx, drifted, man["tokenizer_mode"])
    after = papq.read_table(os.path.join(idx, "term_stats.parquet")).to_pandas()
    pd.testing.assert_frame_equal(
        after.reset_index(drop=True), full.reset_index(drop=True))
