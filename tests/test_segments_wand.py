"""Segment format round-trips + block-max search rank-identity + resume.

Mirrors the reference's TestOnDiskGraphIndex write/load equality
(TestOnDiskGraphIndex.java:76-463), randomized top-k assertions
(TestVectorGraph.java:89-330), and testResume (resumed == from-scratch,
TestVectorGraph.java:132-175)."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import (
    global_term_stats,
    idf_map,
    score_query_on_segment,
    search_index,
)
from jvector_spark.sources.segment import SegmentReader, build_index, load_manifest


@pytest.fixture(scope="module")
def index(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx"))
    docs = assign_dense_docids(corpus_df)
    manifest = build_index(docs, idx, num_segments=6)
    return idx, manifest


@pytest.fixture(scope="module")
def index_b16(spark, corpus_df, tmp_path_factory):
    """The same corpus in 16-posting blocks: terms span several blocks per
    segment, so their block bounds differ and the generation mask can drop
    some of a term's blocks (with one block per term it never does)."""
    idx = str(tmp_path_factory.mktemp("idx_b16"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=6,
                block_size=16)
    return idx


def test_manifest_and_meta(index, oracle):
    idx, manifest = index
    assert (manifest["status"] == "built").all()
    m = load_manifest(idx)
    assert m["n_docs"] == oracle.n_docs
    assert np.isclose(m["avgdl"], oracle.avgdl, rtol=1e-12)
    # segments cover disjoint contiguous docid ranges
    assert manifest["min_docid"].iloc[0] == 0
    for i in range(1, len(manifest)):
        assert manifest["min_docid"].iloc[i] == manifest["max_docid"].iloc[i - 1] + 1


def test_segment_roundtrip_postings(index, oracle):
    """Decode every term from every segment; concatenation must equal the
    oracle's posting lists exactly (write/load equality)."""
    idx, manifest = index
    got: dict[str, list] = {}
    for p in manifest["path"]:
        r = SegmentReader(p)
        for term in r.terms:
            d, tf = r.decode_term(term)
            assert np.all(np.diff(d) > 0), "docids strictly ascending"
            got.setdefault(term, []).append((d, tf))
    assert set(got) == set(oracle.postings)
    for term, parts in got.items():
        parts.sort(key=lambda x: x[0][0])
        d = np.concatenate([p[0] for p in parts])
        tf = np.concatenate([p[1] for p in parts])
        d_exp, tf_exp = oracle.postings[term]
        assert np.array_equal(d, d_exp), term
        assert np.array_equal(tf, tf_exp.astype(np.int64)), term


def test_global_term_stats_match_oracle(spark, index, oracle):
    idx, _ = index
    some_terms = list(oracle.df)[:20] + ["import", "zz_missing_term"]
    stats = global_term_stats(spark, idx, some_terms)
    for t in some_terms:
        if t == "zz_missing_term":
            assert t not in stats
        else:
            assert stats[t] == oracle.df[t], t


def test_term_stats_fallback_ignores_orphan_dirs(spark, index, oracle,
                                                 tmp_path_factory):
    """The distributed df fallback (term_stats.parquet absent) must
    enumerate the manifest's segments, not glob seg-*: a crashed build's
    seg-*.tmp staging dir or an unpublished orphan segment would
    otherwise double-count df and skew idf (regression)."""
    import shutil

    idx, _ = index
    dup = os.path.join(str(tmp_path_factory.mktemp("orphan_idx")), "idx")
    shutil.copytree(idx, dup)
    seg = sorted(d for d in os.listdir(dup) if d.startswith("seg-"))[0]
    # orphan flavors a glob would match: a staging dir and a dir not in
    # the manifest
    shutil.copytree(os.path.join(dup, seg),
                    os.path.join(dup, seg + ".tmp"))
    shutil.copytree(os.path.join(dup, seg),
                    os.path.join(dup, "seg-999999999999"))
    os.remove(os.path.join(dup, "term_stats.parquet"))  # force fallback
    some_terms = list(oracle.df)[:10] + ["import"]
    stats = global_term_stats(spark, dup, some_terms)
    for t in some_terms:
        assert stats[t] == oracle.df[t], t


def _assert_matches_oracle(got, golden):
    got = got.sort_values(["qid", "rank"]).reset_index(drop=True)
    golden = golden.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert list(got["qid"]) == list(golden["qid"])
    assert list(got["docid"]) == list(golden["docid"])
    assert np.array_equal(got["score"].to_numpy(), golden["score"].to_numpy())


def test_search_takes_df_from_its_snapshot(spark, corpus_pdf,
                                           tmp_path_factory, monkeypatch):
    """An append that lands after search_index read its manifest must not
    leak into the df it scores with: n_docs, avgdl and segments come from
    the snapshot, so df must come from it too (the live term_stats.parquet
    already counts the appended docs)."""
    import jvector_spark.plans.merge as merge_mod
    from jvector_spark.corpus import generate_queries
    from jvector_spark.oracle import BM25Oracle
    from jvector_spark.streaming.micro_segments import append_micro_segment

    base, later = corpus_pdf.iloc[:200], corpus_pdf.iloc[200:]
    idx = str(tmp_path_factory.mktemp("idx_snapshot_df"))
    build_index(assign_dense_docids(spark.createDataFrame(base)), idx,
                num_segments=2)
    real = merge_mod.tombstone_view
    fired = []

    def append_then_view(*args, **kw):
        # IndexSnapshot reads the manifest, then the tombstone view
        if not fired:
            fired.append(True)
            append_micro_segment(spark.createDataFrame(later), batch_id=0,
                                 index_dir=idx)
        return real(*args, **kw)

    monkeypatch.setattr(merge_mod, "tombstone_view", append_then_view)
    queries = generate_queries(base, n_queries=20, seed=3)
    got = search_index(spark, idx, queries, merge="driver")
    assert fired and load_manifest(idx)["n_docs"] == len(corpus_pdf)
    _assert_matches_oracle(got, BM25Oracle(base).golden(queries))


def test_copied_index_reads_its_own_segments(spark, corpus_df, oracle,
                                             queries_pdf, tmp_path_factory):
    """Manifest segment paths are relative to the index dir: a copy of an
    index still searches, oracle-identical, once the original is gone."""
    import shutil

    root = str(tmp_path_factory.mktemp("idx_copy"))
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    build_index(assign_dense_docids(corpus_df), src, num_segments=3)
    shutil.copytree(src, dst)
    shutil.rmtree(src)
    assert all(s["path"].startswith(dst + os.sep)
               for s in load_manifest(dst)["segments"])
    _assert_matches_oracle(search_index(spark, dst, queries_pdf).toPandas(),
                           oracle.golden(queries_pdf))


def test_older_manifest_paths_load_as_stored(spark, corpus_df, oracle,
                                             queries_pdf, tmp_path_factory):
    """A manifest written before paths were stored relative (no `paths`
    marker) holds them as they were written: for an index built under a
    cwd-relative dir, `<dir>/seg-...` relative to the cwd. They load as
    stored, not joined to the index dir a second time: the index searches
    and vacuum keeps its live segments."""
    from jvector_spark.plans.merge import vacuum_index

    idx = os.path.relpath(str(tmp_path_factory.mktemp("idx_old_paths")))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=3)
    mpath = os.path.join(idx, "manifest.json")
    with open(mpath) as f:
        stored = json.load(f)
    assert stored.pop("paths") == "relative"
    for s in stored["segments"]:
        s["path"] = os.path.join(idx, s["path"])
    with open(mpath, "w") as f:
        json.dump(stored, f)
    segs = load_manifest(idx)["segments"]
    assert [s["path"] for s in segs] == [s["path"] for s in stored["segments"]]
    assert all(os.path.isdir(s["path"]) for s in segs)
    assert vacuum_index(idx, dry_run=True, min_age_sec=0) == []
    _assert_matches_oracle(
        search_index(spark, idx, queries_pdf, merge="driver"),
        oracle.golden(queries_pdf))


def test_search_rank_identical_and_bit_equal(spark, index, oracle, queries_pdf):
    idx, _ = index
    got = (
        search_index(spark, idx, queries_pdf)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    golden = oracle.golden(queries_pdf).sort_values(["qid", "rank"]).reset_index(drop=True)
    assert list(got["qid"]) == list(golden["qid"])
    assert list(got["docid"]) == list(golden["docid"])
    # canonical summation order -> bit-identical float64 scores
    assert np.array_equal(got["score"].to_numpy(), golden["score"].to_numpy())


def _pruning_equals_exhaustive(idx, oracle, terms_pool) -> dict:
    """θ>0 pruning path must be result-identical to θ=0 exhaustive path,
    on the index's first segment; returns the pruned calls' counters."""
    reader = SegmentReader(load_manifest(idx)["segments"][0]["path"])
    idfs = idf_map(oracle.n_docs, oracle.df)
    rng = np.random.default_rng(1)
    terms_pool = terms_pool(reader)
    stats: dict = {}
    for trial in range(30):
        terms = [terms_pool[rng.integers(0, len(terms_pool))] for _ in range(3)]
        d0, s0 = score_query_on_segment(reader, terms, idfs, 10, 0.0, oracle.avgdl)
        if len(s0) == 0:
            continue
        for theta in [float(s0[-1]) * 0.5, float(s0[-1]), float(s0[0]) * 0.99]:
            d1, s1 = score_query_on_segment(reader, terms, idfs, 10, theta,
                                            oracle.avgdl, stats=stats)
            # every returned doc with score >= theta must match exactly
            keep = s0 >= theta
            keep1 = s1 >= theta
            assert np.array_equal(d0[keep], d1[keep1])
            assert np.array_equal(s0[keep], s1[keep1])
    return stats


def test_pruning_equals_exhaustive(index, oracle):
    """θ>0 pruning path must be result-identical to θ=0 exhaustive path."""
    _pruning_equals_exhaustive(index[0], oracle, lambda r: list(oracle.df))


def test_pruning_equals_exhaustive_b16(index_b16, oracle):
    """The same on 16-posting blocks, with queries drawn from the terms
    that span several blocks of the segment: their block bounds differ,
    so the generation mask drops some blocks (blocks_gen < blocks_total)."""
    stats = _pruning_equals_exhaustive(
        index_b16, oracle,
        lambda r: [t for t in r.terms if len(r.term_row(t)["block_n"]) > 1])
    assert stats["blocks_gen"] < stats["blocks_total"], stats


def test_driver_merge_equals_spark_merge(spark, index, queries_pdf):
    """merge='driver' (caller-thread multi-index combine) must be
    row-identical to the window-based Spark merge."""
    idx, _ = index
    a = (
        search_index(spark, idx, queries_pdf)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    b = (
        search_index(spark, idx, queries_pdf, merge="driver")
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert a["qid"].tolist() == b["qid"].tolist()
    assert a["docid"].tolist() == b["docid"].tolist()
    assert np.array_equal(a["score"].to_numpy(), b["score"].to_numpy())


def test_search_metrics_show_pruning(spark, index, index_b16, oracle,
                                     queries_pdf):
    """Per-query search metrics (SearchResult.getVisitedCount analog,
    SearchResult.java:27-31): counters accumulate across tasks, and a
    small-k pruned search must do measurably LESS work than an exhaustive
    one (k = corpus size forces theta=0 everywhere). num_tasks=1 puts all
    segments in one sequential task so theta propagates segment-to-segment
    (the rerankFloor path) — with one segment per task nothing can prune.
    The pruned result is still the oracle's, rank for rank and bit for
    bit, on one-block and on multi-block terms."""
    from jvector_spark.operators.wand import (
        make_metrics_accumulator, read_metrics)

    tot = lambda m, key: sum(c.get(key, 0) for c in m.values())  # noqa: E731
    q_small = queries_pdf.copy()
    q_small["k"] = 5
    golden = oracle.golden(q_small).sort_values(["qid", "rank"]).reset_index(drop=True)
    for idx in (index[0], index_b16):
        acc = make_metrics_accumulator(spark)
        got = (
            search_index(spark, idx, q_small, num_tasks=1, metrics_acc=acc)
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
        )
        pruned = read_metrics(acc)
        assert pruned, "no metrics accumulated"
        some_qid = next(iter(pruned))
        assert pruned[some_qid].get("segments_visited", 0) > 0
        assert pruned[some_qid].get("candidates", 0) > 0
        assert list(got["qid"]) == list(golden["qid"])
        assert list(got["docid"]) == list(golden["docid"])
        assert np.array_equal(got["score"].to_numpy(),
                              golden["score"].to_numpy())
        # θ > 0 kept some blocks out of candidate generation
        assert tot(pruned, "blocks_gen") < tot(pruned, "blocks_total")

        q_big = queries_pdf.copy()
        q_big["k"] = 100000  # k >= corpus: theta stays 0, nothing prunes
        acc2 = make_metrics_accumulator(spark)
        search_index(spark, idx, q_big, num_tasks=1,
                     metrics_acc=acc2).toPandas()
        exhaustive = read_metrics(acc2)
        assert (tot(pruned, "postings_scored")
                <= tot(exhaustive, "postings_scored"))
        assert tot(pruned, "candidates") < tot(exhaustive, "candidates"), (
            f"pruning did not reduce candidate work: "
            f"{tot(pruned, 'candidates')} vs {tot(exhaustive, 'candidates')}"
        )


@pytest.mark.parametrize("mode", ["or", "and"])
def test_search_partition_pooled_equals_unpooled(index_b16, oracle,
                                                 queries_pdf, mode):
    """One task scores every segment (θ propagating) with deletes, a
    doc_filter, per-query exclusions, search-after cursors and a min_score
    floor. Unpooled, then cold and warm through one SearcherPool: the same
    scoring path runs, so the frames and metrics are identical, and equal
    to the oracle."""
    from jvector_spark.operators.wand import SearcherPool, search_partition

    manifest = load_manifest(index_b16)
    paths = [s["path"] for s in manifest["segments"]]
    deleted = np.array([0, 3, 7, 50, 113, 200, 299], dtype=np.int64)
    lo, hi, min_score, k = 200, 1400, 1.0, 5
    accepted = (oracle.doclen >= lo) & (oracle.doclen < hi)
    queries = queries_pdf[["qid", "terms", "k"]].assign(k=k)

    expected, exclude, after = {}, {}, {}
    for q in queries.itertuples():
        docids, scores = oracle.score_query(list(q.terms))
        hit = (scores >= min_score) & accepted[docids]
        hit &= ~np.isin(docids, deleted)
        if mode == "and":
            terms = set(q.terms)
            hit &= all(t in oracle.postings for t in terms)
            for t in terms & set(oracle.postings):
                hit &= np.isin(docids, oracle.postings[t][0])
        d, s = docids[hit], scores[hit]
        order = np.lexsort((d, -s))
        d, s = d[order], s[order]
        if q.qid % 2 == 0 and len(d) >= 2:
            # resume after the first hit and exclude the second
            after[int(q.qid)] = (float(s[0]), int(d[0]))
            exclude[int(q.qid)] = d[1:2]
            d, s = d[2:], s[2:]
        expected[int(q.qid)] = (d[:k], s[:k])
    assert after and any(len(d) for d, _ in expected.values())

    idfs = idf_map(oracle.n_docs, oracle.df)
    pool = SearcherPool()
    runs = []
    for p in (None, pool, pool):
        metrics: dict = {}
        out = search_partition(
            paths, queries, idfs, oracle.avgdl, deleted,
            {"dl": {"gte": lo, "lt": hi}}, min_score, after, metrics, mode,
            pool=p, exclude=exclude)
        runs.append((out, metrics))
    assert pool.caches and all(pool.caches.values())
    for out, metrics in runs[1:]:
        pd.testing.assert_frame_equal(out, runs[0][0], check_exact=True)
        assert metrics == runs[0][1]
    out = runs[0][0]
    for qid, (d, s) in expected.items():
        got = out[out["qid"] == qid]
        assert got["docid"].tolist() == d.tolist(), f"qid={qid}"
        assert np.array_equal(got["score"].to_numpy(), s), f"qid={qid}"


def test_resume_skips_built_segments(spark, corpus_df, index):
    """Rebuild over an existing index: all segments resumed, manifest equal
    (the CheckpointManager skip-completed behavior)."""
    idx, manifest = index
    docs = assign_dense_docids(corpus_df)
    m2 = build_index(docs, idx, num_segments=6)
    assert (m2["status"] == "resumed").all()
    pd.testing.assert_frame_equal(
        manifest.drop(columns=["status", "build_sec"]),
        m2.drop(columns=["status", "build_sec"]),
    )


def test_resume_after_partial_build(spark, corpus_df, tmp_path_factory, oracle,
                                    queries_pdf):
    """Kill-and-resume: delete some segments (simulated failure), rebuild,
    results identical (north rule: resumable from per-partition checkpoints)."""
    import shutil

    idx = str(tmp_path_factory.mktemp("idx_resume"))
    docs = assign_dense_docids(corpus_df)
    m1 = build_index(docs, idx, num_segments=6)
    # simulate a failed run: two segments missing, one half-written
    shutil.rmtree(m1["path"].iloc[1])
    shutil.rmtree(m1["path"].iloc[3])
    os.remove(os.path.join(m1["path"].iloc[4], "_SUCCESS"))
    m2 = build_index(docs, idx, num_segments=6)
    statuses = m2.sort_values("min_docid")["status"].tolist()
    assert statuses.count("built") == 3 and statuses.count("resumed") == 3
    got = (
        search_index(spark, idx, queries_pdf.head(10))
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    golden = oracle.golden(queries_pdf.head(10)).sort_values(
        ["qid", "rank"]).reset_index(drop=True)
    assert list(got["docid"]) == list(golden["docid"])
    assert np.array_equal(got["score"].to_numpy(), golden["score"].to_numpy())


def test_results_identical_across_segment_counts(spark, corpus_df, oracle,
                                                 queries_pdf, tmp_path_factory):
    """N vs 4N determinism: different segmentation (parallelism) must give
    byte-identical query results."""
    docs = assign_dense_docids(corpus_df)
    results = []
    for nseg in (2, 8):
        idx = str(tmp_path_factory.mktemp(f"idx_{nseg}"))
        build_index(docs, idx, num_segments=nseg)
        r = (
            search_index(spark, idx, queries_pdf.head(15))
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
        )
        results.append(r)
    pd.testing.assert_frame_equal(results[0], results[1])


def test_content_sha_stored_in_segments(index, corpus_pdf):
    from jvector_spark.corpus import content_sha_table
    import pyarrow.parquet as pq

    idx, manifest = index
    parts = [
        pq.read_table(os.path.join(p, "docs.parquet")).to_pandas()
        for p in manifest["path"]
    ]
    docs = pd.concat(parts).sort_values("docid").reset_index(drop=True)
    exp = content_sha_table(corpus_pdf).sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True)
    got = docs.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["repo", "path", "commit", "content_sha"]], exp)


def test_two_parallelism_levels_identical_results(spark, corpus_pdf,
                                                  queries_pdf,
                                                  tmp_path_factory):
    """End-to-end N-vs-4N determinism (SURVEY §5 item g): the full
    build+search pipeline at two partitioning levels returns bit-identical
    results (docids AND float64 scores)."""
    from jvector_spark.operators.ids import assign_dense_docids

    results = []
    for n_part in (3, 12):
        idx = str(tmp_path_factory.mktemp(f"idx_par{n_part}"))
        docs = assign_dense_docids(
            spark.createDataFrame(corpus_pdf).repartition(7),
            num_partitions=n_part,
        )
        build_index(docs, idx, num_segments=n_part)
        res = (
            search_index(spark, idx, queries_pdf)
            .toPandas()
            .sort_values(["qid", "rank"])
            .reset_index(drop=True)
        )
        results.append(res)
    pd.testing.assert_frame_equal(results[0], results[1])


def test_empty_content_docs(spark, tmp_path_factory):
    """Docs with empty content index cleanly (empty segment edge)."""
    pdf = pd.DataFrame({
        "repo": ["r"] * 4, "path": [f"p{i}" for i in range(4)],
        "commit": ["c"] * 4,
        "content": ["", "", "alpha beta", ""],
    })
    from jvector_spark.operators.ids import assign_dense_docids

    docs = assign_dense_docids(spark.createDataFrame(pdf))
    idx = str(tmp_path_factory.mktemp("idx_empty"))
    build_index(docs, idx, num_segments=2)
    q = pd.DataFrame({"qid": [0], "terms": [["alpha"]], "k": [5]})
    res = search_index(spark, idx, q).toPandas()
    assert len(res) == 1 and res["docid"].iloc[0] >= 0


def test_bloom_prefilter_skips_segments(spark, corpus_pdf, tmp_path_factory):
    """Term-presence bloom (BQ 1-bit sketch analog): segments that cannot
    contain any query term are skipped before their dictionary loads —
    results unchanged, metrics show the skips."""
    from jvector_spark.operators.wand import (
        make_metrics_accumulator, read_metrics)
    from jvector_spark.sources.segment import (
        bloom_may_contain, build_term_bloom, load_term_bloom)

    # unit: bloom never false-negatives, and rejects unseen terms mostly
    terms = [f"term_{i}" for i in range(5000)]
    bloom = np.frombuffer(build_term_bloom(terms), np.uint8)
    assert all(bloom_may_contain(bloom, t) for t in terms)
    fp = sum(bloom_may_contain(bloom, f"absent_{i}") for i in range(2000))
    assert fp < 2000 * 0.05, f"bloom FP rate too high: {fp}/2000"

    # integration: plant a marker token in ONE doc -> one segment
    corpus = corpus_pdf.copy()
    corpus.loc[corpus.index[7], "content"] = (
        corpus.iloc[7]["content"] + " zz_bloom_marker_token")
    docs = assign_dense_docids(spark.createDataFrame(corpus).repartition(8))
    idx = str(tmp_path_factory.mktemp("idx_bloom"))
    manifest = build_index(docs, idx, num_segments=6)
    assert all(load_term_bloom(p) is not None for p in manifest["path"])

    q = pd.DataFrame({"qid": [0], "terms": [["zz_bloom_marker_token"]],
                      "k": [5]})
    acc = make_metrics_accumulator(spark)
    res = search_index(spark, idx, q, num_tasks=1, metrics_acc=acc,
                       merge="driver")
    assert len(res) == 1  # exactly the planted doc
    m = read_metrics(acc)[0]
    assert m.get("segments_bloom_skipped", 0) >= 4, m
    assert m.get("segments_visited", 0) <= 2, m


def test_explain_score_matches_search(spark, index, oracle, queries_pdf):
    """Explain totals are BIT-identical to searched scores (same sorted-
    term summation order); OOV terms contribute exactly 0."""
    from jvector_spark.operators.wand import explain_score, search_index

    idx, _ = index
    qpdf = queries_pdf.head(5)
    res = search_index(spark, idx, qpdf, merge="driver")
    checked = 0
    for q in qpdf.itertuples():
        got = res[res["qid"] == q.qid].head(3)
        for row in got.itertuples():
            ex = explain_score(spark, idx, list(q.terms), row.docid)
            assert ex["total"] == row.score, (q.qid, row.docid)
            assert not ex["deleted"]
            contrib_sum = 0.0
            for t in sorted(set(q.terms)):
                contrib_sum += ex["terms"][t]["contribution"]
            assert contrib_sum == ex["total"]
            checked += 1
    assert checked >= 5
    # OOV term explains to zero contribution, total unchanged
    q0 = qpdf.iloc[0]
    d0 = int(res[res["qid"] == q0.qid]["docid"].iloc[0])
    ex = explain_score(spark, idx, list(q0.terms) + ["zz_oov"], d0)
    assert ex["terms"]["zz_oov"]["contribution"] == 0.0
