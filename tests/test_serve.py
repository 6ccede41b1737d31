"""Warm serving loop (IPCService.java:80-87 analog): one session, pooled
searchers, multiple request batches — results must stay rank-identical to
the batch search path and the oracle, mutations must stay visible, and
pooling must actually reuse reader state across requests."""

from __future__ import annotations

import io
import json

import numpy as np
import pandas as pd
import pytest

from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import search_index
from jvector_spark.serve import IndexServer, serve_loop
from jvector_spark.sources.segment import build_index


@pytest.fixture(scope="module")
def served_index(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_serve"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=4)
    return idx


QBATCHES = [
    pd.DataFrame({"qid": [0, 1], "terms": [["import"], ["def", "return"]],
                  "k": [10, 5]}),
    pd.DataFrame({"qid": [0], "terms": [["map_get21"]], "k": [20]}),
    pd.DataFrame({"qid": [7], "terms": [["import", "zzz_oov"]], "k": [10]}),
]


@pytest.mark.parametrize("mode", ["local", "spark"])
def test_serve_matches_batch_search(spark, served_index, oracle, mode):
    """≥3 request batches through ONE warm session, each rank- and
    score-identical to the one-shot search_index path."""
    server = IndexServer(spark, served_index, mode=mode)
    for qpdf in QBATCHES:
        warm = server.search(qpdf).sort_values(
            ["qid", "rank"]).reset_index(drop=True)
        cold = search_index(spark, served_index, qpdf, merge="driver") \
            .sort_values(["qid", "rank"]).reset_index(drop=True)
        assert warm[["qid", "docid"]].values.tolist() == \
            cold[["qid", "docid"]].values.tolist()
        assert np.allclose(warm["score"], cold["score"], rtol=0, atol=0)
    assert server.requests_served == len(QBATCHES)
    # and against the oracle for the first batch
    res = server.search(QBATCHES[0])
    for q in QBATCHES[0].itertuples():
        got = res[res["qid"] == q.qid].sort_values("rank")
        exp = oracle.topk(list(q.terms), int(q.k))
        assert got["docid"].tolist() == exp["docid"].tolist()


def test_serve_pools_readers_across_requests(spark, served_index):
    server = IndexServer(spark, served_index, mode="local")
    server.search(QBATCHES[0])
    readers_after_1 = dict(server.pool.readers)
    assert len(readers_after_1) > 0
    server.search(QBATCHES[1])
    # same reader OBJECTS reused (no reopen), caches accumulated
    for path, r in readers_after_1.items():
        assert server.pool.readers[path] is r
    assert any(server.pool.caches.values())


def test_filtered_search_memoizes_accept_bitmap(spark, corpus_df,
                                                tmp_path_factory):
    """One docs-sidecar read per (segment, filter) — across the queries
    of a batch AND across warm request batches (the acceptOrds memo);
    results stay identical to the uncached path."""
    idx = str(tmp_path_factory.mktemp("idx_accept"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=3,
                key_cols=("repo", "path", "commit", "lang")
                if "lang" in corpus_df.columns else ("repo", "path", "commit"))
    # filter on a key col present in the docs sidecar
    fcol = "repo"
    val = corpus_df.select(fcol).first()[0]
    filt = {fcol: [val]}
    server = IndexServer(spark, idx, mode="local")
    q1 = pd.DataFrame({"qid": [0, 1], "terms": [["import"], ["def"]],
                       "k": [10, 10]})
    r1 = server.search(q1, doc_filter=filt)
    reads_after_1 = {p: r.sidecar_reads
                     for p, r in server.pool.readers.items()}
    assert all(n == 1 for n in reads_after_1.values()), reads_after_1
    r2 = server.search(q1, doc_filter=filt)  # second warm batch
    reads_after_2 = {p: r.sidecar_reads
                     for p, r in server.pool.readers.items()}
    assert reads_after_2 == reads_after_1  # memo hit: NO new sidecar reads
    assert r1[["qid", "docid"]].values.tolist() == \
        r2[["qid", "docid"]].values.tolist()
    # a DIFFERENT filter misses the memo exactly once per segment
    server.search(q1, doc_filter={fcol: [val, "zzz-other"]})
    assert all(r.sidecar_reads == 2 for r in server.pool.readers.values())
    # correctness vs the one-shot filtered path
    cold = search_index(spark, idx, q1, doc_filter=filt, merge="driver")
    assert r1[["qid", "docid"]].values.tolist() == \
        cold[["qid", "docid"]].values.tolist()


def test_serve_sees_deletes_and_compaction(spark, corpus_df, corpus_pdf,
                                           tmp_path_factory):
    """Phase-1 delete visible on the NEXT request; a compaction (new
    manifest generation) resets the pool and results follow the new
    docid numbering."""
    from jvector_spark.oracle import BM25Oracle
    from jvector_spark.plans.merge import compact_in_place, mark_deleted

    idx = str(tmp_path_factory.mktemp("idx_serve_mut"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=3)
    server = IndexServer(spark, idx, mode="local")
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
    before = server.search(q)
    victim = int(before["docid"].iloc[0])
    mark_deleted(idx, [victim])
    after = server.search(q)
    assert victim not in after["docid"].tolist()
    # compaction: new generation, renumbered docids
    compact_in_place(spark, idx, target_segments=1, vacuum_min_age_sec=0)
    res = server.search(q)
    keyed = corpus_pdf.sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True)
    live = keyed[~keyed.index.isin([victim])].reset_index(drop=True)
    exp = BM25Oracle(live).topk(["import"], 5)
    assert res["docid"].tolist() == exp["docid"].tolist()
    assert server.stats()["docid_epoch"] == 1


def test_serve_loop_protocol(spark, served_index):
    """Drive the JSON-lines protocol end to end: ping, 3 search batches,
    a bad request that must NOT kill the session, stats, quit."""
    reqs = [
        {"op": "ping"},
        *[{"op": "search",
           "queries": q.to_dict("records")} for q in QBATCHES],
        {"op": "search"},  # malformed: missing queries
        {"op": "stats"},
        {"op": "quit"},
    ]
    inp = io.StringIO("".join(json.dumps(r) + "\n" for r in reqs))
    out = io.StringIO()
    server = IndexServer(spark, served_index, mode="local")
    handled = serve_loop(server, inp, out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert handled == len(reqs)
    assert lines[0] == {"ok": True, "pong": True}
    for i, q in enumerate(QBATCHES, start=1):
        assert lines[i]["ok"], lines[i]
        got = pd.DataFrame(lines[i]["results"])
        exp = search_index(spark, served_index, q, merge="driver")
        assert got["docid"].tolist() == exp["docid"].tolist()
    assert not lines[4]["ok"] and "error" in lines[4]
    assert lines[5]["ok"] and lines[5]["requests_served"] == len(QBATCHES)
    assert lines[6]["bye"] is True


def test_serve_exclude_and_suggest_ops(spark, served_index, oracle):
    """Protocol round-trip for the per-query exclusion mask and the
    suggest op: exclusion removes exactly the named docid with the next
    doc back-filling; suggest returns the hot-tier ranking."""
    base = search_index(
        spark, served_index,
        pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]}),
        merge="driver")
    top = int(base["docid"].iloc[0])
    reqs = [
        {"op": "search",
         "queries": [{"qid": 0, "terms": ["import"], "k": 5}],
         "exclude": {"0": [top]}},
        {"op": "suggest", "queries": {"3": ["improt", 2]}, "n": 3},
        {"op": "quit"},
    ]
    inp = io.StringIO("".join(json.dumps(r) + "\n" for r in reqs))
    out = io.StringIO()
    serve_loop(IndexServer(spark, served_index, mode="local"), inp, out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    got = pd.DataFrame(lines[0]["results"])
    assert top not in got["docid"].tolist()
    assert len(got) == 5  # back-filled to a full k
    exp = search_index(
        spark, served_index,
        pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]}),
        exclude={0: np.array([top])}, merge="driver")
    assert got["docid"].tolist() == exp["docid"].tolist()
    sugg = pd.DataFrame(lines[1]["results"])
    assert lines[1]["ok"] and sugg["qid"].unique().tolist() == [3]
    assert sugg.sort_values("rank")["term"].iloc[0] == "import"


def test_serve_phrase_matches_batch(spark, corpus_df, tmp_path_factory):
    """Warm phrase op (pooled readers, zero Spark jobs in local mode)
    is rank/count-identical to the batch phrase_search path, in both
    serve modes, and errors cleanly on a positions-less index."""
    from jvector_spark.operators.phrase import phrase_search

    idx = str(tmp_path_factory.mktemp("idx_srv_pos"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=4,
                positions=True)
    q = pd.DataFrame({"qid": [0, 1],
                      "phrase": ["map_get21 run_parse33", "import run_parse33"],
                      "k": [8, 8]})
    exp = phrase_search(spark, idx, q, merge="driver")
    assert sorted(set(exp["qid"])) == [0, 1]
    for mode in ("local", "spark"):
        got = IndexServer(spark, idx, mode=mode).phrase(q)
        assert got["docid"].tolist() == exp["docid"].tolist(), mode
        assert got["n_matches"].tolist() == exp["n_matches"].tolist()


def test_serve_phrase_positions_stay_warm(spark, pos_index_b16,
                                         monkeypatch):
    """A repeated phrase request reads every term's positions from the
    pooled segment cache: the second request decodes none again."""
    from jvector_spark.sources.segment import SegmentReader

    calls = []
    decode = SegmentReader.decode_term_positions

    def spy(self, *args):
        calls.append(args)
        return decode(self, *args)

    monkeypatch.setattr(SegmentReader, "decode_term_positions", spy)
    server = IndexServer(spark, pos_index_b16[0], mode="local")
    q = pd.DataFrame({"qid": [0], "phrase": ["map_get21 run_parse33"],
                      "k": [10]})
    first = server.phrase(q)
    n_first = len(calls)
    second = server.phrase(q)
    assert n_first > 0 and len(first) > 0
    assert len(calls) == n_first
    pd.testing.assert_frame_equal(first, second)


def test_serve_phrase_requires_positions(spark, served_index):
    q = pd.DataFrame({"qid": [0], "phrase": ["import os"], "k": [5]})
    with pytest.raises(ValueError, match="positional"):
        IndexServer(spark, served_index, mode="local").phrase(q)


def test_serve_knn_matches_spark_brute(spark, served_index):
    """Warm resident-matrix kNN == the Spark brute-force cosine path
    (round-6 scores, vec_id tie-break) on the driver embeddings table —
    the reference's own serving workload (vector SEARCH, IPCService)."""
    from jvector_spark.operators.ann import brute_force_topk
    from jvector_spark.serve import VectorPool

    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(emb_path)
    qpdf = emb.orderBy("vec_id").limit(3).toPandas()
    queries = spark.createDataFrame(pd.DataFrame({
        "qid": range(3), "qvec": list(qpdf["embedding"])}))
    exp = (brute_force_topk(emb, queries, k=8)
           .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True))

    pool = VectorPool(emb_path)
    got = pool.knn(np.vstack(qpdf["embedding"].to_numpy()), k=8)
    assert got["vec_id"].tolist() == exp["vec_id"].tolist()
    assert np.allclose(got["score"], exp["score"], rtol=0, atol=1e-9)

    server = IndexServer(spark, served_index, mode="local",
                         vectors=emb_path)
    via_server = server.knn([list(qpdf["embedding"].iloc[0])], k=8)
    assert via_server["vec_id"].tolist() == exp[exp["qid"] == 0]["vec_id"].tolist()


def test_serve_knn_requires_vectors(spark, served_index):
    with pytest.raises(ValueError, match="vector table"):
        IndexServer(spark, served_index, mode="local").knn([[0.0] * 4], 3)


def test_serve_knn_rejects_k_above_rerank_k(spark, served_index,
                                            tmp_path_factory):
    """A reranked pool keeps only rerank_k candidates: k > rerank_k is a
    per-request error (never a silently short result), and the session
    keeps serving."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    X = np.random.RandomState(3).normal(size=(40, 8)).astype(np.float32)
    path = str(tmp_path_factory.mktemp("rr_serve")) + "/emb.parquet"
    pq_mod.write_table(pa.table({
        "vec_id": np.arange(40, dtype=np.int64), "embedding": list(X)}),
        path)
    server = IndexServer(spark, served_index, mode="local", vectors=path,
                         vector_quantize="nvq", vector_rerank_k=5)
    q = X[:2].astype(float).tolist()
    reqs = [{"op": "knn", "queries": q, "k": 10},
            {"op": "knn", "queries": q, "k": 5},
            {"op": "quit"}]
    inp = io.StringIO("".join(json.dumps(r) + "\n" for r in reqs))
    out = io.StringIO()
    serve_loop(server, inp, out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert not lines[0]["ok"] and "rerank_k" in lines[0]["error"]
    assert lines[1]["ok"] and len(lines[1]["results"]) == 2 * 5


def test_vector_pool_ivf_recall_and_full_probe_exactness():
    """IVF-probed warm kNN: nprobe = n_clusters reproduces the exact
    brute result EXACTLY (every cell probed); a partial probe keeps
    recall@10 high on the driver embeddings."""
    from jvector_spark.serve import VectorPool

    emb_path = "/root/testdata/sf0.01/embeddings.parquet"
    pool = VectorPool(emb_path, n_clusters=16)
    rng = np.random.RandomState(5)
    q = pool.mat[rng.randint(0, pool.n, 20)]
    exact = pool.knn(q, 10)
    full_probe = pool.knn(q, 10, nprobe=16)
    assert full_probe.equals(exact)
    # the driver embeddings are unstructured (near-random 64-dim), the
    # hardest case for IVF — measured curve: nprobe 2/4/8/12 -> recall
    # .38/.59/.80/.96; clustered real data (SIFT, bench --grid) sits at
    # 0.99+. Pin the half-probe point with slack for seed drift.
    approx = pool.knn(q, 10, nprobe=8)
    hits = total = 0
    for qid in range(20):
        e = set(exact[exact["qid"] == qid]["vec_id"])
        a = set(approx[approx["qid"] == qid]["vec_id"])
        hits += len(e & a)
        total += len(e)
    assert hits / total >= 0.7, hits / total
    # returned scores are exact cosines even under partial probe
    merged = approx.merge(exact, on=["qid", "vec_id"], how="inner",
                          suffixes=("", "_e"))
    assert np.allclose(merged["score"], merged["score_e"], rtol=0, atol=0)


def test_vector_pool_graph_tier(tmp_path_factory):
    """Graph-enabled warm kNN (the in-memory GraphSearcher serving
    analog): with every cell probed and covering ef, the beam result is
    EXACTLY the brute result (rerank contract); at bounded ef the beam
    evaluates a fraction of the pool and keeps recall high on clustered
    data; the NVQ-quantized pool supports the same graph path without a
    resident float matrix."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from jvector_spark.serve import VectorPool

    rng = np.random.RandomState(3)
    centers = rng.normal(size=(12, 16))
    n = 2400
    X = centers[rng.randint(0, 12, n)] + 0.3 * rng.normal(size=(n, 16))
    X = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float32)
    path = str(tmp_path_factory.mktemp("gp")) + "/emb.parquet"
    pq_mod.write_table(pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(X)}), path)

    pool = VectorPool(path, n_clusters=6, graph_R=8)
    q = X[rng.randint(0, n, 10)].astype(np.float64)
    exact = pool.knn(q, 10)
    covering = pool.knn(q, 10, ef=n)  # all cells, covering beam
    assert covering.equals(exact)

    fast = pool.knn(q, 10, nprobe=2, ef=48)
    assert pool.last_graph_evals < 0.5 * 10 * n  # beam, not a scan
    hits = sum(
        len(set(exact[exact["qid"] == i]["vec_id"])
            & set(fast[fast["qid"] == i]["vec_id"])) for i in range(10))
    assert hits / 100 >= 0.8, hits / 100
    # scores of returned rows are exact cosines even under the beam
    merged = fast.merge(exact, on=["qid", "vec_id"], how="inner",
                        suffixes=("", "_e"))
    assert np.allclose(merged["score"], merged["score_e"], rtol=0, atol=0)

    npool = VectorPool(path, n_clusters=6, graph_R=8, quantize="nvq")
    assert npool.mat is None  # codes-only residency, graph still works
    nfast = npool.knn(q, 10, nprobe=2, ef=48)
    nhits = sum(
        len(set(exact[exact["qid"] == i]["vec_id"])
            & set(nfast[nfast["qid"] == i]["vec_id"])) for i in range(10))
    assert nhits / 100 >= 0.7, nhits / 100

    # fused neighborhood blocks (the FusedADC analog,
    # graph/disk/feature/FusedADC.java:39-59): contiguous per-node
    # neighbor-code slabs must change NOTHING about results or eval
    # counts — only the memory layout the expansion matmul reads
    fpool = VectorPool(path, n_clusters=6, graph_R=8, quantize="nvq",
                       graph_fused=True)
    ffast = fpool.knn(q, 10, nprobe=2, ef=48)
    assert ffast.equals(nfast)
    assert fpool.last_graph_evals == npool.last_graph_evals
    # the visited count is layout-independent, but the WORK counter is
    # honest about fused mode's bulk-then-filter shape: the block matmul
    # re-scores already-visited rows, the gather path never does
    assert fpool.last_graph_scored >= fpool.last_graph_evals
    assert npool.last_graph_scored == npool.last_graph_evals
    fcov = fpool.knn(q, 10, ef=n)
    ncov = npool.knn(q, 10, ef=n)
    assert fcov.equals(ncov)


def test_fused_expansion_matches_gather_under_threshold(tmp_path_factory):
    """The fused-slab expansion (one contiguous matmul per adjacency
    block) and the gather expansion feed the same beam, so with the
    TwoPhaseTracker armed (threshold=0.5) an NVQ or PQ pool must return
    the same frame and visit the same nodes fused or not. ef=1024 with
    16 well-separated clusters of ~150 rows makes the tracker stop both
    beams early; the plain beam is the baseline for that cut."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from jvector_spark.serve import VectorPool

    rng = np.random.RandomState(17)
    centers = rng.normal(size=(16, 32))
    n = 2400
    X = centers[rng.randint(0, 16, n)] + 0.3 * rng.normal(size=(n, 32))
    X = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float32)
    path = str(tmp_path_factory.mktemp("fusedthr")) + "/emb.parquet"
    pq_mod.write_table(pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(X)}), path)
    q = X[rng.randint(0, n, 8)].astype(np.float64)
    for quant in ("nvq", "pq"):
        gather = VectorPool(path, n_clusters=2, graph_R=6, quantize=quant)
        fused = VectorPool(path, n_clusters=2, graph_R=6, quantize=quant,
                           graph_fused=True)
        gather.knn(q, 10, ef=1024)
        plain_evals = gather.last_graph_evals
        want = gather.knn(q, 10, ef=1024, threshold=0.5)
        got = fused.knn(q, 10, ef=1024, threshold=0.5)
        assert got.equals(want), quant
        assert fused.last_graph_evals == gather.last_graph_evals, quant
        assert gather.last_graph_evals < 0.8 * plain_evals, quant
        assert len(want) == 80 and (want["score"] >= 0.5).all(), quant
        # the bulk matmul also re-scores visited rows; gather never does
        assert gather.last_graph_scored == gather.last_graph_evals
        assert fused.last_graph_scored > fused.last_graph_evals


def test_vector_pool_fused_requires_nvq_graph(tmp_path_factory):
    """graph_fused without nvq codes (or without a graph) must refuse —
    the reference only fuses compressed codes into the adjacency."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from jvector_spark.serve import VectorPool

    rng = np.random.RandomState(5)
    X = rng.normal(size=(50, 8)).astype(np.float32)
    path = str(tmp_path_factory.mktemp("gf")) + "/emb.parquet"
    pq_mod.write_table(pa.table({
        "vec_id": np.arange(50, dtype=np.int64), "embedding": list(X)}),
        path)
    with pytest.raises(ValueError, match="graph_fused"):
        VectorPool(path, graph_R=4, graph_fused=True)
    with pytest.raises(ValueError, match="graph_fused"):
        VectorPool(path, quantize="nvq", graph_fused=True)


def test_serve_crud_ops(spark, corpus_df, corpus_pdf, tmp_path_factory):
    """CRUD through one warm session (IPCService WRITE/DELETE analog):
    delete is visible to the next search; replace swaps the doc's content
    in place, and the pool refreshes on the manifest bump."""
    idx = str(tmp_path_factory.mktemp("idx_srv_crud"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=3)
    server = IndexServer(spark, idx, mode="local")
    keyed = corpus_pdf.sort_values(
        ["repo", "path", "commit"], kind="mergesort").reset_index(drop=True)
    term = keyed.loc[4, "content"].split()[0]

    def hits(t):
        return len(server.search(pd.DataFrame(
            {"qid": [0], "terms": [[t]], "k": [500]})))

    before = hits(term)
    reqs = [
        {"op": "delete", "docids": [4]},
        {"op": "replace", "docs": [{
            "repo": keyed.loc[7, "repo"], "path": keyed.loc[7, "path"],
            "commit": keyed.loc[7, "commit"], "lang": keyed.loc[7, "lang"],
            "content": "zz_srv_replaced marker"}]},
        {"op": "quit"},
    ]
    inp = io.StringIO("".join(json.dumps(r) + "\n" for r in reqs))
    out = io.StringIO()
    serve_loop(server, inp, out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert lines[0]["ok"] and lines[0]["tombstones"] >= 1
    assert lines[1]["ok"] and lines[1]["replaced"] == 1
    assert hits("zz_srv_replaced") == 1       # new version serves warm
    assert hits(term) <= before - (1 if term in keyed.loc[4, "content"] else 0)


def test_serve_result_cache(spark, corpus_df, tmp_path_factory):
    """Repeat requests hit the generation-scoped result cache; ANY
    tombstone write (even from outside the server) invalidates — the
    cached frame can never serve a deleted doc."""
    from jvector_spark.plans.merge import mark_deleted

    idx = str(tmp_path_factory.mktemp("idx_srv_cache"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=3)
    server = IndexServer(spark, idx, mode="local")
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
    a = server.search(q)
    b = server.search(q)
    assert server.cache_hits == 1
    assert b.equals(a)
    top = int(a["docid"].iloc[0])
    mark_deleted(idx, [top])       # external delete, no manifest bump
    c = server.search(q)
    assert top not in c["docid"].tolist()
    assert server.cache_hits == 1  # stale key missed, fresh result


def test_serve_delete_clears_result_cache(spark, corpus_df,
                                          tmp_path_factory):
    """Regression (ADVICE r3, low): server.delete() must clear the result
    cache EXPLICITLY — the tombstone mtime in the cache key is only a
    defense against external writers, and on coarse-mtime filesystems a
    delete + repeat search within one tick would serve the deleted doc."""
    idx = str(tmp_path_factory.mktemp("idx_srv_delinv"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=2)
    server = IndexServer(spark, idx, mode="local")
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
    a = server.search(q)
    assert len(server._result_cache) > 0
    top = int(a["docid"].iloc[0])
    server.delete([top])
    assert len(server._result_cache) == 0  # documented contract
    c = server.search(q)
    assert top not in c["docid"].tolist()


def test_serve_session_lifecycle_ops(spark, corpus_df, corpus_pdf,
                                     tmp_path_factory, oracle):
    """Full session lifecycle through the line protocol (IPCService.java:
    80-87 CREATE/WRITE/BULKLOAD/OPTIMIZE/MEMORY analog): create an empty
    index, stream docs in with WRITE, search; CREATE again to reset, then
    BULKLOAD the whole corpus, OPTIMIZE, and verify the warm search is
    rank-identical to a one-shot search over a batch-built index."""
    base = tmp_path_factory.mktemp("idx_srv_life")
    idx = str(base / "session_idx")
    src = str(base / "corpus.parquet")
    corpus_pdf.to_parquet(src, index=False)

    # bootstrap: server constructed straight onto a CREATEd empty index
    from jvector_spark.serve import create_index
    create_index(idx, mode="code")
    server = IndexServer(spark, idx, mode="local")
    q = {"qid": 0, "terms": ["import"], "k": 10}
    reqs = [
        {"op": "memory"},
        {"op": "write",
         "docs": corpus_pdf.head(6).to_dict("records")},
        {"op": "write",                       # overlap: idempotent per doc
         "docs": corpus_pdf.head(10).to_dict("records")},
        {"op": "search", "queries": [q]},
        {"op": "create", "index": idx, "mode": "code"},   # reset
        {"op": "bulkload", "path": src, "segments": 3},
        {"op": "optimize"},
        {"op": "search", "queries": [q]},
        {"op": "memory"},
        {"op": "quit"},
    ]
    inp = io.StringIO("".join(json.dumps(r) + "\n" for r in reqs))
    out = io.StringIO()
    serve_loop(server, inp, out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert all(l["ok"] for l in lines), lines
    mem0, w1, w2, s1, cr, bl, opt, s2, mem1 = lines[:9]
    assert mem0["rss_kb"] > 0 and mem0["index_postings_kb"] == 0
    assert w1["n_docs"] == 6 and w1["written"] == 6
    assert w2["n_docs"] == 10 and w2["written"] == 4   # 6 deduped
    assert len(s1["results"]) > 0
    assert bl["n_docs"] == len(corpus_pdf) and bl["n_segments"] == 3
    assert opt["n_docs"] == len(corpus_pdf)
    assert mem1["index_postings_kb"] >= 0 and mem1["pooled_readers"] > 0

    # post-optimize warm results rank-identical to a cold batch build
    idx2 = str(base / "batch_idx")
    build_index(assign_dense_docids(corpus_df), idx2, num_segments=3)
    cold = search_index(
        spark, idx2, pd.DataFrame({"qid": [0], "terms": [["import"]],
                                   "k": [10]}), merge="driver")
    got = pd.DataFrame(s2["results"]).sort_values("rank")
    assert got["docid"].tolist() == cold.sort_values("rank")["docid"].tolist()
    assert np.allclose(got["score"], cold.sort_values("rank")["score"])
    # and vs the oracle
    exp = oracle.topk(["import"], 10)
    assert got["docid"].tolist() == exp["docid"].tolist()


def test_bulkload_requires_empty_index(spark, corpus_df, corpus_pdf,
                                       tmp_path_factory):
    """BULKLOAD into a non-empty session errors (the reference's
    write-vs-bulkload session split, IPCService.java:130) without
    killing the serve loop."""
    base = tmp_path_factory.mktemp("idx_srv_blerr")
    idx = str(base / "idx")
    src = str(base / "corpus.parquet")
    corpus_pdf.to_parquet(src, index=False)
    build_index(assign_dense_docids(corpus_df), idx, num_segments=2)
    server = IndexServer(spark, idx, mode="local")
    inp = io.StringIO(json.dumps({"op": "bulkload", "path": src}) + "\n"
                      + json.dumps({"op": "ping"}) + "\n")
    out = io.StringIO()
    serve_loop(server, inp, out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert not lines[0]["ok"] and "CREATE" in lines[0]["error"]
    assert lines[1]["ok"]  # loop survived the bad request


def test_cursor_resume_matches_stateless(spark, served_index):
    """Stateful resume (GraphSearcher.java:503-541 resume-with-saved-
    eviction-state analog; the TestVectorGraph.testResume contract):
    every resumed page is identical to the from-scratch results at that
    offset, buffered pages do ZERO posting scoring, and a drained buffer
    refills with exactly one real run."""
    server = IndexServer(spark, served_index, mode="local")
    k = 5
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [k]})
    cid, page1 = server.search_cursor(q, overfetch=4)  # buffers 4 pages
    assert server.search_executions == 1
    pages = [page1]
    for _ in range(3):                         # pages 2-4 from state
        pages.append(server.resume(cid))
    assert server.search_executions == 1       # zero additional scoring
    assert server.cursor_pages_buffered == 3
    pages.append(server.resume(cid))           # page 5 drains the buffer
    assert server.search_executions == 2       # exactly one refill
    assert server.cursor_refills == 1

    got = pd.concat(pages, ignore_index=True)
    ref = server.search(pd.DataFrame(
        {"qid": [0], "terms": [["import"]], "k": [5 * k]}))
    assert got["docid"].tolist() == ref["docid"].tolist()
    assert np.allclose(got["score"], ref["score"], rtol=0, atol=0)
    assert server.cursor_close(cid)
    with pytest.raises(KeyError):
        server.resume(cid)


def test_cursor_exhaustion_and_multi_query(spark, served_index):
    """A cursor over several queries pages each independently; a query
    with fewer matches than a page stops returning rows (and stays
    absent from later pages) while the others keep paging."""
    server = IndexServer(spark, served_index, mode="local")
    q = pd.DataFrame({"qid": [0, 1],
                      "terms": [["import"], ["zzz_no_such_term"]],
                      "k": [3, 3]})
    cid, page1 = server.search_cursor(q, overfetch=2)
    assert set(page1["qid"]) == {0}            # OOV query returns nothing
    total = [page1]
    for _ in range(200):
        p = server.resume(cid)
        if p.empty:
            break
        total.append(p)
    got = pd.concat(total, ignore_index=True)
    ref = server.search(pd.DataFrame(
        {"qid": [0], "terms": [["import"]], "k": [10_000]}))
    assert got["docid"].tolist() == ref["docid"].tolist()  # full drain order


def test_cursor_sees_mutations(spark, corpus_df, tmp_path_factory):
    """An index mutation under an open cursor drops the saved candidates:
    the next page re-runs live and cannot serve a deleted doc from
    stale state."""
    from jvector_spark.plans.merge import mark_deleted

    idx = str(tmp_path_factory.mktemp("idx_cursor_mut"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=2)
    server = IndexServer(spark, idx, mode="local")
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [3]})
    cid, page1 = server.search_cursor(q, overfetch=4)
    # peek at what page 2 WOULD be, then delete its first doc
    ref = server.search(pd.DataFrame(
        {"qid": [0], "terms": [["import"]], "k": [6]}))
    victim = int(ref["docid"].iloc[3])
    mark_deleted(idx, [victim])
    page2 = server.resume(cid)
    assert victim not in page2["docid"].tolist()
    assert server.cursor_refills == 1          # state was invalidated
    # and still from-scratch-identical on the live index
    live = server.search(pd.DataFrame(
        {"qid": [0], "terms": [["import"]], "k": [6]}))
    assert page2["docid"].tolist() == live["docid"].iloc[3:6].tolist()


def test_cursor_protocol_ops(spark, served_index):
    """cursor/resume/cursor_close through the JSON line protocol."""
    server = IndexServer(spark, served_index, mode="local")
    reqs = [
        {"op": "search", "queries": [{"qid": 0, "terms": ["import"],
                                      "k": 4}], "cursor": True},
        {"op": "resume", "cursor_id": "c0"},
        {"op": "stats"},
        {"op": "cursor_close", "cursor_id": "c0"},
        {"op": "resume", "cursor_id": "c0"},   # closed -> error, loop lives
        {"op": "quit"},
    ]
    inp = io.StringIO("".join(json.dumps(r) + "\n" for r in reqs))
    out = io.StringIO()
    serve_loop(server, inp, out)
    lines = [json.loads(x) for x in out.getvalue().splitlines()]
    assert lines[0]["ok"] and lines[0]["cursor_id"] == "c0"
    assert lines[1]["ok"] and len(lines[1]["results"]) == 4
    assert lines[2]["cursor_pages_buffered"] == 1
    assert lines[3]["ok"] and lines[3]["closed"]
    assert not lines[4]["ok"]
    # pages 1+2 through the protocol == one stateless k=8 search
    both = pd.DataFrame(lines[0]["results"] + lines[1]["results"])
    ref = server.search(pd.DataFrame({"qid": [0], "terms": [["import"]],
                                      "k": [8]}))
    assert both["docid"].tolist() == ref["docid"].tolist()


def test_create_reset_clears_stale_tombstones(spark, corpus_df, corpus_pdf,
                                              tmp_path_factory):
    """CREATE is a session reset: tombstones journaled against the
    PREVIOUS index at the same path must not carry over (the manifest's
    docid_epoch is preserved across create, so without explicit removal
    the old journal would silently exclude same-numbered docids from the
    freshly bulkloaded corpus)."""
    base = tmp_path_factory.mktemp("idx_create_tomb")
    idx = str(base / "idx")
    src = str(base / "corpus.parquet")
    corpus_pdf.to_parquet(src, index=False)
    build_index(assign_dense_docids(corpus_df), idx, num_segments=2)
    server = IndexServer(spark, idx, mode="local")
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
    before = server.search(q)
    assert len(before)
    # delete the entire first page, then reset + reload the same corpus
    server.delete(before["docid"].tolist())
    assert server.search(q).empty or not set(
        server.search(q)["docid"]) & set(before["docid"])
    server.create(idx, mode="code")
    server.bulkload(src, num_segments=2)
    after = server.search(q)
    # stale tombstones would hide exactly these docids again
    assert after["docid"].tolist() == before["docid"].tolist()


def test_cursor_offset_continuation_after_manifest_mutation(
        spark, corpus_df, corpus_pdf, tmp_path_factory):
    """A manifest-class mutation (replace: avgdl/idf shift, every BM25
    score moves) under an open cursor invalidates the saved (score,
    docid) cursor; the next page continues by OFFSET — identical to a
    fresh run at that offset under the NEW index, no dropped rows."""
    idx = str(tmp_path_factory.mktemp("idx_cursor_off"))
    build_index(assign_dense_docids(corpus_df), idx, num_segments=2)
    server = IndexServer(spark, idx, mode="local")
    k = 4
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [k]})
    cid, page1 = server.search_cursor(q, overfetch=3)
    assert len(page1) == k
    # replace a doc with much longer content: avgdl moves, scores shift
    victim = corpus_pdf.iloc[-1]
    server.replace([{
        "repo": victim["repo"], "path": victim["path"],
        "commit": victim["commit"], "lang": victim["lang"],
        "content": victim["content"] + " filler" * 200,
    }])
    page2 = server.resume(cid)
    assert server.cursor_refills == 1          # state was invalidated
    live = server.search(pd.DataFrame(
        {"qid": [0], "terms": [["import"]], "k": [2 * k]}))
    assert page2["docid"].tolist() == live["docid"].iloc[k:2 * k].tolist()
    assert np.allclose(page2["score"],
                       live["score"].iloc[k:2 * k], rtol=0, atol=0)


def test_vector_pool_graph_tier_empty_cell():
    """Lloyd can leave a centroid memberless (duplicate-heavy data with
    n_clusters close to the distinct-point count); the graph tier must
    build and serve through empty cells instead of crashing at load."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from jvector_spark.serve import VectorPool

    rng = np.random.default_rng(7)
    v1 = rng.normal(size=8)
    v2 = rng.normal(size=8)
    mat = np.vstack([np.tile(v1, (8, 1)), np.tile(v2, (4, 1))])
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/vecs.parquet"
        pq_mod.write_table(pa.table({
            "vec_id": pa.array(np.arange(len(mat)), pa.int64()),
            "embedding": pa.array(list(mat), pa.list_(pa.float64())),
        }), path)
        pool = VectorPool(path, n_clusters=6, graph_R=4)
        assert any(len(m) == 0 for m, _, _ in pool._graph), \
            "fixture no longer produces an empty cell — rebuild it"
        res = pool.knn(np.vstack([v1, v2]), k=3, ef=8)
        # exact brute-force twin for the same queries
        ref = VectorPool(path).knn(np.vstack([v1, v2]), k=3)
        assert res[["qid", "vec_id"]].values.tolist() == \
            ref[["qid", "vec_id"]].values.tolist()


def test_replace_honors_session_content_col(spark, tmp_path_factory):
    """A session created with content_col != 'content' must replace
    through the index's OWN config (plans.merge.index_config), not a
    hardcoded 'content' column."""
    idx = str(tmp_path_factory.mktemp("idx_ccol") / "idx")
    from jvector_spark.serve import create_index
    create_index(idx, mode="code", content_col="text",
                 key_cols=("repo", "path"))
    server = IndexServer(spark, idx, mode="local")
    docs = [{"repo": "r", "path": f"p{i}", "text": f"alpha beta gamma{i}"}
            for i in range(4)]
    server.write(docs)
    q = pd.DataFrame({"qid": [0], "terms": [["alpha"]], "k": [10]})
    assert len(server.search(q)) == 4
    # replace one doc through the serve path with NO kwargs
    server.replace([{"repo": "r", "path": "p0", "text": "delta epsilon"}])
    assert len(server.search(q)) == 3          # p0 no longer matches alpha
    q2 = pd.DataFrame({"qid": [0], "terms": [["delta"]], "k": [10]})
    assert len(server.search(q2)) == 1         # new content searchable


def test_vector_pool_hierarchy(tmp_path_factory):
    """Warm in-cell multi-layer hierarchy (graph_hier=True — the
    VectorPool twin of graph.build_hierarchy): covering parity with
    brute, recall at bounded ef >= the stride-seed pool's at fewer or
    comparable evals, NVQ pools descend through codes, and the
    no-graph-tier combination is rejected."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from jvector_spark.serve import VectorPool

    rng = np.random.RandomState(11)
    centers = rng.normal(size=(16, 16))
    n = 3000
    X = centers[rng.randint(0, 16, n)] + 0.3 * rng.normal(size=(n, 16))
    X = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float32)
    path = str(tmp_path_factory.mktemp("hp")) + "/emb.parquet"
    pq_mod.write_table(pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(X)}), path)

    with pytest.raises(ValueError, match="graph_hier requires"):
        VectorPool(path, n_clusters=4, graph_hier=True)

    stride = VectorPool(path, n_clusters=4, graph_R=8)
    hier = VectorPool(path, n_clusters=4, graph_R=8, graph_hier=True)
    q = X[rng.randint(0, n, 12)].astype(np.float64)
    exact = stride.knn(q, 10)
    # covering parity: the hierarchy only changes SEEDS, never the
    # exact-score contract
    assert hier.knn(q, 10, ef=n).equals(exact)

    def recall(pool):
        fast = pool.knn(q, 10, nprobe=2, ef=48)
        h = sum(len(set(exact[exact["qid"] == i]["vec_id"])
                    & set(fast[fast["qid"] == i]["vec_id"]))
                for i in range(len(q)))
        return h / (10 * len(q)), pool.last_graph_evals

    r_s, ev_s = recall(stride)
    r_h, ev_h = recall(hier)
    assert r_h >= r_s - 0.05, (r_s, r_h)       # matches stride recall
    assert ev_h < ev_s, (ev_h, ev_s)           # at fewer evaluations
    assert r_h >= 0.8, r_h

    nh = VectorPool(path, n_clusters=4, graph_R=8, quantize="nvq",
                    graph_hier=True)
    assert nh.mat is None  # descent ran through codes; codes-only pool
    out = nh.knn(q, 10, nprobe=2, ef=48)
    assert len(out) == 10 * len(q)
