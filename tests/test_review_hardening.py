"""Regressions for the round-5 adversarial-review findings: the
every-cluster-purged graph state, tombstone-epoch snapshot threading,
serve self-mutation refresh, zero-norm scoring, and protocol zero
coercion."""

import json
import os

import numpy as np
import pandas as pd
import pytest


# ---------------------------------------------------------------- graph ---

def test_purge_all_clusters_keeps_index_usable(spark, tmp_path):
    """Tombstoning EVERY row and purging drops all cluster dirs; the
    index must stay a working 0-row index (search/optimize/insert), not
    wedge on parquet schema inference (UNABLE_TO_INFER_SCHEMA)."""
    from jvector_spark.operators.ann import train_centroids
    from jvector_spark.operators.graph import (
        build_graph_index, graph_topk, insert_into_graph,
        mark_deleted_graph, optimize_graph, purge_deleted_graph)

    rng = np.random.default_rng(5)
    X = rng.normal(size=(120, 16)).astype(np.float32)
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(120, dtype=np.int64), "embedding": list(X)}))
    d = str(tmp_path / "g")
    cents = train_centroids(df, n_clusters=3, seed=1)
    build_graph_index(df, d, cents)
    mark_deleted_graph(spark, d, list(range(120)))
    meta = purge_deleted_graph(spark, d)
    assert meta["medoids"] == {}
    q = spark.createDataFrame(pd.DataFrame({"qid": [0], "qvec": [X[0]]}))
    assert graph_topk(spark, d, q, cents, k=5).count() == 0
    optimize_graph(spark, d)  # no-op, not a crash
    # the emptied index accepts fresh inserts and serves them
    newdf = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(500, 540, dtype=np.int64),
        "embedding": list(X[:40])}))
    insert_into_graph(spark, d, newdf, cents)
    got = graph_topk(spark, d, q, cents, k=3).toPandas()
    assert int(got.sort_values("rank")["vec_id"].iloc[0]) == 500


def test_build_meta_write_is_atomic(spark, tmp_path, monkeypatch):
    """A crash mid-meta-dump after the parquet layout committed must not
    leave a truncated _GRAPH_META.json (the build now uses the same
    tmp+rename discipline as every later save)."""
    from jvector_spark.operators import graph as g
    from jvector_spark.operators.ann import train_centroids

    rng = np.random.default_rng(2)
    X = rng.normal(size=(60, 8)).astype(np.float32)
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(60, dtype=np.int64), "embedding": list(X)}))
    d = str(tmp_path / "g2")
    cents = train_centroids(df, n_clusters=2, seed=3)

    real_replace = os.replace
    def boom(src, dst):
        if dst.endswith(g.GRAPH_META):
            raise OSError("simulated crash at meta commit")
        return real_replace(src, dst)
    monkeypatch.setattr(g.os, "replace", boom)
    with pytest.raises(OSError, match="simulated crash"):
        g.build_graph_index(df, d, cents)
    monkeypatch.undo()
    # no truncated meta left: either absent (crash before commit) or valid
    mp = os.path.join(d, g.GRAPH_META)
    assert not os.path.exists(mp)
    # and the tmp staging file is the only leftover, re-build succeeds
    g.build_graph_index(df, d, cents)
    assert json.load(open(mp))["mutation_gen"] == 0


# ------------------------------------------------------------ tombstones ---

def test_load_tombstones_respects_caller_epoch(tmp_path):
    """tombstone_view/load_tombstones scope deletes to the CALLER's
    manifest snapshot epoch: a compaction flip between the caller's
    segment read and the tombstone read must not resurrect deletes
    (old-epoch snapshot) nor apply new-numbering ids to old segments."""
    from jvector_spark.plans.merge import (
        TOMBSTONES_FILE, load_tombstones, tombstone_view)

    d = str(tmp_path)
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump({"docid_epoch": 1, "segments": []}, f)
    with open(os.path.join(d, TOMBSTONES_FILE), "w") as f:
        json.dump({"docid_epoch": 0, "docids": [3, 7]}, f)
    # a reader still holding the epoch-0 snapshot sees ITS deletes...
    assert load_tombstones(d, epoch=0) == [3, 7]
    assert tombstone_view(d, epoch=0).tolist() == [3, 7]
    # ...while an epoch-1 snapshot (post-flip numbering) ignores them
    assert load_tombstones(d, epoch=1) == []
    # default re-reads the live manifest (mutator-only path)
    assert load_tombstones(d) == []


# ----------------------------------------------------------------- serve ---

def test_serve_mutations_refresh_unconditionally(spark, tmp_path,
                                                 monkeypatch):
    """write/bulkload/optimize/replace must reload manifest + reset pool
    + clear caches even when the manifest mtime did not tick (coarse-
    mtime filesystems) — the mtime-gated _refresh_if_stale is not enough
    for the session's OWN mutations."""
    from jvector_spark import serve as sv

    d = str(tmp_path / "idx")
    sv.create_index(d, mode="code")
    server = sv.IndexServer(spark, d)
    calls = {"n": 0}
    real = sv.IndexServer._refresh_unconditionally
    def spy(self):
        calls["n"] += 1
        return real(self)
    monkeypatch.setattr(sv.IndexServer, "_refresh_unconditionally", spy)
    # freeze the mtime gate shut: _refresh_if_stale must never fire
    monkeypatch.setattr(sv.IndexServer, "_refresh_if_stale",
                        lambda self: None)
    server.write([{"repo": "r", "path": "p", "commit": "c",
                   "lang": "py", "content": "import os"}])
    assert calls["n"] == 1
    assert int(server.manifest["n_docs"]) == 1  # visible despite the gate
    server.optimize(vacuum_min_age_sec=600.0)
    assert calls["n"] == 2
    assert int(server.manifest["n_docs"]) == 1


def test_vector_pool_zero_norm_scores_zero_not_nan(spark, tmp_path):
    from jvector_spark.serve import VectorPool

    X = np.vstack([np.zeros((1, 8), dtype=np.float32),
                   np.eye(8, dtype=np.float32)[:4]])
    p = str(tmp_path / "v.parquet")
    pd.DataFrame({"vec_id": np.arange(5, dtype=np.int64),
                  "embedding": list(X)}).to_parquet(p)
    pool = VectorPool(p)
    res = pool.knn(np.eye(8, dtype=np.float64)[:1], k=5)
    assert not res["score"].isna().any()
    zero_row = res[res["vec_id"] == 0]
    assert (zero_row["score"] == 0.0).all()


def test_knn_rejects_zero_nprobe_and_ef(spark, tmp_path):
    from jvector_spark.serve import VectorPool

    X = np.eye(8, dtype=np.float32)[:4]
    p = str(tmp_path / "v.parquet")
    pd.DataFrame({"vec_id": np.arange(4, dtype=np.int64),
                  "embedding": list(X)}).to_parquet(p)
    pool = VectorPool(p)
    with pytest.raises(ValueError, match="nprobe"):
        pool.knn(X[:1].astype(np.float64), k=2, nprobe=0)
    with pytest.raises(ValueError, match="ef"):
        pool.knn(X[:1].astype(np.float64), k=2, ef=0)


# ------------------------------------------------- sweep 3 (sources etc) ---

def test_generate_queries_tiny_corpus_falls_back_to_full_vocab():
    """A corpus with <2 distinct terms leaves the mid band empty; query
    generation must fall back to the full vocabulary, not crash on
    rng.integers(0, 0)."""
    from jvector_spark.corpus import generate_queries

    tiny = pd.DataFrame({
        "repo": ["r"], "path": ["p"], "commit": ["c"], "lang": ["py"],
        "content": ["hello"]})
    q = generate_queries(tiny, n_queries=5)
    assert len(q) == 5
    assert all(t == ["hello"] for t in q["terms"])
    with pytest.raises(ValueError, match="zero terms"):
        generate_queries(tiny.assign(content=[""]), n_queries=5)


def test_infer_shuffle_partitions_local_cluster_total_cores():
    """local-cluster[n,c,m] has n*c executor cores; the parser must not
    take the worker count alone."""
    from jvector_spark.session import _infer_shuffle_partitions

    assert _infer_shuffle_partitions("local-cluster[2,8,1024]") == 16
    assert _infer_shuffle_partitions("local[16]") == 16
    assert _infer_shuffle_partitions("local[4,2]") == 4
    assert _infer_shuffle_partitions("local[*]") == 32
    assert _infer_shuffle_partitions("spark://host:7077") == 32


def test_fsck_bloom_probe_covers_whole_dictionary(spark, corpus_df,
                                                  tmp_path_factory):
    """A bloom false negative for a term BEYOND the first 200 must be
    reported — regression for the probe stopping at a magic 200-term
    sample while the docstring promises 'no false negatives over the
    dictionary'."""
    from jvector_spark.operators.ids import assign_dense_docids
    from jvector_spark.plans.verify import _verify_segment
    from jvector_spark.sources.segment import (
        SegmentReader, _bloom_positions, build_index)

    idx = str(tmp_path_factory.mktemp("idx_bloom"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=1)
    seg = manifest["path"].iloc[0]
    reader = SegmentReader(seg)
    assert len(reader.terms) > 200, "fixture corpus must exceed the cap"
    victim = reader.terms[250]
    bpath = os.path.join(seg, "bloom.bin")
    bits = bytearray(open(bpath, "rb").read())
    for p in _bloom_positions(victim):
        bits[p >> 3] &= ~(1 << (7 - (p & 7)))
    with open(bpath, "wb") as f:
        f.write(bytes(bits))
    ok, errors = _verify_segment(seg, max_terms=0)
    assert not ok
    assert any("false negative" in e for e in errors), errors


def test_canon_key_rendering_is_value_not_dtype_dependent():
    """An integer key column whose batch contains a null reaches pandas
    as float64 — the same logical key must hash identically from an
    int64 batch ('2') and a float64 batch (2.0 -> '2'), or the key bloom
    write/probe parity breaks into a FALSE NEGATIVE (duplicate doc on
    at-least-once redelivery)."""
    from jvector_spark.sources.segment import (
        _canon_key, _canon_key_series, _key_hash60)

    assert _canon_key(2) == _canon_key(2.0) == _canon_key(np.float64(2.0))
    assert _canon_key(2.5) == "2.5"
    assert _canon_key(float("nan")) == _canon_key(None)
    int_batch = pd.DataFrame({"v": pd.Series([1, 2, 3], dtype="int64"),
                              "k": ["a", "b", "c"]})
    float_batch = pd.DataFrame(
        {"v": pd.Series([1.0, 2.0, 3.0], dtype="float64"),
         "k": ["a", "b", "c"]})
    assert (_key_hash60(int_batch) == _key_hash60(float_batch)).all()
    # series path agrees with the scalar path on a mixed column
    s = pd.Series([1.0, float("nan"), 7.0])
    assert _canon_key_series(s).tolist() == [_canon_key(v) for v in s]


def test_resume_fingerprint_includes_key_cols(spark, tmp_path):
    """Rebuilding the same docs with different key_cols must REBUILD the
    segments (their docs.parquet and key bloom change), not resume the
    old ones missing the new key columns."""
    from jvector_spark.corpus import generate_corpus
    from jvector_spark.operators.ids import assign_dense_docids
    from jvector_spark.sources.segment import build_index

    corpus = generate_corpus(60, seed=3)
    docs = assign_dense_docids(spark.createDataFrame(corpus))
    idx = str(tmp_path / "idx")
    m1 = build_index(docs, idx, num_segments=2,
                     key_cols=("repo", "path"))
    assert set(m1["status"]) == {"built"}
    m2 = build_index(docs, idx, num_segments=2,
                     key_cols=("repo", "path", "commit"))
    assert set(m2["status"]) == {"built"}, (
        "different key_cols silently resumed old segments")
    import json as _json
    import os as _os
    with open(_os.path.join(m2["path"].iloc[0], "meta.json")) as f:
        assert _json.load(f)["key_cols"] == ["repo", "path", "commit"]
    # and an unchanged re-run still resumes
    m3 = build_index(docs, idx, num_segments=2,
                     key_cols=("repo", "path", "commit"))
    assert set(m3["status"]) == {"resumed"}


def test_vector_pool_empty_query_batch(tmp_path_factory):
    """knn on an empty batch returns a typed empty frame (the serve-loop
    contract), not an AxisError/concat crash."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from jvector_spark.serve import VectorPool

    rng = np.random.RandomState(2)
    X = rng.normal(size=(30, 8)).astype(np.float32)
    path = str(tmp_path_factory.mktemp("ek")) + "/emb.parquet"
    pq_mod.write_table(pa.table({
        "vec_id": np.arange(30, dtype=np.int64), "embedding": list(X)}),
        path)
    pool = VectorPool(path)
    for empty in ([], np.zeros((0, 8))):
        out = pool.knn(empty, 5)
        assert len(out) == 0
        assert list(out.columns) == ["qid", "rank", "vec_id", "score"]


def test_facet_counts_keeps_sql_null_group(spark, tmp_path_factory):
    """Docs whose facet value is null must count as ONE null group (SQL
    GROUP BY semantics), not vanish from the distribution."""
    from jvector_spark.operators.facets import facet_counts
    from jvector_spark.operators.ids import assign_dense_docids
    from jvector_spark.sources.segment import build_index

    pdf = pd.DataFrame({
        "repo": [f"r{i}" for i in range(10)],
        "path": [f"p{i}" for i in range(10)],
        "commit": ["c"] * 10,
        "lang": ["py", "py", None, None, None, "go", "go", "go", None,
                 "py"],
        "content": ["alpha beta"] * 10,
    })
    idx = str(tmp_path_factory.mktemp("fnull"))
    build_index(assign_dense_docids(spark.createDataFrame(pdf)), idx,
                num_segments=1, key_cols=("repo", "path", "lang"))
    q = pd.DataFrame({"qid": [0], "terms": [["alpha"]]})
    out = facet_counts(spark, idx, q, "lang").toPandas()
    got = {(r["facet"] if pd.notna(r["facet"]) else None): int(r["n_docs"])
           for _, r in out.iterrows()}
    assert got == {"py": 3, "go": 3, None: 4}, got


def test_attr_surface_rejects_non_integral_values(spark, tmp_path_factory):
    """A float attribute column with fractional values must be refused
    loudly — the int64 contract would silently truncate 9.99 to 9 and
    corrupt sort order, stats, and histogram bins."""
    from jvector_spark.operators.facets import attr_stats
    from jvector_spark.operators.ids import assign_dense_docids
    from jvector_spark.sources.segment import build_index

    pdf = pd.DataFrame({
        "repo": [f"r{i}" for i in range(6)],
        "path": [f"p{i}" for i in range(6)],
        "commit": ["c"] * 6,
        "price": [9.99, 9.01, 3.5, 1.0, 2.0, 7.25],
        "content": ["alpha beta"] * 6,
    })
    idx = str(tmp_path_factory.mktemp("fattr"))
    build_index(assign_dense_docids(spark.createDataFrame(pdf)), idx,
                num_segments=1, key_cols=("repo", "path", "price"))
    q = pd.DataFrame({"qid": [0], "terms": [["alpha"]]})
    with pytest.raises(Exception, match="non-integral"):
        attr_stats(spark, idx, q, "price").toPandas()
