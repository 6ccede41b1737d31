"""NVQ-quantized graph scan tier (the DiskANN memory split the reference
ships: compressed vectors drive the beam, full precision lives elsewhere
for the rerank — README.md:25-39, BuildScoreProvider.pqBuildScoreProvider
:155-192): codes sidecar + column-pruned graph scan + exact rerank
against the full-precision table."""

from __future__ import annotations

import numpy as np
import pytest

from jvector_spark.operators.ann import train_centroids
from jvector_spark.operators.graph import (
    build_graph_index,
    graph_topk,
    graph_topk_nvq,
    quantize_graph_vectors,
)


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    rng = np.random.default_rng(31)
    centers = rng.normal(size=(8, 24)) * 3
    X = centers[rng.integers(0, 8, 900)] + rng.normal(size=(900, 24))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i].astype(np.float32)])
         for i in range(900)],
        "vec_id long, embedding array<float>").repartition(4)
    cents = train_centroids(df, n_clusters=4, seed=42)
    path = str(tmp_path_factory.mktemp("gnvq")) + "/g"
    build_graph_index(df, path, cents, R=8)
    quantize_graph_vectors(spark, path)
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=24)]) for i in range(4)],
        "qid long, qvec array<float>")
    return df, cents, path, qdf


def test_covering_ef_rank_identical(spark, setup):
    """Covering ef: the quantized beam's candidate union is the whole
    probed membership, so the exact rerank makes the result
    rank-identical to the float graph tier (and therefore to brute
    force over the probed clusters)."""
    df, cents, path, qdf = setup
    got = (graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                          ef=900)
           .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True))
    want = (graph_topk(spark, path, qdf, cents, k=10, nprobe=4, ef=900)
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True))
    assert got["vec_id"].tolist() == want["vec_id"].tolist()
    assert np.allclose(got["score"], want["score"], atol=0)


def test_bounded_ef_recall(spark, setup):
    """At serving ef the NVQ-scored beam keeps high recall vs the float
    beam: 8-bit affine scores rank neighborhoods almost identically."""
    df, cents, path, qdf = setup
    got = graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=2,
                         ef=64).toPandas()
    want = graph_topk(spark, path, qdf, cents, k=10, nprobe=2,
                      ef=64).toPandas()
    hits = sum(
        len(set(got[got.qid == i]["vec_id"]) &
            set(want[want.qid == i]["vec_id"])) for i in range(4))
    assert hits / 40 >= 0.9, hits / 40


def test_scan_never_reads_floats(spark, setup):
    """The IO claim, plan-asserted: every parquet scan under the
    candidate-generation side reads either (vec_id, neighbors,
    is_medoid) from the graph layout or the codes columns — the
    embedding column appears ONLY in the rerank join against the
    full-precision table."""
    df, cents, path, qdf = setup
    plan_df = graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                             ef=64)
    plan = plan_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    graph_scans = [seg for seg in plan.split("Scan parquet")[1:]
                   if "/g]" in seg.split("\n")[0]
                   or "/g," in seg.split("\n")[0]
                   or "Location" in seg and "/g" in seg.split(
                       "ReadSchema")[0]]
    # robust check: no scan whose location is the graph layout dir reads
    # the embedding column
    for seg in plan.split("Scan parquet")[1:]:
        head = seg.split("ReadSchema:")[0]
        schema = (seg.split("ReadSchema:")[1].split("\n")[0]
                  if "ReadSchema:" in seg else "")
        if "/g]" in head or "/g/" in head:
            assert "embedding" not in schema, schema
    assert "g_codes" in plan  # the codes sidecar is actually scanned


def test_tombstones_respected(spark, setup, tmp_path_factory):
    """Quantized scan honors graph tombstones: a deleted top hit is
    masked from results but stays navigable."""
    from jvector_spark.operators.graph import mark_deleted_graph

    df, cents, _, qdf = setup
    # fresh copy so the module-scoped fixture stays clean
    path = str(tmp_path_factory.mktemp("gnvq_del")) + "/g"
    build_graph_index(df, path, cents, R=8)
    quantize_graph_vectors(spark, path)
    before = graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                            ef=900).toPandas()
    victim = int(before[before.qid == 0].sort_values("rank")
                 ["vec_id"].iloc[0])
    mark_deleted_graph(spark, path,
                       spark.createDataFrame([(victim,)], "vec_id long"))
    after = graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                           ef=900).toPandas()
    assert victim not in set(after[after.qid == 0]["vec_id"])


def test_stale_sidecar_rejected_after_mutation(spark, setup,
                                               tmp_path_factory):
    """A codes sidecar built before a row-rewriting mutation must be
    REFUSED, not silently joined: the id join would drop nodes inserted
    since quantization (an invisible recall hole). Re-quantizing clears
    the gate and the inserted node becomes searchable."""
    from jvector_spark.operators.graph import insert_into_graph

    df, cents, _, qdf = setup
    path = str(tmp_path_factory.mktemp("gnvq_stale")) + "/g"
    keep = df.where("vec_id != 7")
    build_graph_index(keep, path, cents, R=8)
    quantize_graph_vectors(spark, path)
    insert_into_graph(spark, path, df.where("vec_id = 7"), cents)
    with pytest.raises(ValueError, match="re-run quantize_graph_vectors"):
        graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                       ef=900)
    quantize_graph_vectors(spark, path)
    res = graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                         ef=900).toPandas()
    assert len(res)  # serves again, covering scan sees the full corpus
    want = graph_topk(spark, path, qdf, cents, k=10, nprobe=4,
                      ef=900).toPandas()
    assert (res.sort_values(["qid", "rank"])["vec_id"].tolist()
            == want.sort_values(["qid", "rank"])["vec_id"].tolist())


def test_nvq_tier_surface_parity_threshold_pruning_router(spark, setup):
    """The NVQ tier must not drift in surface from graph_topk: threshold
    (cut on EXACT rerank scores + tracker stop), use_pruning, and
    CentroidRouter routing all work identically at covering ef."""
    from jvector_spark.operators.graph import CentroidRouter

    df, cents, path, qdf = setup
    thr = 0.4
    want = (graph_topk(spark, path, qdf, cents, k=10, nprobe=4, ef=900,
                       threshold=thr)
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True))
    got = (graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                          ef=900, threshold=thr)
           .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True))
    assert got["vec_id"].tolist() == want["vec_id"].tolist()
    assert (got["score"] >= thr).all()
    assert np.allclose(got["score"], want["score"], atol=0)

    # pruning bounds exploration only — covering-ef results unchanged
    pruned = (graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                             ef=900, use_pruning=True).toPandas())
    assert len(pruned)
    assert set(map(tuple, pruned[["qid", "vec_id"]].values)) <= set(
        map(tuple, graph_topk_nvq(spark, path, qdf, cents, df, k=10,
                                  nprobe=4, ef=900).toPandas()
            [["qid", "vec_id"]].values))

    # router-assigned probes feed the NVQ tier the same way
    router = CentroidRouter(cents, R=4)
    r = (graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                        ef=900, router=router, route_ef=8)
         .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True))
    base = (graph_topk_nvq(spark, path, qdf, cents, df, k=10, nprobe=4,
                           ef=900)
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True))
    # full-width routing (nprobe == n_cells) must agree with centroid
    # scoring exactly
    assert r["vec_id"].tolist() == base["vec_id"].tolist()
