"""Graph-structured ANN: a Vamana-style small-world graph per IVF cluster.

This is the reference's core algorithm re-expressed for Spark's execution
model (GraphIndexBuilder.java:441-453,594-665 construction;
GraphSearcher.java:387-451 beam search). We do NOT port the single-JVM
concurrent builder: on Spark the unit of graph locality is the IVF cluster
partition — each cluster's vectors fit one task, so construction is an
`applyInPandas` over cluster groups (numpy/BLAS inside), and the index is
a parquet layout partitioned by cluster whose files carry
(vec_id, embedding, neighbors). Search routes each query to its `nprobe`
nearest clusters (same routing as IVF) and runs an ef-bounded best-first
beam INSIDE each probed cluster from the cluster's medoid — visiting
O(ef·degree) vectors instead of the cluster's full scan.

Why this shape scales: clusters bound task memory (the graph never has to
fit one machine), the parquet partition filter prunes unprobed clusters'
IO entirely (same PartitionFilters contract as ivf_topk_partitioned), and
the beam's partial results merge with the standard bounded top-k shuffle.

Construction per cluster = exact blocked kNN candidates + the Vamana
diversity prune (VamanaDiversityProvider.retainDiverse:45-79): a candidate
is dropped when an already-kept closer neighbor c dominates it
(alpha * d(c, c') <= d(p, c')), which is what gives the graph its
long-range "highway" edges. Reverse edges are unioned in and capped so
every node is reachable from the expansion frontier (the builder's
backlink pass, GraphIndexBuilder.java:594-665).

Exactness contract: beam search is approximate by construction; the gated
entry query therefore ends in an exact-cosine RERANK over the candidate
union computed with the SAME JVM expression as brute_force_topk (the
rerankK >= topK contract, GraphSearcher.search:209) — pytest asserts the
candidate set covers the true top-k on the fixtures, making the
brute-force SQL oracle applicable (tests/test_graph_ann.py).

Concurrency contract: the layout is SINGLE-WRITER (mutations serialize
externally, like the reference's single GraphIndexBuilder owner). For
readers, each mutation is atomic per cluster dir (staged write, then
rename swap — see _rewrite_partitions, including its crash containment),
and queries PLANNED after a mutation commits see it in full. A search
already in flight across a swap may fail on a replaced file and should
be retried — the layout deliberately does not implement cross-cluster
snapshot isolation (that is a table-format concern: at real scale this
layout sits behind Iceberg/Delta snapshots, or behind the serving pools,
which pin a generation in memory and swap on SearcherPool.reset()).
"""

from __future__ import annotations

import glob
import heapq
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jvector_spark.operators.ann import (
    assign_clusters,
    assign_probes,
    exact_rerank,
)

GRAPH_META = "_GRAPH_META.json"


def _normalize(V: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(V, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return V / n


def _robust_prune(cand_idx: np.ndarray, d_p: np.ndarray,
                  D_cc: np.ndarray, R: int, alpha: float) -> list[int]:
    """Vamana diversity prune over candidates sorted by d(p, ·) asc:
    keep the closest, drop every candidate it alpha-dominates, repeat.
    cand_idx: candidate positions; d_p: d(p, cand); D_cc: pairwise
    candidate distances (|C| x |C|)."""
    alive = np.ones(len(cand_idx), dtype=bool)
    keep: list[int] = []
    for i in range(len(cand_idx)):
        if not alive[i]:
            continue
        keep.append(int(cand_idx[i]))
        if len(keep) >= R:
            break
        # occlusion rule: c' is dominated when alpha*d(c, c') <= d(p, c')
        alive &= ~(alpha * D_cc[i] <= d_p)
        alive[i] = False
    return keep


def _prune_candidate_block(V: np.ndarray, cand: np.ndarray, cs: np.ndarray,
                           R: int, alpha: float) -> list[list[int]]:
    """alpha-prune a BLOCK of candidate rows at once. cand/cs are (b, M)
    candidate positions / cosine similarities, already sorted per row by
    similarity desc (position-asc tie-break). The pairwise candidate
    distance tensors are built batched ((b, M, d) gather + one batched
    matmul -> (b, M, M)) so the only per-row Python left is the tiny
    O(M·R) domination walk itself — the block-vectorized form of the
    reference's per-insert retainDiverse."""
    b, M = cand.shape
    d_p = np.sqrt(np.maximum(2.0 - 2.0 * cs, 0.0))
    out: list[list[int]] = []
    # sub-chunk so the LARGER of the (pb, M, d) gather and the (pb, M, M)
    # pairwise tensor stays under ~64 MiB (at low dim M > d and the
    # pairwise tensor dominates — bounding only the gather would blow the
    # budget by M/d there)
    pb = max(1, int((1 << 26) / max(1, M * max(V.shape[1], M) * 8)))
    for lo in range(0, b, pb):
        hi = min(lo + pb, b)
        Vc = V[cand[lo:hi]]                      # (pb, M, d)
        Scc = Vc @ Vc.transpose(0, 2, 1)         # (pb, M, M) batched BLAS
        D_cc = np.sqrt(np.maximum(2.0 - 2.0 * Scc, 0.0))
        for r in range(hi - lo):
            out.append(_robust_prune(cand[lo + r], d_p[lo + r],
                                     D_cc[r], R, alpha))
    return out


def _backlink_and_cap(adj: list[list[int]], V: np.ndarray, R: int) -> None:
    """Reverse-edge union (the builder's backlink pass) capped at 2R by
    similarity (position-asc tie-break), in place."""
    n = len(adj)
    radj: list[list[int]] = [[] for _ in range(n)]
    for i, nbrs in enumerate(adj):
        for j in nbrs:
            radj[j].append(i)
    cap = 2 * R
    for i in range(n):
        merged = list(dict.fromkeys(adj[i] + radj[i]))
        if len(merged) > cap:
            sims = V[merged] @ V[i]
            order = np.lexsort((np.asarray(merged), -sims))[:cap]
            merged = [merged[o] for o in order]
        adj[i] = merged


def _improve_connections(adj: list[list[int]], V: np.ndarray, R: int,
                         alpha: float, block: int = 4096) -> list[list[int]]:
    """One refinement sweep (GraphIndexBuilder.improveConnections:516-544
    analog): every node re-selects its out-edges from the union of its
    current neighbors and its neighbors' neighbors — the 2-hop frontier a
    one-shot kNN graph never considered — via the same alpha-prune, then
    backlinks are re-unioned.

    Two regimes (tests/test_graph_ann_refine.py): on a FRESH
    `_build_cluster_graph` output the sweep is near-neutral, because our
    build candidates are already exact top-3R (the reference needs it on
    fresh builds only because its insert-order candidates come from
    approximate search paths). On a DEGRADED graph — after
    `purge_deleted_graph`'s narrow-pool edge repair, or any edge loss —
    one sweep measurably recovers recall (0.52 -> 0.82 on the half-degree
    kNN fixture), which is why the purge path runs it on heavily-churned
    cells and `optimize_graph` keeps it for rebuilds.

    Vectorized the same way as the build: the 2-hop frontier is built by
    a CSR multi-range gather (no per-node Python sets — the cumsum-delta
    trick expands all adj[adj[i]] ranges in one shot, then one np.unique
    over (owner, cand) keys dedups every node's frontier at once);
    similarities come from ONE gathered einsum per block; top-M selection
    + the pairwise prune reuse the batched helper. Peak temp memory per
    block is O(sum over the block of deg²) int64 — bound `block` down if
    cells carry extreme degrees.
    """
    n = len(V)
    M = min(n - 1, 3 * R)
    if n <= 2 or M < 1:
        return adj
    # global CSR of the adjacency, built once per sweep
    deg = np.fromiter((len(a) for a in adj), dtype=np.int64, count=n)
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=indptr[1:])
    indices = (np.concatenate([np.asarray(a, dtype=np.int64) for a in adj])
               if indptr[-1] else np.zeros(0, np.int64))

    def _gather_ranges(js: np.ndarray) -> np.ndarray:
        """indices[indptr[j]:indptr[j+1]] for every j, concatenated —
        the standard vectorized multi-range gather (cumsum-delta)."""
        lens = deg[js]
        total = int(lens.sum())
        if total == 0:
            return np.zeros(0, np.int64)
        keep = lens > 0
        starts, lens_k = indptr[js[keep]], lens[keep]
        step = np.ones(total, dtype=np.int64)
        step[0] = starts[0]
        ends = np.cumsum(lens_k)
        step[ends[:-1]] = starts[1:] - (starts[:-1] + lens_k[:-1]) + 1
        return indices[np.cumsum(step)]

    new_adj: list[list[int]] = [[] for _ in range(n)]
    for lo in range(0, n, block):
        hi = min(lo + block, n)
        b = hi - lo
        own_ids = np.arange(lo, hi, dtype=np.int64)
        hop1 = _gather_ranges(own_ids)                    # adj[i]
        own1 = np.repeat(own_ids, deg[lo:hi])
        hop2 = _gather_ranges(hop1)                       # adj[adj[i]]
        own2 = np.repeat(own1, deg[hop1])
        owner_all = np.concatenate([own1, own2])
        cand_all = np.concatenate([hop1, hop2])
        m_self = cand_all != owner_all
        # dedup per owner in one pass: unique (owner, cand) composite keys
        keys = np.unique(owner_all[m_self] * np.int64(n) + cand_all[m_self])
        rep = keys // n
        flat = keys - rep * n
        owners = np.bincount(rep - lo, minlength=b)
        s_flat = np.einsum("nd,nd->n", V[flat], V[rep])  # one batched gather
        off = np.zeros(b + 1, dtype=np.int64)
        np.cumsum(owners, out=off[1:])
        # batched top-M: scatter the variable-length frontiers into one
        # padded (b, Lmax) block (pads = self-reference at -inf, dominated
        # instantly) and run ONE argpartition + lexsort over the block —
        # the per-row loop here was the sweep's hot spot (~80% of wall)
        lmax = max(M, int(owners.max())) if b else M
        row_of = rep - lo
        col_of = np.arange(len(flat), dtype=np.int64) - off[row_of]
        s_pad = np.full((b, lmax), -np.inf)
        c_pad = np.repeat(own_ids[:, None], lmax, axis=1)
        s_pad[row_of, col_of] = s_flat
        c_pad[row_of, col_of] = flat
        top = np.argpartition(-s_pad, M - 1, axis=1)[:, :M]
        cs_sel = np.take_along_axis(s_pad, top, axis=1)
        cand_sel = np.take_along_axis(c_pad, top, axis=1)
        order = np.lexsort((cand_sel, -cs_sel), axis=1)
        cand_blk = np.take_along_axis(cand_sel, order, axis=1)
        cs_blk = np.take_along_axis(cs_sel, order, axis=1)
        pruned = _prune_candidate_block(V, cand_blk, cs_blk, R, alpha)
        for r in range(b):
            new_adj[lo + r] = [p for p in pruned[r] if p != lo + r]
    _backlink_and_cap(new_adj, V, R)
    return new_adj


def _build_cluster_graph(V: np.ndarray, R: int, alpha: float,
                         block: int = 2048,
                         refine: int = 0) -> tuple[list[list[int]], int]:
    """(adjacency lists, medoid position) for one cluster's normalized
    vectors. Candidates = exact top-(3R) cosine neighbors via blocked
    BLAS (deterministic — no iterative refinement to seed), then the
    block-vectorized diversity prune, reverse-edge union capped at 2R,
    `refine` improve-connections sweeps, and a connectivity repair.

    Cell-size contract: one cell = one task. Peak memory is
    O(cell·d·8 + block·cell·8) for the scoring block plus O(cell·3R)
    adjacency — a 10^6-vector 128-dim cell is ~1 GiB + 2 GiB scoring
    buffer at block=2048, inside a normal executor. Compute is
    O(cell²·d / block-BLAS) for exact kNN candidates; size cells via the
    centroid count (n_clusters >= n / 2e5 keeps cells <=200k and build
    CPU-bound, see BENCH.md graph-cell build throughput). The per-vector
    Python cost is ONLY the O(M·R) domination walk — candidate top-M,
    row sort, and all pairwise distances are batched numpy/BLAS."""
    n = len(V)
    M = min(n - 1, 3 * R)
    adj: list[list[int]] = [[] for _ in range(n)]
    if n <= 1:  # empty cells happen when Lloyd leaves a centroid memberless
        return adj, 0
    sums = np.zeros(n, dtype=np.float64)
    for lo in range(0, n, block):
        hi = min(lo + block, n)
        b = hi - lo
        S = V[lo:hi] @ V.T  # (b, n) cosine (unit vectors)
        sums[lo:hi] = S.sum(axis=1)
        S[np.arange(b), np.arange(lo, hi)] = -np.inf  # no self loops
        # block-wide top-M + per-row sort (similarity desc, index asc)
        cand = np.argpartition(-S, M - 1, axis=1)[:, :M]
        cs = np.take_along_axis(S, cand, axis=1)
        order = np.lexsort((cand, -cs), axis=1)
        cand = np.take_along_axis(cand, order, axis=1)
        cs = np.take_along_axis(cs, order, axis=1)
        adj[lo:hi] = _prune_candidate_block(V, cand, cs, R, alpha)
    _backlink_and_cap(adj, V, R)
    for _ in range(max(0, refine)):
        adj = _improve_connections(adj, V, R, alpha)
    medoid = int(np.argmax(sums))  # most central = best entry point
    _repair_connectivity(adj, V, medoid)
    return adj, medoid


def _repair_connectivity(adj: list[list[int]], V: np.ndarray,
                         medoid: int) -> None:
    """Make every node reachable from the medoid (in place). A one-shot
    kNN graph can fragment on clustered data — Vamana avoids this because
    each inserted node keeps edges along its search path from the entry
    point (GraphIndexBuilder.java:441-453); here we repair after the
    fact: per unreached component, bridge the highest-similarity
    (reached, unreached) pair with a bidirectional edge (appended past
    the cap — a handful of bridges, not a degree blowup), then re-walk.
    Iterations = number of components, each a blocked matmul."""
    n = len(V)
    while True:
        reached = np.zeros(n, dtype=bool)
        stack = [medoid]
        reached[medoid] = True
        while stack:
            u = stack.pop()
            for w in adj[u]:
                if not reached[w]:
                    reached[w] = True
                    stack.append(w)
        if reached.all():
            return
        rn = np.flatnonzero(reached)
        un = np.flatnonzero(~reached)
        S = V[rn] @ V[un].T  # (reached, unreached) similarity
        flat = int(np.argmax(S))
        a = int(rn[flat // len(un)])
        b = int(un[flat % len(un)])
        adj[a].append(b)
        adj[b].append(a)


def build_graph_index(
    vectors: DataFrame,
    path: str,
    centroids: np.ndarray,
    R: int = 16,
    alpha: float = 1.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine: int = 0,
) -> dict:
    """Write the cluster-partitioned graph layout:
    path/cluster=N/*.parquet with (vec_id, embedding, neighbors:
    array<long> of vec_ids) + _GRAPH_META.json {cluster: medoid vec_id}.
    `refine` = improve-connections sweeps after the one-shot build
    (GraphIndexBuilder.improveConnections:516-544 analog; stored in meta
    so optimize-time rebuilds use the same setting). Default 0: this
    build's candidates are already EXACT top-3R, and the sweep is
    measured exactly neutral on fresh builds (recall AND evals identical,
    +50% build time, 8k-cell probe) — its consumer is delete-repair
    recovery, where purge_deleted_graph applies it unconditionally on
    heavily-churned cells. Returns the meta dict. Cell-size contract:
    see _build_cluster_graph."""
    assigned = assign_clusters(vectors, centroids, id_col, vec_col)
    out_schema = (f"{id_col} long, {vec_col} array<float>, "
                  "neighbors array<long>, is_medoid boolean, cluster int")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        V = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        adj, medoid = _build_cluster_graph(V, R, alpha, refine=refine)
        ids = pdf[id_col].to_numpy(np.int64)
        return pd.DataFrame({
            id_col: ids,
            vec_col: pdf[vec_col],
            "neighbors": [ids[nbrs].tolist() for nbrs in adj],
            "is_medoid": np.arange(len(ids)) == medoid,
            "cluster": pdf["cluster"].to_numpy(np.int32),
        })

    (assigned.groupBy("cluster").applyInPandas(build, out_schema)
     .write.mode("overwrite").partitionBy("cluster").parquet(path))
    spark = vectors.sparkSession
    rows = (spark.read.parquet(path).where(F.col("is_medoid"))
            .select("cluster", id_col).collect())
    meta = {"medoids": {int(r["cluster"]): int(r[id_col]) for r in rows},
            "R": R, "alpha": alpha, "refine": refine,
            "id_col": id_col, "vec_col": vec_col,
            # bumped by every row-rewriting mutation (insert/purge/
            # optimize); derived artifacts (the NVQ codes sidecar) stamp
            # the generation they were built from and refuse to serve a
            # newer graph (quantize_graph_vectors / graph_topk_nvq)
            "mutation_gen": 0}
    # same tmp+rename discipline as every later save: a crash/ENOSPC
    # mid-dump must not leave a truncated meta that makes the freshly
    # built (data-complete) index unreadable
    _save_graph_meta(path, meta)
    return meta


def load_graph_meta(path: str) -> dict:
    with open(os.path.join(path, GRAPH_META)) as f:
        meta = json.load(f)
    meta["medoids"] = {int(k): v for k, v in meta["medoids"].items()}
    meta["inserted"] = {int(k): int(v)
                        for k, v in meta.get("inserted", {}).items()}
    return meta


def _save_graph_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, GRAPH_META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, GRAPH_META))


def _medoid_pos(V: np.ndarray) -> int:
    """Most-central position: argmax_i sum_j V_i·V_j = argmax V @ sum(V)
    — O(nd), no pairwise matrix (ties break to the lowest position)."""
    return int(np.argmax(V @ V.sum(axis=0)))


def _entry_pos(pos: dict, medoids: dict, cluster: int,
               is_medoid: np.ndarray) -> int:
    """Beam entry position for a cell: the meta medoid when it is live in
    this cell, else the cell's on-disk is_medoid row, else position 0.
    The fallbacks only fire when meta lags a crash-interrupted mutation
    (a partition rewrite committed but the follow-up medoid save did
    not — see the durability ordering in insert/purge): any live entry
    point is semantically valid for a best-first beam; it only shifts
    which candidates are explored first."""
    med_id = medoids.get(int(cluster))
    if med_id is not None and int(med_id) in pos:
        return pos[int(med_id)]
    flagged = np.flatnonzero(is_medoid)
    return int(flagged[0]) if len(flagged) else 0


def _cell_search_state(pdf: pd.DataFrame, id_col: str, medoids: dict,
                       cluster: int, n_seeds: int):
    """Shared per-cell prologue of every beam-search task (float and NVQ
    tiers): id-sorted rows, position-space adjacency, entry point (with
    the stale-meta fallback of _entry_pos), tombstone bans, and the
    deterministic stride seed sample. Returns (pdf, ids, nbrs,
    medoid_pos, banned, seed_pos) with pdf re-sorted/re-indexed — one
    definition so the tie-break-bearing sort and the seed layout cannot
    drift between tiers."""
    pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
    ids = pdf[id_col].to_numpy(np.int64)
    pos = {int(v): i for i, v in enumerate(ids)}
    nbrs = [np.asarray([pos[int(x)] for x in row if int(x) in pos],
                       dtype=np.int64)
            for row in pdf["neighbors"]]
    medoid_pos = _entry_pos(pos, medoids, cluster,
                            pdf["is_medoid"].to_numpy(bool))
    banned = pdf["_del"].to_numpy(bool)
    banned = banned if banned.any() else None
    m = len(ids)
    seed_pos = (np.arange(0, m, max(1, m // n_seeds),
                          dtype=np.int64)[:n_seeds]
                if n_seeds > 0 else None)
    return pdf, ids, nbrs, medoid_pos, banned, seed_pos


def _prune_from_scores(V: np.ndarray, s: np.ndarray, mask: np.ndarray,
                       R: int, alpha: float) -> list[int]:
    """alpha-prune the positions allowed by `mask` given similarity row
    `s` (cosine of the target vs every cluster vector): sort candidates
    by similarity desc (position-asc tie-break), convert to unit-sphere
    L2, prune. Shared by insert (candidate gen) and delete repair."""
    cand = np.flatnonzero(mask)
    if not len(cand):
        return []
    cand = cand[np.lexsort((cand, -s[cand]))]
    d_p = np.sqrt(np.maximum(2.0 - 2.0 * s[cand], 0.0))
    Vc = V[cand]
    D_cc = np.sqrt(np.maximum(2.0 - 2.0 * (Vc @ Vc.T), 0.0))
    return _robust_prune(cand, d_p, D_cc, R, alpha)


# --------------------------------------------------------------------------
# mutation lifecycle: insert / 2-phase delete / optimize
# (GraphIndexBuilder.addGraphNode:594-665, removeDeletedNodes:695-805 —
# FreshDiskANN §4.2 — and buildAndMergeNewNodes:992-1029, re-expressed as
# per-cluster tasks over the partitioned parquet layout)
# --------------------------------------------------------------------------

GRAPH_TOMBSTONES = "_tombstones"


def _read_graph_rows(spark, path: str, id_col: str, vec_col: str):
    """spark.read.parquet over the graph layout, surviving the
    every-cluster-purged state: a purge that tombstones the last live row
    of EVERY cell drops all cluster=N dirs, after which a bare read of
    the remaining meta/tombstone sidecars dies in parquet schema
    inference (UNABLE_TO_INFER_SCHEMA) — wedging every later search,
    insert, and even the retry of the purge itself. Return a
    correctly-typed empty frame instead, so an emptied index stays a
    working (0-row) index."""
    if not glob.glob(os.path.join(path, "cluster=*")):
        return spark.createDataFrame(
            [], f"{id_col} long, {vec_col} array<float>, "
                "neighbors array<long>, is_medoid boolean, cluster int")
    return spark.read.parquet(path)


def _recover_asides(path: str) -> None:
    """Sweep rename-aside dirs left by a _rewrite_partitions that died
    mid-swap. The rule is decidable per aside: if the original
    `cluster=N` dir exists the swap completed (the aside is the
    superseded copy) — remove it; if not, the crash landed between
    rename-aside and move-in and the aside is the ONLY copy — restore
    it. Called from the single writer (the next mutation), never from
    readers: a reader-side sweep could race an in-flight swap and
    restore an aside the writer is about to replace. Until the sweep
    runs, leftover asides are harmless to readers — the dot prefix
    makes Spark/Hadoop partition discovery skip them."""
    import re
    import shutil

    for name in sorted(os.listdir(path)):
        m = re.match(r"\.old-[0-9a-f]+-(cluster=\d+)$", name)
        if not m:
            continue
        aside = os.path.join(path, name)
        dst = os.path.join(path, m.group(1))
        if os.path.isdir(dst):
            shutil.rmtree(aside, ignore_errors=True)
        else:
            os.rename(aside, dst)


def _rewrite_partitions(df: DataFrame, path: str, clusters: list[int]) -> None:
    """Rewrite ONLY the cluster partitions in `clusters` — a mutation
    touching 3 of 10k cells must not rewrite the other 9,997. The job
    writes to a staging dir first, THEN swaps partition dirs (the
    tmp -> rename discipline of sources/segment.py), because the plan
    READS the same parquet path it replaces: staging fully materializes
    the output before any source file moves. A cluster absent from the
    output (fully deleted) gets its dir dropped.

    Crash containment: asides are dot-prefixed (`.old-<hex>-cluster=N`)
    so a hard crash mid-swap can never leave a dir that partition
    discovery would read as a duplicate partition; the next mutation's
    _recover_asides sweep restores or removes them. An in-process
    failure rolls back both swapped dirs AND dirs created where none
    existed (a first-time cluster), so a failed insert into a brand-new
    cell leaves no uncommitted partition behind."""
    import shutil
    import uuid

    _recover_asides(path)
    tmp = f"{os.path.normpath(path)}.mut-{uuid.uuid4().hex[:12]}"
    swapped: list[tuple[str, str]] = []  # (old-aside dir, original dst)
    created: list[str] = []  # dsts moved in where NO old dir existed
    try:
        df.write.mode("overwrite").partitionBy("cluster").parquet(tmp)
        # swap via rename-aside, never delete-then-move: at every instant
        # each cluster's data exists at SOME path, so a crash or a failed
        # move can always be rolled back (the old dirs are removed only
        # after every swap succeeded)
        for c in clusters:
            src = os.path.join(tmp, f"cluster={c}")
            dst = os.path.join(path, f"cluster={c}")
            had_old = os.path.isdir(dst)
            if had_old:
                aside = os.path.join(
                    path, f".old-{uuid.uuid4().hex[:8]}-cluster={c}")
                os.rename(dst, aside)
                swapped.append((aside, dst))
            if os.path.isdir(src):
                shutil.move(src, dst)
                if not had_old:
                    created.append(dst)
        for aside, _ in swapped:
            shutil.rmtree(aside, ignore_errors=True)
    except BaseException:
        # roll back: drop fresh dirs that had no prior copy, then restore
        # every old dir whose replacement is absent or partial; staged
        # output is abandoned (source stays intact)
        for dst in created:
            shutil.rmtree(dst, ignore_errors=True)
        for aside, dst in swapped:
            if os.path.isdir(aside):
                shutil.rmtree(dst, ignore_errors=True)
                os.rename(aside, dst)
        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def mark_deleted_graph(spark, path: str, doomed) -> int:
    """Phase-1 delete (mark): append a tombstone shard under
    path/_tombstones/. `doomed` is a DataFrame with the index's id column
    or an iterable of ids; a DataFrame is written distributed, with no
    driver materialization. Searches mask tombstoned ids immediately
    (navigable-but-not-returnable, FreshDiskANN §4.2's lazy delete);
    purge_deleted_graph is the phase-2 cleanup."""
    meta = load_graph_meta(path)
    id_col = meta["id_col"]
    if not isinstance(doomed, DataFrame):
        doomed = spark.createDataFrame(
            [(int(x),) for x in doomed], f"{id_col} long")
    tdir = os.path.join(path, GRAPH_TOMBSTONES)
    doomed.select(F.col(id_col).cast("long")).write.mode("append").parquet(tdir)
    return 0


def load_graph_tombstones(spark, path: str, id_col: str) -> DataFrame | None:
    """Deleted-id DataFrame, or None when no delete was ever recorded.
    Only the no-shards case maps to None — a read error on EXISTING
    shards must propagate, not silently resurrect deleted vectors (a
    swallowed corrupt-shard read would serve tombstoned ids as live and
    make purge a no-op with no symptom)."""
    tdir = os.path.join(path, GRAPH_TOMBSTONES)
    if not os.path.isdir(tdir) or not any(
            f.endswith(".parquet") for f in os.listdir(tdir)):
        return None
    return (spark.read.parquet(tdir)
            .select(F.col(id_col).cast("long")).distinct())


def insert_into_graph(spark, path: str, new_vectors: DataFrame,
                      centroids: np.ndarray) -> dict:
    """Incremental insert (GraphIndexBuilder.addGraphNode:594-665 analog):
    route each new vector to its cluster, then per AFFECTED cluster —
    inside one task — insert sequentially in id order: exact candidate
    scores vs the nodes already present (one matvec per insert, the
    covering superset of the reference's search-path candidates),
    alpha-prune to R out-edges, then backlink each chosen neighbor and
    re-prune any adjacency the backlink pushed past the 2R cap (the
    overflow prune of addGraphNode). Only affected cluster partitions are
    rewritten (dynamic partition overwrite); untouched cells' files — and
    their OS page-cache residency — survive.

    Returns the updated meta. A cluster receiving its first member gets a
    medoid; existing medoids are kept (the reference keeps its entry
    point stable across inserts)."""
    meta = load_graph_meta(path)
    R, alpha = int(meta["R"]), float(meta["alpha"])
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    assigned = assign_clusters(
        new_vectors.select(id_col, vec_col), centroids, id_col, vec_col)
    # the assignment UDF output feeds six downstream actions (validation
    # counts, the dup probe, the staged write, the counter aggregation) —
    # cache it once instead of re-clustering per action
    assigned.persist()
    # fresh-id contract (the reference's addGraphNode takes fresh
    # ordinals, GraphIndexBuilder.java:594-600): a duplicate id — within
    # the batch or vs the index, INCLUDING tombstoned-not-yet-purged rows
    # — would collide in the cell's id->position remap and silently
    # corrupt adjacencies. Both checks are distributed counts (the id
    # probe is a column-pruned scan; insert is CRUD-sized by contract).
    try:
        return _insert_into_graph_cached(
            spark, path, assigned, meta, R, alpha, id_col, vec_col)
    finally:
        assigned.unpersist()


def _insert_into_graph_cached(spark, path: str, assigned: DataFrame,
                              meta: dict, R: int, alpha: float,
                              id_col: str, vec_col: str) -> dict:
    n_in = assigned.count()
    if assigned.select(id_col).distinct().count() != n_in:
        raise ValueError("insert_into_graph: duplicate ids within the "
                         "insert batch")
    n_dup = assigned.select(id_col).join(
        _read_graph_rows(assigned.sparkSession, path, id_col,
                         vec_col).select(id_col),
        id_col, "left_semi").count()
    if n_dup:
        raise ValueError(
            f"insert_into_graph: {n_dup} incoming id(s) already exist in "
            "the index (insert requires fresh ids; for upsert, "
            "mark_deleted_graph + purge_deleted_graph the old rows first)")
    affected = sorted(int(r[0]) for r in
                      assigned.select("cluster").distinct().collect())
    if not affected:
        return meta
    existing = (_read_graph_rows(spark, path, id_col, vec_col)
                .where(F.col("cluster").isin(affected))
                .select(id_col, vec_col, "neighbors", "is_medoid", "cluster",
                        F.lit(False).alias("_new")))
    incoming = assigned.select(
        F.col(id_col).cast("long"),
        F.col(vec_col).cast("array<float>").alias(vec_col),
        F.array().cast("array<long>").alias("neighbors"),
        F.lit(False).alias("is_medoid"), "cluster",
        F.lit(True).alias("_new"))
    out_schema = (f"{id_col} long, {vec_col} array<float>, "
                  "neighbors array<long>, is_medoid boolean, cluster int")
    medoids = dict(meta["medoids"])
    cap = 2 * R

    def ins(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = int(pdf["cluster"].iloc[0])
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ids = pdf[id_col].to_numpy(np.int64)
        V = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        new_mask = pdf["_new"].to_numpy(bool)
        n = len(ids)
        pos_of = {int(v): i for i, v in enumerate(ids)}
        adj: list[list[int]] = [
            [pos_of[int(x)] for x in row if int(x) in pos_of]
            for row in pdf["neighbors"]]
        present = ~new_mask
        med_id = medoids.get(cluster)
        for p in np.flatnonzero(new_mask):
            if not present.any():
                present[p] = True
                continue
            s = V @ V[p]
            adj[p] = _prune_from_scores(V, s, present, R, alpha)
            present[p] = True
            for j in adj[p]:
                adj[j].append(int(p))
                if len(adj[j]) > cap:
                    allowed = np.zeros(n, dtype=bool)
                    allowed[adj[j]] = True
                    allowed[j] = False
                    adj[j] = _prune_from_scores(
                        V, V @ V[j], allowed, cap, alpha)
        # dedup (a backlink may duplicate an existing edge) without
        # reordering
        adj = [list(dict.fromkeys(a)) for a in adj]
        medoid_pos = (pos_of[int(med_id)] if med_id is not None
                      and int(med_id) in pos_of else _medoid_pos(V))
        _repair_connectivity(adj, V, medoid_pos)
        return pd.DataFrame({
            id_col: ids,
            vec_col: pdf[vec_col],
            "neighbors": [ids[a].tolist() for a in adj],
            "is_medoid": np.arange(n) == medoid_pos,
            "cluster": np.full(n, cluster, dtype=np.int32),
        })

    merged = existing.unionByName(incoming).groupBy("cluster").applyInPandas(
        ins, out_schema)
    # durability order: bump mutation_gen (and the dirt counters, both
    # computable pre-swap) BEFORE the partition rewrite. A crash anywhere
    # after this point leaves the generation AHEAD of any NVQ codes
    # sidecar, so graph_topk_nvq's staleness gate refuses the sidecar
    # (loud, safe) instead of silently dropping the inserted rows from
    # the beam — the unsafe direction when the bump followed the
    # rewrite. A crash between this save and the swap merely records
    # counters for an insert that never landed (optimize may rebuild a
    # clean cell once — harmless); the retry passes the fresh-id probe
    # because no rows were written.
    counts = {int(r[0]): int(r[1]) for r in
              assigned.groupBy("cluster").count().collect()}
    inserted = dict(meta.get("inserted", {}))
    for c, k in counts.items():
        inserted[c] = inserted.get(c, 0) + k
    meta.update(inserted=inserted,
                mutation_gen=int(meta.get("mutation_gen", 0)) + 1)
    _save_graph_meta(path, meta)
    _rewrite_partitions(merged, path, affected)
    rows = (_read_graph_rows(spark, path, id_col, vec_col)
            .where(F.col("cluster").isin(affected) & F.col("is_medoid"))
            .select("cluster", id_col).collect())
    for r in rows:
        medoids[int(r["cluster"])] = int(r[id_col])
    meta.update(medoids={int(k): int(v) for k, v in medoids.items()})
    _save_graph_meta(path, meta)
    return meta


def purge_deleted_graph(spark, path: str) -> dict:
    """Phase-2 delete (cleanup) — removeDeletedNodes:695-805 / FreshDiskANN
    §4.2: per cluster holding tombstoned nodes, every live node i that
    points at a deleted j re-prunes over (adj(i) ∪ adj(j)) \\ deleted — the
    bridge i→k for i→j→k — then deleted rows drop, the medoid is re-seated
    if it died, connectivity is re-repaired, and ONLY those cluster
    partitions rewrite. Tombstone shards for purged ids clear afterwards
    (the mark-phase journal stays the commit point: a crash between write
    and shard-clear re-purges idempotently)."""
    meta = load_graph_meta(path)
    R, alpha = int(meta["R"]), float(meta["alpha"])
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    tomb = load_graph_tombstones(spark, path, id_col)
    if tomb is None:
        return meta
    corpus = _read_graph_rows(spark, path, id_col, vec_col)
    affected = sorted(int(r[0]) for r in corpus
                      .join(tomb, id_col, "left_semi")
                      .select("cluster").distinct().collect())
    if not affected:
        # none of the marked ids are in the corpus — either the marks
        # were for never-present ids, or a previous purge crashed
        # between its partition rewrite and its meta save. Re-sync
        # medoids from the on-disk is_medoid rows (the rewrite's source
        # of truth) before clearing the marks, so a crash-interrupted
        # purge cannot leave a purged id as a cluster's entry point in
        # meta. (Searches also tolerate a stale entry via the in-task
        # medoid fallback; this repairs the metadata itself.)
        got = {int(r["cluster"]): int(r[id_col]) for r in
               corpus.where(F.col("is_medoid"))
               .select("cluster", id_col).collect()}
        if got != meta["medoids"]:
            meta["medoids"] = got
            _save_graph_meta(path, meta)
        _clear_graph_tombstones(path)
        return meta
    flagged = (corpus.where(F.col("cluster").isin(affected))
               .join(tomb.withColumn("_del", F.lit(True)), id_col, "left")
               .withColumn("_del", F.coalesce(F.col("_del"), F.lit(False))))
    out_schema = (f"{id_col} long, {vec_col} array<float>, "
                  "neighbors array<long>, is_medoid boolean, cluster int")
    medoids = dict(meta["medoids"])

    def repair(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = int(pdf["cluster"].iloc[0])
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ids = pdf[id_col].to_numpy(np.int64)
        V = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        dead = pdf["_del"].to_numpy(bool)
        pos_of = {int(v): i for i, v in enumerate(ids)}
        adj: list[list[int]] = [
            [pos_of[int(x)] for x in row if int(x) in pos_of]
            for row in pdf["neighbors"]]
        live = ~dead
        for i in np.flatnonzero(live):
            dead_nbrs = [j for j in adj[i] if dead[j]]
            if not dead_nbrs:
                continue
            allowed = np.zeros(len(ids), dtype=bool)
            allowed[adj[i]] = True
            for j in dead_nbrs:
                allowed[adj[j]] = True  # bridge i -> k for i -> j -> k
            allowed[dead] = False
            allowed[i] = False
            adj[i] = _prune_from_scores(V, V @ V[i], allowed, R, alpha)
        keep = np.flatnonzero(live)
        if not len(keep):
            # fully-deleted cluster: emit nothing (driver drops the dir)
            return pd.DataFrame({
                id_col: np.zeros(0, np.int64),
                vec_col: pd.Series([], dtype=object),
                "neighbors": pd.Series([], dtype=object),
                "is_medoid": np.zeros(0, bool),
                "cluster": np.zeros(0, np.int32)})
        remap = -np.ones(len(ids), dtype=np.int64)
        remap[keep] = np.arange(len(keep))
        new_adj = [[int(remap[j]) for j in adj[i] if live[j]] for i in keep]
        Vk = V[keep]
        if dead.sum() >= 0.1 * len(ids):
            # heavy churn: the bridge pool (adj(i) ∪ adj(dead)) is narrow,
            # so run one improve-connections sweep to re-select edges from
            # the 2-hop frontier (recall-recovery evidence in
            # tests/test_graph_ann_refine.py)
            new_adj = _improve_connections(new_adj, Vk, R, alpha)
        med_id = medoids.get(cluster)
        if med_id is not None and int(med_id) in pos_of \
                and live[pos_of[int(med_id)]]:
            medoid_pos = int(remap[pos_of[int(med_id)]])
        else:
            medoid_pos = _medoid_pos(Vk)
        _repair_connectivity(new_adj, Vk, medoid_pos)
        kids = ids[keep]
        return pd.DataFrame({
            id_col: kids,
            vec_col: pdf[vec_col].iloc[keep].to_numpy(),
            "neighbors": [kids[a].tolist() for a in new_adj],
            "is_medoid": np.arange(len(keep)) == medoid_pos,
            "cluster": np.full(len(keep), cluster, dtype=np.int32),
        })

    repaired = flagged.groupBy("cluster").applyInPandas(repair, out_schema)
    # same durability order as insert: the generation bump is durable
    # BEFORE membership changes, so a stale NVQ sidecar is refused (not
    # silently joined against) whatever instant a crash hits. Tombstone
    # shards clear only after the final meta save — the mark journal
    # stays the commit point and a crash anywhere re-purges idempotently
    # (the not-affected branch above re-syncs medoids on that replay).
    meta["mutation_gen"] = int(meta.get("mutation_gen", 0)) + 1
    _save_graph_meta(path, meta)
    _rewrite_partitions(repaired, path, affected)
    rows = (_read_graph_rows(spark, path, id_col, vec_col)
            .where(F.col("cluster").isin(affected) & F.col("is_medoid"))
            .select("cluster", id_col).collect())
    got = {int(r["cluster"]): int(r[id_col]) for r in rows}
    for c in affected:
        if c in got:
            medoids[c] = got[c]
        else:
            medoids.pop(c, None)
    meta["medoids"] = medoids
    _save_graph_meta(path, meta)
    _clear_graph_tombstones(path)
    return meta


def _clear_graph_tombstones(path: str) -> None:
    import shutil

    tdir = os.path.join(path, GRAPH_TOMBSTONES)
    if os.path.isdir(tdir):
        shutil.rmtree(tdir, ignore_errors=True)


def optimize_graph(spark, path: str, max_dirty: float = 0.25) -> dict:
    """Merge/rebuild policy (buildAndMergeNewNodes:992-1029 analog): purge
    pending tombstones, then fully REBUILD any cell whose accumulated
    incremental inserts exceed `max_dirty` of its size — incremental
    edges are locally optimal per insert; a one-shot rebuild over the
    settled membership restores global edge quality (same rationale as
    the reference's merge of the incremental graph into the on-disk one).
    Clean cells are untouched (no IO)."""
    meta = purge_deleted_graph(spark, path)
    R, alpha = int(meta["R"]), float(meta["alpha"])
    refine = int(meta.get("refine", 0))
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    inserted = meta.get("inserted", {})
    if not inserted:
        return meta
    sizes = {int(r[0]): int(r[1]) for r in
             _read_graph_rows(spark, path, id_col, vec_col)
             .where(F.col("cluster").isin(sorted(inserted)))
             .groupBy("cluster").count().collect()}
    # counters for clusters purged to zero rows are dead — drop them so
    # meta doesn't accumulate them forever (a purge does not decrement
    # live counters: it cannot know how many purged rows were inserts,
    # and its own rewrite already re-pruned the survivors' edges)
    inserted = {c: k for c, k in inserted.items() if sizes.get(c, 0)}
    dirty = sorted(c for c, k in inserted.items()
                   if k / sizes[c] > max_dirty)
    if dirty:
        sub = (_read_graph_rows(spark, path, id_col, vec_col)
               .where(F.col("cluster").isin(dirty))
               .select(id_col, vec_col, "cluster"))
        out_schema = (f"{id_col} long, {vec_col} array<float>, "
                      "neighbors array<long>, is_medoid boolean, "
                      "cluster int")

        def rebuild(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = (pdf.sort_values(id_col, kind="mergesort")
                   .reset_index(drop=True))
            V = _normalize(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            adj, medoid = _build_cluster_graph(V, R, alpha, refine=refine)
            ids = pdf[id_col].to_numpy(np.int64)
            return pd.DataFrame({
                id_col: ids,
                vec_col: pdf[vec_col],
                "neighbors": [ids[a].tolist() for a in adj],
                "is_medoid": np.arange(len(ids)) == medoid,
                "cluster": pdf["cluster"].to_numpy(np.int32),
            })

        # gen bump durable before the rewrite (same ordering argument as
        # insert/purge; a rebuild keeps membership, so a stale sidecar
        # would still be content-correct, but one generation discipline
        # for every mutation is simpler to reason about than three)
        meta["mutation_gen"] = int(meta.get("mutation_gen", 0)) + 1
        _save_graph_meta(path, meta)
        _rewrite_partitions(
            sub.groupBy("cluster").applyInPandas(rebuild, out_schema),
            path, dirty)
        rows = (_read_graph_rows(spark, path, id_col, vec_col)
                .where(F.col("cluster").isin(dirty) & F.col("is_medoid"))
                .select("cluster", id_col).collect())
        for r in rows:
            meta["medoids"][int(r["cluster"])] = int(r[id_col])
    meta["inserted"] = {c: k for c, k in inserted.items() if c not in
                        set(dirty)}
    _save_graph_meta(path, meta)
    return meta


class TwoPhaseTracker:
    """ScoreTracker.TwoPhaseTracker analog (ScoreTracker.java:90-149):
    a 500-score sliding window + a bounded best-100 heap. The search is
    "in phase 2" — and may stop — when the 99th percentile of recent
    scores falls below BOTH the worst of the best scores seen and the
    caller's threshold (the reference's conservative variant of the
    probabilistic-stop paper's median rule). Evaluation is gated to once
    per 100 observations, like the reference's `observationCount % 100`.

    Batch-adapted: our beam scores whole adjacencies per expansion, so
    scores arrive in arrays; the ring buffer and the check cadence see
    the same values a scalar loop would."""

    RECENT_SCORES_TRACKED = 500
    BEST_SCORES_TRACKED = 100

    def __init__(self, threshold: float):
        self.threshold = float(threshold)
        self._recent = np.zeros(self.RECENT_SCORES_TRACKED)
        self._idx = 0
        self._count = 0
        self._best = np.full(self.BEST_SCORES_TRACKED, -np.inf)

    def track(self, scores: np.ndarray) -> None:
        scores = np.asarray(scores, dtype=np.float64).ravel()
        for lo in range(0, len(scores), self.RECENT_SCORES_TRACKED):
            chunk = scores[lo:lo + self.RECENT_SCORES_TRACKED]
            end = self._idx + len(chunk)
            if end <= self.RECENT_SCORES_TRACKED:
                self._recent[self._idx:end] = chunk
            else:
                split = self.RECENT_SCORES_TRACKED - self._idx
                self._recent[self._idx:] = chunk[:split]
                self._recent[:end - self.RECENT_SCORES_TRACKED] = chunk[split:]
            self._idx = end % self.RECENT_SCORES_TRACKED
        self._count += len(scores)
        # bounded best-heap, batch form: merge + keep top-100
        merged = np.concatenate([self._best, scores])
        self._best = np.partition(merged, -self.BEST_SCORES_TRACKED)[
            -self.BEST_SCORES_TRACKED:]
        self._check_due = self._count >= self.RECENT_SCORES_TRACKED and (
            self._count // 100 > (self._count - len(scores)) // 100)

    def should_stop(self) -> bool:
        if not getattr(self, "_check_due", False):
            return False
        p99 = float(np.percentile(self._recent, 99))
        worst_best = float(self._best.min())
        return p99 < worst_best and p99 < self.threshold


class RelaxedMonotonicityTracker:
    """ScoreTracker.RelaxedMonotonicityTracker analog
    (ScoreTracker.java:152-271; VBase §3.1): detect when the beam has
    left phase 1 (climbing toward the local maximum) and is mostly
    finding worse options. The recent-score distribution is modeled as
    Normal via a sliding-window Welford mean/variance; stop once
    mean + 1.75·std (≈ the 96th percentile) falls below the worst of the
    best `best_tracked` scores seen. Window size follows the reference's
    empirical rule: 200 · round(sqrt(best_tracked / 2)).

    This is the `usePruning(true)` searcher mode — NOT rank-exact (the
    reference likewise defaults builders' searchers to pruning OFF,
    GraphIndexBuilder.java:330-334); callers opt in for the eval cut and
    accept the measured recall trade (tests/test_threshold_knn.py)."""

    SIGMA_FACTOR = 1.75
    BASE_RECENT_SCORES_SIZE = 200

    def __init__(self, best_tracked: int = 100):
        factor = max(1, int(round(np.sqrt(best_tracked / 2.0))))
        self._size = self.BASE_RECENT_SCORES_SIZE * factor
        self._recent = np.zeros(self._size)
        self._idx = 0
        self._count = 0
        self._mean = 0.0
        self._dsq = 0.0
        self._best = np.full(max(1, best_tracked), -np.inf)

    def track(self, scores: np.ndarray) -> None:
        scores = np.asarray(scores, dtype=np.float64).ravel()
        # sliding-window Welford is inherently sequential; adjacency
        # batches are O(R) so the per-score loop is bounded per expansion
        for s in scores.tolist():
            self._count += 1
            if self._count <= self._size:
                d = (s - self._mean) / self._count
                new_mean = self._mean + d
                self._dsq += (s - new_mean) * (s - self._mean)
            else:
                old = self._recent[self._idx]
                d = (s - old) / self._size
                new_mean = self._mean + d
                self._dsq += (s - old) * (s - new_mean + old - self._mean)
            self._mean = new_mean
            self._recent[self._idx] = s
            self._idx = (self._idx + 1) % self._size
        merged = np.concatenate([self._best, scores])
        self._best = np.partition(merged, -len(self._best))[-len(self._best):]

    def should_stop(self) -> bool:
        if self._count < self._size:
            return False
        std = np.sqrt(max(self._dsq, 0.0) / (self._size - 1))
        return self._mean + self.SIGMA_FACTOR * std < float(self._best.min())


def beam_search_cluster(
    ids: np.ndarray, V: np.ndarray, nbrs: list[np.ndarray],
    medoid_pos: int, q: np.ndarray, ef: int,
    seed_pos: np.ndarray | None = None,
    banned: np.ndarray | None = None,
    threshold: float | None = None,
    use_pruning: bool = False,
    scorer=None,
    expand=None,
) -> tuple[np.ndarray, int]:
    """ef-bounded best-first search (GraphSearcher.java:387-451): expand
    the best unexpanded candidate, stop when it cannot beat the worst of
    the ef results held. Returns (positions of the ef best found, number
    of score evaluations) — scores are cosine on unit vectors, evaluated
    BLAS-batched per expansion.

    `seed_pos` optionally seeds the frontier with extra entry points
    besides the medoid (merged in position order when absent from them).
    A kNN-candidate graph has only short intra-basin edges, so a single
    entry cannot cross well-separated sub-clusters —
    the same routing problem HNSW solves with its upper layers and the
    reference solves by accumulating search-path edges during insertion
    (GraphIndexBuilder.java:441-453). Spread seeds restore global
    navigability for a few extra evaluations (measured on a 40k clustered
    corpus: recall@10 0.23 -> 0.96 at ~3% scan, bench.py --grid).

    `threshold`: enables the probabilistic-stop mode of the reference's
    threshold overload (GraphSearcher.java:192-195 + TwoPhaseTracker
    .shouldStop:130-143): once the 99th percentile of the last 500
    evaluated scores drops below both the best-100 floor and the
    threshold, further expansion is statistically pointless and the beam
    exits early. Results below the threshold are NOT filtered here — the
    caller's exact rerank applies the cut (rerank scores, not beam
    scores, decide membership).

    `use_pruning`: the reference's usePruning(true) searcher mode — the
    RelaxedMonotonicityTracker replaces the threshold tracker (same
    precedence as ScoreTrackerFactory.getScoreTracker: a threshold wins),
    trading exactness of the candidate set for an eval cut once the beam
    is statistically past its local maximum. Default off (rank-identical
    mode, matching GraphIndexBuilder.java:330-334).

    `scorer` (positions -> similarity scores) abstracts the score
    representation: float rows by default, or NVQ/PQ codes — the
    ScoreFunction SPI (similarity/ScoreFunction.java:31-69) of the beam.
    `expand(best, visited) -> (new positions, their scores)` replaces the
    per-expansion `nbrs` gather + `scorer` call: the fused-slab score
    provider (FusedADC.java:39-59), which scores a node's whole
    contiguous neighbor-code block in one matmul and keeps the unvisited
    rows. Seeds are still scored through `scorer`."""
    if threshold is not None:
        tracker = TwoPhaseTracker(threshold)
    elif use_pruning:
        tracker = RelaxedMonotonicityTracker(best_tracked=min(ef, 100))
    else:
        tracker = None
    if scorer is None:
        def scorer(pos):
            return V[pos] @ q
    n = len(ids)
    seed_pos = np.asarray([medoid_pos] if seed_pos is None else seed_pos,
                          dtype=np.int64)
    if medoid_pos in seed_pos:
        # a seed set that already holds the entry keeps its order (the
        # warm pool's first-seen descent seeds); only duplicates go
        seed_pos = seed_pos[np.sort(
            np.unique(seed_pos, return_index=True)[1])]
    else:
        seed_pos = np.unique(np.append(seed_pos, medoid_pos))
    visited = np.zeros(n, dtype=bool)
    visited[seed_pos] = True
    cand_pos = [int(p) for p in seed_pos]
    cand_score = np.asarray(scorer(seed_pos)).tolist()
    n_evals = len(seed_pos)
    if tracker is not None:
        tracker.track(np.asarray(cand_score))
    # heap-based best-first (the reference's NodeQueue pair,
    # GraphSearcher.java:54-60): `frontier` is a max-heap of unexpanded
    # candidates ((-score, insertion seq) — seq reproduces the
    # earliest-inserted-wins tie-break of the former linear scan, so
    # expansion order and therefore results are bit-identical); `held`
    # is the bounded min-heap of the ef best scores seen, whose root is
    # the old kth-partition threshold in O(1). Each position enters the
    # frontier exactly once (visited-gated), so no stale entries.
    frontier = [(-s, i, p) for i, (p, s) in enumerate(zip(cand_pos,
                                                          cand_score))]
    heapq.heapify(frontier)
    held: list[float] = []

    def admit(p: int, sv: float) -> None:
        # only RETURNABLE nodes occupy ef result slots: tombstoned nodes
        # stay navigable (frontier) but must not raise the termination
        # floor, or the beam stops before finding ef live results — the
        # reference pushes acceptOrds-filtered nodes to candidates but
        # not results (GraphSearcher.java:425-434)
        if banned is not None and banned[p]:
            return
        if len(held) < ef:
            heapq.heappush(held, sv)
        else:
            heapq.heappushpop(held, sv)

    for p, s in zip(cand_pos, cand_score):
        admit(p, s)
    seq = len(cand_pos)
    while frontier:
        neg_s, _, best = heapq.heappop(frontier)
        if len(held) == ef and -neg_s < held[0]:
            break  # cannot improve the ef held results
        if expand is not None:
            new, s = expand(best, visited)
        else:
            new = nbrs[best][~visited[nbrs[best]]]
            s = scorer(new) if len(new) else None
        if len(new):
            visited[new] = True
            s = np.asarray(s)
            n_evals += len(new)
            for p, sv in zip(new.tolist(), s.tolist()):
                cand_pos.append(p)
                cand_score.append(sv)
                heapq.heappush(frontier, (-sv, seq, p))
                seq += 1
                admit(p, sv)
            if tracker is not None:
                tracker.track(s)
                if tracker.should_stop():
                    break
    cand_pos_a = np.asarray(cand_pos)
    cand_score_a = np.asarray(cand_score)
    if banned is not None:
        # tombstoned nodes stay NAVIGABLE (expanded above like any other
        # — FreshDiskANN §4.2 lazy delete) but are never returned
        keep = ~banned[cand_pos_a]
        cand_pos_a, cand_score_a = cand_pos_a[keep], cand_score_a[keep]
    top = np.lexsort((ids[cand_pos_a], -cand_score_a))[:ef]
    return cand_pos_a[top], n_evals


def quantize_graph_vectors(spark, path: str) -> str:
    """Write the NVQ codes SIDECAR for a graph layout:
    path_codes/cluster=N/*.parquet with (vec_id, codes binary, vmin,
    delta, dq_norm) — the DiskANN memory split the reference ships
    (compressed vectors drive the beam, full-precision lives elsewhere
    for the rerank; README.md:25-39, BuildScoreProvider
    .pqBuildScoreProvider:155-192). Derived deterministically from the
    layout's float column; regenerate after any insert/purge/optimize.
    The sidecar records the graph meta's mutation_gen it was built from;
    graph_topk_nvq refuses a sidecar whose generation is behind the
    graph's — an id join would otherwise silently DROP nodes added
    since quantization (missing from codes), an invisible recall hole."""
    codes_path = path.rstrip("/") + "_codes"
    meta = load_graph_meta(path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        # column names captured in the closure — no per-group meta-file
        # read, no executor dependence on the driver's filesystem
        from jvector_spark.operators.nvq import nvq_dequant_np, nvq_encode_np

        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        Xn = _normalize(X)
        codes, vmin, delta = nvq_encode_np(Xn)
        dq = nvq_dequant_np(codes, vmin, delta)
        return pd.DataFrame({
            id_col: pdf[id_col].to_numpy(np.int64),
            "codes": [c.tobytes() for c in codes],
            "vmin": vmin.astype(np.float64),
            "delta": delta.astype(np.float64),
            "dq_norm": np.sqrt((dq * dq).sum(axis=1)),
            "cluster": pdf["cluster"].to_numpy(np.int32),
        })
    (_read_graph_rows(spark, path, id_col, vec_col)
     .groupBy("cluster")
     .applyInPandas(enc, f"{id_col} long, codes binary, vmin double, "
                         "delta double, dq_norm double, cluster int")
     .write.mode("overwrite").partitionBy("cluster").parquet(codes_path))
    tmp = os.path.join(codes_path, "_CODES_META.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"mutation_gen": int(meta.get("mutation_gen", 0))}, f)
    os.replace(tmp, os.path.join(codes_path, "_CODES_META.json"))
    return codes_path


def graph_topk_nvq(
    spark,
    path: str,
    queries: DataFrame,
    centroids: np.ndarray,
    vectors: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    ef: int = 64,
    n_seeds: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    evals_acc=None,
    threshold: float | None = None,
    use_pruning: bool = False,
    router: "CentroidRouter | None" = None,
    route_ef: int = 64,
    layers: "str | bool | None" = None,
) -> DataFrame:
    """Beam-searched top-k where the probed clusters are scored from the
    NVQ codes sidecar (quantize_graph_vectors) — the float column is
    NEVER read on the scan path: the graph layout scan prunes to
    (id, neighbors, is_medoid) and the codes scan carries 1 byte/dim, so
    probed-cluster IO drops ~8x vs graph_topk. The beam scores through
    the NVQScorer shift/scale identity (scorer callback); the exact
    rerank joins the candidate union back to `vectors` (the
    full-precision source of truth) — the reference's "compressed in
    memory, full-precision fetched for rerank" split (README.md:25-39).
    With covering ef the candidate union is the whole probed membership
    and the result is rank-identical to graph_topk/brute force
    (pytest-asserted). Probing, hierarchy descent and the beam are
    graph_topk's (_beam_candidates); only the scan and scorer differ."""
    meta = load_graph_meta(path)
    codes_path = path.rstrip("/") + "_codes"
    # staleness gate: an id join against an out-of-date sidecar silently
    # DROPS nodes inserted since quantization — refuse instead
    graph_gen = int(meta.get("mutation_gen", 0))
    codes_meta = os.path.join(codes_path, "_CODES_META.json")
    codes_gen = -1
    if os.path.exists(codes_meta):
        with open(codes_meta) as f:
            codes_gen = int(json.load(f).get("mutation_gen", -1))
    if codes_gen != graph_gen:
        raise ValueError(
            f"NVQ codes sidecar at {codes_path} was built from graph "
            f"generation {codes_gen} but the graph is at {graph_gen} — "
            "re-run quantize_graph_vectors after mutations")

    def scan(probed):
        # column-pruned graph scan: NO embedding column
        graph_side = (_read_graph_rows(spark, path, id_col, vec_col)
                      .where(F.col("cluster").isin(probed))
                      .select(id_col, "neighbors", "is_medoid", "cluster"))
        if glob.glob(os.path.join(codes_path, "cluster=*")):
            codes_raw = spark.read.parquet(codes_path)
        else:
            # codes sidecar rebuilt over an every-cluster-purged graph: no
            # partition dirs to infer a schema from (same hazard as
            # _read_graph_rows) — an empty typed frame keeps the join valid
            codes_raw = spark.createDataFrame(
                [], f"{id_col} long, codes binary, vmin double, "
                    "delta double, dq_norm double, cluster int")
        return graph_side.join(
            codes_raw.where(F.col("cluster").isin(probed))
            .select(id_col, "codes", "vmin", "delta", "dq_norm"), id_col)

    def cell_scorer(pdf):
        codes = np.frombuffer(
            b"".join(pdf["codes"].to_numpy()), dtype=np.uint8
        ).reshape(len(pdf), -1)
        vmin = pdf["vmin"].to_numpy(np.float64)
        delta = pdf["delta"].to_numpy(np.float64)
        norms = np.maximum(pdf["dq_norm"].to_numpy(np.float64), 1e-12)

        def for_query(q):
            qsum = float(q.sum())
            return lambda p: ((vmin[p] * qsum + delta[p] * (codes[p] @ q))
                              / norms[p])
        return for_query

    cands = _beam_candidates(
        spark, path, meta, queries, centroids, scan, cell_scorer,
        carry_col=None, nprobe=nprobe, ef=ef, n_seeds=n_seeds,
        id_col=id_col, qid_col=qid_col, qvec_col=qvec_col,
        evals_acc=evals_acc, threshold=threshold, use_pruning=use_pruning,
        router=router, route_ef=route_ef, layers=layers)
    # the exact rerank fetches full-precision rows for candidates only
    # (the "compressed in memory, floats for rerank" split); the
    # threshold cut applies on EXACT rerank scores, as in graph_topk
    return exact_rerank(
        cands.join(vectors.select(id_col, vec_col), id_col),
        queries.select(F.col(qid_col).alias("qid"), qvec_col),
        k, id_col=id_col, vec_col=vec_col, qid_col="qid",
        qvec_col=qvec_col, threshold=threshold)


# --------------------------------------------------------------------------
# in-cell multi-layer hierarchy (the literal HNSW-layer form of the
# reference's addHierarchy mode: getRandomGraphLevel:568-581 level
# sampling, OnHeapGraphIndex.java:60-95 sparse upper layers,
# GraphSearcher.internalSearch:250-269 beam-1 descent +
# setEntryPointsFromPreviousLayer:310-317 candidate carry-down)
# --------------------------------------------------------------------------

GRAPH_LAYERS_META = "_LAYERS_META.json"


def _splitmix64(ids: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix of each id (splitmix64 finalizer). Used
    instead of the reference's rng.nextDouble() so level assignment is a
    pure function of the id — reproducible at any parallelism and across
    rebuilds, the same determinism discipline as stratified_sample."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _node_levels(ids: np.ndarray, R: int, n: int) -> np.ndarray:
    """HNSW level per node (getRandomGraphLevel:568-581):
    level = floor(-ln(U) * ml), ml = 1/ln(degree) (1 when degree <= 1),
    with U a deterministic uniform in (0, 1] derived from the id. So
    P(level >= l) = R^-l: upper layers thin geometrically, giving the
    O(log n) descent. Capped at ceil(log_R n) + 1 — beyond that a layer
    holds a single expected node and deeper levels add nothing."""
    u = (_splitmix64(ids).astype(np.float64) + 1.0) / 2.0**64
    ml = 1.0 if R <= 1 else 1.0 / np.log(R)
    lev = np.floor(-np.log(u) * ml).astype(np.int64)
    cap = int(np.ceil(np.log(max(n, 2)) / np.log(max(R, 2)))) + 1
    return np.minimum(lev, cap)


def _upper_layers(ids: np.ndarray, V: np.ndarray, R: int, alpha: float
                  ) -> list[tuple[int, np.ndarray, list]]:
    """One cell's sparse upper layers: [(level, sub, adj)] for levels
    1..top, where `sub` holds the positions sampled into the level
    (_node_levels >= level) and adj[j] the positions, into `sub`, of
    sub[j]'s alpha-pruned neighbors — the same construction as L0 over
    the level's rows. Empty when the cell is too small to sample any
    upper node. Shared by build_hierarchy and the warm VectorPool."""
    levels = _node_levels(ids, R, len(ids))
    out = []
    for lvl in range(1, int(levels.max(initial=0)) + 1):
        sub = np.flatnonzero(levels >= lvl)
        adj = ([[]] if len(sub) == 1
               else _build_cluster_graph(V[sub], R, alpha)[0])
        out.append((lvl, sub, adj))
    return out


def build_hierarchy(spark, path: str) -> str:
    """Write the upper-layer SIDECAR for a graph layout:
    path_layers/cluster=N/*.parquet with one row per (node, layer >= 1):
    (vec_id, layer, lnbrs array<long>) — the sparse-upper-layers half of
    the reference's hierarchical graph (OnHeapGraphIndex.java:60-95; L0
    stays in the main layout). Each layer's adjacency is the same
    alpha-pruned construction as L0, restricted to the nodes sampled
    into that layer.

    Same sidecar discipline as quantize_graph_vectors: derived
    deterministically from the layout, stamped with the graph meta's
    mutation_gen, REFUSED by search when stale (a mutation changes
    membership; a descent over yesterday's layers would seed from purged
    nodes or miss inserted ones). Regenerate after insert/purge/optimize.
    _LAYERS_META.json records {mutation_gen, entries: {cluster:
    [entry_id, top_layer]}} — the per-cell NodeAtLevel entry (highest
    layer, lowest id on ties)."""
    layers_path = path.rstrip("/") + "_layers"
    meta = load_graph_meta(path)
    R, alpha = int(meta["R"]), float(meta["alpha"])
    id_col, vec_col = meta["id_col"], meta["vec_col"]

    def mk(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = int(pdf["cluster"].iloc[0])
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ids = pdf[id_col].to_numpy(np.int64)
        V = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        out_id: list[int] = []
        out_layer: list[int] = []
        out_nbrs: list[list[int]] = []
        for lvl, sub, adjs in _upper_layers(ids, V, R, alpha):
            for j, a in enumerate(adjs):
                out_id.append(int(ids[sub[j]]))
                out_layer.append(lvl)
                out_nbrs.append(ids[sub[np.asarray(a, dtype=np.int64)]]
                                .tolist() if a else [])
        return pd.DataFrame({
            id_col: np.asarray(out_id, np.int64),
            "layer": np.asarray(out_layer, np.int32),
            "lnbrs": pd.Series(out_nbrs, dtype=object),
            "cluster": np.full(len(out_id), cluster, np.int32),
        })

    (_read_graph_rows(spark, path, id_col, vec_col)
     .groupBy("cluster")
     .applyInPandas(mk, f"{id_col} long, layer int, lnbrs array<long>, "
                        "cluster int")
     .write.mode("overwrite").partitionBy("cluster").parquet(layers_path))
    entries: dict[int, list[int]] = {}
    if glob.glob(os.path.join(layers_path, "cluster=*")):
        # per-cell entry = the node at the top layer (lowest id on ties)
        rows = (spark.read.parquet(layers_path).groupBy("cluster")
                .agg(F.expr(f"min_by({id_col}, struct(-layer, {id_col}))")
                     .alias("eid"),
                     F.max("layer").alias("top"))
                .collect())
        entries = {int(r["cluster"]): [int(r["eid"]), int(r["top"])]
                   for r in rows}
    tmp = os.path.join(layers_path, GRAPH_LAYERS_META + ".tmp")
    os.makedirs(layers_path, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump({"mutation_gen": int(meta.get("mutation_gen", 0)),
                   "entries": entries}, f)
    os.replace(tmp, os.path.join(layers_path, GRAPH_LAYERS_META))
    return layers_path


def _load_layers(spark, layers_path: str, probed: list[int],
                 id_col: str, graph_gen: int):
    """(packed upper-layer DataFrame or None, entries dict) for the
    probed clusters, refusing a sidecar whose generation is behind the
    graph's (the quantize_graph_vectors staleness contract: a stale
    descent would seed from purged nodes or miss inserted ones)."""
    meta_f = os.path.join(layers_path, GRAPH_LAYERS_META)
    with open(meta_f) as f:
        lm = json.load(f)
    layers_gen = int(lm.get("mutation_gen", -1))
    if layers_gen != graph_gen:
        raise ValueError(
            f"hierarchy sidecar at {layers_path} was built from graph "
            f"generation {layers_gen} but the graph is at {graph_gen} — "
            "re-run build_hierarchy after mutations")
    entries = {int(k): (int(v[0]), int(v[1]))
               for k, v in lm.get("entries", {}).items()}
    if not glob.glob(os.path.join(layers_path, "cluster=*")):
        return None, entries
    packed = (spark.read.parquet(layers_path)
              .where(F.col("cluster").isin(probed))
              .groupBy(id_col)
              .agg(F.collect_list(F.struct("layer", "lnbrs"))
                   .alias("_upper")))
    return packed, entries


def _upper_maps(pdf: pd.DataFrame,
                pos: dict[int, int]) -> dict[int, dict[int, np.ndarray]]:
    """layer -> {position -> neighbor positions} from the joined _upper
    column (ids remapped to this cell's position space; ids absent from
    the cell are skipped — cannot happen when the staleness gate holds,
    defensive otherwise)."""
    amap: dict[int, dict[int, np.ndarray]] = {}
    col = pdf["_upper"] if "_upper" in pdf.columns else None
    if col is None:
        return amap
    for i, lst in enumerate(col):
        if lst is None or (isinstance(lst, float) and pd.isna(lst)):
            continue
        for st in lst:
            lvl = int(st["layer"])
            nb = st["lnbrs"] if st["lnbrs"] is not None else []
            amap.setdefault(lvl, {})[i] = np.asarray(
                [pos[int(x)] for x in nb if int(x) in pos], dtype=np.int64)
    return amap


def _descend_layers(amap: dict[int, dict[int, np.ndarray]],
                    entry_pos: int, top_layer: int,
                    scorer) -> tuple[np.ndarray, int]:
    """Greedy beam-1 descent (GraphSearcher.internalSearch:250-269): from
    the entry node, per layer top..1, hill-climb to the best neighbor
    until no improvement, then drop a layer. EVERY candidate scored on
    the way down is returned as an L0 seed — the reference's
    setEntryPointsFromPreviousLayer pushes all seen candidates, not just
    the winner ("at best we might connect to a more distant cluster").
    Returns (seed positions in first-seen order, score evaluations).
    Deterministic: ties keep the earlier candidate (first-occurrence
    argmax over deterministic adjacency order)."""
    seen = {int(entry_pos)}
    order = [int(entry_pos)]
    cur = int(entry_pos)
    cur_s = float(np.asarray(scorer(np.asarray([cur], dtype=np.int64)))[0])
    evals = 1
    for lvl in range(top_layer, 0, -1):
        layer = amap.get(lvl)
        if not layer:
            continue
        while True:
            nb = layer.get(cur)
            if nb is None or not len(nb):
                break
            new = np.asarray([p for p in nb.tolist() if p not in seen],
                             dtype=np.int64)
            if not len(new):
                break
            s = np.asarray(scorer(new))
            evals += len(new)
            seen.update(int(p) for p in new)
            order.extend(int(p) for p in new)
            b = int(np.argmax(s))
            if s[b] > cur_s:
                cur, cur_s = int(new[b]), float(s[b])
            else:
                break
    return np.asarray(order, dtype=np.int64), evals


class CentroidRouter:
    """L1 routing layer: a small Vamana graph built OVER the cell
    centroids themselves — the hierarchy-descent analog (the reference's
    upper graph layers route a query to an L0 entry point; here the
    routed unit is the cluster cell). Why it matters at scale: brute
    probe selection scores EVERY centroid per query, and a 10^11-vector
    corpus at ~2·10^5 vectors/cell carries ~5·10^5 centroids — itself a
    full scan. Beam-routing visits O(ef·degree) centroids instead.

    Centroids are driver-resident (they already broadcast for
    assignment), so the router builds once in-process and pickles into
    task closures like the centroid array does.

    Routing quality scales with seeds exactly like the cell beams
    (separated centroid sub-clusters need spread entry points): on a 20k
    multi-cluster centroid set, nprobe=8 routing recall measured 0.45 at
    16 seeds/ef128 -> 0.95 at 256 seeds/ef512 -> 1.00 at 512 seeds/ef512,
    at 2-8% of the centroids evaluated."""

    def __init__(self, centroids: np.ndarray, R: int = 8,
                 n_seeds: int = 256):
        self.Vc = _normalize(np.asarray(centroids, dtype=np.float64))
        k = len(self.Vc)
        adj, medoid = _build_cluster_graph(self.Vc, R=min(R, max(1, k - 1)),
                                           alpha=1.2)
        self.nbrs = [np.asarray(a, dtype=np.int64) for a in adj]
        self.medoid = medoid
        self.ids = np.arange(k, dtype=np.int64)
        step = max(1, k // n_seeds)
        self.seeds = np.arange(0, k, step, dtype=np.int64)[:n_seeds]

    def route(self, q: np.ndarray, nprobe: int,
              ef: int = 64) -> tuple[np.ndarray, int]:
        """(cell ids ordered by similarity desc, centroid evals) for one
        query. ef >= len(centroids) degenerates to exact brute routing."""
        qn = _normalize(np.asarray(q, dtype=np.float64)[None, :])[0]
        found, evals = beam_search_cluster(
            self.ids, self.Vc, self.nbrs, self.medoid, qn,
            ef=max(int(ef), int(nprobe)), seed_pos=self.seeds)
        return found[:nprobe], evals


def _probe_map(queries, centroids: np.ndarray, nprobe: int,
               qid_col: str, qvec_col: str) -> dict[int, list[int]]:
    """cluster -> [qids probing it], from brute centroid assignment
    (shared by the float and NVQ graph tiers)."""
    qc = assign_probes(queries, centroids, nprobe, qvec_col)
    cluster_qids: dict[int, list[int]] = {}
    for r in qc.select(qid_col, "probes").collect():
        for c in r["probes"]:
            cluster_qids.setdefault(int(c), []).append(int(r[qid_col]))
    return cluster_qids


def _unit_query_vecs(qpdf: pd.DataFrame, qid_col: str,
                     qvec_col: str) -> dict[int, np.ndarray]:
    return {int(row[qid_col]): _normalize(
                np.asarray(row[qvec_col], dtype=np.float64)[None, :])[0]
            for _, row in qpdf.iterrows()}


def _flag_tombstones(spark, corpus: DataFrame, path: str,
                     id_col: str) -> DataFrame:
    """Flag — don't drop — tombstoned rows (`_del` bool column): they
    stay navigable for the beam but are masked from results (FreshDiskANN
    lazy delete). The join is Catalyst-planned (AQE broadcasts
    serving-sized delete sets; a bulk set shuffles like any equi-join)."""
    tomb = load_graph_tombstones(spark, path, id_col)
    if tomb is None:
        return corpus.withColumn("_del", F.lit(False))
    return (corpus.join(tomb.withColumn("_del", F.lit(True)),
                        id_col, "left")
            .withColumn("_del", F.coalesce("_del", F.lit(False))))


def _resolve_probe_map(queries: DataFrame, qpdf: pd.DataFrame,
                       centroids: np.ndarray, nprobe: int,
                       router, route_ef: int,
                       qid_col: str, qvec_col: str
                       ) -> dict[int, list[int]]:
    """cluster -> [qid] probe assignment, shared by the float and NVQ
    graph tiers. With a CentroidRouter, hierarchy-descent routing beams
    over the L1 centroid graph instead of scoring every centroid — the
    probe cost drops from O(n_cells) to O(route_ef * degree) per
    query."""
    if router is None:
        return _probe_map(queries, centroids, nprobe, qid_col, qvec_col)
    cluster_qids: dict[int, list[int]] = {}
    for _, row in qpdf.iterrows():
        cells, _ = router.route(
            np.asarray(row[qvec_col], dtype=np.float64), nprobe,
            ef=route_ef)
        for c in cells:
            cluster_qids.setdefault(int(c), []).append(int(row[qid_col]))
    return cluster_qids


def _beam_candidates(spark, path: str, meta: dict, queries: DataFrame,
                     centroids: np.ndarray, scan, cell_scorer, *,
                     carry_col: str | None, nprobe: int, ef: int,
                     n_seeds: int, id_col: str, qid_col: str,
                     qvec_col: str, evals_acc, threshold, use_pruning,
                     router, route_ef: int, layers) -> DataFrame:
    """The per-cell beam driver of the float and NVQ graph tiers: probe
    map (brute or routed), unit query vectors, tombstone flags, the
    optional upper-layer join, then one applyInPandas task per probed
    cell running descent + beam_search_cluster for every query probing
    it. Returns (qid, id_col[, carry_col]) candidate rows, <=ef per
    (query, cell).

    What differs between tiers comes in as callbacks: `scan(probed)` is
    the probed cells' rows (id, neighbors, is_medoid, cluster plus the
    scorer's columns); `cell_scorer(pdf)(q)` is the positions -> score
    function of one query over one id-sorted cell; `carry_col` is a
    column copied to the candidate rows (the float vectors the rerank
    reads) or None."""
    qpdf = queries.select(qid_col, qvec_col).toPandas()
    cluster_qids = _resolve_probe_map(
        queries, qpdf, centroids, nprobe, router, route_ef,
        qid_col, qvec_col)
    probed = sorted(cluster_qids)
    qvecs = _unit_query_vecs(qpdf, qid_col, qvec_col)
    medoids = meta["medoids"]
    corpus = _flag_tombstones(spark, scan(probed), path, id_col)
    lentries: dict[int, tuple[int, int]] = {}
    if layers:
        lp = path.rstrip("/") + "_layers" if layers is True else layers
        packed, lentries = _load_layers(
            spark, lp, probed, id_col, int(meta.get("mutation_gen", 0)))
        if packed is not None:
            corpus = corpus.join(packed, id_col, "left")
    out_cols = ["qid", id_col] + ([carry_col] if carry_col else [])
    out_schema = f"qid long, {id_col} long" + (
        f", {carry_col} array<float>" if carry_col else "")

    def search(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = int(pdf["cluster"].iloc[0])
        qids = cluster_qids.get(cluster, [])
        if not qids:
            return pd.DataFrame(columns=out_cols)
        pdf, ids, nbrs, medoid_pos, banned, seed_pos = _cell_search_state(
            pdf, id_col, medoids, cluster, n_seeds)
        scorer_for = cell_scorer(pdf)
        entry = lentries.get(cluster)
        amap: dict[int, dict[int, np.ndarray]] = {}
        if entry is not None:
            pos = {int(v): i for i, v in enumerate(ids)}
            amap = _upper_maps(pdf, pos)
            entry_pos = pos.get(entry[0], medoid_pos)
        outs = []
        for qid in qids:
            q = qvecs[qid]
            scorer = scorer_for(q)
            d_evals = 0
            sp = seed_pos
            if entry is not None and amap:
                # the descent scores through the SAME scorer as the beam
                # (an NVQ hierarchy never touches floats); its seeds
                # enter the beam in position order
                sp, d_evals = _descend_layers(
                    amap, entry_pos, entry[1], scorer)
                sp = np.sort(sp)
            found, n_evals = beam_search_cluster(
                ids, None, nbrs, medoid_pos, q, ef, sp,
                banned=banned, threshold=threshold,
                use_pruning=use_pruning, scorer=scorer)
            if evals_acc is not None:
                evals_acc.add(int(n_evals) + int(d_evals))
            out = {"qid": np.int64(qid), id_col: ids[found]}
            if carry_col:
                out[carry_col] = pdf[carry_col].iloc[found].to_numpy()
            outs.append(pd.DataFrame(out))
        return pd.concat(outs, ignore_index=True)

    return corpus.groupBy("cluster").applyInPandas(search, out_schema)


def graph_topk(
    spark,
    path: str,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    ef: int = 64,
    n_seeds: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    evals_acc=None,
    threshold: float | None = None,
    use_pruning: bool = False,
    router: "CentroidRouter | None" = None,
    route_ef: int = 64,
    layers: "str | bool | None" = None,
) -> DataFrame:
    """Beam-searched top-k over the graph layout: per probed cluster, an
    in-task beam from the medoid emits <=ef candidates per query; the
    final exact top-k reranks the candidate union with the SAME cosine
    expression as brute_force_topk (so with covering ef the result is
    rank-identical to brute force and the SQL oracle applies).

    `layers`: path to a build_hierarchy sidecar (True = the default
    `path + "_layers"`): per probed cell, L0 seeds come from a greedy
    beam-1 DESCENT over the cell's sparse upper layers instead of the
    stride sample — the reference's hierarchical search
    (internalSearch:250-269). n_seeds is ignored for cells that have
    upper layers (cells too small to sample any keep the stride
    fallback). Stale sidecars (older mutation_gen) are refused.

    `evals_acc`: optional Spark accumulator collecting the number of
    score evaluations across all tasks (the visited-count observability
    of SearchResult.getVisitedCount) — the honest scan-fraction metric
    for the bench grid.

    `n_seeds`: extra beam entry points per probed cluster, taken as a
    deterministic stride sample over the cluster's id-sorted rows (plus
    the medoid). See beam_search_cluster on why multi-seed entry is what
    makes a kNN-candidate graph globally navigable."""
    meta = load_graph_meta(path)

    def scan(probed):
        return (_read_graph_rows(spark, path, id_col, vec_col)
                .where(F.col("cluster").isin(probed)))

    def cell_scorer(pdf):
        V = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        return lambda q: lambda p: V[p] @ q

    cands = _beam_candidates(
        spark, path, meta, queries, centroids, scan, cell_scorer,
        carry_col=vec_col, nprobe=nprobe, ef=ef, n_seeds=n_seeds,
        id_col=id_col, qid_col=qid_col, qvec_col=qvec_col,
        evals_acc=evals_acc, threshold=threshold, use_pruning=use_pruning,
        router=router, route_ef=route_ef, layers=layers)
    # threshold mode: the cut applies on EXACT rerank scores
    # (GraphSearcher.java:192-195 — results with similarity >= threshold,
    # bounded by topK); the beam's probabilistic stop only bounds
    # exploration
    return exact_rerank(
        cands, queries.select(F.col(qid_col).alias("qid"), qvec_col),
        k, id_col=id_col, vec_col=vec_col, qid_col="qid",
        qvec_col=qvec_col, threshold=threshold)
