"""Warm serving loop: a long-lived search session over a built index.

Reference mapping: jvector-examples/.../IPCService.java:80-87 — a
long-lived process speaking a CREATE/SEARCH line protocol with POOLED
searchers per session, so repeated queries never pay index reload. The
repo's batch path (spark-submit `cli.py search`) pays full session +
manifest + dictionary load per invocation; this module is the
user-reachable warm path.

Two execution modes per request batch:

* ``local`` (default): the driver process scores every segment itself
  through a persistent :class:`~jvector_spark.operators.wand.SearcherPool`
  — pooled mmap SegmentReaders + term-row/upper-bound/decode caches that
  survive across requests (ExplicitThreadLocal-pooled GraphSearcher
  analog, GraphSearcher.java:51-57). Zero Spark jobs per request: this is
  the single-node serving shape the reference itself is (an index that
  fits one machine's disk; mmap random access), and what a per-shard
  serving replica runs at 10^12-doc scale (each replica owns its shard's
  segments locally — the scatter ACROSS shards lives above this layer).
* ``spark``: delegates to wand.search_index(merge="driver") — the
  cluster path for indexes too big for one node; still warm (one
  SparkSession, hot term_stats reads) but pays a job per batch.

Index mutations remain visible: tombstones re-read per request (phase-1
deletes apply immediately), and a manifest change (append/compaction)
detected by mtime+epoch resets the pool so the next request sees the new
generation — the read-while-write snapshot contract.
"""

from __future__ import annotations

import json
import os
from typing import IO

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from jvector_spark.operators.wand import (
    SearcherPool,
    global_term_stats,
    idf_map,
    search_index,
    search_partition,
)
from jvector_spark.sources.segment import load_manifest


def _filter_cache_key(doc_filter: dict | None):
    from jvector_spark.operators.wand import _filter_key

    return _filter_key(doc_filter) if doc_filter else None


def create_index(index_dir: str, mode: str = "code",
                 positions: bool = False,
                 key_cols: tuple[str, ...] = ("repo", "path", "commit"),
                 content_col: str = "content") -> dict:
    """Initialize an EMPTY index at `index_dir` — the serve protocol's
    CREATE (IPCService.java:81 'CREATE DIMENSIONS SIMILARITY_TYPE M EF':
    a session declares its index config before any write; here the config
    is analyzer mode / positional payloads / identity keys). The intended
    config lands in create.json BEFORE any segment exists, so subsequent
    writes (this session or a later one) inherit it through
    plans.merge.index_config instead of hardcoded defaults."""
    from jvector_spark.sources.segment import (
        empty_manifest, write_index_manifest)

    os.makedirs(index_dir, exist_ok=True)
    # CREATE is a session reset: stale tombstones from a previous index at
    # this path would otherwise survive (write_index_manifest preserves the
    # old docid_epoch, so the epoch guard does NOT catch them) and silently
    # exclude same-numbered docids from the freshly bulkloaded corpus.
    try:
        os.remove(os.path.join(index_dir, "tombstones.json"))
    except FileNotFoundError:
        pass
    cfg = {"tokenizer_mode": mode, "positions": bool(positions),
           "key_cols": list(key_cols), "content_col": content_col}
    tmp = os.path.join(index_dir, "create.json.tmp")
    with open(tmp, "w") as f:
        json.dump(cfg, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, "create.json"))
    return write_index_manifest(index_dir, empty_manifest(), mode)


class VectorPool:
    """Resident embedding matrix for warm kNN serving — the reference's
    OWN serving workload (IPCService SEARCH against an in-memory/mmap
    vector index, IPCService.java:80-87). Loaded once per session; each
    request is one BLAS matmul + a bounded argpartition. Scores match the
    Spark brute path's display contract: round(cosine, 6), ties broken by
    vec_id asc."""

    def __init__(self, parquet_path: str, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 n_clusters: int | None = None, seed: int = 42,
                 quantize: str | None = None,
                 pq_m: int | None = None,
                 rerank_k: int | None = None,
                 graph_R: int | None = None,
                 graph_fused: bool = False,
                 graph_hier: bool = False) -> None:
        import pyarrow.parquet as pq_mod

        if quantize not in (None, "nvq", "pq"):
            raise ValueError(f"unknown quantize mode {quantize!r}")
        if rerank_k is not None and (quantize is None or rerank_k < 1):
            raise ValueError("rerank_k needs a quantized pool and k >= 1 "
                             "(a float pool's scores are already exact)")
        if graph_hier and not graph_R:
            raise ValueError("graph_hier requires graph_R (a graph tier)")
        if graph_fused and (quantize not in ("nvq", "pq") or not graph_R):
            # the reference fuses COMPRESSED codes into the graph, never
            # raw floats (duplicating float rows x2R would defeat the
            # residency budget) — same constraint here
            raise ValueError(
                "graph_fused requires quantize='nvq' or 'pq' and graph_R")
        tbl = pq_mod.read_table(parquet_path, columns=[id_col, vec_col])
        self.ids = tbl[id_col].to_numpy().astype(np.int64)
        mat = np.vstack(
            tbl[vec_col].to_numpy(zero_copy_only=False)
        ).astype(np.float64)
        order = np.argsort(self.ids, kind="stable")  # id-asc tie-break
        self.ids, mat = self.ids[order], mat[order]
        self.quantize = quantize
        self.n, self.dim = mat.shape
        if quantize == "nvq":
            # steady-state residency is CODES ONLY: 1 byte/dim + 12
            # bytes/vector (vmin, delta, norm) instead of 8 bytes/dim —
            # the reference's NVQ rerank-tier memory format
            # (NVQuantization.java:42-155). Scoring never materializes
            # the dequantized matrix: dot(dequant_i, q) decomposes as
            # vmin_i * sum(q) + delta_i * (codes_i . q) (the NVQScorer
            # shift/scale identity), so each request is one uint8-matrix
            # matmul. The float input `mat` is dropped after this block;
            # scores are the dequantized approximation, still
            # round(cos, 6) with id-asc ties.
            from jvector_spark.operators.nvq import nvq_encode_np

            self._codes, self._vmin, self._delta = nvq_encode_np(mat)
            dq_norm_sq = (
                (self._vmin.astype(np.float64) ** 2) * self.dim
                + 2.0 * self._vmin.astype(np.float64)
                * self._delta.astype(np.float64)
                * self._codes.sum(axis=1, dtype=np.float64)
                + (self._delta.astype(np.float64) ** 2)
                * (self._codes.astype(np.float64) ** 2).sum(axis=1)
            )
            self.norms = np.maximum(np.sqrt(dq_norm_sq), 1e-12)
            self.mat = None
        elif quantize == "pq":
            # PQ-codes residency: m bytes/vector + one small codebook
            # tensor — the reference's PQVectors serving format
            # (quantization/PQVectors.java:117, precomputedScoreFunctionFor
            # :191-202). Each query builds ONE (m, 256) ADC lookup table
            # T[s, c] = q_s . books[s][c] (the PQDecoder partial sums);
            # scoring a block is then a pure table gather+sum — the ADC
            # path FusedADC fuses into the adjacency (FusedADC.java:39-59,
            # FusedADCPQDecoder). Codebooks train on the load-time float
            # matrix exactly like the IVF centroids below; the float
            # matrix is dropped after this block.
            from jvector_spark.operators.pq import (
                _encode_unweighted, train_pq_np)

            self.pq_m = int(pq_m) if pq_m else max(
                1, self.dim // 2 if self.dim % 2 == 0 else self.dim)
            self._books = train_pq_np(mat, self.pq_m, seed=seed)
            self._codes = _encode_unweighted(mat, self._books)
            # decoded norms WITHOUT materializing the decoded matrix:
            # subspaces are disjoint coordinate blocks, so
            # ||decode(i)||^2 = sum_s ||books[s][code_is]||^2
            norm_tab = (self._books ** 2).sum(axis=2)  # (m, 256)
            dq_norm_sq = norm_tab[
                np.arange(self.pq_m)[None, :], self._codes].sum(axis=1)
            self.norms = np.maximum(np.sqrt(dq_norm_sq), 1e-12)
            self._adc_q = self._adc_tab = None  # per-query table memo
            self.mat = None
        else:
            self.mat = mat
            # clamp like graph._normalize / nvq dq_norm: an all-zero
            # embedding (padding/missing row) must score 0, not NaN — a
            # NaN in the beam's held-heap disables the ef termination
            # floor (every comparison is False) and poisons the
            # TwoPhaseTracker statistics
            self.norms = np.maximum(
                np.sqrt((mat * mat).sum(axis=1)), 1e-12)
        # optional on-disk exact-rerank sidecar for quantized pools: the
        # reference's two-phase layout (compressed codes resident,
        # full-precision InlineVectors on disk, SearchScoreProvider's
        # approximate-then-exact rerank) — the float32 matrix goes to an
        # unlinked temp memmap; each request touches only rerank_k rows
        # of it (OS page cache, zero steady-state residency) and returns
        # EXACT cosines for the survivors.
        self.rerank_k = rerank_k
        self._rr = self._rr_norms = None
        if rerank_k is not None:
            import tempfile

            fd, rpath = tempfile.mkstemp(prefix="jv_pool_rr_",
                                         suffix=".f32")
            with os.fdopen(fd, "wb") as f:
                f.write(np.ascontiguousarray(mat, dtype=np.float32)
                        .tobytes())
            self._rr_file = open(rpath, "rb")
            os.unlink(rpath)  # mapping outlives the name (posix)
            self._rr = np.memmap(self._rr_file, dtype=np.float32,
                                 mode="r", shape=(self.n, self.dim))
            # float64 norms of the same float32 values = the float
            # pool's norms exactly (parquet floats upcast losslessly)
            self._rr_norms = np.maximum(
                np.sqrt((mat * mat).sum(axis=1)), 1e-12)
        # optional IVF tier (the reference's approximate-then-exact core:
        # probe nearest centroid cells, exact-rerank their members) — at
        # shard scale the matmul touches nprobe/n_clusters of the matrix.
        # For a quantized pool, training uses the load-time float matrix
        # (already in memory here) before it is dropped.
        self.centroids = self.assign = None
        if n_clusters and n_clusters > 1:
            self._train_ivf(mat, min(n_clusters, self.n), seed)
        # optional graph tier: per-cell Vamana adjacency built ONCE at
        # load from the float matrix (before a quantized pool drops it) —
        # the in-memory GraphSearcher serving analog
        # (GraphSearcher.java:387-451). Residency cost is the adjacency
        # only (<= 2R+bridges int32 per node); beam scoring reuses the
        # pool's scoring kernel, so it works over NVQ codes too.
        self.graph_R = graph_R
        self.graph_fused = bool(graph_fused)
        self.graph_hier = bool(graph_hier)
        self._graph = None
        self._fused = None
        self._hier = None
        if graph_R:
            self._build_graph(mat, graph_R)
            if self.graph_fused:
                self._build_fused()

    def _build_fused(self) -> None:
        """FusedADC analog (graph/disk/feature/FusedADC.java:39-59): pack
        each node's NEIGHBORS' compressed codes into one contiguous block
        laid out in adjacency order, CSR-style per cell. An expansion then
        scores its whole neighborhood with ONE contiguous-slice matmul —
        no fancy-indexed gather across the code matrix — exactly the
        reference's "read the neighborhood's codes sequentially alongside
        the adjacency" trade: duplicated codes (~R x 1 byte/dim/node for
        NVQ, ~R x m bytes/node for PQ) buy gather-free bulk scoring.
        With PQ codes this is the literal FusedADCPQDecoder shape: the
        block scorer gathers the per-query ADC table over a contiguous
        code slab."""
        self._fused = []
        for members, nbrs, _seeds in self._graph:
            if len(members) == 0 or not nbrs:
                self._fused.append(None)
                continue
            degs = np.asarray([len(a) for a in nbrs], dtype=np.int64)
            off = np.zeros(len(nbrs) + 1, dtype=np.int64)
            np.cumsum(degs, out=off[1:])
            flat = (np.concatenate(nbrs) if off[-1]
                    else np.empty(0, dtype=np.int64))
            gpos = members[flat]
            fz = {
                "off": off,
                "nbr": flat,  # cell-local neighbor positions, block order
                "codes": np.ascontiguousarray(self._codes[gpos]),
                "norms": self.norms[gpos],
            }
            if self.quantize == "nvq":
                fz["vmin"] = self._vmin[gpos].astype(np.float64)
                fz["delta"] = self._delta[gpos].astype(np.float64)
            self._fused.append(fz)

    def _build_graph(self, mat: np.ndarray, R: int) -> None:
        from jvector_spark.operators.graph import (
            _build_cluster_graph, _upper_layers)

        unit = mat / np.maximum(
            np.sqrt((mat * mat).sum(axis=1))[:, None], 1e-12)
        cells = (self.cells if self.centroids is not None
                 else [np.arange(self.n)])
        self._graph = []
        if self.graph_hier:
            self._hier = []
        for members in cells:
            m = len(members)
            if m == 0:  # Lloyd can leave a centroid memberless
                self._graph.append((members, [],
                                    np.empty(0, dtype=np.int64)))
                if self._hier is not None:
                    self._hier.append(None)
                continue
            um = unit[members]
            adj, medoid = _build_cluster_graph(um, R=R, alpha=1.2)
            nbrs = [np.asarray(a, dtype=np.int64) for a in adj]
            seeds = np.unique(np.concatenate([
                np.asarray([medoid], dtype=np.int64),
                np.arange(0, m, max(1, m // 64), dtype=np.int64)[:64]]))
            self._graph.append((members, nbrs, seeds))
            if self._hier is None:
                continue
            # HNSW-style in-cell upper layers (graph.build_hierarchy's
            # construction) as (level maps, entry = lowest position on the
            # top level, top level); too-small cells keep the stride seeds
            layers = _upper_layers(self.ids[members], um, R, 1.2)
            self._hier.append(None if not layers else (
                {lvl: {int(sub[j]): sub[np.asarray(a, dtype=np.int64)]
                       for j, a in enumerate(ladj)}
                 for lvl, sub, ladj in layers},
                int(layers[-1][1][0]), layers[-1][0]))

    def _train_ivf(self, mat: np.ndarray, n_clusters: int, seed: int,
                   iters: int = 8) -> None:
        """Seeded numpy Lloyd on the (L2-normalized) load-time matrix —
        spherical k-means, matching ann.train_centroids' geometry."""
        rng = np.random.default_rng(seed)
        unit = mat / np.maximum(
            np.sqrt((mat * mat).sum(axis=1))[:, None], 1e-12)
        c = unit[rng.choice(self.n, n_clusters, replace=False)]
        for _ in range(iters):
            assign = (unit @ c.T).argmax(axis=1)
            for j in range(n_clusters):
                m = assign == j
                if m.any():
                    v = unit[m].mean(axis=0)
                    c[j] = v / max(np.linalg.norm(v), 1e-12)
        self.centroids = c
        self.assign = (unit @ c.T).argmax(axis=1)
        self.cells = [np.flatnonzero(self.assign == j)
                      for j in range(n_clusters)]

    def _score_positions(self, pos: np.ndarray, q: np.ndarray,
                         qn: float) -> np.ndarray:
        """Cosine of the pool rows at `pos` against one query — the one
        scoring kernel every serving path shares (brute, IVF cells, graph
        beam). For an NVQ pool this is the NVQScorer shift/scale
        identity — dot = vmin*sum(q) + delta*(codes.q) — never a
        dequantized matrix."""
        if self.quantize == "nvq":
            dots = (self._vmin[pos].astype(np.float64) * q.sum()
                    + self._delta[pos].astype(np.float64)
                    * (self._codes[pos] @ q))
        elif self.quantize == "pq":
            tab = self._adc_table(q)
            dots = tab[np.arange(self.pq_m)[None, :],
                       self._codes[pos]].sum(axis=1)
        else:
            dots = self.mat[pos] @ q
        return dots / (qn * self.norms[pos])

    def _adc_table(self, q: np.ndarray) -> np.ndarray:
        """(m, 256) ADC lookup table for one query — T[s, c] =
        q_s . books[s][c] (PQVectors.precomputedScoreFunctionFor:191-202).
        Memoized on the CURRENT query (knn/beam score the same q across
        many cells and expansions; rebuilding T per block would cost as
        much as scoring 256 rows each time)."""
        if self._adc_q is not None and (
                q is self._adc_q or np.array_equal(q, self._adc_q)):
            return self._adc_tab
        m, _, sub = self._books.shape
        self._adc_tab = np.einsum(
            "mcd,md->mc", self._books, q.reshape(m, sub))
        self._adc_q = np.array(q, copy=True)
        return self._adc_tab

    def _beam_cell(self, cell: int, q: np.ndarray, qn: float,
                   ef: int,
                   threshold: float | None = None
                   ) -> tuple[np.ndarray, np.ndarray, int]:
        """ef-bounded best-first beam inside one graph cell (the warm
        GraphSearcher.java:387-451 loop): operators/graph
        .beam_search_cluster scoring through the pool's own kernel.
        Returns (global positions, their sims, evals). `evals` counts
        unique nodes visited (SearchResult.getVisitedCount semantics —
        fused and gather paths agree by construction). The fused
        expansion adds the already-visited rows its bulk matmul re-scores
        to self.last_graph_scored, which otherwise grows with `evals`.
        `threshold` arms the TwoPhaseTracker probabilistic stop."""
        from jvector_spark.operators.graph import (
            _descend_layers, beam_search_cluster)

        members, nbrs, seeds = self._graph[cell]
        if len(members) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0), 0

        def score(p):
            return self._score_positions(members[p], q, qn)

        d_evals = 0
        hier = self._hier[cell] if self._hier is not None else None
        if hier is not None:
            # greedy multi-layer descent replaces the stride seeds (the
            # warm internalSearch:250-269); scoring goes through the
            # pool's own kernel, so quantized pools descend over codes
            seeds, d_evals = _descend_layers(*hier, score)
        fz = self._fused[cell] if self._fused is not None else None
        expand = None
        if fz is not None:
            qsum = float(q.sum())

            def expand(best, visited):
                # fused neighborhood scoring: ONE contiguous-slice matmul
                # over the whole adjacency block (visited rows are scored
                # and discarded — the FusedADC bulk-then-filter shape)
                lo, hi = int(fz["off"][best]), int(fz["off"][best + 1])
                nbr = fz["nbr"][lo:hi]
                mask = ~visited[nbr]
                if not mask.any():
                    return nbr[:0], None
                if self.quantize == "pq":
                    # FusedADCPQDecoder: per-query ADC table gathered
                    # over the contiguous neighborhood code slab
                    block = self._adc_table(q)[
                        np.arange(self.pq_m)[None, :],
                        fz["codes"][lo:hi]].sum(axis=1)
                else:  # NVQScorer shift/scale identity on the copies
                    block = (fz["vmin"][lo:hi] * qsum + fz["delta"][lo:hi]
                             * (fz["codes"][lo:hi] @ q))
                self.last_graph_scored += int(hi - lo - mask.sum())
                return nbr[mask], (block / (qn * fz["norms"][lo:hi]))[mask]
        # entry = seeds[0], already a seed: the seeds enter in this order
        found, evals = beam_search_cluster(
            self.ids[members], None, nbrs, int(seeds[0]), q, ef, seeds,
            threshold=threshold, scorer=score, expand=expand)
        pos = members[found]
        return pos, self._score_positions(pos, q, qn), evals + d_evals

    def knn(self, qvecs: np.ndarray, k: int,
            nprobe: int | None = None,
            ef: int | None = None,
            threshold: float | None = None) -> pd.DataFrame:
        """(n_queries, dim) -> (qid, rank, vec_id, score), qid = row
        index of the query batch. nprobe (with an IVF-enabled pool)
        limits the exact scoring to the members of the nprobe nearest
        centroid cells — approximate (probe misses possible), scores of
        returned rows stay exact; nprobe=None or no IVF = exact brute.
        ef (with a graph-enabled pool, graph_R=...) switches the probed
        cells from full scans to multi-seed beam searches — the fastest
        tier; evals land in self.last_graph_evals for observability
        (SearchResult.getVisitedCount).

        `threshold`: the GraphSearcher threshold overload on the warm
        surface (GraphSearcher.java:192-195) — up to k results with
        score >= threshold; with a graph-enabled pool the beam also gets
        the TwoPhaseTracker probabilistic stop (operators/graph.py)."""
        if nprobe is not None and nprobe < 1:
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        if ef is not None and ef < 1:
            raise ValueError(f"ef must be >= 1, got {ef}")
        if self.rerank_k is not None and k > self.rerank_k:
            # the exact rerank keeps only rerank_k candidates: a larger k
            # would silently return fewer than k rows
            raise ValueError(f"k={k} exceeds the pool's rerank_k="
                             f"{self.rerank_k}")
        q = np.asarray(qvecs, dtype=np.float64)
        if q.size == 0:  # empty batch: typed empty frame, not AxisError
            return pd.DataFrame({
                "qid": pd.Series([], dtype=np.int64),
                "rank": pd.Series([], dtype=np.int32),
                "vec_id": pd.Series([], dtype=np.int64),
                "score": pd.Series([], dtype=np.float64)})
        qn = np.maximum(np.sqrt((q * q).sum(axis=1)), 1e-12)
        outs = []
        use_graph = ef is not None and self._graph is not None
        self.last_graph_evals = 0
        self.last_graph_scored = 0
        for qid in range(len(q)):
            if self.centroids is not None and (
                    nprobe is not None or use_graph):
                cq = (q[qid] / qn[qid]) @ self.centroids.T
                order = np.argsort(-cq, kind="stable")
                probe = order[:nprobe] if nprobe is not None else order
            else:
                probe = None
            if use_graph:
                cells = (probe if probe is not None
                         else np.arange(len(self._graph)))
                ps, ss = [], []
                for c in cells:
                    gp, gs, ne = self._beam_cell(int(c), q[qid],
                                                 float(qn[qid]), ef,
                                                 threshold=threshold)
                    ps.append(gp)
                    ss.append(gs)
                    self.last_graph_evals += ne
                    self.last_graph_scored += ne
                pos = np.concatenate(ps)
                sims = np.round(np.concatenate(ss), 6)
                ids = self.ids[pos]
            else:
                if probe is not None:
                    cand = np.concatenate([self.cells[j] for j in probe])
                    cand.sort()
                else:
                    cand = np.arange(self.n)
                sims = np.round(
                    self._score_positions(cand, q[qid], float(qn[qid])), 6)
                ids = self.ids[cand]
                pos = cand
            if self._rr is not None:
                # two-phase exact rerank from the on-disk float sidecar
                # (DefaultSearchScoreProvider: approximate similarity
                # drives the search, exactScoreFunction reranks) —
                # candidate order by approx score, exact cosines for the
                # rerank_k survivors, scores now match the float pool's
                keep = np.lexsort((ids, -sims))[:self.rerank_k]
                pos, ids = pos[keep], ids[keep]
                vecs = np.asarray(self._rr[pos], dtype=np.float64)
                sims = np.round(
                    (vecs @ q[qid]) / (qn[qid] * self._rr_norms[pos]), 6)
            if threshold is not None:
                keep = sims >= threshold
                pos_keep = np.flatnonzero(keep)
                ids, sims = ids[pos_keep], sims[pos_keep]
            top = np.lexsort((ids, -sims))[:k]
            outs.append(pd.DataFrame({
                "qid": np.int64(qid),
                "rank": np.arange(len(top), dtype=np.int32),
                "vec_id": ids[top], "score": sims[top]}))
        return pd.concat(outs, ignore_index=True)


class IndexServer:
    """One warm serving session over one index directory (optionally with
    a resident vector table for kNN requests)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 mode: str = "local", vectors: str | None = None,
                 vector_clusters: int | None = None,
                 vector_quantize: str | None = None,
                 vector_pq_m: int | None = None,
                 vector_rerank_k: int | None = None,
                 vector_graph_R: int | None = None,
                 vector_fused: bool = False,
                 vector_hier: bool = False) -> None:
        if mode not in ("local", "spark"):
            raise ValueError(f"unknown serve mode {mode!r}")
        self.spark = spark
        self.index_dir = index_dir
        self.mode = mode
        self.pool = SearcherPool()
        self.vectors = (
            VectorPool(vectors, n_clusters=vector_clusters,
                       quantize=vector_quantize, pq_m=vector_pq_m,
                       rerank_k=vector_rerank_k, graph_R=vector_graph_R,
                       graph_fused=vector_fused, graph_hier=vector_hier)
            if vectors else None)
        self._df_memo: dict[str, int] = {}
        # bounded result cache, GENERATION-scoped: identical (queries,
        # filter, floor, mode, exclude) requests within one manifest
        # generation return the memoized frame; any append/compaction/
        # delete invalidates it wholesale via _refresh_if_stale. Deletes
        # bump no manifest, so delete() clears it explicitly.
        from collections import OrderedDict

        self._result_cache: "OrderedDict[tuple, pd.DataFrame]" = OrderedDict()
        self.result_cache_cap = 1024
        self.cache_hits = 0
        # stateful resume cursors (GraphSearcher.resume analog) + the
        # work counters their tests assert on
        self._cursors: dict[str, dict] = {}
        self._cursor_seq = 0
        # monotonic in-process mutation counters: part of every cursor
        # stamp, so a delete/replace/optimize issued through THIS session
        # invalidates cursor state even on filesystems whose mtime
        # granularity is coarser than the request rate (mtimes remain the
        # defense against external writers). _manifest_gen counts only
        # manifest-class mutations (append/compact/optimize/bulkload),
        # after which docids may be renumbered and BM25 stats shift —
        # cursors then continue by OFFSET, not by the stale score cursor.
        self._mutation_gen = 0
        self._manifest_gen = 0
        self.search_executions = 0
        self.cursor_refills = 0
        self.cursor_pages_buffered = 0
        self._load_manifest()
        self.requests_served = 0

    def knn(self, qvecs, k: int = 10,
            nprobe: int | None = None,
            ef: int | None = None,
            threshold: float | None = None) -> pd.DataFrame:
        if self.vectors is None:
            raise ValueError(
                "server started without a vector table (vectors=...)")
        self.requests_served += 1
        return self.vectors.knn(
            np.asarray(qvecs, dtype=np.float64), k, nprobe=nprobe, ef=ef,
            threshold=threshold)

    def _load_manifest(self) -> None:
        self.manifest = load_manifest(self.index_dir)
        self._manifest_mtime = os.path.getmtime(
            os.path.join(self.index_dir, "manifest.json"))

    def _refresh_if_stale(self) -> None:
        """New generation (append/compaction) -> reload + drop pooled
        readers/caches; the df memo is generation-scoped too."""
        mtime = os.path.getmtime(os.path.join(self.index_dir, "manifest.json"))
        if mtime != self._manifest_mtime:
            self._refresh_unconditionally()

    def _refresh_unconditionally(self) -> None:
        """Reload + drop pooled readers/caches WITHOUT the mtime gate.
        Mutations this session performed itself (write/bulkload/optimize/
        replace) must call this, not _refresh_if_stale: on a coarse-mtime
        filesystem (the 1s-granularity hazard delete() and the cursor
        stamps already defend against) a manifest rewritten within the
        same tick looks unchanged, and the mtime-gated path would keep
        serving the pre-mutation manifest, pool, and result cache."""
        self._load_manifest()
        self.pool.reset()
        self._df_memo.clear()
        self._result_cache.clear()

    def _tomb_stamp(self) -> float:
        """Tombstone-file mtime — part of every result-cache key, so a
        delete issued by ANY process (not just this server) invalidates
        cached results without a manifest bump."""
        from jvector_spark.plans.merge import TOMBSTONES_FILE

        try:
            return os.path.getmtime(
                os.path.join(self.index_dir, TOMBSTONES_FILE))
        except OSError:
            return 0.0

    def _idfs(self, terms: list[str]) -> dict[str, float]:
        missing = [t for t in terms if t not in self._df_memo]
        if missing:
            self._df_memo.update(
                global_term_stats(self.spark, self.index_dir, missing,
                                  self.manifest))
            for t in missing:  # OOV terms memoize as absent (df lookup ran)
                self._df_memo.setdefault(t, 0)
        return idf_map(
            self.manifest["n_docs"],
            {t: df for t in terms if (df := self._df_memo.get(t, 0)) > 0},
        )

    def _tombstones(self):
        """The sorted delete array pinned to this session's manifest
        snapshot (the epoch rule of plans.merge.tombstone_view); re-read
        per request, since a delete bumps no manifest."""
        from jvector_spark.plans.merge import tombstone_view

        return tombstone_view(
            self.index_dir, epoch=self.manifest.get("docid_epoch", 0))

    def phrase(self, queries: pd.DataFrame) -> pd.DataFrame:
        """Exact phrase queries over the warm index: queries(qid,
        phrase:str, k) -> (qid, rank, docid, n_matches). Local mode runs
        phrase_partial over the POOLED readers and caches (positions
        decode once per segment generation, zero Spark jobs); spark mode
        delegates to
        phrase_search(merge="driver")."""
        from jvector_spark.functions.tokenizer import tokenize_series
        from jvector_spark.operators.phrase import (
            phrase_partial, phrase_search)
        from jvector_spark.operators.wand import _rank_topk, open_segments

        self._refresh_if_stale()
        self.requests_served += 1
        if not self.manifest.get("has_positions"):
            raise ValueError("index lacks positional payloads "
                             "(build with positions=True)")
        if self.mode == "spark":
            return phrase_search(self.spark, self.index_dir, queries,
                                 merge="driver")
        qp = queries.copy()
        qp["terms"] = tokenize_series(qp["phrase"].astype(str),
                                      self.manifest["tokenizer_mode"])
        probe = sorted({t for ts in qp["terms"] for t in ts})
        segments = open_segments(
            [s["path"] for s in self.manifest["segments"]],
            self._tombstones(), probe, pool=self.pool, positions=True)
        return _rank_topk(phrase_partial(segments, qp), "n_matches")

    def delete(self, docids: list[int]) -> dict:
        """Phase-1 delete through the warm session (tombstones visible to
        the very next request — the loop re-reads them per search)."""
        from jvector_spark.plans.merge import mark_deleted

        self.requests_served += 1
        tomb = mark_deleted(self.index_dir, [int(d) for d in docids])
        # explicit invalidation, as documented at __init__: the tombstone
        # mtime in the cache key is only a defense against EXTERNAL
        # writers — on coarse-mtime filesystems a delete + repeat search
        # within one tick would otherwise serve the deleted doc
        self._result_cache.clear()
        self._mutation_gen += 1
        return {"tombstones": len(tomb)}

    def replace(self, docs: list[dict], **kw) -> dict:
        """2-phase upsert through the warm session (plans.merge
        .replace_docs); the manifest bump triggers the pool refresh on
        the next request, so new segments serve immediately."""
        from jvector_spark.plans.merge import replace_docs

        self.requests_served += 1
        out = replace_docs(
            self.spark, self.index_dir,
            self.spark.createDataFrame(pd.DataFrame(docs)), **kw)
        self._mutation_gen += 1
        self._manifest_gen += 1
        self._refresh_unconditionally()
        return out

    def create(self, index_dir: str | None = None, mode: str = "code",
               positions: bool = False,
               key_cols: tuple[str, ...] = ("repo", "path", "commit"),
               content_col: str = "content") -> dict:
        """(Re)initialize the session's index EMPTY and point the session
        at it — the protocol's CREATE resets a session for a fresh load
        ('to reset call CREATE again', IPCService.java:130). Pooled
        readers and caches drop; the vector pool (a separate table) stays."""
        self.requests_served += 1
        target = index_dir or self.index_dir
        create_index(target, mode=mode, positions=positions,
                     key_cols=tuple(key_cols), content_col=content_col)
        self.index_dir = target
        self.pool.reset()
        self._df_memo.clear()
        self._result_cache.clear()
        self._cursors.clear()  # old-index cursors are meaningless now
        self._mutation_gen += 1
        self._manifest_gen += 1
        self._load_manifest()
        return {"index_dir": target, "tokenizer_mode": mode,
                "positions": bool(positions)}

    def write(self, docs: list[dict], batch_id: int | None = None) -> dict:
        """Incremental indexing through the warm session — the protocol's
        WRITE (IPCService.java:82: vectors stream into the open session).
        Docs append as a micro-segment under the index's OWN config
        (analyzer / positions / keys from index_config, never hardcoded);
        doc-granular idempotence means a redelivered row is indexed once."""
        from jvector_spark.plans.merge import index_config
        from jvector_spark.streaming.micro_segments import (
            append_micro_segment)

        self.requests_served += 1
        # refresh BEFORE validating/counting: multi-process serving is
        # supported, and a stale in-memory manifest would make the
        # before/written numbers lie after an external append
        self._refresh_if_stale()
        cfg = index_config(self.index_dir)
        before = int(self.manifest["n_docs"])
        append_micro_segment(
            self.spark.createDataFrame(pd.DataFrame(docs)),
            batch_id if batch_id is not None else self.requests_served,
            self.index_dir, mode=cfg["tokenizer_mode"],
            content_col=cfg["content_col"], key_cols=cfg["key_cols"],
            positions=cfg["has_positions"])
        self._mutation_gen += 1
        self._manifest_gen += 1
        self._refresh_unconditionally()
        return {"n_docs": int(self.manifest["n_docs"]),
                "written": int(self.manifest["n_docs"]) - before,
                "n_segments": len(self.manifest["segments"])}

    def bulkload(self, path: str, num_segments: int | None = None) -> dict:
        """Bulk-build the session's index from a parquet path — the
        protocol's BULKLOAD (IPCService.java:83 'BULKLOAD /path/to/local/
        file'). Only valid on an empty (just-CREATEd) session, mirroring
        the reference's write-vs-bulkload session split
        (IPCService.java:130): to reload, CREATE again first."""
        from jvector_spark.operators.ids import (
            assign_dense_docids, release_docid_source)
        from jvector_spark.plans.merge import index_config
        from jvector_spark.sources.segment import build_index

        self.requests_served += 1
        # refresh BEFORE the emptiness guard: an external process may
        # have appended since this session loaded its manifest — a stale
        # n_docs=0 would let bulkload re-issue docids from 0 over the
        # external segments and clobber their manifest
        self._refresh_if_stale()
        if int(self.manifest["n_docs"]) > 0:
            raise ValueError(
                "bulkload requires an empty index — CREATE again to reset")
        cfg = index_config(self.index_dir)
        docs = self.spark.read.parquet(path)
        with_ids = assign_dense_docids(
            docs, key_cols=cfg["key_cols"],
            num_partitions=num_segments)
        try:
            build_index(
                with_ids, self.index_dir, mode=cfg["tokenizer_mode"],
                num_segments=num_segments, content_col=cfg["content_col"],
                key_cols=cfg["key_cols"], positions=cfg["has_positions"],
                assume_partitioned=True)
        finally:
            # the warm session lives on: don't leave the bulkloaded
            # corpus pinned in executor cache next to the serving pools
            release_docid_source(with_ids)
        self._mutation_gen += 1
        self._manifest_gen += 1
        self._refresh_unconditionally()
        return {"n_docs": int(self.manifest["n_docs"]),
                "n_segments": len(self.manifest["segments"])}

    def optimize(self, vacuum_min_age_sec: float = 600.0) -> dict:
        """Refine the session's index in place — the protocol's OPTIMIZE
        (IPCService.java:84 'run once finished writing'): micro-segments
        fold, codecs upgrade, block metadata refreshes; the atomic
        generation flip means searches keep serving throughout.

        `vacuum_min_age_sec` keeps optimize_index's reader grace period:
        the module explicitly supports other PROCESSES serving the same
        index (a delete by any process invalidates caches), and an
        immediate vacuum (0.0) would rmtree superseded segment dirs out
        from under a peer mid-request on its pre-flip manifest snapshot.
        Pass 0.0 only when this session is provably the only reader."""
        from jvector_spark.plans.merge import optimize_index

        self.requests_served += 1
        before = len(self.manifest["segments"])
        optimize_index(self.spark, self.index_dir,
                       vacuum_min_age_sec=vacuum_min_age_sec)
        self._mutation_gen += 1
        self._manifest_gen += 1
        self._refresh_unconditionally()
        return {"segments_before": before,
                "n_segments": len(self.manifest["segments"]),
                "n_docs": int(self.manifest["n_docs"])}

    def memory(self) -> dict:
        """Usage report in KiB — the protocol's MEMORY (IPCService.java:
        86). Splits resident process memory from the index's on-disk
        postings bytes and the (optional) resident vector matrix."""
        self.requests_served += 1
        try:
            import resource

            rss_kb = int(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
        except (ImportError, ValueError):  # pragma: no cover - non-posix
            rss_kb = -1
        vec_kb = 0
        if self.vectors is not None:
            v = self.vectors
            if v.quantize == "nvq":
                resident = v._codes.nbytes + v._vmin.nbytes + v._delta.nbytes
            elif v.quantize == "pq":
                resident = v._codes.nbytes + v._books.nbytes
            else:
                resident = v.mat.nbytes
            if v.centroids is not None:
                # IVF tier: centroid matrix + assignment + cell lists
                resident += (v.centroids.nbytes + v.assign.nbytes
                             + sum(c.nbytes for c in v.cells))
            if v._graph is not None:
                resident += sum(
                    members.nbytes + seeds.nbytes
                    + sum(a.nbytes for a in nbrs)
                    for members, nbrs, seeds in v._graph)
            if v._hier is not None:
                # upper-layer adjacency maps (graph_hier)
                for h in v._hier:
                    if h is None:
                        continue
                    amap, _entry, _top = h
                    resident += sum(
                        a.nbytes for lvl in amap.values()
                        for a in lvl.values())
            if v._fused is not None:
                # fused neighborhoods duplicate ~R codes/node by design
                resident += sum(
                    sum(a.nbytes for a in fz.values())
                    for fz in v._fused if fz is not None)
            vec_kb = (resident + v.ids.nbytes + v.norms.nbytes) // 1024
        return {
            "rss_kb": rss_kb,
            "index_postings_kb": int(self.manifest["metrics"]
                                     .get("bytes_postings", 0)) // 1024,
            "vector_matrix_kb": int(vec_kb),
            "pooled_readers": len(self.pool.readers),
            "result_cache_entries": len(self._result_cache),
        }

    def suggest(self, queries: dict[int, tuple[str, int]],
                n: int = 5) -> pd.DataFrame:
        """Spell suggestion over the warm index (fuzzy.suggest_terms):
        {qid: (term, max_dist)} -> (qid, rank, term, dist, df). Pure
        hot-tier work — zero Spark jobs in either serve mode."""
        from jvector_spark.operators.fuzzy import suggest_terms

        self._refresh_if_stale()
        self.requests_served += 1
        return suggest_terms(self.index_dir, queries, n=n)

    def search(self, queries: pd.DataFrame, doc_filter: dict | None = None,
               min_score: float = 0.0, mode: str = "or",
               exclude: dict | None = None) -> pd.DataFrame:
        """queries(qid, terms, k) -> (qid, rank, docid, score) pandas —
        rank-identical to wand.search_index on the same index.
        `exclude` ({qid: [docids]}) is the per-query self-exclusion mask
        (more-like-this style requests). Results memoize in a bounded
        generation-scoped LRU (repeat requests are free; any index
        mutation — manifest bump or tombstone write, from ANY process —
        invalidates)."""
        self._refresh_if_stale()
        self.requests_served += 1
        key = (
            tuple((int(q.qid), tuple(q.terms), int(q.k))
                  for q in queries.itertuples()),
            _filter_cache_key(doc_filter), float(min_score), mode,
            tuple(sorted((int(q), tuple(int(x) for x in np.asarray(d)))
                         for q, d in (exclude or {}).items())),
            self._tomb_stamp(),
        )
        hit = self._result_cache.get(key)
        if hit is not None:
            self._result_cache.move_to_end(key)
            self.cache_hits += 1
            return hit.copy()
        out = self._execute(queries, doc_filter, min_score, mode, exclude)
        self._result_cache[key] = out
        self._result_cache.move_to_end(key)
        while len(self._result_cache) > self.result_cache_cap:
            self._result_cache.popitem(last=False)
        return out.copy()

    def _execute(self, queries: pd.DataFrame, doc_filter: dict | None,
                 min_score: float, mode: str, exclude: dict | None,
                 after: dict | None = None) -> pd.DataFrame:
        """The raw (uncached) scoring run — every call does real posting
        work, counted in `search_executions` (the observability hook the
        resume tests use to prove buffered pages cost zero scoring)."""
        self.search_executions += 1
        if self.mode == "spark":
            return search_index(self.spark, self.index_dir, queries,
                                exclude=exclude, after=after,
                                doc_filter=doc_filter, min_score=min_score,
                                merge="driver", mode=mode)
        seg_paths = [s["path"] for s in self.manifest["segments"]]
        all_terms = sorted({t for ts in queries["terms"] for t in ts})
        idfs = self._idfs(all_terms)
        out = search_partition(
            seg_paths, queries[["qid", "terms", "k"]], idfs,
            self.manifest["avgdl"], self._tombstones(), doc_filter, min_score,
            mode=mode, pool=self.pool, exclude=exclude, after=after,
        )
        # search_partition's _TopK output is already globally merged
        # and rank-ordered (score desc, docid asc) per query
        out["rank"] = out.groupby("qid").cumcount().astype("int32")
        return out[["qid", "rank", "docid", "score"]]

    # -- stateful resume (saved-candidate pagination) ---------------------

    def search_cursor(self, queries: pd.DataFrame,
                      doc_filter: dict | None = None,
                      min_score: float = 0.0, mode: str = "or",
                      exclude: dict | None = None,
                      overfetch: int = 4) -> tuple[str, pd.DataFrame]:
        """Open a stateful cursor: page 1 returns immediately, and the
        over-fetched SURVIVING candidates are saved so subsequent
        :meth:`resume` pages are served from state instead of re-scoring
        postings — the reference's resume()-with-saved-eviction-state
        (GraphSearcher.java:503-541 restarts from the previous pass's
        candidate queue + evicted results; NodeQueue rerank state,
        NodeQueue.java:160-230). Exactness contract: every page is
        identical to a stateless after-cursor re-run at that offset; a
        drained buffer (or any index mutation — manifest generation or
        tombstone write) transparently refills with a real run."""
        self.requests_served += 1
        cur_id = f"c{self._cursor_seq}"
        self._cursor_seq += 1
        opts = {"doc_filter": doc_filter, "min_score": float(min_score),
                "mode": mode, "exclude": exclude,
                "overfetch": max(2, int(overfetch))}
        cur = {
            "queries": queries[["qid", "terms", "k"]].reset_index(drop=True),
            "opts": opts,
            # per qid: pending (docid, score) arrays not yet returned,
            # (score, docid) of the last row handed out, exhausted flag,
            # and total rows handed out (the OFFSET fallback after a
            # manifest-class mutation invalidates the score cursor)
            "pending": {}, "last": {}, "done": {}, "served": {},
            "stamp": self._cursor_stamp(),
        }
        self._cursors[cur_id] = cur
        page = self._cursor_page(cur, first=True)
        return cur_id, page

    def resume(self, cursor_id: str) -> pd.DataFrame:
        """Next page for an open cursor (same per-query k). Buffered pages
        do ZERO posting scoring (`cursor_pages_buffered` counts them);
        refills and mutation-invalidated pages re-run for real."""
        self.requests_served += 1
        cur = self._cursors.get(cursor_id)
        if cur is None:
            raise KeyError(f"unknown cursor {cursor_id!r}")
        return self._cursor_page(cur, first=False)

    def cursor_close(self, cursor_id: str) -> bool:
        return self._cursors.pop(cursor_id, None) is not None

    def _cursor_stamp(self) -> tuple:
        """(manifest mtime, manifest gen, tombstone mtime, mutation gen).
        The first two identify manifest-class mutations (append/compact/
        optimize/bulkload — docids may renumber and BM25 stats shift); the
        last two catch ANY mutation, including same-mtime-tick in-process
        deletes the filesystem timestamps are too coarse to show."""
        return (self._manifest_mtime, self._manifest_gen,
                self._tomb_stamp(), self._mutation_gen)

    def _cursor_page(self, cur: dict, first: bool) -> pd.DataFrame:
        self._refresh_if_stale()
        stamp = self._cursor_stamp()
        if stamp != cur["stamp"]:
            # index mutated under the cursor: saved candidates may contain
            # deleted docs or miss new ones — drop state, refill live
            cur["pending"].clear()
            cur["done"].clear()
            if stamp[:2] != cur["stamp"][:2]:
                # manifest-class mutation: docids may be renumbered and
                # every BM25 score rescaled (n_docs/avgdl moved), so the
                # saved (score, docid) cursor no longer addresses the same
                # point — continue by OFFSET under the new index instead
                # (skip the rows already handed out, by count)
                cur["last"].clear()
            cur["stamp"] = stamp
        qdf = cur["queries"]
        opts = cur["opts"]
        need = {}  # qid -> k still to serve from a refill
        for q in qdf.itertuples():
            qid, k = int(q.qid), int(q.k)
            pend = cur["pending"].get(qid)
            have = 0 if pend is None else len(pend[0])
            if have < k and not cur["done"].get(qid, False):
                need[qid] = k
        if need:
            if not first:
                self.cursor_refills += 1
            # offset mode per qid: no saved cursor but rows already served
            # (only after a manifest-class mutation) — fetch offset+k·over
            # rows from the top and drop the first `offset`
            skips = {qid: (0 if qid in cur["last"]
                           else int(cur["served"].get(qid, 0)))
                     for qid in need}
            fetch = qdf[qdf["qid"].isin(list(need))].copy()
            fetch["k"] = fetch["qid"].map(
                lambda q: need[int(q)] * opts["overfetch"] + skips[int(q)]
            ).astype(fetch["k"].dtype)
            after = {qid: cur["last"][qid] for qid in need
                     if qid in cur["last"]}
            res = self._execute(fetch, opts["doc_filter"],
                                opts["min_score"], opts["mode"],
                                opts["exclude"], after=after or None)
            for q in fetch.itertuples():
                qid = int(q.qid)
                sub = res[res["qid"] == qid]
                # fewer rows than asked = the index has no more results
                cur["done"][qid] = len(sub) < int(q.k)
                skip = skips[qid]
                cur["pending"][qid] = (
                    sub["docid"].to_numpy(np.int64)[skip:],
                    sub["score"].to_numpy(np.float64)[skip:])
        elif not first:
            self.cursor_pages_buffered += 1
        outs = []
        for q in qdf.itertuples():
            qid, k = int(q.qid), int(q.k)
            d, s = cur["pending"].get(qid, (np.zeros(0, np.int64),
                                            np.zeros(0, np.float64)))
            page_d, page_s = d[:k], s[:k]
            cur["pending"][qid] = (d[k:], s[k:])
            if len(page_d):
                cur["last"][qid] = (float(page_s[-1]), int(page_d[-1]))
                cur["served"][qid] = (
                    cur["served"].get(qid, 0) + len(page_d))
                outs.append(pd.DataFrame({
                    "qid": np.int64(qid),
                    "rank": np.arange(len(page_d), dtype=np.int32),
                    "docid": page_d, "score": page_s}))
        from jvector_spark.operators.wand import _empty_result

        return (pd.concat(outs, ignore_index=True) if outs else
                _empty_result("score"))

    def stats(self) -> dict:
        return {
            "index_dir": self.index_dir,
            "mode": self.mode,
            "n_docs": int(self.manifest["n_docs"]),
            "n_segments": len(self.manifest["segments"]),
            "docid_epoch": int(self.manifest.get("docid_epoch", 0)),
            "pooled_readers": len(self.pool.readers),
            "requests_served": self.requests_served,
            "result_cache_entries": len(self._result_cache),
            "result_cache_hits": self.cache_hits,
            "open_cursors": len(self._cursors),
            "search_executions": self.search_executions,
            "cursor_pages_buffered": self.cursor_pages_buffered,
            "cursor_refills": self.cursor_refills,
        }


def serve_loop(server: IndexServer, in_stream: IO[str],
               out_stream: IO[str]) -> int:
    """JSON-lines request loop (the IPCService line protocol analog).

    Requests (one JSON object per line):
      {"op": "search", "queries": [{"qid": 0, "terms": [...], "k": 10}, ...],
       "doc_filter": {...}?, "min_score": 0.0?, "mode": "or"?,
       "exclude": {"0": [docid, ...]}?}
      {"op": "search", ..., "cursor": true, "overfetch": 4?}  # stateful page 1
      {"op": "resume", "cursor_id": "c0"}             # next page from state
      {"op": "cursor_close", "cursor_id": "c0"}
      {"op": "phrase", "queries": [{"qid": 0, "phrase": "...", "k": 10}, ...]}
      {"op": "knn", "queries": [[...vec...], ...], "k": 10?, "nprobe": N?,
       "threshold": T?,  # score>=T filter + probabilistic beam stop
       "ef": E?}  # ef + a graph-enabled pool = beam-searched cells
      {"op": "delete", "docids": [3, 17, ...]}
      {"op": "replace", "docs": [{...row...}, ...]}   # 2-phase upsert
      {"op": "create", "index": "/path"?, "mode": "code"?,
       "positions": false?, "key_cols": [...]?, "content_col": "..."?}
      {"op": "write", "docs": [{...row...}, ...]}     # incremental append
      {"op": "bulkload", "path": "/path/to/parquet", "segments": N?}
      {"op": "optimize"}
      {"op": "memory"}
      {"op": "suggest", "queries": {"0": ["spak", 1], ...}, "n": 5?}
      {"op": "stats"}
      {"op": "ping"}
      {"op": "quit"}
    Responses: one JSON line each — {"ok": true, "results": [...]} for
    search (rows as {qid, rank, docid, score}) and suggest (rows as
    {qid, rank, term, dist, df}), {"ok": true, ...} for stats/ping,
    {"ok": false, "error": "..."} on a bad request (the loop keeps
    serving). Returns the number of requests handled.
    """
    handled = 0
    for line in in_stream:
        line = line.strip()
        if not line:
            continue
        handled += 1
        try:
            req = json.loads(line)
            op = req.get("op")
            if op == "quit":
                out_stream.write(json.dumps({"ok": True, "bye": True}) + "\n")
                out_stream.flush()
                break
            if op == "ping":
                resp = {"ok": True, "pong": True}
            elif op == "stats":
                resp = {"ok": True, **server.stats()}
            elif op == "search":
                qpdf = pd.DataFrame(req["queries"])
                excl = req.get("exclude")
                if excl:
                    excl = {int(q): np.asarray(d, dtype=np.int64)
                            for q, d in excl.items()}
                kw = dict(
                    doc_filter=req.get("doc_filter"),
                    min_score=float(req.get("min_score", 0.0)),
                    mode=req.get("mode", "or"),
                    exclude=excl,
                )
                if req.get("cursor"):
                    cid, res = server.search_cursor(
                        qpdf, overfetch=int(req.get("overfetch", 4)), **kw)
                    resp = {"ok": True, "cursor_id": cid,
                            "results": res.to_dict("records")}
                else:
                    res = server.search(qpdf, **kw)
                    resp = {"ok": True, "results": res.to_dict("records")}
            elif op == "resume":
                res = server.resume(req["cursor_id"])
                resp = {"ok": True, "results": res.to_dict("records"),
                        "exhausted": len(res) == 0}
            elif op == "cursor_close":
                resp = {"ok": True,
                        "closed": server.cursor_close(req["cursor_id"])}
            elif op == "phrase":
                res = server.phrase(pd.DataFrame(req["queries"]))
                resp = {"ok": True, "results": res.to_dict("records")}
            elif op == "knn":
                # `is not None`, not falsy: nprobe=0 / ef=0 are invalid
                # requests and must be rejected downstream, not silently
                # aliased to the default (None = most-expensive full scan)
                npb = req.get("nprobe")
                efq = req.get("ef")
                thr = req.get("threshold")
                res = server.knn(req["queries"], k=int(req.get("k", 10)),
                                 nprobe=(int(npb) if npb is not None
                                         else None),
                                 ef=int(efq) if efq is not None else None,
                                 threshold=(float(thr)
                                            if thr is not None else None))
                resp = {"ok": True, "results": res.to_dict("records")}
            elif op == "delete":
                resp = {"ok": True, **server.delete(req["docids"])}
            elif op == "replace":
                resp = {"ok": True, **server.replace(req["docs"])}
            elif op == "create":
                resp = {"ok": True, **server.create(
                    req.get("index"),
                    mode=req.get("mode", "code"),
                    positions=bool(req.get("positions", False)),
                    key_cols=tuple(req.get(
                        "key_cols", ("repo", "path", "commit"))),
                    content_col=req.get("content_col", "content"))}
            elif op == "write":
                resp = {"ok": True, **server.write(req["docs"])}
            elif op == "bulkload":
                # is-not-None, like nprobe/ef above: segments=0 is an
                # invalid request that must be rejected downstream, not
                # silently aliased to auto-sizing
                seg = req.get("segments")
                resp = {"ok": True, **server.bulkload(
                    req["path"],
                    num_segments=int(seg) if seg is not None else None)}
            elif op == "optimize":
                resp = {"ok": True, **server.optimize()}
            elif op == "memory":
                resp = {"ok": True, **server.memory()}
            elif op == "suggest":
                res = server.suggest(
                    {int(q): (str(t), int(d))
                     for q, (t, d) in req["queries"].items()},
                    n=int(req.get("n", 5)),
                )
                resp = {"ok": True, "results": res.to_dict("records")}
            else:
                resp = {"ok": False, "error": f"unknown op {op!r}"}
        except Exception as e:  # bad request must not kill the session
            resp = {"ok": False, "error": f"{type(e).__name__}: {e}"}
        out_stream.write(json.dumps(resp) + "\n")
        out_stream.flush()
    return handled
