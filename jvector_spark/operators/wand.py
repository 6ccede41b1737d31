"""Block-max pruned top-k BM25 over segments (the GraphSearcher analog).

Reference mapping (SURVEY §3):
  * GraphSearcher beam search with bounded NodeQueue k-heap + early
    termination (GraphSearcher.searchOneLayer:387-451, stopSearch:340-351,
    NodeQueue.java:42-101) -> MaxScore/block-max pruned term-at-a-time
    scoring with a bounded per-query top-k and threshold θ.
  * Two-phase approx+rerank (reranking:465-501) -> block-max upper bounds
    (cheap, metadata-only) decide which docs become candidates and which
    segments are skipped; exact BM25 scores the candidates.
  * Multi-index combine with rerankFloor (GraphSearcher.java:368-385) ->
    θ propagates across segments scored sequentially in one task; the global
    merge is a partial-top-k union (a task's top-k is a superset of its
    segments' contribution to the global top-k). One collector,
    topk_partial, keeps that per-task heap for every ranked index operator.
  * Tie-break contract (SearchResult.NodeScore.compareTo:101-106):
    score desc, docid asc — enforced via lexsort everywhere.

Exactness: pruning never changes results. A doc is only skipped when the sum
of block-max upper bounds of every term it could contain is STRICTLY below
θ (the current kth score), so it cannot enter the top-k even on a tie.
Scores accumulate in canonical sorted-term order in float64 — bit-identical
to the brute-force oracle.

All inner loops are numpy-vectorized; Python iterates only over query terms
(<=5) and segments.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Iterator, NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jvector_spark import B, K1
from jvector_spark.sources.segment import (
    SegmentReader,
    block_meta_bounds,
    bloom_may_contain,
    load_manifest,
    load_term_bloom,
)


def idf_map(n_docs: int, df_by_term: dict[str, int]) -> dict[str, float]:
    """Lucene-flavor idf per term (same constants as the oracle)."""
    return {
        t: float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
        for t, df in df_by_term.items()
    }


def global_term_stats(
    spark: SparkSession, index_dir: str, terms: list[str],
    manifest: dict | None = None,
) -> dict[str, int]:
    """Global df for the query terms over `manifest`'s segments (default:
    the live manifest). Scorers pass their IndexSnapshot's, so df, n_docs
    and avgdl all come from one write.

    Fast path: one driver-side pyarrow read of the index's hot-tier
    term_stats.parquet (written at build/compaction — the in-memory upper
    layer analog, OnDiskGraphIndex.java:83-84) while `manifest` records
    its sha. Fallback otherwise: distributed aggregation over the
    manifest's dictionaries (term-filtered parquet scan, row-group pruned).
    """
    from jvector_spark.sources.segment import read_global_term_stats

    fast = read_global_term_stats(index_dir, list(terms), manifest)
    if fast is not None:
        return fast
    # enumerate the MANIFEST's segments, never a `seg-*` glob: a glob
    # also matches seg-*.tmp staging dirs (write_segment stages
    # terms.parquet there first) and crashed/unpublished orphan segments,
    # double-counting their df and silently skewing idf vs the
    # manifest's n_docs
    if manifest is None:
        manifest = load_manifest(index_dir)
    dict_paths = [os.path.join(s["path"], "terms.parquet")
                  for s in manifest["segments"]]
    if not dict_paths:
        return {}
    rows = (
        spark.read.parquet(*dict_paths)
        .where(F.col("term").isin(list(terms)))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}


from pyspark.accumulators import AccumulatorParam


class _MetricsParam(AccumulatorParam):
    """AccumulatorParam for per-PARTITION {pid: {qid: counters}} maps.
    Each partition's entry REPLACES any previous one, so task retries,
    speculative attempts, and re-materializations of the result DataFrame
    cannot double-count (accumulators in transformations are at-least-
    once; replacement makes the per-partition contribution idempotent).
    The accumulation analog of the reference's per-search visited/expanded
    counters (GraphSearcher.java:67-69,93-103; SearchResult.java:27-31)."""

    def zero(self, value):
        return {}

    def addInPlace(self, a: dict, b: dict) -> dict:
        a.update(b)  # partition-keyed: last attempt wins
        return a


def make_metrics_accumulator(spark: SparkSession):
    """Create a per-query search-metrics accumulator to pass as
    search_index(metrics_acc=...). Read via read_metrics(acc) AFTER the
    result DataFrame is materialized (Spark accumulator semantics)."""
    return spark.sparkContext.accumulator({}, _MetricsParam())


def read_metrics(acc) -> dict:
    """{qid: counters} summed across partitions from a metrics
    accumulator (each partition contributed exactly once)."""
    out: dict = {}
    for counters_by_qid in acc.value.values():
        for qid, counters in counters_by_qid.items():
            dst = out.setdefault(qid, {})
            for k, v in counters.items():
                dst[k] = dst.get(k, 0) + v
    return out


def scatter_paths(spark: SparkSession, seg_paths: list[str],
                  num_tasks: int | None) -> DataFrame:
    """Segment paths -> a small `path string` DataFrame in num_tasks
    contiguous partitions (spark.range splits at i*n/num_tasks; no
    repartition shuffle). Shared by every index-scatter operator
    (BM25/phrase/regex). The source runs in the JVM: the paths travel as
    one JSON literal that Spark folds once, so no Python worker hosts the
    scan beside the operator's own."""
    if num_tasks is None:
        num_tasks = min(len(seg_paths),
                        int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    num_tasks = max(1, num_tasks)
    paths = F.from_json(F.lit(json.dumps(seg_paths)), "array<string>")
    return spark.range(0, len(seg_paths), 1, num_tasks).select(
        F.element_at(paths, (F.col("id") + 1).cast("int")).alias("path"))


def _empty_result(value_col: str) -> pd.DataFrame:
    return pd.DataFrame({
        "qid": pd.Series([], dtype="int64"),
        "rank": pd.Series([], dtype="int32"),
        "docid": pd.Series([], dtype="int64"),
        value_col: pd.Series(
            [], dtype="float64" if value_col == "score" else "int64"),
    })


def _rank_topk(pdf: pd.DataFrame, value_col: str) -> pd.DataFrame:
    """Driver-side global top-k of partial rows (qid, docid, value, k):
    one numpy lexsort (qid, value desc, docid asc), cut at each row's own
    k."""
    if not len(pdf):
        return _empty_result(value_col)
    q = pdf["qid"].to_numpy(np.int64)
    d = pdf["docid"].to_numpy(np.int64)
    v = pdf[value_col].to_numpy()
    order = np.lexsort((d, -v, q))
    q, d, v = q[order], d[order], v[order]
    rank = np.arange(len(q)) - np.searchsorted(q, q)
    keep = rank < pdf["k"].to_numpy(np.int64)[order]
    return pd.DataFrame({"qid": q[keep], "rank": rank[keep].astype(np.int32),
                         "docid": d[keep], value_col: v[keep]})


def merge_topk(
    partial: DataFrame,
    value_col: str = "score",
    merge: str = "spark",
) -> DataFrame | pd.DataFrame:
    """Global top-k merge of per-task partial rows (qid, docid, value, k):
    rank by value desc, docid asc, cut at each query's k. merge="spark"
    is a lazy window (composable); merge="driver" collects the bounded
    partial rows and merges with one numpy lexsort — the caller-thread
    multi-index combine (GraphSearcher.java:368-385)."""
    if merge == "driver":
        return _rank_topk(partial.toPandas(), value_col)
    w = Window.partitionBy("qid").orderBy(F.desc(value_col), F.asc("docid"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("k"))
        .select("qid", (F.col("rn") - 1).cast("int").alias("rank"),
                "docid", value_col)
    )


def empty_topk(spark: SparkSession, value_col: str,
               merge: str) -> DataFrame | pd.DataFrame:
    """A valid empty result in either merge mode (zero-segment indexes —
    e.g. after an everything-tombstoned compaction — are legal)."""
    pdf = _empty_result(value_col)
    if merge == "driver":
        return pdf
    typ = "double" if value_col == "score" else "long"
    return spark.createDataFrame(
        pdf, f"qid long, rank int, docid long, {value_col} {typ}")


class Segment(NamedTuple):
    """One opened segment as an index-scatter kernel sees it."""

    path: str
    reader: SegmentReader
    tombstones: np.ndarray  # this segment's deleted docids (sorted int64)
    accept: np.ndarray | None  # doc_filter bitmap; None = no filter
    cache: dict  # per-segment scratch (pooled: lives for the generation)


def open_segments(
    paths: Iterable[str],
    tombstones: np.ndarray | None = None,
    probe: Sequence[str] = (),
    doc_filter: dict | None = None,
    pool: "SearcherPool | None" = None,
    positions: bool = False,
    reader_cls=SegmentReader,
) -> Iterator[Segment]:
    """The per-segment open sequence of every index-scatter operator.

    Yields each segment of `paths` (consumed lazily, in order) that can
    match, skipping:
      * segments whose term bloom rejects EVERY `probe` term (the BQ
        1-bit sketch analog: the dictionary never opens; FP-safe — an
        absent or corrupt bloom.bin never skips). `probe` must hold every
        term a match needs at least one of; empty disables the skip.
      * with `positions`, segments built without positional payloads.
    `tombstones` is the index's sorted int64 delete list
    (plans.merge.tombstone_view); each segment gets the slice inside its
    own [min_docid, max_docid], so its live() filter costs in proportion
    to its own deletes. The doc_filter bitmap (acceptOrds) is memoized in
    the segment cache under the filter's canonical key; with a `pool`,
    readers, blooms and caches (so the bitmap too) persist across
    calls."""
    tomb = np.asarray([] if tombstones is None else tombstones, np.int64)
    fkey = ("accept", _filter_key(doc_filter)) if doc_filter else None
    for path in paths:
        bloom = pool.bloom(path) if pool is not None else load_term_bloom(path)
        if bloom is not None and probe and not any(
            bloom_may_contain(bloom, t) for t in probe
        ):
            continue
        if pool is not None:
            reader, cache = pool.reader(path), pool.cache(path)
        else:
            reader, cache = reader_cls(path), {}
        if positions and not reader.has_positions:
            continue
        accept = None
        if fkey is not None:
            accept = cache.get(fkey)
            if accept is None:
                accept = cache[fkey] = reader.accepted_docids(doc_filter)
        lo, hi = np.searchsorted(
            tomb, (reader.meta["min_docid"], reader.meta["max_docid"] + 1))
        yield Segment(path, reader, tomb[lo:hi], accept, cache)


class IndexSnapshot:
    """One read of an index manifest plus the tombstone view pinned to
    that manifest's docid epoch, scattered over Spark tasks. Shared by
    every index-scatter operator, so none of them re-derives the epoch
    rule of plans.merge.tombstone_view: the deletes always match the
    segment list being scored, even across a concurrent compaction.
    The delete list ships in the task closure as one sorted array (pyspark
    broadcasts a closure past 1 MiB), and open_segments cuts it to each
    segment's docid range."""

    def __init__(self, index_dir: str) -> None:
        # late bind: the traced benchmark run wraps the module attribute
        from jvector_spark.plans.merge import tombstone_view

        self.manifest = load_manifest(index_dir)
        self.paths = [s["path"] for s in self.manifest["segments"]]
        self.tombstones = tombstone_view(
            index_dir, epoch=self.manifest.get("docid_epoch", 0))

    def scatter(self, spark: SparkSession, kernel, payload, schema: str,
                num_tasks: int | None = None) -> DataFrame:
        """Partial rows (`schema`) of kernel(paths, tombstones, payload)
        -> Iterator[pd.DataFrame], run once per task over that task's
        segment paths. `payload` (queries, idfs, ...) is broadcast once.
        A zero-segment index (legal: an everything-tombstoned compaction)
        launches nothing and yields an empty partial."""
        if not self.paths:
            return spark.createDataFrame([], schema)
        b_payload = spark.sparkContext.broadcast(payload)
        tomb = self.tombstones

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            paths = [p for pdf in batches for p in pdf["path"].tolist()]
            if paths:
                yield from kernel(paths, tomb, b_payload.value)

        return scatter_paths(spark, self.paths, num_tasks).mapInPandas(
            run, schema)

    def scatter_topk(self, spark: SparkSession, kernel, payload,
                     value_col: str, merge: str,
                     num_tasks: int | None = None
                     ) -> DataFrame | pd.DataFrame:
        """scatter() of bounded (qid, docid, value_col, k) partials (a
        kernel yields topk_partial frames), then the global merge_topk:
        (qid, rank, docid, value_col)."""
        if not self.paths:
            return empty_topk(spark, value_col, merge)
        typ = "double" if value_col == "score" else "long"
        partial = self.scatter(
            spark, kernel, payload,
            f"qid long, docid long, {value_col} {typ}, k long", num_tasks)
        return merge_topk(partial, value_col, merge)


def _tf_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tf.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))


# --- the per-segment match-and-score core ---------------------------------
# Every index-scatter kernel builds its candidate set and scores it through
# these helpers (the filter-then-verify split): `cache` is the Segment's
# scratch dict, so decodes and contributions are shared by every query of
# a task (and, pooled, of an index generation — idf is fixed per one).


def term_postings(reader: SegmentReader, cache: dict,
                  t: str) -> tuple[np.ndarray, np.ndarray]:
    """Full (docids asc, tfs) of term t, decoded once per segment cache;
    empty for a term the segment does not hold."""
    key = ("full", t)
    if key not in cache:
        cache[key] = (reader.decode_term(t) if reader.has_term(t) else
                      (np.zeros(0, np.int64), np.zeros(0, np.int64)))
    return cache[key]


def term_positions(reader: SegmentReader, cache: dict,
                   t: str) -> tuple[np.ndarray, np.ndarray]:
    """(docid of each occurrence, position) of term t, which the segment
    holds — docid ascending, then position ascending — decoded once per
    segment cache."""
    key = ("pos", t)
    if key not in cache:
        d, tf, pos = reader.decode_term_positions(t)
        cache[key] = (np.repeat(d, tf), pos)
    return cache[key]


def term_contrib(reader: SegmentReader, cache: dict, t: str, idf: float,
                 avgdl: float) -> tuple[np.ndarray, np.ndarray]:
    """(docids, exact BM25 contribution idf·tf_norm) of term t's full
    posting list, scored once per segment cache and shared by every query
    containing t (precomputed-query-table analog, SURVEY §4 row 5)."""
    key = ("contrib", t)
    if key not in cache:
        d, tf = term_postings(reader, cache, t)
        cache[key] = (d, idf * _tf_norm(tf, reader.doclen(d), avgdl))
    return cache[key]


def intersect(lists: Iterable[np.ndarray]) -> np.ndarray:
    """Intersection of sorted unique docid arrays (at least one),
    cheapest-first: the smallest list drives, and an empty partial result
    stops early."""
    cand = None
    for d in sorted(lists, key=len):
        cand = d if cand is None else cand[np.isin(cand, d, assume_unique=True)]
        if not len(cand):
            break
    return cand


def live(cand: np.ndarray, accept: np.ndarray | None,
         tombstones: np.ndarray | None) -> np.ndarray:
    """Sorted unique candidates minus docs outside the doc_filter bitmap
    `accept` (None = no filter) and minus deleted docs — the
    accepted-and-live predicate (Bits.intersectionOf acceptOrds, deletes;
    GraphSearcher.search:202-214), applied before scoring."""
    if accept is not None and len(cand):
        cand = cand[np.isin(cand, accept, assume_unique=True)]
    if tombstones is not None and len(tombstones) and len(cand):
        cand = cand[~np.isin(cand, tombstones)]
    return cand


def accumulate(scores: np.ndarray, cand: np.ndarray, d: np.ndarray,
               c: np.ndarray) -> int:
    """scores[cand == d] += c for one term's postings (d unique, in any
    order; postings outside `cand` are ignored); returns how many matched.
    Callers add terms in canonical sorted order, so every candidate sums
    the same float64 terms in the same order as the oracle."""
    pos = np.searchsorted(cand, d)
    valid = pos < len(cand)
    valid[valid] &= cand[pos[valid]] == d[valid]
    scores[pos[valid]] += c[valid]
    return int(valid.sum())


def topk_after(cand: np.ndarray, scores: np.ndarray, k: int,
               after: tuple[float, int] | None = None
               ) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (docids, scores), score desc then docid asc, of the rows
    strictly after the `after` (score, docid) cursor. The cursor filters
    BEFORE the cut: a segment may hold more than k rows at-or-before the
    cursor, and cutting first would silently drop valid after-cursor
    rows (resume correctness)."""
    if after is not None:
        a_s, a_d = after
        keep = (scores < a_s) | ((scores == a_s) & (cand > a_d))
        cand, scores = cand[keep], scores[keep]
    top = np.lexsort((cand, -scores))[:k]
    return cand[top], scores[top]


def score_query_on_segment(
    reader: SegmentReader,
    terms: list[str],
    idfs: dict[str, float],
    k: int,
    theta: float,
    avgdl: float,
    tombstones: np.ndarray | None = None,
    cache: dict | None = None,
    accept: np.ndarray | None = None,
    stats: dict | None = None,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k (docids, scores) of one query against one segment,
    pruning with block-max bounds against incoming threshold theta.

    `tombstones` (sorted int64) is the Bits-acceptOrds analog
    (GraphSearcher.search:202-214): excluded docids are dropped from the
    candidate set BEFORE scoring, applied inside the search, not post-hoc —
    deletes are visible to queries immediately while stats stay unchanged
    until compaction (2-phase delete, GraphIndexBuilder.java:684-805).

    `cache` (per-segment dict, shared across the queries of one task) holds
    term rows, block upper-bound arrays, and whole-term decodes and
    contributions — the analog of the reference's pooled searcher scratch
    reused across queries (GraphSearcher.java:51-57, ExplicitThreadLocal)."""
    terms = sorted({t for t in terms if t in idfs and reader.has_term(t)})
    if not terms:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    if cache is None:
        cache = {}

    def term_row(t):
        key = ("row", t)
        if key not in cache:
            cache[key] = reader.term_row(t)
        return cache[key]

    rows = {t: term_row(t) for t in terms}
    block_ub: dict[str, np.ndarray] = {}
    term_ub = np.empty(len(terms))
    for i, t in enumerate(terms):
        key = ("ub", t)
        if key not in cache:
            r = rows[t]
            # (max_tf, min_dl) per block — exact, or sound dequantized
            # bounds from an NVQ-quantized dictionary (tf ≥ true max,
            # dl ≤ true min; block_meta_bounds)
            mtf, mdl = block_meta_bounds(r)
            # same code path as the exact score (tf-norm is monotone in tf,
            # anti-monotone in dl, so (max_tf, min_dl) bounds every posting
            # in the block), inflated by 1e-9 relative so float rounding can
            # never put the bound below a real score — pruning must stay
            # sound at ties.
            cache[key] = idfs[t] * _tf_norm(mtf, mdl, avgdl) * (1.0 + 1e-9)
        block_ub[t] = cache[key]
        term_ub[i] = cache[key].max()

    blocks_total = int(sum(len(block_ub[t]) for t in terms))
    total_ub = float(term_ub.sum())
    if total_ub < theta:
        if stats is not None:
            stats["segments_skipped_ub"] = stats.get("segments_skipped_ub", 0) + 1
            stats["blocks_skipped"] = stats.get("blocks_skipped", 0) + blocks_total
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    if stats is not None:
        stats["segments_visited"] = stats.get("segments_visited", 0) + 1
        stats["blocks_total"] = stats.get("blocks_total", 0) + blocks_total

    # MaxScore split: terms that cannot (even jointly) introduce a new
    # top-k doc generate no candidates; they only add their contributions
    # to docs already in the candidate set.
    order = np.argsort(term_ub, kind="stable")
    csum = np.cumsum(term_ub[order])
    n_nonessential = int(np.searchsorted(csum, theta, side="left"))
    nonessential = {terms[i] for i in order[:n_nonessential]}

    # candidate generation with per-block skipping (BMW): a block whose
    # upper bound plus every other term's upper bound stays below theta
    # cannot introduce a new top-k doc by itself. The bounds only pick
    # candidates: each term decodes whole, once per segment cache, and the
    # block mask slices its docids.
    cand_parts = []
    for i, t in enumerate(terms):
        if t in nonessential:
            continue
        mask = block_ub[t] + (total_ub - term_ub[i]) >= theta
        if stats is not None:
            stats["blocks_gen"] = stats.get("blocks_gen", 0) + int(mask.sum())
        d = term_postings(reader, cache, t)[0]
        if not mask.all():
            d = d[np.repeat(mask, np.asarray(rows[t]["block_n"],
                                             dtype=np.int64))]
        cand_parts.append(d)
    if not cand_parts:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    candidates = live(np.unique(np.concatenate(cand_parts)), accept,
                      tombstones)
    if not len(candidates):
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    if stats is not None:
        stats["candidates"] = stats.get("candidates", 0) + int(len(candidates))

    # exact scoring in canonical sorted-term order (oracle bit-parity); the
    # membership test also drops docids the live filter took out
    scores = np.zeros(len(candidates), dtype=np.float64)
    for t in terms:
        n = accumulate(scores, candidates,
                       *term_contrib(reader, cache, t, idfs[t], avgdl))
        if stats is not None:
            stats["postings_scored"] = stats.get("postings_scored", 0) + n
    return topk_after(candidates, scores, k, after)


def _conjunctive_topk(seg: Segment, terms: list[str], idfs: dict[str, float],
                     k: int, avgdl: float, tombstones: np.ndarray,
                     after: tuple[float, int] | None
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive (AND) top-k: only docs holding EVERY query term score,
    with the same exact BM25 sums as the disjunctive path. Segments are
    doc-partitioned, so the conjunction is decided locally. Strict: a
    term OOV corpus-wide (or absent from the segment) empties the result
    — SQL's `HAVING count(DISTINCT term) = m`. The intersection is a
    stronger filter than θ, so no block-max machinery runs."""
    reader, cache = seg.reader, seg.cache
    terms = sorted(set(terms))
    if not terms or any(t not in idfs or not reader.has_term(t)
                        for t in terms):
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    cand = live(intersect(term_postings(reader, cache, t)[0] for t in terms),
                seg.accept, tombstones)
    scores = np.zeros(len(cand), dtype=np.float64)
    if not len(cand):
        return cand, scores
    for t in terms:  # canonical sorted order (oracle bit-parity)
        accumulate(scores, cand, *term_contrib(reader, cache, t, idfs[t], avgdl))
    return topk_after(cand, scores, k, after)


class _TopK:
    """Per-query bounded top-k accumulator across segments (the NodeQueue /
    BoundedLongHeap analog, util/BoundedLongHeap.java:33-80): docids with
    their values, value desc then docid asc. The values keep the dtype of
    the first push, so int64 keys never pass through float64."""

    __slots__ = ("k", "docids", "scores")

    def __init__(self, k: int):
        self.k = k
        self.docids = np.zeros(0, np.int64)
        self.scores = np.zeros(0, np.float64)

    def push(self, docids: np.ndarray, scores: np.ndarray) -> None:
        if len(docids) == 0:
            return
        if len(self.docids):
            docids = np.concatenate([self.docids, docids])
            scores = np.concatenate([self.scores, scores])
        order = np.lexsort((docids, -scores))[: self.k]
        self.docids, self.scores = docids[order], scores[order]

    @property
    def theta(self) -> float:
        """kth best score so far — the pruning threshold (WAND θ; analog of
        stopSearch's worst-of-topK, GraphSearcher.java:340-351). k=0 (a
        legal degenerate query) holds nothing: θ=+inf prunes every block
        and the query returns no rows instead of crashing on scores[-1]."""
        if self.k <= 0:
            return float("inf")
        return float(self.scores[-1]) if len(self.scores) >= self.k else 0.0

    def closed(self, bound) -> bool:
        """No value at or below `bound` can enter any more: k <= 0, or k
        values are held and the kth strictly beats `bound`. Compared in
        the values' own dtype (exact for int64 keys); None = unbounded."""
        return self.k <= 0 or (bound is not None and len(self.scores) >= self.k
                               and self.scores[-1] > bound)


def topk_partial(segments, queries: pd.DataFrame, match,
                 value_col: str = "score") -> pd.DataFrame:
    """One task's partial top-k rows (qid, docid, value_col, k): the
    per-task collector of every ranked index operator.

    Keeps one _TopK per query of `queries` (qid, k, ...) across all of
    the task's `segments` and calls match(seg, q, top) -> (docids,
    values) once per (segment, query row), pushing what it returns;
    `top` exposes the query's k, θ and held values for pruning. Top-k
    composes across segments, so at most k rows per (task, query) reach
    the global merge_topk, which cuts at each row's own k. `segments`
    may also be a function of the {qid: _TopK} states returning the
    segments, for a scan whose segment skip reads θ (consumed lazily, so
    each decision sees every segment before it)."""
    rows = {int(q.qid): q for q in queries.itertuples(index=False)}
    tops = {qid: _TopK(int(q.k)) for qid, q in rows.items()}
    for seg in segments(tops) if callable(segments) else segments:
        for qid, q in rows.items():
            top = tops[qid]
            top.push(*match(seg, q, top))
    held = [(qid, t) for qid, t in tops.items() if len(t.docids)]
    if not held:
        return _empty_result(value_col).drop(columns="rank").assign(
            k=pd.Series([], dtype="int64"))
    n = [len(t.docids) for _, t in held]
    return pd.DataFrame({
        "qid": np.repeat(np.array([q for q, _ in held], np.int64), n),
        "docid": np.concatenate([t.docids for _, t in held]),
        value_col: np.concatenate([t.scores for _, t in held]),
        "k": np.repeat(np.array([t.k for _, t in held], np.int64), n),
    })


def _filter_key(doc_filter: dict) -> tuple:
    """Canonical hashable key for a doc-attribute filter (list/tuple/set
    values normalize to sorted tuples; range dicts to sorted op items)."""

    def canon(v):
        if isinstance(v, dict):
            return ("__range__",) + tuple(sorted(v.items()))
        if isinstance(v, (list, tuple, set)):
            return tuple(sorted(v))
        return v

    return tuple((c, canon(v)) for c, v in sorted(doc_filter.items()))


class SearcherPool:
    """Pooled per-segment readers, score caches and blooms for warm
    serving — the reference's pooled-searcher surface (ExplicitThreadLocal
    GraphSearchers in GraphSearcher.java:51-57; long-lived CREATE/SEARCH
    sessions in examples IPCService.java:80-87). One pool serves many
    request batches against one index GENERATION: the per-segment caches
    an unpooled task builds for one call (term rows, upper bounds, decodes,
    contributions) persist across requests instead (they depend only on
    the index bytes + global idf, both fixed per generation), so a warm
    request pays zero dictionary re-reads or decodes. Call reset() when
    the manifest changes (append/compaction)."""

    __slots__ = ("readers", "caches", "blooms")

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.readers: dict[str, SegmentReader] = {}
        self.caches: dict[str, dict] = {}
        self.blooms: dict[str, object] = {}

    def reader(self, path: str) -> SegmentReader:
        r = self.readers.get(path)
        if r is None:
            r = self.readers[path] = SegmentReader(path)
        return r

    def cache(self, path: str) -> dict:
        c = self.caches.get(path)
        if c is None:
            c = self.caches[path] = {}
        return c

    def bloom(self, path: str):
        if path not in self.blooms:
            self.blooms[path] = load_term_bloom(path)
        return self.blooms[path]


def search_partition(
    seg_paths: list[str],
    queries: pd.DataFrame,
    idfs: dict[str, float],
    avgdl: float,
    tombstones: np.ndarray | None = None,
    doc_filter: dict | None = None,
    min_score: float = 0.0,
    after: dict | None = None,
    metrics: dict | None = None,
    mode: str = "or",
    pool: "SearcherPool | None" = None,
    exclude: dict | None = None,
) -> pd.DataFrame:
    """Score all queries against a list of segments sequentially, θ
    propagating segment-to-segment (the multi-sstable rerankFloor pattern).

    `metrics`: optional {qid: counters} dict updated in place with
    per-query work counters (segments visited/skipped, block totals,
    candidates, postings scored) — see make_metrics_accumulator.

    doc_filter: attribute conjunction evaluated per segment (acceptOrds).
    min_score:  threshold-query mode — only scores >= min_score return,
                and the bound doubles as a pruning floor
                (GraphSearcher threshold queries, GraphSearcher.java:192-195).
    after:      {qid: (score, docid)} search-after cursors — only results
                strictly after the cursor in (score desc, docid asc) order
                return (the resume()/pagination analog,
                GraphSearcher.java:503-541).
    exclude:    {qid: array-of-docids} per-QUERY exclusions — the
                self-exclusion predicate (the reference's Bits.without /
                "don't return the query's own node" filter used by
                more-like-this style searches). Applied by unioning into
                the tombstone mask per query, i.e. INSIDE the segment
                scorer before its top-k cut, so an excluded doc can never
                displace a returned one.

    Returns topk_partial rows (qid, docid, score, k), each query's rows
    in rank order.
    """
    after = after or {}
    exclude = exclude or {}
    qex = {qid: np.asarray(exclude[qid], dtype=np.int64)
           for qid in map(int, queries["qid"])
           if exclude.get(qid) is not None and len(exclude[qid])}

    def qtomb(qid: int, seg_tomb: np.ndarray) -> np.ndarray:
        ex = qex.get(qid)
        if ex is None:
            return seg_tomb
        return np.union1d(seg_tomb, ex) if len(seg_tomb) else ex

    all_terms = sorted({t for ts in queries["terms"] for t in ts if t in idfs})
    n_opened = 0

    def segments():
        nonlocal n_opened
        for seg in open_segments(seg_paths, tombstones, all_terms,
                                 doc_filter, pool):
            n_opened += 1
            yield seg

    def match(seg: Segment, q, top: _TopK):
        qid = int(q.qid)
        qstats = metrics.setdefault(qid, {}) if metrics is not None else None
        # the cursor applies INSIDE the scorer, before its top-k cut — a
        # segment may hold more than k results at-or-before the cursor,
        # and a post-hoc filter on an already-cut top-k would silently
        # drop valid after-cursor rows
        if mode == "and":
            d, s = _conjunctive_topk(seg, q.terms, idfs, top.k, avgdl,
                                     qtomb(qid, seg.tombstones),
                                     after.get(qid))
        else:
            d, s = score_query_on_segment(
                seg.reader, q.terms, idfs, top.k,
                max(top.theta, min_score), avgdl, qtomb(qid, seg.tombstones),
                seg.cache, seg.accept, qstats, after=after.get(qid),
            )
        if min_score > 0.0 and len(s):
            # membership at the floor compares RAW float64 sums on both
            # engine and oracle sides; a doc whose true score sits within
            # ~1 ulp of min_score could flip between engines with
            # different summation orders (the same boundary class the
            # top-k cutoff neutralizes with k_mult slack). Accepted: BM25
            # terms are irrational idf×tf ratios, so fixture scores never
            # land on the round decimal thresholds queries use; a caller
            # with a score-derived floor should pad it by ~1e-9.
            keep = s >= min_score
            d, s = d[keep], s[keep]
        return d, s

    out = topk_partial(segments(), queries, match)
    n_bloom_skipped = len(seg_paths) - n_opened
    if metrics is not None and n_bloom_skipped:
        for qid in map(int, queries["qid"]):
            qs = metrics.setdefault(qid, {})
            qs["segments_bloom_skipped"] = (
                qs.get("segments_bloom_skipped", 0) + n_bloom_skipped)
    return out


def search_index(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
    min_score: float = 0.0,
    after: dict | None = None,
    metrics_acc=None,
    merge: str = "spark",
    mode: str = "or",
    exclude: dict | None = None,
) -> DataFrame | pd.DataFrame:
    """Distributed top-k BM25: scatter segments over tasks, per-task partial
    top-k (bounded k rows per query per task), global TakeOrderedAndProject
    merge. Returns (qid, rank, docid, score).

    merge="spark" (default): the global merge is a window row_number —
    composable lazily with downstream DataFrame ops. merge="driver":
    partial top-k rows (<= n_queries * k * n_tasks, bounded by
    construction) collect to the driver and merge in one numpy lexsort —
    the reference's own multi-index combine shape (GraphSearcher.java:
    368-385 merges per-index results on the caller thread). This removes
    a whole shuffle+window stage from the latency path and returns a
    PANDAS frame; use it for serving-style workloads where the result is
    consumed at the driver anyway.

    `metrics_acc` (from make_metrics_accumulator): per-query search-work
    counters accumulated across every task; read metrics_acc.value once the
    returned DataFrame has been materialized. This is the observability
    surface for pruning effectiveness in production (the reference's
    SearchResult.getVisitedCount contract, SearchResult.java:27-31).

    queries: pandas (qid:int, terms:list[str], k:int). Queries are broadcast
    (small); segments are the parallel dimension — at 10^12 docs this is
    thousands of segments fanned over the cluster, each task streaming its
    segments with θ propagation.
    """
    snap = IndexSnapshot(index_dir)
    avgdl = snap.manifest["avgdl"]
    all_terms = sorted({t for ts in queries["terms"] for t in ts})
    dfm = (global_term_stats(spark, index_dir, all_terms, snap.manifest)
           if all_terms else {})
    idfs = idf_map(snap.manifest["n_docs"], dfm)

    def kernel(paths, tomb, payload):
        q, idfs_l = payload
        task_metrics: dict | None = {} if metrics_acc is not None else None
        yield search_partition(
            paths, q, idfs_l, avgdl, tomb, doc_filter, min_score, after,
            task_metrics, mode, exclude=exclude,
        )
        if metrics_acc is not None:
            from pyspark import TaskContext

            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else -1
            # keyed by partition: a retried/speculative attempt or a
            # re-materialization OVERWRITES its partition's entry
            # instead of double-counting (Spark only guarantees
            # exactly-once accumulators in actions)
            metrics_acc.add({pid: task_metrics})

    return snap.scatter_topk(spark, kernel,
                             (queries[["qid", "terms", "k"]], idfs),
                             "score", merge, num_tasks)


def explain_score(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    docid: int,
) -> dict:
    """Score EXPLAIN for one (query, doc) — the Lucene Explanation API
    analog: per-term (tf, df, idf, tf_norm, contribution) plus the exact
    float64 total, summed in the engine's canonical sorted-term order so
    `total` is bit-identical to the score search_index returns for the
    same doc. Serving-sized driver work: one segment lookup by docid
    range, one postings decode per term."""
    snap = IndexSnapshot(index_dir)
    manifest = snap.manifest
    docid = int(docid)
    seg = next(
        (s for s in manifest["segments"]
         if s["min_docid"] <= docid <= s["max_docid"]), None)
    if seg is None:
        raise KeyError(f"docid {docid} not in any segment of {index_dir}")
    if docid in snap.tombstones:
        return {"docid": docid, "deleted": True, "terms": {}, "total": 0.0}
    reader = SegmentReader(seg["path"])
    uniq = sorted({t for t in terms})
    dfm = global_term_stats(spark, index_dir, uniq, manifest)
    idfs = idf_map(manifest["n_docs"], dfm)
    dl = float(reader.doclen(np.array([docid], dtype=np.int64))[0])
    out: dict = {"docid": docid, "deleted": False, "dl": dl,
                 "avgdl": manifest["avgdl"], "terms": {}}
    total = 0.0
    for t in uniq:  # canonical order = exact summation-order parity
        if t not in idfs or not reader.has_term(t):
            out["terms"][t] = {"tf": 0, "df": dfm.get(t, 0),
                               "contribution": 0.0}
            continue
        d, tf = reader.decode_term(t)
        pos = np.searchsorted(d, docid)
        if pos >= len(d) or d[pos] != docid:
            out["terms"][t] = {"tf": 0, "df": dfm[t], "contribution": 0.0}
            continue
        tfv = float(tf[pos])
        norm = float(_tf_norm(np.array([tfv]), np.array([dl]),
                              manifest["avgdl"])[0])
        contrib = idfs[t] * norm
        out["terms"][t] = {
            "tf": int(tfv), "df": int(dfm[t]),
            "idf": idfs[t], "tf_norm": norm, "contribution": contrib,
        }
        total += contrib
    out["total"] = total
    return out
