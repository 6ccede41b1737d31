"""Faceted search + field collapsing over the segment index.

The two result-shaping surfaces every fulltext UI needs next to top-k:

  * facet_counts   — per query, the distribution of an attribute column
                     over ALL matching docs (match = any query term, the
                     engine's OR semantics). Counts are computed segment-
                     locally from the docs sidecar (one column read per
                     (segment, col), cached on the reader) and reduced by
                     a tiny (qid × facet-value) shuffle — corpus rows
                     never shuffle, so the plan holds at 10^12 docs.
  * collapse_topk  — top-k GROUPS: each group (e.g. repo) represented by
                     its best-scoring doc (score desc, docid asc within
                     the group). Per-segment partials emit one row per
                     (query, group) — bounded by the segment's distinct
                     group count, independent of match count — and the
                     global merge is two window functions over those
                     bounded partials. Group-best is max(), so a group's
                     lower-scoring docs can never change the result:
                     per-segment reduction is exact, not approximate.

Reference anchors: filtered-search attribute plumbing
(GraphSearcher.java:202-214 acceptOrds from doc attributes) and the
multi-index result combine (GraphSearcher.java:368-385); the facet/
collapse shapes themselves are the text-engine surface (Lucene facets /
Elasticsearch field collapsing) the survey's §2.11 extension row points
at.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _matched_docids(seg, terms: list[str]) -> np.ndarray:
    """Live, filter-accepted docids of `seg` holding ANY of `terms` (OR
    match), memoized in the segment cache per term set."""
    from jvector_spark.operators.wand import live, term_postings

    key = ("match", tuple(terms))
    if key not in seg.cache:
        parts = [term_postings(seg.reader, seg.cache, t)[0] for t in terms]
        seg.cache[key] = live(
            np.unique(np.concatenate(parts)) if parts
            else np.zeros(0, np.int64), seg.accept, seg.tombstones)
    return seg.cache[key]


def _or_queries(queries: pd.DataFrame) -> pd.DataFrame:
    """queries with each term list canonical (sorted, unique) — the
    _matched_docids memo key."""
    return queries.assign(terms=[sorted(set(ts)) for ts in queries["terms"]])


def _probe(queries: pd.DataFrame) -> list[str]:
    """Every term of `queries`: an OR match holds at least one of them."""
    return sorted({t for ts in queries["terms"] for t in ts})


def _or_matches(paths, tomb, queries: pd.DataFrame, doc_filter: dict | None
                ) -> Iterator[tuple]:
    """(segment, query row, matched docids) of every non-empty OR match
    of _or_queries rows over one task's segments — the scan the facet,
    collapse, stats, histogram and export aggregators share."""
    from jvector_spark.operators.wand import open_segments

    rows = list(queries.itertuples(index=False))
    for seg in open_segments(paths, tomb, _probe(queries), doc_filter):
        for q in rows:
            d = _matched_docids(seg, q.terms)
            if len(d):
                yield seg, q, d


def _attr_values(reader, attr: str,
                 d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(docids, int64 attr values) for matched docids `d`, with NULL-attr
    docs DROPPED — SQL aggregate semantics (the oracle's `WHERE attr IS
    NOT NULL`): a null sidecar value must be excluded from min/max/sum
    and histogram bins, not crash the int64 cast. `dl` (the engine's own
    doc-length array) is never null and skips the mask."""
    if attr == "dl":
        return d, reader.doclen(d).astype(np.int64)
    raw = reader.doc_attribute(attr)[d - reader._min_docid]
    ok = pd.notna(raw)
    vals = np.asarray(raw[ok].tolist())
    if vals.dtype.kind not in "iub":
        # integer columns cast straight to int64 (a float64 detour
        # corrupts |v| > 2^53); anything else — float columns, and int
        # columns that reach pandas as float64 via nulls — must be
        # integral: the int64 cast is a CONTRACT, not a coercion, since
        # truncating 9.99 to 9 would silently corrupt sort order, stats
        # and histogram bins — refuse loudly instead
        vals = vals.astype(np.float64)
        if len(vals) and not np.all(vals == np.floor(vals)):
            raise ValueError(
                f"attribute {attr!r} holds non-integral values — the "
                "attribute surface is integer-keyed (cast/scale the "
                "column, e.g. cents instead of dollars, before indexing)")
    return d[ok], vals.astype(np.int64)


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    facet_col: str,
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
) -> DataFrame:
    """Per-query facet-value match counts: (qid, facet, n_docs).

    queries: pandas (qid:int, terms:list[str]). A doc counts once per
    facet value if it contains ANY query term (deleted docs excluded,
    doc_filter honored — the counts agree with what filtered search
    would return)."""
    from jvector_spark.operators.wand import IndexSnapshot

    snap = IndexSnapshot(index_dir)

    def kernel(paths, tomb, qs):
        for seg, q, d in _or_matches(paths, tomb, qs, doc_filter):
            # dropna=False: SQL GROUP BY keeps one NULL group — silently
            # omitting null-attribute matches would under-count vs the
            # oracle (collapse_topk already preserves the distinct null
            # group the same way)
            vals = seg.reader.doc_attribute(facet_col)
            counts = (pd.Series(vals[d - seg.reader._min_docid])
                      .value_counts(dropna=False))
            facet_vals = [
                None if (v is None or (isinstance(v, float) and v != v))
                else str(v)
                for v in counts.index.tolist()]
            yield pd.DataFrame({
                "qid": np.int64(q.qid),
                "facet": pd.Series(facet_vals, dtype=object),
                "n_docs": counts.to_numpy(np.int64),
            })

    partial = snap.scatter(spark, kernel, _or_queries(queries),
                           "qid long, facet string, n_docs long", num_tasks)
    # the only shuffle: |queries| x |facet values| rows, corpus-size-free
    return partial.groupBy("qid", "facet").agg(
        F.sum("n_docs").alias("n_docs")
    )


def collapse_topk(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    collapse_col: str,
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
) -> DataFrame:
    """Top-k groups per query, each represented by its best doc:
    (qid, grp, docid, score, k) partials — one row per (segment, query,
    group) — for rank_collapsed to rank (group-best score desc, docid
    asc) and cut at each row's k.

    queries: pandas (qid:int, terms:list[str], k:int). Matched docs are
    scored exactly (full BM25 sums, no pruning — every group must see its
    true best) and reduced to one row per (query, group) inside the
    segment task; group-best selection uses (round(score, 6) desc, docid
    asc) so the chosen representative agrees with the SQL oracle even at
    sub-1e-6 score ties."""
    from jvector_spark.operators.wand import (
        IndexSnapshot, accumulate, global_term_stats, idf_map, term_contrib,
    )

    snap = IndexSnapshot(index_dir)
    avgdl = snap.manifest["avgdl"]
    qs = _or_queries(queries)
    probe = _probe(qs)
    idfs = idf_map(snap.manifest["n_docs"],
                   global_term_stats(spark, index_dir, probe, snap.manifest)
                   if probe else {})

    def kernel(paths, tomb, payload):
        q_l, idfs_l = payload
        for seg, q, d in _or_matches(paths, tomb, q_l, doc_filter):
            # exact full scoring of every match, terms in sorted order
            s = np.zeros(len(d), dtype=np.float64)
            for t in q.terms:
                accumulate(s, d, *term_contrib(seg.reader, seg.cache, t,
                                               idfs_l.get(t, 0.0), avgdl))
            g = seg.reader.doc_attribute(collapse_col)[
                d - seg.reader._min_docid]
            # segment-local group-best: rounded-score desc, docid asc.
            # HALF_UP rounding (floor(x*1e6+0.5) for the nonnegative BM25
            # scores), NOT np.round's half-to-even: the global merge
            # orders by Spark F.round (HALF_UP), and the two phases must
            # agree on which group member survives even at an exact
            # .5e-6 boundary
            s_key = np.floor(s * 1e6 + 0.5)
            order = np.lexsort((d, -s_key))
            # null collapse values stay SQL NULL (one distinct null
            # group, like GROUP BY) — never stringified to "None", which
            # would collide with a legitimate 'None' value
            g_sel = pd.Series(g[order])
            g_col = np.where(g_sel.notna(), g_sel.astype(str), None)
            yield pd.DataFrame({
                "qid": np.int64(q.qid), "grp": g_col,
                "docid": d[order], "score": s[order], "k": np.int64(q.k),
            }).drop_duplicates("grp", keep="first")

    return snap.scatter(
        spark, kernel, (qs, idfs),
        "qid long, grp string, docid long, score double, k long", num_tasks)


def _sidecar_attr_best_signv(seg_path: str, attr: str,
                             sign: int) -> int | None:
    """Best achievable sign*attr in a segment, from the docs-parquet
    row-group STATISTICS (metadata-only — no row reads). None = stats
    unavailable (remote fs, missing column, no stats) -> caller fails
    open to a full scan. sign=-1 (desc) wants the max; sign=1 the min."""
    import os

    import pyarrow.parquet as pq

    try:
        meta = pq.ParquetFile(
            os.path.join(seg_path, "docs.parquet")).metadata
        vals = []
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                if col.path_in_schema == attr:
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        return None
                    vals.append(st.max if sign < 0 else st.min)
        if not vals:
            return None
        return int(sign * (max(vals) if sign < 0 else min(vals)))
    except Exception:
        return None


def sorted_scan_partition(
    paths: list[str],
    queries: pd.DataFrame,
    tombstones: np.ndarray | None,
    doc_filter: dict | None,
    attr: str,
    sign: int,
    reader_cls=None,
) -> pd.DataFrame:
    """One task's sorted-search scan over its segment list, with θ
    propagation + stats-based segment skip (see sorted_search):
    topk_partial rows (qid, docid, sort_key, k) of queries (qid, terms,
    k), where sort_key = -sign·attr is the value merge_topk ranks
    descending. Module-level so the skip behavior is directly testable
    in-process; `reader_cls` lets tests observe which segments actually
    open."""
    from jvector_spark.operators.wand import open_segments, topk_partial
    from jvector_spark.sources.segment import SegmentReader

    queries = _or_queries(queries)
    # best achievable sort_key per segment (None: no stats, never skip)
    best: dict[str, int | None] = {}

    def segments(tops):
        def unskipped() -> Iterator[str]:
            # lazily consumed by open_segments, so each skip decision
            # sees the θ state left by every segment before it
            for path in paths:
                b = _sidecar_attr_best_signv(path, attr, sign)
                best[path] = None if b is None else -b
                if b is not None and all(t.closed(best[path])
                                         for t in tops.values()):
                    continue  # no query can improve: metadata-only skip
                yield path

        return open_segments(unskipped(), tombstones, _probe(queries),
                             doc_filter, reader_cls=reader_cls or SegmentReader)

    def match(seg, q, top):
        # closed: k=0 (a legal degenerate query, no rows), or this query
        # is already beyond the segment
        d = (np.zeros(0, np.int64) if top.closed(best[seg.path])
             else _matched_docids(seg, q.terms))
        d, v = _attr_values(seg.reader, attr, d) if len(d) else (d, d)
        return d, -sign * v

    return topk_partial(segments, queries, match, "sort_key")


def sorted_search(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    attr: str = "dl",
    ascending: bool = False,
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
    merge: str = "spark",
) -> DataFrame | pd.DataFrame:
    """Match set ordered by a NUMERIC doc attribute instead of relevance
    (the Lucene Sort-by-field / ES `sort` surface — think "matching docs,
    newest first" with a timestamp column): (qid, rank, docid, sort_key),
    ranked (attr desc|asc, docid asc), top-k per query.

    queries: pandas (qid:int, terms:list[str], k:int); OR match semantics
    (any query term present), deletes excluded, doc_filter honored. No
    scores are computed — term postings decode docids only, and the
    attribute comes from the doclen array (`attr="dl"`) or one cached
    docs-sidecar column read per (segment, attr). Top-k by attribute is
    mergeable, so partials are cut to k per (task, query) before the
    shuffle.

    Segment-skip pruning (the attribute-sort analog of BM25's block-max +
    θ propagation): each task carries its kept top-k values per query
    across its segments; a segment whose attribute RANGE — read from the
    docs-parquet row-group statistics, a metadata-only read, no rows —
    cannot strictly beat every query's current k-th kept value is never
    opened (no postings decode, no sidecar row read). Ties process the
    segment (a tied value with a smaller docid can still win), so the
    result stays exact. Stats-less sidecars fail open to the full scan."""
    from jvector_spark.operators.wand import IndexSnapshot

    snap = IndexSnapshot(index_dir)
    sign = 1 if ascending else -1  # merge_topk ranks -sign*v desc

    def kernel(paths, tomb, qs):
        yield sorted_scan_partition(paths, qs, tomb, doc_filter, attr, sign)

    merged = snap.scatter_topk(spark, kernel, queries[["qid", "terms", "k"]],
                               "sort_key", merge, num_tasks)
    if not ascending:
        return merged
    if merge == "driver":
        merged["sort_key"] = -merged["sort_key"]
        return merged
    return merged.withColumn("sort_key", -F.col("sort_key"))


def rank_collapsed(partial: DataFrame) -> DataFrame:
    """Global merge of collapse partials: best row per (qid, grp), then
    top-k groups per qid by (round(score,6) desc, docid asc), cut at each
    row's k. Returns (qid, rank, grp, docid, score) with rounded display
    scores."""
    from pyspark.sql import Window

    w_g = Window.partitionBy("qid", "grp").orderBy(
        F.desc(F.round("score", 6)), F.asc("docid"))
    w_q = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("docid"))
    return (
        partial.withColumn("grn", F.row_number().over(w_g))
        .where(F.col("grn") == 1)
        .withColumn("rn", F.row_number().over(w_q))
        .where(F.col("rn") <= F.col("k"))
        .select(
            F.col("qid").cast("long").alias("qid"),
            (F.col("rn") - 1).cast("int").alias("rank"),
            F.col("grp"),
            F.col("docid").cast("long").alias("docid"),
            F.round("score", 6).alias("score"),
        )
    )


def attr_stats(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    attr: str = "dl",
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
) -> DataFrame:
    """Numeric stats aggregation over the match set (the ES metrics-agg
    surface next to facet_counts' terms-agg): per query,
    (qid, n_docs, min_attr, max_attr, sum_attr, avg_attr) of a sidecar
    attribute over all OR-matched docs (deletes excluded, doc_filter
    honored). Classic partial+final shape: each segment task emits ONE
    row per query (its local n/min/max/sum); the final reduce is a
    |queries|-row groupBy — corpus rows never shuffle. avg is derived
    from (sum, n) after the merge and rounded to 6 for cross-engine
    display parity."""
    from jvector_spark.operators.wand import IndexSnapshot

    snap = IndexSnapshot(index_dir)

    def kernel(paths, tomb, qs):
        for seg, q, d in _or_matches(paths, tomb, qs, doc_filter):
            _, v = _attr_values(seg.reader, attr, d)
            if len(v):  # else every matched doc had a null attr
                yield pd.DataFrame({
                    "qid": [np.int64(q.qid)], "n_docs": [len(v)],
                    "min_attr": [int(v.min())], "max_attr": [int(v.max())],
                    "sum_attr": [int(v.sum())]})

    partial = snap.scatter(
        spark, kernel, _or_queries(queries),
        "qid long, n_docs long, min_attr long, max_attr long, sum_attr long",
        num_tasks)
    return (
        partial.groupBy("qid").agg(
            F.sum("n_docs").alias("n_docs"),
            F.min("min_attr").alias("min_attr"),
            F.max("max_attr").alias("max_attr"),
            F.sum("sum_attr").alias("sum_attr"),
        )
        .withColumn("avg_attr", F.round(
            F.col("sum_attr") / F.col("n_docs"), 6))
    )


def attr_histogram(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    attr: str = "dl",
    bin_width: int = 10,
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
) -> DataFrame:
    """Histogram aggregation over the match set (the ES date_histogram /
    histogram-agg shape, with a numeric sidecar attribute standing in for
    the timestamp): (qid, bin, n_docs) where bin = floor(attr/width)*width.
    Same scale shape as facet_counts — per-segment binned counts, then a
    (qid × bins)-row final reduce; corpus rows never shuffle."""
    from jvector_spark.operators.wand import IndexSnapshot

    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    snap = IndexSnapshot(index_dir)
    w = int(bin_width)

    def kernel(paths, tomb, qs):
        for seg, q, d in _or_matches(paths, tomb, qs, doc_filter):
            _, v = _attr_values(seg.reader, attr, d)
            if len(v):
                bins, counts = np.unique((v // w) * w, return_counts=True)
                yield pd.DataFrame({
                    "qid": np.int64(q.qid), "bin": bins,
                    "n_docs": counts.astype(np.int64)})

    partial = snap.scatter(spark, kernel, _or_queries(queries),
                           "qid long, bin long, n_docs long", num_tasks)
    return partial.groupBy("qid", "bin").agg(
        F.sum("n_docs").alias("n_docs"))


def match_export(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
) -> DataFrame:
    """Exhaustive match export (the scroll/scan surface, and the corpus-
    filtering op a training-data pipeline runs: "every doc mentioning X"):
    (qid, docid) for ALL OR-matched docs — no top-k cut, deliberately.

    queries: pandas (qid:int, terms:list[str]). Output size is the true
    match cardinality; rows flow segment-task -> sink with NO shuffle at
    all (each docid belongs to exactly one segment, so no global dedup or
    merge is needed — the result is already disjoint across tasks). At
    10^12 docs this is the write-straight-to-parquet shape; bound it
    upstream with doc_filter if the match set must be narrowed."""
    from jvector_spark.operators.wand import IndexSnapshot

    snap = IndexSnapshot(index_dir)

    def kernel(paths, tomb, qs):
        for _, q, d in _or_matches(paths, tomb, qs, doc_filter):
            yield pd.DataFrame({"qid": np.int64(q.qid), "docid": d})

    return snap.scatter(spark, kernel, _or_queries(queries),
                        "qid long, docid long", num_tasks)


def match_count(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    num_tasks: int | None = None,
    doc_filter: dict | None = None,
) -> DataFrame:
    """Total-hits count per query (the ES `_count` endpoint): (qid,
    n_docs) over the OR-match set. Rides match_export's shuffle-free
    scatter; the count is a Catalyst partial+final aggregate, so the only
    shuffled rows are |tasks| x |queries| partial counts."""
    return (
        match_export(spark, index_dir, queries, num_tasks, doc_filter)
        .groupBy("qid").agg(F.count("*").alias("n_docs"))
    )
