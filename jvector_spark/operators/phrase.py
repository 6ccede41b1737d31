"""Phrase queries over positional postings (the per-posting-payload path).

Reference mapping (SURVEY §2.11 Feature plugin): JVector attaches
per-node payloads via the Feature plugin surface (graph/disk/feature/
Feature.java, FusedADC/NVQ/SeparatedNVQ implementations — extra bytes
co-located with each record, read back during search). The inverted-index
analog is per-POSTING payloads: token positions, stored as a third
varint stream in the v2 segment format (`build_index(positions=True)`),
enabling exact phrase matching — the canonical consumer of positional
payloads.

Semantics: a phrase [t1..tm] matches doc d at anchor position p iff
position p+j-1 is in postings(tj, d) for every j. `n_matches` counts the
anchors. Scoring/ranking: n_matches desc, docid asc (count ranking keeps
the operator ANSI-SQL-oracle-checkable; feed matches into bm25 downstream
if a score is wanted).

Scale shape (same scatter/gather as wand.search_index): phrases broadcast;
segments are the parallel dimension; per segment, candidate docs come from
the docid-intersection of the phrase's term postings FIRST — only then are
positions (the big stream) read, each term's decoded whole once per
segment cache (wand.term_positions) and cut to the candidates.
Partial results are bounded at k per (task, query) by the shared
collector wand.topk_partial — top-k of n_matches composes across
segments — then merged by a window/driver rank like search_index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from jvector_spark.functions.tokenizer import tokenize_series
from jvector_spark.operators.wand import (
    IndexSnapshot, intersect, live, open_segments, term_positions,
    term_postings, topk_partial)
from jvector_spark.sources.segment import SegmentReader


def match_phrase_on_segment(
    reader: SegmentReader,
    cache: dict,
    terms: list[str],
    tombstones: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(docids, n_matches) of one phrase against one segment (exact), the
    candidate docids and the positions decoded through the segment cache
    (wand.term_postings, wand.term_positions)."""
    if not terms or not all(reader.has_term(t) for t in terms):
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    # candidate docs: live docs holding every term (no positions yet)
    cand = live(intersect(term_postings(reader, cache, t)[0]
                          for t in set(terms)), None, tombstones)
    if not len(cand):
        return np.zeros(0, np.int64), np.zeros(0, np.int64)

    # anchor set per candidate: positions of t1 shifted by 0, t2 by -1, ...
    # kept as (doc, anchor) pairs packed into one int64 key space. Docids
    # pack SEGMENT-RELATIVE (docids are dense-contiguous per segment), so
    # the key never overflows even at 10^12 global docids — segment spans
    # stay far below 2^31, positions below 2^32.
    base = np.int64(reader.meta["min_docid"])
    anchors = None
    for j, t in enumerate(terms):
        doc_of_occ, pos = term_positions(reader, cache, t)
        occ = np.isin(doc_of_occ, cand)
        doc_of_occ = doc_of_occ[occ]
        p = pos[occ] - j  # anchor = position of tj minus its offset
        valid = p >= 0
        key = (doc_of_occ[valid] - base) * np.int64(1 << 32) + p[valid]
        key = np.unique(key)
        anchors = key if anchors is None else anchors[
            np.isin(anchors, key, assume_unique=True)
        ]
        if not len(anchors):
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
    docs = (anchors >> np.int64(32)).astype(np.int64) + base
    uniq, counts = np.unique(docs, return_counts=True)
    return uniq, counts.astype(np.int64)


def phrase_partial(segments, queries: pd.DataFrame) -> pd.DataFrame:
    """(qid, docid, n_matches, k) phrase matches of queries(qid, terms, k)
    over opened segments (wand.open_segments), cut to top-k per query in
    rank order (n_matches desc, docid asc) by wand.topk_partial: a
    stop-word-ish phrase over a big segment emits k rows, not millions."""
    return topk_partial(
        segments, queries,
        lambda seg, q, top: match_phrase_on_segment(
            seg.reader, seg.cache, list(q.terms), seg.tombstones),
        "n_matches")


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    num_tasks: int | None = None,
    merge: str = "spark",
) -> DataFrame | pd.DataFrame:
    """queries(qid, phrase:str, k) -> (qid, rank, docid, n_matches).

    The phrase tokenizes with the INDEX's tokenizer mode, so query and
    index agree on token boundaries. Ranking: n_matches desc, docid asc,
    top-k per query.
    """
    snap = IndexSnapshot(index_dir)
    # a zero-segment index carries no has_positions stamp and matches
    # nothing — empty, not an error
    if snap.paths and not snap.manifest.get("has_positions"):
        raise ValueError(
            "index was built without positions=True — phrase queries need "
            "the positional payload stream")
    qp = queries.copy()
    qp["terms"] = tokenize_series(qp["phrase"].astype(str),
                                  snap.manifest["tokenizer_mode"])
    qp = qp[["qid", "terms", "k"]]
    # a phrase match needs every one of its terms in the segment
    probe = sorted({t for ts in qp["terms"] for t in ts})

    def kernel(paths, tomb, q):
        yield phrase_partial(
            open_segments(paths, tomb, probe, positions=True), q)

    return snap.scatter_topk(spark, kernel, qp, "n_matches", merge,
                             num_tasks)
