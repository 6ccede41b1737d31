"""Proximity (sloppy-window) queries over positional postings.

The second consumer of the per-posting payload stream (SURVEY §2.11
Feature plugin; phrase.py is the first): a document matches an UNORDERED
term set {t1..tm} at window-start i iff every term has at least one
occurrence inside [i, i+W-1].  `n_matches` counts the matching window
starts — the sloppy-phrase analog of Lucene's proximity scoring, with a
count ranking that keeps the operator ANSI-SQL-oracle-checkable
(n_matches desc, docid asc, like phrase_search).

Window-start domain: i in [0, max(dl-W, 0)] — a doc SHORTER than the
window is a single clipped window, so a 3-token doc containing both
terms of a W=8 query counts 1, not 0 (mirrors the oracle's
`greatest(len(ts)-W+1, 1)` range with clipped list_slice).

Scale shape: identical scatter/gather to phrase_search — queries
broadcast, segments the parallel dimension, candidates from the
conjunctive docid intersection FIRST (then each term's positions, decoded
whole once per segment cache, cut to the survivors), per-(task,query)
top-k cut (wand.topk_partial) before the shuffle.
The per-candidate window count is O(m * dl) numpy work via two
searchsorted sweeps per term, no per-token Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from jvector_spark.operators.wand import (
    IndexSnapshot, intersect, live, open_segments, term_positions,
    term_postings, topk_partial)
from jvector_spark.sources.segment import SegmentReader


def window_match_count(
    plists: list[np.ndarray], dl: int, window: int
) -> int:
    """Number of window starts i in [0, max(dl-window, 0)] whose span
    [i, i+window-1] contains ≥1 position from EVERY list in `plists`
    (each sorted ascending). Two searchsorted sweeps per term — O(m·dl)
    vectorized, no per-token Python."""
    n_starts = max(int(dl) - window + 1, 1)
    i = np.arange(n_starts, dtype=np.int64)
    ok = np.ones(n_starts, dtype=bool)
    for pj in plists:
        # term present in [i, i+W-1]  <=>  count of pj in [i, i+W) > 0
        ok &= np.searchsorted(pj, i + window, "left") > np.searchsorted(
            pj, i, "left"
        )
        if not ok.any():
            return 0
    return int(ok.sum())


def match_window_on_segment(
    reader: SegmentReader,
    cache: dict,
    terms: list[str],
    window: int,
    tombstones: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(docids, n_matches) for one proximity query against one segment,
    the candidate docids and the positions decoded through the segment
    cache (wand.term_postings, wand.term_positions)."""
    terms = sorted(set(terms))
    if not terms or not all(reader.has_term(t) for t in terms):
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    cand = live(intersect(term_postings(reader, cache, t)[0] for t in terms),
                None, tombstones)
    if not len(cand):
        return np.zeros(0, np.int64), np.zeros(0, np.int64)

    # positions per (term, candidate doc): list-of-arrays keyed by doc,
    # each ascending (occurrences arrive sorted by docid, then position)
    pos_by_doc: dict[int, list[np.ndarray]] = {int(c): [] for c in cand}
    for t in terms:
        doc_of_occ, pos = term_positions(reader, cache, t)
        occ = np.isin(doc_of_occ, cand)
        doc_of_occ, p = doc_of_occ[occ], pos[occ]
        bounds = np.append(np.searchsorted(doc_of_occ, cand), len(doc_of_occ))
        for ci, c in enumerate(cand):
            pos_by_doc[int(c)].append(p[bounds[ci]:bounds[ci + 1]])

    dls = reader.doclen(cand).astype(np.int64)
    out_d, out_n = [], []
    for c, dl in zip(cand, dls):
        n = window_match_count(pos_by_doc[int(c)], int(dl), window)
        if n:
            out_d.append(int(c))
            out_n.append(n)
    return (
        np.array(out_d, dtype=np.int64),
        np.array(out_n, dtype=np.int64),
    )


def proximity_search(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    num_tasks: int | None = None,
    merge: str = "spark",
) -> DataFrame | pd.DataFrame:
    """queries(qid, terms:list[str], window:int, k) ->
    (qid, rank, docid, n_matches), ranked n_matches desc, docid asc."""
    snap = IndexSnapshot(index_dir)
    # a zero-segment index carries no has_positions stamp and matches
    # nothing — empty, not an error
    if snap.paths and not snap.manifest.get("has_positions"):
        raise ValueError(
            "index was built without positions=True — proximity queries "
            "need the positional payload stream")
    qw = queries[["qid", "terms", "window", "k"]]
    probe = sorted({t for ts in qw["terms"] for t in ts})

    def kernel(paths, tomb, q):
        yield topk_partial(
            open_segments(paths, tomb, probe, positions=True), q,
            lambda seg, r, top: match_window_on_segment(
                seg.reader, seg.cache, r.terms, int(r.window),
                seg.tombstones),
            "n_matches")

    return snap.scatter_topk(spark, kernel, qw, "n_matches", merge,
                             num_tasks)
