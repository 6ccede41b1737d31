"""More-like-this: query-by-document search over a segment index.

The reference's query-by-example shape: seed a search with an item already
in the index and exclude that item from its own result set — the
self-exclusion predicate (jvector filters the query's own node out of
results via the Bits accept filter, GraphSearcher.java:202-214; the
full-text analog is Lucene-style MoreLikeThis: re-analyze the source
document, rank its terms by tf*idf against the GLOBAL index statistics,
take the top `num_terms` as an OR query, and search with the source doc
excluded INSIDE the scorer so it can never displace a returned result).

Scale shape: source docs are fetched with a pushed-down `isin` filter
(k-bounded driver fetch — this is a serving-style, per-request operator,
not a corpus scan); term selection touches only the hot-tier
term_stats.parquet; the search itself is the normal scattered segment
fan-out.  Nothing here is O(corpus).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jvector_spark.functions.tokenizer import tokenize_series
from jvector_spark.operators.wand import (
    global_term_stats,
    idf_map,
    search_index,
)
from jvector_spark.sources.segment import load_manifest


def mlt_select_terms(
    texts: dict[int, str],
    idfs: dict[str, float],
    num_terms: int,
    mode: str = "code",
    pretokenized=None,
) -> dict[int, list[str]]:
    """Top `num_terms` query terms per source doc by tf*idf.

    Deterministic tie-break matches the SQL oracle: order by
    (round(tf*idf, 6) DESC, term ASC).  Terms absent from `idfs`
    (not in the index vocabulary) are skipped.

    `pretokenized` (optional, parallel to texts.keys()): reuse token
    lists the caller already computed — more_like_this tokenizes the
    same sources once for its vocabulary pass and hands them down.
    """
    out: dict[int, list[str]] = {}
    if pretokenized is not None and len(pretokenized) != len(texts):
        # zip would silently misalign docids with another doc's tokens
        raise ValueError(
            f"pretokenized has {len(pretokenized)} entries for "
            f"{len(texts)} texts — must be parallel to texts.keys()")
    toks = (pretokenized if pretokenized is not None
            else tokenize_series(pd.Series(list(texts.values())), mode))
    for docid, terms in zip(texts.keys(), toks):
        tf = pd.Series(terms).value_counts()
        cand = [
            (-(round(float(n) * idfs[t], 6)), t)
            for t, n in tf.items()
            if t in idfs
        ]
        cand.sort()
        out[int(docid)] = [t for _, t in cand[:num_terms]]
    return out


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    doc_ids: list[int],
    k: int,
    num_terms: int = 10,
    id_col: str = "doc_id",
    content_col: str = "text",
    merge: str = "spark",
    num_tasks: int | None = None,
) -> DataFrame | pd.DataFrame:
    """Find the top-k documents most similar to each of `doc_ids`.

    qid in the result IS the source docid.  The source document itself is
    excluded in-search (never post-hoc), so each query returns a full k
    results even when the source would have ranked within them.

    `docs` supplies the source text (filter-pushdown fetch of |doc_ids|
    rows); term weighting uses the index's own global stats so an MLT
    query ranks exactly like the user typing those terms.
    """
    # dedupe while preserving order: duplicated ids would misalign the
    # pretokenized zip in mlt_select_terms (docid paired with another
    # doc's tokens) and emit colliding qid rows downstream
    doc_ids = list(dict.fromkeys(int(d) for d in doc_ids))
    manifest = load_manifest(index_dir)
    mode = manifest.get("tokenizer_mode", "code")
    src = (
        docs.where(F.col(id_col).cast("long").isin([int(d) for d in doc_ids]))
        .select(F.col(id_col).cast("long").alias("docid"), content_col)
        .toPandas()  # |doc_ids| rows — serving-sized by construction
    )
    texts = dict(zip(src["docid"], src[content_col]))
    missing = [d for d in doc_ids if int(d) not in texts]
    if missing:
        raise KeyError(f"source doc_ids not found: {missing}")
    # ONE tokenize pass over the sources, reused for both the candidate
    # vocabulary and mlt_select_terms' tf counts
    toks = tokenize_series(
        pd.Series([texts[int(d)] for d in doc_ids]), mode)
    all_terms = sorted({t for terms in toks for t in terms})
    dfm = global_term_stats(spark, index_dir, all_terms, manifest)
    idfs = idf_map(manifest["n_docs"], dfm)
    qterms = mlt_select_terms(
        {int(d): texts[int(d)] for d in doc_ids}, idfs, num_terms, mode,
        pretokenized=list(toks),
    )
    queries = pd.DataFrame(
        {
            "qid": [int(d) for d in doc_ids],
            "terms": [qterms[int(d)] for d in doc_ids],
            "k": [int(k)] * len(doc_ids),
        }
    )
    exclude = {int(d): np.array([int(d)], dtype=np.int64) for d in doc_ids}
    return search_index(
        spark,
        index_dir,
        queries,
        num_tasks=num_tasks,
        exclude=exclude,
        merge=merge,
    )
