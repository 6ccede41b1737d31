"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship query (index-backed BM25 top-k) on
sf0.001. `queries()` exposes every implemented operator from SURVEY.md §2
plus the training-data-pipeline operators (dedup / ANN / text analysis /
event rollups); `oracle_sql()` gives the DuckDB-equivalent ANSI SQL for
each. Column names, types, and rounding are kept in lock-step between the
Spark code and the SQL so the driver's sorted-column value-hash matches.

Hash discipline shared by both sides:
  * all integer hashes are 60-bit md5-derived:
    Spark  `conv(substr(md5(x),1,15),16,10)::long`
    DuckDB `('0x'||substr(md5(x),1,15))::BIGINT`
  * all float outputs are `round(x, 6)` (4 for money sums);
  * tie-breaks: score desc, id asc (reference contract,
    jvector-base/.../graph/SearchResult.java:101-106).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- fixed reference query set for the BM25 queries (terms exist in the
# driver `documents` table vocabulary; mix of heavy and mid terms) ---------
BM25_QUERY_SET: list[tuple[int, list[str], int]] = [
    (0, ["spark", "join"], 10),
    (1, ["window"], 10),
    (2, ["stream", "batch", "merge"], 10),
    (3, ["customer", "order"], 10),
    (4, ["the", "fast"], 10),
    (5, ["hash", "scan", "sort", "table"], 100),
    (6, ["slow", "small", "big"], 100),
    (7, ["data", "query", "row"], 10),
]

STOPWORDS_SQL = "('the','a','of','to','and','in','is','for','on','with')"

# conjunctive (AND) query set: 'dup' (df~25, the planted near-dup docs)
# makes the conjunction genuinely selective; the OOV term exercises the
# strict-AND empty case
CONJ_QUERY_SET: list[tuple[int, list[str], int]] = [
    (0, ["spark", "join"], 10),
    (1, ["dup", "spark"], 10),
    (2, ["dup", "window", "stream"], 10),
    (3, ["hash", "scan", "sort", "table"], 100),
    (4, ["dup", "zz_oov_term"], 10),
]

# boolean query-language set (Lucene-style AND/OR/NOT + ^boost); exercises
# implicit AND, parens, negation, boosts, and OOV under AND/OR/NOT
BOOL_QUERY_SET: list[tuple[int, str, int]] = [
    (0, "spark AND (join OR window)", 10),
    (1, "stream batch NOT merge", 10),
    (2, "(customer OR order) AND NOT slow", 10),
    (3, "hash^2 OR scan", 100),
    (4, "dup AND NOT zz_oov_term", 10),
    (5, "zz_oov_term OR window", 10),
]

# fielded (BM25F-style) query set: mixes content terms with `source`
# field values (src0..src19, df=25 each) — metadata matches boost docs
FIELDED_QUERY_SET: list[tuple[int, list[str], int]] = [
    (0, ["spark", "src3"], 10),
    (1, ["window", "src7"], 10),
    (2, ["src0"], 10),
    (3, ["hash", "scan", "src12"], 100),
]
FIELD_WEIGHTS = {"text": 1.0, "source": 2.0}

ENTRY_INDEX_ROOT = "/tmp/jvector_spark_entry_index"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _qpdf(k_mult: int = 2, query_set=None) -> pd.DataFrame:
    """Query set with k scaled by `k_mult`: the engine truncates top-k on
    RAW float64 scores, while display ranking (and the oracle) order by
    round(score,6) — fetching 2k of slack means a <1e-6 score tie
    straddling the raw-k cutoff can never change rounded top-k membership
    (_rerank_rounded cuts back to the true k)."""
    return pd.DataFrame(
        [(qid, terms, k_mult * k)
         for qid, terms, k in (query_set or BM25_QUERY_SET)],
        columns=["qid", "terms", "k"],
    )


def _query_df(spark: SparkSession, k_mult: int = 2) -> DataFrame:
    return spark.createDataFrame(_qpdf(k_mult))


def _rerank_rounded(out: DataFrame, page: int = 0,
                    query_set=None) -> DataFrame:
    """Deterministic display ranking: order by (round(score,6) desc, docid)
    so rank agrees with the SQL oracle even where raw float64 sums differ
    in the last ulp between engines (summation order). `page` slices rows
    (page*k, (page+1)*k] of the rounded ordering."""
    from pyspark.sql import Window

    ks = {qid: k for qid, _, k in (query_set or BM25_QUERY_SET)}
    kmap = F.create_map(*[x for qid, k in ks.items()
                          for x in (F.lit(qid), F.lit(k))])
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("docid")
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") > F.lit(page) * kmap[F.col("qid")])
               & (F.col("rn") <= (F.lit(page) + 1) * kmap[F.col("qid")]))
        .select(
            F.col("qid").cast("long").alias("qid"),
            (F.col("rn") - 1 - F.lit(page) * kmap[F.col("qid")])
            .cast("int").alias("rank"),
            F.col("docid").cast("long").alias("docid"),
            F.round("score", 6).alias("score"),
        )
    )


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvector_spark.operators.postings import build_postings

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("docid"), "text"
    )
    return build_postings(docs, mode="simple", content_col="text")


def _input_sig(sf_dir: str, fname: str, extra: str = "") -> str:
    """Content signature for /tmp entry caches: sha256 of the fixture
    file bytes + the derivation parameters. Regenerated fixtures or
    changed constants invalidate the cache instead of silently serving
    stale artifacts (the stale-entry-cache class _ensure_index already
    guards for the segment index). The file digest is memoized per
    (path, mtime, size) — ~20 registry queries consult a cache through
    here, and rehashing the fixture bytes per lookup is repeated full
    -file driver IO for a value that cannot change mid-run."""
    import hashlib

    path = os.path.join(sf_dir, fname)
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    digest = _INPUT_SIG_MEMO.get(key)
    if digest is None:
        h = hashlib.sha256()
        with open(path, "rb") as f:
            h.update(f.read())
        digest = h.hexdigest()
        _INPUT_SIG_MEMO[key] = digest
    h = hashlib.sha256()
    h.update(digest.encode())
    h.update(extra.encode())
    return h.hexdigest()[:12]


_INPUT_SIG_MEMO: dict = {}


def _parquet_rows(sf_dir: str, fname: str) -> int:
    """Fixture row count from the parquet footer — one driver-side
    metadata read instead of a full Spark count() job (the technique
    _fixture_emb_dim already uses for the embedding dim)."""
    import pyarrow.parquet as papq

    return int(papq.ParquetFile(
        os.path.join(sf_dir, fname)).metadata.num_rows)


def _postings_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized postings: tokenize ONCE into a parquet table, then
    every consumer (dictionary, stats, scoring join) is a column-pruned
    parquet scan. This replaces the round-1 `.persist()` workaround —
    at 100 TB a cluster-memory pin of the full postings is a memory bill,
    while the materialized table is exactly the artifact an index build
    writes anyway (segments ARE materialized postings)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    sig = _input_sig(sf_dir, "documents.parquet", "postings|simple|v2")
    path = os.path.join(ENTRY_INDEX_ROOT, f"postings_{tag}_{sig}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _postings(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# --------------------------------------------------------------------------
# query functions
# --------------------------------------------------------------------------

def q_bm25_topk_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative BM25 path: pure DataFrame ops end to end."""
    from jvector_spark.operators.bm25 import bm25_topk
    from jvector_spark.operators.postings import (
        corpus_stats, doc_lengths, term_stats)

    # the plan consumes postings 3x (dictionary, stats, scoring join):
    # read them from the materialized table so each consumption is a
    # column-pruned parquet scan — no triple tokenization, no
    # cluster-memory persist (the round-1 workaround)
    postings = _postings_table(spark, sf_dir)
    stats = corpus_stats(doc_lengths(postings))
    out = bm25_topk(postings, term_stats(postings), stats, _query_df(spark))
    return _rerank_rounded(out)


def q_bm25_fielded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fielded (BM25F-style) search: weighted sum of per-field BM25 over
    the content tokens (weight 1.0) and the `source` metadata field
    (weight 2.0, its own df/avgdl stats) — the code-search pattern of
    boosting filename/metadata matches."""
    from jvector_spark.operators.bm25 import bm25_fielded_topk
    from jvector_spark.operators.postings import (
        corpus_stats, doc_lengths, term_stats)

    text_p = _postings_table(spark, sf_dir)
    src_p = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("docid"),
        F.col("source").alias("term"),
        F.lit(1).cast("int").alias("tf"),
        F.lit(1).cast("int").alias("dl"),
    )
    fields = [
        (text_p, term_stats(text_p), corpus_stats(doc_lengths(text_p)),
         FIELD_WEIGHTS["text"]),
        (src_p, term_stats(src_p), corpus_stats(doc_lengths(src_p)),
         FIELD_WEIGHTS["source"]),
    ]
    queries = spark.createDataFrame(_qpdf(query_set=FIELDED_QUERY_SET))
    out = bm25_fielded_topk(fields, queries)
    return _rerank_rounded(out, query_set=FIELDED_QUERY_SET)


def _ensure_cached_index(spark: SparkSession, sf_dir: str,
                         tag_suffix: str, sig_tail: str,
                         extra_valid, **build_kwargs) -> str:
    """ONE /tmp segment-index cache discipline for every index-backed
    query family: format-version + fixture-content signature (_input_sig
    — regenerated fixtures must invalidate, not just library bumps) +
    manifest-shape checks + every manifest segment's meta.json present,
    rebuild on ANY doubt (stale /tmp survives process restarts; "metrics"
    marks the current manifest shape).
    `extra_valid(manifest, index_dir) -> bool` adds the per-cache
    structural predicate; `build_kwargs` extend the shared build call.
    Parameterized so the staleness rules can never drift between the
    plain and NVQ-metadata caches."""
    import shutil

    from jvector_spark import SEGMENT_FORMAT_VERSION
    from jvector_spark.sources.segment import build_index, load_manifest

    tag = os.path.basename(os.path.normpath(sf_dir)) + tag_suffix
    index_dir = os.path.join(ENTRY_INDEX_ROOT, tag)
    sig = _input_sig(sf_dir, "documents.parquet",
                     extra=f"v{SEGMENT_FORMAT_VERSION}|simple|8|{sig_tail}")
    sig_path = os.path.join(index_dir, "_INPUT_SIG")
    if os.path.exists(os.path.join(index_dir, "manifest.json")):
        try:
            m = load_manifest(index_dir)
            cached_sig = (open(sig_path).read()
                          if os.path.exists(sig_path) else "")
            if (m.get("version") != SEGMENT_FORMAT_VERSION
                    or cached_sig != sig
                    or "metrics" not in m
                    or not all(os.path.exists(os.path.join(s["path"],
                                                           "meta.json"))
                               for s in m["segments"])
                    or not extra_valid(m, index_dir)):
                shutil.rmtree(index_dir, ignore_errors=True)
        except Exception:
            shutil.rmtree(index_dir, ignore_errors=True)
    if not os.path.exists(os.path.join(index_dir, "manifest.json")):
        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("docid"), "text",
            F.col("source"), F.col("lang"),
        )
        build_index(
            docs, index_dir, mode="simple", num_segments=8,
            content_col="text", key_cols=("source", "lang"),
            **build_kwargs,
        )
        with open(sig_path, "w") as f:
            f.write(sig)
    return index_dir


def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the segment index for a sf_dir under /tmp."""
    return _ensure_cached_index(
        spark, sf_dir, "", "pos",
        lambda m, d: (bool(m.get("has_positions"))
                      and os.path.exists(
                          os.path.join(d, "term_stats.parquet"))),
        positions=True)


def q_bm25_topk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed BM25 path: compressed segments + block-max pruned
    search (the OnDiskGraphIndex + GraphSearcher analog)."""
    from jvector_spark.operators.wand import search_index

    index_dir = _ensure_index(spark, sf_dir)
    out = search_index(spark, index_dir, _qpdf())
    return _rerank_rounded(out)


def q_bm25_topk_index_nvq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed BM25 over an NVQ-QUANTIZED dictionary (uint8 affine
    block-max metadata, segment.py _quantize_meta_stream — the analog of
    the reference's NVQuantization/NVQScorer lossy-metadata + exact-rerank
    path). Quantization is directional (tf up, dl down) so block pruning
    stays sound; results must hash-match the SAME full-precision BM25
    oracle — the quantization is visible only in dictionary size."""
    from jvector_spark.operators.wand import search_index

    index_dir = _ensure_cached_index(
        spark, sf_dir, "-nvq", "qmeta",
        lambda m, d: bool(m["segments"]),
        quantize_meta=True)
    out = search_index(spark, index_dir, _qpdf())
    return _rerank_rounded(out)


def q_bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered top-k: acceptOrds attribute bitmap applied inside the
    search (stats unchanged) — reference filtered-search semantics."""
    from jvector_spark.operators.wand import search_index

    index_dir = _ensure_index(spark, sf_dir)
    out = search_index(spark, index_dir, _qpdf(),
                       doc_filter={"lang": ["en", "de"]})
    return _rerank_rounded(out)


def q_bm25_topk_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-filtered top-k: ES-style numeric range predicate over a
    sidecar attribute (doc length standing in for the timestamp-range
    shape), pushed into the docs-parquet scan and applied in-search."""
    from jvector_spark.operators.wand import search_index

    index_dir = _ensure_index(spark, sf_dir)
    out = search_index(spark, index_dir, _qpdf(),
                       doc_filter={"dl": {"gte": 40, "lt": 80}})
    return _rerank_rounded(out)


def q_bm25_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) top-k: only docs containing EVERY query term,
    scored with the same exact BM25 sums (strict semantics: an OOV term
    empties the query)."""
    from jvector_spark.operators.wand import search_index

    index_dir = _ensure_index(spark, sf_dir)
    out = search_index(spark, index_dir, _qpdf(query_set=CONJ_QUERY_SET),
                       mode="and")
    return _rerank_rounded(out, query_set=CONJ_QUERY_SET)


def q_bm25_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean query language (operators/boolquery.py): Lucene-style
    AND/OR/NOT clause trees with per-term ^boosts, parsed on the driver,
    evaluated as posting-set algebra per segment, positive leaves scored
    with the exact BM25 sums (MUST_NOT never scores — Lucene contract).
    Oracle: the SAME ASTs translated to SQL by ast_to_sql_predicate."""
    from jvector_spark.operators.boolquery import boolean_search_index

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(
        [(qid, q, 2 * k) for qid, q, k in BOOL_QUERY_SET],
        columns=["qid", "query", "k"],
    )
    out = boolean_search_index(spark, index_dir, qpdf)
    return _rerank_rounded(out, query_set=BOOL_QUERY_SET)


def q_bm25_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold query: only scores >= 1.0 return; bound doubles as the
    pruning floor (GraphSearcher threshold mode)."""
    from jvector_spark.operators.wand import search_index

    index_dir = _ensure_index(spark, sf_dir)
    out = search_index(spark, index_dir, _qpdf(), min_score=1.0)
    return _rerank_rounded(out)


def q_bm25_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination: page 2 via search-after cursors taken from page 1's
    last row per query (the resume() analog)."""
    from jvector_spark.operators.wand import search_index

    index_dir = _ensure_index(spark, sf_dir)
    # page 2 consumes rounded ranks (k, 2k], so the RAW fetch needs the
    # k_mult=2 slack applied to 2k — i.e. 4k — or a <1e-6 tie straddling
    # the raw cutoff could change rounded rank-2k membership (the exact
    # failure class _qpdf documents; the raw `after` cursor API is
    # exercised bit-exactly in tests/test_search_modes.py)
    qpdf = pd.DataFrame(
        [(qid, terms, 4 * k) for qid, terms, k in BM25_QUERY_SET],
        columns=["qid", "terms", "k"],
    )
    out = search_index(spark, index_dir, qpdf)
    return _rerank_rounded(out, page=1)


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search: per query, the `lang` distribution of ALL matching
    docs (OR semantics), counted segment-locally from the docs-attribute
    sidecar — the only shuffle is (qid x facet-value) rows, corpus-size
    free (operators/facets.facet_counts)."""
    from jvector_spark.operators.facets import facet_counts

    index_dir = _ensure_index(spark, sf_dir)
    return facet_counts(spark, index_dir, _qpdf(), "lang")


def q_collapse_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapsing: top-k `source` GROUPS per query, each represented
    by its best-scoring doc (exact BM25, group-best is max so per-segment
    one-row-per-group reduction is lossless; ranked round(score,6) desc,
    docid asc like every search surface)."""
    from jvector_spark.operators.facets import collapse_topk, rank_collapsed

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = _qpdf(k_mult=1)
    return rank_collapsed(collapse_topk(spark, index_dir, qpdf, "source"))


# fuzzy (edit-distance) queries: misspellings whose Levenshtein
# neighborhoods in the documents vocabulary span 1..6 terms; the OOV
# neighborhood is empty (strict: no match within dist)
FUZZY_QUERY_SET: list[tuple[int, str, int, int]] = [
    (0, "sow", 2, 10),     # -> row, slow, sort
    (1, "pert", 2, 10),    # -> part, sort
    (2, "grup", 2, 10),    # -> dup, group
    (3, "bat", 2, 100),    # -> a, batch, big, data, fast, part
    (4, "spark", 1, 10),   # exact hit only
    (5, "zz_oov", 2, 10),  # empty neighborhood
]


def q_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy term search (operators/fuzzy.py): Levenshtein-bounded
    dictionary expansion over the term_stats hot tier (one vectorized-DP
    vocabulary scan for all queries), then exact BM25 OR-search over the
    expanded terms via the same block-max search_index path. Oracle:
    DuckDB `levenshtein` join against the distinct-term vocabulary."""
    from jvector_spark.operators.fuzzy import fuzzy_search_index

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(
        [(qid, t, d, 2 * k) for qid, t, d, k in FUZZY_QUERY_SET],
        columns=["qid", "term", "dist", "k"],
    )
    out = fuzzy_search_index(spark, index_dir, qpdf)
    return _rerank_rounded(
        out, query_set=[(qid, t, k) for qid, t, _, k in FUZZY_QUERY_SET])


# more-like-this: qid IS the source doc_id (present at every SF); the
# source doc is excluded in-search via the per-query exclude mask
MLT_SOURCE_IDS = [7, 123, 321]
MLT_K = 10
MLT_NUM_TERMS = 5


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-document (operators/mlt.py): the source doc's top-tf*idf
    terms become an OR query and the source excludes ITSELF inside the
    scorer — the self-exclusion predicate (the reference filters the
    query's own node out of results, GraphSearcher.java:202-214 Bits)."""
    from jvector_spark.operators.mlt import more_like_this

    index_dir = _ensure_index(spark, sf_dir)
    out = more_like_this(
        spark, index_dir, _docs(spark, sf_dir), MLT_SOURCE_IDS,
        k=2 * MLT_K, num_terms=MLT_NUM_TERMS,
    )
    return _rerank_rounded(
        out, query_set=[(d, [], MLT_K) for d in MLT_SOURCE_IDS])


# phrases present in the driver documents fixtures (whitespace tokens);
# the last one never matches (exercises the empty-result path)
PHRASE_QUERY_SET: list[tuple[int, str, int]] = [
    (0, "table hash", 10),
    (1, "customer join", 10),
    (2, "slow hash batch", 10),
    (3, "merge group", 100),
    (4, "zz no such phrase", 10),
]


# attribute-sort query set (OR match, order by doc length desc);
# the last query is fully OOV (empty result path)
SORT_QUERY_SET: list[tuple[int, list[str], int]] = [
    (0, ["spark", "join"], 10),
    (1, ["window"], 10),
    (2, ["hash", "scan"], 100),
    (3, ["zz_oov_term"], 10),
]


def q_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric stats aggregation over the match set (ES metrics-agg
    analog, operators/facets.attr_stats): per query, n/min/max/sum/avg of
    doc length over OR-matched docs. One partial row per (segment,query);
    the OOV query (qid 3) correctly yields no row."""
    from jvector_spark.operators.facets import attr_stats, match_count

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(
        [(qid, terms) for qid, terms, _ in SORT_QUERY_SET],
        columns=["qid", "terms"])
    out = attr_stats(spark, index_dir, qpdf, attr="dl")
    # the _count endpoint (operators/facets.match_count) rides along as
    # its own column: an independent code path whose value the oracle
    # checks against the same COUNT — one driver slot gates both
    cnt = match_count(spark, index_dir, qpdf).select(
        F.col("qid").cast("long"), F.col("n_docs").cast("long").alias("n_count"))
    return out.select(
        F.col("qid").cast("long"), F.col("n_docs").cast("long"),
        F.col("min_attr").cast("long"), F.col("max_attr").cast("long"),
        F.col("sum_attr").cast("long"), F.col("avg_attr"),
    ).join(cnt, "qid")


def q_match_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive match export (scroll/scan surface,
    operators/facets.match_export): every OR-matched (qid, docid), no
    top-k — shuffle-free (segments partition the docid space)."""
    from jvector_spark.operators.facets import match_export

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(
        [(qid, terms) for qid, terms, _ in SORT_QUERY_SET],
        columns=["qid", "terms"])
    out = match_export(spark, index_dir, qpdf)
    return out.select(F.col("qid").cast("long"), F.col("docid").cast("long"))


def q_match_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram aggregation over the match set (ES date_histogram shape,
    operators/facets.attr_histogram): doc-length bins of width 10."""
    from jvector_spark.operators.facets import attr_histogram

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(
        [(qid, terms) for qid, terms, _ in SORT_QUERY_SET],
        columns=["qid", "terms"])
    out = attr_histogram(spark, index_dir, qpdf, attr="dl", bin_width=10)
    return out.select(
        F.col("qid").cast("long"), F.col("bin").cast("long"),
        F.col("n_docs").cast("long"))


# (query term, max edit distance, n suggestions); "scan" is in-vocabulary
# (its own dist-0 row must rank first)
SUGGEST_QUERY_SET: list[tuple[int, str, int, int]] = [
    (0, "spak", 1, 5),
    (1, "window", 1, 5),
    (2, "hsah", 2, 5),
    (3, "scan", 1, 5),
]


def q_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spell suggestion (operators/fuzzy.suggest_terms): top-n dictionary
    terms per query term ranked (edit distance asc, df desc, term asc) —
    Lucene DirectSpellChecker over the term_stats hot tier."""
    from jvector_spark.operators.fuzzy import suggest_terms

    index_dir = _ensure_index(spark, sf_dir)
    # honor each query's OWN n (the oracle does): one suggest_terms call
    # per distinct n — a single global n silently truncated any query
    # whose n differed from the first entry's
    parts = []
    for n in sorted({n for *_, n in SUGGEST_QUERY_SET}):
        qs = {qid: (t, d) for qid, t, d, nn in SUGGEST_QUERY_SET
              if nn == n}
        parts.append(suggest_terms(index_dir, qs, n=n))
    pdf = (pd.concat(parts, ignore_index=True)
           .sort_values(["qid", "rank"]).reset_index(drop=True))
    return spark.createDataFrame(
        pdf, "qid long, rank int, term string, dist long, df long")


def q_sorted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-by-attribute search (operators/facets.sorted_search): OR-matched
    docs ranked by doc length desc (the Lucene Sort / ES sort-by-field
    analog, with dl standing in for a timestamp column)."""
    from jvector_spark.operators.facets import sorted_search

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(SORT_QUERY_SET, columns=["qid", "terms", "k"])
    out = sorted_search(spark, index_dir, qpdf, attr="dl")
    return out.select(
        F.col("qid").cast("long"), F.col("rank").cast("int"),
        F.col("docid").cast("long"), F.col("sort_key").cast("long"),
    )


# unordered term sets + window size; qid 4 pairs an OOV term with a real
# one (conjunctive candidates -> empty result path)
PROX_QUERY_SET: list[tuple[int, list[str], int, int]] = [
    (0, ["table", "hash"], 5, 10),
    (1, ["customer", "join"], 8, 10),
    (2, ["slow", "batch"], 6, 10),
    (3, ["merge", "group"], 12, 100),
    (4, ["zz_oov_term", "window"], 5, 10),
]


def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered within-window proximity over positional postings
    (operators/proximity.py) — the sloppy-phrase analog; second consumer
    of the per-posting payload stream."""
    from jvector_spark.operators.proximity import proximity_search

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(
        PROX_QUERY_SET, columns=["qid", "terms", "window", "k"])
    out = proximity_search(spark, index_dir, qpdf)
    return out.select(
        F.col("qid").cast("long"), F.col("rank").cast("int"),
        F.col("docid").cast("long"), F.col("n_matches").cast("long"),
    )


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase queries over positional postings (per-posting payload
    stream — the Feature-plugin analog): rank by match count."""
    from jvector_spark.operators.phrase import phrase_search

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(PHRASE_QUERY_SET, columns=["qid", "phrase", "k"])
    out = phrase_search(spark, index_dir, qpdf)
    return out.select(
        F.col("qid").cast("long"), F.col("rank").cast("int"),
        F.col("docid").cast("long"), F.col("n_matches").cast("long"),
    )


# token regexes over the documents vocabulary; unanchored search semantics
# in BOTH engines (python re.search / DuckDB-RE2 regexp_matches); the last
# pattern matches nothing
REGEX_QUERY_SET: list[tuple[int, str, int]] = [
    (0, "^sc", 10),
    (1, "le$", 10),
    (2, "^..st$", 100),
    (3, "a.*e", 10),
    (4, "zzz_never", 10),
]


def q_regex_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grep-style token-regex search: dictionary-driven term expansion
    (the hot-tier vocabulary scan), matched-term posting aggregation,
    rank by total matching-token occurrences."""
    from jvector_spark.operators.regex import regex_token_topk

    index_dir = _ensure_index(spark, sf_dir)
    qpdf = pd.DataFrame(REGEX_QUERY_SET, columns=["qid", "pattern", "k"])
    out = regex_token_topk(spark, index_dir, qpdf)
    return out.select(
        F.col("qid").cast("long"), F.col("rank").cast("int"),
        F.col("docid").cast("long"), F.col("n_occ").cast("long"),
    )


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pipeline: index-backed BM25 top-k -> join back to the
    source table -> first-match position + ±3-token snippet per result
    (the result-rendering surface; index stores postings, text stays in
    the source of truth)."""
    from jvector_spark.operators.snippets import first_match_snippets

    res = q_bm25_topk_index(spark, sf_dir).select("qid", "docid")
    queries = spark.createDataFrame(
        pd.DataFrame(
            [(qid, terms) for qid, terms, _ in BM25_QUERY_SET],
            columns=["qid", "terms"],
        )
    )
    out = first_match_snippets(_docs(spark, sf_dir), res, queries, window=3)
    return out.select(
        F.col("qid").cast("long"), F.col("docid").cast("long"),
        F.col("first_pos").cast("long"), "snippet",
    )


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvector_spark.operators.postings import term_stats

    return term_stats(_postings(spark, sf_dir)).select(
        "term", F.col("df").cast("long"), F.col("cf").cast("long")
    )


def q_term_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — must equal q_term_stats exactly."""
    from jvector_spark.operators.postings import term_stats_salted

    return term_stats_salted(_postings(spark, sf_dir)).select(
        "term", F.col("df").cast("long"), F.col("cf").cast("long")
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvector_spark.operators.postings import corpus_stats, doc_lengths

    return corpus_stats(doc_lengths(_postings(spark, sf_dir))).select(
        F.col("n_docs").cast("long"), F.round("avgdl", 6).alias("avgdl")
    )


def q_docids_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallelism-stable dense docid assignment (ordinal analog) joined
    with per-doc lengths — two same-grain primitives, one gated query."""
    from jvector_spark.operators.ids import assign_dense_docids
    from jvector_spark.operators.postings import doc_lengths

    ids = assign_dense_docids(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        key_cols=("lang", "doc_id"),
    ).select(F.col("doc_id").cast("long"), F.col("docid").cast("long"))
    dl = doc_lengths(_postings(spark, sf_dir)).select(
        F.col("docid").cast("long").alias("doc_id"), F.col("dl").cast("long")
    )
    return ids.join(dl, "doc_id")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + subword counting + quality scoring + language-id
    in ONE gated query: all four operators are same-grain per-doc maps,
    so two joins keep all of them oracle-checked without spending extra
    driver slots (the driver caps its run at 50 queries; r5 folded the
    former quality_lang entry in here to free a slot for
    graph_lifecycle). quality_lang_table's n_tokens duplicates
    token_counts' and is dropped from the join side."""
    from jvector_spark.operators.textstats import (
        quality_lang_table, subword_stats, token_counts)

    docs = _docs(spark, sf_dir)
    return (token_counts(docs)
            .join(subword_stats(docs), "doc_id")
            .join(quality_lang_table(docs).drop("n_tokens"), "doc_id"))


def q_doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every per-doc signature the pipeline computes, in one gated row
    set: exact md5, winnowing fingerprint, content sha256 (the per-row
    reference invariant), simhash, and the XOR of the minhash lanes (gating
    the full signature family with no int64-overflow divergence — any
    lane error flips bits; both engines XOR exactly).

    Computed by textstats.signature_table as ONE map-side projection over
    one scan — the joined-per-family form costs four extra corpus scans
    and four doc_id shuffles at 100 TB for zero semantic difference."""
    from jvector_spark.operators.textstats import signature_table

    return signature_table(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "content_md5", "winnow_fp",
        "content_sha", F.col("simhash").cast("long"), "minhash_xor")


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf keywords per doc (training-data summarization)."""
    from jvector_spark.operators.textstats import doc_keywords

    return doc_keywords(_docs(spark, sf_dir), top_k=5).select(
        F.col("doc_id").cast("long"), F.col("rank").cast("int"),
        "term", F.col("tfidf_ppm").cast("long"),
    )


SAMPLE_FRACTIONS = {"en": 0.3, "de": 0.5, "fr": 0.5, "es": 0.5}  # zh drops


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: docs stream in id order into
    2048-token training bins (bin/offset of each doc's first token)."""
    from jvector_spark.operators.textstats import sequence_pack

    return sequence_pack(_docs(spark, sf_dir), max_tokens=2048).select(
        F.col("doc_id").cast("long"), "n_tokens", "bin", "offset",
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: flag training docs sharing an 8-gram with the
    pseudo-eval set (doc_id % 41 == 0 stands in for a benchmark). The
    eval docs flag themselves; their planted near-dups also collide."""
    from jvector_spark.operators.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    eval_docs = docs.where(F.col("doc_id") % 41 == 0)
    return decontaminate(docs, eval_docs).select(
        F.col("doc_id").cast("long"), F.col("n_hits").cast("long")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sample: downsample the
    over-represented 'en' stratum, drop 'zh' (absent from fractions) —
    the balanced-training-corpus primitive, pure map-side filter."""
    from jvector_spark.operators.textstats import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), SAMPLE_FRACTIONS, strata_col="lang"
    ).select(F.col("doc_id").cast("long"), "lang")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvector_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), F.col("dup_group").cast("long"),
        F.col("group_size").cast("long"),
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvector_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir)).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long")
    )


def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    LSH pair graph via iterative min-label propagation (transitivity:
    A~B, B~C -> one cluster). Oracle: WITH RECURSIVE reachability."""
    from jvector_spark.operators.dedup import near_dup_groups

    return near_dup_groups(_docs(spark, sf_dir), min_jaccard=0.5).select(
        F.col("doc_id").cast("long"), F.col("dup_group").cast("long")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard >= 0.5 over the whole corpus (the all-pairs
    verifier; the fixture plants ~25 near-dup pairs at jaccard >= 0.9)."""
    from jvector_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), min_jaccard=0.5).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"), "jaccard_ppm"
    )


def q_lsh_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed near-dup pipeline: MinHash-LSH candidates -> exact Jaccard
    verify (candidates only). The driver oracle (_lsh_verified_oracle) is
    the PIPELINE MIRROR in SQL — it checks cross-engine consistency, not
    recall. Ground-truth recall vs the all-pairs truth set is asserted in
    tests/test_near_dup.py (≥0.9; 24/25 planted pairs, the one miss
    analytically documented there)."""
    from jvector_spark.operators.dedup import lsh_verified_pairs

    return lsh_verified_pairs(_docs(spark, sf_dir), min_jaccard=0.5).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"), "jaccard_ppm"
    )


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH exact-search modes in one gated query (mode column):
    'topk' = plain exact cosine top-10; 'threshold' = up to 10 results
    with cosine >= 0.3 — the GraphSearcher threshold overload's
    semantics (GraphSearcher.java:192-195; its probabilistic-stop beam
    variant, TwoPhaseTracker.shouldStop:130-143, lives in
    operators/graph.py and is pytest-gated since the early stop is not
    SQL-expressible). 0.3 discriminates on the fixtures: some queries
    clear it <10 times, so the filter is genuinely exercised."""
    from jvector_spark.operators.ann import (
        brute_force_threshold, brute_force_topk)

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cols = [F.col("qid").cast("long"), F.col("rank"),
            F.col("vec_id").cast("long"), F.col("score")]
    topk = brute_force_topk(emb, queries, k=10).select(
        F.lit("topk").alias("mode"), *cols)
    thr = brute_force_threshold(emb, queries, threshold=0.3, k=10).select(
        F.lit("threshold").alias("mode"), *cols)
    return topk.unionByName(thr)


def q_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH IVF execution shapes in one gated query (tier column):
    'flat' = in-plan IVF (cells via a broadcast centroid assignment) and
    'partitioned' = IVF over a CLUSTER-PARTITIONED corpus layout, where
    probes prune partition directories (PartitionFilters — no IO for
    unprobed clusters). nprobe == n_clusters -> both exact, so the
    brute-force oracle applies to each tier."""
    from jvector_spark.operators.ann import (
        ivf_topk, ivf_topk_partitioned, train_centroids, write_ivf_index)

    emb = _emb(spark, sf_dir)
    cents = train_centroids(emb, n_clusters=8, seed=42)
    tag = os.path.basename(os.path.normpath(sf_dir))
    sig = _input_sig(sf_dir, "embeddings.parquet", "ivf|k8|seed42|v1")
    path = os.path.join(ENTRY_INDEX_ROOT, f"ivf_{tag}_{sig}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_ivf_index(emb, path, cents)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cols = [F.col("qid").cast("long"), F.col("rank"),
            F.col("vec_id").cast("long"), F.col("score")]
    flat = ivf_topk(emb, queries, cents, k=10, nprobe=len(cents)).select(
        F.lit("flat").alias("tier"), *cols)
    part = ivf_topk_partitioned(
        spark, path, queries, cents, k=10, nprobe=len(cents)
    ).select(F.lit("partitioned").alias("tier"), *cols)
    return flat.unionByName(part)


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via the BUCKETED path: random-hyperplane LSH
    candidate generation + exact cosine verify of candidates only (no
    crossJoin anywhere — pytest-asserted). The oracle mirrors the banding
    semantics with the same hyperplane constants, so the candidate set
    (not just the scores) is engine-identical."""
    from jvector_spark.operators.ann import embedding_lsh_near_dup

    return embedding_lsh_near_dup(_emb(spark, sf_dir), threshold=0.4).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "score"
    )


def q_ann_compressed_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase compressed search, ALL THREE compression tiers in one
    gated query (tier column): 'pq' = ADC approximate scan + exact cosine
    rerank (the DiskANN compressed-search pattern, SURVEY §3.2); 'nvq' =
    per-vector 8-bit affine codes scanned via pure Catalyst dequantized
    cosine + the same exact rerank (NVQuantization.java:42-155 /
    NVQScorer.java); 'bq' = 1-bit sign codes + Hamming prefilter
    (BinaryQuantization.java:88-110), also pure Catalyst — the reference
    ships PQ, NVQ and BQ behind one VectorCompressor SPI with the same
    two-phase contract. Each tier emits EXACT cosine ranks whenever its
    survivor set contains the true top-k (rerankK >= topK contract,
    GraphSearcher.search:209) — rerank_k = max(100, n/5) makes that hold
    (pytest-asserted, tests/test_pq.py + tests/test_nvq.py), so the
    brute-force SQL oracle applies to both tiers. Supersedes r2's
    ann_pq_rerank (the pq tier is that query unchanged)."""
    from jvector_spark.operators.nvq import nvq_encode, nvq_rerank_topk
    from jvector_spark.operators.pq import (
        load_codebooks, pq_adc_topk, pq_encode, save_codebooks, train_pq)

    emb = _emb(spark, sf_dir)
    # versioned codebook store: train once, then reopen across sessions
    # (ProductQuantization.write/load contract)
    tag = os.path.basename(os.path.normpath(sf_dir))
    sig = _input_sig(sf_dir, "embeddings.parquet", "pq|m8|seed42|v1")
    book_path = os.path.join(ENTRY_INDEX_ROOT, f"pq_{tag}_{sig}.bin")
    books = None
    if os.path.exists(book_path):
        try:
            books = load_codebooks(book_path)
        except (ValueError, OSError):
            books = None
    if books is None:
        books = train_pq(emb, m=8, seed=42)
        os.makedirs(ENTRY_INDEX_ROOT, exist_ok=True)
        save_codebooks(book_path, books)
    enc = pq_encode(emb, books)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    # survivor budget scales with the corpus (20% scan floor at 100) so
    # the ADC set keeps covering the exact top-10 at every fixture sf —
    # still a 5x+ scan reduction vs brute force
    n_emb = _parquet_rows(sf_dir, "embeddings.parquet")
    rerank_k = max(100, n_emb // 5)
    pq_res = pq_adc_topk(enc, queries, books, k=10, rerank_k=rerank_k).select(
        F.lit("pq").alias("tier"), F.col("qid").cast("long"), "rank",
        F.col("vec_id").cast("long"), "score",
    )
    nvq_res = nvq_rerank_topk(
        nvq_encode(emb), queries, k=10, rerank_k=rerank_k,
    ).select(
        F.lit("nvq").alias("tier"), F.col("qid").cast("long"), "rank",
        F.col("vec_id").cast("long"), "score",
    )
    # 'bq' = 1-bit/dim sign codes + Hamming prefilter + the same exact
    # rerank (BinaryQuantization.java:88-110 / BQVectors.java:117). One
    # sign bit per dim is the coarsest tier the reference ships — on this
    # isotropic-Gaussian 64-dim fixture (BQ's worst case; the reference
    # scopes BQ to specific embedding models) the covering survivor
    # budget is 55% (asserted at all fixture SFs, tests/test_bq.py), so
    # the win here is the 64x narrower phase-1 scan column, not the
    # survivor count.
    from jvector_spark.operators.bq import bq_encode, bq_topk

    bq_res = bq_topk(
        bq_encode(emb), queries, k=10,
        rerank_k=max(256, -(-n_emb * 11 // 20)),
    ).select(
        F.lit("bq").alias("tier"), F.col("qid").cast("long"), "rank",
        F.col("vec_id").cast("long"), "score",
    )
    return pq_res.unionByName(nvq_res).unionByName(bq_res)


def q_ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-structured ANN (per-cluster Vamana-style graph + in-task
    beam search + exact rerank — the reference's core algorithm,
    GraphIndexBuilder/GraphSearcher, re-expressed as a cluster-
    partitioned Spark layout; operators/graph.py). ef scales with the
    corpus so the beam's candidate union provably covers the exact
    top-10 on the fixtures (pytest-asserted at sf0.001/sf0.01,
    tests/test_graph_ann.py::test_entry_covering) — the rerank then
    emits exact cosine ranks and the brute-force SQL oracle applies
    (the rerankK >= topK contract, GraphSearcher.search:209)."""
    import shutil

    from jvector_spark.operators.ann import train_centroids
    from jvector_spark.operators.graph import build_graph_index, graph_topk

    emb = _emb(spark, sf_dir)
    cents = train_centroids(emb, n_clusters=8, seed=42)
    tag = os.path.basename(os.path.normpath(sf_dir))
    sig = _input_sig(sf_dir, "embeddings.parquet", "graph|k8|R16|seed42|v1")
    path = os.path.join(ENTRY_INDEX_ROOT, f"graph_{tag}_{sig}.parquet")
    # cache-valid needs BOTH artifacts: _SUCCESS lands at the parquet
    # write but _GRAPH_META.json only after the medoid job — a crash in
    # between would otherwise wedge the cache permanently (the stale
    # -entry-cache class _ensure_index guards for the segment index)
    if not (os.path.exists(os.path.join(path, "_SUCCESS"))
            and os.path.exists(os.path.join(path, "_GRAPH_META.json"))):
        shutil.rmtree(path, ignore_errors=True)
        build_graph_index(emb, path, cents, R=16, alpha=1.2)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ef = max(128, _parquet_rows(sf_dir, "embeddings.parquet") // 4)
    return graph_topk(spark, path, queries, cents, k=10,
                      nprobe=8, ef=ef).select(
        F.col("qid").cast("long"), "rank", F.col("vec_id").cast("long"),
        "score")


def q_graph_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph tier's WRITE path gated end-to-end by one oracle query —
    the vector-side analog of lifecycle_search and of the reference's
    mutate-then-search tests (GraphIndexBuilder.addGraphNode:594-665,
    removeDeletedNodes:695-805 / FreshDiskANN §4.2, TestDeletions):
    build over vec_id % 13 != 5 -> incremental INSERT of the held-out
    %13 == 5 batch -> 2-phase DELETE of vec_id % 7 == 3 (phase 'masked':
    tombstones flagged in-search, deleted nodes navigable but never
    returned; phase 'purged': edge-repaired cleanup with the i->k bridge
    for i->j->k over deleted j) -> covering-ef search at both phases.
    Both phases are rank-identical to brute-force cosine over the live
    membership (all vec_ids with %7 != 3 — covering asserted on the
    fixtures by tests/test_graph_lifecycle.py), so the brute-force SQL
    oracle applies to each phase.

    Deliberately NOT cached: the point is exercising the mutations."""
    import shutil
    import tempfile

    from jvector_spark.operators.ann import train_centroids
    from jvector_spark.operators.graph import (
        build_graph_index, graph_topk, insert_into_graph,
        mark_deleted_graph, purge_deleted_graph)

    emb = _emb(spark, sf_dir)
    cents = train_centroids(emb, n_clusters=8, seed=42)
    tmp = tempfile.mkdtemp(prefix="jv_glifecycle_")
    path = os.path.join(tmp, "graph")
    try:
        build_graph_index(emb.where("vec_id % 13 != 5"), path, cents,
                          R=16, alpha=1.2)
        insert_into_graph(spark, path, emb.where("vec_id % 13 = 5"), cents)
        mark_deleted_graph(spark, path,
                           emb.where("vec_id % 7 = 3").select("vec_id"))
        queries = emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        ef = max(128, _parquet_rows(sf_dir, "embeddings.parquet") // 4)
        masked = graph_topk(spark, path, queries, cents, k=10,
                            nprobe=8, ef=ef).toPandas()
        purge_deleted_graph(spark, path)
        purged = graph_topk(spark, path, queries, cents, k=10,
                            nprobe=8, ef=ef).toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = pd.concat([masked.assign(phase="masked"),
                     purged.assign(phase="purged")], ignore_index=True)
    return spark.createDataFrame(
        out[["phase", "qid", "rank", "vec_id", "score"]],
        "phase string, qid long, rank int, vec_id long, score double")


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation: quality gate + exact-dup removal
    (keep the smallest doc_id per md5 group) in one declarative plan."""
    from jvector_spark.operators.dedup import exact_dup_groups
    from jvector_spark.operators.textstats import quality_scores

    docs = _docs(spark, sf_dir)
    q = quality_scores(docs)
    d = exact_dup_groups(docs)
    return (
        q.join(d, "doc_id")
        .where((F.col("quality_ppm") >= 640000)
               & (F.col("doc_id") == F.col("dup_group")))
        .select(F.col("doc_id").cast("long"), F.col("n_tokens"),
                F.col("quality_ppm"))
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column multimodal plumbing: Arrow-batched mapInPandas decode
    (deterministic stub — see operators/multimodal.py)."""
    from jvector_spark.operators.multimodal import (
        extract_image_features, with_payload)

    return extract_image_features(with_payload(_docs(spark, sf_dir)))


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jvector_spark.operators.multimodal import sample_frames, with_payload

    return sample_frames(with_payload(_docs(spark, sf_dir)))


def q_events_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup + per-user activity in one gated union (both are
    partial+final aggregations over the same events scan; a `grain` tag
    keys the two row families). Null-free padding: the hourly grain
    repeats its bucket as first/last hour and uses '' for the user-grain
    string key, so the cross-engine hash needs no null canonicalization."""
    from jvector_spark.operators.events import hourly_rollup, user_activity

    ev = _events(spark, sf_dir)
    hourly = hourly_rollup(ev).select(
        F.lit("hourly").alias("grain"),
        F.col("bucket_hour").cast("long").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n_events").cast("long"),
        F.col("n_users").cast("long").alias("n_distinct"),
        F.col("sum_value"),
        F.col("bucket_hour").cast("long").alias("first_hour"),
        F.col("bucket_hour").cast("long").alias("last_hour"),
    )
    users = user_activity(ev).select(
        F.lit("user").alias("grain"),
        F.col("user_id").cast("long").alias("k1"),
        F.lit("").alias("k2"),
        F.col("n_events").cast("long"),
        F.col("n_types").cast("long").alias("n_distinct"),
        F.col("total_value").alias("sum_value"),
        F.col("first_hour").cast("long"),
        F.col("last_hour").cast("long"),
    )
    return hourly.unionByName(users)


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of the applyInPandasWithState
    streaming operator)."""
    from jvector_spark.operators.events import sessionize

    return sessionize(_events(spark, sf_dir), gap_minutes=30).select(
        F.col("user_id").cast("long"), F.col("session_idx").cast("long"),
        F.col("n_events").cast("long"), "sum_value", "start_sec", "end_sec",
    )


# lifecycle query set: qid 1 targets the replacement marker term, so the
# replaced docs' NEW content must be searchable for the query to pass
LIFECYCLE_QUERY_SET: list[tuple[int, list[str], int]] = [
    (0, ["spark", "join"], 10),
    (1, ["lifecyclemarker"], 10),
    (2, ["window"], 10),
]


def q_lifecycle_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 write path gated end-to-end by one oracle query, BOTH
    mutation regimes as phases: build -> 2-phase DELETE (doc_id % 17) ->
    REPLACE (doc_id % 23: new content, RESURRECTING the %391 overlap ids
    deleted in the prior step) -> COMPACTION (purge + dense renumber +
    epoch flip) -> BM25 search over the surviving corpus.

    phase='crud' = tombstone-journal replace_docs then compact_in_place
    (the addGraphNode/markNodeDeleted incremental regime); phase='bulk' =
    replace_docs_bulk (the buildAndMergeNewNodes MERGE-INTO regime: the
    same live-key match, purged by a compaction into a fresh index THEN
    append). The two regimes converge to the SAME final index — survivors
    keep their relative order, replacements land at the tail in key
    order — so one DuckDB twin gates both (new docids = max(doc_id)+1 +
    rank of the replaced doc_id, final docids = rank over pre-compact
    docid; TestOnDiskGraphIndex.testRenumberingOnDelete:94-143).

    Deliberately NOT cached: the whole point is exercising mutations, so
    the indexes build fresh in temp dirs and results materialize before
    cleanup."""
    import shutil
    import tempfile

    from jvector_spark.operators.wand import search_index
    from jvector_spark.plans.merge import (
        compact_in_place, mark_deleted, replace_docs, replace_docs_bulk)
    from jvector_spark.sources.segment import build_index

    def mutate_and_search(strategy: str) -> pd.DataFrame:
        root = tempfile.mkdtemp(prefix=f"jv_lifecycle_{strategy}_")
        idx = os.path.join(root, "v1")
        try:
            base = _docs(spark, sf_dir).select(
                F.col("doc_id").cast("long").alias("docid"),
                F.col("doc_id").cast("long"), "text")
            build_index(base, idx, mode="simple", num_segments=4,
                        content_col="text", key_cols=("doc_id",))
            doomed = [int(r[0]) for r in _docs(spark, sf_dir)
                      .where(F.col("doc_id") % 17 == 0)
                      .select("doc_id").collect()]
            mark_deleted(idx, doomed)
            new_docs = (_docs(spark, sf_dir)
                        .where(F.col("doc_id") % 23 == 0)
                        .select(F.col("doc_id").cast("long"),
                                F.concat(F.col("text"),
                                         F.lit(" lifecyclemarker"))
                                .alias("text")))
            if strategy == "crud":
                # mode / positions / key_cols default from the live config
                replace_docs(spark, idx, new_docs, content_col="text")
                compact_in_place(spark, idx, vacuum_min_age_sec=0)
                final = idx
            else:
                final = os.path.join(root, "v2")
                replace_docs_bulk(spark, idx, new_docs, final,
                                  content_col="text")
            out = search_index(spark, final,
                               _qpdf(query_set=LIFECYCLE_QUERY_SET))
            return _rerank_rounded(
                out, query_set=LIFECYCLE_QUERY_SET).toPandas()
        finally:
            shutil.rmtree(root, ignore_errors=True)

    pdf = pd.concat([mutate_and_search("crud").assign(phase="crud"),
                     mutate_and_search("bulk").assign(phase="bulk")],
                    ignore_index=True)
    return spark.createDataFrame(
        pdf[["phase", "qid", "rank", "docid", "score"]],
        "phase string, qid long, rank int, docid long, score double")


# --------------------------------------------------------------------------
# driver API
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: index-backed BM25 top-k on sf0.001."""
    return q_bm25_topk_index(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries — the round-3 driver run checked the first 50
    of this dict in insertion order and silently dropped the rest, so the
    registry is pinned at the cap: same-grain per-doc queries are merged
    into joint gated queries (token+subword, quality+lang, the signature
    family, docids+doclen, hourly+user rollups, stats+count) rather than
    spending one slot each. Every merged operator still hash-checks
    against the oracle through its columns."""
    q = {
        "bm25_topk_df": q_bm25_topk_df,
        "bm25_topk_index": q_bm25_topk_index,
        "bm25_topk_index_nvq": q_bm25_topk_index_nvq,
        "bm25_topk_filtered": q_bm25_topk_filtered,
        "bm25_topk_range": q_bm25_topk_range,
        "bm25_conjunctive": q_bm25_conjunctive,
        "bm25_boolean": q_bm25_boolean,
        "bm25_fielded": q_bm25_fielded,
        "bm25_threshold": q_bm25_threshold,
        "bm25_search_after": q_bm25_search_after,
        "lifecycle_search": q_lifecycle_search,
        "facet_counts": q_facet_counts,
        "collapse_source": q_collapse_source,
        "sorted_search": q_sorted_search,
        "match_stats": q_match_stats,
        "match_histogram": q_match_histogram,
        "match_export": q_match_export,
        "suggest_terms": q_suggest_terms,
        "fuzzy_search": q_fuzzy_search,
        "more_like_this": q_more_like_this,
        "phrase_search": q_phrase_search,
        "proximity_search": q_proximity_search,
        "regex_search": q_regex_search,
        "search_snippets": q_search_snippets,
        "term_stats": q_term_stats,
        "term_stats_salted": q_term_stats_salted,
        "corpus_stats": q_corpus_stats,
        "docids_doclen": q_docids_doclen,
        "token_stats": q_token_stats,
        "doc_signatures": q_doc_signatures,
        "doc_keywords": q_doc_keywords,
        "stratified_sample": q_stratified_sample,
        "decontaminate": q_decontaminate,
        "sequence_pack": q_sequence_pack,
        "dedup_exact": q_dedup_exact,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "lsh_jaccard_verified": q_lsh_jaccard_verified,
        "near_dup_groups": q_near_dup_groups,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_ivf_partitioned": q_ann_ivf_partitioned,
        "embed_near_dup": q_embed_near_dup,
        "ann_compressed_rerank": q_ann_compressed_rerank,
        "ann_graph_topk": q_ann_graph_topk,
        "graph_lifecycle": q_graph_lifecycle,
        "curation_pipeline": q_curation_pipeline,
        "image_features": q_image_features,
        "frame_sample": q_frame_sample,
        "events_rollups": q_events_rollups,
        "events_sessionize": q_events_sessionize,
    }
    assert len(q) <= 50, len(q)
    return q


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; tables pre-registered as views)
# --------------------------------------------------------------------------

# tokenization CTEs shared by the text queries: split on space, drop empties
_TOK = (
    "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
    "FROM documents), tokf AS (SELECT doc_id, term FROM tok WHERE term <> '')"
)
_TF = (
    "tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tokf "
    "GROUP BY 1, 2)"
)
_DL = "dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tokf GROUP BY 1)"

_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# distinct 3-shingles per doc (matches operators/dedup.shingles_col)
_SHINGLES = (
    "tl AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x <> '') AS ts FROM documents), "
    "sh AS (SELECT doc_id, CASE WHEN len(ts) >= 3 THEN "
    "list_distinct(list_transform(range(len(ts) - 2), "
    "i -> array_to_string(list_slice(ts, i + 1, i + 3), ' '))) "
    "ELSE [array_to_string(ts, ' ')] END AS shs FROM tl), "
    "she AS (SELECT doc_id, unnest(shs) AS s FROM sh)"
)

# minhash signatures: ONE md5 base hash per shingle, then 8 affine-universal
# transforms (exact int64 arithmetic — mirrors dedup.AFFINE_HASH_PARAMS)
def _affine_values_sql() -> str:
    from jvector_spark.operators.dedup import AFFINE_HASH_PARAMS, NUM_MINHASHES

    # first NUM_MINHASHES only: the signature/LSH-pairs oracles mirror the
    # 8-hash default (the 16-hash extension family is used by the
    # LSH->verify pipeline, whose oracle is all-pairs jaccard instead)
    return ", ".join(
        f"({j}, {a}, {b}, {c})"
        for j, (a, b, c) in enumerate(AFFINE_HASH_PARAMS[:NUM_MINHASHES])
    )


_MINHASH = (
    _SHINGLES + ", "
    "bh AS (SELECT doc_id, " + _H60.format(x="s") + " AS hv FROM she), "
    "hp(j, a, b, c) AS (VALUES " + _affine_values_sql() + "), "
    "mh AS (SELECT doc_id, j, "
    "min((a * (hv >> 30) + b * (hv & 1073741823) + c) % 2305843009213693951) "
    "AS minhash FROM bh CROSS JOIN hp GROUP BY 1, 2)"
)


def _bm25_oracle(accept_where: str = "", score_floor: float | None = None,
                 page: int = 0, conjunctive: bool = False,
                 query_set=None, accept_subquery: str = "") -> str:
    """BM25 top-k oracle; variants share one template:
    accept_where — SQL predicate over `documents d` restricting result
                   docs (NOT the stats — matches engine acceptOrds);
    accept_subquery — full `SELECT doc_id ...` subquery restricting result
                   docs (for predicates over DERIVED columns like dl that
                   aren't on the documents table — the range-filter oracle);
    score_floor  — threshold-query mode;
    page         — search-after page p returns global ranks (p*k, (p+1)*k];
    conjunctive  — AND semantics: docs must match every query term
                   (count(DISTINCT term) per doc == the query's term count,
                   so an OOV term empties the query — strict AND).
    """
    vals = ", ".join(
        f"({qid}, '{t}', {k})"
        for qid, terms, k in (query_set or BM25_QUERY_SET) for t in terms
    )
    accept = (
        f"AND doc_id IN (SELECT doc_id FROM documents d WHERE {accept_where})"
        if accept_where else ""
    )
    if accept_subquery:
        accept += f" AND doc_id IN ({accept_subquery})"
    floor = f"AND score >= {score_floor!r}" if score_floor is not None else ""
    conj = "AND nt = m" if conjunctive else ""
    return f"""
WITH {_TOK}, {_TF}, {_DL},
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(qid, term, k) AS (VALUES {vals}),
nq AS (SELECT qid, count(*) AS m FROM q GROUP BY 1),
scored AS (
  SELECT q.qid::BIGINT AS qid, q.k, q.term, tf.doc_id,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf::DOUBLE * (1.2 + 1.0)
         / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / s.avgdl))
           AS contrib
  FROM q JOIN ts USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
agg AS (SELECT qid, k, doc_id, sum(contrib) AS score,
        count(DISTINCT term) AS nt FROM scored GROUP BY 1,2,3),
acc AS (SELECT agg.* FROM agg JOIN nq USING (qid)
        WHERE 1=1 {conj} {accept} {floor}),
r AS (SELECT qid, k, doc_id, score,
      row_number() OVER (PARTITION BY qid
                         ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
      FROM acc)
SELECT qid, (rn - 1 - {page} * k)::INT AS rank, doc_id::BIGINT AS docid,
       round(score, 6) AS score
FROM r WHERE rn > {page} * k AND rn <= ({page} + 1) * k
"""


def _facet_oracle() -> str:
    """Facet-counts oracle: per query, distinct OR-matched docs joined to
    their `lang` attribute, counted per (qid, facet)."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms, _ in BM25_QUERY_SET for t in terms
    )
    return f"""
WITH {_TOK},
q(qid, term) AS (VALUES {vals}),
m AS (SELECT DISTINCT q.qid, tokf.doc_id FROM q JOIN tokf USING (term))
SELECT m.qid::BIGINT AS qid, d.lang AS facet, count(*)::BIGINT AS n_docs
FROM m JOIN documents d USING (doc_id)
GROUP BY 1, 2
"""


def _collapse_oracle() -> str:
    """Field-collapse oracle: exact BM25 per (qid, doc), best doc per
    `source` group by (round(score,6) desc, doc_id asc), then top-k groups
    per qid under the same ordering."""
    vals = ", ".join(
        f"({qid}, '{t}', {k})" for qid, terms, k in BM25_QUERY_SET for t in terms
    )
    return f"""
WITH {_TOK}, {_TF}, {_DL},
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(qid, term, k) AS (VALUES {vals}),
scored AS (
  SELECT q.qid::BIGINT AS qid, q.k, tf.doc_id,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf::DOUBLE * (1.2 + 1.0)
         / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / s.avgdl))
           AS contrib
  FROM q JOIN ts USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
agg AS (SELECT qid, k, doc_id, sum(contrib) AS score FROM scored GROUP BY 1,2,3),
g AS (SELECT agg.qid, agg.k, d.source AS grp, agg.doc_id, agg.score,
      row_number() OVER (PARTITION BY agg.qid, d.source
                         ORDER BY round(agg.score, 6) DESC, agg.doc_id ASC)
        AS grn
      FROM agg JOIN documents d ON agg.doc_id = d.doc_id),
r AS (SELECT qid, k, grp, doc_id, score,
      row_number() OVER (PARTITION BY qid
                         ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
      FROM g WHERE grn = 1)
SELECT qid, (rn - 1)::INT AS rank, grp, doc_id::BIGINT AS docid,
       round(score, 6) AS score
FROM r WHERE rn <= k
"""


def _fuzzy_oracle() -> str:
    """Fuzzy-search oracle: expansion as a `levenshtein(term, qterm) <=
    dist` join against the distinct-term vocabulary, then the exact BM25
    template over the expanded (qid, term) pairs."""
    vals = ", ".join(
        f"({qid}, '{t}', {d}, {k})" for qid, t, d, k in FUZZY_QUERY_SET
    )
    return f"""
WITH {_TOK}, {_TF}, {_DL},
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q0(qid, qterm, dist, k) AS (VALUES {vals}),
q AS (SELECT q0.qid, ts.term, q0.k FROM q0 JOIN ts
      ON levenshtein(ts.term, q0.qterm) <= q0.dist),
scored AS (
  SELECT q.qid::BIGINT AS qid, q.k, q.term, tf.doc_id,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf::DOUBLE * (1.2 + 1.0)
         / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / s.avgdl))
           AS contrib
  FROM q JOIN ts USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
agg AS (SELECT qid, k, doc_id, sum(contrib) AS score FROM scored GROUP BY 1,2,3),
r AS (SELECT qid, k, doc_id, score,
      row_number() OVER (PARTITION BY qid
                         ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
      FROM agg)
SELECT qid, (rn - 1)::INT AS rank, doc_id::BIGINT AS docid,
       round(score, 6) AS score
FROM r WHERE rn <= k
"""


def _mlt_oracle() -> str:
    """More-like-this oracle: per source doc, pick the top MLT_NUM_TERMS
    terms by (round(tf*idf, 6) DESC, term ASC) — identical tie-break to
    mlt_select_terms — then standard BM25 over those terms with the
    source doc excluded (doc_id <> qid)."""
    src_vals = ", ".join(f"({d})" for d in MLT_SOURCE_IDS)
    return f"""
WITH {_TOK}, {_TF}, {_DL},
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
src(qid) AS (VALUES {src_vals}),
tw AS (
  SELECT src.qid, tf.term,
         row_number() OVER (PARTITION BY src.qid
             ORDER BY round(tf.tf::DOUBLE *
                 ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5)), 6) DESC,
                 tf.term ASC) AS trn
  FROM src JOIN tf ON tf.doc_id = src.qid
  JOIN ts ON ts.term = tf.term CROSS JOIN stats s
),
q AS (SELECT qid, term, {MLT_K} AS k FROM tw WHERE trn <= {MLT_NUM_TERMS}),
scored AS (
  SELECT q.qid::BIGINT AS qid, q.k, tf.doc_id,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf::DOUBLE * (1.2 + 1.0)
         / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / s.avgdl))
           AS contrib
  FROM q JOIN ts USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
  WHERE tf.doc_id <> q.qid
),
agg AS (SELECT qid, k, doc_id, sum(contrib) AS score FROM scored GROUP BY 1,2,3),
r AS (SELECT qid, k, doc_id, score,
      row_number() OVER (PARTITION BY qid
                         ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
      FROM agg)
SELECT qid, (rn - 1)::INT AS rank, doc_id::BIGINT AS docid,
       round(score, 6) AS score
FROM r WHERE rn <= k
"""


def _boolean_oracle() -> str:
    """Boolean-query oracle generated FROM the same ASTs the engine runs:
    per-query match sets via GROUP BY doc_id HAVING bool_or(term=...)
    (ast_to_sql_predicate), scored as sum over positive leaves of
    boost x the exact BM25 contribution."""
    from jvector_spark.operators.boolquery import (
        all_terms, ast_to_sql_predicate, leaves_values_sql, parse_query,
        positive_leaves,
    )

    asts = {qid: parse_query(q) for qid, q, _ in BOOL_QUERY_SET}
    matched = "\nUNION ALL\n".join(
        f"SELECT {qid} AS qid, doc_id FROM tf WHERE term IN ("
        + ", ".join("'" + t + "'" for t in all_terms(a))
        + f") GROUP BY doc_id HAVING {ast_to_sql_predicate(a)}"
        for qid, a in sorted(asts.items())
    )
    pos_terms = sorted({leaf.text for a in asts.values()
                        for leaf in positive_leaves(a)})
    pos_in = ", ".join("'" + t + "'" for t in pos_terms)
    ks = ", ".join(f"({qid}, {k})" for qid, _, k in BOOL_QUERY_SET)
    return f"""
WITH {_TOK}, {_TF}, {_DL},
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
leaves(qid, term, boost) AS (VALUES {leaves_values_sql(asts)}),
ktab(qid, k) AS (VALUES {ks}),
matched AS (
{matched}
),
contrib AS (
  SELECT tf.term, tf.doc_id,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf::DOUBLE * (1.2 + 1.0)
         / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / s.avgdl))
           AS c
  FROM tf JOIN ts USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  WHERE tf.term IN ({pos_in})
),
scored AS (
  SELECT m.qid::BIGINT AS qid, m.doc_id, sum(l.boost * c.c) AS score
  FROM matched m
  JOIN leaves l ON l.qid = m.qid
  JOIN contrib c ON c.doc_id = m.doc_id AND c.term = l.term
  GROUP BY 1, 2
),
r AS (SELECT s.qid, s.doc_id, s.score, ktab.k,
      row_number() OVER (PARTITION BY s.qid
                         ORDER BY round(s.score, 6) DESC, s.doc_id ASC) AS rn
      FROM scored s JOIN ktab ON ktab.qid = s.qid)
SELECT qid, (rn - 1)::INT AS rank, doc_id::BIGINT AS docid,
       round(score, 6) AS score
FROM r WHERE rn <= k
"""


def _graph_lifecycle_oracle() -> str:
    """SQL twin of q_graph_lifecycle: the live membership after the
    mutations is every vec_id with %7 != 3 (the %13==5 insert batch is a
    subset of the same embeddings table, so base ∪ inserted = all rows),
    and BOTH phases — tombstone-masked and purge-repaired — must be the
    exact brute-force cosine top-10 over it. Query norms come from the
    query rows themselves (qid 3 is deleted from the INDEX but still a
    valid query vector)."""
    return """
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
qe AS (SELECT qid, unnest(qvec)::DOUBLE AS qv, unnest(range(len(qvec))) AS i FROM q),
qn AS (SELECT qid, sqrt(sum(qv * qv)) AS nrm FROM qe GROUP BY 1),
live AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 3),
ve AS (SELECT vec_id, unnest(embedding)::DOUBLE AS vv,
       unnest(range(len(embedding))) AS i FROM live),
vn AS (SELECT vec_id, sqrt(sum(vv * vv)) AS nrm FROM ve GROUP BY 1),
dots AS (SELECT qid, vec_id, sum(qv * vv) AS dp FROM qe JOIN ve USING (i) GROUP BY 1, 2),
s AS (SELECT qid, dots.vec_id, round(dp / (qn.nrm * vn.nrm), 6) AS score
      FROM dots JOIN qn USING (qid) JOIN vn ON dots.vec_id = vn.vec_id),
r AS (SELECT qid, vec_id, score,
      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
      FROM s),
base AS (SELECT qid::BIGINT AS qid, (rn - 1)::INT AS rank,
         vec_id::BIGINT AS vec_id, score FROM r WHERE rn <= 10)
SELECT 'masked' AS phase, * FROM base
UNION ALL
SELECT 'purged' AS phase, * FROM base
"""


def _ann_brute_oracle() -> str:
    return """
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
qe AS (SELECT qid, unnest(qvec)::DOUBLE AS qv, unnest(range(len(qvec))) AS i FROM q),
ve AS (SELECT vec_id, unnest(embedding)::DOUBLE AS vv,
       unnest(range(len(embedding))) AS i FROM embeddings),
dots AS (SELECT qid, vec_id, sum(qv * vv) AS dp FROM qe JOIN ve USING (i) GROUP BY 1, 2),
norms AS (SELECT vec_id, sqrt(sum(vv * vv)) AS nrm FROM ve GROUP BY 1),
s AS (SELECT qid, dots.vec_id, round(dp / (nq.nrm * nv.nrm), 6) AS score
      FROM dots JOIN norms nq ON dots.qid = nq.vec_id
      JOIN norms nv ON dots.vec_id = nv.vec_id),
r AS (SELECT qid, vec_id, score,
      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
      FROM s)
SELECT qid::BIGINT AS qid, (rn - 1)::INT AS rank, vec_id::BIGINT AS vec_id, score
FROM r WHERE rn <= 10
"""


# exact all-pairs n-gram Jaccard >= 0.5 over the whole corpus — shared by
# the all-pairs verifier query and the LSH->verify pipeline's recall gate
_JACCARD_ALLPAIRS_SQL = """
WITH tl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
       FROM documents),
sh AS (SELECT doc_id, CASE WHEN len(ts) >= 3 THEN
       list_distinct(list_transform(range(len(ts) - 2),
         i -> array_to_string(list_slice(ts, i + 1, i + 3), ' ')))
       ELSE [array_to_string(ts, ' ')] END AS shs FROM tl),
she AS (SELECT doc_id, unnest(shs) AS s FROM sh),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM she GROUP BY 1),
i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
      FROM she a JOIN she b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
j AS (SELECT doc_a, doc_b,
      floor(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE * 1e6)::BIGINT
        AS jaccard_ppm
      FROM i JOIN sz sa ON i.doc_a = sa.doc_id JOIN sz sb ON i.doc_b = sb.doc_id)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b, jaccard_ppm
FROM j WHERE jaccard_ppm >= 500000
"""


def _fielded_oracle() -> str:
    """Weighted two-field BM25: content tokens (weight 1.0) + the source
    metadata field as a 1-token field with its own stats (weight 2.0).
    Per (qid, doc): sum of weighted per-field BM25 sums; display rank by
    round(score,6) desc, docid asc."""
    vals = ", ".join(
        f"({qid}, '{t}', {k})"
        for qid, terms, k in FIELDED_QUERY_SET for t in terms
    )
    wt, ws = FIELD_WEIGHTS["text"], FIELD_WEIGHTS["source"]
    return f"""
WITH {_TOK}, {_TF}, {_DL},
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
tf2 AS (SELECT doc_id, source AS term, 1::BIGINT AS tf FROM documents),
stats2 AS (SELECT count(*)::DOUBLE AS n_docs, 1.0 AS avgdl FROM documents),
ts2 AS (SELECT term, count(*)::DOUBLE AS df FROM tf2 GROUP BY 1),
q(qid, term, k) AS (VALUES {vals}),
s1 AS (
  SELECT q.qid::BIGINT AS qid, q.k, tf.doc_id,
         {wt} * ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf::DOUBLE * (1.2 + 1.0)
         / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / s.avgdl))
           AS contrib
  FROM q JOIN ts USING (term) JOIN tf USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
),
s2 AS (
  SELECT q.qid::BIGINT AS qid, q.k, tf2.doc_id,
         {ws} * ln(1.0 + (s.n_docs - ts2.df + 0.5) / (ts2.df + 0.5))
         * tf2.tf::DOUBLE * (1.2 + 1.0)
         / (tf2.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * 1.0 / s.avgdl))
           AS contrib
  FROM q JOIN ts2 USING (term) JOIN tf2 USING (term) CROSS JOIN stats2 s
),
u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
agg AS (SELECT qid, k, doc_id, sum(contrib) AS score FROM u GROUP BY 1,2,3),
r AS (SELECT qid, k, doc_id, score,
      row_number() OVER (PARTITION BY qid
                         ORDER BY round(score, 6) DESC, doc_id ASC) AS rn
      FROM agg)
SELECT qid, (rn - 1)::INT AS rank, doc_id::BIGINT AS docid,
       round(score, 6) AS score
FROM r WHERE rn <= k
"""


def _snippets_oracle() -> str:
    """BM25 top-k (the bm25 oracle as a subquery) joined back to the
    documents text; first query-term hit position + ±3-token slice —
    identical list semantics to the Spark transform/slice expressions."""
    qvals = ", ".join(
        "({}, [{}])".format(qid, ", ".join(f"'{t}'" for t in terms))
        for qid, terms, _ in BM25_QUERY_SET
    )
    return f"""
WITH res AS (SELECT qid, docid FROM ({_bm25_oracle()}) b),
tl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
       FROM documents),
q(qid, terms) AS (VALUES {qvals}),
j AS (SELECT res.qid, res.docid, tl.ts, q.terms
      FROM res JOIN tl ON res.docid = tl.doc_id JOIN q ON res.qid = q.qid),
f AS (SELECT qid, docid, ts,
      coalesce(list_filter(list_transform(range(len(ts)),
        i -> CASE WHEN list_contains(terms, ts[i + 1]) THEN i + 1 ELSE 0 END),
        x -> x > 0)[1], 0) AS first_pos
      FROM j)
SELECT qid, docid, first_pos::BIGINT AS first_pos,
       CASE WHEN first_pos > 0 THEN array_to_string(
         list_slice(ts, greatest(1, first_pos - 3),
                    least(len(ts), first_pos + 3)), ' ')
       ELSE '' END AS snippet
FROM f
"""


def _regex_oracle() -> str:
    """Token-regex oracle: regexp_matches (RE2 unanchored search — same
    semantics as python re.search in the engine's dictionary expansion)
    joined into the per-doc tf table, summed, ranked by n_occ."""
    vals = ", ".join(
        f"({qid}, '{pat}', {k})" for qid, pat, k in REGEX_QUERY_SET
    )
    return f"""
WITH {_TOK}, {_TF},
q(qid, pat, k) AS (VALUES {vals}),
m AS (SELECT q.qid::BIGINT AS qid, q.k, tf.doc_id,
      sum(tf.tf)::BIGINT AS n_occ
      FROM q JOIN tf ON regexp_matches(tf.term, q.pat) GROUP BY 1, 2, 3),
r AS (SELECT qid, k, doc_id, n_occ,
      row_number() OVER (PARTITION BY qid
                         ORDER BY n_occ DESC, doc_id ASC) AS rn
      FROM m)
SELECT qid, (rn - 1)::INT AS rank, doc_id::BIGINT AS docid, n_occ
FROM r WHERE rn <= k
"""


def _phrase_oracle() -> str:
    """Sliding-window phrase-count oracle: for phrase [t1..tm], anchors i
    where ts[i+j] == tj for all j (DuckDB 1-based element_at)."""
    parts = []
    for qid, phrase, k in PHRASE_QUERY_SET:
        terms = [t for t in phrase.split(" ") if t]
        m = len(terms)
        cond = " AND ".join(
            f"ts[i + {j + 1}] = '{t}'" for j, t in enumerate(terms)
        )
        parts.append(
            f"SELECT {qid}::BIGINT AS qid, {k} AS k, doc_id, "
            f"len(list_filter(range(len(ts) - {m - 1}), i -> {cond}))::BIGINT "
            f"AS n_matches FROM tl"
        )
    union = "\nUNION ALL ".join(parts)
    return f"""
WITH tl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents),
m AS ({union}),
r AS (SELECT qid, k, doc_id, n_matches,
      row_number() OVER (PARTITION BY qid
                         ORDER BY n_matches DESC, doc_id ASC) AS rn
      FROM m WHERE n_matches >= 1)
SELECT qid, (rn - 1)::INT AS rank, doc_id::BIGINT AS docid, n_matches
FROM r WHERE rn <= k
"""


def _match_stats_oracle() -> str:
    """Metrics-agg oracle: stats of dl over distinct OR-matched docs.
    avg spelled as round(sum/count, 6) — exact integer sum then one
    double division, matching the engine's derived avg exactly."""
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms, _ in SORT_QUERY_SET for t in terms
    )
    return f"""
WITH {_TOK}, {_DL},
q(qid, term) AS (VALUES {vals}),
m AS (SELECT DISTINCT q.qid, tokf.doc_id FROM q JOIN tokf USING (term))
SELECT m.qid::BIGINT AS qid, count(*)::BIGINT AS n_docs,
       min(dl.dl)::BIGINT AS min_attr, max(dl.dl)::BIGINT AS max_attr,
       sum(dl.dl)::BIGINT AS sum_attr,
       round(sum(dl.dl)::DOUBLE / count(*), 6) AS avg_attr
FROM m JOIN dl ON m.doc_id = dl.doc_id
GROUP BY 1
"""


def _match_export_oracle() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms, _ in SORT_QUERY_SET for t in terms
    )
    return f"""
WITH {_TOK},
q(qid, term) AS (VALUES {vals})
SELECT DISTINCT q.qid::BIGINT AS qid, tokf.doc_id::BIGINT AS docid
FROM q JOIN tokf USING (term)
"""


def _match_count_oracle() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms, _ in SORT_QUERY_SET for t in terms
    )
    return f"""
WITH {_TOK},
q(qid, term) AS (VALUES {vals})
SELECT q.qid::BIGINT AS qid,
       count(DISTINCT tokf.doc_id)::BIGINT AS n_docs
FROM q JOIN tokf USING (term)
GROUP BY 1
"""


def _match_histogram_oracle() -> str:
    vals = ", ".join(
        f"({qid}, '{t}')" for qid, terms, _ in SORT_QUERY_SET for t in terms
    )
    return f"""
WITH {_TOK}, {_DL},
q(qid, term) AS (VALUES {vals}),
m AS (SELECT DISTINCT q.qid, tokf.doc_id FROM q JOIN tokf USING (term))
SELECT m.qid::BIGINT AS qid, ((dl.dl // 10) * 10)::BIGINT AS bin,
       count(*)::BIGINT AS n_docs
FROM m JOIN dl ON m.doc_id = dl.doc_id
GROUP BY 1, 2
"""


def _suggest_oracle() -> str:
    vals = ", ".join(
        f"({qid}, '{t}', {d}, {n})" for qid, t, d, n in SUGGEST_QUERY_SET
    )
    return f"""
WITH {_TOK}, {_TF},
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
q(qid, qterm, maxd, n) AS (VALUES {vals}),
c AS (SELECT q.qid, q.n, v.term,
      levenshtein(q.qterm, v.term)::BIGINT AS dist, v.df
      FROM q JOIN vocab v ON levenshtein(q.qterm, v.term) <= q.maxd),
r AS (SELECT qid, n, term, dist, df,
      row_number() OVER (PARTITION BY qid
                         ORDER BY dist ASC, df DESC, term ASC) AS rn
      FROM c)
SELECT qid::BIGINT AS qid, (rn - 1)::INT AS rank, term, dist, df
FROM r WHERE rn <= n
"""


def _sorted_oracle() -> str:
    """Sort-by-attribute oracle: distinct OR-matched docs ordered by
    (dl DESC, doc_id ASC), top-k per query."""
    vals = ", ".join(
        f"({qid}, '{t}', {k})" for qid, terms, k in SORT_QUERY_SET
        for t in terms
    )
    return f"""
WITH {_TOK}, {_DL},
q(qid, term, k) AS (VALUES {vals}),
m AS (SELECT DISTINCT q.qid, q.k, tokf.doc_id FROM q JOIN tokf USING (term)),
r AS (SELECT m.qid, m.k, m.doc_id, dl.dl,
      row_number() OVER (PARTITION BY m.qid
                         ORDER BY dl.dl DESC, m.doc_id ASC) AS rn
      FROM m JOIN dl ON m.doc_id = dl.doc_id)
SELECT qid::BIGINT AS qid, (rn - 1)::INT AS rank, doc_id::BIGINT AS docid,
       dl::BIGINT AS sort_key
FROM r WHERE rn <= k
"""


def _proximity_oracle() -> str:
    """Window-count oracle: for unordered terms {t1..tm} and window W,
    count window starts i (0-based; at least one, clipped, for docs
    shorter than W) where the W-token slice contains every term."""
    parts = []
    for qid, terms, w, k in PROX_QUERY_SET:
        uniq = sorted(set(terms))
        cond = " AND ".join(
            f"list_contains(list_slice(ts, i + 1, i + {w}), '{t}')"
            for t in uniq
        )
        parts.append(
            f"SELECT {qid}::BIGINT AS qid, {k} AS k, doc_id, "
            f"len(list_filter(range(greatest(len(ts) - {w - 1}, 1)), "
            f"i -> {cond}))::BIGINT AS n_matches FROM tl"
        )
    union = "\nUNION ALL ".join(parts)
    return f"""
WITH tl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents),
m AS ({union}),
r AS (SELECT qid, k, doc_id, n_matches,
      row_number() OVER (PARTITION BY qid
                         ORDER BY n_matches DESC, doc_id ASC) AS rn
      FROM m WHERE n_matches >= 1)
SELECT qid, (rn - 1)::INT AS rank, doc_id::BIGINT AS docid, n_matches
FROM r WHERE rn <= k
"""


def _lsh_verified_ctes() -> str:
    """CTE chain of the LSH->verify pipeline mirror: 16-hash minhash LSH
    banding (8 bands of 2) for candidates, exact n-gram Jaccard in CTE
    `j` — shared by the pairs oracle and the connected-components groups
    oracle (same semantics the Spark pipeline executes)."""
    from jvector_spark.operators.dedup import AFFINE_HASH_PARAMS

    vals16 = ", ".join(
        f"({j}, {a}, {b}, {c})"
        for j, (a, b, c) in enumerate(AFFINE_HASH_PARAMS[:16])
    )
    return f"""{_SHINGLES},
bh AS (SELECT doc_id, {_H60.format(x="s")} AS hv FROM she),
hp(j, a, b, c) AS (VALUES {vals16}),
mh AS (SELECT doc_id, j,
  min((a * (hv >> 30) + b * (hv & 1073741823) + c) % 2305843009213693951)
  AS minhash FROM bh CROSS JOIN hp GROUP BY 1, 2),
b AS (SELECT doc_id, (j // 2)::INT AS band,
      string_agg(minhash::VARCHAR, ',' ORDER BY j) AS vals
      FROM mh GROUP BY 1, 2),
bk AS (SELECT doc_id, {_H60.format(x="band::VARCHAR || ':' || vals")} AS bucket
       FROM b),
c AS (SELECT doc_id, bucket,
      row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rnk FROM bk),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
         FROM c a JOIN c b2 USING (bucket)
         WHERE a.doc_id < b2.doc_id AND a.rnk <= 1000 AND b2.rnk <= 1000),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM she GROUP BY 1),
i AS (SELECT cand.doc_a, cand.doc_b, count(*)::BIGINT AS inter
      FROM cand JOIN she a ON cand.doc_a = a.doc_id
      JOIN she b2 ON cand.doc_b = b2.doc_id AND a.s = b2.s
      GROUP BY 1, 2),
j AS (SELECT doc_a, doc_b,
      floor(inter::DOUBLE / (sa.sz + sb.sz - inter)::DOUBLE * 1e6)::BIGINT
        AS jaccard_ppm
      FROM i JOIN sz sa ON i.doc_a = sa.doc_id JOIN sz sb ON i.doc_b = sb.doc_id)"""


def _lsh_verified_oracle() -> str:
    """Pairs oracle: the pipeline-mirror CTEs cut at jaccard >= 0.5."""
    return f"""
WITH {_lsh_verified_ctes()}
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b, jaccard_ppm
FROM j WHERE jaccard_ppm >= 500000
"""


def _near_dup_groups_oracle() -> str:
    """Connected components over the verified pair graph via WITH
    RECURSIVE reachability: a node's dup_group = min doc_id reachable —
    exactly the engine's min-label-propagation fixpoint."""
    return f"""
WITH RECURSIVE {_lsh_verified_ctes()},
vp AS (SELECT doc_a, doc_b FROM j WHERE jaccard_ppm >= 500000),
e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
      UNION ALL SELECT doc_b, doc_a FROM vp),
nn AS (SELECT DISTINCT src AS node FROM e),
reach(node, lbl) AS (
  SELECT node, node FROM nn
  UNION
  SELECT e.src, reach.lbl FROM reach JOIN e ON reach.node = e.dst
)
SELECT node::BIGINT AS doc_id, min(lbl)::BIGINT AS dup_group
FROM reach GROUP BY 1
"""


def _fixture_emb_dim(default: int = 64) -> int:
    """Embedding dimensionality read from the fixtures — the oracle's
    hyperplane VALUES must match the data the engine reads (a hardcoded
    dim would silently truncate dots if fixtures changed). oracle_sql()
    is sf-agnostic (one SQL string for every sf the driver runs), so
    ALL present fixtures must agree on the dim; a disagreement raises
    loudly here instead of silently truncating the SQL-side join."""
    import pyarrow.parquet as papq

    dims: dict[str, int] = {}
    for sf in ("sf0.01", "sf0.001", "sf0.1"):
        p = f"/root/testdata/{sf}/embeddings.parquet"
        if os.path.exists(p):
            tbl = papq.read_table(p, columns=["embedding"]).slice(0, 1)
            dims[sf] = len(tbl.column("embedding")[0].as_py())
    if len(set(dims.values())) > 1:
        raise ValueError(
            f"fixtures disagree on embedding dim: {dims} — the "
            "sf-agnostic LSH oracle cannot serve both")
    return next(iter(dims.values()), default)


def _embed_lsh_oracle() -> str:
    """SQL mirror of ann.embedding_lsh_near_dup: same hyperplane constants,
    same banding, same bucket hash + cap, exact cosine >= 0.4 on candidates.
    Bit signs are exact across engines — fixture min |dot| ~ 0.03 vs float64
    summation noise ~ 1e-15."""
    from jvector_spark.operators.ann import (
        LSH_BAND_BITS, N_PLANES, random_hyperplanes)

    planes = random_hyperplanes(N_PLANES, _fixture_emb_dim(), seed=7)
    plane_vals = ", ".join(
        f"({p}, {i}, {float(v)})"
        for p, row in enumerate(planes) for i, v in enumerate(row)
    )
    return f"""
WITH hp(p, i, v) AS (VALUES {plane_vals}),
ve AS (SELECT vec_id, unnest(embedding)::DOUBLE AS vv,
       unnest(range(len(embedding))) AS i FROM embeddings),
dots AS (SELECT vec_id, p, sum(vv * v) AS dp FROM ve JOIN hp USING (i)
         GROUP BY 1, 2),
bits AS (SELECT vec_id, (p // {LSH_BAND_BITS})::INT AS band,
         string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END, '' ORDER BY p)
           AS key FROM dots GROUP BY 1, 2),
bk AS (SELECT vec_id, {_H60.format(x="band::VARCHAR || ':' || key")} AS bucket
       FROM bits),
c AS (SELECT vec_id, bucket,
      row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rnk FROM bk),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         FROM c a JOIN c b2 USING (bucket)
         WHERE a.vec_id < b2.vec_id AND a.rnk <= 1000 AND b2.rnk <= 1000),
dots2 AS (SELECT id_a, id_b, sum(va.vv * vb.vv) AS dp
          FROM cand JOIN ve va ON cand.id_a = va.vec_id
          JOIN ve vb ON cand.id_b = vb.vec_id AND va.i = vb.i GROUP BY 1, 2),
norms AS (SELECT vec_id, sqrt(sum(vv * vv)) AS nrm FROM ve GROUP BY 1),
s AS (SELECT id_a, id_b, round(dp / (na.nrm * nb.nrm), 6) AS score
      FROM dots2 JOIN norms na ON id_a = na.vec_id
      JOIN norms nb ON id_b = nb.vec_id)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, score
FROM s WHERE score >= 0.4
"""


def _lifecycle_oracle() -> str:
    """SQL twin of q_lifecycle_search: replay DELETE (%17) / REPLACE
    (%23, new docids = max(doc_id)+rank — the micro-append
    row_number-over-key contract) / COMPACTION (dense renumber ordered by
    pre-compact docid) on `documents`, then BM25 top-k with post-purge
    stats over the surviving corpus."""
    vals = ", ".join(
        f"({qid}, '{t}', {k})"
        for qid, terms, k in LIFECYCLE_QUERY_SET for t in terms
    )
    return f"""
WITH mx AS (SELECT max(doc_id)::BIGINT AS m FROM documents),
rep AS (SELECT ((SELECT m FROM mx)
                + row_number() OVER (ORDER BY doc_id))::BIGINT AS docid,
        text || ' lifecyclemarker' AS text
        FROM documents WHERE doc_id % 23 = 0),
live AS (SELECT doc_id::BIGINT AS docid, text FROM documents
         WHERE doc_id % 17 <> 0 AND doc_id % 23 <> 0
         UNION ALL SELECT docid, text FROM rep),
fin AS (SELECT (row_number() OVER (ORDER BY docid) - 1)::BIGINT AS docid,
        text FROM live),
tok AS (SELECT docid, unnest(string_split(text, ' ')) AS term FROM fin),
tokf AS (SELECT docid, term FROM tok WHERE term <> ''),
tf AS (SELECT docid, term, count(*)::BIGINT AS tf FROM tokf GROUP BY 1, 2),
dl AS (SELECT docid, count(*)::BIGINT AS dl FROM tokf GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
ts AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q(qid, term, k) AS (VALUES {vals}),
scored AS (
  SELECT q.qid::BIGINT AS qid, q.k, tf.docid,
         ln(1.0 + (s.n_docs - ts.df + 0.5) / (ts.df + 0.5))
         * tf.tf::DOUBLE * (1.2 + 1.0)
         / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl::DOUBLE / s.avgdl))
           AS contrib
  FROM q JOIN ts USING (term) JOIN tf USING (term)
  JOIN dl ON tf.docid = dl.docid CROSS JOIN stats s
),
agg AS (SELECT qid, k, docid, sum(contrib) AS score FROM scored
        GROUP BY 1, 2, 3),
r AS (SELECT qid, k, docid, score,
      row_number() OVER (PARTITION BY qid
                         ORDER BY round(score, 6) DESC, docid ASC) AS rn
      FROM agg)
SELECT qid, (rn - 1)::INT AS rank, docid, round(score, 6) AS score
FROM r WHERE rn <= k
"""


def oracle_sql() -> dict[str, str]:
    bm25 = _bm25_oracle()
    ann = _ann_brute_oracle()
    term_stats_sql = f"""
WITH {_TOK}, {_TF}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1
"""
    quality_sql = f"""
WITH {_TOK},
per AS (SELECT doc_id, count(*)::DOUBLE AS n, count(DISTINCT term)::DOUBLE AS u,
        sum(CASE WHEN term IN {STOPWORDS_SQL} THEN 1 ELSE 0 END)::DOUBLE AS s
        FROM tokf GROUP BY 1)
SELECT doc_id, n::BIGINT AS n_tokens,
       floor(u / n * 1e6)::BIGINT AS uniq_ppm,
       floor(s / n * 1e6)::BIGINT AS stop_ppm,
       floor((0.5 * (u / n) + 0.5 * (1.0 - s / n)) * 1e6)::BIGINT AS quality_ppm
FROM per
"""
    return {
        "bm25_topk_df": bm25,
        "bm25_topk_index": bm25,
        "bm25_topk_index_nvq": bm25,
        "bm25_topk_filtered": _bm25_oracle(
            accept_where="lang IN ('en', 'de')"
        ),
        "bm25_topk_range": _bm25_oracle(
            accept_subquery="SELECT doc_id FROM dl "
                            "WHERE dl >= 40 AND dl < 80"
        ),
        "bm25_conjunctive": _bm25_oracle(conjunctive=True,
                                         query_set=CONJ_QUERY_SET),
        "bm25_boolean": _boolean_oracle(),
        "bm25_fielded": _fielded_oracle(),
        "bm25_threshold": _bm25_oracle(score_floor=1.0),
        "bm25_search_after": _bm25_oracle(page=1),
        "facet_counts": _facet_oracle(),
        "collapse_source": _collapse_oracle(),
        "sorted_search": _sorted_oracle(),
        "match_stats": f"""
SELECT s.*, c.n_docs AS n_count
FROM ({_match_stats_oracle()}) s JOIN ({_match_count_oracle()}) c USING (qid)
""",
        "match_histogram": _match_histogram_oracle(),
        "match_export": _match_export_oracle(),
        "suggest_terms": _suggest_oracle(),
        "fuzzy_search": _fuzzy_oracle(),
        "more_like_this": _mlt_oracle(),
        "phrase_search": _phrase_oracle(),
        "proximity_search": _proximity_oracle(),
        "regex_search": _regex_oracle(),
        "search_snippets": _snippets_oracle(),
        "term_stats": term_stats_sql,
        "term_stats_salted": term_stats_sql,
        "corpus_stats": f"""
WITH {_TOK}, {_DL}
SELECT count(*)::BIGINT AS n_docs, round(avg(dl::DOUBLE), 6) AS avgdl FROM dl
""",
        "docids_doclen": f"""
WITH {_TOK}, {_DL},
ids AS (SELECT doc_id, (row_number() OVER (ORDER BY lang, doc_id) - 1)::BIGINT
        AS docid FROM documents)
SELECT ids.doc_id::BIGINT AS doc_id, ids.docid, dl.dl
FROM ids JOIN dl ON ids.doc_id = dl.doc_id
""",
        "token_stats": f"""
WITH {_TOK},
tc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       count(DISTINCT term)::BIGINT AS n_distinct FROM tokf GROUP BY 1),
sw AS (SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+|[0-9]+') AS s
       FROM documents),
sw2 AS (SELECT doc_id, len(s)::BIGINT AS n_subwords,
        len(list_filter(s, x -> regexp_matches(x, '^[A-Za-z]')))::BIGINT
          AS n_alpha FROM sw),
per AS (SELECT doc_id, count(*)::DOUBLE AS n, count(DISTINCT term)::DOUBLE AS u,
        sum(CASE WHEN term IN {STOPWORDS_SQL} THEN 1 ELSE 0 END)::DOUBLE AS s
        FROM tokf GROUP BY 1),
ql AS (SELECT doc_id,
       floor(u / n * 1e6)::BIGINT AS uniq_ppm,
       floor(s / n * 1e6)::BIGINT AS stop_ppm,
       floor((0.5 * (u / n) + 0.5 * (1.0 - s / n)) * 1e6)::BIGINT AS quality_ppm,
       CASE WHEN floor(s / n * 1e6) >= 120000 THEN 'en' ELSE 'other' END
         AS pred_lang
       FROM per)
SELECT tc.doc_id, n_tokens, n_distinct, n_subwords, n_alpha,
       (n_subwords - n_alpha)::BIGINT AS n_num,
       uniq_ppm, stop_ppm, quality_ppm, pred_lang
FROM tc JOIN sw2 ON tc.doc_id = sw2.doc_id JOIN ql ON tc.doc_id = ql.doc_id
""",
        "doc_signatures": f"""
WITH {_TOK}, {_MINHASH},
g AS (SELECT tl.doc_id, CASE WHEN len(ts) >= 8 THEN
      list_min(list_transform(range(len(ts) - 7),
        i -> {_H60.format(x="array_to_string(list_slice(ts, i + 1, i + 8), ' ')")}))
      ELSE {_H60.format(x="d.text")} END AS winnow_fp
      FROM tl JOIN documents d USING (doc_id)),
th AS (SELECT doc_id, {_H60.format(x="term")} AS hv FROM tokf),
bits AS (SELECT doc_id, b,
         sum(CASE WHEN (hv & (1::BIGINT << b)) <> 0 THEN 1 ELSE -1 END) AS v
         FROM th CROSS JOIN (SELECT unnest(range(16)) AS b) GROUP BY 1, 2),
simv AS (SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
           AS simhash FROM bits GROUP BY 1),
mhx AS (SELECT doc_id, bit_xor(minhash)::BIGINT AS minhash_xor
        FROM mh GROUP BY 1)
SELECT d.doc_id::BIGINT AS doc_id, md5(d.text) AS content_md5, g.winnow_fp,
       sha256(d.text) AS content_sha, simv.simhash, mhx.minhash_xor
FROM documents d JOIN g USING (doc_id) JOIN simv USING (doc_id)
JOIN mhx USING (doc_id)
""",
        "doc_keywords": f"""
WITH {_TOK}, {_TF},
dl2 AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM tokf),
s AS (SELECT tf.doc_id, tf.term,
      floor((tf.tf::DOUBLE / dl2.dl::DOUBLE)
            * ln((1.0 + nd.n) / (1.0 + dfx.df::DOUBLE)) * 1e6)::BIGINT
        AS tfidf_ppm
      FROM tf JOIN dl2 USING (doc_id) JOIN dfx USING (term) CROSS JOIN nd),
r AS (SELECT doc_id, term, tfidf_ppm,
      row_number() OVER (PARTITION BY doc_id
                         ORDER BY tfidf_ppm DESC, term ASC) AS rn
      FROM s)
SELECT doc_id, (rn - 1)::INT AS rank, term, tfidf_ppm
FROM r WHERE rn <= 5
""",
        "decontaminate": """
WITH tl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
            FROM documents),
sh AS (SELECT doc_id, CASE WHEN len(ts) >= 8 THEN
       list_distinct(list_transform(range(len(ts) - 7),
         i -> array_to_string(list_slice(ts, i + 1, i + 8), ' ')))
       ELSE [array_to_string(ts, ' ')] END AS shs FROM tl),
she AS (SELECT doc_id, unnest(shs) AS s FROM sh),
ev AS (SELECT DISTINCT s FROM she WHERE doc_id % 41 = 0)
SELECT she.doc_id::BIGINT AS doc_id, count(DISTINCT she.s)::BIGINT AS n_hits
FROM she JOIN ev USING (s) GROUP BY 1
""",
        "sequence_pack": f"""
WITH {_TOK},
n AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM tokf GROUP BY 1),
c AS (SELECT doc_id, n_tokens,
      (sum(n_tokens) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT
        AS start FROM n)
SELECT doc_id::BIGINT AS doc_id, n_tokens,
       (start // 2048)::BIGINT AS bin, (start % 2048)::BIGINT AS offset
FROM c
""",
        "stratified_sample": f"""
WITH fr(lang, th) AS (VALUES {", ".join(f"('{k}', {int(round(v*1e6))})" for k, v in sorted(SAMPLE_FRACTIONS.items()))})
SELECT doc_id::BIGINT AS doc_id, d.lang
FROM documents d JOIN fr ON d.lang = fr.lang
WHERE ({_H60.format(x="d.lang || ':' || doc_id::VARCHAR")}) % 1000000 < fr.th
""",
        "dedup_exact": """
SELECT doc_id::BIGINT AS doc_id,
       (min(doc_id) OVER (PARTITION BY md5(text)))::BIGINT AS dup_group,
       (count(*) OVER (PARTITION BY md5(text)))::BIGINT AS group_size
FROM documents
""",
        "minhash_lsh_pairs": f"""
WITH {_MINHASH},
b AS (SELECT doc_id, (j // 2)::INT AS band,
      string_agg(minhash::VARCHAR, ',' ORDER BY j) AS vals
      FROM mh GROUP BY 1, 2),
bk AS (SELECT doc_id, {_H60.format(x="band::VARCHAR || ':' || vals")} AS bucket
       FROM b),
c AS (SELECT doc_id, bucket,
      row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rnk FROM bk)
SELECT DISTINCT a.doc_id::BIGINT AS doc_a, b2.doc_id::BIGINT AS doc_b
FROM c a JOIN c b2 USING (bucket)
WHERE a.doc_id < b2.doc_id AND a.rnk <= 1000 AND b2.rnk <= 1000
""",
        "ngram_jaccard": _JACCARD_ALLPAIRS_SQL,
        # mirrors the pipeline semantics (16-hash LSH banding -> exact
        # jaccard on candidates only): deterministic gate on the composed
        # operator. Its recall vs the all-pairs truth (24/25 on this
        # fixture — one j=0.9 pair with 10-element shingle sets never
        # agrees on a band) is asserted separately in tests/test_skew.py
        "lsh_jaccard_verified": _lsh_verified_oracle(),
        "near_dup_groups": _near_dup_groups_oracle(),
        # ann_brute_topk: mode family — 'threshold' re-ranks the rows
        # that clear the 0.3 cosine cut (rank restarts within the mode,
        # matching brute_force_threshold's contract of ranking the
        # above-threshold survivors)
        "ann_brute_topk": f"""
WITH base AS ({ann})
SELECT 'topk' AS mode, * FROM base
UNION ALL
SELECT 'threshold' AS mode, qid, (row_number() OVER (
         PARTITION BY qid ORDER BY score DESC, vec_id ASC) - 1)::INT AS rank,
       vec_id, score
FROM base WHERE score >= 0.3
""",
        # both tiers are exact at nprobe == n_clusters (flat = in-plan
        # IVF, partitioned = directory-pruned layout), so the brute-force
        # oracle applies to each
        "ann_ivf_partitioned": f"""
WITH base AS ({ann})
SELECT 'flat' AS tier, * FROM base
UNION ALL
SELECT 'partitioned' AS tier, * FROM base
""",
        "embed_near_dup": _embed_lsh_oracle(),
        # ann_compressed_rerank: all three tiers' rerank phases output
        # EXACT cosine top-k whenever their survivors cover the true
        # top-10 — pytest-asserted on the fixtures (tests/test_pq.py,
        # tests/test_nvq.py, tests/test_bq.py; pq/nvq budget n/5, bq
        # 0.55n — sign bits are coarser), so the brute-force oracle
        # applies to each tier (k-means itself still isn't
        # SQL-expressible; exactness of the final ranks is)
        "ann_compressed_rerank": f"""
WITH base AS ({ann})
SELECT 'pq' AS tier, * FROM base
UNION ALL
SELECT 'nvq' AS tier, * FROM base
UNION ALL
SELECT 'bq' AS tier, * FROM base
""",
        # ann_graph_topk: beam candidates provably cover the exact top-10
        # on the fixtures (pytest-asserted), rerank is exact cosine with
        # the same expression as brute force -> the brute oracle applies
        "ann_graph_topk": ann,
        "graph_lifecycle": _graph_lifecycle_oracle(),
        "curation_pipeline": f"""
WITH {_TOK},
per AS (SELECT doc_id, count(*)::DOUBLE AS n, count(DISTINCT term)::DOUBLE AS u,
        sum(CASE WHEN term IN {STOPWORDS_SQL} THEN 1 ELSE 0 END)::DOUBLE AS s
        FROM tokf GROUP BY 1),
q AS (SELECT doc_id, n::BIGINT AS n_tokens,
      floor((0.5 * (u / n) + 0.5 * (1.0 - s / n)) * 1e6)::BIGINT AS quality_ppm
      FROM per),
d AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS dup_group
      FROM documents)
SELECT q.doc_id::BIGINT AS doc_id, n_tokens, quality_ppm
FROM q JOIN d ON q.doc_id = d.doc_id
WHERE quality_ppm >= 640000 AND q.doc_id = d.dup_group
""",
        # payload = utf-8 bytes of text, so sha256(text) == sha256(payload)
        "image_features": """
WITH p AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
           sha256(text) AS psha FROM documents)
SELECT doc_id, n_bytes, psha AS payload_sha,
       (64 + ('0x' || substr(psha, 1, 2))::INT % 192)::INT AS width,
       (64 + ('0x' || substr(psha, 3, 2))::INT % 192)::INT AS height,
       (1 + ('0x' || substr(psha, 5, 2))::INT % 4)::INT AS n_channels
FROM p
""",
        "frame_sample": """
WITH p AS (SELECT doc_id, sha256(text) AS psha,
           ((octet_length(encode(text)) + 4095) // 4096)::INT AS nf
           FROM documents),
f AS (SELECT doc_id, unnest(range(nf))::INT AS frame_idx, psha FROM p)
SELECT doc_id, frame_idx,
       md5(psha || ':' || frame_idx::VARCHAR) AS frame_sha
FROM f
""",
        # both mutation regimes converge to the same final index (see
        # q_lifecycle_search), so one twin gates both phases
        "lifecycle_search": f"""
WITH base AS ({_lifecycle_oracle()})
SELECT 'crud' AS phase, * FROM base
UNION ALL
SELECT 'bulk' AS phase, * FROM base
""",
        "events_rollups": """
SELECT 'hourly' AS grain, floor(epoch(ts) / 3600)::BIGINT AS k1,
       event_type AS k2, count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_distinct,
       round(sum(value), 4) AS sum_value,
       floor(epoch(ts) / 3600)::BIGINT AS first_hour,
       floor(epoch(ts) / 3600)::BIGINT AS last_hour
FROM events GROUP BY 1, 2, 3
UNION ALL
SELECT 'user' AS grain, user_id::BIGINT AS k1, '' AS k2,
       count(*)::BIGINT AS n_events,
       count(DISTINCT event_type)::BIGINT AS n_distinct,
       round(sum(value), 4) AS sum_value,
       floor(epoch(min(ts)) / 3600)::BIGINT AS first_hour,
       floor(epoch(max(ts)) / 3600)::BIGINT AS last_hour
FROM events GROUP BY 1, 2, 3
""",
        "events_sessionize": """
WITH e AS (SELECT user_id, event_id, value, epoch(ts) AS sec FROM events),
l AS (SELECT *, lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
      AS prev FROM e),
n AS (SELECT *, CASE WHEN prev IS NULL OR sec - prev > 1800.0 THEN 1 ELSE 0
      END AS newf FROM l),
s AS (SELECT *, sum(newf) OVER (PARTITION BY user_id ORDER BY sec, event_id
      ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx FROM n)
SELECT user_id::BIGINT AS user_id, session_idx,
       count(*)::BIGINT AS n_events, round(sum(value), 4) AS sum_value,
       floor(min(sec))::BIGINT AS start_sec, floor(max(sec))::BIGINT AS end_sec
FROM s GROUP BY 1, 2
""",
    }
