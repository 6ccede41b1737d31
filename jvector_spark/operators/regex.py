"""Regex token search: grep-style identifier queries over the index.

The code-search capability a source-code index owes its users (north
star: "PySpark-native full-text index ... source-code corpora"): find
documents containing any TOKEN matching a regular expression, ranked by
total matching-token occurrences. The reference's analog surface is
dictionary-driven candidate expansion (hierarchy descent -> dictionary
seek, SURVEY §2.3): the regex never touches postings — it runs over the
TERM DICTIONARY (vocabulary-sized, the hot tier), then the matched terms'
posting lists aggregate per doc.

Scale shape:
  * expansion reads the index-level term_stats.parquet (one sorted file,
    ~one row per distinct term) driver-side in Arrow batches — at 10^12
    docs the vocabulary is millions of rows, still a single scan;
  * `max_terms` caps adversarial expansions (`.*` would match the whole
    vocabulary) — the heaviest-df terms win the cap, deterministically;
  * per segment, only matched terms decode; per-doc occurrence sums are
    partial-top-k bounded before the merge, same as wand.search_index.

Match semantics: UNANCHORED search (python re.search), the same semantics
as DuckDB/RE2 regexp_matches — which is what makes the driver oracle a
plain `JOIN ... ON regexp_matches(term, pat)`.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: above this many term_stats.parquet bytes the driver stops scanning the
#: vocabulary itself and expands patterns as a Spark job (collect bounded
#: by Q * max_terms rows, never the vocabulary)
DRIVER_VOCAB_BUDGET_BYTES = 256 << 20


def _select_expansions(
    hits: dict[int, tuple[list[np.ndarray], list[np.ndarray]]],
    max_terms: int,
) -> dict[int, list[str]]:
    """(df chunks, term chunks) per key -> capped, sorted term lists.
    Cap keeps the highest-df terms (tie-break: term asc) — vectorized
    lexsort, no per-term Python."""
    out: dict[int, list[str]] = {}
    for key, (dfs, terms) in hits.items():
        if not terms:
            out[key] = []
            continue
        t = np.concatenate(terms)
        d = np.concatenate(dfs)
        # per-segment dictionaries (the term_stats fallback source)
        # repeat a term once per segment: aggregate df so the cap ranks
        # on GLOBAL df and the output holds each term once
        ut, inv = np.unique(t, return_inverse=True)
        if len(ut) < len(t):
            d = np.bincount(inv, weights=d.astype(np.float64))
            t = ut
        if len(t) > max_terms:
            keep = np.lexsort((t, -d))[:max_terms]
            t = t[keep]
        t.sort()
        out[key] = t.tolist()
    return out


def expand_patterns(
    index_dir: str,
    patterns: dict[int, str],
    max_terms: int = 10000,
    spark: SparkSession | None = None,
    driver_budget_bytes: int = DRIVER_VOCAB_BUDGET_BYTES,
) -> dict[int, list[str]]:
    """{key: pattern} -> {key: matching dictionary terms} in ONE scan of
    term_stats.parquet: each Arrow batch is matched against all patterns,
    so Q queries cost one vocabulary pass, not Q. Matching runs in
    Arrow's RE2 kernel (`pc.match_substring_regex`, a C++ loop over the
    whole batch — no per-term Python), falling back to python `re` per
    batch only for non-RE2 constructs (backrefs/lookaround). Expansions
    exceeding max_terms keep the highest-df terms (deterministic
    tie-break on the term string).

    Above `driver_budget_bytes` of vocabulary (and given a `spark`
    session), expansion runs DISTRIBUTED instead: parquet scan + `rlike`
    filter + per-pattern bounded top-(max_terms) — the driver never
    materializes the dictionary, only the capped expansions (the
    hierarchy-descent hot tier at 10^8+ distinct terms)."""
    from jvector_spark.sources.segment import vocab_dataset_paths

    # validated vocabulary source: the hot-tier term_stats.parquet when
    # present AND sha-consistent with the manifest, else the manifest's
    # per-segment dictionaries (_select_expansions re-aggregates the
    # per-segment df) — never a blind read of a possibly-absent or torn
    # stats file
    paths, aggregated = vocab_dataset_paths(index_dir)
    if not patterns or not paths:
        # empty queries: skip the full vocabulary scan; zero-segment
        # index without a stats file: ds.dataset([]) has no term/df
        # columns and raises ArrowInvalid — both mean "nothing expands"
        return {int(k): [] for k in patterns}
    vocab_bytes = sum(os.path.getsize(p) for p in paths)
    if spark is not None and vocab_bytes > driver_budget_bytes:
        return _expand_patterns_distributed(spark, paths, patterns,
                                            max_terms, aggregated)
    import pyarrow.compute as pc

    # python twins compile LAZILY, only when the RE2 kernel rejects the
    # pattern: RE2-valid syntax that python's re cannot parse (\p{Lu}
    # classes etc.) must reach the kernel, not die in re.compile — the
    # oracle-parity contract is RE2, python is only the fallback engine
    rxs: dict[int, "re.Pattern"] = {}
    hits: dict[int, tuple[list, list]] = {k: ([], []) for k in patterns}
    re2_ok: dict[int, bool] = {k: True for k in patterns}
    for batch in ds.dataset(paths).to_batches(columns=["term", "df"]):
        terms = batch.column("term")
        np_terms = np_dfs = None  # lazy: only built on the fallback path
        for key, pat in patterns.items():
            mask = None
            if re2_ok[key]:
                try:
                    mask = pc.match_substring_regex(terms, pat)
                except Exception:
                    re2_ok[key] = False  # non-RE2 syntax: python per batch
            if mask is not None:
                if not pc.any(mask).as_py():
                    continue
                sel_t = pc.filter(terms, mask).to_numpy(zero_copy_only=False)
                sel_d = pc.filter(batch.column("df"), mask).to_numpy(
                    zero_copy_only=False)
            else:
                if np_terms is None:
                    np_terms = terms.to_numpy(zero_copy_only=False)
                    np_dfs = batch.column("df").to_numpy(
                        zero_copy_only=False)
                rx = rxs.get(key)
                if rx is None:
                    try:
                        rx = rxs[key] = re.compile(patterns[key])
                    except re.error as e:
                        raise ValueError(
                            f"pattern {patterns[key]!r} rejected by BOTH "
                            f"the RE2 kernel and python re: {e}") from e
                m = np.fromiter((rx.search(t) is not None
                                 for t in np_terms),
                                dtype=bool, count=len(np_terms))
                if not m.any():
                    continue
                sel_t, sel_d = np_terms[m], np_dfs[m]
            hits[key][0].append(sel_d)
            hits[key][1].append(sel_t)
    return _select_expansions(hits, max_terms)


def _expand_patterns_distributed(
    spark: SparkSession, stats_paths: list[str],
    patterns: dict[int, str], max_terms: int,
    aggregated: bool = True,
) -> dict[int, list[str]]:
    """Vocabulary-scale expansion as one Spark job: every pattern filters
    the same parquet scan, a per-pattern window keeps the top max_terms
    by (df desc, term asc), and only the capped result is collected.

    The filter is the SAME matcher as the driver path — Arrow's RE2
    kernel per batch with a python-`re` fallback for non-RE2 constructs —
    inside a vectorized pandas UDF, NOT Java `rlike`: java.util.regex
    diverges from RE2/python on named groups, lookaround and class edge
    cases, and a query that worked below the driver budget must not
    change meaning (or start throwing PatternSyntaxException) merely
    because the vocabulary grew past it."""
    from functools import reduce

    from pyspark.sql.functions import pandas_udf

    # no up-front re.compile validation: RE2-valid-but-python-invalid
    # syntax (\p{Lu} classes) must reach the kernel — the python twin
    # compiles only on the per-batch fallback path, same as the driver

    def _matcher(pat: str):
        @pandas_udf("boolean")
        def m(s: pd.Series) -> pd.Series:
            import pyarrow as pa
            import pyarrow.compute as pc

            vals = s.astype(str)
            try:
                mask = pc.match_substring_regex(
                    pa.Array.from_pandas(vals), pat)
                return mask.to_pandas().fillna(False)
            except Exception:  # non-RE2 syntax: python per batch
                rx = re.compile(pat)
                return vals.map(lambda t: rx.search(t) is not None)
        return m

    if not patterns:  # empty queries: same {} the driver path returns
        return {}
    vocab = spark.read.parquet(*stats_paths).select("term", "df")
    if not aggregated:
        # per-segment fallback sources repeat a term per segment:
        # aggregate to global df so ranking matches the driver path (the
        # hot-tier source is pre-unique and skips this shuffle)
        vocab = vocab.groupBy("term").agg(F.sum("df").alias("df"))
    parts = [
        vocab.where(_matcher(pat)(F.col("term")))
             .select(F.lit(int(key)).alias("key"), "term", "df")
        for key, pat in patterns.items()
    ]
    u = reduce(DataFrame.unionByName, parts)
    w = Window.partitionBy("key").orderBy(F.desc("df"), F.asc("term"))
    rows = (
        u.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= max_terms)
        .select("key", "term")
        .collect()
    )
    out: dict[int, list[str]] = {key: [] for key in patterns}
    for r in rows:
        out[r["key"]].append(r["term"])
    for key in out:
        out[key].sort()
    return out


def expand_pattern(
    index_dir: str, pattern: str, max_terms: int = 10000
) -> list[str]:
    """Single-pattern convenience wrapper over expand_patterns."""
    return expand_patterns(index_dir, {0: pattern}, max_terms)[0]


def regex_token_topk(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    num_tasks: int | None = None,
    max_terms: int = 10000,
    merge: str = "spark",
) -> DataFrame | pd.DataFrame:
    """queries(qid, pattern, k) -> (qid, rank, docid, n_occ).

    n_occ = total occurrences of matching tokens in the doc (sum of tf
    over matched terms); rank: n_occ desc, docid asc, top-k per query.
    """
    from jvector_spark.operators.wand import (
        IndexSnapshot, live, open_segments, term_postings, topk_partial)

    snap = IndexSnapshot(index_dir)
    expansions = expand_patterns(
        index_dir,
        {int(q.qid): str(q.pattern) for q in queries.itertuples()},
        max_terms,
        spark=spark,
    )
    qx = queries[["qid", "k"]].assign(
        terms=[expansions[int(qid)] for qid in queries["qid"]])

    def occurrences(seg, q, top):
        """(live docids, total occurrences of the query's matched terms)."""
        parts = [term_postings(seg.reader, seg.cache, t)
                 for t in q.terms if seg.reader.has_term(t)]
        if not parts:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        d, n = (np.concatenate(x) for x in zip(*parts))
        # per-doc occurrence sum (docids repeat across terms)
        uniq, inv = np.unique(d, return_inverse=True)
        occ = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(occ, inv, n)
        docs = live(uniq, None, seg.tombstones)
        return docs, occ[np.searchsorted(uniq, docs)]

    def kernel(paths, tomb, q):
        # expansions can run to max_terms per query: the probe derives
        # from the broadcast payload rather than riding in the closure
        probe = sorted({t for ts in q["terms"] for t in ts})
        yield topk_partial(open_segments(paths, tomb, probe), q,
                           occurrences, "n_occ")

    return snap.scatter_topk(spark, kernel, qx, "n_occ", merge, num_tasks)
