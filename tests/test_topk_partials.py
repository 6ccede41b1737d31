"""Per-task partial bound of every ranked index operator: one task
scanning several segments ships at most k partial rows per query into
merge_topk (wand.topk_partial keeps one bounded heap per query across
the task's segments), and the merged result is still a full top-k."""

from __future__ import annotations

import pandas as pd
import pytest

from jvector_spark.operators.boolquery import boolean_search_index
from jvector_spark.operators.facets import sorted_search
from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.phrase import phrase_search
from jvector_spark.operators.proximity import proximity_search
from jvector_spark.operators.regex import regex_token_topk
from jvector_spark.operators.wand import search_index
from jvector_spark.sources.segment import build_index

K = 3

# two queries per operator, each matching many docs in every segment
OPERATORS = {
    "search_index": (search_index, {
        "terms": [["def", "import"], ["return"]]}),
    "boolean_search_index": (boolean_search_index, {
        "query": ["def OR import", "return"]}),
    "phrase_search": (phrase_search, {"phrase": ["def", "return"]}),
    "proximity_search": (proximity_search, {
        "terms": [["def", "import"], ["def", "return"]],
        "window": [20, 20]}),
    "regex_token_topk": (regex_token_topk, {"pattern": ["^de", "^re"]}),
    "sorted_search": (sorted_search, {"terms": [["if"], ["def"]]}),
}


@pytest.fixture(scope="module")
def index4(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_partials"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=4, positions=True)
    assert len(manifest) >= 3
    return idx


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_partials_bounded_per_task(spark, index4, monkeypatch, name):
    import jvector_spark.operators.wand as wand_mod

    op, cols = OPERATORS[name]
    queries = pd.DataFrame({"qid": [0, 1], **cols, "k": [K, K]})
    partials = []
    real_merge = wand_mod.merge_topk

    def spy(partial, *args):
        partials.append(partial.toPandas())
        return real_merge(partial, *args)

    monkeypatch.setattr(wand_mod, "merge_topk", spy)
    got = op(spark, index4, queries, num_tasks=1, merge="driver")
    assert got.groupby("qid").size().to_dict() == {0: K, 1: K}
    (partial,) = partials
    per_query = partial.groupby("qid").size().to_dict()
    assert max(per_query.values()) <= K, per_query
