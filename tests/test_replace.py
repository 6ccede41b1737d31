"""Document update as the 2-phase delete+insert cycle (markNodeDeleted ->
addGraphNode, SURVEY §2.9) — plans.merge.replace_docs — plus the
regression this work uncovered: the append dedup must consult LIVE keys
only, or a deleted doc's key can never be re-indexed."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import search_index
from jvector_spark.plans.merge import (
    load_tombstones,
    mark_deleted,
    replace_docs,
    replace_docs_bulk,
)
from jvector_spark.sources.segment import build_index, load_manifest
from jvector_spark.streaming.micro_segments import append_micro_segment


def _mk(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def _base_rows(n=20):
    return [
        {"repo": "r", "path": f"{i:03d}", "commit": "c0", "lang": "python",
         "content": f"alpha token{i} shared"}
        for i in range(n)
    ]


@pytest.fixture()
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_replace"))
    docs = assign_dense_docids(_mk(spark, _base_rows()).repartition(2))
    build_index(docs, d, num_segments=2)
    return d


def _live_count(spark, idx, term):
    res = search_index(
        spark, idx,
        pd.DataFrame({"qid": [0], "terms": [[term]], "k": [100]}),
        merge="driver")
    return len(res)


def test_deleted_key_is_reindexable(spark, idx):
    """Regression: delete doc -> append a batch containing the same key
    -> the doc must come back (dedup ignores tombstoned copies)."""
    assert _live_count(spark, idx, "token5") == 1
    mark_deleted(idx, [5])
    assert _live_count(spark, idx, "token5") == 0
    batch = _mk(spark, [r for r in _base_rows() if r["path"] == "005"])
    append_micro_segment(batch, batch_id=1, index_dir=idx)
    assert _live_count(spark, idx, "token5") == 1


def test_replace_updates_content(spark, idx):
    """replace_docs: old version invisible, new content searchable,
    exactly one live copy of the key."""
    new = _mk(spark, [{
        "repo": "r", "path": "003", "commit": "c0", "lang": "python",
        "content": "alpha zz_updated_token shared",
    }])
    out = replace_docs(spark, idx, new)
    assert out["replaced"] == 1
    assert _live_count(spark, idx, "token3") == 0       # old gone
    assert _live_count(spark, idx, "zz_updated_token") == 1  # new live
    assert _live_count(spark, idx, "alpha") == 20       # still one per key


def test_replace_is_idempotent(spark, idx):
    new = _mk(spark, [{
        "repo": "r", "path": "007", "commit": "c0", "lang": "python",
        "content": "alpha zz_v2 shared",
    }])
    replace_docs(spark, idx, new)
    replace_docs(spark, idx, new)  # at-least-once retry
    assert _live_count(spark, idx, "zz_v2") == 1
    assert _live_count(spark, idx, "token7") == 0
    assert _live_count(spark, idx, "alpha") == 20


def test_replace_new_key_is_plain_insert(spark, idx):
    new = _mk(spark, [{
        "repo": "r", "path": "999", "commit": "c0", "lang": "python",
        "content": "alpha zz_brand_new shared",
    }])
    out = replace_docs(spark, idx, new)
    assert out["replaced"] == 0
    assert _live_count(spark, idx, "zz_brand_new") == 1
    assert _live_count(spark, idx, "alpha") == 21


def _replace_via(how, spark, idx, new, tmp_path_factory):
    """Replace through replace_docs ("point") or replace_docs_bulk
    ("bulk", into a fresh out_dir); returns the index that answers."""
    if how == "point":
        replace_docs(spark, idx, new)  # NO kwargs — the serve-protocol shape
        return idx
    out = str(tmp_path_factory.mktemp("idx_replaced")) + "/v2"
    replace_docs_bulk(spark, idx, new, out)
    return out


@pytest.mark.parametrize("how", ["point", "bulk"])
def test_replace_defaults_preserve_index_config(spark, tmp_path_factory, how):
    """Regression (ADVICE r3, high): a no-kwargs replace into an index
    built with mode='simple' + positions=True must NOT re-tokenize with
    the 'code' analyzer or flip the manifest's has_positions — the serve
    protocol's 'replace' op passes no kwargs, so the defaults must come
    from the live index config, not constants. Both replace paths take
    them from one helper."""
    d = str(tmp_path_factory.mktemp("idx_cfg"))
    docs = assign_dense_docids(_mk(spark, _base_rows(10)).repartition(2))
    build_index(docs, d, num_segments=2, mode="simple", positions=True)
    assert load_manifest(d)["tokenizer_mode"] == "simple"
    assert load_manifest(d)["has_positions"] is True

    new = _mk(spark, [{
        "repo": "r", "path": "003", "commit": "c0", "lang": "python",
        "content": "alpha zz_cfg_updated shared",
    }])
    d = _replace_via(how, spark, d, new, tmp_path_factory)
    man = load_manifest(d)
    assert man["tokenizer_mode"] == "simple"
    assert man["has_positions"] is True          # append carried positions
    assert _live_count(spark, d, "zz_cfg_updated") == 1
    assert _live_count(spark, d, "token3") == 0


@pytest.mark.parametrize("how", ["point", "bulk"])
def test_replace_matches_null_key_column(spark, tmp_path_factory, how):
    """A key with a null column matches its committed copy null-safely
    (key_join_cond), so the replace supersedes it instead of leaving the
    old version live beside the new one."""
    d = str(tmp_path_factory.mktemp("idx_null_key"))
    rows = _base_rows(10)
    rows[4]["commit"] = None
    docs = assign_dense_docids(_mk(spark, rows).repartition(2))
    build_index(docs, d, num_segments=2)
    new = _mk(spark, [{
        "repo": "r", "path": "004", "commit": None, "lang": "python",
        "content": "alpha zz_null_key shared",
    }])
    d = _replace_via(how, spark, d, new, tmp_path_factory)
    assert _live_count(spark, d, "token4") == 0
    assert _live_count(spark, d, "zz_null_key") == 1
    assert _live_count(spark, d, "alpha") == 10


def _answers(spark, idx):
    """What the index answers, by key: the sorted paths of all live docs
    (every doc holds 'alpha'), and the live counts of the old and new
    versions of key 010."""
    res = search_index(
        spark, idx,
        pd.DataFrame({"qid": [0], "terms": [["alpha"]], "k": [100]}),
        merge="driver")
    keys = pd.concat(
        pd.read_parquet(os.path.join(s["path"], "docs.parquet"),
                        columns=["docid", "path"])
        for s in load_manifest(idx)["segments"])
    paths = sorted(keys.set_index("docid").loc[res["docid"], "path"])
    return (paths, _live_count(spark, idx, "token10"),
            _live_count(spark, idx, "zz_raced"))


def test_replace_raises_when_compaction_overtakes_it(spark, idx,
                                                     monkeypatch):
    """A compaction that renumbers the index between replace_docs' key
    match and its tombstone write: the matched docids now name other
    docs, so mark_deleted refuses them and the index answers as before
    (journaled, they would delete the unrelated doc that took docid 10
    and keep the old version of key 010)."""
    import jvector_spark.plans.merge as merge_mod

    mark_deleted(idx, [0, 1, 2])
    before = _answers(spark, idx)
    real = merge_mod.mark_deleted

    def compact_first(index_dir, docids, **kw):
        merge_mod.compact_in_place(spark, index_dir)
        return real(index_dir, docids, **kw)

    monkeypatch.setattr(merge_mod, "mark_deleted", compact_first)
    new = _mk(spark, [{
        "repo": "r", "path": "010", "commit": "c0", "lang": "python",
        "content": "alpha zz_raced shared",
    }])
    with pytest.raises(ValueError, match="compacted"):
        replace_docs(spark, idx, new)
    assert _answers(spark, idx) == before


def test_bulk_replace_raises_when_source_compaction_overtakes_it(
        spark, idx, tmp_path_factory, monkeypatch):
    """A compaction of the source between replace_docs_bulk's key match
    and its rewrite renumbers the source under the matched docids, so a
    rewrite would purge the wrong doc: the call raises before out_dir is
    created instead of returning an index that lost the new version, and
    the source answers as before."""
    import jvector_spark.plans.merge as merge_mod

    out_dir = str(tmp_path_factory.mktemp("idx_raced_out")) + "/v2"
    mark_deleted(idx, [0, 1, 2])
    before = _answers(spark, idx)
    real = merge_mod.compact_index
    fired = []

    def compact_source_first(*args, **kw):
        if not fired:  # compact_in_place calls compact_index too
            fired.append(True)
            merge_mod.compact_in_place(spark, idx)
        return real(*args, **kw)

    monkeypatch.setattr(merge_mod, "compact_index", compact_source_first)
    new = _mk(spark, [{
        "repo": "r", "path": "010", "commit": "c0", "lang": "python",
        "content": "alpha zz_raced shared",
    }])
    with pytest.raises(ValueError, match="compacted"):
        replace_docs_bulk(spark, idx, new, out_dir)
    assert fired
    assert not os.path.exists(out_dir)
    assert _answers(spark, idx) == before


def test_append_rejects_tokenizer_mode_mismatch(spark, tmp_path_factory):
    """An append can never silently rewrite the index's tokenizer mode."""
    d = str(tmp_path_factory.mktemp("idx_mode"))
    docs = assign_dense_docids(_mk(spark, _base_rows(5)).repartition(1))
    build_index(docs, d, num_segments=1, mode="simple")
    batch = _mk(spark, [{
        "repo": "r", "path": "900", "commit": "c0", "lang": "python",
        "content": "alpha zz_mismatch",
    }])
    with pytest.raises(ValueError, match="tokenizer mode"):
        append_micro_segment(batch, batch_id=9, index_dir=d, mode="code")
    # and the right mode still appends fine
    append_micro_segment(batch, batch_id=9, index_dir=d, mode="simple")
    assert _live_count(spark, d, "zz_mismatch") == 1


def test_key_bloom_parity_null_bool_numeric_keys(spark, tmp_path_factory):
    """Regression (ADVICE r3, medium): write-side and probe-side key
    hashing must agree for null / bool / numeric key columns. A mismatch
    is a bloom FALSE NEGATIVE -> the committed doc is re-indexed as a
    duplicate on redelivery. Deliver the same batch twice and assert no
    key ends up with two live copies."""
    d = str(tmp_path_factory.mktemp("idx_keys"))
    rows = [
        # commit column exercises null, bool-ish strings stay strings;
        # the 'flag' key col is a real bool, 'ver' a real double
        {"repo": "r", "path": "a", "commit": None, "flag": True,
         "ver": 1.0, "content": "alpha one"},
        {"repo": "r", "path": "b", "commit": "c1", "flag": False,
         "ver": 2.5, "content": "alpha two"},
        {"repo": "r", "path": "c", "commit": None, "flag": True,
         "ver": float("nan"), "content": "alpha three"},
    ]
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("ver", T.DoubleType()),
        T.StructField("content", T.StringType()),
    ])
    batch = spark.createDataFrame(rows, schema)
    kc = ("repo", "path", "commit", "flag", "ver")
    append_micro_segment(batch, batch_id=0, index_dir=d, key_cols=kc)
    append_micro_segment(batch, batch_id=1, index_dir=d, key_cols=kc)
    # redelivery must dedup ALL rows — incl. the null-commit / NaN ones
    assert _live_count(spark, d, "alpha") == 3


def test_legacy_key_bloom_fails_open(spark, tmp_path_factory):
    """A key bloom written before integral floats rendered as ints hashed
    the float key 2.0 as '2.0'. Probing such a bloom with today's '2' is
    a false negative, so a redelivered doc would be indexed twice. A
    segment that carries only the old-rendering bloom must fail open to
    the exact anti-join."""
    import glob
    import os

    import pyspark.sql.types as T

    from jvector_spark.sources.segment import _key_hash60, build_key_bloom

    d = str(tmp_path_factory.mktemp("idx_legacy_bloom"))
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("ver", T.DoubleType()),
        T.StructField("content", T.StringType()),
    ])
    batch = spark.createDataFrame(
        [("r", "a", "c0", 2.0, "alpha legacy")], schema)
    kc = ("repo", "path", "commit", "ver")
    append_micro_segment(batch, batch_id=0, index_dir=d, key_cols=kc)
    # the pre-change writer's bloom: key rendered '2.0', old file name
    legacy = build_key_bloom(_key_hash60(pd.DataFrame(
        {"repo": ["r"], "path": ["a"], "commit": ["c0"], "ver": ["2.0"]})))
    for s in load_manifest(d)["segments"]:
        for f in glob.glob(os.path.join(s["path"], "key_bloom*.bin")):
            os.remove(f)
        with open(os.path.join(s["path"], "key_bloom.bin"), "wb") as f:
            f.write(legacy)
    append_micro_segment(batch, batch_id=1, index_dir=d, key_cols=kc)
    assert _live_count(spark, d, "alpha") == 1


def test_append_rejects_positions_mismatch(spark, tmp_path_factory):
    """Appending a position-less segment into a positional index would
    AND the manifest's has_positions to False, permanently disabling
    phrase/proximity serving — the guard is symmetric with the tokenizer
    mode check. The reverse direction (positions=True into a plain
    index) is harmless extra payload and stays allowed."""
    d = str(tmp_path_factory.mktemp("idx_posguard"))
    docs = assign_dense_docids(_mk(spark, _base_rows(5)).repartition(1))
    build_index(docs, d, num_segments=1, positions=True)
    batch = _mk(spark, [{
        "repo": "r", "path": "901", "commit": "c0", "lang": "python",
        "content": "alpha zz_posmiss",
    }])
    with pytest.raises(ValueError, match="positions"):
        append_micro_segment(batch, batch_id=9, index_dir=d)
    append_micro_segment(batch, batch_id=9, index_dir=d, positions=True)
    assert load_manifest(d)["has_positions"] is True
    assert _live_count(spark, d, "zz_posmiss") == 1
