"""Structured Streaming: incremental micro-segment build + watermarked
rollup. Mirrors the reference's incremental-insert lifecycle
(GraphIndexBuilder.addGraphNode) and read-while-write snapshot semantics
(TestConcurrentReadWriteDeletes) re-expressed as append-only micro-batches."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from jvector_spark.operators.wand import search_index
from jvector_spark.oracle import BM25Oracle
from jvector_spark.sources.segment import load_manifest
from jvector_spark.streaming.micro_segments import (
    stream_build_index,
    streaming_hourly_rollup,
)


@pytest.fixture(scope="module")
def staged_corpus(corpus_pdf, tmp_path_factory):
    """Corpus split into 4 parquet files (arrival order = docid order so the
    incremental build reproduces the batch docid assignment)."""
    d = tmp_path_factory.mktemp("stream_src")
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(keyed)), 4)):
        keyed.iloc[chunk].to_parquet(d / f"part-{i:02d}.parquet", index=False)
    return str(d), keyed


def test_stream_build_matches_oracle(spark, staged_corpus, queries_pdf,
                                     tmp_path_factory):
    src_dir, keyed = staged_corpus
    idx = str(tmp_path_factory.mktemp("stream_idx"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = stream_build_index(stream, idx, ckpt)
    q.awaitTermination(300)

    m = load_manifest(idx)
    assert m["n_docs"] == len(keyed)
    # queries over micro-segments == oracle over the full corpus
    oracle = BM25Oracle(keyed)
    res = search_index(spark, idx, queries_pdf).toPandas()
    for qr in queries_pdf.itertuples():
        got = res[res["qid"] == qr.qid].sort_values("rank")
        exp = oracle.topk(list(qr.terms), int(qr.k))
        assert got["docid"].tolist() == exp["docid"].tolist(), f"qid={qr.qid}"
        assert np.allclose(got["score"].to_numpy(), exp["score"].to_numpy(),
                           rtol=0, atol=0)


def test_key_bloom_parity_and_prefilter(spark, staged_corpus,
                                        tmp_path_factory):
    """The committed-keys bloom must (a) hash identically on the pandas
    write side and the Spark probe side, (b) contain every committed key
    (no false negatives — a fn would DROP a re-delivered doc's dedup and
    duplicate it... other way: fn would skip the anti-join and duplicate
    the doc), and (c) rule out a batch of definitely-new keys so the
    steady-state append skips the sidecar scan entirely."""
    from pyspark.sql import functions as F

    from jvector_spark.operators.dedup import md5_hash60
    from jvector_spark.sources.segment import (
        KEY_SEP,
        _key_hash60,
        key_bloom_any,
        load_key_bloom,
    )

    src_dir, keyed = staged_corpus
    idx = str(tmp_path_factory.mktemp("kb_idx"))
    schema = spark.read.parquet(src_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src_dir))
    stream_build_index(stream, idx,
                       str(tmp_path_factory.mktemp("kb_ck"))).awaitTermination(300)
    m = load_manifest(idx)
    key_cols = ["repo", "path", "commit"]
    # (a) hash parity pandas vs Spark expression
    pd_h = _key_hash60(keyed[key_cols]).astype(np.int64)
    sp_h = np.array(
        spark.read.parquet(src_dir)
        .select(md5_hash60(F.concat_ws(
            KEY_SEP, *[F.col(c).cast("string") for c in key_cols])))
        .toPandas().iloc[:, 0], dtype=np.int64)
    assert set(pd_h.tolist()) == set(sp_h.tolist())
    # (b) every committed key hits SOME segment bloom
    blooms = [load_key_bloom(s["path"]) for s in m["segments"]]
    assert all(b is not None for b in blooms)
    for h in pd_h[:50]:
        assert any(key_bloom_any(b, np.array([h], np.uint64)) for b in blooms)
    # (c) definitely-new keys: overwhelmingly ruled out (fp rate ~1e-4 at
    # this fill; assert zero hits for a 100-key probe set)
    fresh = _key_hash60(pd.DataFrame({
        "repo": [f"brand-new-repo-{i}" for i in range(100)],
        "path": [f"src/new_{i}.py" for i in range(100)],
        "commit": ["deadbeef"] * 100}))
    hits = sum(key_bloom_any(b, fresh) for b in blooms)
    assert hits == 0


def test_stream_restart_is_idempotent(spark, staged_corpus, tmp_path_factory):
    """Re-running the stream over the same source (fresh checkpoint —
    worst-case full re-delivery) must not duplicate docs: fingerprint
    resume skips every segment."""
    src_dir, keyed = staged_corpus
    idx = str(tmp_path_factory.mktemp("stream_idx2"))
    for attempt in range(2):
        ckpt = str(tmp_path_factory.mktemp(f"ckpt_{attempt}"))
        schema = spark.read.parquet(src_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        q = stream_build_index(stream, idx, ckpt)
        q.awaitTermination(300)
        assert load_manifest(idx)["n_docs"] == len(keyed)


def test_stream_redelivery_with_recomposed_batches(spark, staged_corpus,
                                                   queries_pdf,
                                                   tmp_path_factory):
    """Idempotence must be DOC-granular: re-delivering the same source with
    a DIFFERENT batch composition (one availableNow batch instead of four
    single-file batches) must not duplicate any doc — a whole-batch content
    hash cannot catch this, the per-doc key anti-join does."""
    src_dir, keyed = staged_corpus
    idx = str(tmp_path_factory.mktemp("stream_idx3"))
    schema = spark.read.parquet(src_dir).schema
    # pass 1: four single-file micro-batches
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src_dir)
    )
    stream_build_index(stream, idx,
                       str(tmp_path_factory.mktemp("ck_a"))).awaitTermination(300)
    assert load_manifest(idx)["n_docs"] == len(keyed)
    # pass 2: fresh checkpoint, ALL files in one batch (recomposition)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    stream_build_index(stream, idx,
                       str(tmp_path_factory.mktemp("ck_b"))).awaitTermination(300)
    m = load_manifest(idx)
    assert m["n_docs"] == len(keyed), "recomposed re-delivery duplicated docs"
    # search still matches the oracle (no duplicate postings anywhere)
    oracle = BM25Oracle(keyed)
    res = search_index(spark, idx, queries_pdf).toPandas()
    for qr in queries_pdf.itertuples():
        got = res[res["qid"] == qr.qid].sort_values("rank")
        exp = oracle.topk(list(qr.terms), int(qr.k))
        assert got["docid"].tolist() == exp["docid"].tolist(), f"qid={qr.qid}"


def test_streaming_rollup_matches_batch(spark, tmp_path_factory):
    import shutil

    src = str(tmp_path_factory.mktemp("events_src"))
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                os.path.join(src, "events.parquet"))
    events = spark.read.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = streaming_hourly_rollup(stream)
    qh = (
        out.writeStream.format("memory").queryName("rollup")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    qh.awaitTermination(300)
    got = spark.sql("select * from rollup").toPandas()

    from jvector_spark.operators.events import hourly_rollup

    exp = hourly_rollup(events).toPandas()
    g = got.sort_values(["bucket_hour", "event_type"]).reset_index(drop=True)
    e = exp.sort_values(["bucket_hour", "event_type"]).reset_index(drop=True)
    assert len(g) == len(e)
    assert (g["n_events"].to_numpy() == e["n_events"].to_numpy()).all()
    assert np.allclose(g["sum_value"], e["sum_value"], atol=1e-6)


def test_sessionize_matches_spark_builtin_session_window(spark):
    """Cross-validate the custom gap sessionizer against Spark's OWN
    F.session_window aggregation (30-min gap): same session count, same
    (n_events, start, end) multiset per user."""
    from pyspark.sql import functions as F

    from jvector_spark.operators.events import sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ours = sessionize(events, gap_minutes=30).toPandas()
    builtin = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events",
                F.unix_timestamp("w.start").alias("start_sec"))
        .toPandas()
    )
    assert len(ours) == len(builtin)
    a = ours[["user_id", "n_events", "start_sec"]].sort_values(
        ["user_id", "start_sec"]).reset_index(drop=True)
    b = builtin.sort_values(["user_id", "start_sec"]).reset_index(drop=True)
    assert a["user_id"].tolist() == b["user_id"].tolist()
    assert a["n_events"].tolist() == b["n_events"].tolist()
    assert a["start_sec"].tolist() == b["start_sec"].tolist()


def test_within_batch_duplicate_keys_index_once(spark, corpus_pdf,
                                                tmp_path_factory):
    """An at-least-once source can deliver the same key twice INSIDE one
    micro-batch; the committed-segment anti-join can't see either copy,
    so the batch itself must dedup (review finding: both copies got
    docids and the doc served twice forever)."""
    from jvector_spark.streaming.micro_segments import append_micro_segment

    idx = str(tmp_path_factory.mktemp("dup_idx"))
    keyed = corpus_pdf.sort_values(["repo", "path", "commit"]).head(30)
    doubled = pd.concat([keyed, keyed.head(10)], ignore_index=True)
    append_micro_segment(spark.createDataFrame(doubled), 0, idx)
    man = load_manifest(idx)
    assert man["n_docs"] == 30
    # and a docid-granular check: every committed key appears once
    import glob as _glob
    docs = pd.concat([pd.read_parquet(p) for p in
                      _glob.glob(os.path.join(idx, "seg-*", "docs.parquet"))])
    assert not docs.duplicated(["repo", "path", "commit"]).any()
    assert docs["docid"].is_unique and len(docs) == 30
