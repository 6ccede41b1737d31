"""Incremental index build via Structured Streaming micro-segments.

Reference mapping (SURVEY §2.9/§2.10):
  * `GraphIndexBuilder.addGraphNode` incremental insert + concurrent
    read-while-write views (GraphIndexBuilder.java:594-665;
    GraphSearcher.setView:163-165) -> each streaming micro-batch becomes an
    immutable MICRO-SEGMENT appended to the index; queries see a snapshot
    (the manifest) — batch-built segments give the same snapshot isolation
    the reference gets from per-search Views, with no CAS machinery
    (partition/segment isolation replaces lock-freedom, SURVEY §4 row 14).
  * `buildAndMergeNewNodes` (GraphIndexBuilder.java:992-1029) -> the
    accumulated micro-segments are folded into the main index by
    plans/merge.compact_index — the LSM minor->major compaction.

Docid allocation: each micro-batch claims a contiguous docid range
starting at the index's current max_docid+1 (driver-side, one number — the
streaming analog of the dense-ordinal contract). Batches are processed
serially by Structured Streaming's foreachBatch, so ranges never collide;
epoch ids make re-delivered batches idempotent (segment fingerprint check
skips rebuilds on restart — exactly-once index effect over at-least-once
batch delivery).

Scale shape: one micro-segment per batch partition, no shuffle; watermarked
event-time aggregation (streaming_hourly_rollup) uses the SAME logic as the
batch operator (operators/events.hourly_rollup) — the unified-API point of
Structured Streaming.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jvector_spark.sources.segment import (
    build_index,
    load_manifest,
    write_index_manifest,
)


def append_micro_segment(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    mode: str = "code",
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    segments_per_batch: int = 1,
    positions: bool = False,
    auto_compact_segments: int | None = None,
) -> None:
    """foreachBatch sink: build the batch into micro-segment(s) and extend
    the manifest with EXACTLY ONE atomic manifest write per batch.

    Idempotence is DOC-granular, not batch-granular: the batch anti-joins
    its key columns against the keys already committed to the index (the
    docs.parquet sidecars of the manifest's segments), so a restart that
    regroups source files into different micro-batches (availableNow
    collapsing previously-separate batches, at-least-once re-delivery)
    indexes each doc at most once — a whole-batch content hash cannot see
    through recomposition. `batch_id` exists to satisfy the
    foreachBatch(df, batch_id) sink signature; it deliberately plays NO
    role in idempotence (a batch-granular guard would break under the
    recomposition above). Crash-consistency: new segment dirs become
    visible only via the single merged-manifest os.replace; a crash before
    it leaves the previous manifest fully intact (the orphan segment dirs
    are re-adopted by fingerprint on re-delivery or garbage).
    """
    import pandas as pd

    from jvector_spark.plans.merge import acquire_lease, release_lease

    if batch_df.rdd.isEmpty():
        return

    # Ownership lease: the micro-segment dirs staged below must survive a
    # concurrent vacuum even when the batch's build outlives the vacuum
    # mtime grace (vacuum skips dirs newer than any live lease's start).
    lease = acquire_lease(index_dir, purpose="append")
    try:
        _append_micro_segment_locked(
            batch_df, index_dir, mode, content_col, key_cols,
            segments_per_batch, positions, auto_compact_segments)
    finally:
        release_lease(lease)


def _append_micro_segment_locked(
    batch_df: DataFrame,
    index_dir: str,
    mode: str,
    content_col: str,
    key_cols: tuple[str, ...],
    segments_per_batch: int,
    positions: bool,
    auto_compact_segments: int | None,
) -> None:
    import pandas as pd

    spark = batch_df.sparkSession
    # within-BATCH dedup first: an at-least-once source can deliver the
    # same key twice inside one micro-batch (or availableNow can collapse
    # a redelivery into the original's batch) — the committed-segment
    # anti-join below can't see either copy, and without this both would
    # get docids and the index would serve the doc twice forever.
    # dropDuplicates is null-safe on the key columns (null == null),
    # matching key_join_cond's committed-copy equality
    batch_df = batch_df.dropDuplicates(list(key_cols))
    base = 0
    old = None
    if os.path.exists(os.path.join(index_dir, "manifest.json")):
        old = load_manifest(index_dir)
        # an append must NEVER rewrite the index's tokenizer mode: the
        # merged-manifest write below records `mode`, and a mismatched
        # analyzer makes every subsequent search score the old and new
        # docs inconsistently (callers wanting the index's own mode pass
        # it explicitly — plans/merge.index_config reads it)
        old_mode = old.get("tokenizer_mode")
        if old_mode is not None and old_mode != mode:
            raise ValueError(
                f"append with tokenizer mode {mode!r} into an index built "
                f"with {old_mode!r} — pass mode={old_mode!r} (see "
                f"plans.merge.index_config)")
        # symmetric guard for positional payloads: appending a
        # position-less segment ANDs the merged manifest's has_positions
        # to False, permanently disabling phrase/proximity serving for
        # the whole index (the corruption replace_docs' docstring names)
        if old["segments"] and bool(old.get("has_positions")) and not positions:
            raise ValueError(
                "append with positions=False into an index built with "
                "positions=True — pass positions=True (see "
                "plans.merge.index_config)")
        if old["segments"]:
            base = max(s["max_docid"] for s in old["segments"]) + 1
            # Doc-granular dedup against the committed index, bloom-
            # prefiltered: each segment carries a committed-keys bloom
            # (KEY_BLOOM_FILE, written atomically with the segment), so
            # the steady-state all-new-docs batch touches 128 KiB per
            # segment instead of rescanning every docs sidecar —
            # O(batch) driver work + O(segments) bloom bytes per batch
            # rather than O(index) sidecar I/O. Only segments the bloom
            # cannot rule out (plus legacy bloom-less ones) enter the
            # exact anti-join, which keeps the dedup exact: a bloom fp
            # costs one extra join, never a dropped doc.
            from jvector_spark.sources.segment import (
                _key_hash60,
                key_bloom_any,
                load_key_bloom,
            )

            # probe hashes computed by the SAME pandas code path that
            # built each segment's key bloom (_key_hash60) — write/probe
            # parity for null/bool/numeric keys holds by construction; a
            # renderer mismatch here would be a bloom false NEGATIVE,
            # silently re-indexing a committed doc on redelivery
            bh = _key_hash60(batch_df.select(*key_cols).toPandas())
            candidates = []
            for s in old["segments"]:
                bloom = load_key_bloom(s["path"])
                if bloom is None or key_bloom_any(bloom, bh):
                    candidates.append(s)
            if candidates:
                # LIVE keys only: a tombstoned doc's key must be
                # re-indexable, or the reference's delete+reinsert /
                # replace cycle can never re-add a document
                from jvector_spark.plans.merge import load_tombstones

                existing = spark.read.parquet(
                    *[os.path.join(s["path"], "docs.parquet")
                      for s in candidates]
                ).select("docid", *key_cols)
                # the SNAPSHOT's epoch, not the live one: a compaction
                # flip between our load_manifest and here would make
                # the journal look stale ([]), a deleted doc's key in
                # the snapshot segments would read as committed-live,
                # and the delete+reinsert cycle would lose the doc
                tomb = load_tombstones(index_dir,
                                       epoch=int(old.get("docid_epoch", 0)))
                if tomb:
                    existing = existing.where(
                        ~F.col("docid").isin([int(t) for t in tomb]))
                # null-safe, NaN-canonical key equality: a null (or NaN)
                # key column must still match its committed copy, or the
                # doc is re-indexed as a duplicate (see key_join_cond)
                from jvector_spark.sources.segment import key_join_cond

                ex = existing.select(*key_cols)
                batch_df = batch_df.join(
                    ex, on=key_join_cond(batch_df, ex, key_cols),
                    how="left_anti")
                if batch_df.rdd.isEmpty():
                    return

    # dense contiguous docids for this batch, stable under re-delivery:
    # order by the key columns (same contract as assign_dense_docids).
    # The partitionBy-less Window is the single-partition ordering pass;
    # a pre-orderBy/coalesce would be a full extra shuffle whose output
    # ordering the Window immediately re-derives (and build_index
    # repartitions by docid range again after)
    w_cols = [F.col(c) for c in key_cols]
    from pyspark.sql.window import Window

    wn = Window.orderBy(*w_cols)
    with_ids = batch_df.withColumn(
        "docid", (F.row_number().over(wn) - 1 + F.lit(base)).cast("long")
    )
    # build segments WITHOUT publishing a manifest (write_manifest=False):
    # the one-and-only manifest write below covers old + new atomically
    sub_manifest = build_index(
        with_ids, index_dir, mode=mode, num_segments=segments_per_batch,
        content_col=content_col, key_cols=key_cols, write_manifest=False,
        positions=positions,
    )
    if old is not None and old["segments"]:
        prev = pd.DataFrame(old["segments"])
        merged = (
            pd.concat([prev, sub_manifest], ignore_index=True)
            .drop_duplicates("segment_id", keep="last")
            .sort_values("min_docid")
            .reset_index(drop=True)
        )
    else:
        merged = sub_manifest
    write_index_manifest(index_dir, merged, mode)
    # LSM minor->major: when micro-segments pile past the threshold, fold
    # them with an in-place compaction. HYSTERESIS: compact down to
    # threshold/2 so the next trigger is threshold/2 batches away —
    # triggering at N and compacting to exactly N would rewrite the whole
    # index EVERY batch thereafter (quadratic I/O over the stream's life).
    if (auto_compact_segments is not None
            and len(merged) > auto_compact_segments):
        from jvector_spark.plans.merge import compact_in_place

        compact_in_place(spark, index_dir,
                         target_segments=max(1, auto_compact_segments // 2))


def stream_build_index(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    mode: str = "code",
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    trigger_once: bool = True,
    positions: bool = False,
    auto_compact_segments: int | None = None,
):
    """readStream source -> micro-segment index. Returns the query handle.

    `checkpoint_dir` is Spark's WAL/offsets checkpoint (source progress);
    segment fingerprints add index-level idempotence on top.
    """
    def sink(bdf: DataFrame, bid: int) -> None:
        append_micro_segment(bdf, bid, index_dir, mode, content_col, key_cols,
                             positions=positions,
                             auto_compact_segments=auto_compact_segments)

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_hourly_rollup(
    stream_events: DataFrame,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked event-time tumbling rollup on a stream — same semantics
    as operators/events.hourly_rollup, plus late-data handling. (Distinct
    users can't be computed incrementally without state explosion, so the
    streaming variant tracks approx_count_distinct.)"""
    # watermarks require TIMESTAMP (ltz); parquet NTZ casts value-preserving
    # under the UTC session timezone pinned by get_spark
    stream_events = stream_events.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    )
    return (
        stream_events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(
            F.floor(F.unix_timestamp(F.col("win.start")) / 3600)
            .cast("long").alias("bucket_hour"),
            "event_type", "n_events", "sum_value", "n_users_approx",
        )
    )
