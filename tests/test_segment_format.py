"""Segment format v2: adaptive per-(term, stream) codec (varint | FOR).

Mirrors the reference's versioned-serialization discipline
(quantization/ProductQuantization.java write:550-589 / load:639-683 —
version-tagged encode, older versions still load): search results must be
bit-identical across codecs, v1 segments (no codec columns) must still
load, and the adaptive choice must never lose to varint-only.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from jvector_spark.operators.ids import assign_dense_docids
from jvector_spark.operators.wand import search_index
from jvector_spark.sources.segment import SegmentReader, build_index, load_manifest


@pytest.fixture(scope="module")
def v2_index(spark, corpus_df, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_v2"))
    manifest = build_index(assign_dense_docids(corpus_df), idx, num_segments=4)
    return idx, manifest


def test_adaptive_beats_or_matches_varint(spark, corpus_df, v2_index,
                                          tmp_path_factory):
    """Adaptive codec picks min(varint, FOR) per (term, stream) — total
    postings bytes must be <= a varint-only build of the same corpus, and
    results identical."""
    idx2, m2 = v2_index
    idx1 = str(tmp_path_factory.mktemp("idx_v1style"))
    m1 = build_index(assign_dense_docids(corpus_df), idx1, num_segments=4,
                     codec="varint")
    assert int(m2["bytes_postings"].sum()) < int(m1["bytes_postings"].sum())
    q = pd.DataFrame({"qid": [0, 1], "terms": [["import"], ["def", "return"]],
                      "k": [10, 10]})
    r2 = search_index(spark, idx2, q).toPandas().sort_values(["qid", "rank"])
    r1 = search_index(spark, idx1, q).toPandas().sort_values(["qid", "rank"])
    assert r2["docid"].tolist() == r1["docid"].tolist()
    assert np.allclose(r2["score"], r1["score"], rtol=0, atol=0)


def test_decode_matches_across_codecs(v2_index):
    """Per-term decode: FOR-coded terms exist in a real build, and each
    term's (docids, tfs) round-trips exactly regardless of codec."""
    idx, manifest = v2_index
    saw_for = 0
    for p in manifest["path"]:
        r = SegmentReader(p)
        t = pq.read_table(os.path.join(p, "terms.parquet"))
        gap_codec = t.column("gap_codec").to_numpy()
        df = t.column("df").to_numpy()
        saw_for += int((gap_codec == 1).sum())
        for i, term in enumerate(r.terms[:50]):
            d, tf = r.decode_term(term)
            assert len(d) == df[i]
            assert (np.diff(d) > 0).all()
            assert (tf >= 1).all()
    assert saw_for > 0, "no term ever chose FOR — adaptivity is dead"


def test_v1_segment_still_loads(spark, corpus_df, tmp_path_factory):
    """A v1 segment (varint-only bytes, NO codec dictionary columns,
    meta version 1) must load and decode identically — the reference's
    older-version-load contract."""
    idx = str(tmp_path_factory.mktemp("idx_v1"))
    manifest = build_index(assign_dense_docids(corpus_df), idx,
                           num_segments=2, codec="varint")
    # strip the v2 dictionary columns + downgrade meta to version 1
    for p in manifest["path"]:
        t = pq.read_table(os.path.join(p, "terms.parquet"))
        t = t.drop_columns(["gap_codec", "gap_width", "tf_codec", "tf_width"])
        pq.write_table(t, os.path.join(p, "terms.parquet"))
        mp = os.path.join(p, "meta.json")
        with open(mp) as f:
            meta = json.load(f)
        meta["version"] = 1
        with open(mp, "w") as f:
            json.dump(meta, f)
    reader = SegmentReader(manifest["path"].iloc[0])
    term = reader.terms[0]
    d, tf = reader.decode_term(term)
    assert (np.diff(d) > 0).all() and (tf >= 1).all()
    # and a full search over the downgraded index still works
    q = pd.DataFrame({"qid": [0], "terms": [["import"]], "k": [5]})
    res = search_index(spark, idx, q).toPandas()
    assert len(res) > 0


def test_reader_spi_filesystem_path(v2_index):
    """Reader SPI: every byte of a segment readable through an explicit
    pyarrow.fs.FileSystem (the ReaderSupplier analog — S3/GCS/HDFS plug in
    via the same interface; LocalFileSystem here exercises the exact
    non-mmap code path: meta via open_input_stream, parquet via
    filesystem=, posting bytes via ranged read_at)."""
    from pyarrow import fs as pafs

    idx, manifest = v2_index
    seg = manifest["path"].iloc[0]
    local = SegmentReader(seg)
    remote_style = SegmentReader(seg, filesystem=pafs.LocalFileSystem())
    assert remote_style._blob is None or not remote_style.meta["bytes_postings"]
    assert remote_style.terms == local.terms
    for term in local.terms[:40]:
        d1, t1 = local.decode_term(term)
        d2, t2 = remote_style.decode_term(term)
        assert np.array_equal(d1, d2) and np.array_equal(t1, t2), term
    # attribute filter (acceptOrds) through the SPI — filter on a real
    # value of the sidecar's `repo` key column
    some_repo = pq.read_table(
        os.path.join(seg, "docs.parquet"), columns=["repo"]
    ).column("repo")[0].as_py()
    a1 = local.accepted_docids({"repo": some_repo})
    a2 = remote_style.accepted_docids({"repo": some_repo})
    assert len(a1) > 0 and np.array_equal(a1, a2)


def test_compression_ratio_improves(v2_index):
    """Manifest-level compression metrics: v2 must beat raw 12B/posting
    by a healthy margin on the synthetic corpus."""
    idx, _ = v2_index
    m = load_manifest(idx)
    assert m["metrics"]["compression_ratio"] >= 6.0, m["metrics"]


def test_sorted_fast_path_byte_identical_to_fallback(
        spark, corpus_df, tmp_path_factory):
    """write_segment's order rule: the rank-only sort (docid-ascending
    stream, the range-sorted build) and the composite-key fallback (rows in
    random order under assume_partitioned) must write BYTE-IDENTICAL
    segments, with and without positions. Compaction goes through the same
    writer, so its segments carry the same stage timers as built ones."""
    from pyspark.sql import functions as F

    from jvector_spark.plans.merge import compact_index, mark_deleted

    # one partition, so both builds cut the same single segment
    docs = assign_dense_docids(corpus_df, num_partitions=1)
    shuffled = docs.sortWithinPartitions(F.rand(5))
    for positions in (False, True):
        a = str(tmp_path_factory.mktemp("idx_sorted"))
        b = str(tmp_path_factory.mktemp("idx_shuffled"))
        ma = build_index(docs, a, num_segments=1, positions=positions)
        mb = build_index(shuffled, b, assume_partitioned=True,
                         positions=positions)
        assert list(ma["segment_id"]) == list(mb["segment_id"])
        for sid in ma["segment_id"]:
            for f in ("postings.bin", "terms.parquet", "docs.parquet"):
                with open(os.path.join(a, sid, f), "rb") as fa, \
                        open(os.path.join(b, sid, f), "rb") as fb:
                    assert fa.read() == fb.read(), (positions, sid, f)
    mark_deleted(a, [0, 7, 8])
    out = str(tmp_path_factory.mktemp("idx_compacted"))
    merged = compact_index(spark, a, out, target_segments=1)
    assert len(merged) and (merged["status"] == "merged").all()
    for p in merged["path"]:
        with open(os.path.join(p, "meta.json")) as f:
            stage = json.load(f)["stage_sec"]
        assert {"final_sort_sec", "encode_sec", "write_sec"} <= set(stage)


def test_block_size_64_round_trip(spark, corpus_df, v2_index,
                                  tmp_path_factory):
    """block_size is a public build parameter: a 64-posting-block build
    must produce identical search results to the default 128 (regression:
    the FOR full-block fast path tiled 16*w bytes — the 128-block size —
    for every block_size, corrupting packed postings at 64 and crashing
    at 256)."""
    idx128, _ = v2_index
    q = pd.DataFrame({"qid": [0, 1, 2],
                      "terms": [["import"], ["def", "return"], ["run_parse33"]],
                      "k": [10, 10, 10]})
    base = search_index(spark, idx128, q, merge="driver")
    for bs in (64, 256):
        idx = str(tmp_path_factory.mktemp(f"idx_bs{bs}"))
        m = build_index(assign_dense_docids(corpus_df), idx,
                        num_segments=4, block_size=bs)
        # FOR must actually engage for the comparison to mean anything
        assert (m["status"] == "built").all()
        got = search_index(spark, idx, q, merge="driver")
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      base.reset_index(drop=True))
    with pytest.raises(Exception, match="multiple of 8"):
        build_index(assign_dense_docids(corpus_df),
                    str(tmp_path_factory.mktemp("idx_bs100")),
                    num_segments=1, block_size=100)


def test_resume_rebuilds_on_quantize_meta_change(spark, corpus_df,
                                                 tmp_path_factory):
    """quantize_meta changes segment bytes, so it must be part of the
    resume fingerprint: rebuilding with quantize_meta=True over a plain
    index must NOT resume the unquantized segments (regression: the
    fingerprint omitted the flag and silently kept the old format)."""
    idx = str(tmp_path_factory.mktemp("idx_qm"))
    docs = assign_dense_docids(corpus_df)
    m1 = build_index(docs, idx, num_segments=2)
    assert (m1["status"] == "built").all()
    m2 = build_index(docs, idx, num_segments=2, quantize_meta=True)
    assert (m2["status"] == "built").all(), \
        "quantize_meta change must rebuild, not resume"
    seg = sorted(os.path.join(idx, d) for d in os.listdir(idx)
                 if d.startswith("seg-"))[0]
    with open(os.path.join(seg, "meta.json")) as f:
        assert json.load(f)["quantize_meta"] is True
    m3 = build_index(docs, idx, num_segments=2, quantize_meta=True)
    assert (m3["status"] == "resumed").all()


def test_for_full_block_bytes_track_block_size():
    """Unit form of the block-size regression, guaranteed to engage the
    FOR full-block fast path: one 300-posting term with regular gaps
    (FOR always wins), decoded block-by-block from the dictionary's own
    offsets — pre-fix this corrupted silently at 64 and crashed at 256."""
    from jvector_spark.sources.segment import encode_postings_frame

    n = 300
    p_term = np.array(["t"] * n, dtype=object)
    p_doc = np.arange(0, 2 * n, 2, dtype=np.int64)
    p_tf = np.ones(n, dtype=np.int64)
    p_dl = np.full(n, 10, dtype=np.int64)
    for bs in (64, 128, 256):
        tbl, blob = encode_postings_frame(p_term, p_doc, p_tf, p_dl,
                                          block_size=bs)
        r = {name: tbl[name][0].as_py() for name in tbl.column_names}
        assert r["gap_codec"] == 1  # FOR engaged
        w = r["gap_width"]
        blk_n = np.asarray(r["block_n"])
        offs = np.asarray(r["block_doc_off"])
        first = np.asarray(r["block_first"])
        bits = np.unpackbits(np.frombuffer(blob, np.uint8))
        shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
        got = []
        for i in range(len(blk_n)):
            sec = bits[offs[i] * 8: offs[i] * 8 + blk_n[i] * w]
            g = (sec.reshape(blk_n[i], w).astype(np.uint64)
                 << shifts).sum(axis=1, dtype=np.uint64)
            got.append(first[i] + np.cumsum(g))
        assert (np.concatenate(got) == p_doc).all(), bs
