"""Codec round-trip property tests — analog of TestProductQuantization
round-trips (TestProductQuantization.java:57-346) and PQLayout chunk-boundary
edge cases (PQVectors.java:430-492), per FIXTURES.md §6. Block-level cases
run through the segment format that ships (encode_postings_frame decoded by
SegmentReader), for the adaptive codec and for varint-only."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from jvector_spark.functions.codec import varint_decode, varint_encode
from jvector_spark.sources import segment as S


def _frame_reader(tbl, blob) -> S.SegmentReader:
    """A SegmentReader over an in-memory (dictionary, postings blob) pair."""
    rd = object.__new__(S.SegmentReader)
    rd._blob = np.frombuffer(blob, np.uint8)
    rd._blob_file = None
    rd._cols = {n: tbl.column(n).to_numpy(zero_copy_only=False)
                for n in tbl.column_names if n != "term"}
    rd.terms = tbl.column("term").to_pylist()
    rd._term_idx = {t: i for i, t in enumerate(rd.terms)}
    return rd


def _one_term_frame(docids, tfs, adaptive):
    n = len(docids)
    return S.encode_postings_frame(
        np.array(["t"] * n, dtype=object), docids, tfs,
        np.full(n, 17, np.int64), 128, adaptive=adaptive)


@given(st.lists(st.integers(0, 2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr) or len(vals) == 0


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 1000, 100_000])
def test_block_roundtrip_fixture_lengths(n):
    """FIXTURES.md §6: mixed geometric gaps (dense runs + sparse jumps)."""
    rng = np.random.default_rng(n)
    dense = rng.geometric(0.9, n)
    sparse = rng.geometric(1e-5, n)
    pick = rng.random(n) < 0.9
    gaps = np.where(pick, dense, sparse).astype(np.int64)
    docids = np.cumsum(gaps) + 17
    tfs = rng.integers(1, 1000, n).astype(np.int64)
    for adaptive in (True, False):
        tbl, blob = _one_term_frame(docids, tfs, adaptive)
        d2, t2 = _frame_reader(tbl, blob).decode_term("t")
        assert np.array_equal(d2, docids), adaptive
        assert np.array_equal(t2, tfs), adaptive


def test_varint_known_values():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    big = np.array([2**63 - 1], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(big)), big)


def test_compression_ratio_on_dense_gaps():
    """Dense posting lists must actually compress (sanity, not a perf test)."""
    rng = np.random.default_rng(0)
    docids = np.sort(rng.choice(100_000, 50_000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 5, len(docids)).astype(np.int64)
    raw = len(docids) * 16
    for adaptive in (True, False):
        tbl, blob = _one_term_frame(docids, tfs, adaptive)
        assert len(blob) < raw / 4, f"{len(blob)} vs raw {raw} ({adaptive})"
        d2, t2 = _frame_reader(tbl, blob).decode_term("t")
        assert np.array_equal(d2, docids) and np.array_equal(t2, tfs)
        # dense gaps must pick FOR when the codec may choose
        assert tbl.column("gap_codec").to_pylist() == [int(adaptive)]


# --- segment-level property tests: the full v2 frame (adaptive codec +
# optional positions payload) round-trips EXACTLY for arbitrary posting
# sets — the property the merge-compactor and WAND search both rely on.

@st.composite
def _posting_sets(draw):
    n_terms = draw(st.integers(1, 12))
    rows = []
    for t in range(n_terms):
        df = draw(st.integers(1, 300))
        # docids: sorted unique, possibly huge gaps (docid space to 2^40)
        base = draw(st.integers(0, 2**40))
        gaps = draw(st.lists(st.integers(1, 2**20), min_size=df, max_size=df))
        docs = base + np.cumsum(np.array(gaps, dtype=np.int64))
        tfs = draw(st.lists(st.integers(1, 50), min_size=df, max_size=df))
        rows.extend((f"t{t:03d}", int(d), int(f)) for d, f in zip(docs, tfs))
    rows.sort()
    return rows


@given(_posting_sets(), st.booleans(), st.booleans())
@settings(max_examples=25, deadline=None)
def test_segment_frame_roundtrip_property(rows, adaptive, with_pos):
    p_term = np.array([r[0] for r in rows], dtype=object)
    p_doc = np.array([r[1] for r in rows], dtype=np.int64)
    p_tf = np.array([r[2] for r in rows], dtype=np.int64)
    p_dl = np.full(len(rows), 17, dtype=np.int64)
    rng = np.random.default_rng(0)
    p_pos = None
    occ_off = np.concatenate(([0], np.cumsum(p_tf)))
    if with_pos:
        # per posting: tf ascending positions
        p_pos = np.concatenate([
            np.sort(rng.choice(10**6, size=int(tf), replace=False))
            for tf in p_tf
        ]) if len(p_tf) else np.zeros(0, np.int64)
    tbl, blob = S.encode_postings_frame(
        p_term, p_doc, p_tf, p_dl, 128, adaptive=adaptive, p_pos=p_pos)
    rd = _frame_reader(tbl, blob)
    for t in rd.terms:
        m = p_term == t
        if with_pos:
            d, tf, pos = rd.decode_term_positions(t)
            occ_m = np.repeat(m, p_tf)
            assert np.array_equal(pos, p_pos[occ_m]), t
        else:
            d, tf = rd.decode_term(t)
        assert np.array_equal(d, p_doc[m]), t
        assert np.array_equal(tf, p_tf[m]), t
