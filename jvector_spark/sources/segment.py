"""Doc-partitioned index segments: the OnDiskGraphIndex analog.

Reference mapping (SURVEY §2.1/§2.9):
  * OnDiskGraphIndex header/records/footer + version magic
    (graph/disk/OnDiskGraphIndex.java:66-107) -> seg dir with terms.parquet
    (dictionary + per-block metadata), postings.bin (compressed streams),
    docs.parquet (docid map + doclen + sha256), meta.json (version, ranges,
    checksum).
  * Footer-last sequential write for object storage
    (OnDiskSequentialGraphIndexWriter.java:28-56) -> write into `<seg>.tmp/`
    then atomic rename + `_SUCCESS` marker written last.
  * CheckpointManager resumability (examples/util/CheckpointManager.java:
    33-112) -> input-fingerprint check: a re-run skips segments whose
    fingerprint matches (status='resumed'), giving partition-granular
    resumable builds (north rule).

Postings layout v2 (the PQ-code/FusedADC analog, SURVEY §2.8): a gap
stream then a tf stream, each encoded per TERM with the adaptive codec —
varint (LEB128; absolute first docid at term start, cross-block gaps —
the v1 layout) or FOR (per-term fixed-width bit-packing in per-block
byte-aligned sections; see encode_postings_frame). Per-block metadata
(byte offsets, value counts, first/last docid, max_tf, min_dl) lives in
the dictionary together with the per-term (codec, width), so:
  * every read decodes a term whole: ONE range read + varint_decode +
    cumsum, or ONE unpackbits + gather for FOR terms, and one range read +
    varint_decode for its positions (no per-block calls);
  * (max_tf, min_dl) per block upper-bounds the BM25 tf-norm for block-max
    pruning (FusedADC-style inline metadata, feature/FusedADC.java:39-59).
v1 segments (no codec columns in the dictionary) still load: every stream
defaults to varint, which is byte-identical to the v1 writer.

Scale shape: each segment is built by ONE executor task from ONE docid-range
partition in a single mapInPandas pass (tokenize -> postings -> streams ->
files) — the index build needs **zero shuffle** beyond the docid
assignment's range partition. Encoding is a handful of vectorized numpy
calls per segment (one varint_encode + one packbits over the whole blob);
per-block stats use np.maximum/minimum.reduceat. This is the Lucene/ES
doc-partitioned model: at 10^12 files the build is embarrassingly
parallel, each task bounded by its partition size.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from itertools import chain
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from jvector_spark import BLOCK_SIZE, SEGMENT_FORMAT_VERSION
from jvector_spark.functions.codec import varint_decode, varint_encode, varint_nbytes
from jvector_spark.functions.tokenizer import tokenize_series

MANIFEST_SCHEMA = (
    "segment_id string, path string, status string, min_docid long, "
    "max_docid long, n_docs long, n_terms long, n_postings long, "
    "bytes_postings long, build_sec double, fingerprint string"
)


def _task_lineage() -> dict:
    """Which Spark task/attempt built this segment (empty driver-side)."""
    try:
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is None:
            return {}
        return {"partition": tc.partitionId(), "attempt": tc.attemptNumber(),
                "stage": tc.stageId()}
    except Exception:
        return {}


def _fingerprint(docids: np.ndarray, shas: pd.Series, params: str = "") -> str:
    """Input fingerprint for segment resume. `params` MUST encode every
    build setting that changes the segment BYTES (tokenizer mode, codec,
    positions, block size) — otherwise rebuilding the same docs with
    different settings would silently resume the old segments (e.g.
    `build --positions` over a non-positional index would no-op)."""
    h = hashlib.sha256()
    h.update(docids.astype("<i8").tobytes())
    h.update("".join(shas.tolist()).encode())
    h.update(params.encode())
    return h.hexdigest()


def _bit_length(vals: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for non-negative ints < 2^53 (frexp exponent:
    v = frac * 2^e with frac in [0.5, 1) -> e == bit_length; exact because
    the float64 conversion is exact below 2^53)."""
    return np.where(vals > 0, np.frexp(vals.astype(np.float64))[1], 0).astype(
        np.int64
    )


def _scatter_positions(offs: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flattened target indices [off_i, off_i + len_i) for each range i."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return np.repeat(offs, lens) + (
        np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    )


def _quantize_meta_stream(
    vals: np.ndarray, b_term: np.ndarray, tblk_starts: np.ndarray,
    up: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-term affine uint8 quantization of a flat per-block metadata
    stream (NVQuantization.java:42-107 analog: per-subvector lo/scale).

    `up=True` rounds codes UP (dequant ≥ value — for upper-bound fields
    like max_tf); `up=False` rounds DOWN (dequant ≤ value — for
    lower-bound fields like min_dl). A post-check bumps any code whose
    float dequantization lands on the wrong side of the true value, so
    soundness never rests on float rounding luck.

    Returns (codes uint8 per block, lo float64 per term, scale float64
    per term); dequant = lo[term] + code * scale[term].
    """
    lo = np.minimum.reduceat(vals, tblk_starts)
    hi = np.maximum.reduceat(vals, tblk_starts)
    # tiny inflation keeps (hi-lo)/scale strictly under 255.5 so ceil +
    # the soundness bump can never exceed uint8 range
    scale = np.where(hi > lo, (hi - lo) / 255.0 * (1.0 + 1e-9), 1.0)
    lo_v, scale_v = lo[b_term], scale[b_term]
    frac = (vals - lo_v) / scale_v
    codes = (np.ceil(frac) if up else np.floor(frac)).astype(np.int64)
    codes = np.clip(codes, 0, 255)
    deq = lo_v + codes * scale_v
    if up:
        codes[deq < vals] += 1
    else:
        codes[deq > vals] -= 1
    if codes.min() < 0 or codes.max() > 255:
        raise AssertionError("quantized block-meta code out of uint8 range")
    deq = lo_v + codes * scale_v
    bad = (deq < vals) if up else (deq > vals)
    if bad.any():
        raise AssertionError("quantized block-meta bound unsound")
    return codes.astype(np.uint8), lo, scale


def block_meta_bounds(r: dict) -> tuple[np.ndarray, np.ndarray]:
    """(tf_upper, dl_lower) float64 per block from a dictionary row —
    exact values for full-precision dictionaries, sound dequantized
    bounds (tf ≥ true max_tf, dl ≤ true min_dl) for NVQ-quantized ones.
    The returned pair always upper-bounds the block's BM25 contribution,
    so block-max pruning with it is rank-exact either way."""
    qtf = r.get("block_qtf")
    if qtf is not None:
        tf = (r["q_tf_lo"]
              + np.frombuffer(qtf, np.uint8).astype(np.float64)
              * r["q_tf_scale"])
        dl = (r["q_dl_lo"]
              + np.frombuffer(r["block_qdl"], np.uint8).astype(np.float64)
              * r["q_dl_scale"])
        return tf, np.maximum(dl, 1.0)
    return (np.asarray(r["block_max_tf"], dtype=np.float64),
            np.asarray(r["block_min_dl"], dtype=np.float64))


def encode_postings_frame(
    p_term: np.ndarray,
    p_doc: np.ndarray,
    p_tf: np.ndarray,
    p_dl: np.ndarray,
    block_size: int = BLOCK_SIZE,
    adaptive: bool = True,
    p_pos: np.ndarray | None = None,
    quantize_meta: bool = False,
) -> tuple[pa.Table, bytes]:
    """Postings sorted by (term, docid) -> (dictionary table, postings blob).

    Format v2 — adaptive per-(term, stream) codec (the survey §2.8
    "varint/PFOR" contract; versioned-codec discipline per the reference's
    quantization/ProductQuantization.java write/load):
      * varint (codec 0): LEB128 gap stream — absolute docid at term start,
        cross-block gaps included (v1 layout, unchanged);
      * FOR (codec 1): per-term fixed bit width `w`; each BLOCK is an
        independently byte-aligned bit-packed section holding `block_n`
        values where value[0] = 0 (the block's first docid lives in the
        dictionary's block_first) and value[j] = docid gap. Full blocks
        (block_size=128) are exactly 16*w bytes — no padding — so
        whole-term decode is a single unpackbits + reshape.
    The per-term choice takes whichever stream is smaller (PFOR-style
    adaptivity at term granularity: one outlier gap pushes the whole term
    to varint). Everything here is numpy-vectorized: the whole segment's
    varint values encode in one call and ALL FOR values scatter into one
    global bit array packed with a single np.packbits.

    `adaptive=False` forces varint everywhere (v1-compatible byte layout;
    used by the format-compat tests).

    `p_pos` (optional): occurrence-level token positions, parallel to the
    postings in posting order (posting i owns p_pos[cum_tf[i]:cum_tf[i+1]],
    ascending within a posting) — the per-posting PAYLOAD stream (the
    reference's Feature-plugin surface, graph/disk/feature/*). Stored as a
    varint region after the tf region with per-block byte ranges
    (block_pos_off/len) in the dictionary; enables phrase queries.

    `quantize_meta=True`: NVQ analog (the reference's nonuniform-quantized
    metadata, quantization/NVQuantization.java:42-155 + NVQScorer — lossy
    per-record metadata with exact rerank). The per-block (max_tf, min_dl)
    pruning metadata stores as uint8 codes with per-term (lo, scale)
    affine dequantization instead of two int32 lists — 8x smaller hot-tier
    block metadata, the per-segment in-memory dictionary bill at 10^12
    docs. Quantization is DIRECTIONAL so pruning stays sound and results
    stay rank-identical: max_tf rounds UP (dequant ≥ true max_tf), min_dl
    rounds DOWN (dequant ≤ true min_dl), so every quantized block upper
    bound ≥ the exact bound — blocks are never wrongly skipped, and exact
    scores are always computed from decoded postings (the
    lossy-bound-plus-exact-rerank discipline of NVQ).
    """
    if block_size <= 0 or block_size % 8:
        # the FOR fast path tiles full blocks at block_size*w/8 bytes,
        # integral only for multiples of 8 (and the reader's whole-term
        # unpackbits+reshape needs the same byte alignment)
        raise ValueError(
            f"block_size must be a positive multiple of 8, got {block_size}")
    n = len(p_doc)
    if n == 0:  # all-empty-content partition: valid, empty segment
        empty = pa.table({
            "term": pa.array([], pa.string()),
            "df": pa.array([], pa.int64()), "cf": pa.array([], pa.int64()),
            "gap_codec": pa.array([], pa.int32()),
            "gap_width": pa.array([], pa.int32()),
            "tf_codec": pa.array([], pa.int32()),
            "tf_width": pa.array([], pa.int32()),
            **{c: pa.ListArray.from_arrays(
                pa.array([0], pa.int32()),
                pa.array([], pa.int32() if c in (
                    "block_n", "block_doc_len", "block_tf_len",
                    "block_max_tf", "block_min_dl") else pa.int64()),
            ).slice(0, 0) for c in (
                "block_n", "block_first", "block_last", "block_doc_off",
                "block_doc_len", "block_tf_off", "block_tf_len",
                "block_max_tf", "block_min_dl")},
        })
        return empty, b""
    # p_term is sorted (function contract), so term boundaries are where
    # adjacent values differ — O(n) elementwise compares instead of
    # np.unique's O(n log n) object re-sort (measurable: this runs over
    # every posting of the segment inside the encode stage)
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(p_term[1:], p_term[:-1], out=change[1:])
    term_starts = np.flatnonzero(change)
    terms = p_term[term_starts]
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = p_doc[0]
    gaps[1:] = (p_doc[1:] - p_doc[:-1]).astype(np.uint64)
    gaps[term_starts] = p_doc[term_starts].astype(np.uint64)  # absolute at term start
    tf_u = p_tf.astype(np.uint64)

    # block boundaries: every block_size postings within each term
    term_bounds = np.append(term_starts, n)
    tlens = np.diff(term_bounds)
    nblocks_per_term = (tlens + block_size - 1) // block_size
    total_blocks = int(nblocks_per_term.sum())
    b_term = np.repeat(np.arange(len(terms)), nblocks_per_term)
    within = np.arange(total_blocks) - np.repeat(
        np.concatenate(([0], np.cumsum(nblocks_per_term)[:-1])), nblocks_per_term
    )
    b_start = term_starts[b_term] + within * block_size
    b_end = np.minimum(b_start + block_size, term_bounds[b_term + 1])
    blk_n = b_end - b_start
    blk_of_val = np.repeat(np.arange(total_blocks), blk_n)  # block idx per posting

    # FOR stored gap values: 0 at every block start (block_first is in the
    # dictionary), real gaps elsewhere
    v_gap = gaps.copy()
    v_gap[b_start] = 0

    # per-term widths and per-codec byte costs
    w_gap_t = _bit_length(np.maximum.reduceat(v_gap, term_starts))
    w_tf_t = _bit_length(np.maximum.reduceat(tf_u, term_starts))
    gap_nb = varint_nbytes(gaps)
    tf_nb = varint_nbytes(tf_u)
    cs_gap = np.concatenate(([0], np.cumsum(gap_nb)))
    cs_tf = np.concatenate(([0], np.cumsum(tf_nb)))
    vlen_gap_blk = cs_gap[b_end] - cs_gap[b_start]
    vlen_tf_blk = cs_tf[b_end] - cs_tf[b_start]
    flen_gap_blk = (blk_n * w_gap_t[b_term] + 7) // 8
    flen_tf_blk = (blk_n * w_tf_t[b_term] + 7) // 8
    tb0 = np.concatenate(([0], np.cumsum(nblocks_per_term)))[:-1]
    vbytes_gap_t = cs_gap[term_bounds[1:]] - cs_gap[term_bounds[:-1]]
    vbytes_tf_t = cs_tf[term_bounds[1:]] - cs_tf[term_bounds[:-1]]
    fbytes_gap_t = np.add.reduceat(flen_gap_blk, tb0)
    fbytes_tf_t = np.add.reduceat(flen_tf_blk, tb0)
    if adaptive:
        gap_codec_t = (fbytes_gap_t < vbytes_gap_t).astype(np.int32)
        tf_codec_t = (fbytes_tf_t < vbytes_tf_t).astype(np.int32)
    else:
        gap_codec_t = np.zeros(len(terms), np.int32)
        tf_codec_t = np.zeros(len(terms), np.int32)

    gap_for_blk = gap_codec_t[b_term] == 1
    tf_for_blk = tf_codec_t[b_term] == 1
    blk_doc_len = np.where(gap_for_blk, flen_gap_blk, vlen_gap_blk)
    blk_tf_len = np.where(tf_for_blk, flen_tf_blk, vlen_tf_blk)
    blk_doc_off = np.concatenate(([0], np.cumsum(blk_doc_len)))[:-1]
    gap_region = int(blk_doc_len.sum())
    blk_tf_off = gap_region + np.concatenate(([0], np.cumsum(blk_tf_len)))[:-1]
    total_bytes = gap_region + int(blk_tf_len.sum())

    # optional positions payload region (sequential varint after tf region)
    blk_pos_off = blk_pos_len = None
    pos_bytes = b""
    if p_pos is not None:
        pos_u = np.ascontiguousarray(p_pos, dtype=np.uint64)
        occ_off = np.concatenate(([0], np.cumsum(p_tf))).astype(np.int64)
        pos_nb = varint_nbytes(pos_u)
        pos_cs = np.concatenate(([0], np.cumsum(pos_nb)))
        pos_region = total_bytes
        blk_pos_off = pos_region + pos_cs[occ_off[b_start]]
        blk_pos_len = pos_cs[occ_off[b_end]] - pos_cs[occ_off[b_start]]
        pos_bytes = varint_encode(pos_u)
        total_bytes += len(pos_bytes)

    out = np.zeros(total_bytes, np.uint8)
    if pos_bytes:
        out[-len(pos_bytes):] = np.frombuffer(pos_bytes, np.uint8)
    # --- varint sections: one encode call per stream, scattered to the
    # (possibly non-contiguous) block byte ranges
    gap_for_val = gap_for_blk[blk_of_val]
    tf_for_val = tf_for_blk[blk_of_val]
    vi_gap = np.frombuffer(varint_encode(gaps[~gap_for_val]), np.uint8)
    if len(vi_gap):
        out[_scatter_positions(blk_doc_off[~gap_for_blk],
                               vlen_gap_blk[~gap_for_blk])] = vi_gap
    vi_tf = np.frombuffer(varint_encode(tf_u[~tf_for_val]), np.uint8)
    if len(vi_tf):
        out[_scatter_positions(blk_tf_off[~tf_for_blk],
                               vlen_tf_blk[~tf_for_blk])] = vi_tf

    # --- FOR sections (MSB-first bit order, matching np.unpackbits).
    # Full blocks (block_size values, 128*w bits = 16*w bytes, padding-free)
    # pack per distinct width with ONE broadcastted bit matrix + packbits —
    # ~5x cheaper than per-bit scatter. Only partial blocks (<=1 per term)
    # go through the bit-scatter fallback.
    within_blk = np.arange(n, dtype=np.int64) - b_start[blk_of_val]
    full_blk = blk_n == block_size
    full_val = full_blk[blk_of_val]

    # full-block packing works in bounded SLABS (<=2 MiB of bit matrix at
    # a time): the (n_vals, w) uint8 broadcast temp is what inflates the
    # memory bus under 16 concurrent build workers — slabbing keeps each
    # worker's temp cache-resident instead of streaming hundreds of MB
    # (round-3 scaling table: packbits +40% CPU at 16 workers)
    SLAB_BITS = 2 << 20

    def _pack_stream(vals, for_val, w_term_val, base_byte_off):
        # full FOR blocks, grouped by width
        fmask = for_val & full_val
        if fmask.any():
            wv = w_term_val[fmask]
            v_f = vals[fmask]
            off_f = base_byte_off[blk_of_val[fmask]]
            within_f = within_blk[fmask]
            # widths live in [0, 64]: bincount beats a full sort-unique
            for w in np.flatnonzero(np.bincount(wv.astype(np.int64))):
                w = int(w)
                if w == 0:
                    continue
                sel = wv == w
                v_w = v_f[sel]
                # target bytes: value i's w bits start at byte boundary
                # pattern off + within*w/8; full blocks are contiguous 16w-
                # byte runs, so per-value byte positions tile exactly
                first_of_blk = within_f[sel] == 0
                blk_offs = off_f[sel][first_of_blk]
                # a full block holds block_size values = block_size*w/8
                # bytes (integral: block_size % 8 == 0 is validated at
                # encode entry) — 16*w only at the default block_size=128
                fblk_bytes = (block_size * w) // 8
                dst = _scatter_positions(
                    blk_offs, np.full(len(blk_offs), fblk_bytes, np.int64))
                shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
                step = max(block_size, (SLAB_BITS // max(w, 1))
                           // block_size * block_size)
                for lo in range(0, len(v_w), step):
                    chunk = v_w[lo:lo + step]
                    bits = ((chunk[:, None] >> shifts[None, :])
                            & np.uint64(1)).astype(np.uint8)
                    packed = np.packbits(bits.ravel())
                    byte_lo = lo * w // 8
                    out[dst[byte_lo:byte_lo + len(packed)]] = packed
        # partial FOR blocks (<=1 per term): pack into a COMPACT local bit
        # array covering only the partial blocks' byte ranges, then OR the
        # packed bytes into place — never a bit image of the whole blob
        # (which is 8x blob bytes of zeros plus a full-blob packbits pass)
        pmask = for_val & ~full_val
        if pmask.any():
            w = w_term_val[pmask]
            if int(w.sum()):
                v = vals[pmask]
                pblk = blk_of_val[pmask]
                # pblk is a subsequence of the nondecreasing blk_of_val,
                # so unique blocks come from boundary detection, not sort
                bchg = np.empty(len(pblk), dtype=bool)
                bchg[0] = True
                np.not_equal(pblk[1:], pblk[:-1], out=bchg[1:])
                blks = pblk[bchg]
                inv = np.cumsum(bchg) - 1
                nb = np.bincount(inv)
                wb = np.zeros(len(blks), dtype=np.int64)
                wb[inv] = w  # width is per-term, constant within a block
                bytes_b = (nb * wb + 7) // 8
                lbase = np.concatenate(([0], np.cumsum(bytes_b[:-1]))) * 8
                base_bit = lbase[inv] + within_blk[pmask] * w
                starts = np.concatenate(([0], np.cumsum(w)[:-1]))
                tot = int(w.sum())
                t = np.arange(tot, dtype=np.int64) - np.repeat(starts, w)
                v_rep = np.repeat(v, w)
                w_rep = np.repeat(w, w)
                bits_flat = ((v_rep >> (w_rep - 1 - t).astype(np.uint64))
                             & np.uint64(1)).astype(np.uint8)
                loc = np.zeros(int(bytes_b.sum()) * 8, np.uint8)
                loc[np.repeat(base_bit, w) + t] = bits_flat
                dst = _scatter_positions(base_byte_off[blks], bytes_b)
                out[dst] |= np.packbits(loc)

    _pack_stream(v_gap, gap_for_val, w_gap_t[b_term][blk_of_val], blk_doc_off)
    _pack_stream(tf_u, tf_for_val, w_tf_t[b_term][blk_of_val], blk_tf_off)
    blob = out.tobytes()

    blk_max_tf = np.maximum.reduceat(p_tf, b_start)
    blk_min_dl = np.minimum.reduceat(p_dl, b_start)
    blk_first = p_doc[b_start]
    blk_last = p_doc[b_end - 1]

    # per-term list columns via Arrow offset arrays (no Python loop)
    loff = pa.array(
        np.concatenate(([0], np.cumsum(nblocks_per_term))).astype(np.int32)
    )

    def lst(vals, typ):
        return pa.ListArray.from_arrays(loff, pa.array(vals, typ))

    if quantize_meta:
        tblk_starts = np.concatenate(
            ([0], np.cumsum(nblocks_per_term)[:-1])).astype(np.int64)
        qtf, tf_lo, tf_scale = _quantize_meta_stream(
            blk_max_tf.astype(np.float64), b_term, tblk_starts, up=True)
        qdl, dl_lo, dl_scale = _quantize_meta_stream(
            blk_min_dl.astype(np.float64), b_term, tblk_starts, up=False)
        offs = np.concatenate(([0], np.cumsum(nblocks_per_term))).astype(np.int64)
        qtf_b = qtf.tobytes()
        qdl_b = qdl.tobytes()
        qmeta_cols = {
            "block_qtf": pa.array(
                [qtf_b[s:e] for s, e in zip(offs[:-1], offs[1:])],
                pa.binary()),
            "block_qdl": pa.array(
                [qdl_b[s:e] for s, e in zip(offs[:-1], offs[1:])],
                pa.binary()),
            "q_tf_lo": pa.array(tf_lo, pa.float64()),
            "q_tf_scale": pa.array(tf_scale, pa.float64()),
            "q_dl_lo": pa.array(dl_lo, pa.float64()),
            "q_dl_scale": pa.array(dl_scale, pa.float64()),
        }
    else:
        qmeta_cols = {
            "block_max_tf": lst(blk_max_tf.astype(np.int32), pa.int32()),
            "block_min_dl": lst(blk_min_dl.astype(np.int32), pa.int32()),
        }

    df_counts = tlens.astype(np.int64)
    cf = np.add.reduceat(p_tf.astype(np.int64), term_starts)
    tbl = pa.table({
        "term": pa.array(terms, pa.string()),
        "df": pa.array(df_counts, pa.int64()),
        "cf": pa.array(cf, pa.int64()),
        "gap_codec": pa.array(gap_codec_t, pa.int32()),
        "gap_width": pa.array(w_gap_t.astype(np.int32), pa.int32()),
        "tf_codec": pa.array(tf_codec_t, pa.int32()),
        "tf_width": pa.array(w_tf_t.astype(np.int32), pa.int32()),
        "block_n": lst(blk_n.astype(np.int32), pa.int32()),
        "block_first": lst(blk_first.astype(np.int64), pa.int64()),
        "block_last": lst(blk_last.astype(np.int64), pa.int64()),
        "block_doc_off": lst(blk_doc_off.astype(np.int64), pa.int64()),
        "block_doc_len": lst(blk_doc_len.astype(np.int32), pa.int32()),
        "block_tf_off": lst(blk_tf_off.astype(np.int64), pa.int64()),
        "block_tf_len": lst(blk_tf_len.astype(np.int32), pa.int32()),
        **qmeta_cols,
        **({
            "block_pos_off": lst(blk_pos_off.astype(np.int64), pa.int64()),
            "block_pos_len": lst(blk_pos_len.astype(np.int32), pa.int32()),
        } if blk_pos_off is not None else {}),
    })
    return tbl, blob


# --- term-presence bloom (the BQ 1-bit-sketch analog, SURVEY §2.8: a
# one-bit-per-dimension pre-filter that cheaply rejects non-matches before
# the full structure loads). 64 KiB bitmap, 3 probes derived from the same
# md5 base hash the rest of the engine uses; FP rate ~2% at 5k terms.
BLOOM_BITS = 1 << 19  # 512 Kbit = 64 KiB
BLOOM_K = 3


def _bloom_positions(term: str) -> list[int]:
    h = int(hashlib.md5(term.encode()).hexdigest()[:15], 16)
    return [(h >> (19 * i)) & (BLOOM_BITS - 1) for i in range(BLOOM_K)]


def build_term_bloom(terms: list[str]) -> bytes:
    """Vectorized build (the segment-write hot path for vocabulary-heavy
    segments): one md5 C-call per term into a single digest buffer, then
    all bit positions extracted and set with numpy fancy indexing —
    bit-identical to _bloom_positions (the top 60 bits of the digest are
    int(hexdigest[:15], 16) == big-endian u64 of bytes 0..8 >> 4)."""
    bits = np.zeros(BLOOM_BITS, dtype=np.uint8)
    if terms:
        digests = b"".join(hashlib.md5(t.encode()).digest()[:8] for t in terms)
        h = np.frombuffer(digests, dtype=">u8") >> np.uint64(4)
        mask = np.uint64(BLOOM_BITS - 1)
        pos = np.concatenate([
            ((h >> np.uint64(19 * i)) & mask) for i in range(BLOOM_K)
        ]).astype(np.int64)
        bits[pos] = 1
    return np.packbits(bits).tobytes()


def bloom_may_contain(bloom: np.ndarray, term: str) -> bool:
    """bloom = uint8 array of packed bits (np.frombuffer of bloom.bin).
    False -> the term is DEFINITELY absent from the segment."""
    for p in _bloom_positions(term):
        if not (bloom[p >> 3] >> (7 - (p & 7))) & 1:
            return False
    return True


def load_term_bloom(seg_dir: str) -> np.ndarray | None:
    """Segment's term bloom as packed bits; None for pre-bloom segments
    OR wrong-sized files (a truncated/garbled bloom must never skip a
    segment — callers fall back to opening the dictionary, which is
    always correct)."""
    path = os.path.join(seg_dir, "bloom.bin")
    if not os.path.exists(path):
        return None
    bits = np.fromfile(path, dtype=np.uint8)
    if len(bits) != BLOOM_BITS // 8:
        return None  # corrupt/truncated: fail open (no skip)
    return bits


KEY_BLOOM_BITS = 1 << 20  # 128 KiB per segment: ~10 bits/key at 100k docs
KEY_BLOOM_K = 3
# versioned file name: blooms written before _canon_key rendered integral
# floats as ints hashed the key 2.0 as '2.0' and sit under the old name
# "key_bloom.bin". Probing them with today's '2' would be a false
# negative (a duplicate doc on redelivery), so load_key_bloom never reads
# them — those segments fail open to the exact anti-join.
KEY_BLOOM_FILE = "key_bloom.v2.bin"
KEY_SEP = "\x1f"  # separator for key tuples (write AND probe side)
KEY_NULL = "\x00\x1fNULL"  # null sentinel — cannot collide with str values


def _canon_key(v) -> str:
    """Canonical string rendering of one key value. Both the bloom WRITE
    side (segment build, pandas from Arrow batches) and the PROBE side
    (append dedup, toPandas of the same batch) funnel through this, so
    null/bool/numeric keys hash identically on both — a rendering
    mismatch would be a bloom FALSE NEGATIVE, i.e. a dropped dedup and a
    duplicate doc on redelivery (the one failure the exactness contract
    forbids; an fp only costs an extra join)."""
    if v is None:
        return KEY_NULL
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, float) and v != v:  # nan (covers np.float64)
        return KEY_NULL
    try:
        if pd.isna(v):  # pd.NA / NaT
            return KEY_NULL
    except (TypeError, ValueError):
        pass
    if isinstance(v, (float, np.floating)) and float(v).is_integer():
        # VALUE-dependent, not dtype-dependent: an integer key column
        # whose batch contains a null reaches pandas as float64, so the
        # same logical key 2 would render '2' (int64 batch) or '2.0'
        # (float64 batch) — a bloom write/probe mismatch, i.e. a FALSE
        # NEGATIVE and a duplicate doc on at-least-once redelivery.
        # Integral floats therefore render as their integer string on
        # both sides (consistent for genuinely-float keys too).
        return str(int(v))
    return str(v)


def _canon_key_series(s: pd.Series) -> pd.Series:
    if s.dtype == bool:
        return s.map({True: "true", False: "false"})
    # fast path: NUMPY (never nullable-extension) integer dtype — cannot
    # hold nulls, astype(str) matches _canon_key exactly
    if isinstance(s.dtype, np.dtype) and s.dtype.kind in "iu":
        return s.astype(str)
    return s.map(_canon_key)


def key_join_cond(left, right, key_cols) -> "object":
    """Null-safe, NaN-canonical equality condition over key columns for
    the exact dedup/replace joins. Two invariants:
      * null keys match null keys (plain `=` never matches null — the
        committed copy would be invisible to the join and the doc
        re-indexed as a duplicate);
      * float NaN ≡ null: the docs sidecar is written via Arrow
        from_pandas, which stores float NaN as PARQUET NULL, while a live
        batch carries a real NaN — eqNullSafe(NaN, null) is false, so
        both sides canonicalize NaN -> null first (mirroring _canon_key,
        which hashes both to the same sentinel)."""
    from pyspark.sql import functions as F

    def canon(df, c):
        dt = dict(df.dtypes).get(c)
        col = df[c]
        if dt in ("double", "float"):
            return F.when(F.isnan(col), F.lit(None)).otherwise(col)
        return col

    cond = None
    for c in key_cols:
        eq = canon(left, c).eqNullSafe(canon(right, c))
        cond = eq if cond is None else (cond & eq)
    return cond


def _key_hash60(parts: pd.DataFrame) -> np.ndarray:
    """60-bit md5 hash of each row's KEY_SEP-joined CANONICAL key strings.
    The probe side (streaming/micro_segments append dedup) computes the
    same function over `batch_df.select(*key_cols).toPandas()` — both
    sides share this exact code path, so parity holds for null, bool,
    and numeric key columns by construction (not by matching two
    renderers)."""
    joined = _canon_key_series(parts.iloc[:, 0])
    for c in parts.columns[1:]:
        joined = joined + KEY_SEP + _canon_key_series(parts[c])
    digests = b"".join(
        hashlib.md5(s.encode()).digest()[:8] for s in joined
    )
    if not digests:
        return np.zeros(0, dtype=np.uint64)
    return np.frombuffer(digests, dtype=">u8") >> np.uint64(4)


def _key_bloom_positions(h: np.ndarray) -> np.ndarray:
    mask = np.uint64(KEY_BLOOM_BITS - 1)
    return np.concatenate([
        ((h >> np.uint64(20 * i)) & mask) for i in range(KEY_BLOOM_K)
    ]).astype(np.int64)


def build_key_bloom(hashes: np.ndarray) -> bytes:
    bits = np.zeros(KEY_BLOOM_BITS, dtype=np.uint8)
    if len(hashes):
        bits[_key_bloom_positions(hashes.astype(np.uint64))] = 1
    return np.packbits(bits).tobytes()


def load_key_bloom(seg_dir: str) -> np.ndarray | None:
    """Packed committed-keys bloom; None for legacy/corrupt files (callers
    must then treat the segment as a possible key match — fail open)."""
    path = os.path.join(seg_dir, KEY_BLOOM_FILE)
    if not os.path.exists(path):
        return None
    bits = np.fromfile(path, dtype=np.uint8)
    if len(bits) != KEY_BLOOM_BITS // 8:
        return None
    return bits


def key_bloom_any(bloom: np.ndarray, hashes: np.ndarray) -> bool:
    """True iff ANY of the probe hashes may be in the bloom (vectorized:
    all K positions set for at least one hash)."""
    if not len(hashes):
        return False
    pos = _key_bloom_positions(hashes.astype(np.uint64)).reshape(
        KEY_BLOOM_K, -1)
    hit = np.ones(pos.shape[1], dtype=bool)
    for i in range(KEY_BLOOM_K):
        p = pos[i]
        hit &= ((bloom[p >> 3] >> (7 - (p & 7))) & 1).astype(bool)
        if not hit.any():
            return False
    return True


def _manifest_row(seg_dir: str, meta: dict, status: str,
                  secs: float) -> pd.DataFrame:
    """One MANIFEST_SCHEMA row for a committed segment's meta.json."""
    return pd.DataFrame([{
        "segment_id": meta["segment_id"], "path": seg_dir, "status": status,
        "min_docid": meta["min_docid"], "max_docid": meta["max_docid"],
        "n_docs": meta["n_docs"], "n_terms": meta["n_terms"],
        "n_postings": meta["n_postings"],
        "bytes_postings": meta["bytes_postings"],
        "build_sec": secs, "fingerprint": meta["fingerprint"],
    }])


def empty_manifest() -> pd.DataFrame:
    """A zero-segment manifest frame with MANIFEST_SCHEMA's columns."""
    return pd.DataFrame(
        columns=[c.split()[0] for c in MANIFEST_SCHEMA.split(",")])


def _concat(parts: list[np.ndarray], dtype) -> np.ndarray:
    return np.concatenate(parts) if parts else np.zeros(0, dtype)


def write_segment(
    seg_dir: str,
    p_term: np.ndarray,
    p_doc: np.ndarray,
    p_tf: np.ndarray,
    p_pos: np.ndarray | None,
    docs_pdf: pd.DataFrame,
    block_size: int,
    meta_extra: dict,
    status: str,
    t0: float,
    stage: dict,
    adaptive: bool = True,
    quantize_meta: bool = False,
) -> pd.DataFrame:
    """The one segment writer, for build and compaction alike: order the
    postings, encode them and commit the segment dir atomically (tmp ->
    rename -> `_SUCCESS` last). Returns the segment's manifest row.

    Postings (int64 docids/tfs) arrive in any order, each (term, docid)
    pair once; `p_pos` (None without positions) holds each posting's
    occurrences in INPUT posting order. `docs_pdf` is the docs sidecar,
    docid-ascending, non-empty, with a `dl` column. `stage` gains
    final_sort_sec / encode_sec / write_sec and lands in meta.json as
    `stage_sec` (write_sec stops before the meta.json dump)."""
    ts = time.time()
    docids = docs_pdf["docid"].to_numpy(np.int64)
    lo = int(docids[0])
    if len(p_doc):
        # (term, docid) order via factorize + int sort: no string sort of
        # the posting stream
        codes, uniq = pd.factorize(p_term, sort=False)
        rank = np.empty(len(uniq), dtype=np.int32)
        rank[np.argsort(uniq, kind="stable")] = np.arange(
            len(uniq), dtype=np.int32)
        t_rank = rank[codes]
        # stable sort on the int32 term rank alone: when the input is
        # docid-ascending (a sortWithinPartitions build, or a merge of
        # docid-ordered segments) this is already the full (term, docid)
        # order, at half the memory traffic of a composite int64 key —
        # the traffic that inflates at 16 concurrent build workers (the
        # round-3 scaling table pinned +89% CPU to this sort)
        order = np.argsort(t_rank, kind="stable")
        r, d = t_rank[order], p_doc[order]
        if ((r[1:] == r[:-1]) & (d[1:] < d[:-1])).any():
            # docids descend somewhere within a term (e.g. assume_partitioned
            # over rows in arbitrary order): composite (term, docid) key
            span = int(docids[-1]) - lo + 1
            order = np.argsort(t_rank.astype(np.int64) * span + (p_doc - lo),
                               kind="stable")
            d = p_doc[order]
        tf = p_tf[order]
        if p_pos is not None:
            # gather each posting's occurrence range in the new order
            occ_off = np.concatenate(([0], np.cumsum(p_tf)))[:-1]
            p_pos = p_pos[_scatter_positions(occ_off[order], tf)]
        p_term, p_doc, p_tf = p_term[order], d, tf
    dl_arr = np.zeros(int(docids[-1]) - lo + 1, dtype=np.int64)
    dl_arr[docids - lo] = docs_pdf["dl"].to_numpy(np.int64)
    p_dl = dl_arr[p_doc - lo]
    stage["final_sort_sec"] = time.time() - ts

    ts = time.time()
    terms_tbl, blob = encode_postings_frame(
        p_term, p_doc, p_tf, p_dl, block_size, adaptive=adaptive,
        p_pos=p_pos, quantize_meta=quantize_meta,
    )
    stage["encode_sec"] = time.time() - ts

    ts = time.time()
    tmp_dir = seg_dir + ".tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir, exist_ok=True)
    pq.write_table(terms_tbl, os.path.join(tmp_dir, "terms.parquet"))
    with open(os.path.join(tmp_dir, "postings.bin"), "wb") as f:
        f.write(blob)
    bloom_bytes = build_term_bloom(terms_tbl.column("term").to_pylist())
    with open(os.path.join(tmp_dir, "bloom.bin"), "wb") as f:
        f.write(bloom_bytes)
    # committed-keys bloom: lets streaming appends dedup a micro-batch
    # against the index WITHOUT rescanning every segment's docs sidecar
    # (bloom miss == definitely-new doc; positives verify exactly). Lives
    # inside the segment dir, so its visibility is atomic with the
    # segment's — an fp here only costs an extra exact anti-join.
    key_cols = meta_extra.get("key_cols")
    if key_cols and all(c in docs_pdf.columns for c in key_cols):
        kb = build_key_bloom(_key_hash60(docs_pdf[list(key_cols)]))
        with open(os.path.join(tmp_dir, KEY_BLOOM_FILE), "wb") as f:
            f.write(kb)
        meta_extra = {**meta_extra,
                      "key_bloom_sha256": hashlib.sha256(kb).hexdigest()}
    pq.write_table(
        pa.Table.from_pandas(docs_pdf, preserve_index=False),
        os.path.join(tmp_dir, "docs.parquet"),
    )
    n_postings = len(p_doc)
    meta = {
        "version": SEGMENT_FORMAT_VERSION,
        "min_docid": lo, "max_docid": int(docids[-1]),
        "n_docs": int(len(docs_pdf)),
        "n_terms": int(terms_tbl.num_rows),
        "n_postings": n_postings,
        "bytes_postings": len(blob),
        "sum_dl": int(docs_pdf["dl"].sum()),
        "postings_sha256": hashlib.sha256(blob).hexdigest(),
        "bloom_sha256": hashlib.sha256(bloom_bytes).hexdigest(),
        # lineage + metrics (north rule: per-partition checkpoints carry
        # provenance; CheckpointManager analog)
        "lineage": {
            "built_at": time.time(),
            "builder": f"jvector_spark/{SEGMENT_FORMAT_VERSION}",
            "task": _task_lineage(),
        },
        "metrics": {
            "bytes_per_posting": round(len(blob) / max(1, n_postings), 3),
            "raw_posting_bytes": n_postings * 12,  # docid+tf uncompressed
            "compression_ratio": round(
                (n_postings * 12) / max(1, len(blob)), 2
            ),
        },
        **meta_extra,
    }
    stage["write_sec"] = time.time() - ts
    meta["stage_sec"] = {k: round(v, 3) for k, v in stage.items()}
    with open(os.path.join(tmp_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(seg_dir, ignore_errors=True)
    os.rename(tmp_dir, seg_dir)
    with open(os.path.join(seg_dir, "_SUCCESS"), "w") as f:
        f.write(meta.get("fingerprint", ""))
    return _manifest_row(seg_dir, meta, status, time.time() - t0)


def _build_segment_stream(
    batches: "Iterator[pd.DataFrame]",
    index_dir: str,
    mode: str,
    content_col: str,
    key_cols: tuple[str, ...],
    block_size: int,
    codec: str = "adaptive",
    positions: bool = False,
    quantize_meta: bool = False,
) -> pd.DataFrame | None:
    """Build one segment by STREAMING the partition's Arrow batches.

    Memory-bounded build (the reference's larger-than-memory property,
    README.md:36-39 / BuildScoreProvider.pqBuildScoreProvider): peak memory
    is one batch's content+tokens plus the tf-AGGREGATED posting arrays —
    raw content and the token stream never materialize for the whole
    partition (at 600k docs/64 segments the old concat-everything path
    GC-thrashed an 8 GiB heap).

    Per chunk: tokenize -> factorize the token stream (C hash table) ->
    one int64 sort + run-length for (term, docid, tf). Docids are disjoint
    across chunks, so chunk posting sets concatenate without re-counting;
    write_segment then orders them by (term, docid), encodes and commits —
    byte-identical output to a whole-partition build.
    """
    t0 = time.time()
    stage = {"tokenize_sec": 0.0, "chunk_agg_sec": 0.0}
    doc_meta: list[pd.DataFrame] = []
    c_terms: list[np.ndarray] = []
    c_docs: list[np.ndarray] = []
    c_tfs: list[np.ndarray] = []
    c_pos: list[np.ndarray] = []
    for pdf in batches:
        if not len(pdf):
            continue
        ts = time.time()
        docids = pdf["docid"].to_numpy(np.int64)
        shas = pdf[content_col].map(
            lambda s: hashlib.sha256(s.encode()).hexdigest()
        )
        toks = tokenize_series(pdf[content_col], mode)
        lens = toks.map(len).to_numpy(np.int64)
        flat = np.fromiter(chain.from_iterable(toks), dtype=object,
                           count=int(lens.sum()))
        codes, uniq = pd.factorize(flat, sort=False)
        doc_meta.append(pd.DataFrame({
            "docid": docids, "dl": lens,
            **{c: pdf[c] for c in key_cols},
            "content_sha": shas,
        }))
        total = int(lens.sum())
        stage["tokenize_sec"] += time.time() - ts
        if total == 0:
            continue
        ts = time.time()
        span = len(pdf)
        # int32 composite keys when (n_terms * span) fits: halves the
        # radix-sort memory traffic of the chunk's dominant op (the 2048-
        # doc chunks stay far under 2^31 in practice; int64 fallback keeps
        # the path correct for arbitrary chunk shapes)
        key_dt = (np.int32 if len(uniq) * span < 2**31 - 1 else np.int64)
        local = np.arange(span, dtype=key_dt).repeat(lens)
        combo = codes.astype(key_dt) * key_dt(span) + local
        if positions:
            # within-doc token index per occurrence; the stable argsort
            # groups occurrences by (term, doc) keeping positions ascending
            doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            pos_in_doc = np.arange(total, dtype=np.int64) - doc_starts.repeat(lens)
            ordr = np.argsort(combo, kind="stable")
            combo = combo[ordr]
            c_pos.append(pos_in_doc[ordr])
        else:
            combo.sort(kind="stable")
        # combo is sorted here, so unique (term,doc) runs are diff-based —
        # avoids np.unique's second full sort of the posting stream
        chg = np.empty(total, dtype=bool)
        chg[0] = True
        np.not_equal(combo[1:], combo[:-1], out=chg[1:])
        starts = np.flatnonzero(chg)
        uc = combo[starts]
        tf = np.diff(np.append(starts, total))
        c_terms.append(uniq[uc // span])
        c_docs.append(docids[uc % span])
        c_tfs.append(tf.astype(np.int64))
        stage["chunk_agg_sec"] += time.time() - ts
    if not doc_meta:
        return None

    docs_pdf = pd.concat(doc_meta, ignore_index=True).sort_values(
        "docid", kind="mergesort"
    ).reset_index(drop=True)
    docids = docs_pdf["docid"].to_numpy(np.int64)
    fp = _fingerprint(
        docids, docs_pdf["content_sha"],
        f"mode={mode}|codec={codec}|positions={positions}|block={block_size}"
        # key_cols changes docs.parquet AND the key bloom — omitting it
        # made a re-run with different keys silently resume segments
        # whose sidecars lacked the new columns
        f"|qmeta={quantize_meta}|keys={','.join(key_cols)}",
    )
    seg_id = f"seg-{int(docids[0]):012d}"
    seg_dir = os.path.join(index_dir, seg_id)

    meta_path = os.path.join(seg_dir, "meta.json")
    if os.path.exists(os.path.join(seg_dir, "_SUCCESS")) and os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("fingerprint") == fp:
            return _manifest_row(seg_dir, meta, "resumed", 0.0)
        shutil.rmtree(seg_dir, ignore_errors=True)

    return write_segment(
        seg_dir, _concat(c_terms, object), _concat(c_docs, np.int64),
        _concat(c_tfs, np.int64),
        _concat(c_pos, np.int64) if positions else None,
        docs_pdf, block_size, {
            "segment_id": seg_id, "block_size": block_size,
            "tokenizer_mode": mode, "codec": codec, "fingerprint": fp,
            "has_positions": positions, "key_cols": list(key_cols),
            # content_col persists so index_config can recover it for
            # build_index-built indexes (create.json only exists for serve
            # sessions) — without it replace_docs on an index built with
            # content_col='body' silently tokenizes the default column
            "content_col": content_col,
            "quantize_meta": bool(quantize_meta),
        }, "built", t0, stage, adaptive=(codec == "adaptive"),
        quantize_meta=quantize_meta)


def build_index(
    docs_with_ids: DataFrame,
    index_dir: str,
    mode: str = "code",
    num_segments: int | None = None,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    block_size: int = BLOCK_SIZE,
    assume_partitioned: bool = False,
    write_manifest: bool = True,
    codec: str = "adaptive",
    positions: bool = False,
    quantize_meta: bool = False,
) -> pd.DataFrame:
    """Build all segments + index manifest. Returns the manifest as pandas.

    `write_manifest=False` builds the segment dirs WITHOUT touching the
    live manifest.json — for callers that fold the new segments into an
    existing manifest and must publish exactly one atomic manifest write
    (the streaming micro-segment append; a crash mid-append must never
    leave a manifest that references only the new batch).

    Input must carry a dense `docid` (operators/ids.assign_dense_docids).
    Partitioning: range on docid -> each partition is a contiguous docid
    range -> segment ids/dirs are deterministic -> resumable (north rule).

    `assume_partitioned=True` skips the range shuffle when the input is
    ALREADY docid-range partitioned — true for assign_dense_docids output,
    whose docids are per-partition offsets over its own range partition.
    The build is then zero-shuffle end to end.
    """
    spark = docs_with_ids.sparkSession
    if num_segments is None:
        num_segments = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    os.makedirs(index_dir, exist_ok=True)
    part = docs_with_ids.select("docid", content_col, *key_cols)
    if not assume_partitioned:
        # sortWithinPartitions: a JVM/Tungsten pointer sort that makes the
        # Arrow stream docid-ascending, which lets the python builder
        # replace its composite (term, docid) argsort with a stable
        # rank-only int32 sort (see write_segment) — the cheapest place
        # to buy the ordering is the engine's own sort
        part = (part.repartitionByRange(num_segments, "docid")
                    .sortWithinPartitions("docid"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        row = _build_segment_stream(batches, index_dir, mode, content_col,
                                    tuple(key_cols), block_size, codec,
                                    positions, quantize_meta)
        if row is not None:
            yield row

    # bound the Arrow chunk size for this job so the streaming builder's
    # per-chunk memory stays fixed regardless of partition size (restored
    # after the action — other operators keep the session default)
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(batch_key, "10000")
    spark.conf.set(batch_key, "2048")
    try:
        manifest = part.mapInPandas(build, MANIFEST_SCHEMA).toPandas()
    finally:
        spark.conf.set(batch_key, prev_batch)
    manifest = manifest.sort_values("min_docid").reset_index(drop=True)
    if write_manifest:
        write_index_manifest(index_dir, manifest, mode)
    return manifest


def write_global_term_stats(index_dir: str, manifest: pd.DataFrame) -> str:
    """Aggregate per-segment dictionaries into ONE index-level
    term_stats.parquet (term, df, cf), sorted by term.

    This is the hot-tier dictionary (the analog of the in-memory upper
    graph layers, OnDiskGraphIndex.java:83-84): queries resolve global
    df/idf with a single driver-side pyarrow read (term-filtered, row-group
    pruned) instead of a Spark job over every segment — at 10^12 docs the
    file is ~one row per distinct term, still a single sorted parquet.
    Aggregation here is pyarrow/pandas over dictionary-sized data (terms,
    not postings); it runs inside one task/driver in bounded memory.

    Append fast path: when the new manifest is the OLD manifest plus new
    segments (nothing removed) and the existing stats file matches the
    old manifest's recorded sha (not torn), the aggregation merges the
    prior stats with only the NEW segments' dictionaries — per-batch
    append cost tracks the batch, not the index (a 10k-segment index
    would otherwise re-read 10k dictionaries per micro-batch). Exact
    integer sums, so the result is identical to the full rebuild.
    """
    paths = list(manifest["path"])
    frames = None
    try:
        old = load_manifest(index_dir)
        # a REBUILT segment reuses its path with new content — shared
        # paths must also match on fingerprint, or the old stats would
        # carry the stale segment's sums
        old_fp = {s["path"]: s.get("fingerprint")
                  for s in old.get("segments", [])}
        new_fp = dict(zip(paths, manifest["fingerprint"]))
        old_paths = set(old_fp)
        stats_path = os.path.join(index_dir, "term_stats.parquet")
        if (old_paths and old_paths <= set(paths)
                and all(new_fp.get(p) == old_fp[p] for p in old_paths)
                and os.path.exists(stats_path)
                and old.get("term_stats_sha")
                == _term_stats_file_sha(stats_path)):
            frames = [pq.read_table(
                stats_path, columns=["term", "df", "cf"]).to_pandas()]
            for p in paths:
                if p not in old_paths:
                    frames.append(pq.read_table(
                        os.path.join(p, "terms.parquet"),
                        columns=["term", "df", "cf"]).to_pandas())
    except (OSError, ValueError, KeyError):
        frames = None
    if frames is None:
        frames = []
        for p in paths:
            t = pq.read_table(os.path.join(p, "terms.parquet"),
                              columns=["term", "df", "cf"])
            frames.append(t.to_pandas())
    if not frames:  # empty index (e.g. compaction purged every doc)
        frames = [pd.DataFrame({"term": pd.Series([], dtype=str),
                                "df": pd.Series([], dtype="int64"),
                                "cf": pd.Series([], dtype="int64")})]
    agg = (
        pd.concat(frames, ignore_index=True)
        .groupby("term", sort=True, as_index=False)[["df", "cf"]]
        .sum()
    )
    out = os.path.join(index_dir, "term_stats.parquet")
    tmp = out + ".tmp"
    tbl = pa.Table.from_pandas(agg, preserve_index=False)
    if tbl.num_rows == 0:
        # pandas infers a null-typed term column from an empty frame,
        # which breaks term-filtered reads later — pin the schema
        tbl = pa.table({"term": pa.array([], pa.string()),
                        "df": pa.array([], pa.int64()),
                        "cf": pa.array([], pa.int64())})
    pq.write_table(tbl, tmp, row_group_size=65536)
    with open(tmp, "rb") as f:
        sha = hashlib.sha256(f.read()).hexdigest()
    os.replace(tmp, out)
    return sha


_TERM_STATS_SHA_CACHE: dict[tuple[str, float, int], str] = {}


def _term_stats_file_sha(path: str) -> str:
    """sha256 of the stats file, cached per (path, mtime, size) so the
    integrity check costs one hash per file version per process."""
    st = os.stat(path)
    key = (path, st.st_mtime, st.st_size)
    sha = _TERM_STATS_SHA_CACHE.get(key)
    if sha is None:
        with open(path, "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()
        _TERM_STATS_SHA_CACHE[key] = sha
    return sha


def _trusted_term_stats(index_dir: str,
                        manifest: dict | None = None) -> str | None:
    """Path of the hot-tier term_stats.parquet when it exists and its
    sha256 matches the manifest's recorded `term_stats_sha` (or none is
    recorded); None for a pre-stats index, a stats/manifest torn write
    (a crash between the two writes leaves a mismatched pair), or a
    `manifest` (default: the live one) that a later write superseded."""
    path = os.path.join(index_dir, "term_stats.parquet")
    if not os.path.exists(path):
        return None
    if manifest is None and os.path.exists(
            os.path.join(index_dir, "manifest.json")):
        manifest = load_manifest(index_dir)
    want = (manifest or {}).get("term_stats_sha")
    if want is not None and _term_stats_file_sha(path) != want:
        return None
    return path


def read_global_term_stats(index_dir: str, terms: list[str],
                           manifest: dict | None = None
                           ) -> dict[str, int] | None:
    """Driver-side df lookup for query terms from the hot-tier dictionary.
    Returns None when the stats file is not trusted for `manifest`
    (_trusted_term_stats) — callers fall back to the distributed
    aggregation, which is always correct; {} just means all terms OOV."""
    path = _trusted_term_stats(index_dir, manifest)
    if path is None:
        return None
    import pyarrow.dataset as ds

    tbl = ds.dataset(path).to_table(
        columns=["term", "df"], filter=ds.field("term").isin(terms)
    )
    return dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))


def vocab_dataset_paths(index_dir: str) -> tuple[list[str], bool]:
    """Parquet paths holding the index's (term, df) vocabulary, for
    operators that SCAN the vocabulary (regex/fuzzy/suggest expansion).
    Returns ([term_stats.parquet], True) when the hot-tier file is trusted
    (_trusted_term_stats; each term exactly once), else the manifest's
    per-segment dictionaries with aggregated=False — terms repeat per
    segment there and callers must re-aggregate df. Absence (pre-stats
    index) and a stats/manifest torn write both fall back to the
    per-segment truth instead of crashing or silently expanding against a
    vocabulary that does not match the manifest snapshot being searched."""
    path = _trusted_term_stats(index_dir)
    if path is not None:
        return [path], True
    manifest = load_manifest(index_dir)
    return ([os.path.join(s["path"], "terms.parquet")
             for s in manifest["segments"]], False)


def write_index_manifest(index_dir: str, manifest: pd.DataFrame, mode: str,
                         docid_epoch: int | None = None,
                         stats_sha: str | None = None) -> dict:
    """`docid_epoch` scopes tombstones to a docid numbering: appends keep
    the current epoch (default — preserved from the existing manifest);
    compactions that RENUMBER docids must bump it so stale tombstones are
    ignored by readers (see plans/merge.mark_deleted).

    `stats_sha`: the caller already ran write_global_term_stats for this
    exact manifest (e.g. compact_in_place, which hoists the aggregation
    OUT of the tombstone-lock critical section so concurrent deletes are
    not blocked for the duration) — record it instead of re-running."""
    if docid_epoch is None:
        try:
            docid_epoch = int(load_manifest(index_dir).get("docid_epoch", 0))
        except FileNotFoundError:
            docid_epoch = 0
    sum_dl = 0
    has_positions = bool(len(manifest))
    for p in manifest["path"]:
        with open(os.path.join(p, "meta.json")) as f:
            m = json.load(f)
        sum_dl += m["sum_dl"]
        has_positions = has_positions and bool(m.get("has_positions"))
    total_postings = int(manifest["n_postings"].sum())
    total_bytes = int(manifest["bytes_postings"].sum())
    status = manifest["status"].value_counts().to_dict() if len(manifest) else {}
    idx_meta = {
        "version": SEGMENT_FORMAT_VERSION,
        "segments": manifest.to_dict("records"),
        # build metrics + lineage rollup (north rule)
        "metrics": {
            "build_sec_total": float(manifest["build_sec"].sum()),
            "segments_by_status": {k: int(v) for k, v in status.items()},
            "bytes_postings": total_bytes,
            "compression_ratio": round(
                (total_postings * 12) / max(1, total_bytes), 2
            ),
        },
        "n_docs": int(manifest["n_docs"].sum()),
        "n_postings": int(manifest["n_postings"].sum()),
        "sum_dl": int(sum_dl),
        "avgdl": float(sum_dl / max(1, int(manifest["n_docs"].sum()))),
        "has_positions": has_positions,
        "docid_epoch": int(docid_epoch),
        "tokenizer_mode": mode,
        "built_at": time.time(),
    }
    # Crash-consistency between the two files: term_stats lands first,
    # then the manifest records its content sha. A crash in between
    # leaves the OLD manifest (whose recorded sha no longer matches) —
    # readers detect the tear and fall back to distributed aggregation
    # instead of serving skewed idf (read_global_term_stats).
    idx_meta["term_stats_sha"] = (
        stats_sha if stats_sha is not None
        else write_global_term_stats(index_dir, manifest))
    # paths relative to index_dir, so a copied or moved index reads its
    # own segments; the marker tells load_manifest to resolve them
    stored = dict(idx_meta, paths="relative", segments=[
        dict(s, path=os.path.relpath(s["path"], index_dir))
        for s in idx_meta["segments"]])
    tmp = os.path.join(index_dir, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(stored, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, "manifest.json"))
    return idx_meta


def load_manifest(index_dir: str) -> dict:
    """The manifest, each segment path joined to index_dir when the
    manifest marks its paths relative (`paths: "relative"`); an older
    manifest's paths are returned as stored."""
    with open(os.path.join(index_dir, "manifest.json")) as f:
        man = json.load(f)
    if man.pop("paths", None) == "relative":
        for s in man.get("segments", []):
            s["path"] = os.path.join(index_dir, s["path"])
    return man


class SegmentReader:
    """Executor-side random access into one segment (the
    OnDiskGraphIndex.load + RandomAccessReader analog,
    graph/disk/OnDiskGraphIndex.java:162-224). Dictionary + block metadata in
    memory (hot tier, like upper graph layers OnDiskGraphIndex.java:83-84);
    posting streams memory-mapped (posix) or range-read (remote), decoded
    lazily per lookup.

    Reader SPI (the RandomAccessReader/ReaderSupplier surface,
    disk/SimpleMappedReader + MemorySegmentReader + README.md:154-156):
    pass `filesystem` (any `pyarrow.fs.FileSystem` — S3FileSystem,
    GcsFileSystem, HadoopFileSystem, LocalFileSystem, or a fsspec handler
    wrapped in PyFileSystem) to route EVERY read — meta, dictionary, doc
    sidecar, posting-byte ranges — through that filesystem; URIs like
    `s3://bucket/seg` auto-resolve via FileSystem.from_uri. The posix
    default keeps the mmap fast path."""

    def __init__(self, seg_dir: str, filesystem=None):
        if filesystem is None and "://" in seg_dir:
            from pyarrow import fs as pafs

            filesystem, seg_dir = pafs.FileSystem.from_uri(seg_dir)
        self.seg_dir = seg_dir
        self._fs = filesystem
        if filesystem is None:
            with open(os.path.join(seg_dir, "meta.json")) as f:
                self.meta = json.load(f)
        else:
            with filesystem.open_input_stream(
                f"{seg_dir}/meta.json"
            ) as f:
                self.meta = json.loads(f.read().decode())
        if self.meta["version"] > SEGMENT_FORMAT_VERSION:
            raise ValueError(f"segment version {self.meta['version']} too new")
        t = pq.read_table(os.path.join(seg_dir, "terms.parquet"),
                          filesystem=filesystem)
        # dict-of-numpy columns, NOT a pandas index: term_row is on the
        # per-(query, term) hot path and pandas .loc row materialization
        # costs ~100x a dict lookup (profiled: 1/3 of search task time)
        self.terms = t.column("term").to_pylist()
        self._term_idx = {term: i for i, term in enumerate(self.terms)}
        self._cols = {
            name: t.column(name).to_numpy(zero_copy_only=False)
            for name in t.column_names
            if name != "term"
        }
        blob_path = os.path.join(seg_dir, "postings.bin")
        if not self.meta["bytes_postings"]:
            self._blob = np.zeros(0, np.uint8)
            self._blob_file = None
        elif filesystem is None:
            self._blob = np.memmap(blob_path, dtype=np.uint8, mode="r")
            self._blob_file = None
        else:
            # remote blob: lazy range reads (the MappedChunkReader shape —
            # no full download; each block fetch is one ranged GET)
            self._blob = None
            self._blob_file = filesystem.open_input_file(blob_path)
        docs = pq.read_table(
            os.path.join(seg_dir, "docs.parquet"), columns=["docid", "dl"],
            filesystem=filesystem,
        ).to_pandas()
        # docids are dense & contiguous within a segment -> O(1) dl lookup
        self._min_docid = int(self.meta["min_docid"])
        self._dl = np.zeros(
            int(self.meta["max_docid"]) - self._min_docid + 1, dtype=np.int64
        )
        self._dl[docs["docid"].to_numpy(np.int64) - self._min_docid] = docs[
            "dl"
        ].to_numpy(np.int64)

    def accepted_docids(self, doc_filter: dict) -> np.ndarray:
        """Sorted docids of this segment's docs matching the attribute
        filter — the Bits acceptOrds bitmap computed from the
        doc-attributes sidecar (docs.parquet); evaluated with parquet
        predicate pushdown. Filter values per column (conjunction across
        columns):
          scalar            -> equality
          list/tuple/set    -> isin
          dict of ops       -> range, ES-style: any of
                               {"gte","gt","lte","lt","eq"} (ANDed) —
                               e.g. {"gte": 40, "lt": 80} for the
                               timestamp-range shape of filtered search.
        `sidecar_reads` counts invocations (observability for the
        per-(segment, filter) memo in wand.search_partition)."""
        import pyarrow.dataset as ds

        self.sidecar_reads = getattr(self, "sidecar_reads", 0) + 1

        dset = ds.dataset(os.path.join(self.seg_dir, "docs.parquet"),
                          filesystem=self._fs)
        missing = set(doc_filter) - set(dset.schema.names)
        if missing:
            raise ValueError(
                f"doc_filter columns {sorted(missing)} not in this segment's "
                f"docs sidecar — include them in key_cols at build time "
                f"(have: {dset.schema.names})"
            )
        ops = {
            "gte": lambda f, v: f >= v, "gt": lambda f, v: f > v,
            "lte": lambda f, v: f <= v, "lt": lambda f, v: f < v,
            "eq": lambda f, v: f == v,
        }
        expr = None
        for col, val in doc_filter.items():
            if isinstance(val, dict):
                bad = set(val) - set(ops)
                if bad:
                    raise ValueError(
                        f"unknown range ops {sorted(bad)} for column "
                        f"{col!r} (allowed: {sorted(ops)})")
                e = None
                for op, v in sorted(val.items()):
                    t = ops[op](ds.field(col), v)
                    e = t if e is None else e & t
            elif isinstance(val, (list, tuple, set)):
                e = ds.field(col).isin(list(val))
            else:
                e = ds.field(col) == val
            expr = e if expr is None else expr & e
        tbl = dset.to_table(columns=["docid"], filter=expr)
        return np.sort(tbl["docid"].to_numpy())

    def doc_attribute(self, col: str) -> np.ndarray:
        """Dense per-doc attribute array for a docs-sidecar column:
        value of `col` for docid d sits at [d - min_docid] (docids are
        dense within a segment, same layout as the doclen array). Cached
        per reader — one sidecar column read per (segment, col), shared
        by facet counting and collapse grouping across queries."""
        cache = getattr(self, "_attr_cache", None)
        if cache is None:
            cache = self._attr_cache = {}
        if col not in cache:
            import pyarrow.parquet as pq

            tbl = pq.read_table(
                os.path.join(self.seg_dir, "docs.parquet"),
                columns=["docid", col], filesystem=self._fs,
            )
            self.sidecar_reads = getattr(self, "sidecar_reads", 0) + 1
            vals = np.empty(len(self._dl), dtype=object)
            vals[tbl["docid"].to_numpy() - self._min_docid] = (
                tbl[col].to_numpy(zero_copy_only=False)
            )
            cache[col] = vals
        return cache[col]

    def has_term(self, term: str) -> bool:
        return term in self._term_idx

    def term_row(self, term: str) -> dict:
        i = self._term_idx[term]
        return {name: col[i] for name, col in self._cols.items()}

    def doclen(self, docids: np.ndarray) -> np.ndarray:
        return self._dl[docids - self._min_docid]

    def _range(self, off: int, ln: int) -> np.ndarray:
        """uint8 view of blob bytes [off, off+ln): mmap slice locally, one
        ranged read (read_at) through the filesystem SPI remotely."""
        if self._blob is not None:
            return self._blob[off : off + ln]
        return np.frombuffer(self._blob_file.read_at(ln, off), np.uint8)

    def _for_region_values(
        self, r: dict, off_key: str, len_key: str, w: int
    ) -> np.ndarray:
        """Decode a term's FOR-coded stream (per-block byte-aligned bit
        sections, per-term width w) -> per-value uint64. One unpackbits
        over the term's contiguous region, one gather for the block
        sections (full 128-value blocks are padding-free by construction)."""
        blk_n = np.asarray(r["block_n"], dtype=np.int64)
        offs = np.asarray(r[off_key], dtype=np.int64)
        lens = np.asarray(r[len_key], dtype=np.int64)
        total_n = int(blk_n.sum())
        if w == 0 or total_n == 0:
            return np.zeros(total_n, np.uint64)
        base = int(offs[0])
        region = self._range(base, int(offs[-1] + lens[-1]) - base)
        bits = np.unpackbits(np.ascontiguousarray(region))
        pos = _scatter_positions((offs - base) * 8, blk_n * w)
        vals_bits = bits[pos].reshape(total_n, w).astype(np.uint64)
        shifts = np.arange(w - 1, -1, -1, dtype=np.uint64)
        return (vals_bits << shifts).sum(axis=1, dtype=np.uint64)

    def _varint_region(self, r: dict, off_key: str, len_key: str,
                       n: int) -> np.ndarray:
        """Decode n varints from a term's contiguous region of one stream
        (the encoder lays a term's blocks end to end): one range read,
        one varint_decode."""
        off = int(r[off_key][0])
        end = int(r[off_key][-1] + r[len_key][-1])
        return varint_decode(self._range(off, end - off).tobytes(),
                             n).astype(np.int64)

    def _decode_docids(self, r: dict) -> np.ndarray:
        """docids (asc) of a term's whole posting list."""
        if int(r.get("gap_codec", 0)) == 1:
            blk_n = np.asarray(r["block_n"], dtype=np.int64)
            first = np.asarray(r["block_first"], dtype=np.int64)
            v = self._for_region_values(
                r, "block_doc_off", "block_doc_len", int(r["gap_width"])
            ).astype(np.int64)
            c = np.cumsum(v)
            starts = np.concatenate(([0], np.cumsum(blk_n)[:-1]))
            # v[block start] == 0 by format: docid = block_first + (c - c@start)
            return np.repeat(first - c[starts], blk_n) + c
        return np.cumsum(self._varint_region(
            r, "block_doc_off", "block_doc_len", int(r["df"])))

    def _decode_tfs(self, r: dict) -> np.ndarray:
        if int(r.get("tf_codec", 0)) == 1:
            return self._for_region_values(
                r, "block_tf_off", "block_tf_len", int(r["tf_width"])
            ).astype(np.int64)
        return self._varint_region(
            r, "block_tf_off", "block_tf_len", int(r["df"]))

    @property
    def has_positions(self) -> bool:
        return "block_pos_off" in self._cols

    def decode_term_positions(
        self, term: str
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docids, tfs, flat_positions) — posting i of the return owns
        flat_positions[cum_tf[i] : cum_tf[i+1]] (token indices, ascending).
        The per-posting payload read path (Feature plugin analog): the
        term's whole positions region is one range read and one
        varint_decode."""
        if not self.has_positions:
            raise ValueError("segment was built without positions=True")
        r = self.term_row(term)
        d, tf = self._decode_docids(r), self._decode_tfs(r)
        return d, tf, self._varint_region(
            r, "block_pos_off", "block_pos_len", int(tf.sum()))

    def decode_term(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(docids asc, tfs) of a term's whole posting list.
        Codec per (term, stream) from the dictionary: varint (absolute
        first docid + cross-block gaps, the v1 layout — segments without
        codec columns default here) or FOR bit-packing (format v2)."""
        r = self.term_row(term)
        return self._decode_docids(r), self._decode_tfs(r)
