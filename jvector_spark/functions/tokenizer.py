"""Vectorized tokenizers (pandas over Arrow batches — no per-row loops).

The reference has no string functions at all (its 'row value' is a float32
vector, jvector-base/.../vector/types/VectorFloat.java); the tokenizer is our
engine's single string operator, specified by the north star as a vectorized
Arrow UDF over `content`.

Two modes:
  * ``code``   — source-code identifiers: ``[A-Za-z_][A-Za-z0-9_]*``,
                 lowercased (rank stability across casing conventions).
  * ``simple`` — whitespace split (used for the driver ``documents`` table so
                 the DuckDB oracle `string_split(text, ' ')` matches exactly).

Both are implemented with ``pd.Series.str`` vectorized ops (C-level regex
loop inside pandas, Arrow batch transport) — the Python analog of keeping the
kernel out of the interpreter the way the reference keeps scoring inside
Panama SIMD (jvector-twenty/.../PanamaVectorUtilSupport.java).
"""

from __future__ import annotations

import re

import pandas as pd

CODE_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def tokenize_series(content: pd.Series, mode: str = "code") -> pd.Series:
    """Series[str] -> Series[list[str]] — shared by operators and oracle."""
    if mode == "code":
        return content.fillna("").str.lower().str.findall(CODE_TOKEN_RE)
    if mode == "simple":
        # match DuckDB string_split(text, ' '): split on single spaces,
        # drop empty tokens (DuckDB keeps them; our texts have single spaces)
        return content.fillna("").str.split(" ").map(
            lambda toks: [t for t in toks if t]
        )
    raise ValueError(f"unknown tokenizer mode: {mode}")


def tokenize_factorized(
    content: pd.Series, mode: str = "code"
):
    """Arrow-native flat tokenization + factorization for the build hot
    path: returns ``(codes, uniq, lens)`` — int64 token codes for the
    whole batch's token stream, the first-appearance term dictionary
    (object ndarray), and per-doc token counts — such that ``uniq[codes]``
    is byte-identical to the concatenation of
    ``tokenize_series(content, mode)``.

    Why not the pandas twin: ``str.findall`` materializes one PyObject
    per token (plus a list per doc), then ``np.fromiter`` + object
    ``pd.factorize`` re-hash every one of them — at ~10^6 tokens per
    Arrow batch that allocator/pointer-chasing traffic is the dominant
    build cost at high worker counts (BENCH.md per-stage table). Here the
    token stream never leaves Arrow C++ buffers: lower -> regex split ->
    flatten -> dictionary_encode; only the vocab-sized dictionary becomes
    Python strings.

    'code'-mode equivalence: ``findall([a-z_][a-z0-9_]*)`` within each
    maximal ``[a-z0-9_]+`` run yields exactly one token — the run with
    its leading digits stripped (or nothing if all digits) — so split on
    ``[^a-z0-9_]+`` then strip ``^[0-9]+`` and drop empties is the same
    token stream (property-tested against the pandas twin)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = content.fillna("")
    arr = pa.array(vals, type=pa.large_utf8(), from_pandas=True)
    if mode == "code":
        # full-unicode lowering first (matches the pandas twin, which the
        # property tests pin); AFTER lowering, token chars are pure-ASCII
        # [a-z0-9_] and every byte of a multi-byte UTF-8 sequence is
        # >= 0x80, so run detection is byte-level numpy over the Arrow
        # data buffer — no regex engine in the loop at all (the RE2 split
        # measured ~8x slower than this path on the bench corpus).
        # One divergence between Python's str.lower (FULL case mapping,
        # SpecialCasing.txt) and utf8proc's simple mapping affects the
        # ASCII residue: U+0130 (İ) -> 'i' + U+0307 in Python (splits the
        # token at the combining dot) but plain 'i' in utf8proc. İ is the
        # only unconditional SpecialCasing LOWERING that introduces an
        # ASCII letter, so pre-expanding it restores byte-identity
        # (pinned by tests/test_tokenizer.py::test_code_mode_edge_cases).
        arr = pc.replace_substring(arr, pattern="İ",
                                   replacement="i̇")
        return _factorize_code_bytes(pc.utf8_lower(arr))
    if mode != "simple":
        raise ValueError(f"unknown tokenizer mode: {mode}")
    lists = pc.split_pattern(arr, pattern=" ")
    flat = pc.list_flatten(lists)
    keep = pc.not_equal(flat, "")
    keep_np = keep.to_numpy(zero_copy_only=False)
    off = lists.offsets.to_numpy()
    cs = np.concatenate(([0], np.cumsum(keep_np, dtype=np.int64)))
    lens = cs[off[1:]] - cs[off[:-1]]
    enc = pc.dictionary_encode(pc.filter(flat, keep))
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = enc.dictionary.to_numpy(zero_copy_only=False)
    return codes, uniq, lens


_TOKEN_BYTE = None  # lazy LUTs: [a-z0-9_] continues a token, [a-z_] starts one
_START_BYTE = None


def _factorize_code_bytes(low):
    """'code'-mode tokenize+factorize straight off the (lowered) Arrow
    buffer. A token is a maximal [a-z0-9_]+ run with its leading digits
    stripped (dropped if all digits) — byte-exact with
    ``findall([a-z_][a-z0-9_]*)``, because within such a run the regex
    matches exactly once, starting at the first [a-z_]."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    global _TOKEN_BYTE, _START_BYTE
    if _TOKEN_BYTE is None:
        t = np.zeros(256, dtype=bool)
        s = np.zeros(256, dtype=bool)
        for c in range(ord("a"), ord("z") + 1):
            t[c] = s[c] = True
        t[ord("_")] = s[ord("_")] = True
        for c in range(ord("0"), ord("9") + 1):
            t[c] = True
        _TOKEN_BYTE, _START_BYTE = t, s

    if low.offset != 0:
        # Raw-buffer walk below assumes a zero-offset array; a sliced
        # input would silently misparse. Rematerialize contiguously
        # (never hit for fresh utf8_lower outputs).
        low = low.take(pa.array(np.arange(len(low), dtype=np.int64)))
    n_docs = len(low)
    off = (np.frombuffer(low.buffers()[1], np.int64, count=n_docs + 1)
           if n_docs else np.zeros(1, np.int64))
    # Byte count from the offsets array, NOT the buffer size: the data
    # buffer may be padded past off[-1], and token runs must not extend
    # into those trailing bytes (docidx could reach n_docs).
    nbytes = int(off[-1])
    empty = (np.zeros(0, np.int64), np.zeros(0, dtype=object),
             np.zeros(n_docs, np.int64))
    if nbytes == 0:
        return empty
    buf = np.frombuffer(low.buffers()[2], np.uint8, count=nbytes)
    tok = _TOKEN_BYTE[buf]
    # run starts: token char not preceded by one; doc boundaries reset
    # runs (a token never spans two documents)
    prev = np.empty_like(tok)
    prev[0] = False
    prev[1:] = tok[:-1]
    bounds = off[1:-1]
    prev[bounds[bounds < nbytes]] = False
    run_start = tok & ~prev
    # run ends (inclusive): token char not followed by one within the doc
    nxt = np.empty_like(tok)
    nxt[-1] = False
    nxt[:-1] = tok[1:]
    last_of_doc = bounds[bounds > 0] - 1
    nxt[last_of_doc] = False
    rend_pos = np.flatnonzero(tok & ~nxt)  # end of run r at rend_pos[r]
    # token start = FIRST [a-z_] of its run (leading digits stripped;
    # all-digit runs contribute nothing)
    run_id_at = np.cumsum(run_start)  # 1-based run index at every byte
    cand = np.flatnonzero(_START_BYTE[buf])
    if not len(cand):
        return empty
    first_idx = np.unique(run_id_at[cand], return_index=True)[1]
    tstart = cand[first_idx]
    tlen = rend_pos[run_id_at[tstart] - 1] - tstart + 1
    docidx = np.searchsorted(off, tstart, side="right") - 1
    lens = np.bincount(docidx, minlength=n_docs).astype(np.int64)
    # gather the token bytes into a fresh Arrow string array:
    # dst arange - per-token base, offset by the source start
    out_off = np.concatenate(([0], np.cumsum(tlen, dtype=np.int64)))
    total = int(out_off[-1])
    src = (np.arange(total, dtype=np.int64)
           - np.repeat(out_off[:-1], tlen)
           + np.repeat(tstart, tlen))
    tokens = pa.Array.from_buffers(
        pa.large_utf8(), len(tstart),
        [None, pa.py_buffer(out_off), pa.py_buffer(buf[src])])
    enc = pc.dictionary_encode(tokens)
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = enc.dictionary.to_numpy(zero_copy_only=False)
    return codes, uniq, lens
