"""Index integrity verification (fsck) — the read-side of the
checksummed-write contract.

Reference mapping: the segment writer records `postings_sha256` and
per-doc `content_sha` at build and compaction (the OnDiskGraphIndex
footer/checksum discipline, sources/segment.write_segment); this op
re-reads every segment DISTRIBUTED (one task per segment batch) and
verifies:

  * postings.bin and bloom.bin match their recorded sha256 (bit-rot /
    truncation; a garbled bloom would silently skip matching segments),
    and the bloom has no false negatives over the dictionary;
  * the key bloom matches its recorded sha256 (a flipped bit keeps the
    file's size, so the loader accepts it, and a false negative lets a
    streaming append skip the exact anti-join and index a committed doc
    twice);
  * the dictionary is self-consistent: sum(df) == meta n_postings,
    per-term block_n sums == df;
  * every term decodes: docids strictly ascending within bounds
    [min_docid, max_docid], tf >= 1, positions (when present) ascending
    per posting;
  * docs sidecar count == meta n_docs.

Returns one row per segment: (segment_id, ok, errors array). A clean
index returns ok=true everywhere; any corruption names the segment and
the first failures — the operational answer to "can I trust this index
after a partial copy / flaky disk".
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from jvector_spark.sources.segment import SegmentReader, load_manifest

VERIFY_SCHEMA = "segment_id string, ok boolean, errors array<string>"


def _sha256_file(path: str, chunk: int = 1 << 22) -> str:
    """Constant-memory file digest — a multi-GB postings blob must not
    materialize as one bytes object inside a verify task."""
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(chunk), b""):
            h.update(block)
    return h.hexdigest()


def _verify_segment(path: str, max_terms: int | None = None) -> tuple[bool, list[str]]:
    errors: list[str] = []
    try:
        reader = SegmentReader(path)
    except Exception as e:  # unreadable metadata/dictionary
        return False, [f"open: {e!r}"]
    meta = reader.meta
    blob_path = os.path.join(path, "postings.bin")
    try:
        if _sha256_file(blob_path) != meta.get("postings_sha256"):
            errors.append("postings_sha256 mismatch")
    except OSError as e:
        errors.append(f"postings.bin: {e!r}")
    bloom_path = os.path.join(path, "bloom.bin")
    if os.path.exists(bloom_path):
        from jvector_spark.sources.segment import (
            bloom_may_contain, load_term_bloom)

        # same error discipline as postings.bin: a vanished-under-vacuum
        # or EIO bloom read is exactly what fsck exists to REPORT, not a
        # reason to fail the whole verify job
        try:
            bsha = _sha256_file(bloom_path)
            if "bloom_sha256" in meta and bsha != meta["bloom_sha256"]:
                errors.append("bloom_sha256 mismatch")
            bloom = load_term_bloom(path)
            if bloom is None:
                errors.append("bloom.bin wrong size")
            else:
                # probe the WHOLE dictionary — the docstring's "no false
                # negatives" guarantee. Probes are hash-only, orders of
                # magnitude cheaper than the decode loop below (which is
                # what max_terms exists to cap), so no sample cap here
                for t in reader.terms:
                    if not bloom_may_contain(bloom, t):
                        errors.append(f"bloom false negative for {t!r}")
                        break
        except OSError as e:
            errors.append(f"bloom.bin: {e!r}")
    if "key_bloom_sha256" in meta:
        from jvector_spark.sources.segment import KEY_BLOOM_FILE

        # a segment holding only the legacy key_bloom.bin never loads a
        # key bloom (it fails open), so only the current file is checked
        kb_path = os.path.join(path, KEY_BLOOM_FILE)
        try:
            if (os.path.exists(kb_path)
                    and _sha256_file(kb_path) != meta["key_bloom_sha256"]):
                errors.append("key_bloom_sha256 mismatch")
        except OSError as e:
            errors.append(f"{KEY_BLOOM_FILE}: {e!r}")
    df_sum = 0
    lo, hi = int(meta["min_docid"]), int(meta["max_docid"])
    terms = reader.terms if max_terms is None else reader.terms[:max_terms]
    for t in terms:
        r = reader.term_row(t)
        df = int(r["df"])
        df_sum += df
        if int(np.asarray(r["block_n"]).sum()) != df:
            errors.append(f"term {t!r}: block_n sum != df")
            continue
        try:
            d, tf = reader.decode_term(t)
        except Exception as e:
            errors.append(f"term {t!r}: decode failed: {e!r}")
            continue
        if len(d) != df:
            errors.append(f"term {t!r}: decoded {len(d)} != df {df}")
        elif len(d):
            if not (np.diff(d) > 0).all():
                errors.append(f"term {t!r}: docids not strictly ascending")
            if d[0] < lo or d[-1] > hi:
                errors.append(f"term {t!r}: docids outside segment range")
            if (tf < 1).any():
                errors.append(f"term {t!r}: tf < 1")
        if reader.has_positions:
            # per-TERM check (not gated on the segment-wide errors list:
            # one benign dictionary inconsistency must not hide position
            # corruption in every later term), and decode failures are
            # reported as error rows, never a crashed verify job
            try:
                dp, tfp, pos = reader.decode_term_positions(t)
                off = np.concatenate(([0], np.cumsum(tfp)))
                for i in range(min(len(dp), 8)):  # spot-check order
                    seg = pos[off[i]:off[i + 1]]
                    if len(seg) > 1 and not (np.diff(seg) > 0).all():
                        errors.append(f"term {t!r}: positions not ascending")
                        break
            except Exception as e:
                errors.append(f"term {t!r}: positions decode failed: {e!r}")
    if max_terms is None and df_sum != int(meta["n_postings"]):
        errors.append(f"sum(df)={df_sum} != n_postings={meta['n_postings']}")
    try:
        import pyarrow.parquet as pq

        n_docs = pq.read_table(
            os.path.join(path, "docs.parquet"), columns=["docid"]).num_rows
        if n_docs != int(meta["n_docs"]):
            errors.append(f"docs sidecar {n_docs} != meta n_docs")
    except Exception as e:
        errors.append(f"docs.parquet: {e!r}")
    return not errors, errors[:20]


def verify_index(
    spark: SparkSession,
    index_dir: str,
    num_tasks: int | None = None,
    max_terms_per_segment: int | None = None,
) -> DataFrame:
    """One row per segment: (segment_id, ok, errors). Distributed — each
    task fscks its batch of segments; the driver never reads index data.
    `max_terms_per_segment` bounds the per-segment decode work for quick
    audits (None = full verification)."""
    manifest = load_manifest(index_dir)
    segs = [(s["segment_id"], s["path"]) for s in manifest["segments"]]
    from jvector_spark.operators.wand import scatter_paths

    if not segs:
        return spark.createDataFrame([], VERIFY_SCHEMA)
    paths_df = scatter_paths(spark, [p for _, p in segs], num_tasks)
    names = {p: sid for sid, p in segs}
    b_names = spark.sparkContext.broadcast(names)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                ok, errors = _verify_segment(p, max_terms_per_segment)
                rows.append((b_names.value.get(p, p), ok, errors))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["segment_id", "ok", "errors"])

    return paths_df.mapInPandas(run, VERIFY_SCHEMA)
