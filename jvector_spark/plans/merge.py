"""Segment merge-compaction + tombstone deletes (the LSM maintenance path).

Reference mapping (SURVEY §2.9):
  * `GraphIndexBuilder.buildAndMergeNewNodes` + `sequentialRenumbering`
    (jvector-base/.../graph/GraphIndexBuilder.java:992-1029,
    AbstractGraphIndexWriter.java:104-117) -> sort-merge-compaction of
    doc-partitioned segments with dense docid renumbering that fills
    deletion holes while preserving order;
  * 2-phase deletes — `markNodeDeleted` tombstone then
    `removeDeletedNodes` purge (GraphIndexBuilder.java:684-805) ->
    a tombstone docid set applied as a filter bitmap at query time
    (live immediately, like the reference's deleted-bits in search,
    ImmutableGraphIndex.liveNodes) and physically purged at compaction.
    The journal, tombstones.json, is the only form the deletes take:
    every reader takes its sorted docids for the caller's manifest epoch
    (tombstone_view), cut to each segment's docid range;
  * `NodeArray.merge` score-sorted merge/dedup (graph/NodeArray.java:63-132)
    -> k-way docid-ordered posting merge. Because our segments are
    DOC-partitioned on disjoint docid ranges, per-term posting lists
    concatenate in segment order after remapping — the merge "sort" is free
    by construction, which is exactly why the build partitions by docid
    range (same reason ODGI records are ordinal-ordered).

Scale shape: compaction = one task per OUTPUT segment group; each task
streams its input segments' postings through write_segment, the same
writer the build uses. No shuffle at all — grouping is on
contiguous docid ranges, the remap is order-preserving, and term
dictionaries merge via pandas concat/groupby inside the task. At 10^12 docs
you compact O(thousands) of segments in parallel groups, each group bounded
by its input bytes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from jvector_spark import BLOCK_SIZE
from jvector_spark.sources.segment import (
    MANIFEST_SCHEMA,
    SegmentReader,
    _concat,
    empty_manifest,
    key_join_cond,
    load_manifest,
    write_global_term_stats,
    write_index_manifest,
    write_segment,
)

TOMBSTONES_FILE = "tombstones.json"
LEASES_DIR = "_leases"


def acquire_lease(index_dir: str, purpose: str = "build") -> str:
    """Positive ownership marker for in-flight index mutations.

    An appender/compactor acquires a lease BEFORE staging any segment or
    generation dirs and releases it after its atomic manifest write.
    vacuum_index skips every dir created after the oldest live lease
    started, so a build that outlives any mtime grace period is still
    protected — mtime age alone cannot distinguish a slow in-flight build
    from a crash leftover. Heartbeat = the lease file's mtime
    (refresh_lease); a lease not refreshed within `lease_timeout_sec`
    (vacuum arg) is considered dead, which is how crashed writers'
    leftovers eventually become collectable."""
    import uuid

    ldir = os.path.join(index_dir, LEASES_DIR)
    os.makedirs(ldir, exist_ok=True)
    path = os.path.join(ldir, f"lease-{uuid.uuid4().hex}.json")
    with open(path, "w") as f:
        json.dump({"purpose": purpose, "start": time.time()}, f)
    return path


def refresh_lease(lease_path: str) -> None:
    """Heartbeat: bump the lease's mtime (call between long build stages)."""
    os.utime(lease_path)


def release_lease(lease_path: str) -> None:
    try:
        os.remove(lease_path)
    except FileNotFoundError:
        pass


def _live_lease_floor(index_dir: str, lease_timeout_sec: float) -> float:
    """Earliest start time among live leases (heartbeat within timeout),
    or +inf when none — dirs whose mtime is at/after this floor belong to
    a possibly-in-flight writer and must not be vacuumed."""
    ldir = os.path.join(index_dir, LEASES_DIR)
    floor = float("inf")
    if not os.path.isdir(ldir):
        return floor
    now = time.time()
    for name in os.listdir(ldir):
        path = os.path.join(ldir, name)
        try:
            if now - os.path.getmtime(path) > lease_timeout_sec:
                continue  # dead writer: heartbeat expired
            with open(path) as f:
                floor = min(floor, float(json.load(f).get("start", now)))
        except (OSError, ValueError):
            continue
    return floor


def _manifest_epoch(index_dir: str) -> int:
    try:
        return int(load_manifest(index_dir).get("docid_epoch", 0))
    except FileNotFoundError:
        return 0


class _tombstone_lock:
    """Serializes ALL writers of tombstones.json within and across
    processes on one host (fcntl.flock on a sibling lock file). Without
    it, compact_in_place's late-delete carry-over (read snapshot ->
    translate -> os.replace) races a concurrent mark_deleted: a delete
    acked between the re-read and the replace is clobbered, silently
    resurrecting the doc. Reads stay lock-free (os.replace is atomic)."""

    def __init__(self, index_dir: str) -> None:
        self._path = os.path.join(index_dir, TOMBSTONES_FILE + ".lock")
        self._f = None

    def __enter__(self):
        self._f = open(self._path, "a")
        try:
            import fcntl

            fcntl.flock(self._f, fcntl.LOCK_EX)
        except ImportError:  # non-posix: single-writer discipline applies
            pass
        return self

    def __exit__(self, *exc):
        try:
            import fcntl

            fcntl.flock(self._f, fcntl.LOCK_UN)
        except ImportError:
            pass
        self._f.close()
        return False


def mark_deleted(index_dir: str, docids: Sequence[int],
                 epoch: int | None = None) -> list[int]:
    """Phase-1 delete: record tombstones in the index manifest dir
    (markNodeDeleted analog). Queries must exclude these immediately;
    the postings bytes are untouched until compaction.

    Tombstones are EPOCH-SCOPED: they carry the manifest's docid_epoch,
    and load_tombstones ignores them once a compaction bumps the epoch
    (docids renumber — old-numbering tombstones applied to new docids
    would silently delete the wrong live docs). This makes the
    in-place-compaction manifest flip atomic w.r.t. deletes: a crash
    between the flip and the tombstone-file removal leaves stale-epoch
    tombstones that every reader ignores.

    A docid in no segment's [min_docid, max_docid] raises ValueError and
    leaves the journal unchanged: journaled, it would hide the doc a
    later append gives that docid.

    `epoch`: the docid_epoch the caller read its docids in. If a
    compaction renumbered them since: ValueError, journal unchanged."""
    path = os.path.join(index_dir, TOMBSTONES_FILE)
    ids = np.asarray([int(d) for d in docids], np.int64)
    with _tombstone_lock(index_dir):
        man = load_manifest(index_dir)
        cur_epoch = int(man.get("docid_epoch", 0))
        if epoch is not None and cur_epoch != int(epoch):
            raise ValueError(
                f"{index_dir} was compacted (docid epoch {epoch} -> "
                f"{cur_epoch}) since the docids were read")
        held = np.zeros(len(ids), bool)
        for seg in man["segments"]:
            held |= (ids >= seg["min_docid"]) & (ids <= seg["max_docid"])
        if not held.all():
            bad = np.unique(ids[~held])
            raise ValueError(
                f"{len(bad)} docid(s) in no segment of {index_dir}: "
                f"{bad[:20].tolist()}")
        cur: set[int] = set(load_tombstones(index_dir, cur_epoch))
        cur.update(ids.tolist())
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"docid_epoch": cur_epoch, "docids": sorted(cur)}, f)
        os.replace(tmp, path)
    return sorted(cur)


def _read_raw_tombstones(index_dir: str) -> tuple[int, set[int]]:
    """(epoch, docids) exactly as stored — no epoch-validity filtering.
    Used by compaction to detect deletes acked AFTER its snapshot."""
    path = os.path.join(index_dir, TOMBSTONES_FILE)
    if not os.path.exists(path):
        return -1, set()
    with open(path) as f:
        data = json.load(f)
    if isinstance(data, list):  # legacy epoch-less format == epoch 0
        data = {"docid_epoch": 0, "docids": data}
    return int(data.get("docid_epoch", 0)), set(data["docids"])


def load_tombstones(index_dir: str, epoch: int | None = None) -> list[int]:
    """Deletes scoped to one docid numbering. `epoch` is the CALLER's
    manifest-snapshot epoch; omitting it re-reads the live manifest,
    which is only safe when no compaction can flip between the caller's
    segment-list read and this call (see tombstone_view)."""
    if epoch is None:
        epoch = _manifest_epoch(index_dir)
    jepoch, docids = _read_raw_tombstones(index_dir)
    if jepoch != epoch:
        return []  # different numbering than the caller's snapshot
    return sorted(docids)


def tombstone_view(index_dir: str, epoch: int | None = None) -> np.ndarray:
    """The read path's deletes: the journal's docids as a sorted int64
    array. Every reader ships this one array; open_segments cuts it to
    each segment's docid range, so a segment's live() filter costs in
    proportion to that segment's own deletes. Past 1 MiB, pyspark ships a
    task closure as a broadcast, so a large array reaches each executor
    once.

    `epoch` MUST be the docid_epoch of the manifest snapshot whose
    segments the caller is about to score (search paths pass
    manifest["docid_epoch"]): re-reading the live manifest here instead
    would race a concurrent compact_in_place flip — a flip landing
    between the caller's segment-list read and this call makes the
    journal's epoch look stale (or carries NEW-epoch docids) while the
    caller still scores the OLD segments, transiently resurrecting
    deleted docs. None re-reads the live manifest, acceptable only for
    mutators serialized against compaction."""
    return np.asarray(load_tombstones(index_dir, epoch), np.int64)


def _merge_group(
    seg_paths: list[str],
    out_dir: str,
    group_id: int,
    docid_offset: int,
    tombstones: np.ndarray,
    block_size: int,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Merge one group of docid-contiguous segments into one output segment.

    Returns (manifest_row, docid_map rows old->new); (None, None) for a
    group whose docs are ALL tombstoned (caller skips it — no segment dir,
    no manifest row). Dense renumbering: new docid = docid_offset + rank of
    old docid among survivors in this group (order-preserving —
    sequentialRenumbering semantics).

    Memory shape: postings accumulate as parallel numpy arrays (term codes
    via np.repeat over per-term lengths, docids, tfs) — never one pandas
    DataFrame per term — so peak memory is the group's postings arrays,
    matching the chunked discipline of _build_segment_stream.
    """
    t0 = time.time()
    doc_frames = []
    t_parts: list[np.ndarray] = []
    d_parts: list[np.ndarray] = []
    tf_parts: list[np.ndarray] = []
    pos_parts: list[np.ndarray] = []
    readers = [SegmentReader(p) for p in seg_paths]
    # positions survive compaction iff EVERY input segment carries them
    # (position values are within-doc indices — docid remapping does not
    # touch them, only the posting reorder does). Segments WITH terms
    # decide; a group of all-empty dictionaries falls back to the metas'
    # AND — a vacuous all() over the filtered iterator would default to
    # True and stamp has_positions on a merge of a position-LESS index
    _term_readers = [r for r in readers if r.terms]
    with_positions = (all(r.has_positions for r in _term_readers)
                      if _term_readers
                      else bool(readers)
                      and all(r.has_positions for r in readers))
    # NVQ-quantized dictionaries stay quantized through compaction (the
    # codes re-derive from exact merged (max_tf, min_dl) — no error
    # accumulation across generations)
    with_qmeta = bool(readers) and all(
        r.meta.get("quantize_meta") for r in readers)
    for p, r in zip(seg_paths, readers):
        docs = pq.read_table(os.path.join(p, "docs.parquet")).to_pandas()
        doc_frames.append(docs)
        if not r.terms:
            continue
        seg_d, seg_tf, lens = [], [], np.empty(len(r.terms), np.int64)
        for ti, t in enumerate(r.terms):
            if with_positions:
                d, tf, pos = r.decode_term_positions(t)
                pos_parts.append(pos)
            else:
                d, tf = r.decode_term(t)
            seg_d.append(d)
            seg_tf.append(tf)
            lens[ti] = len(d)
        t_parts.append(np.repeat(np.array(r.terms, dtype=object), lens))
        d_parts.append(np.concatenate(seg_d))
        tf_parts.append(np.concatenate(seg_tf))
    docs_all = pd.concat(doc_frames, ignore_index=True).sort_values(
        "docid", kind="mergesort"
    )
    live_mask = ~docs_all["docid"].isin(tombstones).to_numpy()
    docs_live = docs_all[live_mask].reset_index(drop=True)
    if not len(docs_live):
        return None, None
    old = docs_live["docid"].to_numpy(np.int64)  # sorted ascending
    new = docid_offset + np.arange(len(old), dtype=np.int64)

    all_t = _concat(t_parts, object)
    all_d = _concat(d_parts, np.int64)
    all_tf = _concat(tf_parts, np.int64)
    # live filter + remap via one searchsorted against the sorted
    # survivor ids (new docid = offset + rank)
    rpos = np.searchsorted(old, all_d)
    keep = rpos < len(old)
    keep[keep] &= old[rpos[keep]] == all_d[keep]
    p_pos = (_concat(pos_parts, np.int64)[np.repeat(keep, all_tf)]
             if with_positions else None)

    docs_live = docs_live.copy()
    docs_live["docid"] = new
    seg_id = f"seg-{docid_offset:012d}"
    # committed-keys bloom carries through the merge when every input
    # agrees on the key columns (legacy inputs without key_cols just
    # produce a bloom-less merged segment — appends fail open on those)
    kc_sets = {tuple(r.meta.get("key_cols") or ()) for r in readers}
    key_cols = list(kc_sets.pop()) if len(kc_sets) == 1 else []
    # content_col survives the merge the same way (index_config reads it
    # from segment metas for build_index-built indexes)
    cc_sets = {r.meta.get("content_col") for r in readers}
    content_col = cc_sets.pop() if len(cc_sets) == 1 else None
    meta_extra = {
        "segment_id": seg_id, "block_size": block_size,
        "merged_from": [os.path.basename(p) for p in seg_paths],
        "fingerprint": f"merge-{group_id}-{len(old)}",
        "has_positions": bool(with_positions),
        "key_cols": key_cols,
        "quantize_meta": bool(with_qmeta),
    }
    if content_col:
        meta_extra["content_col"] = content_col
    man = write_segment(
        os.path.join(out_dir, seg_id), all_t[keep],
        docid_offset + rpos[keep], all_tf[keep], p_pos, docs_live,
        block_size, meta_extra, "merged", t0, {}, quantize_meta=with_qmeta)
    docid_map = pd.DataFrame({"old_docid": old, "new_docid": new})
    return man, docid_map


def compact_in_place(
    spark: SparkSession,
    index_dir: str,
    target_segments: int | None = None,
    target_bytes: int | None = None,
    block_size: int = BLOCK_SIZE,
    vacuum_after: bool = True,
    vacuum_min_age_sec: float = 600.0,
) -> pd.DataFrame:
    """Compact an index INTO ITSELF: merged segments build under a
    generation subdirectory, then ONE atomic manifest write flips
    visibility to them (readers hold the old snapshot until then — the
    same read-while-write discipline as the streaming append), tombstones
    reset (they are now physically purged), and the superseded segment
    dirs are vacuumed. The LSM minor->major compaction lifecycle without
    a second index location.
    """
    gen = os.path.join(index_dir, f"gen-{int(time.time() * 1000):013d}")
    old_epoch = _manifest_epoch(index_dir)
    # segments live BEFORE the flip: their supersession moment is the
    # flip, not their build time — see the mtime bump below
    old_live = [s["path"] for s in load_manifest(index_dir)["segments"]]
    # Snapshot of what compact_index will physically purge. Deletes acked
    # AFTER this read must not be lost (they carry the old epoch, so
    # post-flip readers rightly ignore them — but dropping the file would
    # silently resurrect them).
    snap_epoch, snap = _read_raw_tombstones(index_dir)
    # Ownership lease: the gen dir must survive a concurrent vacuum even
    # if the merge takes longer than the vacuum grace period.
    lease = acquire_lease(index_dir, purpose="compact")
    try:
        manifest = compact_index(spark, index_dir, gen, target_segments,
                                 block_size, target_bytes)
    except BaseException:
        release_lease(lease)
        raise
    mode = load_manifest(gen)["tokenizer_mode"]
    # The tombstone lock covers the manifest flip AND the late-delete
    # carry-over as one critical section against concurrent mark_deleted
    # (user-reachable via the warm serve 'delete' op). Without it, (a) a
    # delete acked between the carry-over's re-read and its os.replace is
    # clobbered, and (b) a post-flip delete that wins the race rewrites
    # the file under the NEW epoch before pre-flip late deletes are
    # translated, dropping them — either way silently resurrecting docs.
    tomb = os.path.join(index_dir, TOMBSTONES_FILE)
    try:
        _flip_and_carry_over(index_dir, gen, manifest, mode, old_epoch,
                             snap_epoch, snap, tomb)
    finally:
        # the lease must die on EVERY exit: a failure inside the flip /
        # carry-over section would otherwise leave a dead lease whose
        # start-time floor blocks vacuum of everything newer than the
        # compaction start (including the orphaned gen dir) until the
        # 1h lease timeout
        release_lease(lease)
    # restart the superseded dirs' vacuum grace clock at the FLIP:
    # vacuum's min_age_sec guard reads mtime, which until now was the
    # BUILD time — a segment built an hour ago and superseded a second
    # ago would be rmtree'd out from under a reader holding the
    # pre-flip manifest snapshot, despite the documented grace. Touch
    # each superseded dir (and its hosting gen dir) so "age" means
    # time-since-supersession for exactly the dirs the flip orphaned.
    now = time.time()
    for p in old_live:
        for tgt in (p, os.path.dirname(p)):
            if (os.path.basename(tgt).startswith(("seg-", "gen-"))
                    and os.path.isdir(tgt)):
                try:
                    os.utime(tgt, (now, now))
                except OSError:
                    pass
    if vacuum_after:
        vacuum_index(index_dir, min_age_sec=vacuum_min_age_sec)
    return manifest


def _flip_and_carry_over(index_dir, gen, manifest, mode, old_epoch,
                         snap_epoch, snap, tomb) -> None:
    # Hoist the O(vocabulary) dictionary aggregation OUT of the critical
    # section — the lock otherwise blocks every concurrent mark_deleted
    # (the serve 'delete' op) for its duration. Window semantics: the new
    # stats file lands beside the OLD manifest for a moment; its recorded
    # sha no longer matches, so readers take the documented torn-stats
    # fallback (distributed aggregation — correct, just slower) until the
    # flip below records the new sha.
    stats_sha = write_global_term_stats(index_dir, manifest)
    with _tombstone_lock(index_dir):
        # flip the PARENT manifest to the new generation's segments
        # (stored as gen-*/seg-* under index_dir). The epoch bump makes
        # the flip atomic w.r.t. deletes: the old tombstones carry the
        # old epoch and every reader ignores them the instant the new
        # manifest lands (no wrong-results window at any crash point).
        write_index_manifest(index_dir, manifest, mode,
                             docid_epoch=old_epoch + 1,
                             stats_sha=stats_sha)
        # Late-delete carry-over: diff the file against the snapshot and
        # translate survivors through the compaction's docid_map into the
        # new epoch, instead of unconditionally removing the file.
        cur_epoch, cur = _read_raw_tombstones(index_dir)
        if cur_epoch == old_epoch:
            late_old = cur - snap if snap_epoch == old_epoch else cur
            if late_old:
                import glob as _glob

                maps = sorted(
                    _glob.glob(os.path.join(gen, "docid_map", "*.parquet")))
                remap: dict[int, int] = {}
                for mp in maps:
                    t = pq.read_table(mp, columns=["old_docid", "new_docid"])
                    remap.update(zip(t["old_docid"].to_pylist(),
                                     t["new_docid"].to_pylist()))
                translated = sorted(
                    remap[d] for d in late_old if d in remap)
                tmp = tomb + ".tmp"
                with open(tmp, "w") as f:
                    json.dump({"docid_epoch": old_epoch + 1,
                               "docids": translated}, f)
                os.replace(tmp, tomb)
            elif os.path.exists(tomb):
                os.remove(tomb)  # fully-purged snapshot: pure GC
        elif cur_epoch == old_epoch + 1:
            pass  # a post-flip mark already rewrote it under the new epoch
        elif os.path.exists(tomb):
            os.remove(tomb)  # stale older-epoch leftovers: GC


def vacuum_index(index_dir: str, dry_run: bool = False,
                 min_age_sec: float = 3600.0,
                 lease_timeout_sec: float = 3600.0) -> list[str]:
    """Garbage-collect segment directories not referenced by the live
    manifest: crash leftovers (a failed append builds segment dirs but
    dies before the atomic manifest write), `.tmp` staging dirs, and
    superseded compaction generations, and the per-segment tombstone
    copies (`tombstones.d/`) that older versions wrote beside the
    journal and nothing reads. Returns the removed (or would-remove)
    paths.

    Two independent guards protect concurrent work:
      * LEASES (positive ownership): any dir whose mtime is at/after the
        oldest LIVE lease's start time is skipped — this protects an
        in-flight build of ANY duration (appenders/compactors acquire a
        lease before staging; a lease whose heartbeat is older than
        `lease_timeout_sec` is dead and stops protecting).
      * `min_age_sec` (mtime grace): dirs younger than it are skipped —
        a fallback for writers that predate the lease protocol and for
        long-running readers holding a pre-compaction manifest snapshot.
    Pass min_age_sec=0 only when nothing else can be touching the index."""
    manifest = load_manifest(index_dir)
    live = {os.path.realpath(s["path"]) for s in manifest["segments"]}
    removed = []
    now = time.time()
    lease_floor = _live_lease_floor(index_dir, lease_timeout_sec)
    for name in sorted(os.listdir(index_dir)):
        full = os.path.join(index_dir, name)
        if not os.path.isdir(full) or name == LEASES_DIR:
            continue
        try:
            mtime = os.path.getmtime(full)
            if now - mtime < min_age_sec:
                continue  # grace period: possibly still referenced
            if mtime >= lease_floor:
                continue  # owned by an in-flight writer (live lease)
        except OSError:
            continue
        if name.startswith("seg-"):
            doomed = (name.endswith(".tmp")
                      or os.path.realpath(full) not in live)
        elif name.startswith("gen-"):
            # compaction generation: removable iff it hosts no live segment
            gen_real = os.path.realpath(full)
            doomed = not any(p.startswith(gen_real + os.sep) for p in live)
        else:
            doomed = name == "tombstones.d"
        if doomed:
            removed.append(full)
            if not dry_run:
                shutil.rmtree(full, ignore_errors=True)
    return removed


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    target_segments: int | None = None,
    block_size: int = BLOCK_SIZE,
    target_bytes: int | None = None,
    deletes: np.ndarray | None = None,
    epoch: int | None = None,
) -> pd.DataFrame:
    """Sort-merge-compact an index: group docid-adjacent segments, purge
    tombstones, renumber docids densely, write a fresh index + docid_map
    parquet (old->new) for external id stability.

    Distribution: one Spark task per output group (mapInPandas over the
    group list). Offsets are computed driver-side from METADATA ONLY:
    live(segment) = meta n_docs − |tombstones ∩ [min_docid, max_docid]|
    (segment docids are dense-contiguous by construction, so the range
    count is exact) — the driver never reads posting or docid data, only
    prefix-sums one scalar per segment. Groups with zero live docs are
    dropped up front, so output seg-{offset} dirs are strictly increasing
    (no collisions) and no task ever builds an empty segment.

    `deletes` (replace_docs_bulk): more docids to purge with the
    journal's, read at docid_epoch `epoch`; if a compaction renumbered
    the index since, ValueError is raised before anything is written."""
    manifest = load_manifest(index_dir)
    if epoch is not None and manifest.get("docid_epoch", 0) != epoch:
        raise ValueError(f"{index_dir} was compacted since the deletes "
                         f"were read (docid epoch {epoch})")
    segs = sorted(manifest["segments"], key=lambda s: s["min_docid"])
    # ONE driver read of the journal: the live counts below and every
    # merge task's purge use the same array, so a concurrent mark_deleted
    # cannot make them disagree (deletes acked mid-compaction stay
    # journaled and compact_in_place carries them over)
    tomb = tombstone_view(index_dir, epoch=manifest.get("docid_epoch", 0))
    if deletes is not None:
        # a union: a delete that is also journaled is subtracted once
        tomb = np.union1d(tomb, np.asarray(deletes, np.int64))
    if target_bytes is not None:
        # size-bounded policy (the LSM merge-policy surface): greedily
        # pack ADJACENT segments (groups must stay docid-contiguous for
        # order-preserving renumbering) until the next one would push the
        # group past target_bytes — bounds each merge task's input bytes
        # regardless of segment-size skew. An oversized single segment
        # becomes its own group.
        groups = []
        cur: list[dict] = []
        cb = 0
        for s in segs:
            b = int(s["bytes_postings"])
            if cur and cb + b > target_bytes:
                groups.append(cur)
                cur, cb = [], 0
            cur.append(s)
            cb += b
        if cur:
            groups.append(cur)
    else:
        if target_segments is None:
            target_segments = max(1, len(segs) // 2)
        groups = [[] for _ in range(target_segments)]
        per = (len(segs) + target_segments - 1) // target_segments
        for i, s in enumerate(segs):
            groups[min(i // per, target_segments - 1)].append(s)
        groups = [g for g in groups if g]

    # live-doc count per group from manifest metadata + the sorted
    # tombstone array — zero segment data reads on the driver
    def seg_live(s: dict) -> int:
        lo, hi = np.searchsorted(tomb, [s["min_docid"], s["max_docid"] + 1])
        return int(s["n_docs"]) - int(hi - lo)

    live_counts = [sum(seg_live(s) for s in g) for g in groups]
    groups = [g for g, n in zip(groups, live_counts) if n > 0]
    live_counts = [n for n in live_counts if n > 0]

    os.makedirs(out_dir, exist_ok=True)
    mode = manifest["tokenizer_mode"]
    if not groups:  # everything tombstoned: a valid, empty index
        empty = empty_manifest()
        write_index_manifest(out_dir, empty, mode)
        return empty
    offsets = np.concatenate(([0], np.cumsum(live_counts)[:-1]))

    tasks = [
        (gi, json.dumps([s["path"] for s in g]), int(offsets[gi]))
        for gi, g in enumerate(groups)
    ]
    tasks_df = spark.createDataFrame(
        tasks, "group_id int, paths string, offset long"
    ).repartition(len(tasks))
    b_tomb = spark.sparkContext.broadcast(tomb)

    map_dir = os.path.join(out_dir, "docid_map")
    os.makedirs(map_dir, exist_ok=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples():
                man, dmap = _merge_group(
                    json.loads(row.paths), out_dir, int(row.group_id),
                    int(row.offset), b_tomb.value, block_size,
                )
                if man is None:  # defensive: group emptied under our feet
                    continue
                dmap.to_parquet(
                    os.path.join(map_dir, f"part-{int(row.group_id):05d}.parquet")
                )
                yield man

    out_manifest = tasks_df.mapInPandas(run, MANIFEST_SCHEMA).toPandas()
    out_manifest = out_manifest.sort_values("min_docid").reset_index(drop=True)
    write_index_manifest(out_dir, out_manifest, mode)
    return out_manifest


def optimize_index(
    spark: SparkSession,
    index_dir: str,
    target_bytes: int | None = None,
    block_size: int = BLOCK_SIZE,
    vacuum_min_age_sec: float = 600.0,
) -> pd.DataFrame:
    """Standalone refinement pass — the reference's optional second-pass
    graph refinement (GraphIndexBuilder cleanup/refine after bulk build;
    SURVEY §2.9 'graph refinement') re-expressed for segments: rewrite
    every segment through the CURRENT encoder without requiring deletes
    or a segment-count change.

    What a pass refreshes:
      * codec upgrade — v1/varint-forced segments re-encode with the
        adaptive per-(term, stream) codec (typically ~2x smaller);
      * block metadata recomputed (incl. NVQ quantization if the inputs
        carry it) and segment sizes rebalanced to `target_bytes` groups;
      * tombstones, if any, are purged as a side effect (it IS a
        compaction underneath — same atomic generation-flip machinery).

    Results are rank- and score-identical before/after ON AN INDEX WITH
    NO PENDING TOMBSTONES: the pass then changes bytes, not semantics
    (the refine-must-not-change-ranks contract the reference's
    rank-identical mode imposes on refinement). When tombstones exist
    they are purged as a side effect — purging shrinks n_docs/avgdl,
    hence idf and every BM25 score, so scores (not the deleted-excluded
    RESULT SET) legitimately shift exactly as a compaction's would.
    """
    manifest = load_manifest(index_dir)
    if target_bytes is None:
        total = sum(int(s["bytes_postings"]) for s in manifest["segments"])
        n = max(1, len(manifest["segments"]))
        # keep the segment count roughly stable by default: rebalance,
        # don't collapse (callers wanting fewer segments use compact)
        target_bytes = max(1, (total + n - 1) // n)
    return compact_in_place(
        spark, index_dir, target_bytes=target_bytes, block_size=block_size,
        vacuum_min_age_sec=vacuum_min_age_sec,
    )


def index_config(index_dir: str) -> dict:
    """The live index's build configuration, read from the manifest plus
    the first segment's meta.json: {tokenizer_mode, has_positions,
    key_cols}. Mutating operations (replace/append through the serve
    protocol) MUST default to this — tokenizing new docs with a different
    analyzer, or appending a position-less segment to a positional index,
    silently corrupts subsequent search/phrase results (the manifest's
    has_positions is ANDed over segment metas)."""
    manifest = load_manifest(index_dir)
    # a serve-session CREATE records its intended config in create.json
    # BEFORE any segment exists (the manifest's has_positions is ANDed
    # over segment metas, so an empty index always reads False there) —
    # it is the fallback tier below segment metas, above hard defaults
    created: dict = {}
    try:
        with open(os.path.join(index_dir, "create.json")) as f:
            created = json.load(f)
    except (OSError, ValueError):
        pass
    key_cols: tuple[str, ...] = tuple(
        created.get("key_cols") or ("repo", "path", "commit"))
    # content_col: segment metas (recorded at build since format they
    # were written with it) outrank create.json, which outranks the
    # default — the one setting that used to be create.json-only, so
    # replace_docs on a build_index(content_col='body') index silently
    # tokenized the wrong column
    content_col = str(created.get("content_col", "content"))
    for s in manifest["segments"]:
        try:
            with open(os.path.join(s["path"], "meta.json")) as f:
                sm = json.load(f)
            if sm.get("key_cols"):
                key_cols = tuple(sm["key_cols"])
            if sm.get("content_col"):
                content_col = str(sm["content_col"])
            if sm.get("key_cols") or sm.get("content_col"):
                break
        except (OSError, ValueError):
            continue
    has_positions = bool(manifest.get("has_positions", False))
    if not manifest["segments"]:
        has_positions = bool(created.get("positions", False))
    return {
        "tokenizer_mode": manifest.get("tokenizer_mode", "code"),
        "has_positions": has_positions,
        "key_cols": key_cols,
        "content_col": content_col,
    }


def _replace_config(index_dir: str, mode: str | None,
                    positions: bool | None,
                    key_cols: tuple[str, ...] | None,
                    content_col: str | None) -> tuple:
    """(mode, positions, key_cols, content_col) for a replace: each None
    takes the live index's own config (index_config), never a constant —
    a hardcoded 'code'/False would tokenize a mode='simple' index's new
    docs with the wrong analyzer or flip a positional manifest's
    has_positions."""
    cfg = index_config(index_dir)
    return (cfg["tokenizer_mode"] if mode is None else mode,
            cfg["has_positions"] if positions is None else positions,
            tuple(cfg["key_cols"] if key_cols is None else key_cols),
            cfg["content_col"] if content_col is None else content_col)


def _live_key_matches(spark: SparkSession, index_dir: str, manifest: dict,
                      new_docs: DataFrame,
                      key_cols: tuple[str, ...]) -> np.ndarray:
    """Sorted docids of the manifest's live docs whose key matches a row
    of `new_docs`: the docs a replace supersedes, in the numbering of the
    manifest's docid_epoch. Key equality is null-safe and NaN-canonical
    (key_join_cond): a null/NaN key column still matches its committed
    copy, or the old version would stay live next to the replacement."""
    if not manifest["segments"]:
        return np.empty(0, np.int64)
    existing = spark.read.parquet(
        *[os.path.join(s["path"], "docs.parquet")
          for s in manifest["segments"]]).select("docid", *key_cols)
    incoming = new_docs.select(*key_cols).distinct()
    hits = existing.join(
        incoming, on=key_join_cond(existing, incoming, key_cols),
        how="left_semi").select("docid").toPandas()
    return np.setdiff1d(
        hits["docid"].to_numpy(np.int64),
        tombstone_view(index_dir, epoch=manifest.get("docid_epoch", 0)))


def replace_docs(
    spark: SparkSession,
    index_dir: str,
    new_docs,
    key_cols: tuple[str, ...] | None = None,
    mode: str | None = None,
    content_col: str | None = None,
    positions: bool | None = None,
) -> dict:
    """Document UPDATE as the reference's 2-phase delete+insert cycle
    (GraphIndexBuilder.markNodeDeleted -> addGraphNode, §2.9): tombstone
    every LIVE doc whose key matches an incoming row, then append the new
    versions as a micro segment. Old versions become invisible the moment
    the tombstone file lands; space reclaims at the next compaction.

    mode / positions / key_cols / content_col default to the live index's
    own config (_replace_config). A compaction between the match and the
    tombstone write raises ValueError before anything is written.

    At-least-once safe: a retry after any crash point re-tombstones
    whatever live copy exists (old or the just-appended new one) and
    re-appends — the index converges to exactly ONE live copy per key.
    Returns {"replaced": n_tombstoned, "appended": bool}.
    """
    from jvector_spark.streaming.micro_segments import append_micro_segment

    mode, positions, key_cols, content_col = _replace_config(
        index_dir, mode, positions, key_cols, content_col)
    manifest = load_manifest(index_dir)
    doomed = _live_key_matches(spark, index_dir, manifest, new_docs, key_cols)
    if len(doomed):
        mark_deleted(index_dir, doomed, epoch=manifest.get("docid_epoch", 0))
    append_micro_segment(
        new_docs, batch_id=-1, index_dir=index_dir, mode=mode,
        content_col=content_col, key_cols=key_cols, positions=positions,
    )
    return {"replaced": len(doomed), "appended": True}


def replace_docs_bulk(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    out_dir: str,
    segments_per_batch: int = 8,
    block_size: int = BLOCK_SIZE,
    mode: str | None = None,
    positions: bool | None = None,
    key_cols: tuple[str, ...] | None = None,
    content_col: str | None = None,
) -> dict:
    """Bulk upsert — the MERGE-INTO-shaped big sibling of replace_docs
    (the buildAndMergeNewNodes regime, GraphIndexBuilder.java:992-1029,
    vs addGraphNode's incremental one). Where replace_docs journals the
    superseded docs, this path purges them in a rewrite:

    1. doomed = the live docs whose key matches an incoming row — the
       same match as replace_docs (_live_key_matches).
    2. compact_index(deletes=doomed) rewrites the index into `out_dir`,
       purging the doomed docs and the journal's in the same pass.
    3. the new docs append to the fresh index (multi-segment build; the
       old copies are gone, so the committed-key dedup passes them).

    Cost model: O(index) rewrite like any major compaction — right when
    the incoming batch is a meaningful fraction of the corpus, wrong for
    point updates (use replace_docs). Docids renumber (epoch bump via the
    fresh manifest), same contract as compact_index; out_dir/docid_map
    preserves old->new. The source index is read-only throughout. A crash
    in step 2 leaves out_dir without a manifest; one between steps 2 and
    3 leaves it the source minus the superseded docs; rerun into a fresh
    out_dir. A compaction of the source between steps 1 and 2 raises
    ValueError before out_dir is written.

    `new_docs` must be key-unique; duplicate keys would both survive
    (first-writer-wins is not defined for a bulk batch). `mode` /
    `positions` / `key_cols` / `content_col` default as in replace_docs.
    """
    from jvector_spark.streaming.micro_segments import append_micro_segment

    mode, positions, key_cols, content_col = _replace_config(
        index_dir, mode, positions, key_cols, content_col)
    manifest = load_manifest(index_dir)
    if not manifest["segments"]:
        raise ValueError("replace_docs_bulk needs a non-empty index; "
                         "bulk-load an empty one instead")
    doomed = _live_key_matches(spark, index_dir, manifest, new_docs, key_cols)
    compact_index(spark, index_dir, out_dir, block_size=block_size,
                  deletes=doomed, epoch=manifest.get("docid_epoch", 0))
    append_micro_segment(
        new_docs, batch_id=-2, index_dir=out_dir,
        mode=mode, content_col=content_col, key_cols=key_cols,
        positions=positions, segments_per_batch=segments_per_batch,
    )
    return {"replaced": len(doomed), "index": out_dir}
