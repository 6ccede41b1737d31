"""One perfbench workload in one process: set-up, measured window, checks.

run.py starts this file in a process group of its own and owns the
teardown guarantees. To debug a workload by hand:

    python3 perfbench/workload.py --workload search_batch --seed 1 --seconds 10 \
        --trace 0 --work .perfbench/dbg --out .perfbench/dbg/result.json

Inputs come from the seed through jvector_spark.corpus before any timing.
Every loop is closed with one client. Results are checked against
jvector_spark.oracle.BM25Oracle; any mismatch makes `correct` false.
"""

from __future__ import annotations

import argparse
import json
import math
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from probes import StealSampler, host_state  # noqa: E402
from spans import Tracer  # noqa: E402

KEYS = ["repo", "path", "commit"]
# Corpus and batch sizes come from a measured split (README, "Sizing"):
# at 1,000 docs, in-process scoring was ~15 % of a 200-query search_index
# call and a query touched ~3 blocks per segment; at 4,000 docs in 4
# segments, ~6 blocks and 17-31 % of 200- to 1,200-query calls. Larger
# calls left too few of them in a window to be steady. search_batch
# builds 2 segments of 1,000 docs, scored by one Spark core: ~6.5 blocks
# and a 0.29 share. serve_mixed keeps 2,000 docs in 4 segments: the server's
# own per-request pandas work is not covered by any layer span, and with
# 2 segments it came to 0.094-0.096 of the traced window, close to the
# 0.10 the traced run allows; 4 segments give the scoring spans more of
# each request (0.084).
N_DOCS = {"search_batch": 2000, "serve_mixed": 2000}
# Spark shuffle partitions, and so segments a build writes
SEGMENTS = {"search_batch": 2, "serve_mixed": 4}
# Spark cores (local[N]); README, "Spark cores". On a shared 4-core VM,
# same-seed search_index calls took 1.63-1.83 s a process at local[4],
# 1.57-1.63 s at local[2] and ~1.6 s at local[1]; with two busy-loop
# processes beside them, local[2] calls took 30 % longer and local[1]
# calls 9 %. Every search_index call waits on the driver, the JVM and
# each Python worker in turn, so each extra worker is one more place a
# busy core can hold it up. serve_mixed searches in-process; its Spark
# only builds, writes and optimizes.
SPARK_CORES = {"search_batch": 1, "serve_mixed": 2}
SETUPS = 3              # set-ups per run; setup_s takes their median
BATCH_QUERIES = 300     # queries per search_index call (search_batch)
BATCH_SETS = 2          # distinct query sets search_batch cycles through
MAX_UNATTRIBUTED = 0.10  # traced run: share of op time outside layer spans
# set-up ends with full-size search_index calls on a query set of their
# own: a fresh JVM's calls got ~30 % faster over its first few (code
# warm-up), and a window that started on that slope swung by it
WARMUP_CALLS = 4
# serve_mixed: a request pool 4x the server's 1,024-entry result cache,
# drawn with mild Zipf popularity so cache hits stay a minority
SERVE_QUERY_POOL = 6000
SERVE_REQUEST_POOL = 4096
SERVE_ZIPF_S = 0.5
SERVE_WARMUP_REQUESTS = 20
WRITE_EVERY = 80        # a write, then 80 search requests and a delete
# The serve_mixed window is a fixed number of cycles, one per this many
# of --seconds (a cycle took 2-3 s on a 4-core VM). Every write adds a
# micro-segment that later searches visit, so search time grows over a
# window; a window cut by the clock gave a faster run more segments to
# search and swung the median request by 20 %.
SERVE_CYCLE_S = 2.5
DELETE_AT = 40
WRITE_DOCS = 8
DELETE_DOCS = 4
CHECK_REQUESTS = 20
FAILED_MS = 1e9         # a failed op counts as this slow in percentiles


# -- helpers -------------------------------------------------------------

def pctl(values: list[float], p: float) -> float:
    """Nearest-rank percentile; failed ops are +inf and sort last."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100.0 * len(v)) - 1)]


def tail_level(n: int) -> float:
    """Highest whole percentile (at most 99) with ten samples beyond it."""
    return max(50.0, min(99.0, math.floor(100.0 * (1.0 - 10.0 / n))))


def ms(seconds: float) -> float:
    return FAILED_MS if math.isinf(seconds) else seconds * 1e3


def tree_bytes(paths) -> int:
    total = 0
    for p in paths:
        p = Path(p)
        if p.is_file():
            total += p.stat().st_size
        elif p.is_dir():
            total += sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    return total


def index_bytes(index_dir: Path) -> int:
    """Bytes of the live index: the manifest's segment directories plus
    the index-level files (manifest, term stats, tombstones)."""
    from jvector_spark.sources.segment import load_manifest

    segs = [s["path"] for s in load_manifest(str(index_dir))["segments"]]
    return tree_bytes(segs + [p for p in index_dir.iterdir() if p.is_file()])


def reset_peak_rss() -> None:
    """Start a new peak: the kernel sets VmHWM to the current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """This process's peak RSS (VmHWM) since the last reset_peak_rss()."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def content_bytes(frame: pd.DataFrame) -> int:
    return int(sum(len(c.encode()) for c in frame["content"]))


def compare_exact(engine: pd.DataFrame, golden: pd.DataFrame,
                  what: str) -> list[str]:
    """Rank-identical: same qids, docids and float64 scores, in rank order
    (score desc, docid asc)."""
    e = engine.sort_values(["qid", "rank"], kind="mergesort")
    g = golden.sort_values(["qid", "rank"], kind="mergesort")
    if len(e) != len(g):
        return [f"{what}: {len(e)} result rows, oracle {len(g)}"]
    bad = ((e["qid"].to_numpy() != g["qid"].to_numpy())
           | (e["rank"].to_numpy() != g["rank"].to_numpy())
           | (e["docid"].to_numpy() != g["docid"].to_numpy())
           | (e["score"].to_numpy() != g["score"].to_numpy()))
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [f"{what}: {int(bad.sum())} rows differ, first "
                f"engine {e.iloc[i].to_dict()} oracle {g.iloc[i].to_dict()}"]
    return []


def oracle_rows(oracle, queries, excluded: frozenset = frozenset()):
    """Oracle top-k per query, with phase-1 deleted docids left out."""
    rows = []
    for q in queries:
        top = oracle.topk(list(q["terms"]), int(q["k"]) + len(excluded))
        top = top[~top["docid"].isin(excluded)].head(int(q["k"]))
        rows += [(int(q["qid"]), r, int(d), float(s)) for r, (d, s)
                 in enumerate(zip(top["docid"], top["score"]))]
    return rows


# -- the run -------------------------------------------------------------

class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.work = Path(args.work)
        self.cores = SPARK_CORES[args.workload]
        self.n_docs = N_DOCS[args.workload]
        self.tracer = Tracer()
        self.ops: list[dict] = []           # every op of a measured phase
        self.mismatches: list[str] = []
        self.counts: dict[str, float] = {}  # per-layer inputs from the run
        self.builds: list[dict] = []        # per traced build: stage stats
        self.build_secs: list[float] = []   # every build's wall time
        self.rss_mb: dict[str, float] = {}  # driver peak RSS per window
        self.n_index = 0
        self.spark = None

    # session ------------------------------------------------------------

    def start_session(self) -> float:
        from jvector_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=SEGMENTS[self.args.workload])
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark, shut the py4j gateway and wait for its JVM: without
        the gateway shutdown the JVM outlives this process by seconds."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # tracing ------------------------------------------------------------

    def trace_on(self, phase: str) -> None:
        """Install the layer wrappers and record spans under `phase`."""
        t = self.tracer
        t.phase = phase
        if t.on:
            return
        t.on = True
        t.patch("jvector_spark.operators.ids", "assign_dense_docids",
                "ids.assign_dense_docids")
        t.patch("jvector_spark.sources.segment", "build_index",
                "segment.build_index")
        t.patch("jvector_spark.operators.wand", "global_term_stats",
                "wand.global_term_stats")
        t.patch("jvector_spark.operators.wand", "merge_topk",
                "wand.merge_topk")
        t.patch("jvector_spark.operators.wand", "scatter_paths",
                "wand.scatter_paths")
        t.patch("jvector_spark.serve", "global_term_stats",
                "wand.global_term_stats")
        t.patch("jvector_spark.serve", "search_partition",
                "wand.search_partition", self._counting_search_partition)
        t.patch("jvector_spark.plans.merge", "tombstone_view",
                "merge.tombstone_view")
        t.patch("jvector_spark.plans.merge", "mark_deleted",
                "merge.mark_deleted")
        t.patch("jvector_spark.plans.merge", "optimize_index",
                "merge.optimize")
        t.patch("jvector_spark.streaming.micro_segments",
                "append_micro_segment", "micro_segments.append")

    def trace_off(self) -> None:
        self.tracer.on = False
        self.tracer.unpatch_all()

    def _counting_search_partition(self, fn, name):
        """Warm serving calls search_partition without a metrics dict;
        the traced run passes one to read the work counters."""
        def traced(*args, **kwargs):
            if kwargs.get("metrics") is None and len(args) < 9:
                kwargs["metrics"] = {}
            with self.tracer.span(name):
                out = fn(*args, **kwargs)
            self.add_wand_counters(kwargs.get("metrics") or {})
            self.counts["wand.calls"] = self.counts.get("wand.calls", 0) + 1
            return out
        return traced

    def add_wand_counters(self, by_qid: dict) -> None:
        for counters in by_qid.values():
            for k, v in counters.items():
                self.counts["wand." + k] = self.counts.get("wand." + k, 0) + v

    # ops ----------------------------------------------------------------

    def op(self, kind: str, window: str, fn, items: int = 1):
        """Run one op; an exception counts it failed and infinitely slow."""
        t0 = time.perf_counter()
        span = self.tracer.open("op")
        try:
            out, ok = fn(), True
        except Exception:
            traceback.print_exc()
            out, ok = None, False
        finally:
            self.tracer.close(span)
        dt = time.perf_counter() - t0
        self.ops.append({"kind": kind, "window": window, "ok": ok, "dt": dt,
                         "s": dt if ok else math.inf,
                         "items": items if ok else 0})
        return out

    def window_ops(self, window: str, kind: str | None = None) -> list[dict]:
        return [o for o in self.ops if o["window"] == window
                and (kind is None or o["kind"] == kind)]

    def new_index_dir(self) -> Path:
        self.n_index += 1
        return self.work / f"index-{self.n_index}"

    def build(self, sdf, index_dir: Path) -> pd.DataFrame:
        """The build pipeline as the CLI runs it: dense ids, then segments."""
        from jvector_spark.operators import ids
        from jvector_spark.sources import segment

        t0 = time.perf_counter()
        docs = ids.assign_dense_docids(sdf)
        try:
            manifest = segment.build_index(docs, str(index_dir),
                                           assume_partitioned=True)
        finally:
            ids.release_docid_source(docs)
        self.build_secs.append(time.perf_counter() - t0)
        n = int(manifest["n_docs"].sum())
        if n != self.n_docs:
            self.mismatches.append(
                f"build: manifest n_docs {n} != {self.n_docs}")
        if self.tracer.on:
            self.builds.append(self._build_stats(manifest))
        return manifest

    def _build_stats(self, manifest: pd.DataFrame) -> dict:
        """Per-build layer numbers from artifacts build_index writes: the
        manifest rows and each segment's meta.json stage timers."""
        stage: dict[str, float] = {}
        for p in manifest["path"]:
            with open(Path(p) / "meta.json") as f:
                for k, v in json.load(f).get("stage_sec", {}).items():
                    stage[k] = stage.get(k, 0.0) + v
        wall = self.tracer.durations("segment.build_index")[-1]
        return {
            "wall": wall, "stage": stage,
            "count": len(manifest), "n_terms": int(manifest["n_terms"].sum()),
            "n_postings": int(manifest["n_postings"].sum()),
            "bytes_postings": int(manifest["bytes_postings"].sum()),
        }


# -- workloads -------------------------------------------------------------

def make_corpus(run: Run):
    """The seeded corpus, on the driver and as a cached Spark frame.
    generate_corpus gives the same rows as generate_corpus_distributed,
    in ~3.4 s for 3,000 docs; the distributed generator plus its collect
    took 10-14 s of every run at 4,000 docs, time no metric uses."""
    from jvector_spark.corpus import generate_corpus

    corpus = generate_corpus(run.n_docs, run.args.seed)
    sdf = run.spark.createDataFrame(corpus).repartition(run.cores).persist()
    sdf.count()
    return sdf, corpus


def timed_setups(run: Run, setup_once) -> tuple[list[float], object]:
    """Set up SETUPS times; setup_once(previous) returns what the measured
    phase uses. Returns the set-up times and the last set-up's state."""
    times, state = [], None
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        state = setup_once(state)
        times.append(time.perf_counter() - t0)
    return times, state


def set_tracing(run: Run, traced: bool) -> None:
    if traced:
        run.trace_on("window")
    else:
        run.trace_off()


def measure(run: Run, windows, step) -> dict[str, float]:
    """Per window: call step(window) back to back (closed loop, one
    client) until its seconds pass, at least once. Returns wall times."""
    walls = {}
    for window, seconds, traced in windows:
        set_tracing(run, traced)
        reset_peak_rss()
        t0 = time.perf_counter()
        while True:
            step(window)
            if time.perf_counter() - t0 >= seconds:
                break
        walls[window] = time.perf_counter() - t0
        run.rss_mb[window] = peak_rss_mb()
    return walls


def run_search_batch(run: Run, sdf, corpus, queries, windows) -> dict:
    from jvector_spark.operators import wand
    from jvector_spark.oracle import BM25Oracle

    sets = [queries.iloc[i * BATCH_QUERIES:(i + 1) * BATCH_QUERIES]
            .reset_index(drop=True) for i in range(BATCH_SETS)]

    def setup_once(prev):
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        d = run.new_index_dir()
        run.build(sdf, d)
        return d

    setups, index_dir = timed_setups(run, setup_once)
    warm = queries.iloc[BATCH_QUERIES * BATCH_SETS:].reset_index(drop=True)
    t0 = time.perf_counter()
    for _ in range(WARMUP_CALLS):
        wand.search_index(run.spark, str(index_dir), warm).toPandas()
    warmup_s = time.perf_counter() - t0
    calls: list[tuple[int, pd.DataFrame | None]] = []

    def step(window):
        i = len(calls) % BATCH_SETS
        acc = (wand.make_metrics_accumulator(run.spark)
               if run.tracer.on else None)

        def call():
            with run.tracer.span("wand.search_index"):
                res = wand.search_index(run.spark, str(index_dir), sets[i],
                                        metrics_acc=acc)
                with run.tracer.span("wand.collect"):
                    return res.toPandas()

        res = run.op("search", window, call, items=len(sets[i]))
        calls.append((i, res))
        if acc is not None and res is not None:
            run.add_wand_counters(wand.read_metrics(acc))
            run.counts["wand.calls"] = run.counts.get("wand.calls", 0) + 1

    walls = measure(run, windows, step)
    run.trace_off()
    if run.args.trace:
        run.counts["wand.search_partition_s"] = replay_search_partition(
            run, index_dir, sets[calls[-1][0]])
    # the oracle is built only now, so the driver's window RSS is the
    # program's alone
    oracle = BM25Oracle(corpus)
    golden: dict[int, pd.DataFrame] = {}
    for i, res in calls:
        if res is None:
            continue
        if i not in golden:
            golden[i] = oracle.golden(sets[i])
        run.mismatches += compare_exact(res, golden[i], f"search set {i}")
    return {"setups": setups, "warmup_s": warmup_s, "walls": walls,
            "index_dir": index_dir, "input_bytes": content_bytes(corpus)}


def replay_search_partition(run: Run, index_dir: Path,
                            queries: pd.DataFrame) -> float:
    """Task-seconds of one search_index call: its per-task segment groups
    (split exactly as scatter_paths splits them) scored in-process."""
    from jvector_spark.operators import wand
    from jvector_spark.plans.merge import tombstone_view
    from jvector_spark.sources.segment import load_manifest

    m = load_manifest(str(index_dir))
    paths = [s["path"] for s in m["segments"]]
    n_tasks = max(1, min(len(paths), int(run.spark.conf.get(
        "spark.sql.shuffle.partitions"))))
    groups = run.spark.sparkContext.parallelize(paths, n_tasks).glom().collect()
    terms = sorted({t for ts in queries["terms"] for t in ts})
    idfs = wand.idf_map(m["n_docs"],
                        wand.global_term_stats(run.spark, str(index_dir), terms))
    tomb = tombstone_view(str(index_dir), epoch=m.get("docid_epoch", 0))
    total = 0.0
    for g in groups:
        if g:
            t0 = time.perf_counter()
            wand.search_partition(g, queries[["qid", "terms", "k"]], idfs,
                                  m["avgdl"], tomb)
            total += time.perf_counter() - t0
    return total


class ServeClient:
    """Closed-loop client on serve_loop's two streams: serve_loop reads the
    next request line only after it has written the reply to the last one,
    as a caller on the serve protocol's stdin/stdout pipe waits for each
    reply."""

    def __init__(self, run: Run, requests, window: str, on_reply,
                 keep_replies: bool = False) -> None:
        self.run, self.requests, self.window = run, iter(requests), window
        self.on_reply = on_reply  # (kind, request, ok) after every reply
        self.keep = keep_replies
        self.replies: list[tuple[dict, dict]] = []
        self.after_write = False

    def __iter__(self):
        return self

    def __next__(self) -> str:
        self.kind, self.req, self.items = next(self.requests)
        line = json.dumps(self.req) + "\n"
        self.span = self.run.tracer.open("op")
        self.t0 = time.perf_counter()
        return line

    def write(self, line: str) -> None:
        dt = time.perf_counter() - self.t0
        self.run.tracer.close(self.span)
        reply = json.loads(line)
        ok = reply.get("ok") is True
        if not ok:
            print(f"perfbench: {self.kind} failed: {reply.get('error')}",
                  file=sys.stderr)
        self.run.ops.append({
            "kind": self.kind, "window": self.window, "ok": ok, "dt": dt,
            "s": dt if ok else math.inf, "items": self.items if ok else 0,
            "after_write": self.kind == "search" and self.after_write})
        if self.kind == "search":
            self.after_write = False
        elif self.kind == "write":
            self.after_write = True
        if self.keep:
            self.replies.append((self.req, reply))
        self.on_reply(self.kind, self.req, ok)

    def flush(self) -> None:
        pass


def run_serve_mixed(run: Run, sdf, corpus, queries, windows) -> dict:
    from jvector_spark import serve
    from jvector_spark.corpus import (VOCAB_SIZE, ZIPF_S, _vocab,
                                      _zipf_probs, generate_doc)
    from jvector_spark.oracle import BM25Oracle

    rng = np.random.default_rng(run.args.seed + 101)
    qrecs = queries.to_dict("records")
    pool = []
    for i in range(SERVE_REQUEST_POOL):
        # sizes 1-4 in turn down the popularity ranks, so the popular
        # requests have the same size mix under every seed
        picks = rng.choice(len(qrecs), size=1 + i % 4, replace=False)
        pool.append([{"qid": j, "terms": list(qrecs[p]["terms"]),
                      "k": int(qrecs[p]["k"])} for j, p in enumerate(picks)])
    weight = 1.0 / np.arange(1, SERVE_REQUEST_POOL + 1) ** SERVE_ZIPF_S
    draws = rng.choice(SERVE_REQUEST_POOL, size=200_000, p=weight / weight.sum())
    # generate_doc needs the seeded vocabulary generate_corpus builds
    vocab = _vocab(np.random.default_rng(run.args.seed))
    probs = _zipf_probs(VOCAB_SIZE, ZIPF_S)
    cols = ["repo", "path", "commit", "lang", "content"]
    victims = rng.permutation(run.n_docs)
    written: list[list[dict]] = []
    deleted: set[int] = set()
    sched = {"draw": 0, "doc": run.n_docs, "victim": 0}

    def search_req():
        req = pool[draws[sched["draw"] % len(draws)]]
        sched["draw"] += 1
        return ("search", {"op": "search", "queries": req}, len(req))

    def write_req():
        i = sched["doc"]
        sched["doc"] += WRITE_DOCS
        docs = [dict(zip(cols, generate_doc(j, vocab, probs, run.args.seed)))
                for j in range(i, i + WRITE_DOCS)]
        return ("write", {"op": "write", "docs": docs}, WRITE_DOCS)

    def mixed(cycles):
        """Cycles of a write of fresh docs, then WRITE_EVERY search
        requests with a delete after the DELETE_AT-th."""
        for _ in range(cycles):
            yield write_req()
            for n in range(1, WRITE_EVERY + 1):
                yield search_req()
                if n == DELETE_AT:
                    v = sched["victim"]
                    sched["victim"] += DELETE_DOCS
                    ids = [int(x) for x in victims[v:v + DELETE_DOCS]]
                    yield ("delete", {"op": "delete", "docids": ids},
                           DELETE_DOCS)

    def on_reply(kind, req, ok):
        if ok and kind == "write":
            written.append(req["docs"])
        elif ok and kind == "delete":
            deleted.update(req["docids"])
        # SearcherPool.reset() installs a fresh readers dict; set-up's
        # warm-up write does not count
        if (run.tracer.on and run.tracer.phase == "window"
                and state["server"].pool.readers is not state["readers"]):
            run.counts["serve.pool_refreshes"] = (
                run.counts.get("serve.pool_refreshes", 0) + 1)
        state["readers"] = state["server"].pool.readers

    def drive(requests, window, keep=False):
        client = ServeClient(run, requests, window, on_reply, keep)
        serve.serve_loop(state["server"], client, client)
        return client

    state: dict = {}

    def setup_once(prev):
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        d = run.new_index_dir()
        run.build(sdf, d)
        state["server"] = serve.IndexServer(run.spark, str(d), mode="local")
        state["readers"] = state["server"].pool.readers
        return d

    setups, index_dir = timed_setups(run, setup_once)
    # a warm-up write pays the JVM's first-write cost (about 3 s) outside
    # the window; the oracle covers its docs like any other write's
    t0 = time.perf_counter()
    drive([write_req(), *(search_req() for _ in range(SERVE_WARMUP_REQUESTS))],
          "warmup")
    warmup_s = time.perf_counter() - t0
    server = state["server"]
    walls = {}
    for w, s, on in windows:
        set_tracing(run, on)
        if on:
            for m in ("search", "write", "delete", "optimize"):
                run.tracer.patch(server, m, "serve." + m)
            hits0, segs0 = server.cache_hits, len(server.manifest["segments"])
        reset_peak_rss()
        t0 = time.perf_counter()
        drive(mixed(max(1, round(s / SERVE_CYCLE_S))), w)
        walls[w] = time.perf_counter() - t0
        run.rss_mb[w] = peak_rss_mb()
        if on:
            n_search = len(run.window_ops(w, "search"))
            run.counts["serve.result_cache_hit_share"] = (
                (server.cache_hits - hits0) / max(1, n_search))
            run.counts["serve.pooled_readers"] = len(server.pool.readers)
            run.counts["micro_segments.segments_added"] = (
                len(server.manifest["segments"]) - segs0)
    run.trace_off()

    # phase-1 check: deletes are tombstones, collection stats unchanged.
    # The oracle orders docs as the engine numbers them: the base corpus
    # by key, then each write batch by key after the index's max docid.
    base = corpus.sort_values(KEYS, kind="mergesort",
                              na_position="first").reset_index(drop=True)
    allf = pd.concat([base] + [pd.DataFrame(b).sort_values(KEYS, kind="mergesort")
                               for b in written], ignore_index=True)
    allf["_ord"] = np.arange(len(allf))
    check_draws = rng.choice(SERVE_REQUEST_POOL, size=CHECK_REQUESTS)

    def check(oracle_frame, excluded, what):
        orc = BM25Oracle(oracle_frame, key_cols=("_ord",))
        okeys = list(zip(*(oracle_frame[c] for c in KEYS)))
        reqs = (("search", {"op": "search", "queries": pool[i]}, len(pool[i]))
                for i in check_draws)
        client = drive(reqs, "check", keep=True)
        ekeys = engine_keys(index_dir)
        for req, reply in client.replies:
            if reply.get("ok") is not True:
                continue
            got = [(r["qid"], r["rank"], ekeys.get(r["docid"]), r["score"])
                   for r in reply["results"]]
            want = [(q, r, okeys[d], s) for q, r, d, s
                    in oracle_rows(orc, req["queries"], frozenset(excluded))]
            if got != want:
                run.mismatches.append(f"serve {what}: request "
                                      f"{req['queries']} differs from oracle")
                break

    check(allf, deleted, "after deletes")
    # compaction purges the deletes and renumbers densely in docid order;
    # its result is checked against an oracle over the reduced corpus
    if run.args.trace:
        run.trace_on("window")
        run.tracer.patch(server, "optimize", "serve.optimize")
    drive([("optimize", {"op": "optimize"}, 1)], "optimize")
    run.trace_off()
    live = allf[~allf["_ord"].isin(deleted)].reset_index(drop=True)
    live["_ord"] = np.arange(len(live))
    check(live, (), "after optimize")
    from jvector_spark.sources.segment import load_manifest

    run.counts["merge.bytes_rewritten"] = sum(
        int(s["bytes_postings"]) for s in load_manifest(str(index_dir))["segments"])
    return {"setups": setups, "warmup_s": warmup_s, "walls": walls,
            "index_dir": index_dir, "input_bytes": content_bytes(live)}


def engine_keys(index_dir: Path) -> dict:
    """docid -> key tuple, read from the live segments' docs.parquet."""
    from jvector_spark.sources.segment import load_manifest

    parts = [pd.read_parquet(Path(s["path"]) / "docs.parquet",
                             columns=["docid", *KEYS])
             for s in load_manifest(str(index_dir))["segments"]]
    df = pd.concat(parts, ignore_index=True)
    return dict(zip(df["docid"].tolist(), zip(*(df[c] for c in KEYS))))


WORKLOADS = {"search_batch": run_search_batch,
             "serve_mixed": run_serve_mixed}


# -- metrics ---------------------------------------------------------------

def e2e_metrics(run: Run, out: dict, window: str) -> dict:
    """The gated end-to-end metrics of one measured window. Throughput is
    queries answered per second spent in search: per call, median over
    calls, on search_batch; over the whole window's search requests on
    serve_mixed, whose requests (1-4 queries, some cache hits, a slow
    first read after each write) are too uneven to rate one by one.
    Latency is the median call or search request."""
    prim = run.window_ops(window, "search")
    if run.args.workload == "search_batch":
        thr = statistics.median(o["items"] / o["dt"] for o in prim)
    else:
        thr = sum(o["items"] for o in prim) / sum(o["dt"] for o in prim)
    return {
        "throughput_per_s": (thr, "1/s", len(prim)),
        "latency_p50_ms": (ms(pctl([o["s"] for o in prim], 50)), "ms",
                           len(prim)),
    }


def named_report(run: Run, out: dict, e2e: dict, window: str) -> list:
    """Every metric under the name the workload gives it, with unit and
    sample count. The result line carries the gated subset (e2e)."""
    ops = run.window_ops(window)
    thr, p50 = e2e["throughput_per_s"], e2e["latency_p50_ms"]
    rows = [("build_files_per_s", run.n_docs / statistics.median(run.build_secs),
             "1/s", len(run.build_secs))]

    def lat(name, kind, p=50.0, pred=lambda o: True):
        s = [o["s"] for o in ops if o["kind"] == kind and pred(o)]
        if s:
            rows.append((name, ms(pctl(s, p)), "ms", len(s)))

    if run.args.workload == "search_batch":
        rows.append(("search_qps", *thr))
        lat("search_call_p50_ms", "search")
        return rows
    srch = run.window_ops(window, "search")
    lvl = tail_level(len(srch))
    rows += [("serve_search_qps", *thr), ("serve_search_p50_ms", *p50)]
    lat(f"serve_search_p{lvl:g}_ms", "search", lvl)
    rows.append(("serve_mixed_qps", sum(o["items"] for o in srch)
                 / out["walls"][window], "1/s", len(ops)))
    lat("serve_read_after_write_p50_ms", "search",
        pred=lambda o: o.get("after_write"))
    lat("serve_write_p50_ms", "write")
    lat("serve_delete_p50_ms", "delete")
    opt = run.window_ops("optimize")
    rows.append(("serve_optimize_s", opt[0]["s"], "s", 1))
    return rows


def layer_metrics(run: Run, out: dict, names: list[str]) -> dict:
    """Per-layer metrics of the traced run. A layer that did not run in
    this workload (set-up included) reports 0."""
    t, c = run.tracer, run.counts
    m = dict.fromkeys(names, 0.0)
    m["session.get_spark_s"] = out["session_s"]
    m["ids.assign_dense_docids_s"] = t.median("ids.assign_dense_docids")
    builds = run.builds   # the set-up builds
    if builds:
        def med(f):
            return statistics.median(f(b) for b in builds)

        st = lambda k: (lambda b: b["stage"].get(k, 0.0))  # noqa: E731
        m["tokenizer.task_s"] = med(st("tokenize_sec"))
        m["segment.build_index_s"] = med(lambda b: b["wall"])
        m["segment.chunk_agg_task_s"] = med(st("chunk_agg_sec"))
        m["segment.final_sort_task_s"] = med(st("final_sort_sec"))
        m["segment.write_task_s"] = med(st("write_sec"))
        m["segment.spark_overhead_s"] = med(
            lambda b: b["wall"] - sum(b["stage"].values()) / run.cores)
        m["segment.count"] = med(lambda b: b["count"])
        m["segment.n_terms"] = med(lambda b: b["n_terms"])
        m["segment.n_postings"] = med(lambda b: b["n_postings"])
        m["codec.encode_task_s"] = med(st("encode_sec"))
        m["codec.bytes_postings"] = med(lambda b: b["bytes_postings"])
        m["codec.bytes_per_posting"] = med(
            lambda b: b["bytes_postings"] / max(1, b["n_postings"]))
    m["wand.global_term_stats_s"] = t.median("wand.global_term_stats")
    m["wand.search_index_s"] = t.median("wand.search_index")
    m["wand.merge_topk_s"] = t.median("wand.merge_topk")
    m["wand.scatter_paths_s"] = t.median("wand.scatter_paths")
    m["merge.tombstone_view_s"] = t.median("merge.tombstone_view")
    if "wand.search_partition_s" in c:      # replayed (search_batch)
        m["wand.search_partition_s"] = c["wand.search_partition_s"]
        m["wand.spark_overhead_s"] = (
            m["wand.search_index_s"] - m["wand.global_term_stats_s"]
            - m["merge.tombstone_view_s"]
            - m["wand.search_partition_s"] / run.cores)
    else:                                   # in-process (serve_mixed)
        m["wand.search_partition_s"] = t.median("wand.search_partition")
    calls = max(1, c.get("wand.calls", 0))
    blocks_visited = c.get("wand.blocks_total", 0)
    blocks_ub_skipped = c.get("wand.blocks_skipped", 0)
    m["wand.postings_scored"] = c.get("wand.postings_scored", 0) / calls
    m["wand.candidates"] = c.get("wand.candidates", 0) / calls
    m["wand.segments_bloom_skipped"] = (
        c.get("wand.segments_bloom_skipped", 0) / calls)
    # every block a query considered; skipped = generated no candidates
    all_blocks = blocks_visited + blocks_ub_skipped
    skipped = blocks_ub_skipped + blocks_visited - c.get("wand.blocks_gen", 0)
    m["wand.blocks_total"] = all_blocks / calls
    m["wand.blocks_skipped"] = skipped / calls
    m["wand.block_skip_share"] = skipped / all_blocks if all_blocks else 0.0
    m["merge.mark_deleted_s"] = t.median("merge.mark_deleted")
    m["merge.optimize_s"] = t.median("merge.optimize")
    m["merge.bytes_rewritten"] = c.get("merge.bytes_rewritten", 0)
    m["micro_segments.append_s"] = t.median("micro_segments.append")
    m["micro_segments.segments_added"] = c.get(
        "micro_segments.segments_added", 0)
    m["serve.search_s"] = t.median("serve.search")
    selfs = t.self_times("op") if run.args.workload == "serve_mixed" else []
    m["serve.codec_s"] = statistics.median(selfs) if selfs else 0.0
    m["serve.result_cache_hit_share"] = c.get(
        "serve.result_cache_hit_share", 0.0)
    m["serve.pool_refreshes"] = c.get("serve.pool_refreshes", 0)
    m["serve.pooled_readers"] = c.get("serve.pooled_readers", 0)
    if m["wand.search_index_s"]:
        m["wand.scoring_share"] = (m["wand.search_partition_s"] / run.cores
                                   / m["wand.search_index_s"])
    m["trace.unattributed_share"] = unattributed_share(run)
    return m


def unattributed_share(run: Run) -> float:
    """Share of the traced window's op time that no layer span covers:
    the time a layer call spends outside the spans of the layers below it
    (search_index outside term stats, tombstone view, the segment
    scatter, the merge plan and the collect; the server's search, write, delete and optimize outside
    wand, merge and micro_segments), plus the op's own time on
    search_batch. On serve_mixed the op's own time is serve_loop's, the
    serve.codec layer."""
    t = run.tracer
    op_time = sum(t.durations("op", "window"))
    names = ["wand.search_index", "serve.search", "serve.write",
             "serve.delete", "serve.optimize"]
    if run.args.workload == "search_batch":
        names.append("op")
    gaps = {n: sum(t.self_times(n)) for n in names}
    print("perfbench: unattributed seconds by span: " + " ".join(
        f"{n}={g:.3f}" for n, g in gaps.items() if g), file=sys.stderr)
    return sum(gaps.values()) / op_time if op_time else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    from jvector_spark.corpus import generate_queries

    run = Run(args)
    run.work.mkdir(parents=True, exist_ok=True)
    t_start = time.perf_counter()

    def phase(name):
        print(f"perfbench: {name} at {time.perf_counter() - t_start:.1f} s",
              file=sys.stderr, flush=True)

    probes = host_state()
    try:
        session_s = run.start_session()
        phase("session started")
        sdf, corpus = make_corpus(run)
        phase("corpus generated")
        n_q = {"search_batch": BATCH_QUERIES * (BATCH_SETS + 1),
               "serve_mixed": SERVE_QUERY_POOL}[args.workload]
        queries = generate_queries(corpus, n_q, seed=args.seed)
        phase("queries ready")
        if args.trace:
            run.trace_on("setup")
            # an untraced window first, then the traced one (same inputs);
            # their difference is the tracing overhead
            windows = [("untraced", args.seconds, False),
                       ("window", args.seconds, True)]
        else:
            windows = [("window", args.seconds, False)]
        with StealSampler() as steal:
            out = WORKLOADS[args.workload](run, sdf, corpus, queries,
                                           windows)
        out["session_s"] = session_s
        ibytes = index_bytes(Path(out["index_dir"]))
        phase("workload done")
    finally:
        run.trace_off()
        run.stop_session()
        phase("session stopped")
    probes.update(steal.stats(),
                  **{k + "_end": v for k, v in host_state().items()
                     if k.startswith("loadavg")})

    setup_s = (session_s + statistics.median(out["setups"])
               + out.get("warmup_s", 0.0))
    attempted = len([o for o in run.ops if o["window"] != "warmup"])
    failed = len([o for o in run.ops
                  if o["window"] != "warmup" and not o["ok"]])
    window = "window"
    e2e = {
        "setup_s": (setup_s, "s", len(out["setups"])),
        **e2e_metrics(run, out, window),
        "driver_peak_rss_mb": (run.rss_mb[window], "MB", 1),
        "ok_ops_share": (1.0 - failed / max(1, attempted), "ratio", attempted),
        "index_bytes_per_input_byte": (ibytes / out["input_bytes"], "ratio", 1),
    }
    tag = f"perfbench {args.workload} seed={args.seed}"
    for name, (v, unit, n) in e2e.items():
        print(f"{tag}: {name} = {v:.6g} {unit} (n={n})")
    for name, v, unit, n in named_report(run, out, e2e, window):
        print(f"{tag}: {name} = {v:.6g} {unit} (n={n})")
    print(f"{tag}: failed_ops_share = {failed / max(1, attempted):.6g} "
          f"ratio (n={attempted})")
    print(f"{tag}: probes {json.dumps(probes)}")
    print(f"{tag}: op seconds " + " ".join(
        f"{o['kind']}:{o['s']:.3f}" for o in run.ops), file=sys.stderr)
    print(f"{tag}: setup seconds " + " ".join(
        f"{x:.3f}" for x in out["setups"]), file=sys.stderr)
    if args.trace:
        metrics = layer_metrics(run, out, [m["name"] for m in spec["per_layer"]])
        if metrics["trace.unattributed_share"] > MAX_UNATTRIBUTED:
            run.mismatches.append(
                f"trace: {metrics['trace.unattributed_share']:.3f} of the "
                f"window's op time is outside every layer span "
                f"(limit {MAX_UNATTRIBUTED})")
        untraced = e2e_metrics(run, out, "untraced")
        traced = e2e_metrics(run, out, "window")
        for k in traced:
            print(f"{tag}: trace overhead {k}: traced {traced[k][0]:.6g} - "
                  f"untraced {untraced[k][0]:.6g} = "
                  f"{traced[k][0] - untraced[k][0]:+.6g} {traced[k][1]}")
        base = untraced["latency_p50_ms"][0]
        metrics["trace.overhead_share"] = (
            (traced["latency_p50_ms"][0] - base) / base)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for k, v in metrics.items():
            print(f"{tag}: layer {k} = {v:.6g} {units[k]}")
        result_metrics = {k: {"value": float(v), "unit": units[k]}
                          for k, v in metrics.items()}
    else:
        result_metrics = {k: {"value": float(v), "unit": u}
                          for k, (v, u, _) in e2e.items()}
    for msg in run.mismatches:
        print(f"{tag}: MISMATCH {msg}")
    result = {"correct": not run.mismatches, "attempted": attempted,
              "failed": failed, "metrics": result_metrics}
    Path(args.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
