"""spark-submit entry point (north rule: `spark-submit --py-files`).

Deployment:
    python -m jvector_spark.session_zip   # (or jvector_spark.session.package_zip())
    spark-submit --py-files /tmp/jvector_spark_pyfiles.zip \\
        jvector_spark/cli.py build --input corpus.parquet --index /idx

In-sandbox the same commands run on local[N]; `get_spark` additionally
addPyFile-ships the package so executors resolve imports identically in
both modes.

Subcommands:
    build    corpus parquet -> dense docids -> compressed segments
             (resumable: re-running skips fingerprint-matched segments)
    search   top-k BM25 queries (JSON lines: {"qid","terms","k"}) -> parquet
    phrase   exact phrase queries over positional payloads
             (JSON lines: {"qid","phrase","k"}) -> parquet
    regex    grep-style token-regex search (dictionary expansion)
             (JSON lines: {"qid","pattern","k"}) -> parquet
    compact  merge segments + purge tombstones + renumber
    optimize second-pass refinement in place (codec upgrade + metadata
             refresh; rank-identical results)
    delete   add tombstones by docid
    metrics  print the manifest's lineage/metrics JSON
    vacuum   remove segment dirs unreferenced by the manifest
    fsck     distributed integrity verification (checksums + decode)
    serve    warm query loop (pooled searchers, JSON-lines on stdin/stdout)
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _get_session(master: str | None):
    """Create the session BEFORE importing jvector_spark: under
    `spark-submit --py-files` the package zip is added to sys.path only at
    SparkContext init, so any jvector import must come after this.

    Returns (session, owns): only stop sessions this CLI created — an
    embedding process (tests, notebooks) keeps its session."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active, False

    # glibc malloc tuning for python workers (same values/rationale as
    # session.get_spark, where the ~4x encode-throughput impact is
    # measured) — a CLI build must not run the slow allocator path
    malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
        "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    }
    for k, v in malloc_env.items():
        os.environ.setdefault(k, v)
    b = SparkSession.builder.appName("jvector_spark_cli")
    if master:
        b = b.master(master)
    for k, v in malloc_env.items():  # ship to cluster-mode executors too
        b = b.config(f"spark.executorEnv.{k}", os.environ[k])
    spark = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1)),
    )
    try:
        from jvector_spark.session import package_zip

        spark.sparkContext.addPyFile(package_zip())
    except ModuleNotFoundError:
        _bootstrap_pyfiles_path(spark)
    return spark, True


def _bootstrap_pyfiles_path(spark) -> None:
    """spark-submit case: the zip reached the executors via --py-files,
    but (Spark 4) the DRIVER's sys.path no longer gets it implicitly —
    add the staged zips ourselves (zipimport handles the rest)."""
    conf = spark.sparkContext.getConf()
    for uri in (conf.get("spark.submit.pyFiles") or "").split(","):
        path = uri.removeprefix("file:")
        if path:
            sys.path.insert(0, path)


def _ensure_importable() -> None:
    """Make `import jvector_spark` work on the DRIVER even before any
    SparkSession exists — the metrics/vacuum/delete/suggest fast paths
    import the package without ever calling _get_session, and under
    `spark-submit --py-files` on Spark 4 the driver's sys.path does not
    include the shipped zip until someone adds it."""
    try:
        import jvector_spark  # noqa: F401
        return
    except ModuleNotFoundError:
        pass
    # no session yet: recover the zip path from the spark-submit argv
    # convention (PYSPARK_SUBMIT_ARGS) or the staged SPARK_YARN dirs via
    # an ephemeral conf read — cheapest reliable source is the
    # environment spark-submit sets for the driver process
    sub = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--py-files" in sub:
        try:
            # both `--py-files a.zip` and `--py-files=a.zip`, optionally
            # quoted
            rest = sub.split("--py-files", 1)[1].strip().removeprefix("=")
            files = rest.strip().split(" ", 1)[0].strip("'\"")
            for uri in files.split(","):
                path = uri.removeprefix("file:")
                if path and os.path.exists(path):
                    sys.path.insert(0, path)
        except Exception:
            pass


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="jvector_spark")
    p.add_argument("--master", default=None, help="spark master override")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True, help="corpus parquet path")
    b.add_argument("--index", required=True, help="output index dir")
    b.add_argument("--mode", default="code", choices=["code", "simple"])
    b.add_argument("--segments", type=int, default=None)
    b.add_argument("--content-col", default="content")
    b.add_argument("--key-cols", default="repo,path,commit")
    b.add_argument("--positions", action="store_true",
                   help="store positional payloads (enables phrase search)")

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--queries", required=True,
                   help="JSON-lines file: {qid, terms, k}")
    s.add_argument("--output", required=True, help="output parquet path")

    ph = sub.add_parser("phrase")
    ph.add_argument("--index", required=True)
    ph.add_argument("--queries", required=True,
                    help="JSON-lines file: {qid, phrase, k}")
    ph.add_argument("--output", required=True, help="output parquet path")

    rx = sub.add_parser("regex")
    rx.add_argument("--index", required=True)
    rx.add_argument("--queries", required=True,
                    help="JSON-lines file: {qid, pattern, k}")
    rx.add_argument("--output", required=True, help="output parquet path")

    px = sub.add_parser("proximity")
    px.add_argument("--index", required=True)
    px.add_argument("--queries", required=True,
                    help="JSON-lines file: {qid, terms, window, k}")
    px.add_argument("--output", required=True, help="output parquet path")

    ml = sub.add_parser(
        "mlt", help="more-like-this: query-by-document with in-search "
                    "self-exclusion")
    ml.add_argument("--index", required=True)
    ml.add_argument("--docs", required=True,
                    help="corpus parquet (source of the seed documents)")
    ml.add_argument("--doc-ids", required=True, help="comma-separated docids")
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument("--num-terms", type=int, default=10)
    ml.add_argument("--id-col", default="docid")
    ml.add_argument("--content-col", default="content")
    ml.add_argument("--output", required=True, help="output parquet path")

    sg = sub.add_parser(
        "suggest", help="spell suggestion over the term_stats hot tier "
                        "(no Spark session)")
    sg.add_argument("--index", required=True)
    sg.add_argument("--queries", required=True,
                    help="JSON-lines file: {qid, term, dist}")
    sg.add_argument("--n", type=int, default=5)

    c = sub.add_parser("compact")
    c.add_argument("--index", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--target-segments", type=int, default=None)

    op = sub.add_parser(
        "optimize",
        help="second-pass refinement: rewrite segments in place through "
             "the current encoder (codec upgrade + metadata refresh; "
             "rank-identical results)")
    op.add_argument("--index", required=True)
    op.add_argument("--target-bytes", type=int, default=None)

    d = sub.add_parser("delete")
    d.add_argument("--index", required=True)
    d.add_argument("--docids", required=True, help="comma-separated docids")

    rp = sub.add_parser(
        "replace", help="upsert: tombstone live docs matching the input's "
                        "keys, append the new versions (2-phase update)")
    rp.add_argument("--index", required=True)
    rp.add_argument("--input", required=True, help="parquet of new versions")
    rp.add_argument("--mode", default="code", choices=["code", "simple"])
    rp.add_argument("--content-col", default="content")
    rp.add_argument("--key-cols", default="repo,path,commit")
    rp.add_argument("--positions", action="store_true")

    m = sub.add_parser("metrics")
    m.add_argument("--index", required=True)

    v = sub.add_parser("vacuum")
    v.add_argument("--index", required=True)
    v.add_argument("--dry-run", action="store_true")

    fs = sub.add_parser("fsck")
    fs.add_argument("--index", required=True)
    fs.add_argument("--max-terms", type=int, default=None,
                    help="bound per-segment decode work (quick audit)")

    sv = sub.add_parser(
        "serve",
        help="warm query loop: one session + pooled searchers, JSON-lines "
             "requests on stdin, responses on stdout (IPCService analog)")
    sv.add_argument("--index", required=True)
    sv.add_argument("--mode", default="local", choices=["local", "spark"],
                    help="local = driver-side pooled segment scoring (zero "
                         "Spark jobs/request); spark = distributed per batch")
    sv.add_argument("--vectors", default=None,
                    help="embeddings parquet (vec_id, embedding) to serve "
                         "warm kNN requests against")
    sv.add_argument("--vector-clusters", type=int, default=None,
                    help="train an IVF tier over --vectors at load; knn "
                         "requests may then pass nprobe")
    sv.add_argument("--vector-graph-R", type=int, default=None,
                    help="build a per-cell Vamana graph tier over "
                         "--vectors at load; knn requests may then pass "
                         "ef for beam-searched cells")
    sv.add_argument("--vector-quantize", default=None,
                    choices=["nvq", "pq"],
                    help="hold --vectors as NVQ 8-bit codes or PQ codes "
                         "instead of the float matrix (rerank-tier "
                         "memory formats; pq scores via per-query ADC "
                         "lookup tables)")
    sv.add_argument("--vector-pq-m", type=int, default=None,
                    help="PQ subspace count for --vector-quantize pq "
                         "(default dim/2)")
    sv.add_argument("--vector-rerank-k", type=int, default=None,
                    help="exact-rerank the top K approximate candidates "
                         "per knn request from an on-disk float sidecar "
                         "(quantized pools only; returned scores become "
                         "exact cosines)")
    sv.add_argument("--vector-fused", action="store_true",
                    help="fuse neighbor code slabs into the graph tier "
                         "(FusedADC layout; needs --vector-quantize and "
                         "--vector-graph-R)")
    sv.add_argument("--vector-hier", action="store_true",
                    help="build in-cell HNSW-style upper layers for the "
                         "graph tier (greedy descent replaces stride "
                         "seeds; needs --vector-graph-R)")

    args = p.parse_args(argv)

    # the sessionless fast paths below import jvector_spark directly —
    # make sure the package resolves under spark-submit --py-files
    _ensure_importable()
    if args.cmd == "metrics":
        from jvector_spark.sources.segment import load_manifest

        print(json.dumps(load_manifest(args.index), indent=1))
        return 0
    if args.cmd == "vacuum":
        from jvector_spark.plans.merge import vacuum_index

        removed = vacuum_index(args.index, dry_run=args.dry_run)
        print(json.dumps({"removed": removed, "dry_run": args.dry_run}))
        return 0
    if args.cmd == "delete":
        from jvector_spark.plans.merge import mark_deleted

        tomb = mark_deleted(args.index, [int(x) for x in args.docids.split(",")])
        print(json.dumps({"tombstones": len(tomb)}))
        return 0
    if args.cmd == "suggest":
        import pandas as pd

        from jvector_spark.operators.fuzzy import suggest_terms

        qpdf = pd.read_json(args.queries, lines=True)
        if qpdf["qid"].duplicated().any():
            # a dict comprehension would silently keep only the LAST
            # query per qid — refuse instead of dropping work
            dup = sorted(qpdf.loc[qpdf["qid"].duplicated(), "qid"]
                         .unique().tolist())
            raise SystemExit(f"duplicate qid(s) in queries file: {dup}")
        res = suggest_terms(
            args.index,
            {int(r.qid): (str(r.term), int(r.dist))
             for r in qpdf.itertuples()},
            n=args.n,
        )
        for row in res.to_dict("records"):
            print(json.dumps(row))
        return 0

    spark, owns = _get_session(args.master)
    try:
        if args.cmd == "build":
            from jvector_spark.operators.ids import (
                assign_dense_docids, release_docid_source)
            from jvector_spark.sources.segment import build_index

            key_cols = tuple(args.key_cols.split(","))
            docs = assign_dense_docids(
                spark.read.parquet(args.input), key_cols=key_cols,
                num_partitions=args.segments,
            )
            try:
                manifest = build_index(
                    docs, args.index, mode=args.mode,
                    num_segments=args.segments,
                    content_col=args.content_col, key_cols=key_cols,
                    assume_partitioned=True, positions=args.positions,
                )
            finally:
                release_docid_source(docs)
            print(json.dumps({
                "segments": len(manifest),
                "built": int((manifest["status"] == "built").sum()),
                "resumed": int((manifest["status"] == "resumed").sum()),
                "n_docs": int(manifest["n_docs"].sum()),
            }))
        elif args.cmd in ("search", "phrase", "regex", "proximity"):
            # one read-queries -> run -> write -> count block for all
            # four query surfaces; only the operator differs
            import pandas as pd

            def _op(cmd: str):
                if cmd == "search":
                    from jvector_spark.operators.wand import search_index
                    return search_index
                if cmd == "phrase":
                    from jvector_spark.operators.phrase import phrase_search
                    return phrase_search
                if cmd == "regex":
                    from jvector_spark.operators.regex import (
                        regex_token_topk)
                    return regex_token_topk
                from jvector_spark.operators.proximity import (
                    proximity_search)
                return proximity_search

            qpdf = pd.read_json(args.queries, lines=True)
            res = _op(args.cmd)(spark, args.index, qpdf)
            res.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"queries": len(qpdf)}))
        elif args.cmd == "replace":
            from jvector_spark.plans.merge import replace_docs

            out = replace_docs(
                spark, args.index, spark.read.parquet(args.input),
                key_cols=tuple(args.key_cols.split(",")), mode=args.mode,
                content_col=args.content_col, positions=args.positions,
            )
            print(json.dumps(out))
        elif args.cmd == "mlt":
            from jvector_spark.operators.mlt import more_like_this

            docs = spark.read.parquet(args.docs)
            if args.id_col == "docid" and "docid" not in docs.columns:
                # the build input has no docid column (dense ids are
                # assigned internally): re-derive THE SAME mapping the
                # build used — assign_dense_docids is a pure function of
                # the index's own key columns
                from jvector_spark.operators.ids import assign_dense_docids
                from jvector_spark.plans.merge import index_config

                docs = assign_dense_docids(
                    docs, key_cols=index_config(args.index)["key_cols"])
            res = more_like_this(
                spark, args.index, docs,
                [int(x) for x in args.doc_ids.split(",")],
                k=args.k, num_terms=args.num_terms,
                id_col=args.id_col, content_col=args.content_col,
            )
            res.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"queries": len(args.doc_ids.split(","))}))
        elif args.cmd == "fsck":
            from jvector_spark.plans.verify import verify_index

            res = verify_index(spark, args.index,
                               max_terms_per_segment=args.max_terms).toPandas()
            bad = res[~res["ok"]]
            print(json.dumps({
                "segments": len(res), "ok": int(res["ok"].sum()),
                "bad": bad.to_dict("records"),
            }, default=str))
            return 0 if bad.empty else 1
        elif args.cmd == "optimize":
            from jvector_spark.plans.merge import optimize_index

            out = optimize_index(spark, args.index,
                                 target_bytes=args.target_bytes)
            print(json.dumps({"segments": len(out),
                              "n_docs": int(out["n_docs"].sum()),
                              "bytes_postings": int(out["bytes_postings"].sum())}))
        elif args.cmd == "serve":
            from jvector_spark.serve import IndexServer, serve_loop

            server = IndexServer(spark, args.index, mode=args.mode,
                                 vectors=args.vectors,
                                 vector_clusters=args.vector_clusters,
                                 vector_quantize=args.vector_quantize,
                                 vector_pq_m=args.vector_pq_m,
                                 vector_rerank_k=args.vector_rerank_k,
                                 vector_graph_R=args.vector_graph_R,
                                 vector_fused=args.vector_fused,
                                 vector_hier=args.vector_hier)
            handled = serve_loop(server, sys.stdin, sys.stdout)
            print(json.dumps({"served": handled}), file=sys.stderr)
        elif args.cmd == "compact":
            from jvector_spark.plans.merge import compact_index

            out = compact_index(
                spark, args.index, args.output,
                target_segments=args.target_segments,
            )
            print(json.dumps({"segments": len(out),
                              "n_docs": int(out["n_docs"].sum())}))
        return 0
    finally:
        if owns:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
