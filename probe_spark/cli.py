"""spark-submit entry points: build / search / stats as cluster jobs.

North rule: "run via spark-submit --py-files on a multi-executor cluster".
Usage (cluster):

    zip -r probe_spark.zip probe_spark
    spark-submit --py-files probe_spark.zip -m ... job.py build \\
        --input iceberg_catalog.db.transcripts --output hdfs://.../index
    spark-submit --py-files probe_spark.zip job.py search \\
        --index hdfs://.../index "error AND handling" -k 10 --format json

where job.py is ``python -m probe_spark``'s module body (probe_spark/__main__.py
works directly as the application file).  Locally: ``python -m probe_spark ...``.

``--input`` accepts either a path (read as parquet) or a dotted table
identifier (read via ``spark.read.table`` — Iceberg/Hive tables resolve
through whatever catalog the Spark session was submitted with; this sandbox
has no Iceberg runtime, so the table path is exercised in production
deployments only and the parquet path in tests).

Subcommands: build / search / batch / stats / delete / vacuum / merge /
compact / eval / percolate.  Mirrors the reference CLI surface that is
meaningful for the transcript engine (reference: src/cli.rs:13-205 — search with --max-results /
--session / --exact / --format; extract and ast-grep query are code-AST
features, out of scope per SURVEY.md §2.11).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def combine_queries(queries: "list[str]") -> str:
    """Multiple CLI query args join with " AND " before parsing
    (search_runner.rs:358-364) — the combined string then goes through
    the one grammar, so `probe a b` == `probe "a AND b"`."""
    return " AND ".join(queries)


def _build_session(app: str):
    from pyspark.sql import SparkSession

    return SparkSession.builder.appName(app).getOrCreate()


def _read_input(spark, inp: str):
    """Path -> parquet scan; dotted identifier -> catalog table (Iceberg)."""
    looks_like_table = (
        "/" not in inp and "\\" not in inp and not inp.endswith(".parquet")
    )
    if looks_like_table:
        return spark.read.table(inp)
    return spark.read.parquet(inp)


def cmd_build(args) -> int:
    from probe_spark.index.build import BuildConfig, IndexBuilder

    spark = _build_session("probe-spark-build")
    df = _read_input(spark, args.input)
    if args.filter:
        df = df.filter(args.filter)
    cfg = BuildConfig(
        n_buckets=args.n_buckets,
        max_postings_per_segment=args.max_postings_per_segment,
        block_size=args.block_size,
        doc_partitions=args.doc_partitions,
        blank_lines_over=args.blank_lines_over or None,
    )
    t0 = time.time()
    result = IndexBuilder(spark, cfg).build(
        df, args.output, build_id=args.build_id
    )
    result["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(result))
    return 0


def cmd_search(args) -> int:
    from probe_spark.search.engine import SearchEngine

    if args.reranker.startswith("ms-marco-"):
        # reference gates these behind --features bert-reranker; BERT
        # reranking needs a runtime this deployment may not have
        # (search/rerank.py carries the mapInPandas cross-encoder
        # plumbing for installations that do)
        print(
            f"error: reranker '{args.reranker}' requires a BERT runtime "
            "(use bm25/tfidf/hybrid/hybrid2, which all rank with BM25 as "
            "the reference does, or 'overlap' for the deterministic "
            "two-stage rerank)", file=sys.stderr,
        )
        return 2
    rerank_on = args.reranker == "overlap"
    if rerank_on and (args.max_bytes or args.max_tokens
                      or args.merge_turns is not None or args.files_only
                      or args.ids_only):
        print(
            "error: --reranker overlap composes with plain ranked search "
            "only (not --max-bytes/--max-tokens/--merge-turns/"
            "--files-only/--ids-only)", file=sys.stderr,
        )
        return 2
    n_cands = max((args.max_results or 10) * 5, 50) if rerank_on else None
    args.query = combine_queries(args.query)
    timer = None
    if args.timeout:
        import os
        import threading

        def _expire():
            print(f"error: search timed out after {args.timeout}s",
                  file=sys.stderr)
            os._exit(1)  # reference hard-exits the process (timeout.rs:38-40)

        timer = threading.Timer(args.timeout, _expire)
        timer.daemon = True
        timer.start()
        args._timer = timer  # cancelled in main()'s finally — also on
        # exception paths, so an embedding process never gets os._exit(1)
        # from a search that already failed

    if args.local:
        # driver-local low-latency path (no Spark session; posix index
        # paths): same results as the distributed engine, pinned by tests.
        # Feature flags that need the distributed engine are refused
        # loudly rather than silently ignored.
        unsupported = [
            flag
            for flag, on in (
                ("--session", args.session),
                ("--match-metadata", args.match_metadata),
                ("--max-bytes", args.max_bytes),
                ("--max-tokens", args.max_tokens),
                ("--merge-turns", args.merge_turns is not None),
                ("--files-only", args.files_only),
                ("--where", args.where is not None),
            )
            if on
        ]
        if unsupported:
            print(
                f"error: {', '.join(unsupported)} not supported with "
                "--local (drop --local to use the distributed engine)",
                file=sys.stderr,
            )
            if timer:
                timer.cancel()
            return 2
        from probe_spark.search.local import LocalSearcher

        rows = LocalSearcher(args.index).search(
            args.query,
            k=n_cands if rerank_on else args.max_results,
            exact=args.exact,
            with_metadata=not args.ids_only or args.dry_run,
        )
        if rerank_on:
            from probe_spark.search.rerank import rerank_rows

            rows = rerank_rows(
                rows, args.query, k=args.max_results, exact=args.exact
            )
        from probe_spark.search.output import FORMATTERS

        if not args.dry_run and args.format in FORMATTERS:
            print(FORMATTERS[args.format](rows))
        else:
            for d in rows:
                if args.dry_run:
                    print(f"{d.get('conv_id')}:{d.get('turn_idx')}")
                elif args.format == "json":
                    print(json.dumps({k: _jsonable(v) for k, v in d.items()}))
                else:
                    text = (d.get("text") or "").replace("\n", " ")[:80]
                    print(f"{d['doc_id']}\t{d['score']:.4f}\t{text}")
        if timer:
            timer.cancel()
        return 0

    spark = _build_session("probe-spark-search")
    eng = SearchEngine(spark, args.index)
    if args.files_only:
        # reference files-only mode: matched conversations only, no
        # ranking/content, and "No caching for files-only mode"
        # (search_runner.rs:699-740) — --session is deliberately ignored
        rows = eng.search_files(
            args.query, max_results=args.max_results, exact=args.exact,
            where=args.where,
        ).collect()
        if args.format == "json":
            print(json.dumps([r["conv_id"] for r in rows]))
        else:
            for r in rows:
                print(r["conv_id"])
        if timer:
            timer.cancel()
        return 0
    seen = None
    if args.session:
        # early session filtering (cache.rs:392-541): the seen set is
        # dropped BEFORE ranking/limits, so a repeated --session query
        # returns the NEXT k results instead of a shortened page
        from probe_spark.search.session_cache import seen_doc_ids

        seen = seen_doc_ids(spark, args.index, args.session)
    res = eng.search(
        args.query,
        k=n_cands if rerank_on else args.max_results,
        exact=args.exact,
        with_metadata=not args.ids_only or args.dry_run,
        prune=not args.no_prune,
        exclude=seen,
        match_metadata=args.match_metadata,
        where=args.where,
    )
    if (args.max_bytes or args.max_tokens) and not args.ids_only:
        from probe_spark.search.limiter import apply_limits

        res = apply_limits(
            res, max_bytes=args.max_bytes, max_tokens=args.max_tokens
        )
    # NOTE: rows are collected ONCE here; session recording and display
    # both work off this list (a separate .collect() would re-execute the
    # whole search DAG)
    if args.merge_turns is not None and not args.ids_only:
        # block_merging.rs analog: adjacent turns of one conversation merge
        # into a span (opt-in: turns are atomic units, unlike the
        # reference's line blocks which merge by default)
        from probe_spark.search.merging import merge_adjacent_turns

        res = merge_adjacent_turns(res, threshold=args.merge_turns)
    rows = res.collect()
    if rerank_on:
        from probe_spark.search.rerank import rerank_rows

        rows = rerank_rows(
            rows, args.query, k=args.max_results, exact=args.exact
        )
    if args.session:
        from probe_spark.search.session_cache import record_results

        record_results(
            spark,
            args.index,
            args.session,
            args.query,
            [
                r["doc_id"]
                for r in rows
                if "doc_id" in (r if isinstance(r, dict) else r.asDict())
            ],
        )
    from probe_spark.search.output import FORMATTERS

    def _d(r):
        return r if isinstance(r, dict) else r.asDict()

    if args.dry_run:
        for r in rows:
            d = _d(r)
            if "turn_lo" in d:  # merged spans carry a turn range
                loc = f"{d['turn_lo']}-{d['turn_hi']}"
            else:
                loc = d.get("turn_idx")
            print(f"{d.get('conv_id')}:{loc}")
    elif args.format in FORMATTERS:
        print(FORMATTERS[args.format]([_d(r) for r in rows]))
    elif args.format == "json":
        for r in rows:
            print(json.dumps({k: _jsonable(v) for k, v in _d(r).items()}))
    else:
        for r in rows:
            d = _d(r)
            text = (d.get("text") or "").replace("\n", " ")[:80]
            print(f"{d['doc_id']}\t{d['score']:.4f}\t{text}")
    if timer:
        timer.cancel()
    return 0


def cmd_batch(args) -> int:
    """Bulk retrieval: a file of queries (one per line) runs as ONE Spark
    job (engine.search_batch — shared postings fetch + one exchange);
    results land in a parquet sink (``--output``) for downstream pipeline
    stages, or stream to stdout as JSON lines for small batches.  The
    offline mining surface: spark-submit a 100k-query file against a
    cluster index and write (query_idx, query, doc_id, score[, text...])."""
    from probe_spark.search.engine import SearchEngine

    with open(args.queries_file) as f:
        queries = [
            ln.strip()
            for ln in f
            if ln.strip() and not ln.lstrip().startswith("#")
        ]
    if not queries:
        print("error: no queries in file", file=sys.stderr)
        return 2
    spark = _build_session("probe-spark-batch")
    eng = SearchEngine(spark, args.index)
    res = eng.search_batch(
        queries,
        k=None if args.max_results == 0 else args.max_results,
        exact=args.exact,
        with_metadata=args.with_text,
        where=args.where,
    )
    if args.output:
        res.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({
            "queries": len(queries), "k": args.max_results,
            "rows": n, "output": args.output,
        }))
    else:
        for r in res.collect():
            print(json.dumps(
                {k: _jsonable(v) for k, v in r.asDict().items()}
            ))
    return 0


def cmd_stats(args) -> int:
    spark = _build_session("probe-spark-stats")
    stats = spark.read.parquet(f"{args.index}/stats").collect()[0].asDict()
    manifest = (
        spark.read.parquet(f"{args.index}/manifest")
        .orderBy("completed_at")
        .collect()
    )
    stats["manifest"] = [m.asDict() for m in manifest]
    if "://" not in args.index or args.index.startswith("file://"):
        from probe_spark.index.verify import index_bytes

        stats["bytes"] = index_bytes(args.index)
    if args.verify:
        from probe_spark.index.verify import verify_index

        stats["verify"] = verify_index(spark, args.index)
        print(json.dumps(stats, default=str))
        return 0 if stats["verify"]["ok"] else 1
    print(json.dumps(stats, default=str))
    return 0


def cmd_delete(args) -> int:
    """Tombstone docs matching --where (index/maintenance.delete_where):
    a metadata write, no index rewrite; deleted docs stop surfacing
    immediately, bytes are reclaimed by `vacuum`."""
    from probe_spark.index.maintenance import delete_where

    spark = _build_session("probe-spark-delete")
    try:
        n = delete_where(spark, args.index, args.where)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"deleted": n}))
    return 0


def cmd_vacuum(args) -> int:
    """Fold tombstones into the index (index/maintenance.vacuum):
    segments re-encoded without deleted postings, docs shards rewritten
    file-for-file, stats recomputed — rank-identical to a fresh build
    over the surviving corpus."""
    from probe_spark.index.maintenance import vacuum

    spark = _build_session("probe-spark-vacuum")
    print(json.dumps(vacuum(spark, args.index), default=str))
    return 0


def cmd_merge(args) -> int:
    """Shard-merge two indexes (index/maintenance.merge_indexes): B's doc
    space is appended after A's, postings move once as encoded bytes (one
    leading varint + numeric doc metadata rewritten per segment)."""
    from probe_spark.index.maintenance import merge_many

    srcs = args.indexes or [args.index_a, args.index_b]
    if any(s is None for s in srcs) or len(srcs) < 2:
        print("merge needs --indexes A B [C ...] or --index-a + --index-b")
        return 2
    spark = _build_session("probe-spark-merge")
    out = merge_many(spark, srcs, args.output)
    if args.compact:
        from probe_spark.index.maintenance import compact_index

        out["compact"] = compact_index(spark, args.output)
    print(json.dumps(out, default=str))
    return 0


def cmd_benchmark(args) -> int:
    """Performance benchmarks over a built index — the `probe benchmark`
    analog (cli.rs:333-361; the reference shells out to criterion suites
    with --bench/--sample-size/--format/--output/--fast).  Here the
    suite is the reference query set (or --queries-file) timed against
    the engine's serving lanes: `local` (driver-local front-end, no
    Spark jobs — the reference's in-process latency class) and/or
    `distributed` (the Spark engine).  One unmeasured warmup pass per
    lane (cache fill + codegen = session startup, not query latency),
    then --sample-size measured passes; per-query mean/p50/p95 plus the
    suite wall, as a pretty table, JSON, or CSV."""
    import statistics
    import time

    if args.queries_file:
        with open(args.queries_file) as f:
            suite = [
                (str(i + 1), q.strip(), args.max_results)
                for i, q in enumerate(f)
                if q.strip()
            ]
        if not suite:
            print(
                f"error: no queries in {args.queries_file}", file=sys.stderr
            )
            return 2
    else:
        from probe_spark.fixtures import REFERENCE_QUERIES

        suite = [(str(i), q, k) for i, q, k in REFERENCE_QUERIES]
    samples = 1 if args.fast else (args.sample_size or 3)

    lanes: dict[str, object] = {}
    if args.lane in ("local", "both"):
        from probe_spark.search.local import LocalSearcher

        searcher = LocalSearcher(args.index)
        lanes["local"] = lambda q, k, s=searcher: s.search(
            q, k=k, with_metadata=False
        )
    if args.lane in ("distributed", "both"):
        from probe_spark.search.engine import SearchEngine

        eng = SearchEngine(_build_session("probe-spark-benchmark"),
                           args.index)
        lanes["distributed"] = lambda q, k, e=eng: e.search(
            q, k=k, with_metadata=False
        ).collect()

    results = []
    for lane, run in lanes.items():
        for _qid, q, k in suite:  # warmup (unmeasured)
            run(q, k)
        t_lane = time.time()
        for qid, q, k in suite:
            lat = []
            n_rows = 0
            for _ in range(samples):
                t0 = time.time()
                n_rows = len(run(q, k))
                lat.append(time.time() - t0)
            lat.sort()
            results.append({
                "lane": lane,
                "query_id": qid,
                "query": q,
                "k": k,
                "rows": n_rows,
                "samples": samples,
                "mean_sec": round(statistics.fmean(lat), 4),
                "p50_sec": round(lat[len(lat) // 2], 4),
                "p95_sec": round(lat[int(0.95 * (len(lat) - 1))], 4),
            })
        results.append({
            "lane": lane, "query_id": "@suite", "query": "",
            "k": None, "rows": None, "samples": samples,
            "mean_sec": round(time.time() - t_lane, 4),
            "p50_sec": None, "p95_sec": None,
        })

    if args.format == "json":
        out = json.dumps({"index": args.index, "results": results})
    elif args.format == "csv":
        cols = list(results[0])
        lines = [",".join(cols)]
        for r in results:
            lines.append(",".join(
                "" if r[c] is None else str(r[c]).replace(",", ";")
                for c in cols
            ))
        out = "\n".join(lines)
    else:  # pretty
        w = max(len(r["query"]) for r in results)
        lines = [
            f"{'lane':<12} {'id':<6} {'query':<{w}} "
            f"{'mean':>8} {'p50':>8} {'p95':>8}"
        ]
        for r in results:
            lines.append(
                f"{r['lane']:<12} {r['query_id']:<6} {r['query']:<{w}} "
                f"{r['mean_sec']:>8} "
                f"{'' if r['p50_sec'] is None else r['p50_sec']:>8} "
                f"{'' if r['p95_sec'] is None else r['p95_sec']:>8}"
            )
        out = "\n".join(lines)
    if args.output:
        with open(args.output, "w") as f:
            f.write(out + "\n")
    print(out)
    return 0


def cmd_percolate(args) -> int:
    """Standing queries over a batch of turns (streaming/percolate:
    the Elasticsearch-percolator analog with the engine's exact
    semantics).  Queries file: one per line, either 'name<TAB>query' or a
    bare query (auto-named q0, q1, ...).  For continuous operation use
    the library's percolate_stream with a readStream source."""
    from probe_spark.streaming.percolate import percolate

    queries: dict[str, str] = {}
    auto = 0
    with open(args.queries_file) as f:
        for ln in f:
            ln = ln.rstrip("\n")
            if not ln.strip() or ln.lstrip().startswith("#"):
                continue
            if "\t" in ln:
                name, q = ln.split("\t", 1)
                name, q = name.strip(), q.strip()
            else:
                while f"q{auto}" in queries:
                    auto += 1
                name, q = f"q{auto}", ln.strip()
                auto += 1
            if name in queries:
                print(
                    f"error: duplicate standing-query name {name!r}",
                    file=sys.stderr,
                )
                return 2
            queries[name] = q
    if not queries:
        print("error: no queries in file", file=sys.stderr)
        return 2
    spark = _build_session("probe-spark-percolate")
    res = percolate(spark.read.parquet(args.input), queries)
    if args.output:
        res.write.mode("overwrite").parquet(args.output)
        # count from the sink — never re-run the percolation pass
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"matches": n, "queries": len(queries)}))
    else:
        for r in res.orderBy("query_id", "conv_id", "turn_idx").collect():
            print(json.dumps(r.asDict()))
    return 0


def cmd_eval(args) -> int:
    """IR-metrics evaluation (ops/evaluation): score a retrieval run
    parquet (query_id, doc_id, rank) against a gold parquet
    (query_id, doc_id) — recall@k / MRR@k / NDCG@k per query plus the
    macro summary; the nightly-eval counterpart of `batch`."""
    from probe_spark.ops.evaluation import retrieval_metrics, summarize_metrics

    spark = _build_session("probe-spark-eval")
    run = spark.read.parquet(args.run)
    gold = spark.read.parquet(args.gold)
    per_q = retrieval_metrics(run, gold, k=args.k)
    if args.output:
        per_q.write.mode("overwrite").parquet(args.output)
        # summarize from the sink — one metrics computation, not two
        per_q = spark.read.parquet(args.output)
    else:
        rows = per_q.orderBy("query_id").collect()
        for r in rows:
            print(json.dumps(r.asDict()))
        per_q = spark.createDataFrame(rows, per_q.schema)
    summ = summarize_metrics(per_q).collect()[0]
    print(json.dumps({"summary": summ.asDict()}))
    return 0


def cmd_compact(args) -> int:
    """Segment defragmentation (index/maintenance.compact_index): splice
    each term's doc-range-disjoint segments back together by byte
    concatenation — no decode, no re-tokenize, ranks/scores unchanged."""
    from probe_spark.index.maintenance import compact_index

    spark = _build_session("probe-spark-compact")
    print(json.dumps(compact_index(spark, args.index), default=str))
    return 0


def _jsonable(v):
    try:
        json.dumps(v)
        return v
    except TypeError:
        return str(v)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="probe_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build (or resume) an inverted index")
    b.add_argument("--input", required=True,
                   help="transcripts parquet path or catalog table name")
    b.add_argument("--output", required=True, help="index directory")
    b.add_argument("--build-id", default="build0")
    b.add_argument("--n-buckets", type=int, default=32)
    b.add_argument("--max-postings-per-segment", type=int, default=1 << 17)
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--doc-partitions", type=int, default=None)
    b.add_argument("--blank-lines-over", type=int, default=500,
                   metavar="CHARS",
                   help="blank lines longer than CHARS before tokenization "
                        "(file_processing.rs:1090-1107; 0 disables; the "
                        "library default is off)")
    b.add_argument("--filter", default=None, metavar="SQL_PREDICATE",
                   help="restrict the corpus before indexing, e.g. "
                        "\"role = 'assistant'\" — the language-filter "
                        "analog (reference --language restricts the scan; "
                        "here the predicate pushes down to the table scan)")
    b.set_defaults(fn=cmd_build)

    s = sub.add_parser("search", help="top-k BM25 search")
    s.add_argument("query", nargs="+",
                   help="one or more queries; multiple queries are joined "
                        "with ' AND ' before parsing (reference: "
                        "search_runner.rs:358-364)")
    s.add_argument("--index", required=True)
    s.add_argument("-k", "--max-results", type=int, default=10)
    s.add_argument("--max-bytes", type=int, default=None,
                   help="cumulative text-byte budget over ranked results")
    s.add_argument("--max-tokens", type=int, default=None,
                   help="cumulative token budget over ranked results")
    s.add_argument("--exact", action="store_true",
                   help="whole query as one unsplit exact term")
    s.add_argument("--ids-only", action="store_true")
    s.add_argument("-f", "--files-only", action="store_true",
                   help="one row per matched conversation (the reference's "
                        "files-only mode, search_runner.rs:699-740): no "
                        "ranking, no content, no session caching; "
                        "-k limits the conversation count")
    s.add_argument("-s", "--frequency", action="store_true", default=True,
                   help="accepted for reference CLI parity and ignored — "
                        "the reference itself destructures frequency_search "
                        "away (search_runner.rs:226)")
    s.add_argument("--where", default=None, metavar="PRED",
                   help="metadata-scoped search: a Spark SQL boolean "
                        "expression over (conv_id, turn_idx, role, tool, "
                        "ts); only matching turns may qualify, filtered "
                        "before top-k (filter context — scores stay "
                        "corpus-global).  e.g. --where \"role = 'user' "
                        "AND ts >= timestamp'2026-01-01'\"")
    s.add_argument("--match-metadata", action="store_true",
                   help="also credit keywords to turns whose tokenized "
                        "tool metadata shares a token (the reference's "
                        "filename matching; its --exclude-filenames "
                        "corresponds to omitting this flag)")
    s.add_argument("--no-prune", action="store_true",
                   help="force the full path (no single-term or "
                        "doc-range route)")
    s.add_argument("--session", default=None,
                   help="session id: drop results already returned in this "
                        "session and record the new ones")
    s.add_argument(
        "--format",
        choices=[
            "text", "json", "plain", "markdown", "xml", "color", "terminal",
        ],
        default="text",
        help="output format (search_output.rs analogs)",
    )
    s.add_argument("-r", "--reranker", default="bm25",
                   choices=["bm25", "tfidf", "hybrid", "hybrid2", "overlap",
                            "ms-marco-tinybert", "ms-marco-minilm-l6",
                            "ms-marco-minilm-l12"],
                   help="reference parity: every non-BERT value except "
                        "'overlap' takes the same BM25 path "
                        "(result_ranking.rs:19-167 ranks with "
                        "rank_documents regardless); 'overlap' runs the "
                        "deterministic two-stage retrieve-then-rerank "
                        "(search/rerank.py, the cross-encoder analog); "
                        "ms-marco-* BERT rerankers error without a BERT "
                        "runtime")
    s.add_argument("--timeout", type=int, default=None, metavar="SECS",
                   help="hard kill-switch: exit(1) the whole process if the "
                        "search exceeds SECS (reference timeout.rs:8-43)")
    s.add_argument("--dry-run", action="store_true",
                   help="print result locators (conv_id:turn_idx) only, no "
                        "content — the reference's 'file names and lines "
                        "only' mode (search_output.rs:53)")
    s.add_argument("--merge-turns", type=int, default=None, metavar="N",
                   help="merge result turns of one conversation within N "
                        "of each other into spans (block-merging analog)")
    s.add_argument("--local", action="store_true",
                   help="driver-local low-latency path (no Spark jobs; "
                        "posix index paths; no --session/--max-bytes)")
    s.set_defaults(fn=cmd_search)

    bt = sub.add_parser(
        "batch",
        help="bulk retrieval: run a FILE of queries as one shared-scan "
             "Spark job (offline mining); write parquet or JSON lines",
    )
    bt.add_argument("--index", required=True)
    bt.add_argument("--queries-file", required=True,
                    help="one query per line; blank lines and # comments "
                         "skipped; query_idx in the output = position "
                         "among the surviving queries (0-based), and the "
                         "full query string rides every row")
    bt.add_argument("-k", "--max-results", type=int, default=10,
                    help="per-query top-k; 0 = ALL matches per query "
                         "(the mining default for recall-complete jobs)")
    bt.add_argument("--exact", action="store_true")
    bt.add_argument("--with-text", action="store_true",
                    help="attach matched_terms + doc metadata/text (large "
                         "batches switch to one distributed docs join)")
    bt.add_argument("--where", default=None, metavar="PRED",
                    help="one metadata scope for the whole batch (Spark "
                         "SQL over conv_id/turn_idx/role/tool/ts); filter "
                         "context — scores stay corpus-global")
    bt.add_argument("--output", default=None,
                    help="parquet sink directory (omit to print JSON lines)")
    bt.set_defaults(fn=cmd_batch)

    st = sub.add_parser(
        "stats",
        help="print index stats, manifest lineage and (local indexes) "
             "where the bytes go",
    )
    st.add_argument("--index", required=True)
    st.add_argument("--verify", action="store_true",
                    help="distributed integrity check: segment CRCs + "
                         "structure, posting dls against docs/, manifest "
                         "lineage totals, doc_id density (exit 1 on any "
                         "failure)")
    st.set_defaults(fn=cmd_stats)

    d = sub.add_parser(
        "delete",
        help="tombstone docs matching a metadata predicate (no rewrite; "
             "masked from every query path until vacuum folds them)",
    )
    d.add_argument("--index", required=True)
    d.add_argument("--where", required=True, metavar="PRED",
                   help="Spark SQL predicate over (conv_id, turn_idx, "
                        "role, tool, ts, text) selecting docs to delete")
    d.set_defaults(fn=cmd_delete)

    v = sub.add_parser(
        "vacuum",
        help="fold tombstones: re-encode segments, rewrite docs shards, "
             "recompute stats (rank-identical to a fresh build over the "
             "surviving corpus)",
    )
    v.add_argument("--index", required=True)
    v.set_defaults(fn=cmd_vacuum)

    m = sub.add_parser(
        "merge",
        help="concatenate two indexes into one without re-tokenizing "
             "(shard-merge: B's doc space appended after A's; "
             "rank-identical to a fresh build when A-then-B is the "
             "global corpus order)",
    )
    m.add_argument("--index-a")
    m.add_argument("--index-b")
    m.add_argument("--indexes", nargs="+", metavar="IDX",
                   help="N-way one-pass merge in the given doc order "
                        "(each posting byte moves once; a pairwise chain "
                        "would rewrite the first shard N-1 times)")
    m.add_argument("--output", required=True)
    m.add_argument("--compact", action="store_true",
                   help="defragment the merged segments immediately "
                        "(same as running `compact` afterwards)")
    m.set_defaults(fn=cmd_merge)

    c = sub.add_parser(
        "compact",
        help="defragment postings after a merge chain / streamed deltas "
             "(byte-splice each term's segments; Lucene forceMerge "
             "analog, ranks and scores unchanged)",
    )
    c.add_argument("--index", required=True)
    c.set_defaults(fn=cmd_compact)

    ev = sub.add_parser(
        "eval",
        help="score a retrieval run against a gold set: recall@k / MRR / "
             "NDCG per query + macro summary (JSON lines or --output "
             "parquet)",
    )
    ev.add_argument("--run", required=True,
                    help="parquet of (query_id, doc_id, rank) — e.g. the "
                         "batch command's output with a rank column")
    ev.add_argument("--gold", required=True,
                    help="parquet of relevant (query_id, doc_id) pairs")
    ev.add_argument("-k", type=int, default=10)
    ev.add_argument("--output", help="write per-query metrics parquet "
                                     "instead of printing")
    ev.set_defaults(fn=cmd_eval)

    bm = sub.add_parser(
        "benchmark",
        help="performance benchmarks over a built index (the reference's "
             "`probe benchmark` analog, cli.rs:333-361): reference query "
             "suite or --queries-file, per-query mean/p50/p95 per lane",
    )
    bm.add_argument("--index", required=True)
    bm.add_argument("--queries-file", default=None,
                    help="one query per line (default: the 23-query "
                         "reference suite)")
    bm.add_argument("--sample-size", type=int, default=None,
                    help="measured passes per query (default 3)")
    bm.add_argument("--fast", action="store_true",
                    help="single measured pass (the reference's --fast)")
    bm.add_argument("--lane", default="local",
                    choices=["local", "distributed", "both"],
                    help="serving lane(s) to time; local = driver-local "
                         "front-end (no Spark jobs)")
    bm.add_argument("-k", "--max-results", type=int, default=10,
                    help="top-k for --queries-file queries")
    bm.add_argument("--format", default="pretty",
                    choices=["pretty", "json", "csv"])
    bm.add_argument("--output", default=None,
                    help="also write the formatted results to a file")
    bm.set_defaults(fn=cmd_benchmark)

    pc = sub.add_parser(
        "percolate",
        help="standing queries over a batch of turns (alerting/routing): "
             "one row per (query, matching turn), exact engine semantics",
    )
    pc.add_argument("--queries-file", required=True,
                    help="one standing query per line ('name<TAB>query' "
                         "or bare query); # comments skipped")
    pc.add_argument("--input", required=True,
                    help="parquet of turns (conv_id, turn_idx, text)")
    pc.add_argument("--output", help="parquet sink; default prints JSON "
                                     "lines")
    pc.set_defaults(fn=cmd_percolate)

    args = p.parse_args(argv)
    try:
        return args.fn(args)
    finally:
        t = getattr(args, "_timer", None)
        if t is not None:
            t.cancel()


if __name__ == "__main__":
    sys.exit(main())
