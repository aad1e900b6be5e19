"""Per-layer probes for the traced run.

Every probe times or counts calls into one module of ``probe_spark`` from
here; nothing inside the package is changed.  Each probe runs on the
run's own corpus sample, index and query stream, so both workloads report
every layer metric.  README.md maps each metric to the end-to-end metric
it should move.
"""

from __future__ import annotations

import os
import time

import numpy as np

import lanes
import stream
from lanes import median, percentile
from sparkstat import SparkCounter

# bounded work per probe
CODEC_SEGMENTS = 400
PARSE_QUERIES = 2000
LOCAL_QUERIES = 600
METADATA_QUERIES = 100
REPLICA_PROBE_S = 3.0


def _repeat_rate(fn, units: int, min_s: float = 0.3) -> float:
    """``units`` per second of ``fn()``, repeated for at least ``min_s``."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return units * n / dt


def tokenizer_layer(sample: list[str]) -> dict:
    """Single-process ``tokenize_batch`` over the fixed corpus sample, after
    one untimed pass (the per-word memos stay warm, as in a long-lived
    build worker)."""
    import pandas as pd

    from probe_spark.functions import tokenizer

    texts = pd.Series(sample)
    tokenizer.tokenize_batch(texts)

    rates = [
        _repeat_rate(lambda: tokenizer.tokenize_batch(texts), len(sample))
        for _ in range(3)
    ]
    return {"functions.tokenizer.turns_per_s": median(rates)}


def index_layers(index: str) -> dict:
    """Codec speed over the index's largest segments, segment layout and
    on-disk bytes."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from probe_spark.index.codec import decode_postings, encode_postings

    seg = ds.dataset(
        os.path.join(index, "postings"), format="parquet", partitioning="hive"
    ).to_table(
        columns=["term", "df_seg", "docs_bin", "dl_bin"],
        filter=ds.field("kind") == "tok",
    )
    n_terms = len(pc.unique(seg["term"]))
    top = seg.take(pc.sort_indices(seg, [("df_seg", "descending"), ("term", "ascending")])[:CODEC_SEGMENTS])
    bins = list(zip(top["docs_bin"].to_pylist(), top["dl_bin"].to_pylist()))
    arrays = [decode_postings(d, l) for d, l in bins]
    n_post = int(sum(len(a[0]) for a in arrays))

    def dec():
        for d, l in bins:
            decode_postings(d, l)

    def enc():
        for ids, dls in arrays:
            encode_postings(ids, dls)

    return {
        "index.codec.encode_postings_per_s": _repeat_rate(enc, n_post),
        "index.codec.decode_postings_per_s": _repeat_rate(dec, n_post),
        "index.bytes.postings": float(lanes.dir_bytes(os.path.join(index, "postings"))),
        "index.bytes.docs": float(lanes.dir_bytes(os.path.join(index, "docs"))),
        "index.segments_per_term": seg.num_rows / max(1, n_terms),
    }


def parser_layer(queries: list[tuple[str, int]]) -> dict:
    from probe_spark.query.parser import ParseError, parse_query

    per = []
    for q, _k in queries[:PARSE_QUERIES]:
        t0 = time.perf_counter()
        try:
            parse_query(q)
        except ParseError:
            pass
        per.append(time.perf_counter() - t0)
    return {"query.parser.parse_us": median(per) * 1e6}


def local_layers(index: str, queries: list, warm: list) -> dict:
    """In-process ``LocalSearcher`` over the stream, with its postings
    fetches counted through a wrapper on the instance."""
    from probe_spark.search.local import LocalSearcher

    ls = LocalSearcher(index)
    inner = ls._postings
    st = {"calls": 0, "hits": 0, "postings": 0, "keys": set()}

    def counted(kind, term):
        st["calls"] += 1
        st["hits"] += (kind, term) in ls._postings_cache
        st["keys"].add((kind, term))
        ids, dls = inner(kind, term)
        st["postings"] += len(ids)
        return ids, dls

    ls._postings = counted
    for q, k in warm:
        ls.search(q, k=k)
    st.update(calls=0, hits=0, postings=0, keys=set())
    lat, rows = [], 0
    for q, k in queries[:LOCAL_QUERIES]:
        t0 = time.perf_counter()
        rows += len(ls.search(q, k=k))
        lat.append(time.perf_counter() - t0)
    # paired: postings are cached by an untimed call first, so the
    # difference is the winner-metadata fetch alone
    meta = []
    for q, k in queries[:METADATA_QUERIES]:
        ls.search(q, k=k, with_metadata=False)
        t0 = time.perf_counter()
        ls.search(q, k=k, with_metadata=False)
        t1 = time.perf_counter()
        ls.search(q, k=k, with_metadata=True)
        meta.append((time.perf_counter() - t1) - (t1 - t0))
    return {
        "search.local.search_ms_p50": median(lat) * 1e3,
        "search.local.search_ms_p99": percentile(lat, 99) * 1e3,
        "search.local.metadata_ms_p50": median(meta) * 1e3,
        "search.local.postings_per_result": st["postings"] / max(1, rows),
        "search.local.distinct_terms_per_cache_cap": len(st["keys"]) / ls._postings_cache_cap,
        "search.local.postings_cache_hit_pct": 100.0 * st["hits"] / max(1, st["calls"]),
    }


def engine_layers(spark, engine) -> dict:
    """The reference suite through ``SearchEngine.search`` one query at a
    time, each in its own job group, then once as one ``search_batch``."""
    counter = SparkCounter(spark)
    per = []
    for q, k in lanes.REFERENCE_QK:
        tok = counter.start(q)
        t0 = time.perf_counter()
        engine.search(q, k=k).collect()
        wall = time.perf_counter() - t0
        per.append(counter.finish(tok) | {"wall_s": wall})
    n = len(per)
    t0 = time.perf_counter()
    engine.search_batch(
        [q for q, _k in lanes.REFERENCE_QK], k=[k for _q, k in lanes.REFERENCE_QK]
    ).collect()
    batch_s = time.perf_counter() - t0
    return {
        "search.engine.query_ms_p50": median([p["wall_s"] for p in per]) * 1e3,
        "search.engine.spark_jobs_per_query": sum(p["jobs"] for p in per) / n,
        "search.engine.spark_stages_per_query": sum(p["stages"] for p in per) / n,
        "search.engine.spark_tasks_per_query": sum(p["tasks"] for p in per) / n,
        "search.engine.plan_ms_p50": median([p["plan_ms"] for p in per if p["plan_ms"] is not None] or [0.0]),
        "search.engine.batch_suite_s": batch_s,
    }


def replica_layers(local_p50_ms: float, serve_loop: dict) -> dict:
    rss = serve_loop["rss_mb"]
    return {
        "search.replicas.overhead_ms_p50": serve_loop["p50_ms"] - local_p50_ms,
        "search.replicas.rss_mb_per_replica": float(np.mean(rss)) if rss else 0.0,
        "search.replicas.spark_jobs": float(serve_loop["spark_jobs"]),
    }


def replica_probe(spark, index: str, queries: list, warm: list) -> dict:
    """A short replica loop for a workload whose own loop does not serve."""
    import workloads

    _engine, svc = workloads.serve_lane(spark, index, warm)
    try:
        loop, jobs, _count_pct = workloads.replica_loop(
            svc, queries, REPLICA_PROBE_S, SparkCounter(spark)
        )
        rss = [workloads.procfs.rss_mb(p) for p in workloads.replica_pids()]
    finally:
        svc.close()
    return {"p50_ms": median(loop.lats) * 1e3, "spark_jobs": jobs, "rss_mb": rss}


def probe_all(ctx, spark, sample: list[str], build_index: str, engine, read_index: str, serve_loop) -> dict:
    """Every layer probe: the tokenizer on ``sample``, the index layout and
    codec on ``build_index``, and the read path (parser, local searcher,
    replicas, ``engine``) on ``read_index``."""
    queries = stream.generate(max(PARSE_QUERIES, LOCAL_QUERIES), ctx.seed)
    warm = stream.generate(stream.WARM_LEN, ctx.seed, salt=1)
    out = tokenizer_layer(sample)
    out.update(index_layers(build_index))
    out.update(parser_layer(queries))
    out.update(local_layers(read_index, queries, warm))
    if serve_loop is None:
        serve_loop = replica_probe(spark, read_index, queries, warm)
    out.update(replica_layers(out["search.local.search_ms_p50"], serve_loop))
    out.update(engine_layers(spark, engine))
    return out
