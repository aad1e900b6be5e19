"""Driver-contract implementations: queries() + oracle_sql() bodies.

Each entry pairs a Spark DataFrame operator (the real engine / ops code) with
an independent ANSI-SQL oracle that DuckDB runs over the same parquet tables.
Column names and types match exactly; float columns are rounded to 6 dp on
both sides so IEEE noise (ln/sum ulp differences between engines) cannot
flip the value hash.

The BM25 entries run the full persisted-index path end-to-end: tokenizer
pandas UDF -> doc-id assignment -> varint posting segments -> bucket-pruned
fetch -> Arrow decode -> AST-compiled scoring -> top-k.  Their oracles
recompute BM25 from first principles in SQL, using the probe-tokenizer's
word->token mapping for this corpus's fixed 31-word vocabulary (inlined as a
CASE; pinned against the real tokenizer by tests/test_entry_contract.py).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from probe_spark.index.build import BuildConfig, IndexBuilder
from probe_spark.ops import dedup, events, similarity, text
from probe_spark.search.engine import SearchEngine

# probe tokenizer output for every word in the documents-table vocabulary
# that differs from the word itself (stemming); 'a'/'the' are stop words.
# Guarded by tests: tokenize(w) == [TOKEN_MAP.get(w, w)] for the vocab.
STEM_MAP = {
    "customer": "custom",
    "merge": "merg",
    "table": "tabl",
    "value": "valu",
    "query": "queri",
}
STOPWORDS_IN_CORPUS = ("a", "the")

K1, B = 1.5, 0.5

# --------------------------------------------------------------------------
# shared SQL fragments
# --------------------------------------------------------------------------

_CASE_TOK = (
    "CASE w "
    + " ".join(f"WHEN '{w}' THEN '{t}'" for w, t in STEM_MAP.items())
    + " ELSE w END"
)

_BM25_PRELUDE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), tok AS (
  SELECT DISTINCT doc_id, {_CASE_TOK} AS t
  FROM words WHERE w NOT IN ('a', 'the', '')
), dls AS (
  SELECT d.doc_id, COALESCE(x.dl, 0) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id) x
    ON d.doc_id = x.doc_id
), stats AS (
  SELECT COUNT(*)::DOUBLE AS n, AVG(dl)::DOUBLE AS avgdl FROM dls
)
"""

_SHINGLE_PRELUDE = """
WITH wordlists AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i+1:i+3], ' ') AS shingle
  FROM wordlists, UNNEST(range(0, greatest(len(ws)-3, 0)+1)) AS t(i)
  WHERE length(array_to_string(ws[i+1:i+3], ' ')) > 0
)
"""

# connected components over the ngram-jaccard near-dup pairs, as a DuckDB
# recursive CTE: walk(id, lab) = labels reachable from id; component id =
# MIN(lab).  Fine at oracle scale (sf0.01); the Spark side uses
# large-star/small-star which is the O(log n)-round form of the same fixpoint.
_CLUSTER_PRELUDE = _SHINGLE_PRELUDE.replace("WITH ", "WITH RECURSIVE ", 1) + """
, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
, inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
, pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE ROUND(c::DOUBLE / (sa.n + sb.n - c), 6) >= 0.8
)
, edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
)
, walk(id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.id, e.v FROM walk w JOIN edges e ON e.u = w.lab
)
, comp AS (SELECT id AS doc_id, MIN(lab) AS cluster_id FROM walk GROUP BY id)
"""


# degenerate-line variant (file_processing.rs:1090-1107): texts longer than
# 400 chars are blanked BEFORE tokenization, so they drop out of presence,
# DF, dl, and avgdl alike.  The corpus has no newlines, so whole-text
# blanking is exactly the reference's per-line rule.
_BM25_PRELUDE_BLANK400 = (
    "WITH blanked AS (\n"
    "  SELECT doc_id,\n"
    "         CASE WHEN length(text) > 400 THEN '' ELSE text END AS text\n"
    "  FROM documents\n"
    ")"
    + _BM25_PRELUDE.replace("WITH words AS", ", words AS").replace(
        "FROM documents", "FROM blanked"
    )
)


def _bm25_sql(
    tokens: list[str],
    filter_expr: str,
    score_terms: list[str],
    limit: "int | None" = None,
    prelude: str = _BM25_PRELUDE,
) -> str:
    """Assemble a BM25 oracle: presence flags + dfs + idf*tf_norm score.

    filter_expr / score_terms reference p_<tok> flags, idf via
    ln(1 + (n - df_<tok> + 0.5)/(df_<tok> + 0.5)) and tfn (shared).
    ``limit`` adds the engine's top-k ordering (raw score desc, doc_id
    asc) BEFORE rounding — the rank-identity shape of the topk oracles."""
    flags = ",\n         ".join(
        f"MAX(CASE WHEN tok.t = '{t}' THEN 1 ELSE 0 END) AS p_{t}" for t in tokens
    )
    dfs = ", ".join(f"SUM(p_{t}) AS df_{t}" for t in tokens)
    score = " + ".join(score_terms)
    order = (
        f"\n  ORDER BY score DESC, p.doc_id ASC\n  LIMIT {limit}"
        if limit
        else ""
    )
    return f"""{prelude}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         {flags}
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT {dfs} FROM pres
), scored AS (
  SELECT p.doc_id, {score} AS score
  FROM pres p, stats s, dfs d
  WHERE {filter_expr}{order}
)
SELECT doc_id, ROUND(score, 6) AS score FROM scored
"""


def _idf(t: str) -> str:
    return f"ln(1 + (s.n - d.df_{t} + 0.5)/(d.df_{t} + 0.5))"


def _contrib(t: str) -> str:
    tfn = f"({K1 + 1.0}/(1.0 + {K1}*({1.0 - B} + {B}*p.dl/s.avgdl)))"
    return f"(CASE WHEN p.p_{t} = 1 THEN {_idf(t)} * {tfn} ELSE 0.0 END)"


# --------------------------------------------------------------------------
# index bootstrap (documents -> transcript schema -> persisted index)
# --------------------------------------------------------------------------


def _docs_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the documents table onto the engine's transcript input schema.

    conv_id is the zero-padded doc id so the engine's stable
    (conv_id, turn_idx) ordering reproduces doc_id exactly — the per-row
    invariant the correctness gate rides on.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("lang").alias("role"),
        F.col("text"),
        F.col("source").alias("tool"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def index_path_for(sf_dir: str) -> str:
    from probe_spark.index.build import FORMAT_VERSION

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), f"probe_index_v{FORMAT_VERSION}_{key}"
    )


_ENGINES: dict[str, SearchEngine] = {}


def get_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Build-once (resume-aware) engine per sf_dir within this process."""
    path = index_path_for(sf_dir)
    if path not in _ENGINES:
        builder = IndexBuilder(spark, BuildConfig(n_buckets=8))
        builder.build(_docs_as_transcripts(spark, sf_dir), path)
        _ENGINES[path] = SearchEngine(spark, path)
    return _ENGINES[path]


def _streamed_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Stream-built sibling of get_engine (§2.10): the same corpus arrives
    as TWO file waves through Structured Streaming (streaming.ingest
    foreachBatch delta builds), so the resulting index is grown
    incrementally, not batch-built.  Waves split the (conv_id, turn_idx)
    global order prefix/suffix, so streamed docIDs reproduce the batch
    build's exactly — which is what lets the driver compare this engine
    against the ordinary batch SQL oracle (stream==batch parity IS the
    check; no rows-only weakening)."""
    path = index_path_for(sf_dir) + "_stream"
    if path in _ENGINES:
        return _ENGINES[path]
    marker = os.path.join(path, "_STREAM_DONE")
    if not os.path.exists(marker):
        import glob as _glob
        import shutil

        from probe_spark.streaming.ingest import stream_index

        src = path + "_src"
        ckpt = path + "_ckpt"
        for d in (path, src, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(src)
        t = _docs_as_transcripts(spark, sf_dir).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        n = t.count()
        cut = F.lpad(F.lit(str(n // 2)), 12, "0")

        def _emit_wave(df, i):
            tmp = f"{src}_w{i}"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            for j, f in enumerate(sorted(_glob.glob(f"{tmp}/part-*.parquet"))):
                shutil.copy(f, os.path.join(src, f"wave{i}_{j}.parquet"))
            shutil.rmtree(tmp)

        _emit_wave(t.filter(F.col("conv_id") < cut), 0)
        q = stream_index(spark, src, path, ckpt, BuildConfig(n_buckets=8))
        try:
            q.processAllAvailable()
            _emit_wave(t.filter(F.col("conv_id") >= cut), 1)
            q.processAllAvailable()
        finally:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        with open(marker, "w") as fh:
            fh.write(str(n))
    _ENGINES[path] = SearchEngine(spark, path)
    return _ENGINES[path]


def _search(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Full result set (no top-k cutoff: the driver's compare is
    order-insensitive, and no cutoff means float ties can't flip membership),
    scores rounded to 6 dp."""
    eng = get_engine(spark, sf_dir)
    res = eng.search(query, k=None, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


# --------------------------------------------------------------------------
# the queries
# --------------------------------------------------------------------------


def _q_bm25_or(spark, sf_dir):
    return _search(spark, sf_dir, "hash OR join")


def _q_bm25_and(spark, sf_dir):
    return _search(spark, sf_dir, "hash AND join")


def _q_multi_query_combine(spark, sf_dir):
    """Multi-query combine (§2.8): several CLI query strings join with
    " AND " before parsing (cli.combine_queries, search_runner.rs:358-364).
    Exercised through the library surface — search(combine_queries(
    ["scan", "agg"])) must score exactly like the single conjunctive
    query, which the DuckDB oracle computes directly."""
    from probe_spark.cli import combine_queries

    return _search(spark, sf_dir, combine_queries(["scan", "agg"]))


def _q_bm25_implicit_or(spark, sf_dir):
    return _search(spark, sf_dir, "table query sort fast")


def _q_bm25_required(spark, sf_dir):
    return _search(spark, sf_dir, "+hash join")


def _q_bm25_excluded(spark, sf_dir):
    return _search(spark, sf_dir, "hash -dup")


def _q_bm25_grouped(spark, sf_dir):
    return _search(spark, sf_dir, "(hash OR join) AND (scan OR merge)")


def _tomb_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Own index dir (deletes mutate it): build, then tombstone every
    source='src7' doc (index/maintenance.delete_where — a metadata write,
    no rewrite).  Idempotent across driver runs: the build resumes and
    re-deletes dedupe at read time."""
    from probe_spark.index.maintenance import delete_where

    path = index_path_for(sf_dir) + "_tomb"
    if path not in _ENGINES:
        builder = IndexBuilder(spark, BuildConfig(n_buckets=8))
        builder.build(_docs_as_transcripts(spark, sf_dir), path)
        delete_where(spark, path, "tool = 'src7'")
        _ENGINES[path] = SearchEngine(spark, path)
    return _ENGINES[path]


def _vac_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Own index dir: build, tombstone source='src7', then VACUUM — the
    folded index must be rank-identical to a fresh build over the
    surviving corpus, which is exactly what the oracle computes.
    Idempotent: on an already-vacuumed dir the delete matches nothing
    and the vacuum no-ops."""
    from probe_spark.index.maintenance import delete_where, vacuum

    path = index_path_for(sf_dir) + "_vac"
    if path not in _ENGINES:
        builder = IndexBuilder(spark, BuildConfig(n_buckets=8))
        builder.build(_docs_as_transcripts(spark, sf_dir), path)
        if delete_where(spark, path, "tool = 'src7'"):
            vacuum(spark, path)
        _ENGINES[path] = SearchEngine(spark, path)
    return _ENGINES[path]


def _q_deleted_masked(spark, sf_dir):
    """Tombstoned index, pre-vacuum: deleted docs never surface while
    survivor scores keep CORPUS-AS-BUILT statistics (Lucene deleted-docs
    semantics) — the oracle scores with full-corpus df/avgdl and cuts the
    deleted docs from the candidate set only."""
    eng = _tomb_engine(spark, sf_dir)
    res = eng.search("hash OR join", k=None, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_vacuumed_index(spark, sf_dir):
    """Post-vacuum: stats recomputed over survivors, segments re-encoded
    — rank- and score-identical to a fresh build over the surviving
    corpus (the oracle computes BM25 wholly over the kept docs)."""
    eng = _vac_engine(spark, sf_dir)
    res = eng.search("hash OR join", k=None, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_percolate(spark, sf_dir):
    """Standing queries (streaming/percolate.py): every (query, matching
    turn) pair with the engine's sorted matched_terms — the percolator /
    alerting primitive, exact boolean semantics, no corpus stats.
    matched_terms is emitted comma-joined (the driver's canonicalizer
    sorts columns in pandas, where raw lists are unhashable)."""
    from probe_spark.streaming.percolate import percolate

    t = _docs_as_transcripts(spark, sf_dir)
    m = percolate(
        t,
        {
            "pq1": "hash AND join",
            "pq2": "scan -merge",
            "pq3": "+filter group",
        },
    )
    return m.select(
        "query_id",
        "conv_id",
        F.array_join("matched_terms", ",").alias("matched"),
    )


def _q_files_only(spark, sf_dir):
    """Files-only mode (reference -f, search_runner.rs:699-740): distinct
    matched conversations, no ranking/content, max_results applied after
    the conv_id-ascending determinization."""
    eng = get_engine(spark, sf_dir)
    return eng.search_files("hash OR join", max_results=200)


def _q_scoped_search(spark, sf_dir):
    """Metadata-scoped search (engine ``where=``): only docs matching a
    SQL predicate over the metadata columns may qualify, filtered BEFORE
    top-k while idf/avgdl stay corpus-global (filter context).  The
    predicate resolves to a driver-resident allowed-id set and rides the
    doc-range path with whole-range pruning (engine._allowed_ids /
    search/ranged.py allow_ids).  In the docs-as-transcripts mapping,
    role carries lang and tool carries source."""
    eng = get_engine(spark, sf_dir)
    res = eng.search(
        "hash OR join",
        k=40,
        with_metadata=False,
        where="role IN ('en', 'de') AND tool <> 'src7'",
    )
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_exact_term(spark, sf_dir):
    return _search(spark, sf_dir, '"filter"')


def _q_term_df(spark, sf_dir):
    """DF per term straight from posting-segment metadata (no decode)."""
    eng = get_engine(spark, sf_dir)
    return (
        eng.postings.groupBy("term")
        .agg(F.sum("df_seg").alias("df"))
        .select("term", "df")
    )


def _q_doc_lengths(spark, sf_dir):
    eng = get_engine(spark, sf_dir)
    return eng.docs.select("doc_id", "dl")


def _q_exact_scan(spark, sf_dir):
    """--exact bypass (elastic_query.rs:892-904): substring filter, no
    scoring; pushed down to the parquet scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.filter(F.col("text").contains("slow scan")).select(
        "doc_id", "n_chars"
    )


def _q_dedup_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.exact_dedup(docs)


def _q_ngram_jaccard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8)


def _q_minhash_lsh(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_lsh_pairs(docs, k=3, n_hashes=8, band_size=2)


def _q_dup_clusters(spark, sf_dir):
    """Near-dup pairs -> connected components (large-star/small-star):
    every doc labeled with its duplicate-cluster id (= min doc_id in the
    component; docs with no near-dup are their own singleton cluster)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8)
    return dedup.duplicate_clusters(
        pairs, nodes=docs.select(F.col("doc_id").alias("id"))
    ).select(F.col("id").alias("doc_id"), "cluster_id")


def _q_dedup_survivors(spark, sf_dir):
    """One survivor per duplicate cluster: highest quality_score, ties to
    the smallest doc_id — the keep/drop decision of a dedup pipeline."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8)
    clusters = dedup.duplicate_clusters(
        pairs, nodes=docs.select(F.col("doc_id").alias("id"))
    )
    qual = text.with_quality(docs).select("doc_id", "quality_score")
    return dedup.cluster_survivors(qual, clusters)


def _q_token_counts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.with_token_counts(docs).select("doc_id", "ws_tokens", "bpe_tokens")


def _q_chunked_docs(spark, sf_dir):
    """Context-window chunking (training-data prep): documents split into
    overlapping whitespace-token windows, one training example per row —
    a map-only row-expanding projection (posexplode(sequence) + slice),
    no shuffle, no UDF."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.chunk_documents(
        docs.select("doc_id", "text"), window=16, stride=8
    )


def _q_training_examples(spark, sf_dir):
    """Composed training-data pipeline (ops/pipeline.py): exact-dedup ->
    quality-filter -> context-window chunking -> per-chunk BPE counts as
    ONE declarative job (one shuffle: the dedup window; every other
    stage fuses into the scan/expand projections).  The oracle composes
    the same four stages in SQL — end-to-end value identity, not just
    per-stage."""
    from probe_spark.ops.pipeline import training_examples

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return training_examples(docs, min_quality=0.55, window=16, stride=8)


def _q_packed_examples(spark, sf_dir):
    """Sequence packing on top of the composed pipeline: chunks fold
    into per-document packs under a token budget via one id-partitioned
    window cumsum (exclusive-prefix boundary rule — deterministic,
    embarrassingly parallel, no global ordering)."""
    from probe_spark.ops.pipeline import pack_examples, training_examples

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = training_examples(docs, min_quality=0.55, window=16, stride=8)
    return pack_examples(chunks, budget=48).select(
        "doc_id", "chunk_idx", "bpe_tokens", "pack_tokens_before",
        "pack_idx",
    )


def _q_training_shards(spark, sf_dir):
    """Deterministic training shuffle + shard assignment
    (ops/pipeline.shuffle_for_training) over the composed pipeline's
    examples: shard = md5-hash mod n, shard_pos = rank within shard —
    both replayed bit-for-bit by the oracle."""
    from probe_spark.ops.pipeline import shuffle_for_training, training_examples

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ex = training_examples(docs, min_quality=0.55, window=16, stride=8)
    return shuffle_for_training(ex, n_shards=4).select(
        "doc_id", "chunk_idx", "shard", "shard_pos"
    )


def _q_quality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.with_quality(docs).select(
        "doc_id", "n_words", "mean_word_len", "stopword_ratio",
        "alpha_ratio", "quality_score",
    )


def _q_fingerprint(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.with_fingerprint(docs).select("doc_id", "fingerprint")


def _q_ann_cosine(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.cosine_to_query(emb, qvec).select(
        F.col("id").alias("vec_id"), "cos_sim"
    )


def _q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN scale path (brief): candidates = the query's
    sign-bit bucket only (multiprobe=0 keeps the probe set margin-free,
    so the DuckDB oracle can mirror it exactly), cosine top-k within."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.lsh_topk(
        emb, qvec, k=25, n_planes=8, multiprobe=0
    ).select(F.col("id").alias("vec_id"), "cos_sim")


def _q_ann_ivf(spark, sf_dir):
    """IVF-flat ANN scale path: deterministic coarse quantizer assigns each
    vector to its argmax-dot cell; the query scans only its n_probe nearest
    cells.  Candidate pruning + exact cosine within, same shape a trained
    quantizer would use (ops.similarity.ivf_topk)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.ivf_topk(
        emb, qvec, k=25, n_cells=16, n_probe=4
    ).select(F.col("id").alias("vec_id"), "cos_sim")


def _q_ann_knn_join(spark, sf_dir):
    """Batched ANN (ops/similarity.knn_join): a BATCH of query vectors
    (every 100th embedding) against the IVF cell-pruned candidates in ONE
    job — per-query probe sets computed executor-side, the probed-cell
    union partition-prunes the scan, candidates ⋈ broadcast(queries) on
    cell, per-query exact top-k.  The search_batch analog for vectors."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.knn_join(
        queries, emb, k=10, n_cells=16, n_probe=4
    )


def _q_sessionize(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = events.sessionize(ev, gap_minutes=30)
    return out.select(
        "user_id", "session_id", "n_events",
        events.epoch_micros(out, "session_start").alias("session_start_us"),
        events.epoch_micros(out, "session_end").alias("session_end_us"),
        "sum_value",
    )


def _q_windowed_counts(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            (events.epoch_micros(ev, "ts") / F.lit(3_600_000_000))
            .cast("long")
            .alias("hour_bucket"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def _q_streaming_windows(spark, sf_dir):
    """Streaming windowed aggregation (§2.10, the last pytest-only piece
    promoted to a driver entry): the events table arrives as TWO
    Structured Streaming micro-batches through a file source, aggregated
    by streaming/aggregates.windowed_event_counts (tumbling 1h windows,
    10-minute watermark, state carried across batches) in APPEND mode —
    the production shape where a window emits exactly once, only after
    the watermark passes it.  A third micro-batch carries one flush
    sentinel 2h past max(ts), pushing the watermark beyond every real
    window so all of them finalize; the sentinel's own window never
    emits.  The streamed result must equal the batch SQL oracle exactly
    (stream==batch parity, driver-verified)."""
    import glob as _glob
    import shutil

    from probe_spark.streaming.aggregates import windowed_event_counts

    qname = "probe_swin_" + hashlib.md5(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:12]
    if not any(t.name == qname for t in spark.catalog.listTables()):
        base = os.path.join(tempfile.gettempdir(), qname)
        src, ckpt = base + "_src", base + "_ckpt"
        for d in (src, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(src)
        # withWatermark rejects TIMESTAMP_NTZ (what this parquet reads as),
        # so build an LTZ timestamp whose UTC instant equals the naive face
        # value (naive == UTC, DuckDB's convention): window() boundaries are
        # computed on UTC epoch micros, so the hour floor matches the
        # oracle's epoch_us floor regardless of session timezone.
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        ev = raw.select(
            "event_id",
            F.timestamp_micros(events.epoch_micros(raw, "ts")).alias("ts"),
            "event_type",
            "value",
        )
        mid, hi = ev.agg(
            F.expr("percentile_approx(event_id, 0.5)"), F.max("ts")
        ).first()

        def _emit_wave(df, i):
            tmp = f"{src}_w{i}"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            for j, f in enumerate(sorted(_glob.glob(f"{tmp}/part-*.parquet"))):
                shutil.copy(f, os.path.join(src, f"wave{i}_{j}.parquet"))
            shutil.rmtree(tmp)

        _emit_wave(ev.filter(F.col("event_id") <= mid), 0)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = windowed_event_counts(
            stream, window="1 hour", watermark="10 minutes"
        )
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            _emit_wave(ev.filter(F.col("event_id") > mid), 1)
            q.processAllAvailable()
            hi_ntz = F.to_timestamp(
                F.lit(hi.strftime("%Y-%m-%d %H:%M:%S.%f"))
            )
            flush = spark.createDataFrame(
                [(-1, "__flush__", 0.0)],
                "event_id long, event_type string, value double",
            ).select(
                "event_id",
                (hi_ntz + F.expr("INTERVAL 2 HOURS")).alias("ts"),
                "event_type",
                "value",
            )
            _emit_wave(flush, 2)
            q.processAllAvailable()
        finally:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
    res = spark.table(qname).filter(F.col("event_type") != "__flush__")
    return res.select(
        events.epoch_micros(res, "window_start").alias("window_start_us"),
        "event_type", "n_events", "sum_value",
    )


def _q_bm25_topk_wand(spark, sf_dir):
    """Top-k of a pure disjunction of single-keyword terms, the shape the
    block-max WAND route served until it was deleted; it now takes the
    doc-range route.  The entry keeps its name so results stay comparable
    across rounds.  The oracle is the naive full-scoring SQL + LIMIT, so
    the driver compare IS the rank-identity check."""
    eng = get_engine(spark, sf_dir)
    res = eng.search("hash OR join", k=50, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_batch(spark, sf_dir):
    """Batched multi-query retrieval (engine.search_batch): three query
    shapes (disjunctive, required, conjunctive) share ONE postings
    exchange + Arrow stage — the offline bulk-retrieval amortization
    (training-data mining at 10^12 turns decodes each segment once for
    thousands of queries, not once per query).  Per-query results are
    rank/score-identical to search(), so comparing against three
    independent top-k oracles checks the sharing didn't leak state
    between queries."""
    eng = get_engine(spark, sf_dir)
    res = eng.search_batch(
        ["hash OR join", "+hash join", "hash AND scan"],
        k=25,
        with_metadata=False,
    )
    return res.select(
        "query_idx", "doc_id", F.round("score", 6).alias("score")
    )


def _q_streaming_index(spark, sf_dir):
    """Streaming ingest (§2.10, beyond-reference): the corpus arrives as
    two Structured Streaming micro-batches (foreachBatch delta builds into
    one index dir); a BM25 query over the STREAMED index must match the
    batch oracle SQL exactly — the stream==batch parity the pytest suite
    pins, promoted to a driver-verified entry."""
    eng = _streamed_engine(spark, sf_dir)
    res = eng.search("+vector slow", k=None, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_degenerate_lines(spark, sf_dir):
    """Degenerate-line filter (§2.2, file_processing.rs:1090-1107): turns
    longer than 400 chars are blanked before tokenization (minified blobs /
    base64 walls never pollute the index) — they vanish from candidates,
    DF, dl, and avgdl alike.  The index is built with blank_lines_over=400
    (~10% of the sf0.01 corpus blanks); the oracle blanks the same texts
    in SQL before the shared scoring body."""
    path = index_path_for(sf_dir) + "_blank400"
    if path not in _ENGINES:
        builder = IndexBuilder(
            spark, BuildConfig(n_buckets=8, blank_lines_over=400)
        )
        builder.build(_docs_as_transcripts(spark, sf_dir), path)
        _ENGINES[path] = SearchEngine(spark, path)
    res = _ENGINES[path].search("group spark", k=None, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_compacted_index(spark, sf_dir):
    """Streamed-then-compacted index (§2.10): the streamed index's many
    per-batch segments collapse back into the batch layout via
    StreamingIndexer.compact() (the batch merge re-run over docs/, no
    re-tokenization), and the same batch oracle SQL must still hold —
    compaction is invisible to query results."""
    import shutil

    from probe_spark.streaming.ingest import StreamingIndexer

    _streamed_engine(spark, sf_dir)  # ensure the streamed index exists
    path = index_path_for(sf_dir) + "_compacted"
    if path not in _ENGINES:
        marker = os.path.join(path, "_COMPACT_DONE")
        if not os.path.exists(marker):
            shutil.rmtree(path, ignore_errors=True)
            shutil.copytree(index_path_for(sf_dir) + "_stream", path)
            os.remove(os.path.join(path, "_STREAM_DONE"))
            StreamingIndexer(spark, path, BuildConfig(n_buckets=8)).compact()
            with open(marker, "w") as fh:
                fh.write("ok")
        _ENGINES[path] = SearchEngine(spark, path)
    res = _ENGINES[path].search("big OR line", k=None, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_topk_ranged(spark, sf_dir):
    """Top-k through the doc-range-partitioned path (search/ranged.py):
    a boolean query with a stable excluded special is not a single
    keyword and not a single conjunctive Term, so with k given it takes
    the one-exchange ranged fan-out.  The oracle is the naive
    full-scoring SQL + the engine's ordering + LIMIT, so the driver
    compare IS the ranged path's rank-identity check."""
    eng = get_engine(spark, sf_dir)
    res = eng.search("hash -dup", k=50, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_topk_local(spark, sf_dir):
    """Top-k through the driver-local front-end (search/local.py — pyarrow
    segment reads + numpy scoring, no Spark jobs), lifted into a DataFrame
    so the driver's DuckDB compare pins the local path's rank-identity
    against the same naive full-scoring oracle as ``bm25_topk_wand``."""
    from probe_spark.search.local import LocalSearcher

    get_engine(spark, sf_dir)  # ensure the index exists on disk
    rows = LocalSearcher(index_path_for(sf_dir)).search(
        "hash OR join", k=50, with_metadata=False
    )
    return spark.createDataFrame(
        [(r["doc_id"], round(r["score"], 6)) for r in rows],
        "doc_id long, score double",
    )


def _q_rerank_overlap(spark, sf_dir):
    """Two-stage retrieve-then-rerank (the reference's optional
    cross-encoder reranker shape, result_ranking.rs:368-470): BM25
    top-50 for "hash OR join" re-ordered by the deterministic
    query-coverage scorer (search/rerank.py) — docs matching BOTH wanted
    keywords outrank single-keyword docs regardless of BM25 magnitude.
    Fully SQL-expressible, so the driver compare pins the whole
    two-stage pipeline including the candidate boundary."""
    from probe_spark.search.rerank import rerank

    eng = get_engine(spark, sf_dir)
    return rerank(eng, "hash OR join", k=20, n_candidates=50)


def _q_boosted_search(spark, sf_dir):
    """Metadata-boosted top-k — the node-type boost analog
    (result_ranking.rs:185-326: BM25 * per-node-type factor, re-sort,
    original BM25 kept).  The documents corpus maps lang->role, so the
    boost table keys on the lang values; unknown roles ride the 1.0
    default arm exactly like the reference's catch-all."""
    from probe_spark.search.rerank import boost

    eng = get_engine(spark, sf_dir)
    return boost(
        eng, "hash OR join", k=20, n_candidates=50,
        role_boosts={"en": 1.5, "zh": 1.2, "de": 0.8},
    )


def _q_limited_search(spark, sf_dir):
    """apply_limits (search_limiter.rs semantics): rank-ordered greedy
    byte-budget prefix over the scored result set."""
    from probe_spark.search.limiter import apply_limits

    eng = get_engine(spark, sf_dir)
    res = eng.search("hash", k=None, with_metadata=False)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    joined = res.join(docs, "doc_id")
    out = apply_limits(joined, max_bytes=20_000)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _q_simhash(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash_64(docs)


def _q_lang_id(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.with_lang_id(docs).select("doc_id", "lang_pred", "lang_score")


def _q_embedding_dup(spark, sf_dir):
    """Bucketed near-dup path (the 100 TB shape): candidates restricted to
    equal LSH sign-bit buckets before the pair join — no cartesian
    anywhere; the oracle mirrors the bucketing with the same seeded
    hyperplanes.  (The exact all-pairs parameterization stays the pytest
    verifier.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_dup_pairs(emb, threshold=0.25, n_planes=4)


def _q_session_page2(spark, sf_dir):
    """Early session-cache filtering (cache.rs:392-541): the first page's
    doc ids are excluded BEFORE top-k, so the second query returns exactly
    the NEXT k results — the oracle is the same ranking at OFFSET k."""
    eng = get_engine(spark, sf_dir)
    first = eng.search("hash OR join", k=25, with_metadata=False)
    second = eng.search(
        "hash OR join",
        k=25,
        with_metadata=False,
        exclude=first.select("doc_id"),
    )
    return second.select("doc_id", F.round("score", 6).alias("score"))


def _q_merged_turns(spark, sf_dir):
    """Adjacent-turn merging (block_merging.rs analog): documents mapped
    onto synthetic conversations (8 turns per conv), a sparse 'result set'
    merged into spans with gap threshold 2."""
    from probe_spark.search.merging import merge_adjacent_turns

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        (F.col("doc_id") % 97).cast("double").alias("score"),
        F.floor(F.col("doc_id") / 8).cast("long").alias("conv_id"),
        (F.col("doc_id") % 8).cast("int").alias("turn_idx"),
        "text",
    )
    merged = merge_adjacent_turns(res, threshold=2)
    return merged.select(
        "conv_id",
        "turn_lo",
        "turn_hi",
        "n_turns",
        F.round("score", 6).alias("score"),
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
    )


def _q_lang_scan(spark, sf_dir):
    """Language/metadata-filtered scan (file_list_cache.rs:462-540 analog):
    predicates pushed to the parquet scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.filter(
        (F.col("lang") == "en") & (F.col("source") == "src7")
    ).select("doc_id", "lang", "source", "n_chars")


def _q_metadata_match(spark, sf_dir):
    """Filename-match analog (file_list_cache.rs:357-457): 'src15' expands
    to keywords (src, 15); every doc's tool matches 'src' and the src15
    docs also match '15', so the src15 term credits exactly source='src15'
    docs; 'hash' ranks normally from the text index."""
    eng = get_engine(spark, sf_dir)
    res = eng.search(
        "src15 OR hash", k=None, with_metadata=False, match_metadata=True
    )
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_matched_terms(spark, sf_dir):
    """matched_terms in the result schema (file_processing.rs:1447-1488):
    sorted-deduped matched query keywords per doc, canonicalized to a
    comma-joined string for the comparator."""
    eng = get_engine(spark, sf_dir)
    res = eng.search("hash join", k=None, with_metadata=True)
    return res.select(
        "doc_id",
        F.round("score", 6).alias("score"),
        F.concat_ws(",", "matched_terms").alias("matched"),
    )


def _q_image_meta(spark, sf_dir):
    """Multimodal plumbing on a real binary column (deterministically
    synthesized from text — no external data): decode-or-error feature
    extraction via mapInPandas."""
    from probe_spark.ops import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("sample_id"),
        F.encode(F.col("text"), "UTF-8").alias("image"),
    )
    return multimodal.image_features(docs).select(
        "sample_id", "width", "height", "n_bytes", "phash", "status"
    )


def _q_image_resize(spark, sf_dir):
    """Multimodal resize path (mean-pool fold to a fixed 8x8 grayscale
    array).  The contract emits one (sample_id, px_idx, px) row per pixel —
    posexplode canonicalizes the array for the driver's comparator while
    the library API keeps returning the array column; the DuckDB oracle
    recomputes the fold from the payload bytes via hex-pair extraction."""
    from probe_spark.ops import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("sample_id"),
        F.encode(F.col("text"), "UTF-8").alias("image"),
    )
    out = multimodal.image_resize(docs, out_w=8, out_h=8)
    return out.select(
        "sample_id", F.posexplode("pixels").alias("px_idx", "_px")
    ).select("sample_id", "px_idx", F.round("_px", 6).alias("px"))


def _q_audio_meta(spark, sf_dir):
    """Multimodal audio path (int16-PCM fake decode -> duration/RMS/zero
    crossings); the DuckDB oracle recomputes the PCM math from the payload
    bytes via hex-pair extraction + list comprehensions."""
    from probe_spark.ops import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("sample_id"),
        F.encode(F.col("text"), "UTF-8").alias("audio"),
    )
    return multimodal.audio_features(docs).select(
        "sample_id",
        "n_bytes",
        F.round("duration_ms", 6).alias("duration_ms"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        "status",
    )


def _q_video_frames(spark, sf_dir):
    """Row-expanding multimodal path (ops/multimodal.frame_sample): one
    video -> n_frames feature rows via mapInPandas.  The strided-slice +
    mean-pool fold is f32-integer-exact (byte values <= 255, sums < 2^24),
    so the DuckDB oracle recomputes it from the payload's hex pairs and
    mirrors the final float32 division with CAST(... AS REAL); posexplode
    canonicalizes the array column for the driver's comparator."""
    from probe_spark.ops import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("sample_id"),
        F.encode(F.col("text"), "UTF-8").alias("video"),
    )
    out = multimodal.frame_sample(docs, n_frames=4, feat_dim=8)
    return out.select(
        "sample_id",
        "frame_idx",
        F.posexplode("frame_feature").alias("feat_idx", "_v"),
    ).select(
        "sample_id",
        "frame_idx",
        "feat_idx",
        F.round(F.col("_v").cast("double"), 6).alias("v"),
    )


def _q_merged_index(spark, sf_dir):
    """Shard-merge (index/maintenance.merge_indexes — the Lucene
    addIndexes analog a 10^12-turn store runs daily): the corpus split
    into two conv-ordered halves, indexed separately, merged WITHOUT
    re-tokenizing (postings move once as encoded bytes; one leading
    varint + numeric doc metadata rewritten per segment).  BM25 over the
    merged index must equal the standard full-corpus oracle bit-for-bit —
    and still must after compact_index defragments the merged segments
    (byte-splice forceMerge)."""
    import shutil

    from probe_spark.index.maintenance import compact_index, merge_indexes

    base = index_path_for(sf_dir)
    pm = base + "_merged"
    if pm not in _ENGINES:
        marker = os.path.join(pm, "_MERGE_DONE")
        if not os.path.exists(marker):
            t = _docs_as_transcripts(spark, sf_dir)
            n = t.count()
            cut = F.lpad(F.lit(str(n // 2)), 12, "0")
            pa_, pb = base + "_half_a", base + "_half_b"
            for d in (pa_, pb, pm):
                shutil.rmtree(d, ignore_errors=True)
            builder = IndexBuilder(spark, BuildConfig(n_buckets=8))
            builder.build(t.filter(F.col("conv_id") < cut), pa_)
            builder.build(t.filter(F.col("conv_id") >= cut), pb)
            merge_indexes(spark, pa_, pb, pm)
            compact_index(spark, pm)
            with open(marker, "w") as fh:
                fh.write("done")
        _ENGINES[pm] = SearchEngine(spark, pm)
    res = _ENGINES[pm].search("scan OR merge", k=None, with_metadata=False)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_decontaminate(spark, sf_dir):
    """Eval-set decontamination (ops/curation.decontaminate): distinct
    3-gram overlap between each training doc and a deterministic eval
    subset (doc_id % 11 == 0); the eval side is broadcast, the corpus side
    is one groupBy(doc) over matching shingles only."""
    from probe_spark.ops import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 11 == 0)
    return curation.decontaminate(docs, ev, k=3)


def _q_mixed_sources(spark, sf_dir):
    """Deterministic weighted source mixing (ops/curation.mix_sources):
    src0 upsampled 2.5x (epoch column), src1 downsampled to 0.4, src2 kept
    whole, everything else dropped; the keep/repeat decision is md5-hash
    based so the oracle replays it bit-for-bit."""
    from probe_spark.ops import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mixed = curation.mix_sources(
        docs, {"src0": 2.5, "src1": 0.4, "src2": 1.0}, default_weight=0.0
    )
    return mixed.select("doc_id", "source", "epoch")


def _q_pii_redacted(spark, sf_dir):
    """PII scrub (ops/curation.redact_pii) over text with deterministic
    synthetic PII appended (no external data): per-category counts on the
    original text + md5 of the redacted text."""
    from probe_spark.ops import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.com ip 10.0.3.7 ssn 123-45-6789 ph 555-123-4567"),
        ),
    )
    out = curation.redact_pii(docs)
    return out.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        F.md5(F.col("text_redacted")).alias("redacted_md5"),
    )


def _q_source_quota(spark, sf_dir):
    """Per-source quality quota (ops/curation.select_quota): top 5 docs of
    every source by the 6-dp-rounded quality score (id-asc tie-break) —
    one window shuffle."""
    from probe_spark.ops import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curation.select_quota(docs, n_per_source=5)


def _q_repetition(spark, sf_dir):
    """Gopher-style repetition features (ops/curation.with_repetition):
    per-row sorted-array run-length folds (codegen, no shuffle); the
    oracle recomputes the same ratios relationally."""
    from probe_spark.ops import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curation.with_repetition(docs).select(
        "doc_id",
        "distinct_word_ratio",
        "top_word_fraction",
        "top_bigram_fraction",
    )


def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality signal (ops/curation.train_bigram_lm +
    with_perplexity): add-1-smoothed bigram perplexity of every doc under
    a count LM trained on the corpus itself — exactly reproducible, so
    the oracle recomputes the whole model relationally."""
    from probe_spark.ops import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bi, uni, vocab = curation.train_bigram_lm(docs)
    return curation.with_perplexity(docs, bi, uni, vocab).select(
        "doc_id", "ppl"
    )


def _q_retrieval_metrics(spark, sf_dir):
    """IR-metrics evaluation (ops/evaluation.retrieval_metrics): a
    deterministic synthetic run (docs sharded into 10 queries, ranked by
    n_chars desc / id asc, top 20) scored against a deterministic gold
    subset — recall/MRR/NDCG per query, oracle recomputed relationally."""
    from pyspark.sql import Window

    from probe_spark.ops.evaluation import retrieval_metrics

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    run = (
        docs.select(
            (F.col("doc_id") % 10).alias("query_id"), "doc_id", "n_chars"
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
    )
    gold = docs.filter((F.floor(F.col("doc_id") / 10) % 3) == 0).select(
        (F.col("doc_id") % 10).alias("query_id"), "doc_id"
    )
    return retrieval_metrics(run, gold, k=20)


def _q_retrieval_summary(spark, sf_dir):
    """Macro-average of the IR metrics (ops/evaluation.summarize_metrics)
    over the same synthetic run/gold as `retrieval_metrics` — the one-row
    eval dashboard number."""
    from probe_spark.ops.evaluation import summarize_metrics

    return summarize_metrics(_q_retrieval_metrics(spark, sf_dir))


def _q_corpus_profile(spark, sf_dir):
    """Dataset-card profile (ops/curation.corpus_profile): one
    groupBy(source) with map-side partials over a four-column pruned
    scan."""
    from probe_spark.ops import curation

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curation.corpus_profile(docs)


# Entry order is a contract with the correctness driver: it verifies the
# FIRST 50 entries of this dict.  Round-4 rotation (VERDICT r3 #6): the
# 14 entries that sat outside round 3's window lead this round, followed
# by the new round-4 machinery, then the round-3-green entries most
# affected by this round's engine changes (dispatch, cache locking).
# The tail holds round-3 DRIVER-GREEN entries whose code paths are
# untouched this round — the union of the r03 and r04 driver rows covers
# every entry.
QUERIES = {
    # ---- round-3 tail, rotated into the window ----
    "bm25_implicit_or": _q_bm25_implicit_or,
    "bm25_grouped": _q_bm25_grouped,
    "bm25_exact_term": _q_bm25_exact_term,
    "multi_query_combine": _q_multi_query_combine,
    "session_page2": _q_session_page2,
    "ann_cosine": _q_ann_cosine,
    "chunked_docs": _q_chunked_docs,
    # round 5: token_counts rotated IN (ops/text.py token-counter change
    # rides the window); image_resize rotated to the tail (codecs
    # untouched since r3, r4-driver-green, pinned by CONTRACT_FULL.json)
    "token_counts": _q_token_counts,
    "video_frames": _q_video_frames,
    "bm25_topk_local": _q_bm25_topk_local,
    "lang_scan": _q_lang_scan,
    "windowed_counts": _q_windowed_counts,
    "doc_lengths": _q_doc_lengths,
    "retrieval_summary": _q_retrieval_summary,
    # ---- new in round 4 ----
    "ann_knn_join": _q_ann_knn_join,
    # ---- new in round 5 ----
    "rerank_overlap": _q_rerank_overlap,
    "boosted_search": _q_boosted_search,
    # ---- round-3-green, kept in-window (ride this round's changes) ----
    "bm25_or": _q_bm25_or,
    "bm25_and": _q_bm25_and,
    "bm25_required": _q_bm25_required,
    "bm25_excluded": _q_bm25_excluded,
    "term_df": _q_term_df,
    "exact_scan": _q_exact_scan,
    "ann_lsh": _q_ann_lsh,
    "ann_ivf": _q_ann_ivf,
    "bm25_topk_wand": _q_bm25_topk_wand,
    "bm25_batch": _q_bm25_batch,
    "streaming_index": _q_streaming_index,
    "compacted_index": _q_compacted_index,
    "degenerate_lines": _q_degenerate_lines,
    "bm25_topk_ranged": _q_bm25_topk_ranged,
    "limited_search": _q_limited_search,
    "embedding_dup": _q_embedding_dup,
    "image_meta": _q_image_meta,
    "audio_meta": _q_audio_meta,
    "merged_turns": _q_merged_turns,
    "metadata_match": _q_metadata_match,
    "bm25_matched_terms": _q_bm25_matched_terms,
    "files_only": _q_files_only,
    "scoped_search": _q_scoped_search,
    "deleted_masked": _q_deleted_masked,
    "vacuumed_index": _q_vacuumed_index,
    "percolate": _q_percolate,
    "merged_index": _q_merged_index,
    "decontaminate": _q_decontaminate,
    "training_examples": _q_training_examples,
    "packed_examples": _q_packed_examples,
    "training_shards": _q_training_shards,
    "lm_perplexity": _q_lm_perplexity,
    "retrieval_metrics": _q_retrieval_metrics,
    "corpus_profile": _q_corpus_profile,
    "streaming_windows": _q_streaming_windows,
    # ---- tail: round-3 DRIVER-GREEN (CORRECTNESS_r03), code untouched
    # this round; pytest + scripts/check_contract.py keep them pinned ----
    "dedup_exact": _q_dedup_exact,
    "ngram_jaccard": _q_ngram_jaccard,
    "minhash_lsh": _q_minhash_lsh,
    "dup_clusters": _q_dup_clusters,
    "dedup_survivors": _q_dedup_survivors,
    "image_resize": _q_image_resize,
    "quality": _q_quality,
    "fingerprint": _q_fingerprint,
    "sessionize": _q_sessionize,
    "simhash": _q_simhash,
    "lang_id": _q_lang_id,
    "mixed_sources": _q_mixed_sources,
    "pii_redacted": _q_pii_redacted,
    "source_quota": _q_source_quota,
    "repetition": _q_repetition,
}


def _shipped(fn):
    """Every contract query ships the package to executors first: entries
    backed by Python-worker ops (mapInPandas / pandas UDFs) must work in a
    FRESH session regardless of run order — without this, they only work
    if an engine/builder ctor (which ships the zip) happened to run first."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark, sf_dir):
        from probe_spark.runtime import ensure_package_on_executors

        ensure_package_on_executors(spark)
        return fn(spark, sf_dir)

    return wrapper


QUERIES = {name: _shipped(fn) for name, fn in QUERIES.items()}


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------


def _minhash_oracle() -> str:
    sigs = ", ".join(
        f"MIN(md5('{i}|' || shingle)) AS s{i}" for i in range(8)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, s{2*b} || '|' || s{2*b+1} AS key FROM sig"
        for b in range(4)
    )
    return f"""{_SHINGLE_PRELUDE}
, sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id)
, bands AS ({bands})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id
"""


def _simhash_oracle() -> str:
    votes = ",\n    ".join(
        "SUM(CASE WHEN ({h} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}".format(
            h="hi" if j >= 32 else "lo", sh=j % 32, j=j
        )
        for j in range(64)
    )
    lo63 = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(63)
    )
    return f"""{_SHINGLE_PRELUDE}
, bits AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(shingle), 1, 8)) AS UBIGINT) AS hi,
         CAST(concat('0x', substring(md5(shingle), 9, 8)) AS UBIGINT) AS lo
  FROM sh
), votes AS (
  SELECT doc_id,
    {votes}
  FROM bits GROUP BY doc_id
)
SELECT doc_id AS id, ({lo63}) AS simhash_lo63,
       (CASE WHEN v63 > 0 THEN 1 ELSE 0 END) AS simhash_top_bit
FROM votes
"""


def _pii_oracle() -> str:
    """DuckDB mirror of ops/curation.redact_pii over the synthetic-PII
    text the `pii_redacted` entry builds — generated from the SAME
    PII_PATTERNS tuple so the two sides cannot drift."""
    from probe_spark.ops.curation import PII_PATTERNS

    counts = ",\n       ".join(
        f"len(regexp_extract_all(t, '{pat}'))::INT AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = "t"
    for _, pat, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    return f"""
WITH p AS (
  SELECT doc_id,
         text || ' u' || doc_id::VARCHAR ||
         '@ex.com ip 10.0.3.7 ssn 123-45-6789 ph 555-123-4567' AS t
  FROM documents
)
SELECT doc_id,
       {counts},
       md5({red}) AS redacted_md5
FROM p
"""


def _lang_id_oracle() -> str:
    from probe_spark.ops.text import LANG_PROFILES

    scores = []
    for lang in sorted(LANG_PROFILES):
        hits = " + ".join(
            f"(CASE WHEN contains(lower(text), '{m}') THEN 1 ELSE 0 END)"
            for m in LANG_PROFILES[lang]
        )
        scores.append(f"({hits}) AS s_{lang}")
    langs = sorted(LANG_PROFILES)
    best = f"greatest({', '.join('s_' + x for x in langs)})"
    pred = "CASE"
    for lang in langs:  # asc order = tie-break order
        pred += f" WHEN s_{lang} = best AND best > 0 THEN '{lang}'"
    pred += " ELSE 'und' END"
    return f"""
WITH sc AS (
  SELECT doc_id, {', '.join(scores)} FROM documents
), m AS (
  SELECT doc_id, *, {best} AS best FROM sc
)
SELECT doc_id, {pred} AS lang_pred, best::INT AS lang_score FROM m
"""


_BM25_TOPK_WAND_ORACLE = f"""{_BM25_PRELUDE}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash,
         MAX(CASE WHEN tok.t = 'join' THEN 1 ELSE 0 END) AS p_join
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT SUM(p_hash) AS df_hash, SUM(p_join) AS df_join FROM pres
), scored AS (
  SELECT p.doc_id, {{c_hash}} + {{c_join}} AS score
  FROM pres p, stats s, dfs d
  WHERE p.p_hash = 1 OR p.p_join = 1
  ORDER BY score DESC, p.doc_id ASC
  LIMIT 50
)
SELECT doc_id, ROUND(score, 6) AS score FROM scored
"""

# three independent top-k oracles over one shared presence table — the SQL
# mirror of search_batch's query set ("hash OR join", "+hash join",
# "hash AND scan" at k=25)
_BM25_BATCH_ORACLE = f"""{_BM25_PRELUDE}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash,
         MAX(CASE WHEN tok.t = 'join' THEN 1 ELSE 0 END) AS p_join,
         MAX(CASE WHEN tok.t = 'scan' THEN 1 ELSE 0 END) AS p_scan
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT SUM(p_hash) AS df_hash, SUM(p_join) AS df_join,
         SUM(p_scan) AS df_scan FROM pres
), s0 AS (
  SELECT 0 AS query_idx, p.doc_id, {{c_hash}} + {{c_join}} AS score
  FROM pres p, stats s, dfs d WHERE p.p_hash = 1 OR p.p_join = 1
  ORDER BY score DESC, p.doc_id ASC LIMIT 25
), s1 AS (
  SELECT 1 AS query_idx, p.doc_id, {{c_hash}} + {{c_join}} AS score
  FROM pres p, stats s, dfs d WHERE p.p_hash = 1
  ORDER BY score DESC, p.doc_id ASC LIMIT 25
), s2 AS (
  SELECT 2 AS query_idx, p.doc_id, {{c_hash}} + {{c_scan}} AS score
  FROM pres p, stats s, dfs d WHERE p.p_hash = 1 AND p.p_scan = 1
  ORDER BY score DESC, p.doc_id ASC LIMIT 25
)
SELECT query_idx, doc_id, ROUND(score, 6) AS score
FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
      UNION ALL SELECT * FROM s2)
"""

_LIMITED_SEARCH_ORACLE = f"""{_BM25_PRELUDE}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT SUM(p_hash) AS df_hash FROM pres
), scored AS (
  SELECT p.doc_id, {{c_hash}} AS score
  FROM pres p, stats s, dfs d
  WHERE p.p_hash = 1
), budget AS (
  SELECT sc.doc_id, sc.score,
         SUM(octet_length(encode(doc.text)))
           OVER (ORDER BY sc.score DESC, sc.doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_bytes
  FROM scored sc JOIN documents doc ON sc.doc_id = doc.doc_id
)
SELECT doc_id, ROUND(score, 6) AS score FROM budget WHERE cum_bytes <= 20000
"""

def _ann_lsh_oracle(dim: int = 64, n_planes: int = 8, seed: int = 7) -> str:
    """SQL mirror of similarity.lsh_topk(multiprobe=0): the deterministic
    hyperplanes are baked in as literals, buckets are sign-bit codes, the
    candidate set is the query vector's own bucket."""
    planes = similarity._seeded_planes(dim, n_planes, seed)
    rows = ",\n      ".join(
        "({p}, [{xs}]::DOUBLE[])".format(
            p=p, xs=", ".join(repr(float(x)) for x in planes[p])
        )
        for p in range(n_planes)
    )
    return f"""
WITH proj AS (
  SELECT e.vec_id, pl.p,
         list_sum(list_transform(list_zip(e.embedding, pl.vec),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE)) AS pr
  FROM embeddings e
  CROSS JOIN (VALUES
      {rows}) pl(p, vec)
),
codes AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY vec_id
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding,
                                         x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(q.qv,
                                           x -> x::DOUBLE * x::DOUBLE)))),
         6) AS cos_sim
FROM embeddings e
JOIN codes c ON c.vec_id = e.vec_id, q
WHERE c.bucket = (SELECT bucket FROM codes WHERE vec_id = 0)
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 25
"""


def _ann_ivf_oracle(
    dim: int = 64, n_cells: int = 16, n_probe: int = 4, seed: int = 13
) -> str:
    """SQL mirror of similarity.ivf_topk: seeded centroids baked in as
    literals; cell = argmax-dot centroid (ties -> lowest index) via a
    row_number window; probes = the n_probe cells ranked by dot with the
    query vector (vec_id=0); exact cosine top-k within the probed cells."""
    cents = similarity._seeded_centroids(dim, n_cells, seed)
    rows = ",\n      ".join(
        "({c}, [{xs}]::DOUBLE[])".format(
            c=c, xs=", ".join(repr(float(x)) for x in cents[c])
        )
        for c in range(n_cells)
    )
    return f"""
WITH cents(c, vec) AS (VALUES
      {rows}),
dots AS (
  SELECT e.vec_id, ct.c,
         list_sum(list_transform(list_zip(e.embedding, ct.vec),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE)) AS d
  FROM embeddings e CROSS JOIN cents ct
),
cells AS (
  SELECT vec_id, c AS cell FROM (
    SELECT vec_id, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, c ASC) AS rn
    FROM dots
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qdots AS (
  SELECT ct.c,
         list_sum(list_transform(list_zip(ct.vec, q.qv),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE)) AS d
  FROM cents ct, q
),
probes AS (SELECT c FROM qdots ORDER BY d DESC, c ASC LIMIT {n_probe})
SELECT e.vec_id,
       ROUND(
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding,
                                         x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(q.qv,
                                           x -> x::DOUBLE * x::DOUBLE)))),
         6) AS cos_sim
FROM embeddings e
JOIN cells cl ON cl.vec_id = e.vec_id, q
WHERE cl.cell IN (SELECT c FROM probes)
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 25
"""


def _ann_knn_join_oracle(
    dim: int = 64, n_cells: int = 16, n_probe: int = 4, k: int = 10,
    seed: int = 13,
) -> str:
    """SQL mirror of similarity.knn_join over the seeded IVF quantizer:
    per-query probe sets = the n_probe cells ranked by (dot desc, cell
    asc); candidates = rows whose argmax-dot cell is in THAT query's
    probe set; per-query exact cosine top-k (rounded 6 dp, ties ->
    vec_id asc)."""
    cents = similarity._seeded_centroids(dim, n_cells, seed)
    rows = ",\n      ".join(
        "({c}, [{xs}]::DOUBLE[])".format(
            c=c, xs=", ".join(repr(float(x)) for x in cents[c])
        )
        for c in range(n_cells)
    )
    return f"""
WITH cents(c, vec) AS (VALUES
      {rows}),
dots AS (
  SELECT e.vec_id, ct.c,
         list_sum(list_transform(list_zip(e.embedding, ct.vec),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE)) AS d
  FROM embeddings e CROSS JOIN cents ct
),
cells AS (
  SELECT vec_id, c AS cell FROM (
    SELECT vec_id, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, c ASC) AS rn
    FROM dots
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % 100 = 0
),
qdots AS (
  SELECT q.query_id, ct.c,
         list_sum(list_transform(list_zip(ct.vec, q.qv),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE)) AS d
  FROM cents ct CROSS JOIN q
),
probes AS (
  SELECT query_id, c FROM (
    SELECT query_id, c,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d DESC, c ASC) AS rn
    FROM qdots
  ) WHERE rn <= {n_probe}
),
scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(
           list_sum(list_transform(list_zip(e.embedding, q.qv),
                                   s -> s[1]::DOUBLE * s[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(e.embedding,
                                           x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv,
                                             x -> x::DOUBLE * x::DOUBLE)))),
           6) AS cos_sim
  FROM embeddings e
  JOIN cells cl ON cl.vec_id = e.vec_id
  JOIN probes p ON p.c = cl.cell
  JOIN q ON q.query_id = p.query_id
)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
ORDER BY query_id ASC, cos_sim DESC, vec_id ASC
"""


def _embedding_dup_oracle(
    dim: int = 64, n_planes: int = 4, seed: int = 7
) -> str:
    """SQL mirror of the BUCKETED embedding_dup_pairs (n_planes>0): the
    same seeded hyperplanes as the engine, pairs restricted to equal
    sign-bit buckets — no all-pairs join on either side."""
    planes = similarity._seeded_planes(dim, n_planes, seed)
    rows = ",\n      ".join(
        "({p}, [{xs}]::DOUBLE[])".format(
            p=p, xs=", ".join(repr(float(x)) for x in planes[p])
        )
        for p in range(n_planes)
    )
    return f"""
WITH proj AS (
  SELECT e.vec_id, pl.p,
         list_sum(list_transform(list_zip(e.embedding, pl.vec),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE)) AS pr
  FROM embeddings e
  CROSS JOIN (VALUES
      {rows}) pl(p, vec)
),
codes AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN pr >= 0 THEN 1 << p ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY vec_id
),
n AS (
  SELECT e.vec_id, e.embedding, c.bucket,
         sqrt(list_sum(list_transform(e.embedding,
                                      x -> x::DOUBLE * x::DOUBLE))) AS nn
  FROM embeddings e JOIN codes c ON c.vec_id = e.vec_id
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE))
         / (a.nn * b.nn), 6) AS cos_sim
FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE))
         / (a.nn * b.nn), 6) >= 0.25
"""


_SESSION_PAGE2_ORACLE = f"""{_BM25_PRELUDE}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash,
         MAX(CASE WHEN tok.t = 'join' THEN 1 ELSE 0 END) AS p_join
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT SUM(p_hash) AS df_hash, SUM(p_join) AS df_join FROM pres
), scored AS (
  SELECT p.doc_id, {{c_hash}} + {{c_join}} AS score
  FROM pres p, stats s, dfs d
  WHERE p.p_hash = 1 OR p.p_join = 1
  ORDER BY score DESC, p.doc_id ASC
  LIMIT 25 OFFSET 25
)
SELECT doc_id, ROUND(score, 6) AS score FROM scored
"""

_MERGED_TURNS_ORACLE = """
WITH res AS (
  SELECT doc_id, CAST(doc_id % 97 AS DOUBLE) AS score,
         doc_id // 8 AS conv_id, CAST(doc_id % 8 AS INT) AS turn_idx, text
  FROM documents WHERE doc_id % 3 = 0
), g AS (
  SELECT *, CASE WHEN lag(turn_idx) OVER w IS NULL
                   OR turn_idx - lag(turn_idx) OVER w > 2
                 THEN 1 ELSE 0 END AS brk
  FROM res WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), grp AS (
  SELECT *, SUM(brk) OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS UNBOUNDED PRECEDING) AS gid
  FROM g
)
SELECT conv_id,
       MIN(turn_idx) AS turn_lo,
       MAX(turn_idx) AS turn_hi,
       COUNT(*) AS n_turns,
       ROUND(MAX(score), 6) AS score,
       (list(doc_id ORDER BY score DESC, doc_id ASC))[1] AS doc_id,
       md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS text_md5
FROM grp GROUP BY conv_id, gid
"""

_LANG_SCAN_ORACLE = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE lang = 'en' AND source = 'src7'
"""

# src15 -> keywords (src, 15): 'src' tool-matches every source value, '15'
# only src15, so the src15 Term (all-of) credits exactly source='src15'
# docs; the corpus vocabulary (31 words, pinned by tests) contains neither
# keyword, so their text df is 0 and they contribute no score
_METADATA_MATCH_ORACLE = f"""{_BM25_PRELUDE}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT SUM(p_hash) AS df_hash FROM pres
)
SELECT p.doc_id,
       ROUND({{c_hash}}, 6) AS score
FROM pres p JOIN documents doc ON doc.doc_id = p.doc_id, stats s, dfs d
WHERE p.p_hash = 1 OR doc.source = 'src15'
"""

_BM25_MATCHED_TERMS_ORACLE = f"""{_BM25_PRELUDE}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash,
         MAX(CASE WHEN tok.t = 'join' THEN 1 ELSE 0 END) AS p_join
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT SUM(p_hash) AS df_hash, SUM(p_join) AS df_join FROM pres
)
SELECT p.doc_id,
       ROUND({{c_hash}} + {{c_join}}, 6) AS score,
       CASE WHEN p.p_hash = 1 AND p.p_join = 1 THEN 'hash,join'
            WHEN p.p_hash = 1 THEN 'hash' ELSE 'join' END AS matched
FROM pres p, stats s, dfs d
WHERE p.p_hash = 1 OR p.p_join = 1
"""

# image_resize: recompute the mean-pool fold from the payload bytes.
# bytes come from hex pairs of encode(text); the fold pads to a multiple of
# 64 with zeros and averages column j over ceil(nb/64) rows — all exact
# f64 (integer sums / small divisor), so ROUND(, 6) matches the engine
_IMAGE_RESIZE_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
  WHERE octet_length(encode(text)) > 0
), codes AS (
  SELECT doc_id, nb, CAST(ceil(nb / 64.0) AS INT) AS nrows,
         [CAST(concat('0x', substring(hx, 2*k-1, 2)) AS INT)
          for k in range(1, nb + 1)] AS cs
  FROM b
), padded AS (
  SELECT doc_id, nrows,
         cs || [0 for _x in range(1, nrows*64 - nb + 1)] AS csp
  FROM codes
), flat AS (
  SELECT doc_id, nrows,
         unnest(csp) AS v,
         unnest(range(1, len(csp) + 1)) AS k
  FROM padded
)
SELECT doc_id AS sample_id,
       CAST((k - 1) % 64 AS INT) AS px_idx,
       ROUND(SUM(v)::DOUBLE / ANY_VALUE(nrows), 6) AS px
FROM flat
GROUP BY doc_id, (k - 1) % 64
"""

# audio_meta: int16 little-endian PCM decode from the payload bytes via
# hex pairs; v*v sums stay exact in f64 (<= 2^41), so duration/rms match
# the engine's f64 math bit-for-bit before ROUND(, 6)
_AUDIO_META_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
), good AS (
  SELECT doc_id, hx, nb, nb // 2 AS ns FROM b WHERE nb >= 2
), pcm AS (
  SELECT doc_id, nb, ns,
         [CASE WHEN v >= 32768 THEN v - 65536 ELSE v END
          for v in [CAST(concat('0x', substring(hx, 4*s-3, 2)) AS INT)
                    + 256 * CAST(concat('0x', substring(hx, 4*s-1, 2)) AS INT)
                    for s in range(1, ns + 1)]] AS vs
  FROM good
)
SELECT doc_id AS sample_id, nb AS n_bytes,
       ROUND(ns::DOUBLE / 16000 * 1000, 6) AS duration_ms,
       ROUND(sqrt(list_sum([v::DOUBLE * v::DOUBLE for v in vs]) / ns), 6)
         AS rms,
       CAST(coalesce(list_sum(
         [CASE WHEN (vs[i] < 0) != (vs[i+1] < 0) THEN 1 ELSE 0 END
          for i in range(1, ns)]), 0) AS INT) AS zero_crossings,
       'ok' AS status
FROM pcm
UNION ALL
SELECT doc_id AS sample_id, nb AS n_bytes, 0.0 AS duration_ms, 0.0 AS rms,
       0 AS zero_crossings, 'error' AS status
FROM b WHERE nb < 2
"""

# video_frames: mirror of ops/multimodal.frame_sample's deterministic fake.
# sl = bytes at 0-based positions f, f+4, ... (hex pairs, 1-based k = f+1,
# f+5, ...); pad with zeros to a multiple of 8; feature j = column-j mean.
# Byte sums are integer-exact in f32 (< 2^24), so only the final division
# needs the float32 mirror: CAST(exact_double_quotient AS REAL)
_VIDEO_FRAMES_ORACLE = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
  WHERE octet_length(encode(text)) > 0
), codes AS (
  SELECT doc_id, nb,
         [CAST(concat('0x', substring(hx, 2*k-1, 2)) AS INT)
          for k in range(1, nb + 1)] AS cs
  FROM b
), frames AS (
  SELECT doc_id, CAST(f AS INT) AS f,
         [cs[k] for k in range(f + 1, nb + 1, 4)] AS sl
  FROM codes, (SELECT unnest(range(0, 4)) AS f) fr
), sized AS (
  SELECT doc_id, f,
         CASE WHEN len(sl) = 0 THEN 1
              ELSE CAST(ceil(len(sl) / 8.0) AS INT) END AS nrows,
         CASE WHEN len(sl) = 0
              THEN [0, 0, 0, 0, 0, 0, 0, 0]
              ELSE sl || [0 for _x in
                   range(1, CAST(ceil(len(sl) / 8.0) AS INT) * 8
                            - len(sl) + 1)]
         END AS slp
  FROM frames
), flat AS (
  SELECT doc_id, f, nrows,
         unnest(slp) AS v,
         unnest(range(1, len(slp) + 1)) AS k
  FROM sized
)
SELECT doc_id AS sample_id, f AS frame_idx,
       CAST((k - 1) % 8 AS INT) AS feat_idx,
       ROUND(CAST(CAST(SUM(v) AS DOUBLE) / ANY_VALUE(nrows) AS REAL)::DOUBLE,
             6) AS v
FROM flat
GROUP BY doc_id, f, (k - 1) % 8
"""

_IMAGE_META_ORACLE = """
WITH b AS (
  SELECT doc_id, text, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
)
SELECT doc_id AS sample_id,
       CASE WHEN nb = 0 THEN 0 ELSE
         16 + CAST(concat('0x', substring(hx, 1, 2)) AS INT) % 64 END AS width,
       CASE WHEN nb = 0 THEN 0 ELSE
         16 + CAST(concat('0x', substring(hx, 2*nb - 1, 2)) AS INT) % 64
       END AS height,
       nb AS n_bytes,
       CASE WHEN nb = 0 THEN '' ELSE substring(md5(text), 1, 16) END AS phash,
       CASE WHEN nb = 0 THEN 'error' ELSE 'ok' END AS status
FROM b
"""


_TRAINING_EXAMPLES_ORACLE = """
WITH kept AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
), feats AS (
  SELECT doc_id, text,
         length(text) AS nc,
         string_split(text, ' ') AS ws
  FROM kept
), scored AS (
  SELECT doc_id, text,
         ROUND(
           least(len(ws)/64.0, 1.0)*0.25
           + least(((nc - (len(ws) - 1)) / len(ws)::DOUBLE)/8.0, 1.0)*0.25
           + (len(list_filter(ws, w -> w IN
               ('a','an','and','are','as','at','be','by','for','from','has',
                'in','is','it','of','on','or','that','the','to','was','with')))
              / len(ws)::DOUBLE)*0.25
           + (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              / nc::DOUBLE)*0.25, 6) AS q
  FROM feats
), good AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM scored WHERE q >= 0.55
)
SELECT doc_id,
       (i // 8)::INT AS chunk_idx,
       i::INT AS chunk_start,
       len(ws[i+1:i+16])::INT AS n_words,
       array_to_string(ws[i+1:i+16], ' ') AS chunk_text,
       len(regexp_extract_all(array_to_string(ws[i+1:i+16], ' '),
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::INT AS bpe_tokens
FROM good, UNNEST(range(0, len(ws), 8)) AS t(i)
"""


_RETRIEVAL_METRICS_ORACLE = """
WITH run AS (
  SELECT doc_id % 10 AS qid, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 10
                            ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM documents
), runk AS (
  SELECT qid, doc_id, rnk FROM run WHERE rnk <= 20
), gold AS (
  SELECT DISTINCT doc_id % 10 AS qid, doc_id FROM documents
  WHERE (doc_id // 10) % 3 = 0
), ng AS (
  SELECT qid, COUNT(*) AS n_gold FROM gold GROUP BY qid
), hits AS (
  SELECT runk.qid, runk.rnk FROM runk JOIN gold USING (qid, doc_id)
), per_q AS (
  SELECT qid, COUNT(*) AS n_hits, MIN(rnk) AS first_rank,
         SUM(1.0 / log2(rnk + 1.0)) AS dcg
  FROM hits GROUP BY qid
), idcg AS (
  SELECT ng.qid,
         (SELECT SUM(1.0 / log2(i + 1.0))
          FROM UNNEST(range(1, least(ng.n_gold, 20) + 1)) AS t(i)) AS ideal
  FROM ng
)
SELECT ng.qid AS query_id, ng.n_gold,
       COALESCE(per_q.n_hits, 0)::BIGINT AS n_hits,
       ROUND(COALESCE(per_q.n_hits, 0) / ng.n_gold::DOUBLE, 6) AS recall,
       ROUND(COALESCE(1.0 / per_q.first_rank, 0.0), 6) AS mrr,
       ROUND(COALESCE(per_q.dcg, 0.0) / idcg.ideal, 6) AS ndcg
FROM ng LEFT JOIN per_q USING (qid) JOIN idcg USING (qid)
"""


ORACLES = {
    "bm25_or": _bm25_sql(
        ["hash", "join"],
        "p.p_hash = 1 OR p.p_join = 1",
        [_contrib("hash"), _contrib("join")],
    ),
    "bm25_and": _bm25_sql(
        ["hash", "join"],
        "p.p_hash = 1 AND p.p_join = 1",
        [_contrib("hash"), _contrib("join")],
    ),
    "multi_query_combine": _bm25_sql(
        ["scan", "agg"],
        "p.p_scan = 1 AND p.p_agg = 1",
        [_contrib("scan"), _contrib("agg")],
    ),
    "bm25_implicit_or": _bm25_sql(
        ["tabl", "queri", "sort", "fast"],
        "p.p_tabl = 1 OR p.p_queri = 1 OR p.p_sort = 1 OR p.p_fast = 1",
        [_contrib("tabl"), _contrib("queri"), _contrib("sort"), _contrib("fast")],
    ),
    "bm25_required": _bm25_sql(
        ["hash", "join"],
        "p.p_hash = 1",
        [_contrib("hash"), _contrib("join")],
    ),
    "bm25_excluded": _bm25_sql(
        ["hash", "dup"],
        "p.p_hash = 1 AND p.p_dup = 0",
        [_contrib("hash")],
    ),
    "bm25_grouped": _bm25_sql(
        ["hash", "join", "scan", "merg"],
        "(p.p_hash = 1 OR p.p_join = 1) AND (p.p_scan = 1 OR p.p_merg = 1)",
        [_contrib("hash"), _contrib("join"), _contrib("scan"), _contrib("merg")],
    ),
    "bm25_exact_term": _bm25_sql(
        ["filter"],
        "p.p_filter = 1",
        [_contrib("filter")],
    ),
    "term_df": f"""{_BM25_PRELUDE}
SELECT t AS term, COUNT(*) AS df FROM tok GROUP BY t
""",
    "doc_lengths": f"""{_BM25_PRELUDE}
SELECT doc_id, dl::INT AS dl FROM dls
""",
    "exact_scan": """
SELECT doc_id, n_chars FROM documents WHERE text LIKE '%slow scan%'
""",
    "dedup_exact": """
SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
""",
    "ngram_jaccard": f"""{_SHINGLE_PRELUDE}
, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
, inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(c::DOUBLE / (sa.n + sb.n - c), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(c::DOUBLE / (sa.n + sb.n - c), 6) >= 0.8
""",
    "minhash_lsh": _minhash_oracle(),
    "dup_clusters": f"""{_CLUSTER_PRELUDE}
SELECT doc_id, cluster_id FROM comp
""",
    "dedup_survivors": f"""{_CLUSTER_PRELUDE}
, qbase AS (
  SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS ws
  FROM documents
), qf AS (
  SELECT doc_id,
         len(ws)::INT AS n_words,
         (nc - (len(ws) - 1)) / len(ws)::DOUBLE AS mwl,
         len(list_filter(ws, w -> w IN
           ('a','an','and','are','as','at','be','by','for','from','has','in',
            'is','it','of','on','or','that','the','to','was','with')))
           / len(ws)::DOUBLE AS sr,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / nc::DOUBLE AS ar
  FROM qbase JOIN documents USING (doc_id)
), q AS (
  SELECT doc_id,
         ROUND(least(n_words/64.0, 1.0)*0.25 + least(mwl/8.0, 1.0)*0.25
               + sr*0.25 + ar*0.25, 6) AS qs
  FROM qf
), ranked AS (
  SELECT comp.cluster_id, comp.doc_id,
         ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
                            ORDER BY q.qs DESC, comp.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY comp.cluster_id) AS n_members
  FROM comp JOIN q USING (doc_id)
)
SELECT cluster_id, doc_id AS keep_doc_id, n_members
FROM ranked WHERE rn = 1
""",
    "token_counts": """
SELECT doc_id,
       len(string_split(text, ' '))::INT AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::INT
         AS bpe_tokens
FROM documents
""",
    # the composed pipeline: dedup (min-id per md5) -> quality >= 0.55 on
    # the 6-dp-rounded score (the same formula the `quality` entry pins)
    # -> chunk window=16 stride=8 -> BPE-ish count per chunk
    "training_examples": _TRAINING_EXAMPLES_ORACLE,
    # the packing stage over the same composed pipeline: exclusive-prefix
    # cumsum per doc, pack_idx = floor(cum_before / 48)
    "packed_examples": f"""
WITH tx AS ({_TRAINING_EXAMPLES_ORACLE})
SELECT doc_id, chunk_idx, bpe_tokens,
       COALESCE(SUM(bpe_tokens) OVER (
         PARTITION BY doc_id ORDER BY chunk_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         AS pack_tokens_before,
       (COALESCE(SUM(bpe_tokens) OVER (
         PARTITION BY doc_id ORDER BY chunk_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 48)::INT
         AS pack_idx
FROM tx
""",
    # window=16 stride=8; DuckDB list slicing ws[i+1:i+16] is 1-based
    # inclusive (length 16), mirroring Spark slice(ws, i+1, 16)
    "chunked_docs": """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE text IS NOT NULL
)
SELECT doc_id,
       (i // 8)::INT AS chunk_idx,
       i::INT AS chunk_start,
       len(ws[i+1:i+16])::INT AS n_words,
       array_to_string(ws[i+1:i+16], ' ') AS chunk_text
FROM w, UNNEST(range(0, len(ws), 8)) AS t(i)
""",
    "quality": """
WITH base AS (
  SELECT doc_id,
         length(text) AS nc,
         string_split(text, ' ') AS ws
  FROM documents
), feats AS (
  SELECT doc_id,
         len(ws)::INT AS n_words,
         (nc - (len(ws) - 1)) / len(ws)::DOUBLE AS mwl,
         len(list_filter(ws, w -> w IN
           ('a','an','and','are','as','at','be','by','for','from','has','in',
            'is','it','of','on','or','that','the','to','was','with')))
           / len(ws)::DOUBLE AS sr,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / nc::DOUBLE AS ar
  FROM base JOIN documents USING (doc_id)
)
SELECT doc_id, n_words,
       ROUND(mwl, 6) AS mean_word_len,
       ROUND(sr, 6) AS stopword_ratio,
       ROUND(ar, 6) AS alpha_ratio,
       ROUND(least(n_words/64.0, 1.0)*0.25 + least(mwl/8.0, 1.0)*0.25
             + sr*0.25 + ar*0.25, 6) AS quality_score
FROM feats
""",
    "fingerprint": """
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(string_split(text, ' '),
             w -> (length(w)*131 + ascii(w))::BIGINT)),
         (acc, x) -> (acc*31 + x) % 2147483647) AS fingerprint
FROM documents
""",
    "ann_cosine": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       ROUND(
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                                 s -> s[1]::DOUBLE * s[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding,
                                         x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(q.qv,
                                           x -> x::DOUBLE * x::DOUBLE)))),
         6) AS cos_sim
FROM embeddings e, q
""",
    "sessionize": """
WITH x AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM x
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(epoch_us(ts)) AS session_start_us,
       MAX(epoch_us(ts)) AS session_end_us,
       ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, session_id
""",
    "windowed_counts": """
SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2
""",
    "streaming_windows": """
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2
""",
    "bm25_topk_wand": _BM25_TOPK_WAND_ORACLE.format(
        c_hash=_contrib("hash"), c_join=_contrib("join")
    ),
    "streaming_index": _bm25_sql(
        ["vector", "slow"],
        "p.p_vector = 1",
        [_contrib("vector"), _contrib("slow")],
    ),
    "compacted_index": _bm25_sql(
        ["big", "line"],
        "(p.p_big = 1 OR p.p_line = 1)",
        [_contrib("big"), _contrib("line")],
    ),
    "degenerate_lines": _bm25_sql(
        ["group", "spark"],
        "(p.p_group = 1 OR p.p_spark = 1)",
        [_contrib("group"), _contrib("spark")],
        prelude=_BM25_PRELUDE_BLANK400,
    ),
    "bm25_topk_ranged": _bm25_sql(
        ["hash", "dup"],
        "p.p_hash = 1 AND p.p_dup = 0",
        [_contrib("hash")],
        limit=50,
    ),
    "bm25_topk_local": _BM25_TOPK_WAND_ORACLE.format(
        c_hash=_contrib("hash"), c_join=_contrib("join")
    ),
    # retrieve-then-rerank: BM25 top-50 candidate cut (raw score desc,
    # doc_id asc — the engine's own boundary), then query-coverage
    # rerank (p_hash + p_join)/2, rank-then-round like every top-k oracle
    "rerank_overlap": f"""{{prelude}}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash,
         MAX(CASE WHEN tok.t = 'join' THEN 1 ELSE 0 END) AS p_join
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT SUM(p_hash) AS df_hash, SUM(p_join) AS df_join FROM pres
), scored AS (
  SELECT p.doc_id,
         {{c_hash}} + {{c_join}} AS score,
         (p.p_hash + p.p_join)/2.0 AS rerank_score
  FROM pres p, stats s, dfs d
  WHERE p.p_hash = 1 OR p.p_join = 1
), cands AS (
  SELECT * FROM scored ORDER BY score DESC, doc_id ASC LIMIT 50
)
SELECT doc_id, ROUND(rerank_score, 6) AS rerank_score,
       ROUND(score, 6) AS score
FROM cands ORDER BY rerank_score DESC, score DESC, doc_id ASC LIMIT 20
""".format(
        prelude=_BM25_PRELUDE,
        c_hash=_contrib("hash"),
        c_join=_contrib("join"),
    ),
    # node-type-boost analog: BM25 top-50 cut, then score * per-role
    # (lang) factor, re-sort boosted desc / doc_id asc — original BM25
    # kept as bm25_score, unknown roles get 1.0
    "boosted_search": f"""{{prelude}}
, pres AS (
  SELECT dls.doc_id, dls.dl,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash,
         MAX(CASE WHEN tok.t = 'join' THEN 1 ELSE 0 END) AS p_join
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id, dls.dl
), dfs AS (
  SELECT SUM(p_hash) AS df_hash, SUM(p_join) AS df_join FROM pres
), scored AS (
  SELECT p.doc_id, {{c_hash}} + {{c_join}} AS score
  FROM pres p, stats s, dfs d
  WHERE p.p_hash = 1 OR p.p_join = 1
), cands AS (
  SELECT * FROM scored ORDER BY score DESC, doc_id ASC LIMIT 50
), boosted AS (
  SELECT c.doc_id,
         c.score * CASE doc.lang WHEN 'en' THEN 1.5 WHEN 'zh' THEN 1.2
                                 WHEN 'de' THEN 0.8 ELSE 1.0 END
           AS boosted,
         c.score AS bm25
  FROM cands c JOIN documents doc ON c.doc_id = doc.doc_id
)
SELECT doc_id, ROUND(boosted, 6) AS score, ROUND(bm25, 6) AS bm25_score
FROM boosted ORDER BY boosted DESC, doc_id ASC LIMIT 20
""".format(
        prelude=_BM25_PRELUDE,
        c_hash=_contrib("hash"),
        c_join=_contrib("join"),
    ),
    "bm25_batch": _BM25_BATCH_ORACLE.format(
        c_hash=_contrib("hash"),
        c_join=_contrib("join"),
        c_scan=_contrib("scan"),
    ),
    "limited_search": _LIMITED_SEARCH_ORACLE.format(c_hash=_contrib("hash")),
    "simhash": _simhash_oracle(),
    "lang_id": _lang_id_oracle(),
    "ann_lsh": _ann_lsh_oracle(),
    "ann_ivf": _ann_ivf_oracle(),
    "ann_knn_join": _ann_knn_join_oracle(),
    "embedding_dup": _embedding_dup_oracle(),
    "image_meta": _IMAGE_META_ORACLE,
    "image_resize": _IMAGE_RESIZE_ORACLE,
    "audio_meta": _AUDIO_META_ORACLE,
    "video_frames": _VIDEO_FRAMES_ORACLE,
    "session_page2": _SESSION_PAGE2_ORACLE.format(
        c_hash=_contrib("hash"), c_join=_contrib("join")
    ),
    "merged_turns": _MERGED_TURNS_ORACLE,
    "lang_scan": _LANG_SCAN_ORACLE,
    "metadata_match": _METADATA_MATCH_ORACLE.format(c_hash=_contrib("hash")),
    "bm25_matched_terms": _BM25_MATCHED_TERMS_ORACLE.format(
        c_hash=_contrib("hash"), c_join=_contrib("join")
    ),
    # files-only mode: distinct matched conversations (conv_id = zero-padded
    # doc_id per _docs_as_transcripts), determinized ascending, limit 200.
    "files_only": f"""{_BM25_PRELUDE}
SELECT lpad(CAST(doc_id AS VARCHAR), 12, '0') AS conv_id
FROM (SELECT DISTINCT doc_id FROM tok WHERE t IN ('hash', 'join')) m
ORDER BY conv_id
LIMIT 200
""",
    # percolation: per-doc boolean evaluation of each standing query over
    # the tokenized turn — presence flags mirror the engine's AST gates
    # (pq1 conjunction, pq2 exclusion, pq3 required+optional), matched
    # terms in sorted keyword order
    "percolate": f"""{_BM25_PRELUDE}
, pres AS (
  SELECT dls.doc_id,
         MAX(CASE WHEN tok.t = 'hash' THEN 1 ELSE 0 END) AS p_hash,
         MAX(CASE WHEN tok.t = 'join' THEN 1 ELSE 0 END) AS p_join,
         MAX(CASE WHEN tok.t = 'scan' THEN 1 ELSE 0 END) AS p_scan,
         MAX(CASE WHEN tok.t = 'merge' THEN 1 ELSE 0 END) AS p_merge,
         MAX(CASE WHEN tok.t = 'filter' THEN 1 ELSE 0 END) AS p_filter,
         MAX(CASE WHEN tok.t = 'group' THEN 1 ELSE 0 END) AS p_group
  FROM dls LEFT JOIN tok ON dls.doc_id = tok.doc_id
  GROUP BY dls.doc_id
)
SELECT 'pq1' AS query_id,
       lpad(CAST(doc_id AS VARCHAR), 12, '0') AS conv_id,
       'hash,join' AS matched
FROM pres WHERE p_hash = 1 AND p_join = 1
UNION ALL
SELECT 'pq2', lpad(CAST(doc_id AS VARCHAR), 12, '0'), 'scan'
FROM pres WHERE p_scan = 1 AND p_merge = 0
UNION ALL
SELECT 'pq3', lpad(CAST(doc_id AS VARCHAR), 12, '0'),
       concat_ws(',', 'filter',
                 CASE WHEN p_group = 1 THEN 'group' END)
FROM pres WHERE p_filter = 1
""",
    # tombstoned (pre-vacuum): full-corpus stats, deleted docs cut from
    # the candidate set only — Lucene deleted-docs semantics
    "deleted_masked": _bm25_sql(
        ["hash", "join"],
        "(p.p_hash = 1 OR p.p_join = 1) AND p.doc_id NOT IN "
        "(SELECT doc_id FROM documents WHERE source = 'src7')",
        [_contrib("hash"), _contrib("join")],
    ),
    # vacuumed: BM25 computed wholly over the surviving corpus — the
    # folded index must equal a fresh build over it
    "vacuumed_index": _bm25_sql(
        ["hash", "join"],
        "(p.p_hash = 1 OR p.p_join = 1)",
        [_contrib("hash"), _contrib("join")],
        prelude=(
            "WITH kept AS (SELECT * FROM documents WHERE source <> 'src7')"
            + _BM25_PRELUDE.replace("WITH words AS", ", words AS").replace(
                "FROM documents", "FROM kept"
            )
        ),
    ),
    # scoped search: same BM25 math (corpus-global stats), candidates cut
    # to the predicate (role=lang, tool=source in docs-as-transcripts)
    # BEFORE the top-k ordering
    "scoped_search": _bm25_sql(
        ["hash", "join"],
        "(p.p_hash = 1 OR p.p_join = 1) AND p.doc_id IN "
        "(SELECT doc_id FROM documents "
        "WHERE lang IN ('en', 'de') AND source <> 'src7')",
        [_contrib("hash"), _contrib("join")],
        limit=40,
    ),
    # the merged (half+half) index must reproduce the FULL-corpus BM25
    # oracle exactly — same SQL as any single-index entry
    "merged_index": _bm25_sql(
        ["scan", "merg"],
        "(p.p_scan = 1 OR p.p_merg = 1)",
        [_contrib("scan"), _contrib("merg")],
    ),
    # distinct 3-gram overlap with the eval subset (doc_id % 11 == 0);
    # the shingle prelude is the SAME one the dedup oracles use
    "decontaminate": f"""{_SHINGLE_PRELUDE}
, ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 11 = 0)
SELECT sh.doc_id, COUNT(*) AS n_contaminated
FROM sh JOIN ev USING (shingle)
GROUP BY sh.doc_id
""",
    # md5-hash-based weighted mixing: src0 2.5x (upsampled copies carry an
    # epoch index), src1 0.4, src2 1.0, default 0 — replayed bit-for-bit
    "mixed_sources": """
WITH r AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.4
                     WHEN 'src2' THEN 1.0 ELSE 0.0 END AS rate,
         (('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 8))::BIGINT)
           / 4294967296.0 AS frac
  FROM documents
), c AS (
  SELECT doc_id, source,
         (floor(rate)::INT +
          CASE WHEN frac < rate - floor(rate) THEN 1 ELSE 0 END) AS n
  FROM r
)
SELECT doc_id, source, e::INT AS epoch
FROM c, UNNEST(range(0, n)) AS t(e)
WHERE n > 0
""",
    "pii_redacted": _pii_oracle(),
    # per-source top-5 by the 6-dp-rounded quality score (id-asc ties) —
    # the quality formula is the same one the `quality` entry pins
    "source_quota": """
WITH base AS (
  SELECT doc_id, source, length(text) AS nc, string_split(text, ' ') AS ws
  FROM documents
), feats AS (
  SELECT base.doc_id AS doc_id, base.source AS source,
         len(ws)::INT AS n_words,
         (nc - (len(ws) - 1)) / len(ws)::DOUBLE AS mwl,
         len(list_filter(ws, w -> w IN
           ('a','an','and','are','as','at','be','by','for','from','has','in',
            'is','it','of','on','or','that','the','to','was','with')))
           / len(ws)::DOUBLE AS sr,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / nc::DOUBLE AS ar
  FROM base JOIN documents USING (doc_id)
), q AS (
  SELECT doc_id, source,
         ROUND(least(n_words/64.0, 1.0)*0.25 + least(mwl/8.0, 1.0)*0.25
               + sr*0.25 + ar*0.25, 6) AS qs
  FROM feats
), ranked AS (
  SELECT doc_id, source, qs,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY qs DESC, doc_id ASC) AS rn
  FROM q
)
SELECT doc_id, source, qs AS quality_score, rn::INT AS rank_in_source
FROM ranked WHERE rn <= 5
""",
    # repetition ratios recomputed relationally (unnest + group counts)
    "repetition": """
WITH wl AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), w AS (
  SELECT doc_id, u.w AS w FROM wl, UNNEST(ws) AS u(w)
), n AS (
  SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT w) AS nd FROM w GROUP BY doc_id
), tw AS (
  SELECT doc_id, MAX(c) AS mx FROM (
    SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w
  ) GROUP BY doc_id
), bgl AS (
  SELECT doc_id, array_to_string(ws[i+1:i+2], ' ') AS bg
  FROM wl, UNNEST(range(0, greatest(len(ws)-2, 0)+1)) AS t(i)
  WHERE len(ws) >= 2
), tb AS (
  SELECT doc_id, MAX(c) AS bmx FROM (
    SELECT doc_id, bg, COUNT(*) AS c FROM bgl GROUP BY doc_id, bg
  ) GROUP BY doc_id
)
SELECT n.doc_id,
       ROUND(nd / n::DOUBLE, 6) AS distinct_word_ratio,
       ROUND(mx / n::DOUBLE, 6) AS top_word_fraction,
       CASE WHEN n < 2 THEN 0.0
            ELSE ROUND(bmx / (n-1)::DOUBLE, 6) END AS top_bigram_fraction
FROM n JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)
""",
    # shard = first-8-hex of md5('salt|id|idx') mod n; pos = rank within
    # shard by (hash, id) — the deterministic training-shuffle replayed
    "training_shards": f"""
WITH tx AS ({_TRAINING_EXAMPLES_ORACLE}),
keyed AS (
  SELECT doc_id, chunk_idx,
         md5('0|' || doc_id::VARCHAR || '|' || chunk_idx::VARCHAR) AS hk
  FROM tx
), sharded AS (
  SELECT doc_id, chunk_idx, hk,
         (('0x' || substr(hk, 1, 8))::BIGINT % 4)::INT AS shard
  FROM keyed
)
SELECT doc_id, chunk_idx, shard,
       (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hk, doc_id)
        - 1)::BIGINT AS shard_pos
FROM sharded
""",
    # recall/MRR/NDCG over a deterministic synthetic run + gold set;
    # log2 discount via DuckDB's log2, idcg over ranks 1..min(n_gold,k)
    "retrieval_metrics": _RETRIEVAL_METRICS_ORACLE,
    # macro-average of the same per-query metrics (one row)
    "retrieval_summary": f"""
SELECT COUNT(*) AS n_queries,
       ROUND(AVG(recall), 6) AS recall,
       ROUND(AVG(mrr), 6) AS mrr,
       ROUND(AVG(ndcg), 6) AS ndcg
FROM ({_RETRIEVAL_METRICS_ORACLE})
""",
    # the whole count-LM recomputed relationally: unigram/bigram counts,
    # vocab size, add-1 conditional probs, per-doc exp(-mean ln P)
    "lm_perplexity": """
WITH wl AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
  FROM wl, UNNEST(range(0, greatest(len(ws)-2, 0)+1)) AS t(i)
  WHERE len(ws) >= 2
), uni AS (
  SELECT w1, COUNT(*) AS c1 FROM (
    SELECT u.w AS w1 FROM wl, UNNEST(ws) AS u(w)
  ) GROUP BY w1
), bi AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
), v AS (SELECT COUNT(*) AS vs FROM uni
), lp AS (
  SELECT bg.doc_id,
         ln((COALESCE(bi.c2, 0) + 1.0)
            / (COALESCE(uni.c1, 0) + 1.0 * v.vs)) AS lp
  FROM bg LEFT JOIN bi USING (w1, w2) LEFT JOIN uni USING (w1), v
), agg AS (
  SELECT doc_id, ROUND(exp(-AVG(lp)), 6) AS ppl FROM lp GROUP BY doc_id
)
SELECT d.doc_id, agg.ppl FROM documents d LEFT JOIN agg USING (doc_id)
""",
    "corpus_profile": """
SELECT source, COUNT(*) AS n_docs,
       SUM(len(string_split(text, ' ')))::BIGINT AS total_words,
       MIN(length(text)) AS min_chars, MAX(length(text)) AS max_chars,
       ROUND(AVG(length(text)), 6) AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
""",
}

# queries with no SQL oracle (the driver records a rows-only check).
# Every query MUST carry an oracle (pinned by tests/test_entry_contract.py);
# the former members (image_resize, audio_meta) now recompute their decode
# math in DuckDB via hex-pair byte extraction + list comprehensions.
ROWS_ONLY: set[str] = set()


def flagship(spark: SparkSession) -> DataFrame:
    """Smoke-check entry: index sf0.001 documents, answer the flagship query
    with metadata (the full user-facing result shape)."""
    eng = get_engine(spark, "/root/testdata/sf0.001")
    return eng.search("hash AND join", k=10)
