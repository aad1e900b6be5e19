"""Distributed BM25 top-k search over the persisted inverted index.

Query plan (all JVM-side Catalyst expressions; Python only in the Arrow
varint decoder):

  1. parse (driver) -> AST + per-query special terms
     (probe_spark/query/parser.py; grammar = elastic_query.rs:519-967)
  2. classify keywords: normal terms hit the token postings; exact/excluded
     ("special") terms resolve per the reference's dynamic-special-term
     semantics (see `_special_plan`, below)
  3. postings fetch: filter on (bucket, term) -> partition pruning on the
     bucket directory + parquet row-group pruning on term -> mapInArrow
     varint decode to (term, doc_id, dl)
  4. df per term from segment metadata (sum of df_seg; driver-side collect of
     <= 256 tiny rows), idf = ln(1 + (N - df + .5)/(df + .5))
     (ranking.rs:129-143)
  5. candidates — two shapes:
     a. doc-range-partitioned (the default for top-k queries,
        `_search_ranged` / search/ranged.py): ONE exchange of the
        compressed varint segments hash-partitioned on fixed-width doc
        ranges, then a vectorized Arrow worker per range decodes only its
        overlapping blocks and evaluates the AST in numpy, emitting its
        per-range top-k — no per-posting row shuffle.  Special terms that
        trigger retokenization repair ride it too: the affected set
        (driver-capped) is retokenized in one distributed job, scored on
        the driver with repaired presence/dl/df/avgdl, and the ranges
        skip those ids (`_repair_overlay`);
     b. full path (repair past the driver caps/session-exclude/
        metadata-match/k=None):
        groupBy(doc_id) -> hits = collect_set(term) (shuffle bounded by
        docs-matching-any-term); for queries satisfiable by docs with NO
        term hit (e.g. only-excluded queries) the docs table is
        left-joined so every doc is a candidate — same semantics as the
        reference, which scores every extracted block
  6. filter + score: the AST compiles to nested when/otherwise Column trees
     (evaluate: elastic_query.rs:148-292; scoring incl. must/must_not gates:
     ranking.rs:226-274); TF is binary (the tokenizer dedups), so
     score = C(dl) * sum(idf of present keywords) with
     C(dl) = (k1+1)/(1 + k1*(1 - b + b*dl/avgdl)), k1=1.5 b=0.5
     (ranking.rs:186-208, 361-362)
  7. orderBy(score desc, doc_id asc).limit(k) -> TakeOrderedAndProject
     (distributed top-k, no global sort), then the k winners are
     materialized (driver-scale) and their metadata fetched from docs/ by
     doc_id — footer-pruned file list + pushed-down In predicate, O(k)
     files/row groups per query instead of a full corpus scan
     (``_with_meta``).

Special (exact/excluded) terms — reference semantics under the default SIMD
dispatch (simd_tokenization.rs:120-133) are reproduced as follows: a special
keyword K matches a doc iff the G-tokenization emits K, which requires
K == lower(K), K alphanumeric, not a stop word, and K == stem(K) or K an
exception term; the doc-side occurrences come from (a) the token index when
the base tokenizer keeps K whole anyway (G-tokenization == base tokenization)
or (b) the raw-word index when the base would split K.  The raw index
stores, per doc, every lookup key a special could consult — full runs,
base camel parts, and special-prefix suffixes (tokenizer
_word_special_runs, format v7) — so K occurring only as a camelCase
*fragment* of a longer word ('hashmap' in 'myHashmapImpl') is credited
too: the doc enters the repair join and is retokenized with K registered,
exactly like the reference's global add_special_term.  (Closed round-1
deviation; pinned by tests/test_special_camel_fragment.py.)
"""

from __future__ import annotations

import math
import os
import threading
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from probe_spark.functions import tokenizer as tok
from probe_spark.functions.porter2 import stem
from probe_spark.index.codec import PostingsDirectory
from probe_spark.index.xxhash import spark_bucket
from probe_spark.query import ast
from probe_spark.query.parser import ParseError, parse_query
from probe_spark.runtime import ensure_package_on_executors, warm_python_workers

K1 = 1.5
B = 0.5
MAX_QUERY_TERMS = 256
# affected-doc fetches at or below this cardinality go through a literal
# doc_id IN (...) predicate (parquet row-group pruning); above it, a
# broadcast-join full scan is the lesser evil (a 100k-literal In bloats
# planning more than the scan saves)
ISIN_PUSHDOWN_CAP = 10_000
# distinguishes "repair bundle not cached" from the cached "special terms
# affect no doc" outcome (stored as None)
_REPAIR_MISS = object()
# sentinel for "docs/ footer ranges not swept yet" (None = swept, unusable)
_UNSET: "object" = object()
# conjunctive pruning drives candidates from the smallest-df mandatory
# keyword; above this df the candidate set is too big to broadcast (longs,
# so ~16MB at the cap) and the full groupBy path is used instead.  At
# 10^12-doc scale this would instead switch to a shuffle-join ladder.
BROADCAST_DF_CAP = 2_000_000
# repair-overlay cap: special-term queries whose raw-word affected set is
# at or below this ride the doc-range path with a repaired overlay
# (ids + presence bitmasks + dls, ~20 B/doc columnar numpy) instead of
# the full groupBy path.  The arrays ship to the ranges as a REAL Spark
# broadcast — serialized once per query shape and cached on executors,
# never re-pickled into each query's task closure — so the cap is sized
# by driver/executor memory (~80 MB/bundle at the cap), not by per-query
# shipping cost.  Past it the affected set is too big to hold anywhere
# in one piece and the distributed repair join takes over; at 10^12-doc
# scale a hot excluded word exceeds any cap and correctly falls back.
REPAIR_OVERLAY_CAP = 4_000_000
# session-exclude sets at or below this are collected to the driver and
# ride the doc-range path as exclude_ids (seen sets are prior result
# pages, so k-scale by construction); a larger exclude DataFrame falls
# back to the full path's left_anti join
EXCLUDE_COLLECT_CAP = 100_000
# metadata-scoped search (where=): allowed-id sets at or below this ride
# the doc-range path as a driver-resident sorted array (int64, so ~16MB at
# the cap) with whole-range pruning; a broader predicate falls back to the
# full path's distributed semi-join.  The column-pruned + pushed-down
# docs scan that resolves the set reads only doc_id + the predicate's
# columns — never text — so resolution is cheap even when it overflows.
ALLOW_COLLECT_CAP = 2_000_000
# driver-side range pruning: isin() literal list cap for the exploded
# range_id filter (past this the mask inside the range workers still cuts
# candidates; only the whole-range skip is lost)
ALLOW_RANGE_PRUNE_CAP = 8_192

_DECODED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("src", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("dl", IntegerType(), False),
    ]
)


def _decode_map_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """(term, src, docs_bin, dl_bin) -> exploded (term, src, doc_id, dl)."""
    import numpy as np

    from probe_spark.index.codec import decode_postings

    for batch in batches:
        terms = batch.column("term").to_pylist()
        srcs = batch.column("src").to_pylist()
        docs_bins = batch.column("docs_bin").to_pylist()
        dl_bins = batch.column("dl_bin").to_pylist()
        out_term: list[str] = []
        out_src: list[str] = []
        out_ids: list = []
        out_dl: list = []
        for t, s, db, lb in zip(terms, srcs, docs_bins, dl_bins):
            ids, dls = decode_postings(db, lb)
            out_term.extend([t] * len(ids))
            out_src.extend([s] * len(ids))
            out_ids.append(ids)
            out_dl.append(dls)
        ids_all = (
            np.concatenate(out_ids) if out_ids else np.empty(0, dtype=np.int64)
        )
        dl_all = (
            np.concatenate(out_dl).astype(np.int32)
            if out_dl
            else np.empty(0, dtype=np.int32)
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_term, pa.string()),
                pa.array(out_src, pa.string()),
                pa.array(ids_all, pa.int64()),
                pa.array(dl_all, pa.int32()),
            ],
            names=["term", "src", "doc_id", "dl"],
        )


# block decode emits the same exploded shape as the full-segment decode
_DECODE_KEEP_SCHEMA = _DECODED_SCHEMA


def _decode_blocks_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """(term, docs_bin, dl_bin, block_last_doc, block_doc_off, block_dl_off,
    keep) -> exploded (term, src='tok', doc_id, dl) decoding ONLY the kept
    blocks (block-max WAND survivors)."""
    import numpy as np

    from probe_spark.index.codec import decode_blocks

    for batch in batches:
        terms = batch.column("term").to_pylist()
        docs_bins = batch.column("docs_bin").to_pylist()
        dl_bins = batch.column("dl_bin").to_pylist()
        lasts = batch.column("block_last_doc").to_pylist()
        doc_offs = batch.column("block_doc_off").to_pylist()
        dl_offs = batch.column("block_dl_off").to_pylist()
        keeps = batch.column("keep").to_pylist()
        out_term: list[str] = []
        out_ids: list = []
        out_dl: list = []
        for t, db, lb, bl, doff, loff, kp in zip(
            terms, docs_bins, dl_bins, lasts, doc_offs, dl_offs, keeps
        ):
            if kp is None:  # decode-all marker (pruning ineffective)
                kp = range(len(bl))
            ids, dls = decode_blocks(db, lb, bl, doff, loff, kp)
            out_term.extend([t] * len(ids))
            out_ids.append(ids)
            out_dl.append(dls)
        ids_all = (
            np.concatenate(out_ids) if out_ids else np.empty(0, dtype=np.int64)
        )
        dl_all = (
            np.concatenate(out_dl).astype(np.int32)
            if out_dl
            else np.empty(0, dtype=np.int32)
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_term, pa.string()),
                pa.array(["tok"] * len(out_term), pa.string()),
                pa.array(ids_all, pa.int64()),
                pa.array(dl_all, pa.int32()),
            ],
            names=["term", "src", "doc_id", "dl"],
        )


def _make_decode_topk_arrow(k: int):
    """Single-term WAND decode that keeps only the partition-local top-k
    INSIDE the Arrow stage: score = idf * tf_norm(dl) is strictly
    decreasing in dl (single keyword, binary tf), ties broken doc_id asc,
    so the k smallest (dl, doc_id) pairs per partition are exactly the
    partition's best k — the Python->JVM boundary then carries <=k rows
    per task instead of the term's whole decoded posting list (a hot term
    at 10^12 turns would otherwise ship millions of rows to TakeOrdered)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        from probe_spark.index.codec import decode_blocks

        chunks_i: list = []
        chunks_d: list = []
        for batch in batches:
            docs_bins = batch.column("docs_bin").to_pylist()
            dl_bins = batch.column("dl_bin").to_pylist()
            lasts = batch.column("block_last_doc").to_pylist()
            doc_offs = batch.column("block_doc_off").to_pylist()
            dl_offs = batch.column("block_dl_off").to_pylist()
            keeps = batch.column("keep").to_pylist()
            for db, lb, bl, doff, loff, kp in zip(
                docs_bins, dl_bins, lasts, doc_offs, dl_offs, keeps
            ):
                if kp is None:  # decode-all marker (pruning ineffective)
                    kp = range(len(bl))
                ids, dls = decode_blocks(db, lb, bl, doff, loff, kp)
                chunks_i.append(ids)
                chunks_d.append(dls.astype(np.int32))
        if not chunks_i:
            ids_all = np.empty(0, dtype=np.int64)
            dl_all = np.empty(0, dtype=np.int32)
        else:
            ids_all = np.concatenate(chunks_i)
            dl_all = np.concatenate(chunks_d)
        if ids_all.size > k:
            # O(n) selection instead of a full lexsort: the k-th smallest
            # dl bounds the winners; ties on that dl resolve by doc_id asc
            kth = np.partition(dl_all, k - 1)[k - 1]
            lt = np.flatnonzero(dl_all < kth)
            need = k - lt.size
            eq = np.flatnonzero(dl_all == kth)
            if need < eq.size:
                eq = eq[np.argpartition(ids_all[eq], need - 1)[:need]]
            sel = np.concatenate([lt, eq])
            ids_all, dl_all = ids_all[sel], dl_all[sel]
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids_all, pa.int64()), pa.array(dl_all, pa.int32())],
            names=["doc_id", "dl"],
        )

    return gen


def _matched_terms_col(present: dict[str, Column]) -> Column:
    """Sorted-deduped matched query keywords per doc
    (file_processing.rs:1447-1488) from the presence predicates."""
    kws = sorted(present)
    return F.array_compact(
        F.array(*[F.when(present[kw], F.lit(kw)) for kw in kws])
    )


def _tf_norm_col(avgdl: float) -> Column:
    """BM25 tf-normalization with tf==1 over the per-doc dl column:
    (k1+1)/(1 + k1*(1 - b + b*dl/avgdl)) — ranking.rs:186-208."""
    return F.lit(K1 + 1.0) / (
        F.lit(1.0)
        + F.lit(K1)
        * (F.lit(1.0 - B) + F.lit(B) * (F.col("dl").cast("double") / F.lit(avgdl)))
    )


def _check_format_version(stats_row, index_path: str) -> None:
    """Refuse to query an index written by an incompatible layout version —
    varint/segment layout changes would otherwise mis-decode silently."""
    from probe_spark.index.build import FORMAT_VERSION

    try:
        v = stats_row["format_version"]
    except (KeyError, ValueError):
        v = None
    if v is not None and int(v) != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_path} has format_version {v}, this engine "
            f"reads {FORMAT_VERSION}: rebuild the index"
        )


def _wand_eligible(expr: ast.Expr) -> bool:
    """True iff the query is a pure disjunction of single-keyword optional
    terms — the classic (block-max) WAND setting.  Multi-keyword terms have
    all-of evaluation semantics and AND/required/excluded/exact shapes
    change which docs qualify, which would invalidate the bootstrap
    threshold (theta must lower-bound the k-th score of QUALIFYING docs)."""

    def rec(e: ast.Expr) -> bool:
        if isinstance(e, ast.Term):
            return (
                not e.required
                and not e.excluded
                and not e.exact
                and len(e.keywords) == 1
            )
        if isinstance(e, ast.Or):
            return rec(e.left) and rec(e.right)
        return False

    return rec(expr)


@dataclass
class SpecialPlan:
    keyword: str  # the query-map lookup key (original case)
    matchable: bool  # False => present nowhere
    lookup: str  # term string to fetch


def _pure_conjunction(expr: "ast.Expr") -> bool:
    """True when expr is an And-tree of simple Terms (no Or, no excluded/
    exact/field terms, non-empty keywords) whose required flags are
    all-or-none.  Then _compile_eval reduces to "EVERY keyword present"
    (Term = all-of its keywords; And = both sides; the required-anywhere
    check adds nothing new when all terms are required, and an optional
    term among required ones would weaken the gate — hence all-or-none)
    and _compile_score to the plain sum of keyword BM25 — exactly the
    semi-join ladder + arithmetic the single-Term fast path runs."""
    terms: list[ast.Term] = []

    def rec(e: "ast.Expr") -> bool:
        if isinstance(e, ast.Term):
            if e.excluded or e.exact or e.field is not None or not e.keywords:
                return False
            terms.append(e)
            return True
        if isinstance(e, ast.And):
            return rec(e.left) and rec(e.right)
        return False

    if not rec(expr):
        return False
    req = [t.required for t in terms]
    return all(req) or not any(req)


def special_keywords(expr: "ast.Expr") -> set[str]:
    """Keywords of exact/excluded terms — they use special resolution
    (raw-token lookup / G-set registration) instead of plain stemming."""
    out: set[str] = set()
    for t in ast.walk_terms(expr):
        if t.exact or t.excluded:
            out.update(t.keywords)
    return out


def zero_included(expr: "ast.Expr") -> bool:
    """True when a doc holding NO query keyword still qualifies (e.g. a
    lone excluded term) — such queries must score the whole corpus and
    can never ride a postings-driven candidate path."""
    return ast.evaluate(expr, lambda kw: False) and (
        ast.score(expr, lambda kw: 0.0) is not None
    )


def affecting_specials(
    plans: "dict[str, SpecialPlan]",
) -> "tuple[frozenset, list[str]]":
    """(G set, registration-affecting words): special lookups whose G-set
    registration CHANGES how their own raw word tokenizes — those docs
    need the retokenization repair before scoring."""
    g_set0 = frozenset(
        p.lookup
        for p in plans.values()
        if p.lookup and all(c.isalnum() for c in p.lookup)
    )
    affecting0 = sorted(
        w for w in g_set0 if tok.tokenize(w) != tok.tokenize(w, g_set0)
    )
    return g_set0, affecting0


def special_plan(keyword: str) -> SpecialPlan:
    """Resolve how an exact/excluded keyword matches docs (see module doc).

    matchable requires: all-lowercase alphanumeric, not a stop word, and the
    keyword survives its own emission (kw == stem(kw) or kw is an exception
    term) — otherwise the reference's query-token-map lookup never matches a
    doc token (ranking.rs:186-201 with lowercase doc tokens).
    When the base tokenizer keeps kw whole, base tokenization equals the
    per-query-special tokenization and the token index alone is exact; when
    base would split kw, whole-word occurrences come from the raw index and
    stem-collisions from other words still come from the token index.
    """
    w = keyword.lower()
    if keyword != w or not w or not all(c.isalnum() for c in w):
        return SpecialPlan(keyword, False, w)
    if tok.is_stop_word(w):
        return SpecialPlan(keyword, False, w)
    emitted = {stem(w)} | ({w} if tok.is_exception_term(w) else set())
    if w not in emitted:
        return SpecialPlan(keyword, False, w)
    return SpecialPlan(keyword, True, w)


class SearchEngine:
    def __init__(self, spark: SparkSession, index_path: str):
        self.spark = spark
        self.index_path = index_path
        ensure_package_on_executors(spark)
        warm_python_workers(spark)
        stats = spark.read.parquet(f"{index_path}/stats").collect()[0]
        _check_format_version(stats, index_path)
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        self.n_buckets = int(stats["n_buckets"])
        self.docs = spark.read.parquet(f"{index_path}/docs")
        # guards bounded-cache EVICTION under QueryService's thread pool
        # (search/service.py runs search() on up to 16 threads): without
        # it two threads can race the FIFO pop of the same first key and
        # the loser raises KeyError.  Reads stay lock-free (CPython dict
        # get is atomic); only the evict+insert windows take the lock.
        # Preserved across refresh()'s re-__init__: rebinding a fresh Lock
        # while pool threads hold/contend the old one would let two threads
        # run the evict window under DIFFERENT locks.
        if not hasattr(self, "_cache_lock"):
            self._cache_lock = threading.Lock()
        self._df_cache: dict[str, int] = {}
        # docs/ per-file doc_id ranges (footer sweep, lazy; _UNSET until
        # first _with_meta) — prunes the winner-metadata fetch to O(k) files
        self._docs_ranges: "list[tuple[str, int, int]] | None" = _UNSET
        # per-term WAND metadata + bootstrap-block memos (query services
        # repeat terms across queries; each miss costs a ~0.3s collect job)
        self._meta_cache: dict[str, list] = {}
        self._boot_cache: dict[tuple, tuple] = {}
        # columnar per-term block tables for WAND selection (index-only
        # data — arrays of block start/last/min_dl + segment addresses)
        self._blocktab_cache: dict[str, dict] = {}
        # winner metadata rows by doc_id (FIFO; ~200 B/doc)
        self._docmeta_cache: dict[int, dict] = {}
        # special-term repair bundles keyed by (special set, lookup tuple):
        # (persisted retok DataFrame, stats rows, broadcast anti-id frame).
        # Query services repeat excluded/exact-term queries; a hit skips the
        # affected-doc retokenization AND the stats job entirely.
        self._repair_cache: dict[tuple, tuple] = {}
        # driver-resident repair overlays for the ranged path, same key:
        # (ids, presence, dls, df_adj, dl_delta) or None (= infeasible,
        # use the full path).  ~10 B/affected doc; capped per bundle by
        # REPAIR_OVERLAY_CAP and FIFO-bounded across bundles.
        self._overlay_cache: dict[tuple, "tuple | None"] = {}
        # scoped-search allowed-id sets keyed by the where string
        # (None = overflowed ALLOW_COLLECT_CAP -> distributed semi-join);
        # query services repeat scopes (dashboards pin a time window),
        # FIFO-bounded like the repair cache
        self._allow_cache: dict[str, "object"] = {}
        # tombstoned doc_ids (index/maintenance.delete_where): lazily
        # loaded (ids array | None, overflow bool); refresh() re-reads
        self._tomb_state: "object" = _UNSET
        segments = spark.read.parquet(f"{index_path}/postings")
        # kind is a partition directory -> these filters prune at the source
        self.postings = segments.filter(F.col("kind") == "tok")
        self.raw_postings = segments.filter(F.col("kind") == "raw")
        # driver-side reader of the same segment files (POSIX-visible
        # indexes only); refresh() replaces it with a fresh listing
        self.postings_dir = PostingsDirectory(index_path, self.n_buckets)

    def refresh(self) -> None:
        """Reload stats, docs, and segment listings — for long-lived query
        services over a streaming-ingested index (new micro-batches appear
        after a refresh; queries between refreshes see a consistent older
        snapshot)."""
        # The whole clear + re-__init__ runs under the (preserved) cache
        # lock: a pool thread mid-eviction finishes under the same lock
        # object before the caches are rebound, and threads that enter an
        # evict window after refresh() see the new dicts.  Lock-free cache
        # READS during the window may see either snapshot — a miss just
        # recomputes against the new index state, which is the documented
        # refresh semantics.
        with self._cache_lock:
            self._df_cache.clear()
            self._meta_cache.clear()
            self._boot_cache.clear()
            self._blocktab_cache.clear()
            self._docmeta_cache.clear()
            for bundle in self._overlay_cache.values():
                if bundle is not None and bundle[5] is not None:
                    bundle[5].unpersist(blocking=False)
            self._overlay_cache.clear()
            for bundle in self._repair_cache.values():
                if bundle is not None:
                    bundle[0].unpersist(blocking=False)
            self._repair_cache.clear()
            self.__init__(self.spark, self.index_path)

    # -- postings access ------------------------------------------------------
    def _fetch(self, source: DataFrame, terms: list[str], src_label: str):
        """Bucket-pruned + term-pruned segment fetch.  Buckets are computed
        driver-side with the XXH64 parity implementation (no extra job)."""
        if not terms:
            return None
        buckets = sorted({spark_bucket(t, self.n_buckets) for t in terms})
        return source.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        ).select("term", F.lit(src_label).alias("src"), "docs_bin", "dl_bin")

    def _decode_terms(self, terms: list[str]) -> DataFrame:
        """Pruned fetch + varint decode of the token postings for ``terms``
        (its own parquet scan — decoding one term never pays for another's
        segments; mapInArrow is a pushdown barrier, so filtering a shared
        decode by term would decode everything)."""
        f = self._fetch(self.postings, terms, "tok")
        return f.mapInArrow(_decode_map_arrow, _DECODED_SCHEMA)

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        """df per term from segment metadata (sum of df_seg — a pruned
        parquet column scan, no posting decode), memoized per engine.

        POSIX-visible indexes resolve this driver-side with pyarrow
        (``PostingsDirectory.tok_segments`` — milliseconds); otherwise one
        pruned Spark aggregate (~0.3s of scheduling, paid once per cold
        term)."""
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            local = self.postings_dir.tok_segments(missing, ["term", "df_seg"])
            if local is not None:
                found: dict[str, int] = {}
                for r in local:
                    found[r["term"]] = found.get(r["term"], 0) + int(
                        r["df_seg"]
                    )
            else:
                buckets = sorted(
                    {spark_bucket(t, self.n_buckets) for t in missing}
                )
                rows = (
                    self.postings.filter(
                        F.col("bucket").isin(buckets)
                        & F.col("term").isin(missing)
                    )
                    .groupBy("term")
                    .agg(F.sum("df_seg").alias("df"))
                    .collect()
                )
                found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def _distinct_tools(self) -> list[str]:
        """Distinct tool metadata values (cached; the filename-match analog
        assumes tool is a low-cardinality dimension — a high-cardinality
        metadata field would get its own postings table instead, the
        SURVEY §1.3 mapping)."""
        if not hasattr(self, "_tools"):
            self._tools = [
                r["tool"]
                for r in self.docs.select("tool").distinct().collect()
                if r["tool"] is not None
            ]
        return self._tools

    @staticmethod
    def _tool_matches(tool: str, kw: str) -> bool:
        """Reference filename-match rule (file_list_cache.rs:357-457,
        bidirectional substring at :428) applied to a metadata value's
        tokens."""
        return any(kw in t or t in kw for t in tok.tokenize(tool))

    def _ladder_candidates(self, lookups: list[str], dfs: dict[str, int]):
        """Conjunctive candidate set: docs containing ALL of ``lookups``,
        built as a broadcast semi-join ladder ascending by df — the
        smallest posting list drives, each further list is filtered
        map-side against the broadcast of the shrinking candidate set, so
        a hot term's postings are never shuffled (SURVEY §7: intersect
        first).  Returns a (doc_id, dl) DataFrame (dl from the LAST rung,
        identical across rungs — dl is a doc property)."""
        order = sorted(lookups, key=lambda t: (dfs.get(t, 0), t))
        cur = self._decode_terms([order[0]]).select("doc_id", "dl")
        for t in order[1:]:
            cur = self._decode_terms([t]).select("doc_id", "dl").join(
                F.broadcast(cur.select("doc_id")), "doc_id", "semi"
            )
        return cur

    # -- query compilation ----------------------------------------------------
    def _compile_score(
        self, expr: ast.Expr, idfs: dict[str, float], present: dict[str, Column]
    ) -> Column:
        """AST -> nullable score Column (null == excluded), ranking.rs:226-274.

        kw BM25 = idf * (k1+1) / (1 + C_den) with tf==1; the dl-dependent
        denominator is shared, so each keyword contributes
        present(kw) * idf(kw) * tf_norm where tf_norm is a per-doc column.
        """
        tf_norm = F.col("_tf_norm")

        def kw_score(kw: str) -> Column:
            idf = idfs.get(kw, 0.0)
            if idf == 0.0 or kw not in present:
                return F.lit(0.0)
            return F.when(present[kw], F.lit(idf) * tf_norm).otherwise(F.lit(0.0))

        def rec(e: ast.Expr) -> Column:
            if isinstance(e, ast.Term):
                s = F.lit(0.0)
                for kw in e.keywords:
                    s = s + kw_score(kw)
                if e.excluded:
                    return F.when(s > 0.0, F.lit(None).cast("double")).otherwise(
                        F.lit(0.0)
                    )
                if e.required:
                    return F.when(s > 0.0, s).otherwise(F.lit(None).cast("double"))
                return s
            if isinstance(e, ast.And):
                l, r = rec(e.left), rec(e.right)
                return F.when(
                    l.isNull() | r.isNull(), F.lit(None).cast("double")
                ).otherwise(l + r)
            l, r = rec(e.left), rec(e.right)
            return F.when(
                l.isNull() & r.isNull(), F.lit(None).cast("double")
            ).otherwise(
                F.coalesce(l, F.lit(0.0)) + F.coalesce(r, F.lit(0.0))
            )

        return rec(expr)

    def _compile_eval(
        self, expr: ast.Expr, present: dict[str, Column]
    ) -> Column:
        """AST -> boolean Column (elastic_query.rs:148-292, negations on)."""

        def pres(kw: str) -> Column:
            return present.get(kw, F.lit(False))

        has_req = ast.has_required_term(expr)

        def rec(e: ast.Expr) -> Column:
            if isinstance(e, ast.Term):
                if not e.keywords:
                    return F.lit(e.excluded)
                all_p = F.lit(True)
                any_p = F.lit(False)
                for kw in e.keywords:
                    all_p = all_p & pres(kw)
                    any_p = any_p | pres(kw)
                if e.excluded:
                    return ~any_p
                if e.required:
                    return all_p
                if has_req:
                    return F.lit(True)
                return any_p & all_p
            if isinstance(e, ast.And):
                return rec(e.left) & rec(e.right)
            return rec(e.left) | rec(e.right)

        result = rec(expr)
        if has_req:
            req_check = F.lit(True)
            for t in ast.walk_terms(expr):
                if t.required and not t.excluded:
                    for kw in t.keywords:
                        req_check = req_check & pres(kw)
            result = req_check & result
        return result

    # -- block-max WAND path --------------------------------------------------
    def _search_pruned(
        self,
        expr: ast.Expr,
        token_terms: list[str],
        k: int,
        with_metadata: bool,
    ) -> DataFrame:
        """Exact top-k for pure disjunctive queries via block-max pruning
        (see probe_spark.search.wand).  Three metadata-scale steps pick the
        surviving blocks; only those decode."""
        import numpy as np

        from probe_spark.search import wand

        spark = self.spark
        buckets = sorted({spark_bucket(t, self.n_buckets) for t in token_terms})
        seg_filter = F.col("bucket").isin(buckets) & F.col("term").isin(
            token_terms
        )
        # 1. metadata collect: no binary columns -> pruned parquet scan;
        #    memoized per term (repeat terms across a query service's
        #    queries skip the job entirely)
        # snapshot hits first: pool threads share this cache and another
        # query's eviction pass (its `needed` set differs) could drop a
        # term between the membership test and the read below
        local_meta = {
            t: m
            for t in token_terms
            if (m := self._meta_cache.get(t)) is not None
        }
        miss = [t for t in token_terms if t not in local_meta]
        if miss:
            # POSIX-visible index: pyarrow metadata read, no Spark job
            # (same driver-local metadata plane as _term_dfs)
            meta_rows = self.postings_dir.tok_segments(
                miss,
                [
                    "term", "salt", "seg_seq", "df_seg", "min_doc",
                    "max_doc", "block_last_doc", "block_min_dl",
                ],
            )
            if meta_rows is None:
                miss_buckets = sorted(
                    {spark_bucket(t, self.n_buckets) for t in miss}
                )
                meta_rows = (
                    self.postings.filter(
                        F.col("bucket").isin(miss_buckets)
                        & F.col("term").isin(miss)
                    )
                    .select(
                        "term", "salt", "seg_seq", "df_seg", "min_doc",
                        "max_doc", "block_last_doc", "block_min_dl",
                    )
                    .collect()
                )
            fetched: dict[str, list] = {t: [] for t in miss}
            for r in meta_rows:
                fetched[r["term"]].append(
                    wand.SegmentMeta(
                        r["term"], int(r["salt"]), int(r["seg_seq"]),
                        int(r["min_doc"]), int(r["max_doc"]),
                        np.asarray(r["block_last_doc"], dtype=np.int64),
                        np.asarray(r["block_min_dl"], dtype=np.int32),
                        int(r["df_seg"]),
                    )
                )
            # FIFO-evict down to the cap, never touching terms this query
            # needs; block arrays are ~KB-20KB/term.  Inserts go through
            # the lock; this query reads its own local_meta snapshot.
            with self._cache_lock:
                needed = set(token_terms)
                while len(self._meta_cache) >= 2048:
                    victim = next(
                        (t for t in self._meta_cache if t not in needed),
                        None,
                    )
                    if victim is None:
                        break
                    self._meta_cache.pop(victim, None)
                self._meta_cache.update(fetched)
            local_meta.update(fetched)
        metas = [m for t in token_terms for m in local_meta[t]]
        df_by_term: dict[str, int] = {}
        for m in metas:
            df_by_term[m.term] = df_by_term.get(m.term, 0) + m.df_seg
        for t in token_terms:
            self._df_cache.setdefault(t, df_by_term.get(t, 0))
        idfs = {
            t: math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            for t, df in df_by_term.items()
            if df > 0
        }
        empty = self._empty(with_metadata)
        if not idfs:
            return empty

        # columnar per-term block tables (cached: the arrays depend only on
        # the index, not the query) — no per-block Python objects anywhere
        # on the query path
        tabs: dict = {}
        for t in token_terms:
            tab = self._blocktab_cache.get(t)
            if tab is None:
                tab = wand.term_block_table(local_meta[t])
                with self._cache_lock:
                    while len(self._blocktab_cache) >= 2048:
                        victim = next(
                            (
                                x
                                for x in self._blocktab_cache
                                if x not in token_terms
                            ),
                            None,
                        )
                        if victim is None:
                            break
                        self._blocktab_cache.pop(victim, None)
                    self._blocktab_cache[t] = tab
            if len(tab["min_dl"]):
                tabs[t] = tab
        best: dict = {}
        for t, tab in tabs.items():
            idf = idfs.get(t, 0.0)
            if idf <= 0.0:
                continue
            u = idf * wand.c_factor(tab["min_dl"], self.avgdl)
            i = int(np.argmax(u))
            best[t] = wand.BlockRef(
                t, int(tab["salt"][i]), int(tab["seg_seq"][i]),
                int(tab["seg_min_doc"][i]), int(tab["block"][i]),
                int(tab["start"][i]), int(tab["last"][i]), float(u[i]),
            )

        # 2. theta bootstrap: decode ONE best block per term (driver-side;
        #    bounded by max_postings_per_segment bytes per term)
        theta = 0.0
        if best:
            from probe_spark.index.codec import decode_blocks

            # bootstrap blocks are per-(segment, block) constants — memoize
            # so repeat terms skip this collect too
            pairs = [
                (b.term, b.salt, b.seg_seq, b.min_doc)
                for b in best.values()
                if (b.term, b.salt, b.seg_seq, b.min_doc, b.block)
                not in self._boot_cache
            ]
            pair_col = F.struct(
                F.col("term"), F.col("salt"), F.col("seg_seq"),
                F.col("min_doc"),
            )
            want = [
                F.struct(
                    F.lit(t), F.lit(s), F.lit(q), F.lit(m).cast("long")
                )
                for t, s, q, m in pairs
            ]
            boot_rows = (
                (
                    self.postings.filter(seg_filter)
                    .filter(pair_col.isin(*want))
                    .select(
                        "term", "salt", "seg_seq", "min_doc", "docs_bin",
                        "dl_bin", "block_last_doc", "block_doc_off",
                        "block_dl_off",
                    )
                    .collect()
                )
                if want
                else []
            )
            by_pair = {
                (r["term"], int(r["salt"]), int(r["seg_seq"]),
                 int(r["min_doc"])): r
                for r in boot_rows
            }
            decoded = []
            for b in best.values():
                ck = (b.term, b.salt, b.seg_seq, b.min_doc, b.block)
                hit = self._boot_cache.get(ck)
                if hit is None:
                    r = by_pair.get((b.term, b.salt, b.seg_seq, b.min_doc))
                    if r is None:
                        continue
                    hit = decode_blocks(
                        bytes(r["docs_bin"]), bytes(r["dl_bin"]),
                        r["block_last_doc"], r["block_doc_off"],
                        r["block_dl_off"], [b.block],
                    )
                    while len(self._boot_cache) >= 4096:
                        del self._boot_cache[next(iter(self._boot_cache))]
                    self._boot_cache[ck] = hit
                decoded.append((b.term, hit[0], hit[1]))
            theta = wand.partial_theta(decoded, idfs, self.avgdl, k)

        # 3. sweep + selection
        keep_masks, stats = wand.select_blocks_columnar(
            tabs, idfs, self.avgdl, theta
        )
        self.last_wand_stats = {**stats, "theta": theta}
        if stats["blocks_kept"] == 0:
            return empty
        if (
            not isinstance(expr, ast.Term)
            and stats["blocks_kept"] > 0.5 * stats["blocks_total"]
        ):
            # block-max pruning is ineffective here (narrow dl spread
            # keeps every block's upper bound above theta — measured
            # blocks_kept == blocks_total on hot-term OR queries), so the
            # decode is ~full either way and the groupBy(doc_id) row
            # shuffle would dominate.  The doc-range-partitioned path
            # does the same decode but evaluates locally per range.
            return self._search_ranged(
                expr, {t: t for t in token_terms}, k, with_metadata
            )
        if stats["blocks_kept"] >= 0.9 * stats["blocks_total"]:
            # pruning is ineffective (narrow dl spread keeps ~every
            # block's upper bound above theta): decoding the few extra
            # blocks is far cheaper than materializing + broadcasting a
            # keep manifest row per surviving segment (a 60%-df term has
            # ~100k segments — driver-serializing that per query WAS the
            # cost).  keep=null tells the decoders "all blocks"; decoding
            # a superset is exact (extra docs score below theta <= k-th).
            joined = self.postings.filter(seg_filter).withColumn(
                "keep", F.lit(None).cast(ArrayType(IntegerType()))
            )
            # a hot term's segments live in ONE bucket file, usually under
            # maxPartitionBytes -> the whole decode would run as a single
            # task; spreading the (compressed, ~1.2 B/posting) segment
            # rows across the cores first costs one tiny exchange and
            # buys a parallel decode — the same bytes-not-rows exchange
            # shape the doc-range path uses
            n_par = min(
                2 * self.spark.sparkContext.defaultParallelism, len(metas)
            )
            if n_par > 1:
                joined = joined.repartition(n_par)
        else:
            # materialize the (small) keep manifest from the masks —
            # iterates only surviving blocks
            keep: dict[tuple, list[int]] = {}
            for t, m in keep_masks.items():
                tab = tabs[t]
                for i in np.flatnonzero(m).tolist():
                    keep.setdefault(
                        (
                            t,
                            int(tab["salt"][i]),
                            int(tab["seg_seq"][i]),
                            int(tab["seg_min_doc"][i]),
                        ),
                        [],
                    ).append(int(tab["block"][i]))
            keep_df = spark.createDataFrame(
                [
                    (t, s, q, m, sorted(blocks))
                    for (t, s, q, m), blocks in keep.items()
                ],
                "term string, salt int, seg_seq int, min_doc long, "
                "keep array<int>",
            )
            joined = self.postings.filter(seg_filter).join(
                F.broadcast(keep_df),
                ["term", "salt", "seg_seq", "min_doc"],
            )

        tf_norm = _tf_norm_col(self.avgdl)
        if isinstance(expr, ast.Term):
            # single optional term (WAND eligibility => exactly one
            # keyword): each doc appears once, the boolean eval is
            # trivially true, and score = idf * tf_norm — so the
            # groupBy(doc_id) shuffle is a no-op AND the Arrow stage can
            # keep only its partition-local top-k (score is monotone in
            # -dl).  The whole query is scan -> decode-top-k ->
            # TakeOrderedAndProject over <=k rows/task, no exchange.
            decoded = joined.select(
                "docs_bin", "dl_bin", "block_last_doc",
                "block_doc_off", "block_dl_off", "keep",
            ).mapInArrow(_make_decode_topk_arrow(k), "doc_id long, dl int")
            idf = next(iter(idfs.values()))
            cols = ["doc_id", (F.lit(idf) * tf_norm).alias("score")]
            if with_metadata:
                cols.append(
                    F.array(F.lit(token_terms[0])).alias("matched_terms")
                )
            result = (
                decoded.select(*cols)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
            return self._with_meta(result) if with_metadata else result

        decoded = joined.select(
            "term", "docs_bin", "dl_bin", "block_last_doc",
            "block_doc_off", "block_dl_off", "keep",
        ).mapInArrow(_decode_blocks_arrow, _DECODE_KEEP_SCHEMA)
        hits = decoded.groupBy("doc_id").agg(
            F.collect_set("term").alias("hits"), F.first("dl").alias("dl")
        )
        present = {
            kw: F.array_contains(F.col("hits"), kw) for kw in token_terms
        }
        scored = hits.withColumn("_tf_norm", tf_norm)
        eval_col = self._compile_eval(expr, present)
        score_col = self._compile_score(expr, idfs, present)
        cols = ["doc_id", "score"]
        if with_metadata:
            cols.append(_matched_terms_col(present).alias("matched_terms"))
        result = (
            scored.withColumn("score", score_col)
            .filter(eval_col & F.col("score").isNotNull())
            .select(*cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        if with_metadata:
            result = self._with_meta(result)
        return result

    def _empty(self, with_metadata: bool) -> DataFrame:
        """0-row result with the SAME schema a non-empty result would have,
        so downstream consumers (limiter's octet_length(text), merging's
        conv_id/turn_idx) see the columns they reference instead of
        crashing on a no-hit query."""
        base = [
            StructField("doc_id", LongType(), False),
            StructField("score", DoubleType(), False),
        ]
        if with_metadata:
            meta = self.docs.select(
                "conv_id", "turn_idx", "role", "tool", "ts", "text"
            ).schema.fields  # ts type follows the corpus (ntz or not)
            return self.spark.createDataFrame(
                [],
                StructType(
                    base
                    + [
                        StructField(
                            "matched_terms",
                            ArrayType(StringType(), True),
                            False,
                        )
                    ]
                    + list(meta)
                ),
            )
        return self.spark.createDataFrame([], StructType(base))

    def _repair_overlay(
        self,
        g_set: frozenset,
        affecting: list[str],
        all_lookups: list[str],
    ) -> "tuple | None":
        """Driver-resident repair bundle for the doc-range path: resolve the
        affected-doc set (raw index, driver decode), retokenize it in ONE
        distributed job, and collect the driver-scale result —
        (ids sorted int64, presence {lookup -> bool array}, dls int64,
        df_adj {lookup -> int}, dl_delta_sum).  The affected docs are then
        scored on the driver with their repaired presence/dl while the
        ranges skip them (`exclude_ids`), reproducing the reference's
        global add_special_term effect (file_processing.rs:1090-1180 /
        ranking.rs:186-208) without the full path's per-posting groupBy
        shuffle or its distributed stats job.

        Returns None when infeasible (index off-POSIX, raw df past the
        driver decode cap, or affected set past REPAIR_OVERLAY_CAP) — the
        caller falls back to the full path.  Cached per (special set,
        lookup tuple): a warm query service pays the retokenization job
        once per distinct special-term query shape.

        Construction ladder (round 5, VERDICT r4 #4 — cold cost):
          1. ``_repairs/`` sidecar hit (same G + lookups + docs layout,
             any prior process) — milliseconds;
          2. driver-side pyarrow read + pooled retokenize
             (``search/repair.py``) when the affected set fits
             DRIVER_RETOK_CAP — no Spark job;
          3. the distributed retokenize join (scan ⋈ affected ids →
             mapInPandas → toPandas) — the at-scale shape.
        Whichever of 2/3 runs persists its arrays to the sidecar."""
        key = (g_set, tuple(all_lookups))
        if key in self._overlay_cache:
            return self._overlay_cache[key]
        import numpy as np  # noqa: PLC0415

        bundle: "tuple | None" = None
        ids = self.postings_dir.raw_doc_ids(affecting)
        if ids is not None and ids.size == 0:
            bundle = (ids, {}, ids, {}, 0, None)
        elif (
            ids is not None
            and ids.size <= REPAIR_OVERLAY_CAP
            and len(all_lookups) <= 62
        ):
            # >62 lookups would overflow the presence bitmask below;
            # such queries (near the 256-term parser cap) fall back to
            # the full distributed repair path
            from probe_spark.search import repair  # noqa: PLC0415

            lookups_t = tuple(all_lookups)
            arrays = repair.load_sidecar(self.index_path, g_set, lookups_t)
            if arrays is None:
                if ids.size <= repair.DRIVER_RETOK_CAP:
                    arrays = repair.driver_retok(
                        self.index_path, ids, g_set, lookups_t
                    )
                if arrays is None:
                    arrays = self._retok_distributed(ids, g_set, lookups_t)
                repair.store_sidecar(
                    self.index_path, g_set, lookups_t, arrays
                )
            o_ids = arrays["ids"].astype(np.int64, copy=False)
            o_dls = arrays["dl"].astype(np.int64, copy=False)
            masks = arrays["hits"].astype(np.int64, copy=False)
            old_masks = arrays["olds"].astype(np.int64, copy=False)
            dl_delta = int(arrays["dl_delta"].sum())
            presence = {
                t: ((masks >> j) & 1).astype(bool)
                for j, t in enumerate(lookups_t)
            }
            df_adj = {}
            for j, t in enumerate(lookups_t):
                new_n = int(presence[t].sum())
                old_n = int(((old_masks >> j) & 1).sum())
                if new_n != old_n:
                    df_adj[t] = new_n - old_n
            # the exclusion id set rides to the range workers as a REAL
            # broadcast: serialized once per query shape, cached on the
            # executors across this bundle's queries — never re-pickled
            # into each task closure (at the raised cap that closure
            # would be ~32 MB per query)
            bc = (
                self.spark.sparkContext.broadcast(o_ids)
                if o_ids.size
                else None
            )
            bundle = (o_ids, presence, o_dls, df_adj, dl_delta, bc)
        with self._cache_lock:
            while len(self._overlay_cache) >= 8:
                victim = next(iter(self._overlay_cache), None)
                if victim is None:
                    break
                old = self._overlay_cache.pop(victim, None)
                if old is not None and old[5] is not None:
                    old[5].unpersist(blocking=False)
            self._overlay_cache[key] = bundle
        return bundle

    def _retok_distributed(
        self, ids, g_set: frozenset, all_lookups: tuple
    ) -> dict:
        """The distributed overlay construction: docs scan restricted to
        the affected ids, one mapInPandas retokenize job, Arrow collect.
        The at-scale path (off-POSIX indexes or affected sets past
        DRIVER_RETOK_CAP yet under REPAIR_OVERLAY_CAP); returns the same
        array dict as ``repair.driver_retok`` (parity-pinned)."""
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        if ids.size <= ISIN_PUSHDOWN_CAP:
            # literal IN predicate -> parquet row-group pruning (docs/
            # is doc_id-sorted within range partitions)
            affected = self.docs.filter(
                F.col("doc_id").isin([int(x) for x in ids])
            ).select("doc_id", "text", "dl")
        else:
            affected = self.docs.join(
                F.broadcast(
                    self.spark.createDataFrame(
                        pd.DataFrame({"doc_id": ids}),
                        schema="doc_id long",
                    )
                ),
                "doc_id",
            ).select("doc_id", "text", "dl")
        # presence is shipped back as per-doc BITMASKS over the
        # lookup list (executors fold the token sets down to one long
        # each), and the result is pulled via Arrow (toPandas) into
        # columnar numpy — the driver never materializes per-doc
        # Python Row objects with string-list columns, so overlay
        # residency at the cap is ~28 B/doc, not a fat list-of-lists.
        retok_schema = StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("hits_mask", LongType(), False),
                StructField("old_mask", LongType(), False),
                StructField("dl", IntegerType(), False),
                StructField("dl_delta", IntegerType(), False),
            ]
        )
        lookups_b = list(all_lookups)
        g_b = g_set

        def retokenize(pdfs):
            import pandas as pd  # noqa: PLC0415

            def mask(ts: set) -> int:
                m = 0
                for j, t in enumerate(lookups_b):
                    if t in ts:
                        m |= 1 << j
                return m

            for pdf in pdfs:
                toks = [
                    tok.tokenize(t, g_b) if t else [] for t in pdf["text"]
                ]
                # base tokenization == the token-index state being
                # replaced (the index stores tokenize(text) dedup'd),
                # so old presence re-derives without decoding postings
                olds = [tok.tokenize(t) if t else [] for t in pdf["text"]]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "hits_mask": [mask(set(ts)) for ts in toks],
                        "old_mask": [mask(set(ts)) for ts in olds],
                        "dl": [len(ts) for ts in toks],
                        "dl_delta": [
                            len(ts) - int(d)
                            for ts, d in zip(toks, pdf["dl"])
                        ],
                    }
                )

        pdf = (
            affected.mapInPandas(retokenize, retok_schema)
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        return {
            "ids": pdf["doc_id"].to_numpy(np.int64),
            "hits": pdf["hits_mask"].to_numpy(np.int64),
            "olds": pdf["old_mask"].to_numpy(np.int64),
            "dl": pdf["dl"].to_numpy(np.int64),
            "dl_delta": pdf["dl_delta"].to_numpy(np.int64),
        }

    def _ranged_src(
        self, lookups: "list[str]", sum_df: int, allow_ids=None
    ) -> "tuple[DataFrame, int]":
        """(postings rows exploded to doc ranges, range width) — the
        shared plan front of every doc-range path (single-query and
        batch): bucket+term-pruned scan, range count sized by compressed
        postings volume (TARGET_POSTINGS_PER_RANGE), and whole-range
        pruning when a driver-resident allow set covers few ranges."""
        from probe_spark.search import ranged  # noqa: PLC0415

        n_ranges = max(
            2 * self.spark.sparkContext.defaultParallelism,
            -(-sum_df // ranged.TARGET_POSTINGS_PER_RANGE),
        )
        width = max(1, -(-self.n_docs // n_ranges))
        buckets = sorted({spark_bucket(t, self.n_buckets) for t in lookups})
        src = (
            self.postings.filter(
                F.col("bucket").isin(buckets) & F.col("term").isin(lookups)
            )
            .select(
                "term", "min_doc", "max_doc", "docs_bin", "dl_bin",
                "block_last_doc", "block_doc_off", "block_dl_off",
            )
            .withColumn(
                "range_id",
                F.explode(
                    F.sequence(
                        F.floor(F.col("min_doc") / width).cast("int"),
                        F.floor(F.col("max_doc") / width).cast("int"),
                    )
                ),
            )
        )
        if allow_ids is not None:
            import numpy as np  # noqa: PLC0415

            # segments overlapping only out-of-scope ranges never enter
            # the exchange, so a narrow scope decodes only its own
            # ranges' postings
            allow_rids = np.unique(allow_ids // width)
            if allow_rids.size <= ALLOW_RANGE_PRUNE_CAP:
                src = src.filter(
                    F.col("range_id").isin([int(r) for r in allow_rids])
                )
        return src, width

    def _search_ranged(
        self,
        expr: ast.Expr,
        kw_to_match: dict[str, str],
        k: int,
        with_metadata: bool,
        df_adj: "dict[str, int] | None" = None,
        avgdl: "float | None" = None,
        overlay: "tuple | None" = None,
        seen_ids=None,
        allow_ids=None,
    ) -> DataFrame:
        """Doc-range-partitioned evaluation (probe_spark.search.ranged):
        ship the query terms' COMPRESSED varint segments to fixed-width
        doc-range partitions (one exchange, ~1.2 B/posting) and evaluate
        the AST locally per range in numpy, emitting only each range's
        top-k — no row-level groupBy shuffle.  Scores are bit-identical
        to the Column-compiled full path (same float association order).

        ``df_adj``/``avgdl``/``overlay`` carry a special-term repair
        bundle (`_repair_overlay`): df/avgdl shift to their repaired
        values, affected docs are scored HERE on the driver from their
        repaired presence/dls (same numpy recursion as the ranges), and
        the ranges drop them (exclude_ids) — so the union is exactly the
        full repair path's candidate set.

        ``seen_ids`` (sorted int64 array): session-seen docs dropped
        BEFORE the per-range top-k — the reference's early session
        filtering (cache.rs:392-541), so a repeated --session query fills
        its page with the NEXT k unseen results.

        ``allow_ids`` (sorted int64 array): metadata-scoped search — only
        these docs may qualify (filter context, see search(where=...)).
        Ranges containing no allowed id are PRUNED from the exchange
        driver-side (the scale move: a time window over a time-clustered
        corpus decodes only its own ranges' postings); the range workers
        apply the exact within-range cut."""
        from probe_spark.search import ranged

        lookups = sorted({v for v in kw_to_match.values() if v is not None})
        empty = self._empty(with_metadata)
        if not lookups or not self.n_docs:
            return empty
        if avgdl is None:
            avgdl = self.avgdl
        dfs = self._term_dfs(lookups)
        if df_adj:
            dfs = {t: dfs[t] + df_adj.get(t, 0) for t in lookups}
        idfs: dict[str, float] = {}
        for kw in ast.extract_query_terms(expr):
            match = kw_to_match.get(kw)
            df = dfs.get(match, 0) if match else 0
            if df > 0:
                idfs[kw] = math.log(
                    1.0 + (self.n_docs - df + 0.5) / (df + 0.5)
                )
        overlay_ids = overlay[0] if overlay is not None else None
        sum_df = sum(dfs.get(t, 0) for t in lookups)
        if sum_df == 0 and (overlay_ids is None or not overlay_ids.size):
            # no postings anywhere, no repaired docs, and zero-hit docs
            # don't qualify (dispatch precondition) -> empty
            return empty
        src, width = self._ranged_src(lookups, sum_df, allow_ids)
        # exclude set for the ranges: prefer the overlay's BROADCAST (ships
        # once per query shape, cached on executors) over re-pickling the
        # id array into this query's task closure; a session seen-set
        # forces a materialized union (seen sets are page-scale)
        exclude_ids = None
        if overlay_ids is not None and overlay_ids.size:
            o_bc = overlay[3] if len(overlay) > 3 else None
            exclude_ids = o_bc if o_bc is not None else overlay_ids
        if seen_ids is not None and seen_ids.size:
            if exclude_ids is None:
                exclude_ids = seen_ids
            else:
                import numpy as np  # noqa: PLC0415

                base = (
                    exclude_ids.value
                    if hasattr(exclude_ids, "value")
                    else exclude_ids
                )
                exclude_ids = np.union1d(base, seen_ids)
        gen = ranged.make_range_eval(
            expr,
            idfs,
            kw_to_match,
            avgdl,
            width,
            k,
            with_metadata,
            exclude_ids=exclude_ids,
            allow_ids=allow_ids,
        )
        fields = [
            StructField("doc_id", LongType(), False),
            StructField("score", DoubleType(), False),
        ]
        if with_metadata:
            fields.append(
                StructField(
                    "matched_terms", ArrayType(StringType(), True), False
                )
            )
        out_schema = StructType(fields)
        out = src.repartition("range_id").mapInArrow(gen, out_schema)
        if overlay_ids is not None and overlay_ids.size:
            # affected docs: score on the driver with repaired presence/dl
            # (same numpy recursion / float association order as the
            # ranges), keep their top-k, union before the global top-k
            import numpy as np  # noqa: PLC0415

            o_presence, o_dls = overlay[1], overlay[2]
            n = overlay_ids.size
            zeros = np.zeros(n, dtype=bool)
            sorted_kws = sorted(
                {kw for t in ast.walk_terms(expr) for kw in t.keywords}
            )
            present = {}
            for kw in sorted_kws:
                lookup = kw_to_match.get(kw)
                present[kw] = (
                    o_presence.get(lookup, zeros)
                    if lookup is not None
                    else zeros
                )
            tf_norm = (K1 + 1.0) / (
                1.0
                + K1 * ((1.0 - B) + B * (o_dls.astype(np.float64) / avgdl))
            )
            score, isnull, ok = ranged._score_eval_numpy(
                expr, idfs, present, tf_norm, np
            )
            sel = np.nonzero(ok & ~isnull)[0]
            if seen_ids is not None and seen_ids.size and len(sel):
                # seen filter BEFORE the top-k cut, so the page fills
                sel = sel[~np.isin(overlay_ids[sel], seen_ids)]
            if allow_ids is not None and len(sel):
                # scoped search applies to repaired docs too
                sel = sel[np.isin(overlay_ids[sel], allow_ids)]
            if len(sel) > k:
                order = np.lexsort((overlay_ids[sel], -score[sel]))[:k]
                sel = sel[order]
            if len(sel):
                o_rows = []
                for i in sel.tolist():
                    row = [int(overlay_ids[i]), float(score[i])]
                    if with_metadata:
                        row.append(
                            [kw for kw in sorted_kws if present[kw][i]]
                        )
                    o_rows.append(tuple(row))
                out = out.unionByName(
                    self.spark.createDataFrame(o_rows, out_schema)
                )
        result = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return self._with_meta(result) if with_metadata else result

    def _docs_file_ranges(self) -> "list[tuple[str, int, int]] | None":
        """Per-file (path, min_doc, max_doc) for docs/, footer-swept once
        per engine (threaded; ~ms/file).  The build writes docs/ sorted by
        doc_id within range partitions, so each file covers a tight doc_id
        interval and a k-winner metadata fetch touches O(k) files.  None
        when the index is not POSIX-visible or a footer lacks doc_id
        stats — callers then fall back to the full-file-set In-predicate
        scan (row-group pruning still applies there)."""
        if self._docs_ranges is not _UNSET:
            return self._docs_ranges
        import os
        from concurrent.futures import ThreadPoolExecutor

        base = self.index_path.removeprefix("file://")
        d = os.path.join(base, "docs")
        ranges: list[tuple[str, int, int]] | None = None
        if os.path.isdir(d):
            import pyarrow.parquet as pq

            files = sorted(
                os.path.join(d, fn)
                for fn in os.listdir(d)
                if fn.endswith(".parquet")
            )

            def rng(path: str):
                md = pq.ParquetFile(path).metadata
                idx = md.schema.to_arrow_schema().names.index("doc_id")
                lo = hi = None
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx).statistics
                    if st is None or not st.has_min_max:
                        return None
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                return (path, int(lo), int(hi)) if lo is not None else None

            try:
                with ThreadPoolExecutor(max_workers=16) as pool:
                    out = list(pool.map(rng, files))
                if out and all(o is not None for o in out):
                    ranges = sorted(out, key=lambda r: r[1])
                    # the bisect file selection in _meta_rows assumes one
                    # file per doc_id; overlapping intervals would silently
                    # drop winners — fall back to the full-file-set scan
                    for prev, cur in zip(ranges, ranges[1:]):
                        if cur[1] <= prev[2]:
                            ranges = None
                            break
            except OSError:
                ranges = None
        self._docs_ranges = ranges
        return ranges

    def _tombstones(self) -> "tuple":
        """(sorted tombstoned ids | None, overflow: bool), lazily loaded.

        Deleted docs are masked BEFORE top-k on every path; stats stay as
        built until vacuum (Lucene deleted-docs semantics — see
        index/maintenance.py).  Posix indexes read the tombstone files
        driver-side; remote stores fall back to one Spark collect.  Past
        TOMBSTONE_COLLECT_CAP every query pays a distributed anti-join —
        the signal to run vacuum."""
        if self._tomb_state is not _UNSET:
            return self._tomb_state
        import numpy as np  # noqa: PLC0415

        from probe_spark.index.maintenance import (  # noqa: PLC0415
            TOMBSTONE_COLLECT_CAP,
            tombstone_ids,
        )

        base = self.index_path.removeprefix("file://")
        if os.path.isdir(base):
            t = tombstone_ids(self.index_path)
            state = (None, True) if isinstance(t, str) else (t, False)
        else:
            from pyspark.errors import AnalysisException  # noqa: PLC0415

            try:
                rows = (
                    self.spark.read.parquet(f"{self.index_path}/tombstones")
                    .select("doc_id")
                    .limit(TOMBSTONE_COLLECT_CAP + 1)
                    .collect()
                )
            except AnalysisException:
                rows = []
            if len(rows) > TOMBSTONE_COLLECT_CAP:
                state = (None, True)
            elif rows:
                state = (
                    np.unique(
                        np.fromiter(
                            (r["doc_id"] for r in rows),
                            np.int64,
                            len(rows),
                        )
                    ),
                    False,
                )
            else:
                state = (None, False)
        self._tomb_state = state
        return state

    def _allowed_ids(self, where: str):
        """Resolve a scoped-search predicate to a sorted int64 doc_id
        array, or None when it matches more than ALLOW_COLLECT_CAP docs
        (the caller then semi-joins distributedly instead).

        The resolving scan is column-pruned to doc_id + the predicate's
        columns and the predicate is pushed down to the parquet footers
        (docs/ is bucket-partitioned on doc ranges; a time-clustered
        corpus — any transcripts table ingested in rough arrival order —
        prunes to the touched row groups).  An unparseable or unresolvable
        predicate raises ValueError — user error must surface, not return
        an empty page."""
        import numpy as np  # noqa: PLC0415

        cached = self._allow_cache.get(where, _UNSET)
        if cached is not _UNSET:
            return cached
        from pyspark.errors import AnalysisException  # noqa: PLC0415

        try:
            rows = (
                self.docs.filter(F.expr(where))
                .select("doc_id")
                .limit(ALLOW_COLLECT_CAP + 1)
                .collect()
            )
        except AnalysisException as e:
            raise ValueError(f"invalid where predicate {where!r}: {e}") from e
        ids = (
            None
            if len(rows) > ALLOW_COLLECT_CAP
            else np.sort(
                np.fromiter(
                    (r["doc_id"] for r in rows), np.int64, len(rows)
                )
            )
        )
        with self._cache_lock:
            while len(self._allow_cache) >= 8:
                victim = next(iter(self._allow_cache), None)
                if victim is None:
                    break
                self._allow_cache.pop(victim, None)
            self._allow_cache[where] = ids
        return ids

    def _meta_rows(self, ids: list[int]) -> DataFrame:
        """Doc metadata for ``ids`` reading ONLY the touched docs/ files
        (driver-cached footer ranges) with a pushed-down In predicate —
        O(k) files and row groups instead of every text byte of the
        corpus."""
        cols = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "text"]
        ranges = self._docs_file_ranges()
        src = self.docs
        if ranges is not None:
            import bisect

            starts = [r[1] for r in ranges]
            paths: list[str] = []
            last = None
            for i in sorted(ids):
                j = bisect.bisect_right(starts, i) - 1
                if j >= 0 and ranges[j][1] <= i <= ranges[j][2] and j != last:
                    paths.append(ranges[j][0])
                    last = j
            if not paths:
                return self.docs.select(*cols).limit(0)
            src = self.spark.read.schema(self.docs.schema).parquet(*paths)
        return src.filter(
            F.col("doc_id").isin([int(i) for i in ids])
        ).select(*cols)

    def _meta_rows_driver(self, ids: list[int]):
        """Driver-side pyarrow metadata lookup for posix indexes: the
        winners are k rows, so their metadata is k footer-pruned row-group
        reads — no Spark job at all (the same move the driver-local
        front-end makes, search/local.py).  Returns None when the index is
        not a local directory (hdfs/s3 → the distributed ``_meta_rows``)."""
        base = self.index_path.removeprefix("file://")
        d = os.path.join(base, "docs")
        if not os.path.isdir(d):
            return None
        import pyarrow.dataset as pds

        src: "str | list[str]" = d
        ranges = self._docs_file_ranges()
        if ranges is not None:
            # prune to the <=k shards whose [min_doc, max_doc] contain a
            # winner — without this, every lookup opens EVERY shard's
            # footer (measured 3.5 s over 1.6k shards at 26.4M turns; the
            # ranges themselves are swept once per engine and cached)
            import numpy as np  # noqa: PLC0415

            wanted = np.asarray(sorted(ids), dtype=np.int64)
            files = [
                p
                for p, lo, hi in ranges
                if np.searchsorted(wanted, lo)
                < np.searchsorted(wanted, hi, side="right")
            ]
            if not files:
                return []
            src = files
        try:
            return pds.dataset(src, format="parquet").to_table(
                columns=[
                    "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
                    "text",
                ],
                filter=pds.field("doc_id").isin(ids),
            ).to_pylist()
        except OSError:
            return None

    def _with_meta(self, result: DataFrame) -> DataFrame:
        """Attach doc metadata to the top-k winners.

        The winners are driver-scale (k rows), so they are materialized
        and their metadata fetched by doc_id — driver-side pyarrow reads
        for posix indexes (zero extra Spark jobs per query), else a
        footer-pruned In-predicate Spark scan (see ``_meta_rows``).  The
        original shape — broadcast the winners against the whole docs
        table — kept k rows but SCANNED the entire corpus text per query
        (O(corpus) IO; at 10^12 turns, disqualifying for a query service).
        Past ISIN_PUSHDOWN_CAP winners the scan is the lesser evil and the
        broadcast join returns."""
        rows = result.collect()
        if not rows:
            return self._empty(True)
        if len(rows) > ISIN_PUSHDOWN_CAP:
            return (
                F.broadcast(result)
                .join(
                    self.docs.select(
                        "doc_id", "conv_id", "turn_idx", "role", "tool",
                        "ts", "text",
                    ),
                    "doc_id",
                )
                .orderBy(F.desc("score"), F.asc("doc_id"))
            )
        ids = sorted({int(r["doc_id"]) for r in rows})
        # per-doc metadata LRU: a warm service repeats queries (and hot
        # docs recur across queries), so winners usually resolve without
        # touching the docs shards at all
        # snapshot cached rows up front so a concurrent eviction (service
        # pool threads share this engine) can't drop an id between the
        # membership test and the final lookup
        cached_rows = {
            i: m for i in ids if (m := self._docmeta_cache.get(i)) is not None
        }
        missing = [i for i in ids if i not in cached_rows]
        meta = self._meta_rows_driver(missing) if missing else []
        if meta is not None and len({m["doc_id"] for m in meta}) == len(
            missing
        ):
            from pyspark.sql.types import StructType

            with self._cache_lock:
                for m in meta:
                    while len(self._docmeta_cache) >= 100_000:
                        victim = next(iter(self._docmeta_cache), None)
                        if victim is None:
                            break
                        self._docmeta_cache.pop(victim, None)
                    self._docmeta_cache[int(m["doc_id"])] = m
            by_id = dict(cached_rows)
            for m in meta:
                by_id[int(m["doc_id"])] = m
            out = []
            for r in rows:
                d = r.asDict()
                d.update(by_id[int(r["doc_id"])])
                out.append(d)
            out.sort(key=lambda d: (-d["score"], d["doc_id"]))
            meta_fields = [
                f
                for f in self.docs.schema.fields
                if f.name in (
                    "conv_id", "turn_idx", "role", "tool", "ts", "text"
                )
            ]
            schema = StructType(list(result.schema.fields) + meta_fields)
            return self.spark.createDataFrame(out, schema)
        winners = self.spark.createDataFrame(rows, result.schema)
        return (
            F.broadcast(winners)
            .join(self._meta_rows(ids), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    # -- search ----------------------------------------------------------------
    def search(
        self,
        query: str,
        k: int | None = 10,
        exact: bool = False,
        with_metadata: bool = True,
        prune: bool = True,
        exclude: DataFrame | None = None,
        match_metadata: bool = False,
        where: str | None = None,
    ) -> DataFrame:
        """Top-k BM25 results: (doc_id, score [, conv_id, turn_idx, role,
        tool, ts, text]), rank-identical to the oracle.  k=None returns the
        full scored result set unsorted (no TakeOrdered barrier) — for bulk
        export / oracle comparison.  ``prune=True`` enables block-max WAND
        for eligible (pure disjunctive) top-k queries — identical results,
        fewer decoded postings; ``prune=False`` forces the full path.

        ``where``: metadata-scoped search — a Spark SQL boolean expression
        over the doc metadata columns (conv_id, turn_idx, role, tool, ts);
        only matching docs may qualify, filtered BEFORE top-k.  FILTER
        context (the Lucene/ES sense): idf/avgdl/n_docs stay corpus-global,
        so a doc's score is identical inside and outside the scope — a
        time-window dashboard pages stably as the window moves.  Plans:
        the predicate resolves to a driver-resident sorted id array via a
        column-pruned pushed-down docs scan (cached per where string) and
        rides the doc-range path with whole-range pruning — a
        time-clustered corpus touches only the window's ranges; past
        ALLOW_COLLECT_CAP matching docs it falls back to a distributed
        semi-join on the full path.  Raises ValueError on an invalid
        predicate.

        ``exclude``: a (doc_id) DataFrame of results to drop BEFORE top-k —
        the reference's early session-cache filtering (cache.rs:392-541):
        a repeated --session query returns the NEXT k results, not a
        shortened page.  Disables WAND pruning (its theta bootstrap
        lower-bounds the k-th score over ALL qualifying docs; excluded
        docs could push it above the k-th unseen score and over-prune).

        ``match_metadata``: the filename-match analog (SURVEY §1.3 /
        file_list_cache.rs:357-457): a keyword is additionally credited to
        every doc whose tokenized ``tool`` metadata shares a token with it
        (bidirectional substring).  Presence credit only — idf still comes
        from the text index, and repair-affected docs keep text-only
        credit (documented narrowing).  Off by default (rank identity)."""
        spark = self.spark
        empty = self._empty(with_metadata)
        if where is not None:
            # eager analysis (schema resolution, no job): an invalid
            # predicate must raise on EVERY dispatch path, not surface as
            # a deferred AnalysisException from whichever plan ran first
            from pyspark.errors import (  # noqa: PLC0415
                AnalysisException,
                ParseException,
            )

            try:
                _ = self.docs.filter(F.expr(where)).schema
            except (AnalysisException, ParseException) as e:
                raise ValueError(
                    f"invalid where predicate {where!r}: {e}"
                ) from e
        try:
            expr, _special = parse_query(query, exact=exact)
        except ParseError:
            return empty

        query_terms = ast.extract_query_terms(expr)
        if len(query_terms) > MAX_QUERY_TERMS or not query_terms:
            return empty
        if k is not None and k <= 0:
            return empty  # no rows asked for (WAND's k-th score has no k)

        # classify: keywords of exact/excluded terms use special resolution
        special_kws = special_keywords(expr)
        normal_kws = query_terms - special_kws

        token_terms = sorted(normal_kws)
        plans = {kw: special_plan(kw) for kw in sorted(special_kws)}
        special_lookups = [p.lookup for p in plans.values() if p.matchable]

        # tombstoned docs are masked BEFORE top-k on every path (stats
        # stay as built until vacuum — index/maintenance.py)
        tomb, tomb_over = self._tombstones()
        no_tomb = tomb is None and not tomb_over

        if (
            prune
            and k is not None
            and exclude is None
            and where is None
            and no_tomb
            and not match_metadata
            and not special_kws
            and token_terms
            and _wand_eligible(expr)
        ):
            return self._search_pruned(expr, token_terms, k, with_metadata)

        # conjunctive zero-df kill: a pure conjunction (a simple Term's
        # all-of keywords, or an And-tree of simple Terms — "+a +b +c",
        # "a AND b") matches a doc iff ALL keywords are present, so one
        # keyword with df==0 makes the query unsatisfiable — answered from
        # the cached term-df metadata with NO Spark job at all.  Covers
        # the multi-keyword camel/stem class ("enableFirewallWhitelist"
        # with an absent sub-token) and the all-required class (BENCH q4
        # "+api +process +load": 'load' never survives tokenization in
        # the corpus).
        #
        # df>0 conjunctions fall through to the doc-range path below: a
        # cost A/B at 494k docs (r4) measured the broadcast semi-join
        # ladder SLOWER than the ranged plan at EVERY occurring min-df
        # (min_df=2.4k: 1.12s vs 0.77s; 100k: 1.18s vs 0.67s — the
        # ladder's cost is its sequential broadcast-stage barriers, not
        # data volume, so a bigger corpus does not tilt it back).  The
        # ladder remains as the conjunctive ANCHOR of the full path,
        # where it pre-filters a groupBy shuffle it cannot avoid.
        if (
            prune
            and k is not None
            and where is None
            and no_tomb
            and not match_metadata
            and not special_kws
            and _pure_conjunction(expr)
            and token_terms
        ):
            dfs = self._term_dfs(token_terms)
            if any(dfs[t] == 0 for t in token_terms):
                return empty  # all-of semantics: one absent keyword kills it

        # doc-range-partitioned path (search/ranged.py): any top-k boolean
        # query that a zero-hit doc cannot satisfy.  Replaces the decoded
        # groupBy(doc_id) row shuffle with one exchange of the compressed
        # varint segments and a per-range vectorized evaluation — the
        # document-sharded fan-out of a distributed search engine.
        # Special terms that trigger retokenization repair ride it too
        # when the affected set fits the driver (`_repair_overlay`);
        # past the caps they fall through to the distributed repair join.
        # Session-exclude sets ride it as collected exclude_ids (filtered
        # BEFORE the per-range top-k, so pages fill with unseen results).
        if prune and k is not None and not match_metadata:
            allow_ids = None
            if where is not None:
                allow_ids = self._allowed_ids(where)
                if allow_ids is not None and not allow_ids.size:
                    return empty  # predicate matches no doc at all
            seen_ids = None
            exclude_overflow = False
            if exclude is not None:
                import numpy as np  # noqa: PLC0415

                seen_rows = (
                    exclude.select("doc_id")
                    .limit(EXCLUDE_COLLECT_CAP + 1)
                    .collect()
                )
                if len(seen_rows) <= EXCLUDE_COLLECT_CAP:
                    seen_ids = np.sort(
                        np.fromiter(
                            (r["doc_id"] for r in seen_rows),
                            np.int64,
                            len(seen_rows),
                        )
                    )
                else:
                    exclude_overflow = True
            if tomb is not None:
                import numpy as np  # noqa: PLC0415

                # tombstones ride the same pre-top-k exclusion mask
                seen_ids = (
                    tomb
                    if seen_ids is None
                    else np.union1d(seen_ids, tomb)
                )
            g_set0, affecting0 = affecting_specials(plans)
            zero_inc = zero_included(expr)
            if (
                not zero_inc
                and not exclude_overflow
                and not tomb_over
                and (where is None or allow_ids is not None)
            ):
                ktm = {kw: kw for kw in normal_kws}
                for kw, p in plans.items():
                    if p.matchable:
                        ktm[kw] = p.lookup
                if not affecting0:
                    return self._search_ranged(
                        expr, ktm, k, with_metadata, seen_ids=seen_ids,
                        allow_ids=allow_ids,
                    )
                bundle = self._repair_overlay(
                    g_set0, affecting0, sorted(set(ktm.values()))
                )
                if bundle is not None:
                    o_ids, o_presence, o_dls, odf_adj, o_delta, o_bc = bundle
                    adj_avgdl = self.avgdl
                    if o_ids.size and self.n_docs:
                        adj_avgdl = (
                            self.avgdl * self.n_docs + o_delta
                        ) / self.n_docs
                    return self._search_ranged(
                        expr,
                        ktm,
                        k,
                        with_metadata,
                        df_adj=odf_adj,
                        avgdl=adj_avgdl,
                        overlay=(o_ids, o_presence, o_dls, o_bc),
                        seen_ids=seen_ids,
                        allow_ids=allow_ids,
                    )

        # Special terms whose registration changes doc tokenization
        # (tokenize(w) != tokenize(w, G)): docs containing such a term among
        # their raw lookup keys (full runs, camel parts, prefix suffixes —
        # format v7) must be re-tokenized with the per-query special set
        # ("repair join") — this reproduces the reference's global
        # add_special_term effect on TF/dl/DF/avgdl.
        g_set = frozenset(
            p.lookup
            for p in plans.values()
            if p.lookup and all(c.isalnum() for c in p.lookup)
        )
        affecting = sorted(
            w
            for w in g_set
            if tok.tokenize(w) != tok.tokenize(w, g_set)
        )

        # token index serves normal terms AND all matchable specials (stem
        # collisions from other words emit the same token string)
        f1 = self._fetch(
            self.postings, sorted(set(token_terms) | set(special_lookups)), "tok"
        )
        if f1 is not None:
            decoded = f1.mapInArrow(_decode_map_arrow, _DECODED_SCHEMA)
        else:
            decoded = spark.createDataFrame([], _DECODED_SCHEMA)

        # keyword -> doc-token lookup string
        kw_to_match: dict[str, str] = {kw: kw for kw in normal_kws}
        for kw, p in plans.items():
            if p.matchable:
                kw_to_match[kw] = p.lookup
        all_lookups = sorted(set(kw_to_match.values()))

        # filename-match analog: credit keywords to docs whose tokenized
        # tool metadata shares a token (see the search docstring) by
        # unioning synthetic (term, doc_id, dl) rows into the decoded
        # postings before the per-doc grouping
        meta_credits: dict[str, list[str]] = {}
        if match_metadata:
            tools = self._distinct_tools()
            for lookup in all_lookups:
                matched = [t for t in tools if self._tool_matches(t, lookup)]
                if matched:
                    meta_credits[lookup] = matched
            for lookup, matched in meta_credits.items():
                mrows = self.docs.filter(
                    F.col("tool").isin(matched)
                ).select(
                    F.lit(lookup).alias("term"),
                    F.lit("meta").alias("src"),
                    "doc_id",
                    "dl",
                )
                decoded = decoded.unionByName(mrows)

        # conjunctive anchor (SURVEY §7 "intersect first"): every doc
        # satisfying the query must contain all mandatory keywords, so the
        # groupBy(doc_id) shuffle is pre-filtered by a broadcast semi-join
        # against their posting-list intersection — the shuffle is then
        # sized by the RAREST mandatory keyword's df, not the hottest
        # keyword's.  Docs whose tokenization the special-term repair
        # changes re-enter via the retok union below, so repair-added
        # matches of a special lookup are not lost to the anchor.
        anchored = decoded
        mandatory = ast.mandatory_keywords(expr)
        if (
            k is not None
            and not meta_credits  # metadata credit bypasses the token index
            and mandatory
            and len(all_lookups) >= 2
        ):
            if any(kw not in kw_to_match for kw in mandatory):
                # a mandatory keyword that can never match any doc token
                # (unmatchable special) makes the query unsatisfiable
                return empty
            mand_lookups = sorted({kw_to_match[kw] for kw in mandatory})
            mand_dfs = self._term_dfs(mand_lookups)
            if min(mand_dfs.values()) <= BROADCAST_DF_CAP:
                cand = self._ladder_candidates(mand_lookups, mand_dfs)
                anchored = decoded.join(
                    F.broadcast(cand.select("doc_id")), "doc_id", "semi"
                )

        # per-doc hit arrays from the token index
        hits = anchored.groupBy("doc_id").agg(
            F.collect_set("term").alias("hits"), F.first("dl").alias("dl")
        )

        avgdl = self.avgdl
        df_adj: dict[str, int] = {}
        ids = None
        # cache lookup FIRST: a hit (including the "nothing affected"
        # sentinel None) skips the driver-side raw-postings decode too
        repair_key = (g_set, tuple(all_lookups)) if affecting else None
        repair_hit = (
            self._repair_cache.get(repair_key, _REPAIR_MISS)
            if repair_key
            else _REPAIR_MISS
        )
        if affecting and repair_hit is None:
            affecting = []  # cached: special terms affect no doc
        if affecting and repair_hit is _REPAIR_MISS:
            # Affected-id set: for a POSIX-visible index with raw df under
            # the driver cap, a pyarrow read + varint decode on the driver
            # (ms) beats the equivalent two-task Spark job (~1.5s of
            # scheduling + worker overhead); raw_doc_ids returns None past
            # the cap or off-POSIX and we fall back to distributed decode.
            ids = self.postings_dir.raw_doc_ids(affecting)
            if ids is not None and ids.size == 0:
                # no whole-raw-word occurrence anywhere: registering the
                # special terms changes no doc's tokenization — skip the
                # repair machinery entirely (and remember that)
                self._repair_cache[repair_key] = None
                affecting = []
        if affecting and repair_hit is not _REPAIR_MISS:
            retok, stats_rows, anti_ids = repair_hit
        elif affecting:
            if ids is not None:
                import pandas as pd  # noqa: PLC0415

                affected_ids = F.broadcast(
                    spark.createDataFrame(
                        pd.DataFrame({"doc_id": ids}), schema="doc_id long"
                    )
                )
                anti_ids = affected_ids
                if ids.size <= ISIN_PUSHDOWN_CAP:
                    # a literal IN predicate reaches the parquet scan
                    # (PushedFilters: In(doc_id, ...)) — docs/ is sorted by
                    # doc_id within range partitions, so row-group stats
                    # skip everything but the touched groups.  The broadcast
                    # join can't prune IO: it scans every text byte of the
                    # corpus to keep a handful of rows.
                    affected = self.docs.filter(
                        F.col("doc_id").isin([int(x) for x in ids])
                    ).select("doc_id", "text", "dl")
                else:
                    affected = self.docs.join(affected_ids, "doc_id").select(
                        "doc_id", "text", "dl"
                    )
            else:
                raw_f = self._fetch(self.raw_postings, affecting, "raw")
                raw_decoded = raw_f.mapInArrow(
                    _decode_map_arrow, _DECODED_SCHEMA
                )
                affected_ids = raw_decoded.select("doc_id").distinct()
                anti_ids = None  # derive from persisted retok below
                affected = self.docs.join(affected_ids, "doc_id").select(
                    "doc_id", "text", "dl"
                )
            retok_schema = StructType(
                [
                    StructField("doc_id", LongType(), False),
                    StructField("hits", ArrayType(StringType(), False), False),
                    StructField("dl", IntegerType(), False),
                    StructField("dl_delta", IntegerType(), False),
                ]
            )
            lookups_b = list(all_lookups)
            g_b = g_set

            def retokenize(pdfs):
                import pandas as pd  # noqa: PLC0415

                for pdf in pdfs:
                    toks = [tok.tokenize(t, g_b) if t else [] for t in pdf["text"]]
                    yield pd.DataFrame(
                        {
                            "doc_id": pdf["doc_id"],
                            "hits": [
                                [m for m in lookups_b if m in set(ts)] for ts in toks
                            ],
                            "dl": [len(ts) for ts in toks],
                            "dl_delta": [
                                len(ts) - int(d)
                                for ts, d in zip(toks, pdf["dl"])
                            ],
                        }
                    )

            retok = affected.mapInPandas(retokenize, retok_schema).persist()

            # ONE stats job over the (small) affected set: dl-delta sum plus
            # per-lookup df adjustments (old token-index hits out, repaired
            # hits in).  Corpus-wide df comes from segment metadata below;
            # this replaces a full-corpus hits explode+groupBy that dominated
            # special-term query latency.  Old hits come straight from the
            # decoded (term, doc) pairs — segments hold disjoint doc ranges
            # per term, so pair counts equal collect_set counts — keeping
            # the semi-join map-side against the broadcast id set instead
            # of forcing the postings aggregation a second time.
            _DL = "\x00dl"
            old_src = anti_ids if anti_ids is not None else retok.select("doc_id")
            old_rows = (
                decoded.join(old_src, "doc_id", "semi")
                # token-index hits only: metadata credits are not
                # invalidated by retokenization
                .filter(
                    (F.col("src") == "tok")
                    & F.col("term").isin(list(all_lookups))
                )
                .select(
                    "term",
                    F.lit(-1).alias("df_adj"),
                    F.lit(0).alias("dl_delta"),
                )
            )
            new_rows = retok.select(F.explode("hits").alias("term")).select(
                "term", F.lit(1).alias("df_adj"), F.lit(0).alias("dl_delta")
            )
            dl_rows = retok.select(
                F.lit(_DL).alias("term"),
                F.lit(0).alias("df_adj"),
                F.col("dl_delta"),
            )
            stats_rows = (
                old_rows.unionByName(new_rows)
                .unionByName(dl_rows)
                .groupBy("term")
                .agg(
                    F.sum("df_adj").alias("df_adj"),
                    F.sum("dl_delta").alias("dl_delta"),
                )
                .collect()
            )
            with self._cache_lock:
                while len(self._repair_cache) >= 4:
                    # retok DataFrames pin executor memory — keep few (FIFO)
                    oldest = next(iter(self._repair_cache), None)
                    if oldest is None:
                        break
                    bundle = self._repair_cache.pop(oldest, None)
                    if bundle is not None:
                        bundle[0].unpersist(blocking=False)
                self._repair_cache[repair_key] = (retok, stats_rows, anti_ids)
        if affecting:
            _DL = "\x00dl"
            df_adj = {
                r["term"]: int(r["df_adj"])
                for r in stats_rows
                if r["term"] != _DL and r["df_adj"]
            }
            has_affected = any(r["term"] == _DL for r in stats_rows)
            if has_affected:
                delta = sum(
                    int(r["dl_delta"]) for r in stats_rows if r["term"] == _DL
                )
                avgdl = (
                    (self.avgdl * self.n_docs + delta) / self.n_docs
                    if self.n_docs
                    else 0.0
                )
                hits = hits.join(
                    anti_ids if anti_ids is not None
                    else retok.select("doc_id"),
                    "doc_id",
                    "left_anti",
                ).unionByName(retok.select("doc_id", "hits", "dl"))

        # df per lookup term (segment metadata, memoized) plus the
        # affected-doc adjustments (retokenization changes df)
        raw_dfs = self._term_dfs(all_lookups)
        df_by_term = {
            t: raw_dfs[t] + df_adj.get(t, 0) for t in all_lookups
        }
        idfs: dict[str, float] = {}
        for kw in query_terms:
            match = kw_to_match.get(kw)
            df = df_by_term.get(match, 0) if match else 0
            if df > 0:
                idfs[kw] = math.log(
                    1.0 + (self.n_docs - df + 0.5) / (df + 0.5)
                )

        # does a doc with zero hits satisfy the query?  (only-excluded etc.)
        if zero_included(expr):
            # hits carries the REPAIRED dl for retokenized docs — prefer it
            # over the stale docs/ dl (scores would otherwise diverge from
            # the oracle for affected docs in only-excluded-style queries)
            cands = (
                self.docs.select("doc_id", F.col("dl").alias("_dl0"))
                .join(
                    hits.select("doc_id", "hits", F.col("dl").alias("_rdl")),
                    "doc_id",
                    "left",
                )
                .select(
                    "doc_id",
                    F.coalesce(F.col("_rdl"), F.col("_dl0")).alias("dl"),
                    F.coalesce(
                        F.col("hits"), F.array().cast(ArrayType(StringType()))
                    ).alias("hits"),
                )
            )
        else:
            cands = hits

        present: dict[str, Column] = {}
        for kw in query_terms:
            match = kw_to_match.get(kw)
            if match is None:
                present[kw] = F.lit(False)
            else:
                present[kw] = F.array_contains(F.col("hits"), match)

        tf_norm = _tf_norm_col(avgdl)
        scored = cands.withColumn("_tf_norm", tf_norm)
        eval_col = self._compile_eval(expr, present)
        score_col = self._compile_score(expr, idfs, present)
        out_cols = ["doc_id", "score"]
        if with_metadata:
            out_cols.append(
                _matched_terms_col(present).alias("matched_terms")
            )
        result = scored.withColumn("score", score_col).filter(
            eval_col & F.col("score").isNotNull()
        ).select(*out_cols)
        if tomb is not None or tomb_over:
            # deleted docs never surface; broadcast when the set is known
            # small (under the collect cap), shuffle anti-join otherwise
            tdf = (
                self.spark.read.parquet(f"{self.index_path}/tombstones")
                .select("doc_id")
                .distinct()
            )
            if tomb is not None:
                tdf = F.broadcast(tdf)
            result = result.join(tdf, "doc_id", "left_anti")
        if where is not None:
            # scoped search past ALLOW_COLLECT_CAP (or on the k=None /
            # zero-included / metadata-credit paths): distributed semi-join
            # against the predicate-filtered docs scan — column-pruned to
            # doc_id + the predicate's columns, filter pushed to parquet
            result = result.join(
                self.docs.filter(F.expr(where)).select("doc_id"),
                "doc_id",
                "semi",
            )
        if exclude is not None:
            # early session filtering: drop seen docs BEFORE the top-k so
            # the page fills with the next k unseen results
            result = result.join(
                F.broadcast(exclude.select("doc_id")), "doc_id", "left_anti"
            )
        if k is not None:
            result = result.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

        if with_metadata:
            if k is not None:
                # k winners are driver-scale -> footer-pruned fetch
                result = self._with_meta(result)
            else:
                result = result.join(
                    self.docs.select(
                        "doc_id", "conv_id", "turn_idx", "role", "tool",
                        "ts", "text",
                    ),
                    "doc_id",
                )
        return result

    def batchable(
        self, query: str, exact: bool = False, where: "str | None" = None
    ) -> bool:
        """True when ``search_batch`` can co-execute this query in the
        shared job (same classification the batch itself applies): no
        zero-included shape (e.g. a lone excluded term — every doc
        qualifies), no repair-affecting special terms (per-query
        tokenizer state), no tombstone overflow past the collect cap,
        and (when a batch scope is given) no where-scope overflow —
        every one of those makes search_batch serialize the query in
        its per-query fallback loop.  Driver-only work after the first
        call (tombstone/scope states are cached) — a serving layer uses
        this to route fallback shapes to parallel individual jobs
        instead of serializing them inside a batch."""
        try:
            expr, _special = parse_query(query, exact=exact)
        except ParseError:
            return True  # empty contribution either way
        query_terms = ast.extract_query_terms(expr)
        if len(query_terms) > MAX_QUERY_TERMS or not query_terms:
            return True
        _tomb, tomb_over = self._tombstones()
        if tomb_over:
            return False
        if where is not None and self._allowed_ids(where) is None:
            return False  # scope past ALLOW_COLLECT_CAP -> batch falls back
        special_kws = special_keywords(expr)
        plans = {kw: special_plan(kw) for kw in sorted(special_kws)}
        _g0, affecting0 = affecting_specials(plans)
        return not (zero_included(expr) or affecting0)

    def search_batch(
        self,
        queries: "list[str]",
        k: "int | list[int]" = 10,
        exact: bool = False,
        with_metadata: bool = False,
        where: "str | None" = None,
    ) -> DataFrame:
        """Evaluate MANY queries over ONE shared index scan — the offline
        bulk-retrieval shape (hard-negative mining for training data,
        nightly eval suites, percolation backfills) where the dominant
        cost at cluster scale is reading and decoding postings segments,
        not scoring.  Per-query results are rank- and score-identical to
        ``search(q, k=k)`` (pinned by tests/test_batch_search.py).

        Plan: the union of all queries' lookup terms rides one
        bucket+term-pruned postings fetch and ONE doc-range exchange
        (search/ranged.make_batch_range_eval); each range decodes every
        term once, builds one presence mask per term, scores all queries
        over those shared arrays, and emits per-(query, range) top-k.
        The global merge is one window over n_ranges*k*n_queries rows.
        Amortization is the point: 1000 queries sharing hot terms decode
        each segment once instead of 1000 times.

        Queries the shared job can't take (zero-included — e.g. a lone
        excluded term, so every doc qualifies; or special terms whose
        registration changes tokenization and thus need the repair
        overlay, which is per-query state) fall back to ``search()``
        per query and union in — correctness never narrows, the batch
        just stops amortizing those.

        Returns (query_idx int, query string, doc_id, score
        [, matched_terms, conv_id, turn_idx, role, tool, ts, text]),
        ordered by (query_idx, score desc, doc_id asc).  ``query_idx``
        is the position in ``queries`` (duplicates stay distinct).
        ``k`` is one page size for every query or a per-query list
        aligned with ``queries``.

        ``where``: one metadata scope for the WHOLE batch (the mining-job
        shape: "these queries, last 30 days") — same filter-context
        semantics as ``search(where=...)`` (scores stay corpus-global),
        resolved to a driver-resident id array once and applied inside
        the shared ranges with whole-range pruning; past
        ALLOW_COLLECT_CAP matching docs every query falls back to
        ``search(where=...)``."""
        from pyspark.sql.window import Window  # noqa: PLC0415

        from probe_spark.search import ranged  # noqa: PLC0415

        spark = self.spark
        # k=None (scalar or per-query) = ALL matches for that query — the
        # mining default; internally it is just k = n_docs (a query cannot
        # match more), so the range eval and merge window need no new mode.
        if k is None or isinstance(k, int):
            k_orig: list = [k] * len(queries)
        else:
            k_orig = [None if x is None else int(x) for x in k]
            if len(k_orig) != len(queries):
                raise ValueError(
                    f"k list length {len(k_orig)} != {len(queries)} queries"
                )
        if any(x is not None and x < 1 for x in k_orig):
            raise ValueError("every k must be >= 1 (or None for all)")
        ks = [
            max(1, self.n_docs) if x is None else int(x) for x in k_orig
        ]
        tomb, tomb_over = self._tombstones()
        allow_ids = None
        allow_overflow = False
        if where is not None:
            from pyspark.errors import (  # noqa: PLC0415
                AnalysisException,
                ParseException,
            )

            try:
                _ = self.docs.filter(F.expr(where)).schema
            except (AnalysisException, ParseException) as e:
                raise ValueError(
                    f"invalid where predicate {where!r}: {e}"
                ) from e
            allow_ids = self._allowed_ids(where)
            allow_overflow = allow_ids is None

        compiled: list = []  # (query_idx, expr, ktm)
        fallback: list[int] = []
        for qi, query in enumerate(queries):
            try:
                expr, _special = parse_query(query, exact=exact)
            except ParseError:
                continue  # empty contribution, same as search()
            query_terms = ast.extract_query_terms(expr)
            if len(query_terms) > MAX_QUERY_TERMS or not query_terms:
                continue
            special_kws = special_keywords(expr)
            plans = {kw: special_plan(kw) for kw in sorted(special_kws)}
            _g0, affecting0 = affecting_specials(plans)
            if (
                zero_included(expr)
                or affecting0
                or tomb_over
                or allow_overflow
            ):
                fallback.append(qi)
                continue
            if allow_ids is not None and not allow_ids.size:
                continue  # scope matches no doc at all -> empty, as search()
            ktm = {kw: kw for kw in query_terms - special_kws}
            for kw, p in plans.items():
                if p.matchable:
                    ktm[kw] = p.lookup
            compiled.append((qi, expr, ktm))

        out_parts: list[DataFrame] = []
        if compiled:
            lookups = sorted(
                {v for _qi, _e, ktm in compiled for v in ktm.values()}
            )
            dfs = self._term_dfs(lookups)
            payload = []
            for _qi, expr, ktm in compiled:
                idfs = {}
                for kw in ast.extract_query_terms(expr):
                    match = ktm.get(kw)
                    df = dfs.get(match, 0) if match else 0
                    if df > 0:
                        idfs[kw] = math.log(
                            1.0 + (self.n_docs - df + 0.5) / (df + 0.5)
                        )
                payload.append((expr, idfs, ktm))
            sum_df = sum(dfs.get(t, 0) for t in lookups)
            if sum_df > 0 and self.n_docs:
                src, width = self._ranged_src(lookups, sum_df, allow_ids)
                gen = ranged.make_batch_range_eval(
                    payload,
                    self.avgdl,
                    width,
                    max(ks[qi] for qi, _e, _m in compiled),
                    with_metadata,
                    exclude_ids=tomb,
                    allow_ids=allow_ids,
                    ks=[ks[qi] for qi, _e, _m in compiled],
                )
                fields = [
                    StructField("query_idx", IntegerType(), False),
                    StructField("doc_id", LongType(), False),
                    StructField("score", DoubleType(), False),
                ]
                if with_metadata:
                    fields.append(
                        StructField(
                            "matched_terms",
                            ArrayType(StringType(), True),
                            False,
                        )
                    )
                # local batch index -> caller's queries position + that
                # query's own k (the window cut is per-query)
                qidx_map = spark.createDataFrame(
                    [
                        (i, int(qi), int(ks[qi]))
                        for i, (qi, _e, _m) in enumerate(compiled)
                    ],
                    "query_idx int, orig_idx int, _kq long",
                )
                ranged_out = (
                    src.repartition("range_id")
                    .mapInArrow(gen, StructType(fields))
                    .withColumn(
                        "_rn",
                        F.row_number().over(
                            Window.partitionBy("query_idx").orderBy(
                                F.desc("score"), F.asc("doc_id")
                            )
                        ),
                    )
                    .join(F.broadcast(qidx_map), "query_idx")
                    .filter(F.col("_rn") <= F.col("_kq"))
                    .drop("_rn", "_kq", "query_idx")
                    .withColumnRenamed("orig_idx", "query_idx")
                )
                out_parts.append(ranged_out)

        meta_cols = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
        for qi in fallback:
            res = self.search(
                queries[qi], k=k_orig[qi], exact=exact,
                with_metadata=with_metadata, where=where,
            ).withColumn("query_idx", F.lit(qi))
            cols = ["query_idx", "doc_id", "score"]
            if with_metadata:
                cols += ["matched_terms"] + meta_cols
            out_parts.append(res.select(*cols))

        qtext = spark.createDataFrame(
            [(i, q) for i, q in enumerate(queries)],
            "query_idx int, query string",
        )
        if not out_parts:
            base = [
                StructField("query_idx", IntegerType(), False),
                StructField("doc_id", LongType(), False),
                StructField("score", DoubleType(), False),
            ]
            empty = spark.createDataFrame([], StructType(base))
            if with_metadata:
                empty = self._empty(True).withColumn(
                    "query_idx", F.lit(0).cast("int")
                )
            return (
                empty.join(F.broadcast(qtext), "query_idx")
                .select(
                    "query_idx", "query", "doc_id", "score",
                    *(
                        ["matched_terms", *meta_cols]
                        if with_metadata
                        else []
                    ),
                )
                .limit(0)
            )

        merged = out_parts[0]
        for part in out_parts[1:]:
            merged = merged.unionByName(part, allowMissingColumns=True)
        if with_metadata and compiled:
            # ranged rows lack doc metadata -> normalize all parts to the
            # bare winner columns (fallback parts already carried meta;
            # re-attaching once for everything beats patching null rows),
            # materialize the driver-scale winner set (<= Q*k rows), and
            # fetch metadata in one footer-pruned read
            merged = merged.select(
                "query_idx", "doc_id", "score", "matched_terms"
            )
            # strategy switches on the ACTUAL winner count (as _with_meta
            # does), not the requested sum(ks) upper bound — selective
            # mining batches stay on the footer-pruned driver fetch
            rows = merged.limit(ISIN_PUSHDOWN_CAP + 1).collect()
            if len(rows) > ISIN_PUSHDOWN_CAP:
                # bulk-mining scale: winners don't fit the driver fetch —
                # ONE distributed docs join for the whole batch (the scan
                # amortizes across all queries; per-query it would be Q
                # scans)
                merged = F.broadcast(merged).join(
                    self.docs.select("doc_id", *meta_cols), "doc_id"
                )
                return (
                    merged.join(F.broadcast(qtext), "query_idx")
                    .select(
                        "query_idx", "query", "doc_id", "score",
                        "matched_terms", *meta_cols,
                    )
                    .orderBy("query_idx", F.desc("score"), F.asc("doc_id"))
                )
            winners = spark.createDataFrame(rows, merged.schema)
            ids = sorted({int(r["doc_id"]) for r in rows})
            if ids:
                merged = F.broadcast(winners).join(
                    self._meta_rows(ids), "doc_id"
                )
            else:
                # zero winners: keep the CORPUS column types (NullType
                # meta columns would crash parquet sinks and unions)
                by_name = {f.name: f for f in self.docs.schema.fields}
                merged = spark.createDataFrame(
                    [],
                    StructType(
                        list(winners.schema.fields)
                        + [by_name[c] for c in meta_cols]
                    ),
                )
        out_cols = ["query_idx", "query", "doc_id", "score"]
        if with_metadata:
            out_cols += ["matched_terms"] + meta_cols
        return (
            merged.join(F.broadcast(qtext), "query_idx")
            .select(*out_cols)
            .orderBy("query_idx", F.desc("score"), F.asc("doc_id"))
        )

    def search_files(
        self,
        query: str,
        max_results: int | None = None,
        exact: bool = False,
        where: str | None = None,
    ) -> DataFrame:
        """Files-only mode (reference ``-f/--files-only``,
        search_runner.rs:699-740): one row per matched CONVERSATION (the
        file analog), no ranking, no content, no session caching — the
        candidate set that would otherwise be scored, collapsed to
        distinct ``conv_id``.  The reference emits its ``all_files``
        HashSet in unspecified order and then applies ``max_results``;
        here the order is determinized to ``conv_id`` ascending so the
        limit is stable.  Columns stay narrow (doc_id -> conv_id join is
        column-pruned; text is never read)."""
        res = self.search(
            query, k=None, exact=exact, with_metadata=False, prune=False,
            where=where,
        )
        out = (
            res.select("doc_id")
            .join(self.docs.select("doc_id", "conv_id"), "doc_id")
            .select("conv_id")
            .distinct()
            .orderBy("conv_id")
        )
        if max_results is not None:
            out = out.limit(max_results)
        return out
