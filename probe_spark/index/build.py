"""Distributed inverted-index build over transcript tables.

Two layouts, selected by ``BuildConfig.fused`` (default True on
posix-visible index paths; streaming deltas and remote object stores use
the two-pass layout):

FUSED SINGLE-PASS PIPELINE (the scale path)

  1. deterministic dense docID assignment over stable (conv_id, turn_idx)
     ordering — never a single-partition window and never
     monotonically_increasing_id (SURVEY.md §4 item 7).  Range boundaries
     come from a deterministic hash sample over a pruned (conv_id,
     turn_idx) scan; docIDs are deterministic for a given corpus
     regardless of input partitioning.
  2. FILE-BASED DOC EXCHANGE (two task waves, no JVM shuffle):
       * pass A routes each row to its range bucket (vectorized
         fixed-width-key searchsorted) and side-writes per-bucket lz4
         Arrow IPC shards (exchange/b=N/part-P.arrow); its Spark output
         is the exact per-bucket counts, which IS the docID offsets job.
         The JVM row-shuffle this replaces (repartitionByRange + persist
         + sortWithinPartitions) measured 3x slower end-to-end at 32
         cores: shuffle write/read/sort of full rows plus cache GC
         competed with the Python tokenizer workers for every core;
       * pass B (one driver-planned task per bucket, like the merge)
         reads its bucket's IPC shards directly with pyarrow, sorts by
         (conv_id, turn_idx) nulls-first in C++, then:
         - tokenizes the turns a batch at a time
           (tokenizer.tokenize_arrow: each distinct word's recipe looked up
           once, postings expanded in numpy) — the ONE tokenizer pass ever;
         - side-writes the bucket's docs/ shard with pyarrow's vectorized
           parquet writer (token arrays never touch parquet unless
           store_tokens);
         - map-side combines postings into level-0 partials
           (allocation-light accumulator; delta+varint-packed), side-
           written BUCKET-PARTITIONED (partials/bg=N/part-P.parquet,
           bucket = pmod(xxhash64(term), n_buckets));
         - emits ONE @stats metadata row; the driver folds
           n_docs/total_dl/avgdl out of the collected rows, so there is
           no stats job.
     All side writes are atomic (dot-tmp + rename; retries overwrite).
  3. SHUFFLE-FREE merge: the driver plans one row per (bucket,
     doc-range group) from partial-shard file sizes — greedy grouping
     under merge_group_bytes bounds a row's memory AND spreads hot
     buckets over rows (the north rule's doc-range salting, by
     construction; salt = group index) — and deals the rows round-robin
     to one task per slot.  A task reads each row's shard files directly
     with pyarrow, sorts the chunk keys once, and splices every term's
     doc-range-disjoint encoded chunks into its segment column-at-a-time
     (codec.splice_runs: the boundary varints rewritten by one vectorized
     encode, the bytes moved by one range gather, the block offset lists
     shifted in numpy).  Terms over max_postings_per_segment, terms with
     overlapping chunk ranges and legacy partials take the per-term path
     (codec.merge_term_chunks), which cuts hot terms into segments of
     whole blocks: a segment holds at most max(max_postings_per_segment,
     block_size) postings.  Segments carry block metadata
     (block_last_doc/block_min_dl + per-block byte offsets, the doc-range
     route's range index) and are side-written into
     postings/kind=/bucket=/ dirs in 256-row row groups.  The packed
     postings move exactly once, file -> file; Spark
     carries only the plan in and per-segment metadata out, which the
     driver folds with one Arrow group_by into the manifest (no re-read
     of the index).
  4. manifest lineage rows per phase + per bucket (build_id, counts,
     bytes, checksum, completed_at); finished phases are skipped on
     resume (docs+partials commit together; partials/ is the merge's
     resume point and is deleted after it).

TWO-PASS PIPELINE (fused=False — streaming deltas, non-posix stores):
docs/ parquet carries tokens/raws; a second mapInArrow pass builds
partials; the merge shuffles partials on (kind, term, salt) with
df-threshold hot-term salting and writes via partitionBy.  StreamingIndexer
appends micro-batch deltas through this path and compact() re-packs from
the stored token arrays.

Scale notes (10^12 turns): no DataFrame caching of bulk data — the only
full-corpus shuffle is the docID range partition; postings are packed to
~2 bytes/posting BEFORE leaving the tokenize task and are never shuffled;
per-merge-task memory is bounded by merge_group_bytes regardless of term
skew ("the" at 10^12 docs becomes many independent doc-range groups);
bucket count, partition counts, and group bytes scale via BuildConfig.

PARQUET WRITE POLICY (both layouts, and every maintenance rewrite): each
postings/ and docs/ file is zstd; in postings only ``term``, the one
column readers filter on, keeps statistics and a dictionary; docs/ keeps
every statistic and dictionary.  One definition,
``parquet_write_options`` (pyarrow) / ``spark_write_options`` (parquet-mr),
sits next to ``_SEG_FILE_SCHEMA``; tables, schemas and 256-row row groups
are what the writer defaults produced, so older snappy indexes still open.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from probe_spark.runtime import ensure_package_on_executors, warm_python_workers

# bump when the on-disk layout changes incompatibly (resume across versions
# must start a fresh directory).  v6: raw index additionally stores
# repair-affecting words (tokenize(w,{w}) != tokenize(w)) — v5 indexes
# silently skip special-term repair for those words.  v7: raw index also
# stores base camel parts and special-prefix suffixes of each run
# (_word_special_runs), so specials occurring only as a camelCase fragment
# of a longer word ('hashmap' in 'myHashmapImpl') source the repair join —
# v6 indexes silently miss those docs (the round-1 documented deviation).
FORMAT_VERSION = 7

POSTINGS_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("term", StringType(), False),
        StructField("salt", IntegerType(), False),
        # chunk sequence within (kind, term, salt): the merge hard-caps
        # segment size, so one salt group may emit several segments;
        # (term, salt, seg_seq) uniquely addresses a segment
        StructField("seg_seq", IntegerType(), False),
        StructField("n_salts", IntegerType(), False),
        StructField("df_seg", LongType(), False),
        StructField("min_doc", LongType(), False),
        StructField("max_doc", LongType(), False),
        StructField("docs_bin", BinaryType(), False),
        StructField("dl_bin", BinaryType(), False),
        StructField("block_last_doc", ArrayType(LongType(), False), False),
        StructField("block_min_dl", ArrayType(IntegerType(), False), False),
        # byte start offsets per block into docs_bin / dl_bin (the
        # doc-range route decodes only the blocks overlapping its range)
        StructField("block_doc_off", ArrayType(LongType(), False), False),
        StructField("block_dl_off", ArrayType(LongType(), False), False),
        StructField("bucket", IntegerType(), False),
        # lineage metadata, computed at pack time so the manifest phase
        # aggregates pruned scalar columns instead of re-reading binaries
        StructField("seg_bytes", LongType(), False),
        StructField("seg_crc", LongType(), False),
    ]
)

_SEGMENT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("kind", pa.string(), False),
        pa.field("term", pa.string(), False),
        pa.field("salt", pa.int32(), False),
        pa.field("seg_seq", pa.int32(), False),
        pa.field("n_salts", pa.int32(), False),
        pa.field("df_seg", pa.int64(), False),
        pa.field("min_doc", pa.int64(), False),
        pa.field("max_doc", pa.int64(), False),
        pa.field("docs_bin", pa.binary(), False),
        pa.field("dl_bin", pa.binary(), False),
        pa.field("block_last_doc", pa.list_(pa.int64()), False),
        pa.field("block_min_dl", pa.list_(pa.int32()), False),
        pa.field("block_doc_off", pa.list_(pa.int64()), False),
        pa.field("block_dl_off", pa.list_(pa.int64()), False),
        pa.field("bucket", pa.int32(), False),
        pa.field("seg_bytes", pa.int64(), False),
        pa.field("seg_crc", pa.int64(), False),
    ]
)

PARTIALS_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("term", StringType(), False),
        StructField("df_part", LongType(), False),
        StructField("min_doc", LongType(), False),
        StructField("max_doc", LongType(), False),
        StructField("docs_bin", BinaryType(), False),
        StructField("dl_bin", BinaryType(), False),
        # per-chunk block metadata (same layout as final segments): lets
        # the merge splice chunks byte-wise instead of decode+re-encode
        StructField("block_last", ArrayType(LongType(), False), False),
        StructField("block_min_dl", ArrayType(IntegerType(), False), False),
        StructField("block_doc_off", ArrayType(LongType(), False), False),
        StructField("block_dl_off", ArrayType(LongType(), False), False),
    ]
)

_PARTIALS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("kind", pa.string(), False),
        pa.field("term", pa.string(), False),
        pa.field("df_part", pa.int64(), False),
        pa.field("min_doc", pa.int64(), False),
        pa.field("max_doc", pa.int64(), False),
        pa.field("docs_bin", pa.binary(), False),
        pa.field("dl_bin", pa.binary(), False),
        pa.field("block_last", pa.list_(pa.int64()), False),
        pa.field("block_min_dl", pa.list_(pa.int32()), False),
        pa.field("block_doc_off", pa.list_(pa.int64()), False),
        pa.field("block_dl_off", pa.list_(pa.int64()), False),
    ]
)


def _single_threaded_arrow() -> None:
    """Cap this worker's Arrow-internal thread pools at 1.  Every executor
    slot already runs one Python worker per core; Arrow's default pool
    (os.cpu_count() threads) on top of that meant 32 workers x 32 arrow
    threads during pass B — measured as pa.Table.sort_by slowing ~25x under
    full task concurrency.  A real cluster would set this via
    executor-cores-aware worker env; here it is per-task idempotent."""
    try:
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
        if pa.io_thread_count() != 1:
            pa.set_io_thread_count(1)
    except Exception:
        pass
    try:
        # retain freed Arrow memory instead of returning it to the OS:
        # the fused core allocates/frees a bucket-sized table per bucket,
        # and at 32-way worker concurrency the resulting mmap/page-fault
        # churn put 66% of ALL cpu in the KERNEL during pass B
        # (/proc/stat sys=0.66 vs user=0.18) — guest zone-lock + host EPT
        # fault contention.  10 min decay ≈ never for a task's lifetime.
        pa.jemalloc_set_decay_ms(600_000)
    except Exception:
        pass


@contextlib.contextmanager
def _timed(label: str):
    """Per-phase wall timing to stderr when PROBE_SPARK_TIMING=1."""
    if os.environ.get("PROBE_SPARK_TIMING") != "1":
        yield
        return
    t0 = time.time()
    yield
    print(f"[timing] {label}: {time.time() - t0:.2f}s", file=sys.stderr, flush=True)


@dataclass
class BuildConfig:
    n_buckets: int = 32  # parquet partition dirs for term-hash pruning
    # cap on postings per final segment, with a floor of one block: the
    # fused merge cuts hot terms at block boundaries, so the effective cap
    # is max(max_postings_per_segment, block_size)
    max_postings_per_segment: int = 1 << 17
    block_size: int = 128  # postings per block (range-index granularity)
    doc_partitions: int | None = None  # defaults to defaultParallelism
    # fused exchange: target rows per range bucket (pass-B task working
    # set).  Small buckets keep full-width worker concurrency cache-
    # resident; ~16k turns ≈ 15MB of text per task
    exchange_bucket_rows: int = 16384
    # degenerate-line filter (file_processing.rs:1090-1107): lines longer
    # than this are blanked BEFORE tokenization (they never enter postings
    # or dl; stored text is untouched for display).  None = off — the
    # default, so the correctness oracles tokenize exactly the stored text;
    # the reference's default is 500
    blank_lines_over: int | None = None
    # level-0 flush threshold: bounds the partial builder's in-memory
    # accumulator (postings held per task before a flush; each flush
    # sorts and varint-encodes them in one block).  Bigger flushes mean
    # fewer duplicated per-term rows in the partial shards and a cheaper
    # merge.
    partial_flush_postings: int = 1 << 20
    # pass-B Arrow slice size fed to the fused core: one add() appends
    # ~rows x avg_dl postings, so this bounds the accumulator's chunk
    # granularity (and with it the flush working set) — 4096 rows x ~30
    # tokens ≈ the flush threshold
    pack_chunk_rows: int = 4096
    # fused=True (default): single-pass build — the tokenize pass side-writes
    # the level-0 partials per task (posix-visible index paths only; remote
    # object stores fall back to the two-pass path), and the merge side-
    # writes final segments straight into kind=/bucket=/ dirs, so the token
    # arrays never hit parquet and two full jobs + one shuffle disappear
    fused: bool = True
    # keep tokens/raws columns in docs/ (fused path only; the two-pass path
    # always stores them — its partials pass re-reads them, and the
    # streaming delta/compact path requires them)
    store_tokens: bool = False
    # shuffle-free merge: target input bytes per merge task (one task per
    # (bucket, doc-range group)); bounds task memory AND spreads hot
    # buckets across tasks — the doc-range salting, by construction
    merge_group_bytes: int = 48 << 20
    # pass-B (fused core) tasks per executor slot: >2 waves so per-task
    # wall variance (host contention, not data skew — rows are balanced by
    # construction) averages out instead of one straggler ending each wave
    build_tasks_per_slot: int = 3


def _blank_long_lines(text: str, limit: int) -> str:
    """file_processing.rs:1090-1107: lines over ``limit`` chars blanked
    before tokenization (minified blobs/base64 walls never pollute the
    index).  Fast path: a text shorter than the limit cannot contain one."""
    if len(text) <= limit:
        return text
    return "\n".join(
        l if len(l) <= limit else "" for l in text.split("\n")
    )


def _blank_long_lines_arrow(texts: "pa.Array", limit: int) -> "pa.Array":
    """_blank_long_lines over an Arrow text column (only rows longer than
    ``limit`` go through Python)."""
    import pyarrow.compute as pc

    from probe_spark.functions.tokenizer import replace_rows

    return replace_rows(
        texts,
        pc.greater(pc.utf8_length(texts), limit),
        lambda t: _blank_long_lines(t, limit),
    )


def _make_docs_builder(
    offsets: dict[int, int], blank_lines_over: "int | None" = None
):
    """mapInArrow generator over range-partitioned, partition-sorted
    transcripts: assigns doc_id = partition_offset + local_row_index (dense,
    globally ordered by (conv_id, turn_idx) because range partition index
    order IS range order) and runs the ONE tokenizer pass (``tokenize_arrow``
    per batch; the tokens/raws list columns are built from its id postings).

    This replaces a window over a _pid-keyed hash shuffle: hashing ~n_parts
    distinct _pid values into n_parts buckets collides badly (measured: a
    third of partitions empty, stragglers 100x the median task), whereas
    this pass keeps the range partitioning it already has — no shuffle, no
    skew, and doc_id assignment + tokenization share one Python hop.
    """

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _single_threaded_arrow()
        from pyspark import TaskContext

        from probe_spark.functions.tokenizer import tokenize_arrow

        pid = TaskContext.get().partitionId()
        next_id = offsets.get(pid, 0)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            texts = batch.column("text")
            if blank_lines_over is not None:
                texts = _blank_long_lines_arrow(texts, blank_lines_over)
            bt = tokenize_arrow(texts)
            tokens, raws = bt.lists()
            arrays = [
                pa.array(range(next_id, next_id + n), pa.int64()),
                batch.column("conv_id"),
                batch.column("turn_idx"),
                batch.column("role"),
                batch.column("tool"),
                batch.column("ts"),
                batch.column("text"),
                pa.array(bt.dls),
                tokens,
                raws,
            ]
            next_id += n
            yield pa.RecordBatch.from_arrays(
                arrays,
                names=[
                    "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
                    "text", "dl", "tokens", "raws",
                ],
            )

    return gen


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of one IntegerType column (Murmur3 x86_32
    hashInt, public algorithm) — used to precompute routing representatives
    driver-side so ``repartition(n, col)`` places bucket b in partition b
    exactly (plain hash routing of ~n distinct values into n partitions
    collides badly: measured a third of partitions empty)."""
    M = 0xFFFFFFFF
    k1 = (x * 0xCC9E2D51) & M
    k1 = ((k1 << 15) | (k1 >> 17)) & M
    k1 = (k1 * 0x1B873593) & M
    h1 = seed ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & M
    h1 = (h1 * 5 + 0xE6546B64) & M
    h1 ^= 4  # length in bytes
    h1 = (h1 ^ (h1 >> 16)) * 0x85EBCA6B & M
    h1 = (h1 ^ (h1 >> 13)) * 0xC2B2AE35 & M
    h1 ^= h1 >> 16
    # Spark interprets the result as a signed int32 and routes via
    # pmod(hash, n)
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _routing_reps(n_parts: int) -> list[int]:
    """reps[b] = smallest non-negative int32 x with pmod(murmur3(x), n) == b:
    remapping bucket b -> reps[b] makes hash repartitioning an exact
    identity routing (partition index == bucket index)."""
    reps: list[int | None] = [None] * n_parts
    found = 0
    x = 0
    while found < n_parts:
        b = _murmur3_int(x) % n_parts
        if reps[b] is None:
            reps[b] = x
            found += 1
        x += 1
    return reps  # type: ignore[return-value]


def _one_row_per_partition(
    spark: SparkSession,
    rows: list,
    schema: str,
    n_tasks: int | None = None,
    contiguous: bool = False,
):
    """Spread driver-planned task rows over exactly ``n_tasks`` partitions
    (default: one row per partition).  ``repartition(len(rows))``
    hash-routes and collides (balls-in-bins: with 32 rows into 32
    partitions the fullest task gets ~3 rows while others idle — measured
    as the merge/build stage taking ~3x one task's time at full
    concurrency).  Routing row i via a murmur3 representative makes the
    assignment exact, and keeps each partition's rows in ascending plan
    order.

    ``contiguous=True`` assigns row i -> task i*n_tasks//len(rows)
    (balanced contiguous runs) instead of round-robin: the fused pass-B
    plan needs each task to own a CONTIGUOUS docID range so that, per
    term, level-0 partial chunks across tasks are range-disjoint — the
    invariant the splice merge's byte concatenation rests on."""
    n_tasks = min(len(rows), n_tasks or len(rows))
    reps = _routing_reps(n_tasks)
    if contiguous:
        assign = [i * n_tasks // len(rows) for i in range(len(rows))]
    else:
        assign = [i % n_tasks for i in range(len(rows))]
    df = spark.createDataFrame(
        [(reps[a], *r) for a, r in zip(assign, rows)],
        "_route int, " + schema,
    )
    return df.repartition(n_tasks, F.col("_route")).drop("_route")


def _bucket_expr(boundaries: list[tuple[str, int]]):
    """Balanced binary-search ``when`` tree assigning each row its range
    bucket = #boundaries <= (conv_id, turn_idx) under lexicographic order.
    Pure Column expressions (whole-stage codegen; no Python in the
    full-corpus path).  NULL keys compare null -> otherwise-branch ->
    bucket 0, matching range partitioning's nulls-first placement.

    Expression size is O(len(boundaries)): fine for the few thousand
    partitions local mode uses.  A 10^12-turn cluster build (10^5+
    partitions) swaps this for a vectorized np.searchsorted pandas UDF over
    the same boundaries — semantics identical, documented scale path."""

    def tree(lo: int, hi: int):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        c, t = boundaries[mid]
        ge = (F.col("conv_id") > F.lit(c)) | (
            (F.col("conv_id") == F.lit(c)) & (F.col("turn_idx") >= F.lit(t))
        )
        return F.when(ge, tree(mid + 1, hi)).otherwise(tree(lo, mid))

    return tree(0, len(boundaries))


def _plan_range_layout(
    df: DataFrame, n_parts: int, sample_per_part: int = 120
) -> tuple[DataFrame, dict[int, int], int]:
    """Deterministic dense-docID layout (SURVEY.md §4 item 7) with the
    full-row corpus touched EXACTLY ONCE:

      1. pruned count of (conv_id, turn_idx) (parquet: metadata-only);
      2. deterministic hash sample (pmod(xxhash64(key), K) == 0 — depends
         only on the data, never on partitioning or RNG) -> driver sorts
         the sample and picks n_parts-1 quantile boundaries;
      3. pruned exact per-bucket counts (2-column scan + map-side combined
         groupBy) -> partition offsets known BEFORE the build pass;
      4. route rows to partition == bucket via precomputed murmur3
         representatives + sortWithinPartitions(conv_id, turn_idx).

    Replaces repartitionByRange + persist + count-over-the-cache: no cache
    build (the old 48g-heap GC storm at high core counts), no second
    full-row materialization, and docIDs are deterministic for a given
    corpus regardless of input partitioning (hash sampling), which the
    sampled range exchange could not guarantee.  Returns
    (routed_df, offsets, n_rows)."""
    keys = df.select("conv_id", "turn_idx")
    n_rows = keys.count()
    if n_rows == 0 or n_parts <= 1:
        return (
            df.repartition(1).sortWithinPartitions("conv_id", "turn_idx"),
            {0: 0},
            n_rows,
        )
    target = sample_per_part * n_parts
    k = max(1, n_rows // target)
    sample = [
        (r["conv_id"], r["turn_idx"])
        for r in keys.filter(
            F.pmod(F.abs(F.xxhash64("conv_id", "turn_idx")), F.lit(k)) == 0
        ).collect()
        if r["conv_id"] is not None and r["turn_idx"] is not None
    ]
    sample.sort()
    if not sample:
        return (
            df.repartition(1).sortWithinPartitions("conv_id", "turn_idx"),
            {0: 0},
            n_rows,
        )
    boundaries: list[tuple[str, int]] = []
    for i in range(1, n_parts):
        b = sample[min(len(sample) - 1, i * len(sample) // n_parts)]
        if not boundaries or b > boundaries[-1]:
            boundaries.append(b)
    bucket = _bucket_expr(boundaries)
    counts = {
        r["_b"]: r["cnt"]
        for r in keys.groupBy(bucket.alias("_b"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for b in range(len(boundaries) + 1):
        offsets[b] = acc
        acc += counts.get(b, 0)
    reps = _routing_reps(len(boundaries) + 1)
    routed = (
        df.repartition(
            len(boundaries) + 1,
            F.element_at(
                F.array(*[F.lit(r) for r in reps]), bucket + F.lit(1)
            ),
        )
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    return routed, offsets, acc


def _docs_schema(ts_type, store_tokens: bool) -> StructType:
    fields = [
        StructField("doc_id", LongType(), False),
        StructField("conv_id", StringType(), True),
        StructField("turn_idx", IntegerType(), True),
        StructField("role", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", ts_type, True),
        StructField("text", StringType(), True),
        StructField("dl", IntegerType(), False),
    ]
    if store_tokens:
        fields += [
            StructField("tokens", ArrayType(StringType(), True), False),
            StructField("raws", ArrayType(StringType(), True), False),
        ]
    return StructType(fields)


def _canonical_input(parted: DataFrame) -> DataFrame:
    """Canonicalize input types (input_hint: turn_idx int32) — callers may
    hand in a long turn_idx (row-inferred DataFrames); the arrow pass-
    through must match the declared output schema exactly."""
    return parted.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role").cast("string").alias("role"),
        F.col("tool").cast("string").alias("tool"),
        F.col("ts"),
        F.col("text").cast("string").alias("text"),
    )


def _assign_and_tokenize(
    df: DataFrame, n_parts: int, blank_lines_over: "int | None" = None
) -> tuple[DataFrame, int]:
    """Dense docID over stable (conv_id, turn_idx) ordering + the single
    tokenizer pass, as one routed shuffle and one mapInArrow (two-pass
    layout: tokens/raws ride the docs parquet for the separate partials
    pass — the streaming delta path).  Returns (docs_df, n_docs)."""
    routed, offsets, acc = _plan_range_layout(df, n_parts)
    ts_type = dict(zip(df.schema.names, df.schema.fields))["ts"].dataType
    docs = _canonical_input(routed).mapInArrow(
        _make_docs_builder(offsets, blank_lines_over),
        _docs_schema(ts_type, store_tokens=True),
    )
    return docs, acc


# ---------------------------------------------------------------------------
# partials: map-side combine (docs partitions -> level-0 packed segments)
# ---------------------------------------------------------------------------


class _PartialAcc:
    """Map-side-combine core shared by the fused single-pass builder and the
    two-pass partials builder: accumulates (term-code, doc, dl) triples and
    flushes delta+varint-packed PARTIALS_SCHEMA batches to ``sink``.

    Two front ends feed the same core.  ``add_tokens`` (the fused core)
    takes a ``tokenizer.BatchTokens``: its token ids map to term codes
    through one numpy array per kind, so only a token id the map has not
    met goes through the ``(kind, term)`` interning dict.  ``add`` (the
    two-pass layout) takes Arrow list<string> columns, dictionary-encodes
    them and interns each batch's distinct terms through that dict.  Both
    intern a batch's new terms in first-appearance order, the tok kind
    before the raw kind, so term codes — and with them the flushed row
    order — depend only on the postings.

    Allocation-light by design: per kind and batch the core copies THREE
    contiguous slices (term codes, doc ids, dls) into preallocated slabs
    that live as long as the task; the per-batch inputs (token ids and
    rows, or the adapter's dictionary codes and repeated row indices) are
    batch-sized arrays, not flush-sized ones.  All grouping work happens
    once per FLUSH: one stable argsort by code, one vectorized varint
    encode of the whole flush with per-value byte offsets, then per-term
    byte slicing.  The original per-batch dict-of-slices design thrashed
    caches badly under 32-way worker concurrency (measured 44x per-task
    inflation at 32 concurrent workers vs 8 on the same input)."""

    def __init__(
        self,
        flush_postings: int,
        sink,
        n_buckets: int | None = None,
        block_size: int = 128,
    ):
        self.flush_postings = flush_postings
        self.sink = sink  # callable(pa.RecordBatch, buckets=None)
        self.n_buckets = n_buckets
        self.block_size = block_size
        self.term_ids: dict[tuple[str, str], int] = {}
        self.terms: list[tuple[str, str]] = []
        self._term_buckets: list = []  # np chunks, parallel to terms
        self._hashed_terms = 0
        # add_tokens: token id -> term code (-1 = not met yet) per kind,
        # valid for the word table they were filled from
        self._id_table = None
        self._id_codes: dict[str, object] = {}
        # preallocated posting slabs, reused across the task's lifetime:
        # the accumulated postings (up to a flush) are written in place,
        # never concatenated or regrown per batch.  Fresh pages are what
        # hurt: on a memory-overcommitted host a guest minor fault costs
        # ~0.6 ms of kernel time, and 32 concurrent workers once spent
        # 80-90% of the machine in the kernel during pass B.  An add still
        # allocates its batch-sized inputs (the tokenizer's id arrays, or
        # the adapter's codes and repeated row indices); only the slabs
        # are allocation-free.
        self._cap = 0
        self._codes_buf = None  # int32[cap]
        self._ids_buf = None  # int64[cap]
        self._dls_buf = None  # int32[cap]
        self.pending = 0
        self.n_docs = 0
        self.total_dl = 0

    def _buckets_through(self) -> "object":
        """Term->bucket array covering every interned term: new terms since
        the last flush are hashed ONCE, vectorized (hashing per flush per
        row was the sink's dominant cost at ~300k distinct terms/task)."""
        import numpy as np

        from probe_spark.index.xxhash import spark_buckets_vec

        if self._hashed_terms < len(self.terms):
            new = [t for _, t in self.terms[self._hashed_terms :]]
            self._term_buckets.append(
                np.asarray(spark_buckets_vec(new, self.n_buckets), np.int64)
            )
            self._hashed_terms = len(self.terms)
        if len(self._term_buckets) > 1:
            self._term_buckets = [np.concatenate(self._term_buckets)]
        return self._term_buckets[0] if self._term_buckets else None

    def _intern(self, kind: str, terms) -> "object":
        """Term codes of ``terms`` (strings), adding new ones in order."""
        import numpy as np

        term_ids = self.term_ids
        out = np.empty(len(terms), dtype=np.int32)
        for i, t in enumerate(terms):
            key = (kind, t)
            gid = term_ids.get(key)
            if gid is None:
                gid = term_ids[key] = len(self.terms)
                self.terms.append(key)
            out[i] = gid
        return out

    def add(self, ids, dls, kind_cols) -> None:
        """ids/dls: numpy arrays (ids ascending — batches stream in docID
        order within a task, which _flush relies on for per-term
        sortedness); kind_cols: [(kind, arrow list<string>)]."""
        import numpy as np
        import pyarrow.compute as pc

        self._count(ids, dls)
        for kind, arr in kind_cols:
            lens = (
                pc.fill_null(pc.list_value_length(arr), 0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            if lens.sum() == 0:
                continue
            de = arr.flatten().dictionary_encode()
            gmap = self._intern(kind, de.dictionary.to_pylist())
            codes = gmap[de.indices.to_numpy(zero_copy_only=False)]
            self._append(ids, dls, np.repeat(np.arange(len(ids)), lens), codes)
        self._end_batch()

    def add_tokens(self, ids, bt) -> None:
        """ids: the batch rows' doc ids (ascending, as for ``add``); bt: the
        rows' ``tokenizer.BatchTokens``, whose ``dls`` are the doc
        lengths."""
        import numpy as np

        self._count(ids, bt.dls)
        if bt.table is not self._id_table:
            self._id_table = bt.table
            self._id_codes = {}
        n_strings = len(bt.table.strings)
        for kind, tids, tdoc in (
            ("tok", bt.tok_ids, bt.tok_doc),
            ("raw", bt.raw_ids, bt.raw_doc),
        ):
            if not len(tids):
                continue
            m = self._id_codes.get(kind)
            if m is None or len(m) < n_strings:
                old = m if m is not None else np.empty(0, np.int32)
                m = np.full(max(n_strings, 2 * len(old)), -1, np.int32)
                m[: len(old)] = old
                self._id_codes[kind] = m
            codes = m[tids]
            unmet = codes < 0
            if unmet.any():
                met, first = np.unique(tids[unmet], return_index=True)
                met = met[np.argsort(first)]
                strings = bt.table.strings
                m[met] = self._intern(kind, [strings[i] for i in met.tolist()])
                codes = m[tids]
            self._append(ids, bt.dls, tdoc, codes)
        self._end_batch()

    def _count(self, ids, dls) -> None:
        import numpy as np

        self.n_docs += int(len(ids))
        self.total_dl += int(dls.sum(dtype=np.int64))

    def _append(self, ids, dls, rows, codes) -> None:
        """Append one kind's postings: term ``codes[i]`` in row
        ``rows[i]`` of the batch whose doc ids and lengths are ids/dls."""
        import numpy as np

        total = int(len(codes))
        if self.pending and self.pending + total > max(
            self._cap, self.flush_postings
        ):
            self._emit()
        self._ensure_capacity(self.pending + total)
        p = self.pending
        self._codes_buf[p : p + total] = codes
        np.take(ids, rows, out=self._ids_buf[p : p + total])
        np.take(
            dls.astype(np.int32, copy=False),
            rows,
            out=self._dls_buf[p : p + total],
        )
        self.pending += total

    def _end_batch(self) -> None:
        if self.pending >= self.flush_postings:
            self._emit()

    def _ensure_capacity(self, need: int) -> None:
        import numpy as np

        if need <= self._cap:
            return
        cap = max(need, self.flush_postings + (self.flush_postings >> 2))
        for name, dt in (
            ("_codes_buf", np.int32),
            ("_ids_buf", np.int64),
            ("_dls_buf", np.int32),
        ):
            buf = np.empty(cap, dtype=dt)
            old = getattr(self, name)
            if old is not None and self.pending:
                buf[: self.pending] = old[: self.pending]
            setattr(self, name, buf)
        self._cap = cap

    def _emit(self) -> None:
        batch, buckets = self._flush()
        if self.n_buckets is not None:
            self.sink(batch, buckets)
        else:
            self.sink(batch)

    def _flush(self) -> "tuple[pa.RecordBatch, object]":
        import numpy as np

        from probe_spark.index.codec import _varint_encode_offsets

        # slab views, not copies: every step below gathers through an
        # argsort order (fresh arrays), so nothing retains these views and
        # the slab is free for reuse the moment this returns
        codes = self._codes_buf[: self.pending]
        ids = self._ids_buf[: self.pending]
        dls = self._dls_buf[: self.pending]
        self.pending = 0
        # stable sort by term code: within a term, arrival order is
        # normally ascending doc order (see add), so runs come out sorted.
        # Guard: a parquet read split can concatenate files out of doc
        # order (two-pass layout) — detect and fall back to a full lexsort.
        order = np.argsort(codes, kind="stable")
        sc = codes[order]
        si = ids[order]
        run_break = np.empty(len(sc), dtype=bool)
        run_break[0] = True
        np.not_equal(sc[1:], sc[:-1], out=run_break[1:])
        if len(si) > 1 and bool(
            np.any((np.diff(si) <= 0) & ~run_break[1:])
        ):
            order = np.lexsort((ids, codes))
            sc = codes[order]
            si = ids[order]
        codes = sc
        ids = si
        dls = dls[order]
        bounds = np.flatnonzero(np.diff(codes)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(codes)]))
        # delta within each term run; the run's first gap = absolute id
        gaps = np.empty(len(ids), dtype=np.uint64)
        if len(ids) > 1:
            np.subtract(ids[1:], ids[:-1], out=gaps[1:], casting="unsafe")
        gaps[starts] = ids[starts]
        docs_bin, doc_offs = _varint_encode_offsets(gaps)
        dl_bin, dl_offs = _varint_encode_offsets(dls.astype(np.uint64))
        sel = codes[starts]
        # each term's payload is a CONTIGUOUS slice of the varint buffer
        # (terms are sorted, offsets are cumulative), so the binary columns
        # are built zero-copy from (offsets[boundaries], buffer) instead of
        # materializing one Python bytes object per term (~300k allocs +
        # copies per flush — the pack phase's dominant memory traffic)
        bnd = np.concatenate((starts, [len(codes)]))
        # per-term block metadata, all-vectorized: term runs are contiguous
        # in the flush buffer, so one global reduceat/fancy-index pass
        # covers every block of every term.  Emitting it here is what lets
        # the merge splice chunks byte-wise (codec.splice_chunks) instead
        # of decoding + re-encoding every posting.
        Bsz = self.block_size
        counts = ends - starts
        nb = (counts + Bsz - 1) // Bsz
        bcum = np.concatenate(([0], np.cumsum(nb)))
        total_b = int(bcum[-1])
        rep_tstart = np.repeat(starts, nb)
        intra = np.arange(total_b, dtype=np.int64) - np.repeat(bcum[:-1], nb)
        bstarts = rep_tstart + intra * Bsz
        bends = np.minimum(bstarts + Bsz, np.repeat(ends, nb))
        return self._build_batch(
            sel,
            counts.astype(np.int64),
            ids[starts],
            ids[ends - 1],
            docs_bin,
            doc_offs[bnd],
            dl_bin,
            dl_offs[bnd],
            ids[bends - 1],
            np.minimum.reduceat(dls, bstarts).astype(np.int32),
            doc_offs[bstarts] - doc_offs[rep_tstart],
            dl_offs[bstarts] - dl_offs[rep_tstart],
            bcum,
        )

    def _build_batch(
        self,
        sel,
        dfs,
        min_docs,
        max_docs,
        docs_bin,
        doc_term_offs,
        dl_bin,
        dl_term_offs,
        block_last_v,
        block_min_dl_v,
        block_doc_off_v,
        block_dl_off_v,
        bcum,
    ) -> "tuple[pa.RecordBatch, object]":
        import numpy as np

        terms = self.terms
        kt = [terms[c] for c in sel]
        n_terms = len(sel)
        boff = pa.array(bcum.astype(np.int32))

        def _blist(vals: "np.ndarray", typ) -> pa.Array:
            return pa.ListArray.from_arrays(boff, pa.array(vals, typ))

        docs_arr = pa.Array.from_buffers(
            pa.binary(),
            n_terms,
            [
                None,
                pa.py_buffer(doc_term_offs.astype(np.int32)),
                pa.py_buffer(docs_bin),
            ],
        )
        dl_arr = pa.Array.from_buffers(
            pa.binary(),
            n_terms,
            [
                None,
                pa.py_buffer(dl_term_offs.astype(np.int32)),
                pa.py_buffer(dl_bin),
            ],
        )
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array([k for k, _ in kt], pa.string()),
                pa.array([t for _, t in kt], pa.string()),
                pa.array(dfs, pa.int64()),
                pa.array(min_docs, pa.int64()),
                pa.array(max_docs, pa.int64()),
                docs_arr,
                dl_arr,
                _blist(block_last_v, pa.int64()),
                _blist(block_min_dl_v, pa.int32()),
                _blist(block_doc_off_v, pa.int64()),
                _blist(block_dl_off_v, pa.int64()),
            ],
            schema=_PARTIALS_ARROW_SCHEMA,
        )
        buckets = None
        if self.n_buckets is not None:
            buckets = self._buckets_through()[sel]
        return batch, buckets

    def finish(self) -> None:
        """Flush the tail, then emit the per-partition corpus stats row
        (kind=@stats, df_part=n_docs, min_doc=total_dl): the stats phase
        aggregates partials METADATA instead of re-scanning docs dl."""
        if self.pending:
            self._emit()
        self.sink(
            pa.RecordBatch.from_arrays(
                [
                    pa.array(["@stats"], pa.string()),
                    pa.array([""], pa.string()),
                    pa.array([self.n_docs], pa.int64()),
                    pa.array([self.total_dl], pa.int64()),
                    pa.array([0], pa.int64()),
                    pa.array([b""], pa.binary()),
                    pa.array([b""], pa.binary()),
                    pa.array([[]], pa.list_(pa.int64())),
                    pa.array([[]], pa.list_(pa.int32())),
                    pa.array([[]], pa.list_(pa.int64())),
                    pa.array([[]], pa.list_(pa.int64())),
                ],
                schema=_PARTIALS_ARROW_SCHEMA,
            )
        )


def _make_partial_builder(flush_postings: int, block_size: int = 128):
    """mapInArrow generator: (doc_id, dl, tokens, raws) batches ->
    PARTIALS_SCHEMA rows (two-pass layout; the streaming delta path)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _single_threaded_arrow()
        out: list[pa.RecordBatch] = []
        acc = _PartialAcc(flush_postings, out.append, block_size=block_size)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            acc.add(
                batch.column("doc_id").to_numpy(zero_copy_only=False),
                batch.column("dl").to_numpy(zero_copy_only=False),
                [("tok", batch.column("tokens")), ("raw", batch.column("raws"))],
            )
            while out:
                yield out.pop(0)
        acc.finish()
        yield from out

    return gen


class _ShardWriter:
    """Task-side atomic parquet shard writer: writes to a dot-prefixed tmp
    file (dot-files are invisible to Spark's parquet reader if leaked) and
    renames on close, so a retried task's last successful attempt wins."""

    def __init__(
        self, dir_path: str, name: str, schema: pa.Schema, **write_options
    ):
        import pyarrow.parquet as pq

        os.makedirs(dir_path, exist_ok=True)
        self.final = os.path.join(dir_path, name)
        self.tmp = os.path.join(dir_path, f".{name}.tmp{os.getpid()}")
        self.writer = pq.ParquetWriter(self.tmp, schema, **write_options)

    def write(self, batch: pa.RecordBatch) -> None:
        self.writer.write_table(pa.Table.from_batches([batch]))

    def write_table(self, table: pa.Table, row_group_size=None) -> None:
        self.writer.write_table(table, row_group_size=row_group_size)

    def close(self) -> None:
        self.writer.close()
        os.replace(self.tmp, self.final)


def _strip_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def _is_posix_path(path: str) -> bool:
    return "://" not in path or path.startswith("file://")


class _BucketShardSink:
    """Routes PARTIALS batches into per-bucket shard files
    (partials/bg=N/part-{pid}.parquet): the merge then reads each bucket's
    files directly — no shuffle ever touches the packed postings.  @stats
    rows land under bg=-1.  Rows are grouped by bucket within
    each flush."""

    def __init__(self, base_dir: str, pid: int, n_buckets: int):
        self.base = _strip_scheme(base_dir)
        self.pid = pid
        self.n_buckets = n_buckets
        self.writers: dict[int, _ShardWriter] = {}

    def _writer(self, bg: int) -> _ShardWriter:
        w = self.writers.get(bg)
        if w is None:
            w = _ShardWriter(
                os.path.join(self.base, f"bg={bg}"),
                f"part-{self.pid:05d}.parquet",
                _PARTIALS_ARROW_SCHEMA,
            )
            self.writers[bg] = w
        return w

    def write(self, batch: pa.RecordBatch, buckets=None) -> None:
        import numpy as np

        from probe_spark.index.xxhash import spark_buckets_vec

        if buckets is None:
            terms = batch.column("term").to_pylist()
            buckets = np.asarray(
                spark_buckets_vec(terms, self.n_buckets), dtype=np.int64
            )
            kinds = batch.column("kind").to_pylist()
            for i, kind in enumerate(kinds):
                if kind == "@stats":
                    buckets[i] = -1
        order = np.argsort(buckets, kind="stable")
        sorted_batch = batch.take(pa.array(order))
        sb = buckets[order]
        bounds = np.flatnonzero(np.diff(sb)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(sb)]))
        for s, e in zip(starts, ends):
            self._writer(int(sb[s])).write(sorted_batch.slice(s, e - s))

    def close(self) -> None:
        for w in self.writers.values():
            w.close()


class _FusedCore:
    """Per-task fused build core: assigns dense docIDs, tokenizes each
    Arrow batch with ``tokenize_arrow``, hands its id postings to the
    map-side combiner (``_PartialAcc.add_tokens``: no per-turn Python
    lists), and side-writes docs parquet shards (one per range bucket) plus
    ONE level-0 partials shard per task with pyarrow's vectorized writers.
    The JVM never row-converts or parquet-writes the bulk data (measured:
    Spark's row-based ParquetWriteSupport burned ~40 JVM core-seconds per
    million turns); the Spark output is one @stats metadata row per task,
    so the stats job disappears too (the driver folds the collected rows).

    A task processes its range buckets in ASCENDING bucket order — doc ids
    then ascend across the whole task, which _PartialAcc._flush relies on
    (sharing one accumulator across a task's buckets is what keeps the
    partial shard count at n_tasks x n_buckets instead of
    n_range_buckets x n_buckets)."""

    def __init__(
        self,
        task_id: int,
        docs_dir: str,
        partials_dir: str,
        flush_postings: int,
        store_tokens: bool,
        n_buckets: int,
        blank_lines_over: "int | None" = None,
        block_size: int = 128,
    ):
        self.docs_dir = docs_dir
        self.store_tokens = store_tokens
        self.blank_lines_over = blank_lines_over
        self.sink = _BucketShardSink(partials_dir, task_id, n_buckets)
        self.acc = _PartialAcc(
            flush_postings, self.sink.write, n_buckets, block_size
        )
        self.tt: "dict | None" = (
            {} if os.environ.get("PROBE_SPARK_TASK_TRACE") else None
        )
        self.next_id = 0
        self.bucket: int | None = None
        self.docs_shard: _ShardWriter | None = None  # schema from 1st batch
        self.docs_buf: list[pa.RecordBatch] = []
        self.docs_buf_rows = 0

    def _flush_docs(self) -> None:
        if self.docs_buf:
            self.docs_shard.write_table(pa.Table.from_batches(self.docs_buf))
            self.docs_buf = []
            self.docs_buf_rows = 0

    def start_bucket(self, bucket: int, next_id: int) -> None:
        """Switch to the next range bucket (ascending): close the previous
        bucket's docs shard, set its docID offset."""
        if self.docs_shard is not None:
            self._flush_docs()
            self.docs_shard.close()
            self.docs_shard = None
        self.bucket = bucket
        self.next_id = next_id

    def process(self, batch: pa.RecordBatch) -> None:
        import numpy as np

        from probe_spark.functions.tokenizer import tokenize_arrow

        n = batch.num_rows
        if n == 0:
            return
        tt = self.tt  # sub-phase timers, populated only under TASK_TRACE
        t0 = time.time() if tt is not None else 0.0
        if tt is not None:
            import resource as _res

            f0 = _res.getrusage(_res.RUSAGE_SELF).ru_minflt
        texts = batch.column("text")
        if self.blank_lines_over is not None:
            texts = _blank_long_lines_arrow(texts, self.blank_lines_over)
        bt = tokenize_arrow(texts)
        if tt is not None:
            tt["tok"] = tt.get("tok", 0.0) + time.time() - t0
            f1 = _res.getrusage(_res.RUSAGE_SELF).ru_minflt
            tt["tokflt"] = tt.get("tokflt", 0.0) + (f1 - f0)
            f0 = f1
            t0 = time.time()
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.acc.add_tokens(ids, bt)
        if tt is not None:
            tt["pack"] = tt.get("pack", 0.0) + time.time() - t0
            f1 = _res.getrusage(_res.RUSAGE_SELF).ru_minflt
            tt["packflt"] = tt.get("packflt", 0.0) + (f1 - f0)
            f0 = f1
            t0 = time.time()
        ts_col = batch.column("ts")
        if pa.types.is_timestamp(ts_col.type) and ts_col.type.unit == "ns":
            # INT96-written sources decode as nanos, which Spark's parquet
            # reader refuses; micros is the engine's canonical unit
            ts_col = ts_col.cast(pa.timestamp("us", tz=ts_col.type.tz))
        arrays = [
            pa.array(ids),
            batch.column("conv_id"),
            batch.column("turn_idx"),
            batch.column("role"),
            batch.column("tool"),
            ts_col,
            batch.column("text"),
            pa.array(bt.dls),
        ]
        names = [
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
            "text", "dl",
        ]
        if self.store_tokens:
            arrays += list(bt.lists())
            names += ["tokens", "raws"]
        self.next_id += n
        docs_batch = pa.RecordBatch.from_arrays(arrays, names=names)
        if self.docs_shard is None:
            self.docs_shard = _ShardWriter(
                _strip_scheme(self.docs_dir),
                f"part-{self.bucket:05d}.parquet",
                docs_batch.schema,
                **parquet_write_options("docs"),
            )
        self.docs_buf.append(docs_batch)
        self.docs_buf_rows += n
        if self.docs_buf_rows >= 1 << 17:  # ~128k rows per row group
            self._flush_docs()
        if tt is not None:
            tt["docw"] = tt.get("docw", 0.0) + time.time() - t0

    def finish(self) -> tuple[int, int]:
        """Close writers; returns (n_docs, total_dl) for the @stats row."""
        self.acc.finish()
        self.sink.close()
        if self.docs_shard is not None:
            self._flush_docs()
            self.docs_shard.close()
        return self.acc.n_docs, self.acc.total_dl


def _stats_batch(n_docs: int, total_dl: int, shard: int) -> pa.RecordBatch:
    """One @stats metadata row (df_part=n_docs, min_doc=total_dl,
    max_doc=shard) in PARTIALS_SCHEMA shape."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array(["@stats"], pa.string()),
            pa.array([""], pa.string()),
            pa.array([n_docs], pa.int64()),
            pa.array([total_dl], pa.int64()),
            pa.array([shard], pa.int64()),
            pa.array([b""], pa.binary()),
            pa.array([b""], pa.binary()),
            pa.array([[]], pa.list_(pa.int64())),
            pa.array([[]], pa.list_(pa.int32())),
            pa.array([[]], pa.list_(pa.int64())),
            pa.array([[]], pa.list_(pa.int64())),
        ],
        schema=_PARTIALS_ARROW_SCHEMA,
    )


# ---------------------------------------------------------------------------
# doc exchange: file-based range shuffle (pass A route/write, pass B build)
# ---------------------------------------------------------------------------

_EXCHANGE_COUNTS_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("cnt", LongType(), False),
    ]
)


def _encode_keys(conv_ids: list, turn_idxs, width: int):
    """Fixed-width byte encoding of (conv_id, turn_idx) whose memcmp order
    equals the lexicographic (conv_id, turn_idx) order with nulls first.

    Layout per key (width + 6 bytes, built as a uint8 matrix then viewed
    as one 'S' scalar per row so NUL padding participates in memcmp):
      [conv-null flag 0|1][conv_id NUL-padded to width]
      [turn-null flag 0|1][big-endian uint32 of turn_idx biased by 2^31]
    NUL padding sorts before every real byte, preserving prefix order
    ('c1' < 'c10'); the explicit null flags sort SQL nulls before every
    value including ""/INT_MIN.  (An earlier np.char.add-based version
    silently STRIPPED the NUL padding — numpy treats 'S' as C strings —
    which broke ordering exactly for prefix pairs.)"""
    import numpy as np

    n = len(conv_ids)
    conv = np.array(
        [
            c.encode("utf-8", "surrogatepass") if c is not None else b""
            for c in conv_ids
        ],
        dtype=f"S{width}",
    )
    mat = np.zeros((n, width + 6), dtype=np.uint8)
    mat[:, 0] = [0 if c is None else 1 for c in conv_ids]
    mat[:, 1 : width + 1] = conv.view(np.uint8).reshape(n, width)
    t_null = np.array([x is None for x in turn_idxs], dtype=bool)
    mat[:, width + 1] = (~t_null).astype(np.uint8)
    t = np.asarray(
        [0 if x is None else int(x) for x in turn_idxs], dtype=np.int64
    )
    tb = ((t + (1 << 31)).astype(">u4")).tobytes()
    mat[:, width + 2 :] = np.frombuffer(tb, dtype=np.uint8).reshape(n, 4)
    return np.ascontiguousarray(mat).view(f"S{width + 6}").ravel()


def _encode_keys_arrow(conv: "pa.Array", turn: "pa.Array", min_width: int):
    """Vectorized ``_encode_keys`` over NULL-FREE Arrow arrays: the utf-8
    bytes come straight from the Arrow string buffer (Arrow strings are
    valid UTF-8, exactly what ``str.encode`` would produce), scattered into
    the fixed-width key matrix with numpy fancy indexing — no per-row
    Python in the exchange hot path.  Returns (keys, width); parity with
    the scalar encoder is pinned by tests."""
    import numpy as np

    if isinstance(conv, pa.ChunkedArray):
        conv = conv.combine_chunks()
    if isinstance(turn, pa.ChunkedArray):
        turn = turn.combine_chunks()
    n = len(conv)
    off_dtype = (
        np.int64 if pa.types.is_large_string(conv.type) else np.int32
    )
    offs = np.frombuffer(conv.buffers()[1], dtype=off_dtype)[
        conv.offset : conv.offset + n + 1
    ].astype(np.int64)
    data = np.frombuffer(conv.buffers()[2], dtype=np.uint8)
    lens = offs[1:] - offs[:-1]
    width = max(min_width, int(lens.max()) if n else 1)
    mat = np.zeros((n, width + 6), dtype=np.uint8)
    mat[:, 0] = 1
    total = int(lens.sum())
    if total:
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        within = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
        rows = np.repeat(np.arange(n, dtype=np.int64), lens)
        mat[rows, within + 1] = data[np.repeat(offs[:-1], lens) + within]
    mat[:, width + 1] = 1
    t = turn.to_numpy(zero_copy_only=False).astype(np.int64)
    tb = ((t + (1 << 31)).astype(">u4")).tobytes()
    mat[:, width + 2 :] = np.frombuffer(tb, dtype=np.uint8).reshape(n, 4)
    return np.ascontiguousarray(mat).view(f"S{width + 6}").ravel(), width


_PROBE_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("rg", IntegerType(), False),
        StructField("n_rows", LongType(), False),
        StructField("min_conv", StringType(), True),
        StructField("min_turn", IntegerType(), True),
        StructField("max_conv", StringType(), True),
        StructField("max_turn", IntegerType(), True),
        StructField("sorted", IntegerType(), False),
        StructField("has_null", IntegerType(), False),
    ]
)


def _make_rg_prober(cap_threads: bool = True):
    """Sortedness probe over (file, row_group) units: reads ONLY the
    (conv_id, turn_idx) columns of each row group and emits its exact key
    bounds + internal-sortedness flag.  Exact by construction (computed
    from the data, never from parquet footer statistics, which writers may
    truncate for strings).  At Iceberg scale the table's sort order +
    per-file bounds metadata answer this without any read; for plain
    parquet the probe costs a ~2-narrow-column scan.  ``cap_threads=False``
    when run driver-side (capping the driver's global Arrow pool would
    outlive the probe)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if cap_threads:
            _single_threaded_arrow()
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def _lex_min_max(conv, turn):
            """Exact lexicographic (conv, turn) min and max via Arrow
            kernels only.  Arrow string comparison is bytewise over the
            UTF-8 buffer — identical order to Python str comparison (code
            points) and to the memcmp key encode, nulls excluded by the
            caller."""
            cmin_max = pc.min_max(conv)
            cmin, cmax = cmin_max["min"], cmin_max["max"]
            tmin = pc.min(pc.filter(turn, pc.equal(conv, cmin)))
            tmax = pc.max(pc.filter(turn, pc.equal(conv, cmax)))
            return (
                cmin.as_py(), int(tmin.as_py()),
                cmax.as_py(), int(tmax.as_py()),
            )

        out: list[tuple] = []
        for batch in batches:
            for row in batch.to_pylist():
                pf = pq.ParquetFile(row["file"])
                t = pf.read_row_group(
                    int(row["rg"]), columns=["conv_id", "turn_idx"]
                )
                pf.close()
                n = t.num_rows
                conv = t.column("conv_id").combine_chunks()
                turn = t.column("turn_idx").combine_chunks()
                if n == 0:
                    out.append(
                        (row["file"], row["rg"], 0, None, None, None, None,
                         1, 0)
                    )
                    continue
                if conv.null_count or turn.null_count:
                    out.append(
                        (row["file"], row["rg"], n, None, None, None, None,
                         0, 1)
                    )
                    continue
                # sortedness check entirely in C++ kernels (the previous
                # numpy key-encode held the GIL ~95ms per 50k-row group,
                # serializing the driver-side threaded probe into a
                # constant Amdahl term that flattened N->4N build scaling)
                if n == 1:
                    srt = True
                else:
                    c1, c2 = conv.slice(0, n - 1), conv.slice(1)
                    t1, t2 = turn.slice(0, n - 1), turn.slice(1)
                    lt = pc.less(c1, c2)
                    tie_le = pc.and_(pc.equal(c1, c2), pc.less_equal(t1, t2))
                    srt = bool(pc.all(pc.or_(lt, tie_le)).as_py())
                if srt:
                    mn_c, mn_t = conv[0].as_py(), int(turn[0].as_py())
                    mx_c, mx_t = conv[n - 1].as_py(), int(turn[n - 1].as_py())
                else:
                    mn_c, mn_t, mx_c, mx_t = _lex_min_max(conv, turn)
                out.append(
                    (
                        row["file"], row["rg"], n,
                        mn_c, mn_t, mx_c, mx_t,
                        int(srt), 0,
                    )
                )
        if out:
            cols = list(zip(*out))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols[0], pa.string()),
                    pa.array(cols[1], pa.int32()),
                    pa.array(cols[2], pa.int64()),
                    pa.array(cols[3], pa.string()),
                    pa.array(cols[4], pa.int32()),
                    pa.array(cols[5], pa.string()),
                    pa.array(cols[6], pa.int32()),
                    pa.array(cols[7], pa.int32()),
                    pa.array(cols[8], pa.int32()),
                ],
                names=[f.name for f in _PROBE_SCHEMA.fields],
            )

    return gen


def _sorted_source_plan(
    spark: SparkSession,
    src_path: str,
    bucket_rows: int,
    parallelism: int,
) -> "tuple[list, dict[int, int]] | None":
    """Detect a globally range-sorted parquet source and plan pass B
    DIRECTLY over its row groups, skipping the exchange entirely.

    A source qualifies when its row groups, ordered by exact min
    (conv_id, turn_idx), are strictly non-overlapping and null-free in the
    key columns — then the global docID order is 'row groups in min-key
    order, rows sorted within', per-bucket counts are exact from footer
    row counts, and the corpus is read ONCE (by pass B) instead of
    read + rewritten + re-read by the exchange.  This is the common case
    for any corpus maintained in key order (an Iceberg table with a
    (conv_id, turn_idx) sort order, or any append-by-conversation log).

    Returns (plan_rows, offsets) where plan_rows are
    (bucket, files, row_groups, presorted) with buckets of ~bucket_rows
    rows built from consecutive whole row groups, or None when the source
    is not provably sorted (the exchange path handles it)."""
    import pyarrow.parquet as pq

    local = _strip_scheme(src_path)
    units: list[tuple[str, int]] = []
    total_rows = 0
    for root, _dirs, files in os.walk(local):
        for fn in sorted(files):
            if not fn.endswith(".parquet") or fn.startswith("."):
                continue
            full = os.path.join(root, fn)
            try:
                md = pq.ParquetFile(full).metadata
            except Exception:
                return None
            total_rows += md.num_rows
            units.extend((full, g) for g in range(md.num_row_groups))
    if not units:
        return None
    if total_rows <= 50_000_000:
        # small corpus: a driver-side threaded probe beats a Spark job's
        # fixed scheduling + Python-worker round trips (measured ~5s of
        # wall for 64 trivial tasks at local[32]); the key columns are a
        # few % of corpus bytes
        from concurrent.futures import ThreadPoolExecutor

        prober = _make_rg_prober(cap_threads=False)

        def one(u: "tuple[str, int]"):
            batch = pa.RecordBatch.from_arrays(
                [pa.array([u[0]], pa.string()), pa.array([u[1]], pa.int32())],
                names=["file", "rg"],
            )
            out = list(prober(iter([batch])))
            return out[0].to_pylist()[0]

        n_workers = min(os.cpu_count() or 16, len(units))
        with ThreadPoolExecutor(max_workers=n_workers) as ex:
            probe_rows = list(ex.map(one, units))
    else:
        probe_rows = (
            _one_row_per_partition(
                spark,
                units,
                "file string, rg int",
                n_tasks=min(len(units), 2 * parallelism),
            )
            .mapInArrow(_make_rg_prober(), _PROBE_SCHEMA)
            .collect()
        )
    rgs = [r for r in probe_rows if int(r["n_rows"]) > 0]
    if any(int(r["has_null"]) for r in rgs):
        return None
    rgs.sort(key=lambda r: (r["min_conv"], int(r["min_turn"])))
    prev_max: "tuple[str, int] | None" = None
    for r in rgs:
        lo = (r["min_conv"], int(r["min_turn"]))
        if prev_max is not None and lo <= prev_max:
            return None  # overlapping or duplicate boundary key
        prev_max = (r["max_conv"], int(r["max_turn"]))
    # group consecutive whole row groups into ~bucket_rows buckets; an
    # INTERNALLY SORTED row group larger than ~1.5x the target is split
    # into positional slices (key order == position order, so a slice is a
    # valid docID bucket) — balanced small buckets keep full-width worker
    # waves even instead of a few 3x-sized stragglers ending each wave.
    # Unsorted row groups stay whole (the in-bucket sort needs them).
    plan: list[tuple[int, list[str], list[int], bool, list[int], list[int]]]
    plan = []
    offsets: dict[int, int] = {}
    acc = 0
    cur_f: list[str] = []
    cur_g: list[int] = []
    cur_s: list[int] = []
    cur_l: list[int] = []
    cur_rows = 0
    cur_sorted = True

    def emit() -> None:
        nonlocal cur_f, cur_g, cur_s, cur_l, cur_rows, cur_sorted, acc
        b = len(plan)
        offsets[b] = acc
        plan.append((b, cur_f, cur_g, cur_sorted, cur_s, cur_l))
        acc += cur_rows
        cur_f, cur_g, cur_s, cur_l = [], [], [], []
        cur_rows, cur_sorted = 0, True

    for r in rgs:
        n = int(r["n_rows"])
        if int(r["sorted"]) and n > (3 * bucket_rows) // 2:
            if cur_rows:
                emit()
            n_slices = (n + bucket_rows - 1) // bucket_rows
            for i in range(n_slices):
                s = i * n // n_slices
                e = (i + 1) * n // n_slices
                cur_f, cur_g = [r["file"]], [int(r["rg"])]
                cur_s, cur_l = [s], [e - s]
                cur_rows, cur_sorted = e - s, True
                emit()
            continue
        cur_f.append(r["file"])
        cur_g.append(int(r["rg"]))
        cur_s.append(0)
        cur_l.append(n)
        cur_rows += n
        cur_sorted = cur_sorted and bool(int(r["sorted"]))
        if cur_rows >= bucket_rows:
            emit()
    if cur_rows:
        emit()
    return plan, offsets


def _make_bucket_builder_src(
    offsets: dict[int, int],
    docs_dir: str,
    partials_dir: str,
    flush_postings: int,
    store_tokens: bool,
    n_buckets: int,
    blank_lines_over: "int | None" = None,
    block_size: int = 128,
    chunk_rows: int = 4096,
):
    """Pass B over a provably sorted parquet SOURCE (no exchange): each
    task reads its buckets' row groups directly with pyarrow (the corpus'
    only full read), concatenates them in min-key order — already globally
    sorted when every row group is internally sorted, else one in-memory
    sort — and runs the shared fused core.  Identical docIDs to the
    exchange path by construction (both are rank over (conv_id,
    turn_idx))."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _single_threaded_arrow()
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        trace = os.environ.get("PROBE_SPARK_TASK_TRACE")
        gen_t0 = time.time()
        _ru0 = None
        if trace:
            import resource as _res

            def _ru():
                r = _res.getrusage(_res.RUSAGE_SELF)
                return r.ru_minflt, r.ru_utime, r.ru_stime

            _ru0 = _ru()
        task_id = TaskContext.get().partitionId()
        rows = [row for batch in batches for row in batch.to_pylist()]
        if not rows:
            return
        rows.sort(key=lambda r: int(r["bucket"]))  # ascending docID order
        core = _FusedCore(
            task_id, docs_dir, partials_dir, flush_postings, store_tokens,
            n_buckets, blank_lines_over, block_size,
        )
        tt = {"read": 0.0, "sort": 0.0, "core": 0.0}
        last_rg: "tuple[str, int] | None" = None
        last_tbl: "pa.Table | None" = None
        for row in rows:
            t0 = time.time()
            bucket = int(row["bucket"])
            starts = row["starts"]
            lens = row["lens"]
            tables = []
            for i, (fn, g) in enumerate(zip(row["files"], row["rgs"])):
                key = (fn, int(g))
                if key == last_rg:
                    t = last_tbl  # consecutive slices of one row group
                else:
                    pf = pq.ParquetFile(fn)
                    t = pf.read_row_group(int(g), columns=_CANONICAL_COLS)
                    pf.close()
                    if t.schema.field("turn_idx").type != pa.int32():
                        idx = t.schema.get_field_index("turn_idx")
                        t = t.set_column(
                            idx, "turn_idx",
                            t.column("turn_idx").cast(pa.int32()),
                        )
                    last_rg, last_tbl = key, t
                s, ln = int(starts[i]), int(lens[i])
                if s != 0 or ln != t.num_rows:
                    t = t.slice(s, ln)
                tables.append(t)
            t = (
                tables[0] if len(tables) == 1 else pa.concat_tables(tables)
            )
            del tables
            tt["read"] += time.time() - t0
            t0 = time.time()
            if not row["presorted"]:
                t = t.sort_by(
                    [("conv_id", "ascending"), ("turn_idx", "ascending")],
                    null_placement="at_start",
                )
            tt["sort"] += time.time() - t0
            t0 = time.time()
            core.start_bucket(bucket, offsets.get(bucket, 0))
            for rb in t.to_batches(max_chunksize=chunk_rows):
                core.process(rb)
            del t
            tt["core"] += time.time() - t0
        t0 = time.time()
        n_docs, total_dl = core.finish()
        tt["finish"] = time.time() - t0
        if trace:
            if core.tt:
                tt.update({f"c_{k}": v for k, v in core.tt.items()})
            _ru1 = _ru()
            with open(trace, "a") as f:
                f.write(
                    f"task={task_id} rows={n_docs} "
                    f"t0={gen_t0:.2f} t1={time.time():.2f} "
                    f"minflt={_ru1[0] - _ru0[0]} "
                    f"rutime={_ru1[1] - _ru0[1]:.2f} "
                    f"rstime={_ru1[2] - _ru0[2]:.2f} "
                    + " ".join(f"{k}={v:.2f}" for k, v in tt.items())
                    + "\n"
                )
        yield _stats_batch(n_docs, total_dl, task_id)

    return gen


def _exact_boundaries_local(
    src_path: str, n_parts: int | None, bucket_rows: int, min_parts: int
) -> "tuple[list[tuple[str, int]], int] | None":
    """EXACT range boundaries via a driver-side pyarrow key scan — for
    posix parquet sources up to ~20M rows this replaces two Spark jobs
    (count + sample collect, ~2s of fixed per-build latency) with a sub-
    second pruned column read.  Returns None past the cap (the Spark
    sampling path handles it)."""
    import numpy as np
    import pyarrow.dataset as ds

    local = _strip_scheme(src_path)
    dataset = ds.dataset(local, format="parquet")
    n_rows = dataset.count_rows()
    if n_rows > 20_000_000:
        return None
    if n_parts is None:
        n_parts = max(min_parts, (n_rows + bucket_rows - 1) // bucket_rows)
    if n_rows == 0 or n_parts <= 1:
        return [], n_rows
    t = dataset.to_table(columns=["conv_id", "turn_idx"])
    # strided deterministic subsample (boundaries only steer the partition
    # SPLIT — docIDs are rank-by-key via exact per-bucket counts, so any
    # boundary set yields identical ids).  take() on the Arrow table keeps
    # the full column set out of Python: only the sample rows become
    # Python objects
    stride = max(1, n_rows // max(200 * n_parts, 100_000))
    t = t.take(np.arange(0, n_rows, stride))
    conv_s = t.column("conv_id").to_pylist()
    turn_s = t.column("turn_idx").to_pylist()
    sub = range(len(conv_s))
    width = max(
        (
            len(c.encode("utf-8", "surrogatepass"))
            for c in conv_s
            if c is not None
        ),
        default=1,
    )
    keys = _encode_keys(conv_s, turn_s, width)
    order = np.argsort(keys, kind="stable")
    m = len(sub)
    boundaries: list[tuple[str, int]] = []
    for i in range(1, n_parts):
        j = int(order[min(m - 1, i * m // n_parts)])
        b = (conv_s[j], turn_s[j])
        if b[0] is None or b[1] is None:
            continue
        if not boundaries or b > boundaries[-1]:
            boundaries.append(b)
    return boundaries, n_rows


def _range_boundaries(
    df: DataFrame,
    n_parts: int | None,
    sample_per_part: int = 120,
    bucket_rows: int = 16384,
    min_parts: int = 1,
) -> tuple[list[tuple[str, int]], int]:
    """Deterministic range boundaries for the doc exchange: pruned count +
    hash sample (pmod(xxhash64(key), K) == 0 — depends only on the data,
    never on partitioning or RNG), driver-sorted quantiles.  When
    ``n_parts`` is None it is sized by DATA, not cores: ~bucket_rows rows
    per bucket keeps each pass-B task's working set (bucket table + sorted
    copy + token lists) small enough that full-width worker concurrency
    stays cache-resident — measured 2.5x faster at 32 workers than
    one-bucket-per-core (694 -> 197 core-s on 3.3M turns).  Returns
    (boundaries, n_rows)."""
    keys = df.select("conv_id", "turn_idx")
    n_rows = keys.count()
    if n_parts is None:
        n_parts = max(min_parts, (n_rows + bucket_rows - 1) // bucket_rows)
    if n_rows == 0 or n_parts <= 1:
        return [], n_rows
    k = max(1, n_rows // (sample_per_part * n_parts))
    sample = [
        (r["conv_id"], r["turn_idx"])
        for r in keys.filter(
            F.pmod(F.abs(F.xxhash64("conv_id", "turn_idx")), F.lit(k)) == 0
        ).collect()
        if r["conv_id"] is not None and r["turn_idx"] is not None
    ]
    sample.sort()
    if not sample:
        return [], n_rows
    boundaries: list[tuple[str, int]] = []
    for i in range(1, n_parts):
        b = sample[min(len(sample) - 1, i * len(sample) // n_parts)]
        if not boundaries or b > boundaries[-1]:
            boundaries.append(b)
    return boundaries, n_rows


class _IpcShardWriter:
    """Atomic per-bucket Arrow IPC stream writer (dot-tmp + rename on
    close; lz4-framed batches)."""

    def __init__(self, dir_path: str, name: str, schema: pa.Schema):
        import pyarrow.ipc as ipc

        os.makedirs(dir_path, exist_ok=True)
        self.final = os.path.join(dir_path, name)
        self.tmp = os.path.join(dir_path, f".{name}.tmp{os.getpid()}")
        self.writer = ipc.new_file(
            self.tmp, schema,
            options=ipc.IpcWriteOptions(compression="lz4"),
        )

    def write_table(self, table: pa.Table) -> None:
        self.writer.write_table(table)

    def close(self) -> None:
        self.writer.close()
        os.replace(self.tmp, self.final)


class _ExchangeRouter:
    """Shared pass-A core: route batches to range buckets (vectorized
    fixed-width-key searchsorted — no Python per row) and side-write
    per-bucket Arrow IPC shards (exchange/b=N/part-{pid}.arrow)."""

    def __init__(
        self, boundaries: list[tuple[str, int]], exchange_dir: str, pid: int
    ):
        self.boundaries = boundaries
        self.bw = max(
            (len(c.encode("utf-8", "surrogatepass")) for c, _ in boundaries),
            default=1,
        )
        self.exchange_dir = exchange_dir
        self.pid = pid
        self.writers: dict[int, _IpcShardWriter] = {}
        self.bufs: dict[int, list] = {}
        self.buf_rows: dict[int, int] = {}
        self.counts: dict[int, int] = {}
        self.schema: pa.Schema | None = None

    def _flush(self, b: int) -> None:
        if self.bufs.get(b):
            w = self.writers.get(b)
            if w is None:
                w = _IpcShardWriter(
                    os.path.join(_strip_scheme(self.exchange_dir), f"b={b}"),
                    f"part-{self.pid:05d}.arrow",
                    self.schema,
                )
                self.writers[b] = w
            w.write_table(pa.Table.from_batches(self.bufs[b]))
            self.bufs[b] = []
            self.buf_rows[b] = 0

    def route(self, batch: pa.RecordBatch) -> None:
        import numpy as np

        n = batch.num_rows
        if n == 0:
            return
        if self.schema is None:
            self.schema = batch.schema
        if self.boundaries:
            conv_arr = batch.column("conv_id")
            turn_arr = batch.column("turn_idx")
            if conv_arr.null_count == 0 and turn_arr.null_count == 0:
                keys, width = _encode_keys_arrow(conv_arr, turn_arr, self.bw)
            else:
                conv = conv_arr.to_pylist()
                turn = turn_arr.to_pylist()
                width = max(
                    self.bw,
                    max(
                        (
                            len(c.encode("utf-8", "surrogatepass"))
                            for c in conv
                            if c is not None
                        ),
                        default=1,
                    ),
                )
                keys = _encode_keys(conv, turn, width)
            bnd = _encode_keys(
                [c for c, _ in self.boundaries],
                [t for _, t in self.boundaries],
                width,
            )
            buckets = np.searchsorted(bnd, keys, side="right")
        else:
            buckets = np.zeros(n, dtype=np.int64)
        order = np.argsort(buckets, kind="stable")
        sb = buckets[order]
        taken = batch.take(pa.array(order))
        bounds = np.flatnonzero(np.diff(sb)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(sb)]))
        for s, e in zip(starts, ends):
            b = int(sb[s])
            self.counts[b] = self.counts.get(b, 0) + int(e - s)
            self.bufs.setdefault(b, []).append(taken.slice(s, e - s))
            self.buf_rows[b] = self.buf_rows.get(b, 0) + int(e - s)
            if self.buf_rows[b] >= 1 << 15:
                self._flush(b)

    def finish(self) -> pa.RecordBatch:
        for b in list(self.bufs):
            self._flush(b)
        for w in self.writers.values():
            w.close()
        counts = self.counts
        return pa.RecordBatch.from_arrays(
            [
                pa.array(sorted(counts), pa.int32()),
                pa.array([counts[b] for b in sorted(counts)], pa.int64()),
            ],
            names=["bucket", "cnt"],
        )


def _make_exchange_writer(boundaries: list[tuple[str, int]], exchange_dir: str):
    """Pass A of the file-based doc exchange over a DataFrame input: the
    Spark output is exact per-bucket counts, which is ALSO the offsets job
    — so the JVM never shuffles, sorts, or row-converts the corpus; its
    only bulk work is the source scan feeding this pass.  (The JVM
    row-shuffle this replaces measured 3x slower end-to-end at 32 cores:
    shuffle write+read+sort of full rows competed with the Python
    tokenizer workers for every core.)"""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _single_threaded_arrow()
        from pyspark import TaskContext

        router = _ExchangeRouter(
            boundaries, exchange_dir, TaskContext.get().partitionId()
        )
        for batch in batches:
            router.route(batch)
        yield router.finish()

    return gen


_CANONICAL_COLS = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]


def _make_exchange_reader(
    boundaries: list[tuple[str, int]], exchange_dir: str
):
    """Pass A over a DIRECT parquet source: plan rows (file, row_groups)
    are read with pyarrow inside the Python worker — the JVM never touches
    the corpus at all (no scan, no arrow re-serialization; measured ~2.5s
    of flat per-level cost on a 3.3M-turn corpus).  Used when the build is
    handed a posix-visible parquet path; arbitrary DataFrames take
    _make_exchange_writer."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _single_threaded_arrow()
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        router = _ExchangeRouter(
            boundaries, exchange_dir, TaskContext.get().partitionId()
        )
        for batch in batches:
            for row in batch.to_pylist():
                pf = pq.ParquetFile(row["file"])
                for g in row["row_groups"]:
                    t = pf.read_row_group(int(g), columns=_CANONICAL_COLS)
                    # canonical types (input_hint): turn_idx int32
                    if t.schema.field("turn_idx").type != pa.int32():
                        idx = t.schema.get_field_index("turn_idx")
                        t = t.set_column(
                            idx,
                            "turn_idx",
                            t.column("turn_idx").cast(pa.int32()),
                        )
                    for rb in t.to_batches(max_chunksize=1 << 16):
                        router.route(rb)
                pf.close()
        yield router.finish()

    return gen


def _make_bucket_builder(
    offsets: dict[int, int],
    docs_dir: str,
    partials_dir: str,
    flush_postings: int,
    store_tokens: bool,
    n_buckets: int,
    blank_lines_over: "int | None" = None,
    block_size: int = 128,
    chunk_rows: int = 4096,
):
    """Pass B of the file-based doc exchange: plan rows (bucket, files),
    several buckets per task.  Each bucket's IPC shards are read directly
    with pyarrow, sorted by (conv_id, turn_idx) nulls-first (C++ sort — the
    JVM UnsafeExternalSorter this replaces competed with the tokenizer for
    cores), then run through the shared per-task fused core (tokenize ->
    per-bucket docs shard + per-task level-0 partials).  Buckets are
    deliberately SMALL (BuildConfig.exchange_bucket_rows): one bucket's
    table + sorted copy + token lists is each task's whole working set,
    which keeps full-width worker concurrency cache-resident (measured
    3.5x faster at 32 workers than core-count-sized buckets).  Emits one
    @stats row per task."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _single_threaded_arrow()
        import pyarrow.ipc as ipc
        from pyspark import TaskContext

        trace = os.environ.get("PROBE_SPARK_TASK_TRACE")
        gen_t0 = time.time()
        _ru0 = None
        if trace:
            import resource as _res

            def _ru():
                r = _res.getrusage(_res.RUSAGE_SELF)
                return r.ru_minflt, r.ru_utime, r.ru_stime

            _ru0 = _ru()
        task_id = TaskContext.get().partitionId()
        rows = [row for batch in batches for row in batch.to_pylist()]
        if not rows:
            return
        rows.sort(key=lambda r: int(r["bucket"]))  # ascending docID order
        core = _FusedCore(
            task_id, docs_dir, partials_dir, flush_postings, store_tokens,
            n_buckets, blank_lines_over, block_size,
        )
        tt = {"read": 0.0, "sort": 0.0, "core": 0.0}
        for row in rows:
            t0 = time.time()
            bucket = int(row["bucket"])
            tables = []
            for fn in row["files"]:
                with ipc.open_file(fn) as rd:
                    tables.append(rd.read_all())
            t = pa.concat_tables(tables)
            del tables
            tt["read"] += time.time() - t0
            t0 = time.time()
            t = t.sort_by(
                [("conv_id", "ascending"), ("turn_idx", "ascending")],
                null_placement="at_start",
            )
            tt["sort"] += time.time() - t0
            t0 = time.time()
            core.start_bucket(bucket, offsets.get(bucket, 0))
            # cache-sized slices: see BuildConfig.pack_chunk_rows
            for rb in t.to_batches(max_chunksize=chunk_rows):
                core.process(rb)
            del t
            tt["core"] += time.time() - t0
        t0 = time.time()
        n_docs, total_dl = core.finish()
        tt["finish"] = time.time() - t0
        if trace:
            if core.tt:
                tt.update({f"c_{k}": v for k, v in core.tt.items()})
            _ru1 = _ru()
            with open(trace, "a") as f:
                f.write(
                    f"task={task_id} rows={n_docs} "
                    f"t0={gen_t0:.2f} t1={time.time():.2f} "
                    f"minflt={_ru1[0] - _ru0[0]} "
                    f"rutime={_ru1[1] - _ru0[1]:.2f} "
                    f"rstime={_ru1[2] - _ru0[2]:.2f} "
                    + " ".join(f"{k}={v:.2f}" for k, v in tt.items())
                    + "\n"
                )
        yield _stats_batch(n_docs, total_dl, task_id)

    return gen


# ---------------------------------------------------------------------------
# merge: level-0 partials -> final segments (streamed, memory-bounded)
# ---------------------------------------------------------------------------


def _make_partial_merger(block_size: int, max_seg: int, n_buckets: int):
    """mapInArrow generator over partials sorted by (kind, term, salt,
    min_doc) within the partition: decodes each group's partial chunks,
    concatenates + sorts, and emits final segments hard-capped at
    ``max_seg`` postings.  Carries the open tail group across batches so
    memory is bounded by one salt group, never an aggregation buffer."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _single_threaded_arrow()
        import zlib

        import numpy as np

        from probe_spark.index.codec import encode_postings, varint_decode
        from probe_spark.index.xxhash import spark_bucket

        out: dict[str, list] = {f.name: [] for f in _SEGMENT_ARROW_SCHEMA}

        def emit(key, n_salt, idc, dlc):
            kind, term, salt = key
            ids = np.concatenate(idc)
            dls = np.concatenate(dlc)
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            dls = dls[order]
            bucket = spark_bucket(term, n_buckets)
            for seg_seq, s in enumerate(range(0, len(ids), max_seg)):
                d = ids[s : s + max_seg]
                l = dls[s : s + max_seg]
                (
                    docs_bin, dl_bin, block_last, block_min_dl,
                    block_doc_off, block_dl_off,
                ) = encode_postings(d, l, block=block_size)
                out["kind"].append(kind)
                out["term"].append(term)
                out["salt"].append(salt)
                out["seg_seq"].append(seg_seq)
                out["n_salts"].append(n_salt)
                out["df_seg"].append(len(d))
                out["min_doc"].append(int(d[0]))
                out["max_doc"].append(int(d[-1]))
                out["docs_bin"].append(docs_bin)
                out["dl_bin"].append(dl_bin)
                out["block_last_doc"].append(block_last.tolist())
                out["block_min_dl"].append(block_min_dl.tolist())
                out["block_doc_off"].append(block_doc_off.tolist())
                out["block_dl_off"].append(block_dl_off.tolist())
                out["bucket"].append(int(bucket))
                out["seg_bytes"].append(len(docs_bin) + len(dl_bin))
                out["seg_crc"].append(zlib.crc32(docs_bin))

        def flush() -> pa.RecordBatch:
            batch = pa.RecordBatch.from_arrays(
                [pa.array(out[f.name], f.type) for f in _SEGMENT_ARROW_SCHEMA],
                schema=_SEGMENT_ARROW_SCHEMA,
            )
            for k in out:
                out[k].clear()
            return batch

        carry: dict | None = None
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            kinds = batch.column("kind").to_pylist()
            terms = batch.column("term").to_pylist()
            salts = batch.column("salt").to_numpy(zero_copy_only=False)
            n_salts = batch.column("n_salts").to_numpy(zero_copy_only=False)
            docs_bins = batch.column("docs_bin").to_pylist()
            dl_bins = batch.column("dl_bin").to_pylist()
            for i in range(n):
                key = (kinds[i], terms[i], int(salts[i]))
                gaps = varint_decode(docs_bins[i])
                ids = np.cumsum(gaps.astype(np.int64))
                dls = varint_decode(dl_bins[i]).astype(np.int64)
                if carry is not None and carry["key"] != key:
                    emit(carry["key"], carry["n_salt"], carry["idc"], carry["dlc"])
                    carry = None
                if carry is None:
                    carry = {
                        "key": key,
                        "n_salt": int(n_salts[i]),
                        "idc": [],
                        "dlc": [],
                    }
                carry["idc"].append(ids)
                carry["dlc"].append(dls)
            if out["term"]:
                yield flush()
        if carry is not None:
            emit(carry["key"], carry["n_salt"], carry["idc"], carry["dlc"])
        if out["term"]:
            yield flush()

    return gen


def _merge_partials(
    spark: SparkSession,
    partials_path: str,
    n_docs: int,
    cfg: BuildConfig,
    out_path: str,
    append: bool = False,
) -> None:
    """Two-pass layout merge (streaming append path): salt hot terms by doc
    range, shuffle partials once, stream-merge into final segments, write
    partitioned by (kind, bucket)."""
    partials = spark.read.parquet(partials_path).filter(
        F.col("kind") != "@stats"
    )
    max_seg = cfg.max_postings_per_segment
    salted = _salted_partials(partials, n_docs, cfg)
    merged = (
        salted.repartition("kind", "term", "salt")
        .sortWithinPartitions("kind", "term", "salt", "min_doc")
        .mapInArrow(
            _make_partial_merger(cfg.block_size, max_seg, cfg.n_buckets),
            POSTINGS_SCHEMA,
        )
    )
    (
        merged.repartition("kind", "bucket")
        .sortWithinPartitions("term", "salt", "min_doc")
        .write.mode("append" if append else "overwrite")
        .options(**spark_write_options("postings"))
        .partitionBy("kind", "bucket")
        .parquet(out_path)
    )


SEG_META_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("term", StringType(), False),
        StructField("df_seg", LongType(), False),
        StructField("seg_bytes", LongType(), False),
        StructField("seg_crc", LongType(), False),
    ]
)

_SEG_META_ARROW_SCHEMA = pa.schema(
    [
        pa.field("kind", pa.string(), False),
        pa.field("bucket", pa.int32(), False),
        pa.field("term", pa.string(), False),
        pa.field("df_seg", pa.int64(), False),
        pa.field("seg_bytes", pa.int64(), False),
        pa.field("seg_crc", pa.int64(), False),
    ]
)

# final segment files omit kind/bucket — the kind=/bucket=/ partition dirs
# carry them (identical to what Spark's partitionBy writer produces)
_SEG_FILE_SCHEMA = pa.schema(
    [f for f in _SEGMENT_ARROW_SCHEMA if f.name not in ("kind", "bucket")]
)


# ---------------------------------------------------------------------------
# parquet write policy: one for every postings/ and docs/ file, whichever
# writer (pyarrow in a task or the driver, Spark's parquet-mr) produces it
# ---------------------------------------------------------------------------
#
# * zstd at the writer's default level.  Snappy barely compresses the
#   varint streams; zstd shrinks a serve-sized index by over a third.
# * Statistics and dictionaries only where a reader uses them.  The one
#   postings column any reader filters on is ``term``: codec.
#   PostingsDirectory prunes row groups on its min/max, and the Spark lane's
#   ``term IN (...)`` pushes down to parquet-mr, which reads min/max and the
#   dictionary.  Every other postings column is read whole or not at all,
#   and its min/max (the varint blobs' whole payload, on short segments) and
#   dictionary (per-segment-unique values) only cost bytes.  docs/ keeps
#   every statistic and dictionary: readers prune on ``doc_id`` min/max
#   (the engine's and the local front-end's footer ranges), and the rest is
#   a few kilobytes.
#
# Tables, schemas and row-group sizes are untouched, and a reader learns the
# codec from each column chunk, so indexes written under the writer
# defaults (snappy, statistics and dictionaries everywhere) still open.
# Intermediate files (partials/, exchange shards) keep the defaults: they
# are deleted by the build that writes them.
POSTINGS_FILTER_COLUMN = "term"


def parquet_write_options(kind: str) -> dict:
    """pyarrow ``ParquetWriter``/``write_table`` keyword arguments for a
    ``kind`` ("postings" or "docs") file."""
    if kind == "docs":
        return {"compression": "zstd"}
    return {
        "compression": "zstd",
        "use_dictionary": [POSTINGS_FILTER_COLUMN],
        "write_statistics": [POSTINGS_FILTER_COLUMN],
    }


def spark_write_options(kind: str) -> dict:
    """The same policy as ``DataFrameWriter.options`` for parquet-mr: a
    per-column ``#column`` key overrides the global one."""
    if kind == "docs":
        return {"compression": "zstd"}
    c = POSTINGS_FILTER_COLUMN
    return {
        "compression": "zstd",
        "parquet.enable.dictionary": "false",
        f"parquet.enable.dictionary#{c}": "true",
        "parquet.column.statistics.enabled": "false",
        f"parquet.column.statistics.enabled#{c}": "true",
    }


# a merge group's segment rows before they are split into per-kind files
_MERGED_SEG_SCHEMA = pa.schema(
    [_SEGMENT_ARROW_SCHEMA.field("kind"), *_SEG_FILE_SCHEMA]
)


def _merge_group(
    files: list[str], salt: int, n_salts: int, block_size: int, max_seg: int
) -> "pa.Table | None":
    """Merge one plan row's level-0 shard files into final segment rows
    (``_MERGED_SEG_SCHEMA``, sorted by kind, term, seg_seq), or None when
    the files hold no chunk.

    COLUMN SPLICE (the default): per (kind, term), the level-0 chunks are
    doc-range DISJOINT — pass-B tasks own contiguous docID ranges
    (_one_row_per_partition(contiguous=True)) and stream ids ascending
    within a task — so a term whose chunks fit one segment is the byte
    concatenation of its already-encoded chunks with one leading varint
    rewritten per chunk boundary.  ``codec.splice_runs`` does that for
    every such term of the group at once: one sort of the chunk keys, one
    vectorized varint encode, one range gather of the docs/dl bytes and
    a shift of the block offset lists.  Postings move as encoded bytes
    (~1.3 B/posting), never decoded.

    PER-TERM PATH (``codec.merge_term_chunks``) for the inputs only it
    handles: a term whose total df exceeds ``max_seg`` (split into
    several segments at block boundaries), a term whose chunk ranges
    overlap (decode + sort + re-encode), and legacy partials without
    block metadata (decoded).  Its rows are merged into the same
    (kind, term, seg_seq) order."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from probe_spark.index.codec import (
        merge_term_chunks,
        row_chunks,
        splice_runs,
        stack_segments,
    )

    legacy = "block_last" not in pq.read_schema(files[0]).names
    blocks = [] if legacy else [
        "block_last", "block_min_dl", "block_doc_off", "block_dl_off",
    ]
    t = pa.concat_tables(
        [
            pq.read_table(
                f,
                columns=[
                    "kind", "term", "df_part", "min_doc", "max_doc",
                    "docs_bin", "dl_bin", *blocks,
                ],
            )
            for f in files
        ]
    )
    n = t.num_rows
    if n == 0:
        return None
    # sort INDICES over the key columns only — permuting the table would
    # copy every binary payload once for nothing
    order = pc.sort_indices(
        t.select(["kind", "term", "min_doc"]),
        sort_keys=[
            ("kind", "ascending"),
            ("term", "ascending"),
            ("min_doc", "ascending"),
        ],
    ).to_numpy(zero_copy_only=False)
    kinds = t.column("kind").take(order).combine_chunks()
    terms = t.column("term").take(order).combine_chunks()
    new_term = pc.or_(
        pc.not_equal(kinds[1:], kinds[:-1]),
        pc.not_equal(terms[1:], terms[:-1]),
    ).to_numpy(zero_copy_only=False)
    starts = np.concatenate([[0], np.flatnonzero(new_term) + 1, [n]])
    sizes = np.diff(starts)
    df = t.column("df_part").to_numpy()[order]
    lo = t.column("min_doc").to_numpy()[order]
    hi = t.column("max_doc").to_numpy()[order]
    slow = np.add.reduceat(df, starts[:-1]) > max_seg
    overlap = np.flatnonzero((lo[1:] <= hi[:-1]) & ~new_term)
    slow[np.searchsorted(starts, overlap, side="right") - 1] = True
    if legacy:
        slow[:] = True
    fast = ~slow

    def chunk_columns(groups):
        """Chunk columns of the term ``groups`` (a mask over terms) in
        sorted order, and each group's row bounds within them."""
        rows = np.repeat(groups, sizes)
        c = t.select(["docs_bin", "dl_bin", *blocks]).take(order[rows])
        c = c.combine_chunks()
        return (
            [df[rows], lo[rows], hi[rows], *(col.chunk(0) for col in c.columns)],
            np.concatenate([[0], np.cumsum(sizes[groups])]),
        )

    def segment_table(first_rows, seg_seq, seg) -> pa.Table:
        n_seg = len(first_rows)
        return pa.Table.from_arrays(
            [
                kinds.take(first_rows),
                terms.take(first_rows),
                pa.array(np.full(n_seg, salt, np.int32)),
                pa.array(seg_seq, pa.int32()),
                pa.array(np.full(n_seg, n_salts, np.int32)),
                pa.array(seg.df), pa.array(seg.min_doc), pa.array(seg.max_doc),
                seg.docs, seg.dls, seg.block_last, seg.block_min_dl,
                seg.block_doc_off, seg.block_dl_off,
                pa.array(seg.seg_bytes), pa.array(seg.seg_crc),
            ],
            schema=_MERGED_SEG_SCHEMA,
        )

    parts: list[pa.Table] = []
    if fast.any():
        cols, bounds = chunk_columns(fast)
        parts.append(
            segment_table(
                starts[:-1][fast],
                np.zeros(int(fast.sum()), np.int32),
                splice_runs(*cols, bounds),
            )
        )
    if slow.any():
        cols, bounds = chunk_columns(slow)
        chunks = row_chunks(*cols)
        first_rows: list[int] = []
        seg_seq: list[int] = []
        segs = []
        for g, a, b in zip(
            np.flatnonzero(slow).tolist(), bounds[:-1].tolist(), bounds[1:].tolist()
        ):
            merged = merge_term_chunks(
                chunks[a:b], max_seg, block_size, decode=legacy
            )
            first_rows += [int(starts[g])] * len(merged)
            seg_seq += range(len(merged))
            segs += merged
        parts.append(segment_table(first_rows, seg_seq, stack_segments(segs)))
    out = pa.concat_tables(parts)
    if len(parts) > 1:
        out = out.take(
            pc.sort_indices(
                out,
                sort_keys=[
                    ("kind", "ascending"),
                    ("term", "ascending"),
                    ("seg_seq", "ascending"),
                ],
            )
        )
    return out


def _make_file_merger(block_size: int, max_seg: int, out_dir: str):
    """mapInArrow generator over MERGE-PLAN rows (bucket, salt, n_salts,
    files): each row names the level-0 shard files of one bucket's
    doc-range group.  The task merges them (``_merge_group``: a column
    splice, with a per-term path for hot, overlapping and legacy inputs)
    and writes each kind's segments to ``kind=/bucket=/part-sNNNNN``
    in 256-row row groups (postings readers prune on their term min/max),
    yielding only per-segment metadata.

    NO SHUFFLE anywhere: the packed postings move exactly once, file ->
    file; skew is handled by the driver's size-based range grouping (a hot
    term's postings are split across groups by construction)."""

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _single_threaded_arrow()
        import numpy as np
        import pyarrow.compute as pc

        for batch in batches:
            for row in batch.to_pylist():
                bucket = int(row["bucket"])
                salt = int(row["salt"])
                segs = _merge_group(
                    list(row["files"]), salt, int(row["n_salts"]),
                    block_size, max_seg,
                )
                if segs is None:
                    continue
                kinds = segs.column("kind")
                for kind in pc.unique(kinds).to_pylist():
                    at = np.flatnonzero(
                        pc.equal(kinds, kind).to_numpy(zero_copy_only=False)
                    )
                    w = _ShardWriter(
                        os.path.join(
                            _strip_scheme(out_dir),
                            f"kind={kind}",
                            f"bucket={bucket}",
                        ),
                        f"part-s{salt:05d}.parquet",
                        _SEG_FILE_SCHEMA,
                        **parquet_write_options("postings"),
                    )
                    w.write_table(
                        segs.slice(at[0], len(at)).select(_SEG_FILE_SCHEMA.names),
                        row_group_size=256,
                    )
                    w.close()
                yield pa.RecordBatch.from_arrays(
                    [
                        kinds.combine_chunks(),
                        pa.array(np.full(segs.num_rows, bucket, np.int32)),
                        *(
                            segs.column(c).combine_chunks()
                            for c in ("term", "df_seg", "seg_bytes", "seg_crc")
                        ),
                    ],
                    schema=_SEG_META_ARROW_SCHEMA,
                )

    return gen


def _salted_partials(
    partials: DataFrame, n_docs: int, cfg: BuildConfig
) -> DataFrame:
    """Hot-term detection + doc-range salting (shared by both merge paths).
    Hot detection is a metadata-only column scan of the level-0 parquet
    (kind, term, df_part) — never touches the packed binaries."""
    max_seg = cfg.max_postings_per_segment
    hot = (
        partials.groupBy("kind", "term")
        .agg(F.sum("df_part").alias("df"))
        .filter(F.col("df") > max_seg)
        .withColumn("hot_salts", F.ceil(F.col("df") / max_seg).cast("int"))
        .select("kind", "term", "hot_salts")
    )
    span_denom = F.col("n_salts").cast("long")
    return (
        partials.join(F.broadcast(hot), ["kind", "term"], "left")
        .withColumn("n_salts", F.coalesce(F.col("hot_salts"), F.lit(1)))
        # doc-range salt: segments stay doc-contiguous per salt and a hot
        # term's merge spreads across tasks.  Assumes occurrences are
        # roughly uniform over docID space (true for genuinely hot terms);
        # the merge hard-caps segment size regardless.
        .withColumn(
            "salt",
            (
                F.col("min_doc")
                / F.ceil(F.lit(float(max(n_docs, 1))) / span_denom)
            ).cast("int"),
        )
        .drop("hot_salts")
    )


def _merge_partials_fused(
    spark: SparkSession,
    partials_path: str,
    cfg: BuildConfig,
    out_path: str,
    build_id: str,
) -> list[dict]:
    """Shuffle-free merge: the level-0 partials are already bucket-
    partitioned on disk (bg=N dirs, one shard per doc-range source
    partition), so the driver plans one merge task per (bucket, doc-range
    group) straight from file-size metadata — greedy grouping keeps each
    task's input under ``cfg.merge_group_bytes``, which both bounds task
    memory and spreads hot buckets across tasks (the doc-range salting of
    the north rule, achieved by construction).  The packed postings move
    exactly once (shard file -> segment file); Spark carries only the plan
    in and per-segment metadata out.  Returns manifest rows."""
    local = _strip_scheme(partials_path)
    plan: list[tuple[int, int, int, list[str]]] = []
    for entry in sorted(os.listdir(local)):
        if not entry.startswith("bg="):
            continue
        b = int(entry.split("=", 1)[1])
        if b < 0:
            continue  # @stats shards
        d = os.path.join(local, entry)
        files = sorted(
            fn for fn in os.listdir(d) if fn.endswith(".parquet")
        )
        groups: list[list[str]] = []
        cur: list[str] = []
        cur_bytes = 0
        for fn in files:
            sz = os.path.getsize(os.path.join(d, fn))
            if cur and cur_bytes + sz > cfg.merge_group_bytes:
                groups.append(cur)
                cur, cur_bytes = [], 0
            cur.append(os.path.join(d, fn))
            cur_bytes += sz
        if cur:
            groups.append(cur)
        for salt, g in enumerate(groups):
            plan.append((b, salt, len(groups), g))
    os.makedirs(_strip_scheme(out_path), exist_ok=True)
    if not plan:
        # 0-row corpus: write one empty, correctly-typed segment file so
        # postings/ stays schema-readable (mirrors _ensure_docs_nonempty)
        import pyarrow.parquet as pq

        d = os.path.join(_strip_scheme(out_path), "kind=tok", "bucket=0")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            _SEG_FILE_SCHEMA.empty_table(),
            os.path.join(d, "part-00000.parquet"),
            **parquet_write_options("postings"),
        )
        return []
    # plan rows round-robin over one task per slot: a plan row is tens of
    # ms of numpy, so a task per row mostly paid Spark's per-task cost
    # (the 48k-turn, 8-bucket perfbench build at local[2] on 4 vCPUs:
    # merge phase 1.6-2.2 s with 8 tasks, 0.93-1.15 s with 2)
    plan_df = _one_row_per_partition(
        spark,
        plan,
        "bucket int, salt int, n_salts int, files array<string>",
        n_tasks=spark.sparkContext.defaultParallelism,
    )
    meta = plan_df.mapInArrow(
        _make_file_merger(
            cfg.block_size, cfg.max_postings_per_segment, out_path
        ),
        SEG_META_SCHEMA,
    )
    # fold the per-segment metadata on the driver: the rows are
    # vocabulary-scale (one per term-segment), and a groupBy here costs two
    # extra shuffle stages of pure fixed overhead per build — measured ~2s
    # wall plus the JVM GC debt they inherit at local[32].  The fold is
    # one Arrow group_by over the collected table, not a loop over Rows.
    agg = (
        meta.toArrow()
        .group_by(["kind", "bucket"], use_threads=False)
        .aggregate(
            [
                ("term", "count_distinct"),
                ("df_seg", "sum"),
                ("seg_bytes", "sum"),
                ("seg_crc", "sum"),
            ]
        )
        .sort_by([("bucket", "ascending"), ("kind", "ascending")])
    )
    return [
        {
            "build_id": build_id,
            "phase": f"postings_{r['kind']}",
            "partition_id": r["bucket"],
            "status": "done",
            "n_terms": r["term_count_distinct"],
            "n_postings": r["df_seg_sum"],
            "bytes": r["seg_bytes_sum"],
            "checksum": str(r["seg_crc_sum"]),
            "completed_at": time.time(),
        }
        for r in agg.to_pylist()
    ]


def _manifest_rows(spark: SparkSession, path: str, build_id: str):
    """Per-(kind, bucket) lineage from the pack-time metadata columns — a
    pruned column scan; the packed binaries are never re-read."""
    df = spark.read.parquet(path)
    rows = (
        df.groupBy("kind", "bucket")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("df_seg").alias("n_postings"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("seg_bytes").alias("bytes"),
            F.sum("seg_crc").alias("checksum"),
        )
        .collect()
    )
    return [
        {
            "build_id": build_id,
            "phase": f"postings_{r['kind']}",
            "partition_id": int(r["bucket"]),
            "status": "done",
            "n_terms": int(r["n_terms"]),
            "n_postings": int(r["n_postings"]),
            "bytes": int(r["bytes"]),
            "checksum": str(r["checksum"]),
            "completed_at": time.time(),
        }
        for r in rows
    ]


class IndexBuilder:
    """Builds (or resumes) an index directory:

    index_path/
      docs/        doc_id, conv_id, turn_idx, role, tool, ts, text, dl,
                   tokens, raws  (tokens/raws are build-internal; queries
                   prune them)
      partials/    level-0 packed partial postings (deleted after merge;
                   present only while the postings phase is in flight —
                   a mid-build resume point)
      postings/    kind={tok,raw}/bucket=*/...  final packed segments
                   (POSTINGS_SCHEMA; kind=raw are lowercase raw-word
                   postings serving exact/excluded query terms)
      stats/       single row: n_docs, total_dl, avgdl, n_buckets, ...
      manifest/    lineage rows per phase/partition
    """

    PHASES = ("docs", "postings", "stats")

    def __init__(self, spark: SparkSession, cfg: BuildConfig | None = None):
        self.spark = spark
        self.cfg = cfg or BuildConfig()
        ensure_package_on_executors(spark)
        warm_python_workers(spark)

    # -- resume helpers -----------------------------------------------------
    def _fs(self, path: str):
        sc = self.spark.sparkContext
        hconf = sc._jsc.hadoopConfiguration()
        Path = sc._jvm.org.apache.hadoop.fs.Path
        p = Path(path)
        return p.getFileSystem(hconf), p, sc._jvm.org.apache.hadoop.fs.Path

    def _phase_done(self, index_path: str, phase: str) -> bool:
        fs, p, _ = self._fs(f"{index_path}/{phase}/_SUCCESS")
        return bool(fs.exists(p))

    def _delete_dir(self, path: str) -> None:
        fs, p, _ = self._fs(path)
        if fs.exists(p):
            fs.delete(p, True)

    def _finalize_side_dir(self, path: str) -> None:
        """Commit a task-side-written directory: drop leaked dot-tmp files
        (failed attempts) and write the _SUCCESS phase marker."""
        local = _strip_scheme(path)
        os.makedirs(local, exist_ok=True)
        for root, _dirs, files in os.walk(local):
            for fn in files:
                if fn.startswith("."):
                    os.unlink(os.path.join(root, fn))
        with open(os.path.join(local, "_SUCCESS"), "w"):
            pass

    def _write_manifest(self, index_path: str, rows: list[dict]) -> None:
        """Append lineage rows.  The manifest is driver-written metadata (a
        few rows per phase); a Spark job per append costs ~1s of serial time
        each, so local paths go straight through pyarrow.  Non-local
        index paths (hdfs://, s3://) fall back to a Spark write."""
        if not rows:
            return
        path = f"{index_path}/manifest"
        pdf = pd.DataFrame(rows)
        if "://" in index_path and not index_path.startswith("file://"):
            self.spark.createDataFrame(pdf).write.mode("append").parquet(path)
            return
        import uuid

        import pyarrow.parquet as pq

        local = path[len("file://"):] if path.startswith("file://") else path
        os.makedirs(local, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(local, f"part-{uuid.uuid4().hex}.parquet"),
        )

    def _simple_manifest(self, index_path, build_id, phase):
        self._write_manifest(
            index_path,
            [
                {
                    "build_id": build_id, "phase": phase, "partition_id": -1,
                    "status": "done", "n_terms": 0, "n_postings": 0,
                    "bytes": 0, "checksum": "", "completed_at": time.time(),
                }
            ],
        )

    @staticmethod
    def _source_units(src_path: str) -> "list[tuple[str, list[int]]]":
        """(file, [row_group]) read units of a parquet directory — the
        driver-planned input for the direct pass-A reader."""
        import pyarrow.parquet as pq

        local = _strip_scheme(src_path)
        units: list[tuple[str, list[int]]] = []
        for root, _dirs, files in os.walk(local):
            for fn in sorted(files):
                if not fn.endswith(".parquet") or fn.startswith("."):
                    continue
                full = os.path.join(root, fn)
                n = pq.ParquetFile(full).metadata.num_row_groups
                units.extend((full, [g]) for g in range(n))
        return units

    # -- build ---------------------------------------------------------------
    def build(
        self,
        transcripts: "DataFrame | str",
        index_path: str,
        build_id: str = "build0",
    ) -> dict:
        """Build (or resume) the index.  ``transcripts`` is either a
        DataFrame or a parquet directory path; a posix-visible PATH lets
        pass A read row groups directly with pyarrow inside the workers —
        the JVM then never touches the corpus at all (no scan, no arrow
        re-serialization).

        AQE is off for the build: skew is handled explicitly (doc-range
        salting) and partition counts are sized by config, so AQE's only
        effect here is an extra job-boundary materialization per shuffle
        (measured ~2x fixed cost on small inputs).  Restored in finally —
        a failed build must not leak AQE=off into a long-lived session."""
        spark = self.spark
        aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            src_path: str | None = None
            if isinstance(transcripts, str):
                src_path = transcripts
                transcripts = spark.read.parquet(src_path)
            return self._build_inner(
                transcripts, index_path, build_id, src_path
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_before)

    def _build_inner(
        self,
        transcripts: DataFrame,
        index_path: str,
        build_id: str,
        src_path: str | None = None,
    ) -> dict:
        cfg = self.cfg
        spark = self.spark
        # two-pass layout: one doc partition per core (task overhead per
        # partition).  The fused exchange sizes buckets by DATA instead —
        # see _range_boundaries.
        n_parts = cfg.doc_partitions or spark.sparkContext.defaultParallelism
        t0 = time.time()
        phases_run = []

        docs_path = f"{index_path}/docs"
        partials_path = f"{index_path}/partials"
        docs_done = self._phase_done(index_path, "docs")
        postings_done = self._phase_done(index_path, "postings")
        stats_done = self._phase_done(index_path, "stats")
        n_docs_known: int | None = None

        fused = cfg.fused and _is_posix_path(index_path)

        # phase 1: docs — docID assignment + the ONE tokenizer pass, all
        # materialized to parquet (sorted by doc_id within range partitions
        # so row-group stats prune doc_id lookups).  Fused mode side-writes
        # the level-0 partials from the SAME pass, so the token arrays never
        # hit parquet and the separate partials job disappears.
        if fused:
            # partials are deleted after a successful merge, so their
            # absence only forces a rebuild while postings are missing
            if not (
                docs_done
                and (postings_done or self._phase_done(index_path, "partials"))
            ):
                with _timed("docs+partials"):
                    self._delete_dir(partials_path)
                    self._delete_dir(docs_path)
                    exchange_path = f"{index_path}/exchange"
                    self._delete_dir(exchange_path)
                    # sorted-source fast path: a provably range-sorted
                    # parquet source skips the exchange — pass B reads its
                    # row groups directly, so the corpus is read ONCE
                    # instead of read + rewritten + re-read.  The probe is
                    # a distributed 2-narrow-column scan; at Iceberg scale
                    # the table's sort-order metadata answers it for free.
                    plan: list = []
                    plan_schema = "bucket int, files array<string>"
                    builder_fn = None
                    if src_path and _is_posix_path(src_path):
                        with _timed("probe"):
                            sp = _sorted_source_plan(
                                spark,
                                src_path,
                                cfg.exchange_bucket_rows,
                                spark.sparkContext.defaultParallelism,
                            )
                        if sp is not None:
                            plan, offsets = sp
                            plan_schema = (
                                "bucket int, files array<string>, "
                                "rgs array<int>, presorted boolean, "
                                "starts array<int>, lens array<int>"
                            )
                            builder_fn = _make_bucket_builder_src(
                                offsets,
                                docs_path,
                                partials_path,
                                cfg.partial_flush_postings,
                                cfg.store_tokens,
                                cfg.n_buckets,
                                cfg.blank_lines_over,
                                cfg.block_size,
                                cfg.pack_chunk_rows,
                            )
                    if builder_fn is None:
                        # pass A: route rows to range buckets, side-write
                        # per-bucket IPC shards; the collected output IS
                        # the exact per-bucket counts, so docID offsets are
                        # known with no extra job and the JVM never
                        # shuffles rows
                        with _timed("exchange"):
                            bnd = None
                            if src_path and _is_posix_path(src_path):
                                bnd = _exact_boundaries_local(
                                    src_path,
                                    cfg.doc_partitions,
                                    cfg.exchange_bucket_rows,
                                    spark.sparkContext.defaultParallelism,
                                )
                            if bnd is None:
                                bnd = _range_boundaries(
                                    transcripts,
                                    cfg.doc_partitions,
                                    bucket_rows=cfg.exchange_bucket_rows,
                                    min_parts=(
                                        spark.sparkContext
                                        .defaultParallelism
                                    ),
                                )
                            boundaries, _ = bnd
                            units = (
                                self._source_units(src_path)
                                if src_path and _is_posix_path(src_path)
                                else None
                            )
                            if units is not None:
                                par = spark.sparkContext.defaultParallelism
                                counts_rows = (
                                    _one_row_per_partition(
                                        spark,
                                        units,
                                        "file string, row_groups array<int>",
                                        n_tasks=min(len(units), 2 * par),
                                    ).mapInArrow(
                                        _make_exchange_reader(
                                            boundaries, exchange_path
                                        ),
                                        _EXCHANGE_COUNTS_SCHEMA,
                                    )
                                    .collect()
                                    if units
                                    else []
                                )
                            else:
                                counts_rows = (
                                    _canonical_input(transcripts)
                                    .mapInArrow(
                                        _make_exchange_writer(
                                            boundaries, exchange_path
                                        ),
                                        _EXCHANGE_COUNTS_SCHEMA,
                                    )
                                    .collect()
                                )
                        counts: dict[int, int] = {}
                        for r in counts_rows:
                            counts[int(r["bucket"])] = counts.get(
                                int(r["bucket"]), 0
                            ) + int(r["cnt"])
                        offsets = {}
                        acc_rows = 0
                        for b in range(len(boundaries) + 1):
                            offsets[b] = acc_rows
                            acc_rows += counts.get(b, 0)
                        # pass B reads the exchange shards; stats fold out
                        # of the collected rows
                        local_ex = _strip_scheme(exchange_path)
                        if os.path.isdir(local_ex):
                            for entry in sorted(os.listdir(local_ex)):
                                if not entry.startswith("b="):
                                    continue
                                b = int(entry.split("=", 1)[1])
                                d = os.path.join(local_ex, entry)
                                files = sorted(
                                    os.path.join(d, fn)
                                    for fn in os.listdir(d)
                                    if fn.endswith(".arrow")
                                    and not fn.startswith(".")
                                )
                                if files:
                                    plan.append((b, files))
                        # NUMERIC bucket order: contiguous task assignment
                        # below hands each task a contiguous docID range
                        # only if the plan itself ascends by bucket
                        # (os.listdir's string sort puts b=10 before b=2,
                        # which scrambled ranges across tasks and made
                        # per-term chunk ranges overlap — defeating the
                        # splice merge for hot terms)
                        plan.sort(key=lambda r: r[0])
                        builder_fn = _make_bucket_builder(
                            offsets,
                            docs_path,
                            partials_path,
                            cfg.partial_flush_postings,
                            cfg.store_tokens,
                            cfg.n_buckets,
                            cfg.blank_lines_over,
                            cfg.block_size,
                            cfg.pack_chunk_rows,
                        )
                    if plan:
                        plan_df = _one_row_per_partition(
                            spark,
                            plan,
                            plan_schema,
                            n_tasks=cfg.build_tasks_per_slot
                            * spark.sparkContext.defaultParallelism,
                            # contiguous docID range per task: the splice
                            # merge's per-term chunk disjointness invariant
                            contiguous=True,
                        )
                        with _timed("passB_job"):
                            stat_rows = plan_df.mapInArrow(
                                builder_fn, PARTIALS_SCHEMA
                            ).collect()
                    else:
                        stat_rows = []
                    with _timed("finalize_dirs"):
                        self._delete_dir(exchange_path)
                        self._finalize_side_dir(partials_path)
                        self._ensure_docs_nonempty(docs_path, transcripts)
                        self._finalize_side_dir(docs_path)
                    n_docs_known = sum(int(r["df_part"]) for r in stat_rows)
                    total_dl = sum(int(r["min_doc"]) for r in stat_rows)
                if not stats_done:
                    with _timed("stats_write"):
                        self._write_stats_values(
                            n_docs_known, total_dl, index_path, build_id
                        )
                    stats_done = True
                    phases_run.append("stats")
                with _timed("manifests_docs"):
                    self._simple_manifest(index_path, build_id, "docs")
                    self._simple_manifest(index_path, build_id, "partials")
                phases_run.append("docs")
        elif not docs_done:
            with _timed("docs"):
                base, n_docs_known = _assign_and_tokenize(
                    transcripts, n_parts, cfg.blank_lines_over
                )
                base.write.mode("overwrite").options(
                    **spark_write_options("docs")
                ).parquet(docs_path)
            self._simple_manifest(index_path, build_id, "docs")
            phases_run.append("docs")

        docs = spark.read.parquet(docs_path)

        # phase 2: level-0 partials (two-pass layout only — fused already
        # wrote them), then one compressed shuffle + streaming merge into
        # final segments
        if not postings_done:
            if not fused and not self._phase_done(index_path, "partials"):
                with _timed("partials"):
                    (
                        docs.select("doc_id", "dl", "tokens", "raws")
                        .mapInArrow(
                            _make_partial_builder(
                                cfg.partial_flush_postings, cfg.block_size
                            ),
                            PARTIALS_SCHEMA,
                        )
                        .write.mode("overwrite")
                        .parquet(partials_path)
                    )
                self._simple_manifest(index_path, build_id, "partials")
            # stats ride the partials metadata (@stats rows emitted by the
            # builder) — no separate docs dl scan; must run before the
            # partials cleanup below
            if not stats_done:
                with _timed("stats"):
                    n_docs_known = self._write_stats(
                        spark.read.parquet(partials_path), index_path, build_id
                    )
                stats_done = True
                phases_run.append("stats")
            if n_docs_known is not None:
                n_docs = int(n_docs_known)
            else:
                n_docs = int(
                    spark.read.parquet(f"{index_path}/stats").collect()[0][
                        "n_docs"
                    ]
                )
            with _timed("merge"):
                if fused:
                    self._delete_dir(f"{index_path}/postings")
                    manifest_rows = _merge_partials_fused(
                        spark, partials_path, cfg,
                        f"{index_path}/postings", build_id,
                    )
                    self._finalize_side_dir(f"{index_path}/postings")
                else:
                    _merge_partials(
                        spark, partials_path, n_docs, cfg,
                        f"{index_path}/postings",
                    )
                    manifest_rows = None
            with _timed("manifest_postings"):
                self._write_manifest(
                    index_path,
                    manifest_rows
                    if manifest_rows is not None
                    else _manifest_rows(
                        spark, f"{index_path}/postings", build_id
                    ),
                )
            with _timed("delete_partials"):
                self._delete_dir(partials_path)
            phases_run.append("postings")

        # phase 3 fallback (resume path: postings already done but stats
        # missing, partials gone) — pruned dl scan over docs/
        if not stats_done:
            with _timed("stats"):
                n_docs_known = self._write_stats(
                    docs.select(
                        F.lit("@stats").alias("kind"),
                        F.lit(1).cast("long").alias("df_part"),
                        F.col("dl").cast("long").alias("min_doc"),
                    ),
                    index_path,
                    build_id,
                )
            phases_run.append("stats")

        elapsed = time.time() - t0
        if n_docs_known is not None:
            n_docs = int(n_docs_known)
        else:
            n_docs = int(
                spark.read.parquet(f"{index_path}/stats").collect()[0]["n_docs"]
            )
        return {
            "build_id": build_id,
            # canonical phase order (stats may execute early off the
            # partials metadata)
            "phases_run": [p for p in self.PHASES if p in phases_run],
            "n_docs": n_docs,
            "elapsed_sec": elapsed,
            "turns_per_sec": (n_docs / elapsed) if elapsed > 0 else 0.0,
        }

    def _write_stats(self, src: DataFrame, index_path: str, build_id: str) -> int:
        """Aggregate (@stats-kind rows: df_part=n_docs, min_doc=total_dl)
        and write stats/.  Returns n_docs."""
        row = (
            src.filter(F.col("kind") == "@stats")
            .agg(
                F.sum("df_part").alias("n_docs"),
                F.sum("min_doc").alias("total_dl"),
            )
            .collect()[0]
        )
        n_docs = int(row["n_docs"] or 0)
        total_dl = int(row["total_dl"] or 0)
        self._write_stats_values(n_docs, total_dl, index_path, build_id)
        return n_docs

    def _write_stats_values(
        self, n_docs: int, total_dl: int, index_path: str, build_id: str
    ) -> None:
        cfg = self.cfg
        pdf = pd.DataFrame(
            {
                "n_docs": [n_docs],
                "total_dl": [total_dl],
                "avgdl": [total_dl / n_docs if n_docs else 0.0],
                "n_buckets": [cfg.n_buckets],
                "block_size": [cfg.block_size],
                # recorded so maintenance ops (compact_index) can honor
                # the build-time cap; absent in older indexes (readers
                # fall back to the BuildConfig default)
                "max_seg": [cfg.max_postings_per_segment],
                "build_id": [build_id],
            }
        )
        self._write_stats_frame(pdf, index_path)
        self._simple_manifest(index_path, build_id, "stats")

    def _ensure_docs_nonempty(self, docs_path: str, transcripts: DataFrame) -> None:
        """A 0-row corpus leaves no side-written docs shards; write one
        empty, correctly-typed file so docs/ stays readable."""
        local = _strip_scheme(docs_path)
        os.makedirs(local, exist_ok=True)
        if any(fn.endswith(".parquet") for fn in os.listdir(local)):
            return
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        ts_type = dict(
            zip(transcripts.schema.names, transcripts.schema.fields)
        )["ts"].dataType
        schema = to_arrow_schema(_docs_schema(ts_type, self.cfg.store_tokens))
        pq.write_table(
            schema.empty_table(),
            os.path.join(local, "part-00000.parquet"),
            **parquet_write_options("docs"),
        )

    def _write_stats_frame(self, pdf: "pd.DataFrame", index_path: str) -> None:
        """Overwrite stats/ with a single-row frame (driver-side for local
        paths — a Spark job for one row costs ~2s of scheduling)."""
        if "format_version" not in pdf.columns:
            pdf = pdf.assign(format_version=FORMAT_VERSION)
        path = f"{index_path}/stats"
        if "://" in index_path and not index_path.startswith("file://"):
            # remote FS: Spark write (its committer creates _SUCCESS).
            # NOT coalesce(1): coalescing a local relation to one partition
            # costs a flat ~5s per write in Spark 4.1 local mode (measured)
            self.spark.createDataFrame(pdf).repartition(1).write.mode(
                "overwrite"
            ).parquet(path)
        else:
            # driver-side single-row write: a Spark job for one row costs
            # ~2s of scheduling; stats/_SUCCESS (the phase-done marker) is
            # created explicitly
            import pyarrow.parquet as pq

            local = (
                path[len("file://"):] if path.startswith("file://") else path
            )
            if os.path.isdir(local):
                for fn in os.listdir(local):
                    os.unlink(os.path.join(local, fn))
            os.makedirs(local, exist_ok=True)
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(local, "part-00000.parquet"),
            )
            with open(os.path.join(local, "_SUCCESS"), "w"):
                pass
