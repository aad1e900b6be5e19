"""Structured Streaming ingest: continuously index arriving transcripts.

The reference has NO streaming (SURVEY.md §2.10 — its only incremental
behavior is the session cache), so this is the Spark-native extension the
north star's "interrupted build resumes cleanly" points at: micro-batch
index growth with exactly-once bookkeeping.

Design (foreachBatch over a file/table stream):

  * each micro-batch is a DELTA BUILD: docIDs continue densely from the
    current index's n_docs (batch rows ordered by (conv_id, turn_idx)
    within the batch — global order is arrival order, the streaming analog
    of the batch build's stable ordering, documented);
  * the batch's docs rows APPEND to docs/, its postings pack into NEW
    segments appended under the same kind/bucket partitions — the query
    engine already unions arbitrarily many segments per term, so a
    streamed index is structurally identical to a salted batch index;
  * stats/ is rewritten per batch (n_docs, total_dl, avgdl) and a manifest
    lineage row (phase=stream_batch, partition_id=batch_id) records each
    commit; Structured Streaming's checkpoint gives at-least-once batch
    delivery and the manifest's batch_id row makes replayed batches
    detectable (skipped idempotently);
  * the SearchEngine sees new docs after ``refresh()`` (stats + df cache
    reload) — long-lived query services refresh per micro-batch epoch.

Scale note: per-batch work is the batch's own tokenize + pack (no global
shuffle over existing data); segment count grows with batches — periodic
compaction = re-running the batch merge over postings/ (same code path as
the level-0 partial merge; exposed as ``compact()``).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from probe_spark.index.build import (
    PARTIALS_SCHEMA,
    BuildConfig,
    IndexBuilder,
    _make_partial_builder,
    _merge_partials,
    spark_write_options,
)


class StreamingIndexer:
    """foreachBatch sink that grows an index directory per micro-batch."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        cfg: BuildConfig | None = None,
    ):
        import dataclasses

        self.spark = spark
        self.index_path = index_path
        # streaming deltas use the two-pass layout: docs/ must carry the
        # token arrays (compact() re-packs from them without re-tokenizing)
        # and segment appends go through the partitionBy writer
        self.cfg = dataclasses.replace(cfg or BuildConfig(), fused=False)
        self.builder = IndexBuilder(spark, self.cfg)

    # -- bookkeeping ---------------------------------------------------------
    def _stats(self):
        """None ONLY when stats/ does not exist yet (fresh index).  Any
        other read failure re-raises: silently treating a transient error
        as 'fresh' would restart doc_ids at 0 and permanently corrupt the
        index with colliding ids."""
        from pyspark.errors import AnalysisException

        try:
            return self.spark.read.parquet(f"{self.index_path}/stats").collect()[0]
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return None
            raise

    def _batch_seen(self, batch_id: int) -> bool:
        try:
            m = self.spark.read.parquet(f"{self.index_path}/manifest")
        except Exception:
            return False
        return (
            m.filter(
                (F.col("phase") == "stream_batch")
                & (F.col("partition_id") == int(batch_id))
            ).limit(1).count()
            > 0
        )

    def compact(self) -> None:
        """Rebuild postings/ from docs/ as one fresh merge: many small
        streamed segments per term collapse back into the batch layout.
        docs/ stores tokens/raws, so compaction never re-tokenizes — it is
        exactly the batch build's phase 2+3 re-run (same code path)."""
        self.builder._delete_dir(f"{self.index_path}/postings")
        self.builder._delete_dir(f"{self.index_path}/stats")
        self.builder.build(
            self.spark.createDataFrame(
                [],
                "conv_id string, turn_idx int, role string, text string, "
                "tool string, ts timestamp_ntz",
            ),
            self.index_path,
            build_id="compact",
        )

    # -- the sink ------------------------------------------------------------
    def _publish_dir(self, src: str, dst: str, prefix: str) -> None:
        """Copy every parquet file under ``src`` (preserving relative
        subdirs) into ``dst`` under DETERMINISTIC names
        ``{prefix}-{i:05d}.parquet`` (sorted relative order).  Re-running
        after a mid-publish crash overwrites the same names with identical
        content — the publish is idempotent, never duplicating."""
        fs, src_p, Path = self.builder._fs(src)
        it = fs.listFiles(src_p, True)  # recursive
        files = []
        # listFiles returns fully-qualified URIs (file:/...); qualify the
        # source the same way so the relative-path strip lines up
        src_str = fs.makeQualified(src_p).toString()
        while it.hasNext():
            f = it.next().getPath().toString()
            if f.endswith(".parquet"):
                files.append(f)
        files.sort()
        for i, f in enumerate(sorted(files)):
            rel = f[len(src_str):].lstrip("/")
            subdir = "/".join(rel.split("/")[:-1])
            out_dir = f"{dst}/{subdir}" if subdir else dst
            fs.mkdirs(Path(out_dir))
            dest = Path(f"{out_dir}/{prefix}-{i:05d}.parquet")
            if fs.exists(dest):
                fs.delete(dest, False)
            # FileUtil.copy keeps src intact (staging cleaned separately)
            self.spark.sparkContext._jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, Path(f), fs, dest, False, fs.getConf()
            )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: delta-build this micro-batch into the index.

        Two-phase commit so an at-least-once replay after ANY mid-batch
        crash is harmless:
          stage   — docs delta, partials, postings delta all (over)written
                    to batch-suffixed staging dirs; inputs and doc_ids are
                    deterministic given (stats.n_docs, batch rows), so a
                    replay regenerates byte-equivalent content;
          publish — staged files copied into docs/ and postings/ under
                    deterministic b{batch_id}-NNNNN names (overwrite, never
                    append) -> re-publishing cannot duplicate; then stats
                    (stamped with this batch's build_id) and finally the
                    manifest commit row.
        A replay that finds stats already stamped skips straight to the
        manifest row (crash landed between stats and manifest)."""
        if self._batch_seen(batch_id):
            return  # replayed after checkpoint recovery — already committed
        spark = self.spark
        cfg = self.cfg
        stamp = f"stream_b{batch_id}"
        stats = self._stats()
        docs_stage = f"{self.index_path}/docs_stage_b{batch_id}"
        post_stage = f"{self.index_path}/postings_stage_b{batch_id}"
        partials_path = f"{self.index_path}/partials_b{batch_id}"
        if stats is not None and stats["build_id"] == stamp:
            # crash landed after the stats rewrite but before the manifest
            # row: everything is published — just commit and clean up
            self._write_commit_row(batch_id)
            for d in (docs_stage, post_stage, partials_path):
                self.builder._delete_dir(d)
            return
        base_id = int(stats["n_docs"]) if stats else 0
        total_dl = int(stats["total_dl"]) if stats else 0

        from probe_spark.index.build import _assign_and_tokenize

        n_parts = cfg.doc_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        docs, n_new = _assign_and_tokenize(batch_df, n_parts)
        if n_new == 0:
            return
        docs = docs.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(base_id)).cast("long")
        )
        # ---- stage ----------------------------------------------------
        # staged docs are published as-is into docs/
        docs.write.mode("overwrite").options(
            **spark_write_options("docs")
        ).parquet(docs_stage)
        batch_docs = spark.read.parquet(docs_stage).select(
            "doc_id", "dl", "tokens", "raws"
        )
        (
            batch_docs.mapInArrow(
                _make_partial_builder(
                    cfg.partial_flush_postings, cfg.block_size
                ),
                PARTIALS_SCHEMA,
            )
            .write.mode("overwrite")
            .parquet(partials_path)
        )
        stats_row = (
            spark.read.parquet(partials_path)
            .filter(F.col("kind") == "@stats")
            .agg(
                F.sum("df_part").alias("n"), F.sum("min_doc").alias("dl")
            )
            .collect()[0]
        )
        batch_dl = int(stats_row["dl"] or 0)
        self.builder._delete_dir(post_stage)
        _merge_partials(
            spark,
            partials_path,
            base_id + n_new,
            cfg,
            post_stage,
        )
        # ---- publish (idempotent deterministic overwrites) -------------
        self._publish_dir(docs_stage, f"{self.index_path}/docs", f"b{batch_id}")
        self._publish_dir(
            post_stage, f"{self.index_path}/postings", f"b{batch_id}"
        )
        # phase markers (resume/compact read these; file copies above
        # don't create them the way append-mode Spark writes did)
        for final in (f"{self.index_path}/docs", f"{self.index_path}/postings"):
            fs, _p, Path = self.builder._fs(final)
            fs.create(Path(f"{final}/_SUCCESS"), True).close()
        for d in (docs_stage, post_stage, partials_path):
            self.builder._delete_dir(d)

        # stats rewrite (stamped with this batch) then the commit row
        n_docs = base_id + n_new
        new_total = total_dl + batch_dl
        import pandas as pd

        self.builder._write_stats_frame(
            pd.DataFrame(
                {
                    "n_docs": [n_docs],
                    "total_dl": [new_total],
                    "avgdl": [new_total / n_docs if n_docs else 0.0],
                    "n_buckets": [cfg.n_buckets],
                    "block_size": [cfg.block_size],
                    "max_seg": [cfg.max_postings_per_segment],
                    "build_id": [stamp],
                }
            ),
            self.index_path,
        )
        self._write_commit_row(batch_id)

    def _write_commit_row(self, batch_id: int) -> None:
        self.builder._write_manifest(
            self.index_path,
            [
                {
                    "build_id": f"stream_b{batch_id}",
                    "phase": "stream_batch",
                    "partition_id": int(batch_id),
                    "status": "done",
                    "n_terms": 0,
                    "n_postings": 0,
                    "bytes": 0,
                    "checksum": "",
                    "completed_at": time.time(),
                }
            ],
        )


def stream_index(
    spark: SparkSession,
    source_path: str,
    index_path: str,
    checkpoint_path: str,
    cfg: BuildConfig | None = None,
    schema: str = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz"
    ),
):
    """readStream(parquet dir) -> foreachBatch(StreamingIndexer) query.

    Returns the StreamingQuery; callers drive it with processAllAvailable()
    (tests) or awaitTermination() (production).
    """
    indexer = StreamingIndexer(spark, index_path, cfg)
    stream = (
        spark.readStream.schema(schema).parquet(source_path)
    )
    return (
        stream.writeStream.foreachBatch(indexer.process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime="1 second")
        .start()
    )
