"""Distributed index integrity verification — `cli stats --verify`.

A 100 TB index accumulates risk the reference never faces (object-store
bit-rot, partial uploads, a lost bucket directory after a botched copy),
so verification must be a first-class distributed job, not a driver loop:

  * one codegen-only scan of postings/ recomputes each segment's blob CRC
    (Spark's `crc32` is java.util.zip.CRC32 — the same polynomial/value as
    the zlib.crc32 the build stamps into `seg_crc`) plus structural
    invariants (seg_bytes == blob lengths, block offset arrays consistent,
    last block covers max_doc, min_doc <= max_doc).  No UDF, no varint
    decode, no shuffle until the per-(kind, bucket) count aggregation.
  * ``seg_crc`` covers docs_bin only, and a dl_bin byte flip that keeps
    the varint length keeps seg_bytes, so one Arrow pass decodes every
    segment and joins each posting's dl with docs/'s dl for its doc id
    (``bad_dl``: segments with a differing, missing or undecodable dl).
    Scores read dl from the postings, so such a flip would otherwise
    change rankings silently.
  * the per-bucket (n_terms, n_postings, bytes, checksum) aggregates are
    compared against the manifest lineage rows the build committed
    (build.py `_manifest_rows`) — this catches LOST or DUPLICATED segment
    files, which per-row CRC cannot see.
  * docs/ is checked for doc_id density: count == stats.n_docs, ids cover
    exactly [0, n_docs) (count + min + max + countDistinct).  The
    countDistinct is the one genuinely corpus-sized shuffle; it is the
    price of an exactness claim and runs only under --verify.

Returns a plain dict (JSON-able for the CLI) with `ok` plus per-check
failure detail.  ``index_bytes`` (the `stats` command's ``bytes`` block)
says where an index directory's bytes go, from the files and parquet
footers alone.  Reference analog: the reference trusts its local mtime
cache (src/search/cache.rs); a distributed persistent index replaces
trust with verification.
"""

from __future__ import annotations

import os
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession, functions as F

from probe_spark.runtime import ensure_package_on_executors


def _posting_dls(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow over postings (docs_bin, dl_bin): one (seg, doc_id, dl)
    row per posting, ``seg`` numbering the segment uniquely across tasks.
    A segment whose blobs do not decode to as many ids as dls yields one
    (seg, -1, -1) row, which matches no doc."""
    import numpy as np
    from pyspark import TaskContext

    from probe_spark.index.codec import decode_postings_rows

    seg0 = TaskContext.get().partitionId() << 32
    for batch in batches:
        rows, ids, dls, bad = decode_postings_rows(
            batch.column("docs_bin"), batch.column("dl_bin")
        )
        bad = np.flatnonzero(bad)
        none = np.full(bad.size, -1, np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(seg0 + np.concatenate([rows, bad])),
                pa.array(np.concatenate([ids, none])),
                pa.array(np.concatenate([dls, none])),
            ],
            names=["seg", "doc_id", "dl"],
        )
        seg0 += batch.num_rows


def index_bytes(path: str) -> dict:
    """Bytes of a local index directory: ``dirs`` per top-level entry
    (summing to ``total``) and, for postings/ and docs/, a split that sums
    to that entry's bytes:

    * ``columns``: compressed bytes per top-level column (its pages with
      their headers and dictionary pages, over every row group and file);
    * ``footer``: each parquet file's metadata plus its 8-byte trailer;
    * ``magic``: each parquet file's 4 leading bytes;
    * ``column_metadata``: the rest of each parquet file, outside its
      column chunks and footer: the copy of each chunk's metadata that
      pyarrow writes after the chunk, or the column and offset indexes
      that parquet-mr writes before the footer;
    * ``other_files``: files that are not parquet (``_SUCCESS``,
      checksum files)."""
    base = path.removeprefix("file://")
    out: dict = {"total": 0, "dirs": {}}
    for name in sorted(os.listdir(base)):
        top = os.path.join(base, name)
        files = (
            [os.path.join(d, f) for d, _dirs, fs in os.walk(top) for f in fs]
            if os.path.isdir(top)
            else [top]
        )
        sizes = {f: os.path.getsize(f) for f in files}
        out["dirs"][name] = sum(sizes.values())
        out["total"] += out["dirs"][name]
        if name not in ("postings", "docs"):
            continue
        part = {
            "columns": {}, "footer": 0, "magic": 0, "column_metadata": 0,
            "other_files": 0,
        }
        cols = part["columns"]
        for f, size in sorted(sizes.items()):
            if not f.endswith(".parquet"):
                part["other_files"] += size
                continue
            md = pq.read_metadata(f)
            chunks = 0
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    cc = rg.column(c)
                    col = cc.path_in_schema.split(".")[0]
                    cols[col] = cols.get(col, 0) + cc.total_compressed_size
                    chunks += cc.total_compressed_size
            tail = md.serialized_size + 8
            part["footer"] += tail
            part["magic"] += 4
            part["column_metadata"] += size - 4 - chunks - tail
        out[name] = part
    return out


def verify_index(spark: SparkSession, path: str) -> dict:
    """Full integrity check of an index directory; see module doc."""
    stats = spark.read.parquet(f"{path}/stats").collect()[0].asDict()
    n_docs = int(stats["n_docs"])
    ensure_package_on_executors(spark)

    post = spark.read.parquet(f"{path}/postings")
    docs = spark.read.parquet(f"{path}/docs")

    def _bad(cond):
        # null comparison result (e.g. empty block arrays) counts as bad
        return F.coalesce(cond.cast("long"), F.lit(1))

    per_seg = post.select(
        "kind",
        "bucket",
        "term",
        "df_seg",
        "seg_bytes",
        "seg_crc",
        _bad(F.crc32("docs_bin") != F.col("seg_crc")).alias("bad_crc"),
        _bad(
            (F.length("docs_bin") + F.length("dl_bin"))
            != F.col("seg_bytes")
        ).alias("bad_bytes"),
        _bad(
            F.element_at("block_last_doc", -1) != F.col("max_doc")
        ).alias("bad_last_block"),
        _bad(
            (F.size("block_doc_off") != F.size("block_last_doc"))
            | (F.size("block_dl_off") != F.size("block_last_doc"))
            | (F.size("block_min_dl") != F.size("block_last_doc"))
        ).alias("bad_offsets"),
        _bad(F.col("min_doc") > F.col("max_doc")).alias("bad_range"),
    )
    bucket_rows = (
        per_seg.groupBy("kind", "bucket")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("df_seg").alias("n_postings"),
            F.countDistinct("term").alias("n_terms"),
            F.sum("seg_bytes").alias("bytes"),
            F.sum("seg_crc").alias("checksum"),
            F.sum("bad_crc").alias("bad_crc"),
            F.sum("bad_bytes").alias("bad_bytes"),
            F.sum("bad_last_block").alias("bad_last_block"),
            F.sum("bad_offsets").alias("bad_offsets"),
            F.sum("bad_range").alias("bad_range"),
        )
        .collect()
    )

    seg_failures = {
        k: int(sum(r[k] for r in bucket_rows))
        for k in (
            "bad_crc", "bad_bytes", "bad_last_block", "bad_offsets",
            "bad_range",
        )
    }
    seg_failures["bad_dl"] = int(
        post.select("docs_bin", "dl_bin")
        .mapInArrow(_posting_dls, "seg long, doc_id long, dl long")
        .join(
            docs.select("doc_id", F.col("dl").cast("long").alias("doc_dl")),
            "doc_id",
            "left",
        )
        .filter(~F.col("dl").eqNullSafe(F.col("doc_dl")))
        .agg(F.countDistinct("seg"))
        .collect()[0][0]
    )

    # manifest comparison: latest done lineage row per (phase, bucket)
    manifest = spark.read.parquet(f"{path}/manifest").collect()
    # a vacuum rewrites doc ids out of the index, so the docID-density
    # invariant relaxes from "dense 0..n-1" to "distinct, non-negative"
    has_vacuum = any(
        r["phase"] == "vacuum" and r["status"] == "done" for r in manifest
    )
    latest: dict[tuple, dict] = {}
    for m in (r.asDict() for r in manifest):
        if not m["phase"].startswith("postings_") or m["status"] != "done":
            continue
        key = (m["phase"], int(m["partition_id"]))
        if key not in latest or m["completed_at"] > latest[key]["completed_at"]:
            latest[key] = m
    manifest_mismatches = []
    seen = set()
    for r in bucket_rows:
        key = (f"postings_{r['kind']}", int(r["bucket"]))
        seen.add(key)
        m = latest.get(key)
        if m is None:
            manifest_mismatches.append(
                {"bucket": key, "reason": "no lineage row"}
            )
            continue
        for field, got in (
            ("n_terms", int(r["n_terms"])),
            ("n_postings", int(r["n_postings"])),
            ("bytes", int(r["bytes"])),
            ("checksum", str(r["checksum"])),
        ):
            if str(m[field]) != str(got):
                manifest_mismatches.append(
                    {
                        "bucket": key,
                        "reason": f"{field}: manifest {m[field]} != scan {got}",
                    }
                )
    for key, m in latest.items():
        if key not in seen and int(m["n_postings"]) != 0:
            # a zero lineage row with no segments = a bucket a vacuum
            # emptied, which is consistent; a NON-zero row is a real loss
            manifest_mismatches.append(
                {"bucket": key, "reason": "lineage row has no segments on disk"}
            )

    docs_agg = (
        docs.agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.countDistinct("doc_id").alias("n_distinct"),
        )
        .collect()[0]
    )
    docs_ok = (
        int(docs_agg["n"]) == n_docs
        and int(docs_agg["n_distinct"]) == n_docs
        and int(docs_agg["lo"]) >= 0
        and (
            has_vacuum  # gaps are the point of a vacuum
            or (
                int(docs_agg["lo"]) == 0
                and int(docs_agg["hi"]) == n_docs - 1
            )
        )
    )

    ok = (
        all(v == 0 for v in seg_failures.values())
        and not manifest_mismatches
        and docs_ok
    )
    return {
        "ok": ok,
        "n_docs": n_docs,
        "segments_checked": int(sum(r["n_segments"] for r in bucket_rows)),
        "segment_failures": seg_failures,
        "manifest_mismatches": [
            {"bucket": list(m["bucket"]) if isinstance(m["bucket"], tuple)
             else m["bucket"], "reason": m["reason"]}
            for m in manifest_mismatches
        ],
        "docs_ok": docs_ok,
        "docs": {
            "count": int(docs_agg["n"]),
            "distinct": int(docs_agg["n_distinct"]),
            "min": int(docs_agg["lo"]),
            "max": int(docs_agg["hi"]),
        },
    }
