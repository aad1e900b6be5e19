"""Index maintenance: document deletion (tombstones) and vacuum.

At 10^12-turn scale deletion is inevitable (takedowns, retention windows,
privacy erasure), and rebuilding the index per delete is disqualifying.
This module takes the Lucene/Iceberg shape:

  DELETE is a metadata write.  ``delete_where`` resolves a Spark SQL
  predicate over the doc metadata columns to (doc_id, dl) rows and appends
  them to ``<index>/tombstones/`` — one column-pruned, pushed-down scan of
  docs/, no index rewrite.  Query paths mask tombstoned docs BEFORE top-k;
  corpus statistics (df/avgdl/n_docs) stay as built until vacuum, exactly
  Lucene's deleted-docs semantics: a surviving doc's score is unchanged by
  a delete, and the oracle for a tombstoned index is "full-corpus stats,
  candidates minus deleted".

  VACUUM rewrites the index in place to fold the tombstones: every
  posting segment is decoded, masked, and re-encoded (block metadata,
  df_seg, CRC recomputed) in one embarrassingly parallel Arrow pass over
  the segment files — postings move once, no shuffle; docs/ shards are
  rewritten file-for-file (layout and doc order preserved, so footer
  pruning keeps working); stats are recomputed from the surviving docs.
  The result is rank-identical to a fresh build over the surviving corpus
  (same postings, same stats; doc_ids keep their original values, gaps
  are fine for BM25).  New directories are written complete, then swapped
  by rename — a crash mid-swap leaves the ``.vold-*`` originals on disk
  for manual recovery.

The reference has no deletes (it re-scans files per query, so deletion is
`rm`); this is the index-maintenance analog that role demands.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession, functions as F

from probe_spark.index.build import parquet_write_options, spark_write_options
from probe_spark.runtime import ensure_package_on_executors

# tombstone sets at or below this ride query paths as a driver-resident
# sorted int64 array (~128MB at the cap — sized for mass deletes: the
# 27.2M-turn lifecycle run tombstones 6.2M docs in one delete_where, and
# past the cap EVERY query pays a distributed anti-join, measured 45s vs
# 4s per query at that scale); a larger backlog still overflows — at
# that point run vacuum (which is also the only path that frees the
# bytes, and took 65s at the same scale)
TOMBSTONE_COLLECT_CAP = 16_000_000


def _posix(index_path: str) -> str:
    return index_path.removeprefix("file://")


def delete_where(spark: SparkSession, index_path: str, where: str) -> int:
    """Tombstone every doc matching ``where`` (a Spark SQL predicate over
    conv_id, turn_idx, role, tool, ts, text).  Returns the number of docs
    tombstoned by THIS call (docs already deleted tombstone again
    harmlessly — readers dedupe).  One column-pruned scan; no index
    rewrite."""
    docs = spark.read.parquet(f"{index_path}/docs")
    from pyspark.errors import AnalysisException, ParseException

    try:
        sel = docs.filter(F.expr(where)).select("doc_id", "dl")
        _ = sel.schema  # eager analysis: bad predicates must raise here
    except (AnalysisException, ParseException) as e:
        raise ValueError(f"invalid where predicate {where!r}: {e}") from e
    n = sel.count()
    if n:
        sel.write.mode("append").parquet(f"{index_path}/tombstones")
    return int(n)


def tombstone_ids(index_path: str):
    """Sorted unique tombstoned doc_ids as int64, or None when there are
    none, or the string ``"overflow"`` past TOMBSTONE_COLLECT_CAP (the
    engine then anti-joins distributedly).  Driver-side pyarrow read —
    tombstones are (doc_id, dl) only, so even the cap is ~80MB of IO."""
    d = os.path.join(_posix(index_path), "tombstones")
    if not os.path.isdir(d):
        return None
    import pyarrow.dataset as pds

    ds = pds.dataset(d, format="parquet")
    if ds.count_rows() > TOMBSTONE_COLLECT_CAP:
        return "overflow"
    col = ds.to_table(columns=["doc_id"]).column("doc_id")
    if col.num_chunks == 0:
        return None
    ids = np.unique(col.to_numpy(zero_copy_only=False).astype(np.int64))
    return ids if ids.size else None


def _mask_sorted(values: np.ndarray, tomb: np.ndarray) -> np.ndarray:
    """Boolean keep-mask for ``values`` (any order) against sorted
    ``tomb``."""
    pos = np.searchsorted(tomb, values)
    pos[pos == tomb.size] = tomb.size - 1
    return tomb[pos] != values


def _clear_repairs(base: str) -> None:
    """Drop the _repairs/ overlay sidecar after any op that rewrites
    docs/ (vacuum / merge / compact).  The sidecar's docs-layout
    fingerprint already self-invalidates stale entries; this is garbage
    collection so rewritten indexes don't accumulate dead files."""
    shutil.rmtree(os.path.join(base, "_repairs"), ignore_errors=True)


def vacuum(spark: SparkSession, index_path: str) -> dict:
    """Fold tombstones into the index (posix paths; remote stores would
    swap via their own atomic-rename/commit primitive).  Returns the
    maintenance stats dict; no-op when there are no tombstones."""
    base = _posix(index_path)
    if not os.path.isdir(os.path.join(base, "tombstones")):
        return {"vacuumed": 0, "skipped": "no tombstones"}
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    ensure_package_on_executors(spark)
    tomb_tbl = pds.dataset(
        os.path.join(base, "tombstones"), format="parquet"
    ).to_table(columns=["doc_id"])
    tomb = np.unique(
        tomb_tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    )
    if not tomb.size:
        shutil.rmtree(os.path.join(base, "tombstones"))
        return {"vacuumed": 0, "skipped": "empty tombstones"}

    stats = pq.read_table(os.path.join(base, "stats")).to_pylist()[0]
    block_size = int(stats["block_size"])
    stamp = str(int(time.time() * 1000))

    # -- postings rewrite: one Arrow pass, segments move file -> file -----
    seg_df = spark.read.parquet(f"{index_path}/postings")
    out_schema = seg_df.schema  # includes kind/bucket partition columns

    def rewrite(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from probe_spark.index.codec import decode_postings, encode_postings

        for batch in batches:
            cols = {name: batch.column(name) for name in batch.schema.names}
            rows = batch.num_rows
            keep_rows = []
            repl: dict[int, dict] = {}
            for i in range(rows):
                ids, dls = decode_postings(
                    cols["docs_bin"][i].as_py(), cols["dl_bin"][i].as_py()
                )
                keep = _mask_sorted(ids, tomb)
                if keep.all():
                    keep_rows.append(i)
                    continue
                ids, dls = ids[keep], dls[keep]
                if not ids.size:
                    continue  # segment fully deleted
                (db, lb, bl, bm, bo, lo) = encode_postings(
                    ids, dls, block=block_size
                )
                keep_rows.append(i)
                repl[i] = {
                    "df_seg": int(ids.size),
                    "min_doc": int(ids[0]),
                    "max_doc": int(ids[-1]),
                    "docs_bin": db,
                    "dl_bin": lb,
                    "block_last_doc": bl.tolist(),
                    "block_min_dl": bm.tolist(),
                    "block_doc_off": bo.tolist(),
                    "block_dl_off": lo.tolist(),
                    "seg_bytes": len(db) + len(lb),
                    "seg_crc": zlib.crc32(db),
                }
            if not keep_rows:
                continue
            out = {n: [] for n in batch.schema.names}
            for i in keep_rows:
                r = repl.get(i)
                for n in batch.schema.names:
                    if r is not None and n in r:
                        out[n].append(r[n])
                    else:
                        out[n].append(cols[n][i].as_py())
            yield pa.RecordBatch.from_pydict(out, schema=batch.schema)

    tmp_post = os.path.join(base, f".vtmp-postings-{stamp}")
    (
        seg_df.mapInArrow(rewrite, out_schema)
        .write.partitionBy("kind", "bucket")
        .mode("overwrite")
        .options(**spark_write_options("postings"))
        .parquet(tmp_post)
    )
    # fresh per-bucket lineage totals for the rewritten segments (verify
    # compares the LATEST done row per (phase, bucket) against the scan;
    # metadata-only aggregation — binary columns are pruned)
    new_lineage = (
        spark.read.parquet(tmp_post)
        .groupBy("kind", "bucket")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("df_seg").alias("n_postings"),
            F.sum("seg_bytes").alias("bytes"),
            F.sum("seg_crc").alias("checksum"),
        )
        .collect()
    )

    # -- docs rewrite: file-for-file, layout and doc order preserved ------
    docs_dir = os.path.join(base, "docs")
    files = sorted(
        fn for fn in os.listdir(docs_dir) if fn.endswith(".parquet")
    )
    tmp_docs = os.path.join(base, f".vtmp-docs-{stamp}")
    os.makedirs(tmp_docs, exist_ok=True)
    src_dir, dst_dir = docs_dir, tmp_docs
    docs_write = parquet_write_options("docs")

    def rewrite_docs(pdfs):
        import pandas as pd
        import pyarrow.parquet as pqw

        for pdf in pdfs:
            kept = []
            dl_sum = []
            for fn in pdf["fn"]:
                t = pqw.read_table(os.path.join(src_dir, fn))
                keep = _mask_sorted(
                    t.column("doc_id").to_numpy().astype(np.int64), tomb
                )
                t2 = t.filter(pa.array(keep))
                if t2.num_rows:  # drop fully-deleted shards: an empty
                    # footer has no doc_id stats and would disable the
                    # engine's footer-range pruning wholesale
                    pqw.write_table(
                        t2, os.path.join(dst_dir, fn), **docs_write
                    )
                kept.append(t2.num_rows)
                dl_sum.append(
                    int(t2.column("dl").to_numpy().sum()) if t2.num_rows else 0
                )
            yield pd.DataFrame({"fn": pdf["fn"], "kept": kept, "dl": dl_sum})

    fdf = spark.createDataFrame([(f,) for f in files], "fn string")
    agg = (
        fdf.repartition(min(len(files), 64))
        .mapInPandas(rewrite_docs, "fn string, kept long, dl long")
        .agg(F.sum("kept").alias("n"), F.sum("dl").alias("dl"))
        .collect()[0]
    )
    n_docs, total_dl = int(agg["n"]), int(agg["dl"])
    with open(os.path.join(tmp_docs, "_SUCCESS"), "w"):
        pass

    # -- stats + swap ------------------------------------------------------
    new_stats = dict(stats)
    new_stats.update(
        n_docs=n_docs,
        total_dl=total_dl,
        avgdl=(total_dl / n_docs) if n_docs else 0.0,
        build_id=f"{stats['build_id']}+vacuum{stamp}",
    )
    tmp_stats = os.path.join(base, f".vtmp-stats-{stamp}")
    os.makedirs(tmp_stats, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist([new_stats]),
        os.path.join(tmp_stats, "part-0.parquet"),
    )

    volds = []
    for name, tmp in (
        ("postings", tmp_post),
        ("docs", tmp_docs),
        ("stats", tmp_stats),
    ):
        live = os.path.join(base, name)
        old = os.path.join(base, f".vold-{name}-{stamp}")
        os.rename(live, old)
        os.rename(tmp, live)
        volds.append(old)
    for old in volds:
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(os.path.join(base, "tombstones"), ignore_errors=True)

    # lineage: refreshed per-bucket totals + one vacuum phase row, so
    # `stats --verify` keeps passing (it checks the LATEST done row per
    # (phase, bucket)).  Buckets fully emptied by the deletes get a zero
    # row — verify treats "zero lineage, no segments" as consistent.
    manifest = os.path.join(base, "manifest")
    if os.path.isdir(manifest):
        now = time.time()
        rows = [
            {
                "build_id": new_stats["build_id"],
                "phase": "vacuum",
                "partition_id": -1,
                "status": "done",
                "n_terms": 0,
                "n_postings": 0,
                "bytes": 0,
                "checksum": str(int(tomb.size)),
                "completed_at": now,
            }
        ]
        covered = set()
        for r in new_lineage:
            covered.add((str(r["kind"]), int(r["bucket"])))
            rows.append(
                {
                    "build_id": new_stats["build_id"],
                    "phase": f"postings_{r['kind']}",
                    "partition_id": int(r["bucket"]),
                    "status": "done",
                    "n_terms": int(r["n_terms"]),
                    "n_postings": int(r["n_postings"]),
                    "bytes": int(r["bytes"]),
                    "checksum": str(int(r["checksum"])),
                    "completed_at": now,
                }
            )
        old = pq.read_table(manifest).to_pylist()
        for m in old:
            ph = str(m["phase"])
            if not ph.startswith("postings_") or m["status"] != "done":
                continue
            key = (ph.removeprefix("postings_"), int(m["partition_id"]))
            if key not in covered:
                covered.add(key)
                rows.append(
                    {
                        "build_id": new_stats["build_id"],
                        "phase": ph,
                        "partition_id": int(m["partition_id"]),
                        "status": "done",
                        "n_terms": 0,
                        "n_postings": 0,
                        "bytes": 0,
                        "checksum": "0",
                        "completed_at": now,
                    }
                )
        pq.write_table(
            pa.Table.from_pylist(rows),
            os.path.join(manifest, f"vacuum-{stamp}.parquet"),
        )

    _clear_repairs(base)
    return {
        "vacuumed": int(tomb.size),
        "n_docs": n_docs,
        "avgdl": new_stats["avgdl"],
    }


def _doc_span(spark: SparkSession, src: str, base: str) -> int:
    """1 + max doc_id of an index's docs/, or 0 for an empty shard.
    Driver-side from the parquet footers' row-group statistics (the same
    stats the engine's doc-range pruning rides), so a 30-shard merge does
    not launch 29 corpus-column scans before moving a byte; falls back to
    one Spark agg when a footer lacks doc_id statistics."""
    import pyarrow.parquet as pq

    ddir = os.path.join(base, "docs")
    mx = -1
    for fn in sorted(os.listdir(ddir)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(ddir, fn)).metadata
        for rg in range(md.num_row_groups):
            col = None
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == "doc_id":
                    col = c
                    break
            st = col.statistics if col is not None else None
            if st is None or not st.has_min_max:
                row = (
                    spark.read.parquet(f"{src}/docs")
                    .agg(F.max("doc_id"))
                    .collect()[0][0]
                )
                return 0 if row is None else int(row) + 1
            mx = max(mx, int(st.max))
    return mx + 1


def merge_indexes(
    spark: SparkSession, src_a: str, src_b: str, out_path: str
) -> dict:
    """Two-index shard merge — see ``merge_many`` (this is
    ``merge_many(spark, [src_a, src_b], out_path)``)."""
    return merge_many(spark, [src_a, src_b], out_path)


def merge_many(
    spark: SparkSession, sources: "list[str]", out_path: str
) -> dict:
    """Concatenate N indexes into one searchable index WITHOUT
    re-tokenizing — the shard-merge lifecycle op of a 10^12-turn store
    (build per-day/per-shard indexes in parallel, fold them into the
    serving index; Lucene's addIndexes / segment-merge analog, which the
    reference never needs because it has no index at all).  N-way in ONE
    pass: folding 30 daily shards moves every posting byte once, where a
    chain of pairwise merges would rewrite the first shard 29 times.

    Doc spaces concatenate in ``sources`` order: source i's ids shift by
    ``offset_i = sum over j<i of (1 + max doc_id of j)``.  Because
    postings are delta-encoded, shifting ALL ids of a segment by a
    constant changes only its LEADING varint (the absolute first doc id)
    — so the merge rewrites one varint + the numeric doc metadata per
    segment and moves the posting bytes exactly once, no decode, no sort,
    no shuffle (the same invariant splice_chunks exploits, codec.py).
    Segment addresses (term, salt, seg_seq) may collide between inputs,
    as they already do after streamed delta builds (seg_seq restarts at
    0 per batch); no query path keys segments by that address — they
    select by term and doc range — and doc ranges are disjoint by
    construction.

    The merged index is rank- and score-IDENTICAL to a fresh build over
    the concatenated corpus when the source order is the (conv_id,
    turn_idx) global order (the time-sharded deployment case); BM25 stats
    merge exactly (df adds, n_docs/total_dl add, avgdl recomputed).
    Tombstones carry over shifted, lineage is re-aggregated per bucket so
    ``stats --verify`` holds on the result.  Re-running into the same
    output is idempotent (every artifact is overwritten, never appended).

    All inputs must share n_buckets and block_size (same term-hash
    layout); posix paths, like vacuum.  Run ``compact_index`` afterwards
    to defragment the per-term segment chains.
    """
    import pyarrow.parquet as pq

    if len(sources) < 2:
        raise ValueError("merge_many needs at least two source indexes")
    bases = [_posix(s) for s in sources]
    base_o = _posix(out_path)
    stats = [
        pq.read_table(os.path.join(b, "stats")).to_pylist()[0] for b in bases
    ]
    for st in stats[1:]:
        for k in ("n_buckets", "block_size", "format_version"):
            # format_version too: tokenization differs across format
            # versions (build.py v7 note), and the merged stats carry
            # source 0's version — without this check the engine's
            # open-time version guard is silently bypassed for the other
            # sources' postings.  An absent key (pre-versioned index)
            # mismatches any present value.
            a, b = stats[0].get(k), st.get(k)
            if (a is None) != (b is None) or (
                a is not None and int(a) != int(b)
            ):
                raise ValueError(
                    f"incompatible indexes: {k} {a} != {b}"
                )
    ensure_package_on_executors(spark)
    offsets = [0]
    for src, b in zip(sources[:-1], bases[:-1]):
        offsets.append(offsets[-1] + _doc_span(spark, src, b))
    if base_o in bases:
        # the output is cleared below; merging "into" a source would
        # destroy it before it is read
        raise ValueError(
            "out_path must not be one of the sources — merge into a new "
            "directory, then swap"
        )
    os.makedirs(base_o, exist_ok=True)
    # a reused output dir must not leak a previous build's/merge's
    # artifacts: postings/ is wiped by the Spark overwrite below, but
    # stale docs shards / tombstones / manifest rows / a stats file under
    # a different name would silently corrupt the result (e.g. old
    # tombstones masking live docs, two conflicting stats rows)
    for sub in ("docs", "tombstones", "manifest", "stats"):
        shutil.rmtree(os.path.join(base_o, sub), ignore_errors=True)

    # -- postings: source 0 verbatim, the rest doc-shifted ----------------
    def make_shift(off: int):
        def shift(
            batches: Iterator[pa.RecordBatch],
        ) -> Iterator[pa.RecordBatch]:
            from probe_spark.index.codec import (
                varint_encode_one,
                varint_read_first,
            )

            for batch in batches:
                cols = {n: batch.column(n) for n in batch.schema.names}
                out: dict[str, list] = {n: [] for n in batch.schema.names}
                for i in range(batch.num_rows):
                    mv = memoryview(cols["docs_bin"][i].as_py())
                    first, flen = varint_read_first(mv)
                    enc = varint_encode_one(first + off)
                    docs_bin = bytes(enc) + bytes(mv[flen:])
                    delta = len(enc) - flen
                    doc_off = [
                        o + delta if o else 0
                        for o in cols["block_doc_off"][i].as_py()
                    ]
                    for n in batch.schema.names:
                        if n == "docs_bin":
                            out[n].append(docs_bin)
                        elif n == "min_doc" or n == "max_doc":
                            out[n].append(cols[n][i].as_py() + off)
                        elif n == "block_last_doc":
                            out[n].append(
                                [v + off for v in cols[n][i].as_py()]
                            )
                        elif n == "block_doc_off":
                            out[n].append(doc_off)
                        elif n == "seg_bytes":
                            out[n].append(
                                len(docs_bin)
                                + len(cols["dl_bin"][i].as_py())
                            )
                        elif n == "seg_crc":
                            out[n].append(zlib.crc32(docs_bin))
                        else:
                            out[n].append(cols[n][i].as_py())
                yield pa.RecordBatch.from_pydict(out, schema=batch.schema)

        return shift

    for i, src in enumerate(sources):
        posts = spark.read.parquet(f"{src}/postings")
        if i > 0:
            posts = posts.mapInArrow(make_shift(offsets[i]), posts.schema)
        (
            posts.write.partitionBy("kind", "bucket")
            .mode("overwrite" if i == 0 else "append")
            .options(**spark_write_options("postings"))
            .parquet(f"{out_path}/postings")
        )

    # -- docs: source-0 shards copied byte-for-byte, the rest id-shifted --
    docs_out = os.path.join(base_o, "docs")
    os.makedirs(docs_out, exist_ok=True)
    tasks = [
        (os.path.join(b, "docs"), fn, offsets[i], f"s{i}-{fn}")
        for i, b in enumerate(bases)
        for fn in sorted(os.listdir(os.path.join(b, "docs")))
        if fn.endswith(".parquet")
    ]

    docs_write = parquet_write_options("docs")

    def move_docs(pdfs):
        import pandas as pd
        import pyarrow.parquet as pqw

        for pdf in pdfs:
            for src_dir, fn, o, out_fn in zip(
                pdf["src_dir"], pdf["fn"], pdf["off"], pdf["out_fn"]
            ):
                src = os.path.join(src_dir, fn)
                dst = os.path.join(docs_out, out_fn)
                if int(o) == 0:
                    shutil.copyfile(src, dst)
                else:
                    t = pqw.read_table(src)
                    idx = t.schema.get_field_index("doc_id")
                    ids = t.column("doc_id").to_numpy().astype(np.int64)
                    t = t.set_column(
                        idx,
                        t.schema.field(idx),
                        pa.array(ids + int(o), pa.int64()),
                    )
                    pqw.write_table(t, dst, **docs_write)
            yield pd.DataFrame({"n": [len(pdf)]})

    (
        spark.createDataFrame(
            tasks, "src_dir string, fn string, off long, out_fn string"
        )
        .repartition(min(len(tasks), 64))
        .mapInPandas(move_docs, "n long")
        .agg(F.sum("n"))
        .collect()
    )
    with open(os.path.join(docs_out, "_SUCCESS"), "w"):
        pass

    # -- tombstones carry over (shifted) ----------------------------------
    tomb_rows = []
    for b, o in zip(bases, offsets):
        tdir = os.path.join(b, "tombstones")
        if os.path.isdir(tdir):
            import pyarrow.dataset as pds

            t = pds.dataset(tdir, format="parquet").to_table()
            if t.num_rows:
                idx = t.schema.get_field_index("doc_id")
                ids = t.column("doc_id").to_numpy().astype(np.int64) + o
                tomb_rows.append(
                    t.set_column(
                        idx, t.schema.field(idx), pa.array(ids, pa.int64())
                    )
                )
    if tomb_rows:
        tdir = os.path.join(base_o, "tombstones")
        os.makedirs(tdir, exist_ok=True)
        pq.write_table(
            pa.concat_tables(tomb_rows),
            os.path.join(tdir, "merged-0.parquet"),
        )

    # -- stats ------------------------------------------------------------
    n_docs = sum(int(st["n_docs"]) for st in stats)
    total_dl = sum(int(st["total_dl"]) for st in stats)
    new_stats = dict(stats[0])
    new_stats.update(
        n_docs=n_docs,
        total_dl=total_dl,
        avgdl=(total_dl / n_docs) if n_docs else 0.0,
        build_id="merge(" + "+".join(str(st["build_id"]) for st in stats) + ")",
    )
    stats_dir = os.path.join(base_o, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist([new_stats]),
        os.path.join(stats_dir, "part-0.parquet"),
    )

    # -- lineage: fresh per-bucket totals over the merged postings --------
    now = time.time()
    rows = [
        {
            "build_id": new_stats["build_id"],
            "phase": "merge",
            "partition_id": -1,
            "status": "done",
            "n_terms": 0,
            "n_postings": 0,
            "bytes": 0,
            "checksum": ",".join(str(o) for o in offsets),
            "completed_at": now,
        }
    ]

    def _has_vacuum(b: str) -> bool:
        mdir = os.path.join(b, "manifest")
        if not os.path.isdir(mdir):
            return False
        import pyarrow.dataset as pds

        m = pds.dataset(mdir, format="parquet").to_table(
            columns=["phase", "status"]
        )
        return any(
            p == "vacuum" and st == "done"
            for p, st in zip(
                m.column("phase").to_pylist(), m.column("status").to_pylist()
            )
        )

    if any(_has_vacuum(b) for b in bases):
        # doc ids in the merged space keep their input gaps: carry the
        # density relaxation forward for verify
        rows.append(
            {
                "build_id": new_stats["build_id"],
                "phase": "vacuum",
                "partition_id": -1,
                "status": "done",
                "n_terms": 0,
                "n_postings": 0,
                "bytes": 0,
                "checksum": "carried",
                "completed_at": now,
            }
        )
    for r in (
        spark.read.parquet(f"{out_path}/postings")
        .groupBy("kind", "bucket")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("df_seg").alias("n_postings"),
            F.sum("seg_bytes").alias("bytes"),
            F.sum("seg_crc").alias("checksum"),
        )
        .collect()
    ):
        rows.append(
            {
                "build_id": new_stats["build_id"],
                "phase": f"postings_{r['kind']}",
                "partition_id": int(r["bucket"]),
                "status": "done",
                "n_terms": int(r["n_terms"]),
                "n_postings": int(r["n_postings"]),
                "bytes": int(r["bytes"]),
                "checksum": str(int(r["checksum"])),
                "completed_at": now,
            }
        )
    mdir = os.path.join(base_o, "manifest")
    os.makedirs(mdir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows), os.path.join(mdir, "merge-0.parquet")
    )
    _clear_repairs(base_o)
    return {
        "n_docs": n_docs,
        "offset": offsets[1],
        "offsets": offsets,
        "avgdl": new_stats["avgdl"],
        "out": out_path,
    }


def compact_index(
    spark: SparkSession, index_path: str, max_seg: "int | None" = None
) -> dict:
    """Defragment postings (Lucene forceMerge analog): repeated shard
    merges / streamed deltas accumulate many small segments per term; this
    splices each term's doc-range-disjoint segments back together by byte
    concatenation (codec.splice_chunks — only each non-first chunk's
    leading varint is rewritten, no decode, no sort, no re-tokenize),
    greedily packing up to ``max_seg`` postings per output segment
    (default: the build-time ``max_postings_per_segment`` recorded in
    stats/, so the range path's per-segment working-set bound survives
    compaction; older indexes without the field fall back to the
    BuildConfig default).

    Doc ids, df totals, scores, and ranks are unchanged — only the segment
    layout changes.  One task per (kind, bucket) partition, embarrassingly
    parallel, postings move once; lineage is re-aggregated so
    ``stats --verify`` holds.  Works on ANY index (batch-built, merged,
    streamed) because it never needs the token arrays in docs/.
    """
    import pyarrow.parquet as pq

    from probe_spark.index.build import _SEG_FILE_SCHEMA

    base = _posix(index_path)
    post_dir = os.path.join(base, "postings")
    # crash recovery: a previous compact that died mid-swap left postings/
    # missing — adopt the newest COMPLETE rewrite, else restore the
    # original; stale temp dirs from any earlier attempt are cleared
    if not os.path.isdir(post_dir):
        tmps = sorted(
            d
            for d in os.listdir(base)
            if d.startswith(".ctmp-postings-")
            and os.path.exists(os.path.join(base, d, "_SUCCESS"))
        )
        colds = sorted(
            d for d in os.listdir(base) if d.startswith(".cold-postings-")
        )
        if tmps:
            os.rename(os.path.join(base, tmps[-1]), post_dir)
        elif colds:
            os.rename(os.path.join(base, colds[-1]), post_dir)
        else:
            raise FileNotFoundError(f"{post_dir} missing and unrecoverable")
    for d in list(os.listdir(base)):
        if d.startswith(".ctmp-postings-") or d.startswith(".cold-postings-"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    stats = pq.read_table(os.path.join(base, "stats")).to_pylist()[0]
    if max_seg is None:
        if "max_seg" in stats:
            max_seg = int(stats["max_seg"])
        else:
            from probe_spark.index.build import BuildConfig

            max_seg = BuildConfig().max_postings_per_segment
    parts = sorted(
        (kd.split("=", 1)[1], bd.split("=", 1)[1])
        for kd in os.listdir(post_dir)
        if kd.startswith("kind=")
        for bd in os.listdir(os.path.join(post_dir, kd))
        if bd.startswith("bucket=")
    )
    if not parts:
        return {"n_segments": 0}
    stamp = str(int(time.time() * 1000))
    tmp_post = os.path.join(base, f".ctmp-postings-{stamp}")
    ensure_package_on_executors(spark)
    postings_write = parquet_write_options("postings")

    def one_bucket(pdfs):
        import pandas as pd
        import pyarrow.dataset as pds
        import pyarrow.parquet as pqw

        from probe_spark.index.codec import EncodedChunk, splice_chunks

        # Per-task memory is bounded by ONE columnar copy of the bucket
        # (Arrow table, zero-copy slices) + one term's decoded chunks +
        # a small output buffer — never a to_pylist() python-object copy
        # of the whole partition, and output rows are flushed through a
        # ParquetWriter as they are produced (a hot bucket at 10^12-turn
        # scale would otherwise need ~2-3x its postings in one heap).
        FLUSH_ROWS, FLUSH_BYTES = 512, 64 << 20
        for pdf in pdfs:
            outs = []
            for kind, bucket in zip(pdf["kind"], pdf["bucket"]):
                src = os.path.join(
                    post_dir, f"kind={kind}", f"bucket={bucket}"
                )
                t = (
                    pds.dataset(src, format="parquet")
                    .to_table()
                    .sort_by(
                        [("term", "ascending"), ("min_doc", "ascending")]
                    )
                )
                out_dir = os.path.join(
                    tmp_post, f"kind={kind}", f"bucket={bucket}"
                )
                os.makedirs(out_dir, exist_ok=True)
                writer = pqw.ParquetWriter(
                    os.path.join(out_dir, "compact-00000.parquet"),
                    _SEG_FILE_SCHEMA,
                    **postings_write,
                )
                terms = t.column("term")
                n_out = 0
                buf: list[dict] = []
                buf_bytes = 0
                i, n = 0, t.num_rows
                try:
                    while i < n:
                        term = terms[i].as_py()
                        j = i + 1
                        while j < n and terms[j].as_py() == term:
                            j += 1
                        chunks = [
                            EncodedChunk(
                                r["df_seg"], r["min_doc"], r["max_doc"],
                                r["docs_bin"], r["dl_bin"],
                                r["block_last_doc"], r["block_min_dl"],
                                r["block_doc_off"], r["block_dl_off"],
                            )
                            for r in t.slice(i, j - i).to_pylist()
                        ]
                        i = j
                        # greedy packing: splice runs whose total stays
                        # under max_seg (a chunk already over the cap
                        # stays alone)
                        groups: list[list[EncodedChunk]] = []
                        cur: list[EncodedChunk] = []
                        cur_df = 0
                        for c in chunks:
                            if cur and cur_df + c.df > max_seg:
                                groups.append(cur)
                                cur, cur_df = [], 0
                            cur.append(c)
                            cur_df += c.df
                        groups.append(cur)
                        for seq, g in enumerate(groups):
                            m = splice_chunks(g)
                            buf.append(
                                {
                                    "term": term,
                                    "salt": 0,
                                    "seg_seq": seq,
                                    "n_salts": len(groups),
                                    "df_seg": m.df,
                                    "min_doc": m.min_doc,
                                    "max_doc": m.max_doc,
                                    "docs_bin": bytes(m.docs),
                                    "dl_bin": bytes(m.dls),
                                    "block_last_doc": m.block_last.tolist(),
                                    "block_min_dl": m.block_min_dl.tolist(),
                                    "block_doc_off": m.block_doc_off.tolist(),
                                    "block_dl_off": m.block_dl_off.tolist(),
                                    "seg_bytes": len(m.docs) + len(m.dls),
                                    "seg_crc": zlib.crc32(bytes(m.docs)),
                                }
                            )
                            buf_bytes += buf[-1]["seg_bytes"]
                        if len(buf) >= FLUSH_ROWS or buf_bytes >= FLUSH_BYTES:
                            writer.write_table(
                                pa.Table.from_pylist(
                                    buf, schema=_SEG_FILE_SCHEMA
                                )
                            )
                            n_out += len(buf)
                            buf, buf_bytes = [], 0
                    if buf:
                        writer.write_table(
                            pa.Table.from_pylist(buf, schema=_SEG_FILE_SCHEMA)
                        )
                        n_out += len(buf)
                finally:
                    writer.close()
                outs.append(n_out)
            yield pd.DataFrame({"n_segments": outs})

    n_after = int(
        spark.createDataFrame(parts, "kind string, bucket string")
        .repartition(min(len(parts), 64))
        .mapInPandas(one_bucket, "n_segments long")
        .agg(F.sum("n_segments"))
        .collect()[0][0]
    )
    with open(os.path.join(tmp_post, "_SUCCESS"), "w"):
        pass
    old = os.path.join(base, f".cold-postings-{stamp}")
    os.rename(post_dir, old)
    os.rename(tmp_post, post_dir)
    shutil.rmtree(old, ignore_errors=True)

    # fresh lineage totals for the compacted layout
    build_id = f"compact({stats['build_id']})"
    now = time.time()
    rows = [
        {
            "build_id": build_id,
            "phase": "compact",
            "partition_id": -1,
            "status": "done",
            "n_terms": 0,
            "n_postings": 0,
            "bytes": 0,
            "checksum": str(n_after),
            "completed_at": now,
        }
    ]
    for r in (
        spark.read.parquet(f"{index_path}/postings")
        .groupBy("kind", "bucket")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("df_seg").alias("n_postings"),
            F.sum("seg_bytes").alias("bytes"),
            F.sum("seg_crc").alias("checksum"),
        )
        .collect()
    ):
        rows.append(
            {
                "build_id": build_id,
                "phase": f"postings_{r['kind']}",
                "partition_id": int(r["bucket"]),
                "status": "done",
                "n_terms": int(r["n_terms"]),
                "n_postings": int(r["n_postings"]),
                "bytes": int(r["bytes"]),
                "checksum": str(int(r["checksum"])),
                "completed_at": now,
            }
        )
    mdir = os.path.join(base, "manifest")
    os.makedirs(mdir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows),
        os.path.join(mdir, f"compact-{stamp}.parquet"),
    )
    _clear_repairs(base)
    return {"n_segments": n_after}
