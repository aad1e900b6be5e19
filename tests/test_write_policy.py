"""The parquet write policy (``build.parquet_write_options`` and
``build.spark_write_options``) on every path that writes postings/ or
docs/: the fused build, the two-pass build, a ``StreamingIndexer``
micro-batch, ``vacuum``, ``merge_many`` and ``compact_index``.

Every column chunk is zstd; in postings only ``term`` carries statistics
(its min/max) and a dictionary, every docs/ column keeps its statistics
(``doc_id`` its min/max).  The tables themselves are the ones the writer defaults
produced before the policy: their content digests were recorded from
that code for the same inputs.  Also the ``stats`` command's ``bytes``
block, whose parts sum to the directory totals."""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from probe_spark.index.build import (
    POSTINGS_FILTER_COLUMN,
    BuildConfig,
    IndexBuilder,
)

PATHS = ["fused", "twopass", "stream", "vacuum", "merged", "compact"]

# sha256 prefix of each table (rows sorted, see _digest) as written by
# the writer defaults (snappy, statistics and dictionaries everywhere)
DEFAULTS_DIGESTS = {
    "fused/postings": "38d4e2e6f0eb4a28",
    "fused/docs": "ffdd30b3f5502e0a",
    "twopass/postings": "2801a5b27ba03527",
    "twopass/docs": "e32be480f83ef604",
    "stream/postings": "8249f51fe9af4681",
    "stream/docs": "2cb0634284878305",
    "vacuum/postings": "2663184756a4a84f",
    "vacuum/docs": "32b108b0613c9732",
    "merged/postings": "2f7a6b26a0830c6a",
    "merged/docs": "933743e74c909486",
    "compact/postings": "87802e2e4ec1758a",
    "compact/docs": "933743e74c909486",
}


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    from probe_spark.fixtures import transcripts_df, transcripts_rows
    from probe_spark.index import maintenance
    from probe_spark.streaming.ingest import stream_index

    root = str(tmp_path_factory.mktemp("write_policy"))
    out = {n: os.path.join(root, n) for n in PATHS}
    IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
        transcripts_df(spark, n_convs=40, seed=7), out["fused"]
    )
    IndexBuilder(spark, BuildConfig(n_buckets=4, fused=False)).build(
        transcripts_df(spark, n_convs=40, seed=7), out["twopass"]
    )
    other = os.path.join(root, "fused_b")
    IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
        transcripts_df(spark, n_convs=25, seed=3), other
    )
    shutil.copytree(out["fused"], out["vacuum"])
    maintenance.delete_where(spark, out["vacuum"], "turn_idx = 1")
    maintenance.vacuum(spark, out["vacuum"])
    maintenance.merge_many(spark, [out["fused"], other], out["merged"])
    shutil.copytree(out["merged"], out["compact"])
    maintenance.compact_index(spark, out["compact"])

    src = os.path.join(root, "stream_src")
    os.makedirs(src)
    rows = transcripts_rows(40, 11)
    schema = pa.schema(
        [
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()), ("ts", pa.timestamp("us")),
        ]
    )

    def wave(part, name):
        pq.write_table(
            pa.Table.from_pydict(
                {k: [r[k] for r in part] for k in schema.names}, schema=schema
            ),
            os.path.join(src, name),
        )

    wave(rows[: len(rows) // 2], "w0.parquet")
    q = stream_index(
        spark, src, out["stream"], os.path.join(root, "ckpt"),
        BuildConfig(n_buckets=4),
    )
    try:
        q.processAllAvailable()
        wave(rows[len(rows) // 2:], "w1.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    return out


def _chunks(directory: str):
    """(file, row group, column chunk metadata) for every column chunk."""
    for d, _dirs, files in os.walk(directory):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(d, fn))
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    yield fn, g, rg.column(c)


def _column(cc) -> str:
    return cc.path_in_schema.split(".")[0]


def _digest(directory: str, kind: str) -> str:
    keys = (
        ["kind", "bucket", "term", "salt", "seg_seq", "min_doc"]
        if kind == "postings"
        else ["doc_id"]
    )
    t = ds.dataset(
        directory,
        format="parquet",
        partitioning="hive" if kind == "postings" else None,
    ).to_table()
    t = t.sort_by([(k, "ascending") for k in keys])
    return hashlib.sha256(
        repr((t.schema.names, t.to_pylist())).encode()
    ).hexdigest()[:16]


@pytest.mark.parametrize("name", PATHS)
def test_every_column_chunk_is_zstd(outputs, name):
    for kind in ("postings", "docs"):
        seen = {
            cc.compression
            for _f, _g, cc in _chunks(os.path.join(outputs[name], kind))
        }
        assert seen == {"ZSTD"}, (kind, seen)


@pytest.mark.parametrize("name", PATHS)
def test_statistics_only_where_a_reader_uses_them(outputs, name):
    n_term = 0
    for f, g, cc in _chunks(os.path.join(outputs[name], "postings")):
        if _column(cc) == POSTINGS_FILTER_COLUMN:
            assert cc.statistics.has_min_max, (f, g)
            n_term += 1
        else:
            assert not cc.is_stats_set, (f, g, _column(cc))
    assert n_term
    n_doc_id = 0
    for f, g, cc in _chunks(os.path.join(outputs[name], "docs")):
        # parquet-mr writes no statistics for INT96 (Spark's timestamps)
        assert cc.is_stats_set or cc.physical_type == "INT96", (f, g, cc)
        if _column(cc) == "doc_id":
            assert cc.statistics.has_min_max, (f, g)
            n_doc_id += 1
    assert n_doc_id


@pytest.mark.parametrize("name", PATHS)
def test_postings_dictionary_only_on_the_filter_column(outputs, name):
    dict_cols = {
        _column(cc)
        for _f, _g, cc in _chunks(os.path.join(outputs[name], "postings"))
        if cc.has_dictionary_page
    }
    # ``term`` keeps the writer's choice: parquet-mr drops a dictionary
    # that does not pay, as on a file of unique terms
    assert dict_cols <= {POSTINGS_FILTER_COLUMN}, dict_cols


@pytest.mark.parametrize("name", PATHS)
def test_tables_equal_the_writer_defaults_tables(outputs, name):
    for kind in ("postings", "docs"):
        key = f"{name}/{kind}"
        assert _digest(os.path.join(outputs[name], kind), kind) == (
            DEFAULTS_DIGESTS[key]
        ), key


def test_fused_postings_keep_256_row_groups(outputs):
    sizes = {
        pq.read_metadata(os.path.join(d, fn)).row_group(g).num_rows
        for d, _dirs, files in os.walk(os.path.join(outputs["fused"], "postings"))
        for fn in files
        if fn.endswith(".parquet")
        for g in range(pq.read_metadata(os.path.join(d, fn)).num_row_groups)
    }
    assert sizes and max(sizes) <= 256


@pytest.mark.parametrize("name", ["fused", "twopass"])
def test_bytes_block_parts_sum_to_directory_totals(outputs, name, capsys):
    from probe_spark import cli
    from probe_spark.index.verify import index_bytes

    path = outputs[name]
    rep = index_bytes(path)
    on_disk = {
        top: sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(os.path.join(path, top))
            for f in files
        )
        for top in os.listdir(path)
    }
    assert rep["dirs"] == on_disk
    assert rep["total"] == sum(on_disk.values())
    for kind in ("postings", "docs"):
        part = rep[kind]
        assert sum(part["columns"].values()) + part["footer"] + part[
            "magic"
        ] + part["column_metadata"] + part["other_files"] == rep["dirs"][kind]
        assert all(v > 0 for v in part["columns"].values())
        assert part["column_metadata"] >= 0
    assert set(rep["postings"]["columns"]) == set(
        pq.read_schema(
            next(
                os.path.join(d, f)
                for d, _dirs, files in os.walk(os.path.join(path, "postings"))
                for f in files
                if f.endswith(".parquet")
            )
        ).names
    )
    assert cli.main(["stats", "--index", path]) == 0
    assert json.loads(capsys.readouterr().out.strip())["bytes"] == rep
