"""Index integrity verification (`index/verify.py`, CLI `stats --verify`):
a clean build verifies green; a flipped blob byte, a doctored manifest
total, a deleted docs row and a dl byte flip that keeps every length are
each detected."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from probe_spark.fixtures import transcripts_df
from probe_spark.index.build import BuildConfig, IndexBuilder
from probe_spark.index.verify import verify_index


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("verify") / "idx")
    IndexBuilder(spark, BuildConfig(n_buckets=4)).build(
        transcripts_df(spark, n_convs=25, seed=5), path
    )
    return path


class TestVerifyIndex:
    def test_clean_index_verifies(self, spark, idx):
        rep = verify_index(spark, idx)
        assert rep["ok"], rep
        assert rep["segments_checked"] > 0
        assert all(v == 0 for v in rep["segment_failures"].values())
        assert rep["manifest_mismatches"] == []
        assert rep["docs_ok"]

    def test_corrupt_blob_detected(self, spark, idx, tmp_path):
        # copy the index, flip one byte inside one segment's docs_bin
        import shutil

        bad = str(tmp_path / "bad_idx")
        shutil.copytree(idx, bad)
        f = sorted(
            glob.glob(os.path.join(bad, "postings", "**", "*.parquet"),
                      recursive=True)
        )[0]
        t = pq.read_table(f)
        blobs = t.column("docs_bin").to_pylist()
        b = bytearray(blobs[0])
        b[0] ^= 0xFF
        blobs[0] = bytes(b)
        t = t.set_column(
            t.schema.get_field_index("docs_bin"),
            pa.field("docs_bin", pa.binary(), False),
            pa.array(blobs, pa.binary()),
        )
        pq.write_table(t, f)
        rep = verify_index(spark, bad)
        assert not rep["ok"]
        assert rep["segment_failures"]["bad_crc"] >= 1

    def test_tampered_crc_column_detected_via_lineage(
        self, spark, idx, tmp_path
    ):
        # a consistently re-stamped seg_crc (blob AND column rewritten)
        # passes the per-row CRC but shifts the bucket checksum sum ->
        # only the manifest lineage comparison catches it
        import shutil
        import zlib

        bad = str(tmp_path / "restamped_idx")
        shutil.copytree(idx, bad)
        f = sorted(
            glob.glob(os.path.join(bad, "postings", "**", "*.parquet"),
                      recursive=True)
        )[0]
        t = pq.read_table(f)
        blobs = t.column("docs_bin").to_pylist()
        crcs = t.column("seg_crc").to_pylist()
        b = bytearray(blobs[0])
        b[0] ^= 0xFF
        blobs[0] = bytes(b)
        crcs[0] = zlib.crc32(blobs[0])
        t = t.set_column(
            t.schema.get_field_index("docs_bin"),
            pa.field("docs_bin", pa.binary(), False),
            pa.array(blobs, pa.binary()),
        )
        t = t.set_column(
            t.schema.get_field_index("seg_crc"),
            pa.field("seg_crc", pa.int64(), False),
            pa.array(crcs, pa.int64()),
        )
        pq.write_table(t, f)
        rep = verify_index(spark, bad)
        assert not rep["ok"]
        assert rep["segment_failures"]["bad_crc"] == 0
        assert any(
            "checksum" in m["reason"] for m in rep["manifest_mismatches"]
        )

    def test_missing_segment_file_detected(self, spark, idx, tmp_path):
        import shutil

        bad = str(tmp_path / "lost_idx")
        shutil.copytree(idx, bad)
        f = sorted(
            glob.glob(os.path.join(bad, "postings", "**", "*.parquet"),
                      recursive=True)
        )[0]
        os.remove(f)
        rep = verify_index(spark, bad)
        assert not rep["ok"]
        assert rep["manifest_mismatches"]

    def test_docs_density_violation_detected(self, spark, idx, tmp_path):
        import shutil

        bad = str(tmp_path / "docs_idx")
        shutil.copytree(idx, bad)
        f = sorted(
            glob.glob(os.path.join(bad, "docs", "**", "*.parquet"),
                      recursive=True)
        )[0]
        t = pq.read_table(f)
        pq.write_table(t.slice(1), f)  # drop one doc row
        rep = verify_index(spark, bad)
        assert not rep["ok"]
        assert not rep["docs_ok"]

    def test_dl_bit_flip_detected(self, spark, idx, tmp_path):
        # seg_crc covers docs_bin only and flipping bit 0 keeps every
        # varint's length, so seg_bytes, the CRC and the lineage totals all
        # still agree: only comparing decoded dls with docs/ sees the flip
        import shutil

        bad = str(tmp_path / "dl_idx")
        shutil.copytree(idx, bad)
        f = sorted(
            glob.glob(os.path.join(bad, "postings", "kind=tok", "**",
                                   "*.parquet"), recursive=True)
        )[0]
        t = pq.read_table(f)
        dls = t.column("dl_bin").to_pylist()
        b = bytearray(dls[0])
        b[0] ^= 0x01
        dls[0] = bytes(b)
        t = t.set_column(
            t.schema.get_field_index("dl_bin"),
            pa.field("dl_bin", pa.binary(), False),
            pa.array(dls, pa.binary()),
        )
        pq.write_table(t, f)
        rep = verify_index(spark, bad)
        assert not rep["ok"]
        assert rep["segment_failures"]["bad_dl"] == 1
        assert {
            k: v for k, v in rep["segment_failures"].items() if k != "bad_dl"
        } == {
            "bad_crc": 0, "bad_bytes": 0, "bad_last_block": 0,
            "bad_offsets": 0, "bad_range": 0,
        }
        assert rep["manifest_mismatches"] == []
        assert rep["docs_ok"]
