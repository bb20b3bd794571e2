"""FS-agnostic sidecar I/O: every persisted store's meta/manifest
sidecar must route through the Hadoop FileSystem API (not POSIX
``open``), so a ``store_dir`` on ``s3a://``/``hdfs://`` works the same
as a local path.  The routing proof here is a ``file:`` SCHEME URI --
``open("file:/tmp/x")`` raises (POSIX sees a relative path named
"file:"), so a store that round-trips through a ``file:/...`` URI can
only have gone through the Hadoop API."""
from __future__ import annotations

import json
import os

import pytest

from automated_review_analysis_pipeline_spark import fsio


def test_fsio_roundtrip_scheme_uri(spark, tmp_path):
    uri = "file:" + str(tmp_path / "store") + "/meta.json"
    # the same string through POSIX open() fails -> any green
    # round-trip below proves Hadoop-API routing
    with pytest.raises(OSError):
        open(uri, "w")
    fsio.write_json(spark, uri, {"threshold": 0.5, "k": 3})
    assert fsio.exists(spark, uri)
    assert fsio.read_json(spark, uri) == {"threshold": 0.5, "k": 3}
    # bytes written are plain JSON on disk (interop with any reader)
    with open(tmp_path / "store" / "meta.json", encoding="utf-8") as f:
        assert json.load(f) == {"threshold": 0.5, "k": 3}


def test_fsio_overwrite_and_atomic_tmp(spark, tmp_path):
    p = "file:" + str(tmp_path / "meta.json")
    fsio.write_text(spark, p, "one")
    fsio.write_text(spark, p, "two")
    assert fsio.read_text(spark, p) == "two"
    # no temp droppings left behind (Hadoop's local ChecksumFileSystem
    # adds .crc siblings; those are not droppings)
    assert [n for n in os.listdir(tmp_path)
            if not n.startswith(".")] == ["meta.json"]
    assert not any("__tmp__" in n for n in os.listdir(tmp_path))


def test_fsio_overwrite_rename_is_atomic_on_local(spark, tmp_path):
    """On ``file:`` the overwrite-rename must take the java.nio
    ATOMIC_MOVE lane (POSIX rename(2): the destination always holds
    old or new bytes, never neither) -- both on first write and on
    re-write over an existing sidecar."""
    p = "file:" + str(tmp_path / "meta.json")
    assert fsio.write_text(spark, p, "one") == "nio-atomic"
    assert fsio.write_text(spark, p, "two") == "nio-atomic"
    assert fsio.read_text(spark, p) == "two"


def test_fsio_does_not_poison_cached_filesystem(spark, tmp_path):
    """fsio disables client-side CRC on its own PRIVATE FileSystem
    instances only. The Hadoop-CACHED local FileSystem -- the one
    Spark's own I/O shares -- must still generate .crc sidecars after
    fsio has run (the round-12 code mutated the cached instance and
    switched checksums off JVM-wide)."""
    fsio.write_text(spark, "file:" + str(tmp_path / "side.json"), "{}")
    # fsio's own sidecar carries no CRC shadow...
    assert not (tmp_path / ".side.json.crc").exists()
    # ...but a write through the CACHED FileSystem still does
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jp = jvm.org.apache.hadoop.fs.Path(
        "file:" + str(tmp_path / "cached.txt"))
    cached_fs = jp.getFileSystem(conf)
    out = cached_fs.create(jp, True)
    out.write(bytearray(b"hello"))
    out.close()
    assert (tmp_path / ".cached.txt.crc").exists()


def test_fsio_missing_read_raises(spark, tmp_path):
    assert not fsio.exists(spark, "file:" + str(tmp_path / "nope.json"))
    with pytest.raises(Exception):
        fsio.read_text(spark, "file:" + str(tmp_path / "nope.json"))


def test_simjoin_store_on_scheme_uri(spark, tmp_path):
    """The persisted exact-simjoin index builds AND appends against a
    ``file:`` scheme store_dir -- data parts and sidecar both."""
    from automated_review_analysis_pipeline_spark.operators.dedup import (
        build_simjoin_index,
        simjoin_append,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "entirely different words live here today now")],
        "doc_id long, text string")
    store = "file:" + str(tmp_path / "simjoin")
    pairs = build_simjoin_index(docs, store, threshold=0.5)
    base = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    assert (1, 2) in base
    delta = spark.createDataFrame(
        [(4, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string")
    after = {(r["a_id"], r["b_id"])
             for r in simjoin_append(spark, store, delta).collect()}
    assert base <= after and any(4 in p for p in after)


def test_sorted_export_on_scheme_uri(spark, tmp_path):
    """sorted_export + read_sorted_range against a ``file:`` scheme
    out_dir (meta.json, manifest.json, and the pruned read)."""
    from automated_review_analysis_pipeline_spark.operators.partitioning import (
        read_sorted_range,
        sorted_export,
    )

    d = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 41)], "doc_id long, key long")
    out = "file:" + str(tmp_path / "exp")
    sorted_export(d, out, ["key", "doc_id"], rows_per_file=10,
                  n_buckets=4)
    got = sorted({r["key"] for r in
                  read_sorted_range(spark, out, 110, 190).collect()})
    assert got == [k * 10 for k in range(11, 20)]


def test_sorted_export_legacy_layout_fallback(spark, tmp_path):
    """A layout whose meta.json is missing (pre-round-11 format wrote
    manifest.json only) still reads via the documented fallback; one
    with NEITHER sidecar raises a clear error."""
    from automated_review_analysis_pipeline_spark.operators.partitioning import (
        read_sorted_range,
        sorted_export,
    )

    d = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 41)], "doc_id long, key long")
    out = str(tmp_path / "exp")
    sorted_export(d, out, ["key", "doc_id"], rows_per_file=10,
                  n_buckets=4)
    os.remove(os.path.join(out, "meta.json"))  # simulate old format
    got = sorted({r["key"] for r in
                  read_sorted_range(spark, out, 110, 190).collect()})
    assert got == [k * 10 for k in range(11, 20)]
    os.remove(os.path.join(out, "manifest.json"))
    with pytest.raises(FileNotFoundError, match="neither meta.json"):
        read_sorted_range(spark, out, 110, 190)


def test_fsio_caches_private_fs_per_uri(spark, tmp_path):
    """Round-14 (ADVICE): the private FileSystem instance is opened
    ONCE per resolved filesystem URI and reused -- on HDFS/object
    stores a fresh newInstance per sidecar touch is a client +
    connection handshake each time, and hot paths (micro-batch guard
    read + data append + meta flip) issue several per batch."""
    fsio.write_text(spark, "file:" + str(tmp_path / "a.json"), "{}")
    fs1, _, _ = fsio._new_fs(spark, "file:" + str(tmp_path / "a.json"))
    fs2, _, _ = fsio._new_fs(spark, "file:" + str(tmp_path / "b.json"))
    assert fs1._target_id == fs2._target_id  # same JVM object
    # and it is NOT Hadoop's cached instance (CRC discipline differs)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jp = jvm.org.apache.hadoop.fs.Path("file:" + str(tmp_path))
    cached = jp.getFileSystem(conf)
    assert fs1._target_id != cached._target_id


def test_fsio_list_files_relative_recursive(spark, tmp_path):
    (tmp_path / "store" / "part").mkdir(parents=True)
    (tmp_path / "store" / "x.parquet").write_text("a")
    (tmp_path / "store" / "part" / "y.parquet").write_text("b")
    (tmp_path / "store" / "part" / "_SUCCESS").write_text("")
    got = fsio.list_files(spark, str(tmp_path / "store"))
    assert got == ["part/_SUCCESS", "part/y.parquet", "x.parquet"]
    assert fsio.list_files(spark, str(tmp_path / "nope")) == []


@pytest.mark.parametrize("reset", ["write_empty_parquet_fast",
                                   "reset_bucketed_dir_fast"])
def test_driver_side_reset_refreshes_cached_reads(spark, tmp_path, reset):
    """A store part reset on the driver leaves no stale cached read: a
    .cache()d read of the path taken before the reset returns the reset
    (empty) state afterwards, as it would after a Spark overwrite."""
    path = str(tmp_path / "part")
    spark.range(5).write.parquet(path)
    cached = spark.read.parquet(path).cache()
    assert cached.count() == 5
    try:
        if reset == "write_empty_parquet_fast":
            assert fsio.write_empty_parquet_fast(spark, path, cached.schema)
        else:
            assert fsio.reset_bucketed_dir_fast(spark, path,
                                                "fsio_reset_probe")
        assert cached.count() == 0
    finally:
        cached.unpersist()
