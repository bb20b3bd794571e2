"""FS-agnostic sidecar I/O for persisted stores.

Every persisted store in this engine (simjoin index, IVF-PQ index,
sorted_export layout, training-shard delivery) writes its DATA parts
through ``spark.read``/``spark.write`` -- which route through the
Hadoop ``FileSystem`` abstraction and therefore work unchanged on
``file:``, ``hdfs://``, ``s3a://``, ``gs://``, ``abfs://``, ...  The
small JSON *sidecars* (``meta.json`` / ``manifest.json``) used to go
through POSIX ``open()``, which hard-crashes the moment ``store_dir``
is anything but a bare local path -- the only place a 100-TB index can
actually live.  This module gives the sidecars the same portability as
the data: all bytes go through the JVM Hadoop ``FileSystem`` API
resolved from the session's ``hadoopConfiguration``, so whatever
filesystems the cluster's Spark build can read parquet from, it can
read and write sidecars on.

Write discipline: sidecars are written to a ``<name>.__tmp__`` sibling
first and then renamed into place WITH OVERWRITE SEMANTICS, and every
store writes its sidecar *last*, after all data parts have committed.
A build that crashes midway therefore leaves NO sidecar (first write)
or the PREVIOUS sidecar (re-write), and every reader's first touch is
the sidecar -- so a half-written store fails fast with a clear
"missing meta.json" error instead of serving partial data, and an
interrupted append leaves the prior version intact and current.

The overwrite rename is atomic wherever the filesystem can express it:

* ``file:`` -- ``java.nio.Files.move(ATOMIC_MOVE|REPLACE_EXISTING)``,
  POSIX ``rename(2)``: the destination always holds either the old or
  the new bytes, never neither;
* filesystems with an ``AbstractFileSystem`` binding (``hdfs://``,
  ``viewfs://``, ...) -- ``FileContext.rename(Options.Rename.
  OVERWRITE)``, which HDFS implements as one atomic namespace op;
* everything else (object stores without an AbstractFileSystem
  binding) -- delete + rename, which has a window with NO sidecar
  between the delete and the rename completing. That window is a
  filesystem limitation, not a discipline choice; on such stores a
  reader that races an append can observe a missing sidecar and
  should retry. The function reports which lane it took.

Isolation: all I/O here goes through PRIVATE ``FileSystem.newInstance``
handles, never the Hadoop-CACHED instance that Spark itself uses -- so
disabling client-side CRC sidecars for these JSON files (the local
ChecksumFileSystem would otherwise shadow every sidecar with a
``.name.crc`` that turns any external hand-edit into a
ChecksumException) cannot leak checksum behavior into Spark's own
reads and writes through the shared cached filesystem.  The private
instances are AMORTIZED: one per resolved filesystem URI for the
process lifetime (round-13 opened and closed a fresh instance -- a new
client + connection handshake on HDFS/object stores -- per sidecar
touch; hot paths like a streaming micro-batch's guard-read + data
appends + meta flip issue several per batch).  FileSystem handles
outlive any SparkContext (they hang off the JVM, not the session), so
the cache survives session restarts within the process.
"""
from __future__ import annotations

import threading

from pyspark.sql import SparkSession

_COPY_BUF = 65536

# private (non-Hadoop-cached) FileSystem per resolved URI; guarded by
# a lock because foreachBatch micro-batches run on driver threads
_FS_CACHE: dict[str, object] = {}
_FS_LOCK = threading.Lock()


def _fs_uri(spark: SparkSession, jpath):
    """The filesystem URI *jpath* resolves to (its own scheme, or the
    configured defaultFS for scheme-less paths)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jpath.toUri()
    if uri.getScheme() is not None:
        return uri
    return jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(conf)


def _new_fs(spark: SparkSession, path: str):
    """(fs, jpath, jvm) with fs a PRIVATE (non-Hadoop-cached)
    FileSystem instance for *path*'s scheme, cached per resolved
    filesystem URI for the process lifetime; callers must NOT
    ``close()`` it (closing would poison every later caller).

    Client-side CRC sidecars are disabled ON THIS INSTANCE ONLY (see
    module docstring): sidecars are tiny and validated at the
    application layer (shard fingerprints, schema checks); HDFS keeps
    its server-side block checksums regardless, and Spark's own I/O
    through the Hadoop-cached FileSystem instance is untouched."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    uri = _fs_uri(spark, jpath)
    # key on what FileSystem.newInstance actually binds to -- the
    # scheme + authority -- PLUS the identity of the Hadoop
    # configuration the instance was constructed from: a later
    # SparkSession (new SparkContext -> new Configuration object)
    # with different fs.* settings, credentials, or endpoints for the
    # same scheme must not silently reuse an instance bound to the
    # old configuration (round-15 ADVICE). Hadoop Configuration does
    # not override hashCode, so hashCode() is the JVM identity hash
    # -- stable for the life of the context, distinct across
    # contexts. Same-object in-place conf mutation is invisible to
    # any cache; invalidate_fs_cache() is the explicit hook for that.
    key = (f"{uri.getScheme()}://{uri.getAuthority() or ''}"
           f"#{conf.hashCode()}")
    with _FS_LOCK:
        fs = _FS_CACHE.get(key)
        if fs is None:
            fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
                uri, conf)
            fs.setWriteChecksum(False)
            fs.setVerifyChecksum(False)
            _FS_CACHE[key] = fs
    return fs, jpath, jvm


def invalidate_fs_cache() -> None:
    """Drop every cached private FileSystem handle. Call after
    mutating a live session's hadoopConfiguration in place (new
    credentials, endpoint overrides): the cache keys on the conf
    OBJECT's identity, so in-place mutation would otherwise keep
    serving instances bound to the pre-mutation settings. The dropped
    instances are intentionally not close()d -- in-flight callers on
    other driver threads may still hold them, and an unclosed private
    FileSystem only costs its idle client state."""
    with _FS_LOCK:
        _FS_CACHE.clear()


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _new_fs(spark, path)
    return bool(fs.exists(jpath))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Remove *path* (a file or directory tree) on whatever filesystem
    its scheme resolves to; False if it did not exist."""
    fs, jpath, _ = _new_fs(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Plain rename (no overwrite: *dst* must not exist) -- the
    directory-swap step of store compaction. One namespace op on
    HDFS/local; object stores degrade to copy+delete."""
    fs, jsrc, jvm = _new_fs(spark, src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    if fs.exists(jdst):
        raise IOError(f"rename target already exists: {dst}")
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename {src} -> {dst} failed")


def _local_base(spark: SparkSession, path: str) -> str | None:
    """*path*'s bare local directory when it resolves to ``file:``,
    else None -- the gate for the os.walk fast paths below (the py4j
    RemoteIterator costs a JVM round-trip PER FILE, ~1 ms each; local
    dirents read in microseconds). Remote filesystems keep the Hadoop
    API lanes."""
    fs, jpath, _ = _new_fs(spark, path)
    q = fs.makeQualified(jpath)
    if q.toUri().getScheme() != "file":
        return None
    return q.toUri().getPath()


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under *path* (filesystem metadata only, no data
    scan) -- sizes compaction targets on any Hadoop filesystem."""
    import os

    base = _local_base(spark, path)
    if base is not None:
        if not os.path.exists(base):
            return 0
        total = 0
        for root, _dirs, files in os.walk(base):
            for f in files:
                try:
                    total += os.lstat(os.path.join(root, f)).st_size
                except OSError:  # raced with a concurrent delete
                    pass
        return total
    fs, jpath, _ = _new_fs(spark, path)
    if not fs.exists(jpath):
        return 0
    return int(fs.getContentSummary(jpath).getLength())


def count_files(spark: SparkSession, path: str,
                suffix: str = ".parquet") -> int:
    """Number of *suffix* files under *path*, recursively -- the
    compaction before/after metric."""
    import os

    base = _local_base(spark, path)
    if base is not None:
        if not os.path.exists(base):
            return 0
        return sum(f.endswith(suffix)
                   for _root, _dirs, files in os.walk(base)
                   for f in files)
    fs, jpath, _ = _new_fs(spark, path)
    if not fs.exists(jpath):
        return 0
    n = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(suffix):
            n += 1
    return n


def list_files(spark: SparkSession, path: str) -> list[str]:
    """Every file under *path* (recursive, hidden files included,
    paths RELATIVE to *path*, sorted) -- the snapshot primitive of the
    staged-append commit protocol (:mod:`.store_commit`): a rollback
    deletes exactly the files an interrupted append added, i.e. the
    current listing minus the pre-append snapshot. Metadata-only; the
    listing is bounded by the store's file count, which compaction
    (``index_compact``) keeps at ~n_buckets per part."""
    fs, jpath, _ = _new_fs(spark, path)
    q = fs.makeQualified(jpath)
    if q.toUri().getScheme() == "file":
        # local fast path: the py4j RemoteIterator costs a JVM
        # round-trip PER FILE (~1 ms each -- 0.7 s on a few-hundred-
        # file store, per append); os.walk reads the same dirents in
        # microseconds. Remote filesystems take the Hadoop API below.
        import os

        base = q.toUri().getPath()
        if not os.path.exists(base):
            return []
        out = []
        for root, _dirs, files in os.walk(base):
            rel = os.path.relpath(root, base)
            for f in files:
                out.append(f if rel == "." else f"{rel}/{f}")
        return sorted(out)
    if not fs.exists(jpath):
        return []
    base = str(q.toUri().getPath()).rstrip("/")
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = str(it.next().getPath().toUri().getPath())
        out.append(p[len(base) + 1:] if p.startswith(base + "/") else p)
    return sorted(out)


def list_dirs(spark: SparkSession, path: str) -> list[str]:
    """Immediate child DIRECTORY names under *path* (sorted) -- how
    index_stats discovers a store's parts without hardcoding each
    family's layout."""
    fs, jpath, _ = _new_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(st.getPath().getName()
                  for st in fs.listStatus(jpath) if st.isDirectory())


def _rename_overwrite(spark: SparkSession, fs, jvm, tmp, dst) -> str:
    """Move ``tmp`` onto ``dst``, replacing it; atomic where the
    filesystem can express that (see module docstring). Returns the
    lane taken: 'nio-atomic' | 'filecontext' | 'delete-rename'."""
    conf = spark._jsc.hadoopConfiguration()
    q = fs.makeQualified(dst)
    scheme = q.toUri().getScheme()
    if scheme == "file":
        gw = spark.sparkContext._gateway
        nio = jvm.java.nio.file
        empty = gw.new_array(jvm.java.lang.String, 0)
        src_p = nio.Paths.get(tmp.toUri().getPath(), empty)
        dst_p = nio.Paths.get(q.toUri().getPath(), empty)
        opts = gw.new_array(nio.CopyOption, 2)
        opts[0] = nio.StandardCopyOption.REPLACE_EXISTING
        opts[1] = nio.StandardCopyOption.ATOMIC_MOVE
        nio.Files.move(src_p, dst_p, opts)
        return "nio-atomic"
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            q.toUri(), conf)
    except Exception as e:
        # ONLY a missing AbstractFileSystem binding may degrade to the
        # non-atomic lane (typical for object stores); anything else
        # -- a transient IOException, permission/quota failure -- must
        # propagate, or a real error would silently delete the live
        # sidecar and risk losing the previous version (round-13
        # caught everything here; ADVICE flagged it)
        if not _is_unsupported_fs(e):
            raise
        # no AbstractFileSystem binding for this scheme: delete+rename
        # -- NOT atomic; a racing reader can observe the no-sidecar
        # window and must retry. Last resort only.
        if fs.exists(dst):
            fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            raise IOError(f"rename {tmp} -> {dst} failed")
        return "delete-rename"
    # FileContext obtained: genuine rename failures PROPAGATE (the
    # destination still holds the previous bytes -- nothing lost)
    gw = spark.sparkContext._gateway
    ren = jvm.org.apache.hadoop.fs.Options.Rename
    opts = gw.new_array(ren, 1)
    opts[0] = ren.OVERWRITE
    fc.rename(fs.makeQualified(tmp), q, opts)
    return "filecontext"


def _is_unsupported_fs(e: Exception) -> bool:
    """True iff *e* wraps Hadoop's UnsupportedFileSystemException --
    the 'no AbstractFileSystem binding for this scheme' signal that
    legitimately selects the delete+rename fallback lane."""
    jex = getattr(e, "java_exception", None)
    while jex is not None:
        try:
            name = jex.getClass().getName()
        except Exception:
            return False
        if name == ("org.apache.hadoop.fs."
                    "UnsupportedFileSystemException"):
            return True
        jex = jex.getCause()
    return False


def write_bytes(spark: SparkSession, path: str, data: bytes) -> str:
    """Write *data* to *path* via temp + overwrite-rename on whatever
    filesystem the path's scheme resolves to; atomic on ``file:`` and
    FileContext-capable filesystems (module docstring has the full
    ladder). Returns the rename lane taken (tests pin it)."""
    fs, jpath, jvm = _new_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".__tmp__")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    return _rename_overwrite(spark, fs, jvm, tmp, jpath)


def read_bytes(spark: SparkSession, path: str) -> bytes:
    fs, jpath, jvm = _new_fs(spark, path)
    inp = fs.open(jpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    # copyBytes(close=True) closes BOTH streams, even on error
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(inp, baos, _COPY_BUF,
                                               True)
    return bytes(baos.toByteArray())


def write_text(spark: SparkSession, path: str, text: str) -> str:
    return write_bytes(spark, path, text.encode("utf-8"))


def read_text(spark: SparkSession, path: str) -> str:
    return read_bytes(spark, path).decode("utf-8")


def write_json(spark: SparkSession, path: str, obj, **kw) -> str:
    import json

    return write_text(spark, path, json.dumps(obj, **kw))


def read_json(spark: SparkSession, path: str):
    import json

    return json.loads(read_text(spark, path))


def join(base: str, name: str) -> str:
    """Scheme-preserving path join (os.path.join would mangle
    ``s3a://bucket/dir`` on Windows and is semantically wrong for
    URIs; Hadoop Path treats '/' uniformly)."""
    return base.rstrip("/") + "/" + name


def write_empty_parquet_fast(spark: SparkSession, dir_path: str,
                             schema) -> bool:
    """Write a schema-bearing EMPTY parquet dir DRIVER-SIDE -- no
    Spark job, no task commit protocol -- when the path is local and
    pyarrow is importable; returns False (caller keeps its Spark
    write) for remote filesystems or a pyarrow-less runtime. The
    stream-start shape builds an empty store inside every drain, and
    each 0-row Spark write still costs a job + FileFormatWriter
    commit (~0.2 s of a measured ~0.8 s empty simjoin build); the
    bytes written here are the same schema-bearing empty footer
    Spark would leave. Like a Spark overwrite, it refreshes every cached
    read of the path, so none serves the rows just deleted."""
    base = _local_base(spark, dir_path)
    if base is None:
        return False
    try:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        sch = to_arrow_schema(schema)
    except Exception:
        return False
    import os
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    tbl = pa.Table.from_arrays(
        [pa.array([], type=f.type) for f in sch], schema=sch)
    pq.write_table(
        tbl,
        os.path.join(base, f"part-00000-{uuid.uuid4()}-c000"
                           f".snappy.parquet"),
        compression="snappy")
    spark.catalog.refreshByPath(dir_path)
    return True


def reset_bucketed_dir_fast(spark: SparkSession, dir_path: str,
                            table_name: str) -> bool:
    """Reset a bucketed store part to the EMPTY state driver-side:
    drop the stale catalog entry and leave a bare directory --
    exactly the layout a 0-partition bucketed saveAsTable produces
    (no data files; readers get their schema from the re-registered
    DDL). Local-FS only, same gate as
    :func:`write_empty_parquet_fast`, and like it refreshes cached
    reads of the path."""
    base = _local_base(spark, dir_path)
    if base is None:
        return False
    import os
    import shutil

    if spark.catalog.tableExists(table_name):
        spark.sql(f"DROP TABLE {table_name}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    spark.catalog.refreshByPath(dir_path)
    return True
