"""Classification memo cache read into a driver dict (reference C7,
survey_analysis.py:145-165, 251-273) -- the reference's single most
important efficiency mechanism, and the engine's ONE implementation of it.

The reference memoizes (industry, question, answer) -> (sentiment,
category) in a JSON dict, consulted before every classifier call and
flushed every 200 new entries. On the bundled data that's a ~7.4x
reduction in classifier invocations (2 071 non-filler cells -> 278
distinct). Catalyst will never dedup UDF inputs on its own, so
:func:`classify_with_cache` reproduces the effect with ONE Spark action:

    cache dir --pyarrow--> dict               one row per key, last write wins
                                              (no cache: an empty dict)
    collect(distinct(keys)), probe the dict   hit = a key in the dict
    misses --classifier--> values             (API kernel: from the driver)
    misses + values --> one file --> cache dir  (no cache: no file)
    hits + misses --> driver frame            = the result

The cache lives on a local filesystem (os.replace, pq.write_table), so
it is read on the driver like the reference's dict: no Spark plan reads
it. The result, the broadcast side of every join back, is a
:func:`..session.driver_frame` (Arrow, a ``LocalRelation``), collected
and broadcast with no Spark job and no Python worker.

A kernel has one of two forms. A column kernel follows the survey
plans' column contract, ``classifier(question: Column, answer: Column)
-> struct<sentiment, category>``, applied once to the miss set with the
question as a column: one bulk pass over the distinct texts of every
question. The API kernel (operators/classify.llm_kernel) carries a
driver form instead, ``classify_batch(pairs, max_parallelism)``:
I/O-bound requests go out from driver threads, so an API report starts
no Python worker either, with a cache or without one.

Idempotence comes free: a re-run finds every key in the cache,
classifies zero rows and appends nothing (the reference needed
incremental flushing for crash-resume; an atomic rename of the one miss
file subsumes it).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark.session import driver_frame

KEY_SCHEMA = "industry string, question string, answer string"
CACHE_SCHEMA = KEY_SCHEMA + ", sentiment string, category string"

KEY_COLS = ["industry", "question", "answer"]
VAL_COLS = ["sentiment", "category"]
ARROW_SCHEMA = pa.schema([(c, pa.string()) for c in KEY_COLS + VAL_COLS])

# classifier(question, answer) -> struct<sentiment string, category string>;
# the API kernel instead carries classify_batch(pairs, max_parallelism)
Classifier = Callable[[Column, Column], Column]


def read_cache(path: str) -> dict[tuple, tuple]:
    """The cache directory's ``*.parquet`` files (Spark-written part files
    too, hidden temp files never) as a dict key -> (sentiment, category),
    read with pyarrow; no directory is an empty cache (the reference
    tolerates a missing cache file, survey_analysis.py:145-153). Two
    concurrent runs can append the same key (the reference's JSON dict
    could not hold a duplicate; append-only parquet can): the last row in
    sorted file-name order, then row order, wins -- deterministic
    last-write-wins, like reference processes overwriting each other."""
    _recover_interrupted_compaction(path)
    return _read(_files(path))


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _read(files: list[str]) -> dict[tuple, tuple]:
    out: dict[tuple, tuple] = {}
    for f in files:
        t = pq.ParquetFile(f).read(columns=KEY_COLS + VAL_COLS)
        for i, q, a, s, c in zip(*(col.to_pylist() for col in t.columns)):
            out[(i, q, a)] = (s, c)
    return out


def load_cache(spark: SparkSession, path: str) -> DataFrame:
    """:func:`read_cache` as a driver frame, one row per key (an empty
    ``LocalRelation`` when there is no cache); runs no Spark job."""
    return driver_frame(spark, [k + v for k, v in read_cache(path).items()],
                        CACHE_SCHEMA)


def _recover_interrupted_compaction(path: str) -> None:
    """If a compact_cache run crashed between its two renames, the only
    complete copy of the cache sits at ``path + ".compact.old"`` while
    ``path`` itself is gone -- and every later run would silently
    re-classify from scratch. Restore it: the .old directory is, by
    construction, the pre-compaction live table."""
    old = path + ".compact.old"
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)


def import_json_cache(spark: SparkSession, json_path: str,
                      cache_path: str) -> int:
    """Migrate the reference's JSON memo cache into the parquet cache
    table, so a porting user keeps every classification they already paid
    for. The reference format (survey_analysis.py:145-165) is one object:
    ``{"industry|||question|||answer": [sentiment, category], ...}`` --
    keys split on the literal ``|||`` delimiter (answer may itself
    contain anything except the delimiter, same contract as the
    reference's cache_key). Already-imported keys are skipped (the same
    idempotence as every other cache write) and the new entries are
    appended as one file, none when every key is already present.
    Returns the number of newly imported entries."""
    with open(json_path, encoding="utf-8") as f:
        raw = json.load(f)
    cached = read_cache(cache_path)
    fresh = []
    for key, val in raw.items():
        parts = tuple(key.split("|||", 2))
        if len(parts) != 3 or not isinstance(val, (list, tuple)) \
                or len(val) < 2:
            continue  # tolerate corrupt entries like the reference loader
        if parts not in cached:
            fresh.append(parts + (str(val[0]), str(val[1])))
    _append(cache_path, fresh)
    return len(fresh)


def _append(cache_path: str, rows: list[tuple]) -> None:
    """The cache's one writer: ``rows``, KEY_COLS + VAL_COLS tuples,
    become ONE parquet file written on the driver under a hidden temp
    name that does not end in ``.parquet`` (read_cache and compact_cache
    skip it), then renamed into place, so a reader sees all of the file
    or none of it. No rows, no file."""
    if not rows:
        return
    part = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(cache_path, f".{part}.tmp")
    os.makedirs(cache_path, exist_ok=True)
    pq.write_table(pa.Table.from_arrays(
        [pa.array(col, pa.string()) for col in zip(*rows)],
        schema=ARROW_SCHEMA), tmp)
    os.replace(tmp, os.path.join(cache_path, part))


def export_json_cache(spark: SparkSession, cache_path: str,
                      json_path: str) -> int:
    """Inverse of :func:`import_json_cache`: write the parquet cache
    table back out in the reference's memo format
    (``{"industry|||question|||answer": [sentiment, category]}``,
    survey_analysis.py:154-161, ensure_ascii=False like its save_cache)
    so a user can carry classifications BACK to the reference script.
    An ``industry`` or ``question`` containing the ``|||`` delimiter is
    unrepresentable in that format (the importer splits with
    maxsplit=2) and is skipped, counted out of the return value; the
    ANSWER may contain the delimiter freely -- everything after the
    second separator round-trips verbatim. This is a bounded driver
    collect -- bounded by DISTINCT classifications (industry x question
    x distinct answer), not by survey rows; in practice
    thousands-to-low-millions of short strings (the bundled survey's
    2,071 cells collapse to 278 keys), the same in-memory-dict scale
    the reference itself holds (survey_analysis.py:145-165). A cache
    too big to collect would also be too big for the reference's JSON
    format this function exists to emit -- keep such caches in parquet
    and skip the export."""
    out = {}
    for (ind, q, ans), (sent, cat) in read_cache(cache_path).items():
        if not any("|||" in (x or "") for x in (ind, q)):
            out[f"{ind}|||{q}|||{ans}"] = [sent, cat]
    with open(json_path, "w", encoding="utf-8") as f:
        json.dump(out, f, ensure_ascii=False)
    return len(out)


def compact_cache(spark: SparkSession, path: str,
                  target_file_bytes: int = 128 << 20) -> int:
    """Rewrite the append-only cache directory as few-files,
    one-row-per-key parquet. Every run with misses appends one parquet
    file (classify_with_cache), so a long-lived cache accumulates small
    files whose footer reads eventually dominate read_cache. Compaction
    writes read_cache's one row per key as ceil(on-disk bytes / target)
    files (partitioning.compact_files' sizing rule).

    Crash-safe swap: the compacted table lands in a sibling ``.tmp``
    directory first, the live directory moves aside, the tmp renames
    in, and only then is the old data deleted -- a crash at any point
    leaves a complete copy on disk (``path`` or ``path + ".compact.old"``),
    and read_cache/compact_cache automatically restore a stranded
    ``.compact.old`` on their next run. Returns the output file count
    (0 = nothing to compact). Idempotent: re-running compacts the
    already-compact table to itself.

    Concurrent appenders need not stop: the compaction reads a SNAPSHOT
    of the parquet files present at entry, and any file that lands in
    ``path`` later (swept into ``.compact.old`` by the first rename, or
    appended into a recreated ``path`` between the renames) is moved
    back into the live directory before the old copy is deleted, so
    nothing a concurrent run paid for is dropped; read_cache collapses
    any duplicate key it brings.
    """
    _recover_interrupted_compaction(path)
    snapshot = _files(path)
    if not snapshot:
        return 0
    # read exactly the snapshot files: appends racing the rewrite must
    # not be half-included (they are reconciled by filename below)
    rows = [k + v for k, v in _read(snapshot).items()]
    total = sum(os.path.getsize(f) for f in snapshot)
    n_files = min(len(rows), max(1, -(-total // target_file_bytes)))
    tmp, old = path + ".compact.tmp", path + ".compact.old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    os.makedirs(tmp)
    for i in range(n_files):
        _append(tmp, rows[i::n_files])
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        # an append between the renames recreated ``path``: keep those
        # fresh files, then fill in the compacted table around them
        for f in glob.glob(os.path.join(tmp, "*")):
            dst = os.path.join(path, os.path.basename(f))
            if not os.path.exists(dst):
                os.rename(f, dst)
        shutil.rmtree(tmp, ignore_errors=True)
    # files swept into .old that were NOT in the snapshot are concurrent
    # appends -- move them back into the live table before deleting
    snap_names = {os.path.basename(f) for f in snapshot}
    for f in glob.glob(os.path.join(old, "*.parquet")):
        if os.path.basename(f) not in snap_names:
            dst = os.path.join(path, os.path.basename(f))
            if not os.path.exists(dst):
                os.rename(f, dst)
    shutil.rmtree(old)
    return n_files


def classify_with_cache(
    keys: DataFrame,
    classifier: Classifier,
    spark: SparkSession,
    cache_path: str | None = None,
    max_parallelism: int | None = None,
) -> DataFrame:
    """Classify distinct (industry, question, answer) keys, consulting and
    extending the cache table. Returns KEY_COLS + VAL_COLS for every input
    key. ``keys`` may contain duplicates; they are collapsed first.

    One collect returns the distinct keys and each is probed in
    read_cache's dict: hit or miss. Without ``cache_path`` the dict is an
    empty, run-scoped one (the reference's in-memory dict with nothing
    loaded), so every key is a miss and no file is written. Only misses
    are classified, none on a warm run. A kernel with a driver form
    (``classifier.classify_batch``, the API kernel) sends their requests
    from the driver, at most ``max_parallelism`` in flight (default: the
    session's default parallelism); a column kernel classifies them in
    one more action, over a driver frame of the misses repartitioned to
    ``max_parallelism`` partitions, so a UDF kernel runs at most that
    many concurrent streams (the reference's single sequential loop,
    survey_analysis.py:189-217, is the rate-limit precedent --
    ``max_parallelism=1`` reproduces it; None leaves the frame's own
    partitioning). With ``cache_path`` the misses are appended as one
    parquet file (none if every key hits). The result is a driver frame
    over the rows."""
    cached = read_cache(cache_path) if cache_path else {}
    found = [tuple(r) for r in keys.select(*KEY_COLS).distinct().collect()]
    hits = [k + cached[k] for k in found if k in cached]
    misses = [k for k in found if k not in cached]
    batch = getattr(classifier, "classify_batch", None)
    if misses and batch is not None:
        values = batch([r[1:] for r in misses], max_parallelism
                       or spark.sparkContext.defaultParallelism)
        misses = [r + tuple(v) for r, v in zip(misses, values)]
    elif misses:
        frame = driver_frame(spark, misses, KEY_SCHEMA)
        if max_parallelism is not None:
            frame = frame.repartition(max_parallelism)
        misses = frame.select(
            *KEY_COLS,
            classifier(F.col("question"), F.col("answer")).alias("__r"),
        ).select(*KEY_COLS, *[F.col(f"__r.{c}").alias(c) for c in VAL_COLS]
        ).collect()
    if cache_path:
        _append(cache_path, misses)
    return driver_frame(spark, hits + misses, CACHE_SCHEMA)
