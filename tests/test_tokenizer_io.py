"""Tokenizer artifact round-trip: export -> bytes stable -> import ->
encode equality (the cache-JSON migration convention applied to the
tokenizer; sinks/tokenizer.py)."""
from __future__ import annotations

import os

from automated_review_analysis_pipeline_spark.operators.textanalysis import (
    _train_merges,
    bpe_encode,
    bpe_vocab,
)
from automated_review_analysis_pipeline_spark.sinks.tokenizer import (
    MERGES_HEADER,
    export_tokenizer,
    import_tokenizer,
)


def _sennrich_docs(spark):
    return spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2)),
         (2, " ".join(["newest"] * 6 + ["widest"] * 3)),
         (3, "newest low")],
        "doc_id long, text string")


def test_export_bytes_stable_and_import_roundtrip(spark, tmp_path):
    docs = _sennrich_docs(spark)
    learned = _train_merges(docs, 3, "text")
    vocab = bpe_vocab(docs, merges=learned)

    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    paths = export_tokenizer(learned, vocab, out1)
    export_tokenizer(learned, vocab, out2)
    for name in ("merges.txt", "vocab.json"):
        b1 = open(os.path.join(out1, name), "rb").read()
        b2 = open(os.path.join(out2, name), "rb").read()
        assert b1 == b2 and b1  # byte-stable, non-empty

    # merges.txt is the GPT-2/HF line format
    lines = open(paths["merges"], encoding="utf-8").read().splitlines()
    assert lines[0] == MERGES_HEADER
    assert lines[1:] == ["e s", "es t", "est </w>"]

    imported, vocab_ids = import_tokenizer(out1)
    assert [(m[1], m[2], m[3]) for m in imported] == [
        ("e", "s", "es"), ("es", "t", "est"), ("est", "</w>", "est</w>")]
    # vocab ids round-trip in id order, base alphabet then merges
    assert vocab_ids["est</w>"] == max(vocab_ids.values())
    assert len(vocab_ids) == vocab.count()

    # encode with the imported table == encode with the in-session table
    assert (bpe_encode(docs, merges=imported).collect()
            == bpe_encode(docs, merges=learned).collect())


def test_export_rejects_whitespace_symbols(tmp_path):
    import pytest

    with pytest.raises(ValueError):
        export_tokenizer([(1, "a b", "c", "a bc", 1)], [], str(tmp_path))


def test_import_tolerates_missing_vocab_and_blank_lines(tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    (d / "merges.txt").write_text("#version: 0.2\na b\n\nab c\n")
    merges, vocab = import_tokenizer(str(d))
    assert [(m[0], m[1], m[2], m[3]) for m in merges] == [
        (1, "a", "b", "ab"), (2, "ab", "c", "abc")]
    assert vocab == {}


def test_training_shards_write_read_validate_roundtrip(spark, sf_dir,
                                                       tmp_path):
    """Write shards -> manifest matches the pure-aggregate query ->
    read-back validates and reproduces the corpus -> rows inside each
    shard file are position-ordered -> a corrupted delivery raises
    naming the bad shard; an empty corpus reads back empty."""
    import json

    import pytest

    from automated_review_analysis_pipeline_spark.sinks.shards import (
        read_training_shards,
        shard_manifest,
        write_training_shards,
    )
    from automated_review_analysis_pipeline_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "delivery")
    manifest = write_training_shards(docs, out, n_shards=4, seed="epoch0")
    assert len(manifest["shards"]) == 4

    # the persisted manifest equals the pure-aggregate query
    q = {r["shard"]: (r["n_docs"], r["n_tokens"], r["fingerprint"])
         for r in shard_manifest(docs, n_shards=4).collect()}
    assert q == {s["shard"]: (s["n_docs"], s["n_tokens"], s["fingerprint"])
                 for s in manifest["shards"]}
    assert sum(s["n_docs"] for s in manifest["shards"]) == docs.count()

    back = read_training_shards(spark, out)  # validates
    assert back.count() == docs.count()
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) \
        == sorted(r["doc_id"] for r in docs.select("doc_id").collect())

    # an empty corpus reads back as an empty, validated frame with the
    # same columns
    empty = str(tmp_path / "empty")
    assert write_training_shards(docs.where("false"), empty,
                                 n_shards=4)["shards"] == []
    none = read_training_shards(spark, empty)
    assert none.schema == back.schema and none.count() == 0

    # per-file position order (the loader streams shards sequentially)
    import glob

    files = glob.glob(out + "/shards/shard=0/*.parquet")
    assert files
    pos = [r["pos"] for r in spark.read.parquet(files[0])
           .select("pos").collect()]
    assert pos == sorted(pos)

    # corrupt one shard: delete a data file out of shard=1 -- the short
    # delivery must fail validation naming shard 1
    victim = glob.glob(out + "/shards/shard=1/*.parquet")[0]
    os.remove(victim)
    with pytest.raises(ValueError, match="shard 1"):
        read_training_shards(spark, out)

    # stale manifest (edited counts) also refuses
    write_training_shards(docs, out, n_shards=4, seed="epoch0")
    m = json.load(open(out + "/manifest.json"))
    m["shards"][2]["n_tokens"] += 1
    json.dump(m, open(out + "/manifest.json", "w"))
    with pytest.raises(ValueError, match="shard 2"):
        read_training_shards(spark, out)


def test_training_shards_selective_read_prunes_partitions(spark, sf_dir,
                                                          tmp_path):
    """A loader resuming shard K validates and reads ONLY shard K: the
    validation aggregate's scan carries a PartitionFilter on the shard
    column (other shards' files never read), corruption in an UNREQUESTED
    shard goes unnoticed while corruption in the requested shard still
    raises, and unknown shard ids are refused."""
    import glob

    import pytest

    from automated_review_analysis_pipeline_spark.sinks.shards import (
        read_training_shards,
        write_training_shards,
    )
    from automated_review_analysis_pipeline_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "delivery")
    manifest = write_training_shards(docs, out, n_shards=4, seed="epoch0")

    sel = read_training_shards(spark, out, shards=[2])
    assert {r["shard"] for r in sel.select("shard").distinct().collect()} \
        == {2}
    want = next(s for s in manifest["shards"] if s["shard"] == 2)
    assert sel.count() == want["n_docs"]

    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan, plan[:2000]
    import re
    pf = plan.split("PartitionFilters")[1][:200]
    assert re.search(r"shard#\d+L? IN \(2\)|shard#\d+L? = 2", pf), pf

    # corruption OUTSIDE the requested shard: invisible by design
    victim = glob.glob(out + "/shards/shard=1/*.parquet")[0]
    os.remove(victim)
    got = read_training_shards(spark, out, shards=[2])
    assert got.count() == want["n_docs"]

    # corruption INSIDE the requested shard still raises, naming it
    victim2 = glob.glob(out + "/shards/shard=2/*.parquet")[0]
    os.remove(victim2)
    with pytest.raises(ValueError, match="shard 2"):
        read_training_shards(spark, out, shards=[2])

    # unknown shard id refused before any scan
    with pytest.raises(ValueError, match="not in manifest"):
        read_training_shards(spark, out, shards=[99])


def test_tokenizer_artifacts_on_scheme_uri(spark, tmp_path):
    """Export/import through a ``file:``-scheme URI proves the opt-in
    Hadoop-API routing (POSIX open on such a string raises), and the
    bytes are identical to the POSIX path's."""
    from automated_review_analysis_pipeline_spark.sinks.tokenizer import (
        export_tokenizer,
        import_tokenizer,
    )

    learned = [(1, "a", "b", "ab", 3), (2, "ab", "c", "abc", 2)]
    vocab = [(0, "a"), (1, "b"), (2, "c"), (3, "ab"), (4, "abc")]
    plain = str(tmp_path / "plain")
    uri_dir = str(tmp_path / "uri")
    export_tokenizer(learned, vocab, plain)
    export_tokenizer(learned, vocab, "file:" + uri_dir, spark=spark)
    for name in ("merges.txt", "vocab.json"):
        with open(f"{plain}/{name}", "rb") as a, \
                open(f"{uri_dir}/{name}", "rb") as b:
            assert a.read() == b.read()
    m_pos, v_pos = import_tokenizer(plain)
    m_uri, v_uri = import_tokenizer("file:" + uri_dir, spark=spark)
    assert m_pos == m_uri and v_pos == v_uri


def test_tokenizer_bare_path_resolves_driver_local(spark, tmp_path):
    """A SCHEME-LESS out_dir with the Hadoop route (spark inferred from
    a DataFrame vocab, or passed) must land on the driver's LOCAL disk
    -- never be resolved against fs.defaultFS -- and produce bytes
    identical to the POSIX route."""
    from automated_review_analysis_pipeline_spark.sinks.tokenizer import (
        export_tokenizer,
        import_tokenizer,
    )

    learned = [(1, "a", "b", "ab", 3)]
    vocab_rows = [(0, "a"), (1, "b"), (2, "ab")]
    vocab_df = spark.createDataFrame(
        vocab_rows, "vocab_id long, token string")
    posix = str(tmp_path / "posix")
    bare = str(tmp_path / "bare")
    export_tokenizer(learned, vocab_rows, posix)          # POSIX route
    export_tokenizer(learned, vocab_df, bare)             # inferred spark
    for name in ("merges.txt", "vocab.json"):
        assert (tmp_path / "bare" / name).exists()        # local disk
        with open(f"{posix}/{name}", "rb") as a, \
                open(f"{bare}/{name}", "rb") as b:
            assert a.read() == b.read()
    m, v = import_tokenizer(bare, spark=spark)            # bare + spark
    assert m == [(1, "a", "b", "ab", 0)] and v == {"a": 0, "b": 1, "ab": 2}
