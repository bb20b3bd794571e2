"""Round-15 DELETE lifecycle for the persisted stores.

The contract under test, per family: post-delete results equal the
one-shot recompute over the SURVIVING corpus EXACTLY; deletes are
crash-safe under the staged commit protocol (kill-mid-delete fault
injection) and replay-idempotent; ``index_compact`` physically purges
tombstoned rows with results unchanged; appends fail fast on a
tombstoned id.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark import fsio, store_delete
from automated_review_analysis_pipeline_spark.operators import dedup
from automated_review_analysis_pipeline_spark.operators import (
    textanalysis as ta,
)
from automated_review_analysis_pipeline_spark.operators.partitioning import (
    index_compact,
    index_stats,
)
from automated_review_analysis_pipeline_spark.sources.tables import load_table

QUERY = ("join", "filter", "scan", "window", "column")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _paired_ids(spark, store):
    p = spark.read.parquet(store + "/pairs").limit(3).collect()
    return sorted({r["a_id"] for r in p} | {r["b_id"] for r in p})[:2]


# ---------------------------------------------------------------------------
# simjoin store
# ---------------------------------------------------------------------------

def _sj_store(spark, sf_dir, tmp_path, frac=2):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % frac == 0)
    store = str(tmp_path / "sj")
    dedup.build_simjoin_index(base, store, threshold=0.5, n_buckets=4)
    return docs, base, store


def test_simjoin_delete_equals_one_shot_over_survivors(
        spark, sf_dir, tmp_path):
    docs, base, store = _sj_store(spark, sf_dir, tmp_path)
    victims = _paired_ids(spark, store)
    assert victims, "fixture must have pairs"
    got = dedup.simjoin_delete(spark, store, victims)
    survivors = base.where(~F.col("doc_id").isin(victims))
    want = dedup.set_similarity_join(survivors, threshold=0.5)
    assert _rows(got.select("a_id", "b_id", "n_common", "jaccard")) \
        == _rows(want)
    # the decremented doc count keeps the drift density honest
    meta = fsio.read_json(spark, store + "/meta.json")
    assert meta["n_docs_total"] == base.count() - len(victims)
    assert meta["n_tombstoned"] == len(victims)


def test_simjoin_append_after_delete_excludes_deleted(
        spark, sf_dir, tmp_path):
    """New docs must never pair with a tombstoned (but not yet
    purged) store doc: the candidate filter, not just the read
    filter."""
    docs, base, store = _sj_store(spark, sf_dir, tmp_path, frac=4)
    victims = _paired_ids(spark, store)
    dedup.simjoin_delete(spark, store, victims)

    def victim_rows():
        on_disk = spark.read.parquet(store + "/pairs")
        return on_disk.where(F.col("a_id").isin(victims)
                             | F.col("b_id").isin(victims)).count()

    before = victim_rows()  # build-time pairs linger until compaction
    delta = docs.where(F.col("doc_id") % 4 == 1)
    got = dedup.simjoin_append(spark, store, delta)
    survivors = (base.where(~F.col("doc_id").isin(victims))
                 .unionByName(delta))
    want = dedup.set_similarity_join(survivors, threshold=0.5)
    assert _rows(got.select("a_id", "b_id", "n_common", "jaccard")) \
        == _rows(want)
    # the append WROTE no deleted-doc pairs (candidate filter, not
    # just the read filter): victim-referencing rows did not grow
    assert victim_rows() == before


def test_simjoin_compact_purges_tombstones_results_unchanged(
        spark, sf_dir, tmp_path):
    docs, base, store = _sj_store(spark, sf_dir, tmp_path)
    victims = _paired_ids(spark, store)
    before = _rows(dedup.simjoin_delete(spark, store, victims))
    report = index_compact(spark, store)
    assert report.get("tombstones") == "purged"
    assert not fsio.exists(spark, store + "/tombstones")
    meta = fsio.read_json(spark, store + "/meta.json")
    assert meta["n_tombstoned"] == 0
    # physically gone from every part
    for v in victims:
        assert spark.read.parquet(store + "/docs") \
            .where(F.col("id") == v).count() == 0
        assert spark.read.parquet(store + "/prefix") \
            .where(F.col("id") == v).count() == 0
        assert spark.read.parquet(store + "/pairs") \
            .where((F.col("a_id") == v) | (F.col("b_id") == v)) \
            .count() == 0
    assert _rows(dedup.simjoin_pairs(spark, store)) == before
    # post-purge appends still exact
    delta = docs.where(F.col("doc_id") % 2 == 1)
    got = dedup.simjoin_append(spark, store, delta)
    survivors = (base.where(~F.col("doc_id").isin(victims))
                 .unionByName(delta))
    want = dedup.set_similarity_join(survivors, threshold=0.5)
    assert _rows(got.select("a_id", "b_id", "n_common", "jaccard")) \
        == _rows(want)


def test_simjoin_delete_kill_mid_fault_injection(
        spark, sf_dir, tmp_path, monkeypatch):
    """Crash AFTER the tombstone parquet append but BEFORE the meta
    flip (the commit point): reads stay on the pre-delete state, the
    retry rolls the orphan files back and folds exactly once."""
    docs, base, store = _sj_store(spark, sf_dir, tmp_path)
    victims = _paired_ids(spark, store)
    pairs_before = _rows(dedup.simjoin_pairs(spark, store))

    real = fsio.write_json

    def boom(spark_, path, obj, **kw):
        if path.endswith("meta.json"):
            raise IOError("injected crash before commit point")
        return real(spark_, path, obj, **kw)

    monkeypatch.setattr(fsio, "write_json", boom)
    with pytest.raises(IOError, match="injected"):
        dedup.simjoin_delete(spark, store, victims, batch_id=3)
    monkeypatch.undo()

    # crashed state: intent present, orphan tombstone files on disk,
    # but the READ path is unchanged (meta never flipped)
    assert fsio.exists(spark, store + "/pending.json")
    assert _rows(dedup.simjoin_pairs(spark, store)) == pairs_before
    # retry (same replay id): rolls back + folds exactly once
    got = dedup.simjoin_delete(spark, store, victims, batch_id=3)
    ts = store_delete.read_tombstones(spark, store, "bigint")
    assert ts.count() == len(victims)
    # the rollback removed the orphan files: no value-duplicates
    assert spark.read.parquet(store + "/tombstones").count() \
        == len(victims)
    survivors = base.where(~F.col("doc_id").isin(victims))
    want = dedup.set_similarity_join(survivors, threshold=0.5)
    assert _rows(got.select("a_id", "b_id", "n_common", "jaccard")) \
        == _rows(want)
    # replayed delete is a no-op
    dedup.simjoin_delete(spark, store, victims, batch_id=3)
    assert spark.read.parquet(store + "/tombstones").count() \
        == len(victims)


def test_simjoin_reappend_tombstoned_id_fails_fast(
        spark, sf_dir, tmp_path):
    docs, base, store = _sj_store(spark, sf_dir, tmp_path)
    victims = _paired_ids(spark, store)
    dedup.simjoin_delete(spark, store, victims)
    bad = docs.where(F.col("doc_id").isin(victims))
    with pytest.raises(ValueError, match="TOMBSTONED"):
        dedup.simjoin_append(spark, store, bad)
    # after the purge the ids are genuinely reusable again
    index_compact(spark, store)
    dedup.simjoin_append(spark, store, bad)


def test_index_stats_reports_delete_health(spark, sf_dir, tmp_path):
    docs, base, store = _sj_store(spark, sf_dir, tmp_path)
    victims = _paired_ids(spark, store)
    dedup.simjoin_delete(spark, store, victims)
    st = {(r["part"], r["metric"]): r["value"]
          for r in index_stats(spark, store).collect()}
    assert st[("meta", "n_tombstoned")] == str(len(victims))
    assert float(st[("store", "deleted_fraction")]) > 0
    assert int(st[("store", "reclaimable_bytes_est")]) > 0
    assert ("tombstones", "n_files") in st
    index_compact(spark, store)
    st2 = {(r["part"], r["metric"]): r["value"]
           for r in index_stats(spark, store).collect()}
    assert st2[("meta", "n_tombstoned")] == "0"
    assert ("store", "deleted_fraction") not in st2


# ---------------------------------------------------------------------------
# BM25 inverted index
# ---------------------------------------------------------------------------

def _bm25_store(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "bm25")
    ta.build_bm25_index(docs, store)
    return docs, store


@pytest.mark.parametrize("kind", ["list", "tuple", "set", "frame", "empty"])
def test_bm25_delete_equals_one_shot_over_survivors(
        spark, sf_dir, tmp_path, kind):
    """Every delete-request shape gives the same tombstones and counters
    (an empty list deletes nothing), and a python collection becomes a
    JVM-side frame: no pickled LogicalRDD, so no Python worker."""
    docs, store = _bm25_store(spark, sf_dir, tmp_path)
    hits = ta.bm25_index_search(spark, store, QUERY, k=5).collect()
    victims = [] if kind == "empty" else [r["doc_id"] for r in hits[:2]]
    request = {"tuple": tuple, "set": set,
               "frame": lambda v: spark.createDataFrame(
                   [(i,) for i in v], "victim bigint")
               }.get(kind, list)(victims)
    ta.bm25_index_delete(spark, store, request)
    assert sorted(r["id"] for r in spark.read.parquet(
        store + "/tombstones").collect()) == sorted(victims)
    survivors = docs.where(~F.col("doc_id").isin(victims))
    got = ta.bm25_index_search(spark, store, QUERY, k=20)
    want = ta.bm25_search(survivors, QUERY, k=20)
    assert _rows(got) == _rows(want)
    # exact counter decrements
    meta = fsio.read_json(spark, store + "/meta.json")
    wl = ta._bm25_words(survivors, "doc_id", "text")
    assert meta["n_docs"] == wl.select("doc_id").distinct().count()
    assert meta["total_len"] == wl.count()
    assert meta["n_tombstoned"] == len(victims)
    if kind != "frame":
        ids = store_delete.as_id_frame(
            spark, request, docs.select("doc_id"), "doc_id")
        assert ids.schema["id"].dataType.simpleString() == "bigint"
        plan = ids._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, plan


def test_bm25_topk_respects_tombstones(spark, sf_dir, tmp_path):
    docs, store = _bm25_store(spark, sf_dir, tmp_path)
    qs = spark.createDataFrame(
        [(1, "join filter scan"), (2, "window column")],
        "query_id int, query_text string")
    hits = ta.bm25_index_topk(spark, store, qs, k=3).collect()
    victims = list({r["doc_id"] for r in hits})[:2]
    ta.bm25_index_delete(spark, store, victims)
    survivors = docs.where(~F.col("doc_id").isin(victims))
    got = ta.bm25_index_topk(spark, store, qs, k=3)
    want = ta.bm25_topk(survivors, qs, k=3)
    assert _rows(got) == _rows(want)


def test_bm25_compact_purges_scores_unchanged(spark, sf_dir, tmp_path):
    docs, store = _bm25_store(spark, sf_dir, tmp_path)
    hits = ta.bm25_index_search(spark, store, QUERY, k=5).collect()
    victims = [r["doc_id"] for r in hits[:2]]
    ta.bm25_index_delete(spark, store, victims)
    before = _rows(ta.bm25_index_search(spark, store, QUERY, k=20))
    report = index_compact(spark, store)
    assert report.get("tombstones") == "purged"
    for v in victims:
        assert spark.read.parquet(store + "/postings") \
            .where(F.col("doc_id") == v).count() == 0
        assert spark.read.parquet(store + "/doclen") \
            .where(F.col("doc_id") == v).count() == 0
    assert _rows(ta.bm25_index_search(spark, store, QUERY, k=20)) \
        == before
    # appends exact post-purge; re-using a purged id is legal again
    ta.bm25_index_append(spark, store,
                         docs.where(F.col("doc_id").isin(victims)))
    want = ta.bm25_search(docs, QUERY, k=20)
    assert _rows(ta.bm25_index_search(spark, store, QUERY, k=20)) \
        == _rows(want)


def test_bm25_delete_kill_and_replay(spark, sf_dir, tmp_path,
                                     monkeypatch):
    docs, store = _bm25_store(spark, sf_dir, tmp_path)
    hits = ta.bm25_index_search(spark, store, QUERY, k=5).collect()
    victims = [r["doc_id"] for r in hits[:2]]
    before = _rows(ta.bm25_index_search(spark, store, QUERY, k=20))

    real = fsio.write_json

    def boom(spark_, path, obj, **kw):
        if path.endswith("meta.json"):
            raise IOError("injected crash before commit point")
        return real(spark_, path, obj, **kw)

    monkeypatch.setattr(fsio, "write_json", boom)
    with pytest.raises(IOError, match="injected"):
        ta.bm25_index_delete(spark, store, victims, batch_id=9)
    monkeypatch.undo()
    assert _rows(ta.bm25_index_search(spark, store, QUERY, k=20)) \
        == before  # uncommitted delete invisible
    ta.bm25_index_delete(spark, store, victims, batch_id=9)
    assert spark.read.parquet(store + "/tombstones").count() \
        == len(victims)
    ta.bm25_index_delete(spark, store, victims, batch_id=9)  # replay
    assert spark.read.parquet(store + "/tombstones").count() \
        == len(victims)
    with pytest.raises(ValueError, match="TOMBSTONED"):
        ta.bm25_index_append(
            spark, store, docs.where(F.col("doc_id").isin(victims)))


# ---------------------------------------------------------------------------
# components store (exact re-split)
# ---------------------------------------------------------------------------

def _edges(spark, rows):
    return spark.createDataFrame(rows, "a long, b long")


def test_components_delete_resplits_cut_vertex(spark, tmp_path):
    """Deleting the bridge node of a chain 1-2-3-4-5 must SPLIT the
    component: {1,2} and {4,5}, exactly the one-shot over surviving
    edges -- the case a label-only tombstone cannot get right."""
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        build_components_store,
        components_delete,
        star_connected_components,
    )

    store = str(tmp_path / "comp")
    all_edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5),
                               (8, 9)])
    build_components_store(all_edges, store)
    surviving = all_edges.where((F.col("a") != 3) & (F.col("b") != 3))
    got = components_delete(spark, store, [3], surviving)
    want, _ = star_connected_components(surviving)
    assert _rows(got) == _rows(want)
    assert _rows(got) == [(1, 1), (2, 1), (4, 4), (5, 4), (8, 8),
                          (9, 8)]


def test_components_delete_drops_edgeless_members(spark, tmp_path):
    """A member left with no surviving edges leaves the label map
    (one-shot labels only cover edge endpoints)."""
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        build_components_store,
        components_delete,
        components_read,
    )

    store = str(tmp_path / "comp")
    all_edges = _edges(spark, [(1, 2), (8, 9)])
    build_components_store(all_edges, store)
    surviving = all_edges.where((F.col("a") != 2) & (F.col("b") != 2))
    got = components_delete(spark, store, [2], surviving)
    assert _rows(got) == [(8, 8), (9, 8)]  # node 1 gone too
    # unaffected component untouched, deleted+edgeless tombstoned
    assert _rows(components_read(spark, store)) == [(8, 8), (9, 8)]


def test_components_delete_then_compact_folds_tombstones_away(
        spark, tmp_path):
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        build_components_store,
        components_compact,
        components_delete,
        components_read,
        components_vacuum,
    )

    store = str(tmp_path / "comp")
    all_edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    build_components_store(all_edges, store)
    surviving = all_edges.where((F.col("a") != 3) & (F.col("b") != 3))
    before = _rows(components_delete(spark, store, [3], surviving))
    components_compact(spark, store)
    components_vacuum(spark, store)
    meta = fsio.read_json(spark, store + "/meta.json")
    base_snap = spark.read.parquet(
        store + f"/labels/v{meta['base']}")
    # physically tombstone-free
    assert base_snap.where(F.col("component").isNull()).count() == 0
    assert base_snap.where(F.col("node") == 3).count() == 0
    assert _rows(components_read(spark, store)) == before


def test_components_delete_replay_guard(spark, tmp_path):
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        build_components_store,
        components_delete,
    )

    store = str(tmp_path / "comp")
    all_edges = _edges(spark, [(1, 2), (2, 3)])
    build_components_store(all_edges, store)
    surviving = all_edges.where((F.col("a") != 1) & (F.col("b") != 1))
    components_delete(spark, store, [1], surviving, batch_id=4)
    v = fsio.read_json(spark, store + "/meta.json")["version"]
    got = components_delete(spark, store, [1], surviving, batch_id=4)
    assert fsio.read_json(spark, store + "/meta.json")["version"] == v
    assert _rows(got) == [(2, 2), (3, 2)]


def test_components_lifecycle_delete_via_simjoin_pairs(
        spark, sf_dir, tmp_path):
    """The composed lifecycle: simjoin_delete the docs, then
    components_delete the same ids with the store's (tombstone-
    filtered) pair table as the surviving edge source -- labels equal
    the one-shot clustering of the surviving corpus' exact pairs."""
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        build_components_store,
        components_delete,
        star_connected_components,
    )

    docs, base, store = _sj_store(spark, sf_dir, tmp_path)
    comp = str(tmp_path / "comp")
    pairs0 = dedup.simjoin_pairs(spark, store)
    build_components_store(pairs0, comp, a_col="a_id", b_col="b_id")
    victims = _paired_ids(spark, store)
    surviving_pairs = dedup.simjoin_delete(spark, store, victims)
    got = components_delete(spark, comp, victims, surviving_pairs,
                            a_col="a_id", b_col="b_id")
    want, _ = star_connected_components(
        surviving_pairs, a_col="a_id", b_col="b_id")
    assert _rows(got) == _rows(want)
