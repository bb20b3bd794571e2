"""Incremental connected components: the persisted label map folds
edge DELTAS without re-running star iterations over historical edges.
The law under test: build(delta 1) + append(delta 2) + append(delta 3)
== one-shot star components over the unioned edge set, exactly."""
from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from automated_review_analysis_pipeline_spark import fsio
from automated_review_analysis_pipeline_spark.operators import similarity
from automated_review_analysis_pipeline_spark.operators.similarity import (
    build_components_store,
    components_append,
    star_connected_components,
)


def _labels(df):
    return sorted(tuple(r) for r in df.collect())


def test_components_append_equals_oneshot_random(spark, tmp_path):
    rnd = random.Random(7)
    edges = set()
    while len(edges) < 120:
        a, b = rnd.randrange(60), rnd.randrange(60)
        if a != b:
            edges.add((max(a, b), min(a, b)))
    edges = sorted(edges)
    parts = [edges[0::3], edges[1::3], edges[2::3]]
    store = str(tmp_path / "comp")
    build_components_store(
        spark.createDataFrame(parts[0], "a long, b long"), store)
    components_append(
        spark, store, spark.createDataFrame(parts[1], "a long, b long"))
    got = components_append(
        spark, store, spark.createDataFrame(parts[2], "a long, b long"))
    want, _ = star_connected_components(
        spark.createDataFrame(edges, "a long, b long"))
    assert _labels(got) == _labels(want)


def test_components_append_merges_and_relabels(spark, tmp_path):
    """Hand-checked lifecycle: a delta that BRIDGES two stored
    components relabels both to the joint minimum; a later delta
    introducing a SMALLER new node relabels the whole component to
    it; appending an edge inside one component is a no-op on labels."""
    store = str(tmp_path / "comp")
    base = spark.createDataFrame([(2, 1), (4, 3)], "a long, b long")
    got = build_components_store(base, store)
    assert _labels(got) == [(1, 1), (2, 1), (3, 3), (4, 3)]
    # bridge {1,2} and {3,4}
    got = components_append(
        spark, store, spark.createDataFrame([(3, 2)], "a long, b long"))
    assert _labels(got) == [(1, 1), (2, 1), (3, 1), (4, 1)]
    # new node 0 < every existing label
    got = components_append(
        spark, store, spark.createDataFrame([(4, 0)], "a long, b long"))
    assert _labels(got) == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0)]
    # intra-component edge: labels unchanged
    got = components_append(
        spark, store, spark.createDataFrame([(3, 1)], "a long, b long"))
    assert _labels(got) == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0)]


def test_components_append_batch_id_replay_is_noop(spark, tmp_path):
    store = str(tmp_path / "comp")
    build_components_store(
        spark.createDataFrame([(2, 1)], "a long, b long"), store)
    components_append(
        spark, store, spark.createDataFrame([(3, 2)], "a long, b long"),
        batch_id=0)
    meta1 = fsio.read_json(spark, store + "/meta.json")
    # replay: same labels, same version
    got = components_append(
        spark, store, spark.createDataFrame([(3, 2)], "a long, b long"),
        batch_id=0)
    assert fsio.read_json(spark, store + "/meta.json") == meta1
    assert _labels(got) == [(1, 1), (2, 1), (3, 1)]


@pytest.mark.parametrize("max_collect", [0, 1_000_000],
                         ids=["star", "driver"])
def test_components_append_star_runs_on_delta_not_history(
        spark, tmp_path, monkeypatch, max_collect):
    """The scale claim itself: the components pass inside an append
    sees only the CONTRACTED delta graph. Gate: append a single edge to
    a store built from a long chain -- the contracted graph has <= 2
    nodes, so star converges with ZERO rounds of work proportional to
    the 200-edge history (asserted via the merge map size implied by
    the label diff), and the result is still exact. Runs on both sides
    of the size switch."""
    monkeypatch.setattr(similarity, "MAX_COLLECT_EDGES", max_collect)
    store = str(tmp_path / "comp")
    chain = [(i + 1, i) for i in range(200)]
    build_components_store(
        spark.createDataFrame(chain, "a long, b long"), store)
    got = components_append(
        spark, store,
        spark.createDataFrame([(250, 100)], "a long, b long"))
    want, _ = star_connected_components(
        spark.createDataFrame(chain + [(250, 100)], "a long, b long"))
    assert _labels(got) == _labels(want)
    # every node (0..200 chain + 250) labeled 0
    assert {r["component"] for r in got.collect()} == {0}


def test_components_delta_versions_track_delta_not_nodes(
        spark, tmp_path):
    """The round-14 scale claim: an append writes ONLY the labels it
    touched -- bytes-per-append tracks |delta|, not |nodes| (round 13
    rewrote the full map every version)."""
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        components_read,
    )

    store = str(tmp_path / "comp")
    chain = [(i + 1, i) for i in range(500)]
    build_components_store(
        spark.createDataFrame(chain, "a long, b long"), store)
    # one edge joining a NEW node to the existing component: the delta
    # version holds exactly that one new label (the 501 chain labels
    # are all 0 already and must not be rewritten)
    got = components_append(
        spark, store,
        spark.createDataFrame([(900, 100)], "a long, b long"))
    assert spark.read.parquet(store + "/labels/v1").count() == 1
    assert got.count() == 502
    # an intra-component edge commits an (empty) version for replay
    # bookkeeping and changes nothing
    got = components_append(
        spark, store,
        spark.createDataFrame([(200, 100)], "a long, b long"))
    assert spark.read.parquet(store + "/labels/v2").count() == 0
    assert _labels(got) == _labels(components_read(spark, store))
    assert got.count() == 502


def test_components_compact_and_vacuum(spark, tmp_path):
    import os

    from automated_review_analysis_pipeline_spark.operators.similarity import (
        components_compact,
        components_read,
        components_vacuum,
    )

    store = str(tmp_path / "comp")
    build_components_store(
        spark.createDataFrame([(2, 1)], "a long, b long"), store)
    for i in (3, 4, 5):
        components_append(
            spark, store,
            spark.createDataFrame([(i, i - 1)], "a long, b long"))
    before = _labels(components_read(spark, store))
    # the delta chain (v1..v3) is live state: vacuum removes nothing
    assert components_vacuum(spark, store) == []
    assert _labels(components_read(spark, store)) == before
    # compact folds the chain into one full snapshot (v4, base=4)...
    got = components_compact(spark, store)
    assert _labels(got) == before
    meta = fsio.read_json(spark, store + "/meta.json")
    assert meta["version"] == 4 and meta["base"] == 4
    # ...after which the pre-base versions are droppable garbage
    assert components_vacuum(spark, store) == [0, 1, 2, 3]
    assert sorted(os.listdir(os.path.join(store, "labels"))) == ["v4"]
    assert _labels(components_read(spark, store)) == before
    # appends keep working against the re-based store
    got = components_append(
        spark, store, spark.createDataFrame([(9, 4)], "a long, b long"))
    assert _labels(got) == before + [(9, 1)]
    assert components_vacuum(spark, store) == []


def test_components_merge_law_hypothesis(spark):
    """Property: ANY partition of an edge set into deltas, appended in
    ANY order, yields the one-shot star labels exactly -- the
    contraction-preserves-connectivity law components_append rests on
    (labels are component minima; min of minima == global min)."""
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    rnd = random.Random(11)
    edges = set()
    while len(edges) < 150:
        a, b = rnd.randrange(70), rnd.randrange(70)
        if a != b:
            edges.add((max(a, b), min(a, b)))
    edges = sorted(edges)
    all_df = spark.createDataFrame(edges, "a long, b long") \
        .localCheckpoint(eager=True)
    want, _ = star_connected_components(all_df)
    want = _labels(want)

    @settings(max_examples=5, deadline=None)
    @given(n_parts=st.integers(2, 4), salt=st.integers(0, 10**6),
           order=st.permutations(range(4)))
    def check(n_parts, salt, order):
        store = tempfile.mkdtemp(prefix="arap_comp_hyp_") + "/store"
        part = F.pmod(F.xxhash64(F.col("a") * 131 + F.col("b") + salt),
                      F.lit(n_parts))
        parts = [all_df.where(part == i) for i in range(n_parts)]
        seq = [parts[i] for i in order if i < n_parts]
        # the first non-empty part seeds the store; empties are no-ops
        got = build_components_store(seq[0], store)
        for p in seq[1:]:
            got = components_append(spark, store, p)
        assert _labels(got) == want

    check()


def test_components_auto_compact_bounds_read_chain(spark, tmp_path):
    """auto_compact_every re-bases inline once the delta chain hits
    the bound, so the read-side fold never grows past K versions --
    labels stay exact throughout."""
    import os

    from automated_review_analysis_pipeline_spark.operators.similarity import (
        components_read,
    )

    store = str(tmp_path / "comp")
    build_components_store(
        spark.createDataFrame([(2, 1)], "a long, b long"), store)
    edges = [(2, 1)]
    for i in (3, 4, 5, 6, 7):
        edges.append((i, i - 1))
        components_append(
            spark, store,
            spark.createDataFrame([(i, i - 1)], "a long, b long"),
            auto_compact_every=3)
    meta = fsio.read_json(spark, store + "/meta.json")
    # chain length (version - base) stays strictly below the bound
    assert meta["version"] - meta["base"] < 3, meta
    assert meta["base"] > 0  # at least one inline re-base happened
    want, _ = star_connected_components(
        spark.createDataFrame(edges, "a long, b long"))
    assert _labels(components_read(spark, store)) == _labels(want)


def test_index_compact_dispatches_components_and_profile(
        spark, tmp_path):
    """index_compact is the one OPTIMIZE entry point: components
    stores re-base + vacuum, profile stores vacuum superseded
    versions -- results identical before/after."""
    from automated_review_analysis_pipeline_spark.operators.partitioning import (
        index_compact,
    )
    from automated_review_analysis_pipeline_spark.operators.quality import (
        build_profile_store,
        profile_append,
        profile_stats,
    )
    from automated_review_analysis_pipeline_spark.operators.similarity import (
        components_read,
    )

    comp = str(tmp_path / "comp")
    build_components_store(
        spark.createDataFrame([(2, 1)], "a long, b long"), comp)
    for i in (3, 4, 5):
        components_append(
            spark, comp,
            spark.createDataFrame([(i, i - 1)], "a long, b long"))
    before = _labels(components_read(spark, comp))
    report = index_compact(spark, comp)
    assert "labels" in report
    meta = fsio.read_json(spark, comp + "/meta.json")
    assert meta["base"] == meta["version"]
    assert _labels(components_read(spark, comp)) == before

    prof = str(tmp_path / "prof")
    d = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string")
    build_profile_store(d.where(F.col("doc_id") < 10), prof)
    for lo in (10, 15):
        profile_append(
            spark, prof,
            d.where((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 5)))
    stats_before = sorted(
        tuple(r) for r in profile_stats(spark, prof).collect())
    b, a = index_compact(spark, prof)["registers"]
    assert a < b
    assert sorted(tuple(r) for r in
                  profile_stats(spark, prof).collect()) == stats_before
