"""C2/C3: connected components vs union-find oracle, hub skew, dedup."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from vectrain_spark.operators.canonicalize import (
    connected_components,
    dedup_triples,
    edges_from_aliases,
)
from vectrain_spark.oracle import union_find_canon


def _cc_dict(spark, edges):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    return {r["id"]: r["canon"] for r in connected_components(df).collect()}


def test_cc_tiny_chain(spark):
    # 1-2-3-4 chain and isolated pair 10-11
    got = _cc_dict(spark, [(2, 1), (3, 2), (4, 3), (11, 10)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_hub_skew(spark):
    """One hub connected to 500 nodes plus a long path — converges in
    O(log n) rounds without straggler blowup (SURVEY.md §5.2 item 5).
    Forces the distributed star contraction (the property under test is
    the scale path, not the small-graph union-find dispatch)."""
    edges = [(1, i) for i in range(2, 502)]  # star on hub 1
    edges += [(i, i + 1) for i in range(600, 700)]  # path component
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {
        r["id"]: r["canon"]
        for r in connected_components(df, small_graph_max_edges=0).collect()
    }
    assert all(got[i] == 1 for i in range(1, 502))
    assert all(got[i] == 600 for i in range(600, 701))


def test_cc_small_graph_dispatch_matches_scale_path(spark):
    """The round-6 cost-based dispatch (driver union-find at or under
    CC_SMALL_GRAPH_EDGES deduped pairs, star contraction above) must be
    invisible in the results: identical (id, canon) rows from both paths,
    self-loops and singletons included."""
    edges = [(2, 1), (3, 2), (4, 3), (11, 10), (7, 7), (20, 21), (21, 20)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    local = {(r["id"], r["canon"]) for r in connected_components(df).collect()}
    dist = {
        (r["id"], r["canon"])
        for r in connected_components(df, small_graph_max_edges=0).collect()
    }
    assert local == dist


def test_cc_scale_path_leaves_no_cached_blocks(spark):
    """The star-contraction path releases every working checkpoint: once
    its result is collected, the status store holds no cached RDD the
    call created except the returned mapping's own, which the caller
    frees with release_checkpoint."""
    from vectrain_spark.session import release_checkpoint

    def cached_rdds():
        return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    edges = [(2, 1), (3, 2), (4, 3), (11, 10), (7, 7), (20, 21), (21, 20)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    before = cached_rdds()
    out = connected_components(df, small_graph_max_edges=0)
    assert len(out.collect()) == 9
    assert cached_rdds() - before == {out._fresh_ckpt_jrdd.id()}
    release_checkpoint(out)
    assert cached_rdds() - before == set()


def test_cc_matches_union_find_on_aliases(spark, aliases_df, small_fixture):
    _, _, aliases = small_fixture
    mapping = {
        r["id"]: r["canon"]
        for r in connected_components(edges_from_aliases(aliases_df)).collect()
    }
    want = union_find_canon(aliases)
    # CC mapping only contains nodes with at least one edge; others are
    # identity in both representations
    for eid, canon in want.items():
        assert mapping.get(eid, eid) == canon
    for eid, canon in mapping.items():
        assert want.get(eid, eid) == canon


def test_cc_deterministic_across_parallelism(spark, aliases_df):
    """Determinism invariant (SURVEY.md §5.2 item 3): same result when the
    input partitioning is completely different."""
    e = edges_from_aliases(aliases_df)
    a = {
        (r["id"], r["canon"])
        for r in connected_components(e.repartition(1)).collect()
    }
    b = {
        (r["id"], r["canon"])
        for r in connected_components(e.repartition(13)).collect()
    }
    assert a == b


def test_dedup_triples(spark):
    pdf = pd.DataFrame(
        {
            "subj_canon": [1, 1, 1, 2],
            "pred": ["acquired", "acquired", "acquired", "works_for"],
            "obj_canon": [5, 5, 5, 7],
            "url": ["https://b", "https://a", "https://c", "https://z"],
        }
    )
    out = dedup_triples(spark.createDataFrame(pdf)).collect()
    rows = {(r["subj_canon"], r["pred"], r["obj_canon"]): (r["cnt"], r["sample_url"]) for r in out}
    assert rows == {
        (1, "acquired", 5): (3, "https://a"),
        (2, "works_for", 7): (1, "https://z"),
    }
