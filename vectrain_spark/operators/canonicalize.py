"""C2/C3 — canonicalization: connected components + triple dedup.

No analog exists in the reference (it has no joins or aggregations at all —
verified absent, SURVEY.md §2.2); this stage is mandated by BASELINE.json
north_rule ("GraphFrames-style iterative DataFrame joins with salted keys
for hub-entity skew").

Connected components = alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), expressed as
DataFrame programs:

* every per-node min is a two-phase ``groupBy().min()`` — Spark's partial
  (map-side) aggregation collapses a hub node's neighbor list inside each
  map task before any exchange, which IS the salting strategy for
  aggregation skew (no explicit salt column needed for an algebraic min);
* the min-label join back onto the (skewed) edge list is covered by AQE
  skew-join splitting (enabled in session.py);
* each iteration is checkpointed (``session.fresh_checkpoint``) to
  truncate lineage, otherwise the plan grows exponentially with
  iterations, and released once the next round supersedes it — only the
  returned mapping's blocks outlive the call;
* convergence is O(log n) rounds; checked by an edge-set checksum.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Deduped edge sets at or under this count are solved with a driver-side
# union-find instead of paying O(log n) star-contraction rounds, each a
# full job submission (~0.4 s floor measured on local[32]) — the same
# cost-based dispatch strongly_connected_components applies via
# SCC_SMALL_GRAPH_EDGES.
# Both paths emit the identical (id, canon) mapping (pytest-asserted);
# the distributed star contraction remains the scale path.
CC_SMALL_GRAPH_EDGES = int(
    _os.environ.get("VECTRAIN_CC_SMALL_GRAPH_EDGES", "1000000")
)


def _union_find_local(pairs) -> list[tuple]:
    """Driver-side union-find over collected (src, dst) pairs -> one
    (id, canon) tuple per touched node, canon = component minimum (the
    min node stays root under union-by-min, exactly the star
    contraction's converged labeling)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    return [(n, find(n)) for n in parent]


def edges_from_aliases(aliases: DataFrame) -> DataFrame:
    """Entity-merge edges: entities sharing an alias surface.

    Star-shaped (everyone -> per-alias min), not a clique — O(group size)
    edges per shared alias, so a hub alias shared by k entities emits k-1
    edges, not k^2.
    """
    amin = aliases.groupBy("alias").agg(F.min("entity_id").alias("root"))
    return (
        aliases.join(amin, "alias")
        .filter(F.col("entity_id") != F.col("root"))
        .select(F.col("entity_id").alias("src"), F.col("root").alias("dst"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", "src").alias("m"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    o = (
        e.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    mins = o.groupBy("a").agg(F.min("b").alias("m"))
    part1 = (
        o.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("src"), F.col("m").alias("dst"))
    )
    part2 = mins.select(F.col("a").alias("src"), F.col("m").alias("dst"))
    return part1.unionAll(part2).filter(F.col("src") != F.col("dst")).distinct()


def _checksum(e: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive, overflow-free under ANSI mode
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    small_graph_max_edges: int | None = None,
) -> DataFrame:
    """(src, dst) undirected edges -> (id, canon) for every node, where
    canon = min node id in the component (roots map to themselves).

    Cost-based dispatch (round-6): the deduped edge set is counted
    first; at or under ``small_graph_max_edges`` (default
    CC_SMALL_GRAPH_EDGES) the pairs are collected and solved with
    driver-side union-find — identical mapping, none of the per-round
    job-submission floor. The star contraction below remains the scale
    path."""
    if small_graph_max_edges is None:
        small_graph_max_edges = CC_SMALL_GRAPH_EDGES
    from ..session import collect_and_solve, fresh_checkpoint, release_checkpoint

    mapping, e_all, _ = collect_and_solve(
        edges.select("src", "dst").distinct(),
        small_graph_max_edges,
        lambda pdf: _union_find_local(zip(pdf["src"].tolist(), pdf["dst"].tolist())),
        [("id", None), ("canon", None)],
    )
    if mapping is not None:
        return mapping
    nodes = fresh_checkpoint(
        e_all.select(F.col("src").alias("id"))
        .unionAll(e_all.select(F.col("dst").alias("id")))
        .distinct()
    )
    e = fresh_checkpoint(e_all.filter(F.col("src") != F.col("dst")))
    release_checkpoint(e_all)
    prev = None
    for _ in range(max_iter):
        nxt = fresh_checkpoint(_small_star(_large_star(e)))
        release_checkpoint(e)
        e = nxt
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # converged: every non-root has exactly one edge to its component min
    labels = e.select(F.col("src").alias("id"), F.col("dst").alias("canon"))
    mapping = fresh_checkpoint(
        nodes.join(labels, "id", "left").select(
            "id", F.coalesce("canon", "id").alias("canon")
        )
    )
    # the mapping is the only block set that outlives the call
    release_checkpoint(nodes)
    release_checkpoint(e)
    return mapping


def apply_canonical(
    triples: DataFrame,
    linked_mentions: DataFrame,
    mapping: DataFrame,
    broadcast: bool = True,
) -> DataFrame:
    """Extracted triples -> canonical triples: the link -> canonicalize step.

    ``linked_mentions`` (surface, entity_id) resolves each triple's subj
    and obj surface to subj_id/obj_id (inner joins: a triple whose
    surface has no link row is dropped); ``mapping`` (id, canon) then maps
    both ids to subj_canon/obj_canon. Fallback ids (mentions linked to no
    dictionary entity) are their own canonical form via coalesce.

    Both sides are dictionary-sized: when the dictionary fits an executor
    (``broadcast=True``, the common case) all four joins carry an explicit
    broadcast hint — zero shuffle on the triple stream. Beyond broadcast
    size the hints are dropped and the joins plan as shuffle joins, with
    AQE free to downgrade back to broadcast from the RUNTIME size — the
    same dispatch rule as linking (pipeline.broadcast_dict_max).
    """
    subj_map = linked_mentions.select(
        F.col("surface").alias("subj"), F.col("entity_id").alias("subj_id")
    )
    obj_map = linked_mentions.select(
        F.col("surface").alias("obj"), F.col("entity_id").alias("obj_id")
    )
    ms = mapping.withColumnRenamed("id", "subj_id").withColumnRenamed("canon", "subj_canon")
    mo = mapping.withColumnRenamed("id", "obj_id").withColumnRenamed("canon", "obj_canon")
    if broadcast:
        subj_map, obj_map = F.broadcast(subj_map), F.broadcast(obj_map)
        ms, mo = F.broadcast(ms), F.broadcast(mo)
    return (
        triples.join(subj_map, "subj")
        .join(obj_map, "obj")
        .join(ms, "subj_id", "left")
        .join(mo, "obj_id", "left")
        .withColumn("subj_canon", F.coalesce("subj_canon", "subj_id"))
        .withColumn("obj_canon", F.coalesce("obj_canon", "obj_id"))
    )


def dedup_triples(canon_triples: DataFrame) -> DataFrame:
    """C3: canonical-triple dedup with provenance counts.

    Fixes the reference's duplicate-on-rerun sink semantics (random UUID per
    upsert, /root/reference/internal/app/storages/qdrant/store.go:32, TODO
    at :45): the triple key is content-deterministic, so re-runs converge
    to the same table.
    """
    return canon_triples.groupBy("subj_canon", "pred", "obj_canon").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("url").alias("sample_url"),
    )


def incremental_components(labels: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental connected components: fold a wave of NEW edges into an
    existing (id, canon) labeling WITHOUT re-clustering the old graph ->
    the updated (id, canon) mapping, provably identical to batch
    :func:`connected_components` over old ∪ new edges.

    This is the canonicalization shape that actually survives 10^12
    documents: waves arrive (run_incremental), and re-running CC over the
    full accumulated entity graph per wave is O(corpus) every time. The
    super-node contraction trick makes the per-wave cost O(wave):

    1. contract every existing component to its label — map each new
       edge's endpoints through ``labels`` (endpoints never seen before
       label themselves);
    2. run CC on the contracted edge list — a graph with at most
       2x|wave| nodes, independent of corpus size;
    3. re-map old labels through the contraction result (one broadcast
       or co-partitioned join over the label table).

    Equality with batch CC holds because each old canon is the MIN id of
    its component, so the min over merged super-nodes is the min over
    the merged components' members — the same label batch CC assigns.
    No iteration ever touches the full graph; the only corpus-sized
    frames are the label table joins (hash joins on the label key).
    """
    ls = labels.select(
        F.col("id").alias("src"), F.col("canon").alias("src_lab")
    )
    ld = labels.select(
        F.col("id").alias("dst"), F.col("canon").alias("dst_lab")
    )
    contracted = (
        new_edges.select("src", "dst")
        .distinct()
        .join(ls, "src", "left")
        .join(ld, "dst", "left")
        .select(
            F.coalesce("src_lab", "src").alias("src"),
            F.coalesce("dst_lab", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    sup = connected_components(contracted).select(
        F.col("id").alias("canon"), F.col("canon").alias("merged")
    )
    updated = labels.join(sup, "canon", "left").select(
        "id", F.coalesce("merged", "canon").alias("canon")
    )
    known = labels.select("id")
    new_nodes = (
        new_edges.select(F.col("src").alias("id"))
        .unionAll(new_edges.select(F.col("dst").alias("id")))
        .distinct()
        .join(known, "id", "left_anti")
    )
    new_rows = (
        new_nodes.withColumn("canon", F.col("id"))
        .join(sup, "canon", "left")
        .select("id", F.coalesce("merged", "canon").alias("canon"))
    )
    return updated.unionByName(new_rows)
