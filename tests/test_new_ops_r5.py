"""Round-5 operators: forward-backward/coloring SCC scale properties,
unigram-LM tokenizer training, sketch-costed link dispatch, suffix-array
substring dedup, and streaming incremental dedup."""

import pytest
from pyspark.sql import functions as F


def test_scc_giant_component_no_closure_sized_intermediate(spark):
    """A 24-node BIDIRECTIONAL ring is one giant SCC whose transitive
    closure holds 24*24 = 576 pairs; the coloring/FB implementation
    must never materialize a frame anywhere near that — every
    intermediate (colors, frontiers, reached sets, live edges) is
    O(V + E) = 72 rows. The stats hook records the largest frame."""
    from vectrain_spark.operators.graph import strongly_connected_components

    n = 24
    fwd = [(f"v{i:02d}", f"v{(i + 1) % n:02d}") for i in range(n)]
    edges = spark.createDataFrame(
        fwd + [(b, a) for a, b in fwd], "src string, dst string"
    )
    stats: dict = {}
    rows = strongly_connected_components(
        edges, stats=stats, small_graph_max_edges=0  # force the scale path
    ).collect()
    assert len(rows) == n
    assert {r["scc_id"] for r in rows} == {"v00"}
    assert all(r["scc_size"] == n for r in rows)
    v, e = n, 2 * n
    assert stats["max_frame_rows"] <= 2 * (v + e), stats
    assert stats["max_frame_rows"] < n * n / 4  # nowhere near the closure


def test_scc_chain_of_cycles_multiple_pivot_rounds(spark):
    """Five 4-cycles chained by one-way bridges: the condensation is a
    path, so coloring needs several outer rounds (upstream colors mask
    downstream roots) — exercises the remove-and-recurse loop, and every
    cycle must still come out as its own component."""
    from vectrain_spark.operators.graph import strongly_connected_components

    edges = []
    for c in range(5):
        ids = [f"c{c}n{j}" for j in range(4)]
        edges += [(ids[j], ids[(j + 1) % 4]) for j in range(4)]
        if c < 4:
            edges.append((f"c{c}n0", f"c{c + 1}n0"))  # one-way bridge
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r
        for r in strongly_connected_components(
            e, small_graph_max_edges=0  # force the scale path
        ).collect()
    }
    assert len(got) == 20
    for c in range(5):
        ids = {f"c{c}n{j}" for j in range(4)}
        assert {got[i]["scc_id"] for i in ids} == {f"c{c}n0"}
        assert all(got[i]["scc_size"] == 4 for i in ids)


def test_bowtie_reach_sweeps_no_closure(spark):
    """Bow-tie over a core cycle with a long IN chain and a long OUT
    chain (depth 15 each — past the old 12-hop closure cap): the BFS
    sweeps run to drain, so the full chains classify as in/out, and the
    largest materialized frame stays linear."""
    from vectrain_spark.operators.graph import bowtie_classes

    core = [(f"k{i}", f"k{(i + 1) % 3}") for i in range(3)]
    chain_in = [(f"i{j}", f"i{j + 1}") for j in range(14)] + [("i14", "k0")]
    chain_out = [("k1", "o0")] + [(f"o{j}", f"o{j + 1}") for j in range(14)]
    e = spark.createDataFrame(
        core + chain_in + chain_out, "src string, dst string"
    )
    stats: dict = {}
    got = {r["node"]: r["cls"] for r in bowtie_classes(e, stats=stats).collect()}
    assert {got[f"k{i}"] for i in range(3)} == {"core"}
    assert {got[f"i{j}"] for j in range(15)} == {"in"}
    assert {got[f"o{j}"] for j in range(15)} == {"out"}
    n_nodes, n_edges = 33, len(core + chain_in + chain_out)
    assert stats["max_frame_rows"] <= 2 * (n_nodes + n_edges), stats


def test_unigram_lm_segmentations_cover_and_scores_drop_unused(spark):
    """A toy corpus where 'abab' repeats: the seed vocabulary holds every
    <=4-char substring; after EM the winning pieces must (a) concatenate
    back to their words exactly (the Viterbi fold is a full-cover DP) and
    (b) carry counts that sum to the corpus's segmented piece mass —
    while pieces no winning path uses drop out of the table."""
    from vectrain_spark.operators.textstats import (
        UNIGRAM_CAP,
        _unigram_viterbi,
        _unigram_words,
        unigram_lm_train,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab cd cd"), (3, "ababab")],
        "doc_id long, text string",
    )
    pieces = unigram_lm_train(docs, iters=2, top_n=100)
    rows = pieces.collect()
    assert rows, "empty piece table"
    got = {r["piece"]: r["cnt"] for r in rows}
    # every surviving piece is a substring of some corpus word
    for p in got:
        assert any(p in w for w in ("abab", "cd", "ababab")), p
    # segmentations reassemble their words and only use surviving pieces
    segs = _unigram_viterbi(
        _unigram_words(docs), pieces
    ).collect()
    for r in segs:
        assert "".join(r["seg"].split(" ")) == r["w"][:UNIGRAM_CAP]
        for p in r["seg"].split(" "):
            assert p in got, (r["w"], r["seg"], p)
    # piece usage mass equals segmented mass (counts are f-weighted)
    seg_mass = sum(len(r["seg"].split(" ")) * r["f"] for r in segs)
    assert sum(got.values()) == seg_mass


def test_unigram_lm_deterministic_across_runs(spark):
    """Two independent trainings over the same frame produce the
    identical table — quantized BIGINT scores leave no float path."""
    from vectrain_spark.operators.textstats import unigram_lm_train

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} shared tokens w{i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, unigram_lm_train(docs).collect()))
    b = sorted(map(tuple, unigram_lm_train(docs).collect()))
    assert a == b


def test_costed_linker_dispatch_flips_between_regimes(spark):
    """The sketch-costed dispatch (VERDICT r4 ask #5) must flip on the
    estimated exact-hit rate: surfaces drawn FROM the dictionary ->
    'join' (exact stage resolves everything, skip the broadcast build);
    novel surfaces -> 'broadcast' (misses dominate). Both chosen paths
    must produce the identical links the other path would."""
    from vectrain_spark.operators.linking import (
        make_costed_linker,
        make_linker,
    )
    from vectrain_spark.operators.webcorpus import corpus_aliases

    aliases = corpus_aliases(spark)

    hits = spark.createDataFrame(
        [(f"Vendor{i % 7}",) for i in range(20)]
        + [(f"Client{i % 13}",) for i in range(20)],
        "surface string",
    )
    linker, strategy, info = make_costed_linker(spark, hits, aliases)
    assert strategy == "join", info
    assert info["est_sum"] * 2 >= info["n_surfaces"] * info["est_scale"]

    misses = spark.createDataFrame(
        [(f"zz-novel-{i}",) for i in range(40)], "surface string"
    )
    linker_b, strategy_b, info_b = make_costed_linker(spark, misses, aliases)
    assert strategy_b == "broadcast", info_b

    # chosen paths agree with the opposite physical strategy on links
    n = aliases.count()
    bc, _ = make_linker(spark, aliases, n)
    got = {
        (r["surface"], r["entity_id"])
        for r in linker(hits.distinct()).collect()
    }
    want = {
        (r["surface"], r["entity_id"])
        for r in bc(hits.distinct()).collect()
    }
    assert got == want

    # the hard memory bound can never be overridden by the estimate
    _, strategy_c, info_c = make_costed_linker(
        spark, misses, aliases, broadcast_dict_max=1
    )
    assert strategy_c == "join"
    assert info_c["reason"] == "dict exceeds broadcast budget"


def test_suffix_dup_spans_maximal_exact_offsets(spark):
    """Planted duplication: a whole-document copy must surface as ONE
    maximal span covering every token; an offset-shifted excerpt as a
    span whose a/b starts differ by exactly the shift; below-threshold
    overlap yields nothing."""
    from vectrain_spark.operators.dedup import suffix_dup_spans

    base = " ".join(f"tok{i:03d}" for i in range(40))  # 40 tokens
    shifted = "x1 x2 x3 " + " ".join(f"tok{i:03d}" for i in range(10, 40))
    short = " ".join(f"tok{i:03d}" for i in range(12)) + " other tail here"
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (3, shifted), (4, short), (5, "unrelated words only")],
        "doc_id long, text string",
    )
    rows = suffix_dup_spans(corpus, min_match=20).collect()
    spans = {(r["a"], r["b"]): r for r in rows}

    full = spans[(1, 2)]
    assert (full["a_start"], full["b_start"], full["match_len"]) == (1, 1, 40)

    # doc3 = 3 junk tokens + tokens 10..39 of base: shared run is 30 tokens,
    # starting at base position 11 (1-based) and shifted position 4.
    sh = spans[(1, 3)]
    assert (sh["a_start"], sh["b_start"], sh["match_len"]) == (11, 4, 30)
    assert spans[(2, 3)]["match_len"] == 30

    # doc4 shares only 12 tokens with base — below min_match, absent.
    assert not any(4 in k for k in spans)
    assert not any(5 in k for k in spans)


def test_suffix_dup_spans_internal_repeat_two_diagonals(spark):
    """A document that contains the same passage twice pairs with a
    single-copy document along TWO diagonals — the run-merge must keep
    them as separate maximal spans, not fuse them."""
    from vectrain_spark.operators.dedup import suffix_dup_spans

    passage = " ".join(f"p{i:02d}" for i in range(20))
    corpus = spark.createDataFrame(
        [(1, passage), (2, passage + " mid break word " + passage)],
        "doc_id long, text string",
    )
    rows = suffix_dup_spans(corpus, min_match=20).collect()
    assert len(rows) == 2
    starts = sorted((r["a_start"], r["b_start"], r["match_len"]) for r in rows)
    assert starts == [(1, 1, 20), (1, 24, 20)]


def _write_wave(df, in_dir, i):
    import os
    import shutil

    stage = f"{in_dir}_stage{i}"
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    dst = f"{in_dir}/wave{i}.parquet"
    shutil.move(f"{stage}/{part}", dst)
    os.utime(dst, (1_700_000_000 + 60 * i,) * 2)


def test_stream_dedup_equals_batch_incremental(spark, tmp_path):
    """Replaying waves through start_dedup_ingest must emit exactly the
    pairs the batch incremental path finds wave by wave."""
    import os

    from vectrain_spark.catalog import Catalog
    from vectrain_spark.operators.dedup import incremental_minhash_pairs
    from vectrain_spark.streaming import start_dedup_ingest

    base = " ".join(f"w{i:02d}" for i in range(30))
    w0 = spark.createDataFrame(
        [(1, base), (2, base + " tail one"), (3, "totally different words " * 8)],
        "doc_id long, text string",
    )
    w1 = spark.createDataFrame(
        [(10, base), (11, "fresh unrelated content " * 7), (12, base)],
        "doc_id long, text string",
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _write_wave(w0, in_dir, 0)
    _write_wave(w1, in_dir, 1)

    q = start_dedup_ingest(
        spark, in_dir, str(tmp_path / "cat"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    got = {
        (r["a"], r["b"], r["jaccard"], r["wave"])
        for r in Catalog(str(tmp_path / "cat"))
        .read(spark, "dedup_pairs")
        .collect()
    }

    empty = spark.createDataFrame([], "doc_id long, text string")
    batch0 = incremental_minhash_pairs(empty, w0)
    batch1 = incremental_minhash_pairs(w0, w1)
    want = {
        (r["a"], r["b"], r["jaccard"], i)
        for i, b in enumerate([batch0, batch1])
        for r in b.collect()
    }
    assert got == want
    assert any(w == 1 for _, _, _, w in got)  # cross-wave matches exist


def test_stream_dedup_crash_replay_completes_index_without_dup_pairs(
    spark, tmp_path
):
    """Crash after batch 0's pairs commit, before its index appends: the
    replay must finish the index tables without re-emitting pairs, and
    later waves must still dedup against the completed index."""
    import os

    import pytest as _pytest

    from vectrain_spark.catalog import Catalog
    from vectrain_spark.streaming import start_dedup_ingest

    base = " ".join(f"q{i:02d}" for i in range(25))
    w0 = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string"
    )
    w1 = spark.createDataFrame([(10, base)], "doc_id long, text string")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _write_wave(w0, in_dir, 0)
    _write_wave(w1, in_dir, 1)

    out = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    q = start_dedup_ingest(
        spark, in_dir, out, ckpt, _test_fail_between_commits=0
    )
    with _pytest.raises(Exception):
        q.awaitTermination(300)
    cat = Catalog(out)
    assert cat.exists("dedup_pairs") and not cat.exists("dedup_sigs")

    q2 = start_dedup_ingest(spark, in_dir, out, ckpt)
    q2.awaitTermination(300)
    pairs = cat.read(spark, "dedup_pairs").collect()
    got = sorted((r["a"], r["b"], r["wave"]) for r in pairs)
    assert got == [(2, 1, 0), (10, 1, 1), (10, 2, 1)]
    assert len(pairs) == len(set(got))  # no double-appended pairs
    assert cat.read(spark, "dedup_sigs").select("doc_id").distinct().count() == 3


def _tarjan_sccs(nodes, edge_list):
    """Reference SCC: iterative Tarjan over adjacency lists."""
    adj = {n: [] for n in nodes}
    for a, b in edge_list:
        adj[a].append(b)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comp_of = {}
    counter = [0]

    def strongconnect(v0):
        work = [(v0, iter(adj[v0]))]
        index[v0] = low[v0] = counter[0]
        counter[0] += 1
        stack.append(v0)
        on_stack.add(v0)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj[w])))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                root = min(comp)
                for w in comp:
                    comp_of[w] = (root, len(comp))

    for n in nodes:
        if n not in index:
            strongconnect(n)
    return comp_of


def test_scc_randomized_against_tarjan(spark):
    """Seeded random digraphs (mixed density, self-loops, isolated-ish
    tails) cross-checked node-for-node against an in-test Tarjan: the
    coloring implementation must agree on every scc_id and scc_size."""
    import random

    from vectrain_spark.operators.graph import strongly_connected_components

    for seed, n, m in [(7, 18, 30), (11, 25, 60), (13, 30, 35)]:
        rng = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(n)]
        edge_list = list(
            {
                (rng.choice(nodes), rng.choice(nodes))
                for _ in range(m)
            }
        )
        edge_list.sort()
        want = _tarjan_sccs(nodes, edge_list)
        edges = spark.createDataFrame(edge_list, "src string, dst string")
        got = {
            r["node"]: (r["scc_id"], r["scc_size"])
            for r in strongly_connected_components(
                edges, small_graph_max_edges=0  # force the scale path
            ).collect()
        }
        touched = {a for a, _ in edge_list} | {b for _, b in edge_list}
        for v in touched:
            assert got[v] == want[v], (seed, v, got[v], want[v])


def test_scc_small_graph_dispatch_matches_scale_path(spark):
    """The round-6 cost-based dispatch (driver Tarjan at or under
    SCC_SMALL_GRAPH_EDGES deduped pairs, distributed FB coloring above)
    must be invisible in the results: identical rows AND schema from
    both paths on the same graph — self-loops, bridges, and singleton-
    component tails included."""
    from vectrain_spark.operators.graph import strongly_connected_components

    edges = []
    for c in range(3):
        ids = [f"c{c}n{j}" for j in range(4)]
        edges += [(ids[j], ids[(j + 1) % 4]) for j in range(4)]
    edges += [("c0n0", "c1n0"), ("x0", "x0"), ("c2n1", "y0")]
    e = spark.createDataFrame(edges, "src string, dst string")
    local = strongly_connected_components(e)  # n_pairs << threshold
    dist = strongly_connected_components(e, small_graph_max_edges=0)
    assert local.schema == dist.schema
    key = lambda r: (r["node"], r["scc_id"], r["scc_size"])  # noqa: E731
    assert sorted(map(key, local.collect())) == sorted(map(key, dist.collect()))


def test_scc_colors_ignores_dangling_edge_targets(spark):
    """An edge whose dst lies outside the node set must not add a phantom
    color row: the coloring emits exactly one row per input node."""
    from vectrain_spark.operators.graph import _scc_colors

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 99)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    got = sorted(r["node"] for r in _scc_colors(edges, nodes).collect())
    assert got == [1, 2]
