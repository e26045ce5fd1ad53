"""End-to-end pipeline: P/R vs oracle, determinism across parallelism,
crash-resume (Z3), idempotent re-run, lineage (Z2)."""

from __future__ import annotations

import pytest

from vectrain_spark.catalog import Catalog
from vectrain_spark.oracle import prf
from vectrain_spark.pipeline import InjectedFailure, PipelineConfig, run_pipeline


def _canon_set(spark, root):
    cat = Catalog(root)
    return set(
        map(
            tuple,
            cat.read(spark, "canonical_triples")
            .select("subj_canon", "pred", "obj_canon")
            .toPandas()
            .values,
        )
    )


@pytest.fixture(scope="module")
def full_run(spark, pages_df, aliases_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg_full"))
    stats = run_pipeline(spark, pages_df, aliases_df, root, PipelineConfig(n_groups=4))
    return root, stats


def test_pipeline_pr_vs_oracle(spark, full_run, golden):
    root, _ = full_run
    got = _canon_set(spark, root)
    want = set(
        map(
            tuple,
            golden["canonical_triples"][["subj_canon", "pred", "obj_canon"]].values,
        )
    )
    p, r = prf(got, want)
    # north_rule budget is 0.95/0.95; exact-match linking + lossless LSH on
    # identical embeddings makes this deterministic 1.0 on the fixture
    assert p >= 0.95 and r >= 0.95
    assert p == 1.0 and r == 1.0


def test_lineage_accounts_for_every_page(spark, full_run, small_fixture):
    root, _ = full_run
    pages, _, _ = small_fixture
    cat = Catalog(root)
    lin = cat.read(spark, "lineage").toPandas()
    assert lin["pages"].sum() == len(pages)
    assert lin["errors"].sum() == int(pages["text"].isna().sum())
    assert (lin["bytes"] > 0).all()
    assert set(lin.columns) >= {
        "part_id",
        "pages",
        "errors",
        "bytes",
        "extract_wall_sec",
        "triples",
        "group_id",
        "committed_at",
    }
    tri = cat.read(spark, "triples")
    assert lin["triples"].sum() == tri.count()


def test_crash_resume_equals_uninterrupted(
    spark, pages_df, aliases_df, full_run, tmp_path_factory
):
    root, _ = full_run
    want = _canon_set(spark, root)
    root2 = str(tmp_path_factory.mktemp("kg_resume"))
    with pytest.raises(InjectedFailure):
        run_pipeline(
            spark,
            pages_df,
            aliases_df,
            root2,
            PipelineConfig(n_groups=4),
            fail_after_groups=2,
        )
    stats = run_pipeline(spark, pages_df, aliases_df, root2, PipelineConfig(n_groups=4))
    assert sorted(stats["resumed_from"]) == [0, 1]
    assert len(stats["groups"]) == 2  # only the pending groups ran
    assert _canon_set(spark, root2) == want


def test_rerun_is_idempotent(spark, pages_df, aliases_df, full_run):
    root, _ = full_run
    want = _canon_set(spark, root)
    stats = run_pipeline(spark, pages_df, aliases_df, root, PipelineConfig(n_groups=4))
    assert stats["groups"] == []  # nothing re-processed
    assert _canon_set(spark, root) == want


def test_determinism_across_parallelism(
    spark, pages_df, aliases_df, full_run, tmp_path_factory
):
    """SURVEY.md §5.2 item 3: different partition counts, identical triples."""
    root, _ = full_run
    want = _canon_set(spark, root)
    root2 = str(tmp_path_factory.mktemp("kg_par"))
    run_pipeline(
        spark,
        pages_df.repartition(3),
        aliases_df,
        root2,
        PipelineConfig(n_groups=2),
    )
    assert _canon_set(spark, root2) == want


def test_quarantine_never_reaches_triples(spark, full_run):
    root, _ = full_run
    cat = Catalog(root)
    quarantined_urls = {r["url"] for r in cat.read(spark, "quarantine").collect()}
    assert quarantined_urls  # fixture plants bad pages
    triple_urls = {r["url"] for r in cat.read(spark, "triples").select("url").distinct().collect()}
    assert not (quarantined_urls & triple_urls)


def test_config_change_resume_never_mixes_groupings(
    spark, pages_df, aliases_df, full_run, tmp_path_factory
):
    """A partial run with n_groups=4 followed by a re-run with n_groups=2
    into the SAME out_root must prune the stale-fingerprint snapshots and
    produce exactly the uninterrupted result (regression: snapshot-based
    recovery used to trust group numbers across config changes)."""
    root, _ = full_run
    want = _canon_set(spark, root)
    want_n = Catalog(root).read(spark, "triples").count()
    root2 = str(tmp_path_factory.mktemp("kg_cfgchange"))
    with pytest.raises(InjectedFailure):
        run_pipeline(
            spark, pages_df, aliases_df, root2,
            PipelineConfig(n_groups=4), fail_after_groups=2,
        )
    stats = run_pipeline(spark, pages_df, aliases_df, root2, PipelineConfig(n_groups=2))
    assert stats["resumed_from"] == []  # nothing carried across the config change
    assert len(stats["groups"]) == 2
    assert _canon_set(spark, root2) == want
    assert Catalog(root2).read(spark, "triples").count() == want_n  # no stale rows mixed in


def test_config_switch_back_does_not_resurrect_pruned_groups(
    spark, pages_df, aliases_df, full_run, tmp_path_factory
):
    """A -> B -> A into the same out_root: config A's group commits are
    pruned during the B run, so the second A run must NOT treat those dead
    snapshots as done (regression: the done-scan matched on fingerprint
    alone, skipping groups whose data had been pruned and leaving B's
    grouping in the final A output)."""
    root, _ = full_run  # reference result for config A (n_groups=2)
    want = _canon_set(spark, root)
    want_n = Catalog(root).read(spark, "triples").count()
    root3 = str(tmp_path_factory.mktemp("kg_switchback"))
    cfg_a = PipelineConfig(n_groups=2)
    cfg_b = PipelineConfig(n_groups=4)
    run_pipeline(spark, pages_df, aliases_df, root3, cfg_a)   # full A run
    run_pipeline(spark, pages_df, aliases_df, root3, cfg_b)   # full B run (prunes A)
    stats = run_pipeline(spark, pages_df, aliases_df, root3, cfg_a)  # back to A
    # A's original commits are dead (pruned by the B run) — every A group
    # must actually re-run, and the result must equal a clean A run
    assert stats["resumed_from"] == []
    assert len(stats["groups"]) == 2
    assert _canon_set(spark, root3) == want
    assert Catalog(root3).read(spark, "triples").count() == want_n


def test_stop_between_groups_then_resume(
    spark, pages_df, aliases_df, full_run, tmp_path_factory, monkeypatch
):
    """A stop requested while the first of two groups runs takes effect
    before the second: exactly one group commits, finalize is deferred,
    and the resumed run equals an uninterrupted one."""
    from vectrain_spark import pipeline
    from vectrain_spark.monitor import clear_stop, request_stop

    root, _ = full_run
    want = _canon_set(spark, root)
    root2 = str(tmp_path_factory.mktemp("kg_stop_mid"))
    cfg = PipelineConfig(n_groups=2)
    real_run_group = pipeline._run_group

    def run_group_then_stop(*args, **kwargs):
        out = real_run_group(*args, **kwargs)
        request_stop(root2)
        return out

    monkeypatch.setattr(pipeline, "_run_group", run_group_then_stop)
    stats = run_pipeline(spark, pages_df, aliases_df, root2, cfg)
    monkeypatch.setattr(pipeline, "_run_group", real_run_group)
    assert stats["stopped_early"] is True
    assert [g["group"] for g in stats["groups"]] == [0]
    assert stats["total_triples"] is None
    cat = Catalog(root2)
    assert {s["meta"].get("group") for s in cat.snapshots("triples")} == {0}
    assert not cat.exists("canonical_triples")  # finalize deferred

    clear_stop(root2)
    stats2 = run_pipeline(spark, pages_df, aliases_df, root2, cfg)
    assert stats2["resumed_from"] == [0]
    assert [g["group"] for g in stats2["groups"]] == [1]
    assert stats2.get("stopped_early", False) is False
    assert _canon_set(spark, root2) == want


def test_scale_path_mapping_matches_and_leaves_no_cached_blocks(
    spark, pages_df, aliases_df, full_run, tmp_path_factory, monkeypatch
):
    """Both branches of the pipeline's canonical-mapping dispatch: with
    the dictionary over broadcast_dict_max (join-path linker, no collected
    alias frame) and CC forced onto star contraction, the canonical
    triples equal the default run's — and no cached RDD the run created
    outlives it."""
    from vectrain_spark import pipeline
    from vectrain_spark.operators import canonicalize

    root, _ = full_run
    want = _canon_set(spark, root)
    pages_df.count(), aliases_df.count()  # session fixtures' own caches

    def cached_rdds():
        return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    # hold every mapping the run computes, so only an explicit release —
    # not garbage collection of a dropped frame — can free its blocks
    mappings = []
    real_cc = pipeline.connected_components

    def kept_cc(edges):
        mappings.append(real_cc(edges))
        return mappings[-1]

    before = cached_rdds()
    monkeypatch.setattr(pipeline, "connected_components", kept_cc)
    monkeypatch.setattr(canonicalize, "CC_SMALL_GRAPH_EDGES", 0)
    root2 = str(tmp_path_factory.mktemp("kg_scale_mapping"))
    stats = run_pipeline(
        spark, pages_df, aliases_df, root2,
        PipelineConfig(n_groups=2, broadcast_dict_max=0),
    )
    assert stats["link_strategy"] == "join"
    assert len(mappings) == 1  # the pipeline's connected-components branch ran
    assert _canon_set(spark, root2) == want
    assert cached_rdds() - before == set()
