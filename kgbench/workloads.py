"""The three workloads: set-up, one timed operation, and its output check.

Each workload drives the public API only: ``pipeline.run_pipeline`` /
``pipeline.run_incremental`` and the ``operators.graph`` /
``operators.canonicalize`` / ``operators.dedup`` calls. Inputs come from
``fixtures.pages_spark`` / ``fixtures.gen_aliases`` with the run's seed and
are written to parquet once in set-up, so no operation pays for generation.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pandas as pd

from vectrain_spark import fixtures
from vectrain_spark import pipeline as pl
from vectrain_spark.catalog import Catalog
from vectrain_spark.oracle import prf, union_find_canon

# Common-Crawl-weight pages (~40 KB html: 40-120 sentences, 30 junk blocks).
# Hub share (32%) and noisy surfaces (4%) are the fixture defaults, and
# every 211th page is a quarantine page (k % 211 in {5, 6}).
PAGE_SHAPE = {"min_sent": 40, "max_sent": 120, "junk_blocks": 30}
# One group: every extra group adds ~3 s of per-job floor to an operation at
# local[4], which the run budget cannot carry (see README.md).
N_GROUPS = 1

# Each corpus is the first pages, in page order, that together hold
# ``triples`` true triples (the generator's truth rows), so every seed
# offers the same work: page lengths are random, and over a fixed page count
# the triple totals of seeds lie up to 11% apart. ``pages`` is the nominal
# page count, which fixes the entity count.
SIZES = {
    "kg_build": {"triples": 6600, "pages": 120},
    # the wave offers base + new pages; 1/4 of them are new
    "kg_delta": {"triples": 6600, "pages": 120, "new_share": 0.25},
    # the edges graph of a ~40-page build; minhash over pages 0-29 of it
    # (x2.2 after dedup_corpus plants exact and near copies)
    "graph_analytics": {"triples": 2200, "pages": 40, "docs": 30},
}
SAMPLE_PAGES = 12  # pages whose text and triples are checked per operation


def page_k(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(root: str) -> int:
    return sum(tree_files(root).values())


def read_table(root: str, table: str, columns: list[str]) -> pd.DataFrame:
    """A committed catalog table's head snapshot, read with pyarrow: the
    checks launch no Spark job, so they neither load the session nor show
    in its job counts."""
    import pyarrow.parquet as pq

    dirs = Catalog(root).snapshots(table)[-1]["data_dirs"]
    parts = [pq.read_table(d, columns=columns).to_pandas() for d in dirs]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=columns)


# Float results agree to one unit of the operators' 6-dp rounding: the
# engines sum in different orders, so a value at an exact rounding boundary
# may land on either neighbour (the tolerance ROADMAP.md notes for
# betweenness applies to every rounded iterative operator).
FLOAT_ATOL = 1.5e-6


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, dtype-insensitive form of a result frame: columns
    by name, exact columns first in the row order, floats last."""
    df = df[sorted(df.columns)].copy()
    floats = []
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            floats.append(c)
        else:
            df[c] = df[c].astype("int64")
    exact = [c for c in df.columns if c not in floats]
    return df.sort_values(exact + floats, kind="stable").reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else why not."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for c in g.columns:
        if np.issubdtype(g[c].dtype, np.floating):
            if not np.allclose(g[c], w[c], rtol=0, atol=FLOAT_ATOL, equal_nan=True):
                return f"column {c} differs by more than {FLOAT_ATOL}"
        elif not g[c].equals(w[c]):
            return f"column {c} differs"
    return None


class Inputs:
    """A seeded corpus on disk (pages and aliases parquet), and the
    generator's own rows for any page, to check outputs against."""

    def __init__(self, spark, root: str, seed: int, size: dict):
        self.seed = seed
        self.pages_dir = os.path.join(root, "pages")
        self.aliases_path = os.path.join(root, "aliases.parquet")
        n_entities = fixtures.n_entities_for(size["pages"])
        self.aliases_pdf = fixtures.gen_aliases(n_entities, seed=seed)
        self.by_entity: dict[int, list[str]] = {}
        for eid, alias in zip(self.aliases_pdf["entity_id"], self.aliases_pdf["alias"]):
            self.by_entity.setdefault(int(eid), []).append(alias)
        self.eids = np.array(sorted(self.by_entity), dtype=np.int64)
        self.n_pages = self.truth_triples = 0
        while self.truth_triples < size["triples"]:
            self.truth_triples += len(self.page(self.n_pages)[1])
            self.n_pages += 1
        pages, _ = fixtures.pages_spark(
            spark, self.n_pages, seed=seed, n_entities=n_entities, **PAGE_SHAPE
        )
        pages.write.mode("overwrite").parquet(self.pages_dir)
        self.aliases_pdf.to_parquet(self.aliases_path, index=False)

    def page(self, k: int):
        """(page row, truth rows) of page k, as the generator made it."""
        return fixtures.gen_page_row(
            k, self.by_entity, self.eids, seed=self.seed, **PAGE_SHAPE
        )

    def pages(self, spark, limit: int | None = None):
        """The pages, or those numbered below ``limit``."""
        from pyspark.sql import functions as F

        df = spark.read.parquet(self.pages_dir)
        if limit is not None:
            df = df.filter(F.substring_index("url", "/", -1).cast("int") < limit)
        return df

    def aliases(self, spark):
        return spark.read.parquet(self.aliases_path)


class KgBuild:
    """Cold ``run_pipeline`` into an empty warehouse."""

    name = "kg_build"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name]
        self.cfg = pl.PipelineConfig(n_groups=N_GROUPS)
        self.wh = os.path.join(work, "warehouse")

    def setup(self) -> None:
        self.inputs = Inputs(self.spark, os.path.join(self.work, "in"), self.seed, self.size)
        n = self.offered = self.inputs.n_pages
        self.input_bytes = dir_bytes(self.inputs.pages_dir)
        rng = random.Random(self.seed)
        good = [k for k in range(n) if k % 211 not in (5, 6)]
        sample = sorted(rng.sample(good, min(SAMPLE_PAGES, len(good))))
        canon = union_find_canon(self.inputs.aliases_pdf)
        self.want_text: dict[str, str] = {}
        self.want_triples: set[tuple] = set()
        for k in sample:
            row, truth = self.inputs.page(k)
            self.want_text[row[0]] = row[3]
            for url, sent_idx, _s, pred, _o, se, oe in truth:
                self.want_triples.add((url, sent_idx, pred, canon[se], canon[oe]))
        self.want_quarantine = {
            self.inputs.page(k)[0][0] for k in range(n) if k % 211 in (5, 6)
        }
        self.pages_df = self.inputs.pages(self.spark)
        self.aliases_df = self.inputs.aliases(self.spark)

    def prepare(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)
        self.before: dict[str, int] = {}

    def run(self, span) -> dict:
        return pl.run_pipeline(self.spark, self.pages_df, self.aliases_df, self.wh, self.cfg)

    def written(self) -> tuple[int, int]:
        """(files, bytes) the last operation wrote into the warehouse."""
        new = {p: b for p, b in tree_files(self.wh).items() if self.before.get(p) != b}
        return len(new), sum(new.values())

    def triples_done(self, stats: dict) -> int:
        return int(stats["total_triples"])

    def check(self, stats: dict) -> list[str]:
        errs = []
        urls = set(self.want_text)
        ext = read_table(self.wh, "extracted", ["url", "text"])
        ext = ext[ext["url"].isin(urls)]
        got_text = dict(zip(ext["url"], ext["text"]))
        if got_text != self.want_text:
            bad = sorted(u for u in urls if got_text.get(u) != self.want_text[u])
            errs.append(f"extracted text differs from the generator on {bad[:3]}")
        tri = read_table(self.wh, "triples", ["url", "sent_idx", "pred", "subj_canon", "obj_canon"])
        tri = tri[tri["url"].isin(urls)]
        got = {
            (u, int(i), p, int(s), int(o))
            for u, i, p, s, o in tri.itertuples(index=False)
        }
        p, r = prf(got, self.want_triples)
        if p < 0.95 or r < 0.95:
            errs.append(f"triple P/R {p:.3f}/{r:.3f} below 0.95")
        q = set(read_table(self.wh, "quarantine", ["url"])["url"])
        if q != self.want_quarantine:
            errs.append(f"quarantine {sorted(q)} != {sorted(self.want_quarantine)}")
        if not stats.get("total_triples"):
            errs.append("no triples committed")
        return errs


class KgDelta(KgBuild):
    """``run_incremental`` wave onto a warehouse bootstrapped in set-up and
    restored before each operation: most offered pages are committed
    already, the rest are new."""

    name = "kg_delta"

    def setup(self) -> None:
        self.inputs = Inputs(self.spark, os.path.join(self.work, "in"), self.seed, self.size)
        n = self.offered = self.inputs.n_pages
        base = n - round(n * self.size["new_share"])
        self.input_bytes = dir_bytes(self.inputs.pages_dir)
        self.pages_df = self.inputs.pages(self.spark)
        self.aliases_df = self.inputs.aliases(self.spark)
        # the reference: a cold build over the union of the pages
        ref = os.path.join(self.work, "reference")
        stats = pl.run_pipeline(self.spark, self.pages_df, self.aliases_df, ref, self.cfg)
        self.want = (int(stats["total_triples"]), int(stats["canonical_triples"]))
        shutil.rmtree(ref)
        # the bootstrap: a cold build over the base pages, kept as a copy
        # the operation's warehouse is restored from
        stats = pl.run_pipeline(
            self.spark, self.inputs.pages(self.spark, limit=base),
            self.aliases_df, self.wh, self.cfg,
        )
        self.base_triples = int(stats["total_triples"])
        self.base_copy = os.path.join(self.work, "warehouse_base")
        shutil.copytree(self.wh, self.base_copy)

    def prepare(self) -> None:
        shutil.rmtree(self.wh, ignore_errors=True)
        shutil.copytree(self.base_copy, self.wh)
        self.before = tree_files(self.wh)

    def run(self, span) -> dict:
        return pl.run_incremental(
            self.spark, self.pages_df, self.aliases_df, self.wh, self.cfg, wave="delta"
        )

    def triples_done(self, stats: dict) -> int:
        """Triples the wave committed."""
        return int(stats["total_triples"]) - self.base_triples

    def check(self, stats: dict) -> list[str]:
        errs = []
        got = (int(stats["total_triples"] or 0), int(stats["canonical_triples"] or 0))
        if got != self.want:
            errs.append(f"(triples, canonical) {got} != cold build {self.want}")
        urls = read_table(self.wh, "extracted", ["url"])["url"]
        n, d = len(urls), urls.nunique()
        if n != d:
            errs.append(f"{n - d} urls committed twice in extracted")
        if d != self.offered:
            errs.append(f"extracted holds {d} urls, {self.offered} offered")
        return errs


class GraphAnalytics:
    """One pass of the analytics calls over the ``edges`` / ``extracted``
    tables a set-up build materialized; never touches extract/link/sink."""

    name = "graph_analytics"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name]
        self.wh = os.path.join(work, "warehouse")

    def setup(self) -> None:
        import duckdb

        from vectrain_spark.driver_queries import ORACLES, SQL_KG_CC_INCREMENTAL_TPL
        from vectrain_spark.operators import graph as g

        self.inputs = Inputs(self.spark, os.path.join(self.work, "in"), self.seed, self.size)
        stats = pl.run_pipeline(
            self.spark, self.inputs.pages(self.spark), self.inputs.aliases(self.spark),
            self.wh, pl.PipelineConfig(n_groups=N_GROUPS),
        )
        self.graph_triples = int(stats["total_triples"])
        edges_pdf = read_table(self.wh, "edges", ["src", "dst", "pred", "cnt"])
        ext = read_table(self.wh, "extracted", ["url", "text", "error"])
        ext = ext[ext["error"].isna()].copy()
        ext["doc_id"] = ext["url"].map(page_k).astype("int64")
        docs_pdf = (
            ext[ext["doc_id"] < self.size["docs"]][["doc_id", "text"]]
            .sort_values("doc_id").reset_index(drop=True)
        )
        docs_path = os.path.join(self.work, "documents.parquet")
        docs_pdf.to_parquet(docs_path, index=False)
        self.edges = Catalog(self.wh).read(self.spark, "edges")
        self.docs = self.spark.read.parquet(docs_path)

        con = duckdb.connect()
        try:
            con.register("edges", edges_pdf)
            con.register("documents", docs_pdf)
            e_sql = "SELECT src, dst, pred, cnt FROM edges"
            oracle_sql = {
                "graph.pagerank": g.pagerank_oracle_sql(e_sql),
                "canonicalize.connected_components": SQL_KG_CC_INCREMENTAL_TPL.format(
                    pairs="SELECT src AS a, dst AS b FROM edges"
                ),
                "graph.strongly_connected_components": g.scc_oracle_sql(e_sql),
                "dedup.minhash_pairs": ORACLES["dedup_minhash"],
            }
            self.want = {k: con.sql(sql).df() for k, sql in oracle_sql.items()}
        finally:
            con.close()
        self.offered = 0
        self.input_bytes = 0

    def prepare(self) -> None:
        pass

    def written(self) -> tuple[int, int]:
        return 0, 0

    def _calls(self):
        """The pass, in the order of ``metrics.ANALYTICS``."""
        from vectrain_spark.operators import canonicalize as c
        from vectrain_spark.operators import dedup as d
        from vectrain_spark.operators import graph as g

        edges, docs = self.edges, self.docs
        return {
            "graph.pagerank": lambda: g.pagerank(edges),
            "canonicalize.connected_components": lambda: c.connected_components(
                edges.select("src", "dst")
            ),
            "graph.strongly_connected_components": lambda: g.strongly_connected_components(
                edges.select("src", "dst")
            ),
            "dedup.minhash_pairs": lambda: d.minhash_pairs(d.dedup_corpus(docs)),
        }

    def run(self, span) -> dict:
        """``span(name)`` wraps each call with its result collection."""
        out = {}
        for name, call in self._calls().items():
            with span(name):
                out[name] = call().toPandas()
        return out

    def triples_done(self, result: dict) -> int:
        return self.graph_triples

    def check(self, result: dict) -> list[str]:
        errs = []
        for name, got in result.items():
            why = frames_equal(got, self.want[name])
            if why:
                errs.append(f"{name}: {why} vs its DuckDB oracle")
        return errs


WORKLOADS = {w.name: w for w in (KgBuild, KgDelta, GraphAnalytics)}
