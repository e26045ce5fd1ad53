"""Declared metrics and their derivation from one operation's spans.

``END_TO_END`` and ``PER_LAYER`` mirror ``BENCHMARK.json`` (a test keeps the
two in step). Every workload reports every declared metric; a layer the
workload never calls reports 0.
"""

from __future__ import annotations

import re
import statistics

from .spans import covered, self_time, subtree_counts

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MB = float(1 << 20)

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "run_s": ("s", "lower"),
    "triples_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# the tables finalize rebuilds, by metric suffix
FINALIZE_TABLES = {
    "quarantine": "quarantine",
    "lineage": "lineage",
    "canonical_triples": "canonical",
    "edges": "edges",
    "adjacency": "adjacency",
}

# spans that only hold others: an operation's time inside them but outside
# every other span is unattributed
CONTAINERS = {"op", "pipeline.run_pipeline", "pipeline.run_incremental", "pipeline.group"}

# analytics calls in pass order: (metric prefix, module attribute)
ANALYTICS = [
    ("graph.pagerank", "pagerank"),
    ("canonicalize.connected_components", "connected_components"),
    ("graph.strongly_connected_components", "strongly_connected_components"),
    ("dedup.minhash_pairs", "minhash_pairs"),
]


def _per_layer() -> dict[str, tuple[str, str]]:
    s, n, mb, r = ("s", "lower"), ("count", "lower"), ("MB", "lower"), ("ratio", "lower")
    out = {
        "catalog.write_extracted_s": s,
        "catalog.write_extracted.executor_run_s": s,
        "catalog.write_extracted.input_mb": mb,
        "catalog.write_extracted.output_mb": mb,
        "extract.triples_link_s": s,
        "extract.triples_link.jobs": n,
        "catalog.write_triples_s": s,
        "catalog.write_triples.shuffle_write_mb": mb,
        "catalog.write_triples.jobs": n,
        "pipeline.setup_s": s,
        "linking.make_linker_s": s,
        "pipeline.group_p50_s": s,
        "pipeline.group_max_s": s,
        "catalog.commit_s": s,
        "pipeline.finalize_s": s,
        "pipeline.finalize_self_s": s,
    }
    for suffix in FINALIZE_TABLES.values():
        out[f"catalog.write_{suffix}_s"] = s
    out.update({
        "spark.jobs": n,
        "spark.stages": n,
        "spark.tasks": n,
        "spark.shuffle_write_mb": mb,
        "spark.spill_mb": mb,
        "spark.cpu_busy_ratio": ("ratio", "higher"),
        "catalog.files_written": n,
        "catalog.bytes_written_per_input_byte": r,
        "pipeline.pages_extracted_per_offered": r,
        "pipeline.finalize_rows_rewritten_per_new_triple": r,
    })
    for prefix, _ in ANALYTICS:
        out[f"{prefix}_s"] = s
        out[f"{prefix}.jobs"] = n
        out[f"{prefix}.shuffle_write_mb"] = mb
    out.update({
        "session.start_s": s,
        "session.cached_rdds_after": n,
        "session.cached_mb_after": mb,
        "session.fresh_checkpoints": n,
        "session.released_checkpoints": ("count", "higher"),
        "trace.run_s": s,
        "trace.overhead_ratio": r,
        "trace.unattributed_s": s,
        "host.control_units_per_s": ("1/s", "higher"),
    })
    return out


PER_LAYER = _per_layer()


def highest_supported_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile with at least ``beyond`` samples above it,
    or None when the sample is too small for any percentile past the
    median."""
    p = int(100 * (1 - beyond / n)) if n > 0 else 0
    return p if p >= 50 else None


def op_layer_metrics(spans, totals: dict, counters: dict, run_s: float,
                     cores: int, info: dict) -> dict[str, float]:
    """Per-layer metrics of one traced operation.

    ``spans`` are the operation's spans with their own Spark counts,
    ``totals`` the counts of every job the operation launched, ``info``
    what the workload measured outside the spans (files and bytes
    written, input bytes, cached blocks after the operation)."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def dur(name: str) -> float:
        return sum(s.dur for s in by.get(name, []))

    def own(name: str, key: str) -> int:
        return sum(s.counts[key] for s in by.get(name, []))

    m["catalog.write_extracted_s"] = dur("catalog.write_extracted")
    m["catalog.write_extracted.executor_run_s"] = own("catalog.write_extracted", "executor_run_ms") / 1e3
    m["catalog.write_extracted.input_mb"] = own("catalog.write_extracted", "input_bytes") / MB
    m["catalog.write_extracted.output_mb"] = own("catalog.write_extracted", "output_bytes") / MB
    m["extract.triples_link_s"] = dur("extract.triples_link")
    m["extract.triples_link.jobs"] = own("extract.triples_link", "jobs")
    m["catalog.write_triples_s"] = dur("catalog.write_triples")
    m["catalog.write_triples.shuffle_write_mb"] = own("catalog.write_triples", "shuffle_write_bytes") / MB
    m["catalog.write_triples.jobs"] = own("catalog.write_triples", "jobs")
    m["pipeline.setup_s"] = dur("pipeline.setup")
    m["linking.make_linker_s"] = dur("linking.make_linker")
    groups = [s.dur for s in by.get("pipeline.group", [])]
    if groups:
        m["pipeline.group_p50_s"] = statistics.median(groups)
        m["pipeline.group_max_s"] = max(groups)
    m["catalog.commit_s"] = dur("catalog.commit") + dur("catalog.prune_if") + dur("catalog.mark_done")
    fin = by.get("pipeline.finalize", [])
    m["pipeline.finalize_s"] = dur("pipeline.finalize")
    m["pipeline.finalize_self_s"] = sum(self_time(f, spans) for f in fin)
    rewritten = 0
    for suffix in FINALIZE_TABLES.values():
        m[f"catalog.write_{suffix}_s"] = dur(f"catalog.write_{suffix}")
        rewritten += own(f"catalog.write_{suffix}", "output_records")

    m["spark.jobs"] = totals["jobs"]
    m["spark.stages"] = totals["stages"]
    m["spark.tasks"] = totals["tasks"]
    m["spark.shuffle_write_mb"] = totals["shuffle_write_bytes"] / MB
    m["spark.spill_mb"] = totals["spill_bytes"] / MB
    m["spark.cpu_busy_ratio"] = totals["executor_run_ms"] / 1e3 / (run_s * cores)

    m["catalog.files_written"] = info.get("files_written", 0)
    if info.get("input_bytes"):
        m["catalog.bytes_written_per_input_byte"] = info.get("bytes_written", 0) / info["input_bytes"]
    if info.get("pages_offered"):
        m["pipeline.pages_extracted_per_offered"] = (
            own("catalog.write_extracted", "output_records") / info["pages_offered"]
        )
    new_triples = own("catalog.write_triples", "output_records")
    if new_triples:
        m["pipeline.finalize_rows_rewritten_per_new_triple"] = rewritten / new_triples

    for prefix, _ in ANALYTICS:
        calls = by.get(prefix, [])
        if calls:
            m[f"{prefix}_s"] = sum(c.dur for c in calls)
            sub = [subtree_counts(c, spans) for c in calls]
            m[f"{prefix}.jobs"] = sum(c["jobs"] for c in sub)
            m[f"{prefix}.shuffle_write_mb"] = sum(c["shuffle_write_bytes"] for c in sub) / MB

    m["session.cached_rdds_after"] = info.get("cached_rdds", 0)
    m["session.cached_mb_after"] = info.get("cached_bytes", 0) / MB
    m["session.fresh_checkpoints"] = counters.get("session.fresh_checkpoint", 0)
    m["session.released_checkpoints"] = counters.get("session.release_checkpoint", 0)
    named = [s for s in spans if s.name not in CONTAINERS]
    m["trace.unattributed_s"] = sum(r.dur - covered(r, named) for r in by.get("op", []))
    return m

