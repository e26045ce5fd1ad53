#!/usr/bin/env python3
"""KG benchmark: one closed-loop client drives the pipeline's public API at
local[nproc], one operation at a time, and checks every operation's output.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is a report (session pinning, samples, host control, the
failure ratio). See kgbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("kg_build", "kg_delta", "graph_analytics")

WARMUP_MIN, WARMUP_MAX, WARMUP_AGREE = 3, 6, 0.10
MIN_OPS = 3  # measured operations per run, even past --seconds
MIN_TRACED = 2  # traced and untraced operations each, in a traced run
# Seconds after start by which a run should end. An operation is not
# started if, going by the length of the last one, it would end after
# RUN_DEADLINE, once warm-up has its minimum (for warm-up: after
# RUN_DEADLINE less --seconds) or the measured loop has MIN_OPS. Past
# HARD_DEADLINE warm-up stops with two operations and the measured loop with
# two samples, so a run in a slow host window still fits the budget of about
# a minute per run (see README.md).
RUN_DEADLINE, HARD_DEADLINE = 62, 66


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(work: str, cores: int, driver_mem: str) -> None:
    """Everything the run writes stays under ``work``; Python workers
    import ``vectrain_spark`` from this checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # no hsperfdata files in the system temp dir, for the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def open_session(name: str, cores: int, driver_mem: str):
    from vectrain_spark.session import get_spark

    return get_spark(
        app_name=f"kgbench-{name}",
        cores=cores,
        extra={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # the heap is committed and touched at start, so the JVM's share
            # of peak_rss_mb does not depend on how far G1 has grown the heap
            # by the time an operation runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def close_session(spark) -> None:
    """Stop Spark, then shut the py4j gateway down and wait for the JVM to
    exit (spark.stop() leaves the JVM running until the interpreter exits)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be closed
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def install_spans(tracer) -> None:
    from vectrain_spark import pipeline as pl
    from vectrain_spark import session
    from vectrain_spark.catalog import Catalog, GroupManifest

    from kgbench.metrics import FINALIZE_TABLES

    tracer.wrap(pl, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(pl, "run_incremental", "pipeline.run_incremental")
    tracer.wrap(pl, "_run_group", "pipeline.group")
    tracer.wrap(pl, "finalize", "pipeline.finalize")
    tracer.wrap(pl, "make_linker", "linking.make_linker")
    tracer.wrap(
        Catalog, "write",
        lambda self, table, *a, **k: f"catalog.write_{FINALIZE_TABLES.get(table, table)}",
    )
    tracer.wrap(Catalog, "_commit_staged", "catalog.commit")
    tracer.wrap(Catalog, "prune_if", "catalog.prune_if")
    tracer.wrap(Catalog, "read", "catalog.read")
    tracer.wrap(Catalog, "read_snapshot_delta", "catalog.read_snapshot_delta")
    tracer.wrap(GroupManifest, "mark_done", "catalog.mark_done")
    tracer.wrap_count(session, "fresh_checkpoint", "session.fresh_checkpoint")
    tracer.wrap_count(session, "release_checkpoint", "session.release_checkpoint")


def derive_spans(tracer, spans) -> None:
    """Add the spans that lie between wrapped calls: a run's setup (its
    start to its first group) and each group's triple/link stretch (the
    extracted commit to the triples write). The group's own Spark jobs run
    in that stretch, so they move onto it."""
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    for run in [s for s in spans if s.name == "pipeline.run_pipeline"]:
        below = kids.get(run.sid, [])
        firsts = [s.start for s in below if s.name in ("pipeline.group", "pipeline.finalize")]
        if firsts:
            spans.append(tracer.add_span("pipeline.setup", run.start, min(firsts), run))
    for grp in [s for s in spans if s.name == "pipeline.group"]:
        below = kids.get(grp.sid, [])
        ext = [s for s in below if s.name == "catalog.write_extracted"]
        tri = [s for s in below if s.name == "catalog.write_triples"]
        if ext and tri:
            d = tracer.add_span("extract.triples_link", ext[0].end, tri[0].start, grp)
            d.counts, grp.counts = grp.counts, dict.fromkeys(grp.counts, 0)
            spans.append(d)


class Client:
    """The closed loop: one operation at a time, each prepared, timed and
    checked, with the tally of attempts and failures."""

    def __init__(self, spark, wl, cores: int):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.wl = wl
        self.cores = cores
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0

    def op(self, tracer=None):
        """-> (seconds, result or None, spans or None, first job, end job).
        With a tracer, spans are collected and the wrappers removed before
        the check runs, so the check stays out of the trace."""
        self.wl.prepare()
        self.attempted += 1
        first_job = self.jsc.dagScheduler().numTotalJobs()
        span = tracer.span if tracer else (lambda name: nullcontext())
        if tracer:
            install_spans(tracer)
            tracer.begin_op(f"op{self.attempted}")
        t0 = time.perf_counter()
        try:
            with span("op"):
                result = self.wl.run(span)
        except Exception as e:  # a failed operation counts; the run goes on
            traceback.print_exc()
            result = None
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:300])
        dt = time.perf_counter() - t0
        spans = None
        if tracer:
            spans = tracer.end_op()
            tracer.uninstall()
        end_job = self.jsc.dagScheduler().numTotalJobs()
        t0 = time.perf_counter()
        if result is not None:
            errs = self.wl.check(result)
            if errs:
                self.failed += 1
                self.errors.extend(errs)
        self.check_s += time.perf_counter() - t0
        return dt, result, spans, first_job, end_job

    def traced_op(self) -> tuple[float, dict, list]:
        """One traced operation -> (seconds, per-layer metrics, spans)."""
        from kgbench.metrics import op_layer_metrics
        from kgbench.spans import Tracer

        tracer = Tracer(self.spark.sparkContext)
        dt, _, spans, first_job, end_job = self.op(tracer)
        totals = tracer.resolve(spans, first_job, end_job)
        derive_spans(tracer, spans)
        files, nbytes = self.wl.written()
        storage = self.jsc.getRDDStorageInfo()
        info = {
            "pages_offered": self.wl.offered,
            "input_bytes": self.wl.input_bytes,
            "files_written": files,
            "bytes_written": nbytes,
            "cached_rdds": len(storage),
            "cached_bytes": sum(r.memSize() + r.diskSize() for r in storage),
        }
        return dt, op_layer_metrics(spans, totals, tracer.counters, dt, self.cores, info), spans


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("vectrain_spark") is None:
        print("kgbench: vectrain_spark is not importable from this checkout", file=sys.stderr)
        return 2

    from kgbench import host
    from kgbench.metrics import END_TO_END, PER_LAYER, highest_supported_percentile
    from kgbench.spans import dump
    from kgbench.workloads import WORKLOADS

    cores = host.cores()
    driver_mem = host.driver_memory()
    base = os.path.join(ROOT, ".kgbench")
    work = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    trace_path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    pin_environment(work, cores, driver_mem)
    control = host.host_control(cores)

    spark = None
    t_setup = time.perf_counter()
    try:
        spark = open_session(args.workload, cores, driver_mem)
        session_s = time.perf_counter() - t_setup
        spark_version = spark.version
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "wl"), args.seed)
        t0 = time.perf_counter()
        wl.setup()
        wl_setup_s = time.perf_counter() - t0
        client = Client(spark, wl, cores)

        def ends_by(deadline: float, last: float) -> bool:
            return time.perf_counter() - t_start + last <= deadline

        warm: list[float] = []
        while len(warm) < WARMUP_MAX:
            if len(warm) >= 2:
                settled = abs(warm[-1] - warm[-2]) <= WARMUP_AGREE * max(warm[-2:])
                if len(warm) >= WARMUP_MIN and (
                    settled or not ends_by(RUN_DEADLINE - args.seconds, warm[-1])
                ):
                    break
                # room for one more, and the measured loop's two
                if not ends_by(HARD_DEADLINE, 3 * warm[-1]):
                    break
            warm.append(client.op()[0])
        setup_s = time.perf_counter() - t_setup

        times: list[float] = []  # untraced operations
        rates: list[float] = []
        peaks: list[int] = []
        traced: list[float] = []
        layers: list[dict] = []
        if args.trace:
            open(trace_path, "w").close()
        rss = host.PeakRss()
        rss.start()
        t_meas = time.perf_counter()
        last = warm[-1]  # length of the latest operation
        while True:
            n = min(len(times), len(traced)) if args.trace else len(times)
            if n >= (1 if args.trace else 2) and not ends_by(HARD_DEADLINE, last):
                break
            done = time.perf_counter() - t_meas >= args.seconds or not ends_by(RUN_DEADLINE, last)
            if done and n >= (MIN_TRACED if args.trace else MIN_OPS):
                break
            if args.trace and len(traced) <= len(times):
                dt, layer, spans = client.traced_op()
                traced.append(dt)
                last = dt
                layers.append(layer)
                dump(trace_path, spans)
            else:
                rss.reset()
                dt, result, *_ = client.op()
                peaks.append(rss.peak)
                times.append(dt)
                last = dt
                if result is not None:
                    rates.append(wl.triples_done(result) / dt)
        rss.stop()
    finally:
        if spark is not None:
            close_session(spark)
        host.reap()
        shutil.rmtree(work, ignore_errors=True)

    run_s = statistics.median(times)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "spark_driver_memory": driver_mem,
        "spark_version": spark_version,
        "pythonpath": os.environ["PYTHONPATH"],
        "host_control_units_per_s": round(control, 3),
        "session_start_s": round(session_s, 3),
        "workload_setup_s": round(wl_setup_s, 3),
        "warmup_s": [round(t, 3) for t in warm],
        "check_s": round(client.check_s, 3),
        "run_s_samples": [round(t, 4) for t in times],
        "fail_ratio": {"value": client.failed / client.attempted, "unit": "ratio"},
        "errors": client.errors[:10],
    }
    p = highest_supported_percentile(len(times))
    if p is not None:
        report[f"run_s_p{p}"] = statistics.quantiles(times, n=100)[p - 1]
    else:
        report["run_s_max"] = max(times)
    if args.trace:
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        report["traced_run_s_samples"] = [round(t, 4) for t in traced]
        values = {k: statistics.median(m[k] for m in layers) for k in PER_LAYER}
        values["session.start_s"] = session_s
        values["host.control_units_per_s"] = control
        values["trace.run_s"] = statistics.median(traced)
        values["trace.overhead_ratio"] = values["trace.run_s"] / run_s - 1
        declared = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "triples_per_s": statistics.median(rates) if rates else 0.0,
            "peak_rss_mb": statistics.median(peaks) / float(1 << 20),
        }
        declared = END_TO_END
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": v, "unit": declared[k][0]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
