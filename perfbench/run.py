"""The repo benchmark: seeded workloads that call the engine the way its
users do, on local[<nproc>], with one client running one aggregation at a
time (a closed loop).

    python3 perfbench/run.py --workload nc4_day --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; samples go to stderr.

--trace 0 (end-to-end metrics, tracing off):
  setup_s          session start-up in this fresh process: JVM launch,
                   get_spark, a first trivial job
  cold_s           the first aggregation in the fresh process
  warm_s           median of the later aggregations: at least three (four
                   on doc_near_dedup), and more until --seconds have passed
                   (the count is on stderr)
  rec_per_s        input records / warm_s
  rss_after_gc_mb  driver JVM resident memory after the run and a full GC
  out_bytes_per_rec  bytes of the last output / input records
  ok_frac          aggregations whose output checked out / attempted
--trace 1 (per-layer metrics, layers.py): a cold aggregation, then
  untraced / traced / traced / untraced ones with the event log on, then
  the prefix ablation (nc4_day).

Every output is checked after the timed interval (verify.py).
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402

ABLATE_STEPS = ("scan", "normalize", "bounds", "dedup", "gapfill", "project")


# --------------------------------------------------------------------------
# workloads: generate inputs, run one aggregation, check its output
# --------------------------------------------------------------------------


def nc_granules(in_dir: str) -> list[str]:
    """input/*.nc4 as the shell expands it. (A directory of .nc4 files is
    not accepted: the engine's header probe looks for *.nc only.)"""
    return sorted(glob.glob(os.path.join(in_dir, "*.nc4")))


def run_nc4_day(spark, in_dir: str, out_dir: str) -> None:
    """The reference's own job in its own formats: the CLI, in-process,
    with the argv a user types: .nc4 granules in, one .nc4 out, and a
    template with global-attribute strategies."""
    from ncagg_spark import cli

    argv = [
        os.path.join(out_dir, "day.nc4"), *nc_granules(in_dir),
        "-t", os.path.join(in_dir, "template.json"), "-i", "time",
        "-z", str(gen.NC_HZ), "-b", gen.NC_BOUNDS, "--complevel", "7",
    ]
    if cli.main(argv) != 0:
        raise RuntimeError(f"cli exited non-zero for {argv}")


def run_doc_near_dedup(spark, in_dir: str, out_dir: str) -> None:
    """Corpus near-dedup: SimHash signatures -> hamming<=3 pairs ->
    connected components -> one survivor per cluster, written as one
    parquet file in doc_id order (so its size does not hang on the row
    order a seed happens to give). The components run as the distributed
    label-propagation loop, one partition per core (the chains take
    several rounds); the default width instead solves this small graph on
    the driver."""
    from ncagg_spark.pipeline.dedup import (
        near_dedup,
        simhash_near_duplicates,
        simhash_signatures,
    )

    docs = spark.read.parquet(in_dir)
    pairs = simhash_near_duplicates(
        simhash_signatures(docs), max_hamming=gen.MAX_HAMMING
    )
    kept = near_dedup(
        docs, pairs.select("id_a", "id_b"), unique_pairs=True,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    (kept.select("doc_id", "n_members").coalesce(1).sortWithinPartitions("doc_id")
     .write.mode("overwrite").parquet(out_dir))


def ablation_nc4_day(spark, in_dir: str):
    """Prefix pipeline of the nc4_day aggregation, built from the public
    operator functions in the order regularize composes them:
    [(step, DataFrame)] for scan -> +normalize -> +bounds -> +dedup ->
    +gap-fill -> +project."""
    from pyspark.sql import functions as F

    from ncagg_spark.cli import parse_bounds
    from ncagg_spark.config import AggregationConfig
    from ncagg_spark.functions.time import cf_to_timestamp
    from ncagg_spark.operators.bounds import apply_bounds
    from ncagg_spark.operators.dedup import cadence_bucket, dedup_cadence
    from ncagg_spark.operators.gapfill import gap_fill
    from ncagg_spark.operators.normalize import drop_invalid_index, normalize_fills
    from ncagg_spark.sources.granules import GRANULE_COL
    from ncagg_spark.sources.nc_granules import read_nc_granules

    lo, hi = parse_bounds(gen.NC_BOUNDS)
    cfg = AggregationConfig(
        index_by="time", cadence_hz=gen.NC_HZ, min_bound=lo, max_bound=hi
    )
    ix = cfg.index_by
    df = read_nc_granules(spark, nc_granules(in_dir), grain_of="time")
    df = df.withColumn(ix, cf_to_timestamp(ix, gen.NC_UNITS))
    steps = [("scan", df)]
    df = drop_invalid_index(normalize_fills(df, cfg.fill_values), ix)
    steps.append(("normalize", df))
    df = apply_bounds(
        df, ix, F.timestamp_micros(F.lit(cfg.min_us)),
        F.timestamp_micros(F.lit(cfg.max_us)),
    )
    steps.append(("bounds", df))
    df = dedup_cadence(
        cadence_bucket(df, ix, origin_us=cfg.min_us, step_us=cfg.step_us), ix
    )
    steps.append(("dedup", df))
    df = gap_fill(
        spark, df, ix, origin_us=cfg.min_us, step_us=cfg.step_us,
        n_buckets=cfg.n_buckets(), anchor="grid", backward_floor_us=cfg.min_us,
    )
    steps.append(("gapfill", df))
    steps.append(("project", df.drop(GRANULE_COL)))
    return steps


@dataclass
class Workload:
    why: str
    gen: Callable  # (in_dir, seed) -> gen.Truth
    run: Callable  # (spark, in_dir, out_dir): one aggregation
    check: Callable  # (out_dir, truth) -> failure messages
    ablation: Callable | None = None  # (spark, in_dir) -> [(step, df)]
    min_warm: int = 3  # warm aggregations per timed run, at the least
    note: str = ""  # printed to stderr with the samples


# Why each workload is in the benchmark, next to its definition.
WORKLOADS = {
    "nc4_day": Workload(
        why="the reference's job: CLI .nc4 -> .nc4 over 59 one-minute 10 Hz "
        "granules with a template; time goes to sources.read (a decode per "
        "granule in Python workers) and the netCDF-4 export",
        gen=gen.gen_nc4_day, run=run_nc4_day, check=verify.check_nc4_day,
        ablation=ablation_nc4_day,
        note="the .nc4 is checked with the engine's own reader: no independent "
        "HDF5 reader (h5py, netCDF4) is installed",
    ),
    "doc_near_dedup": Workload(
        why="SimHash near-dedup of 1,500 docs with planted 4-doc chains (3 "
        "label-propagation rounds on every seed): the only workload for "
        "pipeline.dedup; bypasses sources.read, operators and the writers; "
        "time is job and task overhead",
        gen=gen.gen_docs, run=run_doc_near_dedup, check=verify.check_docs,
        # Each aggregation recompiles ~40 generated classes (the pipeline
        # needs more than Spark's 100-entry codegen cache holds) and the
        # driver JVM JIT-compiles them again, so warm samples still fall by
        # 20-40 % from the first to the fourth: the median of four averages
        # the middle two. The runs' time budget pays for the fourth sample
        # on this workload only.
        min_warm=4,
    ),
}


# --------------------------------------------------------------------------
# session and process handling
# --------------------------------------------------------------------------


def start_session():
    """get_spark plus a first trivial job; returns (spark, seconds)."""
    from ncagg_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)))
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_rss_mb(spark, after_gc: bool = False) -> float:
    """Peak resident memory of the driver JVM (/proc VmHWM), or with
    ``after_gc`` its resident memory (VmRSS) once a full GC has run and the
    JVM has handed the freed heap back (it does so in the background: poll
    until the figure settles). What stays is what the run retains."""
    jvm = spark.sparkContext._jvm
    status = f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status"

    def read(key: str) -> float:
        with open(status) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024
        raise RuntimeError(f"{key} missing from {status}")

    if not after_gc:
        return read("VmHWM:")
    jvm.java.lang.System.gc()
    rss = read("VmRSS:")
    for _ in range(50):
        time.sleep(0.2)
        prev, rss = rss, read("VmRSS:")
        if abs(rss - prev) < 1:
            break
    return rss


def rdds_held(spark) -> int:
    """Cached RDDs still registered after a Python GC (the leak counter)."""
    gc.collect()
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


# --------------------------------------------------------------------------
# the two kinds of run
# --------------------------------------------------------------------------


class Reps:
    """Runs aggregations one at a time (one client, closed loop), each into
    its own output directory, and checks the outputs afterwards."""

    def __init__(self, spark, wl, in_dir, work):
        self.spark, self.wl, self.in_dir, self.work = spark, wl, in_dir, work
        self.outs: list[str | None] = []

    def once(self) -> float:
        out = os.path.join(self.work, f"out{len(self.outs)}")
        t0 = time.perf_counter()
        try:
            self.wl.run(self.spark, self.in_dir, out)
        except Exception:  # counted as failed; the run goes on
            traceback.print_exc()
            out = None
        self.outs.append(out)
        return time.perf_counter() - t0

    def failures(self, truth) -> int:
        failed = 0
        for out in self.outs:
            try:
                errs = ["no output"] if out is None else self.wl.check(out, truth)
            except Exception as e:
                errs = [repr(e)]
            if errs:
                print(f"{out}: {errs}", file=sys.stderr)
                failed += 1
        return failed


def timed_run(spark, wl, in_dir, work, truth, seconds, setup):
    """End-to-end metrics: one cold aggregation, then warm ones: at least
    ``wl.min_warm``, and more until ``seconds`` have passed. Tracing is
    off."""
    reps = Reps(spark, wl, in_dir, work)
    cold = reps.once()
    times = []
    t_end = time.perf_counter() + seconds
    while len(times) < wl.min_warm or time.perf_counter() < t_end:
        times.append(reps.once())
        if reps.outs.count(None) >= 3:
            break
    held = rdds_held(spark)
    peak = jvm_rss_mb(spark)
    retained = jvm_rss_mb(spark, after_gc=True)
    stop_session(spark)
    failed = reps.failures(truth)
    warm = statistics.median(times)
    last = next((o for o in reversed(reps.outs) if o), None)
    metrics = {
        "setup_s": (setup, "s"),
        "cold_s": (cold, "s"),
        "warm_s": (warm, "s"),
        "rec_per_s": (truth.input_records / warm, "1/s"),
        "rss_after_gc_mb": (retained, "MB"),
        "out_bytes_per_rec": (
            gen._dir_bytes(last) / truth.input_records if last else 0.0, "B"
        ),
        "ok_frac": (1 - failed / len(reps.outs), "ratio"),
    }
    print(
        f"samples: setup {setup:.2f}, cold {cold:.2f}, warm "
        f"{[round(t, 2) for t in times]} ({len(times)} samples), "
        f"rdds_held {held}, peak rss {peak:.0f} MB, input {truth.input_records} records / "
        f"{truth.input_bytes} B. {wl.note}",
        file=sys.stderr,
    )
    return len(reps.outs), failed, metrics


def traced_run(spark, wl, in_dir, work, truth):
    """Per-layer metrics: a cold aggregation, two untraced and two traced
    ones, then the prefix ablation. The event log is on throughout."""
    import layers

    from ncagg_spark import api
    from ncagg_spark.operators import gapfill

    sc = spark.sparkContext
    reps = Reps(spark, wl, in_dir, work)
    reps.once()
    held = [rdds_held(spark)]

    # the gap-fill materialize gate: see the estimate it compares
    gate_fired: list[bool] = []
    plan_bytes = gapfill._plan_bytes

    def gate_probe(df):
        est = plan_bytes(df)
        gate_fired.append(est >= gapfill._materialize_min_bytes())
        return est

    # untraced, traced, traced, untraced: warm-up drift cancels out of
    # the overhead estimate
    n_traced = 2
    untraced, traced = [], []
    tracer = layers.Tracer(sc)
    for is_traced in (False, True, True, False):
        if not is_traced:
            untraced.append(reps.once())
            continue
        gapfill._plan_bytes = gate_probe
        try:
            with tracer:
                traced.append(reps.once())
        finally:
            gapfill._plan_bytes = plan_bytes
        held.append(rdds_held(spark))

    ablate = dict.fromkeys(ABLATE_STEPS, 0.0)
    if wl.ablation is not None:
        for step, df in wl.ablation(spark, in_dir):
            sc.setLocalProperty(layers.GROUP_KEY, f"ablate.{step}")
            ts = []
            for _ in range(2):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            ablate[step] = min(ts)
        sc.setLocalProperty(layers.GROUP_KEY, None)
        held.append(rdds_held(spark))

    counts = layers.tracker_counts(sc, layers.GROUPS)
    peak = jvm_rss_mb(spark)
    stop_session(spark)
    failed = reps.failures(truth)
    log = layers.read_event_log(os.path.join(work, "eventlog"))

    m = layers.layer_metrics(tracer.span_times(), counts, log, n_traced)
    decodes = sum(c["scan_files"] for g, c in log.items() if g in layers.GROUPS)
    m["sources.read.decodes_per_granule"] = (
        decodes / n_traced / truth.n_files, "ratio"
    )
    m["pipeline.dedup.cc_jobs"] = (
        counts["pipeline.dedup:connected_components"]["jobs"] / n_traced, "count"
    )
    for s in ABLATE_STEPS:
        m[f"ablate.{s}_s"] = (ablate[s], "s")
    m["storage.rdds_held"] = (float(max(held)), "count")
    m["jvm.peak_rss_mb"] = (peak, "MB")
    m["gate.input_mb"] = (truth.input_bytes / 2**20, "MB")
    m["gate.small_input"] = (float(truth.input_bytes <= api.SMALL_INPUT_BYTES), "bool")
    m["gate.gapfill_materialize"] = (float(any(gate_fired)), "bool")
    m["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(untraced), "s"
    )
    return len(reps.outs), failed, m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ncagg_spark")):
        print("error: run from the repository root (no ncagg_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "input")
    # Spark, JVM and Python temp files stay inside the checkout (the JVM's
    # perf-data file would go to /tmp)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    stop_on_error = None
    try:
        truth = wl.gen(in_dir, args.seed)
        if args.trace:
            import layers

            os.environ["PYSPARK_SUBMIT_ARGS"] = layers.eventlog_conf(
                os.path.join(work, "eventlog")
            )
        spark, setup = start_session()
        stop_on_error = spark
        if args.trace:
            attempted, failed, metrics = traced_run(spark, wl, in_dir, work, truth)
        else:
            attempted, failed, metrics = timed_run(
                spark, wl, in_dir, work, truth, args.seconds, setup
            )
    except BaseException:
        if stop_on_error is not None:
            stop_session(stop_on_error)
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
