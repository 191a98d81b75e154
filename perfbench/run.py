#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. It generates the
workload's inputs from the seed, starts a Spark session, warms it up,
bootstraps any program state (all of this is ``setup_s``), runs the
timed work, checks every output outside the timed interval, and prints
the result as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` re-binds the
engine's public functions to span wrappers and reports the per-layer
metrics instead. The lines before the last one give the input
description and a summary with the wall-clock figures. Every file the run writes
lives under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work_dir: str):
    from odl_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.shuffle.partitions": str(max(CORES, 8)),
            "spark.local.dir": os.path.join(work_dir, "tmp"),
            # No JVM perf-data file in /tmp; JVM temp files in the
            # checkout; JIT compiler threads that live as long as the JVM
            # (see harness.tree_cpu).
            "spark.driver.extraJavaOptions": " ".join(
                [
                    "-XX:-UsePerfData",
                    "-XX:-UseDynamicNumberOfCompilerThreads",
                    "-Djava.io.tmpdir=" + os.path.join(work_dir, "tmp"),
                ]
            ),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _drain(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status stores hold every job that has run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _stop_spark(spark) -> None:
    """Stop the session and end every process it started: the Spark JVM
    and the Python workers under it. Waits until each has ended, so no
    process outlives the run."""
    from perfbench.harness import descendants, wait_ended

    procs = descendants()
    try:
        if spark is not None:
            spark.stop()
    except Exception:
        pass  # e.g. a signal cut a call short; the JVM is ended below anyway
    pyspark = sys.modules.get("pyspark")
    sc = pyspark.SparkContext if pyspark else None
    proc = getattr(sc and sc._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        sc._gateway = sc._jvm = None
    wait_ended(procs, timeout=10)


def layer_metrics(
    wl, tracer, counters: dict, run_s: float, run_cpu_s: float
) -> dict[str, float]:
    """The per-layer metrics of a traced run, by name."""
    lay = counters["layers"]

    def g(name: str, field: str) -> float:
        return float(lay.get(name, {}).get(field, 0.0))

    m = {k: float(v) for k, v in counters.items() if k not in ("layers", "spark.attributed_jobs")}
    m["spark.driver_gap_s"] = max(run_s - m["spark.job_busy_s"], 0.0)
    m["queries.build_s"] = g("queries.build", "s")
    m["queries.action_s"] = g("queries.action", "s")
    m["io.sinks.partitioned_write.s"] = g("io.sinks.partitioned_write", "s")
    m["io.sinks.partitioned_write.calls"] = g("io.sinks.partitioned_write", "calls")
    for f in ("calls", "s", "jobs"):
        m[f"operators.materialize.{f}"] = g("operators.materialize", f)
    m["operators.materialize.fits_broadcast.jobs"] = g(
        "operators.materialize.fits_broadcast", "jobs"
    )
    m["operators.dedup.minhash_lsh_pairs.s"] = g("operators.dedup.minhash_lsh_pairs", "s")
    m["operators.dedup.minhash_lsh_pairs.shuffle_bytes"] = g(
        "operators.dedup.minhash_lsh_pairs", "shuffle_bytes"
    )
    cand = m.pop("operators.dedup.band_join_rows")
    verified = m.pop("operators.dedup.verified_rows")
    m["operators.dedup.verify_yield"] = verified / cand if cand else 0.0
    m["operators.dedup.top_bucket_share"] = float(wl.input.get("top_bucket_share", 0.0))
    for f in ("s", "jobs"):
        m[f"operators.components.{f}"] = g("operators.components", f)
    m["operators.components.cuts"] = float(
        sum(
            1
            for s in tracer.spans
            if s.name == "operators.materialize"
            and s.parent is not None
            and tracer.spans[s.parent].name == "operators.components"
        )
    )
    for f in ("s", "jobs", "shuffle_bytes"):
        m[f"operators.pagerank.{f}"] = g("operators.pagerank", f)
    m["pipelines.curation.curate_corpus.s"] = g("pipelines.curation.curate_corpus", "s")
    funnel = getattr(wl, "funnel", {})
    for stage in ("quality", "language", "exact_dup", "near_dup", "contaminated", "kept"):
        m[f"pipelines.curation.funnel.{stage}"] = float(funnel.get(stage, 0))
    for f in ("s", "jobs"):
        m[f"streaming.ingest_dedup.commit.{f}"] = g("streaming.ingest_dedup.commit", f)
        m[f"streaming.ingest_ann.commit.{f}"] = g("streaming.ingest_ann.commit", f)
    m["streaming.ingest_dedup.pairs_emitted"] = float(getattr(wl, "pairs_emitted", 0))
    sizes = getattr(wl, "state_sizes", [])
    m["streaming.state_bytes"] = float(sizes[-1][0]) if sizes else 0.0
    m["streaming.state_files"] = float(sizes[-1][1]) if sizes else 0.0
    written = g("streaming.op", "write_bytes")
    m["streaming.write_amp"] = written / wl.input["timed_input_bytes"] if written else 0.0
    m["streaming.compact_state.s"] = g("streaming.compact_state", "s")
    m["session.start_s"] = wl.timings["start"]
    m["session.warmup_s"] = wl.timings["warmup"]
    m["streaming.bootstrap_s"] = wl.timings["bootstrap"]
    base = _baseline_run_cpu_s(wl.name)
    m["bench.trace_overhead_frac"] = run_cpu_s / base - 1.0 if base else 0.0
    return m


def _baseline_run_cpu_s(workload: str) -> float | None:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.json")
    try:
        with open(path) as f:
            return json.load(f)["workloads"][workload]["run_cpu_s"]["median"]
    except (OSError, KeyError, ValueError):
        return None


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "odl_etl_spark")):
        print(f"perfbench: no engine package next to {__file__}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import StatusStores, Tracer, harvest, tail, tree_cpu, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Keep every scratch file of the engine, Spark and Python inside the
    # checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # A SIGTERM still runs the clean-up below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, args.seconds, work)
        wl.generate()

        t0, c0 = time.perf_counter(), tree_cpu_s()
        spark = _session(work)
        t1 = time.perf_counter()
        tracer = Tracer(spark.sparkContext, prefix=f"perfbench-{os.getpid()}")
        wl.warm_up(spark, tracer)
        t2 = time.perf_counter()
        wl.bootstrap(spark, tracer)
        t3 = time.perf_counter()
        wl.timings = {"start": t1 - t0, "warmup": t2 - t1, "bootstrap": t3 - t2}
        setup_s, setup_cpu_s = t3 - t0, tree_cpu_s() - c0

        stores = None
        if args.trace:
            _drain(spark)
            stores = StatusStores(spark)
            first_job = stores.max_job_id()
            tracer.wrap_engine()
        first_span = len(tracer.spans)
        pass_s, pass_cpu_s, pass_jit_s = [], [], []
        for p in range(wl.passes):
            t, (c, j) = time.perf_counter(), tree_cpu()
            wl.run_pass(spark, tracer, p)
            pass_s.append(time.perf_counter() - t)
            c1, j1 = tree_cpu()
            pass_cpu_s.append(c1 - c)
            pass_jit_s.append(j1 - j)
        if args.trace:
            tracer.unwrap_engine()
            _drain(spark)
            last_job = stores.max_job_id()
        ops = [s for s in tracer.spans[first_span:] if s.parent is None and s.name.endswith(".op")]
        op_wall = [s.end - s.start for s in ops]
        op_cpu = [s.cpu for s in ops]
        run_s = statistics.median(pass_s)
        run_cpu_s = statistics.median(pass_cpu_s)

        wl.describe(spark, traced=bool(args.trace))
        bad = wl.failures + wl.check(spark)
        attempted, failed = wl.attempted, len(bad)
        tail_cpu, pct, n_ops = tail(op_cpu)
        e2e = {
            "setup_s": setup_s,
            "run_cpu_s": run_cpu_s,
            "op_p50_cpu_s": statistics.median(op_cpu),
            "op_tail_cpu_s": tail_cpu,
        }
        # Summary-only figures: the wall-clock times one user waits for
        # (not gated -- on a shared machine they follow the machine's
        # load, see README.md), set-up CPU and the JIT compiler's CPU
        # during the pass, which the CPU figures leave out.
        wall = {
            "run_s": run_s,
            "op_p50_s": statistics.median(op_wall),
            "op_tail_s": tail(op_wall)[0],
            "setup_cpu_s": setup_cpu_s,
            "run_jit_cpu_s": statistics.median(pass_jit_s),
        }
        if args.trace:
            _drain(spark)
            counters = harvest(stores, tracer, first_job, CORES, last_job)
            layers = layer_metrics(wl, tracer, counters, run_s, run_cpu_s)
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}

        print(json.dumps({"workload": wl.name, "input": wl.input}))
        if args.trace:
            # Per span name: calls, inclusive and self seconds, jobs, bytes.
            print(json.dumps({"workload": wl.name, "layers": counters["layers"]}))
        summary = {k: {"value": v, "unit": "s"} for k, v in {**e2e, **wall}.items()}
        summary["failed_ops_frac"] = {
            "value": failed / attempted if attempted else 1.0,
            "unit": "ratio",
        }
        info = {
            "op_tail_pct": pct,
            "ops": n_ops,
            "passes": len(pass_s),
            "setup_parts": wl.timings,
            "failures": bad[:20],
        }
        print(
            json.dumps(
                {"workload": wl.name, "trace": args.trace, "summary": summary, "run": info}
            )
        )
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


_UNITS = (
    ("_bytes", "bytes"),
    (".bytes", "bytes"),
    ("bytes_read", "bytes"),
    ("_mb", "MB"),
    ("_frac", "ratio"),
    ("yield", "ratio"),
    ("share", "ratio"),
    ("write_amp", "ratio"),
    ("_s", "s"),
    (".s", "s"),
)


def _unit(name: str) -> str:
    for suffix, unit in _UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
