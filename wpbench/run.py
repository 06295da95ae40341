#!/usr/bin/env python3
"""Run one benchmark workload; the last line of stdout is the result.

    python3 wpbench/run.py --workload wrangle_bulk --seed 1 --seconds 6 \
        --trace 0

Run it from the repository root.  Inputs are generated from ``--seed``,
Spark runs as ``local[nproc]`` through ``wrangle_pypes_spark.get_session``
and every file the run writes lives under ``.wpbench_work/<workload>``,
which is removed before and after the run.

The inputs are written and the store bootstrapped once, then one
untimed warm-up op runs.  ``--trace 0`` then measures for ``--seconds``
(and at least ``MIN_OPS`` ops) and reports the end-to-end metrics.
``--trace 1`` alternates untraced and traced ops over the same time and
reports the per-layer metrics of the traced ops, plus the tracing
overhead (traced minus untraced medians).  The line before the result
is a report with sample counts, tails, the input digest, the set-up
breakdown, the error rate and the host-noise record.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from wpbench import metrics, stats  # noqa: E402
from wpbench.trace import Tracer, self_times  # noqa: E402

WORKLOAD_NAMES = ("wrangle_bulk", "ingest_serve", "corpus_dedup")
COMPILE_CALLS = 5
MIN_OPS = 3  # per measured phase, so a median exists on a slow host
DRIVER_MEMORY = "1g"


def _isolate(work: Path) -> None:
    """Keep Spark's and Python's scratch files inside the work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(stats.nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp}") + " pyspark-shell")
    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _measure(wl, seconds: float, tracer: Tracer = None) -> list:
    """Steps the workload for ``seconds`` and at least ``MIN_OPS`` ops per
    sample set.  With a tracer, ops alternate between untraced and traced,
    so the drift of a warming JVM hits both alike; returns the sample sets
    (untraced first) and leaves the last one on ``wl``."""
    sets = [wl.new_samples() for _ in range(2 if tracer else 1)]
    end = time.perf_counter() + seconds
    i = 0
    while not wl.exhausted and (time.perf_counter() < end or min(
            len(s.op_lat) for s in sets) < MIN_OPS):
        wl.samples = sets[i % len(sets)]
        if tracer:
            tracer.enabled = wl.samples is sets[1]
        wl.timed_step()
        i += 1
    if tracer:
        tracer.enabled = False
    wl.samples = sets[-1]
    return sets


def _time_compile(wl, tracer: Tracer) -> None:
    """``pipeline.compile`` in calls of its own, after the measured ops,
    so traced ops do the same work as untraced ones."""
    target = wl.compile_target()
    for _ in range(COMPILE_CALLS if target else 0):
        with tracer.span("pipeline.compile"):
            wl.pipeline.compile(*target)


def layer_metrics(tracer: Tracer, wl, get_session_s: float) -> dict:
    spans = tracer.spans
    own = self_times(spans)
    by_name = defaultdict(list)
    ops = defaultdict(list)
    for sp in spans:
        by_name[sp.name].append(sp)
        if sp.op is not None:
            ops[sp.op].append(sp)

    def self_median(name, scale):
        xs = [own[sp.sid] for sp in by_name[name]]
        return stats.median(xs) * scale if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    pipeline_calls = len(by_name["pipeline.create_multiple"]) \
        + len(by_name["pipeline.get_or_create"])
    pipeline_jobs = sum(sp.jobs for n in ("pipeline.create_multiple",
                                          "pipeline.create_multiple_exec",
                                          "pipeline.get_or_create")
                        for sp in by_name[n])
    vals = {
        "session.get_session_s": get_session_s,
        "pipeline.compile_ms": self_median("pipeline.compile", 1e3),
        "pipeline.create_multiple_plan_ms":
            self_median("pipeline.create_multiple", 1e3),
        "pipeline.create_multiple_exec_s":
            self_median("pipeline.create_multiple_exec", 1.0),
        "pipeline.get_or_create_s": self_median("pipeline.get_or_create", 1.0),
        "pipeline.spark_jobs_per_call":
            pipeline_jobs / pipeline_calls if pipeline_calls else 0.0,
        "localdf.local_df_ms": self_median("localdf.local_df", 1e3),
        "manifest.merge_ms": self_median("manifest.manifest_merge", 1e3),
        "manifest.spark_jobs_per_commit":
            mean([sp.jobs for sp in by_name["manifest.manifest_merge"]]),
        "manifest.lookup_ms": self_median("manifest.manifest_lookup", 1e3),
        "manifest.spark_jobs_per_lookup":
            mean([sp.jobs for sp in by_name["manifest.manifest_lookup"]]),
        "manifest.vacuum_ms": self_median("manifest.manifest_vacuum", 1e3),
        "manifest.vacuum_paths_deleted":
            mean([sp.value for sp in by_name["manifest.manifest_vacuum"]]),
        "quality.gopher_flags_s":
            self_median("quality.gopher_quality_flags", 1.0),
        "quality.c4_line_clean_s": self_median("quality.c4_line_clean", 1.0),
        "dedup.exact_dedup_s": self_median("dedup.exact_dedup", 1.0),
        "dedup.minhash_lsh_s": self_median("dedup.minhash_lsh_dup_pairs", 1.0),
        "spark.jobs_per_op": mean([sum(s.jobs for s in g) for g in ops.values()]),
        "spark.stages_per_op": mean([sum(s.stages for s in g)
                                     for g in ops.values()]),
        "spark.tasks_per_op": mean([sum(s.tasks for s in g)
                                    for g in ops.values()]),
        "spark.tasks_failed": sum(sp.failed_tasks for sp in spans),
    }
    for m in metrics.declared("per_layer"):
        vals.setdefault(m["name"], 0.0)
    vals.update(wl.layer_values())
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "wrangle_pypes_spark" / "__init__.py").is_file():
        print(f"wrangle_pypes_spark is not in {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    proc_start = stats.process_start_perf()
    work = ROOT / ".wpbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        return _run(args, work, proc_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, proc_start: float) -> int:
    from wrangle_pypes_spark import get_session
    from wpbench.workloads import WORKLOADS

    tracer = Tracer()
    wl = WORKLOADS[args.workload](args.seed, work, tracer)
    t = time.perf_counter()
    digest = wl.generate()
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = get_session("wpbench")
    get_session_s = time.perf_counter() - t
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        t = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t
        wl.warm_up()
        setup_s = time.perf_counter() - proc_start - gen_s
        warm_up_s = setup_s + proc_start + gen_s - t - prepare_s

        noise = stats.HostNoise()
        if args.trace:
            tracer.sc = spark.sparkContext
            untraced, traced = map(wl.e2e, _measure(wl, args.seconds, tracer))
            tracer.enabled = True
            _time_compile(wl, tracer)
            tracer.enabled = False
        else:
            untraced = traced = wl.e2e(_measure(wl, args.seconds)[0])
        host = noise.finish()
        t = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t
        tracer.sc = spark.sparkContext if args.trace else None
        tracer.resolve_jobs()
        peak_kb = stats.vm_hwm_kb("self") + stats.vm_hwm_kb(jvm_pid)
    finally:
        _stop_spark(spark)

    if args.trace:
        values = layer_metrics(tracer, wl, get_session_s)
        values["trace.overhead_op_p50_ms"] = \
            traced["op_p50_ms"] - untraced["op_p50_ms"]
        values["trace.overhead_items_per_cpu_s"] = \
            untraced["items_per_cpu_s"] - traced["items_per_cpu_s"]
        kind = "per_layer"
    else:
        values = dict(untraced, setup_s=setup_s, peak_rss_mb=peak_kb / 1024)
        kind = "end_to_end"
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_digest": digest, "generate_s": gen_s,
        "setup_s": setup_s,
        "get_session_s": get_session_s, "prepare_s": prepare_s,
        "warm_up_s": warm_up_s, "verify_s": verify_s,
        "untraced": untraced, "traced": traced if args.trace else None,
        "error_rate": wl.failed / max(wl.attempted, 1),
        "host": host, **wl.report(),
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics.as_result(values, metrics.declared(kind)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
