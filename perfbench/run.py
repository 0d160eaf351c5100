"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Runs one phase: launch a fresh JVM,
generate the workload's inputs from the seed, set the workload up
``SETUPS`` times, warm it, measure for ``--seconds`` and at least the
workload's ``MIN_OPS`` operations, check every output against a reference
outside the timed part, and stop the JVM. It prints as its last line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The line
before it is the full record (environment, input sizes, every sample),
which is also written under ``.perfbench/results/``.

The end-to-end metrics are CPU time of this process and the processes
below it, with the slow-down other guests of a shared host cause taken
out (clock.py): those guests move wall time by up to 2.5-fold from run to
run, raw CPU time by up to a half, and that figure by about 6 %.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
untraced phase and then a traced one in a fresh JVM of its own, on the
inputs the first phase generated; the traced one has Spark's event log on
and every span as a Spark job group. It reports the per-layer metrics,
the untraced phase's wall-clock and memory figures, and ``overhead.*``:
traced minus untraced end-to-end values.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
}

# Wall-clock and memory figures of the untraced phase. Contention on a
# shared host moves wall time by up to twofold from run to run, and peak
# memory moves with when the JVM grows its heap, so they are reported
# with the per-layer metrics, where no bound gates them.
WALL = {
    "mem.peak_rss_mb": "MB",
    "wall.setup_s": "s",
    "wall.throughput_per_s": "1/s",
    "wall.latency_p50_ms": "ms",
    "wall.latency_tail_ms": "ms",
}

PER_LAYER = {
    **WALL,
    "jvm.jit_cpu_ms": "ms",
    "host.steal_share": "ratio",
    "session.start_s": "s",
    "generator.input_gen_s": "s",
    "sources.load_s": "s",
    "sources.bytes_written_per_input_byte": "ratio",
    "sources.files_written": "count",
    "quality.check_s": "s",
    "quality.jobs": "count",
    "quality.rows_read_per_row_loaded": "ratio",
    "kpis.s": "s",
    "kpis.shuffle_bytes": "bytes",
    "risk.s": "s",
    "risk.jobs": "count",
    "api.create_views_s": "s",
    "api.sql_exec_ms": "ms",
    "serving.build_ms": "ms",
    "serving.exec_ms": "ms",
    "serving.jobs_per_request": "count",
    "serving.tasks_per_request": "count",
    "serving.driver_gap_ms": "ms",
    "serving.job_wait_ms": "ms",
    **{
        f"plans.queries_{m}.s": "s"
        for m in (
            "core", "analytics", "joins", "events", "text", "sim", "corpus",
            "curation", "multimodal",
        )
    },
    "plans.build_s": "s",
    "plans.driver_gap_s": "s",
    "plans.relational_s": "s",
    "plans.corpus_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    **{f"overhead.{k}": u for k, u in END_TO_END.items()},
}


def pin_environment(work: str) -> dict[str, str]:
    """Everything the program reads from the environment, set explicitly."""
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the package from the checkout.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pinned[k], exist_ok=True)
    os.environ.update(pinned)
    tempfile.tempdir = None
    return pinned


def run_phase(wl, work: str, seed: int, seconds: float, traced: bool) -> dict:
    """One phase in a fresh JVM: launch, generate inputs (unless an earlier
    phase has), set up SETUPS times, warm, measure, check. Returns its
    metrics and parts."""
    from clock import Probe
    from jvm import jvm_pid, peak_rss_mb, reset_peak_rss, start_session, stop_jvm
    from spans import Tracer, attach, read_event_logs
    from stats import FailureCount, latency_summary, least_cpu_s
    from workloads import spark_runtime

    tracer = Tracer()
    log_dir = os.path.join(work, "eventlog") if traced else None
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = start_session(work, log_dir)
    launch_s = time.perf_counter() - t0
    java = spark.sparkContext._jvm.System.getProperty("java.version")
    t0 = time.perf_counter()
    if getattr(wl, "paths", None) is None:
        wl.paths = wl.generate(spark, seed)
    input_gen_s = time.perf_counter() - t0
    reset_peak_rss()
    # The first set-up runs in the session the launch made; the others
    # each restart the session in the same JVM first.
    setup_samples = []
    for i in range(SETUPS):
        probe = Probe(jvm_pid())
        if i:
            spark.stop()
            spark = start_session(work, log_dir)
        if traced:
            tracer.spark_context = spark.sparkContext
        wl.setup(spark, tracer)
        setup_samples.append(probe.stop())
    probe = Probe(jvm_pid())
    wl.warm(spark, tracer)
    warm = probe.stop()
    failures = FailureCount()
    probe = Probe(jvm_pid())
    m = wl.measure(spark, tracer, seconds, failures)
    window = probe.stop()
    rss_python, rss_jvm = peak_rss_mb()
    t0 = time.perf_counter()
    wl.check(failures, spark)
    check_s = time.perf_counter() - t0
    stop_jvm()
    lat = latency_summary(m.op_ms)
    # The CPU figure is taken over the first MIN_OPS operations of the
    # window only: code still gets compiled over the first minutes of a
    # JVM, so an operation's CPU time depends on how many ran before it.
    first = m.samples[: wl.MIN_OPS]
    e2e = {
        "setup_s": statistics.median(x.adj_cpu_s for x in setup_samples),
        "op_cpu_ms": 1000.0 * least_cpu_s(m.parts[: wl.MIN_OPS]),
    }
    wall = {
        "mem.peak_rss_mb": rss_python + rss_jvm,
        "wall.setup_s": launch_s + statistics.median(x.wall_s for x in setup_samples)
        + warm.wall_s,
        "wall.throughput_per_s": m.items / m.elapsed_s,
        "wall.latency_p50_ms": lat["p50"],
        "wall.latency_tail_ms": lat["tail"],
        "jvm.jit_cpu_ms": 1000.0 * statistics.median(x.jit_s for x in first),
        "host.steal_share": window.steal_share,
    }
    out = {
        "e2e": e2e,
        "wall": wall,
        "failures": failures,
        "java": java,
        "record": {
            "traced": traced,
            "end_to_end": e2e,
            **wall,
            "latency_ms": lat,
            "op_ms": [round(v, 1) for v in m.op_ms],
            "jvm_launch_s": launch_s,
            "input_gen_s": input_gen_s,
            "setup_samples": [x.as_dict() for x in setup_samples],
            "warm": warm.as_dict(),
            "window": window.as_dict(),
            "op_samples": [x.as_dict() for x in m.samples],
            "part_samples": [{k: x.as_dict() for k, x in p.items()} for p in m.parts],
            "items": m.items,
            "elapsed_s": m.elapsed_s,
            "peak_rss_mb_python": rss_python,
            "peak_rss_mb_jvm": rss_jvm,
            "check_s": check_s,
            "attempted": failures.attempted,
            "failed": failures.failed,
            "failed_ops_ratio": failures.ratio,
            "errors": failures.errors,
            **m.info,
        },
    }
    if traced:
        reports = attach(tracer.spans, read_event_logs(log_dir))
        layers = {"session.start_s": launch_s, "generator.input_gen_s": input_gen_s}
        layers.update(wl.layers(reports, m))
        layers.update(spark_runtime(reports, m.units))
        out["layers"] = layers
        out["spans"] = [
            {
                "id": r.span.id, "name": r.span.name, "layer": r.span.layer,
                "parent": r.span.parent, "start": r.span.start, "end": r.span.end,
                "self_s": r.self_s, "job_gap_s": r.job_gap_s,
                "job_wait_s": r.job_wait_s, "jobs": len(r.jobs),
            }
            for r in reports.values()
        ]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Everything a run writes stays in the checkout, under a directory
    # the repository ignores.
    state_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(state_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=state_dir)
    try:
        return _run(args, work, state_dir)
    finally:
        if "jvm" in sys.modules:
            sys.modules["jvm"].stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, state_dir: str) -> int:
    sys.path.insert(0, ROOT)
    env = pin_environment(work)
    load_before = os.getloadavg()

    import pyspark

    import inputs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](work)

    phases = [run_phase(wl, work, args.seed, args.seconds, traced=False)]
    if args.trace:
        phases.append(run_phase(wl, work, args.seed, args.seconds, traced=True))

    attempted = sum(p["failures"].attempted for p in phases)
    failed = sum(p["failures"].failed for p in phases)
    if args.trace:
        base, traced = phases
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(traced["layers"])
        metrics.update(base["wall"])
        # the traced phase reuses the inputs the untraced one generated
        metrics["generator.input_gen_s"] = base["record"]["input_gen_s"]
        for k in END_TO_END:
            metrics[f"overhead.{k}"] = traced["e2e"][k] - base["e2e"][k]
        units = PER_LAYER
    else:
        metrics, units = phases[0]["e2e"], END_TO_END

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": {
            **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")},
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "java": phases[0]["java"],
            "python": platform.python_version(),
        },
        "inputs": inputs.input_stats(wl.paths),
        "phases": [p["record"] for p in phases],
        "metrics": metrics,
    }
    results = os.path.join(state_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump(phases[1]["spans"], f)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
