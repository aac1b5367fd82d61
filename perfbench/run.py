"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload backlog_replay --seed 1 --seconds 8 --trace 0

Builds a host-sized Spark session, runs the workload (see README.md), checks
its output, prints a human-readable report and, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the gated
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes its spans to
``.perfbench_out/trace-<workload>-seed<seed>.json``. Every scratch file lives
under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {
    "full": {"backlog_events": 100000, "stream_seg_events": 500, "stream_segs": 26,
             "cow_base_events": 20000, "cow_batch_events": 400, "query_scale": 10,
             "warmup_rounds": 4, "setup_reps": 3},
    "smoke": {"backlog_events": 3000, "stream_seg_events": 200, "stream_segs": 10,
              "cow_base_events": 2000, "cow_batch_events": 50, "query_scale": 1,
              "warmup_rounds": 1, "setup_reps": 1},
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("backlog_replay", "stream_tail", "cow_read_mix", "query_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full",
                    help="smoke: tiny inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


def scratch_env(work: str, cpus: int) -> None:
    """Point every temp path the engine, Spark and Python use at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
                       "SPARK_GRAFT_CPUS": str(cpus), "TZ": "UTC",
                       # every JVM, the spark-submit launcher's too: no
                       # hsperfdata files in the system temp directory
                       "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"})
    time.tzset()


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import harness

    cpus, mem = harness.host_cpus(), harness.host_memory_bytes()
    parent = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(parent, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        scratch_env(work, cpus)
        return run_workload(args, work, cpus, mem)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(parent)


def run_workload(args, work: str, cpus: int, mem: int) -> int:
    import duckdb
    import pyarrow
    import pyspark

    import harness
    import metrics
    from go_bqloader_spark.plans import QUERIES
    from go_bqloader_spark.session import build_session

    size = SIZES[args.size]
    settings = harness.session_settings(work, cpus, mem)
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus, extra_conf=settings)
    t1 = time.perf_counter()
    try:
        tracer = harness.Tracer(spark, f"{args.workload}-{args.seed}", enabled=False)
        tracer.add("session.build", t0, t1)
        run = harness.Run(spark, tracer, work, args.seed, args.seconds, cpus, size,
                          bool(args.trace))
        if args.workload == "query_suite":
            import check_oracle
            from query_suite import query_suite

            rounds = query_suite(run, lambda pdf: check_oracle.rowset(
                list(pdf.columns), check_oracle.pdf_rows(pdf)))
        else:
            import lake_workloads

            rounds = getattr(lake_workloads, args.workload)(run)
        run.phase("check")
        setup_s = (t1 - t0) + harness.median(run.setup_times)
        rss = harness.peak_rss_mb(spark)
        plain = [r for r in rounds if not r["traced"]]
        gated = metrics.gated(plain, setup_s, rss)
        report = metrics.report(args.workload, run, plain, setup_s, rss)
        layer = None
        if args.trace:
            tracer.attach_spark_counters()
            layer = metrics.per_layer(args.workload, run, rounds, list(QUERIES))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_file = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(trace_file, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "spans": tracer.spans, "self_s": tracer.self_times()}, f, default=str)
    finally:
        stop_spark(spark)

    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} size={args.size} rounds={len(plain)}"
          f"{'+%d traced' % (len(rounds) - len(plain)) if args.trace else ''}")
    print(f"host nproc={cpus} mem_gb={mem / 2**30:.1f} master=local[{cpus}] "
          f"driver_memory={settings['spark.driver.memory']} "
          f"offheap={settings['spark.memory.offHeap.size']} spark={pyspark.__version__} "
          f"pyarrow={pyarrow.__version__} duckdb={duckdb.__version__} "
          f"python={sys.version.split()[0]} commit={harness.git_commit(ROOT)}")
    marks = [("build", t1 - t0)] + [(name, t - prev) for (_, prev), (name, t)
                                     in zip(run.phases, run.phases[1:])]
    print("time line: " + ", ".join(f"{name} {dt:.1f}s" for name, dt in marks))
    print("round_s samples: " + " ".join(f"{r['round_s']:.3f}" for r in plain)
          + f"; op samples: {sum(len(r['op_s']) for r in plain)}")
    print("cpu_s samples: " + " ".join(f"{r['cpu_s']:.3f}" for r in plain))
    print("host steal_s samples: " + " ".join(f"{r['steal_s']:.3f}" for r in plain))
    print("end-to-end (untraced rounds):")
    for k, (v, unit) in report.items():
        print(f"  {k:24s} {fmt(v):>14s} {unit}")
    for name in run.failures:
        print(f"  FAILED CHECK: {name}")
    if args.trace:
        print("tracing overhead (traced minus untraced rounds): "
              + ", ".join(f"{k} {layer[k][0]:+.4g} {layer[k][1]}"
                          for k in ("trace.overhead_round_s", "trace.overhead_op_ms")))
        print("span self time (traced spans): name calls total_s self_s")
        for name, calls, total, self_s in metrics.span_table(run):
            print(f"  {name:32s} {calls:5d} {total:10.4f} {self_s:10.4f}")
        print(f"spans written to {os.path.relpath(trace_file, ROOT)}")
    chosen = layer if args.trace else gated
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
