"""jepl_spark benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Workloads (``BENCHMARK.json`` lists
stream_live and curation_batch; the other two run the same way, but four
workloads' runs do not fit the benchmark driver's time budget):

- ``stream_drain``   availableNow backfill of a seeded clip + transcript
                     corpus through the north-rule pipeline;
- ``stream_live``    the same pipeline as an open loop fed by a file
                     release thread, timing every window close;
- ``rule_batch``     JEPL rule entries over seeded events / lineitem /
                     orders tables, each checked against its DuckDB twin;
- ``curation_batch`` eleven curation operator entries over a seeded
                     documents table (and their own clip fixtures),
                     each checked against its DuckDB twin.

``wall_s`` is the median warm unit of work: one drain, one window close
(due release → sink commit), one pass over the rules or the operators.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Spark runs in this process on
``local[nproc]``; everything it writes stays under ``.perfbench_work/``.
Diagnostics (settings, load average, failures) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batches  # noqa: E402
import harness  # noqa: E402

WORKLOADS = ("stream_drain", "stream_live", "rule_batch", "curation_batch")

END_TO_END = {"setup_s": "s", "wall_s": "s"}

PER_LAYER = {
    "lang.parse_s": "s", "lang.statements": "count",
    "compiler.build_s": "s", "driver.plan_s": "s",
    "sources.files_read": "count", "sources.bytes_read": "B",
    "sources.rows": "count", "sources.list_s": "s",
    "functions.python_s": "s", "functions.python_start_s": "s",
    "functions.arrow_bytes_sent": "B", "functions.arrow_bytes_returned": "B",
    "functions.rows": "count",
    "join.state_rows_max": "count", "join.state_bytes_max": "B",
    "join.update_s": "s", "join.evict_s": "s", "join.commit_s": "s",
    "join.load_s": "s", "join.late_dropped": "count",
    "agg.state_rows_max": "count", "agg.commit_s": "s", "agg.evict_s": "s",
    "agg.load_s": "s", "agg.late_dropped": "count",
    "batch.count": "count", "batch.empty_count": "count",
    "batch.trigger_p50_s": "s", "batch.planning_s": "s", "batch.add_s": "s",
    "batch.wal_s": "s",
    "sink.write_batch_s": "s", "sink.write_job_s": "s", "sink.commit_s": "s",
    "sink.marker_s": "s", "sink.files_written": "count",
    "sink.bytes_written": "B", "sink.replays_skipped": "count",
    **{f"operators.{name}.s": "s" for name in batches.CURATION},
    "operators.executions": "count", "operators.python_s": "s",
    "operators.driver_s": "s",
    "exchange.bytes": "B", "exchange.write_s": "s",
    "exchange.fetch_wait_s": "s", "exchange.skew": "ratio",
    "codegen.stage_s": "s", "scan.metadata_s": "s",
    "gen.late_max_s": "s", "gen.backlog_end_clips": "count",
    "host.loadavg_1m": "load", "host.peak_rss_mb": "MB",
    "live.close_latency_p50_s": "s", "live.close_latency_tail_s": "s",
    "drain.clips_per_sec": "clips/s", "drain.clips_per_sec_1c": "clips/s",
    "drain.efficiency_1to4": "ratio",
    "trace.overhead_s": "s", "trace.overhead_pct": "%",
}


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def log(**kv) -> None:
    print("perfbench " + json.dumps(kv, default=str), file=sys.stderr,
          flush=True)


def run_workload(spark, args, work, tracer, rss, setup_done) -> dict:
    if args.workload in ("stream_drain", "stream_live"):
        import streams

        fn = streams.run_drain if args.workload == "stream_drain" else streams.run_live
        return fn(spark, work, args.seed, args.seconds, tracer, rss, setup_done)
    import gen

    sizes = (batches.RULE_TABLES if args.workload == "rule_batch"
             else batches.CURATION_TABLES)
    stage = os.path.join(work, "stage")
    with tracer.span("phase", phase="stage"):
        gen.stage_tables(stage, args.seed, sizes)
    return batches.run(spark, args.workload, stage, args.seconds, tracer,
                       rss, setup_done)


def main(argv=None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, "jepl_spark")):
        print("perfbench: no jepl_spark package next to perfbench/; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2

    def too_long(*_):
        raise TimeoutError("perfbench run exceeded 175 s")

    signal.signal(signal.SIGALRM, too_long)
    signal.alarm(175)

    work = os.path.join(harness.WORK_ROOT, f"{args.workload}-{os.getpid()}")
    harness.prepare_process(work)
    cores = harness.host_cores()
    stream = args.workload.startswith("stream")
    log(workload=args.workload, seed=args.seed, cores=cores,
        driver_mem_mb=harness.driver_mem_mb(),
        settings=harness.session_settings(cores, stream))
    rss = harness.RssSampler()
    tracer = harness.Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    marks = {}

    def setup_done():
        marks["setup_s"] = time.time() - t_proc
        marks["loadavg"] = harness.loadavg_1m()
        rss.sample()

    spark = harness.make_session(work, cores, stream)
    try:
        with tracer.span("workload", workload=args.workload):
            res = run_workload(spark, args, work, tracer, rss, setup_done)
        rss.sample()
        layers = {**res.get("layers", {}), **res.get("report", {})}
        if args.trace and stream:
            import streams

            if args.workload == "stream_live":
                (layers["drain.clips_per_sec"], res["corpus"]) = (
                    streams.drain_diagnostic(spark, work, args.seed, rss))
            spark.stop()
            spark = None
            c1 = streams.one_core_drain(work, res["corpus"], 2 * cores, rss)
            layers["drain.clips_per_sec_1c"] = c1
            layers["drain.efficiency_1to4"] = (
                layers["drain.clips_per_sec"] / c1 / cores)
    finally:
        if spark is not None:
            spark.stop()
        harness.end_jvm()
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)
    log(result={k: v for k, v in res.items() if k not in ("layers", "corpus")},
        loadavg_1m=marks.get("loadavg"), peak_rss_mb=rss.peak_mb)
    if args.trace:
        spans = os.path.join(harness.WORK_ROOT, "spans")
        os.makedirs(spans, exist_ok=True)
        tracer.write(os.path.join(spans, f"{tracer.run_id}.jsonl"))
        layers["host.loadavg_1m"] = marks["loadavg"]
        layers["host.peak_rss_mb"] = rss.peak_mb
        metrics = {k: harness.metric(layers.get(k, 0.0), u)
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {"setup_s": harness.metric(marks["setup_s"], "s"),
                   "wall_s": harness.metric(res["wall_s"], "s")}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
