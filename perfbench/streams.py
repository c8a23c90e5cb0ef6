"""stream_drain and stream_live: the north-rule pipeline through the JEPL
streaming front door.

    file_stream(audio) → with_audio_features (Arrow UDF) ─┐
    file_stream(transcripts) ──────────────────────────────┴→
    audio_transcript_join (clip_id, 30 s watermarks) →
    run_rule_stream(JEPL rule, tumbling window, group by codec) →
    IdempotentParquetSink

``stream_drain`` backfills a pre-generated corpus with ``availableNow``
(a few large micro-batches).  ``stream_live`` is an open loop: one
thread moves small pre-written files into the watched directories on a
fixed schedule and each closed window is timed from the scheduled
release of the file that moved the watermark past its end to the
return of the sink commit that holds it.

Checks: committed (window, codec) counts equal a DuckDB aggregation of
the generated input restricted to windows closed by the final
watermark; no row is committed twice; ``avg_rms`` equals a static
DataFrame run of the same plan made during set-up.  Each expected
(window, codec) row is one op.
"""

from __future__ import annotations

import math
import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import (
    RssSampler,
    StatusStore,
    TracedParse,
    Tracer,
    clean_dir,
    median,
    node_sum,
    sql_layers,
    wait_active,
)

RULE = ("select count(clip_id) AS clips, avg(rms) AS avg_rms from joined "
        "where rms >= 0 group by codec")
WATERMARK_S = 30.0  # audio_transcript_join's default on both inputs
MAX_DELAY_S = 20
MAX_DELAY = f"{MAX_DELAY_S} seconds"
TRANSCRIPT_DELAY_S = 1.0
LATE_EVERY = 7  # every 7th clip arrives 30 steps late (clip_row)

# stream_drain: 3000 clips, 50 ms of event time apart, 4 files a side,
# two files per trigger; 5-second windows.
DRAIN = {"clips": 3000, "step_s": 0.05, "files": 4, "per_trigger": 2,
         "window": "5 seconds", "window_s": 5}
# stream_live: 50 clips/s — well below the ~190 clips/s a warm drain
# reaches here, since every micro-batch pays ~3 s of fixed cost —
# released as one audio + one transcript file every 0.2 s.  Event time
# runs 30x faster than wall time (0.6 s per clip), so a 10 s run closes
# over 100 2-second windows.  A file spans 6 s of event time and a late
# clip is 18 s late, so a swapped pair plus a late clip stays inside the
# 30 s watermark delay (no input is dropped) and every late clip still
# meets its transcript within the join's 20 s bound.
LIVE = {"rate": 50.0, "tick_s": 0.2, "step_s": 0.6, "window": "2 seconds",
        "window_s": 2}
WARM_CLIPS = 100
TAIL_PCT = 90            # close_latency tail percentile (>= 10 beyond)
LATENCY_LIMIT_S = 30.0   # a window closing later counts as a failed op


# -- input -------------------------------------------------------------------


def clip_table(first: int, n: int, step_s: float) -> tuple[pa.Table, pa.Table]:
    """Audio and transcript rows for clip indices [first, first + n)."""
    from jepl_spark.sources.clips import BASE_TS, clip_row

    rows = [clip_row(i, step_s, LATE_EVERY) for i in range(first, first + n)]
    audio = pa.Table.from_pandas(pd.DataFrame(rows), preserve_index=False)
    idx = np.arange(first, first + n)
    trans = pa.table({
        "clip_id": [r["clip_id"] for r in rows],
        "transcript": [r["transcript"] for r in rows],
        "event_time": pa.array(
            BASE_TS + pd.to_timedelta(
                np.round((idx * step_s + TRANSCRIPT_DELAY_S) * 1e6), unit="us"),
            pa.timestamp("us")),
        "seq": pa.array(idx, pa.int64()),
    })
    audio = audio.set_column(
        audio.schema.get_field_index("event_time"), "event_time",
        audio["event_time"].cast(pa.timestamp("us")))
    return audio, trans


def write_files(table: pa.Table, d: str, parts: int, tag: str) -> list[str]:
    """``table`` as ``parts`` files of consecutive rows."""
    os.makedirs(d, exist_ok=True)
    step = -(-table.num_rows // parts)
    paths = [os.path.join(d, f"{tag}-{k:05d}.parquet") for k in range(parts)]
    for k, path in enumerate(paths):
        pq.write_table(table.slice(k * step, step), path)
    return paths


def first_clip(seed: int) -> int:
    """First clip index of a run: the seed offsets every clip (and its
    event time); indices below it stay free for warm-up clips."""
    return 1_000 + (seed % 997) * 100_000


def epoch_s_of_clip(i: int, step_s: float) -> float:
    from jepl_spark.sources.clips import BASE_TS

    return BASE_TS.timestamp() + i * step_s


# -- pipeline --------------------------------------------------------------


def build_pipeline(spark, audio, trans):
    from pyspark.sql import functions as F

    from jepl_spark.functions.audio_udfs import with_audio_features
    from jepl_spark.streaming.join import audio_transcript_join

    slim = with_audio_features(audio).select(
        "clip_id", "codec", "event_time", F.col("af.rms").alias("rms"))
    return audio_transcript_join(slim, trans.drop("seq"), max_delay=MAX_DELAY)


def static_expected(spark, a_dir, t_dir, window: str) -> dict:
    """(window_start epoch s, codec) → (clips, avg_rms) from a static
    DataFrame run of the same plan (also warms the UDF and codegen)."""
    from pyspark.sql import functions as F

    from jepl_spark.streaming.windows import windowed_select

    joined = build_pipeline(spark, spark.read.parquet(a_dir),
                            spark.read.parquet(t_dir))
    out = windowed_select(RULE, joined, ts_col="event_time", duration=window)
    return {
        (r[0], r[1]): (r[2], r[3])
        for r in out.select(
            F.unix_timestamp("window_start"), "codec", "clips", "avg_rms"
        ).collect()
    }


def duck_counts(a_dir: str, t_dir: str, window_s: int) -> dict:
    """(window_start epoch s, codec) → joined clip count, by DuckDB."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT epoch_us(a.event_time) // {window_s * 1_000_000} * {window_s} AS ws,
               a.codec, count(*)
        FROM read_parquet('{a_dir}/*.parquet') a
        JOIN read_parquet('{t_dir}/*.parquet') t
          ON a.clip_id = t.clip_id AND t.event_time >= a.event_time
         AND t.event_time <= a.event_time + INTERVAL {MAX_DELAY}
        GROUP BY ALL""").fetchall()
    con.close()
    return {(r[0], r[1]): r[2] for r in rows}


_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_nodes(plan) -> list[tuple[str, str, float, list]]:
    """(node, metric, value, []) for every node of an executed plan, in
    the status store's shape.  A micro-batch runs inside the sink's
    write job, so the status store never attributes these metrics to an
    execution; they are read from the batch's plan instead."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        ms = node.metrics()
        it = ms.keysIterator()
        while it.hasNext():
            m = ms.apply(it.next())
            name = m.name().get() if m.name().isDefined() else ""
            out.append((node.nodeName(), name,
                        m.value() * _SCALE.get(m.metricType(), 1.0), []))
        kids = node.children().iterator()
        while kids.hasNext():
            todo.append(kids.next())
    return out


class TimedSink:
    """IdempotentParquetSink behind a timed wrapper of its public
    ``write_batch``: records each call's interval and whether the batch
    had already been committed (a replay the sink skips).  With
    ``probe`` (the query's session) it also keeps each micro-batch's
    plan metrics."""

    def __init__(self, root: str, probe=None) -> None:
        from jepl_spark.streaming.sink import IdempotentParquetSink

        self.sink = IdempotentParquetSink(root)
        self.calls: dict[int, tuple[float, float, bool]] = {}
        self.probe = probe
        self.plans: dict[int, list] = {}

    def write_batch(self, df, batch_id: int) -> None:
        replay = self.sink.is_committed(batch_id, df.sparkSession)
        t0 = time.time()
        self.sink.write_batch(df, batch_id)
        self.calls[batch_id] = (t0, time.time(), replay)
        if self.probe is not None:
            (q,) = self.probe.streams.active
            self.plans[batch_id] = plan_nodes(
                q._jsq.streamingQuery().lastExecution().executedPlan())

    def rows(self, spark) -> list[tuple]:
        """(batch_id, window_start epoch s, codec, clips, avg_rms)."""
        from pyspark.sql import functions as F

        if not self.sink.committed_batches(spark):
            return []
        return [tuple(r) for r in self.sink.read_committed(spark).select(
            "_lineage_batch", F.unix_timestamp("window_start"), "codec",
            "clips", "avg_rms").collect()]


def start_query(spark, a_dir, t_dir, schemas, sink: TimedSink, ckpt: str,
                window: str, per_trigger, available_now: bool):
    from jepl_spark.streaming.engine import file_stream, run_rule_stream

    joined = build_pipeline(
        spark,
        file_stream(spark, a_dir, schemas[0], per_trigger),
        file_stream(spark, t_dir, schemas[1], per_trigger),
    )
    return run_rule_stream(
        RULE, joined, ts_col="event_time", duration=window, watermark=None,
        checkpoint=ckpt, foreach_batch=sink.write_batch,
        available_now=available_now, query_name="perfbench")


def watermark_s(progress: list[dict]) -> float:
    """The window aggregation's watermark in the last batch: the input
    watermark less the join's time bound, which Spark subtracts when it
    propagates a watermark through a stream-stream join."""
    for p in reversed(progress):
        wm = (p.get("eventTime") or {}).get("watermark")
        if wm:
            return pd.Timestamp(wm).timestamp() - MAX_DELAY_S
    return float("-inf")


def check_rows(rows, counts, static, window_s, final_wm) -> tuple[int, set, dict]:
    """Compare committed rows with the expected (window, codec) rows of
    windows closed by ``final_wm``.  Returns (attempted, the failed
    (window, codec) keys, the first failure of each kind)."""
    expected = {k: v for k, v in counts.items() if k[0] + window_s <= final_wm}
    seen: dict[tuple, list] = {}
    for b, ws, codec, clips, avg in rows:
        seen.setdefault((ws, codec), []).append((clips, avg))
    failed, bad = set(), {}
    for key, n in expected.items():
        got = seen.get(key)
        if not got:
            kind = "missing"
        elif len(got) > 1:
            kind = "duplicate"
        elif got[0][0] != n:
            kind = "count"
        elif not math.isclose(got[0][1], static[key][1], rel_tol=1e-9,
                              abs_tol=1e-12):
            kind = "avg_rms"
        else:
            continue
        failed.add(key)
        bad.setdefault(kind, (key, got))
    extra = [k for k in seen if k not in expected]
    if extra:
        failed.update(extra)
        bad["unexpected"] = extra[0]
    return len(expected) + len(extra), failed, bad


def progress_layers(progress: list[dict]) -> dict[str, float]:
    def ops(name):
        return [o for p in progress for o in p.get("stateOperators", [])
                if o.get("operatorName") == name]

    def dur(key):
        return [p["durationMs"].get(key, 0) / 1000.0 for p in progress]

    out = {}
    for prefix, name in (("join", "symmetricHashJoin"),
                         ("agg", "stateStoreSave")):
        o = ops(name)
        out[f"{prefix}.state_rows_max"] = max(
            (x.get("numRowsTotal", 0) for x in o), default=0)
        out[f"{prefix}.state_bytes_max"] = max(
            (x.get("memoryUsedBytes", 0) for x in o), default=0)
        out[f"{prefix}.update_s"] = sum(x.get("allUpdatesTimeMs", 0) for x in o) / 1e3
        out[f"{prefix}.evict_s"] = sum(x.get("allRemovalsTimeMs", 0) for x in o) / 1e3
        out[f"{prefix}.commit_s"] = sum(x.get("commitTimeMs", 0) for x in o) / 1e3
        out[f"{prefix}.load_s"] = sum(
            (x.get("customMetrics") or {}).get("rocksdbLoadLatencyMs", 0)
            for x in o) / 1e3
        out[f"{prefix}.late_dropped"] = sum(
            x.get("numRowsDroppedByWatermark", 0) for x in o)
    trig = dur("triggerExecution")
    out.update({
        "batch.count": len(progress),
        "batch.empty_count": sum(1 for p in progress if p["numInputRows"] == 0),
        "batch.trigger_p50_s": median(trig),
        "batch.planning_s": sum(dur("queryPlanning")),
        "batch.add_s": sum(dur("addBatch")),
        "batch.wal_s": sum(dur("walCommit")) + sum(dur("commitOffsets")),
        "sources.list_s": sum(dur("latestOffset")) + sum(dur("getBatch")),
        "sources.rows": sum(s.get("numInputRows", 0) for p in progress
                            for s in p.get("sources", [])),
    })
    return out


def sink_layers(sink: TimedSink, execs: list[dict]) -> dict[str, float]:
    write_s = marker_s = 0.0
    writes = []
    for t0, t1, replay in sink.calls.values():
        write_s += t1 - t0
        mine = [e for e in execs if t0 <= e["start"] <= t1 and any(
            n.startswith("Execute InsertIntoHadoopFsRelationCommand")
            for n, *_ in e["nodes"])]
        if mine:
            writes.extend(mine)
            marker_s += t1 - max(e["end"] for e in mine)
    return {
        "sink.write_batch_s": write_s,
        "sink.write_job_s": sum(e["end"] - e["start"] for e in writes),
        "sink.commit_s": node_sum(writes, "Execute", "job commit time")
        + node_sum(writes, "Execute", "task commit time"),
        "sink.marker_s": marker_s,
        "sink.files_written": node_sum(writes, "Execute", "number of written files"),
        "sink.bytes_written": node_sum(writes, "Execute", "written output"),
        "sink.replays_skipped": sum(1 for *_, r in sink.calls.values() if r),
    }


def stream_layers(spark, store: StatusStore, progress, sink, t0, t1,
                  tracer: Tracer) -> dict[str, float]:
    execs = store.executions(t0, t1)
    out = sql_layers([{"nodes": n} for n in sink.plans.values()])
    out.update(progress_layers(progress))
    out.update(sink_layers(sink, execs))
    out["driver.plan_s"] = out["batch.planning_s"]
    for p in progress:
        start = pd.Timestamp(p["timestamp"]).timestamp()
        tracer.add("micro-batch", start,
                   start + p["durationMs"]["triggerExecution"] / 1e3,
                   batch=p["batchId"])
    for b, (s, e, _) in sorted(sink.calls.items()):
        tracer.add("write_batch", s, e, batch=b)
    return out


def progress_of(query) -> list[dict]:
    import json

    return [json.loads(p.json) for p in query.recentProgress]


def stage_corpus(work: str, name: str, first: int, n: int, step_s: float,
                 files: int) -> tuple[str, str, list, list]:
    audio, trans = clip_table(first, n, step_s)
    a_dir, t_dir = f"{work}/{name}/audio", f"{work}/{name}/trans"
    return (a_dir, t_dir, write_files(audio, a_dir, files, "a"),
            write_files(trans, t_dir, files, "t"))


def schemas_of(spark, a_dir, t_dir):
    return spark.read.parquet(a_dir).schema, spark.read.parquet(t_dir).schema


def drain_once(spark, a_dir, t_dir, schemas, out: str, rss: RssSampler,
               probe: bool = False):
    """One availableNow run; returns (wall, sink, progress)."""
    sink = TimedSink(f"{out}/sink", spark if probe else None)
    t0 = time.time()
    q = start_query(spark, a_dir, t_dir, schemas, sink, f"{out}/ckpt",
                    DRAIN["window"], DRAIN["per_trigger"], True)
    wait_active(q, rss)
    return time.time() - t0, sink, progress_of(q)


def run_drain(spark, work, seed, seconds, tracer: Tracer, rss: RssSampler,
              setup_done) -> dict:
    t_setup = time.time()
    first, n = first_clip(seed), DRAIN["clips"]
    a_dir, t_dir, _, _ = stage_corpus(work, "in", first, n, DRAIN["step_s"],
                                      DRAIN["files"])
    wa, wt, _, _ = stage_corpus(work, "warm", first + n, WARM_CLIPS,
                                DRAIN["step_s"], 1)
    schemas = schemas_of(spark, a_dir, t_dir)
    static = static_expected(spark, a_dir, t_dir, DRAIN["window"])
    counts = duck_counts(a_dir, t_dir, DRAIN["window_s"])
    drain_once(spark, wa, wt, schemas, clean_dir(f"{work}/warm-run"), rss)
    setup_done()
    tracer.add("phase", t_setup, time.time(), phase="setup")

    store = StatusStore(spark) if tracer.enabled else None
    walls, cps, attempted, failed, bad = [], [], 0, 0, {}
    layers: list[dict] = []
    trace_s = 0.0
    t_start = time.time()
    while not walls or time.time() - t_start < seconds:
        with tracer.span("drain", n=len(walls)):
            t0 = time.time()
            wall, sink, progress = drain_once(
                spark, a_dir, t_dir, schemas,
                clean_dir(f"{work}/run{len(walls)}"), rss, tracer.enabled)
            if tracer.enabled:
                r0 = time.time()
                layers.append(stream_layers(spark, store, progress, sink, t0,
                                            time.time(), tracer))
                trace_s += time.time() - r0
        rows = sink.rows(spark)
        a, f, b = check_rows(rows, counts, static, DRAIN["window_s"],
                             watermark_s(progress))
        attempted, failed = attempted + a, failed + len(f)
        for k, v in b.items():
            bad.setdefault(k, v)
        walls.append(wall)
        cps.append(sum(r[3] for r in rows) / wall)
    out = {
        "attempted": attempted, "failed": failed, "failures": bad,
        "wall_s": median(walls),
        "units": len(walls),
        "report": {"drain.clips_per_sec": median(cps)},
    }
    if tracer.enabled:
        lay = {k: median([d[k] for d in layers]) for k in layers[0]}
        lay["trace.overhead_s"] = trace_s / len(walls)
        lay["trace.overhead_pct"] = 100.0 * lay["trace.overhead_s"] / median(walls)
        out["layers"] = lay
        out["corpus"] = (a_dir, t_dir, schemas)
    return out


def drain_diagnostic(spark, work, seed, rss: RssSampler) -> tuple[float, tuple]:
    """Clips/s of one warm drain of a fresh stream_drain corpus, and the
    corpus, for the traced run's 1-core comparison."""
    first = first_clip(seed) + 50_000
    a_dir, t_dir, _, _ = stage_corpus(work, "in", first, DRAIN["clips"],
                                      DRAIN["step_s"], DRAIN["files"])
    stage_corpus(work, "warm", first + DRAIN["clips"], WARM_CLIPS,
                 DRAIN["step_s"], 1)
    schemas = schemas_of(spark, a_dir, t_dir)
    drain_once(spark, f"{work}/warm/audio", f"{work}/warm/trans", schemas,
               clean_dir(f"{work}/warm-4c"), rss)
    wall, sink, _ = drain_once(spark, a_dir, t_dir, schemas,
                               clean_dir(f"{work}/run-4c"), rss)
    return sum(r[3] for r in sink.rows(spark)) / wall, (a_dir, t_dir, schemas)


def one_core_drain(work, corpus, parts: int, rss: RssSampler) -> float:
    """Clips/s of one drain of the same corpus in a fresh local[1]
    session with the same shuffle partitions (after a warm-up drain);
    the caller has stopped its own session."""
    from harness import make_session

    # PySpark's second context in one process logs "Failed to update
    # accumulator 0" per task (the first context's accumulator server is
    # gone); the drain itself is unaffected
    spark = make_session(work, 1, stream=True, parts=parts)
    try:
        a_dir, t_dir, schemas = corpus
        wa, wt = f"{work}/warm/audio", f"{work}/warm/trans"
        drain_once(spark, wa, wt, schemas, clean_dir(f"{work}/warm-1c"), rss)
        wall, sink, _ = drain_once(spark, a_dir, t_dir, schemas,
                                   clean_dir(f"{work}/run-1c"), rss)
        return sum(r[3] for r in sink.rows(spark)) / wall
    finally:
        spark.stop()


def release_order(rng, n: int) -> list[int]:
    """File indices in release order: each adjacent pair is swapped with
    probability 1/2, so files arrive out of order by at most one tick."""
    order = list(range(n))
    for k in range(0, n - 1, 2):
        if rng.random() < 0.5:
            order[k], order[k + 1] = order[k + 1], order[k]
    return order


def file_max_event_s(paths: list[str]) -> list[float]:
    return [pq.read_table(p, columns=["event_time"])["event_time"]
            .cast(pa.int64()).to_numpy().max() / 1e6 for p in paths]


def run_live(spark, work, seed, seconds, tracer: Tracer, rss: RssSampler,
             setup_done) -> dict:
    t_setup = time.time()
    parse = TracedParse(tracer) if tracer.enabled else None
    rng = np.random.default_rng(seed)
    per_tick = int(LIVE["rate"] * LIVE["tick_s"])
    n_ticks = int(math.ceil(seconds / LIVE["tick_s"]))
    first = first_clip(seed)
    sa, st, a_files, t_files = stage_corpus(
        work, "stage", first, per_tick * n_ticks, LIVE["step_s"], n_ticks)
    order = release_order(rng, n_ticks)
    a_max, t_max = file_max_event_s(a_files), file_max_event_s(t_files)
    # warm-up: one file pair of clips that precede the measured ones, fed
    # to the same live query and fully processed before the schedule
    wa, wt, wa_files, wt_files = stage_corpus(
        work, "warm", first - 2 * WARM_CLIPS, WARM_CLIPS, LIVE["step_s"], 1)
    schemas = schemas_of(spark, sa, st)
    static = static_expected(spark, sa, st, LIVE["window"])
    counts = duck_counts(sa, st, LIVE["window_s"])

    a_dir, t_dir = clean_dir(f"{work}/live/audio"), clean_dir(f"{work}/live/trans")
    sink = TimedSink(f"{work}/live/sink", spark if tracer.enabled else None)
    with tracer.span("build"):
        q = start_query(spark, a_dir, t_dir, schemas, sink,
                        f"{work}/live/ckpt", LIVE["window"], None, False)
    if parse:
        parse.restore()
    os.rename(wa_files[0], os.path.join(a_dir, "warm.parquet"))
    os.rename(wt_files[0], os.path.join(t_dir, "warm.parquet"))
    wait_quiet(q, WARM_CLIPS, rss)
    warm_batches = len(progress_of(q))
    setup_done()
    tracer.add("phase", t_setup, time.time(), phase="setup")

    t0 = time.time() + 0.5
    due = [t0 + k * LIVE["tick_s"] for k in range(n_ticks)]
    actual: list[float] = []

    def release():
        for k, f in enumerate(order):
            time.sleep(max(0.0, due[k] - time.time()))
            os.rename(a_files[f], os.path.join(a_dir, os.path.basename(a_files[f])))
            os.rename(t_files[f], os.path.join(t_dir, os.path.basename(t_files[f])))
            actual.append(time.time())

    gen = threading.Thread(target=release, name="perfbench-release")
    gen.start()
    try:
        while gen.is_alive():
            rss.sample()
            gen.join(0.1)
        release_end = time.time()
        wait_quiet(q, WARM_CLIPS + per_tick * n_ticks, rss)
    finally:
        gen.join()
        progress = progress_of(q)[warm_batches:]
        q.stop()
    tracer.add("phase", t0, time.time(), phase="measure")
    t_check = time.time()
    final_wm = watermark_s(progress)
    # drop the warm-up clips' windows; a late measured clip is at most 30
    # steps before the first one
    t_first = epoch_s_of_clip(first - 30, LIVE["step_s"]) - LIVE["window_s"]
    rows = [r for r in sink.rows(spark) if r[1] >= t_first]
    attempted, failed, bad = check_rows(rows, counts, static,
                                        LIVE["window_s"], final_wm)

    # the aggregation's watermark after each release: min over inputs of
    # max event time, less the 30 s delay and the join's 20 s bound
    wm, ma, mt = [], float("-inf"), float("-inf")
    for f in order:
        ma, mt = max(ma, a_max[f]), max(mt, t_max[f])
        wm.append(min(ma, mt) - WATERMARK_S - MAX_DELAY_S)
    lat: dict[int, float] = {}
    for b, ws, codec, *_ in rows:
        k = next((i for i, w in enumerate(wm) if w >= ws + LIVE["window_s"]),
                 None)
        if k is None or b not in sink.calls:
            bad.setdefault("unexplained_close", ws)
            failed.add((ws, codec))
            continue
        lat[ws] = sink.calls[b][1] - due[k]
        if lat[ws] > LATENCY_LIMIT_S:
            bad.setdefault("over_limit", (ws, lat[ws]))
            failed.add((ws, codec))
    vals = sorted(lat.values())
    out = {
        "attempted": attempted, "failed": len(failed), "failures": bad,
        "wall_s": median(vals),
        "units": len(vals),
        "report": {
            "live.close_latency_p50_s": median(vals),
            "live.close_latency_tail_s": tail(vals),
            "gen.late_max_s": max(a - d for a, d in zip(actual, due)),
            "gen.backlog_end_clips": backlog(progress, release_end,
                                             per_tick * n_ticks),
        },
    }
    tracer.add("phase", t_check, time.time(), phase="check")
    if tracer.enabled:
        r0 = time.time()
        lay = stream_layers(spark, StatusStore(spark), progress, sink, t0,
                            time.time(), tracer)
        lay["trace.overhead_s"] = time.time() - r0
        lay["trace.overhead_pct"] = 100.0 * lay["trace.overhead_s"] / (
            time.time() - t0)
        lay["lang.parse_s"] = tracer.total("parse")
        lay["lang.statements"] = tracer.count("parse")
        lay["compiler.build_s"] = tracer.total("build")
        out["layers"] = lay
    return out


def tail(vals: list[float]) -> float:
    """The TAIL_PCT percentile, which needs at least 10 samples beyond
    it; shorter runs (smoke tests) get the maximum instead."""
    if len(vals) * (100 - TAIL_PCT) / 100 < 10:
        return max(vals, default=0.0)
    return float(np.percentile(vals, TAIL_PCT, method="lower"))


def backlog(progress: list[dict], at: float, released: int) -> int:
    done = 0
    for p in progress:
        end = (pd.Timestamp(p["timestamp"]).timestamp()
               + p["durationMs"]["triggerExecution"] / 1e3)
        if end <= at:
            done += p["sources"][0]["numInputRows"]
    return released - done


def wait_quiet(q, clips: int, rss: RssSampler, timeout_s: float = 60.0) -> None:
    """Wait until every released clip is consumed and the no-data batch
    that follows the last watermark move has run."""
    end = time.time() + timeout_s
    while time.time() < end:
        rss.sample()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        prog = progress_of(q)
        seen = sum(p["sources"][0]["numInputRows"] for p in prog)
        st = q.status
        if (seen >= clips and prog and prog[-1]["numInputRows"] == 0
                and not st["isTriggerActive"] and not st["isDataAvailable"]):
            return
        time.sleep(0.1)
