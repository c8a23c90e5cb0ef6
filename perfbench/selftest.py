"""Self-test of the benchmark.

    python3 perfbench/selftest.py [--smoke]

1. Planted defects: each must raise the failed-op count of the checker
   that guards it — a duplicated sink batch, a dropped window, a
   perturbed aggregate (count and avg_rms), a rule result off by one
   row, a rule value off by one.
2. Known baseline failure: ``rollup_cascade_events`` (left out of
   rule_batch) on a 24-row hour whose exact average is the half-way
   37.06625 must still be counted as a failed op.
3. ``BENCHMARK.json`` names exactly the metrics the benchmark prints.
4. ``--smoke``: every workload once at ``--seconds 3`` (untraced; the
   batch workloads then time a single pass, stream_live closes ~20
   windows) and stream_live once traced; each must print a well-formed
   result line with no failed op.

Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def expect(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def stream_defects() -> None:
    from streams import check_rows

    window_s, wm = 2, 100.0
    counts = {(0, "pcm16"): 3, (0, "ulaw"): 1, (2, "pcm16"): 2, (98, "alaw"): 1,
              (200, "pcm16"): 5}  # the last window is still open at wm
    static = {k: (n, 0.25 + k[0]) for k, n in counts.items()}
    good = [(b, ws, c, counts[(ws, c)], static[(ws, c)][1])
            for b, (ws, c) in enumerate(k for k in counts if k[0] < 98)]
    good.append((9, 98, "alaw", 1, static[(98, "alaw")][1]))
    att, failed, _ = check_rows(good, counts, static, window_s, wm)
    expect(att == 4 and not failed, "stream check: clean output passes")

    planted = {
        "duplicated sink batch": good + [(10,) + good[0][1:]],
        "dropped window": good[1:],
        "perturbed count": [good[0][:3] + (good[0][3] + 1, good[0][4])] + good[1:],
        "perturbed avg_rms": [good[0][:4] + (good[0][4] * (1 + 1e-6),)] + good[1:],
        "row for an open window": good + [(11, 200, "pcm16", 5, 200.25)],
    }
    for name, rows in planted.items():
        _, f, bad = check_rows(rows, counts, static, window_s, wm)
        expect(len(f) == 1, f"stream check: {name} is one failed op ({bad})")


def rule_defects() -> None:
    from batches import same_result

    cols = ["event_type", "n", "avg_v"]
    rows = [("click", 10, 1.5), ("view", 7, 2.25), ("error", 3, 0.125)]
    expect(same_result(list(reversed(rows)), cols, rows, cols) is None,
           "rule check: same rows in another order pass")
    expect(same_result(rows[:-1], cols, rows, cols) is not None,
           "rule check: a result off by one row is a failed op")
    off = [rows[0][:1] + (11,) + rows[0][2:]] + rows[1:]
    expect(same_result(off, cols, rows, cols) is not None,
           "rule check: a count off by one is a failed op")


def known_failure() -> None:
    """rollup_cascade_events on one hour of 24 'error' events summing to
    889.59: avg 37.06625 rounds to 37.0663 in Spark, 37.0662 in DuckDB."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from batches import entry_module, oracle_results, same_result

    work = harness.clean_dir(os.path.join(harness.WORK_ROOT, "selftest"))
    harness.prepare_process(work)
    cents = np.full(24, 3706, dtype=np.int64)
    cents[:15] += 1  # 15 x 37.07 + 9 x 37.06 = 889.59
    values = cents / 100.0
    expect(int(cents.sum()) == 88959,
           "tie input: 88959 cents over 24 rows, average 37.06625")
    stage = os.path.join(work, "stage", "events.parquet")
    os.makedirs(stage)
    base = 1_704_067_200_000_000
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(24, dtype=np.int64)),
        "ts": pa.array(base + np.arange(24) * 60_000_000, pa.timestamp("us")),
        "user_id": pa.array(np.zeros(24, np.int64)),
        "event_type": pa.array(["error"] * 24),
        "value": pa.array(values),
        "props": pa.array(['{"k": 1}'] * 24),
    }), os.path.join(stage, "part-00000.parquet"))
    spark = harness.make_session(work, 1, stream=False)
    try:
        df = entry_module().queries()["rollup_cascade_events"](
            spark, os.path.dirname(stage))
        rows = [tuple(r) for r in df.collect()]
        cols = df.columns
    finally:
        spark.stop()
    dcols, drows = oracle_results(os.path.dirname(stage),
                                  ["rollup_cascade_events"])[
        "rollup_cascade_events"]
    why = same_result(rows, cols, drows, dcols)
    expect(why is not None,
           f"known failure: rollup_cascade_events tie is a failed op ({why})")


def benchmark_json() -> None:
    import run

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect({m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END),
           "BENCHMARK.json end_to_end = the metrics of an untraced run")
    expect([m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER),
           "BENCHMARK.json per_layer = the metrics of a traced run")
    expect({w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS),
           "BENCHMARK.json workloads are all runnable")


def smoke() -> None:
    import run

    runs = [(w, 0) for w in run.WORKLOADS] + [("stream_live", 1)]
    for w, trace in runs:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", "7", "--seconds", "3", "--trace", str(trace)],
            cwd=harness.ROOT, capture_output=True, text=True, timeout=300)
        last = (p.stdout.strip().splitlines() or [""])[-1]
        try:
            res = json.loads(last)
        except ValueError:
            res = {}
        names = run.PER_LAYER if trace else run.END_TO_END
        expect(p.returncode == 0 and set(res) == {
            "correct", "attempted", "failed", "metrics"}
            and set(res["metrics"]) == set(names)
            and res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
            f"smoke {w} trace={trace}: {last[:160] or p.stderr[-300:]}")


def main() -> int:
    harness.prepare_process(os.path.join(harness.WORK_ROOT, "selftest"))
    benchmark_json()
    stream_defects()
    rule_defects()
    known_failure()
    if "--smoke" in sys.argv[1:]:
        smoke()
    return 0


if __name__ == "__main__":
    sys.exit(main())
