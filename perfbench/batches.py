"""rule_batch and curation_batch: entry functions of ``__spark_entry__``
over seeded tables, each result compared with its ``oracle_sql()``
DuckDB twin by the comparison of ``tools/check_entry.py``.

One pass calls every entry in turn: build (the entry returns a lazy
DataFrame), plan (force ``executedPlan``), action (collect).  A warm-up
pass runs during set-up; timed passes repeat until ``--seconds`` has
elapsed and ``wall_s`` is the median pass.  Every result of every pass
is checked, so ops = passes x entries.
"""

from __future__ import annotations

import gc
import math
import os
import sys
import time

from harness import (
    ROOT,
    RssSampler,
    StatusStore,
    TracedParse,
    Tracer,
    covered_s,
    median,
    node_sum,
    sql_layers,
)

RULES = (
    "jepl_sum_filter", "jepl_five_aggs_group", "jepl_postagg_arith",
    "jepl_in_or_regex", "jepl_ni_and_compare", "jepl_json_props",
    "jepl_div0_quirk", "jepl_lineitem_rule", "jepl_orders_rule",
    "window_tumbling", "window_sliding", "window_session",
)
# rollup_cascade_events is left out of RULES: it disagrees with its twin
# on half-way roundings of avg_v (Spark's round of 88959/2400 gives
# 37.0663, DuckDB 37.0662), which generated events hit on most seeds.
# selftest.py reproduces it as a failed op.

CURATION = (
    "minhash_near_dups", "ngram_jaccard_pairs", "dedup_against_minhash_docs",
    "audio_fp_near_dups", "audio_xrate_near_dups", "audio_trim_near_dups",
    "lm_score_docs", "strip_boilerplate_docs", "decontaminate_docs",
    "winnow_fingerprints", "substring_dedup_docs",
)

RULE_TABLES = {"events": 100_000, "lineitem": 600_000, "orders": 150_000}
CURATION_TABLES = {"documents": 2000}


def entry_module():
    import __spark_entry__

    return __spark_entry__


def normalize(rows, columns):
    """``tools/check_entry.py``'s row normalisation."""
    if os.path.join(ROOT, "tools") not in sys.path:
        sys.path.append(os.path.join(ROOT, "tools"))
    from check_entry import normalize

    return normalize(rows, columns)


def same_result(srows, scols, drows, dcols) -> str | None:
    """None when the two results agree, else why not: the rule of
    ``tools/check_entry.py`` (rows normalised and sorted, floats equal
    to 1e-9)."""
    sc, sn = normalize(srows, scols)
    dc, dn = normalize(drows, dcols)
    if sc != dc:
        return f"columns differ: {sc} vs {dc}"
    if len(sn) != len(dn):
        return f"row counts differ: {len(sn)} vs {len(dn)}"
    for a, b in zip(sn, dn):
        if a != b and not (len(a) == len(b) and all(
            (isinstance(x, float) and isinstance(y, float)
             and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)) or x == y
            for x, y in zip(a, b)
        )):
            return f"values differ: {a} vs {b}"
    return None


def oracle_results(stage: str, names) -> dict[str, tuple[list, list]]:
    import duckdb

    con = duckdb.connect()
    for f in os.listdir(stage):
        t = f.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(stage, f)}/*.parquet')"
        )
    sqls = entry_module().oracle_sql()
    out = {}
    for name in names:
        res = con.execute(sqls[name])
        out[name] = ([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def run_pass(spark, names, stage, tracer: Tracer, rss: RssSampler,
             on_result) -> float:
    """One call of every entry; returns the pass wall time."""
    queries = entry_module().queries()
    t0 = time.time()
    with tracer.span("pass"):
        for name in names:
            with tracer.span("call", entry=name):
                with tracer.span("build"):
                    df = queries[name](spark, stage)
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span("action"):
                    rows = [tuple(r) for r in df.collect()]
            on_result(name, df.columns, rows)
            rss.sample()
    wall = time.time() - t0
    spark.catalog.clearCache()
    gc.collect()
    return wall


def run(spark, workload: str, stage: str, seconds: float, tracer: Tracer,
        rss: RssSampler, setup_done) -> dict:
    names = RULES if workload == "rule_batch" else CURATION
    failures: dict[str, str] = {}
    counts = {"attempted": 0, "failed": 0}

    def check(name, cols, rows, count=True):
        why = same_result(rows, cols, oracles[name][1], oracles[name][0])
        counts["attempted"] += count
        counts["failed"] += count and why is not None
        if why:
            failures.setdefault(name, why)

    untraced = Tracer(False, "")
    with tracer.span("phase", phase="setup"):
        oracles = oracle_results(stage, names)
        run_pass(spark, names, stage, untraced, rss,
                 lambda *r: check(*r, count=False))
    setup_done()

    parse = TracedParse(tracer) if tracer.enabled else None
    walls, t_start = [], time.time()
    # a traced run times one untraced pass first: the tracing overhead
    plain = (run_pass(spark, names, stage, untraced, rss, check)
             if tracer.enabled else None)
    t_traced = time.time()
    try:
        with tracer.span("phase", phase="measure"):
            while not walls or time.time() - t_start < seconds:
                walls.append(run_pass(spark, names, stage, tracer, rss, check))
    finally:
        if parse:
            parse.restore()
    out = {**counts, "failures": failures, "wall_s": median(walls),
           "units": len(walls)}
    if tracer.enabled:
        r0 = time.time()
        out["layers"] = batch_layers(StatusStore(spark), tracer, names,
                                     t_traced)
        out["layers"]["trace.overhead_s"] = time.time() - r0
        out["layers"]["trace.overhead_pct"] = 100.0 * (median(walls) / plain - 1)
    return out


def batch_layers(store, tracer: Tracer, names, t_start: float) -> dict:
    execs = store.executions(t_start, time.time())
    n_pass = max(1, tracer.count("pass"))
    layers = {k: v / n_pass for k, v in sql_layers(execs).items()
              if k != "exchange.skew"}
    layers["exchange.skew"] = sql_layers(execs)["exchange.skew"]
    layers["lang.parse_s"] = tracer.total("parse") / n_pass
    layers["lang.statements"] = tracer.count("parse") / n_pass
    layers["compiler.build_s"] = tracer.total("build") / n_pass
    layers["driver.plan_s"] = tracer.total("plan") / n_pass
    layers["sources.rows"] = node_sum(
        execs, "Scan", "number of output rows") / n_pass
    calls = [s for s in tracer.spans if s["name"] == "call"]
    if names and names[0] in CURATION:
        total_exec = 0
        driver = 0.0
        for name in names:
            mine = [c for c in calls if c["entry"] == name]
            wall = sum(c["end"] - c["start"] for c in mine)
            layers[f"operators.{name}.s"] = wall / max(1, len(mine))
            for c in mine:
                ex = [e for e in execs if c["start"] <= e["start"] <= c["end"]]
                total_exec += len(ex)
                driver += (c["end"] - c["start"]) - covered_s(
                    ex, c["start"], c["end"])
        layers["operators.executions"] = total_exec / n_pass
        layers["operators.python_s"] = layers["functions.python_s"]
        layers["operators.driver_s"] = driver / n_pass
    return layers
