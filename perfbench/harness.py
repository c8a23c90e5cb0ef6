"""Shared machinery of the benchmark: host-sized Spark session, process
tree RSS sampling, and the opt-in tracer.

The tracer measures every layer from outside the program: it times
calls into public ``jepl_spark`` functions and reads what Spark already
publishes — ``StreamingQuery.recentProgress`` and the per-node SQL
metrics of ``spark._jsparkSession.sharedState().statusStore()``, read
after the listener bus drains (works with the UI disabled).
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


# -- host and session ------------------------------------------------------


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: the driver runs every
    task in local mode and the host is shared."""
    return min(4096, host_mem_mb() // 4)


def prepare_process(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    checkout importable by the driver and the Python workers."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_settings(cores: int, stream: bool,
                     parts: int | None = None) -> dict[str, str]:
    """``bench.make_spark``'s settings with the driver sized to the
    host: RocksDB state store, UTC, AQE, UI off, 2 x cores shuffle
    partitions (bench's stream setting of 8 on 4 cores; its batch default
    of 32 was sized for 32 cores); stream sessions read wide-binary
    parquet row-wise and cap Arrow batches at 256 rows."""
    conf = {
        "spark.sql.shuffle.partitions": str(parts or 2 * cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.adaptive.enabled": "true",
        "spark.driver.memory": f"{driver_mem_mb()}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if stream:
        conf["spark.sql.parquet.enableVectorizedReader"] = "false"
        conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = "256"
    return conf


def make_session(work: str, cores: int, stream: bool,
                 parts: int | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in session_settings(cores, stream, parts).items():
        b = b.config(k, v)
    b = b.config("spark.local.dir", os.path.join(work, "spark-local")).config(
        "spark.driver.extraJavaOptions",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM PySpark launched (it exits when its stdin closes) and
    wait until it and every Python worker it forked have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None or gw.proc is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    end = time.time() + timeout_s
    while len(tree_pids(os.getpid())) > 1 and time.time() < end:
        time.sleep(0.1)


def clean_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- memory --------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


class RssSampler:
    """Peak of the summed resident memory of this process and all its
    descendants (driver JVM, Python daemon and workers), sampled at call
    sites — the benchmark starts no sampling thread.  Each process
    counts its proportional set size, so the pages forked Python
    workers share with their daemon are counted once."""

    def __init__(self) -> None:
        self.peak_mb = 0.0

    def sample(self) -> float:
        total_kb = 0
        for pid in tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total_kb += next(int(line.split()[1]) for line in f
                                     if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        mb = total_kb / 1024
        self.peak_mb = max(self.peak_mb, mb)
        return mb


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_active(query, rss: RssSampler, timeout_s: float = 600.0,
                poll_s: float = 0.2) -> None:
    """Wait for an availableNow query to end, sampling RSS meanwhile."""
    end = time.time() + timeout_s
    while not query.awaitTermination(poll_s):
        rss.sample()
        if time.time() > end:
            query.stop()
            raise TimeoutError("streaming query did not finish in time")


# -- tracing -------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out when the run ends; ``enabled=False`` makes every span a
    no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record an already-finished span (e.g. a micro-batch read from
        the query progress) under the current span."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "run": self.run_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": start, "end": end, **attrs,
            })

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TracedParse:
    """Trace mode only: time ``parse_statement`` where the engine and
    the windowed front door call it."""

    def __init__(self, tracer: Tracer) -> None:
        import jepl_spark.engine as eng
        import jepl_spark.streaming.windows as win

        self.sites = [eng, win]
        self.orig = eng.parse_statement
        orig = self.orig

        def parse(text):
            with tracer.span("parse"):
                return orig(text)

        for m in self.sites:
            m.parse_statement = parse

    def restore(self) -> None:
        for m in self.sites:
            m.parse_statement = self.orig


# -- Spark's SQL status store ----------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VAL = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")


def parse_metric(text: str) -> tuple[float, list[float]]:
    """Spark's rendered SQL metric → (total, [min, med, max]) in base
    units (seconds, bytes, count); the triple is empty for one-value
    metrics.  Examples: ``"7"``, ``"2 ms"``, ``"total (min, med, max
    (stageId: taskId))\\n64.0 B (16.0 B, 16.0 B, 16.0 B (stage 2.0: task
    8))"``."""
    line = text.strip().splitlines()[-1]
    vals = [
        float(n.replace(",", "")) * _UNITS.get(u or "", 1.0)
        for n, u in _VAL.findall(line.split("(stage")[0])
    ]
    if not vals:
        return 0.0, []
    return vals[0], vals[1:4]


class StatusStore:
    """Per-node SQL metrics of the executions a call triggered."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc
        self._store = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def executions(self, t0: float, t1: float) -> list[dict]:
        """Executions submitted in [t0, t1] (wall seconds), with their
        own interval and every node metric."""
        self.drain()
        out = []
        it = self._store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            sub = e.submissionTime() / 1000.0
            if not (t0 <= sub <= t1):
                continue
            done = e.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else t1
            out.append({
                "id": e.executionId(), "start": sub, "end": end,
                "nodes": self._nodes(e.executionId()),
            })
        return out

    def _nodes(self, exec_id: int) -> list[tuple[str, str, float, list]]:
        values = self._store.executionMetrics(exec_id)
        nodes = []
        it = self._store.planGraph(exec_id).allNodes().iterator()
        while it.hasNext():
            nd = it.next()
            ms = nd.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    total, triple = parse_metric(v.get())
                    nodes.append((nd.name(), m.name(), total, triple))
        return nodes


def node_sum(execs: list[dict], node_prefix, metric: str) -> float:
    prefixes = (node_prefix,) if isinstance(node_prefix, str) else node_prefix
    return sum(
        total for e in execs for node, name, total, _ in e["nodes"]
        if name == metric and node.startswith(prefixes)
    )


_PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
             "BatchEvalPython", "FlatMapCoGroupsInPandas",
             "AggregateInPandas", "WindowInPandas", "MapInArrow")


def sql_layers(execs: list[dict]) -> dict[str, float]:
    """The status-store share of the per-layer metrics."""
    skews = [
        triple[2] / triple[1]
        for e in execs for node, name, _, triple in e["nodes"]
        if node.startswith("Exchange") and name == "shuffle records written"
        and len(triple) == 3 and triple[1] > 0
    ]
    return {
        "sources.files_read": node_sum(execs, "Scan", "number of files read"),
        "sources.bytes_read": node_sum(execs, "Scan", "size of files read"),
        "functions.python_s": node_sum(execs, _PY_NODES,
                                       "time to run Python workers"),
        "functions.python_start_s": (
            node_sum(execs, _PY_NODES, "time to start Python workers")
            + node_sum(execs, _PY_NODES, "time to initialize Python workers")
        ),
        "functions.arrow_bytes_sent": node_sum(
            execs, _PY_NODES, "data sent to Python workers"),
        "functions.arrow_bytes_returned": node_sum(
            execs, _PY_NODES, "data returned from Python workers"),
        "functions.rows": node_sum(execs, _PY_NODES, "number of output rows"),
        "exchange.bytes": node_sum(execs, "Exchange", "shuffle bytes written"),
        "exchange.write_s": node_sum(execs, "Exchange", "shuffle write time"),
        "exchange.fetch_wait_s": node_sum(execs, "Exchange", "fetch wait time"),
        "exchange.skew": max(skews, default=0.0),
        "codegen.stage_s": node_sum(execs, "WholeStageCodegen", "duration"),
        "scan.metadata_s": node_sum(execs, "Scan", "metadata time"),
    }


def covered_s(execs: list[dict], t0: float, t1: float) -> float:
    """Length of the union of the executions' intervals within [t0, t1]."""
    spans = sorted((max(t0, e["start"]), min(t1, e["end"])) for e in execs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- results ---------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
