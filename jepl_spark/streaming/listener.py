"""Streaming metrics via StreamingQueryListener.

Captures per-batch QueryProgressEvent data (rows/sec, batch duration,
state-store rows, event-time watermark) — the ops/metrics surface the
north rule requires alongside per-partition lineage (sink.add_lineage).
"""

from __future__ import annotations

import json
import threading
from typing import Any, Optional

from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    """Thread-safe collector of streaming query progress."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict[str, Any]] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    # -- listener callbacks ------------------------------------------------

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        try:
            p = json.loads(event.progress.json)
        except Exception:
            return
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.append(str(event.id))

    # -- summaries --------------------------------------------------------

    def summary(self) -> dict[str, Any]:
        with self._lock:
            prog = list(self.progress)
        rows = sum(p.get("numInputRows", 0) for p in prog)
        dur_ms = sum(
            p.get("durationMs", {}).get("triggerExecution", 0) for p in prog
        )
        state_rows = 0
        for p in prog:
            for so in p.get("stateOperators", []) or []:
                state_rows = max(state_rows, so.get("numRowsTotal", 0))
        return {
            "batches": len(prog),
            "input_rows": rows,
            "total_trigger_ms": dur_ms,
            "rows_per_sec": (rows / (dur_ms / 1000.0)) if dur_ms else None,
            "max_state_rows": state_rows,
            "last_watermark": prog[-1].get("eventTime", {}).get("watermark")
            if prog
            else None,
        }
