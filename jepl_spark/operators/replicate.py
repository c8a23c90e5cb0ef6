"""The one replicate-or-shuffle decision of the curation operators.

Several operators have two shapes: collect a small table to the driver
and replicate it (broadcast, or one in-memory task), or stream it
through shuffles.  They all decide the same way, here:

- :data:`BUDGET_BYTES` is the one ceiling on what the driver may
  collect and broadcast (the replica also lands on every executor);
- :func:`planned_bytes` estimates the bytes of the table that will
  actually be collected, from the optimizer's own plan statistics;
- :func:`fits` is the decision.  Callers look it up through this
  module at call time (``replicate.fits(...)``), so one
  ``monkeypatch.setattr(replicate, "fits", ...)`` forces every guard
  either way in a test.

A guard consults :func:`fits` only when the replicated path is
feasible at all (a lazy ``materialize=False`` plan never collects), and
it bounds the quantity it collects, not the input it happens to scan.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

#: Bytes the driver may collect and broadcast for one operator call.
#: Each replicated path holds its table ~2-3x over while it builds
#: sorted numpy arrays, once on the driver and once per executor, so
#: 128 MB stays far inside a 4 GB driver.  Larger or unknown tables
#: keep the shuffle shape, which streams any size.
BUDGET_BYTES = 128 << 20

# spark.sql.defaultSizeInBytes (Long.MaxValue unless set): the size a
# plan reports when nothing below it knows its size
_UNKNOWN = 1 << 62


def planned_bytes(*frames: DataFrame, row_bytes: int | None = None):
    """Estimated bytes of collecting ``frames``: per frame, the
    optimizer's row estimate times ``row_bytes`` (the caller's width of
    one collected row), summed.  ``row_bytes=None`` takes each frame's
    own planned bytes.  The row estimate is the plan's row count when
    it carries one (a materialized cache does), else its size estimate
    over its per-row width (Spark's size model: 8 B of row overhead
    plus each column's default size).  Returns None when any frame's
    size is unknown (e.g. ``spark.createDataFrame`` input) — which
    :func:`fits` reads as "does not fit"."""
    total = 0
    for frame in frames:
        try:
            stats = frame._jdf.queryExecution().optimizedPlan().stats()
            size = int(str(stats.sizeInBytes()))
            rows = stats.rowCount()
            rows = int(str(rows.get())) if rows.isDefined() else None
        except (AttributeError, Py4JError):  # no JVM plan, or it failed
            return None
        if size >= _UNKNOWN:
            return None
        if row_bytes is None:
            total += size
            continue
        if rows is None:
            width = 8 + int(frame._jdf.schema().defaultSize())
            rows = -(-size // width)
        total += rows * row_bytes
    return total


def fits(size: int | None, bound: int | None = None) -> bool:
    """True when the replicated/local path should run: ``size`` is
    known and within ``bound`` (default :data:`BUDGET_BYTES`, read at
    call time).  ``strip_boilerplate_lines`` passes its own bound: its
    limit is on CPU per line, not on memory."""
    limit = BUDGET_BYTES if bound is None else bound
    return size is not None and size <= limit
