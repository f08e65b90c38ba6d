"""The one file-sizing scope for table writes.

AQE's ``coalescePartitions.parallelismFirst`` default refuses to
coalesce below ``defaultParallelism``, so a 172-row MERGE output lands
as 32 near-empty files: each one a footer stats read now and a scan
task forever after. Inside :func:`sized_files` the conf is ``false``,
so shuffle-derived frames (merge sources, CDF change rows, MV
aggregations) coalesce to the advisory partition size, while frames
without a live shuffle (plain appends of scan-partitioned data) keep
their scan parallelism.

The conf is session-wide, and writers of one session may run on
several threads at once (``CDCApplier.apply_batch`` applies a batch's
tables concurrently). So the scope counts the writers inside it per
session, under one lock: the first writer in sets the conf, the last
one out restores what the first found. A writer's file counts then
depend on its own operation, not on which other writer is running,
and the conf is never left changed.
"""

from __future__ import annotations

import contextlib
import threading

_KEY = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
_LOCK = threading.Lock()
# JVM session -> [writers inside the scope, conf value the first found]
_HELD: dict = {}


@contextlib.contextmanager
def sized_files(session):
    """Hold ``parallelismFirst=false`` on ``session`` (a SparkSession:
    the written frame's, since a foreachBatch frame runs in the
    stream's clone of the caller's session) for the duration of the
    block. Nests, and is safe to enter from several threads."""
    key = session._jsparkSession  # py4j compares JVM objects by equals()
    conf = session.conf
    with _LOCK:
        held = _HELD.get(key)
        if held is None:
            held = _HELD[key] = [0, conf.get(_KEY, None)]
            conf.set(_KEY, "false")
        held[0] += 1
    try:
        yield
    finally:
        with _LOCK:
            held[0] -= 1
            if not held[0]:
                del _HELD[key]
                if held[1] is None:
                    conf.unset(_KEY)
                else:
                    conf.set(_KEY, held[1])
