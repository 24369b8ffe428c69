"""One observed checkpoint: ``observe`` + eager ``localCheckpoint`` in
one job. What a caller needs to know about the frame (rows in a new
level, labels changed, a key range) comes from that job, not from a
second ``count()`` over its blocks. Observed aggregates cannot use
DISTINCT."""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, Observation


def checkpoint(df: DataFrame, *observed):
    """``(frame, row)``: ``df`` eagerly checkpointed, and the row of the
    ``observed`` aggregates from the same job (``None`` without any)."""
    if not observed:
        return df.localCheckpoint(eager=True), None
    obs = Observation()
    frame = df.observe(obs, *observed).localCheckpoint(eager=True)
    return frame, obs.get


@contextlib.contextmanager
def _materialized(df: DataFrame, *observed):
    """:func:`checkpoint` that frees its blocks on every exit. A
    row-level writer (MERGE, upsert) reads its source several times;
    one materialized copy scans it once, and every pass sees the SAME
    rows even from a non-deterministic source. Not ``cache()``: a lost
    block fails the write before its commit instead of silently
    re-evaluating the source."""
    frame, row = checkpoint(df, *observed)
    try:
        yield frame, row
    finally:
        frame._jdf.logicalPlan().rdd().unpersist(True)
