"""Size-gated choice between broadcast and shuffle layouts (guide §3.1:
broadcast the side that fits — decided from data size, not a per-query
literal).

The pagerank/LPA/BFS families run per-round joins against a
nodes-sized state table. Broadcasting that table makes each round one
shuffle instead of three — right whenever it fits an executor — but a
hard-coded ``broadcast_*=True`` at a call site is an assumption about
the data, not a check. These helpers derive the decision from a row
count the operator already has (or can get from materialized state for
pennies) against ``spark.sql.autoBroadcastJoinThreshold``, so the same
query text picks shuffle rounds on a billion-node graph and broadcast
rounds on a dims-sized one. Explicit ``True``/``False`` still
overrides.

``plan_fits_broadcast`` is the same gate for an operator that has no row
count, only a DataFrame: it reads the plan's own size estimate (what the
join planner compares against the same threshold), which runs no job.
``bootstrap_hash`` uses it to pick its replica-partitioned layout.
"""

from __future__ import annotations

_UNITS = {
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
}


def _parse_bytes(v: str) -> int:
    """Spark byte-conf string -> bytes (plain number = bytes; suffixes
    b/k/kb/m/mb/g/gb/t/tb, case-insensitive). Unparseable -> -1
    (treated as broadcast-off, the conservative direction)."""
    s = str(v).strip().lower()
    try:
        return int(s)
    except ValueError:
        pass
    for suf in sorted(_UNITS, key=len, reverse=True):
        if s.endswith(suf):
            try:
                return int(float(s[: -len(suf)]) * _UNITS[suf])
            except ValueError:
                return -1
    return -1


def _threshold(spark) -> int:
    return _parse_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )


def rows_fit_broadcast(spark, n_rows: int, row_bytes: int = 64) -> bool:
    """True when an ``n_rows`` state table (estimated ``row_bytes`` per
    row — 64 covers a (long, long) row with unsafe-row and map
    overhead) fits ``spark.sql.autoBroadcastJoinThreshold``. A
    threshold of -1 (broadcast disabled) gates to shuffle rounds."""
    thr = _threshold(spark)
    return thr > 0 and n_rows * row_bytes <= thr


def plan_fits_broadcast(df) -> bool:
    """True when ``df``'s optimized-plan size estimate
    (``stats().sizeInBytes()``) fits ``spark.sql.autoBroadcastJoinThreshold``.
    Planning only — no Spark job runs. Threshold -1 gates to False."""
    thr = _threshold(df.sparkSession)
    if thr <= 0:
        return False
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(str(size)) <= thr
