"""Seeded bootstrap resampling (SURVEY A9; reference utils.py:54-56,
time_resolution_beta_scan.py:21-30,249-258).

The reference resamples each group with ``sample(frac=1, replace=True)``
(unseeded!). Two distributed implementations, both seeded — an improvement
the survey calls for (§5.5 determinism discipline):

- ``bootstrap_exact``   — exact per-group multinomial (group size preserved
  exactly, like pandas): one ``applyInPandas`` per (group x replica); rng
  seeded from (seed, group key hash, replica) so results are reproducible
  regardless of partitioning. Used where the reference semantics must hold
  exactly (time-resolution: resample triggers).

- ``bootstrap_hash``    — pure-SQL Poisson(1) approximation: each row gets
  a deterministic pseudo-random count per replica derived from an integer
  LCG hash of (row key, replica). No Python, no shuffle beyond the
  downstream aggregation, *and* reproducible in any engine — the DuckDB
  oracle replays it exactly. Replica sizes vary ~Poisson (multinomial ->
  Poisson is the standard large-n bootstrap equivalence); the statistics
  (replica std error) are equivalent at bootstrap sample sizes.

``bootstrap_hash`` has two layouts with identical output rows and column
order; it picks one from the input's size, with no option:

- **replica-partitioned** (input fits a broadcast — the optimized plan's
  ``sizeInBytes`` estimate is within ``spark.sql.autoBroadcastJoinThreshold``,
  ``autobroadcast.plan_fits_broadcast``, no job): the replica ids are a
  relation that scans nothing (``SELECT explode(sequence(0, n-1))``),
  hash-partitioned on the replica column into
  ``max(n_replicas, defaultParallelism)`` slices and cross-joined to the
  broadcast input (``BroadcastNestedLoopJoin``, which keeps the streamed
  side's partitioning). The output is therefore already
  ``HashPartitioning(replica)``, which satisfies a clustering on any
  superset of the replica key: a downstream ``groupBy(..., replica)``
  (e.g. the Δt-grid MAD) and a ``Window.partitionBy(replica)`` (the
  per-replica argmin) plan no exchange. The cost is a parallelism cap: the
  stage has one busy task per distinct replica hash — 33 replicas hash
  into 20 of 33 slices (19 of 32), at most 3 replicas per slice — and
  every task scans the whole broadcast input. A global sort right after
  such an exchange-free chain range-samples it by running the whole
  chain once more; sort the small result in one partition instead
  (``repartition(1).sortWithinPartitions``, as q26 and q38 do).
- **explode-on-data** (input too big, or broadcast disabled): the input
  rows are hash-partitioned on the row key into the same
  ``max(n_replicas, defaultParallelism)`` slices, and every row then
  explodes into its replicas in place (row blowup = n_replicas on
  average); the downstream grouped aggregation shuffles its partial
  aggregates on its keys. The shuffle moves each input row once, before
  the explode. Without it the explode and the partial aggregation keep
  the input's partitioning, and a small input shuffle that AQE coalesces
  to one partition runs them in one task.

At 100 TB the explode layout is the one that runs: no per-group Python
and no driver loop (the reference's 33-iteration loop becomes a replica
dimension, SURVEY §3.1.4), feeding a single grouped aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .autobroadcast import plan_fits_broadcast

# LCG-ish mix constants (Knuth multiplicative + Numerical Recipes). The
# key is folded mod 2^31 BEFORE the multiply, so the arithmetic is
# overflow-free for ANY non-negative int64 key: (2^31-1) * M1 + 4 * M3
# < 2^63 (the unfolded form overflowed under ANSI once composite row
# keys crossed ~3.5e9 — caught by the sf1 scale check, round 3).
_M1 = 2_654_435_761
_M2 = 40_503
_M3 = 69_069
_MOD = 2_147_483_648  # 2^31

# Poisson(1) CDF thresholds for counts 0..4 (tail folded into 4)
_POIS_CDF = [0.36787944117144233, 0.7357588823428847, 0.9196986029286058, 0.9810118431238462]


def poisson_count_expr(key_expr, replica_expr):
    """Deterministic Poisson(1)-ish count in {0..4} from integer key+replica.

    u = (((key % 2^31)*M1 + replica*M3) % 2^31) / 2^31 — identical
    arithmetic in any engine, overflow-free for any non-negative int64
    key; count = inverse-CDF bucket of u.
    """
    h = (
        (key_expr % F.lit(_MOD)) * F.lit(_M1) + replica_expr * F.lit(_M3)
    ) % F.lit(_MOD)
    u = h.cast("double") / F.lit(float(_MOD))
    c = (
        F.when(u < _POIS_CDF[0], F.lit(0))
        .when(u < _POIS_CDF[1], F.lit(1))
        .when(u < _POIS_CDF[2], F.lit(2))
        .when(u < _POIS_CDF[3], F.lit(3))
        .otherwise(F.lit(4))
    )
    return c


def sql_poisson_count(key_expr: str, replica_expr: str) -> str:
    """DuckDB mirror of ``poisson_count_expr`` — keep in lockstep."""
    h = f"(((({key_expr}) % {_MOD}) * {_M1} + ({replica_expr}) * {_M3}) % {_MOD})"
    u = f"(CAST({h} AS DOUBLE) / {_MOD}.0)"
    return (
        f"(CASE WHEN {u} < {_POIS_CDF[0]} THEN 0"
        f" WHEN {u} < {_POIS_CDF[1]} THEN 1"
        f" WHEN {u} < {_POIS_CDF[2]} THEN 2"
        f" WHEN {u} < {_POIS_CDF[3]} THEN 3 ELSE 4 END)"
    )


def bootstrap_hash(
    df: DataFrame,
    key_col: str,
    n_replicas: int,
    id_col: str = "replica",
) -> DataFrame:
    """Poisson bootstrap: output = input rows replicated per replica with a
    deterministic count; adds ``replica`` int column. Row r appears
    count(key, replica) times in each replica. Replica-partitioned when
    ``df`` fits a broadcast (module docstring)."""
    spark = df.sparkSession
    n_slices = max(n_replicas, spark.sparkContext.defaultParallelism)
    if plan_fits_broadcast(df):
        reps = spark.sql(
            f"SELECT explode(sequence(0, {n_replicas - 1})) AS `{id_col}`"
        ).repartition(n_slices, id_col)
        with_rep = F.broadcast(df).crossJoin(reps)
    else:
        rep = F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias(id_col)
        with_rep = df.repartition(n_slices, key_col).select("*", rep)
    cnt = poisson_count_expr(F.col(key_col), F.col(id_col))
    return (
        with_rep.withColumn("_cnt", cnt)
        .filter(F.col("_cnt") > 0)
        .withColumn("_dup", F.explode(F.sequence(F.lit(1), F.col("_cnt"))))
        .drop("_cnt", "_dup")
    )


def bootstrap_exact(
    df: DataFrame,
    group_keys: Sequence[str],
    n_replicas: int,
    seed: int = 42,
    id_col: str = "replica",
) -> DataFrame:
    """Exact multinomial per-group bootstrap (pandas frac=1 semantics).

    Per (group, replica): draw exactly n rows with replacement, rng seeded
    by (seed, replica) — stable under repartitioning because the draw
    happens per whole group inside one task.
    """
    group_keys = list(group_keys)
    schema_fields = ", ".join(f"`{c}` {t}" for c, t in df.dtypes)
    schema = f"{schema_fields}, {id_col} int"

    def resample(pdf: pd.DataFrame) -> pd.DataFrame:
        import zlib

        # canonical row order + per-group seed component -> results do not
        # depend on shuffle order or partitioning
        pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
        key_hash = zlib.crc32(
            repr(tuple(pdf[k].iloc[0] for k in group_keys)).encode()
        )
        n = len(pdf)
        outs = []
        for r in range(n_replicas):
            rng = np.random.default_rng([seed, r, key_hash])
            idx = rng.integers(0, n, size=n)
            take = pdf.iloc[np.sort(idx)].copy()
            take[id_col] = r
            outs.append(take)
        return pd.concat(outs, ignore_index=True)

    return (
        df.repartition(*[F.col(k) for k in group_keys])
        .groupBy(*group_keys)
        .applyInPandas(resample, schema)
    )


def bootstrap_exact_scalable(
    df: DataFrame,
    group_keys: Sequence[str],
    n_replicas: int,
    row_id_cols: Sequence[str],
    n_buckets: int = 64,
    seed: int = 42,
    id_col: str = "replica",
) -> DataFrame:
    """Exact multinomial bootstrap for groups too big for one task.

    ``bootstrap_exact`` materializes each whole group in one task — fine
    for the reference's per-measurement groups, wrong for a 100 TB group.
    This variant keeps exact frac=1 multinomial semantics while bounding
    per-task memory at group_size / n_buckets, via the multinomial
    splitting property: if n draws fall iid-uniformly on a group split
    into buckets of sizes (n_1..n_B), the bucket totals are jointly
    multinomial(n, n_b/n), and conditional on its total m_b each bucket's
    draws are iid-uniform over its own n_b rows. So:

    1. bucket rows by ``xxhash64(row_id) % B`` (stateless, no shuffle);
    2. count per (group, bucket) — a map-side-combined aggregation whose
       output is B rows per group, and draw each replica's bucket
       allocation multinomially from those counts in one tiny task per
       group;
    3. cogroup rows with allocations on (group, bucket) and resample each
       bucket locally with exactly m_b draws.

    The only full-size shuffle is the (group, bucket) partitioning of
    pass 3, replicas travel as an R-row side table, and every rng is
    seeded from (seed, replica, group, bucket) after a canonical sort —
    deterministic under any input partitioning. Distribution-equal (not
    draw-for-draw stream-equal) to ``bootstrap_exact``.
    """
    import zlib

    group_keys = list(group_keys)
    row_id_cols = list(row_id_cols)
    schema_fields = ", ".join(f"`{c}` {t}" for c, t in df.dtypes)
    out_schema = f"{schema_fields}, {id_col} int"

    bucket = F.pmod(
        F.xxhash64(*[F.col(c) for c in row_id_cols], F.lit(seed)), F.lit(n_buckets)
    ).cast("int")
    bucketed = df.withColumn("_bucket", bucket)

    counts = bucketed.groupBy(*group_keys, "_bucket").agg(F.count("*").alias("_n"))

    def _key_hash(key_vals) -> int:
        return zlib.crc32(repr(tuple(key_vals)).encode())

    def allocate(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_bucket", ignore_index=True)
        kh = _key_hash(pdf[k].iloc[0] for k in group_keys)
        n = int(pdf["_n"].sum())
        probs = pdf["_n"].to_numpy(dtype=np.float64) / n
        outs = []
        for r in range(n_replicas):
            rng = np.random.default_rng([seed, r, kh])
            m = rng.multinomial(n, probs)
            keep = m > 0
            out = pdf.loc[keep, group_keys + ["_bucket"]].copy()
            out["_replica"] = r
            out["_m"] = m[keep]
            outs.append(out)
        return pd.concat(outs, ignore_index=True)

    alloc_schema = (
        ", ".join(
            f"`{c}` {t}" for c, t in df.dtypes if c in group_keys
        )
        + ", _bucket int, _replica int, _m long"
    )
    alloc = counts.groupBy(*group_keys).applyInPandas(allocate, alloc_schema)

    data_cols = [c for c, _ in df.dtypes]

    def resample(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(columns=data_cols + [id_col])
        rows = left.sort_values(row_id_cols, ignore_index=True)
        kh = _key_hash(rows[k].iloc[0] for k in group_keys)
        b = int(rows["_bucket"].iloc[0])
        nb = len(rows)
        outs = []
        right = right.sort_values("_replica")
        for rep, m in zip(right["_replica"], right["_m"]):
            rng = np.random.default_rng([seed, int(rep), kh, b])
            idx = rng.integers(0, nb, size=int(m))
            take = rows.iloc[np.sort(idx)][data_cols].copy()
            take[id_col] = int(rep)
            outs.append(take)
        return pd.concat(outs, ignore_index=True)

    return (
        bucketed.groupBy(*group_keys, "_bucket")
        .cogroup(alloc.groupBy(*group_keys, "_bucket"))
        .applyInPandas(resample, out_schema)
    )
