"""Bootstrap, inverse-interpolation, and grouped-fit queries
(SURVEY A9, U1-U4).

q26_bootstrap_hash — deterministic Poisson bootstrap, SQL-verifiable:
    11 replicas of lineitem, per-(replica, returnflag) count + dsum(qty).
q27_bootstrap_jitter — the time-resolution error-bar idiom: std of a
    per-replica statistic across replicas (A4 + A9), SQL-verifiable.
q28_inverse_interp — U4: value at which the per-type ECDF crosses 0.5
    (a distributed median-by-interpolation), SQL-verifiable.
q29_fit_gaussian   — U2 applyInPandas Gaussian fit per event_type on a
    derived near-normal column (no SQL oracle: iterative LM fit).
q30_fit_langauss   — U1 applyInPandas Landau⊗Gauss fit per returnflag on
    l_extendedprice (no SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..fits.grouped import fit_gaussian_per_group, fit_langauss_per_group
from ..functions.stats import dstd, sql_dstd
from ..operators.bootstrap import bootstrap_hash, sql_poisson_count
from ..operators.interpolate import crossing_x
from ..functions.stats import ecdf
from .registry import load, register

_N_REP = 11

# ---------------------------------------------------------------------------
# q26 — Poisson-hash bootstrap aggregate
# ---------------------------------------------------------------------------
# Row key for the hash: a unique-ish integer per physical row. lineitem has
# no single unique key (duplicate (orderkey, linenumber)!), so use a
# composite integer that IS stable: orderkey * 1e4 + linenumber * 100 +
# round(quantity) — identical arithmetic on both engines.

_KEY = "(l_orderkey * 10000 + l_linenumber * 100 + CAST(FLOOR(l_quantity) AS BIGINT))"

_Q26_ORACLE = f"""
WITH r AS (SELECT unnest(generate_series(0, {_N_REP - 1})) AS replica),
w AS (
  SELECT l.l_returnflag, r.replica,
         {sql_poisson_count(_KEY, 'r.replica')} AS cnt,
         l.l_quantity
  FROM lineitem l, r
)
SELECT l_returnflag, replica,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(SUM(cnt * CAST(FLOOR(l_quantity * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sum_qty
FROM w GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("q26_bootstrap_hash", _Q26_ORACLE)
def q26_bootstrap_hash(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").withColumn(
        "_rowkey",
        F.col("l_orderkey") * 10000
        + F.col("l_linenumber").cast("bigint") * 100
        + F.floor(F.col("l_quantity")).cast("bigint"),
    )
    boot = bootstrap_hash(li, "_rowkey", _N_REP)
    # sorted in one partition: when the grouping needs no exchange (the
    # replica-partitioned layout), a global orderBy would range-sample its
    # input by running the bootstrap stage once more
    return (
        boot.groupBy("l_returnflag", "replica")
        .agg(
            F.count("*").alias("n_rows"),
            (
                F.sum(F.floor(F.col("l_quantity") * 1000000.0).cast("decimal(38,0)")).cast("double")
                / 1000000.0
            ).alias("sum_qty"),
        )
        .repartition(1)
        .sortWithinPartitions("l_returnflag", "replica")
    )


# ---------------------------------------------------------------------------
# q27 — bootstrap jitter: std across replicas of a per-replica statistic
# (the reference's replica-std error bars, time_resolution_beta_scan.py:338-340)
# ---------------------------------------------------------------------------

_Q27_ORACLE = f"""
WITH r AS (SELECT unnest(generate_series(0, {_N_REP - 1})) AS replica),
w AS (
  SELECT l.l_returnflag, r.replica,
         {sql_poisson_count(_KEY, 'r.replica')} AS cnt,
         l.l_quantity
  FROM lineitem l, r
),
per_replica AS (
  SELECT l_returnflag, replica,
         CAST(SUM(cnt * CAST(FLOOR(l_quantity * 1000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0
         / SUM(cnt) AS mean_qty
  FROM w GROUP BY 1, 2
)
SELECT l_returnflag,
       {sql_dstd('mean_qty')} AS jitter
FROM per_replica GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register("q27_bootstrap_jitter", _Q27_ORACLE)
def q27_bootstrap_jitter(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").withColumn(
        "_rowkey",
        F.col("l_orderkey") * 10000
        + F.col("l_linenumber").cast("bigint") * 100
        + F.floor(F.col("l_quantity")).cast("bigint"),
    )
    boot = bootstrap_hash(li, "_rowkey", _N_REP)
    per_replica = boot.groupBy("l_returnflag", "replica").agg(
        (
            F.sum(F.floor(F.col("l_quantity") * 1000000.0).cast("decimal(38,0)")).cast("double")
            / 1000000.0
            / F.count("*")
        ).alias("mean_qty")
    )
    return (
        per_replica.groupBy("l_returnflag")
        .agg(dstd("mean_qty").alias("jitter"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q28 — inverse interpolation: x at ECDF = 0.5 per event_type
# ---------------------------------------------------------------------------

_THR = 0.5

_Q28_ORACLE = f"""
WITH c AS (
  SELECT event_type, value,
         cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS y
  FROM events
),
d AS (SELECT DISTINCT event_type, value, y FROM c),
nx AS (
  SELECT event_type, value AS x, y,
         lead(value) OVER (PARTITION BY event_type ORDER BY value) AS x1,
         lead(y) OVER (PARTITION BY event_type ORDER BY value) AS y1
  FROM d
),
br AS (
  SELECT event_type,
         x + ({_THR} - y) * (x1 - x) / (y1 - y) AS xstar, x
  FROM nx WHERE y <= {_THR} AND y1 > {_THR} AND y1 IS NOT NULL
)
SELECT event_type, arg_min(xstar, x) AS x_at_threshold
FROM br GROUP BY event_type ORDER BY event_type
"""


@register("q28_inverse_interp", _Q28_ORACLE)
def q28_inverse_interp(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    curve = ecdf(ev.select("event_type", "value"), ["event_type"], "value", out="y")
    curve = curve.select("event_type", "value", "y").distinct()
    return crossing_x(curve, ["event_type"], "value", "y", _THR).orderBy("event_type")


# ---------------------------------------------------------------------------
# q29/q30 — grouped fits (no SQL oracle: iterative non-linear LM fits)
# ---------------------------------------------------------------------------


@register("q29_fit_gaussian")
def q29_fit_gaussian(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    # value is skewed; log1p(value) is near-normal enough to exercise U2
    data = ev.select("event_type", F.log1p("value").alias("x"))
    return fit_gaussian_per_group(data, ["event_type"], "x").orderBy("event_type")


@register("q30_fit_langauss")
def q30_fit_langauss(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return fit_langauss_per_group(
        li.select("l_returnflag", "l_extendedprice"), ["l_returnflag"], "l_extendedprice"
    ).orderBy("l_returnflag")


@register("q44_fit_erf")
def q44_fit_erf(spark, sf_dir):
    """U3 — erf fit per event_type on its ECDF curve (an ECDF is a
    sigmoid; the fitted x_offset estimates the median, laser_sigma the
    spread). No SQL oracle: iterative bounded LM fit."""
    from ..fits.grouped import fit_erf_per_group

    ev = load(spark, sf_dir, "events")
    curve = ecdf(ev.select("event_type", "value"), ["event_type"], "value", out="y")
    return fit_erf_per_group(
        curve, ["event_type"], x_col="value", y_col="y", sign=1.0
    ).orderBy("event_type")
