"""End-to-end composite pipeline queries — the reference's entry-point
shapes (SURVEY §3), each as ONE lazy Spark plan with an exact oracle.

q37_clean_pipeline — entry point 2 (clean_beta_scan): cuts (F3) ->
    accepted-flag join (J1) -> filter accepted -> per-device mean_std (A1).
q38_time_resolution_pipeline — entry point 1 (time_resolution_beta_scan):
    pulse extraction -> seeded Poisson-hash bootstrap (A9) -> Δt threshold
    grid (J4/R4) -> MAD per (replica, k1, k2) (A2) -> argmin per replica
    (A5). The reference's 34-iteration driver loop is a replica dimension
    inside a single job; with the deterministic hash bootstrap the WHOLE
    pipeline is SQL-replayable, so the correctness gate covers it
    end-to-end (the reference's unseeded version can't be verified at all).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.stats import mean_std, sql_davg, sql_dstd
from ..operators.bootstrap import bootstrap_hash, sql_poisson_count
from ..operators.cuts import apply_cuts, attach_accepted
from ..operators.delta_t import mad_per_threshold_pair
from .registry import load, register

# ---------------------------------------------------------------------------
# q37 — clean pipeline
# ---------------------------------------------------------------------------

_Q37_CUTS = [
    ("l_quantity", 1, "lower", 5.0),
    ("l_quantity", 2, "higher", 45.0),
]

_Q37_ORACLE = f"""
WITH accepted AS (
  SELECT l_orderkey,
    (COALESCE(bool_and(l_quantity >= 5.0) FILTER (WHERE l_linenumber = 1), FALSE)
     AND COALESCE(bool_and(l_quantity <= 45.0) FILTER (WHERE l_linenumber = 2), FALSE)
    ) AS acc
  FROM lineitem WHERE l_linenumber IN (1, 2) GROUP BY 1
),
clean AS (
  SELECT l.* FROM lineitem l JOIN accepted a USING (l_orderkey)
  WHERE a.acc AND l.l_linenumber IN (1, 2)
),
med AS (
  SELECT l_linenumber, median(l_quantity) AS mq FROM clean GROUP BY 1
)
SELECT c.l_linenumber,
  {sql_davg('c.l_quantity')} AS "l_quantity mean",
  {sql_dstd('c.l_quantity')} AS "l_quantity std",
  median(c.l_quantity) AS "l_quantity median",
  1.4826 * median(abs(c.l_quantity - m.mq)) AS "l_quantity MAD_std"
FROM clean c JOIN med m USING (l_linenumber)
GROUP BY c.l_linenumber ORDER BY c.l_linenumber
"""


@register("q37_clean_pipeline", _Q37_ORACLE)
def q37_clean_pipeline(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber").isin(1, 2))
    cuts = spark.createDataFrame(
        _Q37_CUTS, "variable string, device_name int, `cut type` string, `cut value` double"
    )
    accepted = apply_cuts(li, cuts, trigger_col="l_orderkey", device_col="l_linenumber")
    clean = attach_accepted(li, accepted, trigger_col="l_orderkey").filter("accepted")
    return mean_std(clean, by=["l_linenumber"], cols=["l_quantity"]).orderBy(
        "l_linenumber"
    )


# ---------------------------------------------------------------------------
# q38 — time-resolution pipeline (bootstrap x grid x MAD x argmin, one job)
# ---------------------------------------------------------------------------

_N_REP = 5

_Q38_ORACLE = f"""
WITH pulses AS (
  SELECT l_orderkey,
         MIN(CASE WHEN l_linenumber = 1 THEN l_extendedprice END) AS t1,
         MIN(CASE WHEN l_linenumber = 2 THEN l_extendedprice END) AS t2
  FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY l_orderkey
  HAVING t1 IS NOT NULL AND t2 IS NOT NULL
),
r AS (SELECT unnest(generate_series(0, {_N_REP - 1})) AS replica),
w AS (
  SELECT p.*, r.replica, {sql_poisson_count('p.l_orderkey', 'r.replica')} AS cnt
  FROM pulses p, r
),
resampled AS (
  SELECT w.l_orderkey, w.replica, w.t1, w.t2
  FROM w, UNNEST(generate_series(1, w.cnt)) AS dup
),
ks AS (SELECT unnest(generate_series(10, 90, 10)) AS k),
dt AS (
  SELECT s.replica, k1.k AS k1, k2.k AS k2,
         s.t1 * k1.k / 100.0 - s.t2 * k2.k / 100.0 AS d
  FROM resampled s, ks k1, ks k2
),
med AS (SELECT replica, k1, k2, median(d) AS m FROM dt GROUP BY 1, 2, 3),
mad AS (
  SELECT dt.replica, dt.k1, dt.k2, 1.4826 * median(abs(dt.d - med.m)) AS kmad
  FROM dt JOIN med USING (replica, k1, k2) GROUP BY 1, 2, 3
),
ranked AS (
  SELECT replica, k1 AS "k_1 (%)", k2 AS "k_2 (%)", kmad,
         row_number() OVER (PARTITION BY replica ORDER BY kmad ASC, k1, k2) AS rn
  FROM mad
)
SELECT replica, "k_1 (%)", "k_2 (%)", kmad FROM ranked WHERE rn = 1
ORDER BY replica
"""


@register("q38_time_resolution_pipeline", _Q38_ORACLE)
def q38_time_resolution_pipeline(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    pulses = (
        li.groupBy("l_orderkey")
        .agg(
            F.min(F.when(F.col("l_linenumber") == 1, F.col("l_extendedprice"))).alias("t1"),
            F.min(F.when(F.col("l_linenumber") == 2, F.col("l_extendedprice"))).alias("t2"),
        )
        .filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    )
    resampled = bootstrap_hash(pulses, "l_orderkey", _N_REP)
    # Δt grid with the replica dimension carried through: the whole
    # bootstrap x grid x MAD x argmin chain is ONE lazy plan. When the
    # pulses fit a broadcast, bootstrap_hash's output is already
    # hash-partitioned on replica, so the (k1, k2, replica) MAD and the
    # per-replica window add no exchange; otherwise the pulses are sliced
    # on l_orderkey before the explode, and the grid takes one shuffle on
    # (k1, k2, replica) plus one on replica.
    ks = F.array([F.lit(k) for k in range(10, 100, 10)])
    dt = (
        resampled.withColumn("k_1 (%)", F.explode(ks))
        .withColumn("k_2 (%)", F.explode(ks))
        .select(
            "replica",
            F.col("k_1 (%)"),
            F.col("k_2 (%)"),
            (
                F.col("t1") * F.col("k_1 (%)") / 100.0
                - F.col("t2") * F.col("k_2 (%)") / 100.0
            ).alias("Δt (s)"),
        )
    )
    mad = mad_per_threshold_pair(dt, extra_keys=["replica"])
    w = Window.partitionBy("replica").orderBy(
        F.col("MAD(Δt) k_MADstd (s)").asc(), F.col("k_1 (%)"), F.col("k_2 (%)")
    )
    # One row per replica, sorted in one partition: a global orderBy would
    # range-sample its input by running the whole fused bootstrap-to-argmin
    # stage once more when that stage has no exchange.
    return (
        mad.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "replica",
            "k_1 (%)",
            "k_2 (%)",
            F.col("MAD(Δt) k_MADstd (s)").alias("kmad"),
        )
        .repartition(1)
        .sortWithinPartitions("replica")
    )
