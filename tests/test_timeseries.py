"""Theil-Sen and seasonal decomposition property tests."""

from pyspark.sql import functions as F

from etl_market_survey_spark.operators.robustfit import theil_sen
from etl_market_survey_spark.operators.seasonal import seasonal_decompose


def test_theil_sen_recovers_line_exactly(spark):
    rows = [("g", float(x), 3.0 * x + 7.0) for x in range(20)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = theil_sen(df, ["g"], "x", "y").collect()[0]
    assert out.slope == 3.0 and out.intercept == 7.0 and out.n_points == 20


def test_theil_sen_shrugs_off_outliers(spark):
    rows = [("g", float(x), 2.0 * x) for x in range(21)]
    rows[5] = ("g", 5.0, 1e6)  # one wild point
    rows[17] = ("g", 17.0, -1e6)
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = theil_sen(df, ["g"], "x", "y").collect()[0]
    assert abs(out.slope - 2.0) < 0.2  # OLS would be off by ~1e4


def test_seasonal_decompose_recovers_components(spark):
    import math

    period = 12
    season = [10.0 * math.sin(2 * math.pi * k / period) for k in range(period)]
    season = [s - sum(season) / period for s in season]  # centered
    rows = [
        ("g", x, 100.0 + 0.5 * x + season[x % period])
        for x in range(5 * period)
    ]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    out = {
        r.x: r for r in seasonal_decompose(df, ["g"], "x", "y", period).collect()
    }
    assert len(out) == 5 * period
    # edges (incomplete MA window) are NULL
    assert out[0].trend is None and out[59].trend is None
    mid = out[30]
    # linear trend passes through the centered MA exactly
    assert abs(mid.trend - (100.0 + 0.5 * 30)) < 1e-6
    # recovered seasonal effect matches the synthesized one
    for x in range(12, 24):
        assert abs(out[x].seasonal - season[x % period]) < 1e-6
        assert abs(out[x].resid) < 1e-6  # noiseless input -> ~zero residual
    # seasonal effects sum to ~zero (centering contract)
    tot = sum(out[x].seasonal for x in range(12, 24))
    assert abs(tot) < 1e-6


def test_seasonal_decompose_rejects_odd_period(spark):
    import pytest

    df = spark.createDataFrame([("g", 0, 1.0)], "g string, x long, y double")
    with pytest.raises(ValueError, match="even"):
        seasonal_decompose(df, ["g"], "x", "y", period=7)


def test_holt_smoothing_properties(spark):
    from etl_market_survey_spark.operators.cusum import holt_per_key

    # exact line: level tracks it exactly, trend constant, forecast exact
    rows = [("u", i, 0, 5.0 + 2.0 * i) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, us long, eid long, value double")
    out = sorted(
        holt_per_key(df, "k", ["us", "eid"], "value", 0.3, 0.1).collect(),
        key=lambda r: r.us,
    )
    for i, r in enumerate(out):
        assert abs(r.level - (5.0 + 2.0 * i)) < 1e-9
        assert abs(r.trend - 2.0) < 1e-9
        if i > 0:
            assert abs(r.forecast - (5.0 + 2.0 * i)) < 1e-9  # one-step exact

    # single-row key: level = x, trend/forecast NULL, no recurrence
    one = spark.createDataFrame(
        [("v", 1, 0, 7.0)], "k string, us long, eid long, value double"
    )
    r = holt_per_key(one, "k", ["us", "eid"], "value", 0.3, 0.1).collect()[0]
    assert r.level == 7.0 and r.trend is None and r.forecast is None


def test_bcubed_hand_example(spark):
    from etl_market_survey_spark.operators.evalmetrics import bcubed

    # classic example: two clusters, labels partially mixed
    rows = [("c1", "A"), ("c1", "A"), ("c1", "B"),
            ("c2", "B"), ("c2", "B"), ("c2", "A")]
    df = spark.createDataFrame(rows, "c string, l string")
    out = bcubed(df, "c", "l").collect()[0]
    # precision: cells (c1,A)=2,(c1,B)=1,(c2,B)=2,(c2,A)=1; nc=3 each
    # P = (4/3 + 1/3 + 4/3 + 1/3)/6 = (10/3)/6 = 5/9
    assert abs(out.bcubed_precision - 5 / 9) < 1e-6
    # labels sizes both 3 -> symmetric here
    assert abs(out.bcubed_recall - 5 / 9) < 1e-6
    assert abs(out.bcubed_f1 - 5 / 9) < 1e-6
    assert out.n == 6

    # perfect clustering scores 1.0 everywhere
    perf = spark.createDataFrame(
        [("x", "A"), ("x", "A"), ("y", "B")], "c string, l string"
    )
    p = bcubed(perf, "c", "l").collect()[0]
    assert p.bcubed_precision == 1.0 and p.bcubed_recall == 1.0


def test_item_cf_hand_example(spark):
    from etl_market_survey_spark.operators.itemcf import item_cf_topk

    # users 1,2 both bought (a,b); user 3 bought (a,c)
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")]
    df = spark.createDataFrame(rows, "u long, i string")
    out = {
        (r.item_a, r.item_b): (r.cooc, r.sim)
        for r in item_cf_topk(df, "u", "i", k=5, min_cooc=1).collect()
    }
    # cooc(a,b)=2, pop(a)=3, pop(b)=2 -> sim = 2/sqrt(6)
    import math

    assert out[("a", "b")][0] == 2
    assert abs(out[("a", "b")][1] - round(2 / math.sqrt(6), 9)) < 1e-12
    assert out[("a", "c")][0] == 1
    # (b, c) never co-occur -> absent
    assert ("b", "c") not in out

    # the heavy-user cap truncates deterministically and only prunes
    capped = item_cf_topk(df, "u", "i", k=5, min_cooc=1, max_user_items=1)
    assert capped.count() <= len(out)


def test_mann_kendall_trend_and_no_trend(spark):
    from etl_market_survey_spark.operators.robustfit import mann_kendall

    up = [("u", float(i), float(i) * 1.5) for i in range(15)]
    flat = [("f", float(i), 3.0) for i in range(15)]
    df = spark.createDataFrame(up + flat, "g string, x double, y double")
    out = {r.g: r for r in mann_kendall(df, ["g"], "x", "y").collect()}
    # strictly increasing: S = C(15,2) = 105, tiny p
    assert out["u"].s_stat == 105
    assert out["u"].p_value < 1e-4
    # constant: S = 0, variance fully tie-corrected to 0, p = 1
    assert out["f"].s_stat == 0
    assert out["f"].var_s == 0.0 and out["f"].p_value >= 0.999999  # erf(0) approx leaves round-9 residue


def test_bh_fdr_step_up(spark):
    from etl_market_survey_spark.operators.evalmetrics import bh_fdr

    rows = [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.5), ("e", 0.9)]
    df = spark.createDataFrame(rows, "h string, p double")
    out = {r.h: r for r in bh_fdr(df, "p", q=0.1, tiebreak_cols=["h"]).collect()}
    # adj_i = min_{j>=i} p_j * m / j
    assert abs(out["a"].p_adj - 0.05) < 1e-9      # min(.01*5/1=.05, .05, .05, .625, .9)
    assert abs(out["b"].p_adj - 0.05) < 1e-9      # .02*5/2 = .05
    assert abs(out["c"].p_adj - 0.05) < 1e-9      # .03*5/3 = .05
    assert abs(out["d"].p_adj - 0.625) < 1e-9
    assert abs(out["e"].p_adj - 0.9) < 1e-9
    assert out["a"].reject and out["b"].reject and out["c"].reject
    assert not out["d"].reject and not out["e"].reject
    # monotone nondecreasing in rank
    ordered = sorted(out.values(), key=lambda r: r.bh_rank)
    assert all(
        x.p_adj <= y.p_adj for x, y in zip(ordered, ordered[1:])
    )


def test_markov_attribution_hand_graph(spark):
    from etl_market_survey_spark.operators.attribution import (
        markov_attribution,
    )

    # u1: a -> conv ; u2: b -> null ; u3: a -> b -> conv
    rows = [
        (1, 1, 1, "a"), (1, 2, 2, "conv"),
        (2, 1, 3, "b"),
        (3, 1, 4, "a"), (3, 2, 5, "b"), (3, 3, 6, "conv"),
    ]
    df = spark.createDataFrame(rows, "u long, us long, eid long, t string")
    out = {r.channel: r for r in markov_attribution(
        df, "u", ["us", "eid"], "t", "conv", k_steps=40
    ).collect()}
    assert set(out) == {"a", "b"}
    # hand-computed first-order chain: base P(conv) = 2/3;
    # remove a: START->NULL 2/3, START->b 1/3, b->conv 1/2 => 1/6;
    # remove b: START->a 2/3, a->conv 1/2 => 1/3
    assert abs(out["a"].base_p - 2 / 3) < 1e-9
    assert abs(out["a"].removed_p - 1 / 6) < 1e-9
    assert abs(out["b"].removed_p - 1 / 3) < 1e-9
    assert abs(out["a"].removal_effect - 0.5) < 1e-9
    assert abs(out["b"].removal_effect - 1 / 3) < 1e-9
    assert out["a"].removal_effect > out["b"].removal_effect
    # shares normalize over channels (3/5 vs 2/5)
    assert abs(out["a"].share + out["b"].share - 1.0) < 1e-6
    assert abs(out["a"].share - 0.6) < 1e-6


def test_weighted_closure_hand_tree(spark):
    from etl_market_survey_spark.operators.hierarchy import weighted_closure

    # 1 <- 2 (x3) <- 4 (x5) ; 1 <- 3 (x2)
    edges = spark.createDataFrame(
        [(2, 1, 3), (3, 1, 2), (4, 2, 5)], "child long, parent long, qty long"
    )
    out = {
        (r.descendant, r.ancestor): (r.total_qty, r.depth)
        for r in weighted_closure(edges).collect()
    }
    assert out[(2, 1)] == (3, 1)
    assert out[(3, 1)] == (2, 1)
    assert out[(4, 2)] == (5, 1)
    assert out[(4, 1)] == (15, 2)  # 5 per level-2 x 3 per level-1
    assert len(out) == 4


def test_weighted_closure_deeper_than_max_depth_raises(spark):
    import pytest

    from etl_market_survey_spark.operators.hierarchy import weighted_closure

    # a 5-link chain has paths of 5 edges: max_depth=3 cannot hold them
    chain = spark.createDataFrame(
        [(i + 1, i, 1) for i in range(5)], "child long, parent long, qty long"
    )
    with pytest.raises(ValueError, match="max_depth=3"):
        weighted_closure(chain, max_depth=3)
    assert weighted_closure(chain, max_depth=5).count() == 15
