"""Statistical-inference / pattern-mining queries: Welch two-sample
A/B test, Benford first-digit audit, Kaplan-Meier survival over user
activity, and market-basket association rules (support/confidence/lift).

Scale notes (100 TB): every query here is one fact-table scan folding
into a partial->final aggregate; the post-aggregate shapes (2 arms,
9 digits, <=366 tenure days, <=25^2 brand pairs) are constant-size, so
the windows/self-joins that finish them run over provably tiny inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.io import table


def q_ab_test_welch(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test: URGENT vs LOW order
    totals. One conditional partial->final aggregate produces per-arm
    (n, mean, var); the t statistic and Welch-Satterthwaite degrees of
    freedom are closed-form expressions over that 1-row result - the
    canonical A/B-experiment readout as a single fact scan."""
    o = table(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    a = F.col("o_orderpriority") == "1-URGENT"
    agg = o.agg(
        F.count(F.when(a, 1)).alias("n1"),
        F.count(F.when(~a, 1)).alias("n2"),
        F.avg(F.when(a, F.col("o_totalprice"))).alias("m1"),
        F.avg(F.when(~a, F.col("o_totalprice"))).alias("m2"),
        F.var_samp(F.when(a, F.col("o_totalprice"))).alias("v1"),
        F.var_samp(F.when(~a, F.col("o_totalprice"))).alias("v2"),
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)
    df = (se1 + se2) ** 2 / (
        se1**2 / (F.col("n1") - 1) + se2**2 / (F.col("n2") - 1)
    )
    return agg.select(
        "n1",
        "n2",
        F.round("m1", 4).alias("mean_urgent"),
        F.round("m2", 4).alias("mean_low"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
    )


_AB_WELCH_ORACLE = """
    WITH agg AS (
        SELECT
            COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS n1,
            COUNT(*) FILTER (o_orderpriority = '5-LOW') AS n2,
            AVG(o_totalprice) FILTER (o_orderpriority = '1-URGENT') AS m1,
            AVG(o_totalprice) FILTER (o_orderpriority = '5-LOW') AS m2,
            VAR_SAMP(o_totalprice) FILTER (o_orderpriority = '1-URGENT') AS v1,
            VAR_SAMP(o_totalprice) FILTER (o_orderpriority = '5-LOW') AS v2
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    )
    SELECT
        n1, n2,
        ROUND(m1, 4) AS mean_urgent,
        ROUND(m2, 4) AS mean_low,
        ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 4) AS t_stat,
        ROUND(
            POW(v1 / n1 + v2 / n2, 2)
            / (POW(v1 / n1, 2) / (n1 - 1) + POW(v2 / n2, 2) / (n2 - 1)),
            2
        ) AS welch_df
    FROM agg
"""


def q_benford_prices(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals: the
    fraud-detection screen. One scan groups by leading digit; expected
    frequencies log10(1 + 1/d) and the per-digit chi-square contribution
    are literals over the 9-row aggregate (the total re-joins as a 1-row
    broadcast, so the fact table never reshuffles)."""
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).alias("digit")
    obs = o.select(digit).groupBy("digit").agg(F.count("*").alias("n_obs"))
    total = obs.agg(F.sum("n_obs").alias("n_total"))
    p_ben = F.log10(F.lit(1.0) + 1.0 / F.col("digit"))
    exp_n = F.col("n_total") * p_ben
    return (
        obs.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("n_total"), 6).alias("p_obs"),
            F.round(p_ben, 6).alias("p_benford"),
            F.round(
                (F.col("n_obs") - exp_n) ** 2 / exp_n, 6
            ).alias("chi2_term"),
        )
    )


_BENFORD_ORACLE = """
    WITH obs AS (
        SELECT
            CAST(FLOOR(o_totalprice
                       / POW(10, FLOOR(LOG10(o_totalprice)))) AS BIGINT)
                AS digit,
            COUNT(*) AS n_obs
        FROM orders
        WHERE o_totalprice > 0
        GROUP BY 1
    ),
    tot AS (SELECT SUM(n_obs) AS n_total FROM obs)
    SELECT
        digit,
        n_obs,
        ROUND(CAST(n_obs AS DOUBLE) / n_total, 6) AS p_obs,
        ROUND(LOG10(1.0 + 1.0 / digit), 6) AS p_benford,
        ROUND(POW(n_obs - n_total * LOG10(1.0 + 1.0 / digit), 2)
              / (n_total * LOG10(1.0 + 1.0 / digit)), 6) AS chi2_term
    FROM obs CROSS JOIN tot
"""


def q_kaplan_meier(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user activity lifetime. Per-user
    tenure (whole hours between first and last event) folds out of one
    events scan; a user whose last event predates the corpus horizon by
    >24h is a churn event, later users are right-censored. The life
    table (at-risk counts via reverse cumulative sums) and the
    product-limit estimator S(t) = prod(1 - d/n) = exp(sum(ln)) run as
    conditional self-joins over the distinct-tenure aggregate - a table
    bounded by the corpus time span in hours, not by user count."""
    e = table(spark, sf, "events")
    # r9 (guide §2.2 — one corpus pass): the horizon max(ts) equals the
    # max of the per-user last-event times, so it derives from the same
    # (cached) per-user aggregate instead of a second events scan
    users_raw = (
        e.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    horizon = users_raw.agg(F.max("t1").alias("t_max"))
    users = (
        users_raw
        .crossJoin(F.broadcast(horizon))
        .select(
            # timestampdiff is defined for both LTZ and NTZ ts columns
            # (the parquet annotation has flipped between driver rounds)
            F.expr("timestampdiff(HOUR, t0, t1)").alias("tenure"),
            (
                F.col("t1") < F.col("t_max") - F.expr("INTERVAL 24 HOURS")
            ).cast("int").alias("churned"),
        )
    )
    # lazy checkpoints (r9, guide §5): life and risk are span-bounded
    # tables that each feed BOTH sides of a self-join — uncached, every
    # branch re-ran the whole events→users→life lineage
    life = users.groupBy("tenure").agg(
        F.sum("churned").alias("d"),
        F.count("*").alias("c"),
    ).localCheckpoint(eager=False)
    # cumulative sums as conditional self-joins, NOT global windows: the
    # life table is tiny but Catalyst cannot prove it, and the registry
    # convention bans empty-partition windows over unproven input
    a, b = life.alias("a"), life.alias("b")
    risk = (
        a.join(b, F.col("b.tenure") >= F.col("a.tenure"))
        .groupBy(F.col("a.tenure").alias("tenure"), F.col("a.d").alias("d"))
        .agg(F.sum("b.c").alias("n_risk"))
        .filter(F.col("d") > 0)
        .localCheckpoint(eager=False)
    )
    x, y = risk.alias("x"), risk.alias("y")
    return (
        x.join(y, F.col("y.tenure") <= F.col("x.tenure"))
        .groupBy(
            F.col("x.tenure").alias("tenure"),
            F.col("x.d").alias("d"),
            F.col("x.n_risk").alias("n_risk"),
        )
        .agg(
            F.round(
                F.exp(F.sum(F.log(1.0 - F.col("y.d") / F.col("y.n_risk")))),
                6,
            ).alias("survival")
        )
    )


_KM_ORACLE = """
    WITH horizon AS (SELECT MAX(ts) AS t_max FROM events),
    users AS (
        SELECT
            CAST(FLOOR(DATE_DIFF('second', MIN(ts), MAX(ts)) / 3600.0)
                 AS BIGINT) AS tenure,
            CASE WHEN MAX(ts) < (SELECT t_max FROM horizon)
                               - INTERVAL 24 HOUR
                 THEN 1 ELSE 0 END AS churned
        FROM events
        GROUP BY user_id
    ),
    life AS (
        SELECT tenure, CAST(SUM(churned) AS BIGINT) AS d, COUNT(*) AS c
        FROM users GROUP BY tenure
    ),
    risk AS (
        SELECT tenure, d,
               CAST(SUM(c) OVER (ORDER BY tenure
                                 ROWS BETWEEN CURRENT ROW
                                 AND UNBOUNDED FOLLOWING) AS BIGINT)
                   AS n_risk
        FROM life
    )
    SELECT tenure, d, n_risk,
           ROUND(EXP(SUM(LN(1.0 - CAST(d AS DOUBLE) / n_risk))
                     OVER (ORDER BY tenure
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)), 6) AS survival
    FROM risk
    WHERE d > 0
"""


def q_basket_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules over brands co-purchased in one
    order: support, confidence, and lift per unordered brand pair. The
    part dimension broadcasts onto lineitem; baskets collapse to
    DISTINCT (order, brand) before the pair self-join, so pair volume is
    bounded by basket width (brand vocabulary is 25 -> <=300 pairs), not
    by fact cardinality. min-support filter n_pair >= 5 keeps the rule
    set deterministic."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    brand_n = baskets.groupBy("p_brand").agg(F.count("*").alias("n_brand"))
    a = baskets.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_a")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    na = brand_n.select(
        F.col("p_brand").alias("brand_a"), F.col("n_brand").alias("n_a")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("brand_b"), F.col("n_brand").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            F.round(F.col("n_pair") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_pair") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_pair")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b").cast("double")),
                4,
            ).alias("lift"),
        )
    )


_BASKET_ORACLE = """
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
    brand_n AS (
        SELECT p_brand, COUNT(*) AS n_brand FROM baskets GROUP BY 1
    ),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS n_pair
        FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
        WHERE a.p_brand < b.p_brand
        GROUP BY 1, 2
        HAVING COUNT(*) >= 5
    )
    SELECT
        brand_a, brand_b, n_pair,
        ROUND(CAST(n_pair AS DOUBLE) / n.n_orders, 6) AS support,
        ROUND(CAST(n_pair AS DOUBLE) / na.n_brand, 6) AS confidence,
        ROUND(CAST(n_pair AS DOUBLE) * n.n_orders
              / (na.n_brand * CAST(nb.n_brand AS DOUBLE)), 4) AS lift
    FROM pairs
    JOIN brand_n na ON na.p_brand = pairs.brand_a
    JOIN brand_n nb ON nb.p_brand = pairs.brand_b
    CROSS JOIN n
"""


QUERIES = {
    "ab_test_welch": q_ab_test_welch,
    "benford_prices": q_benford_prices,
    "kaplan_meier": q_kaplan_meier,
    "basket_lift": q_basket_lift,
}

ORACLES = {
    "ab_test_welch": _AB_WELCH_ORACLE,
    "benford_prices": _BENFORD_ORACLE,
    "kaplan_meier": _KM_ORACLE,
    "basket_lift": _BASKET_ORACLE,
}


def q_conversion_ztest(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test on conversion rates (share of events that
    are purchases) between the even/odd user-id cohorts - the funnel
    A/B readout next to `ab_test_welch`'s continuous-metric one. One
    conditional aggregate per cohort folds from a single events scan;
    the pooled-variance z statistic is a closed form over the 1-row
    result."""
    e = table(spark, sf, "events")
    coh = e.select(
        (F.col("user_id") % 2 == 0).alias("is_a"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    agg = coh.agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n1"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n2"),
        F.sum(F.when(F.col("is_a"), F.col("conv"))).alias("c1"),
        F.sum(F.when(~F.col("is_a"), F.col("conv"))).alias("c2"),
    )
    p1 = F.col("c1") / F.col("n1")
    p2 = F.col("c2") / F.col("n2")
    pp = (F.col("c1") + F.col("c2")) / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return agg.select(
        "n1",
        "n2",
        F.round(p1, 6).alias("rate_a"),
        F.round(p2, 6).alias("rate_b"),
        F.round(z, 4).alias("z_stat"),
    )


_ZTEST_ORACLE = """
    WITH agg AS (
        SELECT
            COUNT(*) FILTER (user_id % 2 = 0) AS n1,
            COUNT(*) FILTER (user_id % 2 <> 0) AS n2,
            COUNT(*) FILTER (user_id % 2 = 0
                             AND event_type = 'purchase') AS c1,
            COUNT(*) FILTER (user_id % 2 <> 0
                             AND event_type = 'purchase') AS c2
        FROM events
    )
    SELECT n1, n2,
           ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS rate_a,
           ROUND(CAST(c2 AS DOUBLE) / n2, 6) AS rate_b,
           ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                 / SQRT((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                        * (1.0 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 4) AS z_stat
    FROM agg
"""

QUERIES["conversion_ztest"] = q_conversion_ztest
ORACLES["conversion_ztest"] = _ZTEST_ORACLE


def q_did_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences: change in mean event value for the
    treated cohort (even user ids) vs control, before/after the corpus
    midpoint - the quasi-experimental causal readout. The midpoint is a
    1-row min/max aggregate broadcast back; the four cell means fold
    from ONE conditional aggregate; DiD is a closed form over that row."""
    e = table(spark, sf, "events")
    span = e.agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    ).select(
        F.timestamp_micros(
            (
                (F.unix_micros(F.col("t0").cast("timestamp"))
                 + F.unix_micros(F.col("t1").cast("timestamp"))) / 2
            ).cast("long")
        ).alias("mid")
    )
    cells = (
        e.crossJoin(F.broadcast(span))
        .select(
            (F.col("user_id") % 2 == 0).alias("treated"),
            (F.col("ts") >= F.col("mid")).alias("post"),
            F.col("value").cast("double").alias("v"),
        )
        .agg(
            F.avg(F.when(F.col("treated") & F.col("post"), F.col("v"))).alias("tp"),
            F.avg(F.when(F.col("treated") & ~F.col("post"), F.col("v"))).alias("tb"),
            F.avg(F.when(~F.col("treated") & F.col("post"), F.col("v"))).alias("cp"),
            F.avg(F.when(~F.col("treated") & ~F.col("post"), F.col("v"))).alias("cb"),
        )
    )
    return cells.select(
        F.round("tp", 4).alias("treated_post"),
        F.round("tb", 4).alias("treated_pre"),
        F.round("cp", 4).alias("control_post"),
        F.round("cb", 4).alias("control_pre"),
        F.round(
            (F.col("tp") - F.col("tb")) - (F.col("cp") - F.col("cb")), 4
        ).alias("did"),
    )


_DID_ORACLE = """
    WITH span AS (
        SELECT to_timestamp(
                   CAST((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) / 2
                        AS BIGINT) / 1000000.0) AS mid
        FROM events
    ),
    cells AS (
        SELECT
            AVG(value) FILTER (user_id % 2 = 0
                               AND ts >= (SELECT mid FROM span)) AS tp,
            AVG(value) FILTER (user_id % 2 = 0
                               AND ts < (SELECT mid FROM span)) AS tb,
            AVG(value) FILTER (user_id % 2 <> 0
                               AND ts >= (SELECT mid FROM span)) AS cp,
            AVG(value) FILTER (user_id % 2 <> 0
                               AND ts < (SELECT mid FROM span)) AS cb
        FROM events
    )
    SELECT ROUND(tp, 4) AS treated_post,
           ROUND(tb, 4) AS treated_pre,
           ROUND(cp, 4) AS control_post,
           ROUND(cb, 4) AS control_pre,
           ROUND((tp - tb) - (cp - cb), 4) AS did
    FROM cells
"""

QUERIES["did_estimate"] = q_did_estimate
ORACLES["did_estimate"] = _DID_ORACLE


def q_hill_tail_index(spark: SparkSession, sf: str) -> DataFrame:
    """Hill estimator of the right-tail index of order totals over the
    top-200 order statistics: mean(ln(x_i / x_k)) for the k largest
    values - the heavy-tail diagnostic behind skew-aware planning. The
    k-th order statistic comes from a two-phase top-k
    (TakeOrderedAndProject), so no global sort touches the fact."""
    k = 200
    o = table(spark, sf, "orders")
    top = (
        o.select(F.col("o_totalprice").alias("x"))
        .orderBy(F.col("x").desc(), "x")
        .limit(k)
    )
    xk = top.agg(F.min("x").alias("xk"))
    return (
        top.crossJoin(F.broadcast(xk))
        .agg(
            F.count("*").alias("k"),
            F.round(F.avg(F.log(F.col("x") / F.col("xk"))), 6).alias(
                "hill_inv_alpha"
            ),
            F.round(
                1.0 / F.avg(F.log(F.col("x") / F.col("xk"))), 4
            ).alias("alpha"),
        )
    )


_HILL_ORACLE = """
    WITH top AS (
        SELECT o_totalprice AS x FROM orders
        ORDER BY x DESC LIMIT 200
    ),
    xk AS (SELECT MIN(x) AS xk FROM top)
    SELECT COUNT(*) AS k,
           ROUND(AVG(LN(x / xk.xk)), 6) AS hill_inv_alpha,
           ROUND(1.0 / AVG(LN(x / xk.xk)), 4) AS alpha
    FROM top CROSS JOIN xk
"""

QUERIES["hill_tail_index"] = q_hill_tail_index
ORACLES["hill_tail_index"] = _HILL_ORACLE


def q_odds_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """2x2 odds ratio with 95% CI: odds of an URGENT order being
    high-value (> 150k) vs a LOW order - the effect-size readout the
    z-test family lacks. One conditional aggregate builds the table;
    ln OR +/- 1.96 * sqrt(sum 1/n_ij) is a closed form over the 1-row
    result (Woolf's method)."""
    o = table(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    urgent = F.col("o_orderpriority") == "1-URGENT"
    hi = F.col("o_totalprice") > 150000
    agg = o.agg(
        F.count(F.when(urgent & hi, 1)).alias("a"),
        F.count(F.when(urgent & ~hi, 1)).alias("b"),
        F.count(F.when(~urgent & hi, 1)).alias("c"),
        F.count(F.when(~urgent & ~hi, 1)).alias("d"),
    )
    orx = (F.col("a") * F.col("d")) / (F.col("b") * F.col("c"))
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    return agg.select(
        "a",
        "b",
        "c",
        "d",
        F.round(orx, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(orx) - 1.96 * se), 6).alias("ci_lo"),
        F.round(F.exp(F.log(orx) + 1.96 * se), 6).alias("ci_hi"),
    )


_ODDS_ORACLE = """
    WITH agg AS (
        SELECT
            COUNT(*) FILTER (o_orderpriority = '1-URGENT'
                             AND o_totalprice > 150000) AS a,
            COUNT(*) FILTER (o_orderpriority = '1-URGENT'
                             AND o_totalprice <= 150000) AS b,
            COUNT(*) FILTER (o_orderpriority = '5-LOW'
                             AND o_totalprice > 150000) AS c,
            COUNT(*) FILTER (o_orderpriority = '5-LOW'
                             AND o_totalprice <= 150000) AS d
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    )
    SELECT a, b, c, d,
           ROUND((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c), 6)
               AS odds_ratio,
           ROUND(EXP(LN((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c))
                     - 1.96 * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
               AS ci_lo,
           ROUND(EXP(LN((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c))
                     + 1.96 * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
               AS ci_hi
    FROM agg
"""

QUERIES["odds_ratio"] = q_odds_ratio
ORACLES["odds_ratio"] = _ODDS_ORACLE


# ---------------------------------------------------------------- round 7


def q_anova_priority(spark: SparkSession, sf: str) -> DataFrame:
    """One-way ANOVA F of o_totalprice across the 5 order priorities —
    the k-group generalization next to `ab_test_welch`. The fact folds
    ONCE to a k-row (n, sum, sumsq) group-moment table; SSB/SSW and F are
    a closed form over that bounded table, so the data-scale work is one
    partial->final aggregate regardless of group count."""
    o = table(spark, sf, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("o_totalprice").alias("s"),
        F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("q"),
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        F.count("*").alias("k"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"),
    )
    ssb = F.col("sb") - F.col("ss") * F.col("ss") / F.col("nn")
    ssw = F.col("qq") - F.col("sb")
    fstat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k")))
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_rows"),
        F.round(ssb, 2).alias("ss_between"),
        F.round(fstat, 4).alias("f_stat"),
    )


ORACLES["anova_priority"] = """
    WITH g AS (
        SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS s,
               SUM(o_totalprice * o_totalprice) AS q
        FROM orders GROUP BY o_orderpriority
    ), tot AS (
        SELECT SUM(n) AS nn, SUM(s) AS ss, SUM(q) AS qq, COUNT(*) AS k,
               SUM(s * s / n) AS sb
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n_rows,
           ROUND(sb - ss * ss / nn, 2) AS ss_between,
           ROUND(((sb - ss * ss / nn) / (k - 1))
                 / ((qq - sb) / (nn - k)), 4) AS f_stat
    FROM tot
"""
QUERIES["anova_priority"] = q_anova_priority


def q_levene_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Levene homogeneity-of-variance test (mean-centered form) for
    o_totalprice across priorities: are the group VARIANCES equal — the
    assumption check behind `anova_priority`. Two bounded passes: group
    means (k-row broadcast back), then the ANOVA of |x - mean_g| from
    one more group-moment fold."""
    o = table(spark, sf, "orders").select("o_orderpriority", "o_totalprice")
    means = o.groupBy("o_orderpriority").agg(
        (F.sum("o_totalprice") / F.count("*")).alias("m")
    )
    z = o.join(F.broadcast(means), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("m")).alias("z"),
    )
    g = z.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("z").alias("s"),
        F.sum(F.col("z") * F.col("z")).alias("q"),
    )
    tot = g.agg(
        F.sum("n").alias("nn"), F.sum("s").alias("ss"),
        F.sum("q").alias("qq"), F.count("*").alias("k"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"),
    )
    ssb = F.col("sb") - F.col("ss") * F.col("ss") / F.col("nn")
    ssw = F.col("qq") - F.col("sb")
    w = (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k")))
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.round(w, 4).alias("levene_w"),
    )


ORACLES["levene_priority"] = """
    WITH means AS (
        SELECT o_orderpriority, SUM(o_totalprice) / COUNT(*) AS m
        FROM orders GROUP BY o_orderpriority
    ), z AS (
        SELECT o.o_orderpriority, ABS(o_totalprice - m) AS z
        FROM orders o JOIN means USING (o_orderpriority)
    ), g AS (
        SELECT o_orderpriority, COUNT(*) AS n, SUM(z) AS s,
               SUM(z * z) AS q
        FROM z GROUP BY o_orderpriority
    ), tot AS (
        SELECT SUM(n) AS nn, SUM(s) AS ss, SUM(q) AS qq, COUNT(*) AS k,
               SUM(s * s / n) AS sb
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           ROUND(((sb - ss * ss / nn) / (k - 1))
                 / ((qq - sb) / (nn - k)), 4) AS levene_w
    FROM tot
"""
QUERIES["levene_priority"] = q_levene_priority


def q_spearman_qty_discount(spark: SparkSession, sf: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_discount —
    the monotone-association readout Pearson misses. Average ranks come
    from VALUE-FREQUENCY tables (domains: 50 quantities, 11 discounts),
    so no global sort ever happens: cumulative counts are a triangular
    self-join on the tiny frequency table, ranks broadcast back onto the
    fact, and the correlation is one moment fold. Every aggregate is an
    exact integer/quarter in double (< 2^53), so the closed form is
    bit-identical cross-engine."""
    l = table(spark, sf, "lineitem").select("l_quantity", "l_discount")

    def rank_table(col: str):
        freq = l.groupBy(col).agg(F.count("*").alias("c"))
        a, b = freq.alias("a"), freq.alias("b")
        below = (
            a.join(b, F.col(f"b.{col}") < F.col(f"a.{col}"), "left")
            .groupBy(F.col(f"a.{col}").alias(col), F.col("a.c").alias("c"))
            .agg(F.coalesce(F.sum("b.c"), F.lit(0)).alias("below"))
        )
        return below.select(
            col, (F.col("below") + (F.col("c") + 1) / 2.0).alias(f"r_{col}")
        )

    ranked = l.join(
        F.broadcast(rank_table("l_quantity")), "l_quantity"
    ).join(F.broadcast(rank_table("l_discount")), "l_discount")
    m = ranked.agg(
        F.count("*").alias("n"),
        F.sum("r_l_quantity").alias("sx"),
        F.sum("r_l_discount").alias("sy"),
        F.sum(F.col("r_l_quantity") * F.col("r_l_quantity")).alias("sxx"),
        F.sum(F.col("r_l_discount") * F.col("r_l_discount")).alias("syy"),
        F.sum(F.col("r_l_quantity") * F.col("r_l_discount")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / den, 6).alias("spearman_rho"),
    )


ORACLES["spearman_qty_discount"] = """
    WITH fq AS (
        SELECT l_quantity AS v, COUNT(*) AS c FROM lineitem GROUP BY 1
    ), rq AS (
        SELECT a.v, a.c,
               COALESCE(SUM(b.c), 0) + (a.c + 1) / 2.0 AS r
        FROM fq a LEFT JOIN fq b ON b.v < a.v
        GROUP BY a.v, a.c
    ), fd AS (
        SELECT l_discount AS v, COUNT(*) AS c FROM lineitem GROUP BY 1
    ), rd AS (
        SELECT a.v, a.c,
               COALESCE(SUM(b.c), 0) + (a.c + 1) / 2.0 AS r
        FROM fd a LEFT JOIN fd b ON b.v < a.v
        GROUP BY a.v, a.c
    ), ranked AS (
        SELECT rq.r AS rx, rd.r AS ry
        FROM lineitem l
        JOIN rq ON rq.v = l.l_quantity
        JOIN rd ON rd.v = l.l_discount
    ), m AS (
        SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
               SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
               SUM(rx * ry) AS sxy
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 6) AS spearman_rho
    FROM m
"""
QUERIES["spearman_qty_discount"] = q_spearman_qty_discount


def q_roc_auc_size(spark: SparkSession, sf: str) -> DataFrame:
    """ROC AUC of p_size as a score for the part being above-median
    retail price — the rank-sum (Mann-Whitney) identity with the
    standard half-credit tie correction, computed ENTIRELY from the
    50-row score-frequency table: AUC = sum_s pos(s) * (neg_below(s) +
    neg_at(s)/2) / (P*N). No global sort, no per-row ranks; integer
    arithmetic in double, bit-identical cross-engine."""
    p = table(spark, sf, "part").select(
        "p_size", (F.col("p_retailprice") > 950.0).alias("y")
    )
    freq = p.groupBy("p_size").agg(
        F.count(F.when(F.col("y"), 1)).alias("pos"),
        F.count(F.when(~F.col("y"), 1)).alias("neg"),
    )
    a, b = freq.alias("a"), freq.alias("b")
    cum = (
        a.join(b, F.col("b.p_size") < F.col("a.p_size"), "left")
        .groupBy(
            F.col("a.p_size").alias("p_size"),
            F.col("a.pos").alias("pos"),
            F.col("a.neg").alias("neg"),
        )
        .agg(F.coalesce(F.sum("b.neg"), F.lit(0)).alias("neg_below"))
    )
    agg = cum.agg(
        F.sum("pos").alias("np"),
        F.sum("neg").alias("nn"),
        F.sum(
            F.col("pos") * (F.col("neg_below") + F.col("neg") / 2.0)
        ).alias("u"),
    )
    return agg.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        # NULL, as in SQL, when one class is empty (no part above the cut)
        F.round(F.try_divide(F.col("u"), F.col("np") * F.col("nn")), 6).alias("auc"),
    )


ORACLES["roc_auc_size"] = """
    WITH f AS (
        SELECT p_size,
               COUNT(*) FILTER (p_retailprice > 950.0) AS pos,
               COUNT(*) FILTER (p_retailprice <= 950.0) AS neg
        FROM part GROUP BY p_size
    ), cum AS (
        SELECT a.p_size, a.pos, a.neg,
               COALESCE(SUM(b.neg), 0) AS neg_below
        FROM f a LEFT JOIN f b ON b.p_size < a.p_size
        GROUP BY a.p_size, a.pos, a.neg
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           ROUND(SUM(pos * (neg_below + neg / 2.0))
                 / (SUM(pos) * SUM(neg)), 6) AS auc
    FROM cum
"""
QUERIES["roc_auc_size"] = q_roc_auc_size


def q_cramers_v_nation_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Cramér's V effect size for the nation × market-segment
    association — the magnitude readout `chi2_nation_segment`'s test
    statistic lacks (chi2 grows with n; V is normalized to [0, 1]).
    Contingency cells, margins, and the closed form all live on the
    <= 125-row aggregate; margins join back broadcast."""
    c = table(spark, sf, "customer").join(
        F.broadcast(table(spark, sf, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    cells = c.groupBy("n_name", "c_mktsegment").agg(
        F.count("*").alias("o")
    ).localCheckpoint(eager=False)  # <=125 rows, consumed by 4 subtrees
    rm = cells.groupBy("n_name").agg(F.sum("o").alias("rm"))
    cm = cells.groupBy("c_mktsegment").agg(F.sum("o").alias("cm"))
    dims = (
        rm.agg(F.count("*").alias("nr"))
        .crossJoin(cm.agg(F.count("*").alias("nc")))
        .crossJoin(cells.agg(F.sum("o").cast("double").alias("n")))
    )
    e = F.col("rm") * F.col("cm") / F.col("n")
    chi2 = (
        cells.join(F.broadcast(rm), "n_name")
        .join(F.broadcast(cm), "c_mktsegment")
        .crossJoin(F.broadcast(dims))
        .groupBy("nr", "nc", "n")
        .agg(F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"))
    )
    mindim = F.least("nr", "nc") - 1
    return chi2.select(
        F.round("chi2", 4).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * mindim)), 6
        ).alias("cramers_v"),
    )


ORACLES["cramers_v_nation_segment"] = """
    WITH cells AS (
        SELECT n_name, c_mktsegment, COUNT(*) AS o
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, c_mktsegment
    ), rm AS (SELECT n_name, SUM(o) AS rm FROM cells GROUP BY n_name),
    cm AS (SELECT c_mktsegment, SUM(o) AS cm FROM cells GROUP BY c_mktsegment),
    tot AS (SELECT SUM(o) AS n FROM cells),
    chi AS (
        SELECT SUM((o - rm * cm / n) * (o - rm * cm / n)
                   / (rm * cm / n)) AS chi2,
               (SELECT COUNT(*) FROM rm) AS nr,
               (SELECT COUNT(*) FROM cm) AS nc,
               ANY_VALUE(n) AS n
        FROM cells JOIN rm USING (n_name) JOIN cm USING (c_mktsegment)
        CROSS JOIN tot
    )
    SELECT ROUND(chi2, 4) AS chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           ROUND(SQRT(chi2 / (n * (LEAST(nr, nc) - 1))), 6) AS cramers_v
    FROM chi
"""
QUERIES["cramers_v_nation_segment"] = q_cramers_v_nation_segment


def q_kendall_tau_b(spark: SparkSession, sf: str) -> DataFrame:
    """Kendall tau-b between l_quantity and l_discount — the
    concordance twin of `spearman_qty_discount`, with the tie
    correction both variables need (50 and 11 distinct values).
    Everything computes from the 550-cell JOINT frequency table:
    concordant/discordant pair counts are one bounded self-join of that
    table (cells x cells, never rows x rows), marginal tie terms fold
    from the margins, and the closed form casts to double before the
    ~1e22 denominator product (long would overflow at sf0.1+)."""
    l = table(spark, sf, "lineitem")
    cells = l.groupBy(
        F.col("l_quantity").alias("q"), F.col("l_discount").alias("d")
    ).agg(F.count("*").alias("f")).localCheckpoint(eager=False)
    a, b = cells.alias("a"), cells.alias("b")
    conc = (
        a.join(
            F.broadcast(b),
            (F.col("b.q") > F.col("a.q")) & (F.col("b.d") > F.col("a.d")),
        )
        .agg(F.sum(F.col("a.f") * F.col("b.f")).alias("c"))
    )
    disc = (
        a.join(
            F.broadcast(b),
            (F.col("b.q") > F.col("a.q")) & (F.col("b.d") < F.col("a.d")),
        )
        .agg(F.sum(F.col("a.f") * F.col("b.f")).alias("d"))
    )
    n_tot = cells.agg(F.sum("f").alias("n"))
    tq = (
        cells.groupBy("q").agg(F.sum("f").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n1"))
    )
    td = (
        cells.groupBy("d").agg(F.sum("f").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n2"))
    )
    j = (
        conc.crossJoin(disc).crossJoin(n_tot).crossJoin(tq).crossJoin(td)
    )
    n0 = (F.col("n").cast("double") * (F.col("n") - 1)) / 2.0
    tau = (F.col("c") - F.col("d")).cast("double") / F.sqrt(
        (n0 - F.col("n1")) * (n0 - F.col("n2"))
    )
    return j.select(
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.round(tau, 6).alias("kendall_tau_b"),
    )


ORACLES["kendall_tau_b"] = """
    WITH cells AS (
        SELECT l_quantity AS q, l_discount AS d, COUNT(*) AS f
        FROM lineitem GROUP BY 1, 2
    ), conc AS (
        SELECT SUM(a.f * b.f) AS c
        FROM cells a JOIN cells b ON b.q > a.q AND b.d > a.d
    ), disc AS (
        SELECT SUM(a.f * b.f) AS d
        FROM cells a JOIN cells b ON b.q > a.q AND b.d < a.d
    ), n_tot AS (SELECT SUM(f) AS n FROM cells),
    tq AS (SELECT SUM(t * (t - 1) / 2) AS n1
           FROM (SELECT SUM(f) AS t FROM cells GROUP BY q)),
    td AS (SELECT SUM(t * (t - 1) / 2) AS n2
           FROM (SELECT SUM(f) AS t FROM cells GROUP BY d))
    SELECT CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           ROUND(CAST(c - d AS DOUBLE)
                 / SQRT((CAST(n AS DOUBLE) * (n - 1) / 2.0 - n1)
                        * (CAST(n AS DOUBLE) * (n - 1) / 2.0 - n2)),
                 6) AS kendall_tau_b
    FROM conc, disc, n_tot, tq, td
"""
QUERIES["kendall_tau_b"] = q_kendall_tau_b


def q_cochran_armitage_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Cochran-Armitage trend test: does purchase propensity rise
    MONOTONICALLY with the event-value decile (scores 0..9)? The
    dose-response question a plain chi-square ignores. One fold to the
    10-row (score, conversions, n) table; T, Var, z are closed forms
    over it."""
    e = table(spark, sf, "events")
    g = e.select(
        F.least(F.floor(F.col("value") / 10.0), F.lit(9))
        .cast("double").alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    ).groupBy("s").agg(
        F.count("*").alias("n"), F.sum("y").alias("a")
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("a").alias("aa"),
        F.sum(F.col("s") * F.col("a")).alias("sa"),
        F.sum(F.col("s") * F.col("n")).alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).alias("ssn"),
    )
    pbar = F.col("aa") / F.col("nn")
    t_stat = F.col("sa") - pbar * F.col("sn")
    var = (
        pbar
        * (1.0 - pbar)
        * (F.col("ssn") - F.col("sn") * F.col("sn") / F.col("nn"))
    )
    return tot.select(
        F.col("nn").cast("long").alias("n"),
        F.round(pbar, 6).alias("overall_rate"),
        F.round(t_stat / F.sqrt(var), 4).alias("trend_z"),
    )


ORACLES["cochran_armitage_trend"] = """
    WITH g AS (
        SELECT CAST(LEAST(FLOOR(value / 10.0), 9) AS DOUBLE) AS s,
               COUNT(*) AS n,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS a
        FROM events GROUP BY 1
    ), tot AS (
        SELECT SUM(n) AS nn, SUM(a) AS aa, SUM(s * a) AS sa,
               SUM(s * n) AS sn, SUM(s * s * n) AS ssn
        FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n,
           ROUND(aa * 1.0 / nn, 6) AS overall_rate,
           ROUND((sa - (aa * 1.0 / nn) * sn)
                 / SQRT((aa * 1.0 / nn) * (1.0 - aa * 1.0 / nn)
                        * (ssn - sn * sn * 1.0 / nn)), 4) AS trend_z
    FROM tot
"""
QUERIES["cochran_armitage_trend"] = q_cochran_armitage_trend


def q_g_test_nation_segment(spark: SparkSession, sf: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence between customer
    nation and market segment — the information-theoretic sibling of
    `q_cramers_v_nation_segment`'s chi-square: G = 2 Σ O·ln(O/E). One
    fact fold to the ≤25×5 contingency table; margins broadcast back
    onto the bounded cells; empty cells contribute 0 by the O·ln(O/E)
    limit. Integer counts keep the closed form cross-engine exact."""
    c = table(spark, sf, "customer")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("o")
    )
    rows = cells.groupBy("c_nationkey").agg(F.sum("o").alias("rn"))
    colt = cells.groupBy("c_mktsegment").agg(F.sum("o").alias("cn"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("rn") * F.col("cn") / F.col("n")
    g = 2.0 * F.sum(F.col("o") * F.log(F.col("o") / e))
    joined = (
        cells.join(F.broadcast(rows), "c_nationkey")
        .join(F.broadcast(colt), "c_mktsegment")
        .crossJoin(F.broadcast(tot))
    )
    return joined.agg(
        F.sum("o").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
        F.round(g, 4).alias("g_stat"),
    )


ORACLES["g_test_nation_segment"] = """
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS o
        FROM customer GROUP BY 1, 2
    ), r AS (SELECT c_nationkey, SUM(o) AS rn FROM cells GROUP BY 1),
    c2 AS (SELECT c_mktsegment, SUM(o) AS cn FROM cells GROUP BY 1),
    t AS (SELECT SUM(o) AS n FROM cells)
    SELECT CAST(SUM(o) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(2.0 * SUM(o * LN(o / (rn * cn * 1.0 / n))), 4) AS g_stat
    FROM cells JOIN r USING (c_nationkey)
               JOIN c2 USING (c_mktsegment), t
"""
QUERIES["g_test_nation_segment"] = q_g_test_nation_segment


def q_mann_whitney_u(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing l_quantity between
    returned ('R') and non-returned lineitems — the nonparametric
    two-sample location test. Average ranks come from the 50-value
    FREQUENCY table (triangular self-join — no global sort, the
    `spearman_qty_discount` recipe); U and the tie-corrected normal
    z are closed forms over exact integer/half-integer moments."""
    l = table(spark, sf, "lineitem").select(
        "l_quantity", (F.col("l_returnflag") == "R").alias("grp")
    )
    freq = l.groupBy("l_quantity").agg(
        F.count("*").alias("c"),
        F.count(F.when(F.col("grp"), 1)).alias("c1"),
    )
    a, b = freq.alias("a"), freq.alias("b")
    ranks = (
        a.join(b, F.col("b.l_quantity") < F.col("a.l_quantity"), "left")
        .groupBy(
            F.col("a.l_quantity").alias("q"),
            F.col("a.c").alias("c"),
            F.col("a.c1").alias("c1"),
        )
        .agg(F.coalesce(F.sum("b.c"), F.lit(0)).alias("below"))
        .select(
            "q", "c", "c1",
            (F.col("below") + (F.col("c") + 1) / 2.0).alias("r"),
        )
    )
    m = ranks.agg(
        F.sum("c").alias("n"),
        F.sum("c1").alias("n1"),
        F.sum(F.col("c1") * F.col("r")).alias("r1"),
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie3"),
    )
    n, n1, r1 = F.col("n"), F.col("n1"), F.col("r1")
    n2 = n - n1
    u1 = r1 - n1 * (n1 + 1) / 2.0
    mu = n1 * n2 / 2.0
    sig = F.sqrt(
        (n1 * n2 / 12.0)
        * ((n + 1) - F.col("tie3") / (n * (n - 1.0)))
    )
    return m.select(
        n1.cast("long").alias("n_returned"),
        n2.cast("long").alias("n_kept"),
        F.round(u1, 1).alias("u_stat"),
        F.round((u1 - mu) / sig, 4).alias("z"),
    )


ORACLES["mann_whitney_u"] = """
    WITH fq AS (
        SELECT l_quantity AS q, COUNT(*) AS c,
               COUNT(*) FILTER (l_returnflag = 'R') AS c1
        FROM lineitem GROUP BY 1
    ), rk AS (
        SELECT a.q, a.c, a.c1,
               COALESCE(SUM(b.c), 0) + (a.c + 1) / 2.0 AS r
        FROM fq a LEFT JOIN fq b ON b.q < a.q
        GROUP BY a.q, a.c, a.c1
    ), m AS (
        SELECT SUM(c) AS n, SUM(c1) AS n1, SUM(c1 * r) AS r1,
               SUM(c * 1.0 * c * c - c) AS tie3
        FROM rk
    )
    SELECT CAST(n1 AS BIGINT) AS n_returned,
           CAST(n - n1 AS BIGINT) AS n_kept,
           ROUND(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_stat,
           ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * (n - n1) / 2.0)
                 / SQRT((n1 * (n - n1) / 12.0)
                        * ((n + 1) - tie3 / (n * (n - 1.0)))), 4) AS z
    FROM m
"""
QUERIES["mann_whitney_u"] = q_mann_whitney_u


def q_wilcoxon_signed_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Wilcoxon signed-rank test over PAIRED per-part quantities:
    d(part) = total returned qty − total kept qty, zeros dropped per the
    classical procedure. |d| is integer, so tie-averaged ranks come from
    its bounded frequency table (triangular self-join, no global sort);
    W+ and the normal approximation with tie correction are closed
    forms. Every intermediate is integer/half-integer in double."""
    l = table(spark, sf, "lineitem")
    d = (
        l.groupBy("l_partkey")
        .agg(
            (
                F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(F.lit(0)))
                - F.sum(F.when(F.col("l_returnflag") != "R", F.col("l_quantity")).otherwise(F.lit(0)))
            ).alias("d")
        )
        .filter(F.col("d") != 0)
        .select(F.abs("d").alias("ad"), (F.col("d") > 0).alias("pos"))
    )
    freq = d.groupBy("ad").agg(
        F.count("*").alias("c"),
        F.count(F.when(F.col("pos"), 1)).alias("cpos"),
    )
    a, b = freq.alias("a"), freq.alias("b")
    ranks = (
        a.join(b, F.col("b.ad") < F.col("a.ad"), "left")
        .groupBy(
            F.col("a.ad").alias("ad"),
            F.col("a.c").alias("c"),
            F.col("a.cpos").alias("cpos"),
        )
        .agg(F.coalesce(F.sum("b.c"), F.lit(0)).alias("below"))
        .select(
            "c", "cpos",
            (F.col("below") + (F.col("c") + 1) / 2.0).alias("r"),
        )
    )
    m = ranks.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("cpos") * F.col("r")).alias("wplus"),
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie3"),
    )
    n, w = F.col("n"), F.col("wplus")
    mu = n * (n + 1) / 4.0
    sig = F.sqrt(
        n * (n + 1) * (2 * n + 1) / 24.0 - F.col("tie3") / 48.0
    )
    return m.select(
        n.cast("long").alias("n_pairs"),
        F.round(w, 1).alias("w_plus"),
        F.round((w - mu) / sig, 4).alias("z"),
    )


ORACLES["wilcoxon_signed_rank"] = """
    WITH d AS (
        SELECT ABS(dd) AS ad, dd > 0 AS pos FROM (
            SELECT SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)
                   - SUM(CASE WHEN l_returnflag <> 'R' THEN l_quantity ELSE 0 END) AS dd
            FROM lineitem GROUP BY l_partkey
        ) WHERE dd <> 0
    ), fq AS (
        SELECT ad, COUNT(*) AS c, COUNT(*) FILTER (pos) AS cpos
        FROM d GROUP BY 1
    ), rk AS (
        SELECT a.c, a.cpos,
               COALESCE(SUM(b.c), 0) + (a.c + 1) / 2.0 AS r
        FROM fq a LEFT JOIN fq b ON b.ad < a.ad
        GROUP BY a.ad, a.c, a.cpos
    ), m AS (
        SELECT SUM(c) AS n, SUM(cpos * r) AS wplus,
               SUM(c * 1.0 * c * c - c) AS tie3
        FROM rk
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           ROUND(wplus, 1) AS w_plus,
           ROUND((wplus - n * (n + 1) / 4.0)
                 / SQRT(n * (n + 1) * (2 * n + 1) / 24.0 - tie3 / 48.0),
                 4) AS z
    FROM m
"""
QUERIES["wilcoxon_signed_rank"] = q_wilcoxon_signed_rank


def q_mcnemar_paired(spark: SparkSession, sf: str) -> DataFrame:
    """McNemar's test on PAIRED user behavior: did each user purchase in
    H1 vs H2 of the event year? The statistic uses only the discordant
    cells (b = H1-only, c = H2-only) with continuity correction:
    (|b−c|−1)² / (b+c). One fact fold to per-user H1/H2 flags, one count
    aggregate — integer-exact everywhere."""
    e = table(spark, sf, "events").filter(F.col("event_type") == "purchase")
    per_user = e.groupBy("user_id").agg(
        F.max(F.month("ts") <= 6).alias("h1"),
        F.max(F.month("ts") >= 7).alias("h2"),
    )
    m = per_user.agg(
        F.count(F.when(F.col("h1") & ~F.col("h2"), 1)).alias("b"),
        F.count(F.when(~F.col("h1") & F.col("h2"), 1)).alias("c"),
        F.count(F.when(F.col("h1") & F.col("h2"), 1)).alias("both"),
    )
    b, c = F.col("b"), F.col("c")
    stat = (F.abs(b - c) - 1) ** 2 / (b + c)
    return m.select(
        "b", "c", "both", F.round(stat, 4).alias("mcnemar_chi2")
    )


ORACLES["mcnemar_paired"] = """
    WITH pu AS (
        SELECT user_id,
               MAX(CASE WHEN MONTH(ts) <= 6 THEN 1 ELSE 0 END) = 1 AS h1,
               MAX(CASE WHEN MONTH(ts) >= 7 THEN 1 ELSE 0 END) = 1 AS h2
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT CAST(COUNT(*) FILTER (h1 AND NOT h2) AS BIGINT) AS b,
           CAST(COUNT(*) FILTER (NOT h1 AND h2) AS BIGINT) AS c,
           CAST(COUNT(*) FILTER (h1 AND h2) AS BIGINT) AS both,
           ROUND(POW(ABS(COUNT(*) FILTER (h1 AND NOT h2)
                         - COUNT(*) FILTER (NOT h1 AND h2)) - 1, 2)
                 / (COUNT(*) FILTER (h1 AND NOT h2)
                    + COUNT(*) FILTER (NOT h1 AND h2)), 4) AS mcnemar_chi2
    FROM pu
"""
QUERIES["mcnemar_paired"] = q_mcnemar_paired


def q_pairwise_mean_contrasts(spark: SparkSession, sf: str) -> DataFrame:
    """All pairwise mean contrasts between order priorities (the
    post-hoc table after `q_anova_priority`): diff of group means with
    the pooled-MSW standard error SE = sqrt(MSW·(1/n_i + 1/n_j)). Group
    moments fold in ONE aggregate (decimal-exact money sums); the 5×5
    triangular self-join runs over the 5-row table."""
    o = table(spark, sf, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("s"),
        F.sum(
            F.col("o_totalprice").cast("decimal(30,2)")
            * F.col("o_totalprice").cast("decimal(30,2)")
        ).alias("ss"),
    ).select(
        "o_orderpriority", "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n")
        ).alias("ssw"),
    )
    tot = g.agg(
        F.sum("ssw").alias("ssw_all"),
        (F.sum("n") - F.count("*")).alias("df_w"),
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = a.join(
        b, F.col("a.o_orderpriority") < F.col("b.o_orderpriority")
    ).crossJoin(F.broadcast(tot))
    msw = F.col("ssw_all") / F.col("df_w")
    se = F.sqrt(msw * (1.0 / F.col("a.n") + 1.0 / F.col("b.n")))
    diff = F.col("a.mean") - F.col("b.mean")
    return pairs.select(
        F.col("a.o_orderpriority").alias("prio_a"),
        F.col("b.o_orderpriority").alias("prio_b"),
        F.round(diff, 4).alias("mean_diff"),
        F.round(se, 4).alias("se"),
        F.round(diff / se, 4).alias("t_stat"),
    ).orderBy("prio_a", "prio_b")


ORACLES["pairwise_mean_contrasts"] = """
    WITH g AS (
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS mean,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))
                        * CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
               - CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
                 * CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS ssw
        FROM orders GROUP BY 1
    ), t AS (
        SELECT SUM(ssw) AS ssw_all, SUM(n) - COUNT(*) AS df_w FROM g
    )
    SELECT a.o_orderpriority AS prio_a, b.o_orderpriority AS prio_b,
           ROUND(a.mean - b.mean, 4) AS mean_diff,
           ROUND(SQRT((ssw_all / df_w) * (1.0 / a.n + 1.0 / b.n)), 4) AS se,
           ROUND((a.mean - b.mean)
                 / SQRT((ssw_all / df_w) * (1.0 / a.n + 1.0 / b.n)), 4) AS t_stat
    FROM g a JOIN g b ON a.o_orderpriority < b.o_orderpriority, t
    ORDER BY prio_a, prio_b
"""
QUERIES["pairwise_mean_contrasts"] = q_pairwise_mean_contrasts
