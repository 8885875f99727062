"""Invariant tests for the statistical-inference / pattern-mining queries
(analytics/inference_q.py). The value gate against DuckDB runs in the
correctness harness; these assert the mathematical invariants the closed
forms must satisfy on the sf0.001 tables."""

import math

import pytest

from vptstools_spark.analytics import inference_q

SF = "/root/testdata/sf0.001"


def test_welch_t_test_closed_form(spark):
    row = inference_q.q_ab_test_welch(spark, SF).collect()[0]
    assert row.n1 > 1 and row.n2 > 1
    assert math.isfinite(row.t_stat)
    # Welch-Satterthwaite df is bounded by [min(n)-1, n1+n2-2]
    assert min(row.n1, row.n2) - 1 <= row.welch_df <= row.n1 + row.n2 - 2


def test_benford_digit_distribution(spark):
    rows = inference_q.q_benford_prices(spark, SF).collect()
    digits = {r.digit for r in rows}
    assert digits <= set(range(1, 10))
    # observed shares sum to 1; Benford shares sum to 1 over full support
    assert abs(sum(r.p_obs for r in rows) - 1.0) < 1e-4
    full_benford = sum(math.log10(1 + 1 / d) for d in range(1, 10))
    assert abs(full_benford - 1.0) < 1e-12
    assert all(r.chi2_term >= 0 for r in rows)


def test_kaplan_meier_monotone(spark):
    rows = inference_q.q_kaplan_meier(spark, SF).collect()
    assert rows, "expected at least one churn event at sf0.001"
    by_t = sorted(rows, key=lambda r: r.tenure)
    last = 1.0
    for r in by_t:
        assert 0.0 < r.survival <= 1.0
        assert r.survival <= last + 1e-9  # product-limit is non-increasing
        last = r.survival
        assert r.d >= 1 and r.n_risk >= r.d


def test_basket_lift_rule_invariants(spark):
    rows = inference_q.q_basket_lift(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.brand_a < r.brand_b  # unordered pairs, canonical order
        assert r.n_pair >= 5  # min-support filter
        assert 0 < r.support <= r.confidence <= 1.0
        assert r.lift > 0


def test_hits_scores_normalized(spark):
    from vptstools_spark.analytics.graph_q import q_hits_nation

    rows = q_hits_nation(spark, SF).collect()
    assert rows
    assert abs(sum(r.hub for r in rows) - 1.0) < 1e-3   # L1-normalized
    assert abs(sum(r.auth for r in rows) - 1.0) < 1e-3
    assert all(r.hub >= 0 and r.auth >= 0 for r in rows)


def test_ewma_bounded_by_series_range(spark):
    from vptstools_spark.analytics.ts_q import q_ewma_revenue

    rows = q_ewma_revenue(spark, SF).collect()
    assert rows
    lo = min(r.revenue for r in rows)
    hi = max(r.revenue for r in rows)
    for r in sorted(rows, key=lambda r: r.month):
        assert lo - 1e-6 <= r.ewma <= hi + 1e-6  # convex combination
    first = min(rows, key=lambda r: r.month)
    assert first.ewma == pytest.approx(first.revenue, abs=1e-3)


def test_attribution_linear_conserves_value(spark):
    """Total credit across channels equals the summed value of every
    purchase that has at least one preceding touch in its segment."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vptstools_spark.analytics.events_q import q_attribution_linear
    from vptstools_spark.io import table

    got = q_attribution_linear(spark, SF).collect()
    total_credit = sum(r.credit for r in got)

    e = table(spark, SF, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = e.withColumn(
        "seg", F.count(F.when(F.col("event_type") == "purchase", 1)).over(w)
    ).withColumn(
        "n_prev_touch",
        F.count(F.when(F.col("event_type") != "purchase", 1)).over(
            Window.partitionBy("user_id", "seg")
        ),
    )
    want = (
        seg.filter(
            (F.col("event_type") == "purchase") & (F.col("n_prev_touch") > 0)
        )
        .agg(F.sum(F.col("value").cast("double")))
        .collect()[0][0]
    )
    assert total_credit == pytest.approx(want, rel=1e-6)


def test_gini_range_and_equality_case(spark):
    from vptstools_spark.analytics.stats_q import q_gini_by_nation

    rows = q_gini_by_nation(spark, SF).collect()
    assert rows
    for r in rows:
        assert -0.01 <= r.gini < 1.0  # rank-formula Gini is in [0, 1)


def test_time_decay_conserves_value_per_segment(spark):
    """Time-decay credit shares sum to each purchase's full value, so the
    channel totals must match attribution_linear's totals exactly."""
    from vptstools_spark.analytics.events_q import (
        q_attribution_linear,
        q_attribution_time_decay,
    )

    lin = {r.channel: r for r in q_attribution_linear(spark, SF).collect()}
    dec = {r.channel: r for r in q_attribution_time_decay(spark, SF).collect()}
    assert set(lin) == set(dec)
    assert sum(r.credit for r in dec.values()) == pytest.approx(
        sum(r.credit for r in lin.values()), rel=1e-6
    )
    for ch in lin:
        assert dec[ch].n_touches == lin[ch].n_touches


def test_trigrams_counts(spark):
    from vptstools_spark.analytics.events_q import q_events_trigrams

    rows = q_events_trigrams(spark, SF).collect()
    assert 0 < len(rows) <= 20
    assert all(r.n >= 1 for r in rows)
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_bootstrap_ci_brackets_mean(spark):
    from vptstools_spark.analytics.mlprep_q import q_bootstrap_ci_revenue

    r = q_bootstrap_ci_revenue(spark, SF).collect()[0]
    assert r.n_resamples == 32
    assert r.lo_95 < r.hi_95
    assert r.lo_95 <= r.mean <= r.hi_95


def test_target_encoding_loo_average_is_category_mean(spark):
    """avg_i (S - x_i)/(n-1) == S/n algebraically - the audit row's mean
    must equal the plain category mean."""
    from pyspark.sql import functions as F

    from vptstools_spark.analytics.mlprep_q import q_target_encoding
    from vptstools_spark.io import table

    got = {r.priority: r for r in q_target_encoding(spark, SF).collect()}
    want = {
        r.o_orderpriority: r.m
        for r in table(spark, SF, "orders")
        .groupBy("o_orderpriority")
        .agg(F.avg("o_totalprice").alias("m"))
        .collect()
    }
    for prio, r in got.items():
        assert r.enc_mean == pytest.approx(want[prio], abs=1e-3)
        assert r.enc_min <= r.enc_mean <= r.enc_max


def test_regr_residual_outliers_bounds(spark):
    from vptstools_spark.analytics.mlprep_q import q_regr_residual_outliers

    rows = q_regr_residual_outliers(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0
        # 2-sigma outliers are <~5% for anything unimodal (Chebyshev: <25%)
        assert 0 <= r.n_outliers <= 0.25 * r.n


def test_kl_nonnegative_and_asymmetric_pairs(spark):
    from vptstools_spark.analytics.mlprep_q import q_kl_sources

    rows = q_kl_sources(spark, SF).collect()
    assert rows
    pairs = {(r.src_p, r.src_q) for r in rows}
    for r in rows:
        assert r.kl >= -1e-9  # Gibbs' inequality
        assert (r.src_q, r.src_p) in pairs  # both directions reported


def test_zipf_slope_negative(spark):
    from vptstools_spark.analytics.mlprep_q import q_zipf_fit

    r = q_zipf_fit(spark, SF).collect()[0]
    assert r.slope < 0
    assert 0.0 <= r.r2 <= 1.0


def test_nb_confusion_matrix_complete(spark):
    """Every held-out document appears exactly once in the confusion
    matrix and every prediction is a training class (the harness corpus
    carries no text->lang signal, so accuracy is not asserted here)."""
    from pyspark.sql import functions as F

    from vptstools_spark.analytics.mlprep_q import q_nb_langid
    from vptstools_spark.io import table

    rows = q_nb_langid(spark, SF).collect()
    d = table(spark, SF, "documents")
    n_test = d.filter(F.col("doc_id") % 5 == 0).count()
    langs = {r.lang for r in d.select("lang").distinct().collect()}
    assert sum(r.n_docs for r in rows) == n_test
    assert {r.pred for r in rows} <= langs


def test_nb_separable_corpus(spark):
    """On a corpus whose vocabulary actually separates the classes, the
    in-engine Naive Bayes must classify every held-out doc correctly."""
    from vptstools_spark.analytics.mlprep_q import nb_train_score

    words = {"en": "the and of cat", "de": "der und von katze",
             "fr": "le et de chat"}
    rows = []
    for i in range(60):
        lang = ["en", "de", "fr"][i % 3]
        rows.append((i, lang, (words[lang] + " ") * 3 + "common"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    train = df.filter("doc_id % 5 != 0")
    test = df.filter("doc_id % 5 = 0")
    pred = nb_train_score(train, test).collect()
    assert len(pred) == 12
    assert all(r.lang == r.pred for r in pred)


def test_als_reconstruction_beats_mean_predictor(spark):
    """After one alternation, u.v must reconstruct the rating matrix
    better (lower RMSE) than the constant global-mean predictor."""
    from pyspark.sql import functions as F

    from vptstools_spark.analytics.mlprep_q import (
        _als_solve,
        q_als_factors,
    )
    from vptstools_spark.io import table

    li = table(spark, SF, "lineitem")
    p = table(spark, SF, "part").select("p_partkey", "p_brand")
    o = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    ratings = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
        .agg(F.log(1.0 + F.count("*")).alias("r"))
    )
    items = q_als_factors(spark, SF)
    # recompute the matching user factors from the item init
    bnum = F.regexp_extract(F.col("brand"), "#(\\d+)", 1).cast("int")
    v0 = ratings.select("brand").distinct().select(
        "brand", F.lit(1.0).alias("f1"),
        ((bnum * 37 % 97) / F.lit(97.0)).alias("f2"),
    )
    users = _als_solve(ratings.join(F.broadcast(v0), "brand"), "cust", "f1", "f2")
    joined = (
        ratings.join(users.withColumnRenamed("f1", "u1").withColumnRenamed("f2", "u2"), "cust")
        .join(items.withColumnRenamed("f1", "v1").withColumnRenamed("f2", "v2"), "brand")
        .withColumn("pred", F.col("u1") * F.col("v1") + F.col("u2") * F.col("v2"))
    )
    row = joined.agg(
        F.sqrt(F.avg((F.col("r") - F.col("pred")) ** 2)).alias("rmse_als")
    ).collect()[0]
    mean_r = ratings.agg(F.avg("r")).collect()[0][0]
    rmse_mean = ratings.agg(
        F.sqrt(F.avg((F.col("r") - F.lit(mean_r)) ** 2))
    ).collect()[0][0]
    assert row.rmse_als < rmse_mean


def test_conversion_ztest_consistency(spark):
    from vptstools_spark.analytics.inference_q import q_conversion_ztest

    r = q_conversion_ztest(spark, SF).collect()[0]
    assert r.n1 > 0 and r.n2 > 0
    assert 0.0 <= r.rate_a <= 1.0 and 0.0 <= r.rate_b <= 1.0
    # z sign must agree with the rate difference
    if r.rate_a > r.rate_b:
        assert r.z_stat > 0
    elif r.rate_a < r.rate_b:
        assert r.z_stat < 0


def test_markov_eval_counts(spark):
    from vptstools_spark.analytics.events_q import q_markov_next_event_eval

    rows = q_markov_next_event_eval(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_correct <= r.n_transitions
        assert abs(r.accuracy - r.n_correct / r.n_transitions) < 1e-6


def test_rolling_distinct_monotone_vs_daily(spark):
    """The 7-day rolling distinct count is >= any single day's distinct
    count inside the window and <= total distinct users."""
    from pyspark.sql import functions as F

    from vptstools_spark.analytics.sketch_q import q_rolling_distinct_users
    from vptstools_spark.io import table

    rows = {r.day: r.n_users_7d for r in
            q_rolling_distinct_users(spark, SF).collect()}
    assert rows
    e = table(spark, SF, "events").withColumn("day", F.to_date("ts"))
    daily = {
        r.day.isoformat(): r.n
        for r in e.groupBy("day").agg(
            F.countDistinct("user_id").alias("n")
        ).collect()
    }
    total = e.agg(F.countDistinct("user_id")).collect()[0][0]
    for day, n7 in rows.items():
        assert daily[day] <= n7 <= total


def test_user_ewma_within_series_range(spark):
    from pyspark.sql import functions as F

    from vptstools_spark.analytics.ts_q import q_user_value_ewma
    from vptstools_spark.io import table

    rows = {r.user_id: r for r in q_user_value_ewma(spark, SF).collect()}
    assert rows
    bounds = {
        r.user_id: (r.lo, r.hi)
        for r in table(spark, SF, "events")
        .filter(F.col("user_id") < 60)
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for uid, r in rows.items():
        lo, hi = bounds[uid]
        assert lo - 1e-6 <= r.ewma <= hi + 1e-6  # convex combination


def test_did_closed_form(spark):
    from vptstools_spark.analytics.inference_q import q_did_estimate

    r = q_did_estimate(spark, SF).collect()[0]
    assert r.did == pytest.approx(
        (r.treated_post - r.treated_pre)
        - (r.control_post - r.control_pre),
        abs=2e-4,  # the cells are pre-rounded to 4 dp
    )


def test_hill_estimator_positive(spark):
    from vptstools_spark.analytics.inference_q import q_hill_tail_index

    r = q_hill_tail_index(spark, SF).collect()[0]
    assert r.k > 0
    assert r.hill_inv_alpha >= 0
    assert r.alpha > 0


def test_apsp_triangle_inequality(spark):
    """Shortest-path distances must satisfy d(i,k) <= d(i,j) + d(j,k)
    and be bounded above by the direct edge where one exists."""
    from vptstools_spark.analytics.graph_q import q_apsp_nations

    rows = q_apsp_nations(spark, SF).collect()
    d = {(r.src, r.dst): r.dist_days for r in rows}
    assert d
    nodes = {a for a, _ in d} | {b for _, b in d}
    import itertools

    for i, j, k in itertools.islice(itertools.permutations(sorted(nodes), 3), 2000):
        if (i, j) in d and (j, k) in d and (i, k) in d:
            assert d[(i, k)] <= d[(i, j)] + d[(j, k)] + 1e-6


def test_pmi_bigram_floor(spark):
    from vptstools_spark.analytics.text_q import q_pmi_bigrams

    rows = q_pmi_bigrams(spark, SF).collect()
    assert 0 < len(rows) <= 20
    assert all(r.c_xy >= 5 for r in rows)
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_qq_deciles_monotone(spark):
    from vptstools_spark.analytics.stats_q import q_qq_event_values

    rows = q_qq_event_values(spark, SF).collect()
    assert rows
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.event_type, []).append((r.pct, r.group_val))
        assert abs(r.shift - (r.group_val - r.global_val)) < 2e-4
    for grp, pairs in by_grp.items():
        vals = [v for _, v in sorted(pairs)]
        assert vals == sorted(vals)  # quantiles are non-decreasing


def test_info_gain_bounds(spark):
    """0 <= IG(Y;X) <= H(Y) for every feature (Jensen)."""
    from vptstools_spark.analytics.mlprep_q import q_info_gain_features

    rows = q_info_gain_features(spark, SF).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.info_gain >= -1e-6
        assert r.h_conditional >= -1e-6


def test_negative_samples_disjoint_and_quota(spark):
    from vptstools_spark.analytics.mlprep_q import q_negative_samples

    rows = q_negative_samples(spark, SF).collect()
    pos = {(r.cust, r.brand) for r in rows if r.label == 1}
    neg = {(r.cust, r.brand) for r in rows if r.label == 0}
    assert pos and neg
    assert not (pos & neg)  # negatives never overlap positives
    from collections import Counter

    per_cust = Counter(c for c, _ in neg)
    assert all(n <= 2 for n in per_cust.values())
    assert {c for c, _ in neg} <= {c for c, _ in pos}


def test_theil_sen_pair_count(spark):
    import math

    from vptstools_spark.analytics.ts_q import q_theil_sen_trend

    r = q_theil_sen_trend(spark, SF).collect()[0]
    # n_pairs = C(months, 2)
    months = int((1 + math.isqrt(1 + 8 * r.n_pairs)) / 2)
    assert months * (months - 1) // 2 == r.n_pairs
    assert math.isfinite(r.theil_sen_slope)


def test_cohort_ltv_monotone_in_offset(spark):
    from vptstools_spark.analytics.events_q import q_cohort_ltv

    rows = q_cohort_ltv(spark, SF).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort, []).append((r.offset, r.ltv_per_user))
    for cohort, pairs in by_cohort.items():
        vals = [v for _, v in sorted(pairs)]
        assert vals == sorted(vals)  # cumulative LTV never decreases


def test_als_recommendations_exclude_purchased(spark):
    from pyspark.sql import functions as F

    from vptstools_spark.analytics.mlprep_q import _als_fit, q_als_recommend

    recs = q_als_recommend(spark, SF).collect()
    assert recs
    ratings, _, _ = _als_fit(spark, SF)
    seen = {
        (r.cust, r.brand)
        for r in ratings.filter(F.col("cust") < 10).collect()
    }
    for r in recs:
        assert (r.cust, r.brand) not in seen
        assert 1 <= r.rank <= 3


def test_mann_kendall_pairs_consistent_with_theil_sen(spark):
    from vptstools_spark.analytics.ts_q import q_mann_kendall, q_theil_sen_trend

    mk = q_mann_kendall(spark, SF).collect()[0]
    ts = q_theil_sen_trend(spark, SF).collect()[0]
    assert mk.n_pairs == ts.n_pairs
    assert abs(mk.s) <= mk.n_pairs
    # the trend direction must agree between the two statistics
    if mk.s > 0:
        assert ts.theil_sen_slope >= 0
    elif mk.s < 0:
        assert ts.theil_sen_slope <= 0


def test_segment_migration_counts_conserved(spark):
    from pyspark.sql import functions as F

    from vptstools_spark.analytics.events_q import q_segment_migration
    from vptstools_spark.io import table

    rows = q_segment_migration(spark, SF).collect()
    o = table(spark, SF, "orders")
    n95 = (
        o.filter(F.year("o_orderdate") == 1995)
        .select("o_custkey").distinct().count()
    )
    got95 = sum(r.n_customers for r in rows if r.seg_1995 != "none")
    assert got95 == n95


def test_jackknife_near_plugin_estimate(spark):
    from vptstools_spark.analytics.mlprep_q import q_jackknife_ratio

    r = q_jackknife_ratio(spark, SF).collect()[0]
    assert r.var_jack >= 0
    # LOO mean stays within a tiny relative distance of the plug-in ratio
    assert abs(r.theta_jack - r.ratio) / r.ratio < 0.01


def test_lexical_diversity_bounds(spark):
    from vptstools_spark.analytics.text_q import q_lexical_diversity

    rows = q_lexical_diversity(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.ttr <= 1.0
        assert 0 <= r.hapax_share <= 1.0
        assert r.n_types <= r.n_tokens


def test_burstiness_nonnegative(spark):
    from vptstools_spark.analytics.events_q import q_event_burstiness

    rows = q_event_burstiness(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.fano >= 0
        assert r.mean_daily > 0


def test_funnel_time_percentiles_ordered(spark):
    from vptstools_spark.analytics.events_q import q_funnel_time_percentiles

    r = q_funnel_time_percentiles(spark, SF).collect()[0]
    assert r.n_converted > 0
    assert 0 <= r.p25_min <= r.p50_min <= r.p90_min


def test_odds_ratio_ci_brackets_point(spark):
    from vptstools_spark.analytics.inference_q import q_odds_ratio

    r = q_odds_ratio(spark, SF).collect()[0]
    assert min(r.a, r.b, r.c, r.d) > 0
    assert r.ci_lo <= r.odds_ratio <= r.ci_hi
    assert r.ci_lo > 0


def test_repeat_purchase_interval_quartiles(spark):
    from vptstools_spark.analytics.events_q import q_repeat_purchase_interval

    r = q_repeat_purchase_interval(spark, SF).collect()[0]
    assert r.n_intervals > 0
    assert 0 <= r.p25_h <= r.p50_h <= r.p75_h


def test_roc_auc_null_when_one_class_empty(spark):
    # no sf0.001 part is priced above the cut: AUC is undefined, so NULL
    # (as in SQL) instead of a division-by-zero error under ANSI mode
    row = inference_q.q_roc_auc_size(spark, SF).collect()[0]
    assert (row.n_pos, row.n_neg, row.auc) == (0, 200, None)
