"""A/B experiment analysis: key-pure assignment and engine-exact
readout (operators/experiment.py)."""

import math

import pytest
from pyspark.sql import functions as F

from streaming_data_pipeline_azure_spark.operators.experiment import (
    assign_variant,
    variant_stats,
    welch_ttest,
)


def _knuth_u(key: int, salt: int = 0) -> float:
    kr = key % 2**32
    return ((kr + salt) % 2**32) * 2654435761 % 2**32 / 2**32


def test_assign_variant_is_key_pure_and_stable(spark):
    """Same key -> same variant regardless of row order/partitioning;
    values cover [0, n); python-reference parity on the hash."""
    df = spark.range(0, 500).select(F.col("id"))
    got = {
        r["id"]: r["v"]
        for r in df.select(
            "id", assign_variant("id", 3, salt=5).alias("v")
        ).collect()
    }
    for k, v in got.items():
        assert v == int(_knuth_u(k, 5) * 3)
    re_got = {
        r["id"]: r["v"]
        for r in df.repartition(7)
        .select("id", assign_variant("id", 3, salt=5).alias("v"))
        .collect()
    }
    assert re_got == got


def test_assign_variant_salts_are_independent(spark):
    """Different salts re-randomize: the two assignments agree on only
    ~half the keys (not all, not none) for a 2-arm split."""
    df = spark.range(0, 2000)
    both = df.select(
        assign_variant("id", 2, salt=1).alias("a"),
        assign_variant("id", 2, salt=999).alias("b"),
    )
    n_agree = both.filter(F.col("a") == F.col("b")).count()
    assert 800 < n_agree < 1200  # ~1000 under independence
    # and each split is roughly balanced
    n1 = both.filter(F.col("a") == 1).count()
    assert 800 < n1 < 1200


def test_assign_variant_rejects_single_arm(spark):
    with pytest.raises(ValueError, match="at least 2 arms"):
        assign_variant("id", 1)


def test_variant_stats_matches_hand_computation(spark):
    """n/mean/sample-variance per arm against a direct computation on
    the same deterministic assignment."""
    rows = [(k, float(10 + (k * 7) % 13)) for k in range(200)]
    df = spark.createDataFrame(rows, "k long, m double")
    out = {
        r["variant"]: r
        for r in variant_stats(
            df, "k", "m", n_variants=2, salt=3
        ).collect()
    }
    by_arm = {0: [], 1: []}
    for k, m in rows:
        by_arm[int(_knuth_u(k, 3) * 2)].append(m)
    for v, ms in by_arm.items():
        n = len(ms)
        mean = sum(ms) / n
        var = (n * sum(x * x for x in ms) - sum(ms) ** 2) / (n * (n - 1))
        assert out[v]["n_rows"] == n
        assert out[v]["n_units"] == n  # unique keys here
        assert out[v]["mean_metric"] == pytest.approx(mean, rel=1e-12)
        assert out[v]["var_metric"] == pytest.approx(var, rel=1e-9)
        assert out[v]["std_metric"] == pytest.approx(
            math.sqrt(var), rel=1e-9
        )


def test_variant_stats_counts_units_not_rows(spark):
    """Cluster randomization: rows share the unit key -> n_units counts
    distinct keys and every row of a key lands in ONE arm."""
    rows = [(k, float(m)) for k in range(50) for m in range(4)]
    df = spark.createDataFrame(rows, "k long, m double")
    out = variant_stats(df, "k", "m", n_variants=2, salt=0).collect()
    assert sum(r["n_rows"] for r in out) == 200
    assert sum(r["n_units"] for r in out) == 50
    # per-key purity: assignment depends only on k
    per_key = df.select(
        "k", assign_variant("k", 2).alias("v")
    ).groupBy("k").agg(F.countDistinct("v").alias("nv"))
    assert per_key.filter(F.col("nv") > 1).count() == 0


def test_welch_ttest_formula(spark):
    """One-row readout equals the Welch formulas applied to the
    per-arm stats; a planted treatment lift yields a large |t|."""
    rows = []
    for k in range(400):
        arm = int(_knuth_u(k, 11) * 2)
        base = float(100 + (k * 13) % 7)
        rows.append((k, base + (50.0 if arm == 1 else 0.0)))
    df = spark.createDataFrame(rows, "k long, m double")
    r = welch_ttest(df, "k", "m", salt=11).collect()[0]
    by_arm = {0: [], 1: []}
    for k, m in rows:
        by_arm[int(_knuth_u(k, 11) * 2)].append(m)
    na, nb = len(by_arm[0]), len(by_arm[1])
    ma = sum(by_arm[0]) / na
    mb = sum(by_arm[1]) / nb
    va = (na * sum(x * x for x in by_arm[0]) - sum(by_arm[0]) ** 2) / (
        na * (na - 1)
    )
    vb = (nb * sum(x * x for x in by_arm[1]) - sum(by_arm[1]) ** 2) / (
        nb * (nb - 1)
    )
    se2a, se2b = va / na, vb / nb
    t = (ma - mb) / math.sqrt(se2a + se2b)
    wdf = (se2a + se2b) ** 2 / (
        se2a**2 / (na - 1) + se2b**2 / (nb - 1)
    )
    assert r["n_a"] == na and r["n_b"] == nb
    assert r["mean_diff"] == pytest.approx(ma - mb, rel=1e-12)
    assert r["t_stat"] == pytest.approx(t, rel=1e-9)
    assert r["welch_df"] == pytest.approx(wdf, rel=1e-9)
    assert abs(r["t_stat"]) > 20  # the planted +50 lift dominates
    e = (na + nb) / 2
    chi2 = (na - e) ** 2 / e + (nb - e) ** 2 / e
    assert r["srm_chi2"] == pytest.approx(chi2, rel=1e-12)


def test_welch_null_effect_small_t(spark):
    """No planted effect -> |t| stays small (sanity against sign or
    scaling errors in the statistic)."""
    rows = [(k, float(100 + (k * 13) % 7)) for k in range(2000)]
    df = spark.createDataFrame(rows, "k long, m double")
    r = welch_ttest(df, "k", "m", salt=4).collect()[0]
    assert abs(r["t_stat"]) < 4
    assert r["srm_chi2"] < 10


def test_partials_merge_bit_identical_any_slicing(spark):
    """Sufficient sums from arbitrary slicings merge to the SAME
    finalized stats as one pass — exact decimals make the merge
    order-independent, bit-for-bit."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        finalize_variant_stats,
        merge_variant_partials,
        variant_partials,
    )

    rows = [(k, float(10 + (k * 7) % 13) + 0.1234) for k in range(300)]
    df = spark.createDataFrame(rows, "k long, m double")
    one_pass = finalize_variant_stats(
        variant_partials(df, "k", "m", n_variants=3, salt=2)
    ).collect()
    for cuts in [(100, 200), (1, 299), (150,)]:
        lo = 0
        parts = []
        for hi in list(cuts) + [300]:
            sl = spark.createDataFrame(rows[lo:hi], "k long, m double")
            parts.append(
                variant_partials(sl, "k", "m", n_variants=3, salt=2)
            )
            lo = hi
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        merged = finalize_variant_stats(
            merge_variant_partials(u)
        ).collect()
        assert sorted(map(tuple, merged)) == sorted(
            map(tuple, one_pass)
        )  # exact equality, including the float columns


def test_streaming_ab_readout_matches_batch(spark, tmp_path):
    """The streamed experiment state, fed in micro-batches, serves the
    IDENTICAL readout as the one-pass batch stats, and a replayed
    batch does not perturb it (overwrite partitions)."""
    import json as _json

    from streaming_data_pipeline_azure_spark.operators.experiment import (
        finalize_variant_stats,
        variant_partials,
    )
    from streaming_data_pipeline_azure_spark.streaming.pipeline import (
        build_state_ingest_query,
        read_ab_readout,
        run_to_completion,
    )

    b1 = [{"k": i, "m": 10.5 + (i % 7)} for i in range(150)]
    b2 = [{"k": i, "m": 20.25 + (i % 5)} for i in range(150, 260)]
    src = tmp_path / "ab_in"
    src.mkdir()
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b2))

    def stream():
        return (
            spark.readStream.schema("k long, m double")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    state = str(tmp_path / "ab_state")
    q = build_state_ingest_query(
        stream(), lambda b: variant_partials(b, "k", "m", salt=9), state,
        str(tmp_path / "ab_ckpt"), trigger_available_now=True,
    )
    run_to_completion(q)
    served = sorted(
        map(tuple, read_ab_readout(spark, state).collect())
    )
    union = spark.createDataFrame(
        [(r["k"], r["m"]) for r in b1 + b2], "k long, m double"
    )
    direct = sorted(
        map(
            tuple,
            finalize_variant_stats(
                variant_partials(union, "k", "m", salt=9)
            ).collect(),
        )
    )
    assert served == direct

    q2 = build_state_ingest_query(
        stream(), lambda b: variant_partials(b, "k", "m", salt=9), state,
        str(tmp_path / "ab_ckpt2"), trigger_available_now=True,
    )
    run_to_completion(q2)
    again = sorted(
        map(tuple, read_ab_readout(spark, state).collect())
    )
    assert again == served


def test_chi2_contingency_cells_matches_scipy_free_reference(spark):
    """Cell expectations and contributions match the hand formula;
    independent columns give ~zero contributions; the summed statistic
    matches a Python reference."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        chi2_contingency_cells,
    )

    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 10 + [("b", "y")] * 30
    )
    df = spark.createDataFrame(rows, "u string, v string")
    got = {
        (r["x"], r["y"]): r
        for r in chi2_contingency_cells(df, "u", "v").collect()
    }
    # marginals 40/40, total 80 -> every expected = 20
    for cell, r in got.items():
        assert r["expected"] == 20.0
        assert abs(r["chi2_contribution"] - (r["observed"] - 20) ** 2 / 20) < 1e-12
    total = sum(r["chi2_contribution"] for r in got.values())
    assert abs(total - 20.0) < 1e-9  # 4 cells x (10^2/20)


def test_bootstrap_mean_ci_deterministic_and_sane(spark):
    """CI brackets the point estimate for well-behaved data, the whole
    statistic is rerun/partitioning-invariant, and the interval
    narrows with more data (the basic bootstrap sanity)."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        bootstrap_mean_ci,
    )

    rows = [(k, 50.0 + (k * 13) % 21) for k in range(600)]
    df = spark.createDataFrame(rows, "k long, v double")
    r1 = bootstrap_mean_ci(df, "k", "v", n_replicates=40).collect()[0]
    assert r1["mean_lo"] < r1["mean_point"] < r1["mean_hi"]
    # point estimate is the exact mean
    exact = sum(v for _, v in rows) / len(rows)
    assert abs(r1["mean_point"] - exact) < 1e-9
    # deterministic across reruns and partitionings
    r2 = bootstrap_mean_ci(
        df.repartition(13), "k", "v", n_replicates=40
    ).collect()[0]
    assert tuple(r1) == tuple(r2)
    # 4x the data -> narrower interval
    big = spark.createDataFrame(
        [(k, 50.0 + (k * 13) % 21) for k in range(2400)],
        "k long, v double",
    )
    rb = bootstrap_mean_ci(big, "k", "v", n_replicates=40).collect()[0]
    assert (rb["mean_hi"] - rb["mean_lo"]) < (
        r1["mean_hi"] - r1["mean_lo"]
    )


def test_ks_statistic_known_gap(spark):
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        ks_statistic,
    )

    # a = {1,2,2}, b = {2,3,4}: ECDF gaps 1/3, 2/3, 1/3, 0 -> D = 2/3
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0), ("b", 4.0)],
        ["g", "v"],
    )
    (r,) = ks_statistic(df, "g", "v", "a", "b").collect()
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["ks_scaled"] == 666_666


def test_ks_identical_distributions_zero(spark):
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        ks_statistic,
    )

    rows = [("a", float(i % 5)) for i in range(50)] + [
        ("b", float(i % 5)) for i in range(50)
    ]
    (r,) = ks_statistic(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v", "a", "b"
    ).collect()
    assert r["ks_scaled"] == 0


def test_mann_whitney_u_ties_and_identity(spark):
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        mann_whitney_u,
    )

    # hand-computed: ranks 1,(2,3,4 avg 3),5,6 -> R_a = 7, U_a = 1
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0), ("b", 4.0)],
        ["g", "v"],
    )
    (r,) = mann_whitney_u(df, "g", "v", "a", "b").collect()
    assert int(r["u2_a"]) == 2 and int(r["u2_b"]) == 16
    # identity 2U_a + 2U_b = 2 n_a n_b
    assert int(r["u2_a"]) + int(r["u2_b"]) == 2 * r["n_a"] * r["n_b"]
    assert r["auc_scaled"] == 111_111


def test_mann_whitney_total_dominance(spark):
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        mann_whitney_u,
    )

    # every a above every b -> U_a = n_a*n_b, AUC = 1
    rows = [("a", 100.0 + i) for i in range(4)] + [
        ("b", float(i)) for i in range(6)
    ]
    (r,) = mann_whitney_u(
        spark.createDataFrame(rows, ["g", "v"]), "g", "v", "a", "b"
    ).collect()
    assert int(r["u2_a"]) == 2 * 4 * 6
    assert r["auc_scaled"] == 1_000_000


def test_cuped_perfect_covariate_kills_variance(spark):
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        cuped_adjusted_stats,
    )

    # y = 2x exactly -> theta = 2, adjusted variance collapses to ~0
    # while raw variance is large
    rows = [(i, float(i % 50), float(2 * (i % 50))) for i in range(400)]
    df = spark.createDataFrame(rows, ["uid", "x", "y"])
    (r,) = cuped_adjusted_stats(df, "uid", "x", "y", salt=3).collect()
    assert abs(r["theta"] - 2.0) < 1e-9
    assert r["var_a"] > 100.0
    assert abs(r["var_adj_a"]) < 1e-6
    assert abs(r["var_adj_b"]) < 1e-6


def test_cuped_uncorrelated_covariate_is_noop(spark):
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        cuped_adjusted_stats,
    )

    # covariate constant -> var(x) = 0 would blow up; use a covariate
    # exactly orthogonal to y instead: x alternates 0/1, y alternates
    # independently in a pattern with zero sample covariance per pool
    rows = [(i, float(i % 2), float((i // 2) % 2)) for i in range(400)]
    df = spark.createDataFrame(rows, ["uid", "x", "y"])
    (r,) = cuped_adjusted_stats(df, "uid", "x", "y", salt=3).collect()
    # theta small -> adjusted means stay close to raw means
    assert abs(r["mean_adj_a"] - r["mean_a"]) < 0.05
    assert abs(r["mean_adj_b"] - r["mean_b"]) < 0.05


def test_ks_grouped_isolates_shifted_stratum(spark):
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        ks_statistic_grouped,
    )

    # stratum s1: identical distributions -> KS 0; stratum s2: fully
    # separated -> KS 1
    rows = (
        [("s1", "a", float(i % 5)) for i in range(40)]
        + [("s1", "b", float(i % 5)) for i in range(40)]
        + [("s2", "a", float(i % 5)) for i in range(40)]
        + [("s2", "b", 100.0 + i % 5) for i in range(40)]
    )
    df = spark.createDataFrame(rows, ["s", "g", "v"])
    out = {
        r["stratum"]: r
        for r in ks_statistic_grouped(df, "s", "g", "v", "a", "b").collect()
    }
    assert out["s1"]["ks_scaled"] == 0
    assert out["s2"]["ks_scaled"] == 1_000_000


def test_did_recovers_planted_treatment_effect(spark):
    import datetime as dt

    from streaming_data_pipeline_azure_spark.operators.experiment import (
        assign_variant,
        did_estimate,
    )
    from pyspark.sql import functions as F

    # build a panel where treatment adds exactly +5.0 post-cutoff on
    # top of a shared +2.0 time trend: DiD must read exactly 5.0
    base = spark.range(0, 2000).select(
        F.col("id").alias("uid"),
        (F.col("id") % 7).cast("double").alias("noise"),
    )
    pre = base.select(
        "uid",
        F.lit(dt.datetime(2024, 1, 1)).alias("ts"),
        (F.col("noise") + 10.0).alias("v"),
    )
    arm = assign_variant("uid", 2, salt=5)
    post = base.select(
        "uid",
        F.lit(dt.datetime(2024, 6, 1)).alias("ts"),
        (
            F.col("noise") + 10.0 + 2.0
            + F.when(arm == 1, 5.0).otherwise(0.0)
        ).alias("v"),
    )
    df = pre.unionAll(post)
    (r,) = did_estimate(df, "uid", "v", "ts", "2024-03-01", salt=5).collect()
    assert abs(r["did"] - 5.0) < 1e-9
    assert abs(r["delta_control"] - 2.0) < 1e-9


def test_standardization_undoes_simpsons_paradox(spark):
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        standardized_comparison,
    )

    # classic Simpson construction: within EVERY stratum, group a
    # beats b by +10; but a concentrates in the low stratum, so the
    # RAW means order the other way. Standardization must restore the
    # within-stratum truth (+10 exactly, same weights both sides).
    rows = []
    rows += [("s_low", "a", 10.0)] * 90 + [("s_low", "b", 0.0)] * 10
    rows += [("s_high", "a", 110.0)] * 10 + [("s_high", "b", 100.0)] * 90
    df = spark.createDataFrame(rows, ["s", "g", "v"])
    (r,) = standardized_comparison(df, "s", "g", "v", "a", "b").collect()
    assert r["lift_raw"] < 0  # raw means mislead
    assert abs(r["lift_std"] - 10.0) < 1e-9  # standardized truth
    assert r["n_a"] == 100 and r["n_b"] == 100


def test_cramers_v_bounds(spark):
    """Perfect association reads V=1 exactly (x determines y);
    an exactly independent 2x2 table reads chi2=0, V=0."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        cramers_v,
    )

    perfect = spark.createDataFrame(
        [("a", "p")] * 5 + [("b", "q")] * 7, "x string, y string"
    )
    [p] = cramers_v(perfect, "x", "y").collect()
    assert abs(p["cramers_v"] - 1.0) < 1e-12 and p["dof"] == 1

    indep = spark.createDataFrame(
        [("a", "p")] * 6 + [("a", "q")] * 2
        + [("b", "p")] * 3 + [("b", "q")] * 1,
        "x string, y string",
    )
    [i] = cramers_v(indep, "x", "y").collect()
    assert abs(i["chi2"]) < 1e-12 and abs(i["cramers_v"]) < 1e-6

    # single-level x: V undefined (kmin = 0) -> explicit NULL, not a
    # 0/0 NaN (r10 ADVICE guard)
    onelevel = spark.createDataFrame(
        [("a", "p")] * 4 + [("a", "q")] * 3, "x string, y string"
    )
    [o] = cramers_v(onelevel, "x", "y").collect()
    assert o["cramers_v"] is None and o["dof"] == 0


def test_jonckheere_trend_endpoints(spark):
    """Perfect increasing trend reads scale (1.0), all-tied reads
    scale/2 (no trend), perfect decreasing reads 0; fewer than 3
    groups is rejected (that's mann_whitney's job)."""
    import pytest as _pytest

    from streaming_data_pipeline_azure_spark.operators.experiment import (
        jonckheere_trend,
    )

    inc = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0),
         ("C", 5.0), ("C", 6.0)],
        "g string, v double",
    )
    [r] = jonckheere_trend(inc, "g", "v", ["A", "B", "C"]).collect()
    assert (int(r["j2"]), int(r["pairs2"]), r["jt_scaled"]) == (
        24, 24, 1_000_000,
    )

    tied = spark.createDataFrame(
        [("A", 7.0)] * 2 + [("B", 7.0)] * 2 + [("C", 7.0)] * 2,
        "g string, v double",
    )
    [t] = jonckheere_trend(tied, "g", "v", ["A", "B", "C"]).collect()
    assert t["jt_scaled"] == 500_000

    dec = spark.createDataFrame(
        [("A", 9.0), ("B", 5.0), ("C", 1.0)], "g string, v double"
    )
    [d] = jonckheere_trend(dec, "g", "v", ["A", "B", "C"]).collect()
    assert d["jt_scaled"] == 0

    with _pytest.raises(ValueError, match="ordered groups"):
        jonckheere_trend(inc, "g", "v", ["A", "B"])


def test_kruskal_wallis_matches_hand_values(spark):
    """No ties: separated groups give the textbook H = 7.2; with ties
    the doubled-rank H and the tie-corrected H match the hand
    derivation (and scipy: 3.0714 / 3.5833)."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        kruskal_wallis,
    )

    sep = spark.createDataFrame(
        [("A", float(v)) for v in (1, 2, 3)]
        + [("B", float(v)) for v in (4, 5, 6)]
        + [("C", float(v)) for v in (7, 8, 9)],
        "g string, v double",
    )
    [r] = kruskal_wallis(sep, "g", "v").collect()
    assert r["n"] == 9 and r["n_groups"] == 3
    assert int(r["ties_cubed"]) == 0
    assert abs(r["h"] - 7.2) < 1e-12
    assert abs(r["h_corrected"] - 7.2) < 1e-12

    tied = spark.createDataFrame(
        [("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 2.0),
         ("C", 2.0), ("C", 3.0)],
        "g string, v double",
    )
    [t] = kruskal_wallis(tied, "g", "v").collect()
    assert int(t["ties_cubed"]) == 30
    assert abs(t["h"] - 43.0 / 14.0) < 1e-12          # 3.0714...
    assert abs(t["h_corrected"] - 43.0 / 12.0) < 1e-12  # 3.5833...

    allsame = spark.createDataFrame(
        [("A", 5.0), ("B", 5.0), ("C", 5.0)], "g string, v double"
    )
    [s] = kruskal_wallis(allsame, "g", "v").collect()
    assert s["h_corrected"] is None  # zero variance -> correction 0


def test_anova_oneway_hand_values(spark):
    """Separated groups A(1,2,3) B(4,5,6) C(7,8,9): SSB=54, SSW=6,
    F=(54/2)/(6/6)=27, eta2=0.9 — the textbook decomposition."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        anova_oneway,
    )

    sep = spark.createDataFrame(
        [("A", v) for v in (1, 2, 3)]
        + [("B", v) for v in (4, 5, 6)]
        + [("C", v) for v in (7, 8, 9)],
        "g string, v long",
    )
    [r] = anova_oneway(sep, "g", "v").collect()
    assert r["n"] == 9 and r["n_groups"] == 3
    assert abs(r["ssb"] - 54.0) < 1e-9
    assert abs(r["ssw"] - 6.0) < 1e-9
    assert abs(r["f_stat"] - 27.0) < 1e-9
    assert abs(r["eta2"] - 0.9) < 1e-12


def test_anova_oneway_degenerate_nulls(spark):
    """One group → F NULL; all-constant values → SSW=0 → F NULL and
    eta2 NULL (0/0) — loud NULLs, never garbage."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        anova_oneway,
    )

    one = spark.createDataFrame(
        [("A", 1), ("A", 2)], "g string, v long"
    )
    [r] = anova_oneway(one, "g", "v").collect()
    assert r["f_stat"] is None

    flat = spark.createDataFrame(
        [("A", 5), ("A", 5), ("B", 5), ("B", 5)], "g string, v long"
    )
    [s] = anova_oneway(flat, "g", "v").collect()
    assert s["f_stat"] is None and s["eta2"] is None


def test_brown_forsythe_detects_spread_not_location(spark):
    """A(0,10,20) and B(9,10,11) share median 10 but differ in
    spread: |v−med| is (10,0,10) vs (1,0,1) → SSB=54, SSW=606/9.
    A location-shifted pair with equal spreads reads F≈0."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        brown_forsythe,
    )

    spread = spark.createDataFrame(
        [("A", 0), ("A", 10), ("A", 20), ("B", 9), ("B", 10), ("B", 11)],
        "g string, v long",
    )
    [r] = brown_forsythe(spread, "g", "v").collect()
    assert abs(r["ssb"] - 54.0) < 1e-9
    assert abs(r["ssw"] - 606.0 / 9.0) < 1e-9

    shifted = spark.createDataFrame(
        [("A", 1), ("A", 2), ("A", 3), ("B", 101), ("B", 102), ("B", 103)],
        "g string, v long",
    )
    [s] = brown_forsythe(shifted, "g", "v").collect()
    assert abs(s["ssb"]) < 1e-9  # identical |v−med| profiles


def test_brown_forsythe_uses_lower_median(spark):
    """Even-sized group (1,2,4,8): the LOWER median (2) recenters to
    z=(1,0,2,6) → SSW = 20.75; the upper median (4) would give
    z=(3,2,0,4) → SSW = 8.75, and the midpoint (3) → 10.75 — the
    exact SSW pins which convention ran."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        brown_forsythe,
    )

    g = spark.createDataFrame(
        [("A", 1), ("A", 2), ("A", 4), ("A", 8)], "g string, v long"
    )
    [r] = brown_forsythe(g, "g", "v").collect()
    assert abs(r["ssw"] - 20.75) < 1e-9
    assert abs(r["ssb"]) < 1e-12


def test_friedman_perfect_agreement_and_completeness(spark):
    """3 blocks all ranking T1<T2<T3 → Q = n(k−1) = 6 exactly
    (q_num/q_den = 144/24); an incomplete design raises."""
    import pytest as _pytest

    from streaming_data_pipeline_azure_spark.operators.experiment import (
        friedman_test,
    )

    rows = []
    for b in (1, 2, 3):
        rows += [(b, "T1", 10 * b + 1), (b, "T2", 10 * b + 2),
                 (b, "T3", 10 * b + 3)]
    df = spark.createDataFrame(rows, "b long, t string, v long")
    [r] = friedman_test(df, "b", "t", "v").collect()
    assert r["n_blocks"] == 3 and r["k"] == 3
    assert r["q_num"] == 2 * 72 and r["q_den"] == 24
    assert abs(r["q"] - 6.0) < 1e-12

    incomplete = spark.createDataFrame(
        rows[:-1], "b long, t string, v long"
    )
    with _pytest.raises(ValueError, match="complete design"):
        friedman_test(incomplete, "b", "t", "v")


def test_friedman_all_tied_is_null(spark):
    """Every block fully tied → zero denominator → Q is NULL."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        friedman_test,
    )

    rows = [(b, t, 7) for b in (1, 2) for t in ("T1", "T2", "T3")]
    df = spark.createDataFrame(rows, "b long, t string, v long")
    [r] = friedman_test(df, "b", "t", "v").collect()
    assert r["q_den"] == 0 and r["q"] is None


def test_qini_curve_hand_values(spark):
    """10 units, 2 bins, distinct scores: bin1 (top-5) qini =
    2 − 1·3/2 = 0.5; bin2 qini = 3 − 2·5/5 = 1.0; random diagonal
    scales the overall uplift (1.0) by prefix share."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        qini_curve,
    )

    units = spark.createDataFrame(
        [(10, 1, 1), (9, 0, 0), (8, 1, 0), (7, 0, 1), (6, 1, 1),
         (5, 0, 0), (4, 1, 0), (3, 0, 1), (2, 1, 1), (1, 0, 0)],
        "score long, treat long, y long",
    )
    rows = {r["bin"]: r for r in
            qini_curve(units, "score", "treat", "y", n_bins=2).collect()}
    b1, b2 = rows[1], rows[2]
    assert (b1["n_prefix"], b1["nt"], b1["nc"], b1["yt"], b1["yc"]) == (
        5, 3, 2, 2, 1)
    assert abs(b1["qini"] - 0.5) < 1e-12
    assert abs(b1["qini_random"] - 0.5) < 1e-12
    assert (b2["n_prefix"], b2["nt"], b2["nc"], b2["yt"], b2["yc"]) == (
        10, 5, 5, 3, 2)
    assert abs(b2["qini"] - 1.0) < 1e-12
    assert abs(b2["qini_random"] - 1.0) < 1e-12


def test_qini_curve_tie_runs_stay_together(spark):
    """All scores equal → the only value-grain prefix is the full
    population, too large for every bin but the last: bins with no
    qualifying boundary are ABSENT (never a partial tie split)."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        qini_curve,
    )

    units = spark.createDataFrame(
        [(5, i % 2, 1 if i < 3 else 0) for i in range(8)],
        "score long, treat long, y long",
    )
    rows = qini_curve(units, "score", "treat", "y", n_bins=4).collect()
    assert [r["bin"] for r in rows] == [4]
    assert rows[0]["n_prefix"] == 8


def test_cochran_armitage_hand_values(spark):
    """Rates 1/4, 2/4, 3/4 across three ordered groups (w=0,1,2):
    N=12, R=6, T̃ = 12·8 − 6·12 = 24, V' = 12·20 − 144 = 96 →
    z² = 24²·12/(6·6·96) = 2.0; a perfectly flat table reads z²=0;
    unknown groups raise."""
    import pytest as _pytest

    from streaming_data_pipeline_azure_spark.operators.experiment import (
        cochran_armitage,
    )

    rows = (
        [("g0", 1)] * 1 + [("g0", 0)] * 3
        + [("g1", 1)] * 2 + [("g1", 0)] * 2
        + [("g2", 1)] * 3 + [("g2", 0)] * 1
    )
    df = spark.createDataFrame(rows, "g string, y long")
    [r] = cochran_armitage(df, "g", "y", ["g0", "g1", "g2"]).collect()
    assert (r["n"], r["positives"]) == (12, 6)
    assert r["t_num"] == 24 and r["var_core"] == 96
    assert abs(r["z2"] - 2.0) < 1e-12

    flat = spark.createDataFrame(
        [(g, y) for g in ("g0", "g1", "g2") for y in (1, 0)],
        "g string, y long",
    )
    [f] = cochran_armitage(flat, "g", "y", ["g0", "g1", "g2"]).collect()
    assert f["t_num"] == 0 and abs(f["z2"]) < 1e-12

    with _pytest.raises(ValueError, match="outside ordered_groups"):
        cochran_armitage(df, "g", "y", ["g0", "g1"]).collect()


def test_cochran_armitage_degenerate_nulls(spark):
    """All-positive outcome (R=N) → z² NULL, never 0/0 garbage."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        cochran_armitage,
    )

    df = spark.createDataFrame(
        [("g0", 1), ("g1", 1)], "g string, y long"
    )
    [r] = cochran_armitage(df, "g", "y", ["g0", "g1"]).collect()
    assert r["z2"] is None


def test_mantel_haenszel_hand_values(spark):
    """Two strata with per-stratum OR = 6 (a,b,c,d = 2,1,1,3 over
    n=7 and 4,2,2,6 over n=14): OR_MH = (6/7+12/7)/(1/7+2/7) = 6 —
    the pooled estimate preserves a homogeneous stratum OR."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        mantel_haenszel_or,
    )

    def stratum(s, a, b, c, d):
        return ([(s, 1, 1)] * a + [(s, 1, 0)] * b
                + [(s, 0, 1)] * c + [(s, 0, 0)] * d)

    rows = stratum("s1", 2, 1, 1, 3) + stratum("s2", 4, 2, 2, 6)
    df = spark.createDataFrame(rows, "s string, x long, y long")
    [r] = mantel_haenszel_or(df, "s", "x", "y").collect()
    assert (r["n_strata"], r["n"]) == (2, 21)
    assert abs(r["sum_ad_over_n"] - (6.0 / 7.0 + 12.0 / 7.0)) < 1e-12
    assert abs(r["sum_bc_over_n"] - (1.0 / 7.0 + 2.0 / 7.0)) < 1e-12
    assert abs(r["or_mh"] - 6.0) < 1e-12


def test_mantel_haenszel_no_discordant_is_null(spark):
    """b·c = 0 in every stratum → denominator 0 → OR NULL."""
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        mantel_haenszel_or,
    )

    rows = [("s1", 1, 1), ("s1", 0, 0), ("s2", 1, 1), ("s2", 0, 0)]
    df = spark.createDataFrame(rows, "s string, x long, y long")
    [r] = mantel_haenszel_or(df, "s", "x", "y").collect()
    assert r["or_mh"] is None


def test_rerandomization_planted_effect_and_null(spark):
    """A +100 planted lift on arm A is beyond every random relabeling
    (p = 1/(B+1), the add-one floor); identical groups give the
    no-information readout p = 1; and the readout is partition-
    invariant (key-pure draws)."""
    rows_eff = (
        [(k, "A", 200.0) for k in range(60)]
        + [(k + 100, "B", 100.0) for k in range(60)]
    )
    from streaming_data_pipeline_azure_spark.operators.experiment import (
        rerandomization_test,
    )

    df = spark.createDataFrame(rows_eff, "k long, g string, m double")
    [r] = rerandomization_test(
        df, "k", "g", "m", "A", "B", n_perm=40
    ).collect()
    assert (r["n"], r["n_a"], r["n_b"]) == (120, 60, 60)
    assert abs(r["observed_diff"] - 100.0) < 1e-9
    assert r["n_ge"] == 0
    assert abs(r["p_value"] - 1.0 / (r["n_valid"] + 1)) < 1e-15

    rows_null = (
        [(k, "A", 100.0) for k in range(60)]
        + [(k + 100, "B", 100.0) for k in range(60)]
    )
    dnull = spark.createDataFrame(rows_null, "k long, g string, m double")
    [s] = rerandomization_test(
        dnull, "k", "g", "m", "A", "B", n_perm=40
    ).collect()
    assert abs(s["observed_diff"]) < 1e-12
    assert abs(s["p_value"] - 1.0) < 1e-12  # every |diff_b| >= 0

    [r2] = rerandomization_test(
        df.repartition(13), "k", "g", "m", "A", "B", n_perm=40
    ).collect()
    assert r2 == r


def test_friedman_rejects_non_overlapping_blocks(spark):
    """Blocks {T1,T2} and {T2,T3} share treatment COUNTS but not
    IDENTITY — the completeness check must raise, not return a
    garbage statistic (code-review r10 finding)."""
    import pytest as _pytest

    from streaming_data_pipeline_azure_spark.operators.experiment import (
        friedman_test,
    )

    rows = [(1, "T1", 5), (1, "T2", 7), (2, "T2", 6), (2, "T3", 8)]
    df = spark.createDataFrame(rows, "b long, t string, v long")
    with _pytest.raises(ValueError, match="complete design"):
        friedman_test(df, "b", "t", "v")
