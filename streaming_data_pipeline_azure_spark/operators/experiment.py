"""Deterministic experiment (A/B test) analysis: key-pure variant
assignment, engine-exact per-variant metric statistics, and a Welch
two-sample t readout with a sample-ratio-mismatch (SRM) check.

The missing analytics pillar next to funnels/cohorts (temporal.py):
every experimentation stack needs (1) an assignment that is a PURE
FUNCTION of the randomization unit — reproducible across runs and
engines, stable under repartitioning, no stored assignment table to
join — and (2) a readout whose numbers are exactly reproducible, not
"close up to float sum order".

Assignment reuses :func:`~.sampling.knuth_uniform` (the repo's key-pure
uniform: overflow-safe over the full int64 domain, bit-identical in any
SQL engine), salted so concurrent experiments randomize independently.

The readout follows the `profile.correlation_matrix` /
`grouped_linreg` decimal discipline: metrics round once to
DECIMAL(18,4), the per-variant sufficient sums (n, Σm, Σm²) are exact
decimals accumulated in ONE map-side-combined aggregation (the only
shuffle — O(n_variants) rows), and doubles appear only in the fixed
finalization expression — so mean/variance/t are bit-identical across
engines and partitionings, and the DuckDB oracles hash-check the real
code path. At 100 TB this is a single scan + a v-row shuffle: nothing
about the plan changes with scale.

Reference anchor: the reference's query surface is filtered/grouped
averages over the purchase stream (reference customers.sql:1-12,
README.md:131-166); an experiment readout is the same aggregate shape
keyed by a derived assignment column instead of a stored one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sampling import _M32, _knuth_u32, knuth_uniform


def assign_variant(
    key_col: Column | str, n_variants: int, *, salt: int = 0
) -> Column:
    """Variant id in ``[0, n_variants)`` as a pure function of
    ``(key, salt)``: ``floor(knuth_uniform(pmod(key, 2^32) + salt) * n)``.

    The salt shifts the 32-bit-reduced key BEFORE hashing, so each salt
    value is an independent re-randomization (experiment #2 with a new
    salt is uncorrelated with experiment #1's buckets) and the shifted
    key stays < 2^32 + salt — no int64 overflow under ANSI mode for any
    input key."""
    if n_variants < 2:
        raise ValueError(
            f"assign_variant: n_variants={n_variants} — an experiment "
            "needs at least 2 arms"
        )
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    k = k.cast("long")
    kr = ((k % F.lit(_M32)) + F.lit(_M32)) % F.lit(_M32)
    u = knuth_uniform(kr + F.lit(int(salt)))
    return F.floor(u * F.lit(float(n_variants))).cast("int")


def variant_stats(
    df: DataFrame,
    key_col: str,
    metric_col: str,
    *,
    n_variants: int = 2,
    salt: int = 0,
) -> DataFrame:
    """Per-variant metric statistics from exact decimal sufficient sums:
    (variant, n_rows, n_units, mean_metric, var_metric, std_metric),
    sample variance ``(n·Σm² − (Σm)²) / (n·(n−1))``.

    ``n_units`` counts distinct randomization keys (rows may be events
    under a cluster-randomized key such as customer) — the map-side
    partial distinct bounds that shuffle at one row per (variant, key).
    """
    d = F.col(metric_col).cast("decimal(18,4)")
    g = (
        df.select(
            assign_variant(key_col, n_variants, salt=salt).alias("variant"),
            F.col(key_col).alias("__k"),
            d.alias("__m"),
        )
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct("__k").alias("__nu"),
            F.sum("__m").alias("__s"),
            F.sum(F.col("__m") * F.col("__m")).alias("__ss"),
        )
    )
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    var = (n * ss - s * s) / (n * (n - F.lit(1.0)))
    return g.select(
        "variant",
        F.col("__n").cast("long").alias("n_rows"),
        F.col("__nu").cast("long").alias("n_units"),
        (s / n).alias("mean_metric"),
        F.when(F.col("__n") > 1, var).alias("var_metric"),
        F.when(F.col("__n") > 1, F.when(var > 0, F.sqrt(var)).otherwise(F.lit(0.0))).alias(
            "std_metric"
        ),
    )


def variant_partials(
    df: DataFrame,
    key_col: str,
    metric_col: str,
    *,
    n_variants: int = 2,
    salt: int = 0,
) -> DataFrame:
    """Mergeable per-variant sufficient sums — (variant, n, s, ss)
    with s/ss EXACT decimals: partials from arbitrary slicings of the
    data merge (by plain addition) to bit-identical one-pass results,
    so an experiment readout can be maintained per micro-batch and
    served without reprocessing history (the mergeable-state family:
    HLL distinct, CMS frequency, bottom-k samples — this is the
    metric-moments member). ``n_units`` is deliberately absent: a
    distinct count is not mergeable; pair the readout with the HLL
    family if per-variant unit counts are needed at serve time. One
    output partition: the partial is ``n_variants`` rows."""
    d = F.col(metric_col).cast("decimal(18,4)")
    return (
        df.select(
            assign_variant(key_col, n_variants, salt=salt).alias(
                "variant"
            ),
            d.alias("__m"),
        )
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__m").alias("s"),
            F.sum(F.col("__m") * F.col("__m")).alias("ss"),
        )
        .coalesce(1)
    )


def merge_variant_partials(partials: DataFrame) -> DataFrame:
    """Fold any number of (variant, n, s, ss) partial frames (already
    unioned) back into one row per variant — decimal addition, so the
    merge is exact and order-independent."""
    return partials.groupBy("variant").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
    )


def finalize_variant_stats(partials: DataFrame) -> DataFrame:
    """(variant, n_rows, mean_metric, var_metric, std_metric) from
    merged partials — the identical finalization expressions as
    :func:`variant_stats`, so a streamed/merged readout is
    bit-identical to the one-pass batch answer (tested)."""
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    var = (n * ss - s * s) / (n * (n - F.lit(1.0)))
    return partials.select(
        "variant",
        F.col("n").cast("long").alias("n_rows"),
        (s / n).alias("mean_metric"),
        F.when(F.col("n") > 1, var).alias("var_metric"),
        F.when(
            F.col("n") > 1,
            F.when(var > 0, F.sqrt(var)).otherwise(F.lit(0.0)),
        ).alias("std_metric"),
    )


def welch_ttest(
    df: DataFrame,
    key_col: str,
    metric_col: str,
    *,
    salt: int = 0,
) -> DataFrame:
    """Two-arm experiment readout in ONE row: sizes, means, the Welch
    unequal-variance t statistic, its Welch–Satterthwaite degrees of
    freedom, and the SRM chi-square against the expected 50/50 split
    (the standard validity guard: a large ``srm_chi2`` means broken
    assignment, and the t statistic should not be trusted).

    Arms are ``assign_variant(key, 2, salt)`` = 0 (control) / 1
    (treatment). All doubles derive from the exact decimal sums of
    :func:`variant_stats` through one fixed expression tree, so the
    statistic is bit-reproducible (oracle-hash-checked, not just
    approximately right). Returns (n_a, n_b, mean_a, mean_b, mean_diff,
    t_stat, welch_df, srm_chi2)."""
    stats = variant_stats(
        df, key_col, metric_col, n_variants=2, salt=salt
    )
    side = lambda c, v: F.max(  # noqa: E731
        F.when(F.col("variant") == v, F.col(c))
    )
    w = stats.agg(
        side("n_rows", 0).alias("n_a"),
        side("n_rows", 1).alias("n_b"),
        side("mean_metric", 0).alias("mean_a"),
        side("mean_metric", 1).alias("mean_b"),
        side("var_metric", 0).alias("__va"),
        side("var_metric", 1).alias("__vb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    se2a = F.col("__va") / na
    se2b = F.col("__vb") / nb
    se2 = se2a + se2b
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    wdf = (se2 * se2) / (
        se2a * se2a / (na - F.lit(1.0)) + se2b * se2b / (nb - F.lit(1.0))
    )
    exp_n = (na + nb) / F.lit(2.0)
    chi2 = (na - exp_n) * (na - exp_n) / exp_n + (nb - exp_n) * (
        nb - exp_n
    ) / exp_n
    return w.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        (F.col("mean_a") - F.col("mean_b")).alias("mean_diff"),
        F.when(se2 > 0, t).alias("t_stat"),
        F.when(se2 > 0, wdf).alias("welch_df"),
        chi2.alias("srm_chi2"),
    )


def chi2_contingency_cells(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Contingency-table independence diagnostics, PER CELL: observed
    count, expected-under-independence count (row·col/total), and the
    cell's chi-square contribution (O−E)²/E — the categorical
    dependence probe (does priority depend on status? does language
    depend on source?).

    Deliberately returns cells, not the summed statistic: a float sum
    over an unordered cell set is engine-order-dependent, while every
    per-cell value here is a fixed expression over exact integer
    counts (bit-reproducible, oracle-checkable) — and the cells are
    what an analyst reads anyway (WHICH combinations deviate). Callers
    wanting the scalar χ² sum the (sorted) contributions; the total
    degrees of freedom is (|X|−1)(|Y|−1).

    One (x, y) aggregation plus two broadcast marginal joins — cell
    cardinality |X|·|Y| is the only window/driver-free output."""
    cells = df.groupBy(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    mx = cells.groupBy("x").agg(F.sum("observed").cast("long").alias("__nx"))
    my = cells.groupBy("y").agg(F.sum("observed").cast("long").alias("__ny"))
    tot = cells.agg(F.sum("observed").cast("long").alias("__n"))
    o = F.col("observed").cast("double")
    e = (
        F.col("__nx").cast("double")
        * F.col("__ny").cast("double")
        / F.col("__n").cast("double")
    )
    return (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "observed",
            e.alias("expected"),
            ((o - e) * (o - e) / e).alias("chi2_contribution"),
        )
    )


def cramers_v(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Cramér's V — the [0,1]-normalized effect size of categorical
    association (χ² alone grows with N; V answers "HOW dependent"),
    the feature-selection / leakage screen run over candidate
    categorical features before training. Returns ONE row:
    (n, x_levels, y_levels, dof, chi2, cramers_v).

    Shares :func:`chi2_contingency_cells`' exactness scheme (every
    per-cell contribution is a fixed double expression over exact
    integer counts) but builds the FULL |X|×|Y| grid from the two
    marginals — a zero cell contributes its whole expected count E to
    χ² (a strong dependence signal: perfect association is literally
    "the off-cells are empty"), which the observed-cells-only
    diagnostic cannot see and a scalar χ² must not miss. The second
    device closes the float gap: an unordered SUM over cells is
    engine-order-dependent, so the cells collapse to ONE sorted array
    (lexicographic (x, y) struct order) and fold left-to-right — the
    same device as the vector dot products, bit-identical in any
    engine that replays the ordered fold. Grid size |X|·|Y| is tiny by
    contract (categorical × categorical), so the cross join is two
    broadcast marginal frames and the sorted-array finish one task.

        V = sqrt(χ² / (N · min(|X|−1, |Y|−1)))

    A single-level x or y (min(|X|−1,|Y|−1) = 0, V undefined) returns
    NULL cramers_v explicitly — never a 0/0 NaN — matching the
    kruskal_wallis h_corrected NULL-on-degenerate convention."""
    obs = df.groupBy(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("observed"))
    mx = obs.groupBy("x").agg(F.sum("observed").cast("long").alias("__nx"))
    my = obs.groupBy("y").agg(F.sum("observed").cast("long").alias("__ny"))
    tot = obs.agg(F.sum("observed").cast("long").alias("__n"))
    grid = (
        mx.crossJoin(F.broadcast(my))
        .join(obs, ["x", "y"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            F.coalesce(F.col("observed"), F.lit(0)).cast("long").alias(
                "observed"
            ),
            "__nx",
            "__ny",
            "__n",
        )
    )
    o = F.col("observed").cast("double")
    e = (
        F.col("__nx").cast("double")
        * F.col("__ny").cast("double")
        / F.col("__n").cast("double")
    )
    cells = grid.select(
        "x", "y", "observed",
        ((o - e) * (o - e) / e).alias("chi2_contribution"),
    )
    arr = cells.agg(
        F.sort_array(
            F.collect_list(F.struct("x", "y", "chi2_contribution"))
        ).alias("__cells"),
        F.sum("observed").cast("long").alias("n"),
        F.count_distinct(F.col("x")).cast("long").alias("x_levels"),
        F.count_distinct(F.col("y")).cast("long").alias("y_levels"),
    )
    chi2 = F.aggregate(
        F.transform(F.col("__cells"), lambda s: s["chi2_contribution"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dof = (F.col("x_levels") - 1) * (F.col("y_levels") - 1)
    kmin = F.least(F.col("x_levels") - 1, F.col("y_levels") - 1)
    return arr.select(
        "n",
        "x_levels",
        "y_levels",
        dof.cast("long").alias("dof"),
        chi2.alias("chi2"),
        # Degenerate guard (r10, ADVICE): a single-level x or y gives
        # kmin = 0 and the 0/0 sqrt would emit NaN — V is undefined
        # there (association needs >= 2 levels on both axes), so the
        # column is explicitly NULL, the same convention as
        # kruskal_wallis' h_corrected under zero variance.
        F.when(
            kmin > 0,
            F.sqrt(
                chi2 / (F.col("n").cast("double") * kmin.cast("double"))
            ),
        ).alias("cramers_v"),
    )


#: Cumulative Poisson(1) probabilities for the inverse-CDF lookup used
#: by the deterministic bootstrap (weights capped at 7 — the tail mass
#: beyond is ~1e-5 and folds into the last bucket). Written as exact
#: literals so the oracle SQL can repeat them digit-for-digit.
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
]


def bootstrap_mean_ci(
    df: DataFrame,
    key_col: str,
    value_col: str,
    *,
    n_replicates: int = 40,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    salt: int = 0,
) -> DataFrame:
    """DETERMINISTIC Poisson bootstrap confidence interval for the
    mean: every (row, replicate) draws its resampling weight
    ~ Poisson(1) through the key-pure Knuth hash (inverse-CDF over the
    exact :data:`POISSON1_CDF` literals), so the whole bootstrap — all
    ``n_replicates`` resampled means and the order-statistic CI — is a
    pure function of the data. Reruns, engines and backfills agree
    bit-for-bit (a rand()-based bootstrap can never be
    oracle-checked), which turns the usual "seed it and hope"
    resampling into an auditable statistic.

    Shape: one explode to rows × replicates (the inherent bootstrap
    cost — n_replicates scans' worth of weighted sums, batched into
    ONE shuffle keyed by replicate with decimal map-side combine),
    replicate means from exact decimal Σw·x / Σw, then order
    statistics over the O(n_replicates) means. Returns one row:
    (n_replicates, mean_point, mean_lo, mean_hi) where point is the
    full-sample exact mean and lo/hi are the ceil(q·B)-th sorted
    replicate means."""
    from pyspark.sql import Window

    if not 0 < lo_q < hi_q < 1:
        raise ValueError("bootstrap_mean_ci: need 0 < lo_q < hi_q < 1")
    b = n_replicates
    k32 = ((F.col(key_col).cast("long") % F.lit(4294967296))
           + F.lit(4294967296)) % F.lit(4294967296)
    rep = df.select(
        k32.alias("__k32"),
        F.col(value_col).cast("decimal(18,4)").alias("__v"),
    ).select(
        "__k32",
        "__v",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("__r"),
    )
    u = knuth_uniform(
        F.col("__k32") * F.lit(b) + F.col("__r") + F.lit(salt)
    )
    w = F.lit(len(POISSON1_CDF))
    for i in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[i]), F.lit(i)).otherwise(w)
    means = (
        rep.select("__r", "__v", w.alias("__w"))
        .groupBy("__r")
        .agg(
            F.sum(F.col("__v") * F.col("__w")).alias("__sw"),
            F.sum("__w").cast("long").alias("__nw"),
        )
        .select(
            "__r",
            (
                F.col("__sw").cast("double")
                / F.col("__nw").cast("double")
            ).alias("__m"),
        )
    )
    rank_w = Window.orderBy("__m")
    ranked = means.select(
        "__m", F.row_number().over(rank_w).alias("__rank")
    )
    import math

    lo_rank = math.ceil(lo_q * b)
    hi_rank = math.ceil(hi_q * b)
    point = df.agg(
        (
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_point")
    )
    bounds = ranked.agg(
        F.max(
            F.when(F.col("__rank") == lo_rank, F.col("__m"))
        ).alias("mean_lo"),
        F.max(
            F.when(F.col("__rank") == hi_rank, F.col("__m"))
        ).alias("mean_hi"),
    )
    return point.crossJoin(F.broadcast(bounds)).select(
        F.lit(b).cast("long").alias("n_replicates"),
        "mean_point",
        "mean_lo",
        "mean_hi",
    )


def ks_statistic(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic, EXACT: the maximum
    ECDF gap between two groups' value distributions — the standard
    nonparametric "did the distribution shift" test (A/B guardrails,
    drift detection between cohorts). Returns ONE row:
    (n_a, n_b, ks_scaled) with ks_scaled = floor(D * scale).

    Exactness: D = max_v |F_a(v) - F_b(v)| is evaluated WITHOUT any
    float division — the gap at value v compares the integer
    cross-products |cum_a(v)*n_b - cum_b(v)*n_a| (DECIMAL(38,0)
    products, overflow-safe past int64 at any realistic n), and only
    the maximal numerator is floor-scaled by (n_a*n_b) via exact
    integral DIV. Every engine computes the identical bigint.

    Shape: one aggregation to DISTINCT-VALUE grain (the shuffle
    carries value points, not rows), one ordered window over those
    points for cumulative counts, a one-row broadcast of the totals,
    one max — the dimension-bounded window discipline of the other
    exact statistics."""
    from pyspark.sql import Window

    g = F.col(group_col)
    tagged = df.filter(g.isin([group_a, group_b])).select(
        F.col(value_col).alias("__v"),
        (g == F.lit(group_a)).cast("long").alias("__a"),
        (g == F.lit(group_b)).cast("long").alias("__b"),
    )
    pts = tagged.groupBy("__v").agg(
        F.sum("__a").alias("__na_v"), F.sum("__b").alias("__nb_v")
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pts.select(
        F.sum("__na_v").over(w).alias("__ca"),
        F.sum("__nb_v").over(w).alias("__cb"),
    )
    tot = cum.agg(
        F.max("__ca").cast("long").alias("n_a"),
        F.max("__cb").cast("long").alias("n_b"),
    )
    dec = "decimal(38,0)"
    gap = F.abs(
        F.col("__ca").cast(dec) * F.col("n_b").cast(dec)
        - F.col("__cb").cast(dec) * F.col("n_a").cast(dec)
    )
    return (
        cum.join(F.broadcast(tot))
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.max(gap).alias("__dnum"),
        )
        .select(
            "n_a",
            "n_b",
            F.expr(
                f"CAST((__dnum * {scale}) DIV (CAST(n_a AS DECIMAL(38,0))"
                " * CAST(n_b AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("ks_scaled"),
        )
    )


def jonckheere_trend(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ordered_groups: list,
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative, exact with
    ties: "do values stochastically INCREASE along this group order" —
    the K-group extension of :func:`mann_whitney_u` that uses the
    ordering (Kruskal-Wallis asks "any difference"; J-T asks "this
    monotone trend", and gains power exactly when the order is real).

    J = Σ_{i<j} U(g_i, g_j) over the given order, U counting
    (x from g_i) < (y from g_j) pairs with ties at ½. Kept DOUBLED so
    everything is integer: per distinct value v,

        2·U contribution = Σ_{i<j} [ 2·c_j(v)·cumlt_i(v) + c_i(v)·c_j(v) ]

    with cumlt the strictly-below cumulative count — one distinct-value
    window pass, the K(K−1)/2 pair terms unrolled into a single
    expression (K is small by contract: priority classes, severity
    bands). The window is a global ORDER BY — single-partition by
    construction — so its input is bounded by VALUE CARDINALITY:
    callers pre-quantize near-continuous columns (the mann_whitney_u
    contract; feeding raw row-grain values re-creates the
    one-task-sorts-everything trap). All sums ride DECIMAL(38,0); `jt_scaled` =
    floor(2U / (2·Σ_{i<j} n_i·n_j) · scale) is the trend effect size
    in [0, scale] (scale/2 = no trend) by exact integral DIV.

    Returns ONE row: (n, j2, pairs2, jt_scaled); j2/pairs2 are BIGINT
    (≤ n², fits int64 below ~3e9 rows — the r10 portable-surface
    rule)."""
    from pyspark.sql import Window

    if len(ordered_groups) < 3:
        raise ValueError(
            "jonckheere_trend needs >= 3 ordered groups (use "
            "mann_whitney_u for two)"
        )
    g = F.col(group_col)
    ks = list(range(len(ordered_groups)))
    tagged = df.filter(g.isin(list(ordered_groups))).select(
        F.col(value_col).alias("__v"),
        *[
            (g == F.lit(ordered_groups[i])).cast("long").alias(f"__c{i}")
            for i in ks
        ],
    )
    pts = tagged.groupBy("__v").agg(
        *[F.sum(f"__c{i}").alias(f"__c{i}") for i in ks]
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = "decimal(38,0)"
    cum = pts.select(
        "__v",
        *[F.col(f"__c{i}").cast(dec).alias(f"c{i}") for i in ks],
        *[
            (F.sum(f"__c{i}").over(w) - F.col(f"__c{i}"))
            .cast(dec)
            .alias(f"lt{i}")
            for i in ks
        ],
    )
    contrib = None
    for i in ks:
        for j in ks:
            if i < j:
                term = (
                    F.lit(2).cast(dec) * F.col(f"c{j}") * F.col(f"lt{i}")
                    + F.col(f"c{i}") * F.col(f"c{j}")
                )
                contrib = term if contrib is None else contrib + term
    sums = cum.agg(
        F.sum(contrib).alias("__j2"),
        *[F.sum(f"c{i}").alias(f"__n{i}") for i in ks],
    )
    npairs = None
    for i in ks:
        for j in ks:
            if i < j:
                t = F.col(f"__n{i}") * F.col(f"__n{j}")
                npairs = t if npairs is None else npairs + t
    tot = None
    for i in ks:
        tot = F.col(f"__n{i}") if tot is None else tot + F.col(f"__n{i}")
    return sums.select(
        tot.cast("long").alias("n"),
        # j2/pairs2 published as BIGINT (r10 portable-surface rule):
        # both are <= 2·Σ n_i·n_j <= n², inside int64 for n <= ~3e9
        # rows; the decimal accumulation above stays exact.
        F.col("__j2").cast("long").alias("j2"),
        (F.lit(2).cast(dec) * npairs).cast("long").alias("pairs2"),
        (F.col("__j2") * F.lit(scale)).alias("__num"),
        (F.lit(2).cast(dec) * npairs).cast(dec).alias("__pairs2d"),
    ).selectExpr(
        "n",
        "j2",
        "pairs2",
        "CAST(__num DIV __pairs2d AS BIGINT) AS jt_scaled",
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal–Wallis H, exact-ingredient: the K-group rank ANOVA —
    "does ANY group's value distribution sit elsewhere" — completing
    the nonparametric family (:func:`mann_whitney_u` = 2 groups,
    :func:`jonckheere_trend` = ordered alternative, this = omnibus).

    Exactness scheme: tie-averaged DOUBLED ranks at distinct-value
    grain (the mann_whitney device — and like mann_whitney, the rank
    window is a global ORDER BY over distinct values: single-partition
    by construction, so callers must pre-quantize near-continuous
    columns to keep the window input value-cardinality-bounded, never
    row-count-bounded), so every per-group rank sum R2_g
    and the tie term Σ(t³−t) are exact DECIMAL(38,0); the statistic

        H = 3·Σ_g R2_g²/n_g / (N(N+1)) − 3(N+1)
        H_corrected = H / (1 − Σ(t³−t)/(N³−N))

    leaves exact arithmetic only through correctly-rounded double
    casts, with the K per-group terms folded LEFT-TO-RIGHT in
    group-sorted order (the cramers_v device) — bit-identical in any
    engine that mirrors the fold (wide decimal→double casts go through
    the VARCHAR round-trip on the oracle side).

    Returns ONE row: (n, n_groups, ties_cubed, h, h_corrected);
    h_corrected is NULL when every value is tied (zero variance).
    ties_cubed is published as STRING — Σ(t³−t) exceeds int64 once a
    tie run passes ~2.1e6 rows, so the exact integer travels as its
    digit string (the r10 portable-surface rule)."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    cells = df.select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    ).groupBy("__v", "__g").agg(F.count(F.lit(1)).alias("__c"))
    runs = cells.groupBy("__v").agg(F.sum("__c").alias("__run"))
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = runs.select(
        "__v",
        F.col("__run").cast(dec).alias("__run"),
        (
            F.lit(2).cast(dec) * F.sum("__run").over(w).cast(dec)
            - F.col("__run").cast(dec)
            + 1
        ).alias("__avg2"),
    )
    per_group = (
        cells.join(ranked, "__v")
        .groupBy("__g")
        .agg(
            F.sum(F.col("__c").cast(dec)).alias("__n"),
            F.sum(F.col("__c").cast(dec) * F.col("__avg2")).alias("__r2"),
        )
    )
    ties = runs.agg(
        F.sum(
            F.col("__run").cast(dec) * F.col("__run") * F.col("__run")
            - F.col("__run")
        ).alias("__t3")
    )
    arr = per_group.agg(
        F.sort_array(
            F.collect_list(F.struct("__g", "__n", "__r2"))
        ).alias("__gs"),
        F.sum("__n").alias("__N"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    ).crossJoin(ties)
    s = F.aggregate(
        F.transform(
            F.col("__gs"),
            lambda g: (g["__r2"] * g["__r2"]).cast("double")
            / g["__n"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nd = F.col("__N").cast("double")
    nn1 = (F.col("__N") * (F.col("__N") + 1)).cast("double")
    h = F.lit(3.0) * s / nn1 - F.lit(3.0) * (nd + F.lit(1.0))
    n3n = (
        F.col("__N") * F.col("__N") * F.col("__N") - F.col("__N")
    ).cast("double")
    corr = F.lit(1.0) - F.col("__t3").cast("double") / n3n
    return arr.select(
        F.col("__N").cast("long").alias("n"),
        "n_groups",
        # ties_cubed published as STRING (r10 portable-surface rule):
        # Σ(t³−t) genuinely exceeds int64 once a tie run passes ~2.1e6
        # rows (reachable on low-cardinality columns at scale), so the
        # exact integer travels as its decimal digit string; the
        # internal DECIMAL(38,0) term feeding h_corrected is unchanged.
        F.col("__t3").cast(dec).cast("string").alias("ties_cubed"),
        h.alias("h"),
        F.when(corr > 0, h / corr).alias("h_corrected"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum), EXACT with tie-averaged
    ranks: the nonparametric two-sample location test — "do group A's
    values stochastically dominate group B's". Returns ONE row:
    (n_a, n_b, u2_a, u2_b, auc_scaled) where u2_* = 2*U_* (kept DOUBLED
    so tie-averaged half-ranks stay INTEGER: for a tie run occupying
    ranks f..l, each member's doubled average rank is f+l =
    2*cum_before + run + 1) and auc_scaled = floor(U_a/(n_a*n_b) *
    scale) — the common-language effect size / ROC-AUC equivalence,
    floor-scaled by exact integral DIV.

    Shape: one aggregation to DISTINCT-VALUE grain, one ordered window
    for cumulative counts (tie runs collapse to one row each), one
    final sum — rank sums ride DECIMAL(38,0), no float anywhere; the
    published u2_* are BIGINT (2U ≤ 2·n_a·n_b fits int64 below ~2.1e9
    rows per arm — the r10 portable-surface rule).
    Identity 2*U_a + 2*U_b = 2*n_a*n_b is asserted by the tests."""
    from pyspark.sql import Window

    g = F.col(group_col)
    tagged = df.filter(g.isin([group_a, group_b])).select(
        F.col(value_col).alias("__v"),
        (g == F.lit(group_a)).cast("long").alias("__a"),
        (g == F.lit(group_b)).cast("long").alias("__b"),
    )
    pts = tagged.groupBy("__v").agg(
        F.sum("__a").alias("__na_v"), F.sum("__b").alias("__nb_v")
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = "decimal(38,0)"
    run = (F.col("__na_v") + F.col("__nb_v")).cast(dec)
    cumall = (F.sum("__na_v").over(w) + F.sum("__nb_v").over(w)).cast(dec)
    # doubled average rank of every member of this value's tie run
    avg2 = F.lit(2).cast(dec) * cumall - run + 1
    sums = pts.select(
        F.col("__na_v"),
        F.col("__nb_v"),
        (F.col("__na_v").cast(dec) * avg2).alias("__r2a_v"),
    ).agg(
        F.sum("__na_v").cast("long").alias("n_a"),
        F.sum("__nb_v").cast("long").alias("n_b"),
        F.sum("__r2a_v").alias("__r2a"),
    )
    dnab = "(CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0)))"
    return sums.select(
        "n_a",
        "n_b",
        # u2_* published as BIGINT (r10 portable-surface rule):
        # 2U <= 2·n_a·n_b fits int64 while both sides stay under
        # ~2.1e9 rows; the rank sums above ride exact DECIMAL.
        F.expr(
            "CAST(__r2a - CAST(n_a AS DECIMAL(38,0))"
            " * (CAST(n_a AS DECIMAL(38,0)) + 1) AS BIGINT)"
        ).alias("u2_a"),
        F.expr(
            f"CAST(2 * {dnab} - (__r2a - CAST(n_a AS DECIMAL(38,0))"
            " * (CAST(n_a AS DECIMAL(38,0)) + 1)) AS BIGINT)"
        ).alias("u2_b"),
        F.expr(
            f"CAST(((__r2a - CAST(n_a AS DECIMAL(38,0))"
            f" * (CAST(n_a AS DECIMAL(38,0)) + 1)) * {scale})"
            f" DIV (2 * {dnab}) AS BIGINT)"
        ).alias("auc_scaled"),
    )


def cuped_adjusted_stats(
    units: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    *,
    salt: int = 0,
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013) — the
    industry-standard A/B sensitivity boost: adjust each unit's metric
    by its pre-experiment covariate, ŷ = y − θ·(x − x̄), with
    θ = cov(x,y)/var(x) estimated POOLED (the covariate predates
    assignment, so pooling is unbiased). Returns ONE row: sizes, θ,
    raw and adjusted means/variances per arm, and the adjusted lift —
    the variance columns show how much standard error the covariate
    bought.

    Determinism: one aggregation collects per-arm EXACT decimal
    sufficient sums (n, Σx, Σy, Σx², Σxy, Σy² — products in
    DECIMAL(37,8)); θ and every adjusted statistic are fixed double
    expression trees over those sums — θ = (nΣxy − ΣxΣy)/(nΣx² − Σx²)
    (the (n−1) normalizations cancel in the ratio), so the oracle
    hash-checks the full finalization. Arms are
    ``assign_variant(key, 2, salt)``. One shuffle (the per-arm
    aggregation); the two arm rows merge in a one-row agg."""
    v = assign_variant(key_col, 2, salt=salt)
    dec = "decimal(18,4)"
    per = units.select(
        v.alias("variant"),
        F.col(x_col).cast(dec).alias("__x"),
        F.col(y_col).cast(dec).alias("__y"),
    )
    arm = per.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
        F.sum(F.col("__y") * F.col("__y")).alias("syy"),
    )
    side = lambda c, a: F.max(F.when(F.col("variant") == a, F.col(c)))  # noqa: E731
    one = arm.agg(
        *[
            side(c, a).alias(f"{c}{a}")
            for a in (0, 1)
            for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
        ]
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n0, n1 = d("n0"), d("n1")
    n = n0 + n1
    sx = d("sx0") + d("sx1")
    sy = d("sy0") + d("sy1")
    sxx = d("sxx0") + d("sxx1")
    sxy = d("sxy0") + d("sxy1")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    mean_x = sx / n
    out_cols = [
        F.col("n0").alias("n_a"),
        F.col("n1").alias("n_b"),
        theta.alias("theta"),
    ]
    adj_means = {}
    for a in (0, 1):
        na = d(f"n{a}")
        mx = d(f"sx{a}") / na
        my = d(f"sy{a}") / na
        var_y = (na * d(f"syy{a}") - d(f"sy{a}") * d(f"sy{a}")) / (
            na * (na - F.lit(1.0))
        )
        cov = (na * d(f"sxy{a}") - d(f"sx{a}") * d(f"sy{a}")) / (
            na * (na - F.lit(1.0))
        )
        var_x = (na * d(f"sxx{a}") - d(f"sx{a}") * d(f"sx{a}")) / (
            na * (na - F.lit(1.0))
        )
        m_adj = my - theta * (mx - mean_x)
        v_adj = var_y - F.lit(2.0) * theta * cov + theta * theta * var_x
        lab = "a" if a == 0 else "b"
        adj_means[a] = m_adj
        out_cols += [
            my.alias(f"mean_{lab}"),
            m_adj.alias(f"mean_adj_{lab}"),
            var_y.alias(f"var_{lab}"),
            v_adj.alias(f"var_adj_{lab}"),
        ]
    out_cols.append((adj_means[1] - adj_means[0]).alias("lift_adj"))
    return one.select(*out_cols)


def ks_statistic_grouped(
    df: DataFrame,
    strat_col: str,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-stratum two-sample KS: :func:`ks_statistic` evaluated
    independently inside every value of ``strat_col`` — the segmented
    drift screen ("which brands' return-price distributions actually
    shifted") that one pooled statistic averages away. Returns one row
    per stratum: (stratum, n_a, n_b, ks_scaled).

    Same exactness contract as the pooled form (DECIMAL cross-product
    ECDF gaps, floor-scaled result); the cumulative window partitions
    by stratum, so every group's point set sorts independently —
    shuffle stays at (stratum, distinct value) grain."""
    from pyspark.sql import Window

    g = F.col(group_col)
    tagged = df.filter(g.isin([group_a, group_b])).select(
        F.col(strat_col).alias("stratum"),
        F.col(value_col).alias("__v"),
        (g == F.lit(group_a)).cast("long").alias("__a"),
        (g == F.lit(group_b)).cast("long").alias("__b"),
    )
    pts = tagged.groupBy("stratum", "__v").agg(
        F.sum("__a").alias("__na_v"), F.sum("__b").alias("__nb_v")
    )
    w = (
        Window.partitionBy("stratum")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pts.select(
        "stratum",
        F.sum("__na_v").over(w).alias("__ca"),
        F.sum("__nb_v").over(w).alias("__cb"),
    )
    tot = cum.groupBy("stratum").agg(
        F.max("__ca").cast("long").alias("n_a"),
        F.max("__cb").cast("long").alias("n_b"),
    )
    dec = "decimal(38,0)"
    gap = F.abs(
        F.col("__ca").cast(dec) * F.col("n_b").cast(dec)
        - F.col("__cb").cast(dec) * F.col("n_a").cast(dec)
    )
    return (
        cum.join(F.broadcast(tot), "stratum")
        .groupBy("stratum")
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.max(gap).alias("__dnum"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "stratum",
            "n_a",
            "n_b",
            F.expr(
                f"CAST((__dnum * {scale}) DIV (CAST(n_a AS DECIMAL(38,0))"
                " * CAST(n_b AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("ks_scaled"),
        )
    )


def did_estimate(
    df: DataFrame,
    key_col: str,
    metric_col: str,
    time_col: str,
    cutoff: str,
    *,
    salt: int = 0,
) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES: the 2×2 (pre/post × control/treat)
    mean table and the DiD estimate (Δtreat − Δcontrol) — the causal
    workhorse when a launch can't be user-randomized cleanly and
    parallel pre-trends stand in for exchangeability. Arms come from
    ``assign_variant`` (so this doubles as the A/B sanity check: a
    randomized experiment's DiD should match its plain lift within
    noise). Returns ONE row: the four cell means, both deltas, and
    ``did``.

    Determinism: one pass of EIGHT conditional decimal sums (cell
    sums/counts); every mean and difference is a fixed double
    expression over those exact sums — oracle hash-checked. Shape: one
    aggregation, no joins."""
    v = assign_variant(key_col, 2, salt=salt)
    post = F.col(time_col) >= F.lit(cutoff).cast("timestamp")
    dec = F.col(metric_col).cast("decimal(18,4)")
    cells = {}
    aggs = []
    for arm in (0, 1):
        for per in (0, 1):
            cond = (v == arm) & (post if per else ~post)
            aggs += [
                F.sum(F.when(cond, dec)).alias(f"__s{arm}{per}"),
                F.sum(cond.cast("long")).alias(f"__n{arm}{per}"),
            ]
    one = df.agg(*aggs)
    m = {
        (arm, per): F.col(f"__s{arm}{per}").cast("double")
        / F.col(f"__n{arm}{per}").cast("double")
        for arm in (0, 1)
        for per in (0, 1)
    }
    d_c = m[(0, 1)] - m[(0, 0)]
    d_t = m[(1, 1)] - m[(1, 0)]
    return one.select(
        F.col("__n00").alias("n_control_pre"),
        F.col("__n01").alias("n_control_post"),
        F.col("__n10").alias("n_treat_pre"),
        F.col("__n11").alias("n_treat_post"),
        m[(0, 0)].alias("mean_control_pre"),
        m[(0, 1)].alias("mean_control_post"),
        m[(1, 0)].alias("mean_treat_pre"),
        m[(1, 1)].alias("mean_treat_post"),
        d_c.alias("delta_control"),
        d_t.alias("delta_treat"),
        (d_t - d_c).alias("did"),
    )


def standardized_comparison(
    df: DataFrame,
    strat_col: str,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    scale: int = 4,
) -> DataFrame:
    """DIRECT STANDARDIZATION (stratified comparison): compare two
    groups' mean outcome after reweighting every stratum to the POOLED
    stratum distribution — the observational-data counterpart of
    randomization that removes confounding by the stratifier (Simpson's
    -paradox insurance: raw means can order one way while every
    stratum orders the other). Returns ONE row: (n_a, n_b, mean_a_raw,
    mean_b_raw, mean_a_std, mean_b_std, lift_raw, lift_std).

    Exactness: per-(stratum, group) decimal sums in one aggregation;
    standardized means are Σ_s w_s·mean_{s,g} with w_s = pooled
    stratum share, evaluated as ONE fixed double expression via a
    stratum-ORDERED array fold (sorted by stratum key, the
    deterministic-fold discipline) — oracle hash-checkable. Strata
    missing a group contribute that group's pooled... they are
    EXCLUDED from both sides (the standard common-support
    restriction), so both standardized means weight the same strata."""
    g = F.col(group_col)
    dec = F.col(value_col).cast(f"decimal(18,{scale})")
    cells = (
        df.filter(g.isin([group_a, group_b]))
        .groupBy(F.col(strat_col).alias("__s"))
        .agg(
            F.sum(F.when(g == group_a, dec)).alias("__sa"),
            F.sum(F.when(g == group_a, F.lit(1)).otherwise(0)).cast(
                "long"
            ).alias("__na"),
            F.sum(F.when(g == group_b, dec)).alias("__sb"),
            F.sum(F.when(g == group_b, F.lit(1)).otherwise(0)).cast(
                "long"
            ).alias("__nb"),
        )
        .filter((F.col("__na") > 0) & (F.col("__nb") > 0))
    )
    one = cells.agg(
        F.array_sort(
            F.collect_list(
                F.struct("__s", "__sa", "__na", "__sb", "__nb")
            )
        ).alias("__c")
    )
    arr = F.col("__c")
    tot = F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["__na"] + x["__nb"],
    ).cast("double")
    def std_mean(sfld, nfld):
        return F.aggregate(
            arr,
            F.lit(0.0),
            lambda acc, x: acc
            + (
                (x["__na"] + x["__nb"]).cast("double")
                * (x[sfld].cast("double") / x[nfld].cast("double"))
            ),
        ) / tot
    na = F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x["__na"]
    )
    nb = F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x["__nb"]
    )
    sa = F.aggregate(
        arr,
        F.lit(0).cast("decimal(28,4)"),
        lambda acc, x: (acc + x["__sa"]).cast("decimal(28,4)"),
    )
    sb = F.aggregate(
        arr,
        F.lit(0).cast("decimal(28,4)"),
        lambda acc, x: (acc + x["__sb"]).cast("decimal(28,4)"),
    )
    mean_a_raw = sa.cast("double") / na.cast("double")
    mean_b_raw = sb.cast("double") / nb.cast("double")
    ma = std_mean("__sa", "__na")
    mb = std_mean("__sb", "__nb")
    return one.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        mean_a_raw.alias("mean_a_raw"),
        mean_b_raw.alias("mean_b_raw"),
        ma.alias("mean_a_std"),
        mb.alias("mean_b_std"),
        (mean_a_raw - mean_b_raw).alias("lift_raw"),
        (ma - mb).alias("lift_std"),
    )


def _anova_from_cells(cells: DataFrame) -> DataFrame:
    """Shared ANOVA finisher over pre-aggregated (group, value, count)
    cells (columns ``__g``, ``__v``, ``__c``; ``__v`` integer-valued).

    Exactness scheme (the :func:`kruskal_wallis` device): the
    sufficient sums n_g, S_g = Σv, S2_g = Σv² ride exact
    DECIMAL(38,0); the between/within sums of squares

        SSB = Σ_g S_g²/n_g − S²/N        SSW = ΣΣv² − Σ_g S_g²/n_g

    leave exact arithmetic only through correctly-rounded double
    casts, with the K per-group S_g²/n_g terms folded LEFT-TO-RIGHT
    in group-sorted order — bit-identical in any engine that mirrors
    the fold (wide decimal→double casts go through the VARCHAR
    round-trip on the oracle side)."""
    dec = "decimal(38,0)"
    per_group = cells.groupBy("__g").agg(
        F.sum(F.col("__c").cast(dec)).alias("__n"),
        F.sum(F.col("__c").cast(dec) * F.col("__v").cast(dec)).alias("__s"),
        F.sum(
            F.col("__c").cast(dec)
            * F.col("__v").cast(dec)
            * F.col("__v").cast(dec)
        ).alias("__s2"),
    )
    arr = per_group.agg(
        F.sort_array(
            F.collect_list(F.struct("__g", "__n", "__s", "__s2"))
        ).alias("__gs"),
        F.sum("__n").alias("__N"),
        F.sum("__s").alias("__S"),
        F.sum("__s2").alias("__S2"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    # Σ_g S_g²/n_g — one exact single-division double per group,
    # summed in group-sorted order (identical fold on the oracle side)
    b = F.aggregate(
        F.transform(
            F.col("__gs"),
            lambda g: (g["__s"] * g["__s"]).cast("double")
            / g["__n"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ssb = b - (F.col("__S") * F.col("__S")).cast("double") / F.col(
        "__N"
    ).cast("double")
    ssw = F.col("__S2").cast("double") - b
    kd = F.col("n_groups").cast("double")
    nd = F.col("__N").cast("double")
    f_stat = F.when(
        (F.col("n_groups") > 1) & (F.col("__N") > F.col("n_groups")) & (ssw > 0),
        (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd)),
    )
    eta2 = F.when(ssb + ssw > 0, ssb / (ssb + ssw))
    return arr.select(
        F.col("__N").cast("long").alias("n"),
        "n_groups",
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        f_stat.alias("f_stat"),
        eta2.alias("eta2"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F, exact-ingredient: the parametric omnibus
    location test — "does ANY group's MEAN sit elsewhere" — the
    classical twin of :func:`kruskal_wallis` (which asks the same of
    rank distributions). Reporting both on the same grouping is the
    standard robustness cross-check: F fires on mean shifts, H on any
    stochastic-order shift; F >> H hints at outlier-driven means.

    Returns ONE row: (n, n_groups, ssb, ssw, f_stat, eta2);
    f_stat/eta2 are NULL on degenerate inputs (one group, zero
    within-variance) — the loud-NULL convention of :func:`cramers_v`.

    Contract: ``value_col`` must be integer-valued (pre-quantize
    near-continuous columns — the spearman-quantized discipline) so
    the sufficient sums are exact; Σv² must stay under DECIMAL(38,0)
    (~1e38 — safe through ~1e26 rows at the 1000-unit price grain).
    Shape: ONE map-side-combined aggregation to (group,value) cells,
    one K-row fold — a single scan at any scale, no window, no sort
    beyond the K-element array."""
    cells = (
        df.select(
            F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
        )
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return _anova_from_cells(cells)


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test: one-way ANOVA on
    |v − median_g| — "do the groups SPREAD differently", the
    median-centered Levene variant that is robust to non-normality
    (Brown & Forsythe 1974). The gatekeeper run before trusting a
    pooled-variance readout (:func:`welch_ttest` exists because this
    test often fails).

    Exactness: per-group LOWER medians (element at ⌈n_g/2⌉ of the
    sorted group — an integer, no midpoint averaging) computed at
    (group, value) grain with a group-partitioned cumulative window;
    |v − med| stays integer, so the downstream ANOVA inherits
    :func:`anova_oneway`'s exact sufficient sums. Same portable
    surface: (n, n_groups, ssb, ssw, f_stat, eta2).

    Contract: integer-valued ``value_col`` (pre-quantize). Shape: one
    (group,value)-grain aggregation, one window PARTITIONED BY group
    (input bounded by per-group value cardinality, never row count),
    a K-row broadcast join of medians, then the single-scan ANOVA."""
    from pyspark.sql import Window

    from ..functions.cache import persist_tracked

    # persist the (group,value) grain: the median pass and the
    # recentering join both consume it — without this the input
    # scans twice (ADVICE-r2 persist discipline)
    cells = persist_tracked(
        df.select(
            F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
        )
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("__g").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "__g",
        "__v",
        "__c",
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(
            Window.partitionBy("__g").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__ng"),
    )
    # lower median = value at 1-indexed position ⌈n_g/2⌉ = (n_g+1) DIV 2
    med = (
        cum.filter(F.col("__cum") >= F.expr("(__ng + 1) DIV 2"))
        .groupBy("__g")
        .agg(F.min("__v").alias("__med"))
    )
    z = (
        cells.join(F.broadcast(med), "__g")
        .select(
            "__g",
            F.abs(F.col("__v") - F.col("__med")).alias("__v"),
            "__c",
        )
        .groupBy("__g", "__v")
        .agg(F.sum("__c").alias("__c"))
    )
    return _anova_from_cells(z)


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test, exact-ingredient: the within-block rank test for
    K treatments observed once per block — "does any treatment
    consistently rank higher across blocks", the repeated-measures
    member of the nonparametric family (:func:`kruskal_wallis` pools
    all rows into one ranking; this ranks WITHIN each block, removing
    block-level shifts entirely).

    Exactness scheme: tie-averaged DOUBLED ranks per block (the
    :func:`mann_whitney_u` device at (block,value) grain), so the
    per-treatment rank sums R2_j = Σ_b 2·r_bj and both quadratic
    forms are exact integers. With doubled ranks the tie-corrected
    statistic (Conover) becomes

        Q = (k−1) · Σ_j (R2_j − n(k+1))² / (Σ_bj r2_bj² − n·k·(k+1)²)

    published as (n_blocks, k, q_num, q_den, q): q_num/q_den are the
    exact BIGINT numerator (including the k−1 factor) and denominator
    (bounds: |R2_j − n(k+1)| ≤ n·k → q_num ≤ k·(nk)²·(k−1), int64-safe
    below ~3e8 blocks at k=5); q is their single-division double.
    Q is NULL when every block is fully tied (zero denominator).

    Contract: COMPLETE design — exactly one row per (block,
    treatment); raises ValueError otherwise (loud failure, the
    mahalanobis convention). Shape: one (block,value)-grain
    aggregation, one window PARTITIONED BY block (input bounded by k,
    never row count), one k-row finish."""
    from pyspark.sql import Window

    from ..functions.cache import persist_tracked

    rows = persist_tracked(
        df.select(
            F.col(block_col).alias("__b"),
            F.col(treatment_col).alias("__t"),
            F.col(value_col).alias("__v"),
        )
    )
    # identity, not just count: every block must carry the SAME k
    # treatments — per-block k distinct + GLOBAL distinct == k forces
    # set equality (blocks {T1,T2} and {T2,T3} share counts but fail
    # the global check). ONE validation action (r11, ADVICE: two
    # separate collects scanned an unpersisted input twice): both
    # 1-row aggregates ride the persisted projection and crossJoin
    # into a single job; the persist also feeds the ranking job below.
    shape_agg = rows.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__nrows"),
        F.countDistinct("__t").alias("__nt"),
    ).agg(
        F.countDistinct("__nt").alias("__kvals"),
        F.max("__nt").alias("__k"),
        F.sum((F.col("__nrows") != F.col("__nt")).cast("long")).alias(
            "__dups"
        ),
    )
    gl_agg = rows.agg(F.countDistinct("__t").alias("__g"))
    shape = shape_agg.crossJoin(gl_agg).collect()[0]
    n_treat = shape["__g"]
    if (
        shape["__kvals"] != 1
        or shape["__dups"] != 0
        or int(n_treat) != int(shape["__k"])
    ):
        raise ValueError(
            "friedman_test requires a complete design: exactly one row"
            " per (block, treatment) and every block covering the same"
            f" {shape['__k']} treatments"
        )
    k = int(shape["__k"])
    runs = rows.groupBy("__b", "__v").agg(F.count(F.lit(1)).alias("__run"))
    w = Window.partitionBy("__b").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = runs.select(
        "__b",
        "__v",
        (
            F.lit(2) * F.sum("__run").over(w) - F.col("__run") + 1
        ).alias("__avg2"),
    )
    r2 = rows.join(ranked, ["__b", "__v"]).select("__b", "__t", "__avg2")
    per_t = r2.groupBy("__t").agg(
        F.sum("__avg2").cast("long").alias("__r2j"),
        F.count(F.lit(1)).cast("long").alias("__nb"),
    )
    kl = F.lit(k).cast("long")
    agg = per_t.agg(
        F.max("__nb").cast("long").alias("n_blocks"),
        F.sum(
            (F.col("__r2j") - F.col("__nb") * (kl + 1))
            * (F.col("__r2j") - F.col("__nb") * (kl + 1))
        ).cast("long").alias("__a"),
    )
    den = r2.agg(
        F.sum(
            F.col("__avg2").cast("long") * F.col("__avg2")
        ).cast("long").alias("__sq")
    )
    return (
        agg.crossJoin(den)
        .select(
            "n_blocks",
            kl.alias("k"),
            ((kl - 1) * F.col("__a")).alias("q_num"),
            (
                F.col("__sq")
                - F.col("n_blocks") * kl * (kl + 1) * (kl + 1)
            ).alias("q_den"),
        )
        .select(
            "n_blocks",
            "k",
            "q_num",
            "q_den",
            F.when(
                F.col("q_den") > 0,
                F.col("q_num").cast("double")
                / F.col("q_den").cast("double"),
            ).alias("q"),
        )
    )


def qini_curve(
    units: DataFrame,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Qini (uplift) curve at a fixed bin grid: rank units by a
    targeting score, then at each prefix ask "how many EXTRA
    conversions did treatment buy among the targeted top-share vs
    scaling the control rate to the treated count" —
    Qini(p) = Y_t(p) − Y_c(p)·N_t(p)/N_c(p) (Radcliffe 2007). The
    uplift-model evaluation: a score that targets persuadables bows
    the curve above the random-targeting diagonal.

    Determinism/exactness: prefixes cut at SCORE-VALUE boundaries
    (whole tie-runs stay together — no arbitrary within-tie order),
    each bin reporting the largest value-grain prefix with
    cum ≤ ⌊b·N/n_bins⌋; counts are exact integers; qini and the
    random-diagonal baseline leave integers through single-division
    doubles. Returns AT MOST n_bins rows — (bin, n_prefix, nt, nc,
    yt, yc, qini, qini_random) — a bin whose boundary falls inside
    the first tie-run has NO qualifying value-grain prefix and is
    absent (consumers joining on a 1..n_bins grid must outer-join);
    qini is NULL while the prefix holds no control units.

    Contract: integer-valued ``score_col`` (pre-quantize — the
    ordering window runs at distinct-score grain and must be
    value-cardinality-bounded); ``treat_col``/``outcome_col`` 0/1.
    Shape: one aggregation to score grain, one ordered cumulative
    window over distinct scores, an n_bins-literal broadcast join —
    a single scan at any scale."""
    from pyspark.sql import Window

    pts = (
        units.select(
            F.col(score_col).alias("__s"),
            F.col(treat_col).cast("long").alias("__t"),
            F.col(outcome_col).cast("long").alias("__y"),
        )
        .groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__t").alias("__nt"),
            F.sum(F.col("__t") * F.col("__y")).alias("__yt"),
            F.sum((1 - F.col("__t")) * F.col("__y")).alias("__yc"),
        )
    )
    w = Window.orderBy(F.col("__s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = pts.select(
        F.sum("__n").over(w).alias("__cum"),
        F.sum("__nt").over(w).alias("__cnt"),
        F.sum("__yt").over(w).alias("__cyt"),
        F.sum("__yc").over(w).alias("__cyc"),
    )
    tot = pts.agg(
        F.sum("__n").alias("__N"),
        F.sum("__nt").alias("__NT"),
        F.sum("__yt").alias("__YT"),
        F.sum("__yc").alias("__YC"),
    )
    bins = F.explode(
        F.sequence(F.lit(1), F.lit(n_bins))
    ).alias("bin")
    grid = tot.select(bins, "__N", "__NT", "__YT", "__YC")
    stepped = (
        cum.crossJoin(F.broadcast(grid))
        .filter(
            F.col("__cum")
            <= (F.col("bin") * F.col("__N")) / F.lit(n_bins)
        )
        .groupBy("bin", "__N", "__NT", "__YT", "__YC")
        .agg(F.max("__cum").alias("n_prefix"))
    )
    at_cut = stepped.join(
        cum.withColumnRenamed("__cum", "n_prefix"), "n_prefix"
    )
    # overall uplift scaled by prefix share: the random diagonal
    overall = F.when(
        (F.col("__N") - F.col("__NT")) > 0,
        F.col("__YT").cast("double")
        - (
            F.col("__YC").cast("decimal(38,0)")
            * F.col("__NT").cast("decimal(38,0)")
        ).cast("double")
        / (F.col("__N") - F.col("__NT")).cast("double"),
    )
    out = at_cut.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_prefix").cast("long").alias("n_prefix"),
        F.col("__cnt").cast("long").alias("nt"),
        (F.col("n_prefix") - F.col("__cnt")).cast("long").alias("nc"),
        F.col("__cyt").cast("long").alias("yt"),
        F.col("__cyc").cast("long").alias("yc"),
        F.when(
            (F.col("n_prefix") - F.col("__cnt")) > 0,
            F.col("__cyt").cast("double")
            - (
                F.col("__cyc").cast("decimal(38,0)")
                * F.col("__cnt").cast("decimal(38,0)")
            ).cast("double")
            / (F.col("n_prefix") - F.col("__cnt")).cast("double"),
        ).alias("qini"),
        (
            overall
            * (
                F.col("n_prefix").cast("double")
                / F.col("__N").cast("double")
            )
        ).alias("qini_random"),
    )
    return out.orderBy("bin")


def cochran_armitage(
    df: DataFrame,
    group_col: str,
    outcome_col: str,
    ordered_groups: list,
) -> DataFrame:
    """Cochran–Armitage trend test, exact-ingredient: does a BINARY
    outcome's rate trend monotonically across K ORDERED groups — the
    binary-outcome member of the ordered family
    (:func:`jonckheere_trend` handles ordinal/continuous outcomes).
    Group scores are the ranks 0..K−1 of ``ordered_groups``.

    Exactness scheme: per-group (n_i, r_i) are exact integers from ONE
    map-side-combined aggregation; with T̃ = N·Σw_i r_i − R·Σw_i n_i
    and V' = N·Σw_i²n_i − (Σw_i n_i)² (both exact BIGINT — T̃ is
    int64-safe below ~K·N² ≈ 2¹⁶ rows short of 2⁶³ at K=5, i.e. ~4e8
    rows; wider inputs should pre-aggregate), the statistic

        z² = T̃² · N / ( R·(N−R)·V' )

    is built as FIXED-ORDER double products of exactly-cast integers
    (never a wide integer product), so it is bit-identical in any
    engine that mirrors the expression. Returns ONE row: (n,
    positives, t_num, var_core, z2); z2 NULL when the outcome or the
    scores are constant (R∈{0,N} or V'=0). Raises on rows whose group
    is not in ``ordered_groups`` (silent drop would bias the trend)."""
    if len(ordered_groups) < 2:
        raise ValueError(
            "cochran_armitage needs at least 2 ordered groups"
        )
    order_map = {g: i for i, g in enumerate(ordered_groups)}
    g = F.col(group_col)
    w = None
    for name, i in order_map.items():
        w = (
            F.when(g == F.lit(name), F.lit(i))
            if w is None
            else w.when(g == F.lit(name), F.lit(i))
        )
    w = w.otherwise(F.lit(-1))
    tagged = df.select(
        w.cast("long").alias("__w"),
        F.col(outcome_col).cast("long").alias("__y"),
    )
    from ..functions.cache import persist_tracked

    # persist the K-row group grain: the unknown-group check and the
    # final fold both consume it — without this the fact table scans
    # twice (ADVICE-r2 persist discipline)
    per = persist_tracked(
        tagged.groupBy("__w").agg(
            F.count(F.lit(1)).alias("__n"), F.sum("__y").alias("__r")
        )
    )
    bad = per.filter(F.col("__w") < 0).count()
    if bad:
        raise ValueError(
            "cochran_armitage: input contains groups outside"
            " ordered_groups — drop or map them explicitly"
        )
    agg = per.agg(
        F.sum("__n").cast("long").alias("n"),
        F.sum("__r").cast("long").alias("positives"),
        F.sum(F.col("__w") * F.col("__r")).cast("long").alias("__wr"),
        F.sum(F.col("__w") * F.col("__n")).cast("long").alias("__wn"),
        F.sum(F.col("__w") * F.col("__w") * F.col("__n"))
        .cast("long")
        .alias("__wwn"),
    )
    t_num = F.col("n") * F.col("__wr") - F.col("positives") * F.col(
        "__wn"
    )
    var_core = F.col("n") * F.col("__wwn") - F.col("__wn") * F.col(
        "__wn"
    )
    out = agg.select(
        "n",
        "positives",
        t_num.alias("t_num"),
        var_core.alias("var_core"),
    )
    z2 = (
        F.col("t_num").cast("double")
        * F.col("t_num").cast("double")
        * F.col("n").cast("double")
    ) / (
        F.col("positives").cast("double")
        * (F.col("n") - F.col("positives")).cast("double")
        * F.col("var_core").cast("double")
    )
    return out.select(
        "n",
        "positives",
        "t_num",
        "var_core",
        F.when(
            (F.col("positives") > 0)
            & (F.col("positives") < F.col("n"))
            & (F.col("var_core") > 0),
            z2,
        ).alias("z2"),
    )


def mantel_haenszel_or(
    df: DataFrame,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio, exact-ingredient: the
    stratified 2×2 estimator — "what is the exposure→outcome odds
    ratio AFTER removing stratum-level confounding" — the classical
    answer to the Simpson's-paradox trap that
    :func:`standardized_comparison` addresses for means, here for
    odds. OR_MH = Σ_s(a_s·d_s/n_s) / Σ_s(b_s·c_s/n_s).

    Exactness: per-stratum 2×2 cells are exact integers from ONE
    aggregation; each stratum's a·d/n and b·c/n terms are SINGLE
    divisions of exactly-cast doubles, folded LEFT-TO-RIGHT in
    stratum-sorted order (the kruskal device) — bit-identical in any
    engine mirroring the fold. Returns ONE row: (n_strata, n,
    sum_ad_over_n, sum_bc_over_n, or_mh); or_mh NULL when the
    denominator fold is 0 (no discordant pairs anywhere)."""
    cells = df.select(
        F.col(stratum_col).alias("__s"),
        F.col(exposure_col).cast("long").alias("__x"),
        F.col(outcome_col).cast("long").alias("__y"),
    ).groupBy("__s").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__x") * F.col("__y")).alias("__a"),
        F.sum(F.col("__x") * (1 - F.col("__y"))).alias("__b"),
        F.sum((1 - F.col("__x")) * F.col("__y")).alias("__c"),
        F.sum((1 - F.col("__x")) * (1 - F.col("__y"))).alias("__d"),
    )
    dec = "decimal(38,0)"
    terms = cells.select(
        "__s",
        "__n",
        (
            (F.col("__a").cast(dec) * F.col("__d").cast(dec)).cast(
                "double"
            )
            / F.col("__n").cast("double")
        ).alias("__adn"),
        (
            (F.col("__b").cast(dec) * F.col("__c").cast(dec)).cast(
                "double"
            )
            / F.col("__n").cast("double")
        ).alias("__bcn"),
    )
    folded = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("__n").cast("long").alias("n"),
        F.sort_array(
            F.collect_list(F.struct("__s", "__adn", "__bcn"))
        ).alias("__ts"),
    )
    num = F.aggregate(
        F.transform(F.col("__ts"), lambda s: s["__adn"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(F.col("__ts"), lambda s: s["__bcn"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return folded.select(
        "n_strata",
        "n",
        num.alias("sum_ad_over_n"),
        den.alias("sum_bc_over_n"),
        F.when(den > 0, num / den).alias("or_mh"),
    )


def rerandomization_test(
    df: DataFrame,
    key_col: str,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    *,
    n_perm: int = 50,
) -> DataFrame:
    """Monte-Carlo re-randomization (permutation-style) test: how
    often does a RANDOM re-assignment of units to the two arms
    produce a mean gap at least as large as the observed one —
    the assumption-free companion to :func:`welch_ttest` (no
    normality, no variance model; Fisher 1935 by simulation). The
    re-draws keep the observed arm SHARE (each unit joins arm A with
    p = n_a/N), the standard Monte-Carlo relaxation of fixed-margin
    permutation.

    Determinism: draw b for unit k is :func:`~.sampling.knuth_uniform`
    (mix64(k)·n_perm + b) — key-pure, engine-replayable, no RNG
    state (the bootstrap-CI device), so the whole test value-hashes.
    mix64 folds the FULL int64 key to 32 bits as
    ``pmod(pmod(k,2³²) + knuth_u32(k >> 32), 2³²)`` (r11, ADVICE:
    a plain pmod(k,2³²) gave units congruent mod 2³² identical arm
    draws in every replicate on >32-bit id domains); for keys in
    [0, 2³²) the high half hashes to 0 and the fold is the identity,
    so small-domain results are unchanged.
    Metric sums ride exact DECIMAL(18,4) per replicate; each arm mean
    is ONE division; the p-value is the exact integer ratio
    (1 + #{|diff_b| ≥ |observed|}) / (1 + n_valid) (the add-one
    smoothing that keeps p > 0, Phipson & Smyth 2010). Replicates
    that draw an empty arm are dropped (counted out of n_valid).

    Shape: one bounded 1-row collect for the arm share, then ONE scan
    exploded ×n_perm with map-side-combined per-replicate decimal
    sums — an O(n_perm)-row shuffle regardless of input size.

    Returns ONE row: (n, n_a, n_b, observed_diff, n_valid, n_ge,
    p_value)."""
    g = F.col(group_col)
    base = df.filter(g.isin([group_a, group_b])).select(
        F.col(key_col).cast("long").alias("__k"),
        (g == F.lit(group_a)).cast("long").alias("__a"),
        F.col(value_col).cast("decimal(18,4)").alias("__m"),
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__a").alias("n_a"),
        F.sum(F.when(F.col("__a") == 1, F.col("__m"))).alias("__sa"),
        F.sum(F.when(F.col("__a") == 0, F.col("__m"))).alias("__sb"),
    ).collect()[0]
    n, n_a = int(tot["n"]), int(tot["n_a"])
    n_b = n - n_a
    if n_a == 0 or n_b == 0:
        raise ValueError(
            "rerandomization_test: both groups must be non-empty"
        )
    # float(Decimal) and int→double are correctly rounded: identical
    # to the oracle's VARCHAR-round-trip / CAST division
    obs = float(tot["__sa"]) / float(n_a) - float(tot["__sb"]) / float(
        n_b
    )
    frac = n_a / n
    lo = ((F.col("__k") % F.lit(_M32)) + F.lit(_M32)) % F.lit(_M32)
    kr = (lo + _knuth_u32(F.shiftright(F.col("__k"), 32))) % F.lit(_M32)
    rep = base.select(
        "__m",
        F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1))).alias(
            "__r"
        ),
        kr.alias("__kr"),
    ).select(
        "__r",
        "__m",
        (
            knuth_uniform(F.col("__kr") * n_perm + F.col("__r"))
            < F.lit(frac)
        ).cast("long").alias("__pa"),
    )
    per_r = rep.groupBy("__r").agg(
        F.sum("__pa").alias("__na"),
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__pa") == 1, F.col("__m"))).alias("__sa"),
        F.sum(F.when(F.col("__pa") == 0, F.col("__m"))).alias("__sb"),
    )
    diff = F.col("__sa").cast("double") / F.col("__na").cast(
        "double"
    ) - F.col("__sb").cast("double") / (
        F.col("__n") - F.col("__na")
    ).cast("double")
    valid = (F.col("__na") > 0) & (F.col("__na") < F.col("__n"))
    out = per_r.agg(
        F.sum(valid.cast("long")).cast("long").alias("n_valid"),
        F.sum(
            (valid & (F.abs(diff) >= F.lit(abs(obs)))).cast("long")
        )
        .cast("long")
        .alias("n_ge"),
    )
    return out.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.lit(obs).alias("observed_diff"),
        "n_valid",
        "n_ge",
        (
            (F.lit(1) + F.col("n_ge")).cast("double")
            / (F.lit(1) + F.col("n_valid")).cast("double")
        ).alias("p_value"),
    )
