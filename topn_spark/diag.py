"""Data-distribution diagnostics: the pre-flight checks run before
shuffling 100 TB on a key.

``plans.audit_scale`` lints plan *shape*; these profile the *data* —
the other half of scale readiness. Both are one aggregate each, cheap
relative to the join/window they de-risk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from topn_spark.plans import ensure_parallelism


def key_skew_profile(df: DataFrame, cols: list[str], k: int = 20) -> DataFrame:
    """Top-``k`` heaviest key values of ``cols`` with their share of
    all rows: the check to run before using ``cols`` as a join or
    window key. A single key holding >1/partitions of the rows will
    serialize that partition; route such keys to
    ``topn_grouped_salted`` (windows) or rely on AQE skew-join
    splitting (joins), or salt manually.

    One partial+final hash aggregate plus a bounded-heap top-k —
    no sort, no collect.
    """
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *cols,
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("frac"),
        )
        .orderBy(F.col("n").desc(), *[F.col(c).asc_nulls_last() for c in cols])
        .limit(k)
    )


def partition_profile(df: DataFrame) -> DataFrame:
    """Rows per physical partition (``spark_partition_id``): shows
    unbalanced inputs before they become straggler tasks. Returns
    ``(partition, n)`` — compare max/median to judge balance; empty
    partitions after a selective filter suggest coalescing."""
    return (
        df.select(F.spark_partition_id().alias("partition"))
        .groupBy("partition")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("partition")
    )


def profile_table(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """ANALYZE-style column profile: one row per column with
    ``(col_name, n, n_null, ndv, min_v, max_v)`` — min/max rendered as
    strings so heterogeneous column types share one result schema.

    ONE aggregation pass computes every column's statistics
    simultaneously (a single wide HashAggregate row, then a map-only
    ``stack`` unpivot) — never one job per column. ``approx=True``
    swaps exact ``COUNT(DISTINCT)`` for HLL++
    (`approx_count_distinct`): at 100 TB the exact form expands the
    aggregate per distinct column (Expand × columns shuffle), while
    the sketch keeps the pass single-shuffle and bounded-memory —
    profiling wants the sketch; the exact form exists to be
    oracle-comparable.
    """
    cols = cols or df.columns
    # The wide aggregate's heavy half is the map-side pass (with
    # exact NDVs the Expand multiplies every row by len(cols)+1
    # before the partial aggregate); a small table often arrives as
    # ONE parquet split, serializing that whole pass on one core
    # (§2.5 input skew). Spread first — a no-op at scale.
    df = ensure_parallelism(df)
    ndv = F.approx_count_distinct if approx else F.countDistinct
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__null_{c}"),
            ndv(c).alias(f"__ndv_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __n_{c}, __null_{c}, CAST(__ndv_{c} AS BIGINT), __min_{c}, __max_{c}"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS "
            "(col_name, n, n_null, ndv, min_v, max_v)"
        )
    )


def groupwise_linreg(
    df: DataFrame,
    y: str,
    x: str,
    keys: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y`` on ``x`` →
    ``(keys..., n_pairs, slope, intercept, r2)``.

    Uses the SQL-standard ``regr_*`` aggregate family, so the whole
    fit is ONE partial+final hash aggregate — each task folds its rows
    into the (count, Σx, Σy, Σxx, Σxy, Σyy) moment sketch and only the
    constant-size moments cross the shuffle. At 100 TB this costs the
    same single pass as a ``COUNT(*)``; no per-group iteration, no
    driver math. Rows where either side is NULL are excluded pairwise
    (``regr_*`` semantics). Results are rounded (default 6 dp) because
    float moment accumulation is order-dependent across engines
    (SURVEY.md §2.4 rule 3).
    """
    keys = keys or []
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    return grouped.agg(
        F.regr_count(F.col(y), F.col(x)).alias("n_pairs"),
        F.round(F.regr_slope(F.col(y), F.col(x)), round_to).alias("slope"),
        F.round(F.regr_intercept(F.col(y), F.col(x)), round_to).alias(
            "intercept"
        ),
        F.round(F.regr_r2(F.col(y), F.col(x)), round_to).alias("r2"),
    )


def categorical_entropy(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Shannon entropy (nats) of ``value_col``'s empirical
    distribution within each ``keys`` group →
    ``(keys..., n, n_values, entropy, norm_entropy)``.

    ``norm_entropy`` divides by ``ln(n_values)`` (1.0 = uniform,
    NULL for single-valued groups). The measure behind corpus-balance
    checks: low label entropy inside a slice flags a skewed or
    near-constant feed.

    Two stacked hash aggregates — counts per (keys, value), then the
    entropy fold per keys — both partial+final on the same key prefix,
    so the second shuffles only O(distinct values) rows. NULL values
    count as a category (rendered by ``value_col``'s own grouping).
    """
    keys = keys or []
    counts = df.groupBy(*keys, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    grouped = counts.groupBy(*keys) if keys else counts.groupBy()
    tot = F.sum("__c")
    # entropy = ln(N) - Σ c·ln(c) / N  (single-pass, avoids a second
    # join for the group total)
    ent = F.log(tot) - F.sum(F.col("__c") * F.log("__c")) / tot
    nvals = F.count(F.lit(1))
    return grouped.agg(
        tot.alias("n"),
        nvals.alias("n_values"),
        F.round(ent, round_to).alias("entropy"),
        F.round(
            F.when(nvals > 1, ent / F.log(nvals.cast("double"))),
            round_to,
        ).alias("norm_entropy"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_to: int = 6,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns →
    one row ``(n, mi, nmi)``; ``nmi`` normalizes by
    ``sqrt(H(a)·H(b))`` (NULL when either marginal entropy is 0).

    MI(A;B) = Σ_ab p(a,b)·ln( p(a,b) / (p(a)p(b)) ). The dependence
    probe for feature/label leakage: near-zero = independent, near-1
    NMI = one column determines the other.

    Shape: one hash aggregate to the O(|A|·|B|) joint-count table,
    then the total and both marginals re-aggregate that tiny table
    and broadcast-join back onto it — the raw data is scanned once,
    and everything after the first aggregate operates on contingency
    cells, not rows (no single-partition window funnel).
    """
    joint = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("__c"))
    total = joint.agg(F.sum("__c").cast("double").alias("n"))
    marg_a = joint.groupBy(col_a).agg(F.sum("__c").cast("double").alias("ca"))
    marg_b = joint.groupBy(col_b).agg(F.sum("__c").cast("double").alias("cb"))
    # null-safe equality so a NULL category keeps its own cell
    ma = marg_a.withColumnRenamed(col_a, "__a")
    mb = marg_b.withColumnRenamed(col_b, "__b")
    cells = (
        joint.join(F.broadcast(ma), F.col(col_a).eqNullSafe(F.col("__a")))
        .join(F.broadcast(mb), F.col(col_b).eqNullSafe(F.col("__b")))
        .crossJoin(F.broadcast(total))
        .select(F.col("__c").cast("double").alias("c"), "n", "ca", "cb")
    )
    mi = F.sum(
        (F.col("c") / F.col("n"))
        * F.log(F.col("c") * F.col("n") / (F.col("ca") * F.col("cb")))
    )
    # marginal entropies from the same cells: H(A) = -Σ (c/n)·ln(ca/n)
    # (each a-marginal term appears once per joint cell, weighted c/ca·…
    # which telescopes to the marginal sum)
    h_a = -F.sum((F.col("c") / F.col("n")) * F.log(F.col("ca") / F.col("n")))
    h_b = -F.sum((F.col("c") / F.col("n")) * F.log(F.col("cb") / F.col("n")))
    return cells.agg(
        F.first("n").cast("bigint").alias("n"),
        F.round(mi, round_to).alias("mi"),
        F.round(
            F.when(
                (h_a > 0) & (h_b > 0), mi / F.sqrt(h_a * h_b)
            ),
            round_to,
        ).alias("nmi"),
    )


def ab_compare(
    df: DataFrame,
    treatment: Column,
    success: Column,
    round_to: int = 6,
) -> DataFrame:
    """Two-proportion comparison between a treatment and control
    split → one row ``(n_t, n_c, conv_t, conv_c, rate_t, rate_c,
    abs_lift, z)``.

    ``treatment`` and ``success`` are boolean expressions (NULL
    counts as false). ``z`` is the pooled two-proportion z-statistic
    ``(p_t - p_c) / sqrt(p̂(1-p̂)(1/n_t + 1/n_c))`` — |z| > 1.96 ≈
    95% confidence; NULL when either arm is empty or the pooled rate
    is degenerate (0 or 1), where the statistic is undefined.

    ONE conditional-aggregation pass (four counts in the same wide
    row) — the experiment readout costs a single scan at any scale,
    and the arithmetic happens on the four counts, not the rows.
    """
    t = F.coalesce(treatment, F.lit(False))
    s = F.coalesce(success, F.lit(False))
    agg = df.agg(
        F.sum(t.cast("bigint")).alias("n_t"),
        F.sum((~t).cast("bigint")).alias("n_c"),
        F.sum((t & s).cast("bigint")).alias("conv_t"),
        F.sum((~t & s).cast("bigint")).alias("conv_c"),
    )
    # try_divide: an empty arm yields NULL rates/z, not a DIVIDE_BY_ZERO
    # (ANSI mode is on per session defaults)
    n_t, n_c = F.col("n_t").cast("double"), F.col("n_c").cast("double")
    p_t = F.try_divide(F.col("conv_t"), n_t)
    p_c = F.try_divide(F.col("conv_c"), n_c)
    pool = F.try_divide(F.col("conv_t") + F.col("conv_c"), n_t + n_c)
    se = F.sqrt(
        pool
        * (1 - pool)
        * (F.try_divide(F.lit(1.0), n_t) + F.try_divide(F.lit(1.0), n_c))
    )
    return agg.select(
        F.coalesce("n_t", F.lit(0)).alias("n_t"),
        F.coalesce("n_c", F.lit(0)).alias("n_c"),
        F.coalesce("conv_t", F.lit(0)).alias("conv_t"),
        F.coalesce("conv_c", F.lit(0)).alias("conv_c"),
        F.round(p_t, round_to).alias("rate_t"),
        F.round(p_c, round_to).alias("rate_c"),
        F.round(p_t - p_c, round_to).alias("abs_lift"),
        F.round(
            F.when((pool > 0) & (pool < 1), (p_t - p_c) / se), round_to
        ).alias("z"),
    )


def check_expectations(
    df: DataFrame,
    rules: dict[str, Column],
    allow_fail: float = 0.0,
) -> DataFrame:
    """Data-quality gate: evaluate named boolean expectations in ONE
    aggregation pass — ``(rule, n, n_fail, fail_frac, ok)`` per rule.

    A NULL predicate counts as a failure (an expectation that cannot
    be evaluated is not met). ``ok`` is ``fail_frac <= allow_fail``.
    Like :func:`profile_table`, every rule aggregates in the same
    wide row then unpivots map-side — the 100 TB cost is one scan
    regardless of rule count; no driver-side row loop, so the gate
    composes with any upstream DataFrame (post-join, post-transform).

    Rule names are embedded as SQL string literals in the unpivot —
    keep them to word characters/spaces/dashes.
    """
    if not rules:
        raise ValueError("check_expectations needs at least one rule")
    for name in rules:
        if "'" in name or "\\" in name:
            raise ValueError(f"rule name {name!r} may not contain quotes")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, pred in enumerate(rules.values()):
        # outer coalesce: SUM over zero rows is NULL — an empty input
        # has zero failures, not an unevaluable gate
        aggs.append(
            F.coalesce(
                F.sum((~F.coalesce(pred, F.lit(False))).cast("bigint")),
                F.lit(0),
            ).alias(f"__f_{i}")
        )
    wide = df.agg(*aggs)
    stacked = ", ".join(
        f"'{name}', __f_{i}" for i, name in enumerate(rules)
    )
    return wide.select(
        F.col("__n").alias("n"),
        F.expr(f"stack({len(rules)}, {stacked}) AS (rule, n_fail)"),
    ).select(
        "rule",
        "n",
        "n_fail",
        F.round(F.col("n_fail") / F.greatest(F.col("n"), F.lit(1)), 6).alias(
            "fail_frac"
        ),
        (
            F.col("n_fail") <= F.lit(allow_fail) * F.col("n")
        ).alias("ok"),
    )


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns → one row ``(n, dof, chi2)``.

    ``chi2 = Σ_cells (observed - expected)² / expected`` with
    ``expected = row_total × col_total / n``; ``dof =
    (|A|-1)(|B|-1)``. Large chi2 relative to dof ⇒ the columns are
    associated — the slice-balance companion to
    :func:`mutual_information` (same contingency machinery, classical
    test statistic instead of an information measure; no p-value —
    that needs the chi-square CDF, out of scope without SciPy).

    Scale shape: one ``groupBy(a, b)`` count (map-side combined; the
    contingency table is |A|×|B| cells regardless of row count), the
    marginals are windowed sums OVER THE CELL TABLE (not the data),
    and the statistic is one aggregate over cells. NULL categories
    count as their own level, mirroring ``mutual_information``.
    """
    from pyspark.sql.window import Window

    cells = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count(F.lit(1)).alias("_o"))
    wa = Window.partitionBy("_a")
    wb = Window.partitionBy("_b")
    wall = Window.partitionBy()
    with_marg = cells.select(
        "_a",
        "_b",
        "_o",
        F.sum("_o").over(wa).alias("_ra"),
        F.sum("_o").over(wb).alias("_cb"),
        F.sum("_o").over(wall).alias("_n"),
    )
    exp = F.col("_ra") * F.col("_cb") / F.col("_n")
    # cells absent from the table contribute exactly `expected` to the
    # sum (observed = 0), so the observed-cell sum must be corrected:
    # Σ_all (o-e)²/e = Σ_obs ((o-e)²/e - e) + n  — because Σ_all e = n
    # and absent cells have (0-e)²/e = e.
    term = (F.col("_o") - exp) * (F.col("_o") - exp) / exp - exp
    # Level counts must include NULL as a level (the statistic already
    # treats it as its own category via the groupBy) — countDistinct
    # ignores NULL, so add it back when present. greatest(..., 0): an
    # empty (or single-level) input must report dof 0, not
    # (0-1)*(0-1) = 1; n coalesces to 0 on empty.
    levels_a = F.countDistinct("_a") + F.max(
        F.col("_a").isNull().cast("bigint")
    )
    levels_b = F.countDistinct("_b") + F.max(
        F.col("_b").isNull().cast("bigint")
    )
    return with_marg.agg(
        F.coalesce(F.first("_n"), F.lit(0)).alias("n"),
        (
            F.greatest(levels_a - 1, F.lit(0))
            * F.greatest(levels_b - 1, F.lit(0))
        ).alias("dof"),
        F.round(F.sum(term) + F.first("_n"), round_to).alias("chi2"),
    )


def observe_metrics(df: DataFrame, name: str, *metrics: Column):
    """Attach single-scan observed metrics to a DataFrame → ``(df,
    observation)``: the metrics are computed inside whatever action
    next consumes ``df`` (a write, a count, a collect) at zero extra
    cost — no second scan, no separate aggregation job. This is the
    production shape for row-count / null-rate / bounds QC on a 100 TB
    write: the sink job itself reports them.

    ``observation.get`` (after the action) returns the metric dict.
    Metrics must be aggregate expressions; non-deterministic inputs
    are rejected by Spark. Wraps ``DataFrame.observe`` / the
    ``Observation`` helper so callers don't manage listener plumbing.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def groupwise_auc(
    df: DataFrame,
    label: Column,
    score: str,
    keys: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """ROC AUC per group → ``(keys..., n_pos, n_neg, auc)`` — the
    model-eval readout for scored corpora (is this quality score
    actually ranking positives above negatives, per slice?).

    Mann-Whitney formulation with exact tie handling: AUC =
    Σ_over distinct scores [ pos_s · (negs_below + neg_s/2) ] / (P·N).
    NULL when a group lacks positives or negatives (undefined).
    Rows with a NULL score are EXCLUDED (an unscored row has no rank —
    Spark's NULLS FIRST window order would otherwise silently rank
    them lowest); a NULL label counts as negative.

    Scale shape: rows collapse to ONE row per (group, distinct score)
    in a map-side-combined hash aggregate FIRST; the running-negatives
    window and the final fold run over that collapsed table, so the
    per-group sort cost is O(distinct scores), not O(rows). For
    continuous scores with few ties, quantize the score first (e.g.
    ``F.round(score, 4)``) to keep the collapsed table small — the
    standard sketching trade, and the AUC error is bounded by the
    quantization step.
    """
    from pyspark.sql.window import Window

    keys = keys or []
    lab = F.coalesce(label, F.lit(False))
    df = df.where(F.col(score).isNotNull())
    per_score = df.groupBy(*keys, F.col(score).alias("_s")).agg(
        F.sum(lab.cast("bigint")).alias("_p"),
        F.sum((~lab).cast("bigint")).alias("_n"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_score.withColumn(
        "_negs_below", F.coalesce(F.sum("_n").over(w), F.lit(0))
    )
    grouped = ranked.groupBy(*keys) if keys else ranked.groupBy()
    u = F.sum(
        F.col("_p") * (F.col("_negs_below") + F.col("_n") / F.lit(2.0))
    )
    tot_p = F.sum("_p")
    tot_n = F.sum("_n")
    return grouped.agg(
        tot_p.alias("n_pos"),
        tot_n.alias("n_neg"),
        F.round(
            F.try_divide(u, tot_p.cast("double") * tot_n.cast("double")),
            round_to,
        ).alias("auc"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    treatment: Column,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Group-wise Welch two-sample t-test (unequal variances) between
    a treatment and control split of ``value_col`` → per group
    ``(n_t, n_c, m_t, m_c, t_stat, dof)``. The continuous-metric
    sibling of ``ab_compare``: |t| against Student-t with ``dof``
    (Welch–Satterthwaite) degrees of freedom.

    ONE conditional-aggregation scan: six moments per group (count /
    avg / var_samp per arm), then closed-form arithmetic on the
    moment row — never a second pass. NULL when an arm has < 2
    values or both variances vanish (statistic undefined).

    Cross-engine determinism: avg/var_samp are rounded to
    ``round_to`` BEFORE the closed form, so both engines compute t
    and dof from identical doubles — the remaining ops are IEEE
    divisions/multiplications and one correctly-rounded sqrt (no
    libm pow: squares are spelled x*x).
    """
    t_ = F.coalesce(treatment, F.lit(False))
    v = F.col(value_col)
    vt, vc = F.when(t_, v), F.when(~t_, v)
    agg = df.groupBy(group_col).agg(
        F.count(vt).alias("n_t"),
        F.round(F.avg(vt), round_to).alias("m_t"),
        F.round(F.var_samp(vt), round_to).alias("v_t"),
        F.count(vc).alias("n_c"),
        F.round(F.avg(vc), round_to).alias("m_c"),
        F.round(F.var_samp(vc), round_to).alias("v_c"),
    )
    se2 = F.col("v_t") / F.col("n_t") + F.col("v_c") / F.col("n_c")
    ok = (F.col("n_t") >= 2) & (F.col("n_c") >= 2) & (se2 > 0)
    a = F.col("v_t") / F.col("n_t")
    b = F.col("v_c") / F.col("n_c")
    dof = (se2 * se2) / (
        a * a / (F.col("n_t") - 1) + b * b / (F.col("n_c") - 1)
    )
    return agg.select(
        group_col,
        "n_t",
        "n_c",
        "m_t",
        "m_c",
        F.round(
            F.when(ok, (F.col("m_t") - F.col("m_c")) / F.sqrt(se2)),
            round_to,
        ).alias("t_stat"),
        F.round(F.when(ok, dof), round_to).alias("dof"),
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    nibbles: str = "0123",
) -> DataFrame:
    """Pre-flight join cardinality estimate via CORRELATED key
    sampling (end-biased sampling, Estan/Naughton-style): include a
    key iff its md5 first hex digit falls in ``nibbles`` — the SAME
    deterministic predicate on both sides, so a sampled key survives
    on both sides or neither, and every joint pair of a sampled key
    is observed. The estimator ``|sample join| / p`` (p =
    len(nibbles)/16) is unbiased for key-correlated sampling, unlike
    independent row sampling whose pair-survival rate is p².

    One row: ``(sampled_pairs, p, est_pairs)``. Cost = a join on
    ~p of the keyspace — the point: size a 100 TB join (shuffle
    volume, skew risk, output blowup) from a p-sized probe before
    committing the real thing. Deterministic and engine-portable
    (md5 on the cast key), so the estimate is reproducible and
    exactly oracle-checkable.
    """
    p = len(nibbles) / 16.0
    keep_l = F.substring(
        F.md5(F.col(left_key).cast("string")), 1, 1
    ).isin(*nibbles)
    keep_r = F.substring(
        F.md5(F.col(right_key).cast("string")), 1, 1
    ).isin(*nibbles)
    sl = left.where(keep_l).select(F.col(left_key).alias("_k"))
    sr = right.where(keep_r).select(F.col(right_key).alias("_k"))
    return (
        sl.join(sr, "_k")
        .agg(F.count(F.lit(1)).alias("sampled_pairs"))
        .select(
            "sampled_pairs",
            F.lit(p).alias("p"),
            (F.col("sampled_pairs") / F.lit(p)).alias("est_pairs"),
        )
    )


def _attach_scalar(df: DataFrame, scalar: DataFrame) -> DataFrame:
    """Attach a 1-row aggregate to every row of ``df`` through an
    equi-key broadcast hash join. The key must be NON-FOLDABLE
    (asof.py:370 rationale): lit(1)==lit(1) constant-folds to true
    and the join degenerates to the BroadcastNestedLoopJoin the plan
    lint flags; deriving 1 from a nondeterministic expression is
    fold-proof and still value-stable, so task retries are safe."""
    one = (F.monotonically_increasing_id() * 0 + 1).cast("int")
    return df.withColumn("_sk", one).join(
        F.broadcast(scalar.withColumn("_sk", one)), "_sk"
    ).drop("_sk")


def cohens_kappa(
    df: DataFrame,
    rater_a: Column,
    rater_b: Column,
    round_to: int = 6,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelings (annotator QC for labeled training data):
    ``kappa = (p_o - p_e) / (1 - p_e)`` with observed agreement
    ``p_o`` and the marginal-product expected agreement ``p_e``.

    One groupBy over the (a, b) label pairs builds the contingency
    cells; marginals and the closed form run over the CELL table
    (label-cardinality sized, never data — the ``chi2_independence``
    discipline). All closed-form inputs are exact integer counts,
    each division one IEEE op — deterministic; NULL when p_e = 1
    (both raters constant and equal, kappa undefined). Returns one
    row ``(n, p_o, p_e, kappa)``.
    """
    cells = (
        df.select(rater_a.alias("_a"), rater_b.alias("_b"))
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    po_tab = cells.agg(
        F.sum("_c").alias("n"),
        (
            F.sum(
                F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(0)
            ).cast("double")
            / F.sum("_c")
        ).alias("p_o"),
    )
    ma = cells.groupBy(F.col("_a").alias("_k")).agg(
        F.sum("_c").alias("_na")
    )
    mb = cells.groupBy(F.col("_b").alias("_k")).agg(
        F.sum("_c").alias("_nb")
    )
    n_total = cells.agg(F.sum("_c").alias("_n"))
    pe_tab = (
        _attach_scalar(ma.join(mb, "_k", "full_outer"), n_total)
        .select(
            (
                (F.coalesce("_na", F.lit(0)) / F.col("_n"))
                * (F.coalesce("_nb", F.lit(0)) / F.col("_n"))
            ).alias("_pe_k")
        )
        .agg(F.sum("_pe_k").alias("p_e"))
    )
    out = _attach_scalar(po_tab, pe_tab)
    kappa = F.when(
        F.col("p_e") < 1.0,
        (F.col("p_o") - F.col("p_e")) / (1.0 - F.col("p_e")),
    )
    return out.select(
        "n",
        F.round("p_o", round_to).alias("p_o"),
        F.round("p_e", round_to).alias("p_e"),
        F.round(kappa, round_to).alias("kappa"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_pct: Column,
    label: Column,
    bins: int = 10,
) -> DataFrame:
    """Expected calibration error over integer-percent confidence
    scores (0–100): bucket scores into ``bins`` equal-width bins and
    report ``ECE = Σ (n_b/N) · |acc_b − conf_b|`` — the model-QC
    readout "when the scorer says 80%, is it right 80% of the time?"
    for quality classifiers and reward models feeding data filters.

    ``score_pct`` must be an integer 0..100 (percent); keeping the
    score integral makes every bin statistic a ratio of exact
    integers — one IEEE division each — so the result is
    deterministic and hash-exact cross-engine (a float score would
    make ``avg`` order-dependent in the last ulp). Returns the
    per-bin table plus the scalar as ``(bin, n, conf, acc, ece)``
    with ``ece`` repeated per row (one aggregate over a bins-sized
    table; window, not second scan).

    One data pass: groupBy(bin) → (n, Σscore, Σlabel); everything
    after runs on ``bins`` rows (totals attach via a broadcast
    scalar join, not a keyless window — no single-task funnel even
    in the lint).
    """
    b = F.least(
        F.floor(score_pct * bins / 100).cast("int"), F.lit(bins - 1)
    )
    per = (
        df.select(
            b.alias("bin"),
            score_pct.alias("_s"),
            label.cast("int").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_s").alias("_ss"),
            F.sum("_y").alias("_sy"),
        )
    )
    conf = F.col("_ss") / F.col("n") / 100.0
    acc = F.col("_sy") / F.col("n")
    gap = (per.withColumn("conf", conf).withColumn("acc", acc)
           .withColumn("_gap", F.abs(F.col("acc") - F.col("conf"))))
    tot = gap.agg(
        F.sum("n").alias("_nt"),
        F.sum(F.col("n") * F.col("_gap")).alias("_wgap"),
    ).select((F.col("_wgap") / F.col("_nt")).alias("ece"))
    return _attach_scalar(gap, tot).select(
        "bin", "n", "conf", "acc", "ece"
    )


def check_schema(
    df: DataFrame,
    expected_ddl: str,
    allow_extra: bool = True,
    allow_nullable_mismatch: bool = True,
) -> list[str]:
    """Schema contract check for ingest boundaries: verify ``df``
    carries every column of ``expected_ddl`` with the declared type —
    returns a list of human-readable violations (empty = contract
    holds). ``allow_extra`` tolerates additional columns (the common
    evolution policy: adding is safe, dropping/retyping breaks
    consumers); ``allow_nullable_mismatch`` ignores nullability
    (parquet writers routinely widen it).

    Pure driver-side metadata — no job runs. Pair with
    ``check_expectations`` (row-level rules) for a full contract gate.
    """
    from pyspark.sql import types as T

    want = T.StructType.fromDDL(expected_ddl)
    have = {f.name: f for f in df.schema.fields}
    problems = []
    for f in want.fields:
        if f.name not in have:
            problems.append(f"missing column '{f.name}' ({f.dataType.simpleString()})")
            continue
        g = have[f.name]
        if g.dataType != f.dataType:
            problems.append(
                f"column '{f.name}': expected "
                f"{f.dataType.simpleString()}, got "
                f"{g.dataType.simpleString()}"
            )
        elif not allow_nullable_mismatch and g.nullable != f.nullable:
            problems.append(
                f"column '{f.name}': nullable={g.nullable}, "
                f"expected {f.nullable}"
            )
    if not allow_extra:
        extra = sorted(set(have) - {f.name for f in want.fields})
        if extra:
            problems.append(f"unexpected extra columns {extra}")
    return problems


def population_stability(
    ref: DataFrame,
    new: DataFrame,
    bucket_col: str,
    eps: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Population stability index between a reference and a new
    snapshot of a categorical/bucketed column — THE drift monitor for
    corpus mixes and model-feature inputs (rule of thumb: PSI < 0.1
    stable, 0.1–0.25 drifting, > 0.25 broken). Per bucket:
    ``(q - p) · ln(q / p)`` with shares floored at ``eps`` so a
    bucket present on one side only contributes a large-but-finite
    term; ``psi`` is the sum, repeated per row.

    One count aggregate per side (map-side combined), a full-outer
    join on the bucket table (category-cardinality sized, never
    data), and closed-form arithmetic over it — the
    ``chi2_independence`` discipline. Shares are exact-int ratios;
    ``ln`` is the one libm call, so per-bucket terms and ``psi``
    round at ``round_to``.
    """
    pc = ref.groupBy(F.col(bucket_col).alias("_b")).agg(
        F.count(F.lit(1)).alias("_np")
    )
    qc = new.groupBy(F.col(bucket_col).alias("_b")).agg(
        F.count(F.lit(1)).alias("_nq")
    )
    ptot = pc.agg(F.sum("_np").alias("_tp"))
    qtot = qc.agg(F.sum("_nq").alias("_tq"))
    cells = _attach_scalar(
        _attach_scalar(pc.join(qc, "_b", "full_outer"), ptot), qtot
    )
    p = F.greatest(
        F.coalesce("_np", F.lit(0)) / F.col("_tp"), F.lit(float(eps))
    )
    q = F.greatest(
        F.coalesce("_nq", F.lit(0)) / F.col("_tq"), F.lit(float(eps))
    )
    terms = cells.select(
        F.col("_b").alias(bucket_col),
        F.coalesce("_np", F.lit(0)).alias("n_ref"),
        F.coalesce("_nq", F.lit(0)).alias("n_new"),
        F.round(p, round_to).alias("p"),
        F.round(q, round_to).alias("q"),
        F.round((q - p) * F.log(q / p), round_to).alias("term"),
    )
    tot = terms.agg(F.round(F.sum("term"), round_to).alias("psi"))
    return _attach_scalar(terms, tot)
