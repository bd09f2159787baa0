"""Statistical-inference operators: dependence, hypothesis tests,
robust outliers, and deterministic resampling.

Extension tier — the reference engine (Joshua-li-yi/PageRank's pandas
dataflow) has no inference primitives; these are the measurement
queries a training-data pipeline runs before/after an intervention
(data-mix change, filter change, A/B on a curation rule) to decide
whether an observed shift is real.

Scale shape shared by every operator here: ONE partial-agg-friendly
pass over the corpus collapses it to a value-space- or bucket-space-
sized relation (group cells, transition pairs, hash buckets); all the
statistics arithmetic then runs over that tiny relation. Nothing
windows over the raw corpus, nothing collects, nothing draws RNG —
resampling is derandomized through the same portable md5-coin family
as the curation operators, so every result is reproducible bit-for-bit
in any engine with md5 (the DuckDB twins replay the identical
arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.graph.loop import Pins


def _hash60(expr) -> F.Column:
    """Portable 60-bit md5 hash of a string column — same family as
    operators/text.py:_hash_sql / the curation md5 coins."""
    return F.expr(f"CAST(conv(substr(md5({expr}),1,15),16,10) AS BIGINT)")


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    the dependence audit run before using a metadata column as a
    training feature (is ``lang`` informative about ``source``?).

    MI = Σ_xy p(x,y)·ln(p(x,y)/(p(x)p(y))) over the JOINT COUNT
    relation: one corpus-sized groupBy collapses the fact to its
    value-space cells; marginals and the total come from windows over
    that tiny relation (never a second corpus scan). Returns one row
    ``(mi_nats, n_rows, n_cells)``.
    """
    joint = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(x_col, y_col)
        .agg(F.count("*").alias("c"))
    )
    cells = (
        joint.withColumn(
            "cx", F.sum("c").over(Window.partitionBy(x_col))
        )
        .withColumn("cy", F.sum("c").over(Window.partitionBy(y_col)))
        .withColumn(
            "n", F.sum("c").over(Window.partitionBy(F.lit(1)))
        )
    )
    c, cx, cy, n = (F.col(k).cast("double") for k in ("c", "cx", "cy", "n"))
    return cells.agg(
        F.round(F.sum((c / n) * F.log((c * n) / (cx * cy))), 6).alias(
            "mi_nats"
        ),
        F.max("n").cast("long").alias("n_rows"),
        F.count("*").alias("n_cells"),
    )


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of the per-user event
    sequence: ``(type_from, type_to, cnt, prob)`` with rows of the
    matrix summing to 1 — the session-model primitive (next-event
    prediction baselines, anomalous-flow detection).

    One window (partition by user, order by ts then tiebreak — total
    order, engine-independent) produces the lag pairs; the corpus then
    collapses to the type×type relation and row-normalization is a
    window over THAT (type-space², tiny). Partitioning by user keys
    the sort shuffle on millions of users — no global sort.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        events.select(
            user_col,
            ts_col,
            tiebreak_col,
            F.col(type_col).alias("type_to"),
        )
        .withColumn("type_from", F.lag("type_to").over(w))
        .where(F.col("type_from").isNotNull())
        .groupBy("type_from", "type_to")
        .agg(F.count("*").alias("cnt"))
    )
    row_tot = F.sum("cnt").over(Window.partitionBy("type_from"))
    return pairs.select(
        "type_from",
        "type_to",
        "cnt",
        F.round(F.col("cnt") / row_tot, 6).alias("prob"),
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups — the
    did-the-metric-move test for data-mix experiments. Returns one row
    ``(n_a, n_b, mean_a, mean_b, t_stat, df_welch)`` with the
    Welch–Satterthwaite degrees of freedom.

    ONE conditional-aggregation pass (count/avg/var_samp per arm as
    six algebraic aggregates over a single pruned scan — never a scan
    per arm); the t arithmetic is driver-free scalar algebra on the
    one-row result.
    """
    v = F.col(value_col).cast("double")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    stats = df.where(in_a | in_b).agg(
        F.count(F.when(in_a, 1)).alias("n_a"),
        F.count(F.when(in_b, 1)).alias("n_b"),
        F.avg(F.when(in_a, v)).alias("m_a"),
        F.avg(F.when(in_b, v)).alias("m_b"),
        F.var_samp(F.when(in_a, v)).alias("v_a"),
        F.var_samp(F.when(in_b, v)).alias("v_b"),
    )
    sa = F.col("v_a") / F.col("n_a")
    sb = F.col("v_b") / F.col("n_b")
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(sa + sb)
    df_w = (sa + sb) * (sa + sb) / (
        sa * sa / (F.col("n_a") - 1) + sb * sb / (F.col("n_b") - 1)
    )
    # df_welch lives in the thousands at corpus group sizes — 4dp
    # keeps the cross-engine float-sum jitter inside the rounding
    # quantum; t is O(1), 6dp is safe
    return stats.select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df_w, 4).alias("df_welch"),
    )


def mad_outliers(
    df: DataFrame, value_col: str, z_cut: float = 3.5
) -> DataFrame:
    """Robust outlier summary via median absolute deviation: one row
    ``(n, med, mad, n_outliers, max_abs_z)`` where the robust z-score
    is ``0.6745·(x − med)/MAD`` (Iglewicz–Hoaglin) and outliers are
    ``|z| > z_cut``. The metric-sanity gate that, unlike 3σ, a few
    wild values cannot drag.

    Two exact-percentile passes (median, then MAD) + one flag pass,
    each a pruned single-column scan with the scalar broadcast-joined
    in. At 100 TB swap ``percentile`` for ``approx_percentile`` with a
    pinned accuracy (same plan shape, documented estimate) — exact
    medians here keep the DuckDB twin byte-comparable.
    """
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(v.alias("x"))
    med = base.agg(F.percentile("x", F.lit(0.5)).alias("med"))
    dev = base.crossJoin(F.broadcast(med)).select(
        "x", "med", F.abs(F.col("x") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("med").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    z = F.lit(0.6745) * (F.col("x") - F.col("med")) / F.col("mad")
    return (
        base.crossJoin(F.broadcast(mad))
        .select("x", "med", "mad", z.alias("z"))
        .groupBy("med", "mad")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.abs(F.col("z")) > z_cut, 1).otherwise(0)
            ).alias("n_outliers"),
            F.round(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
        )
        .select(
            "n",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
            "max_abs_z",
        )
    )


def ab_assign_srm(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    salt: str = "exp1",
    n_arms: int = 2,
) -> DataFrame:
    """Deterministic hash A/B assignment + sample-ratio-mismatch
    check: each unit lands in arm ``md5(salt‖unit) mod n_arms`` (the
    industry-standard salted-hash bucketing — stable across reruns, no
    RNG, no coordination), then per-arm ``(arm, n_units, mean_value)``
    plus the χ² SRM statistic against the uniform expectation on every
    row. χ² far above the critical value means the assignment is
    corrupted (bot traffic, logging loss) and the experiment is void —
    the FIRST check any A/B readout runs.

    One distinct-collapse to units (assignment must be per-unit, not
    per-event), one tiny groupBy over ``n_arms`` cells; χ² is a window
    over those cells.
    """
    per_unit = (
        df.groupBy(F.col(unit_col).alias("unit"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("v"))
        .select(
            F.pmod(
                _hash60(f"concat('{salt}#', CAST(unit AS STRING))"),
                F.lit(n_arms),
            ).alias("arm"),
            "v",
        )
    )
    arms = per_unit.groupBy("arm").agg(
        F.count("*").alias("n_units"),
        F.round(F.avg("v"), 6).alias("mean_value"),
    )
    total = F.sum("n_units").over(Window.partitionBy(F.lit(1)))
    exp = total / F.lit(float(n_arms))
    chi2 = F.sum(
        (F.col("n_units") - exp) * (F.col("n_units") - exp) / exp
    ).over(Window.partitionBy(F.lit(1)))
    return arms.select(
        "arm",
        "n_units",
        "mean_value",
        F.round(chi2, 6).alias("srm_chi2"),
    )


def jackknife_ci(
    df: DataFrame,
    value_col: str,
    id_expr: str,
    buckets: int = 50,
    salt: str = "jk",
) -> DataFrame:
    """Delete-one-bucket jackknife confidence interval for the mean —
    the deterministic, one-pass answer to "what's the error bar on
    this corpus metric?". Rows hash into ``buckets`` pseudo-replicates
    (md5 coin — no RNG, reproducible anywhere); the leave-one-out
    means ``m_i = (S − s_i)/(N − n_i)`` give the jackknife variance
    ``(B−1)/B · Σ(m_i − m̄)²`` and a normal-approx 95% CI.

    ``id_expr`` (a SQL string over ``df``, e.g. a row/event id) drives
    the bucket hash and is REQUIRED: hashing the value itself would
    put all equal values in the same pseudo-replicate, correlating
    buckets with the metric and biasing the SE (badly for
    low-cardinality or skewed values).

    ONE corpus pass (groupBy bucket: sum+count); everything after runs
    over B rows. This is how error bars work at 100 TB — the classic
    bootstrap's R resamples would be R corpus passes (or RNG the twins
    can't replay); bucketed jackknife is the standard distributed
    substitute (cf. Pig/Sawzall-era "poor man's bootstrap").
    Returns one row ``(n, mean, se_jack, ci_lo, ci_hi, n_buckets)``.
    """
    v = F.col(value_col).cast("double")
    b = F.pmod(_hash60(f"concat('{salt}#', {id_expr})"), F.lit(buckets))
    per = (
        df.where(v.isNotNull())
        .select(b.alias("b"), v.alias("x"))
        .groupBy("b")
        .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
    )
    w = Window.partitionBy(F.lit(1))
    loo = per.select(
        "b",
        ((F.sum("s").over(w) - F.col("s"))
         / (F.sum("c").over(w) - F.col("c"))).alias("m_i"),
        (F.sum("s").over(w) / F.sum("c").over(w)).alias("mean"),
        F.sum("c").over(w).alias("n"),
        F.count("*").over(w).alias("nb"),
    )
    var_j = (
        (F.col("nb") - 1).cast("double") / F.col("nb")
    ) * F.sum(
        (F.col("m_i") - F.avg("m_i").over(Window.partitionBy("n")))
        * (F.col("m_i") - F.avg("m_i").over(Window.partitionBy("n")))
    ).over(Window.partitionBy("n"))
    # avg(m_i) windows key on n (constant) so Catalyst reuses the
    # single-partition exchange already forced by the global sums
    enriched = loo.select(
        "b", "m_i", "mean", "n", "nb", var_j.alias("var_j")
    )
    se = F.sqrt(F.col("var_j"))
    return (
        enriched.groupBy("n", "nb", "mean", "var_j")
        .agg(F.count("*").alias("__chk"))
        .select(
            F.col("n").cast("long").alias("n"),
            F.round("mean", 6).alias("mean"),
            F.round(se, 6).alias("se_jack"),
            F.round(F.col("mean") - F.lit(1.96) * se, 6).alias("ci_lo"),
            F.round(F.col("mean") + F.lit(1.96) * se, 6).alias("ci_hi"),
            F.col("nb").cast("long").alias("n_buckets"),
        )
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    blocks: int | None = None,
) -> DataFrame:
    """Spearman rank correlation (average ranks for ties) — the
    monotone-dependence complement of Pearson ``corr_matrix``; what a
    feature audit uses when the relationship is nonlinear.

    Scale shape: ONE corpus pass collapses to the JOINT (x, y) count
    relation; per-value average ranks (``cumsum(cnt) − (cnt−1)/2``)
    come from a distributed two-level prefix sum over each marginal:
    values are grouped into order-preserving blocks by integer-
    dividing the [min, max] value range into ``blocks`` slices
    (deterministic — no sampled range partitioner), per-block windows
    compute local cumsums in parallel, and the block totals (a
    ``blocks``-row relation, the only single-partition window) give
    the exclusive offsets. For CONTINUOUS columns the distinct-value
    relation is corpus-sized, so an unpartitioned value-space window
    would degenerate to a single-partition sort of the corpus — the
    blocked form keeps rank work partitioned at any cardinality. The
    correlation is then the count-weighted moment formula over the
    joint cells (n arrives as a broadcast one-row relation, never a
    cells-sized window) — never a per-row rank join, never a global
    row_number over the corpus. Ranks are centered by their exact
    mean ``(N+1)/2`` before the moments so the sums stay well inside
    double precision at any N. The identical joint-relation exchange
    feeds all branches, so runtime exchange reuse makes this one
    physical corpus scan (plan-asserted). Returns one row
    ``(rho_spearman, n_rows)``.
    """
    spark = df.sparkSession
    if blocks is None:
        blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    # r15 optimization (§5): the joint relation feeds FOUR consumers
    # (both marginal rank passes, the n scalar, and the moment cells),
    # and the min/max pass scanned the corpus a second time. The joint
    # relation is now lazily checkpointed — the min/max collect below
    # reads it FROM the joint cells (identical values: every base row
    # lands in a joint cell) and materializes the pin in the same job,
    # so the corpus is scanned exactly once and every downstream plan
    # analyzes a leaf instead of re-deriving the corpus subtree.
    with Pins() as pins:
        joint = pins.truncate(
            base.groupBy("x", "y").agg(F.count("*").alias("c"))
        )
        b = joint.agg(
            F.min("x").alias("xlo"),
            F.max("x").alias("xhi"),
            F.min("y").alias("ylo"),
            F.max("y").alias("yhi"),
        ).collect()[0]
        if b["xlo"] is None:
            return spark.sql(
                "SELECT CAST(NULL AS DOUBLE) AS rho_spearman, "
                "CAST(NULL AS BIGINT) AS n_rows"
            )

        def value_ranks(col: str, lo: float, hi: float) -> DataFrame:
            span = (hi - lo) / blocks
            if span > 0.0:
                blk = F.least(
                    F.lit(blocks - 1),
                    F.floor((F.col(col) - F.lit(lo)) / F.lit(span)),
                )
            else:  # constant column: one block
                blk = F.lit(0)
            local_w = (
                Window.partitionBy("__blk")
                .orderBy(col)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            marg = (
                joint.groupBy(col)
                .agg(F.sum("c").alias("cnt"))
                .withColumn("__blk", blk)
            )
            local = marg.withColumn("__cum", F.sum("cnt").over(local_w))
            tot_w = Window.orderBy("__blk").rowsBetween(
                Window.unboundedPreceding, -1
            )
            offsets = (
                local.groupBy("__blk")
                .agg(F.sum("cnt").alias("__tot"))
                .select(
                    "__blk",
                    F.coalesce(F.sum("__tot").over(tot_w), F.lit(0)).alias(
                        "__off"
                    ),
                )
            )
            return local.join(F.broadcast(offsets), on="__blk").select(
                col,
                (
                    F.col("__off") + F.col("__cum") - (F.col("cnt") - 1) / 2.0
                ).alias(f"r_{col}"),
            )

        n_rel = joint.agg(F.sum("c").cast("double").alias("n"))
        cells = (
            joint.join(value_ranks("x", b["xlo"], b["xhi"]), on="x")
            .join(value_ranks("y", b["ylo"], b["yhi"]), on="y")
            .crossJoin(F.broadcast(n_rel))
        )
        c = F.col("c").cast("double")
        rx = F.col("r_x") - (F.col("n") + 1.0) / 2.0
        ry = F.col("r_y") - (F.col("n") + 1.0) / 2.0
        return pins.keep(cells.agg(
            F.round(
                # try_divide: zero variance (constant column) -> NULL rho,
                # not an ANSI DIVIDE_BY_ZERO error
                F.try_divide(
                    F.sum(c * rx * ry),
                    F.sqrt(F.sum(c * rx * rx) * F.sum(c * ry * ry)),
                ),
                6,
            ).alias("rho_spearman"),
            F.max("n").cast("long").alias("n_rows"),
        ))


def chi2_independence(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Pearson χ² test of independence between two categorical
    columns — the significance companion of ``mutual_information``
    (MI says how much dependence; χ² says whether it clears noise).

    The expected-count grid is the FULL cross of the two marginal
    relations (value-space², tiny — zero joint cells still contribute
    their expectation), left-joined with the observed joint counts
    from the single corpus pass. Returns one row
    ``(chi2, dof, n_rows, n_cells)``.
    """
    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    joint = base.groupBy("x", "y").agg(F.count("*").alias("c"))
    mx = joint.groupBy("x").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("y").agg(F.sum("c").alias("cy"))
    grid = (
        mx.crossJoin(my)
        .join(joint, on=["x", "y"], how="left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .withColumn(
            "n", F.sum("c").over(Window.partitionBy(F.lit(1)))
        )
    )
    e = (
        F.col("cx").cast("double")
        * F.col("cy").cast("double")
        / F.col("n").cast("double")
    )
    dev = (F.col("c").cast("double") - e)
    nx = F.count_distinct("x")
    ny = F.count_distinct("y")
    return grid.agg(
        F.round(F.sum(dev * dev / e), 6).alias("chi2"),
        ((nx - 1) * (ny - 1)).cast("long").alias("dof"),
        F.max("n").cast("long").alias("n_rows"),
        F.count("*").alias("n_cells"),
    )


def cusum_changepoint(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """CUSUM change-point locator over the daily mean of a metric:
    ``S_d = Σ_{d'≤d} (mean_{d'} − grand_mean)``; the day where |S|
    peaks is the most likely level-shift point (Page's cumulative-sum
    test, the standard drift detector for pipeline telemetry).

    One corpus pass collapses to the day relation (sum+count per
    day); the grand mean, running CUSUM, and argmax are windows over
    days (hundreds of rows). The running sum accumulates in day order
    on one tiny partition — bit-identical across engines. Returns one
    row ``(cp_day, s_at_cp, max_abs_s, n_days)``.
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    daily = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(day)
        .agg(
            F.sum(F.col(value_col).cast("double")).alias("s"),
            F.count("*").alias("c"),
        )
        .select("day", (F.col("s") / F.col("c")).alias("m"))
    )
    w_all = Window.partitionBy(F.lit(1))
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = daily.withColumn(
        "gm", F.avg("m").over(w_all)
    ).withColumn("cs", F.sum(F.col("m") - F.col("gm")).over(w_run))
    pick = Window.orderBy(
        F.abs(F.col("cs")).desc(), F.col("day").asc()
    )
    return (
        cusum.withColumn("rk", F.row_number().over(pick))
        .withColumn(
            "max_abs_s",
            F.max(F.abs(F.col("cs"))).over(w_all),
        )
        .withColumn("n_days", F.count("*").over(w_all))
        .where(F.col("rk") == 1)
        .select(
            F.col("day").cast("string").alias("cp_day"),
            F.round("cs", 6).alias("s_at_cp"),
            F.round("max_abs_s", 6).alias("max_abs_s"),
            F.col("n_days").cast("long").alias("n_days"),
        )
    )


def two_proportion_ztest(
    df: DataFrame,
    unit_col: str,
    success_expr: str,
    salt: str = "exp1",
) -> DataFrame:
    """Two-proportion z-test over a deterministic salted-md5 A/B
    split: conversion per arm and the pooled z statistic — the
    binary-metric readout that pairs with ``ab_assign_srm`` (same
    assignment hash, so the same units land in the same arms).

    ``success_expr`` is a SQL boolean over the PER-UNIT relation
    (e.g. ``max_purchases > 0``). One corpus pass to units, two-cell
    arithmetic after. Returns one row
    ``(n_0, n_1, p_0, p_1, z_stat)``.
    """
    per_unit = df.groupBy(F.col(unit_col).alias("unit")).agg(
        F.expr(success_expr).alias("ok")
    )
    arms = per_unit.select(
        F.pmod(
            _hash60(f"concat('{salt}#', CAST(unit AS STRING))"),
            F.lit(2),
        ).alias("arm"),
        F.col("ok").cast("int").alias("ok"),
    ).agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_0"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_1"),
        F.sum(F.when(F.col("arm") == 0, F.col("ok"))).alias("s_0"),
        F.sum(F.when(F.col("arm") == 1, F.col("ok"))).alias("s_1"),
    )
    n0, n1 = F.col("n_0").cast("double"), F.col("n_1").cast("double")
    s0, s1 = F.col("s_0").cast("double"), F.col("s_1").cast("double")
    p0, p1 = s0 / n0, s1 / n1
    pp = (s0 + s1) / (n0 + n1)
    # degenerate pool (everyone or no one converts) -> z undefined:
    # NULL via try_divide, not an ANSI divide-by-zero error
    z = F.try_divide(
        p0 - p1, F.sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))
    )
    return arms.select(
        "n_0",
        "n_1",
        F.round(p0, 6).alias("p_0"),
        F.round(p1, 6).alias("p_1"),
        F.round(z, 6).alias("z_stat"),
    )


def kaplan_meier(
    durations: DataFrame,
    duration_col: str = "duration",
    observed_col: str = "observed",
) -> DataFrame:
    """Kaplan–Meier survival curve from a (duration, observed)
    relation — retention/churn analysis with right-censoring done
    correctly (censored units leave the risk set without counting as
    deaths). Returns one row per distinct event time:
    ``(t, n_risk, n_events, n_censored, survival)`` with
    ``S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)``.

    One pass collapses units to the distinct-time relation (deaths +
    censorings per t); the at-risk count and the running product
    (as ``exp(Σ ln(1−d/n))`` over the ordered tiny relation) are
    windows over event times, never over units.
    """
    t = (
        durations.groupBy(F.col(duration_col).alias("t"))
        .agg(
            F.sum(
                F.when(F.col(observed_col).cast("boolean"), 1).otherwise(0)
            ).alias("n_events"),
            F.sum(
                F.when(F.col(observed_col).cast("boolean"), 0).otherwise(1)
            ).alias("n_censored"),
        )
    )
    w_all = Window.partitionBy(F.lit(1))
    w_before = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum(F.col("n_events") + F.col("n_censored")).over(w_all)
    left_before = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_before),
        F.lit(0),
    )
    at_risk = (total - left_before).cast("double")
    risk = t.withColumn("n_risk", at_risk)
    # survival only steps down at event times; factor 1 when d=0.
    # When every at-risk unit dies (d == n, the normal case at the
    # largest observed event time) the factor is exactly 0 — log(0)
    # would be NULL under Spark's non-ANSI math and F.sum would skip
    # it, so pin that step to -inf: the running log-sum propagates
    # -inf and exp gives survival 0.0 from that time onward.
    step = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(1.0 - F.col("n_events").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(float("-inf")))
    log_run = F.sum(
        F.when(F.col("n_events") > 0, step).otherwise(0.0)
    ).over(w_run)
    surv = F.when(log_run == F.lit(float("-inf")), 0.0).otherwise(
        F.exp(log_run)
    )
    return risk.select(
        F.col("t").cast("long").alias("t"),
        F.col("n_risk").cast("long").alias("n_risk"),
        "n_events",
        "n_censored",
        F.round(surv, 6).alias("survival"),
    )


def cuped_adjustment(
    df: DataFrame,
    unit_col: str,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): using a
    pre-experiment covariate x per unit, the adjusted metric
    ``y − θ(x − x̄)`` with ``θ = cov(x,y)/var(x)`` has variance
    ``var(y)·(1 − ρ²)`` — the standard trick that makes experiments
    readable at a fraction of the traffic. Returns one row
    ``(n_units, theta, var_y, var_adj, var_reduction_pct)``.

    The inputs are unit-level (one row per unit with pre/post
    metrics); everything is algebraic aggregates in ONE pass —
    covariance, variances, and the ρ² identity need no second scan.
    """
    x = F.col(pre_col).cast("double")
    y = F.col(post_col).cast("double")
    stats = df.agg(
        F.count("*").alias("n_units"),
        F.covar_samp(x, y).alias("cxy"),
        F.var_samp(x).alias("vx"),
        F.var_samp(y).alias("vy"),
    )
    theta = F.col("cxy") / F.col("vx")
    rho2 = (F.col("cxy") * F.col("cxy")) / (F.col("vx") * F.col("vy"))
    return stats.select(
        "n_units",
        F.round(theta, 6).alias("theta"),
        F.round("vy", 4).alias("var_y"),
        F.round(F.col("vy") * (1.0 - rho2), 4).alias("var_adj"),
        F.round(100.0 * rho2, 6).alias("var_reduction_pct"),
    )


def percentile_rank(
    df: DataFrame,
    value_col: str,
    out_col: str = "pct_rank",
    blocks: int | None = None,
) -> DataFrame:
    """Mid-rank percentile transform: every row gains
    ``out_col = (avg_rank − 0.5) / n ∈ (0, 1)`` where ``avg_rank`` is
    the tie-averaged rank of its value — the rank-based feature
    normalization (quantile-uniform scaling) that makes downstream
    models scale-free, and the building block of quantile mapping.
    NULL values pass through with a NULL rank.

    Scale shape: the same distributed two-level prefix sum as
    ``spearman_corr`` — ONE corpus pass collapses to the distinct-value
    count relation; deterministic value-range blocks rank locally in
    parallel with the block totals (a ``blocks``-row relation) giving
    exclusive offsets, so CONTINUOUS columns (distinct ≈ corpus) never
    hit an unpartitioned window; the ranked value relation joins back
    to rows by equality. ``n`` arrives broadcast. Rounded to 6dp for
    engine portability.
    """
    spark = df.sparkSession
    if blocks is None:
        blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    v = F.col(value_col).cast("double")
    # the spearman_corr pin (r15): the rank pipeline's three references
    # read a leaf instead of re-deriving the corpus aggregation
    with Pins() as pins:
        marg = pins.truncate(
            df.where(v.isNotNull())
            .groupBy(v.alias("__v"))
            .agg(F.count("*").alias("__cnt"))
        )
        b = marg.agg(F.min("__v").alias("lo"), F.max("__v").alias("hi")).collect()[0]
        if b["lo"] is None:
            return df.withColumn(out_col, F.lit(None).cast("double"))
        span = (float(b["hi"]) - float(b["lo"])) / blocks
        if span > 0.0:
            blk = F.least(
                F.lit(blocks - 1),
                F.floor((F.col("__v") - F.lit(float(b["lo"]))) / F.lit(span)),
            )
        else:
            blk = F.lit(0)
        local_w = (
            Window.partitionBy("__blk")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local = marg.withColumn("__blk", blk).withColumn(
            "__cum", F.sum("__cnt").over(local_w)
        )
        tot_w = Window.orderBy("__blk").rowsBetween(Window.unboundedPreceding, -1)
        offsets = (
            local.groupBy("__blk")
            .agg(F.sum("__cnt").alias("__tot"))
            .select(
                "__blk",
                F.coalesce(F.sum("__tot").over(tot_w), F.lit(0)).alias("__off"),
            )
        )
        n_rel = marg.agg(F.sum("__cnt").cast("double").alias("__n"))
        ranked = (
            local.join(F.broadcast(offsets), on="__blk")
            .crossJoin(F.broadcast(n_rel))
            .select(
                "__v",
                F.round(
                    (
                        F.col("__off")
                        + F.col("__cum")
                        - (F.col("__cnt") - 1) / 2.0
                        - 0.5
                    )
                    / F.col("__n"),
                    6,
                ).alias(out_col),
            )
        )
        out = df.join(ranked, v.eqNullSafe(F.col("__v")), "left")
        return pins.keep(out.drop("__v"))
