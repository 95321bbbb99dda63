"""Q2 accuracy: summary statistics and distribution histograms.

Reference sites: NB:134/NB:180 (``describe()``), NB:208–216 (per-column
``select(col).toPandas()`` + matplotlib 20-bin histogram — 24 separate
JVM→driver transfers costing 47.7 s, DBC[13]).

The histogram is re-engineered to stay distributed: min/max in one agg,
broadcast-cross-joined back, bucket index by fixed-point math, one
groupBy — two passes total, no driver bulk transfer, works at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import pin

__all__ = ["summary_stats", "histogram", "describe",
           "moving_average", "zscore_by_group",
           "quantiles_exact", "quantiles_approx", "outliers_iqr",
           "grouped_quantiles", "histogram_equidepth",
           "rank_normalize", "correlation_matrix",
           "ab_welch_t", "chi_square_independence", "spearman_corr",
           "grouped_outliers_iqr", "trailing_range_agg",
           "psi_drift", "trimmed_mean_by_group", "winsorized_mean_by_group",
           "group_linear_trend", "benford_profile", "grouped_pearson",
           "ks_statistic", "ks_statistic_grouped", "ks_drift_report",
           "mad_grouped"]


def describe(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Thin pass-through to ``df.describe()`` (reference NB:134/180) —
    string-typed output, presentation-oriented."""
    return df.describe(*(cols or []))


def summary_stats(df: DataFrame, cols: list[str],
                  stddev_decimals: int = 4) -> DataFrame:
    """One-row numeric stats: count / avg / stddev_samp / min / max per
    column, aliased ``{col}_{stat}`` (typed replacement for describe()).

    avg is built from an exact DECIMAL sum divided by the count so the
    result is deterministic across engines (double summation order is
    not); stddev is rounded (SURVEY §7.4 float stability).
    """
    aggs: list = []
    for c in cols:
        dec = F.col(c).cast("decimal(18,4)")
        cnt = F.count(F.col(c))
        aggs += [
            cnt.alias(f"{c}_count"),
            (F.sum(dec).cast("double") / cnt).alias(f"{c}_avg"),
            F.round(F.stddev_samp(F.col(c)), stddev_decimals).alias(f"{c}_std"),
            F.min(F.col(c)).alias(f"{c}_min"),
            F.max(F.col(c)).alias(f"{c}_max"),
        ]
    return df.agg(*aggs)


def moving_average(
    df: DataFrame,
    order_col: str,
    value_col: str,
    window_rows: int = 7,
    partition_cols: list[str] | None = None,
    out_col: str = "moving_avg",
    decimals: int = 6,
) -> DataFrame:
    """Trailing ``window_rows``-row moving average over ``order_col``
    (window frame rowsBetween(-(n-1), 0)) — optionally per partition.
    Rows at the head average over what exists (no NULL padding).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*(partition_cols or []))
        .orderBy(order_col)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    return df.withColumn(out_col, F.round(F.avg(value_col).over(w), decimals))


def zscore_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    out_col: str = "zscore",
    decimals: int = 6,
) -> DataFrame:
    """Per-group z-score via ``applyInPandas`` (grouped-map Pandas UDF):
    each group arrives as one Arrow-backed pandas frame, normalized with
    vectorized numpy (ddof=1 — sample stddev, matching stddev_samp).

    This is deliberately the Python path — the demonstration of grouped
    custom kernels (model scoring, per-group fitting) where built-in
    expressions run out; for plain z-scores prefer the window/agg form
    (same result, no Python). Single-member or zero-variance groups get
    NULL. Groups must fit in one worker's memory — the operative
    constraint of applyInPandas at 100 TB (pre-split giant groups)."""
    # prune BEFORE the groupBy: applyInPandas Arrow-ships every input
    # column to Python, so an unpruned frame pays transfer for columns
    # the kernel never reads (visible as extra scan width in PLANS.md)
    df = df.select(*group_cols, id_col, value_col)
    # pin parallelism: AQE coalesces by shuffle bytes, but this stage's
    # cost is Python per GROUP — an explicit key repartition (exempt
    # from coalescing) keeps the grouped kernel parallel (see
    # temporal.asof_join_cogroup for the measured 13x effect)
    n_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    df = df.repartition(n_parts, *group_cols)
    out_fields = [
        *[df.schema[c] for c in group_cols],
        df.schema[id_col],
        T.StructField(out_col, T.DoubleType()),
    ]
    out_schema = T.StructType(out_fields)

    def kernel(pdf):
        import pandas as pd  # noqa: F401

        std = pdf[value_col].std(ddof=1)
        if std and std > 0:
            z = ((pdf[value_col] - pdf[value_col].mean()) / std).round(decimals)
        else:
            z = pd.Series([None] * len(pdf), dtype="float64")
        out = pdf[[*group_cols, id_col]].copy()
        out[out_col] = z
        return out

    return df.groupBy(*group_cols).applyInPandas(kernel, out_schema)


def histogram(df: DataFrame, col: str, nbins: int = 20) -> DataFrame:
    """Equi-width histogram: (bucket, n) with bucket ∈ [0, nbins).

    Replaces the reference's toPandas+matplotlib binning (NB:208–216,
    SURVEY §2.9 D2) with an in-engine plan: agg(min,max) → broadcast
    cross join (single row) → integer bucket → groupBy. The max value
    lands in the last bucket (least() clamp). Buckets with zero rows are
    absent (join a spine if dense output is needed).
    """
    stats = df.agg(
        F.min(F.col(col)).alias("__mn"), F.max(F.col(col)).alias("__mx")
    )
    x = F.col(col)
    bucket = F.when(
        F.col("__mx") == F.col("__mn"), F.lit(0)
    ).otherwise(
        F.least(
            F.floor((x - F.col("__mn")) * nbins / (F.col("__mx") - F.col("__mn"))),
            F.lit(nbins - 1),
        )
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .select(bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _hist_cumsum(
    hist: DataFrame, value_col: str, sum_cols: list[str],
    by: list[str] | None = None, n_buckets: int = 64,
    inclusive: bool = True,
    bucket_on: Column | None = None,
) -> DataFrame:
    """DISTRIBUTED running sum over a (by…, value, counts…) histogram —
    the two-level range-bucket prefix-sum every cumulative-rank
    operator here shares (quantiles, rank normalization, Spearman
    midranks, KS CDFs). Output: the input columns plus one
    ``__cum_{c}`` per sum column (``inclusive`` picks ≤-value vs
    <-value semantics).

    Level 1 assigns each distinct value an equi-width range bucket
    (order-preserving by construction; the bounds row is a broadcast
    1-row agg — no driver action, plan stays lazy). Level 2 runs the
    ordered window per (by…, bucket) — each partition holds only one
    bucket's values — and adds the bucket offset from a prefix-sum over
    the per-bucket sums table (≤ n_buckets rows per (by…) group, the
    one intentionally-single-partition window, keyed explicitly so
    WindowExec's size-agnostic warning stays honest). No task ever
    holds a whole (by…) group's distinct-value surface: a CONTINUOUS
    column (distinct ≈ rows) spreads over n_buckets × shuffle
    partitions, where the one-level window this replaced collapsed it
    onto a single task.

    The histogram is always pinned (MEMORY_AND_DISK): three consumers
    (bucket sums, the window join, callers' totals) would otherwise
    each re-execute the lineage back to the raw scan — the plan audit
    showed 8 source scans on the unpinned KS form. The pin goes through
    :func:`session.pin`, so :func:`session.release_pins` frees it (the
    returned frame is lazy, so neither this function nor its callers
    can unpersist before the caller's action).

    ``bucket_on`` generalizes level 1 beyond numeric value columns: a
    NUMERIC column expression over ``hist`` that is monotone
    non-decreasing in ``value_col``'s ascending sort order (ties may
    collapse — rows sharing a proxy value share a bucket, which only
    coarsens the split). This is how a STRING value column distributes:
    e.g. its first-6-bytes-as-integer, monotone w.r.t. Spark's bytewise
    UTF8String ordering (see text.vocab_coverage). Default: the value
    column itself cast to double (monotone by construction).

    Exactness: pure integer/decimal column sums, no doubles introduced
    — any n_buckets yields bit-identical cumulative counts (pinned by
    test_ks_statistic_bucket_count_invariant)."""
    from pyspark.sql import Window

    by = list(by or [])
    hist = pin(hist)
    vd = (
        F.col(value_col).cast("double")
        if bucket_on is None
        else bucket_on.cast("double")
    )
    bounds = hist.agg(F.min(vd).alias("__lo"), F.max(vd).alias("__hi"))
    # the double cast is for bucket math only — monotone, so
    # bucket(v1) ≤ bucket(v2) whenever v1 < v2 (ties share a bucket);
    # ordering/grouping keep the original-typed value
    span = F.col("__hi") - F.col("__lo")
    bkt = (
        F.when(
            span > 0,
            F.least(
                F.lit(n_buckets - 1),
                F.floor((vd - F.col("__lo")) / span * n_buckets),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    t = hist.crossJoin(F.broadcast(bounds)).select(
        *by, value_col, *sum_cols, bkt.alias("__bkt")
    )
    bsum = t.groupBy(*by, "__bkt").agg(
        *[F.sum(c).alias(f"__b_{c}") for c in sum_cols]
    )
    # (pmod(__bkt, 1) rather than lit(0): the optimizer strips a
    # foldable literal key, resurrecting the warning)
    woff = (
        Window.partitionBy(*(by or [F.pmod(F.col("__bkt"), F.lit(1))]))
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bsum.select(
        *by, "__bkt",
        *[
            F.coalesce(F.sum(f"__b_{c}").over(woff), F.lit(0))
            .alias(f"__off_{c}")
            for c in sum_cols
        ],
    )
    win = (
        Window.partitionBy(*by, "__bkt")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return t.join(offs, [*by, "__bkt"]).select(
        *by, value_col, *sum_cols,
        *[
            (
                F.col(f"__off_{c}")
                + F.coalesce(F.sum(c).over(win), F.lit(0))
            ).alias(f"__cum_{c}")
            for c in sum_cols
        ],
    )


def quantiles_exact(
    df: DataFrame, col: str, qs: list[float]
) -> DataFrame:
    """EXACT distributed quantiles of ``col``: (q, value) rows, lower
    (type-1 / discrete) interpolation — the value at sorted position
    floor(q·(n−1)) among the n non-null values.

    Scale shape: never sorts the raw rows. One group-by collapses the
    input to its VALUE HISTOGRAM, the cumulative count comes from the
    shared distributed prefix-sum (:func:`_hist_cumsum` — bucketed
    windows, no single-partition stage even when distinct ≈ rows, e.g.
    a continuous double), and each quantile picks the first value whose
    cumulative count covers its target rank. For one-pass fixed-memory
    estimates use ``quantiles_approx`` (GK sketch).
    """
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    hist = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    cum = (
        _hist_cumsum(hist, "value", ["cnt"])
        .select("value", F.col("__cum_cnt").alias("cum"))
        .crossJoin(F.broadcast(total))
    )
    targets = F.explode(
        F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                (F.floor(F.lit(q) * (F.col("n") - 1)) + 1).alias("rank"),
            )
            for q in qs
        ])
    ).alias("t")
    picked = (
        cum.select("value", "cum", targets)
        .where(F.col("cum") >= F.col("t.rank"))
        .groupBy(F.col("t.q").alias("q"))
        .agg(F.min("value").alias("value"))
    )
    return picked.orderBy("q")


def quantiles_approx(
    df: DataFrame, col: str, qs: list[float], accuracy: int = 10000
) -> DataFrame:
    """One-pass fixed-memory quantiles via Spark's Greenwald-Khanna
    sketch (``percentile_approx``) — the unbounded-domain / 100 TB
    default; error ≤ 1/accuracy of rank."""
    arr = df.agg(
        F.percentile_approx(col, qs, accuracy).alias("vals")
    )
    pairs = F.explode(
        F.arrays_zip(
            F.array(*[F.lit(q) for q in qs]).alias("q"),
            F.col("vals").alias("value"),
        )
    ).alias("p")
    return arr.select(pairs).select("p.q", "p.value").orderBy("q")


def outliers_iqr(
    df: DataFrame, col: str, factor: float = 1.5
) -> DataFrame:
    """Tukey-fence outliers: rows where ``col`` falls outside
    [Q1 − factor·IQR, Q3 + factor·IQR], quartiles computed by the exact
    histogram method above and broadcast back — the input scan stays a
    narrow filter."""
    qdf = quantiles_exact(df, col, [0.25, 0.75])
    fences = qdf.agg(
        F.min(F.when(F.col("q") == 0.25, F.col("value"))).alias("q1"),
        F.min(F.when(F.col("q") == 0.75, F.col("value"))).alias("q3"),
    ).select(
        "q1", "q3",
        (F.col("q1") - factor * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + factor * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        df.crossJoin(F.broadcast(fences.select("lo", "hi")))
        .where((F.col(col) < F.col("lo")) | (F.col(col) > F.col("hi")))
        .drop("lo", "hi")
    )


def grouped_quantiles(
    df: DataFrame, group_cols: list[str], col: str, qs: list[float]
) -> DataFrame:
    """Per-group EXACT quantiles: (group_cols…, q, value), same type-1
    rank rule as :func:`quantiles_exact`. Cumulative counts via the
    shared distributed prefix-sum (:func:`_hist_cumsum` with
    ``by=group_cols``): windows are partitioned on (group…, value
    bucket), so BOTH group count and per-group distinct-value
    cardinality parallelize — one giant group with a continuous column
    no longer lands on a single task."""
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    hist = (
        df.where(F.col(col).isNotNull())
        .groupBy(*group_cols, F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    cum = (
        _hist_cumsum(hist, "value", ["cnt"], by=list(group_cols))
        .select(*group_cols, "value", F.col("__cum_cnt").alias("cum"))
        .join(totals, list(group_cols))
    )
    targets = F.explode(
        F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                (F.floor(F.lit(q) * (F.col("n") - 1)) + 1).alias("rank"),
            )
            for q in qs
        ])
    ).alias("t")
    return (
        cum.select(*group_cols, "value", "cum", targets)
        .where(F.col("cum") >= F.col("t.rank"))
        .groupBy(*group_cols, F.col("t.q").alias("q"))
        .agg(F.min("value").alias("value"))
        .orderBy(*group_cols, "q")
    )


def histogram_equidepth(
    df: DataFrame, col: str, nbins: int = 10
) -> DataFrame:
    """Equi-DEPTH histogram: bucket edges at the exact i/nbins
    quantiles (histogram-rank method — no raw-row sort), bucket(x) =
    number of interior edges ≤ x. Duplicate-heavy values pool in one
    bucket (counts then deviate from n/nbins — that's the signal, not
    an error). Output (bucket, n). The edge array is ≤ nbins−1 values
    broadcast onto a narrow projection."""
    qs = [i / nbins for i in range(1, nbins)]
    edges = quantiles_exact(df, col, qs).agg(
        F.array_sort(F.collect_list("value")).alias("__edges")
    )
    x = F.col(col)
    bucket = F.size(
        F.filter(F.col("__edges"), lambda e: x >= e)
    )
    return (
        df.where(x.isNotNull())
        .crossJoin(F.broadcast(edges))
        .select(bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def rank_normalize(
    df: DataFrame, col: str, id_cols: list[str],
    out_col: str = "pct_rank",
) -> DataFrame:
    """Rank-based feature transform: pct_rank(x) = (# values < x) /
    (n − 1) ∈ [0, 1] — the distribution-free normalization for
    heavy-tailed features. Computed against the value HISTOGRAM: the
    cumulative rank table joins back on the value (an equi-join
    shuffled by value — scales; never a global row sort or a giant
    broadcast), and the below-count comes from the shared distributed
    prefix-sum (:func:`_hist_cumsum`, exclusive frame) — no
    single-partition window even on a continuous column."""
    hist = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    total = hist.agg(F.sum("__c").alias("__n"))
    ranks = (
        _hist_cumsum(hist, "__v", ["__c"], inclusive=False)
        .select("__v", F.col("__cum___c").alias("__below"))
        .crossJoin(F.broadcast(total))
    )
    return (
        df.join(ranks, df[col] == ranks["__v"])
        .select(
            *id_cols,
            F.col(col),
            (F.col("__below") / (F.col("__n") - 1)).alias(out_col),
        )
    )


def correlation_matrix(
    df: DataFrame, cols: list[str], decimals: int = 9
) -> DataFrame:
    """Pairwise Pearson correlations as (col_a, col_b, corr) for a < b
    — ONE aggregate pass collecting exact DECIMAL moments (sums,
    squares, cross-products), so the result is deterministic across
    engines and partitionings (double summation order is not); the
    final formula is a handful of scalar double ops. Null handling:
    rows with a null in either column drop from that PAIR only."""
    # Internal aliases are keyed by PAIR INDEX, not by the column
    # names: f"n_{a}_{b}" collides for underscore-bearing names
    # (("x_y","z") and ("x","y_z") both render n_x_y_z → ambiguous
    # reference). The pair list is materialized once so the agg and
    # formula loops agree on the numbering.
    pair_list = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    aggs = []
    for k, (a, b) in enumerate(pair_list):
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        # Gate on the NATIVE type and cast once: when(both, col)
        # is null unless both are present, the null rides through
        # the decimal cast and products, and sum() skips it —
        # identical pairwise-complete moments to gating each
        # decimal product individually, but the codegen for
        # when-over-decimal is verbose enough that 18 gated
        # decimal aggs cost ~2x the janino compile of this form
        # (measured: 6.9s -> 3.4s for the 3-column matrix).
        ga = F.when(both, F.col(a)).cast("decimal(28,6)")
        gb = F.when(both, F.col(b)).cast("decimal(28,6)")
        aggs += [
            # count stays the original sum-of-int form: when+int
            # codegen is cheap (the compile cost was when+decimal)
            # and sum yields NULL on empty input exactly like the
            # oracle's sum(CASE...) — count() would return 0.
            F.sum(F.when(both, 1).otherwise(0)).alias(f"n_{k}"),
            F.sum(ga).alias(f"sa_{k}"),
            F.sum(gb).alias(f"sb_{k}"),
            F.sum(ga * ga).alias(f"saa_{k}"),
            F.sum(gb * gb).alias(f"sbb_{k}"),
            F.sum(ga * gb).alias(f"sab_{k}"),
        ]
    wide = df.agg(*aggs)
    pairs = []
    for k, (a, b) in enumerate(pair_list):
        n = F.col(f"n_{k}").cast("double")
        sa = F.col(f"sa_{k}").cast("double")
        sb = F.col(f"sb_{k}").cast("double")
        saa = F.col(f"saa_{k}").cast("double")
        sbb = F.col(f"sbb_{k}").cast("double")
        sab = F.col(f"sab_{k}").cast("double")
        corr = (n * sab - sa * sb) / (
            F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
        )
        pairs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(corr, decimals).alias("corr"),
            )
        )
    return (
        wide.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.col_a", "p.col_b", "p.corr")
    )


def ab_welch_t(
    df: DataFrame, group_col: str, value_col: str,
    group_a, group_b, decimals: int = 6,
) -> DataFrame:
    """Welch's t statistic for value_col between two groups, computed
    from exact DECIMAL moments folded in ONE aggregate pass — the
    deterministic-across-engines A/B primitive (double sums are
    summation-order-dependent; decimals are not). One row out:
    (n_a, n_b, mean_a, mean_b, t_stat, df_welch)."""
    is_a = F.col(group_col) == group_a
    is_b = F.col(group_col) == group_b
    # Native-type when gate + one cast (see correlation_matrix): null
    # rides through the cast/products and sum() skips it — identical
    # moments with leaner generated code than gating decimal exprs.
    da = F.when(is_a, F.col(value_col)).cast("decimal(28,6)")
    db = F.when(is_b, F.col(value_col)).cast("decimal(28,6)")
    agg = df.where(is_a | is_b).agg(
        # sum-of-int, not count(): NULL on empty filtered input like
        # the oracle's sum(CASE...); when+int codegen is cheap.
        F.sum(F.when(is_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(is_b, 1).otherwise(0)).alias("nb"),
        F.sum(da).alias("sa"),
        F.sum(db).alias("sb"),
        F.sum(da * da).alias("saa"),
        F.sum(db * db).alias("sbb"),
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    saa = F.col("saa").cast("double")
    sbb = F.col("sbb").cast("double")
    ma, mb = sa / na, sb / nb
    va = (saa - sa * sa / na) / (na - 1)   # sample variance
    vb = (sbb - sb * sb / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1)
        + (vb / nb) * (vb / nb) / (nb - 1)
    )
    return agg.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(ma, decimals).alias("mean_a"),
        F.round(mb, decimals).alias("mean_b"),
        F.round(t, decimals).alias("t_stat"),
        F.round(dof, 2).alias("df_welch"),
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str, decimals: int = 6
) -> DataFrame:
    """Pearson chi-square statistic for independence of two
    categorical columns: observed counts in one groupBy, expected from
    broadcast marginals — all counts integer-exact, so the statistic
    is deterministic. One row: (chi2, dof, n)."""
    obs = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("o"))
    ra = df.groupBy(col_a).agg(F.count(F.lit(1)).alias("ra"))
    rb = df.groupBy(col_b).agg(F.count(F.lit(1)).alias("rb"))
    # dof rides the 1-row total aggregate over the RAW rows (one action
    # for the whole result). The struct wrapper makes a NULL category
    # count as a distinct value, matching the marginals' null group;
    # ``cells`` cannot supply it, because its equi-joins drop null keys.
    tot = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct(col_a)).alias("__ka"),
        F.count_distinct(F.struct(col_b)).alias("__kb"),
    )
    cells = (
        obs.join(F.broadcast(ra), col_a)
        .join(F.broadcast(rb), col_b)
        .crossJoin(F.broadcast(tot))
        .select(
            col_a,
            col_b,
            "o",
            (F.col("ra").cast("double") * F.col("rb")
             / F.col("n")).alias("e"),
            "n",
        )
    )
    stat = cells.agg(
        F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
              / F.col("e")).alias("chi2"),
        F.first("n").alias("n"),
    ).crossJoin(F.broadcast(tot.select("__ka", "__kb")))
    # cast pins dof to the certified int type (count_distinct is long)
    return stat.select(
        F.round("chi2", decimals).alias("chi2"),
        ((F.col("__ka") - 1) * (F.col("__kb") - 1))
        .cast("int").alias("dof"),
        F.col("n").cast("long").alias("n"),
    )


def spearman_corr(
    df: DataFrame, col_a: str, col_b: str, decimals: int = 6
) -> DataFrame:
    """Spearman rank correlation: Pearson over MIDRANKS (average rank
    for ties — rank granularity 0.5, exact in decimal), each column's
    midranks from its value histogram (cumulative counts — never a
    global row sort), moments folded as exact decimals. Deterministic
    across engines; one row: (rho, n).

    Null semantics, pinned: each column is ranked over ITS OWN
    non-null population, then the Pearson step keeps complete cases —
    so with one-sided nulls the ranks are computed on a superset of
    the correlated rows (cheaper: one histogram per column, reusable
    across pairs). Classic pairwise-deletion Spearman would re-rank
    within the complete-case subset; on null-free columns (the
    certified lineitem pair) the two definitions coincide. The oracle
    replays this construction exactly."""
    from pyspark.sql import Window

    if col_a == col_b:
        raise ValueError(
            "spearman_corr needs two distinct columns "
            f"(got {col_a!r} twice — rho of a column with itself is 1)"
        )

    def midranks(c):
        hist = (
            df.where(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # below-count via the shared distributed prefix-sum — no
        # single-partition window on a continuous column
        return (
            _hist_cumsum(hist, "v", ["cnt"], inclusive=False)
            .select(
                F.col("v").alias(f"__{c}"),
                (F.col("__cum_cnt") + (F.col("cnt") + 1) / 2)
                .cast("decimal(28,6)")
                .alias(f"__r_{c}"),
            )
        )
    both = df.where(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias(f"__{col_a}"),
             F.col(col_b).alias(f"__{col_b}"))
    ranked = both.join(midranks(col_a), f"__{col_a}").join(
        midranks(col_b), f"__{col_b}")
    ra, rb = F.col(f"__r_{col_a}"), F.col(f"__r_{col_b}")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ra).alias("sa"), F.sum(rb).alias("sb"),
        F.sum(ra * ra).alias("saa"), F.sum(rb * rb).alias("sbb"),
        F.sum(ra * rb).alias("sab"),
    )
    n = F.col("n").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    saa = F.col("saa").cast("double")
    sbb = F.col("sbb").cast("double")
    sab = F.col("sab").cast("double")
    rho = (n * sab - sa * sb) / (
        F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb))
    return agg.select(
        F.round(rho, decimals).alias("rho"),
        F.col("n").cast("long").alias("n"),
    )


def grouped_outliers_iqr(
    df: DataFrame, group_cols: list[str], col: str,
    factor: float = 1.5,
) -> DataFrame:
    """Per-group Tukey-fence outliers: each group gets its OWN exact
    quartile fences (heteroscedastic data makes global fences either
    blind or trigger-happy per segment). Fences from
    :func:`grouped_quantiles` — everything stays under partitioned
    windows — joined back on the group key as a narrow filter."""
    qdf = grouped_quantiles(df, group_cols, col, [0.25, 0.75])
    fences = qdf.groupBy(*group_cols).agg(
        F.min(F.when(F.col("q") == 0.25, F.col("value"))).alias("q1"),
        F.min(F.when(F.col("q") == 0.75, F.col("value"))).alias("q3"),
    ).select(
        *group_cols,
        (F.col("q1") - factor * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + factor * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        df.join(fences, group_cols)
        .where((F.col(col) < F.col("lo")) | (F.col(col) > F.col("hi")))
        .drop("lo", "hi")
    )


def trailing_range_agg(
    df: DataFrame,
    partition_cols: list[str],
    ts_col: str,
    value_col: str,
    window_seconds: int,
    decimals: int = 6,
) -> DataFrame:
    """Event-TIME trailing aggregate: for every row, the sum/count/avg
    of ``value_col`` over the previous ``window_seconds`` (inclusive)
    within its partition — a RANGE window frame over the epoch
    seconds, so irregular event spacing is handled exactly (a rows
    frame would count events, not time). One exchange per partition
    key; rows stream through the frame sorted by time."""
    from pyspark.sql import Window

    secs = F.col(ts_col).cast("long")
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(secs)
        .rangeBetween(-window_seconds, 0)
    )
    return df.select(
        *partition_cols, ts_col, value_col,
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.round(F.sum(value_col).over(w), decimals).alias("sum_window"),
        F.round(F.avg(value_col).over(w), decimals).alias("avg_window"),
    )


def psi_drift(
    a: DataFrame,
    b: DataFrame,
    col: str,
    breaks: list[float],
    laplace: float = 0.5,
    decimals: int = 6,
) -> DataFrame:
    """Population Stability Index between two table versions — the
    distribution-drift monitor (complementing :func:`null_drift`'s
    nullness check): did ``col``'s distribution shift between the
    reference snapshot ``a`` and the new snapshot ``b``?

    Explicit ``breaks`` (typically version A's quantiles, frozen when
    the monitor is set up) cut the domain into len(breaks)+1 buckets;
    NULLs get their own bucket (-1) so a null-rate shift also
    registers. Per bucket: counts, Laplace-smoothed rates (the
    standard guard against ln(0) on empty buckets), and the PSI term
    (rate_b − rate_a)·ln(rate_b / rate_a). Sum of psi_term is the PSI;
    the usual reading is <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.

    Plan: each side is ONE narrow map (a when-chain over the frozen
    breaks — no per-row join) into a k-bucket hash aggregate, then a
    k-row outer join. Cost is two scans regardless of bucket count;
    at 100 TB this is the cheapest shape a two-snapshot comparison can
    have. Counts are exact integers (certifiable cross-engine); the
    smoothed rates and ln-based psi_term are rounded to ``decimals``.
    """
    if sorted(breaks) != list(breaks) or len(set(breaks)) != len(breaks):
        raise ValueError("breaks must be strictly increasing")

    def bucket_of(x):
        expr = F.when(x.isNull(), F.lit(-1))
        for i, brk in enumerate(breaks):
            expr = expr.when(x < F.lit(float(brk)), F.lit(i))
        return expr.otherwise(F.lit(len(breaks)))

    def side(df, name):
        return (
            df.select(bucket_of(F.col(col)).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(f"n_{name}"))
        )

    k = len(breaks) + 2  # value buckets + the null bucket
    joined = side(a, "a").join(side(b, "b"), "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    tot = joined.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    rate_a = (F.col("n_a") + laplace) / (F.col("__ta") + laplace * k)
    rate_b = (F.col("n_b") + laplace) / (F.col("__tb") + laplace * k)
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bucket", "n_a", "n_b",
            F.round(rate_a, decimals).alias("rate_a"),
            F.round(rate_b, decimals).alias("rate_b"),
            F.round((rate_b - rate_a) * F.log(rate_b / rate_a),
                    decimals).alias("psi_term"),
        )
        .orderBy("bucket")
    )


def trimmed_mean_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    trim: float = 0.1,
    decimals: int = 6,
) -> DataFrame:
    """Per-group TRIMMED mean — the outlier-robust center (drop each
    tail's ``trim`` fraction BY RANK, then average what remains; a few
    corrupt extreme values stop moving the estimate). Rank-based
    trimming (percent_rank ∈ [trim, 1 − trim]) keeps the selection a
    deterministic function of the data, so any engine replays it.

    Plan: one window rank per group (shuffle on the group key, per-
    group sort) + one hash aggregate reusing the same partitioning.
    The mean divides an exact DECIMAL sum by the kept-row count —
    deterministic across engines (double sum order is not).
    Output: (group..., n_kept, trimmed_mean)."""
    from pyspark.sql import Window

    if not 0.0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    w = Window.partitionBy(*group_cols).orderBy(value_col)
    pr = F.percent_rank().over(w)
    kept = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("__pr", pr)
        .where((F.col("__pr") >= trim) & (F.col("__pr") <= 1.0 - trim))
    )
    cnt = F.count(F.lit(1))
    return (
        kept.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            cnt.alias("n_kept"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(38,4)"))
                .cast("double") / cnt,
                decimals,
            ).alias("trimmed_mean"),
        )
    )


def group_linear_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    decimals: int = 9,
) -> DataFrame:
    """Per-group OLS trend line y = slope·x + intercept — 'is this
    user's/metric's value drifting over time, and how fast' — from
    exact DECIMAL moments in ONE grouped aggregate (the
    correlation_matrix recipe): sums, squares, and cross-products
    accumulate in decimal so the result is deterministic across
    engines and partitionings; the closed-form solve is a few scalar
    double ops at the end. Rows with a null in either column drop.
    Groups with < 2 points or zero x-variance yield NULL slope.
    Output: (group..., n, slope, intercept)."""
    dx = F.col(x_col).cast("decimal(28,6)")
    dy = F.col(y_col).cast("decimal(28,6)")
    both = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    g = (
        df.where(both)
        .groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dx).alias("__sx"),
            F.sum(dy).alias("__sy"),
            F.sum(dx * dx).alias("__sxx"),
            F.sum(dx * dy).alias("__sxy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    intercept = F.when(denom != 0, (sy - slope * sx) / n)
    return g.select(
        *group_cols,
        "n",
        F.round(slope, decimals).alias("slope"),
        F.round(intercept, decimals).alias("intercept"),
    )


def winsorized_mean_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    trim: float = 0.1,
    decimals: int = 6,
) -> DataFrame:
    """Per-group WINSORIZED mean — the robust-center sibling of
    :func:`trimmed_mean_by_group` that CLAMPS each tail to the trim
    boundary value instead of dropping it (keeps n constant, still
    caps outlier influence; the estimator behind 'cap revenue at the
    99th percentile before averaging').

    Boundaries are rank-based like the trimmed mean: the clamp values
    are the min/max of the rows whose percent_rank lies inside
    [trim, 1 − trim] — a deterministic function of the data that any
    engine replays. Groups where no row survives the rank band (n ≤ 2)
    report NULL bounds and fall back to the PLAIN mean (least/greatest
    skip NULL bounds — identical in both engines, so the fallback is
    part of the certified semantics).

    Plan: one per-group window rank, one tiny per-group bounds
    aggregate joined back on the group key (same partitioning), then
    the clamped decimal-exact mean. Output: (group..., n, lo, hi,
    winsorized_mean)."""
    from pyspark.sql import Window

    if not 0.0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    w = Window.partitionBy(*group_cols).orderBy(value_col)
    ranked = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("__pr", F.percent_rank().over(w))
    )
    inside = (F.col("__pr") >= trim) & (F.col("__pr") <= 1.0 - trim)
    bounds = (
        ranked.groupBy(*group_cols)
        .agg(
            F.min(F.when(inside, F.col(value_col))).alias("lo"),
            F.max(F.when(inside, F.col(value_col))).alias("hi"),
        )
    )
    clamped = ranked.join(bounds, group_cols).withColumn(
        "__cv",
        F.least(F.greatest(F.col(value_col), F.col("lo")), F.col("hi")),
    )
    cnt = F.count(F.lit(1))
    return (
        clamped.groupBy(*[F.col(c) for c in group_cols])
        .agg(
            cnt.alias("n"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
            F.round(
                F.sum(F.col("__cv").cast("decimal(38,4)"))
                .cast("double") / cnt,
                decimals,
            ).alias("winsorized_mean"),
        )
    )


def benford_profile(
    df: DataFrame, col: str, decimals: int = 6
) -> DataFrame:
    """First-significant-digit conformance vs Benford's law — the
    classic fabricated-numbers screen for financial/measurement
    columns (Newcomb 1881 / Benford 1938; Nigrini's audit usage).
    Output: one row per digit 1–9 with (digit, n, observed_p,
    expected_p, chi2_term); Σ chi2_term is the test statistic against
    χ²(8).

    Certification-friendly by construction: the first digit comes from
    string manipulation of the absolute value (no floating log10 —
    regexp strips sign/zeros/dot and takes the lead character, exact
    in any engine), counts are exact integers, and the 9 expected
    proportions are PYTHON-computed literals baked into the plan — the
    oracle bakes the same constants, so no engine ln() is involved
    anywhere. One narrow projection + one 9-group aggregate."""
    import math

    expected = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
    s = F.regexp_replace(
        F.abs(F.col(col)).cast("decimal(38,6)").cast("string"),
        r"[.0]*", "",
    )
    digit = F.substring(s, 1, 1).cast("int")
    from pyspark.sql import Window

    counted = (
        df.where(F.col(col).isNotNull() & (F.abs(F.col(col)) > 0))
        .select(digit.alias("digit"))
        .where(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # total via a window over the ≤9-row digit table — a separate agg +
    # crossJoin would recompute the scan-side aggregate twice
    exp_p = F.array(*[F.lit(expected[d]) for d in range(1, 10)])
    out = (
        counted.withColumn(
            "__total", F.sum("n").over(Window.partitionBy())
        )
        .withColumn("__ep", F.element_at(exp_p, F.col("digit")))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("__total"), decimals)
            .alias("observed_p"),
            F.round("__ep", decimals).alias("expected_p"),
            F.round(
                F.pow(
                    F.col("n") - F.col("__ep") * F.col("__total"), F.lit(2.0)
                ) / (F.col("__ep") * F.col("__total")),
                decimals,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )
    return out


def grouped_pearson(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    decimals: int = 9,
) -> DataFrame:
    """Per-group Pearson correlation of two columns — the 'does price
    track quantity differently per region' profile. Same
    exact-decimal-moment discipline as correlation_matrix (sums,
    squares, cross-products in decimal(28,6); only the final scalar
    formula runs in double), so the result is deterministic across
    engines and partitionings. ONE hash aggregate keyed on the group;
    pairs with a null in either column drop. Output (group…, n, corr);
    corr is null for degenerate groups (n < 2 or zero variance)."""
    both = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    # Native-type when gate + one cast (see correlation_matrix): the
    # null rides through the cast and products, sum() skips it —
    # identical moments, roughly half the codegen of gating each
    # decimal product.
    dx = F.when(both, F.col(x_col)).cast("decimal(28,6)")
    dy = F.when(both, F.col(y_col)).cast("decimal(28,6)")
    agg = df.groupBy(*group_cols).agg(
        # sum-of-int, not count(): matches the oracle's sum(CASE...)
        # shape (equal within any non-empty group; kept for parity
        # with the global-agg variants where empty input differs).
        F.sum(F.when(both, 1).otherwise(0)).alias("__n"),
        F.sum(dx).alias("__sx"),
        F.sum(dy).alias("__sy"),
        F.sum(dx * dx).alias("__sxx"),
        F.sum(dy * dy).alias("__syy"),
        F.sum(dx * dy).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    denom = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    corr = F.when(
        (F.col("__n") >= 2) & (denom > 0),
        (n * sxy - sx * sy) / denom,
    )
    return agg.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        F.round(corr, decimals).alias("corr"),
    )


def _ks_cumulative(
    df: DataFrame, value_col: str, group_col: str,
    group_a, group_b, by: list[str], n_buckets: int,
    max_points: int | None,
):
    """Shared KS engine: per-(by…, value) cumulative a/b counts via the
    library's distributed two-level prefix-sum (:func:`_hist_cumsum` —
    bucketed windows, no task ever holds a whole distinct-value
    surface), plus the per-(by…) totals.

    ``max_points`` quantizes values to equi-width bin left edges FIRST,
    capping the distinct-value surface outright: the empirical CDFs are
    then evaluated only at bin boundaries, which underestimates the
    true D by at most the largest single-bin probability mass
    (≈ 1/max_points for non-pathological distributions).

    Returns (cum, totals): ``cum`` has (by…, __cuma, __cumb); ``totals``
    has (by…, __na, __nb) — 1 row (possibly null counts) when ``by`` is
    empty."""
    t = df.where(
        F.col(group_col).isin(group_a, group_b)
        & F.col(value_col).isNotNull()
    ).select(
        *by,
        F.col(value_col).alias("__v"),
        (F.col(group_col) == group_a).cast("long").alias("__a"),
    )
    if max_points is not None:
        if max_points < 2:
            raise ValueError(f"max_points must be ≥ 2, got {max_points}")
        # quantize values to equi-width bin LEFT EDGES before the
        # histogram: one broadcast 1-row bounds agg, no driver action
        bounds = t.agg(
            F.min(F.col("__v").cast("double")).alias("__lo"),
            F.max(F.col("__v").cast("double")).alias("__hi"),
        )
        span = F.col("__hi") - F.col("__lo")
        vd = F.col("__v").cast("double")
        binned = F.when(
            span > 0,
            F.col("__lo")
            + F.least(
                F.lit(max_points - 1),
                F.floor((vd - F.col("__lo")) / span * max_points),
            )
            * (span / max_points),
        ).otherwise(F.col("__lo"))
        t = (
            t.crossJoin(F.broadcast(bounds))
            .withColumn("__v", binned)
            .drop("__lo", "__hi")
        )
    hist = t.groupBy(*by, "__v").agg(
        F.sum("__a").alias("__ca"),
        F.sum(F.lit(1) - F.col("__a")).alias("__cb"),
    )
    cum = _hist_cumsum(
        hist, "__v", ["__ca", "__cb"], by=by, n_buckets=n_buckets,
    ).select(
        *by,
        F.col("__cum___ca").alias("__cuma"),
        F.col("__cum___cb").alias("__cumb"),
    )
    if by:
        totals = hist.groupBy(*by).agg(
            F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
        )
    else:
        totals = hist.agg(
            F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
        )
    return cum, totals


def ks_statistic(
    df: DataFrame, value_col: str, group_col: str,
    group_a, group_b, decimals: int = 6,
    n_buckets: int = 64, max_points: int | None = None,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic between the value
    distributions of two groups: ``max |F_a(x) − F_b(x)|`` over the
    union of observed values — the standard drift test for a numeric
    feature between two snapshots/cohorts (PSI's rank-free sibling;
    unlike :func:`psi_drift` it needs no binning choice by default).
    Output is ALWAYS exactly one row (ks_stat, n_a, n_b); nulls
    excluded. When either group has zero non-null values there is no
    defined KS distance: ``ks_stat`` is null and the n counts say which
    side was empty (0) — callers doing ``.first()["ks_stat"]`` get an
    explicit None, never a missing row.

    Engine shape: one hash-agg to the per-(value) a/b counts, then a
    DISTRIBUTED two-level prefix-sum over the distinct-value histogram
    (equi-width range buckets + per-bucket windows + an ≤ n_buckets-row
    offset table — see :func:`_ks_cumulative`), then a global max. No
    single task ever holds the whole distinct-value surface, so the
    operator survives a continuous feature where distinct ≈ rows — the
    exact case a drift test is pointed at. The raw rows are never
    sorted. Pure integer counts divided once at the end keep the
    doubles engine-reproducible (and identical to the single-window
    construction this replaced — the route changed, not the numbers).

    ``max_points`` (optional) bins values to that many equi-width bin
    edges first, bounding the histogram outright at the cost of
    underestimating D by at most the largest single-bin probability
    mass — the psi_drift-style escape hatch for adversarially skewed
    value distributions."""
    cum, totals = _ks_cumulative(
        df, value_col, group_col, group_a, group_b, [], n_buckets,
        max_points,
    )
    dmax = cum.crossJoin(F.broadcast(totals)).agg(
        F.round(
            F.max(
                F.abs(
                    F.col("__cuma") / F.col("__na")
                    - F.col("__cumb") / F.col("__nb")
                )
            ),
            decimals,
        ).alias("ks_stat")
    )
    return dmax.crossJoin(F.broadcast(totals)).select(
        "ks_stat",
        F.coalesce(F.col("__na"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("__nb"), F.lit(0)).cast("long").alias("n_b"),
    )


def ks_statistic_grouped(
    df: DataFrame, value_col: str, group_col: str,
    group_a, group_b, by: list[str], decimals: int = 6,
    n_buckets: int = 64, max_points: int | None = None,
) -> DataFrame:
    """Per-segment two-sample KS in ONE pass — the drift-monitor shape
    (:func:`ks_statistic` per ``by`` group, e.g. per country or per
    model version) without a per-segment job loop. Output one row per
    ``by`` group that has any a/b rows: (by…, ks_stat, n_a, n_b);
    ``ks_stat`` is null for a group where either side is empty (the n
    counts say which). Shares the bounded two-level prefix-sum of
    :func:`_ks_cumulative` — every window is partitioned on
    (by…, bucket), so segment count AND value cardinality both
    parallelize."""
    if not by:
        raise ValueError("by must name at least one grouping column")
    cum, totals = _ks_cumulative(
        df, value_col, group_col, group_a, group_b, list(by), n_buckets,
        max_points,
    )
    gaps = cum.join(totals, list(by)).select(
        *by,
        F.abs(
            F.col("__cuma") / F.col("__na")
            - F.col("__cumb") / F.col("__nb")
        ).alias("__d"),
        "__na", "__nb",
    )
    return (
        gaps.groupBy(*by)
        .agg(
            F.round(F.max("__d"), decimals).alias("ks_stat"),
            F.first("__na").cast("long").alias("n_a"),
            F.first("__nb").cast("long").alias("n_b"),
        )
        .orderBy(*by)
    )


def mad_grouped(
    df: DataFrame, group_cols: list[str], col: str, decimals: int = 6,
) -> DataFrame:
    """Per-group median and MAD (median absolute deviation,
    ``median(|x − median_g(x)|)``) — the robust location/scale pair
    that outliers cannot drag the way mean/stddev can; the basis of
    the robust z-score ``|x − med| / (1.4826·mad)``. Both medians use
    the engines' shared even-count midpoint convention (the
    q_median_group certification), rounded to absorb the final-average
    ulp. Output: (group_cols…, median, mad, n).

    Engine shape: grouped median, join the per-group median back
    (broadcast when the group table is small, plain keyed join
    otherwise — AQE decides), grouped median of the absolute
    deviations. Two hash-agg shuffles on the group key; the raw rows
    shuffle once."""
    meds = df.where(F.col(col).isNotNull()).groupBy(*group_cols).agg(
        F.median(col).alias("__med"),
        F.count(F.lit(1)).alias("__n"),
    )
    dev = (
        df.where(F.col(col).isNotNull())
        .join(meds, group_cols)
        .select(
            *group_cols, "__med", "__n",
            F.abs(F.col(col) - F.col("__med")).alias("__ad"),
        )
    )
    return (
        dev.groupBy(*group_cols)
        .agg(
            F.round(F.first("__med"), decimals).alias("median"),
            F.round(F.median("__ad"), decimals).alias("mad"),
            F.first("__n").alias("n"),
        )
        .orderBy(*group_cols)
    )


def ks_drift_report(
    df: DataFrame, cols: list[str], group_col: str,
    group_a, group_b, decimals: int = 6,
    n_buckets: int = 64, max_points: int | None = None,
) -> DataFrame:
    """Whole-table drift report: the two-sample KS statistic for EVERY
    listed numeric column, in ONE pass — the snapshot-vs-snapshot
    monitoring report (each column's view of cohort a vs cohort b).
    Output one row per column: (column, ks_stat, n_a, n_b), ordered by
    column name; a column where either cohort has no non-null values
    keeps its row with a null ks_stat (the n counts say which side).

    Engine shape: melt the columns into (column, value) long form with
    one narrow explode — no per-column job loop — then
    :func:`ks_statistic_grouped` with ``by=["column"]``, so all
    columns share the same bounded two-level prefix-sum
    (:func:`_hist_cumsum`). Values are cast to double for the shared
    value axis (the melt needs one type); exact counts are unaffected.
    """
    if not cols:
        raise ValueError("cols must name at least one column")
    stacked = df.select(
        F.col(group_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(c).cast("double").alias("__val"),
                )
                for c in cols
            ])
        ).alias("__s"),
    ).select(group_col, F.col("__s.column").alias("column"),
             F.col("__s.__val").alias("__val"))
    report = ks_statistic_grouped(
        stacked, "__val", group_col, group_a, group_b, ["column"],
        decimals=decimals, n_buckets=n_buckets, max_points=max_points,
    )
    # groups where a column had a/b rows but ALL values null can drop
    # out of the melt-filter entirely; restore the guaranteed
    # row-per-column contract with a spine join
    from ..partitioning import local_df

    spine = local_df(
        df.sparkSession, [(c,) for c in sorted(cols)], "column string"
    )
    return (
        spine.join(report, "column", "left")
        .select(
            "column", "ks_stat",
            F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        )
        .orderBy("column")
    )
