"""Quality operator suite: Q1 completeness, Q2 accuracy, Q3 consistency,
Q4 uniqueness, Q5 validity (null-pass), Q6 timeliness (missing days).
Fixtures per FIXTURES.md §A2."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators import (
    accuracy,
    completeness,
    consistency,
    timeliness,
    uniqueness,
    validity,
)


@pytest.fixture(scope="module")
def allnull_df(spark):
    # mimics TailNum: one fully-null col, one partially-null
    return spark.createDataFrame(
        [(1, None, "a"), (2, None, None), (3, None, "c")],
        "id int, dead int, part string",
    )


def test_nonnull_counts(spark, allnull_df):
    row = completeness.nonnull_counts(allnull_df).collect()[0]
    assert (row["id"], row["dead"], row["part"]) == (3, 0, 2)


def test_drop_allnull_columns(spark, allnull_df):
    out, dropped = completeness.drop_allnull_columns(allnull_df)
    assert dropped == ["dead"]
    assert out.columns == ["id", "part"]
    assert out.count() == 3


def test_null_profile(spark, allnull_df):
    prof = {r["column"]: (r["n_null"], r["null_ratio"])
            for r in completeness.null_profile(allnull_df).collect()}
    assert prof["dead"] == (3, 1.0)
    assert prof["part"] == (1, round(1 / 3, 6))
    assert prof["id"] == (0, 0.0)
    # invariant: nonnull + null == total per column
    nn = completeness.nonnull_counts(allnull_df).collect()[0]
    for c in allnull_df.columns:
        assert nn[c] + prof[c][0] == 3


def test_histogram_buckets(spark):
    df = spark.createDataFrame([(float(x),) for x in range(100)], "v double")
    got = {r["bucket"]: r["n"] for r in accuracy.histogram(df, "v", nbins=10).collect()}
    # 0..99 into 10 equal bins over [0,99]: every bin gets exactly 10
    # (the max value clamps into bucket 9 instead of opening bucket 10)
    assert sum(got.values()) == 100
    assert got == {b: 10 for b in range(10)}


def test_histogram_constant_column(spark):
    df = spark.createDataFrame([(1.0,), (1.0,)], "v double")
    got = accuracy.histogram(df, "v").collect()
    assert len(got) == 1 and got[0]["bucket"] == 0 and got[0]["n"] == 2


def test_summary_stats(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    row = accuracy.summary_stats(df, ["v"]).collect()[0]
    assert row["v_count"] == 3
    assert row["v_avg"] == 2.0
    assert row["v_min"] == 1.0 and row["v_max"] == 3.0
    assert row["v_std"] == 1.0


def test_value_frequencies(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", None)], "c1 string, c2 string"
    )
    freqs = consistency.value_frequencies(df)
    got = {(r["column"], r["value"]): r["n"] for r in freqs.collect()}
    assert got[("c1", "a")] == 2 and got[("c1", "b")] == 1
    assert got[("c2", None)] == 1


def test_value_frequencies_capped(spark):
    df = spark.createDataFrame([(str(i % 5),) for i in range(50)], "c string")
    out = consistency.value_frequencies_capped(df, ["c"], top_k=3).collect()
    assert len(out) == 3
    assert all(r["approx_n_distinct"] >= 4 for r in out)


@pytest.fixture(scope="module")
def dup_df(spark):
    # 2 exact-dup pairs + compound-key dups differing elsewhere
    rows = [
        ("ORD", "AA", 100, "x"), ("ORD", "AA", 100, "x"),   # exact pair 1
        ("SFO", "UA", 200, "y"), ("SFO", "UA", 200, "y"),   # exact pair 2
        ("JFK", "DL", 300, "a"), ("JFK", "DL", 300, "b"),   # compound only
        ("LAX", "WN", 400, "z"),
    ]
    return spark.createDataFrame(
        rows, "Origin string, Carrier string, FlightNum int, other string"
    )


def test_exact_duplicates(spark, dup_df):
    assert uniqueness.exact_duplicate_count(dup_df) == 2
    assert uniqueness.dedup(dup_df).count() == 5
    assert uniqueness.dedup_by_hash(dup_df).count() == 5


def test_compound_key_duplicates(spark, dup_df):
    keys = ["Origin", "Carrier", "FlightNum"]
    assert uniqueness.key_duplicate_count(dup_df, keys) == 3
    groups = {
        (r["Origin"], r["n"])
        for r in uniqueness.key_duplicate_groups(dup_df, keys).collect()
    }
    assert groups == {("ORD", 2), ("SFO", 2), ("JFK", 2)}


def test_validity_nulls_pass(spark):
    df = spark.createDataFrame(
        [(1,), (None,), (0,), (13,)], "Month int"
    )
    rules = [validity.range_rule("month_range", "Month", 1, 12)]
    report = validity.check_rules(df, rules).collect()
    assert report[0]["rule"] == "month_range"
    assert report[0]["n_fail"] == 2  # 0 and 13 fail; NULL passes
    # failures() mirrors filter(~cond): nulls not selected
    fails = validity.failures(df, rules[0]).collect()
    assert sorted(r["Month"] for r in fails) == [0, 13]


def test_validity_report_only(spark):
    df = spark.createDataFrame([(0,), (5,)], "Month int")
    rules = [validity.range_rule("m", "Month", 1, 12)]
    validity.check_rules(df, rules).collect()
    assert df.count() == 2  # rows never removed


def test_missing_days(spark):
    days = [1, 2, 3, 5]  # gap on the 4th (FIXTURES §A2.5)
    df = spark.createDataFrame(
        [(dt.datetime(2008, 1, d, 12, 0),) for d in days], "ts timestamp"
    )
    missing = timeliness.missing_periods(df, "ts").collect()
    assert [str(r["day"]) for r in missing] == ["2008-01-04"]
    cov = {str(r["day"]): r["n_events"]
           for r in timeliness.day_coverage(df, "ts").collect()}
    assert cov == {
        "2008-01-01": 1, "2008-01-02": 1, "2008-01-03": 1,
        "2008-01-04": 0, "2008-01-05": 1,
    }


def test_salted_join_equals_plain_join(spark):
    from databricks_flight_etl_spark.operators import relational

    left = spark.createDataFrame(
        [(1, "hot")] * 50 + [(2, "warm")] * 3 + [(9, "orphan")],
        "k long, lv string",
    )
    right = spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (3, 300.0)], "k long, rv double"
    )
    for how in ("inner", "left"):
        plain = relational.join_broadcast_dim(left, right, "k", how) \
            .select("k", "lv", "rv")
        salted = relational.salted_join(left, right, ["k"], n_salts=4, how=how) \
            .select("k", "lv", "rv")
        assert sorted(map(tuple, plain.collect())) == \
            sorted(map(tuple, salted.collect()))


def test_salted_count_equals_groupby_count(spark):
    from databricks_flight_etl_spark.operators import relational

    df = spark.createDataFrame(
        [(i % 3, f"p{i}") for i in range(100)], "k long, payload string"
    )
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r["k"]: r["count"]
              for r in relational.salted_count(df, ["k"], n_salts=8).collect()}
    assert plain == salted


def test_latest_per_key(spark):
    from databricks_flight_etl_spark.operators import relational

    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 30, "b"), (1, 20, "c"),
         (2, 5, "d"), (3, 7, "e"), (3, 7, "f")],
        "k long, ver long, payload string",
    )
    got = {
        r["k"]: (r["ver"], r["payload"])
        for r in relational.latest_per_key(
            df, ["k"], [F.desc("ver"), F.desc("payload")]
        ).collect()
    }
    # exactly one row per key; ties broken by the full order spec
    assert got == {1: (30, "b"), 2: (5, "d"), 3: (7, "f")}


def test_deterministic_sample_stable_across_partitioning(spark):
    from databricks_flight_etl_spark.operators import relational

    df = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    s1 = {r["k"] for r in
          relational.deterministic_sample(df, "k", 0.2).collect()}
    s2 = {r["k"] for r in
          relational.deterministic_sample(df.repartition(7), "k", 0.2).collect()}
    assert s1 == s2                       # layout-independent
    assert 0.15 < len(s1) / 5000 < 0.25   # ≈ fraction
    sub = {r["k"] for r in
           relational.deterministic_sample(df, "k", 0.05).collect()}
    assert sub <= s1                      # nested thresholds ⇒ nested samples


def test_quantiles_exact_definition(spark):
    """Type-1 quantile: value at sorted position floor(q*(n-1));
    nulls excluded; q=0/1 are min/max."""
    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )

    vals = [5.0, 1.0, 9.0, 3.0, 7.0, None, 3.0]  # sorted: 1,3,3,5,7,9
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {float(r["q"]): r["value"] for r in
           quantiles_exact(df, "x", [0.0, 0.5, 0.9, 1.0]).collect()}
    # n=6: q=0.5 -> pos floor(2.5)=2 -> 3.0 ; q=0.9 -> floor(4.5)=4 -> 7.0
    assert got == {0.0: 1.0, 0.5: 3.0, 0.9: 7.0, 1.0: 9.0}


def test_quantiles_single_value_and_approx(spark):
    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_approx,
        quantiles_exact,
    )

    one = spark.createDataFrame([(42.0,)], "x double")
    got = quantiles_exact(one, "x", [0.0, 0.5, 1.0]).collect()
    assert all(r["value"] == 42.0 for r in got)

    df = spark.range(1001).selectExpr("CAST(id AS DOUBLE) AS x")
    approx = {float(r["q"]): r["value"] for r in
              quantiles_approx(df, "x", [0.1, 0.5, 0.9]).collect()}
    exact = {float(r["q"]): r["value"] for r in
             quantiles_exact(df, "x", [0.1, 0.5, 0.9]).collect()}
    for q in approx:
        assert abs(approx[q] - exact[q]) <= 2  # GK sketch rank error


def test_outliers_iqr_fences(spark):
    from databricks_flight_etl_spark.operators.accuracy import (
        outliers_iqr,
    )

    # 1..100 plus two planted outliers
    rows = [(float(i),) for i in range(1, 101)] + [(1000.0,), (-500.0,)]
    df = spark.createDataFrame(rows, "x double")
    got = sorted(r["x"] for r in outliers_iqr(df, "x").collect())
    assert got == [-500.0, 1000.0]


def test_grouped_quantiles_matches_global_per_group(spark):
    """grouped_quantiles on a key equals quantiles_exact run on each
    group's slice independently."""
    from databricks_flight_etl_spark.operators.accuracy import (
        grouped_quantiles,
        quantiles_exact,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    qs = [0.25, 0.5, 0.9]
    got = {(r["event_type"], float(r["q"])): r["value"]
           for r in grouped_quantiles(ev, ["event_type"], "value", qs)
           .collect()}
    types = [r["event_type"] for r in
             ev.select("event_type").distinct().collect()]
    for t in types:
        want = {float(r["q"]): r["value"] for r in
                quantiles_exact(ev.where(ev.event_type == t), "value", qs)
                .collect()}
        for q in qs:
            assert got[(t, q)] == want[q]


def test_diff_tables_statuses(spark):
    from databricks_flight_etl_spark.operators.uniqueness import (
        diff_tables,
    )

    a = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 20.0), (3, "z", 30.0)],
        "k int, s string, v double")
    b = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 99.0), (4, "w", 40.0)],
        "k int, s string, v double")
    got = {r["k"]: r["status"]
           for r in diff_tables(a, b, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added"}
    # compare_cols restriction: v ignored -> 2 becomes unchanged
    got2 = {r["k"]: r["status"]
            for r in diff_tables(a, b, ["k"], ["s"]).collect()}
    assert got2[2] == "unchanged"


def test_skew_report_and_equidepth(spark):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.accuracy import (
        histogram_equidepth,
    )
    from databricks_flight_etl_spark.operators.uniqueness import (
        skew_report,
    )

    df = spark.range(100).select(
        F.when(F.col("id") < 60, 1).otherwise(F.col("id")).alias("k"))
    top = skew_report(df, ["k"], top_k=1).collect()[0]
    assert top["k"] == 1 and top["cnt"] == 60
    assert abs(top["share"] - 0.6) < 1e-9
    # 41 groups: one of 60 and 40 singletons -> mean 100/41
    assert abs(top["x_mean"] - 60 / (100 / 41)) < 0.01

    vals = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS x")
    hist = {r["bucket"]: r["n"] for r in
            histogram_equidepth(vals, "x", nbins=10).collect()}
    assert sum(hist.values()) == 1000
    assert all(abs(n - 100) <= 1 for n in hist.values())


def test_incremental_dedup_daily_crawl(spark):
    from databricks_flight_etl_spark.operators.dedup import (
        corpus_digests,
        incremental_dedup,
    )

    day1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string")
    day2 = spark.createDataFrame(
        [(10, "ALPHA "),        # normalizes to a seen digest -> dropped
         (11, "gamma"), (12, "gamma"),  # within-batch dup -> keep 11
         (13, "delta")],
        "doc_id long, text string")
    seen = corpus_digests(day1, "text")
    kept = sorted(r["doc_id"] for r in
                  incremental_dedup(day2, seen, "text", "doc_id")
                  .collect())
    assert kept == [11, 13]


def test_rank_normalize_and_corr_matrix(spark):
    import math

    from databricks_flight_etl_spark.operators.accuracy import (
        correlation_matrix,
        rank_normalize,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 20.0), (4, 40.0)], "id int, x double")
    got = {r["id"]: r["pct_rank"]
           for r in rank_normalize(df, "x", ["id"]).collect()}
    # below-counts: 10->0, 20->1 (both), 40->3 ; n-1 = 3
    assert got == {1: 0.0, 2: 1 / 3, 3: 1 / 3, 4: 1.0}

    rows = [(float(i), 2.0 * i + 1, float(-i), float(i % 3))
            for i in range(50)]
    cdf = spark.createDataFrame(rows, "a double, b double, c double, d double")
    corr = {(r["col_a"], r["col_b"]): r["corr"] for r in
            correlation_matrix(cdf, ["a", "b", "c"]).collect()}
    assert math.isclose(corr[("a", "b")], 1.0, abs_tol=1e-9)
    assert math.isclose(corr[("a", "c")], -1.0, abs_tol=1e-9)
    assert math.isclose(corr[("b", "c")], -1.0, abs_tol=1e-9)


def test_corr_matrix_pairwise_complete_nulls(spark):
    """Pairwise-complete null semantics pinned against a pure-Python
    reference: a row drops from a PAIR's moments iff either of that
    pair's columns is null there — other pairs still use it. Guards
    the round-11 native-when-gate rewrite (null must ride through the
    decimal cast and products into the null-skipping sums)."""
    import math

    from databricks_flight_etl_spark.operators.accuracy import (
        correlation_matrix,
    )

    rows = [
        (1.0, 2.0, None),
        (2.0, None, 5.0),
        (3.0, 5.0, 1.0),
        (None, 7.0, 2.0),
        (5.0, 11.0, 4.0),
        (6.0, 13.0, None),
        (7.0, 17.0, 8.0),
    ]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in
           correlation_matrix(df, ["a", "b", "c"], decimals=9).collect()}

    def ref(i, j):
        xs = [(r[i], r[j]) for r in rows
              if r[i] is not None and r[j] is not None]
        n = len(xs)
        sx = sum(x for x, _ in xs); sy = sum(y for _, y in xs)
        sxx = sum(x * x for x, _ in xs); syy = sum(y * y for _, y in xs)
        sxy = sum(x * y for x, y in xs)
        return (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )

    for (pa, pb), (i, j) in {("a", "b"): (0, 1), ("a", "c"): (0, 2),
                             ("b", "c"): (1, 2)}.items():
        assert math.isclose(got[(pa, pb)], round(ref(i, j), 9),
                            abs_tol=1e-9), (pa, pb)


def test_corr_matrix_underscore_names_no_alias_collision(spark):
    """Column names containing underscores must not collide in the
    internal moment aliases: ("x_y","z") and ("x","y_z") both rendered
    n_x_y_z under the old name-keyed scheme (ambiguous reference);
    aliases are keyed by pair index now."""
    import math

    from databricks_flight_etl_spark.operators.accuracy import (
        correlation_matrix,
    )

    rows = [(float(i), 2.0 * i, float(-i), 3.0 * i + 1) for i in range(20)]
    df = spark.createDataFrame(
        rows, "x_y double, z double, x double, y_z double")
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in
           correlation_matrix(df, ["x_y", "z", "x", "y_z"]).collect()}
    assert len(got) == 6
    assert math.isclose(got[("x_y", "z")], 1.0, abs_tol=1e-9)
    assert math.isclose(got[("x", "y_z")], -1.0, abs_tol=1e-9)


def test_ab_welch_null_values_count_in_n(spark):
    """The certified (and oracle-replayed) quirk: group counts n_a/n_b
    include rows whose VALUE is null (the CASE counts by group only),
    while the moment sums skip them — pinned so a refactor can't
    silently 'fix' it out of oracle agreement."""
    from databricks_flight_etl_spark.operators.accuracy import (
        ab_welch_t,
    )

    rows = [("a", 1.0), ("a", None), ("a", 3.0), ("a", 4.0),
            ("b", 2.0), ("b", 4.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    r = ab_welch_t(df, "g", "x", "a", "b").collect()[0]
    assert r["n_a"] == 4 and r["n_b"] == 3        # null rows counted
    assert r["mean_a"] == 2.0                     # (1+3+4)/4, not /3
    assert r["mean_b"] == 2.0                     # (2+4)/3


def test_stratified_sample_n_balanced(spark):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sampling import (
        stratified_sample_n,
    )

    # class a: 100 rows, class b: 5 rows, class c: 10 rows
    df = spark.range(115).select(
        F.col("id"),
        F.when(F.col("id") < 100, "a")
        .when(F.col("id") < 105, "b").otherwise("c").alias("cls"),
    )
    out = stratified_sample_n(df, "cls", "id", 10)
    counts = {r["cls"]: r["n"] for r in
              out.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 10, "b": 5, "c": 10}  # short strata keep all
    # deterministic under repartitioning
    again = stratified_sample_n(df.repartition(7), "cls", "id", 10)
    assert {r["id"] for r in out.collect()} == \
           {r["id"] for r in again.collect()}


def test_chi_square_dof_counts_null_category(spark):
    """A NULL category is a level of its variable: dof counts it, as
    the DuckDB oracle's ``(SELECT count(*) FROM ra) - 1`` form does
    over the same rows. Its cells drop out of the chi2 sum on both
    engines (their equi-joins skip null keys)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from databricks_flight_etl_spark.operators.accuracy import (
        chi_square_independence,
    )

    kinds = ["click", "view", "buy", None]
    rows = [(kinds[(i * 7) % 4 if i % 5 else 3], i * 13 % 29)
            for i in range(60)]
    ev = spark.createDataFrame(rows, "event_type string, user_id long")
    got = chi_square_independence(
        ev.withColumn("bucket", (F.col("user_id") % 3).cast("int")),
        "event_type", "bucket",
    ).collect()[0]
    con = duckdb.connect()
    con.register(
        "events", pd.DataFrame(rows, columns=["event_type", "user_id"])
    )
    want = con.execute(entrymod.oracle_sql()["q_chi_square"]).fetchone()
    assert got["dof"] == want[1] == (4 - 1) * (3 - 1)
    assert got["n"] == want[2]
    assert got["chi2"] == pytest.approx(want[0], abs=1e-6)


def test_statistics_trio_against_scipy_free_references(spark):
    """Welch t / chi-square / Spearman checked against hand-computed
    references on small inputs (no scipy in-container)."""
    import math

    from databricks_flight_etl_spark.operators.accuracy import (
        ab_welch_t,
        chi_square_independence,
        spearman_corr,
    )

    # Welch: groups with known means/vars
    a_vals = [1.0, 2.0, 3.0, 4.0]      # mean 2.5, var 5/3
    b_vals = [2.0, 4.0, 6.0]           # mean 4, var 4
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, x double")
    r = ab_welch_t(df, "g", "x", "a", "b").collect()[0]
    se2 = (5 / 3) / 4 + 4 / 3
    t_ref = (2.5 - 4) / math.sqrt(se2)
    assert abs(r["t_stat"] - round(t_ref, 6)) < 1e-9
    assert r["n_a"] == 4 and r["n_b"] == 3

    # chi-square: perfectly independent 2x2 -> statistic 0
    ind = spark.createDataFrame(
        [("x", 0)] * 10 + [("x", 1)] * 10 + [("y", 0)] * 30
        + [("y", 1)] * 30, "c string, b int")
    c = chi_square_independence(ind, "c", "b").collect()[0]
    assert c["chi2"] == 0.0 and c["dof"] == 1 and c["n"] == 80

    # Spearman: monotone -> 1, anti-monotone -> -1, ties handled
    mono = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (3.0, 25.0), (4.0, 40.0)],
        "a double, b double")
    assert spearman_corr(mono, "a", "b").collect()[0]["rho"] == 1.0
    anti = spark.createDataFrame(
        [(1.0, 40.0), (2.0, 30.0), (3.0, 20.0), (4.0, 10.0)],
        "a double, b double")
    assert spearman_corr(anti, "a", "b").collect()[0]["rho"] == -1.0


def test_dataset_card_semantics(spark):
    from databricks_flight_etl_spark.operators.completeness import (
        dataset_card,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", None), (None, 2)],
        "s string, x int")
    card = {r["column"]: r for r in dataset_card(df).collect()}
    assert card["s"]["n_nonnull"] == 3
    assert card["s"]["n_distinct"] == 2
    assert card["s"]["top_v"] == "a" and card["s"]["top_n"] == 2
    assert card["x"]["n_nonnull"] == 3
    assert card["x"]["top_v"] == "2"  # ties broken by count then value
    assert card["x"]["min_v"] == "1" and card["x"]["max_v"] == "2"


def test_null_drift_detects_regression(spark):
    from databricks_flight_etl_spark.operators.completeness import (
        null_drift,
    )

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None), (4, "z")], "k int, v string")
    b = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "z")], "k int, v string")
    got = {r["column"]: r for r in null_drift(a, b).collect()}
    assert got["v"]["null_ratio_a"] == 0.25
    assert got["v"]["null_ratio_b"] == 0.75
    assert got["v"]["drift"] == 0.5
    assert got["k"]["drift"] == 0.0


def test_grouped_outliers_and_trailing_range(spark):
    from databricks_flight_etl_spark.operators.accuracy import (
        grouped_outliers_iqr,
        trailing_range_agg,
    )

    # group 'a' tight around 10 with one spike; 'b' wide (no outlier)
    rows = ([("a", float(v)) for v in [9, 10, 10, 11, 10, 9, 11, 10]]
            + [("a", 100.0)]
            + [("b", float(v)) for v in [0, 50, 100, 150, 200]])
    df = spark.createDataFrame(rows, "g string, x double")
    out = [(r["g"], r["x"])
           for r in grouped_outliers_iqr(df, ["g"], "x").collect()]
    assert out == [("a", 100.0)]

    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0)
    ev = spark.createDataFrame(
        [(1, base, 10.0),
         (1, base + dt.timedelta(minutes=30), 20.0),
         (1, base + dt.timedelta(minutes=61), 5.0),   # 12:00 expired
         (2, base, 7.0)],
        "u long, ts timestamp, v double")
    got = {(r["u"], r["ts"]): (r["n_window"], r["sum_window"])
           for r in trailing_range_agg(ev, ["u"], "ts", "v", 3600)
           .collect()}
    assert got[(1, base)] == (1, 10.0)
    assert got[(1, base + dt.timedelta(minutes=30))] == (2, 30.0)
    # at +61min the 12:00 row (3660s ago) is outside the 3600s frame
    assert got[(1, base + dt.timedelta(minutes=61))] == (2, 25.0)
    assert got[(2, base)] == (1, 7.0)


def test_psi_drift(spark):
    """Identical snapshots give ~zero PSI; a shifted snapshot moves
    mass between buckets and every psi_term is finite (Laplace guard
    covers empty buckets); the null bucket registers nullness drift."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.accuracy import psi_drift

    a = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS v")
    same = psi_drift(a, a, "v", [25.0, 50.0, 75.0]).collect()
    assert sum(abs(r["psi_term"]) for r in same) < 1e-9
    b = spark.range(1000).selectExpr(
        "CASE WHEN id % 5 = 0 THEN NULL "
        "ELSE CAST(id % 100 AS DOUBLE) + 30 END AS v"
    )
    out = psi_drift(a, b, "v", [25.0, 50.0, 75.0]).collect()
    by_bucket = {r["bucket"]: r for r in out}
    assert by_bucket[-1]["n_a"] == 0 and by_bucket[-1]["n_b"] == 200
    psi = sum(r["psi_term"] for r in out)
    assert psi > 0.1  # the standard "drifting" threshold
    assert all(r["psi_term"] == r["psi_term"] for r in out)  # no NaN
    import pytest as _pytest
    with _pytest.raises(ValueError):
        psi_drift(a, b, "v", [50.0, 25.0])


def test_vocab_coverage(spark):
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, text string"
    )
    out = sorted(
        ((r["rank"], r["token"], r["n"], r["coverage"])
         for r in vocab_coverage(df, "text").collect())
    )
    assert out == [
        (1, "a", 3, 0.5), (2, "b", 2, round(5 / 6, 6)), (3, "c", 1, 1.0)
    ]
    assert vocab_coverage(df, "text", k=2).count() == 2


def test_fd_violations(spark):
    from databricks_flight_etl_spark.operators.consistency import (
        fd_violations,
    )

    rows = [
        (1, "US"), (1, "US"),           # consistent
        (2, "US"), (2, "DE"), (2, "FR"),  # violation, 3 values
        (3, None), (3, "JP"),           # null doesn't contradict
    ]
    df = spark.createDataFrame(rows, "user_id long, country string")
    got = {r["user_id"]: (r["n_rhs_values"], r["examples"])
           for r in fd_violations(df, ["user_id"], "country",
                                  max_examples=2).collect()}
    assert got == {2: (3, ["DE", "FR"])}


def test_trimmed_mean_by_group(spark):
    """A wild outlier moves the plain mean but not the trimmed one."""
    from databricks_flight_etl_spark.operators.accuracy import (
        trimmed_mean_by_group,
    )

    vals = list(range(1, 20)) + [100000]           # 20 rows, one bomb
    df = spark.createDataFrame(
        [("a", float(v)) for v in vals], "g string, v double"
    )
    out = trimmed_mean_by_group(df, ["g"], "v", trim=0.1).collect()[0]
    # pr = (rank-1)/(n-1), n=20: kept are values 3..18 (16 rows,
    # pr in [0.1, 0.9]) -> the outlier is gone, the center mid-range
    assert out["n_kept"] == 16
    assert 9 < out["trimmed_mean"] < 12
    import pytest as _p
    with _p.raises(ValueError):
        trimmed_mean_by_group(df, ["g"], "v", trim=0.5)


def test_group_linear_trend(spark):
    """Exact line recovered; degenerate groups yield NULL slope."""
    from databricks_flight_etl_spark.operators.accuracy import (
        group_linear_trend,
    )

    rows = (
        [("up", float(x), 3.0 * x + 2.0) for x in range(10)]
        + [("flat", float(x), 7.0) for x in range(10)]
        + [("const_x", 5.0, float(y)) for y in range(3)]  # zero x-var
        + [("single", 1.0, 1.0)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: (r["slope"], r["intercept"], r["n"])
           for r in group_linear_trend(df, ["g"], "x", "y").collect()}
    assert got["up"] == (3.0, 2.0, 10)
    assert got["flat"] == (0.0, 7.0, 10)
    assert got["const_x"][0] is None
    assert got["single"][0] is None


def test_concentration_profile(spark):
    import math

    from databricks_flight_etl_spark.operators.consistency import (
        concentration_profile,
    )

    df = spark.createDataFrame(
        [("a", "x")] * 8 + [("a", "y")] * 2, "c1 string, c2 string"
    )
    got = {r["column"]: r for r in concentration_profile(df).collect()}
    assert got["c1"]["entropy"] == 0.0 and got["c1"]["top_share"] == 1.0
    want_h = -(0.8 * math.log(0.8) + 0.2 * math.log(0.2))
    assert abs(got["c2"]["entropy"] - want_h) < 1e-6
    assert got["c2"]["gini"] == round(1 - (0.64 + 0.04), 6)
    assert got["c2"]["top_share"] == 0.8
    # NULL counts as a value
    withnull = spark.createDataFrame(
        [("a",), (None,)], "c1 string"
    )
    prof = concentration_profile(withnull, ["c1"]).collect()[0]
    assert prof["n_distinct"] == 2 and prof["top_share"] == 0.5
    # empty input: empty profile, no divide-by-zero
    assert concentration_profile(df.limit(0)).count() == 0


def test_winsorized_mean_by_group(spark):
    """Outlier is clamped, not dropped: n stays 20 and the center is
    robust; degenerate 2-row groups yield NULL."""
    from databricks_flight_etl_spark.operators.accuracy import (
        winsorized_mean_by_group,
    )

    vals = list(range(1, 20)) + [100000]
    df = spark.createDataFrame(
        [("a", float(v)) for v in vals]
        + [("tiny", 1.0), ("tiny", 2.0)],
        "g string, v double",
    )
    got = {r["g"]: r for r in winsorized_mean_by_group(
        df, ["g"], "v", trim=0.1).collect()}
    a = got["a"]
    assert a["n"] == 20                       # nothing dropped
    assert a["lo"] == 3.0 and a["hi"] == 18.0
    # clamped sum: (1,2)->3 twice + 3..18 + (19,100000)->18 twice
    # = 6 + 168 + 36 = 210 -> mean 10.5
    assert a["winsorized_mean"] == 10.5
    t = got["tiny"]
    # empty rank band: NULL bounds, plain-mean fallback
    assert t["lo"] is None and t["winsorized_mean"] == 1.5


def test_sequence_gaps(spark):
    from databricks_flight_etl_spark.operators.timeliness import (
        sequence_gaps,
    )

    rows = [(1, s) for s in (10, 11, 13, 15, 15)] + [(2, 7)]
    df = spark.createDataFrame(rows, "k long, seq long")
    got = {r["k"]: (r["n_distinct"], r["min_seq"], r["max_seq"],
                    r["n_missing"])
           for r in sequence_gaps(df, ["k"], "seq").collect()}
    # key 1: span 10..15 = 6 slots, 4 distinct (dup 15 not double-
    # counted) -> 2 missing (12, 14); key 2: single id, no gap
    assert got == {1: (4, 10, 15, 2), 2: (1, 7, 7, 0)}


def test_k_anonymity_and_l_diversity(spark):
    from databricks_flight_etl_spark.operators import privacy

    rows = [
        # (zip, age_band, diagnosis)
        ("94110", "30-40", "flu"), ("94110", "30-40", "cold"),
        ("94110", "30-40", "flu"),                      # class of 3, 2 diag
        ("94110", "40-50", "flu"),                      # class of 1 -> k risk
        ("02139", "30-40", "mono"), ("02139", "30-40", "mono"),
        ("02139", "30-40", "mono"),                     # 3 members, 1 diag -> l risk
    ]
    df = spark.createDataFrame(rows, "zip string, age string, diag string")

    viol = {(r["zip"], r["age"]): r["class_size"]
            for r in privacy.k_anonymity_report(df, ["zip", "age"], k=3)
            .collect()}
    assert viol == {("94110", "40-50"): 1}

    kept = privacy.k_anonymize(df, ["zip", "age"], k=3)
    assert kept.count() == 6
    assert kept.where("age = '40-50'").count() == 0
    assert set(kept.columns) == {"zip", "age", "diag"}

    ldiv = {(r["zip"], r["age"]): (r["class_size"],
                                   r["n_distinct_sensitive"])
            for r in privacy.l_diversity_report(
                df, ["zip", "age"], "diag", l=2).collect()}
    assert ldiv == {("94110", "40-50"): (1, 1), ("02139", "30-40"): (3, 1)}

    # a k-anonymous, l-diverse table passes both
    ok = df.where("zip = '94110' and age = '30-40'")
    assert privacy.k_anonymity_report(ok, ["zip", "age"], k=3).count() == 0
    assert privacy.l_diversity_report(ok, ["zip", "age"], "diag",
                                      l=2).count() == 0


def test_benford_profile(spark):
    import math

    from databricks_flight_etl_spark.operators.accuracy import (
        benford_profile,
    )

    # construct a corpus with known first-digit counts: 30x lead-1,
    # 10x lead-2, plus zeros/nulls/negatives/sub-1 values to exercise
    # the significant-digit extraction
    rows = (
        [(float(10 + i % 9),) for i in range(0, 30)]  # 10..18 -> lead 1
        + [(2000.5,)] * 5 + [(-0.025,)] * 5           # lead 2
        + [(0.0,), (None,)]
    )
    rows = [(i, v) for i, (v,) in enumerate(rows)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {r["digit"]: r for r in benford_profile(df, "v").collect()}
    assert set(got) == {1, 2}
    assert got[1]["n"] == 30 and got[2]["n"] == 10
    assert got[1]["observed_p"] == 0.75 and got[2]["observed_p"] == 0.25
    assert got[1]["expected_p"] == round(math.log10(2), 6)
    # chi2 term recomputes exactly
    e1 = math.log10(2) * 40
    assert abs(got[1]["chi2_term"] - (30 - e1) ** 2 / e1) < 1e-5


def test_diff_cells(spark):
    """Changed cells surface per column with both values; null->value
    and value->null count as changes; added/removed keys appear once
    as __row__ markers; unchanged rows emit nothing."""
    from databricks_flight_etl_spark.operators.uniqueness import (
        diff_cells,
    )

    base = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", None), (4, "D", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "A", 10.0),        # unchanged
         (2, "X", 20.0),        # s changed
         (3, "C", 33.0),        # v null -> value
         (5, "E", 50.0)],       # added; 4 removed
        "k int, s string, v double",
    )
    got = {(r["k"], r["column"]): (r["base_value"], r["new_value"])
           for r in diff_cells(base, new, ["k"]).collect()}
    assert got == {
        (2, "s"): ("B", "X"),
        (3, "v"): (None, "33.0"),
        (4, "__row__"): ("present", None),
        (5, "__row__"): (None, "present"),
    }


def test_grouped_pearson(spark):
    import math

    from databricks_flight_etl_spark.operators.accuracy import (
        grouped_pearson,
    )

    rows = (
        [("a", float(x), 2.0 * x + 1) for x in range(10)]      # r = 1
        + [("b", float(x), -3.0 * x) for x in range(10)]       # r = -1
        + [("c", 1.0, 5.0), ("c", 1.0, 7.0)]                   # zero var
        + [("d", 1.0, 2.0)]                                    # n < 2
        + [("e", None if x is None else float(x),
            None if y is None else float(y)) for x, y in
           [(1, 2), (2, 1), (3, 4), (4, 3), (None, 9), (9, None)]]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: (r["n"], r["corr"])
           for r in grouped_pearson(df, ["g"], "x", "y").collect()}
    assert got["a"] == (10, 1.0)
    assert got["b"] == (10, -1.0)
    assert got["c"] == (2, None)
    assert got["d"] == (1, None)
    n, r = got["e"]
    assert n == 4  # null-in-either rows dropped
    # manual Pearson over the 4 complete pairs
    xs, ys = [1, 2, 3, 4], [2, 1, 4, 3]
    mx, my = 2.5, 2.5
    num = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
    den = math.sqrt(sum((a - mx) ** 2 for a in xs)) * math.sqrt(
        sum((b - my) ** 2 for b in ys))
    assert abs(r - num / den) < 1e-9


def test_association_pairs(spark):
    from databricks_flight_etl_spark.operators.consistency import (
        association_pairs,
    )

    # 4 baskets; (1,2) together in 3 of them; item 3 alone once;
    # duplicate line (basket 10, item 1) must not inflate counts
    rows = [
        (10, 1), (10, 2), (10, 1),
        (11, 1), (11, 2),
        (12, 1), (12, 2), (12, 3),
        (13, 3),
    ]
    df = spark.createDataFrame(rows, "basket long, item long")
    got = {(r["item_a"], r["item_b"]): r
           for r in association_pairs(df, "basket", "item",
                                      min_pair_count=2).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["n_ab"] == 3
    assert r["support"] == 0.75            # 3 of 4 baskets
    assert r["confidence"] == 1.0          # item 1 in 3 baskets, all with 2
    assert r["lift"] == round(3 * 4 / (3 * 3), 6)

    # min_pair_count=1 surfaces the (1,3)/(2,3) singles too
    all_pairs = {(r["item_a"], r["item_b"])
                 for r in association_pairs(df, "basket", "item",
                                            min_pair_count=1).collect()}
    assert all_pairs == {(1, 2), (1, 3), (2, 3)}

    empty = spark.createDataFrame([], "basket long, item long")
    assert association_pairs(empty, "basket", "item").count() == 0


def test_association_pairs_mega_basket_guard(spark):
    from databricks_flight_etl_spark.operators.consistency import (
        association_pairs,
    )

    # basket 99 has 5 items (over the cap of 3) and must be dropped
    # BEFORE pair generation and excluded from every denominator
    rows = (
        [(10, 1), (10, 2), (11, 1), (11, 2)]
        + [(99, i) for i in range(1, 6)]
    )
    df = spark.createDataFrame(rows, "basket long, item long")
    stats: dict = {}
    got = {(r["item_a"], r["item_b"]): r
           for r in association_pairs(df, "basket", "item",
                                      min_pair_count=1,
                                      max_basket_size=3,
                                      stats_out=stats).collect()}
    assert stats == {"n_baskets": 2, "oversized_baskets": 1}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["n_ab"] == 2
    assert r["support"] == 1.0     # 2 of 2 KEPT baskets
    assert r["lift"] == round(2 * 2 / (2 * 2), 6)

    # default cap (10k) keeps everything: pairs from basket 99 appear
    loose = association_pairs(df, "basket", "item", min_pair_count=1)
    assert loose.where("item_a = 4 and item_b = 5").count() == 1


def test_association_pairs_empty_schema_matches_item_type(spark):
    from databricks_flight_etl_spark.operators.consistency import (
        association_pairs,
    )

    # empty-input schema must inherit the item column's type (string
    # here), matching the non-empty output so unions/writers agree
    empty = spark.createDataFrame([], "basket long, item string")
    out = association_pairs(empty, "basket", "item")
    assert out.count() == 0
    nonempty = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], "basket long, item string"
    )
    got = association_pairs(nonempty, "basket", "item", min_pair_count=2)
    assert [f.dataType for f in out.schema.fields] == \
           [f.dataType for f in got.schema.fields]
    assert got.schema["item_a"].dataType.simpleString() == "string"


def test_ks_statistic_hand_checked(spark):
    """KS on a tiny hand-computable pair: A={1,2,3,4}, B={3,4,5,6}
    -> max CDF gap at value 2: |2/4 - 0/4| = 0.5."""
    from databricks_flight_etl_spark.operators.accuracy import ks_statistic

    rows = [("a", v) for v in [1.0, 2.0, 3.0, 4.0]] + [
        ("b", v) for v in [3.0, 4.0, 5.0, 6.0]
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    r = ks_statistic(df, "x", "g", "a", "b").first()
    assert (r["ks_stat"], r["n_a"], r["n_b"]) == (0.5, 4, 4)
    # identical distributions -> 0
    same = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)],
        "g string, x double",
    )
    assert ks_statistic(same, "x", "g", "a", "b").first()["ks_stat"] == 0.0


def test_mad_grouped_robust(spark):
    """MAD ignores the outlier the stddev would explode on: group a =
    {1..5, 1000}: median 3.5, |x-3.5| = {2.5,1.5,0.5,0.5,1.5,996.5},
    MAD = 1.5. Null values drop."""
    from databricks_flight_etl_spark.operators.accuracy import mad_grouped

    rows = [("a", float(v)) for v in [1, 2, 3, 4, 5, 1000]] + [
        ("b", 7.0), ("b", None),
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    out = {r["g"]: (r["median"], r["mad"], r["n"])
           for r in mad_grouped(df, ["g"], "x").collect()}
    assert out["a"] == (3.5, 1.5, 6)
    assert out["b"] == (7.0, 0.0, 1)


def test_ks_statistic_one_row_contract(spark):
    """ADVICE r5: ks_statistic must ALWAYS emit exactly one row — an
    absent group yields ks_stat=null with the zero n count naming the
    empty side, never an empty DataFrame or a divide-by-zero null
    surprise."""
    from databricks_flight_etl_spark.operators.accuracy import ks_statistic

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, x double"
    )
    r = ks_statistic(df, "x", "g", "a", "zzz").collect()
    assert len(r) == 1
    assert r[0]["ks_stat"] is None
    assert (r[0]["n_a"], r[0]["n_b"]) == (2, 0)
    # both sides absent (fully empty input)
    r = ks_statistic(df.limit(0), "x", "g", "a", "b").collect()
    assert len(r) == 1
    assert r[0]["ks_stat"] is None
    assert (r[0]["n_a"], r[0]["n_b"]) == (0, 0)


def test_ks_statistic_bucket_count_invariant(spark):
    """The distributed two-level prefix-sum is a pure execution
    strategy: any n_buckets gives the identical exact statistic."""
    import random

    from databricks_flight_etl_spark.operators.accuracy import ks_statistic

    rng = random.Random(11)
    rows = [("a" if i % 2 else "b", rng.gauss(i % 2 * 0.4, 1.0))
            for i in range(600)]
    df = spark.createDataFrame(rows, "g string, x double")
    outs = {
        nb: ks_statistic(df, "x", "g", "a", "b", n_buckets=nb).first()
        for nb in (1, 2, 7, 64, 257)
    }
    base = (outs[64]["ks_stat"], outs[64]["n_a"], outs[64]["n_b"])
    assert base[0] is not None
    for nb, r in outs.items():
        assert (r["ks_stat"], r["n_a"], r["n_b"]) == base, nb


def test_ks_statistic_max_points_bound(spark):
    """max_points quantization only ever UNDERESTIMATES the exact D
    (CDFs evaluated at bin edges), and converges to it as the bin
    count grows."""
    import random

    from databricks_flight_etl_spark.operators.accuracy import ks_statistic

    rng = random.Random(23)
    rows = [("a", rng.gauss(0, 1)) for _ in range(800)] + [
        ("b", rng.gauss(0.5, 1)) for _ in range(800)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    exact = ks_statistic(df, "x", "g", "a", "b").first()["ks_stat"]
    prev = -1.0
    for mp in (8, 64, 512):
        binned = ks_statistic(
            df, "x", "g", "a", "b", max_points=mp
        ).first()["ks_stat"]
        assert binned <= exact + 1e-9
        assert binned >= prev - 0.05  # coarse monotone-ish convergence
        prev = binned
    assert exact - prev < 0.02  # 512 bins ≈ exact on a smooth pair


def test_ks_statistic_grouped_matches_per_group(spark):
    """ks_statistic_grouped == one ks_statistic per segment, in one
    pass; a segment with one side empty keeps its row with a null
    stat."""
    import random

    from databricks_flight_etl_spark.operators.accuracy import (
        ks_statistic, ks_statistic_grouped,
    )

    rng = random.Random(5)
    rows = []
    for i in range(900):
        seg = ["s1", "s2", "s3"][i % 3]
        g = "a" if rng.random() < 0.5 else "b"
        if seg == "s3" and g == "b":
            g = "a"  # s3 has NO b rows
        rows.append((seg, g, rng.gauss(0.2 if g == "b" else 0, 1)))
    df = spark.createDataFrame(rows, "seg string, g string, x double")
    got = {
        r["seg"]: (r["ks_stat"], r["n_a"], r["n_b"])
        for r in ks_statistic_grouped(
            df, "x", "g", "a", "b", ["seg"]
        ).collect()
    }
    assert set(got) == {"s1", "s2", "s3"}
    for seg in ("s1", "s2"):
        w = ks_statistic(
            df.where(F.col("seg") == seg), "x", "g", "a", "b"
        ).first()
        assert got[seg] == (w["ks_stat"], w["n_a"], w["n_b"])
    assert got["s3"][0] is None and got["s3"][2] == 0


def test_ks_drift_report_matches_per_column(spark):
    """One-pass melt + grouped KS == per-column ks_statistic; an
    all-null column keeps its row with a null stat and zero counts."""
    import random

    from databricks_flight_etl_spark.operators.accuracy import (
        ks_drift_report, ks_statistic,
    )

    rng = random.Random(17)
    rows = [
        ("a" if i % 2 else "b",
         rng.gauss(0.3 if i % 2 else 0, 1),
         float(rng.randrange(5)),
         None)
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "g string, x double, y double, z double"
    )
    rep = {r["column"]: (r["ks_stat"], r["n_a"], r["n_b"])
           for r in ks_drift_report(
               df, ["x", "y", "z"], "g", "a", "b").collect()}
    assert set(rep) == {"x", "y", "z"}
    for c in ("x", "y"):
        w = ks_statistic(
            df.select("g", F.col(c).cast("double").alias("v")),
            "v", "g", "a", "b",
        ).first()
        assert rep[c] == (w["ks_stat"], w["n_a"], w["n_b"]), c
    assert rep["z"] == (None, 0, 0)


def test_linear_score_documents_hand_checked(spark):
    """score = sigmoid(bias + Σ count·w): hand-checked dots, OOV doc
    scores sigmoid(bias), repeated tokens weight by count, bpe_ish
    tokenizer splits punctuation."""
    import math

    from databricks_flight_etl_spark.operators.text import (
        linear_score_documents,
    )

    docs = spark.createDataFrame(
        [(0, "good good bad"), (1, "nothing known here"), (2, "")],
        "doc_id long, text string",
    )
    w = spark.createDataFrame(
        [("good", 1.5), ("bad", -2.0)], "token string, weight double"
    )
    out = {r["doc_id"]: r["score"]
           for r in linear_score_documents(
               docs, "text", "doc_id", w, bias=0.5).collect()}

    def sig(z):
        return round(1.0 / (1.0 + math.exp(-z)), 6)

    assert out[0] == sig(0.5 + 2 * 1.5 - 2.0)
    assert out[1] == sig(0.5)
    assert out[2] == sig(0.5)
    # bpe_ish: "good," splits into good + ','
    docs2 = spark.createDataFrame(
        [(0, "good, bad")], "doc_id long, text string"
    )
    out2 = linear_score_documents(
        docs2, "text", "doc_id", w, tokenizer="bpe_ish"
    ).first()["score"]
    assert out2 == sig(1.5 - 2.0)
    import pytest

    with pytest.raises(ValueError, match="tokenizer"):
        linear_score_documents(docs, "text", "doc_id", w, tokenizer="x")


def test_linear_score_documents_nine_dp_weights_exact(spark):
    """Round-6 ADVICE: the old long×decimal(28,9) product was silently
    quantized to 6 dp by Spark's precision-loss rules. The
    decimal(18,0)×decimal(19,9) form keeps scale 9 within precision 38,
    so 9-dp weights contribute exactly (7e-7·count shifts the dot; at
    6-dp product quantization it rounded to 1e-6·count instead)."""
    import math

    from databricks_flight_etl_spark.operators.text import (
        linear_score_documents,
    )

    docs = spark.createDataFrame(
        [(0, "t t t t t t t t t t")], "doc_id long, text string"
    )
    w = spark.createDataFrame(
        [("t", 0.100000070)], "token string, weight double"
    )
    got = linear_score_documents(
        docs, "text", "doc_id", w, decimals=9
    ).first()["score"]
    want = round(1.0 / (1.0 + math.exp(-(10 * 0.100000070))), 9)
    bad = round(1.0 / (1.0 + math.exp(-(10 * 0.100000))), 9)
    assert got == want
    assert got != bad  # the 6-dp-quantized form really differed


def test_ks_statistic_decimal_and_nan_values(spark):
    """The bucket math casts to double for RANGE assignment only — a
    decimal value column yields the same statistic as its double twin,
    and NaN values neither crash nor change the non-NaN ordering
    contract (NaN sorts last, lands in the top bucket)."""
    from databricks_flight_etl_spark.operators.accuracy import ks_statistic

    rows = [("a" if i % 2 else "b", i * 7 % 30 / 4.0) for i in range(200)]
    dd = spark.createDataFrame(rows, "g string, x double")
    dec = dd.selectExpr("g", "CAST(x AS DECIMAL(10,4)) AS x")
    a = ks_statistic(dd, "x", "g", "a", "b").first()
    b = ks_statistic(dec, "x", "g", "a", "b").first()
    assert (a["ks_stat"], a["n_a"], a["n_b"]) == (
        b["ks_stat"], b["n_a"], b["n_b"])

    withnan = dd.unionByName(spark.createDataFrame(
        [("a", float("nan")), ("b", float("nan"))], "g string, x double"
    ))
    c = ks_statistic(withnan, "x", "g", "a", "b").first()
    assert c["n_a"] == a["n_a"] + 1 and c["n_b"] == a["n_b"] + 1
    assert c["ks_stat"] is not None
