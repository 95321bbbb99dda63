"""Property-based (hypothesis) checks for the round-3 operators —
randomized inputs, reference semantics in plain Python."""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=60,
                     unique=True),
       probes=st.lists(st.integers(0, 10_000), min_size=1, max_size=60))
@SET
def test_bloom_never_false_negative(spark, keys, probes):
    from databricks_flight_etl_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    members = spark.createDataFrame([(k,) for k in keys], "k long")
    bm = bloom_build(members, "k", n_words=64, k=4)
    probe_df = spark.createDataFrame([(p,) for p in probes], "k long")
    flagged = {r["k"] for r in probe_df.where(
        bloom_might_contain(bm, "k", 64, 4)).collect()}
    assert set(keys) & set(probes) <= flagged


@given(vals=st.lists(st.integers(0, 5000), min_size=2, max_size=80),
       cut=st.integers(0, 100))
@SET
def test_hll_merge_identity_random_split(spark, vals, cut):
    from databricks_flight_etl_spark.operators.sketches import (
        hll_build,
        hll_merge,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    lo = df.where(F.col("v") % 101 < cut)
    hi = df.where(F.col("v") % 101 >= cut)
    merged = sorted((r["bucket"], r["rho"]) for r in hll_merge(
        hll_build(lo, "v", p=8), hll_build(hi, "v", p=8)).collect())
    whole = sorted((r["bucket"], r["rho"])
                   for r in hll_build(df, "v", p=8).collect())
    assert merged == whole


@given(vals=st.lists(
    st.one_of(st.none(), st.integers(-100, 100)),
    min_size=1, max_size=60),
    q=st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.77, 0.9, 1.0]))
@SET
def test_quantiles_exact_matches_python_reference(spark, vals, q):
    import math

    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )

    df = spark.createDataFrame(
        [(float(v) if v is not None else None,) for v in vals],
        "x double")
    present = sorted(v for v in vals if v is not None)
    rows = quantiles_exact(df, "x", [q]).collect()
    if not present:
        assert rows == []
        return
    want = float(present[math.floor(q * (len(present) - 1))])
    assert rows[0]["value"] == want


@given(base=st.dictionaries(st.integers(0, 20), st.integers(0, 5),
                            min_size=1, max_size=15),
       upd=st.dictionaries(st.integers(0, 20), st.integers(0, 5),
                           min_size=1, max_size=15))
@SET
def test_merge_upsert_matches_dict_semantics(spark, base, upd):
    from databricks_flight_etl_spark.operators.relational import (
        merge_upsert,
    )

    bdf = spark.createDataFrame(
        [(k, f"b{v}", 1) for k, v in base.items()],
        "k int, v string, ver int")
    udf_ = spark.createDataFrame(
        [(k, f"u{v}", 2) for k, v in upd.items()],
        "k int, v string, ver int")
    got = {r["k"]: r["v"] for r in
           merge_upsert(bdf, udf_, ["k"], "ver").collect()}
    want = {k: f"b{v}" for k, v in base.items()}
    want.update({k: f"u{v}" for k, v in upd.items()})
    assert got == want


@given(counts=st.dictionaries(st.sampled_from(["a", "b", "c"]),
                              st.integers(1, 30),
                              min_size=1, max_size=3),
       targets=st.dictionaries(st.sampled_from(["a", "b", "c"]),
                               st.integers(0, 80),
                               min_size=1, max_size=3))
@SET
def test_resample_to_target_exactness_property(spark, counts, targets):
    """For ANY group sizes and targets: targeted groups land on
    exactly their target; untargeted groups are untouched; per-row
    copies differ by at most one within a group."""
    from databricks_flight_etl_spark.operators.sampling import (
        resample_to_target,
    )

    rows, k = [], 0
    for g, c in counts.items():
        for _ in range(c):
            rows.append((k, g)); k += 1
    df = spark.createDataFrame(rows, "k long, g string")
    out = resample_to_target(df, "g", "k", targets)
    got = {r["g"]: r["n"] for r in
           out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    for g, c in counts.items():
        want = targets.get(g, c)
        assert got.get(g, 0) == want, (g, want, got)
    per_row = out.groupBy("g", "k").agg(F.count(F.lit(1)).alias("n"))
    spread_ = per_row.groupBy("g").agg(
        (F.max("n") - F.min("n")).alias("d")).collect()
    assert all(r["d"] <= 1 for r in spread_)


@given(sets=st.lists(
    st.sets(st.sampled_from("abcdefghij"), min_size=1, max_size=6),
    min_size=2, max_size=10),
    # 1/3, 0.6, 2/3 are repeating binary fractions whose products
    # round UP in IEEE at exact rational boundaries — the class of
    # threshold where the r13 ceil-form candidate bound dropped valid
    # pairs (the brute-force oracle below compares jac >= thr in the
    # same IEEE semantics as the operator's verify)
    thr=st.sampled_from([1 / 3, 0.34, 0.5, 0.6, 2 / 3, 0.75, 1.0]))
@SET
def test_set_similarity_join_lossless_property(spark, sets, thr):
    """The prefix filter must be LOSSLESS for any input/threshold:
    results equal the brute-force all-pairs Jaccard scan."""
    from databricks_flight_etl_spark.operators.dedup import (
        set_similarity_join,
    )

    rows = [(i, sorted(s)) for i, s in enumerate(sets)]
    df = spark.createDataFrame(rows, "id long, s array<string>")
    got = {(r["id_a"], r["id_b"]) for r in
           set_similarity_join(df, "s", "id", thr).collect()}
    want = set()
    for i, a in enumerate(sets):
        for j, b in enumerate(sets):
            if i < j:
                jac = len(a & b) / len(a | b)
                if jac >= thr:
                    want.add((i, j))
    assert got == want
