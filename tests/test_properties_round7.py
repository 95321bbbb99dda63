"""Round-7 checks: the distributed vocab_coverage rewrite (no
unpartitioned full-vocabulary window), the string-proxy bucketing path
of _hist_cumsum, and the histogram cache release contract."""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish tokens incl. multibyte + prefix-of-each-other cases,
# which are exactly where a naive (unpadded) byte-prefix proxy breaks
TOKEN = st.one_of(
    st.sampled_from(["a", "aa", "ab", "b", "é", "éz", "zz", "Z", "0",
                     "longtokenlongtoken", "longtokenlongtokex", "中文",
                     "&x", "q-1"]),
    st.text(
        alphabet="abz09é中", min_size=1, max_size=12
    ),
)


def _py_curve(texts, decimals=6):
    """Plain-Python reference: counts by (n desc, token-bytes asc),
    running coverage of the total occurrence mass."""
    counts = {}
    for t in texts:
        for tok in t.split(" "):
            if tok:
                counts[tok] = counts.get(tok, 0) + 1
    tot = sum(counts.values())
    out = []
    run = 0
    for tok, n in sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0].encode("utf-8"))
    ):
        run += n
        out.append((tok, n, len(out) + 1, round(run / tot, decimals)))
    return out


@given(
    texts=st.lists(st.lists(TOKEN, min_size=0, max_size=8).map(" ".join),
                   min_size=1, max_size=30),
    n_buckets=st.sampled_from([1, 2, 7, 64]),
)
@SET
def test_vocab_coverage_full_curve_matches_reference(
    spark, texts, n_buckets
):
    """Full-curve vocab_coverage (the _hist_cumsum two-split path) ==
    the plain-Python single-sorted-pass reference, for any bucket
    count including the degenerate single bucket."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.token, r.n, r.rank, r.coverage)
        for r in vocab_coverage(
            df, "text", n_buckets=n_buckets
        ).orderBy("rank").collect()
    ]
    assert got == _py_curve(texts)


@given(
    texts=st.lists(st.lists(TOKEN, min_size=1, max_size=8).map(" ".join),
                   min_size=1, max_size=30),
    k=st.sampled_from([1, 3, 10]),
)
@SET
def test_vocab_coverage_topk_is_curve_prefix(spark, texts, k):
    """k-given vocab_coverage (the prune-first TakeOrderedAndProject
    path) == the first k rows of the full curve."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.token, r.n, r.rank, r.coverage)
        for r in vocab_coverage(df, "text", k=k).orderBy("rank").collect()
    ]
    assert got == _py_curve(texts)[:k]


def test_vocab_coverage_topk_plan_prunes_before_window(spark):
    """The k path must prune via a distributed top-k (TakeOrderedAnd
    Project / per-partition limits) BEFORE the rank window — never an
    ordered window over the whole vocabulary (the round-6 weak shape)."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    df = spark.createDataFrame([("a b c a",), ("b d e",)], "text string")
    plan = vocab_coverage(df, "text", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the window input is the k-row limit output, so the single Window
    # node sits ABOVE TakeOrderedAndProject in the tree (appears before
    # it in the printed plan)
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_vocab_coverage_full_curve_has_no_global_window(spark):
    """The full-curve plan's windows are all partitioned (by count or
    by (count, byte-bucket)) — no `Window [... ORDER BY ...]` without a
    PARTITION BY over the vocabulary, except the bounded ≤n_buckets
    offset window keyed by a synthetic constant (pmod)."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    df = spark.createDataFrame([("a b c a",), ("b d e",)], "text string")
    plan = (
        vocab_coverage(df, "text")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    for line in plan.splitlines():
        if "Window " in line and "windowspecdefinition" in line:
            assert "partitionBy" not in line  # sanity: printed form differs
    # printed optimized plan shows specs as
    # windowspecdefinition(part..., order..., frame); a spec with no
    # partition keys starts with the order column directly — assert
    # every window spec carries at least one partition expression
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for s in specs:
        head = s.split(",")[0].strip()
        # partitioned specs lead with a plain column (n / __bkt / pmod
        # guard); an UNpartitioned ordered spec leads with the ordering
        # expression, which carries ASC/DESC in the printed form
        assert "ASC" not in head and "DESC" not in head, plan


def test_hist_cumsum_bucket_on_string_values(spark):
    """_hist_cumsum over a STRING value column with a first-6-bytes
    integer proxy == the plain sorted running sum, across bucket
    counts (monotone-proxy contract)."""
    from databricks_flight_etl_spark.operators.accuracy import _hist_cumsum

    rows = [
        ("a", 3), ("aa", 1), ("ab", 2), ("b", 5), ("é", 7), ("éz", 1),
        ("zz", 4), ("Z", 2), ("0", 9), ("longtokenlongtoken", 1),
        ("longtokenlongtokex", 6), ("中文", 2),
    ]
    df = spark.createDataFrame(rows, "v string, c long")
    proxy = F.conv(
        F.hex(F.expr("rpad(encode(v, 'UTF-8'), 6, x'00')")), 16, 10
    )
    want = {}
    run = 0
    for v, c in sorted(rows, key=lambda r: r[0].encode("utf-8")):
        run += c
        want[v] = run
    for nb in (1, 2, 5, 64):
        out = _hist_cumsum(
            df, "v", ["c"], bucket_on=proxy, n_buckets=nb
        )
        got = {r["v"]: r["__cum_c"] for r in out.collect()}
        assert got == want, nb


def test_hist_cumsum_release_path(spark):
    """Verdict task #3: after a _hist_cumsum-backed operator's action
    completes, release_pins() frees every pinned block — no persisted
    RDDs remain."""
    from databricks_flight_etl_spark.operators.accuracy import (
        ks_statistic, quantiles_exact,
    )
    from databricks_flight_etl_spark.session import release_pins

    release_pins()  # drop pins from earlier tests

    def rdd_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    base = rdd_ids()
    a = spark.range(200).select(
        (F.col("id") % 17).cast("double").alias("x"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
    )
    ks_statistic(a, "x", "g", "a", "b").collect()
    quantiles_exact(a, "x", [0.5, 0.9]).collect()
    pinned = rdd_ids() - base
    assert pinned  # pins exist pre-release
    released = release_pins()
    assert released >= 2
    assert not (rdd_ids() & pinned)  # every new pin is gone
    # idempotent
    assert release_pins() == 0
