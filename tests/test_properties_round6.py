"""Property-based (hypothesis) checks for the round-6 shared
distributed prefix-sum — randomized histograms, reference semantics in
plain Python."""

import itertools

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    hist=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.floats(-1e6, 1e6, allow_nan=False).map(
                lambda x: round(x, 3)),
            st.integers(1, 50),
            st.integers(0, 50),
        ),
        min_size=1, max_size=40,
    ),
    n_buckets=st.sampled_from([1, 3, 64]),
    inclusive=st.booleans(),
    grouped=st.booleans(),
)
@SET
def test_hist_cumsum_matches_python_reference(
    spark, hist, n_buckets, inclusive, grouped
):
    """_hist_cumsum == the plain-Python running sum over the sorted
    distinct-value histogram, for any bucket count, either frame
    (inclusive ≤-value / exclusive <-value), grouped or global, and
    for multiple sum columns at once."""
    from databricks_flight_etl_spark.operators.accuracy import (
        _hist_cumsum,
    )

    # collapse duplicate (group, value) keys the way a real histogram
    # (output of a groupBy) never has them
    agg = {}
    for g, v, c1, c2 in hist:
        k = (g if grouped else "_", v)
        a, b = agg.get(k, (0, 0))
        agg[k] = (a + c1, b + c2)
    rows = [(g, v, a, b) for (g, v), (a, b) in agg.items()]
    df = spark.createDataFrame(
        rows, "g string, v double, c1 long, c2 long"
    )
    by = ["g"] if grouped else []
    out = _hist_cumsum(
        df, "v", ["c1", "c2"], by=by, n_buckets=n_buckets,
        inclusive=inclusive,
    )
    got = {
        (r["g"] if grouped else "_", r["v"]):
            (r["__cum_c1"], r["__cum_c2"])
        for r in out.collect()
    }

    want = {}
    keyfn = lambda kv: kv[0][0]  # noqa: E731
    for g, items in itertools.groupby(
        sorted(agg.items(), key=lambda kv: (kv[0][0], kv[0][1])), keyfn
    ):
        run1 = run2 = 0
        for (gg, v), (a, b) in items:
            if inclusive:
                run1, run2 = run1 + a, run2 + b
                want[(gg, v)] = (run1, run2)
            else:
                want[(gg, v)] = (run1, run2)
                run1, run2 = run1 + a, run2 + b
    assert got == want
