"""Near-dup entry points of operators.dedup: the shared setup step
(validation, stop-shingle mitigation, pre-flight guard) and the band
derivation shared by the aggregate and row-wise MinHash paths."""

import warnings

import pytest
from pyspark.sql import functions as F

from databricks_flight_etl_spark.operators import dedup

ENTRY_POINTS = [dedup.minhash_dedup_pairs, dedup.simhash_near_dup_pairs]


def _boiler_corpus(spark, n=20):
    """Every doc is the same boilerplate plus its id: background
    Jaccard far above BG_JACCARD_GUARD, so a guarded call warns."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("breaking news subscribe to our newsletter today "
                  "all rights reserved terms of service apply here "),
            F.col("id").cast("string"),
        ).alias("text"),
    )


def _guarded(fn, docs):
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        fn(docs, "text", "doc_id", shingle_k=7, guard="warn")
    assert dedup.last_guard_profile() is not None


@pytest.mark.parametrize("fn", ENTRY_POINTS, ids=lambda f: f.__name__)
def test_unguarded_call_clears_last_guard_profile(spark, fn):
    """A call that does not run the guard reports None, not the profile
    an earlier guarded call left behind."""
    docs = _boiler_corpus(spark)
    stops = spark.createDataFrame([("news ",)], "shingle string")
    for kwargs in ({"max_df": 5}, {"stops": stops}, {"guard": "off"}):
        _guarded(fn, docs)
        fn(docs, "text", "doc_id", shingle_k=7, **kwargs)
        assert dedup.last_guard_profile() is None, kwargs


@pytest.mark.parametrize("fn", ENTRY_POINTS, ids=lambda f: f.__name__)
def test_guard_warning_points_at_the_caller(spark, fn):
    """The guard's RuntimeWarning names the line that called the entry
    point, not a frame inside dedup.py."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", RuntimeWarning)
        fn(_boiler_corpus(spark), "text", "doc_id", shingle_k=7,
           guard="warn")
    hits = [w for w in caught if issubclass(w.category, RuntimeWarning)
            and "pre-flight guard" in str(w.message)]
    assert len(hits) == 1
    assert hits[0].filename == __file__


def test_rowwise_bands_reject_unknown_hash_family(spark):
    """Both band paths share _base_hash: an unknown family raises on
    the row-wise path too, instead of mixing md5 shingle hashes with
    xxhash64 band hashes."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma zeta")],
        "doc_id long, text string",
    )
    for fn in (dedup.minhash_bands, dedup.minhash_bands_rowwise):
        with pytest.raises(ValueError, match="hash_family"):
            fn(docs, "text", "doc_id", hash_family="sha1")
