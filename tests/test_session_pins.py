"""The session's pin registry (``session.pin`` / ``release_pins``): one
entry per plan, least recently pinned evicted first, and every pipeline
persist owned by it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_flight_etl_spark import pipeline, session
from databricks_flight_etl_spark.operators import validity
from databricks_flight_etl_spark.session import pin, release_pins


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_eviction_spares_a_repinned_plan(spark):
    """``unpersist()`` drops every plan-equal cache, so a registry that
    kept one entry per pin call would, on evicting the first copy of
    plan P, also drop a later live copy of P. Re-pinning P refreshes
    its one entry instead, and eviction takes the least recently
    pinned plan."""
    release_pins()
    first = pin(spark.range(1000))
    others = [
        pin(spark.range(1_000_000 + i))
        for i in range(session._MAX_PINS - 2)
    ]
    copy = pin(spark.range(1000))      # plan-equal to ``first``
    pin(spark.range(2_000_000))
    assert _cached(copy)
    assert len(session._PINS) == session._MAX_PINS
    pin(spark.range(3_000_000))        # full: evicts others[0]
    assert _cached(copy)
    assert not _cached(others[0]) and _cached(others[1])
    assert release_pins() == session._MAX_PINS
    assert not _cached(copy)


def test_release_pins_frees_every_pipeline_persist(spark, tmp_path):
    """After the corpus release (near-dup on, written) and the flight
    pipeline (reports collected, written), release_pins() leaves the
    session's cache manager empty: every persist the two pipelines
    leave behind is owned by the registry."""
    from databricks_flight_etl_spark.sources import write_parquet

    spark.catalog.clearCache()
    release_pins()
    body = ("the quick brown fox jumps over the lazy dog and runs to the "
            "river bank where the {} birds sing in the morning light")
    docs = spark.createDataFrame(
        [(i, body.format(f"w{i % 9} x{i}"), f"https://h{i % 3}.org/{i}")
         for i in range(30)]
        + [(100 + i, body.format(f"w{i % 9} x{i}"), f"https://h{i % 3}.org/c")
           for i in range(3)],                      # near-dup clones
        "doc_id long, text string, url string",
    )
    with pytest.warns(RuntimeWarning, match="pre-flight guard"):
        rel = pipeline.run_corpus_release(
            docs, min_tokens=5, near_dup=True, url_col="url",
            max_per_domain=8, budget=64,
        )
    write_parquet(rel.released, str(tmp_path / "released"))

    flights = spark.createDataFrame(
        [(2008, 1, 1, 945, "AA", 100, None, 500),
         (2008, 1, 1, 945, "AA", 100, None, 500),
         (2008, 1, 2, 2455, "UA", 200, None, 300),
         (2008, 1, 4, 1200, "DL", 300, None, -1)],
        "Year int, Month int, DayofMonth int, DepTime int, "
        "UniqueCarrier string, FlightNum int, TailNum int, Distance int",
    )
    rep = pipeline.run_flight_pipeline(
        flights,
        dedup_keys=["UniqueCarrier", "FlightNum", "DepTime_Timestamp"],
        rules=[validity.Rule("dist_pos", F.col("Distance") > 0)],
        output_path=str(tmp_path / "flights"),
    )
    for report in (rep.null_profile, rep.value_frequencies,
                   rep.exact_dup_groups, rep.key_dup_groups,
                   rep.validity, rep.day_coverage):
        report.collect()

    cache = spark._jsparkSession.sharedState().cacheManager()
    assert not cache.isEmpty()
    assert release_pins() > 0
    assert cache.isEmpty()
