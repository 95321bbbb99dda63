"""Round-15 optimization pins: the changed internals keep their values.

Like round 14's pins, these lock the equalities each optimization
depends on — here, that the zero-job spread() decision (file-leaf size
estimate) reproduces the old physical-plan probe's decision on both
sides of the narrowness boundary, and that spread() no longer runs
Spark jobs at DataFrame-construction time (under AQE, ``df.rdd`` on a
plan with exchanges *executes its query stages* — the r15 finding).
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F

from databricks_flight_etl_spark import partitioning


def _jobs_run_during(spark, fn):
    """Number of Spark jobs triggered while fn() runs."""
    sc = spark.sparkContext
    group = str(uuid.uuid4())
    sc.setJobGroup(group, "job-probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_estimate_matches_probe_on_narrow_scan(spark, tmp_path):
    """A small single-file parquet scan sits far below
    defaultParallelism under BOTH probes, so spread must still
    repartition — the single-row-group small-file case it exists for."""
    path = str(tmp_path / "narrow.parquet")
    spark.range(100).withColumnRenamed("id", "doc_id").coalesce(
        1
    ).write.parquet(path)
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    est = partitioning._estimated_scan_splits(df, target)
    probe = df.rdd.getNumPartitions()
    assert est is not None
    assert (est >= target) == (probe >= target)
    out = partitioning.spread(df, "doc_id")
    assert out.rdd.getNumPartitions() == target


def test_spread_runs_zero_jobs_on_exchange_bearing_plans(spark, tmp_path):
    """The old ``.rdd`` probe EXECUTED the plan's query stages under
    AQE (measured 3.97 s of real jobs on the funnel lineage). The
    size-estimate decision must run zero jobs even when the input
    lineage contains joins/aggregates."""
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"text body {i % 5}") for i in range(200)],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    lineage = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
    n = _jobs_run_during(
        spark, lambda: partitioning.spread(lineage, "doc_id")
    )
    assert n == 0


def test_ppjoin_injectivity_probe_reruns_after_overwrite(
    spark, tmp_path, monkeypatch
):
    """Every construction probes injectivity on the data it is given.
    Overwriting the source path and re-reading it yields a plan that
    looks the same as the first one; a verdict cached per plan would
    be stale for the new tokens, so the probe must run again."""
    from databricks_flight_etl_spark.operators import dedup

    calls = []
    probe = dedup._hash_injective

    def counting(tok_stats):
        calls.append(1)
        return probe(tok_stats)

    monkeypatch.setattr(dedup, "_hash_injective", counting)
    path = str(tmp_path / "sets.parquet")

    def build(prefix):
        spark.createDataFrame(
            [(i, [f"{prefix}{i % 5}_{j}" for j in range(4)])
             for i in range(20)],
            "doc_id long, toks array<string>",
        ).write.mode("overwrite").parquet(path)
        out = dedup.set_similarity_join(
            spark.read.parquet(path), "toks", "doc_id", threshold=0.7
        )
        got = sorted((r["id_a"], r["id_b"]) for r in out.collect())
        spark.catalog.clearCache()
        return got

    first = build("w")
    second = build("v")
    assert len(calls) == 2
    assert first == second and first  # same shape, fresh tokens


def test_spread_estimate_formula_scale_adaptive(spark, monkeypatch):
    """The split estimate follows Spark's FilePartition formula: tiny
    inputs estimate far below any core count (repartition fires);
    production-sized inputs estimate >= defaultParallelism (no-op)."""
    df = spark.range(10)  # only carries the session; leaves are faked

    def fake_stats(total, n_files):
        return lambda _df: (total, n_files)

    # 1 MB single file, 32 cores: bytes_per_core < openCost -> est tiny
    monkeypatch.setattr(
        partitioning, "_file_leaf_stats", fake_stats(1 << 20, 1)
    )
    est_small = partitioning._estimated_scan_splits(df, 32)
    assert est_small is not None and est_small < 32
    # 100 GB over 800 files: est = ceil(padded/128MB) >> 32 -> no-op
    monkeypatch.setattr(
        partitioning, "_file_leaf_stats", fake_stats(100 << 30, 800)
    )
    est_big = partitioning._estimated_scan_splits(df, 32)
    assert est_big >= 32
    # mid regime: bytes_per_core governs -> est == target exactly
    # (Spark itself would spread this input across defaultParallelism)
    monkeypatch.setattr(
        partitioning, "_file_leaf_stats", fake_stats(512 << 20, 4)
    )
    est_mid = partitioning._estimated_scan_splits(df, 32)
    assert est_mid == 32
    # no file leaves -> None (caller falls back to the exact probe)
    monkeypatch.setattr(
        partitioning, "_file_leaf_stats", fake_stats(0, 0)
    )
    assert partitioning._estimated_scan_splits(df, 32) is None


def test_spread_on_jdbc_relation(spark):
    """A JDBC source is a LogicalRelation without a file index: the
    leaf walk must skip it (no ``location()`` call) and spread falls
    back to the scan's partition count instead of raising."""
    url = f"jdbc:derby:memory:spread_{uuid.uuid4().hex};create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.executeUpdate("CREATE TABLE docs (doc_id BIGINT, body VARCHAR(20))")
        for i in range(10):
            st.executeUpdate(f"INSERT INTO docs VALUES ({i}, 'row {i}')")
        df = spark.read.jdbc(url, "docs")
        assert partitioning._file_leaf_stats(df) == (0, 0)
        out = partitioning.spread(df, "DOC_ID")
        target = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == target
        assert sorted(r["DOC_ID"] for r in out.collect()) == list(range(10))
    finally:
        conn.close()
