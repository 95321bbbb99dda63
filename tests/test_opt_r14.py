"""Round-14 optimization pins: the changed internals keep their values.

Each optimization this round restructured HOW something is computed
(one guard action instead of two, a driver-known gate count, parsed
expression trees) while the computed values must stay bit-identical.
These tests pin exactly those equalities so a future refactor can't
silently drift them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from databricks_flight_etl_spark.operators import dedup, graph


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"the quick brown fox {i % 7} jumps over the lazy dog "
            f"number {i} with some shared boilerplate text")
        for i in range(40)
    ] + [(100, None), (101, "tiny")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_guard_profile_identical_pinned_vs_unpinned(spark, docs):
    """The merged one-action guard reads the pinned staging (doc count
    from the staged arrays, df distribution from their explode). It
    must measure exactly what the unpinned raw-scan shingle table
    gives — same n_docs, same sums, same estimate."""
    dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", shingle_k=5, guard="warn",
    )
    got = dedup.last_guard_profile()
    spark.catalog.clearCache()
    dfs = [r["df"] for r in dedup.shingle_stop_list(
        docs, "text", "doc_id", shingle_k=5, max_df=0,
    ).collect()]
    n = docs.where(F.col("text").isNotNull()).count()
    occ = sum(dfs)
    pair_mass = sum(d * (d - 1) for d in dfs)
    e_shared = float(pair_mass) / (n * (n - 1))
    e_size = float(occ) / n
    # n_docs = non-null-text docs (41 here: 40 lorem + 'tiny'; the
    # null-text row must NOT count)
    assert got["n_docs"] == n == 41
    assert got["total_occurrences"] == occ
    assert got["pair_mass"] == pair_mass
    assert got["bg_jaccard_est"] == e_shared / (2.0 * e_size - e_shared)
    assert got["triggered"] == (got["bg_jaccard_est"] > got["threshold"])


def test_union_find_returns_exact_drop_count(spark):
    """The driver union-find's returned drop count equals the count()
    the broadcast gate previously paid for — on a forest with chains,
    a cycle and singleton-free structure."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    cc, n_drop = graph._components(edges)
    assert n_drop is not None
    assert n_drop == cc.where(F.col("node") != F.col("component")).count()


def test_dedup_survivors_unchanged_by_gate_elision(spark, monkeypatch):
    """Survivor selection end-to-end: same rows whether the gate count
    comes from the driver union-find (fast path) or from a count()
    (forced distributed loop, which returns no drop count)."""
    df = spark.createDataFrame(
        [(i, f"row {i}") for i in range(12)], "id long, payload string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (7, 9)], "id_a long, id_b long"
    )
    fast = graph.dedup_survivors(df, pairs, "id")
    # driver_max_edges=0 forces the distributed loop, which knows no
    # drop count — exercising the count() fallback
    assert graph._components(pairs, driver_max_edges=0)[1] is None
    components = graph._components
    monkeypatch.setattr(
        graph, "_components",
        lambda e, src, dst: components(e, src, dst, driver_max_edges=0),
    )
    slow = graph.dedup_survivors(
        df, pairs, "id", broadcast_max_rows=8_000_000
    )
    assert sorted(r["id"] for r in fast.collect()) == sorted(
        r["id"] for r in slow.collect()
    ) == [0, 1, 3, 4, 6, 7, 8, 10, 11]


def test_simhash_parsed_expressions_match_reference(spark):
    """simhash64's parsed lane-sum/packing expressions reproduce the
    definition computed independently in Python (per-bit majority of
    the shingle hashes), for both hash families."""
    rows = [(1, "abcdefg hij"), (2, "zzzz yyy xx"), (3, "abcdefg hik")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("xxhash64", "md5"):
        got = {
            r["doc_id"]: r["simhash"]
            for r in dedup.simhash64(df, "text", "doc_id", shingle_k=4,
                                     hash_family=fam).collect()
        }
        # reference: explode the same distinct shingles through the
        # same base hash, majority-vote each bit in Python
        sh = df.select(
            "doc_id",
            F.explode(dedup.char_shingles("text", 4)).alias("s"),
        ).select(
            "doc_id", dedup._base_hash(F.col("s"), fam).alias("h")
        ).collect()
        by_doc: dict[int, list[int]] = {}
        for r in sh:
            by_doc.setdefault(r["doc_id"], []).append(r["h"])
        for doc, hs in by_doc.items():
            expect = 0
            n = len(hs)
            for i in range(64):
                ones = sum((h >> i) & 1 for h in hs)
                if 2 * ones >= n:
                    expect |= 1 << i
            # compare as unsigned: Spark longs are signed
            assert got[doc] & ((1 << 64) - 1) == expect, (fam, doc)
