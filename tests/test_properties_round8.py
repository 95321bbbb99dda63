"""Round-8 checks: the five round-7 ADVICE fixes (bigint vocab rank,
observer-path corruption raise, pinned-histogram lock/cap, strip_html
C0-sentinel collision, linear-scorer weight-range validation) and the
verdict-task interleaved cache-release contract."""

import math
import os
import sys
import threading

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- #
# ADVICE #1 — vocab_coverage rank must be bigint in BOTH regimes    #
# ---------------------------------------------------------------- #

def test_vocab_rank_is_bigint_both_regimes(spark):
    """A web-scale vocabulary exceeds 2^31 distinct tokens — the exact
    regime the distributed full-curve path exists for — so rank must
    be bigint, and the k-given path must agree on the schema."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [("a a b c",), ("b c d",)], "text string"
    )
    full = vocab_coverage(df, "text")
    topk = vocab_coverage(df, "text", k=2)
    assert dict(full.dtypes)["rank"] == "bigint"
    assert dict(topk.dtypes)["rank"] == "bigint"
    # values unchanged by the widening
    rows = sorted(
        (r.token, r.n, r.rank) for r in full.collect()
    )
    assert rows == [("a", 2, 2), ("b", 2, 3), ("c", 2, 4), ("d", 1, 5)] \
        or rows == [("a", 2, 1), ("b", 2, 2), ("c", 2, 3), ("d", 1, 4)]


# ---------------------------------------------------------------- #
# ADVICE #2 — observer read raises on real .__old corruption       #
# ---------------------------------------------------------------- #

def test_read_state_observer_raises_on_corrupt_old(spark, tmp_path):
    """rollback=False swallows a .__old read failure ONLY when the
    in-flight commit finished meanwhile (live dir back). A genuinely
    corrupted .__old with NO live dir must raise — silently returning
    'no state' is the same silent-restart class rollback=True
    deliberately raises on."""
    from databricks_flight_etl_spark.streaming.jobs import _read_state

    st = str(tmp_path / "state")
    # stage: no live dir, .__old exists but is not parquet
    os.makedirs(st + ".__old")
    with open(os.path.join(st + ".__old", "garbage.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    with pytest.raises(Exception):
        _read_state(spark, st, rollback=False)
    # layout untouched by the failed observer read
    assert os.path.exists(st + ".__old") and not os.path.exists(st)
    # and the healthy point-in-time read still works once .__old is real
    import shutil

    shutil.rmtree(st + ".__old")
    spark.range(3).write.parquet(st + ".__old")
    seen = _read_state(spark, st, rollback=False)
    assert seen is not None and seen.count() == 3
    assert os.path.exists(st + ".__old") and not os.path.exists(st)


# ---------------------------------------------------------------- #
# ADVICE #3 + verdict task #5 — pinned-histogram registry           #
# ---------------------------------------------------------------- #

def test_release_interleaved_operators(spark):
    """Two _hist_cumsum-backed operators interleaved, then a release
    BETWEEN building and materializing their lazy results: both must
    still compute correctly (unpersist costs a recompute, never a
    wrong answer)."""
    from databricks_flight_etl_spark.operators.accuracy import ks_drift_report
    from databricks_flight_etl_spark.operators.text import vocab_coverage
    from databricks_flight_etl_spark.session import release_pins

    release_pins()

    ev = spark.range(400).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
        (F.col("id") % 13).cast("double").alias("x"),
        (F.col("id") % 7).cast("double").alias("y"),
    )
    docs = spark.createDataFrame(
        [("a a b",), ("b c",), ("c c c d",)], "text string"
    )
    # build BOTH lazily (each pins histograms), release, THEN act
    drift = ks_drift_report(ev, ["x", "y"], "g", "a", "b")
    curve = vocab_coverage(docs, "text")
    released = release_pins()
    assert released > 0

    got = {r.column: r.ks_stat for r in drift.collect()}
    assert set(got) == {"x", "y"} and all(v is not None for v in got.values())
    rows = {(r.token, r.n, r.rank) for r in curve.collect()}
    assert ("c", 4, 1) in rows and ("a", 2, 2) in rows
    release_pins()


def test_pinned_registry_is_capped_and_thread_safe(spark):
    """The pin registry is lock-guarded and capped: concurrent pins from
    many threads never grow it past _MAX_PINS, so a long-lived session
    that never calls release cannot accumulate disk blocks without
    bound. Each thread pins its own plans (plan-equal frames share one
    entry), 48 distinct plans in all."""
    from databricks_flight_etl_spark import session

    session.release_pins()

    errors = []

    def worker(t):
        try:
            frames = [spark.range(1000 * t + i + 1) for i in range(8)]
            for _ in range(3):
                for fr in frames:
                    session.pin(fr)
        except Exception as exc:  # noqa: BLE001 - asserted empty below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(session._PINS) == session._MAX_PINS
    assert len({h for h, _ in session._PINS}) == session._MAX_PINS
    assert session.release_pins() == session._MAX_PINS
    assert len(session._PINS) == 0


# ---------------------------------------------------------------- #
# ADVICE #4 — strip_html sentinel vs literal U+0001                 #
# ---------------------------------------------------------------- #

def test_strip_html_literal_control_bytes(spark):
    """Crawl text containing a literal U+0001 (or any C0 control) must
    NOT be rewritten to '&' by the &amp; sentinel dance — controls are
    stripped to whitespace FIRST, and entity decoding still lands
    &amp;lt; on the single-decode answer '&lt;'."""
    from databricks_flight_etl_spark.operators.text import strip_html

    df = spark.createDataFrame(
        [
            ("a \x01 b",),
            ("x\x00y\x1fz",),
            ("keep &amp; decode &amp;lt; once \x01 end",),
            ("tabs\tand\nnewlines survive collapse",),
        ],
        "text string",
    )
    got = [r.out for r in df.select(strip_html("text").alias("out")).collect()]
    assert got[0] == "a b"          # \x01 gone, not '&'
    assert got[1] == "x y z"        # other C0s stripped to spaces
    assert got[2] == "keep & decode &lt; once end"
    assert got[3] == "tabs and newlines survive collapse"


# ---------------------------------------------------------------- #
# ADVICE #5 — linear scorer weight-range validation                 #
# ---------------------------------------------------------------- #

def test_linear_scorer_weight_overflow_raises(spark):
    """|weight| >= 1e10 overflows the exact decimal(19,9) cast; it
    must RAISE at execution time, not silently null out of the dot
    product. In-range and null weights behave as before."""
    from databricks_flight_etl_spark.operators.text import (
        linear_score_documents,
    )

    docs = spark.createDataFrame(
        [(1, "spark spark join"), (2, "nothing matches")],
        "doc_id long, text string",
    )
    ok = spark.createDataFrame(
        [("spark", 0.5), ("join", None)], "token string, weight double"
    )
    out = {
        r.doc_id: r.score
        for r in linear_score_documents(
            docs, "text", "doc_id", ok
        ).collect()
    }
    # null weight drops from the sum (sum skips nulls): z = 2*0.5
    assert out[1] == round(1.0 / (1.0 + math.exp(-1.0)), 6)
    assert out[2] == 0.5  # sigmoid(0)

    bad = spark.createDataFrame(
        [("spark", 1.0e10)], "token string, weight double"
    )
    with pytest.raises(Exception, match="1e10|overflow|USER_RAISED"):
        linear_score_documents(docs, "text", "doc_id", bad).collect()


# ---------------------------------------------------------------- #
# r7 verdict stretch #8 — shared-prefix bucket-proxy boundary       #
# ---------------------------------------------------------------- #

def _py_vocab_curve(texts, decimals=6):
    counts = {}
    for t in texts:
        for tok in t.split(" "):
            if tok:
                counts[tok] = counts.get(tok, 0) + 1
    tot = sum(counts.values())
    out, run = [], 0
    for tok, n in sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0].encode("utf-8"))
    ):
        run += n
        out.append((tok, n, len(out) + 1, round(run / tot, decimals)))
    return out


def test_vocab_prefix_proxy_worst_case_shared_prefix(spark):
    """ADVERSARIAL bucket-proxy boundary: every token shares the same
    first 6 bytes, so the first-6-byte integer proxy collapses the
    whole within-count rank into ONE bucket — by design the degraded
    shape is the old single-partition window (perf only), and the
    curve must stay exactly correct."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from databricks_flight_etl_spark.operators.text import vocab_coverage

    suffix = st.text(alphabet="abz09é", min_size=0, max_size=6)

    @given(
        sufs=st.lists(suffix, min_size=1, max_size=25),
        n_buckets=st.sampled_from([1, 4, 64]),
    )
    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(sufs, n_buckets):
        # 'prefix' is exactly 6 ASCII bytes — every token's proxy value
        # is identical, all rows land in one bucket per count group
        texts = [" ".join("prefix" + s for s in sufs)]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r.token, r.n, r.rank, r.coverage)
            for r in vocab_coverage(df, "text", n_buckets=n_buckets)
            .orderBy("rank").collect()
        ]
        assert got == _py_vocab_curve(texts)

    run()


def test_vocab_prefix_proxy_multibyte_boundary(spark):
    """Tokens whose 6-byte prefix SPLITS a multibyte UTF-8 codepoint
    (é = 2 bytes at offset 5) must still bucket monotonically — the
    rpad-to-6-bytes proxy works on raw bytes, matching the bytewise
    collation both engines sort strings by."""
    from databricks_flight_etl_spark.operators.text import vocab_coverage

    # 5 ASCII bytes + é: the 6-byte prefix cuts é in half (0xC3)
    toks = ["abcdeé", "abcdeéz", "abcdez", "abcde", "abcd饱"]
    texts = [" ".join(toks)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.token, r.n, r.rank, r.coverage)
        for r in vocab_coverage(df, "text", n_buckets=4)
        .orderBy("rank").collect()
    ]
    assert got == _py_vocab_curve(texts)


# ---------------------------------------------------------------- #
# round-8 finding — stop-shingle (max_df) LSH mitigation            #
# ---------------------------------------------------------------- #

def _boiler_corpus(spark, n=60):
    """Every doc = the same fat boilerplate + unique content; one
    planted near-dup pair (docs n and n+1 share content)."""
    docs = []
    boiler = ("subscribe to our newsletter for daily updates and "
              "breaking alerts delivered straight to your inbox ")
    for i in range(n):
        uniq = " ".join(f"tok{i}x{j}qz" for j in range(12))
        docs.append((i, boiler + uniq))
    # planted near-dup: same unique content, tiny tail difference
    docs.append((n, boiler + " ".join(f"dupZ{j}mm" for j in range(12))))
    docs.append(
        (n + 1, boiler + " ".join(f"dupZ{j}mm" for j in range(12)) + " t")
    )
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_minhash_max_df_collapses_boilerplate_buckets(spark):
    """On a boilerplate-heavy corpus the LSH buckets contain (nearly)
    every doc — the quadratic-candidate regime the round-8 scale probe
    hit. max_df drops the boilerplate shingles, so candidates collapse
    to the planted pair and verify judges informative content only."""
    from databricks_flight_etl_spark.operators.dedup import (
        minhash_candidate_pairs, minhash_dedup_pairs, shingle_stop_list,
    )

    df = _boiler_corpus(spark)
    n_docs = df.count()

    stops = shingle_stop_list(df, "text", "doc_id", shingle_k=7,
                              max_df=n_docs // 2)
    assert stops.count() > 50  # the boilerplate's shingles

    cand_raw = minhash_candidate_pairs(
        df, "text", "doc_id", shingle_k=7
    ).count()
    cand_filtered = minhash_candidate_pairs(
        df, "text", "doc_id", shingle_k=7, stops=stops,
    ).count()
    assert cand_filtered < cand_raw  # the collapse
    assert cand_filtered >= 1        # the planted pair survives

    pairs = minhash_dedup_pairs(
        df, "text", "doc_id", threshold=0.8, shingle_k=7,
        max_df=n_docs // 2,
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(60, 61)]
    assert pairs[0].jaccard > 0.8
    # WITHOUT the filter, the shared boilerplate inflates every pair's
    # Jaccard toward the background level; the planted pair is still
    # found (J≈0.99 either way)
    raw_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            df, "text", "doc_id", threshold=0.8, shingle_k=7
        ).collect()
    }
    assert (60, 61) in raw_pairs


def test_minhash_max_df_noop_when_no_stop_shingles(spark):
    """max_df larger than any document frequency must be a NO-OP:
    bit-identical pairs to the unfiltered run."""
    from databricks_flight_etl_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    df = _boiler_corpus(spark, n=30)
    base = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(
            df, "text", "doc_id", threshold=0.8, shingle_k=7
        ).collect()
    )
    filt = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(
            df, "text", "doc_id", threshold=0.8, shingle_k=7,
            max_df=10_000,
        ).collect()
    )
    assert base == filt


def test_minhash_probe_with_stops_matches_full_run_subset(spark):
    """Incremental probe with a stop list == the cross-pairs subset of
    a full max_df run over corpus ∪ increment (the same bit-identity
    contract the unfiltered probe is certified under), provided index
    and probe share the SAME stop list."""
    from databricks_flight_etl_spark.operators.dedup import (
        minhash_bands, minhash_dedup_pairs, minhash_probe,
        shingle_stop_list,
    )

    corpus = _boiler_corpus(spark, n=30)
    inc = corpus.where(F.col("doc_id").isin(5, 17)).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny delta")).alias("text"),
    )
    both = corpus.unionByName(inc)
    stops = shingle_stop_list(both, "text", "doc_id", shingle_k=7,
                              max_df=20).persist()

    idx = minhash_bands(corpus, "text", "doc_id", shingle_k=7,
                        stops=stops)
    got = sorted(
        (r.new_id, r.corpus_id, r.jaccard)
        for r in minhash_probe(
            inc, corpus, idx, "text", "doc_id",
            threshold=0.8, shingle_k=7, stops=stops,
        ).collect()
    )
    full = minhash_dedup_pairs(
        both, "text", "doc_id", threshold=0.8, shingle_k=7, max_df=20
    )
    want = sorted(
        (r.id_b, r.id_a, r.jaccard)
        for r in full.collect()
        if r.id_b >= 1000 and r.id_a < 1000
    )
    # bit-identity of the cross subset is the contract; the NUMBER of
    # pairs is LSH-recall-probabilistic at J≈0.85 under 4×8 banding
    # (each planted pair collides with p≈0.73), so assert ≥1, not ==2
    assert got == want and len(got) >= 1


def test_pipeline_near_dup_max_df(spark):
    """run_textprep_pipeline(near_dup_max_df=...) threads the stop-
    shingle knob through the funnel: the boilerplate-heavy corpus
    still drops its planted near-dup and keeps everything else."""
    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    df = _boiler_corpus(spark, n=25)
    rep = run_textprep_pipeline(
        df, min_tokens=2, max_stopword_ratio=1.0,
        langs=("en", "es", "de", "fr"),
        near_dup_threshold=0.8, shingle_k=7, chunk_tokens=64,
        overlap=16, near_dup_max_df=12,
    )
    kept = {r.doc_id for r in rep.survivors.select("doc_id").collect()}
    # 27 docs in, the planted pair (25, 26) collapses to its min id
    assert 25 in kept and 26 not in kept
    assert len(kept) == 26


def test_simhash_max_df_restores_signature_diversity(spark):
    """Shared boilerplate drags every simhash toward one bit pattern
    (the pigeonhole chunk join then degenerates); max_df restores
    signature diversity while the planted near-dup pair still lands
    within the Hamming radius."""
    from databricks_flight_etl_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    # boilerplate must DOMINATE the shingle mass for the sign sums to
    # collapse: ~10x boilerplate vs 3 unique tokens per doc
    boiler = " ".join(
        f"standard legal disclaimer clause number {i} applies here"
        for i in range(10)
    )
    rows = [
        (i, boiler + " " + " ".join(f"tok{i}x{j}qz" for j in range(3)))
        for i in range(40)
    ]
    dup_content = " ".join(f"dupQ{j}mmx" for j in range(20))
    rows.append((40, boiler + " " + dup_content))
    rows.append((41, boiler + " " + dup_content + " z"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    raw = simhash_near_dup_pairs(
        df, "text", "doc_id", max_hamming=3, shingle_k=7
    )
    filt = simhash_near_dup_pairs(
        df, "text", "doc_id", max_hamming=3, shingle_k=7, max_df=20
    )
    raw_pairs = {(r.id_a, r.id_b) for r in raw.collect()}
    filt_pairs = {(r.id_a, r.id_b) for r in filt.collect()}
    # unfiltered: boilerplate dominates every signature → false
    # near-dups among unrelated docs
    assert len(raw_pairs) > 1
    assert (40, 41) in filt_pairs
    assert all(a == 40 and b == 41 for a, b in filt_pairs)


def test_shingle_profile_flags_boilerplate(spark):
    """The pre-flight diagnostic must clearly separate a low-entropy
    (boilerplate) corpus from a high-entropy one: top_share ≈ 1 and a
    large bg_jaccard_est on the former, both ≈ 0 on the latter."""
    from databricks_flight_etl_spark.operators.dedup import (
        shingle_df_profile,
    )

    low = _boiler_corpus(spark, n=30)
    hi = spark.createDataFrame(
        [(i, " ".join(format((i * 1000 + j) * 2654435761 % 2**32, "08x")
                      for j in range(20)))
         for i in range(30)],
        "doc_id long, text string",
    )
    p_low = shingle_df_profile(low, "text", "doc_id", shingle_k=7).first()
    p_hi = shingle_df_profile(hi, "text", "doc_id", shingle_k=7).first()
    assert p_low.top_share > 0.9 and p_low.bg_jaccard_est > 0.1
    assert p_hi.bg_jaccard_est < 0.01
    assert p_hi.df_p99 <= 5  # nothing shared beyond hash-accidentals
    # and the empty corpus yields one all-null-stats row, not a crash
    empty = spark.createDataFrame([], "doc_id long, text string")
    r = shingle_df_profile(empty, "text", "doc_id").first()
    assert r.n_docs == 0 and r.bg_jaccard_est is None


def test_lambda_filter_tripwire(spark):
    """plans.lambda_filters flags Catalyst re-running a computed-array
    expression inside an inferred filter. Positive control: the
    stop-shingle verify's explode → anti-join built WITHOUT the cache
    boundary carries the pathological plan; _jaccard_verified pins
    before the explode, so its inferred filters land on the
    InMemoryRelation and the count is 0."""
    from databricks_flight_etl_spark import plans
    from databricks_flight_etl_spark.operators.dedup import (
        _jaccard_verified, _shingle_arrays, shingle_stop_list,
    )

    df = _boiler_corpus(spark, n=20)
    stops = shingle_stop_list(df, "text", "doc_id", shingle_k=7,
                              max_df=10)
    pairs = spark.createDataFrame([(20, 21)], "id_a long, id_b long")
    ids = pairs.select(F.col("id_a").alias("__id")).unionByName(
        pairs.select(F.col("id_b").alias("__id"))
    )
    pruned = _shingle_arrays(df, "text", "doc_id", 7).join(
        ids, "__id", "left_semi"
    )
    arrs = (
        pruned
        .select("__id", F.explode("__shs").alias("__sh"))
        .join(stops.select(F.col("shingle").alias("__sh")), "__sh",
              "left_anti")
        .groupBy("__id")
        .agg(F.collect_list("__sh").alias("__shs"))
    )
    a = arrs.select(F.col("__id").alias("id_a"),
                    F.col("__shs").alias("__sa"))
    b = arrs.select(F.col("__id").alias("id_b"),
                    F.col("__shs").alias("__sb"))
    shared = F.size(F.array_intersect("__sa", "__sb"))
    jac = shared / (F.size("__sa") + F.size("__sb") - shared)
    slow = (
        pairs.join(a, "id_a").join(b, "id_b")
        .where(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )
    assert plans.lambda_filters(slow) > 0  # the pathology, visible
    fast = _jaccard_verified(pairs, 0.8, pruned, stops)
    assert plans.lambda_filters(fast) == 0  # pinned boundary absorbs it
    # both shapes produce identical answers
    a = sorted(map(tuple, slow.collect()))
    b = sorted(map(tuple, fast.collect()))
    assert a == b and len(a) == 1


# ---------------------------------------------------------------- #
# round-8 self-review fixes                                         #
# ---------------------------------------------------------------- #

def test_null_texts_do_not_corrupt_shingle_stats(spark):
    """Review finding: a null text used to reach the shingle explode as
    array(NULL), emitting a NULL 'shingle' whose df = #null docs —
    inflating every profile statistic (top_share > 1 was possible) and
    polluting stop lists. Null texts must be invisible to shingle
    tables."""
    from databricks_flight_etl_spark.operators.dedup import (
        minhash_dedup_pairs, shingle_df_profile, shingle_stop_list,
    )

    df = spark.createDataFrame(
        [(0, "the only real document here")]
        + [(i, None) for i in range(1, 4)],
        "doc_id long, text string",
    )
    p = shingle_df_profile(df, "text", "doc_id", shingle_k=7).first()
    assert p.n_docs == 1 and p.df_max == 1 and p.top_share == 1.0
    assert shingle_stop_list(df, "text", "doc_id", 7, max_df=1).count() == 0
    # and the max_df pipeline tolerates null-text rows end to end
    assert minhash_dedup_pairs(
        df, "text", "doc_id", shingle_k=7, max_df=100
    ).count() == 0


def test_max_df_results_unchanged_by_shared_table(spark):
    """Review finding: the stop-list and signature passes now share one
    pinned shingle table. Results must be identical to the per-pass
    construction (pin is an optimization, never a semantic change),
    for minhash and simhash alike."""
    from databricks_flight_etl_spark.operators.dedup import (
        _shingle_table, minhash_candidate_pairs, minhash_dedup_pairs,
        shingle_stop_list, simhash_near_dup_pairs,
    )

    df = _boiler_corpus(spark, n=25)
    stops_own = shingle_stop_list(df, "text", "doc_id", 7, 12)
    st = _shingle_table(df, "text", "doc_id", 7)
    stops_shared = shingle_stop_list(df, "text", "doc_id", 7, 12, table=st)
    assert sorted(map(tuple, stops_own.collect())) == sorted(
        map(tuple, stops_shared.collect())
    )
    mh = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_pairs(
            df, "text", "doc_id", threshold=0.8, shingle_k=7, max_df=12
        ).collect()
    )
    assert (25, 26) in {(a, b) for a, b, _ in mh}
    cands_shared = minhash_candidate_pairs(
        df, "text", "doc_id", shingle_k=7, stops=stops_own, table=st,
    )
    cands_own = minhash_candidate_pairs(
        df, "text", "doc_id", shingle_k=7, stops=stops_own,
    )
    assert sorted(map(tuple, cands_shared.collect())) == sorted(
        map(tuple, cands_own.collect())
    )
    sh = simhash_near_dup_pairs(
        df, "text", "doc_id", max_hamming=3, shingle_k=7, max_df=12
    )
    assert (25, 26) in {(r.id_a, r.id_b) for r in sh.collect()}
