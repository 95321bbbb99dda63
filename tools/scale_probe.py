"""Empirical scaling probe: do the heavy operators scale ~linearly?

Synthesizes a deterministic corpus at 1x and Nx the sf0.1 document/
embedding count (in /tmp, never touching the read-only testdata), runs
the heavy dedup/ANN/text operators at both sizes, and prints the
observed time ratio next to the size ratio. A ratio far above the size
ratio exposes super-linear behavior (candidate-pair blowup, missing
stop-shingle cap, accidental cartesian) that small fixed SFs hide.

Usage: python tools/scale_probe.py [factor=10] [op ...]

Naming ops restricts the probe to that subset — e.g.
``python tools/scale_probe.py 100 winnow`` runs the 100x winnow-only
probe (the full op set at 100x would take hours).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_docs(spark, n, words=120):
    """n lorem-ish docs, deterministic, ~5% planted near-dups."""
    from pyspark.sql import functions as F

    vocab = F.array(*[F.lit(w) for w in (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua enim "
        "minim veniam quis nostrud exercitation ullamco laboris nisi"
    ).split()])
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(words)),
                lambda i: F.element_at(
                    vocab,
                    ((F.xxhash64(F.col("id"), i) % 24 + 24) % 24 + 1)
                    .cast("int"),
                ),
            ),
            " ",
        ).alias("text"),
    )
    clones = base.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + n).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" cloned tail")).alias("text"),
    )
    return base.unionByName(clones)


def synth_embeddings(spark, n, dim=64):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                ((F.xxhash64(F.col("id"), i) % 1000) + 1000) % 1000
            ).cast("double") / 500.0 - 1.0,
        ).alias("embedding"),
    )


def _contamination(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.text import (
        contamination_overlap,
    )

    probes = docs.where(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text")
    )
    return contamination_overlap(docs, probes, "text", "doc_id", n=5,
                                 min_overlap=2)


def _pack(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sampling import (
        pack_by_token_budget,
    )

    t = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    return pack_by_token_budget(t, "doc_id", "n_tokens", budget=4096)


def _cc_star(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.graph import (
        connected_components_star,
    )

    # synthetic pair list ~5% of docs, chained in small runs
    pairs = docs.select(F.col("doc_id").alias("id_a")).where(
        F.col("id_a") % 20 == 0
    ).select("id_a", (F.col("id_a") + 20).alias("id_b"))
    return connected_components_star(pairs)


def _sk():
    from databricks_flight_etl_spark.operators import sketches

    return sketches


def _heavy(docs):
    from pyspark.sql import functions as F

    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w"))
    return _sk().heavy_hitters(words, "w", min_fraction=0.01).count()


def _ks(docs):
    """KS on a CONTINUOUS hash-derived double (distinct ≈ rows) — the
    regime where the pre-round-6 single-partition window collapsed the
    whole distinct-value surface onto one task."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.accuracy import (
        ks_statistic,
    )

    t = docs.select(
        F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b").alias("g"),
        (
            F.pmod(F.xxhash64("doc_id", F.lit("ksv")), F.lit(10 ** 15))
            .cast("double") / 1e9
        ).alias("x"),
    )
    return ks_statistic(t, "x", "g", "a", "b").count()


def _quant(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )

    lens = docs.select(F.length("text").cast("double").alias("x"))
    return quantiles_exact(lens, "x", [0.25, 0.5, 0.9, 0.99]).count()


def _linear_scorer(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.text import (
        linear_score_documents,
    )

    spark = docs.sparkSession
    w = spark.createDataFrame(
        [("lorem", 0.4), ("ipsum", -0.2), ("dolor", 0.1),
         ("tempor", -0.3), ("magna", 0.25)],
        "token string, weight double",
    )
    return linear_score_documents(
        docs, "text", "doc_id", w, bias=-0.05
    ).count()


def _auc(docs):
    """Tie-aware AUC on a CONTINUOUS hash-derived score (distinct ≈
    rows — the regime where a naive global rank window collapses onto
    one task) with a correlated hash label; rides the same shared
    _hist_cumsum prefix-sum the quantile/ks probes certify."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.model_eval import auc_roc

    scored = docs.select(
        (F.xxhash64("doc_id").cast("double") / F.lit(2.0**63))
        .alias("s"),
        (
            F.xxhash64("doc_id")
            + F.pmod(F.xxhash64("doc_id", F.lit("n")), F.lit(1 << 62))
            > 0
        ).cast("int").alias("y"),
    )
    return auc_roc(scored, "s", "y").count()


def _quant_cont(docs):
    """Exact quantiles on a CONTINUOUS hash-derived double (distinct ≈
    rows) — exercises the shared _hist_cumsum distributed prefix-sum
    the same way the ks_drift probe does."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.accuracy import (
        quantiles_exact,
    )

    t = docs.select(
        (
            F.pmod(F.xxhash64("doc_id", F.lit("qv")), F.lit(10 ** 15))
            .cast("double") / 1e9
        ).alias("x")
    )
    return quantiles_exact(t, "x", [0.25, 0.5, 0.9, 0.99]).count()


def _semdedup(vecs):
    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup,
    )

    # n_lists=None: the corpus-scaled default (~256 rows/cluster) —
    # the fixed-8 form this probe previously used showed 102x time at
    # 30x data (per-cluster pair work is quadratic at fixed k)
    return semantic_dedup(vecs, threshold=0.9, iters=1).count()


def _semdedup_2level(vecs, n):
    from databricks_flight_etl_spark.operators.similarity import (
        semantic_dedup_two_level,
    )

    # composite cells sized like the flat default (~256 rows/cell),
    # split sqrt-ish between the levels — the >4096-cell regime's
    # shape run at probe scale
    cells = max(4, n // 256)
    n_super = max(2, int(cells ** 0.5))
    n_sub = max(2, -(-cells // n_super))
    return semantic_dedup_two_level(
        vecs, threshold=0.9, n_super=n_super, n_sub=n_sub, iters=1
    ).count()


def _triangles(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.graph import triangle_total

    # ~8 edges/node random graph with a planted hub touching 2% of
    # nodes: the degree-ordering bound is what's under test
    n = docs.count()
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(F.sequence(F.lit(1), F.lit(8))).alias("j"),
    ).select(
        "src",
        (F.pmod(F.xxhash64("src", "j"), F.lit(1000))
         * F.lit(max(1, n // 1000))).alias("dst"),
    )
    hub = docs.where(F.col("doc_id") % 50 == 0).select(
        F.lit(0).alias("src"), F.col("doc_id").alias("dst"))
    return triangle_total(e1.unionByName(hub)).first()["n_triangles"]


def _mrl(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.sketches import (
        mrl_merge, mrl_quantiles, mrl_sketch,
    )

    lens = docs.select(F.length("text").cast("double").alias("x"))
    sk = mrl_merge(mrl_sketch(lens, "x", k=256), k=256)
    return mrl_quantiles(sk, [0.5, 0.99]).count()


def _pagerank(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.graph import pagerank

    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 37 + 11) % 1000).alias("dst"),
    )
    return pagerank(edges, iters=3).count()


def _zorder(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.relational import (
        zorder_sort,
    )

    t = docs.select(
        F.col("doc_id").cast("double").alias("a"),
        F.length("text").cast("double").alias("b"),
    )
    return zorder_sort(t, "a", "b").count()


def _shingle_sets(docs, k=5):
    from pyspark.sql import functions as F

    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n = F.size(toks) - k + 1
    sh = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", sh.alias("s"))


def _setsim(docs):
    from databricks_flight_etl_spark.operators import dedup

    return dedup.set_similarity_join(
        _shingle_sets(docs), "s", "doc_id", threshold=0.8
    ).count()


def _containment(docs):
    from databricks_flight_etl_spark.operators import dedup

    return dedup.containment_join(
        _shingle_sets(docs), "s", "doc_id", threshold=0.95
    ).count()


def _boiler(docs):
    from databricks_flight_etl_spark.operators import text

    return text.drop_boilerplate_spans(
        docs, "text", "doc_id", span_words=10, min_docs=2
    ).count()


def _resample(docs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators import sampling

    g = docs.withColumn("grp", (F.col("doc_id") % 4).cast("string"))
    return sampling.resample_to_target(
        g, "grp", "doc_id", {"0": 20000, "1": 500, "2": 0}
    ).count()


def _centroid(vecs):
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators import similarity

    g = vecs.withColumn("label", (F.col("vec_id") % 8).cast("int"))
    return similarity.centroid_outlier_scores(g, "label").count()


def _vocab_curve(docs):
    """FULL vocabulary-cutoff curve (no k) on a HIGH-CARDINALITY token
    column: every doc's text is augmented with per-doc unique tokens so
    the vocabulary grows linearly with the corpus (a huge n=1 Zipf
    tail — the exact regime the round-7 distributed rewrite targets;
    the old form ran ONE window over the whole vocabulary)."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.operators.text import vocab_coverage
    from databricks_flight_etl_spark.session import release_pins

    hi = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)),
                    lambda i: F.concat(
                        F.lit("u"),
                        F.conv(
                            F.hex(F.xxhash64(F.col("doc_id"), i)), 16, 36
                        ),
                    ),
                ),
                " ",
            ),
        ).alias("text"),
    )
    n = vocab_coverage(hi, "text").count()
    release_pins()
    return n


def _enrich_text(docs, n_unique=80):
    """REPLACE each doc's text with ``n_unique`` per-doc unique hash
    tokens (clone pairs preserved).

    The 24-word lorem corpus has only a few hundred DISTINCT 7-char
    shingles, so EVERY doc holds most of the pool and background
    Jaccard sits ~0.1–0.2 — at that level LSH candidate generation is
    quadratic BY PROBLEM DEFINITION (nearly every pair genuinely is a
    threshold-adjacent neighbor; measured 2e8 candidates / 50+ GB of
    verify shuffle at 30x). Real crawl text has high character-shingle
    entropy; this synthesizes it outright so the funnel probe measures
    the plan, not an adversarial-entropy corpus (that regime is
    documented in SCALE_PROBE.md instead).

    The token seed is the text HEAD — identical for a planted clone
    and its base (they differ only by the appended ' cloned tail',
    which is re-appended after generation) — so J(base, clone) stays
    ≈0.99 and the near-dup stage keeps real work, while random pairs
    share essentially no shingles (background J ≈ 0)."""
    from pyspark.sql import functions as F

    seed = F.xxhash64(F.substring(F.col("text"), 1, 600))
    return docs.select(
        "doc_id",
        F.concat(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_unique)),
                    lambda i: F.concat(
                        F.lit("u"),
                        F.conv(F.hex(F.xxhash64(seed, i)), 16, 36),
                    ),
                ),
                " ",
            ),
            F.when(
                F.col("text").endswith(" cloned tail"),
                F.lit(" cloned tail"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _textprep_full(docs):
    """The COMPOSED release funnel (quality → lang → exact dedup →
    MinHash-LSH near-dup → CC closure → survivors → per-domain cap →
    chunking) — the product, not the parts: pins the composed shuffle
    count scaling (r7 verdict stretch task). Runs on the entropy-
    enriched corpus (see _enrich_text): clones still pair with their
    bases (shared doc body + shared unique tail), random pairs do not."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    # ~200 synthetic hosts; ~2% of docs non-URL (the uncapped bypass)
    with_url = _enrich_text(docs).select(
        "doc_id", "text",
        F.when(
            F.col("doc_id") % 47 != 0,
            F.concat(
                F.lit("https://host"),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".example.com/d/"),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.lit("not a url")).alias("url"),
    )
    rep = run_textprep_pipeline(
        with_url, min_tokens=5, max_stopword_ratio=1.0,
        langs=("en", "es", "de", "fr"),  # lorem is no language — keep all
        near_dup_threshold=0.8, chunk_tokens=64, overlap=16,
        url_col="url", max_per_domain=40,
    )
    # pipeline pins live in the session cache; main() clearCache()s
    # between scales
    return rep.chunks.count()


def _textprep_raw_stop(docs):
    """The composed release funnel on the RAW low-entropy lorem corpus
    — the adversarial regime where the unmitigated near-dup stage went
    quadratic — with the round-9 corpus-relative knob
    (near_dup_max_df_frac=0.01, the same cap the minhash_stop probe
    resolves absolutely). Probes the pipeline's threading of the stop
    list at the scale that originally ENOSPC'd, not just the bare
    operator."""
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark.pipeline import run_textprep_pipeline

    with_url = docs.select(
        "doc_id", "text",
        F.when(
            F.col("doc_id") % 47 != 0,
            F.concat(
                F.lit("https://host"),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".example.com/d/"),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.lit("not a url")).alias("url"),
    )
    rep = run_textprep_pipeline(
        with_url, min_tokens=5, max_stopword_ratio=1.0,
        langs=("en", "es", "de", "fr"),  # lorem is no language — keep all
        near_dup_threshold=0.8, chunk_tokens=64, overlap=16,
        url_col="url", max_per_domain=40,
        near_dup_max_df_frac=0.01,
    )
    return rep.chunks.count()


def _minhash_stops_supplied(docs):
    """The stops= precomputed-path probe body: one stop-list pass
    (persisted — two downstream consumers), then the guard-free,
    no-cache LSH run. unpersist in a finally so repeated probe
    factors don't accumulate executor storage."""
    from databricks_flight_etl_spark.operators import dedup

    cap = max(50, docs.count() // 100)
    stops = dedup.shingle_stop_list(
        docs, "text", "doc_id", shingle_k=7, max_df=cap
    ).persist()
    try:
        return dedup.minhash_dedup_pairs(
            docs, "text", "doc_id", threshold=0.8, shingle_k=7,
            stops=stops,
        ).count()
    finally:
        stops.unpersist()


def _relined(docs, wpl=8):
    """Re-line the single-line synthetic docs at ``wpl`` words/line so
    the line-level operators see realistic multi-line input."""
    from pyspark.sql import functions as F

    toks = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(toks) / F.lit(float(wpl))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.array_join(F.slice(toks, i * wpl + 1, wpl), " "),
    )
    return docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])
    from databricks_flight_etl_spark.session import get_spark
    from databricks_flight_etl_spark.operators import dedup, similarity, text

    spark = get_spark("scale-probe")
    spark.range(1000).selectExpr("sum(id)").collect()
    base_docs, base_vecs = 5000, 2000

    ops = {
        "minhash_pairs": lambda d, v: dedup.minhash_dedup_pairs(
            d, "text", "doc_id", threshold=0.8, shingle_k=7
        ).count(),
        "simhash_pairs": lambda d, v: dedup.simhash_near_dup_pairs(
            d, "text", "doc_id", max_hamming=3
        ).count(),
        "ngram_jaccard": lambda d, v: dedup.ngram_jaccard_pairs(
            d, "text", "doc_id", threshold=0.6, shingle_k=7, max_df=50
        ).count(),
        "winnow": lambda d, v: text.winnow_fingerprints(
            d, "text", "doc_id"
        ).count(),
        "line_dedup": lambda d, v: text.line_dedup_global(
            _relined(d), "text", "doc_id", min_words=2
        ).count(),
        "repetition": lambda d, v: text.repetition_signals(
            _relined(d), "text", "doc_id"
        ).count(),
        "embed_near_dup": lambda d, v: similarity.cosine_near_dup_pairs(
            v, threshold=0.35
        ).count(),
        "cosine_topk_batch": lambda d, v: similarity.cosine_topk_batch(
            v, probe_ids=[0, 1, 2, 3], k=10
        ).count(),
        "contamination": lambda d, v: _contamination(d).count(),
        "pack_shards": lambda d, v: _pack(d).count(),
        "cc_star": lambda d, v: _cc_star(d).count(),
        "hll_build": lambda d, v: _sk().hll_build(
            d, "doc_id", p=12).count(),
        "heavy_hitters": lambda d, v: _heavy(d),
        "quantiles_exact": lambda d, v: _quant(d),
        "ks_drift": lambda d, v: _ks(d),
        "quantiles_cont": lambda d, v: _quant_cont(d),
        "linear_scorer": lambda d, v: _linear_scorer(d),
        "auc": lambda d, v: _auc(d),
        "semantic_dedup": lambda d, v: _semdedup(v),
        "semdedup_2level": lambda d, v: _semdedup_2level(v, v.count()),
        "pagerank": lambda d, v: _pagerank(d),
        "triangles": lambda d, v: _triangles(d),
        "mrl_sketch": lambda d, v: _mrl(d),
        "zorder_sort": lambda d, v: _zorder(d),
        "set_similarity": lambda d, v: _setsim(d),
        "containment": lambda d, v: _containment(d),
        "boilerplate": lambda d, v: _boiler(d),
        "resample_mix": lambda d, v: _resample(d),
        "centroid_outlier": lambda d, v: _centroid(v),
        "vocab_curve": lambda d, v: _vocab_curve(d),
        "textprep_full": lambda d, v: _textprep_full(d),
        "textprep_raw_stop": lambda d, v: _textprep_raw_stop(d),
        # minhash on the RAW low-entropy lorem corpus WITH the stop-
        # shingle mitigation — the exact configuration that ENOSPC'd
        # unmitigated (2e8 candidates / 50+ GB verify shuffle at 30x).
        # On an all-boilerplate corpus nearly every shingle is a stop
        # shingle, so the filtered answer is (correctly) near-empty —
        # the point is that the run COMPLETES with bounded shuffle.
        "minhash_stop": lambda d, v: dedup.minhash_dedup_pairs(
            d, "text", "doc_id", threshold=0.8, shingle_k=7,
            max_df=max(50, d.count() // 100),
        ).count(),
        # simhash on the same RAW low-entropy lorem corpus with the
        # stop-shingle mitigation: the pigeonhole chunk buckets have
        # the same |bucket|² verify shape as banded MinHash when all
        # signatures collapse toward one bit pattern, so the max_df
        # knob must be probed at the scale that killed MinHash too
        # (round-8 verdict task #4 — the knob shipped with sf-level
        # certification only).
        "simhash_stop": lambda d, v: dedup.simhash_near_dup_pairs(
            d, "text", "doc_id", max_hamming=3,
            max_df=max(50, d.count() // 100),
        ).count(),
        # same configuration as minhash_stop but with the bounded
        # cluster output: on this corpus the true pair population is
        # near-quadratic (294k rows at 30x), while the (node,
        # component) labeling is O(n) — the row count printed next to
        # the timing IS the claim being probed.
        "minhash_stop_clusters": lambda d, v: dedup.minhash_dedup_pairs(
            d, "text", "doc_id", threshold=0.8, shingle_k=7,
            max_df=max(50, d.count() // 100), output="clusters",
        ).count(),
        # SimHash face of the bounded cluster output (round-9 verdict
        # task #2): the pigeonhole chunk buckets have the same Θ(n²)
        # verify shape as banded MinHash (see simhash_stop above), so
        # the O(n) output claim must be probed on this entry point
        # too — the row count printed next to the timing IS the claim.
        "simhash_stop_clusters": lambda d, v: dedup.simhash_near_dup_pairs(
            d, "text", "doc_id", max_hamming=3,
            max_df=max(50, d.count() // 100), output="clusters",
        ).count(),
        # the documented 100 TB mitigation mode (round-10): compute
        # shingle_stop_list ONCE, persist its tiny output, hand it to
        # the entry point via stops= — which skips the guard AND the
        # corpus-scale shingle-table cache. Same exclusion as
        # minhash_stop by construction, so the comparison isolates
        # the cost/benefit of the precomputed path at the scale that
        # motivated it.
        "minhash_stops_supplied": lambda d, v: _minhash_stops_supplied(d),
        # BPE training reads the DISTINCT-WORD frequency table, so its
        # cost is vocabulary-bounded, not corpus-bounded: the probe's
        # claim is ~flat time as the corpus grows (the one corpus-size
        # job is the up-front word-frequency aggregation). The bounded
        # local fast path (round-11) takes over whenever the distinct
        # words fit 100k — which any natural-language vocabulary does;
        # the 'rows' printed is the learned merge count.
        "bpe_train": lambda d, v: len(
            text.bpe_train_merges(d, "text", n_merges=8)
        ),
    }

    if only:
        unknown = only - set(ops)
        if unknown:
            raise SystemExit(f"unknown ops: {sorted(unknown)}")
        ops = {k: v for k, v in ops.items() if k in only}

    results = {}
    for scale, label in ((1, "1x"), (factor, f"{factor}x")):
        docs = synth_docs(spark, base_docs * scale).persist()
        vecs = synth_embeddings(spark, base_vecs * scale).persist()
        docs.count(), vecs.count()
        for name, fn in ops.items():
            t0 = time.time()
            n = fn(docs, vecs)
            dt = time.time() - t0
            results.setdefault(name, {})[label] = (dt, n)
            print(f"{label:>4} {name:>18}: {dt:6.2f}s ({n} rows)",
                  file=sys.stderr)
        docs.unpersist(), vecs.unpersist()
        spark.catalog.clearCache()

    print(f"\n== scaling at {factor}x input (ratio ~{factor} = linear) ==")
    for name, r in results.items():
        t1, _ = r["1x"]
        tn, _ = r[f"{factor}x"]
        print(f"{name:>18}: {tn / max(t1, 1e-9):5.1f}x time for {factor}x data")


if __name__ == "__main__":
    main()
