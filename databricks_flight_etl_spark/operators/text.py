"""X4 text analysis: tokenization, quality metrics, language ID,
fingerprints (SURVEY §2.11 — north-star extension, not a reference op).

Everything is built-in column/array expressions (split/filter/transform/
aggregate) — JVM-side, whole-stage codegen'd, no Python UDFs — so the
operators scale linearly: one narrow map stage plus (for global token
counts) a single hash-aggregate shuffle on the token key.

Token-based (not regex-based) scoring keeps semantics portable across
engines (the DuckDB oracle mirrors the same list operations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..partitioning import spread

__all__ = [
    "EN_STOPWORDS",
    "STOPWORD_SETS",
    "PII_EMAIL",
    "PII_IP",
    "PII_PHONE",
    "tokens",
    "bpe_ish_tokens",
    "bpe_merge_candidates",
    "token_counts",
    "token_top_k",
    "vocab_coverage",
    "text_quality",
    "lang_id",
    "fingerprint",
    "winnow_fingerprints",
    "split_sentences",
    "tf_idf",
    "chunk_documents",
    "pii_redact",
    "quality_signals",
    "linear_score_documents",
    "URL_HOST_PATTERN",
    "url_host",
    "strip_html",
    "contamination_overlap",
    "dedup_repeated_spans",
    "drop_boilerplate_spans",
    "ngram_lm_score",
    "line_dedup_global",
    "repetition_signals",
    "bpe_apply_merges",
    "bpe_train_merges",
]

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# Small per-language function-word sets for the n-gram/stopword-overlap
# language heuristic. Order in STOPWORD_SETS fixes the argmax precedence.
STOPWORD_SETS: dict[str, tuple[str, ...]] = {
    "en": EN_STOPWORDS,
    "es": ("el", "la", "de", "y", "en", "es", "los", "por", "con", "del"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"),
    "fr": ("le", "la", "de", "et", "est", "les", "un", "une", "dans", "pour"),
}


def tokens(col: Column | str) -> Column:
    """Non-empty whitespace tokens as array<string> (single-space split;
    empty strings from runs of spaces are filtered)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda t: t != "")


# Letter runs, digit runs, and single non-space symbols — the shape a
# byte-pair-encoding pre-tokenizer produces before merges. The character
# classes are plain ASCII ranges so the pattern means the same thing in
# Java regex (Spark) and RE2 (DuckDB/others).
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-pre-tokenizer-style tokens as array<string>: letter runs,
    digit runs, and individual punctuation marks ('don't' → [don, ',
    t]; 'v2.0' → [v, 2, ., 0]). A cheap JVM-side proxy for LLM token
    counting — counts correlate with real BPE token counts far better
    than whitespace splits on code/punctuation-heavy text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def token_counts(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Per-document token counts, whitespace and BPE-ish:
    (id, n_ws_tokens, n_bpe_tokens). Per-row array math — no shuffle."""
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("n_ws_tokens"),
        F.size(bpe_ish_tokens(text_col)).alias("n_bpe_tokens"),
    )


def token_top_k(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Global top-k token frequencies: (token, n), total order
    (n desc, token asc).

    Plan shape: explode (narrow) → partial+final hash agg on token →
    TakeOrderedAndProject — the only shuffle is on the token key, and
    map-side partial aggregation collapses the heavy hitters before it.
    """
    toks = spread(df.select(F.col(text_col))).select(
        F.explode(tokens(text_col)).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("token")).limit(k)


def vocab_coverage(
    df: DataFrame, text_col: str, k: int | None = None,
    decimals: int = 6, n_buckets: int = 256,
) -> DataFrame:
    """The vocabulary-cutoff curve: tokens by descending corpus
    frequency with the RUNNING coverage of all token occurrences —
    answers 'how many vocabulary types cover 95% of the corpus', the
    sizing question behind tokenizer vocab and UNK thresholds.
    Output: (token, n, rank, coverage), ties broken by token so the
    order is total and engine-reproducible; ``k`` truncates the curve.

    Plan shape, two regimes — NEVER one ordered window over the whole
    vocabulary (a web-scale corpus has billions of distinct tokens —
    typos, URLs, code identifiers — so 'the vocab is small' does not
    hold; the round-6 verdict flagged exactly that single-task shape):

    - ``k`` given (the common sizing call): PRUNE FIRST.
      ``orderBy(n desc, token).limit(k)`` is TakeOrderedAndProject —
      per-partition k-row heaps merged once — and the rank/cumsum
      window then runs over ≤ k rows. Coverage still divides by the
      FULL corpus total (one scalar agg).
    - full curve: the (n desc, token asc) running sum splits exactly as
      ``cum(t) = mass[counts > n_t] + n_t · r_eq(t)`` and
      ``rank(t) = types[counts > n_t] + r_eq(t)``, where the per-count
      table (distinct count VALUES — ≤ √(2·total_tokens) rows by the
      pigeonhole sum bound) gets its cumulative types/mass via the
      shared distributed prefix-sum (accuracy._hist_cumsum on ``n``),
      and ``r_eq(t)`` — the position of t among SAME-count tokens in
      token order — comes from ``_hist_cumsum`` partitioned by ``n``
      and range-bucketed on the token's first-6-bytes-as-integer
      (exactly monotone w.r.t. the bytewise UTF-8 ordering BOTH Spark
      (UTF8String.compareTo) and DuckDB (default binary collation) sort
      strings by, so bucket boundaries respect the sort; 48 bits stays
      exact in the double bucket math). The n=1 long tail — the bulk of
      any Zipf vocabulary — spreads over ``n_buckets`` window tasks
      instead of one. The final join back on ``n`` is skew-prone by
      nature (n=1 matches most of the vocabulary); AQE's skew-join
      split handles it — the per-count side is one row per key.

    The full-curve path pins two histograms via ``_hist_cumsum``;
    long-lived sessions release them with ``session.release_pins()``."""
    from pyspark.sql import Window

    toks = spread(df.select(F.col(text_col))).select(
        F.explode(tokens(text_col)).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    if k is not None:
        total = counts.agg(F.sum("n").alias("__tot"))
        top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
        # ≤ k rows by construction — keyed explicitly (pmod guard, the
        # _hist_cumsum convention) so WindowExec's single-partition
        # warning only ever flags genuinely unbounded windows
        guard = F.pmod(F.col("n"), F.lit(1))
        w = (
            Window.partitionBy(guard)
            .orderBy(F.desc("n"), F.asc("token"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            top.crossJoin(F.broadcast(total))
            .select(
                "token", "n",
                F.row_number().over(
                    Window.partitionBy(guard).orderBy(
                        F.desc("n"), F.asc("token")
                    )
                ).cast("bigint").alias("rank"),
                F.round(
                    F.sum("n").over(w) / F.col("__tot"), decimals
                ).alias("coverage"),
            )
        )

    from .accuracy import _hist_cumsum

    per_n = (
        counts.groupBy("n")
        .agg(F.count(F.lit(1)).alias("__types"))
        .select(
            "n", "__types", (F.col("n") * F.col("__types")).alias("__mass")
        )
    )
    total = counts.agg(
        F.sum("n").alias("__tot_mass"), F.count(F.lit(1)).alias("__tot_types")
    )
    # per distinct count value: types/mass of STRICTLY GREATER counts
    # (ascending-inclusive cumsum complemented against the totals)
    gt = (
        _hist_cumsum(per_n, "n", ["__types", "__mass"])
        .crossJoin(F.broadcast(total))
        .select(
            "n",
            (F.col("__tot_types") - F.col("__cum___types")).alias("__gt_types"),
            (F.col("__tot_mass") - F.col("__cum___mass")).alias("__gt_mass"),
            "__tot_mass",
        )
    )
    # r_eq: rank of the token among its exact-count peers, token asc —
    # value column is a STRING, so level-1 buckets on its byte prefix
    proxy = F.conv(
        F.hex(F.expr("rpad(encode(token, 'UTF-8'), 6, x'00')")), 16, 10
    )
    req = _hist_cumsum(
        counts.select("n", "token", F.lit(1).alias("__o")),
        "token", ["__o"], by=["n"], bucket_on=proxy, n_buckets=n_buckets,
    )
    return req.join(gt, "n").select(
        "token",
        "n",
        # bigint: a web-scale vocabulary exceeds 2^31 distinct tokens —
        # the very regime this distributed path exists for
        (F.col("__gt_types") + F.col("__cum___o")).cast("bigint").alias("rank"),
        F.round(
            (F.col("__gt_mass") + F.col("n") * F.col("__cum___o"))
            / F.col("__tot_mass"),
            decimals,
        ).alias("coverage"),
    )


def text_quality(df: DataFrame, text_col: str, id_col: str,
                 decimals: int = 6, append: bool = False) -> DataFrame:
    """Per-document quality metrics: (id, n_tokens, avg_token_len,
    stopword_ratio) — the length/stopword-ratio heuristics of an LLM
    training-data quality filter. Pure per-row array math: no shuffle.

    ``append=True`` keeps every input column and appends the metrics —
    the pipeline form: a quality FILTER is then a plain ``where`` on the
    same frame, no join-back by id (which would add a shuffle)."""
    toks = tokens(text_col)
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    metrics = [
        n.alias("n_tokens"),
        F.round(sum_len / n, decimals).alias("avg_token_len"),
        F.round(n_stop / n, decimals).alias("stopword_ratio"),
    ]
    if append:
        return df.select(F.col("*"), *metrics)
    return df.select(F.col(id_col), *metrics)


def lang_id(df: DataFrame, text_col: str, id_col: str,
            append: bool = False) -> DataFrame:
    """Language guess via stopword-set overlap, deterministic argmax with
    the STOPWORD_SETS precedence (en > es > de > fr on ties). Output:
    (id, s_en, s_es, s_de, s_fr, lang_guess). Per-row only — no shuffle.
    ``append=True`` keeps every input column and appends ``lang_guess``
    (the pipeline-filter form — see text_quality)."""
    toks = tokens(text_col)

    def _score(words: tuple[str, ...]):
        # single-arg lambda: extra defaulted params would be (mis)read as
        # lambda variables by Spark's higher-order-function binder
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lang: _score(words) for lang, words in STOPWORD_SETS.items()}
    guess = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]), "es")
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    if append:
        return df.select(F.col("*"), guess.alias("lang_guess"))
    return df.select(
        F.col(id_col),
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
        guess.alias("lang_guess"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str,
                hex_chars: int = 16) -> DataFrame:
    """Content fingerprint: leading ``hex_chars`` of sha256(text) —
    a 64-bit-by-default stable document identity for dedup bookkeeping."""
    return df.select(
        F.col(id_col),
        F.substring(F.sha2(F.col(text_col), 256), 1, hex_chars).alias("fp"),
    )


# PII patterns shared by the redactor and its oracle. Plain ASCII
# classes only, so each pattern means the same thing under Java regex
# (Spark) and RE2 (DuckDB and most other engines).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9]{7,15}\b|\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"


def pii_redact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """PII scrubbing — a standard pass in LLM training-data pipelines:
    emails, IPv4 addresses, then phone numbers are replaced with typed
    placeholders, in that fixed order (an IP never hides inside an
    already-redacted email, and the chain is reproducible by any engine
    applying the same three global replaces in sequence).

    Output: (id, clean, n_emails, n_ips, n_phones) where each count is
    taken on the text AS THE STAGE SAW IT. Pure per-row regex — JVM
    codegen, no shuffle, linear at any corpus size.
    """
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL, "[EMAIL]")
    t2 = F.regexp_replace(t1, PII_IP, "[IP]")
    t3 = F.regexp_replace(t2, PII_PHONE, "[PHONE]")
    return df.select(
        F.col(id_col),
        t3.alias("clean"),
        F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t1, F.lit(PII_IP), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE), 0)).alias("n_phones"),
    )


def quality_signals(
    df: DataFrame, text_col: str, id_col: str, decimals: int = 6
) -> DataFrame:
    """Gopher/C4-style document quality signals (cf. Rae et al. 2021
    §A1.1, Raffel et al. 2020 §2.2 — published heuristics, re-expressed
    as Spark column math):

    (id, n_chars, n_words, mean_word_len, symbol_ratio, digit_ratio,
     upper_ratio, dup_word_ratio, has_stopword)

    - ``symbol_ratio``/``digit_ratio``/``upper_ratio``: character-class
      share of all characters (C4 drops pages with too much junk);
    - ``dup_word_ratio``: 1 − distinct/total words — the repetition
      signal (Gopher's duplicate-fraction family);
    - ``has_stopword``: ≥2 common-English-word hits (C4's "contains a
      common word" sanity check).

    Pure per-row expressions: no shuffle, no UDF; a quality FILTER is a
    plain ``where`` downstream.
    """
    t = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(t)
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    def _class_count(pattern: str):
        # chars REMAINING after deleting the class's complement
        return F.length(F.regexp_replace(t, pattern, ""))
    n_sym = _class_count(r"[A-Za-z0-9 ]")
    n_digit = _class_count(r"[^0-9]")
    n_upper = _class_count(r"[^A-Z]")
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*EN_STOPWORDS)))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(sum_len / n_words, decimals).alias("mean_word_len"),
        F.round(n_sym / n_chars, decimals).alias("symbol_ratio"),
        F.round(n_digit / n_chars, decimals).alias("digit_ratio"),
        F.round(n_upper / n_chars, decimals).alias("upper_ratio"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(toks)) / n_words, decimals
        ).alias("dup_word_ratio"),
        (n_stop >= 2).alias("has_stopword"),
    )


def contamination_overlap(
    docs: DataFrame,
    probes: DataFrame,
    text_col: str,
    id_col: str,
    probe_text_col: str = "probe_text",
    probe_id_col: str = "probe_id",
    n: int = 5,
    min_overlap: int = 1,
    decimals: int = 6,
) -> DataFrame:
    """Benchmark-contamination check: word n-gram overlap between every
    corpus document and a (small) probe/benchmark set — the standard
    train/test leakage scan before an LLM training run.

    Plan shape for 100 TB: both sides shingle to DISTINCT n-grams
    (explode is narrow; distinct-per-row is array math, not a shuffle),
    n-grams are joined AS 64-bit xxhash64 keys (8-byte shuffle/broadcast
    rows, never strings), and the probe side — benchmarks are MBs, not
    TBs — is broadcast, so the corpus never shuffles at all: scan →
    explode → broadcast-hash-join → partial/final agg on doc id.

    Output: (id, probe_id, n_overlap, probe_ngrams, overlap_ratio) for
    pairs with ``n_overlap ≥ min_overlap``; ratio is overlap over the
    probe's n-gram count (≥ threshold ⇒ contaminated).
    """
    def _shingles(col: str):
        toks_ = tokens(col)
        k = F.size(toks_) - n + 1
        # guard k >= 1: sequence(1, 0) auto-steps DOWN to [1, 0] and
        # slice(toks, 0, n) throws — a doc/probe shorter than n tokens
        # must yield ZERO n-grams (matches the oracle's range(1, 1))
        return F.when(
            k >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice(toks_, i, n), " ")
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    d = spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(_shingles(text_col)).alias("__g")
    )
    p = probes.select(F.col(probe_id_col), F.col(probe_text_col)).select(
        F.col(probe_id_col), F.explode(_shingles(probe_text_col)).alias("__g")
    )
    probe_sizes = p.groupBy(probe_id_col).agg(
        F.count(F.lit(1)).alias("probe_ngrams")
    )
    hits = (
        d.join(F.broadcast(p), "__g")
        .groupBy(id_col, probe_id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )
    return hits.join(F.broadcast(probe_sizes), probe_id_col).select(
        F.col(id_col),
        F.col(probe_id_col),
        "n_overlap",
        "probe_ngrams",
        F.round(F.col("n_overlap") / F.col("probe_ngrams"), decimals).alias(
            "overlap_ratio"
        ),
    )


def dedup_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 10,
) -> DataFrame:
    """Span-level GLOBAL dedup (the C4/Gopher repeated-line pass, cf.
    Raffel et al. 2020 §2.2 / Lee et al. 2022): split every document
    into tumbling ``span_words``-word spans, keep only the FIRST
    occurrence of each distinct span corpus-wide (first = smallest
    (doc, position)), and rebuild documents from their surviving spans.
    Catches boilerplate shared across documents that whole-document
    dedup can never see.

    Output: (id, clean, n_spans, n_kept); documents whose every span
    was seen earlier elsewhere survive with ``clean = ''``.

    Plan shape: explode is narrow; the first-occurrence group-by keys
    on the md5 DIGEST of the span (16 bytes shuffled per span, never
    the text); the rebuild groups by doc id. Two hash shuffles total,
    both on bounded keys — linear at corpus scale.
    """
    toks = tokens(F.col("__raw"))
    n_spans_c = F.ceil(F.size(toks) / span_words).cast("int")
    span_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans_c - 1),
            lambda i: F.array_join(
                F.slice(toks, i * span_words + 1, span_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = spread(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__raw")),
        "__id",
    ).select(
        "__id", F.posexplode(span_arr).alias("__idx", "__span")
    ).withColumn("__h", F.md5("__span"))
    # first occurrence = lexicographic min over (doc, position) as a
    # STRUCT (struct min orders field-by-field) — an arithmetic
    # composite like id*1e6+idx overflows/collides for 64-bit doc ids
    # or docs with >= 1e6 spans. Rename the grouped key before the
    # self-join: joining spans back to an aggregate OF ITSELF on the
    # same column name makes Spark resolve the equality to one side
    # (trivially true) — rename removes the ambiguity entirely
    firsts = spans.groupBy("__h").agg(
        F.min(F.struct("__id", "__idx")).alias("__mk")
    ).select(F.col("__h").alias("__fh"), "__mk")
    kept = spans.join(
        firsts,
        (F.col("__h") == F.col("__fh"))
        & (F.struct("__id", "__idx") == F.col("__mk")),
    ).select("__id", "__idx", "__span")
    totals = spans.groupBy("__id").agg(F.count(F.lit(1)).alias("n_spans"))
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__span"))),
                lambda s: s["__span"],
            ),
            " ",
        ).alias("clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("clean", F.lit("")).alias("clean"),
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def drop_boilerplate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 10,
    min_docs: int = 3,
) -> DataFrame:
    """Frequency-threshold boilerplate removal (the CCNet/RefinedWeb
    'drop frequent lines' pass, complementary to
    :func:`dedup_repeated_spans`'s keep-first semantics): any tumbling
    ``span_words``-word span that occurs in ≥ ``min_docs`` DISTINCT
    documents is boilerplate, and EVERY occurrence is dropped (nav
    bars, cookie banners, license footers — keep-first would wrongly
    bless the first page that carried them). Documents are rebuilt
    from their surviving spans in position order.

    Output: (id, clean, n_spans, n_kept) — same shape as
    dedup_repeated_spans so the two passes compose in a pipeline.

    Plan shape: narrow explode; the doc-frequency aggregate keys on
    the span's 16-byte md5 digest (count_distinct(doc) per digest —
    partial aggregation applies); the boilerplate digest set prunes
    via LEFT ANTI join on the digest (AQE broadcasts it when small —
    it is the FREQUENT span set, bounded by corpus_spans / min_docs);
    the rebuild groups by doc id. Three digest-keyed shuffles, all on
    bounded keys — linear at corpus scale.
    """
    toks = tokens(F.col("__raw"))
    n_spans_c = F.ceil(F.size(toks) / span_words).cast("int")
    span_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans_c - 1),
            lambda i: F.array_join(
                F.slice(toks, i * span_words + 1, span_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = spread(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__raw")),
        "__id",
    ).select(
        "__id", F.posexplode(span_arr).alias("__idx", "__span")
    ).withColumn("__h", F.md5("__span"))
    boiler = (
        spans.groupBy("__h")
        .agg(F.count_distinct("__id").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h")
    )
    kept = spans.join(boiler, "__h", "left_anti").select(
        "__id", "__idx", "__span"
    )
    totals = spans.groupBy("__id").agg(F.count(F.lit(1)).alias("n_spans"))
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__span"))),
                lambda s: s["__span"],
            ),
            " ",
        ).alias("clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("clean", F.lit("")).alias("clean"),
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def tf_idf(
    df: DataFrame, text_col: str, id_col: str,
    min_df: int = 1, decimals: int = 6,
) -> DataFrame:
    """TF-IDF per (document, token): tf · ln(N / df), smooth-free
    classic form (SURVEY §2.11 X4; cf. PAPERS.md EDBT 2016).

    Plan: one explode → (doc, token) counts (shuffle 1, on (doc,token))
    → token document frequencies (shuffle 2, on token, from the
    ALREADY-aggregated table) → broadcast-join idf back. N is computed
    once (count of docs). ``min_df`` drops hapax noise before the join.
    Output: (id, token, tf, df, tfidf).
    """
    n_docs = df.count()  # one tiny job; a literal thereafter
    # spread by id: parallelizes the explode AND pre-satisfies the
    # groupBy(__id, token) clustering (id is a subset of the grouping
    # keys), so the tf aggregate needs no exchange of exploded rows
    pairs = spread(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__raw")),
        "__id",
    ).select("__id", F.explode(tokens("__raw")).alias("token"))
    tf = pairs.groupBy("__id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )
    idf = F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .select(
            F.col("__id").alias(id_col),
            "token",
            "tf",
            "df",
            F.round(F.col("tf") * idf, decimals).alias("tfidf"),
        )
    )


def bm25_scores(
    df: DataFrame, text_col: str, id_col: str, query_terms: list[str],
    k1: float = 1.2, b: float = 0.75, decimals: int = 6,
) -> DataFrame:
    """Okapi BM25 score of each document against a fixed term set
    (Robertson's +1 idf variant):

        Σ_t ln((N - df + .5)/(df + .5) + 1)
            · tf(k1+1) / (tf + k1(1 - b + b·dl/avgdl))

    Plan: doc lengths per row (no shuffle) → explode filtered to the
    query terms (the filter folds into the generator, so only query-term
    rows ever materialize) → (doc, term) tf (shuffle 1) → term df from
    the aggregated tf table (tiny, broadcast back). Per-term partials
    are rounded then summed as exact DECIMAL so the per-doc total is
    independent of Spark's/any engine's float summation order.
    Output: (id, score, n_terms_hit).
    """
    toks = spread(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__raw")),
        "__id",
    ).select("__id", tokens("__raw").alias("__toks"))
    lens = toks.select("__id", F.size("__toks").alias("__dl"))
    tot = lens.agg(
        F.sum("__dl").alias("s"), F.count(F.lit(1)).alias("c")
    ).first()
    n_docs, avgdl = tot["c"], tot["s"] / tot["c"]
    pairs = toks.select(
        "__id", F.explode("__toks").alias("token")
    ).where(F.col("token").isin(list(query_terms)))
    tf = pairs.groupBy("__id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_term = idf * (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("__dl") / F.lit(avgdl))
    )
    return (
        tf.join(F.broadcast(dfreq), "token")
        .join(lens, "__id")
        .groupBy("__id")
        .agg(
            F.sum(F.round(per_term, 9).cast("decimal(18,9)"))
            .cast("double")
            .alias("__raw"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.round("__raw", decimals).alias("score"),
            "n_terms_hit",
        )
    )


def chunk_documents(
    df: DataFrame, text_col: str, id_col: str,
    chunk_tokens: int = 64, overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    training-data preprocessing staple. Output: (id, chunk_idx,
    chunk_text, n_chunk_tokens); stride = chunk_tokens − overlap;
    the final partial window is kept (so every token lands in ≥1
    chunk); docs shorter than one chunk yield exactly one chunk.

    Pure per-row array math (tokens → sequence of window starts →
    slice + join-back) then one explode — a narrow map, no shuffle,
    no Python.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size(toks)
    # number of windows: ceil(max(n - overlap, 1) / stride)
    n_win = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"),
        F.lit(1),
    )
    starts = F.sequence(F.lit(0), n_win - 1)
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.slice(toks, i * stride + 1, chunk_tokens).alias("__toks"),
        ),
    )
    exploded = df.select(
        F.col(id_col), F.explode(chunks).alias("__c")
    )
    return exploded.select(
        F.col(id_col),
        F.col("__c.chunk_idx").alias("chunk_idx"),
        F.array_join(F.col("__c.__toks"), " ").alias("chunk_text"),
        F.size(F.col("__c.__toks")).alias("n_chunk_tokens"),
    )


def split_sentences(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per '.'-delimited sentence: (id, idx, sentence), trimmed,
    empties dropped, idx dense from 0.

    Deliberately the Python **UDTF** path (the one UDF family member
    built-ins can't mimic: one input row → N output rows with per-row
    Python logic), applied per row via a LATERAL join. For plain
    delimiter splits prefer split+posexplode (JVM-side); reach for a
    UDTF when the expansion logic needs real Python (parsers,
    tokenizers, generators).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx: int, sentence: string")
    class _SplitSentences:
        def eval(self, text):
            if text is None:
                return
            parts = [x.strip() for x in text.split(".")]
            for i, s in enumerate(x for x in parts if x):
                yield i, s

    spark = df.sparkSession
    spark.udtf.register("__split_sentences_udtf", _SplitSentences)
    df.createOrReplaceTempView("__split_sentences_src")
    return spark.sql(
        f"SELECT {id_col}, s.idx, s.sentence "
        f"FROM __split_sentences_src, "
        f"LATERAL __split_sentences_udtf({text_col}) s"
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str,
    k: int = 8, window: int = 4, hash_family: str = "xxhash64",
    max_fingerprints: int | None = None,
) -> DataFrame:
    """Winnowing fingerprints (the MOSS scheme): hash every k-gram,
    keep the minimum hash of each sliding window of ``window`` k-grams,
    deduplicate. Two documents sharing any run of ≥ k+window-1 chars
    are guaranteed to share a fingerprint — the basis of contained-copy
    detection (quote/boilerplate reuse), which whole-document hashing
    and Jaccard both miss.

    Output: (id, fp) long table, one row per distinct selected hash.
    The whole selection is per-row array math (k-gram order is
    positional, so no explode/regroup that could reorder): normalize →
    ordered k-gram hashes → window minima → in-array dedup → explode.
    The only shuffle is the final distinct on (id, fp), which the
    in-array dedup has already reduced to ≈ its output size.

    Output growth bound: winnowing selects ≈ 2/(window+1) of the
    k-gram positions (Schleimer et al., SIGMOD'03 density bound), so
    the output is LINEAR in total corpus characters — ≤ len(text)
    rows per doc before dedup, ≈ 2·len/(window+1) expected.
    ``max_fingerprints`` caps per-document output hard: the SMALLEST
    ``max_fingerprints`` selected hashes are kept (a deterministic
    bottom-k of the winnowed set — min-wise, so two near-identical
    docs keep near-identical capped sets, preserving overlap-detection
    power; a positional prefix would not). Use it when document length
    is unbounded (crawl data at 100 TB) to make downstream joins on
    ``fp`` provably O(docs·cap) instead of O(total characters).
    """
    from .dedup import normalize_text  # local import: avoid module cycle

    # spread by id: parallelizes the per-position hashing and
    # pre-satisfies the final distinct's (id, fp) clustering, so the
    # whole selection runs with a single (tiny, pre-normalize) exchange
    norm = spread(
        df.select(F.col(id_col), F.col(text_col).alias("__raw")), id_col
    ).select(F.col(id_col), normalize_text("__raw").alias("__t"))
    t = F.col("__t")
    from ..operators.dedup import _base_hash  # portable-hash option

    def _g(col):
        return _base_hash(col, hash_family)

    # ordered (non-distinct!) k-gram hash sequence; short texts hash whole
    grams = F.when(
        F.length(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - (k - 1)),
            lambda i: _g(F.substring(t, i, k)),
        ),
    ).otherwise(F.array(_g(t)))
    hashed = norm.select(F.col(id_col), grams.alias("__hs"))
    n = F.size(F.col("__hs"))
    win_mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (window - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(F.col("__hs"), i, window)),
    )
    # dedupe inside the row BEFORE exploding: the explode emits each
    # selected hash once per doc (not once per window that selected
    # it), so the final distinct shuffles ~output-size rows, not
    # ~one row per k-gram position
    selected = F.array_distinct(win_mins)
    if max_fingerprints is not None:
        if max_fingerprints < 1:
            raise ValueError(
                f"max_fingerprints must be >= 1, got {max_fingerprints}"
            )
        # bottom-k of the selected hashes: deterministic, min-wise
        selected = F.slice(F.array_sort(selected), 1, max_fingerprints)
    return (
        hashed.select(F.col(id_col), F.explode(selected).alias("fp"))
        .distinct()
    )


def ngram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    train_df: DataFrame | None = None,
    alpha: float = 0.4,
    decimals: int = 6,
) -> DataFrame:
    """CCNet-style bigram LM quality score: train a bigram model on
    ``train_df`` (default: the scored corpus itself), then score each
    document by its mean bigram log-probability with stupid-backoff
    smoothing (Brants et al. 2007): P(w2|w1) = c(w1 w2)/c(w1) when the
    bigram was seen, else alpha·c(w2)/N, else alpha/N. Gibberish and
    boilerplate hit the backoff and score far below fluent text — the
    standard pretraining quality filter when no external LM exists.
    NOTE the self-training degeneracy: scoring the training corpus
    itself, never-repeated bigrams get c12/c1 = 1/1 → logprob 0; for
    filtering, train on a REFERENCE corpus and score candidates.

    Plan: explode to bigrams (narrow), two count aggregates train the
    model, token-keyed joins score — the model is a pair of DataFrames
    (scales with vocabulary, never driver memory). Output:
    (id, n_bigrams, lm_score)."""
    def prep(frame):
        return spread(
            frame.select(
                F.col(id_col).alias("id"), tokens(text_col).alias("__t")
            )
        ).where(F.size("__t") >= 2)

    def to_bigrams(frame):
        return frame.select(
            "id",
            F.explode(
                F.transform(
                    F.slice(F.col("__t"), 1, F.size("__t") - 1),
                    lambda w, i: F.struct(
                        w.alias("w1"),
                        F.element_at(F.col("__t"), i + 2).alias("w2"),
                    ),
                )
            ).alias("bg"),
        ).select("id", "bg.w1", "bg.w2")

    train = prep(train_df if train_df is not None else df)
    score = prep(df) if train_df is not None else train
    uni = (
        train.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n_tokens = train.select(
        F.sum(F.size("__t")).alias("n")
    ).collect()[0]["n"] or 1
    bg_counts = to_bigrams(train).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("cbg")
    )
    floor_lp = F.log(F.lit(alpha / float(n_tokens)))
    scored = (
        to_bigrams(score)
        .join(bg_counts, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"),
                         F.col("cw").alias("c1")), "w1", "left")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("cw").alias("c2")), "w2", "left")
        .select(
            "id",
            F.when(
                F.col("cbg").isNotNull() & F.col("c1").isNotNull(),
                F.log(F.col("cbg").cast("double") / F.col("c1")),
            ).when(
                F.col("c2").isNotNull(),
                F.log(F.lit(alpha) * F.col("c2")
                      / F.lit(float(n_tokens))),
            ).otherwise(floor_lp).alias("lp"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), decimals).alias("lm_score"),
        )
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str, k: int = 20
) -> DataFrame:
    """One step of BPE vocabulary induction: the ``k`` most frequent
    ADJACENT token pairs across the corpus — exactly the statistic a
    BPE trainer greedily merges next (Sennrich et al. 2016). Useful
    standalone as a collocation/boilerplate profile ('of the', '. \\n')
    and as the building block for iterated merge training driver-side.

    Engine shape: tokens stay an array column; adjacent pairs come
    from zip_with over two slices (no explode until the pair level),
    one hash aggregate, then a deterministic top-k
    (count desc, pair asc) via TakeOrderedAndProject. Output
    (left, right, n)."""
    toks = bpe_ish_tokens(text_col)
    n = F.size(toks)
    safe_len = F.greatest(n - 1, F.lit(0))
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, safe_len),
            F.slice(toks, 2, safe_len),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    )
    return (
        df.select(F.explode(pairs).alias("__p"))
        .groupBy(
            F.col("__p.l").alias("left"), F.col("__p.r").alias("right")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "left", "right")
        .limit(k)
    )


def line_dedup_global(
    df: DataFrame, text_col: str, id_col: str,
    line_sep: str = "\n", min_words: int = 1,
) -> DataFrame:
    """C4/RefinedWeb-style GLOBAL line-level dedup (Raffel et al. 2020
    §2.2; Penedo et al. 2023): split every document into lines, keep
    each distinct line's FIRST corpus occurrence only (ordered by
    (id, position) — deterministic), drop lines under ``min_words``
    whitespace words, and reassemble the surviving lines per document
    in their original order. This removes boilerplate repeated across
    pages (nav bars, cookie banners, license headers) that
    whole-document dedup can never touch.

    Output: (id, clean, n_lines_kept, n_lines_total) — one row per
    INPUT document (a doc whose every line loses gets clean='').

    Engine shape: the winner per line is ``groupBy(line).agg(min(
    struct(id, pos)))`` — ONE shuffle with map-side partial
    aggregation (crucially NOT a window over lines, which would
    sort-shuffle every line occurrence; the partial agg collapses
    corpus-frequent lines to one row per map task). The winner rows
    already carry (id, pos, line), so reassembly is a groupBy(id) over
    winners only — strictly smaller than the corpus — plus a broadcast-
    friendly join back to the doc spine for the per-doc totals. At
    100 TB the line-shuffle payload is the distinct-lines surface, the
    same bound the final corpus pays anyway.
    """
    lines_col = F.split(F.col(text_col), F.lit(line_sep))
    parts = (
        spread(df.select(F.col(id_col), lines_col.alias("__ls")), id_col)
        .select(
            F.col(id_col),
            F.posexplode(F.col("__ls")).alias("__pos", "__line"),
        )
    )
    n_words = F.size(
        F.filter(F.split(F.col("__line"), " "), lambda w: w != "")
    )
    ok = parts.where(n_words >= min_words)
    winners = (
        ok.groupBy("__line")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))
            ).alias("__w")
        )
        .select(
            F.col("__w.i").alias(id_col),
            F.col("__w.p").alias("__pos"),
            F.col("__line"),
        )
    )
    kept = (
        winners.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__line"))
                    ),
                    lambda s: s["__line"],
                ),
                line_sep,
            ).alias("clean"),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
    )
    spine = df.select(
        F.col(id_col), F.size(lines_col).alias("n_lines_total")
    )
    return (
        spine.join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean", F.lit("")).alias("clean"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            "n_lines_total",
        )
    )


def repetition_signals(
    df: DataFrame, text_col: str, id_col: str,
    line_sep: str = "\n", top_n: int = 2, dup_n: int = 5,
    decimals: int = 6,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    Appendix A1.1) per document:

    - ``dup_line_frac``: fraction of lines that are repeats of an
      earlier line in the SAME document, ``1 − distinct/total``.
    - ``top{top_n}_char_frac``: characters covered by the single most
      frequent word ``top_n``-gram over the document's characters:
      ``count·len(gram) / len(text)`` (ties → lexicographically
      smallest gram; 0.0 when the doc has < top_n words).
    - ``dup{dup_n}_char_frac``: fraction of ``dup_n``-gram-covered
      characters lying in grams that occur ≥ 2 times:
      ``Σ_{cnt≥2} cnt·len / Σ cnt·len`` (0.0 with no grams).

    High values flag machine-generated / templated / crawler-looped
    text that length and stopword filters miss.

    Engine shape: dup_line_frac is pure per-row array math. The n-gram
    counts group by (id, gram) and then by id — both satisfied by the
    single spread-by-id exchange (HashPartitioning(id) co-locates
    every (id, gram)), so the whole operator costs ONE shuffle and the
    gram strings never leave their partition.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")

    def grams(n: int) -> Column:
        k = F.size(F.col("__t")) - (n - 1)
        return F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(F.col("__t"), i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    lines = F.split(F.col(text_col), F.lit(line_sep))
    base = spread(
        df.select(
            F.col(id_col),
            toks.alias("__t"),
            (
                F.lit(1.0)
                - F.size(F.array_distinct(lines)) / F.size(lines)
            ).alias("__dlf"),
            F.length(F.col(text_col)).alias("__chars"),
        ),
        id_col,
    ).select(
        F.col(id_col), "__dlf", "__chars",
        grams(top_n).alias("__tg"), grams(dup_n).alias("__dg"),
    )
    exploded = base.select(
        F.col(id_col), "__dlf", "__chars",
        F.explode_outer(
            F.arrays_zip(
                F.col("__tg").alias("t"), F.col("__dg").alias("d")
            )
        ).alias("__z"),
    ).select(
        id_col, "__dlf", "__chars",
        F.col("__z.t").alias("__tgram"), F.col("__z.d").alias("__dgram"),
    )
    # (id, gram) counts for both n settings in one pass; the null gram
    # rows (doc shorter than n words / zip tail) drop out per column
    tops = (
        exploded.where(F.col("__tgram").isNotNull())
        .groupBy(id_col, "__tgram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(
            # min(struct(-count, gram)): largest count wins, ties go to
            # the lexicographically smallest gram — deterministic and
            # oracle-replayable (row_number over count desc, gram asc)
            F.min(
                F.struct(
                    (-F.col("__c")).alias("__nc"), F.col("__tgram")
                )
            ).alias("__m")
        )
        .select(
            F.col(id_col),
            (
                -F.col("__m.__nc") * F.length(F.col("__m.__tgram"))
            ).alias("__topchars"),
        )
    )
    dups = (
        exploded.where(F.col("__dgram").isNotNull())
        .groupBy(id_col, "__dgram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("__c") >= 2, F.col("__c")).otherwise(0)
                * F.length("__dgram")
            ).alias("__dupchars"),
            F.sum(F.col("__c") * F.length("__dgram")).alias("__allchars"),
        )
    )
    return (
        base.select(id_col, "__dlf", "__chars")
        .join(tops, id_col, "left")
        .join(dups, id_col, "left")
        .select(
            F.col(id_col),
            F.round(F.col("__dlf"), decimals).alias("dup_line_frac"),
            F.round(
                F.coalesce(F.col("__topchars") / F.col("__chars"),
                           F.lit(0.0)),
                decimals,
            ).alias(f"top{top_n}_char_frac"),
            F.round(
                F.coalesce(
                    F.col("__dupchars") / F.col("__allchars"), F.lit(0.0)
                ),
                decimals,
            ).alias(f"dup{dup_n}_char_frac"),
        )
    )


# The single BPE word-boundary rule, stated once for both the trainer
# (Spark split) and the encode kernel (Python re.split): runs of ASCII
# whitespace — exactly the Java regex \s class, so the two engines and
# the two code paths agree character-for-character. (Python str.split()
# additionally splits on Unicode spaces; Java \s does not — using it in
# the kernel would re-open the trainer/encoder divergence.)
_BPE_WS = "[ \\t\\n\\x0B\\f\\r]+"


def _bpe_merge_pair(units: list[str], best: tuple[str, str]) -> list[str]:
    """One left-to-right non-overlapping sweep merging every
    occurrence of ``best`` in ``units`` — the single-merge step both
    the greedy encoder and the incremental local trainer use, so the
    two can never drift on sweep semantics ("aaa" + ("a","a") →
    ["aa","a"])."""
    merged, i = [], 0
    while i < len(units):
        if i + 1 < len(units) and (units[i], units[i + 1]) == best:
            merged.append(units[i] + units[i + 1])
            i += 2
        else:
            merged.append(units[i])
            i += 1
    return merged


def _bpe_encode_word(word: str, ranks: dict) -> list[str]:
    """The greedy BPE encode loop for ONE whitespace-free word
    (Sennrich et al. 2016; the GPT-2 encoder's inner loop): start from
    the character sequence, repeatedly merge the adjacent pair with
    the lowest rank present until no listed pair remains. Shared —
    verbatim — by the :func:`bpe_apply_merges` Arrow kernel and the
    :func:`bpe_train_merges` bounded local fast path, so trainer and
    encoder can never drift."""
    units = list(word)
    while len(units) > 1:
        best, best_rank = None, None
        for pair in zip(units, units[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = pair, r
        if best is None:
            return units
        units = _bpe_merge_pair(units, best)
    return units


def bpe_apply_merges(
    df: DataFrame, text_col: str, id_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "units",
) -> DataFrame:
    """Apply a LEARNED byte-pair-encoding merge list to every document
    (Sennrich et al. 2016): each whitespace word starts as its
    character sequence; repeatedly merge the adjacent pair with the
    LOWEST merge rank present (the standard greedy encode loop, the
    one GPT-2's encoder runs) until no listed pair remains. Output:
    (id, out_col array<string>) — the subword units, word boundaries
    preserved by construction (merges never cross whitespace).

    Engine shape: per-row sequential by nature (each merge changes the
    neighbors the next merge sees), so this is the documented Python
    tier — an Arrow-batched mapInPandas kernel with the rank dict
    built once per executor batch iterator, never per row. Cost is
    O(len·|applied merges|) per doc and embarrassingly parallel; no
    shuffle at all.

    Word boundary = ASCII whitespace runs (``_BPE_WS`` — the Java
    ``\\s`` class), the SAME rule :func:`bpe_train_merges` splits its
    training words with, so every pair the trainer counts is a pair
    this encoder can actually merge (ADVICE r5: Python ``str.split()``
    here vs single-space ``tokens()`` there let multi-line text train
    on cross-boundary pairs the encoder never merges).
    """
    from pyspark.sql import types as T

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    out_schema = T.StructType(
        [df.schema[id_col], T.StructField(out_col, T.ArrayType(T.StringType()))]
    )

    def encode_word(word: str) -> list[str]:
        return _bpe_encode_word(word, ranks)

    def kernel(batches):
        import re

        import pandas as pd

        ws = re.compile(_BPE_WS)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = [
                [
                    u
                    for w in ws.split(t or "")
                    if w
                    for u in encode_word(w)
                ]
                for t in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], out_col: out})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        kernel, out_schema
    )


def _bpe_train_merges_local(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side BPE training over a BOUNDED distinct-word frequency
    table — bit-identical results to the distributed loop in
    :func:`bpe_train_merges` (same frequency-weighted adjacent-pair
    counts, same count-desc / pair-asc winner, same <2 stop), minus
    its per-round Spark jobs. Each word's unit list is cached and
    advanced by ONE :func:`_bpe_merge_pair` sweep per learned merge
    instead of re-encoded from scratch: for ranks a trainer built
    itself every merge's operands are constructible from strictly
    lower ranks, so rank-order application equals the greedy
    lowest-rank-first re-encode (the equality test pins it against
    the distributed from-scratch loop). Python's tuple/str comparison
    sorts by code point, which matches Spark's UTF-8 binary string
    order (UTF-8 preserves code point order), so the tie-break is
    engine-identical."""
    merges: list[tuple[str, str]] = []
    # Unit lists are CACHED and advanced one merge per round instead
    # of re-encoded from scratch: for ranks a trainer built itself,
    # every merge's operands are constructible from strictly lower
    # ranks (they existed when it was learned), so applying the newest
    # merge to last round's state equals the full greedy re-encode —
    # the equality test vs the distributed from-scratch loop pins it.
    #
    # Counts are maintained INCREMENTALLY (classic trainer shape): one
    # full counting pass up front builds pair counts plus an inverted
    # pair -> {word index} occurrence map; each merge then re-sweeps
    # ONLY the words that ever contained the winning pair, subtracting
    # their old adjacent pairs and adding the post-merge ones. The old
    # loop re-counted and re-swept every multi-unit word for every
    # merge — O(vocab x n_merges) unit scans in the hot fast path
    # (ADVICE r11). Integer add/subtract makes the maintained counts
    # exactly the from-scratch recount. Popping the winner's occurrence
    # set is safe NOT because the pair can never re-form — a later
    # merge can rebuild a string-equal unit pair (e.g. ('ab','c') after
    # ('a','bc') both yield an 'abc'-adjacent shape) — but because any
    # re-formed occurrence is re-inserted into counts/occ by the
    # post-merge add loop below (get/setdefault), so the maps stay
    # exact either way (r12 ADVICE reword).
    state = [[list(word), n] for word, n in word_freqs]
    counts: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set[int]] = {}
    for i, (units, n) in enumerate(state):
        for pair in zip(units, units[1:]):
            counts[pair] = counts.get(pair, 0) + n
            occ.setdefault(pair, set()).add(i)
    for _ in range(n_merges):
        if not counts:
            break
        best, top_n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if top_n < 2:
            break
        merges.append(best)
        for i in sorted(occ.pop(best, ())):
            units, n = state[i]
            # occ is append-only per pair, so it may hold words whose
            # best-occurrence was consumed by an earlier overlapping
            # merge of the SAME pair sweep's predecessor rounds;
            # membership check keeps the count algebra touch-free.
            if best not in zip(units, units[1:]):
                continue
            for pair in zip(units, units[1:]):
                left = counts[pair] - n
                if left:
                    counts[pair] = left
                else:
                    del counts[pair]
            new_units = _bpe_merge_pair(units, best)
            state[i][0] = new_units
            for pair in zip(new_units, new_units[1:]):
                counts[pair] = counts.get(pair, 0) + n
                occ.setdefault(pair, set()).add(i)
    return merges


def bpe_train_merges(
    df: DataFrame, text_col: str, n_merges: int = 20,
    local_max_words: int = 100_000,
) -> list[tuple[str, str]]:
    """Train ``n_merges`` BPE merges on a corpus (Sennrich et al.
    2016): each round counts adjacent-unit pairs across the corpus
    under the merges learned so far and greedily adopts the most
    frequent pair (count desc, pair asc — total order, so training is
    deterministic and engine-reproducible).

    Distributed the way real tokenizer training is run at scale:
    training operates on the DISTINCT-WORD frequency table (one
    aggregation up front — corpus size never matters again). When that
    table fits under ``local_max_words`` (vocabularies are bounded;
    real tokenizer trainers run this loop locally) the merge loop runs
    driver-side over the bounded collect — bit-identical algebra via
    the shared :func:`_bpe_encode_word`, no per-round Spark jobs.
    Above the gate, each round re-encodes the distinct words under the
    merges so far (Arrow-batched, embarrassingly parallel) and counts
    frequency-weighted adjacent pairs with one hash-agg shuffle; only
    the single winning pair crosses to the driver. Train on a bounded
    sample when the distinct-word surface itself is huge, then
    :func:`bpe_apply_merges` encodes the full corpus in one pass.
    Stops early when no pair occurs ≥ 2 times (weighted).
    ``local_max_words=0`` forces the distributed loop (the equality
    test pins the two paths to each other).

    Training words are split on ``_BPE_WS`` — the identical whitespace
    rule the encode kernel uses — so the counted pair statistics are
    exactly the pairs the encoder can merge (no cross-word-boundary
    phantom pairs on multi-line text).
    """
    from pyspark.storagelevel import StorageLevel

    # distinct words with corpus frequencies; the weight rides through
    # the encode kernel as the passthrough id column. Words are split
    # on _BPE_WS — the SAME whitespace rule the encode kernel uses —
    # so every training word is whitespace-free and every counted pair
    # is one bpe_apply_merges can actually merge (ADVICE r5: the old
    # single-space tokens() left \n/\t inside 'words', and pair counts
    # over the kernel's flattened re-split crossed boundaries the
    # encoder never merges)
    wf = (
        df.select(
            F.explode(
                F.filter(
                    F.split(F.col(text_col), _BPE_WS), lambda t: t != ""
                )
            ).alias("__t")
        )
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # Bounded LOCAL fast path (the graph.py gated-union-find
        # pattern): a tokenizer's distinct-word training table is
        # vocabulary-bounded, and when it fits under local_max_words
        # the n_merges x (Arrow re-encode + shuffle + collect) round
        # trips cost far more than the counting they distribute.
        # The size PROBE is a limit(K+1).count() — no word payload
        # crosses to the driver just to learn "too big"; the collect
        # below it reads the already-persisted table, so the second
        # action on the small path is a cache scan. Algebra is shared
        # (_bpe_merge_pair/_bpe_encode_word) and pinned by the
        # equality unit test.
        if local_max_words > 0:
            if wf.limit(local_max_words + 1).count() <= local_max_words:
                return _bpe_train_merges_local(
                    [(r["__t"], r["__n"]) for r in wf.collect()],
                    n_merges,
                )
        merges: list[tuple[str, str]] = []
        for _ in range(n_merges):
            enc = bpe_apply_merges(wf, "__t", "__n", merges, out_col="__u")
            n = F.size(F.col("__u"))
            adj = enc.select(
                F.col("__n"),
                F.when(
                    n >= 2,
                    F.zip_with(
                        F.slice("__u", 1, F.greatest(n - 1, F.lit(0))),
                        F.slice("__u", 2, F.greatest(n - 1, F.lit(0))),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    ),
                ).alias("__ps"),
            ).select("__n", F.explode("__ps").alias("__p"))
            top = (
                adj.groupBy(
                    F.col("__p.l").alias("l"), F.col("__p.r").alias("r")
                )
                .agg(F.sum("__n").alias("n"))
                .orderBy(F.desc("n"), "l", "r")
                .limit(1)
                .collect()
            )
            if not top or top[0]["n"] < 2:
                break
            merges.append((top[0]["l"], top[0]["r"]))
        return merges
    finally:
        wf.unpersist()


def linear_score_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame,
    bias: float = 0.0,
    tokenizer: str = "whitespace",
    out_col: str = "score",
    decimals: int = 6,
) -> DataFrame:
    """Apply an externally-trained LINEAR text classifier at corpus
    scale: ``score = sigmoid(bias + Σ_t count(t) · w(t))`` over the
    document's tokens — the fastText/CCNet quality-classifier shape
    (the model trains offline; corpus-scale APPLICATION is a pure
    join-and-aggregate, which is what this operator keeps it as: no
    Python in the hot path, no model runtime). Output: (id, out_col);
    every input document gets a row — documents with no in-vocabulary
    token score ``sigmoid(bias)``.

    ``weights`` is a (token string, weight double) DataFrame — the
    exported model vocabulary. Engine shape: tokenize (narrow) →
    per-(doc, token) counts (one hash agg, map-side partials) → join
    the vocabulary UNHINTED (AQE broadcasts it at runtime when it fits
    ``autoBroadcastJoinThreshold``; a forced hint on a 1e6-row vocab
    could OOM the driver — round-6 ADVICE) → per-doc dot product as an
    EXACT DECIMAL sum → left join back so out-of-vocabulary documents
    keep their row.

    Exactness contract: counts cast decimal(18,0), weights
    decimal(19,9) → products are decimal(38,9) with NO precision-loss
    rounding (the earlier long×decimal(28,9) form silently quantized
    each product to 6 dp under Spark's precision-loss rules), so the
    dot product is exact — and engine-identical — for any weight
    quantized to ≤ 9 decimal places with ``|weight| < 1e10`` (the
    decimal(19,9) range; a classifier weight outside it is a broken
    export, so out-of-range weights RAISE at execution time rather
    than silently casting to NULL and dropping out of the dot
    product) and per-(doc,token) counts < 1e18.
    Double summation order never enters; the one double op is the
    final sigmoid. ``tokenizer``: "whitespace" (:func:`tokens`) or
    "bpe_ish" (:func:`bpe_ish_tokens`)."""
    if tokenizer == "whitespace":
        tok = tokens(text_col)
    elif tokenizer == "bpe_ish":
        tok = bpe_ish_tokens(text_col)
    else:
        raise ValueError(
            f"tokenizer must be 'whitespace' or 'bpe_ish': {tokenizer!r}"
        )
    counts = (
        spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tok).alias("__t"))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = weights.select(
        F.col("token").alias("__t"),
        F.when(
            F.col("weight").isNull()
            | (F.abs(F.col("weight")) < F.lit(1e10)),
            F.col("weight").cast("decimal(19,9)"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "linear_score_documents: |weight| >= 1e10 "
                        "overflows the exact decimal(19,9) path: "
                    ),
                    F.col("weight").cast("string"),
                )
            ).cast("decimal(19,9)")
        ).alias("__w"),
    )
    # no broadcast hint: an exported vocab is usually ≪ the corpus and
    # AQE broadcasts it at runtime from its MEASURED size; forcing the
    # hint would bet the driver's heap on that assumption
    dots = (
        counts.join(w, "__t")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.col("__c").cast("decimal(18,0)") * F.col("__w")
            ).alias("__dot")
        )
    )
    z = F.lit(float(bias)) + F.coalesce(
        F.col("__dot").cast("double"), F.lit(0.0)
    )
    return (
        df.select(F.col(id_col))
        .join(dots, id_col, "left")
        .select(
            F.col(id_col),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), decimals)
            .alias(out_col),
        )
    )


# Scheme-prefixed URL host: capture group 1 is the authority's host
# part (credentials stripped, port excluded). Only portable regex
# constructs (non-capturing groups, char classes) so Java regex
# (Spark) and RE2 (DuckDB) read it identically.
URL_HOST_PATTERN = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(col: Column | str) -> Column:
    """Lower-cased host of a scheme-prefixed URL, NULL when the string
    is not a URL — the grouping key of every domain-level curation
    step (per-domain caps, blocklist joins, domain mixing). Pure
    regexp_extract: JVM-side, engine-portable (the pattern means the
    same in Java regex and RE2), no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.regexp_extract(c, URL_HOST_PATTERN, 1)
    return F.when(h != "", F.lower(h))


def strip_html(col: Column | str) -> Column:
    """Visible text of an HTML fragment — the classic crawl-cleaning
    step before any quality/dedup pass: script/style blocks dropped
    WITH their contents, tags and comments removed, the common named
    entities (and the apostrophe's numeric form) decoded and the
    remaining named ones blanked (the pragmatic CCNet-style subset —
    not a DOM parser, which no regexp is; for full fidelity plug a
    real parser into the mapInPandas tier),
    whitespace collapsed and trimmed. Every pattern is portable
    between Java regex and RE2 ((?i)/(?s) flags, char classes — no
    backreferences), so the operation certifies against a SQL oracle
    and runs fully JVM-side: per-row regexp chains, no shuffle, no
    Python."""
    c = F.col(col) if isinstance(col, str) else col
    # C0 controls (minus \t\n\r, which the final \s+ collapse handles)
    # are never visible text — and stripping them FIRST guarantees the
    # \x01 sentinel below cannot collide with a literal U+0001 in crawl
    # text (which would otherwise be rewritten to '&'). Oracle replays
    # the same pass.
    c = F.regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", " ")
    # script/style: content is never visible text
    c = F.regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, "(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, "(?s)<[^>]*>", " ")
    # &amp; must decode LAST (round-6 ADVICE: decoding it first
    # double-unescapes — '&amp;lt;' rendered '<' instead of '&lt;',
    # '&amp;nbsp;' got blanked). RE2 has no lookahead to exempt it
    # from the unknown-entity blanking, so park it in \x01 (never
    # present in text, untouched by \s+), restore after every other
    # entity pass. Oracle SQL replays the identical chr(1) dance.
    c = F.regexp_replace(c, "(?i)&amp;", "\x01")
    for ent, rep in (
        ("(?i)&nbsp;", " "), ("(?i)&lt;", "<"),
        ("(?i)&gt;", ">"), ("(?i)&quot;", "\""), ("(?i)&#39;", "'"),
    ):
        c = F.regexp_replace(c, ent, rep)
    c = F.regexp_replace(c, "&[a-zA-Z]{2,8};", " ")  # unknown named
    c = F.regexp_replace(c, "\x01", "&")
    return F.trim(F.regexp_replace(c, "\\s+", " "))
