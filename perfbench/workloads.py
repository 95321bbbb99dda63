"""The benchmark workloads: each one calls a public pipeline entry
point on seeded inputs, runs the terminal actions a caller would run,
and checks the outputs.

A workload is three functions:

- ``prepare(spark, seed, work_dir)`` generates the inputs and computes,
  outside Spark, everything the output check compares against;
- ``run(spark, state, run_dir, tr)`` is the timed pipeline run: the
  entry call (span ``build``) plus its terminal actions (span
  ``action``). It returns the collected results and the output path;
- ``check(state, result)`` reads any written output and returns a list
  of problems, empty when the output is correct.
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import inputs

FLIGHT_ROWS = 15_000
CORPUS_DOCS = 2_000

# (name, SQL condition): the same text drives the Spark rule and the
# DuckDB reference count, so the two engines check one definition.
FLIGHT_RULES = [
    ("dep_time_range", "DepTime >= 1 AND DepTime <= 2400"),
    ("crs_dep_time_range", "CRSDepTime >= 0 AND CRSDepTime <= 2359"),
    ("month_range", "Month >= 1 AND Month <= 12"),
    ("day_range", "DayofMonth >= 1 AND DayofMonth <= 31"),
    ("distance_positive", "Distance > 0"),
    ("cancelled_flag", "Cancelled IN (0, 1)"),
]
# DuckDB mirror of functions.decode_hhmm_parts and the derived timestamp
_HOUR_SQL = """CASE WHEN substr(CAST(DepTime AS VARCHAR), 1, 2) = '24'
                      OR length(CAST(DepTime AS VARCHAR)) < 3 THEN '00'
                    WHEN length(CAST(DepTime AS VARCHAR)) = 3
                      THEN substr(CAST(DepTime AS VARCHAR), 1, 1)
                    ELSE substr(CAST(DepTime AS VARCHAR), 1, 2) END"""
_MIN_SQL = "right(CAST(DepTime AS VARCHAR), 2)"
_TS_VALID_SQL = "(DepTime // 100 <= 24 AND DepTime % 100 < 60)"

# near-dup on with the pipeline's default bands and guard
CORPUS_ARGS = dict(min_tokens=10, chunk_tokens=64, overlap=16, near_dup=True,
                   budget=512, url_col="url", max_per_domain=150)


@dataclass
class State:
    inp: inputs.Inputs
    expected: dict = field(default_factory=dict)
    fingerprint: str | None = None


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path) if f.endswith(".parquet")
    )


# ---------------------------------------------------------------- flights

def _sorted_freqs(rows) -> list[tuple]:
    return sorted(rows, key=lambda r: (r[0], r[1] is None, r[1] or "", r[2]))


def prepare_flights(spark, seed: int, work_dir: str) -> State:
    import duckdb

    inp = inputs.flights(seed, FLIGHT_ROWS, os.path.join(work_dir, "input"))
    path = os.path.join(inp.table_dir, "flights.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW f AS SELECT * FROM read_parquet('{path}')")
        cols = [r[0] for r in con.execute("DESCRIBE f").fetchall()]
        nonnull = con.execute(
            "SELECT " + ", ".join(f"count({c})" for c in cols) + " FROM f"
        ).fetchone()
        dropped = [c for c, n in zip(cols, nonnull) if n == 0]
        kept = [c for c in cols if c not in dropped]
        con.execute(
            f"CREATE VIEW d AS SELECT {', '.join(kept)}, "
            f"CASE WHEN DepTime IS NOT NULL THEN {_HOUR_SQL} END AS DepTime_Hour, "
            f"{_MIN_SQL} AS DepTime_Min, "
            f"CASE WHEN {_TS_VALID_SQL} THEN make_date(Year, Month, DayofMonth) END "
            f"AS dep_day FROM f"
        )
        derived = ["DepTime_Hour", "DepTime_Min"]
        nulls = con.execute(
            "SELECT " + ", ".join(f"count(*) - count({c})" for c in kept + derived)
            + ", count(*) - count(dep_day) FROM d"
        ).fetchone()
        null_counts = dict(zip(kept + derived + ["DepTime_Timestamp"], nulls))
        strings = [r[0] for r in con.execute("DESCRIBE d").fetchall()
                   if r[1] == "VARCHAR" and r[0] in kept + derived]
        freqs = _sorted_freqs(
            (c, v, n) for c in strings for v, n in con.execute(
                f"SELECT {c}, count(*) FROM d GROUP BY {c}").fetchall()
        )
        exact = con.execute(
            f"SELECT count(*), sum(n) FROM (SELECT count(*) n FROM f "
            f"GROUP BY {', '.join(kept)} HAVING count(*) > 1)").fetchone()
        keyd = con.execute(
            f"SELECT count(*), sum(n) FROM (SELECT count(*) n FROM f "
            f"GROUP BY {', '.join(inputs.KEY_COLS)} HAVING count(*) > 1)").fetchone()
        fails = con.execute(
            "SELECT " + ", ".join(
                f"sum(CASE WHEN NOT ({sql}) THEN 1 ELSE 0 END)"
                for _, sql in FLIGHT_RULES) + " FROM f").fetchone()
        rules = dict(zip([n for n, _ in FLIGHT_RULES], fails))
        days = con.execute(
            "WITH c AS (SELECT dep_day AS day, count(*) n FROM d "
            "WHERE dep_day IS NOT NULL GROUP BY 1), "
            "s AS (SELECT CAST(unnest(generate_series(min(day), max(day), "
            "INTERVAL 1 DAY)) AS DATE) AS day FROM c) "
            "SELECT s.day, coalesce(c.n, 0) FROM s LEFT JOIN c USING (day) "
            "ORDER BY 1").fetchall()
    finally:
        con.close()
    return State(inp, dict(
        dropped=dropped, null_counts=null_counts, freqs=freqs,
        exact=tuple(int(x or 0) for x in exact),
        key=tuple(int(x or 0) for x in keyd),
        rules={k: int(v) for k, v in rules.items()},
        days=[(d, int(n)) for d, n in days],
    ))


def run_flights(spark, state: State, run_dir: str, tr) -> dict:
    from pyspark.sql import functions as F

    from databricks_flight_etl_spark import pipeline, sources
    from databricks_flight_etl_spark.operators import validity

    out = os.path.join(run_dir, "flights_out")
    with tr.span("build"):
        df = sources.load_table(spark, state.inp.table_dir, "flights")
        rules = [validity.Rule(n, F.expr(sql)) for n, sql in FLIGHT_RULES]
        rep = pipeline.run_flight_pipeline(
            df, dedup_keys=inputs.KEY_COLS, rules=rules, output_path=out)
    with tr.span("action"):
        res = dict(
            dropped=rep.dropped_columns,
            null_profile=tr.collect(rep.null_profile),
            freqs=tr.collect(rep.value_frequencies),
            exact=tr.collect(rep.exact_dup_groups.select(
                F.count(F.lit(1)), F.sum("n")))[0],
            key=tr.collect(rep.key_dup_groups.select(
                F.count(F.lit(1)), F.sum("n")))[0],
            rules=tr.collect(rep.validity),
            days=tr.collect(rep.day_coverage.orderBy("day")),
        )
    res["out"] = out
    return res


def check_flights(state: State, res: dict) -> list[str]:
    exp, bad = state.expected, []
    if res["dropped"] != exp["dropped"]:
        bad.append(f"dropped columns {res['dropped']} != {exp['dropped']}")
    got = {r["column"]: r["n_null"] for r in res["null_profile"]}
    if got != exp["null_counts"]:
        diff = {c: (got.get(c), n) for c, n in exp["null_counts"].items()
                if got.get(c) != n}
        bad.append(f"null counts differ (got, want): {diff or sorted(got)}")
    freqs = _sorted_freqs((r["column"], r["value"], r["n"]) for r in res["freqs"])
    if freqs != exp["freqs"]:
        bad.append("value frequencies differ from DuckDB")
    if tuple(int(x or 0) for x in res["exact"]) != exp["exact"]:
        bad.append(f"exact dup groups {tuple(res['exact'])} != {exp['exact']}")
    if tuple(int(x or 0) for x in res["key"]) != exp["key"]:
        bad.append(f"key dup groups {tuple(res['key'])} != {exp['key']}")
    rules = {r["rule"]: r["n_fail"] for r in res["rules"]}
    if rules != exp["rules"]:
        bad.append(f"rule failures {rules} != {exp['rules']}")
    days = [(r["day"], r["n_events"]) for r in res["days"]]
    if days != exp["days"]:
        bad.append("day coverage differs from DuckDB")
    written = _parquet_rows(res["out"])
    if written != state.inp.rows:
        bad.append(f"wrote {written} rows, input has {state.inp.rows}")
    return bad


# ------------------------------------------------------------- documents

def _tokens(text: str) -> list[str]:
    return [t for t in text.split(" ") if t != ""]


def _funnel_keeps(text: str, min_tokens: int) -> bool:
    """Python mirror of the pipeline's quality and language filters
    (text_quality + lang_id with default thresholds, langs=("en",))."""
    from databricks_flight_etl_spark.operators.text import STOPWORD_SETS

    toks = _tokens(text)
    n = len(toks)
    if n < min_tokens or n > 100_000:
        return False
    if round(sum(t in STOPWORD_SETS["en"] for t in toks) / n, 6) > 0.9:
        return False
    s = {lang: sum(t in words for t in toks) for lang, words in STOPWORD_SETS.items()}
    return s["en"] >= s["es"] and s["en"] >= s["de"] and s["en"] >= s["fr"]


def _exact_unique(path: str, min_tokens: int) -> dict[int, str]:
    """id -> text of the documents the funnel keeps after exact dedup:
    the min id per normalized text among docs passing the filters."""
    tbl = pq.read_table(path).to_pydict()
    keep: dict[str, int] = {}
    for i, t in zip(tbl["doc_id"], tbl["text"]):
        if _funnel_keeps(t, min_tokens):
            key = hashlib.md5(t.strip(" ").lower().encode()).hexdigest()
            keep[key] = min(keep.get(key, i), i)
    texts = dict(zip(tbl["doc_id"], tbl["text"]))
    return {i: texts[i] for i in keep.values()}


# ---------------------------------------------------------------- corpus

# The check's own PII shapes (independent of the library's patterns).
LEAKS = [re.compile(p) for p in (
    r"[\w.+-]+@[\w-]+(\.[\w-]+)+", r"\b\d{1,3}(\.\d{1,3}){3}\b",
    r"\b\d{3}-\d{3}-\d{4}\b", r"\+\d{7,15}\b")]
_HOST = re.compile(r"^https://([^/]+)/")


def prepare_corpus(spark, seed: int, work_dir: str) -> State:
    inp = inputs.corpus(seed, CORPUS_DOCS, os.path.join(work_dir, "input"))
    path = os.path.join(inp.table_dir, "corpus.parquet")
    uniq = _exact_unique(path, CORPUS_ARGS["min_tokens"])
    clones = {c for _, c in inp.planted_pairs}
    tbl = pq.read_table(path, columns=["doc_id", "url"]).to_pydict()
    hosts = {}
    for i, u in zip(tbl["doc_id"], tbl["url"]):
        m = _HOST.match(u)
        hosts[i] = m.group(1) if m else None
    # near-dup clustering keeps the min id of each planted pair
    survivors = set(uniq) - clones
    per_host: dict[str | None, int] = {}
    for i in survivors:
        per_host[hosts[i]] = per_host.get(hosts[i], 0) + 1
    cap = CORPUS_ARGS["max_per_domain"]
    want = {h: (n if h is None else min(n, cap)) for h, n in per_host.items()}
    return State(inp, dict(survivors=survivors, clones=clones, hosts=hosts,
                           per_host=want))


def run_corpus(spark, state: State, run_dir: str, tr) -> dict:
    from databricks_flight_etl_spark import pipeline, sources

    out = os.path.join(run_dir, "released")
    with tr.span("build"):
        docs = sources.load_table(spark, state.inp.table_dir, "corpus")
        rel = pipeline.run_corpus_release(docs, **CORPUS_ARGS)
    with tr.span("action"):
        sources.write_parquet(rel.released, out)
    tr.terminal(rel.released)
    return dict(out=out)


def check_corpus(state: State, res: dict) -> list[str]:
    exp, bad = state.expected, []
    rel = pq.read_table(res["out"]).to_pydict()
    budget = CORPUS_ARGS["budget"]
    rows = sorted(zip(rel["doc_id"], rel["clean"], rel["n_tokens"],
                      rel["cum_tokens"], rel["shard"]))
    ids = [r[0] for r in rows]
    if not ids:
        return ["nothing released"]
    if len(set(ids)) != len(ids):
        bad.append("released ids are not unique")
    if set(ids) & exp["clones"]:
        bad.append(f"{len(set(ids) & exp['clones'])} planted near-dup clones released")
    if not set(ids) <= exp["survivors"]:
        bad.append("released ids outside the filtered, deduplicated input")
    per_host: dict[str | None, int] = {}
    for i in ids:
        per_host[exp["hosts"][i]] = per_host.get(exp["hosts"][i], 0) + 1
    if per_host != exp["per_host"]:
        bad.append("per-domain cap kept the wrong number of docs per host")
    cum, shard_tokens = 0, {}
    for i, clean, n, c, s in rows:
        if n != len(_tokens(clean)):
            bad.append(f"doc {i}: n_tokens {n} != token count of clean text")
            break
        cum += n
        if c != cum or s != (cum - n) // budget:
            bad.append(f"doc {i}: cum_tokens/shard ({c}, {s}) != ({cum}, {(cum - n) // budget})")
            break
        shard_tokens.setdefault(s, []).append(n)
    over = [s for s, ns in shard_tokens.items() if sum(ns) - ns[-1] >= budget]
    if over:
        bad.append(f"shards {over[:3]} exceed the budget beyond their last doc")
    leaks = [i for i, clean, *_ in rows if any(p.search(clean) for p in LEAKS)]
    if leaks:
        bad.append(f"{len(leaks)} released docs still hold PII, e.g. {leaks[:3]}")
    fp = hashlib.sha256(repr(rows).encode()).hexdigest()
    if state.fingerprint is None:
        state.fingerprint = fp
    elif fp != state.fingerprint:
        bad.append("released output differs from the first run's")
    return bad
