"""Per-round benchmark: runs every harness query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line:

    {"metric": "...", "value_adjudicated": <median_based_total_sec>,
     "parity_core_median_sec": <3-rep median of the 14 parity queries>,
     "value": <raw single-run total>, "unit": "sec",
     "queries": {<headline parity queries only>}, "sf": <sf>,
     "n_queries": N, "n_errors": N}

PRIMARY METRIC: `value_adjudicated` (and `parity_core_median_sec` for
the BASELINE.md comparison). The raw single-run `value` swung +29% on
host contention in round 10 while per-query 3-rep medians held or
improved — a single recorded run is the least informative number here.
`value_adjudicated` substitutes each noise-adjudicated query's re-timed
median for its inflated recording and subtracts the measured
data-independent streaming floor. Full protocol: BASELINE.md.

The consumer of this line keeps only the LAST 2000 characters of
stdout, so the final line must stay comfortably under that — a full
136-query timing dict (~4 KB) overflowed it two rounds running and the
headline number was lost. Per-query detail therefore goes to
BENCH_DETAIL.json next to this file; the stdout line carries only the
suite total plus the reference-parity core timings (bounded set,
~600 bytes), with a hard guard that drops the dict entirely rather
than ever exceeding the budget.

Comparison target: BASELINE.md (the reference's recorded per-cell
wall-clock; its 2008 pipeline ≈146–231 s at 2.39 M rows with ~10+
redundant CSV re-scans). Our per-query timings are end-to-end: plan
construction + execution + count of the result.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The reference-parity core (BASELINE.md stage mapping) — the bounded
# set of per-query timings worth carrying on the size-limited stdout
# line. Everything else lives in BENCH_DETAIL.json.
HEADLINE = (
    "q_nonnull_counts q_null_profile q_drop_allnull_cols q_summary_stats "
    "q_histogram q_groupby_count q_dup_full q_dropduplicates "
    "q_compound_key_dups q_derive_timestamp q_validity_checks "
    "q_events_per_day q_missing_days q_parquet_roundtrip".split()
)

MAX_LINE_BYTES = 1900  # consumer tail limit is 2000; leave headroom


def _env_reps(var: str, default: int = 3) -> int:
    """Rep-count knob: honor ANY value >= 1 — a knob that silently
    clamps back to its default is worse than no knob (round-9 ADVICE:
    max(3, ...) ignored an explicit 1 or 2 without notice). Values
    < 1 are meaningless for a median, so they clamp to 1 WITH a
    stderr note naming the variable; unparsable values fall back to
    the default, also with a note."""
    raw = os.environ.get(var)
    if raw is None:
        return default
    try:
        n = int(raw)
    except ValueError:
        print(f"# {var}={raw!r} is not an int — using default "
              f"{default}", file=sys.stderr)
        return default
    if n < 1:
        print(f"# {var}={n} clamped to 1 (minimum one rep)",
              file=sys.stderr)
        return 1
    return n


def _sync_generated_docs() -> None:
    """Regenerate OPMAP.md always (cheap) and PLANS.md when stale.

    Round 7 shipped two queries without re-running the generators by
    hand, tripping tests/test_docs_sync.py. Folding the regeneration
    into every bench run (which the driver executes per-round) makes
    that lapse structurally impossible. PLANS regeneration rebuilds
    every query's plan at sf0.001 (~1-2 min), so it only runs when the
    registry and the committed table disagree.

    Runs AFTER the final JSON line with all generator chatter routed
    to stderr — bench stdout must stay exactly one JSON line for
    whole-stdout consumers (round-8 ADVICE). Set
    SPARK_GRAFT_BENCH_DOC_SYNC=0 to skip the file mutation entirely
    (e.g. benching a dirty tree you don't want touched).
    """
    if os.environ.get("SPARK_GRAFT_BENCH_DOC_SYNC", "1") == "0":
        return
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)) + "/tools")
    import contextlib

    # the redirect covers the WHOLE sync body, not just gen_opmap: the
    # JSON line has already been printed, and the consumer keeps only
    # the last 2000 chars of stdout — ANY stray generator/import print
    # after it would push the headline out of that tail
    with contextlib.redirect_stdout(sys.stderr):
        try:
            import __spark_entry__ as entrymod
            import audit_plans
            import gen_opmap

            gen_opmap.main()
            registry = set(entrymod.queries())
            plans_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "PLANS.md"
            )
            in_plans: set[str] = set()
            try:
                with open(plans_path) as f:
                    for line in f:
                        # same row pattern as tests/test_docs_sync.py's
                        # _table_queries — a looser startswith('| q')
                        # also matched the '| query |' header row
                        m = re.match(r"\|\s*(q_\w+)\s*\|", line)
                        if m:
                            in_plans.add(m.group(1))
            except OSError:
                pass
            # symmetric: a REMOVED/renamed-away query leaves an
            # orphaned row, which test_plans_covers_registry flags
            # just as hard as a missing one
            if registry != in_plans:
                print(
                    f"# PLANS.md stale ({len(registry - in_plans)} "
                    f"missing, {len(in_plans - registry)} orphaned) — "
                    f"regenerating",
                    file=sys.stderr,
                )
                # write-then-rename: generate() takes minutes over the
                # full registry, and truncate-in-place would leave a
                # half-written inventory behind a mid-run kill
                tmp = plans_path + ".tmp"
                with open(tmp, "w") as f:
                    audit_plans.generate("/root/testdata/sf0.001", out=f)
                os.replace(tmp, plans_path)
        except Exception as exc:  # noqa: BLE001 - must not fail bench
            print(f"# doc sync failed: {exc!r}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entrymod
    from databricks_flight_etl_spark.session import get_spark

    # 48g heap (the box has 128 GiB and this is the only JVM): GC
    # headroom for a 200+-query run. Note: suite totals still vary
    # ±15% run-to-run from HOST-level noise (measured 198-270 s across
    # identical code; an inter-query System.gc() experiment changed
    # nothing) — compare per-query medians, not single totals.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark("flight-etl-bench")

    # warm the JVM / codegen / parquet footer caches so per-query numbers
    # measure steady-state execution, not one-time session startup
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    # warm the Arrow/Python worker pool: the first mapInPandas query
    # otherwise pays worker spawn (~seconds) and reads ~3x too slow
    warm = spark.range(256).repartition(int(spark.sparkContext.defaultParallelism))
    warm.mapInPandas(lambda it: it, warm.schema).count()

    # SPARK_GRAFT_BENCH_REPS > 1 records the per-query MEDIAN of that
    # many runs — suite totals vary ±15% run-to-run from host noise
    # (see the memory note above), so regression hunting should use
    # `SPARK_GRAFT_BENCH_REPS=3 python bench.py`. Default stays 1: the
    # per-round driver slot is single-run sized.
    reps = _env_reps("SPARK_GRAFT_BENCH_REPS", 1)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0
    # Fault-isolated per query: one broken query must never zero the
    # round's whole bench signal (round-1 lesson — the JSON line always
    # prints, failures are recorded, the summary stays comparable).
    for name, fn in entrymod.queries().items():
        runs: list[float] = []
        for _ in range(reps):
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                n = df.count()  # force execution without driver transfer
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
                break
            else:
                runs.append(time.time() - t0)
            finally:
                # operators pin shared intermediates (session.pin);
                # caches are per-query — drop so a 100+-query run stays flat
                try:
                    spark.catalog.clearCache()
                except Exception:
                    pass
        if runs:
            dt = sorted(runs)[len(runs) // 2]  # median
            timings[name] = round(dt, 3)
            total += dt
            tag = f" median of {len(runs)}" if reps > 1 else ""
            print(f"# {name}: {dt:.3f}s{tag} ({n} rows)", file=sys.stderr)

    # ---- noise self-adjudication (r5 verdict task #3) ----------------
    # A single pass cannot distinguish host contention from a real
    # regression (round 5: 46 queries recorded 2-5x slower, all host
    # noise, full manual re-investigation). Any query whose recorded
    # time moved >1.5x in EITHER direction vs the previous round's
    # committed BENCH_DETAIL.json is re-timed with extra reps and BOTH
    # figures are recorded; the stdout line carries the adjudicated
    # count so a noisy round is self-describing.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    prev_timings: dict[str, float] = {}
    try:
        with open(detail_path) as f:
            prev_timings = json.load(f).get("queries", {})
    except (OSError, ValueError):
        pass
    # Cross-round blind spot (r12 verdict task #2): the working-tree
    # BENCH_DETAIL.json is refreshed mid-round by the builder, so a
    # query that crept up ACROSS rounds never moves >1.5x vs the
    # freshest file and escapes re-timing (q_containment_join rose
    # 1.79x r11->r12 untriggered). Also compare against the previous
    # ROUND'S committed detail — the last driver round-close commit
    # ("round N: ..."), fetched via git; missing git degrades to the
    # single-baseline behavior.
    round_timings: dict[str, float] = {}
    try:
        import subprocess

        repo = os.path.dirname(os.path.abspath(__file__))
        log = subprocess.run(
            ["git", "-C", repo, "log", "--format=%H %s", "--",
             "BENCH_DETAIL.json"],
            capture_output=True, text=True, timeout=30,
        ).stdout
        # case-insensitive, separator-tolerant match ("round 13: ...",
        # "Round-13 close: ...") — an exact-prefix match silently
        # no-ops the cross-round detector if the driver's commit
        # wording ever drifts (r13 ADVICE)
        round_re = re.compile(r"^round[ -]?\d+", re.IGNORECASE)
        for line in log.splitlines():
            sha, _, subject = line.partition(" ")
            if round_re.match(subject):
                blob = subprocess.run(
                    ["git", "-C", repo, "show", f"{sha}:BENCH_DETAIL.json"],
                    capture_output=True, text=True, timeout=30,
                ).stdout
                round_timings = json.loads(blob).get("queries", {})
                break
        else:
            print(
                "# cross-round baseline: no round-close commit found "
                "touching BENCH_DETAIL.json; drift detector degrades "
                "to the working-tree baseline only",
                file=sys.stderr,
            )
    except Exception:
        pass
    adjudication: dict[str, dict] = {}
    adj_reps = _env_reps("SPARK_GRAFT_BENCH_ADJ_REPS", 3)

    def _trips(prev: float | None, recorded: float) -> bool:
        # sub-0.2s pairs are all jitter; re-timing them buys nothing
        if prev is None or (prev < 0.2 and recorded < 0.2):
            return False
        ratio = recorded / max(prev, 1e-9)
        return not (1 / 1.5 < ratio < 1.5)

    for name, recorded in sorted(timings.items()):
        prev = prev_timings.get(name)
        prev_round = round_timings.get(name)
        if not _trips(prev, recorded) and not _trips(prev_round, recorded):
            continue
        if prev is None:
            prev = prev_round
        fn = entrymod.queries()[name]
        runs = []
        for _ in range(adj_reps):
            t0 = time.time()
            try:
                fn(spark, sf_dir).count()
            except Exception as exc:
                # never silent (round-9 ADVICE): a dropped rep skews
                # the adjudicated median invisibly otherwise
                print(f"# adjudicate {name}: rep failed "
                      f"({type(exc).__name__}: {exc})"[:300],
                      file=sys.stderr)
                break
            runs.append(time.time() - t0)
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
        # a rep that broke on an exception skipped its clearCache —
        # drop any intermediates it pinned before the next query
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        if runs:
            med = sorted(runs)[len(runs) // 2]
            adjudication[name] = {
                "prev": prev,
                "recorded": recorded,
                "retimed_median": round(med, 3),
                "reps": len(runs),
            }
            if prev_round is not None and prev_round != prev:
                adjudication[name]["prev_round_commit"] = prev_round
            print(
                f"# adjudicate {name}: prev {prev:.3f}s, recorded "
                f"{recorded:.3f}s, re-timed median {med:.3f}s "
                f"of {len(runs)}",
                file=sys.stderr,
            )

    # ---- streaming fixed-overhead estimate (r5 verdict task #7) ------
    # Streaming queries carry a data-independent floor (stream startup
    # + trigger cycles + memory-sink drain). Estimate it by running the
    # same pipeline at the smallest SF: at ~100x less data the
    # remaining wall-clock IS the fixed floor, so `recorded - floor`
    # is the honest data-proportional share for 2x-bar comparisons.
    stream_overhead: dict[str, float] = {}
    tiny_dir = os.environ.get(
        "SPARK_GRAFT_TINY_SF_DIR", "/root/testdata/sf0.001"
    )
    if os.environ.get("SPARK_GRAFT_BENCH_STREAM_OVERHEAD", "1") != "0" \
            and os.path.isdir(tiny_dir):
        for name, fn in entrymod.queries().items():
            if not name.startswith("q_streaming_") or name in errors:
                continue
            t0 = time.time()
            try:
                fn(spark, tiny_dir).count()
            except Exception:
                continue
            stream_overhead[name] = round(time.time() - t0, 3)
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
        if stream_overhead:
            print(
                "# streaming fixed-overhead floor (sf0.001 run): "
                + json.dumps(stream_overhead),
                file=sys.stderr,
            )

    # ---- parity core re-timed medians (r8 verdict task #5) -----------
    # The round-over-round headline moves on host contention, not
    # plans (r8: adjudicated total +27s with zero plan regressions).
    # The judge-facing BASELINE.md comparison is the 14-query parity
    # core, so that set is ALWAYS re-timed as a 3-rep median — stable
    # enough that a real 10% regression is visible above the noise.
    parity_core: dict[str, dict] = {}
    parity_reps = _env_reps("SPARK_GRAFT_BENCH_PARITY_REPS", 3)
    for name in HEADLINE:
        if name not in timings or name in errors:
            continue
        fn = entrymod.queries()[name]
        runs = []
        rep_error = None
        for _ in range(parity_reps):
            t0 = time.time()
            try:
                fn(spark, sf_dir).count()
            except Exception as exc:
                # never silent (round-9 ADVICE): a query recorded with
                # partial reps — or dropped entirely — would skew
                # parity_core_median_sec invisibly otherwise
                rep_error = f"{type(exc).__name__}: {exc}"[:300]
                print(f"# parity re-time {name}: rep failed after "
                      f"{len(runs)} good rep(s) ({rep_error})",
                      file=sys.stderr)
                break
            runs.append(time.time() - t0)
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
        try:
            spark.catalog.clearCache()  # cover the exception-break path
        except Exception:
            pass
        if runs or rep_error:
            entry = {
                "recorded": timings[name],
                "median": (round(sorted(runs)[len(runs) // 2], 3)
                           if runs else None),
                "reps": [round(r, 3) for r in runs],
            }
            if rep_error:
                entry["rep_error"] = rep_error
            parity_core[name] = entry
    parity_core_median_sec = round(
        sum(v["median"] for v in parity_core.values()
            if v["median"] is not None), 3
    )
    n_contributing = sum(
        1 for v in parity_core.values() if v["median"] is not None
    )
    print(
        f"# parity core ({n_contributing} of {len(parity_core)} "
        f"re-timed queries contributing): median total "
        f"{parity_core_median_sec}s",
        file=sys.stderr,
    )

    # ---- slow-tail re-timed medians (r9 verdict task #4) --------------
    # The suite's slowest queries dominate the recorded total, and a
    # single recorded figure on the slow tail has moved 1.7x across
    # rounds on host noise alone (q_minhash_stopshingle 4.8s->8.2s
    # r8->r9, same plan, with the >1.5x adjudication gate missing it
    # because the PREVIOUS recorded value was already inflated). The
    # top-5 slowest non-streaming queries are therefore ALWAYS
    # re-timed with the parity-core 3-rep median mechanism; queries
    # already re-timed this run reuse that median instead of paying a
    # third timing pass.
    slow_tail: dict[str, dict] = {}
    # NOTE (round-10 advice): SPARK_GRAFT_BENCH_SLOW_REPS applies ONLY
    # to slow-tail queries not already re-timed this run — a query
    # covered by noise adjudication or parity-core re-timing reuses
    # that median (measured with ADJ_REPS/PARITY_REPS respectively),
    # and each reused entry records `reps_used` + `source` so the
    # provenance is visible in BENCH_DETAIL.json.
    slow_reps = _env_reps("SPARK_GRAFT_BENCH_SLOW_REPS", 3)
    slowest = sorted(
        (n for n in timings
         if not n.startswith("q_streaming_") and n not in errors),
        key=lambda n: timings[n], reverse=True,
    )[:5]
    for name in slowest:
        if name in adjudication:
            slow_tail[name] = {
                "recorded": timings[name],
                "median": adjudication[name]["retimed_median"],
                "source": "noise_adjudication",
                "reps_used": adjudication[name]["reps"],
            }
            continue
        if parity_core.get(name, {}).get("median") is not None:
            slow_tail[name] = {
                "recorded": timings[name],
                "median": parity_core[name]["median"],
                "source": "parity_core",
                "reps_used": len(parity_core[name]["reps"]),
            }
            continue
        fn = entrymod.queries()[name]
        runs = []
        for _ in range(slow_reps):
            t0 = time.time()
            try:
                fn(spark, sf_dir).count()
            except Exception as exc:
                print(f"# slow-tail re-time {name}: rep failed after "
                      f"{len(runs)} good rep(s) "
                      f"({type(exc).__name__}: {exc})"[:300],
                      file=sys.stderr)
                break
            runs.append(time.time() - t0)
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
        try:
            spark.catalog.clearCache()  # cover the exception-break path
        except Exception:
            pass
        if runs:
            slow_tail[name] = {
                "recorded": timings[name],
                "median": round(sorted(runs)[len(runs) // 2], 3),
                "reps": [round(r, 3) for r in runs],
                "source": "re-timed",
            }
    if slow_tail:
        print(
            "# slow tail (top-5 non-streaming) re-timed medians: "
            + json.dumps({k: v["median"] for k, v in slow_tail.items()}),
            file=sys.stderr,
        )

    # ---- adjudicated headline (r6 verdict task #4) --------------------
    # Two rounds running, the recorded total led the stdout line while
    # the bench's own re-timings showed the inflation was host
    # contention — the headline misrepresented the code. The adjudicated
    # total substitutes each re-timed median for its contention-inflated
    # recorded figure and removes the measured data-independent
    # streaming floor (clamped per query so a floor measured at sf0.001
    # can never drive a query negative). `value` stays the raw recorded
    # total; consumers comparing against BASELINE.md should use
    # `value_adjudicated`.
    adj_total = 0.0
    for name, t in timings.items():
        t2 = adjudication.get(name, {}).get("retimed_median", t)
        t2 -= min(stream_overhead.get(name, 0.0), t2)
        adj_total += t2

    detail = {
        "metric": "harness_suite_wall_clock",
        "value": round(total, 3),
        "value_adjudicated": round(adj_total, 3),
        "unit": "sec",
        "sf": sf,
        "queries": timings,
        "errors": errors,
        "noise_adjudication": adjudication,
        "parity_core": parity_core,
        "slow_tail": slow_tail,
        "streaming_fixed_overhead": {
            "method": (
                "same pipeline timed once at sf0.001; at ~100x less "
                "data the remaining wall-clock is trigger/startup "
                "floor, not data — subtract from the recorded figure "
                "for data-proportional comparisons"
            ),
            "seconds": stream_overhead,
        },
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(f"# full per-query detail -> {detail_path}", file=sys.stderr)

    # The adjudicated (median-substituted) total LEADS the line
    # (round-10 verdict task #2): the raw single-run `value` swung +29%
    # on host noise in round 10 while the code got faster — the
    # median-based figures are the primary metric, `value` is kept as
    # the secondary raw recording. Protocol documented in BASELINE.md.
    out = {
        "metric": "harness_suite_wall_clock",
        "value_adjudicated": round(adj_total, 3),
        "parity_core_median_sec": parity_core_median_sec,
        "value": round(total, 3),
        "value_note": "single-run raw; use value_adjudicated",
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "noise_adjudicated": len(adjudication),
        "streaming_overhead_sec": round(
            sum(stream_overhead.values()), 3
        ),
        "slow_tail_medians": {
            k: v["median"] for k, v in slow_tail.items()
        },
        "queries": {k: timings[k] for k in HEADLINE if k in timings},
    }

    line = json.dumps(out)
    if len(line.encode()) > MAX_LINE_BYTES:  # never overflow the tail
        out.pop("queries", None)
        line = json.dumps(out)
    if len(line.encode()) > MAX_LINE_BYTES:
        out.pop("slow_tail_medians", None)
        line = json.dumps(out)
    print(line)
    sys.stdout.flush()
    # doc sync LAST: stdout already carries its single JSON line, so a
    # consumer parsing whole-stdout sees nothing else even if a
    # generator misbehaves (round-8 ADVICE #1)
    _sync_generated_docs()


if __name__ == "__main__":
    main()
