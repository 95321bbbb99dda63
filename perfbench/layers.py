"""Workload registry and the per-layer metric map.

``LAYER_MAP`` names every per-layer metric the traced run reports and,
for each, the end-to-end metric it should move and the workloads on
which it should move it (README.md renders the same table). A function
layer ``<layer>.<fn>`` reports its self time ``.s`` and the Spark jobs
started while it was the innermost reported span ``.jobs``.
"""

from __future__ import annotations

from perfbench import workloads as w

FQ, CR = "flight_quality", "corpus_release"

# name -> (prepare, run, check)
WORKLOADS = {
    FQ: (w.prepare_flights, w.run_flights, w.check_flights),
    CR: (w.prepare_corpus, w.run_corpus, w.check_corpus),
}

# function layer -> (end-to-end metric it should move, workloads)
FUNCTIONS = {
    "dedup.minhash_dedup_pairs": ("run_s", (CR,)),
    "graph.dedup_survivors": ("run_s", (CR,)),
    "text.text_quality": ("run_s", (CR,)),
    "text.lang_id": ("run_s", (CR,)),
    "dedup.exact_dedup": ("run_s", (CR,)),
    "text.chunk_documents": ("run_s", (CR,)),
    "text.pii_redact": ("run_s", (CR,)),
    "sampling.stratified_sample_n": ("run_s", (CR,)),
    "sampling.pack_by_token_budget": ("run_s", (CR,)),
    "completeness.drop_allnull_columns": ("run_s", (FQ,)),
    "completeness.null_profile": ("run_s", (FQ,)),
    "consistency.value_frequencies": ("run_s", (FQ,)),
    "uniqueness.duplicate_groups": ("run_s", (FQ,)),
    "uniqueness.key_duplicate_groups": ("run_s", (FQ,)),
    "validity.check_rules": ("run_s", (FQ,)),
    "timeliness.day_coverage": ("run_s", (FQ,)),
    "functions.derive_departure_timestamp": ("run_s", (FQ,)),
    "sources.load_table": ("run_s", (FQ, CR)),
    "sources.write_parquet": ("run_s, written_bytes_per_input_byte", (FQ, CR)),
    "plans.estimate_bytes": ("run_s, written_bytes_per_input_byte", (FQ, CR)),
}

ALL = (FQ, CR)
LAYER_MAP = {
    "pipeline.build_s": ("run_s", (CR,)),
    "pipeline.build_jobs": ("run_s", (CR,)),
    "pipeline.action_s": ("run_s", (FQ,)),
    "pipeline.action_jobs": ("run_s", (FQ,)),
    "pipeline.self_s": ("run_s", ALL),
    "action.self_s": ("run_s", (FQ, CR)),
    **{f"{fn}.{kind}": target for fn, target in FUNCTIONS.items()
       for kind in ("s", "jobs")},
    "py4j.calls": ("run_s", (CR,)),
    "py4j.s": ("run_s", (CR,)),
    "py4j.build_calls": ("run_s", (CR,)),
    "py4j.build_s": ("run_s", (CR,)),
    "catalyst.analysis_ms": ("run_s", (CR,)),
    "catalyst.optimization_ms": ("run_s", (CR,)),
    "catalyst.planning_ms": ("run_s", (CR,)),
    "spark.jobs": ("run_s", ALL),
    "spark.stages": ("run_s", ALL),
    "spark.tasks": ("run_s", ALL),
    "exec.run_ms": ("run_s", (FQ, CR)),
    "exec.cpu_ms": ("run_s", (FQ, CR)),
    "exec.gc_ms": ("run_s", (FQ, CR)),
    "exec.cpu_util": ("run_s", (FQ, CR)),
    "shuffle.write_bytes": ("run_s", (CR, FQ)),
    "shuffle.read_bytes": ("run_s", (CR, FQ)),
    "spill.disk_bytes": ("run_s", (CR, FQ)),
    "scan.rows_read_per_input_row": ("run_s", (FQ,)),
    "cache.live_rdds_after_run": ("peak_rss_mb", ALL),
    "cache.peak_mem_bytes": ("peak_rss_mb", ALL),
    "io.written_bytes_per_input_byte": ("written_bytes_per_input_byte", (FQ, CR)),
    "peak_rss_mb": ("peak_rss_mb", ALL),
    "trace.overhead_s": ("run_s", ALL),
    "trace.reconcile_ratio": ("run_s", ALL),
    "host.loadavg_1m": ("run_s", ALL),
}
