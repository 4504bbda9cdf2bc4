"""The benchmark's metric table: every metric it reports, with unit and
direction. ``BENCHMARK.json`` declares the same names; a test keeps the
two in agreement."""

from __future__ import annotations

# (name, unit, better, bound) — bound is the share of the parent's
# median by which the metric may worsen before a change is rejected
END_TO_END = [
    ("urls_per_s", "urls/s", "higher", 0.25),
    ("first_index_s", "s", "lower", 0.25),
    ("cpu_s_per_kurl", "s", "lower", 0.25),
    ("index_read_cpu_s", "s", "lower", 0.25),
    ("index_bytes_per_doc", "bytes", "lower", 0.15),
    ("state_bytes_per_url", "bytes", "lower", 0.15),
    ("setup_s", "s", "lower", 0.25),
]

# (name, unit, better) — measured only by the traced run
PER_LAYER = [
    # plans.crawl, from the run's metrics.jsonl
    ("crawl.plan_s", "s", "lower"),
    ("crawl.schedule_wait_s", "s", "lower"),
    ("crawl.extract_sink_s", "s", "lower"),
    ("crawl.maintenance_s", "s", "lower"),
    ("crawl.unaccounted_s", "s", "lower"),
    ("crawl.batches", "count", "lower"),
    ("crawl.indexed_per_admitted", "ratio", "higher"),
    # plans.crawl (_BgTask), traced span
    ("crawl.bg_wait_s", "s", "lower"),
    ("crawl.discover_unit_s", "s", "lower"),
    # operators.sitemaps / incremental / seen / linkgraph / indexsink
    ("sitemaps.build_frontier_s", "s", "lower"),
    ("incremental.purge_s", "s", "lower"),
    ("seen.filter_build_s", "s", "lower"),
    ("seen.filter_add_s", "s", "lower"),
    ("seen.filter_adds", "count", "lower"),
    ("seen.serving_form", "count", "lower"),
    ("linkgraph.candidates", "count", "lower"),
    ("linkgraph.enqueued", "count", "higher"),
    ("linkgraph.enqueue_ratio", "ratio", "higher"),
    ("linkgraph.candidates_s", "s", "lower"),
    ("indexsink.append_s", "s", "lower"),
    ("indexsink.compact_s", "s", "lower"),
    ("indexsink.compactions", "count", "lower"),
    ("indexsink.read_s", "s", "lower"),
    ("indexsink.first_read_s", "s", "lower"),
    # checkpoints (plans.crawl)
    ("checkpoint.write_s", "s", "lower"),
    ("checkpoint.full_writes", "count", "lower"),
    ("checkpoint.delta_writes", "count", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    # operators.extraction through the Python boundary (event log)
    ("udf.bytes_to_python", "bytes", "lower"),
    ("udf.bytes_from_python", "bytes", "lower"),
    ("udf.run_s", "s", "lower"),
    ("udf.init_s", "s", "lower"),
    # Spark engine (event log, jobs submitted during the crawl)
    ("spark.jobs", "count", "lower"),
    ("spark.jobs_per_batch", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.core_busy_share", "ratio", "higher"),
    ("spark.jobs_unattributed", "count", "lower"),
    # the traced run itself
    ("trace.attributed_share", "ratio", "higher"),
    ("trace.urls_per_s", "urls/s", "higher"),
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def result_metrics(values: dict, names: list) -> dict:
    """``{name: {"value", "unit"}}`` for exactly ``names``; a name with
    no measured value is an error, never a silent gap."""
    missing = [n for n in names if n not in values]
    if missing:
        raise KeyError(f"unmeasured metrics: {missing}")
    return {n: {"value": values[n], "unit": UNITS[n]} for n in names}
