"""Names and units of every metric the benchmark reports.

Every workload reports every metric: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. A per-layer metric
of a layer the workload does not run reads 0 (the crawl runs no
query and the query suite runs no crawl round).
"""

from __future__ import annotations

from .query_workload import MODULES, SUITE, query_prefix

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_geomean_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

FRONTIER = {
    "frontier.rounds": "count",
    "frontier.run_round_s": "s",
    "frontier.between_rounds_s": "s",
    "frontier.phase.unseen_s": "s",
    "frontier.phase.fetch_and_seen_add_s": "s",
    "frontier.phase.new_matches_s": "s",
    "frontier.phase.commit_wait_s": "s",
    "frontier.unattributed_s": "s",
    "frontier.urls_in": "count",
    "frontier.urls_attempted": "count",
    "frontier.dedup_yield": "ratio",
    "frontier.fetch_ok_ratio": "ratio",
    "frontier.jobs_per_round": "count",
    "frontier.tasks_per_round": "count",
    "frontier.resume_s": "s",
}
SEEN = {
    "seen.add_s": "s",
    "seen.add_rows": "count",
    "seen.filter_unseen_s": "s",
    "seen.load_bitmaps_s": "s",
    "seen.rollback_s": "s",
    "seen.bytes": "B",
}
CHECKPOINTS = {
    "checkpoints.commit_s": "s",
    "checkpoints.bytes_written": "B",
    "checkpoints.files_written": "count",
    "checkpoints.resume_read_s": "s",
    "checkpoints.state_bytes_per_url": "B/url",
}
BULK = {
    "bulk.wall_s": "s",
    "bulk.urls": "count",
    "bulk.phase.fetch_and_seen_add_s": "s",
}
PROBES = {
    "fetchers.fetch_us_per_url": "us",
    "fetchers.extract_links_us_per_page": "us",
    "frontier.admit_us_per_link": "us",
    "canonical.canonicalize_us_per_url": "us",
    "canonical.surt_us_per_url": "us",
    "robots.decision_us_per_url": "us",
}
SPARK = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.python_run_s": "s",
    "spark.driver_gap_s": "s",
    "spark.jvm_heap_peak_mb": "MB",
}
MODULE_WALLS = {f"{m}.wall_s": "s" for m in MODULES}
QUERIES = {
    f"query.{query_prefix(n)}.{field}": unit
    for n in SUITE
    for field, unit in (("wall_s", "s"), ("jobs", "count"), ("shuffle_bytes", "B"))
}
OTHER = {
    "session.get_spark_s": "s",
    "trace.overhead_s": "s",
}

PER_LAYER = {
    **OTHER, **FRONTIER, **SEEN, **CHECKPOINTS, **BULK, **PROBES, **SPARK,
    **MODULE_WALLS, **QUERIES,
}
