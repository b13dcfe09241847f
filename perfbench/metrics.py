"""Every metric the benchmark reports: name, unit, direction and, for
the per-layer ones, the end-to-end metric and workload it should move.

``BENCHMARK.json`` lists the same names; a later change that claims a
gain names the per-layer metric it moved and shows the end-to-end
metric named here moving with it.
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pages_per_s": ("1/s", "higher"),
    "epoch_s_p50": ("s", "lower"),
    "warehouse_mb": ("MB", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_GROWTH_INGEST = "pages_per_s on crawl_growth; flat on crawl_polite"
_POLITE_EPOCH = "epoch_s_p50 on crawl_polite"

# name -> (unit, better, what it should move)
PER_LAYER = {
    # engine: the run_epoch() counters, summed over the timed epochs
    "engine.ingest_s": ("s", "lower", _GROWTH_INGEST),
    "engine.select_s": ("s", "lower", _POLITE_EPOCH),
    "engine.fetch_parse_s": ("s", "lower", _GROWTH_INGEST),
    "engine.rank_s": ("s", "lower", "pages_per_s on crawl_growth"),
    "engine.status_fold_s": ("s", "lower", _POLITE_EPOCH),
    "engine.denied_s": ("s", "lower", _POLITE_EPOCH),
    "engine.commit_s": ("s", "lower", "epoch_s_p50 on crawl_polite; pages_per_s on crawl_growth"),
    "engine.reload_s": ("s", "lower", _POLITE_EPOCH),
    "engine.unaccounted_s": ("s", "lower", "epoch_s_p50 on both crawls"),
    "engine.ingested_rows": ("count", "lower", "pages_per_s on crawl_growth"),
    "engine.selected_rows": ("count", "higher", "pages_per_s on both crawls"),
    "engine.fetched_ok_rows": ("count", "higher", "pages_per_s on both crawls"),
    "engine.robots_denied_rows": ("count", "lower", "pages_per_s on both crawls"),
    "engine.delta_rows": ("count", "lower", "warehouse_mb on crawl_polite"),
    "engine.frontier_rows": ("count", "higher", "epoch_s_p50 on crawl_polite"),
    "engine.compactions": ("count", "lower", "warehouse_mb on both crawls"),
    "engine.novel_ratio": ("ratio", "higher", "pages_per_s on crawl_growth"),
    "engine.fetch_ok_ratio": ("ratio", "higher", "pages_per_s on both crawls"),
    # engine: Spark work per timed run_epoch call, from the event log
    "engine.jobs_per_epoch": ("count", "lower", "epoch_s_p50 on crawl_polite; barely pages_per_s on crawl_growth"),
    "engine.stages_per_epoch": ("count", "lower", "epoch_s_p50 on crawl_polite; barely pages_per_s on crawl_growth"),
    "engine.tasks_per_epoch": ("count", "lower", _POLITE_EPOCH),
    "engine.task_cpu_s": ("s", "lower", "pages_per_s on crawl_growth"),
    "engine.gc_s": ("s", "lower", "peak_rss_mb and epoch_s_p50 on both crawls"),
    "engine.shuffle_write_mb": ("MB", "lower", "pages_per_s on crawl_growth"),
    "engine.shuffle_read_mb": ("MB", "lower", "pages_per_s on crawl_growth"),
    "engine.spill_mb": ("MB", "lower", "pages_per_s on crawl_growth"),
    # checkpoint: SnapshotStore calls timed from outside the engine
    "checkpoint.write_epoch_s": ("s", "lower", "epoch_s_p50 on crawl_polite; pages_per_s on crawl_growth"),
    "checkpoint.write_mb": ("MB", "lower", "warehouse_mb on both crawls"),
    "checkpoint.resume_s": ("s", "lower", "no end-to-end metric: a restarted crawler pays it before its first epoch"),
    # session: Spark start-up
    "session.start_s": ("s", "lower", "setup_s on both crawls"),
    # layer replay over the last committed snapshot
    "urls.with_url_identity_s": ("s", "lower", _GROWTH_INGEST),
    "frontier.dedup_raw_s": ("s", "lower", _GROWTH_INGEST),
    "frontier.merge_changes_s": ("s", "lower", _GROWTH_INGEST),
    "frontier.select_batch_s": ("s", "lower", _POLITE_EPOCH),
    "robots.robots_gate_s": ("s", "lower", _POLITE_EPOCH),
    "extract.parse_page_meta_s": ("s", "lower", "pages_per_s on crawl_growth only"),
    "urls.with_url_identity_rows_in": ("count", "lower", "replay input size"),
    "frontier.merge_changes_rows_out": ("count", "higher", "replay output size"),
    "frontier.select_batch_rows_out": ("count", "higher", "replay output size"),
    "extract.parse_page_meta_rows_in": ("count", "higher", "replay input size"),
    # the traced run against an untraced one
    "trace.epoch_s_p50": ("s", "lower", "tracing overhead: compare with epoch_s_p50"),
}
