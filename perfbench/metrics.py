"""Names, units and directions of every metric the benchmark reports.

BENCHMARK.json lists the same metrics; selftest.py fails when the two
disagree or when a run leaves one out.
"""

WORKLOADS = ["etl_landing", "lake_queries", "corpus_curation"]

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "run_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "call_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

LAYERS = ["pipeline", "sinks", "jsonetl", "streams", "fsck", "maintenance",
          "relational", "layout", "textanalysis", "dedup", "curation",
          "similarity"]

LAYER_METRICS = {
    "wall_s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_cpu_s": ("s", "lower"),
    "driver_gap_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "cached_mb": ("MB", "lower"),
    "failed_ops": ("count", "lower"),
}

EXTRA_PER_LAYER = {
    "layout.files_scanned_ratio": ("ratio", "lower"),
    "sinks.mean_file_mb": ("MB", "higher"),
    "sinks.landed_bytes_per_input_byte": ("ratio", "lower"),
    "similarity.rows_scored_per_result": ("ratio", "lower"),
    "similarity.recall_at_k": ("ratio", "higher"),
    "trace.overhead_s": ("s", "lower"),
    "failed_ops_ratio": ("ratio", "lower"),
}


def per_layer():
    out = {f"{layer}.{m}": spec for layer in LAYERS
           for m, spec in LAYER_METRICS.items()}
    out.update(EXTRA_PER_LAYER)
    return out
