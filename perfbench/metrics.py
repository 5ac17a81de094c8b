"""Metric names and units printed by the benchmark.

``END_TO_END`` and ``PER_LAYER`` are the contract metrics of every run
(untraced and traced respectively); ``BENCHMARK.json`` lists the same
names.  ``NAMED`` are the workload-specific end-to-end figures printed in
the report line of the workload that measures them.
"""

from __future__ import annotations

#: name -> unit; printed by every untraced run, whatever the workload.
#: ``op_jobs`` and ``op_tasks`` are the Spark jobs and tasks one operation
#: of the workload costs: a lookup session (serve), an arrival processed
#: while catching up after a burst (stream_ingest), a build (index_build).
#: Wall-clock and CPU figures are in the report line; see the README for
#: why they are not gated on this kind of machine.
END_TO_END = {
    "setup_s": "s",
    "op_jobs": "count",
    "op_tasks": "count",
}

#: name -> (unit, workload that measures it)
NAMED = {
    "index_build_docs_per_s": ("docs/s", "index_build"),
    "suggest_p50_ms": ("ms", "serve"),
    "suggest_p90_ms": ("ms", "serve"),
    "search_p50_ms": ("ms", "serve"),
    "search_p90_ms": ("ms", "serve"),
    "serve_lookups_per_s": ("1/s", "serve"),
    "ingest_freshness_p50_ms": ("ms", "stream_ingest"),
    "ingest_freshness_p75_ms": ("ms", "stream_ingest"),
    "ingest_catchup_events_per_s": ("events/s", "stream_ingest"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    out = {
        "engine.get_spark_s": ("s", "all"),
        "engine.peak_rss_mb": ("MB", "all"),
        "parquet.load_table_s": ("s", "index_build"),
    }
    for stage in ("prepare_corpus", "build_search_index", "build_suggestions"):
        for metric, unit in (
            ("s", "s"),
            ("jobs", "count"),
            ("tasks", "count"),
            ("executor_run_s", "s"),
            ("shuffle_write_mb", "MB"),
        ):
            out[f"pipelines.{stage}.{metric}"] = (unit, "index_build")
    for metric, unit in (
        ("s", "s"),
        ("jobs", "count"),
        ("tasks", "count"),
        ("shuffle_write_mb", "MB"),
    ):
        out[f"sinks.write_search_index.{metric}"] = (unit, "index_build")
    out["sinks.index_bytes_per_corpus_byte"] = ("ratio", "index_build")
    for kind, call in (("search", "search_term_lookup"), ("suggest", "suggest_lookup")):
        out[f"sinks.{call}.call_ms"] = ("ms", "serve")
        out[f"serve.{kind}.collect_ms"] = ("ms", "serve")
        out[f"serve.jobs_per_{kind}"] = ("count", "serve")
        out[f"serve.tasks_per_{kind}"] = ("count", "serve")
    for phase in (
        "trigger",
        "add_batch",
        "query_planning",
        "wal_commit",
        "commit_offsets",
        "latest_offset",
        "state_commit",
    ):
        out[f"stream.{phase}_ms"] = ("ms", "stream_ingest")
    out["stream.state_rows"] = ("count", "stream_ingest")
    out["stream.batches_per_arrival"] = ("ratio", "stream_ingest")
    out["stream.useful_batch_share"] = ("ratio", "stream_ingest")
    out["stream.arrival_wait_ms"] = ("ms", "stream_ingest")
    out["stream.generator_late_ms"] = ("ms", "stream_ingest")
    return out


#: name -> (unit, workload whose run is the one to read it from).
#: Printed in the report line of every traced run; a layer the workload
#: never calls reads 0.
PER_LAYER = _per_layer()

#: The per-layer metrics of the result line of every traced run: the
#: counts, sizes and ratios of every layer, which read the same on a
#: quiet and a busy machine, and the engine figures every workload
#: measures.  Layer times (units s and ms) stay in the report line: each
#: is zero on the workloads that never call its layer.
CONTRACT_LAYERS = {
    name: unit
    for name, (unit, w) in PER_LAYER.items()
    if unit not in ("s", "ms") or w == "all"
}
