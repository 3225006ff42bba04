"""Workload definitions and the benchmark's metric catalogue.

A workload is a fixed key list over one generated scale factor, run with
the engine's io cache on or off.  ``BENCHMARK.json`` repeats each name and
reason; ``test_perfbench.py`` keeps the two in step.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    cache: bool
    keys: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sql_cached_sf0.1",
            sf=0.1,
            cache=True,
            # bench.HEADLINE, frozen across rounds
            keys=(
                "agg_groupby_q1",
                "limit_topk_q3",
                "join_multiway_q5",
                "win_row_number",
                "dedup_exact",
                "join_inner_shuffle",
                "win_time_tumbling",
                "wordcount",
                "sim_cosine_topk",
                "tfidf_keywords",
            ),
            why=(
                "headline SQL keys over the filled io cache: per-query fixed "
                "cost (Catalyst, py4j, task dispatch) dominates; scans are "
                "in-memory"
            ),
        ),
        Workload(
            name="pipeline_sf0.01",
            sf=0.01,
            cache=False,
            keys=(
                "dedup_ngram_jaccard",
                "udtf_grouped_map",
                "multimodal_png_decode",
                "join_interval",
                "sink_stream_memory",
                "stream_tumbling",
            ),
            why=(
                "curation and streaming keys with the io cache off: Python "
                "builders, pandas/Arrow workers, parquet scans, stream state, "
                "checkpoint and sink writes; bypasses the cache"
            ),
        ),
    )
}

# Expected output of a streaming key that has no oracle of its own: the
# DuckDB query of its batch twin over the same tables.
TWIN_SQL = {
    "sink_stream_memory": "SELECT event_id, user_id, event_type FROM events",
    "stream_tumbling": "win_time_tumbling",  # the batch twin's own oracle
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# query_tail_s scales query_p50_s by the mean ratio of latency to its key's
# median over the slowest third of the warm queries; every run times at
# least MIN_WARM_SAMPLES warm queries, so that third holds at least ten.
MIN_WARM_SAMPLES = 30
# Untimed passes between the cold pass and the first timed warm pass.
SETTLE_PASSES = 1

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    "registry.import_s": "s",
    "registry.queries_s": "s",
    "session.start_s": "s",
    "io.fill_s": "s",
    "io.cached_mb": "MB",
    "io.cached_scan_ratio": "ratio",
    "operators.build_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.materialize_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.scan_time_ms": "ms",
    "exec.scan_bytes": "bytes",
    "exec.shuffle_bytes": "bytes",
    "exec.shuffle_records": "count",
    "exec.broadcast_bytes": "bytes",
    "exec.broadcast_collect_ms": "ms",
    "exec.peak_memory_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "pyworker.boot_ms": "ms",
    "pyworker.init_ms": "ms",
    "pyworker.total_ms": "ms",
    "pyworker.bytes_sent": "bytes",
    "pyworker.bytes_received": "bytes",
    "stream.batches": "count",
    "stream.nonempty_batch_ratio": "ratio",
    "stream.add_batch_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.input_rows": "count",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "harness.query_self_s": "s",
    "trace.untraced_warm_pass_s": "s",
    "trace.traced_warm_pass_s": "s",
    "trace.overhead_s": "s",
}
