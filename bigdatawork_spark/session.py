"""SparkSession construction and per-call tuning.

Scale notes (SURVEY.md §7.5): everything here is configuration, not code —
the same queries run on a 1000-executor cluster by swapping the master URL
and sizing ``spark.sql.shuffle.partitions`` to ~2-3× total cores.  AQE then
coalesces/splits at runtime.  Locally we test on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import cache

# The directory holding the bigdatawork_spark package.
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs applied to ANY session we are handed (the driver
# owns its own session; these are safe to set post-creation).
_RUNTIME_CONF = {
    # UTC everywhere: parquet timestamps are TZ-less; DuckDB (the oracle)
    # treats them as naive.  (SURVEY.md §5.3.4)
    "spark.sql.session.timeZone": "UTC",
    # 8 shuffle partitions for local test SFs — measured ~13% faster than 32
    # on the sf0.1 headline batch (per-task dispatch dominates at ≤600k rows);
    # the 200 default wastes seconds per query (SURVEY.md §4 AQE row).  At
    # 100 TB this is sized to ~2-3× total executor cores via the env knob —
    # AQE then coalesces/splits at runtime either way.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "8"),
    "spark.sql.adaptive.enabled": "true",
    # Non-ANSI arithmetic (the classic Spark analytics default): ANSI mode
    # compiles every long add into an overflow-checked MathUtils.addExact —
    # measured +46% on Q1's four scaled-long sums at synthetic sf1.0
    # (1.31 s vs 0.90 s, round 8).  No registry key relies on
    # error-on-overflow semantics (the scaled-long money sums are
    # range-analyzed in their docstrings; the full 257-key driver sim was
    # re-run green under this setting), so the checks purchase nothing
    # here.  Flip back per-session when ingesting untrusted magnitudes.
    "spark.sql.ansi.enabled": "false",
    # ...but ANSI-off re-activates legacy sizeOfNull (size(NULL array) = -1
    # instead of NULL), which silently diverges from DuckDB's len(NULL) =
    # NULL — caught by the array fuzz test the round the ANSI flip landed.
    # Pin the modern semantics explicitly: NULL in, NULL out.
    "spark.sql.legacy.sizeOfNull": "false",
    # coalescePartitions keeps parallelismFirst at its default (true): an
    # A/B at synthetic sf1.0 measured parallelismFirst=false 3-10% SLOWER
    # (over-coalescing to one sub-advisory reducer serializes the reduce
    # side), its sf0.1 "win" was inside machine noise, and at 100 TB the
    # knob is moot — post-shuffle partitions exceed the advisory size, so
    # both settings produce identical sizes.
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any toPandas/collect and for pandas UDF exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build (driver's session)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — non-fatal
    return spark


def ensure_tuned(spark: SparkSession) -> SparkSession:
    """tune() once per session — each conf.set is a py4j round trip, and the
    confs stick for the session's lifetime.  Used by io.load AND the
    __spark_entry__ query wrappers, so even a builder that synthesizes its
    data inline (no table load) runs under UTC/AQE/shuffle settings when the
    driver order puts it first."""
    cache.memo(spark, ("tuned", None), lambda: tune(spark) is spark)  # a flag
    return spark


def get_spark(app_name: str = "bigdatawork-spark", cpus: int | str | None = None) -> SparkSession:
    """One tuned local session.  Session startup is ~12 s (BASELINE.md) —
    always share a single session across a test run / bench batch."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # STATIC conf (builder-only; a driver-owned pre-existing session
        # keeps its default — harmless, it only re-pays compilation).  The
        # generated-class cache defaults to 100 entries; a 10-query batch
        # cycles WELL over 100 codegen stages, so every return to a query
        # shape evicted-and-recompiled its Janino classes — measured r12:
        # the "~2× first-run-after-switch penalty" (r10) was this cache
        # thrashing, not JIT warm-up.  At 5000 entries the first-run
        # penalty on the headline batch collapses from ~1.9× to ~1.02-1.14×
        # (BASELINE.md r12); a long-lived cluster session wants the same —
        # recurring shapes should never recompile.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # STATIC conf.  Python workers fork from the engine's daemon module,
        # which stops CPython < 3.13 re-reading every zip on sys.path before
        # each Python task (zipimporter.invalidate_caches is eager until
        # gh-103200): 16 archive directory reads, 0.11-0.19 s per task in a
        # reused worker (4-vCPU VM).  perfbench warm medians, local[4]:
        # sim_cosine_topk 0.65 -> 0.29 s, tfidf_keywords 0.95 -> 0.57 s,
        # udtf_grouped_map 0.57 -> 0.37 s, multimodal_png_decode
        # 0.76 -> 0.46 s; see worker_daemon.py.  (`spark.python.worker.module`
        # is read only with the daemon off.)
        .config("spark.python.daemon.module", "bigdatawork_spark.worker_daemon")
        # The daemon and the workers import this package: put the engine
        # root on their path.  Spark merges this with its own entries and
        # the JVM's PYTHONPATH; the caller's PYTHONPATH is kept here too.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (ENGINE_ROOT, os.environ.get("PYTHONPATH")) if p),
        )
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
