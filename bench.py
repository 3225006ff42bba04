"""Bench harness — times headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on one shared local[$SPARK_GRAFT_CPUS] session and
prints ONE JSON line.

Metric: total batch wall-clock over the headline set, excluding the one-time
session startup (BASELINE.md "Spark-side plan": per-query Spark floor is
scheduler-dominated; a whole-batch bound amortized over a shared session is
the meaningful comparison).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdatawork_spark.registry import QUERIES  # noqa: E402
import bigdatawork_spark  # noqa: F401, E402
from bigdatawork_spark.session import get_spark  # noqa: E402

# Headline set: the BASELINE.md shapes first, then broad coverage.
# FROZEN across rounds — BENCH_r{N}.json comparability depends on it.
HEADLINE = [
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
]

# Registry slow-tail tier (VERDICT r16 item 2): the keys whose round-over-
# round optimization evidence previously lived only in self-reported
# tools/scale_audit.py runs.  Timed ONCE each per bench invocation at the
# bench SF — single cold-shape run, FIXED order so rounds compare
# like-for-like (the first streaming key, sink_stream_memory, absorbs the
# session's one-time memoized events staging; that attribution is stable
# across rounds by construction) — and reported under "audit_tier" WITHOUT
# touching the headline metric or the "queries" map (additions-only to the
# JSON contract).  Disable with SPARK_GRAFT_BENCH_AUDIT_TIER=0.
AUDIT_TIER = [
    "dedup_ngram_jaccard",
    "char_ngram_profile",
    "kmeans_iterative",
    "knn_classify",
    "dedup_embedding_cosine",
    "nearest_centroid_classify",
    "quality_classifier_nb",
    "q21_waiting_suppliers",
    "join_interval",
    "udtf_cogrouped_map",
    "udtf_grouped_map",
    "udtf_map_in_pandas",
    "source_python_datasource",
    "sink_stream_memory",
    "stream_static_join",
    "stream_stateful_count",
    "stream_session",
    "stream_sliding",
    "source_python_stream",
]

# Opt-in second tier (SPARK_GRAFT_BENCH_EXTENDED=1): newer operator families,
# timed and reported under "extended_queries" WITHOUT touching the headline
# metric — evidence of their cost profile with zero comparability impact.
EXTENDED = [
    "stats_linear_regression",
    "bm25_rank",
    "ngram_topk",
    "agg_bitmap_distinct",
    "ts_hypertable_rollup",
    "win_gaps_islands",
    "text_unigram_logprob",
    "embedding_centroid",
    "vector_quantize",
    "incremental_join_maintenance",
    "repetition_ngram_ratio",
    "embedding_norm_stats",
    "multimodal_frame_sample",
    "chunk_documents",
    "text_entropy_filter",
    "vocab_build",
    "char_ngram_profile",
    "bpe_train_merges",
    # round-8 curation set
    "lm_perplexity_score",
    "dedup_segments_crossdoc",
    "winnow_fingerprint",
    "dedup_winnow_pairs",
    "dedup_repeated_spans",
    "dedup_spans_removal",
    # round-10 curation set
    "dedup_url_normalize",
    "dedup_url_host",
    "url_filter_blocklist",
    "decontaminate_ngram",
    "layout_zorder_stats",
    # round-11 scale-evidence set
    "join_dpp_partitioned",
    "bpe_first_merge",
    "dedup_ladder_exact_stage",
    "join_skew_aqe",
    # round-11b pipeline-mechanics set
    "global_row_index",
    "quantile_bin_assign",
    "corr_matrix",
    "ngram_pmi",
    "kfold_stratified",
    "stream_restart_checkpoint",
    # round-11c incremental-dedup family
    "dedup_incremental_exact",
    "dedup_incremental_audit",
    "dedup_incremental_minhash",
    "stream_index_admission",
    "dedup_index_persisted",
    # round-13 retrieval pair
    "rank_fusion_rrf",
    "join_bloom_prefilter",
]


SF1_DIR = "/tmp/sfsynth/sf1.0"
SF1_REPLICAS = 10


# ADVICE r12: Q1's five scaled-long measures are GENERATED COLUMNS in the
# Spark cache layout (io._DERIVED_COLS, materialized at the untimed cache
# fill), but the DuckDB denominator computed the FLOOR(x·10^s + 0.5)
# arithmetic inline in the timed oracle — an asymmetric comparison
# (disclosed in BASELINE.md r12).  The interleaved phase now gives DuckDB
# the SAME warm layout: a native table materializing the identical
# generated-column expressions at the untimed fill, and a timed Q1 that
# reads them — both denominators run the identical scan→sum workload.
# The rewrite is used ONLY after an untimed hash-fold check proves it
# row-identical to the contract oracle (else the contract oracle stays).
_Q1_BENCH_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(__q1_qty) / 100.0 AS DOUBLE) AS sum_qty,
  CAST(SUM(__q1_bp) / 100.0 AS DOUBLE) AS sum_base_price,
  CAST(SUM(__q1_dp) / 10000.0 AS DOUBLE) AS sum_disc_price,
  CAST(SUM(__q1_ch) / 1000000.0 AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(__q1_qty) AS DOUBLE) / 100.0 / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(__q1_bp) AS DOUBLE) / 100.0 / COUNT(*), 6) AS avg_price,
  ROUND(CAST(SUM(__q1_disc) AS DOUBLE) / 100.0 / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem_bench
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _duckdb_q1_warm_layout(
    con, data_dir: str = SF1_DIR, from_native: bool = False
) -> tuple[str | None, str | None]:
    """Build DuckDB's Q1 warm table (lineitem + the five generated
    columns) and return ``(symmetric timed SQL, None)`` — or
    ``(None, downgrade_reason)`` if the rewrite fails its row-identity
    check against the contract oracle, in which case the caller keeps
    the contract oracle (one-sided but correct).  The reason string goes
    into the bench payload (ADVICE r13): a protocol downgrade caused by
    a SQL regression must be distinguishable from an expected CTAS OOM.
    The Spark-side derived expressions spell the double literal ``0.5D``;
    DuckDB spells it ``0.5::DOUBLE``."""
    from bigdatawork_spark.io import _DERIVED_COLS
    from bigdatawork_spark.registry import ORACLES

    derived = ", ".join(
        f"{expr.replace('0.5D', '0.5::DOUBLE')} AS {name}"
        for name, expr in _DERIVED_COLS["lineitem"]
    )
    # Degrade to the contract oracle on ANY failure here, not just the
    # identity mismatch (r13 review): a CTAS OOM at decade-probe scale
    # previously propagated into _sf1_interleaved's catch-all and killed
    # the whole phase; and a failed identity check must not leave the
    # just-built native table occupying memory for the timed passes.
    # from_native (decade probe): lineitem is already a decoded native
    # table — build the derived layout from it instead of re-decoding
    # (and double-holding) the parquet (r13 second review)
    src = (
        "lineitem" if from_native
        else f"read_parquet('{data_dir}/lineitem.parquet')"
    )
    reason = None
    try:
        con.execute(
            f"CREATE TABLE lineitem_bench AS SELECT *, {derived} FROM {src}"
        )
        fold = "SELECT bit_xor(hash(q)) FROM ({}) q"
        a = con.execute(fold.format(ORACLES["agg_groupby_q1"])).fetchone()
        b = con.execute(fold.format(_Q1_BENCH_SQL)).fetchone()
        if a == b:
            return _Q1_BENCH_SQL, None
        reason = "identity_mismatch: warm-layout SQL != contract oracle"
    except Exception as ex:
        reason = f"{type(ex).__name__}: {ex}"[:200]
    try:
        con.execute("DROP TABLE IF EXISTS lineitem_bench")
    except Exception:
        pass
    return None, reason


def _sf1_complete(want_lineitem_rows: int) -> bool:
    """All ten tables present AND the success marker records the expected
    lineitem row count — guards against reusing a torn replica set from a
    killed or concurrent synth_scale run (r05 review)."""
    import pyarrow.parquet as pq
    from bigdatawork_spark.schemas import TABLES

    marker = os.path.join(SF1_DIR, "_SUCCESS")
    try:
        if not all(
            os.path.exists(os.path.join(SF1_DIR, f"{t}.parquet")) for t in TABLES
        ):
            return False
        with open(marker) as f:
            if f.read().strip() != str(want_lineitem_rows):
                return False
        return (
            pq.read_metadata(f"{SF1_DIR}/lineitem.parquet").num_rows
            == want_lineitem_rows
        )
    except Exception:
        # includes pyarrow.ArrowInvalid from a torn/truncated footer —
        # corruption must map to False so _ensure_sf1 REBUILDS rather than
        # silently skipping the phase (r05 review)
        return False


def _ensure_sf1(src: str) -> bool:
    """Build (or reuse) the key-shifted synthetic sf1.0 replica set
    (tools/synth_scale.py).  Returns True when the directory is ready;
    never raises — the matched-scale section is best-effort evidence.
    Completeness is judged on ALL tables plus a row-count marker written
    only after a fully successful build, not on lineitem alone."""
    import pyarrow.parquet as pq

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        want = pq.read_metadata(f"{src}/lineitem.parquet").num_rows * SF1_REPLICAS
        if _sf1_complete(want):
            return True
        import subprocess

        r = subprocess.run(
            [sys.executable, os.path.join(here, "tools", "synth_scale.py"),
             str(SF1_REPLICAS)],
            capture_output=True, timeout=600,
        )
        if r.returncode != 0:
            return False
        with open(os.path.join(SF1_DIR, "_SUCCESS"), "w") as f:
            f.write(str(want))
        return _sf1_complete(want)
    except Exception:
        return False


#: The materialization protocol (round 8, VERDICT r07 item 1).  Timing
#: ``df.count()`` let Catalyst column-prune the actual work out of several
#: headline queries (win_row_number compiled to an empty-schema row count —
#: no window, no sort).  Both engines now force FULL computation of every
#: output column through an order-insensitive whole-row hash aggregate:
#:   Spark : df.select(xxhash64(*cols) AS __h).agg(bit_xor(__h))
#:   DuckDB: SELECT bit_xor(hash(q)) FROM (<oracle sql>) q
#: One 8-byte scalar crosses to Python on each side, so neither engine pays
#: Python row-materialization and neither can skip computing a column.
#: (sum() overflows under ANSI mode; bit_xor is the overflow-free
#: order-insensitive fold.  A final presentation ORDER BY may be elided
#: below an aggregate by BOTH optimizers equally — the hash is
#: order-insensitive, so the protocol stays symmetric.)
MATERIALIZATION = (
    "whole-row hash aggregate: Spark bit_xor(xxhash64(all columns)), "
    "DuckDB bit_xor(hash(row)) over the oracle subquery; forces every "
    "output column on both engines, returns one scalar"
)


def _materialize(df):
    """Execute ``df`` fully — every column of every row feeds the hash —
    and return the 64-bit fold (also a cheap cross-run sanity value)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return (
        df.select(F.xxhash64(*cols).alias("__h"))
        .agg(F.expr("bit_xor(__h)"))
        .collect()[0][0]
    )


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _sf1_interleaved(spark, keys, passes: int, sf_dir: str = SF1_DIR,
                     native_tables: bool = False) -> dict | None:
    """Matched-scale adjudication as the median of ``passes`` full
    INTERLEAVED batch passes (VERDICT r08 item 1).

    Each pass times one full DuckDB batch then one full Spark batch over
    the same sf1.0 parquet — engines alternate per PASS, never per
    campaign — so host weather during any single pass lands on both
    engines' totals, and the reported ``ratio_vs_duckdb`` is the median of
    the per-pass ratios: one weather-y pass cannot decide the gate.  Both
    engines stay warm across passes (views/caches built once, one untimed
    warm run per key per engine before pass 1).

    Returns None if DuckDB or an oracle is unavailable, and
    ``{"interleaved_error": ...}`` if the interleaved phase itself fails
    mid-run (ADVICE r10: a bare None here relabeled real Spark-side
    failures as "DuckDB unavailable" in the artifact) — the caller then
    records a spark-only section, carrying the error forward.

    Alongside the steady-state (median-of-3-consecutive) ratio, each pass
    also records its ALL-RUNS ratio — first runs after every query-shape
    switch included — so the artifact shows both regimes (ADVICE r10: the
    switch penalty is ~2x on Spark vs ~15% on DuckDB, so steady-state
    alone flatters the ratio for cold-switch workloads).
    """
    from bigdatawork_spark.registry import ORACLES, QUERIES
    from bigdatawork_spark.schemas import TABLES

    try:
        import duckdb
    except Exception:
        return None
    if any(ORACLES.get(k) is None for k in keys):
        return None  # a headline key without an oracle breaks parity

    con = duckdb.connect()
    try:
        # native_tables (decade probe): Spark's side reads its decoded
        # in-memory clustered cache, so DuckDB gets decoded NATIVE tables
        # rather than re-decoding parquet per query — the fully symmetric
        # warm-layout protocol.  The per-round sf1.0 phase keeps views
        # (the adjudicated protocol BASELINE.md's band history records).
        rel = "TABLE" if native_tables else "VIEW"
        for t in TABLES:
            con.execute(
                f"CREATE {rel} {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        # symmetric Q1 warm layout (ADVICE r12 — see _duckdb_q1_warm_layout)
        timed_sql = {k: ORACLES[k] for k in keys}
        q1_symmetric = False
        q1_downgrade = None
        if "agg_groupby_q1" in timed_sql:
            sym, q1_downgrade = _duckdb_q1_warm_layout(
                con, sf_dir, from_native=native_tables
            )
            if sym is not None:
                timed_sql["agg_groupby_q1"] = sym
                q1_symmetric = True
        wrapped = {
            k: f"SELECT bit_xor(hash(q)) FROM ({timed_sql[k]}) q" for k in keys
        }
        # One untimed warm run per key per engine (DuckDB buffer pool /
        # Spark codegen+broadcast build are one-time costs the BASELINE
        # protocol has always excluded on both sides).
        for k in keys:
            con.execute(wrapped[k]).fetchone()
            _materialize(QUERIES[k](spark, sf_dir))

        # Within a pass each key gets RUNS_IN_PASS consecutive timed runs
        # and contributes its median — applied IDENTICALLY to both engines.
        # Measured (BASELINE.md r10): the first run after switching query
        # shapes pays a ~2× JVM code-locality penalty that recovers by run
        # 2 (steady-state batch 4.5 s vs 8.4 s of all-first-runs); DuckDB
        # shows a smaller (~15%) switch effect.  Medians-of-consecutive
        # time both engines at their steady state, which is what a
        # long-running cluster executing recurring query shapes sees; the
        # PASS-level engine alternation still shares host weather.
        RUNS_IN_PASS = 3
        duck_t: dict[str, list] = {k: [] for k in keys}
        spark_t: dict[str, list] = {k: [] for k in keys}
        pass_ratios = []
        pass_ratios_allruns = []
        for _ in range(passes):
            d_total = s_total = 0.0
            d_all = s_all = 0.0
            for k in keys:
                ts = []
                for _ in range(RUNS_IN_PASS):
                    t0 = time.perf_counter()
                    con.execute(wrapped[k]).fetchone()
                    ts.append(time.perf_counter() - t0)
                dt = _median(ts)
                duck_t[k].append(dt)
                d_total += dt
                d_all += sum(ts)
            for k in keys:
                ts = []
                for _ in range(RUNS_IN_PASS):
                    t0 = time.perf_counter()
                    _materialize(QUERIES[k](spark, sf_dir))
                    ts.append(time.perf_counter() - t0)
                st = _median(ts)
                spark_t[k].append(st)
                s_total += st
                s_all += sum(ts)
            pass_ratios.append(round(s_total / d_total, 3))
            pass_ratios_allruns.append(round(s_all / d_all, 3))

        duck_q = {k: round(_median(v), 4) for k, v in duck_t.items()}
        spark_q = {k: round(_median(v), 4) for k, v in spark_t.items()}
        return {
            "q1_layout_symmetric": q1_symmetric,
            # only present on a downgrade: the reason the symmetric
            # warm-layout rewrite was rejected (ADVICE r13)
            **({"q1_layout_downgrade": q1_downgrade} if q1_downgrade else {}),
            "passes": passes,
            "pass_ratios": pass_ratios,
            "ratio_vs_duckdb": _median(pass_ratios),
            # switch-inclusive regime: every run counted, first-after-
            # switch runs included — see docstring (ADVICE r10)
            "pass_ratios_allruns": pass_ratios_allruns,
            "ratio_vs_duckdb_allruns": _median(pass_ratios_allruns),
            "spark_sec": round(sum(spark_q.values()), 4),
            "spark_queries": spark_q,
            "duckdb_sec": round(sum(duck_q.values()), 4),
            "duckdb_queries": duck_q,
        }
    except Exception as ex:
        return {"interleaved_error": f"{type(ex).__name__}: {ex}"[:200]}
    finally:
        con.close()


def _warmup(spark, keys) -> None:
    """Run every headline query once at sf0.001 (untimed): warms JIT/codegen,
    parquet reader paths, and broadcast machinery — through the SAME
    materialization as the timed runs, so the hash-fold codegen is warm too.
    Standard JVM bench protocol — the DuckDB BASELINE was likewise warm."""
    for key in keys:
        try:
            _materialize(QUERIES[key](spark, "/root/testdata/sf0.001"))
        except Exception:
            pass


def _fill_cache(spark, sf_dir) -> None:
    """Materialize the in-memory table cache at the bench SF (untimed)."""
    from bigdatawork_spark.io import load
    from bigdatawork_spark.schemas import TABLES

    for t in TABLES:
        load(spark, sf_dir, t).count()


def _drop_cache(spark, sf_dir) -> None:
    """Unpersist ``sf_dir``'s cached tables so a later phase at another SF
    is not squeezed (delegates to the session cache, which owns them)."""
    from bigdatawork_spark import cache

    cache.drop(spark, sf_dir)


def _recorded_sf10(path: str | None = None) -> dict | None:
    """Summarize the recorded sf10 decade-probe band (DECADE_SF10.json,
    written by ``tools/decade_probe.py --record``) into a compact block
    for the bench JSON line (VERDICT r13 item 2).  RECORDED, not live:
    a 60M-row interleaved probe is minutes of wall-clock — far past the
    per-round bench budget — so bench attaches the latest measured band
    and labels it as such; re-measure with the probe tool."""
    if path is None:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "DECADE_SF10.json")
    try:
        with open(path) as fh:
            band = json.load(fh)
        runs = [r for r in band.get("runs", []) if "ratio_vs_duckdb" in r]
        if not runs:
            return None
        last = runs[-1]
        # PRIMARY sf10 statistic (VERDICT r14 item 3): per-query medians
        # across ALL recorded runs.  The per-pass batch ratios have real
        # host-weather spread (0.28-3.24 observed over the first 3x3-pass
        # runs) while the per-query STRUCTURE — curation shapes Spark,
        # TPC-H shapes DuckDB — is stable run to run; the batch-ratio
        # band stays as the secondary, spread stated.
        q_keys = sorted(
            set().union(*(set(r.get("spark_queries") or {}) for r in runs))
        )

        def _per_query_medians(rs):
            out = {}
            for k in q_keys:
                s = [r["spark_queries"][k] for r in rs
                     if k in (r.get("spark_queries") or {})]
                d = [r["duckdb_queries"][k] for r in rs
                     if k in (r.get("duckdb_queries") or {})]
                if s and d:
                    sm, dm = _median(s), _median(d)
                    out[k] = {
                        "spark": round(sm, 4),
                        "duckdb": round(dm, 4),
                        "ratio": round(sm / dm, 3) if dm else None,
                    }
            return out

        per_q = _per_query_medians(runs)
        # CURRENT-SHAPE companion (r16): the record accumulates runs
        # across plan-shape changes, so the all-runs median can lag an
        # adopted layout for rounds (observed: win_time_tumbling's r16
        # hour-projection shows 0.25 s in current-shape runs while the
        # all-runs median still reads the seven pre-projection runs'
        # 0.42 s — a reader would conclude the adoption didn't help).
        # A trailing-3 window (probes are recorded at session close on
        # the final tree) keeps a current reading next to the stability
        # statistic; neither replaces the other and the protocol string
        # names both.
        per_q_recent = _per_query_medians(runs[-3:])
        all_pass_ratios = [p for r in runs for p in r.get("pass_ratios", [])]
        return {
            "recorded": True,
            "n_runs": len(runs),
            "per_query_median_across_runs": per_q,
            "per_query_median_recent3": per_q_recent,
            "spark_sec_median_across_runs": round(
                sum(v["spark"] for v in per_q.values()), 4
            ),
            "duckdb_sec_median_across_runs": round(
                sum(v["duckdb"] for v in per_q.values()), 4
            ),
            "ratio_vs_duckdb_band": [r["ratio_vs_duckdb"] for r in runs],
            "ratio_vs_duckdb": _median(
                [r["ratio_vs_duckdb"] for r in runs]
            ),
            "ratio_vs_duckdb_trimmed_band": [
                r["ratio_vs_duckdb_trimmed"] for r in runs
                if "ratio_vs_duckdb_trimmed" in r
            ],
            "pass_ratio_spread": (
                [min(all_pass_ratios), max(all_pass_ratios)]
                if all_pass_ratios else None
            ),
            "ratio_vs_duckdb_allruns_band": [
                r["ratio_vs_duckdb_allruns"] for r in runs
                if "ratio_vs_duckdb_allruns" in r
            ],
            "spark_sec": last.get("spark_sec"),
            "duckdb_sec": last.get("duckdb_sec"),
            "spark_queries": last.get("spark_queries"),
            "duckdb_queries": last.get("duckdb_queries"),
            "lineitem_rows": (last.get("rows") or {}).get("lineitem"),
            "protocol": (
                "RECORDED band from tools/decade_probe.py --record"
                " (fresh process per run, synthetic sf10 via"
                " tools/synth_scale.py 100x, fully symmetric warm layout:"
                " Spark decoded clustered cache vs DuckDB decoded NATIVE"
                " tables incl. the Q1 derived-column table; same"
                " interleaved pass/median protocol as sf1_0)."
                " PRIMARY statistic: per_query_median_across_runs (per-"
                "query medians over ALL recorded runs — the stable"
                " structure); per_query_median_recent3 is the CURRENT-"
                "SHAPE companion (trailing-3 window — the all-runs median"
                " lags adopted plan-shape changes by design); batch"
                " pass-ratio bands are SECONDARY with"
                " pass_ratio_spread stating the host-weather spread;"
                " trimmed medians (drop min/max pass) present for >=5-pass"
                " runs; spark_sec / spark_queries / duckdb_queries are"
                " from the latest run only"
            ),
        }
    except Exception:
        return None


def _compact_summary_line(payload: dict) -> str:
    """One compact JSON line carrying everything the adjudication needs —
    emitted as the FINAL stdout line (VERDICT r12 item 2: the grading
    driver records only the last ~2000 chars of stdout, and the full
    payload line above can exceed that on its own, which left
    BENCH_r12.json's ``parsed`` null and its sf0.1 section truncated
    away).  Guaranteed under 1900 chars: if the per-query maps push it
    over, they are dropped first — the headline totals and both regime
    ratios always survive."""
    sf1 = payload.get("sf1_0") or {}
    compact = {
        "bench_summary": {
            "sf": payload.get("sf"),
            "metric": payload.get("metric"),
            "headline_sec": payload.get("value"),
            "passes": payload.get("passes"),
            "pass_totals": payload.get("pass_totals"),
            "queries": payload.get("queries"),
            "sf1_0": {
                k: sf1[k]
                for k in (
                    "ratio_vs_duckdb",
                    "ratio_vs_duckdb_allruns",
                    "pass_ratios",
                    "pass_ratios_allruns",
                    "passes",
                    "q1_layout_symmetric",
                    "spark_sec",
                    "duckdb_sec",
                    "spark_queries",
                    "duckdb_queries",
                    "interleaved_error",
                )
                if k in sf1
            },
        }
    }
    tier = payload.get("audit_tier") or {}
    if tier.get("keys"):
        compact["bench_summary"]["audit_tier"] = tier["keys"]
    sf10 = payload.get("sf10") or {}
    if sf10:
        compact["bench_summary"]["sf10"] = {
            k: sf10[k]
            for k in (
                "recorded",
                "n_runs",
                "ratio_vs_duckdb",
                "ratio_vs_duckdb_band",
            )
            if k in sf10
        }
    line = json.dumps(compact, separators=(",", ":"))
    # pass_ratios lists are droppable too (r13 review: a large
    # SPARK_GRAFT_BENCH_PASSES made the two lists alone exceed the cap
    # after all three maps were gone); the median scalars always survive
    # audit_tier drops FIRST: the headline contract fields outrank the
    # tail-visibility block when the 1900-char stdout cap bites
    for drop in ("audit_tier", "duckdb_queries", "spark_queries", "queries",
                 "pass_ratios_allruns", "pass_ratios", "pass_totals",
                 "sf10"):
        if len(line) <= 1900:
            break
        compact["bench_summary"]["sf1_0"].pop(drop, None)
        compact["bench_summary"].pop(drop, None)
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # Cache hot tables across the batch (io.load honors this), mirroring the
    # warm-cache protocol of the BASELINE measurement.
    os.environ.setdefault("SPARK_GRAFT_CACHE", "1")
    spark = get_spark("bigdatawork-bench")
    keys = [k for k in HEADLINE if k in QUERIES]

    _warmup(spark, keys)
    _fill_cache(spark, sf_dir)

    # Median of 3 timed runs per query (each run re-builds the DataFrame, so
    # Catalyst analysis/optimization is inside the timing) — symmetric with
    # the warm per-query protocol the DuckDB BASELINE was measured under.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    def time_keys(key_list, in_dir, n_runs=None) -> dict[str, float]:
        n_runs = n_runs or runs
        out: dict[str, float] = {}
        for key in key_list:
            # One untimed priming run at the bench SF: the DuckDB BASELINE
            # was measured warm at the same SF, so the timed medians should
            # not carry this query shape's one-time codegen/broadcast build.
            _materialize(QUERIES[key](spark, in_dir))
            times = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                # full materialization — every output column computed and
                # hashed; count() let Catalyst prune the work (r07 finding)
                _materialize(QUERIES[key](spark, in_dir))
                times.append(time.perf_counter() - t0)
            out[key] = round(sorted(times)[len(times) // 2], 4)
        return out

    # sf0.1 headline = MEDIAN OF 3 FULL BATCH PASSES (VERDICT r15 item 4).
    # The r15 artifact's 4.17 s headline was one batch pass whose per-key
    # medians all shared a single bad weather window (the same final tree
    # measured 2.86-3.73 s in the round's close runs) — consecutive runs
    # within one pass do NOT decorrelate host weather.  Passes are full
    # batch sweeps separated in time, exactly the sf1.0 interleaved
    # structure: within a pass each key gets `runs` consecutive timed runs
    # and contributes its median; the headline is the median of per-pass
    # batch totals, per-query values are medians across passes.
    passes_01 = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SF01_PASSES",
                                          "3")))
    for key in keys:
        # one untimed priming run per key at the bench SF (codegen /
        # broadcast build — excluded on both sides of the BASELINE protocol)
        _materialize(QUERIES[key](spark, sf_dir))
    per_key_pass: dict[str, list] = {k: [] for k in keys}
    pass_totals = []
    for _ in range(passes_01):
        tot = 0.0
        for key in keys:
            times = []
            for _ in range(runs):
                t0 = time.perf_counter()
                _materialize(QUERIES[key](spark, sf_dir))
                times.append(time.perf_counter() - t0)
            med = _median(times)
            per_key_pass[key].append(med)
            tot += med
        pass_totals.append(round(tot, 4))
    per_query = {k: round(_median(v), 4) for k, v in per_key_pass.items()}
    total = _median(pass_totals)

    payload = {
        "metric": "headline_batch_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "passes": passes_01,
        "pass_totals": pass_totals,
        "runs_per_query": runs,
        "materialization": MATERIALIZATION,
        "headline_protocol": (
            "median of %d full batch passes (each pass: per-key median of"
            " %d consecutive timed runs, whole-row hash materialization;"
            " one untimed priming run per key before pass 1); per-query"
            " values are medians across passes — a single weather draw"
            " cannot set the headline (VERDICT r15 item 4)"
            % (passes_01, runs)
        ),
    }

    # Matched-scale section (VERDICT r04 item 2): per-query ratios at sf0.1
    # measure the local-mode scheduler floor, not plan quality, so the 2×
    # adjudication runs at synthetic sf1.0 where neither engine is
    # floor-dominated.  Both engines, same parquet, same machine, warm,
    # median of `runs` — emitted INSIDE the same single JSON line so the
    # BENCH_r{N}.json artifact is self-contained (previously BASELINE.md
    # prose).  Runs only for the default sf0.1 invocation (the per-round
    # protocol); disable with SPARK_GRAFT_BENCH_SF1=0.
    if sf == 0.1 and os.environ.get("SPARK_GRAFT_BENCH_SF1") != "0":
        # Best-effort by construction: any failure in this phase degrades to
        # "no sf1_0 field" — it must never discard the already-measured
        # sf0.1 results above (r05 review).
        try:
            if _ensure_sf1(sf_dir):
                passes = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES",
                                                   "5")))
                _fill_cache(spark, SF1_DIR)
                # The r05 initialPartitionNum=64 phase conf is GONE (r10
                # re-A/B, BASELINE.md): it predated the r08 key-clustered
                # 8-partition caches and now SHREDS their co-partitioned
                # joins — steady-state sf1.0 batch 4.2-4.5 s with it vs
                # 3.0-3.2 s without (Q5 alone 1.02-1.09 → 0.44-0.52 s),
                # and it was the main source of the Q5 run-to-run spread
                # VERDICT r08 flagged.  The phase now runs under the
                # session default (AQE initial = shuffle.partitions),
                # which matches the cache clustering; at cluster scale the
                # same knob is sized via SPARK_GRAFT_SHUFFLE (session.py).
                sf1 = _sf1_interleaved(spark, keys, passes)
                if sf1 is not None and "ratio_vs_duckdb" in sf1:
                    # The interleaved description is attached ONLY when the
                    # interleaved phase actually ran (ADVICE r10: the
                    # fallback previously inherited this string and
                    # misrepresented a spark-only measurement).
                    sf1["protocol"] = (
                        "synthetic sf1.0 (tools/synth_scale.py x10,"
                        " key-shifted), both engines warm; MEDIAN OF %d FULL"
                        " INTERLEAVED BATCH PASSES — each pass times one full"
                        " DuckDB batch then one full Spark batch (engines"
                        " alternate per pass, never per campaign),"
                        " ratio_vs_duckdb = median of per-pass ratios"
                        " (VERDICT r08 item 1); inside a pass each key gets 3"
                        " consecutive timed runs and contributes its median,"
                        " on BOTH engines symmetrically (steady-state timing;"
                        " the first run after a query-shape switch pays a ~2x"
                        " JVM code-locality penalty — measured A/B in"
                        " BASELINE.md r10); ratio_vs_duckdb_allruns is the"
                        " same passes with EVERY run counted,"
                        " switch-penalty runs included (cold-switch regime;"
                        " ADVICE r10); both engines materialized via the"
                        " whole-row hash aggregate (see 'materialization');"
                        " Spark sf1.0 phase runs under the session-default"
                        " AQE partitioning — the r05 initialPartitionNum=64"
                        " override was re-A/B'd and REMOVED in r10 (it"
                        " predated the r08 key-clustered caches and shredded"
                        " their co-partitioned joins, ~35%% on the batch;"
                        " BASELINE.md r10); Q1's five scaled-long measures"
                        " are materialized in BOTH warm layouts — Spark's"
                        " cached derived columns AND a DuckDB native table"
                        " built untimed with the identical expressions, the"
                        " rewrite used only after an untimed hash-fold"
                        " identity check vs the contract oracle"
                        " (q1_layout_symmetric; ADVICE r12); NOTE on Q1's"
                        " per-query ratio under this symmetric layout:"
                        " DuckDB's denominator is a ~20 ms 6-group bigint"
                        " sum over its pre-materialized NATIVE table, so"
                        " Q1 reads ~13x at sf1.0 while the Spark plan is"
                        " the FINAL-adjudicated optimal partial/final"
                        " shape (vectorized-escape A/B'd 3.3x slower, r08;"
                        " residual is row-based vs vectorized aggregate"
                        " CPU) — the batch-level ratio is the gate, not"
                        " this row (VERDICT r13 item 4)" % passes
                    )
                else:
                    # DuckDB/oracle unavailable, or the interleaved phase
                    # died mid-run — record spark-only timings under a
                    # protocol string that says so, carrying any error.
                    err = (sf1 or {}).get("interleaved_error")
                    sf1 = {
                        "spark_queries": time_keys(keys, SF1_DIR,
                                                   n_runs=max(runs, 5)),
                    }
                    sf1["spark_sec"] = round(sum(sf1["spark_queries"]
                                                 .values()), 4)
                    if err:
                        sf1["interleaved_error"] = err
                    sf1["protocol"] = (
                        "synthetic sf1.0, SPARK-ONLY (no DuckDB ratio):"
                        " the interleaved adjudication did not run"
                        + (f" — {err}" if err
                           else " (DuckDB or an oracle unavailable)")
                        + "; Spark timings are per-key medians of"
                        " %d warm runs via the whole-row hash aggregate"
                        % max(runs, 5)
                    )
                payload["sf1_0"] = sf1
        except Exception as ex:
            payload["sf1_0_error"] = f"{type(ex).__name__}: {ex}"[:200]
        finally:
            # Drop the 10× cache so any later phase (EXTENDED tier) times
            # sf0.1 under the same memory conditions as previous rounds.
            _drop_cache(spark, SF1_DIR)

    if sf == 0.1 and os.environ.get("SPARK_GRAFT_BENCH_AUDIT_TIER") != "0":
        # Slow-tail visibility block (VERDICT r16 item 2): one cold-shape
        # timed run per AUDIT_TIER key at the bench SF.  Best-effort — a
        # failing tail key records an error string, never discards the
        # headline results above.
        tier: dict = {}
        for key in AUDIT_TIER:
            if key not in QUERIES:
                continue
            try:
                t0 = time.perf_counter()
                _materialize(QUERIES[key](spark, sf_dir))
                tier[key] = round(time.perf_counter() - t0, 2)
            except Exception as ex:  # noqa: BLE001
                tier[key] = f"ERR:{type(ex).__name__}"[:24]
        payload["audit_tier"] = {
            "keys": tier,
            "total_sec": round(
                sum(v for v in tier.values() if isinstance(v, float)), 2
            ),
            "protocol": (
                "registry slow-tail tier: ONE cold-shape timed run per key"
                " at the bench SF, fixed order (first streaming key absorbs"
                " the session's one-time memoized events staging),"
                " whole-row hash materialization; single-run numbers carry"
                " host weather — compare round-over-round, not key-to-key"
            ),
        }

    if os.environ.get("SPARK_GRAFT_BENCH_EXTENDED") == "1":
        ext = time_keys([k for k in EXTENDED if k in QUERIES], sf_dir)
        payload["extended_queries"] = ext
        payload["extended_total"] = round(sum(ext.values()), 4)
    sf10 = _recorded_sf10()
    if sf10 is not None:
        payload["sf10"] = sf10
    print(json.dumps(payload))
    print(_compact_summary_line(payload))
    spark.stop()


if __name__ == "__main__":
    main()
