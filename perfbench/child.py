"""The measured process of one workload run (started by ``run.py``).

One driver thread issues one query at a time (a closed loop with one
client).  Order of work:

1. set-up: import the engine, call ``__spark_entry__.queries()``, start and
   tune the session, and fill the io cache when the workload uses it;
2. the cold pass, ``SETTLE_PASSES`` untimed passes, then warm passes until
   ``--seconds`` have passed and at least ``MIN_WARM_SAMPLES`` warm queries
   were timed; every pass runs the workload's keys in an order drawn from
   ``--seed``;
3. untimed: the expected hash fold of every key is computed from its DuckDB
   oracle (or its batch twin's) and compared with every execution's fold.

Progress and the result go to ``run.py`` as JSON lines on the file
descriptor named in ``PERFBENCH_FD``; stdout and stderr belong to the engine.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import math
import os
import random
import statistics
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import (  # noqa: E402
    CaptureCollect,
    Tracer,
    cached_mb,
    catalyst_phases,
    job_counts,
    plan_counters,
    stream_counters,
    stream_listener,
)
from workloads import MIN_WARM_SAMPLES, SETTLE_PASSES, TABLES, TWIN_SQL, WORKLOADS  # noqa: E402


def sender(out):
    """A function writing one JSON event line to ``out`` (and a timestamped
    note to stderr, the engine's log)."""
    def send(event: str, **payload) -> None:
        out.write(json.dumps({"event": event, **payload}) + "\n")
        print(f"perfbench: {event} at {time.perf_counter() - T_START:.2f} s", file=sys.stderr)

    return send


def expected_folds(spark, keys, schemas, sf_dir, materialize):
    """Hash fold of each key's oracle rows, typed as the engine's output
    schema and folded by the same ``bench._materialize``; never taken from
    a measured execution.

    A fold is kept in ``<sf_dir>/expected.json`` under a digest of all it
    depends on besides the corpus: the oracle SQL, the output schema and the
    source of ``materialize``.  A changed oracle, schema or fold is a new
    entry, and a rebuilt corpus is a new directory without the file."""
    import __spark_entry__ as entry
    import duckdb
    from pyspark.sql.pandas.types import to_arrow_schema

    cache_file = os.path.join(sf_dir, "expected.json")
    try:
        with open(cache_file) as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    fold_src = inspect.getsource(materialize)
    oracles = entry.oracle_sql()
    con = None
    out: dict[str, object] = {}
    for k in keys:
        sql = oracles.get(k) or TWIN_SQL.get(k)
        sql = oracles.get(sql, sql)  # a twin named by its key
        schema = schemas.get(k)
        try:
            if sql is None or schema is None:
                raise LookupError(f"no oracle or engine schema for {k}")
            digest = hashlib.sha256(
                json.dumps([sql, schema.json(), fold_src]).encode()
            ).hexdigest()
            if digest not in cache:
                if con is None:
                    con = duckdb.connect()
                    for t in TABLES:
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{sf_dir}/{t}.parquet')"
                        )
                rows = con.execute(sql).arrow()
                rows = rows.select(schema.names).cast(to_arrow_schema(schema))
                cache[digest] = materialize(spark.createDataFrame(rows))
            out[k] = cache[digest]
        except Exception as ex:  # reported as a failure of every execution
            out[k] = f"oracle error: {type(ex).__name__}: {str(ex)[:200]}"
    if con is not None:
        con.close()
        with open(cache_file + ".tmp", "w") as fh:
            json.dump(cache, fh)
        os.replace(cache_file + ".tmp", cache_file)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--span-file", required=True)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    send = sender(os.fdopen(int(os.environ["PERFBENCH_FD"]), "w", buffering=1))
    traced = bool(a.trace)
    tr = Tracer(traced)

    # ---- set-up (timed by run.py from process start to "ready") ----
    with tr.span("setup"):
        with tr.span("registry.import"):
            sys.path.insert(0, ROOT)
            import __spark_entry__ as entry
            from bench import _materialize
        with tr.span("registry.queries"):
            queries = entry.queries()
        with tr.span("session.start"):
            from bigdatawork_spark.session import ensure_tuned, get_spark

            cpus = len(os.sched_getaffinity(0))
            spark = ensure_tuned(get_spark("perfbench", cpus=cpus))
        if wl.cache:
            with tr.span("io.fill"):
                from bigdatawork_spark.io import load

                for t in TABLES:
                    load(spark, a.sf_dir, t).count()
    send("ready")

    sc = spark.sparkContext
    listener = None
    if traced:
        listener = stream_listener()
        spark.streams.addListener(listener)
    rng = random.Random(a.seed)
    schemas: dict = {}
    executions: list[dict] = []  # one per query execution
    passes: list[dict] = []

    def run_pass(kind: str, trace_on: bool) -> dict:
        keys = list(wl.keys)
        rng.shuffle(keys)
        tr.enabled = trace_on
        p = {"kind": kind, "traced": trace_on, "order": keys, "wall_start": time.time()}
        t0 = time.perf_counter()
        for k in keys:
            qid = f"{len(passes)}.{k}"
            rec = {"pass": len(passes), "kind": kind, "key": k, "traced": trace_on}
            if trace_on:
                sc.setJobGroup(qid, k)
            q0 = time.perf_counter()
            try:
                with tr.span("query", query_id=qid, key=k) as qspan:
                    with tr.span("operators.build"):
                        b0 = time.perf_counter()
                        df = queries[k](spark, a.sf_dir)
                        rec["build_s"] = time.perf_counter() - b0
                    with tr.span("exec.materialize"):
                        m0 = time.perf_counter()
                        if trace_on:
                            with CaptureCollect(type(df)) as cap:
                                rec["fold"] = _materialize(df)
                        else:
                            rec["fold"] = _materialize(df)
                        rec["materialize_s"] = time.perf_counter() - m0
            except Exception as ex:
                rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            rec["latency_s"] = time.perf_counter() - q0
            if trace_on:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if "fold" in rec:
                schemas.setdefault(k, df.schema)
                if trace_on:
                    # counters are attached to the query span
                    qspan["phases_ms"] = rec["phases_ms"] = catalyst_phases(cap.df)
                    qspan["plan"] = rec["plan"] = plan_counters(cap.df)
                    rec["group"] = qid
                    rec["span"] = qspan
            executions.append(rec)
        p["total_s"] = time.perf_counter() - t0
        p["wall_end"] = time.time()
        passes.append(p)
        return p

    # ---- timed passes ----
    run_pass("cold", False)
    # Untimed passes let background JIT compilation after the cold pass
    # settle before the warm passes are timed.
    for _ in range(SETTLE_PASSES):
        run_pass("settle", False)
    w0 = time.perf_counter()
    min_passes = math.ceil(MIN_WARM_SAMPLES / len(wl.keys))
    n_warm = 0
    while n_warm < min_passes or time.perf_counter() - w0 < a.seconds:
        # A traced run alternates untraced and traced passes, so the tracing
        # overhead is measured within one process.
        run_pass("warm", traced and n_warm % 2 == 1)
        n_warm += 1
    if traced and n_warm % 2:
        run_pass("warm", True)
    send("timed_done")

    # ---- untimed: output check ----
    if traced:
        for rec in executions:
            if rec.get("group"):
                jobs, tasks = job_counts(sc, rec["group"])
                rec["jobs"] = rec["span"]["jobs"] = jobs
                rec["tasks"] = rec["span"]["tasks"] = tasks
        time.sleep(1.0)  # let the listener bus deliver the last progress events
    send("check")
    expected = expected_folds(spark, wl.keys, schemas, a.sf_dir, _materialize)
    failures = []
    for rec in executions:
        want = expected[rec["key"]]
        if "error" in rec:
            failures.append((rec["key"], rec["error"]))
        elif isinstance(want, str):
            failures.append((rec["key"], want))
        elif rec["fold"] != want:
            failures.append((rec["key"], f"fold {rec['fold']} != oracle {want}"))

    result = {
        "passes": [
            {k: v for k, v in p.items() if k not in ("wall_start", "wall_end")}
            for p in passes
        ],
        "executions": [
            {k: v for k, v in r.items() if k in ("pass", "key", "latency_s", "fold", "error", "traced")}
            for r in executions
        ],
        "expected": {k: v for k, v in expected.items()},
        "failures": failures,
        "cpus": cpus,
    }
    if traced:
        result["layers"] = layer_metrics(tr, passes, executions, listener, spark)
        result["per_key_build_s"] = per_key_build(executions)
        tr.write(a.span_file)
        result["span_file"] = a.span_file
    send("result", **result)
    spark.stop()
    send("stopped")


def per_key_build(executions) -> dict[str, float]:
    by_key: dict[str, list[float]] = {}
    for r in executions:
        if r["kind"] == "warm" and "build_s" in r:
            by_key.setdefault(r["key"], []).append(r["build_s"])
    return {k: statistics.median(v) for k, v in sorted(by_key.items())}


def layer_metrics(tr: Tracer, passes, executions, listener, spark) -> dict[str, float]:
    """Per-layer metrics: set-up spans once, everything else as the median
    over traced warm passes of the per-pass total."""
    def span_s(name):
        return sum(s["end"] - s["start"] for s in tr.spans if s["name"] == name)

    out = {
        "registry.import_s": span_s("registry.import"),
        "registry.queries_s": span_s("registry.queries"),
        "session.start_s": span_s("session.start"),
        "io.fill_s": span_s("io.fill"),
        "io.cached_mb": cached_mb(spark),
    }
    per_pass: list[dict[str, float]] = []
    for i, p in enumerate(passes):
        if p["kind"] != "warm" or not p["traced"]:
            continue
        recs = [r for r in executions if r["pass"] == i and "plan" in r]
        if not recs:
            continue
        qspans = [s for s in tr.spans if s["name"] == "query"
                  and s["query_id"].split(".", 1)[0] == str(i)]
        v = {k: sum(r["plan"][k] for r in recs) for k in recs[0]["plan"]}
        scans, cached = v.pop("scans"), v.pop("cached_scans")
        v["io.cached_scan_ratio"] = cached / scans if scans else 0.0
        for k in recs[0]["phases_ms"]:
            v[k] = sum(r["phases_ms"][k] for r in recs)
        v["operators.build_s"] = sum(r["build_s"] for r in recs)
        v["exec.materialize_s"] = sum(r["materialize_s"] for r in recs)
        v["exec.jobs"] = float(sum(r["jobs"] for r in recs))
        v["exec.tasks"] = float(sum(r["tasks"] for r in recs))
        v["harness.query_self_s"] = sum(tr.self_time(s) for s in qspans)
        v.update(stream_counters(listener.events, p["wall_start"], p["wall_end"]))
        per_pass.append(v)
    for k in per_pass[0]:
        out[k] = statistics.median(v[k] for v in per_pass)
    untraced = [p["total_s"] for p in passes if p["kind"] == "warm" and not p["traced"]]
    traced = [p["total_s"] for p in passes if p["kind"] == "warm" and p["traced"]]
    out["trace.untraced_warm_pass_s"] = statistics.median(untraced)
    out["trace.traced_warm_pass_s"] = statistics.median(traced)
    out["trace.overhead_s"] = out["trace.traced_warm_pass_s"] - out["trace.untraced_warm_pass_s"]
    return out


if __name__ == "__main__":
    main()
