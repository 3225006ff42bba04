"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_cached_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root.  The input corpus is generated on first use
under ``perfbench/.work/`` (untimed), then one fresh process runs the
workload (``child.py``) on a ``local[<cpus>]`` session while this process
samples the resident memory of its whole process tree from ``/proc``.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (which also writes the span file).
The exit code is nonzero when any execution failed or returned a wrong
result, and when the engine is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

ENGINE_FILES = ("__spark_entry__.py", "bench.py", "bigdatawork_spark/__init__.py")
DRIVER_HEAP = "3g"
PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.25  # memory sampling interval


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgid) for every live, non-zombie process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":
            out[int(d)] = (int(fields[1]), int(fields[2]))
    return out


def _resident(pid: int) -> tuple[str, int]:
    """(command name, resident bytes) of one process.  Python processes
    report their proportional set size, each shared page split among the
    processes that map it, so forked Python workers are not counted once per
    fork.  The JVM reports its plain resident set, which is far cheaper to
    read than its PSS.  Anything else is a short-lived helper the JVM forks
    (a shell command; before its exec it still maps all of the JVM's pages)
    and is not counted."""
    comm = ""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            comm = fh.read().strip()
        if comm == "java":
            with open(f"/proc/{pid}/statm") as fh:
                return comm, int(fh.read().split()[1]) * PAGE
        if comm.startswith("python"):
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return comm, int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return comm, 0


def tree_memory(root_pid: int) -> dict[str, int]:
    """Resident bytes of ``root_pid`` and all its descendants, by command
    name."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        comm, rss = _resident(pid)
        if rss:
            out[comm] = out.get(comm, 0) + rss
        todo.extend(kids.get(pid, ()))
    return out


def stop_group(pgid: int) -> None:
    """Terminate every process left in the child's process group and wait
    until none remains."""
    def alive() -> bool:
        return any(g == pgid for _, g in _proc_table().values())

    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10.0
        while alive() and time.monotonic() < deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.2)


def child_env(wl) -> dict[str, str]:
    for d in ("tmp", "spark-local", "warehouse", "spans", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_GRAFT_CACHE": "1" if wl.cache else "0",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the engine's modules by package name.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # spark-submit's launcher JVM: no perf-data file in the system /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
            "pyspark-shell"
        ),
    })
    return env


def query_latency(by_key: dict[str, list[float]]) -> tuple[float, list[float]]:
    """The typical query latency and the slowest third of the samples as
    ratios to their own key's median.

    The keys' warm latencies differ up to tenfold, so a percentile of the
    pooled samples would jump from one key's cluster to another's.  Each key
    counts once instead: the typical latency is the geometric mean of the
    per-key medians, and the tail scales it by the mean of the slowest
    third of the ratios."""
    med = {k: statistics.median(v) for k, v in by_key.items()}
    ratios = sorted(x / med[k] for k, v in by_key.items() for x in v)
    return statistics.geometric_mean(med.values()), ratios[len(ratios) * 2 // 3:]


def run_child(args, wl, sf_dir: str) -> tuple[dict, float, float]:
    r, w = os.pipe()
    env = child_env(wl)
    env["PERFBENCH_FD"] = str(w)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    log = open(os.path.join(WORK, "logs", f"{tag}.log"), "w")
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", wl.name, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", sf_dir,
        "--span-file", os.path.join(WORK, "spans", f"{tag}.json"),
    ]
    t_spawn = time.perf_counter()
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
        pass_fds=(w,), start_new_session=True,
    )
    os.close(w)
    setup_s = peak = None
    sampling = True
    n_samples, sample_s = 0, 0.0
    buf, result = b"", None
    try:
        while True:
            if sampling:
                s0 = time.perf_counter()
                mem = tree_memory(proc.pid)
                if peak is None or sum(mem.values()) > sum(peak.values()):
                    peak = mem
                n_samples += 1
                sample_s += time.perf_counter() - s0
            ready, _, _ = select.select([r], [], [], SAMPLE_S)
            if not ready:
                continue
            chunk = os.read(r, 1 << 20)
            if not chunk:
                break
            buf += chunk
            while b"\n" in buf:
                line, buf = buf.split(b"\n", 1)
                msg = json.loads(line)
                if msg["event"] == "ready":
                    setup_s = time.perf_counter() - t_spawn
                elif msg["event"] == "timed_done":
                    sampling = False
                elif msg["event"] == "result":
                    result = msg
        proc.wait(timeout=60)
    finally:
        os.close(r)
        stop_group(proc.pid)
        log.close()
    if result is not None:
        with open(os.path.join(WORK, "logs", f"{tag}.result.json"), "w") as fh:
            json.dump(result, fh)
    if result is None or setup_s is None:
        with open(log.name) as fh:
            tail = fh.read()[-3000:]
        sys.exit(f"workload process ended without a result (exit {proc.returncode}):\n{tail}")
    print(f"memory: {n_samples} samples of the process tree, "
          f"{1e3 * sample_s / max(1, n_samples):.1f} ms each; at the peak "
          + ", ".join(f"{k} {v / 2**20:.0f} MB" for k, v in sorted(peak.items())))
    return result, setup_s, sum(peak.values()) / 2**20


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float,
        help="override the workload's scale factor (the benchmark's own tests)",
    )
    args = ap.parse_args()
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        sys.exit(f"engine not found next to perfbench/: missing {', '.join(missing)}")
    wl = WORKLOADS[args.workload]

    import datagen  # untimed input preparation

    sf_dir = datagen.ensure_base(os.path.join(WORK, "data"), args.sf or wl.sf)
    res, setup_s, peak_mb = run_child(args, wl, sf_dir)

    execs = res["executions"]
    passes = res["passes"]
    failures = res["failures"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    warm_ids = {i for i, p in enumerate(passes) if p["kind"] == "warm" and not p["traced"]}
    by_key: dict[str, list[float]] = {}
    for e in execs:
        if e["pass"] in warm_ids:
            by_key.setdefault(e["key"], []).append(e["latency_s"])
    query_p50, tail = query_latency(by_key)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["total_s"],
        "warm_pass_s": statistics.median(p["total_s"] for p in warm),
        "query_p50_s": query_p50,
        "query_tail_s": query_p50 * statistics.fmean(tail),
        "peak_rss_mb": peak_mb,
        "ok_ratio": 1.0 - len(failures) / len(execs),
    }

    print(f"workload {wl.name}  seed {args.seed}  sf_dir {os.path.relpath(sf_dir, ROOT)}  "
          f"local[{res['cpus']}]  driver heap {DRIVER_HEAP}  io cache {'on' if wl.cache else 'off'}")
    print(f"samples: {len(warm)} warm passes, {sum(map(len, by_key.values()))} warm "
          f"queries; query_tail_s = query_p50_s x {statistics.fmean(tail):.4f}, the mean "
          f"latency / key median of the slowest {len(tail)}")
    for i, p in enumerate(passes):
        fold = 0
        for e in execs:
            if e["pass"] == i and isinstance(e.get("fold"), int):
                fold ^= e["fold"] & (2**64 - 1)
        print(f"pass {i} {p['kind']:4s}{' traced' if p['traced'] else ''}: "
              f"{p['total_s']:.3f} s  fold {fold:016x}")
    for k in sorted({e["key"] for e in execs}):
        cold = [e["latency_s"] for e in execs if e["key"] == k and e["pass"] == 0]
        print(f"  {k}: cold {cold[0]:.3f} s, warm median {statistics.median(by_key[k]):.3f} s")
    for name, unit in END_TO_END.items():
        print(f"  {name} = {e2e[name]:.6g} {unit}")
    print(f"fail_ratio = {len(failures)}/{len(execs)}")
    for key, why in failures:
        print(f"  FAILED {key}: {why}")
    if args.trace:
        print(f"spans: {os.path.relpath(res['span_file'], ROOT)}")
        for k, v in res["per_key_build_s"].items():
            print(f"  operators.build_s[{k}] = {v:.4f} s")
        for name, unit in PER_LAYER.items():
            print(f"  {name} = {res['layers'][name]:.6g} {unit}")
        metrics = {n: {"value": res["layers"][n], "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not failures,
        "attempted": len(execs),
        "failed": len(failures),
        "metrics": metrics,
    }))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
