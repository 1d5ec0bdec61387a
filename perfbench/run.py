#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository. The run generates its
input tables from ``--seed`` (``datagen.py``), then starts one fresh
driver process (``worker.py``): a cold set-up (process start, Spark
session, query registry, replay caches, one warm-up pass), a fixed number
of timed passes derived from ``--seconds`` (``Workload.passes``), and the
check of every query against its DuckDB oracle. The driver process gets
its own ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` in the run's work directory,
which is removed on exit.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
An earlier line ``{"diag": ...}`` carries the machine block, the tail
percentile's rank and sample count, and the check time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Wall-clock limit of the driver process, set-up and oracle check included.
SESSION_TIMEOUT_S = 165.0
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor took from this machine so far, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def machine(steal_at_start: float) -> dict:
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return {
        "nproc": nproc(),
        "uptime_s": uptime,
        "loadavg": list(os.getloadavg()),
        "steal_s": steal_s() - steal_at_start,
    }


def stop_group(proc: subprocess.Popen) -> None:
    """Stop a session and everything it started (its JVM, Python workers),
    and wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(proc.pid):
            break
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
    proc.wait()


def _group_alive(pgid: int) -> bool:
    """True while a live (non-zombie) process remains in group ``pgid``."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_session(args, run_dir: str, data_dir: str, passes: int) -> dict:
    """Run the workload in a fresh driver process; its result dict."""
    tmp_dir = os.path.join(run_dir, "tmp")
    local_dir = os.path.join(run_dir, "local")
    os.makedirs(tmp_dir)
    os.makedirs(local_dir)
    env = dict(os.environ)
    env.update(
        {
            "TMPDIR": tmp_dir,
            "SPARK_LOCAL_DIRS": local_dir,
            "SPARK_GRAFT_CPUS": str(nproc()),
            "PYTHONPATH": ROOT,
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    result_path = os.path.join(run_dir, "result.json")
    spans_path = ""
    if args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        spans_path = os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json")
    log_path = os.path.join(run_dir, "session.log")
    with open(log_path, "w") as log:
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed), "--data", data_dir,
            "--passes", str(passes), "--trace", str(args.trace), "--result", result_path,
            "--spans", spans_path, "--t0", repr(time.time()),
        ]
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=SESSION_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"driver process {why}")
    with open(result_path) as f:
        return json.load(f)


def end_to_end(session: dict) -> tuple[dict, dict]:
    passes = session["passes"]
    named = [(name, dt) for p in passes for name, dt in p["samples"]]
    samples = [dt for _, dt in named]
    tail_value, tail_pct, n = stats.tail(samples)
    by_query: dict[str, list[float]] = {}
    for name, dt in named:
        by_query.setdefault(name, []).append(dt)
    best = {q: min(v) for q, v in sorted(by_query.items())}
    values = {
        "setup_s": session["setup_s"],
        # Contention from other tenants of the host only ever adds time, so
        # the fastest pass and each query's fastest execution are the
        # steadiest estimates of what the program itself takes (README).
        "pass_s": min(p["wall"] for p in passes),
        "query_p50_s": statistics.median(best.values()),
    }
    diag = {
        # Not a gated metric: with this few executions the highest rank
        # with ten beyond it lies below the median (README).
        "query_tail_s": tail_value,
        "query_tail_percentile": tail_pct,
        "query_samples": n,
        "query_tail_of": stats.owner(named, tail_value),
        "query_best": best,
        "query_medians": {q: statistics.median(v) for q, v in sorted(by_query.items())},
        "pass_walls": [p["wall"] for p in passes],
        "pass_steal_shares": [p["steal_share"] for p in passes],
        "rss": session["rss"],
        "setup_parts": {
            "session_start_s": session["session.start_s"],
            "registry_load_s": session["registry.load_s"],
            "warmup_walls": session["warmup_walls"],
        },
    }
    return values, diag


def per_layer(session: dict) -> tuple[dict, dict]:
    traced = [p for p in session["passes"] if p["traced"]]
    untraced = [p for p in session["passes"] if not p["traced"]]
    values = {
        name: statistics.median(p["layers"][name] for p in traced)
        for name in traced[0]["layers"]
    }
    values["process.peak_rss_mb"] = session["rss_mb"]
    values["session.start_s"] = session["session.start_s"]
    values["registry.load_s"] = session["registry.load_s"]
    trigger_ms = [x for p in traced for x in p["trigger_ms"]]
    if trigger_ms:
        values["sources.batch_p50_ms"] = statistics.median(trigger_ms)
        values["sources.batch_tail_ms"], pct, n = stats.tail(trigger_ms)
    else:
        values["sources.batch_p50_ms"] = values["sources.batch_tail_ms"] = 0.0
        pct, n = 0.0, 0
    replay = session["replay"]
    calls = replay["hits"] + replay["builds"]
    values["sources.replay_cache.hit_ratio"] = replay["hits"] / calls if calls else 0.0
    values["sources.replay_cache.build_s"] = replay["build_s"]
    values["trace.overhead_ratio"] = statistics.median(p["wall"] for p in traced) / statistics.median(
        p["wall"] for p in untraced
    )
    diag = {
        "batch_tail_percentile": pct,
        "batches": n,
        "traced_passes": len(traced),
        "untraced_passes": len(untraced),
        "orphan_progress_events": session["orphan_progress"],
    }
    return values, diag


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # SIGTERM unwinds like an exception, so the driver process group is
    # stopped and the work directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "sparkstreaming_mq_spark", "registry.py")):
        print(f"engine package sparkstreaming_mq_spark not found under {ROOT}", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    steal_at_start = steal_s()
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    try:
        os.makedirs(run_dir)
        data_dir = datagen.write_fixture(os.path.join(run_dir, "data"), args.seed, workload.sf)
        session = run_session(args, run_dir, data_dir, workload.passes(args.seconds))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(WORK_DIR) and not os.listdir(WORK_DIR):
            os.rmdir(WORK_DIR)

    attempted, failed, ratio = stats.fail_ratio(session["outcomes"])
    values, diag = per_layer(session) if args.trace else end_to_end(session)
    diag.update(
        {
            "machine": machine(steal_at_start),
            "workload": args.workload,
            "seed": args.seed,
            "fail_ratio": ratio,
            "check_s": session["check_s"],
            "failures": session["failures"][:10],
        }
    )
    print(json.dumps({"diag": diag}))
    metrics = {
        name: {"value": value, "unit": unit(name)}
        for name, value in sorted(values.items())
    }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def unit(name: str) -> str:
    """A metric's unit, from its name's last component."""
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms") or last == "ms":
        return "ms"
    if last.endswith("_mb"):
        return "MB"
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
