"""One driver session of a benchmark run.

Started by ``run.py`` as a fresh process, so its set-up is cold: builds
the Spark session, loads the registry, runs the warm-up pass (it builds the
replay caches), then ``--passes`` timed passes, then the oracle check
on the last pass's results. Writes its samples as JSON to ``--result``.

In trace mode the timed passes alternate untraced and traced in an
A-B-B-A order, so the tracing overhead is measured inside the same
session and the passes' warm-up drift cancels out of it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Untimed passes that end the set-up: one runs every query cold (JIT,
# Python workers, replay caches).
WARMUP_PASSES = 1
# A query running longer than this is cancelled and counted as failed.
QUERY_TIMEOUT_S = 60.0


def session_conf(tmp_dir: str) -> dict[str, str]:
    return {
        # bench.py's driver heap, so spills and GC happen as they do there
        "spark.driver.memory": "8g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # Keep every job, stage and SQL execution of the run in the status
        # store, so a traced pass can be read back from the REST API.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def heap_peak_mb(pools) -> float:
    """Sum of the heap pools' peak use since their last reset."""
    return sum(p.getPeakUsage().getUsed() for p in pools) / 2.0**20


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # guest and guest_nice (fields 9-10) are already counted in user and nice
    return ticks[7], sum(ticks[:8])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.tracer = tracing.Tracer()
        self.attribution = tracing.StreamAttribution()
        self.patches = tracing.Patches(self.tracer, self.attribution)
        self.listener = None
        self.rest: tracing.RestClient | None = None
        self.outcomes: list[str] = []
        self.failures: list[str] = []
        self.traced = False
        # each query's DataFrame from its latest successful execution
        self.results: dict = {}

    # -- one query execution ------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    def _cancel(self, fired: list[bool]) -> None:
        fired.append(True)
        self.spark.sparkContext.cancelAllJobs()
        for q in self.spark.streams.active:
            q.stop()

    def execute(self, name: str, exec_id: str) -> float | None:
        """Build + materialize one query; seconds, or None if it failed."""
        sc = self.spark.sparkContext
        self.tracer.exec_id = exec_id
        fired: list[bool] = []
        timer = threading.Timer(QUERY_TIMEOUT_S, self._cancel, (fired,))
        timer.start()
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{name}:build", exec_id)
            with self.span("operators.build"):
                df = self.fns[name](self.spark, self.data_dir)
            if self.traced:
                with self.span("spark.plan") as sp:
                    sp.plan_ms = tracing.plan_ms(df)
            sc.setJobGroup(f"{name}:exec", exec_id)
            with self.span("spark.exec"):
                df.write.format("noop").mode("overwrite").save()
            outcome = "ok"
            self.results[name] = df
        except Exception:  # a failing query is counted, never fatal
            outcome = "timeout" if fired else "raise"
            self.failures.append(f"{exec_id} {outcome}: {traceback.format_exc(limit=3)}")
        finally:
            timer.cancel()
        dt = time.perf_counter() - t0
        self.outcomes.append(outcome)
        self.tracer.exec_id = None
        return dt if outcome == "ok" else None

    # -- passes -------------------------------------------------------------

    def order(self, pass_no: int) -> list[str]:
        names = list(self.workload.queries)
        random.Random(f"{self.args.seed}:{pass_no}").shuffle(names)
        return names

    def set_traced(self, on: bool) -> None:
        if on == self.traced:
            return
        if on:
            self.patches.install()
            self.listener = tracing.make_listener(self.attribution, self.tracer)
            self.spark.streams.addListener(self.listener)
        else:
            tracing.drain_listener_bus(self.spark)
            self.spark.streams.removeListener(self.listener)
            self.patches.remove()
        self.traced = on

    def run_pass(self, pass_no: int) -> dict:
        ckpt_before = tracing.scratch_dirs(self.tmp_dir) if self.traced else {}
        if self.traced:
            for pool in self.pools:
                pool.resetPeakUsage()
        first_span = len(self.tracer.spans)
        samples: list[tuple[str, float]] = []
        exec_ids: list[str] = []
        steal0, total0 = host_ticks()
        t0 = time.perf_counter()
        for name in self.order(pass_no):
            exec_id = f"{pass_no}:{name}"
            exec_ids.append(exec_id)
            dt = self.execute(name, exec_id)
            if dt is not None:
                samples.append((name, dt))
        wall = time.perf_counter() - t0
        steal1, total1 = host_ticks()
        record = {
            "wall": wall,
            "samples": samples,
            "traced": self.traced,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        }
        if self.traced:
            tracing.drain_listener_bus(self.spark)
            record["layers"], record["trigger_ms"] = self.layer_metrics(
                set(exec_ids), self.tracer.spans[first_span:], wall, ckpt_before
            )
        elif self.rest is not None:
            # consume this untraced pass's jobs so the next traced pass
            # reads only its own
            tracing.drain_listener_bus(self.spark)
            self.rest.new_work()
        return record

    def layer_metrics(self, exec_ids, spans, wall, ckpt_before) -> tuple[dict, list[float]]:
        jobs, stages, sql = self.rest.new_work()
        m: dict[str, float] = {}
        by_parent: dict[int, list[tracing.Span]] = {}
        for sp in spans:
            by_parent.setdefault(sp.parent, []).append(sp)

        def total(name: str) -> float:
            return sum(sp.end - sp.start for sp in spans if sp.name == name)

        def count(name: str) -> float:
            return float(sum(1 for sp in spans if sp.name == name))

        for fn in ("load_table", "table_rowcount"):
            m[f"tables.{fn}.calls"] = count(f"tables.{fn}")
            m[f"tables.{fn}.s"] = total(f"tables.{fn}")
        m["operators.build.s"] = total("operators.build")
        m["operators.build.self_s"] = sum(
            stats.self_time(sp.start, sp.end, [(c.start, c.end) for c in by_parent.get(sp.id, [])])
            for sp in spans
            if sp.name == "operators.build"
        )
        m["operators.build.jobs"] = float(sum(1 for j in jobs if j.get("jobGroup", "").endswith(":build")))
        m["spark.plan.ms"] = sum(sp.plan_ms for sp in spans if sp.name == "spark.plan")
        m["spark.exec.s"] = total("spark.exec")
        m["spark.exec.jobs"] = float(sum(1 for j in jobs if j.get("jobGroup", "").endswith(":exec")))
        m.update(tracing.stage_metrics(jobs, stages))
        m.update(tracing.python_metrics(sql))
        stream, trigger_ms = tracing.stream_metrics(self.attribution.for_execs(exec_ids))
        m.update(stream)
        m["sources.run_s"] = total("sources.run")
        m["sources.start_stop_s"] = m["sources.run_s"] - sum(trigger_ms) / 1e3
        new_dirs = {d: b for d, b in tracing.scratch_dirs(self.tmp_dir).items() if d not in ckpt_before}
        m["sources.ckpt_dirs"] = float(len(new_dirs))
        m["sources.ckpt_mb"] = sum(new_dirs.values()) / 2.0**20
        m["jvm.heap_peak_mb"] = heap_peak_mb(self.pools)
        m["trace.coverage_ratio"] = sum(sp.end - sp.start for sp in spans if sp.parent is None) / wall
        return m, trigger_ms

    # -- oracle check -------------------------------------------------------

    def check(self) -> float:
        """Compare each query's result from the last timed pass with its
        oracle. Stream queries return a batch DataFrame over their own
        sink, so this reads what the timed execution wrote; a query with
        no successful execution is run again."""
        from sparkstreaming_mq_spark import registry
        from sparkstreaming_mq_spark.oracle import compare, duckdb_connect

        t0 = time.perf_counter()
        oracles = registry.all_oracles()
        con = duckdb_connect(self.data_dir)
        for name in self.workload.queries:
            self.spark.sparkContext.setJobGroup(f"{name}:check", name)
            try:
                if name in self.results:
                    df = self.results[name]
                else:
                    df = self.fns[name](self.spark, self.data_dir)
                got = df.toPandas()
                want = con.execute(oracles[name]).fetchdf()
                err = compare(got, want)
            except Exception:
                err = traceback.format_exc(limit=3)
            self.outcomes.append("ok" if err is None else "mismatch")
            if err is not None:
                self.failures.append(f"check {name}: {err}")
        con.close()
        return time.perf_counter() - t0

    # -- the session --------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        self.data_dir = args.data
        self.tmp_dir = os.environ["TMPDIR"]
        trace = bool(args.trace)
        from sparkstreaming_mq_spark import registry
        from sparkstreaming_mq_spark.session import get_spark

        with self.tracer.span("session.start") as s_start:
            self.spark = get_spark(
                app_name=f"perfbench-{args.workload}", extra_conf=session_conf(self.tmp_dir)
            )
        with self.tracer.span("registry.load") as s_reg:
            queries = registry.all_queries()
        self.fns = {n: queries[n] for n in self.workload.queries}
        self.pools = heap_pools(self.spark)
        if trace:
            self.rest = tracing.RestClient(self.spark)
            self.set_traced(True)
        warmup_walls = [self.run_pass(pass_no)["wall"] for pass_no in range(-WARMUP_PASSES + 1, 1)]
        setup_s = time.time() - args.t0
        for pool in self.pools:
            pool.resetPeakUsage()
        if trace:
            self.set_traced(False)

        passes = []
        # a traced run completes whole A-B-B-A groups, so the overhead
        # ratio compares as many untraced as traced passes
        n_passes = -(-args.passes // 4) * 4 if trace else args.passes
        for pass_no in range(1, n_passes + 1):
            if trace:
                k = pass_no - 1
                self.set_traced(k % 2 != (k // 2) % 2)
            passes.append(self.run_pass(pass_no))
        if trace:
            self.set_traced(False)

        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb(os.getpid())}
        mem = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        rss["heap_committed"] = mem.getHeapMemoryUsage().getCommitted() / 2**20
        rss["nonheap_committed"] = mem.getNonHeapMemoryUsage().getCommitted() / 2**20
        # since set-up; in trace mode, since the last traced pass began
        rss["heap_peak"] = heap_peak_mb(self.pools)
        for pool in self.pools:
            rss[f"peak:{pool.getName()}"] = pool.getPeakUsage().getUsed() / 2.0**20
        rss_mb = rss["jvm"] + rss["python"]
        check_s = self.check()

        t = self.tracer
        result = {
            "setup_s": setup_s,
            "passes": passes,
            "rss_mb": rss_mb,
            "rss": rss,
            "check_s": check_s,
            "outcomes": self.outcomes,
            "failures": self.failures,
            "warmup_walls": warmup_walls,
            "session.start_s": s_start.end - s_start.start,
            "registry.load_s": s_reg.end - s_reg.start,
            "replay": {"hits": t.replay_hits, "builds": t.replay_builds, "build_s": t.replay_build_s},
            "orphan_progress": len(self.attribution.orphans),
        }
        if trace and args.spans:
            t.dump(args.spans, {"workload": args.workload, "seed": args.seed})
        self.spark.stop()
        return result


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--passes", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--spans", default="")
    args = p.parse_args()
    result = Session(args).run()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
