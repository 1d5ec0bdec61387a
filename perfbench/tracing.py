"""Layer tracing from outside the engine.

Every span is recorded by the benchmark around a call into one layer's
public functions; no engine module is edited. ``Patches`` rebinds the
traced functions in every engine module that imported them (the engine
binds ``load_table`` with ``from ... import``), and in pyspark's stream
writer, then restores the originals. Spans are kept in memory and written
out once, at the end of the run.

Spark-side numbers come from three public surfaces, read after each
traced pass: the REST status API (jobs, stages, SQL executions), the
``StreamingQueryListener`` (per-micro-batch progress, attributed by
``runId`` because the listener bus is asynchronous), and
``QueryExecution.tracker()`` for planning phases.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import tempfile
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass

ENGINE_PKG = "sparkstreaming_mq_spark"
REPLAY_DIR = "sparkgraft_replay"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    exec_id: str | None
    # spark.plan spans: optimization + planning ms read from the tracker
    plan_ms: float | None = None


class Tracer:
    """In-memory span recorder for one process (single-threaded callers)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.exec_id: str | None = None
        self.replay_hits = 0
        self.replay_builds = 0
        self.replay_build_s = 0.0

    def _add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        sp = Span(len(self.spans), name, start, end, parent, self.exec_id)
        self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = self._add(name, time.perf_counter(), float("nan"), parent)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def record(self, name: str, start: float, end: float) -> Span:
        """A span whose interval was measured elsewhere, under the open span."""
        return self._add(name, start, end, self._stack[-1] if self._stack else None)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [sp.__dict__ for sp in self.spans]}, f)


class StreamAttribution:
    """Maps stream ``runId``s to the query execution that started them.

    ``started`` is called synchronously when a query starts, so the current
    execution is known; progress events arrive later on the listener bus,
    possibly while the next query already runs, and are attributed by
    their ``runId`` alone.
    """

    def __init__(self) -> None:
        self.owner: dict[str, str | None] = {}
        self.progress: dict[str, list[dict]] = {}
        self.orphans: list[dict] = []

    def started(self, run_id: str, exec_id: str | None) -> None:
        self.owner.setdefault(run_id, exec_id)

    def on_progress(self, run_id: str, progress: dict) -> None:
        if run_id in self.owner:
            self.progress.setdefault(run_id, []).append(progress)
        else:
            self.orphans.append({"run_id": run_id, **progress})

    def for_execs(self, exec_ids: set[str]) -> dict[str, list[dict]]:
        """Progress events of every stream run owned by one of ``exec_ids``."""
        return {
            rid: self.progress.get(rid, [])
            for rid, owner in self.owner.items()
            if owner in exec_ids
        }


def progress_record(p) -> dict:
    """Plain-dict copy of a ``StreamingQueryProgress``."""
    return {
        "batch_id": p.batchId,
        "duration_ms": dict(p.durationMs or {}),
        "input_rows": p.numInputRows,
        "state": [
            {
                "commit_ms": s.commitTimeMs,
                "updates_ms": s.allUpdatesTimeMs,
                "rows": s.numRowsTotal,
                "bytes": s.memoryUsedBytes,
            }
            for s in (p.stateOperators or [])
        ],
    }


def make_listener(attribution: StreamAttribution, tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            attribution.started(str(event.runId), tracer.exec_id)

        def onQueryProgress(self, event):
            attribution.on_progress(str(event.progress.runId), progress_record(event.progress))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _ready_markers() -> int:
    return len(glob.glob(os.path.join(tempfile.gettempdir(), REPLAY_DIR, "*", "_READY")))


class Patches:
    """Installs and removes the tracing wrappers."""

    TABLE_FNS = ("load_table", "table_rowcount")
    REPLAY_FNS = ("chunked_events_dir", "read_docs_stream_chunked")

    def __init__(self, tracer: Tracer, attribution: StreamAttribution) -> None:
        self.tracer = tracer
        self.attribution = attribution
        self._undo: list[tuple[object, str, object]] = []
        self._open_streams: dict[int, float] = {}

    def _rebind(self, home, attr: str, wrapper) -> None:
        """Replace ``home.attr`` everywhere the engine bound it."""
        original = getattr(home, attr)
        for name, mod in list(sys.modules.items()):
            if mod is not None and (name == ENGINE_PKG or name.startswith(ENGINE_PKG + ".")):
                if getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, original))

    def _spanned(self, name: str, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _replay(self, fn):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = _ready_markers()
            t0 = time.perf_counter()
            with tracer.span("sources.replay"):
                out = fn(*args, **kwargs)
            if _ready_markers() > before:
                tracer.replay_builds += 1
                tracer.replay_build_s += time.perf_counter() - t0
            else:
                tracer.replay_hits += 1
            return out

        return wrapper

    def install(self) -> None:
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from sparkstreaming_mq_spark import tables
        from sparkstreaming_mq_spark.streaming import sources

        for attr in self.TABLE_FNS:
            self._rebind(tables, attr, self._spanned(f"tables.{attr}", getattr(tables, attr)))
        for attr in self.REPLAY_FNS:
            self._rebind(sources, attr, self._replay(getattr(sources, attr)))

        tracer, attribution, open_streams = self.tracer, self.attribution, self._open_streams
        orig_start = DataStreamWriter.start
        orig_await = StreamingQuery.awaitTermination

        @functools.wraps(orig_start)
        def start(writer, *args, **kwargs):
            t0 = time.perf_counter()
            q = orig_start(writer, *args, **kwargs)
            attribution.started(str(q.runId), tracer.exec_id)
            open_streams[id(q)] = t0
            return q

        @functools.wraps(orig_await)
        def await_termination(q, *args, **kwargs):
            try:
                return orig_await(q, *args, **kwargs)
            finally:
                t0 = open_streams.pop(id(q), None)
                if t0 is not None:
                    tracer.record("sources.run", t0, time.perf_counter())

        for cls, attr, fn in (
            (DataStreamWriter, "start", start),
            (StreamingQuery, "awaitTermination", await_termination),
        ):
            self._undo.append((cls, attr, getattr(cls, attr)))
            setattr(cls, attr, fn)

    def remove(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)
        self._open_streams.clear()


def plan_ms(df) -> float:
    """Optimization + planning time of ``df``'s own QueryExecution, after
    forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def drain_listener_bus(spark) -> None:
    """Block until every posted Spark and streaming event was delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class RestClient:
    """Reads the Spark status REST API of the local driver."""

    def __init__(self, spark) -> None:
        port = re.search(r":(\d+)$", spark.sparkContext.uiWebUrl).group(1)
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"
        self.seen_jobs: set[int] = set()
        self.seen_sql = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def new_work(self) -> tuple[list[dict], list[dict], list[dict]]:
        """(jobs, stages, sql executions) that appeared since the last call."""
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in self.seen_jobs]
        self.seen_jobs.update(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [s for s in self._get("/stages?details=false") if s["stageId"] in stage_ids]
        sql = self._get(f"/sql?details=true&offset={self.seen_sql}&length=1000000")
        self.seen_sql += len(sql)
        return jobs, stages, sql


_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def metric_total(value: str) -> float:
    """Total of one SQL UI metric string, in seconds, bytes or a count.

    Multi-task metrics read ``"total (min, med, max ...)\\n12.3 s (...)"``;
    single values read ``"12.3 s"``, ``"4.0 KiB"`` or ``"1,234"``.
    """
    line = value.strip().splitlines()[-1]
    head = line.split(" (")[0].strip()
    parts = head.split()
    number = float(parts[0].replace(",", ""))
    return number * _UNIT[parts[1]] if len(parts) > 1 else number


PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
    "number of output rows": "python.rows_out",
}


def python_metrics(sql_executions: list[dict]) -> dict[str, float]:
    """Sum of the Python-boundary metrics over every Python plan node."""
    out = {name: 0.0 for name in PY_METRICS.values()}
    for ex in sql_executions:
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "data sent to Python workers" not in metrics:
                continue
            for label, name in PY_METRICS.items():
                if label in metrics:
                    out[name] += metric_total(metrics[label])
    for name in ("python.sent_mb", "python.received_mb"):
        out[name] /= 2.0**20
    return out


def stage_metrics(jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    """Executor-side totals over the stages of ``jobs``."""
    mb = 2.0**20
    out = {
        "spark.exec.stages": 0.0,
        "spark.exec.stages_skipped": 0.0,
        "spark.exec.tasks": 0.0,
        "spark.exec.tasks_failed": 0.0,
        "spark.exec.task_run_s": 0.0,
        "spark.exec.task_cpu_s": 0.0,
        "spark.exec.gc_s": 0.0,
        "spark.exec.input_mb": 0.0,
        "spark.exec.shuffle_write_mb": 0.0,
        "spark.exec.shuffle_read_mb": 0.0,
        "spark.exec.spill_mb": 0.0,
    }
    for s in stages:
        if s.get("status") == "SKIPPED":
            out["spark.exec.stages_skipped"] += 1
            continue
        out["spark.exec.stages"] += 1
        out["spark.exec.tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
        out["spark.exec.tasks_failed"] += s.get("numFailedTasks", 0)
        out["spark.exec.task_run_s"] += s.get("executorRunTime", 0) / 1e3
        out["spark.exec.task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        out["spark.exec.gc_s"] += s.get("jvmGcTime", 0) / 1e3
        out["spark.exec.input_mb"] += s.get("inputBytes", 0) / mb
        out["spark.exec.shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / mb
        out["spark.exec.shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / mb
        out["spark.exec.spill_mb"] += (
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        ) / mb
    run = out["spark.exec.task_run_s"]
    out["spark.exec.cpu_ratio"] = out["spark.exec.task_cpu_s"] / run if run else 0.0
    return out


def stream_metrics(runs: dict[str, list[dict]]) -> tuple[dict[str, float], list[float]]:
    """Totals over the micro-batches of ``runs`` (runId -> progress list),
    plus every batch's ``triggerExecution`` in ms."""
    phases = {
        "addBatch": "sources.add_batch_s",
        "queryPlanning": "sources.query_planning_s",
        "latestOffset": "sources.latest_offset_s",
        "walCommit": "sources.wal_commit_s",
        "commitOffsets": "sources.commit_offsets_s",
    }
    out = {name: 0.0 for name in phases.values()}
    out.update(
        {
            "sources.batches": 0.0,
            "sources.input_rows": 0.0,
            "sources.state_commit_s": 0.0,
            "sources.state_updates_s": 0.0,
            "sources.state_rows": 0.0,
            "sources.state_mb": 0.0,
        }
    )
    trigger_ms: list[float] = []
    for events in runs.values():
        for p in events:
            d = p["duration_ms"]
            out["sources.batches"] += 1
            out["sources.input_rows"] += p["input_rows"] or 0
            trigger_ms.append(float(d.get("triggerExecution", 0)))
            for phase, name in phases.items():
                out[name] += d.get(phase, 0) / 1e3
            for s in p["state"]:
                out["sources.state_commit_s"] += (s["commit_ms"] or 0) / 1e3
                out["sources.state_updates_s"] += (s["updates_ms"] or 0) / 1e3
        # state size is a level, not a flow: take each run's final batch
        if events:
            for s in events[-1]["state"]:
                out["sources.state_rows"] += s["rows"] or 0
                out["sources.state_mb"] += (s["bytes"] or 0) / 2.0**20
    return out, trigger_ms


def scratch_dirs(root: str) -> dict[str, int]:
    """Checkpoint and stream-output dirs the engine left under ``root``:
    path -> bytes."""
    out = {}
    for d in glob.glob(os.path.join(root, "sparkgraft_ckpt_*")) + glob.glob(
        os.path.join(root, "sparkgraft_out_*")
    ):
        size = 0
        for dirpath, _dirs, files in os.walk(d):
            for f in files:
                try:
                    size += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        out[d] = size
    return out
