"""The single streaming runner, ``sources.run_stream``: every sink kind
runs to completion, a checkpoint the runner creates is deleted (also
when the foreachBatch callback raises), a caller-passed checkpoint is
kept, and no other module builds its own ``writeStream``."""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import tempfile

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "sparkstreaming_mq_spark"


@pytest.fixture()
def stream(spark, sf_dir):
    from sparkstreaming_mq_spark.streaming.sources import read_events_stream_chunked

    # built before the temp dir is redirected: the replay cache stays shared
    return read_events_stream_chunked(spark, sf_dir, n_chunks=4, order="time").select(
        "event_id", "event_type"
    )


@pytest.fixture()
def tmp_root(tmp_path, monkeypatch):
    """Redirect ``tempfile`` into a private dir, so the leak count sees
    only this test's checkpoints."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _ckpt_dirs(root) -> list[str]:
    return glob.glob(os.path.join(str(root), "sparkgraft_ckpt_*"))


def _n_events(spark, sf_dir) -> int:
    from sparkstreaming_mq_spark.tables import load_table

    return load_table(spark, sf_dir, "events").count()


def test_memory_sink_deletes_its_checkpoint(spark, sf_dir, stream, tmp_root):
    from sparkstreaming_mq_spark.streaming.sources import run_stream

    before = spark.conf.get("spark.sql.shuffle.partitions")
    agg = stream.groupBy("event_type").count()
    q = run_stream(agg, "memory", "complete")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    total = spark.table(q.name).groupBy().sum("count").collect()[0][0]
    assert total == _n_events(spark, sf_dir)
    assert _ckpt_dirs(tmp_root) == []


def test_parquet_sink_deletes_its_checkpoint(spark, sf_dir, stream, tmp_root):
    from sparkstreaming_mq_spark.streaming.sources import run_stream

    out = str(tmp_root / "out")
    run_stream(stream, "parquet", path=out, state_partitions=None)
    assert spark.read.parquet(out).count() == _n_events(spark, sf_dir)
    assert _ckpt_dirs(tmp_root) == []


def test_foreach_batch_sink_deletes_its_checkpoint(spark, sf_dir, stream, tmp_root):
    from sparkstreaming_mq_spark.streaming.sources import run_stream

    seen: list[int] = []
    q = run_stream(stream, lambda df, epoch: seen.append(df.count()), state_partitions=None)
    assert sum(seen) == _n_events(spark, sf_dir)
    assert len(q.recentProgress) == len(seen) == 4
    assert _ckpt_dirs(tmp_root) == []


def test_failing_foreach_batch_deletes_its_checkpoint(spark, stream, tmp_root):
    from sparkstreaming_mq_spark.streaming.sources import run_stream

    def boom(df, epoch):
        raise RuntimeError("callback failed")

    with pytest.raises(Exception, match="callback failed"):
        run_stream(stream, boom, state_partitions=None)
    assert _ckpt_dirs(tmp_root) == []


def test_caller_checkpoint_survives(spark, stream, tmp_root):
    from sparkstreaming_mq_spark.streaming.sources import run_stream

    ckpt = str(tmp_root / "sparkgraft_ckpt_caller")
    run_stream(stream.groupBy("event_type").count(), "memory", "complete", checkpoint=ckpt)
    assert os.path.isdir(os.path.join(ckpt, "offsets"))
    assert os.path.isdir(os.path.join(ckpt, "state"))
    assert _ckpt_dirs(tmp_root) == [ckpt]


class _WriteStreamUses(ast.NodeVisitor):
    """Names of the functions holding a ``.writeStream`` attribute
    access (``<module>`` for top-level code)."""

    def __init__(self) -> None:
        self.scope = ["<module>"]
        self.found: set[str] = set()

    def visit_FunctionDef(self, node) -> None:
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Attribute(self, node) -> None:
        if node.attr == "writeStream":
            self.found.add(self.scope[-1])
        self.generic_visit(node)


def test_write_stream_only_in_the_runner_and_kafka_writer():
    uses = set()
    for path in sorted(PKG.rglob("*.py")):
        visitor = _WriteStreamUses()
        visitor.visit(ast.parse(path.read_text(), filename=str(path)))
        uses |= {(path.relative_to(PKG).as_posix(), fn) for fn in visitor.found}
    assert uses == {
        ("streaming/sources.py", "run_stream"),
        ("streaming/sources.py", "kafka_writer"),
    }
