"""State-partition sizing of the streaming harness: the rule, its call
sites, the count a real stream runs at, and a checkpoint restart across
a change in the count the rule would pick."""

from __future__ import annotations

import ast
import os

import pyarrow.parquet as pq
import pytest

from data_eng_iceberg_demo_spark.streaming import harness

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "data_eng_iceberg_demo_spark")


def test_state_partitions_rule():
    """sf0.01 (10k events plus the 100-row replay) runs one state
    store; sf0.1 scales up to the task slots, and the slots cap it."""
    per = harness._STATE_ROWS_PER_PARTITION
    assert harness._state_partitions(10_100, 2) == 1
    assert harness._state_partitions(10_100, 32) == 1
    assert harness._state_partitions(100_100, 4) == 4
    assert harness._state_partitions(100_100, 2) == 2
    assert harness._state_partitions(0, 8) == 1
    assert harness._state_partitions(per, 8) == 1
    assert harness._state_partitions(per + 1, 8) == 2
    assert harness._state_partitions(10 ** 12, 32) == 32


def test_footer_rows_reads_the_staged_input(sf_dir):
    src = harness._events_src(sf_dir)
    want = pq.read_metadata(os.path.join(sf_dir, "events.parquet")).num_rows
    assert harness._footer_rows(src) == want > 0


def test_no_state_session_call_passes_a_literal():
    """Every stream sizes its session from its input: no call site of
    ``_state_session`` passes a constant."""
    calls = 0
    for root, _dirs, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            tree = ast.parse(open(os.path.join(root, f)).read())
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and getattr(node.func, "id", None) == "_state_session"):
                    calls += 1
                    assert not any(isinstance(a, ast.Constant)
                                   for a in node.args[1:]), (f, node.lineno)
    assert calls >= 11  # every stream in streaming/harness.py


@pytest.fixture
def started_queries(monkeypatch):
    """Every StreamingQuery started while the test runs."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    orig = DataStreamWriter.start

    def start(self, *a, **kw):
        q = orig(self, *a, **kw)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return started


def _state_parts(q) -> list[int]:
    return [op["numShufflePartitions"]
            for op in q.lastProgress["stateOperators"]]


def test_dedup_keyed_runs_at_the_sized_count(spark, sf_dir, started_queries):
    from data_eng_iceberg_demo_spark.plans.registry import REGISTRY

    assert REGISTRY["stream_dedup_keyed"].fn(spark, sf_dir).count() > 0
    (q,) = started_queries
    src = harness._staged_cache[("dedup_keyed_", sf_dir)]
    want = harness._state_partitions(
        harness._footer_rows(src), spark.sparkContext.defaultParallelism)
    assert _state_parts(q) == [want]


def test_restart_keeps_the_checkpointed_count(spark, sf_dir, tmp_path,
                                              started_queries):
    """A checkpointed dedup stream started at one state-partition count
    finishes correctly after its input grows past the point where the
    rule picks another count: Spark restores the count from the offset
    log, and the state written under it still deduplicates."""
    src, sink, ckpt = (str(tmp_path / n) for n in ("src", "sink", "ckpt"))
    os.makedirs(src)
    fixture = os.path.join(sf_dir, "events.parquet")
    os.symlink(fixture, os.path.join(src, "e00.parquet"))
    slots = spark.sparkContext.defaultParallelism

    def run():
        iso = harness._state_session(spark, src)
        q = (harness._events_stream(iso, sf_dir, path=src)
             .dropDuplicates(["event_id"]).select("event_id")
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return iso, _state_parts(q)

    first = harness._state_partitions(harness._footer_rows(src), slots)
    _iso, parts = run()
    assert parts == [first]

    copies = 1
    while harness._state_partitions(
            harness._footer_rows(src), slots) == first:
        os.symlink(fixture, os.path.join(src, f"e{copies:02d}.parquet"))
        copies += 1
        assert copies < 64, "the rule never changed its count"
    iso, parts = run()
    assert parts == [first]

    got = iso.read.parquet(sink).toPandas()["event_id"]
    want = pq.read_table(fixture, columns=["event_id"]).to_pandas()["event_id"]
    assert len(got) == want.nunique(dropna=False)
    assert set(got.dropna()) == set(want.dropna())
