"""Custom Python data source (Spark 4 DataSource API): a deterministic
synthetic event generator, registered as format("synthetic_events").

This is the engine's template for wrapping any Python-reachable system
(REST API, message queue, bespoke file format) as a first-class Spark
relation: partitions() declares the parallelism (each partition becomes
one Spark task, so generation scales out like any scan), read() yields
pyarrow RecordBatches (the Spark 4 DataSource API accepts them in place
of per-row tuples, skipping the Python row→pickle→JVM row path
entirely), and the declared schema makes downstream pruning and codegen
work as if the data came from parquet.

Determinism: row content is a pure function of (partition, row index) —
a splittable counter-based scheme (like Philox RNGs) rather than stateful
random generation, so any task can regenerate its partition
independently; retries and speculative execution stay correct at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.datasource import (DataSource, DataSourceArrowWriter,
                                    DataSourceReader, DataSourceWriter,
                                    InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


def _row(i: int):
    # counter-based: mix the index through a 64-bit LCG step (splittable,
    # stateless — same value for the same i on any executor)
    h = (i * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
    return (
        i,
        h % 150,
        EVENT_TYPES[(h >> 8) % len(EVENT_TYPES)],
        round(((h >> 16) % 100000) / 100.0, 2),
    )


def _batch(start: int, end: int):
    """Vectorized form of _row over [start, end): one Arrow RecordBatch.

    numpy uint64 arithmetic wraps mod 2**64, which is exactly the LCG's
    masking step, so the whole partition is four array expressions.  The
    value column needs no explicit rounding: v/100.0 is already the
    closest double to a 2-decimal value, so round(x, 2) is the identity
    on it (pinned by test_pysource_batch_matches_row)."""
    import numpy as np
    import pyarrow as pa

    i = np.arange(start, end, dtype=np.uint64)
    h = i * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
    etype = np.asarray(EVENT_TYPES, dtype=object)[
        ((h >> np.uint64(8)) % np.uint64(len(EVENT_TYPES))).astype(np.int64)]
    return pa.record_batch(
        [pa.array(i.astype(np.int64)),
         pa.array((h % np.uint64(150)).astype(np.int64)),
         pa.array(etype, type=pa.string()),
         pa.array(((h >> np.uint64(16)) % np.uint64(100000))
                  .astype(np.float64) / 100.0)],
        names=["event_id", "user_id", "event_type", "value"])


class _Partition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("rows", "1000"))
        self.parts = int(options.get("partitions", "4"))

    def partitions(self):
        step = max(1, self.n // self.parts)
        bounds = list(range(0, self.n, step)) + [self.n]
        return [_Partition(a, b) for a, b in zip(bounds, bounds[1:])]

    # Arrow batch size: bounds peak memory per task regardless of how
    # many rows a partition declares (100 TB-scale partitions stream
    # through in constant memory).
    BATCH_ROWS = 1 << 16

    def read(self, partition):
        for a in range(partition.start, partition.end, self.BATCH_ROWS):
            yield _batch(a, min(a + self.BATCH_ROWS, partition.end))


class SyntheticEventsSource(DataSource):
    @classmethod
    def name(cls):
        return "synthetic_events"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return SyntheticEventsReader(self.options)

    def simpleStreamReader(self, schema):
        return SyntheticEventsStreamReader(self.options)


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the same counter-based generator (Spark 4
    Python DataSource streaming API): the offset is simply the next row
    index, each micro-batch covers [start, start+batch_rows), and the
    source reports end-of-data by returning its start offset unchanged.
    Offsets are checkpointable dicts, and because row content is a pure
    function of the index, replaying a batch after failure regenerates
    identical rows — exactly-once semantics without any source-side
    state.  SimpleDataSourceStreamReader reads on the driver (fine for a
    demo-rate source); the partition-planned DataSourceStreamReader is
    the scale path, same row function."""

    def __init__(self, options):
        self.n = int(options.get("rows", "300"))
        self.batch_rows = int(options.get("batch_rows", "100"))

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        i = int(start["i"])
        if i >= self.n:
            return iter([]), start
        end = min(i + self.batch_rows, self.n)
        return iter([_row(j) for j in range(i, end)]), {"i": end}

    def readBetweenOffsets(self, start, end):
        return iter([_row(j) for j in range(int(start["i"]), int(end["i"]))])


# Per-name cache of THE session a Python data source is registered on.
# Spark 4.1 behavior (observed): the name check is process-shared, so a
# second session's register raises ALREADY_EXISTS *without* populating
# that session's own manager — whose lookups then fall through to the
# Java classpath and fail.  Only the first-registering session resolves
# the source reliably, so every use routes through it (results are
# session-independent; defaults are re-ensured per call).
_REGISTERED: dict = {}


def _registered_session(spark, cls):
    from ..session import ensure_session_defaults

    name = cls.name()
    sess = _REGISTERED.get(name)
    if sess is None:
        spark.dataSource.register(cls)
        _REGISTERED[name] = sess = spark
    ensure_session_defaults(sess)
    return sess


import contextlib  # noqa: E402


@contextlib.contextmanager
def _pinned_session(spark, cls):
    """Resolve-and-pin context: yields the first-registering session
    for ``cls`` with the JVM ACTIVE session temporarily pointed at it
    (source resolution consults the active session), then RESTORES the
    caller's active session on exit.  The permanent flip this replaces
    was the same cross-session state-leak class the conf-isolation
    pattern eliminates elsewhere (r6 ADVICE): it silently rerouted any
    later bare-session work through the cached session."""
    sess = _registered_session(spark, cls)
    jcls = sess._jvm.org.apache.spark.sql.classic.SparkSession
    prev = jcls.getActiveSession()  # scala Option[SparkSession]
    jcls.setActiveSession(sess._jsparkSession)
    try:
        yield sess
    finally:
        if prev.isDefined():
            jcls.setActiveSession(prev.get())
        else:
            jcls.clearActiveSession()


def register_source(spark) -> None:
    """Backward-compatible wrapper: register (or adopt) the synthetic
    events source for this process."""
    _registered_session(spark, SyntheticEventsSource)


from ..plans.registry import register  # noqa: E402
from ..scratch import scratch_dir  # noqa: E402


@register(
    "scan_python_datasource",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 999)) AS i),
    h AS (
        SELECT i,
               CAST((CAST(i AS HUGEINT) * 6364136223846793005
                     + 1442695040888963407) % 18446744073709551616 AS HUGEINT)
                   AS hv
        FROM g
    )
    SELECT CAST(i AS BIGINT) AS event_id,
           CAST(hv % 150 AS BIGINT) AS user_id,
           (['click','view','purchase','signup','error'])
               [CAST((hv // 256) % 5 AS INTEGER) + 1] AS event_type,
           round(CAST((hv // 65536) % 100000 AS DOUBLE) / 100.0, 2) AS value
    FROM h
    """,
)
def scan_python_datasource(spark, d):
    """Scan through the custom Python data source: 1000 deterministic
    rows over 4 partitions (4 Spark tasks).  The oracle replays the
    same counter-based row function in SQL, proving the source is a
    pure, splittable function of the row index."""
    with _pinned_session(spark, SyntheticEventsSource) as sess:
        return (sess.read.format("synthetic_events")
                .option("rows", "1000").option("partitions", "4").load())


@register(
    "stream_python_datasource",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 299)) AS i),
    h AS (
        SELECT i,
               CAST((CAST(i AS HUGEINT) * 6364136223846793005
                     + 1442695040888963407) % 18446744073709551616 AS HUGEINT)
                   AS hv
        FROM g
    )
    SELECT CAST(i AS BIGINT) AS event_id,
           CAST(hv % 150 AS BIGINT) AS user_id,
           (['click','view','purchase','signup','error'])
               [CAST((hv // 256) % 5 AS INTEGER) + 1] AS event_type,
           round(CAST((hv // 65536) % 100000 AS DOUBLE) / 100.0, 2) AS value
    FROM h
    """,
)
def stream_python_datasource(spark, d):
    """readStream through the custom Python data source (Spark 4
    streaming DataSource API): 300 rows arrive as index-offset
    micro-batches of 150 and drain into a memory sink.  The union of all
    micro-batches must equal the batch scan of the same index range —
    the oracle replays the counter function in SQL, so the offset
    bookkeeping (no gap, no overlap, stop at end) is what's actually
    under test.  It drains through :func:`_drain_to_memory`."""
    with _pinned_session(spark, SyntheticEventsSource) as sess:
        stream = (sess.readStream.format("synthetic_events")
                  .option("rows", "300").option("batch_rows", "150").load())
        return _drain_to_memory(sess, stream, "py_stream")


def _drain_to_memory(sess, stream, prefix: str):
    """Drain a Python-source ``stream`` (built on ``sess``) into a memory
    sink and return the sink's table: a tight processingTime trigger,
    then processAllAvailable(), which returns once the source's offset
    stops advancing (read() reports end-of-data), then stop.

    Not the file streams' availableNow runner (streaming.harness
    ._run_stream): on pyspark 4.1.2 an availableNow trigger over these
    sources ran only the first micro-batch — 150 of
    stream_python_datasource's 300 rows and 300 of stream_avro_python's
    600 — while this form drains every batch ([150, 150] and
    [300, 300] rows per batch)."""
    import uuid as _uuid

    qname = f"{prefix}_{_uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.format("memory").queryName(qname)
         .outputMode("append").trigger(processingTime="0 seconds").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sess.table(qname)


class _CsvCommit(WriterCommitMessage):
    def __init__(self, path, rows):
        self.path, self.rows = path, rows


class CsvLinesWriter(DataSourceWriter):
    """Per-partition executor-side writer: each partition streams its
    rows as CSV lines into one uniquely-named file under the target
    dir, then hands the driver a commit message naming the file and its
    row count.  commit() runs once on the driver with every partition's
    message — the two-phase protocol that lets a sink publish
    atomically (here: write the _SUCCESS manifest listing exactly the
    committed files, so readers can ignore orphans from failed
    attempts)."""

    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator):
        import csv
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        fp = os.path.join(self.path, f"part-{uuid.uuid4().hex}.csv")
        n = 0
        # csv.writer, not an f-string join: None serializes as the
        # empty field (not the literal 'None'), and commas/quotes/
        # newlines inside a value are quoted per RFC 4180 (doubled
        # quotes) instead of corrupting the line (r6 ADVICE).
        with open(fp, "w", newline="") as f:
            w = csv.writer(f)
            for row in iterator:
                w.writerow([row.event_id, row.event_type, row.value_r])
                n += 1
        return _CsvCommit(fp, n)

    def commit(self, messages):
        import json
        import os

        manifest = {m.path: m.rows for m in messages if m is not None}
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class CsvLinesSink(DataSource):
    @classmethod
    def name(cls):
        return "csv_lines_sink"

    def writer(self, schema, overwrite):
        return CsvLinesWriter(self.options)


@register(
    "sink_python_datasource",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value_r
    FROM events
    """,
)
def sink_python_datasource(spark, d):
    """WRITE path of the Python data-source API (Spark 4
    ``DataSourceWriter``) — the other half of scan_python_datasource's
    custom-connector story: each partition's executor streams rows
    through pure-Python ``write()`` into its own file, and the driver's
    ``commit()`` publishes a manifest of exactly the committed files
    (two-phase, abort removes partials).  The sink's files are read
    back through Spark's CSV reader and must hash-equal the frame that
    went in — verifying the bytes the custom writer produced, not just
    that it ran.

    Registration quirk (observed, Spark 4.1): Python data-source WRITE
    registration is reliable only for the FIRST session that registers
    a given name in the process — a later child session's register call
    trips the shared ALREADY_EXISTS check before populating its own
    per-session manager, after which its lookups fall through to the
    Java classpath and fail.  So the first session to register is
    cached at module level and every sink write routes through it;
    results are session-independent (same fixture path, defaults
    re-ensured)."""
    import json
    import os

    from ..operators._util import T

    with _pinned_session(spark, CsvLinesSink) as sess:
        out = scratch_dir("pysink_")
        frame = T(sess, d, "events").select(
            "event_id", "event_type", F.round("value", 2).alias("value_r"))
        (frame.write.format("csv_lines_sink")
         .option("path", out).mode("append").save())
        # read back exactly the files the _SUCCESS manifest committed —
        # not a part-* glob, which would also pick up orphans from
        # failed attempts (the manifest exists precisely for this)
        with open(os.path.join(out, "_SUCCESS")) as f:
            committed = sorted(json.load(f))
        schema = ("event_id bigint, event_type string, value_r double")
        return (sess.read.schema(schema)
                .option("escape", '"')  # RFC 4180 doubled-quote escapes
                .csv(committed))


# ------------------------------------------------------- pure-python avro scan
import os  # noqa: E402

_AVRO_FIXTURE: dict = {}
_PYAVRO_CLS: list = []  # built once; _registered_session caches by name


def _avro_row(i: int):
    """Counter-based row function (same splittable-LCG discipline as
    the synthetic source): id, bucketed name, nullable amount (every
    7th NULL), boolean flag."""
    h = (i * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
    return (i, f"u{h % 97}",
            None if i % 7 == 0 else ((h >> 16) % 100000) / 100.0,
            h % 2 == 1)


def _avro_fixture_path() -> str:
    """Write the deterministic 600-row container once per process:
    deflate codec, 100-row blocks -> 6 blocks -> 6 scan partitions."""
    p = _AVRO_FIXTURE.get("path")
    if p is None or not os.path.exists(p):
        from .avro_py import write_avro

        schema = {"type": "record", "name": "pedido_evt", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "amount", "type": ["null", "double"]},
            {"name": "flag", "type": "boolean"},
        ]}
        p = os.path.join(scratch_dir("pyavro_"), "fixture.avro")
        write_avro(p, [_avro_row(i) for i in range(600)], schema,
                   codec="deflate", block_rows=100)
        _AVRO_FIXTURE["path"] = p
    return p


@register(
    "scan_avro_python",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 599)) AS i),
    h AS (
        SELECT i,
               CAST((CAST(i AS HUGEINT) * 6364136223846793005
                     + 1442695040888963407) % 18446744073709551616 AS HUGEINT)
                   AS hv
        FROM g
    )
    SELECT CAST(i AS BIGINT) AS id,
           'u' || CAST(hv % 97 AS VARCHAR) AS name,
           CASE WHEN i % 7 = 0 THEN NULL
                ELSE CAST((hv // 65536) % 100000 AS DOUBLE) / 100.0
           END AS amount,
           hv % 2 = 1 AS flag
    FROM h
    """,
)
def scan_avro_python(spark, d):
    """Avro scan WITHOUT spark-avro: the environment lacks the
    spark-avro datasource jar (the one declared format gap, SURVEY.md
    §2 end), so this closes it with a pure-stdlib Avro Object Container
    codec behind a Spark 4 Python DataSource (sources/avro_py.py).  The
    fixture is written by our own writer (deflate codec, zigzag
    varints, 16-byte sync markers) and scanned block-parallel — the
    container's own 100-row blocks become 6 InputPartitions, the
    row-group split discipline a columnar scan uses — with schema
    (including the ["null","double"] union -> nullable column) taken
    from the file header.  The oracle replays the counter-based row
    function in SQL, so header parse, DEFLATE decode, varint/union
    decoding and the block->partition plumbing are what's under test;
    spec-conformance of the codec itself is hypothesis-tested
    (tests/test_avro_py.py)."""
    if not _PYAVRO_CLS:
        from .avro_py import make_source

        _PYAVRO_CLS.append(make_source())
    path = _avro_fixture_path()
    with _pinned_session(spark, _PYAVRO_CLS[0]) as sess:
        return sess.read.format("pyavro").option("path", path).load()


# ------------------------------------------------------- pure-python avro sink
class _AvroCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path, self.rows = path, rows


# every field a null-union: the Spark projection's columns are all
# nullable, and a NULL reaching a plain 'long' would abort the write
# task with a bare TypeError (r8 review finding)
_AVRO_SINK_SCHEMA = {"type": "record", "name": "evt", "fields": [
    {"name": "event_id", "type": ["null", "long"]},
    {"name": "event_type", "type": ["null", "string"]},
    {"name": "value_r", "type": ["null", "double"]},
]}


class AvroSinkWriter(DataSourceArrowWriter):
    """Per-partition Avro container writer: each partition becomes one
    container file written by the pure-stdlib codec (sources/avro_py),
    with the CSV sink's two-phase commit protocol (_SUCCESS manifest of
    exactly the committed files; abort removes partials).  Rows buffer
    per partition before the block write — fine at fixture scale; the
    scale path streams 100-row blocks straight to disk, same format.

    Arrow writer (r17, guide §4): partitions arrive as RecordBatches
    instead of pickled Rows — the r16 profile showed the sink job
    dominated by the row boundary, not the codec (which standalone
    encodes the whole volume in ~0.16 s).  Columns are unpacked once
    per batch (``to_pylist``) and zipped; the per-Row pickle +
    ``Row.__getitem__``-per-cell cost disappears."""

    def __init__(self, options, schema=None):
        self.path = options["path"]
        # resolve the Avro record's field positions from the WRITE
        # schema once (r16 advisor): hardcoded 0/1/2 would silently
        # shuffle values into wrong Avro fields for any future caller
        # whose projection order differs from sink_avro_roundtrip's —
        # the sink format is generic even if its one current caller
        # pins the order.  Falls back to 0/1/2 with no schema.
        names = [f["name"] for f in _AVRO_SINK_SCHEMA["fields"]]
        if schema is not None:
            fields = list(schema.fieldNames())
            self.idx = tuple(fields.index(n) for n in names)
        else:
            self.idx = tuple(range(len(names)))

    def write(self, iterator):
        import os
        import uuid

        from .avro_py import write_avro

        os.makedirs(self.path, exist_ok=True)
        fp = os.path.join(self.path, f"part-{uuid.uuid4().hex}.avro")
        i0, i1, i2 = self.idx
        rows = []
        for batch in iterator:
            cols = batch.columns
            rows.extend(zip(cols[i0].to_pylist(), cols[i1].to_pylist(),
                            cols[i2].to_pylist()))
        # 4000-row (~100 KB) blocks: the block is the read side's
        # parallelism unit, so tiny blocks turn a rescan into thousands
        # of micro-tasks (the scan fixture keeps 100-row blocks on
        # purpose to pin the multi-partition plumbing cheaply); 4000
        # keeps ~3 blocks per fixture container while cutting the
        # rescan's task count 4x (guide §6 output sizing)
        write_avro(fp, rows, _AVRO_SINK_SCHEMA, codec="deflate",
                   block_rows=4000)
        return _AvroCommit(fp, len(rows))

    def commit(self, messages):
        import json
        import os

        manifest = {m.path: m.rows for m in messages if m is not None}
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class AvroSink(DataSource):
    @classmethod
    def name(cls):
        return "pyavro_sink"

    def writer(self, schema, overwrite):
        return AvroSinkWriter(self.options, schema)


@register(
    "sink_avro_roundtrip",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value_r
    FROM events
    """,
)
def sink_avro_roundtrip(spark, d):
    """Avro WRITE path without spark-avro — the sink half of
    scan_avro_python's format-gap closure: the events projection
    streams through the Python DataSourceWriter into one Avro container
    per partition (pure-stdlib codec, deflate blocks, two-phase
    _SUCCESS commit), then reads back through the block-parallel pyavro
    scan source, one relation per committed container unioned — so the
    bytes our writer produced, the manifest protocol, AND the scan
    source's multi-file story are all under the hash.  The oracle is
    the same events projection: a byte-level codec error anywhere in
    the round trip breaks value equality (doubles travel as IEEE bytes,
    exact)."""
    import functools
    import json

    from ..operators._util import T

    if not _PYAVRO_CLS:
        from .avro_py import make_source

        _PYAVRO_CLS.append(make_source())
    with _pinned_session(spark, AvroSink) as sess:
        out = scratch_dir("pyavro_sink_")
        frame = T(sess, d, "events").select(
            "event_id", "event_type", F.round("value", 2).alias("value_r"))
        # one container per partition, so bound the writer's parallelism
        # (8 files) the way any sink targets file sizes — without this,
        # the upstream scan's split count (1000 tasks at sf0.1) becomes
        # 1000 hundred-row containers, the classic small-file mistake
        (frame.coalesce(8).write.format("pyavro_sink")
         .option("path", out).mode("append").save())
        with open(os.path.join(out, "_SUCCESS")) as f:
            committed = sorted(json.load(f))
    with _pinned_session(spark, _PYAVRO_CLS[0]) as sess:
        # every committed container participates — a zero-row one reads
        # as an empty relation (zero blocks -> zero partitions); the
        # schema-typed empty frame seeds reduce so an empty manifest
        # yields an empty relation instead of a reduce() TypeError
        empty = sess.createDataFrame(
            [], "event_id bigint, event_type string, value_r double")
        parts = [sess.read.format("pyavro").option("path", p).load()
                 for p in committed]
        return functools.reduce(lambda a, b: a.unionByName(b), parts, empty)


@register(
    "stream_avro_python",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 599)) AS i),
    h AS (
        SELECT i,
               CAST((CAST(i AS HUGEINT) * 6364136223846793005
                     + 1442695040888963407) % 18446744073709551616 AS HUGEINT)
                   AS hv
        FROM g
    )
    SELECT CAST(i AS BIGINT) AS id,
           'u' || CAST(hv % 97 AS VARCHAR) AS name,
           CASE WHEN i % 7 = 0 THEN NULL
                ELSE CAST((hv // 65536) % 100000 AS DOUBLE) / 100.0
           END AS amount,
           hv % 2 = 1 AS flag
    FROM h
    """,
)
def stream_avro_python(spark, d):
    """readStream over the Avro container (the streaming face of
    scan_avro_python): the offset is the next BLOCK index;
    maxBlocksPerTrigger=3 paces the 6-block container into two
    micro-batches whose union must equal the batch scan of the same
    file — same oracle, so the offset bookkeeping (no gap, no overlap
    at the batch boundary, stop at end, exactly-once block replay) is
    what's under the hash.  One-block-per-trigger pacing is pinned at
    the reader level in tests/test_avro_py.py; unset, a trigger drains
    everything available (the maxFilesPerTrigger-unset analogue).  The
    block-as-offset scheme is how a production tailer follows a
    growing container: new blocks appended after the sync marker
    become new offsets with no rewind."""
    if not _PYAVRO_CLS:
        from .avro_py import make_source

        _PYAVRO_CLS.append(make_source())
    path = _avro_fixture_path()
    with _pinned_session(spark, _PYAVRO_CLS[0]) as sess:
        stream = (sess.readStream.format("pyavro")
                  .option("path", path)
                  .option("maxBlocksPerTrigger", "3").load())
        return _drain_to_memory(sess, stream, "avro_stream")


# ------------------------------------------- avro logical-types roundtrip
_AVRO_LOGICAL_SCHEMA = {"type": "record", "name": "ord", "fields": [
    {"name": "o_orderkey", "type": ["null", "long"]},
    {"name": "o_orderdate",
     "type": ["null", {"type": "int", "logicalType": "date"}]},
    {"name": "o_ts",
     "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
    {"name": "o_totalprice",
     "type": ["null", {"type": "bytes", "logicalType": "decimal",
                       "precision": 12, "scale": 2}]},
]}


class AvroLogicalSinkWriter(DataSourceArrowWriter):
    """AvroSinkWriter's protocol (one container per partition, two-phase
    _SUCCESS commit) over the LOGICAL-typed schema — date /
    timestamp-micros / decimal travel as their spec physical encodings
    (int days, long µs, two's-complement unscaled bytes).  Arrow writer
    (r17): batches unpack to date/datetime/Decimal columns once instead
    of a pickled Row with attribute lookups per cell; the logical
    converters accept tz-aware datetimes (epoch inherits tzinfo), so
    Arrow's UTC-aware timestamps encode the same absolute µs the Row
    path did."""

    def __init__(self, options, schema=None):
        self.path = options["path"]
        names = [f["name"] for f in _AVRO_LOGICAL_SCHEMA["fields"]]
        if schema is not None:
            fields = list(schema.fieldNames())
            self.idx = tuple(fields.index(n) for n in names)
        else:
            self.idx = tuple(range(len(names)))

    def write(self, iterator):
        import os
        import uuid

        from .avro_py import write_avro

        os.makedirs(self.path, exist_ok=True)
        fp = os.path.join(self.path, f"part-{uuid.uuid4().hex}.avro")
        rows = []
        for batch in iterator:
            cols = batch.columns
            rows.extend(zip(*(cols[i].to_pylist() for i in self.idx)))
        write_avro(fp, rows, _AVRO_LOGICAL_SCHEMA, codec="deflate",
                   block_rows=1000)
        return _AvroCommit(fp, len(rows))

    def commit(self, messages):
        import json

        manifest = {m.path: m.rows for m in messages if m is not None}
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class AvroLogicalSink(DataSource):
    @classmethod
    def name(cls):
        return "pyavro_logical_sink"

    def writer(self, schema, overwrite):
        return AvroLogicalSinkWriter(self.options, schema)


@register(
    "sink_avro_logical_roundtrip",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate_s,
           CAST(CAST(o_orderdate AS TIMESTAMP) AS VARCHAR) AS o_ts_s,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)
               AS o_totalprice
    FROM orders WHERE o_orderkey % 4 = 0
    """,
)
def sink_avro_logical_roundtrip(spark, d):
    """Avro LOGICAL-type roundtrip (r12; hardens the format-gap closure
    beyond primitives): date / timestamp-micros / decimal(12,2) columns
    of the orders table stream through the per-partition Python
    container writer and read back via a file-parallel mapInPandas
    decode — so the spec physical encodings (int epoch-days, long
    epoch-µs, two's-complement big-endian unscaled decimal bytes) are
    all under the hash against the raw parquet oracle.  A day-off
    epoch base, a ms/µs confusion, or a sign-extension bug in the
    decimal bytes each shifts values, not just types.

    Scale shape: the write is one container per partition (bounded to
    8); the read parallelizes per committed file — the same unit a
    100 TB Avro lake hands any engine; blocks split further when files
    are few (scan_avro_python's block-parallel path)."""
    import json

    from ..operators._util import T

    with _pinned_session(spark, AvroLogicalSink) as sess:
        out = scratch_dir("pyavro_logical_")
        frame = T(sess, d, "orders").filter(
            F.col("o_orderkey") % 4 == 0).select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
            F.col("o_totalprice").cast("decimal(12,2)")
                .alias("o_totalprice"))
        (frame.coalesce(8).write.format("pyavro_logical_sink")
         .option("path", out).mode("append").save())
        with open(os.path.join(out, "_SUCCESS")) as f:
            committed = sorted(json.load(f))

    def decode(batches):
        import pandas as pd

        from .avro_py import block_index, read_block, read_header

        for pdf in batches:
            for p in pdf["path"]:
                schema, codec, _sync, _pos = read_header(p)
                rows = []
                for off, _n, _nb in block_index(p):
                    rows += read_block(p, off, schema, codec)
                yield pd.DataFrame({
                    "o_orderkey": pd.Series(
                        [r[0] for r in rows], dtype="int64"),
                    "o_orderdate": [r[1] for r in rows],
                    "o_ts": [r[2] for r in rows],
                    "o_totalprice": pd.Series(
                        [float(r[3]) for r in rows], dtype="float64"),
                })

    paths = spark.createDataFrame([(p,) for p in committed], "path string") \
        .repartition(len(committed))
    back = paths.mapInPandas(
        decode, "o_orderkey long, o_orderdate date, o_ts timestamp, "
                "o_totalprice double")
    return back.select(
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate_s"),
        F.col("o_ts").cast("string").alias("o_ts_s"),
        "o_totalprice")
