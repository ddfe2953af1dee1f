"""True Structured Streaming behaviors (B-stream, SURVEY.md §2): a
file-source micro-batch harness with availableNow triggers and a memory
sink, driving watermark/late-data handling, keyed streaming dedup, and a
custom stateful per-key aggregate.

Offline constraint (SURVEY.md §7.4): no live source exists, so streams are
parquet file sources; event-time (not wall-clock) semantics make the runs
deterministic.  Queries that depend on micro-batch sequencing
(stream_watermark_late) write their input as separate files with controlled
modification times and maxFilesPerTrigger=1 so watermark advancement is
reproducible.

Scale notes: these are the operators that carry 100 TB streaming loads —
state lives in the state store keyed by the shuffle partitioning; watermark
bounds state size; dropDuplicates state is similarly watermark-evicted.
Every stream in this module runs in a child session whose
state-partition count is worked out from its staged input's parquet
footers (``_state_session``): one partition per
``_STATE_ROWS_PER_PARTITION`` input rows, capped by the session's task
slots — each partition is one state store, a fixed cost paid on every
micro-batch.  Memory-sink streams drain through one runner,
``_run_stream``.
"""

from __future__ import annotations

import itertools
import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from ..operators._util import T
from ..plans.registry import register
from ..scratch import scratch_dir

_counter = itertools.count()
_events_src_cache: dict[str, str] = {}
_raw_schema_cache: dict[tuple[str, str], object] = {}
_staged_cache: dict[tuple[str, str], str] = {}


def _staged_input(tag: str, d: str, build) -> str:
    """Process-level cache for staged stream-input directories.  Every
    staged input here is a pure function of the fixture dir (fixed
    content, fixed file order, fixed mtimes), so re-staging it for each
    run of the same query only re-pays a parquet write that changes
    nothing.  Each streaming run still starts from a fresh checkpoint,
    so caching the INPUT never caches any query state."""
    key = (tag, d)
    p = _staged_cache.get(key)
    if p is not None and os.path.isdir(p):
        return p
    p = scratch_dir(tag)
    build(p)
    _staged_cache[key] = p
    return p


def _fixture_arrow(d: str):
    """The events fixture as ONE pyarrow table (single file, or the
    sorted top-level members of a directory-shaped corpus — the same
    member set _link_events symlinks).  Used by the pyarrow-direct
    staging writers below: staging a handful of sentinel/replay rows
    used to cost one or two full Spark jobs per query (scan + sort +
    coalesce(1) write); reading the fixture once in-process and writing
    the tiny parquet directly removes every staging job from the timed
    run (guide §1.2 — per-task work was never the cost here, job count
    was).  Scale note: staging volume is O(replay/sentinel rows), not
    O(corpus), so the in-process read stays bounded by the fixture scan
    it replaces — and a 100 TB corpus stages sentinels from metadata
    (schema + a handful of literals), never by reading the corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(d, "events.parquet")
    if os.path.isdir(src):
        members = sorted(f for f in os.listdir(src)
                         if f.endswith(".parquet"))
        if not members:
            raise FileNotFoundError(
                f"{src} is a directory with no top-level *.parquet "
                "members (partitioned layout?)")
        return pa.concat_tables(
            pq.read_table(os.path.join(src, m)) for m in members)
    return pq.read_table(src)


def _ts_to_us(tbl):
    """(int64-µs ndarray, valid-mask ndarray) for the fixture ``ts``
    column, normalizing the two encodings the fixtures have shipped
    (TIMESTAMP(NANOS) read as int64 nanos; naive TIMESTAMP(MICROS)) —
    the same normalization sources.readers.load performs engine-side."""
    import numpy as np
    import pyarrow as pa

    ts = tbl["ts"].combine_chunks()
    valid = ~np.asarray(ts.is_null())
    if pa.types.is_integer(ts.type):
        ns = ts.fill_null(0).to_numpy(zero_copy_only=False)
        us = ns.astype(np.int64) // 1000
    else:
        us = (ts.fill_null(0).cast(pa.timestamp("us"))
              .to_numpy(zero_copy_only=False).astype("datetime64[us]")
              .astype(np.int64))
    return us, valid


def _utc_us(s: str) -> int:
    import numpy as np

    return int(np.datetime64(s, "us").astype(np.int64))


def _link_events(d: str, dstdir: str) -> None:
    """Symlink the fixture events parquet into a stream-source scratch
    dir.  The driver fixture is a single file, but any real corpus (and
    the inflated sweeps) is a DIRECTORY-shaped parquet dataset — the
    file source does not recurse into a symlinked subdirectory, so a
    directory fixture must link each member part file instead (sorted,
    zero-padded names keep the member order stable under the file
    source's (mtime, path) batching)."""
    src = os.path.join(d, "events.parquet")
    if os.path.isdir(src):
        members = sorted(f for f in os.listdir(src)
                         if f.endswith(".parquet"))
        if not members:
            # Hive-partitioned subdirectories or .snappy-suffix variants
            # would otherwise yield an EMPTY stream source and vacuously
            # passing streaming queries (r14, advisor finding) — fail
            # loudly instead.
            raise FileNotFoundError(
                f"{src} is a directory with no top-level *.parquet "
                "members (partitioned layout?); refusing to build an "
                "empty stream source")
        for i, f in enumerate(members):
            os.symlink(os.path.join(src, f),
                       os.path.join(dstdir, f"events_{i:05d}.parquet"))
    else:
        os.symlink(src, os.path.join(dstdir, "events.parquet"))


# Input rows per state-store partition.  Each shuffle partition of a
# stateful stream owns one state store, and every micro-batch opens,
# commits and snapshots all of them whether they hold rows or not, so
# below this many rows a store costs more than the parallelism it adds.
# Measured on stream_dedup_keyed (4-vCPU VM, task threads pinned to as
# many CPUs, noop sink, medians of 6 interleaved runs, seconds):
#   rows      threads  1 part  2 parts  4 parts  8 parts
#   10,100    2        0.95    0.98     1.14     1.75
#   10,100    4        0.86    0.87     1.04     -
#   100,100   2        1.85    1.74     2.03     -
#   100,100   4        1.62    1.48     1.42     1.68
# 25k rows puts sf0.01 (10k events) at 1 partition and sf0.1 (100k) at
# 4, capped to 2 on 2 threads: the fastest column in every row.  A
# bytes rule would not do: sf0.1's input is 2 MB, so AQE's 64 MB
# advisory size would pick 1 partition, the slow end at that scale.
_STATE_ROWS_PER_PARTITION = 25_000


def _footer_rows(src: str) -> int:
    """Rows in every parquet file under the staged stream input ``src``,
    summed from the footers with pyarrow — no Spark job.  Hidden and
    underscore-prefixed files are skipped, as the file source skips
    them.  A table-format source would read the same figure from its
    manifests instead of opening each footer."""
    import pyarrow.parquet as pq

    rows = 0
    for root, dirs, files in os.walk(src, followlinks=True):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        rows += sum(pq.read_metadata(os.path.join(root, f)).num_rows
                    for f in files
                    if f.endswith(".parquet")
                    and not f.startswith((".", "_")))
    return rows


def _state_partitions(rows: int, slots: int) -> int:
    """One state partition per ``_STATE_ROWS_PER_PARTITION`` input rows,
    at least one, never more than the session's task slots."""
    return max(1, min(slots, -(-rows // _STATE_ROWS_PER_PARTITION)))


def _state_session(spark, src: str):
    """Child session for a stream over the staged input dir ``src``.

    Each shuffle partition of a stateful operator owns one state store,
    and every micro-batch pays for every store, so the count follows
    the input, not the CPU count: ``_state_partitions`` of the input's
    footer row count, capped by ``defaultParallelism`` (see
    ``_STATE_ROWS_PER_PARTITION`` for the rule's measured points).  Row
    count bounds the key count from above — keyed dedup holds one key
    per ``event_id``, 10,000 at sf0.01 and 100,000 at sf0.1.  A
    checkpointed stream keeps the count it started with: Spark restores
    it from the offset log on restart.  A dedicated ``newSession``
    (shared SparkContext, own SQLConf) keeps the override invisible to
    the caller — the set/restore form left a window where a concurrently
    planned query compiled under the stream's partition count."""
    from ..session import ensure_session_defaults

    iso = spark.newSession()
    ensure_session_defaults(iso)
    n = _state_partitions(_footer_rows(src),
                          spark.sparkContext.defaultParallelism)
    iso.conf.set("spark.sql.shuffle.partitions", str(n))
    return iso


def _run_stream(iso, df, mode: str = "append", name: str = "stream"):
    """The one memory-sink runner: drain the stream ``df`` (built on the
    session ``iso``) with an availableNow trigger and return the sink's
    table."""
    qname = f"{name}_{next(_counter)}"
    q = (df.writeStream.format("memory").queryName(qname)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return iso.table(qname)


def _events_src(d: str) -> str:
    """The fixture events as a flat stream-source dir of symlinks, one
    per sf_dir, reused across queries in the process."""
    path = _events_src_cache.get(d)
    if path is None or not os.path.isdir(path):
        path = scratch_dir("events_src_")
        _link_events(d, path)
        _events_src_cache[d] = path
    return path


def _raw_schema(spark, path: str):
    """The raw file schema of a staged stream input, inferred once per
    dir.  Staged inputs never change schema, but ``events.ts`` decodes
    differently under ``nanosAsLong``, so the conf is part of the key."""
    key = (path, spark.conf.get("spark.sql.legacy.parquet.nanosAsLong",
                                "false"))
    schema = _raw_schema_cache.get(key)
    if schema is None:
        schema = _raw_schema_cache[key] = spark.read.parquet(path).schema
    return schema


def _events_stream(spark, d, path=None, max_files=None):
    """readStream over the events parquet (schema from a batch peek of the
    raw file, cached per dir — ts arrives as int64 nanos, converted to µs
    timestamp).  The file source wants a flat directory of files, so the
    fixture (single file, or the member part files of a directory-shaped
    corpus) is symlinked into a scratch dir."""
    if path is None:
        path = _events_src(d)
    # ts may be TIMESTAMP(NANOS) in the fixture parquet; a session that
    # didn't set nanosAsLong at build time would otherwise fail this batch
    # schema peek with PARQUET_TYPE_ILLEGAL (reachable outside the registry
    # wrapper via run_stream_to_df, so applied here too).  Newer fixtures
    # carry naive TIMESTAMP(MICROS) → TIMESTAMP_NTZ; normalize both to
    # TimestampType like sources.readers.load does.
    from ..session import ensure_session_defaults
    ensure_session_defaults(spark)
    reader = spark.readStream.schema(_raw_schema(spark, path))
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    stream = reader.parquet(path)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _events_plus(spark, d, tag: str, extra_build) -> str:
    """Staged stream-input dir holding the fixture events.parquet as a
    SYMLINK (never copied — the 100k-row re-write was the dominant
    per-run cost of the dedup/replay streams) plus extra raw-schema
    file(s) built once by ``extra_build(dir)`` with pyarrow-direct
    writes — NO Spark job (r17: each builder used to run a full Spark
    scan + sort + coalesce(1) write for a ≤100-row file; the job
    overhead, not the bytes, was the staging cost).  Projections belong
    stream-side; only genuinely extra rows (duplicate replays /
    sentinels) are materialized, so staging cost is O(replay), not
    O(corpus).  Extra files are written first, and their just-now
    mtimes sort AFTER the fixture file under the file source's mtime
    ordering — replays always land in a later or equal batch, matching
    the real tail-of-stream arrival order."""
    def _stage(p):
        extra_build(p)
        _link_events(d, p)
    return _staged_input(tag, d, _stage)


def _replay_file(d: str, p: str, n: int = 100) -> None:
    """The replay staging shared by the dedup/merge streams: the first
    ``n`` fixture events by event_id (Spark orderBy semantics —
    ascending, nulls first), raw fixture schema, one pyarrow write."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = _fixture_arrow(d)
    idx = pc.sort_indices(t, sort_keys=[("event_id", "ascending")],
                          null_placement="at_start")
    pq.write_table(t.take(idx[:n]), os.path.join(p, "replay.parquet"))


def run_stream_to_df(spark, d, build, name, output_mode="append"):
    """Run builder(stream_df) → memory sink with availableNow; return the
    collected result table as a batch DataFrame.  The stream runs in a
    child session sized from the events input."""
    iso = _state_session(spark, _events_src(d))
    return _run_stream(iso, build(_events_stream(iso, d)), output_mode, name)


@register(
    "stream_watermark_late",
    oracle="""
    WITH e AS (SELECT event_type, date_trunc('second', ts) AS tss FROM events),
    day1 AS (SELECT * FROM e WHERE tss < TIMESTAMP '2024-01-02'),
    later AS (SELECT * FROM e
              WHERE tss >= TIMESTAMP '2024-01-05'
                AND tss < TIMESTAMP '2024-01-08'),
    wm AS (SELECT max(tss) - INTERVAL 10 MINUTE AS w FROM later),
    u AS (SELECT * FROM day1 UNION ALL SELECT * FROM later)
    SELECT CAST(date_trunc('hour', tss) AS VARCHAR) AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM u
    WHERE date_trunc('hour', tss) + INTERVAL 1 HOUR < (SELECT w FROM wm)
    GROUP BY 1, 2
    """,
)
def stream_watermark_late(spark, d):
    """Watermark + late-data drop.  Three micro-batches in a pinned order
    (one file each, mtime-sequenced, maxFilesPerTrigger=1): (1) events
    from the first day, (2) much later events that advance the watermark
    past day one, (3) replayed day-one MORNING events — late beyond the
    10-minute watermark and dropped.  Append mode emits only windows
    finalized by the watermark, so the result excludes both the late rows
    and still-open windows.

    The oracle is exact because every part of the final output is
    determined by event time alone under this batch sequencing:
    day1 ∪ later aggregated per (hour, event_type), keeping windows whose
    end < max(later.ts) - 10min (the final watermark — later windows
    still open when the run ends never emit), and the replay contributing
    NOTHING.  The replay is restricted to morning rows (< 12:00) so each
    replayed row's window closed long before the replay batch under
    either of the thresholds Spark's late-row filter may hold (the
    previous batch's watermark or the current one) — a row replayed into
    a still-open window would instead be ACCEPTED by the filter, which is
    why the old unrestricted day1 replay could double-count the last day1
    window.  If the drop ever regressed, morning window counts would
    double and the hash would mismatch — the oracle verifies the
    late-drop semantics, not just the aggregation.
    ``tests/test_oracle_parity.py`` guards the fixture assumptions
    (day1 extends past 14:00, so 13:00 window-ends stay below every
    candidate threshold; the final watermark keeps clear of exact
    hour boundaries)."""
    e = T(spark, d, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.date_trunc("second", "ts").alias("tss"))
    day1 = e.filter(F.col("tss") < "2024-01-02")

    def _stage(tmp):
        # pyarrow-direct staging of all three batches (r17; the r16
        # one-scan partitionBy write this replaces still cost a Spark
        # job in the timed run): batch 0 = day1, batch 1 = 'later',
        # batch 2 = day1 MORNING (the late replay).  tss is the
        # second-truncated event time exactly as the engine-side
        # date_trunc produced it — int64-µs floor arithmetic on the
        # normalized fixture timestamps, written as UTC timestamp[us]
        # so Spark reads TimestampType; NULL-ts rows are excluded
        # everywhere, matching the old tss-filter semantics.
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = _fixture_arrow(d)
        us, valid = _ts_to_us(t)
        tss = (us // 1_000_000) * 1_000_000
        day1 = valid & (tss < _utc_us("2024-01-02"))
        later = (valid & (tss >= _utc_us("2024-01-05"))
                 & (tss < _utc_us("2024-01-08")))
        morning = valid & (tss < _utc_us("2024-01-01T12:00:00"))

        def batch_tbl(mask):
            sel = np.flatnonzero(mask)
            sub = t.take(sel)
            return pa.table({
                "event_id": sub["event_id"],
                "user_id": sub["user_id"],
                "event_type": sub["event_type"],
                "value": sub["value"],
                "tss": pa.array(tss[sel], pa.int64())
                         .cast(pa.timestamp("us", tz="UTC")),
            })

        s = os.path.join(tmp, "src")
        os.makedirs(s, exist_ok=True)
        t0 = 1_700_000_000
        for i, mask in enumerate((day1, later, morning)):
            dst = os.path.join(s, f"{i:02d}.parquet")
            pq.write_table(batch_tbl(mask), dst)
            os.utime(dst, (t0 + i, t0 + i))

    src = os.path.join(_staged_input("wm_late_", d, _stage), "src")
    schema = day1.schema  # partitionBy strips `batch`: files hold e's cols
    iso = _state_session(spark, src)
    stream = (iso.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    agg = (stream.withWatermark("tss", "10 minutes")
           .groupBy(F.window("tss", "1 hour").alias("w"), "event_type")
           .agg(F.count("*").alias("cnt")))
    out = agg.select(F.col("w.start").cast("string").alias("window_start"),
                     "event_type", "cnt")
    return _run_stream(iso, out, "append", "wm_late")


@register(
    "stream_dedup_keyed",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value_r
    FROM events
    """,
)
def stream_dedup_keyed(spark, d):
    """Streaming dropDuplicates on the event key within a watermark.  The
    input stream is events plus an exact-duplicate replay of 100 raw
    events (staged as a tiny extra file beside a SYMLINK of the fixture
    — staging is O(replay), the projection runs stream-side); the
    deduplicated output equals the original table (hash oracle)."""
    tmp = _events_plus(spark, d, "dedup_keyed_",
                       lambda p: _replay_file(d, p))

    iso = _state_session(spark, tmp)
    stream = _events_stream(iso, d, path=tmp).select(
        "event_id", "event_type", "value",
        F.date_trunc("second", "ts").alias("tss"))
    deduped = (stream.withWatermark("tss", "1 hour")
               .dropDuplicates(["event_id"])
               .select("event_id", "event_type", F.round("value", 2).alias("value_r")))
    return _run_stream(iso, deduped, "append", "dedup_keyed")


@register(
    "stream_stateful_running",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_value
    FROM events GROUP BY user_id
    """,
)
def _stateful_running(spark, d, provider=None, tag="stateful_running"):
    """Shared body for the two stateful-running variants: a running
    (count, sum) of value per user via applyInPandasWithState, state
    held by the given state-store provider (None = Spark's default
    HDFS-backed provider)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ])
    state_schema = StructType([
        StructField("cnt", LongType()),
        StructField("cents", LongType()),
        StructField("nn", LongType()),
    ])

    def update(key, pdf_iter, state):
        cnt, cents, nn = state.get if state.exists else (0, 0, 0)
        for pdf in pdf_iter:
            cnt += len(pdf)  # COUNT(*) semantics: NULL rows still count
            # SUM skips NULLs; a NaN reaching the int64 cast is
            # platform-defined garbage, so drop them first
            v = pdf["value"].dropna().to_numpy()
            nn += len(v)
            cents += int(np.floor(v * 100.0 + 0.5).astype("int64").sum())
        state.update((cnt, cents, nn))
        # SQL SUM semantics, not pandas': a key that has seen ZERO
        # non-null values reports NULL, never 0.0 (the null-mirror
        # parity sweep caught the all-NULL-user group reading 0.0
        # while the oracle's SUM said NULL)
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt],
                            "total_value": [cents / 100.0 if nn
                                            else float("nan")]})

    iso = _state_session(spark, _events_src(d))
    if provider is not None:
        iso.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    stream = _events_stream(iso, d).select("user_id", "value")
    result = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)
    return _run_stream(iso, result, "update", tag)


def stream_stateful_running(spark, d):
    """Custom stateful per-key aggregate via applyInPandasWithState: a
    running (count, sum) of value per user, emitted once per micro-batch.
    State is a per-key tuple in the state store; the watermark-free
    NoTimeout config keeps keys alive for the whole run.

    The oracle is exact: the single-file source with no read limit makes
    availableNow one micro-batch, so each key emits exactly once with its
    final totals — a plain GROUP BY.  The sum is accumulated as integer
    CENTS (floor(v*100 + 0.5) — the same double arithmetic DuckDB's
    expression performs), because a double accumulation's value depends
    on the row order the shuffle hands each pandas batch: int64 addition
    is order-independent and exact, so the cross-engine hash cannot flip
    on a summation-order ulp (the llm_unigram_logprob advisory class)."""
    return _stateful_running(spark, d)


@register(
    "stream_stateful_rocksdb",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_rocksdb(spark, d):
    """The same stateful per-key running aggregate executed on the
    ROCKSDB state-store provider (rocksdbjni ships in Spark's jars) —
    the provider SURVEY.md §8.1 prescribes for cluster scale: per-key
    state lives off-heap and spills to local disk, so a 10^9-key stream
    no longer has to fit its state in executor heap the way the default
    HDFS-backed in-memory map does.  Results are provider-independent —
    the identical exact oracle pins that swapping the state backend
    changes WHERE state lives, never what it contains."""
    return _stateful_running(
        spark, d,
        provider="org.apache.spark.sql.execution.streaming.state."
                 "RocksDBStateStoreProvider",
        tag="stateful_rocksdb")


@register(
    "stream_stream_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      date_trunc('second', ts) AS tss
               FROM events)
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           CAST(date_diff('second', v.tss, c.tss) AS BIGINT) AS gap_s
    FROM e v JOIN e c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.tss >= v.tss
     AND c.tss <= v.tss + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark, d):
    """Stream-stream interval join: views joined to the clicks that
    follow within 30 minutes per user, both sides watermarked.  The
    watermark + time-range condition bound the join state — each side
    retains only rows inside the interval horizon, which is what makes
    a stream-stream join runnable forever at 100 TB/day (state is
    O(rate x horizon), not O(history)).  Inner joins emit eagerly, so
    with availableNow the result equals the batch interval join (hash
    oracle).  Both sides are stream-side filters over ONE streaming
    scan of the fixture (a streaming self-join): no pre-staged
    per-side files — the production shape, where views and clicks are
    routed out of a single firehose, and zero batch-write setup cost
    per run."""
    iso = _state_session(spark, _events_src(d))
    base = _events_stream(iso, d).select(
        "event_id", "user_id", "event_type",
        F.date_trunc("second", "ts").alias("tss"))
    views = (base.filter("event_type = 'view'")
             .withWatermark("tss", "1 hour")
             .select(F.col("event_id").alias("view_id"),
                     F.col("user_id").alias("v_user"),
                     F.col("tss").alias("v_tss")))
    clicks = (base.filter("event_type = 'click'")
              .withWatermark("tss", "1 hour")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("tss").alias("c_tss")))
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_tss") >= F.col("v_tss"))
        & (F.col("c_tss") <= F.col("v_tss") + F.expr("INTERVAL 30 MINUTES")),
        "inner")
    out = joined.select(
        "view_id", "click_id", F.col("v_user").alias("user_id"),
        (F.unix_timestamp("c_tss") - F.unix_timestamp("v_tss"))
        .cast("bigint").alias("gap_s"))
    return _run_stream(iso, out, "append", "ss_join")


@register(
    "stream_foreach_batch_merge",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value_r
    FROM events
    """,
)
def stream_foreach_batch_merge(spark, d):
    """foreachBatch -> icelite MERGE: each micro-batch upserts into a
    snapshot table keyed by event_id, so replayed events overwrite
    instead of duplicating — the streaming-lakehouse CDC pattern
    (micro-batch writes, table-format commit protocol, exactly-once
    effect from idempotent merge).  Input replays 100 raw events in a
    LATER batch (tiny staged file beside a fixture symlink —
    maxFilesPerTrigger=1 + mtime ordering put the fixture first; the
    value_r projection runs stream-side); the final table equals the
    distinct event set (hash oracle).  At scale each merge is one
    co-partitioned shuffle per batch and one snapshot commit."""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    from ..tables.icelite import IceliteCatalog

    src = _events_plus(spark, d, "fbm_src_",
                       lambda p: _replay_file(d, p))

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value_r", DoubleType()),
    ])
    iso = _state_session(spark, src)
    cat = IceliteCatalog(iso, scratch_dir("fbm_tbl_"))
    table = cat.create_table("db.events_upsert", schema)

    def merge_batch(batch_df, _batch_id):
        table.merge_into(batch_df.dropDuplicates(["event_id"]),
                         key="event_id",
                         update_cols=["event_type", "value_r"])

    stream = _events_stream(iso, d, path=src, max_files=1).select(
        "event_id", "event_type", F.round("value", 2).alias("value_r"))
    q = (stream.writeStream.foreachBatch(merge_batch)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return table.read()


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value_r
    FROM events
    """,
)
def stream_dedup_within_watermark(spark, d):
    """dropDuplicatesWithinWatermark: unlike plain dropDuplicates (which
    keeps EVERY key's state forever), state for a key is evicted once the
    watermark passes its event time — the state store stays bounded by
    the watermark horizon, which is what makes keyed dedup viable on an
    unbounded 100 TB/day stream.  Input is events plus a 100-event raw
    replay inside the horizon (tiny staged file + fixture symlink, the
    projection stream-side); output equals the original table."""
    tmp = _events_plus(spark, d, "dedup_wm_",
                       lambda p: _replay_file(d, p))

    iso = _state_session(spark, tmp)
    stream = _events_stream(iso, d, path=tmp).select(
        "event_id", "event_type", "value",
        F.date_trunc("second", "ts").alias("tss"))
    deduped = (stream.withWatermark("tss", "1 hour")
               .dropDuplicatesWithinWatermark(["event_id"])
               .select("event_id", "event_type",
                       F.round("value", 2).alias("value_r")))
    return _run_stream(iso, deduped, "append", "dedup_wm")


@register(
    "stream_file_sink_exactly_once",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value_r
    FROM events
    """,
)
def stream_file_sink_exactly_once(spark, d):
    """Checkpointed FILE sink with a restart — the exactly-once ingest
    contract the memory-sink queries can't show: run 1 (availableNow)
    consumes the first input file and commits its offsets to the
    checkpoint; MORE input arrives; run 2 starts from the SAME
    checkpoint and a fresh query object, reads only the delta (the
    offset log skips everything committed), and the parquet sink's
    commit protocol admits each micro-batch's files exactly once.  The
    final sink directory read back equals the full events table with no
    duplicates and no gaps — even though run 2's source directory
    contained every file.  This is the restart-safety every production
    pipeline leans on; checkpoint + sink live in scratch per call, so
    repeated runs in one process stay independent.  The two half files
    are staged ONCE with pyarrow-direct writes (r17: they're a pure
    function of the fixture, and the old single partitionBy pass still
    cost a Spark job; the halves now carry the RAW value column and the
    round-to-cents projection runs stream-side, keeping Spark's ROUND
    semantics engine-side); each run hardlinks them into its fresh
    source dir, so per-run cost is the two streaming runs, not any
    batch write."""
    def _stage(p):
        import numpy as np
        import pyarrow.parquet as pq

        t = _fixture_arrow(d)
        eid = t["event_id"].combine_chunks()
        valid = ~np.asarray(eid.is_null())
        ev = (eid.fill_null(0).to_numpy(zero_copy_only=False)
              .astype(np.int64))
        # C-style remainder (np.fmod), not modulo: Spark's % keeps the
        # dividend's sign, so a negative-odd event_id lands in par=-1
        # and is dropped by the two-half read — replicated exactly
        rem = np.fmod(ev, 2)
        sub = t.select(["event_id", "event_type", "value"])
        for par in (0, 1):
            pdir = os.path.join(p, f"par={par}")
            os.makedirs(pdir, exist_ok=True)
            pq.write_table(sub.take(np.flatnonzero(valid & (rem == par))),
                           os.path.join(pdir, "half.parquet"))

    staged = _staged_input("eo_halves_", d, _stage)

    def _part(par):
        pdir = os.path.join(staged, f"par={par}")
        return os.path.join(pdir, next(f for f in os.listdir(pdir)
                                       if f.endswith(".parquet")))

    src = scratch_dir("eo_src_")
    sink = scratch_dir("eo_sink_")
    ckpt = scratch_dir("eo_ckpt_")
    os.link(_part(0), os.path.join(src, "00.parquet"))

    iso = _state_session(spark, staged)
    schema = "event_id long, event_type string, value double"

    def run_once():
        q = (iso.readStream.schema(schema).parquet(src)
             .select("event_id", "event_type",
                     F.round("value", 2).alias("value_r"))
             .writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()                                   # consumes the even half
    os.link(_part(1), os.path.join(src, "01.parquet"))
    run_once()                                   # same checkpoint: delta only
    return iso.read.parquet(sink)


@register(
    "stream_pattern_match",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type,
               date_trunc('second', ts) AS tss
        FROM events
        WHERE ts IS NOT NULL
    ), m AS (
        SELECT user_id, event_type, tss,
               lead(event_type, 1) OVER w AS e1,
               lead(event_type, 2) OVER w AS e2,
               lead(tss, 2) OVER w AS t2
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)
    )
    SELECT user_id, tss AS match_start,
           CAST(epoch(t2) - epoch(tss) AS BIGINT) AS secs_to_convert
    FROM m
    WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
    """,
)
def stream_pattern_match(spark, d):
    """STREAMING strict-contiguity pattern matcher (r12): the CEP twin
    of events_pattern_match — view -> click -> purchase with immediate
    adjacency, detected incrementally per user via
    applyInPandasWithState.  State per key is the last TWO events
    (type, epoch-µs, event_id as plain longs/strings — no timestamp in
    the state row), carried across micro-batches so a pattern split by
    a batch boundary still fires; within a batch the group sorts by
    (tss, event_id), the oracle's tiebreak.  Assumes per-key in-order
    arrival across batches (the Kafka-partition-per-key contract every
    streaming CEP engine states); the single-file availableNow run
    makes one batch, so the memory-sink result equals the batch window
    query exactly.

    Scale shape: state is O(pattern length - 1) per live key —
    bounded, watermark-free — and matches emit incrementally; the
    batch equivalent's full re-sort per trigger is exactly what this
    avoids on an unbounded stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("match_start", TimestampType()),
        StructField("secs_to_convert", LongType()),
    ])
    state_schema = StructType([
        StructField("t_a", StringType()),
        StructField("us_a", LongType()),
        StructField("id_a", LongType()),
        StructField("t_b", StringType()),
        StructField("us_b", LongType()),
        StructField("id_b", LongType()),
    ])

    PATTERN = ("view", "click", "purchase")

    def update(key, pdf_iter, state):
        carry = list(state.get) if state.exists else [None] * 6
        rows = []
        if carry[0] is not None:
            rows.append((carry[0], carry[1], carry[2]))
        if carry[3] is not None:
            rows.append((carry[3], carry[4], carry[5]))
        n_carry = len(rows)
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["tss", "event_id"])
            # normalize whatever datetime64 resolution Arrow handed us
            us = (batch["tss"].to_numpy().astype("datetime64[us]")
                  .astype("int64"))
            rows += list(zip(batch["event_type"], us, batch["event_id"]))
        starts, secs = [], []
        # a triple may START at a carried row; never re-emit a match
        # whose FINAL event was already consumed in a prior batch
        for i in range(max(0, n_carry - 2), len(rows) - 2):
            if i + 2 < n_carry:
                continue
            (ta, ua, _ia), (tb, _ub, _ib), (tc, uc, _ic) = rows[i:i + 3]
            if (ta, tb, tc) == PATTERN:
                starts.append(ua)
                secs.append((uc - ua) // 1_000_000)
        tail = rows[-2:]
        flat = []
        for r in tail:
            flat += [r[0], int(r[1]), int(r[2])]
        flat = [None] * (6 - len(flat)) + flat
        state.update(tuple(flat))
        if starts:  # an empty yield would just feed pandas' concat
            yield pd.DataFrame({
                "user_id": pd.Series([key[0]] * len(starts), dtype="int64"),
                "match_start": pd.to_datetime(
                    pd.Series(starts, dtype="int64"), unit="us"),
                "secs_to_convert": pd.Series(secs, dtype="int64"),
            })

    iso = _state_session(spark, _events_src(d))
    stream = (_events_stream(iso, d)
              .filter(F.col("ts").isNotNull())
              .select("user_id", "event_id", "event_type",
                      F.date_trunc("second", "ts").alias("tss")))
    result = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)
    return _run_stream(iso, result, "append", "pattern_match")


@register(
    "stream_left_outer_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      date_trunc('second', ts) AS tss
               FROM events WHERE ts IS NOT NULL)
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           CAST(date_diff('second', v.tss, c.tss) AS BIGINT) AS gap_s
    FROM (SELECT * FROM e WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.tss >= v.tss
     AND c.tss <= v.tss + INTERVAL 30 MINUTE
    """,
)
def stream_left_outer_join(spark, d):
    """Stream-stream LEFT OUTER interval join (r12): views joined to
    the clicks that follow within 30 minutes per user — and views with
    NO such click emit a NULL-click row once the watermark proves no
    match can still arrive.  The semantics inner joins can't express:
    "every impression, converted or not", the funnel-denominator shape.
    State on both sides is bounded by watermark + interval exactly as
    in stream_stream_join; the OUTER part adds the eviction-time null
    emission, which only fires in a LATER micro-batch whose watermark
    has passed the view's join horizon.

    availableNow subtleties this query pins (all found empirically):
    (1) the null flush needs a batch to RUN after the watermark
    advances past the fixture's last view interval — the final batch's
    own watermark update never gets a successor data batch; (2) a
    heartbeat row that any filter above the source would drop NEVER
    advances the watermark, because Catalyst pushes deterministic
    predicates BELOW the EventTimeWatermark node — this includes
    side filters AND any post-join output filter (a `user_id >= 0`
    sentinel-exclusion filter propagated through the join constraint
    into BOTH scans and silently deleted the heartbeats); (3) the
    global watermark is the MIN over both sides' event-time stats, so
    a heartbeat must advance the views AND the clicks branch.  Hence:
    heartbeat file #1 carries one sentinel view and one sentinel click
    at 2024-06-02 under huge never-matching user ids (they pass every
    filter, join nothing); file #2 carries a single day-earlier click
    whose only job is to trigger one more batch.  Batch(hb#1) raises
    both watermarks past every fixture interval; batch(hb#2) runs
    UNDER that watermark and flushes the remaining unmatched fixture
    views.  The sentinel view itself never emits: its own join horizon
    (2024-06-02 00:30) stays above the maximum watermark any batch of
    this run can apply (2024-06-02 minus the 1 h delay) — so no output
    filter is needed, and none may exist (see 2).  The memory-sink
    result then equals the batch LEFT interval join (hash oracle) —
    NULL-ts rows excluded on both sides (the watermark drops them
    from a stream-stream join).

    100 TB: identical plan; state O(rate x horizon) per side, null
    emission amortized into normal watermark eviction."""
    def build(p):
        # pyarrow-direct heartbeat files (r17; two tiny sentinel frames
        # used to cost one Spark job each): rows carry the fixture's
        # own raw schema — ts in whichever encoding the fixture ships
        # (int64 nanos, or naive/UTC timestamp[us]) so the directory's
        # batch schema peek stays uniform.
        import pyarrow as pa
        import pyarrow.parquet as pq

        src_f = os.path.join(d, "events.parquet")
        sch_src = src_f
        if os.path.isdir(src_f):
            sch_src = os.path.join(src_f, sorted(
                f for f in os.listdir(src_f) if f.endswith(".parquet"))[0])
        sch = pq.read_schema(sch_src)

        def hb_table(rows):
            # rows: (event_id, ts_utc_str, user_id, event_type)
            cols = []
            for field in sch:
                n = field.name
                if n == "event_id":
                    a = pa.array([r[0] for r in rows], pa.int64())
                elif n == "ts":
                    us = [_utc_us(r[1]) for r in rows]
                    if pa.types.is_integer(field.type):
                        a = pa.array([u * 1000 for u in us], field.type)
                    else:
                        a = (pa.array(us, pa.int64())
                             .cast(pa.timestamp("us")).cast(field.type))
                elif n == "user_id":
                    a = pa.array([r[2] for r in rows], pa.int64())
                elif n == "event_type":
                    a = pa.array([r[3] for r in rows], pa.string())
                elif n == "value":
                    a = pa.array([0.0] * len(rows), pa.float64())
                else:  # props and any future raw column: typed NULLs
                    a = pa.nulls(len(rows), field.type)
                cols.append(a)
            return pa.table(dict(zip(sch.names, cols)))

        batches = [
            hb_table([(990000, "2024-06-02T00:00:00", 999_999_901, "view"),
                      (990001, "2024-06-02T00:00:00", 999_999_902,
                       "click")]),
            hb_table([(990002, "2024-06-01T00:00:00", 999_999_902,
                       "click")]),
        ]
        base_m = os.stat(src_f).st_mtime
        for i, hb in enumerate(batches):
            dst = os.path.join(p, f"zz_hb{i}.parquet")
            pq.write_table(hb, dst)
            # pin heartbeat order strictly after the fixture file and
            # after each other (file source batches by mtime; the
            # fixture symlink resolves to the read-only testdata
            # file's own older stamp)
            os.utime(dst, (base_m + 10 * (i + 1), base_m + 10 * (i + 1)))

    path = _events_plus(spark, d, "louter_join_", build)
    iso = _state_session(spark, path)
    base = (_events_stream(iso, d, path=path, max_files=1)
            .select("event_id", "user_id", "event_type",
                    F.date_trunc("second", "ts").alias("tss"))
            .withWatermark("tss", "1 hour"))
    views = (base.filter("event_type = 'view'")
             .select(F.col("event_id").alias("view_id"),
                     F.col("user_id").alias("v_user"),
                     F.col("tss").alias("v_tss")))
    clicks = (base.filter("event_type = 'click'")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("tss").alias("c_tss")))
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_tss") >= F.col("v_tss"))
        & (F.col("c_tss") <= F.col("v_tss") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter")
    # NO sentinel filter here: any deterministic predicate would be
    # pushed below the watermark node and delete the heartbeats at the
    # scan (docstring point 2); the sentinels are instead constructed
    # so they cannot reach the output within this run's watermarks.
    out = joined.select(
        "view_id", "click_id", F.col("v_user").alias("user_id"),
        (F.unix_timestamp("c_tss") - F.unix_timestamp("v_tss"))
        .cast("bigint").alias("gap_s"))
    return _run_stream(iso, out, "append", "louter_join")


@register(
    "stream_complete_mode_topk",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    ORDER BY total_value DESC, event_type
    LIMIT 3
    """,
)
def stream_complete_mode_topk(spark, d):
    """COMPLETE output mode (r12 — the one streaming output mode the
    suite had not exercised; append and update are covered elsewhere):
    a global leaderboard — top-3 event types by total value — where
    every trigger REWRITES the whole result table instead of appending
    deltas.  Complete mode is what makes unwatermarked global
    aggregations + sorting legal in a stream (Spark rejects ORDER BY
    in append mode without watermark): the sink always holds the full
    recomputed answer, so after availableNow drains the fixture the
    memory table IS the batch aggregate — hash-oracled directly.
    Value sums ride DECIMAL (order-free), the top-3 cut carries an
    event_type tiebreak.

    100 TB note: complete mode re-emits the FULL result per trigger,
    so it is only sane for small aggregate outputs (leaderboards,
    counters) — exactly this shape; per-key large state belongs to
    update/append mode."""
    iso = _state_session(spark, _events_src(d))
    base = _events_stream(iso, d).filter(F.col("value").isNotNull())
    agg = (base.groupBy("event_type")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                .alias("total_value"))
           .orderBy(F.col("total_value").desc(), "event_type")
           .limit(3))
    return _run_stream(iso, agg, "complete", "complete_topk")
