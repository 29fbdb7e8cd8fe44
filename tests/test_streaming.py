"""Streaming-specific tests beyond the oracle harness: multi-microbatch
state carry-over for the stateful sessionizer (the production path where a
user's events span many batches), and watermark-driven timeout emission."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xgboost_ray_spark.streaming.stateful import sessionize_stream
from xgboost_ray_spark.streaming.windows import run_stream_to_memory

TS = pd.Timestamp("2026-01-01 00:00:00")


def _mk_events(spark, rows):
    """rows: (user_id, minutes_offset, event_id, value)"""
    pdf = pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "ts": [TS + pd.Timedelta(minutes=r[1]) for r in rows],
            "event_id": [r[2] for r in rows],
            "value": [float(r[3]) for r in rows],
        }
    )
    return spark.createDataFrame(pdf)


def _run_batches(spark, tmp_path, batches):
    """Write each batch as one parquet file; replay with maxFilesPerTrigger=1
    so each file arrives as its own microbatch, in order."""
    src = str(tmp_path / "stream_src")
    for i, rows in enumerate(batches):
        _mk_events(spark, rows).coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sessions = sessionize_stream(stream)
    return run_stream_to_memory(sessions, spark, output_mode="append")


def test_session_continues_across_batches(spark, tmp_path):
    """Events 10 minutes apart across two microbatches are ONE session; the
    carried state must merge, not emit two fragments."""
    out = _run_batches(
        spark,
        tmp_path,
        [
            [(1, 0, 1, 1.5), (1, 10, 2, 2.5)],
            # batch 2: continues (gap 10m), then a >30m gap opens session 2,
            # and a final event far ahead closes session 2 via gap
            [(1, 20, 3, 3.0), (1, 70, 4, 4.0), (1, 200, 5, 5.0)],
        ],
    )
    rows = sorted(out.collect(), key=lambda r: r.session_start)
    # session 1: minutes 0-20 (3 events, sum 7.0); session 2: minute 70
    assert len(rows) == 2
    s1, s2 = rows
    assert s1.n_events == 3 and abs(s1.sum_value - 7.0) < 1e-9
    assert s1.session_start == TS and s1.session_end == TS + pd.Timedelta(minutes=20)
    assert s2.n_events == 1 and abs(s2.sum_value - 4.0) < 1e-9


def test_gap_across_batches_closes_carried_session(spark, tmp_path):
    """A >30m gap between batch 1's last event and batch 2's first event
    must close the carried session and emit it."""
    out = _run_batches(
        spark,
        tmp_path,
        [
            [(7, 0, 1, 1.0)],
            [(7, 45, 2, 2.0), (7, 300, 3, 3.0)],
        ],
    )
    rows = sorted(out.collect(), key=lambda r: r.session_start)
    assert len(rows) == 2
    assert rows[0].n_events == 1 and abs(rows[0].sum_value - 1.0) < 1e-9
    assert rows[1].n_events == 1 and abs(rows[1].sum_value - 2.0) < 1e-9
    assert rows[1].session_start == TS + pd.Timedelta(minutes=45)


def test_timeout_emits_open_session(spark, tmp_path):
    """A second user's much-later event advances the watermark past the
    first user's open-session timeout, forcing a timeout emission."""
    out = _run_batches(
        spark,
        tmp_path,
        [
            [(1, 0, 1, 1.0)],
            # user 2 at minute 600 pushes watermark to ~590m; user 1's
            # timeout (0 + 30m) is far behind it -> timeout fires
            [(2, 600, 2, 9.0)],
        ],
    )
    rows = [r for r in out.collect() if r.user_id == 1]
    assert len(rows) == 1
    assert rows[0].n_events == 1 and abs(rows[0].sum_value - 1.0) < 1e-9


def test_multiple_users_isolated(spark, tmp_path):
    """State is per-user: interleaved users never share sessions."""
    out = _run_batches(
        spark,
        tmp_path,
        [
            [(1, 0, 1, 1.0), (2, 1, 2, 10.0), (1, 5, 3, 2.0), (2, 6, 4, 20.0)],
            [(1, 100, 5, 0.5), (2, 101, 6, 0.25)],
        ],
    )
    rows = out.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == {1, 2}
    (u1,) = by_user[1]
    (u2,) = by_user[2]
    assert u1.n_events == 2 and abs(u1.sum_value - 3.0) < 1e-9
    assert u2.n_events == 2 and abs(u2.sum_value - 30.0) < 1e-9


def test_cdc_upsert_merges_across_microbatches(spark):
    """The foreachBatch upsert must actually carry state across batch
    boundaries: four source files -> four microbatches -> four versioned
    snapshots, and the final snapshot holds exactly one row per user
    (the global latest, regardless of which batch carried it)."""
    import os

    from xgboost_ray_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    out = all_queries()["s25i_stream_cdc_upsert"].build(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) == len({r.user_id for r in rows}), "one row per key"
    versions = sorted(os.listdir("/root/repo/.scratch/cdc_upsert/snaps"))
    assert len(versions) == 4, f"expected 4 microbatch snapshots: {versions}"


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """Exactly-once across a stop/restart: two runs of the same query over
    a growing source directory, sharing one checkpoint, must process every
    source row exactly once — the second run picks up ONLY the file that
    arrived while the stream was down (no duplicates, no loss)."""
    import os

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from xgboost_ray_spark.catalog import load_table

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value"
    )
    part1 = events.filter(F.col("event_id") % 3 != 2)
    part2 = events.filter(F.col("event_id") % 3 == 2)
    part1.coalesce(1).write.parquet(src + "/batch_a")
    schema = spark.read.parquet(src + "/batch_a").schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()  # first run sees only batch_a
    n_first = spark.read.parquet(sink).count()
    assert n_first == part1.count()

    part2.coalesce(1).write.parquet(src + "/batch_b")
    run_once()  # restart from the same checkpoint

    got = spark.read.parquet(sink)
    assert got.count() == events.count(), "no loss, no duplicates"
    assert got.select("event_id").distinct().count() == events.count()


def test_stateful_sessions_on_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state backend is RocksDB, not the default HDFS-backed
    in-heap map — unbounded key cardinality must spill to local disk
    instead of growing the executor heap. The stateful sessionizer must
    produce identical output on that provider (same multi-batch state
    carry-over as test_session_continues_across_batches)."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    before = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    try:
        out = _run_batches(
            spark,
            tmp_path,
            [
                [(1, 0, 1, 1.5), (1, 10, 2, 2.5)],
                [(1, 20, 3, 3.0), (1, 70, 4, 4.0), (1, 200, 5, 5.0)],
            ],
        )
        rows = sorted(out.collect(), key=lambda r: r.session_start)
    finally:
        if before is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, before)
    assert len(rows) == 2
    s1, s2 = rows
    assert s1.n_events == 3 and abs(s1.sum_value - 7.0) < 1e-9
    assert s2.n_events == 1 and abs(s2.sum_value - 4.0) < 1e-9


def test_transform_with_state_v2_running_count(spark, tmp_path):
    """transformWithState v2 (Spark 4.1 StatefulProcessor): per-key
    ValueState carried across microbatches on the RocksDB provider — the
    successor API to applyInPandasWithState for custom stateful logic.

    ENVIRONMENT-GATED like the xgboost barrier path: the v2 state
    protocol speaks protobuf between the JVM and the Python state
    worker, and this container ships no google.protobuf — the test
    skips here and runs wherever protobuf exists. (Verified: without
    protobuf the query fails with STREAMING_PYTHON_RUNNER_
    INITIALIZATION_FAILURE from StateMessage_pb2.)"""
    pytest.importorskip("google.protobuf")
    from pyspark.sql.streaming import StatefulProcessor

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    before = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    try:
        src = str(tmp_path / "tws_src")
        _mk_events(spark, [(1, 0, 1, 1.0), (1, 1, 2, 1.0), (2, 2, 3, 1.0)]) \
            .coalesce(1).write.mode("overwrite").parquet(src)
        _mk_events(spark, [(1, 3, 4, 1.0), (2, 4, 5, 1.0), (2, 5, 6, 1.0)]) \
            .coalesce(1).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        class RunningCount(StatefulProcessor):
            def init(self, handle):
                self.state = handle.getValueState("count", "n bigint")

            def handleInputRows(self, key, rows, timer_values):
                n = sum(len(pdf) for pdf in rows)
                prev = self.state.get()
                total = (prev[0] if prev else 0) + n
                self.state.update((total,))
                yield pd.DataFrame(
                    {"user_id": [key[0]], "n_events": [total]}
                )

            def close(self):
                pass

        out = stream.groupBy("user_id").transformWithStateInPandas(
            RunningCount(),
            outputStructType="user_id bigint, n_events bigint",
            outputMode="Update",
            timeMode="None",
        )
        name = "tws_out"
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        if before is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, before)
    # Update mode emits one row per key per touched batch; the LAST
    # update per key must be the cross-batch running total.
    last = {}
    for r in rows:
        last[r.user_id] = max(last.get(r.user_id, 0), r.n_events)
    assert last == {1: 3, 2: 3}


def test_session_window_emits_at_exact_watermark_boundary(spark, tmp_path):
    """Append-mode session_window emits a session whose close boundary
    EQUALS the final watermark (verified; the s25k oracle uses '<=' for
    exactly this reason — strict '<' drops the row). Replay: u1 at t+0,
    u2 at t+40min -> watermark lands at t+30min == u1's session end."""
    src = str(tmp_path / "sw_src")
    _mk_events(spark, [(1, 0, 1, 1.0), (2, 40, 2, 1.0)]).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.end").alias("session_end"), "n_events")
    )
    out = run_stream_to_memory(agg, spark, output_mode="append")
    rows = out.collect()
    assert any(r.user_id == 1 for r in rows), (
        "the boundary-aligned session must be emitted: " + str(rows)
    )


def test_cdc_snapshot_sink_recovers_from_disk_after_restart(spark, tmp_path):
    """The versioned MERGE sink must survive a driver restart: the merge
    base is recovered from disk, so a replayed batch (same batch_id,
    fresh driver with no in-memory state) merges against the snapshot
    BELOW it and rewrites its own output idempotently — no earlier keys
    are lost."""
    from xgboost_ray_spark.streaming.queries import snapshot_merge_sink

    snaps = str(tmp_path / "snaps")
    import os

    os.makedirs(snaps)

    def ev(rows):
        # latest_per_key expects the events schema incl. event_type.
        return _mk_events(spark, rows).withColumn(
            "event_type", F.lit("click")
        )

    merge, committed = snapshot_merge_sink(snaps)
    merge(ev([(1, 0, 1, 1.0), (2, 1, 2, 2.0)]), 0)       # batch 0
    merge(ev([(1, 10, 3, 3.0)]), 1)                       # batch 1
    # -- driver crash: a NEW sink instance (no shared memory) replays
    # batch 1, then continues with batch 2.
    merge2, committed2 = snapshot_merge_sink(snaps)
    merge2(ev([(1, 10, 3, 3.0)]), 1)                      # replay of batch 1
    merge2(ev([(3, 20, 4, 4.0)]), 2)                      # batch 2
    assert committed2() == [0, 1, 2]
    final = spark.read.parquet(os.path.join(snaps, "v2"))
    rows = {r.user_id: (r.event_id, r.value) for r in final.collect()}
    # user 2 arrived only in batch 0 — it must survive the replay;
    # user 1's latest is batch 1's event 3; user 3 is batch 2's.
    assert rows == {1: (3, 3.0), 2: (2, 2.0), 3: (4, 4.0)}


def test_late_event_does_not_kill_stateful_query(spark, tmp_path):
    """applyInPandasWithState does NOT drop late rows: a batch arriving
    entirely below the watermark must not crash the query with
    INVALID_TIMEOUT_TIMESTAMP — the open session's timeout clamps to
    just above the watermark and closes on the next advance."""
    out = _run_batches(
        spark,
        tmp_path,
        [
            # watermark after batch 1: minute 100 - 10 = 90
            [(1, 0, 1, 1.0), (2, 100, 2, 2.0)],
            # batch 2 is entirely LATE for a new user (minute 10 << 90):
            # its session timeout (10 + 30 = 40) is below the watermark
            [(3, 10, 3, 3.0)],
        ],
    )
    rows = out.collect()  # must not raise StreamingQueryException
    # user 1's session (timeout at minute 30 < watermark 90) was emitted
    # by the event-time timeout path.
    assert any(r.user_id == 1 for r in rows)


def test_s25c_append_output_matches_golden_digest(spark):
    """s25c is rows-only at the driver (append-mode emission timing is not
    SQL-expressible), so pin the full deterministic replay output here:
    row count and an order-insensitive content digest at sf0.01 under the
    suite's fixture session. Any change to watermark arithmetic, window
    assignment, or the file-replay source moves this digest. The digest
    also encodes the installed pyspark version's streaming semantics: a
    failure right after a dependency bump means re-derive the pin, not a
    code regression."""
    import hashlib

    from tests.conftest import SF_ORACLE
    from xgboost_ray_spark.registry import all_queries

    df = all_queries()["s25c_stream_watermark_append"].build(
        spark, SF_ORACLE
    )
    rows = sorted(tuple(str(v) for v in r) for r in df.collect())
    digest = hashlib.md5(repr(rows).encode()).hexdigest()
    assert (len(rows), digest) == (
        3380,
        "77ad9c219242e1526f009fba5cc7f73e",
    )


def test_s25d_progress_reports_slot_sized_state_batches(spark):
    """The memory-sink runner keeps the finished query's progress. s25d's
    one-file replay runs two micro-batches (the data batch, then the
    no-data batch that fires event-time timeouts), and its stateful
    shuffle is sized to the session's task slots, at most 8."""
    from tests.conftest import SF_SMOKE
    from xgboost_ray_spark.registry import all_queries
    from xgboost_ray_spark.streaming import windows as sw

    all_queries()["s25d_stateful_sessions"].build(spark, SF_SMOKE).collect()
    progress = sw.LAST_STREAM_PROGRESS
    assert sorted({p["batchId"] for p in progress}) == [0, 1]
    assert {
        op["numShufflePartitions"]
        for p in progress
        for op in p["stateOperators"]
    } == {min(8, spark.sparkContext.defaultParallelism)}


class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState stand-in for driving the
    sessionizer kernel directly — the stream harness tests above cover
    the engine wiring; this one isolates the KERNEL's boundary
    arithmetic, which real event data never lands on exactly."""

    def __init__(self, value=None, watermark_ms=0):
        self._v = value
        self.hasTimedOut = False
        self._wm = watermark_ms
        self.timeout_set_to = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        self.timeout_set_to = ms


def test_sessionizer_kernel_exact_gap_boundary():
    """The session gap is STRICTLY greater-than (> GAP_US, matching the
    batch operator's `> 30*60*1e6` microsecond comparison): two events
    exactly GAP_US apart are ONE session; one microsecond more splits
    them. Covered at both places the kernel compares — within a batch
    (np.diff leg) and against carried state (first-event leg) — because
    real event data never lands on the boundary and the two legs are
    separate code paths."""
    import pandas as pd

    from xgboost_ray_spark.streaming.stateful import (
        GAP_US,
        close_user_sessions,
    )

    def batch(ts_us_list):
        return pd.DataFrame(
            {
                "user_id": [7] * len(ts_us_list),
                "ts": pd.to_datetime(pd.Series(ts_us_list), unit="us"),
                "event_id": range(len(ts_us_list)),
                "value": [1.0] * len(ts_us_list),
            }
        )

    t0 = 1_700_000_000_000_000  # epoch us

    # Within one batch: exact gap -> one open session, nothing closed.
    st = _FakeGroupState()
    out = list(close_user_sessions((7,), iter([batch([t0, t0 + GAP_US])]), st))
    assert out == [] and st.get[2] == 2, "exact gap must NOT split"

    # Within one batch: gap + 1 us -> first session closes with 1 event.
    st = _FakeGroupState()
    out = list(
        close_user_sessions((7,), iter([batch([t0, t0 + GAP_US + 1])]), st)
    )
    assert len(out) == 1 and int(out[0]["n_events"].iloc[0]) == 1
    assert st.get[2] == 1, "second event opens a fresh session"

    # Across batches: first event exactly GAP_US after the carried
    # last_us continues the carried session (n merges to 3).
    carried = (t0, t0 + 60, 2, 2_000_000)
    st = _FakeGroupState(value=carried)
    out = list(
        close_user_sessions((7,), iter([batch([t0 + 60 + GAP_US])]), st)
    )
    assert out == [] and st.get[2] == 3, "exact cross-batch gap continues"

    # Across batches: one microsecond more emits the carried session.
    st = _FakeGroupState(value=carried)
    out = list(
        close_user_sessions((7,), iter([batch([t0 + 60 + GAP_US + 1])]), st)
    )
    assert len(out) == 1 and int(out[0]["n_events"].iloc[0]) == 2
    assert st.get[2] == 1, "carried session closed, new one open"


def test_sessionizer_kernel_multichunk_unsorted_segments():
    """The r15 numpy kernel (lexsort + flatnonzero + add.reduceat) must
    reproduce the documented semantics when events arrive UNSORTED and
    split across several iterator chunks — the two conditions the
    vectorized segment math actually depends on: (1) chunks concatenate
    then order stably by (ts, event_id); (2) reduceat segment sums equal
    per-session groupby sums in exact int64 micros."""
    import numpy as np
    import pandas as pd

    from xgboost_ray_spark.streaming.stateful import (
        GAP_US,
        close_user_sessions,
    )

    t0 = 1_700_000_000_000_000
    # Three sessions: [t0, t0+10], [t0+gap*2, t0+gap*2+5], [t0+gap*5]
    ts = [t0, t0 + 10, t0 + GAP_US * 2, t0 + GAP_US * 2 + 5, t0 + GAP_US * 5]
    vals = [1.25, 2.5, 0.000001, 4.0, 8.0]
    rows = pd.DataFrame(
        {
            "user_id": np.full(5, 9, dtype=np.int64),
            "ts": pd.to_datetime(pd.Series(ts), unit="us"),
            "event_id": np.arange(5, dtype=np.int64),
            "value": vals,
        }
    )
    # Arrive shuffled AND in two chunks.
    shuffled = rows.iloc[[3, 0, 4, 1, 2]].reset_index(drop=True)
    chunks = iter(
        [shuffled.iloc[:2].reset_index(drop=True),
         shuffled.iloc[2:].reset_index(drop=True)]
    )
    st = _FakeGroupState()
    out = list(close_user_sessions((9,), chunks, st))
    assert len(out) == 1
    emitted = out[0]
    # Two closed sessions, chronological; third stays open in state.
    assert list(emitted["n_events"]) == [2, 2]
    assert list(emitted["session_start"]) == [
        pd.Timestamp(t0 * 1000),
        pd.Timestamp((t0 + GAP_US * 2) * 1000),
    ]
    assert list(emitted["session_end"]) == [
        pd.Timestamp((t0 + 10) * 1000),
        pd.Timestamp((t0 + GAP_US * 2 + 5) * 1000),
    ]
    # Exact micros summation (1.25 + 2.5 == 3.75; 1e-6 + 4.0 == 4.000001).
    assert list(emitted["sum_value"]) == [3.75, 4.000001]
    # Open session carried: start == end == t0+5*gap, n == 1, 8.0 in micros.
    assert st.get == (t0 + GAP_US * 5, t0 + GAP_US * 5, 1, 8_000_000)


def test_sessionizer_kernel_edge_guards():
    """The two ADVICE r15 kernel edges: (1) a zero-row invocation
    (iterator of only empty chunks) must not crash — it re-arms the
    carried session's timeout and emits nothing; (2) a timestamp past
    the datetime64[ns] horizon must fail LOUDLY (the old pd.to_datetime
    raised OutOfBoundsDatetime; the numpy fast path would silently wrap
    without the guard)."""
    import numpy as np
    import pandas as pd
    import pytest

    from xgboost_ray_spark.streaming.stateful import (
        GAP_US,
        _NS_HORIZON_US,
        close_user_sessions,
    )

    empty = pd.DataFrame(
        {
            "user_id": pd.Series([], dtype=np.int64),
            "ts": pd.to_datetime(pd.Series([], dtype=np.int64), unit="us"),
            "event_id": pd.Series([], dtype=np.int64),
            "value": pd.Series([], dtype=np.float64),
        }
    )

    # Zero-row batch, no carried state: no output, no state, no timeout.
    st = _FakeGroupState()
    out = list(close_user_sessions((7,), iter([empty]), st))
    assert out == [] and not st.exists and st.timeout_set_to is None

    # Zero-row batch with carried state: state untouched, timeout re-armed
    # to the same instant the last data batch armed (clamped above the
    # watermark).
    t0 = 1_700_000_000_000_000
    carried = (t0, t0 + 60, 2, 2_000_000)
    st = _FakeGroupState(value=carried, watermark_ms=0)
    out = list(close_user_sessions((7,), iter([empty, empty]), st))
    assert out == [] and st.get == carried
    assert st.timeout_set_to == (t0 + 60 + GAP_US) // 1000

    # Past-horizon timestamp: loud OverflowError, not a wrapped datetime.
    # Driven through the timeout path (state carries the bad value, the
    # timeout fires, _emit_frame must refuse) — constructing an
    # over-horizon datetime64 INPUT column would itself wrap in numpy.
    over = _NS_HORIZON_US + 10
    st = _FakeGroupState(value=(over, over, 1, 1_000_000))
    st.hasTimedOut = True
    with pytest.raises(OverflowError, match="horizon"):
        list(close_user_sessions((7,), iter([]), st))
