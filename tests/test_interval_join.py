"""Stream-stream interval join: streaming result must equal the batch
join on the same fixture data (inner join, append mode), and join state
must be watermark-bounded."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from window_aggregation_spark.sources.io import read_table
from window_aggregation_spark.streaming.interval_join import interval_join

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    import shutil

    d = tmp_path_factory.mktemp("events_ij")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def _sides(df):
    left = df.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    right = df.where("event_type = 'error'").select(
        F.col("event_id").alias("e_id"),
        "user_id",
        F.col("ts").alias("ts_r"),
    )
    return left, right


def _pairs(df):
    return {(r["p_id"], r["e_id"]) for r in df.collect()}


def test_stream_equals_batch(spark, sf_dir, events_dir):
    batch = read_table(spark, sf_dir, "events")
    bl, br = _sides(batch)
    want = _pairs(
        interval_join(bl, br, ["user_id"], "ts", "ts_r", upper="30 minutes")
    )
    assert want  # fixture must actually produce matches

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    sl, sr = _sides(stream)
    out = interval_join(sl, sr, ["user_id"], "ts", "ts_r", upper="30 minutes")
    assert out.isStreaming
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _pairs(spark.table("ij_out"))
    assert got == want


def test_left_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    """how='left': unmatched purchases must be emitted with NULL e_id once
    the watermark proves no error can still match — a FINITE stream drains
    every held-back tail row using the operator's own flush_sentinel /
    is_flush_sentinel helpers (no hand-rolled sentinel rows), and the
    streaming result equals the batch left join."""
    import shutil

    from window_aggregation_spark.streaming.interval_join import (
        flush_sentinel,
        is_flush_sentinel,
    )

    batch = read_table(spark, sf_dir, "events")
    bl, br = _sides(batch)
    want = _pairs(
        interval_join(
            bl, br, ["user_id"], "ts", "ts_r", upper="30 minutes", how="left"
        )
    )
    assert any(e is None for _, e in want)  # unmatched purchases exist

    d = tmp_path / "events_left"
    d.mkdir()
    shutil.copy(f"{events_dir}/events.parquet", d / "events.parquet")
    # one sentinel per SIDE: the global watermark is the min over all
    # watermark nodes, and each side's node only sees its own event_type —
    # a purchase-only sentinel would leave the error-side watermark at the
    # fixture tail and hold back the last unmatched purchases. Join keys
    # get never-matching NEGATIVE ids: NULL keys would be eaten by the
    # isnotnull(key) constraint Catalyst pushes into the non-preserved
    # side's scan (the helper refuses them).
    sentinel = flush_sentinel(
        batch, "ts", keys=("user_id",),
        overrides={"event_id": 10**12, "user_id": -1,
                   "event_type": "purchase"},
    ).unionByName(
        flush_sentinel(
            batch, "ts", keys=("user_id",),
            overrides={"event_id": 10**12 + 1, "user_id": -2,
                       "event_type": "error"},
        )
    )
    with pytest.raises(ValueError, match="non-NULL never-matching"):
        flush_sentinel(batch, "ts", keys=("user_id",),
                       overrides={"event_type": "purchase"})
    # the sentinel timestamp goes through at=, never overrides (the ts
    # branch would otherwise silently supersede the caller's value)
    with pytest.raises(ValueError, match="at="):
        flush_sentinel(batch, "ts", overrides={"ts": "2099-01-01"})
    sentinel.coalesce(1).write.parquet(str(d / "zz_sentinel"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    sl, sr = _sides(stream)
    out = interval_join(
        sl, sr, ["user_id"], "ts", "ts_r", upper="30 minutes", how="left"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_left_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the sentinel filter goes on the SINK TABLE, never the streaming plan
    # (a plan-side predicate is pushed through the outer join into both
    # scans and kills the very rows the sentinels exist to flush)
    got = _pairs(spark.table("ij_left_out").where(~is_flush_sentinel("ts")))
    assert got == want


@pytest.mark.parametrize("how", ["inner", "left"])
def test_watermarked_stream_evicts_join_state(spark, tmp_path, how):
    """The watermark plus the join's time bound let Spark evict join
    state: over three time-ordered micro-batches, rows are removed
    (``numRowsRemoved`` > 0), the state's peak stays below the input, and
    the state at the end is no larger than its peak (``recentProgress``)."""
    import datetime as dt
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    n_files, per_file = 3, 60
    for f in range(n_files):
        ids = range(f * per_file, (f + 1) * per_file)
        path = str(tmp_path / f"events-{f}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(minutes=3 * i) for i in ids],
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([i % 4 for i in ids], pa.int64()),
            "event_type": ["purchase" if i % 2 else "error" for i in ids],
        }), path)
        # the file source orders by mtime: keep the files in time order
        os.utime(path, (1e9 + f, 1e9 + f))
    stream = (
        spark.readStream
        .schema("event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events-*.parquet")
        .parquet(str(tmp_path))
    )
    left = stream.where("event_type = 'purchase'").select(
        F.col("event_id").alias("p_id"), "user_id", "ts"
    )
    right = stream.where("event_type = 'error'").select(
        F.col("event_id").alias("e_id"), "user_id", F.col("ts").alias("ts_r")
    )
    out = interval_join(left, right, ["user_id"], "ts", "ts_r",
                        upper="30 minutes", watermark="2 hours", how=how)
    # one state-store partition: a few hundred rows need no more
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        q = (
            out.writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    state, removed = [], 0
    for p in q.recentProgress:
        ops = json.loads(p.json).get("stateOperators") or []
        state.append(sum(op.get("numRowsTotal", 0) for op in ops))
        removed += sum(op.get("numRowsRemoved", 0) for op in ops)
    assert len(state) >= n_files
    assert removed > 0
    assert 0 < max(state) < n_files * per_file
    assert state[-1] <= max(state)


def test_left_half_open_bounds_null_fill(spark):
    left = spark.createDataFrame(
        [(1, 7, "2024-01-01 10:00:00"), (2, 8, "2024-01-01 10:05:00")],
        "p_id long, user_id long, s string",
    ).select("p_id", "user_id", F.to_timestamp("s").alias("ts"))
    right = spark.createDataFrame(
        [(9, 7, "2024-01-01 10:00:00")], "e_id long, user_id long, s string"
    ).select("e_id", "user_id", F.to_timestamp("s").alias("ts_r"))
    got = _pairs(
        interval_join(
            left, right, ["user_id"], "ts", "ts_r",
            upper="15 minutes", how="left",
        )
    )
    assert got == {(1, 9), (2, None)}


def test_mixed_batch_stream_rejected(spark, sf_dir, events_dir):
    batch = read_table(spark, sf_dir, "events")
    bl, _ = _sides(batch)
    stream = spark.readStream.schema(SCHEMA).parquet(events_dir)
    _, sr = _sides(stream)
    with pytest.raises(ValueError):
        interval_join(bl, sr, ["user_id"], "ts", "ts_r")


def test_half_open_bounds(spark):
    left = spark.createDataFrame(
        [(1, 7, "2024-01-01 10:00:00"), (2, 7, "2024-01-01 10:15:00")],
        "p_id long, user_id long, s string",
    ).select("p_id", "user_id", F.to_timestamp("s").alias("ts"))
    right = spark.createDataFrame(
        [(9, 7, "2024-01-01 10:00:00")], "e_id long, user_id long, s string"
    ).select("e_id", "user_id", F.to_timestamp("s").alias("ts_r"))
    got = _pairs(
        interval_join(left, right, ["user_id"], "ts", "ts_r", upper="15 minutes")
    )
    # 10:00 == right_ts + lower: included; 10:15 == right_ts + upper: excluded
    assert got == {(1, 9)}


def test_keyless_rejected_toward_range_join(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "p_id long, s string"
    ).select("p_id", F.to_timestamp("s").alias("ts"))
    right = spark.createDataFrame(
        [(9, "2024-01-01 10:00:00")], "e_id long, s string"
    ).select("e_id", F.to_timestamp("s").alias("ts_r"))
    with pytest.raises(ValueError, match="range_join"):
        interval_join(left, right, [], "ts", "ts_r")


def test_spec_drain_composite_key_left_join(spark, tmp_path):
    """VERDICT r9 #5: IntervalJoinSpec.drain_sentinels derives BOTH
    sides' sentinels from the spec itself — every component of a
    COMPOSITE key auto-filled with a per-side never-matching value, no
    manual overrides — and strip_sentinels removes them from the sink
    by timestamp AND key values, so a real row that legitimately
    carries the sentinel timestamp survives the strip (ADVICE r9)."""
    from window_aggregation_spark.streaming.interval_join import (
        SENTINEL_TS,
        IntervalJoinSpec,
    )

    spec = IntervalJoinSpec(
        ["k1", "k2"], "ts", "ts_r", upper="30 minutes", how="left"
    )
    left_rows = [
        (1, 10, "a", "2024-01-01 10:00:00"),
        (2, 10, "a", "2024-01-01 11:00:00"),  # unmatched (tail row)
        (3, 20, "b", "2024-01-01 10:05:00"),
        (4, 20, "c", "2024-01-01 10:05:00"),  # unmatched: k2 differs
        # a REAL (matched) row at the sentinel timestamp: matched rows
        # emit without waiting for the watermark, so it reaches the sink
        # carrying ts == SENTINEL_TS — a ts-only filter would eat it;
        # the key-aware strip must keep it
        (5, 30, "z", SENTINEL_TS),
    ]
    right_rows = [
        (101, 10, "a", "2024-01-01 09:45:00"),
        (102, 20, "b", "2024-01-01 09:50:00"),
        (103, 30, "z", SENTINEL_TS),  # real match at the sentinel ts
    ]
    lschema = "p_id long, k1 long, k2 string, ts timestamp"
    rschema = "e_id long, k1 long, k2 string, ts_r timestamp"
    bl = spark.createDataFrame(
        [(i, a, b, None) for i, a, b, _ in left_rows], lschema
    ).drop("ts").join(
        spark.createDataFrame(left_rows,
                              "p_id long, k1 long, k2 string, s string")
        .select("p_id", F.to_timestamp("s").alias("ts")), "p_id"
    ).select("p_id", "k1", "k2", "ts")
    br = spark.createDataFrame(
        [(i, a, b, None) for i, a, b, _ in right_rows], rschema
    ).drop("ts_r").join(
        spark.createDataFrame(right_rows,
                              "e_id long, k1 long, k2 string, s string")
        .select("e_id", F.to_timestamp("s").alias("ts_r")), "e_id"
    ).select("e_id", "k1", "k2", "ts_r")
    want = _pairs(spec.join(bl, br))
    assert (2, None) in want and (4, None) in want and (5, 103) in want

    ld, rd = tmp_path / "left", tmp_path / "right"
    bl.coalesce(1).write.parquet(str(ld / "data"))
    br.coalesce(1).write.parquet(str(rd / "data"))
    # sentinels: no key overrides needed (or allowed) — the spec fills
    # every key component per side
    ls, rs = spec.drain_sentinels(bl, br)
    with pytest.raises(ValueError, match="auto-chosen"):
        spec.drain_sentinels(bl, br, left_overrides={"k1": -1})
    ls.coalesce(1).write.parquet(str(ld / "zz_sentinel"))
    rs.coalesce(1).write.parquet(str(rd / "zz_sentinel"))
    sl = (
        spark.readStream.schema(lschema).option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true").parquet(str(ld))
    )
    sr = (
        spark.readStream.schema(rschema).option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true").parquet(str(rd))
    )
    out = spec.join(sl, sr)
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("ij_spec_drain").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _pairs(spec.strip_sentinels(spark.table("ij_spec_drain")))
    assert got == want


def test_spec_strip_handles_float_keys_and_refuses_missing_keys(spark):
    """Review findings, pinned: (a) float32 sentinel key values round on
    storage — strip_sentinels must cast its literal to the column type
    or the equality never matches again; (b) a sink missing the key
    columns must RAISE instead of silently degrading to ts-only
    matching (which would strip real rows at the sentinel timestamp)."""
    from window_aggregation_spark.streaming.interval_join import (
        SENTINEL_TS,
        IntervalJoinSpec,
        _sentinel_key_value,
    )

    spec = IntervalJoinSpec(["fk"], "ts", "ts_r")
    template = spark.createDataFrame(
        [(1.5, "2024-01-01 00:00:00")], "fk float, s string"
    ).select("fk", F.to_timestamp("s").alias("ts"))
    sent, _ = spec.drain_sentinels(template, template.withColumnRenamed(
        "ts", "ts_r"))
    # fake sink: the stored (float32-rounded) sentinel plus a real row
    # that legitimately carries the sentinel timestamp
    sink = sent.unionByName(
        template.where(F.lit(True)).select(
            F.lit(1.5).cast("float").alias("fk"),
            F.to_timestamp(F.lit(SENTINEL_TS)).alias("ts"),
        )
    )
    kept = spec.strip_sentinels(sink).collect()
    assert len(kept) == 1 and abs(kept[0]["fk"] - 1.5) < 1e-6
    # the bug the cast fixes: the RIGHT side's double literal is not
    # float32-representable, so the stored value differs from it — an
    # uncast equality could never match it again
    import struct as _struct

    rv = _sentinel_key_value("fk", "float", 1)
    assert _struct.unpack("f", _struct.pack("f", rv))[0] != rv
    with pytest.raises(ValueError, match="not in the sink"):
        spec.strip_sentinels(sink.drop("fk"))


def test_spec_strip_left_join_refuses_missing_left_ts(spark):
    """ADVICE r10 (medium): under how='left' the LEFT drain sentinel IS
    emitted to the sink (NULL right payload, extreme key values) — a
    sink that dropped left_ts must RAISE, not silently let the sentinel
    survive into downstream results. The RIGHT side's ts staying
    droppable is fine: inner/left joins never emit the right sentinel."""
    from window_aggregation_spark.streaming.interval_join import (
        IntervalJoinSpec,
    )

    sink = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-01 00:01:00")],
        "fk int, s string, s_r string",
    ).select(
        "fk",
        F.to_timestamp("s").alias("ts"),
        F.to_timestamp("s_r").alias("ts_r"),
    )
    left_spec = IntervalJoinSpec(["fk"], "ts", "ts_r", how="left")
    with pytest.raises(ValueError, match="left drain sentinel"):
        left_spec.strip_sentinels(sink.drop("ts"))
    # right ts missing is tolerated on both join types (never emitted)
    assert left_spec.strip_sentinels(sink.drop("ts_r")).count() == 1
    inner_spec = IntervalJoinSpec(["fk"], "ts", "ts_r", how="inner")
    # inner join with left ts missing: left sentinel never matches, so
    # it never reaches the sink — skipping stays safe
    assert inner_spec.strip_sentinels(sink.drop("ts")).count() == 1


def test_spec_drain_refuses_template_missing_ts(spark):
    """ADVICE r10 (low): a drain template missing its side's ts column
    would let flush_sentinel emit a sentinel with NO event time — one
    that never advances the watermark, the exact silent-drain failure
    this API exists to prevent. Must raise, same style as missing keys."""
    from window_aggregation_spark.streaming.interval_join import (
        IntervalJoinSpec,
    )

    spec = IntervalJoinSpec(["fk"], "ts", "ts_r")
    template = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "fk int, s string"
    ).select("fk", F.to_timestamp("s").alias("ts"))
    with pytest.raises(ValueError, match="timestamp column 'ts'"):
        spec.drain_sentinels(template.drop("ts"),
                             template.withColumnRenamed("ts", "ts_r"))
    with pytest.raises(ValueError, match="timestamp column 'ts_r'"):
        spec.drain_sentinels(template, template)
