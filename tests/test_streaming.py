"""Streaming semantics tests (SURVEY §5 item 4-5): deterministic
Trigger.AvailableNow runs over the events table — segmentation
rollups, stateful as-of join vs the batch oracle, throttle, fan-out
sinks with retention, and checkpoint restart.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from awskinesisconsumer_spark.io import load_table
from awskinesisconsumer_spark.operators import asof_join_next_boundary
from awskinesisconsumer_spark.streaming import (
    asof_join_stream,
    events_stream,
    frame_pipeline,
    segment_rollup_stream,
)
from awskinesisconsumer_spark.streaming.sinks import BoundedMemorySink, start_fanout

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


def _run_available_now(df, tmp_path, name):
    """Run a streaming DF to completion into a memory table."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()  # no zombie queries bleeding into later tests
    return q


def test_asof_stream_matches_batch(spark, tmp_path):
    stream = events_stream(spark, SF)
    out = asof_join_stream(stream)
    _run_available_now(out, tmp_path, "asof_stream")
    got = {
        (r.user_id, r.event_id): r.tag_event_id
        for r in spark.sql("SELECT * FROM asof_stream").collect()
    }

    # Streaming emits only packets whose boundary arrived (orphans stay
    # in state) == exactly the batch rows with a non-null tag.
    want = {
        (r.user_id, r.event_id): r.tag_event_id
        for r in asof_join_next_boundary(
            load_table(spark, "events", SF),
            key="user_id", order="event_id",
            is_boundary=F.col("event_type") == "signup",
            boundary_cols=[],
        ).where(F.col("tag_event_id").isNotNull()).collect()
    }
    assert got == want


def test_segment_rollup_stream_runs(spark, tmp_path):
    stream = events_stream(spark, SF)
    out = segment_rollup_stream(stream, gap="30 minutes")
    _run_available_now(out, tmp_path, "seg_stream")
    rows = spark.sql("SELECT * FROM seg_stream").collect()
    assert len(rows) > 0
    ev = load_table(spark, "events", SF)
    total = ev.count()
    emitted = sum(r.n_rows for r in rows)
    # Append mode withholds sessions still open at the final watermark
    # (max_ts - delay): emitted <= total, and only the tail is held.
    assert emitted <= total
    assert emitted >= total * 0.9, f"too much held back: {emitted}/{total}"


def test_frame_pipeline_fanout_and_retention(spark, tmpdirs):
    from awskinesisconsumer_spark.streaming.lifecycle import ProgressListener

    out_dir, ckpt = tmpdirs
    listener = ProgressListener()
    spark.streams.addListener(listener)
    stream = events_stream(spark, SF)
    frames, errors = frame_pipeline(stream)
    sink = BoundedMemorySink(k=10)
    fq, eq = start_fanout(
        frames, errors, out_dir=out_dir, checkpoint_dir=ckpt, memory_sink=sink
    )
    fq.awaitTermination(120)
    eq.awaitTermination(120)
    import time as _t
    _t.sleep(1)  # listener events are delivered asynchronously
    spark.streams.removeListener(listener)

    # retention cap honored (row 15)
    assert len(sink) <= 10
    # last-row query (row 19): the newest admitted frame
    last = sink.last()
    assert last is not None
    # point lookup (row 18)
    assert sink.get(0) is not None and sink.get(9999) is None

    # file sink wrote partitioned parquet (row 16)
    frames_written = spark.read.parquet(f"{out_dir}/frames")
    assert frames_written.count() > 0
    assert "user_id=0" in ",".join(os.listdir(f"{out_dir}/frames"))

    # dead-letter sink got exactly the error rows (row 10)
    ev = load_table(spark, "events", SF)
    n_err = ev.where(F.col("event_type") == "error").count()
    errors_written = spark.read.parquet(f"{out_dir}/errors")
    assert errors_written.count() == n_err

    # row 24: observe() counters surfaced through the listener
    obs = listener.observed_totals("frame_pipeline_metrics")
    if obs:  # both sub-queries observe; totals cover >= one full pass
        assert obs.get("n_errors", 0) >= n_err
        assert obs.get("n_events", 0) >= ev.count()


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Row 22 `recover-restart`: stop after the first micro-batch,
    restart from the checkpoint, assert exactly-once delivery."""
    src = str(tmp_path / "src")
    ev = load_table(spark, "events", SF)
    total = ev.count()
    # two files -> two micro-batches with maxFilesPerTrigger=1
    ev.repartition(2).write.parquet(src)
    part_files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert len(part_files) == 2

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def start():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    # stop after the first batch commits
    import time
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["numInputRows"] > 0:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)

    n_after_first = spark.read.parquet(out).count()
    q2 = start()
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == total, (
        f"restart lost/duplicated rows: first={n_after_first} final={final.count()}"
    )
    assert final.select("event_id").distinct().count() == total


def test_prune_file_sink_evicts_oldest(spark, tmp_path):
    """SURVEY row 15 applied to the file sink (row 16): the retention
    job deletes the oldest part files beyond the bound — the
    reference's evict-deletes-file semantics (parser.py:475-481) —
    and the surviving sink stays readable."""
    import time as _t

    from awskinesisconsumer_spark.streaming.sinks import prune_file_sink

    out = str(tmp_path / "frames")
    ev = load_table(spark, "events", SF).limit(20)
    # Three append batches with distinct mtimes (append-only sink).
    for i in range(3):
        ev.withColumn("batch", F.lit(i)).coalesce(1).write.mode(
            "append"
        ).parquet(out)
        _t.sleep(1.1)

    def data_files():
        return sorted(
            f for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )

    before = data_files()
    assert len(before) == 3
    oldest = min(
        before, key=lambda f: os.path.getmtime(os.path.join(out, f))
    )
    deleted = prune_file_sink(out, keep_files=2)
    assert [os.path.basename(p) for p in deleted] == [oldest]
    after = data_files()
    assert len(after) == 2 and oldest not in after
    # checksum sidecars go with their part files — no orphaned .crc
    assert "." + oldest + ".crc" not in os.listdir(out)
    # survivors still form a valid parquet dataset
    assert spark.read.parquet(out).count() == 40
    # idempotent at the bound
    assert prune_file_sink(out, keep_files=2) == []
    # pruning everything also removes partition dirs it empties
    sub = str(tmp_path / "parts")
    ev.withColumn("p", F.col("user_id") % 2).write.partitionBy(
        "p"
    ).parquet(sub)
    assert prune_file_sink(sub, keep_files=0)
    assert not [d for d in os.listdir(sub) if d.startswith("p=")]


def test_rocksdb_state_store_session_rollup(spark, tmp_path):
    """The RocksDB state store (the 100 TB state path: disk-backed
    state instead of executor heap) produces identical session-window
    results to the default provider."""
    from awskinesisconsumer_spark.streaming import use_rocksdb_state_store
    from awskinesisconsumer_spark.streaming.lifecycle import ROCKSDB_PROVIDER

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        use_rocksdb_state_store(spark)
        assert spark.conf.get(key) == ROCKSDB_PROVIDER
        stream = events_stream(spark, SF)
        out = segment_rollup_stream(stream, gap="30 minutes")
        _run_available_now(out, tmp_path, "seg_rocks")
        rocks = {
            (r.user_id, r.w_start): r.n_rows
            for r in spark.sql("SELECT * FROM seg_rocks").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # same sessions as the default-provider run (separate checkpoint)
    stream = events_stream(spark, SF)
    out = segment_rollup_stream(stream, gap="30 minutes")
    _run_available_now(out, tmp_path / "dflt", "seg_dflt")
    dflt = {
        (r.user_id, r.w_start): r.n_rows
        for r in spark.sql("SELECT * FROM seg_dflt").collect()
    }
    assert rocks == dflt and len(rocks) > 0


def test_dedup_exact_stream_across_microbatches(spark, tmp_path):
    """Dedup state must carry ACROSS micro-batches: duplicates split
    over separate files/batches still collapse to one row with the
    global min id and total count."""
    from awskinesisconsumer_spark.streaming.pipeline import dedup_exact_stream

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    # 3 files -> 3 micro-batches (maxFilesPerTrigger=1); text "dup"
    # appears in every batch, "once" in the middle one only.
    batches = [
        [(10, "dup"), (11, "a")],
        [(5, "dup"), (6, "once")],
        [(20, "dup"), (21, "b")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(f"{src}/f{i}.parquet")
    schema = (
        spark.read.option("recursiveFileLookup", "true").parquet(src).schema
    )
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1).load(src)
    )
    out = dedup_exact_stream(stream, text_col="text", id_col="doc_id")
    q = (
        out.drop("digest").writeStream.format("memory")
        .queryName("dedup_mb").outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    got = {r.doc_id: r.n_dups for r in spark.table("dedup_mb").collect()}
    assert got == {5: 3, 6: 1, 11: 1, 21: 1}


def test_tumbling_agg_restart_resumes_window_state(spark, tmp_path):
    """Rows 20/22 applied to STATEFUL aggregation: stop the windowed
    rollup after its first micro-batch, restart from the checkpoint,
    and assert the final emitted windows equal the batch-computed
    closed-window set — window state (partial counts) must survive
    the restart, and no window may emit twice.

    Two-phase replay makes the restart DETERMINISTIC: run 1 sees only
    the pre-median file (AvailableNow terminates after it, no
    stop-timing race), then the post-median file is written and run 2
    resumes from the checkpoint — so window state provably spans the
    restart. Timestamps compare as epoch seconds (collect() renders
    TimestampType in the OS-local zone, so datetime comparison would
    be TZ-dependent)."""
    from awskinesisconsumer_spark.streaming.pipeline import (
        tumbling_agg_stream,
    )

    src = str(tmp_path / "src")
    ev = load_table(spark, "events", SF)
    mid = ev.agg(
        F.expr("percentile(unix_timestamp(ts), 0.5)")
    ).head()[0]
    early = ev.where(F.unix_timestamp("ts") <= mid)
    late = ev.where(F.unix_timestamp("ts") > mid)
    early.coalesce(1).write.parquet(src)

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def start():
        stream = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        return (
            tumbling_agg_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    assert q.awaitTermination(120)  # run 1: early file only
    n_after_first = spark.read.parquet(out).count()

    late.coalesce(1).write.mode("append").parquet(src)
    q2 = start()  # run 2: resumes window state from the checkpoint
    assert q2.awaitTermination(180)

    got = spark.read.parquet(out).select(
        F.unix_timestamp("w_start").alias("ws"), "n_events"
    )
    # expected: the batch rollup restricted to watermark-closed windows
    max_ms = ev.agg(
        F.max(F.unix_millis(F.col("ts").cast("timestamp"))).alias("m")
    ).head()[0]
    wm_s = max_ms // 1000 - 3600  # 1 h delay, ms-truncated watermark
    exp = (
        ev.groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("ws")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .where((F.col("ws") + 3600) <= wm_s)
    )
    got_set = {(r.ws, r.n_events) for r in got.collect()}
    exp_set = {(r.ws, r.n_events) for r in exp.collect()}
    # run 1 must have emitted a strict subset (state genuinely spans
    # the restart), and every closed window appears exactly once with
    # the FULL count afterwards
    assert n_after_first < len(exp_set)
    assert len(got_set) == got.count(), "a window emitted twice"
    assert got_set == exp_set


def test_scd2_stream_equals_batch_sealed_subset(spark, sf_dir, state_store):
    # Streaming SCD2's append output must equal the batch build minus
    # the still-open versions (the is_current rows live in state).
    # Parametrized over the HDFS- and RocksDB-backed state stores:
    # identical results, and the arbitrary-stateful operator is
    # proven to run on the provider a 100 TB deployment needs.
    import __spark_entry__ as entry
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.compaction import scd2_versions

    got = sorted(
        (r.user_id, r.event_id, r.event_type,
         r.effective_from, r.effective_to)
        for r in entry.queries()["stream-scd2"](spark, sf_dir).collect()
    )
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    batch = scd2_versions(
        ev, key_col="user_id", ts_col="ts", order_col="event_id",
        state_col="event_type",
    ).where("effective_to IS NOT NULL")
    want = sorted(
        (r.user_id, r.event_id, r.event_type,
         r.effective_from, r.effective_to)
        for r in batch.collect()
    )
    assert got == want and len(got) > 0


def test_backpressure_admits_one_file_per_microbatch(spark, sf_dir, tmp_path):
    # maxFilesPerTrigger=1 over a 4-file source must take (at least)
    # 4 data micro-batches — the admission-control contract behind
    # the stream-backpressure-multibatch gate entry.
    from awskinesisconsumer_spark.io import load_table
    import pyspark.sql.functions as F

    src = str(tmp_path / "bp")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("bp_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    data_batches = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    assert len(data_batches) >= 4, [p["numInputRows"] for p in q.recentProgress]
    total = spark.table("bp_test").agg(F.sum("n")).first()[0]
    assert total == ev.count()
