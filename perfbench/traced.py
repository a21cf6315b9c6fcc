"""The traced run (`--trace 1`): per-layer metrics.

End-to-end metrics are never taken from here. The run repeats the
workload's set-up and warm-up, runs the open loop, drains one backlog
untraced and a second one of the same size traced (their ratio is the
tracing overhead), and then times each layer by calling its public
function from outside on one materialized micro-batch or input, forcing
the result. In-process kernels are timed per call.

Every traced run reports every per-layer metric. A layer the run never
calls reports 0: no calls, no time, no state. The `events-stateful`
stream, whose own workload does not fit the run budget, is measured as
a probe inside the `corpus-dedup` traced run, which has no stream of
its own.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import gen
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))

# Per-layer metrics, grouped by layer. Each group's comment names the
# end-to-end metric and workload it should move, and what it should not.
PER_LAYER = {
    # EBML kernels -> kvs-ingest drain_rps and latency; not corpus-dedup
    "sources.ebml.tokenize_us_per_fragment": "us",
    "sources.ebml.tokenize_mb_s": "MB/s",
    "sources.ebml.parse_batch_ms": "ms",
    "functions.ebml_decode.parse_block_us": "us",
    # KVS pipeline stages and the parquet sink -> kvs-ingest drain_rps
    "streaming.kvs_pipeline.pivot_ms": "ms",
    "streaming.kvs_pipeline.demux_ms": "ms",
    "streaming.kvs_pipeline.frames_with_tags_ms": "ms",
    "streaming.kvs_pipeline.tokenizer_passes": "count",
    "streaming.sinks.parquet_write_ms": "ms",
    # micro-batch engine -> kvs-ingest latency_p50_ms most, drain_rps little
    "streaming.trigger_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.floor_ms": "ms",
    "streaming.triggers": "count",
    "streaming.backlog_files_max": "count",
    "gen.late_ms_max": "ms",
    # native keyed state and the hand-rolled counter store -> the
    # events-stateful stream (a probe in the corpus-dedup traced run)
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.tasks_per_trigger": "count",
    "streaming.pipeline.asof_trigger_ms": "ms",
    "streaming.pipeline.counter_trigger_ms": "ms",
    # LLM operators -> corpus-dedup job_s and drain_rps; streams unmoved
    "operators.dedup.exact_ms": "ms",
    "operators.dedup.minhash_ms": "ms",
    "operators.dedup.minhash_recall": "ratio",
    "operators.similarity.semdedup_ms": "ms",
    "operators.similarity.semdedup_kept": "count",
    "operators.text.quality_tokens_ms": "ms",
    "operators.corpus_prep.pack_ms": "ms",
    # Spark work during the traced drain -> that workload's drain_rps
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    # session start and the first micro-batch or job -> setup_s everywhere
    "session.start_s": "s",
    "session.first_batch_s": "s",
    # single-core baseline beside the all-core drain (kvs-ingest only)
    "scale.drain_rps_1core": "1/s",
    "scale.drain_rps_all_cores": "1/s",
    # tracing overhead: traced vs untraced drain of equal size
    "trace.drain_rps_untraced": "1/s",
    "trace.drain_rps_traced": "1/s",
    "trace.overhead_pct": "%",
}


def force(df) -> None:
    """Execute a DataFrame's whole plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def timed_ms(fn, reps: int = 2) -> float:
    """Median wall time of `reps` calls after one untimed warm call."""
    fn()
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t0) * 1000.0)
    return workloads.median(out)


def per_call_s(fn, min_s: float = 0.3) -> float:
    """Seconds per call of an in-process kernel, repeated for at least
    `min_s` after a warm call."""
    fn()
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n


def spark_totals(spark) -> dict:
    """Cumulative job, task, CPU, shuffle and spill counts from the
    application status store of the running Spark context."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = {"spark.jobs": store.jobsList(None).size(), "spark.tasks": 0,
           "spark.executor_cpu_s": 0.0, "spark.shuffle_write_bytes": 0, "spark.spill_bytes": 0}
    quantiles = getattr(store, "stageList$default$4")()
    it = store.stageList(None, False, False, quantiles, None).iterator()
    while it.hasNext():
        s = it.next()
        tot["spark.tasks"] += s.numCompleteTasks()
        tot["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
        tot["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        tot["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return tot


def stream_layers(wl: workloads.StreamWorkload) -> dict:
    """Micro-batch engine and native state, from StreamingQueryProgress
    of the micro-batches after warm-up that read data."""
    ps = [p for p in wl.progress if p["numInputRows"] > 0 and p["batchId"] > wl.warm_last_batch]
    med = workloads.median

    def dur(key: str) -> float:
        return med([p["durationMs"].get(key, 0) for p in ps])

    out = {f"streaming.{k}_ms": dur(k) for k in
           ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")}
    out["streaming.trigger_ms"] = dur("triggerExecution")
    out["streaming.floor_ms"] = med([p["durationMs"]["triggerExecution"]
                                     - p["durationMs"].get("addBatch", 0) for p in ps])
    out["streaming.triggers"] = len(ps)
    batch_of = workloads.source_batches(wl.checkpoint)
    per_batch: dict[int, int] = {}
    for n in wl.arrival_files:
        if n in batch_of:
            per_batch[batch_of[n]] = per_batch.get(batch_of[n], 0) + 1
    out["streaming.backlog_files_max"] = max(per_batch.values(), default=0)
    out["gen.late_ms_max"] = max(wl.late, default=0.0) * 1000.0
    ops = [p["stateOperators"] for p in ps if p["stateOperators"]]
    out["state.commit_ms"] = med([sum(s["commitTimeMs"] for s in o) for o in ops]) if ops else 0
    out["state.update_ms"] = med([sum(s["allUpdatesTimeMs"] for s in o) for o in ops]) if ops else 0
    last = ops[-1] if ops else []
    out["state.rows_total"] = sum(s["numRowsTotal"] for s in last)
    out["state.memory_bytes"] = sum(s["memoryUsedBytes"] for s in last)
    out["state.tasks_per_trigger"] = sum(s.get("numShufflePartitions", 0) for s in last)
    return out


def kvs_layers(spark, wl: workloads.KvsIngest, tracer) -> dict:
    """EBML kernels, KVS pipeline stages and the parquet sink on the
    drain backlog (one micro-batch)."""
    from pyspark.sql import functions as F

    from awskinesisconsumer_spark.functions.ebml_decode import parse_simple_block
    from awskinesisconsumer_spark.sources.ebml import parse_ebml_chunks, tokenize_bytes
    from awskinesisconsumer_spark.streaming.kvs_pipeline import (
        INTERESTING, demux_blocks, kvs_frames_with_tags, pivot_tags,
    )

    out = {}
    files = wl.drain_batches[0]
    frags = [f for n in files for f in wl.file_frags[n]]
    allow = set(INTERESTING)

    def tokenize_all():
        for f in frags:
            for _ in tokenize_bytes(f.payload, f.chunk_id, allow):
                pass

    with tracer.span("sources.ebml.tokenize_bytes"):
        s = per_call_s(tokenize_all)
    out["sources.ebml.tokenize_us_per_fragment"] = s / len(frags) * 1e6
    out["sources.ebml.tokenize_mb_s"] = sum(len(f.payload) for f in frags) / s / 1e6
    blocks = [fr.payload for f in frags for fr in f.frames]

    def parse_all():
        for b in blocks:
            try:
                parse_simple_block(b)
            except ValueError:
                pass

    with tracer.span("functions.ebml_decode.parse_simple_block"):
        out["functions.ebml_decode.parse_block_us"] = per_call_s(parse_all) / len(blocks) * 1e6

    batch = spark.read.schema("chunk_id bigint, payload binary").parquet(
        *[os.path.join(wl.src, n) for n in files]).localCheckpoint()
    elements = parse_ebml_chunks(batch, interesting_names=INTERESTING).localCheckpoint()
    blocks_df = elements.where(F.col("name") == "SimpleBlock").select(
        "chunk_id", F.col("position").alias("frame_position"),
        F.col("value_bin").alias("frame_payload"))
    stages = {
        "sources.ebml.parse_batch_ms":
            lambda: force(parse_ebml_chunks(batch, interesting_names=INTERESTING)),
        "streaming.kvs_pipeline.pivot_ms": lambda: force(pivot_tags(elements)),
        "streaming.kvs_pipeline.demux_ms": lambda: force(demux_blocks(blocks_df)),
        "streaming.kvs_pipeline.frames_with_tags_ms":
            lambda: force(kvs_frames_with_tags(batch)),
    }
    for name, fn in stages.items():
        with tracer.span(name):
            out[name] = timed_ms(fn)
    frames = kvs_frames_with_tags(batch)
    frames.collect()
    # the adaptive plan prints its final plan, then the initial one
    plan = frames._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    out["streaming.kvs_pipeline.tokenizer_passes"] = final.count("MapInPandas parse(")
    materialized = frames.localCheckpoint()
    sink = os.path.join(wl.work, "sink-probe")
    with tracer.span("streaming.sinks.parquet_write"):
        out["streaming.sinks.parquet_write_ms"] = timed_ms(
            lambda: materialized.write.mode("append").parquet(sink))
    return out


def state_layers(spark, wl: workloads.EventsStateful, tracer) -> dict:
    """`asof_join_stream` and `histogram_counts_stream` each run alone
    on the open loop's arrivals: a fresh query takes the first half
    (untimed warm-up of the new plan), then the second half lands at
    once and that micro-batch's trigger time is reported."""
    from awskinesisconsumer_spark.streaming.pipeline import (
        asof_join_stream, histogram_counts_stream,
    )

    schema = "user_id bigint, event_id bigint, event_type string, value double"
    half = len(wl.arrival_files) // 2

    def alone(name: str, start) -> float:
        root = os.path.join(wl.work, f"alone-{name}")
        src, stage = os.path.join(root, "src"), os.path.join(root, "stage")
        os.makedirs(src)
        os.makedirs(stage)
        for n in wl.arrival_files:
            landed = os.path.join(wl.src, n)
            shutil.copy(landed if os.path.exists(landed) else os.path.join(wl.stage, n), stage)
        q = None
        try:
            for part in (wl.arrival_files[:half], wl.arrival_files[half:]):
                if q is not None:
                    q.stop()
                for n in part:
                    os.rename(os.path.join(stage, n), os.path.join(src, n))
                with tracer.span(f"streaming.pipeline.{name}"):
                    q = start(spark.readStream.schema(schema).parquet(src), root)
                    q.processAllAvailable()
            last = q.lastProgress
        finally:
            if q is not None:
                q.stop()
        return float(last["durationMs"]["triggerExecution"])

    def asof(stream, root):
        return (asof_join_stream(stream).writeStream.format("noop")
                .option("checkpointLocation", os.path.join(root, "ckpt")).start())

    def counter(stream, root):
        return histogram_counts_stream(
            stream, value_col="value", lo=gen.HIST_LO, hi=gen.HIST_HI, n_bins=gen.HIST_BINS,
            out_path=os.path.join(root, "hist"), checkpoint=os.path.join(root, "ckpt"),
            trigger_available_now=False)

    return {"streaming.pipeline.asof_trigger_ms": alone("asof_trigger", asof),
            "streaming.pipeline.counter_trigger_ms": alone("counter_trigger", counter)}


def corpus_layers(wl: workloads.CorpusDedup, spans_of_job: list[dict]) -> dict:
    """Per-operator wall time inside one traced corpus job."""

    def ms(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans_of_job if s["name"] == name) * 1000.0

    return {
        "operators.dedup.exact_ms": ms("operators.dedup.exact"),
        "operators.dedup.minhash_ms": ms("operators.dedup.minhash"),
        "operators.dedup.minhash_recall": wl.recall[-1],
        "operators.similarity.semdedup_ms": ms("operators.similarity.semdedup"),
        "operators.similarity.semdedup_kept": wl.kept[-1],
        "operators.text.quality_tokens_ms": ms("operators.text.quality_tokens"),
        "operators.corpus_prep.pack_ms": ms("operators.corpus_prep.pack"),
    }


def events_probe(spark, work: str, seed: int, tracer, checks: workloads.Checks) -> dict:
    """The `events-stateful` stream, which does not fit the run budget
    as a workload of its own, measured as a layer probe: one warm-up
    micro-batch, one full-size micro-batch for the engine and
    native-state metrics, then `state_layers`. Its output checks count
    toward the run's attempted operations."""
    ev = workloads.EventsStateful(spark, os.path.join(work, "events"), seed, 1.0, tracer)
    ev.WARM_ROUNDS = 1
    ev.checks = checks
    ev.prepare()
    ev.warmup()
    ev.drain()
    ev.progress = ev.query.recentProgress
    ev.stop()
    out = stream_layers(ev)
    out.update(state_layers(spark, ev, tracer))
    ev.check()
    return out


def one_core_drain_rps(args) -> float:
    """The same workload's drain at SPARK_GRAFT_CPUS=1, in a child
    process (the master is fixed when the session starts)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--cpus", "1", "--drain-only"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=150, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])["drain_rps"]


def run(args, work: str) -> dict:
    from awskinesisconsumer_spark.session import get_spark

    from run import make_workload, stop_spark

    tracer = spans.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = make_workload(args.workload, None, work, args.seed, args.seconds, spans.NULL,
                       traced=True)
    stream = isinstance(wl, workloads.StreamWorkload)
    wl.prepare()
    m = dict.fromkeys(PER_LAYER, 0)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark()
    m["session.start_s"] = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.spark = spark
        wl.warmup()
        m["session.first_batch_s"] = wl.warm_s[0]
        if stream:
            wl.open_loop()
            m.update(stream_layers(wl))
        untraced = wl.drain()
        wl.tracer = tracer
        before = spark_totals(spark)
        n_spans = len(tracer.spans)
        traced = wl.drain([wl.traced_batch]) if stream else wl.drain()
        after = spark_totals(spark)
        if stream:
            wl.stop()
        m.update({k: after[k] - before[k] for k in before})
        m["trace.drain_rps_untraced"] = untraced
        m["trace.drain_rps_traced"] = traced
        m["trace.overhead_pct"] = (untraced / traced - 1.0) * 100.0
        m["scale.drain_rps_all_cores"] = untraced
        if args.workload == "kvs-ingest":
            m.update(kvs_layers(spark, wl, tracer))
        elif args.workload == "events-stateful":
            m.update(state_layers(spark, wl, tracer))
        else:
            m.update(corpus_layers(wl, tracer.spans[n_spans:]))
            m.update(events_probe(spark, work, args.seed, tracer, wl.checks))
        wl.check()
    finally:
        stop_spark(spark)
    if args.workload == "kvs-ingest":
        with tracer.span("scale.one_core"):
            m["scale.drain_rps_1core"] = one_core_drain_rps(args)
    out_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"{tracer.run_id}.jsonl"))
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()},
    }
