"""The benchmark's workloads, driven through the program's public
functions exactly as it ships.

Each workload builds all of its inputs before the clock starts
(`prepare`), warms up untimed at full size (`warmup`), measures
(`measure`) and checks its outputs (`check`). Streams follow one
protocol:

1. warm-up: whole full-size micro-batches, untimed;
2. open loop: a separate lander process drops pre-built files at
   seeded exponential gaps; each arrival's latency runs from its due
   time to the end of the micro-batch that consumed it;
3. drain: a full-size backlog lands and the wall time until the query
   has processed it gives `drain_rps`, its micro-batch time `job_s`
   (medians over the drain rounds). Drains come last, on the warmest
   JVM: full-size micro-batches were still getting faster from one
   drain to the next when they came straight after warm-up.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def nearest_rank(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def progress_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


def source_batches(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's metadata log in the query checkpoint."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


class Checks:
    """Named output checks; each is one attempted operation."""

    def __init__(self) -> None:
        self.results: list[tuple[str, bool]] = []

    def add(self, name: str, ok: bool) -> None:
        self.results.append((name, bool(ok)))
        if not ok:
            print(f"check failed: {name}", file=sys.stderr)

    @property
    def failed(self) -> int:
        return sum(not ok for _, ok in self.results)


class StreamWorkload:
    """Shared protocol of the two streaming workloads. Subclasses say
    how to write one input file and how to start their query; records
    are counted per file."""

    unit = "records"
    BULK_FILES = 16              # files per full-size micro-batch
    RECORDS_PER_BULK_FILE = 1
    RECORDS_PER_ARRIVAL = 1      # records in each open-loop file
    WARM_ROUNDS = 1              # untimed full-size micro-batches
    DRAIN_ROUNDS = 1             # drains; drain_rps and job_s are their medians
    RATE_FILES_PER_S = 1.0       # frozen open-loop arrival rate

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer,
                 traced: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = traced          # traced runs build one more backlog
        self.stage = os.path.join(work, "stage")
        self.src = os.path.join(work, "src")
        self.checkpoint = os.path.join(work, "ckpt")
        self.warm_batches: list[list[str]] = []
        self.drain_batches: list[list[str]] = []
        self.traced_batch: list[str] = []
        self.arrival_files: list[str] = []
        self.records: dict[str, int] = {}       # file name -> records
        self.landed: list[str] = []
        self.query = None
        self.progress: list[dict] = []          # the open loop's micro-batches
        self.last_progress: dict | None = None  # the query's last, when stopped
        self.drain_trigger_s: list[float] = []
        self.checks = Checks()
        self.late: list[float] = []
        self.arrival_latency: list[float] = []
        os.makedirs(self.stage)
        os.makedirs(self.src)

    # -- subclass surface ---------------------------------------------------
    def begin_inputs(self, total_records: int) -> None:
        """Called once before the first `write_file`."""

    def write_file(self, path: str, n_records: int) -> None:
        raise NotImplementedError

    def start_query(self):
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    # -- protocol -----------------------------------------------------------
    def n_arrivals(self) -> int:
        return max(1, round(self.RATE_FILES_PER_S * self.seconds))

    def prepare(self) -> None:
        """Write every input file into the staging directory, in the
        order the run lands them."""
        bulk = self.BULK_FILES * self.RECORDS_PER_BULK_FILE
        rounds = self.WARM_ROUNDS + self.DRAIN_ROUNDS + self.traced
        self.begin_inputs(rounds * bulk + self.n_arrivals() * self.RECORDS_PER_ARRIVAL)

        def emit(prefix: str, count: int, n_records: int) -> list[str]:
            names = [f"{prefix}-{i:05d}.parquet" for i in range(count)]
            for name in names:
                self.write_file(os.path.join(self.stage, name), n_records)
                self.records[name] = n_records
            return names

        self.warm_batches = [emit(f"w{r}", self.BULK_FILES, self.RECORDS_PER_BULK_FILE)
                             for r in range(self.WARM_ROUNDS)]
        self.arrival_files = emit("a", self.n_arrivals(), self.RECORDS_PER_ARRIVAL)
        self.drain_batches = [emit(f"d{r}", self.BULK_FILES, self.RECORDS_PER_BULK_FILE)
                              for r in range(self.DRAIN_ROUNDS)]
        if self.traced:
            self.traced_batch = emit("t", self.BULK_FILES, self.RECORDS_PER_BULK_FILE)

    def describe(self) -> dict:
        """Amounts of work the seed produced; equal for every seed."""
        return {"files": len(self.records), self.unit: sum(self.records.values())}

    def _land(self, names: list[str]) -> None:
        for n in names:
            os.rename(os.path.join(self.stage, n), os.path.join(self.src, n))
        self.landed.extend(names)

    def _drain_files(self, files: list[str]) -> float:
        """Land `files` and wait until the query has processed them;
        returns the wall seconds taken. A single file lands atomically,
        so the running query sees all of it or none. Several files are
        landed while the query is stopped and the query is then
        restarted from its checkpoint, so one micro-batch takes them
        all."""
        if self.query is not None and len(files) == 1:
            seen = self.query.lastProgress
            seen = -1 if seen is None else seen["batchId"]
            self._land(files)
            t0 = time.perf_counter()
        else:
            seen = -1
            if self.query is not None:
                self.query.stop()
            self._land(files)
            t0 = time.perf_counter()
            self.query = self.start_query()
        self.query.processAllAvailable()
        dt = time.perf_counter() - t0
        self.drain_trigger_s.append(sum(
            p["durationMs"]["triggerExecution"] / 1000.0
            for p in self.query.recentProgress
            if p["batchId"] > seen and p["numInputRows"] > 0))
        return dt

    def stop(self) -> None:
        self.last_progress = self.query.lastProgress
        self.query.stop()

    def warmup(self) -> None:
        with self.tracer.span("warmup"):
            self.warm_s = [self._drain_files(files) for files in self.warm_batches]
        self.warm_last_batch = self.query.lastProgress["batchId"]
        self.drain_trigger_s.clear()

    def drain(self, batches: list[list[str]] | None = None) -> float:
        """Median records per second over the drain rounds."""
        rps = []
        for files in self.drain_batches if batches is None else batches:
            n = sum(self.records[f] for f in files)
            with self.tracer.span("drain", records=n):
                rps.append(n / self._drain_files(files))
        return median(rps)

    def open_loop(self) -> None:
        offsets = gen.arrival_offsets(self.seed, len(self.arrival_files), self.seconds)
        t0 = time.time() + 0.5
        due = {n: t0 + float(o) for n, o in zip(self.arrival_files, offsets)}
        schedule = [[due[n], os.path.join(self.stage, n), os.path.join(self.src, n)]
                    for n in self.arrival_files]
        sched_path = os.path.join(self.work, "schedule.json")
        late_path = os.path.join(self.work, "late.json")
        with open(sched_path, "w") as f:
            json.dump(schedule, f)
        with self.tracer.span("open_loop", arrivals=len(schedule)):
            lander = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "lander.py"), sched_path, late_path])
            try:
                lander.wait(timeout=self.seconds + 60)
            finally:
                if lander.poll() is None:
                    lander.kill()
                    lander.wait()
            self.query.processAllAvailable()
        self.landed.extend(self.arrival_files)
        with open(late_path) as f:
            self.late = json.load(f)
        self.progress = self.query.recentProgress
        batch_of = source_batches(self.checkpoint)
        end_of = {p["batchId"]: progress_end(p) for p in self.progress}
        self.arrival_latency = [
            end_of[batch_of[n]] - due[n]
            if n in batch_of and batch_of[n] in end_of else math.inf
            for n in self.arrival_files
        ]

    def measure(self) -> dict:
        self.open_loop()
        drain_rps = self.drain()
        self.stop()
        job_s = median(self.drain_trigger_s)
        lat_ms = [x * 1000.0 for x in self.arrival_latency]
        out = {"drain_rps": drain_rps, "job_s": job_s,
               "latency_p50_ms": nearest_rank(lat_ms, 0.5)}
        # p90 needs at least ten arrivals beyond it
        if len(lat_ms) >= 100:
            out["latency_p90_ms"] = nearest_rank(lat_ms, 0.9)
        return out

    @property
    def attempted(self) -> int:
        bulk = sum(len(b) for b in self.drain_batches) + len(self.traced_batch)
        return bulk + len(self.arrival_files) + len(self.checks.results)

    @property
    def failed(self) -> int:
        missed = sum(math.isinf(x) for x in self.arrival_latency)
        return missed + self.checks.failed


class KvsIngest(StreamWorkload):
    """MKV fragments -> `kvs_stream` (EBML tokenize, tag pivot, demux,
    frames joined to tags, parquet append)."""

    unit = "fragments"
    BULK_FILES = 16
    RECORDS_PER_BULK_FILE = 10    # 160 fragments per full-size micro-batch
    RECORDS_PER_ARRIVAL = 1
    WARM_ROUNDS = 5               # trigger times still fall over the first five
    DRAIN_ROUNDS = 3
    RATE_FILES_PER_S = 6.25       # ~1/10 of the warm drain capacity

    def begin_inputs(self, total_records: int) -> None:
        self.frags: dict[int, gen.Fragment] = {}
        self.file_frags: dict[str, list[gen.Fragment]] = {}
        self.out_path = os.path.join(self.work, "frames")

    def write_file(self, path: str, n_records: int) -> None:
        frags = gen.make_fragments(self.seed, len(self.frags), n_records)
        gen.write_fragments(path, frags)
        self.file_frags[os.path.basename(path)] = frags
        self.frags.update((f.chunk_id, f) for f in frags)

    def describe(self) -> dict:
        frames = [fr for f in self.frags.values() for fr in f.frames]
        return {**super().describe(), "frames": len(frames),
                "tagless_fragments": sum(f.tags is None for f in self.frags.values()),
                "corrupt_blocks": sum(fr.track is None for fr in frames),
                "payload_bytes": sum(len(f.payload) for f in self.frags.values())}

    def start_query(self):
        from awskinesisconsumer_spark.streaming.kvs_pipeline import kvs_stream

        stream = self.spark.readStream.schema("chunk_id bigint, payload binary").parquet(self.src)
        return kvs_stream(stream, out_path=self.out_path, checkpoint=self.checkpoint,
                          available_now=False)

    def check(self) -> None:
        from pyspark.sql import functions as F

        # payloads are compared by SHA-256, hashed where they are stored
        cols = ["chunk_id", "frame_position", F.sha2("frame_payload", 256).alias("digest"),
                "track", "timecode", "keyframe", *gen.TAG_NAMES]
        got = self.spark.read.parquet(self.out_path).select(*cols).toPandas()
        want = {(fr.chunk_id, fr.position): fr
                for n in self.landed for f in self.file_frags[n] for fr in f.frames}
        seen: set[tuple[int, int]] = set()
        bad_payload = bad_header = bad_tags = dup = 0
        for row in got.itertuples(index=False):
            key = (row.chunk_id, row.frame_position)
            if key in seen:
                dup += 1
                continue
            seen.add(key)
            fr = want.get(key)
            if fr is None:
                continue
            if row.digest != hashlib.sha256(fr.payload).hexdigest():
                bad_payload += 1
            header = tuple(None if v is None or v != v else v
                           for v in (row.track, row.timecode, row.keyframe))
            if (fr.track is None) != (header[0] is None) or (
                    fr.track is not None and header != (fr.track, fr.timecode, fr.keyframe)):
                bad_header += 1
            tags = self.frags[fr.chunk_id].tags
            values = [getattr(row, t) for t in gen.TAG_NAMES]
            if tags is None:
                bad_tags += any(v is not None for v in values)
            else:
                bad_tags += values != [tags[t] for t in gen.TAG_NAMES]
        self.checks.add("kvs: every planted frame out exactly once",
                        seen == set(want) and dup == 0)
        self.checks.add("kvs: frame payloads equal", bad_payload == 0)
        self.checks.add("kvs: block headers parsed, corrupt ones null", bad_header == 0)
        self.checks.add("kvs: frames carry their own fragment's tags, tagless null",
                        bad_tags == 0)


class EventsStateful(StreamWorkload):
    """Keyed events -> `asof_join_stream` (native keyed state) ->
    `histogram_counts_stream` (swap-rename counter store)."""

    unit = "events"
    BULK_FILES = 1                # one file lands atomically: no restarts
    RECORDS_PER_BULK_FILE = 20000
    RECORDS_PER_ARRIVAL = 25
    WARM_ROUNDS = 2
    DRAIN_ROUNDS = 1
    RATE_FILES_PER_S = 12.5

    def begin_inputs(self, total_records: int) -> None:
        self.events = gen.make_events(self.seed, total_records)
        self.written = 0
        self.rows: dict[str, tuple[int, int]] = {}   # file name -> (offset, length)
        self.out_path = os.path.join(self.work, "hist")

    def write_file(self, path: str, n_records: int) -> None:
        import pyarrow.parquet as pq

        pq.write_table(self.events.slice(self.written, n_records), path)
        self.rows[os.path.basename(path)] = (self.written, n_records)
        self.written += n_records

    def describe(self) -> dict:
        types = self.events["event_type"].to_pylist()
        return {**super().describe(), "users": len(set(self.events["user_id"].to_pylist())),
                "signups": types.count("signup"),
                "flushed_events": sum(gen.asof_reference(self.events)[0].values())}

    def start_query(self):
        from awskinesisconsumer_spark.streaming.pipeline import (
            asof_join_stream, histogram_counts_stream,
        )

        stream = self.spark.readStream.schema(
            "user_id bigint, event_id bigint, event_type string, value double"
        ).parquet(self.src)
        return histogram_counts_stream(
            asof_join_stream(stream), value_col="value", lo=gen.HIST_LO, hi=gen.HIST_HI,
            n_bins=gen.HIST_BINS, out_path=self.out_path,
            checkpoint=self.checkpoint, trigger_available_now=False)

    def check(self) -> None:
        import pyarrow as pa

        rows = self.spark.read.parquet(self.out_path).collect()
        # files land in the order they were written, so event ids rise
        # in landing order even when some files never land
        landed = pa.concat_tables([self.events.slice(*self.rows[n]) for n in self.landed])
        hist, pending_users = gen.asof_reference(landed)
        self.checks.add("events: histogram equals the one computed from the events",
                        {r["bin"]: r["c"] for r in rows} == hist)
        last = self.last_progress or {"stateOperators": []}
        self.checks.add("events: native state holds one row per user with pending clicks",
                        sum(s["numRowsTotal"] for s in last["stateOperators"]) == pending_users)


class CorpusDedup:
    """Batch job over documents and embeddings: `dedup_exact`,
    `dedup_minhash_lsh`, `quality_score` / `token_count`,
    `pack_sequences`, then `semantic_dedup` over
    `ivf_centroids_from_sample` cells. Every job is verified."""

    N_BASE, N_EXACT, N_NEAR = 1000, 50, 50
    N_VECS, N_CLUSTERS, CLUSTER_SIZE = 1000, 20, 3
    N_CENTROIDS = 16
    PACK_CAPACITY = 2048
    RECALL_FLOOR = 0.9
    WARM_JOBS = 2
    NOMINAL_JOB_S = 10.0   # frozen: a warm job's wall time on a 4-core VM

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer,
                 traced: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.checks = Checks()
        self.jobs: list[float] = []
        self.recall: list[float] = []
        self.kept: list[int] = []

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.corpus = gen.make_corpus(self.seed, self.N_BASE, self.N_EXACT, self.N_NEAR,
                                      self.N_VECS, self.N_CLUSTERS, self.CLUSTER_SIZE)
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.emb_path = os.path.join(self.work, "embeddings.parquet")
        pq.write_table(self.corpus.docs, self.docs_path)
        pq.write_table(self.corpus.emb, self.emb_path)
        ids = self.corpus.docs["doc_id"].to_pylist()
        texts = self.corpus.docs["text"].to_pylist()
        self.tokens = {i: gen.token_count(t) for i, t in zip(ids, texts)}
        self.survivors = set(ids) - self.corpus.exact_dup_ids
        self.n_docs = len(ids)

    def describe(self) -> dict:
        c = self.corpus
        return {"documents": self.n_docs, "exact_duplicates": len(c.exact_dup_ids),
                "near_duplicate_pairs": len(c.near_pairs), "tokens": sum(self.tokens.values()),
                "vectors": c.emb.num_rows, "semantic_clusters": len(c.clusters)}

    def job(self) -> None:
        """One full job, from reading the inputs to a verified result."""
        from pyspark.sql import functions as F

        from awskinesisconsumer_spark.operators.corpus_prep import pack_sequences
        from awskinesisconsumer_spark.operators.dedup import dedup_exact, dedup_minhash_lsh
        from awskinesisconsumer_spark.operators.similarity import (
            ivf_centroids_from_sample, semantic_dedup,
        )
        from awskinesisconsumer_spark.operators.text import quality_score, token_count

        c = self.corpus
        tr = self.tracer
        docs = self.spark.read.parquet(self.docs_path)
        with tr.span("operators.dedup.exact"):
            exact = dedup_exact(docs, text_col="text", id_col="doc_id").select("doc_id")
            kept_ids = {r[0] for r in exact.collect()}
        survivors = docs.join(exact, "doc_id", "left_semi")
        with tr.span("operators.dedup.minhash"):
            pairs = {(r[0], r[1]) for r in dedup_minhash_lsh(
                survivors, id_col="doc_id", text_col="text").select("id_a", "id_b").collect()}
        drop = self.spark.createDataFrame([(b,) for _, b in sorted(pairs)] or [(-1,)],
                                          "doc_id bigint")
        clean = survivors.join(drop, "doc_id", "left_anti")
        with tr.span("operators.text.quality_tokens"):
            scored = token_count(quality_score(clean, text_col="text"), text_col="text")
        with tr.span("operators.corpus_prep.pack"):
            packed = pack_sequences(scored, id_col="doc_id", token_col="n_tokens",
                                    capacity=self.PACK_CAPACITY)
            spans = sorted(tuple(r) for r in packed.select(
                "doc_id", "n_tokens", "tok_start", "tok_end").collect())
            packed.unpersist()
        emb = self.spark.read.parquet(self.emb_path)
        with tr.span("operators.similarity.semdedup"):
            cents = ivf_centroids_from_sample(emb, id_col="vec_id", vec_col="embedding",
                                              n_centroids=self.N_CENTROIDS)
            sem = semantic_dedup(emb, id_col="vec_id", vec_col="embedding",
                                 centroids=cents, threshold=0.95)
            labels = sem.select("vec_id", "cell", "kept").collect()

        ch = self.checks
        ch.add("corpus: exactly the planted exact duplicates removed",
               kept_ids == self.survivors)
        found = len(pairs & c.near_pairs)
        self.recall.append(found / len(c.near_pairs))
        ch.add(f"corpus: minhash recall >= {self.RECALL_FLOOR}",
               self.recall[-1] >= self.RECALL_FLOOR)
        want_ids = sorted(self.survivors - {b for _, b in pairs})
        offset, ok = 0, [s[0] for s in spans] == want_ids
        for doc_id, n_tok, start, end in spans if ok else []:
            ok = ok and n_tok == self.tokens[doc_id] and start == offset and end == start + n_tok
            offset = end
        ch.add("corpus: packing covers every surviving token once", ok)
        # near-duplicates are merged within a k-means cell only, so a
        # planted cluster keeps one row per cell its members fall in
        cell = {r[0]: r[1] for r in labels}
        kept_vecs = {r[0] for r in labels if r[2]}
        in_cluster = {v for cl in c.clusters for v in cl}
        self.kept.append(len(kept_vecs))
        ch.add("corpus: one kept row per planted semantic cluster and cell, singletons kept",
               len(cell) == self.N_VECS
               and all(len(kept_vecs.intersection(cl)) == len({cell[v] for v in cl})
                       for cl in c.clusters)
               and set(cell) - in_cluster <= kept_vecs
               and len(kept_vecs) == len(cell) - len(in_cluster)
               + sum(len({cell[v] for v in cl}) for cl in c.clusters))

    def warmup(self) -> None:
        # the job after the first still runs up to a third slower than the
        # later ones, and by how much varies from run to run
        self.warm_s = []
        with self.tracer.span("warmup"):
            for _ in range(self.WARM_JOBS):
                t0 = time.perf_counter()
                self.job()
                self.warm_s.append(time.perf_counter() - t0)

    def drain(self, batches=None) -> float:
        """One timed job; returns documents completed per second."""
        t0 = time.perf_counter()
        with self.tracer.span("job", records=self.n_docs):
            self.job()
        self.jobs.append(time.perf_counter() - t0)
        return self.n_docs / self.jobs[-1]

    def measure(self) -> dict:
        # as many jobs as fit in the window at a frozen nominal job time,
        # as the open loop's arrival count follows from its rate; counting
        # jobs as they finish would time fewer jobs on a slower machine
        for _ in range(max(1, int(self.seconds // self.NOMINAL_JOB_S))):
            self.drain()
        job_s = median(self.jobs)
        # every document is due when its job starts and done when it ends
        lat_ms = [x * 1000.0 for x in self.jobs]
        return {
            "drain_rps": self.n_docs * len(self.jobs) / sum(self.jobs),
            "job_s": job_s,
            "latency_p50_ms": nearest_rank(lat_ms, 0.5),
            "latency_p90_ms": nearest_rank(lat_ms, 0.9),
        }

    def check(self) -> None:
        """Checks run inside every job."""

    @property
    def attempted(self) -> int:
        return len(self.checks.results)

    @property
    def failed(self) -> int:
        return self.checks.failed
