"""Round-17 (optimization round 2) focused tests: the r16-ADVICE
memory-safety gate on the semantic-dedup auto kernel, the
duplicate-id parity fix in the numpy cell-pair kernel, and the
fan_out_small env-parse hardening."""

import os

import pytest
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# _resolve_vectorized: auto must be memory-safe (r16 ADVICE, medium)
# ---------------------------------------------------------------------------


def _base(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    return emb.select(
        F.col("vec_id"), (F.col("vec_id") % 4).alias("cell"),
        F.col("embedding"),
    )


def test_auto_kernel_requires_bounded_memory_regime(spark, monkeypatch):
    from awskinesisconsumer_spark.operators import similarity
    from awskinesisconsumer_spark.operators.similarity import (
        _resolve_vectorized,
    )

    base = _base(spark)
    # small sized input, LongType ids -> kernel
    assert _resolve_vectorized(base, "vec_id", None) is True
    # cell_cap set -> kernel regardless of size (the documented
    # enforcement: no task sees more than cell_cap rows)
    assert _resolve_vectorized(base, "vec_id", None, 64) is True
    # the size gate refuses when the input is "too big to prove the
    # one-task-per-cell regime safe" (simulated via the constant)
    monkeypatch.setattr(similarity, "_AUTO_KERNEL_BYTES", 1)
    assert _resolve_vectorized(base, "vec_id", None) is False
    # ... but cell_cap still opts in, while its cell_cap^2 x 8-byte
    # matrix fits the 512 MiB the default size gate admits
    assert _resolve_vectorized(base, "vec_id", None, 64) is True
    assert _resolve_vectorized(base, "vec_id", None, 8192) is True
    assert _resolve_vectorized(base, "vec_id", None, 8193) is False
    # explicit force always wins
    assert _resolve_vectorized(base, "vec_id", True) is True
    assert _resolve_vectorized(base, "vec_id", False, 64) is False
    # non-long ids never take the kernel (it emits BIGINT ids)
    sbase = base.withColumn("vec_id", F.col("vec_id").cast("string"))
    assert _resolve_vectorized(sbase, "vec_id", None, 64) is False


def test_auto_kernel_gate_entries_still_take_kernel(spark):
    # the bench/gate semantic entries rely on auto -> kernel at gate
    # SFs; the safety gate must not flip them (input ~200 KB << 4 MiB)
    from awskinesisconsumer_spark.operators.similarity import (
        _resolve_vectorized,
    )

    assert _resolve_vectorized(_base(spark), "vec_id", None) is True


# ---------------------------------------------------------------------------
# duplicate-id parity in the numpy kernel (r16 ADVICE, low)
# ---------------------------------------------------------------------------


def test_cell_pairs_duplicate_ids_match_hof(spark):
    # a duplicated id inside a cell must not emit id_a == id_b
    # self-pairs on the kernel path (the HOF path's id_a < id_b
    # filter excludes them); both paths must agree row-for-row
    from awskinesisconsumer_spark.operators.similarity import (
        _cell_pairs,
    )

    rows = [
        (1, 0, [1.0, 0.0]), (1, 0, [1.0, 0.0]),  # duplicate id 1
        (2, 0, [1.0, 0.1]), (3, 0, [-1.0, 0.0]),
        (4, 1, [0.5, 0.5]), (5, 1, [0.5, 0.49]),
    ]
    base = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>")
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.9,
              cell_cap=None, caller="t")
    vec = sorted(tuple(r) for r in _cell_pairs(
        base, vectorized=True, **kw).collect())
    hof = sorted(tuple(r) for r in _cell_pairs(
        base, vectorized=False, **kw).collect())
    assert vec == hof
    assert all(a < b for a, b in vec)  # no self-pairs, ordered


# ---------------------------------------------------------------------------
# fan_out_small env hardening (r16 ADVICE, low)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# `_bid` probe memo (VERDICT r16 item 6)
# ---------------------------------------------------------------------------


def test_bid_memo_fast_path_and_invalidation(spark, tmp_path):
    # the writer-recorded (bid, fingerprint) memo must serve the next
    # probe without re-agg, and ANY out-of-band change to the state
    # bytes must invalidate it (fall back to the real probe)
    from awskinesisconsumer_spark.streaming import pipeline as P

    st = str(tmp_path / "state")
    df0 = spark.createDataFrame([("a", 1)], "k string, n long") \
        .withColumn("_bid", F.lit(0))
    P._swap_state(df0, st, bid=0)
    assert P._BID_MEMO[st][0] == 0
    prev = P._read_state(spark, st)
    assert P._state_batch_id(prev, path=st) == 0  # memo hit
    # commit batch 1 through the protocol: memo advances
    df1 = spark.createDataFrame([("a", 2)], "k string, n long") \
        .withColumn("_bid", F.lit(1))
    P._swap_state(df1, st, bid=1)
    assert P._state_batch_id(P._read_state(spark, st), path=st) == 1
    # out-of-band tamper (a second writer / restored aside): the
    # fingerprint no longer matches, so the probe must re-run and
    # see the REAL state, not the memo
    df9 = spark.createDataFrame([("a", 9)], "k string, n long") \
        .withColumn("_bid", F.lit(9))
    P._publish_atomic(df9, spark, st)
    assert P._state_batch_id(P._read_state(spark, st), path=st) == 9
    # a commit without a bid (min-merge callers) drops the memo
    P._swap_state(df1, st)
    assert st not in P._BID_MEMO


def test_bid_memo_replay_skip_equals_probe(spark, tmp_path):
    # end-to-end through a real sum-merged family: a replayed batch
    # id must be skipped with the memo exactly as it was with the
    # probe (the r15 replay contract, exercised via the memo path)
    from awskinesisconsumer_spark.streaming import pipeline as P
    from awskinesisconsumer_spark.streaming.pipeline import (
        _hist_merge_fn,
    )

    out = str(tmp_path / "hist")
    merge = _hist_merge_fn(value_col="v", lo=0.0, hi=10.0, n_bins=5,
                           out_path=out)
    b0 = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    b1 = spark.createDataFrame([(9.0,)], "v double")
    merge(b0, 0)
    assert P._BID_MEMO[out][0] == 0
    merge(b1, 1)
    merge(b1, 1)  # replay: memo says bid 1 -> skipped
    got = {r["bin"]: r["c"] for r in
           spark.read.parquet(out).collect()}
    assert sum(got.values()) == 3  # no double count


@pytest.mark.parametrize("mode", ["rename", "marker"])
def test_state_fingerprint_differs_for_identical_commits(
        spark, tmp_path, mode):
    # the memo's premise: two commits of IDENTICAL rows to one path
    # still fingerprint apart (each write job names its part files
    # with a fresh UUID), so a stale memo can never alias a new commit
    from awskinesisconsumer_spark.streaming import pipeline as P

    st = str(tmp_path / "state")
    df = spark.createDataFrame([("a", 1)], "k string, n long") \
        .withColumn("_bid", F.lit(0))
    P.set_state_commit_mode(mode)
    try:
        P._swap_state(df, st, bid=0)
        fp0 = P._state_fingerprint(spark, st)
        P._swap_state(df, st, bid=0)
        fp1 = P._state_fingerprint(spark, st)
    finally:
        P.set_state_commit_mode("rename")
    assert fp0 is not None and fp1 is not None
    assert fp0 != fp1
    # not only the marker version name: the part names differ too
    assert fp0[1] != fp1[1]


def test_counter_stream_runs_without_available_now(spark, tmp_path):
    # trigger_available_now=False starts a long-running query on the
    # default trigger (the events-stateful benchmark's setting); it
    # must merge like the AvailableNow form and stay active until
    # stopped
    from awskinesisconsumer_spark.streaming.pipeline import (
        histogram_counts_stream,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1.0,), (1.5,), (9.0,)], "v double"
    ).write.parquet(src)
    out = str(tmp_path / "hist")
    q = histogram_counts_stream(
        spark.readStream.schema("v double").parquet(src),
        value_col="v", lo=0.0, hi=10.0, n_bins=5, out_path=out,
        checkpoint=str(tmp_path / "ckpt"), trigger_available_now=False,
    )
    try:
        q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()
    got = {r["bin"]: r["c"] for r in spark.read.parquet(out).collect()}
    assert got == {0: 2, 4: 1}
