"""Round-13 additions, per the r12 verdict brief:

1. `_centroid_matrix` size guard fires BEFORE the driver collects a
   DataFrame centroid spec (verdict item 4).
2. `semantic_dedup_apply` broadcast_reps="auto": the reps join
   strategy is chosen from the frozen rep COUNT, so corpus-sized
   kept sets never ride a forced broadcast (verdict item 6).
3. Multi-assign (n_assign) cell assignment for cross-cell SemDeDup
   recall (verdict item 3) + the SemDeDup recall audit (item 2).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _load(spark, sf, name):
    return spark.read.parquet(f"{sf}/{name}.parquet")


# ---------------------------------------------------------------------------
# verdict item 4: guard ordering in _centroid_matrix
# ---------------------------------------------------------------------------


def test_centroid_matrix_guard_fires_before_collect(spark, monkeypatch):
    # A centroid TABLE past the 5e7-element guard must raise
    # ValueError without the driver ever materializing the rows.
    # The guard path is allowed exactly one tiny job — the
    # (count, max vector size) shape agg (columns ["_n", "_d"]);
    # any other collect() is the bug this pins (r12 verdict item 4:
    # the old code collected first and guarded after).
    import pyspark.sql.dataframe as dfmod

    from awskinesisconsumer_spark.operators.similarity import ivf_assign

    big = spark.range(60_000).select(
        F.col("id").alias("cell"),
        F.array_repeat(F.lit(0.0), 1000).alias("vector"),
    )  # 6e7 elements > 5e7 guard, lazily defined — never materialized
    probe = _load(spark, SF_SMOKE, "embeddings").limit(1)

    real_collect = dfmod.DataFrame.collect

    def guarded_collect(self):
        if self.columns != ["_n", "_d"]:
            raise AssertionError(
                f"full collect of {self.columns} reached the driver "
                "before the size guard fired"
            )
        return real_collect(self)

    monkeypatch.setattr(dfmod.DataFrame, "collect", guarded_collect)
    with pytest.raises(ValueError, match="5e7"):
        ivf_assign(
            probe, vec_col="embedding", centroids=big,
            centroid_vec_col="vector",
        )
    # an outlier NULL/short vector must not understate the bound:
    # the guard derives dim from MAX(size), never from one row
    mixed = spark.range(60_000).select(
        F.col("id").alias("cell"),
        F.when(F.col("id") == 0, F.lit(None).cast("array<double>"))
        .otherwise(F.array_repeat(F.lit(0.0), 1000)).alias("vector"),
    )
    with pytest.raises(ValueError, match="5e7"):
        ivf_assign(
            probe, vec_col="embedding", centroids=mixed,
            centroid_vec_col="vector",
        )


# ---------------------------------------------------------------------------
# verdict item 6: semantic_dedup_apply broadcast_reps="auto"
# ---------------------------------------------------------------------------


@pytest.fixture()
def _no_auto_broadcast(spark):
    # Disable Spark's own size-estimate broadcast so the plan shows
    # ONLY the strategy semantic_dedup_apply chose (test_skew.py
    # pattern) — otherwise a tiny test reps table broadcasts anyway.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _apply_plan(spark, **kw):
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup, semantic_dedup_apply,
        semantic_dedup_keep,
    )

    emb = _load(spark, SF_SMOKE, "embeddings")
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=4
    )
    sem = semantic_dedup(emb, id_col="vec_id", vec_col="embedding",
                         centroids=cents, threshold=0.3)
    reps = semantic_dedup_keep(sem, emb, id_col="vec_id",
                               vec_col="embedding")
    out = semantic_dedup_apply(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        reps=reps, threshold=0.3, **kw,
    )
    return out, out._jdf.queryExecution().executedPlan().toString()


def test_apply_auto_broadcast_small_reps(spark, _no_auto_broadcast):
    # Under the cap, auto must still broadcast (the bounded-reps
    # fast path survives the default change).
    _, plan = _apply_plan(spark, broadcast_reps="auto")
    assert "BroadcastHashJoin" in plan


def test_apply_auto_shuffle_join_past_cap(spark, _no_auto_broadcast):
    # Corpus-sized reps (count > cap) must plan the cell-keyed
    # shuffle join — NO broadcast of the reps side. The fixture reps
    # table stands in for "corpus-sized" via a cap of 1: what is
    # pinned is the DECISION (count > cap => no broadcast hint), the
    # r12 verdict's exact failure mode.
    out, plan = _apply_plan(
        spark, broadcast_reps="auto", broadcast_reps_cap=1
    )
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # and the result is unchanged by the join strategy
    forced, _ = _apply_plan(spark, broadcast_reps=True)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, forced.collect())
    )


def test_apply_broadcast_reps_rejects_garbage(spark):
    with pytest.raises(ValueError, match="broadcast_reps"):
        _apply_plan(spark, broadcast_reps="always")


# ---------------------------------------------------------------------------
# verdict items 2+3: multi-assign + SemDeDup recall audit
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def _emb_cents(spark):
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample,
    )

    emb = _load(spark, SF_SMOKE, "embeddings")
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return emb, cents


def test_semantic_multi_pairs_superset(spark, _emb_cents):
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_near_dup_pairs,
    )

    emb, cents = _emb_cents
    kw = dict(id_col="vec_id", vec_col="embedding", centroids=cents,
              threshold=0.3)
    p1 = {(r[0], r[1]) for r in
          semantic_near_dup_pairs(emb, **kw).collect()}
    p2df = semantic_near_dup_pairs(emb, **kw, n_assign=2)
    p2 = [(r[0], r[1]) for r in p2df.collect()]
    assert len(p2) == len(set(p2)), "multi pairs must be de-duplicated"
    assert p1 <= set(p2)
    # and the widened set is still a subset of exact truth
    from awskinesisconsumer_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    truth = {(r[0], r[1]) for r in embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.3
    ).select("id_a", "id_b").collect()}
    assert set(p2) <= truth


def test_semantic_multi_superset_holds_under_cell_cap(spark, _emb_cents):
    # The cap must be evaluated on PRIMARY cell sizes at n_assign > 1:
    # counting exploded memberships would let secondary members push a
    # boundary cell over the cap and drop pairs among its PRIMARY
    # members — making n_assign=2 return FEWER pairs than n_assign=1,
    # the opposite of the documented widening. Pick the cap at exactly
    # the largest primary cell so any membership-count capping would
    # trip (every secondary membership overflows some at-cap cell).
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_assign, semantic_near_dup_pairs,
    )
    import pyspark.sql.functions as F

    emb, cents = _emb_cents
    cap = (
        ivf_assign(emb, vec_col="embedding", centroids=cents)
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n")).first()[0]
    )
    kw = dict(id_col="vec_id", vec_col="embedding", centroids=cents,
              threshold=0.3, cell_cap=int(cap))
    p1 = {(r[0], r[1]) for r in
          semantic_near_dup_pairs(emb, **kw).collect()}
    p2 = {(r[0], r[1]) for r in
          semantic_near_dup_pairs(emb, **kw, n_assign=2).collect()}
    assert p1, "fixture must mine pairs at the primary-size cap"
    assert p1 <= p2


def test_semantic_dedup_multi_keeps_primary_cell(spark, _emb_cents):
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_assign, semantic_dedup,
    )

    emb, cents = _emb_cents
    out = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        threshold=0.3, n_assign=2,
    )
    primary = {r["vec_id"]: r["cell"] for r in ivf_assign(
        emb, vec_col="embedding", centroids=cents
    ).collect()}
    rows = out.collect()
    assert len(rows) == emb.count()
    assert all(r["cell"] == primary[r["vec_id"]] for r in rows)


def test_cohen_kappa_edges(spark):
    from awskinesisconsumer_spark.operators.evaluation import cohen_kappa

    # perfect agreement -> kappa 1; NULL labels excluded
    df = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2), (None, 1), (1, None)],
        "ra int, rb int",
    )
    row = cohen_kappa(df, rater_a_col="ra", rater_b_col="rb").first()
    assert row["n_items"] == 3 and row["kappa"] == 1.0
    # single shared label -> pe == 1 -> kappa NULL, not a crash
    one = spark.createDataFrame([(1, 1)] * 4, "ra int, rb int")
    row = cohen_kappa(one, rater_a_col="ra", rater_b_col="rb").first()
    assert row["pe"] == 1.0 and row["kappa"] is None
    # all labels NULL -> n == 0: NULL statistics, never 0/0 (ANSI
    # mode — the driver's session — raises on division by zero)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        empty = spark.createDataFrame(
            [(None, 1), (2, None)], "ra int, rb int"
        )
        row = cohen_kappa(
            empty, rater_a_col="ra", rater_b_col="rb"
        ).first()
        assert row["n_items"] == 0
        assert row["po"] is None and row["pe"] is None
        assert row["kappa"] is None
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")


def test_fleiss_kappa_validation(spark):
    from awskinesisconsumer_spark.operators.evaluation import fleiss_kappa

    ragged = spark.createDataFrame(
        [(1, 0), (1, 1), (2, 0)], "item int, label int"
    )
    with pytest.raises(ValueError, match="constant"):
        fleiss_kappa(ragged, item_col="item", label_col="label")
    single = spark.createDataFrame([(1, 0), (2, 1)], "item int, label int")
    with pytest.raises(ValueError, match=">= 2"):
        fleiss_kappa(single, item_col="item", label_col="label")
    # unanimous panel -> kappa 1
    unanimous = spark.createDataFrame(
        [(i, i % 2) for i in range(6) for _ in range(3)],
        "item int, label int",
    )
    row = fleiss_kappa(
        unanimous, item_col="item", label_col="label"
    ).first()
    assert row["n_raters"] == 3 and row["kappa"] == 1.0


def test_bootstrap_ci_deterministic_and_ordered(spark):
    from awskinesisconsumer_spark.operators.evaluation import bootstrap_ci

    docs = _load(spark, SF_SMOKE, "documents").select(
        "doc_id", F.length("text").alias("v")
    )
    a = bootstrap_ci(docs, id_col="doc_id", value_col="v",
                     n_boot=100).first()
    b = bootstrap_ci(docs, id_col="doc_id", value_col="v",
                     n_boot=100).first()
    assert a == b, "Poisson bootstrap must be deterministic"
    assert a["ci_lo"] <= a["estimate"] <= a["ci_hi"]
    assert a["n_boot"] <= 100


def test_ks_statistic_extremes(spark):
    from awskinesisconsumer_spark.operators.evaluation import ks_statistic

    same = spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in range(50)],
        "g string, v int",
    )
    row = ks_statistic(same, value_col="v", group_col="g",
                       group_a="a", group_b="b").first()
    assert row["d_stat"] == 0.0 and row["drifted"] is False
    disjoint = spark.createDataFrame(
        [("a", v) for v in range(50)] + [("b", v + 100) for v in range(50)],
        "g string, v int",
    )
    row = ks_statistic(disjoint, value_col="v", group_col="g",
                       group_a="a", group_b="b").first()
    assert row["d_stat"] == 1.0 and row["drifted"] is True


def test_minhash_shard_merge_identity(spark):
    # min-of-mins: per-shard sketches merged == global build, row for
    # row — the exact identity the ext-minhash-shard-merge gate rides.
    from awskinesisconsumer_spark.operators.dedup import (
        minhash_group_sketch, minhash_sketch_merge, portable_hash52,
    )

    docs = _load(spark, SF_SMOKE, "documents").select(
        "lang", "doc_id", (F.col("doc_id") % 3).alias("shard")
    )
    global_sk = minhash_group_sketch(
        docs, key_col="doc_id", group_col="lang", num_hashes=16,
        hash_fn=portable_hash52,
    )
    per_shard = minhash_group_sketch(
        docs.withColumn(
            "gs", F.concat_ws("\x1f", "lang", F.col("shard").cast("string"))
        ),
        key_col="doc_id", group_col="gs", num_hashes=16,
        hash_fn=portable_hash52,
    ).select(
        F.substring_index("group", "\x1f", 1).alias("group"),
        "perm", "minh",
    )
    merged = minhash_sketch_merge(per_shard)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, global_sk.collect())
    )


def test_minhash_overlap_identical_groups(spark):
    from awskinesisconsumer_spark.operators.dedup import (
        minhash_group_sketch, minhash_overlap_matrix, portable_hash52,
    )

    keys = spark.createDataFrame(
        [(g, k) for g in ("a", "b") for k in range(40)],
        "g string, k int",
    )
    sig = minhash_group_sketch(
        keys, key_col="k", group_col="g", num_hashes=16,
        hash_fn=portable_hash52,
    )
    row = minhash_overlap_matrix(sig, num_hashes=16).first()
    assert row["n_match"] == 16 and row["jaccard_est"] == 1.0


def test_readability_degenerate_docs(spark):
    from awskinesisconsumer_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "The quick brown fox jumps. It runs!")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            readability_scores(df, text_col="text").collect()}
    for d in (0, 1):
        assert rows[d]["n_words"] == 0
        assert rows[d]["flesch"] is None and rows[d]["fk_grade"] is None
    assert rows[2]["n_sentences"] == 2 and rows[2]["n_words"] == 7
    assert rows[2]["flesch"] is not None


def test_semantic_recall_audit_monotone(spark, _emb_cents):
    # recall(n=2) >= recall(n=1) per bucket, n_caught <= n_true, and
    # the n_assign=2 rows strictly improve on this fixture (the
    # measured 0.25 -> 0.67 uplift, allowed to drift with testdata).
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_dedup_recall_audit,
    )

    emb, cents = _emb_cents
    aud = semantic_dedup_recall_audit(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        threshold=0.3, n_assign_values=(1, 2),
    ).collect()
    by = {(r["n_assign"], r["bucket_lo"]): r for r in aud}
    assert all(r["n_caught"] <= r["n_true_pairs"] for r in aud)
    buckets = {b for (_, b) in by}
    assert buckets, "fixture must produce at least one cosine bucket"
    for b in buckets:
        assert by[(2, b)]["recall"] >= by[(1, b)]["recall"]
    assert sum(by[(2, b)]["n_caught"] for b in buckets) > sum(
        by[(1, b)]["n_caught"] for b in buckets
    )


def _hh_rows(spark, sk_p, tm_p):
    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.sketches import (
        cms_heavy_hitters_from_state,
    )

    sketch = spark.read.parquet(sk_p).select("row", "bucket", "n")
    cand = spark.read.parquet(tm_p).select("term", "exact")
    return sorted(
        tuple(r) for r in cms_heavy_hitters_from_state(
            sketch, cand, k=5, depth=4, width=64,
            hash_fn=portable_hash52,
        ).collect()
    )


def test_cms_merge_replay_is_skipped(spark, tmp_path):
    # foreachBatch is at-least-once: replaying an already-committed
    # batch_id must NOT sum-add the counters a second time. This was
    # a real double-count before the _bid guard existed.
    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.streaming.pipeline import _cms_merge_fn

    sk_p, tm_p = str(tmp_path / "sk"), str(tmp_path / "tm")
    merge = _cms_merge_fn(
        text_col="text", depth=4, width=64, salt="cms1",
        hash_fn=portable_hash52, sketch_path=sk_p, terms_path=tm_p,
    )
    b0 = spark.createDataFrame(
        [("alpha beta beta",), ("beta gamma",)], "text string"
    )
    b1 = spark.createDataFrame([("alpha alpha",)], "text string")
    merge(b0, 0)
    merge(b1, 1)
    want = _hh_rows(spark, sk_p, tm_p)
    merge(b1, 1)  # checkpoint replay after a crash-before-commit
    assert _hh_rows(spark, sk_p, tm_p) == want


def test_cms_merge_partial_commit_converges(spark, tmp_path):
    # Crash between the two table commits: the sketch carries batch 1
    # but the terms table does not. The retry must skip the sketch
    # (already merged) and re-merge ONLY the terms — converging to
    # the same state as the unfailed run, never resetting either
    # table to batch-local counts.
    import shutil

    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.streaming.pipeline import _cms_merge_fn

    sk_p, tm_p = str(tmp_path / "sk"), str(tmp_path / "tm")
    merge = _cms_merge_fn(
        text_col="text", depth=4, width=64, salt="cms1",
        hash_fn=portable_hash52, sketch_path=sk_p, terms_path=tm_p,
    )
    b0 = spark.createDataFrame(
        [("alpha beta beta",), ("beta gamma",)], "text string"
    )
    b1 = spark.createDataFrame([("alpha alpha delta",)], "text string")
    merge(b0, 0)
    tm_backup = str(tmp_path / "tm_backup")
    shutil.copytree(tm_p, tm_backup)
    merge(b1, 1)
    want = _hh_rows(spark, sk_p, tm_p)
    # simulate the crash: terms commit for batch 1 never happened
    shutil.rmtree(tm_p)
    shutil.copytree(tm_backup, tm_p)
    merge(b1, 1)  # checkpoint retry
    assert _hh_rows(spark, sk_p, tm_p) == want


def test_read_state_recovers_renamed_aside_dir(spark, tmp_path):
    # The crash window inside _swap_state: committed state renamed to
    # the `.old` aside but the replacement rename never ran.
    # _read_state must restore it — a deleted/empty state dir with an
    # aside sibling is NOT a first batch.
    import os

    from awskinesisconsumer_spark.streaming.pipeline import (
        _OLD_SUFFIX, _read_state, _state_batch_id, _swap_state,
    )

    path = str(tmp_path / "state")
    df = spark.range(3).withColumn("_bid", F.lit(7))
    _swap_state(df, path)
    os.rename(path, path + _OLD_SUFFIX)
    os.makedirs(path)  # the empty placeholder the entries pre-create
    got = _read_state(spark, path)
    assert got is not None and got.count() == 3
    assert _state_batch_id(got) == 7
    assert not os.path.exists(path + _OLD_SUFFIX)


def test_hist_merge_replay_is_skipped(spark, tmp_path):
    from awskinesisconsumer_spark.streaming.pipeline import (
        _hist_merge_fn,
    )

    out = str(tmp_path / "hist")
    merge = _hist_merge_fn(
        value_col="v", lo=0.0, hi=10.0, n_bins=5, out_path=out,
    )
    b0 = spark.createDataFrame([(1.0,), (3.0,), (9.0,)], "v double")
    b1 = spark.createDataFrame([(3.5,)], "v double")
    merge(b0, 0)
    merge(b1, 1)
    want = sorted(
        tuple(r) for r in
        spark.read.parquet(out).select("bin", "c").collect()
    )
    merge(b1, 1)
    got = sorted(
        tuple(r) for r in
        spark.read.parquet(out).select("bin", "c").collect()
    )
    assert got == want


def test_cms_stream_restart_resumes_state_through_checkpoint(
    spark, tmp_path
):
    # End-to-end composition of the checkpoint with the swap-commit
    # state: run the CMS stream over 2 of 3 files, stop, add the
    # third, restart with the SAME checkpoint + state paths — the
    # final state must equal one batch build over all three files
    # (no lost batches, no double-merge across the restart).
    import os

    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    docs = _load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    parts = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    assert len(parts) == 3
    held_back = str(tmp_path / (parts[2] + ".heldback"))
    os.rename(os.path.join(src, parts[2]), held_back)

    sk_p = str(tmp_path / "sk")
    tm_p = str(tmp_path / "tm")
    ckpt = str(tmp_path / "ckpt")

    def start():
        from awskinesisconsumer_spark.streaming.pipeline import (
            cms_sketch_stream,
        )

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        return cms_sketch_stream(
            stream, text_col="text", depth=4, width=256,
            hash_fn=portable_hash52, sketch_path=sk_p, terms_path=tm_p,
            checkpoint=ckpt,
        )

    q = start()
    assert q.awaitTermination(180)
    os.rename(held_back, os.path.join(src, parts[2]))
    q2 = start()
    assert q2.awaitTermination(180)

    got = sorted(tuple(r) for r in cms_heavy_hitters(
        docs, text_col="text", k=10, depth=4, width=256,
        hash_fn=portable_hash52,
    ).collect())
    from awskinesisconsumer_spark.operators.sketches import (
        cms_heavy_hitters_from_state,
    )

    sketch = spark.read.parquet(sk_p).select("row", "bucket", "n")
    cand = spark.read.parquet(tm_p).select("term", "exact")
    streamed = sorted(tuple(r) for r in cms_heavy_hitters_from_state(
        sketch, cand, k=10, depth=4, width=256,
        hash_fn=portable_hash52,
    ).collect())
    assert streamed == got


def test_semantic_multi_widened_cap_catches_secondary_flood(spark):
    # The cost-guard half of the two-condition cap: a degenerate
    # constant-embedding blob shares ONE primary cell (caught by the
    # primary-size check) and floods ONE secondary cell whose own
    # primary count is tiny — only the widened-membership check
    # (> cell_cap * n_assign) stops that cell from going quadratic.
    # 60 identical vectors (primary cell 0, secondary cell 1) + 2
    # honest near-dups in untouched cell 2, cap 10: without the
    # widened check, cell 1 (primary count 0 <= cap) would mine the
    # blob's C(60,2) identical pairs; with it, the flooded cell is
    # capped (its honest residents pay too — the documented cost-
    # guard-wins trade) while cells the flood never reaches mine
    # normally.
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_near_dup_pairs,
    )

    blob = [(i, [10.0, 10.0]) for i in range(60)]
    others = [(100, [-10.0, -10.0]), (101, [-10.01, -10.01])]
    df = spark.createDataFrame(
        blob + others, "vec_id long, embedding array<double>"
    )
    cents = [[10.0, 10.0], [5.0, 5.0], [-10.0, -10.0]]
    pairs = semantic_near_dup_pairs(
        df, id_col="vec_id", vec_col="embedding", centroids=cents,
        threshold=0.9, cell_cap=10, n_assign=2,
    ).collect()
    got = {(r[0], r[1]) for r in pairs}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got), got


def test_state_batch_id_refuses_pre_guard_state(spark):
    # A sum-merged state table without _bid predates the replay
    # guard; merging onto it cannot tell a replay from fresh work,
    # so it must be refused loudly, never silently double-counted.
    from awskinesisconsumer_spark.streaming.pipeline import (
        _state_batch_id,
    )

    legacy = spark.createDataFrame([(0, 1)], "bin int, c long")
    with pytest.raises(ValueError, match="_bid"):
        _state_batch_id(legacy)
    assert _state_batch_id(None) is None


def test_cms_candidate_top_m_prefilter(spark):
    # The promised 100 TB candidate source, concrete and
    # deterministic (hash-bucketed, never spark_partition_id): with
    # m >= k the pre-filtered heavy-hitter report EQUALS the
    # exact-candidates run verbatim (min-k composition: survivors are
    # a superset of the global top-m); with tiny m the candidate
    # table is bounded at m x n_buckets, survivors keep their EXACT
    # counts, and survivors dominate — no dropped term out-counts a
    # kept term's bucket floor.
    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.sketches import (
        cms_candidates_top_m, cms_heavy_hitters, cms_tokens,
    )

    docs = _load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    kw = dict(text_col="text", k=10, depth=4, width=256,
              hash_fn=portable_hash52)
    exact = sorted(tuple(r) for r in cms_heavy_hitters(
        docs, **kw).collect())
    pre = sorted(tuple(r) for r in cms_heavy_hitters(
        docs, **kw, candidate_top_m=10).collect())  # m == k suffices
    assert pre == exact
    # tiny m: bounded candidates with exact counts; the survivor set
    # must CONTAIN the global top-m (the composition guarantee) —
    # a flipped sort order would keep the bottom instead and fail
    tok = cms_tokens(docs, text_col="text")
    cand = cms_candidates_top_m(tok, m=5, n_buckets=4,
                                hash_fn=portable_hash52)
    rows = cand.collect()
    assert len(rows) <= 5 * 4
    truth = {r["term"]: r["exact"] for r in tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("exact")).collect()}
    kept = {r["term"] for r in rows}
    for r in rows:
        assert truth[r["term"]] == r["exact"]
    top5 = sorted(truth, key=lambda t: (-truth[t], t))[:5]
    assert set(top5) <= kept, (top5, sorted(kept))
    # determinism across layouts: a different file split yields the
    # same candidate set (the old partition-id form failed this)
    cand2 = cms_candidates_top_m(
        cms_tokens(docs.repartition(7), text_col="text"),
        m=5, n_buckets=4, hash_fn=portable_hash52,
    )
    assert {(r["term"], r["exact"]) for r in cand2.collect()} == {
        (r["term"], r["exact"]) for r in rows
    }
    with pytest.raises(ValueError, match="m must be"):
        cms_candidates_top_m(tok, m=0)


def test_bid_lineage_refuses_checkpoint_reset(spark):
    # batch ids below the state's committed high-water mark mean the
    # checkpoint was reset against surviving state — SUM-merging the
    # replayed input would double-count everything already committed.
    from awskinesisconsumer_spark.streaming.pipeline import (
        _check_bid_lineage,
    )

    _check_bid_lineage(0, None, where="x")     # first batch
    _check_bid_lineage(7, 7, where="x")        # replay of the last
    _check_bid_lineage(8, 7, where="x")        # normal advance
    with pytest.raises(ValueError, match="checkpoint reset"):
        _check_bid_lineage(0, 7, where="x")


def test_compact_latest_stream_validates_op_col(spark):
    from awskinesisconsumer_spark.streaming.pipeline import (
        compact_latest_stream,
    )

    log = spark.readStream.format("rate").load().select(
        F.col("value").alias("k"), F.col("value").alias("seq"),
        F.lit("v").alias("v"), F.lit("upsert").alias("op"),
    )
    with pytest.raises(ValueError, match="op_col 'op' must be listed"):
        compact_latest_stream(
            log, key_cols=["k"], seq_col="seq",
            payload_cols=["v"], op_col="op",
        )
