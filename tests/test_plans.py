"""Physical-plan regression tests: the plan properties the 100 TB
design depends on, asserted against `explain`-level output so a
refactor that silently loses a pushdown, broadcast, or shuffle shape
fails CI rather than a cluster run.

These assert on the optimized/physical plan string — brittle-ish by
nature, so each assertion targets a property Catalyst spells stably
(PushedFilters, BroadcastHashJoin/BroadcastExchange, CartesianProduct,
Exchange count), not exact plan text.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_prune_pushes_filters_and_columns(spark):
    df = entry.queries()["scan-prune-elements"](spark, SF)
    plan = _plan(df)
    # Both predicates reach the parquet scan...
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]
    # ...and the scan reads only the projected/filtered columns, not
    # the full 16-column lineitem schema.
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema


def test_revenue_join_broadcasts_dimensions(spark):
    df = entry.queries()["join-revenue-by-nation"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_has_no_cartesian_and_bounded_exchanges(spark):
    df = entry.queries()["ext-dedup-minhash"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    # The bucketed interval join must plan as a hash equi-join on the
    # bucket key — never the quadratic BroadcastNestedLoop/Cartesian
    # Catalyst produces for raw inequality joins.
    df = entry.queries()["ext-join-range"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_moving_avg_single_exchange(spark):
    # lag + moving avg + running sum share one window family -> the
    # plan shuffles once on user_id (plus AQE read side), not once
    # per frame.
    df = entry.queries()["agg-moving-avg"](spark, SF)
    plan = _plan(df)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_last_row_avoids_global_sort(spark):
    # max_by formulation: no Sort node spanning the full table.
    df = entry.queries()["query-last-row"](spark, SF)
    plan = _plan(df)
    assert "Sort " not in plan


def test_topk_uses_take_ordered(spark):
    df = entry.queries()["topk-customers"](spark, SF)
    assert "TakeOrderedAndProject" in _plan(df)


def test_knn_corpus_never_shuffles(spark):
    # Probes broadcast; the corpus side must not hash-exchange for
    # the join itself (window top-k repartitions per probe, which is
    # k-bounded rows, not the corpus).
    df = entry.queries()["ext-similarity-knn"](spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dedup_exact_is_single_aggregate(spark):
    df = entry.queries()["ext-dedup-exact"](spark, SF)
    plan = _plan(df)
    # one partial + one final hash aggregate pair over one exchange
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_decontaminate_broadcast_only_on_bench_side(spark):
    # Two joins, two different size bounds: the bench-shingle join MAY
    # carry a broadcast hint (eval suites are fixed-size), but the
    # match-table re-attach join must NOT — its size is bounded only
    # by the corpus, and the round-2 fix removed exactly that forced
    # broadcast (AQE sizes it at runtime instead). Guard: exactly one
    # hint, and it sits on the shingle equi-join, not the doc_id join.
    df = entry.queries()["ext-decontaminate"](spark, SF)
    opt = _optimized(df)
    hinted = [l for l in opt.splitlines()
              if "strategy=broadcast" in l]
    assert len(hinted) == 1, opt
    assert "shingle" in hinted[0] and "doc_id" not in hinted[0], hinted
    assert "CartesianProduct" not in _plan(df)


def test_partitioned_sink_readback_prunes_partitions(spark):
    # The filtered read of the partitionBy(event_type) sink must carry
    # the predicate as a PartitionFilter on the scan (directory-level
    # pruning), not a post-scan Filter over all partitions.
    df = entry.queries()["sink-partitioned-prune"](spark, SF)
    plan = _plan(df)
    pf = plan.split("PartitionFilters")[1][:200] if "PartitionFilters" in plan else ""
    assert "event_type" in pf, plan


def test_shipping_priority_pushes_filters_and_broadcasts(spark):
    # Q3 shape: date/segment filters reach the scans; the pruned
    # customer dim broadcasts; no cartesian anywhere.
    df = entry.queries()["join-shipping-priority"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_join_broadcasts_probes_and_never_shuffles_corpus(spark):
    # The corpus side must reach the scoring join without an
    # Exchange: probes broadcast, the only hash exchanges are the
    # two-level top-k rank windows.
    df = entry.queries()["ext-knn-join"](spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_join_is_equi_join_on_bucket(spark):
    # The hamming<=1 restriction is expanded into probe bucket rows,
    # so the plan is a broadcast EQUI join on the bucket id — never
    # the theta-join nested loop over the whole corpus.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.similarity import (
        ann_join_srp, deterministic_planes,
    )

    emb = load_table(spark, "embeddings", SF)
    df = ann_join_srp(
        emb, id_col="vec_id", vec_col="embedding",
        probe_ids=[0, 1], planes=deterministic_planes(64, 8), k=5,
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_skyline_has_no_join_over_data_and_no_global_sort(spark):
    # Phase-2 pruning joins against the n_buckets-row aggregate
    # (broadcast); the data-sized side never cartesians or global-
    # sorts (the only Sort nodes are inside bucket-partitioned
    # windows).
    df = entry.queries()["agg-skyline-2d"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_single_user_exchange(spark):
    # The chained step windows + per-user collapse share ONE
    # user-keyed hash exchange (plus the final single-partition
    # rollup, which is not a hashpartitioning exchange).
    df = entry.queries()["agg-conversion-funnel"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_scd2_single_exchange(spark):
    # Lag-collapse and lead-stamp share the (key, ts, order) window
    # sort: one keyed exchange total.
    df = entry.queries()["ext-scd2-versions"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bucketed_join_gate_has_no_exchange_at_the_join(spark):
    # Both sides bucketed+sorted on the key: the SortMergeJoin (or
    # its AQE form) consumes the bucketed layout directly — zero
    # hashpartitioning exchange below the join. The only exchange in
    # the whole query is the downstream segment rollup's.
    df = entry.queries()["sink-bucketed-join"](spark, SF)
    plan = _plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_forecast_revenue_pushes_all_predicates(spark):
    # Q6 is the scan floor: every predicate must reach the parquet
    # scan and the read schema must exclude unused columns.
    df = entry.queries()["agg-forecast-revenue"](spark, SF)
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_returnflag" not in read_schema


def test_late_orders_exists_is_semi_join(spark):
    df = entry.queries()["join-late-orders-exists"](spark, SF)
    plan = _plan(df)
    assert "LeftSemi" in plan or "left_semi" in plan.lower()
    assert "CartesianProduct" not in plan


def test_full_outer_aggregates_before_join(spark):
    # Both sides collapse to one row per key before the outer join:
    # two HashAggregates must appear BELOW the join in the plan tree.
    df = entry.queries()["join-full-outer-activity"](spark, SF)
    plan = _plan(df)
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "CartesianProduct" not in plan


def test_winsorize_scan_prunes_columns(spark):
    # Both passes (histogram build + map-only clip) must prune the
    # orders scan to the two used columns.
    df = entry.queries()["ext-winsorize"](spark, SF)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "o_totalprice" in read_schema
    assert "o_comment" not in read_schema and "o_clerk" not in read_schema


def test_scd2_asof_is_map_only_over_one_exchange(spark):
    # The point-in-time filter adds NO exchange over the scd2_versions
    # build (lag-collapse + lead-stamp share one user-keyed sort).
    df = entry.queries()["ext-scd2-asof"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dedup_incremental_never_self_joins_corpus(spark):
    # The daily-ingest dedup joins NEW grams against CORPUS grams —
    # never corpus against itself, and nothing quadratic anywhere.
    df = entry.queries()["ext-dedup-incremental"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_domain_cap_single_exchange(spark):
    # Per-group quota = ONE group-keyed window sort; a second
    # hash-exchange would mean the rank and the keep flag planned as
    # separate window families.
    from awskinesisconsumer_spark.operators.corpus_prep import domain_cap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = domain_cap(
        docs.withColumn("domain", (F.col("doc_id") % 7).cast("string")),
        group_col="domain", cap=5, id_col="doc_id",
    )
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_snapshot_diff_scan_reads_only_key_and_compare_cols(spark):
    # The digest projection must prune the scan to key + compared
    # columns — at 100 TB the diff never reads the payload.
    from awskinesisconsumer_spark.operators.compaction import snapshot_diff

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = snapshot_diff(
        ev.where("event_id % 2 = 0"), ev.where("event_id % 2 = 1"),
        key_cols=["event_id"], compare_cols=["event_type"],
    )
    plan = _plan(out)
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "event_type" in read_schema
    assert "value" not in read_schema and "props" not in read_schema
    assert "CartesianProduct" not in plan


def test_semantic_decontaminate_map_only_zero_exchanges(spark):
    # The vectorized decontamination kernel is ONE MapInPandas
    # directly over the pruned corpus scan: the benchmark rides the
    # closure, per-row maxima collapse inside the kernel, and the
    # corpus NEVER shuffles — the plan a 100 TB sweep needs.
    df = entry.queries()["ext-semantic-decontaminate"](spark, SF)
    plan = _plan(df)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "vec_id" in read_schema and "embedding" in read_schema


def test_quality_blend_final_pass_is_map_only(spark):
    # After the per-signal histogram sketches collapse to driver cut
    # points, the normalization + blend must be pure whole-stage
    # projections over ONE scan — zero exchanges in the output plan.
    from awskinesisconsumer_spark.operators.corpus_prep import quality_blend

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig = docs.select(
        "doc_id", F.length("text").cast("double").alias("n_chars")
    )
    out = quality_blend(sig, signals={"n_chars": (0.0, 2000.0, 1.0)})
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "*(1) Project" in plan  # codegen'd projection stage


def test_normalize_text_single_arrow_pass_no_exchange(spark):
    # One ArrowEvalPython over the scan — the hygiene pass is a
    # projection. r17 (r16 ADVICE): normalize_text's fan_out_small
    # was REVERTED in r16 (measured a loss), so the operator adds NO
    # exchange — the r16 one-exchange allowance was dead and would
    # have masked an unintended future exchange.
    from awskinesisconsumer_spark.operators.text import normalize_text

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = normalize_text(docs, text_col="text")
    plan = _plan(out)
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan  # never the row-at-a-time path


def test_vocab_coverage_probe_is_broadcast(spark):
    # The vocab membership probe must be a BroadcastHashJoin — a
    # vocab_size-row table must never hash-exchange the corpus-sized
    # (doc, term) side for it.
    from awskinesisconsumer_spark.operators.text import vocab_coverage

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = vocab_coverage(
        docs, id_col="doc_id", text_col="text", vocab_size=10
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_corpus_drift_totals_ride_one_broadcast_row(spark):
    # The smoothing scalars join as ONE broadcast row (nested-loop on
    # a 1-row build side is fine); the term-keyed full-outer is the
    # only hash exchange family, and nothing is a cartesian of two
    # big sides.
    from awskinesisconsumer_spark.operators.text import corpus_drift

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = corpus_drift(
        docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"),
        text_col="text",
    )
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan  # the term full-outer join
    assert "CartesianProduct" not in plan


def test_domain_cap_topk_reducers_are_salt_bounded(spark):
    # Two window families: the (group, salt) local top-cap then the
    # group-level finish — the first must partition on BOTH keys so
    # no reducer ever holds more than a salt shard of a mega domain.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        domain_cap_topk,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "domain", (F.col("doc_id") % 7).cast("string")
    )
    out = domain_cap_topk(
        docs, group_col="domain", cap=5, id_col="doc_id",
        salt_buckets=8,
    )
    plan = _plan(out)
    assert "hashpartitioning(domain" in plan
    assert "_salt" in plan  # the salted first-level exchange exists
    assert "CartesianProduct" not in plan


def test_remove_duplicate_spans_no_pairwise_join(spark):
    # Surgical span removal must stay (doc, position)-keyed: hash
    # groupBy for the span table, anti-join for the cut, NEVER a
    # doc-pair product.
    from awskinesisconsumer_spark.operators.dedup import (
        portable_hash52, remove_duplicate_spans,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = remove_duplicate_spans(
        docs, id_col="doc_id", text_col="text",
        hash_fn=portable_hash52, anchored=True,
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # pure column expressions


def test_domain_cap_topk_totals_scan_input_once(spark):
    # r7 ADVICE/VERDICT: n_in_group used to come from a SECOND full
    # aggregate over the input. The fused form rides the salted
    # window (shard count over the same sort) + a group-window sum on
    # the quota-bounded candidates — the physical plan must contain
    # exactly ONE scan of the input and no join at all.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        domain_cap_topk,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "domain", (F.col("doc_id") % 7).cast("string")
    )
    out = domain_cap_topk(
        docs, group_col="domain", cap=5, id_col="doc_id",
        salt_buckets=8,
    )
    plan = _plan(out)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "n_in_group" in plan
    # and the audit column can be skipped entirely
    plan_nt = _plan(
        domain_cap_topk(
            docs, group_col="domain", cap=5, id_col="doc_id",
            salt_buckets=8, with_totals=False,
        )
    )
    assert "n_in_group" not in plan_nt


def test_strip_html_is_single_map_only_projection(spark):
    # ext-html-strip: the whole pass (regexp chain + entity replaces
    # + collapse) must be ONE projection over the scan — no exchange,
    # no Python, so at 100 TB it fuses with the parquet read.
    from awskinesisconsumer_spark.operators.text import strip_html

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(strip_html(docs, text_col="text"))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 1


def test_bigram_perplexity_no_token_stream_window(spark):
    # ext-perplexity-bigram: pair formation must be the ARRAY
    # expression (no per-doc Window over the exploded token stream —
    # the lag() formulation would shuffle and sort every token), and
    # the vocab scalar must ride a broadcast, not a shuffle join.
    from awskinesisconsumer_spark.operators.text import (
        bigram_perplexity,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = bigram_perplexity(docs, id_col="doc_id", text_col="text")
    plan = _plan(out)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_rank_fusion_fuses_lists_without_corpus_scan(spark):
    # ext-rank-fusion: fusion itself must add NO scan of the corpus
    # beyond what the input lists carry — it is a union + groupBy +
    # window over top-k-sized data.
    from awskinesisconsumer_spark.operators.similarity import (
        rank_fusion,
    )

    a = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2)], "probe_id long, neighbor_id long, r long"
    )
    b = spark.createDataFrame(
        [(0, 2, 1), (0, 3, 2)], "probe_id long, neighbor_id long, r long"
    )
    out = rank_fusion([(a, "r"), (b, "r")], rrf_k=60, top_n=10)
    plan = _plan(out)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_shuffle_order_no_global_sort(spark):
    # ext-shuffle-order: per-shard window sorts — the plan must hash-
    # partition by shard, never range-partition (a global ORDER BY
    # hash would funnel the corpus through one task).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        shuffle_order,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(shuffle_order(docs, id_col="doc_id", n_shards=8))
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Scan parquet") == 1


def test_interleave_mixture_two_parallel_window_families(spark):
    # ext-interleave-mixture: positions window + merge window, both
    # hash-partitioned (parallel); no range partitioning, no join.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        interleave_mixture,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = interleave_mixture(
        docs, id_col="doc_id", source_col="source",
        weights={"src0": 0.5, "src1": 0.5}, n_shards=8,
    )
    plan = _plan(out)
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    assert plan.count("Window") == 2


def test_cdc_clamped_map_only_zero_exchanges(spark):
    # ext-cdc-chunk-clamped: the min/max clamp fold is ONE F.aggregate
    # over the candidate array — the whole operator must stay a
    # map-only projection chain: zero Python, one scan, and no
    # exchange EXCEPT the size-gated fan_out_small round-robin (r16:
    # a tiny single-row-group input fans out to defaultParallelism;
    # at scale the gate never fires — pinned in test_skew.py). A
    # second exchange, or any hash/range partitioning, is still a bug.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        content_defined_chunks_clamped,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from awskinesisconsumer_spark.operators.corpus_prep import xxhash64_col

    out = content_defined_chunks_clamped(
        docs, id_col="doc_id", text_col="text",
        min_len=32, max_len=128, hash_fn=xxhash64_col,
    )
    plan = _plan(out)
    assert plan.count("Exchange") <= 1, plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    assert plan.count("Scan parquet") == 1
    # the inferred-filter regression the outer explode removed: the
    # rolling-hash election must not be restated below the Generate
    assert plan.count("xxhash64") <= 20, (
        "boundary election duplicated in the plan:\n" + plan
    )


def test_expand_mixture_map_only_zero_exchanges(spark):
    # ext-mixture-expand: when-chain + hash gate + explode(sequence)
    # — pure narrow ops; repetition multiplies rows WITHOUT a shuffle.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        expand_mixture_epochs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source"
    )
    out = expand_mixture_epochs(
        docs, id_col="doc_id", source_col="source",
        epochs={"src0": 2.5, "src1": 0.0},
    )
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan  # the sequence explode


def test_whiten_apply_is_map_only_projection(spark):
    # ext-embedding-whiten's apply phase: frozen DIM-sized stats are
    # baked in as array literals — transform + posexplode over the
    # scan, zero exchanges; the corpus never shuffles.
    from awskinesisconsumer_spark.operators.similarity import (
        whiten_embeddings_with_stats,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = whiten_embeddings_with_stats(
        emb, id_col="vec_id", vec_col="embedding",
        stats=[(0.0, 1.0)] * 64,
    )
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "Generate posexplode" in plan


def test_sentence_decontaminate_broadcasts_benchmark(spark):
    # ext-sentence-decontaminate: the benchmark sentence set rides a
    # broadcast — the corpus sentence explosion must stream map-side
    # through a BroadcastHashJoin, never a nested-loop/cartesian.
    df = entry.queries()["ext-sentence-decontaminate"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_is_banded_equi_join(spark):
    # ext-dedup-simhash-pairs: candidates come from an equi-join on
    # (band_idx, band_val) — any cartesian/nested-loop here is the
    # quadratic cliff the banding exists to avoid.
    df = entry.queries()["ext-dedup-simhash-pairs"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_budget_select_has_no_single_partition_window(spark):
    # ext-budget-select: the priority-ordered cumsum must run as the
    # bin-partitioned two-pass prefix sum — a Window with an empty
    # partitionBy over the corpus (the one-task cliff) may appear
    # ONLY on the n_bins-row offsets table, whose input is an
    # aggregate. Assert the corpus-side window partitions by the bin
    # and the offsets side is fed by a HashAggregate.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.corpus_prep import (
        budget_select,
    )

    docs = load_table(spark, "documents", SF)
    fx = docs.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("prio"),
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("bigint").alias("n_toks"),
    )
    out = budget_select(
        fx, id_col="doc_id", token_col="n_toks", priority_col="prio",
        budget=1000, lo=0.0, hi=2000.0, n_bins=50,
    )
    plan = _plan(out)
    # corpus-side window keyed by the bin
    assert "partitionBy=[_bin" in plan.replace(" ", "")[:10**6] or \
        "_bin" in plan.split("Window")[1][:400]
    # offsets join is broadcast (n_bins rows), never shuffled-merge
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_curriculum_order_windows_partition_by_shard(spark):
    # ext-curriculum-order: the only sort is per-shard — no global
    # ORDER BY, no single-partition window over the corpus.
    df = entry.queries()["ext-curriculum-order"](spark, SF)
    plan = _plan(df)
    w = plan.split("Window")[1][:400]
    assert "shard" in w
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pairs_are_cell_equi_join(spark):
    # ext-dedup-semantic: within-cell candidates come from an
    # equi-join on the cell id — never cartesian/nested-loop (the
    # SemDeDup tractability claim), and the corpus-side assignment
    # is a map-only argmin (no shuffle before the cell join).
    df = entry.queries()["ext-dedup-semantic"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_pairs_is_bucket_equi_join(spark):
    # ext-dedup-embedding-lsh (and the contrastive positives that
    # reuse it): Hamming<=1 candidates must come from the exploded-
    # probe EQUI join — the array_contains form planned a
    # BroadcastNestedLoopJoin, O(n^2) condition evaluations
    # regardless of bucketing (measured 30.7 s for 23 pairs at 2k
    # vectors, r11).
    df = entry.queries()["ext-dedup-embedding-lsh"](spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_assign_is_map_only(spark):
    # The IVF assignment must pipeline into the scan: no Exchange, no
    # join — one ArrowEvalPython projection over the parquet read.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_assign, ivf_centroids_from_sample,
    )

    emb = load_table(spark, "embeddings", SF)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    plan = _plan(ivf_assign(
        emb, vec_col="embedding", centroids=cents
    ))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_contrastive_by_cell_all_joins_are_equi(spark):
    # Every stage (pair mine, anchor re-attach, negative scoring,
    # exclusion) must plan as hash/sort-merge equi-joins keyed on
    # cell/id — never a nested loop or cartesian over the corpus.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.similarity import (
        contrastive_triplets_by_cell, ivf_centroids_from_sample,
    )

    emb = load_table(spark, "embeddings", SF)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    plan = _plan(contrastive_triplets_by_cell(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        pos_threshold=0.3, k_neg=2,
    ))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_apply_broadcasts_reps(spark):
    # The apply half must broadcast the (bounded) reps table and
    # never shuffle the corpus beyond the per-doc partial aggregate.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup,
        semantic_dedup_apply, semantic_dedup_keep,
    )

    emb = load_table(spark, "embeddings", SF)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    sem = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        threshold=0.3,
    )
    reps = semantic_dedup_keep(sem, emb, id_col="vec_id",
                               vec_col="embedding")
    plan = _plan(semantic_dedup_apply(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        reps=reps, threshold=0.3,
    ))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_sketch_distinct_has_partial_aggregation(spark):
    # The (group, hash) dedup must plan as a two-phase hash aggregate
    # (map-side partial combine before the shuffle) so the shuffle
    # carries at most one row per distinct key per map partition —
    # and the salted two-level bottom-k means no full-corpus window
    # funnels into one partition (Window partitions carry the salt).
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.sketches import kmv_sketch

    docs = load_table(spark, "documents", SF)
    sk = kmv_sketch(
        docs, key_col="text", group_col="lang", k=64
    )
    plan = _plan(sk)
    assert "partial" in plan.lower(), plan
    assert "CartesianProduct" not in plan
    # first window is salted: its partition spec mentions the salt
    assert "pmod" in plan.lower() or "_s" in plan, plan


def test_retrieval_metrics_broadcasts_truth(spark):
    # The relevance join must broadcast the (probes x k)-row truth
    # side — the corpus-sized approx table never shuffles for it.
    from awskinesisconsumer_spark.operators.similarity import (
        retrieval_metrics,
    )

    truth = spark.createDataFrame(
        [(0, 1, 1)], "probe_id long, neighbor_id long, knn_rank long"
    )
    approx = spark.createDataFrame(
        [(0, 1, 1)], "probe_id long, neighbor_id long, ann_rank long"
    )
    plan = _plan(retrieval_metrics(truth, approx, k=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_readability_is_map_only_codegen(spark):
    # Flesch/FK scoring must stay a narrow JVM-side projection: no
    # Exchange, no Python eval — every regexp/ratio inside
    # whole-stage codegen over the scan.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.text import (
        readability_scores,
    )

    docs = load_table(spark, "documents", SF)
    plan = _plan(readability_scores(docs, text_col="text"))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    # the `*(1)` star prefix is executedPlan toString's spelling of
    # a whole-stage-codegen'd stage
    assert plan.lstrip().startswith("*("), plan[:200]


def test_cohen_kappa_label_join_no_cartesian_over_corpus(spark):
    # The marginal-product join is keyed on label (equi); the only
    # non-equi join is the final crossJoin of two ONE-ROW aggregates.
    # Corpus-sized rows must never meet a nested loop, and the counts
    # must partially aggregate map-side.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.evaluation import (
        cohen_kappa,
    )

    docs = load_table(spark, "documents", SF)
    pairs = docs.select(
        F.col("lang").alias("ra"),
        F.coalesce(F.col("source"), F.col("lang")).alias("rb"),
    )
    plan = _plan(cohen_kappa(pairs, rater_a_col="ra", rater_b_col="rb"))
    assert "partial" in plan.lower(), plan
    assert "CartesianProduct" not in plan
    # label-keyed equi join planned as hash join (label cardinality
    # is tiny, so either side may broadcast)
    assert "HashJoin" in plan


def test_ks_statistic_groupby_has_partial_aggregation(spark):
    # The per-value counts must map-side combine BEFORE the shuffle —
    # the global ECDF window then runs over DISTINCT values only
    # (value-cardinality-bounded, the docstring's quantize-first
    # contract), never over corpus rows.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.evaluation import (
        ks_statistic,
    )

    docs = load_table(spark, "documents", SF)
    plan = _plan(ks_statistic(
        docs.select("lang", F.length("text").alias("v")),
        value_col="v", group_col="lang", group_a="en", group_b="fr",
    ))
    assert "partial" in plan.lower(), plan
    assert "CartesianProduct" not in plan


def test_bootstrap_ci_replicate_sums_partially_aggregate(spark):
    # The (row x replicate) explode is narrow; the per-replicate
    # weighted sums must partially aggregate map-side so the shuffle
    # carries <= n_boot rows per map partition, and no corpus-sized
    # side ever meets a nested loop (the final crossJoin is two
    # one-row aggregates).
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.evaluation import (
        bootstrap_ci,
    )

    docs = load_table(spark, "documents", SF)
    plan = _plan(bootstrap_ci(
        docs.select("doc_id", F.length("text").alias("v")),
        id_col="doc_id", value_col="v", n_boot=8,
    ))
    assert "partial" in plan.lower(), plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_minhash_group_sketch_partial_agg_and_equi_overlap(spark):
    # The group sketch is ONE map-side-combined groupBy carrying
    # num_hashes longs per group; the overlap matrix joins sketches
    # on perm (equi, never cartesian) with everything downstream
    # bounded by G^2 x num_hashes.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.dedup import (
        minhash_group_sketch, minhash_overlap_matrix,
    )

    ev = load_table(spark, "events", SF)
    sig = minhash_group_sketch(
        ev, key_col="user_id", group_col="event_type", num_hashes=8
    )
    splan = _plan(sig)
    assert "partial" in splan.lower(), splan
    oplan = _plan(minhash_overlap_matrix(sig, num_hashes=8))
    assert "CartesianProduct" not in oplan
    assert "HashJoin" in oplan or "SortMergeJoin" in oplan
