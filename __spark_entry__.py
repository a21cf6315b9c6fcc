"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship pipeline smoke check at sf0.001.
`queries()` — one callable per implemented operator (SURVEY.md §2 op-ids).
`oracle_sql()` — DuckDB-equivalent SQL for every SQL-expressible query.

Column names are aliased identically on both sides; float aggregates
are rounded on both sides so cross-engine summation-order noise cannot
flip the driver's value hash.
"""

from __future__ import annotations

import contextlib
import hashlib
import inspect
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from awskinesisconsumer_spark.io import load_table
from awskinesisconsumer_spark.operators import (
    asof_join_next_boundary,
    assign_monotonic_id,
    decode_explode,
    last_row,
    point_lookup,
    route_errors,
    segment_by_boundary,
    aggregate_segments,
    pivot_event_counts,
    throttle_first_per_window,
    top_k_by_recency,
)
from awskinesisconsumer_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    ngram_jaccard_pairs,
    portable_hash52,
    simhash,
)
from awskinesisconsumer_spark.operators.multimodal import (
    decode_frames,
    to_binary_payload,
)
from awskinesisconsumer_spark.operators.similarity import (
    deterministic_planes,
    embedding_near_dup_pairs,
    knn_lsh,
    pairwise_topk_cosine,
)
from awskinesisconsumer_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    text_stats,
    token_count,
)
from awskinesisconsumer_spark.plans.flagship import flagship_pipeline

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _arr_str(col: str, sep: str = ",") -> F.Column:
    """Serialize an array column to a delimited string for the driver
    gate (its pandas canonicalizer cannot hash list cells). NULL
    arrays stay NULL to match DuckDB's array_to_string(NULL, sep);
    empty arrays become '' on both engines."""
    c = F.col(col)
    return F.when(c.isNotNull(), F.concat_ws(sep, c.cast("array<string>")))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_pipeline(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# queries() — each callable is (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------

def _scan_prune(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 6 `scan-prune-elements`: projection+predicate reach
    # the parquet scan (ref: skip-by-size, /root/reference/ebml.py:309-327).
    li = load_table(spark, "lineitem", sf)
    return li.where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


def _pivot_tags(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 8 `pivot-tag-assembly` (ref parser.py:349-360).
    ev = load_table(spark, "events", sf)
    return pivot_event_counts(
        ev, key="user_id", pivot_col="event_type",
        values=EVENT_TYPES, value_expr="value",
    )


def _segment(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 9 `segment-fragments` (ref parser.py:362-375).
    ev = load_table(spark, "events", sf)
    seg = segment_by_boundary(
        ev, key="user_id", order="event_id",
        is_boundary=F.col("event_type") == "signup",
    )
    return aggregate_segments(
        seg, key="user_id", order="event_id", value="value"
    )


def _sessions_gap(spark: SparkSession, sf: str) -> DataFrame:
    # Gap-based sessionization (SURVEY row 9's inactivity-gap twin):
    # 30-min gap per user, per-session rollup.
    from awskinesisconsumer_spark.operators.segmentation import sessionize_by_gap

    ev = load_table(spark, "events", sf)
    s = sessionize_by_gap(ev, key="user_id", ts="ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.max("event_id").alias("last_event_id"),
    )


def _percentiles(spark: SparkSession, sf: str) -> DataFrame:
    # Exact interpolated percentiles per group (Spark `percentile` ==
    # ANSI percentile_cont == DuckDB quantile_cont).
    ev = load_table(spark, "events", sf)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


def _error_route(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 10 `error-route` (ref parser.py:357-360).
    ev = load_table(spark, "events", sf)
    _, errors = route_errors(ev, F.col("event_type") == "error")
    return errors.select("event_id", "user_id", "ts", "value")


def _explode(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 11 `demux-decode-explode` (ref parser.py:415-442):
    # track filter == event_type filter; frames-per-packet derived
    # deterministically from the id.
    ev = load_table(spark, "events", sf)
    out = decode_explode(
        ev,
        track_filter=F.col("event_type") == "click",
        n_frames=F.pmod(F.col("event_id"), F.lit(3)) + 1,
    )
    return out.select("event_id", "frame_seq", "value")


def _asof(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 12 `join-asof-tags` (ref parser.py:421-432).
    ev = load_table(spark, "events", sf)
    joined = asof_join_next_boundary(
        ev, key="user_id", order="event_id",
        is_boundary=F.col("event_type") == "signup",
        boundary_cols=["ts"],
    )
    return joined.select(
        "user_id", "event_id", "value", "tag_event_id", "tag_ts"
    )


def _asof_backward(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 12, general two-table backward form (merge-asof):
    # latest signup at-or-before each event, per user. Single shuffle —
    # union + one window pass, never a range join.
    from awskinesisconsumer_spark.operators import asof_join_backward

    ev = load_table(spark, "events", sf)
    packets = ev.where(F.col("event_type") != "signup").select(
        "user_id", "event_id", "ts", "value"
    )
    tags = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("tag_event_id"),
        F.col("value").alias("tag_value"),
    )
    out = asof_join_backward(
        packets, tags,
        key="user_id", left_on="event_id", right_on="tag_event_id",
        right_cols=["tag_value"],
    )
    return out.select("user_id", "event_id", "value", "tag_event_id", "tag_value")


def _mono_id(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 13 `id-assign-monotonic` (ref parser.py:162,440).
    ev = load_table(spark, "events", sf)
    out = assign_monotonic_id(ev, order="event_id", key="user_id")
    return out.select("event_id", "user_id", "row_id")


def _throttle(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 14 `sample-throttle-time` (ref parser.py:460-463),
    # deterministic window-dedup variant (SURVEY §7 hard-part b).
    ev = load_table(spark, "events", sf)
    return throttle_first_per_window(
        ev, key="user_id", ts="ts", order="event_id", span_seconds=600
    )


def _retention(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 15 `enqueue-bounded-retention` (ref parser.py:470-481).
    ev = load_table(spark, "events", sf)
    return top_k_by_recency(ev, order="event_id", k=5, key="user_id")


def _point(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 18 `query-point-lookup` (ref parser.py:489-500).
    ev = load_table(spark, "events", sf)
    return point_lookup(ev, id_col="event_id", id_value=57)


def _last(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 19 `query-last-row` (ref parser.py:502-512).
    ev = load_table(spark, "events", sf)
    return last_row(ev, order="event_id")


def _pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    # Standard-agg surface (SURVEY §7 step 2): TPC-H-Q1-shaped rollup.
    li = load_table(spark, "lineitem", sf)
    return (
        li.where(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H-Q5-shaped join tree; dims broadcast (nation/region tiny at
    # any SF; supplier small), fact-fact join shuffles on the key.
    li = load_table(spark, "lineitem", sf)
    orders = load_table(spark, "orders", sf)
    cust = load_table(spark, "customer", sf)
    nation = load_table(spark, "nation", sf)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def _topk_customers(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, "orders", sf)
    cust = load_table(spark, "customer", sf)
    rev = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(10)


def _semi_anti(spark: SparkSession, sf: str) -> DataFrame:
    # Relational surface: left-semi + left-anti in ONE pass — which
    # customers have orders, which don't. A single scan of orders
    # (distinct keys) + one left join + a presence flag replaces the
    # semi/anti pair that scanned and joined orders twice; the
    # aggregated key set is small, so AQE broadcasts the join.
    cust = load_table(spark, "customer", sf)
    orders = load_table(spark, "orders", sf)
    okeys = orders.select(F.col("o_custkey").alias("_ok")).distinct()
    return (
        cust.join(okeys, cust.c_custkey == F.col("_ok"), "left")
        .select(
            "c_custkey", "c_name",
            F.col("_ok").isNotNull().alias("has_orders"),
        )
    )


def _rollup_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # ROLLUP grouping sets: revenue by (region, nation) with subtotals
    # — the hierarchical-agg surface, one shuffle, partial aggs.
    cust = load_table(spark, "customer", sf)
    orders = load_table(spark, "orders", sf)
    nation = load_table(spark, "nation", sf)
    region = load_table(spark, "region", sf)
    joined = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def _props_json(spark: SparkSession, sf: str) -> DataFrame:
    # Semi-structured KV payload (the props column is SURVEY row 8's
    # pivot-assembly source): JSON-extract k, aggregate per event_type.
    ev = load_table(spark, "events", sf)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    # Tumbling event-time windows (batch form of the streaming rollup):
    # per-hour counts/sums across all users.
    ev = load_table(spark, "events", sf)
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "n_events", "sum_value",
        )
    )


def _set_ops(spark: SparkSession, sf: str) -> DataFrame:
    # Set-operation surface: (purchasers ∩ signups) \ erroring users.
    ev = load_table(spark, "events", sf)

    def users(etype: str, min_value: float) -> DataFrame:
        return (
            ev.where((F.col("event_type") == etype) & (F.col("value") > min_value))
            .select("user_id").distinct()
        )

    return (
        users("purchase", 180.0)
        .intersect(users("signup", 180.0))
        .exceptAll(users("error", 195.0))
    )


def _distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    # Exact distinct aggregation per group (the expensive two-shuffle
    # shape; at 100 TB prefer approx_count_distinct when ±2% is fine).
    ev = load_table(spark, "events", sf)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, "documents", sf)
    return dedup_exact(docs, text_col="text", id_col="doc_id")


def _text_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, "documents", sf)
    return text_stats(docs, text_col="text").select(
        "doc_id", "n_words", "avg_word_len", "stopword_ratio", "distinct_ratio"
    )


def _token_count(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, "documents", sf)
    return token_count(docs, text_col="text").select("doc_id", "n_tokens")


def _quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, "documents", sf)
    return quality_score(docs, text_col="text").select("doc_id", "quality")


def _salted_sum(spark: SparkSession, sf: str) -> DataFrame:
    # Skew-safe two-stage aggregation (operators/skew.py): identical
    # result to a plain GROUP BY — which is exactly what the oracle is.
    from awskinesisconsumer_spark.operators.skew import salted_agg_sum

    ev = load_table(spark, "events", sf)
    return salted_agg_sum(ev, key="event_type", value="value", salt_buckets=16)


def _lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, "documents", sf)
    return language_id(docs, text_col="text").select("doc_id", "lang_pred")


def _fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, "documents", sf)
    return fingerprint(docs, text_col="text").select("doc_id", "fingerprint")


def _knn(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf)
    return pairwise_topk_cosine(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=[0, 1, 2], k=5
    )


def _embedding_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Embedding-cosine near-dup pairs (exact form; the SRP-bucketed
    # scale path is exercised by ext-similarity-ann).
    emb = load_table(spark, "embeddings", sf)
    return embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.35
    )


def _ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # Oracle-checked: the seeded hyperplanes are pure f(seed), so the
    # DuckDB twin re-buckets with the same literal planes (fold-order-
    # exact double arithmetic) and replays probe + re-rank.
    emb = load_table(spark, "embeddings", sf)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").head()
    planes = deterministic_planes(64, 8)
    return knn_lsh(
        emb.where(F.col("vec_id") != 0),
        id_col="vec_id", vec_col="embedding",
        query=[float(x) for x in probe.embedding], planes=planes, k=10,
    )


def _ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    # Oracle-checked: deterministic hash-SPREAD sampled centroids (8
    # lowest md5-of-id, decorrelated from ingestion order), 2-cell
    # probe, exact cosine re-rank — all replayed in DuckDB SQL.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, knn_ivf,
    )
    emb = load_table(spark, "embeddings", sf)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").head()
    corpus = emb.where(F.col("vec_id") != 0)
    centroids = ivf_centroids_from_sample(
        corpus, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return knn_ivf(
        corpus, id_col="vec_id", vec_col="embedding",
        query=[float(x) for x in probe.embedding],
        centroids=centroids, n_probes=2, k=10,
    )


def _ann_ivf_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    # IVF ANN with Lloyd-refined centroids (vs the sampled seed in
    # ext-similarity-ivf) — the quantizer-quality scale path.
    # order_col + tol=0 make the 3 Lloyd rounds bit-deterministic, so
    # the DuckDB twin replays them round by round.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, kmeans_refine_centroids, knn_ivf,
    )
    emb = load_table(spark, "embeddings", sf)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").head()
    corpus = emb.where(F.col("vec_id") != 0)
    seed = ivf_centroids_from_sample(
        corpus, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    centroids = kmeans_refine_centroids(
        corpus, vec_col="embedding", centroids=seed, n_iter=3, tol=0.0,
        order_col="vec_id",
    )
    return knn_ivf(
        corpus, id_col="vec_id", vec_col="embedding",
        query=[float(x) for x in probe.embedding],
        centroids=centroids, n_probes=2, k=10,
    )


def _dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    # portable_hash52 (md5-derived) instead of the default xxhash64 so
    # DuckDB can replicate the permutation family bit-for-bit and the
    # full LSH pipeline gets a value-level oracle, not a rows-only one.
    docs = load_table(spark, "documents", sf)
    return dedup_minhash_lsh(
        docs, id_col="doc_id", text_col="text",
        num_hashes=32, bands=8, jaccard_threshold=0.5,
        hash_fn=portable_hash52,
    )


def _simhash(spark: SparkSession, sf: str) -> DataFrame:
    # portable_hash52 -> oracle-checkable per-bit votes (see above).
    docs = load_table(spark, "documents", sf)
    return simhash(docs, text_col="text", id_col="doc_id", bits=16,
                   hash_fn=portable_hash52)


def _ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # Rows-only: inverted-index candidate generation w/ skew guard.
    docs = load_table(spark, "documents", sf)
    return ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.3
    )


def _dedup_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # Hamming-banded SimHash near-dup pairs (Manku/Jain/Sarma): the
    # pigeonhole construction makes candidate generation LOSSLESS for
    # hamming <= bands-1 (for pairs untouched by the skew cap) —
    # the exact-recall complement to MinHash banding's S-curve.
    # portable_hash52 -> the oracle replays fingerprints, banding,
    # the band join, hot-cap and bit_count verify value-for-value
    # (proven in tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, "documents", sf)
    return simhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", bits=16,
        max_hamming=3, bands=4, hash_fn=portable_hash52,
    )


def _mixture_expand(spark: SparkSession, sf: str) -> DataFrame:
    # Materialized epoch up-sampling: floor(epochs) repeats always,
    # +1 for a deterministic hash-gated fraction — the expansion step
    # between mixture_allocation and shuffle_order/pack_sequences.
    # Map-only (when-chain + hash gate + explode(sequence)); twin
    # replays the gate and generate_series explode (proven in
    # tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        expand_mixture_epochs,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "source")
    return expand_mixture_epochs(
        docs, id_col="doc_id", source_col="source",
        epochs={"src0": 2.3, "src1": 0.0, "src2": 1.0, "src3": 0.4},
        hash_fn=portable_hash52,
    )


def _embedding_whiten(spark: SparkSession, sf: str) -> DataFrame:
    # Per-dimension whitening (z-scoring) before cosine ANN: 6-dp
    # dim stats collected driver-side (the centroid-table pattern,
    # DIM-sized) and baked into a map-only transform + posexplode —
    # the corpus is never shuffled. Long-format output; twin replays
    # stats + normalize at the same 6-dp rounding (proven in
    # tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.similarity import (
        whiten_embeddings,
    )

    emb = load_table(spark, "embeddings", sf)
    return whiten_embeddings(emb, id_col="vec_id", vec_col="embedding")


def _chunk_into_lines(docs: DataFrame) -> DataFrame:
    # The fixture docs have no newlines, so build multi-line docs
    # deterministically: 5-word chunks of each document become its
    # lines — repeated fixture vocabulary makes real cross-doc
    # duplicate lines. Shared by ext-dedup-lines and
    # ext-quality-repetition; their DuckDB oracles replicate this exact
    # chunking in a shared CTE shape, so the two call sites MUST agree.
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n_chunks = F.greatest(
        F.ceil(F.size(words) / F.lit(5)).cast("int"), F.lit(1)
    )
    chunked = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat_ws(
                " ", F.slice(words, (i - 1) * F.lit(5) + 1, 5)
            ),
        ),
        "\n",
    )
    return docs.select("doc_id", chunked.alias("text"))


def _dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-doc line dedup (CCNet-style) over deterministic chunk-lines.
    from awskinesisconsumer_spark.operators.dedup import dedup_lines

    multi = _chunk_into_lines(load_table(spark, "documents", sf))
    return dedup_lines(multi, id_col="doc_id", text_col="text")


def _repetition(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher-style repetition filters over the same deterministic
    # 5-word-chunk lines as ext-dedup-lines.
    from awskinesisconsumer_spark.operators.text import repetition_stats

    multi = _chunk_into_lines(load_table(spark, "documents", sf))
    return repetition_stats(multi, id_col="doc_id", text_col="text")


def _pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    # PII scrub demo with deterministic injected PII (the fixture text
    # has none): each doc gets an email/ip/phone/ssn derived from doc_id,
    # then redact_pii must find and replace exactly those. Counts are
    # incremental (category i counted after categories 0..i-1 were
    # redacted), and the oracle replays injection + the same chain.
    from awskinesisconsumer_spark.operators.text import redact_pii

    docs = load_table(spark, "documents", sf)
    did = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com ip 10.0."),
            (did % 256).cast("string"), F.lit(".7 call 415-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = redact_pii(injected, text_col="text")
    return out.select("doc_id", "n_email", "n_ssn", "n_ip", "n_phone",
                      "redacted")


def _range_join(spark: SparkSession, sf: str) -> DataFrame:
    # Interval/range-containment join via the bucketed equi-join plan
    # (operators/range_join.py) — attribute each event to every "busy"
    # 2-hour sliding window (anchored hourly, anchor hour >= 15
    # events) it falls into. Overlapping windows mean events match up
    # to 2 intervals; unix_timestamp (not CAST) because ANSI forbids
    # timestamp_ntz -> long casts.
    from awskinesisconsumer_spark.operators.range_join import interval_join

    ev = load_table(spark, "events", sf)
    pts = ev.select("event_id", F.unix_timestamp("ts").alias("ep"))
    anchor = F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
    wins = (
        ev.groupBy(anchor.alias("win_start"))
        .agg(F.count(F.lit(1)).alias("n_anchor"))
        .where(F.col("n_anchor") >= 15)
        .select("win_start", (F.col("win_start") + 7200).alias("win_end"),
                "n_anchor")
    )
    out = interval_join(
        pts, wins, point_col="ep", start_col="win_start",
        end_col="win_end", bucket_width=3600,
    )
    return out.select("event_id", "win_start", "win_end", "n_anchor")


def _embedding_quantize(spark: SparkSession, sf: str) -> DataFrame:
    # int8 scalar quantization of the embeddings table (per-vector
    # scale, clamped tinyint codes, max reconstruction error).
    from awskinesisconsumer_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    emb = load_table(spark, "embeddings", sf)
    out = quantize_embeddings_int8(emb, vec_col="embedding")
    # The driver gate's pandas canonicalizer cannot sort array cells
    # (unhashable list) — serialize codes to a delimited string,
    # null-preserving to match DuckDB's array_to_string(NULL) = NULL.
    return out.select(
        "vec_id", "scale", _arr_str("qvec").alias("qvec"), "max_abs_err"
    )


def _sequence_build(spark: SparkSession, sf: str) -> DataFrame:
    # Training-example construction: per-user chronological event-type
    # sequence, truncated to the 20 most recent events.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        build_user_sequences,
    )

    ev = load_table(spark, "events", sf)
    out = build_user_sequences(
        ev, user_col="user_id", ts_col="ts", item_col="event_type",
        tiebreak_col="event_id", max_len=20,
    )
    # seq serialized for the driver gate's list-phobic canonicalizer.
    return out.select(
        "user_id", "n_events", _arr_str("seq").alias("seq"),
        "seq_start_ts", "seq_end_ts",
    )


def _url_curation(spark: SparkSession, sf: str) -> DataFrame:
    # URL normalization + domain blocklist over deterministically
    # injected URLs (documents carry no url column; mixed case, www,
    # default ports, query/fragment, blocklisted domains, junk rows).
    from awskinesisconsumer_spark.operators.text import url_features

    docs = load_table(spark, "documents", sf)
    did = F.col("doc_id")
    url = (
        F.when(did % 17 == 0, F.lit("not a url"))
        .when(did % 11 == 0,
              F.concat(F.lit("http://spam-mill.com/offers/"),
                       did.cast("string")))
        .when(did % 13 == 0,
              F.concat(F.lit("https://t.co/"), did.cast("string")))
        .otherwise(F.concat(
            F.lit("HTTPS://WWW.Site"), (did % 7).cast("string"),
            F.lit(".Example.COM"),
            F.when(did % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/Docs/"), did.cast("string"),
            F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit("?utm=x")).otherwise(F.lit("")),
            F.when(did % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ))
    )
    inj = docs.select("doc_id", url.alias("url"))
    out = url_features(inj, url_col="url")
    return out.select("doc_id", "norm_url", "domain", "blocked")


def _tfidf_terms(spark: SparkSession, sf: str) -> DataFrame:
    # Top-5 TF-IDF terms per document (smoothed sklearn idf).
    from awskinesisconsumer_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, "documents", sf)
    return tfidf_top_terms(docs, id_col="doc_id", text_col="text", k=5)


BM25_QUERY = ["spark", "join", "window", "hash", "vector"]


def _unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus-LM fluency score: avg unigram log-prob per doc under the
    # corpus' own add-one-smoothed distribution. Sorted-fold mean, so
    # the DuckDB twin is bit-identical.
    from awskinesisconsumer_spark.operators.text import unigram_logprob

    docs = load_table(spark, "documents", sf)
    return unigram_logprob(docs, id_col="doc_id", text_col="text")


def _token_histogram(spark: SparkSession, sf: str) -> DataFrame:
    # Corpus-audit view: docs bucketed by BPE-ish token count.
    from awskinesisconsumer_spark.operators.text import (
        token_length_histogram,
    )

    docs = load_table(spark, "documents", sf)
    return token_length_histogram(docs, text_col="text", bucket_width=50)


def _ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    # Product-quantization ANN (ADC): 8 subspaces x 16 centroids
    # TRAINED by 2 per-subspace Lloyd rounds (vs the r3 sampled seed),
    # codes-only query path. order_col + tol=0 keep every round a
    # bit-deterministic ordered fold -> the oracle replays seed,
    # m x 2 Lloyd rounds, encode, LUT and ADC fold in SQL exactly.
    from awskinesisconsumer_spark.operators.similarity import (
        knn_pq_adc, pq_codebooks_refined,
    )

    emb = load_table(spark, "embeddings", sf)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").head()
    corpus = emb.where(F.col("vec_id") != 0)
    cbs = pq_codebooks_refined(
        corpus, id_col="vec_id", vec_col="embedding", m=8, ksub=16,
        n_iter=2, order_col="vec_id",
    )
    out = knn_pq_adc(
        corpus, id_col="vec_id", vec_col="embedding",
        query=[float(x) for x in probe.embedding], codebooks=cbs, k=10,
    )
    # pq_code serialized for the driver gate (list cells unhashable).
    return out.select(
        "vec_id", "adc_dist", _arr_str("pq_code").alias("pq_code"), "rank"
    )


def _split_leakage_free(spark: SparkSession, sf: str) -> DataFrame:
    # Cluster-level train/val split: near-dup pairs -> connected
    # components -> hash gate on CLUSTER id, so no near-duplicate of a
    # val doc can reach train. Pairs from the deterministic n-gram
    # Jaccard generator (same as ext-dedup-cluster), so the whole
    # query is replayable as a recursive CTE + md5 gate.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        split_leakage_free,
    )
    from awskinesisconsumer_spark.operators.dedup import (
        ngram_jaccard_pairs, portable_hash52,
    )

    docs = load_table(spark, "documents", sf)
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.3
    )
    return split_leakage_free(
        docs, id_col="doc_id", pairs=pairs, val_fraction=0.1,
        hash_fn=portable_hash52,
    )


def _gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    # Gopher rule flags over deterministically decorated docs (the
    # fixture text has no bullets/symbols/ellipses, so inject each
    # rule's trigger shape by doc_id arithmetic — same pattern as the
    # PII/URL injections; CASE order matters and the oracle replays it).
    from awskinesisconsumer_spark.operators.text import gopher_rules

    docs = load_table(spark, "documents", sf)
    did = F.col("doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))
    inj = (
        F.when(did % 23 == 0, F.lit("- a\n- b\n- c"))
        .when(did % 19 == 0,
              F.lit("end one...\nend two...\nplain line"))
        .when(did % 9 == 0, F.concat(t, F.lit(" # # # # # # # #")))
        .when(did % 8 == 0, F.lit("tiny doc"))
        .otherwise(t)
    )
    out = gopher_rules(
        docs.select("doc_id", inj.alias("text")), text_col="text"
    )
    return out.select(
        "doc_id", "n_words", "mean_word_len", "flag_len",
        "flag_word_len", "flag_symbol", "flag_bullet", "flag_ellipsis",
        "keep",
    )


def _json_permissive(spark: SparkSession, sf: str) -> DataFrame:
    # PERMISSIVE corrupt-record scan — the Spark analogue of the
    # reference's permissive EBML parser (unknown elements skip, not
    # fail; /root/reference/ebml.py:293-297): malformed lines land in
    # _corrupt_record and route, valid rows parse against the schema.
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"jsonl_corrupt_{tag}")
    docs = load_table(spark, "documents", sf)
    line = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit("{corrupt line "), F.col("doc_id").cast("string")),
    ).otherwise(
        F.to_json(F.struct(
            F.col("doc_id"),
            F.length(F.coalesce(F.col("text"), F.lit(""))).alias("n"),
        ))
    )
    docs.select(line.alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(path)
    back = (
        spark.read.schema("doc_id long, n long, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return back.select(
        "doc_id", "n", F.col("_corrupt").isNotNull().alias("corrupt")
    )


def _cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    # Count-min-sketch heavy hitters: sublinear-memory frequency
    # estimation (vocab pruning / hot-key detection). Deterministic
    # given the salted portable hash, so the oracle replays the SAME
    # sketch — checking the estimator, not just the true counts.
    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    docs = load_table(spark, "documents", sf)
    return cms_heavy_hitters(
        docs, text_col="text", k=20, depth=4, width=1024,
        hash_fn=portable_hash52,
    )


def _dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    # Cross-document duplicated-span detection with CONTENT-DEFINED
    # (winnowing-style) window starts — the scalable stand-in for
    # suffix-array substring dedup. Anchored sampling (r8, replacing
    # the phase-sensitive strided form): a window begins wherever
    # hash(start word) % stride == 0, so a literal run shared at ANY
    # offsets anchors at the same run-relative positions in every
    # doc — the alignment-free property cross-doc boilerplate needs
    # (pinned by tests/test_round7_ops.py::
    # test_anchored_sampling_catches_misaligned_runs). Portable hash
    # so the oracle replays anchoring and span hashing exactly.
    from awskinesisconsumer_spark.operators.dedup import (
        duplicated_spans, portable_hash52,
    )

    docs = load_table(spark, "documents", sf)
    return duplicated_spans(
        docs, id_col="doc_id", text_col="text", span_len=8, stride=4,
        min_docs=2, hash_fn=portable_hash52, anchored=True,
    )


def _distinct_hll(spark: SparkSession, sf: str) -> DataFrame:
    # Explicit HyperLogLog distinct-user sketch per event type —
    # constant-memory COUNT(DISTINCT) for 100 TB, built on the
    # portable hash so the oracle replays the registers bit-for-bit
    # (approx_count_distinct's HLL++ state is not replayable).
    from awskinesisconsumer_spark.operators.sketches import hll_distinct

    ev = load_table(spark, "events", sf)
    return hll_distinct(ev, key_col="user_id", group_col="event_type", p=9)


def _shard_assign(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic output-shard routing + balance audit (the check a
    # writer runs before partitionBy(shard)). Portable hash so the
    # oracle reproduces the routing bit-for-bit.
    from awskinesisconsumer_spark.operators.corpus_prep import shard_assign
    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf)
    toks = token_count(docs, text_col="text", out_col="n_tokens")
    return shard_assign(
        toks, key_col="doc_id", n_shards=16, salt="v1",
        token_col="n_tokens", hash_fn=portable_hash52,
    )


def _moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    # Window-function surface: per-user ordered lag / 4-row moving
    # average / running sum in ONE window family — single shuffle on
    # user_id, all three frames share the sort. Aggregates run on
    # integer cents: windowed FLOAT sums are not fold-order-portable
    # (Spark streams the frame, DuckDB merges a segment tree), but
    # integer sums are associative-exact, so the 4-dp average and the
    # running sum hash-match by construction.
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    base = ev.select("event_id", "user_id", cents.alias("value_c"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    return base.select(
        "event_id", "user_id", "value_c",
        F.lag("value_c", 1).over(w).alias("prev_value_c"),
        F.round(
            F.avg("value_c").over(w.rowsBetween(-3, 0)) / 100.0, 4
        ).alias("mov_avg4"),
        F.sum("value_c").over(
            w.rangeBetween(Window.unboundedPreceding, 0)
        ).alias("cum_value_c"),
    )


def _bm25(spark: SparkSession, sf: str) -> DataFrame:
    # BM25 top-20 docs for a fixed query — decontamination-style
    # retrieval scoring. No doc x term shuffle: per-term tf is an array
    # expression; corpus stats are ONE aggregated row broadcast back.
    from awskinesisconsumer_spark.operators.text import bm25_rank

    docs = load_table(spark, "documents", sf)
    return bm25_rank(
        docs, id_col="doc_id", text_col="text", query_terms=BM25_QUERY,
        k1=1.5, b=0.75, k=20,
    )


def _word_entropy(spark: SparkSession, sf: str) -> DataFrame:
    # Per-doc unigram Shannon entropy (information-density quality
    # signal). fallback_tokens=50 routes docs through BOTH physical
    # plans at the gate fixture — short docs take the narrow
    # sorted-fold, longer ones the explode+groupBy fallback — and the
    # two agree bit-for-bit (same word-sorted float fold order), so
    # ONE DuckDB sorted-fold oracle replays the whole output.
    from awskinesisconsumer_spark.operators.text import word_entropy

    docs = load_table(spark, "documents", sf)
    return word_entropy(
        docs, text_col="text", id_col="doc_id", fallback_tokens=50,
    ).select("doc_id", "entropy")


def _cdc_compact(spark: SparkSession, sf: str) -> DataFrame:
    # Changelog compaction: events replayed as a CDC feed keyed
    # (user_id, event_type), op derived deterministically (every 7th
    # event is a tombstone). One max_by hash agg — no window sort.
    from awskinesisconsumer_spark.operators.compaction import compact_latest

    ev = load_table(spark, "events", sf)
    log = ev.withColumn(
        "op",
        F.when(F.col("event_id") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert")),
    )
    out = compact_latest(
        log, key_cols=["user_id", "event_type"], seq_col="event_id",
        op_col="op",
    )
    return out.select(
        "user_id", "event_type", "ts",
        F.round("value", 2).alias("value"),
        "last_seq", "n_versions",
    )


def _melt(spark: SparkSession, sf: str) -> DataFrame:
    # Unpivot/melt — the inverse of pivot-tag-assembly: the wide
    # per-user event-type sums back to long (user, event_type, value)
    # rows. Narrow Expand node, no shuffle beyond the pivot's own.
    ev = load_table(spark, "events", sf)
    wide = pivot_event_counts(
        ev, key="user_id", pivot_col="event_type",
        values=EVENT_TYPES, value_expr="value",
    )
    return wide.unpivot(
        ["user_id"], EVENT_TYPES, "event_type", "sum_value"
    )


def _grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    # CUBE over orders: all four grouping combinations in one pass
    # (Catalyst expands to a single Expand + hash agg — one shuffle,
    # not four scans). grouping_id disambiguates the NULL group rows.
    orders = load_table(spark, "orders", sf)
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            # grouping_id is only resolvable inside the Aggregate node
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid",
            "n_orders", "sum_price",
        )
    )


def _csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # Source-format breadth: events -> sharded CSV -> read back with
    # the explicit schema (header off, so the reader never infers).
    # Non-float columns only: CSV text round-trip of doubles is
    # writer-format-dependent; the contract here is the scan path.
    import hashlib
    import os
    import tempfile

    # Deterministic per-sf path + overwrite, so repeated gate/bench
    # invocations reuse one directory instead of leaking a fresh
    # mkdtemp of the full extract each run.
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"csv_roundtrip_{tag}")
    ev = load_table(spark, "events", sf).select(
        "event_id", "user_id", "event_type"
    )
    ev.repartition(8).write.mode("overwrite").option("header", "false").csv(out)
    return spark.read.schema(ev.schema).option("header", "false").csv(out)


THROTTLE_SPAN_S = 600  # shared by the stream query, its projection, and oracle


def _robust_mad(spark: SparkSession, sf: str) -> DataFrame:
    # Robust stats surface: per-group median absolute deviation (the
    # outlier-resistant spread measure data-quality monitors use).
    # Two sort-based aggregations + one join — medians are exact
    # interpolated percentiles (deterministic, unlike float sums).
    ev = load_table(spark, "events", sf)
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_med")
    ).withColumnRenamed("event_type", "_et")
    # eqNullSafe: a NULL group is precisely the cohort a data-quality
    # monitor must not silently drop (plain equi-join would).
    return (
        ev.join(med, ev["event_type"].eqNullSafe(med["_et"]))
        .groupBy("event_type")
        .agg(
            F.round(F.first("_med"), 4).alias("median_value"),
            F.round(
                F.expr("percentile(abs(value - _med), 0.5)"), 4
            ).alias("mad"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _salted_join(spark: SparkSession, sf: str) -> DataFrame:
    # Explicit salted hot-key join (the AQE-independent skew tool):
    # events facts x per-user profile dim on a sprayed key, then an
    # aggregate proving row-identity with the plain join.
    from awskinesisconsumer_spark.operators.skew import salted_join

    ev = load_table(spark, "events", sf)
    dim = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events"),
        F.round(F.sum("value"), 2).alias("user_value"),
    )
    joined = salted_join(ev, dim, key="user_id", salt_buckets=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_events").alias("sum_user_events"),
        F.round(F.sum("user_value"), 2).alias("sum_user_value"),
    )


def _ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    # CCNet-style ordered novelty: fraction of a doc's distinct
    # 3-grams first seen in that doc.
    from awskinesisconsumer_spark.operators.text import ngram_novelty

    docs = load_table(spark, "documents", sf)
    return ngram_novelty(docs, id_col="doc_id", text_col="text", n=3)


def _ngram_containment(spark: SparkSession, sf: str) -> DataFrame:
    # Asymmetric containment dedup (Broder): |A∩B| / min(|A|,|B|) —
    # catches sub-document duplication symmetric Jaccard misses.
    from awskinesisconsumer_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = load_table(spark, "documents", sf)
    return ngram_containment_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )


def _orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # Source-format breadth: events -> ORC -> read back. ORC carries
    # full types (unlike CSV), so the whole row survives.
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"orc_roundtrip_{tag}")
    ev = load_table(spark, "events", sf)
    ev.repartition(4).write.mode("overwrite").orc(out)
    return spark.read.schema(ev.schema).orc(out)


def _partitioned_prune(spark: SparkSession, sf: str) -> DataFrame:
    # Hive-style partitioned sink + partition-pruned read-back: write
    # events partitionBy(event_type), then a filtered read must touch
    # ONLY the matching directories (PartitionFilters in the scan —
    # asserted in tests/test_plans.py). The 100 TB pattern for
    # time/category-partitioned lakes.
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"part_prune_{tag}")
    ev = load_table(spark, "events", sf)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).where(
        F.col("event_type").isin("purchase", "signup")
    )
    # partition column comes back as the LAST column and re-typed by
    # inference — restore the source contract for the oracle compare.
    return back.select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id", F.col("event_type").cast("string").alias("event_type"),
        "value", "props",
    )


def _stream_throttle(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 14, streaming form: dropDuplicatesWithinWatermark
    # per (user, span bucket) over the replayed events feed. WHICH row
    # of a bucket survives is arrival-order-dependent, so the query
    # projects to the admitted (user_id, bucket_start) set — exactly
    # one row per bucket, deterministic, and oracle = DISTINCT buckets.
    from awskinesisconsumer_spark.streaming import events_stream
    from awskinesisconsumer_spark.streaming.pipeline import throttle_stream

    out = throttle_stream(
        events_stream(spark, sf), span_seconds=THROTTLE_SPAN_S
    )
    admitted = out.select(
        "user_id",
        (F.floor(F.unix_timestamp("ts") / THROTTLE_SPAN_S)
         * THROTTLE_SPAN_S).alias("bucket_start"),
    )
    return _run_stream_to_table(admitted, spark, "throttle_stream")


def _decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # Benchmark decontamination: docs with doc_id % 97 == 0 play the
    # evaluation suite; any doc sharing >= 5 distinct 3-grams with it
    # is contaminated. With this fixture only the benchmark docs
    # themselves clear the bar, which is exactly the property the
    # oracle re-derives from first principles.
    from awskinesisconsumer_spark.operators.corpus_prep import decontaminate

    docs = load_table(spark, "documents", sf)
    bench = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), F.col("text").alias("bench_text")
    )
    out = decontaminate(
        docs, bench, id_col="doc_id", text_col="text",
        bench_id_col="bench_id", bench_text_col="bench_text",
        n=3, min_overlap=5,
    )
    return out.select("doc_id", "n_matched_ngrams", "contaminated")


def _pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    # GPT-style sequence packing: BPE-ish token counts, docs
    # concatenated in doc_id order, split into 512-token sequences.
    from awskinesisconsumer_spark.operators.corpus_prep import pack_sequences
    from awskinesisconsumer_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf)
    toks = token_count(docs, text_col="text").select("doc_id", "n_tokens")
    return pack_sequences(toks, id_col="doc_id", token_col="n_tokens",
                          capacity=512, group_size=64)


def _prepare_corpus(spark: SparkSession, sf: str) -> DataFrame:
    # The composed training-data pipeline, end to end: exact dedup ->
    # benchmark decontamination -> quality filter -> sequence packing.
    # Every stage is individually oracle-checked elsewhere; this entry
    # proves the COMPOSITION (including how filters re-shape the
    # packing layout) against one composed SQL oracle.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        decontaminate, pack_sequences,
    )
    from awskinesisconsumer_spark.operators.dedup import dedup_exact
    from awskinesisconsumer_spark.operators.text import (
        quality_score, token_count,
    )

    docs = load_table(spark, "documents", sf)
    survivors = dedup_exact(docs, text_col="text", id_col="doc_id").select(
        "doc_id"
    )
    kept = docs.join(survivors, "doc_id", "left_semi")
    bench = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), F.col("text").alias("bench_text")
    )
    clean = decontaminate(
        kept, bench, id_col="doc_id", text_col="text",
        bench_id_col="bench_id", bench_text_col="bench_text",
        n=3, min_overlap=5,
    ).where(~F.col("contaminated"))
    good = quality_score(clean, text_col="text").where(
        F.col("quality") >= 0.5
    )
    toks = token_count(good, text_col="text").select("doc_id", "n_tokens")
    return pack_sequences(toks, id_col="doc_id", token_col="n_tokens",
                          capacity=512, group_size=64)


def _sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    # Per-source corpus downsampling with the portable md5 hash gate,
    # so DuckDB reproduces membership bit-for-bit.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        sample_stratified,
    )
    from awskinesisconsumer_spark.operators.dedup import portable_hash52

    docs = load_table(spark, "documents", sf)
    return sample_stratified(
        docs, strata_col="source", key_col="doc_id",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        default_rate=0.05, salt="v1", hash_fn=portable_hash52,
    ).select("doc_id", "source", "lang")


def _mixture_allocate(spark: SparkSession, sf: str) -> DataFrame:
    # Data-mixture planning over BPE-ish token counts per source.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        mixture_allocation,
    )
    from awskinesisconsumer_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf)
    toks = token_count(docs, text_col="text").select("source", "n_tokens")
    return mixture_allocation(
        toks, source_col="source", token_col="n_tokens",
        weights={"src0": 0.5, "src1": 0.3, "src2": 0.2},
        token_budget=100_000,
    )


def _vocabulary(spark: SparkSession, sf: str) -> DataFrame:
    # Tokenizer-vocab prep: top-100 corpus terms, deterministic ranks.
    from awskinesisconsumer_spark.operators.text import top_terms

    docs = load_table(spark, "documents", sf)
    return top_terms(docs, text_col="text", k=100)


def _embedding_pool(spark: SparkSession, sf: str) -> DataFrame:
    # Label-level mean-pooled centroid components (long format).
    from awskinesisconsumer_spark.operators.similarity import (
        mean_pool_embeddings,
    )

    embs = load_table(spark, "embeddings", sf)
    # order_col makes the mean an ordered fold, so the doubles match
    # the DuckDB oracle bit-for-bit regardless of partitioning.
    return mean_pool_embeddings(embs, group_col="label",
                                vec_col="embedding", order_col="vec_id")


def _jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # Training-data export surface: documents -> sharded JSONL files ->
    # read back with the explicit schema (inference would re-order and
    # re-type columns). The roundtrip must reproduce the table exactly;
    # oracle = SELECT * FROM documents.
    import tempfile

    out = tempfile.mkdtemp(prefix="jsonl_out_")
    docs = load_table(spark, "documents", sf)
    docs.repartition(8).write.mode("overwrite").json(out)
    return spark.read.schema(docs.schema).json(out)


def _dedup_cluster(spark: SparkSession, sf: str) -> DataFrame:
    # Pairs -> duplicate clusters via iterative min-label propagation
    # (the "keep one doc per duplicate group" resolution step). Input
    # pairs are the deterministic n-gram-Jaccard candidates, so the
    # whole query is oracle-checkable with a recursive CTE.
    from awskinesisconsumer_spark.operators.dedup import (
        connected_components, ngram_jaccard_pairs,
    )
    docs = load_table(spark, "documents", sf)
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.3
    )
    cc = connected_components(
        pairs, vertices=docs.select(F.col("doc_id").alias("id"))
    )
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


def _dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    # Cluster resolution keeping the BEST-scoring doc per duplicate
    # cluster (operators/dedup.py dedup_keep_best) — what production
    # dedup ships, vs the arbitrary min-id member: clusters from the
    # oracle-checkable n-gram-Jaccard pair graph, score = text length,
    # ties -> ascending id. The argmax reuses domain_cap_topk's salted
    # two-level rank (cap=1), so mega-clusters never hit one reducer.
    # Twin chains the cluster CTE + a per-cluster ROW_NUMBER argmax
    # (proven in tests/test_round9_ops.py).
    from awskinesisconsumer_spark.operators.dedup import (
        dedup_keep_best, ngram_jaccard_pairs,
    )

    docs = load_table(spark, "documents", sf)
    scored = docs.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("score"),
    )
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.3
    )
    out = dedup_keep_best(
        scored, pairs, id_col="doc_id", score_col="score"
    )
    return out.select("doc_id", "cluster_id", "score", "kept")


def _stream_sentence_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming form of ext-sentence-decontaminate (streaming/
    # pipeline.py sentence_decontaminate_stream): the sentenced
    # fixture arrives as a 3-file stream (maxFilesPerTrigger=1); each
    # micro-batch splits + checks against the STATIC benchmark
    # sentence set via foreachBatch. A doc's flag depends only on
    # (its own sentences, benchmark), so the appended union EQUALS
    # the batch result and the batch oracle applies verbatim
    # (chunking invariance proven in tests/test_round9_ops.py).
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        sentence_decontaminate_stream,
    )

    fixture = _sentenced_fixture(load_table(spark, "documents", sf))
    bench = fixture.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.col("text").alias("bench_text"),
    )
    src = tempfile.mkdtemp(prefix="sent_dec_src_")
    out_path = tempfile.mkdtemp(prefix="sent_dec_out_")
    ckpt = tempfile.mkdtemp(prefix="sent_dec_ckpt_")
    fixture.repartition(3).write.mode("overwrite").parquet(src)
    q = sentence_decontaminate_stream(
        spark.readStream.schema(fixture.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        bench, id_col="doc_id", text_col="text",
        bench_id_col="bench_id", bench_text_col="bench_text",
        out_path=out_path, checkpoint=ckpt, min_words=3,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-sentence-decontaminate: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-sentence-decontaminate: expected >=3 non-empty "
            f"batches, got {n_batches}"
        )
    return spark.read.parquet(out_path).select(
        "doc_id", "n_leaked_sentences", "contaminated"
    )


# --- round-10 registrations: the 9 r9-banked operators (oracles
# proven locally in tests/test_round9_ops.py, ported through the
# SURVEY §5 fidelity rules) ---------------------------------------


def _importance_score(spark: SparkSession, sf: str) -> DataFrame:
    # DSIR-style data selection (operators/text.py importance_score):
    # per-doc mean unigram log-likelihood ratio of a target-domain
    # sample (src0 docs) over the corpus' own distribution, both
    # add-one smoothed on the UNION vocabulary. Twin replays counts,
    # smoothing masses, and the sorted-fold sum.
    from awskinesisconsumer_spark.operators.text import importance_score

    docs = load_table(spark, "documents", sf)
    target = docs.where(F.col("source") == "src0").select(
        F.col("text").alias("t_text")
    )
    return importance_score(
        docs, target, id_col="doc_id", text_col="text",
        target_text_col="t_text",
    )


def _stream_importance_score(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming form (streaming/pipeline.py importance_score_stream):
    # calibration stats FROZEN from (corpus, target) batch-side, then
    # the corpus arrives as a 3-file stream and every micro-batch is
    # scored against the frozen stats — each score depends only on
    # (doc, stats), so the appended union EQUALS the monolithic batch
    # op and the batch oracle applies verbatim (proven in
    # tests/test_round9_ops.py).
    import tempfile

    from awskinesisconsumer_spark.operators.text import importance_stats
    from awskinesisconsumer_spark.streaming.pipeline import (
        importance_score_stream,
    )

    full = load_table(spark, "documents", sf)
    docs = full.select("doc_id", "text")
    target = full.where(F.col("source") == "src0").select(
        F.col("text").alias("t_text")
    )
    stats, ns, nt, vocab = importance_stats(
        docs, target, text_col="text", target_text_col="t_text"
    )
    src = tempfile.mkdtemp(prefix="imp_src_")
    out_path = tempfile.mkdtemp(prefix="imp_out_")
    ckpt = tempfile.mkdtemp(prefix="imp_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    q = importance_score_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        stats, id_col="doc_id", text_col="text",
        n_src=ns, n_tgt=nt, vocab=vocab,
        out_path=out_path, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-importance-score: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-importance-score: expected >=3 non-empty "
            f"batches, got {n_batches}"
        )
    return spark.read.parquet(out_path).select(
        "doc_id", "n_tokens", "importance"
    )


def _grouped_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Per-SOURCE term-distribution drift between the even/odd doc_id
    # halves (operators/text.py grouped_drift) — the WHERE-did-it-
    # drift breakdown of ext-corpus-drift: composite (group, term)
    # counts, per-group smoothing masses, KL/JS at micro-nat rounding.
    from awskinesisconsumer_spark.operators.text import grouped_drift

    docs = load_table(spark, "documents", sf).select(
        "doc_id", "source", "text"
    )
    return grouped_drift(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        group_col="source", text_col="text",
    )


def _stream_grouped_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming form (streaming/pipeline.py grouped_drift_stream):
    # the odd half arrives as a 3-file stream against the static even
    # reference; running (group, term) count state makes the final
    # emission equal batch grouped_drift exactly, so the batch oracle
    # is shared verbatim (proven in tests/test_round9_ops.py).
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        grouped_drift_stream,
    )

    docs = load_table(spark, "documents", sf).select(
        "doc_id", "source", "text"
    )
    reference = docs.where(F.col("doc_id") % 2 == 0)
    arriving = docs.where(F.col("doc_id") % 2 == 1)
    src = tempfile.mkdtemp(prefix="gd_src_")
    out_path = tempfile.mkdtemp(prefix="gd_out_")
    ckpt = tempfile.mkdtemp(prefix="gd_ckpt_")
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    handle = grouped_drift_stream(
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        reference, group_col="source", text_col="text",
        out_path=out_path, checkpoint=ckpt,
    )
    try:
        if not handle.awaitTermination(300):
            raise RuntimeError("stream-grouped-drift: timed out")
        n_batches = len([
            p for p in handle.query.recentProgress
            if p["numInputRows"] > 0
        ])
        if n_batches < 3:
            raise RuntimeError(
                f"stream-grouped-drift: expected >=3 non-empty "
                f"batches, got {n_batches}"
            )
    finally:
        handle.release()
    return spark.read.parquet(out_path)


def _corruption_spans(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic T5-style span-corruption PLAN (operators/
    # corpus_prep.py corruption_spans): hash-gated span starts and
    # lengths, left-to-right overlap resolution via the clamp-fold
    # shape. portable_hash52 so the twin replays elections + the fold
    # as a per-doc recursive CTE.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        corruption_spans,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return corruption_spans(
        docs, id_col="doc_id", text_col="text", corruption_rate=0.15,
        mean_span_len=3, salt="v1", hash_fn=portable_hash52,
    )


def _denoise_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # The denoising objective end-to-end (corpus_prep.py
    # denoising_pairs): the SAME deterministic span plan rendered as
    # T5 (input_text, target_text) sentinel pairs; word conservation
    # and sentinel counts proven in tests/test_round9_ops.py.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        denoising_pairs,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return denoising_pairs(
        docs, id_col="doc_id", text_col="text", corruption_rate=0.15,
        mean_span_len=3, salt="v1", hash_fn=portable_hash52,
    )


def _fim_split(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic fill-in-the-middle splits (corpus_prep.py
    # fim_split): hash-gated doc selection at fim_rate, two
    # hash-chosen cut points, (prefix, middle, suffix) word slices;
    # non-selected docs pass through whole.
    from awskinesisconsumer_spark.operators.corpus_prep import fim_split

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return fim_split(
        docs, id_col="doc_id", text_col="text", fim_rate=0.5,
        salt="v1", hash_fn=portable_hash52,
    )


def _ann_dim_recall(spark: SparkSession, sf: str) -> DataFrame:
    # Matryoshka/dim-truncation audit (operators/similarity.py
    # truncated_dim_recall): recall@k of prefix-dim cosine top-k vs
    # full-dim truth per tier — the measurement behind shorten-the-
    # vectors decisions. Reuses knn_join's broadcast-probe shape;
    # prefix slice happens in-scan.
    from awskinesisconsumer_spark.operators.similarity import (
        truncated_dim_recall,
    )

    emb = load_table(spark, "embeddings", sf)
    return truncated_dim_recall(
        emb, id_col="vec_id", vec_col="embedding",
        probe_ids=list(range(8)), k=10, dim_tiers=(8, 16, 32, 64),
    )


def _ann_ivf_pq(spark: SparkSession, sf: str) -> DataFrame:
    # IVF-PQ composition (similarity.py knn_ivf_pq): the production
    # billion-scale ANN layout — coarse IVF probe restricts
    # candidates, PQ-ADC scores codes only. Composed from the two
    # gated halves (ext-similarity-ivf seeding + ext-similarity-pq
    # codebooks) with candidates filtered between them; cells map to
    # partition pruning at scale.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, knn_ivf_pq, pq_codebooks_refined,
    )

    emb = load_table(spark, "embeddings", sf)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").head()
    corpus = emb.where(F.col("vec_id") != 0)
    centroids = ivf_centroids_from_sample(
        corpus, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    cbs = pq_codebooks_refined(
        corpus, id_col="vec_id", vec_col="embedding", m=8, ksub=16,
        n_iter=2, order_col="vec_id",
    )
    return knn_ivf_pq(
        corpus, id_col="vec_id", vec_col="embedding",
        query=[float(x) for x in probe.embedding], centroids=centroids,
        codebooks=cbs, n_probes=2, k=10,
    ).select(
        "vec_id", "adc_dist",
        F.concat_ws(",", F.col("pq_code").cast("array<string>"))
        .alias("pq_code"),
        "rank",
    )


def _multimodal_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    # Rows-only: decode -> explode frames -> metadata sample -> resize
    # (stubbed codecs; the Spark plumbing — schema, narrow ops,
    # Arrow batches — is real).
    from awskinesisconsumer_spark.operators.multimodal import (
        resize_frames, sample_frames,
    )
    docs = load_table(spark, "documents", sf)
    payload = to_binary_payload(docs, id_col="doc_id", text_col="text")
    frames = decode_explode(
        decode_frames(payload),
        track_filter=F.lit(True),
        n_frames=F.pmod(F.col("n_bytes"), F.lit(6)) + 1,
    )
    sampled = sample_frames(frames, seq_col="frame_seq", every_k=2)
    resized = resize_frames(sampled, height=224, width=224)
    return resized.select(
        "doc_id", "frame_seq", "n_bytes", "height", "width", "format"
    )


def _multimodal_audio(spark: SparkSession, sf: str) -> DataFrame:
    # Rows-only: windowed byte-stat features over binary payloads.
    from awskinesisconsumer_spark.operators.multimodal import (
        extract_audio_features,
    )
    docs = load_table(spark, "documents", sf)
    payload = to_binary_payload(docs, id_col="doc_id", text_col="text")
    return extract_audio_features(payload, window_bytes=256)


def _ebml_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 rows 3-6 `scan-ebml-tokenize`/`decode-*`: build KVS-like
    # MKV fragments from documents, then run the chunk-parallel
    # tokenizer scan. Rows-only (binary decode is not SQL-expressible).
    from awskinesisconsumer_spark.sources.ebml import (
        encode_element, parse_ebml_chunks,
    )
    docs = load_table(spark, "documents", sf)

    def encode(batches):
        import pandas as pd
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                payloads.append(
                    encode_element(0x4285, (2).to_bytes(1, "big"))
                    + encode_element(0x45A3, b"AWS_KINESISVIDEO_FRAGMENT_NUMBER")
                    + encode_element(0x4487, str(did).encode())
                    + encode_element(0xA3, (text or "").encode()[:64])
                )
            yield pd.DataFrame({"chunk_id": pdf["doc_id"], "payload": payloads})

    chunks = docs.mapInPandas(encode, "chunk_id bigint, payload binary")
    elements = parse_ebml_chunks(chunks)
    return (
        elements.groupBy("name", "ebml_type")
        .agg(F.count(F.lit(1)).alias("n"), F.count("value_str").alias("n_str"))
    )


def _ebml_heads(spark: SparkSession, sf: str) -> DataFrame:
    # Heads-only structural scan (the reference's head-callback
    # analogue, ebml.py:157,300-301): element boundaries with ZERO
    # value decode, narrow HEAD_SCHEMA Arrow batches. Same synthesized
    # fragments as scan-ebml-tokenize, so per-name counts and total
    # payload bytes are pure arithmetic over `documents`.
    from awskinesisconsumer_spark.sources.ebml import (
        encode_element, parse_ebml_chunks,
    )
    docs = load_table(spark, "documents", sf)

    def encode(batches):
        import pandas as pd
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                payloads.append(
                    encode_element(0x4285, (2).to_bytes(1, "big"))
                    + encode_element(0x45A3, b"AWS_KINESISVIDEO_FRAGMENT_NUMBER")
                    + encode_element(0x4487, str(did).encode())
                    + encode_element(0xA3, (text or "").encode()[:64])
                )
            yield pd.DataFrame({"chunk_id": pdf["doc_id"], "payload": payloads})

    chunks = docs.mapInPandas(encode, "chunk_id bigint, payload binary")
    heads = parse_ebml_chunks(chunks, heads_only=True)
    return heads.groupBy("name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("size").alias("total_bytes"),
    )


def _kvs_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    # The composed reference pipeline (SURVEY rows 3-12): synthetic KVS
    # fragments from documents -> EBML tokenize -> tag pivot -> frames
    # joined to fragment tags. Rows-only (binary parse stage).
    from awskinesisconsumer_spark.sources.ebml import encode_element
    from awskinesisconsumer_spark.streaming.kvs_pipeline import (
        kvs_frames_with_tags,
    )
    docs = load_table(spark, "documents", sf)

    def encode(batches):
        import pandas as pd
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                n_frames = int(did) % 3 + 1
                p = encode_element(0x4285, (2).to_bytes(1, "big"))
                p += encode_element(0x45A3, b"AWS_KINESISVIDEO_FRAGMENT_NUMBER")
                p += encode_element(0x4487, str(91340000000 + int(did)).encode())
                p += encode_element(0x45A3, b"AWS_KINESISVIDEO_CONTINUATION_TOKEN")
                p += encode_element(0x4487, f"tok-{did}".encode())
                for i in range(n_frames):
                    p += encode_element(
                        0xA3, b"\x81\x00\x00\x00" + (text or "x").encode()[:16]
                    )
                payloads.append(p)
            yield pd.DataFrame({"chunk_id": pdf["doc_id"], "payload": payloads})

    # NOT fanned out (r16 optimization round): the interleaved on/off
    # A/B on the frame-sample/png entries measured the size-gated
    # fan-out a wash-to-loss — the encode is cheap, and the
    # chunk-local parse pass that follows it needs no shuffle, so
    # the fan-out's exchange would be the plan's only one.
    chunks = docs.mapInPandas(encode, "chunk_id bigint, payload binary")
    out = kvs_frames_with_tags(chunks)
    return out.select(
        "chunk_id", "frame_position", "track", "timecode", "n_frames",
        "AWS_KINESISVIDEO_FRAGMENT_NUMBER",
        "AWS_KINESISVIDEO_CONTINUATION_TOKEN",
    )


def _kvs_replay_source(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 rows 1-2 as a Python DataSource (DSv2): partitioned
    # fragment synthesis -> full pipeline -> per-fragment rollup.
    # Rows-only (source is generated, not a parquet table).
    from awskinesisconsumer_spark.sources.kvs_replay import register
    from awskinesisconsumer_spark.streaming.kvs_pipeline import (
        kvs_frames_with_tags,
    )
    register(spark)
    chunks = (
        spark.read.format("kvs-replay")
        .option("n_fragments", 200)
        .option("num_partitions", 8)
        .load()
    )
    out = kvs_frames_with_tags(chunks)
    return out.groupBy("AWS_KINESISVIDEO_CONTINUATION_TOKEN").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("track").alias("track"),
    )


def _decode_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 rows 4-5 `decode-scalars` as an oracle-checkable query:
    # encode event_id to 8-byte big-endian binary JVM-side, decode with
    # the Arrow pandas UDF — the oracle (decoded == event_id) is exact.
    from awskinesisconsumer_spark.functions import ebml_decode

    ev = load_table(spark, "events", sf)
    be_bytes = F.expr("to_binary(lpad(hex(event_id), 16, '0'), 'hex')")
    decoded = ebml_decode.udf_decode_uint(be_bytes)
    return ev.select("event_id", decoded.alias("decoded_uint"))


def _multimodal(spark: SparkSession, sf: str) -> DataFrame:
    # Rows-only: mapInPandas plumbing with stubbed codec (container has
    # no media libs; see operators/multimodal.py).
    docs = load_table(spark, "documents", sf)
    payload = to_binary_payload(docs, id_col="doc_id", text_col="text")
    return decode_frames(payload).select(
        "doc_id", "n_bytes", "height", "width", "channels", "format"
    )


@contextlib.contextmanager
def _gate_shuffle_partitions(spark: SparkSession):
    """Run the block with 8 shuffle partitions, restoring the session's
    value on exit. Stateful streaming runs one task per state partition
    per micro-batch; a vanilla session's 200 are pure scheduling
    overhead at harness SF. The count is baked into a fresh checkpoint
    at first start, so scoping the conf to the queries started inside
    the block is safe."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _run_stream_to_table(df, spark: SparkSession, prefix: str,
                         mode: str = "append") -> DataFrame:
    """Execute a streaming DF to completion (AvailableNow) into a
    memory sink and hand back the batch result — lets streaming
    operators satisfy the batch-shaped driver contract."""
    import tempfile
    import uuid

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    with _gate_shuffle_partitions(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()  # never leave a zombie query churning empty batches
            # A partial memory table would hash-compare as a WRONG
            # answer; surface the timeout as an error instead.
            raise RuntimeError(
                f"streaming query {name} did not finish within 300 s"
            )
    return spark.table(name)


def _fanout_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 rows 7/16/17 driver-visible: stream events through the
    # foreachBatch fan-out (parquet frames sink partitioned by user,
    # parquet dead-letter sink, bounded memory sink), then read BOTH
    # parquet sinks back — the roundtrip must reproduce the entire
    # input table (oracle: SELECT * FROM events). Ref parser.py:465-485.
    import tempfile

    from awskinesisconsumer_spark.streaming import events_stream, start_fanout
    from awskinesisconsumer_spark.streaming.sinks import BoundedMemorySink

    out_dir = tempfile.mkdtemp(prefix="fanout_out_")
    ckpt = tempfile.mkdtemp(prefix="fanout_ckpt_")
    ev = events_stream(spark, sf)
    errors = ev.where(F.col("event_type") == "error")
    frames = ev.where(F.col("event_type") != "error")
    sink = BoundedMemorySink(k=100)
    fq, eq = start_fanout(
        frames, errors, out_dir=out_dir, checkpoint_dir=ckpt, memory_sink=sink
    )
    for q in (fq, eq):
        if not q.awaitTermination(300):
            q.stop()
    if len(sink) == 0:
        raise RuntimeError("bounded memory sink stayed empty during fan-out")

    def back(path: str) -> DataFrame:
        # partitionBy(user_id) re-reads the partition column as int;
        # streaming ts is ltz — normalize both to the batch contract.
        return spark.read.parquet(path).select(
            "event_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            F.col("user_id").cast("bigint").alias("user_id"),
            "event_type", "value", "props",
        )

    return back(f"{out_dir}/frames").unionByName(back(f"{out_dir}/errors"))


def _embedding_dedup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    # The SRP-bucketed near-dup path (the 100 TB shape — Hamming<=1
    # bucket equi-join, never all-pairs), oracle-checked via the same
    # literal planes in DuckDB.
    emb = load_table(spark, "embeddings", sf)
    planes = deterministic_planes(64, 8)
    return embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding",
        threshold=0.35, planes=planes,
    )


def _stream_asof(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 12, streaming form: stateful as-of join via
    # applyInPandasWithState (buffer packets per user, boundary
    # flushes + evicts state — ref parser.py:421-432).
    from awskinesisconsumer_spark.streaming import asof_join_stream, events_stream

    out = asof_join_stream(events_stream(spark, sf))
    return _run_stream_to_table(out, spark, "asof_stream")


def _stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming exact dedup: running (min id, count) per text digest
    # over a replayed documents feed. Under AvailableNow + complete
    # mode the final memory-sink table IS the full-corpus dedup, so
    # the batch dedup oracle applies verbatim (digest dropped: the
    # oracle groups by text itself).
    from awskinesisconsumer_spark.streaming import table_stream
    from awskinesisconsumer_spark.streaming.pipeline import (
        dedup_exact_stream,
    )

    out = dedup_exact_stream(
        table_stream(spark, sf, "documents"), text_col="text",
        id_col="doc_id",
    ).drop("digest")
    return _run_stream_to_table(out, spark, "dedup_stream",
                                mode="complete")


def _stream_segment(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 rows 8-9, streaming form: watermarked session-window
    # rollup. Oracle-checked: under AvailableNow the emitted set is
    # exactly the sessions closed before the final watermark, which
    # the closed-form gap-sessionization SQL in oracle_sql()
    # reproduces — keep gap/watermark in sync with that SQL.
    from awskinesisconsumer_spark.streaming import events_stream, segment_rollup_stream

    out = segment_rollup_stream(events_stream(spark, sf))
    return _run_stream_to_table(out, spark, "seg_stream")


def _stream_cdc(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming changelog compaction over the replayed events feed:
    # running max_by state per key, complete mode. Final state ==
    # batch compaction, so the ext-cdc-compact oracle applies
    # verbatim (same key/op derivation).
    from awskinesisconsumer_spark.streaming import events_stream
    from awskinesisconsumer_spark.streaming.pipeline import (
        compact_latest_stream,
    )

    ev = events_stream(spark, sf)
    log = ev.withColumn(
        "op",
        F.when(F.col("event_id") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert")),
    )
    out = compact_latest_stream(
        log, key_cols=["user_id", "event_type"], seq_col="event_id",
        payload_cols=["ts", "value", "props", "op"], op_col="op",
    ).select(
        "user_id", "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.round("value", 2).alias("value"),
        "last_seq", "n_versions",
    )
    return _run_stream_to_table(out, spark, "cdc_stream", mode="complete")


def _stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming twin of agg-tumbling-window: watermarked 1 h windows,
    # append mode -> emitted set == windows closed by the final
    # watermark (deterministic under AvailableNow; oracle filters the
    # batch rollup the same way).
    from awskinesisconsumer_spark.streaming import events_stream
    from awskinesisconsumer_spark.streaming.pipeline import (
        tumbling_agg_stream,
    )

    out = tumbling_agg_stream(events_stream(spark, sf))
    return _run_stream_to_table(out, spark, "tumbling_stream")


def _stream_restart_resume(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 rows 20-23 (pause/resume, recover-restart, dispose) as
    # a driver-gated artifact: the watermarked tumbling rollup runs in
    # TWO AvailableNow phases through ONE checkpoint — phase 1 sees
    # only the pre-median half of events and terminates (clean stop,
    # reference parser.py:514-523); then the post-median half lands
    # and phase 2 RESUMES from the checkpoint offset log + state store
    # (reference parser.py:292-303 continuation-token resume). Window
    # state (partial counts) provably spans the restart: the appended
    # union of both phases must equal the single-phase batch rollup of
    # closed windows — the oracle is literally stream-tumbling-agg's.
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        tumbling_agg_stream,
    )

    ev = (
        load_table(spark, "events", sf)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    mid = ev.agg(F.expr("percentile(unix_timestamp(ts), 0.5)")).head()[0]
    base = tempfile.mkdtemp(prefix="restart_gate_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    ev.where(F.unix_timestamp("ts") <= mid).coalesce(1).write.parquet(src)
    schema = ev.schema

    with _gate_shuffle_partitions(spark):
        def run_phase() -> None:
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                tumbling_agg_stream(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError("restart-gate phase timed out")

        run_phase()  # phase 1: early half only, then clean stop
        ev.where(F.unix_timestamp("ts") > mid).coalesce(1) \
            .write.mode("append").parquet(src)
        run_phase()  # phase 2: resumes offsets + window state
    return spark.read.parquet(sink).select(
        "w_start", "w_end", "n_events", "sum_value", "max_event_id"
    )


def _stream_pause_resume(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 rows 20/23/24 (pause/resume, dispose, observability)
    # as ONE driver-gated artifact, driven through the actual
    # lifecycle API (streaming/lifecycle.py PipelineHandle): start ->
    # phase 1 drains the pre-median half (ref parser.py:514-523
    # StopCatchFrames == handle.pause(): clean stop, state + offsets
    # persist) -> the post-median half lands while "paused" ->
    # handle.resume() restarts the SAME checkpoint (StartCatchFrames)
    # -> handle.dispose() unregisters the listener (ref
    # parser.py:62-121). Unlike the reference's boolean gate, which
    # silently DROPS frames while paused, nothing is lost: the
    # appended union of both phases equals the single-phase batch
    # rollup. Row 24: the ProgressListener's observed metric
    # (`observe("pause_gate", count)`) must total EXACTLY the event
    # count — every row crossed the pipeline exactly once across the
    # pause — and is returned as a column so the oracle checks it.
    import tempfile
    import time as _time

    from awskinesisconsumer_spark.streaming.lifecycle import (
        PipelineHandle,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        tumbling_agg_stream,
    )

    ev = (
        load_table(spark, "events", sf)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    n_events = ev.count()
    mid = ev.agg(F.expr("percentile(unix_timestamp(ts), 0.5)")).head()[0]
    base = tempfile.mkdtemp(prefix="pause_gate_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    sink = os.path.join(base, "sink")
    ev.where(F.unix_timestamp("ts") <= mid).coalesce(1).write.parquet(src)
    schema = ev.schema

    def factory():
        stream = (
            spark.readStream.schema(schema).parquet(src)
            .observe("pause_gate", F.count(F.lit(1)).alias("n_rows"))
        )
        return (
            tumbling_agg_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    with _gate_shuffle_partitions(spark):
        handle = PipelineHandle(spark, factory)
        try:
            if not handle.start().awaitTermination(300):
                raise RuntimeError("pause-gate phase 1 timed out")
            handle.pause()  # state + offsets persist across the gap
            ev.where(F.unix_timestamp("ts") > mid).coalesce(1) \
                .write.mode("append").parquet(src)
            if not handle.resume().awaitTermination(300):
                raise RuntimeError("pause-gate phase 2 timed out")
            # Progress events reach the listener on its own bus thread —
            # bounded wait for the final batch's metric to land (normally
            # instant; generous bound for a loaded gate host). A timeout
            # RAISES like the phase timeouts do: a silently stale counter
            # would surface as an opaque value mismatch at the gate.
            deadline = _time.monotonic() + 90.0
            while True:
                n_obs = handle.listener.observed_totals("pause_gate") \
                    .get("n_rows", 0)
                if n_obs >= n_events:
                    break
                if _time.monotonic() >= deadline:
                    raise RuntimeError(
                        f"pause-gate listener saw {n_obs}/{n_events} rows "
                        "after 90 s — progress events lost or delayed"
                    )
                _time.sleep(0.25)
        finally:
            handle.dispose()
    return spark.read.parquet(sink).select(
        "w_start", "w_end", "n_events", "sum_value", "max_event_id",
    ).withColumn("observed_rows", F.lit(int(n_obs)).cast("long"))


def _sink_memory_bounded(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 17 (queryable bounded in-memory sink — the
    # reference's Frames queue, parser.py:470-512) as a driver-gated
    # artifact: the events extract replayed one file per micro-batch
    # through the REAL fan-out (streaming/sinks.py start_fanout:
    # per-batch persist, parquet sink, dead-letter slot, and the
    # BoundedMemorySink trimmed to newest-K by the monotone
    # event_id). Only K rows per batch cross to the driver, and the
    # final queue contents equal the global newest-K REGARDLESS of
    # how arrivals were chunked (global top-K of per-batch top-Ks) —
    # that chunking-invariance is what the oracle checks
    # (ORDER BY event_id DESC LIMIT K).
    import tempfile

    from awskinesisconsumer_spark.streaming.sinks import (
        BoundedMemorySink, start_fanout,
    )

    ev = load_table(spark, "events", sf).select(
        "event_id", "user_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="memsink_gate_")
    src = os.path.join(base, "src")
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = BoundedMemorySink(k=100)
    with _gate_shuffle_partitions(spark):
        # partition_col=None: user_id is high-cardinality in this
        # fixture — partitioning the tee by it would write thousands
        # of tiny files per batch (see start_fanout docstring).
        q, _ = start_fanout(
            stream, None,
            out_dir=os.path.join(base, "out"),
            checkpoint_dir=os.path.join(base, "ckpt"),
            memory_sink=sink,
            partition_col=None,
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("sink-memory-bounded timed out")
    rows = [sink.get(i) for i in range(len(sink))]
    return spark.createDataFrame(
        rows,
        schema="event_id long, user_id long, event_type string, "
               "value double",
    )


def _chunk_text(spark: SparkSession, sf: str) -> DataFrame:
    # Sliding token-window chunking (long doc -> overlapping training
    # chunks), 16-token windows advancing by 12: narrow posexplode +
    # slice, zero shuffles (operators/corpus_prep.py chunk_text).
    from awskinesisconsumer_spark.operators.corpus_prep import chunk_text

    docs = load_table(spark, "documents", sf)
    out = chunk_text(docs, id_col="doc_id", text_col="text",
                     chunk_tokens=16, stride=12)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


def _bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    # Bloom-bitset membership prefilter for decontamination: benchmark
    # 3-grams (docs with doc_id % 97 == 0, same suite as
    # ext-decontaminate) packed into a 2^14-bit / 4-hash Bloom filter;
    # corpus grams probe the broadcast bits map-side and only
    # candidates reach the exact join. The result audits the sketch:
    # per doc, grams / Bloom candidates / exact matches / false
    # positives. portable_hash52 makes the whole bitset (and therefore
    # the exact candidate set, false positives included) replayable in
    # the oracle.
    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.sketches import (
        bloom_decontaminate,
    )

    docs = load_table(spark, "documents", sf)
    bench = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), F.col("text").alias("bench_text")
    )
    return bloom_decontaminate(
        docs, bench, id_col="doc_id", text_col="text",
        bench_id_col="bench_id", bench_text_col="bench_text",
        n=3, m_bits=1 << 14, k=4, salt="bloom1",
        hash_fn=portable_hash52,
    )


def _zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    # Z-order (Morton) clustering audit over orders: interleave
    # customer bucket x order-day bucket, split into 64 z-ranged
    # files, report per-file min/max of BOTH dimensions — the footer
    # stats that make predicates on either column prune files
    # (operators/layout.py; the lakehouse OPTIMIZE ZORDER BY shape).
    from awskinesisconsumer_spark.operators.layout import (
        zorder_file_stats,
    )

    # 8-bit bucket spaces (custkey mod 256 x order-day mod 256) are
    # FULLY occupied by the fixture's ranges, so the 64 z-ranged files
    # tile the 256x256 plane as 32x32 blocks — the min/max audit then
    # actually demonstrates two-dimensional skipping. (A production
    # writer bucketizes by range/quantile instead of mod; the curve
    # math is identical.)
    orders = load_table(spark, "orders", sf)
    keyed = orders.select(
        F.pmod(F.col("o_custkey"), F.lit(256)).alias("xb"),
        F.pmod(
            F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1970-01-01"))),
            F.lit(256),
        ).alias("yb"),
    )
    out = zorder_file_stats(keyed, x_col="xb", y_col="yb",
                            bits=8, n_files=64)
    return out.select(
        "file_id", "n_rows",
        F.col("min_x").cast("long").alias("min_x"),
        F.col("max_x").cast("long").alias("max_x"),
        F.col("min_y").cast("long").alias("min_y"),
        F.col("max_y").cast("long").alias("max_y"),
    )


def _topn_per_group(spark: SparkSession, sf: str) -> DataFrame:
    # Top-3 orders per order-priority by price (deterministic
    # tie-break on key): the per-group top-N window surface —
    # partitioned rank, one shuffle keyed on the group, state bounded
    # by N per group. (Global variant: topk-customers.)
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", F.col("rn").cast("long").alias("rn"),
                "o_orderkey", "o_totalprice")
    )


def _equidepth_buckets(spark: SparkSession, sf: str) -> DataFrame:
    # Equal-population token-length buckets (NTILE semantics) via the
    # distributed two-pass global rank — no single-partition sort
    # (operators/corpus_prep.py equidepth_buckets).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        equidepth_buckets,
    )
    from awskinesisconsumer_spark.operators.text import token_count

    docs = token_count(load_table(spark, "documents", sf), text_col="text")
    return equidepth_buckets(docs, order_col="n_tokens", id_col="doc_id",
                             n_buckets=8)


def _stream_enrich(spark: SparkSession, sf: str) -> DataFrame:
    # Stream-static broadcast enrichment: the event stream decorated
    # with the customer dim per micro-batch — the stream side never
    # shuffles (streaming/pipeline.py enrich_stream_static).
    from awskinesisconsumer_spark.streaming import events_stream
    from awskinesisconsumer_spark.streaming.pipeline import (
        enrich_stream_static,
    )

    cust = load_table(spark, "customer", sf).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = enrich_stream_static(
        events_stream(spark, sf).select("event_id", "user_id", "event_type"),
        cust, on="user_id", how="left",
    )
    return _run_stream_to_table(out, spark, "enrich_stream")


def _stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    # Watermarked stream-stream interval join: each purchase matched
    # to the SAME user's clicks in the preceding hour (attribution).
    # State on both sides is evicted past watermark + lookback —
    # the fully-streaming generalization of the reference's as-of
    # join eviction (streaming/pipeline.py interval_join_stream).
    from awskinesisconsumer_spark.streaming import events_stream
    from awskinesisconsumer_spark.streaming.pipeline import (
        interval_join_stream,
    )

    ev = events_stream(spark, sf)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    buys = events_stream(spark, sf).where(
        F.col("event_type") == "purchase"
    ).select(
        "user_id", F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    joined = interval_join_stream(
        clicks, buys, key="user_id", left_ts="click_ts",
        right_ts="buy_ts", lookback="1 hour", delay="1 hour",
    ).select(
        "user_id", "click_id", "buy_id",
        (F.col("buy_ts").cast("long") - F.col("click_ts").cast("long"))
        .alias("delay_s"),
    )
    return _run_stream_to_table(joined, spark, "interval_join_stream")


def _stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming sliding-window rollup (2 h windows every 1 h):
    # overlapping-window twin of stream-tumbling-agg, same
    # closed-window append contract — the oracle explodes each event
    # into its two slide-grid window starts and filters by the final
    # watermark.
    from awskinesisconsumer_spark.streaming import events_stream
    from awskinesisconsumer_spark.streaming.pipeline import (
        sliding_agg_stream,
    )

    out = sliding_agg_stream(events_stream(spark, sf))
    return _run_stream_to_table(out, spark, "sliding_stream")


def _shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H-Q3-shaped shipping priority: unshipped revenue of BUILDING
    # customers' orders. Both fact filters sit ABOVE the scans
    # (pushed to parquet), the customer dim prunes to one segment
    # before joining, and the top-10 is a rounded-revenue rank with
    # an orderkey tie-break so both engines agree.
    cust = load_table(spark, "customer", sf).where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, "orders", sf).where(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, "lineitem", sf).where(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def _large_orders(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H-Q18-shaped large-volume orders: aggregate lineitem FIRST
    # (map-side combine collapses ~4 rows/order before the shuffle),
    # filter on the HAVING, then join the surviving ~13% of orders —
    # agg-before-join is the 100 TB-shaped plan; AQE broadcasts the
    # filtered side when it fits.
    li = load_table(spark, "lineitem", sf)
    orders = load_table(spark, "orders", sf)
    cust = load_table(spark, "customer", sf)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > 170)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


def _shipmode_priority(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H-Q12-shaped priority split per ship year (the fixture has
    # no shipmode column; the year bucketing keeps the conditional-
    # aggregation shape): one join keyed on orderkey, one hash agg
    # over ~7 groups.
    li = load_table(spark, "lineitem", sf)
    orders = load_table(spark, "orders", sf)
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.sum(hi.cast("long")).alias("high_line_count"),
            F.sum((~hi).cast("long")).alias("low_line_count"),
        )
    )


def _window_ranks(spark: SparkSession, sf: str) -> DataFrame:
    # Ranking-function surface in one pass: rank / dense_rank /
    # percent_rank / cume_dist share the ties window (deterministic
    # under ties by construction — they depend only on the order-key
    # VALUE), lag takes the unique window so the previous-price column
    # has a total order. One shuffle; both windows share the
    # partition key so Catalyst evaluates them in one Window node
    # chain without re-shuffling.
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf)
    wt = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc()
    )
    wu = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        F.rank().over(wt).cast("long").alias("rnk"),
        F.dense_rank().over(wt).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(wt), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(wt), 6).alias("cum_dist"),
        F.round(F.lag("o_totalprice", 1).over(wu), 2).alias("prev_price"),
    )


def _skyline(spark: SparkSession, sf: str) -> DataFrame:
    # Distributed 2-D Pareto frontier over part (cheapest-for-the-
    # size): bucketed local skylines + cross-bucket prefix-max
    # pruning — exact, no self-join, no global sort
    # (operators/analytics.py skyline_2d). Oracle is the quadratic
    # NOT EXISTS form.
    from awskinesisconsumer_spark.operators.analytics import skyline_2d

    part = load_table(spark, "part", sf)
    return skyline_2d(
        part.select("p_partkey", "p_retailprice", "p_size"),
        x_col="p_retailprice", y_col="p_size",
    )


def _collocations(spark: SparkSession, sf: str) -> DataFrame:
    # Bigram PMI collocations (operators/text.py collocations_pmi):
    # one tokenize pass, Zipf-bounded count shuffles, salted two-level
    # top-k.
    from awskinesisconsumer_spark.operators.text import collocations_pmi

    docs = load_table(spark, "documents", sf)
    return collocations_pmi(docs, text_col="text", min_count=5, k=50)


def _reservoir(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic per-group k-sample by md5 rank
    # (operators/sampling.py reservoir_sample_deterministic) — the
    # reproducible reservoir: uniform but replayable on any engine.
    from awskinesisconsumer_spark.operators.sampling import (
        reservoir_sample_deterministic,
    )

    ev = load_table(spark, "events", sf).select(
        "event_id", "user_id", "event_type"
    )
    return reservoir_sample_deterministic(
        ev, group_col="event_type", id_col="event_id", k=20
    )


def _hist_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    # Mergeable equi-width histogram quantiles (operators/sketches.py
    # histogram_quantiles): a 200-long-counter sketch per pass, linear
    # interpolation on the crossing bin — the sketch-family quantile
    # path next to CMS (heavy hitters) and HLL (distinct).
    from awskinesisconsumer_spark.operators.sketches import (
        histogram_quantiles,
    )

    orders = load_table(spark, "orders", sf)
    return histogram_quantiles(
        orders, value_col="o_totalprice", lo=0.0, hi=600000.0,
        n_bins=200, quantiles=(0.5, 0.9, 0.99),
    )


def _knn_join(spark: SparkSession, sf: str) -> DataFrame:
    # Batch k-NN join for a 16-probe batch (operators/similarity.py
    # knn_join_topk): broadcast probes, corpus never shuffles, salted
    # two-level top-k so no reducer holds a probe's full candidate
    # stream (the single-window form funnels the corpus through P
    # partitions).
    from awskinesisconsumer_spark.operators.similarity import knn_join_topk

    emb = load_table(spark, "embeddings", sf)
    return knn_join_topk(
        emb, id_col="vec_id", vec_col="embedding",
        probe_ids=list(range(16)), k=5,
    )


def _pagerank_dups(spark: SparkSession, sf: str) -> DataFrame:
    # PageRank (3 fixed iterations) over the symmetric near-dup
    # candidate graph — the "canonical copy" centrality picker on
    # duplicate clusters (operators/graph.py pagerank). Same edge set
    # as ext-dedup-cluster; the oracle unrolls the identical
    # arithmetic over the shared _EDGES_CTE_SQL.
    from awskinesisconsumer_spark.operators.dedup import ngram_jaccard_pairs
    from awskinesisconsumer_spark.operators.graph import pagerank

    docs = load_table(spark, "documents", sf)
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.3
    )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b"), F.col("id_a")))
        .distinct()
    )
    return pagerank(edges, iters=3).select(
        F.col("node").alias("doc_id"), "pagerank"
    )


def _funnel(spark: SparkSession, sf: str) -> DataFrame:
    # Ordered signup -> click -> purchase conversion funnel
    # (operators/analytics.py conversion_funnel): chained per-user
    # window minima over ONE user-keyed shuffle, then two hash aggs.
    from awskinesisconsumer_spark.operators.analytics import (
        conversion_funnel,
    )

    ev = load_table(spark, "events", sf)
    return conversion_funnel(
        ev, user_col="user_id", ts_col="ts", type_col="event_type"
    )


def _zscore(spark: SparkSession, sf: str) -> DataFrame:
    # Per-type z-score outliers (operators/analytics.py
    # zscore_outliers): grouped stats rounded to 6 dp BEFORE the
    # z-score so engine summation-order noise cannot flip the
    # threshold comparison.
    from awskinesisconsumer_spark.operators.analytics import zscore_outliers

    ev = load_table(spark, "events", sf).select(
        "event_id", "event_type", "value"
    )
    return zscore_outliers(
        ev, key_col="event_type", value_col="value", threshold=2.5
    )


def _scd2(spark: SparkSession, sf: str) -> DataFrame:
    # SCD type-2 dimension build from the event changelog
    # (operators/compaction.py scd2_versions): collapse runs of equal
    # state, stamp effective_from/to/is_current — ONE keyed shuffle,
    # no self-join.
    from awskinesisconsumer_spark.operators.compaction import scd2_versions

    ev = load_table(spark, "events", sf).select(
        "user_id", "ts", "event_id", "event_type"
    )
    return scd2_versions(
        ev, key_col="user_id", ts_col="ts", order_col="event_id",
        state_col="event_type",
    )


def _scd2_asof(spark: SparkSession, sf: str) -> DataFrame:
    # Point-in-time SCD2 lookup (operators/compaction.py scd2_as_of):
    # the version rows valid AT the corpus-max timestamp — a map-only
    # validity filter over the ext-scd2-versions dimension; with the
    # dimension partitioned on effective_from the scan prunes to the
    # files overlapping `at`. Oracle = the versions CTE + the same
    # BETWEEN predicate.
    from awskinesisconsumer_spark.operators.compaction import (
        scd2_as_of, scd2_versions,
    )

    ev = load_table(spark, "events", sf).select(
        "user_id", "ts", "event_id", "event_type"
    )
    dim = scd2_versions(
        ev, key_col="user_id", ts_col="ts", order_col="event_id",
        state_col="event_type",
    )
    at = ev.agg(F.max("ts")).first()[0]
    return scd2_as_of(dim, at=at)


def _dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    # Incremental-ingest dedup (operators/dedup.py dedup_incremental):
    # the daily-ingestion shape — flag a NEW batch against the
    # EXISTING corpus, exactly (digest anti-probe) and nearly
    # (gram-keyed inverted index, postings capped on the corpus
    # side); the corpus is never self-joined. doc_id % 3 splits the
    # fixture into new/corpus deterministically.
    from awskinesisconsumer_spark.operators.dedup import dedup_incremental

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 3 == 0)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    return dedup_incremental(
        new, corpus, id_col="doc_id", text_col="text", min_overlap=5
    )


def _winsorize(spark: SparkSession, sf: str) -> DataFrame:
    # Histogram-quantile winsorization (operators/sketches.py
    # winsorize): clip o_totalprice at the [p1, p99] estimates from
    # the mergeable 200-bin histogram — two scans, constant driver
    # state, map-only clip. Oracle replays the same interpolation +
    # LEAST/GREATEST.
    from awskinesisconsumer_spark.operators.sketches import winsorize

    orders = load_table(spark, "orders", sf).select(
        "o_orderkey", "o_totalprice"
    )
    return winsorize(
        orders, value_col="o_totalprice", lo=0.0, hi=600000.0,
        n_bins=200, p_low=0.01, p_high=0.99,
    )


def _bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    # Vocab-weighted greedy BPE merge training (operators/text.py
    # bpe_train_merges): ONE corpus scan builds the (word, freq)
    # vocab; 10 merge rounds run on that Zipf-bounded table only.
    # The oracle replays each round in DuckDB — pair counts, the
    # (count DESC, left, right) argmax, and the greedy left-to-right
    # merge application as a per-word recursive CTE (a REPLACE-based
    # oracle is unsound: token-tail and shared-boundary matches).
    from awskinesisconsumer_spark.operators.text import bpe_train_merges

    docs = load_table(spark, "documents", sf)
    return bpe_train_merges(docs, text_col="text", n_merges=10)


def _bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    # Tokenizer APPLY (operators/text.py bpe_encode_corpus): encode
    # the corpus with the merges trained on it by ext-bpe-train —
    # closing the train -> encode pair. The merge UDF runs over
    # DISTINCT words only (Zipf-bounded); per-word token lengths join
    # back and aggregate per document. Merge semantics are identical
    # to the trainer's by construction: both sides call the one
    # shared _apply_merge (text.py:468).
    from awskinesisconsumer_spark.operators.text import (
        bpe_encode_corpus, bpe_train_merges,
    )

    docs = load_table(spark, "documents", sf)
    trained = bpe_train_merges(docs, text_col="text", n_merges=10)
    rows = trained.orderBy("rank").collect()
    # The encode oracle (v10 of the train CTE chain) is sound only
    # when training's early stop did NOT trigger: the CTE applies all
    # 10 merges unconditionally, so a truncated merge table would
    # silently diverge. Guard loudly instead (ADVICE r5 item 5).
    if len(rows) != 10 or min(r["pair_count"] for r in rows) < 2:
        raise RuntimeError(
            "ext-bpe-encode: trainer early-stopped "
            f"({len(rows)} merges, min count "
            f"{min((r['pair_count'] for r in rows), default=0)}) — "
            "the encode oracle assumes all 10 merges applied"
        )
    merges = [(r["left"], r["right"]) for r in rows]
    return bpe_encode_corpus(
        docs, id_col="doc_id", text_col="text", merges=merges
    )


def _snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    # Keyed snapshot diff (operators/compaction.py snapshot_diff):
    # added/removed/changed/unchanged between two deterministic event
    # snapshots (%5 drops old-side, %7 drops new-side, %11 mutates).
    # Each side reduces to (key, sha2 digest) BEFORE the full-outer
    # join, so only 32-byte digests shuffle — the lake-audit shape
    # that never moves the payload at 100 TB.
    from awskinesisconsumer_spark.operators.compaction import snapshot_diff

    # %13 NULLs user_id on BOTH sides (same key, NULL == NULL value ->
    # 'unchanged'); %17 NULLs event_type on the new side only ('' vs
    # NULL -> 'changed') — so the digest's length-prefixed NULL
    # encoding ('-1|') is actually exercised at gate time, not just
    # documented.
    ev = load_table(spark, "events", sf).select(
        "event_id",
        F.when(F.col("event_id") % 13 != 0, F.col("user_id"))
        .alias("user_id"),
        "event_type",
    )
    old = ev.where(F.col("event_id") % 5 != 0)
    new = ev.where(F.col("event_id") % 7 != 0).withColumn(
        "event_type",
        F.when(F.col("event_id") % 17 == 0, F.lit(None))
        .when(F.col("event_id") % 11 == 0, F.lit("mutated"))
        .otherwise(F.col("event_type")),
    )
    return snapshot_diff(
        old, new, key_cols=["event_id"],
        compare_cols=["user_id", "event_type"],
    )


def _domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    # Per-source quota sampling (operators/corpus_prep.py domain_cap):
    # keep at most 20 orders per priority bucket by (price DESC, key)
    # — the mixture-control step every corpus build runs so mega
    # domains cannot dominate. ONE group-keyed window sort, the same
    # single exchange as any per-group top-k.
    from awskinesisconsumer_spark.operators.corpus_prep import domain_cap

    orders = load_table(spark, "orders", sf).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return domain_cap(
        orders, group_col="o_orderpriority", cap=20,
        order_by=[F.col("o_totalprice").desc()], id_col="o_orderkey",
    )


def _semantic_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # Embedding-based eval decontamination (operators/similarity.py
    # semantic_decontaminate): flag corpus vectors cosine-similar
    # (>= 0.8) to ANY benchmark vector. Benchmark side broadcast, the
    # corpus never shuffles; per-row max collapses in one pass.
    # vec_id % 13 == 0 is the benchmark. Gates the VECTORIZED kernel
    # (the production path — ~25x the interpreted HOF fold at sf0.1):
    # bit-equality with the HOF form is separately asserted by
    # tests/test_round5_ops.py, so the one oracle covers both.
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = load_table(spark, "embeddings", sf)
    corpus = emb.where(F.col("vec_id") % 13 != 0)
    bench = emb.where(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bvec")
    )
    return semantic_decontaminate(
        corpus, bench, id_col="vec_id", vec_col="embedding",
        bench_id_col="bid", bench_vec_col="bvec", threshold=0.8,
        vectorized=True,
    )


def _stream_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row-1-shaped daily-ingest capstone: the streaming form
    # of ext-dedup-incremental (streaming/pipeline.py
    # incremental_dedup_stream). New docs arrive as a genuinely
    # multi-batch file stream (3 files, maxFilesPerTrigger=1); each
    # micro-batch is flagged against the STATIC corpus via
    # foreachBatch. Every flag depends only on (new doc, corpus), so
    # the appended union EQUALS the single-batch result — the batch
    # oracle applies verbatim, chunking-invariant by construction.
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        incremental_dedup_stream,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 3 == 0)
    corpus = docs.where(F.col("doc_id") % 3 != 0)

    src = tempfile.mkdtemp(prefix="inc_dedup_src_")
    out_path = tempfile.mkdtemp(prefix="inc_dedup_out_")
    ckpt = tempfile.mkdtemp(prefix="inc_dedup_ckpt_")
    new.repartition(3).write.mode("overwrite").parquet(src)
    q = incremental_dedup_stream(
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        corpus, id_col="doc_id", text_col="text",
        out_path=out_path, checkpoint=ckpt, min_overlap=5,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-dedup-incremental: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-dedup-incremental: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    return spark.read.parquet(out_path).select(
        "doc_id", "text", "exact_dup", "max_overlap", "near_dup"
    )


def _stream_semantic_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming form of ext-semantic-decontaminate (streaming/
    # pipeline.py semantic_decontaminate_stream): corpus embeddings
    # arrive as a genuinely multi-batch file stream (3 files,
    # maxFilesPerTrigger=1); each micro-batch is scored against the
    # STATIC broadcast benchmark via foreachBatch — ingest-time eval
    # hygiene. Every flag depends only on (corpus row, benchmark), so
    # the appended union EQUALS the single-batch result and the batch
    # oracle applies verbatim (chunking invariance proven in
    # tests/test_round6_ops.py). Gates the vectorized kernel, like the
    # batch entry (bit-equality with the HOF fold separately tested).
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        semantic_decontaminate_stream,
    )

    emb = load_table(spark, "embeddings", sf)
    corpus = emb.where(F.col("vec_id") % 13 != 0)
    bench = emb.where(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bvec")
    )
    src = tempfile.mkdtemp(prefix="sem_dec_src_")
    out_path = tempfile.mkdtemp(prefix="sem_dec_out_")
    ckpt = tempfile.mkdtemp(prefix="sem_dec_ckpt_")
    corpus.repartition(3).write.mode("overwrite").parquet(src)
    q = semantic_decontaminate_stream(
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        bench, id_col="vec_id", vec_col="embedding",
        bench_id_col="bid", bench_vec_col="bvec",
        out_path=out_path, checkpoint=ckpt, threshold=0.8,
        vectorized=True,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-semantic-decontaminate: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-semantic-decontaminate: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    return spark.read.parquet(out_path).select(
        "vec_id", "max_bench_cosine", "matched_bench_id", "contaminated"
    )


def _stream_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    # Stateful streaming per-source quota (streaming/pipeline.py
    # domain_cap_stream): applyInPandasWithState keeps ONE long per
    # domain in the state store across micro-batches — the ingest-time
    # mixture guard. Arrival is arranged ascending by doc_id (three
    # chunk files, mtimes forcing FileStreamSource order), so the
    # emitted union equals batch domain_cap(order_by=[id asc]) exactly
    # (equivalence + checkpoint-restart state survival proven in
    # tests/test_round6_ops.py) and the twin is ONE window rank.
    import os
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        domain_cap_stream,
    )

    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf).select(
        "doc_id", (F.col("doc_id") % 7).cast("string").alias("domain")
    )
    # Three arrival chunks in ascending doc_id order, built Spark-side
    # (ntile over the id ordering — every id in chunk i is below every
    # id in chunk i+1), mtimes forcing FileStreamSource order. No
    # driver-side collect: the artifact construction stays distributed.
    src = tempfile.mkdtemp(prefix="cap_src_")
    chunked = docs.withColumn(
        "_chunk", F.ntile(3).over(Window.orderBy("doc_id"))
    )
    for i in range(3):
        part = os.path.join(src, f"part{i}")
        (chunked.where(F.col("_chunk") == i + 1).drop("_chunk")
         .coalesce(1).write.mode("overwrite").parquet(part))
        for root, _dirs, files in os.walk(part):
            for fname in files:
                os.utime(
                    os.path.join(root, fname),
                    (1_000_000 + i, 1_000_000 + i),
                )
    stream = (
        spark.readStream.schema("doc_id long, domain string")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "part*"))
    )
    out = domain_cap_stream(
        stream, group_col="domain", id_col="doc_id", cap=30
    )
    name = "stream_domain_cap_gate"
    # The stateful operator runs one task per STATE partition per
    # micro-batch; with 7 domains, default partition counts are pure
    # scheduling overhead (same artifact-scale rationale as the other
    # stream entries above). At 100 TB the count is sized to the
    # cluster instead — state stays one long per domain either way.
    with _gate_shuffle_partitions(spark):
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation",
                    tempfile.mkdtemp(prefix="cap_ckpt_"))
            .trigger(availableNow=True).start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stream-domain-cap: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-domain-cap: expected >=3 non-empty micro-batches, "
            f"saw {n_batches}"
        )
    return spark.table(name)


def _quality_blend(spark: SparkSession, sf: str) -> DataFrame:
    # Multi-signal quality blending (operators/corpus_prep.py
    # quality_blend): two text-derived signals winsorize-normalized
    # via histogram-sketch cut points — ALL signals' cut points from
    # ONE input scan (histogram_quantiles_multi, exactly one Spark
    # job) — then weight-blended with NULL renormalization. The twin
    # replays the cut interpolation + the same renormalized weighted
    # mean (proven in tests/test_round6_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        quality_blend,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    sig = docs.select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.when(
            F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0,
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double"),
        ).alias("n_words"),
    )
    return quality_blend(
        sig,
        signals={"n_chars": (0.0, 2000.0, 0.6), "n_words": (0.0, 400.0, 0.4)},
        n_bins=200,
    ).select("doc_id", "norm_n_chars", "norm_n_words", "quality_blend")


def _normalize_text(spark: SparkSession, sf: str) -> DataFrame:
    # Unicode + whitespace hygiene (operators/text.py normalize_text):
    # NFC, zero-width strip, control strip, space collapse, line-edge
    # trim, changed-flag audit — ONE Arrow pass, no shuffle. The gated
    # input appends a deterministic unicode-dirty suffix (NFD accent,
    # zero-width space, tab run, control byte, ragged line end) to
    # EVERY document so each transform is actually exercised at gate
    # time; the DuckDB twin replays with nfc_normalize + the same
    # regex chain (proven in tests/test_round6_ops.py).
    from awskinesisconsumer_spark.operators.text import normalize_text

    dirty_sfx = " Café​  x\ty\x07 \n z "
    docs = load_table(spark, "documents", sf).select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(dirty_sfx))
        .alias("text"),
    )
    return normalize_text(docs, text_col="text").select(
        "doc_id", "text_norm", "norm_changed"
    )


def _ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    # Recall@10 audit of the SRP-bucketed ANN join against the exact
    # k-NN join, per probe — the evaluation loop a production ANN
    # deployment runs on a sampled probe set. Both sides are existing
    # oracle-replayable operators; the audit is a semi-join + rollup.
    from awskinesisconsumer_spark.operators.similarity import (
        ann_join_srp, knn_join_topk,
    )

    emb = load_table(spark, "embeddings", sf)
    probes = list(range(8))
    exact = knn_join_topk(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes, k=10
    )
    ann = ann_join_srp(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes,
        planes=deterministic_planes(64, 8), k=10,
    )
    hits = (
        exact.select("probe_id", "neighbor_id")
        .join(
            ann.select("probe_id", "neighbor_id"),
            ["probe_id", "neighbor_id"], "left_semi",
        )
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("probe_id").distinct()
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0).cast("long")) / F.lit(10.0), 4
            ).alias("recall_at_10"),
        )
    )


def _parquet_evolve(spark: SparkSession, sf: str) -> DataFrame:
    # Parquet schema evolution: two generations of the events extract
    # (the newer one adds a column) merged in ONE scan via
    # mergeSchema — missing columns null-fill. The lake-maintenance
    # reality a 100 TB table lives with: old partitions never get
    # rewritten when the schema grows.
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"pq_evolve_{tag}")
    ev = load_table(spark, "events", sf)
    ev.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id"
    ).write.mode("overwrite").parquet(f"{base}/gen=1")
    ev.where(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type"
    ).write.mode("overwrite").parquet(f"{base}/gen=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/gen=1", f"{base}/gen=2")
        .select("event_id", "user_id", "event_type")
    )


def _bucketed_join_gate(spark: SparkSession, sf: str) -> DataFrame:
    # Write-time bucketing as a gated artifact: both sides bucketed
    # and sorted on the join key (operators/skew.py write_bucketed),
    # so the repeated equi-join plans with ZERO exchange on either
    # side (plan-asserted in tests/test_plans.py) — the layout
    # contract that amortizes one shuffle across every downstream
    # join at 100 TB.
    import hashlib
    import os
    import tempfile

    from awskinesisconsumer_spark.operators.skew import (
        bucketed_join, write_bucketed,
    )

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"bucketed_{tag}")
    orders = load_table(spark, "orders", sf).select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = load_table(spark, "customer", sf).select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    t1, t2 = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    write_bucketed(orders, table=t1, bucket_col="custkey", num_buckets=8,
                   sort_col="custkey", path=os.path.join(base, "orders"))
    write_bucketed(cust, table=t2, bucket_col="custkey", num_buckets=8,
                   sort_col="custkey", path=os.path.join(base, "cust"))
    return (
        bucketed_join(spark, t1, t2, "custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


def _cohorts(spark: SparkSession, sf: str) -> DataFrame:
    # Weekly cohort retention matrix: users bucketed by first-activity
    # week, counted per activity-week offset. Two user-keyed hash aggs
    # + one user-keyed join; the matrix agg is map-side combined.
    ev = load_table(spark, "events", sf)
    wk = F.date_trunc("week", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    act = ev.select("user_id", wk.alias("act_week")).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
            .cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def _stream_scd2(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming SCD2 (streaming/pipeline.py scd2_stream): per-key
    # state = the open version only; each state change emits the
    # sealed previous version. Emitted set == the batch build's
    # effective_to IS NOT NULL subset (the oracle).
    from awskinesisconsumer_spark.streaming import events_stream
    from awskinesisconsumer_spark.streaming.pipeline import scd2_stream

    out = scd2_stream(events_stream(spark, sf))
    res = _run_stream_to_table(out, spark, "scd2_stream")
    return res.select(
        "user_id", "event_id", "event_type",
        F.timestamp_micros("from_us").alias("effective_from"),
        F.timestamp_micros("to_us").alias("effective_to"),
    )


def _hll_merge(spark: SparkSession, sf: str) -> DataFrame:
    # Daily HLL sketches merged by per-bucket register MAX into one
    # global distinct-user estimate (operators/sketches.py
    # hll_merge_estimate). The merge is associative, so the result
    # must equal the sketch built over the raw union — the oracle
    # replays the GLOBAL build, making the mergeability claim itself
    # the thing the gate checks.
    from awskinesisconsumer_spark.operators.sketches import (
        hll_merge_estimate,
    )

    ev = load_table(spark, "events", sf).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    return hll_merge_estimate(ev, key_col="user_id", shard_col="day", p=9)


def _top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H-Q15-shaped top supplier: revenue per supplier (one hash
    # agg with map-side combine), the scalar max broadcast back as a
    # one-row join — no window over the full aggregate, no second
    # scan of lineitem. Ties on the rounded max all surface.
    li = load_table(spark, "lineitem", sf)
    supp = load_table(spark, "supplier", sf)
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


def _above_nation_avg(spark: SparkSession, sf: str) -> DataFrame:
    # Correlated-subquery shape (customers above their nation's
    # average balance), decorrelated the Spark-first way: one grouped
    # aggregate + an AQE-broadcast join-back. The per-nation mean
    # rounds to 6 dp BEFORE the comparison so engine summation order
    # cannot flip membership at the threshold.
    cust = load_table(spark, "customer", sf)
    avgs = cust.groupBy("c_nationkey").agg(
        F.round(F.avg("c_acctbal"), 6).alias("nation_avg")
    )
    return (
        cust.join(avgs, "c_nationkey")
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                "nation_avg")
    )


def _stream_hll(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming distinct-user HLL: the register table is the ENTIRE
    # streaming state (2^p rows, cardinality-independent) maintained
    # as a complete-mode aggregation; the estimate is finished on the
    # final sink table and must equal the batch sketch bit-for-bit
    # (streaming/pipeline.py hll_register_stream).
    from awskinesisconsumer_spark.operators.sketches import (
        hll_estimate_from_registers,
    )
    from awskinesisconsumer_spark.streaming import events_stream
    from awskinesisconsumer_spark.streaming.pipeline import (
        hll_register_stream,
    )

    regs = _run_stream_to_table(
        hll_register_stream(events_stream(spark, sf)),
        spark, "hll_stream", mode="complete",
    )
    est = hll_estimate_from_registers(regs, p=9)
    exact = load_table(spark, "events", sf).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.crossJoin(exact)


def _sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic weighted sampling (Efraimidis–Spirakis A-ES on the
    # portable hash): length-proportional document sample — the
    # mixture-weighted cousin of the stratified hash gate and the
    # uniform reservoir (operators/corpus_prep.py sample_weighted).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        sample_weighted,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "n_chars")
    return sample_weighted(
        docs, id_col="doc_id", weight_col="n_chars", k=100
    )


def _embedding_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    # Per-dimension mean/std — whitening prep / drift monitor
    # (operators/similarity.py embedding_dim_stats); shuffle carries
    # `dim` rows per partition regardless of corpus size.
    from awskinesisconsumer_spark.operators.similarity import (
        embedding_dim_stats,
    )

    emb = load_table(spark, "embeddings", sf)
    return embedding_dim_stats(emb, vec_col="embedding")


def _mixture_temperature(spark: SparkSession, sf: str) -> DataFrame:
    # Temperature-scaled source weights w_i = p_i^alpha / Z (the
    # low-resource up-sampling formula; operators/corpus_prep.py
    # mixture_temperature_weights) — computes the ratios that
    # mixture_allocate consumes.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        mixture_temperature_weights,
    )

    docs = load_table(spark, "documents", sf)
    return mixture_temperature_weights(docs, source_col="source", alpha=0.3)


def _stream_backpressure(spark: SparkSession, sf: str) -> DataFrame:
    # SURVEY §2 row 21 (backpressure-pipe) as a GATED artifact: the
    # events extract split into 4 files, streamed with
    # maxFilesPerTrigger=1 — four admission-controlled micro-batches
    # whose complete-mode aggregation state must accumulate to
    # exactly the one-shot batch answer (the oracle). The reference's
    # pipe backpressure (parser.py:334,368-375 FIFO) becomes source
    # admission control + state-store increments.
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    src = os.path.join(tempfile.gettempdir(), f"bp_src_{tag}")
    ev = load_table(spark, "events", sf).select(
        "event_id", "event_type", "value"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("_s"))
    )
    out = _run_stream_to_table(agg, spark, "bp_stream", mode="complete")
    return out.select(
        "event_type", "n_events", F.round("_s", 2).alias("sum_value")
    )


def _full_outer_activity(spark: SparkSession, sf: str) -> DataFrame:
    # FULL OUTER join surface: per-user event activity vs per-customer
    # order activity — rows survive from BOTH unmatched sides
    # (customers who never event, event users with no customer
    # record). Both inputs aggregate BEFORE the join (map-side
    # combine), so the outer join moves one row per key.
    ev = load_table(spark, "events", sf)
    orders = load_table(spark, "orders", sf)
    ea = ev.groupBy(F.col("user_id").alias("uid")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    oa = orders.groupBy(F.col("o_custkey").alias("ckey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        ea.join(oa, ea.uid == oa.ckey, "full_outer")
        .select(
            F.coalesce("uid", "ckey").alias("party_id"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


def _manifest_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    # DSv2 WRITER with two-phase commit (sources/manifest_sink.py):
    # task shards stay invisible until the driver's commit renames
    # them and writes _MANIFEST.json LAST. The read-back consults the
    # manifest and reads EXACTLY its shard list. mode("overwrite")
    # replaces the prior manifest and sweeps its shards AFTER the new
    # manifest lands (append would MERGE the prior shard list), so
    # re-running the gate against the same directory is idempotent —
    # the atomicity property the gate verifies (oracle = the source
    # table).
    import hashlib
    import os
    import tempfile

    from awskinesisconsumer_spark.sources.manifest_sink import (
        read_manifest, register,
    )

    register(spark)
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"manifest_sink_{tag}")
    ev = load_table(spark, "events", sf).select(
        "event_id", "user_id", "event_type"
    )
    ev.write.format("manifest-jsonl").option("path", out).mode(
        "overwrite"
    ).save()
    man = read_manifest(out)
    paths = [os.path.join(out, s["file"]) for s in man["shards"]]
    back = spark.read.schema(
        "event_id long, user_id long, event_type string"
    ).json(paths)
    assert back.count() == man["total_rows"]
    return back


def _forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H-Q6-shaped forecast: pure scan-filter-aggregate — every
    # predicate pushes to the parquet scan, the agg is one partial+
    # final sum, zero joins. The "how fast can you move bytes"
    # floor query.
    li = load_table(spark, "lineitem", sf)
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def _late_orders_exists(spark: SparkSession, sf: str) -> DataFrame:
    # TPC-H-Q4-shaped EXISTS: orders per priority having at least one
    # lineitem shipped > 60 days after the order date. The EXISTS
    # becomes a LEFT SEMI join (no row multiplication, no distinct),
    # then a 5-group hash agg.
    li = load_table(spark, "lineitem", sf)
    orders = load_table(spark, "orders", sf)
    late = li.select(
        "l_orderkey", "l_shipdate"
    )
    return (
        orders.join(
            late,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def _stream_manifest_sink(spark: SparkSession, sf: str) -> DataFrame:
    # DSv2 STREAMING writer: the events extract split into 4 files,
    # streamed one file per micro-batch into the manifest sink — one
    # idempotent commit per epoch, `epochs[batchId]` a REPLACE slot
    # (sources/manifest_sink.py ManifestJsonlStreamWriter). Read-back
    # consults the manifest's epoch-ordered shard list; oracle = the
    # source extract.
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    from awskinesisconsumer_spark.sources.manifest_sink import (
        read_manifest, register,
    )

    register(spark)
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    src = os.path.join(tempfile.gettempdir(), f"msrc_{tag}")
    ev = load_table(spark, "events", sf).select(
        "event_id", "user_id", "event_type"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    # Fresh sink dir per run: the streaming manifest accumulates
    # epochs, and the oracle is the single-run extract.
    out = os.path.join(
        tempfile.gettempdir(), f"msink_{tag}_{uuid.uuid4().hex[:8]}"
    )
    ckpt = tempfile.mkdtemp(prefix="msink_ckpt_")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.format("manifest-jsonl")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-manifest-sink did not finish in 300 s")
    man = read_manifest(out)
    assert len(man["epochs"]) >= 4, man["epochs"].keys()
    paths = [os.path.join(out, s["file"]) for s in man["shards"]]
    back = spark.read.schema(
        "event_id long, user_id long, event_type string"
    ).json(paths)
    n = back.count()
    assert n == man["total_rows"], (n, man["total_rows"])
    shutil.rmtree(ckpt, ignore_errors=True)
    return back


def _asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    # Nearest as-of: each non-signup event matched to the CLOSEST
    # signup by |delta t| per user (ties -> the earlier one) —
    # completes the forward/backward/nearest direction family
    # (operators/asof_join.py asof_join_nearest, one exchange).
    # right_order=tag_event_id totalizes the carry when several
    # signups share one (user, ts) — the oracle orders identically.
    from awskinesisconsumer_spark.operators.asof_join import (
        asof_join_nearest,
    )

    ev = load_table(spark, "events", sf)
    packets = ev.where(F.col("event_type") != "signup").select(
        "user_id", "event_id", "ts"
    )
    tags = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("tag_ts"),
        F.col("event_id").alias("tag_event_id"),
    )
    out = asof_join_nearest(
        packets, tags, key="user_id", left_on="ts", right_on="tag_ts",
        right_order="tag_event_id",
    )
    return out.select(
        "user_id", "event_id", "tag_event_id",
        (F.unix_micros(F.col("tag_ts").cast("timestamp"))
         - F.unix_micros(F.col("ts").cast("timestamp")))
        .alias("delta_us"),
    )


# --- round-8 registrations: the 13 r6/r7-banked operators + the
# --- reference's elementHeadCalback extension point ----------------------


def _scan_element_callback(spark: SparkSession, sf: str) -> DataFrame:
    # The reference's LAST unexpressed extension point: a
    # user-supplied `elementHeadCalback` invoked for every element
    # head read (ref ebml.py:157, 300-301 — fires BEFORE the
    # interesting-name filter). Spark-first: the callable ships
    # inside the parse UDF (sources/ebml.py parse_ebml_chunks
    # element_head_callback) and its per-head result returns as a
    # `cb_value` column. This entry classifies every head by
    # (type, size mod 5) over the same synthesized KVS fragments as
    # scan-ebml-tokenize, so the classification is pure arithmetic
    # over `documents` and the twin replays it exactly.
    from awskinesisconsumer_spark.sources.ebml import (
        encode_element, parse_ebml_chunks,
    )

    docs = load_table(spark, "documents", sf)

    def encode(batches):
        import pandas as pd
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                payloads.append(
                    encode_element(0x4285, (2).to_bytes(1, "big"))
                    + encode_element(0x45A3,
                                     b"AWS_KINESISVIDEO_FRAGMENT_NUMBER")
                    + encode_element(0x4487, str(did).encode())
                    + encode_element(0xA3, (text or "").encode()[:64])
                )
            yield pd.DataFrame(
                {"chunk_id": pdf["doc_id"], "payload": payloads}
            )

    def classify(size, element_id, name, ebml_type):
        return f"{ebml_type}:{(size or 0) % 5}"

    chunks = docs.mapInPandas(encode, "chunk_id bigint, payload binary")
    elements = parse_ebml_chunks(
        chunks, element_head_callback=classify
    )
    return elements.groupBy("name", "cb_value").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- the 13 banked operators ---------------------------------------------


def _multimodal_wav(spark: SparkSession, sf: str) -> DataFrame:
    # REAL stdlib PCM-WAV codec roundtrip (operators/multimodal.py
    # synth_wav_pcm16 -> decode_wav; the audio-column plumbing for the
    # binary-payload lane, ref parser.py's media frames): synthesize
    # 40 deterministic 441-frame clips with the python `wave` writer,
    # decode with the `wave` reader, and return exact int16 sample
    # stats. The oracle replays the synthesis formula
    # sample[k] = ((id*31 + k*17) % 65536) - 32768 over range()
    # (proven in tests/test_round6_ops.py).
    from awskinesisconsumer_spark.operators.multimodal import (
        decode_wav, synth_wav_pcm16,
    )

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    wavs = synth_wav_pcm16(ids, id_col="doc_id", n_frames=441,
                           sample_rate=8000)
    return decode_wav(wavs).select(
        "doc_id", "sample_rate", "n_channels", "sample_width",
        "n_frames", "duration_ms", "sum_samples", "sum_abs_samples",
    )


def _multimodal_png(spark: SparkSession, sf: str) -> DataFrame:
    # REAL stdlib PNG codec roundtrip (operators/multimodal.py
    # encode_png_rgb -> decode_png: signature/IHDR/IDAT(zlib)/IEND,
    # CRC-verified, full filter-set decoder): 25 deterministic 8x8
    # RGB images; the oracle replays the pixel formula
    # (i*7 + y*131 + x*17 + c*43) % 256 (proven in
    # tests/test_round6_ops.py).
    from awskinesisconsumer_spark.operators.multimodal import (
        decode_png, encode_png_rgb,
    )

    ids = spark.range(0, 25).select(F.col("id").alias("doc_id"))
    pngs = encode_png_rgb(ids, id_col="doc_id", height=8, width=8)
    return decode_png(pngs).select(
        "doc_id", "height", "width", "bit_depth", "color_type",
        "crc_ok", "sum_pixels",
    )


def _tokenize_pack(spark: SparkSession, sf: str) -> DataFrame:
    # Tokenizer-aware packing composition: BPE train -> encode ->
    # pack_sequences by the REAL token counts (vs ext-pack-sequences'
    # regex proxy) — the packing layout an actual training-data build
    # runs. The collect is the 10-row merge table (constant driver
    # state); the twin is the encode CTE chain + the pack prefix-sum
    # tail in ONE statement (_bpe_oracle_sql(10, pack_capacity=512),
    # proven in tests/test_round6_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        pack_sequences,
    )
    from awskinesisconsumer_spark.operators.text import (
        bpe_encode_corpus, bpe_train_merges,
    )

    docs = load_table(spark, "documents", sf)
    merges = [
        (r["left"], r["right"])
        for r in bpe_train_merges(docs, text_col="text", n_merges=10)
        .orderBy("rank").collect()
    ]
    toks = bpe_encode_corpus(
        docs, id_col="doc_id", text_col="text", merges=merges,
    ).select("doc_id", F.col("n_bpe_tokens").alias("n_tokens"))
    return pack_sequences(toks, id_col="doc_id", token_col="n_tokens",
                          capacity=512, group_size=64)


def _validate_expectations(spark: SparkSession, sf: str) -> DataFrame:
    # Data-quality gate (operators/validation.py): all rule
    # expectations in ONE scan/aggregate (plan-asserted in
    # tests/test_round6_ops.py), UNIONed with the FK orphan check
    # (one left-anti aggregate, lazy since r7). NULL rule outcomes
    # count as violations (conservative). Twin = plain conditional
    # aggregates + the NOT IN orphan count.
    from awskinesisconsumer_spark.operators.validation import (
        check_referential, validate_expectations,
    )

    orders = load_table(spark, "orders", sf)
    out = validate_expectations(orders, {
        "price_in_range": F.col("o_totalprice").between(0.0, 500000.0),
        "priority_known": F.col("o_orderpriority").isin(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        ),
        "key_positive": F.col("o_orderkey") > 0,
    })
    ev = load_table(spark, "events", sf)
    cust = load_table(spark, "customer", sf)
    fk = check_referential(
        ev, cust, fact_key="user_id", dim_key="c_custkey"
    )
    return out.unionByName(fk)


def _compact_files(spark: SparkSession, sf: str) -> DataFrame:
    # Small-file compaction (operators/layout.py compact_small_files,
    # the lake OPTIMIZE pass: tmp-write + aside/rename with crash
    # recovery, partition-aware since r7): fragment a COPY of events
    # into 24 splinter files, compact to target size, and return a
    # per-event_type digest (count + portable-hash sums) over the
    # compacted directory — equal to the same digest over the
    # ORIGINAL table iff rows survived exactly, so the op hash-gates
    # row preservation (twin proven in tests/test_round7_ops.py).
    import tempfile

    from awskinesisconsumer_spark.operators.layout import (
        compact_small_files,
    )

    path = tempfile.mkdtemp(prefix="compact_gate_") + "/events_frag"
    (load_table(spark, "events", sf)
     .select("event_id", "user_id", "event_type")
     .repartition(24).write.parquet(path))
    report = compact_small_files(spark, path, target_bytes=1 << 30)
    if not report["compacted"] or \
            report["n_files_after"] >= report["n_files_before"]:
        raise RuntimeError(f"ext-compact-files: no-op compaction {report}")
    # bit_xor digests, NOT sums: a 2^52-scale hash summed over a
    # large group overflows int64 under ANSI (hit at sf0.1); XOR is
    # order-independent, exact, and bounded at any corpus size.
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(portable_hash52(F.col("event_id").cast("string")))
            .alias("id_hash_xor"),
            F.bit_xor(portable_hash52(F.col("user_id").cast("string")))
            .alias("user_hash_xor"),
        )
    )


def _vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    # Per-document OOV audit vs the corpus top-k vocabulary
    # (operators/text.py vocab_coverage): the tokenizer-build /
    # ingest-monitor check. vocab_size=10 against the ~31-term
    # synthetic corpus keeps the OOV tail real. The k-row vocab is a
    # broadcast probe (plan-asserted); the only data-sized term is
    # the per-(doc, term) count shuffle. Twin = same top-k
    # (count DESC, term ASC) + NOT IN membership (proven in
    # tests/test_round7_ops.py).
    from awskinesisconsumer_spark.operators.text import vocab_coverage

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return vocab_coverage(
        docs, id_col="doc_id", text_col="text", vocab_size=10
    )


def _corpus_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Term-distribution drift between two corpus snapshots
    # (operators/text.py corpus_drift): add-one-smoothed unigram
    # KL/JS per union-vocab term between the even and odd doc_id
    # halves — the scraper-gone-wrong monitor. Zipf-bounded term
    # tables, one full-outer join + one broadcast totals row
    # (plan-asserted); micro-nat scaling + 4 dp rounding makes the
    # twin hash-stable (proven in tests/test_round7_ops.py).
    from awskinesisconsumer_spark.operators.text import corpus_drift

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return corpus_drift(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        text_col="text",
    )


def _domain_cap_topk(spark: SparkSession, sf: str) -> DataFrame:
    # Skew-safe per-source quota (operators/corpus_prep.py
    # domain_cap_topk): salted two-level rank — no reducer ever sorts
    # more than its salt shard of a mega domain; kept set + exact
    # ranks EQUAL the single-window domain_cap (salt-invariance
    # proven in tests/test_round7_ops.py). n_in_group rides the same
    # salted sort (one scan, no join — plan-asserted since r8). Twin
    # = ONE window rank filtered to <= cap.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        domain_cap_topk,
    )

    orders = load_table(spark, "orders", sf).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return domain_cap_topk(
        orders, group_col="o_orderpriority", cap=20,
        order_by=[F.col("o_totalprice").desc()], id_col="o_orderkey",
        salt_buckets=7,
    )


def _dedup_span_removal(spark: SparkSession, sf: str) -> DataFrame:
    # Surgical cross-doc span removal (operators/dedup.py
    # remove_duplicate_spans, Lee et al. 2022 edit semantics) with
    # content-defined (anchored) windows over documents carrying an
    # injected shared-boilerplate suffix (doc_id % 5) at varying
    # offsets — the alignment-free cut the strided form provably
    # misses. Span table + position anti-join + ordered fold; nothing
    # pairwise. Twin replays anchoring, hashing, first-occurrence
    # election, cut, and reassembly (proven in
    # tests/test_round7_ops.py).
    from awskinesisconsumer_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    boiler = ("all rights reserved redistribution permitted only under "
              "the terms of the license agreement above")
    docs = load_table(spark, "documents", sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")),
                     F.lit(" " + boiler)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return remove_duplicate_spans(
        docs, id_col="doc_id", text_col="text",
        span_len=8, stride=4, min_docs=2,
        hash_fn=portable_hash52, anchored=True,
    )


def _curate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    # The COMPOSED five-stage curation pipeline
    # (operators/corpus_prep.py curate_corpus): normalize -> anchored
    # span dedup -> digest-keyed exact dedup (32-byte hashes move,
    # never text) -> quality blend -> per-domain quota, end to end in
    # one call. The fixture exercises every stage: unicode-dirty
    # suffix (normalize), shared boilerplate at varying offsets (span
    # cut), identical short texts (exact dedup), 7 domains with cap
    # 30 (quota binds). Twin = the five individually-proven stage
    # twins chained in ONE statement (proven in
    # tests/test_round7_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        curate_corpus,
    )

    boiler = ("all rights reserved redistribution permitted only under "
              "the terms of the license agreement above")
    dirty = " Café​  x\ty\x07 \n z "
    docs = load_table(spark, "documents", sf).select(
        "doc_id",
        (F.col("doc_id") % 7).cast("string").alias("domain"),
        F.concat(
            F.when(F.col("doc_id") % 13 == 0, F.lit("Short  Dup Doc"))
            .when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")),
                         F.lit(" " + boiler)),
            )
            .otherwise(F.col("text")),
            F.lit(dirty),
        ).alias("text"),
    )
    return curate_corpus(
        docs, id_col="doc_id", text_col="text", group_col="domain",
        cap=30,
    )


def _sink_png_files(spark: SparkSession, sf: str) -> DataFrame:
    # The reference's frame loop closed END-TO-END on this engine's
    # primitives (ref parser.py:483-485 writes one PNG file per
    # decoded frame): EBML parse -> demux -> tags join (the gated kvs
    # pipeline) -> per-frame deterministic PNG (real stdlib codec
    # standing in for the unavailable libav decode) -> DISTRIBUTED
    # file sink (mapInPandas, per-attempt tmp + atomic rename, retry
    # idempotent — the driver never sees a payload byte) -> read back
    # via Spark's binaryFile source -> CRC-verified decode audit.
    # Twin = the pixel formula replayed over range() (end-to-end
    # proven in tests/test_round7_ops.py).
    import tempfile

    from awskinesisconsumer_spark.operators.multimodal import (
        decode_png, encode_png_rgb, png_file_sink,
    )
    from pyspark.sql import Window

    frames = _kvs_pipeline(spark, sf)
    with_id = frames.withColumn(
        "frame_id",
        F.row_number().over(
            Window.orderBy("chunk_id", "frame_position")
        ).cast("long"),
    ).where(F.col("frame_id") <= 60)
    pngs = encode_png_rgb(
        with_id.select(F.col("frame_id")), id_col="frame_id",
        height=8, width=8,
    )
    out_dir = tempfile.mkdtemp(prefix="png_sink_gate_")
    n_written = png_file_sink(
        pngs, id_col="doc_id", payload_col="payload", out_dir=out_dir
    ).count()
    if n_written != 60:
        raise RuntimeError(
            f"sink-png-files: expected 60 frames, wrote {n_written}"
        )
    back = (
        spark.read.format("binaryFile")
        .load(out_dir + "/*.png")
        .select(
            F.regexp_extract(F.col("path"), r"frame_(\d+)\.png", 1)
            .cast("long").alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    return decode_png(back).select(
        F.col("doc_id").alias("frame_id"), "sum_pixels", "crc_ok"
    )


def _stream_corpus_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming drift monitor (streaming/pipeline.py
    # corpus_drift_stream): the odd doc_id half arrives as a genuine
    # 3-batch file stream; running complete-mode term counts (state =
    # the Zipf-bounded term table, never rows) are scored against the
    # static even-half reference every trigger, publishing atomically
    # via tmp-dir + rename swap. Because the state is the full count
    # table, the FINAL emission equals batch corpus_drift(even, odd)
    # exactly regardless of chunking — so ext-corpus-drift's oracle
    # applies VERBATIM (equivalence proven in
    # tests/test_round7_ops.py).
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        corpus_drift_stream,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    reference = docs.where(F.col("doc_id") % 2 == 0)
    arriving = docs.where(F.col("doc_id") % 2 == 1)
    src = tempfile.mkdtemp(prefix="drift_src_")
    out_path = tempfile.mkdtemp(prefix="drift_out_") + "/drift"
    ckpt = tempfile.mkdtemp(prefix="drift_ckpt_")
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    handle = corpus_drift_stream(
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        reference, text_col="text",
        out_path=out_path, checkpoint=ckpt,
    )
    try:
        if not handle.awaitTermination(300):
            handle.query.stop()
            raise RuntimeError("stream-corpus-drift: timed out")
        n_batches = len(
            [p for p in handle.query.recentProgress
             if p["numInputRows"] > 0]
        )
        if n_batches < 3:
            raise RuntimeError(
                f"stream-corpus-drift: expected >=3 non-empty "
                f"micro-batches, saw {n_batches}"
            )
    finally:
        handle.release()
    return spark.read.parquet(out_path).select(
        "term", "c_left", "c_right", "p_left_micro", "p_right_micro",
        "kl_micro", "js_micro",
    )


def _stream_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming OOV monitor (streaming/pipeline.py
    # vocab_coverage_stream): the odd doc_id half arrives as a
    # genuine 3-batch file stream and every document is scored
    # against the FROZEN top-10 vocabulary of the even half — the
    # ingest-time "does the data still look like what the tokenizer
    # was built on" alarm. Per-doc flags depend only on (doc, vocab),
    # so the appended union EQUALS the batch result regardless of
    # chunking (proven in tests/test_round7_ops.py) and the batch
    # operator's oracle applies with the vocab/doc halves split.
    import tempfile

    from awskinesisconsumer_spark.operators.text import top_terms
    from awskinesisconsumer_spark.streaming.pipeline import (
        vocab_coverage_stream,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    reference = docs.where(F.col("doc_id") % 2 == 0)
    arriving = docs.where(F.col("doc_id") % 2 == 1)
    vocab = top_terms(reference, text_col="text", k=10).select("term")
    src = tempfile.mkdtemp(prefix="oov_src_")
    out_path = tempfile.mkdtemp(prefix="oov_out_") + "/oov"
    ckpt = tempfile.mkdtemp(prefix="oov_ckpt_")
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    q = vocab_coverage_stream(
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        vocab, id_col="doc_id", text_col="text",
        out_path=out_path, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-vocab-coverage: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-vocab-coverage: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    return spark.read.parquet(out_path).select(
        "doc_id", "n_tokens", "n_oov", "oov_rate"
    )



def _sentenced_fixture(docs: DataFrame) -> DataFrame:
    # The corpus has no punctuation, so sentence-granularity gates
    # share this fixture: each doc's words joined into chunks of
    # (doc_id % 5 + 3) words terminated by a cycling [. ! ?]; %19
    # docs go NULL (no rows downstream). The twins replay this
    # synthesis in a shared CTE shape — the two MUST agree.
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    csz = (F.col("doc_id") % 5 + 3).cast("int")
    n_chunks = F.greatest(
        F.ceil(F.size(words) / csz).cast("int"), F.lit(1)
    )
    sentenced = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat(
                F.concat_ws(
                    " ", F.slice(words, (i - 1) * csz + 1, csz)
                ),
                F.element_at(
                    F.array(F.lit("."), F.lit("!"), F.lit("?")),
                    (i % 3) + 1,
                ),
            ),
        ),
        " ",
    )
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 19 == 0, F.lit(None).cast("string"))
        .otherwise(sentenced).alias("text"),
    )


def _sentence_split(spark: SparkSession, sf: str) -> DataFrame:
    # Sentence segmentation (operators/text.py split_sentences):
    # RE2-portable mark-then-split, punctuation attached, map-only.
    # Twin replays fixture + segmentation (tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.text import split_sentences

    fixture = _sentenced_fixture(load_table(spark, "documents", sf))
    return split_sentences(fixture, id_col="doc_id", text_col="text")


def _sentence_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    # Sentence-granularity decontamination (operators/corpus_prep.py
    # sentence_decontaminate) — the composed split_sentences ->
    # normalize -> broadcast-join flag, the leak case SURVEY row
    # ext-sentence-split names as its motivation: a benchmark answer
    # leaking as ONE whole sentence. Benchmark = %97 docs of the
    # sentenced fixture; benchmark docs flag themselves, plus any
    # doc sharing a full >=3-word normalized sentence. Twin chains
    # fixture + segmentation + normalize + semi-join in one statement
    # (proven in tests/test_round9_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        sentence_decontaminate,
    )

    fixture = _sentenced_fixture(load_table(spark, "documents", sf))
    bench = fixture.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.col("text").alias("bench_text"),
    )
    out = sentence_decontaminate(
        fixture, bench, id_col="doc_id", text_col="text",
        bench_id_col="bench_id", bench_text_col="bench_text",
        min_words=3,
    )
    return out.select("doc_id", "n_leaked_sentences", "contaminated")


def _pack_nofragment(spark: SparkSession, sf: str) -> DataFrame:
    # Document-preserving next-fit packing (operators/corpus_prep.py
    # pack_nofragment): docs never straddle sequences; zero-token
    # docs (%17 injected) never open one; oversized docs (%23
    # injected at 500 tokens vs capacity 128) get a dedicated
    # sequence. Sequential fold parallelized by shard; twin = the
    # per-shard recursive-CTE replay (tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        pack_nofragment,
    )
    from awskinesisconsumer_spark.operators.text import token_count

    docs = token_count(
        load_table(spark, "documents", sf), text_col="text"
    ).select(
        (F.col("doc_id") % 4).alias("shard"), "doc_id",
        F.when(F.col("doc_id") % 17 == 0, F.lit(0))
        .when(F.col("doc_id") % 23 == 0, F.lit(500))
        .otherwise(F.col("n_tokens")).cast("bigint").alias("n_tokens"),
    )
    return pack_nofragment(
        docs, shard_col="shard", id_col="doc_id",
        token_col="n_tokens", capacity=128,
    )


def _tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    # Tokenizer fertility by language (operators/text.py
    # tokenizer_fertility) under the corpus-trained 10-merge table —
    # completes train -> encode -> coverage -> fertility. Same
    # early-stop guard as ext-bpe-encode: the encode twin assumes
    # all 10 merges applied.
    from awskinesisconsumer_spark.operators.text import (
        bpe_train_merges, tokenizer_fertility,
    )

    docs = load_table(spark, "documents", sf)
    trained = bpe_train_merges(docs, text_col="text", n_merges=10)
    rows = trained.orderBy("rank").collect()
    if len(rows) != 10 or min(r["pair_count"] for r in rows) < 2:
        raise RuntimeError(
            "ext-tokenizer-fertility: trainer early-stopped "
            f"({len(rows)} merges) — the encode oracle assumes all "
            "10 merges applied"
        )
    merges = [(r["left"], r["right"]) for r in rows]
    return tokenizer_fertility(
        docs, id_col="doc_id", text_col="text", group_col="lang",
        merges=merges,
    )


def _dedup_recall(spark: SparkSession, sf: str) -> DataFrame:
    # Dedup-quality audit (operators/dedup.py dedup_recall_audit):
    # per true-Jaccard bucket, the fraction of exact n-gram near-dup
    # pairs the banded MinHash LSH candidate generator surfaces —
    # the dedup analogue of ext-ann-recall. Both sides are the
    # proven operators (portable hash => the full audit is
    # value-level oracle-checkable); the audit itself is a
    # pair-keyed semi-join + a ~10-row rollup.
    from awskinesisconsumer_spark.operators.dedup import (
        dedup_recall_audit, portable_hash52,
    )

    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf)
    # The raw corpus has only trivial (>0.8) near-dups, so every
    # bucket reads 1.0 and the audit is vacuous. Inject a Jaccard
    # SPECTRUM: every doc_id % 5 == 1 becomes [first 30 words of the
    # previous doc] + [3*(doc_id % 7) words of its own] — overlap
    # fraction steps with doc_id % 7, populating buckets from the
    # S-curve's foot to 1.0. Global lag window: artifact-scale only
    # (the gate corpus is 500 rows; production audits sample a slab).
    win = Window.orderBy("doc_id")
    prev = F.lag("text").over(win)
    own_w = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    prev_w = F.split(F.coalesce(prev, F.lit("")), " ")
    k = (F.col("doc_id") % 7) * 3
    appended = F.when(k > 0, F.slice(own_w, F.lit(1), k)).otherwise(
        F.array().cast("array<string>")
    )
    mutated = F.array_join(
        F.concat(F.slice(prev_w, 1, 30), appended), " "
    )
    fixture = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 5 == 1) & prev.isNotNull(), mutated
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup_recall_audit(
        fixture, id_col="doc_id", text_col="text", n=3,
        truth_threshold=0.3, num_hashes=32, bands=8,
        hash_fn=portable_hash52,
    )


def _layout_corpus(spark: SparkSession, sf: str) -> DataFrame:
    # The composed LAYOUT pipeline (operators/corpus_prep.py
    # layout_corpus): token-count -> weighted stride interleave ->
    # per-shard packing in that order — the layout-side sibling of
    # ext-curate-corpus. ONE corpus scan, TWO exchanges (the pack
    # cumsum reuses the merge window's shard partitioning), zero
    # joins (n_tokens rides carry_cols) — plan-asserted in
    # tests/test_round8_ops.py.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        layout_corpus,
    )

    docs = load_table(spark, "documents", sf)
    return layout_corpus(
        docs, id_col="doc_id", source_col="source", text_col="text",
        weights={"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        n_shards=4, capacity=128,
    )


def _interleave_mixture(spark: SparkSession, sf: str) -> DataFrame:
    # Weighted stride scheduling as a corpus layout (operators/
    # corpus_prep.py interleave_mixture): per-(source, shard) hash
    # positions -> stride keys (p - 0.5)/weight -> per-shard merge
    # rank. Both window families parallel; no global sort. Unlisted
    # sources excluded by the mixture contract.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        interleave_mixture,
    )

    docs = load_table(spark, "documents", sf)
    return interleave_mixture(
        docs, id_col="doc_id", source_col="source",
        weights={"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        n_shards=4,
    )


def _shuffle_order(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic global corpus shuffle (operators/corpus_prep.py
    # shuffle_order): pseudorandom-but-reproducible training order —
    # hash-mod shard + within-shard hash rank. One narrow projection
    # + per-shard PARALLEL window sorts (n_shards controls sort
    # granularity; a global ORDER BY hash would be the one-task
    # cliff). Portable 52-bit hash => the layout is replayed
    # bit-identically by the twin.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        shuffle_order,
    )

    docs = load_table(spark, "documents", sf)
    return shuffle_order(docs, id_col="doc_id", n_shards=8)


def _audio_resample(spark: SparkSession, sf: str) -> DataFrame:
    # Integer-factor audio decimation on REAL WAV payloads
    # (operators/multimodal.py decimate_wav): decode -> stride ->
    # RE-ENCODE a genuine WAV at rate/factor — map-only Arrow pass,
    # zero shuffle. Payload stays out of the gate projection (binary
    # is not SQL-replayable); the int16 stats are exact integers the
    # twin replays from the synthesis formula over strided indices
    # (proven + codec-roundtripped in tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.multimodal import (
        decimate_wav, synth_wav_pcm16,
    )

    ids = load_table(spark, "documents", sf).where(
        F.col("doc_id") < 30
    ).select("doc_id")
    wavs = synth_wav_pcm16(ids, id_col="doc_id", n_frames=441,
                           sample_rate=8000)
    return decimate_wav(wavs, factor=3).select(
        "doc_id", "sample_rate", "n_frames", "sum_samples",
        "sum_abs_samples",
    )


def _cdc_chunk_text(spark: SparkSession, sf: str) -> DataFrame:
    # CONTENT-DEFINED chunking (stateless FastCDC form, char-level;
    # operators/corpus_prep.py content_defined_chunks): boundaries
    # travel with the content, so a one-byte edit re-aligns every
    # later chunk — pure column expressions, ZERO shuffle. Twin
    # replays window hashing, boundary election, LAG segment
    # reconstruction, and chunk hashing (tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        content_defined_chunks,
    )
    from awskinesisconsumer_spark.operators.dedup import portable_hash52

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return content_defined_chunks(
        docs, id_col="doc_id", text_col="text", window=8, divisor=64,
        hash_fn=portable_hash52,
    )


def _cdc_chunk_clamped(spark: SparkSession, sf: str) -> DataFrame:
    # CLAMPED FastCDC (operators/corpus_prep.py
    # content_defined_chunks_clamped): min/max chunk bounds resolved
    # left-to-right per doc — the form real chunk-dedup storage runs.
    # Resolution is ONE F.aggregate fold over the candidate array
    # (forced boundaries are an arithmetic F.sequence), zero Python,
    # zero shuffle. Twin replays the fold as a per-doc recursive CTE:
    # next boundary = first candidate in [last+min, last+max], else
    # last+max while more than max chars remain (proven in
    # tests/test_round9_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        content_defined_chunks_clamped,
    )
    from awskinesisconsumer_spark.operators.dedup import portable_hash52

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return content_defined_chunks_clamped(
        docs, id_col="doc_id", text_col="text", window=8, divisor=64,
        min_len=32, max_len=128, hash_fn=portable_hash52,
    )


def _frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    # Deterministic every-k-th frame sampling per stream
    # (operators/multimodal.py sample_frames_ordered) over the
    # composed KVS pipeline — the reproducible, order-based form of
    # the reference's wall-clock frame throttle (parser.py:460-463),
    # run BEFORE decode so skipped payloads are never touched. ONE
    # group-keyed window; per-stream counts are fragment-bounded.
    from awskinesisconsumer_spark.operators.multimodal import (
        sample_frames_ordered,
    )

    frames = _kvs_pipeline(spark, sf)
    return sample_frames_ordered(
        frames, stream_col="chunk_id", order_col="frame_position",
        every=2,
    ).select(
        "chunk_id", "frame_idx", "frame_position",
        "AWS_KINESISVIDEO_FRAGMENT_NUMBER",
    )


def _dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    # The corpus-release audit block as ONE queryable (metric, value)
    # table (operators/corpus_prep.py dataset_card). The gated input
    # injects exact duplicates (%13) and whitespace-only docs (%17)
    # so the dup-rate and emptiness metrics are non-degenerate at
    # gate time; twin replays the aggregates + histogram-quantile
    # interpolation (tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        dataset_card,
    )

    docs = load_table(spark, "documents", sf).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit("duplicated short text"))
        .when(F.col("doc_id") % 17 == 0, F.lit("   "))
        .otherwise(F.col("text")).alias("text"),
    )
    out = dataset_card(docs, id_col="doc_id", text_col="text")
    # r15 card v2 (r14 verdict item 8): the release block carries the
    # evaluation layer the audit report already proves — vocabulary
    # richness (Chao1 over the raw corpus), the per-lang token-mean
    # CI rows, and the en/fr length-drift snapshot. Zero new
    # arithmetic: every added row is a value a green gate replays,
    # and the twin nests those oracles verbatim.
    chao = _chao1_vocab(spark, sf)
    tokci = _bootstrap_ci_grouped(spark, sf)
    extras = [
        # one explode over the single chao1 row emits both metric
        # rows from ONE scan of the term-count aggregate
        chao.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("vocab_size").alias("metric"),
                        F.col("vocab_size").cast("double")
                        .alias("value"),
                    ),
                    F.struct(
                        F.lit("chao1_est").alias("metric"),
                        F.col("chao1_est").alias("value"),
                    ),
                )
            ).alias("kv")
        ).select("kv.metric", "kv.value"),
        _psi_drift(spark, sf).select(
            F.lit("psi_len_drift:en/fr").alias("metric"),
            F.col("psi").alias("value"),
        ),
        *[
            tokci.select(
                F.concat(F.lit(f"token_mean{tag}:"), F.col("group"))
                .alias("metric"),
                F.col(src).alias("value"),
            )
            for tag, src in (
                ("", "estimate"), ("_ci_lo", "ci_lo"),
                ("_ci_hi", "ci_hi"),
            )
        ],
    ]
    for part in extras:
        out = out.unionByName(part)
    return out


# The deterministic markup suffix every gated document is wrapped in
# for ext-html-strip — shared by the entry and its oracle so the two
# sides can never diverge.
_HTML_GATE_SFX = (
    '</p><script type="text/javascript">var x = "<b>1</b>";'
    "</script><style>.a { color: red; }</style><!-- tracked -->"
    "<div>A &amp;lt; B &nbsp;&quot;q&quot; &#39;s&#39; "
    "&lt;tag&gt; C</div>"
)


def _html_strip(spark: SparkSession, sf: str) -> DataFrame:
    # HTML boilerplate removal (operators/text.py strip_html):
    # script/style/comment payloads dropped wholesale, tags stripped,
    # the six dominant entities decoded (&amp; strictly last so
    # double-escaped text stays text), whitespace collapsed — ONE
    # codegen projection, no shuffle, no Python. The corpus is plain
    # text, so the gated input wraps every document in deterministic
    # markup, with plain-text (%7) and NULL (%19) branches so the
    # had_html flag gates in all three states; the twin runs the
    # SAME regexes verbatim (tests/test_round8_ops.py).
    from awskinesisconsumer_spark.operators.text import strip_html

    sfx = _HTML_GATE_SFX
    docs = load_table(spark, "documents", sf).select(
        "doc_id",
        F.when(F.col("doc_id") % 19 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 7 == 0, F.coalesce("text", F.lit("")))
        .otherwise(
            F.concat(
                F.lit('<p class="lead">'),
                F.coalesce("text", F.lit("")),
                F.lit(sfx),
            )
        )
        .alias("text"),
    )
    return strip_html(docs, text_col="text").select(
        "doc_id", "text_clean", "had_html"
    )


def _perplexity_bigram(spark: SparkSession, sf: str) -> DataFrame:
    # Per-doc average bigram log-probability under the corpus' own
    # add-one-smoothed bigram LM (operators/text.py
    # bigram_perplexity) — the CCNet-style fluency score one tier
    # above ext-unigram-logprob: word ORDER is what it measures.
    # Pair formation is a pure array expression (no per-doc window
    # shuffle); count tables are Zipf-bounded; sorted-fold summation
    # keeps the 4-dp score engine-independent. Injected single-word
    # (%23) and NULL (%29) docs gate the no-bigram branch.
    from awskinesisconsumer_spark.operators.text import (
        bigram_perplexity,
    )

    docs = load_table(spark, "documents", sf).select(
        "doc_id",
        F.when(F.col("doc_id") % 23 == 0, F.lit("solo"))
        .when(F.col("doc_id") % 29 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return bigram_perplexity(docs, id_col="doc_id", text_col="text")


def _rank_fusion_q(spark: SparkSession, sf: str) -> DataFrame:
    # Reciprocal-rank fusion (operators/similarity.py rank_fusion)
    # of two retrieval lists over the same probes: exact cosine
    # top-10 + SRP-bucketed ANN top-10 — the standard hybrid-search
    # combiner (1/(60+rank) summed per candidate; high-anywhere
    # beats mid-everywhere; incomparable raw scores never compared).
    # Fusion runs on the retrieval stack's SMALL side: inputs are
    # top-k*P lists, never corpus-sized.
    from awskinesisconsumer_spark.operators.similarity import (
        ann_join_srp, deterministic_planes, knn_join_topk, rank_fusion,
    )

    emb = load_table(spark, "embeddings", sf)
    probes = list(range(8))
    exact = knn_join_topk(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes,
        k=10,
    )
    ann = ann_join_srp(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes,
        planes=deterministic_planes(64, 8), k=10,
    )
    return rank_fusion(
        [(exact, "knn_rank"), (ann, "ann_rank")], rrf_k=60, top_n=10
    )


def _stream_quality_blend(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming quality gate against a FROZEN calibration
    # (streaming/pipeline.py quality_blend_stream): cut points from
    # the even doc_id half once, then the odd half arrives as a
    # genuine 3-batch file stream scored map-only per batch. Per-row
    # determinism => union == batch quality_blend_with_cuts, so the
    # chained twin with the halves split gates it verbatim
    # (tests/test_round8_ops.py).
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        quality_blend_stream,
    )

    signals = {"n_chars": (0.0, 2000.0, 0.6), "n_words": (0.0, 400.0, 0.4)}

    def sig_of(d):
        return d.select(
            "doc_id",
            F.length("text").cast("double").alias("n_chars"),
            F.when(
                F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0,
                F.size(F.split(F.trim(F.col("text")), r"\s+"))
                .cast("double"),
            ).alias("n_words"),
        )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    reference = sig_of(docs.where(F.col("doc_id") % 2 == 0))
    arriving = sig_of(docs.where(F.col("doc_id") % 2 == 1))
    src = tempfile.mkdtemp(prefix="qbs_src_")
    out_path = tempfile.mkdtemp(prefix="qbs_out_") + "/qb"
    ckpt = tempfile.mkdtemp(prefix="qbs_ckpt_")
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    q = quality_blend_stream(
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        reference, signals=signals, out_path=out_path, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-quality-blend: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-quality-blend: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    return spark.read.parquet(out_path).select(
        "doc_id", "norm_n_chars", "norm_n_words", "quality_blend"
    )


def _stream_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    # Stateful streaming every-k-th frame sampler (streaming/
    # pipeline.py frame_sample_stream): the per-stream running frame
    # count is ONE long in the state store across micro-batches —
    # admission-time frame-rate reduction (skipped frames never
    # reach decode). Arrival is arranged frame_position-ascending
    # (3 chunk files, mtimes forcing FileStreamSource order), so the
    # union equals batch sample_frames_ordered exactly and the kvs
    # arithmetic twin applies with the sampled-index filter
    # (tests/test_round8_ops.py).
    import os
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        frame_sample_stream,
    )

    from pyspark.sql import Window

    # ONE materialization of the composed EBML pipeline: the chunk
    # loop below consumes `chunked` three times, and without the
    # (lazy, ContextCleaner-released) checkpoint each write would
    # re-run the whole parse + ntile — measured 3x the entry cost.
    frames = _kvs_pipeline(spark, sf).select(
        "chunk_id", "frame_position"
    )
    src = tempfile.mkdtemp(prefix="fss_src_")
    chunked = frames.withColumn(
        "_chunk",
        F.ntile(3).over(Window.orderBy("frame_position", "chunk_id")),
    ).localCheckpoint(eager=False)
    for i in range(3):
        part = os.path.join(src, f"part{i}")
        (chunked.where(F.col("_chunk") == i + 1).drop("_chunk")
         .coalesce(1).write.mode("overwrite").parquet(part))
        for root, _dirs, files in os.walk(part):
            for fname in files:
                os.utime(os.path.join(root, fname),
                         (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream.schema("chunk_id long, frame_position bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "part*"))
    )
    out = frame_sample_stream(
        stream, stream_col="chunk_id", order_col="frame_position",
        every=2,
    )
    name = "stream_frame_sample_gate"
    with _gate_shuffle_partitions(spark):
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation",
                    tempfile.mkdtemp(prefix="fss_ckpt_"))
            .trigger(availableNow=True).start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stream-frame-sample: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-frame-sample: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    return spark.table(name).select(
        "chunk_id", "frame_position", "frame_idx"
    )


def _stream_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    # Stateful streaming per-shard sequence packing (streaming/
    # pipeline.py pack_sequences_stream): documents get their
    # fixed-capacity training-sequence spans at ARRIVAL; state is the
    # shard's running token offset — ONE long per shard. Ordered
    # 3-chunk arrival => union == per-shard batch pack_sequences ==
    # the per-shard cumsum twin (tests/test_round8_ops.py).
    import os
    import tempfile

    from awskinesisconsumer_spark.operators.text import token_count
    from awskinesisconsumer_spark.streaming.pipeline import (
        pack_sequences_stream,
    )

    from pyspark.sql import Window

    docs = token_count(
        load_table(spark, "documents", sf), text_col="text"
    ).select(
        (F.col("doc_id") % 4).alias("shard"), "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )
    src = tempfile.mkdtemp(prefix="pss_src_")
    chunked = docs.withColumn(
        "_chunk", F.ntile(3).over(Window.orderBy("doc_id"))
    )
    for i in range(3):
        part = os.path.join(src, f"part{i}")
        (chunked.where(F.col("_chunk") == i + 1).drop("_chunk")
         .coalesce(1).write.mode("overwrite").parquet(part))
        for root, _dirs, files in os.walk(part):
            for fname in files:
                os.utime(os.path.join(root, fname),
                         (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream
        .schema("shard long, doc_id long, n_tokens bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "part*"))
    )
    out = pack_sequences_stream(
        stream, shard_col="shard", id_col="doc_id",
        token_col="n_tokens", capacity=128,
    )
    name = "stream_pack_sequences_gate"
    with _gate_shuffle_partitions(spark):
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation",
                    tempfile.mkdtemp(prefix="pss_ckpt_"))
            .trigger(availableNow=True).start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stream-pack-sequences: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-pack-sequences: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    return spark.table(name).select(
        "shard", "doc_id", "n_tokens", "tok_start", "tok_end",
        "seq_first", "seq_last", "n_seqs",
    )


def _cdc_chunk_text_prod(spark: SparkSession, sf: str) -> DataFrame:
    # PRODUCTION-path CDC (r10 verdict item: the bench timed only the
    # md5-twin gate form): the same stateless FastCDC fold with the
    # v2 default hash family, xxhash64 (JVM codegen, measured ~1.8x
    # faster than the md5-derived portable_hash52 at sf0.1).
    # Registered rows-only BY DESIGN — xxhash64 has no DuckDB
    # equivalent, which is exactly why the gate twin uses
    # portable_hash52; hash-family structure equivalence (contiguous
    # tiling, same totals) is pinned in tests/test_round10_ops.py.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        content_defined_chunks,
    )
    from awskinesisconsumer_spark.operators.dedup import xxhash64_col

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return content_defined_chunks(
        docs, id_col="doc_id", text_col="text", window=8, divisor=64,
        hash_fn=xxhash64_col,
    )


def _cdc_chunk_clamped_prod(spark: SparkSession, sf: str) -> DataFrame:
    # Production-path CLAMPED CDC — xxhash64 family, same min/max
    # geometry as the gated md5-twin form; rows-only for the same
    # reason as _cdc_chunk_text_prod.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        content_defined_chunks_clamped,
    )
    from awskinesisconsumer_spark.operators.dedup import xxhash64_col

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return content_defined_chunks_clamped(
        docs, id_col="doc_id", text_col="text", window=8, divisor=64,
        min_len=32, max_len=128, hash_fn=xxhash64_col,
    )


def _dedup_keep_best_capped(spark: SparkSession, sf: str) -> DataFrame:
    # Keep-best cluster resolution with the r11 per-doc PAIR CAP
    # (operators/dedup.py cap_pairs_per_doc, wired through
    # dedup_keep_best(pair_cap=...)): each doc keeps its top-3
    # candidate pairs by (jaccard desc, other-id asc), a pair
    # survives from EITHER endpoint, so the edge set entering
    # connected components is <= 2*3*docs — linear, vs the raw LSH
    # table's R^2/2 per duplicate group (the r9-measured
    # scale-killer). Twin replays the symmetric rank + union cap,
    # then the same reach/cc recursion and argmax as
    # ext-dedup-keep-best.
    from awskinesisconsumer_spark.operators.dedup import (
        dedup_keep_best, ngram_jaccard_pairs,
    )

    docs = load_table(spark, "documents", sf)
    scored = docs.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("score"),
    )
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.3
    )
    out = dedup_keep_best(
        scored, pairs, id_col="doc_id", score_col="score",
        pair_cap=3, pair_order_col="jaccard",
    )
    return out.select("doc_id", "cluster_id", "score", "kept")


def _train_batch(spark: SparkSession, sf: str) -> DataFrame:
    # The COMPOSED raw-corpus -> packed-training-batch gate (r9/r10
    # verdict stretch item): every stage is an individually-gated
    # operator, chained here end-to-end the way a training-data job
    # actually runs them —
    #   1. DSIR importance scoring against a src0 target sample
    #      (text.py importance_score), SELECT docs with importance
    #      > 0 ("more target-like than the corpus average" — a
    #      threshold filter, no global sort);
    #   2. mixture epoch expansion (corpus_prep.py
    #      expand_mixture_epochs) — deterministic hash-gated
    #      fractional up-sampling per source; (doc_id, repeat_idx)
    #      keys the expanded stream, ex_id = doc_id*16 + repeat_idx
    #      (epochs < 16 by contract) makes it one numeric key;
    #   3. deterministic shuffle layout (shuffle_order, 4 shards) —
    #      global_pos = (pos_in_shard - 1) * n_shards + shard
    #      interleaves shards round-robin without a global sort;
    #   4. fill-in-the-middle split at fim_rate=0.5 keyed on ex_id
    #      (repeats draw independent gates — the multi-epoch
    #      recipe), portable hash so the twin replays it;
    #   5. pack_sequences over (global_pos, n_words) at capacity
    #      256 — the grouped two-pass prefix sum, no one-task cliff.
    # Composition seams are id-keyed equi-joins on ex_id/global_pos
    # (AQE broadcasts the small side at fixture SF; hash-co-located
    # at scale). Two persist points collapse recomputation (plan-
    # audited): `expanded` feeds both the layout window and the
    # spine join (without it the whole DSIR subtree runs per
    # consumer), and `tokens` feeds both the pack cumsum and the
    # final re-attach — at 100 TB that second materialization is the
    # standard curation->layout checkpoint (a parquet write between
    # jobs); pack_sequences' own input cache is skipped
    # (cache_input=False) since `tokens` is already materialized.
    # The twin chains the five stage twins as CTEs; the pack cumsum
    # uses DuckDB's single window (oracle-side only).
    from awskinesisconsumer_spark.operators.caching import release_after
    from awskinesisconsumer_spark.operators.corpus_prep import (
        expand_mixture_epochs, fim_split, pack_sequences, shuffle_order,
    )
    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.text import importance_score

    docs = load_table(spark, "documents", sf)
    target = docs.where(F.col("source") == "src0").select(
        F.col("text").alias("t_text")
    )
    scored = importance_score(
        docs, target, id_col="doc_id", text_col="text",
        target_text_col="t_text",
    )
    selected = docs.join(
        scored.where(F.col("importance") > 0).select("doc_id"),
        "doc_id", "left_semi",
    )
    expanded = expand_mixture_epochs(
        selected.select("doc_id", "source"), id_col="doc_id",
        source_col="source",
        epochs={"src0": 2.3, "src1": 1.0, "src2": 1.5, "src3": 0.5},
        hash_fn=portable_hash52,
    ).withColumn(
        "ex_id", F.col("doc_id") * 16 + F.col("repeat_idx")
    ).persist()
    expanded.count()
    n_shards = 4
    layout = shuffle_order(
        expanded.select("ex_id"), id_col="ex_id", n_shards=n_shards,
    ).withColumn(
        "global_pos",
        (F.col("pos_in_shard") - 1) * n_shards + F.col("shard"),
    ).select("ex_id", "global_pos")
    spine = (
        expanded.join(layout, "ex_id")
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    fim = fim_split(
        spine.select("ex_id", "text"), id_col="ex_id", text_col="text",
        fim_rate=0.5, hash_fn=portable_hash52,
    )
    tokens = release_after(
        spine.select("doc_id", "repeat_idx", "ex_id",
                     "global_pos").join(fim, "ex_id"),
        expanded,
    )
    packed = pack_sequences(
        tokens.select("global_pos", F.col("n_words").cast("bigint")
                      .alias("n_words")),
        id_col="global_pos", token_col="n_words", capacity=256,
        cache_input=False,
    ).select("global_pos", "tok_start", "tok_end", "seq_first",
             "seq_last", "n_seqs")
    return tokens.join(packed, "global_pos").select(
        "doc_id", "repeat_idx", "global_pos",
        F.col("n_words").cast("int").alias("n_words"),
        "fim_applied", "prefix", "middle", "suffix",
        "tok_start", "tok_end", "seq_first", "seq_last", "n_seqs",
    )


def _budget_select(spark: SparkSession, sf: str) -> DataFrame:
    # Token-budget selection (operators/corpus_prep.py budget_select):
    # keep highest-priority docs until the running token total hits
    # the budget — the "B tokens affordable, who makes the cut"
    # decision after scoring. Priority = doc length with every 11th
    # doc unscored (NULL -> sorts last). The global priority-ordered
    # cumsum runs as the pack_sequences two-pass prefix sum over
    # FIXED-WIDTH priority bins (parallel per-bin windows + an
    # n_bins-row broadcast offset table — no one-task global sort);
    # the twin uses DuckDB's single window (oracle-side only).
    # Proven in tests/test_round11_ops.py.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        budget_select,
    )

    docs = load_table(spark, "documents", sf)
    fx = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None)).otherwise(
            F.length(F.coalesce(F.col("text"), F.lit("")))
            .cast("double")
        ).alias("prio"),
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("bigint").alias("n_toks"),
    )
    return budget_select(
        fx, id_col="doc_id", token_col="n_toks", priority_col="prio",
        budget=40_000, lo=0.0, hi=2000.0, n_bins=50,
    )


def _curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    # Curriculum layout (operators/corpus_prep.py curriculum_order):
    # easy-first training order WITHOUT a global sort — uniform hash
    # shards, per-shard (score asc, id) window sorts in parallel,
    # round-robin interleave position; the approximation (bounded
    # per-doc displacement vs the exact global order) is documented
    # in the docstring. Difficulty = doc length, every 13th doc
    # unscored (NULL -> after the scored curriculum). Proven in
    # tests/test_round11_ops.py.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        curriculum_order,
    )

    docs = load_table(spark, "documents", sf).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(
            F.length(F.coalesce(F.col("text"), F.lit("")))
            .cast("double")
        ).alias("difficulty"),
    )
    return curriculum_order(
        docs, id_col="doc_id", score_col="difficulty", n_shards=4
    )


def _semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup (operators/similarity.py semantic_dedup, Abbas et al.
    # 2023): k-means-cell-bounded pairwise cosine -> connected
    # components -> one kept representative per duplicate cluster.
    # The DATA-defined-bucket complement of the SRP-bucketed
    # ext-dedup-embedding-lsh; cells double as the IVF layout the
    # corpus is partitioned by at scale. Centroids = the hash-spread
    # 8-sample (ivf_centroids_from_sample), replayed in SQL exactly
    # as the ext-similarity-ivf twin replays it. Proven in
    # tests/test_round11_ops.py.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup,
    )

    emb = load_table(spark, "embeddings", sf)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=centroids, threshold=0.3,
    )


def _stream_mixture_expand(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming form of ext-mixture-expand: expand_mixture_epochs is
    # map-only (when-chain + hash gate + explode(sequence)) and
    # therefore STREAMING-NATIVE as-is — applied directly in the
    # streaming SELECT over a 3-file replay, append mode. Each row's
    # expansion depends only on itself, so the appended union EQUALS
    # the batch op and the batch twin is shared verbatim (3-batch ==
    # batch proven in tests/test_round8_ops.py; the README r10 plan
    # named this entry as the cheap leftover slot).
    import tempfile

    from awskinesisconsumer_spark.operators.corpus_prep import (
        expand_mixture_epochs,
    )
    from awskinesisconsumer_spark.operators.dedup import portable_hash52

    docs = load_table(spark, "documents", sf).select("doc_id", "source")
    src = tempfile.mkdtemp(prefix="mixexp_src_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = expand_mixture_epochs(
        stream, id_col="doc_id", source_col="source",
        epochs={"src0": 2.3, "src1": 0.0, "src2": 1.0, "src3": 0.4},
        hash_fn=portable_hash52,
    )
    return _run_stream_to_table(out, spark, "mixexp_stream")


def _fim_serialize(spark: SparkSession, sf: str) -> DataFrame:
    # FIM serialization (operators/corpus_prep.py fim_serialize):
    # the gated fim_split rendered into the single-string PSM and
    # SPM training layouts (Bavarian et al. / StarCoder sentinels);
    # unapplied docs pass through as plain text — one column feeds
    # the tokenizer for both example kinds. Map-only concat; twin
    # wraps the proven fim twin with the same CASE/concat (proven in
    # tests/test_round11_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import (
        fim_serialize, fim_split,
    )
    from awskinesisconsumer_spark.operators.dedup import portable_hash52

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    split = fim_split(docs, id_col="doc_id", text_col="text",
                      fim_rate=0.5, hash_fn=portable_hash52)
    return fim_serialize(
        fim_serialize(split, mode="psm", out_col="text_psm"),
        mode="spm", out_col="text_spm",
    ).select("doc_id", "n_words", "fim_applied", "text_psm",
             "text_spm")


def _stream_token_quota(spark: SparkSession, sf: str) -> DataFrame:
    # Ingest-time per-shard token-quota admission (streaming/
    # pipeline.py token_quota_stream): every arriving doc learns at
    # admission whether it still fits the shard's token budget —
    # kept iff the running total including it is <= quota; overflow
    # keeps flowing flagged, never silently dropped. State = ONE
    # long per shard (the pack_sequences_stream shape); per-shard
    # id-ordered 3-chunk arrival => union == the per-shard batch
    # cumsum twin (proven in tests/test_round11_ops.py).
    import os
    import tempfile

    from pyspark.sql import Window

    from awskinesisconsumer_spark.operators.text import token_count
    from awskinesisconsumer_spark.streaming.pipeline import (
        token_quota_stream,
    )

    docs = token_count(
        load_table(spark, "documents", sf), text_col="text"
    ).select(
        (F.col("doc_id") % 4).alias("shard"), "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )
    src = tempfile.mkdtemp(prefix="quota_src_")
    chunked = docs.withColumn(
        "_chunk", F.ntile(3).over(Window.orderBy("doc_id"))
    )
    for i in range(3):
        part = os.path.join(src, f"part{i}")
        (chunked.where(F.col("_chunk") == i + 1).drop("_chunk")
         .coalesce(1).write.mode("overwrite").parquet(part))
        for root, _dirs, files in os.walk(part):
            for fname in files:
                os.utime(os.path.join(root, fname),
                         (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream
        .schema("shard long, doc_id long, n_tokens bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "part*"))
    )
    out = token_quota_stream(
        stream, shard_col="shard", id_col="doc_id",
        token_col="n_tokens", quota=6000,
    )
    return _run_stream_to_table(out, spark, "token_quota_gate")


def _contrastive_triplets(spark: SparkSession, sf: str) -> DataFrame:
    # Contrastive training triplets (operators/similarity.py
    # contrastive_triplets): positives = exact near-dup pairs at
    # cosine >= 0.45 (both directions — the rare-positives regime;
    # looser thresholds anchor most of the corpus and the neighbor
    # scoring goes quadratic, measured in the docstring), negatives = each anchor's
    # top-2 most-similar NON-positive neighbors (hard negatives) via
    # knn_join_topk at k = k_neg + max positive degree (exactness by
    # min-k composition). Twin replays positives, per-anchor exact
    # cosine ranks with the exclusion, and the join (proven in
    # tests/test_round11_ops.py).
    from awskinesisconsumer_spark.operators.similarity import (
        contrastive_triplets,
    )

    # positives ride the SRP-bucketed path (planes) — the exact
    # all-pairs form costs 2M HOF cosines at sf0.1 (measured 45-87 s
    # entry wall); the Hamming<=1 bucket join is the 100 TB shape and
    # the twin re-buckets with the same literal planes (the
    # ext-dedup-embedding-lsh fragment).
    from awskinesisconsumer_spark.operators.similarity import (
        deterministic_planes,
    )

    emb = load_table(spark, "embeddings", sf)
    # r17 (VERDICT item 5): neighbor scoring through knn_join_topk's
    # Arrow numpy kernel instead of the per-(row x probe) interpreted
    # HOF folds — bit-equal on these inputs (integer ids; the
    # embeddings tables have no NULL / zero-norm vectors at any SF,
    # verified — the ext-knn-join-vec precedent) and pinned by
    # tests/test_round11_ops.py's vectorized-triplets equality test;
    # the oracle gates the result verbatim.
    return contrastive_triplets(
        emb, id_col="vec_id", vec_col="embedding",
        pos_threshold=0.45, k_neg=2,
        planes=deterministic_planes(64, 8), vectorized=True,
    )


def _ul2_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # UL2 rendered END-TO-END (operators/corpus_prep.py ul2_pairs):
    # the same regime gate as ext-ul2-plan, each regime's plan
    # serialized into (input_text, target_text) sentinel pairs —
    # R/X via denoising_pairs' rendering under per-regime params,
    # S as a single suffix span through the same sentinel convention.
    # LOSSLESS: one pair per input doc. Twin = the regime-
    # parameterized denoise-pairs rendering CTEs + S arithmetic
    # (proven in tests/test_round11_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import ul2_pairs

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return ul2_pairs(docs, id_col="doc_id", text_col="text")


def _ul2_plan(spark: SparkSession, sf: str) -> DataFrame:
    # UL2 mixture-of-denoisers plan (operators/corpus_prep.py
    # ul2_plan, Tay et al.): every doc hash-assigned ONE denoiser
    # regime — R (T5 span corruption, rate .15 mean 3), X (extreme
    # denoising, rate .5 mean 8), or S (prefix-LM suffix span) —
    # then planned under that regime's parameters with per-regime
    # salts. Map-only union of disjoint hash-gated subsets; the twin
    # runs the proven corruption-spans recursive CTE per regime plus
    # the S-cut arithmetic (proven in tests/test_round11_ops.py).
    from awskinesisconsumer_spark.operators.corpus_prep import ul2_plan

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return ul2_plan(docs, id_col="doc_id", text_col="text")


def _centroid_table(spark: SparkSession, centroids) -> DataFrame:
    """The offline-trained centroid TABLE shape the `-table` entries
    feed the IVF operators: (cell int, embedding array<double>), cell
    = the centroid's list position."""
    return spark.createDataFrame(
        list(enumerate(centroids)), "cell int, embedding array<double>"
    )


def _semantic_dedup_table(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup with its centroids given as a (cell, embedding) TABLE
    # (the offline-trained quantizer shape): semantic_dedup collects
    # it once into the matrix its ivf_assign kernel broadcasts, so the
    # cells — and every cluster — equal ext-dedup-semantic's, whose
    # oracle gates this entry verbatim.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup,
    )

    emb = load_table(spark, "embeddings", sf)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=_centroid_table(spark, centroids), threshold=0.3,
    )


def _semantic_dedup_vec(spark: SparkSession, sf: str) -> DataFrame:
    # The PRODUCTION-kernel SemDeDup bench line the r11 verdict asked
    # for (the CDC-prod pattern): vectorized=True scores each cell's
    # pairwise cosines with the Arrow-batched dim-sequential numpy
    # kernel — bit-identical pair set (pinned in
    # tests/test_round11_ops.py), so the ext-dedup-semantic oracle
    # gates this form too (hash-green, not rows-only).
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup,
    )

    emb = load_table(spark, "embeddings", sf)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=centroids, threshold=0.3, vectorized=True,
    )


def _knn_join_vec(spark: SparkSession, sf: str) -> DataFrame:
    # The PRODUCTION-kernel batch k-NN join bench line (r11 verdict):
    # knn_join_topk(vectorized=True) — the Arrow-batched
    # dim-sequential numpy cosine kernel, bit-equal to the HOF form
    # on non-degenerate inputs (the embeddings tables have no NULL /
    # zero-norm vectors at any SF, verified), so the ext-knn-join
    # oracle gates this form verbatim.
    from awskinesisconsumer_spark.operators.similarity import knn_join_topk

    emb = load_table(spark, "embeddings", sf)
    return knn_join_topk(
        emb, id_col="vec_id", vec_col="embedding",
        probe_ids=list(range(16)), k=5, vectorized=True,
    )


def _contrastive_by_cell(spark: SparkSession, sf: str) -> DataFrame:
    # Cell-local contrastive triplet mining (operators/similarity.py
    # contrastive_triplets_by_cell): the r11 verdict's fix for the
    # global miner's driver-collected anchor list — positives, the
    # exclusion anti-join and the hard-negative ranking all run as
    # cell-keyed equi-joins on the SemDeDup k-means cells; nothing is
    # collected, per-anchor windows are bounded by cell size.
    # Positives/negatives are cell-local BY DESIGN (the documented
    # Voronoi-boundary divergence from ext-contrastive-triplets).
    # Twin replays the cell argmin + pair join + exclusion + rank
    # (proven in tests/test_round12_ops.py).
    from awskinesisconsumer_spark.operators.similarity import (
        contrastive_triplets_by_cell, ivf_centroids_from_sample,
    )

    emb = load_table(spark, "embeddings", sf)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return contrastive_triplets_by_cell(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=centroids, pos_threshold=0.3, k_neg=2,
    )


def _stream_dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming SemDeDup against a FROZEN dedup state
    # (streaming/pipeline.py semantic_dedup_stream): cells + kept
    # representatives from one batch semantic_dedup over the
    # reference corpus, then arriving docs are cell-assigned and
    # scored against their cell's frozen reps map-only per
    # micro-batch. Per-row determinism => appended union == batch
    # semantic_dedup_apply over all arrivals (the freeze/apply
    # contract quality-cuts/whitening/importance already use), so
    # the batch assign+rep-join+argmax twin gates it verbatim
    # (proven in tests/test_round12_ops.py).
    import tempfile

    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        semantic_dedup_stream,
    )

    emb = load_table(spark, "embeddings", sf)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    src = tempfile.mkdtemp(prefix="semded_src_")
    out_path = tempfile.mkdtemp(prefix="semded_out_") + "/sd"
    ckpt = tempfile.mkdtemp(prefix="semded_ckpt_")
    emb.repartition(3).write.mode("overwrite").parquet(src)
    q = semantic_dedup_stream(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        emb, id_col="vec_id", vec_col="embedding",
        centroids=centroids, threshold=0.3,
        out_path=out_path, checkpoint=ckpt,
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("stream-dedup-semantic: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-dedup-semantic: expected >= 3 micro-batches, "
            f"got {n_batches}"
        )
    return spark.read.parquet(out_path)


def _semantic_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup with a QUALITY-ranked representative instead of the
    # min-id member: the pair table comes from the new public
    # semantic_near_dup_pairs surface (same cells/threshold as
    # ext-dedup-semantic), resolved by dedup_keep_best — score =
    # 6-dp vector norm (deterministic, oracle-replayable), ties ->
    # ascending id. The composition the semantic_dedup docstring
    # promised; twin chains the semantic pair CTE + CC + the
    # keep-best ROW_NUMBER argmax (proven tests/test_round12_ops.py).
    from awskinesisconsumer_spark.operators.dedup import dedup_keep_best
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_near_dup_pairs,
    )

    emb = load_table(spark, "embeddings", sf)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    pairs = semantic_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=centroids, threshold=0.3,
    )
    scored = emb.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate(
                F.transform(F.col("embedding"),
                            lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0), lambda a, x: a + x,
            )),
            6,
        ).alias("score"),
    )
    out = dedup_keep_best(
        scored, pairs, id_col="vec_id", score_col="score"
    )
    return out.select("vec_id", "cluster_id", "score", "kept")


def _ann_ivf_kmeans_table(spark: SparkSession, sf: str) -> DataFrame:
    # IVF ANN with k-means training seeded from a (cell, embedding)
    # centroid TABLE (the offline-quantizer shape):
    # kmeans_refine_centroids collects it once into its matrix, so the
    # trained centroids EQUAL those from the list seed (pinned in
    # tests/test_similarity.py) and the ext-similarity-ivf-kmeans
    # oracle gates this entry verbatim.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, kmeans_refine_centroids, knn_ivf,
    )

    emb = load_table(spark, "embeddings", sf)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").head()
    corpus = emb.where(F.col("vec_id") != 0)
    seed = ivf_centroids_from_sample(
        corpus, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    centroids = kmeans_refine_centroids(
        corpus, vec_col="embedding", centroids=_centroid_table(spark, seed),
        n_iter=3, tol=0.0, order_col="vec_id",
    )
    return knn_ivf(
        corpus, id_col="vec_id", vec_col="embedding",
        query=[float(x) for x in probe.embedding],
        centroids=centroids, n_probes=2, k=10,
    )


def _ann_ivf_table(spark: SparkSession, sf: str) -> DataFrame:
    # ext-similarity-ivf with its centroids given as a (cell,
    # embedding) TABLE: knn_ivf collects it once into the matrix that
    # both the corpus assignment and the probe-side cell choice use,
    # so the ext-similarity-ivf oracle gates this form verbatim.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, knn_ivf,
    )

    emb = load_table(spark, "embeddings", sf)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").head()
    corpus = emb.where(F.col("vec_id") != 0)
    centroids = ivf_centroids_from_sample(
        corpus, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return knn_ivf(
        corpus, id_col="vec_id", vec_col="embedding",
        query=[float(x) for x in probe.embedding],
        centroids=_centroid_table(spark, centroids), n_probes=2, k=10,
    )


def _ann_ivf_pq_table(spark: SparkSession, sf: str) -> DataFrame:
    # ext-similarity-ivf-pq with its coarse centroids given as a
    # (cell, embedding) TABLE (see _ann_ivf_table); shares the
    # ext-similarity-ivf-pq oracle verbatim.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, knn_ivf_pq, pq_codebooks_refined,
    )

    emb = load_table(spark, "embeddings", sf)
    probe = emb.where(F.col("vec_id") == 0).select("embedding").head()
    corpus = emb.where(F.col("vec_id") != 0)
    centroids = ivf_centroids_from_sample(
        corpus, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    cbs = pq_codebooks_refined(
        corpus, id_col="vec_id", vec_col="embedding", m=8, ksub=16,
        n_iter=2, order_col="vec_id",
    )
    return knn_ivf_pq(
        corpus, id_col="vec_id", vec_col="embedding",
        query=[float(x) for x in probe.embedding],
        centroids=_centroid_table(spark, centroids),
        codebooks=cbs, n_probes=2, k=10,
    ).select(
        "vec_id", "adc_dist",
        F.concat_ws(",", F.col("pq_code").cast("array<string>"))
        .alias("pq_code"),
        "rank",
    )


def _simhash_cap_audit(spark: SparkSession, sf: str) -> DataFrame:
    # Standalone hot-cap recall audit (operators/dedup.py
    # simhash_capped_buckets, r11 ADVICE): one row of
    # (n_capped_buckets, n_capped_rows) that stays visible even when
    # the cap suppresses EVERY pair — the blind spot of the
    # pair-riding with_capped_audit column. portable_hash52 + the
    # same banding arithmetic as ext-dedup-simhash-pairs, so the
    # twin reuses those fingerprint/banding fragments with a tighter
    # cap (25) that actually trips on the fixture.
    from awskinesisconsumer_spark.operators.dedup import (
        simhash_capped_buckets,
    )

    docs = load_table(spark, "documents", sf)
    return simhash_capped_buckets(
        docs, id_col="doc_id", text_col="text", bits=16, bands=4,
        hash_fn=portable_hash52, hot_cap=25,
    )


def _char8_shingles(docs: DataFrame) -> DataFrame:
    # THE shared 8-char shingle source (r13 README plan executed in
    # r14): (lang, sh) rows via a narrow position-explode +
    # substring — the one Spark-side fragment every KMV / MinHash
    # source-overlap gate builds on, extracted so the stream/batch/
    # SQL shingle parity hinges on a single definition instead of
    # six drift-prone copies. Works on batch AND streaming frames
    # (select/explode are stateless projections). Callers pre-filter
    # length(text) >= 8 — shorter rows would yield an empty sequence
    # either way, but the filter keeps the twin's WHERE clause
    # load-bearing.
    #
    # r16 optimization round: fan_out_small parallelizes the
    # downstream per-shingle hashing for tiny single-row-group
    # inputs (no-op on streams and at scale), and explode_OUTER
    # stops InferFiltersFromGenerate restating the per-row
    # `sequence(1, L-7)` allocation in a Filter below the Generate;
    # the isNotNull guard reproduces non-outer row semantics exactly
    # for any caller that skipped the length pre-filter. Downstream
    # consumers are min/bottom-k sketches — partition-layout
    # independent by construction.
    from awskinesisconsumer_spark.operators.skew import fan_out_small

    pos = fan_out_small(docs).select(
        "lang", "text",
        F.explode_outer(
            F.sequence(F.lit(1), F.length("text") - 7)).alias("i"),
    ).where(F.col("i").isNotNull())
    return pos.select("lang", F.expr("substring(text, i, 8)").alias("sh"))


def _distinct_intersect(spark: SparkSession, sf: str) -> DataFrame:
    # "How many distinct 8-char shingles do the en and fr slices
    # share?" via ONE bottom-k (KMV / theta-style) sketch pass
    # (operators/sketches.py kmv_sketch + kmv_set_ops) — the
    # distinct-INTERSECTION question HLL registers structurally
    # cannot answer (hll_distinct only unions). The sketch, and
    # therefore every estimate, is a deterministic function of the
    # key sets, so the oracle replays the sketch itself (the
    # approximate-structure gate pattern of ext-hll-merge); the
    # tolerance-vs-exact-truth audit lives in tests/test_round12_ops.
    # Scale shape: narrow shingle explode (no shuffle), map-side
    # combined distinct, salted two-level bottom-k; the set algebra
    # then runs on <= 2k rows.
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_set_ops, kmv_sketch,
    )

    docs = load_table(spark, "documents", sf).filter(
        F.col("lang").isin(["en", "fr"]) & (F.length("text") >= 8)
    )
    sh = _char8_shingles(docs)
    sk = kmv_sketch(sh, key_col="sh", group_col="lang", k=256)
    return kmv_set_ops(sk, group_a="en", group_b="fr", k=256)


def _kmv_merge(spark: SparkSession, sf: str) -> DataFrame:
    # Per-day KMV sketches of distinct users per event type, merged
    # into the global sketch — the per-shard build a 100 TB ingest
    # actually runs. Merging is an EXACT identity (bottom-k of a
    # union == bottom-k of the per-shard bottom-k's), so the oracle
    # replays the GLOBAL build directly: the mergeability claim IS
    # what the gate checks (the ext-hll-merge pattern). k=64 < the
    # 150 distinct users, so the estimator path is exercised, not
    # the exact-count passthrough.
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_distinct_estimate, kmv_merge, kmv_sketch,
    )

    ev = load_table(spark, "events", sf).select(
        F.concat_ws(
            "\x1f", "event_type", F.to_date("ts").cast("string")
        ).alias("_gs"),
        "user_id",
    )
    shard_sk = kmv_sketch(ev, key_col="user_id", group_col="_gs", k=64)
    per_shard = shard_sk.select(
        F.substring_index("group", "\x1f", 1).alias("group"),
        "kmv_hash",
    )
    merged = kmv_merge(per_shard, k=64)
    return kmv_distinct_estimate(merged, k=64).select(
        F.col("group").alias("event_type"), "n_sketch", "kmv_estimate"
    )


def _retrieval_metrics(spark: SparkSession, sf: str) -> DataFrame:
    # Rank-aware retrieval evaluation of the SRP-ANN join against the
    # exact k-NN join — NDCG@10 / MRR / recall@10 per probe
    # (operators/similarity.py retrieval_metrics), extending the
    # membership-only ext-ann-recall audit with rank sensitivity.
    # The DCG gains and IDCG prefix sums are Python float literals
    # shared with the twin (ndcg_weights) and per-query DCG is an
    # ORDERED fold, so the 6-dp metrics replay bit-for-bit.
    from awskinesisconsumer_spark.operators.similarity import (
        ann_join_srp, knn_join_topk, retrieval_metrics,
    )

    emb = load_table(spark, "embeddings", sf)
    probes = list(range(8))
    exact = knn_join_topk(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes, k=10
    )
    ann = ann_join_srp(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes,
        planes=deterministic_planes(64, 8), k=10,
    )
    return retrieval_metrics(exact, ann, k=10)


def _source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # ALL-PAIRS language-overlap matrix from ONE sketch pass
    # (operators/sketches.py kmv_overlap_matrix): the 10 unordered
    # lang-pair union/Jaccard/intersection estimates over 8-char
    # shingles, k=128 — the per-source duplication audit a dataset
    # card wants, with everything downstream of the sketch bounded by
    # G^2 * k rows. Same estimator arithmetic as ext-distinct-
    # intersect, so the twin replays bit-for-bit per pair.
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_overlap_matrix, kmv_sketch,
    )

    docs = load_table(spark, "documents", sf).filter(F.length("text") >= 8)
    sh = _char8_shingles(docs)
    sk = kmv_sketch(sh, key_col="sh", group_col="lang", k=128)
    return kmv_overlap_matrix(sk, k=128)


def _stream_distinct_intersect(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming form of ext-distinct-intersect (streaming/pipeline.py
    # kmv_sketch_stream): the en/fr documents arrive as a genuinely
    # multi-batch file stream (3 files, maxFilesPerTrigger=1); each
    # micro-batch's local bottom-k sketch is merged into the
    # persisted sketch via the EXACT bottom-k-of-union identity, so
    # the final sketch — and therefore the set-ops row — is
    # bit-identical to the batch build regardless of chunking. The
    # batch twin gates it verbatim. State: <= k rows per group,
    # cardinality-independent.
    import tempfile

    from awskinesisconsumer_spark.operators.sketches import kmv_set_ops
    from awskinesisconsumer_spark.streaming.pipeline import (
        kmv_sketch_stream,
    )

    docs = (
        load_table(spark, "documents", sf)
        .filter(F.col("lang").isin(["en", "fr"]) & (F.length("text") >= 8))
        .select("lang", "text")
    )
    src = tempfile.mkdtemp(prefix="kmv_src_")
    out = tempfile.mkdtemp(prefix="kmv_out_")
    ckpt = tempfile.mkdtemp(prefix="kmv_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    # r17: shingles derive INSIDE foreachBatch (prepare=) where the
    # micro-batch is a sized batch df, so _char8_shingles'
    # size-gated fan-out works and the per-shingle hashing
    # parallelizes — on the streaming plan it passed through and
    # each trigger hashed on one core. Same rows, same sketch
    # (bit-identical state), same oracle.
    q = kmv_sketch_stream(
        stream, key_col="sh", group_col="lang", k=256,
        out_path=out, checkpoint=ckpt, prepare=_char8_shingles,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-distinct-intersect: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-distinct-intersect: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    sk = spark.read.parquet(out).select("group", "kmv_hash")
    return kmv_set_ops(sk, group_a="en", group_b="fr", k=256)


def _rank_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # Truncated rank-biased overlap (RBO@10, p=0.9) between the exact
    # k-NN ranking and the SRP-ANN ranking per probe
    # (operators/similarity.py rank_biased_overlap) — the SYMMETRIC
    # agreement companion to ext-retrieval-metrics: no ground-truth
    # labeling, top-weighted, the measure for comparing two index
    # configurations. TAIL mass literals shared with the twin; the
    # per-query fold is ordered, so the 6-dp value replays
    # bit-for-bit. Identical rankings score 1 - p^k = 0.651322
    # (truncated/min-RBO at depth 10; the residual mass lives past
    # the evaluated depth by construction).
    from awskinesisconsumer_spark.operators.similarity import (
        ann_join_srp, knn_join_topk, rank_biased_overlap,
    )

    emb = load_table(spark, "embeddings", sf)
    probes = list(range(8))
    exact = knn_join_topk(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes, k=10
    )
    ann = ann_join_srp(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes,
        planes=deterministic_planes(64, 8), k=10,
    )
    return rank_biased_overlap(exact, ann, k=10, p=0.9)


def _audit_report(spark: SparkSession, sf: str) -> DataFrame:
    # Composed corpus AUDIT REPORT — the ext-train-batch pattern
    # applied to the r12 audit family: one long-format
    # (metric, value) table chaining FOUR proven gates by reuse —
    # exact-dup counts, per-lang KMV distinct-shingle estimates, the
    # all-pairs source-overlap Jaccards, and per-probe ANN
    # recall/RBO health. Design rule that keeps the chain hash-exact
    # with NO new arithmetic: every row is either an integer count
    # or a per-entity value some green gate already replays — the
    # report never aggregates floats across rows (cross-row float
    # sums are where engine summation order would bite). The twin
    # nests the proven oracle strings as subqueries verbatim.
    from awskinesisconsumer_spark.operators.dedup import dedup_exact

    docs = load_table(spark, "documents", sf)
    n_docs = docs.agg(
        F.lit("n_docs").alias("metric"),
        F.count(F.lit(1)).cast("double").alias("value"),
    )
    dups = dedup_exact(docs, text_col="text", id_col="doc_id").agg(
        F.lit("n_exact_dup_docs").alias("metric"),
        F.sum(F.col("n_dups") - 1).cast("double").alias("value"),
    )
    # r17 optimization round (VERDICT item 1 — the report's scan
    # budget): the gate entries `_kmv_lang_distinct` and
    # `_source_overlap` build the IDENTICAL (length>=8, 8-char
    # shingle, by-lang, k=128) KMV sketch, and `_retrieval_metrics` /
    # `_rank_overlap` compute the IDENTICAL exact-kNN + SRP-ANN
    # rankings — composed verbatim, the report paid each expensive
    # subtree twice. Build each ONCE and localCheckpoint the tiny
    # result (<= G x 128 sketch rows; <= 2 x probes x k ranking
    # rows), then run the SAME downstream operator code the gates
    # run — identical input rows through identical arithmetic, so
    # every value replays bit-for-bit (the lang-id checkpoint-seam
    # pattern below, applied to the two other duplicated legs;
    # budget pinned by tests/test_round16_ops.py::
    # test_audit_report_scan_budget).
    from awskinesisconsumer_spark.operators.similarity import (
        ann_join_srp, knn_join_topk, rank_biased_overlap,
        retrieval_metrics,
    )
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_distinct_estimate, kmv_overlap_matrix, kmv_sketch,
    )

    sk = kmv_sketch(
        _char8_shingles(docs.filter(F.length("text") >= 8)),
        key_col="sh", group_col="lang", k=128,
    ).localCheckpoint()
    kmv = kmv_distinct_estimate(sk, k=128).select(
        F.concat(F.lit("kmv_distinct_shingles:"), F.col("group"))
        .alias("metric"),
        F.col("kmv_estimate").alias("value"),
    )
    overlap = kmv_overlap_matrix(sk, k=128).select(
        F.concat(
            F.lit("overlap_jaccard:"), F.col("group_a"),
            F.lit("/"), F.col("group_b"),
        ).alias("metric"),
        F.col("jaccard").alias("value"),
    )
    emb = load_table(spark, "embeddings", sf)
    probes = list(range(8))
    exact = knn_join_topk(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes,
        k=10,
    ).localCheckpoint()
    ann = ann_join_srp(
        emb, id_col="vec_id", vec_col="embedding", probe_ids=probes,
        planes=deterministic_planes(64, 8), k=10,
    ).localCheckpoint()
    recall = retrieval_metrics(exact, ann, k=10).select(
        F.concat(F.lit("ann_recall@10:probe_"), F.col("probe_id"))
        .alias("metric"),
        F.col("recall_at_k").alias("value"),
    )
    rbo = rank_biased_overlap(exact, ann, k=10, p=0.9).select(
        F.concat(F.lit("rbo@10:probe_"), F.col("probe_id"))
        .alias("metric"),
        F.col("rbo").alias("value"),
    )
    # r13: the report now carries its own dedup-quality health — the
    # SemDeDup recall curve rows (per n_assign x true-cosine bucket)
    # from the proven ext-dedup-semantic-recall gate, zero new
    # arithmetic (the composition rule all other rows follow).
    semrec = _semantic_dedup_recall(spark, sf).select(
        F.concat(
            F.lit("semdedup_recall:n"),
            F.col("n_assign").cast("string"),
            F.lit(":"), F.col("bucket_lo").cast("string"),
        ).alias("metric"),
        F.col("recall").alias("value"),
    )
    # r14: per-lang mean token count with its stratified-bootstrap
    # error bar (the proven ext-bootstrap-ci-grouped gate) — the
    # report's per-group rows finally carry CI bounds, zero new
    # arithmetic (the composition rule all other rows follow).
    tokci = _bootstrap_ci_grouped(spark, sf)
    tok_parts = [
        tokci.select(
            F.concat(F.lit(f"token_mean{tag}:"), F.col("group"))
            .alias("metric"),
            F.col(src).alias("value"),
        )
        for tag, src in (
            ("", "estimate"), ("_ci_lo", "ci_lo"), ("_ci_hi", "ci_hi"),
        )
    ]
    # r15: per-lang judge calibration — ECE and Brier by language
    # from the proven grouped-calibration gates (r14 verdict item
    # 6's fold), zero new arithmetic: each value is a per-group
    # number the grouped gate already replays. The lang-id scoring
    # pass is computed ONCE and persisted for both statistics (the
    # gates' own operator code runs on it verbatim, so the values
    # are the gates' values — only the shared scan is deduplicated).
    from awskinesisconsumer_spark.operators.evaluation import (
        brier_score_grouped, calibration_drift, ece_binned_counts,
        expected_calibration_error_grouped,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    # localCheckpoint, not persist: nothing to unpersist after the
    # report is collected, and the scored table is G-lang x corpus
    # rows of four narrow columns (tiny at gate SF; at scale a user
    # composes the operators directly). COST BUDGET (r15 verdict
    # item 6): this is the report's ONE lang-id scoring pass — the
    # ECE, Brier, AND calibration-drift rows all read this
    # checkpoint; tests/test_round16_ops.py::
    # test_audit_report_scan_budget pins the report's documents-scan
    # count so a future fold-in that re-scans the corpus fails
    # loudly instead of growing the flagship entry quietly.
    pred = language_id(
        docs, text_col="text", with_confidence=True
    ).select("doc_id", "lang", "lang_pred", "lang_conf"
             ).localCheckpoint()
    cal_kw = dict(label_col="lang", pred_col="lang_pred",
                  conf_col="lang_conf", group_col="lang")
    eceg = expected_calibration_error_grouped(
        pred, n_bins=10, **cal_kw
    ).select(
        F.concat(F.lit("ece:"), F.col("group")).alias("metric"),
        F.col("ece").alias("value"),
    )
    brig = brier_score_grouped(pred, **cal_kw).select(
        F.concat(F.lit("brier:"), F.col("group")).alias("metric"),
        F.col("brier").alias("value"),
    )
    # r16: per-lang calibration DRIFT between the frozen snapshots
    # (the proven ext-eval-calibration-drift gate's values verbatim
    # — even doc_ids = reference, odd with the inflated confidence =
    # current), zero new arithmetic and ZERO new scans: both
    # snapshot states read the same checkpointed scoring pass.
    predl = pred.where(F.col("lang").isNotNull())
    drift = calibration_drift(
        ece_binned_counts(
            predl.where(F.col("doc_id") % 2 == 0), **cal_kw),
        ece_binned_counts(
            predl.where(F.col("doc_id") % 2 == 1).withColumn(
                "lang_conf",
                F.least(F.col("lang_conf") * 1.15, F.lit(1.0)),
            ), **cal_kw),
    ).select(
        F.concat(F.lit("ece_drift:"), F.col("group")).alias("metric"),
        F.col("ece_delta").alias("value"),
    )
    out = n_docs
    for part in (dups, kmv, overlap, recall, rbo, semrec, *tok_parts,
                 eceg, brig, drift):
        out = out.unionByName(part)
    return out


def _kmv_lang_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # Shared piece of the audit report: per-lang KMV distinct-shingle
    # estimates over the SAME sketch parameters as ext-source-overlap
    # (k=128, 8-char shingles, all langs).
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_distinct_estimate, kmv_sketch,
    )

    docs = load_table(spark, "documents", sf).filter(F.length("text") >= 8)
    sh = _char8_shingles(docs)
    sk = kmv_sketch(sh, key_col="sh", group_col="lang", k=128)
    return kmv_distinct_estimate(sk, k=128)


def _stream_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming form of ext-source-overlap (r12 verdict item 7):
    # kmv_sketch_stream maintains the complete-mode per-lang bottom-k
    # sketch over a genuinely multi-batch 3-file replay (the
    # stream-distinct-intersect harness), and the FINAL persisted
    # sketch feeds kmv_overlap_matrix verbatim — the all-pairs
    # union/Jaccard/intersection audit computed from state a live
    # ingest is already maintaining. The bottom-k-of-union identity
    # makes the final sketch bit-identical to the batch build
    # regardless of chunking, so the batch twin gates it verbatim.
    # State: <= k rows per lang, cardinality-independent.
    import tempfile

    from awskinesisconsumer_spark.operators.sketches import (
        kmv_overlap_matrix,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        kmv_sketch_stream,
    )

    docs = (
        load_table(spark, "documents", sf)
        .filter(F.length("text") >= 8)
        .select("lang", "text")
    )
    src = tempfile.mkdtemp(prefix="kmvov_src_")
    out = tempfile.mkdtemp(prefix="kmvov_out_")
    ckpt = tempfile.mkdtemp(prefix="kmvov_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    # r17: shingles derive INSIDE foreachBatch (prepare=) — see
    # stream-distinct-intersect; bit-identical sketch, same oracle.
    q = kmv_sketch_stream(
        stream, key_col="sh", group_col="lang", k=128,
        out_path=out, checkpoint=ckpt, prepare=_char8_shingles,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-source-overlap: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-source-overlap: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    sk = spark.read.parquet(out).select("group", "kmv_hash")
    return kmv_overlap_matrix(sk, k=128)


def _rater_kappa(spark: SparkSession, sf: str) -> DataFrame:
    # Cohen's kappa (operators/evaluation.py cohen_kappa) between two
    # deterministic heuristic "raters" over documents — the
    # LLM-judge-panel calibration statistic. Rater A buckets by char
    # length, rater B by whitespace count (correlated but not
    # identical, so kappa is informative). All cross-row sums are
    # integers (agree, n, per-label marginal products), so the twin
    # replays bit-for-bit.
    from awskinesisconsumer_spark.operators.evaluation import cohen_kappa

    docs = load_table(spark, "documents", sf)
    n_sp = F.length("text") - F.length(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), " ", "")
    )
    rated = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.when(F.length("text") < 250, 0)
        .when(F.length("text") < 450, 1).otherwise(2).alias("ra"),
        F.when(n_sp < 40, 0).when(n_sp < 75, 1).otherwise(2).alias("rb"),
    )
    return cohen_kappa(rated, rater_a_col="ra", rater_b_col="rb")


def _fleiss_kappa(spark: SparkSession, sf: str) -> DataFrame:
    # Fleiss' kappa (operators/evaluation.py fleiss_kappa) over a
    # 3-rater panel: the two ext-rater-kappa heuristics plus a
    # vowel-density rater, melted to the long (item, label) shape the
    # statistic is defined on. Integer-sum arithmetic (S = sum n_ij^2,
    # C2 = sum c_j^2) means no float ever crosses a row boundary —
    # the twin replays the formula exactly.
    from awskinesisconsumer_spark.operators.evaluation import fleiss_kappa

    docs = load_table(spark, "documents", sf)
    n_sp = F.length("text") - F.length(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), " ", "")
    )
    n_vow = F.length("text") - F.length(
        F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                         "[aeiou]", "")
    )
    rated = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.when(F.length("text") < 250, 0)
        .when(F.length("text") < 450, 1).otherwise(2).alias("ra"),
        F.when(n_sp < 40, 0).when(n_sp < 75, 1).otherwise(2).alias("rb"),
        F.when(n_vow < 80, 0).when(n_vow < 140, 1).otherwise(2)
        .alias("rc"),
    )
    long = rated.selectExpr(
        "doc_id", "stack(3, ra, rb, rc) AS label"
    )
    return fleiss_kappa(long, item_col="doc_id", label_col="label")


def _bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    # Poisson-bootstrap CI for the corpus mean token count
    # (operators/evaluation.py bootstrap_ci): per-(doc, replicate)
    # Poisson(1) weights from the portable hash — deterministic, no
    # RNG state — so the 200-replicate empirical CI replays exactly
    # in SQL (shared POISSON1_CDF ladder literals). Integer metric +
    # integer weights keep every cross-row sum exact.
    from awskinesisconsumer_spark.operators.evaluation import bootstrap_ci
    from awskinesisconsumer_spark.operators.text import token_count

    docs = token_count(
        load_table(spark, "documents", sf), text_col="text"
    )
    return bootstrap_ci(
        docs, id_col="doc_id", value_col="n_tokens", n_boot=200,
    )


def _bootstrap_ci_grouped(spark: SparkSession, sf: str) -> DataFrame:
    # Stratified Poisson-bootstrap CI (operators/evaluation.py
    # bootstrap_ci_grouped — r13 verdict item 7): one CI row per
    # LANGUAGE for the mean token count — the per-group error bar
    # the dataset card / audit report per-group rows need. Same
    # deterministic (id, salt, b) weight ladder as ext-bootstrap-ci
    # (the weight never sees the group, so each stratum's resample
    # replays the ungrouped draws exactly); the rank-and-bound stage
    # is G x B rows partitioned by group.
    from awskinesisconsumer_spark.operators.evaluation import (
        bootstrap_ci_grouped,
    )
    from awskinesisconsumer_spark.operators.text import token_count

    docs = token_count(
        load_table(spark, "documents", sf), text_col="text"
    )
    return bootstrap_ci_grouped(
        docs, id_col="doc_id", value_col="n_tokens", group_col="lang",
        n_boot=200,
    )


def _ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Two-sample Kolmogorov-Smirnov drift statistic (operators/
    # evaluation.py ks_statistic) between the en and fr char-length
    # distributions — the binning-free companion to the PSI drift
    # gates: D = max ECDF gap over observed values, each gap a ratio
    # of exact integer cumulative counts.
    from awskinesisconsumer_spark.operators.evaluation import ks_statistic

    docs = load_table(spark, "documents", sf).select(
        "lang", F.length("text").alias("n_chars")
    )
    return ks_statistic(
        docs, value_col="n_chars", group_col="lang",
        group_a="en", group_b="fr",
    )


def _ks_matrix(spark: SparkSession, sf: str) -> DataFrame:
    # All-pairs KS drift matrix (operators/evaluation.py ks_matrix —
    # r14): every unordered lang pair's two-sample D over the
    # char-length distributions from ONE ECDF pass — ks_statistic
    # generalized the way kmv_overlap_matrix generalizes kmv_set_ops;
    # per pair the arithmetic replays the pairwise op exactly
    # (pinned), so the ext-ks-drift row appears verbatim in this
    # matrix. Grid bounded by distinct lengths x G, pair join G^2.
    from awskinesisconsumer_spark.operators.evaluation import ks_matrix

    docs = load_table(spark, "documents", sf).select(
        "lang", F.length("text").alias("n_chars")
    )
    return ks_matrix(docs, value_col="n_chars", group_col="lang")


def _psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Population Stability Index (operators/evaluation.py psi_drift —
    # r14) between the en and fr char-length distributions: 10
    # equi-width bins over the UNION min/max, smoothed masses, the
    # conventional 0.1 / 0.25 reading — the binned magnitude-
    # interpretable companion to ext-ks-drift's shape test. The
    # final sum is an ORDERED bin fold, so the twin replays it
    # bit-for-bit (the RBO/embedding-pool rule).
    from awskinesisconsumer_spark.operators.evaluation import psi_drift

    docs = load_table(spark, "documents", sf).select(
        "lang", F.length("text").alias("n_chars")
    )
    return psi_drift(
        docs, value_col="n_chars", group_col="lang",
        group_a="en", group_b="fr", n_bins=10,
    )


def _chao1_vocab(spark: SparkSession, sf: str) -> DataFrame:
    # Chao1 vocabulary-richness estimate (operators/evaluation.py
    # chao1_vocab — r14): the bias-corrected unseen-species lower
    # bound D + f1*(f1-1)/(2*(f2+1)) from the term frequency-of-
    # frequencies — "how many distinct terms would a bigger crawl
    # show". Same tokenization as ext-vocabulary so the twin reuses
    # the proven words_lower fragment; integer counts end-to-end,
    # one float division in the final row.
    from awskinesisconsumer_spark.operators.evaluation import chao1_vocab

    docs = load_table(spark, "documents", sf)
    return chao1_vocab(docs, text_col="text")


def _eval_confusion(spark: SparkSession, sf: str) -> DataFrame:
    # Classifier calibration report (operators/evaluation.py
    # classification_report — r14): per-class precision/recall/F1 +
    # the __all__ accuracy row for the stopword-marker language-id
    # predictor (ext-lang-id) against the documents table's actual
    # lang labels — the report an LLM-judge / lang-id loop reads.
    # Every metric is per-row arithmetic over integer counts (F1 via
    # 2*TP/(n_pred+n_true) — no compounded float ratios); the twin
    # composes the proven lang-id prediction CTE with integer-count
    # SQL.
    from awskinesisconsumer_spark.operators.evaluation import (
        classification_report,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text")
    return classification_report(
        pred, label_col="lang", pred_col="lang_pred"
    )


def _stream_eval_confusion(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming classifier-calibration maintenance (streaming/
    # pipeline.py confusion_counts_stream — r14): each micro-batch
    # of a genuinely multi-batch 3-file docs replay scores lang-id
    # with the SHARED batch predictor and SUM-merges its (label,
    # pred, n) confusion counts into the persisted state through the
    # swap-rename + _bid protocol; counter sums are exactly
    # associative, so the final state == one batch build and
    # classification_report_from_counts over it == batch
    # classification_report verbatim — the batch twin gates the
    # stream (the cms/histogram streaming-state identity). State is
    # label-cardinality-bounded, corpus-size-independent.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        classification_report_from_counts,
    )
    from awskinesisconsumer_spark.operators.text import language_id
    from awskinesisconsumer_spark.streaming.pipeline import (
        confusion_counts_stream,
    )

    docs = load_table(spark, "documents", sf).select("lang", "text")
    src = tempfile.mkdtemp(prefix="conf_src_")
    out = tempfile.mkdtemp(prefix="conf_out_")
    ckpt = tempfile.mkdtemp(prefix="conf_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    scored = language_id(stream, text_col="text")
    q = confusion_counts_stream(
        scored, label_col="lang", pred_col="lang_pred",
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-eval-confusion: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-eval-confusion: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    counts = spark.read.parquet(out).select("label", "pred", "n")
    return classification_report_from_counts(counts)


def _krippendorff_alpha(spark: SparkSession, sf: str) -> DataFrame:
    # Krippendorff's alpha, nominal/complete (operators/evaluation.py
    # krippendorff_alpha — r14): the third agreement statistic over
    # the SAME 3-rater panel as ext-fleiss-kappa — alpha derives
    # from exactly the two integer sums Fleiss uses (S = sum n_ij^2,
    # C2 = sum c_j^2), so the twin reuses those CTEs with the
    # coincidence-form Do/De arithmetic.
    from awskinesisconsumer_spark.operators.evaluation import (
        krippendorff_alpha,
    )

    docs = load_table(spark, "documents", sf)
    n_sp = F.length("text") - F.length(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), " ", "")
    )
    n_vow = F.length("text") - F.length(
        F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                         "[aeiou]", "")
    )
    rated = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.when(F.length("text") < 250, 0)
        .when(F.length("text") < 450, 1).otherwise(2).alias("ra"),
        F.when(n_sp < 40, 0).when(n_sp < 75, 1).otherwise(2).alias("rb"),
        F.when(n_vow < 80, 0).when(n_vow < 140, 1).otherwise(2)
        .alias("rc"),
    )
    long = rated.selectExpr(
        "doc_id", "stack(3, ra, rb, rc) AS label"
    )
    return krippendorff_alpha(long, item_col="doc_id", label_col="label")


def _quality_percentile(spark: SparkSession, sf: str) -> DataFrame:
    # Source-fair quality calibration (operators/corpus_prep.py
    # score_percentile_by_group — r14): per-doc ECDF percentile of
    # the quality score WITHIN its language — "keep the top 30% of
    # every source" thresholds that don't privilege high-scoring
    # sources. Deliberately not a per-group percent_rank over raw
    # rows (single-reducer trap): per-(lang, score) counts + a
    # cumulative window over DISTINCT scores, joined back.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        score_percentile_by_group,
    )
    from awskinesisconsumer_spark.operators.text import quality_score

    docs = load_table(spark, "documents", sf)
    scored = quality_score(docs, text_col="text")
    return score_percentile_by_group(
        scored.select("doc_id", "lang", "quality"),
        score_col="quality", group_col="lang",
    )


def _stream_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming PSI drift monitor (streaming/pipeline.py
    # psi_drift_stream — r14): each micro-batch of a genuinely
    # multi-batch 3-file docs replay SUM-merges its (bin, ca, cb)
    # counts under FROZEN edges [0, 600) x 12 bins (a monitor's
    # edges exist before the data; out-of-range lengths clamp into
    # the end bins) through the swap-rename/_bid protocol;
    # psi_from_binned over the final state == batch
    # psi_drift(lo=0, hi=600) verbatim (counter-sum associativity),
    # so the fixed-edge batch twin gates the stream. State <= 12
    # rows, corpus-size-independent.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        psi_from_binned,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        psi_drift_stream,
    )

    docs = load_table(spark, "documents", sf).select(
        "lang", F.length("text").alias("n_chars")
    ).where(F.col("n_chars").isNotNull())
    src = tempfile.mkdtemp(prefix="psi_src_")
    out = tempfile.mkdtemp(prefix="psi_out_")
    ckpt = tempfile.mkdtemp(prefix="psi_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = psi_drift_stream(
        stream, value_col="n_chars", group_col="lang",
        group_a="en", group_b="fr", lo=0.0, hi=600.0, n_bins=12,
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-psi-drift: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-psi-drift: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    counts = spark.read.parquet(out).select("bin", "ca", "cb")
    return psi_from_binned(counts, n_bins=12)


def _stream_ks_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming two-sample KS monitor (streaming/pipeline.py
    # ks_drift_stream — r14): each micro-batch of a genuinely
    # multi-batch 3-file docs replay SUM-merges its (val, ca, cb)
    # distinct-length counts through the swap-rename/_bid protocol;
    # ks_from_value_counts over the final state == batch
    # ks_statistic verbatim (counter-sum associativity), so the
    # ext-ks-drift twin gates the stream. State is length-
    # cardinality-bounded — the binning-free companion to
    # stream-psi-drift over the same pair.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        ks_from_value_counts,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        ks_drift_stream,
    )

    docs = load_table(spark, "documents", sf).select(
        "lang", F.length("text").alias("n_chars")
    )
    src = tempfile.mkdtemp(prefix="ksd_src_")
    out = tempfile.mkdtemp(prefix="ksd_out_")
    ckpt = tempfile.mkdtemp(prefix="ksd_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = ks_drift_stream(
        stream, value_col="n_chars", group_col="lang",
        group_a="en", group_b="fr", out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-ks-drift: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-ks-drift: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    counts = spark.read.parquet(out).select("val", "ca", "cb")
    return ks_from_value_counts(counts)


def _stream_chao1_vocab(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming Chao1 vocabulary richness (streaming/pipeline.py
    # chao1_vocab_stream — r14): per-micro-batch (term, n) counts
    # SUM-merge into vocabulary-bounded state; chao1_from_counts
    # over the final state == batch chao1_vocab verbatim — f1/f2 are
    # NOT mergeable themselves (a singleton in two batches is a
    # doubleton overall), which is exactly why the state holds term
    # counts and the frequency-of-frequencies derive at read time.
    # The ext-chao1-vocab twin gates the stream.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        chao1_from_counts,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        chao1_vocab_stream,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="ch1_src_")
    out = tempfile.mkdtemp(prefix="ch1_out_")
    ckpt = tempfile.mkdtemp(prefix="ch1_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = chao1_vocab_stream(
        stream, text_col="text", out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-chao1-vocab: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-chao1-vocab: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    counts = spark.read.parquet(out).select("term", "n")
    return chao1_from_counts(counts)


def _stream_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming stratified-bootstrap CI (streaming/pipeline.py
    # bootstrap_ci_stream — r14): each micro-batch of a genuinely
    # multi-batch 3-file docs replay tokenizes with the SHARED batch
    # counter and SUM-merges its (group, b, wv, wn) Poisson-weighted
    # sums through the swap-rename/_bid protocol — each weight
    # depends only on (doc_id, salt, b), never on arrival batch, so
    # the sums are exactly associative and
    # bootstrap_ci_grouped_from_sums over the final state == batch
    # bootstrap_ci_grouped verbatim. The ext-bootstrap-ci-grouped
    # twin gates the stream. State = G x 201 rows,
    # corpus-size-independent — a per-source error bar that stays
    # current as data arrives.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        bootstrap_ci_grouped_from_sums,
    )
    from awskinesisconsumer_spark.operators.text import token_count
    from awskinesisconsumer_spark.streaming.pipeline import (
        bootstrap_ci_stream,
    )

    docs = load_table(spark, "documents", sf).select(
        "doc_id", "lang", "text"
    )
    src = tempfile.mkdtemp(prefix="boot_src_")
    out = tempfile.mkdtemp(prefix="boot_out_")
    ckpt = tempfile.mkdtemp(prefix="boot_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    counted = token_count(stream, text_col="text")
    q = bootstrap_ci_stream(
        counted, id_col="doc_id", value_col="n_tokens",
        group_col="lang", n_boot=200, out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-bootstrap-ci: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-bootstrap-ci: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    sums = spark.read.parquet(out).select("_g", "b", "wv", "wn")
    return bootstrap_ci_grouped_from_sums(sums)


def _stream_rater_kappa(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming Cohen's kappa (streaming/pipeline.py
    # cohen_kappa_stream — r14): the two ext-rater-kappa heuristic
    # raters score each micro-batch map-only, and the (label_a,
    # label_b, n) pair counts SUM-merge through the swap-rename/_bid
    # protocol; cohen_kappa_from_counts over the final state ==
    # batch cohen_kappa verbatim, so the ext-rater-kappa twin gates
    # the stream — continuously maintained LLM-judge calibration.
    # (Fleiss deliberately has no streaming form: per-item cells
    # grow with the corpus — documented in the maintainer.)
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        cohen_kappa_from_counts,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        cohen_kappa_stream,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="kap_src_")
    out = tempfile.mkdtemp(prefix="kap_out_")
    ckpt = tempfile.mkdtemp(prefix="kap_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    n_sp = F.length("text") - F.length(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), " ", "")
    )
    rated = stream.where(F.col("text").isNotNull()).select(
        F.when(F.length("text") < 250, 0)
        .when(F.length("text") < 450, 1).otherwise(2).alias("ra"),
        F.when(n_sp < 40, 0).when(n_sp < 75, 1).otherwise(2).alias("rb"),
    )
    q = cohen_kappa_stream(
        rated, rater_a_col="ra", rater_b_col="rb",
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-rater-kappa: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-rater-kappa: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    counts = spark.read.parquet(out).select("label_a", "label_b", "n")
    return cohen_kappa_from_counts(counts)


def _dedup_reweight(spark: SparkSession, sf: str) -> DataFrame:
    # Duplicate-aware SOFT dedup (operators/dedup.py dedup_reweight
    # — r14): weight = 1 / |duplicate cluster| per doc, so a
    # weighted sampler sees each piece of content once in
    # expectation while every near-dup variant stays available —
    # the downweight-instead-of-drop alternative to hard removal.
    # Same candidate pairs + CC as ext-dedup-cluster, so the twin
    # nests that proven recursive CTE and adds one size join.
    from awskinesisconsumer_spark.operators.dedup import (
        dedup_reweight, ngram_jaccard_pairs,
    )

    docs = load_table(spark, "documents", sf)
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.3
    )
    return dedup_reweight(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).select("doc_id", "weight")


def _eval_ece(spark: SparkSession, sf: str) -> DataFrame:
    # Expected Calibration Error (operators/evaluation.py
    # expected_calibration_error — r14) of the lang-id marker-share
    # confidence against the actual lang labels: the standard
    # LLM-judge calibration number, with quantized-integer per-bin
    # confidence sums and an ordered <= 10-bin fold so the twin
    # replays bit-for-bit. The heuristic confidence is honestly
    # uncalibrated — measuring that IS the operator's job.
    from awskinesisconsumer_spark.operators.evaluation import (
        expected_calibration_error,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    return expected_calibration_error(
        pred, label_col="lang", pred_col="lang_pred",
        conf_col="lang_conf", n_bins=10,
    )


def _eval_brier(spark: SparkSession, sf: str) -> DataFrame:
    # Brier score (operators/evaluation.py brier_score — r14) of the
    # lang-id marker-share confidence: ECE's proper-scoring-rule
    # companion (calibration + refinement, no binning choice). The
    # per-row squared gap is an exact INTEGER ((ok*1e4 - c4)^2), so
    # the cross-row sum is a long and the twin replays bit-for-bit.
    from awskinesisconsumer_spark.operators.evaluation import brier_score
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    return brier_score(
        pred, label_col="lang", pred_col="lang_pred",
        conf_col="lang_conf",
    )


def _eval_ece_grouped(spark: SparkSession, sf: str) -> DataFrame:
    # Per-language ECE (operators/evaluation.py
    # expected_calibration_error_grouped — r15, r14 verdict item 6):
    # the aggregate ECE can stay healthy while one language's
    # confidence is badly miscalibrated — the grouped form keys the
    # same quantized-integer bin sums by the true lang, G x n_bins
    # state, and a single-group input replays the ungrouped op
    # exactly (pinned in tests).
    from awskinesisconsumer_spark.operators.evaluation import (
        expected_calibration_error_grouped,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    return expected_calibration_error_grouped(
        pred, label_col="lang", pred_col="lang_pred",
        conf_col="lang_conf", group_col="lang", n_bins=10,
    )


def _eval_brier_grouped(spark: SparkSession, sf: str) -> DataFrame:
    # Per-language Brier score (operators/evaluation.py
    # brier_score_grouped — r15): ECE's proper-scoring-rule
    # companion at group grain; the per-row squared gap stays an
    # exact integer, so the G-row state replays bit-for-bit.
    from awskinesisconsumer_spark.operators.evaluation import (
        brier_score_grouped,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    return brier_score_grouped(
        pred, label_col="lang", pred_col="lang_pred",
        conf_col="lang_conf", group_col="lang",
    )


def _stream_eval_ece(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming per-group calibration maintenance (streaming/
    # pipeline.py ece_stream — r15): each micro-batch of a 3-file
    # docs replay scores lang-id with the SHARED batch predictor and
    # SUM-merges its (group, bin, nb, ok, c6) quantized-integer bin
    # counts through the swap-rename + _bid protocol; integer sums
    # are exactly associative, so ece_from_binned over the final
    # state == batch expected_calibration_error_grouped verbatim —
    # the batch twin gates the stream. State is G x 10 rows.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        ece_from_binned,
    )
    from awskinesisconsumer_spark.operators.text import language_id
    from awskinesisconsumer_spark.streaming.pipeline import ece_stream

    docs = load_table(spark, "documents", sf).select("lang", "text")
    src = tempfile.mkdtemp(prefix="ece_src_")
    out = tempfile.mkdtemp(prefix="ece_out_")
    ckpt = tempfile.mkdtemp(prefix="ece_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    scored = language_id(stream, text_col="text", with_confidence=True)
    q = ece_stream(
        scored, label_col="lang", pred_col="lang_pred",
        conf_col="lang_conf", group_col="lang", n_bins=10,
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-eval-ece: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-eval-ece: expected >=3 non-empty micro-batches, "
            f"saw {n_batches}"
        )
    state = spark.read.parquet(out).select(
        "group", "bin", "nb", "ok", "c6"
    )
    return ece_from_binned(state, n_bins=10)


def _stream_eval_brier(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming per-group Brier maintenance (streaming/pipeline.py
    # brier_stream — r15): the (group, n_items, oks, sq) exact-long
    # sums SUM-merge per micro-batch; brier_from_sums over the final
    # state == batch brier_score_grouped verbatim — the batch twin
    # gates the stream. State is G rows.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        brier_from_sums,
    )
    from awskinesisconsumer_spark.operators.text import language_id
    from awskinesisconsumer_spark.streaming.pipeline import brier_stream

    docs = load_table(spark, "documents", sf).select("lang", "text")
    src = tempfile.mkdtemp(prefix="brier_src_")
    out = tempfile.mkdtemp(prefix="brier_out_")
    ckpt = tempfile.mkdtemp(prefix="brier_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    scored = language_id(stream, text_col="text", with_confidence=True)
    q = brier_stream(
        scored, label_col="lang", pred_col="lang_pred",
        conf_col="lang_conf", group_col="lang",
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-eval-brier: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-eval-brier: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    state = spark.read.parquet(out).select(
        "group", "n_items", "oks", "sq"
    )
    return brier_from_sums(state)


def _quality_percentile_frozen(spark: SparkSession, sf: str) -> DataFrame:
    # Frozen source-fair percentile (operators/corpus_prep.py
    # group_percentile_cuts + apply_group_percentile_cuts — r15, r14
    # verdict item 7): per-lang quantile-grid cut points FROZEN on a
    # deterministic reference slab (doc_id % 4 == 0), applied
    # map-only to the full corpus — the production shape where the
    # "top 30% of this source" threshold must not drift as data
    # grows. The reach test is integer arithmetic (cum * n >= i *
    # total), so the twin replays the cuts bit-for-bit.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        apply_group_percentile_cuts, group_percentile_cuts,
    )
    from awskinesisconsumer_spark.operators.text import quality_score

    docs = load_table(spark, "documents", sf)
    scored = quality_score(docs, text_col="text").select(
        "doc_id", "lang", "quality"
    )
    cuts = group_percentile_cuts(
        scored.where(F.col("doc_id") % 4 == 0),
        score_col="quality", group_col="lang", n_cuts=10,
    )
    return apply_group_percentile_cuts(
        scored, cuts, score_col="quality", group_col="lang",
    )


def _stream_quality_percentile(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming source-fair quality gate (streaming/pipeline.py
    # percentile_gate_stream — r15): the SAME frozen per-lang cuts
    # (reference slab doc_id % 4 == 0), applied per micro-batch of a
    # 3-file scored-docs replay — map-only (broadcast join + bounded
    # array fold), so the union of per-batch outputs == the batch
    # apply and ONE twin gates both forms verbatim.
    import tempfile

    from awskinesisconsumer_spark.operators.corpus_prep import (
        group_percentile_cuts,
    )
    from awskinesisconsumer_spark.operators.text import quality_score
    from awskinesisconsumer_spark.streaming.pipeline import (
        percentile_gate_stream,
    )

    docs = load_table(spark, "documents", sf)
    scored = quality_score(docs, text_col="text").select(
        "doc_id", "lang", "quality"
    )
    cuts = group_percentile_cuts(
        scored.where(F.col("doc_id") % 4 == 0),
        score_col="quality", group_col="lang", n_cuts=10,
    ).localCheckpoint()  # freeze: G rows, materialized once
    src = tempfile.mkdtemp(prefix="pctl_src_")
    out = tempfile.mkdtemp(prefix="pctl_out_")
    ckpt = tempfile.mkdtemp(prefix="pctl_ckpt_")
    scored.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(scored.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = percentile_gate_stream(
        stream, cuts, score_col="quality", group_col="lang",
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-quality-percentile: timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-quality-percentile: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    return spark.read.parquet(out).select(
        "doc_id", "lang", "quality", "pctile_frozen"
    )


def _cms_topk_exact(spark: SparkSession, sf: str) -> DataFrame:
    # Lossless CMS candidate pre-filter (operators/sketches.py
    # cms_heavy_hitters(rank_by="exact") — r15, r14 verdict item 4):
    # with the top-k ranked by the EXACT counts the candidate table
    # already carries, the m x n_buckets pre-filter is a theorem-
    # backed no-op for m >= k (survivors are a superset of the exact
    # top-m) — so the oracle needs NO candidate machinery at all: it
    # ranks the exact top-k directly and probes the same portable
    # sketch for the estimates.
    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    docs = load_table(spark, "documents", sf)
    return cms_heavy_hitters(
        docs, text_col="text", k=20, depth=4, width=1024,
        hash_fn=portable_hash52, candidate_top_m=64, rank_by="exact",
    )


def _eval_reliability(spark: SparkSession, sf: str) -> DataFrame:
    # Reliability diagram (operators/evaluation.py
    # reliability_diagram — r15): the per-bin calibration table ECE
    # compresses to one number — count, observed accuracy, mean
    # confidence and gap per occupied bin, each an exact-integer
    # quotient from the SAME quantized bin state as ext-eval-ece, so
    # the streaming ECE state feeds it directly.
    from awskinesisconsumer_spark.operators.evaluation import (
        reliability_diagram,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    return reliability_diagram(
        pred, label_col="lang", pred_col="lang_pred",
        conf_col="lang_conf", n_bins=10,
    )


def _eval_mcc(spark: SparkSession, sf: str) -> DataFrame:
    # Multiclass Matthews correlation (operators/evaluation.py
    # mcc_score — r15): the imbalance-honest single-number classifier
    # summary (a majority-class guesser scores ~0), derived entirely
    # from the (label, pred, n) confusion counts — so the streaming
    # confusion state feeds mcc_from_counts directly. Cross-class
    # sums ride DECIMAL(38,0) (p_k^2 outgrows a long past ~3e9 rows
    # per class); one float division in the final row.
    from awskinesisconsumer_spark.operators.evaluation import mcc_score
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text")
    return mcc_score(pred, label_col="lang", pred_col="lang_pred")


def _eval_auc(spark: SparkSession, sf: str) -> DataFrame:
    # ROC AUC of confidence vs correctness (operators/evaluation.py
    # auc_score — r15): does a HIGHER lang-id confidence actually
    # mean a higher chance of being right — the discrimination
    # companion to ext-eval-ece's calibration. Tie-exact Mann-Whitney
    # form: U2 = sum_s pos_s * (2*neg_below + neg_s) is an exact
    # integer (DECIMAL(38,0) products), one float division at the
    # end, so the twin replays bit-for-bit.
    from awskinesisconsumer_spark.operators.evaluation import auc_score
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    scored = pred.where(F.col("lang").isNotNull()).select(
        (F.col("lang") == F.col("lang_pred")).cast("int").alias("_ok"),
        "lang_conf",
    )
    return auc_score(scored, label_col="_ok", score_col="lang_conf")


def _stream_eval_auc(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming AUC maintenance (streaming/pipeline.py auc_stream —
    # r15): each micro-batch of a 3-file docs replay SUM-merges its
    # (score, pos, neg) counts; auc_from_counts over the final state
    # == batch auc_score verbatim — the batch twin gates the stream.
    # State bounded by the 6-dp confidence cardinality.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        auc_from_counts,
    )
    from awskinesisconsumer_spark.operators.text import language_id
    from awskinesisconsumer_spark.streaming.pipeline import auc_stream

    docs = load_table(spark, "documents", sf).select("lang", "text")
    src = tempfile.mkdtemp(prefix="auc_src_")
    out = tempfile.mkdtemp(prefix="auc_out_")
    ckpt = tempfile.mkdtemp(prefix="auc_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    scored = language_id(
        stream, text_col="text", with_confidence=True
    ).where(F.col("lang").isNotNull()).select(
        (F.col("lang") == F.col("lang_pred")).cast("int").alias("_ok"),
        "lang_conf",
    )
    q = auc_stream(
        scored, label_col="_ok", score_col="lang_conf",
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-eval-auc: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-eval-auc: expected >=3 non-empty micro-batches, "
            f"saw {n_batches}"
        )
    state = spark.read.parquet(out).select("score", "pos", "neg")
    return auc_from_counts(state)


def _eval_auc_grouped(spark: SparkSession, sf: str) -> DataFrame:
    # Per-language ROC AUC (operators/evaluation.py
    # auc_score_grouped — r15): a judge that discriminates well
    # overall can be near-random on one language — the grouped form
    # keys the tie-exact rank sums by the true lang, completing the
    # per-group calibration trio (ECE / Brier / AUC by language).
    from awskinesisconsumer_spark.operators.evaluation import (
        auc_score_grouped,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    scored = pred.where(F.col("lang").isNotNull()).select(
        "lang",
        (F.col("lang") == F.col("lang_pred")).cast("int").alias("_ok"),
        "lang_conf",
    )
    return auc_score_grouped(
        scored, label_col="_ok", score_col="lang_conf",
        group_col="lang",
    )


def _eval_pr_auc(spark: SparkSession, sf: str) -> DataFrame:
    # PR-AUC / average precision of confidence vs correctness
    # (operators/evaluation.py pr_auc_score — r16): the imbalance-
    # appropriate companion to ext-eval-auc, derived from the SAME
    # (score, pos, neg) counts state. Inclusive cumulative TP/FP are
    # exact integers; the cross-threshold sum is an ordered left fold
    # (score descending) so the twin replays bit-for-bit.
    from awskinesisconsumer_spark.operators.evaluation import (
        pr_auc_score,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    scored = pred.where(F.col("lang").isNotNull()).select(
        (F.col("lang") == F.col("lang_pred")).cast("int").alias("_ok"),
        "lang_conf",
    )
    return pr_auc_score(scored, label_col="_ok", score_col="lang_conf")


def _eval_pr_auc_grouped(spark: SparkSession, sf: str) -> DataFrame:
    # Per-language PR-AUC (operators/evaluation.py
    # pr_auc_score_grouped — r16): class balance varies by source —
    # a gate can hold precision only where positives are common,
    # which the per-group PR summary surfaces.
    from awskinesisconsumer_spark.operators.evaluation import (
        pr_auc_score_grouped,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(docs, text_col="text", with_confidence=True)
    scored = pred.where(F.col("lang").isNotNull()).select(
        "lang",
        (F.col("lang") == F.col("lang_pred")).cast("int").alias("_ok"),
        "lang_conf",
    )
    return pr_auc_score_grouped(
        scored, label_col="_ok", score_col="lang_conf",
        group_col="lang",
    )


def _stream_eval_pr_auc(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming PR-AUC (streaming/pipeline.py pr_auc_stream — r16):
    # the SAME maintained (score, pos, neg) state as stream-eval-auc
    # — pr_auc_from_counts over the final state == batch pr_auc_score
    # verbatim, so one state dir serves both ROC and PR monitors and
    # the batch twin gates the stream.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        pr_auc_from_counts,
    )
    from awskinesisconsumer_spark.operators.text import language_id
    from awskinesisconsumer_spark.streaming.pipeline import (
        pr_auc_stream,
    )

    docs = load_table(spark, "documents", sf).select("lang", "text")
    src = tempfile.mkdtemp(prefix="prauc_src_")
    out = tempfile.mkdtemp(prefix="prauc_out_")
    ckpt = tempfile.mkdtemp(prefix="prauc_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    scored = language_id(
        stream, text_col="text", with_confidence=True
    ).where(F.col("lang").isNotNull()).select(
        (F.col("lang") == F.col("lang_pred")).cast("int").alias("_ok"),
        "lang_conf",
    )
    q = pr_auc_stream(
        scored, label_col="_ok", score_col="lang_conf",
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-eval-pr-auc: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-eval-pr-auc: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    state = spark.read.parquet(out).select("score", "pos", "neg")
    return pr_auc_from_counts(state)


def _eval_calibration_drift(spark: SparkSession, sf: str) -> DataFrame:
    # Calibration drift between two frozen snapshots
    # (operators/evaluation.py calibration_drift — r16): the per-
    # group ECE monitors say "this language is miscalibrated NOW";
    # this op says which group's calibration MOVED since the
    # reference freeze — one bounded full-outer join over two
    # G x n_bins states. Reference snapshot = even doc_ids; current
    # = odd doc_ids with the confidence systematically inflated
    # (least(conf * 1.15, 1.0) — a deterministic stand-in for a
    # judge growing overconfident between freezes).
    from awskinesisconsumer_spark.operators.evaluation import (
        calibration_drift, ece_binned_counts,
    )
    from awskinesisconsumer_spark.operators.text import language_id

    docs = load_table(spark, "documents", sf)
    pred = language_id(
        docs, text_col="text", with_confidence=True
    ).where(F.col("lang").isNotNull())
    ref = ece_binned_counts(
        pred.where(F.col("doc_id") % 2 == 0),
        label_col="lang", pred_col="lang_pred", conf_col="lang_conf",
        group_col="lang",
    )
    cur = ece_binned_counts(
        pred.where(F.col("doc_id") % 2 == 1)
        .withColumn(
            "lang_conf", F.least(F.col("lang_conf") * 1.15, F.lit(1.0))
        ),
        label_col="lang", pred_col="lang_pred", conf_col="lang_conf",
        group_col="lang",
    )
    return calibration_drift(ref, cur)


def _rankcorr_scored(spark: SparkSession, sf: str) -> DataFrame:
    # Shared scorer pair for the rank-correlation family: the
    # composite quality score (text.quality_score, 4 dp) vs the
    # single-signal average-word-length proxy (text.text_stats,
    # 4 dp), each quantized DOWN to a bucket INDEX for the
    # contingency-state bound (quality -> 1/100 buckets, <= 101
    # distinct; awl -> 1/10 buckets) — the auc/ks quantize-first
    # state-size rule. Quantization is FLOOR(x * scale), not a
    # second ROUND: re-ROUNDing an already-4-dp double diverges
    # between engines at exact .5 boundaries (Spark rounds the
    # decimal string, DuckDB the binary value — 0.575 -> 0.58 vs
    # 0.57), while FLOOR on the identical double is bit-exact in
    # both. Rank statistics only need a monotone binning, so the
    # bucket index is the right quantizer anyway.
    from awskinesisconsumer_spark.operators.text import (
        quality_score, text_stats,
    )

    docs = load_table(spark, "documents", sf)
    scored = text_stats(
        quality_score(docs, text_col="text"), text_col="text"
    )
    return scored.select(
        "lang",
        F.floor(F.col("quality") * 100).alias("qb"),
        F.floor(F.col("avg_word_len") * 10).alias("ab"),
    )


def _eval_rankcorr(spark: SparkSession, sf: str) -> DataFrame:
    # Kendall tau-b + Spearman rho between the composite quality
    # score and the cheap avg-word-length proxy
    # (operators/evaluation.py rank_correlation — r16): do two
    # scorers RANK the corpus the same way — the continuous-score
    # sibling of the kappa trio, and the question that decides
    # whether the cheap proxy can drive the 100 TB pre-filter.
    # Tie-exact integer contingency algebra on the densified
    # quantized grid (2D dominance sweep, DECIMAL(38,0) pair sums,
    # doubled average ranks); one float expression per statistic at
    # the end, so the twin replays bit-for-bit.
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation,
    )

    return rank_correlation(
        _rankcorr_scored(spark, sf), a_col="qb", b_col="ab"
    )


def _stream_eval_rankcorr(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming rank-correlation maintenance (streaming/pipeline.py
    # rankcorr_stream — r16): each micro-batch of a 3-file docs
    # replay SUM-merges its (a, b) joint-contingency cells;
    # rankcorr_from_counts over the final state == batch
    # rank_correlation verbatim — the batch twin gates the stream.
    # State bounded by the quantized K_a x K_b grid.
    import tempfile

    from awskinesisconsumer_spark.operators.evaluation import (
        rankcorr_from_counts,
    )
    from awskinesisconsumer_spark.operators.text import (
        quality_score, text_stats,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        rankcorr_stream,
    )

    docs = load_table(spark, "documents", sf).select("text")
    src = tempfile.mkdtemp(prefix="rankcorr_src_")
    out = tempfile.mkdtemp(prefix="rankcorr_out_")
    ckpt = tempfile.mkdtemp(prefix="rankcorr_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    scored = text_stats(
        quality_score(stream, text_col="text"), text_col="text"
    ).select(
        F.floor(F.col("quality") * 100).alias("qb"),
        F.floor(F.col("avg_word_len") * 10).alias("ab"),
    )
    q = rankcorr_stream(
        scored, a_col="qb", b_col="ab",
        out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-eval-rankcorr: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-eval-rankcorr: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    state = spark.read.parquet(out).select("a", "b", "n")
    return rankcorr_from_counts(state)


def _eval_rankcorr_grouped(spark: SparkSession, sf: str) -> DataFrame:
    # Per-language rank correlation (operators/evaluation.py
    # rank_correlation_grouped — r16): two scorers can rank-agree
    # overall yet disagree on ONE language (different stopword hit
    # rates, different length norms) — exactly when a proxy-driven
    # pre-filter silently skews that source. The dominance windows
    # partition by group; a single-group input replays the ungrouped
    # form exactly (pinned in tests).
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation_grouped,
    )

    return rank_correlation_grouped(
        _rankcorr_scored(spark, sf).where(F.col("lang").isNotNull()),
        a_col="qb", b_col="ab", group_col="lang",
    )


def _minhash_shard_merge(spark: SparkSession, sf: str) -> DataFrame:
    # Per-day MinHash sketches of each event type's user SET, merged
    # into the global sketch (operators/dedup.py minhash_group_sketch
    # + minhash_sketch_merge) — the similarity twin of ext-kmv-merge:
    # min-of-mins is an EXACT identity, so the oracle replays the
    # GLOBAL build directly and the mergeability claim IS the gate.
    # Output = the merged (group, perm, minh) sketch table itself.
    from awskinesisconsumer_spark.operators.dedup import (
        minhash_group_sketch, minhash_sketch_merge, portable_hash52,
    )

    ev = load_table(spark, "events", sf).select(
        F.concat_ws(
            "\x1f", "event_type", F.to_date("ts").cast("string")
        ).alias("_gs"),
        "user_id",
    )
    shard = minhash_group_sketch(
        ev, key_col="user_id", group_col="_gs", num_hashes=32,
        hash_fn=portable_hash52,
    )
    per_shard = shard.select(
        F.substring_index("group", "\x1f", 1).alias("group"),
        "perm", "minh",
    )
    return minhash_sketch_merge(per_shard)


def _minhash_overlap(spark: SparkSession, sf: str) -> DataFrame:
    # All-pairs language Jaccard ESTIMATES from per-lang MinHash
    # sketches over 8-char shingles (operators/dedup.py
    # minhash_overlap_matrix) — the similarity companion to the KMV
    # ext-source-overlap matrix (KMV estimates set SIZES, MinHash
    # estimates Jaccard directly via component agreement; at G
    # sources both are G^2-bounded downstream of one sketch pass).
    # Same deterministic permutation family as every minhash dedup
    # gate, so the twin replays the sketch bit-for-bit.
    from awskinesisconsumer_spark.operators.dedup import (
        minhash_group_sketch, minhash_overlap_matrix, portable_hash52,
    )

    docs = load_table(spark, "documents", sf).filter(
        F.length("text") >= 8
    )
    sh = _char8_shingles(docs)
    sig = minhash_group_sketch(
        sh, key_col="sh", group_col="lang", num_hashes=32,
        hash_fn=portable_hash52,
    )
    return minhash_overlap_matrix(sig, num_hashes=32)


def _readability(spark: SparkSession, sf: str) -> DataFrame:
    # Flesch / Flesch-Kincaid readability per doc (operators/text.py
    # readability_scores): vowel-group syllable proxy + terminal-
    # punctuation sentence count, published coefficients — the
    # readability axis next to the Gopher structural rules. Map-only;
    # the twin replays the same regexp counting.
    from awskinesisconsumer_spark.operators.text import (
        readability_scores,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    return readability_scores(docs, text_col="text").select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch",
        "fk_grade",
    )


def _stream_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming CMS heavy hitters (streaming/pipeline.py
    # cms_sketch_stream): each micro-batch of a genuinely multi-batch
    # 3-file docs replay tokenizes with the SHARED batch tokenizer
    # (sketches.cms_tokens) and SUM-merges its local (row,bucket,n)
    # counters + (term,exact) candidate counts into the persisted
    # state; counter sums are exactly associative, so the final
    # state == one batch build and cms_heavy_hitters_from_state over
    # it == batch cms_heavy_hitters verbatim — the batch twin gates
    # the stream (the kmv_sketch_stream identity). State <= depth x
    # width + vocab rows, cardinality-independent in the sketch.
    import tempfile

    from awskinesisconsumer_spark.operators.dedup import portable_hash52
    from awskinesisconsumer_spark.operators.sketches import (
        cms_heavy_hitters_from_state,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        cms_sketch_stream,
    )

    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="cms_src_")
    sk_p = tempfile.mkdtemp(prefix="cms_sk_")
    tm_p = tempfile.mkdtemp(prefix="cms_tm_")
    ckpt = tempfile.mkdtemp(prefix="cms_ckpt_")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = cms_sketch_stream(
        stream, text_col="text", depth=4, width=1024,
        hash_fn=portable_hash52, sketch_path=sk_p, terms_path=tm_p,
        checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-heavy-hitters: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-heavy-hitters: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    sketch = spark.read.parquet(sk_p).select("row", "bucket", "n")
    cand = spark.read.parquet(tm_p).select("term", "exact")
    return cms_heavy_hitters_from_state(
        sketch, cand, k=20, depth=4, width=1024,
        hash_fn=portable_hash52,
    )


def _stream_hist_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    # Streaming histogram quantiles (streaming/pipeline.py
    # histogram_counts_stream): per-micro-batch (bin, c) counts over
    # a 3-file orders replay SUM-merge into the persisted <=200-row
    # counter table — "p99 so far" with no values held; the final
    # interpolation (histogram_quantiles_from_counts) equals batch
    # histogram_quantiles exactly (long-sum associativity), so the
    # batch twin gates the stream verbatim.
    import tempfile

    from awskinesisconsumer_spark.operators.sketches import (
        histogram_quantiles_from_counts,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        histogram_counts_stream,
    )

    orders = load_table(spark, "orders", sf).select("o_totalprice")
    src = tempfile.mkdtemp(prefix="hist_src_")
    out = tempfile.mkdtemp(prefix="hist_out_")
    ckpt = tempfile.mkdtemp(prefix="hist_ckpt_")
    orders.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = histogram_counts_stream(
        stream, value_col="o_totalprice", lo=0.0, hi=600000.0,
        n_bins=200, out_path=out, checkpoint=ckpt,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("stream-histogram-quantile: stream timed out")
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    if n_batches < 3:
        raise RuntimeError(
            f"stream-histogram-quantile: expected >=3 non-empty "
            f"micro-batches, saw {n_batches}"
        )
    counts = spark.read.parquet(out).select("bin", "c")
    return histogram_quantiles_from_counts(
        counts, lo=0.0, hi=600000.0, n_bins=200,
        quantiles=(0.5, 0.9, 0.99),
    )


def _semantic_dedup_recall(spark: SparkSession, sf: str) -> DataFrame:
    # SemDeDup recall audit (operators/similarity.py
    # semantic_dedup_recall_audit — r12 verdict item 2): per 0.1-wide
    # TRUE-cosine bucket, the fraction of exact all-pairs threshold
    # pairs the cell-bounded miner surfaces, at n_assign=1 (the
    # documented Voronoi-boundary miss) and n_assign=2 (the
    # build-side multi-probe buy-back, verdict item 3) — the family
    # analogue of ext-dedup-recall / ext-ann-recall. Candidates are
    # a SUBSET of truth by construction (same threshold, same
    # scoring fold), so the twin derives them from the truth pair
    # set with a shared-top-n-cell EXISTS instead of re-scoring.
    # r14 (re-gated): the truth leg is now LOUDLY bounded
    # (truth_max_rows, r13 verdict item 2) and the candidate side is
    # ONE rank-tagged mine at max(n_assign) serving every level
    # (verdict item 6) — same output, plan-asserted single mine.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup_recall_audit,
    )

    emb = load_table(spark, "embeddings", sf)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return semantic_dedup_recall_audit(
        emb, id_col="vec_id", vec_col="embedding", centroids=centroids,
        threshold=0.3, n_assign_values=(1, 2),
    )


def _semantic_dedup_multi(spark: SparkSession, sf: str) -> DataFrame:
    # semantic_dedup with n_assign=2 (r12 verdict item 3): each
    # vector joins pair mining in its 2 nearest cells, so
    # Voronoi-boundary near-dup pairs are co-located whenever either
    # point's second cell is the other's first — ext-dedup-semantic-
    # recall measures exactly how much recall this buys (0.25 -> 0.67
    # on the sf0.001 fixture). The labeled output's cell column stays
    # the PRIMARY cell (the partitionBy(cell) layout is unchanged);
    # twin = the ext-dedup-semantic oracle with the pair mine over
    # rank<=2 memberships + DISTINCT.
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup,
    )

    emb = load_table(spark, "embeddings", sf)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    return semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=centroids, threshold=0.3, n_assign=2,
    )


# Queries registered WITHOUT an oracle twin BY DESIGN (the driver
# records the weaker rows-only check for them): the production-hash
# CDC forms — xxhash64 is JVM-specific, which is exactly why the
# hash-gated twins run the md5-derived portable_hash52 family
# instead. Rows-only entries never earn a hash-green ledger record,
# so they must LIVE inside the 50-entry gate window permanently
# (gate_ledger.is_green documents this rule): gate_order() puts them
# right behind the new/changed entries, and the composition test
# enforces it.
ROWS_ONLY_BY_DESIGN = (
    "ext-cdc-chunk-text-prod", "ext-cdc-chunk-clamped-prod",
)


def gate_fingerprint(fn, sql: str | None) -> str:
    """The GATE_LEDGER.json fingerprint of one registry entry: sha256
    of the entry function's source plus its oracle SQL. Code below the
    entry function (the operator modules) is not captured; the local
    full-registry parity test covers it."""
    src = inspect.getsource(fn)
    return hashlib.sha256(
        (src + "\n--oracle--\n" + (sql or "")).encode()
    ).hexdigest()


def gate_key(q: str, ledger: dict, fingerprints: dict[str, str],
             rows_only) -> tuple[int, int, str]:
    """`gate_order`'s sort key for one entry: (0, 0, q) if it has no
    ledger record or its fingerprint differs from it (it must gate),
    (1, 0, q) for a rows-only resident, else (2, green_round, q)."""
    if q in rows_only:
        return (1, 0, q)
    rec = ledger.get(q)
    if rec is None or rec["fingerprint"] != fingerprints[q]:
        return (0, 0, q)
    return (2, rec["green_round"], q)


def gate_order(names, ledger: dict, fingerprints: dict[str, str],
               rows_only) -> list[str]:
    """Verification-priority order of the registry: entries with no
    ledger record or whose fingerprint differs from it first (they
    must gate), then the rows-only residents (they never earn a
    record), then the rest by ascending ledger `green_round` (oldest
    evidence re-gates first); name breaks every tie."""
    rows_only = set(rows_only)
    return sorted(
        names, key=lambda q: gate_key(q, ledger, fingerprints, rows_only)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the external correctness gate records only the
    # FIRST 50 entries, so the registry is returned in gate_order() over
    # GATE_LEDGER.json (scripts/gate_ledger.py folds each snapshot into
    # it). An entry whose source or oracle changed since its green
    # record moves into the window by itself. Every entry past position
    # 50 must be hash-green in the ledger and unchanged since, asserted
    # by tests/test_oracle_parity.py::test_gate_rotation_invariant;
    # tests/test_oracle_parity.py re-verifies ALL entries locally.
    registry = {
        "agg-conversion-funnel": _funnel,
        "agg-distinct-users": _distinct_users,
        "agg-forecast-revenue": _forecast_revenue,
        "agg-grouping-sets": _grouping_sets,
        "agg-moving-avg": _moving_avg,
        "agg-percentiles": _percentiles,
        "agg-pricing-summary": _pricing_summary,
        "agg-retention-cohorts": _cohorts,
        "agg-robust-mad": _robust_mad,
        "agg-rollup-revenue": _rollup_revenue,
        "agg-salted-sum": _salted_sum,
        "agg-shipmode-priority": _shipmode_priority,
        "agg-skyline-2d": _skyline,
        "agg-topn-per-group": _topn_per_group,
        "agg-tumbling-window": _tumbling_window,
        "agg-unpivot-melt": _melt,
        "agg-window-ranks": _window_ranks,
        "decode-scalars-roundtrip": _decode_roundtrip,
        "demux-decode-explode": _explode,
        "enqueue-bounded-retention": _retention,
        "error-route": _error_route,
        "ext-ann-dim-recall": _ann_dim_recall,
        "ext-ann-recall": _ann_recall,
        "ext-anomaly-zscore": _zscore,
        "ext-audio-resample": _audio_resample,
        "ext-audit-report": _audit_report,
        "ext-bloom-prefilter": _bloom_prefilter,
        "ext-bm25-rank": _bm25,
        "ext-bootstrap-ci": _bootstrap_ci,
        "ext-bootstrap-ci-grouped": _bootstrap_ci_grouped,
        "ext-bpe-encode": _bpe_encode,
        "ext-bpe-train": _bpe_train,
        "ext-budget-select": _budget_select,
        "ext-cdc-chunk-clamped": _cdc_chunk_clamped,
        "ext-cdc-chunk-clamped-prod": _cdc_chunk_clamped_prod,
        "ext-cdc-chunk-text": _cdc_chunk_text,
        "ext-cdc-chunk-text-prod": _cdc_chunk_text_prod,
        "ext-cdc-compact": _cdc_compact,
        "ext-chao1-vocab": _chao1_vocab,
        "ext-chunk-text": _chunk_text,
        "ext-cms-topk-exact": _cms_topk_exact,
        "ext-collocations-pmi": _collocations,
        "ext-compact-files": _compact_files,
        "ext-contrastive-by-cell": _contrastive_by_cell,
        "ext-contrastive-triplets": _contrastive_triplets,
        "ext-corpus-drift": _corpus_drift,
        "ext-corruption-spans": _corruption_spans,
        "ext-curate-corpus": _curate_corpus,
        "ext-curriculum-order": _curriculum_order,
        "ext-dataset-card": _dataset_card,
        "ext-decontaminate": _decontaminate,
        "ext-dedup-cluster": _dedup_cluster,
        "ext-dedup-embedding": _embedding_dedup,
        "ext-dedup-embedding-lsh": _embedding_dedup_lsh,
        "ext-dedup-exact": _dedup_exact,
        "ext-dedup-incremental": _dedup_incremental,
        "ext-dedup-keep-best": _dedup_keep_best,
        "ext-dedup-keep-best-capped": _dedup_keep_best_capped,
        "ext-dedup-lines": _dedup_lines,
        "ext-dedup-minhash": _dedup_minhash,
        "ext-dedup-ngram-containment": _ngram_containment,
        "ext-dedup-ngram-jaccard": _ngram_jaccard,
        "ext-dedup-recall": _dedup_recall,
        "ext-dedup-reweight": _dedup_reweight,
        "ext-dedup-semantic": _semantic_dedup,
        "ext-dedup-semantic-keep-best": _semantic_keep_best,
        "ext-dedup-semantic-multi": _semantic_dedup_multi,
        "ext-dedup-semantic-recall": _semantic_dedup_recall,
        "ext-dedup-semantic-table": _semantic_dedup_table,
        "ext-dedup-semantic-vec": _semantic_dedup_vec,
        "ext-dedup-simhash": _simhash,
        "ext-dedup-simhash-pairs": _dedup_simhash_pairs,
        "ext-dedup-span-removal": _dedup_span_removal,
        "ext-denoise-pairs": _denoise_pairs,
        "ext-distinct-hll": _distinct_hll,
        "ext-distinct-intersect": _distinct_intersect,
        "ext-domain-cap": _domain_cap,
        "ext-domain-cap-topk": _domain_cap_topk,
        "ext-dup-spans": _dup_spans,
        "ext-embedding-dim-stats": _embedding_dim_stats,
        "ext-embedding-pool": _embedding_pool,
        "ext-embedding-quantize": _embedding_quantize,
        "ext-embedding-whiten": _embedding_whiten,
        "ext-eval-auc": _eval_auc,
        "ext-eval-auc-grouped": _eval_auc_grouped,
        "ext-eval-brier": _eval_brier,
        "ext-eval-brier-grouped": _eval_brier_grouped,
        "ext-eval-calibration-drift": _eval_calibration_drift,
        "ext-eval-confusion": _eval_confusion,
        "ext-eval-ece": _eval_ece,
        "ext-eval-ece-grouped": _eval_ece_grouped,
        "ext-eval-mcc": _eval_mcc,
        "ext-eval-pr-auc": _eval_pr_auc,
        "ext-eval-pr-auc-grouped": _eval_pr_auc_grouped,
        "ext-eval-rankcorr": _eval_rankcorr,
        "ext-eval-rankcorr-grouped": _eval_rankcorr_grouped,
        "ext-eval-reliability": _eval_reliability,
        "ext-fim-serialize": _fim_serialize,
        "ext-fim-split": _fim_split,
        "ext-fingerprint": _fingerprint,
        "ext-fleiss-kappa": _fleiss_kappa,
        "ext-frame-sample": _frame_sample,
        "ext-grouped-drift": _grouped_drift,
        "ext-heavy-hitters-cms": _cms_heavy_hitters,
        "ext-histogram-quantile": _hist_quantiles,
        "ext-hll-merge": _hll_merge,
        "ext-html-strip": _html_strip,
        "ext-importance-score": _importance_score,
        "ext-interleave-mixture": _interleave_mixture,
        "ext-join-range": _range_join,
        "ext-kmv-merge": _kmv_merge,
        "ext-knn-join": _knn_join,
        "ext-knn-join-vec": _knn_join_vec,
        "ext-krippendorff-alpha": _krippendorff_alpha,
        "ext-ks-drift": _ks_drift,
        "ext-ks-matrix": _ks_matrix,
        "ext-lang-id": _lang_id,
        "ext-layout-corpus": _layout_corpus,
        "ext-length-buckets": _equidepth_buckets,
        "ext-minhash-overlap": _minhash_overlap,
        "ext-minhash-shard-merge": _minhash_shard_merge,
        "ext-mixture-allocate": _mixture_allocate,
        "ext-mixture-expand": _mixture_expand,
        "ext-mixture-temperature": _mixture_temperature,
        "ext-multimodal-audio": _multimodal_audio,
        "ext-multimodal-decode": _multimodal,
        "ext-multimodal-pipeline": _multimodal_pipeline,
        "ext-multimodal-png": _multimodal_png,
        "ext-multimodal-wav": _multimodal_wav,
        "ext-ngram-novelty": _ngram_novelty,
        "ext-normalize-text": _normalize_text,
        "ext-pack-nofragment": _pack_nofragment,
        "ext-pack-sequences": _pack_sequences,
        "ext-pagerank-dups": _pagerank_dups,
        "ext-perplexity-bigram": _perplexity_bigram,
        "ext-pii-redact": _pii_redact,
        "ext-prepare-corpus": _prepare_corpus,
        "ext-psi-drift": _psi_drift,
        "ext-quality-blend": _quality_blend,
        "ext-quality-gopher-rules": _gopher_rules,
        "ext-quality-percentile": _quality_percentile,
        "ext-quality-percentile-frozen": _quality_percentile_frozen,
        "ext-quality-repetition": _repetition,
        "ext-quality-score": _quality,
        "ext-rank-fusion": _rank_fusion_q,
        "ext-rank-overlap": _rank_overlap,
        "ext-rater-kappa": _rater_kappa,
        "ext-readability": _readability,
        "ext-reservoir-sample": _reservoir,
        "ext-retrieval-metrics": _retrieval_metrics,
        "ext-sample-stratified": _sample_stratified,
        "ext-sample-weighted": _sample_weighted,
        "ext-scd2-asof": _scd2_asof,
        "ext-scd2-versions": _scd2,
        "ext-semantic-decontaminate": _semantic_decontaminate,
        "ext-sentence-decontaminate": _sentence_decontaminate,
        "ext-sentence-split": _sentence_split,
        "ext-sequence-build": _sequence_build,
        "ext-shard-assign": _shard_assign,
        "ext-shuffle-order": _shuffle_order,
        "ext-simhash-cap-audit": _simhash_cap_audit,
        "ext-similarity-ann": _ann_lsh,
        "ext-similarity-ivf": _ann_ivf,
        "ext-similarity-ivf-kmeans": _ann_ivf_kmeans,
        "ext-similarity-ivf-kmeans-table": _ann_ivf_kmeans_table,
        "ext-similarity-ivf-pq": _ann_ivf_pq,
        "ext-similarity-ivf-pq-table": _ann_ivf_pq_table,
        "ext-similarity-ivf-table": _ann_ivf_table,
        "ext-similarity-knn": _knn,
        "ext-similarity-pq": _ann_pq,
        "ext-snapshot-diff": _snapshot_diff,
        "ext-source-overlap": _source_overlap,
        "ext-split-leakage-free": _split_leakage_free,
        "ext-text-stats": _text_stats,
        "ext-tfidf-terms": _tfidf_terms,
        "ext-token-count": _token_count,
        "ext-token-histogram": _token_histogram,
        "ext-tokenize-pack": _tokenize_pack,
        "ext-tokenizer-fertility": _tokenizer_fertility,
        "ext-train-batch": _train_batch,
        "ext-ul2-pairs": _ul2_pairs,
        "ext-ul2-plan": _ul2_plan,
        "ext-unigram-logprob": _unigram_logprob,
        "ext-url-curation": _url_curation,
        "ext-validate-expectations": _validate_expectations,
        "ext-vocab-coverage": _vocab_coverage,
        "ext-vocabulary": _vocabulary,
        "ext-winsorize": _winsorize,
        "ext-word-entropy": _word_entropy,
        "ext-zorder-layout": _zorder_layout,
        "id-assign-monotonic": _mono_id,
        "join-above-nation-avg": _above_nation_avg,
        "join-asof-backward": _asof_backward,
        "join-asof-nearest": _asof_nearest,
        "join-asof-tags": _asof,
        "join-full-outer-activity": _full_outer_activity,
        "join-large-orders": _large_orders,
        "join-late-orders-exists": _late_orders_exists,
        "join-revenue-by-nation": _revenue_by_nation,
        "join-salted-skew": _salted_join,
        "join-semi-anti": _semi_anti,
        "join-shipping-priority": _shipping_priority,
        "join-top-supplier": _top_supplier,
        "json-extract-props": _props_json,
        "kvs-frames-with-tags": _kvs_pipeline,
        "pivot-tag-assembly": _pivot_tags,
        "query-last-row": _last,
        "query-point-lookup": _point,
        "sample-throttle-time": _throttle,
        "scan-ebml-heads": _ebml_heads,
        "scan-ebml-tokenize": _ebml_tokenize,
        "scan-element-callback": _scan_element_callback,
        "scan-prune-elements": _scan_prune,
        "segment-fragments": _segment,
        "segment-sessions-gap": _sessions_gap,
        "set-ops-users": _set_ops,
        "sink-bucketed-join": _bucketed_join_gate,
        "sink-fanout-roundtrip": _fanout_roundtrip,
        "sink-jsonl-roundtrip": _jsonl_roundtrip,
        "sink-manifest-commit": _manifest_sink_roundtrip,
        "sink-memory-bounded": _sink_memory_bounded,
        "sink-partitioned-prune": _partitioned_prune,
        "sink-png-files": _sink_png_files,
        "source-csv-roundtrip": _csv_roundtrip,
        "source-json-permissive": _json_permissive,
        "source-kvs-replay": _kvs_replay_source,
        "source-orc-roundtrip": _orc_roundtrip,
        "source-parquet-evolve": _parquet_evolve,
        "stream-asof-tags": _stream_asof,
        "stream-backpressure-multibatch": _stream_backpressure,
        "stream-bootstrap-ci": _stream_bootstrap_ci,
        "stream-cdc-compact": _stream_cdc,
        "stream-chao1-vocab": _stream_chao1_vocab,
        "stream-corpus-drift": _stream_corpus_drift,
        "stream-dedup-exact": _stream_dedup,
        "stream-dedup-incremental": _stream_dedup_incremental,
        "stream-dedup-semantic": _stream_dedup_semantic,
        "stream-distinct-intersect": _stream_distinct_intersect,
        "stream-domain-cap": _stream_domain_cap,
        "stream-enrich-static": _stream_enrich,
        "stream-eval-auc": _stream_eval_auc,
        "stream-eval-brier": _stream_eval_brier,
        "stream-eval-confusion": _stream_eval_confusion,
        "stream-eval-ece": _stream_eval_ece,
        "stream-eval-pr-auc": _stream_eval_pr_auc,
        "stream-eval-rankcorr": _stream_eval_rankcorr,
        "stream-frame-sample": _stream_frame_sample,
        "stream-grouped-drift": _stream_grouped_drift,
        "stream-heavy-hitters": _stream_heavy_hitters,
        "stream-histogram-quantile": _stream_hist_quantiles,
        "stream-hll-distinct": _stream_hll,
        "stream-importance-score": _stream_importance_score,
        "stream-join-interval": _stream_interval_join,
        "stream-ks-drift": _stream_ks_drift,
        "stream-manifest-sink": _stream_manifest_sink,
        "stream-mixture-expand": _stream_mixture_expand,
        "stream-pack-sequences": _stream_pack_sequences,
        "stream-pause-resume": _stream_pause_resume,
        "stream-psi-drift": _stream_psi_drift,
        "stream-quality-blend": _stream_quality_blend,
        "stream-quality-percentile": _stream_quality_percentile,
        "stream-rater-kappa": _stream_rater_kappa,
        "stream-restart-resume": _stream_restart_resume,
        "stream-scd2": _stream_scd2,
        "stream-segment-rollup": _stream_segment,
        "stream-semantic-decontaminate": _stream_semantic_decontaminate,
        "stream-sentence-decontaminate": _stream_sentence_decontaminate,
        "stream-sliding-agg": _stream_sliding,
        "stream-source-overlap": _stream_source_overlap,
        "stream-throttle": _stream_throttle,
        "stream-token-quota": _stream_token_quota,
        "stream-tumbling-agg": _stream_tumbling,
        "stream-vocab-coverage": _stream_vocab_coverage,
        "topk-customers": _topk_customers,
    }
    osql = oracle_sql()
    fps = {
        q: gate_fingerprint(fn, osql.get(q)) for q, fn in registry.items()
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "GATE_LEDGER.json")) as f:
        ledger = json.load(f)
    order = gate_order(registry, ledger, fps, ROWS_ONLY_BY_DESIGN)
    return {q: registry[q] for q in order}


# --------------------------------------------------------------------------
# oracle_sql() — DuckDB-runnable ANSI SQL twins
# --------------------------------------------------------------------------

# Vector-arithmetic SQL builders for the ANN oracles. Every reduction
# is an explicit LEFT FOLD (list_reduce seeded with 0.0) so the
# floating-point summation order matches Spark's F.aggregate and
# Python's sum() exactly — verified bit-identical (incl. 6-dp rounded
# cosines and every SRP sign bit) on the 500-row embeddings fixture.

def _sql_vec(vs) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vs) + "]"


def _sql_fold_sum(items: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {items}), "
            "(acc, x) -> acc + x)")


def _sql_dot(a: str, b: str) -> str:
    """Dot product of two list expressions (either may be a literal
    from _sql_vec); elements cast to double like Spark's zip_with."""
    return _sql_fold_sum(
        f"list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))"
    )


def _sql_norm(a: str) -> str:
    return "sqrt(" + _sql_fold_sum(
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    ) + ")"


def _sql_cosine(a: str, b: str) -> str:
    """Round-6 cosine, NULL on zero denominators — mirrors
    operators/similarity.py:_safe_div/cosine_scores."""
    denom = f"{_sql_norm(a)} * {_sql_norm(b)}"
    return (f"CASE WHEN {denom} > 0 "
            f"THEN ROUND({_sql_dot(a, b)} / ({denom}), 6) END")


def _sql_l2(a: str, b: str) -> str:
    d = "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    return _sql_fold_sum(
        f"list_transform(list_zip({a}, {b}), p -> {d} * {d})"
    )


# Portable 52-bit hash as a SQL template: ('0x' || first 13 md5 hex
# chars)::BIGINT == Spark's conv(substring(md5(x),1,13),16,10)
# (dedup.portable_hash52) — verified bit-identical.
_SQL_H52 = "('0x' || substr(md5({x}), 1, 13))::BIGINT"

# Sentenced-fixture CTE block shared VERBATIM by the two sentence-
# granularity twins (ext-sentence-split, ext-sentence-decontaminate)
# — mirrors the Spark side's shared _sentenced_fixture: word chunks of
# (doc_id % 5 + 3) terminated by a cycling [. ! ?]; %19 docs NULL.
# One constant so the two oracles cannot silently desynchronize (the
# _EDGES_CTE_SQL / _CLUSTER_CTE_SQL pattern).
_SENTENCED_FIX_CTE = r"""
            base AS (
              SELECT doc_id,
                     string_split(COALESCE(text, ''), ' ') AS ws,
                     CAST(doc_id % 5 + 3 AS INT) AS csz
              FROM documents),
            nch AS (
              SELECT doc_id, ws, csz,
                     GREATEST(CAST(CEIL(len(ws) / CAST(csz AS DOUBLE))
                                   AS INT), 1) AS n_chunks
              FROM base),
            fix AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 19 = 0 THEN NULL ELSE
                       array_to_string(
                         list_transform(range(1, n_chunks + 1), i ->
                           array_to_string(
                             ws[(i - 1) * csz + 1 : i * csz], ' ')
                           || ['.', '!', '?'][(i % 3) + 1]),
                         ' ')
                     END AS text
              FROM nch),
            marked AS (
              SELECT doc_id,
                     regexp_replace(text, '([.!?])[ \t\r\n\f]+',
                                    '\1' || chr(30), 'g') AS m
              FROM fix),
            parts AS (
              SELECT doc_id, string_split(m, chr(30)) AS ps
              FROM marked WHERE m IS NOT NULL)"""



def _sql_srp_bucket(vec: str, planes) -> str:
    """SRP bucket id: one sign bit per literal hyperplane — mirrors
    operators/similarity.py:srp_bucket."""
    return " + ".join(
        f"(CASE WHEN {_sql_dot(vec, _sql_vec(p))} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def _bm25_oracle_sql(words_lower: str, k1: float = 1.5, b: float = 0.75,
                     k: int = 20) -> str:
    """DuckDB twin of operators/text.py:bm25_rank on BM25_QUERY.

    Every float input (tf, dl, df_t, N, sum_dl) is an exact integer
    and the score is replayed as the same left-to-right chain of ops
    as the Spark expression, so the 4-dp rounded score is
    bit-identical — rank ties break on doc_id in both engines.
    """
    tf_cols = ",\n                   ".join(
        f"len(list_filter(words, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(BM25_QUERY)
    )
    df_cols = ",\n                   ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_QUERY))
    )
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    score = "0.0"
    for i in range(len(BM25_QUERY)):
        idf = f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        tfd = f"CAST(tf_{i} AS DOUBLE)"
        denom = (f"({tfd} + {k1} * ({1.0 - b!r} + {b} * "
                 f"(CAST(dl AS DOUBLE) / {avgdl})))")
        score = f"({score} + {idf} * (({tfd} * {k1 + 1.0!r}) / {denom}))"
    return f"""
        WITH w AS (SELECT doc_id, {words_lower} AS words FROM documents),
        base AS (SELECT doc_id, len(words) AS dl,
                   {tf_cols}
                 FROM w),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
                   {df_cols}
                  FROM base),
        scored AS (
          SELECT doc_id, CAST(dl AS BIGINT) AS doc_len,
                 ROUND({score}, 4) AS bm25
          FROM base CROSS JOIN stats)
        SELECT doc_id, doc_len, bm25,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                 AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def _bpe_oracle_sql(n_merges: int = 10, encode: bool = False,
                    pack_capacity: int | None = None) -> str:
    """DuckDB twin of operators/text.py:bpe_train_merges (and, with
    `encode=True`, of bpe_encode_corpus run with the merges trained
    on the SAME corpus at the same n_merges: the final vocab state
    v{n} IS the per-word tokenization after all n merges, so the
    encode twin joins per-(doc, word) counts against len(v{n}.toks);
    sound whenever training's early stop does not trigger, which the
    train twin's guard verifies). `pack_capacity` (implies encode)
    appends the pack_sequences prefix-sum tail over the REAL
    n_bpe_tokens — the tokenize->pack composition twin.

    Replays every merge round exactly: weighted adjacent-pair counts
    over the (word, freq) vocab, the (count DESC, left, right)
    argmax, and the GREEDY LEFT-TO-RIGHT merge application as a
    per-word recursive CTE (state machine: one or two tokens consumed
    per step). A separator-string REPLACE oracle is NOT sound here —
    a pattern `l||sep||r` can match a token TAIL (["ba","a"] vs merge
    (a,a)), and sep-wrapped patterns consume the shared boundary
    (4x`a` merges to [aa,a,a], not [aa,aa]) — hence the recursion.

    Every multiply-referenced CTE is MATERIALIZED: the scalar
    argmax subqueries inside the recursive step would otherwise
    re-inline the whole upstream plan per reference (exponential in
    n_merges; exhausts file descriptors before it exhausts time).

    The cumulative-min guard replays the trainer's early stop: Spark
    breaks BEFORE emitting a merge whose count < 2, so ranks at and
    after the first sub-2 count are excluded.
    """
    parts = [r"""
        WITH RECURSIVE w AS MATERIALIZED (
          SELECT doc_id,
                 CASE WHEN text IS NULL OR length(trim(text)) = 0
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(text), '\s+') END AS ws
          FROM documents),
        vocab AS MATERIALIZED (
          SELECT wd, COUNT(*) AS freq
          FROM (SELECT UNNEST(ws) AS wd FROM w)
          WHERE wd <> '' GROUP BY wd),
        v0 AS MATERIALIZED (
          SELECT wd, freq,
                 list_append(string_split(wd, ''), '</w>') AS toks
          FROM vocab)"""]
    for k in range(n_merges):
        parts.append(f""",
        p{k} AS MATERIALIZED (
          SELECT lt, rt, SUM(freq) AS c FROM (
            SELECT freq, toks[i] AS lt, toks[i + 1] AS rt
            FROM (SELECT freq, toks,
                         UNNEST(generate_series(1, len(toks) - 1)) AS i
                  FROM v{k})
          ) GROUP BY lt, rt),
        m{k} AS MATERIALIZED (SELECT lt, rt, c FROM p{k}
                 ORDER BY c DESC, lt, rt LIMIT 1),
        a{k}(wd, freq, rest, outts) AS (
          SELECT wd, freq, toks, CAST([] AS VARCHAR[]) FROM v{k}
          UNION ALL
          SELECT wd, freq,
            CASE WHEN len(rest) >= 2
                  AND rest[1] = (SELECT lt FROM m{k})
                  AND rest[2] = (SELECT rt FROM m{k})
                 THEN rest[3:] ELSE rest[2:] END,
            list_append(outts,
              CASE WHEN len(rest) >= 2
                    AND rest[1] = (SELECT lt FROM m{k})
                    AND rest[2] = (SELECT rt FROM m{k})
                   THEN rest[1] || rest[2] ELSE rest[1] END)
          FROM a{k} WHERE len(rest) > 0),
        v{k + 1} AS MATERIALIZED (
          SELECT wd, freq, outts AS toks FROM a{k} WHERE len(rest) = 0)""")
    if encode or pack_capacity is not None:
        parts.append(f""",
        tokc AS (
          SELECT doc_id, wd, COUNT(*) AS c
          FROM (SELECT doc_id, UNNEST(ws) AS wd FROM w)
          WHERE wd <> '' GROUP BY doc_id, wd),
        wlen AS (SELECT wd, len(toks) AS nt FROM v{n_merges}),
        agg AS (
          SELECT doc_id, SUM(c) AS n_words, SUM(c * nt) AS n_bpe_tokens
          FROM tokc JOIN wlen USING (wd) GROUP BY doc_id)""")
        if pack_capacity is None:
            parts.append("""
        SELECT d.doc_id,
               CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
        FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id""")
            return "".join(parts)
        cap = int(pack_capacity)
        parts.append(f""",
        enc AS (
          SELECT d.doc_id,
                 CAST(COALESCE(n_bpe_tokens, 0) AS BIGINT) AS n_tokens
          FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id),
        cumt AS (
          SELECT doc_id, n_tokens,
            CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
          FROM enc)
        SELECT doc_id, n_tokens,
               tok_end - n_tokens AS tok_start, tok_end,
               (tok_end - n_tokens) // {cap} AS seq_first,
               CASE WHEN n_tokens > 0 THEN (tok_end - 1) // {cap}
                    ELSE (tok_end - n_tokens) // {cap} END AS seq_last,
               (CASE WHEN n_tokens > 0 THEN (tok_end - 1) // {cap}
                     ELSE (tok_end - n_tokens) // {cap} END)
                 - ((tok_end - n_tokens) // {cap}) + 1 AS n_seqs
        FROM cumt""")
        return "".join(parts)
    sel = "\n            UNION ALL ".join(
        f"SELECT {k} AS rank, lt, rt, c FROM m{k}" for k in range(n_merges)
    )
    parts.append(f""",
        sel AS (
            {sel}),
        guarded AS (
          SELECT rank, lt, rt, c,
                 MIN(c) OVER (ORDER BY rank
                              ROWS UNBOUNDED PRECEDING) AS minc
          FROM sel)
        SELECT CAST(rank AS BIGINT) AS rank, lt AS "left", rt AS "right",
               CAST(c AS BIGINT) AS pair_count
        FROM guarded WHERE minc >= 2""")
    return "".join(parts)


# Shared by ext-dedup-cluster, ext-split-leakage-free, and
# ext-pagerank-dups: the n-gram-Jaccard candidate-pair edge set
# (mirrors operators/dedup.py ngram_jaccard_pairs; symmetric UNION,
# hot-shingle cap 100, round-4 jaccard >= 0.3). One string so the
# oracles cannot silently diverge.
_EDGES_CTE_SQL = """
            WITH RECURSIVE w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM g GROUP BY doc_id),
            hot AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) > 100),
            posts AS (SELECT doc_id, s FROM g
                      WHERE s NOT IN (SELECT s FROM hot)),
            cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS n_common
              FROM posts a JOIN posts b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            sel AS (
              SELECT id_a, id_b FROM cand
              JOIN sizes sa ON sa.doc_id = cand.id_a
              JOIN sizes sb ON sb.doc_id = cand.id_b
              WHERE ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common
                                          AS DOUBLE), 4) >= 0.3),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM sel
              UNION
              SELECT id_b, id_a FROM sel)"""


# Min-label connected components on top of the shared edge CTE.
# Built by CONCATENATION so the resulting string stays byte-identical
# to the r2/r3 form the cluster/split oracles gated green with.
_CLUSTER_CTE_SQL = _EDGES_CTE_SQL + """,
            reach(node, r) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, reach.r FROM reach JOIN edges e
                ON e.src = reach.node),
            cc AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node)"""


# Closed-window set under a 1 h watermark — shared by the streaming
# tumbling rollup and its restart-resume two-phase form (identical
# emitted set is exactly the restart-determinism property).
_TUMBLING_CLOSED_SQL = """
    WITH rollup AS (
      -- FLOOR, not //: DuckDB's // on DOUBLE does not floor
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 AS ws,
             COUNT(*) AS n_events,
             ROUND(SUM(value), 2) AS sum_value,
             MAX(event_id) AS max_event_id
      FROM events GROUP BY 1),
    wm AS (SELECT ((MAX(epoch_us(ts)) // 1000) - 3600000) * 1000
             AS wm_us FROM events)
    SELECT make_timestamp(ws * 1000000) AS w_start,
           make_timestamp((ws + 3600) * 1000000) AS w_end,
           n_events, sum_value, max_event_id
    FROM rollup, wm
    WHERE (ws + 3600) * 1000000 <= wm_us
"""


# stream-pause-resume twin: the same closed-window set, plus the
# listener-observed input-row counter — every event crosses the
# pipeline exactly once across the pause, so the observed total
# equals COUNT(*) of the batch table.
_TUMBLING_CLOSED_OBS_SQL = """
    WITH rollup AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 AS ws,
             COUNT(*) AS n_events,
             ROUND(SUM(value), 2) AS sum_value,
             MAX(event_id) AS max_event_id
      FROM events GROUP BY 1),
    wm AS (SELECT ((MAX(epoch_us(ts)) // 1000) - 3600000) * 1000
             AS wm_us FROM events),
    obs AS (SELECT CAST(COUNT(*) AS BIGINT) AS observed_rows FROM events)
    SELECT make_timestamp(ws * 1000000) AS w_start,
           make_timestamp((ws + 3600) * 1000000) AS w_end,
           n_events, sum_value, max_event_id, observed_rows
    FROM rollup, wm, obs
    WHERE (ws + 3600) * 1000000 <= wm_us
"""


# Incremental-ingest dedup twin, shared VERBATIM by the batch entry
# (ext-dedup-incremental, gated green r5) and its streaming form
# (stream-dedup-incremental): every flag depends only on
# (new doc, corpus), so the streamed per-batch union equals the
# single-batch result — one string, so the two can never diverge.
_INC_DEDUP_ORACLE_SQL = r"""
            WITH newb AS (SELECT doc_id, text FROM documents
                          WHERE doc_id % 3 = 0),
            corp AS (SELECT doc_id, text FROM documents
                     WHERE doc_id % 3 <> 0),
            dg AS (SELECT DISTINCT sha256(trim(lower(coalesce(text, ''))))
                     AS d FROM corp),
            nw AS (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS ws
                   FROM newb WHERE length(trim(coalesce(text, ''))) > 0),
            cw AS (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS ws
                   FROM corp WHERE length(trim(coalesce(text, ''))) > 0),
            ng AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM nw WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            cg AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM cw WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            hot AS (SELECT s FROM cg GROUP BY s HAVING COUNT(*) > 100),
            capped AS (SELECT doc_id, s FROM cg
                       WHERE s NOT IN (SELECT s FROM hot)),
            ov AS (
              SELECT doc_id, MAX(cnt) AS max_overlap
              FROM (SELECT ng.doc_id AS doc_id, capped.doc_id AS cid,
                           COUNT(*) AS cnt
                    FROM ng JOIN capped ON ng.s = capped.s
                    GROUP BY 1, 2) sub
              GROUP BY 1)
            SELECT n.doc_id, n.text,
              (sha256(trim(lower(coalesce(n.text, '')))) IN
                 (SELECT d FROM dg)) AS exact_dup,
              CAST(COALESCE(ov.max_overlap, 0) AS BIGINT) AS max_overlap,
              COALESCE(ov.max_overlap, 0) >= 5 AS near_dup
            FROM newb n LEFT JOIN ov ON ov.doc_id = n.doc_id
        """


# snapshot_diff digest twin (operators/compaction.py): length-prefixed
# length|value serialization per compared column — sha256(VARCHAR) in
# DuckDB hashes the UTF-8 bytes, identical to Spark's string -> binary
# cast feeding sha2. COALESCE mirrors the Spark encoding's NULL arm
# exactly ('-1|' length prefix, empty value): DuckDB concat() SKIPS
# NULL arguments, so without it a NULL compare value would serialize
# as just '|' and the digests would diverge.
_SNAPDIFF_DIGEST_SQL = (
    "sha256(concat("
    "coalesce(CAST(length(CAST(user_id AS VARCHAR)) AS VARCHAR), '-1'), "
    "'|', coalesce(CAST(user_id AS VARCHAR), ''), "
    "coalesce(CAST(length(event_type) AS VARCHAR), '-1'), "
    "'|', coalesce(event_type, '')))"
)


def _quality_blend_cut_cte(tag: str, expr: str, lo: float, hi: float,
                           n_bins: int) -> str:
    """Histogram-quantile cut-point CTE chain for one quality-blend
    signal — replays sketches.histogram_quantiles_multi's arithmetic
    (same bin clamp, first-crossing interpolation, 4 dp rounding)."""
    width = (hi - lo) / n_bins
    return f"""
        b_{tag} AS (
          SELECT LEAST(GREATEST(
                   CAST(FLOOR((({expr}) - {lo}) / {width}) AS INT), 0),
                   {n_bins - 1}) AS bin
          FROM sig WHERE ({expr}) IS NOT NULL),
        c_{tag} AS (SELECT bin, COUNT(*) AS c FROM b_{tag} GROUP BY 1),
        cum_{tag} AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum,
                             SUM(c) OVER () AS total FROM c_{tag}),
        cuts_{tag} AS (
          SELECT q.q,
            MIN_BY(ROUND({lo} + (bin
              + (CEIL(q.q * total) - (cum - c)) / CAST(c AS DOUBLE))
              * {width}, 4), bin) AS est
          FROM cum_{tag} CROSS JOIN q
          WHERE cum >= CEIL(q.q * total)
          GROUP BY q.q),
        lohi_{tag} AS (
          SELECT MIN(CASE WHEN q = 0.01 THEN est END) AS lo_cut,
                 MIN(CASE WHEN q = 0.99 THEN est END) AS hi_cut
          FROM cuts_{tag})"""


def _quality_blend_oracle_sql() -> str:
    """DuckDB twin of the ext-quality-blend gated query: per-signal
    winsorize-normalization from histogram cut points + the
    NULL-renormalized weighted mean, 6 dp rounding — value-identical
    to the Spark operator (proven in tests/test_round6_ops.py)."""

    def norm_expr(tag: str, expr: str) -> str:
        # Degenerate-cut guard mirrors the operator (corpus_prep.
        # quality_blend): a constant-valued signal (hi_cut = lo_cut)
        # contributes 0.5 for non-NULL values instead of NULL/inf
        # from the zero-width division.
        # NULL guard on BOTH branches (DuckDB least/greatest skip
        # NULLs like Spark's, so an unguarded clip maps NULL to
        # lo_cut): a NULL signal stays NULL, mirroring the operator.
        return (f"CASE WHEN ({expr}) IS NULL THEN NULL"
                f" WHEN lohi_{tag}.hi_cut = lohi_{tag}.lo_cut THEN 0.5"
                f" ELSE ROUND((LEAST(GREATEST(CAST({expr} AS DOUBLE), "
                f"lohi_{tag}.lo_cut), lohi_{tag}.hi_cut) - lohi_{tag}.lo_cut)"
                f" / (lohi_{tag}.hi_cut - lohi_{tag}.lo_cut), 6) END")

    chars = "CAST(length(text) AS DOUBLE)"
    words = ("CASE WHEN length(trim(coalesce(text, ''))) > 0 THEN "
             "CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) END")
    nc, nw = norm_expr("c", chars), norm_expr("w", words)
    return f"""
        WITH sig AS (SELECT doc_id, text FROM documents),
        q AS (SELECT UNNEST(CAST([0.01, 0.99] AS DOUBLE[])) AS q),
        {_quality_blend_cut_cte('c', chars, 0.0, 2000.0, 200).lstrip()},
        {_quality_blend_cut_cte('w', words, 0.0, 400.0, 200).lstrip()}
        SELECT doc_id,
               {nc} AS norm_n_chars,
               {nw} AS norm_n_words,
               CASE WHEN (CASE WHEN {nc} IS NOT NULL THEN 0.6 ELSE 0 END
                        + CASE WHEN {nw} IS NOT NULL THEN 0.4 ELSE 0 END) > 0
                 THEN ROUND(
                   (COALESCE({nc} * 0.6, 0) + COALESCE({nw} * 0.4, 0))
                   / (CASE WHEN {nc} IS NOT NULL THEN 0.6 ELSE 0 END
                    + CASE WHEN {nw} IS NOT NULL THEN 0.4 ELSE 0 END), 6)
               END AS quality_blend
        FROM sig CROSS JOIN lohi_c CROSS JOIN lohi_w
    """


def _quality_blend_stream_oracle_sql() -> str:
    """DuckDB twin of the stream-quality-blend gated query: the
    ext-quality-blend chain with the halves SPLIT — cut points from
    the even doc_id half, normalization/blend over the odd half
    (per-row determinism makes the streaming union equal the batch
    form; proven in tests/test_round8_ops.py)."""

    def norm_expr(tag: str, expr: str) -> str:
        return (f"CASE WHEN ({expr}) IS NULL THEN NULL"
                f" WHEN lohi_{tag}.hi_cut = lohi_{tag}.lo_cut THEN 0.5"
                f" ELSE ROUND((LEAST(GREATEST(CAST({expr} AS DOUBLE), "
                f"lohi_{tag}.lo_cut), lohi_{tag}.hi_cut) - lohi_{tag}.lo_cut)"
                f" / (lohi_{tag}.hi_cut - lohi_{tag}.lo_cut), 6) END")

    chars = "CAST(length(text) AS DOUBLE)"
    words = ("CASE WHEN length(trim(coalesce(text, ''))) > 0 THEN "
             "CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) END")
    nc, nw = norm_expr("c", chars), norm_expr("w", words)
    return f"""
        WITH sig AS (SELECT doc_id, text FROM documents
                     WHERE doc_id % 2 = 0),
        q AS (SELECT UNNEST(CAST([0.01, 0.99] AS DOUBLE[])) AS q),
        {_quality_blend_cut_cte('c', chars, 0.0, 2000.0, 200).lstrip()},
        {_quality_blend_cut_cte('w', words, 0.0, 400.0, 200).lstrip()}
        SELECT doc_id,
               {nc} AS norm_n_chars,
               {nw} AS norm_n_words,
               CASE WHEN (CASE WHEN {nc} IS NOT NULL THEN 0.6 ELSE 0 END
                        + CASE WHEN {nw} IS NOT NULL THEN 0.4 ELSE 0 END) > 0
                 THEN ROUND(
                   (COALESCE({nc} * 0.6, 0) + COALESCE({nw} * 0.4, 0))
                   / (CASE WHEN {nc} IS NOT NULL THEN 0.6 ELSE 0 END
                    + CASE WHEN {nw} IS NOT NULL THEN 0.4 ELSE 0 END), 6)
               END AS quality_blend
        FROM (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1)
        CROSS JOIN lohi_c CROSS JOIN lohi_w
    """


def oracle_sql() -> dict[str, str]:
    pivot_cols = ",\n  ".join(
        "COALESCE(ROUND(SUM(CASE WHEN event_type = '{t}' THEN value END), 2), 0.0)"
        " AS {t}".format(t=t)
        for t in EVENT_TYPES
    )
    stop_list = "['the','a','and','of','to','in','is','it']"
    # COALESCE: NULL text == empty document on both engines (the Spark
    # side coalesces inside operators/text.py:_words / token_count).
    words_expr = (
        "CASE WHEN length(trim(COALESCE(text, ''))) = 0 THEN CAST([] AS VARCHAR[]) "
        "ELSE string_split_regex(trim(COALESCE(text, '')), '\\s+') END"
    )
    words_lower = (
        "CASE WHEN length(trim(COALESCE(text, ''))) = 0 THEN CAST([] AS VARCHAR[]) "
        "ELSE string_split_regex(lower(trim(COALESCE(text, ''))), '\\s+') END"
    )
    lang_markers = {
        "de": "['der','die','und','das','ist']",
        "en": "['the','and','of','to','a']",
        "es": "['el','la','de','que','y']",
        "fr": "['le','la','et','les','des']",
    }
    lang_scores = ",\n    ".join(
        f"len(list_filter(words, w -> list_contains({arr}, w))) AS s_{lang}"
        for lang, arr in lang_markers.items()
    )

    # --- PII redaction twin (operators/text.py:PII_PATTERNS) ---
    # Same regexes (Java-regex/RE2 common subset), same order; DuckDB
    # needs the explicit 'g' flag Spark's regexp_replace implies.
    from awskinesisconsumer_spark.operators.text import PII_PATTERNS

    pii_inj = (
        "COALESCE(text, '') || ' contact user' || doc_id || "
        "'@example.com ip 10.0.' || (doc_id % 256) || '.7 call 415-555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 123-45-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    # Counts are incremental, like the operator: pattern i is counted
    # on the text after patterns 0..i-1 were redacted, so counts agree
    # exactly with the tokens visible in the output.
    _pii_count_parts = []
    _pii_cur = "t"
    for name, pat, tok in PII_PATTERNS:
        _pii_count_parts.append(
            f"CAST(len(regexp_extract_all({_pii_cur}, '{pat}')) AS BIGINT)"
            f" AS n_{name}"
        )
        _pii_cur = f"regexp_replace({_pii_cur}, '{pat}', '{tok}', 'g')"
    pii_counts = ",\n                   ".join(_pii_count_parts)
    pii_red = _pii_cur

    # --- portable-hash minhash/simhash twins (dedup.portable_hash52) ---
    # ('0x' || first 13 md5 hex chars)::BIGINT == Spark's
    # conv(substring(md5(x),1,13),16,10) — verified bit-identical.
    def p52(expr: str) -> str:
        return f"('0x' || substr(md5({expr}), 1, 13))::BIGINT"

    # The one SQL-side 8-char shingle position CTE body — the twin
    # of the Spark-side _char8_shingles helper (r13 README plan):
    # every KMV / MinHash source-overlap twin builds its `pos` CTE
    # from this, so the stream/batch/SQL shingle parity hinges on a
    # single definition on each side.
    def sql_pos8(where: str) -> str:
        return ("SELECT lang, text, unnest(range(1, len(text)-6)) "
                f"AS i\n          FROM documents WHERE {where}")

    # HLL bias constant * m^2 (p=9): the SAME Python float literal the
    # Spark side bakes in via F.lit(hll_alpha(m) * m * m).
    from awskinesisconsumer_spark.operators.sketches import hll_alpha

    _HLL_ALPHA_M2 = hll_alpha(512) * 512 * 512

    # Z-order bit-interleave formula: the SAME bit math the Spark side
    # folds in operators/layout.py:zorder_value, emitted as SQL.
    from awskinesisconsumer_spark.operators.layout import zorder_sql

    _ZSQL = zorder_sql("xb", "yb", bits=8)

    mh_n, mh_bands, mersenne = 32, 8, (1 << 31) - 1
    mh_rpb = mh_n // mh_bands
    mh_mins = ",\n                     ".join(
        f"MIN((h * {2 * i + 1} + {7919 * (i + 1)}) % {mersenne}) AS m{i}"
        for i in range(mh_n)
    )
    mh_bands_sql = "\n              UNION ALL\n              ".join(
        f"SELECT doc_id, {b} AS band, "
        + p52("concat_ws(',', "
              + ", ".join(f"m{b * mh_rpb + r}" for r in range(mh_rpb))
              + ")")
        + " AS band_hash FROM sig"
        for b in range(mh_bands)
    )
    mh_match = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(mh_n)
    )
    sh_bits = 16
    sh_votes = ",\n                   ".join(
        f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(sh_bits)
    )
    sh_fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(sh_bits)
    )
    # Hamming-banded pair twin (ext-dedup-simhash-pairs): same geometry
    # as operators/dedup.py simhash_near_dup_pairs (bits=16, bands=4,
    # max_hamming=3, hot_cap=200).
    sh_bands_n, sh_ham, sh_hot = 4, 3, 200
    sh_width = sh_bits // sh_bands_n
    sh_band_mask = (1 << sh_width) - 1
    sh_bands_sql = "\n              UNION ALL\n              ".join(
        f"SELECT doc_id, fp, {i} AS band_idx,"
        f" (fp >> {i * sh_width}) & {sh_band_mask} AS band_val FROM sig"
        for i in range(sh_bands_n)
    )

    # --- ANN oracles: the same seeded hyperplanes the Spark queries use,
    # inlined as SQL literals (deterministic_planes is pure f(seed)).
    ann_planes = deterministic_planes(64, 8)
    bucket_emb = _sql_srp_bucket("embedding", ann_planes)
    bucket_q = _sql_srp_bucket("qv", ann_planes)
    cos_q = _sql_cosine("embedding", "qv")

    # Lloyd rounds for the kmeans-refined IVF oracle: each round is
    # argmin assignment -> per-(cell, dim) ordered-fold mean ->
    # centroid rebuild (empty cells keep the previous centroid).
    # Mirrors similarity.py:kmeans_refine_centroids(order_col=...).
    def _lloyd_round(r: int) -> str:
        return f"""
            assign{r} AS (
              SELECT c.vec_id, c.embedding, t.i,
                     ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY {_sql_l2('c.embedding', 't.cv')}, t.i) AS rn
              FROM corpus c CROSS JOIN cent{r} t),
            mean{r} AS (
              SELECT i, pos,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(CAST(val AS DOUBLE) ORDER BY vec_id)),
                  (acc, v) -> acc + v) / COUNT(*) AS m
              FROM (SELECT vec_id, i, UNNEST(embedding) AS val,
                           UNNEST(generate_series(1, len(embedding))) AS pos
                    FROM assign{r} WHERE rn = 1)
              GROUP BY i, pos),
            cent{r + 1} AS (
              SELECT p.i, COALESCE(n.cv, p.cv) AS cv
              FROM cent{r} p
              LEFT JOIN (SELECT i, list(m ORDER BY pos) AS cv
                         FROM mean{r} GROUP BY i) n ON n.i = p.i)"""

    lloyd_rounds = ",".join(_lloyd_round(r) for r in range(3))

    def _pq_lloyd_round(r: int) -> str:
        # Per-subspace Lloyd round for the PQ codebooks: identical
        # shape to _lloyd_round but keyed by (subspace j, centroid i)
        # over the sliced sub-vectors. Mirrors
        # operators/similarity.py:pq_codebooks_refined (ordered fold
        # by vec_id, empty cells keep the previous centroid).
        return f"""
            passign{r} AS (
              SELECT s.vec_id, s.j, s.vs, t.i,
                     ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                       ORDER BY {_sql_l2('s.vs', 't.cs')}, t.i) AS rn
              FROM sub s JOIN pcent{r} t ON t.j = s.j),
            pmean{r} AS (
              SELECT j, i, pos,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(CAST(val AS DOUBLE) ORDER BY vec_id)),
                  (acc, v) -> acc + v) / COUNT(*) AS m
              FROM (SELECT vec_id, j, i, UNNEST(vs) AS val,
                           UNNEST(generate_series(1, len(vs))) AS pos
                    FROM passign{r} WHERE rn = 1)
              GROUP BY j, i, pos),
            pcent{r + 1} AS (
              SELECT p.j, p.i, COALESCE(n.cs, p.cs) AS cs
              FROM pcent{r} p
              LEFT JOIN (SELECT j, i, list(m ORDER BY pos) AS cs
                         FROM pmean{r} GROUP BY j, i) n
                ON n.j = p.j AND n.i = p.i)"""

    pq_lloyd_rounds = ",".join(_pq_lloyd_round(r) for r in range(2))

    d = {
        "scan-prune-elements": """
            SELECT l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
        """,
        "pivot-tag-assembly": f"""
            SELECT user_id,
              {pivot_cols}
            FROM events GROUP BY user_id
        """,
        "segment-fragments": """
            WITH seg AS (
              SELECT user_id, event_id, value,
                CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS segment_id
              FROM events)
            SELECT user_id, segment_id,
                   COUNT(*) AS n_rows,
                   ROUND(SUM(value), 2) AS sum_value,
                   MAX(event_id) AS end_position
            FROM seg GROUP BY user_id, segment_id
        """,
        "segment-sessions-gap": """
            WITH flagged AS (
              SELECT user_id, event_id, ts, value,
                CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                     THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            sess AS (
              SELECT user_id, event_id, value,
                CAST(SUM(new_session) OVER (
                  PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
              FROM flagged)
            SELECT user_id, session_id,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS sum_value,
                   MAX(event_id) AS last_event_id
            FROM sess GROUP BY user_id, session_id
        """,
        "agg-percentiles": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.5), 4) AS p50,
                   ROUND(quantile_cont(value, 0.95), 4) AS p95,
                   ROUND(MAX(value), 2) AS max_value
            FROM events GROUP BY event_type
        """,
        "error-route": """
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE event_type = 'error'
        """,
        "demux-decode-explode": """
            SELECT event_id,
                   CAST(UNNEST(generate_series(1, CAST(event_id % 3 + 1 AS BIGINT))) AS INT)
                     AS frame_seq,
                   value
            FROM events WHERE event_type = 'click'
        """,
        "join-asof-tags": """
            WITH base AS (
              SELECT user_id, event_id, value, event_type,
                MIN(CASE WHEN event_type = 'signup' THEN event_id END)
                  OVER (PARTITION BY user_id ORDER BY event_id DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS tag_event_id
              FROM events)
            SELECT b.user_id, b.event_id, b.value, b.tag_event_id,
                   CAST(e2.ts AS TIMESTAMP) AS tag_ts
            FROM base b
            LEFT JOIN events e2
              ON e2.user_id = b.user_id AND e2.event_id = b.tag_event_id
            WHERE b.event_type <> 'signup'
        """,
        "join-asof-backward": """
            SELECT p.user_id, p.event_id, p.value,
                   t.tag_event_id, t.tag_value
            FROM (SELECT user_id, event_id, ts, value FROM events
                  WHERE event_type <> 'signup') p
            ASOF LEFT JOIN
                 (SELECT user_id, event_id AS tag_event_id,
                         value AS tag_value FROM events
                  WHERE event_type = 'signup') t
            ON p.user_id = t.user_id AND p.event_id >= t.tag_event_id
        """,
        "id-assign-monotonic": """
            SELECT event_id, user_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
                        AS BIGINT) AS row_id
            FROM events
        """,
        "sample-throttle-time": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
            FROM events
            QUALIFY ROW_NUMBER() OVER (
              PARTITION BY user_id, CAST(FLOOR(EPOCH(ts) / 600) AS BIGINT)
              ORDER BY event_id) = 1
        """,
        "enqueue-bounded-retention": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
            FROM events
            QUALIFY ROW_NUMBER() OVER (
              PARTITION BY user_id ORDER BY event_id DESC) <= 5
        """,
        "query-point-lookup": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                   event_type, value, props
            FROM events WHERE event_id = 57
        """,
        "query-last-row": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
            FROM events
            QUALIFY ROW_NUMBER() OVER (ORDER BY event_id DESC) = 1
        """,
        "agg-pricing-summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join-revenue-by-nation": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "topk-customers": """
            SELECT c_custkey, c_name, ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 10
        """,
        "join-semi-anti": """
            SELECT c_custkey, c_name, TRUE AS has_orders
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            UNION ALL
            SELECT c_custkey, c_name, FALSE AS has_orders
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "agg-rollup-revenue": """
            SELECT r_name, n_name,
                   ROUND(SUM(o_totalprice), 2) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "set-ops-users": """
            SELECT user_id FROM events
            WHERE event_type = 'purchase' AND value > 180.0
            INTERSECT
            SELECT user_id FROM events
            WHERE event_type = 'signup' AND value > 180.0
            EXCEPT
            SELECT user_id FROM events
            WHERE event_type = 'error' AND value > 195.0
        """,
        "agg-distinct-users": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "json-extract-props": """
            SELECT event_type,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
                     AS avg_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """,
        "agg-tumbling-window": """
            SELECT make_timestamp(CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT)
                                  * 1000000) AS w_start,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS sum_value
            FROM events
            GROUP BY 1
        """,
        "ext-dedup-exact": """
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
            FROM documents GROUP BY text
        """,
        # Streaming form ends in the same final state as the batch op.
        "stream-dedup-exact": """
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
            FROM documents GROUP BY text
        """,
        # Streaming throttle admits exactly one row per (user, span
        # bucket); WHICH row is arrival-order-dependent, so the query
        # (and this oracle) compare the admitted bucket set.
        "stream-throttle": f"""
            SELECT DISTINCT user_id,
                   CAST(FLOOR(EPOCH(ts) / {THROTTLE_SPAN_S})
                        * {THROTTLE_SPAN_S} AS BIGINT) AS bucket_start
            FROM events
        """,
        "ext-bm25-rank": _bm25_oracle_sql(words_lower),
        "ext-join-range": """
            WITH pts AS (
              SELECT event_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ep
              FROM events),
            wins AS (
              SELECT CAST(EPOCH(date_trunc('hour', ts)) AS BIGINT)
                       AS win_start,
                     COUNT(*) AS n_anchor
              FROM events GROUP BY 1 HAVING COUNT(*) >= 15)
            SELECT p.event_id, w.win_start,
                   w.win_start + 7200 AS win_end, w.n_anchor
            FROM pts p JOIN wins w
              ON p.ep >= w.win_start AND p.ep < w.win_start + 7200
        """,
        "ext-embedding-quantize": """
            WITH v AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            s AS (
              SELECT vec_id, v,
                ROUND(CASE WHEN m > 0 THEN m / 127.0 ELSE 0.0 END, 9)
                  AS scale
              FROM (SELECT vec_id, v,
                      list_reduce(
                        list_prepend(CAST(0.0 AS DOUBLE),
                          list_transform(v, x -> abs(x))),
                        (a, x) -> greatest(a, x)) AS m
                    FROM v)),
            q AS (
              SELECT vec_id, v, scale,
                CASE WHEN scale > 0 THEN
                  list_transform(v, x -> CAST(GREATEST(-127, LEAST(127,
                    CAST(ROUND(x / scale, 0) AS INT))) AS TINYINT))
                ELSE list_transform(v, x -> CAST(0 AS TINYINT)) END AS qvec
              FROM s)
            SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec,
              CASE WHEN len(v) > 0 THEN
                ROUND(list_reduce(
                  list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(list_zip(qvec, v),
                      p -> abs(CAST(p[1] AS DOUBLE) * scale
                               - CAST(p[2] AS DOUBLE)))),
                  (a, x) -> greatest(a, x)), 6)
              END AS max_abs_err
            FROM q
        """,
        "ext-sequence-build": """
            WITH ranked AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                     event_type,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC)
                       AS rn,
                     COUNT(*) OVER (PARTITION BY user_id) AS n
              FROM events)
            SELECT user_id, CAST(n AS BIGINT) AS n_events,
                   array_to_string(
                     list(event_type ORDER BY ts, event_id), ',') AS seq,
                   MIN(ts) AS seq_start_ts,
                   MAX(ts) AS seq_end_ts
            FROM ranked WHERE rn <= 20
            GROUP BY user_id, n
        """,
        "ext-url-curation": """
            WITH inj AS (
              SELECT doc_id,
                CASE WHEN doc_id % 17 = 0 THEN 'not a url'
                     WHEN doc_id % 11 = 0 THEN
                       'http://spam-mill.com/offers/' || doc_id
                     WHEN doc_id % 13 = 0 THEN 'https://t.co/' || doc_id
                     ELSE 'HTTPS://WWW.Site' || (doc_id % 7)
                          || '.Example.COM'
                          || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
                          || '/Docs/' || doc_id
                          || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
                          || CASE WHEN doc_id % 5 = 0 THEN '?utm=x' ELSE '' END
                          || CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END
                END AS url
              FROM documents),
            parts AS (
              SELECT doc_id,
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(regexp_replace(
                  lower(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  ':(80|443)$', ''), '^www\\.', '') AS host,
                regexp_replace(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  '/+$', '') AS path
              FROM inj),
            feat AS (
              SELECT doc_id, scheme, host, path,
                     scheme <> '' AND host <> '' AS ok,
                     regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain
              FROM parts)
            SELECT doc_id,
                   CASE WHEN ok THEN scheme || '://' || host || path END
                     AS norm_url,
                   CASE WHEN ok AND domain <> '' THEN domain END AS domain,
                   CASE WHEN ok THEN domain IN
                     ('spam-mill.com', 'link-farm.net', 't.co')
                   ELSE FALSE END AS blocked
            FROM feat
        """,
        # --- second r8 wave (oracles proven verbatim in
        #     tests/test_round8_ops.py) ---
        # Audio decimation twin: the synthesis formula over strided
        # indices; all stats are exact int16 integers.
        # Layout twin: the interleave chain + per-shard cumsum in
        # pos order + pack span arithmetic, chained in one statement.
        "ext-layout-corpus": r"""
            WITH w AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 0.4
                                 WHEN 'src1' THEN 0.3
                                 WHEN 'src2' THEN 0.2
                                 WHEN 'src3' THEN 0.1
                     END AS wt,
                     ('0x' || substr(md5(doc_id::VARCHAR || chr(31)
                                         || 'v1'), 1, 13))::BIGINT AS sk,
                     CAST(CASE WHEN length(trim(COALESCE(text, ''))) = 0
                          THEN 0
                          ELSE len(string_split_regex(
                                 trim(COALESCE(text, '')), '\s+'))
                     END AS BIGINT) AS n_tokens
              FROM documents),
            f AS (SELECT * FROM w WHERE wt IS NOT NULL),
            p AS (
              SELECT doc_id, source, wt, sk, n_tokens,
                     CAST(sk % 4 AS INT) AS shard,
                     CAST(ROW_NUMBER() OVER (PARTITION BY source,
                       sk % 4 ORDER BY sk, doc_id) AS DOUBLE) AS p
              FROM f),
            k AS (SELECT doc_id, source, shard, n_tokens,
                         (p - 0.5) / wt AS stride_key
                  FROM p),
            o AS (
              SELECT doc_id, source, shard, n_tokens,
                     ROUND(stride_key, 6) AS stride_key,
                     CAST(ROW_NUMBER() OVER (PARTITION BY shard
                       ORDER BY stride_key, source, doc_id) AS BIGINT)
                       AS pos_in_shard
              FROM k),
            c AS (
              SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard
                          ORDER BY pos_in_shard) AS BIGINT) AS tok_end
              FROM o)
            SELECT doc_id, source, shard, pos_in_shard, stride_key,
                   n_tokens, tok_end - n_tokens AS tok_start, tok_end,
                   (tok_end - n_tokens) // 128 AS seq_first,
                   CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 128
                        ELSE (tok_end - n_tokens) // 128 END
                     AS seq_last,
                   (CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 128
                         ELSE (tok_end - n_tokens) // 128 END)
                     - ((tok_end - n_tokens) // 128) + 1 AS n_seqs
            FROM c
        """,
        # Interleave twin: hash positions, stride keys, merge rank —
        # exact IEEE arithmetic on (integer position, literal weight)
        # makes the per-shard order engine-identical.
        "ext-interleave-mixture": """
            WITH w AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 0.4
                                 WHEN 'src1' THEN 0.3
                                 WHEN 'src2' THEN 0.2
                                 WHEN 'src3' THEN 0.1
                     END AS wt,
                     ('0x' || substr(md5(doc_id::VARCHAR || chr(31)
                                         || 'v1'), 1, 13))::BIGINT AS sk
              FROM documents),
            f AS (SELECT * FROM w WHERE wt IS NOT NULL),
            p AS (
              SELECT doc_id, source, wt, sk,
                     CAST(sk % 4 AS INT) AS shard,
                     CAST(ROW_NUMBER() OVER (PARTITION BY source,
                       sk % 4 ORDER BY sk, doc_id) AS DOUBLE) AS p
              FROM f),
            k AS (SELECT doc_id, source, shard,
                         (p - 0.5) / wt AS stride_key
                  FROM p)
            SELECT doc_id, source, shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard
                     ORDER BY stride_key, source, doc_id) AS BIGINT)
                     AS pos_in_shard,
                   ROUND(stride_key, 6) AS stride_key
            FROM k
        """,
        # Shuffle-order twin: the portable hash + per-shard window
        # rank replayed bit-identically.
        "ext-shuffle-order": """
            WITH k AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR || chr(31)
                                         || 'v1'), 1, 13))::BIGINT
                       AS shuffle_key
              FROM documents)
            SELECT doc_id, shuffle_key,
                   CAST(shuffle_key % 8 AS INT) AS shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % 8
                     ORDER BY shuffle_key, doc_id) AS BIGINT)
                     AS pos_in_shard
            FROM k
        """,
        "ext-audio-resample": """
            WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 30)
            SELECT doc_id,
                   CAST(2666 AS INT) AS sample_rate,
                   CAST(147 AS INT) AS n_frames,
                   CAST(SUM(((doc_id * 31 + (3 * j) * 17) % 65536)
                            - 32768) AS BIGINT) AS sum_samples,
                   CAST(SUM(ABS(((doc_id * 31 + (3 * j) * 17) % 65536)
                                - 32768)) AS BIGINT) AS sum_abs_samples
            FROM ids, range(0, 147) t(j)
            GROUP BY doc_id
        """,
        # CDC chunking twin: window-hash boundary election + LAG
        # segment reconstruction + chunk hashing (same portable
        # md5-prefix hash52 as the Spark side).
        "ext-cdc-chunk-text": f"""
            WITH d AS (SELECT doc_id, COALESCE(text, '') AS t
                       FROM documents),
            cand AS (SELECT doc_id, t, CAST(p AS INT) AS p
                     FROM d, UNNEST(range(8, length(t) + 1)) AS u(p)
                     WHERE length(t) >= 8),
            bnd AS (SELECT doc_id, p FROM cand
                    WHERE {_SQL_H52.format(x="substr(t, p - 7, 8)")}
                          % 64 = 0),
            seg AS (
              SELECT doc_id,
                     COALESCE(LAG(p) OVER (PARTITION BY doc_id
                                           ORDER BY p), 0) AS s,
                     p AS e
              FROM bnd
              UNION ALL
              SELECT d.doc_id,
                     COALESCE((SELECT MAX(p) FROM bnd b
                               WHERE b.doc_id = d.doc_id), 0),
                     length(t)
              FROM d),
            idx AS (
              SELECT doc_id, s, e,
                     CAST(ROW_NUMBER() OVER (
                         PARTITION BY doc_id ORDER BY s) - 1 AS INT)
                       AS chunk_idx
              FROM seg)
            SELECT i.doc_id, chunk_idx,
                   CAST(s AS BIGINT) AS chunk_start,
                   CAST(e - s AS BIGINT) AS chunk_len,
                   {_SQL_H52.format(
                       x="substr(t, CAST(s AS INT) + 1, "
                         "CAST(e - s AS INT))")} AS chunk_hash
            FROM idx i JOIN d USING (doc_id) WHERE e - s > 0
        """,
        # Clamped-CDC twin: same boundary election as above, then the
        # left-to-right min/max clamp fold as a per-doc recursive CTE
        # (next boundary = first candidate in [last+min, last+max],
        # else forced at last+max while > max chars remain), then the
        # LAG segment reconstruction and chunk hashing.
        "ext-cdc-chunk-clamped": f"""
            WITH RECURSIVE d AS (SELECT doc_id, COALESCE(text, '') AS t
                                 FROM documents),
            lens AS (SELECT doc_id, length(t) AS L FROM d),
            cpos AS (SELECT doc_id, CAST(p AS INT) AS p
                     FROM d, UNNEST(range(8, length(t) + 1)) AS u(p)
                     WHERE length(t) >= 8
                       AND {_SQL_H52.format(x="substr(t, p - 7, 8)")}
                           % 64 = 0),
            st AS (
              SELECT doc_id, CAST(0 AS INT) AS b, 0 AS idx, L FROM lens
              UNION ALL
              SELECT st.doc_id,
                     CAST(COALESCE(
                       (SELECT MIN(p) FROM cpos
                         WHERE cpos.doc_id = st.doc_id
                           AND p >= st.b + 32 AND p <= st.b + 128),
                       st.b + 128) AS INT),
                     idx + 1, st.L
              FROM st
              WHERE EXISTS (SELECT 1 FROM cpos
                             WHERE cpos.doc_id = st.doc_id
                               AND p >= st.b + 32 AND p <= st.b + 128)
                 OR st.L - st.b > 128
            ),
            cbnd AS (SELECT doc_id, b AS p FROM st WHERE idx > 0),
            cseg AS (
              SELECT doc_id,
                     COALESCE(LAG(p) OVER (PARTITION BY doc_id
                                           ORDER BY p), 0) AS s,
                     p AS e
              FROM cbnd
              UNION ALL
              SELECT d.doc_id,
                     COALESCE((SELECT MAX(p) FROM cbnd b
                               WHERE b.doc_id = d.doc_id), 0),
                     length(t)
              FROM d),
            cidx AS (
              SELECT doc_id, s, e,
                     CAST(ROW_NUMBER() OVER (
                         PARTITION BY doc_id ORDER BY s) - 1 AS INT)
                       AS chunk_idx
              FROM cseg)
            SELECT i.doc_id, chunk_idx,
                   CAST(s AS BIGINT) AS chunk_start,
                   CAST(e - s AS BIGINT) AS chunk_len,
                   {_SQL_H52.format(
                       x="substr(t, CAST(s AS INT) + 1, "
                         "CAST(e - s AS INT))")} AS chunk_hash
            FROM cidx i JOIN d USING (doc_id) WHERE e - s > 0
        """,
        # Frame-sampling twin: the kvs-frames arithmetic with the
        # 1-based sampled-index filter.
        "ext-frame-sample": """
            WITH d AS (
              SELECT doc_id,
                     length(CAST(doc_id AS VARCHAR)) AS idlen,
                     octet_length(encode(
                       CASE WHEN text IS NULL OR text = ''
                            THEN 'x' ELSE text END)) AS tb,
                     CAST(doc_id % 3 + 1 AS BIGINT) AS nf
              FROM documents),
            f AS (
              SELECT doc_id AS chunk_id,
                     CAST(UNNEST(generate_series(1, nf)) AS INT)
                       AS frame_idx,
                     CAST(100 + idlen
                          + (UNNEST(generate_series(1, nf)) - 1)
                            * (6 + LEAST(16, tb)) AS BIGINT)
                       AS frame_position,
                     CAST(91340000000 + doc_id AS VARCHAR)
                       AS "AWS_KINESISVIDEO_FRAGMENT_NUMBER"
              FROM d)
            SELECT * FROM f WHERE frame_idx % 2 = 1
        """,
        # Dataset-card twin: the aggregate CTEs + histogram-quantile
        # interpolation over the dup/empty-injected fixture.
        "ext-dataset-card": r"""
            WITH injected AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 0
                            THEN 'duplicated short text'
                          WHEN doc_id % 17 = 0 THEN '   '
                          ELSE text END AS text
              FROM documents),
            pd AS (
              SELECT doc_id,
                     length(COALESCE(text, '')) AS nc,
                     CASE WHEN length(trim(COALESCE(text, ''))) > 0
                          THEN len(string_split_regex(
                                 trim(COALESCE(text, '')), '\s+'))
                          ELSE 0 END AS nw,
                     COALESCE(text, '') AS t
              FROM injected),
            base AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(CASE WHEN nw = 0 THEN 1 ELSE 0 END)
                          AS DOUBLE) AS n_empty,
                     CAST(SUM(nc) AS DOUBLE) AS n_chars_total,
                     CAST(SUM(nw) AS DOUBLE) AS n_words_total,
                     CAST(COUNT(DISTINCT t) AS DOUBLE)
                       AS n_distinct_texts,
                     ROUND(AVG(nw), 6) AS mean_words
              FROM pd),
            b AS (SELECT LEAST(GREATEST(
                    CAST(FLOOR(CAST(nw AS DOUBLE) / 2.0) AS INT), 0),
                    199) AS bin FROM pd),
            c AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY 1),
            cum AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum,
                           SUM(c) OVER () AS total FROM c),
            q AS (SELECT UNNEST(CAST([0.5, 0.9, 0.99] AS DOUBLE[]))
                    AS q),
            cuts AS (
              SELECT q.q,
                     MIN_BY(ROUND((bin
                       + (CEIL(q.q * total) - (cum - c))
                         / CAST(c AS DOUBLE)) * 2.0, 4), bin) AS est
              FROM cum CROSS JOIN q
              WHERE cum >= CEIL(q.q * total) GROUP BY q.q)
            SELECT 'n_docs' AS metric, n_docs AS value FROM base
            UNION ALL SELECT 'n_empty', n_empty FROM base
            UNION ALL SELECT 'n_chars_total', n_chars_total FROM base
            UNION ALL SELECT 'n_words_total', n_words_total FROM base
            UNION ALL SELECT 'n_distinct_texts', n_distinct_texts
              FROM base
            UNION ALL SELECT 'n_exact_dup_docs',
              n_docs - n_distinct_texts FROM base
            UNION ALL SELECT 'mean_words', mean_words FROM base
            UNION ALL
            SELECT 'words_p' || CAST(CAST(q * 100 AS INT) AS VARCHAR),
                   est
            FROM cuts
        """,
        # HTML-strip twin: the SAME regex chain (RE2/Java-portable
        # subset) + ordered entity replaces, markup fixture shared
        # via _HTML_GATE_SFX (single quotes doubled for the SQL
        # literal).
        "ext-html-strip": r"""
            WITH inj AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 19 = 0 THEN NULL
                          WHEN doc_id % 7 = 0 THEN COALESCE(text, '')
                          ELSE '<p class="lead">' || COALESCE(text, '')
                               || '__SFX__' END AS text
              FROM documents),
            s1 AS (
              SELECT doc_id, text,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(text,
                        '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
                      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
                    '(?s)<!--.*?-->', ' ', 'g'),
                  '(?s)<[^>]*>', ' ', 'g') AS t
              FROM inj),
            s2 AS (
              SELECT doc_id, text,
                replace(replace(replace(replace(replace(replace(t,
                  '&nbsp;', ' '), '&quot;', '"'), '&#39;', __Q__),
                  '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS t
              FROM s1)
            SELECT doc_id,
                   trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g'))
                     AS text_clean,
                   CASE WHEN text IS NOT NULL
                        THEN regexp_matches(text, '(?s)<[^>]*>') END
                     AS had_html
            FROM s2
        """.replace("__SFX__", _HTML_GATE_SFX.replace("'", "''"))
           .replace("__Q__", "''''"),
        # Bigram-LM twin: the bigram analogue of ext-unigram-logprob
        # (indexed pair formation, count CTEs, sorted-fold mean).
        "ext-perplexity-bigram": r"""
            WITH inj AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 23 = 0 THEN 'solo'
                          WHEN doc_id % 29 = 0 THEN NULL
                          ELSE text END AS text
              FROM documents),
            w AS (
              SELECT doc_id,
                CASE WHEN length(trim(COALESCE(text, ''))) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(
                            lower(trim(COALESCE(text, ''))), '\s+')
                END AS words
              FROM inj),
            idx AS (
              SELECT doc_id, words,
                     UNNEST(generate_series(1, len(words) - 1)) AS i
              FROM w WHERE len(words) >= 2),
            pairs AS (
              SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
              FROM idx
              WHERE words[i] <> '' AND words[i + 1] <> ''),
            dbg AS (SELECT doc_id, w1, w2, COUNT(*) AS c
                    FROM pairs GROUP BY 1, 2, 3),
            cbg AS (SELECT w1, w2, COUNT(*) AS c12
                    FROM pairs GROUP BY 1, 2),
            cuni AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY 1),
            voc AS (
              SELECT CAST(COUNT(DISTINCT wd) AS DOUBLE) AS v
              FROM (SELECT UNNEST([w1, w2]) AS wd FROM pairs)),
            per AS (
              SELECT doc_id, SUM(c) AS n,
                     list(struct_pack(c := c, c12 := c12, c1 := c1)
                          ORDER BY w1, w2) AS es,
                     ANY_VALUE(v) AS v
              FROM dbg JOIN cbg USING (w1, w2) JOIN cuni USING (w1)
                   CROSS JOIN voc
              GROUP BY doc_id),
            sc AS (
              SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
                ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(es, e -> CAST(e.c AS DOUBLE)
                    * (ln(CAST(e.c12 AS DOUBLE) + 1.0)
                       - ln(CAST(e.c1 AS DOUBLE) + v)))),
                  (a, x) -> a + x) / CAST(n AS DOUBLE), 4)
                  AS avg_logprob
              FROM per)
            SELECT i.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
                   sc.avg_logprob
            FROM inj i LEFT JOIN sc USING (doc_id)
        """,
        # RRF twin: the proven exact/ann CTEs (ext-ann-recall) with
        # ranks exposed + the RRF sum/window replayed.
        "ext-rank-fusion": f"""
            WITH probes AS (
              SELECT vec_id AS probe_id, embedding AS probe_vec
              FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
            pb AS (
              SELECT probe_id, probe_vec,
                     {_sql_srp_bucket("probe_vec", ann_planes)} AS qbkt
              FROM probes),
            cb AS (
              SELECT vec_id, embedding,
                     {_sql_srp_bucket("embedding", ann_planes)} AS bkt
              FROM embeddings),
            exact AS (
              SELECT p.probe_id, e.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY p.probe_id
                       ORDER BY {_sql_cosine("e.embedding",
                                             "p.probe_vec")} DESC,
                                e.vec_id) AS r
              FROM embeddings e CROSS JOIN probes p
              WHERE e.vec_id <> p.probe_id
              QUALIFY r <= 10),
            ann AS (
              SELECT p.probe_id, c.vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY p.probe_id
                       ORDER BY {_sql_cosine("c.embedding",
                                             "p.probe_vec")} DESC,
                                c.vec_id) AS r
              FROM cb c JOIN pb p
                ON (c.bkt = p.qbkt
                    OR bit_count(xor(c.bkt, p.qbkt)) = 1)
              WHERE c.vec_id <> p.probe_id
              QUALIFY r <= 10),
            u AS (
              SELECT probe_id, neighbor_id, 1.0 / (60 + r) AS contrib
              FROM exact
              UNION ALL
              SELECT probe_id, neighbor_id, 1.0 / (60 + r) FROM ann),
            f AS (
              SELECT probe_id, neighbor_id,
                     ROUND(SUM(contrib), 6) AS rrf_score,
                     CAST(COUNT(*) AS BIGINT) AS n_systems
              FROM u GROUP BY 1, 2)
            SELECT probe_id, neighbor_id, rrf_score, n_systems,
                   CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                     ORDER BY rrf_score DESC, neighbor_id) AS BIGINT)
                     AS fused_rank
            FROM f
            QUALIFY fused_rank <= 10
        """,
        # Streaming quality gate twin: the ext-quality-blend chain
        # with the calibration/scoring halves split.
        "stream-quality-blend": _quality_blend_stream_oracle_sql(),
        # Streaming frame-sampler twin: ordered arrival makes the
        # union equal the batch sampler, so the kvs arithmetic +
        # sampled-index filter applies verbatim.
        "stream-frame-sample": """
            WITH d AS (
              SELECT doc_id,
                     length(CAST(doc_id AS VARCHAR)) AS idlen,
                     octet_length(encode(
                       CASE WHEN text IS NULL OR text = ''
                            THEN 'x' ELSE text END)) AS tb,
                     CAST(doc_id % 3 + 1 AS BIGINT) AS nf
              FROM documents),
            f AS (
              SELECT doc_id AS chunk_id,
                     CAST(UNNEST(generate_series(1, nf)) AS INT)
                       AS frame_idx,
                     CAST(100 + idlen
                          + (UNNEST(generate_series(1, nf)) - 1)
                            * (6 + LEAST(16, tb)) AS BIGINT)
                       AS frame_position
              FROM d)
            SELECT chunk_id, frame_position, frame_idx
            FROM f WHERE frame_idx % 2 = 1
        """,
        # Streaming packer twin: ordered arrival makes the union
        # equal per-shard batch packing — one cumsum per shard.
        "stream-pack-sequences": r"""
            WITH t AS (
              SELECT doc_id % 4 AS shard, doc_id,
                     CAST(CASE WHEN length(trim(COALESCE(text, ''))) = 0
                          THEN 0
                          ELSE len(string_split_regex(
                                 trim(COALESCE(text, '')), '\s+'))
                     END AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT shard, doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY shard
                       ORDER BY doc_id) AS BIGINT) AS tok_end
              FROM t)
            SELECT shard, doc_id, n_tokens,
                   tok_end - n_tokens AS tok_start, tok_end,
                   (tok_end - n_tokens) // 128 AS seq_first,
                   CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 128
                        ELSE (tok_end - n_tokens) // 128 END
                     AS seq_last,
                   (CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 128
                         ELSE (tok_end - n_tokens) // 128 END)
                     - ((tok_end - n_tokens) // 128) + 1 AS n_seqs
            FROM c
        """,
        "ext-unigram-logprob": f"""
            WITH w AS (SELECT doc_id, {words_lower} AS words FROM documents),
            tok AS (SELECT doc_id, UNNEST(words) AS term FROM w),
            tok2 AS (SELECT * FROM tok WHERE term <> ''),
            dtf AS (SELECT doc_id, term, COUNT(*) AS c
                    FROM tok2 GROUP BY 1, 2),
            corpus AS (SELECT term, COUNT(*) AS cf FROM tok2 GROUP BY 1),
            tot AS (SELECT SUM(cf) AS nt, COUNT(*) AS vocab FROM corpus),
            per AS (
              SELECT doc_id, SUM(c) AS n,
                     list(struct_pack(c := c, cf := cf) ORDER BY term)
                       AS es,
                     ANY_VALUE(CAST(nt + vocab AS DOUBLE)) AS denom
              FROM dtf JOIN corpus USING (term) CROSS JOIN tot
              GROUP BY doc_id),
            sc AS (
              SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(es, e -> CAST(e.c AS DOUBLE)
                     * (ln(CAST(e.cf AS DOUBLE) + 1.0) - ln(denom)))),
                   (a, x) -> a + x) / CAST(n AS DOUBLE), 4) AS avg_logprob
              FROM per)
            SELECT d.doc_id, COALESCE(sc.n_tokens, 0) AS n_tokens,
                   sc.avg_logprob
            FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        """,
        "ext-token-histogram": r"""
            WITH c AS (
              SELECT CAST(len(regexp_extract_all(COALESCE(text, ''),
                          '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS nt
              FROM documents)
            SELECT CAST(FLOOR(nt / 50.0) AS BIGINT) * 50 AS bucket_lo,
                   COUNT(*) AS n_docs,
                   MIN(nt) AS min_tokens,
                   MAX(nt) AS max_tokens
            FROM c GROUP BY 1
        """,
        "ext-word-entropy": f"""
            WITH w AS (SELECT doc_id, {words_lower} AS words FROM documents)
            SELECT doc_id,
              CASE WHEN len(words) <= 0 THEN 0.0 ELSE
                ROUND(ln(CAST(len(words) AS DOUBLE))
                  - list_reduce(
                      list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(list_sort(list_distinct(words)),
                          d -> CAST(len(list_filter(words, x -> x = d))
                                    AS DOUBLE)
                               * ln(CAST(len(list_filter(words, x -> x = d))
                                         AS DOUBLE)))),
                      (a, x) -> a + x)
                    / CAST(len(words) AS DOUBLE), 4)
              END AS entropy
            FROM w
        """,
        "ext-cdc-compact": """
            WITH log AS (
              SELECT *, CASE WHEN event_id % 7 = 0 THEN 'delete'
                             ELSE 'upsert' END AS op
              FROM events),
            win AS (
              SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                     value, op,
                     ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                        ORDER BY event_id DESC) AS rn,
                     MAX(event_id) OVER (PARTITION BY user_id, event_type)
                       AS last_seq,
                     COUNT(*) OVER (PARTITION BY user_id, event_type)
                       AS n_versions
              FROM log)
            SELECT user_id, event_type, ts, ROUND(value, 2) AS value,
                   last_seq, CAST(n_versions AS BIGINT) AS n_versions
            FROM win WHERE rn = 1 AND op <> 'delete'
        """,
        "agg-unpivot-melt": f"""
            WITH wide AS (SELECT user_id, {{pc}} FROM events GROUP BY user_id)
            SELECT user_id, et AS event_type, sv AS sum_value
            FROM wide, LATERAL (VALUES
              {", ".join(f"('{t}', {t})" for t in EVENT_TYPES)}
            ) AS v(et, sv)
        """.replace("{pc}", ",\n  ".join(
            "COALESCE(ROUND(SUM(CASE WHEN event_type = '{t}' THEN value "
            "END), 2), 0.0) AS {t}".format(t=t) for t in EVENT_TYPES)),
        "agg-grouping-sets": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT)
                     AS gid,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS sum_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "source-csv-roundtrip": """
            SELECT event_id, user_id, event_type FROM events
        """,
        "agg-robust-mad": """
            WITH med AS (
              SELECT event_type AS et, quantile_cont(value, 0.5) AS m
              FROM events GROUP BY 1)
            SELECT e.event_type,
                   ROUND(ANY_VALUE(m), 4) AS median_value,
                   ROUND(quantile_cont(abs(e.value - m), 0.5), 4) AS mad,
                   COUNT(*) AS n
            FROM events e JOIN med
              ON e.event_type IS NOT DISTINCT FROM med.et
            GROUP BY e.event_type
        """,
        "join-salted-skew": """
            WITH dim AS (
              SELECT user_id, COUNT(*) AS user_events,
                     ROUND(SUM(value), 2) AS user_value
              FROM events GROUP BY user_id)
            SELECT e.event_type,
                   COUNT(*) AS n_rows,
                   CAST(SUM(d.user_events) AS BIGINT) AS sum_user_events,
                   ROUND(SUM(d.user_value), 2) AS sum_user_value
            FROM events e JOIN dim d USING (user_id)
            GROUP BY e.event_type
        """,
        "ext-ngram-novelty": """
            WITH w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            first AS (SELECT s, MIN(doc_id) AS fd FROM g GROUP BY s),
            scored AS (
              SELECT g.doc_id, COUNT(*) AS n_grams,
                     ROUND(SUM(CASE WHEN f.fd = g.doc_id THEN 1
                                    ELSE 0 END)
                           / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
              FROM g JOIN first f USING (s)
              GROUP BY g.doc_id)
            SELECT d.doc_id,
                   COALESCE(s.n_grams, 0) AS n_grams,
                   COALESCE(s.novelty, 1.0) AS novelty
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "source-orc-roundtrip": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                   event_type, value, props
            FROM events
        """,
        "sink-partitioned-prune": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                   event_type, value, props
            FROM events WHERE event_type IN ('purchase', 'signup')
        """,
        "ext-quality-gopher-rules": r"""
            WITH inj AS (
              SELECT doc_id,
                CASE WHEN doc_id % 23 = 0 THEN '- a' || chr(10) || '- b'
                           || chr(10) || '- c'
                     WHEN doc_id % 19 = 0 THEN 'end one...' || chr(10)
                           || 'end two...' || chr(10) || 'plain line'
                     WHEN doc_id % 9 = 0 THEN COALESCE(text, '')
                           || ' # # # # # # # #'
                     WHEN doc_id % 8 = 0 THEN 'tiny doc'
                     ELSE COALESCE(text, '') END AS t
              FROM documents),
            m AS (
              SELECT doc_id, t,
                CASE WHEN length(trim(t)) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(t), '\s+') END AS words,
                string_split(t, chr(10)) AS lines
              FROM inj),
            f AS (
              SELECT doc_id,
                len(words) AS n_words,
                CASE WHEN len(words) > 0
                  THEN length(regexp_replace(t, '\s+', '', 'g'))
                       / CAST(len(words) AS DOUBLE)
                  ELSE 0.0 END AS mean_wl,
                CASE WHEN len(words) > 0
                  THEN (length(t) - length(regexp_replace(t, '#', '', 'g'))
                        + len(regexp_extract_all(t, '\.\.\.')))
                       / CAST(len(words) AS DOUBLE)
                  ELSE 0.0 END AS sym_ratio,
                len(list_filter(lines,
                    l -> regexp_matches(l, '^\s*[-*•]')))
                  / CAST(len(lines) AS DOUBLE) AS bullet_frac,
                len(list_filter(lines,
                    l -> regexp_matches(l, '\.\.\.\s*$')))
                  / CAST(len(lines) AS DOUBLE) AS ell_frac
              FROM m)
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   ROUND(mean_wl, 4) AS mean_word_len,
                   (n_words < 50 OR n_words > 100000) AS flag_len,
                   (mean_wl < 3.0 OR mean_wl > 10.0) AS flag_word_len,
                   sym_ratio > 0.1 AS flag_symbol,
                   bullet_frac > 0.9 AS flag_bullet,
                   ell_frac > 0.3 AS flag_ellipsis,
                   NOT ((n_words < 50 OR n_words > 100000)
                        OR (mean_wl < 3.0 OR mean_wl > 10.0)
                        OR sym_ratio > 0.1 OR bullet_frac > 0.9
                        OR ell_frac > 0.3) AS keep
            FROM f
        """,
        "source-json-permissive": """
            SELECT doc_id,
                   CAST(length(COALESCE(text, '')) AS BIGINT) AS n,
                   FALSE AS corrupt
            FROM documents WHERE doc_id % 13 <> 0
            UNION ALL
            SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), TRUE
            FROM documents WHERE doc_id % 13 = 0
        """,
        "ext-heavy-hitters-cms": f"""
            WITH w AS (SELECT {words_lower} AS words FROM documents),
            tok AS (SELECT t.term FROM w, UNNEST(words) AS t(term)
                    WHERE t.term <> ''),
            js AS (SELECT UNNEST([0, 1, 2, 3]) AS j),
            pairs AS (
              SELECT j, ('0x' || substr(md5(term || chr(31)
                          || 'cms1:' || j), 1, 13))::BIGINT % 1024
                       AS bucket
              FROM tok CROSS JOIN js),
            sketch AS (
              SELECT j, bucket, COUNT(*) AS n FROM pairs GROUP BY 1, 2),
            cand AS (SELECT term, COUNT(*) AS exact FROM tok GROUP BY 1),
            probes AS (
              SELECT c.term, c.exact, js.j,
                     ('0x' || substr(md5(c.term || chr(31)
                       || 'cms1:' || js.j), 1, 13))::BIGINT % 1024
                       AS bucket
              FROM cand c CROSS JOIN js),
            est AS (
              SELECT pr.term, pr.exact, MIN(s.n) AS cms_est
              FROM probes pr
              JOIN sketch s ON pr.j = s.j AND pr.bucket = s.bucket
              GROUP BY 1, 2)
            SELECT term, CAST(cms_est AS BIGINT) AS cms_est,
                   CAST(exact AS BIGINT) AS exact,
                   CAST(ROW_NUMBER() OVER (ORDER BY cms_est DESC, term)
                        AS INT) AS rank
            FROM est
            QUALIFY rank <= 20
        """,
        # Strided span hashing replayed with the portable hash; the
        # float-free integer pipeline makes the whole table exact.
        # Mirrors operators/dedup.py:duplicated_spans (L=8, stride=4).
        "ext-dup-spans": f"""
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS ws
              FROM documents
              WHERE len(string_split_regex(trim(lower(text)), '\\s+')) >= 8),
            s AS (
              SELECT doc_id,
                     array_to_string(
                       ws[CAST(p AS INT) + 1 : CAST(p AS INT) + 8],
                       ' ') AS span
              FROM (SELECT doc_id, ws,
                           UNNEST(range(0, len(ws) - 8 + 1)) AS p
                    FROM w)
              WHERE {p52("ws[CAST(p AS INT) + 1]")} % 4 = 0),
            h AS (SELECT doc_id, {p52("span")} AS span_hash FROM s)
            SELECT span_hash,
                   COUNT(DISTINCT doc_id) AS n_docs,
                   COUNT(*) AS n_occurrences,
                   MIN(doc_id) AS min_doc,
                   MAX(doc_id) AS max_doc
            FROM h GROUP BY 1
            HAVING COUNT(DISTINCT doc_id) >= 2
        """,
        # Explicit HLL registers replayed bit-for-bit: portable-hash
        # bucket/rho, per-bucket max, bucket-ordered 2^-M fold, raw /
        # small-range estimator. Mirrors operators/sketches.py:
        # hll_distinct (p=9, m=512).
        "ext-distinct-hll": f"""
            WITH keyed AS (
              SELECT event_type AS g,
                     {p52("CAST(user_id AS VARCHAR)")} AS h
              FROM events),
            b AS (SELECT g, h % 512 AS bucket, h // 512 AS w FROM keyed),
            r AS (
              SELECT g, bucket,
                     CASE WHEN w = 0 THEN 44
                          ELSE 43 - length(bin(w)) + 1 END AS rho
              FROM b),
            regs AS (
              SELECT g, bucket, MAX(rho) AS mr FROM r GROUP BY g, bucket),
            pg AS (
              SELECT g, COUNT(*) AS n_used,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(pow(2.0, -mr) ORDER BY bucket)),
                  (a, x) -> a + x) AS s
              FROM regs GROUP BY g),
            raws AS (
              SELECT g, n_used,
                     {_HLL_ALPHA_M2!r} / (s + (512 - n_used)) AS raw
              FROM pg),
            ex AS (
              SELECT event_type AS g,
                     COUNT(DISTINCT user_id) AS n_exact
              FROM events GROUP BY 1)
            SELECT raws.g AS event_type, ex.n_exact,
                   ROUND(CASE WHEN raw <= 1280.0 AND n_used < 512
                         THEN 512.0 * ln(512.0 / (512 - n_used))
                         ELSE raw END, 4) AS hll_estimate,
                   CAST(n_used AS INT) AS registers_used
            FROM raws JOIN ex USING (g)
        """,
        # Merged-sketch twin: the GLOBAL HLL build — which the
        # register-level merge across daily sketches must equal
        # exactly (associative MAX), plus the shard count.
        "ext-hll-merge": f"""
            WITH keyed AS (
              SELECT {p52("CAST(user_id AS VARCHAR)")} AS h
              FROM events),
            b AS (SELECT h % 512 AS bucket, h // 512 AS w FROM keyed),
            r AS (
              SELECT bucket,
                     CASE WHEN w = 0 THEN 44
                          ELSE 43 - length(bin(w)) + 1 END AS rho
              FROM b),
            regs AS (SELECT bucket, MAX(rho) AS mr FROM r GROUP BY bucket),
            one AS (
              SELECT COUNT(*) AS n_used,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(pow(2.0, -mr) ORDER BY bucket)),
                  (a, x) -> a + x) AS s
              FROM regs),
            raws AS (
              SELECT n_used,
                     {_HLL_ALPHA_M2!r} / (s + (512 - n_used)) AS raw
              FROM one)
            SELECT
              (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact,
              ROUND(CASE WHEN raw <= 1280.0 AND n_used < 512
                    THEN 512.0 * ln(512.0 / (512 - n_used))
                    ELSE raw END, 4) AS hll_estimate,
              CAST(n_used AS INT) AS registers_used,
              (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events)
                AS n_shards
            FROM raws
        """,
        "join-top-supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                       AS total_rev
              FROM lineitem GROUP BY 1)
            SELECT s_suppkey, s_name, total_rev
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        """,
        "join-above-nation-avg": """
            WITH a AS (
              SELECT c_nationkey,
                     ROUND(AVG(c_acctbal), 6) AS nation_avg
              FROM customer GROUP BY 1)
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, nation_avg
            FROM customer JOIN a USING (c_nationkey)
            WHERE c_acctbal > nation_avg
        """,
        # Streaming HLL twin: the global batch sketch (identical
        # registers) + exact distinct for audit.
        "stream-hll-distinct": f"""
            WITH keyed AS (
              SELECT {p52("CAST(user_id AS VARCHAR)")} AS h
              FROM events),
            b AS (SELECT h % 512 AS bucket, h // 512 AS w FROM keyed),
            r AS (
              SELECT bucket,
                     CASE WHEN w = 0 THEN 44
                          ELSE 43 - length(bin(w)) + 1 END AS rho
              FROM b),
            regs AS (SELECT bucket, MAX(rho) AS mr FROM r GROUP BY bucket),
            one AS (
              SELECT COUNT(*) AS n_used,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(pow(2.0, -mr) ORDER BY bucket)),
                  (a, x) -> a + x) AS s
              FROM regs),
            raws AS (
              SELECT n_used,
                     {_HLL_ALPHA_M2!r} / (s + (512 - n_used)) AS raw
              FROM one)
            SELECT
              ROUND(CASE WHEN raw <= 1280.0 AND n_used < 512
                    THEN 512.0 * ln(512.0 / (512 - n_used))
                    ELSE raw END, 4) AS hll_estimate,
              CAST(n_used AS INT) AS registers_used,
              (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact
            FROM raws
        """,
        # A-ES weighted sample twin: identical u -> key arithmetic
        # (u from the shared 52-bit hash, +1 so u > 0), rank on the
        # raw key with id tie-break, key rounded only in the output.
        "ext-sample-weighted": f"""
            WITH s AS (
              SELECT doc_id, n_chars,
                ({p52("CAST(doc_id AS VARCHAR)")} + 1)
                  / 4503599627370496.0 AS u
              FROM documents WHERE n_chars > 0),
            kyd AS (
              SELECT doc_id, n_chars,
                pow(u, 1.0 / CAST(n_chars AS DOUBLE)) AS k
              FROM s)
            SELECT doc_id, n_chars, ROUND(k, 6) AS es_key,
              CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id)
                   AS BIGINT) AS sample_rank
            FROM kyd
            QUALIFY sample_rank <= 100
        """,
        "sink-manifest-commit": """
            SELECT event_id, user_id, event_type FROM events
        """,
        "stream-manifest-sink": """
            SELECT event_id, user_id, event_type FROM events
        """,
        # Nearest-asof twin: the same union + dual-frame carry (the
        # IGNORE NULLS window pair), identical (t, side) tie order,
        # identical pick rule in epoch seconds.
        "join-asof-nearest": """
            WITH l AS (
              SELECT user_id, event_id, ts, 1 AS side,
                     CAST(NULL AS BIGINT) AS tag_event_id,
                     CAST(NULL AS TIMESTAMP) AS tag_ts
              FROM events WHERE event_type <> 'signup'),
            r AS (
              SELECT user_id, CAST(NULL AS BIGINT) AS event_id,
                     ts, 0 AS side,
                     event_id AS tag_event_id, ts AS tag_ts
              FROM events WHERE event_type = 'signup'),
            m AS (SELECT * FROM l UNION ALL SELECT * FROM r),
            c AS (
              SELECT *,
                LAST_VALUE(tag_event_id IGNORE NULLS) OVER wb AS prev_id,
                LAST_VALUE(tag_ts IGNORE NULLS) OVER wb AS prev_ts,
                FIRST_VALUE(tag_event_id IGNORE NULLS) OVER wf AS next_id,
                FIRST_VALUE(tag_ts IGNORE NULLS) OVER wf AS next_ts
              FROM m WINDOW
                wb AS (PARTITION BY user_id
                       ORDER BY ts, side, tag_event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wf AS (PARTITION BY user_id
                       ORDER BY ts, side, tag_event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT user_id, event_id,
              CASE WHEN next_ts IS NULL OR (prev_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(prev_ts)
                         <= epoch_us(next_ts) - epoch_us(ts))
                   THEN prev_id ELSE next_id END AS tag_event_id,
              CASE WHEN next_ts IS NULL OR (prev_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(prev_ts)
                         <= epoch_us(next_ts) - epoch_us(ts))
                   THEN epoch_us(prev_ts) - epoch_us(ts)
                   ELSE epoch_us(next_ts) - epoch_us(ts)
              END AS delta_us
            FROM c WHERE side = 1
        """,
        "agg-forecast-revenue": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lineitems
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "join-late-orders-exists": """
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            GROUP BY 1
        """,
        "join-full-outer-activity": """
            WITH ea AS (
              SELECT user_id AS uid, COUNT(*) AS n_events
              FROM events GROUP BY 1),
            oa AS (
              SELECT o_custkey AS ckey, COUNT(*) AS n_orders
              FROM orders GROUP BY 1)
            SELECT COALESCE(uid, ckey) AS party_id,
                   CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
                   CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders
            FROM ea FULL OUTER JOIN oa ON uid = ckey
        """,
        "stream-backpressure-multibatch": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 2) AS sum_value
            FROM events GROUP BY 1
        """,
        "ext-mixture-temperature": """
            WITH c AS (
              SELECT source, COUNT(*) AS n_docs
              FROM documents GROUP BY 1),
            t AS (SELECT SUM(n_docs) AS tot FROM c),
            s AS (
              SELECT source, n_docs,
                n_docs / CAST(tot AS DOUBLE) AS p,
                pow(n_docs / CAST(tot AS DOUBLE), 0.3) AS num
              FROM c CROSS JOIN t),
            z AS (SELECT SUM(num) AS znum FROM s)
            SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                   ROUND(p, 6) AS p_source,
                   ROUND(num / znum, 6) AS w_alpha
            FROM s CROSS JOIN z
        """,
        "ext-embedding-dim-stats": """
            WITH ex AS (
              SELECT i - 1 AS dim,
                     CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings,
                   (SELECT UNNEST(generate_series(1, 64)) AS i))
            SELECT dim, ROUND(AVG(v), 6) AS dim_mean,
                   ROUND(STDDEV_SAMP(v), 6) AS dim_std,
                   CAST(COUNT(*) AS BIGINT) AS n_vecs
            FROM ex GROUP BY 1
        """,
        "ext-chunk-text": r"""
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS ws
              FROM documents
              WHERE length(trim(COALESCE(text, ''))) > 0),
            c AS (
              SELECT doc_id, ws,
                     UNNEST(generate_series(0,
                       CAST(floor((len(ws) - 1) / 12) AS INT))) AS i
              FROM w)
            SELECT doc_id,
                   CAST(i AS BIGINT) AS chunk_id,
                   CAST(i * 12 AS BIGINT) AS chunk_start,
                   CAST(len(list_slice(ws, i * 12 + 1, i * 12 + 16))
                        AS BIGINT) AS n_chunk_tokens,
                   array_to_string(
                     list_slice(ws, i * 12 + 1, i * 12 + 16), ' ')
                     AS chunk_text
            FROM c
        """,
        "ext-bloom-prefilter": f"""
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            bg AS (SELECT DISTINCT s FROM g WHERE doc_id % 97 = 0),
            pos AS (
              SELECT DISTINCT
                {p52("s || chr(31) || 'bloom1:' || j::VARCHAR")} % 16384 AS p
              FROM bg, (SELECT UNNEST([0, 1, 2, 3]) AS j) t),
            pr AS (
              SELECT q.doc_id, q.s, BOOL_AND(pos.p IS NOT NULL) AS hit
              FROM (SELECT g.doc_id, g.s,
                      {p52("g.s || chr(31) || 'bloom1:' || j::VARCHAR")}
                        % 16384 AS p
                    FROM g, (SELECT UNNEST([0, 1, 2, 3]) AS j) t) q
              LEFT JOIN pos ON q.p = pos.p
              GROUP BY q.doc_id, q.s),
            cand AS (SELECT doc_id, s FROM pr WHERE hit),
            per AS (SELECT doc_id, COUNT(*) AS n_grams
                    FROM g GROUP BY doc_id),
            ce AS (
              SELECT c.doc_id,
                     COUNT(*) AS n_candidates,
                     COUNT(b.s) AS n_exact_matches
              FROM cand c LEFT JOIN bg b ON c.s = b.s
              GROUP BY c.doc_id)
            SELECT per.doc_id,
                   per.n_grams,
                   CAST(COALESCE(ce.n_candidates, 0) AS BIGINT)
                     AS n_candidates,
                   CAST(COALESCE(ce.n_exact_matches, 0) AS BIGINT)
                     AS n_exact_matches,
                   CAST(COALESCE(ce.n_candidates, 0)
                        - COALESCE(ce.n_exact_matches, 0) AS BIGINT)
                     AS n_false_positives
            FROM per LEFT JOIN ce ON per.doc_id = ce.doc_id
        """,
        "ext-zorder-layout": f"""
            WITH k AS (
              SELECT (o_custkey % 256) AS xb,
                     (date_diff('day', DATE '1970-01-01', o_orderdate)
                      % 256) AS yb
              FROM orders),
            z AS (SELECT xb, yb, ({_ZSQL}) AS zv FROM k)
            SELECT CAST(zv >> 10 AS BIGINT) AS file_id,
                   COUNT(*) AS n_rows,
                   CAST(MIN(xb) AS BIGINT) AS min_x,
                   CAST(MAX(xb) AS BIGINT) AS max_x,
                   CAST(MIN(yb) AS BIGINT) AS min_y,
                   CAST(MAX(yb) AS BIGINT) AS max_y
            FROM z GROUP BY 1
        """,
        "agg-topn-per-group": """
            WITH r AS (
              SELECT o_orderpriority, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
            SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn,
                   o_orderkey, o_totalprice
            FROM r WHERE rn <= 3
        """,
        "ext-length-buckets": r"""
            WITH t AS (
              SELECT doc_id,
                CAST(len(regexp_extract_all(COALESCE(text, ''),
                     '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS v
              FROM documents),
            r AS (
              SELECT doc_id, v,
                     ROW_NUMBER() OVER (ORDER BY v, doc_id) AS rnk,
                     COUNT(*) OVER () AS n
              FROM t),
            b AS (
              SELECT v,
                CASE WHEN rnk <= ((n // 8) + 1) * (n % 8)
                     THEN (rnk - 1) // ((n // 8) + 1) + 1
                     ELSE (n % 8)
                          + (rnk - ((n // 8) + 1) * (n % 8) - 1)
                            // (n // 8) + 1
                END AS bucket
              FROM r)
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   COUNT(*) AS n_rows,
                   MIN(v) AS min_val, MAX(v) AS max_val,
                   CAST(SUM(v) AS BIGINT) AS sum_val
            FROM b GROUP BY 1
        """,
        "stream-enrich-static": """
            SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
            FROM events e
            LEFT JOIN customer c ON e.user_id = c.c_custkey
        """,
        "stream-join-interval": """
            SELECT c.user_id,
                   c.event_id AS click_id,
                   p.event_id AS buy_id,
                   CAST(FLOOR(EPOCH(p.ts)) AS BIGINT)
                     - CAST(FLOOR(EPOCH(c.ts)) AS BIGINT) AS delay_s
            FROM events c
            JOIN events p
              ON c.user_id = p.user_id
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL 1 HOUR
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        """,
        "stream-sliding-agg": """
            WITH grid AS (
              SELECT (CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 - s)
                       AS ws,
                     value, event_id
              FROM events, (SELECT UNNEST([0, 3600]) AS s) t),
            rollup AS (
              SELECT ws, COUNT(*) AS n_events,
                     ROUND(SUM(value), 2) AS sum_value,
                     MAX(event_id) AS max_event_id
              FROM grid GROUP BY 1),
            wm AS (SELECT ((MAX(epoch_us(ts)) // 1000) - 3600000) * 1000
                     AS wm_us FROM events)
            SELECT make_timestamp(ws * 1000000) AS w_start,
                   make_timestamp((ws + 7200) * 1000000) AS w_end,
                   n_events, sum_value, max_event_id
            FROM rollup, wm
            WHERE (ws + 7200) * 1000000 <= wm_us
        """,
        "ext-shard-assign": r"""
            WITH t AS (
              SELECT doc_id,
                CAST(len(regexp_extract_all(COALESCE(text, ''),
                     '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
                ('0x' || substr(md5(doc_id || chr(31) || 'v1'), 1, 13))
                  ::BIGINT % 16 AS shard
              FROM documents)
            SELECT CAST(shard AS INT) AS shard,
                   COUNT(*) AS n_rows,
                   MIN(doc_id) AS min_key,
                   MAX(doc_id) AS max_key,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
            FROM t GROUP BY 1
        """,
        "agg-moving-avg": """
            WITH c AS (
              SELECT event_id, user_id,
                     CAST(ROUND(value * 100, 0) AS BIGINT) AS value_c
              FROM events)
            SELECT event_id, user_id, value_c,
                   lag(value_c, 1) OVER w AS prev_value_c,
                   ROUND(AVG(value_c) OVER (PARTITION BY user_id
                     ORDER BY event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) / 100.0, 4)
                     AS mov_avg4,
                   CAST(SUM(value_c) OVER (PARTITION BY user_id
                     ORDER BY event_id
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_value_c
            FROM c
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        """,
        "ext-text-stats": f"""
            WITH w AS (
              SELECT doc_id, text, {words_expr} AS words FROM documents)
            SELECT doc_id,
                   CAST(len(words) AS BIGINT) AS n_words,
                   ROUND(CASE WHEN len(words) > 0
                     THEN length(regexp_replace(text, '\\s+', '', 'g'))
                          / CAST(len(words) AS DOUBLE)
                     ELSE 0.0 END, 4) AS avg_word_len,
                   ROUND(CASE WHEN len(words) > 0
                     THEN len(list_filter(words, x -> list_contains({stop_list}, x)))
                          / CAST(len(words) AS DOUBLE)
                     ELSE 0.0 END, 4) AS stopword_ratio,
                   ROUND(CASE WHEN len(words) > 0
                     THEN len(list_distinct(words)) / CAST(len(words) AS DOUBLE)
                     ELSE 0.0 END, 4) AS distinct_ratio
            FROM w
        """,
        "ext-quality-score": f"""
            WITH w AS (
              SELECT doc_id, {words_expr} AS words FROM documents)
            SELECT doc_id,
              CASE WHEN len(words) = 0 THEN 0.0 ELSE ROUND(
                0.4 * LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
                + 0.3 * (1.0 - len(list_filter(words, x ->
                    list_contains({stop_list}, x)))
                    / CAST(len(words) AS DOUBLE))
                + 0.3 * (len(list_distinct(words))
                    / CAST(len(words) AS DOUBLE)),
              4) END AS quality
            FROM w
        """,
        "agg-salted-sum": """
            SELECT event_type, ROUND(SUM(value), 2) AS sum_value
            FROM events GROUP BY event_type
        """,
        "ext-pii-redact": f"""
            WITH inj AS (SELECT doc_id, {pii_inj} AS t FROM documents)
            SELECT doc_id,
                   {pii_counts},
                   {pii_red} AS redacted
            FROM inj
        """,
        "ext-tfidf-terms": f"""
            WITH w AS (SELECT doc_id, {words_lower} AS words
                       FROM documents),
            tok AS (SELECT doc_id, UNNEST(words) AS term FROM w),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM tok WHERE term <> '' GROUP BY 1, 2),
            dfq AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY term),
            n AS (SELECT COUNT(*) AS nd FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     ROUND(tf.tf * (ln((nd + 1.0) / (dft + 1.0)) + 1.0), 4)
                       AS score
              FROM tf JOIN dfq USING (term) CROSS JOIN n),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, term ASC) AS term_rank
              FROM scored)
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
                   CAST(term_rank AS INT) AS term_rank
            FROM ranked WHERE term_rank <= 5
        """,
        "ext-token-count": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(COALESCE(text, ''),
                        '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "ext-lang-id": f"""
            WITH w AS (
              SELECT doc_id, {words_lower} AS words FROM documents),
            sc AS (
              SELECT doc_id,
                {lang_scores}
              FROM w),
            s AS (
              SELECT doc_id, s_de, s_en, s_es, s_fr,
                GREATEST(s_de, s_en, s_es, s_fr) AS best
              FROM sc)
            SELECT doc_id,
                   CASE WHEN best = 0 THEN 'und'
                        WHEN s_de = best THEN 'de'
                        WHEN s_en = best THEN 'en'
                        WHEN s_es = best THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM s
        """,
        "ext-fingerprint": f"""
            WITH w AS (
              SELECT doc_id, {words_lower} AS words FROM documents)
            SELECT doc_id,
              CASE WHEN len(words) = 0 THEN 0 ELSE
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(words, wd ->
                      list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(wd, ''),
                                         ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, b) -> (a * 31 + b) % 2147483647))),
                  (a, b) -> (a * 1000003 + b) % 2147483647)
              END AS fingerprint
            FROM w
        """,
        "decode-scalars-roundtrip": """
            SELECT event_id, event_id AS decoded_uint FROM events
        """,
        "ext-dedup-embedding": """
            WITH scored AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                ROUND(
                  list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[]))
                  / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                           CAST(a.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])))),
                  6) AS cosine_sim
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= 0.35
        """,
        "stream-asof-tags": """
            WITH base AS (
              SELECT user_id, event_id, value, event_type,
                MIN(CASE WHEN event_type = 'signup' THEN event_id END)
                  OVER (PARTITION BY user_id ORDER BY event_id DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS tag_event_id
              FROM events)
            SELECT user_id, event_id, value, tag_event_id
            FROM base
            WHERE event_type <> 'signup' AND tag_event_id IS NOT NULL
        """,
        "ext-similarity-knn": """
            WITH probes AS (
              SELECT vec_id AS probe_id, embedding AS probe_vec
              FROM embeddings WHERE vec_id IN (0, 1, 2)),
            scored AS (
              SELECT p.probe_id, e.vec_id AS neighbor_id,
                ROUND(
                  list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(p.probe_vec AS DOUBLE[]))
                  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(CAST(p.probe_vec AS DOUBLE[]),
                                             CAST(p.probe_vec AS DOUBLE[])))),
                  6) AS cosine_sim
              FROM embeddings e CROSS JOIN probes p
              WHERE e.vec_id <> p.probe_id)
            SELECT probe_id, neighbor_id, cosine_sim
            FROM scored
            QUALIFY ROW_NUMBER() OVER (
              PARTITION BY probe_id ORDER BY cosine_sim DESC, neighbor_id) <= 5
        """,
        "join-shipping-priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "join-large-orders": """
            WITH big AS (
              SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
              FROM lineitem GROUP BY 1 HAVING ROUND(SUM(l_quantity), 2) > 170)
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   o_totalprice, sum_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "agg-shipmode-priority": """
            SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                     ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                     AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                     ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
                     AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "agg-window-ranks": """
            SELECT o_orderpriority, o_orderkey, o_totalprice,
              CAST(RANK() OVER wt AS BIGINT) AS rnk,
              CAST(DENSE_RANK() OVER wt AS BIGINT) AS drnk,
              ROUND(PERCENT_RANK() OVER wt, 6) AS pct_rank,
              ROUND(CUME_DIST() OVER wt, 6) AS cum_dist,
              ROUND(LAG(o_totalprice, 1) OVER wu, 2) AS prev_price
            FROM orders
            WINDOW
              wt AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC),
              wu AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)
        """,
        # Quadratic NOT-EXISTS skyline twin of the bucketed
        # distributed form (operators/analytics.py skyline_2d):
        # minimize p_retailprice, maximize p_size, strict-dominance
        # ties kept on both engines.
        "agg-skyline-2d": """
            SELECT p_partkey, p_retailprice, p_size
            FROM part a
            WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
              AND NOT EXISTS (
                SELECT 1 FROM part b
                WHERE b.p_retailprice <= a.p_retailprice
                  AND b.p_size >= a.p_size
                  AND (b.p_retailprice < a.p_retailprice
                       OR b.p_size > a.p_size))
        """,
        # PMI replayed with the same left-to-right arithmetic
        # (count/bigram-total over unigram probability product, ln,
        # round 4); ranking is on the ROUNDED score + word tie-break
        # on both engines.
        "ext-collocations-pmi": r"""
            WITH w AS (
              SELECT CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(text), '\s+') END AS ws
              FROM documents),
            t AS (SELECT ws FROM w WHERE len(ws) > 0),
            tot AS (SELECT SUM(len(ws)) AS n_tok,
                           SUM(len(ws) - 1) AS n_bi FROM t),
            uc AS (SELECT UNNEST(ws) AS wrd FROM t),
            uni AS (SELECT wrd, COUNT(*) AS c_w FROM uc GROUP BY 1),
            bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
                   FROM (SELECT ws,
                           UNNEST(generate_series(1, len(ws) - 1)) AS i
                         FROM t WHERE len(ws) >= 2)),
            bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
                   FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5),
            scored AS (
              SELECT w1, w2, c_xy,
                ROUND(ln((c_xy / CAST(n_bi AS DOUBLE))
                  / ((ca.c_w / CAST(n_tok AS DOUBLE))
                     * (cb.c_w / CAST(n_tok AS DOUBLE)))), 4) AS pmi
              FROM bc CROSS JOIN tot
              JOIN uni ca ON ca.wrd = bc.w1
              JOIN uni cb ON cb.wrd = bc.w2)
            SELECT w1, w2, c_xy, pmi,
                   CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2)
                        AS BIGINT) AS rnk
            FROM scored
            QUALIFY rnk <= 50
        """,
        "ext-reservoir-sample": """
            SELECT event_id, user_id, event_type,
              CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY md5(event_type || '|'
                             || CAST(event_id AS VARCHAR)), event_id)
                AS BIGINT) AS sample_rank
            FROM events
            QUALIFY sample_rank <= 20
        """,
        # Histogram-quantile twin: same 200-bin clamped bucketing,
        # same cumulative crossing rule (first bin with cum >=
        # ceil(q*N)), same interpolation arithmetic left-to-right.
        "ext-histogram-quantile": """
            WITH b AS (
              SELECT LEAST(GREATEST(
                       CAST(FLOOR(o_totalprice / 3000.0) AS INT), 0), 199)
                     AS bin
              FROM orders WHERE o_totalprice IS NOT NULL),
            c AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY 1),
            cum AS (SELECT bin, c,
                      SUM(c) OVER (ORDER BY bin) AS cum,
                      SUM(c) OVER () AS total
                    FROM c),
            q AS (SELECT UNNEST(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
            SELECT q.q,
              MIN_BY(ROUND(0.0 + (bin
                + (CEIL(q.q * total) - (cum - c)) / CAST(c AS DOUBLE))
                * 3000.0, 4), bin) AS estimate,
              CAST(MAX(total) AS BIGINT) AS n_rows
            FROM cum CROSS JOIN q
            WHERE cum >= CEIL(q.q * total)
            GROUP BY q.q
        """,
        # PageRank unrolled over the SHARED near-dup edge CTE: three
        # iterations of base + d * SUM(pr/deg), identical literals and
        # op order to operators/graph.py pagerank ((1.0 - 0.85) is
        # computed, not written as 0.15, to match the Python float).
        "ext-pagerank-dups": _EDGES_CTE_SQL + """,
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            nn AS (SELECT COUNT(*) AS n FROM nodes),
            dg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
            p0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr
                   FROM nodes),
            p1 AS (SELECT e.dst AS node,
                     (1.0 - 0.85) / (SELECT n FROM nn)
                       + 0.85 * SUM(p.pr / d.deg) AS pr
                   FROM edges e
                   JOIN p0 p ON p.node = e.src
                   JOIN dg d ON d.src = e.src
                   GROUP BY e.dst),
            p2 AS (SELECT e.dst AS node,
                     (1.0 - 0.85) / (SELECT n FROM nn)
                       + 0.85 * SUM(p.pr / d.deg) AS pr
                   FROM edges e
                   JOIN p1 p ON p.node = e.src
                   JOIN dg d ON d.src = e.src
                   GROUP BY e.dst),
            p3 AS (SELECT e.dst AS node,
                     (1.0 - 0.85) / (SELECT n FROM nn)
                       + 0.85 * SUM(p.pr / d.deg) AS pr
                   FROM edges e
                   JOIN p2 p ON p.node = e.src
                   JOIN dg d ON d.src = e.src
                   GROUP BY e.dst)
            SELECT CAST(node AS BIGINT) AS doc_id,
                   ROUND(pr, 6) AS pagerank
            FROM p3
        """,
        # Funnel twin: the chained per-user window minima replayed as
        # three stacked window layers, then the same two-level rollup.
        "agg-conversion-funnel": """
            WITH a AS (
              SELECT user_id, ts, event_type,
                MIN(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id) AS t0
              FROM events),
            b AS (
              SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t0
                            THEN ts END)
                  OVER (PARTITION BY user_id) AS t1
              FROM a),
            c AS (
              SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t1
                            THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
              FROM b),
            pu AS (
              SELECT user_id,
                MAX(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS r0,
                MAX(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS r1,
                MAX(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS r2
              FROM c GROUP BY 1),
            tot AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                     CAST(SUM(r0) AS BIGINT) AS n_step0,
                     CAST(SUM(r1) AS BIGINT) AS n_step1,
                     CAST(SUM(r2) AS BIGINT) AS n_step2
              FROM pu)
            SELECT n_users, n_step0, n_step1, n_step2,
              CASE WHEN n_step0 > 0
                THEN ROUND(n_step1 / CAST(n_step0 AS DOUBLE), 4) END
                AS conv_1,
              CASE WHEN n_step1 > 0
                THEN ROUND(n_step2 / CAST(n_step1 AS DOUBLE), 4) END
                AS conv_2
            FROM tot
        """,
        # Z-score twin: stats rounded to 6 dp BEFORE the z-score on
        # both engines, so summation-order noise is quantized away
        # before the threshold comparison.
        "ext-anomaly-zscore": """
            WITH s AS (
              SELECT event_type,
                     ROUND(AVG(value), 6) AS mu,
                     ROUND(STDDEV_SAMP(value), 6) AS sd
              FROM events GROUP BY 1)
            SELECT e.event_type, e.event_id, e.value,
                   ROUND((e.value - mu) / sd, 4) AS z
            FROM events e JOIN s USING (event_type)
            WHERE sd > 0
              AND ABS(ROUND((e.value - mu) / sd, 4)) >= 2.5
        """,
        # SCD2 twin: same lag-collapse + lead-stamp windows, same
        # (ts, event_id) total order.
        "ext-scd2-versions": """
            WITH c AS (
              SELECT user_id, ts, event_id, event_type,
                LAG(event_type) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            ch AS (
              SELECT user_id, ts, event_id, event_type FROM c
              WHERE prev IS NULL OR prev <> event_type)
            SELECT user_id, ts, event_id, event_type,
              ts AS effective_from,
              LEAD(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
                AS effective_to,
              LEAD(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                AS is_current
            FROM ch
        """,
        # Point-in-time SCD2 twin: the ext-scd2-versions CTE + the
        # same validity BETWEEN at the corpus-max timestamp.
        "ext-scd2-asof": """
            WITH c AS (
              SELECT user_id, ts, event_id, event_type,
                LAG(event_type) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            ch AS (SELECT user_id, ts, event_id, event_type FROM c
                   WHERE prev IS NULL OR prev <> event_type),
            v AS (
              SELECT user_id, ts, event_id, event_type,
                ts AS effective_from,
                LEAD(ts) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id)
                  AS effective_to
              FROM ch),
            t AS (SELECT MAX(ts) AS at FROM events)
            SELECT user_id, ts, event_id, event_type,
                   effective_from, effective_to,
                   effective_to IS NULL AS is_current
            FROM v CROSS JOIN t
            WHERE effective_from <= at
              AND (effective_to IS NULL OR effective_to > at)
        """,
        # Incremental-dedup twin: digest semi-join + per-gram
        # inverted-index overlap with the same hot-gram exclusion
        # (>100 postings). Gram positions are generated per row from
        # len(ws) — a fixed series cap would silently drop grams of
        # long documents. Shared VERBATIM with stream-dedup-
        # incremental: per-batch union == single-batch result is that
        # entry's correctness property.
        "ext-dedup-incremental": _INC_DEDUP_ORACLE_SQL,
        "stream-dedup-incremental": _INC_DEDUP_ORACLE_SQL,
        # Winsorize twin: the ext-histogram-quantile interpolation at
        # [0.01, 0.99] + the same LEAST/GREATEST clip.
        "ext-winsorize": """
            WITH b AS (
              SELECT LEAST(GREATEST(
                       CAST(FLOOR(o_totalprice / 3000.0) AS INT), 0), 199)
                     AS bin
              FROM orders WHERE o_totalprice IS NOT NULL),
            c AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY 1),
            cum AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum,
                           SUM(c) OVER () AS total FROM c),
            q AS (SELECT UNNEST(CAST([0.01, 0.99] AS DOUBLE[])) AS q),
            cuts AS (
              SELECT q.q,
                MIN_BY(ROUND(0.0 + (bin
                  + (CEIL(q.q * total) - (cum - c)) / CAST(c AS DOUBLE))
                  * 3000.0, 4), bin) AS est
              FROM cum CROSS JOIN q
              WHERE cum >= CEIL(q.q * total)
              GROUP BY q.q),
            lohi AS (
              SELECT MIN(CASE WHEN q = 0.01 THEN est END) AS lo_cut,
                     MIN(CASE WHEN q = 0.99 THEN est END) AS hi_cut
              FROM cuts)
            SELECT o_orderkey, o_totalprice,
                   LEAST(GREATEST(o_totalprice, lo_cut), hi_cut)
                     AS winsorized,
                   o_totalprice <> LEAST(GREATEST(o_totalprice, lo_cut),
                                         hi_cut) AS clipped
            FROM orders CROSS JOIN lohi
        """,
        "ext-bpe-train": _bpe_oracle_sql(10),
        # Tokenizer-apply twin: the train chain's final vocab state
        # v10 IS the per-word tokenization after all 10 merges; the
        # encode twin joins per-(doc, word) counts against
        # len(v10.toks). Sound only when training's early stop does
        # not trigger — which the _bpe_encode entry asserts loudly
        # (min pair_count >= 2 across all 10 merges).
        "ext-bpe-encode": _bpe_oracle_sql(10, encode=True),
        # Fertility twin: the proven encode oracle wrapped in the
        # per-language rollup.
        "ext-tokenizer-fertility": f"""
            SELECT d.lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(e.n_words) AS BIGINT) AS n_words,
                   CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
                   CASE WHEN SUM(e.n_words) > 0
                        THEN ROUND(SUM(e.n_bpe_tokens)
                                   / CAST(SUM(e.n_words) AS DOUBLE), 4)
                   END AS fertility
            FROM ({_bpe_oracle_sql(10, encode=True)}) e
            JOIN documents d USING (doc_id)
            GROUP BY d.lang
        """,
        # Snapshot-diff twin: same length-prefixed digest serialization
        # (sha256(VARCHAR) hashes UTF-8 bytes == Spark's string ->
        # binary cast into sha2), same full-outer status derivation.
        "ext-snapshot-diff": f"""
            WITH ev AS (
              SELECT event_id,
                     CASE WHEN event_id % 13 <> 0 THEN user_id END
                       AS user_id,
                     event_type
              FROM events),
            o AS (
              SELECT event_id, {_SNAPDIFF_DIGEST_SQL} AS old_digest
              FROM ev WHERE event_id % 5 <> 0),
            n AS (
              SELECT event_id, {_SNAPDIFF_DIGEST_SQL} AS new_digest
              FROM (SELECT event_id, user_id,
                      CASE WHEN event_id % 17 = 0 THEN NULL
                           WHEN event_id % 11 = 0 THEN 'mutated'
                           ELSE event_type END AS event_type
                    FROM ev WHERE event_id % 7 <> 0))
            SELECT COALESCE(o.event_id, n.event_id) AS event_id,
                   old_digest, new_digest,
                   CASE WHEN old_digest IS NULL THEN 'added'
                        WHEN new_digest IS NULL THEN 'removed'
                        WHEN old_digest = new_digest THEN 'unchanged'
                        ELSE 'changed' END AS diff_status
            FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
        """,
        # Domain-cap twin: one window rank per group by the same
        # totalized (price DESC, key) priority.
        "ext-domain-cap": """
            WITH r AS (
              SELECT o_orderkey, o_orderpriority, o_totalprice,
                     CAST(ROW_NUMBER() OVER (
                         PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey) AS INT)
                       AS rank_in_group
              FROM orders)
            SELECT *, rank_in_group <= 20 AS kept FROM r
        """,
        # Streaming domain-cap twin: under the gated entry's
        # ordered-arrival arrangement (groups ascend by doc_id across
        # batches), the running stateful rank IS one window rank.
        "stream-domain-cap": """
            WITH d AS (
              SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS domain
              FROM documents),
            r AS (
              SELECT domain, doc_id,
                     CAST(ROW_NUMBER() OVER (
                         PARTITION BY domain ORDER BY doc_id) AS INT)
                       AS rank_in_group
              FROM d)
            SELECT domain, doc_id, rank_in_group,
                   rank_in_group <= 30 AS kept
            FROM r
        """,
        # Quality-blend twin: histogram cut points + NULL-renormalized
        # weighted mean, replayed per signal (builder above).
        "ext-quality-blend": _quality_blend_oracle_sql(),
        # Normalize-text twin: the same dirty suffix injected in SQL
        # (NFD accent via chr(769), ZWSP chr(8203), tab/control/ragged
        # line end), then nfc_normalize + the identical regex chain.
        "ext-normalize-text": r"""
            WITH dirty AS (
              SELECT doc_id,
                     coalesce(text, '') || ' Cafe' || chr(769) || chr(8203)
                       || '  x' || chr(9) || 'y' || chr(7) || ' ' || chr(10)
                       || ' z ' AS text
              FROM documents),
            n AS (
              SELECT doc_id, text,
                trim(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(nfc_normalize(text),
                          '[​‌‍﻿]', '', 'g'),
                        '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                      '[ \t]+', ' ', 'g'),
                    ' \n', chr(10), 'g'),
                  ' ' || chr(10)) AS text_norm
              FROM dirty)
            SELECT doc_id, text_norm, text_norm <> text AS norm_changed
            FROM n
        """,
        # Semantic-decontamination twin: broadcast cross-score with
        # the same left-fold cosine as the ANN oracles, argmax by
        # (sim DESC, bench id), 6-dp rounding before the threshold.
        "ext-semantic-decontaminate": f"""
            WITH c AS (SELECT vec_id, embedding FROM embeddings
                       WHERE vec_id % 13 <> 0),
            b AS (SELECT vec_id AS bid, embedding FROM embeddings
                  WHERE vec_id % 13 = 0),
            scored AS (
              SELECT c.vec_id, b.bid,
                     {_sql_cosine("c.embedding", "b.embedding")} AS sim
              FROM c CROSS JOIN b),
            ranked AS (
              SELECT vec_id, bid, sim,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, bid) AS rn
              FROM scored WHERE sim IS NOT NULL),
            best AS (SELECT vec_id, sim AS max_bench_cosine,
                            bid AS matched_bench_id
                     FROM ranked WHERE rn = 1)
            SELECT c.vec_id, max_bench_cosine, matched_bench_id,
                   COALESCE(max_bench_cosine >= 0.8, FALSE)
                     AS contaminated
            FROM c LEFT JOIN best ON best.vec_id = c.vec_id
        """,
        # Schema-evolution twin: old-generation rows null-fill the
        # added column, exactly what mergeSchema produces.
        "source-parquet-evolve": """
            SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type
            FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT event_id, user_id, event_type
            FROM events WHERE event_id % 2 = 1
        """,
        "sink-bucketed-join": """
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "agg-retention-cohorts": """
            WITH f AS (
              SELECT user_id,
                     MIN(date_trunc('week', ts)) AS cohort_week
              FROM events GROUP BY 1),
            a AS (
              SELECT DISTINCT user_id,
                     date_trunc('week', ts) AS act_week
              FROM events)
            SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
                   CAST(date_diff('day', cohort_week, act_week) // 7
                        AS INT) AS week_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM a JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        # Streaming SCD2 twin: the batch build's SEALED subset —
        # append mode can only ever emit closed versions.
        "stream-scd2": """
            WITH c AS (
              SELECT user_id, ts, event_id, event_type,
                LAG(event_type) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            ch AS (
              SELECT user_id, ts, event_id, event_type FROM c
              WHERE prev IS NULL OR prev <> event_type),
            v AS (
              SELECT user_id, event_id, event_type,
                ts AS effective_from,
                LEAD(ts) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id)
                  AS effective_to
              FROM ch)
            SELECT * FROM v WHERE effective_to IS NOT NULL
        """,
        # Recall audit twin: the exact k-NN CTE (ext-knn-join form)
        # and the SRP-bucketed ANN CTE (ext-similarity-ann bucket
        # arithmetic, multi-probe) joined per probe.
        "ext-ann-recall": f"""
            WITH probes AS (
              SELECT vec_id AS probe_id, embedding AS probe_vec
              FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
            pb AS (
              SELECT probe_id, probe_vec,
                     {_sql_srp_bucket("probe_vec", ann_planes)} AS qbkt
              FROM probes),
            cb AS (
              SELECT vec_id, embedding,
                     {_sql_srp_bucket("embedding", ann_planes)} AS bkt
              FROM embeddings),
            exact AS (
              SELECT p.probe_id, e.vec_id AS neighbor_id,
                ROUND(
                  list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(p.probe_vec AS DOUBLE[]))
                  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(CAST(p.probe_vec AS DOUBLE[]),
                                             CAST(p.probe_vec AS DOUBLE[])))),
                  6) AS cs
              FROM embeddings e CROSS JOIN probes p
              WHERE e.vec_id <> p.probe_id
              QUALIFY ROW_NUMBER() OVER (PARTITION BY p.probe_id
                ORDER BY cs DESC, e.vec_id) <= 10),
            ann AS (
              SELECT p.probe_id, c.vec_id AS neighbor_id,
                ROUND(
                  list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                   CAST(p.probe_vec AS DOUBLE[]))
                  / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(CAST(p.probe_vec AS DOUBLE[]),
                                             CAST(p.probe_vec AS DOUBLE[])))),
                  6) AS cs
              FROM cb c JOIN pb p
                ON (c.bkt = p.qbkt
                    OR bit_count(xor(c.bkt, p.qbkt)) = 1)
              WHERE c.vec_id <> p.probe_id
              QUALIFY ROW_NUMBER() OVER (PARTITION BY p.probe_id
                ORDER BY cs DESC, c.vec_id) <= 10),
            hits AS (
              SELECT exact.probe_id,
                     COUNT(ann.neighbor_id) AS n_hits
              FROM exact LEFT JOIN ann
                ON ann.probe_id = exact.probe_id
               AND ann.neighbor_id = exact.neighbor_id
              GROUP BY 1)
            SELECT probe_id, CAST(n_hits AS BIGINT) AS n_hits,
                   ROUND(n_hits / 10.0, 4) AS recall_at_10
            FROM hits
        """,
        "ext-knn-join": """
            WITH probes AS (
              SELECT vec_id AS probe_id, embedding AS probe_vec
              FROM embeddings WHERE vec_id BETWEEN 0 AND 15),
            scored AS (
              SELECT p.probe_id, e.vec_id AS neighbor_id,
                ROUND(
                  list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(p.probe_vec AS DOUBLE[]))
                  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(CAST(p.probe_vec AS DOUBLE[]),
                                             CAST(p.probe_vec AS DOUBLE[])))),
                  6) AS cosine_sim
              FROM embeddings e CROSS JOIN probes p
              WHERE e.vec_id <> p.probe_id)
            SELECT probe_id, neighbor_id, cosine_sim,
              CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY cosine_sim DESC, neighbor_id) AS BIGINT)
                AS knn_rank
            FROM scored
            QUALIFY knn_rank <= 5
        """,
        # Closed-form oracle for the EBML tokenizer scan: the synthetic
        # fragments carry exactly one DocTypeReadVersion + TagName +
        # TagString + SimpleBlock per document, so per-element counts
        # are a pure function of the document count; value_str only
        # decodes for the two UTF8 elements.
        "scan-ebml-tokenize": """
            WITH c AS (SELECT COUNT(*) AS n_docs FROM documents)
            SELECT v.name, v.ebml_type,
                   CAST(c.n_docs AS BIGINT) AS n,
                   CAST(c.n_docs * v.has_str AS BIGINT) AS n_str
            FROM (VALUES
              ('DocTypeReadVersion', 'UINT',   0),
              ('TagName',            'UTF8',   1),
              ('TagString',          'UTF8',   1),
              ('SimpleBlock',        'BINARY', 0)
            ) AS v(name, ebml_type, has_str)
            CROSS JOIN c
        """,
        # Heads-only scan: per-name head count and summed payload
        # sizes are fixed arithmetic over documents (tag name is 32
        # chars; TagString payload = decimal doc_id; SimpleBlock
        # payload = text truncated to 64 bytes, ASCII fixture).
        "scan-ebml-heads": """
            SELECT v.name,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(v.sz) AS BIGINT) AS total_bytes
            FROM (
              SELECT 'DocTypeReadVersion' AS name, 1 AS sz FROM documents
              UNION ALL
              SELECT 'TagName', 32 FROM documents
              UNION ALL
              SELECT 'TagString', length(CAST(doc_id AS VARCHAR)) FROM documents
              UNION ALL
              SELECT 'SimpleBlock',
                     LEAST(64, octet_length(encode(COALESCE(text, ''))))
              FROM documents
            ) v
            GROUP BY v.name
        """,
        # Closed-form oracle for the composed KVS pipeline: fragments
        # are synthesized from documents by fixed arithmetic, so every
        # output column is computable without parsing bytes. The EBML
        # layout gives byte offsets: 4B DocTypeReadVersion element +
        # 35B/14B fragment-number TagName/TagString + 38B token TagName
        # + (7+len(doc_id))B token TagString = SimpleBlock data starts
        # at 100+len(doc_id); each block is 2B head + 4B SimpleBlock
        # header + min(16, octet_len(text)) body. Frames per doc =
        # doc_id % 3 + 1; track/timecode/lace-count decode to 1/0/1.
        "kvs-frames-with-tags": """
            WITH d AS (
              SELECT doc_id,
                     length(CAST(doc_id AS VARCHAR)) AS idlen,
                     octet_length(encode(CASE WHEN text IS NULL OR text = ''
                                              THEN 'x' ELSE text END)) AS tb,
                     CAST(doc_id % 3 + 1 AS BIGINT) AS nf
              FROM documents)
            SELECT doc_id AS chunk_id,
                   CAST(100 + idlen
                        + (UNNEST(generate_series(1, nf)) - 1)
                          * (6 + LEAST(16, tb)) AS BIGINT) AS frame_position,
                   CAST(1 AS BIGINT) AS track,
                   CAST(0 AS INT) AS timecode,
                   CAST(1 AS INT) AS n_frames,
                   CAST(91340000000 + doc_id AS VARCHAR)
                     AS "AWS_KINESISVIDEO_FRAGMENT_NUMBER",
                   'tok-' || CAST(doc_id AS VARCHAR)
                     AS "AWS_KINESISVIDEO_CONTINUATION_TOKEN"
            FROM d
        """,
        # 200 generated fragments, i % 3 + 1 frames each, token tok-i.
        "source-kvs-replay": """
            SELECT 'tok-' || CAST(i AS VARCHAR)
                     AS "AWS_KINESISVIDEO_CONTINUATION_TOKEN",
                   CAST(i % 3 + 1 AS BIGINT) AS n_frames,
                   CAST(1 AS BIGINT) AS track
            FROM (SELECT UNNEST(generate_series(0, 199)) AS i)
        """,
        # The multimodal decode stub derives dims from payload size =
        # utf-8 byte length of text (NULL -> empty payload -> 0 bytes).
        "ext-multimodal-decode": """
            WITH b AS (
              SELECT doc_id,
                     COALESCE(octet_length(encode(text)), 0) AS nb
              FROM documents)
            SELECT doc_id,
                   CAST(nb AS BIGINT) AS n_bytes,
                   CAST(nb % 480 + 1 AS INT) AS height,
                   CAST(nb % 640 + 1 AS INT) AS width,
                   CAST(3 AS INT) AS channels,
                   'bgr24' AS format
            FROM b
        """,
        # decode -> explode (nb % 6 + 1 frames) -> keep every 2nd frame
        # -> resize to 224x224 (format gets the -resized suffix).
        "ext-multimodal-pipeline": """
            WITH b AS (
              SELECT doc_id,
                     COALESCE(octet_length(encode(text)), 0) AS nb
              FROM documents),
            f AS (
              SELECT doc_id, nb,
                     CAST(UNNEST(generate_series(1, nb % 6 + 1)) AS INT)
                       AS frame_seq
              FROM b)
            SELECT doc_id, frame_seq,
                   CAST(nb AS BIGINT) AS n_bytes,
                   CAST(224 AS INT) AS height,
                   CAST(224 AS INT) AS width,
                   'bgr24-resized' AS format
            FROM f WHERE frame_seq % 2 = 0
        """,
        # Windowed byte stats over the utf-8 payload: documents are
        # ASCII, so per-char ascii() == per-byte value.
        "ext-multimodal-audio": """
            WITH b AS (
              SELECT doc_id, text,
                     COALESCE(octet_length(encode(text)), 0) AS nb
              FROM documents)
            SELECT doc_id,
                   CAST(CASE WHEN nb = 0 THEN 1
                             ELSE CAST(ceil(nb / 256.0) AS INT) END AS INT)
                     AS n_windows,
                   CASE WHEN nb = 0 THEN 0.0
                        ELSE list_sum(list_transform(string_split(text, ''),
                                                     c -> CAST(ascii(c) AS DOUBLE)))
                             / nb END AS mean_byte
            FROM b
        """,
        # SRP-LSH ANN replicated in SQL: bucket every corpus vector with
        # the same literal hyperplanes, probe Hamming<=1 around the
        # query's bucket, exact round-6 cosine re-rank, top-10 with
        # vec_id tie-break. Mirrors operators/similarity.py:knn_lsh.
        "ext-similarity-ann": f"""
            WITH q AS (
              SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            b AS (
              SELECT vec_id, embedding, {bucket_emb} AS bkt
              FROM embeddings WHERE vec_id <> 0),
            qb AS (SELECT {bucket_q} AS qbkt FROM q)
            SELECT vec_id, {cos_q} AS cosine_sim
            FROM b, qb, q
            WHERE b.bkt = qb.qbkt OR bit_count(xor(b.bkt, qb.qbkt)) = 1
            ORDER BY cosine_sim DESC NULLS LAST, vec_id
            LIMIT 10
        """,
        # IVF ANN replicated in SQL: centroids = the 8 corpus vectors
        # with the lowest md5-derived id hash (the hash-SPREAD seed
        # of ivf_centroids_from_sample — decorrelated from ingestion
        # order, id tie-break), argmin cell assignment with
        # (distance, index) tie-break, 2-cell probe nearest the query,
        # exact cosine re-rank. Mirrors operators/similarity.py:knn_ivf.
        "ext-similarity-ivf": f"""
            WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
            q AS (
              SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            cent AS (
              SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i, cv
              FROM (SELECT vec_id, embedding AS cv,
                           CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                               1, 13) AS BIGINT) AS h
                    FROM corpus)
              ORDER BY h, vec_id LIMIT 8),
            assign AS (
              SELECT vec_id, embedding, i,
                     ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY {_sql_l2('embedding', 'cv')}, i) AS rn
              FROM corpus CROSS JOIN cent),
            probe AS (
              SELECT i FROM cent, q
              ORDER BY {_sql_l2('qv', 'cv')}, i LIMIT 2)
            SELECT vec_id, {cos_q} AS cosine_sim
            FROM assign, q
            WHERE rn = 1 AND i IN (SELECT i FROM probe)
            ORDER BY cosine_sim DESC NULLS LAST, vec_id
            LIMIT 10
        """,
        # IVF ANN after 3 deterministic Lloyd rounds, replayed in SQL:
        # seed centroids = the hash-spread 8 (as ext-similarity-ivf),
        # then per round argmin assign -> ordered-fold per-dim means
        # -> rebuild, then the same 2-cell probe + cosine re-rank as
        # ext-similarity-ivf.
        "ext-similarity-ivf-kmeans": f"""
            WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
            q AS (
              SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            cent0 AS (
              SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i,
                     list_transform(cv, x -> CAST(x AS DOUBLE)) AS cv
              FROM (SELECT vec_id, embedding AS cv,
                           CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                               1, 13) AS BIGINT) AS h
                    FROM corpus)
              ORDER BY h, vec_id LIMIT 8),
            {lloyd_rounds},
            final_assign AS (
              SELECT c.vec_id, c.embedding, t.i,
                     ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY {_sql_l2('c.embedding', 't.cv')}, t.i) AS rn
              FROM corpus c CROSS JOIN cent3 t),
            probe AS (
              SELECT i FROM cent3, q
              ORDER BY {_sql_l2('qv', 'cv')}, i LIMIT 2)
            SELECT vec_id, {cos_q} AS cosine_sim
            FROM final_assign, q
            WHERE rn = 1 AND i IN (SELECT i FROM probe)
            ORDER BY cosine_sim DESC NULLS LAST, vec_id
            LIMIT 10
        """,
        # Product-quantization ADC replayed in SQL: seed codebooks =
        # 16 lowest-id corpus vectors sliced into 8 subspaces, then
        # TWO per-subspace Lloyd rounds (ordered folds — exact replay
        # of pq_codebooks_refined), argmin encode per (vector,
        # subspace), query LUT, ordered-fold ADC sum. Mirrors
        # operators/similarity.py:pq_codebooks_refined/pq_encode/
        # knn_pq_adc.
        "ext-similarity-pq": f"""
            WITH corpus AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings WHERE vec_id <> 0),
            q AS (
              SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id = 0),
            seeds AS (
              SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, v AS cv
              FROM corpus ORDER BY vec_id LIMIT 16),
            js AS (SELECT UNNEST(generate_series(0, 7)) AS j),
            pcent0 AS (
              SELECT j, i, list_slice(cv, j * 8 + 1, j * 8 + 8) AS cs
              FROM seeds CROSS JOIN js),
            sub AS (
              SELECT vec_id, j, list_slice(v, j * 8 + 1, j * 8 + 8) AS vs
              FROM corpus CROSS JOIN js),
            {pq_lloyd_rounds},
            cent AS (SELECT j, i, cs FROM pcent2),
            assign AS (
              SELECT vec_id, j, i,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, j
                       ORDER BY {_sql_l2('vs', 'cs')}, i) AS rn
              FROM sub JOIN cent USING (j)),
            codes AS (SELECT vec_id, j, i AS code FROM assign WHERE rn = 1),
            lut AS (
              SELECT j, i,
                     {_sql_l2("list_slice(qv, j * 8 + 1, j * 8 + 8)", "cs")}
                       AS d
              FROM cent, q),
            per AS (
              SELECT c.vec_id, c.j, c.code, l.d
              FROM codes c JOIN lut l ON l.j = c.j AND l.i = c.code),
            adc AS (
              SELECT vec_id,
                     ROUND(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                                    list(d ORDER BY j)),
                       (a, x) -> a + x), 6) AS adc_dist,
                     list(code ORDER BY j) AS pq_code
              FROM per GROUP BY vec_id)
            SELECT vec_id, adc_dist,
                   array_to_string(pq_code, ',') AS pq_code,
                   CAST(ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id)
                        AS INT) AS rank
            FROM adc
            QUALIFY rank <= 10
        """,
        # SRP-bucketed near-dup pairs: Hamming<=1 bucket join + round-6
        # cosine >= 0.35 verify. Mirrors
        # operators/similarity.py:embedding_near_dup_pairs (planes path).
        "ext-dedup-embedding-lsh": f"""
            WITH b AS (
              SELECT vec_id, embedding, {bucket_emb} AS bkt
              FROM embeddings)
            SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                   {_sql_cosine('a.embedding', 'c.embedding')} AS cosine_sim
            FROM b a JOIN b c
              ON a.vec_id < c.vec_id
             AND (a.bkt = c.bkt OR bit_count(xor(a.bkt, c.bkt)) = 1)
            WHERE {_sql_cosine('a.embedding', 'c.embedding')} >= 0.35
        """,
        # Full banded MinHash-LSH replicated in SQL: the md5-derived
        # portable hash makes every stage deterministic across engines —
        # shingle hash -> 32 permutation minima -> 8 band hashes ->
        # hot-bucket (>200) bar -> candidate pairs -> signature-estimated
        # Jaccard >= 0.5. Mirrors operators/dedup.py:dedup_minhash_lsh.
        # Sentence-split twin: fixture injection + mark-then-split
        # replay (RE2 backreference syntax \1 vs Java's $1 — same
        # semantics).
        "ext-sentence-split": "WITH " + _SENTENCED_FIX_CTE + r""",
            ex AS (
              SELECT doc_id,
                     CAST(i - 1 AS INT) AS sent_idx,
                     trim(ps[i]) AS sentence
              FROM parts, UNNEST(generate_series(1, len(ps))) AS u(i))
            SELECT doc_id, sent_idx, sentence
            FROM ex WHERE length(sentence) > 0
        """,
        # Sentence-decontamination twin: the SAME fixture + split
        # CTEs, then normalize (lower + whitespace collapse), the
        # >=3-word floor, the %97 benchmark sentence set, and a
        # per-doc distinct leaked-sentence count.
        "ext-sentence-decontaminate": "WITH " + _SENTENCED_FIX_CTE + r""",
            ex AS (
              SELECT doc_id, trim(ps[i]) AS sentence
              FROM parts, UNNEST(generate_series(1, len(ps))) AS u(i)),
            good AS (
              SELECT doc_id,
                     lower(regexp_replace(sentence, '\s+', ' ', 'g'))
                       AS sn
              FROM ex
              WHERE length(sentence) > 0
                AND len(string_split(
                      lower(regexp_replace(sentence, '\s+', ' ', 'g')),
                      ' ')) >= 3),
            bset AS (SELECT DISTINCT sn FROM good WHERE doc_id % 97 = 0),
            m AS (
              SELECT doc_id, COUNT(DISTINCT sn) AS n
              FROM good JOIN bset USING (sn)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(n, 0) AS BIGINT) AS n_leaked_sentences,
                   COALESCE(n, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN m USING (doc_id)
        """,
        # No-fragment packer twin: the sequential next-fit fold as a
        # per-shard recursive CTE advancing one doc per step.
        "ext-pack-nofragment": r"""
            WITH RECURSIVE toks AS MATERIALIZED (
              SELECT doc_id % 4 AS shard, doc_id,
                     CAST(CASE WHEN doc_id % 17 = 0 THEN 0
                               WHEN doc_id % 23 = 0 THEN 500
                               ELSE CASE WHEN length(trim(COALESCE(
                                           text, ''))) = 0 THEN 0
                                    ELSE len(string_split_regex(
                                           trim(COALESCE(text, '')),
                                           '\s+')) END
                          END AS BIGINT) AS n_tokens,
                     ROW_NUMBER() OVER (PARTITION BY doc_id % 4
                                        ORDER BY doc_id) AS rn
              FROM documents),
            st AS (
              SELECT shard, rn, doc_id, n_tokens,
                     CAST(0 AS BIGINT) AS seq_idx,
                     CAST(0 AS BIGINT) AS offset_in_seq,
                     n_tokens AS fill
              FROM toks WHERE rn = 1
              UNION ALL
              SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
                     CASE WHEN st.fill > 0 AND t.n_tokens > 0
                               AND st.fill + t.n_tokens > 128
                          THEN st.seq_idx + 1 ELSE st.seq_idx END,
                     CASE WHEN st.fill > 0 AND t.n_tokens > 0
                               AND st.fill + t.n_tokens > 128
                          THEN 0 ELSE st.fill END,
                     CASE WHEN st.fill > 0 AND t.n_tokens > 0
                               AND st.fill + t.n_tokens > 128
                          THEN t.n_tokens
                          ELSE st.fill + t.n_tokens END
              FROM st JOIN toks t
                ON t.shard = st.shard AND t.rn = st.rn + 1)
            SELECT shard, doc_id, n_tokens, seq_idx, offset_in_seq
            FROM st
        """,
        # Dedup-recall twin: the proven jaccard chain (t*-prefixed)
        # + the proven minhash band chain (original CTE names — the
        # shared mh_* fragments reference `sig`) + the bucket rollup.
        "ext-dedup-recall": f"""
            WITH lagd AS (
              SELECT doc_id, text,
                     LAG(text) OVER (ORDER BY doc_id) AS prev
              FROM documents),
            fix AS (
              SELECT doc_id,
                CASE WHEN doc_id % 5 = 1 AND prev IS NOT NULL THEN
                  array_to_string(list_concat(
                    string_split(COALESCE(prev, ''), ' ')[1:30],
                    CASE WHEN (doc_id % 7) > 0
                         THEN string_split(COALESCE(text, ''),
                                           ' ')[1:3 * (doc_id % 7)]
                         ELSE CAST([] AS VARCHAR[]) END), ' ')
                ELSE text END AS text
              FROM lagd),
            w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM fix),
            tg AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            tsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM tg
                       GROUP BY doc_id),
            thot AS (SELECT s FROM tg GROUP BY s HAVING COUNT(*) > 100),
            tposts AS (SELECT doc_id, s FROM tg
                       WHERE s NOT IN (SELECT s FROM thot)),
            tpairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS n_common
              FROM tposts a JOIN tposts b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            truth AS (
              SELECT id_a, id_b,
                     ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common
                                           AS DOUBLE), 4) AS jaccard
              FROM tpairs
              JOIN tsizes sa ON sa.doc_id = tpairs.id_a
              JOIN tsizes sb ON sb.doc_id = tpairs.id_b
              WHERE ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common
                                          AS DOUBLE), 4) >= 0.3),
            g AS (
              SELECT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            hashed AS (
              SELECT doc_id, {p52('s')} % {mersenne} AS h FROM g),
            sig AS (
              SELECT doc_id,
                     {mh_mins}
              FROM hashed GROUP BY doc_id),
            banded AS (
              {mh_bands_sql}),
            hot AS (
              SELECT band, band_hash FROM banded
              GROUP BY 1, 2 HAVING COUNT(*) > 200),
            kept AS (
              SELECT bd.* FROM banded bd
              LEFT JOIN hot ON bd.band = hot.band
                           AND bd.band_hash = hot.band_hash
              WHERE hot.band IS NULL),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM kept l JOIN kept r
                ON l.band = r.band AND l.band_hash = r.band_hash
               AND l.doc_id < r.doc_id),
            t2 AS (
              SELECT id_a, id_b, FLOOR(jaccard * 10) / 10.0 AS bucket_lo
              FROM truth),
            per_true AS (
              SELECT bucket_lo, COUNT(*) AS n_true_pairs
              FROM t2 GROUP BY 1),
            per_caught AS (
              SELECT bucket_lo, COUNT(*) AS n_caught
              FROM t2
              WHERE EXISTS (SELECT 1 FROM cand
                            WHERE cand.id_a = t2.id_a
                              AND cand.id_b = t2.id_b)
              GROUP BY 1)
            SELECT pt.bucket_lo, pt.n_true_pairs,
                   COALESCE(pc.n_caught, 0) AS n_caught,
                   ROUND(COALESCE(pc.n_caught, 0)
                         / CAST(pt.n_true_pairs AS DOUBLE), 4) AS recall
            FROM per_true pt LEFT JOIN per_caught pc
              ON pt.bucket_lo = pc.bucket_lo
        """,
        "ext-dedup-minhash": f"""
            WITH w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            g AS (
              SELECT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            hashed AS (
              SELECT doc_id, {p52('s')} % {mersenne} AS h FROM g),
            sig AS (
              SELECT doc_id,
                     {mh_mins}
              FROM hashed GROUP BY doc_id),
            banded AS (
              {mh_bands_sql}),
            hot AS (
              SELECT band, band_hash FROM banded
              GROUP BY 1, 2 HAVING COUNT(*) > 200),
            kept AS (
              SELECT bd.* FROM banded bd
              LEFT JOIN hot ON bd.band = hot.band
                           AND bd.band_hash = hot.band_hash
              WHERE hot.band IS NULL),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM kept l JOIN kept r
                ON l.band = r.band AND l.band_hash = r.band_hash
               AND l.doc_id < r.doc_id)
            SELECT id_a, id_b,
                   ROUND(({mh_match}) / CAST({mh_n} AS DOUBLE), 4)
                     AS est_jaccard
            FROM cand
            JOIN sig a ON a.doc_id = cand.id_a
            JOIN sig b ON b.doc_id = cand.id_b
            WHERE ROUND(({mh_match}) / CAST({mh_n} AS DOUBLE), 4) >= 0.5
        """,
        # 16-bit SimHash with the same portable hash: per-bit token
        # votes (+1/-1 per occurrence), sign -> bit. Mirrors
        # operators/dedup.py:simhash.
        "ext-dedup-simhash": f"""
            WITH w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            tok AS (SELECT doc_id, UNNEST(ws) AS t FROM w),
            hashed AS (
              SELECT doc_id, {p52('t')} AS h FROM tok WHERE t <> ''),
            v AS (
              SELECT doc_id,
                   {sh_votes}
              FROM hashed GROUP BY doc_id)
            SELECT doc_id, CAST({sh_fp} AS BIGINT) AS simhash FROM v
        """,
        # Hamming-banded near-dup pairs over the same fingerprints:
        # band explode -> hot-cap prune -> band equi-join -> exact
        # bit_count(xor) verify (oracle proven verbatim in
        # tests/test_round8_ops.py).
        "ext-dedup-simhash-pairs": f"""
            WITH w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            tok AS (SELECT doc_id, UNNEST(ws) AS t FROM w),
            hashed AS (
              SELECT doc_id, {p52('t')} AS h FROM tok WHERE t <> ''),
            v AS (
              SELECT doc_id,
                   {sh_votes}
              FROM hashed GROUP BY doc_id),
            sig AS (SELECT doc_id, CAST({sh_fp} AS BIGINT) AS fp FROM v),
            banded AS (
              {sh_bands_sql}),
            hot AS (SELECT band_idx, band_val FROM banded
                    GROUP BY 1, 2 HAVING COUNT(*) > {sh_hot}),
            kept AS (
              SELECT bd.* FROM banded bd
              LEFT JOIN hot ON bd.band_idx = hot.band_idx
                           AND bd.band_val = hot.band_val
              WHERE hot.band_idx IS NULL),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                     l.fp AS fa, r.fp AS fb
              FROM kept l JOIN kept r
                ON l.band_idx = r.band_idx AND l.band_val = r.band_val
               AND l.doc_id < r.doc_id)
            SELECT id_a, id_b,
                   CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(fa, fb)) <= {sh_ham}
        """,
        # Epoch expansion twin: when-chain epochs, portable-hash
        # fractional gate, generate_series explode (oracle proven
        # verbatim in tests/test_round8_ops.py).
        "ext-mixture-expand": f"""
            WITH e AS (
              SELECT doc_id, source,
                     CAST(CASE source
                          WHEN 'src0' THEN 2.3 WHEN 'src1' THEN 0.0
                          WHEN 'src2' THEN 1.0 WHEN 'src3' THEN 0.4
                          ELSE 1.0 END AS DOUBLE) AS ep,
                     {p52("doc_id::VARCHAR || chr(31) || 'v1'")}
                       % 1000000 AS gate
              FROM documents),
            n AS (
              SELECT doc_id, source,
                     CAST(FLOOR(ep) AS BIGINT)
                       -- DOUBLE subtraction + TRUNC replays Spark's
                       -- (frac * 1e6).cast('long') exactly: 2.3-2.0
                       -- is 0.299999..., so the threshold is 299999,
                       -- not DECIMAL's exact 300000 (Spark casts
                       -- truncate; DuckDB casts round — same rule as
                       -- the ext-sample-stratified twin's FLOOR)
                       + CASE WHEN gate < CAST(TRUNC((ep - FLOOR(ep))
                                               * 1000000) AS BIGINT)
                              THEN 1 ELSE 0 END AS n_rep
              FROM e)
            SELECT doc_id, source,
                   CAST(UNNEST(generate_series(0, n_rep - 1)) AS INT)
                     AS repeat_idx
            FROM n WHERE n_rep > 0
        """,
        # Whitening twin: 6-dp dim stats + z-score at the same
        # rounding; long format (oracle proven verbatim in
        # tests/test_round8_ops.py).
        "ext-embedding-whiten": """
            WITH ex AS (
              SELECT vec_id, CAST(i - 1 AS INT) AS dim,
                     CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings,
                   (SELECT UNNEST(generate_series(1, 64)) AS i)),
            stats AS (
              SELECT dim, ROUND(AVG(v), 6) AS m,
                     ROUND(STDDEV_SAMP(v), 6) AS s
              FROM ex GROUP BY 1)
            SELECT vec_id, dim,
                   ROUND(CASE WHEN s > 0 THEN (v - m) / s
                              ELSE 0.0 END, 6) AS white_val
            FROM ex JOIN stats USING (dim)
        """,
        # Inverted-index n-gram Jaccard, replicated with list functions:
        # distinct word 3-grams per doc, hot shingles (>100 docs) barred
        # from seeding candidate pairs, true set sizes from UNFILTERED
        # postings, exact Jaccard on candidates, threshold 0.3.
        "ext-dedup-ngram-jaccard": """
            WITH w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM g GROUP BY doc_id),
            hot AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) > 100),
            posts AS (SELECT doc_id, s FROM g
                      WHERE s NOT IN (SELECT s FROM hot)),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS n_common
              FROM posts a JOIN posts b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common
                                         AS DOUBLE), 4) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = pairs.id_a
            JOIN sizes sb ON sb.doc_id = pairs.id_b
            WHERE ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common
                                        AS DOUBLE), 4) >= 0.3
        """,
        # Containment twin: same inverted-index machinery, min-size
        # normalizer instead of union (asymmetric sub-document signal).
        "ext-dedup-ngram-containment": """
            WITH w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            hot AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) > 100),
            posts AS (SELECT doc_id, s FROM g
                      WHERE s NOT IN (SELECT s FROM hot)),
            -- sizes from the FILTERED postings, symmetric with
            -- n_common (see ngram_containment_pairs docstring)
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh
                      FROM posts GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS n_common
              FROM posts a JOIN posts b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   ROUND(n_common / CAST(LEAST(sa.n_sh, sb.n_sh)
                                         AS DOUBLE), 4) AS containment
            FROM pairs
            JOIN sizes sa ON sa.doc_id = pairs.id_a
            JOIN sizes sb ON sb.doc_id = pairs.id_b
            WHERE ROUND(n_common / CAST(LEAST(sa.n_sh, sb.n_sh)
                                        AS DOUBLE), 4) >= 0.5
        """,
        # Same 3-gram machinery as the jaccard oracle; benchmark =
        # doc_id % 97 == 0, contaminated = >= 5 shared distinct grams.
        "ext-decontaminate": """
            WITH w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            bg AS (SELECT DISTINCT s FROM g WHERE doc_id % 97 = 0),
            m AS (
              SELECT doc_id, COUNT(*) AS n_matched
              FROM g WHERE s IN (SELECT s FROM bg)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched_ngrams,
                   COALESCE(m.n_matched, 0) >= 5 AS contaminated
            FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        """,
        # Global token prefix-sum == Spark's two-pass grouped cumsum.
        "ext-pack-sequences": r"""
            WITH t AS (
              SELECT doc_id,
                CAST(len(regexp_extract_all(COALESCE(text, ''),
                     '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
              FROM t)
            SELECT doc_id, n_tokens,
                   tok_end - n_tokens AS tok_start, tok_end,
                   (tok_end - n_tokens) // 512 AS seq_first,
                   CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 512
                        ELSE (tok_end - n_tokens) // 512 END AS seq_last,
                   (CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 512
                         ELSE (tok_end - n_tokens) // 512 END)
                     - ((tok_end - n_tokens) // 512) + 1 AS n_seqs
            FROM c
        """,
        # Composed pipeline: dedup -> decontaminate -> quality >= 0.5
        # -> pack. Stage twins reused verbatim from the per-op oracles.
        "ext-prepare-corpus": f"""
            WITH surv AS (
              SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
            w AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 2)) AS i
                    FROM w WHERE len(ws) >= 3)
              WHERE ws[i] <> ''),
            bg AS (SELECT DISTINCT s FROM g WHERE doc_id % 97 = 0),
            m AS (
              SELECT doc_id, COUNT(*) AS n_matched
              FROM g WHERE s IN (SELECT s FROM bg)
              GROUP BY doc_id),
            kept AS (
              SELECT d.doc_id, d.text
              FROM documents d
              JOIN surv ON surv.doc_id = d.doc_id
              LEFT JOIN m ON m.doc_id = d.doc_id
              WHERE COALESCE(m.n_matched, 0) < 5),
            qual AS (
              SELECT doc_id, text,
                CASE WHEN len(words) = 0 THEN 0.0 ELSE ROUND(
                  0.4 * LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
                  + 0.3 * (1.0 - len(list_filter(words, x ->
                      list_contains({stop_list}, x)))
                      / CAST(len(words) AS DOUBLE))
                  + 0.3 * (len(list_distinct(words))
                      / CAST(len(words) AS DOUBLE)),
                4) END AS quality
              FROM (SELECT doc_id, text, {words_expr} AS words FROM kept)),
            t AS (
              SELECT doc_id,
                CAST(len(regexp_extract_all(COALESCE(text, ''),
                     '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
              FROM qual WHERE quality >= 0.5),
            c AS (
              SELECT doc_id, n_tokens,
                CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
              FROM t)
            SELECT doc_id, n_tokens,
                   tok_end - n_tokens AS tok_start, tok_end,
                   (tok_end - n_tokens) // 512 AS seq_first,
                   CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 512
                        ELSE (tok_end - n_tokens) // 512 END AS seq_last,
                   (CASE WHEN n_tokens > 0 THEN (tok_end - 1) // 512
                         ELSE (tok_end - n_tokens) // 512 END)
                     - ((tok_end - n_tokens) // 512) + 1 AS n_seqs
            FROM c
        """,
        "sink-jsonl-roundtrip": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        "ext-vocabulary": f"""
            WITH w AS (SELECT {words_lower} AS words FROM documents),
            t AS (SELECT UNNEST(words) AS term FROM w),
            c AS (
              SELECT term, COUNT(*) AS n FROM t
              WHERE term <> '' GROUP BY term
              ORDER BY n DESC, term LIMIT 100)
            SELECT term, n,
                   CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS INT)
                     AS rank
            FROM c
        """,
        # Ordered-fold mean (components summed in vec_id order on both
        # sides) — bit-reproducible across engines, unlike AVG whose
        # partial-merge fold order is partitioning-dependent.
        "ext-embedding-pool": f"""
            SELECT label, pos,
                   ROUND({_sql_fold_sum("list(CAST(v AS DOUBLE) ORDER BY vec_id)")}
                         / COUNT(*), 4) + 0.0 AS mean_val
            FROM (SELECT label, vec_id, UNNEST(embedding) AS v,
                         CAST(generate_subscripts(embedding, 1) - 1 AS INT)
                           AS pos
                  FROM embeddings)
            GROUP BY label, pos
        """,
        # Portable md5 hash gate == Spark's portable_hash52; FLOOR
        # before the BIGINT cast because Spark's cast truncates while
        # DuckDB's rounds; the rate CASE is forced to DOUBLE so the
        # threshold replays Spark's float arithmetic for ANY rate —
        # DECIMAL would put e.g. a 0.3 rate at exactly 300000 where
        # Spark's double puts it at 299999 (the ext-mixture-expand
        # lesson; current rates happen to agree, future ones must).
        "ext-sample-stratified": """
            SELECT doc_id, source, lang FROM documents
            WHERE (('0x' || substr(md5(doc_id::VARCHAR || chr(31) || 'v1'),
                    1, 13))::BIGINT % 1000000)
                < CAST(TRUNC(CAST((CASE source
                       WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                       WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1
                       ELSE 0.05 END) AS DOUBLE) * 1000000) AS BIGINT)
        """,
        "ext-mixture-allocate": r"""
            WITH t AS (
              SELECT source,
                CAST(len(regexp_extract_all(COALESCE(text, ''),
                     '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n
              FROM documents),
            a AS (SELECT source, CAST(SUM(n) AS BIGINT) AS available_tokens
                  FROM t GROUP BY source),
            b AS (
              -- CAST: DuckDB types bare 50000.0 literals as DECIMAL,
              -- which would ripple into every downstream column.
              SELECT source, available_tokens,
                ROUND(CAST(CASE source
                      WHEN 'src0' THEN 50000.0 WHEN 'src1' THEN 30000.0
                      WHEN 'src2' THEN 20000.0 ELSE 0.0 END AS DOUBLE), 2)
                  AS target_tokens
              FROM a)
            SELECT source, available_tokens, target_tokens,
              ROUND(LEAST(CAST(available_tokens AS DOUBLE), target_tokens),
                    2) AS allocated_tokens,
              ROUND(CASE WHEN available_tokens > 0
                    THEN target_tokens / available_tokens
                    ELSE 0.0 END, 4) AS epochs
            FROM b
        """,
        # Line-level dedup over deterministically chunked docs: a line
        # survives only at its globally smallest (doc_id, line_no).
        # Line numbering is 1-based here vs 0-based in Spark — only
        # ordering matters, and it agrees.
        "ext-dedup-lines": """
            WITH w AS (
              SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS ws
              FROM documents),
            ml AS (
              SELECT doc_id,
                     array_to_string(
                       list_transform(
                         generate_series(
                           1, GREATEST(CAST(ceil(len(ws) / 5.0) AS INT), 1)),
                         i -> array_to_string(ws[(i-1)*5+1 : i*5], ' ')),
                       chr(10)) AS text
              FROM w),
            lines AS (
              SELECT doc_id,
                     UNNEST(generate_series(1, len(ls))) AS line_no,
                     UNNEST(ls) AS line
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                    FROM ml)),
            flagged AS (
              SELECT doc_id, line_no, line,
                     (length(line) < 1) OR
                     ROW_NUMBER() OVER (PARTITION BY line
                                        ORDER BY doc_id, line_no) = 1
                     AS keep
              FROM lines)
            SELECT doc_id,
                   COALESCE(string_agg(line, chr(10) ORDER BY line_no)
                            FILTER (WHERE keep), '') AS text,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept
            FROM flagged GROUP BY doc_id
        """,
        # Gopher repetition metrics over the same chunked lines; top
        # 2-gram ties break (count DESC, gram DESC) in both engines.
        # Chunking preserves character count (every 5th space becomes
        # a newline), so gram char fractions use the chunked length.
        "ext-quality-repetition": """
            WITH w AS (
              SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS ws
              FROM documents),
            ml AS (
              SELECT doc_id,
                     array_to_string(
                       list_transform(
                         generate_series(
                           1, GREATEST(CAST(ceil(len(ws) / 5.0) AS INT), 1)),
                         i -> array_to_string(ws[(i-1)*5+1 : i*5], ' ')),
                       chr(10)) AS text
              FROM w),
            lines AS (
              SELECT doc_id, UNNEST(string_split(trim(text), chr(10))) AS line
              FROM ml),
            pl AS (SELECT doc_id, line, COUNT(*) AS c
                   FROM lines GROUP BY 1, 2),
            ls AS (SELECT doc_id,
                          SUM(c) AS n_lines,
                          SUM(c - 1) AS dups,
                          SUM(c * length(line)) AS tot,
                          SUM((c - 1) * length(line)) AS dupc
                   FROM pl GROUP BY doc_id),
            mlen AS (SELECT doc_id, length(trim(text)) AS len FROM ml),
            gws AS (
              SELECT doc_id,
                CASE WHEN length(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
              FROM ml),
            gr AS (
              SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
              FROM (SELECT doc_id, ws,
                           UNNEST(generate_series(1, len(ws) - 1)) AS i
                    FROM gws WHERE len(ws) >= 2)
              WHERE ws[i] <> ''),
            pg AS (SELECT doc_id, g, COUNT(*) AS c FROM gr GROUP BY 1, 2),
            topg AS (
              SELECT doc_id, g, c FROM (
                SELECT doc_id, g, c,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, g DESC) AS rn
                FROM pg) WHERE rn = 1)
            SELECT ls.doc_id,
                   CAST(ls.n_lines AS BIGINT) AS n_lines,
                   ROUND(ls.dups / CAST(ls.n_lines AS DOUBLE), 4)
                     AS dup_line_frac,
                   CASE WHEN ls.tot > 0
                        THEN ROUND(ls.dupc / CAST(ls.tot AS DOUBLE), 4)
                        ELSE 0.0 END AS dup_line_char_frac,
                   COALESCE(topg.g, '') AS top_2gram,
                   CASE WHEN mlen.len > 0 AND topg.g IS NOT NULL
                        THEN ROUND(LEAST(topg.c * length(topg.g)
                                         / CAST(mlen.len AS DOUBLE), 1.0), 4)
                        ELSE 0.0 END AS top_2gram_char_frac
            FROM ls
            JOIN mlen ON mlen.doc_id = ls.doc_id
            LEFT JOIN topg ON topg.doc_id = ls.doc_id
        """,
        # Cluster resolution over the SAME deterministic pair set:
        # recursive transitive closure, cluster id = min reachable doc
        # id; docs in no pair are their own singleton cluster.
        "ext-dedup-cluster": _CLUSTER_CTE_SQL + """
            SELECT d.doc_id,
                   CAST(COALESCE(cc.cid, d.doc_id) AS BIGINT) AS cluster_id
            FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
        """,
        # Same cluster CTE as ext-dedup-cluster + the md5 hash gate on
        # the cluster id (cluster-level split => leakage-free).
        "ext-split-leakage-free": _CLUSTER_CTE_SQL + """,
            lab AS (
              SELECT d.doc_id,
                     CAST(COALESCE(cc.cid, d.doc_id) AS BIGINT)
                       AS cluster_id
              FROM documents d LEFT JOIN cc ON cc.node = d.doc_id)
            SELECT doc_id, cluster_id,
                   CASE WHEN ('0x' || substr(md5(cluster_id || chr(31)
                          || 'split1'), 1, 13))::BIGINT % 1000000 < 100000
                        THEN 'val' ELSE 'train' END AS split
            FROM lab
        """,
        # Soft dedup: the cluster CTE + one size join — weight =
        # 1 / cluster size (singletons via the vertices LEFT JOIN).
        "ext-dedup-reweight": _CLUSTER_CTE_SQL + """,
            lab AS (
              SELECT d.doc_id,
                     CAST(COALESCE(cc.cid, d.doc_id) AS BIGINT)
                       AS cluster_id
              FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
            sz AS (SELECT cluster_id, COUNT(*) AS csize
                   FROM lab GROUP BY 1)
            SELECT lab.doc_id, ROUND(1.0 / csize, 6) AS weight
            FROM lab JOIN sz ON sz.cluster_id = lab.cluster_id
        """,
        # Fan-out roundtrip: frames sink + dead-letter sink together
        # must reproduce the whole input table.
        "sink-fanout-roundtrip": """
            SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                   event_type, value, props
            FROM events
        """,
        # Streaming session rollup under Trigger.AvailableNow:
        # append-mode emits exactly the sessions whose window end
        # precedes the final watermark (max event time, ms-truncated,
        # minus the 1 h delay); sessions still open at end-of-input are
        # withheld. Oracle = batch gap sessionization + that filter.
        "stream-tumbling-agg": _TUMBLING_CLOSED_SQL,
        # Restart determinism: two AvailableNow phases through one
        # checkpoint must emit exactly the single-phase closed-window
        # set — same oracle string by construction.
        "stream-restart-resume": _TUMBLING_CLOSED_SQL,
        "stream-pause-resume": _TUMBLING_CLOSED_OBS_SQL,
        # Row-17 twin: the bounded memory queue's final contents are
        # the global newest-K by the monotone id, chunking-invariant.
        "sink-memory-bounded": """
            SELECT event_id, user_id, event_type, value
            FROM events ORDER BY event_id DESC LIMIT 100
        """,
        "stream-segment-rollup": """
            WITH e AS (
              SELECT user_id, event_id, value, epoch_us(ts) AS tus
              FROM events),
            flagged AS (
              SELECT *, CASE WHEN LAG(tus) OVER w IS NULL
                               OR tus - LAG(tus) OVER w > 1800000000
                             THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
            sess AS (
              SELECT user_id, event_id, value, tus,
                SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sid
              FROM flagged),
            rollup AS (
              SELECT user_id,
                     MIN(tus) AS ws,
                     MAX(tus) + 1800000000 AS we,
                     COUNT(*) AS n_rows,
                     ROUND(SUM(value), 2) AS sum_value,
                     MAX(event_id) AS end_position
              FROM sess GROUP BY user_id, sid),
            wm AS (SELECT ((MAX(epoch_us(ts)) // 1000) - 3600000) * 1000
                     AS wm_us FROM events)
            SELECT user_id,
                   make_timestamp(ws) AS w_start,
                   make_timestamp(we) AS w_end,
                   n_rows, sum_value, end_position
            FROM rollup, wm WHERE we <= wm_us
        """,
    }
    # The streaming compaction ends in the batch compaction's final
    # state by construction — share ONE oracle string so a future
    # edit cannot silently diverge the twins.
    d["stream-cdc-compact"] = d["ext-cdc-compact"]
    # Streaming decontamination's appended union EQUALS the batch
    # result (every flag depends only on (corpus row, benchmark)) —
    # same sharing rule.
    d["stream-semantic-decontaminate"] = d["ext-semantic-decontaminate"]

    # ---- round-8 registrations (twins proven one round ahead in
    # tests/test_round6_ops.py / tests/test_round7_ops.py) ----

    # WAV/PNG codec roundtrips: the twins replay the deterministic
    # synthesis formulas over range() — no table needed; equality
    # proves the REAL stdlib codecs wrote and re-read exact payloads.
    d["ext-multimodal-wav"] = """
        SELECT i AS doc_id, 8000 AS sample_rate, 1 AS n_channels,
               2 AS sample_width, CAST(441 AS BIGINT) AS n_frames,
               CAST(441 * 1000 // 8000 AS BIGINT) AS duration_ms,
               CAST(SUM(((i * 31 + k * 17) % 65536) - 32768) AS BIGINT)
                 AS sum_samples,
               CAST(SUM(ABS(((i * 31 + k * 17) % 65536) - 32768))
                 AS BIGINT) AS sum_abs_samples
        FROM range(0, 40) t(i), range(0, 441) s(k)
        GROUP BY i
    """
    d["ext-multimodal-png"] = """
        SELECT i AS doc_id, 8 AS height, 8 AS width, 8 AS bit_depth,
               2 AS color_type, TRUE AS crc_ok,
               CAST(SUM((i * 7 + y * 131 + x * 17 + c * 43) % 256)
                 AS BIGINT) AS sum_pixels
        FROM range(0, 25) t(i), range(0, 8) ys(y), range(0, 8) xs(x),
             range(0, 3) cs(c)
        GROUP BY i
    """
    # The KVS frame loop's file sink: 60 frames written as PNG files,
    # read back via binaryFile and CRC-decoded; the twin replays the
    # encode pixel formula per frame id.
    d["sink-png-files"] = """
        SELECT i AS frame_id,
               CAST(SUM((i * 7 + y * 131 + x * 17 + c * 43) % 256)
                 AS BIGINT) AS sum_pixels,
               TRUE AS crc_ok
        FROM range(1, 61) t(i), range(0, 8) ys(y), range(0, 8) xs(x),
             range(0, 3) cs(c)
        GROUP BY i
    """
    # Tokenize->pack composition: the bpe-encode CTE chain + the pack
    # prefix-sum tail in ONE statement.
    d["ext-tokenize-pack"] = _bpe_oracle_sql(10, pack_capacity=512)
    # Per-head callback classification: (type, size mod 5) over the
    # synthesized fragments — element sizes are fixed arithmetic over
    # documents (the scan-ebml-heads size model).
    d["scan-element-callback"] = """
        WITH e AS (
          SELECT 'DocTypeReadVersion' AS name,
                 'UINT:' || CAST(1 % 5 AS VARCHAR) AS cb_value
          FROM documents
          UNION ALL
          SELECT 'TagName', 'UTF8:' || CAST(32 % 5 AS VARCHAR)
          FROM documents
          UNION ALL
          SELECT 'TagString',
                 'UTF8:' || CAST(length(CAST(doc_id AS VARCHAR)) % 5
                                 AS VARCHAR)
          FROM documents
          UNION ALL
          SELECT 'SimpleBlock',
                 'BINARY:' || CAST(
                   LEAST(64, octet_length(encode(COALESCE(text, ''))))
                   % 5 AS VARCHAR)
          FROM documents)
        SELECT name, cb_value, CAST(COUNT(*) AS BIGINT) AS n
        FROM e GROUP BY 1, 2
    """
    d["ext-validate-expectations"] = """
        SELECT 'price_in_range' AS rule, COUNT(*) AS n_rows,
          COUNT(*) FILTER (NOT COALESCE(
            o_totalprice BETWEEN 0.0 AND 500000.0, FALSE)) AS n_violations,
          ROUND(COUNT(*) FILTER (NOT COALESCE(
            o_totalprice BETWEEN 0.0 AND 500000.0, FALSE))
            / CAST(COUNT(*) AS DOUBLE), 6) AS violation_rate,
          COUNT(*) FILTER (NOT COALESCE(
            o_totalprice BETWEEN 0.0 AND 500000.0, FALSE)) = 0 AS passed
        FROM orders
        UNION ALL
        SELECT 'priority_known', COUNT(*),
          COUNT(*) FILTER (NOT COALESCE(o_orderpriority IN ('1-URGENT',
            '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), FALSE)),
          ROUND(COUNT(*) FILTER (NOT COALESCE(o_orderpriority IN
            ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
             '5-LOW'), FALSE)) / CAST(COUNT(*) AS DOUBLE), 6),
          COUNT(*) FILTER (NOT COALESCE(o_orderpriority IN ('1-URGENT',
            '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), FALSE)) = 0
        FROM orders
        UNION ALL
        SELECT 'key_positive', COUNT(*),
          COUNT(*) FILTER (NOT COALESCE(o_orderkey > 0, FALSE)),
          ROUND(COUNT(*) FILTER (NOT COALESCE(o_orderkey > 0, FALSE))
            / CAST(COUNT(*) AS DOUBLE), 6),
          COUNT(*) FILTER (NOT COALESCE(o_orderkey > 0, FALSE)) = 0
        FROM orders
        UNION ALL
        SELECT 'fk_user_id_in_c_custkey',
          (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL),
          COUNT(*), ROUND(COUNT(*) / CAST((SELECT COUNT(*) FROM events
            WHERE user_id IS NOT NULL) AS DOUBLE), 6), COUNT(*) = 0
        FROM (SELECT user_id FROM events WHERE user_id IS NOT NULL
              AND user_id NOT IN (SELECT c_custkey FROM customer))
    """
    # Compaction digest: per-event_type count + portable-hash XOR
    # folds over the ORIGINAL table — the compacted directory's
    # digest must equal it iff rows survived the rewrite exactly
    # (bit_xor, not SUM: hash sums overflow int64 at scale).
    d["ext-compact-files"] = """
        SELECT event_type, COUNT(*) AS n_rows,
          BIT_XOR(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
              ::BIGINT) AS id_hash_xor,
          BIT_XOR(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
              ::BIGINT) AS user_hash_xor
        FROM events GROUP BY event_type
    """
    d["ext-vocab-coverage"] = f"""
        WITH w AS (SELECT doc_id, {words_lower} AS words
                   FROM documents),
        tok AS (SELECT doc_id, UNNEST(words) AS term FROM w),
        tok2 AS (SELECT * FROM tok WHERE term <> ''),
        cf AS (SELECT term, COUNT(*) AS c FROM tok2 GROUP BY 1),
        vocab AS (SELECT term FROM cf ORDER BY c DESC, term LIMIT 10),
        dtf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok2
                GROUP BY 1, 2),
        per AS (
          SELECT doc_id, SUM(c) AS n_tokens,
                 SUM(CASE WHEN term NOT IN (SELECT term FROM vocab)
                     THEN c ELSE 0 END) AS n_oov
          FROM dtf GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
               ROUND(CASE WHEN COALESCE(n_tokens, 0) > 0
                 THEN COALESCE(n_oov, 0) / CAST(n_tokens AS DOUBLE) END,
                 6) AS oov_rate
        FROM documents d LEFT JOIN per USING (doc_id)
    """
    # Streaming OOV monitor: the batch twin with the halves split —
    # frozen top-10 vocab from the EVEN half, per-doc audit over the
    # ODD (arriving) half; per-doc flags are chunking-invariant.
    d["stream-vocab-coverage"] = f"""
        WITH wv AS (SELECT doc_id, {words_lower} AS words
                    FROM documents WHERE doc_id % 2 = 0),
        tokv AS (SELECT UNNEST(words) AS term FROM wv),
        cf AS (SELECT term, COUNT(*) AS c FROM tokv
               WHERE term <> '' GROUP BY 1),
        vocab AS (SELECT term FROM cf ORDER BY c DESC, term LIMIT 10),
        w AS (SELECT doc_id, {words_lower} AS words
              FROM documents WHERE doc_id % 2 = 1),
        tok AS (SELECT doc_id, UNNEST(words) AS term FROM w),
        tok2 AS (SELECT * FROM tok WHERE term <> ''),
        dtf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok2
                GROUP BY 1, 2),
        per AS (
          SELECT doc_id, SUM(c) AS n_tokens,
                 SUM(CASE WHEN term NOT IN (SELECT term FROM vocab)
                     THEN c ELSE 0 END) AS n_oov
          FROM dtf GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
               ROUND(CASE WHEN COALESCE(n_tokens, 0) > 0
                 THEN COALESCE(n_oov, 0) / CAST(n_tokens AS DOUBLE) END,
                 6) AS oov_rate
        FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        LEFT JOIN per USING (doc_id)
    """
    d["ext-corpus-drift"] = f"""
        WITH lw AS (SELECT {words_lower} AS words FROM documents
                    WHERE doc_id % 2 = 0),
        rw AS (SELECT {words_lower} AS words FROM documents
               WHERE doc_id % 2 = 1),
        cl AS (SELECT term, COUNT(*) AS c
               FROM (SELECT UNNEST(words) AS term FROM lw)
               WHERE term <> '' GROUP BY 1),
        cr AS (SELECT term, COUNT(*) AS c
               FROM (SELECT UNNEST(words) AS term FROM rw)
               WHERE term <> '' GROUP BY 1),
        t AS (SELECT COALESCE(cl.term, cr.term) AS term,
                     COALESCE(cl.c, 0) AS c_left,
                     COALESCE(cr.c, 0) AS c_right
              FROM cl FULL OUTER JOIN cr ON cl.term = cr.term),
        tot AS (SELECT SUM(c_left) AS nl, SUM(c_right) AS nr,
                       COUNT(*) AS v FROM t),
        pq AS (SELECT term, c_left, c_right,
                      CAST(c_left + 1 AS DOUBLE)
                        / CAST(nl + v AS DOUBLE) AS p,
                      CAST(c_right + 1 AS DOUBLE)
                        / CAST(nr + v AS DOUBLE) AS q
               FROM t CROSS JOIN tot),
        pqm AS (SELECT *, (p + q) / 2.0 AS m FROM pq)
        SELECT term, CAST(c_left AS BIGINT) AS c_left,
               CAST(c_right AS BIGINT) AS c_right,
               ROUND(p * 1000000.0, 4) AS p_left_micro,
               ROUND(q * 1000000.0, 4) AS p_right_micro,
               ROUND(p * (ln(p) - ln(q)) * 1000000.0, 4) AS kl_micro,
               ROUND((p * (ln(p) - ln(m)) + q * (ln(q) - ln(m))) / 2.0
                 * 1000000.0, 4) AS js_micro
        FROM pqm
    """
    # The streaming drift monitor's state is the FULL running count
    # table, so its final emission equals the batch drift exactly —
    # share ONE oracle string (same rule as stream-cdc-compact).
    d["stream-corpus-drift"] = d["ext-corpus-drift"]
    d["ext-domain-cap-topk"] = """
        WITH r AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice,
                 CAST(ROW_NUMBER() OVER (
                     PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey) AS INT)
                   AS rank_in_group,
                 COUNT(*) OVER (PARTITION BY o_orderpriority)
                   AS n_in_group
          FROM orders)
        SELECT * FROM r WHERE rank_in_group <= 20
    """
    _boiler = ("all rights reserved redistribution permitted only "
               "under the terms of the license agreement above")
    d["ext-dedup-span-removal"] = f"""
        WITH injected AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0
                   THEN coalesce(text, '') || ' {_boiler}'
                   ELSE text END AS text
          FROM documents),
        base AS (
          SELECT doc_id, text IS NULL AS was_null,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0
                   THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(
                     trim(lower(coalesce(text, ''))), '\\s+') END AS ws
          FROM injected),
        elig AS (SELECT doc_id, ws, len(ws) AS n FROM base
                 WHERE len(ws) >= 8),
        anchors AS (
          SELECT doc_id, ws, p
          FROM elig, UNNEST(range(0, n - 8 + 1)) AS t(p)
          WHERE {p52("ws[CAST(p AS INT) + 1]")} % 4 = 0),
        occ AS (
          SELECT doc_id, p AS start,
                 {p52("array_to_string(ws[CAST(p AS INT) + 1:"
                      "CAST(p AS INT) + 8], ' ')")} AS h
          FROM anchors),
        dup AS (
          SELECT h, COUNT(DISTINCT doc_id) AS nd,
                 MIN(doc_id * 4294967296 + start) AS fk
          FROM occ GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        removed AS (
          SELECT o.doc_id, o.start
          FROM occ o JOIN dup d USING (h)
          WHERE NOT (o.doc_id = d.fk // 4294967296
                     AND o.start = d.fk % 4294967296)),
        drop_pos AS (
          SELECT DISTINCT doc_id, CAST(pp AS BIGINT) AS pos
          FROM removed, UNNEST(range(start, start + 8)) AS t(pp)),
        toks AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                 ws[CAST(i AS INT)] AS w
          FROM base, UNNEST(range(1, len(ws) + 1)) AS t(i)),
        kept AS (
          SELECT t.* FROM toks t ANTI JOIN drop_pos d
          USING (doc_id, pos)),
        rebuilt AS (
          SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id)
        SELECT b.doc_id,
               CASE WHEN NOT was_null
                 THEN coalesce(clean, '') END AS text_clean,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(len(ws) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
               len(ws) - coalesce(n_kept, 0) > 0 AS changed
        FROM base b LEFT JOIN rebuilt USING (doc_id)
    """
    # The composed five-stage curation twin: normalize -> anchored
    # span cut -> exact dedup (QUALIFY first copy) -> quality blend
    # (histogram cut points) -> domain quota, chained from the five
    # individually-proven stage twins in ONE statement.
    _curate_norm = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(nfc_normalize(text), '[​‌‍﻿]',"
        " '', 'g'), "
        r"'[\x00-\x08\x0B-\x1F\x7F]', '', 'g'), "
        r"'[ \t]+', ' ', 'g'), ' \n', chr(10), 'g'), ' ' || chr(10))"
    )

    def _curate_cut_cte(tag: str, expr: str, lo: float, hi: float,
                        n_bins: int) -> str:
        width = (hi - lo) / n_bins
        return f"""
        b_{tag} AS (
          SELECT LEAST(GREATEST(
                   CAST(FLOOR((({expr}) - {lo}) / {width}) AS INT), 0),
                   {n_bins - 1}) AS bin
          FROM sig WHERE ({expr}) IS NOT NULL),
        c_{tag} AS (SELECT bin, COUNT(*) AS c FROM b_{tag} GROUP BY 1),
        cum_{tag} AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum,
                             SUM(c) OVER () AS total FROM c_{tag}),
        cuts_{tag} AS (
          SELECT q.q,
            MIN_BY(ROUND({lo} + (bin
              + (CEIL(q.q * total) - (cum - c)) / CAST(c AS DOUBLE))
              * {width}, 4), bin) AS est
          FROM cum_{tag} CROSS JOIN q
          WHERE cum >= CEIL(q.q * total)
          GROUP BY q.q),
        lohi_{tag} AS (
          SELECT MIN(CASE WHEN q = 0.01 THEN est END) AS lo_cut,
                 MIN(CASE WHEN q = 0.99 THEN est END) AS hi_cut
          FROM cuts_{tag})"""

    def _curate_norm_expr(tag: str, expr: str) -> str:
        return (f"CASE WHEN ({expr}) IS NULL THEN NULL"
                f" WHEN lohi_{tag}.hi_cut = lohi_{tag}.lo_cut THEN 0.5"
                f" ELSE ROUND((LEAST(GREATEST(CAST({expr} AS DOUBLE), "
                f"lohi_{tag}.lo_cut), lohi_{tag}.hi_cut) - lohi_{tag}.lo_cut)"
                f" / (lohi_{tag}.hi_cut - lohi_{tag}.lo_cut), 6) END")

    _cc_chars = "CAST(length(text_clean) AS DOUBLE)"
    _cc_words = "CAST(len(string_split_regex(text_clean, '\\s+')) AS DOUBLE)"
    _cc_nc = _curate_norm_expr("c", _cc_chars)
    _cc_nw = _curate_norm_expr("w", _cc_words)
    _cc_blend = f"""CASE WHEN (CASE WHEN {_cc_nc} IS NOT NULL THEN 0.6 ELSE 0 END
             + CASE WHEN {_cc_nw} IS NOT NULL THEN 0.4 ELSE 0 END) > 0
        THEN ROUND((COALESCE({_cc_nc} * 0.6, 0) + COALESCE({_cc_nw} * 0.4, 0))
          / (CASE WHEN {_cc_nc} IS NOT NULL THEN 0.6 ELSE 0 END
           + CASE WHEN {_cc_nw} IS NOT NULL THEN 0.4 ELSE 0 END), 6) END"""
    d["ext-curate-corpus"] = f"""
        WITH injected AS (
          SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS domain,
                 (CASE WHEN doc_id % 13 = 0 THEN 'Short  Dup Doc'
                       WHEN doc_id % 5 = 0
                         THEN coalesce(text, '') || ' {_boiler}'
                       ELSE text END)
                 || ' Cafe' || chr(769) || chr(8203) || '  x' || chr(9)
                 || 'y' || chr(7) || ' ' || chr(10) || ' z ' AS text
          FROM documents),
        n AS (SELECT doc_id, domain, {_curate_norm} AS text_norm
              FROM injected),
        base AS (
          SELECT doc_id,
                 CASE WHEN length(trim(coalesce(text_norm, ''))) = 0
                   THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(
                     trim(lower(coalesce(text_norm, ''))), '\\s+') END AS ws
          FROM n),
        elig AS (SELECT doc_id, ws, len(ws) AS nw FROM base
                 WHERE len(ws) >= 8),
        anchors AS (
          SELECT doc_id, ws, p
          FROM elig, UNNEST(range(0, nw - 8 + 1)) AS t(p)
          WHERE {p52("ws[CAST(p AS INT) + 1]")} % 4 = 0),
        occ AS (
          SELECT doc_id, p AS start,
                 {p52("array_to_string(ws[CAST(p AS INT) + 1:"
                      "CAST(p AS INT) + 8], ' ')")} AS h
          FROM anchors),
        dup AS (
          SELECT h, MIN(doc_id * 4294967296 + start) AS fk
          FROM occ GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        removed AS (
          SELECT o.doc_id, o.start
          FROM occ o JOIN dup d USING (h)
          WHERE NOT (o.doc_id = d.fk // 4294967296
                     AND o.start = d.fk % 4294967296)),
        drop_pos AS (
          SELECT DISTINCT doc_id, CAST(pp AS BIGINT) AS pos
          FROM removed, UNNEST(range(start, start + 8)) AS t(pp)),
        toks AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                 ws[CAST(i AS INT)] AS w
          FROM base, UNNEST(range(1, len(ws) + 1)) AS t(i)),
        kept_toks AS (
          SELECT t.* FROM toks t ANTI JOIN drop_pos d
          USING (doc_id, pos)),
        rebuilt AS (
          SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean,
                 COUNT(*) AS n_kept
          FROM kept_toks GROUP BY doc_id),
        cleaned AS (
          SELECT b.doc_id, coalesce(clean, '') AS text_clean,
                 CAST(len(ws) - coalesce(n_kept, 0) AS BIGINT)
                   AS n_removed
          FROM base b LEFT JOIN rebuilt USING (doc_id)),
        nonempty AS (
          SELECT c.doc_id, i.domain, c.text_clean, c.n_removed
          FROM cleaned c JOIN injected i USING (doc_id)
          WHERE length(c.text_clean) > 0),
        sig AS (
          SELECT * FROM nonempty
          QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY text_clean)),
        q AS (SELECT UNNEST(CAST([0.01, 0.99] AS DOUBLE[])) AS q),
        {_curate_cut_cte('c', _cc_chars, 0.0, 2000.0, 200).lstrip()},
        {_curate_cut_cte('w', _cc_words, 0.0, 400.0, 200).lstrip()},
        blended AS (
          SELECT doc_id, domain, text_clean, n_removed,
                 {_cc_blend} AS quality_blend
          FROM sig CROSS JOIN lohi_c CROSS JOIN lohi_w)
        SELECT doc_id, domain, text_clean, n_removed, quality_blend,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY domain
                   ORDER BY quality_blend DESC, doc_id) AS INT)
                 AS rank_in_group,
               ROW_NUMBER() OVER (
                   PARTITION BY domain
                   ORDER BY quality_blend DESC, doc_id) <= 30 AS kept
        FROM blended
    """
    # ---- round-9 second wave ----
    # Streaming sentence decontamination's appended union EQUALS the
    # batch result (every flag depends only on (doc, benchmark)) —
    # same oracle-sharing rule as stream-semantic-decontaminate.
    d["stream-sentence-decontaminate"] = d["ext-sentence-decontaminate"]
    # Keep-best cluster resolution: the proven cluster CTE + score
    # (text length) + per-cluster (score DESC, id ASC) argmax.
    d["ext-dedup-keep-best"] = _CLUSTER_CTE_SQL + """,
        lab AS (
          SELECT d.doc_id,
                 CAST(COALESCE(cc.cid, d.doc_id) AS BIGINT)
                   AS cluster_id,
                 CAST(length(COALESCE(d.text, '')) AS DOUBLE) AS score
          FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
        rk AS (
          SELECT doc_id, cluster_id, score,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY score DESC, doc_id ASC)
                   AS rn
          FROM lab)
        SELECT doc_id, cluster_id, score, rn = 1 AS kept
        FROM rk
    """
    # ---- round-10: the nine r9-banked operators (twins proven in
    # tests/test_round9_ops.py, ported verbatim) ----
    # DSIR importance scoring: tokenize -> per-doc term counts ->
    # corpus/target masses on the UNION vocab (add-one smoothed) ->
    # per-doc SORTED fold of c * (log p_tgt - log p_src), mean per
    # token, 4-dp round. Mirrors operators/text.py:importance_score.
    d["ext-importance-score"] = f"""
        WITH w AS (SELECT doc_id, source, {words_lower} AS words
                   FROM documents),
        tok AS (SELECT doc_id, source, UNNEST(words) AS term FROM w),
        tok2 AS (SELECT * FROM tok WHERE term <> ''),
        dtf AS (SELECT doc_id, term, COUNT(*) AS c
                FROM tok2 GROUP BY 1, 2),
        src AS (SELECT term, COUNT(*) AS cf FROM tok2 GROUP BY 1),
        tgt AS (SELECT term, COUNT(*) AS tf FROM tok2
                WHERE source = 'src0' GROUP BY 1),
        uni AS (
          SELECT COALESCE(s.term, t.term) AS term,
                 COALESCE(cf, 0) AS cf, COALESCE(tf, 0) AS tf
          FROM src s FULL OUTER JOIN tgt t ON s.term = t.term),
        tot AS (SELECT SUM(cf) AS ns, SUM(tf) AS nt,
                       COUNT(*) AS vocab FROM uni),
        per AS (
          SELECT doc_id, SUM(c) AS n,
                 list(struct_pack(term := d.term, c := c, cf := cf,
                                  tf := tf) ORDER BY d.term) AS es,
                 ANY_VALUE(CAST(ns + vocab AS DOUBLE)) AS dsrc,
                 ANY_VALUE(CAST(nt + vocab AS DOUBLE)) AS dtgt
          FROM dtf d JOIN uni USING (term) CROSS JOIN tot
          GROUP BY doc_id),
        sc AS (
          SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
            ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(es, e -> CAST(e.c AS DOUBLE)
                 * ((ln(CAST(e.tf AS DOUBLE) + 1.0) - ln(dtgt))
                    - (ln(CAST(e.cf AS DOUBLE) + 1.0) - ln(dsrc))))),
               (a, x) -> a + x) / CAST(n AS DOUBLE), 4) AS importance
          FROM per)
        SELECT d.doc_id,
               CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
               importance
        FROM documents d LEFT JOIN sc USING (doc_id)
    """
    # The streamed scores depend only on (doc, frozen stats), so the
    # appended union EQUALS batch and the oracle is shared verbatim
    # (the quality-blend-stream contract).
    d["stream-importance-score"] = d["ext-importance-score"]
    # Grouped drift: per-group (source) even/odd term counts ->
    # per-group masses -> smoothed KL/JS at micro-nat rounding.
    # Mirrors operators/text.py:grouped_drift.
    d["ext-grouped-drift"] = f"""
        WITH lw AS (SELECT source AS grp, {words_lower} AS words
                    FROM documents WHERE doc_id % 2 = 0),
        rw AS (SELECT source AS grp, {words_lower} AS words
               FROM documents WHERE doc_id % 2 = 1),
        cl AS (SELECT grp, term, COUNT(*) AS c
               FROM (SELECT grp, UNNEST(words) AS term FROM lw)
               WHERE term <> '' GROUP BY 1, 2),
        cr AS (SELECT grp, term, COUNT(*) AS c
               FROM (SELECT grp, UNNEST(words) AS term FROM rw)
               WHERE term <> '' GROUP BY 1, 2),
        t AS (SELECT COALESCE(cl.grp, cr.grp) AS grp,
                     COALESCE(cl.term, cr.term) AS term,
                     COALESCE(cl.c, 0) AS c_left,
                     COALESCE(cr.c, 0) AS c_right
              FROM cl FULL OUTER JOIN cr
                ON cl.term = cr.term AND cl.grp = cr.grp),
        tot AS (SELECT grp, SUM(c_left) AS nl, SUM(c_right) AS nr,
                       COUNT(*) AS v FROM t GROUP BY 1),
        pq AS (SELECT t.grp, term, c_left, c_right,
                      CAST(c_left + 1 AS DOUBLE)
                        / CAST(nl + v AS DOUBLE) AS p,
                      CAST(c_right + 1 AS DOUBLE)
                        / CAST(nr + v AS DOUBLE) AS q
               FROM t JOIN tot ON tot.grp = t.grp),
        pqm AS (SELECT *, (p + q) / 2.0 AS m FROM pq)
        SELECT grp AS "group", term,
               CAST(c_left AS BIGINT) AS c_left,
               CAST(c_right AS BIGINT) AS c_right,
               ROUND(p * 1000000.0, 4) AS p_left_micro,
               ROUND(q * 1000000.0, 4) AS p_right_micro,
               ROUND(p * (ln(p) - ln(q)) * 1000000.0, 4) AS kl_micro,
               ROUND((p * (ln(p) - ln(m)) + q * (ln(q) - ln(m))) / 2.0
                 * 1000000.0, 4) AS js_micro
        FROM pqm
    """
    # Running (group, term) count state makes the final streamed
    # emission equal batch grouped_drift exactly — oracle shared
    # verbatim (the stream-corpus-drift contract).
    d["stream-grouped-drift"] = d["ext-grouped-drift"]
    # T5 span-corruption plan: hash-gated elections (md5-derived
    # portable_hash52, RS=31 separators), hash-drawn lengths in
    # [1, 2m-1], left-to-right overlap resolution replayed as a
    # per-doc recursive CTE. Mirrors corpus_prep.py:corruption_spans.
    _cs_h = ("('0x' || substr(md5(doc_id::VARCHAR || chr(31) || "
             "p::VARCHAR || chr(31) || 'v1'{extra}), 1, 13))::BIGINT")
    _cs_plan_cte = f"""
        d AS (
          SELECT doc_id, trim(COALESCE(text, '')) AS t FROM documents),
        w AS (
          SELECT doc_id,
                 CASE WHEN length(t) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(t, '\\s+') END AS ws,
                 CASE WHEN length(t) = 0 THEN 0
                      ELSE len(string_split_regex(t, '\\s+')) END AS n
          FROM d),
        cand AS (
          SELECT doc_id, n, CAST(p AS INT) AS p,
                 CAST({_cs_h.format(extra=" || chr(31) || 'len'")} % 5 + 1
                      AS INT) AS l,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
                   AS rn
          FROM w, UNNEST(range(1, n + 1)) AS u(p)
          WHERE {_cs_h.format(extra="")} % 20 = 0),
        st AS (
          SELECT doc_id, rn, n, p, l, TRUE AS accepted,
                 LEAST(l, n - p + 1) AS tl,
                 p + LEAST(l, n - p + 1) - 1 AS last_end
          FROM cand WHERE rn = 1
          UNION ALL
          SELECT c.doc_id, c.rn, c.n, c.p, c.l,
                 c.p > st.last_end AS accepted,
                 LEAST(c.l, c.n - c.p + 1) AS tl,
                 CASE WHEN c.p > st.last_end
                      THEN c.p + LEAST(c.l, c.n - c.p + 1) - 1
                      ELSE st.last_end END AS last_end
          FROM st JOIN cand c
            ON c.doc_id = st.doc_id AND c.rn = st.rn + 1)"""
    d["ext-corruption-spans"] = f"""
        WITH RECURSIVE {_cs_plan_cte}
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY p) - 1 AS INT) AS span_idx,
               CAST(p AS INT) AS start_word,
               CAST(tl AS INT) AS span_len
        FROM st WHERE accepted
    """
    # Denoising pairs: the SAME span-plan CTE extended with the
    # indexed list-building passes that render T5 sentinel pairs.
    # Mirrors corpus_prep.py:denoising_pairs.
    d["ext-denoise-pairs"] = f"""
        WITH RECURSIVE {_cs_plan_cte},
        sp AS (
          SELECT doc_id,
                 list(struct_pack(s := CAST(p AS INT),
                                  l := CAST(tl AS INT)) ORDER BY p)
                   AS spans
          FROM st WHERE accepted GROUP BY doc_id),
        full_sp AS (
          SELECT w.doc_id, w.ws, w.n,
                 COALESCE(sp.spans,
                          CAST([] AS STRUCT(s INT, l INT)[])) AS spans
          FROM w LEFT JOIN sp ON sp.doc_id = w.doc_id),
        built AS (
          SELECT doc_id, n, len(spans) AS k,
            list_concat(
              flatten(list_transform(spans, (x, i) ->
                list_concat(
                  ws[(CASE WHEN i = 1 THEN 0
                      ELSE spans[i - 1].s + spans[i - 1].l - 1 END) + 1
                     : x.s - 1],
                  ['<extra_id_' || (i - 1)::VARCHAR || '>']))),
              ws[(CASE WHEN len(spans) = 0 THEN 0
                  ELSE spans[len(spans)].s + spans[len(spans)].l - 1
                  END) + 1 : n]) AS in_words,
            list_concat(
              flatten(list_transform(spans, (x, i) ->
                list_concat(['<extra_id_' || (i - 1)::VARCHAR || '>'],
                            ws[x.s : x.s + x.l - 1]))),
              ['<extra_id_' || len(spans)::VARCHAR || '>']) AS tgt_words
          FROM full_sp)
        SELECT doc_id, CAST(n AS INT) AS n_words,
               CAST(k AS INT) AS n_spans,
               array_to_string(in_words, ' ') AS input_text,
               array_to_string(tgt_words, ' ') AS target_text
        FROM built
    """
    # Fill-in-the-middle: hash gate at fim_rate over a 1e6 grid, two
    # hash cuts mod (n+1), sorted -> (prefix, middle, suffix) word
    # slices; passthrough otherwise. Mirrors corpus_prep.py:fim_split.
    def _fim_h(tag: str) -> str:
        return ("('0x' || substr(md5(doc_id::VARCHAR || chr(31) || 'v1' "
                f"|| chr(31) || '{tag}'), 1, 13))::BIGINT")

    d["ext-fim-split"] = f"""
        WITH d AS (
          SELECT doc_id, trim(COALESCE(text, '')) AS t FROM documents),
        w AS (
          SELECT doc_id,
                 CASE WHEN length(t) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(t, '\\s+') END AS ws,
                 CASE WHEN length(t) = 0 THEN 0
                      ELSE len(string_split_regex(t, '\\s+')) END AS n
          FROM d),
        g AS (
          SELECT doc_id, ws, n,
                 ({_fim_h('gate')} % 1000000 < 500000 AND n > 0)
                   AS applied,
                 CAST({_fim_h('c1')} % (n + 1) AS INT) AS ca,
                 CAST({_fim_h('c2')} % (n + 1) AS INT) AS cb
          FROM w),
        c AS (
          SELECT doc_id, ws, n, applied,
                 LEAST(ca, cb) AS c1, GREATEST(ca, cb) AS c2
          FROM g)
        SELECT doc_id, CAST(n AS INT) AS n_words, applied AS fim_applied,
               -- COALESCE: DuckDB's array_to_string([]) is NULL where
               -- Spark's array_join([]) is ''
               CASE WHEN applied
                    THEN COALESCE(array_to_string(ws[1 : c1], ' '), '')
                    ELSE COALESCE(array_to_string(ws, ' '), '')
               END AS prefix,
               CASE WHEN applied
                    THEN COALESCE(array_to_string(ws[c1 + 1 : c2], ' '),
                                  '')
                    ELSE '' END AS middle,
               CASE WHEN applied
                    THEN COALESCE(array_to_string(ws[c2 + 1 : n], ' '),
                                  '')
                    ELSE '' END AS suffix
        FROM c
    """
    # Matryoshka dim-truncation audit: per-tier prefix-slice cosine
    # top-10 over 8 probes vs the full-dim (64) truth; recall@k per
    # (tier, probe). Mirrors similarity.py:truncated_dim_recall.
    def _tier_topk_cte(name: str, dims: int) -> str:
        va = (f"list_transform(e.embedding[1:{dims}], "
              "x -> CAST(x AS DOUBLE))")
        vb = (f"list_transform(p.probe_vec[1:{dims}], "
              "x -> CAST(x AS DOUBLE))")
        c = (
            f"CASE WHEN sqrt(list_dot_product({va}, {va})) * "
            f"sqrt(list_dot_product({vb}, {vb})) > 0 THEN "
            f"ROUND(list_dot_product({va}, {vb}) / "
            f"(sqrt(list_dot_product({va}, {va})) * "
            f"sqrt(list_dot_product({vb}, {vb}))), 6) END"
        )
        return f"""
            {name} AS (
              SELECT {dims} AS dims, p.probe_id, e.vec_id AS neighbor_id
              FROM embeddings e CROSS JOIN probes p
              WHERE e.vec_id <> p.probe_id
              QUALIFY ROW_NUMBER() OVER (PARTITION BY p.probe_id
                ORDER BY {c} DESC NULLS LAST, e.vec_id) <= 10)"""

    _dr_tiers = (8, 16, 32, 64)
    _dr_tier_ctes = ",".join(
        _tier_topk_cte(f"t{dims}", dims) for dims in _dr_tiers
    )
    _dr_union = "\n              UNION ALL ".join(
        f"SELECT * FROM t{dims}" for dims in _dr_tiers
    )
    d["ext-ann-dim-recall"] = f"""
        WITH probes AS (
          SELECT vec_id AS probe_id, embedding AS probe_vec
          FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
        {_tier_topk_cte("exact", 64)},
        {_dr_tier_ctes},
        alltiers AS ({_dr_union}),
        hits AS (
          SELECT a.dims, a.probe_id, COUNT(*) AS n_hits
          FROM alltiers a
          JOIN exact x ON x.probe_id = a.probe_id
                      AND x.neighbor_id = a.neighbor_id
          GROUP BY 1, 2),
        base AS (SELECT DISTINCT dims, probe_id FROM alltiers)
        SELECT b.dims, b.probe_id,
               CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
               ROUND(COALESCE(n_hits, 0) / 10.0, 4) AS recall_at_k
        FROM base b LEFT JOIN hits h
          ON h.dims = b.dims AND h.probe_id = b.probe_id
    """
    # IVF-PQ composition: the ivf twin's hash-spread centroids +
    # 2-cell probe restrict candidates; the pq twin's seed + 2 Lloyd
    # rounds + encode + query LUT + ordered ADC fold score codes
    # only. Mirrors similarity.py:knn_ivf_pq; reuses pq_lloyd_rounds.
    d["ext-similarity-ivf-pq"] = f"""
        WITH corpus AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 embedding
          FROM embeddings WHERE vec_id <> 0),
        q AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv,
                 embedding AS qe
          FROM embeddings WHERE vec_id = 0),
        icent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i, cv
          FROM (SELECT vec_id, embedding AS cv,
                       ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                       1, 13))::BIGINT AS h
                FROM corpus)
          ORDER BY h, vec_id LIMIT 8),
        iassign AS (
          SELECT vec_id, i,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY {_sql_l2('embedding', 'cv')}, i) AS rn
          FROM corpus CROSS JOIN icent),
        cells AS (SELECT vec_id, i AS cell FROM iassign WHERE rn = 1),
        iprobe AS (
          SELECT i FROM icent, q
          ORDER BY {_sql_l2('qe', 'cv')}, i LIMIT 2),
        cand AS (
          SELECT vec_id FROM cells
          WHERE cell IN (SELECT i FROM iprobe)),
        seeds AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, v AS cv
          FROM corpus ORDER BY vec_id LIMIT 16),
        js AS (SELECT UNNEST(generate_series(0, 7)) AS j),
        pcent0 AS (
          SELECT j, i, list_slice(cv, j * 8 + 1, j * 8 + 8) AS cs
          FROM seeds CROSS JOIN js),
        sub AS (
          SELECT vec_id, j, list_slice(v, j * 8 + 1, j * 8 + 8) AS vs
          FROM corpus CROSS JOIN js),
        {pq_lloyd_rounds},
        cent AS (SELECT j, i, cs FROM pcent2),
        assign AS (
          SELECT vec_id, j, i,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, j
                   ORDER BY {_sql_l2('vs', 'cs')}, i) AS rn
          FROM sub JOIN cent USING (j)),
        codes AS (SELECT vec_id, j, i AS code FROM assign WHERE rn = 1),
        lut AS (
          SELECT j, i,
                 {_sql_l2("list_slice(qv, j * 8 + 1, j * 8 + 8)", "cs")}
                   AS d
          FROM cent, q),
        per AS (
          SELECT c.vec_id, c.j, c.code, l.d
          FROM codes c
          JOIN cand USING (vec_id)
          JOIN lut l ON l.j = c.j AND l.i = c.code),
        adc AS (
          SELECT vec_id,
                 ROUND(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(d ORDER BY j)),
                   (a, x) -> a + x), 6) AS adc_dist,
                 list(code ORDER BY j) AS pq_code
          FROM per GROUP BY vec_id)
        SELECT vec_id, adc_dist,
               array_to_string(pq_code, ',') AS pq_code,
               CAST(ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id)
                    AS INT) AS rank
        FROM adc
        QUALIFY rank <= 10
    """
    # ---- round-11 ----
    # Pair-capped keep-best: the edge CTE rebuilt WITH the jaccard
    # column, then the cap replayed exactly as cap_pairs_per_doc ranks
    # it — per-endpoint ROW_NUMBER over (jaccard DESC, other ASC),
    # keep rn <= 3 from EITHER endpoint (UNION of both orientations),
    # then the same reach/cc recursion and per-cluster argmax as
    # ext-dedup-keep-best. (domain_cap_topk's salt shards never
    # influence the kept set — min-k composition — so the twin ranks
    # unsalted.)
    d["ext-dedup-keep-best-capped"] = """
        WITH RECURSIVE w AS (
          SELECT doc_id,
            CASE WHEN text IS NULL OR length(trim(text)) = 0
                 THEN CAST([] AS VARCHAR[])
                 ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
          FROM documents),
        g AS (
          SELECT DISTINCT doc_id,
                 ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
          FROM (SELECT doc_id, ws,
                       UNNEST(generate_series(1, len(ws) - 2)) AS i
                FROM w WHERE len(ws) >= 3)
          WHERE ws[i] <> ''),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM g GROUP BY doc_id),
        hot AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) > 100),
        posts AS (SELECT doc_id, s FROM g
                  WHERE s NOT IN (SELECT s FROM hot)),
        cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 COUNT(*) AS n_common
          FROM posts a JOIN posts b
            ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        sel AS (
          SELECT * FROM (
            SELECT id_a, id_b,
                   ROUND(n_common / CAST(sa.n_sh + sb.n_sh - n_common
                                         AS DOUBLE), 4) AS j
            FROM cand
            JOIN sizes sa ON sa.doc_id = cand.id_a
            JOIN sizes sb ON sb.doc_id = cand.id_b)
          WHERE j >= 0.3),
        sym AS (
          SELECT id_a AS e, id_b AS o, j FROM sel
          UNION ALL
          SELECT id_b, id_a, j FROM sel),
        rk0 AS (
          SELECT e, o,
                 ROW_NUMBER() OVER (PARTITION BY e
                                    ORDER BY j DESC, o ASC) AS rn
          FROM sym),
        capped AS (
          SELECT DISTINCT LEAST(e, o) AS ca, GREATEST(e, o) AS cb
          FROM rk0 WHERE rn <= 3),
        edges AS (
          SELECT ca AS src, cb AS dst FROM capped
          UNION
          SELECT cb, ca FROM capped),
        reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e
            ON e.src = reach.node),
        cc AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node),
        lab AS (
          SELECT d.doc_id,
                 CAST(COALESCE(cc.cid, d.doc_id) AS BIGINT)
                   AS cluster_id,
                 CAST(length(COALESCE(d.text, '')) AS DOUBLE) AS score
          FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
        rk AS (
          SELECT doc_id, cluster_id, score,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY score DESC, doc_id ASC)
                   AS rn
          FROM lab)
        SELECT doc_id, cluster_id, score, rn = 1 AS kept
        FROM rk
    """
    # The composed training-batch gate: the importance twin wrapped
    # as a CTE (DuckDB allows a nested WITH inside a CTE body), then
    # the mixture-expand, shuffle-order, fim-split, and pack twins
    # chained on ex_id = doc_id*16 + repeat_idx and
    # global_pos = (pos_in_shard - 1) * 4 + shard. The pack cumsum
    # is oracle-side a single window (DuckDB), mirroring the Spark
    # side's grouped two-pass prefix sum result exactly.
    _tb_h = ("('0x' || substr(md5(ex_id::VARCHAR || chr(31) || 'v1' "
             "|| chr(31) || '{tag}'), 1, 13))::BIGINT")
    d["ext-train-batch"] = f"""
        WITH imp AS ({d["ext-importance-score"]}),
        picked AS (SELECT doc_id FROM imp WHERE importance > 0),
        base AS (
          SELECT d.doc_id, d.source, d.text
          FROM documents d JOIN picked USING (doc_id)),
        ep AS (
          SELECT doc_id, text,
                 CAST(CASE source
                      WHEN 'src0' THEN 2.3 WHEN 'src1' THEN 1.0
                      WHEN 'src2' THEN 1.5 WHEN 'src3' THEN 0.5
                      ELSE 1.0 END AS DOUBLE) AS e,
                 {p52("doc_id::VARCHAR || chr(31) || 'v1'")}
                   % 1000000 AS gate
          FROM base),
        nrep AS (
          SELECT doc_id, text,
                 CAST(FLOOR(e) AS BIGINT)
                   + CASE WHEN gate < CAST(TRUNC((e - FLOOR(e))
                                           * 1000000) AS BIGINT)
                          THEN 1 ELSE 0 END AS n_rep
          FROM ep),
        expd AS (
          SELECT doc_id, text,
                 CAST(UNNEST(generate_series(0, n_rep - 1)) AS INT)
                   AS repeat_idx
          FROM nrep WHERE n_rep > 0),
        exid AS (
          SELECT doc_id, repeat_idx, text,
                 doc_id * 16 + repeat_idx AS ex_id
          FROM expd),
        lay AS (
          SELECT ex_id,
                 {p52("ex_id::VARCHAR || chr(31) || 'v1'")} AS sk
          FROM exid),
        gp AS (
          SELECT ex_id,
                 (ROW_NUMBER() OVER (PARTITION BY sk % 4
                                     ORDER BY sk, ex_id) - 1) * 4
                   + CAST(sk % 4 AS BIGINT) AS global_pos
          FROM lay),
        fw AS (
          SELECT ex_id, doc_id, repeat_idx,
                 CASE WHEN length(trim(COALESCE(text, ''))) = 0
                      THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(COALESCE(text, '')),
                                              '\\s+') END AS ws
          FROM exid),
        fg AS (
          SELECT ex_id, doc_id, repeat_idx, ws, len(ws) AS n,
                 ({_tb_h.format(tag='gate')} % 1000000 < 500000
                  AND len(ws) > 0) AS applied,
                 CAST({_tb_h.format(tag='c1')} % (len(ws) + 1) AS INT)
                   AS ca,
                 CAST({_tb_h.format(tag='c2')} % (len(ws) + 1) AS INT)
                   AS cb
          FROM fw),
        fim AS (
          SELECT ex_id, doc_id, repeat_idx, n, applied,
                 LEAST(ca, cb) AS c1, GREATEST(ca, cb) AS c2, ws
          FROM fg),
        toks AS (
          SELECT f.ex_id, f.doc_id, f.repeat_idx, g2.global_pos,
                 CAST(f.n AS BIGINT) AS n_words, f.applied,
                 f.c1, f.c2, f.ws, f.n
          FROM fim f JOIN gp g2 USING (ex_id)),
        cum AS (
          SELECT *,
                 CAST(SUM(n_words) OVER (ORDER BY global_pos
                                         ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS tok_end
          FROM toks)
        SELECT doc_id, CAST(repeat_idx AS INT) AS repeat_idx,
               global_pos, CAST(n AS INT) AS n_words,
               applied AS fim_applied,
               CASE WHEN applied
                    THEN COALESCE(array_to_string(ws[1 : c1], ' '), '')
                    ELSE COALESCE(array_to_string(ws, ' '), '')
               END AS prefix,
               CASE WHEN applied
                    THEN COALESCE(array_to_string(ws[c1 + 1 : c2], ' '),
                                  '')
                    ELSE '' END AS middle,
               CASE WHEN applied
                    THEN COALESCE(array_to_string(ws[c2 + 1 : n], ' '),
                                  '')
                    ELSE '' END AS suffix,
               tok_end - n_words AS tok_start, tok_end,
               (tok_end - n_words) // 256 AS seq_first,
               CASE WHEN n_words > 0 THEN (tok_end - 1) // 256
                    ELSE (tok_end - n_words) // 256 END AS seq_last,
               (CASE WHEN n_words > 0 THEN (tok_end - 1) // 256
                     ELSE (tok_end - n_words) // 256 END)
                 - ((tok_end - n_words) // 256) + 1 AS n_seqs
        FROM cum
    """
    # ---- r11 second wave ----
    # Token-budget selection: the Spark side's bin-chunked two-pass
    # prefix sum EQUALS one global priority-ordered window cumsum
    # (bins are disjoint priority ranges, exact within-bin order) —
    # so the twin is the single window. NULLS LAST matches
    # desc_nulls_last. Proven in tests/test_round11_ops.py.
    d["ext-budget-select"] = """
        WITH t AS (
          SELECT doc_id,
                 CAST(length(COALESCE(text, '')) AS BIGINT) AS n_tokens,
                 CASE WHEN doc_id % 11 = 0 THEN NULL
                      ELSE CAST(length(COALESCE(text, '')) AS DOUBLE)
                 END AS p
          FROM documents),
        c AS (
          SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                   ORDER BY p DESC NULLS LAST, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM t)
        SELECT doc_id, n_tokens, cum_tokens,
               cum_tokens <= 40000 AS kept
        FROM c
    """
    # Curriculum layout: portable-hash shard + per-shard (score asc
    # nulls last, id) rank + round-robin interleave position.
    # Proven in tests/test_round11_ops.py.
    d["ext-curriculum-order"] = """
        WITH t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0 THEN NULL
                      ELSE CAST(length(COALESCE(text, '')) AS DOUBLE)
                 END AS difficulty,
                 ('0x' || substr(md5(doc_id::VARCHAR || chr(31) || 'v1'),
                                 1, 13))::BIGINT % 4 AS shard
          FROM documents),
        r AS (
          SELECT doc_id, difficulty, CAST(shard AS INT) AS shard,
                 ROW_NUMBER() OVER (PARTITION BY shard
                   ORDER BY difficulty ASC NULLS LAST, doc_id)
                   AS pos_in_shard
          FROM t)
        SELECT doc_id, difficulty, shard,
               CAST(pos_in_shard AS BIGINT) AS pos_in_shard,
               (pos_in_shard - 1) * 4 + shard AS curriculum_pos
        FROM r
    """
    # SemDeDup: the hash-spread centroid sample replayed exactly as
    # the ext-similarity-ivf twin replays it (md5-order LIMIT 8, over
    # the FULL embeddings table here), argmin cell assignment,
    # within-cell pairwise cosine (fold-order-exact), reach/cc
    # min-label recursion, min-id keeps. Proven in
    # tests/test_round11_ops.py.
    d["ext-dedup-semantic"] = f"""
        WITH RECURSIVE cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i, cv
          FROM (SELECT vec_id, embedding AS cv,
                       ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                       1, 13))::BIGINT AS h
                FROM embeddings)
          ORDER BY h, vec_id LIMIT 8),
        assign AS (
          SELECT vec_id, embedding, i,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY {_sql_l2('embedding', 'cv')}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        cells AS (SELECT vec_id, embedding, CAST(i AS INT) AS cell
                  FROM assign WHERE rn = 1),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b, id_a FROM p),
        reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e
            ON e.src = reach.node),
        cc AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node)
        SELECT c.vec_id, c.cell,
               CAST(COALESCE(cc.cid, c.vec_id) AS BIGINT) AS cluster_id,
               c.vec_id = COALESCE(cc.cid, c.vec_id) AS kept
        FROM cells c LEFT JOIN cc ON cc.node = c.vec_id
    """
    # Map-only streaming expansion: appended union == batch, twin
    # shared verbatim (the quality-blend-stream contract).
    d["stream-mixture-expand"] = d["ext-mixture-expand"]
    # The centroid-TABLE and vectorized-kernel SemDeDup forms are
    # BIT-IDENTICAL to the literal/HOF gate form (dim-sequential
    # folds, first-min ties — tests/test_round12_ops.py /
    # test_round11_ops.py), so they share its oracle verbatim; same
    # for the vectorized batch k-NN join (the embeddings tables have
    # no NULL/zero-norm vectors, the one documented divergence).
    d["ext-dedup-semantic-table"] = d["ext-dedup-semantic"]
    d["ext-dedup-semantic-vec"] = d["ext-dedup-semantic"]
    # n_assign=2 SemDeDup: the ext-dedup-semantic oracle with pair
    # mining over rank<=2 memberships (each vector in its 2 nearest
    # cells by (L2, index)) + DISTINCT — the labeled output's cell
    # stays the rank-1 cell.
    d["ext-dedup-semantic-multi"] = f"""
        WITH RECURSIVE cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i, cv
          FROM (SELECT vec_id, embedding AS cv,
                       ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                       1, 13))::BIGINT AS h
                FROM embeddings)
          ORDER BY h, vec_id LIMIT 8),
        assign AS (
          SELECT vec_id, embedding, i,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY {_sql_l2('embedding', 'cv')}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        cells AS (SELECT vec_id, embedding, CAST(i AS INT) AS cell
                  FROM assign WHERE rn = 1),
        members AS (SELECT vec_id, embedding, CAST(i AS INT) AS cell
                    FROM assign WHERE rn <= 2),
        p AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM members a JOIN members b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b, id_a FROM p),
        reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e
            ON e.src = reach.node),
        cc AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node)
        SELECT c.vec_id, c.cell,
               CAST(COALESCE(cc.cid, c.vec_id) AS BIGINT) AS cluster_id,
               c.vec_id = COALESCE(cc.cid, c.vec_id) AS kept
        FROM cells c LEFT JOIN cc ON cc.node = c.vec_id
    """
    # SemDeDup recall audit: truth = exact all-pairs round-6 cosine
    # >= 0.3; a true pair is caught at n_assign=n iff the two ids
    # share a cell among each's top-n (every pair shares all k
    # centroid IDs in `assign`, so lv = MIN over shared i of
    # GREATEST(rn_a, rn_b) always exists and candidates need no
    # re-scoring — they are a subset of truth by construction, the
    # same derivation the Spark side's docstring states).
    d["ext-dedup-semantic-recall"] = f"""
        WITH cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i, cv
          FROM (SELECT vec_id, embedding AS cv,
                       ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                       1, 13))::BIGINT AS h
                FROM embeddings)
          ORDER BY h, vec_id LIMIT 8),
        assign AS (
          SELECT vec_id, i,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY {_sql_l2('embedding', 'cv')}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        t AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 FLOOR({_sql_cosine('a.embedding', 'b.embedding')}
                       * 10) / 10 AS bucket_lo
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3),
        tt AS (SELECT bucket_lo, COUNT(*) AS n_true_pairs
               FROM t GROUP BY bucket_lo),
        lvl AS (
          SELECT t.id_a, t.id_b, t.bucket_lo,
                 MIN(GREATEST(x.rn, y.rn)) AS lv
          FROM t JOIN assign x ON x.vec_id = t.id_a
                JOIN assign y ON y.vec_id = t.id_b AND y.i = x.i
          GROUP BY t.id_a, t.id_b, t.bucket_lo),
        cn AS (
          SELECT 1 AS n_assign, bucket_lo, COUNT(*) AS n_caught
          FROM lvl WHERE lv <= 1 GROUP BY bucket_lo
          UNION ALL
          SELECT 2, bucket_lo, COUNT(*)
          FROM lvl WHERE lv <= 2 GROUP BY bucket_lo),
        ns AS (SELECT 1 AS n_assign UNION ALL SELECT 2)
        SELECT ns.n_assign, tt.bucket_lo, tt.n_true_pairs,
               COALESCE(cn.n_caught, 0) AS n_caught,
               ROUND(COALESCE(cn.n_caught, 0)
                     / CAST(tt.n_true_pairs AS DOUBLE), 4) AS recall
        FROM tt CROSS JOIN ns
        LEFT JOIN cn ON cn.n_assign = ns.n_assign
                    AND cn.bucket_lo = tt.bucket_lo
    """
    d["ext-knn-join-vec"] = d["ext-knn-join"]
    # Cell-local contrastive mining: the SemDeDup cell CTE + within-
    # cell pair mining + per-anchor exclusion and (cosine desc, id)
    # rank — all engine-replayable (proven tests/test_round12_ops.py).
    d["ext-contrastive-by-cell"] = f"""
        WITH cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i, cv
          FROM (SELECT vec_id, embedding AS cv,
                       ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                       1, 13))::BIGINT AS h
                FROM embeddings)
          ORDER BY h, vec_id LIMIT 8),
        assign AS (
          SELECT vec_id, embedding, i,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY {_sql_l2('embedding', 'cv')}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        cells AS (SELECT vec_id, embedding, CAST(i AS INT) AS cell
                  FROM assign WHERE rn = 1),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3),
        sym AS (
          SELECT id_a AS anchor_id, id_b AS positive_id FROM p
          UNION ALL
          SELECT id_b, id_a FROM p),
        anch AS (SELECT DISTINCT anchor_id FROM sym),
        scored AS (
          SELECT a.anchor_id, c.vec_id AS neighbor_id,
                 {_sql_cosine('av.embedding', 'c.embedding')}
                   AS neg_cosine
          FROM anch a
          JOIN cells av ON av.vec_id = a.anchor_id
          JOIN cells c ON c.cell = av.cell
                      AND c.vec_id <> a.anchor_id),
        np AS (
          SELECT * FROM scored s
          WHERE neg_cosine IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM sym
                            WHERE sym.anchor_id = s.anchor_id
                              AND sym.positive_id = s.neighbor_id)),
        rk AS (
          SELECT anchor_id, neighbor_id AS negative_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY neg_cosine DESC, neighbor_id) AS INT)
                   AS neg_rank,
                 neg_cosine
          FROM np)
        SELECT sym.anchor_id, sym.positive_id, rk.negative_id,
               rk.neg_rank, rk.neg_cosine
        FROM sym JOIN rk ON rk.anchor_id = sym.anchor_id
        WHERE rk.neg_rank <= 2
    """
    # Frozen-SemDeDup apply: the full freeze chain (cells + pairs +
    # CC -> kept reps) replayed, then every doc scored against its
    # cell's reps with the lowest-rep-id argmax — per-row
    # deterministic, so the streaming union shares this twin
    # verbatim (proven tests/test_round12_ops.py).
    d["stream-dedup-semantic"] = f"""
        WITH RECURSIVE cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i, cv
          FROM (SELECT vec_id, embedding AS cv,
                       ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                       1, 13))::BIGINT AS h
                FROM embeddings)
          ORDER BY h, vec_id LIMIT 8),
        assign AS (
          SELECT vec_id, embedding, i,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY {_sql_l2('embedding', 'cv')}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        cells AS (SELECT vec_id, embedding, CAST(i AS INT) AS cell
                  FROM assign WHERE rn = 1),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b, id_a FROM p),
        reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e
            ON e.src = reach.node),
        cc AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node),
        reps AS (
          SELECT c.cell, c.vec_id AS rep_id, c.embedding AS rep_vec
          FROM cells c LEFT JOIN cc ON cc.node = c.vec_id
          WHERE c.vec_id = COALESCE(cc.cid, c.vec_id)),
        scored AS (
          SELECT c.vec_id, r.rep_id,
                 {_sql_cosine('c.embedding', 'r.rep_vec')} AS sim
          FROM cells c JOIN reps r
            ON r.cell = c.cell AND r.rep_id <> c.vec_id),
        ranked AS (
          SELECT vec_id, rep_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, rep_id) AS rn
          FROM scored WHERE sim IS NOT NULL),
        best AS (SELECT vec_id, sim AS max_rep_cosine,
                        rep_id AS matched_rep_id
                 FROM ranked WHERE rn = 1)
        SELECT c.vec_id, c.cell, max_rep_cosine, matched_rep_id,
               COALESCE(max_rep_cosine >= 0.3, FALSE) AS is_dup
        FROM cells c LEFT JOIN best ON best.vec_id = c.vec_id
    """
    # Standalone simhash hot-cap audit: the ext-dedup-simhash-pairs
    # fingerprint + banding fragments with a tighter cap (25), folded
    # to the one-row (n_capped_buckets, n_capped_rows) aggregate.
    d["ext-simhash-cap-audit"] = f"""
        WITH w AS (
          SELECT doc_id,
            CASE WHEN text IS NULL OR length(trim(text)) = 0
                 THEN CAST([] AS VARCHAR[])
                 ELSE string_split_regex(trim(lower(text)), '\\s+') END
              AS ws
          FROM documents),
        tok AS (SELECT doc_id, UNNEST(ws) AS t FROM w),
        hashed AS (
          SELECT doc_id, {p52('t')} AS h FROM tok WHERE t <> ''),
        v AS (
          SELECT doc_id,
               {sh_votes}
          FROM hashed GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST({sh_fp} AS BIGINT) AS fp FROM v),
        banded AS (
          {sh_bands_sql}),
        per AS (SELECT band_idx, band_val, COUNT(*) AS n
                FROM banded GROUP BY 1, 2)
        SELECT CAST(COALESCE(SUM(CASE WHEN n > 25 THEN 1 END), 0)
                    AS BIGINT) AS n_capped_buckets,
               CAST(COALESCE(SUM(CASE WHEN n > 25 THEN n END), 0)
                    AS BIGINT) AS n_capped_rows
        FROM per
    """
    # --- r12 third wave: KMV sketch family + retrieval metrics ---
    # KMV twins replay the SKETCH (bottom-k of portable_hash52
    # values) and its estimator arithmetic, not the true counts —
    # the approximate structure is what must be deterministic. The
    # (k-1)*2^52 numerators are single Python float literals shared
    # with operators/sketches.py:kmv_numerator.
    from awskinesisconsumer_spark.operators.sketches import kmv_numerator

    _KMV256, _KMV64 = kmv_numerator(256), kmv_numerator(64)
    d["ext-distinct-intersect"] = f"""
        WITH pos AS (
          {sql_pos8("lang IN ('en','fr') AND len(text) >= 8")}),
        sh AS (
          SELECT lang AS g, {p52("substr(text, i, 8)")} AS h
          FROM pos GROUP BY 1, 2),
        ranked AS (
          SELECT g, h,
                 row_number() OVER (PARTITION BY g ORDER BY h) AS r
          FROM sh),
        sk AS (SELECT g, h FROM ranked WHERE r <= 256),
        m AS (
          SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
            SELECT h, 1 AS in_a, 0 AS in_b FROM sk WHERE g = 'en'
            UNION ALL
            SELECT h, 0, 1 FROM sk WHERE g = 'fr') GROUP BY h),
        rm AS (
          SELECT h, in_a, in_b,
                 row_number() OVER (ORDER BY h) AS r
          FROM m),
        stats AS (
          SELECT COUNT(*) AS n_merged,
                 MAX(CASE WHEN r = 256 THEN h END) AS kth,
                 SUM(CASE WHEN r <= 256 THEN in_a*in_b ELSE 0 END)
                   AS matches
          FROM rm)
        SELECT 'en' AS group_a, 'fr' AS group_b,
          CAST(n_merged AS BIGINT) AS n_merged,
          ROUND(CASE WHEN n_merged < 256 THEN CAST(n_merged AS DOUBLE)
                ELSE {_KMV256!r} / CAST(kth AS DOUBLE) END, 4)
            AS union_est,
          ROUND(CAST(matches AS DOUBLE)
                / CAST(LEAST(n_merged, 256) AS DOUBLE), 4) AS jaccard,
          ROUND(CAST(matches AS DOUBLE)
                / CAST(LEAST(n_merged, 256) AS DOUBLE)
                * (CASE WHEN n_merged < 256 THEN CAST(n_merged AS DOUBLE)
                   ELSE {_KMV256!r} / CAST(kth AS DOUBLE) END), 4)
            AS intersect_est
        FROM stats
    """
    # Mergeability gate: the Spark side merges per-DAY sketches; the
    # twin replays the GLOBAL build — equality IS the exact
    # bottom-k-of-union identity.
    d["ext-kmv-merge"] = f"""
        WITH keyed AS (
          SELECT event_type AS g, {p52("CAST(user_id AS VARCHAR)")} AS h
          FROM events GROUP BY 1, 2),
        ranked AS (
          SELECT g, h,
                 row_number() OVER (PARTITION BY g ORDER BY h) AS r
          FROM keyed),
        sk AS (SELECT g, h FROM ranked WHERE r <= 64)
        SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n_sketch,
          ROUND(CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE {_KMV64!r} / CAST(MAX(h) AS DOUBLE) END, 4)
            AS kmv_estimate
        FROM sk GROUP BY g
    """
    # Streaming KMV twin: the per-batch merge is the EXACT
    # bottom-k-of-union identity, so the batch twin gates the stream
    # verbatim (the stream-cdc-compact sharing rule).
    d["stream-distinct-intersect"] = d["ext-distinct-intersect"]
    # same identity for the streaming overlap matrix (assigned after
    # ext-source-overlap is defined below).
    # All-pairs overlap matrix: the per-pair replay of the
    # ext-distinct-intersect arithmetic over every unordered lang
    # pair, k=128.
    _KMV128 = kmv_numerator(128)
    d["ext-source-overlap"] = f"""
        WITH pos AS (
          {sql_pos8("len(text) >= 8")}),
        sh AS (
          SELECT lang AS g, {p52("substr(text, i, 8)")} AS h
          FROM pos GROUP BY 1, 2),
        ranked AS (
          SELECT g, h,
                 row_number() OVER (PARTITION BY g ORDER BY h) AS r
          FROM sh),
        sk AS (SELECT g, h FROM ranked WHERE r <= 128),
        pairs AS (
          SELECT a.g AS g1, b.g AS g2
          FROM (SELECT DISTINCT g FROM sk) a
          JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g),
        m AS (
          SELECT g1, g2, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
            SELECT p.g1, p.g2, s.h, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN sk s ON s.g = p.g1
            UNION ALL
            SELECT p.g1, p.g2, s.h, 0, 1
            FROM pairs p JOIN sk s ON s.g = p.g2)
          GROUP BY 1, 2, 3),
        rm AS (
          SELECT g1, g2, h, in_a, in_b,
                 row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS r
          FROM m),
        stats AS (
          SELECT g1, g2, COUNT(*) AS n_merged,
                 MAX(CASE WHEN r = 128 THEN h END) AS kth,
                 SUM(CASE WHEN r <= 128 THEN in_a*in_b ELSE 0 END)
                   AS matches
          FROM rm GROUP BY 1, 2)
        SELECT g1 AS group_a, g2 AS group_b,
          CAST(n_merged AS BIGINT) AS n_merged,
          ROUND(CASE WHEN n_merged < 128 THEN CAST(n_merged AS DOUBLE)
                ELSE {_KMV128!r} / CAST(kth AS DOUBLE) END, 4)
            AS union_est,
          ROUND(CAST(matches AS DOUBLE)
                / CAST(LEAST(n_merged, 128) AS DOUBLE), 4) AS jaccard,
          ROUND(CAST(matches AS DOUBLE)
                / CAST(LEAST(n_merged, 128) AS DOUBLE)
                * (CASE WHEN n_merged < 128 THEN CAST(n_merged AS DOUBLE)
                   ELSE {_KMV128!r} / CAST(kth AS DOUBLE) END), 4)
            AS intersect_est
        FROM stats
    """
    # Streaming overlap matrix: final complete-mode sketch ==
    # batch sketch (bottom-k-of-union), so the batch twin gates it
    # verbatim.
    d["stream-source-overlap"] = d["ext-source-overlap"]
    # Sum-merged sketch states == batch builds (counter-sum
    # associativity), so the final-stage extraction over streamed
    # state is gated by the batch twins verbatim.
    d["stream-heavy-hitters"] = d["ext-heavy-hitters-cms"]
    d["stream-histogram-quantile"] = d["ext-histogram-quantile"]
    # --- r13 evaluation statistics (operators/evaluation.py) ---
    # Cohen's kappa: every cross-row sum is an integer (agree, n,
    # label marginal products), so the replay is exact.
    _RATED2 = """
          SELECT doc_id,
                 CASE WHEN length(text) < 250 THEN 0
                      WHEN length(text) < 450 THEN 1 ELSE 2 END AS ra,
                 CASE WHEN nsp < 40 THEN 0
                      WHEN nsp < 75 THEN 1 ELSE 2 END AS rb
          FROM (SELECT doc_id, text,
                       length(text) - length(replace(COALESCE(text, ''),
                                                     ' ', '')) AS nsp
                FROM documents WHERE text IS NOT NULL)
    """
    d["ext-rater-kappa"] = f"""
        WITH rated AS ({_RATED2}),
        tot AS (SELECT COUNT(*) AS n,
                       SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS agree
                FROM rated),
        ma AS (SELECT ra AS label, COUNT(*) AS ca FROM rated GROUP BY ra),
        mb AS (SELECT rb AS label, COUNT(*) AS cb FROM rated GROUP BY rb),
        sab AS (SELECT COALESCE(SUM(ca * cb), 0) AS s_ab
                FROM ma JOIN mb USING (label))
        SELECT n AS n_items,
               ROUND(agree / CAST(n AS DOUBLE), 6) AS po,
               ROUND(s_ab / CAST(n * n AS DOUBLE), 6) AS pe,
               ROUND(CASE WHEN s_ab / CAST(n * n AS DOUBLE) < 1.0 THEN
                 (agree / CAST(n AS DOUBLE)
                  - s_ab / CAST(n * n AS DOUBLE))
                 / (1.0 - s_ab / CAST(n * n AS DOUBLE)) END, 6) AS kappa
        FROM tot CROSS JOIN sab
    """
    # Fleiss' kappa: 3 heuristic raters melted long; S = sum n_ij^2
    # and C2 = sum c_j^2 are exact integer sums.
    d["ext-fleiss-kappa"] = f"""
        WITH rated AS (
          SELECT doc_id,
                 CASE WHEN length(text) < 250 THEN 0
                      WHEN length(text) < 450 THEN 1 ELSE 2 END AS ra,
                 CASE WHEN nsp < 40 THEN 0
                      WHEN nsp < 75 THEN 1 ELSE 2 END AS rb,
                 CASE WHEN nvow < 80 THEN 0
                      WHEN nvow < 140 THEN 1 ELSE 2 END AS rc
          FROM (SELECT doc_id, text,
                       length(text) - length(replace(COALESCE(text, ''),
                                                     ' ', '')) AS nsp,
                       length(text) - length(regexp_replace(
                           lower(COALESCE(text, '')), '[aeiou]', '', 'g'))
                       AS nvow
                FROM documents WHERE text IS NOT NULL)),
        lng AS (
          SELECT doc_id, ra AS label FROM rated
          UNION ALL SELECT doc_id, rb FROM rated
          UNION ALL SELECT doc_id, rc FROM rated),
        cells AS (SELECT doc_id, label, COUNT(*) AS nij
                  FROM lng GROUP BY doc_id, label),
        sS AS (SELECT SUM(nij * nij) AS S FROM cells),
        c2 AS (SELECT SUM(c * c) AS C2 FROM
               (SELECT label, COUNT(*) AS c FROM lng GROUP BY label)),
        nn AS (SELECT COUNT(DISTINCT doc_id) AS N FROM lng)
        SELECT N AS n_items, 3 AS n_raters,
               ROUND((S - N * 3) / CAST(N * 3 * 2 AS DOUBLE), 6) AS p_bar,
               ROUND(C2 / CAST((N * 3) * (N * 3) AS DOUBLE), 6) AS p_e,
               ROUND(CASE WHEN C2 / CAST((N * 3) * (N * 3) AS DOUBLE)
                          < 1.0 THEN
                 ((S - N * 3) / CAST(N * 3 * 2 AS DOUBLE)
                  - C2 / CAST((N * 3) * (N * 3) AS DOUBLE))
                 / (1.0 - C2 / CAST((N * 3) * (N * 3) AS DOUBLE)) END,
                 6) AS kappa
        FROM sS CROSS JOIN c2 CROSS JOIN nn
    """
    # Poisson bootstrap: the POISSON1_CDF ladder literals and the
    # portable-hash uniform are shared verbatim with the Spark op,
    # so all 200 replicate means replay exactly (integer metric x
    # integer weights — exact sums).
    from awskinesisconsumer_spark.operators.evaluation import (
        POISSON1_CDF,
    )

    _boot_u = _SQL_H52.format(
        x="id || chr(31) || 'boot1' || chr(31) || CAST(b AS VARCHAR)"
    )
    _boot_w = "CASE " + " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    ) + f" ELSE {len(POISSON1_CDF)} END"
    d["ext-bootstrap-ci"] = f"""
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS id,
                 CAST(len(regexp_extract_all(COALESCE(text, ''),
                      '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS v
          FROM documents WHERE doc_id IS NOT NULL),
        tot AS (SELECT COUNT(*) AS n_items, SUM(v) AS sum_v FROM base),
        u AS (
          SELECT b, v, ({_boot_u}) / 4503599627370496.0 AS u
          FROM base CROSS JOIN
               (SELECT unnest(range(0, 200)) AS b)),
        wts AS (SELECT b, v, {_boot_w} AS w FROM u),
        reps AS (SELECT b, SUM(w * v) AS wv, SUM(w) AS wn
                 FROM wts GROUP BY b),
        means AS (SELECT wv / CAST(wn AS DOUBLE) AS mean_b
                  FROM reps WHERE wn > 0),
        ranked AS (SELECT mean_b,
                          ROW_NUMBER() OVER (ORDER BY mean_b) AS r,
                          COUNT(*) OVER () AS B
                   FROM means),
        bounds AS (
          SELECT
            MIN(CASE WHEN r = GREATEST(CAST(CEIL(
                       CAST(0.025 AS DOUBLE) * B) AS BIGINT), 1)
                     THEN mean_b END) AS ci_lo,
            MIN(CASE WHEN r = CAST(CEIL(CAST(0.975 AS DOUBLE) * B)
                                   AS BIGINT)
                     THEN mean_b END) AS ci_hi,
            MAX(B) AS n_reps
          FROM ranked)
        SELECT n_items, CAST(n_reps AS INT) AS n_boot,
               ROUND(sum_v / CAST(n_items AS DOUBLE), 6) AS estimate,
               ROUND(ci_lo, 6) AS ci_lo, ROUND(ci_hi, 6) AS ci_hi
        FROM tot CROSS JOIN bounds
    """
    # Stratified bootstrap (r13 verdict item 7): the ungrouped twin
    # with one extra group key threaded through every stage — the
    # (id, salt, b) weight hash is SHARED verbatim (it never sees
    # the group), so each stratum replays its ungrouped draws.
    d["ext-bootstrap-ci-grouped"] = f"""
        WITH base AS (
          SELECT lang AS g, CAST(doc_id AS VARCHAR) AS id,
                 CAST(len(regexp_extract_all(COALESCE(text, ''),
                      '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS v
          FROM documents
          WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
        tot AS (SELECT g, COUNT(*) AS n_items, SUM(v) AS sum_v
                FROM base GROUP BY g),
        u AS (
          SELECT g, b, v, ({_boot_u}) / 4503599627370496.0 AS u
          FROM base CROSS JOIN
               (SELECT unnest(range(0, 200)) AS b)),
        wts AS (SELECT g, b, v, {_boot_w} AS w FROM u),
        reps AS (SELECT g, b, SUM(w * v) AS wv, SUM(w) AS wn
                 FROM wts GROUP BY g, b),
        means AS (SELECT g, wv / CAST(wn AS DOUBLE) AS mean_b
                  FROM reps WHERE wn > 0),
        ranked AS (SELECT g, mean_b,
                          ROW_NUMBER() OVER (PARTITION BY g
                                             ORDER BY mean_b) AS r,
                          COUNT(*) OVER (PARTITION BY g) AS B
                   FROM means),
        bounds AS (
          SELECT g,
            MIN(CASE WHEN r = GREATEST(CAST(CEIL(
                       CAST(0.025 AS DOUBLE) * B) AS BIGINT), 1)
                     THEN mean_b END) AS ci_lo,
            MIN(CASE WHEN r = CAST(CEIL(CAST(0.975 AS DOUBLE) * B)
                                   AS BIGINT)
                     THEN mean_b END) AS ci_hi,
            MAX(B) AS n_reps
          FROM ranked GROUP BY g)
        SELECT tot.g AS "group", n_items,
               CAST(n_reps AS INT) AS n_boot,
               ROUND(sum_v / CAST(n_items AS DOUBLE), 6) AS estimate,
               ROUND(ci_lo, 6) AS ci_lo, ROUND(ci_hi, 6) AS ci_hi
        FROM tot LEFT JOIN bounds ON tot.g = bounds.g
    """
    # KS drift: every ECDF gap is a ratio of exact integer cumulative
    # counts; the alpha=0.05 coefficient literal is shared.
    d["ext-ks-drift"] = """
        WITH two AS (
          SELECT lang, length(text) AS val FROM documents
          WHERE text IS NOT NULL AND lang IN ('en', 'fr')),
        pv AS (SELECT val,
                      SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
                      SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS cb
               FROM two GROUP BY val),
        cums AS (SELECT
            SUM(ca) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cum_a,
            SUM(cb) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cum_b
          FROM pv),
        g2 AS (SELECT cum_a, cum_b,
                      MAX(cum_a) OVER () AS na, MAX(cum_b) OVER () AS nb
               FROM cums),
        agg AS (SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
                       MAX(CASE WHEN na > 0 AND nb > 0 THEN
                           ABS(cum_a / CAST(na AS DOUBLE)
                               - cum_b / CAST(nb AS DOUBLE)) END) AS d
                FROM g2)
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               ROUND(d, 6) AS d_stat,
               ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN
                 1.3581015157406195
                 * sqrt((n_a + n_b) / CAST(n_a * n_b AS DOUBLE)) END,
                 6) AS d_crit,
               d > 1.3581015157406195
                   * sqrt((n_a + n_b) / CAST(n_a * n_b AS DOUBLE))
               AS drifted
        FROM agg
    """
    # r14: all-pairs KS matrix — per pair the ext-ks-drift arithmetic
    # verbatim, ECDFs from one pass over a (values x groups) grid.
    d["ext-ks-matrix"] = """
        WITH two AS (
          SELECT lang AS g, length(text) AS val FROM documents
          WHERE text IS NOT NULL AND lang IS NOT NULL),
        counts AS (SELECT g, val, COUNT(*) AS c FROM two GROUP BY g, val),
        grid AS (SELECT v.val, gg.g
                 FROM (SELECT DISTINCT val FROM counts) v
                 CROSS JOIN (SELECT DISTINCT g FROM counts) gg),
        filled AS (SELECT grid.g, grid.val, COALESCE(c, 0) AS c
                   FROM grid LEFT JOIN counts
                     ON counts.g = grid.g AND counts.val = grid.val),
        ecdf AS (SELECT g, val,
                   SUM(c) OVER (PARTITION BY g ORDER BY val
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER (PARTITION BY g) AS n
                 FROM filled),
        pairs AS (SELECT a.g AS group_a, b.g AS group_b,
                    MAX(a.n) AS n_a, MAX(b.n) AS n_b,
                    MAX(CASE WHEN a.n > 0 AND b.n > 0 THEN
                        ABS(a.cum / CAST(a.n AS DOUBLE)
                            - b.cum / CAST(b.n AS DOUBLE)) END) AS d
                  FROM ecdf a JOIN ecdf b
                    ON a.val = b.val AND a.g < b.g
                  GROUP BY a.g, b.g)
        SELECT group_a, group_b,
               CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               ROUND(d, 6) AS d_stat,
               ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN
                 1.3581015157406195
                 * sqrt((n_a + n_b) / CAST(n_a * n_b AS DOUBLE)) END,
                 6) AS d_crit,
               d > 1.3581015157406195
                   * sqrt((n_a + n_b) / CAST(n_a * n_b AS DOUBLE))
               AS drifted
        FROM pairs
    """
    # r14: PSI drift — shared equi-width edges over the union
    # min/max, 0.5-smoothed masses, final sum an ORDERED bin fold
    # (the RBO/embedding-pool list_reduce rule).
    d["ext-psi-drift"] = """
        WITH two AS (
          SELECT lang AS g, CAST(length(text) AS DOUBLE) AS v
          FROM documents
          WHERE text IS NOT NULL AND lang IN ('en', 'fr')),
        span AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM two),
        binned AS (
          SELECT CASE WHEN hi = lo THEN 0
                 ELSE LEAST(CAST(FLOOR((v - lo) / ((hi - lo) / 10))
                                 AS INT), 9) END AS bin,
                 SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS ca,
                 SUM(CASE WHEN g = 'fr' THEN 1 ELSE 0 END) AS cb
          FROM two CROSS JOIN span GROUP BY 1),
        all_bins AS (SELECT unnest(range(0, 10)) AS bin),
        full_b AS (SELECT ab.bin, COALESCE(ca, 0) AS ca,
                          COALESCE(cb, 0) AS cb
                   FROM all_bins ab
                   LEFT JOIN binned ON binned.bin = ab.bin),
        agg AS (SELECT
            list(struct_pack(bin := bin, ca := ca, cb := cb)
                 ORDER BY bin) AS arr,
            SUM(ca) AS n_a, SUM(cb) AS n_b
          FROM full_b),
        folded AS (SELECT
            CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
            list_reduce(list_prepend(0.0, list_transform(arr, x ->
              ((x.ca + 0.5) / (n_a + 5.0)
               - (x.cb + 0.5) / (n_b + 5.0))
              * ln(((x.ca + 0.5) / (n_a + 5.0))
                   / ((x.cb + 0.5) / (n_b + 5.0))))),
              (acc, t) -> acc + t) AS psi
          FROM agg)
        SELECT n_a, n_b, 10 AS n_bins, ROUND(psi, 6) AS psi,
               CASE WHEN psi < 0.1 THEN 'stable'
                    WHEN psi < 0.25 THEN 'moderate'
                    ELSE 'shifted' END AS drift_level
        FROM folded
    """
    # r14: Chao1 vocabulary richness — the ext-vocabulary
    # tokenization fragment, folded to frequency-of-frequencies
    # integer sums; one float division in the final row.
    d["ext-chao1-vocab"] = f"""
        WITH w AS (SELECT {words_lower} AS words FROM documents),
        t AS (SELECT UNNEST(words) AS term FROM w),
        c AS (SELECT term, COUNT(*) AS n FROM t
              WHERE term <> '' GROUP BY term),
        a AS (SELECT SUM(n) AS n_tokens, COUNT(*) AS vocab_size,
                     SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS f1,
                     SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS f2
              FROM c)
        SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(vocab_size AS BIGINT) AS vocab_size,
               CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
               ROUND(vocab_size
                     + (f1 * (f1 - 1)) / (2.0 * (f2 + 1)), 4)
                 AS chao1_est
        FROM a
    """
    # r14: classification report — the proven ext-lang-id prediction
    # CTE composed with integer-count precision/recall/F1 (F1 via
    # 2*TP/(n_pred+n_true), no compounded float ratios) + the
    # __all__ accuracy row. The streaming form SUM-merges the same
    # (label, pred, n) counts, so this twin gates it verbatim.
    d["ext-eval-confusion"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best
          FROM sc),
        pl AS (
          SELECT lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred
          FROM s WHERE lang IS NOT NULL),
        cnt AS (SELECT label, pred, COUNT(*) AS n
                FROM pl GROUP BY 1, 2),
        truec AS (SELECT label AS cls, SUM(n) AS n_true
                  FROM cnt GROUP BY 1),
        predc AS (SELECT pred AS cls, SUM(n) AS n_pred
                  FROM cnt GROUP BY 1),
        tpc AS (SELECT label AS cls, n AS tp
                FROM cnt WHERE label = pred),
        per AS (
          SELECT COALESCE(truec.cls, predc.cls) AS cls,
                 COALESCE(n_true, 0) AS n_true,
                 COALESCE(n_pred, 0) AS n_pred,
                 COALESCE(tp, 0) AS tp
          FROM truec FULL JOIN predc ON truec.cls = predc.cls
          LEFT JOIN tpc
            ON tpc.cls = COALESCE(truec.cls, predc.cls)),
        rows_ AS (
          SELECT cls, CAST(n_true AS BIGINT) AS n_true,
                 CAST(n_pred AS BIGINT) AS n_pred,
                 CAST(tp AS BIGINT) AS tp,
                 ROUND(CASE WHEN n_pred > 0
                       THEN tp / CAST(n_pred AS DOUBLE) END, 6)
                   AS "precision",
                 ROUND(CASE WHEN n_true > 0
                       THEN tp / CAST(n_true AS DOUBLE) END, 6)
                   AS recall,
                 ROUND(CASE WHEN n_pred + n_true > 0
                       THEN 2.0 * tp / (n_pred + n_true) END, 6)
                   AS f1
          FROM per),
        micro AS (
          SELECT '__all__' AS cls,
                 CAST(SUM(n_true) AS BIGINT) AS n_true,
                 CAST(SUM(n_true) AS BIGINT) AS n_pred,
                 CAST(SUM(tp) AS BIGINT) AS tp,
                 ROUND(CASE WHEN SUM(n_true) > 0 THEN
                   SUM(tp) / CAST(SUM(n_true) AS DOUBLE) END, 6)
                   AS "precision",
                 ROUND(CASE WHEN SUM(n_true) > 0 THEN
                   SUM(tp) / CAST(SUM(n_true) AS DOUBLE) END, 6)
                   AS recall,
                 ROUND(CASE WHEN SUM(n_true) > 0 THEN
                   SUM(tp) / CAST(SUM(n_true) AS DOUBLE) END, 6)
                   AS f1
          FROM per)
        SELECT * FROM rows_ UNION ALL SELECT * FROM micro
    """
    # streaming forms: SUM-merged state + the factored batch final
    # stage == the batch build (counter-sum associativity), so the
    # batch twins gate the streams verbatim.
    d["stream-eval-confusion"] = d["ext-eval-confusion"]
    d["stream-ks-drift"] = d["ext-ks-drift"]
    d["stream-chao1-vocab"] = d["ext-chao1-vocab"]
    d["stream-bootstrap-ci"] = d["ext-bootstrap-ci-grouped"]
    d["stream-rater-kappa"] = d["ext-rater-kappa"]
    # r14: ECE of the lang-id marker-share confidence — quantized
    # integer per-bin confidence sums (round(c*1e6) as BIGINT) keep
    # the per-bin mean a ratio of exact integers; the cross-bin sum
    # and the max-gap are ordered <= 10-bin folds (the PSI pattern).
    d["ext-eval-ece"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT LEAST(CAST(FLOOR(conf * 10) AS INT), 9) AS bin,
                 CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
                 CAST(ROUND(conf * 1000000.0) AS BIGINT) AS c6
          FROM pl),
        pb AS (SELECT bin, COUNT(*) AS nb, SUM(ok) AS ok,
                      SUM(c6) AS c6
               FROM base GROUP BY 1),
        agg AS (SELECT
            list(struct_pack(bin := bin, nb := nb, ok := ok,
                             c6 := c6) ORDER BY bin) AS arr,
            SUM(nb) AS n_items FROM pb),
        folded AS (SELECT
            CAST(n_items AS BIGINT) AS n_items,
            list_reduce(list_prepend(0.0, list_transform(arr, x ->
              (x.nb / CAST(n_items AS DOUBLE))
              * ABS(x.ok / CAST(x.nb AS DOUBLE)
                    - x.c6 / (x.nb * 1000000.0)))),
              (acc, t) -> acc + t) AS ece,
            list_reduce(list_prepend(0.0, list_transform(arr, x ->
              ABS(x.ok / CAST(x.nb AS DOUBLE)
                  - x.c6 / (x.nb * 1000000.0)))),
              (acc, t) -> GREATEST(acc, t)) AS max_gap
          FROM agg)
        SELECT n_items, 10 AS n_bins,
               ROUND(CASE WHEN n_items > 0 THEN ece END, 6) AS ece,
               ROUND(CASE WHEN n_items > 0 THEN max_gap END, 6)
                 AS max_gap
        FROM folded
    """
    # r14: Brier score — per-row squared gap as an exact integer
    # ((ok*1e4 - round(conf*1e4))^2), cross-row sum a BIGINT, one
    # float division in the final row.
    d["ext-eval-brier"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
                 CAST(ROUND(conf * 10000.0) AS BIGINT) AS c4
          FROM pl),
        agg AS (SELECT COUNT(*) AS n_items,
                       COALESCE(SUM(ok), 0) AS oks,
                       COALESCE(SUM((ok * 10000 - c4)
                                    * (ok * 10000 - c4)), 0) AS sq
                FROM base)
        SELECT CAST(n_items AS BIGINT) AS n_items,
               ROUND(CASE WHEN n_items > 0 THEN
                 oks / CAST(n_items AS DOUBLE) END, 6) AS accuracy,
               ROUND(CASE WHEN n_items > 0 THEN
                 sq / (n_items * 100000000.0) END, 6) AS brier
        FROM agg
    """
    # r15: per-lang ECE — the ext-eval-ece arithmetic keyed by the
    # true lang (group == label here), bin clamped at BOTH ends (the
    # psi rule); one ordered <= 10-bin fold per group.
    d["ext-eval-ece-grouped"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS g, lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT g,
                 GREATEST(LEAST(CAST(FLOOR(conf * 10) AS INT), 9), 0)
                   AS bin,
                 CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
                 CAST(ROUND(conf * 1000000.0) AS BIGINT) AS c6
          FROM pl),
        pb AS (SELECT g, bin, COUNT(*) AS nb, SUM(ok) AS ok,
                      SUM(c6) AS c6
               FROM base GROUP BY 1, 2),
        agg AS (SELECT g,
            list(struct_pack(bin := bin, nb := nb, ok := ok,
                             c6 := c6) ORDER BY bin) AS arr,
            SUM(nb) AS n_items FROM pb GROUP BY g),
        folded AS (SELECT g,
            CAST(n_items AS BIGINT) AS n_items,
            list_reduce(list_prepend(0.0, list_transform(arr, x ->
              (x.nb / CAST(n_items AS DOUBLE))
              * ABS(x.ok / CAST(x.nb AS DOUBLE)
                    - x.c6 / (x.nb * 1000000.0)))),
              (acc, t) -> acc + t) AS ece,
            list_reduce(list_prepend(0.0, list_transform(arr, x ->
              ABS(x.ok / CAST(x.nb AS DOUBLE)
                  - x.c6 / (x.nb * 1000000.0)))),
              (acc, t) -> GREATEST(acc, t)) AS max_gap
          FROM agg)
        SELECT g AS "group", n_items, 10 AS n_bins,
               ROUND(CASE WHEN n_items > 0 THEN ece END, 6) AS ece,
               ROUND(CASE WHEN n_items > 0 THEN max_gap END, 6)
                 AS max_gap
        FROM folded
    """
    # r15: per-lang Brier — the ext-eval-brier exact-integer squared
    # gaps grouped by the true lang.
    d["ext-eval-brier-grouped"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS g, lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT g, CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
                 CAST(ROUND(conf * 10000.0) AS BIGINT) AS c4
          FROM pl),
        agg AS (SELECT g, COUNT(*) AS n_items,
                       COALESCE(SUM(ok), 0) AS oks,
                       COALESCE(SUM((ok * 10000 - c4)
                                    * (ok * 10000 - c4)), 0) AS sq
                FROM base GROUP BY g)
        SELECT g AS "group", CAST(n_items AS BIGINT) AS n_items,
               ROUND(CASE WHEN n_items > 0 THEN
                 oks / CAST(n_items AS DOUBLE) END, 6) AS accuracy,
               ROUND(CASE WHEN n_items > 0 THEN
                 sq / (n_items * 100000000.0) END, 6) AS brier
        FROM agg
    """
    # streaming grouped calibration: SUM-merged integer state + the
    # factored batch final stage == the batch build, so the batch
    # twins gate the streams verbatim.
    d["stream-eval-ece"] = d["ext-eval-ece-grouped"]
    d["stream-eval-brier"] = d["ext-eval-brier-grouped"]
    # r15: reliability diagram — the per-bin table the ECE fold
    # compresses; every column an exact-integer quotient per bin.
    d["ext-eval-reliability"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT GREATEST(LEAST(CAST(FLOOR(conf * 10) AS INT), 9), 0)
                   AS bin,
                 CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
                 CAST(ROUND(conf * 1000000.0) AS BIGINT) AS c6
          FROM pl),
        pb AS (SELECT bin, COUNT(*) AS nb, SUM(ok) AS ok,
                      SUM(c6) AS c6
               FROM base GROUP BY 1)
        SELECT bin, CAST(nb AS BIGINT) AS nb,
               ROUND(ok / CAST(nb AS DOUBLE), 6) AS acc,
               ROUND(c6 / (nb * 1000000.0), 6) AS conf,
               ROUND(ABS(ok / CAST(nb AS DOUBLE)
                         - c6 / (nb * 1000000.0)), 6) AS gap
        FROM pb
    """
    # r15: multiclass MCC (Gorodkin R_K) — every cross-class sum in
    # HUGEINT (the Spark side rides DECIMAL(38,0)); one float
    # division in the final row.
    d["ext-eval-mcc"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best
          FROM sc),
        pl AS (
          SELECT lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred
          FROM s WHERE lang IS NOT NULL),
        counts AS (SELECT label, pred, COUNT(*) AS n
                   FROM pl GROUP BY 1, 2),
        t AS (SELECT label AS k, SUM(n) AS tk FROM counts GROUP BY 1),
        p AS (SELECT pred AS k, SUM(n) AS pk FROM counts GROUP BY 1),
        tot AS (SELECT SUM(n) AS s,
                       SUM(CASE WHEN label = pred THEN n ELSE 0 END)
                         AS c
                FROM counts),
        sptq AS (SELECT COALESCE(SUM(CAST(pk AS HUGEINT)
                                     * CAST(tk AS HUGEINT)), 0)
                          AS spt
                 FROM p JOIN t USING (k)),
        p2 AS (SELECT SUM(CAST(pk AS HUGEINT) * CAST(pk AS HUGEINT))
                 AS sp2 FROM p),
        t2 AS (SELECT SUM(CAST(tk AS HUGEINT) * CAST(tk AS HUGEINT))
                 AS st2 FROM t),
        f AS (SELECT s, c,
                     CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS s2,
                     spt, sp2, st2
              FROM tot CROSS JOIN sptq CROSS JOIN p2 CROSS JOIN t2)
        SELECT CAST(s AS BIGINT) AS n_items,
               ROUND(CASE WHEN s > 0 THEN c / CAST(s AS DOUBLE) END,
                     6) AS accuracy,
               ROUND(CASE WHEN (s2 - sp2) > 0 AND (s2 - st2) > 0 THEN
                 CAST(CAST(c AS HUGEINT) * CAST(s AS HUGEINT)
                      - spt AS DOUBLE)
                 / SQRT(CAST(s2 - sp2 AS DOUBLE)
                        * CAST(s2 - st2 AS DOUBLE)) END, 6) AS mcc
        FROM f
    """
    # r15: ROC AUC of confidence vs correctness — tie-exact
    # Mann-Whitney rank sums over per-distinct-score class counts;
    # HUGEINT products (the Spark side rides DECIMAL(38,0)), one
    # float division at the end.
    d["ext-eval-auc"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT CASE WHEN label = pred THEN 1 ELSE 0 END AS y,
                 conf AS score
          FROM pl),
        pv AS (SELECT score, SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
               FROM base GROUP BY score),
        cum AS (SELECT pos, neg,
                       COALESCE(SUM(neg) OVER (
                         ORDER BY score
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS bneg
                FROM pv),
        agg AS (SELECT
            COALESCE(SUM(CAST(pos AS HUGEINT)
                         * (2 * CAST(bneg AS HUGEINT)
                            + CAST(neg AS HUGEINT))), 0) AS u2,
            COALESCE(SUM(pos), 0) AS np,
            COALESCE(SUM(neg), 0) AS nn
          FROM cum)
        SELECT CAST(np AS BIGINT) AS n_pos,
               CAST(nn AS BIGINT) AS n_neg,
               ROUND(CASE WHEN np > 0 AND nn > 0 THEN
                 CAST(u2 AS DOUBLE)
                 / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
                 END, 6) AS auc
        FROM agg
    """
    d["stream-eval-auc"] = d["ext-eval-auc"]
    # r15: per-lang AUC — the same tie-exact rank sums keyed by the
    # true lang (group == label here); the cumulative partitions by
    # group.
    d["ext-eval-auc-grouped"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS g, lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT g, CASE WHEN label = pred THEN 1 ELSE 0 END AS y,
                 conf AS score
          FROM pl),
        pv AS (SELECT g, score, SUM(y) AS pos,
                      COUNT(*) - SUM(y) AS neg
               FROM base GROUP BY g, score),
        cum AS (SELECT g, pos, neg,
                       COALESCE(SUM(neg) OVER (
                         PARTITION BY g ORDER BY score
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS bneg
                FROM pv),
        agg AS (SELECT g,
            COALESCE(SUM(CAST(pos AS HUGEINT)
                         * (2 * CAST(bneg AS HUGEINT)
                            + CAST(neg AS HUGEINT))), 0) AS u2,
            COALESCE(SUM(pos), 0) AS np,
            COALESCE(SUM(neg), 0) AS nn
          FROM cum GROUP BY g)
        SELECT g AS "group",
               CAST(np AS BIGINT) AS n_pos,
               CAST(nn AS BIGINT) AS n_neg,
               ROUND(CASE WHEN np > 0 AND nn > 0 THEN
                 CAST(u2 AS DOUBLE)
                 / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
                 END, 6) AS auc
        FROM agg
    """
    # r16: PR-AUC / average precision — same (score, pos, neg) state
    # as ext-eval-auc; inclusive cumulative TP/FP over scores
    # DESCENDING, per-threshold term pos * (tp / (tp + fp)) (division
    # first — one IEEE rounding per op from exact-integer operands),
    # explicit LEFT FOLD in score-descending order to pin the float
    # summation order to Spark's F.aggregate.
    _pr_auc_tail = """
        pv AS (SELECT score, SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
               FROM base GROUP BY score),
        cum AS (SELECT score, pos, neg,
                       SUM(pos) OVER (
                         ORDER BY score DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS tp,
                       SUM(neg) OVER (
                         ORDER BY score DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS fp
                FROM pv),
        terms AS (SELECT score, pos, neg,
                         CAST(pos AS DOUBLE)
                         * (CAST(tp AS DOUBLE)
                            / CAST(tp + fp AS DOUBLE)) AS term
                  FROM cum),
        agg AS (SELECT list(term ORDER BY score DESC) AS arr,
                       COALESCE(SUM(pos), 0) AS np,
                       COALESCE(SUM(neg), 0) AS nn
                FROM terms)
        SELECT CAST(np AS BIGINT) AS n_pos,
               CAST(nn AS BIGINT) AS n_neg,
               ROUND(CASE WHEN np > 0 THEN
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE), arr),
                             (acc, x) -> acc + x)
                 / CAST(np AS DOUBLE) END, 6) AS pr_auc
        FROM agg
    """
    d["ext-eval-pr-auc"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT CASE WHEN label = pred THEN 1 ELSE 0 END AS y,
                 conf AS score
          FROM pl),
        {_pr_auc_tail}"""
    d["stream-eval-pr-auc"] = d["ext-eval-pr-auc"]
    # r16: per-lang PR-AUC — the grouped form keys the cumulative and
    # the fold by the true lang.
    d["ext-eval-pr-auc-grouped"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT lang AS g, lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base AS (
          SELECT g, CASE WHEN label = pred THEN 1 ELSE 0 END AS y,
                 conf AS score
          FROM pl),
        pv AS (SELECT g, score, SUM(y) AS pos,
                      COUNT(*) - SUM(y) AS neg
               FROM base GROUP BY g, score),
        cum AS (SELECT g, score, pos, neg,
                       SUM(pos) OVER (
                         PARTITION BY g ORDER BY score DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS tp,
                       SUM(neg) OVER (
                         PARTITION BY g ORDER BY score DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS fp
                FROM pv),
        terms AS (SELECT g, score, pos, neg,
                         CAST(pos AS DOUBLE)
                         * (CAST(tp AS DOUBLE)
                            / CAST(tp + fp AS DOUBLE)) AS term
                  FROM cum),
        agg AS (SELECT g, list(term ORDER BY score DESC) AS arr,
                       COALESCE(SUM(pos), 0) AS np,
                       COALESCE(SUM(neg), 0) AS nn
                FROM terms GROUP BY g)
        SELECT g AS "group",
               CAST(np AS BIGINT) AS n_pos,
               CAST(nn AS BIGINT) AS n_neg,
               ROUND(CASE WHEN np > 0 THEN
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE), arr),
                             (acc, x) -> acc + x)
                 / CAST(np AS DOUBLE) END, 6) AS pr_auc
        FROM agg
    """
    # r16: calibration drift — per-group ECE on two frozen snapshots
    # (even doc_ids = reference freeze; odd doc_ids with confidence
    # inflated least(conf*1.15, 1.0) = current), full-outer joined on
    # group; both ECE values are 6-dp before the delta.
    _cal_ece_grouped = """
        SELECT g, CAST(n_items AS BIGINT) AS n_items,
               ROUND(CASE WHEN n_items > 0 THEN ece END, 6) AS ece
        FROM (SELECT g,
            n_items,
            list_reduce(list_prepend(0.0, list_transform(arr, x ->
              (x.nb / CAST(n_items AS DOUBLE))
              * ABS(x.ok / CAST(x.nb AS DOUBLE)
                    - x.c6 / (x.nb * 1000000.0)))),
              (acc, t) -> acc + t) AS ece
          FROM (SELECT g,
              list(struct_pack(bin := bin, nb := nb, ok := ok,
                               c6 := c6) ORDER BY bin) AS arr,
              SUM(nb) AS n_items
            FROM (SELECT g, bin, COUNT(*) AS nb, SUM(ok) AS ok,
                         SUM(c6) AS c6
                  FROM {side} GROUP BY 1, 2) pb{sfx}
            GROUP BY g) agg{sfx}) folded{sfx}
    """
    d["ext-eval-calibration-drift"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_lower} AS words FROM documents),
        sc AS (
          SELECT doc_id, lang,
            {lang_scores}
          FROM w),
        s AS (
          SELECT doc_id, lang, s_de, s_en, s_es, s_fr,
            GREATEST(s_de, s_en, s_es, s_fr) AS best,
            s_de + s_en + s_es + s_fr AS total
          FROM sc),
        pl AS (
          SELECT doc_id, lang AS g, lang AS label,
                 CASE WHEN best = 0 THEN 'und'
                      WHEN s_de = best THEN 'de'
                      WHEN s_en = best THEN 'en'
                      WHEN s_es = best THEN 'es'
                      ELSE 'fr' END AS pred,
                 CASE WHEN total > 0
                      THEN ROUND(best / CAST(total AS DOUBLE), 6)
                      ELSE 0.0 END AS conf
          FROM s WHERE lang IS NOT NULL),
        base_ref AS (
          SELECT g,
                 GREATEST(LEAST(CAST(FLOOR(conf * 10) AS INT), 9), 0)
                   AS bin,
                 CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
                 CAST(ROUND(conf * 1000000.0) AS BIGINT) AS c6
          FROM pl WHERE doc_id % 2 = 0),
        base_cur AS (
          SELECT g,
                 GREATEST(LEAST(CAST(FLOOR(cconf * 10) AS INT), 9), 0)
                   AS bin,
                 CASE WHEN label = pred THEN 1 ELSE 0 END AS ok,
                 CAST(ROUND(cconf * 1000000.0) AS BIGINT) AS c6
          FROM (SELECT g, label, pred,
                       LEAST(conf * 1.15, 1.0) AS cconf
                FROM pl WHERE doc_id % 2 = 1) plc),
        ece_ref AS ({_cal_ece_grouped.format(side="base_ref",
                                             sfx="_r")}),
        ece_cur AS ({_cal_ece_grouped.format(side="base_cur",
                                             sfx="_c")})
        SELECT COALESCE(a.g, b.g) AS "group",
               COALESCE(a.n_items, 0) AS n_ref,
               COALESCE(b.n_items, 0) AS n_cur,
               a.ece AS ece_ref,
               b.ece AS ece_cur,
               ROUND(ABS(b.ece - a.ece), 6) AS ece_delta,
               CASE WHEN a.g IS NULL THEN 'new'
                    WHEN b.g IS NULL THEN 'gone'
                    WHEN ROUND(ABS(b.ece - a.ece), 6) < 0.02
                      THEN 'stable'
                    WHEN ROUND(ABS(b.ece - a.ece), 6) < 0.05
                      THEN 'moderate'
                    ELSE 'shifted' END AS drift_level
        FROM ece_ref a FULL OUTER JOIN ece_cur b ON a.g = b.g
    """
    # r16: rank correlation (Kendall tau-b + Spearman rho) between
    # the composite quality score (2 dp) and the avg-word-length
    # proxy (1 dp) — tie-exact integer contingency algebra replayed
    # verbatim: dominance sweep on the DENSIFIED grid via two chained
    # windows (cb_lt per a-row, then its prefix over a per b-column),
    # HUGEINT pair/tie/power sums (== Spark's DECIMAL(38,0)), doubled
    # average ranks (no /2 anywhere), degeneracy decided on the EXACT
    # doubled tie terms da2/db2, and one double expression per
    # statistic at the end with the identical tree as the Spark side.
    _rc_pts = f"""
        w AS (
          SELECT lang, text, {words_expr} AS words FROM documents),
        pts AS (
          SELECT lang,
            CAST(FLOOR((CASE WHEN len(words) = 0 THEN 0.0 ELSE ROUND(
              0.4 * LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
              + 0.3 * (1.0 - len(list_filter(words, x ->
                  list_contains({stop_list}, x)))
                  / CAST(len(words) AS DOUBLE))
              + 0.3 * (len(list_distinct(words))
                  / CAST(len(words) AS DOUBLE)),
            4) END) * 100) AS BIGINT) AS a,
            CAST(FLOOR(ROUND(CASE WHEN len(words) > 0
              THEN length(regexp_replace(text, '\\s+', '', 'g'))
                   / CAST(len(words) AS DOUBLE)
              ELSE 0.0 END, 4) * 10) AS BIGINT) AS b
          FROM w)
    """
    d["ext-eval-rankcorr"] = f"""
        WITH {_rc_pts},
        cells AS (SELECT a, b, COUNT(*) AS n FROM pts GROUP BY 1, 2),
        grid AS (SELECT dda.a, ddb.b
                 FROM (SELECT DISTINCT a FROM cells) dda
                 CROSS JOIN (SELECT DISTINCT b FROM cells) ddb),
        dense AS (SELECT g.a, g.b, COALESCE(c.n, 0) AS n
                  FROM grid g LEFT JOIN cells c
                  ON g.a = c.a AND g.b = c.b),
        cb AS (SELECT a, b, n,
          COALESCE(SUM(n) OVER (PARTITION BY a ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cb_lt,
          COALESCE(SUM(n) OVER (PARTITION BY a ORDER BY b
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
            AS cb_gt
         FROM dense),
        dom AS (SELECT n,
          COALESCE(SUM(cb_lt) OVER (PARTITION BY b ORDER BY a
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS p_lt,
          COALESCE(SUM(cb_gt) OVER (PARTITION BY b ORDER BY a
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS q_lt
         FROM cb),
        pq AS (SELECT
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(p_lt AS HUGEINT)),
                    0) AS p,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(q_lt AS HUGEINT)),
                    0) AS q,
           COALESCE(SUM(n), 0) AS n_total
         FROM dom),
        ra AS (SELECT a, SUM(n) AS r FROM cells GROUP BY a),
        rb AS (SELECT b, SUM(n) AS r FROM cells GROUP BY b),
        rra AS (SELECT a, r,
          2 * COALESCE(SUM(r) OVER (ORDER BY a
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + r + 1 AS da
          FROM ra),
        rrb AS (SELECT b, r,
          2 * COALESCE(SUM(r) OVER (ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + r + 1 AS db
          FROM rb),
        ties AS (SELECT
          (SELECT COALESCE(SUM(CAST(r AS HUGEINT)
                               * (CAST(r AS HUGEINT) - 1)), 0)
           FROM ra) AS ta,
          (SELECT COALESCE(SUM(CAST(r AS HUGEINT)
                               * (CAST(r AS HUGEINT) - 1)), 0)
           FROM rb) AS tb),
        sp AS (SELECT
           COALESCE(SUM(CAST(n AS HUGEINT)), 0) AS s1,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(da AS HUGEINT)),
                    0) AS sa,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(db AS HUGEINT)),
                    0) AS sb,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(da AS HUGEINT)
                        * CAST(da AS HUGEINT)), 0) AS saa,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(db AS HUGEINT)
                        * CAST(db AS HUGEINT)), 0) AS sbb,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(da AS HUGEINT)
                        * CAST(db AS HUGEINT)), 0) AS sab
         FROM cells JOIN rra USING (a) JOIN rrb USING (b)),
        fin AS (SELECT p, q, n_total, s1, sa, sb, saa, sbb, sab,
           CAST(n_total AS HUGEINT)
             * (CAST(n_total AS HUGEINT) - 1) - ta AS da2,
           CAST(n_total AS HUGEINT)
             * (CAST(n_total AS HUGEINT) - 1) - tb AS db2
         FROM pq CROSS JOIN ties CROSS JOIN sp)
        SELECT CAST(n_total AS BIGINT) AS n,
          ROUND(CASE WHEN da2 > 0 AND db2 > 0 THEN
            2.0 * (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))
            / (SQRT(CAST(da2 AS DOUBLE)) * SQRT(CAST(db2 AS DOUBLE)))
            END, 6) AS tau_b,
          ROUND(CASE WHEN da2 > 0 AND db2 > 0 THEN
            (CAST(s1 AS DOUBLE) * CAST(sab AS DOUBLE)
             - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
            / (SQRT(CAST(s1 AS DOUBLE) * CAST(saa AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
               * SQRT(CAST(s1 AS DOUBLE) * CAST(sbb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
            END, 6) AS spearman_rho
        FROM fin
    """
    d["stream-eval-rankcorr"] = d["ext-eval-rankcorr"]
    # r16: per-language rank correlation — same algebra keyed by g
    # (the dominance windows partition by g; every per-group table
    # joins back on g).
    d["ext-eval-rankcorr-grouped"] = f"""
        WITH {_rc_pts},
        gpts AS (SELECT lang AS g, a, b FROM pts
                 WHERE lang IS NOT NULL),
        cells AS (SELECT g, a, b, COUNT(*) AS n
                  FROM gpts GROUP BY 1, 2, 3),
        grid AS (SELECT dda.g, dda.a, ddb.b
                 FROM (SELECT DISTINCT g, a FROM cells) dda
                 JOIN (SELECT DISTINCT g, b FROM cells) ddb
                 USING (g)),
        dense AS (SELECT gr.g, gr.a, gr.b, COALESCE(c.n, 0) AS n
                  FROM grid gr LEFT JOIN cells c
                  ON gr.g = c.g AND gr.a = c.a AND gr.b = c.b),
        cb AS (SELECT g, a, b, n,
          COALESCE(SUM(n) OVER (PARTITION BY g, a ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cb_lt,
          COALESCE(SUM(n) OVER (PARTITION BY g, a ORDER BY b
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
            AS cb_gt
         FROM dense),
        dom AS (SELECT g, n,
          COALESCE(SUM(cb_lt) OVER (PARTITION BY g, b ORDER BY a
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS p_lt,
          COALESCE(SUM(cb_gt) OVER (PARTITION BY g, b ORDER BY a
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS q_lt
         FROM cb),
        pq AS (SELECT g,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(p_lt AS HUGEINT)),
                    0) AS p,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(q_lt AS HUGEINT)),
                    0) AS q,
           COALESCE(SUM(n), 0) AS n_total
         FROM dom GROUP BY g),
        ra AS (SELECT g, a, SUM(n) AS r FROM cells GROUP BY g, a),
        rb AS (SELECT g, b, SUM(n) AS r FROM cells GROUP BY g, b),
        rra AS (SELECT g, a, r,
          2 * COALESCE(SUM(r) OVER (PARTITION BY g ORDER BY a
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + r + 1 AS da
          FROM ra),
        rrb AS (SELECT g, b, r,
          2 * COALESCE(SUM(r) OVER (PARTITION BY g ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + r + 1 AS db
          FROM rb),
        ta AS (SELECT g, COALESCE(SUM(CAST(r AS HUGEINT)
                 * (CAST(r AS HUGEINT) - 1)), 0) AS ta
               FROM ra GROUP BY g),
        tb AS (SELECT g, COALESCE(SUM(CAST(r AS HUGEINT)
                 * (CAST(r AS HUGEINT) - 1)), 0) AS tb
               FROM rb GROUP BY g),
        sp AS (SELECT cells.g,
           COALESCE(SUM(CAST(n AS HUGEINT)), 0) AS s1,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(da AS HUGEINT)),
                    0) AS sa,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(db AS HUGEINT)),
                    0) AS sb,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(da AS HUGEINT)
                        * CAST(da AS HUGEINT)), 0) AS saa,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(db AS HUGEINT)
                        * CAST(db AS HUGEINT)), 0) AS sbb,
           COALESCE(SUM(CAST(n AS HUGEINT) * CAST(da AS HUGEINT)
                        * CAST(db AS HUGEINT)), 0) AS sab
         FROM cells
         JOIN rra ON cells.g = rra.g AND cells.a = rra.a
         JOIN rrb ON cells.g = rrb.g AND cells.b = rrb.b
         GROUP BY cells.g),
        fin AS (SELECT pq.g, p, q, n_total,
           s1, sa, sb, saa, sbb, sab,
           CAST(n_total AS HUGEINT)
             * (CAST(n_total AS HUGEINT) - 1) - ta AS da2,
           CAST(n_total AS HUGEINT)
             * (CAST(n_total AS HUGEINT) - 1) - tb AS db2
         FROM pq JOIN ta ON pq.g = ta.g
                 JOIN tb ON pq.g = tb.g
                 JOIN sp ON pq.g = sp.g)
        SELECT g AS "group",
          CAST(n_total AS BIGINT) AS n,
          ROUND(CASE WHEN da2 > 0 AND db2 > 0 THEN
            2.0 * (CAST(p AS DOUBLE) - CAST(q AS DOUBLE))
            / (SQRT(CAST(da2 AS DOUBLE)) * SQRT(CAST(db2 AS DOUBLE)))
            END, 6) AS tau_b,
          ROUND(CASE WHEN da2 > 0 AND db2 > 0 THEN
            (CAST(s1 AS DOUBLE) * CAST(sab AS DOUBLE)
             - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
            / (SQRT(CAST(s1 AS DOUBLE) * CAST(saa AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
               * SQRT(CAST(s1 AS DOUBLE) * CAST(sbb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
            END, 6) AS spearman_rho
        FROM fin
    """
    # r14: Krippendorff's alpha (nominal/complete) — the fleiss
    # fixture + sums with the coincidence-form Do/De arithmetic
    # (Do = (N*R^2 - S)/((R-1)*N*R), De = ((NR)^2 - C2)/(NR*(NR-1))).
    d["ext-krippendorff-alpha"] = """
        WITH rated AS (
          SELECT doc_id,
                 CASE WHEN length(text) < 250 THEN 0
                      WHEN length(text) < 450 THEN 1 ELSE 2 END AS ra,
                 CASE WHEN nsp < 40 THEN 0
                      WHEN nsp < 75 THEN 1 ELSE 2 END AS rb,
                 CASE WHEN nvow < 80 THEN 0
                      WHEN nvow < 140 THEN 1 ELSE 2 END AS rc
          FROM (SELECT doc_id, text,
                       length(text) - length(replace(COALESCE(text, ''),
                                                     ' ', '')) AS nsp,
                       length(text) - length(regexp_replace(
                           lower(COALESCE(text, '')), '[aeiou]', '', 'g'))
                       AS nvow
                FROM documents WHERE text IS NOT NULL)),
        lng AS (
          SELECT doc_id, ra AS label FROM rated
          UNION ALL SELECT doc_id, rb FROM rated
          UNION ALL SELECT doc_id, rc FROM rated),
        cells AS (SELECT doc_id, label, COUNT(*) AS nij
                  FROM lng GROUP BY doc_id, label),
        sS AS (SELECT SUM(nij * nij) AS S FROM cells),
        c2 AS (SELECT SUM(c * c) AS C2 FROM
               (SELECT label, COUNT(*) AS c FROM lng GROUP BY label)),
        nn AS (SELECT COUNT(DISTINCT doc_id) AS N FROM lng),
        f AS (SELECT N, S, C2,
                (N * 9 - S) / CAST(2 * N * 3 AS DOUBLE) AS d_o,
                ((N * 3) * (N * 3) - C2)
                / CAST((N * 3) * (N * 3 - 1) AS DOUBLE) AS d_e
              FROM sS CROSS JOIN c2 CROSS JOIN nn)
        SELECT N AS n_items, 3 AS n_raters,
               ROUND(d_o, 6) AS d_o, ROUND(d_e, 6) AS d_e,
               ROUND(CASE WHEN d_e > 0 THEN 1.0 - d_o / d_e END, 6)
                 AS alpha
        FROM f
    """
    # r14: source-fair quality percentile — the proven quality-score
    # fragment + per-(lang, score) counts with a cumulative window
    # over DISTINCT scores (the ECDF pattern), joined back.
    d["ext-quality-percentile"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_expr} AS words FROM documents),
        scored AS (
          SELECT doc_id, lang,
            CASE WHEN len(words) = 0 THEN 0.0 ELSE ROUND(
              0.4 * LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
              + 0.3 * (1.0 - len(list_filter(words, x ->
                  list_contains({stop_list}, x)))
                  / CAST(len(words) AS DOUBLE))
              + 0.3 * (len(list_distinct(words))
                  / CAST(len(words) AS DOUBLE)),
            4) END AS quality
          FROM w),
        counts AS (
          SELECT lang AS pg, quality AS ps, COUNT(*) AS c
          FROM scored WHERE lang IS NOT NULL AND quality IS NOT NULL
          GROUP BY 1, 2),
        pm AS (
          SELECT pg, ps,
            ROUND((SUM(c) OVER (PARTITION BY pg ORDER BY ps
                                ROWS UNBOUNDED PRECEDING) - c)
                  / CAST(SUM(c) OVER (PARTITION BY pg) AS DOUBLE),
                  6) AS pctile
          FROM counts)
        SELECT doc_id, lang, quality, pctile
        FROM scored LEFT JOIN pm
          ON scored.lang = pm.pg AND scored.quality = pm.ps
    """
    # r15: frozen source-fair percentile — the proven quality-score
    # fragment; per-lang quantile-grid cuts from the doc_id % 4 == 0
    # reference slab via INTEGER reach tests (cum * n >= i * total),
    # applied as a bounded count of cuts <= score. ONE twin gates
    # the batch apply and the map-only streaming gate verbatim.
    d["ext-quality-percentile-frozen"] = f"""
        WITH w AS (
          SELECT doc_id, lang, {words_expr} AS words FROM documents),
        scored AS (
          SELECT doc_id, lang,
            CASE WHEN len(words) = 0 THEN 0.0 ELSE ROUND(
              0.4 * LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
              + 0.3 * (1.0 - len(list_filter(words, x ->
                  list_contains({stop_list}, x)))
                  / CAST(len(words) AS DOUBLE))
              + 0.3 * (len(list_distinct(words))
                  / CAST(len(words) AS DOUBLE)),
            4) END AS quality
          FROM w),
        refc AS (
          SELECT lang AS pg, quality AS ps, COUNT(*) AS c
          FROM scored
          WHERE doc_id % 4 = 0 AND lang IS NOT NULL
                AND quality IS NOT NULL
          GROUP BY 1, 2),
        ecdf AS (
          SELECT pg, ps,
                 SUM(c) OVER (PARTITION BY pg ORDER BY ps
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER (PARTITION BY pg) AS tot
          FROM refc),
        grid AS (SELECT unnest(range(1, 10)) AS i),
        cuts AS (
          SELECT pg, i, MIN(ps) AS cut
          FROM ecdf CROSS JOIN grid
          WHERE cum * 10 >= i * tot
          GROUP BY pg, i),
        app AS (
          SELECT s.doc_id, s.lang, s.quality,
                 SUM(CASE WHEN c.cut <= s.quality THEN 1 ELSE 0 END)
                   AS k,
                 COUNT(c.cut) AS ncuts
          FROM scored s LEFT JOIN cuts c ON s.lang = c.pg
          GROUP BY 1, 2, 3)
        SELECT doc_id, lang, quality,
               CASE WHEN quality IS NOT NULL AND ncuts > 0
                    THEN ROUND(k / 10.0, 6) END AS pctile_frozen
        FROM app
    """
    d["stream-quality-percentile"] = d["ext-quality-percentile-frozen"]
    # r15: lossless CMS pre-filter — exact-ranked top-k needs no
    # candidate machinery in the oracle (survivors of any m >= k
    # pre-filter are a superset of the exact top-m, a theorem); the
    # estimates come from the same portable sketch as
    # ext-heavy-hitters-cms.
    d["ext-cms-topk-exact"] = f"""
        WITH w AS (SELECT {words_lower} AS words FROM documents),
        tok AS (SELECT t.term FROM w, UNNEST(words) AS t(term)
                WHERE t.term <> ''),
        js AS (SELECT UNNEST([0, 1, 2, 3]) AS j),
        pairs AS (
          SELECT j, ('0x' || substr(md5(term || chr(31)
                      || 'cms1:' || j), 1, 13))::BIGINT % 1024
                   AS bucket
          FROM tok CROSS JOIN js),
        sketch AS (
          SELECT j, bucket, COUNT(*) AS n FROM pairs GROUP BY 1, 2),
        cand AS (SELECT term, COUNT(*) AS exact FROM tok GROUP BY 1),
        probes AS (
          SELECT c.term, c.exact, js.j,
                 ('0x' || substr(md5(c.term || chr(31)
                   || 'cms1:' || js.j), 1, 13))::BIGINT % 1024
                   AS bucket
          FROM cand c CROSS JOIN js),
        est AS (
          SELECT pr.term, pr.exact, MIN(s.n) AS cms_est
          FROM probes pr
          JOIN sketch s ON pr.j = s.j AND pr.bucket = s.bucket
          GROUP BY 1, 2)
        SELECT term, CAST(cms_est AS BIGINT) AS cms_est,
               CAST(exact AS BIGINT) AS exact,
               CAST(ROW_NUMBER() OVER (ORDER BY exact DESC, term)
                    AS INT) AS rank
        FROM est
        QUALIFY rank <= 20
    """
    # r14: streaming PSI monitor — the ext-psi-drift arithmetic
    # under FROZEN edges [0, 600) x 12 bins with end-bin clamping
    # (the batch psi_drift(lo=, hi=) form; counter-sum associativity
    # makes the merged stream state == this batch count).
    d["stream-psi-drift"] = """
        WITH two AS (
          SELECT lang AS g, CAST(length(text) AS DOUBLE) AS v
          FROM documents
          WHERE text IS NOT NULL AND lang IN ('en', 'fr')),
        binned AS (
          SELECT LEAST(GREATEST(CAST(FLOOR((v - 0.0) / 50.0) AS INT),
                                0), 11) AS bin,
                 SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS ca,
                 SUM(CASE WHEN g = 'fr' THEN 1 ELSE 0 END) AS cb
          FROM two GROUP BY 1),
        all_bins AS (SELECT unnest(range(0, 12)) AS bin),
        full_b AS (SELECT ab.bin, COALESCE(ca, 0) AS ca,
                          COALESCE(cb, 0) AS cb
                   FROM all_bins ab
                   LEFT JOIN binned ON binned.bin = ab.bin),
        agg AS (SELECT
            list(struct_pack(bin := bin, ca := ca, cb := cb)
                 ORDER BY bin) AS arr,
            SUM(ca) AS n_a, SUM(cb) AS n_b
          FROM full_b),
        folded AS (SELECT
            CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
            list_reduce(list_prepend(0.0, list_transform(arr, x ->
              ((x.ca + 0.5) / (n_a + 6.0)
               - (x.cb + 0.5) / (n_b + 6.0))
              * ln(((x.ca + 0.5) / (n_a + 6.0))
                   / ((x.cb + 0.5) / (n_b + 6.0))))),
              (acc, t) -> acc + t) AS psi
          FROM agg)
        SELECT n_a, n_b, 12 AS n_bins, ROUND(psi, 6) AS psi,
               CASE WHEN psi < 0.1 THEN 'stable'
                    WHEN psi < 0.25 THEN 'moderate'
                    ELSE 'shifted' END AS drift_level
        FROM folded
    """
    # --- r13 group-MinHash sketch family (operators/dedup.py) ---
    # Shard merge is min-of-mins (exact), so the oracle replays the
    # GLOBAL build — the ext-kmv-merge gate pattern. Same permutation
    # family as every minhash dedup twin: base = h52 % MERSENNE,
    # perm_i = (h*(2i+1) + 7919*(i+1)) % MERSENNE.
    _mh_h52 = _SQL_H52.format(x="k")
    d["ext-minhash-shard-merge"] = f"""
        WITH ex AS (
          SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS k
          FROM events WHERE user_id IS NOT NULL),
        h AS (SELECT grp, ({_mh_h52}) % 2147483647 AS h FROM ex),
        perms AS (SELECT unnest(range(0, 32)) AS perm)
        SELECT grp AS "group", CAST(perm AS INT) AS perm,
               MIN((h * (2 * perm + 1) + 7919 * (perm + 1))
                   % 2147483647) AS minh
        FROM h CROSS JOIN perms GROUP BY grp, perm
    """
    _mh_sh52 = _SQL_H52.format(x="sh")
    d["ext-minhash-overlap"] = f"""
        WITH pos AS (
          {sql_pos8("len(text) >= 8")}),
        shn AS (SELECT lang, substr(text, i, 8) AS sh FROM pos),
        h AS (SELECT lang, ({_mh_sh52}) % 2147483647 AS h
              FROM shn WHERE sh IS NOT NULL),
        perms AS (SELECT unnest(range(0, 32)) AS perm),
        sig AS (SELECT lang, CAST(perm AS INT) AS perm,
                       MIN((h * (2 * perm + 1) + 7919 * (perm + 1))
                           % 2147483647) AS minh
                FROM h CROSS JOIN perms GROUP BY lang, perm)
        -- n_match: SUM(CASE..) is HUGEINT in DuckDB -> pandas float;
        -- Spark emits long, so CAST keeps the driver's dtype-classes
        -- aligned (the ext-ks-drift rule)
        SELECT a.lang AS group_a, b.lang AS group_b,
               CAST(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_match,
               ROUND(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END)
                     / 32.0, 6) AS jaccard_est
        FROM sig a JOIN sig b ON a.perm = b.perm AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    """
    # Readability: the words fragment is the canonical words_expr;
    # syllable/sentence counts are regexp_extract_all lengths, the
    # published Flesch coefficients applied left-to-right.
    d["ext-readability"] = f"""
        WITH m AS (
          SELECT doc_id,
                 CAST(len({words_expr}) AS BIGINT) AS n_words,
                 CAST(GREATEST(len(regexp_extract_all(
                      lower(COALESCE(text, '')), '[.!?]+')), 1)
                      AS BIGINT) AS n_sentences,
                 CAST(len(regexp_extract_all(
                      lower(COALESCE(text, '')), '[aeiouy]+'))
                      AS BIGINT) AS n_syllables
          FROM documents)
        SELECT doc_id, n_words, n_sentences, n_syllables,
               ROUND(CASE WHEN n_words > 0 THEN
                 CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE)
                   * (n_words / CAST(n_sentences AS DOUBLE))
                 - CAST(84.6 AS DOUBLE)
                   * (n_syllables / CAST(n_words AS DOUBLE)) END,
                 4) AS flesch,
               ROUND(CASE WHEN n_words > 0 THEN
                 CAST(0.39 AS DOUBLE)
                   * (n_words / CAST(n_sentences AS DOUBLE))
                 + CAST(11.8 AS DOUBLE)
                   * (n_syllables / CAST(n_words AS DOUBLE))
                 - CAST(15.59 AS DOUBLE) END, 4) AS fk_grade
        FROM m
    """
    # Retrieval metrics: reuse the PROVEN exact/ann CTEs from the
    # ext-ann-recall twin verbatim (slice up to its final rollup),
    # then compute NDCG/MRR/recall with the SAME float literals the
    # Spark side bakes (similarity.ndcg_weights) and an ORDERED
    # list_reduce fold for DCG.
    from awskinesisconsumer_spark.operators.similarity import ndcg_weights

    _rm_gains, _rm_prefix = ndcg_weights(10)
    _rm_w = "[" + ", ".join(repr(x) for x in _rm_gains) + "]"
    _rm_p = "[" + ", ".join(repr(x) for x in _rm_prefix) + "]"
    _rm_cte = d["ext-ann-recall"][: d["ext-ann-recall"].index("hits AS")]
    d["ext-retrieval-metrics"] = _rm_cte + f"""
            exact_r AS (SELECT probe_id, neighbor_id FROM exact),
            nt AS (
              SELECT probe_id, COUNT(*) AS n_truth
              FROM exact_r GROUP BY 1),
            ann_r AS (
              SELECT probe_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY probe_id
                       ORDER BY cs DESC, neighbor_id) AS r
              FROM ann),
            marked AS (
              SELECT a.probe_id, a.r,
                     CASE WHEN t.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END AS rel
              FROM ann_r a LEFT JOIN exact_r t
                ON t.probe_id = a.probe_id
               AND t.neighbor_id = a.neighbor_id),
            per AS (
              SELECT probe_id, SUM(rel) AS n_hits,
                     MIN(CASE WHEN rel = 1 THEN r END) AS first_rel,
                     list_reduce(list_prepend(0.0,
                       list(CAST(rel AS DOUBLE) * ({_rm_w})[r]
                            ORDER BY r)),
                       (acc, x) -> acc + x) AS dcg
              FROM marked GROUP BY 1)
            SELECT nt.probe_id, CAST(n_truth AS BIGINT) AS n_truth,
                   CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
                   ROUND(CAST(COALESCE(n_hits, 0) AS DOUBLE)
                         / CAST(n_truth AS DOUBLE), 4) AS recall_at_k,
                   CASE WHEN first_rel IS NULL THEN 0.0
                        ELSE ROUND(1.0 / CAST(first_rel AS DOUBLE), 6)
                   END AS mrr,
                   ROUND(COALESCE(dcg, 0.0)
                         / ({_rm_p})[LEAST(n_truth, 10)], 6) AS ndcg
            FROM nt LEFT JOIN per ON per.probe_id = nt.probe_id
    """
    # RBO twin: same exact/ann rank CTEs, matched max-ranks folded
    # over the shared TAIL literals in md order (ties carry equal
    # literals -> tie order cannot change the sum).
    from awskinesisconsumer_spark.operators.similarity import (
        rbo_tail_weights,
    )

    _rbo_t = "[" + ", ".join(repr(x) for x in rbo_tail_weights(10, 0.9)) + "]"
    d["ext-rank-overlap"] = _rm_cte + f"""
            exact_r AS (
              SELECT probe_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY probe_id
                       ORDER BY cs DESC, neighbor_id) AS ra
              FROM exact),
            ann_r AS (
              SELECT probe_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY probe_id
                       ORDER BY cs DESC, neighbor_id) AS rb
              FROM ann),
            matched AS (
              SELECT a.probe_id, GREATEST(a.ra, b.rb) AS md
              FROM exact_r a JOIN ann_r b
                ON b.probe_id = a.probe_id
               AND b.neighbor_id = a.neighbor_id),
            per AS (
              SELECT probe_id, COUNT(*) AS n_matched,
                     list_reduce(list_prepend(0.0,
                       list(({_rbo_t})[md] ORDER BY md)),
                       (acc, x) -> acc + x) AS rbo
              FROM matched GROUP BY 1),
            uni AS (
              SELECT probe_id FROM exact_r
              UNION SELECT probe_id FROM ann_r)
            SELECT DISTINCT uni.probe_id,
                   CAST(COALESCE(n_matched, 0) AS BIGINT) AS n_matched,
                   ROUND(COALESCE(rbo, 0.0), 6) AS rbo
            FROM uni LEFT JOIN per ON per.probe_id = uni.probe_id
    """
    # Composed audit report: the twin NESTS the proven oracle
    # strings as subqueries verbatim — no new arithmetic anywhere;
    # the only fresh SQL is the k=128 per-lang KMV estimate (the
    # same expressions as ext-kmv-merge at different params) and two
    # integer counts (GROUP BY text groups NULLs exactly like
    # Spark's sha2-digest grouping).
    d["ext-audit-report"] = f"""
        SELECT 'n_docs' AS metric,
               CAST(COUNT(*) AS DOUBLE) AS value FROM documents
        UNION ALL
        SELECT 'n_exact_dup_docs',
               CAST((SELECT COUNT(*) FROM documents)
                    - (SELECT COUNT(*) FROM
                       (SELECT 1 FROM documents GROUP BY text))
                    AS DOUBLE)
        UNION ALL
        SELECT 'kmv_distinct_shingles:' || g, kmv_estimate FROM (
          WITH pos AS (
            {sql_pos8("len(text) >= 8")}),
          sh AS (
            SELECT lang AS g, {p52("substr(text, i, 8)")} AS h
            FROM pos GROUP BY 1, 2),
          ranked AS (
            SELECT g, h,
                   row_number() OVER (PARTITION BY g ORDER BY h) AS r
            FROM sh),
          sk AS (SELECT g, h FROM ranked WHERE r <= 128)
          SELECT g, ROUND(CASE WHEN COUNT(*) < 128
                     THEN CAST(COUNT(*) AS DOUBLE)
                     ELSE {_KMV128!r} / CAST(MAX(h) AS DOUBLE) END, 4)
                   AS kmv_estimate
          FROM sk GROUP BY g)
        UNION ALL
        SELECT 'overlap_jaccard:' || group_a || '/' || group_b, jaccard
        FROM ({d["ext-source-overlap"]})
        UNION ALL
        SELECT 'ann_recall@10:probe_' || probe_id, recall_at_k
        FROM ({d["ext-retrieval-metrics"]})
        UNION ALL
        SELECT 'rbo@10:probe_' || probe_id, rbo
        FROM ({d["ext-rank-overlap"]})
        UNION ALL
        SELECT 'semdedup_recall:n' || CAST(n_assign AS VARCHAR)
               || ':' || CAST(bucket_lo AS VARCHAR), recall
        FROM ({d["ext-dedup-semantic-recall"]})
        UNION ALL
        SELECT 'token_mean:' || "group", estimate
        FROM ({d["ext-bootstrap-ci-grouped"]})
        UNION ALL
        SELECT 'token_mean_ci_lo:' || "group", ci_lo
        FROM ({d["ext-bootstrap-ci-grouped"]})
        UNION ALL
        SELECT 'token_mean_ci_hi:' || "group", ci_hi
        FROM ({d["ext-bootstrap-ci-grouped"]})
        UNION ALL
        SELECT 'ece:' || "group", ece
        FROM ({d["ext-eval-ece-grouped"]})
        UNION ALL
        SELECT 'brier:' || "group", brier
        FROM ({d["ext-eval-brier-grouped"]})
        UNION ALL
        SELECT 'ece_drift:' || "group", ece_delta
        FROM ({d["ext-eval-calibration-drift"]})
    """
    # r15 card v2 (r14 verdict item 8): the release block nests the
    # proven evaluation gates verbatim — vocabulary richness, the
    # per-lang token-mean CI rows, and the en/fr length-drift
    # snapshot — so the card and the audit report stop diverging in
    # coverage.
    d["ext-dataset-card"] = f"""
        SELECT * FROM ({d["ext-dataset-card"]})
        UNION ALL SELECT 'vocab_size', CAST(vocab_size AS DOUBLE)
          FROM ({d["ext-chao1-vocab"]})
        UNION ALL SELECT 'chao1_est', chao1_est
          FROM ({d["ext-chao1-vocab"]})
        UNION ALL SELECT 'psi_len_drift:en/fr', psi
          FROM ({d["ext-psi-drift"]})
        UNION ALL SELECT 'token_mean:' || "group", estimate
          FROM ({d["ext-bootstrap-ci-grouped"]})
        UNION ALL SELECT 'token_mean_ci_lo:' || "group", ci_lo
          FROM ({d["ext-bootstrap-ci-grouped"]})
        UNION ALL SELECT 'token_mean_ci_hi:' || "group", ci_hi
          FROM ({d["ext-bootstrap-ci-grouped"]})
    """
    # The -table entries feed the same centroids as a (cell,
    # embedding) table, which the operators collect into the same
    # matrix — the list-centroid twins gate them verbatim.
    d["ext-similarity-ivf-kmeans-table"] = d["ext-similarity-ivf-kmeans"]
    d["ext-similarity-ivf-table"] = d["ext-similarity-ivf"]
    d["ext-similarity-ivf-pq-table"] = d["ext-similarity-ivf-pq"]
    # Quality-ranked SemDeDup: the semantic pair CTE + CC (the
    # ext-dedup-semantic fragments at the same threshold) resolved by
    # the keep-best ROW_NUMBER argmax over the 6-dp vector norm.
    d["ext-dedup-semantic-keep-best"] = f"""
        WITH RECURSIVE cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS i, cv
          FROM (SELECT vec_id, embedding AS cv,
                       ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                                       1, 13))::BIGINT AS h
                FROM embeddings)
          ORDER BY h, vec_id LIMIT 8),
        assign AS (
          SELECT vec_id, embedding, i,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY {_sql_l2('embedding', 'cv')}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        cells AS (SELECT vec_id, embedding, CAST(i AS INT) AS cell
                  FROM assign WHERE rn = 1),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b, id_a FROM p),
        reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e
            ON e.src = reach.node),
        cc AS (SELECT node, MIN(r) AS cid FROM reach GROUP BY node),
        lab AS (
          SELECT e.vec_id,
                 CAST(COALESCE(cc.cid, e.vec_id) AS BIGINT)
                   AS cluster_id,
                 ROUND({_sql_norm('e.embedding')}, 6) AS score
          FROM embeddings e LEFT JOIN cc ON cc.node = e.vec_id),
        rk AS (
          SELECT vec_id, cluster_id, score,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY score DESC, vec_id ASC)
                   AS rn
          FROM lab)
        SELECT vec_id, cluster_id, score, rn = 1 AS kept
        FROM rk
    """
    # UL2 mixture-of-denoisers plan: regime gate (md5 % 3), then the
    # proven corruption-spans recursive CTE PER REGIME with that
    # regime's (K, len_mod) literals and per-regime salt, plus the
    # S regime's suffix-cut arithmetic. Same CTE shape as
    # ext-corruption-spans, parameterized (tests/test_round11_ops.py
    # proves the builder verbatim).
    def _ul2_regime_cte(tag: str, ridx: int, k_gate: int,
                        len_mod: int) -> str:
        h = (f"('0x' || substr(md5(doc_id::VARCHAR || chr(31) || "
             f"p::VARCHAR || chr(31) || 'v1/{tag}'{{extra}}), 1, 13))"
             "::BIGINT")
        return f"""
        cand{tag} AS (
          SELECT doc_id, n, CAST(p AS INT) AS p,
                 CAST({h.format(extra=" || chr(31) || 'len'")}
                      % {len_mod} + 1 AS INT) AS l,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p)
                   AS rn
          FROM (SELECT doc_id, ws, n FROM g WHERE ridx = {ridx}) q,
               UNNEST(range(1, n + 1)) AS u(p)
          WHERE {h.format(extra="")} % {k_gate} = 0),
        st{tag} AS (
          SELECT doc_id, rn, n, p, l, TRUE AS accepted,
                 LEAST(l, n - p + 1) AS tl,
                 p + LEAST(l, n - p + 1) - 1 AS last_end
          FROM cand{tag} WHERE rn = 1
          UNION ALL
          SELECT c.doc_id, c.rn, c.n, c.p, c.l,
                 c.p > st{tag}.last_end AS accepted,
                 LEAST(c.l, c.n - c.p + 1) AS tl,
                 CASE WHEN c.p > st{tag}.last_end
                      THEN c.p + LEAST(c.l, c.n - c.p + 1) - 1
                      ELSE st{tag}.last_end END AS last_end
          FROM st{tag} JOIN cand{tag} c
            ON c.doc_id = st{tag}.doc_id AND c.rn = st{tag}.rn + 1)"""

    _ul2_sel = (
        "SELECT doc_id, '{t}' AS regime, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY p) - 1 AS INT) AS span_idx, "
        "CAST(p AS INT) AS start_word, CAST(tl AS INT) AS span_len "
        "FROM st{t} WHERE accepted"
    )
    _ul2_s_cut = (
        "('0x' || substr(md5(doc_id::VARCHAR || chr(31) || 'v1' "
        "|| chr(31) || 's_cut'), 1, 13))::BIGINT"
    )
    d["ext-ul2-plan"] = f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, trim(COALESCE(text, '')) AS t FROM documents),
        w AS (
          SELECT doc_id,
                 CASE WHEN length(t) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(t, '\\s+') END AS ws,
                 CASE WHEN length(t) = 0 THEN 0
                      ELSE len(string_split_regex(t, '\\s+')) END AS n
          FROM d),
        g AS (
          SELECT doc_id, ws, n,
                 ('0x' || substr(md5(doc_id::VARCHAR || chr(31) || 'v1'
                                     || chr(31) || 'regime'), 1, 13))
                   ::BIGINT % 3 AS ridx
          FROM w),
        {_ul2_regime_cte('R', 0, 20, 5)},
        {_ul2_regime_cte('X', 1, 16, 15)}
        {_ul2_sel.format(t='R')}
        UNION ALL
        {_ul2_sel.format(t='X')}
        UNION ALL
        SELECT doc_id, 'S' AS regime, CAST(0 AS INT) AS span_idx,
               CAST({_ul2_s_cut} % n + 1 AS INT) AS start_word,
               CAST(n - ({_ul2_s_cut} % n) AS INT) AS span_len
        FROM g WHERE ridx = 2 AND n > 0
    """
    # UL2 pairs: the regime-parameterized denoise-pairs rendering
    # (sp/full/built CTEs from ext-denoise-pairs, per regime) chained
    # on the same plan recursion, plus the S suffix span rendered
    # through the same sentinel convention. Proven in
    # tests/test_round11_ops.py.
    def _ul2_built_cte(tag: str, ridx: int) -> str:
        return f"""
        sp{tag} AS (
          SELECT doc_id,
                 list(struct_pack(s := CAST(p AS INT),
                                  l := CAST(tl AS INT)) ORDER BY p)
                   AS spans
          FROM st{tag} WHERE accepted GROUP BY doc_id),
        full{tag} AS (
          SELECT g.doc_id, g.ws, g.n,
                 COALESCE(sp{tag}.spans,
                          CAST([] AS STRUCT(s INT, l INT)[])) AS spans
          FROM (SELECT * FROM g WHERE ridx = {ridx}) g
          LEFT JOIN sp{tag} USING (doc_id)),
        built{tag} AS (
          SELECT doc_id, n, len(spans) AS k,
            list_concat(
              flatten(list_transform(spans, (x, i) ->
                list_concat(
                  ws[(CASE WHEN i = 1 THEN 0
                      ELSE spans[i - 1].s + spans[i - 1].l - 1 END) + 1
                     : x.s - 1],
                  ['<extra_id_' || (i - 1)::VARCHAR || '>']))),
              ws[(CASE WHEN len(spans) = 0 THEN 0
                  ELSE spans[len(spans)].s + spans[len(spans)].l - 1
                  END) + 1 : n]) AS in_words,
            list_concat(
              flatten(list_transform(spans, (x, i) ->
                list_concat(['<extra_id_' || (i - 1)::VARCHAR || '>'],
                            ws[x.s : x.s + x.l - 1]))),
              ['<extra_id_' || len(spans)::VARCHAR || '>']) AS tgt_words
          FROM full{tag})"""

    _ul2_pair_sel = (
        "SELECT doc_id, '{t}' AS regime, CAST(n AS INT) AS n_words, "
        "CAST(k AS INT) AS n_spans, "
        "COALESCE(array_to_string(in_words, ' '), '') AS input_text, "
        "COALESCE(array_to_string(tgt_words, ' '), '') AS target_text "
        "FROM built{t}"
    )
    d["ext-ul2-pairs"] = f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, trim(COALESCE(text, '')) AS t FROM documents),
        w AS (
          SELECT doc_id,
                 CASE WHEN length(t) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(t, '\\s+') END AS ws,
                 CASE WHEN length(t) = 0 THEN 0
                      ELSE len(string_split_regex(t, '\\s+')) END AS n
          FROM d),
        g AS (
          SELECT doc_id, ws, n,
                 ('0x' || substr(md5(doc_id::VARCHAR || chr(31) || 'v1'
                                     || chr(31) || 'regime'), 1, 13))
                   ::BIGINT % 3 AS ridx
          FROM w),
        {_ul2_regime_cte('R', 0, 20, 5)},
        {_ul2_regime_cte('X', 1, 16, 15)},
        {_ul2_built_cte('R', 0).lstrip()},
        {_ul2_built_cte('X', 1).lstrip()},
        s_base AS (
          SELECT doc_id, ws, n,
                 CASE WHEN n > 0
                      THEN CAST({_ul2_s_cut} % n AS INT) END AS cut
          FROM g WHERE ridx = 2)
        {_ul2_pair_sel.format(t='R')}
        UNION ALL
        {_ul2_pair_sel.format(t='X')}
        UNION ALL
        SELECT doc_id, 'S' AS regime, CAST(n AS INT) AS n_words,
               CAST(CASE WHEN n > 0 THEN 1 ELSE 0 END AS INT)
                 AS n_spans,
               CASE WHEN n > 0 THEN COALESCE(array_to_string(
                      list_concat(ws[1 : cut], ['<extra_id_0>']), ' '),
                      '')
                    ELSE '' END AS input_text,
               CASE WHEN n > 0 THEN COALESCE(array_to_string(
                      list_concat(list_concat(['<extra_id_0>'],
                                              ws[cut + 1 : n]),
                                  ['<extra_id_1>']), ' '), '')
                    ELSE '<extra_id_0>' END AS target_text
        FROM s_base
    """
    # Contrastive triplets: exact all-pairs positives at the
    # threshold (the ext-dedup-embedding twin's shape), symmetric
    # anchors, per-anchor exact cosine ranks over the corpus with
    # anchor+positives excluded, top-k_neg, re-attached to every
    # (anchor, positive). Proven in tests/test_round11_ops.py.
    d["ext-contrastive-triplets"] = f"""
        WITH bb AS (
          SELECT vec_id, embedding, {bucket_emb} AS bkt
          FROM embeddings),
        pos AS (
          SELECT a.vec_id AS id_a, c.vec_id AS id_b
          FROM bb a JOIN bb c
            ON a.vec_id < c.vec_id
           AND (a.bkt = c.bkt OR bit_count(xor(a.bkt, c.bkt)) = 1)
          WHERE {_sql_cosine('a.embedding', 'c.embedding')} >= 0.45),
        sym AS (
          SELECT id_a AS anchor_id, id_b AS positive_id FROM pos
          UNION ALL
          SELECT id_b, id_a FROM pos),
        anchors AS (SELECT DISTINCT anchor_id FROM sym),
        scored AS (
          SELECT an.anchor_id, e.vec_id AS neighbor_id,
                 {_sql_cosine('av.embedding', 'e.embedding')} AS cosine
          FROM anchors an
          JOIN embeddings av ON av.vec_id = an.anchor_id
          JOIN embeddings e ON e.vec_id <> an.anchor_id),
        nonpos AS (
          SELECT s.* FROM scored s
          ANTI JOIN sym p
            ON s.anchor_id = p.anchor_id
           AND s.neighbor_id = p.positive_id),
        negs AS (
          SELECT anchor_id, neighbor_id AS negative_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY cosine DESC NULLS LAST, neighbor_id)
                   AS INT) AS neg_rank,
                 cosine AS neg_cosine
          FROM nonpos
          QUALIFY neg_rank <= 2)
        SELECT sym.anchor_id, sym.positive_id, negative_id, neg_rank,
               neg_cosine
        FROM sym JOIN negs USING (anchor_id)
    """
    # Streaming per-shard token-quota admission: per-shard id-ordered
    # arrival => union == the per-shard batch cumsum (the
    # pack_sequences_stream equivalence); kept iff the running total
    # including the doc is <= 6000. Proven in
    # tests/test_round11_ops.py.
    d["stream-token-quota"] = r"""
        WITH t AS (
          SELECT doc_id % 4 AS shard, doc_id,
                 CAST(len(regexp_extract_all(COALESCE(text, ''),
                      '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                   AS n_tokens
          FROM documents),
        c AS (
          SELECT shard, doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (PARTITION BY shard
                   ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tokens
          FROM t)
        SELECT shard, doc_id, n_tokens, cum_tokens,
               cum_tokens <= 6000 AS kept
        FROM c
    """
    # FIM PSM/SPM serialization: the proven fim twin wrapped with the
    # same CASE/concat rendering. Proven in tests/test_round11_ops.py.
    d["ext-fim-serialize"] = f"""
        WITH fim AS ({d["ext-fim-split"]})
        SELECT doc_id, n_words, fim_applied,
               CASE WHEN fim_applied
                    THEN '<fim_prefix>' || prefix || '<fim_suffix>'
                         || suffix || '<fim_middle>' || middle
                    ELSE prefix END AS text_psm,
               CASE WHEN fim_applied
                    THEN '<fim_suffix>' || suffix || '<fim_prefix>'
                         || prefix || '<fim_middle>' || middle
                    ELSE prefix END AS text_spm
        FROM fim
    """
    return d
