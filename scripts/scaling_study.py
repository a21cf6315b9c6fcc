"""Data-proportional scaling study for the text/vector operators.

The driver fixtures keep `documents` small (500-5000 rows), so this
study amplifies them deterministically: each doc/vector is replicated
R times with a per-replica mutation (appended marker tokens / a small
per-replica vector perturbation), written to parquet once, and the
operators are timed against the materialized corpus — so the numbers
measure the operator, not the amplification expression. Replicas of
one doc are near-duplicates of each other, which is exactly the hard
case for the dedup family (dense LSH buckets, real candidate pairs).

Each (op, N) runs twice in a warm session; the SECOND run is the
headline number (steady-state data-proportional cost, JIT/codegen
excluded — first-run times are printed too). Results feed SCALING.md.

Usage: SPARK_GRAFT_CPUS=16 python scripts/scaling_study.py [--quick]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from awskinesisconsumer_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
WORK = "/tmp/scaling_study"


def amplify_docs(spark, repl: int, path: str) -> None:
    """5000 base docs x repl near-duplicate replicas -> parquet."""
    if os.path.exists(path):
        return
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = (
        docs.select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(0), F.lit(repl - 1))).alias("_rep"),
        )
        .select(
            (F.col("doc_id") * 1000 + F.col("_rep")).alias("doc_id"),
            # Mutation keeps replicas near-dups (jaccard ~0.9 at ~45
            # words/doc): a replica marker + a doc-dependent token.
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" rep"), F.col("_rep").cast("string"),
                F.lit(" marker"), (F.col("doc_id") % 7).cast("string"),
            ).alias("text"),
        )
    )
    out.repartition(32).write.mode("overwrite").parquet(path)


def amplify_embs(spark, repl: int, path: str) -> None:
    """2000 base vectors x repl perturbed replicas -> parquet."""
    if os.path.exists(path):
        return
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = (
        embs.select(
            "vec_id", "embedding", "label",
            F.explode(F.sequence(F.lit(0), F.lit(repl - 1))).alias("_rep"),
        )
        .select(
            (F.col("vec_id") * 1000 + F.col("_rep")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (x + F.col("_rep") * 0.0001 * ((i % 3) + 1))
                .cast("float"),
            ).alias("embedding"),
            "label",
        )
    )
    out.repartition(32).write.mode("overwrite").parquet(path)


def doc_ops():
    from awskinesisconsumer_spark.operators.dedup import (
        dedup_exact, dedup_lines, dedup_minhash_lsh, ngram_jaccard_pairs,
        simhash,
    )
    from awskinesisconsumer_spark.operators.text import (
        collocations_pmi, quality_score, redact_pii, repetition_stats,
        tfidf_top_terms,
    )
    from awskinesisconsumer_spark.operators.corpus_prep import (
        decontaminate, pack_sequences,
    )
    from awskinesisconsumer_spark.operators.text import token_count

    def prepare(d):
        # The composed ext-prepare-corpus pipeline (dedup ->
        # decontaminate -> quality -> pack); exercises pack_sequences'
        # input materialization, without which the whole upstream
        # would run twice.
        surv = dedup_exact(d, text_col="text", id_col="doc_id").select("doc_id")
        kept = d.join(surv, "doc_id", "left_semi")
        bench = d.where(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("bench_id"), F.col("text").alias("bench_text")
        )
        clean = decontaminate(
            kept, bench, id_col="doc_id", text_col="text",
            bench_id_col="bench_id", bench_text_col="bench_text",
            n=3, min_overlap=5,
        ).where(~F.col("contaminated"))
        good = quality_score(clean, text_col="text").where(F.col("quality") >= 0.5)
        toks = token_count(good, text_col="text").select("doc_id", "n_tokens")
        return pack_sequences(toks, id_col="doc_id", token_col="n_tokens",
                              capacity=512)

    return {
        "dedup-exact": lambda d: dedup_exact(d, text_col="text", id_col="doc_id"),
        "kmv-overlap": kmv_overlap_study,
        "prepare-pipeline": prepare,
        "dedup-minhash-lsh": lambda d: dedup_minhash_lsh(
            d, id_col="doc_id", text_col="text",
            num_hashes=64, bands=16, jaccard_threshold=0.8,
        ),
        "dedup-simhash": lambda d: simhash(d, text_col="text", id_col="doc_id"),
        "dedup-ngram-jaccard": lambda d: ngram_jaccard_pairs(
            d, id_col="doc_id", text_col="text", n=3, threshold=0.8
        ),
        "dedup-lines": lambda d: dedup_lines(d, id_col="doc_id", text_col="text"),
        "quality-repetition": lambda d: repetition_stats(
            d, id_col="doc_id", text_col="text"
        ),
        "quality-score": lambda d: quality_score(d, text_col="text"),
        "pii-redact": lambda d: redact_pii(d, text_col="text"),
        "tfidf-terms": lambda d: tfidf_top_terms(
            d, id_col="doc_id", text_col="text", k=5
        ),
        # round-4 additions
        "collocations-pmi": lambda d: collocations_pmi(
            d, text_col="text", min_count=5, k=50
        ),
        "pagerank-dups": pagerank_dups,
        "skyline-2d": skyline_tokens,
        # round-5 additions
        "dedup-incremental": dedup_incremental_fixed_batch,
        "bpe-train": bpe_train_study,
        "bpe-encode": bpe_encode_study,
        "domain-cap": domain_cap_study,
        "snapshot-diff": snapshot_diff_study,
        # round-6 additions
        "quality-blend": quality_blend_study,
        "normalize-text": normalize_text_study,
        # round-9 additions
        "cdc-chunk-clamped": cdc_clamped_study,
        "sentence-decontaminate": sentence_decontaminate_study,
        "dedup-keep-best": dedup_keep_best_study,
        "dedup-simhash-pairs": simhash_pairs_study,
        "mixture-expand": mixture_expand_study,
        "importance-score": importance_score_study,
        # round-11 addition
        "dedup-keep-best-cap8": dedup_keep_best_capped_study,
        "budget-select": budget_select_study,
        "curriculum-order": curriculum_order_study,
        "ul2-pairs": ul2_pairs_study,
    }


def cdc_clamped_study(d):
    # map-only: the clamp fold + chunking must scale linearly in
    # total text bytes (production xxhash64 default)
    from awskinesisconsumer_spark.operators.corpus_prep import (
        content_defined_chunks_clamped,
    )

    return content_defined_chunks_clamped(
        d, id_col="doc_id", text_col="text", min_len=32, max_len=128
    )


def sentence_decontaminate_study(d):
    # cost must be the corpus-side sentence explosion through the
    # broadcast, linear in corpus size
    from awskinesisconsumer_spark.operators.corpus_prep import (
        sentence_decontaminate,
    )

    sentenced = d.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(".")).alias(
            "text"
        ),
    )
    # FIXED benchmark across amplification: only replica 0 of the %97
    # base docs (replica ids are base*1000+rep), so the broadcast side
    # stays constant while the corpus grows
    bench = sentenced.where(
        (F.col("doc_id") % 1000 == 0)
        & ((F.col("doc_id") / 1000).cast("long") % 97 == 0)
    ).select(
        F.col("doc_id").alias("bench_id"), F.col("text").alias("bench_text")
    )
    return sentence_decontaminate(
        sentenced, bench, id_col="doc_id", text_col="text",
        bench_id_col="bench_id", bench_text_col="bench_text",
    )


def dedup_keep_best_study(d):
    # the amplified corpus is ALL near-dup groups (replicas of one
    # base doc) — dense clusters are exactly the hard case for the
    # CC + salted-argmax resolution
    from awskinesisconsumer_spark.operators.dedup import (
        dedup_keep_best, dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(
        d, id_col="doc_id", text_col="text",
        num_hashes=64, bands=16, jaccard_threshold=0.8,
    ).select("id_a", "id_b")
    scored = d.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("score"),
    )
    return dedup_keep_best(scored, pairs, id_col="doc_id",
                           score_col="score")


def dedup_keep_best_capped_study(d):
    # the r11 pair cap: same dense-cluster stress as
    # dedup_keep_best_study, with the per-doc top-8 candidate cap
    # (portable-hash order — the production default when LSH pairs
    # carry no weight column) bounding the edge list entering CC at
    # <= 2*8*docs instead of R^2/2 per replica group.
    from awskinesisconsumer_spark.operators.dedup import (
        dedup_keep_best, dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(
        d, id_col="doc_id", text_col="text",
        num_hashes=64, bands=16, jaccard_threshold=0.8,
    ).select("id_a", "id_b")
    scored = d.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("score"),
    )
    return dedup_keep_best(scored, pairs, id_col="doc_id",
                           score_col="score", pair_cap=8)


def budget_select_study(d):
    # the bin-chunked prefix sum: per-bin windows stay parallel as
    # docs grow; the offsets table is n_bins rows regardless of SF.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        budget_select,
    )

    fx = d.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("prio"),
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("bigint").alias("n_toks"),
    )
    return budget_select(
        fx, id_col="doc_id", token_col="n_toks", priority_col="prio",
        budget=10**9, lo=0.0, hi=2000.0, n_bins=200,
    )


def curriculum_order_study(d):
    # per-shard parallel sorts — the shuffle_order scale shape with a
    # score ordering; n_shards=8 keeps each reducer at docs/8 rows.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        curriculum_order,
    )

    scored = d.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("difficulty"),
    )
    return curriculum_order(
        scored, id_col="doc_id", score_col="difficulty", n_shards=8
    )


def ul2_pairs_study(d):
    # map-only union of three hash-gated regime renderings — expected
    # linear in text bytes like cdc/denoise.
    from awskinesisconsumer_spark.operators.corpus_prep import ul2_pairs

    return ul2_pairs(d, id_col="doc_id", text_col="text")


def simhash_pairs_study(d):
    # near-dup replicas share most simhash bands — the hot-cap skew
    # guard is what keeps the banded join from going quadratic here
    from awskinesisconsumer_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    return simhash_near_dup_pairs(
        d, id_col="doc_id", text_col="text", bits=16,
        max_hamming=3, bands=4,
    )


def mixture_expand_study(d):
    from awskinesisconsumer_spark.operators.corpus_prep import (
        expand_mixture_epochs,
    )

    src = d.withColumn("source",
                       F.concat(F.lit("src"),
                                (F.col("doc_id") % 4).cast("string")))
    return expand_mixture_epochs(
        src, id_col="doc_id", source_col="source",
        epochs={"src0": 2.3, "src1": 0.0, "src2": 1.0, "src3": 0.4},
    )


def importance_score_study(d):
    from awskinesisconsumer_spark.operators.text import importance_score

    # FIXED target sample across amplification (replica 0 of the %97
    # base docs) — the production shape: a small domain seed against a
    # growing crawl
    target = d.where(
        (F.col("doc_id") % 1000 == 0)
        & ((F.col("doc_id") / 1000).cast("long") % 97 == 0)
    ).select(F.col("text").alias("t_text"))
    return importance_score(
        d, target, id_col="doc_id", text_col="text",
        target_text_col="t_text",
    )


def dedup_incremental_fixed_batch(d):
    # Daily-ingest shape: the NEW batch is FIXED (500 docs) while the
    # existing corpus grows with the amplification — measures that
    # probe cost is bounded by the (capped) inverted index, not by
    # corpus self-pairing.
    from awskinesisconsumer_spark.operators.dedup import dedup_incremental

    new = d.where(F.col("doc_id") % 1000 == 0).limit(500) \
        .select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % 1000 != 0).select("doc_id", "text")
    return dedup_incremental(
        new, corpus, id_col="doc_id", text_col="text", min_overlap=5
    )


def bpe_train_study(d):
    # One corpus scan builds the vocab; the 10 merge rounds then run
    # on the Zipf-bounded vocab table — amplified replicas repeat
    # words, so vocab growth is sublinear and rounds should be ~flat.
    from awskinesisconsumer_spark.operators.text import bpe_train_merges

    return bpe_train_merges(d, text_col="text", n_merges=10)


def bpe_encode_study(d):
    # Encode with a FIXED merge table (trained once on the 5k base
    # docs): the per-word UDF runs over DISTINCT words only, so the
    # data-sized terms are the explode+count and the join back.
    from awskinesisconsumer_spark.operators.text import bpe_encode_corpus

    merges = [("e", "</w>"), ("e", "r"), ("er", "</w>"), ("i", "n"),
              ("o", "w"), ("t", "</w>"), ("a", "n"), ("o", "r"),
              ("s", "t"), ("l", "o")]
    return bpe_encode_corpus(
        d, id_col="doc_id", text_col="text", merges=merges
    )


def domain_cap_study(d):
    # Per-source quota: one group-keyed window over ~97 synthetic
    # domains — the wide-partition stress grows with rows per domain.
    from awskinesisconsumer_spark.operators.corpus_prep import domain_cap

    dom = d.withColumn("domain", (F.col("doc_id") % 97).cast("string"))
    return domain_cap(
        dom, group_col="domain", cap=100, id_col="doc_id"
    ).where("kept")


def snapshot_diff_study(d):
    # Digest-reduced full-outer join: both sides data-sized, shuffle
    # payload is 32-byte digests — the linear floor is the two scans.
    from awskinesisconsumer_spark.operators.compaction import snapshot_diff

    old = d.where(F.col("doc_id") % 5 != 0)
    new = d.where(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0, F.lit("mutated"))
        .otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, key_cols=["doc_id"])


def quality_blend_study(d):
    # Two text-derived signals: the sketch passes are one scan each
    # with an n_bins-row shuffle; the blend is map-only — total cost
    # should track the 3 corpus scans linearly.
    from awskinesisconsumer_spark.operators.corpus_prep import quality_blend

    sig = d.select(
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
    )


def normalize_text_study(d):
    # One Arrow pass, map-only — wall should be linear in corpus
    # bytes with zero shuffle.
    from awskinesisconsumer_spark.operators.text import normalize_text

    dirty = d.withColumn(
        "text", F.concat(F.coalesce(F.col("text"), F.lit("")),
                         F.lit(" Café​  x\ty \n z "))
    )
    return normalize_text(dirty, text_col="text")


def pagerank_dups(d):
    # PageRank on an explicit dup-cluster graph: each base doc's
    # replicas form a clique (plus a chain link to the next base doc
    # so the graph is connected) — measures the per-iteration
    # join+agg itself on a dense edge set, independent of the pair-
    # finding machinery (which has its own study rows; at 40x the
    # replica-clique edge list is ~docs*39 edges, ~7.8M directed).
    from awskinesisconsumer_spark.operators.graph import pagerank

    base = d.select(F.floor(F.col("doc_id") / 1000).alias("b"),
                    F.col("doc_id").alias("src"))
    peers = base.join(
        base.select(F.col("b"), F.col("src").alias("dst")), "b"
    ).where(F.col("src") != F.col("dst")).select("src", "dst")
    chain = d.select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") + 1000).alias("dst"),
    ).join(d.select(F.col("doc_id").alias("dst")), "dst")
    edges = peers.union(chain).union(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return pagerank(edges, iters=3)


def skyline_tokens(d):
    # 2-D Pareto frontier over (doc length, distinct-token count):
    # the "densest short doc" frontier; exercises the bucketed local
    # skylines + prefix-max pruning on a data-proportional input.
    from awskinesisconsumer_spark.operators.analytics import skyline_2d
    from awskinesisconsumer_spark.operators.text import token_count

    toks = token_count(d, text_col="text").withColumn(
        "n_distinct",
        F.size(F.array_distinct(F.split(F.trim(F.coalesce(
            F.col("text"), F.lit(""))), r"\s+"))).cast("double"),
    )
    return skyline_2d(
        toks.select("doc_id", F.col("n_tokens").cast("double").alias("x"),
                    F.col("n_distinct").alias("y")),
        x_col="x", y_col="y",
    )


def emb_ops():
    from awskinesisconsumer_spark.operators.similarity import (
        ann_join_srp, deterministic_planes, ivf_centroids_from_sample,
        knn_ivf, knn_join_topk, knn_lsh, pairwise_topk_cosine,
    )

    def lsh(d):
        planes = deterministic_planes(64, 8)
        probe = [float(i % 13) / 13.0 for i in range(64)]
        return knn_lsh(d, id_col="vec_id", vec_col="embedding",
                       query=probe, planes=planes, k=10)

    def ivf(d):
        cents = ivf_centroids_from_sample(
            d, id_col="vec_id", vec_col="embedding", n_centroids=8
        )
        probe = [float(i % 13) / 13.0 for i in range(64)]
        return knn_ivf(d, id_col="vec_id", vec_col="embedding",
                       query=probe, centroids=cents, n_probes=2, k=10)

    def semdedup(d):
        # SemDeDup on the replica corpus: all replicas of a base
        # vector share a cell, so cell sizes grow linearly with the
        # amplification and the within-cell pairwise is the measured
        # quadratic term — cell_cap=1500 is the documented guard
        # (cells past it keep every row as a singleton, assignment
        # cost only).
        from awskinesisconsumer_spark.operators.similarity import (
            semantic_dedup,
        )

        cents = ivf_centroids_from_sample(
            d, id_col="vec_id", vec_col="embedding", n_centroids=64
        )
        return semantic_dedup(
            d, id_col="vec_id", vec_col="embedding", centroids=cents,
            threshold=0.95, cell_cap=1500,
        )

    def semdedup_ktracked(d, vectorized=False):
        # r12: k TRACKS the corpus per the paper's n/k ~ 2k balance
        # rule (k = sqrt(n/2): 32/100/200 cells at 2k/20k/80k
        # vectors) — executable only with the broadcast-matrix
        # ivf_assign kernel; the literal argmin it replaced made
        # k > ~hundreds unplannable, which is why the r11 study had to
        # hold k=64 fixed and measured the quadratic. Expected shape: pairs
        # = n * (n/2k) with k ∝ sqrt(n) -> n^1.5, vs the fixed-k n^2.
        import math

        from awskinesisconsumer_spark.operators.similarity import (
            ivf_centroids_from_sample, semantic_dedup,
        )

        k = max(8, int(math.sqrt(d.count() / 2)))
        cents = ivf_centroids_from_sample(
            d, id_col="vec_id", vec_col="embedding", n_centroids=k
        )
        return semantic_dedup(
            d, id_col="vec_id", vec_col="embedding", centroids=cents,
            threshold=0.95, cell_cap=3000, vectorized=vectorized,
        )

    def contrastive_by_cell_study(d):
        # r12: the amplified corpus is the global miner's failure
        # mode MADE CONCRETE — every vector has repl-1 near-dups, so
        # anchors ~ corpus and contrastive_triplets' driver-collected
        # anchor list trips its 50k guard at x40; the cell-local form
        # mines inside the same k-tracked cells with no collection.
        import math

        from awskinesisconsumer_spark.operators.similarity import (
            contrastive_triplets_by_cell, ivf_centroids_from_sample,
        )

        k = max(8, int(math.sqrt(d.count() / 2)))
        cents = ivf_centroids_from_sample(
            d, id_col="vec_id", vec_col="embedding", n_centroids=k
        )
        return contrastive_triplets_by_cell(
            d, id_col="vec_id", vec_col="embedding", centroids=cents,
            pos_threshold=0.95, k_neg=2, cell_cap=3000,
        )

    def semdedup_multi(d):
        # r13: the k-tracked production form with n_assign=2 — the
        # build-side multi-probe. Expected cost: <= 2x memberships
        # and <= 2x candidate pairs over semdedup-ktracked-vec (the
        # widened sibling above), buying back the cross-cell recall
        # the recall-curve study quantifies.
        import math

        from awskinesisconsumer_spark.operators.similarity import (
            ivf_centroids_from_sample, semantic_dedup,
        )

        k = max(8, int(math.sqrt(d.count() / 2)))
        cents = ivf_centroids_from_sample(
            d, id_col="vec_id", vec_col="embedding", n_centroids=k
        )
        return semantic_dedup(
            d, id_col="vec_id", vec_col="embedding", centroids=cents,
            threshold=0.95, cell_cap=3000,
            vectorized=True, n_assign=2,
        )

    return {
        "semantic-dedup": semdedup,
        "semdedup-ktracked": semdedup_ktracked,
        "semdedup-ktracked-vec": lambda d: semdedup_ktracked(
            d, vectorized=True
        ),
        "semdedup-multi-vec": semdedup_multi,
        "contrastive-by-cell": contrastive_by_cell_study,
        "knn-brute-topk": lambda d: pairwise_topk_cosine(
            d, id_col="vec_id", vec_col="embedding",
            probe_ids=[0, 1000, 2000], k=5,
        ),
        "ann-srp-lsh": lsh,
        "ann-ivf": ivf,
        # round-4 additions: the multi-probe join forms
        "knn-join-topk": lambda d: knn_join_topk(
            d, id_col="vec_id", vec_col="embedding",
            probe_ids=[0, 1000, 2000, 3000], k=10,
        ),
        "knn-join-topk-vec": lambda d: knn_join_topk(
            d, id_col="vec_id", vec_col="embedding",
            probe_ids=[0, 1000, 2000, 3000], k=10, vectorized=True,
        ),
        "ann-join-srp": lambda d: ann_join_srp(
            d, id_col="vec_id", vec_col="embedding",
            probe_ids=[0, 1000, 2000, 3000],
            planes=deterministic_planes(64, 8), k=10,
        ),
        # round-5 addition: fixed 50-vector benchmark broadcast, the
        # corpus side grows — cost must stay linear, zero shuffles of
        # the corpus.
        "semantic-decontaminate": semantic_decontam_study,
    }


def semantic_decontam_study(d):
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_decontaminate,
    )

    bench = d.where(F.col("vec_id") % 40000 == 0).limit(50).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bvec")
    )
    return semantic_decontaminate(
        d, bench, id_col="vec_id", vec_col="embedding",
        bench_id_col="bid", bench_vec_col="bvec", threshold=0.9,
        vectorized=True,
    )


def kmv_overlap_study(d):
    # The r12 KMV family end to end on amplified docs: 8-char shingle
    # rows (narrow explode) -> per-lang bottom-k sketch -> all-pairs
    # overlap matrix. Expected shape: linear in shingle rows (the
    # distinct groupBy dominates); everything after the sketch is
    # G^2*k rows. documents lack lang in the amplified fixture, so
    # group by doc_id % 5 as a 5-way source split.
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_overlap_matrix, kmv_sketch,
    )

    docs = d.filter(F.length("text") >= 8).select(
        (F.col("doc_id") % 5).cast("string").alias("src"), "text"
    )
    pos = docs.select(
        "src", "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("i"),
    )
    sh = pos.select("src", F.expr("substring(text, i, 8)").alias("sh"))
    sk = kmv_sketch(sh, key_col="sh", group_col="src", k=256)
    return kmv_overlap_matrix(sk, k=256)


def recall_curve() -> None:
    """r13 (r12 verdict item 2's 'done' criterion): the SemDeDup
    recall-vs-k curve, with the n_assign=2 multi-probe uplift —
    run on the 500-row sf0.01 fixture because the truth side is the
    exact all-pairs join (the audit's documented sampled-slab mode;
    the curve is a property of the quantizer geometry, not corpus
    size). Prints overall recall (sum caught / sum true) per
    (k, n_assign) plus the per-bucket rows at the gate k.

    Usage: python scripts/scaling_study.py --recall-curve
    """
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup_recall_audit,
    )

    spark = get_spark("recall-curve")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    print("| k | n_assign | n_true | n_caught | recall |")
    print("|---|---|---|---|---|")
    for k in (2, 4, 8, 16, 32):
        cents = ivf_centroids_from_sample(
            emb, id_col="vec_id", vec_col="embedding", n_centroids=k
        )
        rows = semantic_dedup_recall_audit(
            emb, id_col="vec_id", vec_col="embedding", centroids=cents,
            threshold=0.3, n_assign_values=(1, 2),
        ).collect()
        for n in (1, 2):
            true = sum(r["n_true_pairs"] for r in rows
                       if r["n_assign"] == n)
            caught = sum(r["n_caught"] for r in rows
                         if r["n_assign"] == n)
            print(f"| {k} | {n} | {true} | {caught} | "
                  f"{caught / true:.4f} |", flush=True)
    spark.stop()


# Per-round quiet-host re-measure list: the entries whose latest
# driver full-map number crossed ~2x their previous round's without a
# quiet number on record (the ambient-band discipline — r12 item 5,
# renewed r13 item 5 for these four), plus this round's new timed
# entries so the NEXT verdict has a quiet baseline for them.
DRIFTERS = (
    # r14 driver-map crossers vs r13 (driver 1.09/2.99/0.93 s =
    # 2.5-2.7x; the committed r14 round-close map shows all three
    # flat, so these medians are the ambient-band counter-evidence —
    # r14 verdict item 3)
    "ext-embedding-whiten", "stream-hll-distinct",
    "agg-topn-per-group",
    # r15 new timed entries — quiet baseline for the next round
    "ext-eval-ece-grouped", "ext-eval-brier-grouped",
    "stream-eval-ece", "stream-eval-brier",
    "ext-quality-percentile-frozen", "stream-quality-percentile",
    "ext-cms-topk-exact", "ext-eval-reliability", "ext-eval-mcc",
    "ext-eval-auc", "stream-eval-auc", "ext-eval-auc-grouped",
    # r15 changed composites (audit report + card v2 grew rows)
    "ext-audit-report", "ext-dataset-card",
)

# r16 round-close crossers vs the r15 driver map (0.37 -> 0.84 s and
# 0.45 -> 0.94 s — both sub-second absolute, ambient suspects) plus
# quiet baselines for the seven new r16 timed entries.
DRIFTERS_R16 = (
    "agg-moving-avg", "ext-corpus-drift",
    "ext-eval-pr-auc", "stream-eval-pr-auc", "ext-eval-pr-auc-grouped",
    "ext-eval-calibration-drift",
    "ext-eval-rankcorr", "stream-eval-rankcorr",
    "ext-eval-rankcorr-grouped",
)


def quiet_host_drifters() -> None:
    """Quiet-host median-of-5 re-measure of the DRIFTERS list (see
    above), bench.py timing discipline (noop write, GC hint,
    median), nothing else running.

    Usage: SPARK_GRAFT_CPUS=16 python scripts/scaling_study.py --drifters
    """
    import statistics

    import __spark_entry__ as entrymod

    spark = get_spark("quiet-drifters")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = (DRIFTERS_R16 if "--r16" in sys.argv else DRIFTERS)
    for name in names:
        spark.sparkContext._jvm.System.gc()
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        print(f"{name:26s} median={statistics.median(times):6.2f}s "
              f"runs={[round(t, 2) for t in times]}", flush=True)
    spark.stop()


def quiet_host_state_protocol() -> None:
    """r13 follow-up to the swap-rename state-commit change: quiet-host
    median-of-3 for every gate entry riding the new protocol (the
    two SUM-merged sketch streams + the two KMV min-merged streams)
    plus the four stats entries newly moved into bench HEADLINE — a
    quiet reference so the next BENCH snapshot's numbers have a
    baseline that separates protocol cost from ambient load.

    Usage: SPARK_GRAFT_CPUS=16 python scripts/scaling_study.py --state-protocol
    """
    import statistics

    import __spark_entry__ as entrymod

    spark = get_spark("quiet-state-protocol")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in ("stream-heavy-hitters", "stream-histogram-quantile",
                 "stream-source-overlap", "stream-distinct-intersect",
                 "ext-rater-kappa", "ext-fleiss-kappa", "ext-ks-drift",
                 "ext-readability"):
        spark.sparkContext._jvm.System.gc()
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        print(f"{name:26s} median={statistics.median(times):6.2f}s "
              f"runs={[round(t, 2) for t in times]}", flush=True)
    spark.stop()


def eval_stats_study() -> None:
    """Scaling shapes for the r13 evaluation statistics: kappa /
    bootstrap over amplified corpora (rows scaling), bootstrap over
    n_boot (replicate scaling — the explode is rows x reps), and the
    KS window's value-CARDINALITY bound (raw high-cardinality values
    vs quantized ones on the same rows — the docstring's
    quantize-first contract, measured).

    Usage: SPARK_GRAFT_CPUS=16 python scripts/scaling_study.py --eval-stats
    """
    from awskinesisconsumer_spark.operators.evaluation import (
        bootstrap_ci, cohen_kappa, fleiss_kappa, ks_statistic,
    )

    spark = get_spark("eval-stats-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    def rated(d):
        # two correlated-but-distinct deterministic "raters"
        return d.select(
            "doc_id",
            (F.length("text") % 5).alias("ra"),
            (F.size(F.split(F.col("text"), r"\s+")) % 5).alias("rb"),
            F.length("text").alias("metric"),
            (F.col("doc_id") % 2 == 0).alias("is_b"),
        )

    for r in (1, 10, 40):
        p = f"{WORK}/docs_x{r}.parquet"
        amplify_docs(spark, r, p)
        src = rated(spark.read.parquet(p))
        n = 5000 * r
        for name, mk in (
            ("cohen-kappa", lambda d: cohen_kappa(
                d, rater_a_col="ra", rater_b_col="rb")),
            ("fleiss-kappa", lambda d: fleiss_kappa(
                d.select(
                    "doc_id",
                    F.explode(F.array("ra", "rb", "ra")).alias("l"),
                ), item_col="doc_id", label_col="l")),
            ("bootstrap-ci-200", lambda d: bootstrap_ci(
                d, id_col="doc_id", value_col="metric", n_boot=200)),
            ("ks-raw-values", lambda d: ks_statistic(
                d.withColumn("g", F.col("is_b").cast("string")),
                value_col="metric", group_col="g",
                group_a="true", group_b="false")),
            ("ks-quantized", lambda d: ks_statistic(
                d.withColumn("g", F.col("is_b").cast("string"))
                .withColumn("metric",
                            (F.col("metric") / 100).cast("long")),
                value_col="metric", group_col="g",
                group_a="true", group_b="false")),
        ):
            cold, warm = timed(mk, src, spark)
            print(f"{name:18s} n={n:7d} cold={cold:7.2f}s "
                  f"warm={warm:7.2f}s", flush=True)
    # replicate scaling at the largest corpus
    src = rated(spark.read.parquet(f"{WORK}/docs_x40.parquet"))
    for nb in (50, 200, 800):
        cold, warm = timed(
            lambda d, nb=nb: bootstrap_ci(
                d, id_col="doc_id", value_col="metric", n_boot=nb),
            src, spark,
        )
        print(f"bootstrap-ci n=200000 n_boot={nb:4d} cold={cold:7.2f}s "
              f"warm={warm:7.2f}s", flush=True)
    spark.stop()


def eval_stats_r14_study() -> None:
    """Scaling shapes for the r14 evaluation & drift operators over
    the amplified corpora: grouped bootstrap (rows x reps explode +
    G x B window), classification report (C^2-bounded counts),
    Chao1 (vocab groupBy), KS matrix (values x groups grid + G^2
    pair join), PSI (binned fold), and the source-fair percentile
    (distinct-score window + join-back, the one with a
    corpus-proportional OUTPUT).

    Usage: SPARK_GRAFT_CPUS=16 python scripts/scaling_study.py --eval-stats-r14
    """
    from awskinesisconsumer_spark.operators.corpus_prep import (
        score_percentile_by_group,
    )
    from awskinesisconsumer_spark.operators.evaluation import (
        bootstrap_ci_grouped, chao1_vocab, classification_report,
        krippendorff_alpha, ks_matrix, psi_drift,
    )

    spark = get_spark("eval-stats-r14-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    def prepped(d):
        # deterministic 5-way group, two correlated raters, a metric
        return d.select(
            "doc_id", "text",
            (F.col("doc_id") % 5).cast("string").alias("g"),
            (F.length("text") % 5).alias("ra"),
            (F.size(F.split(F.col("text"), r"\s+")) % 5).alias("rb"),
            F.length("text").alias("metric"),
        )

    for r in (1, 10, 40):
        p = f"{WORK}/docs_x{r}.parquet"
        amplify_docs(spark, r, p)
        src = prepped(spark.read.parquet(p))
        n = 5000 * r
        for name, mk in (
            ("bootstrap-grouped-200", lambda d: bootstrap_ci_grouped(
                d, id_col="doc_id", value_col="metric",
                group_col="g", n_boot=200)),
            ("classification-report", lambda d: classification_report(
                d.select(F.col("ra").alias("label"),
                         F.col("rb").alias("pred")),
                label_col="label", pred_col="pred")),
            ("krippendorff-alpha", lambda d: krippendorff_alpha(
                d.select("doc_id",
                         F.explode(F.array("ra", "rb", "ra"))
                         .alias("l")),
                item_col="doc_id", label_col="l")),
            ("chao1-vocab", lambda d: chao1_vocab(d, text_col="text")),
            ("ks-matrix-5g", lambda d: ks_matrix(
                d, value_col="metric", group_col="g")),
            ("psi-drift", lambda d: psi_drift(
                d, value_col="metric", group_col="g",
                group_a="0", group_b="1", n_bins=10)),
            ("quality-percentile", lambda d: score_percentile_by_group(
                d.select("doc_id", "g", F.col("metric").alias("s")),
                score_col="s", group_col="g")),
        ):
            cold, warm = timed(mk, src, spark)
            print(f"{name:22s} n={n:7d} cold={cold:7.2f}s "
                  f"warm={warm:7.2f}s", flush=True)
    spark.stop()


def eval_stats_r16_study() -> None:
    """Scaling shapes for the r16 discrimination/drift operators over
    the amplified corpora: PR-AUC at raw high-cardinality scores vs
    quantized ones on the same rows (the auc_counts quantize-first
    contract, measured — the collect_list fold and the cumulative
    window are both bounded by DISTINCT-score cardinality, so the
    quantized form should flatten while raw grows), grouped PR-AUC
    (per-group fold), and calibration_drift over two snapshot halves
    (G x n_bins states — corpus-size-independent join).

    Usage: SPARK_GRAFT_CPUS=16 python scripts/scaling_study.py --eval-stats-r16
    """
    from awskinesisconsumer_spark.operators.evaluation import (
        calibration_drift, ece_binned_counts, pr_auc_score,
        pr_auc_score_grouped,
    )

    spark = get_spark("eval-stats-r16-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    def scored(d):
        # deterministic 0/1 label + a high-cardinality score and its
        # 3-dp quantization; 5-way group
        return d.select(
            "doc_id",
            (F.col("doc_id") % 5).cast("string").alias("g"),
            (F.length("text") % 2).alias("y"),
            (F.xxhash64("text") % 1000000 / 1000000.0).alias("s_raw"),
            (F.round(F.xxhash64("text") % 1000000 / 1000000.0, 3))
            .alias("s_q3"),
            (F.col("doc_id") % 2 == 0).alias("is_ref"),
            (F.length("text") % 5).alias("ra"),
            (F.size(F.split(F.col("text"), r"\s+")) % 5).alias("rb"),
            (F.abs(F.xxhash64("text")) % 100 / 100.0).alias("conf"),
        )

    for r in (1, 10, 40):
        p = f"{WORK}/docs_x{r}.parquet"
        amplify_docs(spark, r, p)
        src = scored(spark.read.parquet(p))
        n = 5000 * r

        def drift(d):
            kw = dict(label_col="ra", pred_col="rb", conf_col="conf",
                      group_col="g")
            return calibration_drift(
                ece_binned_counts(d.where(F.col("is_ref")), **kw),
                ece_binned_counts(d.where(~F.col("is_ref")), **kw),
            )

        for name, mk in (
            ("pr-auc-raw-scores", lambda d: pr_auc_score(
                d, label_col="y", score_col="s_raw")),
            ("pr-auc-quantized", lambda d: pr_auc_score(
                d, label_col="y", score_col="s_q3")),
            ("pr-auc-grouped-q3", lambda d: pr_auc_score_grouped(
                d, label_col="y", score_col="s_q3", group_col="g")),
            ("calibration-drift", drift),
        ):
            cold, warm = timed(mk, src, spark)
            print(f"{name:22s} n={n:7d} cold={cold:7.2f}s "
                  f"warm={warm:7.2f}s", flush=True)
    spark.stop()


def rankcorr_study() -> None:
    """Scaling shape for the r16 rank-correlation operator over the
    amplified corpora, splitting the two cost axes the docstring
    claims: corpus rows n (the one map-side-combined groupBy(a, b)
    scan — should grow ~linearly) vs quantization grid K_a x K_b
    (everything downstream of the cell state — dominance windows,
    marginal ranks, power sums — should be n-independent). Measured
    as (a) fixed ~100x20 grid across n = 5k/50k/200k rows, and (b)
    fixed n = 200k across ~100x20 / ~1000x200 / ~5000x1000 grids.
    NO raw-score point: the densified grid is K_a x K_b cells —
    QUADRATIC in unquantized per-axis cardinality (at 200k rows of
    5-dp scores that is up to ~4e10 grid cells; a first measurement
    attempt did not finish) — which is why quantize-first is a hard
    precondition in the operator's contract, not advice.

    Usage: SPARK_GRAFT_CPUS=16 python scripts/scaling_study.py --rankcorr
    """
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation, rank_correlation_grouped,
    )

    spark = get_spark("rankcorr-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    def scored(d, ka_scale, kb_scale):
        # two deterministic correlated pseudo-scores in [0, 1),
        # floor-quantized to the requested per-axis bucket counts
        sa = (F.xxhash64("text") % 1000000) / 1000000.0
        sb = ((F.xxhash64("text", F.lit(1)) % 1000000) / 3000000.0
              + sa * 2.0 / 3.0)
        return d.select(
            (F.col("doc_id") % 5).cast("string").alias("g"),
            F.floor(sa * ka_scale).alias("qa"),
            F.floor(sb * kb_scale).alias("qb"),
        )

    for r in (1, 10, 40):
        p = f"{WORK}/docs_x{r}.parquet"
        amplify_docs(spark, r, p)
        src = scored(spark.read.parquet(p), 100, 20)
        cold, warm = timed(
            lambda d: rank_correlation(d, a_col="qa", b_col="qb"),
            src, spark)
        print(f"rankcorr-grid-100x20   n={5000 * r:7d} "
              f"cold={cold:7.2f}s warm={warm:7.2f}s", flush=True)
    base = spark.read.parquet(f"{WORK}/docs_x40.parquet")
    for label, ka, kb in (
        ("grid-1000x200", 1000, 200),
        ("grid-5000x1000", 5000, 1000),
    ):
        src = scored(base, ka, kb)
        cold, warm = timed(
            lambda d: rank_correlation(d, a_col="qa", b_col="qb"),
            src, spark)
        print(f"rankcorr-{label:14s} n= 200000 "
              f"cold={cold:7.2f}s warm={warm:7.2f}s", flush=True)
    src = scored(base, 100, 20)
    cold, warm = timed(
        lambda d: rank_correlation_grouped(
            d, a_col="qa", b_col="qb", group_col="g"),
        src, spark)
    print(f"rankcorr-grouped-5g    n= 200000 "
          f"cold={cold:7.2f}s warm={warm:7.2f}s", flush=True)
    spark.stop()


def timed(make_df, src, spark) -> tuple[float, float]:
    times = []
    for _ in range(2):
        # Some operators persist() intermediates (and leave the output
        # cached for the caller). Spark's CacheManager matches the
        # identical logical plan of the repeat run and would serve it
        # from cache, so "warm" would measure nothing; clearing keeps
        # warm = steady-state recompute (JIT/codegen warm, data cold)
        # and stops leaked cache blocks from pressuring later ops.
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        make_df(src).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 2))
    spark.catalog.clearCache()
    return times[0], times[1]


# ---------------------------------------------------------------------------
# sf1 tier (r17, VERDICT item 7): a derived table set big enough that
# (a) scans split into many tasks, (b) fan_out_small's size gate does
# NOT fire, and (c) per-entry parallel efficiency is measurable by
# running the same entries at two core counts.
# ---------------------------------------------------------------------------

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1_derived")
SF1_DOC_REPL = 256   # 5,000 -> 1.28M docs, parquet ~hundreds of MB
SF1_EMB_REPL = 32    # 2,000 -> 64k vectors

# Top-of-the-bench entries whose cost is data-proportional (linear
# scan/hash/window shapes) and whose inputs are the amplified tables.
# The quadratic-by-construction entries (semantic dedup at fixed k=8
# centroids, contrastive anchors) are EXCLUDED with reasons — their
# 100 TB shape holds per-cell work flat by growing k with n (the r12
# study), which a fixed-centroid gate entry cannot demonstrate.
SF1_ENTRIES = [
    "ext-prepare-corpus", "ext-curate-corpus", "ext-bm25-rank",
    "ext-word-entropy", "ext-cdc-chunk-clamped", "ext-source-overlap",
    "ext-minhash-overlap", "ext-dedup-minhash", "ext-pagerank-dups",
    "ext-knn-join", "stream-source-overlap",
]


def build_sf1(spark) -> None:
    """Derive the sf1 set from sf0.1: copy every table, then replace
    documents/embeddings with deterministic amplifications. Document
    replicas get 30 replica-unique tail tokens, so they are NOT
    near-dups of each other (jaccard ~0.4 at ~45 base words) — the
    dedup entries stay in their linear LSH regime instead of the
    quadratic dense-bucket stress amplify_docs deliberately builds
    for the dedup study. n_chars is recomputed so the column stays
    consistent with the mutated text."""
    import shutil

    if os.path.exists(os.path.join(SF1_DIR, "_SF1_READY")):
        return
    os.makedirs(SF1_DIR, exist_ok=True)
    for t in ("region nation customer supplier part orders lineitem "
              "events").split():
        src = f"{SF_DIR}/{t}.parquet"
        dst = f"{SF1_DIR}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, dst)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tail = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda j: F.concat(F.lit("r"), F.col("_rep").cast("string"),
                           F.lit("t"), j.cast("string")),
    ))
    (docs.select(
        "doc_id", "text", "lang", "source",
        F.explode(F.sequence(F.lit(0), F.lit(SF1_DOC_REPL - 1)))
        .alias("_rep"))
     .select(
        (F.col("doc_id") * SF1_DOC_REPL + F.col("_rep")).alias("doc_id"),
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" "), tail)
        .alias("text"),
        "lang", "source")
     .withColumn("n_chars", F.length("text").cast("long"))
     .repartition(64)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/documents.parquet"))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    (emb.select(
        "vec_id", "embedding", "label",
        F.explode(F.sequence(F.lit(0), F.lit(SF1_EMB_REPL - 1)))
        .alias("_rep"))
     .select(
        (F.col("vec_id") * SF1_EMB_REPL + F.col("_rep")).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (x + (F.col("_rep") * 17 + i) % 13 / 1e4)
            .cast("float"),
        ).alias("embedding"),
        "label")
     .repartition(32)
     .write.mode("overwrite").parquet(f"{SF1_DIR}/embeddings.parquet"))
    open(os.path.join(SF1_DIR, "_SF1_READY"), "w").write("ok\n")


def sf1_tier() -> None:
    """Time SF1_ENTRIES against the derived sf1 set at the session's
    core count ($SPARK_GRAFT_CPUS; run once at 8 and once at 32 for
    the parallel-efficiency table). Two runs per entry, the second is
    the headline (the study's steady-state rule). Also verifies the
    two size gates behave at sf1: fan_out_small must be a NO-OP
    (plan-estimated documents >> cores x 4 MiB) and the semantic auto
    kernel must resolve to the streamed HOF form (input > 4 MiB)."""
    import __spark_entry__ as m
    from awskinesisconsumer_spark.operators.skew import fan_out_small

    spark = get_spark("sf1-tier")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    build_sf1(spark)
    docs = spark.read.parquet(f"{SF1_DIR}/documents.parquet")
    est = int(str(docs._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes()))
    noop = fan_out_small(docs) is docs
    print(f"cores={cores} sf1 documents est={est/2**20:.0f} MiB "
          f"fan_out_small no-op: {noop}", flush=True)
    from awskinesisconsumer_spark.operators.similarity import (
        _resolve_vectorized,
    )
    emb = spark.read.parquet(f"{SF1_DIR}/embeddings.parquet")
    print("semantic auto kernel at sf1 (no cell_cap):",
          _resolve_vectorized(emb, "vec_id", None), flush=True)
    qs = m.queries()
    qs["query-point-lookup"](spark, SF1_DIR).count()  # warm
    only = None
    for i, a in enumerate(sys.argv):
        if a == "--only" and i + 1 < len(sys.argv):
            only = sys.argv[i + 1]
    for name in SF1_ENTRIES:
        if only and not any(o in name for o in only.split(",")):
            continue
        spark.sparkContext.setJobDescription(f"sf1: {name}")
        reps = []
        for _ in range(2):
            # entries built on release_after persist their RESULT at
            # construction; an identical rebuild would ride the
            # CacheManager's canonicalized-plan match and time a
            # cache READ, not the operator — clear between reps
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                qs[name](spark, SF1_DIR).write.format("noop") \
                    .mode("overwrite").save()
            except Exception as e:  # record, keep the tier going
                print(f"{name}: ERROR {type(e).__name__}: "
                      f"{str(e)[:160]}", flush=True)
                reps = []
                break
            reps.append(time.perf_counter() - t0)
        if reps:
            print(f"{name}: cores={cores} cold={reps[0]:.2f}s "
                  f"warm={reps[1]:.2f}s", flush=True)
    spark.stop()


def main() -> None:
    if "--sf1" in sys.argv:
        sf1_tier()
        return
    if "--recall-curve" in sys.argv:
        recall_curve()
        return
    if "--drifters" in sys.argv:
        quiet_host_drifters()
        return
    if "--state-protocol" in sys.argv:
        quiet_host_state_protocol()
        return
    if "--eval-stats-r14" in sys.argv:
        eval_stats_r14_study()
        return
    if "--eval-stats-r16" in sys.argv:
        eval_stats_r16_study()
        return
    if "--rankcorr" in sys.argv:
        rankcorr_study()
        return
    if "--eval-stats" in sys.argv:
        eval_stats_study()
        return
    quick = "--quick" in sys.argv
    only = None
    for i, a in enumerate(sys.argv):
        if a == "--only" and i + 1 < len(sys.argv):
            only = sys.argv[i + 1]
    spark = get_spark("scaling-study")
    spark.sparkContext.setLogLevel("ERROR")

    doc_sizes = [1, 10] if quick else [1, 10, 40]   # x5000 docs
    emb_sizes = [1, 10] if quick else [1, 10, 40]   # x2000 vectors

    corpora = {}
    for r in doc_sizes:
        p = f"{WORK}/docs_x{r}.parquet"
        amplify_docs(spark, r, p)
        corpora[("docs", r)] = spark.read.parquet(p)
    for r in emb_sizes:
        p = f"{WORK}/embs_x{r}.parquet"
        amplify_embs(spark, r, p)
        corpora[("embs", r)] = spark.read.parquet(p)

    results: list[tuple[str, int, int, float, float]] = []
    for name, op in doc_ops().items():
        if only and not any(o in name for o in only.split(",")):
            continue
        for r in doc_sizes:
            # The inverted-index jaccard verify is quadratic in
            # near-dup group size; 200k docs in 40-replica groups is
            # a pathological stress we document but skip by default.
            if name == "dedup-ngram-jaccard" and r > 10:
                continue
            n = 5000 * r
            cold, warm = timed(op, corpora[("docs", r)], spark)
            results.append((name, n, r, cold, warm))
            print(f"{name:22s} n={n:7d} cold={cold:7.2f}s warm={warm:7.2f}s",
                  flush=True)
    for name, op in emb_ops().items():
        if only and not any(o in name for o in only.split(",")):
            continue
        for r in emb_sizes:
            n = 2000 * r
            cold, warm = timed(op, corpora[("embs", r)], spark)
            results.append((name, n, r, cold, warm))
            print(f"{name:22s} n={n:7d} cold={cold:7.2f}s warm={warm:7.2f}s",
                  flush=True)

    print("\n| operator | n | cold | warm |")
    print("|---|---|---|---|")
    for name, n, _r, cold, warm in results:
        print(f"| {name} | {n:,} | {cold:.2f} s | {warm:.2f} s |")
    spark.stop()


if __name__ == "__main__":
    main()
