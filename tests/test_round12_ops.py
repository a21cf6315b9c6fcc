"""Round-12 operator tests: `contrastive_triplets_by_cell` (the r11
verdict's cell-local mining, no driver anchor collection; the IVF
assignment kernel's tests live in tests/test_similarity.py) — the
frozen-SemDeDup streaming split
(`semantic_dedup_apply` / `semantic_dedup_stream`), and the four r11
ADVICE regression pins (budget_select NaN priorities, token-quota /
pack-sequences negative-token algebra, the standalone simhash
capped-bucket audit, the contrastive anchor guard).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from awskinesisconsumer_spark.io import load_table
from awskinesisconsumer_spark.operators.similarity import (
    contrastive_triplets,
    contrastive_triplets_by_cell,
    ivf_centroids_from_sample,
    semantic_dedup,
    semantic_dedup_apply,
    semantic_dedup_keep,
)

SF = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _cmp(sdf, con, sql, float_cols=()):
    cols = sorted(sdf.columns)

    def canon(v, f):
        if v is None:
            return "NULL"
        if f or isinstance(v, float):
            fv = float(v)
            return "NaN" if math.isnan(fv) else f"{fv:.6f}"
        return str(v)

    srows = sorted(
        tuple(canon(r[c], c in float_cols) for c in cols)
        for r in sdf.collect()
    )
    tbl = con.execute(sql).fetch_arrow_table()
    dcols = sorted(tbl.column_names)
    assert dcols == cols, (dcols, cols)
    drows = sorted(
        tuple(canon(r[c], c in float_cols) for c in dcols)
        for r in tbl.to_pylist()
    )
    assert srows == drows, (
        f"{len(srows)} vs {len(drows)} rows; first spark-only: "
        f"{[r for r in srows if r not in set(drows)][:2]}; first "
        f"duck-only: {[r for r in drows if r not in set(srows)][:2]}"
    )
    return len(srows)


# ---- contrastive_triplets_by_cell -----------------------------------

def _by_cell_sql(threshold: float, k_neg: int) -> str:
    import __spark_entry__ as m

    cos = m._sql_cosine
    l2 = m._sql_l2
    return f"""
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
                   ORDER BY {l2('embedding', 'cv')}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        cells AS (SELECT vec_id, embedding, CAST(i AS INT) AS cell
                  FROM assign WHERE rn = 1),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {cos('a.embedding', 'b.embedding')} >= {threshold}),
        sym AS (
          SELECT id_a AS anchor_id, id_b AS positive_id FROM p
          UNION ALL
          SELECT id_b, id_a FROM p),
        anch AS (SELECT DISTINCT anchor_id FROM sym),
        scored AS (
          SELECT a.anchor_id, c.vec_id AS neighbor_id,
                 {cos('av.embedding', 'c.embedding')} AS neg_cosine
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
        WHERE rk.neg_rank <= {k_neg}
    """


def test_contrastive_by_cell_oracle_parity(spark):
    emb = load_table(spark, "embeddings", SF_ORACLE)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    out = contrastive_triplets_by_cell(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        pos_threshold=0.3, k_neg=2,
    )
    n = _cmp(out, _duck(SF_ORACLE), _by_cell_sql(0.3, 2),
             float_cols=("neg_cosine",))
    assert n > 0


def test_contrastive_by_cell_invariants_and_delegation(spark):
    emb = load_table(spark, "embeddings", SF_ORACLE)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    out = contrastive_triplets_by_cell(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        pos_threshold=0.3, k_neg=2,
    )
    rows = out.collect()
    assert rows
    pos_by_anchor: dict = {}
    for r in rows:
        pos_by_anchor.setdefault(r["anchor_id"], set()).add(
            r["positive_id"]
        )
    for r in rows:
        assert r["negative_id"] != r["anchor_id"]
        assert r["negative_id"] not in pos_by_anchor[r["anchor_id"]]
        assert 1 <= r["neg_rank"] <= 2
    via_flag = contrastive_triplets(
        emb, id_col="vec_id", vec_col="embedding",
        pos_threshold=0.3, k_neg=2, by_cell=True, centroids=cents,
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, via_flag.collect())
    )
    with pytest.raises(ValueError, match="requires centroids"):
        contrastive_triplets(emb, id_col="vec_id", vec_col="embedding",
                             by_cell=True)
    with pytest.raises(ValueError, match="k_neg must be >= 1"):
        contrastive_triplets_by_cell(
            emb, id_col="vec_id", vec_col="embedding",
            centroids=cents, k_neg=0,
        )


def test_contrastive_anchor_guard_raises_loudly(spark):
    # r11 ADVICE: the driver-side anchor collection must fail loudly,
    # not OOM — a tiny max_anchors trips it on the real fixture.
    emb = load_table(spark, "embeddings", SF)
    with pytest.raises(ValueError, match="exceeds max_anchors"):
        contrastive_triplets(
            emb, id_col="vec_id", vec_col="embedding",
            pos_threshold=0.1, k_neg=1, max_anchors=1,
        )


# ---- frozen-SemDeDup apply + stream ----------------------------------

def _apply_sql(threshold: float) -> str:
    import __spark_entry__ as m

    cos = m._sql_cosine
    l2 = m._sql_l2
    return f"""
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
                   ORDER BY {l2('embedding', 'cv')}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        cells AS (SELECT vec_id, embedding, CAST(i AS INT) AS cell
                  FROM assign WHERE rn = 1),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {cos('a.embedding', 'b.embedding')} >= {threshold}),
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
                 {cos('c.embedding', 'r.rep_vec')} AS sim
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
               COALESCE(max_rep_cosine >= {threshold}, FALSE) AS is_dup
        FROM cells c LEFT JOIN best ON best.vec_id = c.vec_id
    """


def test_semantic_dedup_apply_oracle_parity_and_invariants(spark):
    emb = load_table(spark, "embeddings", SF_ORACLE)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    sem = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=cents, threshold=0.3,
    )
    reps = semantic_dedup_keep(sem, emb, id_col="vec_id",
                               vec_col="embedding")
    out = semantic_dedup_apply(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=cents, reps=reps, threshold=0.3,
    )
    n = _cmp(out, _duck(SF_ORACLE), _apply_sql(0.3),
             float_cols=("max_rep_cosine",))
    assert n == emb.count()
    # kept reps of one cell are pairwise below threshold (else they'd
    # share a cluster), so replaying the corpus flags NO kept doc
    kept_ids = {r["rep_id"] for r in reps.collect()}
    flagged = {r["vec_id"] for r in out.collect() if r["is_dup"]}
    assert not (kept_ids & flagged)
    # and every non-singleton cluster member with a direct edge to its
    # head IS flagged — the fixture has real dups at 0.3, so some are
    assert flagged


def test_semantic_dedup_apply_shuffle_join_form_equal(spark):
    # broadcast_reps=False (the corpus-sized-reps 100 TB shape: a
    # cell-keyed shuffle join instead of a forced broadcast) must
    # return the identical result.
    emb = load_table(spark, "embeddings", SF)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    sem = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=cents, threshold=0.3,
    )
    reps = semantic_dedup_keep(sem, emb, id_col="vec_id",
                               vec_col="embedding")
    kw = dict(id_col="vec_id", vec_col="embedding", centroids=cents,
              reps=reps, threshold=0.3)
    bc = semantic_dedup_apply(emb, **kw)
    sj = semantic_dedup_apply(emb, **kw, broadcast_reps=False)
    assert sorted(map(tuple, bc.collect())) == sorted(
        map(tuple, sj.collect())
    )


def test_semantic_dedup_stream_equals_batch_apply(spark):
    import os
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        semantic_dedup_stream,
    )

    emb = load_table(spark, "embeddings", SF)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    src = tempfile.mkdtemp(prefix="semdedup_src_")
    emb.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    out_path = tempfile.mkdtemp(prefix="semdedup_out_")
    q = semantic_dedup_stream(
        stream, emb, id_col="vec_id", vec_col="embedding",
        centroids=cents, threshold=0.3, out_path=out_path,
        checkpoint=tempfile.mkdtemp(prefix="semdedup_ckpt_"),
    )
    assert q.awaitTermination(300)
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    assert n_batches >= 3
    sem = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=cents, threshold=0.3,
    )
    reps = semantic_dedup_keep(sem, emb, id_col="vec_id",
                               vec_col="embedding")
    batch = semantic_dedup_apply(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=cents, reps=reps, threshold=0.3,
    )
    cols = ["vec_id", "cell", "max_rep_cosine", "matched_rep_id",
            "is_dup"]
    got = sorted(map(tuple,
                     spark.read.parquet(out_path).select(cols).collect()))
    want = sorted(map(tuple, batch.select(cols).collect()))
    assert got == want
    assert len(got) == emb.count()


# ---- r11 ADVICE regression pins --------------------------------------

def test_budget_select_nan_priority_behaves_as_null(spark):
    from awskinesisconsumer_spark.operators.corpus_prep import (
        budget_select,
    )

    nan = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, float("nan")), (3, 10, 9.0),
         (4, 10, None)],
        "id long, toks long, p double",
    )
    null = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, None), (3, 10, 9.0), (4, 10, None)],
        "id long, toks long, p double",
    )
    kw = dict(id_col="id", token_col="toks", priority_col="p",
              budget=25, lo=0.0, hi=10.0, n_bins=4)
    got = sorted(map(tuple, budget_select(nan, **kw).collect()))
    want = sorted(map(tuple, budget_select(null, **kw).collect()))
    assert got == want
    # NaN must NOT outrank the scored docs: ids 3 (p=9) and 1 (p=5)
    # fill the 25-token budget; the NaN doc is cut with the NULLs
    kept = {r[0] for r in got if r[3]}
    assert kept == {1, 3}


def test_token_quota_and_pack_negative_tokens_match_batch(spark):
    # r11 ADVICE: negative token counts must flow through UNCLAMPED so
    # the streaming cumsum equals the batch twin's algebra exactly.
    import os
    import tempfile

    from awskinesisconsumer_spark.streaming.pipeline import (
        token_quota_stream,
    )

    rows = [(0, 1, 5), (0, 2, -3), (0, 3, 4), (1, 4, -2), (1, 5, 10)]
    docs = spark.createDataFrame(
        rows, "shard long, doc_id long, n_tokens bigint"
    )
    src = tempfile.mkdtemp(prefix="negquota_src_")
    for i, chunk in enumerate([rows[:2], rows[2:4], rows[4:]]):
        part = os.path.join(src, f"part{i}")
        spark.createDataFrame(
            chunk, "shard long, doc_id long, n_tokens bigint"
        ).coalesce(1).write.mode("overwrite").parquet(part)
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
        token_col="n_tokens", quota=6,
    )
    import tempfile as _tf

    name = "neg_quota_stream"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", _tf.mkdtemp(prefix="negq_ckpt_"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    got = {
        r["doc_id"]: (r["cum_tokens"], r["kept"])
        for r in spark.table(name).collect()
    }
    # batch algebra: per-shard id-ordered cumsum WITH negatives
    assert got == {
        1: (5, True), 2: (2, True), 3: (6, True),
        4: (-2, True), 5: (8, False),
    }


def test_semantic_near_dup_pairs_is_semantic_dedup_pair_table(spark):
    # The public pair surface must be exactly the pair table
    # semantic_dedup resolves: every pair joins two same-cluster,
    # same-cell members, and dropping pairs from clusters leaves
    # only singletons.
    emb = load_table(spark, "embeddings", SF_ORACLE)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_near_dup_pairs,
    )

    pairs = semantic_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        threshold=0.3,
    ).collect()
    sem = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        threshold=0.3,
    ).collect()
    cluster = {r["vec_id"]: r["cluster_id"] for r in sem}
    cell = {r["vec_id"]: r["cell"] for r in sem}
    assert pairs
    for r in pairs:
        assert cluster[r["id_a"]] == cluster[r["id_b"]]
        assert cell[r["id_a"]] == cell[r["id_b"]]
    paired = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    from collections import Counter

    sizes = Counter(cluster.values())
    for vid, cid in cluster.items():
        if sizes[cid] > 1:
            assert vid in paired


def test_semantic_keep_best_oracle_parity(spark):
    import __spark_entry__ as m

    out = m.queries()["ext-dedup-semantic-keep-best"](spark, SF_ORACLE)
    n = _cmp(out, _duck(SF_ORACLE),
             m.oracle_sql()["ext-dedup-semantic-keep-best"],
             float_cols=("score",))
    assert n == 500
    rows = out.collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [r for r in members if r["kept"]]
        assert len(kept) == 1
        best = min(members, key=lambda r: (-r["score"], r["vec_id"]))
        assert kept[0]["vec_id"] == best["vec_id"]


def test_bench_coverage_rule():
    # r11 verdict item 4 (the no-silent-caps rule): every registered
    # query is either timed in bench.py's HEADLINE or explicitly
    # declared UNTIMED with a rationale — nothing falls through.
    import bench

    import __spark_entry__ as m

    keys = set(m.queries())
    timed, untimed = set(bench.HEADLINE), set(bench.UNTIMED)
    assert len(bench.HEADLINE) == len(timed), "duplicate HEADLINE entry"
    assert len(bench.UNTIMED) == len(untimed), "duplicate UNTIMED entry"
    assert not (timed & untimed), sorted(timed & untimed)
    assert timed | untimed == keys, (
        f"uncovered: {sorted(keys - timed - untimed)}; "
        f"unregistered: {sorted((timed | untimed) - keys)}"
    )


def test_simhash_capped_buckets_visible_when_pairs_empty(spark):
    from awskinesisconsumer_spark.operators.dedup import (
        simhash_capped_buckets,
        simhash_near_dup_pairs,
    )

    # fully boilerplate corpus: every doc identical -> every band
    # bucket hot at cap 5 -> ZERO pairs, which with_capped_audit
    # renders invisible; the standalone audit still reports it
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text again and again") for i in
         range(20)],
        "doc_id long, text string",
    )
    pairs = simhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", bits=16,
        max_hamming=3, bands=4, hot_cap=5, with_capped_audit=True,
    )
    assert pairs.count() == 0  # the r11 ADVICE blind spot
    audit = simhash_capped_buckets(
        docs, id_col="doc_id", text_col="text", bits=16, bands=4,
        hot_cap=5,
    ).head()
    assert audit["n_capped_buckets"] == 4  # all 4 bands, one bucket each
    assert audit["n_capped_rows"] == 80
    # uncapped form reports zeros
    off = simhash_capped_buckets(
        docs, id_col="doc_id", text_col="text", bits=16, bands=4,
        hot_cap=None,
    ).head()
    assert off["n_capped_buckets"] == 0 and off["n_capped_rows"] == 0


# --- r12 third wave: KMV sketches + retrieval metrics ------------------


def _kmv_shingle_rows(spark):
    docs = load_table(spark, "documents", SF_ORACLE).filter(
        F.col("lang").isin(["en", "fr"]) & (F.length("text") >= 8)
    )
    pos = docs.select(
        "lang", "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("i"),
    )
    return pos.select("lang", F.expr("substring(text, i, 8)").alias("sh"))


def test_kmv_estimates_within_tolerance_of_exact(spark):
    # The gate replays the sketch; THIS is the audit that the sketch
    # estimates the truth. k=256 gives ~1/sqrt(254) ~ 6.3% relative
    # std on distinct counts (Beyer et al. 2007); assert 3 sigma.
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_distinct_estimate, kmv_set_ops, kmv_sketch,
    )

    sh = _kmv_shingle_rows(spark)
    exact = {
        r["lang"]: r["d"]
        for r in sh.groupBy("lang")
        .agg(F.countDistinct("sh").alias("d"))
        .collect()
    }
    inter = (
        sh.filter(F.col("lang") == "en").select("sh").distinct()
        .join(
            sh.filter(F.col("lang") == "fr").select("sh").distinct(), "sh"
        )
        .count()
    )
    union = exact["en"] + exact["fr"] - inter

    sk = kmv_sketch(sh, key_col="sh", group_col="lang", k=256)
    est = {
        r["group"]: r["kmv_estimate"]
        for r in kmv_distinct_estimate(sk, k=256).collect()
    }
    for g in ("en", "fr"):
        assert abs(est[g] - exact[g]) / exact[g] < 0.19, (g, est, exact)
    ops = kmv_set_ops(sk, group_a="en", group_b="fr", k=256).first()
    assert abs(ops["union_est"] - union) / union < 0.19
    # Jaccard std is higher (binomial over k); 3 sigma ~ 0.095 at
    # J~0.54, plus union error: allow 25% relative.
    assert abs(ops["intersect_est"] - inter) / inter < 0.25


def test_kmv_merge_identity_bit_exact(spark):
    # bottom-k of a union == bottom-k of per-shard bottom-k's — the
    # EXACT mergeability identity the ext-kmv-merge gate rests on,
    # checked here shard-by-shard against the global build.
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_merge, kmv_sketch,
    )

    sh = _kmv_shingle_rows(spark)
    glob = kmv_sketch(sh, key_col="sh", group_col="lang", k=64)
    sharded = sh.withColumn("_shard", F.crc32("sh") % 3)
    per = kmv_sketch(
        sharded.withColumn(
            "_gs", F.concat_ws("\x1f", "lang", F.col("_shard").cast("string"))
        ),
        key_col="sh", group_col="_gs", k=64,
    ).select(
        F.substring_index("group", "\x1f", 1).alias("group"), "kmv_hash"
    )
    merged = kmv_merge(per, k=64)
    assert merged.exceptAll(glob).count() == 0
    assert glob.exceptAll(merged).count() == 0


def test_kmv_exact_passthrough_below_k(spark):
    # A group with fewer than k distinct keys is EXACT: estimate ==
    # count, jaccard/intersection replay true set algebra.
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_distinct_estimate, kmv_set_ops, kmv_sketch,
    )

    rows = [("a", f"k{i}") for i in range(30)] + [
        ("b", f"k{i}") for i in range(20, 50)
    ]
    df = spark.createDataFrame(rows * 2, "g string, k string")  # dups
    sk = kmv_sketch(df, key_col="k", group_col="g", k=256)
    est = {
        r["group"]: (r["n_sketch"], r["kmv_estimate"])
        for r in kmv_distinct_estimate(sk, k=256).collect()
    }
    assert est == {"a": (30, 30.0), "b": (30, 30.0)}
    ops = kmv_set_ops(sk, group_a="a", group_b="b", k=256).first()
    assert ops["n_merged"] == 50
    assert ops["union_est"] == 50.0
    assert ops["jaccard"] == 0.2
    assert ops["intersect_est"] == 10.0


def test_retrieval_metrics_hand_computed(spark):
    # Tiny hand-checkable fixture: truth = {1,2,3}, approx ranks
    # (4, 2, 5) -> only rank-2 item relevant.
    from awskinesisconsumer_spark.operators.similarity import (
        ndcg_weights, retrieval_metrics,
    )

    truth = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (0, 3, 3)],
        "probe_id long, neighbor_id long, knn_rank long",
    )
    approx = spark.createDataFrame(
        [(0, 40, 1), (0, 2, 2), (0, 50, 3)],
        "probe_id long, neighbor_id long, ann_rank long",
    )
    r = retrieval_metrics(truth, approx, k=3).first()
    gains, prefix = ndcg_weights(3)
    assert r["n_truth"] == 3 and r["n_hits"] == 1
    assert r["recall_at_k"] == round(1 / 3, 4)
    assert r["mrr"] == 0.5
    assert r["ndcg"] == round(gains[1] / prefix[2], 6)
    # Perfect ranking -> ndcg == mrr == recall == 1.
    perfect = retrieval_metrics(
        truth,
        truth.withColumnRenamed("knn_rank", "ann_rank"),
        k=3,
    ).first()
    assert (
        perfect["ndcg"], perfect["mrr"], perfect["recall_at_k"]
    ) == (1.0, 1.0, 1.0)
    # No relevant item at all -> zeros, not NULLs.
    miss = retrieval_metrics(
        truth,
        approx.withColumn("neighbor_id", F.col("neighbor_id") + 100),
        k=3,
    ).first()
    assert (miss["ndcg"], miss["mrr"], miss["recall_at_k"]) == (
        0.0, 0.0, 0.0,
    )


def test_retrieval_metrics_truth_smaller_than_k(spark):
    # n_truth < k: IDCG uses the n_truth prefix, recall base is
    # n_truth — a 2-item truth perfectly retrieved scores 1.0 even
    # though k=5.
    from awskinesisconsumer_spark.operators.similarity import (
        retrieval_metrics,
    )

    truth = spark.createDataFrame(
        [(7, 1, 1), (7, 2, 2)],
        "probe_id long, neighbor_id long, knn_rank long",
    )
    approx = spark.createDataFrame(
        [(7, 1, 1), (7, 2, 2), (7, 9, 3)],
        "probe_id long, neighbor_id long, ann_rank long",
    )
    r = retrieval_metrics(truth, approx, k=5).first()
    assert (r["n_truth"], r["ndcg"], r["recall_at_k"]) == (2, 1.0, 1.0)


def test_kmv_stream_equals_batch_sketch(spark, tmp_path):
    # 3-batch streamed sketch == batch sketch, bit-for-bit — the
    # bottom-k-of-union identity run through kmv_sketch_stream's
    # foreachBatch merge (stream-distinct-intersect's whole claim).
    from awskinesisconsumer_spark.operators.sketches import kmv_sketch
    from awskinesisconsumer_spark.streaming.pipeline import (
        kmv_sketch_stream,
    )

    docs = (
        load_table(spark, "documents", SF)
        .filter(F.col("lang").isin(["en", "fr"]) & (F.length("text") >= 8))
        .select("lang", "text")
    )
    src, out, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    pos = stream.select(
        "lang", "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("i"),
    )
    sh = pos.select("lang", F.expr("substring(text, i, 8)").alias("sh"))
    q = kmv_sketch_stream(
        sh, key_col="sh", group_col="lang", k=64,
        out_path=out, checkpoint=ckpt,
    )
    assert q.awaitTermination(300)
    assert (
        len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
    )
    streamed = spark.read.parquet(out).select("group", "kmv_hash", "rank")

    bpos = docs.select(
        "lang", "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("i"),
    )
    bsh = bpos.select("lang", F.expr("substring(text, i, 8)").alias("sh"))
    batch = kmv_sketch(bsh, key_col="sh", group_col="lang", k=64)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_kmv_overlap_matrix_rows_equal_pairwise_set_ops(spark):
    # The all-pairs matrix must reproduce kmv_set_ops exactly for
    # every pair — same sketch in, same estimator arithmetic out.
    from awskinesisconsumer_spark.operators.sketches import (
        kmv_overlap_matrix, kmv_set_ops, kmv_sketch,
    )

    docs = load_table(spark, "documents", SF).filter(
        F.length("text") >= 8
    )
    pos = docs.select(
        "lang", "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - 7)).alias("i"),
    )
    sh = pos.select("lang", F.expr("substring(text, i, 8)").alias("sh"))
    sk = kmv_sketch(sh, key_col="sh", group_col="lang", k=64).cache()
    mat = {
        (r["group_a"], r["group_b"]): tuple(r)[2:]
        for r in kmv_overlap_matrix(sk, k=64).collect()
    }
    langs = sorted(mat and {g for p in mat for g in p} or [])
    assert len(mat) == len(langs) * (len(langs) - 1) // 2
    for (a, b), row in sorted(mat.items()):
        ref = kmv_set_ops(sk, group_a=a, group_b=b, k=64).first()
        assert row == tuple(ref)[2:], (a, b, row, tuple(ref))
    sk.unpersist()


def test_kmv_merge_estimate_within_tolerance(spark):
    # ext-kmv-merge's fixture audit: every event type sees all 150
    # users (identical key sets -> identical sketches), and the k=64
    # estimator lands within 2 sigma (~25%) of the exact count. The
    # gate itself replays the sketch; THIS pins that the sketch
    # estimates the truth on the events fixture too.
    import __spark_entry__ as entry

    rows = entry.queries()["ext-kmv-merge"](spark, SF_ORACLE).collect()
    exact = {
        r["event_type"]: r["d"]
        for r in load_table(spark, "events", SF_ORACLE)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        e = exact[r["event_type"]]
        assert e > 64, "fixture must exercise the estimator path"
        assert abs(r["kmv_estimate"] - e) / e < 0.25, tuple(r)


def test_semantic_dedup_stream_vectorized_freeze_identical(spark, tmp_path):
    # The stream's FROZEN reps are the kept rows of the pure-Python
    # reference labelling (per-pair left fold, HALF_UP 6-dp), so the
    # flagged output equals a batch apply against those reps.
    from awskinesisconsumer_spark.streaming.pipeline import (
        semantic_dedup_stream,
    )
    from tests.semdedup_reference import ref_labels
    from tests.test_round12_properties import _assign_reference

    emb = load_table(spark, "embeddings", SF)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ck"))
    emb.repartition(2).write.parquet(src)
    q = semantic_dedup_stream(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        emb, id_col="vec_id", vec_col="embedding",
        centroids=cents, threshold=0.3,
        out_path=out, checkpoint=ckpt,
    )
    assert q.awaitTermination(300)
    rows = emb.select("vec_id", "embedding").collect()
    vecs = [list(r["embedding"]) for r in rows]
    ref = list(zip([r["vec_id"] for r in rows],
                   _assign_reference(vecs, cents), vecs))
    sem = spark.createDataFrame(
        ref_labels(ref, 0.3),
        "vec_id bigint, cell int, cluster_id bigint, kept boolean",
    )
    assert 0 < sem.where("kept").count() < len(rows)
    want = semantic_dedup_apply(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        reps=semantic_dedup_keep(sem, emb, id_col="vec_id",
                                 vec_col="embedding"),
        threshold=0.3,
    )
    got = spark.read.parquet(out)
    assert got.count() == len(rows)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_rank_biased_overlap_hand_computed(spark):
    from awskinesisconsumer_spark.operators.similarity import (
        rank_biased_overlap, rbo_tail_weights,
    )

    t = rbo_tail_weights(3, 0.9)
    ranking = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "probe_id long, neighbor_id long, knn_rank long",
    )
    # identical rankings: every item matches at max-rank d -> sum of
    # all tails == 1 - p^k (truncated RBO of perfect agreement)
    same = rank_biased_overlap(
        ranking, ranking.withColumnRenamed("knn_rank", "ann_rank"), k=3
    ).first()
    assert same["n_matched"] == 3
    assert same["rbo"] == round(t[0] + t[1] + t[2], 6)
    assert same["rbo"] == round(1.0 - 0.9 ** 3, 6)
    # disjoint rankings -> 0.0, row still present
    disjoint = rank_biased_overlap(
        ranking,
        ranking.withColumnRenamed("knn_rank", "ann_rank")
        .withColumn("neighbor_id", F.col("neighbor_id") + 100),
        k=3,
    ).first()
    assert (disjoint["n_matched"], disjoint["rbo"]) == (0, 0.0)
    # one shared item at ranks (1, 3): contributes TAIL[3] only
    partial = rank_biased_overlap(
        ranking,
        spark.createDataFrame(
            [(0, 99, 1), (0, 98, 2), (0, 10, 3)],
            "probe_id long, neighbor_id long, ann_rank long",
        ),
        k=3,
    ).first()
    assert partial["n_matched"] == 1
    assert partial["rbo"] == round(t[2], 6)


def test_audit_report_composition(spark):
    # 69 rows: 2 counts + 5 per-lang KMV estimates + 10 overlap pairs
    # + 8 recall probes + 8 rbo probes + 6 SemDeDup-recall health rows
    # (r13: 2 n_assign values x 3 true-cosine buckets on this fixture)
    # + 15 per-lang token-mean CI rows (r14: estimate/lo/hi x 5
    # langs) + 10 per-lang calibration rows (r15: ece/brier x 5
    # langs) + 5 per-lang calibration-drift rows (r16: ece_drift x 5
    # langs, even-vs-odd doc_id snapshots); every value non-null and
    # the count rows are exact integers.
    import __spark_entry__ as entry

    rows = entry.queries()["ext-audit-report"](spark, SF_ORACLE).collect()
    metrics = {r["metric"]: r["value"] for r in rows}
    assert len(rows) == 69 and len(metrics) == 69
    assert metrics["n_docs"] == 500.0
    assert metrics["n_exact_dup_docs"] >= 0.0
    fams = {
        "kmv_distinct_shingles:": 5,
        "overlap_jaccard:": 10,
        "ann_recall@10:probe_": 8,
        "rbo@10:probe_": 8,
        "semdedup_recall:n": 6,
        "token_mean:": 5,
        "token_mean_ci_lo:": 5,
        "token_mean_ci_hi:": 5,
        "ece:": 5,
        "brier:": 5,
        "ece_drift:": 5,
    }
    for prefix, n in fams.items():
        got = [m for m in metrics if m.startswith(prefix)]
        assert len(got) == n, (prefix, got)
    assert all(v is not None for v in metrics.values())
    # the CI rows bracket their estimate per lang
    for lang in [m.split(":")[1] for m in metrics if
                 m.startswith("token_mean:")]:
        assert (metrics[f"token_mean_ci_lo:{lang}"]
                <= metrics[f"token_mean:{lang}"]
                <= metrics[f"token_mean_ci_hi:{lang}"]), lang
