"""Round-11 operator tests: the two r9-advised dedup scale/observability
items that r10's docstring falsely claimed (verdict r10 items 2-3) —
the keep-best per-doc pair cap (`cap_pairs_per_doc`, wired into
`dedup_keep_best(pair_cap=...)`) and the simhash capped-bucket audit
column (`with_capped_audit`) — plus the r10 ADVICE regression pins
(CDC warning dedup is filter-governed, `truncated_dim_recall`
validate_dims override).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from awskinesisconsumer_spark.io import load_table
from awskinesisconsumer_spark.operators.dedup import (
    cap_pairs_per_doc,
    dedup_keep_best,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)

SF = "/root/testdata/sf0.001"


def _scored_docs_and_pairs(spark):
    docs = load_table(spark, "documents", SF)
    scored = docs.select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("score"),
    )
    pairs = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.3
    )
    return scored, pairs


def test_cap_pairs_per_doc_bound_and_connectivity(spark):
    # A 20-doc near-clique (every pair a candidate) plus one isolated
    # pair: raw edges = C(20,2) + 1 = 191; with cap=2 the survivor
    # table must respect the 2*cap*docs bound and both components
    # must stay internally connected (the union-of-endpoints rule
    # keeps the min-id hub edges).
    n = 20
    rows = [(a, b, 1.0) for a in range(n) for b in range(a + 1, n)]
    rows.append((100, 101, 1.0))
    pairs = spark.createDataFrame(rows, "id_a long, id_b long, j double")
    assert pairs.count() == (n * (n - 1)) // 2 + 1

    capped = cap_pairs_per_doc(pairs, cap=2, order_col="j")
    n_capped = capped.count()
    n_docs = n + 2
    assert n_capped <= 2 * 2 * n_docs
    assert n_capped < (n * (n - 1)) // 2 + 1  # actually pruned

    # all-equal order values tie-break on ascending other-id, so every
    # doc keeps (min_id, self) — the hub star keeps the clique one
    # component; the isolated pair survives verbatim.
    from awskinesisconsumer_spark.operators.dedup import (
        connected_components,
    )
    cc = {
        r["id"]: r["cluster_id"]
        for r in connected_components(capped).collect()
    }
    assert len({cc[i] for i in range(n)}) == 1
    assert cc[100] == cc[101] == 100
    assert cc[0] != cc[100]


def test_cap_pairs_per_doc_validates(spark):
    pairs = spark.createDataFrame(
        [(1, 2)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="cap must be >= 1"):
        cap_pairs_per_doc(pairs, cap=0)


def test_keep_best_pair_cap_generous_equals_uncapped(spark):
    # With cap >= the max candidate degree the capped graph IS the raw
    # graph, so winners, clusters, and kept flags are identical — the
    # verdict's "identical winners on the fixture" leg.
    scored, pairs = _scored_docs_and_pairs(spark)
    base = dedup_keep_best(
        scored, pairs, id_col="doc_id", score_col="score"
    )
    capped = dedup_keep_best(
        scored, pairs, id_col="doc_id", score_col="score",
        pair_cap=10_000, pair_order_col="jaccard",
    )
    cols = ["doc_id", "cluster_id", "score", "kept"]
    assert sorted(map(tuple, base.select(cols).collect())) == sorted(
        map(tuple, capped.select(cols).collect())
    )


def test_keep_best_pair_cap_tight_keeps_one_winner_per_cluster(spark):
    # Tight cap on the real fixture: still a partition into clusters
    # with EXACTLY one kept doc per cluster, and every kept doc is its
    # cluster's (score desc, id asc) argmax — the invariant the cap
    # must not break even where it splits an over-merged cluster.
    scored, pairs = _scored_docs_and_pairs(spark)
    out = dedup_keep_best(
        scored, pairs, id_col="doc_id", score_col="score",
        pair_cap=2, pair_order_col="jaccard",
    ).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == len(out)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m["kept"]]
        assert len(kept) == 1, f"cluster {cid}: {len(kept)} kept"
        best = min(members, key=lambda m: (-m["score"], m["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]


def _near_dup_fixture(spark):
    # 10 identical docs (ids 0..9) -> every one of their band buckets
    # exceeds a hot_cap of 5; 2 identical docs far away in id space
    # (100, 101) whose buckets hold ~2 docs and survive.
    hot_text = "alpha beta gamma delta epsilon zeta eta theta"
    cold_text = "completely different words about maritime navigation"
    rows = [(i, hot_text) for i in range(10)]
    rows += [(100, cold_text), (101, cold_text)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_capped_audit_fires_on_hot_fixture(spark):
    docs = _near_dup_fixture(spark)
    out = simhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", bits=16,
        max_hamming=3, bands=4, hot_cap=5, with_capped_audit=True,
    ).collect()
    # the cold identical pair survives (its buckets are size <= 2+
    # collisions, under the cap via at least one untouched band)
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (100, 101) in got
    # the hot group's 4 band buckets (10 docs each) were all capped —
    # the audit column reports them on every emitted row
    assert all(r["n_capped_buckets"] >= 4 for r in out)
    # and the hot group emitted no pairs at all (the silent loss the
    # audit makes visible)
    assert not any(a < 10 and b < 10 for a, b in got)


def test_simhash_capped_audit_zero_when_uncapped(spark):
    docs = _near_dup_fixture(spark)
    out = simhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", bits=16,
        max_hamming=3, bands=4, hot_cap=None, with_capped_audit=True,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    # lossless form: the hot clique's 45 pairs all come back
    assert sum(1 for a, b in got if a < 10 and b < 10) == 45
    assert all(r["n_capped_buckets"] == 0 for r in out)


def test_simhash_audit_default_off_schema_unchanged(spark):
    docs = _near_dup_fixture(spark)
    out = simhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", bits=16,
        max_hamming=3, bands=4, hot_cap=5,
    )
    assert out.columns == ["id_a", "id_b", "hamming"]


def _duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _cmp(sdf, con, sql, float_cols=()):
    import math

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


# ---- banked for the r11 second wave: budget_select -----------------

BUDGET_SQL = """
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


def _budget_fixture(spark):
    docs = load_table(spark, "documents", SF)
    # priority = doc length; every 11th doc unscored (NULL priority)
    return docs.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None)).otherwise(
            F.length(F.coalesce(F.col("text"), F.lit("")))
            .cast("double")
        ).alias("prio"),
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("bigint").alias("n_toks"),
    )


def test_budget_select_matches_single_window_oracle(spark):
    # The bin-chunked two-pass prefix sum must EQUAL the single
    # global window the DuckDB twin runs — same cum_tokens, same
    # kept frontier, NULL priorities last.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        budget_select,
    )

    out = budget_select(
        _budget_fixture(spark), id_col="doc_id", token_col="n_toks",
        priority_col="prio", budget=40_000, lo=0.0, hi=2000.0,
        n_bins=50,
    )
    n = _cmp(out, _duck(SF), BUDGET_SQL)
    assert n == 500
    rows = {r["doc_id"]: r for r in out.collect()}
    kept = [r for r in rows.values() if r["kept"]]
    # the frontier is real: something kept, something dropped, and
    # the kept token mass respects the budget
    assert 0 < len(kept) < 500
    assert max(r["cum_tokens"] for r in kept) <= 40_000


def test_budget_select_edges(spark):
    from awskinesisconsumer_spark.operators.corpus_prep import (
        budget_select,
    )

    fx = _budget_fixture(spark)
    none = budget_select(
        fx, id_col="doc_id", token_col="n_toks", priority_col="prio",
        budget=0, lo=0.0, hi=2000.0,
    )
    assert none.where(F.col("kept")).count() == 0
    every = budget_select(
        fx, id_col="doc_id", token_col="n_toks", priority_col="prio",
        budget=10**12, lo=0.0, hi=2000.0,
    )
    assert every.where(~F.col("kept")).count() == 0
    with pytest.raises(ValueError, match="budget must be >= 0"):
        budget_select(fx, id_col="doc_id", token_col="n_toks",
                      priority_col="prio", budget=-1, lo=0.0, hi=1.0)


# ---- banked for the r11 second wave: curriculum_order --------------

CURRICULUM_SQL = """
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
               ORDER BY difficulty ASC NULLS LAST, doc_id) AS pos_in_shard
      FROM t)
    SELECT doc_id, difficulty, shard,
           CAST(pos_in_shard AS BIGINT) AS pos_in_shard,
           (pos_in_shard - 1) * 4 + shard AS curriculum_pos
    FROM r
"""


def test_curriculum_order_matches_oracle(spark):
    from awskinesisconsumer_spark.operators.corpus_prep import (
        curriculum_order,
    )

    docs = load_table(spark, "documents", SF).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(
            F.length(F.coalesce(F.col("text"), F.lit("")))
            .cast("double")
        ).alias("difficulty"),
    )
    out = curriculum_order(
        docs, id_col="doc_id", score_col="difficulty", n_shards=4
    )
    n = _cmp(out, _duck(SF), CURRICULUM_SQL,
             float_cols={"difficulty"})
    assert n == 500


def test_curriculum_order_trend(spark):
    # easy-first trend: the mean difficulty of the first quarter of
    # the curriculum must be materially below the last quarter's,
    # and every shard's internal order is exactly sorted.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        curriculum_order,
    )

    docs = load_table(spark, "documents", SF).select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit("")))
        .cast("double").alias("difficulty"),
    )
    rows = curriculum_order(
        docs, id_col="doc_id", score_col="difficulty", n_shards=4
    ).orderBy("curriculum_pos").collect()
    n = len(rows)
    head = [r["difficulty"] for r in rows[: n // 4]]
    tail = [r["difficulty"] for r in rows[-(n // 4):]]
    assert sum(head) / len(head) < sum(tail) / len(tail)
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["difficulty"])
    for s, ds in by_shard.items():
        assert ds == sorted(ds), f"shard {s} not score-sorted"


# ---- banked for the r11 second wave: semantic_dedup ----------------

def _semdedup_sql(centroids, threshold):
    import __spark_entry__ as m

    cent_rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {m._sql_vec(c)} AS cv"
        for i, c in enumerate(centroids)
    )
    l2 = m._sql_l2("embedding", "cv")
    cos = m._sql_cosine("a.embedding", "b.embedding")
    return f"""
        WITH RECURSIVE cent AS ({cent_rows}),
        assign AS (
          SELECT vec_id, embedding, i AS cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY {l2}, i) AS rn
          FROM embeddings CROSS JOIN cent),
        cells AS (SELECT vec_id, embedding, CAST(cell AS INT) AS cell
                  FROM assign WHERE rn = 1),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE {cos} >= {threshold}),
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


def test_semantic_dedup_matches_oracle(spark):
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup,
    )

    emb = load_table(spark, "embeddings", SF)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    out = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=centroids, threshold=0.3,
    )
    n = _cmp(out, _duck(SF), _semdedup_sql(centroids, 0.3))
    assert n == 500
    rows = out.collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert sum(1 for m in members if m["kept"]) == 1
        assert min(m["vec_id"] for m in members) == cid


def test_semantic_dedup_matches_python_reference(spark):
    # the numpy cell kernels give the pair set and the clusters/keeps
    # of a per-pair left fold in Python floats with HALF_UP 6-dp
    # rounding, over the reference cell assignment
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup, semantic_near_dup_pairs,
    )
    from tests.semdedup_reference import ref_cell_pairs, ref_labels
    from tests.test_round12_properties import _assign_reference

    emb = load_table(spark, "embeddings", SF)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    rows = emb.select("vec_id", "embedding").collect()
    vecs = [list(r["embedding"]) for r in rows]
    ref = list(zip([r["vec_id"] for r in rows],
                   _assign_reference(vecs, centroids), vecs))
    kw = dict(id_col="vec_id", vec_col="embedding", centroids=centroids,
              threshold=0.3)
    cols = ["vec_id", "cell", "cluster_id", "kept"]
    got = sorted(map(tuple, semantic_dedup(emb, **kw).select(cols)
                     .collect()))
    assert got == ref_labels(ref, 0.3)
    assert any(not r[3] for r in got)
    assert sorted(map(tuple, semantic_near_dup_pairs(emb, **kw)
                      .collect())) == ref_cell_pairs(ref, 0.3)


def test_semantic_dedup_cell_cap_makes_singletons(spark):
    from awskinesisconsumer_spark.operators.similarity import (
        ivf_centroids_from_sample, semantic_dedup,
    )

    emb = load_table(spark, "embeddings", SF)
    centroids = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=2
    )
    capped = semantic_dedup(
        emb, id_col="vec_id", vec_col="embedding",
        centroids=centroids, threshold=0.3, cell_cap=1,
    )
    # with every cell over the cap, no pairs form: all singletons
    assert capped.where(~F.col("kept")).count() == 0
    with pytest.raises(ValueError, match="cell_cap must be >= 1"):
        semantic_dedup(emb, id_col="vec_id", vec_col="embedding",
                       centroids=centroids, threshold=0.3, cell_cap=0)


# ---- banked for r12: ul2_plan (mixture of denoisers) ---------------

def _ul2_regime_cte(tag: str, ridx: int, k_gate: int, len_mod: int):
    # parameterized copy of the proven corruption-spans twin CTE
    # (same hash layout: md5(id || US || p || US || salt[/regime])),
    # filtered to the docs the regime gate assigned to `ridx`.
    h = (f"('0x' || substr(md5(doc_id::VARCHAR || chr(31) || "
         f"p::VARCHAR || chr(31) || 'v1/{tag}'{{extra}}), 1, 13))::BIGINT")
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


def _ul2_sql():
    sel = (
        "SELECT doc_id, '{t}' AS regime, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY p) - 1 AS INT) AS span_idx, "
        "CAST(p AS INT) AS start_word, CAST(tl AS INT) AS span_len "
        "FROM st{t} WHERE accepted"
    )
    s_cut = ("('0x' || substr(md5(doc_id::VARCHAR || chr(31) || 'v1' "
             "|| chr(31) || 's_cut'), 1, 13))::BIGINT")
    return f"""
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
        {sel.format(t='R')}
        UNION ALL
        {sel.format(t='X')}
        UNION ALL
        SELECT doc_id, 'S' AS regime, CAST(0 AS INT) AS span_idx,
               CAST({s_cut} % n + 1 AS INT) AS start_word,
               CAST(n - ({s_cut} % n) AS INT) AS span_len
        FROM g WHERE ridx = 2 AND n > 0
    """


def test_ul2_plan_matches_oracle(spark):
    from awskinesisconsumer_spark.operators.corpus_prep import ul2_plan

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    out = ul2_plan(docs, id_col="doc_id", text_col="text")
    n = _cmp(out, _duck(SF), _ul2_sql())
    assert n > 0
    rows = out.collect()
    regimes = {r["regime"] for r in rows}
    assert regimes == {"R", "X", "S"}
    # per-regime structural invariants
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault((r["doc_id"], r["regime"]), []).append(r)
    for (doc, reg), spans in by_doc.items():
        spans.sort(key=lambda r: r["span_idx"])
        # spans are disjoint, ordered, positive-length
        last_end = 0
        for s in spans:
            assert s["span_len"] >= 1
            assert s["start_word"] > last_end
            last_end = s["start_word"] + s["span_len"] - 1
        if reg == "S":
            assert len(spans) == 1 and spans[0]["span_idx"] == 0


def test_ul2_plan_regime_gate_is_partition(spark):
    # each doc appears under exactly ONE regime (the UL2 mixing
    # step assigns a denoiser per example), and a salt change
    # redraws the mixture
    from awskinesisconsumer_spark.operators.corpus_prep import ul2_plan

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    rows = ul2_plan(docs, id_col="doc_id", text_col="text").collect()
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["regime"])
    assert all(len(v) == 1 for v in per_doc.values())
    rows2 = ul2_plan(
        docs, id_col="doc_id", text_col="text", salt="v2"
    ).collect()
    per_doc2 = {}
    for r in rows2:
        per_doc2.setdefault(r["doc_id"], set()).add(r["regime"])
    moved = sum(
        1 for k in per_doc
        if k in per_doc2 and per_doc[k] != per_doc2[k]
    )
    assert moved > 0
    with pytest.raises(ValueError, match="duplicate regime"):
        ul2_plan(docs, id_col="doc_id", text_col="text",
                 regimes=(("R", 0.15, 3), ("R", 0.5, 8)))


def _ul2_pairs_sql():
    # regime-parameterized copy of the proven denoise-pairs rendering
    # CTEs, chained on the ul2 plan recursion; the S regime renders
    # its single suffix span through the same sentinel convention.
    def built(tag: str, ridx: int) -> str:
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

    sel = (
        "SELECT doc_id, '{t}' AS regime, CAST(n AS INT) AS n_words, "
        "CAST(k AS INT) AS n_spans, "
        "COALESCE(array_to_string(in_words, ' '), '') AS input_text, "
        "COALESCE(array_to_string(tgt_words, ' '), '') AS target_text "
        "FROM built{t}"
    )
    s_cut = ("('0x' || substr(md5(doc_id::VARCHAR || chr(31) || 'v1' "
             "|| chr(31) || 's_cut'), 1, 13))::BIGINT")
    return f"""
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
        {built('R', 0).lstrip()},
        {built('X', 1).lstrip()},
        s_base AS (
          SELECT doc_id, ws, n,
                 CASE WHEN n > 0 THEN CAST({s_cut} % n AS INT) END
                   AS cut
          FROM g WHERE ridx = 2)
        {sel.format(t='R')}
        UNION ALL
        {sel.format(t='X')}
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


def test_ul2_pairs_matches_oracle(spark):
    from awskinesisconsumer_spark.operators.corpus_prep import ul2_pairs

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    out = ul2_pairs(docs, id_col="doc_id", text_col="text")
    n = _cmp(out, _duck(SF), _ul2_pairs_sql())
    assert n == 500  # lossless: one pair per doc


def test_ul2_pairs_word_conservation_and_plan_agreement(spark):
    # every regime's pair conserves the doc's words (input gaps +
    # target spans == original words, in order), and the pair rows
    # agree with ul2_plan's regime assignment
    from awskinesisconsumer_spark.operators.corpus_prep import (
        ul2_pairs, ul2_plan,
    )

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    pairs = {r["doc_id"]: r for r in ul2_pairs(
        docs, id_col="doc_id", text_col="text").collect()}
    plan_regimes: dict = {}
    for r in ul2_plan(docs, id_col="doc_id", text_col="text").collect():
        plan_regimes.setdefault(r["doc_id"], set()).add(r["regime"])
    for doc, regs in plan_regimes.items():
        assert {pairs[doc]["regime"]} == regs
    import re

    for r in pairs.values():
        if r["n_words"] == 0:
            assert r["input_text"] == ""
            assert r["target_text"] == "<extra_id_0>"
            continue
        strip = lambda t: [w for w in t.split(" ")
                           if w and not re.match(r"^<extra_id_\d+>$", w)]
        in_w, tgt_w = strip(r["input_text"]), strip(r["target_text"])
        assert len(in_w) + len(tgt_w) == r["n_words"], r
        # sentinel counts: input has n_spans sentinels, target
        # n_spans + 1
        cnt = lambda t: len(re.findall(r"<extra_id_\d+>", t))
        assert cnt(r["input_text"]) == r["n_spans"]
        assert cnt(r["target_text"]) == r["n_spans"] + 1


# ---- banked for r12: contrastive_triplets --------------------------

def _triplets_sql(threshold, k_neg):
    import __spark_entry__ as m

    cab = m._sql_cosine("a.embedding", "b.embedding")
    cae = m._sql_cosine("av.embedding", "e.embedding")
    return f"""
        WITH pos AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {cab} >= {threshold}),
        sym AS (
          SELECT id_a AS anchor_id, id_b AS positive_id FROM pos
          UNION ALL
          SELECT id_b, id_a FROM pos),
        anchors AS (SELECT DISTINCT anchor_id FROM sym),
        scored AS (
          SELECT an.anchor_id, e.vec_id AS neighbor_id,
                 {cae} AS cosine
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
          QUALIFY neg_rank <= {k_neg})
        SELECT sym.anchor_id, sym.positive_id, negative_id, neg_rank,
               neg_cosine
        FROM sym JOIN negs USING (anchor_id)
    """


def test_contrastive_triplets_matches_oracle(spark):
    from awskinesisconsumer_spark.operators.similarity import (
        contrastive_triplets,
    )

    emb = load_table(spark, "embeddings", SF)
    out = contrastive_triplets(
        emb, id_col="vec_id", vec_col="embedding",
        pos_threshold=0.45, k_neg=2,
    )
    n = _cmp(out, _duck(SF), _triplets_sql(0.45, 2),
             float_cols={"neg_cosine"})
    assert n > 0
    rows = out.collect()
    # structural invariants: negatives never equal the anchor or ANY
    # of the anchor's positives; exactly k_neg ranks per anchor
    pos_by_anchor: dict = {}
    for r in rows:
        pos_by_anchor.setdefault(r["anchor_id"], set()).add(
            r["positive_id"])
    for r in rows:
        assert r["negative_id"] != r["anchor_id"]
        assert r["negative_id"] not in pos_by_anchor[r["anchor_id"]]
        assert 1 <= r["neg_rank"] <= 2
    with pytest.raises(ValueError, match="k_neg must be >= 1"):
        contrastive_triplets(emb, id_col="vec_id", vec_col="embedding",
                             pos_threshold=0.45, k_neg=0)
    # the vectorized neighbor-scoring path is bit-equal
    vec = contrastive_triplets(
        emb, id_col="vec_id", vec_col="embedding",
        pos_threshold=0.45, k_neg=2, vectorized=True,
    )
    cols = ["anchor_id", "positive_id", "negative_id", "neg_rank",
            "neg_cosine"]
    assert sorted(map(tuple, vec.select(cols).collect())) == sorted(
        map(tuple, out.select(cols).collect())
    )


def test_contrastive_triplets_no_positives_is_empty(spark):
    from awskinesisconsumer_spark.operators.similarity import (
        contrastive_triplets,
    )

    emb = load_table(spark, "embeddings", SF)
    out = contrastive_triplets(
        emb, id_col="vec_id", vec_col="embedding",
        pos_threshold=1.01, k_neg=2,  # impossible threshold
    )
    assert out.count() == 0
    assert out.columns == ["anchor_id", "positive_id", "negative_id",
                           "neg_rank", "neg_cosine"]


# ---- banked for the r11 fourth wave: token_quota_stream ------------

QUOTA_SQL = """
    WITH t AS (
      SELECT doc_id % 4 AS shard, doc_id,
             CAST(len(regexp_extract_all(COALESCE(text, ''),
                  '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
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


def test_token_quota_stream_equals_batch_cumsum(spark):
    import os
    import tempfile

    from pyspark.sql import Window

    from awskinesisconsumer_spark.operators.text import token_count
    from awskinesisconsumer_spark.streaming.pipeline import (
        token_quota_stream,
    )

    docs = token_count(
        load_table(spark, "documents", SF), text_col="text"
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
    name = "quota_stream_test"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation",
                tempfile.mkdtemp(prefix="quota_ckpt_"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    n_batches = len(
        [p for p in q.recentProgress if p["numInputRows"] > 0]
    )
    assert n_batches >= 3
    result = spark.table(name)
    n = _cmp(result, _duck(SF), QUOTA_SQL)
    assert n == 500
    rows = result.collect()
    kept = [r for r in rows if r["kept"]]
    assert 0 < len(kept) < 500  # a real frontier
    with pytest.raises(ValueError, match="quota must be >= 0"):
        token_quota_stream(stream, shard_col="shard", id_col="doc_id",
                           token_col="n_tokens", quota=-1)


# ---- banked for the r11 fifth wave: fim_serialize ------------------

def _fim_serialize_sql():
    import __spark_entry__ as m

    fim = m.oracle_sql()["ext-fim-split"]
    return f"""
        WITH fim AS ({fim})
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


def test_fim_serialize_matches_oracle(spark):
    from awskinesisconsumer_spark.operators.corpus_prep import (
        fim_serialize, fim_split,
    )
    from awskinesisconsumer_spark.operators.dedup import portable_hash52

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    split = fim_split(docs, id_col="doc_id", text_col="text",
                      fim_rate=0.5, hash_fn=portable_hash52)
    out = fim_serialize(
        fim_serialize(split, mode="psm", out_col="text_psm"),
        mode="spm", out_col="text_spm",
    ).select("doc_id", "n_words", "fim_applied", "text_psm",
             "text_spm")
    n = _cmp(out, _duck(SF), _fim_serialize_sql())
    assert n == 500
    rows = out.collect()
    for r in rows:
        if r["fim_applied"]:
            assert r["text_psm"].startswith("<fim_prefix>")
            assert r["text_spm"].startswith("<fim_suffix>")
            for c in ("text_psm", "text_spm"):
                assert r[c].count("<fim_prefix>") == 1
                assert r[c].count("<fim_suffix>") == 1
                assert r[c].count("<fim_middle>") == 1
        else:
            assert "<fim_" not in r["text_psm"]
            assert r["text_psm"] == r["text_spm"]
    from awskinesisconsumer_spark.operators.corpus_prep import (
        fim_serialize as fs,
    )
    with pytest.raises(ValueError, match="mode must be"):
        fs(split, mode="pms")


def test_truncated_dim_recall_validate_override(spark):
    # ADVICE r10: the oversized-tier guard is an eager full-corpus
    # scan and a single short vector blocks the audit; the
    # validate_dims=False override must skip the raise (accepting the
    # documented clamp semantics) while the default still fails fast.
    from awskinesisconsumer_spark.operators.similarity import (
        truncated_dim_recall,
    )

    emb = load_table(spark, "embeddings", SF)
    short = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.slice("embedding", 1, 4))
        .otherwise(F.col("embedding")),
    )
    probes = [r["vec_id"] for r in emb.select("vec_id").limit(2).collect()]
    with pytest.raises(ValueError, match="exceeds the shortest"):
        truncated_dim_recall(
            short, id_col="vec_id", vec_col="embedding",
            probe_ids=probes, k=3, dim_tiers=(8,),
        )
    rows = truncated_dim_recall(
        short, id_col="vec_id", vec_col="embedding",
        probe_ids=probes, k=3, dim_tiers=(8,), validate_dims=False,
    ).collect()
    assert len(rows) > 0
