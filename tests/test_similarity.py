"""`operators/similarity.py` unit tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from awskinesisconsumer_spark.io import load_table
from awskinesisconsumer_spark.operators import similarity
from awskinesisconsumer_spark.operators.similarity import (
    ivf_assign,
    ivf_assign_multi,
    ivf_centroids_from_sample,
    kmeans_refine_centroids,
    knn_brute_force,
    knn_ivf,
    knn_ivf_pq,
    knn_pq_adc,
    pq_codebooks_refined,
    semantic_dedup,
    semantic_dedup_apply,
    semantic_dedup_prepare_reps,
)
from tests.conftest import SF_SMOKE
from tests.test_round12_properties import _assign_reference


def _sq_dists(v, centroids):
    """Per-centroid squared L2 as a left fold over dims (the
    `_assign_reference` arithmetic), for the n-nearest reference."""
    out = []
    for c in centroids:
        acc = 0.0
        for a, b in zip(v, c):
            acc = acc + (a - b) * (a - b)
        out.append(acc)
    return out


def _assign_multi_reference(vectors, centroids, n):
    out = []
    for v in vectors:
        d = _sq_dists(v, centroids)
        out.append(sorted(range(len(centroids)), key=lambda i: (d[i], i))[:n])
    return out


def _table(spark, centroids, vec_col="embedding"):
    return spark.createDataFrame(
        list(enumerate(centroids)), f"cell int, {vec_col} array<double>"
    )


@pytest.fixture(scope="module")
def emb_cents(spark):
    emb = load_table(spark, "embeddings", SF_SMOKE)
    cents = ivf_centroids_from_sample(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8
    )
    rows = emb.select("vec_id", "embedding").collect()
    ref = dict(zip(
        [r["vec_id"] for r in rows],
        _assign_reference([list(r["embedding"]) for r in rows], cents),
    ))
    return emb, cents, ref


# A NULL vector, a short one and a NaN one among well-formed rows.
_DEGENERATE = [(1, [1.0, 2.0]), (2, None), (3, [0.0, 0.0]), (4, [5.0]),
               (5, [float("nan"), 1.0]), (6, [3.9, 3.9]), (7, [0.2, 0.0])]
_DEGENERATE_CENTS = [[1.0, 1.0], [4.0, 4.0], [0.1, 0.1]]


def _single(df):
    return {r["id"]: r["cell"] for r in ivf_assign(
        df, vec_col="v", centroids=_DEGENERATE_CENTS).collect()}


def _pair(df):
    return {r["id"]: list(r["cells"]) for r in ivf_assign_multi(
        df, vec_col="v", centroids=_DEGENERATE_CENTS, n_assign=2).collect()}


def test_ivf_assign_matches_reference_on_fixture(spark, emb_cents):
    emb, cents, ref = emb_cents
    got = {r["vec_id"]: r["cell"] for r in ivf_assign(
        emb, vec_col="embedding", centroids=cents).collect()}
    assert got == ref
    assert len(set(got.values())) > 1


def test_ivf_assign_accepts_centroid_dataframe(spark, emb_cents):
    # a (cell, vector) table in any row order, under its own vector
    # column name, assigns exactly as the list does
    emb, cents, ref = emb_cents
    cdf = _table(spark, cents, "vector").orderBy(F.col("cell").desc())
    got = {r["vec_id"]: r["cell"] for r in ivf_assign(
        emb, vec_col="embedding", centroids=cdf,
        centroid_vec_col="vector").collect()}
    assert got == ref


def test_ivf_assign_validates(spark):
    emb = load_table(spark, "embeddings", SF_SMOKE)
    bad_ids = spark.createDataFrame(
        [(1, [0.0] * 64), (3, [1.0] * 64)],
        "cell int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ids must be exactly"):
        ivf_assign(emb, vec_col="embedding", centroids=bad_ids)
    with pytest.raises(ValueError, match=r"\(k, dim\)"):
        ivf_assign(emb, vec_col="embedding", centroids=[])
    with pytest.raises(ValueError, match="n_assign must be >= 1"):
        ivf_assign_multi(emb, vec_col="embedding", centroids=[[0.0]],
                         n_assign=0)


def test_ivf_assign_degenerate_rows(spark):
    # NULL, dim-mismatched and NaN vectors land in cell 0; the rest
    # follow the reference
    df = spark.createDataFrame(_DEGENERATE, "id long, v array<double>")
    got = _single(df)
    assert {i: got[i] for i in (2, 4, 5)} == {2: 0, 4: 0, 5: 0}
    ok = [(i, v) for i, v in _DEGENERATE if i not in (2, 4, 5)]
    assert [got[i] for i, _ in ok] == _assign_reference(
        [v for _, v in ok], _DEGENERATE_CENTS
    )
    assert got[6] == 1  # a real assignment, not everything-zero


def test_ivf_assign_multi_matches_reference(spark, emb_cents):
    emb, cents, ref = emb_cents
    rows = ivf_assign_multi(
        emb, vec_col="embedding", centroids=cents, n_assign=3
    ).collect()
    got = {r["vec_id"]: list(r["cells"]) for r in rows}
    want = _assign_multi_reference(
        [list(r["embedding"]) for r in rows], cents, 3
    )
    assert [got[r["vec_id"]] for r in rows] == want
    assert all(v[0] == ref[k] for k, v in got.items())


def test_ivf_assign_multi_degenerate_rows(spark):
    # NULL, dim-mismatched and NaN vectors land in cells [0..n-1] (the
    # single-assign cell-0 convention extended)
    df = spark.createDataFrame(_DEGENERATE, "id long, v array<double>")
    got = _pair(df)
    assert {i: got[i] for i in (2, 4, 5)} == {2: [0, 1], 4: [0, 1],
                                               5: [0, 1]}
    ok = [(i, v) for i, v in _DEGENERATE if i not in (2, 4, 5)]
    assert [got[i] for i, _ in ok] == _assign_multi_reference(
        [v for _, v in ok], _DEGENERATE_CENTS, 2
    )


@pytest.mark.parametrize("block_rows", [1, 2, 3])
def test_ivf_assign_row_blocks_do_not_change_cells(spark, monkeypatch,
                                                   block_rows):
    # the (rows x k) distance matrix is built block_rows rows at a
    # time; the cells are the same as with the default block. One
    # partition, so all rows share one Arrow batch and blocks split it.
    df = spark.createDataFrame(
        _DEGENERATE, "id long, v array<double>").coalesce(1)
    single, pair = _single(df), _pair(df)
    monkeypatch.setattr(similarity, "_ASSIGN_BLOCK_CELLS",
                        block_rows * len(_DEGENERATE_CENTS))
    assert _single(df) == single
    assert _pair(df) == pair


def test_knn_ivf_scores_the_reference_probe_cells(spark, emb_cents):
    emb, cents, ref = emb_cents
    probe = [float(i % 13) / 13.0 for i in range(64)]
    probed = _assign_multi_reference([probe], cents, 2)[0]
    want = knn_brute_force(
        emb.where(F.col("vec_id").isin(
            [v for v, c in ref.items() if c in probed])),
        id_col="vec_id", vec_col="embedding", query=probe, k=10,
    ).collect()
    for spec in (cents, _table(spark, cents)):
        got = knn_ivf(emb, id_col="vec_id", vec_col="embedding",
                      query=probe, centroids=spec, n_probes=2, k=10)
        assert got.collect() == want


def test_knn_ivf_pq_scores_the_reference_probe_cells(spark, emb_cents):
    emb, cents, ref = emb_cents
    cbs = pq_codebooks_refined(
        emb, id_col="vec_id", vec_col="embedding", m=8, ksub=16,
        n_iter=1, order_col="vec_id",
    )
    probe = [float(i % 13) / 13.0 for i in range(64)]
    probed = _assign_multi_reference([probe], cents, 2)[0]
    want = sorted(map(tuple, knn_pq_adc(
        emb.where(F.col("vec_id").isin(
            [v for v, c in ref.items() if c in probed])),
        id_col="vec_id", vec_col="embedding", query=probe,
        codebooks=cbs, k=5,
    ).collect()))
    for spec in (cents, _table(spark, cents)):
        got = knn_ivf_pq(emb, id_col="vec_id", vec_col="embedding",
                         query=probe, centroids=spec, codebooks=cbs,
                         n_probes=2, k=5)
        assert sorted(map(tuple, got.collect())) == want


def test_semantic_dedup_cells_follow_reference(spark, emb_cents):
    # the labeled `cell` column is the reference assignment, and a
    # centroid table gives the same labels as the list
    emb, cents, ref = emb_cents
    cols = ["vec_id", "cell", "cluster_id", "kept"]
    by_list, by_table = (
        sorted(map(tuple, semantic_dedup(
            emb, id_col="vec_id", vec_col="embedding", centroids=spec,
            threshold=0.3,
        ).select(cols).collect()))
        for spec in (cents, _table(spark, cents))
    )
    assert by_list == by_table
    assert {r[0]: r[1] for r in by_list} == ref
    assert any(not r[3] for r in by_list)  # the fixture has near-dups


def test_kmeans_list_and_dataframe_init_agree(spark, emb_cents):
    # Lloyd training from a (cell, vector) table init returns the
    # exact centroids the list init returns
    emb, seed, _ = emb_cents
    kw = dict(vec_col="embedding", n_iter=3, tol=0.0, order_col="vec_id")
    from_list = kmeans_refine_centroids(emb, centroids=seed, **kw)
    from_table = kmeans_refine_centroids(
        emb, centroids=_table(spark, seed), **kw)
    assert from_list == from_table
    assert from_list != seed


def test_semantic_dedup_apply_ignores_unrelated_rn_column(spark):
    """Only the norm column `semantic_dedup_prepare_reps` sets is read
    as a precomputed rep norm: a reps table that happens to carry an
    unrelated `_rn` column (say a row number) still scores true
    cosines."""
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 2.0])],
        "doc_id bigint, vec array<double>",
    )
    reps = spark.createDataFrame(
        [(0, 100, [1.0, 0.0]), (1, 101, [0.0, 1.0])],
        "cell int, rep_id bigint, rep_vec array<double>",
    )
    kw = dict(id_col="doc_id", vec_col="vec",
              centroids=[[1.0, 0.0], [0.0, 1.0]], threshold=0.95,
              broadcast_reps=True)

    def scores(r):
        out = semantic_dedup_apply(docs, reps=r, **kw)
        return {row.doc_id: (row.max_rep_cosine, row.matched_rep_id, row.is_dup)
                for row in out.collect()}

    plain = scores(reps)
    assert plain == scores(reps.withColumn("_rn", F.lit(1000.0)))
    assert plain == scores(semantic_dedup_prepare_reps(reps))
    assert plain[1] == (1.0, 100, True)
    assert math.isclose(plain[2][0], round(0.9 / math.sqrt(0.82), 6))
    assert plain[3] == (1.0, 101, True)


def _pair_table_labels(df, *, centroids, threshold, cell_cap):
    """The n_assign=1 pair-table + `connected_components` composition
    `semantic_dedup` ran before it labeled inside the cell kernel:
    kept as the oracle of `_cell_labels`."""
    from awskinesisconsumer_spark.operators.dedup import connected_components

    base, members = similarity._semantic_members(
        df, id_col="id", vec_col="v", centroids=centroids, n_assign=1,
    )
    pairs = similarity._semantic_pairs(
        base, members, id_col="id", vec_col="v", threshold=threshold,
        cell_cap=cell_cap, vectorized=True, n_assign=1, caller="oracle",
    )
    cc = connected_components(pairs, vertices=df.select("id"))
    return (
        base.join(cc.select("id", "cluster_id"), "id")
        .withColumn("kept", F.col("id") == F.col("cluster_id"))
        .select("id", "cell", "cluster_id", "kept")
    )


def _labels_fixture(seed):
    """Seeded 4-dim rows: planted near-dup clusters among random
    singletons, plus a NULL vector, ragged rows (two of them, equal
    length, score with each other), a NULL element and an id
    duplicated inside one cell."""
    import random

    rng = random.Random(seed)
    rows, next_id = [], 1
    for _ in range(12):
        centre = [rng.gauss(0, 1) for _ in range(4)]
        for _ in range(rng.choice([1, 1, 2, 3, 4])):
            rows.append((next_id, [x + rng.gauss(0, 0.03) for x in centre]))
            next_id += 1
    rows += [(next_id, None), (next_id + 1, [1.0, 0.0]),
             (next_id + 2, [1.0, 0.01]), (next_id + 3, [1.0, None, 0.0, 0.0])]
    rows.append(rows[3])  # the same id and vector: the same cell
    rng.shuffle(rows)
    cents = [[rng.gauss(0, 1) for _ in range(4)] for _ in range(64)]
    return rows, cents


@pytest.mark.parametrize("threshold,cell_cap,k", [
    (0.3, None, 4), (0.95, None, 4), (0.3, 8, 4), (0.95, None, 64),
])
def test_cell_labels_match_pair_table_components(spark, threshold,
                                                 cell_cap, k):
    rows, cents = _labels_fixture(seed=20 + k)
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    assert len(rows) < k or k == 4  # k = 64 leaves most cells empty
    got = sorted(map(tuple, semantic_dedup(
        df, id_col="id", vec_col="v", centroids=cents[:k],
        threshold=threshold, cell_cap=cell_cap, vectorized=True,
    ).collect()))
    want = sorted(map(tuple, _pair_table_labels(
        df, centroids=cents[:k], threshold=threshold, cell_cap=cell_cap,
    ).collect()))
    assert got == want
    assert len(got) == len(rows)
    assert any(not r[3] for r in got)  # near-dups merged
    sizes = {}
    for r in got:
        sizes[r[1]] = sizes.get(r[1], 0) + 1
    if cell_cap is not None:
        assert max(sizes.values()) > cell_cap  # the cap fired


def test_min_labels_match_union_find_reference():
    # seeded random graphs against a plain Python union-find
    import random

    import numpy as np

    rng = random.Random(7)
    for n in (1, 2, 10, 200):
        for n_edges in (0, n // 2, 3 * n):
            u = np.array([rng.randrange(n) for _ in range(n_edges)], np.int64)
            v = np.array([rng.randrange(n) for _ in range(n_edges)], np.int64)
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    x = parent[x]
                return x

            for a, b in zip(u.tolist(), v.tolist()):
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
            want = [find(x) for x in range(n)]
            assert similarity._min_labels(n, u, v).tolist() == want


def test_semantic_dedup_kernel_issues_at_most_three_jobs(spark, emb_cents):
    # the n_assign=1 kernel path labels inside one shuffle: no pair
    # table, no label-propagation rounds (21 jobs before)
    emb, cents, _ = emb_cents
    sc = spark.sparkContext
    group = "semantic-dedup-job-count"
    sc.setJobGroup(group, "semantic_dedup job count")
    try:
        rows = semantic_dedup(
            emb, id_col="vec_id", vec_col="embedding", centroids=cents,
            threshold=0.95, vectorized=True,
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == emb.count()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_semantic_dedup_kernel_scores_ragged_vectors_like_hof(spark):
    # a 2-dim row among 3-dim ones (and a NULL element) is unscorable
    # on the HOF path; the kernel must label it, not fail the job
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.01]), (3, [1.0, 0.0]),
         (4, [1.0, None, 0.0]), (5, [0.0, 1.0, 0.0])],
        "id bigint, v array<double>",
    )
    kw = dict(id_col="id", vec_col="v", centroids=[[1.0, 0.0, 0.0]],
              threshold=0.95)
    hof, kernel = (
        sorted(map(tuple, semantic_dedup(df, vectorized=vec, **kw)
                   .collect()))
        for vec in (False, True)
    )
    assert kernel == hof
    assert (3, 0, 3, True) in kernel and (2, 0, 1, False) in kernel
    pairs = {
        vec: sorted(map(tuple, similarity.semantic_near_dup_pairs(
            df, vectorized=vec, **kw).collect()))
        for vec in (False, True)
    }
    assert pairs[True] == pairs[False] == [(1, 2)]


def test_cell_labels_keep_capped_cells_out_of_the_group(spark, tmp_path,
                                                        monkeypatch):
    # a cell over cell_cap is anti-joined out BEFORE the groupBy: no
    # pandas group the labeller sees holds more than cell_cap rows,
    # and the capped cell's rows come back as singletons
    from pyspark.sql.group import GroupedData

    seen = str(tmp_path / "group_sizes")
    apply = GroupedData.applyInPandas

    def spy_apply(self, func, schema):
        def spy(pdf):
            with open(seen, "a") as f:
                f.write(f"{len(pdf)}\n")
            return func(pdf)

        return apply(self, spy, schema)

    monkeypatch.setattr(GroupedData, "applyInPandas", spy_apply)
    # 12 near-identical rows crowd cell 0 (the constant-embedding
    # blob); cell 1 holds two near-dups and a third row
    rows = [(i, [1.0, 0.001 * i]) for i in range(1, 13)]
    rows += [(20, [0.0, 1.0]), (21, [0.01, 1.0]), (22, [-1.0, 1.0])]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = sorted(map(tuple, semantic_dedup(
        df, id_col="id", vec_col="v", centroids=cents, threshold=0.95,
        cell_cap=4, vectorized=True,
    ).collect()))
    sizes = [int(n) for n in open(seen).read().split()]
    assert sizes and max(sizes) <= 4 and sum(sizes) == 3
    assert got == sorted(
        [(i, 0, i, True) for i in range(1, 13)]
        + [(20, 1, 20, True), (21, 1, 20, False), (22, 1, 22, True)]
    )
    monkeypatch.undo()
    assert got == sorted(map(tuple, _pair_table_labels(
        df, centroids=cents, threshold=0.95, cell_cap=4).collect()))


def test_semantic_dedup_kernel_keeps_ids_above_2_53_beside_a_null_id(spark):
    # a NULL id in the cell must not turn the id column into float64,
    # which would round 2^53 + 1 and 2^53 + 3 to other ids
    big = 2**53 + 1
    df = spark.createDataFrame(
        [(None, [1.0, 0.0]), (big, [1.0, 0.001]), (big + 2, [1.0, 0.002]),
         (5, [0.0, 1.0])],
        "id bigint, v array<double>",
    )
    kw = dict(id_col="id", vec_col="v", centroids=[[1.0, 0.0], [0.0, 1.0]],
              threshold=0.95)
    for vec in (False, True):
        assert sorted(map(tuple, semantic_dedup(
            df, vectorized=vec, **kw).collect())) == [
            (5, 1, 5, True), (big, 0, big, True), (big + 2, 0, big, False)]
        assert [tuple(r) for r in similarity.semantic_near_dup_pairs(
            df, vectorized=vec, **kw).collect()] == [(big, big + 2)]


def test_semantic_dedup_id_in_two_cells_splits_on_the_kernel_path(spark):
    # `id_col` is a key: id 2 with two different vectors lands in two
    # cells. The pair table resolves components globally and merges
    # both cells through id 2; the n_assign=1 kernel resolves each
    # cell on its own. Pinned so the difference stays documented.
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (2, [0.01, 1.0]),
         (3, [0.0, 1.0])],
        "id bigint, v array<double>",
    )
    kw = dict(id_col="id", vec_col="v", centroids=[[1.0, 0.0], [0.0, 1.0]],
              threshold=0.95)
    got = {
        vec: sorted(map(tuple, semantic_dedup(df, vectorized=vec, **kw)
                        .collect()))
        for vec in (False, True)
    }
    assert got[False] == [(1, 0, 1, True), (2, 0, 1, False),
                          (2, 1, 1, False), (3, 1, 1, False)]
    assert got[True] == [(1, 0, 1, True), (2, 0, 1, False),
                         (2, 1, 2, True), (3, 1, 2, False)]
