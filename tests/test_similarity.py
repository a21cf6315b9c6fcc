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
