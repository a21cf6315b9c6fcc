"""`operators/similarity.py` unit tests."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from awskinesisconsumer_spark.operators.similarity import (
    semantic_dedup_apply,
    semantic_dedup_prepare_reps,
)


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
