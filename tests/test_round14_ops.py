"""Round-14 additions, per the r13 verdict brief:

1. `semantic_dedup_recall_audit` truth-leg guard (verdict item 2):
   the exact all-pairs truth join is bounded by `truth_max_rows` —
   a corpus-sized input raises loudly instead of silently launching
   an O(n^2) join from inside a composed report.
2. Single-mine multi-level recall audit (verdict item 6): with
   cell_cap=None the candidate mine runs ONCE at max(n_assign)
   tagged with the minimal co-location rank; every audited level
   filters the one tagged pair table, plan-asserted.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _load(spark, sf, name):
    return spark.read.parquet(f"{sf}/{name}.parquet")


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


# ---------------------------------------------------------------------------
# verdict item 2: the truth-leg guard
# ---------------------------------------------------------------------------


def test_recall_audit_truth_guard_raises(spark, _emb_cents):
    # An input past truth_max_rows must raise BEFORE any quadratic
    # work — the audit's all-pairs truth leg is the one deliberate
    # O(n^2) in the repo, and it must be loud, not silent (r13
    # verdict item 2: handed a 200k-row table, the composed report
    # used to just run ~2e10 cosine pairs).
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_dedup_recall_audit,
    )

    emb, cents = _emb_cents
    with pytest.raises(ValueError, match="truth_max_rows"):
        semantic_dedup_recall_audit(
            emb, id_col="vec_id", vec_col="embedding", centroids=cents,
            threshold=0.3, truth_max_rows=10,
        )


def test_recall_audit_truth_guard_opt_outs(spark, _emb_cents):
    # truth_max_rows=None is the deliberate opt-out; a bound at
    # exactly n rows passes; the degenerate bound (< 2 rows cannot
    # form a pair) is rejected as caller error.
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_dedup_recall_audit,
    )

    emb, cents = _emb_cents
    n = emb.count()
    kw = dict(id_col="vec_id", vec_col="embedding", centroids=cents,
              threshold=0.3, n_assign_values=(1,))
    assert semantic_dedup_recall_audit(
        emb, truth_max_rows=None, **kw
    ).count() > 0
    assert semantic_dedup_recall_audit(
        emb, truth_max_rows=n, **kw
    ).count() > 0
    with pytest.raises(ValueError, match="truth_max_rows must be"):
        semantic_dedup_recall_audit(emb, truth_max_rows=1, **kw)


# ---------------------------------------------------------------------------
# verdict item 6: single-mine multi-level audit
# ---------------------------------------------------------------------------


def test_recall_audit_single_mine_in_plan(spark, _emb_cents):
    # With cell_cap=None the audit's candidate leg must hold exactly
    # ONE pair mine however many levels are audited. The cell mine
    # is an applyInPandas (FlatMapGroupsInPandas in the plan) —
    # under the old per-level loop three levels meant three of them.
    # Its rows are the pure-Python reference audit's.
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_dedup_recall_audit,
    )

    emb, cents = _emb_cents
    aud = semantic_dedup_recall_audit(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        threshold=0.3, n_assign_values=(1, 2, 3),
    )
    # analyzed logical plan: structural and deterministic (the
    # executed plan prints AQE Initial/Final sections, duplicating
    # shared subtrees)
    plan = aud._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert sorted(map(tuple, aud.collect())) == _reference_audit(
        emb, cents, 0.3, (1, 2, 3))


def _reference_audit(emb, cents, threshold, levels):
    """`semantic_dedup_recall_audit` in plain Python: the truth pairs
    are every pair whose reference cosine reaches `threshold`; a pair
    is caught at level n when some cell is among both vectors' n
    nearest."""
    import decimal
    import math
    from itertools import combinations

    from tests.semdedup_reference import half_up, ref_cosine
    from tests.test_similarity import _assign_multi_reference

    rows = sorted((r["vec_id"], list(r["embedding"]))
                  for r in emb.select("vec_id", "embedding").collect())
    near = _assign_multi_reference([v for _, v in rows], cents,
                                   max(levels))
    rank = [{c: r + 1 for r, c in enumerate(cells)} for cells in near]
    true, caught = {}, {}
    for (a, (_, va)), (b, (_, vb)) in combinations(enumerate(rows), 2):
        cos = ref_cosine(va, vb)
        if cos is None or cos < threshold:
            continue
        lo = math.floor(cos * 10) / 10.0
        true[lo] = true.get(lo, 0) + 1
        colev = min((max(rank[a][c], rank[b][c])
                     for c in rank[a].keys() & rank[b].keys()),
                    default=None)
        for n in levels:
            if colev is not None and colev <= n:
                caught[n, lo] = caught.get((n, lo), 0) + 1
    q4 = decimal.Decimal("1e-4")
    return sorted(
        (n, lo, t, caught.get((n, lo), 0),
         half_up(caught.get((n, lo), 0) / t, q4))
        for n in levels for lo, t in true.items()
    )


def test_recall_audit_multi_level_equals_per_level(spark, _emb_cents):
    # The single-mine (1, 2, 3) audit must emit exactly the union of
    # the three single-level audits — the minimal co-location rank
    # tagging is a pure refactor of the per-level mines, not a new
    # semantics (each single-level call mines at its own depth, so
    # it IS the old loop body).
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_dedup_recall_audit,
    )

    emb, cents = _emb_cents
    kw = dict(id_col="vec_id", vec_col="embedding", centroids=cents,
              threshold=0.3)
    multi = sorted(
        tuple(r) for r in semantic_dedup_recall_audit(
            emb, n_assign_values=(1, 2, 3), **kw
        ).collect()
    )
    singles = sorted(
        tuple(r)
        for n in (1, 2, 3)
        for r in semantic_dedup_recall_audit(
            emb, n_assign_values=(n,), **kw
        ).collect()
    )
    assert multi == singles


def test_recall_audit_capped_fallback_still_bounded(spark, _emb_cents):
    # With a cell_cap the per-level cap pair genuinely differs per
    # level, so the audit falls back to one mine per level — output
    # still well-formed and recall still within [0, 1].
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_dedup_recall_audit,
    )

    emb, cents = _emb_cents
    rows = semantic_dedup_recall_audit(
        emb, id_col="vec_id", vec_col="embedding", centroids=cents,
        threshold=0.3, n_assign_values=(1, 2), cell_cap=50,
    ).collect()
    assert rows
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)
    assert all(r["n_caught"] <= r["n_true_pairs"] for r in rows)


# ---------------------------------------------------------------------------
# verdict item 7: grouped/stratified bootstrap CI
# ---------------------------------------------------------------------------


def test_bootstrap_ci_grouped_equals_per_group_ungrouped(spark):
    # Stratification must be exact: each group's CI row equals
    # running the ungrouped bootstrap_ci on that group's slice alone
    # (the (id, salt, b) weight hash never sees the group, so the
    # draws are identical).
    from awskinesisconsumer_spark.operators.evaluation import (
        bootstrap_ci, bootstrap_ci_grouped,
    )
    from awskinesisconsumer_spark.operators.text import token_count

    docs = token_count(
        _load(spark, SF_SMOKE, "documents"), text_col="text"
    )
    grouped = {
        r["group"]: tuple(r)[1:]
        for r in bootstrap_ci_grouped(
            docs, id_col="doc_id", value_col="n_tokens",
            group_col="lang", n_boot=50,
        ).collect()
    }
    assert len(grouped) >= 2, "fixture must have >= 2 languages"
    for g, want in grouped.items():
        solo = bootstrap_ci(
            docs.where(F.col("lang") == g),
            id_col="doc_id", value_col="n_tokens", n_boot=50,
        ).collect()
        assert len(solo) == 1
        assert tuple(solo[0]) == want, g


def test_bootstrap_ci_grouped_validation(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        bootstrap_ci_grouped,
    )

    docs = _load(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match="n_boot"):
        bootstrap_ci_grouped(
            docs, id_col="doc_id", value_col="doc_id",
            group_col="lang", n_boot=1,
        )


# ---------------------------------------------------------------------------
# r14 second wave: evaluation & drift completion
# ---------------------------------------------------------------------------


def test_classification_report_hand_counts(spark):
    # 2x2 fixture with known counts: labels a,a,a,b; preds a,b,a,b
    # -> class a: tp=2 n_true=3 n_pred=2; class b: tp=1 n_true=1
    # n_pred=2; accuracy 3/4.
    from awskinesisconsumer_spark.operators.evaluation import (
        classification_report,
    )

    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("a", "a"), ("b", "b")],
        "label string, pred string",
    )
    rows = {r["cls"]: r for r in classification_report(
        df, label_col="label", pred_col="pred"
    ).collect()}
    a, b, al = rows["a"], rows["b"], rows["__all__"]
    assert (a["tp"], a["n_true"], a["n_pred"]) == (2, 3, 2)
    assert a["precision"] == 1.0 and a["recall"] == 0.666667
    assert a["f1"] == 0.8  # 2*2/(2+3)
    assert (b["tp"], b["n_true"], b["n_pred"]) == (1, 1, 2)
    assert b["precision"] == 0.5 and b["recall"] == 1.0
    assert al["tp"] == 3 and al["precision"] == 0.75
    assert al["precision"] == al["recall"] == al["f1"]


def test_classification_report_unseen_class_nulls(spark):
    # A class never predicted gets NULL precision (0/0), one never
    # labeled gets NULL recall — not a crash, not a fake 0.
    from awskinesisconsumer_spark.operators.evaluation import (
        classification_report,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("a", "b")], "label string, pred string"
    )
    rows = {r["cls"]: r for r in classification_report(
        df, label_col="label", pred_col="pred"
    ).collect()}
    assert rows["a"]["precision"] is None and rows["a"]["recall"] == 0.0
    assert rows["b"]["recall"] is None and rows["b"]["precision"] == 0.0


def test_ks_matrix_rows_equal_pairwise_ks(spark):
    # Every matrix row must replay ks_statistic on that pair exactly
    # — the kmv_overlap_matrix contract applied to drift.
    from awskinesisconsumer_spark.operators.evaluation import (
        ks_matrix, ks_statistic,
    )

    docs = _load(spark, SF_SMOKE, "documents").select(
        "lang", F.length("text").alias("n_chars")
    )
    mat = ks_matrix(docs, value_col="n_chars", group_col="lang")
    rows = mat.collect()
    assert len(rows) >= 3
    for r in rows[:4]:
        solo = ks_statistic(
            docs, value_col="n_chars", group_col="lang",
            group_a=r["group_a"], group_b=r["group_b"],
        ).collect()[0]
        assert tuple(r)[2:] == tuple(solo), (r["group_a"], r["group_b"])


def test_psi_drift_symmetric_and_nonnegative(spark):
    # (p-q)ln(p/q) >= 0 per bin, and swapping the slices leaves psi
    # unchanged (shared union edges make it truly symmetric).
    from awskinesisconsumer_spark.operators.evaluation import psi_drift

    docs = _load(spark, SF_SMOKE, "documents").select(
        "lang", F.length("text").alias("n_chars")
    )
    kw = dict(value_col="n_chars", group_col="lang", n_bins=10)
    ab = psi_drift(docs, group_a="en", group_b="fr", **kw).collect()[0]
    ba = psi_drift(docs, group_a="fr", group_b="en", **kw).collect()[0]
    assert ab["psi"] >= 0.0
    assert ab["psi"] == ba["psi"]
    assert (ab["n_a"], ab["n_b"]) == (ba["n_b"], ba["n_a"])
    with pytest.raises(ValueError, match="n_bins"):
        psi_drift(docs, group_a="en", group_b="fr",
                  value_col="n_chars", group_col="lang", n_bins=1)


def test_chao1_hand_fixture(spark):
    # terms: x x y z -> D=3, f1=2 (y,z), f2=1 (x);
    # chao1 = 3 + 2*1/(2*2) = 3.5
    from awskinesisconsumer_spark.operators.evaluation import chao1_vocab

    df = spark.createDataFrame(
        [(1, "x x y"), (2, "z")], "doc_id long, text string"
    )
    r = chao1_vocab(df, text_col="text").collect()[0]
    assert (r["n_tokens"], r["vocab_size"], r["f1"], r["f2"]) == (4, 3, 2, 1)
    assert r["chao1_est"] == 3.5


def test_confusion_stream_replay_and_equality(spark, tmp_path):
    # The streaming maintainer must (a) SUM-merge to exactly the
    # batch build over the union of arrivals and (b) skip an
    # at-least-once replay of a committed batch id instead of
    # double-counting — the cms/histogram state contract.
    from awskinesisconsumer_spark.operators.evaluation import (
        classification_report, classification_report_from_counts,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        _confusion_merge_fn,
    )

    out = str(tmp_path / "conf")
    merge = _confusion_merge_fn(
        label_col="label", pred_col="pred", out_path=out
    )
    b0 = spark.createDataFrame(
        [("a", "a"), ("a", "b")], "label string, pred string"
    )
    b1 = spark.createDataFrame(
        [("b", "b"), ("a", "a"), ("c", "a")], "label string, pred string"
    )
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # checkpoint replay after a crash-before-commit
    got = sorted(tuple(r) for r in classification_report_from_counts(
        spark.read.parquet(out).select("label", "pred", "n")
    ).collect())
    want = sorted(tuple(r) for r in classification_report(
        b0.unionByName(b1), label_col="label", pred_col="pred"
    ).collect())
    assert got == want


# ---------------------------------------------------------------------------
# r14 third wave: alpha, percentile calibration, streaming PSI
# ---------------------------------------------------------------------------


def test_krippendorff_hand_fixture(spark):
    # units: (a,a) and (a,b) with 2 raters -> S = 4 + 2 = 6,
    # C2 = 3^2 + 1^2 = 10, N=2, R=2: Do = (2*4-6)/(1*4) = 0.5,
    # De = (16-10)/(4*3) = 0.5, alpha = 0 (agreement == chance).
    # And perfect agreement -> alpha = 1.
    from awskinesisconsumer_spark.operators.evaluation import (
        krippendorff_alpha,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (2, "b")],
        "item long, label string",
    )
    r = krippendorff_alpha(df, item_col="item", label_col="label") \
        .collect()[0]
    assert (r["n_items"], r["n_raters"]) == (2, 2)
    assert (r["d_o"], r["d_e"], r["alpha"]) == (0.5, 0.5, 0.0)
    perfect = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "b")],
        "item long, label string",
    )
    assert krippendorff_alpha(
        perfect, item_col="item", label_col="label"
    ).collect()[0]["alpha"] == 1.0


def test_krippendorff_validation(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        krippendorff_alpha,
    )

    ragged = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "item long, label string"
    )
    with pytest.raises(ValueError, match="constant"):
        krippendorff_alpha(ragged, item_col="item", label_col="label")
    single = spark.createDataFrame(
        [(1, "a"), (1, "a")], "item long, label string"
    )
    # one observed label: De == 0 -> NULL alpha, not a crash
    r = krippendorff_alpha(
        single, item_col="item", label_col="label"
    ).collect()[0]
    assert r["alpha"] is None and r["d_e"] == 0.0


def test_quality_percentile_semantics(spark):
    # Percentile = strictly-smaller fraction WITHIN group: group
    # minimum -> 0.0; ties share a percentile; groups independent;
    # NULL score passes through with NULL percentile.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        score_percentile_by_group,
    )

    df = spark.createDataFrame(
        [(1, "a", 0.1), (2, "a", 0.5), (3, "a", 0.5), (4, "a", 0.9),
         (5, "b", 0.9), (6, "b", 0.1), (7, "b", None)],
        "id long, g string, s double",
    )
    rows = {r["id"]: r["pctile"] for r in score_percentile_by_group(
        df, score_col="s", group_col="g"
    ).collect()}
    assert rows[1] == 0.0 and rows[4] == 0.75
    assert rows[2] == rows[3] == 0.25
    assert rows[6] == 0.0 and rows[5] == 0.5
    assert rows[7] is None


def test_quality_percentile_no_pergroup_row_sort(spark):
    # The plan must window over per-(group, score) COUNTS, not raw
    # rows: the Window's input is the grouped count aggregate — the
    # single-reducer-per-source trap this operator exists to avoid.
    from awskinesisconsumer_spark.operators.corpus_prep import (
        score_percentile_by_group,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = score_percentile_by_group(
        docs.select("doc_id", "lang", F.length("text").alias("s")),
        score_col="s", group_col="lang",
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    # the cumulative and total sums analyze to (at most) two Window
    # nodes, and every one must sit ABOVE the (group, score) count
    # Aggregate in the tree — i.e. the windows consume the bounded
    # count table, never the raw corpus rows
    assert 1 <= plan.count("Window [") <= 2, plan
    assert plan.rindex("Window [") < plan.index("Aggregate ["), (
        "window must consume the (group, score) count aggregate"
    )


def test_psi_stream_state_replay_and_equality(spark, tmp_path):
    # The PSI maintainer must SUM-merge to the batch frozen-edge
    # count and skip at-least-once replays — then psi_from_binned
    # over the state equals batch psi_drift(lo=, hi=) verbatim.
    from awskinesisconsumer_spark.operators.evaluation import (
        psi_drift, psi_from_binned,
    )
    from awskinesisconsumer_spark.streaming.pipeline import _psi_merge_fn

    out = str(tmp_path / "psi")
    merge = _psi_merge_fn(
        value_col="v", group_col="g", group_a="en", group_b="fr",
        lo=0.0, hi=100.0, n_bins=4, out_path=out,
    )
    b0 = spark.createDataFrame(
        [("en", 10.0), ("fr", 60.0), ("en", 150.0)], "g string, v double"
    )
    b1 = spark.createDataFrame(
        [("fr", -5.0), ("en", 99.0), ("fr", 55.0)], "g string, v double"
    )
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # replay must be skipped
    got = psi_from_binned(
        spark.read.parquet(out).select("bin", "ca", "cb"), n_bins=4
    ).collect()
    want = psi_drift(
        b0.unionByName(b1), value_col="v", group_col="g",
        group_a="en", group_b="fr", n_bins=4, lo=0.0, hi=100.0,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_psi_frozen_edges_clamp_out_of_range(spark):
    # v < lo lands in bin 0, v >= hi in the last bin — a monitor
    # never drops out-of-range arrivals.
    from awskinesisconsumer_spark.operators.evaluation import (
        psi_binned_counts,
    )

    df = spark.createDataFrame(
        [("en", -10.0), ("en", 500.0), ("fr", 50.0)],
        "g string, v double",
    )
    rows = {r["bin"]: (r["ca"], r["cb"]) for r in psi_binned_counts(
        df, value_col="v", group_col="g", group_a="en", group_b="fr",
        n_bins=4, lo=0.0, hi=100.0,
    ).collect()}
    assert rows[0] == (1, 0) and rows[3] == (1, 0) and rows[2] == (0, 1)
    with pytest.raises(ValueError, match="both lo and hi"):
        psi_binned_counts(
            df, value_col="v", group_col="g", group_a="en",
            group_b="fr", lo=0.0,
        )


def test_ks_stream_state_replay_and_equality(spark, tmp_path):
    # SUM-merged (val, ca, cb) state + ks_from_value_counts must
    # equal batch ks_statistic over the union; replays skipped.
    from awskinesisconsumer_spark.operators.evaluation import (
        ks_from_value_counts, ks_statistic,
    )
    from awskinesisconsumer_spark.streaming.pipeline import _ks_merge_fn

    out = str(tmp_path / "ks")
    merge = _ks_merge_fn(
        value_col="v", group_col="g", group_a="en", group_b="fr",
        out_path=out,
    )
    b0 = spark.createDataFrame(
        [("en", 10), ("fr", 60), ("en", 30)], "g string, v int"
    )
    b1 = spark.createDataFrame(
        [("fr", 10), ("en", 60), ("fr", 55)], "g string, v int"
    )
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # replay must be skipped
    got = ks_from_value_counts(
        spark.read.parquet(out).select("val", "ca", "cb")
    ).collect()
    want = ks_statistic(
        b0.unionByName(b1), value_col="v", group_col="g",
        group_a="en", group_b="fr",
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_chao1_stream_f1f2_derived_not_merged(spark, tmp_path):
    # The defining subtlety: a term appearing once in EACH of two
    # batches must count as f2 (doubleton), not 2x f1 — i.e. the
    # state merges term COUNTS and derives the frequency-of-
    # frequencies at read time. 'zz' below is exactly that term.
    from awskinesisconsumer_spark.operators.evaluation import (
        chao1_from_counts, chao1_vocab,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        _chao1_merge_fn,
    )

    out = str(tmp_path / "ch1")
    merge = _chao1_merge_fn(text_col="text", out_path=out)
    b0 = spark.createDataFrame([(1, "zz alpha alpha")],
                               "doc_id long, text string")
    b1 = spark.createDataFrame([(2, "zz beta")],
                               "doc_id long, text string")
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # replay must be skipped
    got = chao1_from_counts(
        spark.read.parquet(out).select("term", "n")
    ).collect()[0]
    want = chao1_vocab(
        b0.unionByName(b1), text_col="text"
    ).collect()[0]
    assert tuple(got) == tuple(want)
    assert got["f2"] == 2 and got["f1"] == 1  # zz+alpha doubletons, beta singleton


def test_bootstrap_stream_state_replay_and_equality(spark, tmp_path):
    # The (group, b, wv, wn) Poisson sums are associative because
    # each weight depends only on (id, salt, b) — so the SUM-merged
    # state must reproduce the batch grouped CI exactly, and an
    # at-least-once replay must be skipped.
    from awskinesisconsumer_spark.operators.evaluation import (
        bootstrap_ci_grouped, bootstrap_ci_grouped_from_sums,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        _bootstrap_merge_fn,
    )

    out = str(tmp_path / "boot")
    merge = _bootstrap_merge_fn(
        id_col="id", value_col="v", group_col="g", n_boot=25,
        salt="boot1", hash_fn=None, out_path=out,
    )
    b0 = spark.createDataFrame(
        [(1, "en", 10), (2, "fr", 60), (3, "en", 30)],
        "id long, g string, v int",
    )
    b1 = spark.createDataFrame(
        [(4, "fr", 10), (5, "en", 61), (6, "fr", 55)],
        "id long, g string, v int",
    )
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # replay must be skipped
    got = sorted(tuple(r) for r in bootstrap_ci_grouped_from_sums(
        spark.read.parquet(out).select("_g", "b", "wv", "wn")
    ).collect())
    want = sorted(tuple(r) for r in bootstrap_ci_grouped(
        b0.unionByName(b1), id_col="id", value_col="v",
        group_col="g", n_boot=25,
    ).collect())
    assert got == want


def test_kappa_stream_state_replay_and_equality(spark, tmp_path):
    from awskinesisconsumer_spark.operators.evaluation import (
        cohen_kappa, cohen_kappa_from_counts,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        _kappa_merge_fn,
    )

    out = str(tmp_path / "kap")
    merge = _kappa_merge_fn(
        rater_a_col="ra", rater_b_col="rb", out_path=out
    )
    b0 = spark.createDataFrame(
        [(0, 0), (1, 1), (0, 1)], "ra int, rb int"
    )
    b1 = spark.createDataFrame(
        [(2, 2), (1, 0), (0, 0)], "ra int, rb int"
    )
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # replay must be skipped
    got = cohen_kappa_from_counts(
        spark.read.parquet(out).select("label_a", "label_b", "n")
    ).collect()
    want = cohen_kappa(
        b0.unionByName(b1), rater_a_col="ra", rater_b_col="rb"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_dedup_reweight_semantics(spark):
    # Duplicate cluster of 3 -> each weight 1/3; singleton -> 1.0;
    # the weighted corpus "sees each content once in expectation":
    # sum of weights == number of clusters.
    from awskinesisconsumer_spark.operators.dedup import dedup_reweight

    docs = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (5,)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: r["weight"] for r in dedup_reweight(
        docs, pairs, id_col="doc_id"
    ).collect()}
    assert rows[1] == rows[2] == rows[3] == 0.333333
    assert rows[4] == rows[5] == 0.5
    singleton = spark.createDataFrame([(9,)], "doc_id long")
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_reweight(
        singleton, empty_pairs, id_col="doc_id"
    ).collect()[0]["weight"] == 1.0


def test_ece_hand_fixture(spark):
    # Two bins: conf 0.95 x2 (1 right, 1 wrong -> acc .5, conf .95,
    # gap .45) and conf 0.05 x2 (both right -> acc 1, conf .05, gap
    # .95). ECE = .5*.45 + .5*.95 = 0.7; max_gap = 0.95. Perfectly
    # calibrated input -> 0.
    from awskinesisconsumer_spark.operators.evaluation import (
        expected_calibration_error,
    )

    df = spark.createDataFrame(
        [("a", "a", 0.95), ("a", "b", 0.95),
         ("a", "a", 0.05), ("b", "b", 0.05)],
        "label string, pred string, conf double",
    )
    r = expected_calibration_error(
        df, label_col="label", pred_col="pred", conf_col="conf",
        n_bins=10,
    ).collect()[0]
    assert (r["n_items"], r["n_bins"]) == (4, 10)
    assert r["ece"] == 0.7 and r["max_gap"] == 0.95
    # conf == 1.0 must land in the top bin, not bin n_bins
    top = spark.createDataFrame(
        [("a", "a", 1.0)], "label string, pred string, conf double"
    )
    rt = expected_calibration_error(
        top, label_col="label", pred_col="pred", conf_col="conf"
    ).collect()[0]
    assert rt["ece"] == 0.0
    with pytest.raises(ValueError, match="n_bins"):
        expected_calibration_error(
            df, label_col="label", pred_col="pred", conf_col="conf",
            n_bins=0,
        )


def test_language_id_confidence(spark):
    # marker-share confidence: conf = best / total marker hits,
    # 0.0 when no markers; the default signature is unchanged.
    from awskinesisconsumer_spark.operators.text import language_id

    df = spark.createDataFrame(
        [(1, "the cat and the dog of the town"),
         (2, "zzz qqq xxx"),
         (3, "the le")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in language_id(
        df, text_col="text", with_confidence=True
    ).collect()}
    assert rows[1]["lang_pred"] == "en" and rows[1]["lang_conf"] == 1.0
    assert rows[2]["lang_pred"] == "und" and rows[2]["lang_conf"] == 0.0
    # 'the' (en) + 'le' (fr): tie broken to 'en', conf = 1/2
    assert rows[3]["lang_pred"] == "en" and rows[3]["lang_conf"] == 0.5
    assert "lang_conf" not in language_id(df, text_col="text").columns


def test_brier_hand_fixture(spark):
    # (correct, conf): (1,.9) -> .01; (0,.9) -> .81; (1,.2) -> .64;
    # (1,1.0) -> 0. mean = (0.01+0.81+0.64+0)/4 = 0.365; acc 0.75.
    from awskinesisconsumer_spark.operators.evaluation import brier_score

    df = spark.createDataFrame(
        [("a", "a", 0.9), ("a", "b", 0.9), ("a", "a", 0.2),
         ("b", "b", 1.0)],
        "label string, pred string, conf double",
    )
    r = brier_score(
        df, label_col="label", pred_col="pred", conf_col="conf"
    ).collect()[0]
    assert (r["n_items"], r["accuracy"], r["brier"]) == (4, 0.75, 0.365)
    # empty rated set: NULL stats, not a division error (ANSI)
    empty = spark.createDataFrame(
        [], "label string, pred string, conf double"
    )
    re = brier_score(
        empty, label_col="label", pred_col="pred", conf_col="conf"
    ).collect()[0]
    assert re["n_items"] == 0 and re["brier"] is None
