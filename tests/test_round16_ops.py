"""Round-16 additions, per the r15 verdict brief:

1. PR-AUC / average precision (verdict item 4): derived from the
   SAME (score, pos, neg) counts state as ROC AUC — step
   interpolation over scores descending, the ordered-fold float sum
   (the psi/ece determinism rule), brute-force equality and
   chunking-invariance pins.
2. Calibration drift (verdict item 8): the delta between two frozen
   per-group calibration snapshots — one bounded full-outer join over
   two G x n_bins states.
3. r15 ADVICE: cms_heavy_hitters(rank_by="exact") rejects
   candidate_top_m < k (the losslessness precondition); a marker-mode
   sentinel naming an unreadable version falls back to the newest
   _SUCCESS-complete version or fails loudly instead of silently
   resetting state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _load(spark, sf, name):
    return spark.read.parquet(f"{sf}/{name}.parquet")


@pytest.fixture()
def _marker_mode():
    import awskinesisconsumer_spark.streaming.pipeline as P

    P.set_state_commit_mode("marker")
    yield P
    P.set_state_commit_mode("rename")


# ---------------------------------------------------------------------------
# r15 ADVICE fixes
# ---------------------------------------------------------------------------


def test_cms_exact_rank_rejects_m_below_k(spark):
    # the losslessness theorem needs m >= k; m < k must fail loudly
    # instead of silently truncating the top-k (r15 ADVICE).
    from awskinesisconsumer_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    docs = spark.createDataFrame([("a b c",)], "text string")
    with pytest.raises(ValueError, match="candidate_top_m >= k"):
        cms_heavy_hitters(
            docs, text_col="text", k=5, candidate_top_m=3,
            rank_by="exact",
        )


def test_marker_sentinel_to_unreadable_version_falls_back(
        spark, tmp_path, _marker_mode):
    # sentinel names a version that is gone (e.g. a concurrent commit
    # swept it): recovery must serve the newest _SUCCESS-complete
    # version, not silently reset to first-batch None (r15 ADVICE).
    import os
    import shutil

    P = _marker_mode
    st = str(tmp_path / "state")
    P._swap_state(
        spark.createDataFrame([("a", 1)], "k string, n long")
        .withColumn("_bid", F.lit(0)), st,
    )
    # a second complete version lands on disk (no sentinel update)
    spark.createDataFrame([("a", 7)], "k string, n long").withColumn(
        "_bid", F.lit(1)
    ).write.mode("overwrite").parquet(f"{st}/v000001")
    # sentinel now names a version that does not exist (drop the
    # local-FS checksum sidecar — the python-side rewrite invalidates
    # it, which a real object store has no equivalent of)
    with open(os.path.join(st, "_COMMITTED"), "w") as fh:
        fh.write("v000002")
    crc = os.path.join(st, "._COMMITTED.crc")
    if os.path.exists(crc):
        os.remove(crc)
    got = P._read_state(spark, st)
    assert [(r["k"], r["n"]) for r in got.collect()] == [("a", 7)]
    # with NO complete fallback left, it must raise, never reset
    shutil.rmtree(f"{st}/v000000")
    shutil.rmtree(f"{st}/v000001")
    with pytest.raises(IOError, match="refusing to silently reset"):
        P._read_state(spark, st)


# ---------------------------------------------------------------------------
# verdict item 5: every maintainer family runs BOTH commit modes
# ---------------------------------------------------------------------------

_FAMILIES = ["cms", "hist", "confusion", "psi", "ks", "chao1",
             "bootstrap", "kappa", "ece", "brier", "auc", "rankcorr"]


def _family_case(spark, family):
    """(factory(paths) -> merge_fn, n_paths, [b0, b1]) per maintainer
    family — tiny two-batch fixtures exercising the SUM-merge shape."""
    import awskinesisconsumer_spark.streaming.pipeline as P
    from awskinesisconsumer_spark.operators.dedup import portable_hash52

    mk = spark.createDataFrame
    cal = "g string, lab string, prd string, cf double"
    cases = {
        "cms": (
            lambda p: P._cms_merge_fn(
                text_col="text", depth=2, width=16, salt="s",
                hash_fn=portable_hash52, sketch_path=p[0],
                terms_path=p[1]),
            2,
            [mk([("alpha beta beta",)], "text string"),
             mk([("beta gamma",)], "text string")],
        ),
        "hist": (
            lambda p: P._hist_merge_fn(
                value_col="v", lo=0.0, hi=1.0, n_bins=4,
                out_path=p[0]),
            1,
            [mk([(0.1,), (0.6,)], "v double"),
             mk([(0.6,), (0.9,)], "v double")],
        ),
        "confusion": (
            lambda p: P._confusion_merge_fn(
                label_col="lab", pred_col="prd", out_path=p[0]),
            1,
            [mk([("a", "a"), ("a", "b")], "lab string, prd string"),
             mk([("b", "b")], "lab string, prd string")],
        ),
        "psi": (
            lambda p: P._psi_merge_fn(
                value_col="v", group_col="g", group_a="a",
                group_b="b", lo=0.0, hi=1.0, n_bins=4,
                out_path=p[0]),
            1,
            [mk([("a", 0.2), ("b", 0.7)], "g string, v double"),
             mk([("a", 0.8), ("b", 0.1)], "g string, v double")],
        ),
        "ks": (
            lambda p: P._ks_merge_fn(
                value_col="v", group_col="g", group_a="a",
                group_b="b", out_path=p[0]),
            1,
            [mk([("a", 0.2), ("b", 0.7)], "g string, v double"),
             mk([("a", 0.8), ("b", 0.1)], "g string, v double")],
        ),
        "chao1": (
            lambda p: P._chao1_merge_fn(text_col="text",
                                        out_path=p[0]),
            1,
            [mk([("alpha beta",)], "text string"),
             mk([("beta gamma gamma",)], "text string")],
        ),
        "bootstrap": (
            lambda p: P._bootstrap_merge_fn(
                id_col="id", value_col="v", group_col="g", n_boot=5,
                salt="s", hash_fn=None, out_path=p[0]),
            1,
            [mk([(1, "en", 10), (2, "fr", 60)],
                "id long, g string, v int"),
             mk([(3, "en", 30)], "id long, g string, v int")],
        ),
        "kappa": (
            lambda p: P._kappa_merge_fn(
                rater_a_col="ra", rater_b_col="rb", out_path=p[0]),
            1,
            [mk([("x", "x"), ("x", "y")], "ra string, rb string"),
             mk([("y", "y")], "ra string, rb string")],
        ),
        "ece": (
            lambda p: P._ece_merge_fn(
                label_col="lab", pred_col="prd", conf_col="cf",
                group_col="g", n_bins=10, out_path=p[0]),
            1,
            [mk([("en", "a", "a", 0.9)], cal),
             mk([("en", "a", "b", 0.4), ("fr", "a", "a", 0.7)], cal)],
        ),
        "brier": (
            lambda p: P._brier_merge_fn(
                label_col="lab", pred_col="prd", conf_col="cf",
                group_col="g", out_path=p[0]),
            1,
            [mk([("en", "a", "a", 0.9)], cal),
             mk([("en", "a", "b", 0.4), ("fr", "a", "a", 0.7)], cal)],
        ),
        "auc": (
            lambda p: P._auc_merge_fn(
                label_col="y", score_col="s", out_path=p[0]),
            1,
            [mk([(1, 0.9), (0, 0.7)], "y int, s double"),
             mk([(1, 0.7), (0, 0.3)], "y int, s double")],
        ),
        "rankcorr": (
            lambda p: P._rankcorr_merge_fn(
                a_col="x", b_col="y", out_path=p[0]),
            1,
            [mk([(1.0, 2.0), (1.0, 3.0)], "x double, y double"),
             mk([(2.0, 3.0), (1.0, 2.0)], "x double, y double")],
        ),
    }
    return cases[family]


def _state_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# the committed state layout per family and state path: keys, then
# counters, then `_bid` last — a refactor of the merge must not move
# a column (consumers and restarted streams read these tables)
_STATE_COLUMNS = {
    "cms": [["row", "bucket", "n", "_bid"], ["term", "exact", "_bid"]],
    "hist": [["bin", "c", "_bid"]],
    "confusion": [["label", "pred", "n", "_bid"]],
    "psi": [["bin", "ca", "cb", "_bid"]],
    "ks": [["val", "ca", "cb", "_bid"]],
    "chao1": [["term", "n", "_bid"]],
    "bootstrap": [["_g", "b", "wv", "wn", "_bid"]],
    "kappa": [["label_a", "label_b", "n", "_bid"]],
    "ece": [["group", "bin", "nb", "ok", "c6", "_bid"]],
    "brier": [["group", "n_items", "oks", "sq", "_bid"]],
    "auc": [["score", "pos", "neg", "_bid"]],
    "rankcorr": [["a", "b", "n", "_bid"]],
}


@pytest.mark.parametrize("family", _FAMILIES)
def test_maintainer_family_commit_mode_matrix(spark, tmp_path, family):
    # r15 verdict item 5: marker-mode was proven end-to-end through
    # ONE merge_fn; the other families ran it only by construction-
    # sharing. This matrix runs EVERY family's merge sequence (two
    # batches + a replay) under BOTH commit protocols and asserts
    # (a) the replay is a no-op in each mode, (b) the committed
    # state is IDENTICAL across modes — a family that bypassed
    # _swap_state would diverge or lose the replay guard here — (c)
    # the state keeps its pinned column layout and (d) an older batch
    # id is refused by the lineage check.
    import awskinesisconsumer_spark.streaming.pipeline as P

    factory, n_paths, batches = _family_case(spark, family)
    states = {}
    for mode in ("rename", "marker"):
        P.set_state_commit_mode(mode)
        try:
            paths = [str(tmp_path / f"{mode}_{i}")
                     for i in range(n_paths)]
            merge = factory(paths)
            merge(batches[0], 0)
            merge(batches[1], 1)
            snap = [_state_rows(P._read_state(spark, p))
                    for p in paths]
            merge(batches[1], 1)  # checkpoint replay after a crash
            snap2 = [_state_rows(P._read_state(spark, p))
                     for p in paths]
            cols = [P._read_state(spark, p).columns for p in paths]
            # a batch id below the committed one is a reset lineage
            with pytest.raises(ValueError, match="checkpoint reset"):
                merge(batches[0], 0)
        finally:
            P.set_state_commit_mode("rename")
        assert snap == snap2, f"{family}/{mode}: replay mutated state"
        assert cols == _STATE_COLUMNS[family], f"{family}/{mode}: layout"
        states[mode] = snap
    assert states["rename"] == states["marker"], (
        f"{family}: rename-mode and marker-mode commits diverged"
    )


# ---------------------------------------------------------------------------
# verdict item 4: PR-AUC / average precision off the shared AUC state
# ---------------------------------------------------------------------------


def _brute_ap(rows):
    # step-interpolated average precision, thresholds descending with
    # ties grouped — sklearn's average_precision_score semantics.
    from collections import defaultdict

    cnt = defaultdict(lambda: [0, 0])
    for y, s in rows:
        cnt[s][0] += y
        cnt[s][1] += 1 - y
    tp = fp = 0
    ap = 0.0
    npos = sum(y for y, _ in rows)
    for s in sorted(cnt, reverse=True):
        p, n = cnt[s]
        tp += p
        fp += n
        ap += p * (tp / (tp + fp))
    return ap / npos


def test_pr_auc_matches_brute_force(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        pr_auc_score,
    )

    rows = [(1, 0.9), (1, 0.7), (1, 0.7), (1, 0.3),
            (0, 0.7), (0, 0.5), (0, 0.3), (0, 0.3), (0, 0.1)]
    df = spark.createDataFrame(rows, "y int, s double")
    got = pr_auc_score(df, label_col="y", score_col="s").first()
    assert (got["n_pos"], got["n_neg"]) == (4, 5)
    assert got["pr_auc"] == round(_brute_ap(rows), 6)
    # perfect separation -> 1.0; no positives -> NULL (recall
    # undefined); all-positive -> 1.0 (precision 1 at every cut)
    sep = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.2)], "y int, s double")
    assert pr_auc_score(
        sep, label_col="y", score_col="s").first()["pr_auc"] == 1.0
    nop = spark.createDataFrame([(0, 0.9), (0, 0.1)], "y int, s double")
    assert pr_auc_score(
        nop, label_col="y", score_col="s").first()["pr_auc"] is None
    allp = spark.createDataFrame([(1, 0.9), (1, 0.1)], "y int, s double")
    assert pr_auc_score(
        allp, label_col="y", score_col="s").first()["pr_auc"] == 1.0


def test_pr_auc_beats_roc_at_rare_prevalence(spark):
    # the reason PR exists: a detector whose false-positive MASS is
    # large relative to the rare positives keeps a high ROC AUC (FPR
    # divides by the huge negative class) while PR-AUC collapses.
    from awskinesisconsumer_spark.operators.evaluation import (
        auc_score, pr_auc_score,
    )

    rows = [(1, 0.75)] * 5 + [(0, 0.8)] * 45 + [(0, 0.1)] * 950
    df = spark.createDataFrame(rows, "y int, s double")
    roc = auc_score(df, label_col="y", score_col="s").first()["auc"]
    pr = pr_auc_score(df, label_col="y", score_col="s").first()["pr_auc"]
    assert roc > 0.95
    assert pr == 0.1  # 5 real / 50 flagged at the operating point


def test_pr_auc_grouped_equals_per_group_ungrouped(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        pr_auc_score, pr_auc_score_grouped,
    )

    rows = [("a", 1, 0.9), ("a", 0, 0.7), ("a", 1, 0.7), ("a", 0, 0.2),
            ("b", 1, 0.4), ("b", 0, 0.4), ("b", 0, 0.6), ("b", 1, 0.1)]
    df = spark.createDataFrame(rows, "g string, y int, s double")
    gg = {r["group"]: r for r in pr_auc_score_grouped(
        df, label_col="y", score_col="s", group_col="g").collect()}
    for g in ("a", "b"):
        solo = pr_auc_score(
            df.where(F.col("g") == g), label_col="y", score_col="s",
        ).first()
        assert (gg[g]["n_pos"], gg[g]["n_neg"], gg[g]["pr_auc"]) == (
            solo["n_pos"], solo["n_neg"], solo["pr_auc"])


def test_pr_auc_from_counts_tolerates_unmerged_duplicates(spark):
    # the defensive re-merge: per-batch counts concatenated without
    # the SUM-merge must produce the merged answer.
    from awskinesisconsumer_spark.operators.evaluation import (
        pr_auc_from_counts,
    )

    merged = spark.createDataFrame(
        [(0.9, 3, 1), (0.5, 1, 4)], "score double, pos long, neg long"
    )
    split = spark.createDataFrame(
        [(0.9, 2, 0), (0.5, 1, 3), (0.9, 1, 1), (0.5, 0, 1)],
        "score double, pos long, neg long",
    )
    assert tuple(pr_auc_from_counts(merged).first()) == tuple(
        pr_auc_from_counts(split).first())


def test_pr_auc_stream_shares_auc_state(spark, tmp_path):
    # ONE maintained state serves both summaries: run the auc_stream
    # merge over chunked arrivals (with a replay), then read BOTH
    # finals off the same state dir and compare to batch.
    from awskinesisconsumer_spark.operators.evaluation import (
        auc_from_counts, auc_score, pr_auc_from_counts, pr_auc_score,
    )
    from awskinesisconsumer_spark.streaming.pipeline import _auc_merge_fn

    out = str(tmp_path / "prauc")
    merge = _auc_merge_fn(label_col="y", score_col="s", out_path=out)
    b0 = spark.createDataFrame(
        [(1, 0.9), (0, 0.7), (1, 0.7)], "y int, s double")
    b1 = spark.createDataFrame(
        [(0, 0.3), (1, 0.3), (0, 0.1)], "y int, s double")
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # replay must be skipped
    state = spark.read.parquet(out).select("score", "pos", "neg")
    both = b0.unionByName(b1)
    got_pr = pr_auc_from_counts(state).first()
    want_pr = pr_auc_score(both, label_col="y", score_col="s").first()
    assert tuple(got_pr) == tuple(want_pr)
    got_roc = auc_from_counts(state).first()
    want_roc = auc_score(both, label_col="y", score_col="s").first()
    assert tuple(got_roc) == tuple(want_roc)


# ---------------------------------------------------------------------------
# verdict item 8 (stretch): calibration drift between frozen snapshots
# ---------------------------------------------------------------------------


def test_calibration_drift_levels_and_membership(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        calibration_drift, ece_binned_counts,
    )

    sch = "g string, lab string, prd string, cf double"
    ref = ece_binned_counts(
        spark.createDataFrame(
            [("en", "a", "a", 0.9), ("en", "a", "b", 0.4),
             ("fr", "a", "a", 0.7)], sch),
        label_col="lab", pred_col="prd", conf_col="cf", group_col="g")
    cur = ece_binned_counts(
        spark.createDataFrame(
            [("en", "a", "a", 0.99), ("en", "a", "b", 0.8),
             ("de", "a", "a", 0.5)], sch),
        label_col="lab", pred_col="prd", conf_col="cf", group_col="g")
    got = {r["group"]: r for r in
           calibration_drift(ref, cur).collect()}
    assert got["de"]["drift_level"] == "new"
    assert got["de"]["n_ref"] == 0 and got["de"]["ece_ref"] is None
    assert got["fr"]["drift_level"] == "gone"
    assert got["fr"]["n_cur"] == 0 and got["fr"]["ece_cur"] is None
    en = got["en"]
    assert en["ece_delta"] == round(
        abs(en["ece_cur"] - en["ece_ref"]), 6)
    assert en["drift_level"] == "shifted"  # 0.155 >= 0.05


def test_audit_report_scan_budget(spark):
    # r15 verdict item 6: the audit report is the flagship composed
    # entry and every round folds more gate rows in — pin a SCAN
    # budget so a fold-in that re-scans the corpus fails loudly
    # instead of growing the entry's cost quietly. The budget is the
    # r16 plan shape: the calibration trio (ECE/Brier/drift) shares
    # ONE checkpointed lang-id scoring pass (4 ExistingRDD reads,
    # ZERO extra FileScans), so documents/embeddings scan counts
    # must not grow past the pinned values. Asserted on the pre-AQE
    # physical plan (AQE duplicates subtrees in executedPlan).
    import re

    import __spark_entry__ as m

    sp = (m._audit_report(spark, SF_SMOKE)
          ._jdf.queryExecution().sparkPlan().toString())
    docs_scans = len(re.findall(r"FileScan parquet[^\n]*documents", sp))
    emb_scans = len(re.findall(r"FileScan parquet[^\n]*embeddings", sp))
    # r17 (VERDICT item 1): the KMV sketch and the exact/ANN rankings
    # are now built ONCE each behind checkpoint seams (was 17/34 when
    # kmv+overlap and retrieval+rbo each re-derived them) — measured
    # 9.79 -> 8.54 s same-session A/B at sf0.1
    assert docs_scans <= 10, (
        f"audit report now scans documents {docs_scans}x (budget 10) "
        "— route new rows through the shared checkpoints "
        "or raise the budget deliberately with a quiet median"
    )
    assert emb_scans <= 18, (
        f"audit report now scans embeddings {emb_scans}x (budget 18)"
    )
    # every checkpoint seam read is a Scan ExistingRDD: the lang-id
    # scoring pass (ece + brier + drift ref/cur = 4 reads), the
    # shared KMV sketch (distinct estimate + the overlap matrix's
    # self-join), and the shared exact/ANN rankings feeding both
    # retrieval_metrics and rank_biased_overlap — 18 reads total in
    # the r17 shape. Pinned exactly, not as a floor: fewer reads means
    # a consumer stopped reading a seam and re-derives its subtree
    # (the file-scan budgets above would only catch that if the
    # re-derivation crossed them), and more reads means a new consumer
    # or seam changed the report's shape. Either way the count moves
    # only with a deliberate edit of this number.
    assert sp.count("Scan ExistingRDD") == 18


def test_calibration_drift_identical_snapshots_are_stable(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        calibration_drift, ece_binned_counts,
    )

    sch = "g string, lab string, prd string, cf double"
    df = spark.createDataFrame(
        [("en", "a", "a", 0.9), ("en", "a", "b", 0.4),
         ("fr", "a", "a", 0.7)], sch)
    st = ece_binned_counts(df, label_col="lab", pred_col="prd",
                           conf_col="cf", group_col="g")
    for r in calibration_drift(st, st).collect():
        assert r["drift_level"] == "stable"
        assert r["ece_delta"] == 0.0
        assert r["n_ref"] == r["n_cur"]


# ---------------------------------------------------------------------------
# r16 third wave: rank correlation (Kendall tau-b + Spearman rho)
# ---------------------------------------------------------------------------


def _brute_rankcorr(rows):
    """First-principles tau-b (O(n^2) pair loop) and Spearman rho
    (average ranks + Pearson) — deliberately NOT the operator's
    contingency algebra."""
    import math
    from collections import Counter

    n = len(rows)
    a = [x for x, _ in rows]
    b = [y for _, y in rows]
    p = q = 0
    for i in range(n):
        for j in range(i + 1, n):
            s = (a[i] - a[j]) * (b[i] - b[j])
            if s > 0:
                p += 1
            elif s < 0:
                q += 1
    da2 = n * (n - 1) - sum(r * (r - 1) for r in Counter(a).values())
    db2 = n * (n - 1) - sum(r * (r - 1) for r in Counter(b).values())
    if da2 <= 0 or db2 <= 0:
        return n, None, None
    tau = 2.0 * (p - q) / (math.sqrt(da2) * math.sqrt(db2))

    def ranks(xs):
        order = sorted(range(n), key=lambda i: xs[i])
        out = [0.0] * n
        i = 0
        while i < n:
            j = i
            while j < n and xs[order[j]] == xs[order[i]]:
                j += 1
            for k in range(i, j):
                out[order[k]] = (i + j - 1) / 2.0 + 1.0
            i = j
        return out

    ra, rb = ranks(a), ranks(b)
    ma = sum(ra) / n
    mb = sum(rb) / n
    cov = sum((x - ma) * (y - mb) for x, y in zip(ra, rb))
    va = sum((x - ma) ** 2 for x in ra)
    vb = sum((y - mb) ** 2 for y in rb)
    rho = cov / math.sqrt(va * vb)
    return n, tau, rho


def _mk_pairs(seed, n, ka, kb, couple):
    import random

    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        x = rng.randrange(ka)
        y = rng.randrange(kb) + (x if couple else 0)
        rows.append((float(x) / 2.0, float(y) / 4.0))
    return rows


def test_rankcorr_matches_brute_force(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation,
    )

    for seed, n, ka, kb, couple in [
        (1, 40, 3, 4, True), (2, 80, 6, 2, False),
        (3, 55, 2, 7, True), (4, 33, 5, 5, False),
    ]:
        rows = _mk_pairs(seed, n, ka, kb, couple)
        df = spark.createDataFrame(rows, "x double, y double")
        got = rank_correlation(df, a_col="x", b_col="y").collect()[0]
        en, et, er = _brute_rankcorr(rows)
        assert got.n == en
        assert got.tau_b == pytest.approx(et, abs=1.5e-6)
        assert got.spearman_rho == pytest.approx(er, abs=1.5e-6)


def test_rankcorr_grouped_equals_per_group_ungrouped(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation, rank_correlation_grouped,
    )

    rows = []
    for gi, g in enumerate(["de", "en", "fr"]):
        rows += [(g, x, y)
                 for x, y in _mk_pairs(10 + gi, 35, 4, 5, gi % 2 == 0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    gr = {r.group: r for r in rank_correlation_grouped(
        df, a_col="x", b_col="y", group_col="g").collect()}
    assert set(gr) == {"de", "en", "fr"}
    for g in gr:
        one = rank_correlation(
            df.where(F.col("g") == g), a_col="x", b_col="y"
        ).collect()[0]
        assert (gr[g].n, gr[g].tau_b, gr[g].spearman_rho) == (
            one.n, one.tau_b, one.spearman_rho), g


def test_rankcorr_from_counts_tolerates_unmerged_duplicates(spark):
    # The defensive re-merge (the auc_from_counts rule): per-batch
    # cell counts concatenated WITHOUT the SUM-merge must reduce to
    # the same statistics as the merged state.
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation, rankcorr_counts, rankcorr_from_counts,
    )

    rows = _mk_pairs(7, 60, 4, 4, True)
    df = spark.createDataFrame(rows, "x double, y double")
    half1 = spark.createDataFrame(rows[:30], "x double, y double")
    half2 = spark.createDataFrame(rows[30:], "x double, y double")
    stacked = rankcorr_counts(half1, a_col="x", b_col="y").unionByName(
        rankcorr_counts(half2, a_col="x", b_col="y")
    )
    got = rankcorr_from_counts(stacked).collect()[0]
    want = rank_correlation(df, a_col="x", b_col="y").collect()[0]
    assert (got.n, got.tau_b, got.spearman_rho) == (
        want.n, want.tau_b, want.spearman_rho)


def test_rankcorr_degenerate_and_perfect(spark):
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation,
    )

    # constant a: tau/rho undefined (exact-integer da2 == 0), n kept
    df = spark.createDataFrame(
        [(1.0, float(i)) for i in range(6)], "x double, y double")
    r = rank_correlation(df, a_col="x", b_col="y").collect()[0]
    assert (r.n, r.tau_b, r.spearman_rho) == (6, None, None)
    # empty input: one (0, NULL, NULL) row
    r = rank_correlation(
        df.where("x > 99"), a_col="x", b_col="y").collect()[0]
    assert (r.n, r.tau_b, r.spearman_rho) == (0, None, None)
    # strictly monotone: both exactly 1.0; reversed: exactly -1.0
    up = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(8)],
        "x double, y double")
    r = up.transform(
        lambda d: rank_correlation(d, a_col="x", b_col="y")
    ).collect()[0]
    assert (r.tau_b, r.spearman_rho) == (1.0, 1.0)
    down = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(8)],
        "x double, y double")
    r = rank_correlation(down, a_col="x", b_col="y").collect()[0]
    assert (r.tau_b, r.spearman_rho) == (-1.0, -1.0)


def test_rankcorr_stream_state_equals_batch(spark, tmp_path):
    # The family contract: two SUM-merged micro-batches + a replayed
    # batch_id -> rankcorr_from_counts over the state equals the
    # batch statistic over the union, and the replay is a no-op.
    import awskinesisconsumer_spark.streaming.pipeline as P
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation, rankcorr_from_counts,
    )

    rows = _mk_pairs(21, 50, 5, 3, True)
    b0 = spark.createDataFrame(rows[:20], "x double, y double")
    b1 = spark.createDataFrame(rows[20:], "x double, y double")
    out = str(tmp_path / "rc_state")
    merge = P._rankcorr_merge_fn(a_col="x", b_col="y", out_path=out)
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # checkpoint replay must be a no-op
    state = P._read_state(spark, out).select("a", "b", "n")
    got = rankcorr_from_counts(state).collect()[0]
    want = rank_correlation(
        b0.unionByName(b1), a_col="x", b_col="y").collect()[0]
    assert (got.n, got.tau_b, got.spearman_rho) == (
        want.n, want.tau_b, want.spearman_rho)


def test_rankcorr_corpus_scale_counts_no_overflow(spark):
    # The docstring's DECIMAL(38,0) claim, pinned at corpus scale:
    # cell counts ~1e11 (n_total 1.5e12 rows — the ~100 TB band,
    # just under the documented ~2.9e12 exactness bound for the
    # n*da^2 power sums) must produce non-NULL statistics that agree
    # with exact Python integer arithmetic replaying the same
    # formulas.
    import math

    from awskinesisconsumer_spark.operators.evaluation import (
        rankcorr_from_counts,
    )

    cells = [
        (0.0, 0.0, 400_000_000_000),
        (0.0, 1.0, 100_000_000_000),
        (1.0, 0.0, 150_000_000_000),
        (1.0, 1.0, 350_000_000_000),
        (2.0, 1.0, 500_000_000_000),
    ]
    counts = spark.createDataFrame(cells, "a double, b double, n long")
    got = rankcorr_from_counts(counts).collect()[0]

    # exact replay in unbounded Python ints
    n = sum(c for _, _, c in cells)
    by = dict(((a, b), c) for a, b, c in cells)
    das, dbs = [0.0, 1.0, 2.0], [0.0, 1.0]
    p_sum = q_sum = 0
    for bi, b in enumerate(dbs):
        acc_lt = acc_gt = 0
        for a in das:
            row = [by.get((a, bb), 0) for bb in dbs]
            p_sum += by.get((a, b), 0) * acc_lt
            q_sum += by.get((a, b), 0) * acc_gt
            acc_lt += sum(row[:bi])
            acc_gt += sum(row[bi + 1:])
    ra = {a: sum(c for (x, _), c in by.items() if x == a) for a in das}
    rb = {b: sum(c for (_, y), c in by.items() if y == b) for b in dbs}
    da2 = n * (n - 1) - sum(r * (r - 1) for r in ra.values())
    db2 = n * (n - 1) - sum(r * (r - 1) for r in rb.values())
    tau = (2.0 * (float(p_sum) - float(q_sum))
           / (math.sqrt(float(da2)) * math.sqrt(float(db2))))

    def dranks(marg, keys):
        out, below = {}, 0
        for k in keys:
            out[k] = 2 * below + marg[k] + 1
            below += marg[k]
        return out

    dra, drb = dranks(ra, das), dranks(rb, dbs)
    s1 = sa = sb = saa = sbb = sab = 0
    for (a, b), c in by.items():
        s1 += c
        sa += c * dra[a]
        sb += c * drb[b]
        saa += c * dra[a] ** 2
        sbb += c * drb[b] ** 2
        sab += c * dra[a] * drb[b]
    assert saa < 10 ** 38 and sbb < 10 ** 38  # inside the DECIMAL band
    rho = ((float(s1) * float(sab) - float(sa) * float(sb))
           / (math.sqrt(float(s1) * float(saa) - float(sa) ** 2)
              * math.sqrt(float(s1) * float(sbb) - float(sb) ** 2)))

    assert got.n == n
    assert got.tau_b is not None and got.spearman_rho is not None
    assert got.tau_b == round(tau, 6)
    assert got.spearman_rho == round(rho, 6)


def test_rankcorr_scan_budget(spark):
    # The cell table feeds eight downstream subtrees; without the
    # lazy localCheckpoint lineage cut Catalyst recomputed the
    # corpus scan PER SUBTREE (8 FileScans measured). Pin the fix:
    # the composed physical plan carries ZERO direct corpus scans —
    # the one real scan runs once, inside the checkpoint
    # materialization (asserted on sparkPlan(), pre-AQE — the
    # executedPlan duplicates subtrees under AQE).
    from awskinesisconsumer_spark.operators.evaluation import (
        rank_correlation, rank_correlation_grouped,
    )

    docs = _load(spark, SF_SMOKE, "documents")
    src = docs.select(
        "lang",
        (F.xxhash64("text") % 100).alias("x"),
        (F.xxhash64("text", F.lit(1)) % 20).alias("y"),
    )
    for df in (
        rank_correlation(src, a_col="x", b_col="y"),
        rank_correlation_grouped(
            src.where(F.col("lang").isNotNull()),
            a_col="x", b_col="y", group_col="lang"),
    ):
        plan = df._jdf.queryExecution().sparkPlan().toString()
        assert plan.count("FileScan parquet") == 0, plan[:2000]
        # and the checkpointed cell table is what feeds the plan
        assert "ExistingRDD" in plan
