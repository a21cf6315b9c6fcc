"""Property-based tests (hypothesis) for the round-12 kernels —
driver-side replicas of the exact float algebra, thousands of cases
without a Spark job per example (Spark-side integration + oracle
parity live in tests/test_round12_ops.py)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


def _assign_reference(vectors, centroids):
    """The `ivf_assign` spec in plain python: per centroid, a LEFT FOLD
    over dims of (v_j - c_j)^2 in python floats (the F.aggregate and
    DuckDB list_reduce order), then min over (distance, index) —
    first-min ties."""
    out = []
    for v in vectors:
        best, best_d = 0, None
        for i, c in enumerate(centroids):
            acc = 0.0
            for a, b in zip(v, c):
                acc = acc + (a - b) * (a - b)
            if best_d is None or acc < best_d:
                best, best_d = i, acc
        out.append(best)
    return out


def _assign_kernel(vectors, centroids, rows):
    """The `ivf_assign` kernel body on the driver: `_sq_dist_blocks`
    in blocks of `rows` vectors, np.argmin first-min ties."""
    import pandas as pd

    from awskinesisconsumer_spark.operators.similarity import (
        _sq_dist_blocks,
    )

    out = [0] * len(vectors)
    C = np.array(centroids, dtype=np.float64)
    for pos, d2 in _sq_dist_blocks(pd.Series(vectors), C, rows):
        for p, cell in zip(pos, d2.argmin(axis=1)):
            out[p] = int(cell)
    return out


_vals = st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False)


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_ivf_assign_kernel_bit_equals_literal_fold(data):
    dim = data.draw(st.integers(1, 8))
    k = data.draw(st.integers(1, 6))
    base = data.draw(st.lists(
        st.lists(_vals, min_size=dim, max_size=dim),
        min_size=1, max_size=k,
    ))
    # duplicate some centroids deliberately: EXACT distance ties must
    # resolve to the lowest index on both paths
    centroids = (base * ((k // len(base)) + 1))[:k]
    vectors = data.draw(st.lists(
        st.lists(_vals, min_size=dim, max_size=dim),
        min_size=1, max_size=20,
    ))
    rows = data.draw(st.integers(1, 4))
    assert _assign_kernel(vectors, centroids, rows) == _assign_reference(
        vectors, centroids
    )


# ---- token-quota / pack negative-token algebra (r11 ADVICE pin) ----

@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 10**6),
                          st.integers(-500, 500)),
                min_size=0, max_size=50,
                unique_by=lambda t: t[0]),
       st.integers(0, 2000))
def test_quota_stream_chunking_invariant_with_negatives(rows, quota):
    # Whatever the micro-batch chunking, the per-shard running cumsum
    # (NO clamping — negatives flow through, the batch twin's
    # algebra) is a pure function of the id-ordered prefix.
    ordered = sorted(rows)
    cum, kept = 0, {}
    for rid, toks in ordered:
        cum += toks
        kept[rid] = (cum, cum <= quota)
    # replay in 3 arbitrary chunks with carried state, like the
    # applyInPandasWithState kernel
    state = 0
    got = {}
    n = len(ordered)
    cuts = sorted({0, n // 3, (2 * n) // 3, n})
    for a, b in zip(list(cuts)[:-1], list(cuts)[1:]):
        chunk = ordered[a:b]
        run = state
        for rid, toks in chunk:
            run += toks
            got[rid] = (run, run <= quota)
        state = run
    assert got == kept


# --- KMV sketch algebra (driver-side replica of the exact spec) -------


def _bottom_k(values, k):
    return sorted(set(values))[:k]


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=(1 << 52) - 1),
             min_size=1, max_size=200),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=64),
)
def test_kmv_merge_identity_holds_for_any_sharding(hashes, n_shards, k):
    # bottom-k(union) == bottom-k(union of per-shard bottom-k's),
    # for EVERY sharding — the identity ext-kmv-merge's gate rests
    # on (Spark-side shard check in test_round12_ops).
    shards = [hashes[i::n_shards] for i in range(n_shards)]
    merged_parts = [h for s in shards for h in _bottom_k(s, k)]
    assert _bottom_k(merged_parts, k) == _bottom_k(hashes, k)


@settings(max_examples=300, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=(1 << 52) - 1),
            min_size=0, max_size=100),
    st.sets(st.integers(min_value=0, max_value=(1 << 52) - 1),
            min_size=0, max_size=100),
)
def test_kmv_set_ops_exact_below_k(a, b):
    # When the merged sketch holds every distinct hash (n < k), the
    # operator's estimates ARE the true set counts — replicating
    # kmv_set_ops' expressions in python floats.
    k = 256
    union = a | b
    inter = a & b
    n_merged = len(union)
    assert n_merged < k  # fixture keeps the exact branch
    if n_merged == 0:
        return
    big_k = float(min(n_merged, k))
    union_raw = float(n_merged)
    jac = round(len(inter) / big_k * union_raw, 4)
    # exact-branch intersection estimate equals |A&B| only when the
    # bottom-K covers the whole union (it does: n_merged < k)
    assert jac == round(float(len(inter)), 4)


# --- RBO tail decomposition == the direct truncated formula -----------


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=0,
             max_size=10, unique=True),
    st.lists(st.integers(min_value=0, max_value=50), min_size=0,
             max_size=10, unique=True),
)
def test_rbo_tail_decomposition_matches_direct_formula(la, lb):
    # Direct Webber et al. truncated form: sum_d (1-p) p^(d-1) X_d/d
    # with X_d = |A_d intersect B_d| — vs the operator's per-item
    # TAIL[max(ra, rb)] decomposition. Exact float equality is NOT
    # asserted (different summation orders); 1e-12 closeness is.
    from awskinesisconsumer_spark.operators.similarity import (
        rbo_tail_weights,
    )

    k, p = 10, 0.9
    ra = {item: i + 1 for i, item in enumerate(la)}
    rb = {item: i + 1 for i, item in enumerate(lb)}
    direct = 0.0
    for d in range(1, k + 1):
        ad = {it for it, r in ra.items() if r <= d}
        bd = {it for it, r in rb.items() if r <= d}
        direct += (1.0 - p) * p ** (d - 1) * len(ad & bd) / d
    tails = rbo_tail_weights(k, p)
    decomposed = sum(
        tails[max(ra[it], rb[it]) - 1] for it in set(ra) & set(rb)
    )
    assert abs(direct - decomposed) < 1e-12
