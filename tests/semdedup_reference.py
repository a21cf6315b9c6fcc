"""Pure-Python reference for the SemDeDup cell mine, the oracle of the
numpy cell kernels (`similarity._cell_pairs` / `_cell_labels`): each
pair's cosine is a left fold over dims in Python floats, rounded
HALF_UP to 6 dp on the shortest decimal of the double, as Spark's
`round` does. Rows are (id, cell, vector) triples."""

from __future__ import annotations

import decimal
import math
from itertools import combinations

_Q6 = decimal.Decimal("1e-6")


def half_up(x, q=_Q6):
    """`x` rounded HALF_UP to the decimal quantum `q`."""
    return float(decimal.Decimal(repr(x)).quantize(
        q, rounding=decimal.ROUND_HALF_UP))


def ref_cosine(a, b):
    """The cosine of `a` and `b` as the kernels score it, or None:
    only vectors of equal length are scored, and a NULL or NaN
    element (Arrow hands a NULL element to pandas as NaN) or a zero
    norm gives no score."""
    if a is None or b is None or len(a) != len(b):
        return None
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    denom = math.sqrt(na) * math.sqrt(nb)
    if not denom > 0:
        return None
    cos = dot / denom
    return None if math.isnan(cos) else half_up(cos)


def _by_cell(rows):
    cells = {}
    for i, c, v in rows:
        cells.setdefault(c, []).append((i, v))
    return cells


def _pairs_in(members, threshold):
    """One (id_a, id_b) per pair of rows whose ids are set and differ
    and whose cosine reaches `threshold` (a duplicated id pairs once
    per row)."""
    for (ia, va), (ib, vb) in combinations(members, 2):
        if ia is None or ib is None or ia == ib:
            continue
        cos = ref_cosine(va, vb)
        if cos is not None and cos >= threshold:
            yield min(ia, ib), max(ia, ib)


def ref_cell_pairs(rows, threshold, cell_cap=None):
    """The sorted (id_a, id_b) rows of the cell mine: pairs inside
    each cell of at most `cell_cap` rows (NULL-id rows count)."""
    return sorted(
        p for members in _by_cell(rows).values()
        if cell_cap is None or len(members) <= cell_cap
        for p in _pairs_in(members, threshold)
    )


def _find(root, x):
    while root[x] != x:
        x = root[x]
    return x


def ref_labels(rows, threshold, cell_cap=None):
    """`semantic_dedup` at n_assign=1: the sorted (id, cell,
    cluster_id, kept) rows, one per row with a non-NULL id.
    cluster_id is the smallest id of the row's component in its own
    cell's pair graph; a cell over `cell_cap` rows keeps every row as
    a singleton."""
    out = []
    for c, members in _by_cell(rows).items():
        root = {i: i for i, _ in members if i is not None}
        if cell_cap is None or len(members) <= cell_cap:
            for a, b in _pairs_in(members, threshold):
                ra, rb = _find(root, a), _find(root, b)
                root[max(ra, rb)] = min(ra, rb)
        for i, _ in members:
            if i is not None:
                cid = _find(root, i)
                out.append((i, c, cid, i == cid))
    return sorted(out)
