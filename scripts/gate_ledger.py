"""Gate-rotation ledger: machine-checks the contract that every
`queries()` entry past the external gate's 50-entry window is (a)
hash-green in SOME `CORRECTNESS_r*.json` snapshot — newest record per
query wins — and (b) textually unchanged since that green record.

The external driver gates only the first 50 `queries()` keys per
round, so with >50 registered queries the green evidence for tail
entries lives in EARLIER snapshots. This module builds the union view
and maintains `GATE_LEDGER.json`:

    {query: {"green_round": N, "fingerprint": sha256-hex}}

The fingerprint is `__spark_entry__.gate_fingerprint`: the query
callable's source (via `inspect.getsource`) concatenated with its
oracle SQL, recorded when the query's green record lands. The window
follows the ledger by itself: `queries()` returns the registry in
`__spark_entry__.gate_order`, so an entry whose function or oracle
changed since its record (a stale fingerprint) or that has no record
yet heads the window, followed by the rows-only residents and then
the oldest records. (Operator-module changes below the entry function
are NOT captured by the fingerprint; they are covered by the local
full-registry parity test, which runs every entry regardless of
position.) `tests/test_oracle_parity.py::test_gate_rotation_invariant`
fails only if more entries must gate than the window holds.

Usage (run at round start, after the driver writes a new snapshot):

    python scripts/gate_ledger.py          # update GATE_LEDGER.json
    python scripts/gate_ledger.py --check  # READ-ONLY: report
                                           # staleness, rc!=0 if any;
                                           # never writes the ledger
    python scripts/gate_ledger.py --table  # window summary for README
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER_PATH = os.path.join(REPO, "GATE_LEDGER.json")


def snapshots() -> list[tuple[int, dict]]:
    """All CORRECTNESS_r*.json as (round, payload), ascending round."""
    out = []
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        with open(p) as f:
            out.append((rnd, json.load(f)))
    return sorted(out)


def latest_records() -> dict[str, tuple[int, dict]]:
    """Per query, the record from the NEWEST snapshot mentioning it."""
    merged: dict[str, tuple[int, dict]] = {}
    for rnd, payload in snapshots():  # ascending, so later wins
        for q, rec in payload.items():
            merged[q] = (rnd, rec)
    return merged


def is_green(rec: dict) -> bool:
    """Strict green = driver value-hash match. Rows-only queries (no
    oracle) never get hash_match and must stay inside the gate window
    where their weaker rows-only record is at least refreshed."""
    return bool(rec.get("hash_match"))


def green_rounds() -> dict[str, int]:
    """query -> round of its latest record, for queries green there."""
    return {
        q: rnd for q, (rnd, rec) in latest_records().items()
        if is_green(rec)
    }


def current_fingerprints() -> dict[str, str]:
    sys.path.insert(0, REPO)
    import __spark_entry__ as m

    osql = m.oracle_sql()
    return {
        q: m.gate_fingerprint(fn, osql.get(q))
        for q, fn in m.queries().items()
    }


def load_ledger() -> dict:
    if os.path.exists(LEDGER_PATH):
        with open(LEDGER_PATH) as f:
            return json.load(f)
    return {}


def fold_ledger() -> tuple[dict, list[str]]:
    """Pure fold of the newest green records over the on-disk ledger —
    NO file writes (r13 VERDICT item 4: `--check` must be read-only).

    A query advances (round + fingerprint re-recorded) only when a
    NEWER green round appears; if its code changed with no newer green
    record, the old fingerprint is kept so the invariant test fails —
    that is the point.
    """
    ledger = load_ledger()
    fps = current_fingerprints()
    stale: list[str] = []
    for q, rnd in green_rounds().items():
        if q not in fps:  # gated historically, since deregistered
            continue
        ent = ledger.get(q)
        if ent is None or rnd > ent["green_round"]:
            ledger[q] = {"green_round": rnd, "fingerprint": fps[q]}
        elif ent["fingerprint"] != fps[q]:
            stale.append(q)
    return ledger, stale


def update_ledger() -> tuple[dict, list[str]]:
    """fold_ledger(), then persist the folded view to GATE_LEDGER.json."""
    ledger, stale = fold_ledger()
    with open(LEDGER_PATH, "w") as f:
        json.dump(dict(sorted(ledger.items())), f, indent=1, sort_keys=True)
        f.write("\n")
    return ledger, stale


def window_rows() -> list[tuple[str, str, int]]:
    """(position, reason, entries) runs of the `queries()` order, each
    entry labeled by the `gate_key` tier that places it: "new or
    changed (must gate)", "rows-only" or "ledger rN" — read from
    GATE_LEDGER.json and the current fingerprints, as the order is."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as m

    ledger = load_ledger()
    fps = current_fingerprints()
    rows: list[tuple[str, str, int]] = []
    for pos, q in enumerate(m.queries()):
        tier, rnd, _ = m.gate_key(q, ledger, fps, m.ROWS_ONLY_BY_DESIGN)
        reason = ("new or changed (must gate)", "rows-only",
                  f"ledger r{rnd}")[tier]
        where = "1-50 (gated this round)" if pos < 50 else ">50 (rides ledger)"
        if rows and rows[-1][:2] == (where, reason):
            rows[-1] = (where, reason, rows[-1][2] + 1)
        else:
            rows.append((where, reason, 1))
    return rows


def rotation_table() -> str:
    """Markdown summary of the gate window for README, in gate order:
    how many entries sit in each position range, and why there."""
    rows = window_rows()
    lines = ["| position | entries | why there |", "|---|---|---|"]
    lines += [f"| {where} | {n} | {reason} |" for where, reason, n in rows]
    lines.append(
        f"\n({sum(n for _, _, n in rows)} registered; order from "
        "GATE_LEDGER.json; regenerate with "
        "`python scripts/gate_ledger.py --table`)"
    )
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if "--table" in argv:
        print(rotation_table())
        return 0
    check_only = "--check" in argv
    ledger, stale = fold_ledger() if check_only else update_ledger()
    where = ("(read-only check)" if check_only
             else f"-> {os.path.relpath(LEDGER_PATH, REPO)}")
    print(f"ledger: {len(ledger)} green-recorded queries {where}")
    for q in stale:
        print(f"STALE: {q} changed since its round-"
              f"{ledger[q]['green_round']} green record — queries() "
              "keeps it in the gate window until a snapshot re-gates it")
    if check_only and stale:
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
