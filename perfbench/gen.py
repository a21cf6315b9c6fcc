"""Seeded, single-threaded input generators and their expected outputs.

Every count of work is fixed by construction, not sampled: two seeds
produce the same number of records, frames, tagless fragments, corrupt
blocks, state rows and planted duplicates. The seed changes which
bytes, keys and texts they carry, so byte and token totals differ by
well under 1%. All inputs are written before the benchmark starts its
clock.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# kvs-ingest: MKV fragments as (chunk_id, payload) rows
# --------------------------------------------------------------------------

TAG_NAMES = (
    "AWS_KINESISVIDEO_FRAGMENT_NUMBER",
    "AWS_KINESISVIDEO_SERVER_TIMESTAMP",
    "AWS_KINESISVIDEO_PRODUCER_TIMESTAMP",
    "AWS_KINESISVIDEO_MILLIS_BEHIND_NOW",
    "AWS_KINESISVIDEO_CONTINUATION_TOKEN",
)
CHUNK_SCHEMA = pa.schema([("chunk_id", pa.int64()), ("payload", pa.binary())])

FRAMES_PER_FRAGMENT = (20, 24, 28, 32, 36, 40)   # cycled through, never sampled
BLOCK_BYTES = (512, 1024, 1536, 2048, 2560, 3072, 3584, 4096)
TAGLESS_EVERY = 16       # one fragment in 16 has no Tags section
CORRUPT_EVERY = 8        # one fragment in 8 carries one truncated block


def _size_vint(n: int) -> bytes:
    w = 1
    while n >= (1 << (7 * w)) - 1:
        w += 1
    return (n | (1 << (7 * w))).to_bytes(w, "big")


def _el(eid: int, body: bytes) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big") + _size_vint(len(body)) + body


_EBML_HEAD = _el(0x1A45DFA3, _el(0x4282, b"matroska") + _el(0x4285, b"\x02"))
_SEGMENT_UNKNOWN = bytes.fromhex("1853806701ffffffffffffff")


@dataclass
class Frame:
    chunk_id: int
    position: int
    payload: bytes
    track: int | None
    timecode: int | None
    keyframe: bool | None


@dataclass
class Fragment:
    chunk_id: int
    payload: bytes
    tags: dict | None
    frames: list[Frame] = field(default_factory=list)


def make_fragment(rng: np.random.Generator, chunk_id: int, n_frames: int,
                  *, tagged: bool, corrupt: bool) -> Fragment:
    """One self-contained MKV fragment: EBML header, an unknown-size
    Segment holding a Tags section with the five KVS tags (unless
    untagged) and one Cluster of `n_frames` SimpleBlocks. With
    `corrupt`, one block carries a truncated header."""
    tags = None
    head = _EBML_HEAD + _SEGMENT_UNKNOWN
    if tagged:
        tags = {
            "AWS_KINESISVIDEO_FRAGMENT_NUMBER": f"91343852333{chunk_id:027d}",
            "AWS_KINESISVIDEO_SERVER_TIMESTAMP": f"{1700000000 + chunk_id * 2}.{chunk_id % 1000:03d}",
            "AWS_KINESISVIDEO_PRODUCER_TIMESTAMP": f"{1700000000 + chunk_id * 2}.{(chunk_id * 7) % 1000:03d}",
            "AWS_KINESISVIDEO_MILLIS_BEHIND_NOW": str(int(rng.integers(0, 5000))),
            "AWS_KINESISVIDEO_CONTINUATION_TOKEN": f"{int(rng.integers(1 << 62)):019d}{chunk_id:012d}",
        }
        simple = b"".join(
            _el(0x67C8, _el(0x45A3, k.encode()) + _el(0x4487, v.encode()))
            for k, v in tags.items()
        )
        head += _el(0x1254C367, _el(0x7373, simple))
    sizes = rng.choice(BLOCK_BYTES, n_frames)
    bad = int(rng.integers(1, n_frames)) if corrupt else -1
    body = bytearray(_el(0xE7, (chunk_id * 2000).to_bytes(4, "big")))
    frag = Fragment(chunk_id, b"", tags)
    base = len(head) + 12   # Cluster id (4 bytes) + 8-byte size
    for i, size in enumerate(sizes):
        if i == bad:
            data = b"\x81\x00"               # track + half a timecode
            meta = (None, None, None)
        else:
            tc = i * 33
            key = i == 0
            data = (b"\x81" + tc.to_bytes(2, "big", signed=True)
                    + (b"\x80" if key else b"\x00") + rng.bytes(int(size) - 4))
            meta = (1, tc, key)
        el = _el(0xA3, data)
        pos = base + len(body) + (len(el) - len(data))
        frag.frames.append(Frame(chunk_id, pos, data, *meta))
        body += el
    cluster = (0x1F43B675).to_bytes(4, "big") + (len(body) | (1 << 56)).to_bytes(8, "big")
    frag.payload = head + cluster + bytes(body)
    return frag


def make_fragments(seed: int, first_id: int, count: int) -> list[Fragment]:
    """`count` fragments with ids first_id.. and a fixed total of
    frames, tagless fragments and corrupt blocks for any seed."""
    rng = np.random.default_rng([seed, first_id])
    per = np.resize(np.array(FRAMES_PER_FRAGMENT), count)
    rng.shuffle(per)
    return [
        make_fragment(rng, first_id + i, int(per[i]),
                      tagged=(first_id + i) % TAGLESS_EVERY != 5,
                      corrupt=(first_id + i) % CORRUPT_EVERY == 3)
        for i in range(count)
    ]


def write_fragments(path: str, frags: list[Fragment]) -> None:
    pq.write_table(pa.table({
        "chunk_id": pa.array([f.chunk_id for f in frags], pa.int64()),
        "payload": pa.array([f.payload for f in frags], pa.binary()),
    }), path)


# --------------------------------------------------------------------------
# events-stateful: keyed events with a fixed signup-boundary rate
# --------------------------------------------------------------------------

EVENT_SCHEMA = pa.schema([
    ("user_id", pa.int64()), ("event_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()),
])
N_USERS = 256
ZIPF_S = 1.1
SIGNUP_RATE = 0.08
HIST_LO, HIST_HI, HIST_BINS = 0.0, 100.0, 50


def zipf_counts(total: int, n_keys: int = N_USERS, s: float = ZIPF_S) -> np.ndarray:
    """Truncated-Zipf event counts per key rank, at least 2 each,
    summing to exactly `total` (largest-remainder rounding)."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    spare = total - 2 * n_keys
    raw = spare * w / w.sum()
    counts = np.floor(raw).astype(np.int64)
    counts[np.argsort(raw - counts)[::-1][: spare - counts.sum()]] += 1
    return counts + 2


def make_events(seed: int, n_events: int) -> pa.Table:
    """`n_events` events over N_USERS keys: per-key counts follow a
    truncated Zipf law (fixed by rank; the seed shuffles which user id
    holds which rank), each key's stream has a fixed number of
    `signup` boundaries and ends on a pending `click`, so the
    end-of-stream state holds exactly one row per key. Event ids
    increase through the table; the interleaving is seeded."""
    rng = np.random.default_rng([seed, 7])
    counts = zipf_counts(n_events)
    users = rng.permutation(N_USERS).astype(np.int64)
    owner = np.repeat(users, counts)
    rng.shuffle(owner)
    etype = np.full(n_events, "click", dtype=object)
    # per user, signups at a fixed share of its events, never its last
    for u, c in zip(users, counts):
        idx = np.flatnonzero(owner == u)
        k = int(round(SIGNUP_RATE * c))
        if k:
            etype[rng.choice(idx[:-1], k, replace=False)] = "signup"
    return pa.table({
        "user_id": pa.array(owner, pa.int64()),
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(np.round(rng.random(n_events) * 100.0, 3), pa.float64()),
    }, schema=EVENT_SCHEMA)


def asof_reference(t: pa.Table) -> tuple[dict[int, int], int]:
    """What the as-of join and histogram must produce for the events in
    `t`: bin counts of every click a later signup of the same user has
    flushed (in event-id order), and the number of users left with
    pending clicks, which is the native state's row count. Binning
    mirrors an equi-width histogram over [LO, HI) with out-of-range
    values clamped into the edge bins."""
    order = np.argsort(t["event_id"].to_numpy(), kind="stable")
    uid = t["user_id"].to_numpy()[order]
    sign = (t["event_type"].to_numpy(zero_copy_only=False) == "signup")[order]
    val = t["value"].to_numpy()[order]
    width = (HIST_HI - HIST_LO) / HIST_BINS
    pending: dict[int, list[float]] = {}
    hist: dict[int, int] = {}
    for u, s, v in zip(uid.tolist(), sign.tolist(), val.tolist()):
        if s:
            for pv in pending.pop(u, []):
                b = min(max(math.floor((pv - HIST_LO) / width), 0), HIST_BINS - 1)
                hist[b] = hist.get(b, 0) + 1
        else:
            pending.setdefault(u, []).append(v)
    return hist, len(pending)


# --------------------------------------------------------------------------
# corpus-dedup: documents with planted duplicates, embeddings with clusters
# --------------------------------------------------------------------------

VOCAB_SIZE = 5000
DOC_WORDS = (60, 90, 120, 150, 180, 210, 240)
EMB_DIM = 32
TOKEN_RE = re.compile(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]")


@dataclass
class Corpus:
    docs: pa.Table              # doc_id, text
    emb: pa.Table               # vec_id, embedding
    exact_dup_ids: set[int]     # ids that exact dedup must remove
    near_pairs: set[tuple[int, int]]   # planted near-duplicate pairs (a < b)
    clusters: list[list[int]]   # planted semantic clusters (vec ids)


def make_corpus(seed: int, n_base: int, n_exact: int, n_near: int,
                n_vecs: int, n_clusters: int, cluster_size: int) -> Corpus:
    """`n_base` distinct documents plus `n_exact` verbatim copies and
    `n_near` one-word edits of randomly chosen base documents, ids
    shuffled; and `n_vecs` unit vectors in which `n_clusters` tight
    clusters of `cluster_size` near-identical vectors are planted
    among otherwise random directions."""
    rng = np.random.default_rng([seed, 11])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(sorted({"".join(rng.choice(letters, int(rng.integers(3, 9))))
                             for _ in range(VOCAB_SIZE)}), dtype=object)
    lengths = np.resize(np.array(DOC_WORDS), n_base)
    rng.shuffle(lengths)
    base = []
    for n in lengths:
        words = list(vocab[rng.integers(len(vocab), size=int(n))])
        # punctuation every ~12 words, so token counts differ from word counts
        for j in range(11, len(words), 12):
            words[j] += ","
        base.append(" ".join(words) + ".")
    src_exact = rng.choice(n_base, n_exact, replace=False)
    src_near = rng.choice(n_base, n_near, replace=False)
    texts = list(base)
    for i in src_exact:
        texts.append(base[i])
    for i in src_near:
        words = base[i].split(" ")
        j = int(rng.integers(1, len(words) - 1))
        words[j] = "zq" + words[j]
        texts.append(" ".join(words))
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    first_id: dict[str, int] = {}
    exact_dup_ids: set[int] = set()
    for idx in np.argsort(ids):
        t = texts[idx]
        if t in first_id:
            exact_dup_ids.add(int(ids[idx]))
        else:
            first_id[t] = int(ids[idx])
    near_pairs = set()
    for k, i in enumerate(src_near):
        # pair the edit with the copy of its source that exact dedup keeps
        a, b = first_id[base[i]], int(ids[n_base + n_exact + k])
        near_pairs.add((min(a, b), max(a, b)))
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})

    vecs = rng.standard_normal((n_vecs, EMB_DIM))
    clusters = []
    members = rng.choice(n_vecs, (n_clusters, cluster_size), replace=False)
    for row in members:
        centre = vecs[row[0]]
        for j in row[1:]:
            vecs[j] = centre + 1e-6 * rng.standard_normal(EMB_DIM)
        clusters.append([int(j) + 1 for j in row])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(1, n_vecs + 1), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
    })
    return Corpus(docs, emb, exact_dup_ids, near_pairs, clusters)


def token_count(text: str) -> int:
    return len(TOKEN_RE.findall(text))


def arrival_offsets(seed: int, n: int, seconds: float) -> np.ndarray:
    """`n` open-loop arrival times in [0, seconds): seeded exponential
    gaps rescaled to the window, i.e. a Poisson process conditioned on
    its count, so the count is fixed and the phase is random."""
    gaps = np.random.default_rng([seed, 3]).exponential(1.0, n + 1)
    return seconds * np.cumsum(gaps)[:-1] / gaps.sum()
