"""Vector similarity search (north-star `ext-similarity-search`).

Two tiers over an `array<float>` embedding column:

* brute-force cosine — exact baseline. All arithmetic via
  `F.zip_with`/`F.aggregate` column expressions (JVM-side, codegen);
  the query vector is inlined as a literal array (broadcast-by-value).
  Scale shape: one narrow pass over the corpus + TakeOrderedAndProject
  for top-k — no shuffle of the corpus at all.

* LSH-bucketed (random hyperplane / SRP) — the scale path: sign-bit
  sketch per vector, candidates = same-bucket vectors, exact cosine
  re-rank inside buckets. Probe adjacent buckets (Hamming radius 1) to
  trade recall vs. fan-out. At 100 TB the corpus is bucketed once
  (write-time partitionBy(bucket)) and each query touches a handful of
  partitions — partition pruning does the rest.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType, IntegerType, StructField, StructType,
)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))


def _safe_div(num, denom):
    """NULL instead of NaN/Inf on zero denominators: NaN sorts GREATER
    than every double in Spark, so an unguarded 0/0 would rank
    zero-norm vectors at the TOP of every desc similarity ordering."""
    return F.when(denom > 0, num / denom)


def cosine_scores(
    df: DataFrame, *, vec_col: str, query: list[float], out_col: str = "cosine_sim",
) -> DataFrame:
    """Cosine similarity of every row's vector against a literal query
    vector (rounded to 6 dp for cross-engine comparability).
    Zero-norm vectors score NULL (excluded by threshold filters,
    sorted last by desc orderings)."""
    q = F.array(*[F.lit(float(v)) for v in query])
    qnorm = math.sqrt(sum(float(v) * float(v) for v in query))
    sim = _safe_div(_dot(F.col(vec_col), q), _norm(F.col(vec_col)) * F.lit(qnorm))
    return df.withColumn(out_col, F.round(sim, 6))


def knn_brute_force(
    df: DataFrame, *, id_col: str, vec_col: str, query: list[float], k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine: narrow scoring pass + global top-k
    (TakeOrderedAndProject — per-partition heap, k-row merge)."""
    scored = cosine_scores(df, vec_col=vec_col, query=query)
    return (
        scored.select(id_col, "cosine_sim")
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def srp_bucket(df: DataFrame, *, vec_col: str, planes: list[list[float]],
               out_col: str = "bucket") -> DataFrame:
    """Signed-random-projection bucket id: one sign bit per hyperplane.
    Planes are literals (deterministic, seeded by the caller); the
    whole sketch is column arithmetic — no UDF, no shuffle."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        bit = F.when(_dot(F.col(vec_col), plane) >= 0, F.lit(1).cast("long")).otherwise(0)
        bucket = bucket.bitwiseXOR(F.shiftleft(bit, i))
    return df.withColumn(out_col, bucket)


def knn_lsh(
    df: DataFrame, *, id_col: str, vec_col: str, query: list[float],
    planes: list[list[float]], k: int = 10,
) -> DataFrame:
    """ANN top-k: score only vectors whose SRP bucket is within Hamming
    distance 1 of the query's bucket, then exact cosine re-rank."""
    n_planes = len(planes)
    qbits = 0
    for i, p in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query, p))
        if dot >= 0:
            qbits |= 1 << i
    probe = [qbits] + [qbits ^ (1 << i) for i in range(n_planes)]
    bucketed = srp_bucket(df, vec_col=vec_col, planes=planes)
    cand = bucketed.where(F.col("bucket").isin(probe))
    return knn_brute_force(cand, id_col=id_col, vec_col=vec_col, query=query, k=k)


def _norm2_diff(v, centroid: list[float]):
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _centroid_matrix(centroids, *, centroid_id_col: str,
                     centroid_vec_col: str, caller: str):
    """Coerce a centroid spec — list[list[float]], numpy (k, dim)
    matrix, or a (`centroid_id_col`, `centroid_vec_col`) DataFrame —
    into the dense float64 (k, dim) matrix the assignment kernels
    broadcast. DataFrame ids must be exactly 0..k-1 (they ARE the
    emitted cell ids); size-guarded because the matrix rides every
    task's closure."""
    import numpy as np

    if isinstance(centroids, DataFrame):
        sel = centroids.select(centroid_id_col, centroid_vec_col)
        # Size-guard BEFORE the driver materializes anything (r12
        # verdict item 4: the guard exists to prevent a driver OOM,
        # so on the DataFrame path it must fire before collect(),
        # not after). ONE small agg job: row count and the LARGEST
        # vector size — deriving dim from an arbitrary single row
        # would let a NULL/short outlier vector understate the bound
        # and collect the oversized table anyway.
        shape = sel.agg(
            F.count(F.lit(1)).alias("_n"),
            F.max(F.size(F.col(centroid_vec_col))).alias("_d"),
        ).first()
        k_rows = int(shape["_n"])
        dim0 = max(int(shape["_d"] or 1), 1)
        if k_rows * dim0 > 50_000_000:
            raise ValueError(
                f"{caller}: centroid table has ~{k_rows * dim0}"
                " elements (> 5e7); use fewer/lower-dim centroids"
            )
        rows = sel.collect()
        ids = sorted(int(r[0]) for r in rows)
        if ids != list(range(len(rows))):
            raise ValueError(
                f"{caller}: centroid ids must be exactly "
                f"0..k-1, got {ids[:5]}..{ids[-3:] if ids else []}"
            )
        by_id = sorted(rows, key=lambda r: int(r[0]))
        C = np.array([[float(x) for x in r[1]] for r in by_id],
                     dtype=np.float64)
    else:
        C = np.asarray(centroids, dtype=np.float64)
    if C.ndim != 2 or C.shape[0] < 1:
        raise ValueError(
            f"{caller}: need a (k, dim) centroid matrix with "
            f"k >= 1, got shape {C.shape}"
        )
    if C.size > 50_000_000:
        # the closure ships one dense float64 matrix per task setup;
        # past ~400 MB that is a broadcast problem, not an assign
        # problem — train a coarser quantizer or shard the assign
        raise ValueError(
            f"{caller}: centroid matrix has {C.size} elements "
            "(> 5e7); use fewer/lower-dim centroids"
        )
    return C


# Cap on one row block's score matrix in the numpy kernels: 4M
# float64 cells, 32 MiB. The assignment kernels score an Arrow batch
# in blocks of _BLOCK_CELLS // k rows against the k centroids (plus a
# same-size temporary); the SemDeDup cell kernels score a cell of n
# rows in blocks of _BLOCK_CELLS // n rows against the rest of the
# cell (`_np_fold_cosines` and its rounding hold up to ~10 same-size
# temporaries, ~300 MiB). Memory per task stays flat however large k
# or the cell grows.
_BLOCK_CELLS = 1 << 22


def _sq_dist_blocks(v: pd.Series, C, rows: int):
    """Yield (positions, d2) over the vectors of `v` whose length is
    the centroid dim, `rows` at a time: d2 is the (rows x k) squared
    L2 distance of each to every centroid, accumulated
    dimension-SEQUENTIALLY (vectorized over rows and centroids, but
    each dim's term added in dim order) — the exact float left fold
    of `_norm2_diff` and of the oracles' list_reduce, so the argmin
    replays in SQL bit for bit."""
    import numpy as np

    k, dim = C.shape
    ok = v.apply(lambda x: x is not None and len(x) == dim).to_numpy()
    hit = np.nonzero(ok)[0]
    for s in range(0, len(hit), rows):
        pos = hit[s:s + rows]
        V = np.stack(v.iloc[pos].to_numpy()).astype(np.float64)
        d2 = np.zeros((len(pos), k))
        for j in range(dim):
            diff = V[:, j:j + 1] - C[None, :, j]
            d2 += diff * diff
        yield pos, d2


def ivf_assign(
    df: DataFrame, *, vec_col: str, centroids, out_col: str = "cell",
    centroid_id_col: str = "cell", centroid_vec_col: str | None = None,
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid.
    The (k x dim) float64 centroid matrix rides the closure into an
    Arrow-batched pandas UDF, so k can GROW with the corpus (SemDeDup's
    n/k ~ 2k balance rule) — k in the tens of thousands is a few MB of
    broadcast — and each batch is scored in row blocks that bound its
    distance matrix (`_BLOCK_CELLS`).

    `centroids` is a list[list[float]] / numpy (k, dim) matrix, or a
    DataFrame holding (`centroid_id_col`, `centroid_vec_col`
    [default: `vec_col`]) — the trained-offline centroid TABLE shape;
    ids must be exactly 0..k-1 (they ARE the emitted cell ids, as list
    positions are).

    The squared-L2 accumulation is dimension-sequential (see
    `_sq_dist_blocks`) and ties argmin to the LOWEST centroid index,
    so the DuckDB twins replay it exactly. Degenerate rows (NULL
    vector, or length != centroid dim) and rows whose distances are
    all NaN land in cell 0.

    Scale shape: map-only (no shuffle, pipelines into the scan). At
    100 TB the corpus is written partitionBy(cell) once; queries then
    touch only probed cells via partition pruning.
    """
    import numpy as np

    C = _centroid_matrix(centroids,
                         centroid_id_col=centroid_id_col,
                         centroid_vec_col=centroid_vec_col or vec_col,
                         caller="ivf_assign")
    rows = max(1, _BLOCK_CELLS // C.shape[0])

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        out = np.zeros(len(v), dtype=np.int32)
        for pos, d2 in _sq_dist_blocks(v, C, rows):
            out[pos] = d2.argmin(axis=1)
        return pd.Series(out)

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def ivf_centroids_from_sample(df: DataFrame, *, id_col: str, vec_col: str,
                              n_centroids: int,
                              spread: bool = True) -> list[list[float]]:
    """Deterministic centroid pick from the corpus itself. With
    `spread` (default), the n vectors with the lowest engine-portable
    md5-derived hash of their id — a deterministic uniform sample
    that decorrelates the seed from ingestion order (the lowest-id
    vectors are typically written together and can share a
    neighborhood, degenerating cell balance). `spread=False` keeps
    the legacy lowest-id pick. Both orders are totalized by the id
    tie-break and replayable in DuckDB (same md5 slice), so the
    downstream IVF results stay oracle-checkable. A k-means
    refinement (`kmeans_refine_centroids`) further improves balance;
    at scale you'd train centroids offline anyway."""
    from .dedup import portable_hash52

    if spread:
        key = portable_hash52(F.col(id_col).cast("string"))
        ordered = df.orderBy(key.asc(), F.col(id_col).asc())
    else:
        ordered = df.orderBy(id_col)
    rows = ordered.limit(n_centroids).select(vec_col).collect()
    return [[float(x) for x in r[0]] for r in rows]


def knn_ivf(
    df: DataFrame, *, id_col: str, vec_col: str, query: list[float],
    centroids, n_probes: int = 2, k: int = 10,
) -> DataFrame:
    """IVF ANN top-k: score only vectors in the `n_probes` cells
    nearest the query, exact cosine re-rank inside them. `centroids`
    takes any `ivf_assign` form. The probe-side cell choice is driver
    arithmetic over the same matrix — at scale the corpus is
    partitionBy(cell)-laid-out once and the probe filter becomes
    partition PRUNING."""
    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    C = _centroid_matrix(centroids, centroid_id_col="cell",
                         centroid_vec_col=vec_col, caller="knn_ivf")
    cents_list = C.tolist()
    order = sorted(range(len(cents_list)),
                   key=lambda i: l2(query, cents_list[i]))
    probe = order[:n_probes]
    assigned = ivf_assign(df, vec_col=vec_col, centroids=C)
    cand = assigned.where(F.col("cell").isin(probe))
    return knn_brute_force(cand, id_col=id_col, vec_col=vec_col, query=query, k=k)


def embedding_near_dup_pairs(
    df: DataFrame, *, id_col: str, vec_col: str, threshold: float = 0.95,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    With `planes` given, candidates are restricted to SRP buckets
    within Hamming distance 1 (the 100 TB path: bucket-equi-join, no
    cross product); without, an exact all-pairs self-join — only for
    small/broadcastable corpora. Returns (id_a, id_b, cosine_sim)."""
    # norms precomputed once per row (float-identical to inline
    # per-pair norms — same fold, same values — so the SQL twins'
    # per-pair norm arithmetic still matches; 3x less interpreted-HOF
    # work per candidate, the r11 semantic_dedup measurement)
    left = df.select(F.col(id_col).alias("id_a"),
                     F.col(vec_col).alias("_va"),
                     _norm(F.col(vec_col)).alias("_na"))
    right = df.select(F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("_vb"),
                      _norm(F.col(vec_col)).alias("_nb"))
    if planes is not None:
        lb = srp_bucket(left, vec_col="_va", planes=planes, out_col="_ba")
        rb = srp_bucket(right, vec_col="_vb", planes=planes, out_col="_bb")
        # Hamming<=1 probe as an EQUI join: the left side explodes
        # into its own bucket plus every single-bit flip, and
        # candidates equi-join on (probe bucket == right bucket) — a
        # hash/sort-merge join keyed on the bucket. The previous
        # array_contains form was a non-equi condition Catalyst can
        # only plan as BroadcastNestedLoopJoin: O(n^2) condition
        # evaluations regardless of bucketing (measured 30.7 s for 23
        # pairs at 2k vectors; this form ~4 s). Exactly one of a's
        # probes equals b's bucket when Hamming(a,b) <= 1 (identity
        # at 0, the matching flip at 1), so the candidate set — and
        # the output — is IDENTICAL, with no duplicate pairs.
        probe = F.explode(
            F.array(
                F.col("_ba"), *[F.col("_ba").bitwiseXOR(F.lit(1 << i))
                                for i in range(len(planes))]
            )
        ).alias("_probe")
        lexp = lb.select("id_a", "_va", "_na", probe)
        pairs = lexp.join(
            rb,
            on=[F.col("_probe") == F.col("_bb"),
                F.col("id_a") < F.col("id_b")],
        )
    else:
        pairs = left.join(right, on=[F.col("id_a") < F.col("id_b")])
    sim = _safe_div(_dot(F.col("_va"), F.col("_vb")),
                    F.col("_na") * F.col("_nb"))
    return (
        pairs.withColumn("cosine_sim", F.round(sim, 6))
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    centroids,
    threshold: float = 0.95,
    cell_cap: int | None = None,
    n_assign: int = 1,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — the cluster-then-dedup-within-
    cluster recipe LLM corpora run on embeddings: k-means cells bound
    the pairwise cosine comparison to CELL-LOCAL work (the paper's
    trick for making semantic dedup tractable at web scale), then
    near-dup groups (cosine >= `threshold` inside a cell) resolve to
    one kept representative per connected component (min id — swap in
    `dedup_keep_best` on the pair table for quality-ranked keeps).

    The complement of the SRP-bucketed `embedding_near_dup_pairs`:
    SRP buckets are similarity-hash-defined (probabilistic recall,
    geometry-blind), k-means cells are DATA-defined — near-dups land
    in the same cell because they are near the same centroid, and
    the cells double as the IVF index layout the corpus is already
    partitioned by. Cross-cell near-dups (straddling a Voronoi
    boundary) are missed BY DESIGN — the documented SemDeDup trade.

    Returns (id, cell, cluster_id, kept): every input row labeled,
    exactly one kept row per duplicate cluster, singletons kept.

    `id_col` is a KEY: the labels are exact for ids that are unique,
    or duplicated only within one cell. At n_assign=1 components
    resolve per cell, so an id that lands in two cells (two rows with
    the same id and different vectors) does not join the two cells'
    components through that id, as the global pair-table resolution
    of n_assign > 1 does. The output `id_col` and `cluster_id` keep
    the input id column's type.

    `cell_cap` (optional) skips pair generation inside cells larger
    than the cap — the `hot_cap` skew guard for a degenerate
    quantizer (one centroid capturing a constant-embedding blob
    would otherwise go quadratic); capped cells keep every row as a
    singleton. At `n_assign > 1` two cap conditions apply: PRIMARY
    cell size > cap (quantizer-stable, so the n_assign=2 pair set
    stays a superset of n_assign=1's wherever only this check could
    fire) and widened membership > cap x n_assign (the cost guard —
    a degenerate blob floods its shared SECONDARY cell with
    corpus-many memberships while that cell's primary count stays
    tiny; only the membership check catches it, and it wins over the
    superset property exactly there). See `_cell_pairs`.

    Pairs are scored by one numpy kernel per cell (`_np_fold_cosines`:
    a dim-sequential left fold per pair, HALF_UP 6-dp rounding, the
    arithmetic of the oracles' SQL; a zero norm or a NULL element
    gives no score). Each cell is one applyInPandas group scored in
    row blocks of `_BLOCK_CELLS` // n_cell rows against the rows after
    them, so a task holds the cell's rows, one block's score matrices
    (see `_BLOCK_CELLS`) and one block's pairs — never an n_cell^2
    matrix. Time is still O(n_cell^2) in one task, so `cell_cap`
    remains the guard against a degenerate giant cell.

    Scale shape: assignment is the `ivf_assign` argmin (narrow,
    map-only; at 100 TB the corpus is written partitionBy(cell)
    once and this op reads cell-partitioned files with ZERO
    shuffle); pair scoring is cell-local, O(sum cell_size^2) —
    bounded by the quantizer's balance, audited by `cell_cap`. At
    n_assign=1 every near-dup pair, and so every component, lies
    inside one cell: the clusters resolve inside the cell's own
    applyInPandas group (`_cell_labels`), one shuffle and no Spark
    job per label-propagation round; capped cells are anti-joined
    out before that shuffle and return as singletons. n_assign > 1
    mines the pair table and resolves it with
    `dedup.connected_components`, which runs on the near-dup pairs
    (rare by construction), never the corpus.

    `centroids` takes any `ivf_assign` form: a list, a numpy matrix
    or a (cell, vector) DataFrame. Its broadcast-matrix kernel is what
    makes the paper's n/k ~ 2k balance rule EXECUTABLE at corpus
    scale: k tracks sqrt(n/2) and the per-cell pair work stays flat
    (measured near-linear in SCALING.md round 12) instead of the
    fixed-k quadratic the r11 study measured.

    For a quality-ranked keep instead of min-id, mine the pair table
    with `semantic_near_dup_pairs` and resolve with
    `dedup.dedup_keep_best`.

    `n_assign > 1` (r12 verdict item 3) assigns each vector to its n
    NEAREST cells for PAIR MINING only — the multi-probe idea applied
    to the build side: a Voronoi-boundary pair is co-located whenever
    either point's n-th cell is the other's first, recovering most of
    the cross-cell recall the cell bound gives up
    (`semantic_dedup_recall_audit` measures the curve). The labeled
    output's `cell` column stays the PRIMARY (nearest) cell — the
    partitionBy(cell) layout is unchanged; only candidate generation
    widens, bounded by <= n_assign x memberships and <= n_assign x
    candidate pairs per the quantizer's balance.
    """
    from .dedup import connected_components

    C = _centroid_matrix(centroids, centroid_id_col="cell",
                         centroid_vec_col=vec_col, caller="semantic_dedup")
    base, members = _semantic_members(df, id_col=id_col, vec_col=vec_col,
                                      centroids=C, n_assign=n_assign)
    if n_assign == 1:
        return _cell_labels(base, id_col=id_col, vec_col=vec_col,
                            threshold=threshold, cell_cap=cell_cap,
                            caller="semantic_dedup")
    pairs = _semantic_pairs(
        base, members, id_col=id_col, vec_col=vec_col,
        threshold=threshold, cell_cap=cell_cap,
        n_assign=n_assign, caller="semantic_dedup",
    )
    cc = connected_components(
        pairs, vertices=df.select(F.col(id_col).alias("id"))
    )
    return (
        base.join(
            cc.select(F.col("id").alias(id_col), "cluster_id"), id_col
        )
        .withColumn("kept", F.col(id_col) == F.col("cluster_id"))
        .select(id_col, "cell", "cluster_id", "kept")
    )


def semantic_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    centroids,
    threshold: float = 0.95,
    cell_cap: int | None = None,
    n_assign: int = 1,
) -> DataFrame:
    """The PAIR table under `semantic_dedup` as a public surface:
    cell-local near-dup pairs (id_a, id_b), id_a < id_b, cosine >=
    `threshold` within a k-means cell — for resolutions other than
    the min-id connected component, e.g. `dedup.dedup_keep_best`
    (quality-ranked representative per cluster) or recall audits.
    Same cell assignment, skew cap, scoring, and `n_assign`
    (multi-cell candidate widening) contracts as `semantic_dedup`
    (whose docstring has the scale shape)."""
    C = _centroid_matrix(centroids, centroid_id_col="cell",
                         centroid_vec_col=vec_col,
                         caller="semantic_near_dup_pairs")
    base, members = _semantic_members(df, id_col=id_col, vec_col=vec_col,
                                      centroids=C, n_assign=n_assign)
    return _semantic_pairs(
        base, members, id_col=id_col, vec_col=vec_col,
        threshold=threshold, cell_cap=cell_cap,
        n_assign=n_assign, caller="semantic_near_dup_pairs",
    )


def _semantic_members(df, *, id_col, vec_col, centroids, n_assign):
    """The cell assignment shared by `semantic_dedup` and
    `semantic_near_dup_pairs`: returns (base, members) where `base`
    is (id, PRIMARY cell, vec) — one row per input — and `members`
    the (id, cell, vec) rows the pair mine scores: `base` itself at
    n_assign=1, one row per cell membership above it."""
    if n_assign == 1:
        cells = ivf_assign(df, vec_col=vec_col, centroids=centroids)
        members = base = cells.select(
            F.col(id_col), F.col("cell"), F.col(vec_col)
        )
    else:
        multi = ivf_assign_multi(
            df, vec_col=vec_col, centroids=centroids, n_assign=n_assign,
        ).withColumn("cell", F.col("cells")[0])
        base = multi.select(F.col(id_col), F.col("cell"), F.col(vec_col))
        members = multi.select(
            F.col(id_col), F.explode("cells").alias("cell"),
            F.col(vec_col),
        )
    return base, members


def _semantic_pairs(base, members, *, id_col, vec_col, threshold,
                    cell_cap, n_assign, caller):
    """The cell-local pair mine over `_semantic_members`' output,
    shared by `semantic_dedup` and `semantic_near_dup_pairs` (one
    surface, so the n_assign cap wiring cannot drift between them):
    the deduplicated (id_a, id_b) table."""
    pairs = _cell_pairs(
        members, id_col=id_col, vec_col=vec_col, threshold=threshold,
        cell_cap=cell_cap, caller=caller,
        # primary-size cap + widened-membership cost guard — see
        # _cell_pairs.cap_base / cap_widened
        cap_base=None if n_assign == 1 else base.select("cell"),
        cap_widened=None if cell_cap is None else cell_cap * n_assign,
    )
    if n_assign > 1:
        # a pair sharing several co-located cells is mined once per
        # shared cell — identical rows, deterministic scoring —
        # collapse before anything downstream
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def semantic_dedup_recall_audit(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    centroids,
    threshold: float = 0.95,
    n_assign_values: tuple[int, ...] = (1, 2),
    cell_cap: int | None = None,
    truth_max_rows: int | None = 20_000,
) -> DataFrame:
    """SemDeDup recall audit (r12 verdict item 2) — the family
    analogue of `dedup.dedup_recall_audit` (MinHash LSH) and
    `ext-ann-recall` (SRP): what fraction of TRUE near-dup pairs
    (exact all-pairs cosine >= `threshold`) does the cell-bounded
    miner actually surface, per 0.1-wide true-cosine bucket and per
    `n_assign`? Cross-cell (Voronoi-boundary) pairs are missed BY
    DESIGN in the n_assign=1 form — this measures that documented
    trade, and the n_assign=2 rows measure how much of it the
    build-side multi-probe buys back, so a user tuning k finally has
    a recall curve to tune against.

    Truth = `embedding_near_dup_pairs(planes=None)` — the exact
    all-pairs self-join. That is O(n^2) ON PURPOSE: the recall curve
    is a property of the quantizer geometry (centroids, k, n_assign),
    not of corpus size, so a bounded slab estimates it — and unlike
    the docstring-only caveat it used to be, the bound is now
    ENFORCED (r13 verdict item 2, the `max_anchors` pattern):
    `truth_max_rows` (default 20k ≈ 2x10^8 cosine folds) raises
    loudly when the input exceeds it, instead of silently launching a
    corpus-sized quadratic join from inside a composed report. Hand
    the audit a deterministic slab to stay under it — e.g.
    `df.where(F.pmod(F.xxhash64(F.col(id)), F.lit(s)) == 0)`, which
    is hash-spread and oracle-replayable — or pass
    `truth_max_rows=None` to opt out deliberately. Candidates =
    the cell-bounded miner under exactly the production parameters
    being audited.

    Emitted per (n_assign, bucket_lo): n_true_pairs, n_caught,
    recall (4 dp). Candidate pairs are a SUBSET of truth by
    construction (same threshold, same scoring fold), so recall is
    exact, never > 1.

    Cost shape (r13 verdict item 6 — fixed): with `cell_cap=None`
    the candidate mine runs ONCE at n = max(n_assign_values), each
    pair tagged with its minimal co-location rank (`_cell_pairs
    rank_col`); level n's caught set is then just `_colev <= n` over
    one tiny (bucket, level) count table — exactly the shared-mine
    shape the SQL twin always had, so the plan holds a single mine
    however many levels are audited. With a `cell_cap` the per-level
    cap pair (primary cap, widened cap = cell_cap x n) genuinely
    differs per level, so the audit falls back to one mine per level
    — capped audits are small by construction."""
    if not n_assign_values:
        raise ValueError(
            "semantic_dedup_recall_audit: n_assign_values must name "
            "at least one level, got ()"
        )
    if any(int(n) < 1 for n in n_assign_values):
        raise ValueError(
            "semantic_dedup_recall_audit: n_assign levels must be "
            f">= 1, got {tuple(n_assign_values)}"
        )
    if truth_max_rows is not None:
        if truth_max_rows < 2:
            raise ValueError(
                "semantic_dedup_recall_audit: truth_max_rows must be "
                f">= 2 (or None to opt out), got {truth_max_rows}"
            )
        # limit(k+1).count() stops scanning once the bound is
        # disproven — never a full count of a corpus-sized input
        over = df.limit(int(truth_max_rows) + 1).count()
        if over > truth_max_rows:
            raise ValueError(
                "semantic_dedup_recall_audit: input has > "
                f"{truth_max_rows} rows; the exact all-pairs truth "
                "leg is O(n^2) and would launch a corpus-sized "
                "quadratic join. Audit a deterministic slab instead "
                "(e.g. df.where(F.pmod(F.xxhash64(id), F.lit(s)) == "
                "0) — the recall curve is a property of the "
                "quantizer, not of corpus size), or raise "
                "truth_max_rows / pass truth_max_rows=None "
                "deliberately."
            )
    C = _centroid_matrix(centroids, centroid_id_col="cell",
                         centroid_vec_col=vec_col,
                         caller="semantic_dedup_recall_audit")
    truth = embedding_near_dup_pairs(
        df, id_col=id_col, vec_col=vec_col, threshold=threshold,
        planes=None,
    ).persist()
    bucket = (F.floor(F.col("cosine_sim") * 10) / 10.0).alias(
        "bucket_lo"
    )
    per_true = truth.select(bucket).groupBy("bucket_lo").agg(
        F.count(F.lit(1)).alias("n_true_pairs")
    )
    # try/finally: a failure while building the candidate legs (a
    # bad cell_cap, ...) must not strand the
    # persisted truth table — the caching-module contract
    try:
        if cell_cap is None:
            # SINGLE MINE (r13 verdict item 6): mine once at the
            # deepest audited level with membership ranks; every
            # level's caught set is a filter over the one tiny
            # (bucket, co-location level) count table, so the plan
            # references exactly one mine regardless of how many
            # levels are audited (plan-asserted in tests).
            deepest = max(int(n) for n in n_assign_values)
            if deepest == 1:
                members = ivf_assign(df, vec_col=vec_col, centroids=C).select(
                    F.col(id_col), F.col("cell"), F.col(vec_col),
                    F.lit(1).alias("_rank"),
                )
            else:
                members = ivf_assign_multi(
                    df, vec_col=vec_col, centroids=C, n_assign=deepest,
                ).select(
                    F.col(id_col),
                    F.posexplode("cells").alias("_p", "cell"),
                    F.col(vec_col),
                ).withColumn("_rank", F.col("_p") + 1).drop("_p")
            ranked = _cell_pairs(
                members, id_col=id_col, vec_col=vec_col,
                threshold=threshold, cell_cap=None,
                caller="semantic_dedup_recall_audit", rank_col="_rank",
            )
            caught = truth.join(ranked, ["id_a", "id_b"]).select(
                bucket, "_colev"
            )
            cnt = caught.groupBy("bucket_lo", "_colev").agg(
                F.count(F.lit(1)).alias("_c")
            )
            out = (
                per_true.withColumn(
                    "n_assign",
                    F.explode(F.array(
                        *[F.lit(int(n)) for n in n_assign_values]
                    )),
                )
                .join(cnt, "bucket_lo", "left")
                .groupBy("n_assign", "bucket_lo", "n_true_pairs")
                .agg(
                    F.coalesce(
                        F.sum(F.when(
                            F.col("_colev") <= F.col("n_assign"),
                            F.col("_c"),
                        )),
                        F.lit(0).cast("long"),
                    ).alias("n_caught")
                )
                .select(
                    "n_assign", "bucket_lo", "n_true_pairs", "n_caught",
                    F.round(
                        F.col("n_caught") / F.col("n_true_pairs"), 4
                    ).alias("recall"),
                )
            )
            from .caching import release_after

            return release_after(out, truth)
        # capped audit: the per-level cap pair (primary, widened =
        # cell_cap x n) genuinely differs per level — one mine each
        parts = []
        for n in n_assign_values:
            cand = semantic_near_dup_pairs(
                df, id_col=id_col, vec_col=vec_col, centroids=C,
                threshold=threshold, cell_cap=cell_cap,
                n_assign=int(n),
            ).select("id_a", "id_b")
            caught = truth.join(cand, ["id_a", "id_b"], "left_semi")
            per_caught = caught.select(bucket).groupBy("bucket_lo").agg(
                F.count(F.lit(1)).alias("n_caught")
            )
            parts.append(
                per_true.join(per_caught, "bucket_lo", "left").select(
                    F.lit(int(n)).alias("n_assign"),
                    "bucket_lo",
                    "n_true_pairs",
                    F.coalesce(
                        "n_caught", F.lit(0).cast("long")
                    ).alias("n_caught"),
                    F.round(
                        F.coalesce("n_caught", F.lit(0).cast("long"))
                        / F.col("n_true_pairs"),
                        4,
                    ).alias("recall"),
                )
            )
    except BaseException:
        truth.unpersist()
        raise
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    from .caching import release_after

    return release_after(out, truth)


def ivf_assign_multi(
    df: DataFrame, *, vec_col: str, centroids, n_assign: int = 2,
    out_col: str = "cells",
    centroid_id_col: str = "cell", centroid_vec_col: str | None = None,
) -> DataFrame:
    """`ivf_assign`'s n-nearest generalization: each vector gets the
    ids of its `n_assign` NEAREST centroids, ordered by (squared-L2
    distance, centroid index) — index 0 is exactly the single-assign
    cell. This is multi-probe applied to the BUILD side (r12 verdict
    item 3): assigning each vector to its 2 nearest cells makes a
    Voronoi-BOUNDARY near-dup pair co-located whenever either point's
    second cell is the other's first, which is most of what the
    cell-bounded SemDeDup miner misses by design
    (`semantic_dedup_recall_audit` measures the uplift). Cost is
    bounded: <= n_assign x the membership rows, <= n_assign x the
    candidate pairs.

    Same centroid forms, kernel and row blocks as `ivf_assign`; the
    top-n order is a STABLE argsort, so equal distances keep
    ascending centroid index. Degenerate rows land in cells
    [0..n_assign-1], extending the single-assign cell-0 convention.
    Map-only, narrow."""
    import numpy as np

    if n_assign < 1:
        raise ValueError(
            f"ivf_assign_multi: n_assign must be >= 1, got {n_assign}"
        )
    C = _centroid_matrix(centroids,
                         centroid_id_col=centroid_id_col,
                         centroid_vec_col=centroid_vec_col or vec_col,
                         caller="ivf_assign_multi")
    k = C.shape[0]
    n_top = min(int(n_assign), k)
    rows = max(1, _BLOCK_CELLS // k)

    @pandas_udf("array<int>")
    def _assign_n(v: pd.Series) -> pd.Series:
        out = np.tile(np.arange(n_top, dtype=np.int32), (len(v), 1))
        for pos, d2 in _sq_dist_blocks(v, C, rows):
            out[pos] = np.argsort(d2, axis=1, kind="stable")[:, :n_top]
        return pd.Series(list(out))

    return df.withColumn(out_col, _assign_n(F.col(vec_col)))


def _check_cell_cap(cell_cap, caller):
    if cell_cap is not None and cell_cap < 1:
        raise ValueError(f"{caller}: cell_cap must be >= 1, got {cell_cap}")


def _hot_cells(members, cap):
    """The cells of `members` holding more than `cap` rows."""
    return (
        members.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > cap)
        .select("cell")
    )


def _cell_pairs(base, *, id_col, vec_col, threshold, cell_cap, caller,
                cap_base=None, cap_widened=None,
                rank_col=None) -> DataFrame:
    """Cell-local near-dup pair mining shared by semantic_dedup /
    semantic_near_dup_pairs: `base` is (id, cell, vec); returns
    (id_a, id_b), typed as the id column. See semantic_dedup for the
    contracts.

    One applyInPandas group per cell, in the iterator form: the group
    scores its rows in row blocks (`_cell_scored_pairs`) and yields
    each block's pairs before it scores the next, so a task holds the
    cell's rows, one block's score matrix and one block's pairs —
    never the n_cell^2 matrix or the cell's whole pair list. Rows
    with a NULL id are dropped (`_keyed`).

    `rank_col` (optional, the recall audit's single-mine form — r13
    verdict item 6): when `base` carries a 1-based membership rank
    (1 = the member's primary cell, r = its r-th nearest), the mine
    instead returns (id_a, id_b, _colev) where `_colev` = the MIN
    over shared cells of GREATEST(rank_a, rank_b) — the smallest
    n_assign level at which the pair is co-located. A pair is mined
    by the level-n pass iff _colev <= n, so ONE mine at
    n = max(levels) serves every audited level; the per-pair scoring
    fold is byte-identical to the plain form, and the groupBy-min
    subsumes the multi-membership dropDuplicates.

    `cap_base` / `cap_widened` (optional, n_assign > 1 callers): two
    cap conditions replace the single membership-count check —

    * PRIMARY-size cap (`cap_base` = the primary assignment, one row
      per vector): which cells are capped is a property of the
      quantizer alone, identical at every n_assign, so the widened
      pair set stays a superset of n_assign=1's for every cell that
      survives BOTH checks. Counting exploded memberships here would
      let ordinary secondary members push a boundary cell over the
      cap and silently drop its primary pairs.
    * WIDENED-membership cap (`cap_widened`, callers pass
      cell_cap * n_assign, checked on `base` = the exploded
      memberships): the COST guard, because the quadratic pair work
      is driven by the rows actually mined in the cell. A balanced
      quantizer's memberships stay <= n_assign x primary size, so
      this never fires where the primary check passed — but a
      degenerate blob floods its shared SECONDARY cell with
      corpus-many memberships while that cell's own primary count
      stays tiny, and only this check catches it. When the two
      conflict, the cost guard wins (scale safety over recall — the
      repo rule), which is the one regime where n_assign=2 may mine
      fewer pairs than n_assign=1; it is the regime where
      n_assign=1's own cap already gave up the cell's recall."""
    import numpy as np

    eligible = base
    if cell_cap is not None:
        _check_cell_cap(cell_cap, caller)
        hot = _hot_cells(cap_base if cap_base is not None else base,
                         cell_cap)
        if cap_base is not None:
            hot_widened = _hot_cells(
                base, cap_widened if cap_widened is not None else cell_cap
            )
            hot = hot.unionByName(hot_widened).distinct()
        eligible = base.join(hot, "cell", "left_anti")
    thr = float(threshold)
    block_cells = _BLOCK_CELLS
    with_rank = rank_col is not None

    def cell_pairs(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        pdf, blocks = _cell_scored_pairs(
            pd.concat(batches, ignore_index=True), id_col, vec_col, thr,
            block_cells)
        ids = pdf[id_col].to_numpy()
        rk = pdf[rank_col].to_numpy() if with_rank else None
        for ia, ib in blocks:
            out = {"id_a": ids[ia], "id_b": ids[ib]}
            if with_rank:
                out["_lev"] = np.maximum(rk[ia], rk[ib]).astype(np.int32)
            yield pd.DataFrame(out)

    id_type = base.schema[id_col].dataType
    schema = StructType(
        [StructField("id_a", id_type), StructField("id_b", id_type)]
        + ([StructField("_lev", IntegerType())] if with_rank else [])
    )
    cols = ["cell", id_col, vec_col] + ([rank_col] if with_rank else [])
    pairs = (
        _keyed(eligible, id_col).select(*cols)
        .groupBy("cell")
        .applyInPandas(cell_pairs, schema)
    )
    if with_rank:
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.min("_lev").cast("int").alias("_colev")
        )
    return pairs


def _cell_scored_pairs(pdf, id_col, vec_col, threshold, block_cells):
    """The scoring rules of the per-cell numpy kernels (`_cell_pairs`'
    pair mine and `_cell_labels`), in one place: drop NULL-vector
    rows, sort by id, and score with `_np_fold_cosines` only pairs of
    EQUAL-LENGTH vectors (a pair of different lengths has no
    elementwise fold, so no score). A NULL element arrives from Arrow
    as NaN and, like a zero norm, gives a NaN cosine the threshold
    test drops.

    The n rows of one vector length are scored in row blocks of
    max(1, `block_cells` // n) rows, each against the rows from the
    block's start onward: ids are sorted, so that upper triangle
    holds every pair with id_a < id_b, and no score matrix exceeds
    max(`block_cells`, n) cells. Returns (pdf, blocks): the filtered,
    sorted group and a generator of (ia, ib), the positions of one
    block's pairs with cosine >= `threshold` and id_a < id_b, scored
    as the generator is consumed."""
    import numpy as np

    pdf = (
        pdf[pdf[vec_col].notna()]
        .sort_values(id_col).reset_index(drop=True)
    )

    def blocks():
        vecs = pdf[vec_col].to_numpy()
        lens = np.fromiter((len(v) for v in vecs), dtype=np.int64,
                           count=len(vecs))
        ids = pdf[id_col].to_numpy()
        for dim in np.unique(lens):
            pos = np.nonzero(lens == dim)[0]
            n = len(pos)
            m = np.stack(vecs[pos]).astype(np.float64)
            rows = max(1, block_cells // n)
            for s in range(0, n - 1, rows):
                sims = _np_fold_cosines(m[s:s + rows], m[s:])
                ia, ib = np.nonzero(~np.isnan(sims) & (sims >= threshold))
                ia, ib = pos[s + ia], pos[s + ib]
                # compare IDS, not positions: a duplicated id must not
                # pair with itself
                keep = ids[ia] < ids[ib]
                if keep.any():
                    yield ia[keep], ib[keep]

    return pdf, blocks()


def _min_labels(lab, u, v):
    """Fold the edges (u[i], v[i]) into `lab`, a labelling of the
    vertices 0..n-1 in which each vertex's label is the SMALLEST vertex
    of its component (`np.arange(n)` before any edge): returns the
    labelling of the graph with the new edges added, so a caller can
    fold its edges in batch by batch. Min-label hooking plus pointer
    jumping, vectorized over the edge arrays — no Python loop per
    edge. Every label is a vertex of the same component and no larger
    than its own vertex; each unconverged round hooks at least one
    root below itself, so the root count falls until every edge joins
    equal labels, which is then the component minimum. `lab` may be
    modified; use the returned labelling."""
    import numpy as np

    while True:
        lu, lv = lab[u], lab[v]
        if np.array_equal(lu, lv):
            return lab
        lo = np.minimum(lu, lv)
        np.minimum.at(lab, lu, lo)
        np.minimum.at(lab, lv, lo)
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _keyed(members, id_col):
    """`members` without its NULL-id rows, before a per-cell kernel's
    groupBy: a NULL id never pairs (`id_a < id_b` is NULL) and the
    pair-table path's id join drops it, and with none left an integer
    id column reaches pandas as an integer array — a nullable one
    arrives as float64 and rounds ids above 2^53."""
    return members.where(F.col(id_col).isNotNull())


def _cell_labels(base, *, id_col, vec_col, threshold, cell_cap, caller):
    """`semantic_dedup` at n_assign=1: `base` is (id, cell, vec), one
    row per input; returns (id, cell, cluster_id, kept), the ids typed
    as the id column. Every near-dup pair lies inside one cell, so
    every component does too, and one applyInPandas group per cell
    scores its pairs in row blocks (`_cell_scored_pairs`) and folds
    each block's edges into the labels of the cell's unique ids
    (`_min_labels`) before it scores the next: memory O(n_cell + one
    block), one shuffle, no pair table and no label-propagation
    rounds. The cells holding more than `cell_cap` rows are
    anti-joined out before that shuffle, as in `_cell_pairs`, so no
    group exceeds the cap; their rows return as singletons. Rows with
    a NULL id are dropped (`_keyed`)."""
    import numpy as np

    thr = float(threshold)
    block_cells = _BLOCK_CELLS

    def label(pdf):
        ids = pdf[id_col].to_numpy()
        uniq, inv = np.unique(ids, return_inverse=True)
        scored, blocks = _cell_scored_pairs(pdf, id_col, vec_col, thr,
                                            block_cells)
        vertex = np.searchsorted(uniq, scored[id_col].to_numpy())
        root = np.arange(len(uniq))
        for ia, ib in blocks:
            root = _min_labels(root, vertex[ia], vertex[ib])
        cluster = uniq[root[inv]]
        return pd.DataFrame({
            id_col: ids, "cell": pdf["cell"].to_numpy(dtype=np.int32),
            "cluster_id": cluster, "kept": ids == cluster,
        })

    id_type = base.schema[id_col].dataType
    schema = StructType([
        StructField(id_col, id_type), StructField("cell", IntegerType()),
        StructField("cluster_id", id_type),
        StructField("kept", BooleanType()),
    ])
    keyed = _keyed(base, id_col)
    scored = keyed
    if cell_cap is not None:
        _check_cell_cap(cell_cap, caller)
        hot = _hot_cells(base, cell_cap)
        scored = keyed.join(hot, "cell", "left_anti")
    labels = scored.groupBy("cell").applyInPandas(label, schema)
    if cell_cap is None:
        return labels
    capped = keyed.join(hot, "cell", "left_semi").select(
        F.col(id_col), F.col("cell"), F.col(id_col).alias("cluster_id"),
        F.lit(True).alias("kept"),
    )
    return labels.unionByName(capped)


def contrastive_triplets(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    pos_threshold: float = 0.95,
    k_neg: int = 2,
    planes: list[list[float]] | None = None,
    salt_buckets: int = 16,
    vectorized: bool = False,
    max_anchors: int = 50_000,
    by_cell: bool = False,
    centroids=None,
    cell_cap: int | None = None,
) -> DataFrame:
    """Contrastive-learning training triplets (anchor, positive,
    HARD negative) mined from the corpus itself — the data-prep step
    for embedding-model fine-tuning (SimCSE/SBERT-style): positives
    are near-duplicate pairs (cosine >= `pos_threshold`, emitted in
    BOTH directions — each doc anchors its own triplets), negatives
    are the anchor's top-`k_neg` most-similar NON-positive neighbors
    (hard negatives — random negatives are trivially separable and
    teach nothing; the ranked-neighbor form is what batched triplet
    miners ship).

    Emits (anchor_id, positive_id, negative_id, neg_rank,
    neg_cosine): one row per (anchor, positive) x negative, neg_rank
    1..k_neg by (cosine desc, id asc) AFTER excluding the anchor
    itself and ALL its positives.

    Exactness of the exclusion: neighbors come from `knn_join_topk`
    at k = k_neg + (max positives per anchor, a driver-side scalar
    from a bounded agg) — since at most max_deg excluded rows can
    occupy the top of any anchor's list, the surviving top-k_neg
    EQUALS the true top-k_neg over the full non-positive corpus
    (min-k composition again).

    Scale shape: positives ride `embedding_near_dup_pairs` (pass
    `planes` for the SRP-bucketed 100 TB path); the anchor set and
    per-anchor degree are near-dup-bounded (rare by construction) —
    anchors broadcast through `knn_join_topk`'s corpus-never-
    shuffles salted two-level rank; the exclusion is one anti-join
    on (anchor, neighbor) against the pair table. At corpora where
    anchors stop being driver-bounded, mine per IVF cell instead
    (semantic_dedup's layout) — documented trade, same shapes.

    `pos_threshold` IS the anchor-count dial: set it where pairs are
    genuinely rare (the near-dup regime) — a loose threshold makes
    every doc an anchor and the neighbor scoring quadratic (measured:
    threshold 0.35 on the 2k fixture anchored 98% of vectors and
    cost 190 s; 0.45 anchors 13% and costs ~2 s). `vectorized=True`
    scores neighbors with knn_join_topk's numpy kernel (bit-equal,
    integer ids required) — the production path when the anchor set
    is large.

    `max_anchors` (default 50k, the `knn_join_topk` bound) makes the
    driver-side anchor collection fail LOUDLY instead of OOMing the
    driver on a near-dup-heavy corpus: past the bound, switch to
    `by_cell=True` (with `centroids`) — it delegates to
    `contrastive_triplets_by_cell`, the IVF-cell-local form that
    never collects anchors at all (see its docstring for the
    cell-boundary divergence).
    """
    if k_neg < 1:
        raise ValueError(
            f"contrastive_triplets: k_neg must be >= 1, got {k_neg}"
        )
    if by_cell:
        if centroids is None:
            raise ValueError(
                "contrastive_triplets: by_cell=True requires centroids"
            )
        return contrastive_triplets_by_cell(
            df, id_col=id_col, vec_col=vec_col, centroids=centroids,
            pos_threshold=pos_threshold, k_neg=k_neg, cell_cap=cell_cap,
        )
    pairs = embedding_near_dup_pairs(
        df, id_col=id_col, vec_col=vec_col, threshold=pos_threshold,
        planes=planes,
    ).select("id_a", "id_b")
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("positive_id")
    ).unionByName(pairs.select(
        F.col("id_b").alias("anchor_id"), F.col("id_a").alias("positive_id")
    ))
    # sym feeds THREE consumers (the degree/anchor scalars, the
    # exclusion anti-join, the final re-attach) — without
    # materializing, every consumer re-runs the whole pair scan
    # (bucket join + cosines), measured 3x the entry wall at sf0.1.
    # Near-dup-bounded, so the cache is tiny; released before return
    # via the pack_sequences _release_after contract.
    from awskinesisconsumer_spark.operators.caching import (
        release_after as _release_after,
    )

    sym = sym.persist()
    # driver-side scalars, both bounded by the (rare) near-dup set:
    # the anchor list and the max per-anchor positive degree. The
    # count gate runs BEFORE collect_list so an anchor explosion
    # (loose threshold on a near-dup-heavy corpus) raises instead of
    # OOMing the driver — sym is cached, so the extra count is one
    # cheap agg over the cached pair table.
    deg = sym.groupBy("anchor_id").agg(F.count(F.lit(1)).alias("d"))
    n_anchors = deg.count()
    if n_anchors > max_anchors:
        sym.unpersist()
        raise ValueError(
            f"contrastive_triplets: {n_anchors} anchors exceeds "
            f"max_anchors={max_anchors}; the driver-collected anchor "
            "list and the knn probe broadcast would explode — tighten "
            "pos_threshold or use contrastive_triplets_by_cell"
        )
    stats = deg.agg(
        F.collect_list("anchor_id").alias("anchors"),
        F.max("d").alias("max_deg"),
    ).head()
    anchors, max_deg = list(stats["anchors"]), int(stats["max_deg"] or 0)
    if not anchors:
        empty = sym.select(
            "anchor_id", "positive_id",
            F.lit(None).cast("long").alias("negative_id"),
            F.lit(None).cast("int").alias("neg_rank"),
            F.lit(None).cast("double").alias("neg_cosine"),
        )
        return _release_after(empty, sym)
    neigh = knn_join_topk(
        df, id_col=id_col, vec_col=vec_col, probe_ids=anchors,
        k=k_neg + max_deg, salt_buckets=salt_buckets,
        vectorized=vectorized,
    ).select(
        F.col("probe_id").alias("anchor_id"),
        F.col("neighbor_id"), F.col("cosine_sim"),
    )
    non_pos = neigh.join(
        sym.select("anchor_id",
                   F.col("positive_id").alias("neighbor_id")),
        ["anchor_id", "neighbor_id"], "left_anti",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    negs = (
        non_pos.withColumn("neg_rank",
                           F.row_number().over(w).cast("int"))
        .where(F.col("neg_rank") <= k_neg)
        .select("anchor_id",
                F.col("neighbor_id").alias("negative_id"),
                "neg_rank", F.col("cosine_sim").alias("neg_cosine"))
    )
    out = sym.join(negs, "anchor_id").select(
        "anchor_id", "positive_id", "negative_id", "neg_rank",
        "neg_cosine",
    )
    return _release_after(out, sym)


def contrastive_triplets_by_cell(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    centroids,
    pos_threshold: float = 0.95,
    k_neg: int = 2,
    cell_cap: int | None = None,
) -> DataFrame:
    """`contrastive_triplets` mined inside IVF cells — the form that
    survives corpora where anchors stop being driver-bounded: the
    global miner collects every near-dup endpoint to the driver and
    broadcasts it as a knn probe list (its `max_anchors` guard fails
    loudly past 50k); here NOTHING is collected — positives, the
    exclusion, and the hard-negative ranking are all CELL-LOCAL
    equi-joins on the same k-means cells `semantic_dedup` partitions
    by, so the whole mine is shuffle-on-cell + per-anchor windows
    bounded by cell size.

    Semantics vs the global form (same output schema): positives are
    near-dup pairs WITHIN a cell (cosine >= `pos_threshold`; pairs
    straddling a Voronoi boundary are missed — the SemDeDup trade),
    and negatives are each anchor's top-`k_neg` most-similar
    non-positive neighbors WITHIN ITS CELL (by cosine desc, id asc,
    after excluding the anchor itself and ALL its positives;
    zero-norm/NULL-cosine candidates are excluded). An anchor whose
    cell holds no eligible negatives emits no rows. Deterministic and
    fully engine-replayable — the oracle twin replays the cell
    argmin, the pair join, the exclusion, and the rank verbatim.

    `cell_cap` skips BOTH pair mining and negative mining inside
    cells larger than the cap (the semantic_dedup skew guard — a
    degenerate quantizer cell would otherwise go quadratic twice).
    `centroids` takes any `ivf_assign` form.

    Scale shape: one cell-keyed shuffle feeds pair mining and
    negative scoring; candidate volume is O(sum cell_size^2),
    bounded by quantizer balance exactly like semantic_dedup; the
    per-anchor rank window sees at most cell_size rows. No driver
    state, no broadcast that grows with the corpus.
    """
    if k_neg < 1:
        raise ValueError(
            f"contrastive_triplets_by_cell: k_neg must be >= 1, "
            f"got {k_neg}"
        )
    C = _centroid_matrix(centroids, centroid_id_col="cell",
                         centroid_vec_col=vec_col,
                         caller="contrastive_triplets_by_cell")
    cells = ivf_assign(df, vec_col=vec_col, centroids=C)
    base = cells.select(
        F.col("cell"), F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"), _norm(F.col(vec_col)).alias("_n"),
    )
    eligible = base
    if cell_cap is not None:
        if cell_cap < 1:
            raise ValueError(
                f"contrastive_triplets_by_cell: cell_cap must be >= 1, "
                f"got {cell_cap}"
            )
        hot = (
            base.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("_nrows"))
            .where(F.col("_nrows") > cell_cap)
            .select("cell")
        )
        eligible = base.join(hot, "cell", "left_anti")
    left = eligible.select(
        "cell", F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    right = eligible.select(
        "cell", F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    pair_sim = _safe_div(_dot(F.col("_va"), F.col("_vb")),
                         F.col("_na") * F.col("_nb"))
    pairs = (
        left.join(right, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("_sim", F.round(pair_sim, 6))
        .where(F.col("_sim") >= pos_threshold)
        .select("id_a", "id_b")
    )
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("positive_id")
    ).unionByName(pairs.select(
        F.col("id_b").alias("anchor_id"), F.col("id_a").alias("positive_id")
    ))
    # sym feeds three consumers (anchor projection, exclusion,
    # re-attach) — same near-dup-bounded cache as the global form
    from awskinesisconsumer_spark.operators.caching import (
        release_after as _release_after,
    )

    sym = sym.persist()
    anchors = (
        sym.select("anchor_id").distinct()
        .join(
            eligible.select(
                "cell", F.col("_id").alias("anchor_id"),
                F.col("_v").alias("_av"), F.col("_n").alias("_an"),
            ),
            "anchor_id",
        )
    )
    neg_sim = _safe_div(_dot(F.col("_av"), F.col("_v")),
                        F.col("_an") * F.col("_n"))
    scored = (
        anchors.join(eligible, "cell")
        .where(F.col("_id") != F.col("anchor_id"))
        .select(
            "anchor_id", F.col("_id").alias("neighbor_id"),
            F.round(neg_sim, 6).alias("neg_cosine"),
        )
        .where(F.col("neg_cosine").isNotNull())
    )
    non_pos = scored.join(
        sym.select("anchor_id", F.col("positive_id").alias("neighbor_id")),
        ["anchor_id", "neighbor_id"], "left_anti",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(
        F.col("neg_cosine").desc(), F.col("neighbor_id").asc()
    )
    negs = (
        non_pos.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .where(F.col("neg_rank") <= k_neg)
        .select("anchor_id", F.col("neighbor_id").alias("negative_id"),
                "neg_rank", "neg_cosine")
    )
    out = sym.join(negs, "anchor_id").select(
        "anchor_id", "positive_id", "negative_id", "neg_rank",
        "neg_cosine",
    )
    return _release_after(out, sym)


def semantic_dedup_keep(sem: DataFrame, df: DataFrame, *, id_col: str,
                        vec_col: str) -> DataFrame:
    """The kept-representative table a `semantic_dedup` run freezes
    for the streaming apply stage: one row per kept doc — (cell,
    rep_id, rep_vec). Just a projection + join back for the vectors;
    split out so the freeze artifact has a named shape."""
    return (
        sem.where(F.col("kept"))
        .select(F.col("cell"), F.col(id_col).alias("rep_id"))
        .join(
            df.select(F.col(id_col).alias("rep_id"),
                      F.col(vec_col).alias("rep_vec")),
            "rep_id",
        )
        .select("cell", "rep_id", "rep_vec")
    )


# Set only by `semantic_dedup_prepare_reps`: a reps table carrying this
# column has its rep norms precomputed. A dedicated name, so an
# unrelated column of the caller's (e.g. a row-number `_rn`) is never
# mistaken for a norm.
PREPARED_REP_NORM = "_semdedup_rep_norm"


def semantic_dedup_prepare_reps(reps: DataFrame) -> DataFrame:
    """Pre-compute the static-side norms of a frozen reps table for
    repeated `semantic_dedup_apply` calls (the streaming per-trigger
    case): (cell, rep_id, rep_vec, PREPARED_REP_NORM) where the norm is
    exactly the `_norm` fold `semantic_dedup_apply` would otherwise
    re-derive per call — float-identical cosines, one fewer expression
    over the static side in every micro-batch plan. Persist/cache the
    result for the stream's lifetime (semantic_dedup_stream does)."""
    return reps.select(
        "cell", "rep_id", "rep_vec",
        _norm(F.col("rep_vec")).alias(PREPARED_REP_NORM),
    )


def semantic_dedup_apply(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    centroids,
    reps: DataFrame,
    threshold: float = 0.95,
    broadcast_reps: bool | str = "auto",
    broadcast_reps_cap: int = 100_000,
) -> DataFrame:
    """The APPLY half of the frozen-SemDeDup split (the
    quality-cuts / whitening / importance freeze-apply pattern, on
    embeddings): arriving docs are assigned to the FROZEN k-means
    cells and scored against that cell's frozen KEPT representatives
    (`reps`: the (cell, rep_id, rep_vec) table `semantic_dedup_keep`
    extracts from a batch `semantic_dedup` run over the reference
    corpus) — a doc is a duplicate iff some same-cell rep scores
    cosine >= `threshold`. This is how SemDeDup deploys at ingest:
    the expensive pairwise/CC resolution runs offline once; the live
    feed only pays one cell argmin + a broadcast join against the
    (rare, kept) reps.

    Returns (id, cell, max_rep_cosine, matched_rep_id, is_dup): max
    over the cell's reps EXCLUDING the doc itself (so replaying the
    reference corpus doesn't self-match), matched_rep_id = the
    argmax rep (ties to the lowest rep id), NULL/zero-norm cosines
    excluded, docs with no scorable rep flagged is_dup=false.

    Per-row results depend only on (row, centroids, reps) — never on
    other rows — so the op is STREAMING-NATIVE map-side work (the
    appended union over micro-batches EQUALS the batch apply over
    all arrived rows; `streaming/pipeline.py semantic_dedup_stream`
    wraps it) and the batch oracle gates it verbatim.

    Scale shape: cell assignment is the narrow `ivf_assign` argmin
    (`centroids` takes any of its forms); the reps join is
    cell-keyed. HOW
    MANY reps there are depends on the corpus: SemDeDup keeps one
    row per CLUSTER, and on a low-duplication reference most docs
    are singletons — kept reps ~ reference size, NOT a small set.
    `broadcast_reps="auto"` (default, r12 verdict item 6) COUNTS the
    reps once (one cheap agg over the frozen table) and broadcasts
    only when the count is <= `broadcast_reps_cap` (default 1e5 reps
    — ~50 MB of 64-dim float64 vectors, inside Spark's broadcast
    comfort zone); past the cap the join plans as a plain cell-keyed
    shuffle join against the partitionBy(cell) layout both sides
    already live in at 100 TB (co-located, no broadcast, no
    corpus-sized driver/executor replication). That matters exactly
    when the op meets its production use case: SemDeDup keeps one
    row per CLUSTER, so on a low-duplication reference the kept reps
    are ~ reference size, NOT a small set — the r12-verdict failure
    mode where a forced broadcast ships the corpus to every
    executor. `True`/`False` still force the strategy explicitly
    (True = the bounded-reps fast path with no count job; callers
    owning an eval suite or curated kept subset know it's small).
    The groupBy key is the doc id over the (doc x cell-local reps)
    candidates, map-side combinable either way.
    """
    C = _centroid_matrix(centroids, centroid_id_col="cell",
                         centroid_vec_col=vec_col,
                         caller="semantic_dedup_apply")
    cells = ivf_assign(df, vec_col=vec_col, centroids=C)
    # norms are precomputed ONCE per row on each side of the cell
    # join (r16 optimization round): the per-candidate expression
    # then folds only the dot product — float-identical to inline
    # norms (same fold, same product), the _cell_pairs /
    # embedding_near_dup_pairs precompute applied to the apply path,
    # where it previously ran PER (doc x cell-rep) candidate.
    base = cells.select(
        F.col(id_col), F.col("cell"), F.col(vec_col),
        _norm(F.col(vec_col)).alias("_dn"),
    )
    # r17 optimization round (VERDICT item 3): a caller that scores
    # MANY batches against one frozen reps table (the streaming
    # apply) can pre-compute the rep norms once with
    # `semantic_dedup_prepare_reps` and persist the result — a reps
    # table carrying its PREPARED_REP_NORM column is used as-is, so the
    # per-trigger plan re-derives nothing on the static side. That
    # column is the same `_norm` fold over the same doubles, so cosines
    # are float-identical either way.
    r = reps.select(
        F.col("cell"), F.col("rep_id").alias("_rid"),
        F.col("rep_vec").alias("_rv"),
        (F.col(PREPARED_REP_NORM) if PREPARED_REP_NORM in reps.columns
         else _norm(F.col("rep_vec"))).alias("_rn"),
    )
    sim = F.round(
        _safe_div(_dot(F.col(vec_col), F.col("_rv")),
                  F.col("_dn") * F.col("_rn")),
        6,
    )
    if broadcast_reps == "auto":
        do_broadcast = r.count() <= int(broadcast_reps_cap)
    elif isinstance(broadcast_reps, bool):
        do_broadcast = broadcast_reps
    else:
        raise ValueError(
            "semantic_dedup_apply: broadcast_reps must be True, "
            f"False, or 'auto', got {broadcast_reps!r}"
        )
    r_side = F.broadcast(r) if do_broadcast else r
    scored = (
        base.join(r_side, "cell")
        .where(F.col(id_col) != F.col("_rid"))
        .select(id_col, "cell", F.col("_rid"), sim.alias("_sim"))
        .where(F.col("_sim").isNotNull())
    )
    best = (
        scored.groupBy(id_col)
        .agg(
            F.max("_sim").alias("max_rep_cosine"),
            F.min_by("_rid", F.struct(
                (-F.col("_sim")).alias("s"), F.col("_rid").alias("i")
            )).alias("matched_rep_id"),
        )
    )
    return (
        base.select(id_col, "cell").join(best, id_col, "left")
        .select(
            id_col, "cell", "max_rep_cosine", "matched_rep_id",
            F.coalesce(
                F.col("max_rep_cosine") >= F.lit(threshold), F.lit(False)
            ).alias("is_dup"),
        )
    )


def deterministic_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded hyperplanes for SRP sketches (numpy PRNG, reproducible)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def pairwise_topk_cosine(
    df: DataFrame, *, id_col: str, vec_col: str, probe_ids: list[int], k: int = 5,
) -> DataFrame:
    """For each probe id, top-k most-similar OTHER vectors: broadcast
    the (tiny) probe set against the corpus — the corpus side never
    shuffles; ranking is a per-probe window over the scored candidates."""
    probes = df.where(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"),
        # norm precomputed per side (r16; see knn_join_topk) — same
        # doubles, float-identical cosines
        _norm(F.col(vec_col)).alias("_pn"),
    )
    scored = (
        df.withColumn("_cn", _norm(F.col(vec_col))).alias("c")
        .join(F.broadcast(probes), on=F.col(id_col) != F.col("probe_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                _safe_div(
                    _dot(F.col(vec_col), F.col("probe_vec")),
                    F.col("_cn") * F.col("_pn"),
                ),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("probe_id", F.col(id_col).alias("neighbor_id"), "cosine_sim")
    )


def ivf_inertia(df: DataFrame, *, vec_col: str,
                centroids: list[list[float]]) -> float:
    """Total quantization error: sum over rows of the squared L2
    distance to the nearest centroid. One narrow scoring pass + a
    scalar agg — the standard k-means objective, used to verify that
    refinement actually improved the quantizer."""
    mind = F.array_min(
        F.array(*[_norm2_diff(F.col(vec_col), c) for c in centroids])
    )
    return float(df.agg(F.sum(mind)).collect()[0][0] or 0.0)


def kmeans_refine_centroids(
    df: DataFrame,
    *,
    vec_col: str,
    centroids,
    n_iter: int = 5,
    tol: float = 1e-6,
    order_col: str | None = None,
) -> list[list[float]]:
    """Lloyd's k-means refinement of IVF centroids: per round, (1)
    map-only `ivf_assign` against the current centroid matrix, (2)
    element-wise mean per cell via posexplode + (cell, dim)-keyed
    avg — map-side partial aggregation means the shuffle carries at
    most k x dim rows per map task, and only the k x dim cell means
    reach the driver. Empty cells keep their previous centroid. Stops
    early when the max squared centroid shift drops below `tol`.
    `centroids` (the init) takes any `ivf_assign` form — a list, a
    numpy matrix or a 0..k-1-keyed (cell, vector) DataFrame — so k
    can be trained in the tens of thousands: one map-only pass plus a
    (k x dim)-row mean shuffle per round.

    At 100 TB: train on a sample (`df.sample(...)`) — the quantizer
    needs distribution shape, not every row; assignment of the full
    corpus happens once afterwards via `ivf_assign`.

    `order_col`: when set (a unique row key), each cell mean is a LEFT
    FOLD over values sorted by that key instead of `F.avg` — avg's
    partial-merge order follows shuffle-fetch order, so its low bits
    can differ run to run; the ordered fold is bit-deterministic (and
    therefore oracle-checkable). Costs a collect_list per (cell, dim)
    group — bounded by cell size, so sample-scale training only.
    """
    C = _centroid_matrix(centroids, centroid_id_col="cell",
                         centroid_vec_col=vec_col,
                         caller="kmeans_refine_centroids")
    return _lloyd_loop(
        df, vec_col=vec_col, centroids=C.tolist(), n_iter=n_iter,
        tol=tol, order_col=order_col,
    )


def _lloyd_loop(df, *, vec_col, centroids, n_iter, tol,
                order_col) -> list[list[float]]:
    cents = [[float(x) for x in c] for c in centroids]
    for _ in range(n_iter):
        assigned = ivf_assign(df, vec_col=vec_col, centroids=cents)
        exploded = assigned.select(
            *([order_col] if order_col else []),
            "cell", F.posexplode(F.col(vec_col)).alias("pos", "_x"),
        )
        if order_col is None:
            agg = exploded.groupBy("cell", "pos").agg(
                F.avg(F.col("_x").cast("double")).alias("_m")
            )
        else:
            folded = F.aggregate(
                F.array_sort(F.collect_list(F.struct(
                    F.col(order_col).alias("o"),
                    F.col("_x").cast("double").alias("x"),
                ))),
                F.lit(0.0),
                lambda acc, s: acc + s["x"],
            )
            agg = exploded.groupBy("cell", "pos").agg(
                (folded / F.count(F.lit(1))).alias("_m")
            )
        rows = agg.collect()
        new = [c[:] for c in cents]
        for r in rows:
            new[r["cell"]][r["pos"]] = float(r["_m"])
        shift = max(
            (
                sum((a - b) ** 2 for a, b in zip(new[i], cents[i]))
                for i in range(len(cents))
            ),
            default=0.0,
        )
        cents = new
        if shift <= tol:
            break
    return cents


def mean_pool_embeddings(df: DataFrame, *, group_col: str,
                         vec_col: str,
                         order_col: str | None = None) -> DataFrame:
    """Mean-pool vectors per group, LONG format: one row per (group,
    dimension position) with the rounded mean component — the centroid
    computation behind class prototypes / label-level embeddings.

    posexplode + groupBy(group, pos): the shuffle carries one scalar
    per (group, pos, partition) thanks to partial aggregation, and no
    row ever holds more than one component, so arbitrarily wide
    vectors and arbitrarily large groups both stream. (Long format on
    purpose: re-assembling arrays forces a per-group sort+collect and
    makes float results order-sensitive; downstream consumers can
    pivot the k rows they need.)

    `order_col` (a unique per-row key, e.g. the vector id) switches the
    mean to an ORDERED LEFT FOLD — components are summed in `order_col`
    order, making the double-precision result bit-reproducible across
    engines and partitionings (same contract as
    kmeans_refine_centroids). That requires collecting one group's
    components for a dimension into an array, so it serializes per
    (group, pos) — fine for verification and modest group sizes; leave
    it None for the partial-aggregation scale path.
    """
    exploded = df.select(
        F.col(group_col),
        *([F.col(order_col)] if order_col else []),
        F.posexplode(vec_col).alias("pos", "_v"),
    )
    if order_col is None:
        return (
            exploded.groupBy(group_col, "pos")
            .agg(F.round(F.avg("_v"), 4).alias("mean_val"))
        )
    ordered = F.transform(
        F.array_sort(F.collect_list(
            F.struct(F.col(order_col).alias("o"),
                     F.col("_v").cast("double").alias("v"))
        )),
        lambda s: s["v"],
    )
    fold = F.aggregate(ordered, F.lit(0.0), lambda acc, x: acc + x)
    return (
        exploded.groupBy(group_col, "pos")
        .agg(fold.alias("_sum"), F.count("_v").alias("_n"))
        .select(
            F.col(group_col), F.col("pos"),
            # + 0.0 canonicalizes IEEE -0.0 (engines disagree on
            # whether round() preserves the sign of a negative zero).
            (F.round(F.col("_sum") / F.col("_n"), 4) + F.lit(0.0))
            .alias("mean_val"),
        )
    )


def quantize_embeddings_int8(
    df: DataFrame, *, vec_col: str,
    out_col: str = "qvec", scale_col: str = "scale",
    err_col: str = "max_abs_err",
) -> DataFrame:
    """Symmetric int8 scalar quantization per vector — the standard
    4x compression for embedding storage/serving (and the write-side
    half of int8 ANN indexes).

    Per row: scale = max(|v|)/127 (0 for all-zero vectors), qvec[i] =
    clamp(round(v[i]/scale), -127, 127) as tinyint, plus the max
    absolute reconstruction error |q*scale - v| (rounded, 6 dp) so a
    curation pass can gate on quantization loss.

    Pure column expressions over the array (transform/aggregate —
    JVM-side, no UDF, no shuffle): a map-only pass that pipelines into
    the scan at any corpus size. round() is half-up on both Spark
    doubles and the DuckDB twin, so results are engine-portable.

    Empty arrays yield empty qvec, scale 0, err NULL; NULL vectors
    yield NULL qvec/err with scale 0.
    """
    v = F.col(vec_col)
    absmax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = F.when(absmax > 0, absmax / 127.0).otherwise(F.lit(0.0))
    q = F.when(
        F.col(scale_col) > 0,
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(F.lit(127),
                        F.round(x.cast("double") / F.col(scale_col), 0)
                        .cast("int")),
            ).cast("tinyint"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    err = F.round(
        F.aggregate(
            F.zip_with(
                F.col(out_col), v,
                lambda qi, x: F.abs(qi.cast("double") * F.col(scale_col)
                                    - x.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ),
        6,
    )
    return (
        df.withColumn(scale_col, F.round(scale, 9))
        .withColumn(out_col, q)
        .withColumn(err_col, F.when(F.size(v) > 0, err))
    )


def pq_codebooks_from_sample(df: DataFrame, *, id_col: str, vec_col: str,
                             m: int, ksub: int) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: the `ksub`
    lowest-id vectors, sliced into `m` subspaces — [m][ksub][dim/m].
    Same bootstrap contract as `ivf_centroids_from_sample(...,
    spread=False)` (offline k-means training is the production path;
    the sampled seed keeps the quantizer dependency-free and
    replayable) — and the gated PQ path always Lloyd-refines these
    seeds per subspace, which washes out seed correlation."""
    rows = df.orderBy(id_col).limit(ksub).select(vec_col).collect()
    seeds = [[float(x) for x in r[0]] for r in rows]
    if len(seeds) < ksub:
        raise ValueError(
            f"corpus has {len(seeds)} vectors, need >= ksub={ksub} "
            "to seed the codebooks"
        )
    dim = len(seeds[0])
    if dim % m != 0:
        raise ValueError(
            f"vector dim {dim} is not divisible by m={m} subspaces — "
            "the trailing dimensions would silently drop out of both "
            "encode and the ADC LUT"
        )
    dsub = dim // m
    return [[s[j * dsub:(j + 1) * dsub] for s in seeds] for j in range(m)]


def pq_codebooks_refined(
    df: DataFrame, *, id_col: str, vec_col: str, m: int, ksub: int,
    n_iter: int = 2, order_col: str | None = None,
) -> list[list[list[float]]]:
    """PQ codebooks TRAINED per subspace: seed with the `ksub`
    lowest-id vectors (pq_codebooks_from_sample), then run Lloyd's
    k-means independently on each subspace's slices — exactly how a
    production PQ index trains, reusing `kmeans_refine_centroids` on a
    projected (id, sub-vector) frame per subspace.

    With `order_col` set (a unique row key) each refinement round is a
    bit-deterministic ordered fold, so a SQL oracle can replay all
    m x n_iter rounds exactly. tol=0 (fixed round count) for the same
    reason.

    Scale shape: training touches m narrow projections of a SAMPLE
    (the quantizer needs distribution shape, not every row); driver
    state stays m x ksub x dsub floats. Encode of the full corpus
    happens once afterwards via `pq_encode`.
    """
    cbs = pq_codebooks_from_sample(
        df, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub
    )
    dsub = len(cbs[0][0])

    # All m subspaces refine in ONE job per round: explode each vector
    # into (subspace j, sub-vector) rows once, then assignment +
    # ordered-fold mean run jointly keyed by (j, cell) — m separate
    # Lloyd loops would cost m x n_iter Spark jobs for the same math.
    long = df.select(
        F.col(id_col).alias("_oid"),
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                F.transform(
                    F.slice(F.col(vec_col), j * dsub + 1, dsub),
                    lambda x: x.cast("double"),
                ).alias("vs"),
            )
            for j in range(m)
        ])).alias("_s"),
    ).select("_oid", F.col("_s.j").alias("_j"), F.col("_s.vs").alias("_vs"))
    long = long.persist()
    try:
        for _ in range(n_iter):
            # Assignment via the same Arrow-vectorized argmin as
            # pq_encode (ksub stacked HOF folds measured ~10 s/round
            # interpreted; see _pq_argmin_codes for the bit-exact
            # ordering contract). The codebooks ride the UDF closure.
            import numpy as np

            C = np.array(cbs, dtype=np.float64)

            @pandas_udf("int")
            def _assign(j: pd.Series, vs: pd.Series) -> pd.Series:
                J = j.to_numpy()
                V = np.array(vs.tolist(), dtype=np.float64)
                out = np.empty(len(J), dtype=np.int64)
                if len(J) == 0:
                    return pd.Series(out)
                for jj in np.unique(J):
                    mask = J == jj
                    S = V[mask]
                    d = np.zeros((S.shape[0], C.shape[1]))
                    for t in range(C.shape[2]):
                        diff = S[:, t, None] - C[jj][None, :, t]
                        d += diff * diff
                    out[mask] = d.argmin(axis=1)
                return pd.Series(out)

            assigned = long.withColumn(
                "_cell", _assign(F.col("_j"), F.col("_vs"))
            )
            exploded = assigned.select(
                "_oid", "_j", "_cell",
                F.posexplode("_vs").alias("_pos", "_x"),
            )
            if order_col is None:
                agg = exploded.groupBy("_j", "_cell", "_pos").agg(
                    F.avg("_x").alias("_m")
                )
            else:
                folded = F.aggregate(
                    F.array_sort(F.collect_list(F.struct(
                        F.col("_oid").alias("o"), F.col("_x").alias("x"),
                    ))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"],
                )
                agg = exploded.groupBy("_j", "_cell", "_pos").agg(
                    (folded / F.count(F.lit(1))).alias("_m")
                )
            new = [[c[:] for c in cb] for cb in cbs]
            for r in agg.collect():  # <= m x ksub x dsub scalars
                new[r["_j"]][r["_cell"]][r["_pos"]] = float(r["_m"])
            cbs = new  # empty cells keep their previous centroid
    finally:
        long.unpersist()
    return cbs


def _pq_argmin_codes(V, C):
    """numpy argmin-L2 codes for one Arrow batch: V (n, dim) against
    C (m, ksub, dsub) -> (n, m) int codes.

    Distances accumulate dimension-by-dimension LEFT TO RIGHT (explicit
    loop, not numpy's pairwise .sum()) so every distance is bit-
    identical to the SQL left-fold the oracle replays; np.argmin picks
    the FIRST minimal index, matching the (dist, idx) struct-min
    tie-break."""
    import numpy as np

    m, ksub, dsub = C.shape
    codes = np.empty((V.shape[0], m), dtype=np.int64)
    for j in range(m):
        S = V[:, j * dsub:(j + 1) * dsub]
        d = np.zeros((V.shape[0], ksub))
        for t in range(dsub):
            diff = S[:, t, None] - C[j][None, :, t]
            d += diff * diff
        codes[:, j] = d.argmin(axis=1)
    return codes


def pq_encode(df: DataFrame, *, vec_col: str,
              codebooks: list[list[list[float]]],
              out_col: str = "pq_code") -> DataFrame:
    """PQ encode: per subspace, argmin-L2 centroid index — m uint8-ish
    codes per vector (the 32x-compressed representation an ANN index
    stores instead of raw floats).

    Arrow-vectorized pandas UDF, deliberately: the column-expression
    formulation needs m x ksub stacked zip_with/aggregate folds, and
    higher-order functions are excluded from whole-stage codegen — at
    m=8, ksub=16 the interpreted evaluation measured ~4 ms/row (7.5 s
    for 2k vectors), vs one numpy broadcast matmul per batch here.
    Distance math is ordered exactly like the SQL fold (see
    `_pq_argmin_codes`), so results stay engine-replayable. Narrow and
    map-only — pipelines into the scan at any corpus size."""
    import numpy as np

    C = np.array(codebooks, dtype=np.float64)

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        V = np.array(v.tolist(), dtype=np.float64)
        if V.size == 0:
            return pd.Series([], dtype=object)
        codes = _pq_argmin_codes(V, C)
        return pd.Series([[int(x) for x in row] for row in codes])

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def knn_pq_adc(df: DataFrame, *, id_col: str, vec_col: str,
               query: list[float], codebooks: list[list[list[float]]],
               k: int = 10, rerank: int | None = None) -> DataFrame:
    """PQ ANN top-k via asymmetric distance computation: the query
    precomputes an m x ksub lookup table of subspace distances
    (driver-side floats — left-fold order matching the encode fold),
    and each vector's approximate distance is the sum of m LUT
    lookups on its codes — no float vector is touched at query time.
    Returns k rows: (id, adc_dist, pq_code, rank); with `rerank`
    set, (id, l2_dist, adc_dist, pq_code, rank), ranked by the exact
    re-ranked distance.

    Scale shape: encode is a one-off narrow write-side pass; the query
    side reads only the m-byte codes (32x less IO than raw vectors),
    the LUT rides the closure (m x ksub literals), and top-k is a
    TakeOrderedAndProject. The standard IVF-PQ layout composes this
    with `ivf_assign` partition pruning.
    """
    from pyspark.sql import Window

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    luts = []
    for j, cb in enumerate(codebooks):
        qs = query[j * dsub:(j + 1) * dsub]
        luts.append([
            sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in cb
        ])
    enc = pq_encode(df, vec_col=vec_col, codebooks=codebooks)
    dist = F.lit(0.0)
    for j in range(m):
        lut = F.array(*[F.lit(float(v)) for v in luts[j]])
        dist = dist + F.element_at(lut, F.element_at(F.col("pq_code"), j + 1) + 1)
    scored = enc.select(
        F.col(id_col),
        F.round(dist, 6).alias("adc_dist"),
        F.col("pq_code"),
    )
    if rerank is not None:
        # Production shape: ADC shortlists rerank >> k candidates from
        # codes alone, then ONLY those rows touch their float vectors
        # for an exact-L2 re-rank — IO stays code-sized, accuracy
        # becomes exact within the shortlist.
        short = scored.orderBy("adc_dist", id_col).limit(rerank)
        qarr = F.array(*[F.lit(float(x)) for x in query])
        exact = F.aggregate(
            F.zip_with(F.col(vec_col), qarr,
                       lambda a, b: (a.cast("double") - b)
                       * (a.cast("double") - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        rr = (
            short.join(df.select(id_col, vec_col), id_col)
            .withColumn("l2_dist", F.round(exact, 6))
            .select(id_col, "l2_dist", "adc_dist", "pq_code")
        )
        top = rr.orderBy("l2_dist", id_col).limit(k)
        w = Window.orderBy("l2_dist", F.col(id_col))
        return top.withColumn("rank", F.row_number().over(w).cast("int"))
    top = scored.orderBy("adc_dist", id_col).limit(k)
    w = Window.orderBy("adc_dist", id_col)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def knn_ivf_pq(
    df: DataFrame, *, id_col: str, vec_col: str, query: list[float],
    centroids, codebooks: list[list[list[float]]],
    n_probes: int = 2, k: int = 10, rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN top-k — the production large-scale ANN layout
    (Faiss's default at billion scale), composed from the two proven
    halves: the coarse quantizer restricts the search to the
    `n_probes` cells nearest the query (`ivf_assign`; at 100 TB the
    corpus is laid out partitionBy(cell), so this is partition
    PRUNING — unprobed cells are never read), then PQ asymmetric
    distance scores only the m-byte codes of the probed cells'
    vectors (`knn_pq_adc`), with the optional exact-L2 rerank of the
    `rerank`-row shortlist. Query-time IO = probed fraction x
    code-sized rows; no float vector is touched except the rerank
    shortlist.

    Same output contract as `knn_pq_adc` ((id, [l2_dist,] adc_dist,
    pq_code, rank)); fully deterministic (fixed centroids/codebooks,
    id tie-breaks), so the DuckDB twin chains the IVF cell CTE with
    the ADC LUT arithmetic verbatim.
    """
    if n_probes < 1:
        raise ValueError(f"knn_ivf_pq: n_probes must be >= 1, got {n_probes}")
    if not codebooks:
        raise ValueError("knn_ivf_pq: codebooks must be non-empty")

    def _l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    C = _centroid_matrix(centroids, centroid_id_col="cell",
                         centroid_vec_col=vec_col, caller="knn_ivf_pq")
    cents_list = C.tolist()
    order = sorted(
        range(len(cents_list)), key=lambda i: (_l2(query, cents_list[i]), i)
    )
    probe = order[:n_probes]
    assigned = ivf_assign(df, vec_col=vec_col, centroids=C)
    cand = assigned.where(F.col("cell").isin(probe)).drop("cell")
    return knn_pq_adc(
        cand, id_col=id_col, vec_col=vec_col, query=query,
        codebooks=codebooks, k=k, rerank=rerank,
    )


def knn_join_topk(
    df: DataFrame, *, id_col: str, vec_col: str, probe_ids: list[int],
    k: int = 5, salt_buckets: int = 16, vectorized: bool = False,
) -> DataFrame:
    """Batch k-NN JOIN: top-k cosine neighbors for EVERY probe in one
    job. Same broadcast-probes / corpus-never-shuffles contract as
    pairwise_topk_cosine, but the ranking is the salted two-level
    top-k: a first window partitioned by (probe, salt) bounds each
    salt bucket to k candidates, then the k*salt_buckets-row global
    window per probe finishes the rank. With P probes the naive
    single window funnels the whole scored corpus through P
    partitions — a skew cliff at scale; here no reducer ever holds
    more than its salt shard, and the final pass is k*salt_buckets
    rows per probe regardless of corpus size.

    Ranking key is the 6-dp-rounded cosine + neighbor id, identical
    in both phases, so the two-level result equals the single-window
    result exactly (min-k of a union == min-k of per-part min-k's).

    `vectorized=True` scores with the Arrow-batched dim-sequential
    numpy kernel (`_np_fold_cosines` — same float fold order as the
    HOF/oracle left fold, HALF_UP rounding replayed) instead of the
    interpreted HOF cosine; bit-equal results, ~10-20x cheaper per
    (row, probe) at scale. The HOF form stays the gate default. One
    degenerate-input divergence: zero-norm or NULL-vector candidates
    are dropped by the kernel but ranked last by the HOF windows, so
    a probe with fewer than k scorable neighbors pads its top-k with
    NULL rows only on the HOF path; likewise a NULL-vector PROBE
    yields no kernel rows (dropped before the matrix build) but k
    NULL-cosine rows on the HOF path. The kernel also requires an
    integer id column (its output schema is typed long); use the HOF
    path for string ids.
    """
    probes = df.where(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    if vectorized:
        import numpy as np

        # NULL probe vectors produce no cosine on the HOF path (the
        # fold yields NULL, dropped by the isNotNull filter) — drop
        # them here too instead of crashing the matrix build.
        probe_rows = sorted(
            (r for r in probes.collect() if r["probe_vec"] is not None),
            key=lambda r: int(r["probe_id"]),
        )
        if len(probe_rows) > 50_000:
            raise ValueError(
                f"knn_join_topk(vectorized=True): {len(probe_rows)} "
                "probes; beyond 50k the per-batch score matrix is GBs "
                "per task — use ann_join_srp (bucketed) instead"
            )
        pids = np.array(
            [int(r["probe_id"]) for r in probe_rows], dtype=np.int64
        )
        pm = np.array(
            [[float(x) for x in r["probe_vec"]] for r in probe_rows],
            dtype=np.float64,
        )

        def score(batches):
            import pandas as pd

            for pdf in batches:
                # NULL embeddings can produce no finite cosine —
                # dropped here like zero-norm rows (see the
                # degenerate-input note in the docstring).
                pdf = pdf[pdf[vec_col].notna()]
                ids = pdf[id_col].to_numpy()
                if len(ids) == 0 or len(pids) == 0:
                    continue
                cv = np.array(
                    [[float(x) for x in v] for v in pdf[vec_col]],
                    dtype=np.float64,
                )
                sims = _np_fold_cosines(cv, pm)
                rid, pidx = np.nonzero(
                    ~np.isnan(sims) & (ids[:, None] != pids[None, :])
                )
                yield pd.DataFrame({
                    "probe_id": pids[pidx],
                    "neighbor_id": ids[rid],
                    "cosine_sim": sims[rid, pidx],
                })

        scored = df.select(id_col, vec_col).mapInPandas(
            score,
            "probe_id long, neighbor_id long, cosine_sim double",
        )
    else:
        # norms precomputed ONCE per row on each side of the join
        # (r16 optimization round): inline, the HOF norm fold re-ran
        # per (corpus row x probe) pair — with P probes that is P
        # corpus-norm folds per row. _cn * _pn multiplies the same
        # doubles the inline form produced, so every cosine is
        # float-identical (the semantic_dedup_apply precompute).
        # The projections survive because CollapseProject cannot
        # merge across the join.
        probes_n = probes.withColumn("_pn", _norm(F.col("probe_vec")))
        corpus_n = df.select(F.col(id_col), F.col(vec_col)).withColumn(
            "_cn", _norm(F.col(vec_col))
        )
        scored = (
            corpus_n.alias("c")
            .join(F.broadcast(probes_n),
                  on=F.col(id_col) != F.col("probe_id"))
            .select(
                "probe_id",
                F.col(id_col).alias("neighbor_id"),
                F.round(
                    _safe_div(
                        _dot(F.col(vec_col), F.col("probe_vec")),
                        F.col("_cn") * F.col("_pn"),
                    ),
                    6,
                ).alias("cosine_sim"),
            )
        )
    from pyspark.sql import Window

    order = (F.col("cosine_sim").desc(), F.col("neighbor_id"))
    wp = Window.partitionBy(
        "probe_id", F.pmod(F.xxhash64("neighbor_id"), F.lit(salt_buckets))
    ).orderBy(*order)
    wg = Window.partitionBy("probe_id").orderBy(*order)
    return (
        scored.withColumn("_prn", F.row_number().over(wp))
        .where(F.col("_prn") <= k)
        .withColumn("knn_rank", F.row_number().over(wg).cast("long"))
        .where(F.col("knn_rank") <= k)
        .drop("_prn")
    )


def ann_join_srp(
    df: DataFrame, *, id_col: str, vec_col: str, probe_ids: list[int],
    planes: list[list[float]], k: int = 10, hamming: int = 1,
) -> DataFrame:
    """Multi-probe SRP ANN join: top-k approximate neighbors for every
    probe, restricted to corpus vectors whose SRP bucket is within
    `hamming` bit flips of the probe's bucket. The probe side expands
    each probe into its 1 + n_planes (for hamming=1) candidate bucket
    ids, so the bucket restriction becomes a plain EQUI-join on the
    bucket id — broadcastable probe side, hash-joinable, no
    theta-join nested loop; the corpus buckets once and never
    shuffles. The final per-probe rank sees only bucket-local
    candidates (corpus/2^n_planes expected), so a plain probe-keyed
    window suffices.
    """
    if hamming not in (0, 1):
        raise ValueError("ann_join_srp supports hamming 0 or 1")
    bucketed = srp_bucket(df, vec_col=vec_col, planes=planes)
    probes = bucketed.where(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        F.col("bucket").alias("_qbkt"),
    )
    flips = [F.col("_qbkt")]
    if hamming == 1:
        flips += [
            F.col("_qbkt").bitwiseXOR(F.lit(1 << i))
            for i in range(len(planes))
        ]
    expanded = probes.withColumn(
        "bucket", F.explode(F.array(*flips))
    ).drop("_qbkt")
    scored = (
        bucketed.join(F.broadcast(expanded), "bucket")
        .where(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                _safe_div(
                    _dot(F.col(vec_col), F.col("probe_vec")),
                    _norm(F.col(vec_col)) * _norm(F.col("probe_vec")),
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("ann_rank", F.row_number().over(w).cast("long"))
        .where(F.col("ann_rank") <= k)
    )


def embedding_dim_stats(df: DataFrame, *, vec_col: str) -> DataFrame:
    """Per-dimension mean/std/count over an embedding column — the
    whitening/normalization prep pass (and the drift monitor) every
    embedding pipeline runs. One posexplode projection + a hash agg
    with `dim` cardinality groups (map-side combine: the shuffle
    carries dim rows per partition regardless of corpus size). Stats
    round to 6 dp so cross-engine summation order cannot flip the
    hash."""
    ex = df.select(F.posexplode(F.col(vec_col)).alias("dim", "_v"))
    return (
        ex.groupBy("dim")
        .agg(
            F.round(F.avg(F.col("_v").cast("double")), 6).alias("dim_mean"),
            F.round(F.stddev_samp(F.col("_v").cast("double")), 6)
            .alias("dim_std"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    bench_id_col: str,
    bench_vec_col: str,
    threshold: float = 0.95,
    vectorized: bool = False,
) -> DataFrame:
    """Embedding-based (semantic) decontamination: flag corpus
    documents whose embedding is cosine-similar (>= threshold) to ANY
    benchmark embedding — the paraphrase-robust complement to the
    n-gram `corpus_prep.decontaminate` (which only catches verbatim
    overlap). Standard eval-hygiene step in modern training-data
    pipelines.

    Scale shape: the benchmark side is small by definition (eval
    suites are thousands of rows, not billions) and is BROADCAST; the
    corpus is never shuffled — each corpus partition scores its rows
    against the broadcast benchmark locally and the per-(corpus row)
    max collapses in the same stage via a partial aggregate keyed on
    the corpus id. Cost is linear in corpus x n_bench, embarrassingly
    parallel; for very large benchmarks, pre-bucket both sides with
    `srp_bucket` and equi-join on bucket instead (the
    `embedding_near_dup_pairs(planes=...)` path).

    `vectorized=True` swaps the interpreted HOF cosine for an
    Arrow-batched numpy kernel (mapInPandas) that accumulates the dot
    products dimension-by-dimension over the whole (batch x bench)
    matrix — SEQUENTIAL over dims, vectorized over rows, so the float
    fold order is IDENTICAL to the HOF/oracle left fold (np.dot's
    pairwise summation would not be), and HALF_UP rounding is
    replayed sign-aware. ~10x faster per row (measured 40x-corpus
    study); results bit-equal (tests/test_round5_ops.py). Requires
    integer corpus/bench id columns (the kernel output schema is
    typed long); NULL embeddings score NULL / not-contaminated, as
    on the HOF path. The HOF form stays the gate default.

    Returns (id, max_bench_cosine, matched_bench_id, contaminated).
    Zero-norm vectors on either side score NULL (never contaminated);
    ties on the max cosine resolve to the lowest benchmark id.
    Cosines round to 6 dp before the threshold compare so the flag is
    engine-portable.
    """
    if vectorized:
        return _semantic_decontaminate_np(
            corpus, benchmark, id_col=id_col, vec_col=vec_col,
            bench_id_col=bench_id_col, bench_vec_col=bench_vec_col,
            threshold=threshold,
        )
    # norms precomputed ONCE per row per side (r16 optimization
    # round): inline, the corpus-norm fold re-ran per (corpus row x
    # bench row). Same doubles, float-identical cosines (the
    # semantic_dedup_apply precompute).
    c = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    b = benchmark.select(
        F.col(bench_id_col).alias("_bid"),
        F.col(bench_vec_col).alias("_bv"),
        _norm(F.col(bench_vec_col)).alias("_bn"),
    )
    sim = F.round(
        _safe_div(_dot(F.col("_cv"), F.col("_bv")),
                  F.col("_cn") * F.col("_bn")),
        6,
    )
    scored = (
        c.join(F.broadcast(b))
        .select(id_col, F.col("_bid"), sim.alias("_sim"))
        .where(F.col("_sim").isNotNull())
    )
    best = (
        scored.groupBy(id_col)
        .agg(
            F.max("_sim").alias("max_bench_cosine"),
            F.min_by("_bid", F.struct(
                (-F.col("_sim")).alias("s"), F.col("_bid").alias("i")
            )).alias("matched_bench_id"),
        )
    )
    return (
        corpus.select(id_col).join(best, id_col, "left")
        .select(
            id_col,
            "max_bench_cosine",
            "matched_bench_id",
            F.coalesce(
                F.col("max_bench_cosine") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )
    )


def _np_round6_half_up(x):
    """Sign-aware HALF_UP at 6 dp, replaying Spark's F.round(_, 6) on
    doubles EXACTLY. Spark rounds via BigDecimal.valueOf(d) — the
    SHORTEST decimal representation of the double — then HALF_UP;
    the vectorized `floor(|x|*1e6 + 0.5)` agrees everywhere except
    doubles whose shortest representation sits exactly on the .5e-7
    boundary (e.g. repr '0.0588235': binary *1e6 computes
    58823.49999.., flooring DOWN where BigDecimal rounds UP). Those
    boundary elements are rare, so they are detected by proximity
    and re-rounded through Python's decimal module on repr(x) — the
    same shortest-representation HALF_UP Spark applies — keeping the
    hot path fully vectorized and the result bit-equal in general,
    not just on fixtures (numpy's np.round is banker's/half-even and
    would be wrong on every boundary). The proximity threshold scales
    with the magnitude (a few ulps of |x|*1e6, floored at 1e-8) so
    detection stays sound at any |x|, not just the cosine callers'
    [-1, 1] domain — a fixed 1e-8 would miss true boundaries once the
    ulp of the scaled value exceeds it (|x| beyond ~1e2)."""
    import decimal

    import numpy as np

    fast = np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6
    scaled = np.abs(x) * 1e6
    with np.errstate(invalid="ignore"):
        tol = np.maximum(1e-8, 4.0 * np.spacing(scaled))
        near = np.abs(scaled - np.floor(scaled) - 0.5) < tol
    near &= ~np.isnan(x)
    if near.any():
        q = decimal.Decimal("1e-6")
        it = np.nditer(near, flags=["multi_index"])
        for flag in it:
            if flag:
                idx = it.multi_index
                fast[idx] = float(
                    decimal.Decimal(repr(float(x[idx]))).quantize(
                        q, rounding=decimal.ROUND_HALF_UP
                    )
                )
    return fast


def _np_fold_cosines(cv, bm):
    """Cosine matrix (rows x bench) with the dot/norm accumulations
    SEQUENTIAL over dimensions — vectorized over rows, but the float
    fold order per element is IDENTICAL to the HOF/oracle left fold
    (np.dot's pairwise summation is not). NaN where either norm is 0
    (the _safe_div NULL contract). Returns 6-dp HALF_UP rounded."""
    import numpy as np

    dots = np.zeros((cv.shape[0], bm.shape[0]))
    cnorm2 = np.zeros(cv.shape[0])
    bnorm2 = np.zeros(bm.shape[0])
    for j in range(cv.shape[1]):
        dots += np.outer(cv[:, j], bm[:, j])
        cnorm2 += cv[:, j] * cv[:, j]
        bnorm2 += bm[:, j] * bm[:, j]
    denom = np.outer(np.sqrt(cnorm2), np.sqrt(bnorm2))
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(denom > 0, dots / denom, np.nan)
    return _np_round6_half_up(sims)


def _semantic_decontaminate_np(
    corpus: DataFrame, benchmark: DataFrame, *, id_col: str,
    vec_col: str, bench_id_col: str, bench_vec_col: str, threshold: float,
) -> DataFrame:
    """Vectorized kernel for `semantic_decontaminate(vectorized=True)`
    — see its docstring for the fold-order and rounding contract."""
    import numpy as np

    # NULL benchmark vectors produce no cosine on the HOF path (the
    # fold yields NULL, dropped before the argmax) — drop them here
    # too instead of crashing the matrix build.
    bench_rows = sorted(
        (r for r in benchmark.select(bench_id_col, bench_vec_col).collect()
         if r[1] is not None),
        key=lambda r: r[0],
    )
    if len(bench_rows) > 50_000:
        # The kernel materializes a (arrow_batch x bench) double
        # matrix per batch (~10k x bench x 8 B) — beyond ~50k bench
        # rows that is GBs per task; bucket both sides with
        # srp_bucket / embedding_near_dup_pairs(planes=...) instead.
        raise ValueError(
            f"semantic_decontaminate(vectorized=True): benchmark has "
            f"{len(bench_rows)} rows; beyond 50k use the SRP-bucketed "
            "path (embedding_near_dup_pairs with planes)"
        )
    bids = np.array([int(r[0]) for r in bench_rows], dtype=np.int64)
    bm = np.array(
        [[float(x) for x in r[1]] for r in bench_rows], dtype=np.float64
    )
    out_schema = (
        f"{id_col} long, max_bench_cosine double, "
        "matched_bench_id long, contaminated boolean"
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                continue
            # NULL embeddings score like zero-norm ones on the HOF
            # path: no cosine, never contaminated.
            null_vec = pdf[vec_col].isna().to_numpy()
            if len(bids) == 0 or null_vec.all():
                yield pd.DataFrame({
                    id_col: ids,
                    "max_bench_cosine": [None] * len(ids),
                    "matched_bench_id": [None] * len(ids),
                    "contaminated": [False] * len(ids),
                })
                continue
            cv = np.array(
                [[float(x) for x in v]
                 for v in pdf[vec_col][~null_vec]],
                dtype=np.float64,
            )
            sims_valid = _np_fold_cosines(cv, bm)
            sims = np.full((len(ids), len(bids)), np.nan)
            sims[~null_vec] = sims_valid
            valid = ~np.isnan(sims)
            any_valid = valid.any(axis=1)
            neg = np.where(valid, sims, -np.inf)
            best = np.max(neg, axis=1)
            # argmax with lowest-bid tie-break: bids are sorted asc,
            # argmax returns the FIRST max.
            arg = neg.argmax(axis=1)
            yield pd.DataFrame({
                id_col: ids,
                "max_bench_cosine": [
                    best[i] if any_valid[i] else None
                    for i in range(len(ids))
                ],
                "matched_bench_id": [
                    int(bids[arg[i]]) if any_valid[i] else None
                    for i in range(len(ids))
                ],
                "contaminated": [
                    bool(any_valid[i] and best[i] >= threshold)
                    for i in range(len(ids))
                ],
            })

    return corpus.select(id_col, vec_col).mapInPandas(score, out_schema)


def rank_fusion(
    ranked: list,
    *,
    probe_col: str = "probe_id",
    id_col: str = "neighbor_id",
    rrf_k: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (RRF, Cormack et al.) of N per-probe
    retrieval lists — the standard hybrid-search combiner: each
    system's contribution is 1/(rrf_k + rank), summed per (probe,
    candidate), so a candidate that ranks high ANYWHERE beats one
    that ranks mid everywhere, without ever comparing the systems'
    incomparable raw scores (BM25 vs cosine vs PQ distance).

    `ranked` is a list of (DataFrame, rank_col) pairs; each frame
    must carry `probe_col`, `id_col`, and its 1-based rank column.
    Rows with NULL rank are ignored (a system that has no opinion on
    a candidate contributes nothing — RRF's defining property).

    Emitted per probe: the fused top_n with `rrf_score` (6-dp),
    `n_systems` (how many lists proposed the candidate) and
    `fused_rank`, ties broken by candidate id — deterministic and
    engine-replayable.

    Scale shape: the inputs are already per-probe top-k lists
    (k * P rows each, never corpus-sized), so fusion is arithmetic
    on the SMALL side of the retrieval stack: one union + one
    groupBy on (probe, candidate) + one per-probe window over
    <= N*k candidates. The expensive part (scoring the corpus) stays
    in the upstream operators, which keep their own
    corpus-never-shuffles contracts. Summation determinism: with two
    systems IEEE addition is commutative-exact; beyond two, the 6-dp
    round absorbs association noise (same contract as the proven
    cosine oracles).
    """
    from pyspark.sql import Window

    if not ranked:
        raise ValueError("rank_fusion: need at least one ranked list")
    parts = []
    for df, rank_col in ranked:
        parts.append(
            df.where(F.col(rank_col).isNotNull()).select(
                F.col(probe_col).alias("probe_id"),
                F.col(id_col).alias("neighbor_id"),
                (
                    F.lit(1.0)
                    / (F.lit(rrf_k).cast("double")
                       + F.col(rank_col).cast("double"))
                ).alias("_contrib"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("probe_id", "neighbor_id").agg(
        F.round(F.sum("_contrib"), 6).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_systems"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .where(F.col("fused_rank") <= top_n)
    )


def truncated_dim_recall(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    probe_ids: list,
    k: int = 10,
    dim_tiers: tuple = (8, 16, 32),
    salt_buckets: int = 16,
    validate_dims: bool = True,
) -> DataFrame:
    """Matryoshka / truncated-dimension retrieval audit: recall@k of
    cosine top-k computed on the FIRST-d prefix of each embedding vs
    the full-dimension truth, one row per (dims, probe) plus the
    per-tier mean — the measurement behind every shorten-the-vectors
    decision (MRL-style embeddings, dim-sliced indexes, cheap
    first-pass rerank): prefix dims carry the signal only if training
    put it there, so MEASURE it, never assume it. The dim-axis
    sibling of `ann_recall` (bucket axis) and `knn_pq_adc`
    (codebook axis).

    Emitted: (dims, probe_id, n_hits, recall_at_k), recall 4-dp.

    Scale shape: truth and every tier reuse `knn_join_topk`'s
    broadcast-probes / corpus-never-shuffles / salted two-level rank
    contract; the prefix is one `F.slice` projection fused into the
    scan; tiers are a UNION of len(dim_tiers) independent subplans
    (tiers are few and the probe set is sampled, so the audit costs
    T corpus scans of one Arrow-narrow projection each); the audit
    join itself runs on k-row-per-(tier, probe) tables.
    """
    if not dim_tiers:
        raise ValueError("truncated_dim_recall: dim_tiers must be non-empty")
    if any(d < 1 for d in dim_tiers):
        raise ValueError(
            f"truncated_dim_recall: dims must be >= 1, got {dim_tiers}"
        )
    # A tier LARGER than the actual embedding would silently clamp
    # (F.slice past the end returns the whole array), making that
    # tier's top-k equal the full-dim truth and its recall a
    # misleading 1.0 — so validate against the observed minimum
    # vector length (one scalar to the driver; NULL vectors are
    # ignored here, as the scorers already treat them as no-cosine).
    # ADVICE r10 caveats, both deliberate: (a) this is an EAGER
    # full-corpus MIN(size(vec)) aggregate at call time — one narrow
    # columnar scan, the price of failing fast instead of publishing
    # a vacuous 1.0; (b) a single short vector anywhere blocks the
    # audit even though only probes/neighbors enter recall — any
    # short CORPUS vector still slice-clamps its own candidate
    # cosine, so mixed-length corpora are a data bug this audit
    # refuses to grade. Pass validate_dims=False to skip the scan
    # for corpora with known, accepted mixed-length vectors.
    if validate_dims:
        max_tier = max(int(t) for t in dim_tiers)
        min_dim = df.select(
            F.min(
                F.when(F.col(vec_col).isNotNull(), F.size(F.col(vec_col)))
            ).alias("m")
        ).head()["m"]
        if min_dim is not None and max_tier > min_dim:
            raise ValueError(
                f"truncated_dim_recall: dim tier {max_tier} exceeds the "
                f"shortest observed {vec_col} length {min_dim}; oversized "
                "tiers would slice-clamp to the full vector and report a "
                "vacuous recall of 1.0"
            )
    exact = knn_join_topk(
        df, id_col=id_col, vec_col=vec_col, probe_ids=probe_ids, k=k,
        salt_buckets=salt_buckets,
    ).select("probe_id", "neighbor_id")
    tiers = None
    for d in sorted(set(int(d) for d in dim_tiers)):
        sliced = df.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, d).alias(vec_col)
        )
        t = knn_join_topk(
            sliced, id_col=id_col, vec_col=vec_col, probe_ids=probe_ids,
            k=k, salt_buckets=salt_buckets,
        ).select(
            F.lit(d).alias("dims"), "probe_id", "neighbor_id"
        )
        tiers = t if tiers is None else tiers.unionByName(t)
    hits = (
        tiers.join(exact, ["probe_id", "neighbor_id"], "left_semi")
        .groupBy("dims", "probe_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # (dims, probe) frame from the EXACT side x tier literals — NOT
    # distinct-over-tiers, which would run the whole T-scan tier
    # union a second time just to enumerate keys
    base = (
        exact.select("probe_id").distinct()
        .select(
            F.explode(F.array(*[
                F.lit(int(d)) for d in sorted(set(int(d) for d in dim_tiers))
            ])).alias("dims"),
            "probe_id",
        )
    )
    return (
        base.join(hits, ["dims", "probe_id"], "left")
        .select(
            "dims",
            "probe_id",
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0).cast("long")) / F.lit(float(k)),
                4,
            ).alias("recall_at_k"),
        )
    )


def whiten_embeddings(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-dimension whitening (z-scoring) of an embedding column —
    the normalization pass run before cosine ANN when dimensions
    carry wildly different variances (a handful of high-variance
    dims otherwise dominate every dot product): each component
    becomes (x - mean_d) / std_d, degenerate dims (std 0) map to
    0.0. Uses `embedding_dim_stats`' 6-dp stats so the transform is
    engine-replayable; output is LONG format (id, dim, white_val) —
    the join-free shape downstream per-dim consumers (quantizers,
    per-dim drift) read directly.

    Scale shape: phase 1 is the dim-stats aggregate (shuffle carries
    `dim` rows per partition); its result is DIM-sized — 64 doubles
    here — and collects to the driver like a centroid table, baked
    into the phase-2 projection as array literals. Phase 2 is
    map-only (transform + posexplode): the corpus is NEVER shuffled
    and the whitening fuses with the scan.
    """
    return whiten_embeddings_with_stats(
        df, id_col=id_col, vec_col=vec_col,
        stats=whitening_stats(df, vec_col=vec_col),
    )


def whitening_stats(df: DataFrame, *, vec_col: str) -> list:
    """Collect the DIM-sized whitening calibration (sorted
    (mean, std) pairs, 6-dp) — the freeze point: compute once on the
    reference corpus, then apply to any batch or stream with
    `whiten_embeddings_with_stats` (the `quality_cut_points` /
    `quality_blend_with_cuts` split)."""
    stats = sorted(
        embedding_dim_stats(df, vec_col=vec_col).collect(),
        key=lambda r: r["dim"],
    )
    if not stats:
        raise ValueError("whitening_stats: empty input")
    return [
        (float(r["dim_mean"]),
         float(r["dim_std"]) if r["dim_std"] is not None else 0.0)
        for r in stats
    ]


def whiten_embeddings_with_stats(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    stats: list,
) -> DataFrame:
    """Apply a FROZEN whitening calibration (from `whitening_stats`)
    — pure map-only projection (transform + posexplode), legal in a
    streaming SELECT as-is: per-row determinism makes the streaming
    union equal the batch result regardless of chunking (proven in
    tests/test_round8_ops.py).

    Dimensions BEYOND the calibration length stay NULL (not 0.0, and
    not an ANSI INVALID_ARRAY_INDEX crash — hence try_element_at) so
    a vector-length/calibration mismatch is visible in the output
    instead of silently zeroed; in-range degenerate dims — std 0, or
    a NULL std from a degenerate calibration (STDDEV_SAMP over a
    single row) — still map to 0.0 (ADVICE r9: degenerate-ness is
    decided by the INDEX being in calibration range, never by the
    std's NULL-ness, so NULL stds cannot leak out-of-range NULLs
    in).

    CAVEAT (ADVICE r10): NULL output is NOT a unique
    calibration-mismatch signal — an in-range input ELEMENT that is
    itself NULL (with std > 0) propagates NULL through
    (x - mean) / std as well. Callers needing a strict
    out-of-range-only NULL invariant must pre-clean NULL elements
    (they are rare: a well-formed embedding column has none)."""
    n_cal = len(stats)
    means = F.array(*[F.lit(m) for m, _ in stats])
    stds = F.array(*[F.lit(sd) for _, sd in stats])
    white = F.transform(
        F.col(vec_col),
        lambda x, i: F.round(
            F.when(
                F.try_element_at(stds, i + 1) > 0,
                (x.cast("double") - F.try_element_at(means, i + 1))
                / F.try_element_at(stds, i + 1),
            # in-range degenerate dims (std <= 0 OR NULL) -> 0.0;
            # out-of-calibration dims fall past BOTH branches -> NULL
            ).when(i + 1 <= F.lit(n_cal), F.lit(0.0)),
            6,
        ),
    )
    return df.select(
        id_col, F.posexplode(white).alias("dim", "white_val")
    )


# --- retrieval-quality metrics (NDCG / MRR / recall) -------------------

def ndcg_weights(k: int) -> tuple[list[float], list[float]]:
    """Per-rank DCG gains 1/log2(i+1) for ranks 1..k and their prefix
    sums (the IDCG at n relevant items), computed ONCE in Python so the
    Spark plan and the DuckDB twin bake the IDENTICAL double literals
    (the `_HLL_ALPHA_M2` pattern) — no cross-engine log2 in the hot
    expression at all."""
    import math

    gains = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    prefix, acc = [], 0.0
    for g in gains:
        acc += g
        prefix.append(acc)
    return gains, prefix


def retrieval_metrics(
    truth: DataFrame,
    approx: DataFrame,
    *,
    k: int,
    query_col: str = "probe_id",
    id_col: str = "neighbor_id",
    truth_rank_col: str = "knn_rank",
    approx_rank_col: str = "ann_rank",
) -> DataFrame:
    """Rank-aware retrieval-quality evaluation of an approximate
    ranking against a ground-truth ranking — the standard IR metrics a
    production ANN deployment tracks per probe, one row per query:

      n_truth     ground-truth size (<= k; small corpora give < k)
      n_hits      |approx top-k  intersect  truth top-k|
      recall_at_k n_hits / n_truth
      mrr         1 / rank of the FIRST relevant approx item (0 if none)
      ndcg        DCG@k / IDCG(n_truth) with binary relevance
                  (rel=1 iff the approx item is in the truth top-k)

    Generic over any two (query, id, rank) tables — exact-vs-ANN here
    (`ext-retrieval-metrics` gates exact kNN vs SRP-ANN, extending the
    membership-only `ext-ann-recall` audit with rank sensitivity), but
    equally IVF-vs-exact or fusion-vs-editorial.

    Determinism contract: the DCG gain per rank and the IDCG prefix
    sums are Python float literals shared with the SQL twin
    (`ndcg_weights`), and per-query DCG is an ORDERED fold over ranks
    (array_sort + F.aggregate, the `hll_distinct` summation pattern) —
    bit-reproducible in any engine with an ordered list fold.

    Scale shape: one (query, id) hash join marks relevance (truth side
    is probes x k rows — broadcast), one groupBy per metric table; the
    per-query fold touches <= k elements. Nothing is collected; state
    per query is k (rank, rel) pairs.
    """
    gains, prefix = ndcg_weights(k)
    w_arr = F.array(*[F.lit(g) for g in gains])
    p_arr = F.array(*[F.lit(p) for p in prefix])

    t = truth.filter(F.col(truth_rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_id"),
        F.lit(1).alias("_rel"),
    )
    n_truth = t.groupBy("_q").agg(F.count(F.lit(1)).alias("n_truth"))
    a = approx.filter(F.col(approx_rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_id"),
        F.col(approx_rank_col).cast("int").alias("_r"),
    )
    marked = a.join(F.broadcast(t), ["_q", "_id"], "left").select(
        "_q", "_r", F.coalesce("_rel", F.lit(0)).alias("_rel")
    )
    per = marked.groupBy("_q").agg(
        F.sum("_rel").cast("long").alias("n_hits"),
        F.min(F.when(F.col("_rel") == 1, F.col("_r"))).alias("_first"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_r").alias("r"), F.col("_rel").alias("rel"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + x["rel"].cast("double") * F.element_at(w_arr, x["r"]),
        ).alias("_dcg"),
    )
    idcg = F.element_at(p_arr, F.least(F.col("n_truth"), F.lit(k)).cast("int"))
    # Both sides are probe-count-bounded; the hint goes on the RIGHT
    # side (the only broadcastable side of a left outer join).
    return (
        n_truth
        .join(F.broadcast(per), "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            "n_truth",
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0).cast("long")).cast("double")
                / F.col("n_truth").cast("double"),
                4,
            ).alias("recall_at_k"),
            F.when(F.col("_first").isNull(), F.lit(0.0))
            .otherwise(F.round(F.lit(1.0) / F.col("_first").cast("double"), 6))
            .alias("mrr"),
            F.round(F.coalesce("_dcg", F.lit(0.0)) / idcg, 6).alias("ndcg"),
        )
    )


def rbo_tail_weights(k: int, p: float = 0.9) -> list[float]:
    """TAIL[r] = sum_{d=r..k} (1-p) p^(d-1) / d — the truncated
    rank-biased-overlap mass an agreement at max-rank r contributes
    (Webber et al. 2010 eq. 4, truncated form: RBO@k =
    sum_d (1-p) p^(d-1) X_d / d, and X_d counts matched items with
    max(rank_a, rank_b) <= d, so each matched item contributes
    exactly TAIL[max-rank]). Python float literals shared with the
    SQL twin — the `ndcg_weights` pattern."""
    terms = [(1.0 - p) * p ** (d - 1) / d for d in range(1, k + 1)]
    tails = []
    for r in range(k):
        acc = 0.0
        for t in terms[r:]:
            acc += t
        tails.append(acc)
    return tails


def rank_biased_overlap(
    a: DataFrame,
    b: DataFrame,
    *,
    k: int,
    p: float = 0.9,
    query_col: str = "probe_id",
    id_col: str = "neighbor_id",
    rank_a_col: str = "knn_rank",
    rank_b_col: str = "ann_rank",
) -> DataFrame:
    """Truncated rank-biased overlap (RBO@k, Webber et al. 2010)
    between two rankings per query — the SYMMETRIC agreement measure
    that, unlike NDCG/MRR (`retrieval_metrics`), needs no ground-truth
    labeling: compare two ANN configurations, two quantizers, or an
    index before/after a rebuild, top-weighted by persistence
    parameter p.

    Decomposition that keeps it engine-replayable: a matched item
    with ranks (ra, rb) enters every depth d >= max(ra, rb), so its
    total mass is TAIL[max(ra, rb)] — a Python float literal
    (`rbo_tail_weights`). Per-query RBO is then an ORDERED fold over
    the sorted max-rank list (ties carry equal literals, so tie order
    cannot change the sum). One (query, id) equi-join + one groupBy;
    <= k elements per query ever fold.
    """
    tails = rbo_tail_weights(k, p)
    t_arr = F.array(*[F.lit(t) for t in tails])
    ar = a.filter(F.col(rank_a_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_id"),
        F.col(rank_a_col).cast("int").alias("_ra"),
    )
    br = b.filter(F.col(rank_b_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_id"),
        F.col(rank_b_col).cast("int").alias("_rb"),
    )
    matched = ar.join(br, ["_q", "_id"]).select(
        "_q", F.greatest("_ra", "_rb").alias("_md")
    )
    per = matched.groupBy("_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.aggregate(
            F.array_sort(F.collect_list("_md")),
            F.lit(0.0),
            lambda acc, x: acc + F.element_at(t_arr, x),
        ).alias("_rbo"),
    )
    universe = (
        ar.select("_q").unionByName(br.select("_q")).distinct()
    )
    return universe.join(F.broadcast(per), "_q", "left").select(
        F.col("_q").alias(query_col),
        F.coalesce("n_matched", F.lit(0).cast("long")).alias("n_matched"),
        F.round(F.coalesce("_rbo", F.lit(0.0)), 6).alias("rbo"),
    )
