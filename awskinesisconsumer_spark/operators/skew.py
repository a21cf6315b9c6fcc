"""Skew-handling utilities — the 100 TB survival kit the task mandates
(salting for hot keys, bucketing for co-located joins).

AQE's skew-join splitting handles most cases at runtime
(session.py turns it on); these are the explicit tools for the two
shapes AQE can't fix: a *hot aggregation key* (salting) and a
*repeatedly joined fact pair* (write-time bucketing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_agg_sum(
    df: DataFrame, *, key: str, value: str, salt_buckets: int = 16,
    out_col: str = "sum_value",
) -> DataFrame:
    """Two-stage salted sum: stage 1 aggregates (key, salt) — spreading
    a hot key over `salt_buckets` reducers — stage 2 merges the per-salt
    partials. Identical result to a plain groupBy().sum(); the salt is
    sprayed from a hash of the whole row (deterministic, uniform).

    Worth it only when one key dominates: the price is a second (tiny)
    shuffle of key x salt_buckets rows. For sums/counts/min/max any
    map-side combine already absorbs most skew — salting matters when
    the per-key state is heavy (collect_list, distinct counts)."""
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(salt_buckets))
    stage1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return stage1.groupBy(key).agg(F.round(F.sum("_partial"), 2).alias(out_col))


def write_bucketed(
    df: DataFrame, *, table: str, bucket_col: str, num_buckets: int,
    sort_col: str | None = None, path: str | None = None,
) -> None:
    """Write-time bucketing: co-locates (and optionally sorts) rows by
    the join key so repeated equi-joins/aggs on that key run with NO
    exchange — the physical-layout contract Spark's bucketed tables
    give us (hash(bucket_col) % num_buckets == file bucket).

    `path` makes the table external (warehouse.dir is a static conf,
    so tests point the data somewhere disposable)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: str) -> DataFrame:
    """Join two same-bucketed tables on the bucket key: Catalyst plans
    a SortMergeJoin with zero Exchange on both sides."""
    return spark.table(left_table).join(spark.table(right_table), on)


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    *,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Hot-key equi-join: spray the fact side across `salt_buckets`
    sub-keys and replicate the dim side once per bucket, joining on
    (key, salt) — so a key carrying half the fact table lands on
    `salt_buckets` reducers instead of one. Identical rows to a plain
    join on `key`.

    This is the explicit form of what AQE skew-join does at runtime;
    use it when skew is KNOWN and stable (one tenant, one null-ish
    default key) or when the join sits under an operator AQE can't
    split. Cost: the dim side is written `salt_buckets` times into
    the exchange — keep it for genuinely small dims.

    Only `inner` and `left` joins are supported: with right/full
    semantics an UNMATCHED dim row is emitted once per salt replica
    (salt_buckets copies), silently multiplying rows — use a plain
    join (or AQE) for those. The salt sprays from the partition id +
    a per-partition counter rather than a whole-row hash, so MapType
    or otherwise unhashable fact columns cannot break it and spray
    stays uniform even for fully duplicated rows."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only, got how={how!r}"
            " — right/full would emit unmatched dim rows once per salt"
            " replica"
        )
    salt = F.pmod(
        F.spark_partition_id()
        + F.monotonically_increasing_id(),
        F.lit(salt_buckets),
    )
    salted_facts = facts.withColumn("_salt", salt)
    rep = dim.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    return salted_facts.join(rep, [key, "_salt"], how).drop("_salt")


# fan_out_small's default size gate per task.
_FANOUT_TASK_BYTES = 4 * 1024 * 1024


def fan_out_small(
    df: DataFrame, *, bytes_per_task: int | None = None
) -> DataFrame:
    """Scale-adaptive parallelism FLOOR for CPU-heavy map-only
    operators (the inverse of AQE coalescing, optimization-guide §2):
    a tiny input — one parquet row group, one replayed micro-batch —
    plans as ONE scan split no matter how many cores the host has
    (FileSourceScan cannot split below row-group granularity), so an
    operator that burns CPU per row (per-character rolling-hash
    election, per-span sentinel rendering) serializes on a single
    core. When the plan-estimated input size is under
    defaultParallelism * bytes_per_task, repartition to
    defaultParallelism: a round-robin exchange whose total volume is,
    by the very gate that fired it, at most cores * bytes_per_task —
    trivially cheap exactly when it triggers. At scale the gate never
    fires (100 TB >> cores * 4 MiB) and the caller keeps its map-only
    zero-shuffle plan, so this is NOT a local[32] constant: the
    threshold derives from the actual core count and actual input
    size wherever it runs.

    `bytes_per_task` defaults to `_FANOUT_TASK_BYTES` (4 MiB); pass 0
    to disable. Streaming DataFrames and plans without a size
    estimate are returned unchanged. Callers must be
    partition-layout-independent (per-row outputs, integer/keyed
    aggregation) — every in-repo caller is; do NOT use upstream of
    monotonically_increasing_id or float cross-row folds."""
    if bytes_per_task is None:
        bytes_per_task = _FANOUT_TASK_BYTES
    if bytes_per_task <= 0 or df.isStreaming:
        return df
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        if par <= 1:
            return df
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes())
        )
    except Exception:  # unsized/foreign plan: leave it alone
        return df
    if size >= par * bytes_per_task:
        return df
    return df.repartition(par)
