"""Skew/bucketing utilities: salted agg equivalence + bucketed join
plans with no Exchange."""

from __future__ import annotations


from pyspark.sql import functions as F

from awskinesisconsumer_spark.io import load_table
from awskinesisconsumer_spark.operators.skew import (
    bucketed_join,
    salted_agg_sum,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


def test_salted_sum_equals_plain_sum(spark):
    ev = load_table(spark, "events", SF)
    salted = {
        (r.event_type): r.sum_value
        for r in salted_agg_sum(ev, key="event_type", value="value").collect()
    }
    plain = {
        (r.event_type): r.sum_value
        for r in ev.groupBy("event_type")
        .agg(F.round(F.sum("value"), 2).alias("sum_value"))
        .collect()
    }
    assert salted == plain


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = load_table(spark, "orders", SF)
    lineitem = load_table(spark, "lineitem", SF)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "okey"),
        table="b_orders", bucket_col="okey", num_buckets=8,
        path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "okey"),
        table="b_lineitem", bucket_col="okey", num_buckets=8,
        path=str(tmp_path / "b_lineitem"),
    )
    # Force the sort-merge path: broadcast would win at this tiny SF
    # and bypass bucketing entirely (which is correct planner behavior
    # — bucketing pays off when BOTH sides are too big to broadcast).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", on="okey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # and the join result is correct
    want = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).count()
    assert joined.count() == want
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_fan_out_small_gate(spark):
    # r16: the parallelism floor fires only for small batch inputs —
    # tiny scan fans out to defaultParallelism; a big-enough
    # threshold-0 call, a streaming df, and a disabled gate all pass
    # through unchanged.
    from awskinesisconsumer_spark.operators.skew import fan_out_small

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    fanned = fan_out_small(docs)
    if par > 1:
        assert fanned.rdd.getNumPartitions() == par
        assert "Exchange" in fanned._jdf.queryExecution().toString()
    # disabled -> identity
    assert fan_out_small(docs, bytes_per_task=0) is docs
    # input estimated above cores * 1 byte -> identity
    assert fan_out_small(docs, bytes_per_task=1) is docs
    # streaming df -> identity (never repartition a live stream here)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert fan_out_small(stream) is stream


def test_fan_out_small_preserves_cdc_output(spark, monkeypatch):
    # The fan-out + outer-explode CDC path must emit EXACTLY the rows
    # of the single-partition form (per-row outputs are
    # partition-layout independent by construction).
    from awskinesisconsumer_spark.operators import skew
    from awskinesisconsumer_spark.operators.corpus_prep import (
        content_defined_chunks_clamped,
    )
    from awskinesisconsumer_spark.operators.dedup import portable_hash52

    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    kw = dict(id_col="doc_id", text_col="text", window=8, divisor=64,
              min_len=32, max_len=128, hash_fn=portable_hash52)
    fanned = sorted(
        map(tuple, content_defined_chunks_clamped(docs, **kw).collect())
    )
    monkeypatch.setattr(skew, "_FANOUT_TASK_BYTES", 0)
    one_df = content_defined_chunks_clamped(docs, **kw)
    assert "Exchange" not in one_df._jdf.queryExecution().toString()
    one = sorted(map(tuple, one_df.collect()))
    assert fanned == one and len(fanned) > 0
