"""The reference's ACTUAL pipeline, end-to-end on Spark: a stream of
raw MKV fragment bytes -> EBML tokenize -> per-fragment tag pairing ->
frames carrying their fragment's tags.

The reference hand-fuses these steps across two threads and a FIFO
(reference parser.py:313-449), tokenizing each fragment once.
`kvs_frames_with_tags` keeps that single pass, one chunk at a time,
as ONE narrow Arrow-batched stage:

  chunks (chunk_id, payload binary)    GetMedia payload, pre-framed per
      |                                fragment (KVS delivers fragments)
  mapInPandas `parse`, per row:
      tokenize_bytes (INTERESTING)     ebml.py:307-349 tokenizer
      |
      +-- TagName/TagString  -> pair with the nearest earlier named
      |                         TagName, last-wins per name
      +-- SimpleBlock        -> _block_header (track/timecode/...)
      |
  one row per frame + the five KVS tag columns (null when tagless)

No Window, no groupBy shuffle, no join: every micro-batch of
`kvs_stream` is one stage with no Exchange.

Why no join is needed: the reference matches packets to tags by byte
position because both interleave in ONE unbounded stream. Framing the
source per fragment (which Kinesis Video already guarantees — each
GetMedia fragment is a self-contained MKV segment) makes fragment
membership explicit, so the monotone-position as-of collapses to
"the tags of the same row" with no ordering dependence across rows.
The general as-of operators remain in operators/asof_join.py for
sources without framing.

The relational forms of the two halves stay public: `pivot_tags`
(element rows -> one tag row per chunk) and `demux_blocks` (block rows
-> header columns, optional lace explode). Composed with
`parse_ebml_chunks` and a left join on chunk_id they are the oracle
the fused pass is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from awskinesisconsumer_spark.functions.ebml_decode import parse_simple_block

KVS_TAG_NAMES = [
    "AWS_KINESISVIDEO_FRAGMENT_NUMBER",
    "AWS_KINESISVIDEO_SERVER_TIMESTAMP",
    "AWS_KINESISVIDEO_PRODUCER_TIMESTAMP",
    "AWS_KINESISVIDEO_MILLIS_BEHIND_NOW",
    "AWS_KINESISVIDEO_CONTINUATION_TOKEN",
]

INTERESTING = ["TagName", "TagString", "SimpleBlock", "DocTypeReadVersion"]

# SimpleBlock header columns, in output order, with their Spark types
HEADER_FIELDS = [("track", "bigint"), ("timecode", "int"),
                 ("keyframe", "boolean"), ("lacing", "string"),
                 ("n_frames", "int")]


def _block_header(block) -> dict:
    """Header metadata of one SimpleBlock payload, or {} when the
    payload is null or its header is truncated/corrupt: such a block
    surfaces as a row of null metadata instead of aborting the whole
    Arrow batch. The one place that rule lives (`demux_blocks` and the
    fused `kvs_frames_with_tags` pass both call it)."""
    if block is None:
        return {}
    try:
        return parse_simple_block(bytes(block))
    except ValueError:
        return {}


def kvs_frames_with_tags(chunks: DataFrame) -> DataFrame:
    """(chunk_id, payload) -> one row per frame with its fragment tags:
    chunk_id, frame_position, frame_payload, the HEADER_FIELDS columns,
    then KVS_TAG_NAMES.

    One chunk-local mapInPandas (`parse`) per row: tokenize the
    payload once, pair each TagString with the nearest earlier TagName
    that has a value (last-wins per name — `pivot_tags`' rule), parse
    each SimpleBlock header with `_block_header`, and emit the frames
    with the chunk's tags. A fragment with no (or corrupt) Tags section
    keeps its frames with null tag columns, so callers can route them
    (the late/missing-data-routed policy, vs the reference's hard error
    at parser.py:429). Null payloads and chunks without SimpleBlocks
    give no rows.

    Rows are independent: a repeated chunk_id in one input yields each
    row's frames with that row's own tags. For byte-identical
    duplicates (replays) that equals the relational `pivot_tags` +
    `demux_blocks` + left-join composition; two DIFFERENT fragments
    sharing an id keep their own tags, where that composition would
    merge them by byte position.

    The plan is a single narrow stage (no Exchange), so it runs on
    streaming DataFrames too; `kvs_stream` drives it per micro-batch
    through foreachBatch.
    """
    from collections.abc import Iterator as _It

    import pandas as pd

    from awskinesisconsumer_spark.sources.ebml import tokenize_bytes

    allow = set(INTERESTING)
    header_cols = [c for c, _ in HEADER_FIELDS]
    cols = ["chunk_id", "frame_position", "frame_payload",
            *header_cols, *KVS_TAG_NAMES]
    out_schema = ", ".join(
        ["chunk_id bigint", "frame_position bigint", "frame_payload binary"]
        + [f"{c} {t}" for c, t in HEADER_FIELDS]
        + [f"{t} string" for t in KVS_TAG_NAMES]
    )

    def parse(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            rows: list[list] = []
            for cid, payload in zip(pdf["chunk_id"], pdf["payload"]):
                if payload is None:
                    continue
                cid = int(cid)
                tags: dict[str, str] = {}
                key = None
                blocks = []
                for el in tokenize_bytes(bytes(payload), cid, allow):
                    name, value = el["name"], el["value_str"]
                    if name == "SimpleBlock":
                        blocks.append((el["position"], el["value_bin"]))
                    elif name == "TagName":
                        if value is not None:
                            key = value
                    elif (name == "TagString" and key is not None
                          and value is not None):
                        # overwrite only on a valid pair (parser.py:
                        # 349-360): a stray or null string never masks
                        # an earlier value
                        tags[key] = value
                tag_values = [tags.get(t) for t in KVS_TAG_NAMES]
                for position, block in blocks:
                    meta = _block_header(block)
                    rows.append([cid, position, block,
                                 *(meta.get(c) for c in header_cols),
                                 *tag_values])
            # object columns: a null must not turn a bigint into float
            yield pd.DataFrame(rows, columns=cols, dtype=object)

    return chunks.select("chunk_id", "payload").mapInPandas(parse, out_schema)


def demux_blocks(blocks: DataFrame, *, payload_col: str = "frame_payload",
                 explode_laced: bool = False) -> DataFrame:
    """Demux stage (SURVEY row 11): parse each SimpleBlock's header
    into relational columns (track/timecode/keyframe/lacing/n_frames)
    via an Arrow-batched mapInPandas — `demux(video=0)` becomes
    `filter(track == 0)` downstream, and the lace count feeds the
    frame explode.

    explode_laced=True additionally splits each block's laced frame
    payloads (Xiph / fixed-size / EBML lacing, the part the reference
    delegates to libav) and emits one row per laced frame with
    `lace_index` (0-based) and `lace_payload`. A block whose lace
    header is corrupt stays visible as ONE row with null lace columns
    — never silently dropped — so callers can route it to the error
    channel (the late/missing-data-routed policy)."""
    from collections.abc import Iterator as _It

    import pandas as pd

    from awskinesisconsumer_spark.functions.ebml_decode import (
        split_laced_frames,
    )

    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in blocks.schema.fields
    )
    out_schema = in_fields + "".join(f", {c} {t}" for c, t in HEADER_FIELDS)
    if explode_laced:
        out_schema += ", lace_index int, lace_payload binary"

    def demux(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            meta = [_block_header(b) for b in pdf[payload_col]]
            out = pdf.copy()
            for c, _ in HEADER_FIELDS:
                out[c] = [m.get(c) for m in meta]
            if not explode_laced:
                yield out
                continue
            rows = []
            for i in range(len(out)):
                payload = pdf[payload_col].iloc[i]
                base = out.iloc[i]
                try:
                    frames = (split_laced_frames(bytes(payload))
                              if payload is not None else [])
                except ValueError:
                    frames = []
                if not frames:
                    rows.append({**base, "lace_index": None,
                                 "lace_payload": None})
                    continue
                for j, fb in enumerate(frames):
                    rows.append({**base, "lace_index": j,
                                 "lace_payload": fb})
            yield pd.DataFrame(rows, columns=list(out.columns)
                               + ["lace_index", "lace_payload"])

    return blocks.mapInPandas(demux, out_schema)


def kvs_stream(chunks_stream: DataFrame, *, out_path: str,
               checkpoint: str, available_now: bool = True):
    """Streaming form: kvs_frames_with_tags is chunk-local (a chunk
    arrives whole in one micro-batch row), so each micro-batch runs it
    through foreachBatch as one narrow stage — no cross-batch state, no
    watermark, no shuffle.

    Delivery semantics: AT-LEAST-ONCE. foreachBatch re-runs a batch if
    the driver dies between the parquet append and the offset-log
    commit, so a crash can duplicate that batch's rows. Exactly-once
    needs a transactional sink (Delta/Iceberg `txnAppId=batch_id`) or
    a downstream dedup on (chunk_id, frame_position); clean
    stop/restart (the tested path) replays nothing."""

    def write_batch(batch: DataFrame, _batch_id: int) -> None:
        kvs_frames_with_tags(batch).write.mode("append").parquet(out_path)

    writer = (
        chunks_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def pivot_tags(elements: DataFrame) -> DataFrame:
    """TagName/TagString pairing + pivot over element rows
    (`parse_ebml_chunks` output): one row per chunk_id with the
    KVS_TAG_NAMES columns. The relational form of the pairing that
    `kvs_frames_with_tags` does inside its single pass, kept public
    for element-row inputs and as that pass's test oracle.

    Pairing rule: a TagString belongs to the NEAREST TagName at a
    smaller byte position that has a value — the reference's
    lastTagName adjacency (parser.py:349-356), computed as a running
    `last(TagName)` window over position order. Position pairing (not
    index zip) means a corrupt fragment missing one TagString
    mid-stream leaves only that name unset instead of shifting every
    later string onto the wrong name. Repeated TagNames stay last-wins
    via max_by on position (the reference's setattr overwrite,
    parser.py:349-360).

    One shuffle: the window partitions by chunk_id and the groupBy
    reuses that partitioning (only an extra in-partition sort).
    """
    from pyspark.sql import Window

    kv = elements.where(F.col("name").isin("TagName", "TagString")).select(
        "chunk_id", "position", "name", "value_str"
    )
    w = (
        Window.partitionBy("chunk_id")
        .orderBy("position")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    paired = kv.withColumn(
        "_k",
        F.last(
            F.when(F.col("name") == "TagName", F.col("value_str")),
            ignorenulls=True,
        ).over(w),
    ).where(
        # Overwrite-only-on-valid-TagString (parser.py:349-360): a
        # string before any name, or a null string value, is dropped so
        # a corrupt pair can't mask an earlier valid value.
        (F.col("name") == "TagString")
        & F.col("_k").isNotNull()
        & F.col("value_str").isNotNull()
    )
    cols = [
        F.max_by(
            F.when(F.col("_k") == t, F.col("value_str")),
            F.when(F.col("_k") == t, F.col("position")),
        ).alias(t)
        for t in KVS_TAG_NAMES
    ]
    return paired.groupBy("chunk_id").agg(*cols)
