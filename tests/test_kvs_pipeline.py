"""End-to-end KVS pipeline test: synthetic MKV fragments -> EBML parse
-> tag pivot -> frames-with-tags, in BOTH batch and streaming modes,
asserting identical results (the composed form of SURVEY rows 3-12)."""

from __future__ import annotations

import pytest

from awskinesisconsumer_spark.sources.ebml import encode_element
from awskinesisconsumer_spark.streaming.kvs_pipeline import (
    KVS_TAG_NAMES,
    kvs_frames_with_tags,
)

TAG_NAME, TAG_STRING, SIMPLE_BLOCK = 0x45A3, 0x4487, 0xA3


def _fragment(frag_no: int, n_frames: int) -> bytes:
    tag_values = {
        "AWS_KINESISVIDEO_FRAGMENT_NUMBER": str(91340000000 + frag_no),
        "AWS_KINESISVIDEO_SERVER_TIMESTAMP": f"{1700000000 + frag_no}.123",
        "AWS_KINESISVIDEO_PRODUCER_TIMESTAMP": f"{1700000000 + frag_no}.100",
        "AWS_KINESISVIDEO_MILLIS_BEHIND_NOW": "0",
        "AWS_KINESISVIDEO_CONTINUATION_TOKEN": f"tok-{frag_no}",
    }
    payload = encode_element(0x4285, (2).to_bytes(1, "big"))  # DocTypeReadVersion
    for k, v in tag_values.items():
        payload += encode_element(0x45A3, k.encode())
        payload += encode_element(0x4487, v.encode())
    for i in range(n_frames):
        payload += encode_element(0xA3, b"\x81\x00\x00\x00" + bytes([i]) * 8)
    return payload


@pytest.fixture(scope="module")
def chunks_df(spark):
    frags = [(i, _fragment(i, n_frames=(i % 3) + 1)) for i in range(30)]
    return spark.createDataFrame(frags, "chunk_id bigint, payload binary")


def test_batch_frames_with_tags(spark, chunks_df):
    out = kvs_frames_with_tags(chunks_df).collect()
    # sum of (i%3)+1 for i in 0..29
    assert len(out) == sum((i % 3) + 1 for i in range(30))
    by_chunk = {}
    for r in out:
        by_chunk.setdefault(r.chunk_id, []).append(r)
    for cid, rows in by_chunk.items():
        assert len(rows) == (cid % 3) + 1
        for r in rows:
            assert r.AWS_KINESISVIDEO_CONTINUATION_TOKEN == f"tok-{cid}"
            assert r.AWS_KINESISVIDEO_FRAGMENT_NUMBER == str(91340000000 + cid)
            assert r.frame_payload.startswith(b"\x81")
    # every declared KVS tag column is present
    cols = set(out[0].asDict())
    assert set(KVS_TAG_NAMES) <= cols


def test_streaming_matches_batch(spark, chunks_df, tmp_path):
    src = str(tmp_path / "chunks")
    chunks_df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(chunks_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from awskinesisconsumer_spark.streaming.kvs_pipeline import kvs_stream

    out_path = str(tmp_path / "out")
    q = kvs_stream(
        stream, out_path=out_path, checkpoint=str(tmp_path / "ckpt")
    )
    if not q.awaitTermination(120):
        q.stop()
    got = spark.read.parquet(out_path).select(
        "chunk_id", "frame_position", "AWS_KINESISVIDEO_CONTINUATION_TOKEN"
    ).collect()
    want = kvs_frames_with_tags(chunks_df).select(
        "chunk_id", "frame_position", "AWS_KINESISVIDEO_CONTINUATION_TOKEN"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_tagless_fragment_keeps_frames(spark):
    """Review regression: a fragment with SimpleBlocks but no Tags
    section must surface its frames with null tag columns, not lose
    them to an inner join."""
    from awskinesisconsumer_spark.sources.ebml import encode_element

    tagless = (
        encode_element(0x4285, (2).to_bytes(1, "big"))
        + encode_element(0xA3, b"\x81\x00\x00\x00FRAME")
    )
    df = spark.createDataFrame(
        [(0, _fragment(0, 1)), (1, tagless)], "chunk_id bigint, payload binary"
    )
    out = kvs_frames_with_tags(df).collect()
    by_chunk = {r.chunk_id: r for r in out}
    assert set(by_chunk) == {0, 1}
    assert by_chunk[1].AWS_KINESISVIDEO_CONTINUATION_TOKEN is None
    assert by_chunk[0].AWS_KINESISVIDEO_CONTINUATION_TOKEN == "tok-0"


def test_duplicate_tagname_last_wins(spark):
    """Review regression: Matroska legally repeats TagNames; the
    reference's setattr is last-wins (parser.py:349-360) — must not
    throw DUPLICATED_MAP_KEY."""
    from awskinesisconsumer_spark.sources.ebml import encode_element

    payload = (
        encode_element(0x45A3, b"AWS_KINESISVIDEO_CONTINUATION_TOKEN")
        + encode_element(0x4487, b"tok-old")
        + encode_element(0x45A3, b"AWS_KINESISVIDEO_CONTINUATION_TOKEN")
        + encode_element(0x4487, b"tok-new")
        + encode_element(0xA3, b"\x81\x00\x00\x00FRAME")
    )
    df = spark.createDataFrame([(7, payload)], "chunk_id bigint, payload binary")
    out = kvs_frames_with_tags(df).collect()
    assert len(out) == 1
    assert out[0].AWS_KINESISVIDEO_CONTINUATION_TOKEN == "tok-new"


def test_unpaired_trailing_tagname_does_not_mask(spark):
    """Review regression (round 2): a trailing TagName with no
    TagString (corrupt/truncated tail) zip-pads a null value — it must
    not mask the earlier valid value (reference overwrites only when a
    TagString arrives, parser.py:349-360)."""
    from awskinesisconsumer_spark.sources.ebml import encode_element

    payload = (
        encode_element(0x45A3, b"AWS_KINESISVIDEO_CONTINUATION_TOKEN")
        + encode_element(0x4487, b"tok-old")
        + encode_element(0x45A3, b"AWS_KINESISVIDEO_CONTINUATION_TOKEN")
        + encode_element(0xA3, b"\x81\x00\x00\x00FRAME")
    )
    df = spark.createDataFrame([(9, payload)], "chunk_id bigint, payload binary")
    out = kvs_frames_with_tags(df).collect()
    assert len(out) == 1
    assert out[0].AWS_KINESISVIDEO_CONTINUATION_TOKEN == "tok-old"


def test_midstream_missing_tagstring_does_not_shift(spark):
    """Advisor finding (round 2): a TagName missing its TagString
    MID-stream must leave only that name unset — index-zip pairing
    would shift every later string onto the wrong name. Position-based
    pairing (nearest preceding TagName) keeps later pairs intact."""
    from awskinesisconsumer_spark.sources.ebml import encode_element

    payload = (
        encode_element(0x45A3, b"AWS_KINESISVIDEO_FRAGMENT_NUMBER")
        # <- missing TagString for FRAGMENT_NUMBER (corrupt fragment)
        + encode_element(0x45A3, b"AWS_KINESISVIDEO_CONTINUATION_TOKEN")
        + encode_element(0x4487, b"tok-good")
        + encode_element(0x45A3, b"AWS_KINESISVIDEO_MILLIS_BEHIND_NOW")
        + encode_element(0x4487, b"42")
        + encode_element(0xA3, b"\x81\x00\x00\x00FRAME")
    )
    df = spark.createDataFrame([(3, payload)], "chunk_id bigint, payload binary")
    out = kvs_frames_with_tags(df).collect()
    assert len(out) == 1
    row = out[0]
    assert row.AWS_KINESISVIDEO_FRAGMENT_NUMBER is None
    assert row.AWS_KINESISVIDEO_CONTINUATION_TOKEN == "tok-good"
    assert row.AWS_KINESISVIDEO_MILLIS_BEHIND_NOW == "42"


def test_demux_explode_laced_frames(spark):
    """Laced SimpleBlocks (Xiph / fixed / EBML) split into one row per
    frame; a corrupt lace header keeps its block visible as one
    null-lace row for error routing instead of vanishing."""
    from awskinesisconsumer_spark.streaming.kvs_pipeline import demux_blocks

    def blk(flags, body, track=b"\x81"):
        return track + (0).to_bytes(2, "big", signed=True) + bytes([flags]) + body

    rows = [
        (0, blk(0x80, b"SOLO")),                                   # no lacing
        (1, blk(0x04, b"\x02" + b"aabbcc")),                       # fixed, 3x2
        (2, blk(0x02, b"\x01" + bytes([3]) + b"xxx" + b"yy")),     # xiph, 3+2
        (3, blk(0x06, b"\x01" + b"\x83" + b"dddee")),              # ebml, 3+2
        (4, blk(0x04, b"\x02" + b"abcd")),                         # corrupt fixed
        (5, b"\x81\x00"),                                          # truncated header
    ]
    df = spark.createDataFrame(rows, "chunk_id int, frame_payload binary")
    out = demux_blocks(df, explode_laced=True).collect()
    by_chunk = {}
    for r in out:
        by_chunk.setdefault(r.chunk_id, []).append(r)
    assert [bytes(r.lace_payload) for r in by_chunk[0]] == [b"SOLO"]
    assert [bytes(r.lace_payload) for r in by_chunk[1]] == [b"aa", b"bb", b"cc"]
    assert [bytes(r.lace_payload) for r in by_chunk[2]] == [b"xxx", b"yy"]
    assert [bytes(r.lace_payload) for r in by_chunk[3]] == [b"ddd", b"ee"]
    assert [r.lace_index for r in by_chunk[1]] == [0, 1, 2]
    # header columns still present on every exploded row
    assert all(r.track == 1 and r.lacing == "fixed" for r in by_chunk[1])
    # corrupt block: one visible row, null lace columns
    assert len(by_chunk[4]) == 1
    assert by_chunk[4][0].lace_index is None and by_chunk[4][0].lace_payload is None
    # block truncated before the flags byte: metadata pass must not
    # crash the batch — one row, null metadata AND null lace columns
    assert len(by_chunk[5]) == 1
    assert by_chunk[5][0].track is None and by_chunk[5][0].lace_payload is None


def _composed(chunks):
    """The relational composition the fused pass replaces: tokenize,
    pivot the tags, demux the SimpleBlocks, left-join on chunk_id."""
    from pyspark.sql import functions as F

    from awskinesisconsumer_spark.sources.ebml import parse_ebml_chunks
    from awskinesisconsumer_spark.streaming.kvs_pipeline import (
        INTERESTING, demux_blocks, pivot_tags,
    )

    elements = parse_ebml_chunks(chunks, interesting_names=INTERESTING)
    frames = demux_blocks(
        elements.where(F.col("name") == "SimpleBlock").select(
            "chunk_id",
            F.col("position").alias("frame_position"),
            F.col("value_bin").alias("frame_payload"),
        )
    )
    return frames.join(pivot_tags(elements), "chunk_id", "left")


def test_fused_pass_equals_relational_composition(spark):
    """The single-pass kvs_frames_with_tags must give the same schema
    and the same multiset of rows as parse -> pivot_tags + demux_blocks
    -> left join, on the corner cases either path could get wrong."""
    from collections import Counter

    from awskinesisconsumer_spark.sources.ebml import encode_unknown_size

    def tag(name, value=None):
        out = encode_element(TAG_NAME, name.encode())
        return out if value is None else out + encode_element(
            TAG_STRING, value.encode())

    def block(body=b"FRAME", flags=0x80):
        return encode_element(SIMPLE_BLOCK, b"\x81\x00\x07" + bytes([flags]) + body)

    token = "AWS_KINESISVIDEO_CONTINUATION_TOKEN"
    frag_no = "AWS_KINESISVIDEO_FRAGMENT_NUMBER"
    behind = "AWS_KINESISVIDEO_MILLIS_BEHIND_NOW"
    rows = [
        (0, _fragment(0, 2)),
        # tagless fragment
        (1, block() + block(b"X", 0x00)),
        # truncated block header next to a valid one
        (2, tag(token, "t2") + encode_element(SIMPLE_BLOCK, b"\x81\x00")
         + block()),
        # duplicate TagName: last wins
        (3, tag(token, "old") + tag(token, "new") + block()),
        # TagString missing mid-stream
        (4, tag(frag_no) + tag(token, "t4") + tag(behind, "4") + block()),
        # trailing unpaired TagName
        (5, tag(token, "t5") + block() + tag(token)),
        # non-KVS TagName between KVS pairs, and a stray TagString
        # before any TagName
        (6, encode_element(TAG_STRING, b"stray") + tag(frag_no, "6")
         + tag("TITLE", "a title") + tag(token, "t6") + block()),
        # unknown-size SimpleBlock and unknown-size TagName: both
        # descend, the TagString after the latter pairs with the
        # previous named TagName
        (7, tag(frag_no, "f7") + encode_unknown_size(TAG_NAME)
         + encode_element(TAG_STRING, b"s7") + encode_unknown_size(SIMPLE_BLOCK)
         + block(b"inner")),
        # null payload
        (8, None),
        # tags but no frames: no rows
        (9, tag(token, "t9") + tag(frag_no, "9")),
        # byte-identical duplicate of chunk 0 (a replay)
        (0, _fragment(0, 2)),
        # laced block: header counts frames, payload stays whole
        (10, tag(token, "t10") + block(b"\x02aabbcc", 0x04)),
    ]
    chunks = spark.createDataFrame(rows, "chunk_id bigint, payload binary")
    fused, composed = kvs_frames_with_tags(chunks), _composed(chunks)
    assert fused.schema == composed.schema
    assert fused.columns[-len(KVS_TAG_NAMES):] == KVS_TAG_NAMES
    assert len(fused.columns) == 13

    def bag(collected):
        return Counter(
            tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                  for v in r)
            for r in collected
        )

    fused_rows = fused.collect()
    got, want = bag(fused_rows), bag(composed.collect())
    assert got == want
    # the cases above are really exercised, not vacuously equal
    assert sum(got.values()) == 15
    by_chunk = {}
    for r in fused_rows:
        by_chunk.setdefault(r.chunk_id, []).append(r)
    assert len(by_chunk[0]) == 4 and 8 not in by_chunk and 9 not in by_chunk
    assert {r.track for r in by_chunk[2]} == {None, 1}
    assert by_chunk[7][0].AWS_KINESISVIDEO_FRAGMENT_NUMBER == "s7"
    assert any(r.frame_payload is None for r in by_chunk[7])


def test_frames_with_tags_is_one_narrow_stage(spark, chunks_df):
    """One tokenizer pass and nothing that moves rows between tasks:
    exactly one MapInPandas, no Exchange, no join."""
    out = kvs_frames_with_tags(chunks_df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
