"""Round-6 hardening: NULL-vector handling in the vectorized
similarity kernels, magnitude-scaled HALF_UP boundary detection, and
the r6 gate-head composition contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _emb_with_null(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_decontaminate_vectorized_null_bench_vec(spark):
    # A NULL benchmark vector must be dropped (the HOF path's NULL
    # cosine is filtered before the argmax), not crash the numpy
    # matrix build — and results must stay bit-equal to the HOF path.
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus = _emb_with_null(spark, [
        (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None),
    ])
    bench = _emb_with_null(spark, [
        (10, [1.0, 0.0]), (11, None),
    ]).select(F.col("vec_id").alias("bid"),
              F.col("embedding").alias("bvec"))
    kw = dict(id_col="vec_id", vec_col="embedding",
              bench_id_col="bid", bench_vec_col="bvec", threshold=0.9)
    hof = sorted(tuple(r) for r in
                 semantic_decontaminate(corpus, bench, **kw).collect())
    vec = sorted(tuple(r) for r in semantic_decontaminate(
        corpus, bench, vectorized=True, **kw).collect())
    assert hof == vec
    by_id = {t[0]: t for t in vec}
    assert by_id[1][3] is True          # matches bench 10 exactly
    assert by_id[3][1] is None and by_id[3][3] is False  # NULL corpus vec


def test_semantic_decontaminate_vectorized_all_bench_null(spark):
    # Every bench vector NULL -> empty matrix -> nothing contaminated.
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_decontaminate,
    )

    corpus = _emb_with_null(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    bench = _emb_with_null(spark, [(10, None)]).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bvec"))
    out = semantic_decontaminate(
        corpus, bench, id_col="vec_id", vec_col="embedding",
        bench_id_col="bid", bench_vec_col="bvec", threshold=0.9,
        vectorized=True,
    ).collect()
    assert sorted(r["vec_id"] for r in out) == [1, 2]
    assert all(r["contaminated"] is False and r["max_bench_cosine"] is None
               for r in out)


def test_knn_join_vectorized_null_probe_vec(spark):
    # A NULL probe vector must not crash the kernel's matrix build.
    # Documented divergence: the kernel DROPS the unscorable probe
    # (no finite cosine exists), while the HOF path pads it with
    # NULL-cosine rows; on the scorable probes the two paths are
    # bit-equal.
    from awskinesisconsumer_spark.operators.similarity import knn_join_topk

    emb = _emb_with_null(spark, [
        (0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0]), (3, [1.0, 1.0]),
    ])
    kw = dict(id_col="vec_id", vec_col="embedding", probe_ids=[0, 1], k=2)
    hof = sorted(tuple(r) for r in knn_join_topk(emb, **kw).collect())
    vec = sorted(tuple(r) for r in
                 knn_join_topk(emb, vectorized=True, **kw).collect())
    assert {t[0] for t in vec} == {0}  # probe 1 yields no kernel rows
    assert [t for t in hof if t[0] == 0 and t[2] is not None] == vec
    assert all(t[2] is None for t in hof if t[0] == 1)  # HOF pads NULLs


def test_np_round6_boundary_detection_scales_with_magnitude(spark):
    # At |x| ~ 1e3-1e6 the ulp of |x|*1e6 exceeds the old fixed 1e-8
    # proximity threshold; the magnitude-scaled tolerance must still
    # re-round true shortest-representation boundaries through
    # decimal HALF_UP exactly as Spark does.
    import numpy as np

    from awskinesisconsumer_spark.operators.similarity import (
        _np_round6_half_up,
    )

    vals = [123.4567895, 1234.5678905, 12345.6789015, 987654.3210015,
            -1234.5678905, 54321.1234565, 999999.9999995, 0.0588235]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [r[0] for r in
                 df.select(F.round("x", 6).alias("r")).collect()]
    got_np = [float(v) for v in _np_round6_half_up(np.array(vals))]
    assert got_spark == got_np


def test_gate_head_composition():
    # The external driver gates the first 50 queries() entries. The
    # expected composition is DERIVED (r10 verdict item 1b: the
    # previous verbatim 50-entry pin went stale the moment the window
    # legitimately rotated) from GATE_LEDGER.json and the entries'
    # current fingerprints, via invariants that hold both mid-round
    # (before the snapshot lands) and after:
    import json
    import os
    import sys

    import __spark_entry__ as m

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "scripts")
    )
    import gate_ledger

    keys = list(m.queries())
    ledger_path = os.path.join(
        os.path.dirname(__file__), "..", "GATE_LEDGER.json"
    )
    with open(ledger_path) as f:
        ledger = json.load(f)
    fps = gate_ledger.current_fingerprints()
    rows_only = set(getattr(m, "ROWS_ONLY_BY_DESIGN", ()))
    # (1) every new or changed registration (no ledger record, or a
    # fingerprint that drifted from it) sits inside the window
    new = [
        q for q in keys if q not in rows_only
        and (q not in ledger or ledger[q]["fingerprint"] != fps[q])
    ]
    assert set(new) <= set(keys[:50]), (
        f"new/changed entries past the gate window: "
        f"{sorted(set(new) - set(keys[:50]))}"
    )
    # (2) entries with no green record anywhere must be new this round
    # OR declared rows-only by design AND parked inside the window
    # (rows-only entries never earn a hash-green ledger record, so
    # the window is the only place their weaker check is refreshed)
    assert rows_only <= set(keys[:50]), (
        f"rows-only entries must live inside the gate window: "
        f"{sorted(rows_only - set(keys[:50]))}"
    )
    unledgered = [q for q in keys if q not in ledger]
    assert set(unledgered) <= set(new) | rows_only, (
        f"registered but never-green and not declared new: "
        f"{sorted(set(unledgered) - set(new) - rows_only)}"
    )
    # (3) freshness: with a 50-slot window over the registry, full
    # rotation takes ceil(len(keys)/50) rounds — no ledgered entry's
    # record may be older than that period behind the newest one
    rounds = [ledger[q]["green_round"] for q in keys if q in ledger]
    period = -(-len(keys) // 50)  # ceil
    assert min(rounds) >= max(rounds) - period, (
        f"stale rotation: oldest record r{min(rounds)} vs newest "
        f"r{max(rounds)} with period {period}"
    )
    # (4) changed entries (fingerprint drift vs their green record)
    # must sit inside the window so this round's gate re-records them
    stale_in_tail = [
        q for q in keys[50:]
        if q in ledger and ledger[q]["fingerprint"] != fps[q]
    ]
    assert not stale_in_tail, (
        f"changed since green record but parked past the gate "
        f"horizon: {stale_in_tail}"
    )
    assert len(keys) == len(set(keys)) >= 197
    # every entry has an oracle twin (full hash-gate coverage),
    # except the declared rows-only set
    osql = m.oracle_sql()
    assert set(osql) == set(keys) - rows_only
    # the streaming forms share their batch oracles verbatim
    assert osql["stream-dedup-incremental"] == osql["ext-dedup-incremental"]
    assert (osql["stream-semantic-decontaminate"]
            == osql["ext-semantic-decontaminate"])
    assert osql["stream-corpus-drift"] == osql["ext-corpus-drift"]


def test_semantic_decontaminate_stream_equals_batch(spark, sf_dir, tmp_path):
    # Multi-batch streaming ingest (maxFilesPerTrigger=1 over a
    # 3-file source) must produce EXACTLY the single-batch result:
    # every flag depends only on (corpus row, benchmark), so chunking
    # the arrivals cannot change anything. Banked for r7 registration
    # (oracle = ext-semantic-decontaminate's, applied to the union).
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.similarity import (
        semantic_decontaminate,
    )
    from awskinesisconsumer_spark.streaming.pipeline import (
        semantic_decontaminate_stream,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    corpus = emb.where(F.col("vec_id") % 13 != 0)
    bench = emb.where(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("bid"), F.col("embedding").alias("bvec")
    )
    src = str(tmp_path / "corpus_src")
    corpus.repartition(3).write.parquet(src)
    out_path = str(tmp_path / "flags")
    q = semantic_decontaminate_stream(
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        bench, id_col="vec_id", vec_col="embedding",
        bench_id_col="bid", bench_vec_col="bvec",
        out_path=out_path, checkpoint=str(tmp_path / "ckpt"),
        threshold=0.8,
    )
    assert q.awaitTermination(180)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3  # genuinely multi-batch

    got = sorted(
        (r.vec_id, r.max_bench_cosine, r.matched_bench_id, r.contaminated)
        for r in spark.read.parquet(out_path).collect()
    )
    want = sorted(
        (r.vec_id, r.max_bench_cosine, r.matched_bench_id, r.contaminated)
        for r in semantic_decontaminate(
            corpus, bench, id_col="vec_id", vec_col="embedding",
            bench_id_col="bid", bench_vec_col="bvec", threshold=0.8,
        ).collect()
    )
    assert got == want and len(got) > 0


def test_domain_cap_stream_equals_batch(spark, sf_dir, tmp_path):
    # Stateful streaming quota (applyInPandasWithState, running
    # per-group count across batches): with groups arriving in
    # ascending id order (3 range files, mtimes forcing FileStream
    # order), the emitted union must equal the batch
    # domain_cap(order_by=[id asc]) exactly. Banked for r7.
    import os
    import time as _time

    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.corpus_prep import domain_cap
    from awskinesisconsumer_spark.streaming.pipeline import domain_cap_stream

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", (F.col("doc_id") % 7).cast("string").alias("domain")
    )
    src = tmp_path / "cap_src"
    src.mkdir()
    rows = sorted((r["doc_id"], r["domain"]) for r in docs.collect())
    third = len(rows) // 3
    chunks = [rows[:third], rows[third:2 * third], rows[2 * third:]]
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(
            chunk, "doc_id long, domain string"
        ).coalesce(1).write.parquet(str(src / f"part{i}"))
        for root, _, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, domain string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "part*"))
    )
    out = domain_cap_stream(stream, group_col="domain", id_col="doc_id", cap=30)
    q = (
        out.writeStream.format("memory").queryName("cap_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3  # genuinely multi-batch, state crosses batches

    got = sorted(
        (r.domain, r.doc_id, r.rank_in_group, r.kept)
        for r in spark.table("cap_stream").collect()
    )
    want = sorted(
        (r.domain, r.doc_id, r.rank_in_group, r.kept)
        for r in domain_cap(
            docs, group_col="domain", cap=30,
            order_by=[F.col("doc_id").asc()], id_col="doc_id",
        ).collect()
    )
    assert got == want and len(got) > 0
    # the quota genuinely binds: some group over cap
    assert any(not k for (_, _, _, k) in got)


def test_quality_blend_oracle(spark):
    # Banked for r7 (pattern: prove the DuckDB twin before
    # registration). Two text-derived signals on documents at
    # sf0.001, winsorize-normalized and weight-blended; the twin
    # replays the histogram cut interpolation per signal + the same
    # renormalized weighted mean.
    import math

    import duckdb

    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.corpus_prep import quality_blend

    SF = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", SF).select("doc_id", "text")
    sig = docs.select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.when(
            F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0,
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double"),
        ).alias("n_words"),
    )
    out = quality_blend(
        sig,
        signals={"n_chars": (0.0, 2000.0, 0.6), "n_words": (0.0, 400.0, 0.4)},
        n_bins=200,
    ).select("doc_id", "norm_n_chars", "norm_n_words", "quality_blend")

    def cut_cte(tag, expr, lo, hi, n_bins):
        width = (hi - lo) / n_bins
        return f"""
        b_{tag} AS (
          SELECT LEAST(GREATEST(
                   CAST(FLOOR((({expr}) - {lo}) / {width}) AS INT), 0),
                   {n_bins - 1}) AS bin
          FROM sig WHERE ({expr}) IS NOT NULL),
        c_{tag} AS (SELECT bin, COUNT(*) AS c FROM b_{tag} GROUP BY 1),
        cum_{tag} AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum,
                             SUM(c) OVER () AS total FROM c_{tag}),
        cuts_{tag} AS (
          SELECT q.q,
            MIN_BY(ROUND({lo} + (bin
              + (CEIL(q.q * total) - (cum - c)) / CAST(c AS DOUBLE))
              * {width}, 4), bin) AS est
          FROM cum_{tag} CROSS JOIN q
          WHERE cum >= CEIL(q.q * total)
          GROUP BY q.q),
        lohi_{tag} AS (
          SELECT MIN(CASE WHEN q = 0.01 THEN est END) AS lo_cut,
                 MIN(CASE WHEN q = 0.99 THEN est END) AS hi_cut
          FROM cuts_{tag})"""

    def norm_expr(tag, expr):
        return (f"ROUND((LEAST(GREATEST(CAST({expr} AS DOUBLE), "
                f"lohi_{tag}.lo_cut), lohi_{tag}.hi_cut) - lohi_{tag}.lo_cut)"
                f" / (lohi_{tag}.hi_cut - lohi_{tag}.lo_cut), 6)")

    chars = "CAST(length(text) AS DOUBLE)"
    words = ("CASE WHEN length(trim(coalesce(text, ''))) > 0 THEN "
             "CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) END")
    nc, nw = norm_expr("c", chars), norm_expr("w", words)
    sql = f"""
        WITH sig AS (SELECT doc_id, text FROM documents),
        q AS (SELECT UNNEST(CAST([0.01, 0.99] AS DOUBLE[])) AS q),
        {cut_cte('c', chars, 0.0, 2000.0, 200).lstrip()},
        {cut_cte('w', words, 0.0, 400.0, 200).lstrip()}
        SELECT doc_id,
               {nc} AS norm_n_chars,
               {nw} AS norm_n_words,
               CASE WHEN (CASE WHEN {nc} IS NOT NULL THEN 0.6 ELSE 0 END
                        + CASE WHEN {nw} IS NOT NULL THEN 0.4 ELSE 0 END) > 0
                 THEN ROUND(
                   (COALESCE({nc} * 0.6, 0) + COALESCE({nw} * 0.4, 0))
                   / (CASE WHEN {nc} IS NOT NULL THEN 0.6 ELSE 0 END
                    + CASE WHEN {nw} IS NOT NULL THEN 0.4 ELSE 0 END), 6)
               END AS quality_blend
        FROM sig CROSS JOIN lohi_c CROSS JOIN lohi_w
    """
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )

    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    cols = sorted(out.columns)
    srows = sorted(tuple(canon(r[c]) for c in cols) for r in out.collect())
    tbl = con.execute(sql).fetch_arrow_table()
    assert cols == sorted(tbl.column_names)
    drows = sorted(
        tuple(canon(r[c]) for c in sorted(tbl.column_names))
        for r in tbl.to_pylist()
    )
    assert srows == drows and len(srows) == 500
    # the blend actually varies (not all 0.5 / degenerate)
    assert len({t for t in srows}) > 10


def test_normalize_text_oracle(spark):
    # Banked for r7. Every transform is exercised by a deterministic
    # unicode-dirty suffix (NFD accent, zero-width space, tab runs, a
    # control byte, ragged line end); the DuckDB twin replays the
    # pipeline with nfc_normalize + the same regex chain.
    import math

    import duckdb

    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.text import normalize_text

    SF = "/root/testdata/sf0.001"
    dirty_sfx = " Café​  x\ty\x07 \n z "
    docs = load_table(spark, "documents", SF).select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(dirty_sfx))
        .alias("text"),
    )
    out = normalize_text(docs, text_col="text").select(
        "doc_id", "text_norm", "norm_changed"
    )
    # sanity: the suffix normalizes as designed on every row
    one = out.where(F.col("doc_id") == 0).first()
    assert one["text_norm"].endswith("Café x y\n z")
    assert one["norm_changed"] is True

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    sql = r"""
        WITH dirty AS (
          SELECT doc_id,
                 coalesce(text, '') || ' Cafe' || chr(769) || chr(8203)
                   || '  x' || chr(9) || 'y' || chr(7) || ' ' || chr(10)
                   || ' z ' AS text
          FROM documents),
        n AS (
          SELECT doc_id, text,
            trim(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(nfc_normalize(text),
                      '[​‌‍﻿]', '', 'g'),
                    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                  '[ \t]+', ' ', 'g'),
                ' \n', chr(10), 'g'),
              ' ' || chr(10)) AS text_norm
          FROM dirty)
        SELECT doc_id, text_norm, text_norm <> text AS norm_changed
        FROM n
    """

    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    cols = sorted(out.columns)
    srows = sorted(tuple(canon(r[c]) for c in cols) for r in out.collect())
    tbl = con.execute(sql).fetch_arrow_table()
    assert cols == sorted(tbl.column_names)
    drows = sorted(
        tuple(canon(r[c]) for c in sorted(tbl.column_names))
        for r in tbl.to_pylist()
    )
    assert srows == drows and len(srows) == 500


def test_normalize_text_null_and_identity(spark):
    from awskinesisconsumer_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [(1, None), (2, "already clean"), (3, "a  b"), (4, "")],
        "id long, text string",
    )
    got = {r["id"]: (r["text_norm"], r["norm_changed"])
           for r in normalize_text(df, text_col="text").collect()}
    assert got[1] == (None, None)
    assert got[2] == ("already clean", False)
    assert got[3] == ("a b", True)
    assert got[4] == ("", False)


def test_wav_codec_real_roundtrip_and_oracle(spark):
    # REAL stdlib PCM-WAV: synth (wave writer) -> decode (wave
    # reader); stats must equal the DuckDB replay of the synthesis
    # formula sample[k] = ((id*31 + k*17) % 65536) - 32768. Banked
    # for a future gate round.
    import duckdb

    from awskinesisconsumer_spark.operators.multimodal import (
        decode_wav, synth_wav_pcm16,
    )

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    wavs = synth_wav_pcm16(ids, id_col="doc_id", n_frames=441,
                           sample_rate=8000)
    out = decode_wav(wavs).orderBy("doc_id")
    got = [(r.doc_id, r.sample_rate, r.n_channels, r.sample_width,
            r.n_frames, r.duration_ms, r.sum_samples, r.sum_abs_samples)
           for r in out.collect()]
    want = duckdb.sql("""
        SELECT i AS doc_id, 8000, 1, 2, 441,
               441 * 1000 // 8000,
               SUM(((i * 31 + k * 17) % 65536) - 32768),
               SUM(ABS(((i * 31 + k * 17) % 65536) - 32768))
        FROM range(0, 40) t(i), range(0, 441) s(k)
        GROUP BY i ORDER BY i
    """).fetchall()
    assert got == [tuple(int(x) for x in w) for w in want]


def test_wav_decode_rejects_garbage(spark):
    from awskinesisconsumer_spark.operators.multimodal import decode_wav

    df = spark.createDataFrame(
        [(1, bytearray(b"not a riff")), (2, None)],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r.sample_rate for r in decode_wav(df).collect()}
    assert got == {1: None, 2: None}


def test_png_codec_real_roundtrip_and_oracle(spark):
    # REAL stdlib PNG (signature/IHDR/IDAT(zlib)/IEND, CRC-verified,
    # filter-0 scanlines): encode -> decode roundtrip; the pixel sum
    # must equal the DuckDB replay of the pixel formula.
    import duckdb

    from awskinesisconsumer_spark.operators.multimodal import (
        decode_png, encode_png_rgb,
    )

    ids = spark.range(0, 25).select(F.col("id").alias("doc_id"))
    pngs = encode_png_rgb(ids, id_col="doc_id", height=8, width=8)
    out = decode_png(pngs).orderBy("doc_id")
    got = [(r.doc_id, r.height, r.width, r.bit_depth, r.color_type,
            r.crc_ok, r.sum_pixels) for r in out.collect()]
    want = duckdb.sql("""
        SELECT i, 8, 8, 8, 2, TRUE,
               SUM((i * 7 + y * 131 + x * 17 + c * 43) % 256)
        FROM range(0, 25) t(i), range(0, 8) ys(y), range(0, 8) xs(x),
             range(0, 3) cs(c)
        GROUP BY i ORDER BY i
    """).fetchall()
    assert got == [
        (int(i), h, w, d, ct, ok, int(s)) for i, h, w, d, ct, ok, s in want
    ]


def test_png_decode_handles_all_filters_and_corruption(spark):
    # The decoder supports the full per-scanline filter set (0-4), not
    # just what our encoder emits — verified against bytes written
    # with each filter type — and flips crc_ok on a corrupted chunk.
    import struct
    import zlib

    from awskinesisconsumer_spark.operators.multimodal import decode_png

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    h = w = 4
    pix = [[[(y * 37 + x * 11 + c * 5) % 256 for c in range(3)]
            for x in range(w)] for y in range(h)]

    def filt(ftype):
        raw = bytearray()
        prev = [0] * (w * 3)
        for y in range(h):
            line = [pix[y][x][c] for x in range(w) for c in range(3)]
            raw.append(ftype)
            for i in range(w * 3):
                a = line[i - 3] if i >= 3 else 0
                b, cc = prev[i], (prev[i - 3] if i >= 3 else 0)
                if ftype == 0:
                    enc = line[i]
                elif ftype == 1:
                    enc = (line[i] - a) & 0xFF
                elif ftype == 2:
                    enc = (line[i] - b) & 0xFF
                elif ftype == 3:
                    enc = (line[i] - (a + b) // 2) & 0xFF
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else cc)
                    enc = (line[i] - pred) & 0xFF
                raw.append(enc)
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    expected_sum = sum(
        pix[y][x][c] for y in range(h) for x in range(w) for c in range(3)
    )
    rows = [(f, bytearray(filt(f))) for f in range(5)]
    corrupted = bytearray(filt(0))
    corrupted[20] ^= 0xFF  # flip a byte inside IHDR body -> CRC fails
    rows.append((99, corrupted))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.sum_pixels, r.crc_ok)
           for r in decode_png(df).collect()}
    for f in range(5):
        assert got[f] == (expected_sum, True), (f, got[f])
    assert got[99][1] is False


def test_tokenize_pack_oracle(spark):
    # Banked composition: pack sequences by REAL BPE token counts
    # (train -> encode -> pack_sequences) — the tokenizer-aware
    # packing layout an actual training-data build runs, vs
    # ext-pack-sequences' regex-proxy counts. Oracle = the encode CTE
    # chain + the pack prefix-sum tail in one statement.
    import math

    import duckdb

    from __spark_entry__ import _bpe_oracle_sql
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.corpus_prep import pack_sequences
    from awskinesisconsumer_spark.operators.text import (
        bpe_encode_corpus, bpe_train_merges,
    )

    SF = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", SF)
    rows = (bpe_train_merges(docs, text_col="text", n_merges=10)
            .orderBy("rank").collect())
    assert len(rows) == 10 and min(r["pair_count"] for r in rows) >= 2
    toks = bpe_encode_corpus(
        docs, id_col="doc_id", text_col="text",
        merges=[(r["left"], r["right"]) for r in rows],
    ).select("doc_id", F.col("n_bpe_tokens").alias("n_tokens"))
    out = pack_sequences(toks, id_col="doc_id", token_col="n_tokens",
                         capacity=512, group_size=64)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )

    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    cols = sorted(out.columns)
    srows = sorted(tuple(canon(r[c]) for c in cols) for r in out.collect())
    tbl = con.execute(
        _bpe_oracle_sql(10, pack_capacity=512)
    ).fetch_arrow_table()
    assert cols == sorted(tbl.column_names), (cols, tbl.column_names)
    drows = sorted(
        tuple(canon(r[c]) for c in sorted(tbl.column_names))
        for r in tbl.to_pylist()
    )
    assert srows == drows and len(srows) == 500


def test_validate_expectations_oracle(spark):
    # Banked validation family: all rules in ONE scan; DuckDB twin is
    # plain conditional aggregates. A NULL rule outcome counts as a
    # violation (conservative convention), exercised via props lookup.
    import math

    import duckdb

    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.validation import (
        check_referential, validate_expectations,
    )

    SF = "/root/testdata/sf0.001"
    orders = load_table(spark, "orders", SF)
    out = validate_expectations(orders, {
        "price_in_range": F.col("o_totalprice").between(0.0, 500000.0),
        "priority_known": F.col("o_orderpriority").isin(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        ),
        "key_positive": F.col("o_orderkey") > 0,
    })
    ev = load_table(spark, "events", SF)
    cust = load_table(spark, "customer", SF)
    fk = check_referential(
        ev, cust, fact_key="user_id", dim_key="c_custkey"
    )
    report = out.unionByName(fk)

    con = duckdb.connect()
    for t in ("orders", "events", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    sql = """
        SELECT 'price_in_range' AS rule, COUNT(*) AS n_rows,
          COUNT(*) FILTER (NOT COALESCE(
            o_totalprice BETWEEN 0.0 AND 500000.0, FALSE)) AS n_violations,
          ROUND(COUNT(*) FILTER (NOT COALESCE(
            o_totalprice BETWEEN 0.0 AND 500000.0, FALSE))
            / CAST(COUNT(*) AS DOUBLE), 6) AS violation_rate,
          COUNT(*) FILTER (NOT COALESCE(
            o_totalprice BETWEEN 0.0 AND 500000.0, FALSE)) = 0 AS passed
        FROM orders
        UNION ALL
        SELECT 'priority_known', COUNT(*),
          COUNT(*) FILTER (NOT COALESCE(o_orderpriority IN ('1-URGENT',
            '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), FALSE)),
          ROUND(COUNT(*) FILTER (NOT COALESCE(o_orderpriority IN
            ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
             '5-LOW'), FALSE)) / CAST(COUNT(*) AS DOUBLE), 6),
          COUNT(*) FILTER (NOT COALESCE(o_orderpriority IN ('1-URGENT',
            '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), FALSE)) = 0
        FROM orders
        UNION ALL
        SELECT 'key_positive', COUNT(*),
          COUNT(*) FILTER (NOT COALESCE(o_orderkey > 0, FALSE)),
          ROUND(COUNT(*) FILTER (NOT COALESCE(o_orderkey > 0, FALSE))
            / CAST(COUNT(*) AS DOUBLE), 6),
          COUNT(*) FILTER (NOT COALESCE(o_orderkey > 0, FALSE)) = 0
        FROM orders
        UNION ALL
        SELECT 'fk_user_id_in_c_custkey',
          (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL),
          COUNT(*), ROUND(COUNT(*) / CAST((SELECT COUNT(*) FROM events
            WHERE user_id IS NOT NULL) AS DOUBLE), 6), COUNT(*) = 0
        FROM (SELECT user_id FROM events WHERE user_id IS NOT NULL
              AND user_id NOT IN (SELECT c_custkey FROM customer))
    """

    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    cols = sorted(report.columns)
    srows = sorted(tuple(canon(r[c]) for c in cols)
                   for r in report.collect())
    tbl = con.execute(sql).fetch_arrow_table()
    assert cols == sorted(tbl.column_names)
    drows = sorted(tuple(canon(r[c]) for c in sorted(tbl.column_names))
                   for r in tbl.to_pylist())
    assert srows == drows and len(srows) == 4


def test_validate_expectations_single_aggregate_plan(spark):
    # All rules must ride ONE scan/aggregate pair — adding rules adds
    # columns, never passes (exchanges stay at the lone agg's).
    from awskinesisconsumer_spark.operators.validation import (
        validate_expectations,
    )

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = validate_expectations(orders, {
        "a": F.col("o_orderkey") > 0,
        "b": F.col("o_totalprice") >= 0,
        "c": F.col("o_orderpriority").isNotNull(),
    })
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("HashAggregate") <= 2, plan  # partial + final


def test_incremental_dedup_stream_clean_restart_no_replay(spark, sf_dir,
                                                          tmp_path):
    # Docstring contract: a clean stop/restart replays NOTHING — the
    # checkpoint offset log resumes exactly after the consumed files.
    # Phase 1 consumes 2 source files; phase 2 adds a third and
    # restarts on the SAME checkpoint; the union must equal the
    # single-batch batch-operator result with zero duplicate ids.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.dedup import dedup_incremental
    from awskinesisconsumer_spark.streaming.pipeline import (
        incremental_dedup_stream,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 3 == 0)
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    rows = sorted((r["doc_id"], r["text"]) for r in new.collect())
    third = len(rows) // 3
    src = tmp_path / "src"
    src.mkdir()
    out_path = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")

    def write_chunk(i, chunk):
        spark.createDataFrame(chunk, "doc_id long, text string") \
            .coalesce(1).write.parquet(str(src / f"p{i}"))

    write_chunk(0, rows[:third])
    write_chunk(1, rows[third:2 * third])
    stream = lambda: spark.readStream.schema(new.schema) \
        .option("maxFilesPerTrigger", "1").parquet(str(src / "p*"))
    q1 = incremental_dedup_stream(
        stream(), corpus, id_col="doc_id", text_col="text",
        out_path=out_path, checkpoint=ckpt, min_overlap=5,
    )
    assert q1.awaitTermination(180)
    n_phase1 = spark.read.parquet(out_path).count()
    assert n_phase1 == 2 * third

    write_chunk(2, rows[2 * third:])
    q2 = incremental_dedup_stream(
        stream(), corpus, id_col="doc_id", text_col="text",
        out_path=out_path, checkpoint=ckpt, min_overlap=5,
    )
    assert q2.awaitTermination(180)

    got = spark.read.parquet(out_path)
    ids = [r["doc_id"] for r in got.select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == len(rows)  # no replays, no loss
    want = sorted(
        (r.doc_id, r.exact_dup, r.max_overlap, r.near_dup)
        for r in dedup_incremental(
            new, corpus, id_col="doc_id", text_col="text", min_overlap=5
        ).collect()
    )
    assert sorted(
        (r.doc_id, r.exact_dup, r.max_overlap, r.near_dup)
        for r in got.collect()
    ) == want


def test_domain_cap_stream_state_survives_restart(spark, sf_dir, tmp_path):
    # The per-group admission counts live in the state store: stop
    # after 2 of 3 range files, restart on the SAME checkpoint with
    # the third — ranks must CONTINUE (not reset), so the union still
    # equals the batch domain_cap(order_by=[id asc]).
    import os

    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.corpus_prep import domain_cap
    from awskinesisconsumer_spark.streaming.pipeline import domain_cap_stream

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", (F.col("doc_id") % 7).cast("string").alias("domain")
    )
    rows = sorted((r["doc_id"], r["domain"]) for r in docs.collect())
    third = len(rows) // 3
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_chunk(i, chunk):
        spark.createDataFrame(
            chunk, "doc_id long, domain string"
        ).coalesce(1).write.parquet(str(src / f"p{i}"))
        for root, _, files in os.walk(src / f"p{i}"):
            for f in files:
                os.utime(os.path.join(root, f),
                         (1_000_000 + i, 1_000_000 + i))

    out_path = str(tmp_path / "out")

    def run_phase():
        # memory sink cannot recover a checkpoint; the parquet sink
        # exercises the real recovery path
        stream = (spark.readStream.schema("doc_id long, domain string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(src / "p*")))
        out = domain_cap_stream(stream, group_col="domain",
                                id_col="doc_id", cap=30)
        q = (out.writeStream.format("parquet").option("path", out_path)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)
        return spark.read.parquet(out_path).collect()

    write_chunk(0, rows[:third])
    write_chunk(1, rows[third:2 * third])
    phase1 = run_phase()
    assert len(phase1) == 2 * third

    write_chunk(2, rows[2 * third:])
    both = run_phase()
    assert len(both) == len(rows)  # phase 2 appended only the new file

    got = sorted((r.domain, r.doc_id, r.rank_in_group, r.kept)
                 for r in both)
    want = sorted(
        (r.domain, r.doc_id, r.rank_in_group, r.kept)
        for r in domain_cap(
            docs, group_col="domain", cap=30,
            order_by=[F.col("doc_id").asc()], id_col="doc_id",
        ).collect()
    )
    assert got == want  # ranks continued across the restart


def test_compact_small_files_preserves_rows_and_shrinks_count(
        spark, sf_dir, tmp_path):
    # Fragment events into ~40 tiny files, compact to a small target:
    # file count collapses, row content is EXACTLY preserved, and an
    # under-threshold directory is a no-op.
    from awskinesisconsumer_spark.io import load_table
    from awskinesisconsumer_spark.operators.layout import (
        compact_small_files,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "frag")
    ev.repartition(40).write.parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    report = compact_small_files(spark, path, target_bytes=1 << 30)
    assert report["compacted"] is True
    assert report["n_files_before"] >= 40
    assert report["n_files_after"] == 1
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before

    # already compact -> no-op (and the report says so)
    report2 = compact_small_files(spark, path, target_bytes=1 << 30)
    assert report2["compacted"] is False
    assert report2["n_files_after"] == report["n_files_after"]
