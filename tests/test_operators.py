"""Unit tests for custom operators on hand-built inputs (known answers)."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from datafusion_spark.operators.asof import asof_join
from datafusion_spark.operators.multimodal import decode_media


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "a"),
            (1, _ts("2024-01-01T12:00:00"), "b"),
            (2, _ts("2024-01-01T09:00:00"), "c"),
        ],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T09:30:00"), 10.0),
            (1, _ts("2024-01-01T11:00:00"), 20.0),
            (2, _ts("2024-01-01T09:30:00"), 30.0),  # after left row → no match
        ],
        "user_id long, ts timestamp, price double",
    )
    out = asof_join(left, right, on="ts", by="user_id", value_cols=["price"])
    got = {(r.user_id, r.tag): r.price_right for r in out.collect()}
    assert got == {(1, "a"): 10.0, (1, "b"): 20.0, (2, "c"): None}


def test_asof_join_equal_ts_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "x")], "user_id long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 5.0)], "user_id long, ts timestamp, price double"
    )
    out = asof_join(left, right, on="ts", by="user_id", value_cols=["price"])
    assert out.collect()[0].price_right == 5.0


def test_decode_media_deterministic(spark):
    media = spark.createDataFrame(
        [(1, "image/png", bytearray(b"hello world")), (2, "audio/wav", bytearray(b"payload"))],
        "doc_id long, media_type string, payload binary",
    )
    out1 = {r.doc_id: r for r in decode_media(media).collect()}
    out2 = {r.doc_id: r for r in decode_media(media).collect()}
    assert out1.keys() == out2.keys() == {1, 2}
    for k in out1:
        assert out1[k] == out2[k]  # deterministic stub
        assert 64 <= out1[k].width < 256
        assert out1[k].n_bytes > 0
        assert len(out1[k].sha1_prefix) == 12


def test_dedup_exact_collapses_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    kept = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("kept"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_n = {r.kept: r.n for r in kept}
    assert by_n == {1: 2, 3: 1}


def test_recursive_fixpoint_chain(spark):
    from datafusion_spark.operators.recursive import recursive_fixpoint

    # path graph 0→1→2→3→4: depth of each node from 0
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(4)], "node long, parent long"
    )
    base = spark.createDataFrame([(0, 0)], "node long, depth long")

    def step(f):
        return edges.join(
            f.select(F.col("node").alias("p"), "depth"), edges.parent == F.col("p")
        ).select("node", (F.col("depth") + F.lit(1)).alias("depth"))

    out = {r.node: r.depth for r in recursive_fixpoint(base, step).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_recursive_fixpoint_raises_on_runaway(spark):
    from datafusion_spark.operators.recursive import recursive_fixpoint

    base = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        recursive_fixpoint(base, lambda f: f, max_iter=3)  # self-loop never empties


def test_arrow_ipc_roundtrip_exact(spark, tmp_path):
    from datafusion_spark.sources.io import copy_to_arrow_ipc, read_arrow_ipc

    df = spark.createDataFrame(
        [(i, f"s{i}", float(i) / 3) for i in range(1000)],
        "k long, s string, v double",
    ).repartition(4)
    path = str(tmp_path / "arrow_rt")
    copy_to_arrow_ipc(df, path)
    back = read_arrow_ipc(spark, path)
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_recursive_fixpoint_distinct_terminates_on_cycle(spark):
    from datafusion_spark.operators.recursive import recursive_fixpoint_distinct

    # triangle 1-2-3 plus isolated pair 4-5: label propagation must
    # terminate (UNION-distinct) and find the two components
    pairs = [(1, 2), (2, 3), (1, 3), (4, 5)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "s long, d long"
    )
    base = edges.select(F.col("s").alias("doc")).distinct().select(
        "doc", F.col("doc").alias("label")
    )

    def step(frontier):
        f = frontier.select(F.col("doc").alias("src"), "label")
        return edges.join(f, edges.s == F.col("src")).select(
            F.col("d").alias("doc"), "label"
        )

    walk = recursive_fixpoint_distinct(base, step, max_iter=10)
    comp = {
        r.doc: r.c
        for r in walk.groupBy("doc").agg(F.min("label").alias("c")).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_salted_join_equals_plain_join(spark):
    from datafusion_spark.operators.salting import salted_join

    big = spark.createDataFrame(
        [(i % 3, i * 1.0) for i in range(300)], "k long, v double"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, tag string")
    plain = sorted(big.join(small, "k").collect())
    salted = sorted(salted_join(big, small, on="k", n_salts=4, spread_col="v").collect())
    assert salted == plain


def test_salted_agg_equals_plain_agg(spark):
    from datafusion_spark.operators.salting import salted_agg

    df = spark.createDataFrame(
        [(i % 2, i) for i in range(1000)], "k long, v long"
    ).repartition(8)
    out = salted_agg(
        df,
        keys=["k"],
        aggs=[F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")],
        finals=[F.sum("s").alias("total"), F.sum("n").alias("cnt")],
        n_salts=4,
    )
    got = {r.k: (r.total, r.cnt) for r in out.collect()}
    want = {
        r.k: (r.total, r.cnt)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want


def test_sample_frames_fanout_deterministic(spark):
    from datafusion_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, "video/mp4", bytearray(b"0123456789abcdef")), (2, "video/mp4", bytearray(b"xy"))],
        "doc_id long, media_type string, payload binary",
    )
    out1 = sorted(sample_frames(media, n_frames=4).collect())
    out2 = sorted(sample_frames(media, n_frames=4).collect())
    assert out1 == out2
    by_doc = {}
    for r in out1:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 4 and len(by_doc[2]) == 4
    assert [r.frame_idx for r in by_doc[1]] == [0, 1, 2, 3]
    assert all(len(r.frame_digest) == 12 for r in out1)


def test_compact_files(spark, tmp_path):
    """16-way fragmented parquet dir compacts to 1 file with identical
    content (tiny input, target 128 MB -> single output file)."""
    import glob as _glob

    import pyspark.sql.functions as F

    from datafusion_spark.catalog import load_table
    from datafusion_spark.sources.io import compact_files
    from tests.conftest import SF_SMALL

    events = load_table(spark, SF_SMALL, "events")
    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    events.repartition(16).write.parquet(src)
    assert len(_glob.glob(src + "/*.parquet")) == 16

    n = compact_files(spark, src, dst)
    assert n == 1
    assert len(_glob.glob(dst + "/*.parquet")) == 1

    a = events.agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("s"),
    ).collect()[0]
    b = spark.read.parquet(dst).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("s"),
    ).collect()[0]
    assert (a.n, a.s) == (b.n, b.s)


def test_audio_windows_deterministic(spark):
    """Stubbed audio decode is deterministic and shapes correctly: 4
    windows per audio row, stable values across runs."""
    import pyspark.sql.functions as F

    from datafusion_spark.catalog import load_table
    from datafusion_spark.operators.multimodal import (
        extract_audio_windows,
        media_table_from_documents,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(30)
    media = media_table_from_documents(docs).filter(
        F.col("media_type") == "audio/wav"
    )
    n_audio = media.count()
    a = extract_audio_windows(media).orderBy("doc_id", "window_idx").collect()
    b = extract_audio_windows(media).orderBy("doc_id", "window_idx").collect()
    assert a == b
    assert len(a) == 4 * n_audio
    assert all(r.rms >= 0 for r in a)


def test_hll_sketch_accuracy(spark):
    """HLL sketch estimates stay within 5% of exact distincts, and the
    merged (union) sketch matches the global exact count — mergeability is
    the property that makes sketches the 100 TB distinct-count path."""
    import pyspark.sql.functions as F

    from datafusion_spark.catalog import load_table
    from tests.conftest import SF_SMALL

    e = load_table(spark, SF_SMALL, "events")
    per = (
        e.groupBy("event_type")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.countDistinct("user_id").alias("exact"),
        )
    )
    rows = per.select(F.hll_sketch_estimate("sk").alias("est"), "exact").collect()
    assert rows and all(abs(r.est - r.exact) <= max(1, 0.05 * r.exact) for r in rows)
    merged = per.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("m")).collect()[0].m
    exact_all = e.select("user_id").distinct().count()
    assert abs(merged - exact_all) <= max(1, 0.05 * exact_all)


def test_avro_lite_roundtrip_with_nulls(spark):
    """avro_lite preserves nulls (union encoding), all primitive types,
    and row identity across multi-file distributed write/read."""
    import pyspark.sql.functions as F

    from datafusion_spark.catalog import load_table
    from datafusion_spark.sources.avro_lite import read_avro_lite, write_avro
    from tests.conftest import SF_SMALL
    import os, tempfile

    src = (
        load_table(spark, SF_SMALL, "orders")
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 3 == 0, None)
            .otherwise(F.col("o_totalprice")).alias("price_nullable"),
            (F.col("o_orderkey") % 2 == 0).alias("flag"),
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderkey").cast("int").alias("small_key"),
            F.col("o_totalprice").cast("float").alias("price_f32"),
        )
    )
    path = os.path.join(tempfile.gettempdir(), "avro_lite_nulls")
    write_avro(src.repartition(5), path)
    back = read_avro_lite(spark, path)
    assert back.schema.simpleString() == (
        "struct<o_orderkey:bigint,price_nullable:double,flag:boolean,"
        "prio:string,small_key:int,price_f32:float>"
    )
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b and len(a) > 0


def test_image_resize_deterministic(spark):
    """Stubbed image resize is deterministic, shape-stable, and bounded
    ([0,1] normalized pixels)."""
    import pyspark.sql.functions as F

    from datafusion_spark.catalog import load_table
    from datafusion_spark.operators.multimodal import (
        media_table_from_documents,
        resize_normalize_images,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(30)
    media = media_table_from_documents(docs).filter(
        F.col("media_type") == "image/png"
    )
    a = resize_normalize_images(media).orderBy("doc_id").collect()
    b = resize_normalize_images(media).orderBy("doc_id").collect()
    assert a == b and len(a) == media.count() > 0
    for r in a:
        assert 0.0 <= r.mean_pixel <= 1.0
        assert len(r.quadrant_means) == 4
        assert (r.out_w, r.out_h) == (32, 32)


def test_png_lite_roundtrip_all_colortypes():
    """Known-answer: encode_png -> decode_png is byte-exact for every
    supported channel count and every dimension parity (odd/even)."""
    from datafusion_spark.operators.png_lite import decode_png, encode_png, is_png

    for w, h, ch in [(7, 5, 1), (8, 8, 2), (33, 17, 3), (16, 9, 4)]:
        pixels = bytes((x * 31 + 7) % 256 for x in range(w * h * ch))
        png = encode_png(pixels, w, h, ch)
        assert is_png(png)
        dw, dh, dch, dpx = decode_png(png)
        assert (dw, dh, dch) == (w, h, ch)
        assert dpx == pixels


def test_png_lite_decodes_filtered_rows():
    """Decoder handles all five scanline filters: re-encode a known image
    through zlib with per-row filters 1-4 applied manually and check the
    unfiltered output matches the original pixels."""
    import struct
    import zlib

    from datafusion_spark.operators.png_lite import decode_png
    from datafusion_spark.operators.png_lite import _chunk, _MAGIC, _paeth

    w, h, ch = 6, 5, 3
    stride = w * ch
    pixels = bytes((x * 29 + 3) % 256 for x in range(stride * h))
    rows = [bytearray(pixels[y * stride : (y + 1) * stride]) for y in range(h)]
    raw = bytearray()
    prev = bytearray(stride)
    for y, line in enumerate(rows):
        ftype = y % 5
        filtered = bytearray(line)
        if ftype == 1:
            for i in range(stride - 1, ch - 1, -1):
                filtered[i] = (filtered[i] - line[i - ch]) & 0xFF
        elif ftype == 2:
            for i in range(stride):
                filtered[i] = (filtered[i] - prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                filtered[i] = (filtered[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                ul = prev[i - ch] if i >= ch else 0
                filtered[i] = (filtered[i] - _paeth(left, prev[i], ul)) & 0xFF
        raw.append(ftype)
        raw.extend(filtered)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (_MAGIC + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(bytes(raw)))
           + _chunk(b"IEND", b""))
    dw, dh, dch, dpx = decode_png(png)
    assert (dw, dh, dch) == (w, h, ch)
    assert dpx == pixels


def test_decode_media_real_png_dimensions(spark):
    """The media pipeline decodes REAL PNG payloads: width/height/channels
    must match what the generator wrote (not the stub's hash-derived fake),
    and feature_norm must equal the true mean sample value."""
    from datafusion_spark.operators.png_lite import encode_png

    specs = [(1, 40, 25, 1), (2, 12, 34, 3)]
    rows = []
    for doc_id, w, h, ch in specs:
        pixels = bytes((doc_id * 7 + i) % 256 for i in range(w * h * ch))
        rows.append((doc_id, "image/png", bytearray(encode_png(pixels, w, h, ch)),
                     sum(pixels) / (len(pixels) * 255.0)))
    media = spark.createDataFrame(
        [r[:3] for r in rows], "doc_id long, media_type string, payload binary"
    )
    out = {r.doc_id: r for r in decode_media(media).collect()}
    for doc_id, w, h, ch in specs:
        assert (out[doc_id].width, out[doc_id].height, out[doc_id].n_channels) == (w, h, ch)
    for doc_id, _, _, expected_norm in [(r[0], None, None, r[3]) for r in rows]:
        assert abs(out[doc_id].feature_norm - expected_norm) < 1e-12


def test_resize_normalize_real_png_stats(spark):
    """resize_normalize_images over a real PNG: src dims match the encoder
    and mean_pixel matches the numpy luma of the strided subsample."""
    import numpy as np

    from datafusion_spark.operators.multimodal import resize_normalize_images
    from datafusion_spark.operators.png_lite import encode_png

    w, h, ch = 48, 36, 3
    pixels = bytes((i * 13 + 5) % 256 for i in range(w * h * ch))
    media = spark.createDataFrame(
        [(9, "image/png", bytearray(encode_png(pixels, w, h, ch)))],
        "doc_id long, media_type string, payload binary",
    )
    row = resize_normalize_images(media, out_w=16, out_h=16).collect()[0]
    assert (row.src_w, row.src_h) == (w, h)
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch)
    luma = arr.mean(axis=2) / 255.0
    ys = np.linspace(0, h - 1, 16).astype(int)
    xs = np.linspace(0, w - 1, 16).astype(int)
    small = luma[np.ix_(ys, xs)]
    assert abs(row.mean_pixel - float(small.mean())) < 1e-9


def test_wav_decode_known_answer():
    """Known-answer: a wave-module-written 16-bit PCM container decodes to
    the exact samples written (scaled to [-1, 1])."""
    import io
    import wave

    import numpy as np

    from datafusion_spark.operators.multimodal import _decode_wav

    samples = np.array([0, 16384, -16384, 32767, -32768, 100], dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    got = _decode_wav(buf.getvalue())
    assert got is not None
    assert np.allclose(got, samples.astype(np.float64) / 32768.0)
    # non-WAV bytes must NOT pretend to decode
    assert _decode_wav(b"not a riff container") is None


def test_wav_decode_stereo_downmix():
    """A stereo 16-bit WAV decodes to per-FRAME mono samples (channel
    mean), not 2x interleaved samples."""
    import io
    import wave

    import numpy as np

    from datafusion_spark.operators.multimodal import _decode_wav

    # 3 frames of (L, R): mono mix is the per-frame channel mean
    inter = np.array([1000, 3000, -2000, -4000, 32767, -32768], dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(inter.tobytes())
    got = _decode_wav(buf.getvalue())
    assert got is not None
    assert len(got) == 3  # frames, not samples
    expected = inter.astype(np.float64).reshape(-1, 2).mean(axis=1) / 32768.0
    assert np.allclose(got, expected)


def test_audio_windows_real_wav_rms(spark):
    """End-to-end: media_table_from_documents emits real WAV containers and
    extract_audio_windows recovers features computed from the ACTUAL PCM
    samples (cross-checked against a NumPy reimplementation of the
    generator + feature math)."""
    import numpy as np

    from datafusion_spark.operators.multimodal import (
        extract_audio_windows,
        media_table_from_documents,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(1, "abcd wav check")], "doc_id long, text string")
    media = media_table_from_documents(docs).filter(
        F.col("media_type") == "audio/wav"
    )
    rows = extract_audio_windows(media).orderBy("window_idx").collect()
    assert len(rows) == 4

    data = b"abcd wav check"
    n = 256 + (len(data) * 13) % 512
    b = np.frombuffer(data, dtype=np.uint8)
    samples = ((b[np.arange(n) % len(b)].astype(np.int32) - 128) * 200
               ).astype("<i2").astype(np.float64) / 32768.0
    span = n // 4
    for i, r in enumerate(rows):
        seg = samples[i * span:(i + 1) * span]
        assert r.n_samples == len(seg)
        assert abs(r.rms - float(np.sqrt(np.mean(seg * seg)))) < 1e-12


def test_view_state_cache_transitions(spark):
    """Each view name is bound to one DataFrame per session and re-bound
    only when another DataFrame is asked for; official-track overlays
    shadow base views and the next plain registration restores them — the
    full official->plain->official cycle must stay correct."""
    from datafusion_spark import catalog
    from datafusion_spark.queries import QUERIES
    from tests.conftest import SF_SMALL, SF_ORACLE

    def bound(name):
        return catalog._VIEW_STATE[catalog.app_id(spark)][name]

    def base(sf):
        return catalog.load_table(spark, sf, "lineitem")

    catalog.invalidate_views(spark)
    catalog.register_views(spark, SF_SMALL)
    assert bound("lineitem") is base(SF_SMALL)
    plain_cols = set(spark.table("lineitem").columns)
    assert "l_commitdate" not in plain_cols

    # official entry shadows lineitem with the extended overlay
    QUERIES["tpch_official_q4"](spark, SF_SMALL).collect()
    assert bound("lineitem") is not base(SF_SMALL)
    assert "l_commitdate" in set(spark.table("lineitem").columns)

    # plain re-registration restores the base view
    catalog.register_views(spark, SF_SMALL)
    assert bound("lineitem") is base(SF_SMALL)
    assert "l_commitdate" not in set(spark.table("lineitem").columns)

    # switching sf_dir re-binds even in plain state
    catalog.register_views(spark, SF_ORACLE)
    assert bound("lineitem") is base(SF_ORACLE)
    catalog.register_views(spark, SF_SMALL)
    assert bound("lineitem") is base(SF_SMALL)

    # an overlay outside TABLES (partsupp) outlives a plain registration of
    # another sf_dir: the next official entry re-binds it for its own
    q2 = QUERIES["tpch_official_q2"]
    q2(spark, SF_ORACLE).collect()
    oracle_partsupp = bound("partsupp")
    catalog.register_views(spark, SF_SMALL)
    got = q2(spark, SF_SMALL).collect()
    assert bound("partsupp") is not oracle_partsupp
    catalog.invalidate_views(spark)
    assert got == q2(spark, SF_SMALL).collect()


def test_tpch_entries_register_every_view_they_read(spark):
    """Each tpch_* entry registers the views its text reads itself: with no
    base view left in the session, a table the entry misses fails with
    TABLE_OR_VIEW_NOT_FOUND instead of reading another entry's view.  A
    conf key set for the test's length makes every statement analyze
    afresh (a kept analyzed plan needs no view)."""
    from datafusion_spark import catalog
    from datafusion_spark.queries import QUERIES
    from tests.conftest import SF_SMALL

    spark.conf.set("spark.dfspark.test.fresh_statements", "true")
    try:
        for name in [n for n in QUERIES if n.startswith("tpch_q")]:
            for table in catalog.TABLES:
                spark.catalog.dropTempView(table)
            catalog.invalidate_views(spark)
            QUERIES[name](spark, SF_SMALL).collect()
    finally:
        spark.conf.unset("spark.dfspark.test.fresh_statements")
        catalog.invalidate_views(spark)
        catalog.register_views(spark, SF_SMALL)


def test_bm25_index_serve_matches_per_query_scoring(spark):
    """The persisted-index serving path must score identically to the
    recompute-everything path: for the query that text_bm25_topk runs
    (qid 1 = the same 3 terms), the serve entry's top-5 (doc_id, bm25)
    must equal the head of text_bm25_topk's top-10."""
    from datafusion_spark.queries import QUERIES
    from tests.conftest import SF_SMALL

    serve = QUERIES["text_bm25_index_serve"](spark, SF_SMALL)
    got = [(r.doc_id, r.bm25) for r in serve.collect() if r.qid == 1]
    single = QUERIES["text_bm25_topk"](spark, SF_SMALL)
    want = [(r.doc_id, r.bm25) for r in single.collect()][: len(got)]
    assert got == want


def test_bm25_index_artifact_reused(spark, tmp_path):
    """Second serve call must NOT rebuild the index (marker present) and
    the artifact carries all four components."""
    import os

    from datafusion_spark.queries.pipeline_text import (
        _BM25_SERVE_QUERIES,
        _ensure_bm25_index,
        bm25_serve,
    )
    from tests.conftest import SF_SMALL

    base, n_docs, total_len = _ensure_bm25_index(spark, SF_SMALL)
    for comp in ("postings", "doclen", "term_stats", "stats.json", "_DONE"):
        assert os.path.exists(os.path.join(base, comp)), comp
    mtime = os.path.getmtime(os.path.join(base, "_DONE"))
    rows = bm25_serve(spark, SF_SMALL, _BM25_SERVE_QUERIES, k=3).collect()
    assert os.path.getmtime(os.path.join(base, "_DONE")) == mtime
    assert rows and all(r.rank <= 3 for r in rows)
    # every requested qid that has any matching doc appears
    assert {r.qid for r in rows} == set(_BM25_SERVE_QUERIES)


def test_bm25_compact_equals_segmented_and_monolithic(spark):
    """Index-lifecycle invariant: serve(build) == serve(refresh) ==
    serve(compact(refresh)) row-for-row — compaction merges segments
    without changing a single score, and both equal the monolithic
    build (the oracle separately proves all three == full rebuild)."""
    import os

    from datafusion_spark.queries import QUERIES
    from datafusion_spark.queries.pipeline_text import _ensure_bm25_compacted
    from tests.conftest import SF_SMALL

    mono = QUERIES["text_bm25_index_serve"](spark, SF_SMALL).collect()
    seg = QUERIES["text_bm25_index_refresh"](spark, SF_SMALL).collect()
    cmp_ = QUERIES["text_bm25_index_compact"](spark, SF_SMALL).collect()
    as_tuples = lambda rows: [(r.qid, r.doc_id, r.rank, r.bm25) for r in rows]
    assert as_tuples(cmp_) == as_tuples(seg) == as_tuples(mono)
    # the compacted artifact is ONE segment with all four components
    base, _, _ = _ensure_bm25_compacted(spark, SF_SMALL)
    for comp in ("postings", "doclen", "term_stats", "stats.json", "_DONE"):
        assert os.path.exists(os.path.join(base, comp)), comp


def test_bm25_tombstone_delete_semantics(spark):
    """Tombstoned serving: (a) no deleted doc_id (doc_id % 7 == 3) ever
    appears in results; (b) the ranking CHANGES vs the undeleted index
    (the df/corpus-scalar adjustment is live, not just an output
    filter); (c) the tombstone artifact carries all three components."""
    import os

    from datafusion_spark.queries import QUERIES
    from datafusion_spark.queries.pipeline_text import (
        _ensure_bm25_tombstones,
    )
    from tests.conftest import SF_SMALL

    deleted = QUERIES["text_bm25_index_delete"](spark, SF_SMALL).collect()
    assert deleted and all(r.doc_id % 7 != 3 for r in deleted)
    base_rows = QUERIES["text_bm25_index_serve"](spark, SF_SMALL).collect()
    # some qid's top-5 must differ once ~1/7 of the corpus is deleted
    assert {(r.qid, r.doc_id, r.bm25) for r in deleted} != \
        {(r.qid, r.doc_id, r.bm25) for r in base_rows}
    tomb, dn, dtl = _ensure_bm25_tombstones(spark, SF_SMALL)
    assert dn > 0 and dtl > 0
    for comp in ("tombstones", "term_stats", "stats.json", "_DONE"):
        assert os.path.exists(os.path.join(tomb, comp)), comp


def test_bm25_delete_compact_equals_tombstoned_serving(spark):
    """Tombstone-aware compaction (the Lucene merge applying .del
    files): serving over the merged-with-deletes index must equal the
    tombstoned serving path ROW-FOR-ROW — the per-query df/scalar
    correction is baked into the index.  The merged artifact must carry
    an EMPTY tombstone set (reset), no deleted doc in postings/doclen,
    and no df<=0 term."""
    import os

    from datafusion_spark.queries import QUERIES
    from datafusion_spark.queries.pipeline_text import (
        _ensure_bm25_delete_compacted,
    )
    from tests.conftest import SF_SMALL

    tomb_rows = QUERIES["text_bm25_index_delete"](spark, SF_SMALL).collect()
    cmp_rows = QUERIES["text_bm25_index_delete_compact"](
        spark, SF_SMALL).collect()
    as_tuples = lambda rows: [(r.qid, r.doc_id, r.rank, r.bm25) for r in rows]
    assert as_tuples(cmp_rows) == as_tuples(tomb_rows)

    base, n_docs, total_len = _ensure_bm25_delete_compacted(spark, SF_SMALL)
    assert n_docs > 0 and total_len > 0
    # tombstone set reset: present but EMPTY
    assert spark.read.parquet(
        os.path.join(base, "tombstones")).count() == 0
    # tombstoned rows physically dropped from every component
    assert spark.read.parquet(os.path.join(base, "postings")).filter(
        "doc_id % 7 = 3").count() == 0
    assert spark.read.parquet(os.path.join(base, "doclen")).filter(
        "doc_id % 7 = 3").count() == 0
    assert spark.read.parquet(os.path.join(base, "term_stats")).filter(
        "df <= 0").count() == 0


def test_ivf_ingest_delta_lifecycle(spark):
    """IVF incremental ingest (FAISS add() posture): (a) serving the
    segmented persisted lists equals the monolithic on-the-fly probe
    row-for-row; (b) a re-attach (fresh-process sim) never rewrites the
    published seg0 files; (c) nprobe=1 recall@5 vs brute force clears
    the floor (measured 0.88 at sf0.01; floor below, rounded)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from datafusion_spark.queries import QUERIES
    from datafusion_spark.queries.pipeline_similarity import _ensure_ivf_lists
    from tests.conftest import SF_ORACLE

    mono = QUERIES["similarity_ivf_topk"](spark, SF_ORACLE).collect()
    seg = QUERIES["similarity_ivf_ingest_delta"](spark, SF_ORACLE).collect()
    as_tuples = lambda rows: sorted(
        (r.qid, r.vec_id, float(r.cos_sim)) for r in rows)
    assert as_tuples(seg) == as_tuples(mono)

    segs = _ensure_ivf_lists(spark, SF_ORACLE)

    def inventory(path):
        out = {}
        for dirpath, _d, files in os.walk(path):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    before = inventory(segs[0])
    assert before, "seg0 missing"
    segs2 = _ensure_ivf_lists(spark, SF_ORACLE)  # re-attach
    assert segs2 == segs and inventory(segs[0]) == before, \
        "published seg0 lists were rewritten on re-attach"

    exact = QUERIES["similarity_cosine_topk"](spark, SF_ORACLE)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    e5 = exact.withColumn("rn", F.row_number().over(w)).filter("rn <= 5")

    def sets(rows):
        out = {}
        for r in rows:
            out.setdefault(r.qid, set()).add(r.vec_id)
        return out

    ex, got = sets(e5.collect()), sets(seg)
    recall = sum(
        len(got.get(q, set()) & ex[q]) / len(ex[q]) for q in ex) / len(ex)
    assert round(recall, 4) >= 0.7, f"ingest-delta recall@5 {recall:.2f}"


def test_ivf_delete_tombstone_semantics(spark):
    """IVF tombstoned serving (FAISS remove_ids posture): (a) no deleted
    vec_id (vec_id % 7 == 3) in any result; (b) results differ from the
    undeleted index (deletion is live); (c) a DELETED vector may still
    QUERY (qid 3 returns rows); (d) the tombstone artifact exists and is
    index-derived; (e) recall@5 vs the full-corpus brute force still
    clears 0.6 (measured 0.80 at sf0.01)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from datafusion_spark.queries import QUERIES
    from datafusion_spark.queries.pipeline_similarity import (
        _ensure_ivf_tombstones,
    )
    from tests.conftest import SF_ORACLE

    deleted = QUERIES["similarity_ivf_delete"](spark, SF_ORACLE).collect()
    assert deleted and all(r.vec_id % 7 != 3 for r in deleted)
    assert any(r.qid == 3 for r in deleted), "deleted vector must still query"
    base_rows = QUERIES["similarity_ivf_ingest_delta"](
        spark, SF_ORACLE).collect()
    assert {(r.qid, r.vec_id) for r in deleted} != \
        {(r.qid, r.vec_id) for r in base_rows}

    tomb = _ensure_ivf_tombstones(spark, SF_ORACLE)
    assert os.path.isdir(os.path.join(tomb, "tombstones"))
    n_dead = spark.read.parquet(os.path.join(tomb, "tombstones")).count()
    assert n_dead > 0

    exact = QUERIES["similarity_cosine_topk"](spark, SF_ORACLE)
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    e5 = exact.withColumn("rn", F.row_number().over(w)).filter("rn <= 5")

    def sets(rows):
        out = {}
        for r in rows:
            out.setdefault(r.qid, set()).add(r.vec_id)
        return out

    ex, got = sets(e5.collect()), sets(deleted)
    recall = sum(
        len(got.get(q, set()) & ex[q]) / len(ex[q]) for q in ex) / len(ex)
    assert round(recall, 4) >= 0.6, f"tombstoned recall@5 {recall:.2f}"


def test_ivf_delete_compact_equals_tombstoned_serving(spark):
    """IVF tombstone-aware compaction (FAISS merge_from / the Lucene
    merge applying .del files, vector side): serving the merged single
    segment must equal the tombstoned serving path ROW-FOR-ROW — the
    candidate removal is baked into the index.  The merged artifact
    must carry an EMPTY tombstone set (reset), no deleted vec_id in the
    lists, every original vector exactly once otherwise, and a
    re-attach never rewrites the published files."""
    import os

    from datafusion_spark.queries import QUERIES
    from datafusion_spark.queries.pipeline_similarity import (
        _ensure_ivf_delete_compacted,
    )
    from tests.conftest import SF_ORACLE

    tomb_rows = QUERIES["similarity_ivf_delete"](spark, SF_ORACLE).collect()
    cmp_rows = QUERIES["similarity_ivf_delete_compact"](
        spark, SF_ORACLE).collect()
    as_tuples = lambda rows: sorted(
        (r.qid, r.vec_id, float(r.cos_sim)) for r in rows)
    assert as_tuples(cmp_rows) == as_tuples(tomb_rows)

    base = _ensure_ivf_delete_compacted(spark, SF_ORACLE)
    # tombstone set reset: present but EMPTY
    assert spark.read.parquet(
        os.path.join(base, "tombstones")).count() == 0
    merged = spark.read.parquet(os.path.join(base, "seg"))
    # tombstoned vectors physically dropped, everything else kept once
    assert merged.filter("vec_id % 7 = 3").count() == 0
    n_all = spark.read.parquet(
        f"{SF_ORACLE}/embeddings.parquet").filter("vec_id % 7 <> 3").count()
    assert merged.count() == n_all
    assert merged.select("vec_id").distinct().count() == n_all

    def inventory(path):
        out = {}
        for dirpath, _d, files in os.walk(path):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    before = inventory(base)
    assert before, "merged segment missing"
    assert _ensure_ivf_delete_compacted(spark, SF_ORACLE) == base
    assert inventory(base) == before, \
        "published merged lists were rewritten on re-attach"


def test_ivf_filtered_lifecycle_semantics(spark):
    """Filtered ANN over the persisted lifecycle (metadata conjunct +
    segments + tombstones in ONE plan): (a) no deleted vec_id in any
    result; (b) every hit shares its query's label (the payload filter
    holds, evaluated on the label stored IN the lists); (c) recall@5 vs
    the filtered brute force clears the floor (measured 0.80 at sf0.01;
    floor below, rounded)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from datafusion_spark.queries import QUERIES
    from datafusion_spark.queries.pipeline_similarity import (
        cosine, dot_decimal, norm2_decimal,
    )
    from tests.conftest import SF_ORACLE

    rows = QUERIES["similarity_ivf_filtered_lifecycle"](
        spark, SF_ORACLE).collect()
    assert rows and all(r.vec_id % 7 != 3 for r in rows)

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding", "label")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label")
              .filter("vec_id < 10 OR vec_id % 7 <> 3").collect()}
    assert all(labels[r.qid] == labels[r.vec_id] for r in rows), \
        "metadata conjunct violated"

    q = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("label").alias("ql"))
    cand = emb.filter("vec_id % 7 <> 3")
    cos = cosine(dot_decimal(F.col("qe"), F.col("embedding")),
                 norm2_decimal(F.col("qe")),
                 norm2_decimal(F.col("embedding")))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    bf = (q.crossJoin(cand).filter("vec_id <> qid AND label = ql")
          .select("qid", "vec_id", cos.alias("cos_sim"))
          .withColumn("rn", F.row_number().over(w)).filter("rn <= 5"))

    def sets(rs):
        out = {}
        for r in rs:
            out.setdefault(r.qid, set()).add(r.vec_id)
        return out

    ex, got = sets(bf.collect()), sets(rows)
    recall = sum(
        len(got.get(k, set()) & ex[k]) / len(ex[k]) for k in ex) / len(ex)
    assert round(recall, 4) >= 0.6, f"filtered-lifecycle recall@5 {recall:.2f}"


def test_repetition_filter_rowlocal_rewrite_semantics(spark):
    """r12 zero-shuffle rewrite pins: the row-local top-bigram fold equals
    the exploded groupBy count (ties and runs), docs with <2 words are
    excluded exactly as the old inner join excluded them, and the plan
    carries no Exchange at all."""
    from datafusion_spark.catalog import load_table
    from datafusion_spark.queries import QUERIES
    from datafusion_spark.plans import operator_counts
    from tests.conftest import SF_SMALL

    df = QUERIES["text_repetition_filter"](spark, SF_SMALL)
    # the only allowed exchange is fan_out's single-split spread; the old
    # shape had keyed exchanges for the window, two aggregations and a join
    assert operator_counts(df).get("Exchange", 0) <= 1, "rewrite must stay narrow per-row"

    rows = {r.doc_id: r for r in df.collect()}
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    # independent per-doc recomputation in python for a sample
    import collections
    for d in docs.limit(40).collect():
        toks = d.text.split(" ")
        if len(toks) < 2:
            assert d.doc_id not in rows
            continue
        r = rows[d.doc_id]
        bgs = [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]
        top = max(collections.Counter(bgs).values())
        assert r.n_words == len(toks)
        assert r.distinct_ratio == len(set(toks)) / len(toks)
        assert r.top_bigram_frac == top / len(bgs)


def test_substring_windows_per_doc_distinct_rewrite(spark):
    """r12: per-doc array_distinct replaces the pair-set .distinct()
    exchange — counts must equal the distinct-window definition."""
    import hashlib

    from datafusion_spark.catalog import load_table
    from datafusion_spark.queries import QUERIES
    from tests.conftest import SF_SMALL

    rows = {r.doc_id: r for r in
            QUERIES["dedup_substring_windows"](spark, SF_SMALL).collect()}
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    for d in docs.limit(25).collect():
        toks = d.text.split(" ")
        if len(toks) < 8:
            assert d.doc_id not in rows
            continue
        wins = {hashlib.md5(" ".join(toks[i:i + 8]).encode()).hexdigest()
                for i in range(len(toks) - 7)}
        assert rows[d.doc_id].total_windows == len(wins)


def test_expr_fold_helpers_bit_equal(spark):
    """r12 §12 pins: cos_expr/l2sq_expr (single-parse F.expr spellings of
    the lambda-built folds — ~110 ms of py4j round-trips per cosine
    collapsed to one gateway call) are BIT-equal to the Column spellings
    and optimize to the identical plan modulo expression IDs and lambda
    variable names, on vectors exercising negatives, zeros and non-dyadic
    fractions."""
    import re

    from datafusion_spark.queries.pipeline_similarity import (
        cos_expr,
        cosine,
        dot_decimal,
        l2sq_expr,
        norm2_decimal,
    )

    df = spark.createDataFrame(
        [
            (1, [0.1, -2.5, 3.75, 0.0], [1.1, 0.3, -0.2, 9.25]),
            (2, [1e-9, 2e9, -0.125, 7.5], [0.1, 0.1, 0.1, 0.1]),
            (3, [-1.0, -1.0, 4.5, 2.25], [3.0, -0.7, 0.33, 1e-3]),
        ],
        "id long, a array<double>, b array<double>",
    )
    old = df.select(
        "id",
        cosine(
            dot_decimal(F.col("a"), F.col("b")),
            norm2_decimal(F.col("a")),
            norm2_decimal(F.col("b")),
        ).alias("c"),
        F.aggregate(
            F.zip_with(F.col("a"), F.col("b"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("d"),
    )
    new = df.select(
        "id", cos_expr("a", "b").alias("c"), l2sq_expr("a", "b").alias("d")
    )
    ro, rn = old.collect(), new.collect()
    assert [(r.id, r.c, r.d) for r in ro] == [(r.id, r.c, r.d) for r in rn]

    # the lambda-variable rewrite below would also hit real columns named
    # x/y/acc/v and could mask a genuine plan difference (r12 ADVICE) —
    # fail loudly if the test schema ever grows such a column
    assert not set(df.columns) & {"x", "y", "acc", "v"}

    def norm(d):
        p = d._jdf.queryExecution().optimizedPlan().toString()
        p = re.sub(r"#\d+", "#N", p)
        p = re.sub(r"lambda '?\w+", "lambda V", p)
        p = re.sub(r"\b(x|y|acc|v)_?\d*\b", "V", p)
        return p

    assert norm(old) == norm(new)


def test_two_level_distinct_guard_shapes(at_scale, monkeypatch):
    """r13: multi-DISTINCT entries carry two plan shapes behind the
    input-size guard (helpers.two_level_distinct) — Spark's Expand-based
    single-scan aggregate below the crossover (the shape the driver's
    bench always sees at the testdata SFs), independent single-distinct
    branches above it.  Both shapes must return identical rows at two SFs
    and must actually BE the two shapes (Expand present/absent), their
    exchanges taken under the split sizing of tables at scale."""
    import re
    from collections import Counter

    from datafusion_spark.queries import QUERIES
    from tests.conftest import SF_SMALL

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    spark = at_scale
    for sf in (SF_SMALL, "/root/testdata/sf0.01"):
        for name in ("cb_overview_counts", "cbx_q00", "cbx_q01"):
            monkeypatch.delenv("DFSPARK_DISTINCT_EXPAND_MAX_BYTES",
                               raising=False)
            small_df = QUERIES[name](spark, sf)
            got_small = Counter(map(repr, small_df.collect()))
            assert "Expand" in plan(small_df), (name, sf)
            monkeypatch.setenv("DFSPARK_DISTINCT_EXPAND_MAX_BYTES", "0")
            big_df = QUERIES[name](spark, sf)
            got_big = Counter(map(repr, big_df.collect()))
            if name == "cb_overview_counts":
                # two-level: first-level (user_id, event_type) compaction;
                # the remaining Expand runs over the pairs, not the rows
                # exactly the 2-column pair key (the small shape's distinct
                # exchange is (user_id, event_type, gid) — 3 columns)
                pair_key = r"hashpartitioning\(user_id#\d+L?, event_type#\d+, \d+\)"
                assert re.search(pair_key, plan(big_df)), (name, sf)
                assert not re.search(pair_key, plan(small_df)), (name, sf)
            else:
                # branch split: no Expand anywhere, one single-distinct
                # two-level aggregate per branch
                assert "Expand" not in plan(big_df), (name, sf)
            assert got_small == got_big, (name, sf)
    monkeypatch.delenv("DFSPARK_DISTINCT_EXPAND_MAX_BYTES", raising=False)


def test_overview_counts_empty_events_both_shapes(spark, monkeypatch, tmp_path):
    """On an empty events table both multi-distinct shapes of
    cb_overview_counts return the oracle's row: COUNT(*) is 0, not the NULL
    a SUM over zero first-level pairs gives."""
    import duckdb
    import pyarrow.parquet as pq

    from datafusion_spark.catalog import table_path
    from datafusion_spark.queries import ORACLES, QUERIES
    from tests.conftest import SF_SMALL

    empty = str(tmp_path / "events.parquet")
    pq.write_table(pq.read_schema(table_path(SF_SMALL, "events")).empty_table(), empty)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{empty}')")
    want = tuple(con.execute(ORACLES["cb_overview_counts"]).fetchone())
    con.close()
    assert want[0] == 0, want

    got = {}
    for limit in (None, "0"):
        if limit is None:
            monkeypatch.delenv("DFSPARK_DISTINCT_EXPAND_MAX_BYTES", raising=False)
        else:
            monkeypatch.setenv("DFSPARK_DISTINCT_EXPAND_MAX_BYTES", limit)
        got[limit] = tuple(QUERIES["cb_overview_counts"](spark, str(tmp_path)).collect()[0])
    assert got == {None: want, "0": want}, got
