"""Porter stemmer + token pipeline (indexer_node.py:75-94 analog) and the
streaming monitor plane."""

from __future__ import annotations

from distributed_crawler_spark.functions.text import (
    porter_stem,
    process_text_py,
    tokens_fast,
)


def test_porter_stemmer_classic_cases():
    # canonical examples from Porter's published algorithm description
    cases = {
        "caresses": "caress",
        "ponies": "poni",
        "ties": "ti",
        "caress": "caress",
        "cats": "cat",
        "feed": "feed",
        "agreed": "agre",
        "plastered": "plaster",
        "bled": "bled",
        "motoring": "motor",
        "sing": "sing",
        "conflated": "conflat",
        "troubled": "troubl",
        "sized": "size",
        "hopping": "hop",
        "tanned": "tan",
        "falling": "fall",
        "hissing": "hiss",
        "fizzed": "fizz",
        "failing": "fail",
        "filing": "file",
        "happy": "happi",
        "sky": "sky",
        "relational": "relat",
        "conditional": "condit",
        "rational": "ration",
        "valenci": "valenc",
        "digitizer": "digit",
        "operator": "oper",
        "feudalism": "feudal",
        "decisiveness": "decis",
        "hopefulness": "hope",
        "formaliti": "formal",
        "formative": "form",
        "formalize": "formal",
        "electriciti": "electr",
        "electrical": "electr",
        "hopeful": "hope",
        "goodness": "good",
        "revival": "reviv",
        "allowance": "allow",
        "inference": "infer",
        "airliner": "airlin",
        "adjustable": "adjust",
        "defensible": "defens",
        "irritant": "irrit",
        "replacement": "replac",
        "adjustment": "adjust",
        "dependent": "depend",
        "adoption": "adopt",
        "communism": "commun",
        "activate": "activ",
        "angulariti": "angular",
        "homologous": "homolog",
        "effective": "effect",
        "bowdlerize": "bowdler",
        "probate": "probat",
        "rate": "rate",
        "cease": "ceas",
        "controll": "control",
        "roll": "roll",
    }
    bad = {w: (porter_stem(w), want) for w, want in cases.items() if porter_stem(w) != want}
    assert not bad, bad


def test_process_text_pipeline():
    out = process_text_py("The quick Joins are joining the JOINED tables!")
    # stopwords removed, lowered, stemmed
    assert "the" not in out
    assert out.count("join") == 3
    assert "tabl" in out


def test_tokens_fast_matches_unstemmed(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("the quick fox the fox",)], ["text"]
    )
    row = df.select(tokens_fast(F.col("text")).alias("t")).collect()[0]
    assert list(row["t"]) == ["quick", "fox", "fox"]  # dups preserved


def test_streaming_rate_smoke(spark):
    from distributed_crawler_spark.streaming.monitor import run_rate_stream_smoke

    rows = run_rate_stream_smoke(spark, seconds=3)
    assert len(rows) > 0
    assert all(r["n"] > 0 for r in rows)


def test_heartbeat_liveness(spark):
    import datetime as dt

    from distributed_crawler_spark.streaming.monitor import heartbeat_liveness

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("c1", base),
        ("c1", base + dt.timedelta(seconds=100)),
        ("c2", base),  # silent for 100s > 60s window → failed
    ]
    df = spark.createDataFrame(rows, ["crawler_id", "ts"])
    out = {
        r["crawler_id"]: r["liveness"]
        for r in heartbeat_liveness(df).collect()
    }
    assert out == {"c1": "active", "c2": "failed"}


def test_multimodal_plumbing(spark, sf_dir):
    from distributed_crawler_spark.operators import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    media = multimodal.synthesize_media(docs)
    feats = multimodal.decode_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    kinds = {r["kind"] for r in rows}
    assert kinds <= {"image", "audio", "video"}
    # image rows were REALLY decoded: header dims match the synthesizer's
    # (per the format it actually emitted for that row — BMP and PNG
    # alternate) and the feature is pixel-derived (channel means bounded
    # by bytes)
    fmts = set()
    for r in rows:
        if r["kind"] == "image":
            if multimodal.synth_is_png(r["media_id"]):
                w, h = multimodal.synth_png_dims(r["media_id"])
                fmts.add("png")
            else:
                w, h = multimodal.synth_bmp_dims(r["media_id"])
                fmts.add("bmp")
            assert (r["width"], r["height"]) == (w, h)
            assert r["feature"][6] == float(w * h)  # n_pixels dim
            assert all(0.0 <= v <= 255.0 for v in r["feature"][:6])
        elif r["kind"] == "audio":
            # audio rows are REAL 16-bit PCM WAV: width = decoded sample
            # count, height = channels, n_bytes = true encoded size
            n, rate = multimodal.synth_wav_params(r["media_id"])
            assert (r["width"], r["height"]) == (n, 1)
            assert r["n_bytes"] == multimodal.wav_encoded_size(n)
            assert r["feature"][5] == float(n)  # sample-count dim
            assert r["feature"][6] == float(rate)  # rate dim
        else:
            # video rows are REAL uncompressed-DIB AVI: dims from the
            # strf header, n_bytes = true RIFF container size
            w, h, nf = multimodal.synth_avi_dims(r["media_id"])
            assert (r["width"], r["height"]) == (w, h)
            assert r["n_bytes"] == multimodal.avi_encoded_size(w, h, nf)
    assert fmts == {"bmp", "png"}  # both real image formats exercised


def test_bmp_codec_round_trip_and_resize():
    """Pure-python BMP codec: encode -> decode is pixel-exact (including
    row padding and bottom-up storage), rejects non-BMP bytes, and the
    nearest-neighbor resize samples exactly the pixels the arithmetic
    says it should."""
    from distributed_crawler_spark.operators import multimodal

    fn = lambda x, y: ((x * 37 + y) % 256, (x + y * 19) % 256, (x ^ y) % 256)  # noqa: E731
    for w, h in ((1, 1), (3, 2), (4, 4), (7, 5)):
        raw = multimodal.make_bmp(w, h, fn)
        assert len(raw) == 54 + multimodal.bmp_row_size(w) * h
        d = multimodal.decode_bmp(raw)
        assert (d["width"], d["height"]) == (w, h)
        for y in range(h):
            for x in range(w):
                assert d["pixels"][y][x] == fn(x, y), (x, y, w, h)

    assert multimodal.decode_bmp(b"not a bmp at all........................................") is None
    assert multimodal.decode_bmp(b"BM\x00\x01") is None
    # truncated pixel data is rejected, not mis-read
    full = multimodal.make_bmp(4, 4, fn)
    assert multimodal.decode_bmp(full[:-3]) is None

    # resize parity vs the index arithmetic
    src = multimodal.decode_bmp(multimodal.make_bmp(7, 5, fn))
    tw, th = 3, 2
    want = [
        [src["pixels"][y * 5 // th][x * 7 // tw] for x in range(tw)]
        for y in range(th)
    ]
    d = multimodal.decode_bmp(multimodal.make_bmp(7, 5, fn))
    resized = multimodal.make_bmp(
        tw, th, lambda x, y: d["pixels"][y * 5 // th][x * 7 // tw]
    )
    assert multimodal.decode_bmp(resized)["pixels"] == want


def test_png_codec_round_trip():
    """Pure-python PNG codec: encode -> decode is pixel-exact for the
    deterministic stored-block default (byte size == png_encoded_size),
    for genuinely zlib-compressed output, and for every row filter type
    0-4 plus a mixed per-row schedule — i.e. the decoder does real
    unfiltering, not just filter-0 passthrough. Non-PNG and truncated
    inputs are rejected, and the two codecs don't cross-accept."""
    from distributed_crawler_spark.operators import multimodal

    fn = lambda x, y: ((x * 37 + y) % 256, (x + y * 19) % 256, (x ^ y) % 256)  # noqa: E731
    for w, h in ((1, 1), (3, 2), (4, 4), (7, 5)):
        raw = multimodal.make_png(w, h, fn)
        assert len(raw) == multimodal.png_encoded_size(w, h)
        d = multimodal.decode_png(raw)
        assert (d["width"], d["height"]) == (w, h)
        for y in range(h):
            for x in range(w):
                assert d["pixels"][y][x] == fn(x, y), (x, y, w, h)

    for f in range(5):
        d = multimodal.decode_png(
            multimodal.make_png(9, 7, fn, compress_level=9, row_filter=f)
        )
        assert d is not None, f
        assert all(
            d["pixels"][y][x] == fn(x, y) for y in range(7) for x in range(9)
        ), f
    d = multimodal.decode_png(
        multimodal.make_png(9, 7, fn, compress_level=6, row_filter=lambda y: y % 5)
    )
    assert all(d["pixels"][y][x] == fn(x, y) for y in range(7) for x in range(9))

    # RGBA (color type 6): hand-assembled since the encoder only writes
    # type 2 — alpha must be dropped, filters still apply over bpp=4
    import struct as _st
    import zlib as _zl

    w4, h4 = 3, 2
    rows = []
    prev = None
    for y in range(h4):
        raw = bytearray()
        for x in range(w4):
            b, g, r = fn(x, y)
            raw += bytes((r & 255, g & 255, b & 255, (x * 7 + y) % 256))
        raw = bytes(raw)
        f = (y % 5)
        rows.append(bytes((f,)) + multimodal._png_filter_row(f, raw, prev, bpp=4))
        prev = raw
    ihdr = _st.pack(">IIBBBBB", w4, h4, 8, 6, 0, 0, 0)
    rgba = (
        multimodal.PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", _zl.compress(b"".join(rows), 9))
        + multimodal._png_chunk(b"IEND", b"")
    )
    d = multimodal.decode_png(rgba)
    assert (d["width"], d["height"]) == (w4, h4)
    assert all(
        d["pixels"][y][x] == fn(x, y) for y in range(h4) for x in range(w4)
    )

    assert multimodal.decode_png(b"not a png at all") is None
    assert multimodal.decode_png(multimodal.make_png(4, 4, fn)[:30]) is None
    assert multimodal.decode_png(multimodal.make_bmp(4, 4, fn)) is None
    assert multimodal.decode_bmp(multimodal.make_png(4, 4, fn)) is None
    d, fmt = multimodal.decode_image(multimodal.make_png(4, 4, fn))
    assert fmt == "png"
    d, fmt = multimodal.decode_image(multimodal.make_bmp(4, 4, fn))
    assert fmt == "bmp"
    d, fmt = multimodal.decode_image(b"neither format")
    assert d is None and fmt is None


def test_wav_codec_round_trip():
    """Pure-python RIFF/WAVE codec: encode -> decode is sample-exact,
    sizes match the arithmetic the oracles use, the chunk walk skips
    unknown chunks, and non-PCM/non-WAV bytes are rejected."""
    from distributed_crawler_spark.operators import multimodal
    import struct

    samples = [((i * 37) % 999) - 499 for i in range(300)]
    raw = multimodal.make_wav(samples, sample_rate=8000)
    assert len(raw) == multimodal.wav_encoded_size(300)
    d = multimodal.decode_wav(raw)
    assert d == {"sample_rate": 8000, "channels": 1, "samples": samples}

    # clamping to int16
    d = multimodal.decode_wav(multimodal.make_wav([99999, -99999]))
    assert d["samples"] == [32767, -32768]

    # unknown chunk between fmt and data is skipped (real chunk walk)
    fmt_end = 12 + 8 + 16
    junk = b"JUNK" + struct.pack("<I", 5) + b"abcde\x00"  # word-aligned
    patched = raw[:fmt_end] + junk + raw[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert multimodal.decode_wav(patched)["samples"] == samples

    assert multimodal.decode_wav(b"not a wav") is None
    assert multimodal.decode_wav(raw[:20]) is None  # truncated data chunk
    # 8-bit PCM rejected (bits != 16)
    bad = bytearray(raw)
    bad[34] = 8
    assert multimodal.decode_wav(bytes(bad)) is None


def test_avi_codec_round_trip():
    """Pure-python RIFF/AVI codec (uncompressed bottom-up DIB frames):
    encode -> decode is pixel-exact per frame, sizes match
    avi_encoded_size, and non-AVI / compressed streams are rejected."""
    from distributed_crawler_spark.operators import multimodal

    def frame_fn(f):
        return lambda x, y: ((f + 5 * x) % 256, (f * 2 + y) % 256, (x + 3 * y) % 256)

    raw = multimodal.make_avi(5, 4, [frame_fn(0), frame_fn(1), frame_fn(2)])
    assert len(raw) == multimodal.avi_encoded_size(5, 4, 3)
    d = multimodal.decode_avi(raw)
    assert (d["width"], d["height"], d["n_frames"]) == (5, 4, 3)
    for f in range(3):
        fn = frame_fn(f)
        assert all(
            d["frames"][f][y][x] == fn(x, y) for y in range(4) for x in range(5)
        )
        assert len(d["raw_frames"][f]) == multimodal.avi_frame_size(5, 4)

    assert multimodal.decode_avi(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert multimodal.decode_avi(raw[:40]) is None
    assert multimodal.decode_avi(multimodal.make_bmp(4, 4, frame_fn(0))) is None
    # WAV and AVI don't cross-decode
    wav = multimodal.make_wav([1, 2, 3])
    assert multimodal.decode_avi(wav) is None
    assert multimodal.decode_wav(raw) is None


def test_stateful_session_stream(spark):
    import datetime as dt

    from distributed_crawler_spark.streaming.monitor import run_session_stream_smoke

    rows = run_session_stream_smoke(spark)
    got = {r["crawler_id"]: (r["session_start"], r["session_end"], r["n_beats"]) for r in rows}
    # c1 and c2's sessions closed when the far-future c9 event advanced
    # the watermark; c9's own session is still open (not emitted)
    assert got["c1"] == (
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 1, 1, 0, 0, 20),
        3,
    )
    assert got["c2"][2] == 1
    assert "c9" not in got


def test_latest_per_key(spark):
    import datetime as dt

    from distributed_crawler_spark.operators.stats import latest_per_key

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            ("c1", base, "idle"),
            ("c1", base + dt.timedelta(60), "busy"),
            ("c2", base, "idle"),
        ],
        ["crawler_id", "ts", "state"],
    )
    out = {r["crawler_id"]: r["state"] for r in latest_per_key(df, "crawler_id", "ts", ["state"]).collect()}
    assert out == {"c1": "busy", "c2": "idle"}


def test_multimodal_resize_and_frames(spark, sf_dir):
    from pyspark.sql import functions as F

    from distributed_crawler_spark.operators import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    media = multimodal.synthesize_media(docs)

    resized = multimodal.resize_media(media, 16, 16).collect()
    assert len(resized) == 60
    # every row comes back as a REAL re-encoded file in its ORIGINAL
    # format: images as 16x16 BMP/PNG, audio as a 256-sample WAV (the
    # pixel budget), video as a 16x16 AVI with the same frame count
    for r in resized:
        raw = bytes(r["payload"])
        if r["kind"] == "image":
            d, fmt = multimodal.decode_image(raw)
            assert d is not None and (d["width"], d["height"]) == (16, 16)
            want = "png" if multimodal.synth_is_png(r["media_id"]) else "bmp"
            assert fmt == want
        elif r["kind"] == "audio":
            w = multimodal.decode_wav(raw)
            assert w is not None and len(w["samples"]) == 256
            assert w["sample_rate"] == 8000  # rate preserved
        else:
            v = multimodal.decode_avi(raw)
            assert v is not None and (v["width"], v["height"]) == (16, 16)
            _, _, nf = multimodal.synth_avi_dims(r["media_id"])
            assert v["n_frames"] == nf  # every frame resized, none dropped
    assert all(r["width"] == 16 and r["height"] == 16 for r in resized)

    frames = multimodal.sample_frames(media, frame_size=32, every_k=4)
    rows = frames.collect()
    assert rows, "video rows expected"
    # only video payloads produce frames; indices step by every_k
    kinds = {r["media_id"] % 3 for r in rows}
    assert kinds == {2}  # kind 'video' == doc_id % 3 == 2
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(idx == sorted(idx) and all(i % 4 == 0 for i in idx) for idx in by_media.values())

    # AVI payloads are REALLY demuxed: at every_k=2 each video row emits
    # exactly ceil(n_frames/2) frames, each the true DIB frame buffer
    import hashlib

    dense = multimodal.sample_frames(media, every_k=2).collect()
    by_media = {}
    for r in dense:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, rws in by_media.items():
        w, h, nf = multimodal.synth_avi_dims(mid)
        assert sorted(r["frame_idx"] for r in rws) == list(range(0, nf, 2))
        av = multimodal.decode_avi(multimodal.synth_avi(mid))
        for r in rws:
            assert r["frame_bytes"] == multimodal.avi_frame_size(w, h)
            want = hashlib.md5(av["raw_frames"][r["frame_idx"]]).hexdigest()
            assert r["frame_md5"] == want

    # payloads no codec here decodes (JPEG SOI/JFIF bytes, an MP4 ftyp
    # box) take the labeled _fake_decode fallback on every path
    import struct

    jpg = b"\xff\xd8\xff\xe0\x00\x10JFIF\x00" + bytes(9) + b"\xff\xd9"
    mp4 = (
        struct.pack(">I", 24) + b"ftypisom" + struct.pack(">I", 512) + b"isomiso2"
        + struct.pack(">I", 184) + b"mdat" + bytes((i * 7) % 251 for i in range(176))
    )
    user = spark.createDataFrame(
        [(999, "image", bytearray(jpg)), (1000, "video", bytearray(mp4))],
        schema="media_id long, kind string, payload binary",
    )
    feats = {r["media_id"]: r for r in multimodal.decode_features(user).collect()}
    for mid, raw in ((999, jpg), (1000, mp4)):
        want = multimodal._fake_decode(raw, mid)
        got = feats[mid]
        assert (got["n_bytes"], got["width"], got["height"]) == (
            len(raw), 32 * (1 + mid % 16), 32 * (1 + (mid // 16) % 16)
        )
        assert list(got["feature"]) == want["feature"]
    # resize tiles/truncates the raw bytes to the 16x16 pixel budget
    small = {r["media_id"]: r for r in multimodal.resize_media(user, 16, 16).collect()}
    for mid, raw in ((999, jpg), (1000, mp4)):
        want = bytes(raw[i % len(raw)] for i in range(256))
        assert bytes(small[mid]["payload"]) == want
    # frames: the video row is cut into fixed 32-byte chunks, every 2nd kept
    chunks = multimodal.sample_frames(user, frame_size=32, every_k=2).collect()
    assert [tuple(r) for r in chunks] == [
        (1000, i, 32, hashlib.md5(mp4[i * 32 : (i + 1) * 32]).hexdigest())
        for i in (0, 2, 4)
    ]

    # transcode: image rows flip format losslessly (same pixel grid),
    # non-image rows are dropped
    imgs = media.filter(F.col("kind") == "image")
    trans = {r["media_id"]: r for r in multimodal.transcode_images(media).collect()}
    assert set(trans) == {r["media_id"] for r in imgs.collect()}
    for mid, r in trans.items():
        want_src = "png" if multimodal.synth_is_png(mid) else "bmp"
        assert (r["src_format"], r["dst_format"]) == (
            want_src,
            "bmp" if want_src == "png" else "png",
        )
        src = multimodal.synth_png(mid) if want_src == "png" else multimodal.synth_bmp(mid)
        orig, _ = multimodal.decode_image(src)
        out, out_fmt = multimodal.decode_image(bytes(r["payload"]))
        assert out_fmt == r["dst_format"]
        assert out["pixels"] == orig["pixels"], mid  # lossless
        assert r["dst_bytes"] == len(bytes(r["payload"]))
    # neither fallback payload decodes as an image: both rows are dropped
    assert multimodal.transcode_images(user).collect() == []


def test_search_cache_ttl_and_eviction():
    from distributed_crawler_spark.operators.search import SearchCache

    t = [0.0]
    cache = SearchCache(ttl_seconds=300, max_entries=2, clock=lambda: t[0])
    calls = []

    def make(v):
        def compute():
            calls.append(v)
            return [v]
        return compute

    assert cache.get_or_compute("q1", make(1)) == [1]
    assert cache.get_or_compute("q1", make(99)) == [1]     # hit
    assert cache.hits == 1 and calls == [1]

    t[0] = 301.0
    assert cache.get_or_compute("q1", make(2)) == [2]      # TTL expired
    assert calls == [1, 2]

    cache.get_or_compute("q2", make(3))
    cache.get_or_compute("q3", make(4))                     # evicts q1
    assert cache.get_or_compute("q1", make(5)) == [5]
    assert calls == [1, 2, 3, 4, 5]


def test_bm25f_matches_python_reference(spark, sf_dir):
    """BM25F over two derived fields (title = first 10 words, boost 2.0;
    body = full text, boost 1.0) vs an independent row-at-a-time Python
    computation on the same docs."""
    import math
    from collections import Counter

    import duckdb

    from pyspark.sql import functions as F

    from distributed_crawler_spark.operators.search import K1, bm25f_scores

    TERMS = ["spark", "join"]
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' WHERE doc_id < 60"
    ).fetchall()
    con.close()

    fields_py = []  # (boost, b, {doc: tokens})
    title = {d: t.split(" ")[:10] for d, t in docs}
    body = {d: t.split(" ") for d, t in docs}
    fields_py = [(2.0, 0.6, title), (1.0, 0.75, body)]

    wtf: dict[tuple[int, str], float] = {}
    for boost, b, toks in fields_py:
        avg = sum(len(v) for v in toks.values()) / len(toks)
        for d, tk in toks.items():
            c = Counter(tk)
            for t in TERMS:
                if c[t]:
                    wtf[(d, t)] = wtf.get((d, t), 0.0) + boost * c[t] / (
                        1 - b + b * len(tk) / avg
                    )
    n = len(docs)
    df_t = {t: sum(1 for (d2, t2) in wtf if t2 == t) for t in TERMS}
    want = {}
    for (d, t), w in wtf.items():
        idf = math.log(1.0 + (n - df_t[t] + 0.5) / (df_t[t] + 0.5))
        want[d] = want.get(d, 0.0) + idf * w / (K1 + w)
    want_top = sorted(
        ((round(s, 4), d) for d, s in want.items()), key=lambda x: (-x[0], x[1])
    )[:10]

    sdocs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 60)
    title_df = sdocs.select(
        "doc_id", F.concat_ws(" ", F.slice(F.split("text", " "), 1, 10)).alias("text")
    )
    body_df = sdocs.select("doc_id", "text")
    n_docs = sdocs.agg(F.count("*").alias("n"))
    got = [
        (r["score"], r["doc_id"])
        for r in bm25f_scores(
            [(title_df, 2.0, 0.6), (body_df, 1.0, 0.75)], TERMS, n_docs
        ).collect()
    ]
    assert got == want_top


def test_stemmed_search_matches_python_reference(spark, sf_dir):
    """Stemmed TF + BM25 vs an independent row-at-a-time computation with
    Counter over process_text_py tokens — the same analyzer the reference
    indexer runs (indexer_node.py:75-94)."""
    import math
    from collections import Counter

    import duckdb

    from pyspark.sql import functions as F

    from distributed_crawler_spark.functions.text import process_text_py
    from distributed_crawler_spark.operators.search import (
        B,
        K1,
        bm25_scores,
        build_postings_stemmed,
        tf_scores,
    )

    terms = process_text_py("running sparks windows joins")
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' WHERE doc_id < 80"
    ).fetchall()
    con.close()

    toks = {d: process_text_py(t) for d, t in docs}
    counters = {d: Counter(tk) for d, tk in toks.items()}

    # TF reference
    want_tf = sorted(
        (
            (-sum(c[t] for t in terms), d)
            for d, c in counters.items()
            if any(c[t] for t in terms)
        ),
    )[:10]
    want_tf = [(d, -neg) for neg, d in want_tf]

    sdocs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 80
    )
    got_tf = [
        (r["doc_id"], r["score"])
        for r in tf_scores(build_postings_stemmed(sdocs), terms).collect()
    ]
    assert got_tf == want_tf

    # BM25 reference
    n = len(docs)
    avgdl = sum(len(tk) for tk in toks.values()) / n
    df_t = {t: sum(1 for c in counters.values() if c[t]) for t in terms}
    want = {}
    for d, c in counters.items():
        dl = len(toks[d])
        s = 0.0
        for t in terms:
            if not c[t] or not df_t[t]:
                continue
            idf = math.log(1.0 + (n - df_t[t] + 0.5) / (df_t[t] + 0.5))
            s += idf * c[t] * (K1 + 1) / (c[t] + K1 * (1 - B + B * dl / avgdl))
        if s > 0:
            want[d] = round(s, 4)
    want_bm25 = sorted(((s, d) for d, s in want.items()), key=lambda x: (-x[0], x[1]))[:10]
    want_bm25 = [(d, s) for s, d in want_bm25]

    got_bm25 = [
        (r["doc_id"], r["score"])
        for r in bm25_scores(sdocs, terms, stemmed=True).collect()
    ]
    assert got_bm25 == want_bm25


def test_stemmed_query_matches_unstemmed_doc(spark):
    """'running' must match a doc containing only 'run' (VERDICT missing
    #4: the reference's Whoosh index stores stemmed terms)."""
    from distributed_crawler_spark.functions.text import process_text_py
    from distributed_crawler_spark.operators.search import (
        build_postings_stemmed,
        tf_scores,
    )

    docs = spark.createDataFrame(
        [(0, "we run fast"), (1, "nothing relevant here")],
        ["doc_id", "text"],
    )
    terms = process_text_py("running")
    assert terms == ["run"]
    got = tf_scores(build_postings_stemmed(docs), terms).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [(0, 1)]


def test_index_snapshot_matches_on_the_fly_search(spark, sf_dir):
    """The persisted index (indexer_node.py:181-225 analog) must return
    the same TF and BM25 rankings as the build-per-query path, and the
    query-term filter must reach the postings parquet scan."""
    import shutil

    from pyspark.sql import functions as F

    from distributed_crawler_spark.functions.text import process_text_py
    from distributed_crawler_spark.operators.search import (
        bm25_from_index,
        bm25_scores,
        build_postings_stemmed,
        tf_from_index,
        tf_scores,
        write_index_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    idx = "/tmp/dcs_index_snapshot"
    shutil.rmtree(idx, ignore_errors=True)
    write_index_snapshot(docs, idx)

    terms = process_text_py("running sparks windows joins")

    want_tf = [
        (r["doc_id"], r["score"])
        for r in tf_scores(build_postings_stemmed(docs), terms).collect()
    ]
    got_tf = [
        (r["doc_id"], r["score"]) for r in tf_from_index(spark, idx, terms).collect()
    ]
    assert got_tf == want_tf

    want_bm = [
        (r["doc_id"], r["score"])
        for r in bm25_scores(docs, terms, stemmed=True).collect()
    ]
    got_q = bm25_from_index(spark, idx, terms)
    got_bm = [(r["doc_id"], r["score"]) for r in got_q.collect()]
    assert got_bm == want_bm

    # the term IN (...) predicate is pushed into the postings scan
    plan = got_q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "term" in plan


def test_simhash_banding_worst_case_recall(spark):
    """Pigeonhole guarantee at its worst case: hamming-4 pairs whose 4
    differing bits land in 4 DIFFERENT bands must still be caught (the
    5th band is identical); hamming-5 spread one-per-band has no shared
    band and is correctly outside the <=4 contract anyway."""
    from distributed_crawler_spark.operators.dedup import simhash_band_pairs

    base = 0x0AAAAAAAAAAAAAA  # 60-bit pattern
    # bands are 12 bits each: [0:12) [12:24) [24:36) [36:48) [48:60)
    flip4 = base ^ (1 << 0) ^ (1 << 12) ^ (1 << 24) ^ (1 << 36)
    flip5 = base ^ (1 << 0) ^ (1 << 12) ^ (1 << 24) ^ (1 << 36) ^ (1 << 48)
    clustered5 = base ^ 0b11111  # 5 flips in one band: shares bands but hamming 5
    sigs = spark.createDataFrame(
        [(0, base), (1, flip4), (2, flip5), (3, clustered5)],
        "doc_id INT, simhash LONG",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(
            sigs, bits=60, n_bands=5, max_hamming=4
        ).collect()
    }
    assert got[(0, 1)] == 4          # worst-case spread, still caught
    assert (0, 2) not in got         # hamming 5 — outside the contract
    assert (0, 3) not in got         # candidate via shared bands, hamming-verified out
    assert got[(1, 2)] == 1          # differ only in bit 48


def test_simhash_banding_auto_sized_stays_selective(spark):
    """plan_simhash_banding derives (bits, n_bands) from the corpus size
    (VERDICT r04 next #3 — width was a manual knob): at two corpus sizes
    the banded join's CANDIDATE set must stay near the true near-dup
    output instead of degenerating toward all-pairs, while recall stays
    pigeonhole-exact (banded result == all-pairs filter)."""
    import itertools
    import random

    from distributed_crawler_spark.operators.dedup import (
        plan_simhash_banding,
        simhash_band_pairs,
    )

    # derivation shape: width grows with n until the 63-bit cap
    assert plan_simhash_banding(50) == (40, 5)       # w = ceil(log2 50)+2 = 8
    assert plan_simhash_banding(3000) == (60, 5)     # w capped at 63//5 = 12
    assert plan_simhash_banding(10**10) == (60, 5)   # saturated (named limit)
    assert plan_simhash_banding(50, max_hamming=2) == (24, 3)
    assert plan_simhash_banding(10**10, max_hamming=2) == (63, 3)

    rng = random.Random(11)
    for n in (50, 600):
        bits, n_bands = plan_simhash_banding(n, max_hamming=4)
        # synthetic signatures: random base docs plus a few planted
        # near-dups (hamming <= 4 perturbations)
        sigs_py = {}
        for d in range(n):
            sigs_py[d] = rng.getrandbits(bits)
        for d in range(0, n, 20):  # plant near-dups
            s = sigs_py[d]
            for k in range(rng.randint(1, 4)):
                s ^= 1 << rng.randrange(bits)
            sigs_py[n + d] = s
        rows = [(d, s - (1 << 64) if s >= (1 << 63) else s)
                for d, s in sigs_py.items()]
        sigs = spark.createDataFrame(rows, "doc_id LONG, simhash LONG")

        got = {
            (r["id_a"], r["id_b"])
            for r in simhash_band_pairs(
                sigs, bits=bits, n_bands=n_bands, max_hamming=4
            ).collect()
        }
        mask = (1 << bits) - 1
        want = {
            (a, b)
            for a, b in itertools.combinations(sorted(sigs_py), 2)
            if bin((sigs_py[a] ^ sigs_py[b]) & mask).count("1") <= 4
        }
        assert got == want, f"n={n}: recall/precision mismatch"

        # selectivity: candidate pairs surfaced by the band join (before
        # the hamming verify) stay within a small multiple of the true
        # output — not O(n^2). Python mirror of the banding split.
        base_w, extra = divmod(bits, n_bands)
        buckets = {}
        for d, s in sigs_py.items():
            off = 0
            for b in range(n_bands):
                w = base_w + (1 if b < extra else 0)
                key = (b, (s >> off) & ((1 << w) - 1))
                buckets.setdefault(key, set()).add(d)
                off += w
        cand = len({
            (a, b)
            for members in buckets.values()
            for a, b in itertools.combinations(sorted(members), 2)
        })
        n_total = len(sigs_py)
        all_pairs = n_total * (n_total - 1) // 2
        assert cand <= max(20 * max(len(want), 1), n_total), (
            f"n={n}: {cand} candidates vs {len(want)} true pairs"
        )
        assert cand < all_pairs / 5, f"n={n}: candidate set ~ all-pairs"


def test_simhash_wide_matches_python_reference(spark):
    """Wide (array-of-longs) simhash: signatures and near-dup pairs must
    match an independent Python implementation of the same derivation
    (seeded md5-based band hashes, count-weighted bit votes, per-band
    words, all-pairs hamming filter) on docs with planted near-dups —
    the path a 10^10-doc corpus uses past the single-long packing cap."""
    import hashlib
    import itertools

    from distributed_crawler_spark.operators.dedup import (
        plan_simhash_banding_wide,
        simhash_band_pairs_wide,
        simhash_wide,
    )

    base_words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = []
    for d in range(40):
        toks = [base_words[(d + i) % 6] for i in range(8)] + [f"u{d}"]
        rows.append((d, " ".join(toks)))
        if d % 8 == 0:  # planted exact dup (hamming 0) — guaranteed pair
            rows.append((1000 + d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    w, nb = plan_simhash_banding_wide(len(rows), max_hamming=4)
    assert (w, nb) == (8, 5)  # ceil(log2 45)+2 = 8
    assert plan_simhash_banding_wide(10**10) == (36, 5)  # no saturation

    def phash_py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def sig_py(text):
        counts = {}
        for t in text.split():
            if t:
                counts[t] = counts.get(t, 0) + 1
        sig = []
        for band in range(nb):
            word = 0
            for bit in range(w):
                v = 0
                for t, c in counts.items():
                    h = phash_py(f"{band}:{t}")
                    v += c if (h >> bit) & 1 else -c
                if v > 0:
                    word |= 1 << bit
            sig.append(word)
        return sig

    want_sigs = {d: sig_py(t) for d, t in rows}
    got_sigs = {
        r["doc_id"]: list(r["sig"])
        for r in simhash_wide(docs, band_width=w, n_bands=nb).collect()
    }
    assert got_sigs == want_sigs

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    want_pairs = {
        (a, b): ham(want_sigs[a], want_sigs[b])
        for a, b in itertools.combinations(sorted(want_sigs), 2)
        if ham(want_sigs[a], want_sigs[b]) <= 4
    }
    got_pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs_wide(
            simhash_wide(docs, band_width=w, n_bands=nb)
        ).collect()
    }
    assert got_pairs == want_pairs
    # the planted duplicates are actually in the output (non-vacuous)
    assert all(got_pairs.get((d, 1000 + d)) == 0 for d in range(0, 40, 8))


def test_remove_dup_spans_matches_python_reference(spark):
    """Span removal on adversarial fixtures — overlapping dup spans,
    whole-doc removal, sub-n docs, within-doc-only repeats (NOT removed:
    the criterion is >= 2 distinct docs) — vs an independent Python
    implementation of the same rule."""
    from distributed_crawler_spark.operators.dedup import remove_dup_spans

    rows = [
        (0, "a b c d e"),          # 'a b c' + 'b c d' shared with doc 1
        (1, "x a b c d y"),        # overlapping coverage in the middle
        (2, "a b c"),              # entire doc is one dup span -> ''
        (3, "q w"),                # shorter than n: untouched
        (4, "m n o m n o m n o"),  # within-doc repeats only: untouched
        (5, "unique tokens only here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")

    def py_remove(all_rows, n=3):
        grams = {}
        for d, t in all_rows:
            toks = [x for x in t.split(" ") if x]
            for i in range(len(toks) - n + 1):
                grams.setdefault(" ".join(toks[i : i + n]), set()).add(d)
        dup = {g for g, ds in grams.items() if len(ds) >= 2}
        out = {}
        for d, t in all_rows:
            toks = [x for x in t.split(" ") if x]
            cov = set()
            for i in range(len(toks) - n + 1):
                if " ".join(toks[i : i + n]) in dup:
                    cov |= set(range(i, i + n))
            keep = [tok for i, tok in enumerate(toks) if i not in cov]
            out[d] = (" ".join(keep), len(toks), len(toks) - len(keep))
        return out

    want = py_remove(rows)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in remove_dup_spans(docs).collect()
    }
    assert got == want
    assert got[2] == ("", 3, 3)              # fully excised
    assert got[3] == ("q w", 2, 0)           # sub-n untouched
    assert got[4][2] == 0                    # within-doc repeats kept
    assert got[0][0] == "e" and got[1][0] == "x y"  # overlap coverage union


def test_remove_dup_spans_randomized_parity(spark):
    """Seeded random docs over a tiny alphabet (dense shared trigrams,
    heavy overlap chains) vs the Python reference — shapes the fixed
    fixtures can't cover: long runs of covered positions, docs sharing
    spans with several partners, spans at doc boundaries."""
    import random

    from distributed_crawler_spark.operators.dedup import remove_dup_spans

    rng = random.Random(23)
    rows = [
        (d, " ".join(rng.choice("abcx") for _ in range(rng.randint(1, 14))))
        for d in range(50)
    ]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")

    def py_remove(all_rows, n=3):
        grams = {}
        for d, t in all_rows:
            toks = t.split()
            for i in range(len(toks) - n + 1):
                grams.setdefault(" ".join(toks[i : i + n]), set()).add(d)
        dup = {g for g, ds in grams.items() if len(ds) >= 2}
        out = {}
        for d, t in all_rows:
            toks = t.split()
            cov = set()
            for i in range(len(toks) - n + 1):
                if " ".join(toks[i : i + n]) in dup:
                    cov |= set(range(i, i + n))
            keep = [tok for i, tok in enumerate(toks) if i not in cov]
            out[d] = (" ".join(keep), len(toks), len(toks) - len(keep))
        return out

    want = py_remove(rows)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in remove_dup_spans(docs).collect()
    }
    assert got == want
    # non-vacuous: the dense alphabet must have produced real removals
    # AND real survivors
    assert any(v[2] > 0 for v in got.values())
    assert any(v[0] for v in got.values())


def test_bmp_codec_randomized_round_trip():
    """Hypothesis: any (width, height, pixel mapping) round-trips
    pixel-exactly through the BMP codec — padding arithmetic must hold
    for every width mod 4 class."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from distributed_crawler_spark.operators import multimodal

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(w, h, seed):
        fn = lambda x, y: (  # noqa: E731
            (seed + 3 * x + 5 * y) % 256,
            (seed // 7 + x) % 256,
            (seed // 11 + y) % 256,
        )
        raw = multimodal.make_bmp(w, h, fn)
        assert len(raw) == 54 + multimodal.bmp_row_size(w) * h
        d = multimodal.decode_bmp(raw)
        assert (d["width"], d["height"]) == (w, h)
        assert all(
            d["pixels"][y][x] == fn(x, y) for y in range(h) for x in range(w)
        )

    check()


def test_ngram_decontaminate_python_parity(spark):
    """dedup.ngram_decontaminate vs a row-at-a-time Python reference on a
    hand-built corpus with known 3-gram overlaps, short docs (< n tokens,
    the sequence-descends guard), multi-space runs, and a clean doc."""
    from distributed_crawler_spark.operators.dedup import ngram_decontaminate

    train_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "totally unrelated text with no overlap whatsoever here"),
        (3, "quick  brown fox is   quick brown fox again"),  # multi-space
        (4, "too short"),                                    # < n tokens
        (5, "the quick brown fox jumps elsewhere"),
    ]
    eval_rows = [
        (100, "watch the quick brown fox jumps now"),
        (101, "tiny"),
    ]
    n = 3
    tr = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_contaminated"], r["example_gram"])
        for r in ngram_decontaminate(tr, ev, n=n).collect()
    }

    def grams(text):
        toks = [t for t in text.split(" ") if t]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    ev_grams = set().union(*(grams(t) for _, t in eval_rows))
    want = {}
    for did, text in train_rows:
        hit = grams(text) & ev_grams
        if hit:
            want[did] = (len(hit), min(hit))
    assert got == want
    assert 4 not in got and 2 not in got  # short + clean docs untouched


def test_semantic_dedup_removal_rule(spark):
    """semantic_dedup_removed's keeper rule vs a Python reference: with
    planes=0 every vector lands in one bucket, so candidates are exactly
    within-cluster pairs and the reference is enumerable. Each removed
    vector must report its LOWEST-id qualifying neighbor and the cosine
    to THAT keeper (not its best-scoring neighbor)."""
    import math

    from distributed_crawler_spark.operators.similarity import (
        ivf_assign_fixed,
        semantic_dedup_removed,
    )

    dim = 4
    # two well-separated centroids
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    vecs = [
        (0, [1.0, 0.05, 0.0, 0.0]),
        (1, [1.0, 0.06, 0.0, 0.0]),   # near-dup of 0 (keeper 0)
        (2, [1.0, 0.30, 0.0, 0.0]),   # same cluster, lower cosine to 0/1
        (3, [0.0, 1.0, 0.05, 0.0]),
        (4, [0.0, 1.0, 0.06, 0.0]),   # near-dup of 3 (keeper 3)
        (5, [0.3, 0.0, 1.0, 0.0]),    # cluster 0 but far from everything
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    thr = 0.999
    got = {
        r["vec_id"]: (r["centroid"], r["keeper"], r["score"])
        for r in semantic_dedup_removed(
            df, cents, threshold=thr, planes=0, dim=dim
        ).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    assign = {
        r["vec_id"]: r["centroid"]
        for r in ivf_assign_fixed(df, cents).collect()
    }
    want = {}
    for vid, v in vecs:
        lower = [
            (uid, round(cos(u, v), 4))
            for uid, u in vecs
            if uid < vid and assign[uid] == assign[vid]
            and round(cos(u, v), 4) >= thr
        ]
        if lower:
            keeper = min(lower)[0]
            want[vid] = (assign[vid], keeper, dict(lower)[keeper])
    assert got == want
    assert set(got) == {1, 4}  # exactly the two near-dups removed


def test_remove_dup_paragraphs_python_parity(spark):
    """CCNet-style paragraph dedup vs a direct python replay on a
    handcrafted corpus with cross-doc, in-doc, and boundary-straddling
    duplicate windows (P=3 tokens)."""
    from distributed_crawler_spark.operators.dedup import remove_dup_paragraphs

    texts = {
        0: "a b c d e f",          # paras: [a b c] [d e f]
        1: "a b c x y z",          # [a b c] dup of doc0's first
        2: "d e f d e f",          # [d e f] dup of doc0; 2nd in-doc dup
        3: "a b c",                # whole doc duplicated
        4: "q r",                  # short tail-only doc
        5: "x y z q r",            # [x y z] fresh, [q r] dup of doc4
    }
    P = 3

    def py_reference():
        paras = []  # (doc, idx, text)
        for d in sorted(texts):
            toks = [t for t in texts[d].split(" ") if t]
            for i in range(0, (len(toks) + P - 1) // P):
                paras.append((d, i, " ".join(toks[i * P : i * P + P])))
        first = {}
        for d, i, p in sorted(paras):
            first.setdefault(p, (d, i))
        out = {}
        for d in sorted(texts):
            mine = [(i, p) for dd, i, p in paras if dd == d]
            kept = [p for i, p in mine if first[p] == (d, i)]
            out[d] = (len(mine), len(kept), " ".join(kept))
        return out

    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_dedup"])
        for r in remove_dup_paragraphs(docs, para_tokens=P).collect()
    }
    want = py_reference()
    assert got == want
    # the known answers, spelled out
    assert want[1] == (2, 1, "x y z")
    assert want[2] == (2, 0, "")
    assert want[3] == (1, 0, "")
    assert want[5] == (2, 0, "")


def test_remove_dup_paragraphs_partition_invariant(spark, sf_dir):
    """Result is a pure function of the data — identical under a
    different partition layout (the first-occurrence rule is keyed on
    (doc_id, idx), not arrival order)."""
    from distributed_crawler_spark.operators.dedup import remove_dup_paragraphs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    a = {
        tuple(r)
        for r in remove_dup_paragraphs(docs, para_tokens=8).collect()
    }
    b = {
        tuple(r)
        for r in remove_dup_paragraphs(
            docs.repartition(17, "source"), para_tokens=8
        ).collect()
    }
    assert a == b
    # the operator does real work on the word-soup corpus: some
    # paragraph somewhere repeats
    assert any(r[1] != r[2] for r in a)


def test_temperature_mixture_sample_semantics(spark):
    """Integer alpha=0.5 mixture sampling: per-domain kept counts track
    picks_d = (T*w_d) div S within binomial noise; head domains are
    down-weighted relative to natural share; the min(1,.) cap keeps ALL
    docs of a domain whose picks exceed its size; and the kept set is
    partition-layout invariant."""
    import math

    from pyspark.sql import functions as F

    from distributed_crawler_spark.operators.textstats import (
        temperature_mixture_sample,
    )

    rows = []
    sizes = {"mega": 6400, "mid": 400, "tail": 25}
    k = 0
    for dom, n in sizes.items():
        for _ in range(n):
            rows.append((k, dom))
            k += 1
    docs = spark.createDataFrame(rows, ["doc_id", "source"])

    total = sum(sizes.values())
    w = {d: int(math.isqrt(n)) for d, n in sizes.items()}
    s = sum(w.values())
    t = total // 2
    picks = {d: (t * w[d]) // s for d in sizes}

    out = temperature_mixture_sample(docs, domain_col="source")
    got = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for d, n in sizes.items():
        want = min(picks[d], n)
        if want == n:
            assert got.get(d, 0) == n  # cap: keep everything
        else:
            sd = math.sqrt(want * max(1 - want / n, 0.01))
            assert abs(got.get(d, 0) - want) <= max(5 * sd, 8), (
                d, got.get(d, 0), want
            )
    # temperature flattens the mixture: mega's kept share < natural share
    assert got["mega"] / sum(got.values()) < sizes["mega"] / total
    # tail is over-represented vs natural share
    assert got["tail"] / sum(got.values()) > sizes["tail"] / total

    # partition invariance: same kept set under a different layout
    out2 = temperature_mixture_sample(
        docs.repartition(13, "doc_id"), domain_col="source"
    )
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in out2.collect()
    }


def test_bpe_pretokenizer_cross_engine_parity(spark):
    """The BPE pre-tokenizer regex must produce byte-identical token
    arrays in Spark (java.util.regex) and DuckDB (RE2) — the pattern is
    deliberately restricted to the intersection subset (the pii.py
    discipline). Adversarial inputs: contractions, digit/punct runs,
    interior multi-space runs (the documented divergence from GPT-2's
    lookahead form), tabs, unicode letters, empty string."""
    import duckdb
    from pyspark.sql import functions as F

    from distributed_crawler_spark.operators.textstats import BPE_PRETOKEN_RE

    samples = [
        "the quick brown fox",
        "don't stop, it's 42.5% done!",
        "hello   world\t tabs",
        "a1b2 c3—d4 naïve café",
        "",
        "  ",
        "...!!!",
        "x'll y've we're i'm you'd",
        "http://a.b/c?d=1&e=2",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["t"])
    got_spark = {
        r["t"]: list(r["r"])
        for r in df.select(
            "t", F.regexp_extract_all("t", F.lit(BPE_PRETOKEN_RE), 0).alias("r")
        ).collect()
    }
    con = duckdb.connect()
    for s in samples:
        got_duck = con.execute(
            "SELECT regexp_extract_all(?, ?)", [s, BPE_PRETOKEN_RE]
        ).fetchone()[0]
        assert got_spark[s] == got_duck, (s, got_spark[s], got_duck)
        # lossless: tokens concatenate back to the input
        assert "".join(got_duck) == s


def test_training_shard_writer_roundtrip(spark, sf_dir, tmp_path):
    """Deterministic global shuffle: the written shards contain every
    doc exactly once, positions are contiguous 1..n per shard, the
    assignment is partition-layout invariant, and shards are balanced
    (uniform hash, no mega-key skew by construction)."""
    from pyspark.sql import functions as F

    from distributed_crawler_spark.operators.textstats import (
        training_shard_assignment,
        write_training_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.count()
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=8)

    back = spark.read.parquet(out)
    assert back.count() == n
    assert back.select("doc_id").distinct().count() == n
    # contiguous 1..k positions inside every shard
    bad = (
        back.groupBy("shard")
        .agg(
            F.count("*").alias("k"),
            F.min("pos").alias("lo"),
            F.max("pos").alias("hi"),
            F.countDistinct("pos").alias("d"),
        )
        .filter(
            (F.col("lo") != 1) | (F.col("hi") != F.col("k")) | (F.col("d") != F.col("k"))
        )
        .count()
    )
    assert bad == 0
    sizes = [r["k"] for r in back.groupBy("shard").agg(F.count("*").alias("k")).collect()]
    assert len(sizes) == 8
    # binomial balance: no shard more than 2x the mean at n>=500
    assert max(sizes) <= 2 * (n / 8)

    # layout invariance of the plan itself
    a = {tuple(r) for r in training_shard_assignment(docs.select("doc_id"), 8).collect()}
    b = {
        tuple(r)
        for r in training_shard_assignment(
            docs.select("doc_id").repartition(13), 8
        ).collect()
    }
    assert a == b
    # and the written rows agree with the plan
    got = {(r["doc_id"], r["shard"], r["pos"]) for r in back.select("doc_id", "shard", "pos").collect()}
    assert got == a


def test_sequence_packing_layout_invariance_and_contiguity(spark):
    """The distributed prefix sum must (a) be identical under any input
    partitioning AND any range-partition count, (b) tile the token
    stream exactly: ordered by tok_pos, each doc starts where the
    previous ended, starting at 0."""
    from distributed_crawler_spark.operators.textstats import sequence_packing

    rows = [(i, " ".join(f"w{i}_{j}" for j in range((i * 13) % 37 + 1)))
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    a = sequence_packing(docs.repartition(1), seq_len=64).collect()
    b = sequence_packing(docs.repartition(17, "doc_id"), seq_len=64,
                         order_partitions=5).collect()
    key = lambda r: (r["doc_id"],)
    assert sorted(map(tuple, a), key=lambda t: t[0]) == sorted(map(tuple, b), key=lambda t: t[0])

    ordered = sorted(a, key=lambda r: r["tok_pos"])
    pos = 0
    for r in ordered:
        assert r["tok_pos"] == pos
        assert r["seq_id"] == pos // 64 and r["seq_offset"] == pos % 64
        pos += r["n_tokens"]
    assert pos == sum((i * 13) % 37 + 1 for i in range(300))
