import pytest
from pyspark.sql import functions as F

from langchain_memvid_spark.multimodal import binary as mm
from langchain_memvid_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return mm.synthesize_media(docs).cache()


def test_media_schema(media):
    assert media.schema.simpleString() == mm.MEDIA_SCHEMA.simpleString().replace(
        "n_frames:int", "n_frames:int"
    )
    assert media.count() == 500


def test_extract_features_deterministic(media):
    f1 = mm.extract_features(media).orderBy("media_id").limit(3).collect()
    f2 = mm.extract_features(media).orderBy("media_id").limit(3).collect()
    assert [r["features"] for r in f1] == [r["features"] for r in f2]
    assert all(len(r["features"]) == mm.FEATURE_DIM for r in f1)
    assert all(r["content_bytes"] == 32 for r in f1)  # sha256 blob


def test_real_decoder_rejects_non_media_blobs(media):
    # synthesize_media blobs are raw sha256 bytes, not PNG/WAV — the
    # real parser must refuse them rather than invent fields
    with pytest.raises(Exception) as ei:
        mm.extract_features(media, decoder="real").collect()
    assert "magic" in str(ei.value) or "RIFF" in str(ei.value)


def test_png_roundtrip_and_corruption():
    pixels = bytes(range(256)) * 2
    blob = mm.encode_png(32, 16, pixels)
    info = mm.parse_png_info(blob)
    assert info == {"width": 32, "height": 16, "bit_depth": 8, "color_type": 0}
    assert len(blob) == 57 + 16 * 33 + 11  # zlib level-0 closed form
    # flip a pixel byte -> CRC check must catch it
    bad = bytearray(blob)
    bad[60] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.parse_png_info(bytes(bad))


def test_wav_roundtrip():
    samples = bytes(400)  # 100 stereo 16-bit frames
    blob = mm.encode_wav(16000, 2, samples)
    info = mm.parse_wav_info(blob)
    assert info == {
        "n_channels": 2,
        "sample_rate": 16000,
        "bits_per_sample": 16,
        "n_samples": 100,
    }
    assert len(blob) == 44 + 400


def test_real_media_decode_end_to_end(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    real = mm.synthesize_real_media(docs)
    decoded = {r["media_id"]: r for r in mm.decode_media_info(real).collect()}
    assert len(decoded) == 500
    r0, r1 = decoded[0], decoded[1]
    assert r0["media_type"] == "image" and r0["width"] == 16 and r0["height"] == 8
    assert r1["media_type"] == "audio" and r1["sample_rate"] == 9000 and r1["n_channels"] == 2
    # real features run without error and carry header info up front
    feats = mm.extract_features(real, decoder="real").orderBy("media_id").limit(2).collect()
    assert feats[0]["features"][0] == 16.0  # width
    assert feats[1]["features"][2] == 9.0  # sample_rate/1000


def test_avi_roundtrip_and_validation():
    frames = [mm.encode_png(20, 10, mm._stretch_bytes(b"f%d" % i, 200)) for i in range(3)]
    blob = mm.encode_avi(20, 10, frames, fps=7)
    info = mm.parse_avi_info(blob)
    png = 68 + 10 * 21
    assert info == {
        "width": 20, "height": 10, "n_frames": 3, "fps": 7,
        "frame_bytes": 3 * png, "first_frame_bytes": png,
    }
    assert len(blob) == 232 + 3 * (8 + png + png % 2) + 16 * 3
    # declared/actual frame-count mismatch must be caught: zero out the
    # avih total-frames field (offset: RIFF 12 + LIST hdr 12 + 'avih'+size 8
    # + 16 bytes into avih payload)
    bad = bytearray(blob)
    bad[12 + 12 + 8 + 16 : 12 + 12 + 8 + 20] = b"\x63\x00\x00\x00"
    with pytest.raises(ValueError, match="frames"):
        mm.parse_avi_info(bytes(bad))


def test_video_decode_end_to_end(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    vids = mm.synthesize_video_media(docs)
    decoded = {r["media_id"]: r for r in mm.decode_video_info(vids).collect()}
    assert len(decoded) == 500
    for mid in (0, 1, 7):
        r = decoded[mid]
        assert r["width"] == 16 + mid % 8 and r["height"] == 8 + mid % 5
        assert r["n_frames"] == 1 + mid % 4 and r["fps"] == 5 + mid % 10
    # per-frame extraction re-parses every PNG frame
    frames = mm.extract_video_frames(vids.filter(F.col("media_id") < 8))
    rows = frames.orderBy("media_id", "frame_no").collect()
    assert len(rows) == sum(1 + m % 4 for m in range(8))
    for r in rows:
        assert r["frame_width"] == 16 + r["media_id"] % 8
        assert r["frame_height"] == 8 + r["media_id"] % 5


def test_resize_changes_dims(media):
    out = mm.resize_images(media, 32, 24)
    row = out.limit(1).collect()[0]
    assert row["width"] == 32 and row["height"] == 24


def test_real_resize_resamples_pixels(spark, sf_dir):
    """decoder='real' must produce spec-valid PNGs of the target dims
    whose pixels are a nearest-neighbor sample of the source."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    media = mm.synthesize_real_media(docs)
    originals = {
        r["media_id"]: bytes(r["content"])
        for r in media.filter(F.col("media_type") == "image").collect()
    }
    resized = mm.resize_images(media, 12, 10, decoder="real").collect()
    assert len(resized) == len(originals)
    for r in resized:
        w, h, pixels = mm.decode_png_pixels(bytes(r["content"]))
        assert (w, h) == (12, 10)
        # spot-check nearest-neighbor correspondence at (0,0)
        sw, sh, src = mm.decode_png_pixels(originals[r["media_id"]])
        assert pixels[0] == src[0]
    # pure-python resample sanity: 2x2 -> 4x4 repeats each pixel
    small = mm.encode_png(2, 2, bytes([10, 20, 30, 40]))
    up = mm.resize_png_nn(small, 4, 4)
    _, _, px = mm.decode_png_pixels(up)
    assert list(px) == [10, 10, 20, 20, 10, 10, 20, 20, 30, 30, 40, 40, 30, 30, 40, 40]


def test_sample_frames(spark, media):
    vids = media.withColumn("media_type", F.lit("video"))
    frames = mm.sample_frames(vids, every_nth=2)
    # n_frames = doc_id % 8 + 1; sampled = ceil(n/2) per media
    got = {r["media_id"]: r["n"] for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    for mid, n in list(got.items())[:20]:
        total = mid % 8 + 1
        assert n == (total + 1) // 2


def test_binaryfile_roundtrip_and_decode(spark, sf_dir, tmp_path):
    """Full media loop: encode real PNG/WAV files to disk, re-ingest
    through the binaryFile source, and header-decode the bytes."""
    from langchain_memvid_spark.sources.binary import read_media_dir, write_media_dir

    docs = load_table(spark, sf_dir, "documents").limit(20)
    real = mm.synthesize_real_media(docs)
    n = write_media_dir(real, str(tmp_path / "media"))
    assert n == 20

    back = read_media_dir(spark, str(tmp_path / "media"))
    assert back.count() == 20
    assert set(r["media_type"] for r in back.select("media_type").distinct().collect()) == {
        "image",
        "audio",
    }
    decoded = mm.decode_media_info(back).collect()
    assert len(decoded) == 20
    for r in decoded:
        if r["media_type"] == "image":
            assert r["width"] >= 16 and r["bit_depth"] == 8
        else:
            assert r["sample_rate"] >= 8000 and r["n_samples"] >= 100

    # glob filter prunes at the source
    only_png = read_media_dir(spark, str(tmp_path / "media"), glob="*.png")
    assert only_png.count() == 10


def test_video_info_dataclass_from_row(spark, sf_dir):
    """≙ reference test_video_info_dataclass (tests/test_vectorstore.py
    :500): the decode_video_info scan's rows bridge to the reference's
    VideoInfo return shape with derived duration and real size."""
    from langchain_memvid_spark.types import VideoInfo

    docs = load_table(spark, sf_dir, "documents")
    vids = mm.synthesize_video_media(docs.filter(F.col("doc_id") < 3))
    rows = mm.decode_video_info(vids).orderBy("media_id").collect()
    infos = [VideoInfo.from_row(r) for r in rows]
    for mid, (r, vi) in enumerate(zip(rows, infos)):
        assert vi.frame_count == r["n_frames"] == 1 + mid % 4
        assert vi.fps == float(r["fps"])
        assert vi.width == r["width"] and vi.height == r["height"]
        assert vi.duration_seconds == pytest.approx(vi.frame_count / vi.fps)
        assert vi.file_size_mb == pytest.approx(r["content_bytes"] / (1024 * 1024))


def test_sample_video_frames_stride_and_cap(spark, sf_dir):
    """sample_video_frames keeps exactly the stride (and honors
    max_frames), with every_n=1 identical to the full extraction."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 12)
    vids = mm.synthesize_video_media(docs)
    full = mm.extract_video_frames(vids).collect()
    sampled = mm.sample_video_frames(vids, every_n=2).collect()
    want = {(r["media_id"], r["frame_no"]) for r in full if r["frame_no"] % 2 == 0}
    assert {(r["media_id"], r["frame_no"]) for r in sampled} == want
    # sampled rows carry the same parsed headers as the full extraction
    by_key = {(r["media_id"], r["frame_no"]): r for r in full}
    for r in sampled:
        f = by_key[(r["media_id"], r["frame_no"])]
        assert (r["frame_bytes"], r["frame_width"], r["frame_height"]) == (
            f["frame_bytes"], f["frame_width"], f["frame_height"],
        )
    capped = mm.sample_video_frames(vids, every_n=1, max_frames=1).collect()
    assert len(capped) == 12  # one frame per video
    assert all(r["frame_no"] == 0 for r in capped)
    with pytest.raises(ValueError, match="every_n"):
        mm.sample_video_frames(vids, every_n=0)


def test_salvage_decode_quarantines_corrupt_rows(spark, sf_dir):
    """salvage=True isolates corrupt blobs into their own rows (error
    set, info NULL) while good rows decode byte-identically to the
    strict path — one bad file must never kill a 100 TB scan."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    media = mm.synthesize_real_media(docs)
    corrupted = mm.corrupt_media_prefix(media, 5)
    rows = {r["media_id"]: r for r in mm.decode_media_info(corrupted, salvage=True).collect()}
    strict = {r["media_id"]: r for r in mm.decode_media_info(media).collect()}
    assert len(rows) == 40
    info_cols = [
        "width", "height", "bit_depth", "color_type",
        "sample_rate", "n_channels", "bits_per_sample", "n_samples",
    ]
    for mid, r in rows.items():
        if mid % 5 == 0:
            want = "not a PNG: bad magic" if mid % 2 == 0 else "not a WAV: bad RIFF header"
            assert r["error"] == want
            assert all(r[c] is None for c in info_cols)
            assert r["content_bytes"] == strict[mid]["content_bytes"]  # length preserved
        else:
            assert r["error"] is None
            assert all(r[c] == strict[mid][c] for c in info_cols)
    # the strict path fails loudly on the same input
    with pytest.raises(Exception, match="bad magic|bad RIFF"):
        mm.decode_media_info(corrupted).collect()


def test_salvage_decode_handles_truncation(spark, sf_dir):
    """Truncated blobs (the other common scrape corruption) also
    quarantine rather than crash — whatever the parser raises."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    media = mm.synthesize_real_media(docs)
    truncated = media.withColumn(
        "content",
        F.when(
            F.col("media_id") % 3 == 0, F.expr("substring(content, 1, 20)")
        ).otherwise(F.col("content")),
    )
    rows = mm.decode_media_info(truncated, salvage=True).collect()
    assert all((r["error"] is not None) == (r["media_id"] % 3 == 0) for r in rows)


def test_salvage_video_decode(spark, sf_dir):
    """decode_video_info(salvage=True): corrupt containers quarantine,
    good ones parse identically to the strict path."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    vids = mm.synthesize_video_media(docs)
    corrupted = mm.corrupt_media_prefix(vids, 4)
    rows = {r["media_id"]: r for r in mm.decode_video_info(corrupted, salvage=True).collect()}
    strict = {r["media_id"]: r for r in mm.decode_video_info(vids).collect()}
    keys = ["width", "height", "n_frames", "fps", "frame_bytes", "first_frame_bytes"]
    for mid, r in rows.items():
        if mid % 4 == 0:
            assert r["error"] == "not an AVI: bad RIFF header"
            assert all(r[k] is None for k in keys)
        else:
            assert r["error"] is None
            assert all(r[k] == strict[mid][k] for k in keys)
    with pytest.raises(Exception, match="bad RIFF"):
        mm.decode_video_info(corrupted).collect()


def test_salvage_feature_extraction(spark, sf_dir):
    """extract_features(decoder='real', salvage=True): corrupt blobs get
    features=NULL + error; good blobs match the strict path exactly."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    media = mm.synthesize_real_media(docs)
    corrupted = mm.corrupt_media_prefix(media, 5)
    rows = {r["media_id"]: r for r in
            mm.extract_features(corrupted, decoder="real", salvage=True).collect()}
    strict = {r["media_id"]: r for r in
              mm.extract_features(media, decoder="real").collect()}
    for mid, r in rows.items():
        if mid % 5 == 0:
            assert r["features"] is None and r["error"] is not None
        else:
            assert r["error"] is None and r["features"] == strict[mid]["features"]
    with pytest.raises(Exception, match="bad magic|bad RIFF|not a"):
        mm.extract_features(corrupted, decoder="real").collect()


def test_dhash_shifted_duplicate_pairs_distinct_does_not(spark):
    """The VERDICT-prescribed pin: a 1-px-shifted duplicate of a SMOOTH
    image must pair with its original (dHash is difference-based, so
    gradients survive small shifts), and a structurally distinct image
    must not pair with either."""
    w, h = 32, 16
    ramp = bytes(bytearray((8 * c) % 256 for _ in range(h) for c in range(w)))
    # 1-px horizontal shift of the same ramp
    shifted = bytes(bytearray((8 * ((c + 1) % w)) % 256 for _ in range(h) for c in range(w)))
    # reversed ramp: every horizontal difference flips sign
    rev = bytes(bytearray((8 * (w - 1 - c)) % 256 for _ in range(h) for c in range(w)))
    rows = [
        (0, "image", mm.encode_png(w, h, ramp)),
        (1, "image", mm.encode_png(w, h, shifted)),
        (2, "image", mm.encode_png(w, h, rev)),
    ]
    media = spark.createDataFrame(rows, "media_id long, media_type string, content binary")
    pairs = {(r["a_id"], r["b_id"]) for r in mm.image_near_dup_pairs(media, max_hamming=3).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_image_near_dup_variant_fixture_exact_pairs(spark, sf_dir):
    """synthesize_image_corpus's engineered variant set IS the near-dup
    truth: exactly {(d, d+OFFSET) : d % 7 == 0}, nothing else — both a
    missed variant and a spurious pair would show here."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    media = mm.synthesize_image_corpus(docs, variant_every=7)
    got = {(r["a_id"], r["b_id"]) for r in mm.image_near_dup_pairs(media).collect()}
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = {(d, d + mm.VARIANT_ID_OFFSET) for d in ids if d % 7 == 0}
    assert got == want
    # every variant is within hamming 2 of its base (the 1-flipped-pixel
    # bound the fixture docstring claims)
    ham = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in mm.image_near_dup_pairs(media).collect()
    }
    assert all(v <= 2 for v in ham.values())


def test_video_near_dup_fixture_exact_pairs_and_depth(spark, sf_dir):
    """synthesize_video_corpus's engineered variant set IS the video
    near-dup truth: exactly {(d, d+OFFSET) : d % 7 == 0} at full frame
    depth (n_frames = 1 + d%4), nothing else — a missed temporal
    alignment, a partial-depth match, or a spurious pair all show."""
    docs = load_table(spark, sf_dir, "documents").limit(150)
    media = mm.synthesize_video_corpus(docs, variant_every=7)
    rows = mm.video_near_dup_pairs(media, max_hamming=3).collect()
    got = {(r["a_id"], r["b_id"]): r["n_frames"] for r in rows}
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = {
        (d, d + mm.VARIANT_ID_OFFSET): 1 + d % 4 for d in ids if d % 7 == 0
    }
    assert got == want
    # the per-frame 1-flipped-pixel bound holds at every temporal position
    assert all(r["max_hamming_seen"] <= 2 for r in rows)


def test_video_near_dup_rejects_partial_depth_and_truncation(spark):
    """A clip sharing SOME frames with a longer video must not pair
    (equal-total-frame-count + full-depth requirements), and a video
    whose LAST frame diverges beyond the hamming bound must not pair
    even though every earlier frame matches exactly."""
    w, h = 16, 8
    base = [mm._stretch_bytes(b"frame" + bytes([i]), w * h) for i in range(4)]
    full = mm.encode_avi(w, h, [mm.encode_png(w, h, p) for p in base], 10)
    clip = mm.encode_avi(w, h, [mm.encode_png(w, h, p) for p in base[:2]], 10)
    # same count, last frame structurally different (reversed bytes)
    diverged = mm.encode_avi(
        w, h,
        [mm.encode_png(w, h, p) for p in base[:3]]
        + [mm.encode_png(w, h, bytes(reversed(base[3])))],
        10,
    )
    exact_dup = mm.encode_avi(w, h, [mm.encode_png(w, h, p) for p in base], 10)
    media = spark.createDataFrame(
        [(0, "video", full), (1, "video", clip), (2, "video", diverged), (3, "video", exact_dup)],
        "media_id long, media_type string, content binary",
    )
    pairs = {
        (r["a_id"], r["b_id"])
        for r in mm.video_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert pairs == {(0, 3)}


def test_dhash_video_frames_strided_signing(spark):
    """every_n=2 signs only even frame_nos but still reports the TRUE
    total frame count on every row (the verify depth at stride)."""
    w, h = 16, 8
    frames = [mm.encode_png(w, h, mm._stretch_bytes(bytes([i]), w * h)) for i in range(4)]
    media = spark.createDataFrame(
        [(7, "video", mm.encode_avi(w, h, frames, 10))],
        "media_id long, media_type string, content binary",
    )
    rows = mm.dhash_video_frames(media, every_n=2).collect()
    assert sorted(r["frame_no"] for r in rows) == [0, 2]
    assert all(r["n_frames"] == 4 for r in rows)


def test_audio_near_dup_fixture_exact_pairs(spark, sf_dir):
    """synthesize_audio_corpus's engineered variant set IS the audio
    near-dup truth: exactly {(d, d+OFFSET) : d % 7 == 0}, nothing else;
    every variant within the fixture's 1-bit perturbation bound."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    media = mm.synthesize_audio_corpus(docs, variant_every=7)
    rows = mm.audio_near_dup_pairs(media).collect()
    got = {(r["a_id"], r["b_id"]) for r in rows}
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = {(d, d + mm.VARIANT_ID_OFFSET) for d in ids if d % 7 == 0}
    assert got == want
    assert all(r["hamming"] <= 1 for r in rows)


def test_envelope_hash_louder_quieter_and_duration_invariance(spark):
    """The envelope hash must pair a re-sampled (different-length) copy
    of the same loudness CONTOUR (windows scale with duration) and must
    not pair a reversed contour (every comparison flips)."""
    import numpy as np

    def tone(n, contour):
        # 16-bit samples whose |amplitude| follows the contour
        idx = (np.arange(n) * len(contour)) // n
        amp = np.array(contour, dtype=np.float64)[idx]
        return (amp * 8000).astype("<i2").tobytes()

    contour = [(i * 37) % 13 + 1 for i in range(130)]
    a = mm.encode_wav(8000, 1, tone(1300, contour))
    b = mm.encode_wav(8000, 1, tone(2600, contour))      # same contour, 2x length
    c = mm.encode_wav(8000, 1, tone(1300, contour[::-1]))  # reversed
    media = spark.createDataFrame(
        [(0, "audio", a), (1, "audio", b), (2, "audio", c)],
        "media_id long, media_type string, content binary",
    )
    pairs = {
        (r["a_id"], r["b_id"])
        for r in mm.audio_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_envelope_hash_amplitude_scale_invariant():
    """Loudness (positive gain) must not change the envelope hash —
    e[i] > e[i+1] is invariant under positive scaling, so the same
    recording at different volumes dedups exactly (no Spark needed:
    pure codec + hash)."""
    import numpy as np

    rng = [(i * 73) % 29 - 14 for i in range(400)]
    base = np.array(rng, dtype=np.int16)
    quiet = mm.encode_wav(8000, 1, base.astype("<i2").tobytes())
    loud = mm.encode_wav(8000, 1, (base * 3).astype("<i2").tobytes())
    assert mm.envelope_hash_wav(quiet) == mm.envelope_hash_wav(loud)


def test_envelope_hash_stereo_downmix_and_short_clip():
    """A stereo clip whose channels both equal the mono signal must
    hash identically to the mono file (channel averaging), and a clip
    shorter than the window count must still hash (nearest-sample
    fallback) without raising."""
    import numpy as np

    base = np.array([(i * 31) % 200 - 100 for i in range(300)], dtype=np.int16)
    mono = mm.encode_wav(8000, 1, base.astype("<i2").tobytes())
    stereo = mm.encode_wav(
        8000, 2, np.column_stack([base, base]).astype("<i2").tobytes()
    )
    assert mm.envelope_hash_wav(mono) == mm.envelope_hash_wav(stereo)
    short = mm.encode_wav(8000, 1, base[:20].astype("<i2").tobytes())
    assert isinstance(mm.envelope_hash_wav(short), int)


def test_incremental_image_near_dup_semantics_and_plan(spark, sf_dir):
    """Variants are flagged dup-of their base, novels are novel, every
    batch row gets a verdict; the bounded batch keeps the corpus side
    unshuffled (no SortMergeJoin); the SMJ fallback and the
    corpus_media path agree with the corpus_sig path."""
    docs = load_table(spark, sf_dir, "documents").limit(120)
    corpus = mm.synthesize_image_corpus(docs, variant_every=None)
    batch = mm.synthesize_image_batch(docs, variant_every=7, novel_remainder=3)
    df = mm.incremental_image_near_dup(batch, corpus_sig=mm.dhash_images(corpus))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    rows = {r["media_id"]: r for r in df.collect()}
    assert len(rows) == batch.count()
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    for d in ids:
        if d % 7 == 0:
            r = rows[d + mm.VARIANT_ID_OFFSET]
            assert r["is_dup"] and r["dup_of"] == d
        if d % 7 == 3:
            r = rows[d + 2 * mm.VARIANT_ID_OFFSET]
            assert not r["is_dup"] and r["dup_of"] is None
    # corpus_media path and forced-SMJ fallback agree
    base = sorted(map(tuple, df.collect()))
    via_media = sorted(
        map(tuple, mm.incremental_image_near_dup(batch, corpus).collect())
    )
    forced = sorted(
        map(
            tuple,
            mm.incremental_image_near_dup(
                batch, corpus_sig=mm.dhash_images(corpus), n_new=10**9
            ).collect(),
        )
    )
    assert via_media == base and forced == base
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        mm.incremental_image_near_dup(batch)


def test_near_dup_signers_salvage_corrupt_blobs(spark):
    """One corrupt blob in a dedup scan must drop (salvage=True) or
    raise (strict), never emit a bogus signature — for all three
    modality signers and the pair pipelines above them."""
    import pytest as _pytest

    w, h = 16, 8
    png = mm.encode_png(w, h, mm._stretch_bytes(b"img", w * h))
    wav = mm.encode_wav(8000, 1, mm._stretch_bytes(b"aud", 300 * 2))
    avi = mm.encode_avi(w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"v", w * h))], 10)
    junk = b"\x00" * 64
    imgs = spark.createDataFrame(
        [(0, "image", png), (1, "image", png), (2, "image", junk)],
        "media_id long, media_type string, content binary",
    )
    auds = spark.createDataFrame(
        [(0, "audio", wav), (1, "audio", wav), (2, "audio", junk)],
        "media_id long, media_type string, content binary",
    )
    vids = spark.createDataFrame(
        [(0, "video", avi), (1, "video", avi), (2, "video", junk)],
        "media_id long, media_type string, content binary",
    )
    assert sorted(
        r["media_id"] for r in mm.dhash_images(imgs, salvage=True).collect()
    ) == [0, 1]
    assert sorted(
        r["media_id"] for r in mm.envelope_hash_audio(auds, salvage=True).collect()
    ) == [0, 1]
    assert sorted(
        r["media_id"] for r in mm.dhash_video_frames(vids, salvage=True).collect()
    ) == [0, 1]
    for df, fn in ((imgs, mm.dhash_images), (auds, mm.envelope_hash_audio),
                   (vids, mm.dhash_video_frames)):
        with _pytest.raises(Exception):
            fn(df).collect()
    # the pair pipelines still find the intact exact-dup pair
    assert {(r["a_id"], r["b_id"]) for r in
            mm.image_near_dup_pairs(imgs, salvage=True).collect()} == {(0, 1)}
    assert {(r["a_id"], r["b_id"]) for r in
            mm.audio_near_dup_pairs(auds, salvage=True).collect()} == {(0, 1)}
    assert {(r["a_id"], r["b_id"]) for r in
            mm.video_near_dup_pairs(vids, salvage=True).collect()} == {(0, 1)}


def test_media_pair_megacluster_collapses_before_banding(spark):
    """VERDICT r8 item 2: a megacluster of IDENTICAL media (the
    scraped-logo reality) must collapse to ONE distinct signature
    before the band join — the rep-grain kernel sees 3 signatures, not
    10k band rows — and the pair listing stays exact on a smaller
    cluster (within-group pairs at hamming 0 + cross pairs)."""
    from pyspark.sql import functions as F

    w, h = 16, 8
    base_px = bytearray(mm._stretch_bytes(b"logo", w * h))
    png = mm.encode_png(w, h, bytes(base_px))
    var_px = bytearray(base_px)
    var_px[0] ^= 0x80  # near-dup of the logo (≤2 dHash bits)
    png_var = mm.encode_png(w, h, bytes(var_px))
    png_other = mm.encode_png(w, h, mm._stretch_bytes(b"unrelated", w * h))

    # 10k identical copies + 1 variant + 1 unrelated — rep grain only
    mega = (
        spark.range(10_000)
        .select(
            F.col("id").alias("media_id"),
            F.lit("image").alias("media_type"),
            F.lit(bytes(png)).alias("content"),
        )
        .unionByName(
            spark.createDataFrame(
                [(20_000, "image", png_var), (20_001, "image", png_other)],
                "media_id long, media_type string, content binary",
            )
        )
    )
    sig = mm.dhash_images(mega)
    groups = mm._collapse_signature_groups(sig, ["dhash"])
    grows = {r["rep_id"]: r["n_members"] for r in groups.collect()}
    # identical copies share one dhash; the variant MAY collide with it
    # (a 1-pixel flip can leave all 64 bits unchanged) — unrelated is
    # distinct with overwhelming probability
    assert grows[0] >= 10_000 and len(grows) in (2, 3)
    rep_pairs = mm._rep_hamming_pairs(
        groups, ["dhash"], max_hamming=3, n_media=10_002, band_bits=16,
        max_bucket=mm._MEDIA_BUCKET_CAP,
    ).collect()
    # rep grain is LINEAR: at most a handful of rows, each carrying the
    # member counts instead of the quadratic member-pair listing
    assert len(rep_pairs) <= 2
    if len(grows) == 3:  # variant hashed distinct → one rep pair
        pair = {(r["a_id"], r["b_id"]): (r["a_members"], r["b_members"])
                for r in rep_pairs}
        assert pair[(0, 20_000)] == (10_000, 1)

    # the full pair LISTING stays exact on a 40-copy cluster
    small = (
        spark.range(40)
        .select(
            F.col("id").alias("media_id"),
            F.lit("image").alias("media_type"),
            F.lit(bytes(png)).alias("content"),
        )
        .unionByName(
            spark.createDataFrame(
                [(100, "image", png_other)],
                "media_id long, media_type string, content binary",
            )
        )
    )
    pairs = mm.image_near_dup_pairs(small, max_hamming=3).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    want = {(a, b) for a in range(40) for b in range(40) if a < b}
    assert got == want
    assert all(r["hamming"] == 0 for r in pairs)


def test_drop_hot_buckets_caps_band_df(spark):
    """The media band join's df-cap: a (band, val) bucket shared by
    more than max_bucket distinct signatures is dropped; rare buckets
    survive; below the gate (n_rows ≤ max_bucket) nothing is touched."""
    from pyspark.sql import functions as F

    rows = [(i, 0, 7) for i in range(6)] + [(10, 1, 3), (11, 1, 3)]
    bands = spark.createDataFrame(rows, "rep_id long, band int, val long")
    capped = mm._drop_hot_buckets(bands, n_rows=8, max_bucket=5)
    kept = {(r["band"], r["val"]) for r in capped.collect()}
    assert kept == {(1, 3)}  # the 6-sig bucket is gone, the 2-sig stays
    untouched = mm._drop_hot_buckets(bands, n_rows=5, max_bucket=5)
    assert untouched is bands  # provably-cannot-bind gate: no extra pass


def test_wide_hash_verdicts_agree_with_64bit(spark, sf_dir):
    """VERDICT r8 item 5: the 256-bit wide hashes (4 longs, one 64-bit
    band each) must produce the SAME verdicts as the 64-bit defaults
    on the engineered-variant fixtures — image pairs (≥17×16 images so
    the 1-pixel flip stays ≤2 bits on the 16×17 grid) and audio pairs
    — and the wide signer emits the documented 4-long schema."""
    docs = load_table(spark, sf_dir, "documents").limit(120)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = {(d, d + mm.VARIANT_ID_OFFSET) for d in ids if d % 7 == 0}

    media = mm.synthesize_image_corpus(docs, variant_every=7, base_w=17, base_h=16)
    sig_wide = mm.dhash_images(media, hash_bits=256)
    assert sig_wide.columns == ["media_id", "dhash0", "dhash1", "dhash2", "dhash3"]
    p64 = {(r["a_id"], r["b_id"])
           for r in mm.image_near_dup_pairs(media, max_hamming=3).collect()}
    p256 = {(r["a_id"], r["b_id"])
            for r in mm.image_near_dup_pairs(media, max_hamming=3, hash_bits=256).collect()}
    assert p64 == want and p256 == want

    auds = mm.synthesize_audio_corpus(docs, variant_every=7)
    a64 = {(r["a_id"], r["b_id"])
           for r in mm.audio_near_dup_pairs(auds, max_hamming=3).collect()}
    a256 = {(r["a_id"], r["b_id"])
            for r in mm.audio_near_dup_pairs(auds, max_hamming=3, hash_bits=256).collect()}
    assert a64 == want and a256 == want


def test_wide_hash_video_and_incremental(spark):
    """The wide hash threads through the video signer and the
    incremental kernel: byte-identical videos pair at hamming 0 under
    hash_bits=256, and an incremental image batch gets the same
    verdicts at both widths."""
    w, h = 17, 16
    frames = [mm.encode_png(w, h, mm._stretch_bytes(b"wv" + bytes([i]), w * h))
              for i in range(3)]
    avi = mm.encode_avi(w, h, frames, 10)
    avi_other = mm.encode_avi(
        w, h,
        [mm.encode_png(w, h, mm._stretch_bytes(b"zz" + bytes([i]), w * h))
         for i in range(3)],
        10,
    )
    vids = spark.createDataFrame(
        [(0, "video", avi), (1, "video", avi), (2, "video", avi_other)],
        "media_id long, media_type string, content binary",
    )
    got = {(r["a_id"], r["b_id"]): r["max_hamming_seen"]
           for r in mm.video_near_dup_pairs(vids, hash_bits=256).collect()}
    assert got == {(0, 1): 0}

    png = mm.encode_png(w, h, mm._stretch_bytes(b"base", w * h))
    png_new = mm.encode_png(w, h, mm._stretch_bytes(b"new", w * h))
    corpus = spark.createDataFrame(
        [(0, "image", png)], "media_id long, media_type string, content binary"
    )
    batch = spark.createDataFrame(
        [(10, "image", png), (11, "image", png_new)],
        "media_id long, media_type string, content binary",
    )
    for bits in (64, 256):
        rows = {r["media_id"]: r for r in mm.incremental_image_near_dup(
            batch, corpus, hash_bits=bits).collect()}
        assert rows[10]["is_dup"] and rows[10]["dup_of"] == 0
        assert not rows[11]["is_dup"]


def test_media_signature_store_lifecycle(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r8 item 3: the persisted signature table's lifecycle —
    appends accumulate, NO append ever re-signs prior media (the
    signer sees exactly the new batch's rows; batch-1 files are
    byte-untouched by append 2), dedup_batch verdicts against the
    accumulated table match the in-plan corpus_sig path, compact()
    consolidates files without changing the table, and a config
    mismatch on an existing table raises."""
    import os

    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal import sigstore as ss

    docs = load_table(spark, sf_dir, "documents").limit(90)
    path = str(tmp_path / "sigs")
    store = ss.MediaSignatureStore(spark, path, "image")

    signed_batches = []
    real = mm.dhash_images

    def counting_signer(media, **kw):
        df = real(media, **kw)
        signed_batches.append({r["media_id"] for r in df.collect()})
        return df

    monkeypatch.setitem(ss._SIGNERS, "image", ("dhash", counting_signer))
    store = ss.MediaSignatureStore(spark, path, "image")

    part1 = mm.synthesize_image_corpus(
        docs.filter(F.col("doc_id") % 3 < 2), variant_every=None
    )
    part2 = mm.synthesize_image_corpus(
        docs.filter(F.col("doc_id") % 3 == 2), variant_every=None
    )
    n1 = store.sign_and_append(part1)
    files_after_1 = {
        f: os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    }
    n2 = store.sign_and_append(part2)
    assert store.count() == n1 + n2 == docs.count()
    # append 2 signed EXACTLY part2's media — prior media never re-signed
    assert signed_batches[-1] == {
        r["doc_id"] for r in docs.filter(F.col("doc_id") % 3 == 2).collect()
    }
    # batch-1 parquet files are untouched by append 2
    files_after_2 = {
        f: os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    }
    assert set(files_after_1) <= set(files_after_2)
    assert all(files_after_2[f] == s for f, s in files_after_1.items())

    # verdicts against the persisted table == the in-plan corpus_sig path
    batch = mm.synthesize_image_batch(docs, variant_every=7, novel_remainder=3)
    got = sorted(map(tuple, store.dedup_batch(batch).collect()))
    corpus = mm.synthesize_image_corpus(docs, variant_every=None)
    want = sorted(map(tuple, mm.incremental_image_near_dup(
        batch, corpus_sig=real(corpus)).collect()))
    assert got == want

    # compact: fewer files, same table
    before = store.parquet_file_count()
    assert before >= 2
    store.compact()
    assert store.parquet_file_count() < before
    assert store.count() == n1 + n2

    # config drift refuses
    import pytest as _pytest

    with _pytest.raises(ConfigError, match="refusing to mix"):
        ss.MediaSignatureStore(spark, path, "image", hash_bits=256)
    with _pytest.raises(ConfigError, match="modality"):
        ss.MediaSignatureStore(spark, path, "text")


def test_media_signature_store_audio_video_dispatch(spark, tmp_path):
    """dedup_batch dispatches per modality: audio verdicts via the
    envelope kernel, video via the frame-aligned kernel (every_n
    honored from the store config)."""
    from langchain_memvid_spark.multimodal import sigstore as ss

    w, h = 16, 8
    wav = mm.encode_wav(8000, 1, mm._stretch_bytes(b"a", 300 * 2))
    wav_new = mm.encode_wav(8000, 1, mm._stretch_bytes(b"b", 300 * 2))
    astore = ss.MediaSignatureStore(spark, str(tmp_path / "a"), "audio")
    astore.sign_and_append(spark.createDataFrame(
        [(0, "audio", wav)], "media_id long, media_type string, content binary"))
    arows = {r["media_id"]: r for r in astore.dedup_batch(spark.createDataFrame(
        [(10, "audio", wav), (11, "audio", wav_new)],
        "media_id long, media_type string, content binary")).collect()}
    assert arows[10]["is_dup"] and arows[10]["dup_of"] == 0
    assert not arows[11]["is_dup"]

    avi = mm.encode_avi(w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"v", w * h))], 10)
    avi_new = mm.encode_avi(w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"y", w * h))], 10)
    vstore = ss.MediaSignatureStore(spark, str(tmp_path / "v"), "video")
    vstore.sign_and_append(spark.createDataFrame(
        [(0, "video", avi)], "media_id long, media_type string, content binary"))
    vrows = {r["media_id"]: r for r in vstore.dedup_batch(spark.createDataFrame(
        [(10, "video", avi), (11, "video", avi_new)],
        "media_id long, media_type string, content binary")).collect()}
    assert vrows[10]["is_dup"] and vrows[10]["dup_of"] == 0
    assert not vrows[11]["is_dup"]


def test_exact_dup_groups_all_modalities(spark):
    """The cluster-form groups operators on all three modalities:
    byte-identical copies group to (rep, n); singletons absent."""
    w, h = 16, 8
    png = mm.encode_png(w, h, mm._stretch_bytes(b"i", w * h))
    png2 = mm.encode_png(w, h, mm._stretch_bytes(b"j", w * h))
    wav = mm.encode_wav(8000, 1, mm._stretch_bytes(b"a", 300 * 2))
    wav2 = mm.encode_wav(8000, 1, mm._stretch_bytes(b"b", 300 * 2))
    avi = mm.encode_avi(w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"v", w * h))], 10)
    avi2 = mm.encode_avi(w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"y", w * h))], 10)
    for mtype, blob, other, fn in (
        ("image", png, png2, mm.image_exact_dup_groups),
        ("audio", wav, wav2, mm.audio_exact_dup_groups),
        ("video", avi, avi2, mm.video_exact_dup_groups),
    ):
        media = spark.createDataFrame(
            [(0, mtype, blob), (1, mtype, blob), (2, mtype, blob), (9, mtype, other)],
            "media_id long, media_type string, content binary",
        )
        got = {(r["rep_id"], r["n_members"]) for r in fn(media).collect()}
        assert got == {(0, 3)}, mtype


def test_incremental_dedup_salvage_flags_undecodable(spark):
    """In salvage mode an undecodable batch blob must be marked
    decoded=False — distinguishable from a verified-novel keeper
    (ADVICE r8: a corrupt scrape batch must not silently pass the
    ingest gate as is_dup=false) — for all three modalities."""
    w, h = 16, 8
    png = mm.encode_png(w, h, mm._stretch_bytes(b"img", w * h))
    png2 = mm.encode_png(w, h, mm._stretch_bytes(b"other", w * h))
    wav = mm.encode_wav(8000, 1, mm._stretch_bytes(b"aud", 300 * 2))
    wav2 = mm.encode_wav(8000, 1, mm._stretch_bytes(b"aud2", 300 * 2))
    avi = mm.encode_avi(w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"v", w * h))], 10)
    avi2 = mm.encode_avi(w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"v2", w * h))], 10)
    junk = b"\x00" * 64
    for mtype, corpus_blob, dup_blob, novel_blob, signer, fn in (
        ("image", png, png, png2, mm.dhash_images, mm.incremental_image_near_dup),
        ("audio", wav, wav, wav2, mm.envelope_hash_audio, mm.incremental_audio_near_dup),
        ("video", avi, avi, avi2, mm.dhash_video_frames, mm.incremental_video_near_dup),
    ):
        corpus = spark.createDataFrame(
            [(0, mtype, corpus_blob)],
            "media_id long, media_type string, content binary",
        )
        batch = spark.createDataFrame(
            [(10, mtype, dup_blob), (11, mtype, novel_blob), (12, mtype, junk)],
            "media_id long, media_type string, content binary",
        )
        rows = {
            r["media_id"]: r
            for r in fn(batch, corpus_sig=signer(corpus), salvage=True).collect()
        }
        assert rows[10]["is_dup"] and rows[10]["dup_of"] == 0 and rows[10]["decoded"]
        assert not rows[11]["is_dup"] and rows[11]["decoded"]
        assert not rows[12]["is_dup"] and rows[12]["dup_of"] is None
        assert not rows[12]["decoded"], mtype


def test_incremental_audio_near_dup_semantics_and_plan(spark, sf_dir):
    """The shared hamming kernel on the audio modality: variants dup-of
    their base, novels novel, batch-complete output, corpus side
    unshuffled (no SortMergeJoin)."""
    docs = load_table(spark, sf_dir, "documents").limit(120)
    corpus = mm.synthesize_audio_corpus(docs, variant_every=None)
    batch = mm.synthesize_audio_batch(docs, variant_every=7, novel_remainder=3)
    df = mm.incremental_audio_near_dup(
        batch, corpus_sig=mm.envelope_hash_audio(corpus)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    rows = {r["media_id"]: r for r in df.collect()}
    assert len(rows) == batch.count()
    for d in [r["doc_id"] for r in docs.select("doc_id").collect()]:
        if d % 7 == 0:
            r = rows[d + mm.VARIANT_ID_OFFSET]
            assert r["is_dup"] and r["dup_of"] == d
        if d % 7 == 3:
            r = rows[d + 2 * mm.VARIANT_ID_OFFSET]
            assert not r["is_dup"] and r["dup_of"] is None


def test_incremental_video_near_dup_semantics_depth_and_plan(spark, sf_dir):
    """Frame-aligned batch-vs-corpus verdicts: variants dup-of their
    base, novels novel, batch-complete output, no SortMergeJoin; a
    batch CLIP (frame-prefix of a corpus video) must be NOVEL (full
    depth + equal count), and a batch video whose last frame diverges
    must be novel too."""
    docs = load_table(spark, sf_dir, "documents").limit(120)
    corpus = mm.synthesize_video_corpus(docs, variant_every=None)
    batch = mm.synthesize_video_batch(docs, variant_every=7, novel_remainder=3)
    df = mm.incremental_video_near_dup(batch, corpus_sig=mm.dhash_video_frames(corpus))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    rows = {r["media_id"]: r for r in df.collect()}
    assert len(rows) == batch.count()
    for d in [r["doc_id"] for r in docs.select("doc_id").collect()]:
        if d % 7 == 0:
            r = rows[d + mm.VARIANT_ID_OFFSET]
            assert r["is_dup"] and r["dup_of"] == d
        if d % 7 == 3:
            r = rows[d + 2 * mm.VARIANT_ID_OFFSET]
            assert not r["is_dup"] and r["dup_of"] is None
    # clip-vs-source: prefix of corpus video 0's frames is NOT a dup
    w, h = 16, 8
    base = [mm._stretch_bytes(b"cv" + bytes([i]), w * h) for i in range(4)]
    corpus2 = spark.createDataFrame(
        [(0, "video", mm.encode_avi(w, h, [mm.encode_png(w, h, p) for p in base], 10))],
        "media_id long, media_type string, content binary",
    )
    clipbatch = spark.createDataFrame(
        [(100, "video", mm.encode_avi(w, h, [mm.encode_png(w, h, p) for p in base[:2]], 10)),
         (101, "video", mm.encode_avi(w, h, [mm.encode_png(w, h, p) for p in base], 10))],
        "media_id long, media_type string, content binary",
    )
    verdicts = {r["media_id"]: r for r in
                mm.incremental_video_near_dup(clipbatch, corpus2).collect()}
    assert not verdicts[100]["is_dup"]
    assert verdicts[101]["is_dup"] and verdicts[101]["dup_of"] == 0


def test_media_signature_store_file_scheme_uri(spark, tmp_path):
    """VERDICT r9 item 2: the store must work through a NON-os.path
    scheme (file:// is the minimal one available locally) — probes,
    sidecar, appends, dedup verdicts, and compaction all route through
    the Hadoop FileSystem, never driver-local os.path.  The old
    os.path.isdir probe was always-False on a scheme'd URI and
    silently verdicted every batch item novel."""
    from langchain_memvid_spark.multimodal import sigstore as ss

    w, h = 16, 8
    png = mm.encode_png(w, h, mm._stretch_bytes(b"fsuri", w * h))
    png2 = mm.encode_png(w, h, mm._stretch_bytes(b"other", w * h))
    path = "file://" + str(tmp_path / "sigs")
    store = ss.MediaSignatureStore(spark, path, "image", hash_bits=256)
    n = store.sign_and_append(spark.createDataFrame(
        [(0, "image", png)], "media_id long, media_type string, content binary"))
    assert n == 1 and store.count() == 1
    verdicts = {r["media_id"]: r for r in store.dedup_batch(spark.createDataFrame(
        [(10, "image", png), (11, "image", png2)],
        "media_id long, media_type string, content binary")).collect()}
    assert verdicts[10]["is_dup"] and verdicts[10]["dup_of"] == 0
    assert not verdicts[11]["is_dup"]
    # compact through the scheme'd URI; the sidecar survives the swap
    store.sign_and_append(spark.createDataFrame(
        [(1, "image", png2)], "media_id long, media_type string, content binary"))
    store.compact()
    assert store.count() == 2
    # a fresh handle with hash_bits=None ADOPTS the sidecar's config
    reopened = ss.MediaSignatureStore(spark, path, "image")
    assert reopened.hash_bits == 256 and reopened.count() == 2


def test_sigstore_refuses_data_without_sidecar(spark, tmp_path):
    """VERDICT r9 item 2 / ADVICE r9: a signature table that HAS data
    files but no meta sidecar is refused — its (hash_bits, every_n) is
    unknowable, and adopting it at a guessed width would null-fill
    signature columns and silently verdict everything novel."""
    import os

    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal import sigstore as ss

    w, h = 16, 8
    png = mm.encode_png(w, h, mm._stretch_bytes(b"nosidecar", w * h))
    path = str(tmp_path / "sigs")
    store = ss.MediaSignatureStore(spark, path, "image")
    store.sign_and_append(spark.createDataFrame(
        [(0, "image", png)], "media_id long, media_type string, content binary"))
    os.remove(os.path.join(path, ss._META_NAME))
    with pytest.raises(ConfigError, match="no .*sidecar"):
        ss.MediaSignatureStore(spark, path, "image")


def test_sigstore_schema_crosscheck_raises_on_width_drift(spark, tmp_path):
    """ADVICE r9: signatures() cross-checks the files' actual column
    set — a forged/mismatched sidecar claiming another width must
    RAISE, not null-fill the missing signature columns (null hamming
    ⇒ silent all-novel)."""
    import json

    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal import sigstore as ss
    from langchain_memvid_spark.sources import fs as hfs

    w, h = 16, 8
    png = mm.encode_png(w, h, mm._stretch_bytes(b"drift", w * h))
    path = str(tmp_path / "sigs")
    store = ss.MediaSignatureStore(spark, path, "image", hash_bits=64)
    store.sign_and_append(spark.createDataFrame(
        [(0, "image", png)], "media_id long, media_type string, content binary"))
    hfs.write_text(
        spark,
        f"{path}/{ss._META_NAME}",
        json.dumps({"modality": "image", "hash_bits": 256, "every_n": 1}),
    )
    wrong = ss.MediaSignatureStore(spark, path, "image", hash_bits=256)
    with pytest.raises(ConfigError, match="holds columns"):
        wrong.signatures()


def test_sign_and_append_signs_each_blob_exactly_once(spark, tmp_path, monkeypatch):
    """VERDICT r9 item 6: sign_and_append materializes the signer
    pipeline exactly ONCE (the write job); the returned row count is a
    footer-only read of the just-written files, never a second signer
    pass.  Pinned with a worker-side accumulator on signer output
    rows — the old cache()+count()+write shape would bump it twice."""
    from langchain_memvid_spark.multimodal import sigstore as ss

    acc = spark.sparkContext.accumulator(0)
    real = mm.dhash_images

    def acc_signer(media, **kw):
        sig = real(media, **kw)

        def bump(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return sig.mapInPandas(bump, sig.schema)

    monkeypatch.setitem(ss._SIGNERS, "image", ("dhash", acc_signer))
    w, h = 16, 8
    rows = [
        (i, "image", mm.encode_png(w, h, mm._stretch_bytes(b"once%d" % i, w * h)))
        for i in range(5)
    ]
    store = ss.MediaSignatureStore(spark, str(tmp_path / "sigs"), "image")
    n = store.sign_and_append(spark.createDataFrame(
        rows, "media_id long, media_type string, content binary"))
    assert n == 5
    assert acc.value == 5  # one execution of the signer pipeline, total


def test_zero_frame_video_decoded_false_by_design(spark):
    """ADVICE r9: a structurally valid AVI with ZERO frames produces no
    signature rows, so the incremental verdict reports decoded=false
    even without salvage — documented design: an empty container has
    no comparable content, and an ingest gate should quarantine it,
    not wave it through as verified-novel."""
    w, h = 16, 8
    real = mm.encode_avi(w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"zf", w * h))], 10)
    empty = mm.encode_avi(w, h, [], 10)
    assert mm.parse_avi_info(empty)["n_frames"] == 0
    corpus = spark.createDataFrame(
        [(0, "video", real)], "media_id long, media_type string, content binary")
    batch = spark.createDataFrame(
        [(10, "video", empty), (11, "video", real)],
        "media_id long, media_type string, content binary")
    rows = {r["media_id"]: r for r in
            mm.incremental_video_near_dup(batch, corpus).collect()}
    assert rows[10]["decoded"] is False and rows[10]["is_dup"] is False
    assert rows[11]["decoded"] is True and rows[11]["is_dup"] is True


def test_video_contains_image_pairs_semantics_and_plan(spark, sf_dir):
    """Cross-modality near-dup (VERDICT r9 item 4): planted corpus
    images are found at their exact frame position with hamming 0 and
    nothing else; the plan is the incremental shape (video-batch bands
    broadcast, image signature table one scan — no SortMergeJoin);
    width is inferred from image_sig's column layout and a
    contradictory hash_bits raises."""
    docs = load_table(spark, sf_dir, "documents").limit(100)
    videos = mm.synthesize_video_with_planted_images(docs, plant_every=5)
    images = mm.synthesize_image_corpus(docs, variant_every=None)
    image_sig = mm.dhash_images(images).localCheckpoint()
    n_frames = {r["doc_id"]: 1 + r["doc_id"] % 4
                for r in docs.select("doc_id").collect()}
    df = mm.video_contains_image_pairs(
        videos, image_sig=image_sig, n_band_rows=4 * sum(n_frames.values()))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        (d, d % n_frames[d], d, 0) for d in n_frames if d % 5 == 0
    )
    assert got == want

    # width inference: a 256-bit signature table drives 256-bit signing
    wide_sig = mm.dhash_images(images, hash_bits=256).localCheckpoint()
    wide = mm.video_contains_image_pairs(
        videos, image_sig=wide_sig, n_band_rows=4 * sum(n_frames.values()))
    assert sorted(map(tuple, wide.collect())) == want
    from langchain_memvid_spark.exceptions import ConfigError

    with pytest.raises(ConfigError, match="contradicts"):
        mm.video_contains_image_pairs(videos, image_sig=wide_sig, hash_bits=64)
    with pytest.raises(ValueError, match="exactly one"):
        mm.video_contains_image_pairs(videos)


def test_video_near_dup_capped_bucket_does_not_reject_pairs(spark):
    """ADVICE r9 (medium): a ubiquitous frame whose every (frame_no,
    band, val) bucket is df-capped must NOT wholesale-reject pairs
    containing it.  Ten 2-frame videos share an identical title frame;
    with max_bucket=2 all of that frame's buckets drop.  The true
    near-dup pair (unique second frames 1 bit apart) must still
    surface via the direct verify — the old hit-counting verdict
    (ok_frames == n_sampled over band hits) would have required a hit
    from the capped frame and silently dropped the pair."""
    w, h = 16, 8
    common = mm.encode_png(w, h, mm._stretch_bytes(b"title-frame", w * h))
    uniq = bytearray(mm._stretch_bytes(b"unique-0", w * h))
    rows = []
    for i in range(10):
        if i == 1:
            px = bytearray(uniq)
            px[0] ^= 0x80  # near-dup of video 0's second frame
        elif i == 0:
            px = bytearray(uniq)
        else:
            px = bytearray(mm._stretch_bytes(b"unique-%d" % i, w * h))
        rows.append(
            (i, "video", mm.encode_avi(w, h, [common, mm.encode_png(w, h, bytes(px))], 10))
        )
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, content binary")
    # n_band_rows=80 (20 frames x 4 bands) with max_bucket=2 forces the
    # df-cap pass to run AND bind on the shared frame's buckets
    got = sorted(
        map(tuple, mm.video_near_dup_pairs(
            media, max_hamming=3, n_band_rows=80, max_bucket=2
        ).select("a_id", "b_id").collect())
    )
    assert (0, 1) in got
    # nothing else qualifies: other videos share ONLY the capped frame
    assert got == [(0, 1)]


def test_video_contains_image_accepts_store_handle(spark, tmp_path):
    """The typed-lifecycle form: pass the MediaSignatureStore handle as
    image_sig — width comes from the sidecar (256 here), a non-image
    store raises."""
    from langchain_memvid_spark.multimodal.sigstore import MediaSignatureStore

    w, h = 17, 16
    planted = mm.encode_png(w, h, mm._stretch_bytes(b"still", w * h))
    other = mm.encode_png(w, h, mm._stretch_bytes(b"other", w * h))
    store = MediaSignatureStore(spark, str(tmp_path / "isigs"), "image", hash_bits=256)
    store.sign_and_append(spark.createDataFrame(
        [(7, "image", planted), (8, "image", other)],
        "media_id long, media_type string, content binary"))
    vid = mm.encode_avi(
        w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"vf", w * h)), planted], 10)
    videos = spark.createDataFrame(
        [(100, "video", vid)], "media_id long, media_type string, content binary")
    got = sorted(map(tuple, mm.video_contains_image_pairs(
        videos, image_sig=store, n_band_rows=8).collect()))
    assert got == [(100, 1, 7, 0)]
    astore = MediaSignatureStore(spark, str(tmp_path / "asigs"), "audio")
    from langchain_memvid_spark.exceptions import ConfigError

    with pytest.raises(ConfigError, match="image modality"):
        mm.video_contains_image_pairs(videos, image_sig=astore)


def test_collapse_video_groups_matches_exact_sequence_grouping(spark):
    """The sign-time seq_key collapse must group EXACTLY like grouping
    on the full ordered (frame_no, signature) sequence — same groups,
    same min-id representatives, same member counts — including the
    traps: same frames in a different order (different videos), a
    prefix subset (different n_frames), and identical sequences under
    different media_ids (one group)."""
    import hashlib
    from collections import defaultdict

    w, h = 16, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"sq%d" % i, w * h)) for i in range(3)]
    vids = [
        (0, [f[0], f[1], f[2]]),   # base
        (1, [f[0], f[1], f[2]]),   # identical → groups with 0
        (2, [f[2], f[1], f[0]]),   # same frames, reversed → own group
        (3, [f[0], f[1]]),         # prefix → own group (n_frames differs)
        (4, [f[0], f[1], f[2]]),   # identical → groups with 0
    ]
    media = spark.createDataFrame(
        [(i, "video", mm.encode_avi(w, h, fr, 10)) for i, fr in vids],
        "media_id long, media_type string, content binary",
    )
    sigs = mm.dhash_video_frames(media, with_seq_key=True)
    members, rep_sigs = mm._collapse_video_groups(sigs, ["dhash"])
    got = sorted(map(tuple, members.select(
        "media_id", "rep_id", "n_members").collect()))

    # exact reference grouping on the full sequence, computed in python
    rows = sigs.collect()
    seqs = defaultdict(list)
    for mid in set(r["media_id"] for r in rows):
        seq = tuple(sorted((r["frame_no"], r["dhash"], r["n_frames"])
                           for r in rows if r["media_id"] == mid))
        seqs[seq].append(mid)
    want = sorted(
        (mid, min(mids), len(mids))
        for mids in seqs.values() for mid in mids
    )
    assert got == want
    assert got == [(0, 0, 3), (1, 0, 3), (2, 2, 1), (3, 3, 1), (4, 0, 3)]
    # representatives' frame rows: exactly one per (group, frame_no)
    rep_rows = rep_sigs.groupBy("media_id").count().collect()
    assert sorted((r["media_id"], r["count"]) for r in rep_rows) == [
        (0, 3), (2, 3), (3, 2)
    ]


# ---------------------------------------------------------------------------
# round 11: signature-table deletion, append attribution, memoized
# validation, clip containment, hash-width units
# ---------------------------------------------------------------------------


def _img_rows(prefix: bytes, ids, w=16, h=8):
    return [
        (i, "image", mm.encode_png(w, h, mm._stretch_bytes(prefix + b"%d" % i, w * h)))
        for i in ids
    ]


def test_sigstore_remove_media_ids(spark, tmp_path):
    """VERDICT r10 item 1: remove_media_ids deletes signature rows via
    anti join + the sidecar-staged overwrite-swap — a removed item's
    re-upload verdicts NOVEL afterwards (no ghost dup against content
    the operator no longer holds), other items' verdicts unchanged,
    the sidecar survives, and a reopened handle still adopts the
    table's config."""
    from langchain_memvid_spark.multimodal import sigstore as ss
    from langchain_memvid_spark.sources import fs as hfs

    path = str(tmp_path / "sigs")
    store = ss.MediaSignatureStore(spark, path, "image")
    rows = _img_rows(b"rm", range(4))
    assert store.sign_and_append(spark.createDataFrame(
        rows, "media_id long, media_type string, content binary")) == 4

    n_removed = store.remove_media_ids([1, 3, 999])  # 999 absent: no-op
    assert n_removed == 2
    assert store.count() == 2

    # re-uploads of removed items are novel; kept items still dup
    batch = spark.createDataFrame(
        [(100 + i, mt, c) for i, mt, c in rows],
        "media_id long, media_type string, content binary",
    )
    v = {r["media_id"]: r for r in store.dedup_batch(batch).collect()}
    assert v[100]["is_dup"] and v[100]["dup_of"] == 0
    assert v[102]["is_dup"] and v[102]["dup_of"] == 2
    assert not v[101]["is_dup"] and v[101]["dup_of"] is None
    assert not v[103]["is_dup"]

    # sidecar survived the swap; a fresh handle adopts the config
    assert hfs.exists(spark, f"{path}/{ss._META_NAME}")
    reopened = ss.MediaSignatureStore(spark, path, "image")
    assert reopened.hash_bits == store.hash_bits and reopened.count() == 2

    # removing nothing (or from an id-DataFrame) round-trips too
    assert store.remove_media_ids([1]) == 0
    ids_df = spark.createDataFrame([(0,)], "media_id long")
    assert store.remove_media_ids(ids_df) == 1
    assert store.count() == 1

    # a never-written store removes nothing and writes nothing
    empty = ss.MediaSignatureStore(spark, str(tmp_path / "none"), "image")
    assert empty.remove_media_ids([1, 2]) == 0
    assert not hfs.list_file_paths(spark, str(tmp_path / "none"), ".parquet")


def test_sigstore_remove_crash_window_keeps_sidecar(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 1 (crash window): an interrupted removal swap
    must never leave a data-bearing dir without the meta sidecar —
    whichever rename/delete step dies, every surviving dir that holds
    parquet data also holds the sidecar (the no-sidecar refusal would
    otherwise brick recovery)."""
    from langchain_memvid_spark.multimodal import sigstore as ss
    from langchain_memvid_spark.sources import compact as cp
    from langchain_memvid_spark.sources import fs as hfs

    def build(name):
        store = ss.MediaSignatureStore(spark, str(tmp_path / name), "image")
        store.sign_and_append(spark.createDataFrame(
            _img_rows(b"cw", range(3)),
            "media_id long, media_type string, content binary"))
        return store

    def sidecared_data_dirs(base_parent):
        out = []
        for d in hfs.list_file_paths(spark, base_parent, ".parquet"):
            out.append(d.rsplit("/", 1)[0])
        return {d: hfs.exists(spark, f"{d}/{ss._META_NAME}") for d in set(out)}

    # kill the SECOND rename (tmp -> live): live path is gone, but the
    # temp dir (fully written, sidecar staged BEFORE the first rename)
    # and the __old dir both carry the sidecar
    store = build("s1")
    real_rename = hfs.rename
    calls = {"n": 0}

    def failing_rename(spk, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise IOError("injected crash between the two renames")
        real_rename(spk, src, dst)

    monkeypatch.setattr(cp.hfs, "rename", failing_rename)
    with pytest.raises(IOError, match="injected"):
        store.remove_media_ids([0])
    monkeypatch.setattr(cp.hfs, "rename", real_rename)
    dirs = sidecared_data_dirs(str(tmp_path))
    assert dirs, "expected surviving data dirs"
    assert all(dirs.values()), f"data dir without sidecar: {dirs}"

    # kill the final delete: the live table IS swapped in, rows and
    # sidecar correct (the orphan __old dir is recoverable garbage)
    store = build("s2")
    real_delete = hfs.delete

    def failing_delete(spk, p, recursive=True):
        if "__old_" in p:
            raise IOError("injected crash before old-dir cleanup")
        return real_delete(spk, p, recursive)

    monkeypatch.setattr(cp.hfs, "delete", failing_delete)
    with pytest.raises(IOError, match="injected"):
        store.remove_media_ids([0])
    monkeypatch.setattr(cp.hfs, "delete", real_delete)
    assert store.count() == 2  # swap completed before the injected crash
    assert hfs.exists(spark, str(tmp_path / "s2") + "/" + ss._META_NAME)


def test_sigstore_concurrent_appends_attribute_counts(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 4 / ADVICE r10: append counts come from the
    append's OWN temp dir, so a second writer landing files in the
    table mid-append can no longer be mis-attributed.  Emulated
    interleave: while store1's append is between its write and its
    count, store2 completes a full append into the same table — the
    old before/after listing diff would have counted store2's files
    as store1's."""
    from langchain_memvid_spark.multimodal import sigstore as ss
    from langchain_memvid_spark.sources import fs as hfs

    path = str(tmp_path / "sigs")
    store1 = ss.MediaSignatureStore(spark, path, "image")
    store2 = ss.MediaSignatureStore(spark, path, "image")

    real_list = hfs.list_file_paths
    state = {"fired": False}

    def interleaving_list(spk, p, suffix=None):
        if "__append_" in p and not state["fired"]:
            state["fired"] = True  # restore-before-recurse
            n2 = store2.sign_and_append(spark.createDataFrame(
                _img_rows(b"w2", range(100, 103)),
                "media_id long, media_type string, content binary"))
            assert n2 == 3
        return real_list(spk, p, suffix)

    monkeypatch.setattr(ss.hfs, "list_file_paths", interleaving_list)
    n1 = store1.sign_and_append(spark.createDataFrame(
        _img_rows(b"w1", range(2)),
        "media_id long, media_type string, content binary"))
    monkeypatch.setattr(ss.hfs, "list_file_paths", real_list)
    assert state["fired"]
    assert n1 == 2  # store2's 3 files not attributed to store1's batch
    assert store1.count() == 5


def test_sigstore_signatures_column_check_memoized(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 5 / ADVICE r10: the column-set cross-check (a
    schema-inference directory listing) runs ONCE per handle — the
    streaming gate calls signatures() per microbatch and must not pay
    a full listing each time.  The drift refusal still fires on a
    fresh handle (test_sigstore_schema_crosscheck_raises_on_width_drift
    covers that path)."""
    from langchain_memvid_spark.multimodal import sigstore as ss

    path = str(tmp_path / "sigs")
    store = ss.MediaSignatureStore(spark, path, "image")
    store.sign_and_append(spark.createDataFrame(
        _img_rows(b"memo", range(2)),
        "media_id long, media_type string, content binary"))

    calls = {"n": 0}
    real = ss.MediaSignatureStore._actual_columns

    def counting(self):
        calls["n"] += 1
        return real(self)

    monkeypatch.setattr(ss.MediaSignatureStore, "_actual_columns", counting)
    fresh = ss.MediaSignatureStore(spark, path, "image")
    assert fresh.signatures().count() == 2
    assert fresh.signatures().count() == 2
    assert fresh.count() == 2
    assert calls["n"] == 1  # validated once, served directly after


def test_count_sampled_video_frames_unit(spark):
    """ADVICE r10: the hash-width fallback's unit is SAMPLED FRAMES —
    the header-only walk counts exactly what the signer will emit, at
    any stride, and unwalkable blobs count zero (salvage parity)."""
    w, h = 16, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"cf%d" % i, w * h)) for i in range(5)]
    media = spark.createDataFrame(
        [
            (0, "video", mm.encode_avi(w, h, f[:3], 10)),
            (1, "video", mm.encode_avi(w, h, f, 10)),
            (2, "video", b"not an avi"),
            (3, "image", f[0]),  # non-video rows ignored
        ],
        "media_id long, media_type string, content binary",
    )
    assert mm.count_sampled_video_frames(media) == 8
    assert mm.count_sampled_video_frames(media, every_n=2) == 5  # ceil(3/2)+ceil(5/2)
    assert mm.count_sampled_video_frames(media, every_n=5) == 2


def test_video_contains_clip_pairs_basic(spark):
    """Clip containment (VERDICT r10 item 3): a strictly-shorter video
    whose full frame run appears contiguously inside a longer one is
    reported with its offset; near-clips within max_hamming qualify;
    unrelated videos and equal-length pairs (video_near_dup's job) do
    not."""
    w, h = 16, 8
    px = [bytearray(mm._stretch_bytes(b"cc%d" % i, w * h)) for i in range(4)]
    f = [mm.encode_png(w, h, bytes(p)) for p in px]
    near = []
    for p in (px[1], px[2]):
        q = bytearray(p)
        q[0] ^= 0x80  # ≤2 dHash bits, the corpus-fixture perturbation
        near.append(mm.encode_png(w, h, bytes(q)))
    media = spark.createDataFrame(
        [
            (0, "video", mm.encode_avi(w, h, f, 10)),            # container
            (1, "video", mm.encode_avi(w, h, f[1:3], 10)),       # exact clip @1
            (2, "video", mm.encode_avi(w, h, near, 10)),         # near clip @1
            (3, "video", mm.encode_avi(w, h, [f[2], f[1]], 10)), # wrong ORDER
            (4, "video", mm.encode_avi(w, h, [mm.encode_png(
                w, h, mm._stretch_bytes(b"zz", w * h))] * 2, 10)),  # unrelated
        ],
        "media_id long, media_type string, content binary",
    )
    got = {
        (r["a_id"], r["b_id"], r["offset"]): r
        for r in mm.video_contains_clip_pairs(media, max_hamming=3).collect()
    }
    assert set(got) == {(0, 1, 1), (0, 2, 1)}
    assert got[(0, 1, 1)]["max_hamming_seen"] == 0
    assert got[(0, 1, 1)]["clip_frames"] == 2
    assert 0 < got[(0, 2, 1)]["max_hamming_seen"] <= 3


def test_video_contains_clip_group_expansion(spark):
    """Byte-identical containers and byte-identical clips collapse to
    one representative pair and expand back to ALL member pairs —
    asymmetric expansion (containers stay containers)."""
    w, h = 16, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"ge%d" % i, w * h)) for i in range(3)]
    media = spark.createDataFrame(
        [
            (0, "video", mm.encode_avi(w, h, f, 10)),
            (1, "video", mm.encode_avi(w, h, f, 10)),        # container copy
            (2, "video", mm.encode_avi(w, h, f[0:2], 10)),
            (3, "video", mm.encode_avi(w, h, f[0:2], 10)),   # clip copy
        ],
        "media_id long, media_type string, content binary",
    )
    got = sorted(
        (r["a_id"], r["b_id"], r["offset"])
        for r in mm.video_contains_clip_pairs(media).collect()
    )
    assert got == [(0, 2, 0), (0, 3, 0), (1, 2, 0), (1, 3, 0)]


def test_video_contains_clip_direct_verify_under_cap(spark):
    """The df-cap gating rule (ADVICE r9, applied to containment): when
    a ubiquitous frame's buckets are dropped, the verdict must come
    from the full-depth direct verify — a true containment whose TITLE
    frame lost all its buckets still verifies through the frame-grain
    join (inline hit-counting would falsely reject it)."""
    w, h = 16, 8
    title = mm.encode_png(w, h, mm._stretch_bytes(b"title", w * h))
    x = mm.encode_png(w, h, mm._stretch_bytes(b"xx", w * h))
    y = mm.encode_png(w, h, mm._stretch_bytes(b"yy", w * h))
    rows = [(100, "video", mm.encode_avi(w, h, [title, x, y], 10)),
            (101, "video", mm.encode_avi(w, h, [title, x], 10))]
    for i in range(10):  # title frame is ubiquitous → its buckets cap out
        uniq = mm.encode_png(w, h, mm._stretch_bytes(b"u%d" % i, w * h))
        rows.append((i, "video", mm.encode_avi(w, h, [title, uniq], 10)))
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, content binary")
    got = {
        (r["a_id"], r["b_id"], r["offset"])
        for r in mm.video_contains_clip_pairs(
            media, max_hamming=3, max_bucket=2
        ).collect()
    }
    assert (100, 101, 0) in got
    # nothing else contains anything (equal lengths excluded; unique
    # second frames match nowhere; title-only agreement was capped)
    assert got == {(100, 101, 0)}


def test_video_contains_image_store_modality_raises_configerror(spark, tmp_path):
    """ADVICE r10: the batch operator and the streaming gate raise the
    SAME exception family (ConfigError) for a wrong-modality store, so
    callers can catch config drift uniformly."""
    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal import sigstore as ss

    wav = mm.encode_wav(8000, 1, mm._stretch_bytes(b"a", 300 * 2))
    astore = ss.MediaSignatureStore(spark, str(tmp_path / "a"), "audio")
    astore.sign_and_append(spark.createDataFrame(
        [(0, "audio", wav)], "media_id long, media_type string, content binary"))
    w, h = 16, 8
    vids = spark.createDataFrame(
        [(0, "video", mm.encode_avi(
            w, h, [mm.encode_png(w, h, mm._stretch_bytes(b"v", w * h))], 10))],
        "media_id long, media_type string, content binary",
    )
    with pytest.raises(ConfigError, match="image modality"):
        mm.video_contains_image_pairs(vids, image_sig=astore)


def test_video_contains_clip_vs_corpus(spark, tmp_path):
    """Batch-vs-corpus clip containment (the blocked-content-filter
    shape): arrivals are checked against a persisted clip signature
    table — typed store handle pins width/stride; wrong modality and
    contradicting kwargs raise ConfigError; equal-length arrivals are
    NOT containment."""
    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal import sigstore as ss

    w, h = 16, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"vc%d" % i, w * h)) for i in range(4)]
    clip = mm.encode_avi(w, h, f[1:3], 10)           # known clip (frames 1..2)
    cstore = ss.MediaSignatureStore(spark, str(tmp_path / "clips"), "video")
    assert cstore.sign_and_append(spark.createDataFrame(
        [(7, "video", clip)],
        "media_id long, media_type string, content binary")) == 2  # frame rows
    arrivals = spark.createDataFrame(
        [
            (100, "video", mm.encode_avi(w, h, f, 10)),        # contains @1
            (101, "video", mm.encode_avi(w, h, f[1:3], 10)),   # EQUAL length
            (102, "video", mm.encode_avi(w, h, [f[3], f[0]], 10)),  # unrelated
        ],
        "media_id long, media_type string, content binary",
    )
    got = sorted(map(tuple, mm.video_contains_clip_vs_corpus(
        arrivals, clip_sig=cstore).collect()))
    assert got == [(100, 7, 1, 2, 0)]
    # loose form: signature DataFrame, width inferred from columns
    got2 = sorted(map(tuple, mm.video_contains_clip_vs_corpus(
        arrivals, clip_sig=cstore.signatures()).collect()))
    assert got2 == got
    with pytest.raises(ConfigError, match="video modality"):
        istore = ss.MediaSignatureStore(spark, str(tmp_path / "i"), "image")
        mm.video_contains_clip_vs_corpus(arrivals, clip_sig=istore)
    with pytest.raises(ConfigError, match="contradicts"):
        mm.video_contains_clip_vs_corpus(arrivals, clip_sig=cstore, hash_bits=256)
    with pytest.raises(ConfigError, match="contradicts"):
        mm.video_contains_clip_vs_corpus(arrivals, clip_sig=cstore, every_n=2)


def test_video_audio_contains_clip_vs_corpus(spark, tmp_path):
    """SOUNDTRACK containment (VERDICT r12 item 3): a video's AUDIO
    TRACK ('01wb' chunks) is checked against an audio clip corpus at
    envelope-span grain — contained clip found with its span offset;
    an equal-length soundtrack is NOT containment; a SILENT video
    (no audio stream) vacuously matches nothing instead of raising;
    a whole-clip-grain store handle and a wrong-width kwarg raise."""
    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal import sigstore as ss

    span = 256
    rng = [bytes((i * 37 + j * 11) % 256 for j in range(span * 2))
           for i in range(5)]
    base = b"".join(rng)                    # 5 full spans
    clip = b"".join(rng[1:4])               # spans 1..3 -> offset 1
    w, h = 8, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"va%d" % i, w * h))
         for i in range(2)]
    clips = spark.createDataFrame(
        [(7, "audio", mm.encode_wav(8000, 1, clip))],
        "media_id long, media_type string, content binary",
    )
    clip_sig = mm.envelope_hash_audio_spans(clips, span_samples=span)
    arrivals = spark.createDataFrame(
        [
            # soundtrack = base -> contains clip @ span offset 1
            (100, "video", mm.encode_avi(w, h, f, 10, audio_samples=base,
                                         audio_rate=8000)),
            # soundtrack EQUAL to the clip -> not containment
            (101, "video", mm.encode_avi(w, h, f, 10, audio_samples=clip,
                                         audio_rate=8000)),
            # SILENT video: no audio stream -> vacuously no rows
            (102, "video", mm.encode_avi(w, h, f, 10)),
            # unrelated soundtrack
            (103, "video", mm.encode_avi(
                w, h, f, 10,
                audio_samples=mm._stretch_bytes(b"zz", span * 8),
                audio_rate=8000)),
        ],
        "media_id long, media_type string, content binary",
    )
    got = sorted(map(tuple, mm.video_audio_contains_clip_vs_corpus(
        arrivals, clip_sig=clip_sig, span_samples=span).collect()))
    assert got == [(100, 7, 1, 3, 0)]
    # a whole-clip-grain audio store is the WRONG table: raise with
    # the span-grain pointer instead of silently matching nothing
    astore = ss.MediaSignatureStore(spark, str(tmp_path / "a"), "audio")
    with pytest.raises(ConfigError, match="audio_span modality"):
        mm.video_audio_contains_clip_vs_corpus(arrivals, clip_sig=astore)
    with pytest.raises(ValueError, match="span-grain envelope|ahash"):
        mm.video_audio_contains_clip_vs_corpus(
            arrivals, clip_sig=clips.select("media_id"))
    with pytest.raises(ConfigError, match="contradicts"):
        mm.video_audio_contains_clip_vs_corpus(
            arrivals, clip_sig=clip_sig, span_samples=span, hash_bits=256)


def test_audio_contains_clip_pairs(spark):
    """Audio-in-audio containment: fixed-duration envelope spans make
    a sub-clip's signatures byte-identical to its source run, so the
    clip kernel applies — exact clip found with its span offset;
    equal-length and unrelated clips refused; the trailing PARTIAL
    span is dropped (span alignment documented on the signer)."""
    span = 256
    import numpy as np

    rng = [bytes((i * 37 + j * 11) % 256 for j in range(span * 2))
           for i in range(5)]
    base = b"".join(rng)                       # 5 full spans
    clip = b"".join(rng[1:4])                  # spans 1..3 -> offset 1
    partial = b"".join(rng[1:4]) + rng[4][:100]  # tail partial span dropped
    media = spark.createDataFrame(
        [
            (0, "audio", mm.encode_wav(8000, 1, base)),
            (1, "audio", mm.encode_wav(8000, 1, clip)),
            (2, "audio", mm.encode_wav(9000, 1, partial)),
            (3, "audio", mm.encode_wav(8000, 1, base[: span * 2 * 5])),  # equal len
            (4, "audio", mm.encode_wav(8000, 1, mm._stretch_bytes(b"zz", span * 4))),
        ],
        "media_id long, media_type string, content binary",
    )
    got = {
        (r["a_id"], r["b_id"], r["offset"]): r
        for r in mm.audio_contains_clip_pairs(media, span_samples=span).collect()
    }
    # clips 1 and 2 hash identically (partial tail dropped) and both
    # sit in base 0 AND its byte-identical copy 3 at offset 1; the
    # equal-length copy (3 vs 0) is NOT containment
    assert set(got) == {(0, 1, 1), (0, 2, 1), (3, 1, 1), (3, 2, 1)}
    assert all(r["max_hamming_seen"] == 0 and r["clip_frames"] == 3
               for r in got.values())


def test_pigeonhole_guard_raises_on_max_hamming_ge_bands(spark):
    """VERDICT r11 item 2 / ADVICE r11: every banded hamming-LSH
    operator must REFUSE max_hamming >= n_bands at plan-construction
    time — the pigeonhole completeness claim breaks there and the old
    behavior was silent false negatives (clip containment's every-frame
    inline verify makes it near-certain false rejection).  The
    documented max_hamming=3 contract is unchanged."""
    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.operators.dedup import check_pigeonhole

    # the documented contract still passes (covered end-to-end by every
    # max_hamming=3 test in this file; asserted directly here)
    check_pigeonhole(3, 4)

    media = spark.createDataFrame(
        [(0, "image", mm.encode_png(16, 8, mm._stretch_bytes(b"ph", 128)))],
        "media_id long, media_type string, content binary",
    )
    corpus_sig = mm.dhash_images(media)
    ops = [
        lambda: mm.image_near_dup_pairs(media, max_hamming=4, n_media=1),
        lambda: mm.audio_near_dup_pairs(media, max_hamming=4, n_media=1),
        lambda: mm.video_near_dup_pairs(media, max_hamming=4, n_band_rows=4),
        lambda: mm.video_contains_clip_pairs(media, max_hamming=4, n_band_rows=4),
        lambda: mm.audio_contains_clip_pairs(media, max_hamming=4, n_band_rows=4),
        lambda: mm.video_contains_image_pairs(
            media, image_sig=corpus_sig, max_hamming=4, n_band_rows=4
        ),
        lambda: mm.video_contains_clip_vs_corpus(
            media, clip_sig=corpus_sig, max_hamming=5, n_band_rows=4
        ),
        lambda: mm.incremental_image_near_dup(
            media, corpus_sig=corpus_sig, max_hamming=4, n_new=1
        ),
        lambda: mm.incremental_audio_near_dup(
            media, corpus_sig=corpus_sig, max_hamming=4, n_new=1
        ),
        lambda: mm.incremental_video_near_dup(
            media, corpus_sig=corpus_sig, max_hamming=4, n_band_rows=4
        ),
    ]
    for op in ops:
        with pytest.raises(ConfigError, match="pigeonhole"):
            op()


def test_pigeonhole_guard_simhash(spark, sf_dir):
    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.operators.dedup import simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents").limit(2)
    with pytest.raises(ConfigError, match="pigeonhole"):
        simhash_near_pairs(docs, max_hamming=4, n_docs=2)


def test_corpus_bands_path_matches_default(spark, tmp_path):
    """VERDICT r11 item 1: a pre-banded persisted corpus
    (banded_signature_table / MediaSignatureStore.banded_signatures)
    passed as ``corpus_bands`` must produce BIT-IDENTICAL verdicts to
    the default band-inside-the-kernel path, across the flat and
    frame-grain kernels."""
    from langchain_memvid_spark.multimodal import sigstore as ss

    imgs = spark.createDataFrame(
        _img_rows(b"cb", range(6)),
        "media_id long, media_type string, content binary",
    )
    batch = spark.createDataFrame(
        [(100 + i, mt, c) for i, mt, c in _img_rows(b"cb", range(3))],
        "media_id long, media_type string, content binary",
    )
    store = ss.MediaSignatureStore(spark, str(tmp_path / "sigs"), "image")
    store.sign_and_append(imgs)
    sig = store.signatures()
    bands = store.banded_signatures().persist()
    try:
        want = sorted(
            map(tuple, mm.incremental_image_near_dup(
                batch, corpus_sig=sig).collect())
        )
        got = sorted(
            map(tuple, mm.incremental_image_near_dup(
                batch, corpus_sig=sig, corpus_bands=bands).collect())
        )
        assert got == want and any(r[1] for r in got)  # some dups found

        # frame-grain: clip containment vs a video corpus
        w, h = 16, 8
        px = [mm.encode_png(w, h, mm._stretch_bytes(b"cb%d" % i, w * h))
              for i in range(4)]
        vids = spark.createDataFrame(
            [(0, "video", mm.encode_avi(w, h, px, 10))],
            "media_id long, media_type string, content binary",
        )
        arrivals = spark.createDataFrame(
            [(7, "video", mm.encode_avi(w, h, [px[0]] + px + [px[0]], 10))],
            "media_id long, media_type string, content binary",
        )
        vstore = ss.MediaSignatureStore(spark, str(tmp_path / "vsigs"), "video")
        vstore.sign_and_append(vids)
        vsig = vstore.signatures()
        vbands = vstore.banded_signatures().persist()
        try:
            want_v = sorted(map(tuple, mm.video_contains_clip_vs_corpus(
                arrivals, clip_sig=vsig).collect()))
            got_v = sorted(map(tuple, mm.video_contains_clip_vs_corpus(
                arrivals, clip_sig=vsig, corpus_bands=vbands).collect()))
            assert got_v == want_v and len(got_v) == 1
        finally:
            vbands.unpersist()
    finally:
        bands.unpersist()


def test_takedown_sizes_output_from_survivors_and_skips_live_listings(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 items 4+5: after a 90% takedown the rewritten table's
    file count tracks the SURVIVING bytes (not the pre-delete layout),
    and the removed-row count comes from the rewrite's own staged
    files — remove_media_ids performs ZERO hfs listings of the live
    table path (staging dirs only)."""
    from langchain_memvid_spark.multimodal import sigstore as ss
    from langchain_memvid_spark.sources import fs as hfs

    path = str(tmp_path / "sigs")
    store = ss.MediaSignatureStore(spark, path, "image")
    # several appends -> a multi-file table
    for lo in range(0, 40, 10):
        store.sign_and_append(spark.createDataFrame(
            _img_rows(b"tk", range(lo, lo + 10)),
            "media_id long, media_type string, content binary"))
    n_files_before = store.parquet_file_count()
    assert n_files_before >= 4

    live_listings = {"n": 0}
    real_list = hfs.list_file_paths

    def counting_list(spk, p, suffix=None):
        if p.rstrip("/") == path:
            live_listings["n"] += 1
        return real_list(spk, p, suffix)

    monkeypatch.setattr(ss.hfs, "list_file_paths", counting_list)
    n_removed = store.remove_media_ids(range(36))  # keep 4 of 40
    monkeypatch.setattr(ss.hfs, "list_file_paths", real_list)

    assert n_removed == 36
    assert live_listings["n"] == 0
    # 4 tiny survivor rows consolidate far below the old file count
    assert store.parquet_file_count() < n_files_before
    assert store.parquet_file_count() == 1
    assert store.count() == 4


def test_audio_hop_spans_detect_non_aligned_trim(spark):
    """VERDICT r11 item 8: hop < span signs overlapping spans, so a
    clip trimmed at a half-span offset is detected (offset in hop
    units); the span-aligned default provably misses it.  hop=span
    stays byte-identical to the old layout."""
    span = 256
    rng = [bytes((i * 53 + j * 7) % 256 for j in range(span * 2))
           for i in range(5)]
    base = b"".join(rng)                             # 5 full spans
    half = span  # bytes per half-span (2 B/sample)
    clip = base[3 * half: 3 * half + span * 2 * 3]   # 3 spans @ 1.5 spans in
    media = spark.createDataFrame(
        [
            (0, "audio", mm.encode_wav(8000, 1, base)),
            (1, "audio", mm.encode_wav(8000, 1, clip)),
        ],
        "media_id long, media_type string, content binary",
    )
    aligned = mm.audio_contains_clip_pairs(media, span_samples=span).collect()
    assert aligned == []  # non-span-aligned trim invisible to the default
    got = {
        (r["a_id"], r["b_id"], r["offset"]): r
        for r in mm.audio_contains_clip_pairs(
            media, span_samples=span, hop_samples=span // 2
        ).collect()
    }
    assert set(got) == {(0, 1, 3)}  # 1.5 spans = 3 hops
    r = got[(0, 1, 3)]
    assert r["max_hamming_seen"] == 0 and r["clip_frames"] == 5  # 2*3-1 hops

    # hop=span (explicit or default) emits the previous layout exactly
    a = mm.envelope_hash_audio_spans(media, span_samples=span).collect()
    b = mm.envelope_hash_audio_spans(
        media, span_samples=span, hop_samples=span
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_corpus_bands_wide_hash_parity(spark, tmp_path):
    """banded_signature_table at the 256-bit wide layout (4 longs, one
    64-bit band per long) — the pre-banded path must stay verdict-
    identical there too (the billion-item width the streaming gate's
    @256bit ladder exercises)."""
    from langchain_memvid_spark.multimodal import sigstore as ss

    imgs = spark.createDataFrame(
        _img_rows(b"wb", range(6), w=18, h=16),
        "media_id long, media_type string, content binary",
    )
    batch = spark.createDataFrame(
        [(100 + i, mt, c) for i, mt, c in _img_rows(b"wb", range(3), w=18, h=16)],
        "media_id long, media_type string, content binary",
    )
    store = ss.MediaSignatureStore(
        spark, str(tmp_path / "wsigs"), "image", hash_bits=256
    )
    store.sign_and_append(imgs)
    sig = store.signatures()
    bands = store.banded_signatures().persist()
    try:
        want = sorted(map(tuple, mm.incremental_image_near_dup(
            batch, corpus_sig=sig, hash_bits=256).collect()))
        got = sorted(map(tuple, mm.incremental_image_near_dup(
            batch, corpus_sig=sig, hash_bits=256, corpus_bands=bands
        ).collect()))
        assert got == want and any(r[1] for r in got)
    finally:
        bands.unpersist()


def test_takedown_of_every_row_leaves_working_empty_table(spark, tmp_path):
    """Removing ALL media ids must leave a valid (empty) table: exact
    removed count returned, count()==0, the sidecar intact, and the
    emptied store still gates a new batch (everything novel)."""
    from langchain_memvid_spark.multimodal import sigstore as ss
    from langchain_memvid_spark.sources import fs as hfs

    path = str(tmp_path / "sigs")
    store = ss.MediaSignatureStore(spark, path, "image")
    rows = _img_rows(b"all", range(4))
    store.sign_and_append(spark.createDataFrame(
        rows, "media_id long, media_type string, content binary"))
    assert store.remove_media_ids(range(4)) == 4
    assert store.count() == 0
    assert hfs.exists(spark, f"{path}/{ss._META_NAME}")
    v = store.dedup_batch(spark.createDataFrame(
        rows, "media_id long, media_type string, content binary")).collect()
    assert all(not r["is_dup"] and r["decoded"] for r in v) and len(v) == 4


def test_widen_for_decode_thresholds(spark, sf_dir, tmp_path):
    """widen_for_decode: a trivial narrow input returns unchanged (the
    shuffle would cost more than the decode it parallelizes); a
    narrow input past the row threshold widens to the session core
    count; an already-wide input is a no-op object-identity-wise."""
    docs = load_table(spark, sf_dir, "documents")
    small = mm.synthesize_image_corpus(docs.limit(50), variant_every=None)
    small.write.mode("overwrite").parquet(str(tmp_path / "small"))
    narrow_small = spark.read.parquet(str(tmp_path / "small")).coalesce(1)
    assert mm.widen_for_decode(narrow_small).rdd.getNumPartitions() == 1

    n = spark.sparkContext.defaultParallelism
    big = spark.range(20000).selectExpr(
        "id AS media_id", "'image' AS media_type",
        "CAST('x' AS BINARY) AS content",
    ).coalesce(1)
    big.write.mode("overwrite").parquet(str(tmp_path / "big"))
    narrow_big = spark.read.parquet(str(tmp_path / "big")).coalesce(1)
    assert mm.widen_for_decode(narrow_big).rdd.getNumPartitions() == n

    wide = spark.range(100).repartition(n)
    assert mm.widen_for_decode(wide) is wide


def test_widen_for_decode_size_derived_width(spark):
    """Optimization r14: the probe ladder derives a PROPORTIONAL
    target width from measured bytes/rows instead of the old binary
    narrow-or-full-cores rule — a mid-size single-partition frame
    (here ~3 MB / 12 blobs, i.e. bytes-bound and past the work floor)
    widens to
    ceil(bytes / _WIDEN_BYTES_PER_TASK) partitions, strictly between
    1 and the core count, so small microbatches neither sign serially
    nor pay full-core task overhead."""
    n = spark.sparkContext.defaultParallelism
    blob = bytes(bytearray(range(256)) * 1024)  # 256 KiB per blob
    rows = [(i, "image", blob) for i in range(12)]
    df = spark.createDataFrame(
        rows, "media_id long, media_type string, content binary"
    ).coalesce(1).localCheckpoint()  # LogicalRDD: the foreachBatch shape
    assert df.rdd.getNumPartitions() == 1
    out = mm.widen_for_decode(df)
    got = out.rdd.getNumPartitions()
    import math

    want = min(n, math.ceil(12 * len(blob) / mm._WIDEN_BYTES_PER_TASK))
    assert got == want and got > 1


def test_widen_for_decode_hollow_partitions(spark, tmp_path):
    """The r13 signer-parallelism regression: a big single-row-group
    parquet file PLANS as >= core-count splits but parquet cannot split
    below a row-group boundary, so all rows land in one partition and
    the old partition-count guard skipped widening (measured 25.7 s vs
    3.3 s for the same 750 k-frame microbatch in r13).  widen_for_decode
    must count NON-EMPTY partitions: a hollow-but-'wide' frame past the row
    threshold gets repartitioned."""
    n = spark.sparkContext.defaultParallelism
    big = spark.range(20000).selectExpr(
        "id AS media_id", "'image' AS media_type",
        "CAST('x' AS BINARY) AS content",
    ).coalesce(1)
    big.write.mode("overwrite").parquet(str(tmp_path / "hollow"))
    # hash-partition on a constant: n partitions, every row in ONE
    # (the same hollow shape the single-row-group file read produces)
    hollow = spark.read.parquet(str(tmp_path / "hollow")).repartition(
        n, F.lit(1)
    )
    assert hollow.rdd.getNumPartitions() >= n
    out = mm.widen_for_decode(hollow)
    per_part = (
        out.select(F.spark_partition_id().alias("p"))
        .groupBy("p").count().agg(F.max("count")).head()[0]
    )
    assert per_part < 20000 / 2, "hollow frame was not redistributed"


def test_signer_auto_widens_narrow_input(spark, tmp_path, monkeypatch):
    """VERDICT r13 item 1: the widen protection is NON-OPTIONAL on the
    batch media surface — a narrow file-backed input auto-widens
    inside the signer entry point (so every batch containment/near-dup
    operator and store ingest inherits it), and a COMPUTED
    (mapInPandas-synthesized) narrow frame widens on the
    plan-count-only guard without any probe job (ADVICE r13: probing a
    computed frame executes its whole upstream once)."""
    n = spark.sparkContext.defaultParallelism
    w, h = 8, 8
    rows = [
        (i, "image", mm.encode_png(w, h, mm._stretch_bytes(b"aw%d" % i, w * h)))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "media_id long, media_type string, content binary"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "imgs"))
    narrow = spark.read.parquet(str(tmp_path / "imgs"))
    assert narrow.rdd.getNumPartitions() < n
    # shrink the rows-per-task unit (and its floor) so 60 tiny blobs
    # ask for full width
    monkeypatch.setattr(mm, "_WIDEN_ROWS_PER_TASK", 1)
    monkeypatch.setattr(mm, "_WIDEN_FLOOR_ROWS", 10)
    sig = mm.dhash_images(narrow)
    assert sig.rdd.getNumPartitions() == n, "signer did not auto-widen"
    assert sig.count() == 60
    # computed frame: plan-count-only guard, unconditional widen when
    # narrow, identity no-op when already wide
    docs = spark.range(30).coalesce(1).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    synth = mm.synthesize_image_corpus(docs, variant_every=None)
    assert synth.rdd.getNumPartitions() < n
    widened = mm.widen_for_decode(synth)
    assert widened.rdd.getNumPartitions() == n
    assert mm.widen_for_decode(widened) is widened
    # a computed frame from a TINY file source stays narrow: source
    # bytes lower-bound the computed blobs, and the r14 A/B showed the
    # unconditional widen taxing small fixtures for no decode win
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    sourced = mm.synthesize_image_corpus(
        spark.read.parquet(str(tmp_path / "docs")), variant_every=None
    )
    assert mm.widen_for_decode(sourced) is sourced
    # and the containment op inherits the protection end-to-end: a
    # narrow file-backed video drop signs wide through
    # video_contains_clip_pairs' signer without any caller-side wrap
    vids = mm.synthesize_video_clip_corpus(docs, clip_every=5)
    vids.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "vids"))
    narrow_vids = spark.read.parquet(str(tmp_path / "vids"))
    assert narrow_vids.rdd.getNumPartitions() < n
    frames = mm.dhash_video_frames(narrow_vids)
    assert frames.rdd.getNumPartitions() == n
    got = sorted(
        map(tuple, mm.video_contains_clip_pairs(narrow_vids).collect())
    )
    assert got == [
        (d, d + mm.VARIANT_ID_OFFSET, d % 2, 2 + d % 4, 0)
        for d in range(0, 30, 5)
    ]


def test_widen_for_decode_leaves_session_conf_alone(spark):
    """widen_for_decode on a computed frame reads its static partition
    count without writing the shared session's conf: a thread planning
    work on the same session at the same moment (a signer overlapped
    with a write) must never see AQE switched off."""
    import threading
    import time

    docs = spark.range(30).coalesce(1).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    synth = mm.synthesize_image_corpus(docs, variant_every=None)
    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    seen: set[str] = set()
    errors: list[Exception] = []
    done = threading.Event()

    def widen() -> None:
        try:
            for _ in range(5):
                mm.widen_for_decode(synth)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)
        finally:
            done.set()

    t = threading.Thread(target=widen)
    t.start()
    deadline = time.monotonic() + 120
    while not done.is_set() and time.monotonic() < deadline:
        seen.add(spark.conf.get(key))
    t.join(timeout=10)
    assert not t.is_alive() and not errors
    assert seen == {"true"}


def test_vs_corpus_broadcasts_small_corpus_when_batch_too_big(spark, tmp_path):
    """Big-arrivals-vs-small-blocklist pick: when the batch band table
    exceeds the broadcast limit but the corpus side fits, the corpus
    broadcasts (zero shuffle of the huge batch bands) instead of
    falling to sort-merge; outputs identical either way.  Forced via
    the n_band_rows kwarg (pretend the batch is huge)."""
    from langchain_memvid_spark.multimodal import sigstore as ss
    from langchain_memvid_spark.operators import joinopt

    w, h = 16, 8
    px = [mm.encode_png(w, h, mm._stretch_bytes(b"bc%d" % i, w * h))
          for i in range(4)]
    clips = spark.createDataFrame(
        [(1, "video", mm.encode_avi(w, h, px[1:3], 10))],
        "media_id long, media_type string, content binary",
    )
    arrivals = spark.createDataFrame(
        [(7, "video", mm.encode_avi(w, h, px, 10))],
        "media_id long, media_type string, content binary",
    )
    store = ss.MediaSignatureStore(spark, str(tmp_path / "bsigs"), "video")
    store.sign_and_append(clips)
    sig = store.signatures()

    big = joinopt._PAIR_BROADCAST_ROW_LIMIT + 1
    want = sorted(map(tuple, mm.video_contains_clip_vs_corpus(
        arrivals, clip_sig=sig).collect()))
    forced = mm.video_contains_clip_vs_corpus(
        arrivals, clip_sig=sig, n_band_rows=big)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert sorted(map(tuple, forced.collect())) == want == [(7, 1, 1, 2, 0)]

    # and with BOTH sides over the shuffled-hash bound, the always-safe SMJ
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    huge = parts * joinopt._SHJ_BUILD_ROWS_PER_PARTITION + 1
    smj = mm.video_contains_clip_vs_corpus(
        arrivals, clip_sig=sig, n_band_rows=huge, n_corpus_band_rows=huge)
    assert "SortMergeJoin" in smj._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, smj.collect())) == want

    # cross-modality op: same pick
    imgs = spark.createDataFrame(
        [(11, "image", px[2])],
        "media_id long, media_type string, content binary",
    )
    isig = mm.dhash_images(imgs)
    want_i = sorted(map(tuple, mm.video_contains_image_pairs(
        arrivals, image_sig=isig).collect()))
    forced_i = mm.video_contains_image_pairs(
        arrivals, image_sig=isig, n_band_rows=big)
    plan_i = forced_i._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_i and "SortMergeJoin" not in plan_i
    assert sorted(map(tuple, forced_i.collect())) == want_i
    assert (7, 2, 11, 0) in want_i


def test_video_shared_run_pairs(spark):
    """Partial-overlap detection: a shared contiguous run that is a
    proper sub-run of BOTH videos is reported with its per-side start
    frames and length; two disjoint runs at the same alignment emit
    two rows (gaps-and-islands); a single shared frame is below the
    default min_run=2; pairs canonicalize a_id < b_id."""
    w, h = 16, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"run%d" % i, w * h))
         for i in range(8)]

    def avi(frames):
        return mm.encode_avi(w, h, frames, 10)

    media = spark.createDataFrame(
        [
            # 0 and 1 share f[2:5]: 0 at positions 2..4, 1 at 1..3 —
            # neither contains the other (0 has f0 f1 prefix, 1 has
            # f6 suffix)
            (0, "video", avi([f[0], f[1], f[2], f[3], f[4]])),
            (1, "video", avi([f[5], f[2], f[3], f[4], f[6]])),
            # 2 shares TWO disjoint runs with 3 at the same delta:
            # positions 0..1 and 3..4 (f0,f1 ... f3,f4), broken by a
            # unique middle frame on each side
            (2, "video", avi([f[0], f[1], f[5], f[3], f[4]])),
            (3, "video", avi([f[0], f[1], f[6], f[3], f[4]])),
            # 4 shares only ONE frame with 5: below min_run=2
            (4, "video", avi([f[7], f[5], f[6]])),
            (5, "video", avi([f[1], f[7], f[2]])),
        ],
        "media_id long, media_type string, content binary",
    )
    got = sorted(map(tuple, mm.video_shared_run_pairs(media).collect()))
    # (a_id, b_id, a_start, b_start, run_frames, max_hamming_seen);
    # 0-1 pair: f[2:5] at a_start=2, b_start=1; 2-3: runs at 0 and 3.
    # NOTE 0 and 5 also share f[2] and f[1] (single frames — filtered),
    # 1 and 5 share f[2] (filtered), 2/3 pairs with 0 share f0,f1 at
    # delta 0 (run of 2 — reported: overlap semantics, not a bug)
    assert (0, 1, 2, 1, 3, 0) in got
    assert (2, 3, 0, 0, 2, 0) in got and (2, 3, 3, 3, 2, 0) in got
    assert not any(r[0] == 4 or r[1] == 4 for r in got)  # single frame
    assert all(r[0] < r[1] for r in got)
    assert all(r[4] >= 2 for r in got)
    # min_run=1 surfaces the single shared frame too
    got1 = mm.video_shared_run_pairs(media, min_run=1).collect()
    assert any(r["a_id"] == 4 and r["b_id"] == 5 for r in got1)


def test_video_shared_runs_vs_corpus(spark, tmp_path):
    """The batch-vs-corpus shared-run shape (VERDICT r13 item 3):
    arrivals are judged against a persisted frame-grain corpus only
    (no arrival-vs-arrival pairs), per-side run starts are reported,
    an arrival identical to a corpus item reports its full length as
    one maximal run, min_run filters single-frame coincidences, and
    the typed store form pins modality/width."""
    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal.sigstore import MediaSignatureStore

    w, h = 16, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"vsc%d" % i, w * h))
         for i in range(8)]

    def avi(frames):
        return mm.encode_avi(w, h, frames, 10)

    corpus = spark.createDataFrame(
        [(0, "video", avi([f[0], f[1], f[2], f[3], f[4]])),
         (1, "video", avi([f[5], f[6], f[7]]))],
        "media_id long, media_type string, content binary",
    )
    store = MediaSignatureStore(spark, str(tmp_path / "runsigs"), "video")
    store.sign_and_append(corpus)
    arrivals = spark.createDataFrame(
        [
            # shares corpus-0's frames 2..4 at arrival positions 1..3;
            # also shares corpus-1's single f[5] (below min_run)
            (100, "video", avi([f[5], f[2], f[3], f[4], f[6]])),
            # byte-identical re-upload of corpus item 1
            (101, "video", avi([f[5], f[6], f[7]])),
            # two DISJOINT runs vs corpus-0 at the same delta
            (102, "video", avi([f[0], f[1], f[7], f[3], f[4]])),
        ],
        "media_id long, media_type string, content binary",
    )
    got = sorted(map(tuple, mm.video_shared_runs_vs_corpus(
        arrivals, corpus_sig=store).collect()))
    # (video_id, corpus_id, video_start, corpus_start, run_frames,
    # max_hamming_seen).  100 vs 1 also shares f[6] at a different
    # delta (single frame — filtered by min_run=2).
    assert (100, 0, 1, 2, 3, 0) in got
    assert (101, 1, 0, 0, 3, 0) in got  # full-length run, one island
    assert (102, 0, 0, 0, 2, 0) in got and (102, 0, 3, 3, 2, 0) in got
    assert len(got) == 4
    # loose form (signer output) matches the typed form
    loose = sorted(map(tuple, mm.video_shared_runs_vs_corpus(
        arrivals, corpus_sig=mm.dhash_video_frames(corpus)).collect()))
    assert loose == got
    # min_run=1 surfaces the single-frame coincidences too
    got1 = mm.video_shared_runs_vs_corpus(
        arrivals, corpus_sig=store, min_run=1).collect()
    assert any(r["video_id"] == 100 and r["corpus_id"] == 1 for r in got1)
    # wrong-modality store and non-frame-grain loose input raise
    astore = MediaSignatureStore(spark, str(tmp_path / "a"), "audio")
    with pytest.raises(ConfigError, match="video modality"):
        mm.video_shared_runs_vs_corpus(arrivals, corpus_sig=astore)
    with pytest.raises(ValueError, match="frame-grain"):
        mm.video_shared_runs_vs_corpus(
            arrivals, corpus_sig=corpus.select("media_id"))


def test_audio_shared_run_pairs(spark):
    """The shared-run kernel on envelope spans: two clips sharing a
    contiguous span run are reported with per-side start spans; a
    clip equal to the shared run alone is a containment-shaped pair
    and still surfaces as its maximal run (the operator reports the
    RUN, unlike near-dup/containment)."""
    span = 256
    rng = [bytes((i * 31 + j * 7) % 256 for j in range(span * 2))
           for i in range(6)]
    a = b"".join(rng[:5])                 # spans 0..4
    b = rng[5] + b"".join(rng[1:4])       # unique + a's spans 1..3
    media = spark.createDataFrame(
        [
            (0, "audio", mm.encode_wav(8000, 1, a)),
            (1, "audio", mm.encode_wav(9000, 1, b)),
        ],
        "media_id long, media_type string, content binary",
    )
    got = sorted(map(tuple, mm.audio_shared_run_pairs(
        media, span_samples=span).collect()))
    assert got == [(0, 1, 1, 1, 3, 0)]


def test_audio_span_signature_store(spark, tmp_path):
    """The audio_span store modality (the soundtrack gate's TYPED
    form): span grain with (span_samples, hop_samples) pinned in the
    sidecar — a reopened handle adopts them; contradicting kwargs on
    the containment op raise; a whole-clip 'audio' store is refused
    with the span-grain pointer; span knobs on other modalities and
    every_n on audio_span raise; near-dup dedup_batch is refused."""
    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal import sigstore as ss

    span = 256
    rng = [bytes((i * 37 + j * 11) % 256 for j in range(span * 2))
           for i in range(5)]
    base, clip = b"".join(rng), b"".join(rng[1:4])
    w, h = 8, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"ss%d" % i, w * h))
         for i in range(2)]
    clips = spark.createDataFrame(
        [(7, "audio", mm.encode_wav(8000, 1, clip))],
        "media_id long, media_type string, content binary",
    )
    store = ss.MediaSignatureStore(
        spark, str(tmp_path / "spans"), "audio_span", span_samples=span)
    assert store.sign_and_append(clips) == 3  # span rows
    arrivals = spark.createDataFrame(
        [(100, "video", mm.encode_avi(w, h, f, 10, audio_samples=base,
                                      audio_rate=8000))],
        "media_id long, media_type string, content binary",
    )
    got = sorted(map(tuple, mm.video_audio_contains_clip_vs_corpus(
        arrivals, clip_sig=store).collect()))
    assert got == [(100, 7, 1, 3, 0)]
    # reopened handle adopts the sidecar's span layout
    s2 = ss.MediaSignatureStore(spark, str(tmp_path / "spans"), "audio_span")
    assert (s2.span_samples, s2.hop_samples) == (span, None)
    with pytest.raises(ConfigError, match="contradicts"):
        mm.video_audio_contains_clip_vs_corpus(
            arrivals, clip_sig=store, span_samples=512)
    with pytest.raises(ConfigError, match="audio_span modality"):
        astore = ss.MediaSignatureStore(spark, str(tmp_path / "a"), "audio")
        mm.video_audio_contains_clip_vs_corpus(arrivals, clip_sig=astore)
    with pytest.raises(ConfigError, match="audio_span modality only"):
        ss.MediaSignatureStore(spark, str(tmp_path / "v"), "video",
                               span_samples=5)
    with pytest.raises(ConfigError, match="video-stride"):
        ss.MediaSignatureStore(spark, str(tmp_path / "e"), "audio_span",
                               every_n=2)
    with pytest.raises(ConfigError, match="CONTAINMENT"):
        store.dedup_batch(clips)


def test_sigstore_cross_modality_reopen_raises_config_error(spark, tmp_path):
    """Reopening a path across span/non-span modalities reaches the
    friendly ConfigError, not a bare KeyError on the grain-specific
    sidecar keys (ADVICE r13): an 'audio' sidecar opened as
    'audio_span' used to die on have['span_samples'], and an
    'audio_span' sidecar opened as 'audio' on have['every_n']."""
    from langchain_memvid_spark.exceptions import ConfigError
    from langchain_memvid_spark.multimodal import sigstore as ss

    clips = spark.createDataFrame(
        [(1, "audio", mm.encode_wav(8000, 1, bytes(range(200)) * 10))],
        "media_id long, media_type string, content binary",
    )
    whole = ss.MediaSignatureStore(spark, str(tmp_path / "w"), "audio")
    whole.sign_and_append(clips)
    with pytest.raises(ConfigError, match="refusing to mix"):
        ss.MediaSignatureStore(spark, str(tmp_path / "w"), "audio_span")
    spans = ss.MediaSignatureStore(
        spark, str(tmp_path / "s"), "audio_span", span_samples=256)
    spans.sign_and_append(clips)
    with pytest.raises(ConfigError, match="refusing to mix"):
        ss.MediaSignatureStore(spark, str(tmp_path / "s"), "audio")


def test_stereo_soundtrack_channel_fold_matches_mono_corpus(spark):
    """The soundtrack CHANNEL CONTRACT (VERDICT r13 missing #2): every
    audio read path channel-averages multichannel PCM before the
    envelope hash, so (a) a stereo WAV whose channels both carry the
    mono program signs span-identically to the mono WAV, and (b) a
    STEREO video soundtrack matches the MONO clip corpus end-to-end
    through video_audio_contains_clip_vs_corpus with zero
    configuration."""
    import numpy as np

    span = 256
    rng = [bytes((i * 53 + j * 13) % 256 for j in range(span * 2))
           for i in range(5)]
    mono = b"".join(rng)  # 5 spans
    stereo = np.frombuffer(mono, dtype="<i2").repeat(2).astype("<i2").tobytes()
    wavs = spark.createDataFrame(
        [(0, "audio", mm.encode_wav(8000, 1, mono)),
         (1, "audio", mm.encode_wav(8000, 2, stereo))],
        "media_id long, media_type string, content binary",
    )
    sig = mm.envelope_hash_audio_spans(wavs, span_samples=span).collect()
    by_id = {}
    for r in sig:
        by_id.setdefault(r["media_id"], {})[r["frame_no"]] = r["ahash"]
    assert by_id[0] == by_id[1] and len(by_id[0]) == 5

    # stereo AVI track vs a MONO clip corpus: clip = mono spans 1..3
    w, h = 8, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"st%d" % i, w * h))
         for i in range(2)]
    arrivals = spark.createDataFrame(
        [(100, "video", mm.encode_avi(
            w, h, f, 10, audio_samples=stereo, audio_rate=8000,
            audio_channels=2))],
        "media_id long, media_type string, content binary",
    )
    clips = spark.createDataFrame(
        [(7, "audio", mm.encode_wav(8000, 1, b"".join(rng[1:4])))],
        "media_id long, media_type string, content binary",
    )
    clip_sig = mm.envelope_hash_audio_spans(clips, span_samples=span)
    got = sorted(map(tuple, mm.video_audio_contains_clip_vs_corpus(
        arrivals, clip_sig=clip_sig, span_samples=span).collect()))
    assert got == [(100, 7, 1, 3, 0)]
    # writer validation: stereo payload must be whole sample BLOCKS
    with pytest.raises(ValueError, match="sample blocks"):
        mm.encode_avi(w, h, f, 10, audio_samples=mono[:6], audio_rate=8000,
                      audio_channels=2)


def test_encode_avi_rejects_odd_audio_payload():
    """encode_avi validates the soundtrack payload at WRITE time
    (ADVICE r13): an odd byte length is not whole 16-bit samples and
    used to surface only as an opaque numpy reshape error at read time
    (silently dropping the video under salvage=True)."""
    w, h = 8, 8
    f = [mm.encode_png(w, h, mm._stretch_bytes(b"odd", w * h))]
    with pytest.raises(ValueError, match="even byte length"):
        mm.encode_avi(w, h, f, 10, audio_samples=b"\x01\x02\x03")
