"""Lineage/resume semantics + multimodal plumbing tests."""

import hashlib

import pytest

from sparkextract import multimodal, synth
from sparkextract.lineage import committed_buckets, run_with_lineage, snapshot_id
from sparkextract.pipeline import extract
from sparkextract import schema


def test_lineage_run_and_resume(spark, tmp_path):
    pdf = synth.gen_transcripts(n_convs=10, seed=21)
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)
    out = str(tmp_path / "out")

    s1 = run_with_lineage(spark, sdf, out, snapshot="snapA", buckets=8)
    assert s1["processed"] == 8 and s1["skipped"] == 0
    assert committed_buckets(spark, out, "snapA") == set(range(8))

    # full rerun is a no-op (exact resume: nothing uncommitted)
    s2 = run_with_lineage(spark, sdf, out, snapshot="snapA", buckets=8)
    assert s2["processed"] == 0 and s2["skipped"] == 8

    # simulate a crash: drop lineage rows for 3 buckets, resume
    lin = spark.read.parquet(f"{out}/_lineage")
    lin.where("partition_id >= 3").write.mode("overwrite").parquet(
        f"{out}/_lineage_tmp"
    )
    spark.read.parquet(f"{out}/_lineage_tmp").write.mode("overwrite").parquet(
        f"{out}/_lineage"
    )
    s3 = run_with_lineage(spark, sdf, out, snapshot="snapA", buckets=8)
    assert s3["processed"] == 3 and s3["skipped"] == 5

    # final output equals a direct run
    got = {
        (r.conv_id, r.turn_idx): r.main_text
        for r in spark.read.parquet(f"{out}/data").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): r.main_text for r in extract(sdf).collect()
    }
    assert got == want


def test_lineage_observe_counts_match_truth(spark, tmp_path):
    # rows_in/rows_out come from observe() inside the ONE write action —
    # they must equal independently recomputed per-bucket counts
    pdf = synth.gen_transcripts(n_convs=8, seed=33)
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)
    out = str(tmp_path / "out")
    s = run_with_lineage(spark, sdf, out, snapshot="snapX", buckets=4)
    assert s["rows_in"] == sdf.count()
    lin = {r.partition_id: r for r in spark.read.parquet(f"{out}/_lineage").collect()}
    from pyspark.sql import functions as F

    truth_in = {
        r.b: r.n
        for r in sdf.groupBy(F.pmod(F.hash("conv_id"), F.lit(4)).alias("b"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    data = spark.read.parquet(f"{out}/data")
    truth_out = {
        r.bucket: r.n
        for r in data.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for b in range(4):
        assert lin[b].rows_in == truth_in.get(b, 0), b
        assert lin[b].rows_out == truth_out.get(b, 0), b


def test_lineage_observe_counts_match_truth_sorted(spark, tmp_path):
    # the sort_by= path adds a repartitionByRange whose boundary-sampling
    # job re-executes its child subtree: with observe() BELOW the range
    # exchange every count recorded 2x truth (round-5 ADVICE, high).
    # observe now sits ABOVE the exchange; counts must equal truth.
    pdf = synth.gen_transcripts(n_convs=8, seed=33)
    sdf = spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS)
    out = str(tmp_path / "out_sorted")
    s = run_with_lineage(
        spark, sdf, out, snapshot="snapS", buckets=4, sort_by="turn_idx"
    )
    assert s["rows_in"] == sdf.count()
    lin = {r.partition_id: r for r in spark.read.parquet(f"{out}/_lineage").collect()}
    from pyspark.sql import functions as F

    data = spark.read.parquet(f"{out}/data")
    truth_out = {
        r.bucket: r.n
        for r in data.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert s["rows_out"] == data.count()
    for b in range(4):
        assert lin[b].rows_out == truth_out.get(b, 0), b


def test_lineage_snapshot_content_addressed(spark, tmp_path):
    # auto snapshot ids hash the input file listing: same files resume as
    # a no-op; a rewritten input is a NEW snapshot and reprocesses
    pdf = synth.gen_transcripts(n_convs=6, seed=34)
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).coalesce(1).write.parquet(src_dir)
    out = str(tmp_path / "out")

    sdf = spark.read.parquet(src_dir)
    sid1 = snapshot_id(sdf)
    s1 = run_with_lineage(spark, sdf, out, buckets=4)
    assert s1["processed"] == 4 and s1["snapshot"] == sid1
    s2 = run_with_lineage(spark, spark.read.parquet(src_dir), out, buckets=4)
    assert s2["processed"] == 0 and s2["skipped"] == 4  # unchanged input

    # rewrite the source (different content -> different size/mtime)
    pdf2 = synth.gen_transcripts(n_convs=7, seed=35)
    spark.createDataFrame(pdf2, schema=schema.TRANSCRIPTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    sdf2 = spark.read.parquet(src_dir)
    sid2 = snapshot_id(sdf2)
    assert sid2 != sid1
    s3 = run_with_lineage(spark, sdf2, out, buckets=4)
    assert s3["processed"] == 4 and s3["snapshot"] == sid2  # full reprocess

    # file-less frames must demand an explicit snapshot
    with pytest.raises(ValueError):
        snapshot_id(spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS))


def test_lineage_time_travel(spark, tmp_path):
    """Iceberg-analog pinned reads + history: after an input file is
    rewritten (new snapshot, full reprocess), reading the PRE-change
    snapshot still returns exactly the old rows (VERDICT r02 item 8)."""
    from sparkextract.lineage import read_snapshot, snapshot_log

    pdf = synth.gen_transcripts(n_convs=6, seed=44)
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).coalesce(1).write.parquet(src_dir)
    out = str(tmp_path / "out")

    sdf1 = spark.read.parquet(src_dir)
    sid1 = snapshot_id(sdf1)
    run_with_lineage(spark, sdf1, out, buckets=4)
    want1 = {
        (r.conv_id, r.turn_idx): r.main_text for r in extract(sdf1).collect()
    }

    # rewrite the input in place → new snapshot, reprocess
    pdf2 = synth.gen_transcripts(n_convs=9, seed=45)
    spark.createDataFrame(pdf2, schema=schema.TRANSCRIPTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src_dir)
    sdf2 = spark.read.parquet(src_dir)
    sid2 = snapshot_id(sdf2)
    run_with_lineage(spark, sdf2, out, buckets=4)
    want2 = {
        (r.conv_id, r.turn_idx): r.main_text for r in extract(sdf2).collect()
    }
    assert want1 != want2  # the corpora genuinely differ

    # pinned read of the pre-change snapshot returns the OLD rows
    got1 = {
        (r.conv_id, r.turn_idx): r.main_text
        for r in read_snapshot(spark, out, sid1).collect()
    }
    assert got1 == want1
    # default (latest) read returns the new rows
    got2 = {
        (r.conv_id, r.turn_idx): r.main_text
        for r in read_snapshot(spark, out).collect()
    }
    assert got2 == want2

    # history table: two snapshots, oldest first, correct bucket counts
    log = snapshot_log(spark, out).collect()
    assert [r.snapshot for r in log] == [sid1, sid2]
    assert all(r.n_buckets == 4 for r in log)
    assert log[0].first_committed_at <= log[1].first_committed_at

    with pytest.raises(ValueError):
        read_snapshot(spark, out, "no-such-snapshot")


def test_expire_snapshots(spark, tmp_path):
    """Retention GC: expiring all but the newest snapshot removes the old
    data directory and manifest rows; the retained snapshot still reads
    exactly, the expired id raises (Iceberg expireSnapshots analog)."""
    import os

    from sparkextract.lineage import (
        expire_snapshots,
        read_snapshot,
        snapshot_log,
    )

    src_dir, out = str(tmp_path / "src"), str(tmp_path / "out")
    sids = []
    for n_convs, seed in ((5, 61), (7, 62), (9, 63)):
        pdf = synth.gen_transcripts(n_convs=n_convs, seed=seed)
        spark.createDataFrame(pdf, schema=schema.TRANSCRIPTS).coalesce(1) \
            .write.mode("overwrite").parquet(src_dir)
        sdf = spark.read.parquet(src_dir)
        sids.append(snapshot_id(sdf))
        run_with_lineage(spark, sdf, out, buckets=4)
    want_latest = {
        (r.conv_id, r.turn_idx): r.main_text
        for r in read_snapshot(spark, out).collect()
    }

    res = expire_snapshots(spark, out, keep_last=1)
    assert res["expired"] == sids[:2] and res["kept"] == sids[2:]
    # data dirs of expired snapshots are gone, retained one remains
    for sid in sids[:2]:
        assert not os.path.exists(f"{out}/data/snapshot={sid}")
        with pytest.raises(ValueError):
            read_snapshot(spark, out, sid)
    got = {
        (r.conv_id, r.turn_idx): r.main_text
        for r in read_snapshot(spark, out, sids[2]).collect()
    }
    assert got == want_latest
    log = snapshot_log(spark, out).collect()
    assert [r.snapshot for r in log] == [sids[2]]
    # idempotent: nothing left to expire
    assert expire_snapshots(spark, out, keep_last=1)["expired"] == []
    with pytest.raises(ValueError):
        expire_snapshots(spark, out, keep_last=0)


def test_media_features_deterministic(spark):
    media = multimodal.synth_media(spark, n=30)
    rows = multimodal.extract_features(media).collect()
    assert len(rows) == 30
    by_id = {r.media_id: r for r in rows}
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in rows)
    # deterministic: recompute one feature vector by hand
    payload = {r.media_id: r for r in media.collect()}[7].payload
    import numpy as np

    want = multimodal.decode_image(bytes(payload), fake=True).mean(axis=1).round(3)
    assert np.allclose(by_id[7].features, want)


def test_media_decode_stub_raises():
    # non-PNG formats still need native codecs -> honest stub
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"abc", fake=False)


def test_png_roundtrip_all_color_types():
    import numpy as np

    rng = np.random.default_rng(42)
    for ch in (1, 2, 3, 4):
        arr = rng.integers(0, 256, size=(13, 9, ch), dtype=np.uint8)
        got = multimodal.decode_png(multimodal.encode_png(arr))
        assert got.shape == (13, 9, ch)
        assert (got == arr).all(), f"channels={ch}"
    # 2-d gray input
    g = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)
    assert (multimodal.decode_png(multimodal.encode_png(g))[:, :, 0] == g).all()


def test_png_decoder_handles_all_filters():
    """Hand-filter scanlines with Sub/Up/Average/Paeth and verify the
    decoder reconstructs the original pixels."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(7)
    h, w, ch = 6, 5, 3
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    stride = w * ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = b""
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        cur = img[r].reshape(-1).astype(np.int32)
        ftype = [0, 1, 2, 3, 4, 1][r]
        line = np.zeros(stride, dtype=np.int32)
        for i in range(stride):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[ftype]
            line[i] = (cur[i] - pred) & 0xFF
        raw += bytes([ftype]) + bytes(line.astype(np.uint8))
        prev = cur

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    data = (multimodal.PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert (multimodal.decode_png(data) == img).all()


def test_gif_roundtrip_and_dispatch():
    import numpy as np

    rng = np.random.default_rng(11)
    for shape in [(7, 5), (16, 16), (1, 1), (3, 40)]:
        g = rng.integers(0, 256, size=shape, dtype=np.uint8)
        data = multimodal.encode_gif_gray(g)
        assert data[:6] == b"GIF87a"
        got = multimodal.decode_gif(data)
        assert got.shape == (*shape, 3)
        # gray palette: all three channels equal the source
        assert (got[:, :, 0] == g).all() and (got == got[:, :, :1]).all()
        # decode_image dispatches on the magic
        assert (multimodal.decode_image(data)[:, :, 0] == g).all()
    # a big image crosses multiple 255-byte sub-blocks and CLEAR resets
    big = rng.integers(0, 256, size=(40, 40), dtype=np.uint8)
    assert (multimodal.decode_gif(multimodal.encode_gif_gray(big))[:, :, 0] == big).all()
    with pytest.raises(ValueError):
        multimodal.decode_gif(b"GIF87a" + b"\x00" * 16)


def test_png_real_decode_drives_features(spark):
    import numpy as np

    media = multimodal.synth_media(spark, n=12)
    feats = {r.media_id: r.features for r in multimodal.extract_features(media).collect()}
    # media 0 is a REAL PNG: features must equal the histogram of its pixels
    p0 = {r.media_id: bytes(r.payload) for r in media.collect()}[0]
    px = multimodal.decode_png(p0)
    hist, _ = np.histogram(px, bins=multimodal.FEATURE_DIM, range=(0, 256))
    want = (hist / px.size).round(3)
    assert np.allclose(feats[0], want, atol=1e-6)
    # corrupt PNG fails loudly, not silently
    with pytest.raises(ValueError):
        multimodal.decode_png(multimodal.PNG_MAGIC + b"garbage")


def test_frame_sampling_and_metadata(spark):
    media = multimodal.synth_media(spark, n=30)
    frames = multimodal.sample_frames(media).collect()
    assert frames and all(r.frame_idx >= 0 for r in frames)
    kinds = {r.media_id for r in frames}
    vids = {r.media_id for r in media.collect() if r.kind == "video"}
    assert kinds == vids
    meta = multimodal.media_metadata(media).collect()
    sniffed = {r.media_id: r.sniffed for r in meta}
    assert sniffed[0] == "png"  # images are real PNGs
    assert sniffed[1] == "wav"  # audio is now a real RIFF/WAVE container
    assert sniffed[2] == "avi"  # video is now a real RIFF/AVI container


def test_jpeg_codec_exact_vs_reconstruction_oracle():
    """decode(encode(x)) must equal the quantize/dequantize/IDCT
    reconstruction BIT-FOR-BIT (entropy coding is exactly invertible);
    smooth content decodes close to the original (lossy sanity)."""
    import numpy as np

    from sparkextract import jpeg

    rng = np.random.default_rng(23)
    for shape in [(8, 8), (16, 24), (7, 5), (1, 1), (33, 41)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        got = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(a))[:, :, 0]
        assert (got == jpeg.jpeg_reconstruct_gray(a)).all(), shape
    x = np.tile(np.linspace(0, 255, 64).astype(np.uint8), (64, 1))
    got = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_gray(x))[:, :, 0]
    assert np.abs(got.astype(int) - x.astype(int)).max() <= 4
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_gray(b"\xff\xd8\xff\xd9")  # no segments


def test_jpeg_color_codec_exact_vs_reconstruction_oracle():
    """4:2:0 YCbCr color (round-3): decode(encode_jpeg_color(x)) must
    bit-equal jpeg_reconstruct_color(x) — pins the MCU interleave,
    per-component DC prediction, chroma tables, and the shared
    colorspace/subsample/upsample helpers."""
    import numpy as np

    from sparkextract import jpeg

    rng = np.random.default_rng(29)
    for shape in [(16, 16), (8, 8), (17, 23), (1, 1), (31, 2), (40, 56)]:
        a = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        got = jpeg.decode_jpeg(jpeg.encode_jpeg_color(a))
        want = jpeg.jpeg_reconstruct_color(a)
        assert got.shape == want.shape == (*shape, 3), shape
        assert (got == want).all(), shape
    # lossy sanity: a smooth (non-wrapping) gradient survives closely
    base = np.add.outer(np.arange(48), np.arange(64) * 2).astype(np.uint8)
    img = np.stack([base, base, base], axis=2)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg_color(img))
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 12
    # gray wrapper refuses color payloads
    with pytest.raises(ValueError):
        jpeg.decode_jpeg_gray(jpeg.encode_jpeg_color(img))


def test_media_four_real_formats(spark):
    media = multimodal.synth_media(spark, n=24)
    meta = {r.media_id: r.sniffed for r in multimodal.media_metadata(media).collect()}
    # format rotation: png, gif, gray jpeg, color jpeg
    assert meta[0] == "png" and meta[3] == "gif"
    assert meta[6] == "jpeg" and meta[9] == "jpeg"
    feats = {r.media_id: r.features
             for r in multimodal.extract_features(media).collect()}
    # all four real decodes produce FEATURE_DIM histograms summing ~1
    for mid in (0, 3, 6, 9):
        assert len(feats[mid]) == multimodal.FEATURE_DIM
        assert abs(sum(feats[mid]) - 1.0) < 0.05


def test_progressive_jpeg_exact_vs_reconstruction_oracle():
    """decode(encode_progressive(x)) must equal the SAME
    quantize/dequantize/IDCT reconstruction oracle as baseline,
    BIT-FOR-BIT: progressive is a lossless re-packaging of the same
    quantized coefficients (T.81 Annex G), so completing all four scans
    restores full precision."""
    import numpy as np

    from sparkextract import jpeg

    rng = np.random.default_rng(31)
    for shape in [(8, 8), (16, 24), (7, 5), (1, 1), (33, 41)]:
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        got = jpeg.decode_jpeg(jpeg.encode_jpeg_gray_progressive(a))[:, :, 0]
        assert (got == jpeg.jpeg_reconstruct_gray(a)).all(), shape
    x = np.tile(np.linspace(0, 255, 64).astype(np.uint8), (64, 1))
    got = jpeg.decode_jpeg(jpeg.encode_jpeg_gray_progressive(x))[:, :, 0]
    assert (got == jpeg.jpeg_reconstruct_gray(x)).all()


def test_progressive_partial_scans_are_coarse_approximation():
    """Truncating after scan 3 (before AC refinement) must yield the
    image reconstructed from the POINT-TRANSFORMED coefficients — the
    'progressive rendering' semantics, checked exactly."""
    import numpy as np

    from sparkextract import jpeg

    rng = np.random.default_rng(13)
    a = rng.integers(0, 256, size=(24, 16), dtype=np.uint8)
    data = jpeg.encode_jpeg_gray_progressive(a)
    # cut before the 4th SOS, keep EOI
    sos = [i for i in range(len(data) - 1) if data[i:i + 2] == b"\xff\xda"]
    assert len(sos) == 4
    partial = data[: sos[3]] + b"\xff\xd9"
    got = jpeg.decode_jpeg(partial)[:, :, 0]

    (H, W), blocks = jpeg._quantized_blocks(a)
    approx = []
    for zz in blocks:
        z = zz.copy()
        # DC fully refined by scan 2; AC carries only the Al=1 level
        z[1:] = [jpeg._ac_shift(int(v), 1) << 1 for v in z[1:]]
        approx.append(z)
    want = jpeg._reconstruct(H, W, approx)[: a.shape[0], : a.shape[1]]
    assert (got == want).all()
    # and it differs from the full decode (the refinement scan matters)
    full = jpeg.decode_jpeg(data)[:, :, 0]
    assert (got != full).any()


def test_progressive_malformed_raises():
    import numpy as np
    import pytest as _pytest

    from sparkextract import jpeg, multimodal

    a = np.arange(64, dtype=np.uint8).reshape(8, 8)
    data = jpeg.encode_jpeg_gray_progressive(a)
    with _pytest.raises(ValueError):
        multimodal.decode_image(data[:40], fake=False)
    # color progressive is out of scope and must say so, not garble
    bad = bytearray(data)
    with _pytest.raises(ValueError):
        jpeg._decode_progressive_gray(bytes(bad).replace(b"\xff\xc2\x00\x0b\x08", b"\xff\xc2\x00\x0b\x0c", 1))


def test_synth_media_includes_progressive(spark):
    media = multimodal.synth_media(spark, n=30)
    rows = {r.media_id: bytes(r.payload) for r in media.collect() if r.kind == "image"}
    # media 12: i//3 == 4 -> fmt 4 == progressive (SOF2 present)
    assert b"\xff\xc2" in rows[12]
    img = multimodal.decode_image(rows[12])
    assert img.ndim == 3 and img.shape[2] == 1


def test_color_progressive_jpeg_exact_vs_reconstruction_oracle():
    """8-scan color progressive (interleaved DC + per-component AC
    scans) must reproduce the SAME reconstruction oracle as baseline
    color, bit-for-bit on the visible crop."""
    import numpy as np

    from sparkextract import jpeg

    rng = np.random.default_rng(17)
    for shape in [(8, 8), (16, 16), (7, 5), (33, 41), (20, 30)]:
        a = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        got = jpeg.decode_jpeg(jpeg.encode_jpeg_color_progressive(a))
        assert (got == jpeg.jpeg_reconstruct_color(a)).all(), shape


def test_synth_media_includes_color_progressive(spark):
    media = multimodal.synth_media(spark, n=48)
    imgs = {r.media_id: bytes(r.payload) for r in media.collect() if r.kind == "image"}
    # media 15: i//3 == 5 -> fmt 5 == color progressive (SOF2, 3 comps)
    p = imgs[15]
    assert b"\xff\xc2" in p
    img = multimodal.decode_image(p)
    assert img.ndim == 3 and img.shape[2] == 3
    # the whole image rotation decodes for real
    for mid, payload in imgs.items():
        assert multimodal.decode_image(payload).ndim == 3, mid


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn (T.81 B.2.5/E.2.4): byte-aligned restart markers with DC
    predictor reset, gray and color, including RST number cycling past 7
    — decode must still equal the reconstruction oracle exactly; a
    misnumbered marker must raise, not desync."""
    import numpy as np

    from sparkextract import jpeg

    rng = np.random.default_rng(41)
    g = rng.integers(0, 256, size=(33, 41), dtype=np.uint8)
    c = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    for ri in (1, 3, 7):
        got = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(g, restart_interval=ri))
        assert (got[:, :, 0] == jpeg.jpeg_reconstruct_gray(g)).all(), ri
        got = jpeg.decode_jpeg(jpeg.encode_jpeg_color(c, restart_interval=ri))
        assert (got == jpeg.jpeg_reconstruct_color(c)).all(), ri
    # >8 restarts exercises the RSTn modulo-8 cycle
    big = rng.integers(0, 256, size=(80, 80), dtype=np.uint8)
    got = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(big, restart_interval=1))
    assert (got[:, :, 0] == jpeg.jpeg_reconstruct_gray(big)).all()
    # corrupt marker number -> loud failure
    data = bytearray(jpeg.encode_jpeg_gray(big, restart_interval=4))
    i = bytes(data).index(b"\xff\xd0")
    data[i + 1] = 0xD6
    import pytest as _pytest

    with _pytest.raises(ValueError):
        jpeg.decode_jpeg(bytes(data))


def test_incremental_extraction_and_read_changes(spark, tmp_path):
    """Iceberg-style incremental chain: snapshot A extracts the initial
    corpus; a conv-aligned file append makes extract_incremental process
    ONLY the new file as snapshot B; read_changes(A, B) returns exactly
    the appended conversations' extraction; read_changes(None) is the
    full table."""
    from sparkextract.lineage import extract_incremental, read_changes

    def keyed(df):
        return {
            (r.conv_id, r.turn_idx): r.main_text
            for r in df.select("conv_id", "turn_idx", "main_text").collect()
        }

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    pdfA = synth.gen_transcripts(n_convs=6, seed=51)
    spark.createDataFrame(pdfA, schema=schema.TRANSCRIPTS).coalesce(1).write.parquet(src)

    sA = extract_incremental(spark, spark.read.parquet(src), out, buckets=4)
    assert sA["processed"] == 4 and sA["new_files"] == 1
    sidA = sA["snapshot"]

    # unchanged input -> no-op (no new snapshot, zero work)
    s0 = extract_incremental(spark, spark.read.parquet(src), out, buckets=4)
    assert s0["processed"] == 0 and s0["new_files"] == 0 and s0["snapshot"] is None

    # conv-aligned append: a file of entirely NEW conversations
    pdfB = synth.gen_transcripts(n_convs=5, seed=52)
    pdfB["conv_id"] = pdfB["conv_id"].str.replace("conv-", "convB-", regex=False)
    spark.createDataFrame(pdfB, schema=schema.TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    sB = extract_incremental(spark, spark.read.parquet(src), out, buckets=4)
    assert sB["new_files"] == 1 and sB["processed"] == 4
    sidB = sB["snapshot"]
    assert sidB != sidA

    want_b = keyed(extract(spark.createDataFrame(pdfB, schema=schema.TRANSCRIPTS)))
    got_changes = keyed(read_changes(spark, out, sidA, sidB))
    assert got_changes == want_b and got_changes

    # full current state = union of the whole snapshot chain
    want_all = keyed(extract(spark.read.parquet(src)))
    assert keyed(read_changes(spark, out, None)) == want_all
    # default to_snapshot = latest
    assert keyed(read_changes(spark, out, sidA)) == want_b

    # empty range and error cases
    assert read_changes(spark, out, sidB, sidB).count() == 0
    with pytest.raises(ValueError):
        read_changes(spark, out, "no-such-snapshot")
    with pytest.raises(ValueError):
        read_changes(spark, out, sidB, sidA)  # reversed range


def test_partition_evolution_across_snapshots(spark, tmp_path):
    """Bucket-count (partition-spec) EVOLUTION across snapshots: the
    manifest records each snapshot's own committed bucket set, so
    snapshot A written with 4 buckets and snapshot B with 8 coexist —
    pinned reads of each resolve their own layout, and the incremental
    read between them spans the spec change (Iceberg partition-evolution
    semantics at the granularity this stand-in supports)."""
    from sparkextract.lineage import (
        committed_buckets,
        read_changes,
        read_snapshot,
        run_with_lineage,
    )

    out = str(tmp_path / "out")
    pdfA = synth.gen_transcripts(n_convs=6, seed=61)
    sA = run_with_lineage(
        spark, spark.createDataFrame(pdfA, schema=schema.TRANSCRIPTS),
        out, snapshot="snapA", buckets=4,
    )
    assert sA["processed"] == 4
    pdfB = synth.gen_transcripts(n_convs=5, seed=62)
    pdfB["conv_id"] = pdfB["conv_id"].str.replace("conv-", "convB-", regex=False)
    sB = run_with_lineage(
        spark, spark.createDataFrame(pdfB, schema=schema.TRANSCRIPTS),
        out, snapshot="snapB", buckets=8,
    )
    assert sB["processed"] == 8
    assert committed_buckets(spark, out, "snapA") == set(range(4))
    assert committed_buckets(spark, out, "snapB") == set(range(8))

    def keyed(df):
        return {
            (r.conv_id, r.turn_idx): r.main_text
            for r in df.select("conv_id", "turn_idx", "main_text").collect()
        }

    wantA = keyed(extract(spark.createDataFrame(pdfA, schema=schema.TRANSCRIPTS)))
    wantB = keyed(extract(spark.createDataFrame(pdfB, schema=schema.TRANSCRIPTS)))
    assert keyed(read_snapshot(spark, out, "snapA")) == wantA
    assert keyed(read_snapshot(spark, out, "snapB")) == wantB
    # incremental read spans the spec change
    assert keyed(read_changes(spark, out, "snapA", "snapB")) == wantB
    assert keyed(read_changes(spark, out, None)) == {**wantA, **wantB}


def test_schema_evolution_across_snapshots(spark, tmp_path):
    """Add-column SCHEMA evolution across snapshots (round-5 VERDICT
    item 7): snapshot A is written with the base extract schema, snapshot
    B with a transform that ADDS a column. Pinned reads serve each
    snapshot's OWN schema (Iceberg time travel reads with the snapshot's
    schema-id); the incremental read spanning the boundary merges — A's
    rows read NULL for the added column, B's carry values."""
    from pyspark.sql import functions as F

    from sparkextract.lineage import read_changes, read_snapshot

    out = str(tmp_path / "out")
    pdfA = synth.gen_transcripts(n_convs=6, seed=63)
    run_with_lineage(
        spark, spark.createDataFrame(pdfA, schema=schema.TRANSCRIPTS),
        out, snapshot="snapA", buckets=4,
    )

    def evolved(df, **kw):
        return extract(df, **kw).withColumn("n_chars", F.length("main_text"))

    pdfB = synth.gen_transcripts(n_convs=5, seed=64)
    pdfB["conv_id"] = pdfB["conv_id"].str.replace("conv-", "convB-", regex=False)
    run_with_lineage(
        spark, spark.createDataFrame(pdfB, schema=schema.TRANSCRIPTS),
        out, snapshot="snapB", buckets=4, transform=evolved,
    )

    # pinned read of A: the snapshot's OWN (pre-evolution) schema
    pinA = read_snapshot(spark, out, "snapA")
    assert "n_chars" not in pinA.columns
    # pinned read of B: evolved schema with real values
    pinB = read_snapshot(spark, out, "snapB")
    assert "n_chars" in pinB.columns
    for r in pinB.select("main_text", "n_chars").collect():
        assert r.n_chars == len(r.main_text)

    def keyed(df):
        return {
            (r.conv_id, r.turn_idx): r.main_text
            for r in df.select("conv_id", "turn_idx", "main_text").collect()
        }

    wantA = keyed(extract(spark.createDataFrame(pdfA, schema=schema.TRANSCRIPTS)))
    wantB = keyed(extract(spark.createDataFrame(pdfB, schema=schema.TRANSCRIPTS)))
    assert keyed(pinA) == wantA
    assert keyed(pinB) == wantB

    # incremental range ending at B carries the new column
    delta = read_changes(spark, out, "snapA", "snapB")
    assert "n_chars" in delta.columns and keyed(delta) == wantB

    # full incremental read spans the boundary: merged schema, A rows NULL
    full = read_changes(spark, out, None)
    assert "n_chars" in full.columns
    assert keyed(full) == {**wantA, **wantB}
    nulls = {
        r.conv_id
        for r in full.where(F.col("n_chars").isNull())
        .select("conv_id").distinct().collect()
    }
    assert nulls == {c for c, _ in wantA}
    for r in full.where(F.col("n_chars").isNotNull()).collect():
        assert r.n_chars == len(r.main_text)

    # retention composes with evolution: expiring the pre-evolution
    # snapshot leaves the evolved one fully readable (own schema), and
    # the full incremental read now covers only B
    from sparkextract.lineage import expire_snapshots

    gc = expire_snapshots(spark, out, keep_last=1)
    assert gc["expired"] == ["snapA"] and gc["kept"] == ["snapB"]
    still = read_snapshot(spark, out, "snapB")
    assert "n_chars" in still.columns and keyed(still) == wantB
    assert keyed(read_changes(spark, out, None)) == wantB


def test_compaction_rewrite_data_files(spark, tmp_path):
    """Bin-pack compaction (Iceberg rewrite_data_files analog): rewriting
    a snapshot's many small files into one per bucket must be INVISIBLE
    to every reader — pinned reads, incremental reads, the snapshot log
    and the logical snapshot ids are byte-identical before and after.
    Also covers: chained re-compaction (.c2), compaction of a
    schema-evolved snapshot (keeps its own schema), the crash window
    (data written, commit record missing → readers untouched, orphan
    reclaimed), remove_orphan_files, and expiry taking every physical
    generation of an expired logical id."""
    import os

    from pyspark.sql import functions as F

    from sparkextract.lineage import (
        compact_snapshot,
        expire_snapshots,
        read_changes,
        read_snapshot,
        remove_orphan_files,
        snapshot_log,
    )

    out = str(tmp_path / "out")

    # fan the output over 6 tasks so every bucket dir gets several small
    # files — the state compaction exists to fix
    def fanout(df, **kw):
        return extract(df, **kw).repartition(6)

    def fanout_evolved(df, **kw):
        return (
            extract(df, **kw)
            .withColumn("n_chars", F.length("main_text"))
            .repartition(6)
        )

    pdfA = synth.gen_transcripts(n_convs=6, seed=71)
    run_with_lineage(
        spark, spark.createDataFrame(pdfA, schema=schema.TRANSCRIPTS),
        out, snapshot="snapA", buckets=4, transform=fanout,
    )
    pdfB = synth.gen_transcripts(n_convs=5, seed=72)
    pdfB["conv_id"] = pdfB["conv_id"].str.replace("conv-", "convB-", regex=False)
    run_with_lineage(
        spark, spark.createDataFrame(pdfB, schema=schema.TRANSCRIPTS),
        out, snapshot="snapB", buckets=4, transform=fanout_evolved,
    )

    def keyed(df):
        return {
            (r.conv_id, r.turn_idx): r.main_text
            for r in df.select("conv_id", "turn_idx", "main_text").collect()
        }

    wantA = keyed(read_snapshot(spark, out, "snapA"))
    wantB = keyed(read_snapshot(spark, out, "snapB"))
    log_before = [
        (r.snapshot, r.n_buckets, r.rows_out)
        for r in snapshot_log(spark, out).collect()
    ]

    # --- compact the latest (snapB) ---
    res = compact_snapshot(spark, out)
    assert res["snapshot"] == "snapB" and res["physical"] == "snapB.c1"
    assert res["files_before"] > res["files_after"] == res["buckets"]
    pinB = read_snapshot(spark, out, "snapB")
    assert keyed(pinB) == wantB
    # logical id on the wire, never the physical ".c1" name; own schema kept
    assert {r.snapshot for r in pinB.select("snapshot").distinct().collect()} \
        == {"snapB"}
    assert "n_chars" in pinB.columns
    for r in pinB.select("main_text", "n_chars").collect():
        assert r.n_chars == len(r.main_text)
    assert keyed(read_snapshot(spark, out, "snapA")) == wantA
    full = read_changes(spark, out, None)
    assert keyed(full) == {**wantA, **wantB}
    assert {r.snapshot for r in full.select("snapshot").distinct().collect()} \
        == {"snapA", "snapB"}
    assert keyed(read_changes(spark, out, "snapA", "snapB")) == wantB
    # manifest untouched: the snapshot log is identical
    assert [
        (r.snapshot, r.n_buckets, r.rows_out)
        for r in snapshot_log(spark, out).collect()
    ] == log_before

    # --- chained re-compaction and compaction of the older snapshot ---
    assert compact_snapshot(spark, out, "snapB")["physical"] == "snapB.c2"
    assert keyed(read_snapshot(spark, out, "snapB")) == wantB
    assert compact_snapshot(spark, out, "snapA")["physical"] == "snapA.c1"
    assert keyed(read_snapshot(spark, out, "snapA")) == wantA

    # --- crash window: data dir written, _replaces append never happened;
    # readers must not see it, orphan cleanup must reclaim it ---
    orphan = os.path.join(out, "data", "snapshot=snapA.c9")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert keyed(read_snapshot(spark, out, "snapA")) == wantA

    gc = remove_orphan_files(spark, out)
    assert sorted(gc["removed"]) == ["snapA", "snapA.c9", "snapB", "snapB.c1"]
    assert sorted(gc["kept"]) == ["snapA.c1", "snapB.c2"]
    assert keyed(read_snapshot(spark, out, "snapA")) == wantA
    assert keyed(read_changes(spark, out, None)) == {**wantA, **wantB}

    # --- expiry removes every physical generation of the expired id ---
    exp = expire_snapshots(spark, out, keep_last=1)
    assert exp["expired"] == ["snapA"] and exp["kept"] == ["snapB"]
    assert not os.path.exists(os.path.join(out, "data", "snapshot=snapA.c1"))
    with pytest.raises(ValueError):
        read_snapshot(spark, out, "snapA")
    assert keyed(read_snapshot(spark, out)) == wantB
    assert keyed(read_changes(spark, out, None)) == wantB


def test_incremental_strict_detects_conv_overlap(spark, tmp_path):
    """strict=True must refuse a non-conv-aligned append (turns added to
    an already-extracted conversation) and accept a conv-aligned one."""
    from sparkextract.lineage import extract_incremental

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    pdfA = synth.gen_transcripts(n_convs=5, seed=71)
    spark.createDataFrame(pdfA, schema=schema.TRANSCRIPTS).coalesce(1).write.parquet(src)
    s = extract_incremental(spark, spark.read.parquet(src), out, buckets=4, strict=True)
    assert s["processed"] == 4  # first snapshot: nothing to overlap with

    # conv-ALIGNED append passes strict
    pdfB = synth.gen_transcripts(n_convs=3, seed=72)
    pdfB["conv_id"] = pdfB["conv_id"].str.replace("conv-", "convB-", regex=False)
    spark.createDataFrame(pdfB, schema=schema.TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    s2 = extract_incremental(spark, spark.read.parquet(src), out, buckets=4, strict=True)
    assert s2["new_files"] == 1 and s2["processed"] == 4

    # append MORE TURNS to an existing conv -> strict raises, nothing written
    pdfC = synth.gen_transcripts(n_convs=1, seed=73)  # conv-000000 again
    pdfC["turn_idx"] = pdfC["turn_idx"] + 1000  # later turns, same conv
    spark.createDataFrame(pdfC, schema=schema.TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(ValueError, match="already-extracted conversations"):
        extract_incremental(spark, spark.read.parquet(src), out, buckets=4, strict=True)
