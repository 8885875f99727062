"""Multimodal blob plumbing: lib-free PCM/WAV/BMP parsers over Arrow batches."""


def test_pcm_frame_energy_real_signal(spark):
    """Synthesized int16 PCM (full-scale square wave + silence) decodes to
    exactly-known RMS/peak per frame — real signal math, no codec libs."""
    import numpy as np

    from vptstools_spark.operators.multimodal import pcm_frame_energy

    square = (np.ones(256, dtype="<i2") * 1000).tobytes()  # frame 0: RMS 1000
    silence = np.zeros(256, dtype="<i2").tobytes()         # frame 1: RMS 0
    torn = square + silence + b"\x07"                      # odd trailing byte
    df = spark.createDataFrame([(1, torn), (2, None), (3, b"")], "id long, blob binary")
    rows = {
        (r["id"], r["frame_id"]): r
        for r in pcm_frame_energy(df, frame_samples=256).collect()
    }
    assert set(rows) == {(1, 0), (1, 1)}  # null/empty blobs drop out
    assert rows[(1, 0)]["rms"] == 1000.0 and rows[(1, 0)]["peak"] == 1000
    assert rows[(1, 1)]["rms"] == 0.0 and rows[(1, 1)]["peak"] == 0
    assert rows[(1, 0)]["n_samples"] == 256


def test_pcm_partial_tail_frame(spark):
    import numpy as np

    from vptstools_spark.operators.multimodal import pcm_frame_energy

    blob = (np.full(300, -2000, dtype="<i2")).tobytes()  # 1 full + 44-sample tail
    df = spark.createDataFrame([(7, blob)], "id long, blob binary")
    rows = sorted(
        pcm_frame_energy(df, frame_samples=256).collect(),
        key=lambda r: r["frame_id"],
    )
    assert [r["n_samples"] for r in rows] == [256, 44]
    assert all(r["rms"] == 2000.0 and r["peak"] == 2000 for r in rows)


def test_wav_features_roundtrip(spark):
    from vptstools_spark.operators.multimodal import synth_blob_udf, wav_features
    from pyspark.sql import functions as F

    d = spark.range(6).select(
        F.col("id"), synth_blob_udf("wav")(F.col("id")).alias("blob")
    )
    rows = {r["id"]: r for r in wav_features(d).collect()}
    assert set(rows) == set(range(6))
    for i, r in rows.items():
        assert r["sample_rate"] == 8000 + (i % 3) * 4000
        assert r["n_channels"] == 1 and r["bits"] == 16
        assert r["n_samples"] == 64 + (i % 5) * 16
        assert 0 <= r["peak"] <= 100


def test_wav_parser_rejects_garbage_and_odd_chunks(spark):
    import struct

    from vptstools_spark.operators.multimodal import _parse_wav, synth_wav

    assert _parse_wav(None) is None
    assert _parse_wav(b"") is None
    assert _parse_wav(b"RIFFxxxxWAVX" + b"\x00" * 40) is None
    assert _parse_wav(b"not a wav at all, just text bytes padding...") is None
    # odd-sized chunk before fmt: the 2-byte alignment must be honored
    wav = synth_wav(3)
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded odd chunk
    patched = wav[:12] + odd + wav[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    parsed = _parse_wav(patched)
    assert parsed is not None and parsed["sample_rate"] == 8000


def test_bmp_features_respects_padding_and_row_order(spark):
    from vptstools_spark.operators.multimodal import bmp_features, synth_blob_udf
    from pyspark.sql import functions as F

    d = spark.range(6).select(
        F.col("id"), synth_blob_udf("bmp")(F.col("id")).alias("blob")
    )
    rows = {r["id"]: r for r in bmp_features(d).collect()}
    for i, r in rows.items():
        w, h = 8 + i % 3, 6
        vals = [(i + rr * 3 + cc * 5) % 256 for rr in range(h) for cc in range(w)]
        assert r["width"] == w and r["height"] == h and r["bpp"] == 24
        assert r["max_px"] == max(vals)
        assert abs(r["mean_px"] - sum(vals) / len(vals)) < 1e-9
    # width=9 (id%3==1) has stride padding: a naive byte-mean would include
    # zero pad bytes and undershoot — verified exact above for id=1,4


def test_bmp_parser_rejects_unsupported(spark):
    from vptstools_spark.operators.multimodal import bmp_features, synth_bmp
    from pyspark.sql import functions as F

    bad_depth = bytearray(synth_bmp(0))
    bad_depth[28] = 8  # 8 bpp
    truncated = synth_bmp(0)[:60]
    d = spark.createDataFrame(
        [(0, bytes(bad_depth)), (1, truncated), (2, b"BM"), (3, None), (4, synth_bmp(4))],
        "id long, blob binary",
    )
    got = bmp_features(d).collect()
    assert [r["id"] for r in got] == [4]


def test_bmp_patches_topdown_and_bottomup_agree(spark):
    """A negative-height (top-down) BMP must patchify identically to the
    bottom-up encoding of the same image — the orientation branch."""
    import struct

    from vptstools_spark.operators.multimodal import bmp_patches, synth_bmp

    def flip_to_topdown(blob: bytes) -> bytes:
        px_off = int.from_bytes(blob[10:14], "little")
        width = int.from_bytes(blob[18:22], "little", signed=True)
        height = int.from_bytes(blob[22:26], "little", signed=True)
        stride = (width * 3 + 3) // 4 * 4
        rows = [
            blob[px_off + r * stride : px_off + (r + 1) * stride]
            for r in range(height)
        ]
        px = b"".join(reversed(rows))
        dib = blob[14:px_off]
        dib = dib[:8] + struct.pack("<i", -height) + dib[12:]
        return blob[:14] + dib + px

    bu = synth_bmp(7)
    td = flip_to_topdown(bu)
    df = spark.createDataFrame([(1, bu), (2, td)], "id long, blob binary")
    rows = bmp_patches(df, patch=2).collect()
    a = sorted(
        (r["patch_row"], r["patch_col"], r["mean_px"], r["max_px"])
        for r in rows
        if r["id"] == 1
    )
    b = sorted(
        (r["patch_row"], r["patch_col"], r["mean_px"], r["max_px"])
        for r in rows
        if r["id"] == 2
    )
    assert a == b and len(a) == 12  # 3 patch rows x 4 patch cols (width 8)


def test_bmp_patches_partial_edges_dropped(spark):
    from vptstools_spark.operators.multimodal import bmp_patches, synth_bmp

    # doc_id 1 -> width 9: the 9th pixel column is a partial patch -> dropped
    df = spark.createDataFrame([(1, synth_bmp(1))], "id long, blob binary")
    rows = bmp_patches(df, patch=2).collect()
    assert max(r["patch_col"] for r in rows) == 3
    assert len(rows) == 12
