"""Multimodal column plumbing: opaque binary payloads + typed features.

Images/audio ride through the engine as `binary` columns; decode /
feature-extraction run as Arrow-batched pandas functions over
``mapInPandas``.

What is REAL here (no media libraries needed):
- `pcm_frame_energy` — raw int16 PCM framing + RMS/peak (numpy);
- `wav_features` (round 4) — RIFF/WAVE container parsing (chunk walk,
  fmt/data extraction, word-aligned chunk sizes) + PCM stats;
- `bmp_features` (round 4) — BMP/DIB header parsing (bottom-up rows,
  4-byte row padding) + pixel stats.

Codec decode (jpeg/png entropy coding, flac/ogg) needs a codec library
and is not provided. The Spark-side contract — schema, Arrow batch shape,
partition behavior — is tested for every operator here.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: output schema of the real PCM analyzer
PCM_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("frame_id", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
    ]
)


def pcm_frame_energy(
    df: DataFrame,
    id_col: str = "id",
    blob_col: str = "blob",
    frame_samples: int = 256,
) -> DataFrame:
    """REAL audio feature extraction — no media libraries needed: the blob
    is interpreted as raw little-endian int16 PCM (numpy ``frombuffer``),
    framed into `frame_samples` windows, and reduced to per-frame RMS and
    peak. This is the one multimodal path that runs genuine signal math in
    this container; codec decode (mp3/jpeg/mp4) is not provided.

    Arrow-batched ``mapInPandas``: each executor batch decodes its blobs
    with vectorized numpy — per-row Python never touches samples. The 1→N
    frame explode happens inside the batch, so output partitioning follows
    input splits (narrow, no shuffle).
    """
    import numpy as np

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("id", "frame_id", "n_samples", "rms", "peak")}
            for rid, blob in zip(pdf[id_col], pdf[blob_col]):
                if blob is None or len(blob) < 2:
                    continue
                # truncate a trailing odd byte (torn sample)
                samples = np.frombuffer(blob[: len(blob) - (len(blob) % 2)], dtype="<i2")
                for f in range(0, len(samples), frame_samples):
                    frame = samples[f : f + frame_samples].astype(np.float64)
                    out["id"].append(rid)
                    out["frame_id"].append(f // frame_samples)
                    out["n_samples"].append(len(frame))
                    out["rms"].append(float(np.sqrt(np.mean(frame * frame))))
                    out["peak"].append(int(np.max(np.abs(frame))))
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(gen, PCM_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# WAV: real RIFF/WAVE container parsing (round 4 de-stub)
# ---------------------------------------------------------------------------

#: output schema of the WAV analyzer: one row per valid WAV blob
WAV_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_channels", T.IntegerType(), False),
        T.StructField("bits", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
    ]
)


def _parse_wav(blob: bytes | None) -> dict | None:
    """Parse a RIFF/WAVE container: walk the chunk list (sizes are
    little-endian, chunks word-aligned), pull `fmt ` (format, channels,
    rate, bits) and `data` (PCM payload). Returns None for non-WAV bytes —
    header-aware, no audio library. Reference container grammar: RIFF1991
    (public Microsoft/IBM spec)."""
    import struct

    if blob is None or len(blob) < 12 or blob[0:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    fmt = data = None
    off = 12
    while off + 8 <= len(blob):
        cid = blob[off : off + 4]
        sz = int.from_bytes(blob[off + 4 : off + 8], "little")
        body = blob[off + 8 : off + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        off += 8 + sz + (sz & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format, n_channels, sample_rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    return {
        "audio_format": int(audio_format),
        "n_channels": int(n_channels),
        "sample_rate": int(sample_rate),
        "bits": int(bits),
        "data": data,
    }


def wav_features(
    df: DataFrame, id_col: str = "id", blob_col: str = "blob"
) -> DataFrame:
    """REAL WAV decode — header fields from the RIFF container plus
    whole-stream RMS/peak over the int16 PCM payload (numpy, vectorized
    per Arrow batch). Invalid/non-WAV blobs are dropped (warn-and-continue
    shape, like the ODIM reader's per-file isolation). Narrow map: output
    partitioning follows input splits, no shuffle."""
    import numpy as np

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in ("id", "sample_rate", "n_channels", "bits", "n_samples", "rms", "peak")
            }
            for rid, blob in zip(pdf[id_col], pdf[blob_col]):
                w = _parse_wav(blob)
                if w is None or w["audio_format"] != 1 or w["bits"] != 16:
                    continue  # only uncompressed 16-bit PCM is decodable here
                data = w["data"]
                samples = np.frombuffer(
                    data[: len(data) - (len(data) % 2)], dtype="<i2"
                ).astype(np.float64)
                out["id"].append(int(rid))
                out["sample_rate"].append(w["sample_rate"])
                out["n_channels"].append(w["n_channels"])
                out["bits"].append(w["bits"])
                out["n_samples"].append(len(samples) // max(w["n_channels"], 1))
                out["rms"].append(
                    float(np.sqrt(np.mean(samples * samples))) if len(samples) else None
                )
                out["peak"].append(
                    int(np.max(np.abs(samples))) if len(samples) else None
                )
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(gen, WAV_SCHEMA)


# ---------------------------------------------------------------------------
# BMP: real DIB header parsing (round 4 de-stub)
# ---------------------------------------------------------------------------

#: output schema of the BMP analyzer: one row per valid BMP blob
BMP_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("bpp", T.IntegerType(), False),
        T.StructField("mean_px", T.DoubleType(), True),
        T.StructField("max_px", T.IntegerType(), True),
    ]
)


def bmp_features(
    df: DataFrame, id_col: str = "id", blob_col: str = "blob"
) -> DataFrame:
    """REAL BMP decode — BITMAPFILEHEADER + BITMAPINFOHEADER fields and
    pixel stats over the (bottom-up, 4-byte-row-padded) 24-bpp pixel
    array. The padding bytes are EXCLUDED from the stats via a numpy
    reshape-and-slice, which is the part a naive byte-mean gets wrong.
    Only uncompressed 24-bpp (the overwhelmingly common dump format) is
    decoded; other depths/compressions are dropped."""
    import numpy as np

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in ("id", "width", "height", "bpp", "mean_px", "max_px")
            }
            for rid, blob in zip(pdf[id_col], pdf[blob_col]):
                if blob is None or len(blob) < 54 or blob[:2] != b"BM":
                    continue
                px_off = int.from_bytes(blob[10:14], "little")
                width = int.from_bytes(blob[18:22], "little", signed=True)
                height = int.from_bytes(blob[22:26], "little", signed=True)
                bpp = int.from_bytes(blob[28:30], "little")
                compression = int.from_bytes(blob[30:34], "little")
                if bpp != 24 or compression != 0 or width <= 0 or height == 0:
                    continue
                n_rows = abs(height)
                stride = (width * 3 + 3) // 4 * 4
                need = px_off + stride * n_rows
                if len(blob) < need:
                    continue
                arr = np.frombuffer(blob, dtype=np.uint8, count=stride * n_rows, offset=px_off)
                # drop per-row padding: reshape to rows, slice to pixel bytes
                px = arr.reshape(n_rows, stride)[:, : width * 3]
                out["id"].append(int(rid))
                out["width"].append(width)
                out["height"].append(n_rows)
                out["bpp"].append(bpp)
                out["mean_px"].append(float(px.mean()))
                out["max_px"].append(int(px.max()))
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(gen, BMP_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic synthetic blob generators — REAL container bytes for the
# parsers above, derived purely from an integer id so an independent SQL
# engine can recompute the expected features analytically (the value
# oracle for mm_wav_features / mm_bmp_stats). Production pipelines read
# blobs from storage; these exist for oracle-checking and tests.
# ---------------------------------------------------------------------------


def synth_wav(doc_id: int) -> bytes:
    """Mono 16-bit PCM WAV: rate = 8000 + (id%3)*4000, n = 64 + (id%5)*16
    samples, sample[i] = ((id*7 + i*13) % 201) - 100."""
    import struct

    import numpy as np

    rate = 8000 + (doc_id % 3) * 4000
    n = 64 + (doc_id % 5) * 16
    i = np.arange(n, dtype=np.int64)
    samples = ((doc_id * 7 + i * 13) % 201 - 100).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def synth_bmp(doc_id: int) -> bytes:
    """24-bpp bottom-up BMP, width = 8 + id%3 (exercises row padding),
    height = 6, all three channels of pixel (r, c) = (id + r*3 + c*5) % 256
    where r counts from the TOP of the image."""
    import struct

    import numpy as np

    width, height = 8 + doc_id % 3, 6
    stride = (width * 3 + 3) // 4 * 4
    rows = []
    for r_bottom in range(height):
        r = height - 1 - r_bottom  # BMP stores rows bottom-up
        c = np.arange(width, dtype=np.int64)
        v = ((doc_id + r * 3 + c * 5) % 256).astype(np.uint8)
        row = np.repeat(v, 3)  # B = G = R = v
        rows.append(row.tobytes() + b"\x00" * (stride - width * 3))
    px = b"".join(rows)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(px), 0, 0, 14 + 40)
    return hdr + dib + px


def synth_pcm(doc_id: int) -> bytes:
    """Headerless little-endian int16 PCM: the synth_wav waveform without
    the RIFF container (for the raw-PCM framing path)."""
    import numpy as np

    n = 64 + (doc_id % 5) * 16
    i = np.arange(n, dtype=np.int64)
    return ((doc_id * 7 + i * 13) % 201 - 100).astype("<i2").tobytes()


def synth_blob_udf(kind: str):
    """Arrow-batched pandas UDF producing synth_wav/synth_bmp/synth_pcm
    bytes from a long id column."""
    from pyspark.sql.functions import pandas_udf

    make = {"wav": synth_wav, "bmp": synth_bmp, "pcm": synth_pcm}[kind]

    @pandas_udf("binary")
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: make(int(i)))

    return gen


#: output schema of patch extraction: one row per full patch
BMP_PATCH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("patch_row", T.IntegerType(), False),
        T.StructField("patch_col", T.IntegerType(), False),
        T.StructField("mean_px", T.DoubleType(), True),
        T.StructField("max_px", T.IntegerType(), True),
    ]
)


def bmp_patches(
    df: DataFrame, patch: int = 2, id_col: str = "id", blob_col: str = "blob"
) -> DataFrame:
    """ViT-style patch extraction over decoded 24-bpp BMPs: the image is
    reoriented TOP-DOWN (BMP stores rows bottom-up for positive heights —
    the orientation bug a raw byte-tiler ships), tiled into
    `patch`×`patch` pixel patches, and each patch reduced to channel-byte
    mean/max. Partial edge patches are DROPPED (exact-division tiling,
    the ViT convention), so a 9-wide image yields width//patch columns.

    The Spark-side plumbing is the multimodal contract: Arrow-batched
    ``mapInPandas``, one narrow pass, per-image fan-out of
    (rows//patch)·(cols//patch) output rows, no shuffle, no driver data —
    the same shape a real pretraining patchifier (decode → tile → embed)
    runs at 100 TB, with the codec swapped in for the BMP walker."""
    import numpy as np

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in ("id", "patch_row", "patch_col", "mean_px", "max_px")
            }
            for rid, blob in zip(pdf[id_col], pdf[blob_col]):
                if blob is None or len(blob) < 54 or blob[:2] != b"BM":
                    continue
                px_off = int.from_bytes(blob[10:14], "little")
                width = int.from_bytes(blob[18:22], "little", signed=True)
                height = int.from_bytes(blob[22:26], "little", signed=True)
                bpp = int.from_bytes(blob[28:30], "little")
                compression = int.from_bytes(blob[30:34], "little")
                if bpp != 24 or compression != 0 or width <= 0 or height == 0:
                    continue
                n_rows = abs(height)
                stride = (width * 3 + 3) // 4 * 4
                if len(blob) < px_off + stride * n_rows:
                    continue
                arr = np.frombuffer(
                    blob, dtype=np.uint8, count=stride * n_rows, offset=px_off
                )
                px = arr.reshape(n_rows, stride)[:, : width * 3]
                if height > 0:  # bottom-up storage → flip to top-down
                    px = px[::-1]
                img = px.reshape(n_rows, width, 3)
                pr_n, pc_n = n_rows // patch, width // patch
                for pr in range(pr_n):
                    for pc in range(pc_n):
                        tile = img[
                            pr * patch : (pr + 1) * patch,
                            pc * patch : (pc + 1) * patch,
                        ]
                        out["id"].append(int(rid))
                        out["patch_row"].append(pr)
                        out["patch_col"].append(pc)
                        out["mean_px"].append(float(tile.mean()))
                        out["max_px"].append(int(tile.max()))
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(gen, BMP_PATCH_SCHEMA)
