"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Additive surface for training-data pipelines (not in the reference).
Design: media travels as ``binary`` columns with a metadata struct
(mime, width/height/duration, codec); decode / feature-extract /
resize / frame-sample run as Arrow-batched ``mapInPandas`` stages so
the heavy work is vectorized per batch and the plan stays partition-
parallel (no shuffle: every stage is a narrow map).

PNG and BMP decode for REAL with stdlib zlib + numpy (scanline
unfiltering, palette/alpha handling, nearest-neighbor resize) and PNG
header metadata extracts as pure JVM expressions (``png_meta``).  The
container ships no JPEG/audio/video codecs, so those paths raise
NotImplementedError unless ``fake=True`` picks the deterministic
stand-in decoder — the Spark-side plumbing (schemas, batch shapes, UDF
signatures, partitioning) is identical either way.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_content_meta(
    df: DataFrame, content_col: str = "content", digest: str = "sha1"
) -> DataFrame:
    """Cheap native metadata: byte length + content digest — no Python.

    ``digest="sha256"`` is the engine-portable choice (DuckDB has no
    sha1), used by the oracle-checked ``multimodal_meta`` query.
    """
    if digest == "sha256":
        dig = F.sha2(F.col(content_col), 256)
    elif digest == "sha1":
        dig = F.sha1(F.col(content_col))
    else:
        raise ValueError(f"unsupported digest {digest!r}: use 'sha256' or 'sha1'")
    return df.withColumn("n_bytes", F.length(F.col(content_col))).withColumn(
        digest, dig
    )


def _fake_pixels(content: bytes, width: int, height: int):
    """Deterministic stand-in decoder: seed from content hash."""
    import numpy as np

    seed = int.from_bytes(hashlib.sha1(content or b"").digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _decode_png_bytes(data: bytes):
    """Pure-stdlib PNG decode (zlib inflate + scanline unfiltering) →
    HxWx3 uint8 RGB.  Supports 8-bit depth, color types 0 (gray),
    2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA); alpha is dropped.
    No codec dependency — this replaces the image ``fake=True`` stub
    for PNG content."""
    import struct
    import zlib

    import numpy as np

    if not data.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG")
    pos, width, height, bit_depth, color_type = len(PNG_SIGNATURE), 0, 0, 0, 0
    palette = None
    idat = b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack(">IIBB", body[:10])
            if bit_depth != 8:
                raise NotImplementedError(f"PNG bit depth {bit_depth} (only 8 supported)")
            if body[10] != 0 or body[11] != 0 or body[12] != 0:
                raise NotImplementedError("PNG compression/filter/interlace variant")
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(idat)
    stride = width * channels
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            line = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((int(left) + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - channels]) if i >= channels else 0
                b = int(prev[i])
                c = int(prev[i - channels]) if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = line
        prev = line
    px = out.reshape(height, width, channels)
    if color_type == 2:
        return px
    if color_type == 6:
        return px[:, :, :3]
    if color_type == 0:
        return np.repeat(px, 3, axis=2)
    if color_type == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG without PLTE")
        return palette[px[:, :, 0]]
    raise NotImplementedError(f"PNG color type {color_type}")


def _decode_bmp_bytes(data: bytes):
    """Uncompressed 24/32-bit BITMAPINFOHEADER BMP → HxWx3 uint8 RGB
    (bottom-up rows, 4-byte padded) — stdlib only."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (pixel_off,) = struct.unpack("<I", data[10:14])
    width, height = struct.unpack("<ii", data[18:26])
    (bpp,) = struct.unpack("<H", data[28:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    flip = height > 0
    height = abs(height)
    nch = bpp // 8
    row_bytes = ((width * nch + 3) // 4) * 4
    px = np.empty((height, width, 3), dtype=np.uint8)
    for y in range(height):
        off = pixel_off + y * row_bytes
        row = np.frombuffer(data, dtype=np.uint8, count=width * nch, offset=off).reshape(width, nch)
        px[height - 1 - y if flip else y] = row[:, 2::-1]  # BGR(A) → RGB
    return px


def _nearest_resize(px, out_w: int, out_h: int):
    """Nearest-neighbor resize via index maps — no codec dependency."""
    import numpy as np

    h, w = px.shape[:2]
    ys = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    xs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return px[ys][:, xs]


def _decode_any(content: bytes, out_w: int, out_h: int, fake: bool):
    """Dispatch: real PNG/BMP decode; optional fake fallback for
    formats whose codecs are absent (JPEG etc.)."""
    if content and content[: len(PNG_SIGNATURE)] == PNG_SIGNATURE:
        return _nearest_resize(_decode_png_bytes(content), out_w, out_h)
    if content and content[:2] == b"BM":
        return _nearest_resize(_decode_bmp_bytes(content), out_w, out_h)
    if fake:
        return _fake_pixels(content, out_w, out_h)
    raise NotImplementedError(
        "only PNG/BMP decode natively; other formats need an image codec "
        "(PIL/opencv), not present in this container"
    )


def decode_image(
    df: DataFrame,
    content_col: str = "content",
    out_width: int = 32,
    out_height: int = 32,
    fake: bool = False,
) -> DataFrame:
    """binary → resized RGB tensor (flattened array<int>) + dims.

    PNG and BMP decode natively (stdlib zlib + numpy scanline
    unfiltering — no codec dependency); other formats raise
    NotImplementedError unless ``fake=True`` supplies the deterministic
    stand-in.  Swapping in PIL/opencv for JPEG etc. changes only
    ``_decode_any``; the mapInPandas pipeline shape stays identical.
    """
    other = [c for c in df.columns if c != content_col]
    schema = ", ".join(
        [f"`{c}` {df.schema[c].dataType.simpleString()}" for c in other]
        + ["width int", "height int", "pixels array<int>"]
    )

    def decode(batches: Iterator["object"]) -> Iterator["object"]:
        for pdf in batches:
            pixels = [
                _decode_any(c, out_width, out_height, fake).ravel().tolist()
                for c in pdf[content_col]
            ]
            out = pdf[other].copy()
            out["width"] = out_width
            out["height"] = out_height
            out["pixels"] = pixels
            yield out

    return df.mapInPandas(decode, schema=schema)


def png_meta(df: DataFrame, content_col: str = "content") -> DataFrame:
    """PNG header metadata (width/height/bit-depth/color-type) as pure
    JVM expressions over the binary column — the scale path for corpus
    metadata extraction: IHDR is at a fixed offset, so substring+conv
    reads it without Python, codecs, or even inflating the image data.
    Non-PNG rows yield NULLs."""
    is_png = F.substring(F.col(content_col), 1, 8) == F.lit(PNG_SIGNATURE)

    def be_int(offset: int, nbytes: int) -> Column:
        # big-endian unsigned int from the binary column, via hex
        return F.conv(F.hex(F.substring(F.col(content_col), offset, nbytes)), 16, 10).cast("long")

    return (
        df.withColumn("is_png", is_png)
        .withColumn("png_width", F.when(is_png, be_int(17, 4)))
        .withColumn("png_height", F.when(is_png, be_int(21, 4)))
        .withColumn("png_bit_depth", F.when(is_png, be_int(25, 1)))
        .withColumn("png_color_type", F.when(is_png, be_int(26, 1)))
    )


def image_features(
    df: DataFrame,
    pixels_col: str = "pixels",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-image channel means/stds from the decoded tensor — a
    vectorized Arrow stage (numpy over the batch)."""
    schema = f"{id_col} long, mean_r double, mean_g double, mean_b double, std double"

    def feats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            mats = [np.asarray(p, dtype="float64").reshape(-1, 3) for p in pdf[pixels_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "mean_r": [m[:, 0].mean() for m in mats],
                    "mean_g": [m[:, 1].mean() for m in mats],
                    "mean_b": [m[:, 2].mean() for m in mats],
                    "std": [m.std() for m in mats],
                }
            )

    return df.select(id_col, pixels_col).mapInPandas(feats, schema=schema)


def sample_frames(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    every_ms: int = 1000,
    fake: bool = False,
) -> DataFrame:
    """Video → one row per sampled frame (id, frame_idx, frame bytes).
    STUB decode; real impl swaps in pyav/ffmpeg.  Output is exploded
    rows so downstream image ops apply unchanged."""
    schema = f"{id_col} long, frame_idx int, frame binary"

    def sample(batches):
        import pandas as pd

        if not fake:
            raise NotImplementedError("video decode requires ffmpeg/pyav, not present in this container")
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                n_frames = (len(content or b"") % 5) + 1  # deterministic fake
                for i in range(n_frames):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(hashlib.sha1((content or b"") + bytes([i])).digest())
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, content_col).mapInPandas(sample, schema=schema)


def _decode_wav_pcm(data: bytes):
    """(rate, mono float32 samples in [-1, 1]) from RIFF/WAVE PCM
    bytes — stdlib ``wave`` + numpy, no codec dependency (the audio
    analogue of the stdlib PNG decoder).  Raises on non-PCM/compressed
    WAV (wave module limitation)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(data), "rb") as w:
        rate = w.getframerate()
        nch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 2:
        arr = np.frombuffer(frames, dtype="<i2").astype("float32") / 32768.0
    elif width == 1:
        arr = (np.frombuffer(frames, dtype="u1").astype("float32") - 128.0) / 128.0
    elif width == 4:
        arr = np.frombuffer(frames, dtype="<i4").astype("float32") / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM sample width {width}")
    if nch > 1:
        arr = arr.reshape(-1, nch).mean(axis=1)
    return rate, arr


def decode_audio(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    sample_rate: int = 16000,
    fake: bool = False,
) -> DataFrame:
    """Audio bytes → mono PCM float array + native sample rate.

    RIFF/WAVE PCM decodes FOR REAL (stdlib ``wave`` + numpy — 8/16/32
    bit, multi-channel averaged to mono, normalized to [-1, 1]); other
    formats (mp3/ogg/flac) still need a codec absent from this
    container and raise NotImplementedError unless ``fake=True``
    supplies the deterministic stand-in."""
    schema = f"{id_col} long, sample_rate int, samples array<float>"

    def decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, rates, sams = [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                data = bytes(c or b"")
                if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
                    try:
                        rate, arr = _decode_wav_pcm(data)
                    except Exception:
                        rate, arr = None, None
                    ids.append(mid)
                    rates.append(rate)
                    sams.append(None if arr is None else arr.tolist())
                elif fake:
                    seed = int.from_bytes(hashlib.sha1(data).digest()[:4], "big")
                    rng = np.random.default_rng(seed)
                    ids.append(mid)
                    rates.append(sample_rate)
                    sams.append(rng.standard_normal(64).astype("float32").tolist())
                else:
                    raise NotImplementedError(
                        "only RIFF/WAVE PCM decodes natively; compressed audio "
                        "needs a codec (soundfile/ffmpeg), not present"
                    )
            yield pd.DataFrame({id_col: ids, "sample_rate": rates, "samples": sams})

    return df.select(id_col, content_col).mapInPandas(decode, schema=schema)


def audio_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    fake: bool = False,
) -> DataFrame:
    """Per-file audio statistics from the REAL PCM decode: duration,
    RMS energy, peak amplitude, zero-crossing rate — the quality/
    silence gates an audio curation pipeline filters on.  One
    Arrow-batched pass; undecodable rows yield NULLs."""
    schema = (
        f"{id_col} long, sample_rate int, n_samples long, duration_s double, "
        "rms double, peak double, zcr double"
    )

    def feats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {k: [] for k in ("id", "rate", "n", "dur", "rms", "peak", "zcr")}
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                data = bytes(c or b"")
                rate = arr = None
                if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
                    try:
                        rate, arr = _decode_wav_pcm(data)
                    except Exception:
                        pass
                rows["id"].append(mid)
                if arr is None or not len(arr):
                    rows["rate"].append(rate)
                    for k in ("n", "dur", "rms", "peak", "zcr"):
                        rows[k].append(0 if k == "n" else None)
                    continue
                rows["rate"].append(rate)
                rows["n"].append(len(arr))
                rows["dur"].append(len(arr) / float(rate))
                rows["rms"].append(float(np.sqrt(np.mean(arr.astype("float64") ** 2))))
                rows["peak"].append(float(np.abs(arr).max()))
                rows["zcr"].append(float(np.mean(np.signbit(arr[1:]) != np.signbit(arr[:-1]))))
            yield pd.DataFrame(
                {
                    id_col: rows["id"],
                    "sample_rate": pd.array(rows["rate"], dtype="Int32"),
                    "n_samples": pd.array(rows["n"], dtype="Int64"),
                    "duration_s": rows["dur"],
                    "rms": rows["rms"],
                    "peak": rows["peak"],
                    "zcr": rows["zcr"],
                }
            )

    return df.select(id_col, content_col).mapInPandas(feats, schema=schema)


def _jpeg_meta_bytes(data: bytes):
    """JPEG marker walk → (width, height, components, progressive).
    Pure byte parsing (no codec): scan marker segments to the first
    SOF0–SOF15 frame header, which carries the dimensions.  Raises
    ValueError on non-JPEG/truncated input."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xDA, 0xD9):
            # SOS/EOI: entropy-coded data (or end of image) follows —
            # stray 0xFF 0xCx pairs inside it would be misparsed as a
            # frame header, so a JPEG without an earlier SOF has none
            raise ValueError("no SOF frame header before scan data")
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no-payload markers
            i += 2
            continue
        if i + 4 > len(data):
            break
        seglen = int.from_bytes(data[i + 2 : i + 4], "big")
        # SOF0..SOF15 except DHT(C4)/JPG(C8)/DAC(CC) hold the frame header
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > len(data):
                break
            height = int.from_bytes(data[i + 5 : i + 7], "big")
            width = int.from_bytes(data[i + 7 : i + 9], "big")
            components = data[i + 9] if i + 9 < len(data) else 0
            return width, height, components, marker == 0xC2
        i += 2 + seglen
    raise ValueError("no SOF frame header found")


def jpeg_meta(df: DataFrame, content_col: str = "content", id_col: str = "media_id") -> DataFrame:
    """Real JPEG header metadata (width/height/components/progressive)
    via an Arrow-batched mapInPandas marker walk — metadata extraction
    needs no codec even though full pixel decode does (that part stays
    stubbed).  Invalid/truncated bytes yield NULL dimensions rather
    than failing the batch (100 TB corpora always carry corrupt files).
    """
    schema = f"{id_col} long, width int, height int, components int, progressive boolean"

    def walk(batches):
        import pandas as pd

        for pdf in batches:
            out = {"w": [], "h": [], "c": [], "p": []}
            for content in pdf[content_col]:
                try:
                    w, h, c, prog = _jpeg_meta_bytes(bytes(content or b""))
                    out["w"].append(w); out["h"].append(h)
                    out["c"].append(c); out["p"].append(prog)
                except ValueError:
                    out["w"].append(None); out["h"].append(None)
                    out["c"].append(None); out["p"].append(None)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": pd.array(out["w"], dtype="Int32"),
                    "height": pd.array(out["h"], dtype="Int32"),
                    "components": pd.array(out["c"], dtype="Int32"),
                    "progressive": pd.array(out["p"], dtype="boolean"),
                }
            )

    return df.select(id_col, content_col).mapInPandas(walk, schema=schema)


def _wav_meta_bytes(data: bytes):
    """WAV/RIFF header → (sample_rate, channels, bits, n_samples).
    Chunk walk to 'fmt ' and 'data'; no codec needed for PCM metadata."""
    if len(data) < 12 or data[0:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    i = 12
    rate = channels = bits = None
    data_len = None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        clen = int.from_bytes(data[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 24 <= len(data):
            channels = int.from_bytes(data[i + 10 : i + 12], "little")
            rate = int.from_bytes(data[i + 12 : i + 16], "little")
            bits = int.from_bytes(data[i + 22 : i + 24], "little")
        elif cid == b"data":
            data_len = clen
        i += 8 + clen + (clen % 2)  # chunks are word-aligned
    if rate is None:
        raise ValueError("no fmt chunk")
    n_samples = None
    if data_len is not None and channels and bits:
        n_samples = data_len // (channels * (bits // 8 or 1))
    return rate, channels, bits, n_samples


def wav_meta(df: DataFrame, content_col: str = "content", id_col: str = "media_id") -> DataFrame:
    """Real WAV/RIFF audio metadata (sample rate, channels, bit depth,
    sample count → duration) — chunk walk over bytes, Arrow-batched;
    corrupt files yield NULLs.  PCM *sample* decode would also be
    codec-free but is out of scope for the metadata path."""
    schema = (
        f"{id_col} long, sample_rate int, channels int, bits int, "
        "n_samples long, duration_sec double"
    )

    def walk(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"r": [], "c": [], "b": [], "n": [], "d": []}
            for content in pdf[content_col]:
                try:
                    r, c, b, n = _wav_meta_bytes(bytes(content or b""))
                    d = (n / r) if (n is not None and r) else None
                    rows["r"].append(r); rows["c"].append(c)
                    rows["b"].append(b); rows["n"].append(n); rows["d"].append(d)
                except ValueError:
                    for k in rows:
                        rows[k].append(None)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sample_rate": pd.array(rows["r"], dtype="Int32"),
                    "channels": pd.array(rows["c"], dtype="Int32"),
                    "bits": pd.array(rows["b"], dtype="Int32"),
                    "n_samples": pd.array(rows["n"], dtype="Int64"),
                    "duration_sec": pd.array(rows["d"], dtype="float64"),
                }
            )

    return df.select(id_col, content_col).mapInPandas(walk, schema=schema)


def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    fake: bool = False,
) -> DataFrame:
    """64-bit perceptual difference hash (dHash) per image: decode →
    grayscale → 9×8 nearest resize → one bit per horizontal gradient
    sign.  Robust to re-encoding/resizing/brightness shifts, which is
    what near-dup IMAGE dedup needs (an md5 of the bytes matches only
    bit-identical files).  Arrow-batched mapInPandas over the same
    stdlib PNG/BMP decoder as ``decode_image``; undecodable rows yield
    NULL (or the deterministic fake with ``fake=True``).

    Returns (id, dhash) — feed to ``dhash_pairs`` for the banded
    near-dup join; the hash is 8 bytes/image, so a 100 TB image corpus
    reduces to a GB-scale hash table before any pair work."""
    schema = f"{id_col} long, dhash long"

    def hashes(batches: Iterator["object"]) -> Iterator["object"]:
        import numpy as np
        import pandas as pd

        out_ids, out_h = [], []
        for pdf in batches:
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    px = _decode_any(bytes(content), 9, 8, fake)
                except (NotImplementedError, ValueError):
                    out_ids.append(mid)
                    out_h.append(None)
                    continue
                gray = px.astype("int64").sum(axis=2) // 3  # 8 rows × 9 cols
                bits = (gray[:, :-1] > gray[:, 1:]).ravel()  # 64 gradient signs
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                # two's-complement into a signed 64-bit long
                if h >= 1 << 63:
                    h -= 1 << 64
                out_ids.append(mid)
                out_h.append(h)
            yield pd.DataFrame({id_col: out_ids, "dhash": pd.array(out_h, dtype="Int64")})
            out_ids, out_h = [], []

    return df.select(id_col, content_col).mapInPandas(hashes, schema=schema)


def dhash_pairs(
    hashes: DataFrame,
    max_hamming: int = 10,
    hash_col: str = "dhash",
    id_col: str = "media_id",
) -> DataFrame:
    """Near-dup image pairs from 64-bit dHashes: candidates via 16-bit
    chunk equality (pigeonhole guarantees recall for distance ≤ 3 and
    catches most pairs well beyond), verified with exact JVM-side
    Hamming distance — the ``simhash_pairs`` plan shape applied to the
    perceptual hash.  No O(n²) stage; the chunk join is keyed on the
    16-bit value."""
    h = hashes.filter(F.col(hash_col).isNotNull())
    chunks = h.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col(hash_col), 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select(id_col, hash_col, "ck.chunk", "ck.cv")
    pairs = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("_ha"),
            F.col(f"b.{hash_col}").alias("_hb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .drop("_ha", "_hb")
    )
