"""Multimodal column plumbing (SURVEY.md SS2.11).

Images/audio/video ride through the engine as opaque ``binary`` columns
with typed metadata; per-item decode/feature-extraction runs as
Arrow-batched ``mapInPandas`` so payload bytes never cross a row-at-a-time
Python boundary. ``decode_image`` is a REAL pure-Python header decoder
for PNG and BMP, and ``decode_audio`` a REAL RIFF/WAVE chunk-walker
(no media libs needed), ``decode_frames`` a REAL GIF block walk, and
``decode_gray_pixels``/``encode_png_gray_pixels`` do REAL pixel-level
decode and re-encode for the module's PNG/BMP containers; only model
inference (``extract_binary_features``'s byte-level stand-ins) remains
a deterministic fake pending a real model runtime.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Output schema of the feature extractor -- what a real image decoder
#: would produce (dims from header parse, features from the model stub).
FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, first_byte int, byte_checksum bigint"

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_image(payload: bytes) -> dict:
    """Decode an image header from raw bytes -- pure Python, no media
    libraries. Supports PNG (big-endian IHDR chunk, the first chunk by
    spec) and BMP (little-endian BITMAPINFOHEADER; height may be
    negative for top-down rows). Returns
    ``{format, width, height, bit_depth}``; raises ``ValueError`` on
    anything else -- the caller decides whether unknown payloads are
    skipped or fatal."""
    if payload[:8] == _PNG_SIG:
        if len(payload) < 26 or payload[12:16] != b"IHDR":
            raise ValueError("corrupt PNG: IHDR not first chunk")
        width, height = struct.unpack(">II", payload[16:24])
        return {
            "format": "png",
            "width": width,
            "height": height,
            "bit_depth": payload[24],
        }
    if payload[:2] == b"BM":
        if len(payload) < 30:
            raise ValueError("corrupt BMP: truncated DIB header")
        width, height = struct.unpack("<ii", payload[18:26])
        (bpp,) = struct.unpack("<H", payload[28:30])
        return {
            "format": "bmp",
            "width": width,
            "height": abs(height),
            "bit_depth": bpp,
        }
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    raise ValueError("unsupported image format (expect PNG, BMP or JPEG)")


#: SOFn markers that carry a frame header. C4/C8/CC are DHT/JPG/DAC --
#: huffman/arithmetic tables that share the C0-CF range but are NOT
#: frame headers (ITU T.81 table B.1).
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _decode_jpeg(payload: bytes) -> dict:
    """REAL JPEG frame-header decode: walk the marker-segment stream
    from SOI to the first SOFn and parse precision/height/width/
    components out of its bytes (ITU T.81 B.2.2). Pure Python, no
    media libs -- the same chunk-walk discipline as the PNG/BMP/GIF/
    WAV decoders. Foreign metadata segments (EXIF APP1, COM, DQT,
    DHT, DRI, any APPn) are SKIPPED by their big-endian length
    fields; ``format`` distinguishes baseline (SOF0/1) from
    progressive (SOF2); ``bit_depth`` is bits per pixel (sample
    precision x component count: 8 gray, 24 YCbCr). Raises
    ``ValueError`` on marker desync, truncation, or a scan/EOI
    arriving before any frame header."""
    i = 2
    n = len(payload)
    while True:
        if i + 2 > n:
            raise ValueError("corrupt JPEG: truncated before SOF")
        if payload[i] != 0xFF:
            raise ValueError("corrupt JPEG: marker desync")
        # 0xFF fill bytes may pad ahead of any marker (B.1.1.2)
        while i + 1 < n and payload[i + 1] == 0xFF:
            i += 1
        if i + 2 > n:
            raise ValueError("corrupt JPEG: truncated fill run")
        marker = payload[i + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS with no frame header seen
            raise ValueError("corrupt JPEG: no SOF before scan/EOI")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            raise ValueError("corrupt JPEG: standalone marker before scan")
        if i + 4 > n:
            raise ValueError("corrupt JPEG: truncated segment length")
        (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
        if seg_len < 2 or i + 2 + seg_len > n:
            raise ValueError("corrupt JPEG: segment overruns payload")
        if marker in _SOF_MARKERS:
            if seg_len < 8:
                raise ValueError("corrupt JPEG: SOF segment too short")
            precision = payload[i + 4]
            height, width = struct.unpack(">HH", payload[i + 5 : i + 9])
            ncomp = payload[i + 9]
            if ncomp == 0 or seg_len != 8 + 3 * ncomp:
                raise ValueError("corrupt JPEG: SOF component table size")
            return {
                "format": "jpeg_progressive" if marker == 0xC2 else "jpeg",
                "width": width,
                "height": height,
                "bit_depth": precision * ncomp,
            }
        i += 2 + seg_len


#: ITU T.81 Annex K.1 luminance quantization table (zigzag order) --
#: the canonical example table every libjpeg-family encoder ships.
_JPEG_LUMA_DQT = bytes(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]
)


def _jpeg_segment(marker: int, data: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data


def encode_jpeg(
    width: int,
    height: int,
    seed: int = 0,
    gray: bool = True,
    progressive: bool = False,
) -> bytes:
    """Build a structurally-VALID JFIF byte stream: SOI, APP0 (JFIF
    1.1), DQT (Annex K luminance table), SOF0 or SOF2 frame header
    with real dimensions and 1 (gray) or 3 (YCbCr 4:2:0) components,
    a minimal DHT, SOS, seed-deterministic entropy bytes with proper
    0xFF 0x00 byte stuffing, EOI. Every segment length field is
    correct, so any spec-conforming marker walker (including
    ``_decode_jpeg``) parses it; the entropy data is filler -- this
    synthesizes header-decode fixtures, not viewable pictures (the
    house boundary: container/headers REAL, pixel inference stubbed).
    Deterministic in all arguments."""
    ncomp = 1 if gray else 3
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = b"\x00" + _JPEG_LUMA_DQT
    comps = b"".join(
        bytes([cid, 0x22 if (not gray and cid == 1) else 0x11, 0])
        for cid in range(1, ncomp + 1)
    )
    sof = struct.pack(">BHHB", 8, height, width, ncomp) + comps
    # minimal DC huffman table: one 1-bit code mapping to value 0
    dht = b"\x00" + bytes([1] + [0] * 15) + b"\x00"
    sos = (
        bytes([ncomp])
        + b"".join(bytes([cid, 0x00]) for cid in range(1, ncomp + 1))
        + bytes([0, 63, 0])
    )
    raw = bytes((seed + 7 * k) % 256 for k in range(16 + (seed + width) % 23))
    entropy = raw.replace(b"\xff", b"\xff\x00")
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xE0, app0)
        + _jpeg_segment(0xDB, dqt)
        + _jpeg_segment(0xC2 if progressive else 0xC0, sof)
        + _jpeg_segment(0xC4, dht)
        + _jpeg_segment(0xDA, sos)
        + entropy
        + b"\xff\xd9"
    )


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data))
    )


def encode_png_gray_pixels(pixels: list[list[int]]) -> bytes:
    """Encode a grayscale pixel matrix as a VALID 8-bit grayscale PNG
    (signature, IHDR, one zlib-compressed IDAT of filter-0 scanlines,
    IEND -- each chunk CRC'd). Deterministic in the pixel values; the
    re-encode half of the REAL resize path."""
    height, width = len(pixels), len(pixels[0])
    raw = b"".join(b"\x00" + bytes(row) for row in pixels)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 1))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_gray(width: int, height: int, seed: int = 0) -> bytes:
    """Build a VALID tiny 8-bit grayscale PNG. Deterministic in
    (width, height, seed); used to synthesize image payloads for the
    decode path and its oracle."""
    row = [(seed + x) % 256 for x in range(width)]
    return encode_png_gray_pixels([row for _ in range(height)])


def encode_bmp_rgb(width: int, height: int, seed: int = 0) -> bytes:
    """Build a VALID tiny 24-bit BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER + bottom-up rows padded to 4 bytes). Deterministic
    in (width, height, seed)."""
    row_bytes = (width * 3 + 3) // 4 * 4
    pixels = b"".join(
        bytes((seed + y + 3 * x) % 256 for x in range(width * 3)).ljust(
            row_bytes, b"\x00"
        )
        for y in range(height)
    )
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 54)
    return header + dib + pixels


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary payload column (here: utf-8 bytes of the
    text -- stands in for image/audio bytes loaded from object storage)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def extract_binary_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Deterministic byte-level 'features' (length, first byte, additive
    checksum mod 2^31) exercise the real plumbing -- binary column in
    Arrow batches, pandas transform, typed struct out -- while the model
    call is stubbed. Swap the body for a real decoder+encoder without
    touching the plan.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "first_byte": payloads.map(
                        lambda b: b[0] if len(b) else -1
                    ).astype("int32"),
                    "byte_checksum": payloads.map(
                        lambda b: sum(b) % 2147483647
                    ).astype("int64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(batches, FEATURE_SCHEMA)


#: image header decode output
DIMS_SCHEMA = "doc_id bigint, format string, width int, height int, bit_depth int"


def with_test_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a deterministic VALID image payload per row -- even
    ids get a grayscale PNG, odd ids a 24-bit BMP, with dimensions
    derived arithmetically from the id (width = id % 61 + 4,
    height = id * 13 % 47 + 4). Stands in for an object-store fetch;
    because the dims are a pure function of the id, an SQL oracle can
    verify the decode path end-to-end without ever seeing the bytes.
    Arrow-batched like every other payload stage."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            payloads = [
                encode_png_gray(int(i) % 61 + 4, int(i) * 13 % 47 + 4, seed=int(i))
                if int(i) % 2 == 0
                else encode_bmp_rgb(int(i) % 61 + 4, int(i) * 13 % 47 + 4, seed=int(i))
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col).alias("doc_id")).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )


def with_test_jpegs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a deterministic VALID JFIF payload per row with
    dimensions and variant derived arithmetically from the id
    (width = id % 199 + 8, height = id * 17 % 151 + 8; id % 3 == 0 ->
    progressive SOF2 color, 1 -> baseline gray, 2 -> baseline color),
    so an SQL oracle can verify the SOF frame-header decode end-to-end
    without ever seeing the bytes -- the ``with_test_images``
    contract for the JPEG branch. Arrow-batched like every other
    payload stage."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            payloads = [
                encode_jpeg(
                    int(i) % 199 + 8,
                    int(i) * 17 % 151 + 8,
                    seed=int(i),
                    gray=int(i) % 3 == 1,
                    progressive=int(i) % 3 == 0,
                )
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col).alias("doc_id")).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )


def image_dimensions(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched REAL header decode over binary payloads: format,
    width, height, bit depth straight from the bytes via
    ``decode_image``. Narrow (no shuffle); payloads are pruned away
    after this projection, so downstream stages shuffle only the typed
    metadata, never image bytes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [decode_image(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "format": [m["format"] for m in metas],
                    "width": pd.Series([m["width"] for m in metas], dtype="int32"),
                    "height": pd.Series([m["height"] for m in metas], dtype="int32"),
                    "bit_depth": pd.Series(
                        [m["bit_depth"] for m in metas], dtype="int32"
                    ),
                }
            )

    return df.select(id_col, "payload").mapInPandas(batches, DIMS_SCHEMA)


#: audio metadata schema (real RIFF/WAVE header decode)
AUDIO_SCHEMA = (
    "doc_id bigint, format string, channels int, sample_rate int, "
    "bits int, n_samples bigint, duration_ms bigint"
)


def encode_wav_pcm(
    n_samples: int, sample_rate: int = 16000, channels: int = 1, seed: int = 0
) -> bytes:
    """A VALID minimal PCM WAV: RIFF header + fmt chunk + data chunk of
    deterministic 16-bit samples (seeded LCG -- reproducible bytes, no
    RNG state). Real files, so the decoder is exercised honestly."""
    bits = 16
    byte_rate = sample_rate * channels * bits // 8
    block_align = channels * bits // 8
    x = (seed * 2654435761 + 1) & 0x7FFFFFFF
    samples = bytearray()
    for _ in range(n_samples * channels):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        samples += struct.pack("<h", (x % 65536) - 32768)
    data = bytes(samples)
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate, byte_rate,
        block_align, bits,
    )
    hdr = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def decode_audio(payload: bytes) -> dict:
    """REAL RIFF/WAVE header decode -- pure Python, no media libs:
    channels, sample rate, bit depth from the fmt chunk; sample count
    and duration from the data chunk length. Walks chunks (fmt is not
    guaranteed first by spec), raises ValueError on non-WAV."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("unsupported audio format (expect RIFF/WAVE)")
    pos, fmt_info, data_len = 12, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if tag == b"fmt ":
            _codec, ch, rate = struct.unpack("<HHI", payload[pos + 8 : pos + 16])
            (bits,) = struct.unpack("<H", payload[pos + 22 : pos + 24])
            fmt_info = (ch, rate, bits)
        elif tag == b"data":
            data_len = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_info is None or data_len is None:
        raise ValueError("corrupt WAV: missing fmt or data chunk")
    ch, rate, bits = fmt_info
    n = data_len // (ch * bits // 8)
    return {
        "format": "wav",
        "channels": ch,
        "sample_rate": rate,
        "bits": bits,
        "n_samples": n,
        "duration_ms": n * 1000 // rate,
    }


def with_test_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic VALID WAV payload per row (the audio sibling of
    ``with_test_images``): n_samples = id % 97 * 160 + 160, rate
    16 kHz, stereo for ids % 3 == 0 -- all pure functions of the id so
    an SQL oracle can verify the decode end to end."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            payloads = [
                encode_wav_pcm(
                    int(i) % 97 * 160 + 160,
                    channels=2 if int(i) % 3 == 0 else 1,
                    seed=int(i),
                )
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col).alias("doc_id")).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )


def audio_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched REAL WAV header decode; payload bytes die in this
    projection -- only typed metadata flows on."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [decode_audio(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "format": [m["format"] for m in metas],
                    "channels": pd.Series(
                        [m["channels"] for m in metas], dtype="int32"
                    ),
                    "sample_rate": pd.Series(
                        [m["sample_rate"] for m in metas], dtype="int32"
                    ),
                    "bits": pd.Series([m["bits"] for m in metas], dtype="int32"),
                    "n_samples": pd.Series(
                        [m["n_samples"] for m in metas], dtype="int64"
                    ),
                    "duration_ms": pd.Series(
                        [m["duration_ms"] for m in metas], dtype="int64"
                    ),
                }
            )

    return df.select(id_col, "payload").mapInPandas(batches, AUDIO_SCHEMA)


#: animated-image frame metadata (real GIF block walk)
FRAMES_SCHEMA = (
    "doc_id bigint, format string, width int, height int, "
    "n_frames int, duration_cs bigint"
)


def encode_gif_frames(
    width: int, height: int, n_frames: int, delay_cs: int = 4, seed: int = 0
) -> bytes:
    """A VALID animated GIF89a, pure Python: logical screen descriptor,
    4-entry global color table, and per frame a Graphic Control
    Extension (carrying the delay) + image descriptor + LZW pixel data.
    LZW uses the clear-code-per-pixel form (emit CLEAR before every
    literal, so code width never grows and no dictionary is needed) --
    bytes any standard decoder accepts, at ~2 bits/pixel overhead,
    fine for fixture-sized frames."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x91, 0, 0])  # GCT present, 4 entries; bg 0; no aspect
    out += bytes(
        [0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255]
    )  # black/red/green/blue
    for f in range(n_frames):
        # graphic control extension: delay in centiseconds
        out += bytes([0x21, 0xF9, 4, 0]) + struct.pack("<H", delay_cs) + bytes([0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, width, height) + bytes([0])
        min_code = 2
        clear, end = 1 << min_code, (1 << min_code) + 1
        codes = [clear]
        for y in range(height):
            for x in range(width):
                codes += [(x + y + f + seed) % 4, clear]
        codes[-1] = end  # replace the trailing clear with END
        bits = bytearray()
        acc = n_acc = 0
        for c in codes:
            acc |= c << n_acc
            n_acc += min_code + 1
            while n_acc >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                n_acc -= 8
        if n_acc:
            bits.append(acc & 0xFF)
        out += bytes([min_code])
        for i in range(0, len(bits), 255):
            chunk = bits[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += bytes([0])  # end of image data sub-blocks
    out += bytes([0x3B])  # trailer
    return bytes(out)


def decode_frames(payload: bytes) -> dict:
    """REAL GIF block walk -- the frame-metadata decode a video
    pipeline runs before deciding what to sample: dimensions from the
    logical screen descriptor, frame count from the image descriptors,
    total duration from the Graphic Control Extension delays. Skips
    sub-block chains without decompressing pixels (metadata pass, not
    a pixel pass). Raises ValueError on non-GIF bytes."""
    if payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("unsupported animation format (expect GIF)")
    try:
        return _walk_gif(payload)
    except (IndexError, struct.error) as e:
        raise ValueError("corrupt GIF: truncated") from e


def _walk_gif(payload: bytes) -> dict:
    width, height = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
    n_frames, duration_cs = 0, 0

    def skip_subblocks(p: int) -> int:
        while payload[p]:
            p += payload[p] + 1
        return p + 1

    while pos < len(payload):
        tag = payload[pos]
        if tag == 0x3B:  # trailer
            break
        if tag == 0x21:  # extension
            if payload[pos + 1] == 0xF9:  # graphic control: delay at +4
                (d,) = struct.unpack("<H", payload[pos + 4 : pos + 6])
                duration_cs += d
            pos = skip_subblocks(pos + 2)
        elif tag == 0x2C:  # image descriptor
            n_frames += 1
            ipacked = payload[pos + 9]
            pos += 10 + (3 * (2 << (ipacked & 0x07)) if ipacked & 0x80 else 0)
            pos += 1  # LZW min code size
            pos = skip_subblocks(pos)
        else:
            raise ValueError(f"corrupt GIF: unknown block 0x{tag:02x}")
    if n_frames == 0:
        raise ValueError("corrupt GIF: no image descriptors")
    return {
        "format": "gif",
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "duration_cs": duration_cs,
    }


def with_test_animations(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic VALID animated GIF per row: n_frames = id % 7 + 1,
    4 cs per frame, dims (id % 11 + 2, id % 5 + 2) -- pure functions of
    the id so the SQL oracle verifies the block walk end to end."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            payloads = [
                encode_gif_frames(
                    int(i) % 11 + 2, int(i) % 5 + 2, int(i) % 7 + 1, seed=int(i)
                )
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    return df.select(F.col(id_col).alias("doc_id")).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )


def frame_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched REAL GIF frame walk; bytes die in the projection."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [decode_frames(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "format": [m["format"] for m in metas],
                    "width": pd.Series([m["width"] for m in metas], dtype="int32"),
                    "height": pd.Series([m["height"] for m in metas], dtype="int32"),
                    "n_frames": pd.Series(
                        [m["n_frames"] for m in metas], dtype="int32"
                    ),
                    "duration_cs": pd.Series(
                        [m["duration_cs"] for m in metas], dtype="int64"
                    ),
                }
            )

    return df.select(id_col, "payload").mapInPandas(batches, FRAMES_SCHEMA)


def decode_gray_pixels(payload: bytes) -> list[list[int]]:
    """REAL pixel decode to a grayscale matrix for the two image
    containers this module writes: 8-bit grayscale PNG (zlib inflate +
    filter-0 scanline strip) and 24-bit bottom-up BMP (BGR rows, 4-byte
    padded, integer luma (r+g+b)//3 -- deterministic, no float). Raises
    on other containers/filters: this is a decoder for the synthesized
    corpus, not a general codec (the honest-stub rule)."""
    meta = decode_image(payload)
    w, h = meta["width"], meta["height"]
    if meta["format"] == "png":
        # locate IDAT, inflate, strip the per-row filter byte
        p = 8
        idat = b""
        while p < len(payload):
            (ln,) = struct.unpack(">I", payload[p : p + 4])
            tag = payload[p + 4 : p + 8]
            if tag == b"IDAT":
                idat += payload[p + 8 : p + 8 + ln]
            p += 12 + ln
        raw = zlib.decompress(idat)
        rows = []
        for y in range(h):
            off = y * (w + 1)
            if raw[off] != 0:
                raise ValueError(f"unsupported PNG filter {raw[off]}")
            rows.append(list(raw[off + 1 : off + 1 + w]))
        return rows
    if meta["format"] == "bmp":
        (data_off,) = struct.unpack("<I", payload[10:14])
        row_bytes = (w * 3 + 3) // 4 * 4
        rows = []
        for y in range(h - 1, -1, -1):  # bottom-up storage
            off = data_off + y * row_bytes
            row = []
            for x in range(w):
                b3 = payload[off + 3 * x : off + 3 * x + 3]
                row.append((b3[0] + b3[1] + b3[2]) // 3)
            rows.append(row)
        return rows
    raise ValueError(f"no pixel decoder for {meta['format']}")


def ahash64(pixels: list[list[int]]) -> int:
    """64-bit average hash over an 8x8 block grid -- ALL-INTEGER
    arithmetic so the signature is engine/platform-exact: block value =
    floor-mean of its pixel block; bit i = 1 iff block_i * 64 > sum of
    all 64 block values (strict, floor-free comparison). Invariant to
    uniform brightness shifts that don't wrap -- the property that makes
    it a PERCEPTUAL near-dup key rather than a byte fingerprint."""
    h, w = len(pixels), len(pixels[0])
    blocks = []
    for i in range(8):
        y0, y1 = i * h // 8, (i + 1) * h // 8
        for j in range(8):
            x0, x1 = j * w // 8, (j + 1) * w // 8
            acc = 0
            cnt = 0
            for y in range(y0, y1):
                row = pixels[y]
                for x in range(x0, x1):
                    acc += row[x]
                    cnt += 1
            blocks.append(acc // cnt if cnt else 0)
    total = sum(blocks)
    sig = 0
    for i, v in enumerate(blocks):
        if v * 64 > total:
            sig |= 1 << (63 - i)
    return sig - (1 << 64) if sig >= (1 << 63) else sig  # int64 two's-complement


AHASH_SCHEMA = "doc_id bigint, ahash bigint"


def image_ahash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched perceptual hashing: payload -> real pixel decode ->
    64-bit integer aHash. Images need >= 8px on each side for a
    meaningful 8x8 grid; smaller payloads are dropped (recorded choice:
    a sub-8px image has no 64-block structure to hash). Downstream
    pairing shuffles only (id, 8-byte signature) -- pixels never leave
    the scan stage; the signature then feeds the SAME pigeonhole
    banding as text SimHash (``dedup.hamming_neardup_pairs``)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_sigs = [], []
            for i, p in zip(pdf[id_col].astype("int64"), pdf["payload"]):
                px = decode_gray_pixels(p)
                if len(px) >= 8 and len(px[0]) >= 8:
                    out_ids.append(int(i))
                    out_sigs.append(ahash64(px))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_ids, dtype="int64"),
                    "ahash": pd.Series(out_sigs, dtype="int64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(batches, AHASH_SCHEMA)


def with_test_images_textured(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a 2-D textured grayscale PNG per row, with PLANTED
    perceptual families: ids sharing ``id // 10`` get the same texture
    and dimensions; each member perturbs ONE 8x8 grid cell by +128
    (mod 256), so same-family pairs sit within a small hamming distance
    of each other's aHash while cross-family textures are quasi-random
    (far apart). The 1-D gradient payloads of ``with_test_images`` are
    DEGENERATE for perceptual hashing -- every row identical makes the
    block grid collapse to 8 column values and most images hash alike
    -- so the pHash path gets its own content while the header-decode
    oracle keeps the original payloads untouched."""

    def texture_png(doc_id: int) -> bytes:
        fam, m = doc_id // 10, doc_id % 10
        w, h = fam % 61 + 8, fam * 13 % 47 + 8
        by, bx = m % 8, (m * 3) % 8
        rows = []
        for y in range(h):
            row = bytearray()
            for x in range(w):
                v = (fam * 37 + y * y * 3 + x * x * 5 + (y * x) % 7 * 11) % 256
                if y * 8 // h == by and x * 8 // w == bx:
                    v = (v + 128) % 256
                row.append(v)
            rows.append(bytes(row))
        import zlib as _z

        def chunk(tag: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", _z.crc32(tag + data))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        raw = b"".join(b"\x00" + r for r in rows)
        return (
            _PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(raw, 1))
            + chunk(b"IEND", b"")
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [texture_png(int(i)) for i in ids]}
            )

    return df.select(F.col(id_col).alias("doc_id")).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )
