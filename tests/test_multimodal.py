"""Multimodal binary-column plumbing: Arrow-batched transforms with
stubbed decoders must have real schemas, determinism, and batch shape."""

import pytest

from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.multimodal import (
    decode_image,
    encode_bmp_rgb,
    encode_jpeg,
    encode_png_gray,
    image_dimensions,
    with_test_images,
    with_test_jpegs,
)

from conftest import TESTDATA


def test_decode_image_png_bmp_roundtrip():
    for w, h in [(1, 1), (4, 7), (61, 47), (640, 480)]:
        assert decode_image(encode_png_gray(w, h, seed=5)) == {
            "format": "png", "width": w, "height": h, "bit_depth": 8,
        }
        assert decode_image(encode_bmp_rgb(w, h, seed=5)) == {
            "format": "bmp", "width": w, "height": h, "bit_depth": 24,
        }


def test_decode_image_parses_foreign_headers():
    """Headers NOT produced by our encoders -- hand-packed bytes per
    spec -- so the parser is checked against the format, not against
    its sibling encoder (no writer/reader circularity)."""
    import struct

    # PNG: 333 x 77, 16-bit; IHDR immediately after the 8-byte signature
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">IIBBBBB", 333, 77, 16, 0, 0, 0, 0)
        + b"\x00\x00\x00\x00"
    )
    assert decode_image(png) == {
        "format": "png", "width": 333, "height": 77, "bit_depth": 16,
    }
    # BMP with NEGATIVE height (top-down row order): reported as positive
    bmp = (
        struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 12, -34, 1, 32, 0, 0, 0, 0, 0, 0)
    )
    assert decode_image(bmp) == {
        "format": "bmp", "width": 12, "height": 34, "bit_depth": 32,
    }


def test_decode_image_rejects_unknown_and_corrupt():
    with pytest.raises(ValueError, match="unsupported"):
        decode_image(b"GIF89a......")
    with pytest.raises(ValueError, match="IHDR"):
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20)  # wrong first chunk


def test_png_payload_is_standard_decodable():
    """The synthesized PNG must be genuinely valid, not merely
    self-consistent: verify chunk CRCs and decompress the IDAT stream
    to exactly height * (1 + width) filter-0 scanline bytes."""
    import struct
    import zlib

    w, h = 13, 9
    p = encode_png_gray(w, h, seed=2)
    off, chunks = 8, {}
    while off < len(p):
        (ln,) = struct.unpack(">I", p[off : off + 4])
        tag = p[off + 4 : off + 8]
        data = p[off + 8 : off + 8 + ln]
        (crc,) = struct.unpack(">I", p[off + 8 + ln : off + 12 + ln])
        assert crc == zlib.crc32(tag + data), f"bad CRC on {tag}"
        chunks[tag] = data
        off += 12 + ln
    assert set(chunks) == {b"IHDR", b"IDAT", b"IEND"}
    assert len(zlib.decompress(chunks[b"IDAT"])) == h * (1 + w)


def test_decode_jpeg_roundtrip_all_variants():
    for w, h in [(8, 8), (97, 143), (640, 480), (65535, 65535)]:
        for gray, prog in [(True, False), (False, False), (False, True)]:
            m = decode_image(encode_jpeg(w, h, seed=3, gray=gray, progressive=prog))
            assert m == {
                "format": "jpeg_progressive" if prog else "jpeg",
                "width": w,
                "height": h,
                "bit_depth": 8 if gray else 24,
            }


def test_decode_jpeg_parses_foreign_headers():
    """Marker streams NOT produced by our encoder -- hand-packed per
    ITU T.81 -- so the walker is checked against the format, not its
    sibling encoder: an EXIF APP1 + COM + DRI ahead of an SOF1
    (extended sequential) frame, with 0xFF fill padding before SOF."""
    import struct

    def seg(marker, data):
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    sof1 = struct.pack(">BHHB", 12, 1080, 1920, 3) + bytes(
        [1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    payload = (
        b"\xff\xd8"
        + seg(0xE1, b"Exif\x00\x00" + b"II*\x00" + b"\x00" * 8)
        + seg(0xFE, b"made by a real camera")
        + seg(0xDD, struct.pack(">H", 8))
        + b"\xff"  # fill byte ahead of the SOF marker (B.1.1.2)
        + seg(0xC1, sof1)[1:]
    )
    assert decode_image(payload) == {
        "format": "jpeg", "width": 1920, "height": 1080, "bit_depth": 36,
    }


def test_decode_jpeg_rejects_corruption():
    good = encode_jpeg(32, 24, seed=5)
    with pytest.raises(ValueError, match="overruns"):
        decode_image(good[:9])  # cut inside APP0 (length points past end)
    with pytest.raises(ValueError, match="truncated"):
        decode_image(good[:3])  # cut inside the APP0 marker itself
    with pytest.raises(ValueError, match="no SOF"):
        decode_image(b"\xff\xd8\xff\xda\x00\x08" + b"\x00" * 6)  # SOS first
    with pytest.raises(ValueError, match="no SOF"):
        decode_image(b"\xff\xd8\xff\xd9")  # empty SOI+EOI
    with pytest.raises(ValueError, match="desync"):
        decode_image(b"\xff\xd8\x00\x00\x00\x00")  # garbage after SOI
    with pytest.raises(ValueError, match="standalone"):
        decode_image(b"\xff\xd8\xff\xd3")  # RST outside scan data
    with pytest.raises(ValueError, match="overruns"):
        # APP0 length field pointing past the end of the payload
        decode_image(b"\xff\xd8\xff\xe0\xff\xff" + b"\x00" * 4)
    with pytest.raises(ValueError, match="component table"):
        # SOF length inconsistent with its component count
        bad_sof = (
            b"\xff\xd8\xff\xc0\x00\x0b"
            + bytes([8]) + (24).to_bytes(2, "big") + (32).to_bytes(2, "big")
            + bytes([3, 1, 0x11, 0])  # claims 3 comps, carries 1
        )
        decode_image(bad_sof)


def test_jpeg_entropy_bytes_are_stuffed():
    """No bare 0xFF may survive inside the entropy segment, or a
    marker walker would misparse scan data as a marker; the encoder
    must byte-stuff (0xFF -> 0xFF 0x00) per B.1.1.5."""
    for seed in range(40):
        p = encode_jpeg(50 + seed, 60, seed=seed, gray=seed % 2 == 0)
        sos_at = p.find(b"\xff\xda")
        scan = p[sos_at + 2 :][: -2]  # between SOS marker and EOI
        i = p[sos_at + 2 : sos_at + 4]
        body = scan[int.from_bytes(i, "big") :]
        for k, b in enumerate(body[:-1]):
            if b == 0xFF:
                assert body[k + 1] == 0x00, f"bare 0xFF at {k} (seed {seed})"


def test_image_dimensions_jpeg_spark_path(spark):
    """SOF fields parsed from bytes on executors == values computed
    from ids (the oracle arithmetic for image_dims_jpeg)."""
    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet").limit(30)
    out = image_dimensions(with_test_jpegs(docs)).collect()
    assert len(out) == 30
    for r in out:
        assert r.format == ("jpeg_progressive" if r.doc_id % 3 == 0 else "jpeg")
        assert r.width == r.doc_id % 199 + 8
        assert r.height == r.doc_id * 17 % 151 + 8
        assert r.bit_depth == (8 if r.doc_id % 3 == 1 else 24)


def test_image_dimensions_spark_path(spark):
    """Dims parsed from bytes on executors == dims computed from ids."""
    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet").limit(30)
    out = image_dimensions(with_test_images(docs)).collect()
    assert len(out) == 30
    for r in out:
        assert r.format == ("png" if r.doc_id % 2 == 0 else "bmp")
        assert r.width == r.doc_id % 61 + 4
        assert r.height == r.doc_id * 13 % 47 + 4
        assert r.bit_depth == (8 if r.doc_id % 2 == 0 else 24)


def _box_resample(px, ow, oh):
    """Integer box-mean resample of a grayscale matrix to ow x oh."""
    h, w = len(px), len(px[0])
    out = []
    for y in range(oh):
        y0, y1 = y * h // oh, max(y * h // oh + 1, (y + 1) * h // oh)
        row = []
        for x in range(ow):
            x0 = x * w // ow
            x1 = max(x0 + 1, (x + 1) * w // ow)
            vals = [px[yy][xx] for yy in range(y0, y1) for xx in range(x0, x1)]
            row.append(sum(vals) // len(vals))
        out.append(row)
    return out


def test_resized_near_dups_still_band_together(spark):
    """The point of a PERCEPTUAL pipeline: an image and its resized
    copy keep nearly identical aHashes, so the same 16-bit pigeonhole
    banding that pairs text SimHash near-dups still buckets them
    (hamming <= 3 guarantees a shared band among 4)."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.multimodal import (  # noqa: E501
        ahash64,
        decode_gray_pixels,
        with_test_images_textured,
    )

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet").limit(8)
    payloads = {
        r.doc_id: bytes(r.payload)
        for r in with_test_images_textured(docs).collect()
    }
    assert len(payloads) == 8
    for doc_id, p in payloads.items():
        px = decode_gray_pixels(p)
        orig = ahash64(px) & (2**64 - 1)
        half = ahash64(
            _box_resample(px, max(8, len(px[0]) // 2), max(8, len(px) // 2))
        ) & (2**64 - 1)
        dist = bin(orig ^ half).count("1")
        assert dist <= 3, (doc_id, dist)


def test_wav_decode_walks_chunks_and_rejects_corruption():
    """decode_audio on a FOREIGN wav (extra LIST chunk before fmt,
    odd-size chunk word-aligned) -- not just our own encoder's output;
    truncated/alien bytes raise."""
    import struct

    import pytest as _pytest

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.multimodal import (
        decode_audio,
        encode_wav_pcm,
    )

    # roundtrip of our encoder
    m = decode_audio(encode_wav_pcm(320, sample_rate=8000, channels=2, seed=3))
    assert m == {
        "format": "wav", "channels": 2, "sample_rate": 8000, "bits": 16,
        "n_samples": 320, "duration_ms": 320 * 1000 // 8000,
    }

    # foreign layout: LIST chunk (odd size 7 -> padded to 8) BEFORE fmt
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 44100, 44100 * 2, 2, 16)
    data = struct.pack("<4sI", b"data", 4) + b"\x01\x02\x03\x04"
    lst = struct.pack("<4sI", b"LIST", 7) + b"INFOabc" + b"\x00"
    body = lst + fmt + data
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
    m = decode_audio(wav)
    assert (m["channels"], m["sample_rate"], m["n_samples"]) == (1, 44100, 2)

    with _pytest.raises(ValueError):
        decode_audio(b"OggS\x00\x00")
    with _pytest.raises(ValueError):
        decode_audio(struct.pack("<4sI4s", b"RIFF", 4, b"WAVE"))  # no chunks


def test_gif_frame_walk_counts_frames_and_duration():
    """decode_frames: frame count from image descriptors, duration from
    GCE delays, robust to truncation and foreign formats."""
    import pytest as _pytest

    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.multimodal import (
        decode_frames,
        encode_gif_frames,
    )

    m = decode_frames(encode_gif_frames(5, 3, 4, delay_cs=6, seed=2))
    assert m == {
        "format": "gif", "width": 5, "height": 3, "n_frames": 4,
        "duration_cs": 24,
    }
    with _pytest.raises(ValueError):
        decode_frames(b"MP4\x00\x00\x00")
    with _pytest.raises(ValueError):
        decode_frames(b"GIF89a" + b"\x00" * 4)


def test_pixel_decode_roundtrips_both_containers():
    """decode_gray_pixels inverts the module's own encoders exactly:
    PNG grayscale byte-for-byte; BMP through the integer luma."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.multimodal import (  # noqa: E501
        decode_gray_pixels,
        encode_bmp_rgb,
        encode_png_gray,
    )

    png = decode_gray_pixels(encode_png_gray(9, 5, seed=7))
    assert len(png) == 5 and len(png[0]) == 9
    assert png[0] == [(7 + x) % 256 for x in range(9)]
    assert png[4] == png[0]  # encoder repeats the row
    bmp = decode_gray_pixels(encode_bmp_rgb(6, 4, seed=3))
    assert len(bmp) == 4 and len(bmp[0]) == 6
    # encoder writes (seed + y + 3b)%256 per BYTE b, rows stored
    # bottom-up -- the decoded TOP row is storage row y = h-1 = 3
    want = [
        sum((3 + 3 + 3 * (3 * x + k)) % 256 for k in range(3)) // 3
        for x in range(6)
    ]
    assert bmp[0] == want


def test_ahash_is_brightness_invariant_and_content_sensitive():
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.multimodal import (  # noqa: E501
        ahash64,
    )

    base = [[(y * 11 + x * 7) % 200 for x in range(16)] for y in range(16)]
    brighter = [[v + 55 for v in row] for row in base]  # no wrap (<256)
    assert ahash64(base) == ahash64(brighter)
    flipped = [row[:] for row in base]
    for y in range(8):
        for x in range(8):
            flipped[y][x] = 255 - flipped[y][x]
    assert ahash64(base) != ahash64(flipped)


def test_image_phash_neardup_matches_bruteforce_and_families(spark):
    """The banded pipeline over the textured corpus returns EXACTLY the
    brute-force hamming<=3 pair set (pigeonhole recall 1.0, verify
    precision 1.0); every returned pair is same-family (cross-family
    textures are >20 bits apart by construction); reruns identical."""
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.dedup import (  # noqa: E501
        hamming_neardup_pairs,
    )
    from retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark.operators.multimodal import (  # noqa: E501
        image_ahash,
        with_test_images_textured,
    )

    from pyspark.sql import functions as F

    docs = spark.range(0, 80).select(F.col("id").alias("doc_id"))
    sigs = image_ahash(with_test_images_textured(docs)).persist()
    hashes = {r.doc_id: r.ahash for r in sigs.collect()}
    want = set()
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                want.add((a, b, d))
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_neardup_pairs(
            sigs, id_col="doc_id", sig_col="ahash"
        ).collect()
    }
    assert got == want and got
    assert all(a // 10 == b // 10 for a, b, _ in got)  # same family only
    again = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_neardup_pairs(
            sigs, id_col="doc_id", sig_col="ahash"
        ).collect()
    }
    assert again == got
