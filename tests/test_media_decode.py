"""Real WAV/BMP decode (operators.multimodal + q156): the stdlib
decoders must exactly invert the encoders (container structure included),
`decode_media` must dispatch/refuse correctly, and the registered query's
features must come from genuinely decoded bytes.
"""

from __future__ import annotations

import struct

import pytest

from retail_sales_etl_pipeline_spark.operators.multimodal import (
    MEDIA_LCG_A,
    MEDIA_LCG_B,
    MEDIA_LCG_M,
    MEDIA_P1,
    MEDIA_P2,
    decode_bmp,
    decode_media,
    decode_wav,
)


def _val(doc_id: int, i: int, mod: int) -> int:
    return (
        MEDIA_LCG_A * ((doc_id * MEDIA_P1 + i * MEDIA_P2) % MEDIA_LCG_M)
        + MEDIA_LCG_B
    ) % mod


def _wav_bytes(doc_id: int) -> tuple[bytes, list[int]]:
    n = 200 + doc_id % 57
    samples = [_val(doc_id, k, 65536) - 32768 for k in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data, samples


def _bmp_bytes(doc_id: int) -> tuple[bytes, int, int, bytes]:
    w, h = 8 + doc_id % 9, 6 + doc_id % 7
    logical = bytes(_val(doc_id, i, 256) for i in range(w * h * 3))
    row_size = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (row_size - w * 3)
    body = b"".join(
        logical[y * w * 3 : (y + 1) * w * 3] + pad
        for y in range(h - 1, -1, -1)
    )
    hdr = (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    )
    return hdr + body, w, h, logical


def test_wav_roundtrip_exact():
    for doc_id in (0, 2, 56, 114, 2048):
        payload, samples = _wav_bytes(doc_id)
        rate, got = decode_wav(payload)
        assert rate == 8000
        assert got == samples


def test_bmp_roundtrip_undoes_padding_and_row_order():
    # widths 8..16 include several not divisible by 4 — the padding and
    # bottom-up undo are load-bearing, not incidental
    seen_padded = 0
    for doc_id in (1, 3, 5, 7, 9, 11, 13, 127):
        payload, w, h, logical = _bmp_bytes(doc_id)
        gw, gh, got = decode_bmp(payload)
        assert (gw, gh) == (w, h)
        assert got == logical
        seen_padded += (w * 3) % 4 != 0
    assert seen_padded > 0


def test_decode_media_dispatch_and_honest_refusal():
    payload, samples = _wav_bytes(4)
    assert decode_media(payload, "audio/wav")[1] == samples
    bpayload, w, h, logical = _bmp_bytes(5)
    assert decode_media(bpayload, "image/bmp")[2] == logical
    # jpeg is decoded for real since q272 — the honest refusal moved to
    # mp3/mp4; a truncated jpeg is a ValueError from the real decoder
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8\xff", "image/jpeg")
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff", "audio/mp3")


def test_decoders_reject_malformed():
    with pytest.raises(ValueError):
        decode_bmp(b"XX" + b"\x00" * 60)
    payload, _, _, _ = _bmp_bytes(1)
    # corrupt bpp to 32
    bad = bytearray(payload)
    struct.pack_into("<H", bad, 28, 32)
    with pytest.raises(ValueError):
        decode_bmp(bytes(bad))


def test_q156_features_match_local_decode(spark):
    """The registered query's features equal a driver-side recompute that
    decodes payloads built by this file's own encoders with the public
    decoders."""
    from retail_sales_etl_pipeline_spark.plans.multimodal_queries import (
        q156_media_decode_features,
    )

    rows = {
        r.doc_id: (r.mime, r.n_units, r.sum_val, r.max_val, r.rate_or_width)
        for r in q156_media_decode_features(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert rows
    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id").collect()
    ]
    assert set(rows) == set(doc_ids)
    for did in doc_ids:
        if did % 2 == 0:
            payload, _ = _wav_bytes(did)
            rate, samples = decode_wav(payload)
            want = ("audio/wav", len(samples),
                    sum(abs(s) for s in samples),
                    max(abs(s) for s in samples), rate)
        else:
            payload, w, h, _ = _bmp_bytes(did)
            gw, gh, px = decode_bmp(payload)
            want = ("image/bmp", gw * gh, sum(px), max(px), gw)
        assert rows[did] == want, f"doc {did}"


# ---------------------------------------------------------------------------
# PNG path (round 11): encode -> decode round trip across ALL FIVE filter
# types, dispatch, honest refusal narrowed to jpeg/mp3/mp4, and the
# registered query checked against a driver-side encode + decode.
# ---------------------------------------------------------------------------

from retail_sales_etl_pipeline_spark.operators.multimodal import (  # noqa: E402
    decode_png,
    encode_png,
)


def _png_logical(did: int, w: int, h: int, color: int) -> bytes:
    n = w * h * (3 if color == 2 else 1)
    return bytes(
        (1103515245 * ((did * 100003 + i * 104729) % 1000003) + 12345) % 256
        for i in range(n)
    )


def test_png_roundtrip_every_filter_type():
    for ftype in range(5):
        logical = _png_logical(7, 9, 5, 2)
        payload = encode_png(9, 5, 2, logical, lambda y, f=ftype: f)
        assert decode_png(payload) == (9, 5, 2, logical), f"filter {ftype}"
    # grayscale + mixed filters (the corpus shape)
    logical = _png_logical(4, 8, 6, 0)
    payload = encode_png(8, 6, 0, logical, lambda y: (4 + y) % 5)
    assert decode_png(payload) == (8, 6, 0, logical)


def test_png_decode_media_dispatch_and_remaining_gate():
    logical = _png_logical(3, 5, 4, 0)
    payload = encode_png(5, 4, 0, logical)
    assert decode_media(payload, "image/png")[3] == logical
    # the honest gate now covers only mp3/mp4 (q272 closed jpeg)
    for mime in ("audio/mp3", "video/mp4"):
        with pytest.raises(NotImplementedError):
            decode_media(b"\x00" * 16, mime)
    # jpeg dispatches to the real decoder, which rejects garbage
    with pytest.raises(ValueError):
        decode_media(b"\x00" * 16, "image/jpeg")


def test_png_rejects_corruption_and_unsupported():
    logical = _png_logical(3, 5, 4, 2)
    payload = encode_png(5, 4, 2, logical)
    bad = bytearray(payload)
    bad[40] ^= 0xFF  # flip a byte inside a chunk -> CRC mismatch
    with pytest.raises(ValueError):
        decode_png(bytes(bad))
    with pytest.raises(ValueError):
        decode_png(b"notapng" + b"\x00" * 32)
    # truncated mid-chunk (IEND gone + one byte of IDAT CRC): error
    # contract is ValueError, not struct.error
    with pytest.raises(ValueError):
        decode_png(payload[: len(payload) - 13])
    # nonzero IHDR compression-method / filter-method bytes must be
    # rejected, not decoded under wrong assumptions (spec requires 0/0)
    import struct
    import zlib

    for field_off in (10, 11):  # comp, filt within the 13-byte IHDR data
        bad2 = bytearray(payload)
        ihdr_data_at = 8 + 8  # sig + len/type of first chunk (IHDR)
        bad2[ihdr_data_at + field_off] = 1
        fixed = zlib.crc32(bytes(bad2[ihdr_data_at - 4 : ihdr_data_at + 13]))
        struct.pack_into(">I", bad2, ihdr_data_at + 13, fixed & 0xFFFFFFFF)
        with pytest.raises(ValueError):
            decode_png(bytes(bad2))


def test_q265_features_match_local_decode(spark):
    """The registered query's features equal a driver-side recompute with
    the public encode_png/decode_png."""
    from retail_sales_etl_pipeline_spark.plans.multimodal_queries import (
        q265_png_decode_features,
    )

    rows = {
        r.doc_id: (r.color_type, r.width, r.height, r.n_units, r.sum_val,
                   r.max_val)
        for r in q265_png_decode_features(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert rows
    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id").collect()
    ]
    assert set(rows) == set(doc_ids)
    for did in doc_ids:
        w, h = 8 + did % 9, 6 + did % 7
        color = 0 if did % 2 == 0 else 2
        logical = _png_logical(did, w, h, color)
        payload = encode_png(w, h, color, logical,
                             lambda y, d=did: (d + y) % 5)
        gw, gh, gc, px = decode_png(payload)
        assert rows[did] == (gc, gw, gh, gw * gh, sum(px), max(px)), did


# --- baseline JPEG codec (q272, round-12 closure of the image gate) ----

from retail_sales_etl_pipeline_spark.operators.multimodal import (  # noqa: E402
    JPEG_Q_AC,
    JPEG_Q_DC,
    JPEG_ZIGZAG,
    decode_jpeg,
    decode_jpeg_numpy,
    encode_jpeg_baseline,
)


def _block_constant_plane(w: int, h: int, vals):
    bw = w // 8
    plane = bytearray(w * h)
    for b, v in enumerate(vals):
        by, bx = divmod(b, bw)
        for y in range(8):
            o = (by * 8 + y) * w + bx * 8
            plane[o : o + 8] = bytes([v] * 8)
    return bytes(plane)


def test_jpeg_block_constant_roundtrip_exact():
    w, h = 24, 16
    vals = [(17 * b + 40) % 256 for b in range(6)]
    plane = _block_constant_plane(w, h, vals)
    assert decode_jpeg(encode_jpeg_baseline(w, h, [plane])) == (
        w, h, 1, plane
    )
    # color container, constant-128 chroma: decoded RGB == Y exactly
    gray128 = bytes([128] * (w * h))
    ww, hh, nc, px = decode_jpeg(
        encode_jpeg_baseline(w, h, [plane, gray128, gray128])
    )
    assert (ww, hh, nc) == (w, h, 3)
    assert all(
        px[3 * i] == plane[i] == px[3 * i + 1] == px[3 * i + 2]
        for i in range(w * h)
    )


def test_jpeg_arbitrary_image_matches_numpy_reference():
    """Full AC path (runs, EOB, nonzero frequencies) against an
    INDEPENDENT numpy pipeline: matrix DCT -> same half-up quantize ->
    dequantize -> matrix IDCT -> same half-up round + clip. Pixel-exact
    agreement proves Huffman encode/decode, zigzag, DC prediction and
    the IDCT are all right — not merely 'close'."""
    import math

    import numpy as np

    w, h = 16, 8
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    payload = encode_jpeg_baseline(w, h, [img.tobytes()])
    W, H, nc, out = decode_jpeg(payload)
    assert (W, H, nc) == (w, h, 1)

    M = np.array(
        [
            [
                (1 / math.sqrt(2) if u == 0 else 1.0)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    q = np.full((8, 8), JPEG_Q_AC, dtype=np.float64)
    q[0, 0] = JPEG_Q_DC
    want = np.zeros((h, w), dtype=np.int64)
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(
                np.float64
            ) - 128.0
            S = 0.25 * (M @ blk @ M.T)
            C = np.floor(S / q + 0.5)  # encoder's quantizer
            R = 0.25 * (M.T @ (C * q) @ M)  # dequant + IDCT
            want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.floor(R + 0.5) + 128, 0, 255
            ).astype(np.int64)
    got = np.frombuffer(out, dtype=np.uint8).reshape(h, w).astype(np.int64)
    assert np.array_equal(got, want)
    # the vectorized IDCT the Arrow UDF runs is bit-identical, AC path
    # and YCbCr->RGB included
    assert decode_jpeg_numpy(payload) == (W, H, nc, out)
    color = encode_jpeg_baseline(w, h, [img.tobytes(), img[::-1].tobytes(),
                                        img[:, ::-1].tobytes()])
    assert decode_jpeg_numpy(color) == decode_jpeg(color)
    # the stream genuinely contains AC codes: a DC-only payload of the
    # same dims is much smaller
    dc_only = encode_jpeg_baseline(
        w, h, [_block_constant_plane(w, h, [77, 77])]
    )
    assert len(payload) > len(dc_only) + 40


def test_jpeg_rejects_unsupported_and_corrupt():
    w, h = 8, 8
    payload = encode_jpeg_baseline(w, h, [bytes(range(64))])
    with pytest.raises(ValueError):
        decode_jpeg(b"nope" + payload[4:])
    with pytest.raises(ValueError):
        decode_jpeg(payload[: len(payload) // 2])  # truncated
    # flip SOF0 -> SOF2 (progressive): marker byte 0xC0 -> 0xC2
    sof = payload.index(b"\xff\xc0")
    prog = payload[:sof + 1] + b"\xc2" + payload[sof + 2 :]
    with pytest.raises(ValueError):
        decode_jpeg(prog)
    # 2x1 subsampling in SOF comp spec
    sub = bytearray(payload)
    sub[sof + 11] = 0x21  # component 1 sampling byte
    with pytest.raises(ValueError):
        decode_jpeg(bytes(sub))
    # legal multi-scan baseline: the first SOS codes only component 1 of
    # the 3 that SOF0 declares (the rest would follow in later scans)
    gray = bytes(range(64))
    color = encode_jpeg_baseline(w, h, [gray, gray, gray])
    sos = color.index(b"\xff\xda")
    (seglen,) = struct.unpack_from(">H", color, sos + 2)
    one_comp = b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00\x00\x3f\x00"
    multi = color[:sos] + one_comp + color[sos + 2 + seglen :]
    with pytest.raises(ValueError, match="multi-scan JPEG unsupported"):
        decode_jpeg(multi)


def test_jpeg_zigzag_is_the_standard_order():
    # spot-pin the T.81 figure A.6 order and its permutation property
    assert JPEG_ZIGZAG[:8] == [0, 1, 8, 16, 9, 2, 3, 10]
    assert JPEG_ZIGZAG[-3:] == [55, 62, 63]
    assert sorted(JPEG_ZIGZAG) == list(range(64))


def test_q272_features_match_local_decode(spark):
    """The registered query's features (numpy-DCT encoder in synth, numpy
    IDCT in features) equal a driver-side recompute with the scalar
    encode_jpeg_baseline/decode_jpeg."""
    from retail_sales_etl_pipeline_spark.operators.multimodal import (
        synth_jpeg_payloads,
    )
    from retail_sales_etl_pipeline_spark.plans.multimodal_queries import (
        q272_jpeg_decode_features,
    )

    got = {
        r.doc_id: (r.n_comp, r.width, r.height, r.n_units, r.sum_val,
                   r.max_val)
        for r in q272_jpeg_decode_features(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id")
    payloads = {
        r.doc_id: bytes(r.payload)
        for r in synth_jpeg_payloads(docs).filter("doc_id < 12").collect()
    }
    assert len(payloads) == 12
    for did, payload in payloads.items():
        w, h, nc, px = decode_jpeg(payload)
        assert got[did] == (nc, w, h, w * h, sum(px), max(px))
        # and the numpy-DCT encoder is byte-identical to the scalar one
        # on the same planes
        bw, bh = w // 8, h // 8
        A, B, Mm = 1_103_515_245, 12_345, 1_000_003
        P1, P2 = 100_003, 104_729
        vals = [
            (A * ((did * P1 + b * P2) % Mm) + B) % 256
            for b in range(bw * bh)
        ]
        plane = _block_constant_plane(w, h, vals)
        planes = [plane]
        if nc == 3:
            planes += [bytes([128] * (w * h))] * 2
        assert payload == encode_jpeg_baseline(w, h, planes)
