"""Multimodal binary-column plumbing: media_features and frame sampling.

The decode step is stubbed (no codecs in this container) — these tests pin
the Spark-side contract that IS real: mapInPandas schema, Arrow binary
transfer, one-to-many fan-out shape, and chunk-boundary arithmetic.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_data_counter_spark.operators import multimodal as MM

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _payloads(spark, rows):
    return spark.createDataFrame(rows, PAYLOAD_SCHEMA)


def test_media_features_byte_stats(spark):
    df = _payloads(
        spark,
        [
            (1, b"\x7fELF" + b"x" * 100),
            (2, b""),
            (3, None),
            (4, b"a" * MM.FRAME_BYTES),
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in MM.media_features(df).collect()}
    assert got[1]["size_bytes"] == 104
    assert got[1]["n_frames"] == 1
    assert got[1]["head_byte"] == 0x7F
    assert got[2] == {"doc_id": 2, "size_bytes": 0, "n_frames": 0, "head_byte": -1}
    assert got[3]["size_bytes"] == 0 and got[3]["head_byte"] == -1
    assert got[4]["n_frames"] == 1  # exactly one full frame, not two


def test_sample_frames_fanout_and_boundaries(spark):
    fb = MM.FRAME_BYTES
    df = _payloads(
        spark,
        [
            (1, b"a" * (3 * fb + 10)),  # 4 frames -> keep idx 0, 2
            (2, b"b" * fb),  # exactly one frame -> idx 0 only
            (3, b""),  # empty -> no rows
            (4, None),  # null -> no rows
            (5, b"c" * (2 * fb)),  # 2 frames -> idx 0 only (every_k=2)
        ],
    )
    rows = MM.sample_frames(df, every_k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)

    assert sorted(by_doc) == [1, 2, 5]
    assert [r["frame_idx"] for r in sorted(by_doc[1], key=lambda r: r["frame_idx"])] == [0, 2]
    assert len(by_doc[1][0]["frame"]) == fb
    # last kept frame of doc 1 is a full frame (idx 2 of 4)
    assert all(len(r["frame"]) == fb for r in by_doc[1])
    assert by_doc[2][0]["frame_idx"] == 0 and len(by_doc[2][0]["frame"]) == fb
    assert by_doc[5][0]["frame_idx"] == 0


def test_sample_frames_tail_frame_is_short(spark):
    fb = MM.FRAME_BYTES
    df = _payloads(spark, [(1, b"x" * (2 * fb + 7))])  # 3 frames: idx 0,1,2
    rows = {r["frame_idx"]: r for r in MM.sample_frames(df, every_k=1).collect()}
    assert sorted(rows) == [0, 1, 2]
    assert len(rows[0]["frame"]) == fb
    assert len(rows[2]["frame"]) == 7  # short tail preserved, not padded


def test_sample_frames_every_k_one_covers_all(spark):
    fb = MM.FRAME_BYTES
    df = _payloads(spark, [(1, b"y" * (5 * fb))])
    idxs = sorted(r["frame_idx"] for r in MM.sample_frames(df, every_k=1).collect())
    assert idxs == [0, 1, 2, 3, 4]
    # reassembling every frame recovers the payload exactly
    frames = sorted(MM.sample_frames(df, every_k=1).collect(), key=lambda r: r["frame_idx"])
    assert b"".join(bytes(r["frame"]) for r in frames) == b"y" * (5 * fb)


def test_resize_media_exact_nearest_neighbor(spark):
    # 9 bytes -> 3x3 grid; resize to 2x2 must pick src pixels (0,0) (0,1)
    # via xs=[0,1], ys=[0,1]: rows 0,1 / cols 0,1 of the 3x3 grid
    payload = bytes(range(9))  # grid [[0,1,2],[3,4,5],[6,7,8]]
    df = _payloads(spark, [(1, payload)])
    (r,) = MM.resize_media(df, out_w=2, out_h=2).collect()
    assert (r["orig_w"], r["orig_h"], r["out_w"], r["out_h"]) == (3, 3, 2, 2)
    assert bytes(r["resized"]) == bytes([0, 1, 3, 4])


def test_resize_media_clamps_and_pads(spark):
    # 5 bytes -> 3x2 grid (ceil(sqrt(5))=3, ceil(5/3)=2), last cell padded;
    # out 16x16 clamps to 3x2 = identity (with the pad byte materialized)
    df = _payloads(spark, [(1, bytes([9, 8, 7, 6, 5])), (2, b"")])
    rows = {r["doc_id"]: r for r in MM.resize_media(df).collect()}
    r = rows[1]
    assert (r["orig_w"], r["orig_h"], r["out_w"], r["out_h"]) == (3, 2, 3, 2)
    assert bytes(r["resized"]) == bytes([9, 8, 7, 6, 5, 0])
    z = rows[2]
    assert (z["orig_w"], z["out_w"], len(bytes(z["resized"]))) == (0, 0, 0)


def test_resize_media_output_is_bounded(spark):
    # any payload collapses to at most out_w*out_h bytes — the property
    # that makes the feature table broadcastable at scale
    df = _payloads(spark, [(1, bytes(10_000))])
    (r,) = MM.resize_media(df, out_w=8, out_h=8).collect()
    assert len(bytes(r["resized"])) == 64


# ---------------------------------------------------------------------------
# round-4: pure-struct BMP/WAV codecs (VERDICT r3 item 7)
# ---------------------------------------------------------------------------

def test_bmp_roundtrip_recovers_gray_bytes():
    # widths that exercise 0/1/2/3-byte row padding
    for w, h in [(1, 1), (2, 3), (3, 2), (4, 4), (5, 3), (7, 1)]:
        gray = bytes((i * 37) % 256 for i in range(w * h))
        payload = MM.encode_bmp(gray, w, h)
        dw, dh, bgr = MM.decode_bmp(payload)
        assert (dw, dh) == (w, h)
        assert bgr[0::3] == gray          # blue channel
        assert bgr[1::3] == gray == bgr[2::3]
        # container size math: 54-byte headers + padded rows
        stride = (3 * w + 3) // 4 * 4
        assert len(payload) == 54 + h * stride


def test_decode_bmp_handles_handbuilt_topdown_file():
    import struct

    # hand-assembled 2x2 top-down 24-bit BMP (NOT produced by encode_bmp):
    # negative height means row 0 is stored first
    pixels_topdown = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    row0 = bytes(pixels_topdown[0] + pixels_topdown[1]) + b"\0\0"  # stride 8
    row1 = bytes(pixels_topdown[2] + pixels_topdown[3]) + b"\0\0"
    body = row0 + row1
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, len(body), 0, 0, 0, 0)
    w, h, bgr = MM.decode_bmp(hdr + info + body)
    assert (w, h) == (2, 2)
    assert bgr == bytes(range(1, 13))  # top-down row-major, no padding


def test_decode_bmp_rejects_unsupported_variants():
    import struct

    import pytest

    ok = MM.encode_bmp(b"\x01\x02\x03\x04", 2, 2)
    with pytest.raises(ValueError):
        MM.decode_bmp(b"XX" + ok[2:])            # bad magic
    with pytest.raises(ValueError):
        MM.decode_bmp(ok[:-3])                   # truncated pixels
    compressed = bytearray(ok)
    struct.pack_into("<I", compressed, 30, 1)    # BI_RLE8
    with pytest.raises(NotImplementedError):
        MM.decode_bmp(bytes(compressed))
    bpp8 = bytearray(ok)
    struct.pack_into("<H", bpp8, 28, 8)
    with pytest.raises(NotImplementedError):
        MM.decode_bmp(bytes(bpp8))


def test_wav_roundtrip_recovers_samples():
    samples = [0, 1, -1, 32767, -32768, 12345, -12345]
    payload = MM.encode_wav(samples, sample_rate=8000)
    rate, ch, bits, data = MM.decode_wav(payload)
    assert (rate, ch, bits) == (8000, 1, 16)
    import struct

    got = [struct.unpack_from("<h", data, 2 * i)[0] for i in range(len(samples))]
    assert got == samples
    assert len(payload) == 44 + 2 * len(samples)


def test_decode_wav_walks_extra_chunks():
    import struct

    # real-world files put LIST/fact chunks before data; the parser must
    # walk the chunk list, including the odd-size word-alignment rule
    base = MM.encode_wav([7, -7], sample_rate=44100)
    fmt_chunk = base[12:36]
    data_chunk = base[36:]
    extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\0"  # odd size padded
    body = fmt_chunk + extra + data_chunk
    payload = struct.pack("<4sI4s", b"RIFF", len(body) + 4, b"WAVE") + body
    rate, ch, bits, data = MM.decode_wav(payload)
    assert (rate, ch, bits) == (44100, 1, 16)
    assert struct.unpack("<hh", data) == (7, -7)


def test_decode_wav_rejects_non_pcm():
    import struct

    import pytest

    ok = MM.encode_wav([1], sample_rate=8000)
    with pytest.raises(ValueError):
        MM.decode_wav(b"RIFX" + ok[4:])
    mulaw = bytearray(ok)
    struct.pack_into("<H", mulaw, 20, 7)  # audio format 7 = mu-law
    with pytest.raises(NotImplementedError):
        MM.decode_wav(bytes(mulaw))
    with pytest.raises(ValueError):
        MM.decode_wav(ok[:20])


def test_decode_media_table_end_to_end(spark):
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "abc"), (2, "x" * 50), (3, "q")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in MM.decode_media_table(MM.documents_as_containers(docs)).collect()
    }
    import math

    for i, text in [(0, "hello world"), (2, "x" * 50)]:  # even -> BMP
        n = len(text.encode())
        w = math.ceil(math.sqrt(n)); h = math.ceil(n / w)
        r = out[i]
        assert r["kind"] == "bmp" and (r["width"], r["height"]) == (w, h)
        assert r["n_units"] == w * h and r["roundtrip_ok"]
        assert r["head_hex"] == f"{text.encode()[0]:02X}"
        assert r["n_payload_bytes"] == 54 + h * ((3 * w + 3) // 4 * 4)
    for i, text in [(1, "abc"), (3, "q")]:  # odd -> WAV
        n = len(text.encode())
        r = out[i]
        assert r["kind"] == "wav" and r["sample_rate"] == 8000
        assert r["n_units"] == n and r["roundtrip_ok"]
        assert r["n_payload_bytes"] == 44 + 2 * n


# ---------------------------------------------------------------------------
# PNG codec (pure stdlib zlib+struct)
# ---------------------------------------------------------------------------


def _png_with_filters(rows_by_filter, w, channels=1):
    """Hand-build a PNG whose scanlines use explicit filter types —
    exercises the decoder's Recon functions beyond encode_png's filter 0."""
    import struct
    import zlib

    from kinesis_data_counter_spark.operators import multimodal as MM

    raw = b"".join(bytes([ft]) + bytes(row) for ft, row in rows_by_filter)
    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", w, len(rows_by_filter), 8, color, 0, 0, 0)
    return (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(raw))
        + MM._png_chunk(b"IEND", b"")
    )


def test_png_roundtrip_and_all_filters():
    from kinesis_data_counter_spark.operators import multimodal as MM

    data = bytes((i * 7 + 3) % 256 for i in range(60))
    w, h, ch, px = MM.decode_png(MM.encode_png(data, 10, 6))
    assert (w, h, ch) == (10, 6, 1) and px == data

    # filters: 0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth — filtered bytes
    # hand-computed so the decoder must apply each Recon function
    rows = [
        (0, [10, 20, 30]),          # -> 10 20 30
        (1, [5, 5, 5]),             # Sub: 5, 10, 15
        (2, [1, 1, 1]),             # Up: 6, 11, 16
        (3, [4, 4, 4]),             # Avg: 7 (0+6)/2+4... recon left+up
        (4, [1, 1, 1]),             # Paeth
    ]
    w2, h2, ch2, px2 = MM.decode_png(_png_with_filters(rows, 3))
    assert (w2, h2, ch2) == (3, 5, 1)
    got = list(px2)
    assert got[0:3] == [10, 20, 30]
    assert got[3:6] == [5, 10, 15]          # Sub
    assert got[6:9] == [6, 11, 16]          # Up
    # Average: recon[i] = raw + (left + up)//2
    r3 = [(4 + ((0 + 6) >> 1)) & 0xFF]
    r3.append((4 + ((r3[0] + 11) >> 1)) & 0xFF)
    r3.append((4 + ((r3[1] + 16) >> 1)) & 0xFF)
    assert got[9:12] == r3
    # Paeth row decodes without error and stays in byte range
    assert all(0 <= b <= 255 for b in got[12:15])

    # RGB (color type 2)
    w3, h3, ch3, px3 = MM.decode_png(_png_with_filters([(0, [255, 0, 0, 0, 255, 0])], 2, channels=3))
    assert (w3, h3, ch3) == (2, 1, 3) and list(px3) == [255, 0, 0, 0, 255, 0]


def test_png_rejects_corruption_and_unsupported():
    import struct
    import zlib

    import pytest as _pytest

    from kinesis_data_counter_spark.operators import multimodal as MM

    good = MM.encode_png(b"hello world!", 4, 3)
    # corrupt one IDAT payload byte -> CRC mismatch must be DETECTED
    idat_at = good.find(b"IDAT")
    bad = bytearray(good)
    bad[idat_at + 5] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        MM.decode_png(bytes(bad))
    # invalid scanline filter type byte -> rejected after inflate
    raw = b"\x09" + bytes(4) + b"\x00" + bytes(4) + b"\x00" + bytes(4)
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    evil = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(raw))
        + MM._png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="filter"):
        MM.decode_png(evil)
    # interlaced and 16-bit gates
    for depth, color, interlace, err in [
        (8, 0, 1, "interlaced"),
        (16, 0, 0, "16-bit"),
        (8, 3, 0, "color type"),
    ]:
        ihdr2 = struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)
        p = (
            MM._PNG_SIG
            + MM._png_chunk(b"IHDR", ihdr2)
            + MM._png_chunk(b"IDAT", zlib.compress(b"\x00\x00"))
            + MM._png_chunk(b"IEND", b"")
        )
        with _pytest.raises(NotImplementedError):
            MM.decode_png(p)
    with _pytest.raises(ValueError, match="not a PNG"):
        MM.decode_png(b"nope")


def test_png_roundtrip_table_and_decode_media_dispatch(spark):
    from kinesis_data_counter_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "hello png world"), (1, ""), (2, None), (3, "x" * 100)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in MM.png_roundtrip_table(docs).collect()}
    assert rows[0].pixels_match and rows[3].pixels_match
    assert rows[0].n_pixels == rows[0].width * rows[0].height
    assert not rows[1].pixels_match and rows[1].width == 0
    assert not rows[2].pixels_match   # NULL text == empty, by the BMP rule
    assert rows[3].width == 10 and rows[3].height == 10
    # decode_media_table dispatches PNG payloads by signature
    payloads = spark.createDataFrame(
        [(0, bytearray(MM.encode_png(b"abcd", 2, 2)))],
        "doc_id long, payload binary",
    )
    (m,) = MM.decode_media_table(payloads).collect()
    assert (m.kind, m.width, m.height, m.n_units) == ("png", 2, 2, 4)
    assert m.roundtrip_ok and m.head_hex == "61"


def test_audio_features_roundtrip_known_wave(spark):
    # doc_id=3: period 5, amp 4000 — hand-checkable square wave. The
    # features must come from DECODED bytes (the operator asserts the
    # header round-trips), and RMS of a square wave IS its amplitude.
    from kinesis_data_counter_spark.operators.multimodal import (
        audio_features_roundtrip,
    )

    df = spark.createDataFrame([(3,), (10,), (None,)], "doc_id long")
    rows = {r.doc_id: r for r in audio_features_roundtrip(df).collect()}
    assert set(rows) == {3, 10}  # NULL id: no identity -> no waveform
    r3 = rows[3]
    assert (r3.n_samples, r3.peak, r3.rms) == (64, 4000, 4000.0)
    # zcr: sign flips every `period` samples across 64 samples
    assert r3.zcr == sum(
        1 for i in range(1, 64) if (i // 5) % 2 != ((i - 1) // 5) % 2
    )


def test_image_stats_roundtrip_known_grid(spark):
    # doc_id=0: pixel (x,y) = (7x + 13y) % 256 over a 12x8 grid — every
    # stat hand-derivable; the BMP bottom-up/stride path must not shift
    # a single pixel
    from kinesis_data_counter_spark.operators.multimodal import (
        image_stats_roundtrip,
    )

    df = spark.createDataFrame([(0,), (None,)], "doc_id long")
    rows = image_stats_roundtrip(df).collect()
    assert len(rows) == 1  # NULL id filtered
    r = rows[0]
    vals = [(x * 7 + y * 13) % 256 for y in range(8) for x in range(12)]
    assert (r.width, r.height) == (12, 8)
    assert r.px_min == min(vals) and r.px_max == max(vals)
    assert r.px_sum == sum(vals)
    assert r.n_dark == sum(1 for v in vals if v < 32)


def test_encode_wav_parses_with_stdlib_wave_module():
    # third-implementation container check: stdlib `wave` shares no code
    # with the pure-struct codec — header arithmetic, framing, and PCM
    # payload must all agree
    import io
    import struct
    import wave

    from kinesis_data_counter_spark.operators.multimodal import encode_wav

    for sr, samples in ((8000, range(-5, 6)), (44100, [0, 32767, -32768])):
        raw = b"".join(struct.pack("<h", s) for s in samples)
        payload = encode_wav(raw, sample_rate=sr)
        with wave.open(io.BytesIO(payload)) as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getframerate() == sr
            assert w.getnframes() == len(list(samples))
            assert w.readframes(w.getnframes()) == raw
