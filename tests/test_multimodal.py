"""Multimodal column plumbing: binary payloads, Arrow batch stages, and
the per-batch kernels the m-family queries run."""

from __future__ import annotations

import pandas as pd

from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
    attach_payload,
    sample_frames,
)
from squonk2_fastapi_ws_event_stream_spark.tables import table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return attach_payload(table(spark, SF, "documents").select("doc_id", "text").limit(20))


def test_frame_sampling_fans_out(spark):
    out = sample_frames(_docs(spark), n_frames=4).collect()
    assert len(out) == 80  # 20 docs × 4 frames
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_doc.values())


# -- honest codec tier: BMP/WAV struct parsers ------------------------------
def test_bmp_wav_builders_and_parsers_roundtrip():
    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        make_bmp,
        make_wav,
        parse_bmp,
        parse_wav,
    )

    for w, h in ((1, 1), (16, 8), (17, 9), (32, 18)):
        payload = make_bmp(w, h, 7)
        assert payload[:2] == b"BM"
        # declared file size in the header matches the actual byte count
        import struct

        (declared,) = struct.unpack_from("<I", payload, 2)
        assert declared == len(payload)
        assert parse_bmp(payload) == (w, h)
    for rate, n in ((8000, 200), (11000, 229), (12000, 1)):
        payload = make_wav(rate, n, 3)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        got_rate, got_ms = parse_wav(payload)
        assert got_rate == rate and got_ms == n * 1000 // rate


def test_parsers_reject_non_media():
    import pytest as _pytest

    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        parse_bmp,
        parse_wav,
    )

    with _pytest.raises(ValueError):
        parse_bmp(b"plain text payload")
    with _pytest.raises(ValueError):
        parse_wav(b"RIFFxxxxNOPE")


def test_m01_extracts_true_header_values():
    """The decode reads header BYTES: corrupt the width field of one BMP
    and the parser must report the corrupted value, proving it does not
    shortcut via the doc_id formula."""
    import struct

    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        _decode_media_pdf,
        make_bmp,
    )

    good = make_bmp(20, 10, 1)
    tampered = bytearray(make_bmp(20, 10, 1))
    struct.pack_into("<i", tampered, 18, 999)  # overwrite width in-place
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "payload": [bytes(good), bytes(tampered)],
            "mime": ["image/bmp", "image/bmp"],
        }
    )
    rows = _decode_media_pdf(pdf).set_index("doc_id").to_dict("index")
    assert (rows[1]["width"], rows[1]["height"]) == (20, 10)
    assert rows[2]["width"] == 999  # parsed from bytes, not predicted


def _downsampled(doc_ids, payloads):
    """m05's batch kernel over one batch, as {doc_id: row}."""
    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        _downsample_run,
    )

    batch = pd.DataFrame({"doc_id": doc_ids, "payload": payloads})
    (out,) = _downsample_run(iter([batch]))
    return out.set_index("doc_id").to_dict("index")


def test_m05_downsamplers_read_pixel_and_sample_bytes():
    """Tamper one pixel byte of a BMP and one sample byte of a WAV: the
    downsample checksums must CHANGE, proving the resize/decimation read
    the media bytes rather than shortcutting via the builder formula."""
    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        make_bmp,
        make_wav,
    )

    bmp, wav = make_bmp(20, 10, 1), make_wav(8000, 100, 1)
    t_bmp = bytearray(bmp)
    t_bmp[54] = (t_bmp[54] + 1) % 256  # pixel (0,0) blue channel — sampled
    t_wav = bytearray(wav)
    t_wav[44] = (t_wav[44] + 1) % 256  # sample 0 low byte — kept by 2x decim
    rows = _downsampled([1, 2, 3, 4], [bmp, bytes(t_bmp), wav, bytes(t_wav)])
    assert rows[1]["out_w"] == 10 and rows[1]["out_h"] == 5
    assert rows[3]["out_rate"] == 4000 and rows[3]["out_samples"] == 50
    assert rows[1]["ds_checksum"] != rows[2]["ds_checksum"]
    assert rows[3]["ds_checksum"] != rows[4]["ds_checksum"]


def test_m05_skips_unsampled_bytes():
    """Tampering a pixel the 2x nearest-neighbor selection SKIPS (odd row)
    must leave the checksum unchanged — the downsample is a real
    selection, not a whole-payload hash."""
    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        make_bmp,
    )

    bmp = make_bmp(20, 10, 1)
    row_bytes = ((3 * 20 + 3) // 4) * 4
    t = bytearray(bmp)
    t[54 + row_bytes] = (t[54 + row_bytes] + 1) % 256  # row 1 — never sampled
    rows = _downsampled([1, 2], [bmp, bytes(t)])
    assert rows[1]["ds_checksum"] == rows[2]["ds_checksum"]


def test_m08_ahash_reads_sampled_pixels():
    """Tampering a SAMPLED pixel hard enough to cross the mean must flip
    an aHash bit; tampering an unsampled pixel must not — the perceptual
    hash is a real 8x8 nearest-neighbor read of the pixel array."""
    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        ahash_bmp,
        make_bmp,
    )

    bmp = make_bmp(20, 10, 1)
    base = ahash_bmp(bmp)
    assert len(base) == 64 and set(base) <= {"0", "1"}

    # pixel (0,0) is on the sample grid ((0*10)//8, (0*20)//8): saturate
    # all three channel bytes so its gray leaps across the mean.
    hot = bytearray(bmp)
    for ch in range(3):
        hot[54 + ch] = 255
    assert ahash_bmp(bytes(hot)) != base

    # row 3 is NOT on the 8x8 grid for h=10 (sampled rows: 0,1,2,5,6,7,8):
    # rows idx = (i*10)//8 for i in 0..7 → 0,1,2,3,5,6,7,8 — row 4 is
    # skipped; saturate a row-4 pixel and the hash must not move.
    cold = bytearray(bmp)
    rb = ((3 * 20 + 3) // 4) * 4
    for ch in range(3):
        cold[54 + 4 * rb + ch] = 255
    assert ahash_bmp(bytes(cold)) == base


def test_m15_border_detector_reads_pixel_bytes():
    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        detect_borders,
        make_boxed_bmp,
    )

    # Planted bars come back exactly.
    p = make_boxed_bmp(20, 10, 2, 2, 0, 0, 7)
    assert detect_borders(p) == (20, 10, 2, 2, 0, 0)
    p = make_boxed_bmp(20, 10, 0, 0, 3, 3, 7)
    assert detect_borders(p) == (20, 10, 0, 0, 3, 3)
    p = make_boxed_bmp(20, 10, 0, 0, 0, 0, 7)
    assert detect_borders(p) == (20, 10, 0, 0, 0, 0)

    # Tamper ONE pixel byte inside the image-top bar (stored LAST since
    # BMP rows are bottom-up): the top run must shrink to the rows above
    # the tampered one — proof the detector reads bytes, not metadata.
    row_bytes = ((3 * 20 + 3) // 4) * 4
    t = bytearray(make_boxed_bmp(20, 10, 2, 2, 0, 0, 7))
    t[54 + 8 * row_bytes + 9] = 200  # stored row 8 = image row 1 (2nd from top)
    assert detect_borders(bytes(t)) == (20, 10, 1, 2, 0, 0)

    # Tampering a PADDING byte (beyond 3*w in a row) must change nothing
    # (w=21 -> 63 pixel bytes padded to a 64-byte stride).
    pad_stride = ((3 * 21 + 3) // 4) * 4
    t2 = bytearray(make_boxed_bmp(21, 10, 2, 2, 0, 0, 7))
    t2[54 + 9 * pad_stride + 3 * 21] = 200
    assert detect_borders(bytes(t2)) == (21, 10, 2, 2, 0, 0)


def test_m17_wav_clip_stats_skips_malformed_payloads():
    """Round-7 advisory: a payload passing the RIFF/WAVE magic check but
    carrying no usable 'data' chunk must be SKIPPED (None), not raise
    TypeError (None // 2) or ZeroDivisionError — one poisoned payload
    used to kill the whole Spark task."""
    import struct as _struct

    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        M17_CLIP_T,
        make_wav,
        wav_clip_stats,
    )

    # non-WAV → skip
    assert wav_clip_stats(b"not a wav at all") is None
    # bare magic, no chunks at all → skip (the advisory's exact case)
    assert wav_clip_stats(b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE") is None
    # magic + only a junk chunk, no 'data' → skip
    junk = b"JUNK" + _struct.pack("<I", 4) + b"\x00" * 4
    assert wav_clip_stats(b"RIFF" + _struct.pack("<I", 16) + b"WAVE" + junk) is None
    # 'data' chunk with zero declared length → skip (ppm division guard)
    empty = b"data" + _struct.pack("<I", 0)
    assert wav_clip_stats(b"RIFF" + _struct.pack("<I", 16) + b"WAVE" + empty) is None
    # 'data' length declared PAST the payload end → clamp, not crash
    over = b"data" + _struct.pack("<I", 1 << 20) + _struct.pack("<h", 100)
    got = wav_clip_stats(b"RIFF" + _struct.pack("<I", 20) + b"WAVE" + over)
    assert got == (1, 0, 100, 0, False)

    # a real WAV still parses: all-clipped samples flag the asset
    real = wav_clip_stats(make_wav(8000, 50, 17))
    assert real is not None and real[0] == 50

    loud = bytearray(make_wav(8000, 4, 0))
    # overwrite the 4 samples with full-scale values
    data_pos = loud.rfind(b"data") + 8
    for i in range(4):
        _struct.pack_into("<h", loud, data_pos + 2 * i, 32760)
    got = wav_clip_stats(bytes(loud))
    assert got is not None
    n, n_clip, max_abs, ppm, clipped = got
    assert (n, n_clip, max_abs, ppm, clipped) == (4, 4, 32760, 1_000_000, True)
    assert 32760 >= M17_CLIP_T
