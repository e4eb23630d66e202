"""Pure-python codec tests (no Spark): BMP/WAV/ZVID roundtrips and
classification — including hypothesis property coverage."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from zparse_spark.functions.media_codecs import (
    bmp_decode,
    bmp_encode,
    bmp_row_size,
    classify_payload,
    synth_audio,
    synth_image,
    wav_decode,
    wav_encode,
    zvid_frame,
    zvid_info,
)


def _decode(payload: bytes) -> None:
    """Fully decode a payload by its magic bytes; raises on anything
    the decoders reject."""
    if payload[:4] == b"ZVID":
        n_frames, _frame_ms, _frame_size = zvid_info(payload)
        for i in range(n_frames):
            zvid_frame(payload, i)
    elif payload[:2] == b"BM":
        bmp_decode(payload)
    elif payload[:4] == b"RIFF":
        wav_decode(payload)
    else:
        raise NotImplementedError("no BMP/WAV/ZVID magic")


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=23),
    h=st.integers(min_value=1, max_value=23),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_roundtrip_property(w, h, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    data = bmp_encode(img)
    assert len(data) == 54 + bmp_row_size(w) * h
    assert np.array_equal(bmp_decode(data), img)
    assert classify_payload(data) is None


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=512),
    sr=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_roundtrip_property(n, sr, seed):
    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=n, dtype=np.int64).astype(np.int16)
    data = wav_encode(samples, sr)
    out, sr2 = wav_decode(data)
    assert sr2 == sr and np.array_equal(out, samples)
    assert classify_payload(data) is None


def test_classifier_matches_decoder_errors():
    """classify_payload's verdict agrees with what the decoders actually
    do: None ⇒ decodes, non-None ⇒ raises."""
    img_ok = bmp_encode(synth_image(0))
    wav_ok = wav_encode(*synth_audio(1))
    cases = [
        img_ok,
        wav_ok,
        b"XX" + img_ok[2:],  # bad magic
        img_ok[:20],  # truncated header
        img_ok[:-5],  # truncated body
        img_ok[:28] + b"\x20" + img_ok[29:],  # bpp=32
        wav_ok[:22] + b"\x02" + wav_ok[23:],  # stereo
        wav_ok[:30],  # truncated header
        wav_ok[:-3],  # truncated data
        b"RIFF" + wav_ok[4:8] + b"XXXX" + wav_ok[12:],  # RIFF but not WAVE
    ]
    # ok-verdict must also guarantee the decoders SUCCEED on uncurated
    # variants that parse at the container level but break the payload
    # contract (the round-3 gap: odd WAV data size, zero frame rate,
    # non-BMP interior frames)
    import struct

    from zparse_spark.functions.media_codecs import synth_video, zvid_encode

    wav_odd = wav_ok[:40] + struct.pack("<I", len(wav_ok) - 44 - 1) + wav_ok[44:]
    vid_ok = zvid_encode(*synth_video(2))
    vid_zero_ms = vid_ok[:8] + struct.pack("<I", 0) + vid_ok[12:]
    # corrupt the SECOND frame's magic (frame 0 stays valid, so a
    # first-frame-only check would wrongly classify ok)
    frame_size = struct.unpack_from("<I", vid_ok, 12)[0]
    f1 = 16 + frame_size
    vid_bad_frame = vid_ok[:f1] + b"XX" + vid_ok[f1 + 2 :]
    # second frame claims more pixel data than its slot holds
    vid_big_frame = (
        vid_ok[:f1 + 22] + struct.pack("<i", 1 << 20) + vid_ok[f1 + 26 :]
    )
    cases += [vid_ok, wav_odd, vid_zero_ms, vid_bad_frame, vid_big_frame]
    for payload in cases:
        verdict = classify_payload(payload)
        try:
            _decode(payload)
            decoded = True
        except (ValueError, NotImplementedError):
            decoded = False
        assert decoded == (verdict is None), (verdict, payload[:8])
    assert classify_payload(wav_odd) == "unsupported_variant"
    assert classify_payload(vid_zero_ms) == "unsupported_variant"
    assert classify_payload(vid_bad_frame) == "unsupported_variant"
    assert classify_payload(vid_big_frame) == "unsupported_variant"


def test_strictness_rejects_variants():
    with pytest.raises(ValueError, match="unsupported BMP"):
        img = bmp_encode(synth_image(0))
        bmp_decode(img[:28] + b"\x20" + img[29:])
    with pytest.raises(ValueError, match="unsupported WAV"):
        wav = wav_encode(*synth_audio(0))
        wav_decode(wav[:22] + b"\x02" + wav[23:])


def test_zvid_roundtrip_and_slicing():
    from zparse_spark.functions.media_codecs import synth_video, zvid_encode

    frames, frame_ms = synth_video(5)
    data = zvid_encode(frames, frame_ms)
    n, fms, fsz = zvid_info(data)
    assert (n, fms) == (len(frames), frame_ms)
    for i, f in enumerate(frames):
        assert np.array_equal(zvid_frame(data, i), f)
    assert classify_payload(data) is None
    assert classify_payload(data[:10]) == "truncated"
    assert classify_payload(data[:-3]) == "truncated"
    bad_nf = data[:4] + b"\x00\x00\x00\x00" + data[8:]
    assert classify_payload(bad_nf) == "unsupported_variant"
    with pytest.raises(IndexError):
        zvid_frame(data, len(frames))
