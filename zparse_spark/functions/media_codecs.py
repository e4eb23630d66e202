"""Dependency-free media codecs: BMP (24-bit), WAV (16-bit PCM) and ZVID.

Real byte-level encode/decode with struct + numpy only, because the
container ships no image/audio libraries. The gate's M1 rule reads
``classify_payload``'s verdict for each payload (through
``zparse_spark.multimodal.decode_verdicts``): opaque bytes in, either a
clean payload or a typed error kind out.

- BMP: BITMAPINFOHEADER, 24 bpp, uncompressed (BI_RGB), bottom-up rows
  padded to 4-byte boundaries, BGR channel order — decoded to an RGB
  ``uint8 (h, w, 3)`` array.
- WAV: canonical 44-byte RIFF/WAVE header, PCM (format 1), 16-bit
  mono — decoded to an ``int16`` sample array + sample rate.
- ZVID: a fixed-rate container of equal-size BMP frames (O(1) frame
  slicing).

Every byte the encoders emit is a deterministic function of the input,
so the ``synth_*`` payloads are identical on every run and the DuckDB
twin in ``queries_span`` classifies the same bytes.
"""

from __future__ import annotations

import struct

import numpy as np

_BMP_HEADER_SIZE = 54
_WAV_HEADER_SIZE = 44


# ---------------------------------------------------------------------------
# BMP — 24-bit uncompressed
# ---------------------------------------------------------------------------


def bmp_row_size(width: int) -> int:
    """Bytes per BMP row: 3 bytes/pixel padded up to a 4-byte boundary."""
    return (3 * width + 3) // 4 * 4


def bmp_encode(img: np.ndarray) -> bytes:
    """RGB ``uint8 (h, w, 3)`` → 24-bit BMP bytes (canonical header:
    54-byte offset, BI_RGB, zero ppm fields, bottom-up rows)."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError(f"bmp_encode expects uint8 (h, w, 3), got {img.shape} {img.dtype}")
    h, w = img.shape[:2]
    rowsize = bmp_row_size(w)
    data_size = rowsize * h
    header = struct.pack("<2sIHHI", b"BM", _BMP_HEADER_SIZE + data_size, 0, 0, _BMP_HEADER_SIZE)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 0, 0, 0, 0)
    # RGB → BGR, top-down → bottom-up, zero row padding
    bgr_rows = img[::-1, :, ::-1].reshape(h, 3 * w)
    if rowsize != 3 * w:
        padded = np.zeros((h, rowsize), dtype=np.uint8)
        padded[:, : 3 * w] = bgr_rows
        bgr_rows = padded
    return header + info + bgr_rows.tobytes()


def bmp_decode(data: bytes) -> np.ndarray:
    """24-bit BMP bytes → RGB ``uint8 (h, w, 3)``. Raises ValueError on
    non-BMP magic or unsupported bpp/compression — the strict-parser
    stance (bad input is an error with a reason, never garbage out)."""
    if len(data) < _BMP_HEADER_SIZE or data[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    offset = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0 or planes != 1:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, compression={compression})")
    if w <= 0 or h <= 0:
        raise ValueError(f"unsupported BMP dimensions ({w}x{h})")
    rowsize = bmp_row_size(w)
    end = offset + rowsize * h
    if end > len(data):
        raise ValueError(f"truncated BMP: need {end} bytes, have {len(data)}")
    rows = np.frombuffer(data[offset:end], dtype=np.uint8).reshape(h, rowsize)
    # strip padding, bottom-up → top-down, BGR → RGB
    return rows[:, : 3 * w].reshape(h, w, 3)[::-1, :, ::-1].copy()


# ---------------------------------------------------------------------------
# WAV — 16-bit PCM mono
# ---------------------------------------------------------------------------


def wav_encode(samples: np.ndarray, sample_rate: int) -> bytes:
    """``int16`` sample array → canonical 44-byte-header WAV (PCM mono)."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError(f"wav_encode expects 1-D int16, got {samples.shape} {samples.dtype}")
    data = samples.tobytes()
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        1,  # mono
        sample_rate,
        sample_rate * 2,
        2,  # block align
        16,  # bits/sample
        b"data",
        len(data),
    )
    return header + data


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (int16 samples, sample_rate). Accepts the canonical
    44-byte header this module writes (fmt directly after RIFF, data
    chunk at offset 36)."""
    if len(data) < _WAV_HEADER_SIZE or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV payload (missing RIFF/WAVE magic)")
    fmt_tag, channels, sample_rate = struct.unpack_from("<HHI", data, 20)
    bits = struct.unpack_from("<H", data, 34)[0]
    if fmt_tag != 1 or channels != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV variant (format={fmt_tag}, channels={channels}, bits={bits})"
        )
    if data[36:40] != b"data":
        raise ValueError("unsupported WAV layout (expected canonical data chunk at offset 36)")
    data_size = struct.unpack_from("<I", data, 40)[0]
    end = _WAV_HEADER_SIZE + data_size
    if end > len(data):
        raise ValueError(f"truncated WAV: need {end} bytes, have {len(data)}")
    return np.frombuffer(data[_WAV_HEADER_SIZE:end], dtype="<i2"), sample_rate


# ---------------------------------------------------------------------------
# ZVID — fixed-rate video container of equal-size BMP frames
# ---------------------------------------------------------------------------
#
# A deliberately minimal but REAL container (this engine's own format,
# like the reference's choice to own its parsers): 16-byte header
# ``'ZVID' ‖ n_frames:u32le ‖ frame_ms:u32le ‖ frame_size:u32le``
# followed by n_frames concatenated BMP payloads of exactly frame_size
# bytes each. Equal frame size is the load-bearing property: extracting
# frame i is an O(1) byte-range slice (16 + i*frame_size), so frame
# sampling at scale never decodes — or even reads — the frames it skips.

_ZVID_HEADER_SIZE = 16


def zvid_encode(frames: list[np.ndarray], frame_ms: int) -> bytes:
    """Equal-shape RGB frames → ZVID bytes."""
    if not frames:
        raise ValueError("zvid_encode needs at least one frame")
    blobs = [bmp_encode(f) for f in frames]
    sizes = {len(b) for b in blobs}
    if len(sizes) != 1:
        raise ValueError("zvid_encode requires equal-shape frames")
    frame_size = sizes.pop()
    header = struct.pack("<4sIII", b"ZVID", len(blobs), frame_ms, frame_size)
    return header + b"".join(blobs)


def zvid_info(data: bytes) -> tuple[int, int, int]:
    """(n_frames, frame_ms, frame_size); strict header validation."""
    if len(data) < _ZVID_HEADER_SIZE or data[:4] != b"ZVID":
        raise ValueError("not a ZVID payload (missing magic)")
    n_frames, frame_ms, frame_size = struct.unpack_from("<III", data, 4)
    # frame_ms >= 1: timestamp→frame mapping is ts // frame_ms, so a
    # zero rate video has no well-defined frame for any timestamp
    if n_frames < 1 or frame_size < _BMP_HEADER_SIZE or frame_ms < 1:
        raise ValueError(
            f"unsupported ZVID layout (n_frames={n_frames}, "
            f"frame_ms={frame_ms}, frame_size={frame_size})"
        )
    if _ZVID_HEADER_SIZE + n_frames * frame_size > len(data):
        raise ValueError("truncated ZVID: declared frames exceed payload")
    return n_frames, frame_ms, frame_size


def zvid_frame(data: bytes, i: int) -> np.ndarray:
    """Decode frame i via byte-range slice — O(frame) work, not O(video)."""
    n_frames, _, frame_size = zvid_info(data)
    if not 0 <= i < n_frames:
        raise IndexError(f"frame {i} out of range (n_frames={n_frames})")
    off = _ZVID_HEADER_SIZE + i * frame_size
    return bmp_decode(data[off : off + frame_size])


def classify_payload(payload: bytes) -> str | None:
    """Deterministic decode verdict: ``None`` when the payload decodes,
    else one of ``bad_magic`` / ``truncated`` / ``unsupported_variant``.

    The check ORDER is part of the contract — the DuckDB oracle twin
    (queries_span) evaluates the same conditions in the same order as a
    SQL CASE over the payload's hex, so a payload failing several checks
    must classify identically in both engines. This is the table-scale
    analog of the reference's closed error-kind enum (error.rs:48-64):
    malformed input yields a *typed* error row, never a crash.
    """
    is_zvid = payload[:4] == b"ZVID"
    is_bmp = (not is_zvid) and payload[:2] == b"BM"
    is_riff = payload[:4] == b"RIFF"
    if not (is_zvid or is_bmp or is_riff):
        return "bad_magic"
    if is_zvid:
        if len(payload) < _ZVID_HEADER_SIZE:
            return "truncated"
        n_frames, frame_ms, frame_size = struct.unpack_from("<III", payload, 4)
        # frame_ms >= 1: frame sampling maps timestamps with ts // frame_ms
        if n_frames < 1 or frame_size < _BMP_HEADER_SIZE or frame_ms < 1:
            return "unsupported_variant"
        if _ZVID_HEADER_SIZE + n_frames * frame_size > len(payload):
            return "truncated"
        # every interior frame must be a decodable 24-bit BMP fitting its
        # slot — 'ok' GUARANTEES zvid_frame()/bmp_decode succeed on
        # every frame, not just that the container header parses (the M1
        # contract: corrupt media is violation DATA, never a task failure).
        # Cost is O(n_frames) fixed-offset header reads, no pixel I/O.
        for i in range(n_frames):
            base = _ZVID_HEADER_SIZE + i * frame_size
            if payload[base : base + 2] != b"BM":
                return "unsupported_variant"
            offset = struct.unpack_from("<I", payload, base + 10)[0]
            w, h = struct.unpack_from("<ii", payload, base + 18)
            planes, bpp = struct.unpack_from("<HH", payload, base + 26)
            compression = struct.unpack_from("<I", payload, base + 30)[0]
            if planes != 1 or bpp != 24 or compression != 0 or w <= 0 or h <= 0:
                return "unsupported_variant"
            if offset + bmp_row_size(w) * h > frame_size:
                return "unsupported_variant"
        return None
    if is_bmp:
        if len(payload) < _BMP_HEADER_SIZE:
            return "truncated"
        offset = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        compression = struct.unpack_from("<I", payload, 30)[0]
        if planes != 1 or bpp != 24 or compression != 0 or w <= 0 or h <= 0:
            return "unsupported_variant"
        if offset + bmp_row_size(w) * h > len(payload):
            return "truncated"
        return None
    if len(payload) < _WAV_HEADER_SIZE:
        return "truncated"
    if payload[8:12] != b"WAVE":
        return "bad_magic"
    fmt_tag, channels = struct.unpack_from("<HH", payload, 20)
    bits = struct.unpack_from("<H", payload, 34)[0]
    if fmt_tag != 1 or channels != 1 or bits != 16 or payload[36:40] != b"data":
        return "unsupported_variant"
    data_size = struct.unpack_from("<I", payload, 40)[0]
    # odd data_size cannot hold whole int16 samples — wav_decode's
    # frombuffer would raise, so 'ok' must not cover it
    if data_size % 2 != 0:
        return "unsupported_variant"
    if _WAV_HEADER_SIZE + data_size > len(payload):
        return "truncated"
    return None


# ---------------------------------------------------------------------------
# deterministic synthetic media (test/bench input — no external data)
# ---------------------------------------------------------------------------


def synth_image(idx: int) -> np.ndarray:
    """Deterministic RGB image for index ``idx``: dims cycle through
    {8,12,16}², pixels follow an affine byte ramp — every byte a pure
    function of ``idx``, so any engine can re-derive expectations."""
    w = 8 + 4 * (idx % 3)
    h = 8 + 4 * ((idx // 3) % 3)
    a = 1 + 2 * (idx % 13)
    b = (7 * idx) % 256
    lin = (a * np.arange(h * w * 3, dtype=np.int64) + b) % 256
    return lin.astype(np.uint8).reshape(h, w, 3)


def synth_audio(idx: int) -> tuple[np.ndarray, int]:
    """Deterministic int16 sample ramp: length 64..192, rate 8/16/24 kHz."""
    n = 64 + 16 * (idx % 9)
    sr = 8000 * (1 + idx % 3)
    a = 3 + 2 * (idx % 11)
    vals = (a * 257 * np.arange(n, dtype=np.int64) + idx) % 65536 - 32768
    return vals.astype(np.int16), sr


def synth_video(idx: int) -> tuple[list[np.ndarray], int]:
    """Deterministic frame stack: 3..6 frames of one ``synth_image``
    shape, each frame a rotated byte ramp; 100/200 ms frame duration."""
    base = synth_image(idx)
    n_frames = 3 + idx % 4
    frame_ms = 100 * (1 + idx % 2)
    frames = [((base.astype(np.int64) + 11 * f) % 256).astype(np.uint8) for f in range(n_frames)]
    return frames, frame_ms
