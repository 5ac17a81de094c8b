"""Pure-Python minimal codecs for the multimodal real-decode path (J8).

The container ships no PIL/ffmpeg/torchaudio, so the J8 "real codec"
branch was a NotImplementedError gate in round 1.  Two formats are
simple enough to implement from their public specs with zero deps,
which makes the real-codec branch *exercisable and testable*:

- **BMP** (Windows V3, uncompressed 24-bit): 14-byte file header
  ('BM', pixel-array offset) + 40-byte BITMAPINFOHEADER (width,
  height, bpp, compression=0); pixel rows are bottom-up, BGR, padded
  to 4-byte boundaries.
- **WAV** (RIFF PCM 16-bit): 'RIFF'/'WAVE' header, 'fmt ' chunk
  (audio_format=1, channels, sample rate, bits), 'data' chunk of
  little-endian int16 samples.

Everything else (PNG/JPEG/MP4/...) still requires real libraries and
keeps the explicit NotImplementedError — the point is that the decode
*pipeline* (schema, Arrow batching, per-mime dispatch, padding/stride
arithmetic) runs for real on at least two formats, so swapping in PIL
or ffmpeg later only changes the per-format parser body.
"""

from __future__ import annotations

import struct


def encode_bmp(width: int, height: int, pixel: int) -> bytes:
    """Uncompressed 24-bit BMP with every RGB channel set to ``pixel``.

    Constant fill keeps the expected mean luma exactly ``pixel`` — but
    only if the decoder strips the per-row padding correctly, which is
    what the round-trip tests and the oracle check.
    """
    assert 0 <= pixel <= 255
    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    pixel_data = (bytes([pixel] * row_bytes) + b"\x00" * pad) * height
    offset = 14 + 40
    file_size = offset + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return header + info + pixel_data


def decode_bmp(data: bytes) -> tuple[int, int, float]:
    """Parse an uncompressed 24-bit BMP → (width, height, mean_luma).

    Mean is over the R/G/B bytes of the pixel array, excluding row
    padding — including padding is the classic stride bug this decoder
    is tested against.
    """
    magic, _, _, _, offset = struct.unpack_from("<2sIHHI", data, 0)
    if magic != b"BM":
        raise ValueError("not a BMP file")
    hdr_size, width, height, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", data, 14
    )
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp})")
    height = abs(height)
    row_bytes = width * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    total = 0
    for r in range(height):
        row = data[offset + r * stride : offset + r * stride + row_bytes]
        total += sum(row)
    n = row_bytes * height
    return width, height, (total / n if n else 0.0)


def encode_wav(samples: list[int], sample_rate: int) -> bytes:
    """Mono PCM 16-bit WAV from int16 samples."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    data_chunk = struct.pack("<4sI", b"data", len(data)) + data
    riff_len = 4 + len(fmt) + len(data_chunk)
    return struct.pack("<4sI4s", b"RIFF", riff_len, b"WAVE") + fmt + data_chunk


def decode_wav(data: bytes) -> tuple[int, int, int, int]:
    """Parse PCM-16 WAV → (n_channels, sample_rate, n_samples,
    first_sample).  Walks RIFF chunks, so extra chunks (LIST, fact)
    before 'data' are handled."""
    riff, _, wave = struct.unpack_from("<4sI4s", data, 0)
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a WAV file")
    pos = 12
    n_channels = sample_rate = bits = None
    n_samples = first_sample = None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = pos + 8
        if cid == b"fmt ":
            audio_format, n_channels, sample_rate = struct.unpack_from(
                "<HHI", data, body
            )
            bits = struct.unpack_from("<H", data, body + 14)[0]
            if audio_format != 1 or bits != 16:
                raise ValueError(f"unsupported WAV (fmt={audio_format}, bits={bits})")
        elif cid == b"data":
            if n_channels is None:
                raise ValueError("WAV data chunk before fmt chunk")
            n_samples = size // (2 * n_channels)
            first_sample = (
                struct.unpack_from("<h", data, body)[0] if size >= 2 else 0
            )
        pos = body + size + size % 2  # chunks are word-aligned
    if n_samples is None:
        raise ValueError("WAV missing data chunk")
    return n_channels, sample_rate, n_samples, first_sample


def wav_frame_energies(data: bytes, n_frames: int) -> list[float]:
    """Mean |sample| per equal-length frame of a mono PCM-16 WAV — the
    audio analogue of ``bmp_row_band_means``: the real chunk-walking
    decode feeding a downstream fingerprint.  n_samples must divide
    evenly into ``n_frames`` (the synthesized fixtures guarantee it)."""
    riff, _, wave = struct.unpack_from("<4sI4s", data, 0)
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a WAV file")
    pos = 12
    samples = None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = pos + 8
        if cid == b"fmt ":
            audio_format, n_channels = struct.unpack_from("<HH", data, body)
            bits = struct.unpack_from("<H", data, body + 14)[0]
            if audio_format != 1 or bits != 16 or n_channels != 1:
                raise ValueError("wav_frame_energies needs mono PCM-16")
        elif cid == b"data":
            n = size // 2
            samples = struct.unpack_from(f"<{n}h", data, body)
        pos = body + size + size % 2
    if samples is None:
        raise ValueError("WAV missing data chunk")
    if len(samples) % n_frames:
        raise ValueError(
            f"{len(samples)} samples not divisible into {n_frames} frames"
        )
    flen = len(samples) // n_frames
    return [
        sum(abs(s) for s in samples[i * flen : (i + 1) * flen]) / flen
        for i in range(n_frames)
    ]


def resize_bmp(data: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor resize of an uncompressed 24-bit BMP.

    Genuine resample: reads the source pixel array (stride-aware),
    maps every target pixel to ``src_idx = floor(dst_idx * src / dst)``
    and re-encodes through the same padded-row layout.  No PIL — the
    whole transform is explicit byte math, which is the point: the
    Spark-side plumbing (mapInPandas batch shape, binary in/out) is
    identical to what a real imaging library would slot into.
    """
    magic, _, _, _, offset = struct.unpack_from("<2sIHHI", data, 0)
    if magic != b"BM":
        raise ValueError("not a BMP file")
    hdr_size, width, height, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", data, 14
    )
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp})")
    height = abs(height)
    src_stride = width * 3 + (4 - (width * 3) % 4) % 4
    rows = []
    for r in range(new_h):
        sr = r * height // new_h
        src_row = data[offset + sr * src_stride :][: width * 3]
        out = bytearray()
        for c in range(new_w):
            sc = c * width // new_w
            out += src_row[sc * 3 : sc * 3 + 3]
        rows.append(bytes(out))
    new_row_bytes = new_w * 3
    pad = (4 - new_row_bytes % 4) % 4
    pixel_data = b"".join(row + b"\x00" * pad for row in rows)
    out_offset = 14 + 40
    header = struct.pack(
        "<2sIHHI", b"BM", out_offset + len(pixel_data), 0, 0, out_offset
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, new_w, new_h, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return header + info + pixel_data


def wav_frames(data: bytes, frame_len: int) -> list[tuple[int, int, int]]:
    """Split a PCM-16 WAV's data chunk into fixed-length sample frames.

    Returns [(frame_idx, n_samples_in_frame, first_sample), ...] —
    the audio analogue of video keyframe extraction, computed from the
    REAL chunk walk (same RIFF traversal as decode_wav).
    """
    riff, _, wave = struct.unpack_from("<4sI4s", data, 0)
    if riff != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a WAV file")
    pos = 12
    frames: list[tuple[int, int, int]] = []
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"data":
            n = size // 2
            samples = struct.unpack(f"<{n}h", body[: n * 2])
            for i in range(0, n, frame_len):
                chunk = samples[i : i + frame_len]
                frames.append((i // frame_len, len(chunk), chunk[0]))
            break
        pos += 8 + size + (size % 2)
    return frames


def encode_y4m(width: int, height: int, frame_lumas: list[int]) -> bytes:
    """YUV4MPEG2 (Y4M) uncompressed video, 4:2:0 planar: plain-text
    stream header, then per frame a ``FRAME\\n`` marker + Y plane
    (w*h bytes) + U and V planes (w/2 * h/2 each).  Each frame's Y
    plane is a constant fill of ``frame_lumas[i]`` with neutral chroma
    (128) — so the expected per-frame mean luma is exactly the fill
    value, IF the decoder separates planes and skips chroma correctly.
    """
    assert width % 2 == 0 and height % 2 == 0
    header = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420\n".encode()
    cw, ch = width // 2, height // 2
    out = [header]
    for luma in frame_lumas:
        assert 0 <= luma <= 255
        out.append(b"FRAME\n")
        out.append(bytes([luma]) * (width * height))
        out.append(b"\x80" * (cw * ch * 2))
    return b"".join(out)


def decode_y4m(data: bytes) -> tuple[int, int, int, float]:
    """Parse Y4M → (width, height, n_frames, mean_luma over ALL
    frames' Y planes).  Mean excludes chroma planes — including them
    is the planar-layout bug this decoder is tested against."""
    nl = data.index(b"\n")
    fields = data[:nl].decode().split(" ")
    if fields[0] != "YUV4MPEG2":
        raise ValueError("not a Y4M stream")
    width = height = None
    for f in fields[1:]:
        if f.startswith("W"):
            width = int(f[1:])
        elif f.startswith("H"):
            height = int(f[1:])
        elif f.startswith("C") and f != "C420":
            raise ValueError(f"unsupported chroma mode {f}")
    if width is None or height is None:
        raise ValueError("Y4M missing W/H header fields")
    y_len = width * height
    c_len = (width // 2) * (height // 2)
    pos = nl + 1
    n_frames, total = 0, 0
    while pos < len(data):
        if data[pos : pos + 6] != b"FRAME\n":
            raise ValueError("bad FRAME marker")
        pos += 6
        total += sum(data[pos : pos + y_len])
        pos += y_len + 2 * c_len
        n_frames += 1
    mean = total / (n_frames * y_len) if n_frames else 0.0
    return width, height, n_frames, mean


def y4m_frame_lumas(data: bytes) -> list[float]:
    """Per-frame mean luma of a Y4M stream (frame-sample support)."""
    width, height, _n, _m = decode_y4m(data)
    nl = data.index(b"\n")
    y_len = width * height
    c_len = (width // 2) * (height // 2)
    pos = nl + 1
    out = []
    while pos < len(data):
        pos += 6  # FRAME\n
        out.append(sum(data[pos : pos + y_len]) / y_len)
        pos += y_len + 2 * c_len
    return out


def encode_bmp_rows(width: int, height: int, row_lumas: list[int]) -> bytes:
    """Uncompressed 24-bit BMP with a DIFFERENT constant per image row
    (``row_lumas`` in top-down image order).  BMP stores rows
    bottom-up, so the encoder writes them reversed — decoding in file
    order without flipping is the orientation bug the feature tests
    pin (a constant-fill image can't catch it)."""
    assert len(row_lumas) == height
    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    pixel_data = b"".join(
        bytes([luma] * row_bytes) + b"\x00" * pad
        for luma in reversed(row_lumas)  # bottom-up storage
    )
    offset = 14 + 40
    file_size = offset + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return header + info + pixel_data


def bmp_row_band_means(data: bytes, n_bands: int) -> list[float]:
    """Feature extraction from a real BMP: mean luma of ``n_bands``
    equal horizontal bands in TOP-DOWN image order (rows must be
    un-reversed from the file's bottom-up layout and de-padded)."""
    magic, _, _, _, offset = struct.unpack_from("<2sIHHI", data, 0)
    if magic != b"BM":
        raise ValueError("not a BMP file")
    _hs, width, height, _p, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or comp != 0:
        raise ValueError("unsupported BMP variant")
    height = abs(height)
    assert height % n_bands == 0
    row_bytes = width * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    # file row f corresponds to image row (height - 1 - f)
    row_sum = [0] * height
    for f in range(height):
        row = data[offset + f * stride : offset + f * stride + row_bytes]
        row_sum[height - 1 - f] = sum(row)
    per_band = height // n_bands
    return [
        sum(row_sum[b * per_band : (b + 1) * per_band])
        / (per_band * row_bytes)
        for b in range(n_bands)
    ]
