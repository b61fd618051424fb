"""Real media container codecs: header builders + parsers, stdlib-only.

The reference treats payloads as opaque bytes (db_internal.go:59-60 —
no media surface); this module is the north-star multimodal piece: the
metadata a training-data pipeline needs (dimensions, frame counts,
sample rate, duration) parsed from the CONTAINER HEADERS of real
formats — PNG, JPEG, GIF, WAV, MP4, BMP, TIFF (both byte orders),
MP3 (ID3v2 skip + CBR frame walk) — with no external decode library.
It also carries REAL pixel/sample codecs: an encode/decode pair per
image format (BMP, PNG sequential and Adam7, GIF LZW, baseline and
progressive JPEG, TIFF) whose ``resize_*_nearest`` kernel is decode →
`resample_nearest` → encode, plus PCM16 WAV and FLAC samples — which
back functions.multimodal's resize, pixel-statistics and audio-feature
pipelines. Only MP4 video frames stay out of scope.

Two halves, designed to invert each other:

- ``build_*``: emit a structurally-valid container (correct magic,
  chunk layout, real CRCs for PNG) around filler payload bytes.
- ``parse_media``: sniff the container from magic bytes and walk its
  real structure (PNG IHDR chunk, JPEG marker segments to SOF, GIF
  block walk counting image descriptors, RIFF chunk walk to fmt/data,
  MP4 box tree to mvhd/tkhd/stsz).

Fields a format doesn't carry are None (an image has no duration), and
any unparseable/truncated blob yields container=None with all-None
metadata — decode failures are data, not exceptions, at 100 TB.
"""

from __future__ import annotations

import struct
import zlib

# --------------------------------------------------------------- build

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def build_png(width: int, height: int, idat_len: int = 0) -> bytes:
    """Valid PNG framing: signature + IHDR (real CRC) + IDAT + IEND.

    Size is closed-form: 57 + idat_len bytes (8 sig + 25 IHDR +
    12+idat_len IDAT + 12 IEND) — so an SQL oracle can predict
    octet_length without parsing."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    idat = bytes(i & 0xFF for i in range(idat_len))
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def build_jpeg(width: int, height: int, scan_len: int = 0) -> bytes:
    """JFIF skeleton: SOI + APP0 + SOF0 (carrying the dimensions) +
    SOS + ``scan_len`` entropy filler + EOI. Size: 55 + scan_len."""
    app0 = struct.pack(">H", 16) + b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])
    sof0 = struct.pack(">HBHHB", 17, 8, height, width, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    sos = struct.pack(">HB", 12, 3) + bytes([1, 0, 2, 0x11, 3, 0x11, 0, 63, 0])
    # entropy filler must never contain 0xFF (it would read as a marker)
    scan = bytes((i * 7 + 1) & 0x7F for i in range(scan_len))
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + app0
        + b"\xff\xc0" + sof0
        + b"\xff\xda" + sos
        + scan
        + b"\xff\xd9"
    )


def build_gif(width: int, height: int, n_frames: int = 1) -> bytes:
    """GIF89a with ``n_frames`` image-descriptor blocks (an animated
    GIF's frame structure, minus real LZW pixel data). Size:
    14 + 17 * n_frames."""
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", width, height, 0x00, 0, 0)  # no GCT
    for _ in range(max(1, n_frames)):
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0x00)
        out += bytes([2])            # LZW minimum code size
        out += bytes([4, 1, 2, 3, 4])  # one 4-byte data sub-block
        out += b"\x00"               # sub-block terminator
    out += b"\x3b"                   # trailer
    return bytes(out)


def build_wav(sample_rate: int, n_samples: int, channels: int = 1) -> bytes:
    """Canonical 16-bit PCM RIFF/WAVE: fmt + data chunks. Size:
    44 + 2 * channels * n_samples."""
    block_align = channels * 2
    data_len = n_samples * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    data = bytes((i * 3) & 0xFF for i in range(data_len))
    return (
        b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data_len) + data
    )


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def build_mp4(
    width: int, height: int, duration_ms: int, n_frames: int, timescale: int = 1000
) -> bytes:
    """ISO-BMFF skeleton: ftyp + moov{mvhd, trak{tkhd, mdia{minf{stbl
    {stsz}}}}}. Duration lives in mvhd (duration/timescale), dimensions
    in tkhd (16.16 fixed point), frame count in stsz.sample_count —
    the same boxes a real probe reads. Size: fixed 284 bytes."""
    dur = int(duration_ms * timescale // 1000)
    mvhd = _box(
        b"mvhd",
        struct.pack(">BxxxIIIII", 0, 0, 0, timescale, dur, 0x00010000)
        + b"\x01\x00" + b"\x00" * 10 + _unit_matrix() + b"\x00" * 24 + struct.pack(">I", 2),
    )
    tkhd = _box(
        b"tkhd",
        struct.pack(">BxxxIIIxxxxI", 0, 0, 0, 1, dur)
        + b"\x00" * 8 + struct.pack(">hhhxx", 0, 0, 0) + _unit_matrix()
        + struct.pack(">II", width << 16, height << 16),
    )
    stsz = _box(b"stsz", struct.pack(">BxxxII", 0, 0, n_frames))
    stbl = _box(b"stbl", stsz)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    return ftyp + moov


def _unit_matrix() -> bytes:
    return struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)


# --------------------------------------------------------------- parse

_EMPTY = {
    "container": None, "width": None, "height": None,
    "n_frames": None, "sample_rate": None, "duration_s": None,
}

#: JPEG start-of-frame markers that carry dimensions (C0–CF minus the
#: huffman/arithmetic/reset markers C4, C8, CC)
_SOF_MARKERS = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def parse_png(b: bytes) -> dict | None:
    if len(b) < 33 or not b.startswith(PNG_SIG) or b[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", b[16:24])
    return dict(_EMPTY, container="png", width=w, height=h, n_frames=1)


def parse_jpeg(b: bytes) -> dict | None:
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None  # lost marker sync
        marker = b[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        seg_len = struct.unpack(">H", b[pos + 2:pos + 4])[0]
        if marker in _SOF_MARKERS:
            if pos + 9 > len(b):
                return None
            h, w = struct.unpack(">HH", b[pos + 5:pos + 9])
            return dict(_EMPTY, container="jpeg", width=w, height=h, n_frames=1)
        if marker == 0xDA:  # entropy data follows; SOF should have come first
            return None
        pos += 2 + seg_len
    return None


def parse_gif(b: bytes) -> dict | None:
    if len(b) < 14 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", b[6:10])
    flags = b[10]
    pos = 13
    if flags & 0x80:  # global color table
        pos += 3 * (2 << (flags & 0x07))

    def skip_subblocks(p: int) -> int:
        while p < len(b) and b[p] != 0:
            p += 1 + b[p]
        return p + 1

    frames = 0
    while pos < len(b):
        tag = b[pos]
        if tag == 0x3B:  # trailer
            break
        if tag == 0x21:  # extension: label byte then sub-blocks
            pos = skip_subblocks(pos + 2)
        elif tag == 0x2C:  # image descriptor
            frames += 1
            if pos + 10 > len(b):
                return None
            lflags = b[pos + 9]
            pos += 10
            if lflags & 0x80:  # local color table
                pos += 3 * (2 << (lflags & 0x07))
            pos = skip_subblocks(pos + 1)  # LZW min code size, then data
        else:
            return None
    if frames == 0:
        return None
    return dict(_EMPTY, container="gif", width=w, height=h, n_frames=frames)


def parse_wav(b: bytes) -> dict | None:
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    sample_rate = block_align = data_len = None
    while pos + 8 <= len(b):
        ctype = b[pos:pos + 4]
        clen = struct.unpack("<I", b[pos + 4:pos + 8])[0]
        if ctype == b"fmt " and clen >= 16:
            # a chunk header may CLAIM 16+ bytes a truncated blob
            # doesn't hold — corrupt input is data (NULL row), never
            # a struct.error escaping into the Spark task
            if pos + 24 > len(b):
                return None
            _, _, sample_rate, _, block_align, _ = struct.unpack(
                "<HHIIHH", b[pos + 8:pos + 24]
            )
        elif ctype == b"data":
            data_len = clen
        pos += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
    # `not sample_rate` also rejects a declared rate of 0 — corrupt
    # media is data (NULL row), never a ZeroDivisionError in the task
    if not sample_rate or data_len is None or not block_align:
        return None
    duration = data_len / float(sample_rate * block_align)
    return dict(
        _EMPTY, container="wav", sample_rate=sample_rate, duration_s=duration
    )


def parse_mp4(b: bytes) -> dict | None:
    if len(b) < 12 or b[4:8] != b"ftyp":
        return None
    meta: dict = dict(_EMPTY, container="mp4")
    found_moov = False

    def walk(lo: int, hi: int) -> None:
        nonlocal found_moov
        pos = lo
        while pos + 8 <= hi:
            size = struct.unpack(">I", b[pos:pos + 4])[0]
            btype = b[pos + 4:pos + 8]
            if size < 8 or pos + size > hi:
                return
            body, end = pos + 8, pos + size
            if btype in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                if btype == b"moov":
                    found_moov = True
                walk(body, end)
            elif btype == b"mvhd" and end - body >= 20:
                timescale, dur = struct.unpack(">II", b[body + 12:body + 20])
                if timescale:
                    meta["duration_s"] = dur / float(timescale)
            elif btype == b"tkhd" and end - body >= 84:
                w_fp, h_fp = struct.unpack(">II", b[body + 76:body + 84])
                meta["width"], meta["height"] = w_fp >> 16, h_fp >> 16
            elif btype == b"stsz" and end - body >= 12:
                meta["n_frames"] = struct.unpack(">I", b[body + 8:body + 12])[0]
            pos = end

    walk(0, len(b))
    return meta if found_moov else None


# ------------------------------------------ BMP / TIFF / MP3 extension

#: MPEG-1 Layer III bitrate table (kbps), index 1..14
_MP3_BITRATES = [
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
]
#: MPEG-1 sample-rate table, index 0..2
_MP3_RATES = [44100, 48000, 32000]
#: samples per MPEG-1 Layer III frame
_MP3_SPF = 1152


def build_bmp(width: int, height: int, pix_len: int = 0) -> bytes:
    """BITMAPINFOHEADER BMP: 14-byte file header + 40-byte info header
    + filler pixel bytes. Closed-form size: 54 + pix_len."""
    total = 54 + pix_len
    fh = b"BM" + struct.pack("<IHHI", total, 0, 0, 54)
    ih = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                     pix_len, 2835, 2835, 0, 0)
    return fh + ih + bytes(i & 0xFF for i in range(pix_len))


def build_tiff(width: int, height: int, little_endian: bool = True) -> bytes:
    """Minimal single-IFD TIFF: header + 2 LONG entries (ImageWidth 256,
    ImageLength 257), next-IFD = 0. Both byte orders supported so the
    parser's endian handling is actually exercised."""
    e = "<" if little_endian else ">"
    head = (b"II" if little_endian else b"MM") + struct.pack(e + "HI", 42, 8)
    entries = struct.pack(e + "H", 2)
    for tag, val in ((256, width), (257, height)):
        entries += struct.pack(e + "HHII", tag, 4, 1, val)
    return head + entries + struct.pack(e + "I", 0)


def build_mp3(
    sample_rate: int, n_frames: int, bitrate_kbps: int = 128,
    id3_len: int = 0,
) -> bytes:
    """CBR MPEG-1 Layer III stream: optional ID3v2 tag + n_frames
    frames, each a real 4-byte header followed by filler to the
    header-implied frame length floor(144000·kbps/rate)."""
    if sample_rate not in _MP3_RATES:
        raise ValueError(f"build_mp3: unsupported sample rate {sample_rate}")
    if bitrate_kbps not in _MP3_BITRATES[1:]:
        raise ValueError(f"build_mp3: unsupported bitrate {bitrate_kbps}")
    out = b""
    if id3_len:
        # ID3v2 header: syncsafe 28-bit size of the tag body
        sz = id3_len
        ss = bytes(
            [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
        )
        out += b"ID3" + b"\x04\x00" + b"\x00" + ss + bytes(id3_len)
    br_idx = _MP3_BITRATES.index(bitrate_kbps)
    sr_idx = _MP3_RATES.index(sample_rate)
    hdr = bytes(
        [0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0x00]
    )  # sync, MPEG1 L3 no-CRC, bitrate/samplerate, no padding
    frame_len = (144000 * bitrate_kbps) // sample_rate
    frame = hdr + bytes((frame_len - 4) * [0x55])
    return out + frame * n_frames


def build_flac(sample_rate: int, n_samples: int, frame_len: int = 0) -> bytes:
    """FLAC skeleton: "fLaC" magic + a last-block STREAMINFO (type 0,
    34 bytes) carrying sample rate (20 bits), channels, bps and the
    36-bit total-sample count, + filler frame bytes. Size: 42 +
    frame_len."""
    if not 0 < sample_rate < (1 << 20):
        raise ValueError(f"build_flac: sample rate {sample_rate} out of range")
    if not 0 <= n_samples < (1 << 36):
        raise ValueError("build_flac: total samples out of 36-bit range")
    header = b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
    # min/max block size, min/max frame size
    info = (4096).to_bytes(2, "big") * 2 + (0).to_bytes(3, "big") * 2
    # 64-bit field: rate(20) | channels-1(3) | bps-1(5) | total(36)
    packed = (sample_rate << 44) | (0 << 41) | (15 << 36) | n_samples
    info += packed.to_bytes(8, "big")
    info += bytes(16)  # MD5 of the unencoded audio (zeroed)
    return header + info + bytes(frame_len)


def parse_flac(b: bytes) -> dict | None:
    if len(b) < 8 or b[:4] != b"fLaC":
        return None
    pos = 4
    while pos + 4 <= len(b):
        btype = b[pos] & 0x7F
        last = bool(b[pos] & 0x80)
        blen = int.from_bytes(b[pos + 1:pos + 4], "big")
        body = pos + 4
        if btype == 0:  # STREAMINFO
            if blen < 34 or body + 34 > len(b):
                return None
            packed = int.from_bytes(b[body + 10:body + 18], "big")
            rate = packed >> 44
            total = packed & ((1 << 36) - 1)
            if not rate:
                return None  # a declared rate of 0 is corrupt: NULL row
            return dict(
                _EMPTY, container="flac", sample_rate=rate,
                duration_s=total / float(rate),
            )
        if last:
            break
        pos = body + blen
    return None  # no STREAMINFO: spec-invalid


def parse_bmp(b: bytes) -> dict | None:
    if len(b) < 26 or b[:2] != b"BM":
        return None
    info_len = struct.unpack("<I", b[14:18])[0]
    if info_len < 40 or len(b) < 54:
        return None  # BITMAPCOREHEADER and truncated variants: NULL row
    w, h = struct.unpack("<ii", b[18:26])
    # height may be negative (top-down rows) — the dimension is |h|;
    # width may NOT (no spec meaning), so a negative width is a corrupt
    # file and yields the module's NULL row, like parse_wav's rate=0
    if w <= 0:
        return None
    return dict(_EMPTY, container="bmp", width=w, height=abs(h), n_frames=1)


def parse_tiff(b: bytes) -> dict | None:
    if len(b) < 8:
        return None
    if b[:4] == b"II*\x00":
        e = "<"
    elif b[:4] == b"MM\x00*":
        e = ">"
    else:
        return None
    (ifd_off,) = struct.unpack(e + "I", b[4:8])
    if ifd_off + 2 > len(b):
        return None
    (n_entries,) = struct.unpack(e + "H", b[ifd_off:ifd_off + 2])
    w = h = None
    for i in range(n_entries):
        lo = ifd_off + 2 + 12 * i
        if lo + 12 > len(b):
            return None
        tag, ftype, count = struct.unpack(e + "HHI", b[lo:lo + 8])
        if count != 1 or ftype not in (3, 4):
            continue
        if ftype == 3:  # SHORT sits in the first two value bytes
            (val,) = struct.unpack(e + "H", b[lo + 8:lo + 10])
        else:  # LONG uses all four
            (val,) = struct.unpack(e + "I", b[lo + 8:lo + 12])
        if tag == 256:
            w = val
        elif tag == 257:
            h = val
    if w is None or h is None:
        return None
    return dict(_EMPTY, container="tiff", width=w, height=h, n_frames=1)


def parse_mp3(b: bytes) -> dict | None:
    pos = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        sz = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
        pos = 10 + sz
    n_frames = 0
    sample_rate = None
    while pos + 4 <= len(b):
        h = b[pos:pos + 4]
        # MPEG-1 Layer III sync: 11 set bits, version 11, layer 01
        if h[0] != 0xFF or (h[1] & 0xFE) != 0xFA:
            break
        br_idx = (h[2] >> 4) & 0xF
        sr_idx = (h[2] >> 2) & 0x3
        padding = (h[2] >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            break  # free-format/bad: stop at the last valid frame
        rate = _MP3_RATES[sr_idx]
        if sample_rate is None:
            sample_rate = rate
        frame_len = (144000 * _MP3_BITRATES[br_idx]) // rate + padding
        if pos + frame_len > len(b):
            break  # truncated final frame doesn't count
        n_frames += 1
        pos += frame_len
    if not n_frames or not sample_rate:
        return None
    duration = n_frames * _MP3_SPF / float(sample_rate)
    return dict(
        _EMPTY, container="mp3", n_frames=n_frames,
        sample_rate=sample_rate, duration_s=duration,
    )


def parse_media(blob: bytes) -> dict:
    """Sniff the container from magic bytes and parse its header.

    Returns {container, width, height, n_frames, sample_rate,
    duration_s}; all-None when no parser claims the blob (truncated,
    corrupt, or an unknown format)."""
    b = bytes(blob) if blob is not None else b""
    if b.startswith(PNG_SIG):
        out = parse_png(b)
    elif b[:2] == b"\xff\xd8":
        out = parse_jpeg(b)
    elif b[:6] in (b"GIF87a", b"GIF89a"):
        out = parse_gif(b)
    elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        out = parse_wav(b)
    elif len(b) >= 12 and b[4:8] == b"ftyp":
        out = parse_mp4(b)
    elif b[:4] == b"fLaC":
        out = parse_flac(b)
    elif b[:2] == b"BM":
        out = parse_bmp(b)
    elif b[:4] in (b"II*\x00", b"MM\x00*"):
        out = parse_tiff(b)
    elif b[:3] == b"ID3" or (len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xFE) == 0xFA):
        out = parse_mp3(b)
    else:
        out = None
    return out if out is not None else dict(_EMPTY)


# ------------------------------------------- real pixel/sample codecs
#
# Uncompressed containers decode with struct/numpy alone — these are
# REAL kernels, not stubs: encode_bmp24/decode_bmp24 invert each other
# over the actual BMP pixel layout (bottom-up rows, 4-byte row
# padding, BGR channel order), decode_wav_pcm16 yields the actual
# int16 samples the RIFF data chunk carries.


def encode_bmp24(arr) -> bytes:
    """numpy (h, w, 3) uint8, BGR channel order, top-down rows -> a
    valid 24-bit BITMAPINFOHEADER BMP (bottom-up storage, rows padded
    to 4 bytes)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    pad = (-(w * 3)) % 4
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage order
        rows += a[y].tobytes() + b"\x00" * pad
    pix = bytes(rows)
    total = 54 + len(pix)
    fh = b"BM" + struct.pack("<IHHI", total, 0, 0, 54)
    ih = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return fh + ih + pix


def decode_bmp24(b: bytes):
    """24-bit uncompressed BMP -> numpy (h, w, 3) uint8 BGR top-down,
    or None for anything this real-but-narrow decoder doesn't cover
    (other bit depths, compressed BMPs, truncated pixel arrays) —
    decode failures are data, never exceptions.

    Handles both bottom-up (height > 0) and top-down (height < 0)
    storage and the 4-byte row padding."""
    import numpy as np

    if len(b) < 54 or b[:2] != b"BM":
        return None
    offset = struct.unpack("<I", b[10:14])[0]
    info_len = struct.unpack("<I", b[14:18])[0]
    if info_len < 40:
        return None
    w, h_signed = struct.unpack("<ii", b[18:26])
    planes, bpp = struct.unpack("<HH", b[26:30])
    compression = struct.unpack("<I", b[30:34])[0]
    if w <= 0 or h_signed == 0 or bpp != 24 or compression != 0:
        return None
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    if offset + stride * h > len(b):
        return None
    raw = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=offset)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up file -> top-down array
        rows = rows[::-1]
    return rows.copy()


def resample_nearest(src, width: int, height: int):
    """The nearest-neighbor resample every image kernel shares: output
    pixel (X, Y) is source pixel (floor(X·sw/width), floor(Y·sh/height))
    — pure integer index math, so an SQL oracle can predict every
    output pixel. Works on any (h, w, ...) array (GIF resamples its
    index plane). None when ``src`` is None (the decoder did not claim
    the blob) or a target dimension is not positive — the NULL-blob
    honest-failure contract of the ``resize_*_nearest`` kernels."""
    import numpy as np

    if src is None or width <= 0 or height <= 0:
        return None
    sh, sw = src.shape[:2]
    xs = (np.arange(width) * sw) // width
    ys = (np.arange(height) * sh) // height
    return src[np.ix_(ys, xs)]


def resize_bmp24_nearest(b: bytes, width: int, height: int) -> bytes | None:
    """24-bit BMP decode → `resample_nearest` → 24-bit BMP encode."""
    out = resample_nearest(decode_bmp24(b), width, height)
    return None if out is None else encode_bmp24(out)


def decode_wav_pcm16(b: bytes):
    """Mono 16-bit PCM RIFF/WAVE -> (sample_rate, numpy int16 samples),
    or None for anything else (other encodings/bit depths/channel
    counts, truncated data) — same honest-failure contract as the
    header parsers."""
    import numpy as np

    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(b):
        ctype = b[pos : pos + 4]
        clen = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        if ctype == b"fmt " and clen >= 16 and pos + 24 <= len(b):
            fmt = struct.unpack("<HHIIHH", b[pos + 8 : pos + 24])
        elif ctype == b"data":
            if pos + 8 + clen > len(b):
                return None  # truncated data chunk
            data = b[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        return None
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or channels != 1 or bits != 16 or sample_rate == 0:
        return None
    samples = np.frombuffer(data[: len(data) & ~1], dtype="<i2")
    return sample_rate, samples


# PNG is the one COMPRESSED container that decodes stdlib-only: IDAT is
# zlib deflate over filtered scanlines, and the five per-row filters
# (None/Sub/Up/Average/Paeth, PNG spec §9) are byte arithmetic. These
# are REAL kernels over real pixels — encode_png_rgb/decode_png_rgb
# invert each other for 8-bit truecolor (color type 2, no interlace),
# including every filter type; anything narrower-than-spec (palette,
# alpha, 16-bit, Adam7) returns None per the honest-failure contract.


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties won by left, then up."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_filter_row(ftype: int, row: bytes, prev: bytes) -> bytes:
    """Forward-filter one scanline (bpp = 3); `prev` is the RAW prior
    scanline (zeros for the first row)."""
    out = bytearray(len(row))
    for i in range(len(row)):
        left = row[i - 3] if i >= 3 else 0
        up = prev[i]
        ul = prev[i - 3] if i >= 3 else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) >> 1
        else:
            pred = _paeth(left, up, ul)
        out[i] = (row[i] - pred) & 0xFF
    return bytes(out)


def _png_unfilter_row(ftype: int, row: bytearray, prev: bytes) -> None:
    """Reconstruct one filtered scanline IN PLACE (bpp = 3); `prev` is
    the already-reconstructed prior scanline (zeros for the first)."""
    for i in range(len(row)):
        left = row[i - 3] if i >= 3 else 0
        up = prev[i]
        ul = prev[i - 3] if i >= 3 else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) >> 1
        else:
            pred = _paeth(left, up, ul)
        row[i] = (row[i] + pred) & 0xFF


def encode_png_rgb(arr, row_filters=None) -> bytes:
    """numpy (h, w, 3) uint8, RGB channel order, top-down rows -> a
    valid 8-bit truecolor PNG (one IDAT, real CRCs). ``row_filters``
    optionally gives the filter type (0-4) per scanline — the fixture
    uses it to exercise ALL five unfilter paths; default is type 0."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    raw = bytearray()
    prev = bytes(w * 3)
    for y in range(h):
        row = a[y].tobytes()
        ftype = int(row_filters[y]) if row_filters is not None else 0
        raw.append(ftype)
        raw += _png_filter_row(ftype, row, prev)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_rgb(b: bytes):
    """8-bit truecolor PNG -> numpy (h, w, 3) uint8 RGB top-down, or
    None for anything this real-but-narrow decoder doesn't cover
    (palette/alpha/16-bit/interlaced, truncated or corrupt streams).
    Walks the chunk list (IDAT may be split), inflates, and runs the
    per-row unfilter for all five filter types."""
    import numpy as np

    if len(b) < 8 or b[:8] != PNG_SIG:
        return None
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(b):
        (clen,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        payload = b[pos + 8 : pos + 8 + clen]
        if len(payload) < clen:
            return None
        if ctype == b"IHDR":
            ihdr = payload
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, ctype_, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if depth != 8 or ctype_ != 2 or comp != 0 or filt != 0 or interlace != 0:
        return None
    if w == 0 or h == 0:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * 3
    if len(raw) != h * (stride + 1):
        return None
    out = np.empty((h, stride), dtype=np.uint8)
    prev = bytes(stride)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        if ftype > 4:
            return None
        row = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        _png_unfilter_row(ftype, row, prev)
        prev = bytes(row)
        out[y] = np.frombuffer(prev, dtype=np.uint8)
    return out.reshape(h, w, 3)


#: Adam7 interlace pass grid (PNG spec §8.2): (x0, y0, dx, dy) per
#: pass — pass k samples pixels (x0 + i·dx, y0 + j·dy).
ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def adam7_scanline_count(w: int, h: int) -> int:
    """Total filtered scanlines an Adam7 image of (w, h) carries —
    empty passes (zero width or height) contribute none, per spec."""
    n = 0
    for x0, y0, dx, dy in ADAM7_PASSES:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            n += ph
    return n


def encode_png_rgb_adam7(arr, row_filters=None) -> bytes:
    """numpy (h, w, 3) uint8 RGB top-down -> a valid 8-bit truecolor
    ADAM7-INTERLACED PNG (IHDR interlace = 1, one IDAT, real CRCs).
    Each of the seven passes is an independent sub-image: its first
    scanline filters against a zero prior row, exactly as the spec's
    'each pass is treated as an independent image' rule demands.
    ``row_filters`` optionally gives the filter type (0-4) per
    SEQUENTIAL scanline across passes (`adam7_scanline_count` rows)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    raw = bytearray()
    seq = 0
    for x0, y0, dx, dy in ADAM7_PASSES:
        sub = a[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        prev = bytes(pw * 3)
        for y in range(ph):
            row = sub[y].tobytes()
            ftype = int(row_filters[seq]) if row_filters is not None else 0
            raw.append(ftype)
            raw += _png_filter_row(ftype, row, prev)
            prev = row
            seq += 1
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_rgb_any(b: bytes):
    """8-bit truecolor PNG -> numpy (h, w, 3) uint8 RGB top-down,
    covering BOTH interlace methods: 0 delegates to the sequential
    path, 1 runs the real Adam7 reconstruction — seven independently
    unfiltered sub-images scattered back onto the (x0 + i·dx,
    y0 + j·dy) grids. None for anything narrower than the claim
    (palette/alpha/16-bit, truncated or corrupt streams)."""
    import numpy as np

    if len(b) < 8 or b[:8] != PNG_SIG:
        return None
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(b):
        (clen,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        payload = b[pos + 8 : pos + 8 + clen]
        if len(payload) < clen:
            return None
        if ctype == b"IHDR":
            ihdr = payload
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, ctype_, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if depth != 8 or ctype_ != 2 or comp != 0 or filt != 0:
        return None
    if interlace == 0:
        return decode_png_rgb(b)
    if interlace != 1 or w == 0 or h == 0:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    # validate the EXACT Adam7 raw size before allocating the output:
    # a corrupt IHDR dimension would otherwise drive a multi-GB
    # np.empty from a few-KB blob (fuzz r11 MemoryError)
    expected = 0
    for x0, y0, dx, dy in ADAM7_PASSES:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            expected += ph * (1 + pw * 3)
    if expected != len(raw):
        return None
    out = np.empty((h, w, 3), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in ADAM7_PASSES:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = pw * 3
        sub = np.empty((ph, stride), dtype=np.uint8)
        prev = bytes(stride)
        for y in range(ph):
            if pos + 1 + stride > len(raw):
                return None
            ftype = raw[pos]
            if ftype > 4:
                return None
            row = bytearray(raw[pos + 1 : pos + 1 + stride])
            _png_unfilter_row(ftype, row, prev)
            prev = bytes(row)
            sub[y] = np.frombuffer(prev, dtype=np.uint8)
            pos += 1 + stride
        out[y0::dy, x0::dx] = sub.reshape(ph, pw, 3)
    if pos != len(raw):
        return None
    return out


def resize_png_adam7_nearest(b: bytes, width: int, height: int) -> bytes | None:
    """8-bit truecolor PNG decode (either interlace method) →
    `resample_nearest` → RE-ENCODE AS ADAM7, so a decode of the output
    exercises the interlaced writer and reader both."""
    out = resample_nearest(decode_png_rgb_any(b), width, height)
    return None if out is None else encode_png_rgb_adam7(out)


def resize_png_nearest(b: bytes, width: int, height: int) -> bytes | None:
    """Sequential 8-bit truecolor PNG decode → `resample_nearest` →
    PNG encode (filter type 0 rows — the content, not the filter
    choice, is the contract)."""
    out = resample_nearest(decode_png_rgb(b), width, height)
    return None if out is None else encode_png_rgb(out)


# ------------------------------------------------- GIF LZW pixel kernel
#
# Real LZW codec for GIF image data — the second genuinely COMPRESSED
# container with a full pixel path (PNG/zlib being the first). The
# encoder exists to build valid fixtures; the decoder is the kernel
# under test. Both use the same width-growth rule (bump after the
# table add that fills the current code space, 12-bit cap, CLEAR on
# table full), which the roundtrip property tests pin across the
# 9->10->11->12-bit transitions and the 4096-entry reset.


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: LSB-first bit packing, CLEAR emitted first and
    on table overflow, EOI last."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    emit(clear, width)
    prev = -1
    for byte in data:
        if prev < 0:
            prev = byte
            continue
        if (prev, byte) in table:
            prev = table[(prev, byte)]
            continue
        emit(prev, width)
        if next_code < 4096:
            table[(prev, byte)] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            table.clear()
            width = min_code_size + 1
            next_code = eoi + 1
        prev = byte
    if prev >= 0:
        emit(prev, width)
        # the decoder grows its table on EVERY data code after the
        # first — including this flush, which the encoder never pairs
        # with an add. Simulate that add so the EOI is emitted at the
        # width the decoder will read it with (the tail twin of the
        # decoder's 2^w - 1 bump).
        if next_code < 4096:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes | None:
    """Inverse of `_lzw_encode`; None on any malformed stream.

    The string table holds (offset, length) SPANS into the output
    being built instead of materialized byte strings — the LZ78
    property that every table entry equals (previous emission) +
    (first byte of the current one) means each entry is a substring
    of output already written by the time any code can reference it,
    so emission is a C-speed bytearray slice-copy and table
    maintenance is two int stores (the old bytes-concat per code was
    O(entry length), the decode hot spot)."""
    if not 1 <= min_code_size <= 11:
        # GIF code widths are 2..12 bits; a corrupt size byte would
        # mint "root" codes past 255 (fuzz r11)
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    acc = 0
    nbits = 0
    n = len(data)
    out = bytearray()
    width = min_code_size + 1
    ent_pos = [0] * 4096
    ent_len = [0] * 4096
    table_n = eoi + 1
    prev_q = -1  # output offset of the previous emission
    prev_len = 0
    while True:
        while nbits < width:
            if pos >= n:
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table_n = eoi + 1
            width = min_code_size + 1
            prev_q = -1
            continue
        if code == eoi:
            return bytes(out)
        q = len(out)
        if code < clear:
            if code > 255:  # root codes are byte values (fuzz r11)
                return None
            out.append(code)
            length = 1
        elif eoi < code < table_n:
            p = ent_pos[code]
            length = ent_len[code]
            out += out[p : p + length]
        elif code == table_n and prev_q >= 0:
            # KwKwK: previous string plus its own first byte
            length = prev_len + 1
            out += out[prev_q : prev_q + prev_len]
            out.append(out[prev_q])
        else:
            return None
        if prev_q >= 0 and table_n < 4096:
            ent_pos[table_n] = prev_q
            ent_len[table_n] = prev_len + 1
            table_n += 1
            # one EARLY relative to the encoder's bump: when the
            # encoder emits a code it has already added the entry the
            # decoder can only reconstruct after this read, so the
            # decoder's table lags by one — it must widen at 2^w - 1
            # (the classic GIF decoder off-by-one)
            if table_n == (1 << width) - 1 and width < 12:
                width += 1
        prev_q = q
        prev_len = length
    return None


def encode_gif_indexed(idx, palette) -> bytes:
    """numpy (h, w) uint8 palette indices + 256-entry RGB palette ->
    a valid single-image GIF87a (global color table, REAL LZW-packed
    image data in 255-byte sub-blocks)."""
    import numpy as np

    a = np.asarray(idx, dtype=np.uint8)
    h, w = a.shape
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r & 0xFF, g & 0xFF, b & 0xFF))
    assert len(pal) == 768, "palette must have 256 RGB entries"
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
    out += pal
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(8)  # LZW minimum code size
    lzw = _lzw_encode(a.tobytes(), 8)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def decode_gif_indexed(b: bytes):
    """Single-image GIF with a 256-entry GCT -> (numpy (h, w) uint8
    indices, numpy (256, 3) uint8 RGB palette), or None for anything
    this real-but-narrow decoder doesn't cover (no GCT, local color
    tables, interlace, multi-frame/extensions beyond skippable
    blocks, malformed LZW)."""
    import numpy as np

    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w0, h0, packed, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    if not packed & 0x80:
        return None
    gct_n = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * gct_n > len(b):
        return None
    pal_raw = b[pos : pos + 3 * gct_n]
    pos += 3 * gct_n
    if gct_n != 256:
        return None
    while pos < len(b):
        marker = b[pos]
        if marker == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(b) and b[pos]:
                pos += 1 + b[pos]
            pos += 1
        elif marker == 0x2C:
            if pos + 10 > len(b):
                return None
            _l, _t, iw, ih, ipacked = struct.unpack(
                "<HHHHB", b[pos + 1 : pos + 10]
            )
            if ipacked & 0xC0:  # LCT or interlace
                return None
            pos += 10
            if pos >= len(b):
                return None
            mcs = b[pos]
            pos += 1
            data = bytearray()
            while pos < len(b) and b[pos]:
                n = b[pos]
                data += b[pos + 1 : pos + 1 + n]
                pos += 1 + n
            raw = _lzw_decode(bytes(data), mcs)
            if raw is None or len(raw) != iw * ih or iw == 0 or ih == 0:
                return None
            idx = np.frombuffer(raw, dtype=np.uint8).reshape(ih, iw)
            pal = np.frombuffer(pal_raw, dtype=np.uint8).reshape(256, 3)
            return idx, pal
        elif marker == 0x3B:
            return None  # trailer before any image
        else:
            return None
    return None


def encode_gif_animated(frames, palette, delay_cs: int = 10) -> bytes:
    """List of numpy (h, w) uint8 index frames + 256-entry RGB palette
    -> a valid ANIMATED GIF89a: NETSCAPE2.0 loop extension, one
    Graphic Control Extension (delay, disposal 1) + image descriptor +
    REAL LZW data per frame. All frames full-canvas (no partial-frame
    disposal games — the honest subset)."""
    import numpy as np

    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r & 0xFF, g & 0xFF, b & 0xFF))
    assert len(pal) == 768, "palette must have 256 RGB entries"
    first = np.asarray(frames[0], dtype=np.uint8)
    h, w = first.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += pal
    # NETSCAPE looping application extension (loop forever)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        a = np.asarray(fr, dtype=np.uint8)
        assert a.shape == (h, w), "all frames must be full-canvas"
        out += b"\x21\xf9\x04" + struct.pack("<BHB", 0x04, delay_cs, 0) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out.append(8)
        lzw = _lzw_encode(a.tobytes(), 8)
        for i in range(0, len(lzw), 255):
            block = lzw[i : i + 255]
            out.append(len(block))
            out += block
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(b: bytes):
    """ANIMATED (or single-image) GIF with a 256-entry GCT -> (list of
    numpy (h, w) uint8 index frames, numpy (256, 3) uint8 palette), or
    None for anything outside the claim (no GCT, local color tables,
    interlace, partial-canvas frames, malformed LZW). Every frame's
    LZW stream decodes for real — a sampling caller still pays only
    for the frames it keeps downstream, but integrity is per-frame."""
    import numpy as np

    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w0, h0, packed, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    if not packed & 0x80:
        return None
    gct_n = 2 << (packed & 0x07)
    pos = 13
    if pos + 3 * gct_n > len(b) or gct_n != 256:
        return None
    pal_raw = b[pos : pos + 3 * gct_n]
    pos += 3 * gct_n
    frames = []
    while pos < len(b):
        marker = b[pos]
        if marker == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(b) and b[pos]:
                pos += 1 + b[pos]
            pos += 1
        elif marker == 0x2C:
            if pos + 10 > len(b):
                return None
            ll, tt, iw, ih, ipacked = struct.unpack(
                "<HHHHB", b[pos + 1 : pos + 10]
            )
            if ipacked & 0xC0 or (ll, tt, iw, ih) != (0, 0, w0, h0):
                return None
            pos += 10
            if pos >= len(b):
                return None
            mcs = b[pos]
            pos += 1
            data = bytearray()
            while pos < len(b) and b[pos]:
                n = b[pos]
                data += b[pos + 1 : pos + 1 + n]
                pos += 1 + n
            pos += 1  # sub-block terminator
            raw = _lzw_decode(bytes(data), mcs)
            if raw is None or len(raw) != iw * ih or iw == 0 or ih == 0:
                return None
            frames.append(np.frombuffer(raw, dtype=np.uint8).reshape(ih, iw))
        elif marker == 0x3B:
            break
        else:
            return None
    if not frames:
        return None
    return frames, np.frombuffer(pal_raw, dtype=np.uint8).reshape(256, 3)


def decode_gif_rgb(b: bytes):
    """GIF -> numpy (h, w, 3) uint8 RGB top-down via the global
    palette, or None (see `decode_gif_indexed` coverage)."""
    got = decode_gif_indexed(b)
    if got is None:
        return None
    idx, pal = got
    return pal[idx]


def resize_gif_nearest(b: bytes, width: int, height: int) -> bytes | None:
    """GIF decode → `resample_nearest` in INDEX space (the palette
    carries over untouched) → the real LZW encoder."""
    got = decode_gif_indexed(b)
    if got is None:
        return None
    idx, pal = got
    out = resample_nearest(idx, width, height)
    return None if out is None else encode_gif_indexed(out, [tuple(p) for p in pal])


# --------------------------------------------------- JPEG pixel codec
#
# Real baseline-sequential JPEG (ITU T.81), stdlib + numpy only — the
# last compressed container to get a true pixel kernel. Scope is the
# honest-decoder contract of the PNG/GIF kernels: baseline DCT (SOF0),
# 8-bit samples, 1 or 3 components with 1x1 sampling (4:4:4), any
# DQT/DHT the stream declares, restart markers honored; anything else
# (progressive, subsampled, 12-bit, arithmetic coding) returns None.
#
# The encoder is general (FDCT, quantize, zigzag, Huffman) but emits
# FIXED-LENGTH Huffman tables of its own: 12 four-bit DC codes and
# 162 eight-bit AC codes (the all-ones code stays unused as T.81
# requires). Building tables instead of transcribing the Annex K
# defaults removes a 300-constant transcription risk at the cost of a
# few percent of compression — irrelevant here, and the decoder reads
# whatever DHT the stream carries, so it handles Annex-K files too.
#
# Exactness contract the fixtures lean on: a block whose samples are
# CONSTANT has only a DC coefficient (8*(v-128)); with a flat quant
# table of 8 the quantized DC is exactly v-128, so decode returns the
# constant bit-for-bit. YCbCr -> RGB uses a PINNED integer rendition
# (floor((1e6*Y + c*(C-128) + 5e5) / 1e6), BT.601 coefficients scaled
# by 1e6) so a SQL oracle replays the conversion exactly.

_JPEG_DC_SYMBOLS = list(range(12))
_JPEG_AC_SYMBOLS = sorted(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)


def _zigzag_order() -> list[int]:
    """Zigzag scan positions (T.81 figure 5), generated not
    transcribed: diagonals alternate direction, odd diagonals walk
    top-right to bottom-left."""
    order = []
    for d in range(15):
        pts = [(i, d - i) for i in range(d + 1) if i < 8 and d - i < 8]
        if d % 2 == 0:
            pts = pts[::-1]
        order += [r * 8 + c for r, c in pts]
    return order


_ZIGZAG = _zigzag_order()


def _dct_matrix():
    import numpy as np

    C = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / (2.0 ** 0.5)) if u == 0 else 1.0
        for x in range(8):
            C[u, x] = 0.5 * cu * __import__("math").cos(
                (2 * x + 1) * u * __import__("math").pi / 16.0
            )
    return C


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def flush(self) -> None:
        while self.n:
            self.write(1, 1)  # pad with 1-bits per T.81 F.1.2.3


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.b = data
        self.p = pos
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int | None:
        if self.n == 0:
            while True:
                if self.p >= len(self.b):
                    return None
                byte = self.b[self.p]
                self.p += 1
                if byte == 0xFF:
                    if self.p >= len(self.b):
                        return None
                    nxt = self.b[self.p]
                    if nxt == 0x00:
                        self.p += 1  # stuffed
                    else:
                        # a real marker: rewind so the caller sees it
                        self.p -= 1
                        return None
                break
            self.acc, self.n = byte, 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int | None:
        v = 0
        for _ in range(k):
            bit = self.read_bit()
            if bit is None:
                return None
            v = (v << 1) | bit
        return v

    def align(self) -> None:
        self.n = 0


class _JpegBitReader:
    """Pooled bit reader for JPEG entropy segments: destuffs the
    segment ONCE up to the next real marker (0xFF00 -> 0xFF), then
    serves bits by index with no per-bit byte/marker logic — the
    round-10 decode speedup (read_bit dominated the progressive
    profile). Observable contract matches `_BitReader` at every point
    the JPEG decoders use: read_bit/read_bits return None at a real
    marker with ``p`` resting ON the 0xFF; ``align()`` discards the
    partial byte; assigning ``p`` (restart handling) reseeds the pool.
    FLAC keeps the original `_BitReader` (it pokes its internals)."""

    __slots__ = ("b", "_pool", "_raw_after", "_start", "_end_p", "_i")

    def __init__(self, data: bytes, pos: int):
        self.b = data
        self._seed(pos)

    def _seed(self, pos: int) -> None:
        b = self.b
        n = len(b)
        pool = bytearray()
        raw_after = []
        p = pos
        while p < n:
            byte = b[p]
            if byte == 0xFF:
                if p + 1 >= n:
                    p += 1  # truncated trailing 0xFF (original consumed it)
                    break
                if b[p + 1] != 0x00:
                    break  # real marker: stop with p ON the 0xFF
                pool.append(0xFF)
                p += 2
                raw_after.append(p)
                continue
            pool.append(byte)
            p += 1
            raw_after.append(p)
        self._pool = bytes(pool)
        self._raw_after = raw_after
        self._start = pos
        self._end_p = p
        self._i = 0

    @property
    def p(self) -> int:
        i = self._i
        if i >= len(self._pool) * 8:
            # exhausted: resting on the terminating marker (or at the
            # start when the pool was empty to begin with and nothing
            # was ever read — both collapse to the same raw position
            # except for a truncated trailing 0xFF, where the decoders
            # abort before reading p)
            return self._end_p
        if i == 0:
            return self._start
        return self._raw_after[(i - 1) >> 3]

    @p.setter
    def p(self, pos: int) -> None:
        self._seed(pos)

    def read_bit(self) -> int | None:
        i = self._i
        if i >= len(self._pool) * 8:
            return None
        self._i = i + 1
        return (self._pool[i >> 3] >> (7 - (i & 7))) & 1

    def read_bits(self, k: int) -> int | None:
        if k == 0:
            return 0
        i = self._i
        if i + k > len(self._pool) * 8:
            self._i = len(self._pool) * 8
            return None
        j = (i + k - 1) >> 3
        chunk = int.from_bytes(self._pool[i >> 3 : j + 1], "big")
        self._i = i + k
        return (chunk >> ((j + 1) * 8 - (i + k))) & ((1 << k) - 1)

    def read_huff(self, table) -> int | None:
        """Canonical-Huffman symbol without per-bit method calls:
        grab the table's minimum code length in one chunk, then walk
        the canonical first/count ranges (integer compares, no dict
        probes) one bit at a time."""
        pool = self._pool
        nbits = len(pool) * 8
        i = self._i
        first = getattr(table, "first", None)
        if first is None:  # plain dict (defensive)
            code = 0
            get = table.get
            for length in range(1, 17):
                if i >= nbits:
                    self._i = i
                    return None
                code = (code << 1) | ((pool[i >> 3] >> (7 - (i & 7))) & 1)
                i += 1
                sym = get((code, length))
                if sym is not None:
                    self._i = i
                    return sym
            self._i = i
            return None
        L = table.min_len
        if i + L > nbits:
            self._i = nbits
            return None
        j = (i + L - 1) >> 3
        code = (
            int.from_bytes(pool[i >> 3 : j + 1], "big")
            >> ((j + 1) * 8 - (i + L))
        ) & ((1 << L) - 1)
        i += L
        cnt = table.count
        offset = table.offset
        syms = table.syms
        for length in range(L, 17):
            d = code - first[length]
            if 0 <= d < cnt[length]:
                self._i = i
                return syms[offset[length] + d]
            if length == 16 or i >= nbits:
                self._i = i
                return None
            code = (code << 1) | ((pool[i >> 3] >> (7 - (i & 7))) & 1)
            i += 1
        self._i = i
        return None

    def align(self) -> None:
        self._i = (self._i + 7) & ~7


def _huff_fixed(symbols: list[int], length: int):
    """Fixed-length canonical table: counts vector (1-16) + symbol
    list + encode map {sym: (code, len)}."""
    counts = [0] * 16
    counts[length - 1] = len(symbols)
    enc = {s: (i, length) for i, s in enumerate(symbols)}
    return counts, symbols, enc


def _dht_segment(tc: int, th: int, counts: list[int], symbols: list[int]) -> bytes:
    payload = bytes([(tc << 4) | th]) + bytes(counts) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _magnitude(v: int) -> tuple[int, int]:
    """(size, additional-bits value) per T.81 F.1.2.1: negatives are
    stored as v + 2^size - 1."""
    if v == 0:
        return 0, 0
    a, size = abs(v), 0
    while a:
        a >>= 1
        size += 1
    return size, v if v >= 0 else v + (1 << size) - 1


def _extend(v: int, size: int) -> int:
    """Inverse of _magnitude's additional-bits mapping."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _pad_edge(a, ph, pw):
    """Edge-replicate a 2-D plane up to (ph, pw)."""
    import numpy as np

    h, w = a.shape
    out = np.empty((ph, pw), dtype=a.dtype)
    out[:h, :w] = a
    if pw > w:
        out[:h, w:] = a[:, w - 1 : w]
    if ph > h:
        out[h:, :] = out[h - 1 : h, :]
    return out


def _encode_block(bw, zz, prev_dc, dc_enc, ac_enc):
    """Huffman-encode one 8x8 block's PRE-QUANTIZED zigzag
    coefficients (list of 64 ints from `_jpeg_quantized_coefs` — the
    batched FDCT/quantize runs once per component, not per block);
    returns the new DC predictor."""
    diff = zz[0] - prev_dc
    size, bits = _magnitude(diff)
    code, clen = dc_enc[size]
    bw.write(code, clen)
    if size:
        bw.write(bits, size)
    k, run = 1, 0
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    while k <= last_nz:
        if zz[k] == 0:
            run += 1
            k += 1
            continue
        while run >= 16:
            code, clen = ac_enc[0xF0]
            bw.write(code, clen)
            run -= 16
        size, bits = _magnitude(zz[k])
        code, clen = ac_enc[(run << 4) | size]
        bw.write(code, clen)
        bw.write(bits, size)
        run = 0
        k += 1
    if last_nz < 63:
        code, clen = ac_enc[0x00]  # EOB
        bw.write(code, clen)
    return zz[0]


def encode_jpeg_baseline(
    arr, quant: int = 8, subsample: str | None = None,
    restart_interval: int = 0,
) -> bytes:
    """numpy (h, w, 3) uint8 Y/Cb/Cr planes (encoded as-is, NO RGB
    transform — the caller owns color space) or (h, w) grayscale ->
    a valid baseline JFIF. Flat quantization table of ``quant``
    everywhere; fixed-length Huffman tables (see module note).
    Dimensions pad by edge replication (decoders crop back via SOF
    dims).

    ``subsample=None`` emits 4:4:4 (one block per component per MCU);
    ``subsample="420"`` emits 4:2:0 — Y at 2x2 sampling (four Y
    blocks per 16x16 MCU in raster order) with chroma decimated by
    taking the TOP-LEFT sample of each 2x2 (nearest — deterministic,
    and exact on block-constant fixtures).

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers
    every N MCUs (byte-aligned with 1-padding, DC predictors reset,
    marker index mod 8 — the T.81 restart machinery real-world
    encoders use for error resilience)."""
    import numpy as np

    h, w, samps, coefs = _jpeg_quantized_coefs(arr, quant, subsample)
    ncomp = len(samps)
    qtab = np.full((8, 8), int(quant), dtype=np.int32)
    dc_counts, dc_syms, dc_enc = _huff_fixed(_JPEG_DC_SYMBOLS, 4)
    ac_counts, ac_syms, ac_enc = _huff_fixed(_JPEG_AC_SYMBOLS, 8)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    ph, pw = coefs[0].shape[0] * 8, coefs[0].shape[1] * 8
    mcus_x, mcus_y = pw // (8 * hmax), ph // (8 * vmax)
    zzl = [coefs[c].tolist() for c in range(ncomp)]
    bw = _BitWriter()
    prev_dc = [0] * ncomp
    mcu, rst = 0, 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()  # byte-align with 1-padding per F.1.2.3
                bw.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                prev_dc = [0] * ncomp
            for c in range(ncomp):
                hi, vi = samps[c]
                for bv in range(vi):
                    for bh in range(hi):
                        prev_dc[c] = _encode_block(
                            bw,
                            zzl[c][my * vi + bv][mx * hi + bh],
                            prev_dc[c], dc_enc, ac_enc,
                        )
            mcu += 1
    bw.flush()
    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HBB", 1, 1, 1) + b"\x00\x00"
    )
    dqt = bytes([0]) + bytes(int(qtab.flat[_ZIGZAG[k]]) for k in range(64))
    out += b"\xff\xdb" + struct.pack(">H", len(dqt) + 2) + dqt
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        sof += bytes([c + 1, (samps[c][0] << 4) | samps[c][1], 0])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, dc_counts, dc_syms)
    out += _dht_segment(1, 0, ac_counts, ac_syms)
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _HuffTable(dict):
    """Canonical (code, length) -> symbol dict PLUS the canonical
    range arrays (first code / count / symbol offset per length) that
    let `_JpegBitReader.read_huff` decode with integer compares
    instead of a dict probe per candidate length."""

    __slots__ = ("min_len", "first", "count", "offset", "syms")


def _huff_decode_table(counts: list[int], symbols: list[int]):
    """Canonical (code, length) -> symbol map per T.81 C.2."""
    table = _HuffTable()
    first = [0] * 17
    cnt = [0] * 17
    offset = [0] * 17
    min_len = 0
    code, idx = 0, 0
    for length in range(1, 17):
        first[length] = code
        offset[length] = idx
        cnt[length] = counts[length - 1]
        for _ in range(counts[length - 1]):
            table[(code, length)] = symbols[idx]
            code += 1
            idx += 1
        if cnt[length] and not min_len:
            min_len = length
        code <<= 1
    table.min_len = min_len or 1
    table.first = first
    table.count = cnt
    table.offset = offset
    table.syms = list(symbols)
    return table


def _read_huff_symbol(br, table) -> int | None:
    rh = getattr(br, "read_huff", None)
    if rh is not None:
        return rh(table)
    code, length = 0, 0
    while length < 16:
        bit = br.read_bit()
        if bit is None:
            return None
        code = (code << 1) | bit
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    return None


def _ycbcr_to_rgb_int(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """PINNED exact-integer BT.601 conversion: floor((1e6*Y +
    coeff*(C-128) + 5e5) / 1e6), clamped to [0, 255] — DuckDB //
    replays it bitwise (floor division on possibly-negative
    numerators matches Python //)."""
    r = (1_000_000 * y + 1_402_000 * (cr - 128) + 500_000) // 1_000_000
    g = (
        1_000_000 * y - 344_136 * (cb - 128) - 714_136 * (cr - 128) + 500_000
    ) // 1_000_000
    b = (1_000_000 * y + 1_772_000 * (cb - 128) + 500_000) // 1_000_000
    cl = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
    return cl(r), cl(g), cl(b)


def decode_jpeg_rgb(b: bytes):
    """Baseline JPEG -> numpy (h, w, 3) uint8 RGB top-down, or None
    for anything outside the honest-decoder contract (progressive,
    12-bit, arithmetic, 3x/4x sampling factors, truncated).
    Sampling factors 1-2 per axis are fully decoded — 4:4:4, 4:2:2,
    4:4:0 and 4:2:0 MCU layouts, chroma upsampled by integer-index
    replication (y·vi//vmax — the pinned rule a SQL oracle replays).
    Grayscale decodes with the luma replicated across channels. Full
    pipeline: marker walk, DHT canonical tables, entropy decode with
    byte unstuffing and restart-marker handling, dequantize,
    de-zigzag, IDCT, level shift, clamp, pinned integer
    YCbCr->RGB."""
    import numpy as np

    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    restart_interval = 0
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            return None  # EOI before SOS
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        seg = b[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            return None
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    vals = list(seg[p : p + 64])
                    p += 64
                else:
                    if p + 128 > len(seg):  # short 16-bit DQT (fuzz r11)
                        return None
                    vals = [
                        struct.unpack(">H", seg[p + 2 * i : p + 2 * i + 2])[0]
                        for i in range(64)
                    ]
                    p += 128
                if len(vals) < 64:
                    return None
                qtabs[tq] = vals
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                symbols = list(seg[p + 17 : p + 17 + n])
                if len(symbols) < n:
                    return None
                huff[(tc, th)] = _huff_decode_table(counts, symbols)
                p += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if len(seg) < 6:
                return None
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8 or nc not in (1, 3) or h == 0 or w == 0:
                return None
            if len(seg) < 6 + 3 * nc:
                return None
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                hi, vi = samp >> 4, samp & 0x0F
                # sampling factors 1 or 2 cover 4:4:4 / 4:2:2 /
                # 4:4:0 / 4:2:0 — where real-world baseline JPEGs
                # live; 3/4x factors stay refused
                if hi not in (1, 2) or vi not in (1, 2):
                    return None
                comps.append((cid, hi, vi, tq))
            sof = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # non-baseline frame types
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if not seg:
                return None
            ns = seg[0]
            if sof is None or ns != len(sof[2]):
                return None
            if len(seg) < 1 + 2 * ns:
                return None
            scan = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c : 3 + 2 * c]
                scan.append((cs, tt >> 4, tt & 0x0F))
            data_start = pos + 2 + seglen
            return _jpeg_decode_scan(
                b, data_start, sof, qtabs, huff, scan, restart_interval
            )
        pos += 2 + seglen
    return None


def _jpeg_decode_scan(b, pos, sof, qtabs, huff, scan, restart_interval):
    import numpy as np

    h, w, comps = sof
    nc = len(comps)
    C = _dct_matrix()
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # entropy decode accumulates ZIGZAG coefficient rows per block;
    # the dequant + IDCT + level shift runs ONCE per component as a
    # batched matmul after the scan (r10 — replaces a per-block
    # 64-step de-zigzag loop and two 8x8 BLAS calls per block)
    coef = [
        np.zeros((mcus_y * vi, mcus_x * hi, 64), dtype=np.float64)
        for _, hi, vi, _ in comps
    ]
    qt = []
    for (cid, _hi, _vi, tq), (cs, _td, _ta) in zip(comps, scan):
        if cid != cs or tq not in qtabs:
            return None
        q = np.empty(64, dtype=np.int64)
        for k in range(64):
            q[_ZIGZAG[k]] = qtabs[tq][k]
        qt.append(q.reshape(8, 8))
    br = _JpegBitReader(b, pos)
    prev_dc = [0] * nc
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                br.align()
                p = br.p
                if p + 2 <= len(b) and b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7:
                    br.p = p + 2
                    prev_dc = [0] * nc
            for ci, (cs, td, ta) in enumerate(scan):
                _cid, hi, vi, _tq = comps[ci]
                dt = huff.get((0, td))
                at = huff.get((1, ta))
                if dt is None or at is None:
                    return None
                for bv in range(vi):
                    for bh in range(hi):
                        size = _read_huff_symbol(br, dt)
                        if size is None or size > 11:
                            return None
                        bits = br.read_bits(size) if size else 0
                        if bits is None:
                            return None
                        prev_dc[ci] += _extend(bits, size)
                        zz = [0] * 64
                        zz[0] = prev_dc[ci]
                        k = 1
                        while k < 64:
                            sym = _read_huff_symbol(br, at)
                            if sym is None:
                                return None
                            if sym == 0x00:
                                break
                            if sym == 0xF0:
                                k += 16
                                continue
                            run, size = sym >> 4, sym & 0x0F
                            k += run
                            if k > 63 or size == 0:
                                return None
                            bits = br.read_bits(size)
                            if bits is None:
                                return None
                            zz[k] = _extend(bits, size)
                            k += 1
                        coef[ci][my * vi + bv, mx * hi + bh, :] = zz
            mcu += 1

    planes = []
    for ci in range(nc):
        nby, nbx = coef[ci].shape[0], coef[ci].shape[1]
        S = np.zeros((nby * nbx, 64), dtype=np.float64)
        S[:, _ZIGZAG] = coef[ci].reshape(nby * nbx, 64)
        S = S.reshape(nby * nbx, 8, 8) * qt[ci]
        blocks = np.matmul(C.T, np.matmul(S, C))
        pix = np.clip(np.round(blocks) + 128, 0, 255).astype(np.int32)
        planes.append(
            pix.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )

    def full_res(ci):
        """Upsample component ci to (h, w) by index replication —
        integer index math (y·vi//vmax), the same pinned rule the SQL
        oracle replays."""
        _cid, hi, vi, _tq = comps[ci]
        ys = (np.arange(h) * vi) // vmax
        xs = (np.arange(w) * hi) // hmax
        return planes[ci][np.ix_(ys, xs)]

    if nc == 1:
        y = full_res(0).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    Y = full_res(0)
    Cb = full_res(1)
    Cr = full_res(2)
    # vectorized pinned integer conversion (same math as
    # _ycbcr_to_rgb_int: floor((1e6*Y + c*(C-128) + 5e5) / 1e6))
    M = 1_000_000
    r = (M * Y + 1_402_000 * (Cr - 128) + 500_000) // M
    g = (M * Y - 344_136 * (Cb - 128) - 714_136 * (Cr - 128) + 500_000) // M
    bl = (M * Y + 1_772_000 * (Cb - 128) + 500_000) // M
    out = np.stack([r, g, bl], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8)


def resize_jpeg_nearest_png(b: bytes, width: int, height: int) -> bytes | None:
    """Baseline JPEG decode → `resample_nearest` → LOSSLESS 8-bit
    truecolor PNG encode — the honest pipeline shape (a training
    pipeline never re-JPEGs intermediates; every generation loses)."""
    out = resample_nearest(decode_jpeg_rgb(b), width, height)
    return None if out is None else encode_png_rgb(out)


def encode_tiff_rgb(arr, little_endian: bool = True) -> bytes:
    """Minimal VALID uncompressed RGB8 TIFF (single strip, chunky
    planar config) from an (h, w, 3) uint8 array — the real-pixel
    extension of `build_tiff`'s header-only skeleton. Layout:
    8-byte header → IFD (10 entries) → external BitsPerSample
    SHORT[3] → pixel strip. Both byte orders, so a decoder's endian
    handling is genuinely exercised (TIFF 6.0 baseline, RGB full
    color)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[0], a.shape[1]
    e = "<" if little_endian else ">"
    head = (b"II" if little_endian else b"MM") + struct.pack(e + "HI", 42, 8)
    n_entries = 10
    ifd_len = 2 + 12 * n_entries + 4
    bps_off = 8 + ifd_len
    strip_off = bps_off + 6
    strip_len = h * w * 3

    def entry(tag, ftype, count, val):
        if ftype == 3 and count == 1:  # SHORT packs into value bytes
            return struct.pack(e + "HHIHH", tag, ftype, count, val, 0)
        return struct.pack(e + "HHII", tag, ftype, count, val)

    ifd = struct.pack(e + "H", n_entries)
    ifd += entry(256, 4, 1, w)            # ImageWidth
    ifd += entry(257, 4, 1, h)            # ImageLength
    ifd += entry(258, 3, 3, bps_off)      # BitsPerSample -> external
    ifd += entry(259, 3, 1, 1)            # Compression = none
    ifd += entry(262, 3, 1, 2)            # Photometric = RGB
    ifd += entry(273, 4, 1, strip_off)    # StripOffsets
    ifd += entry(277, 3, 1, 3)            # SamplesPerPixel
    ifd += entry(278, 4, 1, h)            # RowsPerStrip
    ifd += entry(279, 4, 1, strip_len)    # StripByteCounts
    ifd += entry(284, 3, 1, 1)            # PlanarConfig = chunky
    ifd += struct.pack(e + "I", 0)        # next IFD
    bps = struct.pack(e + "HHH", 8, 8, 8)
    return head + ifd + bps + a.tobytes()


def decode_tiff_rgb(b: bytes):
    """(h, w, 3) uint8 pixels from a baseline uncompressed RGB8 TIFF
    (single strip, chunky) — None for anything the baseline contract
    doesn't claim (compressed, planar, tiled, multi-strip, non-RGB),
    the honest-failure convention."""
    import numpy as np

    if len(b) < 8:
        return None
    if b[:4] == b"II*\x00":
        e = "<"
    elif b[:4] == b"MM\x00*":
        e = ">"
    else:
        return None
    (ifd_off,) = struct.unpack(e + "I", b[4:8])
    if ifd_off + 2 > len(b):
        return None
    (n_entries,) = struct.unpack(e + "H", b[ifd_off:ifd_off + 2])
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n_entries):
        lo = ifd_off + 2 + 12 * i
        if lo + 12 > len(b):
            return None
        tag, ftype, count = struct.unpack(e + "HHI", b[lo:lo + 8])
        if ftype == 3 and count == 1:
            # a single SHORT sits left-justified in the value field
            (val,) = struct.unpack(e + "H", b[lo + 8:lo + 10])
        elif ftype == 3 and count > 2:
            # count x SHORT > 4 bytes: the value field is an OFFSET
            (val,) = struct.unpack(e + "I", b[lo + 8:lo + 12])
        elif ftype == 4 and count == 1:
            (val,) = struct.unpack(e + "I", b[lo + 8:lo + 12])
        else:
            continue
        tags[tag] = (ftype, count, val)
    need = (256, 257, 273, 279)
    if any(t not in tags for t in need):
        return None
    w, h = tags[256][2], tags[257][2]
    if tags.get(259, (3, 1, 1))[2] != 1:       # uncompressed only
        return None
    if tags.get(262, (3, 1, 2))[2] != 2:       # RGB only
        return None
    if tags.get(277, (3, 1, 3))[2] != 3:
        return None
    if tags.get(284, (3, 1, 1))[2] != 1:       # chunky only
        return None
    if tags[273][1] != 1 or tags[279][1] != 1:  # single strip only
        return None
    if 258 in tags:
        ftype, count, val = tags[258]
        if count == 3:
            if val + 6 > len(b):
                return None
            bps = struct.unpack(e + "HHH", b[val:val + 6])
            if bps != (8, 8, 8):
                return None
        elif not (count == 1 and val == 8):
            return None
    off, cnt = tags[273][2], tags[279][2]
    if cnt != w * h * 3 or off + cnt > len(b):
        return None
    return np.frombuffer(b[off:off + cnt], dtype=np.uint8).reshape(
        h, w, 3
    ).copy()


def resize_tiff_nearest(b: bytes, width: int, height: int) -> bytes | None:
    """Baseline RGB8 TIFF decode → `resample_nearest` → TIFF encode
    preserving the INPUT's byte order (an MM file stays MM — the
    round-trip must prove the endian path, not normalize it away)."""
    out = resample_nearest(decode_tiff_rgb(b), width, height)
    return None if out is None else encode_tiff_rgb(out, little_endian=b[:2] == b"II")


def encode_wav_pcm16(sample_rate: int, samples) -> bytes:
    """Canonical mono 16-bit PCM RIFF/WAVE from an int16 sample array
    — the encode half `decode_wav_pcm16` inverts (build_wav makes the
    fixed byte-pattern fixture; this one carries REAL samples, so a
    resampled signal can round-trip through the container)."""
    import numpy as np

    a = np.asarray(samples, dtype="<i2")
    data = a.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decimate_wav_pcm16(b: bytes, factor: int) -> bytes | None:
    """REAL sample-rate reduction for mono PCM16 WAV: keep every
    ``factor``-th sample (integer decimation — the zero-phase,
    exactly-reproducible half of resampling; an anti-alias filter is
    a documented extension, not silently faked), re-encode at
    sample_rate div factor. None for blobs the PCM16 contract doesn't
    claim or a non-positive/rate-exhausting factor."""
    if factor < 1:
        return None
    dec = decode_wav_pcm16(b)
    if dec is None:
        return None
    rate, samples = dec
    if rate // factor == 0:
        return None
    return encode_wav_pcm16(rate // factor, samples[::factor])


# ---------------------- progressive JPEG (SOF2, Huffman) ----------------
#
# The round-7 frontier note left progressive JPEG as the documented
# stub; this closes it with the real thing: spectral selection AND
# successive approximation, both scan directions (first + refinement),
# EOB runs, ZRL-with-correction-bits — the T.81 G.1.2 algorithms,
# symmetric encoder/decoder. The encoder exists to build valid
# fixtures (fixed progression script below); the decoder reads any
# Huffman SOF2 stream within the module's honest bounds (8-bit, 1- or
# 3-component, sampling factors 1-2). Exactness: the coefficients a
# progressive stream reconstructs are IDENTICAL to the baseline
# encoding's (same quantizer, different entropy layout), so
# decode(progressive(X)) must equal decode(baseline(X)) bit for bit —
# pinned by test, and the fixture oracle is shared with the baseline
# query for the same reason.


def _jpeg_quantized_coefs(arr, quant: int, subsample: str | None):
    """Shared front half of both encoders: pad planes, FDCT, quantize.
    Returns (h, w, samps, coefs) with coefs[c] an int64 array
    (blocks_y, blocks_x, 64) in ZIGZAG order."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if gray:
        a = a[:, :, None]
    h, w, ncomp = a.shape
    if subsample == "420" and ncomp == 3:
        samps = [(2, 2), (1, 1), (1, 1)]
        ph, pw = (h + 15) // 16 * 16, (w + 15) // 16 * 16
        yp = _pad_edge(a[:, :, 0], ph, pw)
        cb = _pad_edge(a[:, :, 1], ph, pw)[::2, ::2]
        cr = _pad_edge(a[:, :, 2], ph, pw)[::2, ::2]
        comp_planes = [yp, cb, cr]
    elif subsample is None:
        samps = [(1, 1)] * ncomp
        ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
        comp_planes = [_pad_edge(a[:, :, c], ph, pw) for c in range(ncomp)]
    else:
        raise ValueError("subsample must be None or '420' (3-component)")
    C = _dct_matrix()
    zig = np.asarray(_ZIGZAG, dtype=np.int64)
    coefs = []
    for c in range(ncomp):
        pl = comp_planes[c]
        by, bx = pl.shape[0] // 8, pl.shape[1] // 8
        # batched FDCT: one np.matmul pair over the (by, bx) block axes
        # instead of a Python loop per block. Each output element is
        # the same length-8 dot product mathematically; BLAS may
        # accumulate batched slices in a different order than the
        # per-block matmul, shifting the last ulp (observed once in a
        # PADDED chroma plane: -940.0 vs -939.9999999999998 — a .5
        # quantizer boundary, so half-even np.round flipped the
        # coefficient). Decided permanently in r12: snap the DCT
        # output to 6 dp FIRST — accumulation-order noise is ~1e-12,
        # five orders under the 5e-7 snap radius, so the snapped S is
        # bit-identical for ANY summation order — then quantize with
        # the fixed-order half-up floor(x/q + 0.5), whose only
        # discontinuities sit at exact .5 quotients of the now-exact
        # snapped values. The encoder is therefore deterministic
        # across loop/batched/BLAS rewrites for every input shape,
        # padded planes included (regression test: test_media_codec
        # padded-fixture loop-vs-batched equality). Inside JPEG's
        # lossy contract: the snap moves a coefficient only if the
        # true value was within 5e-7 of it. MCU-multiple fixtures
        # were boundary-free already and their bytes are unchanged
        # (half-up == half-even off the .5 boundary).
        blocks = (
            pl.astype(np.float64).reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
            - 128.0
        )
        S = np.round(np.matmul(C, np.matmul(blocks, C.T)), 6)
        q = np.floor(S / float(int(quant)) + 0.5).astype(np.int64)
        coefs.append(q.reshape(by, bx, 64)[:, :, zig])
    return h, w, samps, coefs


def _emit_ac_first(bw, band_vals, ac_enc):
    """AC first scan, one block: ``band_vals`` are the point-
    transformed (toward-zero) band coefficients Ss..Se. Per-block EOB
    (no EOB-run accumulation — valid, just less compressed)."""
    last_nz = -1
    for i in range(len(band_vals) - 1, -1, -1):
        if band_vals[i]:
            last_nz = i
            break
    k, run = 0, 0
    while k <= last_nz:
        v = band_vals[k]
        if v == 0:
            run += 1
            k += 1
            continue
        while run >= 16:
            code, clen = ac_enc[0xF0]
            bw.write(code, clen)
            run -= 16
        size, bits = _magnitude(v)
        code, clen = ac_enc[(run << 4) | size]
        bw.write(code, clen)
        bw.write(bits, size)
        run = 0
        k += 1
    if last_nz < len(band_vals) - 1:
        code, clen = ac_enc[0x00]
        bw.write(code, clen)


def _emit_ac_refine(bw, band_vals, ac_enc, al):
    """AC refinement scan, one block (T.81 G.1.2.3 / the libjpeg
    encode_mcu_AC_refine shape): ``band_vals`` are the RAW band
    coefficients; this scan sends bit ``al`` of each. Newly-
    significant = |v| >> al == 1; history-nonzero coefficients
    contribute pending correction bits flushed after each emitted
    symbol. Per-block EOB."""
    pending: list[int] = []
    run = 0
    emitted_through = -1
    for k, v in enumerate(band_vals):
        t = abs(v) >> al
        if t == 0:
            run += 1
            continue
        if t > 1:
            pending.append(t & 1)
            continue
        # newly significant
        while run >= 16:
            code, clen = ac_enc[0xF0]
            bw.write(code, clen)
            for bit in pending:
                bw.write(bit, 1)
            pending = []
            run -= 16
        code, clen = ac_enc[(run << 4) | 1]
        bw.write(code, clen)
        bw.write(1 if v > 0 else 0, 1)
        for bit in pending:
            bw.write(bit, 1)
        pending = []
        run = 0
        emitted_through = k
    if emitted_through < len(band_vals) - 1:
        code, clen = ac_enc[0x00]
        bw.write(code, clen)
        for bit in pending:
            bw.write(bit, 1)


def encode_jpeg_progressive(
    arr, quant: int = 8, subsample: str | None = None
) -> bytes:
    """numpy (h, w, 3) Y/Cb/Cr planes (no RGB transform — caller owns
    color space) or (h, w) grayscale -> a valid PROGRESSIVE JFIF
    (SOF2). Fixed progression script exercising every decoder path:

        1. DC first, all components interleaved, Al=1
        2. DC refinement, Al=0
        3. per component: AC first, Ss=1..63, Al=1 (EOBs, ZRL)
        4. per component: AC refinement, Ah=1, Al=0 (correction bits)

    Dimensions must be exact MCU multiples (8, or 16 on the sampled
    axes of '420') so non-interleaved scans cover every block — the
    honest restriction; the fixture complies by construction."""
    import numpy as np

    h, w, samps, coefs = _jpeg_quantized_coefs(arr, quant, subsample)
    ncomp = len(samps)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    if h % (8 * vmax) or w % (8 * hmax):
        raise ValueError("progressive encoder needs exact MCU multiples")
    mcus_x, mcus_y = w // (8 * hmax), h // (8 * vmax)
    dc_counts, dc_syms, dc_enc = _huff_fixed(_JPEG_DC_SYMBOLS, 4)
    ac_counts, ac_syms, ac_enc = _huff_fixed(_JPEG_AC_SYMBOLS, 8)
    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HBB", 1, 1, 1) + b"\x00\x00"
    )
    dqt = bytes([0]) + bytes([int(quant)] * 64)
    out += b"\xff\xdb" + struct.pack(">H", len(dqt) + 2) + dqt
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        sof += bytes([c + 1, (samps[c][0] << 4) | samps[c][1], 0])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, dc_counts, dc_syms)
    out += _dht_segment(1, 0, ac_counts, ac_syms)

    def sos_header(comps_in_scan, ss, se, ah, al, dc_tbl=True):
        seg = bytes([len(comps_in_scan)])
        for c in comps_in_scan:
            seg += bytes([c + 1, 0x00 if dc_tbl else 0x00])
        seg += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(seg) + 2) + seg

    # scan 1: DC first, interleaved, Al=1
    bw = _BitWriter()
    prev = [0] * ncomp
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in range(ncomp):
                hi, vi = samps[c]
                for bv in range(vi):
                    for bh in range(hi):
                        v = int(coefs[c][my * vi + bv, mx * hi + bh, 0]) >> 1
                        diff = v - prev[c]
                        prev[c] = v
                        size, bits = _magnitude(diff)
                        code, clen = dc_enc[size]
                        bw.write(code, clen)
                        if size:
                            bw.write(bits, size)
    bw.flush()
    out += sos_header(list(range(ncomp)), 0, 0, 0, 1) + bw.out
    # scan 2: DC refinement, Al=0
    bw = _BitWriter()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for c in range(ncomp):
                hi, vi = samps[c]
                for bv in range(vi):
                    for bh in range(hi):
                        v = int(coefs[c][my * vi + bv, mx * hi + bh, 0])
                        bw.write(v & 1, 1)
    bw.flush()
    out += sos_header(list(range(ncomp)), 0, 0, 1, 0) + bw.out
    # per component: AC first (Al=1), then AC refinement (Ah=1, Al=0)
    for c in range(ncomp):
        by, bx = coefs[c].shape[0], coefs[c].shape[1]
        bw = _BitWriter()
        # point transform (toward zero) for the whole component in one
        # vectorized pass; per-element it equals (|v| >> 1) * sign(v)
        ac = coefs[c][:, :, 1:64]
        pt = (np.sign(ac) * (np.abs(ac) >> 1)).tolist()
        for yy in range(by):
            row = pt[yy]
            for xx in range(bx):
                _emit_ac_first(bw, row[xx], ac_enc)
        bw.flush()
        out += sos_header([c], 1, 63, 0, 1) + bw.out
    for c in range(ncomp):
        by, bx = coefs[c].shape[0], coefs[c].shape[1]
        bw = _BitWriter()
        raw = coefs[c][:, :, 1:64].tolist()
        for yy in range(by):
            row = raw[yy]
            for xx in range(bx):
                _emit_ac_refine(bw, row[xx], ac_enc, 0)
        bw.flush()
        out += sos_header([c], 1, 63, 1, 0) + bw.out
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_progressive_rgb(b: bytes):
    """Progressive (SOF2, Huffman) JPEG -> numpy (h, w, 3) uint8 RGB
    top-down, or None outside the honest bounds (8-bit, 1/3
    components, sampling factors 1-2, no arithmetic coding). Full
    T.81 G.1.2 scan machinery: DC first/refine (interleaved or not),
    AC first/refine (single-component, spectral bands), EOB runs,
    ZRL-with-correction-bits, restart markers. Coefficients
    accumulate across scans; the finish (dequantize, de-zigzag, IDCT,
    upsample, pinned integer YCbCr->RGB) is the baseline decoder's."""
    import numpy as np

    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    restart_interval = 0
    coefs = None  # per component: (by, bx, 64) ints, zigzag order
    comp_grid = None

    def read_huff(br, table):
        return _read_huff_symbol(br, table)

    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        if pos + 4 > len(b):
            return None
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        seg = b[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            return None
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    vals = list(seg[p : p + 64])
                    p += 64
                else:
                    if p + 128 > len(seg):  # short 16-bit DQT (fuzz r11)
                        return None
                    vals = [
                        struct.unpack(">H", seg[p + 2 * i : p + 2 * i + 2])[0]
                        for i in range(64)
                    ]
                    p += 128
                if len(vals) < 64:
                    return None
                qtabs[tq] = vals
        elif marker == 0xC4:
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                symbols = list(seg[p + 17 : p + 17 + n])
                if len(symbols) < n:
                    return None
                huff[(tc, th)] = _huff_decode_table(counts, symbols)
                p += 17 + n
        elif marker == 0xC2:
            if len(seg) < 6:
                return None
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8 or nc not in (1, 3) or h == 0 or w == 0:
                return None
            if len(seg) < 6 + 3 * nc:
                return None
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    return None
                comps.append((cid, hi, vi, tq))
            sof = (h, w, comps)
            hmax = max(hi for _, hi, _, _ in comps)
            vmax = max(vi for _, _, vi, _ in comps)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            coefs = []
            comp_grid = []
            for _, hi, vi, _ in comps:
                by, bx = mcus_y * vi, mcus_x * hi
                coefs.append(
                    [[[0] * 64 for _ in range(bx)] for _ in range(by)]
                )
                # non-interleaved scans walk ceil(comp dims / 8)
                nb_x = (-(-w * hi // hmax) + 7) // 8
                nb_y = (-(-h * vi // vmax) + 7) // 8
                comp_grid.append((nb_y, nb_x))
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # not a progressive-Huffman frame
        elif marker == 0xDD:
            if len(seg) < 2:
                return None
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:
            if sof is None or not seg:
                return None
            h, w, comps = sof
            ns = seg[0]
            if len(seg) < 4 + 2 * ns:  # scan comps + Ss/Se/AhAl
                return None
            scomps = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c : 3 + 2 * c]
                ci = next(
                    (i for i, (cid, *_r) in enumerate(comps) if cid == cs),
                    None,
                )
                if ci is None:
                    return None
                scomps.append((ci, tt >> 4, tt & 0x0F))
            ss, se, ahl = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahl >> 4, ahl & 0x0F
            # spec bounds (T.81 B.2.3): Ss,Se in 0..63 ordered, Ah/Al
            # successive-approximation bits 0..13 — a corrupt Se past
            # 63 would index outside the 64-coefficient block (fuzz r11)
            if not (0 <= ss <= se <= 63) or ah > 13 or al > 13:
                return None
            br = _JpegBitReader(b, pos + 2 + seglen)
            ok = _jpeg_progressive_scan(
                b, br, sof, scomps, huff, coefs, comp_grid,
                ss, se, ah, al, restart_interval,
            )
            if not ok:
                return None
            br.align()
            pos = br.p
            continue
        pos += 2 + seglen

    if sof is None or coefs is None:
        return None
    # ----- finish: dequant + IDCT + upsample + pinned YCbCr->RGB -----
    h, w, comps = sof
    nc = len(comps)
    C = _dct_matrix()
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    planes = []
    for ci, (_cid, hi, vi, tq) in enumerate(comps):
        if tq not in qtabs:
            return None
        q = np.empty(64, dtype=np.int64)
        for k in range(64):
            q[_ZIGZAG[k]] = qtabs[tq][k]
        qt = q.reshape(8, 8)
        by = len(coefs[ci])
        bx = len(coefs[ci][0])
        # vectorized finish: de-zigzag every block at once, one
        # batched IDCT — the entropy scans stay the honest
        # pure-Python cost, the linear algebra shouldn't be.
        # np.matmul instead of einsum (r10: 17x faster — einsum
        # without optimize never reaches BLAS); fixture blocks are
        # DC-only (block-constant pixels), where every output element
        # is a single product, so the oracle-facing pixels are exact
        # regardless of accumulation order.
        zzm = np.asarray(coefs[ci], dtype=np.float64).reshape(by * bx, 64)
        S = np.zeros((by * bx, 64), dtype=np.float64)
        S[:, _ZIGZAG] = zzm
        S = S.reshape(by * bx, 8, 8) * qt
        blocks = np.matmul(C.T, np.matmul(S, C))
        pix = np.clip(np.round(blocks) + 128, 0, 255).astype(np.int32)
        plane = (
            pix.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        planes.append(plane)

    def full_res(ci):
        _cid, hi, vi, _tq = comps[ci]
        ys = (np.arange(h) * vi) // vmax
        xs = (np.arange(w) * hi) // hmax
        return planes[ci][np.ix_(ys, xs)]

    if nc == 1:
        y = full_res(0).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    Y = full_res(0)
    Cb = full_res(1)
    Cr = full_res(2)
    M = 1_000_000
    r = (M * Y + 1_402_000 * (Cr - 128) + 500_000) // M
    g = (M * Y - 344_136 * (Cb - 128) - 714_136 * (Cr - 128) + 500_000) // M
    bl = (M * Y + 1_772_000 * (Cb - 128) + 500_000) // M
    out = np.stack([r, g, bl], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8)


def _jpeg_progressive_scan(
    b, br, sof, scomps, huff, coefs, comp_grid, ss, se, ah, al,
    restart_interval,
):
    """Entropy-decode ONE progressive scan into the coefficient
    arrays. Returns True on success. Interleaved (multi-component,
    DC only) scans walk MCUs; single-component scans walk the
    component's own ceil-dims block grid. Restart markers reset DC
    predictors and the EOB run."""
    h, w, comps = sof
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    dc_scan = ss == 0
    if dc_scan and se != 0:
        return False
    if not dc_scan and len(scomps) != 1:
        return False

    state = {"eobrun": 0, "prev": [0] * len(scomps)}

    def maybe_restart(unit_idx):
        if restart_interval and unit_idx and unit_idx % restart_interval == 0:
            br.align()
            p = br.p
            if p + 2 <= len(b) and b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7:
                br.p = p + 2
            state["prev"] = [0] * len(scomps)
            state["eobrun"] = 0

    def dc_first(ci_s, zz):
        dt = huff.get((0, scomps[ci_s][1]))
        if dt is None:
            return False
        size = _read_huff_symbol(br, dt)
        if size is None or size > 11:
            return False
        bits = br.read_bits(size) if size else 0
        if bits is None:
            return False
        state["prev"][ci_s] += _extend(bits, size)
        zz[0] = state["prev"][ci_s] << al
        return True

    def dc_refine(zz):
        bit = br.read_bit()
        if bit is None:
            return False
        if bit:
            zz[0] |= 1 << al
        return True

    def ac_first(at, zz):
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return True
        k = ss
        while k <= se:
            sym = _read_huff_symbol(br, at)
            if sym is None:
                return False
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eob = 1 << r
                if r:
                    extra = br.read_bits(r)
                    if extra is None:
                        return False
                    eob += extra
                state["eobrun"] = eob - 1
                return True
            k += r
            if k > se:
                return False
            bits = br.read_bits(s)
            if bits is None:
                return False
            zz[k] = _extend(bits, s) << al
            k += 1
        return True

    def ac_refine(at, zz):
        p1 = 1 << al

        def correct(k):
            bit = br.read_bit()
            if bit is None:
                return False
            if bit:
                if zz[k] > 0:
                    zz[k] += p1
                else:
                    zz[k] -= p1
            return True

        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                sym = _read_huff_symbol(br, at)
                if sym is None:
                    return False
                r, s = sym >> 4, sym & 0x0F
                newval = 0
                if s:
                    if s != 1:
                        return False
                    sign = br.read_bit()
                    if sign is None:
                        return False
                    newval = p1 if sign else -p1
                else:
                    if r != 15:
                        eob = 1 << r
                        if r:
                            extra = br.read_bits(r)
                            if extra is None:
                                return False
                            eob += extra
                        state["eobrun"] = eob
                        break
                    # ZRL: skip 16 zero-history slots (r = 15 -> 16)
                # advance past r zero-history slots, correcting
                # nonzero-history coefficients on the way
                while k <= se:
                    if zz[k] != 0:
                        if not correct(k):
                            return False
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    zz[k] = newval
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if zz[k] != 0:
                    if not correct(k):
                        return False
                k += 1
            state["eobrun"] -= 1
        return True

    if dc_scan and len(scomps) > 1:
        # interleaved DC scan over MCUs
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        mcu = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                maybe_restart(mcu)
                for ci_s, (ci, _td, _ta) in enumerate(scomps):
                    _cid, hi, vi, _tq = comps[ci]
                    for bv in range(vi):
                        for bh in range(hi):
                            zz = coefs[ci][my * vi + bv][mx * hi + bh]
                            if ah == 0:
                                if not dc_first(ci_s, zz):
                                    return False
                            else:
                                if not dc_refine(zz):
                                    return False
                mcu += 1
        return True
    # single-component scan over the component's ceil-dims grid
    ci, td, ta = scomps[0]
    nb_y, nb_x = comp_grid[ci]
    at = huff.get((1, ta))
    if not dc_scan and at is None:
        return False
    unit = 0
    for yy in range(nb_y):
        for xx in range(nb_x):
            maybe_restart(unit)
            zz = coefs[ci][yy][xx]
            if dc_scan:
                ok = dc_first(0, zz) if ah == 0 else dc_refine(zz)
            else:
                ok = ac_first(at, zz) if ah == 0 else ac_refine(at, zz)
            if not ok:
                return False
            unit += 1
    return True


def decode_jpeg_any_rgb(b: bytes):
    """Baseline OR progressive JPEG -> RGB (see the two decoders'
    honest bounds)."""
    got = decode_jpeg_rgb(b)
    if got is not None:
        return got
    return decode_jpeg_progressive_rgb(b)


def resize_jpeg_any_nearest_png(b: bytes, width: int, height: int) -> bytes | None:
    """`resize_jpeg_nearest_png` for progressive (or baseline) blobs:
    the multi-scan coefficient accumulation runs for real, then the
    same resample and LOSSLESS PNG encode."""
    out = resample_nearest(decode_jpeg_any_rgb(b), width, height)
    return None if out is None else encode_png_rgb(out)


# --------------------------- G.711 mu-law ------------------------------

_ULAW_SEG_END = (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF)


def pcm16_to_ulaw(samples):
    """Vectorized G.711 mu-law compression of int16 PCM (the CCITT
    reference algebra: 14-bit magnitude, +33 bias, 8 segments, 4-bit
    mantissa, complemented output byte). numpy int -> uint8."""
    import numpy as np

    v = np.asarray(samples, dtype=np.int64)
    neg = v < 0
    a = np.minimum(np.abs(v) >> 2, 8159) + 33
    seg = np.zeros_like(a)
    for uend in _ULAW_SEG_END[:-1]:
        seg += (a > uend).astype(np.int64)
    mant = (a >> (seg + 1)) & 0x0F
    uval = (seg << 4) | mant
    # CCITT overflow guard: the clipped-and-biased maximum (8192)
    # exceeds segment 7's span (<= 8191) -> the maximum code
    uval = np.where(a > 0x1FFF, 0x7F, uval)
    mask = np.where(neg, 0x7F, 0xFF)
    return (uval ^ mask).astype(np.uint8)


def ulaw_to_pcm16(codes):
    """Vectorized G.711 mu-law expansion: uint8 -> int16-domain ints
    (segment midpoints — the standard decoder table's values)."""
    import numpy as np

    u = (~np.asarray(codes, dtype=np.int64)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int64)


# ----------------------------- FLAC (fixed LPC) -------------------------
#
# Real lossless audio coding from scratch: the FLAC bitstream's fixed-
# prediction subset — STREAMINFO, frame headers with CRC-8, CONSTANT /
# VERBATIM / FIXED(0-4) subframes, Rice-coded residuals (partition
# order 0), frame CRC-16 — per the format spec's clause structure
# (https://xiph.org/flac/format.html). Mono 16-bit. The encoder picks
# the fixed order minimizing the residual magnitude sum per frame (the
# standard heuristic), so real corpora exercise several orders. The
# PROOF obligation is losslessness: decode(encode(x)) == x exactly —
# pinned by tests over the full int16 dynamic range, and by the driver
# query whose oracle regenerates the original samples (a hash match
# means the whole bitstream path inverted perfectly). External-lib
# cross-validation is out of scope in this container; the bitstream
# conventions (MSB-first, unary = n zeros then a one, zigzag
# residuals) follow the spec text and are documented here so a libFLAC
# check is a one-liner wherever one exists.


def _crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    tbl = []
    for byte in range(256):
        crc = byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        tbl.append(crc)
    return tbl


_CRC8_TBL = _crc_table(0x07, 8)
_CRC16_TBL = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    crc = 0
    tbl = _CRC8_TBL
    for byte in data:
        crc = tbl[crc ^ byte]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    tbl = _CRC16_TBL
    for byte in data:
        crc = ((crc << 8) & 0xFFFF) ^ tbl[((crc >> 8) ^ byte) & 0xFF]
    return crc


_CRC16_NP: list = []  # lazy: [PT (CxC position tables), ADVC (advance-by-C)]
_CRC16_CHUNK = 256


def _crc16_np_tables():
    """Lazy tables for the vectorized CRC16 (GF(2)-linearity):
    PT[p][b] = crc16 of byte b followed by p zero bytes, and
    ADVC[s] = state s advanced by CHUNK zero bytes (built from its
    16 bit-basis images — the map is linear)."""
    import numpy as np

    if _CRC16_NP:
        return _CRC16_NP
    C = _CRC16_CHUNK
    tbl = np.asarray(_CRC16_TBL, dtype=np.uint16)

    def adv1(s):
        return (((s.astype(np.uint32) << 8) & 0xFFFF)
                ^ tbl[(s >> 8).astype(np.intp)]).astype(np.uint16)

    pt = np.empty((C, 256), dtype=np.uint16)
    pt[0] = tbl
    for p in range(1, C):
        pt[p] = adv1(pt[p - 1])
    basis = np.array([1 << i for i in range(16)], dtype=np.uint16)
    for _ in range(C):
        basis = adv1(basis)
    states = np.arange(65536, dtype=np.uint32)
    advc = np.zeros(65536, dtype=np.uint16)
    for i in range(16):
        advc ^= np.where((states >> i) & 1, basis[i], 0).astype(np.uint16)
    _CRC16_NP.extend([pt, advc])
    return _CRC16_NP


def _crc16_fast(data: bytes) -> int:
    """Vectorized CRC16 (identical to `_crc16`): the message's crc is
    the XOR over bytes of PT[distance-from-end][byte], folded in
    CHUNK-sized blocks with one table-advance per block — per-byte
    Python only below the cutover."""
    if len(data) < 64:
        return _crc16(data)
    import numpy as np

    pt, advc = _crc16_np_tables()
    C = _CRC16_CHUNK
    arr = np.frombuffer(data, dtype=np.uint8)
    if arr.size % C:
        # leading zero bytes are a no-op from the zero init state
        arr = np.concatenate(
            [np.zeros(C - arr.size % C, dtype=np.uint8), arr]
        )
    chunks = arr.reshape(-1, C).astype(np.intp)
    rows = np.arange(C - 1, -1, -1)
    vals = np.bitwise_xor.reduce(pt[rows[None, :], chunks], axis=1)
    crc = 0
    for v in vals:
        crc = int(advc[crc]) ^ int(v)
    return crc


class _MsbWriter:
    """MSB-first bit writer with WORD-level appends (a bit-by-bit
    loop costs ~20 ms per FLAC blob; this is the honest-Python fast
    path — Python ints make the accumulator arbitrary width)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def write_unary(self, q: int) -> None:
        # q zeros then a one == the (q+1)-bit value 1
        self.write(1, q + 1)

    def write_bits(self, bits) -> None:
        """Bulk-append a uint8 0/1 numpy array (MSB-first) — the
        vectorized fast path for Rice residual blocks: one packbits
        instead of a per-value write loop."""
        import numpy as np

        if self.n:
            lead = np.array(
                [(self.acc >> (self.n - 1 - i)) & 1 for i in range(self.n)],
                dtype=np.uint8,
            )
            bits = np.concatenate([lead, bits])
            self.acc = 0
            self.n = 0
        rem = int(bits.size & 7)
        head = bits[: bits.size - rem] if rem else bits
        self.out += np.packbits(head).tobytes()
        for b in bits[bits.size - rem :]:
            self.write(int(b), 1)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


class _MsbReader:
    def __init__(self, data: bytes, pos: int = 0):
        self.b = data
        self.p = pos
        self.acc = 0
        self.n = 0

    def read(self, nbits: int) -> int | None:
        while self.n < nbits:
            if self.p >= len(self.b):
                return None
            self.acc = (self.acc << 8) | self.b[self.p]
            self.p += 1
            self.n += 8
        self.n -= nbits
        v = (self.acc >> self.n) & ((1 << nbits) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def read_unary(self) -> int | None:
        q = 0
        while True:
            if self.n == 0:
                if self.p >= len(self.b):
                    return None
                self.acc = self.b[self.p]
                self.p += 1
                self.n = 8
            if self.acc == 0:  # whole remaining accumulator is zeros
                q += self.n
                self.n = 0
                continue
            # position of the highest set bit in the n-bit accumulator
            top = self.acc.bit_length()
            q += self.n - top
            self.n = top - 1
            self.acc &= (1 << self.n) - 1
            return q

    def align(self) -> None:
        self.n = 0
        self.acc = 0


def _fixed_residuals(x, order: int):
    import numpy as np

    v = np.asarray(x, dtype=np.int64)
    r = v.copy()
    for _ in range(order):
        r = np.diff(r)
    return r  # order-th difference == fixed-predictor residual


def _rice_bits_np(u, k: int):
    """Rice-code a zigzagged nonnegative int64 array into a uint8 0/1
    bit array (unary quotient: q zeros then a one, then k low bits,
    MSB-first) — vectorized: positions by cumsum, terminators and low
    bits by fancy indexing, no per-value Python."""
    import numpy as np

    q = u >> k
    L = q + 1 + k
    off = np.zeros(u.size, dtype=np.int64)
    np.cumsum(L[:-1], out=off[1:])
    bits = np.zeros(int(off[-1] + L[-1]) if u.size else 0, dtype=np.uint8)
    bits[off + q] = 1
    if k:
        lowpos = (off + q + 1)[:, None] + np.arange(k)[None, :]
        lowbits = (u[:, None] >> np.arange(k - 1, -1, -1)[None, :]) & 1
        bits[lowpos.ravel()] = lowbits.ravel().astype(np.uint8)
    return bits


def _rice_decode_np(b: bytes, bit_start: int, n_res: int, k: int):
    """Vectorized Rice decode of ``n_res`` residuals starting at
    absolute ``bit_start`` in ``b``: unpack a bounded window, take the
    positions of all ones, link each one to the first one at least
    k+1 bits later (one searchsorted), walk that successor list to
    pick the n_res unary terminators (a plain int-list walk — the
    only sequential part), then gather quotients and low bits with
    array ops. The window starts at the expected size for a
    well-chosen Rice parameter (~k+4 bits/residual) and doubles on
    under-run, so a frame never unpacks the whole remaining blob.
    Returns (int64 residuals, absolute bit_end) or None on a
    truncated stream. Replaces the per-residual read_unary/read(k)
    pair (~2 Python calls per sample — the FLAC decode hot spot)."""
    import numpy as np

    byte0 = bit_start >> 3
    s0 = bit_start - (byte0 << 3)
    max_bytes = len(b) - byte0
    want = (s0 + n_res * (k + 4) + 7) // 8 + 1
    while True:
        count = min(want, max_bytes)
        bits = np.unpackbits(np.frombuffer(b, np.uint8, offset=byte0, count=count))
        ones = np.flatnonzero(bits)
        n_ones = ones.size
        # successor map: each one-index -> first one-index >= k+1 bits
        # later, padded with a self-mapping sentinel at n_ones so a
        # chain that runs off the window parks there
        nxtp = np.empty(n_ones + 1, dtype=np.int64)
        nxtp[:n_ones] = np.searchsorted(ones, ones + (k + 1))
        nxtp[n_ones] = n_ones
        cur = int(np.searchsorted(ones, s0))
        # pointer-doubling chain walk (r11): chain[i+1] = nxtp[chain[i]]
        # is the only sequential step of the decode; instead of a
        # 1-per-residual Python loop, double — after step j we hold
        # chain[0..2^j-1] and comp = nxtp∘…∘nxtp (2^j times), so
        # chain[2^j..2^{j+1}-1] = comp[chain[0..2^j-1]] — log2(n_res)
        # numpy gathers total (same trick as the connected-components
        # pointer jumping, applied to a bit stream)
        chain = np.array([min(cur, n_ones)], dtype=np.int64)
        comp = nxtp
        while chain.size < n_res:
            chain = np.concatenate([chain, comp[chain]])
            if chain.size < n_res:
                comp = comp[comp]
        idxs = chain[:n_res]
        short = bool(idxs[-1] >= n_ones) or bool((idxs >= n_ones).any())
        if not short and n_res and int(ones[idxs[-1]]) + 1 + k <= bits.size:
            break
        if count >= max_bytes:
            return None  # truncated stream
        want = want * 2
    T = ones[idxs]
    starts = np.empty(n_res, dtype=np.int64)
    starts[0] = s0
    starts[1:] = T[:-1] + (k + 1)
    q = (T - starts).astype(np.int64)
    if k:
        lowpos = (T[:, None] + 1) + np.arange(k)[None, :]
        low = (
            bits[lowpos].astype(np.int64) << np.arange(k - 1, -1, -1)[None, :]
        ).sum(axis=1)
    else:
        low = np.zeros(n_res, dtype=np.int64)
    u = (q << k) | low
    res = (u >> 1) ^ -(u & 1)
    return res, int(T[-1]) + 1 + k + (byte0 << 3)


def _rice_k(res) -> int:
    import numpy as np

    if len(res) == 0:
        return 0
    mean = int(np.abs(np.asarray(res, dtype=np.int64)).mean()) + 1
    k = 0
    while (1 << k) < mean and k < 30:
        k += 1
    return k


def encode_flac_fixed(samples, sample_rate: int = 8000,
                      blocksize: int = 4096) -> bytes:
    """Mono int16 PCM -> a FLAC stream (fixed-prediction subset): one
    STREAMINFO block, then frames of ``blocksize`` samples, each
    choosing the fixed order 0-4 with the smallest |residual| sum —
    CONSTANT subframes for flat blocks, Rice partition order 0."""
    import numpy as np

    v = np.asarray(samples, dtype=np.int64)
    n = int(v.size)
    out = bytearray(b"fLaC")
    # STREAMINFO: last-metadata flag + type 0, length 34
    si = bytearray()
    si += struct.pack(">HH", blocksize, blocksize)
    si += b"\x00\x00\x00" * 2  # min/max framesize unknown
    # 20 bits rate | 3 bits (channels-1) | 5 bits (bps-1) | 36 bits n
    packed = (sample_rate << 44) | (0 << 41) | (15 << 36) | n
    si += packed.to_bytes(8, "big")
    si += b"\x00" * 16  # md5 unset (0 = unknown, spec-legal)
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + bytes(si)
    frame_no = 0
    for start in range(0, max(n, 1), blocksize):
        blk = v[start : start + blocksize]
        if blk.size == 0:
            break
        bs = int(blk.size)
        hdr = bytearray()
        hdr += bytes([0xFF, 0xF8])  # sync + fixed blocking
        # blocksize code 0b0111 (16-bit at end), rate code 0 (STREAMINFO)
        hdr += bytes([(0b0111 << 4) | 0b0000])
        # channel mono 0b0000 | sample size 16-bit 0b100 | reserved 0
        hdr += bytes([(0b0000 << 4) | (0b100 << 1)])
        assert frame_no < 0x80, "single-byte UTF-8 frame numbers only"
        hdr += bytes([frame_no])
        hdr += struct.pack(">H", bs - 1)
        hdr += bytes([_crc8(bytes(hdr))])
        bw = _MsbWriter()
        if bs and (blk == blk[0]).all():
            bw.write(0b000000 << 1, 8)  # reserved+type CONSTANT+wasted
            bw.write(int(blk[0]) & 0xFFFF, 16)
        else:
            best_o, best_res, best_cost = 0, None, None
            for o in range(0, 5):
                if bs <= o:
                    break
                res = _fixed_residuals(blk, o)
                cost = int(np.abs(res).sum())
                if best_cost is None or cost < best_cost:
                    best_o, best_res, best_cost = o, res, cost
            bw.write((0b001000 | best_o) << 1, 8)
            for w in blk[:best_o]:
                bw.write(int(w) & 0xFFFF, 16)
            k = _rice_k(best_res)
            bw.write(0, 2)       # residual method: 4-bit rice
            bw.write(0, 4)       # partition order 0
            bw.write(k, 4)
            # vectorized zigzag + Rice pack (bit-identical to the old
            # per-residual write_unary/write(k) loop)
            u = (best_res << 1) ^ (best_res >> 63)
            bw.write_bits(_rice_bits_np(u, k))
        bw.align()
        body = bytes(bw.out)
        frame = bytes(hdr) + body
        frame += struct.pack(">H", _crc16_fast(frame))
        out += frame
        frame_no += 1
    return bytes(out)


def decode_flac_fixed(b: bytes):
    """FLAC (fixed-prediction subset) -> (sample_rate, numpy int64
    samples), or None outside the honest bounds (mono 16-bit,
    CONSTANT/VERBATIM/FIXED subframes, rice partition order 0,
    single-byte frame numbers) or on any CRC mismatch."""
    import numpy as np

    if len(b) < 42 or b[:4] != b"fLaC":
        return None
    pos = 4
    streaminfo = None
    while pos + 4 <= len(b):
        head = b[pos]
        last = head & 0x80
        btype = head & 0x7F
        (blen,) = (int.from_bytes(b[pos + 1 : pos + 4], "big"),)
        payload = b[pos + 4 : pos + 4 + blen]
        if len(payload) < blen:
            return None
        if btype == 0:
            streaminfo = payload
        pos += 4 + blen
        if last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        return None
    packed = int.from_bytes(streaminfo[10:18], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0x07) + 1
    bps = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    if channels != 1 or bps != 16:
        return None
    samples: list[int] = []
    # 8 = the fixed frame-header size (sync 2 + codes 2 + frame no 1 +
    # blocksize 2 + CRC8 1); a 6-byte guard let a blob truncated
    # mid-header index past the end (r11 fuzz finding) instead of
    # returning None like every other honest-failure path
    while pos + 8 <= len(b) and len(samples) < total:
        hdr_start = pos
        if b[pos] != 0xFF or (b[pos + 1] & 0xFE) != 0xF8:
            return None
        bs_code = b[pos + 2] >> 4
        if bs_code != 0b0111 or (b[pos + 2] & 0x0F) != 0:
            return None
        if b[pos + 3] != (0b100 << 1):
            return None
        pos += 4
        pos += 1  # single-byte frame number
        bs = struct.unpack(">H", b[pos : pos + 2])[0] + 1
        pos += 2
        if _crc8(b[hdr_start:pos]) != b[pos]:
            return None
        pos += 1
        br = _MsbReader(b, pos)
        sub = br.read(8)
        if sub is None or sub & 0x81 not in (0,):
            # reserved high bit and wasted-bits flag must be 0
            return None
        stype = (sub >> 1) & 0x3F
        if stype == 0b000000:
            w = br.read(16)
            if w is None:
                return None
            val = w - 65536 if w >= 32768 else w
            blk = [val] * bs
        elif stype == 0b000001:
            # VERBATIM is byte-aligned after the 8-bit subframe header
            if pos + 1 + 2 * bs > len(b):
                return None
            blk = (
                np.frombuffer(b, ">i2", count=bs, offset=pos + 1)
                .astype(np.int64)
                .tolist()
            )
            br.p = pos + 1 + 2 * bs
            br.acc = 0
            br.n = 0
        elif 0b001000 <= stype <= 0b001100:
            order = stype & 0x07
            warm = []
            for _ in range(order):
                w = br.read(16)
                if w is None:
                    return None
                warm.append(w - 65536 if w >= 32768 else w)
            if br.read(2) != 0 or br.read(4) != 0:
                return None
            k = br.read(4)
            if k is None:
                return None
            n_res = bs - order
            if n_res:
                # vectorized Rice decode (see _rice_decode_np) from the
                # reader's current absolute bit position
                dec = _rice_decode_np(b, (br.p << 3) - br.n, n_res, k)
                if dec is None:
                    return None
                res, bit_end = dec
                br.p = (bit_end + 7) >> 3
                br.acc = 0
                br.n = (br.p << 3) - bit_end
                if br.n:
                    br.acc = b[br.p - 1] & ((1 << br.n) - 1)
                # inverse of the order-th difference: integrate with the
                # warmup's own difference pyramid as initial values
                warm_arr = np.asarray(warm, dtype=np.int64)
                y = res
                for m in range(order - 1, -1, -1):
                    y = int(np.diff(warm_arr, m)[-1]) + np.cumsum(y)
                blk = warm + y.tolist()
            else:
                blk = list(warm)
        else:
            return None
        br.align()
        pos = br.p
        if pos + 2 > len(b):
            return None
        if struct.unpack(">H", b[pos : pos + 2])[0] != _crc16_fast(
            b[hdr_start:pos]
        ):
            return None
        pos += 2
        samples.extend(blk)
    if len(samples) != total:
        return None
    return rate, np.asarray(samples, dtype=np.int64)


# ----------------------------- G.711 A-law ------------------------------


def pcm16_to_alaw(samples):
    """Vectorized G.711 A-law compression of int16 PCM (the CCITT
    reference algebra: 13-bit magnitude, 8 segments, 4-bit mantissa,
    output XOR 0x55 even-bit inversion). numpy int -> uint8."""
    import numpy as np

    v = np.asarray(samples, dtype=np.int64)
    neg = v < 0
    a = np.minimum(np.where(neg, -v - 1, v) >> 3, 0xFFF)
    seg = np.zeros_like(a)
    for uend in (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF):
        seg += (a > uend).astype(np.int64)
    # segment 0 keeps bits 1..4; segment s >= 1 keeps bits (s)..(s+3)
    shift = np.where(seg == 0, 1, seg)
    mant = (a >> shift) & 0x0F
    aval = (seg << 4) | mant
    aval = np.where(~neg, aval | 0x80, aval)
    return (aval ^ 0x55).astype(np.uint8)


def alaw_to_pcm16(codes):
    """Vectorized G.711 A-law expansion: uint8 -> int16-domain ints
    (segment midpoints)."""
    import numpy as np

    u = np.asarray(codes, dtype=np.int64) ^ 0x55
    pos = (u & 0x80) != 0
    seg = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = np.where(
        seg == 0,
        (mant << 4) + 8,
        ((mant + 16) << (seg + 3)) + (1 << (seg + 2)),
    )
    return np.where(pos, mag, -mag).astype(np.int64)
