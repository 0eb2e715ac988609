"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema contracts, Arrow batch
shapes, mapInPandas partitioning — and a useful codec subset decodes
NATIVELY in pure Python/stdlib: baseline JPEG (huffman decode + exact
8x8 IDCT; 4:4:4/4:2:2/4:2:0; DRI/RSTn), PNG (8-bit, zlib inflate +
unfilter), GIF 87a/89a (full LZW, interlace, transparency, disposal;
stills AND animations — frame sampling uses the real delay timeline),
the binary Netpbm family (P4/P5/P6), uncompressed 24-bit
BMP, and PCM WAV audio.  Formats that genuinely need external codec
libraries (WebP, progressive JPEG, mp3/ogg, video) stay behind honest
NotImplementedError /
deterministic stubs in ``DECODERS``.  Swap a decoder entry for a real
implementation (PIL/ffmpeg) and nothing else changes: the batch
iterator, output schema, and partitioning behavior are already
exercised by tests/test_multimodal.py.

Design: binary payloads stay opaque to the JVM (BinaryType column);
feature extraction happens in Arrow-batched Python (mapInPandas) because
that is the only sensible place for codec libraries.  Batches arrive
~10k rows; decoders must be vectorized-per-row, stateless, deterministic.
"""

from __future__ import annotations

import hashlib
import struct
from collections import OrderedDict

from pyspark.sql import DataFrame, functions as F, types as T

# typed metadata contract for multimodal assets
MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType(), False),   # image|audio|video
    T.StructField("format", T.StringType(), True),        # png|wav|mp4|...
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
])

FEATURE_DIM = 16


def _fake_decode_image(payload: bytes) -> dict:
    """Deterministic stand-in for a real image decoder: derives pseudo
    dimensions + a FEATURE_DIM-dim feature vector from the payload hash.
    Replace with PIL: ``img = Image.open(io.BytesIO(payload))``."""
    h = hashlib.sha256(payload).digest()
    w = 64 + h[0] % 192
    ht = 64 + h[1] % 192
    feats = [round(struct.unpack(">H", h[2 * i:2 * i + 2])[0] / 65535.0, 6)
             for i in range(FEATURE_DIM)]
    return {"width": w, "height": ht, "features": feats}


def _netpbm_header(payload: bytes, magic: bytes, ntoks: int):
    """Parse a binary Netpbm header (P4/P5/P6): returns (tokens,
    pixel_offset).  Whitespace-delimited integer tokens with '#'
    comments per the Netpbm spec; pixel data starts after exactly one
    whitespace character following the last token."""
    if payload[:2] != magic:
        raise ValueError(f"not a {magic.decode()} netpbm")
    toks, i, n = [], 2, len(payload)
    while len(toks) < ntoks and i < n:
        c = payload[i:i + 1]
        if c == b"#":  # comment to end of line
            while i < n and payload[i:i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not payload[j:j + 1].isspace():
                j += 1
            toks.append(int(payload[i:j]))
            i = j
    if len(toks) != ntoks:
        raise ValueError("truncated netpbm header")
    return toks, i + 1  # single whitespace after the last token


def _decode_ppm(payload: bytes):
    (w, h, maxval), off = _netpbm_header(payload, b"P6", 3)
    if not (0 < w and 0 < h and 0 < maxval < 65536):
        raise ValueError(f"bad PPM dims {w}x{h} maxval={maxval}")
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    px = payload[off:off + w * h * 3]
    if len(px) < w * h * 3:
        raise ValueError("truncated PPM pixel data")
    return w, h, px  # row-major RGB triples


def _decode_pgm(payload: bytes):
    """Binary PGM (P5, 8-bit grayscale) -> row-major RGB triples (gray
    replicated across channels, the standard gray->RGB embedding)."""
    (w, h, maxval), off = _netpbm_header(payload, b"P5", 3)
    if not (0 < w and 0 < h and 0 < maxval < 65536):
        raise ValueError(f"bad PGM dims {w}x{h} maxval={maxval}")
    if maxval > 255:
        raise ValueError("16-bit PGM not supported")
    px = payload[off:off + w * h]
    if len(px) < w * h:
        raise ValueError("truncated PGM pixel data")
    out = bytearray(w * h * 3)
    out[0::3] = px
    out[1::3] = px
    out[2::3] = px
    return w, h, bytes(out)


def _decode_pbm(payload: bytes):
    """Binary PBM (P4, 1-bit) -> row-major RGB triples.  Rows are packed
    MSB-first, each row padded to a whole byte; 1 = black per spec."""
    (w, h), off = _netpbm_header(payload, b"P4", 2)
    if not (0 < w and 0 < h):
        raise ValueError(f"bad PBM dims {w}x{h}")
    stride = (w + 7) // 8
    px = payload[off:off + stride * h]
    if len(px) < stride * h:
        raise ValueError("truncated PBM pixel data")
    out = bytearray(w * h * 3)
    for y in range(h):
        rowbase = y * stride
        for x in range(w):
            bit = (px[rowbase + (x >> 3)] >> (7 - (x & 7))) & 1
            v = 0 if bit else 255
            p = (y * w + x) * 3
            out[p] = out[p + 1] = out[p + 2] = v
    return w, h, bytes(out)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(payload: bytes):
    """Pure-stdlib PNG decode (zlib inflate + per-scanline unfilter) ->
    (w, h, row-major RGB).  Supports 8-bit depth, color types 0 (gray),
    2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced —
    the overwhelming majority of real-world PNGs.  Alpha is dropped
    (features come from color channels).  Chunk CRCs are not verified:
    truncation/corruption surfaces as a zlib or length error instead."""
    import zlib
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    i, n = 8, len(payload)
    w = h = bitd = colort = interlace = None
    idat, plte = [], None
    while i + 8 <= n:
        ln = struct.unpack(">I", payload[i:i + 4])[0]
        typ = payload[i + 4:i + 8]
        data = payload[i + 8:i + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            w, h = struct.unpack(">II", data[:8])
            bitd, colort, comp, filt, interlace = data[8:13]
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard PNG compression/filter")
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + data + crc
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if not (0 < w and 0 < h):
        raise ValueError(f"bad PNG dims {w}x{h}")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    if bitd != 8:
        raise ValueError(f"PNG bit depth {bitd} not supported")
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(colort)
    if ch is None:
        raise ValueError(f"PNG color type {colort}")
    if colort == 3 and (plte is None or len(plte) % 3):
        raise ValueError("palette PNG missing/odd PLTE")
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) < (stride + 1) * h:
        raise ValueError("truncated PNG pixel data")
    out = bytearray(stride * h)
    for y in range(h):
        base = y * (stride + 1)
        ft = raw[base]
        line = bytearray(raw[base + 1:base + 1 + stride])
        o = y * stride
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for x in range(ch, stride):
                line[x] = (line[x] + line[x - ch]) & 0xFF
        elif ft == 2:  # Up
            if y:
                for x in range(stride):
                    line[x] = (line[x] + out[o - stride + x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                b = out[o - stride + x] if y else 0
                line[x] = (line[x] + ((a + b) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                b = out[o - stride + x] if y else 0
                c = out[o - stride + x - ch] if (y and x >= ch) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                line[x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ft}")
        out[o:o + stride] = line
    if colort == 2:
        return w, h, bytes(out)
    rgb = bytearray(w * h * 3)
    if colort == 0:
        rgb[0::3] = out
        rgb[1::3] = out
        rgb[2::3] = out
    elif colort == 4:
        g = out[0::2]
        rgb[0::3] = g
        rgb[1::3] = g
        rgb[2::3] = g
    elif colort == 6:
        rgb[0::3] = out[0::4]
        rgb[1::3] = out[1::4]
        rgb[2::3] = out[2::4]
    else:  # palette
        npal = len(plte) // 3
        for j, idx in enumerate(out):
            if idx >= npal:
                raise ValueError("PNG palette index out of range")
            rgb[3 * j:3 * j + 3] = plte[3 * idx:3 * idx + 3]
    return w, h, bytes(rgb)


def encode_png(width: int, height: int, rgb: bytes,
               filter_type: int = 0) -> bytes:
    """Minimal PNG (8-bit RGB, non-interlaced) encoder — the write side
    of _decode_png for tests and payload synthesis.  ``filter_type``
    applies one filter to every scanline (0/1/2 supported) so decode
    paths are exercisable."""
    import zlib
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    stride = width * 3
    lines = []
    for y in range(height):
        row = bytearray(rgb[y * stride:(y + 1) * stride])
        if filter_type == 0:
            pass
        elif filter_type == 1:
            for x in range(stride - 1, 2, -1):
                row[x] = (row[x] - row[x - 3]) & 0xFF
        elif filter_type == 2:
            if y:
                prev = rgb[(y - 1) * stride:y * stride]
                for x in range(stride):
                    row[x] = (row[x] - prev[x]) & 0xFF
        else:
            raise ValueError("encode_png filter 0/1/2 only")
        lines.append(bytes([filter_type]) + bytes(row))
    comp = zlib.compress(b"".join(lines))

    def chunk(typ: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data \
            + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", comp) \
        + chunk(b"IEND", b"")


def _decode_bmp(payload: bytes):
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) -> (w, h, row-major
    RGB bytes).  BMP stores rows bottom-up, BGR, padded to 4 bytes."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP")
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        raise ValueError("BMP core header not supported")
    w, h = struct.unpack("<ii", payload[18:26])
    bpp = struct.unpack("<H", payload[28:30])[0]
    comp = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only uncompressed 24-bit BMP (got bpp={bpp}, "
                         f"compression={comp})")
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP dims {w}x{h}")
    flipped = h > 0  # positive height = bottom-up storage
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if len(payload) < data_off + stride * h:
        raise ValueError("truncated BMP pixel data")
    out = bytearray(w * h * 3)
    for row in range(h):
        src = data_off + (h - 1 - row if flipped else row) * stride
        dst = row * w * 3
        line = payload[src:src + w * 3]
        end = dst + w * 3
        # BGR -> RGB
        out[dst + 0:end:3] = line[2::3]
        out[dst + 1:end:3] = line[1::3]
        out[dst + 2:end:3] = line[0::3]
    return w, h, bytes(out)


# ---- GIF 87a/89a (pure Python + numpy) ---------------------------------
#
# Decoder: full LZW (variable code width to 12 bits, deferred clears),
# global/local color tables, interlacing, sub-rectangle frames,
# transparency, disposal methods 0-3 — both still images and animations.
# Encoder: palette-built GIF with the classic clear-spam LZW technique
# (a CLEAR code before the string table could force a width change, so
# every code is a literal at the initial width — valid LZW, zero
# compression), optional interlace/animation/transparency so every
# decoder path is testable without a codec library.


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: codes packed LSB-first, width grows from
    min_code_size+1 up to 12 bits as the string table fills."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []
    code_size = min_code_size + 1
    prev = -1
    acc = nbits = pos = 0

    def reset():
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code_size + 1
        prev = -1

    reset()
    while True:
        while nbits < code_size:
            if pos >= len(data):
                return bytes(out)  # missing EOI: tolerate, like browsers
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if prev < 0:
            if code >= clear:
                raise ValueError("LZW: first code not a literal")
            out += table[code]
            prev = code
            continue
        if code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(table[prev] + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = table[prev] + table[prev][:1]
            table.append(entry)
        else:
            raise ValueError("LZW: code beyond table")
        out += entry
        prev = code
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1


def _lzw_encode_literals(indices, min_code_size: int) -> bytes:
    """LZW stream of pure literal codes: a CLEAR is emitted before the
    decoder's table could reach the width-change threshold, so the code
    width is constant — valid (uncompressed) GIF LZW."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    count = 0
    for ix in indices:
        emit(ix)
        count += 1
        if count >= clear - 2:  # decoder table appends = count-1
            emit(clear)
            count = 0
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_u16(payload: bytes, pos: int) -> int:
    return payload[pos] | (payload[pos + 1] << 8)


def _gif_parse(payload: bytes):
    """Block walk -> (W, H, bg_index, global_ct, frames); each frame
    dict carries its sub-rectangle, color table, interlace flag, raw
    LZW data, and the preceding graphic-control state."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(payload) < 13:
        raise ValueError("truncated GIF")
    W = _gif_u16(payload, 6)
    H = _gif_u16(payload, 8)
    packed = payload[10]
    bg = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[pos:pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF")
        pos += 3 * n
    try:
        frames, pos = _gif_walk(payload, pos)
    except IndexError:
        raise ValueError("truncated GIF") from None
    if not frames:
        raise ValueError("GIF with no image data")
    return W, H, bg, gct, frames


def _gif_walk(payload: bytes, pos: int):
    frames = []
    delay_ms, transparent, disposal = 0, None, 0
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:
            break
        if b0 == 0x21:  # extension
            label = payload[pos]
            pos += 1
            if label == 0xF9 and payload[pos] >= 4:
                pk = payload[pos + 1]
                delay_ms = _gif_u16(payload, pos + 2) * 10
                transparent = payload[pos + 4] if pk & 1 else None
                disposal = (pk >> 2) & 0x7
            while payload[pos] != 0:  # skip/settle sub-blocks
                pos += payload[pos] + 1
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            left, top = _gif_u16(payload, pos), _gif_u16(payload, pos + 2)
            w, h = _gif_u16(payload, pos + 4), _gif_u16(payload, pos + 6)
            pk = payload[pos + 8]
            pos += 9
            lct = None
            if pk & 0x80:
                n = 2 << (pk & 0x07)
                lct = payload[pos:pos + 3 * n]
                pos += 3 * n
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while True:
                ln = payload[pos]
                pos += 1
                if ln == 0:
                    break
                data += payload[pos:pos + ln]
                pos += ln
            frames.append({"left": left, "top": top, "w": w, "h": h,
                           "interlaced": bool(pk & 0x40), "mcs": mcs,
                           "data": bytes(data), "lct": lct,
                           "delay_ms": delay_ms,
                           "transparent": transparent,
                           "disposal": disposal})
            delay_ms, transparent, disposal = 0, None, 0
        else:
            raise ValueError(f"bad GIF block 0x{b0:02x}")
    return frames, pos


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_frames(payload: bytes):
    """Decode every frame fully COMPOSITED onto the logical screen:
    (W, H, [(delay_ms, rgb bytes), ...]).  Honors sub-rectangle frames,
    transparency, and disposal 0/1 (keep), 2 (restore background),
    3 (restore previous)."""
    W, H, bg, gct, frames = _gif_parse(payload)
    if gct is not None and (bg + 1) * 3 <= len(gct):
        bgc = gct[bg * 3:bg * 3 + 3]
    else:
        bgc = b"\x00\x00\x00"
    canvas = _np.frombuffer(bgc * (W * H), dtype=_np.uint8) \
        .reshape(H, W, 3).copy()
    out = []
    for fr in frames:
        ct = fr["lct"] if fr["lct"] is not None else gct
        if ct is None:
            raise ValueError("GIF frame without a color table")
        w, h = fr["w"], fr["h"]
        if fr["left"] + w > W or fr["top"] + h > H:
            raise ValueError("GIF frame exceeds logical screen")
        raw = _lzw_decode(fr["data"], fr["mcs"])
        if len(raw) < w * h:
            raise ValueError("GIF frame pixel data truncated")
        idx = _np.frombuffer(raw[:w * h], dtype=_np.uint8).reshape(h, w)
        if fr["interlaced"]:
            full = _np.empty_like(idx)
            order = [r for s, step in _GIF_INTERLACE
                     for r in range(s, h, step)]
            full[order] = idx
            idx = full
        pal = _np.frombuffer(ct.ljust(768, b"\x00"), dtype=_np.uint8) \
            .reshape(256, 3)
        rgb = pal[idx]  # h, w, 3
        snapshot = canvas.copy() if fr["disposal"] == 3 else None
        region = canvas[fr["top"]:fr["top"] + h,
                        fr["left"]:fr["left"] + w]
        if fr["transparent"] is not None:
            mask = (idx != fr["transparent"])[..., None]
            region[:] = _np.where(mask, rgb, region)
        else:
            region[:] = rgb
        out.append((fr["delay_ms"], canvas.tobytes()))
        if fr["disposal"] == 2:
            region[:] = _np.frombuffer(bgc, dtype=_np.uint8)
        elif fr["disposal"] == 3:
            canvas[:] = snapshot
    return W, H, out


def _decode_gif(payload: bytes):
    """First composited frame as (w, h, rgb) — the still-image face."""
    w, h, frames = gif_frames(payload)
    return w, h, frames[0][1]


def encode_gif(width: int, height: int, frames, interlace: bool = False,
               transparent_color: bytes | None = None) -> bytes:
    """GIF89a encoder (test fixture + resize write side).  ``frames``
    is rgb bytes (still) or a list of (delay_ms, rgb[, (left, top, w,
    h)]) tuples; sub-rectangle rgb covers only its rect.  A shared
    global palette is built from all frames (<= 256 distinct colors);
    ``transparent_color`` marks that palette entry transparent in every
    frame's graphic control block."""
    if isinstance(frames, (bytes, bytearray)):
        frames = [(0, bytes(frames))]
    norm = []
    colors: dict[bytes, int] = {}
    for f in frames:
        delay, rgb = f[0], bytes(f[1])
        rect = f[2] if len(f) > 2 else (0, 0, width, height)
        if len(rgb) != rect[2] * rect[3] * 3:
            raise ValueError("rgb length != rect w*h*3")
        norm.append((delay, rgb, rect))
        for i in range(0, len(rgb), 3):
            c = rgb[i:i + 3]
            if c not in colors:
                colors[c] = len(colors)
    if transparent_color is not None and transparent_color not in colors:
        colors[bytes(transparent_color)] = len(colors)
    if len(colors) > 256:
        raise ValueError("encode_gif: > 256 distinct colors")
    k = max((len(colors) - 1).bit_length(), 1) - 1  # 2^(k+1) entries
    n_entries = 2 << k
    gct = bytearray()
    for c in sorted(colors, key=colors.get):
        gct += c
    gct = gct.ljust(3 * n_entries, b"\x00")
    mcs = max(2, k + 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (k << 4) | k, 0, 0])
    out += gct
    for delay, rgb, (left, top, w, h) in norm:
        pk = 0x04 if transparent_color is None else 0x05  # disposal 1
        tix = (colors[bytes(transparent_color)]
               if transparent_color is not None else 0)
        out += bytes([0x21, 0xF9, 4, pk])
        out += struct.pack("<H", delay // 10)
        out += bytes([tix, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, w, h)
        out += bytes([0x40 if interlace else 0x00])
        idx = [colors[rgb[i:i + 3]] for i in range(0, len(rgb), 3)]
        if interlace:
            order = [r for s, step in _GIF_INTERLACE
                     for r in range(s, h, step)]
            idx = [v for r in order for v in idx[r * w:(r + 1) * w]]
        out += bytes([mcs])
        data = _lzw_encode_literals(idx, mcs)
        for i in range(0, len(data), 255):
            chunk = data[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


# ---- baseline JPEG (pure stdlib + numpy) -------------------------------
#
# Decoder: baseline sequential DCT (SOF0/SOF1), 8-bit, grayscale or
# YCbCr at 4:4:4 / 4:2:2 / 4:2:0 sampling, DRI/RSTn restart markers,
# 0xFF00 byte unstuffing.  Progressive (SOF2), hierarchical/arithmetic
# frames and 12-bit precision raise NotImplementedError — loud, never a
# wrong value.  The IDCT is the exact separable 8x8 basis (numpy
# einsum), not an integer approximation.
#
# Encoder: baseline, quality-scaled Annex K tables, optional 4:2:0
# subsampling and restart intervals — exists so the decoder's
# upsampling/restart paths are testable in a container with no codec
# library, and as the write side for resize_images on JPEG payloads.

import numpy as _np

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

# IDCT basis: x = C^T @ X @ C with C[u,k] = c(u) cos((2k+1)u pi/16)/2
_C = _np.zeros((8, 8))
for u in range(8):
    cu = (0.5 / _np.sqrt(2.0)) if u == 0 else 0.5
    for k in range(8):
        _C[u, k] = cu * _np.cos((2 * k + 1) * u * _np.pi / 16.0)


def _idct2(block):  # block: (...,8,8) float
    return _np.einsum("uk,...uv,vl->...kl", _C, block, _C)


def _fdct2(block):
    return _np.einsum("ku,...kl,lv->...uv", _C.T, block, _C.T)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing
    and RSTn awareness."""
    def __init__(self, data, pos):
        self.d = data
        self.p = pos
        self.acc = 0
        self.n = 0

    def _fill(self):
        while self.n <= 24:
            if self.p >= len(self.d):
                self.acc = (self.acc << 8) & 0xFFFFFFFF | 0
                self.n += 8
                continue
            b = self.d[self.p]
            if b == 0xFF:
                nxt = self.d[self.p + 1] if self.p + 1 < len(self.d) else 0
                if nxt == 0x00:
                    self.p += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller resyncs via sync_restart()
                    b = 0  # pad with zeros until resync
                    self.acc = ((self.acc << 8) | 0) & 0xFFFFFFFF
                    self.n += 8
                    continue
                else:
                    # EOI or other marker: pad
                    self.acc = ((self.acc << 8) | 0) & 0xFFFFFFFF
                    self.n += 8
                    continue
            else:
                self.p += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
            self.n += 8

    def bits(self, k):
        if k == 0:
            return 0
        self._fill()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        return v

    def sync_restart(self):
        """Skip to just past the next RSTn marker, clearing bit state."""
        self.acc = 0
        self.n = 0
        p = self.p
        while p + 1 < len(self.d):
            if self.d[p] == 0xFF and 0xD0 <= self.d[p + 1] <= 0xD7:
                self.p = p + 2
                return
            p += 1
        self.p = len(self.d)


# (counts, symbols) -> flat 2^16 peek table; JPEG code lengths cap at
# 16 bits, so ONE 16-bit peek + one list index replaces the bit-by-bit
# walk (measured ~40% of scan time).  Images overwhelmingly share the
# Annex K tables, so the 65536-entry build amortizes across every
# image a worker decodes (guide §4.5 heavyweight-init-once).  Per-image
# optimized tables (libjpeg -optimize, mozjpeg) never repeat, so the
# cache is a small LRU: each table costs ~0.5 MB in a long-lived worker.
_HUFF_LUT_CACHE: OrderedDict = OrderedDict()
_HUFF_LUT_CACHE_MAX = 8


def _build_huff(counts, symbols):
    """16-bit-peek flat table: lut[peek16] = (symbol, code_length),
    (None, 0) for prefixes that match no code (bad huffman stream).
    Consumption semantics identical to the bit-by-bit walk: exactly
    ``code_length`` bits are consumed per symbol, and the _BitReader's
    zero-padding past markers/EOF feeds the same bits either way.
    Counts that define more codes than the 16-bit code space holds, or
    more than there are symbols, raise ValueError('bad huffman
    table')."""
    key = (bytes(counts), bytes(symbols))
    lut = _HUFF_LUT_CACHE.get(key)
    if lut is not None:
        _HUFF_LUT_CACHE.move_to_end(key)
        return lut
    if sum(counts) > len(symbols):
        raise ValueError("bad huffman table")
    lut = [(None, 0)] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if code >= 1 << length:
                raise ValueError("bad huffman table")
            base = code << (16 - length)
            entry = (symbols[k], length)
            for p in range(base, base + (1 << (16 - length))):
                lut[p] = entry
            code += 1
            k += 1
        code <<= 1
    _HUFF_LUT_CACHE[key] = lut
    if len(_HUFF_LUT_CACHE) > _HUFF_LUT_CACHE_MAX:
        _HUFF_LUT_CACHE.popitem(last=False)
    return lut


def _huff_decode(br, lut):
    br._fill()  # guarantees >= 25 bits buffered (zero-padded at EOF)
    s, ln = lut[(br.acc >> (br.n - 16)) & 0xFFFF]
    if s is None:
        raise ValueError("bad huffman code")
    br.n -= ln
    return s


def _extend(v, t):
    # JPEG F.2.2.1 EXTEND
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_jpeg(payload: bytes):
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    p = 2
    qt = {}
    huff_dc, huff_ac = {}, {}
    frame = None
    ri = 0
    n = len(payload)
    while p + 4 <= n:
        if payload[p] != 0xFF:
            p += 1
            continue
        m = payload[p + 1]
        if m == 0xD8 or (0xD0 <= m <= 0xD7) or m == 0x01:
            p += 2
            continue
        if m == 0xD9:
            break
        seglen = struct.unpack(">H", payload[p + 2:p + 4])[0]
        seg = payload[p + 4:p + 2 + seglen]
        if m == 0xDB:  # DQT
            q = 0
            while q < len(seg):
                pq, tq = seg[q] >> 4, seg[q] & 15
                q += 1
                if pq == 0:
                    tbl = list(seg[q:q + 64]); q += 64
                else:
                    tbl = list(struct.unpack(">64H", seg[q:q + 128])); q += 128
                zz = _np.zeros(64)
                for i, z in enumerate(_ZIGZAG):
                    zz[z] = tbl[i]
                qt[tq] = zz.reshape(8, 8)
        elif m in (0xC0, 0xC1):  # SOF0/1 baseline
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], \
                struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif m == 0xC2:
            raise NotImplementedError("progressive JPEG (SOF2)")
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                   0xCE, 0xCF):
            raise NotImplementedError("non-baseline JPEG frame type")
        elif m == 0xC4:  # DHT
            q = 0
            while q < len(seg):
                tc, th = seg[q] >> 4, seg[q] & 15
                counts = list(seg[q + 1:q + 17])
                nsym = sum(counts)
                syms = list(seg[q + 17:q + 17 + nsym])
                (huff_dc if tc == 0 else huff_ac)[th] = \
                    _build_huff(counts, syms)
                q += 17 + nsym
        elif m == 0xDD:  # DRI
            ri = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            ns = seg[0]
            scomp = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scomp.append({"cs": cs, "td": tt >> 4, "ta": tt & 15})
            data_start = p + 2 + seglen
            return _jpg_decode_scan(payload, data_start, frame, scomp, qt,
                                huff_dc, huff_ac, ri)
        p += 2 + seglen
    raise ValueError("no SOS in JPEG")


def _jpg_decode_scan(data, pos, frame, scomp, qt, huff_dc, huff_ac, ri):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    br = _BitReader(data, pos)
    planes = []
    for c in comps:
        cw, ch = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(_np.zeros((ch, cw)))
    spec = {s["cs"]: s for s in scomp}
    missing = [c["id"] for c in comps if c["id"] not in spec]
    if missing:
        # baseline allows several single-component scans; this decoder
        # implements only the (overwhelmingly common) interleaved form
        raise NotImplementedError(
            f"non-interleaved scan (components {missing} not in SOS)")
    pred = [0] * len(comps)
    nmcu = 0
    # entropy decode stays a sequential bit-stream walk, but the
    # numeric tail (dequant + IDCT) batches across ALL blocks of the
    # image in one einsum (bit-identical to per-block — verified in
    # tests; einsum's reduction order per output cell is independent
    # of batching), so per-call numpy overhead is paid once per image
    # instead of once per 8x8 block
    blk_coef: list = []   # natural-order 64-vectors (python lists)
    blk_meta: list = []   # (ci, y0, x0)
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and nmcu and nmcu % ri == 0:
                br.sync_restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                s = spec[c["id"]]
                dc_lut = huff_dc[s["td"]]
                ac_lut = huff_ac[s["ta"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = [0.0] * 64
                        t = _huff_decode(br, dc_lut)
                        diff = _extend(br.bits(t), t) if t else 0
                        pred[ci] += diff
                        blk[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(br, ac_lut)
                            r, sz = rs >> 4, rs & 15
                            if sz == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                break
                            blk[_ZIGZAG[k]] = _extend(br.bits(sz), sz)
                            k += 1
                        blk_coef.append(blk)
                        blk_meta.append(
                            (ci, (my * c["v"] + by) * 8,
                             (mx * c["h"] + bx) * 8))
            nmcu += 1
    if blk_meta:
        coefs = _np.array(blk_coef).reshape(-1, 8, 8)
        qstack = _np.stack([qt[comps[m[0]]["tq"]] for m in blk_meta])
        px_all = _idct2(coefs * qstack) + 128.0
        for bi, (ci, y0, x0) in enumerate(blk_meta):
            planes[ci][y0:y0 + 8, x0:x0 + 8] = px_all[bi]
    # upsample to full size and color-convert
    out = []
    for ci, c in enumerate(comps):
        pl = planes[ci]
        if c["h"] != hmax or c["v"] != vmax:
            pl = _np.repeat(_np.repeat(pl, vmax // c["v"], axis=0),
                           hmax // c["h"], axis=1)
        out.append(pl[:h, :w])
    if len(out) == 1:
        y = _np.clip(out[0], 0, 255)
        rgb = _np.stack([y, y, y], axis=-1)
    else:
        y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = _np.clip(_np.stack([r, g, b], axis=-1), 0, 255)
    return w, h, _np.round(rgb).astype(_np.uint8).tobytes()


# ---- encoder (baseline, 4:4:4, Annex K tables) -------------------------

_K_LUM_Q = _np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103,
    99]).reshape(8, 8)
_K_CHR_Q = _np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99]).reshape(8, 8)
# Annex K huffman specs: (counts[16], symbols)
_K_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
             list(range(12)))
_K_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
_K_AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_K_AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


_ENC_TABLE_CACHE: dict = {}


def _enc_table(counts, symbols):
    """symbol -> (code, length); cached per huffman spec (the Annex K
    specs are module constants rebuilt on every encode otherwise)."""
    key = (bytes(counts), bytes(symbols))
    out = _ENC_TABLE_CACHE.get(key)
    if out is not None:
        return out
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    _ENC_TABLE_CACHE[key] = out
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, v, k):
        self.acc = (self.acc << k) | (v & ((1 << k) - 1))
        self.n += k
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.n -= 8

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.bits((1 << pad) - 1, pad)


_SCALE_Q_CACHE: dict = {}


def _scale_q(tbl, quality):
    key = (tbl.tobytes(), quality)
    hit = _SCALE_Q_CACHE.get(key)
    if hit is not None:
        return hit
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = _np.floor((tbl * s + 50) / 100)
    q = _np.clip(q, 1, 255)
    _SCALE_Q_CACHE[key] = q
    return q


_ZZ_IDX = None  # lazily built gather index: zz[i] = natural[_ZIGZAG[i]]


def _quant_zz(pl, q):
    """All 8x8 blocks of a padded plane -> zigzag-ordered quantized
    coefficients, (nby, nbx, 64) int.  One batched FDCT einsum + one
    vectorized gather replaces a per-block einsum + 64-element python
    listcomp (bit-identical: elementwise ops; einsum batching verified
    in tests)."""
    global _ZZ_IDX
    if _ZZ_IDX is None:
        _ZZ_IDX = _np.array(_ZIGZAG)
    h, w = pl.shape
    blocks = (pl - 128.0).reshape(h // 8, 8, w // 8, 8) \
        .transpose(0, 2, 1, 3)
    coef = _np.round(_fdct2(blocks) / q).astype(int)
    return coef.reshape(h // 8, w // 8, 64)[:, :, _ZZ_IDX]


def _enc_block(bw, zz, dct, act, pred, ci):
    diff = zz[0] - pred[ci]
    pred[ci] = zz[0]
    t = diff if diff >= 0 else -diff
    sz = t.bit_length()
    code, ln = dct[sz]
    bw.bits(code, ln)
    if sz:
        v = diff if diff >= 0 else diff + (1 << sz) - 1
        bw.bits(v, sz)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = act[0xF0]
            bw.bits(code, ln)
            run -= 16
        t = v if v >= 0 else -v
        sz = t.bit_length()
        code, ln = act[(run << 4) | sz]
        bw.bits(code, ln)
        vv = v if v >= 0 else v + (1 << sz) - 1
        bw.bits(vv, sz)
        run = 0
    if last < 63:
        code, ln = act[0x00]
        bw.bits(code, ln)


def encode_jpeg(width, height, rgb: bytes, quality=85,
                subsample=False, restart_interval=0) -> bytes:
    """Baseline JPEG encoder.  ``subsample`` picks the chroma sampling:
    False/"444" full chroma, True/"420" 2x2-averaged, "422"
    horizontal-only 2x1 — together covering every decoder upsampling
    ratio; ``restart_interval=N`` emits DRI + RSTn markers every N
    MCUs."""
    px = _np.frombuffer(rgb, dtype=_np.uint8).reshape(height, width, 3) \
        .astype(_np.float64)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qlum = _scale_q(_K_LUM_Q, quality)
    qchr = _scale_q(_K_CHR_Q, quality)
    dc_l = _enc_table(*_K_DC_LUM); ac_l = _enc_table(*_K_AC_LUM)
    dc_c = _enc_table(*_K_DC_CHR); ac_c = _enc_table(*_K_AC_CHR)
    bw = _BitWriter()
    if isinstance(subsample, str):
        hs, vs = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}[subsample]
    else:
        hs = vs = 2 if subsample else 1
    mcu_w, mcu_h = 8 * hs, 8 * vs
    mbx = (width + mcu_w - 1) // mcu_w
    mby = (height + mcu_h - 1) // mcu_h

    def pad(pl, bh, bw_):
        # edge-replicate pad without np.pad's generic machinery
        # (identical values; np.pad was ~15% of encode time)
        h0, w0 = pl.shape
        if h0 == bh and w0 == bw_:
            return pl
        out = _np.empty((bh, bw_))
        out[:h0, :w0] = pl
        if bh > h0:
            out[h0:, :w0] = pl[h0 - 1:h0, :]
        if bw_ > w0:
            out[:, w0:] = out[:, w0 - 1:w0]
        return out

    yp = pad(y, mby * mcu_h, mbx * mcu_w)
    cbp = pad(cb, mby * mcu_h, mbx * mcu_w)
    crp = pad(cr, mby * mcu_h, mbx * mcu_w)
    if hs > 1 or vs > 1:
        cbp = cbp.reshape(cbp.shape[0] // vs, vs,
                          cbp.shape[1] // hs, hs).mean(axis=(1, 3))
        crp = crp.reshape(crp.shape[0] // vs, vs,
                          crp.shape[1] // hs, hs).mean(axis=(1, 3))
    # quantized zigzag coefficients for every block, batched per plane
    zzy = _quant_zz(yp, qlum)
    zzcb = _quant_zz(cbp, qchr)
    zzcr = _quant_zz(crp, qchr)
    pred = [0, 0, 0]
    nmcu = 0
    rstn = 0
    for my in range(mby):
        for mx in range(mbx):
            if restart_interval and nmcu and nmcu % restart_interval == 0:
                bw.flush()
                bw.buf += bytes([0xFF, 0xD0 + rstn])
                rstn = (rstn + 1) % 8
                pred = [0, 0, 0]
            for by in range(vs):
                for bx in range(hs):
                    _enc_block(bw,
                               zzy[my * vs + by, mx * hs + bx].tolist(),
                               dc_l, ac_l, pred, 0)
            _enc_block(bw, zzcb[my, mx].tolist(), dc_c, ac_c, pred, 1)
            _enc_block(bw, zzcr[my, mx].tolist(), dc_c, ac_c, pred, 2)
            nmcu += 1
    bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
            + body

    def dqt(tid, q):
        zz = bytes(int(q.flat[_ZIGZAG[i]]) for i in range(64))
        return seg(0xDB, bytes([tid]) + zz)

    def dht(tc, th, spec):
        counts, syms = spec
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(counts)
                   + bytes(syms))

    out = bytearray(b"\xff\xd8")
    out += dqt(0, qlum) + dqt(1, qchr)
    samp = (hs << 4) | vs
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([3]) \
        + bytes([1, samp, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += seg(0xC0, sof)
    out += dht(0, 0, _K_DC_LUM) + dht(1, 0, _K_AC_LUM)
    out += dht(0, 1, _K_DC_CHR) + dht(1, 1, _K_AC_CHR)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _rgb_features(px: bytes, w: int, h: int) -> list[float]:
    """FEATURE_DIM(16) real image features from row-major RGB bytes:
    mean R/G/B, overall mean luma, then a 4x3 grid of cell mean lumas —
    deterministic, pure Python (no numpy needed for the tiny per-row
    work; the batch-level parallelism comes from mapInPandas)."""
    n = w * h
    # integer channel sums are EXACT, so vectorizing them cannot move a
    # bit; the float expressions and their per-row accumulation order
    # below replicate the original pure-python loop exactly
    a = _np.frombuffer(px, dtype=_np.uint8).reshape(h, w, 3) \
        .astype(_np.int64)
    csum = a.sum(axis=(0, 1))
    sr, sg, sb = int(csum[0]), int(csum[1]), int(csum[2])
    luma_scale = (0.299 * sr + 0.587 * sg + 0.114 * sb) / (255.0 * n)
    feats = [sr / (255.0 * n), sg / (255.0 * n), sb / (255.0 * n),
             luma_scale]
    for gy in range(3):
        y0, y1 = h * gy // 3, h * (gy + 1) // 3
        for gx in range(4):
            x0, x1 = w * gx // 4, w * (gx + 1) // 4
            cell = a[y0:y1, x0:x1, :].sum(axis=1)  # (rows, 3) exact ints
            tot, cnt = 0.0, 0
            for y in range(y1 - y0):
                tot += (0.299 * int(cell[y, 0]) + 0.587 * int(cell[y, 1])
                        + 0.114 * int(cell[y, 2]))
                cnt += x1 - x0
            feats.append(tot / (255.0 * cnt) if cnt else 0.0)
    return [round(f, 6) for f in feats]


def decode_image_real(payload: bytes) -> dict:
    """REAL image decode for the codec-less sandbox: baseline JPEG
    (huffman + exact 8x8 IDCT, 4:4:4/4:2:2/4:2:0, restart markers),
    PNG (8-bit, stdlib-zlib inflate), GIF 87a/89a (full LZW, interlace,
    transparency — first composited frame), the full binary Netpbm
    family — PPM (P6), PGM (P5), PBM (P4) — and uncompressed 24-bit BMP
    all parse natively (pure Python + numpy); formats that genuinely
    need codec libraries (WebP, progressive JPEG, ...) raise
    NotImplementedError so the error surfaces in ``decode_error``
    instead of a wrong value."""
    if payload[:2] == b"\xff\xd8":
        w, h, px = _decode_jpeg(payload)
    elif payload[:8] == _PNG_SIG:
        w, h, px = _decode_png(payload)
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h, px = _decode_gif(payload)
    elif payload[:2] == b"P6":
        w, h, px = _decode_ppm(payload)
    elif payload[:2] == b"P5":
        w, h, px = _decode_pgm(payload)
    elif payload[:2] == b"P4":
        w, h, px = _decode_pbm(payload)
    elif payload[:2] == b"BM":
        w, h, px = _decode_bmp(payload)
    else:
        raise NotImplementedError(
            "codec libraries (PIL/soundfile/ffmpeg) are not installed in "
            "this environment; baseline JPEG, PNG, Netpbm P4/P5/P6 and "
            "24-bit BMP decode natively, other formats need a library "
            "or the deterministic fake")
    return {"width": w, "height": h, "features": _rgb_features(px, w, h)}


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6) encoder — the write side of _decode_ppm, used to
    synthesize REAL image payloads in tests and by resize_images."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


AUDIO_FEATURE_SEGS = 8


def _parse_wav(payload: bytes):
    """RIFF/WAVE chunk walk -> (channels, sample_rate, bits, data)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE")
    i, n = 12, len(payload)
    fmt = data = None
    while i + 8 <= n:
        cid = payload[i:i + 4]
        sz = struct.unpack("<I", payload[i + 4:i + 8])[0]
        body = payload[i + 8:i + 8 + sz]
        if len(body) < sz:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    afmt, nch, rate = struct.unpack("<HHI", fmt[:8])
    bits = struct.unpack("<H", fmt[14:16])[0]
    if afmt != 1:
        raise ValueError(f"WAV non-PCM format {afmt} not supported")
    if bits not in (8, 16):
        raise ValueError(f"WAV {bits}-bit not supported")
    if nch < 1 or rate == 0:
        raise ValueError("bad WAV fmt chunk")
    return nch, rate, bits, data


def decode_audio_real(payload: bytes) -> dict:
    """REAL audio decode: PCM WAV (8/16-bit, any channel count) parses
    natively via struct — sample rate, duration, and per-segment RMS
    energy features (AUDIO_FEATURE_SEGS segments + overall).  Compressed
    formats (mp3/ogg/flac) raise NotImplementedError so the error lands
    in ``decode_error``."""
    import math
    if payload[:4] != b"RIFF":
        raise NotImplementedError(
            "audio codec libraries are not installed; PCM WAV decodes "
            "natively, compressed formats need a library")
    nch, rate, bits, data = _parse_wav(payload)
    try:
        import numpy as np
    except ImportError:  # pragma: no cover - numpy is baked in
        np = None
    if np is not None:
        # vectorized path: frombuffer + reshape mixdown + segment RMS
        # (a 4 kHz·multi-second corpus is tens of millions of samples —
        # per-sample Python costs ~50x)
        if bits == 16:
            cnt = len(data) // 2
            arr = np.frombuffer(data[:cnt * 2], dtype="<i2") \
                .astype(np.float64)
            scale = 32768.0
        else:
            arr = np.frombuffer(data, dtype=np.uint8) \
                .astype(np.float64) - 128.0
            scale = 128.0
        frames = len(arr) // nch
        if frames == 0:
            raise ValueError("empty WAV data")
        mono = arr[:frames * nch].reshape(frames, nch).mean(axis=1) \
            if nch > 1 else arr[:frames]
        x2 = (mono / scale) ** 2
        feats = []
        for s in range(AUDIO_FEATURE_SEGS):
            a = frames * s // AUDIO_FEATURE_SEGS
            b = frames * (s + 1) // AUDIO_FEATURE_SEGS
            feats.append(round(float(np.sqrt(x2[a:b].mean())), 6)
                         if b > a else 0.0)
        feats.append(round(float(np.sqrt(x2.mean())), 6))
        return {"sample_rate": rate,
                "duration_ms": frames * 1000 // rate,
                "channels": nch, "features": feats}
    if bits == 16:
        cnt = len(data) // 2
        samples = struct.unpack(f"<{cnt}h", data[:cnt * 2])
        scale = 32768.0
    else:
        samples = [b - 128 for b in data]
        scale = 128.0
    frames = len(samples) // nch
    if frames == 0:
        raise ValueError("empty WAV data")
    mono = samples if nch == 1 else \
        [sum(samples[j * nch:(j + 1) * nch]) / nch for j in range(frames)]
    feats = []
    for s in range(AUDIO_FEATURE_SEGS):
        a = frames * s // AUDIO_FEATURE_SEGS
        b = frames * (s + 1) // AUDIO_FEATURE_SEGS
        seg = mono[a:b]
        feats.append(
            round(math.sqrt(sum((x / scale) ** 2 for x in seg)
                            / len(seg)), 6) if seg else 0.0)
    feats.append(round(math.sqrt(
        sum((x / scale) ** 2 for x in mono) / frames), 6))
    return {"sample_rate": rate,
            "duration_ms": frames * 1000 // rate,
            "channels": nch, "features": feats}


def encode_wav(sample_rate: int, samples, channels: int = 1) -> bytes:
    """Minimal 16-bit PCM WAV encoder — the write side of
    decode_audio_real for tests and payload synthesis."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


AUDIO_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("features", T.ArrayType(T.DoubleType()), True),
    T.StructField("decode_error", T.StringType(), True),
])


def _spread(df: DataFrame) -> DataFrame:
    """Widen a NARROW input ahead of a CPU-bound Arrow codec stage: a
    pure-Python decoder pinned to a 1-file scan's single partition
    serializes the whole corpus decode onto one core (measured 17.6s
    -> ~2s on the 5k-doc JPEG bench at local[32]).  Round-robin
    repartitions only when the plan's partitioning is narrower than
    the session's default parallelism — a 100 TB binary scan already
    carries >= parallelism splits (maxPartitionBytes), so at cluster
    scale this is a no-op and no payload shuffle is added."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def extract_audio_features(df: DataFrame, payload_col: str = "payload",
                           id_col: str = "asset_id") -> DataFrame:
    """Decode + featurize binary audio assets via Arrow-batched
    mapInPandas (narrow in the steady state — a narrower-than-
    parallelism input is round-robin widened first, see _spread) —
    same exception-model contract as extract_features: bad assets land
    in decode_error."""

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = {k: [] for k in ("asset_id", "sample_rate",
                                    "duration_ms", "channels",
                                    "features", "decode_error")}
            for i in range(len(pdf)):
                rows["asset_id"].append(int(pdf[id_col].iloc[i]))
                payload = pdf[payload_col].iloc[i]
                try:
                    d = decode_audio_real(
                        bytes(payload) if payload is not None else b"")
                    rows["sample_rate"].append(d["sample_rate"])
                    rows["duration_ms"].append(d["duration_ms"])
                    rows["channels"].append(d["channels"])
                    rows["features"].append(d["features"])
                    rows["decode_error"].append(None)
                except Exception as e:
                    for k in ("sample_rate", "duration_ms", "channels",
                              "features"):
                        rows[k].append(None)
                    rows["decode_error"].append(
                        f"{type(e).__name__}: {e}")
            yield pd.DataFrame(rows)

    return _spread(df).mapInPandas(run, schema=AUDIO_SCHEMA)


DECODERS = {
    "image/fake": _fake_decode_image,
    "image/real": decode_image_real,
}

EXTRACT_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("features", T.ArrayType(T.DoubleType()), True),
    T.StructField("decode_error", T.StringType(), True),
])


def extract_features(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "asset_id",
                     decoder: str = "image/fake") -> DataFrame:
    """Decode + featurize binary assets via Arrow-batched mapInPandas.
    Per-row decode failures land in ``decode_error`` (exception-model
    style: bad assets never kill the job)."""
    decode = DECODERS[decoder]

    def run(batches):
        import pandas as pd
        for pdf in batches:
            ids, ws, hs, fs, errs = [], [], [], [], []
            for i in range(len(pdf)):
                ids.append(int(pdf[id_col].iloc[i]))
                payload = pdf[payload_col].iloc[i]
                try:
                    d = decode(bytes(payload) if payload is not None else b"")
                    ws.append(d["width"])
                    hs.append(d["height"])
                    fs.append(d["features"])
                    errs.append(None)
                except Exception as e:
                    ws.append(None)
                    hs.append(None)
                    fs.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame({"asset_id": ids, "width": ws, "height": hs,
                                "features": fs, "decode_error": errs})

    # widen only ahead of the REAL pure-Python codecs: for the cheap
    # hash-based fake decoder the round-robin payload shuffle (plus
    # the plan->RDD partition probe) costs more than the decode it
    # parallelizes (measured +0.13s on mm_decode at sf0.1, while the
    # real-JPEG spread win is ~9x) — and at scale the scan is already
    # wider than parallelism either way
    src = df if decoder == "image/fake" else _spread(df)
    return src.mapInPandas(run, schema=EXTRACT_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("resize_error", T.StringType(), True),
])


def _fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a real resizer: the output payload is a
    pure function of (payload, dims).  Replace with PIL:
    ``Image.open(io.BytesIO(p)).resize((w, h)).save(buf, fmt)``."""
    return hashlib.sha256(
        payload + struct.pack(">II", width, height)).digest()


def _resize_rgb_nearest(px: bytes, w: int, h: int,
                        nw: int, nh: int) -> bytes:
    """Nearest-neighbor RGB resample (the real thing, pure Python)."""
    out = bytearray(nw * nh * 3)
    for y in range(nh):
        sy = y * h // nh
        row_base = sy * w * 3
        dst = y * nw * 3
        for x in range(nw):
            sx = x * w // nw
            s = row_base + sx * 3
            out[dst:dst + 3] = px[s:s + 3]
            dst += 3
    return bytes(out)


def _resize_payload(payload: bytes, width: int, height: int) -> bytes:
    """PPM(P6) and PNG payloads get a REAL nearest-neighbor resize
    (round-tripping through their decoders/encoders); anything else
    falls back to the deterministic stub — same honest split as
    decode_image_real."""
    if payload[:2] == b"P6":
        w, h, px = _decode_ppm(payload)
        return encode_ppm(width, height,
                          _resize_rgb_nearest(px, w, h, width, height))
    if payload[:8] == _PNG_SIG:
        w, h, px = _decode_png(payload)
        return encode_png(width, height,
                          _resize_rgb_nearest(px, w, h, width, height))
    if payload[:2] == b"\xff\xd8":
        w, h, px = _decode_jpeg(payload)
        return encode_jpeg(width, height,
                           _resize_rgb_nearest(px, w, h, width, height))
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        # nearest-neighbor keeps the palette closed, so the resized
        # frame re-encodes as a GIF losslessly
        w, h, px = _decode_gif(payload)
        return encode_gif(width, height,
                          _resize_rgb_nearest(px, w, h, width, height))
    return _fake_resize(payload, width, height)


def resize_images(df: DataFrame, width: int, height: int,
                  payload_col: str = "payload",
                  id_col: str = "asset_id") -> DataFrame:
    """Resize binary image assets to (width, height) via Arrow-batched
    mapInPandas — narrow (partition-preserving), per-row failures land in
    ``resize_error``.  PPM(P6), PNG, baseline JPEG, and GIF payloads
    get a real nearest-neighbor resample (round-tripped through their
    native codecs); other formats use the deterministic stub (codec
    libraries are env-gated), and the Spark contract (schema, batching,
    error capture) is identical either way."""

    def run(batches):
        import pandas as pd
        for pdf in batches:
            ids, outs, errs = [], [], []
            for i in range(len(pdf)):
                ids.append(int(pdf[id_col].iloc[i]))
                payload = pdf[payload_col].iloc[i]
                try:
                    outs.append(_resize_payload(
                        bytes(payload) if payload is not None else b"",
                        width, height))
                    errs.append(None)
                except Exception as e:
                    outs.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame({
                "asset_id": ids, "payload": outs,
                "width": [width] * len(ids), "height": [height] * len(ids),
                "resize_error": errs})

    return _spread(df).mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("asset_id", T.LongType(), False),
    T.StructField("frame_index", T.IntegerType(), False),
    T.StructField("ts_ms", T.LongType(), False),
    T.StructField("frame", T.BinaryType(), True),
])


def sample_frames(df: DataFrame, every_ms: int = 1000,
                  payload_col: str = "payload", id_col: str = "asset_id",
                  duration_col: str = "meta.duration_ms",
                  max_frames: int = 64) -> DataFrame:
    """Sample one frame every ``every_ms`` from video assets — the
    1-row-in, N-rows-out shape (mapInPandas yields more rows than it
    consumes; still narrow, no shuffle).  Animated GIF payloads decode
    for REAL: the sampled timestamp selects the frame active at that
    point of the GIF's own delay timeline and the emitted frame is its
    composited pixels as a PPM payload.  Other containers (mp4 etc.)
    use the deterministic stub (replace with ffmpeg seek+decode) with
    the metadata duration; frame COUNT is ceil(duration / every_ms)
    capped at ``max_frames`` so one corrupt duration can't explode a
    batch."""
    dur = F.expr(duration_col).cast("long")
    staged = df.select(
        F.col(id_col).alias("asset_id"), F.col(payload_col).alias("p"),
        F.coalesce(dur, F.lit(0)).alias("dur"))

    def run(batches):
        import pandas as pd
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for i in range(len(pdf)):
                aid = int(pdf["asset_id"].iloc[i])
                payload = pdf["p"].iloc[i]
                payload = bytes(payload) if payload is not None else b""
                if payload[:6] in (b"GIF87a", b"GIF89a"):
                    # per-row capture: a truncated/malformed GIF falls
                    # back to the stub path instead of failing the task
                    try:
                        w, h, frs = gif_frames(payload)
                    except Exception:
                        frs = None
                    if frs is not None:
                        starts, t = [], 0
                        for d, _ in frs:
                            starts.append(t)
                            t += d
                        dur_ms = t
                        n = min(max(-(-dur_ms // every_ms), 1), max_frames)
                        fi = 0
                        for j in range(n):
                            ts = j * every_ms
                            while fi + 1 < len(frs) and starts[fi + 1] <= ts:
                                fi += 1
                            ids.append(aid)
                            idxs.append(j)
                            tss.append(ts)
                            frames.append(encode_ppm(w, h, frs[fi][1]))
                        continue
                dur_ms = int(pdf["dur"].iloc[i])
                n = min(max(-(-dur_ms // every_ms), 1), max_frames)
                for j in range(n):
                    ids.append(aid)
                    idxs.append(j)
                    tss.append(j * every_ms)
                    frames.append(hashlib.sha256(
                        payload + struct.pack(">I", j)).digest())
            yield pd.DataFrame({"asset_id": ids, "frame_index": idxs,
                                "ts_ms": tss, "frame": frames})

    return _spread(staged).mapInPandas(run, schema=FRAME_SCHEMA)


def make_asset_frame(spark, n: int = 100, partitions: int = 4,
                     media_type: str = "image") -> DataFrame:
    """Synthetic binary-asset table for tests: payload = deterministic
    bytes derived from the id (seeded, reproducible).  ``video`` assets
    get a deterministic duration_ms so frame sampling is testable."""
    ids = spark.range(n, numPartitions=partitions) \
        .select(F.col("id").alias("asset_id"))
    payload = F.sha2(F.col("asset_id").cast("string"), 256).cast("binary")
    dur = (F.col("asset_id") % 5 * 1700 + 500).cast("long") \
        if media_type == "video" else F.lit(None).cast("long")
    meta = F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit("fake").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        dur.alias("duration_ms"),
        F.lit(None).cast("int").alias("sample_rate"))
    return ids.select("asset_id", payload.alias("payload"),
                      meta.alias("meta"))
