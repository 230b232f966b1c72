"""Deterministic image codecs (no PIL in this environment).

Two formats cover the lossless/lossy split required by the BASELINE.json
per-row invariant (decoded-pixel allclose; PSNR >= 40 dB for lossy):

* ``png``  — a real, spec-conformant PNG (8-bit greyscale or RGB,
  zlib-deflated, filters 0-4 on decode, filter 0 on encode). Lossless.
* ``jpeg`` — a stand-in lossy codec (the container has no JPEG library;
  the reference's real decode path `captcha.py:20-25` is PIL). Documented
  stub semantics: uniform quantization with step q=4 + deflate. Max
  per-pixel error is q/2 = 2 → PSNR >= 42 dB, deterministically above the
  40 dB gate. Magic ``FJPG``. The Spark-side plumbing (binary column,
  Arrow batches, schema) is identical to what a real JPEG decoder would
  use — swap `_encode_lossy/_decode_lossy` for libjpeg bindings on a real
  cluster.

All functions operate on uint8 numpy arrays, shape (h, w) for greyscale
("L" mode in the reference, captcha.py:49) or (h, w, 3) for RGB.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..config import LOSSY_QUANT

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(arr: np.ndarray) -> bytes:
    """Encode (h,w) or (h,w,3) uint8 → PNG bytes (filter 0 rows)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color_type, channels = 0, 1
        h, w = arr.shape
    elif arr.ndim == 3 and arr.shape[2] == 3:
        color_type, channels = 2, 3
        h, w = arr.shape[:2]
    else:
        raise ValueError(f"unsupported shape {arr.shape}")
    raw = arr.reshape(h, w * channels)
    # one filter-type byte (0 = None) per scanline
    stream = np.zeros((h, 1 + w * channels), dtype=np.uint8)
    stream[:, 1:] = raw
    return _png_bytes(w, h, color_type, stream.tobytes())


def _png_bytes(w: int, h: int, color_type: int, stream: bytes) -> bytes:
    """PNG file around already-filtered scanlines (`stream`)."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # level 1: the payloads are synthetic noise-bearing images where
    # levels 1-9 differ <8% in size but ~3x in CPU; this encoder sits on
    # the fetch hot path (a real crawler's encode cost is the camera's)
    idat = zlib.compress(stream, 1)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """Decode PNG bytes → uint8 array (h,w) or (h,w,3). Filters 0-4."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or color_type not in (0, 2) or interlace:
                raise ValueError("unsupported PNG variant")
            channels = 1 if color_type == 0 else 3
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    filters, scan = rows[:, 0], rows[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels
    for y in range(h):
        f, cur = filters[y], scan[y].astype(np.uint8).copy()
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            out[y] = cur
        elif f == 2:  # Up
            out[y] = cur + prev
        elif f in (1, 3, 4):  # Sub / Average / Paeth need left-to-right scan
            line = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else np.uint8(0)
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else np.uint8(0)
                if f == 1:
                    line[x] = cur[x] + left
                elif f == 3:
                    line[x] = cur[x] + np.uint8((int(left) + int(up)) // 2)
                else:
                    line[x] = cur[x] + _paeth(
                        np.array(left), np.array(up), np.array(ul)
                    )
            out[y] = line
        else:
            raise ValueError(f"bad filter {f}")
    arr = out.reshape(h, w, channels)
    return arr[:, :, 0] if channels == 1 else arr


def _quantize(arr: np.ndarray, q: int = LOSSY_QUANT) -> np.ndarray:
    return ((arr.astype(np.uint16) // q) * q + q // 2).clip(0, 255).astype(np.uint8)


def _lossy_bytes(w: int, h: int, c: int, q: int, quant: bytes) -> bytes:
    return b"FJPG" + struct.pack(">IIBB", w, h, c, q) + zlib.compress(quant, 1)


def _encode_lossy(arr: np.ndarray, q: int = LOSSY_QUANT) -> bytes:
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    c = 1 if arr.ndim == 2 else arr.shape[2]
    h, w = arr.shape[:2]
    return _lossy_bytes(w, h, c, q, _quantize(arr, q).tobytes())


def _decode_lossy(data: bytes) -> np.ndarray:
    if data[:4] != b"FJPG":
        raise ValueError("not FJPG")
    w, h, c, _q = struct.unpack_from(">IIBB", data, 4)
    raw = zlib.decompress(data[14:])
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, c)
    return arr[:, :, 0] if c == 1 else arr


# --- real-codec seam (reference decodes real images via PIL,
# captcha.py:20-25, oa.py:876-879). The sandbox has no image library, so
# the lossy format above is the documented stand-in; when PIL IS
# installed (any real deployment), real JPEG bytes decode through it —
# same uint8 array contract, so decode_stats/PSNR/phash downstream work
# unchanged. Import-gated, never required.

_JPEG_SIG = b"\xff\xd8\xff"


def _pil():
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


HAS_REAL_JPEG = _pil() is not None


def encode_jpeg_real(arr: np.ndarray, quality: int = 90) -> bytes:
    """Real JPEG bytes via PIL — the production encode side of the seam.
    Raises NotImplementedError where PIL is absent (this sandbox)."""
    Image = _pil()
    if Image is None:
        raise NotImplementedError(
            "real JPEG encoding needs PIL (pip install pillow); the "
            "in-sandbox lossy stand-in is encode_image(arr, 'jpeg')"
        )
    import io

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    img = Image.fromarray(arr, mode="L" if arr.ndim == 2 else "RGB")
    buf = io.BytesIO()
    img.save(buf, format="JPEG", quality=quality)
    return buf.getvalue()


def decode_jpeg_real(data: bytes) -> np.ndarray:
    """Real JPEG decode via PIL → uint8 (h,w) or (h,w,3) — identical
    array contract to decode_png/_decode_lossy."""
    Image = _pil()
    if Image is None:
        raise NotImplementedError(
            "got real JPEG bytes (FFD8FF magic) but no JPEG library is "
            "installed; install PIL (pillow) — the engine dispatches to "
            "it automatically (kernels/codec.py real-codec seam)"
        )
    import io

    img = Image.open(io.BytesIO(data))
    if img.mode == "L":
        return np.asarray(img, dtype=np.uint8)
    return np.asarray(img.convert("RGB"), dtype=np.uint8)


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png(arr)
    if fmt == "jpeg":
        return _encode_lossy(arr)
    if fmt == "jpeg_real":
        return encode_jpeg_real(arr)
    raise ValueError(f"unknown fmt {fmt!r}")


def _regions(arr: np.ndarray, hs: np.ndarray, ws: np.ndarray) -> list[memoryview]:
    """The top-left `hs[i] × ws[i]` region of every `arr[i]`, each as one
    contiguous row-major buffer: one masked gather for the whole stack."""
    n, height, width = arr.shape
    mask = (np.arange(height)[None, :, None] < hs[:, None, None]) & (
        np.arange(width)[None, None, :] < ws[:, None, None]
    )
    flat = memoryview(arr[mask])
    ends = np.cumsum(hs * ws).tolist()
    return [flat[lo:hi] for lo, hi in zip([0, *ends[:-1]], ends)]


def encode_canvas(canvas: np.ndarray, hs: np.ndarray, ws: np.ndarray, png: np.ndarray) -> list[bytes]:
    """Encode n greyscale images held top-left in one padded (n, H, W)
    uint8 canvas; image i is `canvas[i, :hs[i], :ws[i]]`, PNG where
    `png[i]` else the lossy stand-in. Byte-identical to `encode_image`
    per image: filter bytes and quantization are array ops over the
    canvas, only deflate and the container bytes run per image."""
    n, height, width = canvas.shape
    hs, ws = np.asarray(hs), np.asarray(ws)
    out: list[bytes] = [b""] * n
    p, q = np.flatnonzero(png), np.flatnonzero(~np.asarray(png))
    stream = np.zeros((len(p), height, width + 1), dtype=np.uint8)
    stream[:, :, 1:] = canvas[p]  # one filter-type byte (0 = None) per scanline
    for i, raw in zip(p.tolist(), _regions(stream, hs[p], ws[p] + 1)):
        out[i] = _png_bytes(int(ws[i]), int(hs[i]), 0, raw)
    for i, raw in zip(q.tolist(), _regions(_quantize(canvas[q]), hs[q], ws[q])):
        out[i] = _lossy_bytes(int(ws[i]), int(hs[i]), 1, LOSSY_QUANT, raw)
    return out


def decode_image(data: bytes) -> np.ndarray:
    """Format-sniffing decode (reference `Image.open`, captcha.py:25).
    Real JPEG bytes (FFD8FF) dispatch to PIL when installed."""
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:4] == b"FJPG":
        return _decode_lossy(data)
    if data[:3] == _JPEG_SIG:
        return decode_jpeg_real(data)
    raise ValueError("unknown image format")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images.

    The BASELINE.json per-row invariant: decoded pixels must satisfy
    PSNR >= 40 dB vs the reference decode for lossy formats (exact for
    lossless). Returns inf for identical images.
    """
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def average_hash(arr: np.ndarray, hash_size: int = 8) -> int:
    """Perceptual average-hash of an image → signed 64-bit int.

    Block-mean downsample to hash_size², threshold at the mean, pack bits
    row-major. Deterministic, pure numpy (the `phash` column of the images
    table, BASELINE.json input_hint).
    """
    if arr.ndim == 3:  # luminance, ITU-R 601 weights (reference captcha.py:35
        # intends 0.299/0.587/0.114; its 0.578 typo is in dead code)
        arr = (0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2])
    h, w = arr.shape
    ys = (np.arange(hash_size + 1) * h) // hash_size
    xs = (np.arange(hash_size + 1) * w) // hash_size
    # block sums via two reduceat passes (vectorized; equals the per-block
    # .mean() loop exactly for h, w >= hash_size)
    colsum = np.add.reduceat(arr.astype(np.float64), xs[:-1], axis=1)
    sums = np.add.reduceat(colsum, ys[:-1], axis=0)
    counts = np.outer(np.diff(ys), np.diff(xs))
    blocks = sums / counts
    bits = (blocks > blocks.mean()).ravel()
    # big-endian bit accumulate for ANY hash_size <= 8 (packbits pads the
    # last byte with trailing zeros — shift them off); int64-wrap at 64
    # bits keeps the hash_size=8 value bit-identical to the previous
    # packbits.view(">u8") fast path
    val = int.from_bytes(np.packbits(bits).tobytes(), "big") >> (-bits.size % 8)
    if bits.size >= 64 and val >= 1 << 63:
        val -= 1 << 64
    return val


def average_hash_canvas(canvas: np.ndarray, hs: np.ndarray, ws: np.ndarray) -> np.ndarray:
    """`average_hash` (hash_size 8) of every image `canvas[i, :hs[i], :ws[i]]`
    of a padded (n, H, W) greyscale canvas at once → int64 array.

    Block sums are two batched matmuls with 0/1 block-membership matrices.
    Every partial sum is an integer below 2^24 on canvases up to 64 × 64
    (float64 past that), so the sums are exact in any summation order and
    `sums / counts` is the same double as the reduceat form: bit-identical
    to `average_hash` for images of at least 8 × 8."""
    n, height, width = canvas.shape
    steps = np.arange(9)
    ys = (steps[None, :] * np.asarray(hs, dtype=np.int64)[:, None]) // 8
    xs = (steps[None, :] * np.asarray(ws, dtype=np.int64)[:, None]) // 8
    dt = np.float32 if height * width * 255 < 1 << 24 else np.float64
    rows, cols = np.arange(height), np.arange(width)
    in_y = ((rows >= ys[:, :-1, None]) & (rows < ys[:, 1:, None])).astype(dt)
    in_x = ((cols >= xs[:, :-1, None]) & (cols < xs[:, 1:, None])).astype(dt)
    sums = (in_y @ canvas.astype(dt) @ in_x.transpose(0, 2, 1)).astype(np.float64)
    counts = np.diff(ys, axis=1)[:, :, None] * np.diff(xs, axis=1)[:, None, :]
    blocks = (sums / counts).reshape(n, 64)
    bits = blocks > blocks.mean(axis=1, keepdims=True)
    # 64 bits big-endian → the same wrapped int64 as average_hash
    return np.packbits(bits, axis=1).view(">u8").ravel().astype(np.int64)
