"""Tiny fixed-weight numpy OCR model: render + recognize 8x8 glyph strips.

The reference's core value is *batched model stages* — crops stacked into
one tensor and pushed through a network per batch (ocr/manga_ocr.py:46-53
``processor(images) -> model.generate``; cleaning/lama.py:118-142, incl.
its own TODO "we can do some kind of size based grouping to batch here",
lama.py:120).  The sandbox ships no ONNX runtime, so this module proves the
batched-inference path with REAL tensor math instead of a lookup stub:

* every character owns a fixed 8x8 binary glyph (md5-derived, committed);
* ``render_text`` rasterizes a string into an ``(8, 8*n)`` uint8 image —
  the corpus embeds these as real grayscale PNG pixels (corpus.make_png);
* ``GlyphRecognizer`` is a linear classifier with weights loaded from a
  committed ``.npz``: scores = pixels @ W + b, prediction = argmax.  With
  template weights ``W = G.T`` and bias ``b = -||g||^2/2`` the argmax is
  provably exact for any distinct glyph set (Cauchy-Schwarz: for binary
  x = g_j, g_i.x - |g_i|^2/2 < |g_j|^2/2 unless g_i == g_j), and a test
  asserts distinctness + round-trip over the whole alphabet;
* ``infer_arrays`` groups a batch BY SHAPE and runs ONE matmul per shape
  group (the lama.py:120 TODO, done) — positional alignment preserved;
* the model is a per-worker singleton (``get_glyph_model``): weights load
  once per Python worker, counted by ``LOAD_COUNT`` and asserted in tests
  (reference loads models once in plugin __init__, detection/yolo.py:11,
  ocr/manga_ocr.py:24-27).

Swapping in a real model is one change: replace the matmul+argmax in
``_infer_stack`` with ``onnxruntime.InferenceSession.run`` on the same
stacked tensor.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib

import numpy as np

from manga_translator_spark.functions import load_weights

GLYPH_H = 8
GLYPH_W = 8
_WEIGHTS_FILE = "glyph_weights.npz"
# the file scripts/gen_glyph_weights.py writes
_WEIGHTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), _WEIGHTS_FILE)

# Unknown characters render as this glyph (must be in the alphabet).
UNKNOWN_CHAR = "?"


def build_alphabet() -> str:
    """Printable ASCII + the corpus word lists' non-ASCII char inventory.

    Closed fixed vocabulary, like any real OCR tokenizer; chars outside it
    render as UNKNOWN_CHAR.  Deterministic (sorted by codepoint)."""
    from manga_translator_spark.corpus import WORDS_DE, WORDS_JA

    ascii_printable = [chr(c) for c in range(0x20, 0x7F)]
    extra = sorted(set("".join(WORDS_JA) + "".join(WORDS_DE)) - set(ascii_printable))
    return "".join(ascii_printable + extra)


def glyph_bitmap(ch: str) -> np.ndarray:
    """Fixed 8x8 binary glyph for one char: the first 64 bits of
    md5('glyph:'+ch).  Distinctness over the alphabet is asserted at weight
    build time and in tests (identical bitmaps are the only way the linear
    template classifier can confuse two classes)."""
    digest = hashlib.md5(b"glyph:" + ch.encode("utf-8")).digest()[:8]
    return np.unpackbits(np.frombuffer(digest, dtype=np.uint8)).reshape(GLYPH_H, GLYPH_W)


def build_weights(alphabet: str) -> dict:
    """Template-matching weights: W = G.T (64 x n_classes), b = -|g|^2/2."""
    glyphs = np.stack([glyph_bitmap(c) for c in alphabet])  # (n, 8, 8)
    flat = glyphs.reshape(len(alphabet), GLYPH_H * GLYPH_W).astype(np.float32)
    packed = {tuple(row) for row in flat.astype(np.uint8)}
    if len(packed) != len(alphabet):  # pragma: no cover - md5 collision
        raise ValueError("glyph bitmap collision; change the derivation salt")
    return {
        "chars": np.array(list(alphabet)),
        "weights": flat.T.copy(),  # (64, n_classes)
        "bias": (-0.5 * (flat * flat).sum(axis=1)).astype(np.float32),
    }


_ALPHABET: set[str] | None = None
_GLYPH_CACHE: dict[str, np.ndarray] = {}


def _glyph255(ch: str) -> np.ndarray:
    g = _GLYPH_CACHE.get(ch)
    if g is None:
        g = _GLYPH_CACHE[ch] = (glyph_bitmap(ch) * 255).astype(np.uint8)
    return g


def render_text(text: str) -> np.ndarray:
    """Rasterize ``text`` to an (8, 8*len) uint8 image (0/255)."""
    global _ALPHABET
    if _ALPHABET is None:
        _ALPHABET = set(build_alphabet())
    chars = [(c if c in _ALPHABET else UNKNOWN_CHAR) for c in text] or [" "]
    return np.concatenate([_glyph255(c) for c in chars], axis=1)


# --------------------------------------------------------------------------
# Minimal grayscale PNG pixel decode (stdlib zlib + numpy).  Only the layout
# corpus.make_png writes (8-bit grayscale, filter 0 rows, single image) —
# anything else returns None and callers fall back to the tEXt stub.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png_gray(payload: bytes | None) -> np.ndarray | None:
    if not payload:
        return None
    data = bytes(payload)
    if not data.startswith(_PNG_SIG):
        return None
    pos = len(_PNG_SIG)
    width = height = None
    idat = b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            if len(body) < 13:
                return None
            width, height, bit_depth, color_type = struct.unpack(">IIBB", body[:10])
            if bit_depth != 8 or color_type != 0:  # not our grayscale layout
                return None
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if not width or not height or not idat:
        return None
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    stride = width + 1  # 1 filter byte per row
    if len(raw) != stride * height:
        return None
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
    if (rows[:, 0] != 0).any():  # only filter type 0 is written/supported
        return None
    return rows[:, 1:].copy()


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png_gray(pixels: np.ndarray) -> bytes:
    """Encode a 2-D uint8 array as the grayscale PNG layout this module
    decodes (8-bit gray, filter-0 rows) — the inverse of
    :func:`decode_png_gray`, shared by corpus rendering and the pixel
    operators (multimodal resize)."""
    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    height, width = arr.shape
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + row.tobytes() for row in arr)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def resize_gray(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample of a 2-D grayscale array — real pixel
    math (index-map gather), no imaging library needed."""
    h, w = pixels.shape
    ys = np.minimum((np.arange(height) * (h / height)).astype(np.int64), h - 1)
    xs = np.minimum((np.arange(width) * (w / width)).astype(np.int64), w - 1)
    return pixels[np.ix_(ys, xs)]


class GlyphRecognizer:
    """Fixed-weight linear glyph classifier over committed .npz weights."""

    def __init__(self):
        with load_weights(_WEIGHTS_FILE) as z:
            self.chars = [str(c) for c in z["chars"]]
            self.weights = z["weights"].astype(np.float32)  # (64, n_classes)
            self.bias = z["bias"].astype(np.float32)  # (n_classes,)
        if self.weights.shape != (GLYPH_H * GLYPH_W, len(self.chars)):
            raise ValueError("glyph weight shape mismatch")
        self.matmul_calls = 0  # instrumentation: one per shape group
        # pixels arrive 0/255: fold the /255 normalization into the weight
        # matrix once at load (scores are identical: (x/255)@W == x@(W/255))
        self._weights255 = (self.weights / 255.0).astype(np.float32)
        self._char_arr = np.array(self.chars, dtype="<U1")  # vectorized idx->char

    def _infer_stack(self, stack: np.ndarray) -> list[str]:
        """(B, 8, W) uint8 -> B decoded strings via ONE matmul + argmax.
        The onnxruntime drop-in point: session.run on the same tensor."""
        b, h, w = stack.shape
        n = w // GLYPH_W
        # (B, 8, n, 8) -> (B, n, 8, 8) -> (B*n, 64); one float32 copy total
        x = np.ascontiguousarray(
            stack.reshape(b, h, n, GLYPH_W).transpose(0, 2, 1, 3), dtype=np.float32
        ).reshape(b * n, h * GLYPH_W)
        scores = x @ self._weights255 + self.bias  # (B*n, n_classes)
        self.matmul_calls += 1
        idx = np.argmax(scores, axis=1).reshape(b, n)
        # vectorized string assembly: (B, n) of U1 chars viewed as B U{n}
        chars2d = np.ascontiguousarray(self._char_arr[idx])
        return chars2d.view(f"<U{n}").ravel().tolist()

    def infer_arrays(self, images: list[np.ndarray | None]) -> list[str | None]:
        """Batched inference with same-shape grouping (lama.py:120 TODO):
        images sharing (H, W) stack into one tensor / one matmul; output is
        positionally aligned.  None in -> None out (caller falls back)."""
        out: list[str | None] = [None] * len(images)
        groups: dict[tuple[int, int], list[int]] = {}
        for i, img in enumerate(images):
            if img is None or img.ndim != 2 or img.shape[0] != GLYPH_H or img.shape[1] % GLYPH_W:
                continue
            groups.setdefault(img.shape, []).append(i)
        for shape, idxs in groups.items():
            if shape[1] == 0:
                for i in idxs:
                    out[i] = ""
                continue
            stack = np.stack([images[i] for i in idxs])
            for i, text in zip(idxs, self._infer_stack(stack)):
                out[i] = text
        return out


# Per-worker singleton (reference: model loaded once in plugin __init__).
_MODEL: GlyphRecognizer | None = None
LOAD_COUNT = 0


def get_glyph_model() -> GlyphRecognizer:
    global _MODEL, LOAD_COUNT
    if _MODEL is None:
        _MODEL = GlyphRecognizer()
        LOAD_COUNT += 1
    return _MODEL
