"""Fixed-weight numpy media feature extractor (image -> embedding).

Completes the multimodal column family's model stage the same way
``glyph_model.py`` (OCR) and ``verdict_model.py`` (repair) did: REAL
tensor math over committed weights instead of a hash fake.  The pipeline
shape is the one a production image tower runs per Arrow batch
(reference analogue: batched model calls over cropped patches,
ocr/manga_ocr.py:46-53):

* decode: real PNG pixel decode (``glyph_model.decode_png_gray`` — zlib
  inflate + scanline unfilter on the actual byte layout);
* preprocess: resample every image to one canonical grid
  (``CANON_H x CANON_W``) so a heterogeneous batch stacks into a single
  tensor — the same size-grouping concern as cleaning/lama.py:120,
  resolved here by canonicalization instead of shape groups;
* embed: ONE matmul per batch against a committed ``(CANON_H*CANON_W,
  EMBED_DIM)`` projection (md5-derived, fixed — a random-projection
  feature map; Johnson-Lindenstrauss is the textbook justification),
  then L2 normalization so downstream cosine operators
  (operators/similarity.py) consume it directly;
* the extractor is a per-worker singleton (``get_media_embedder``),
  weights load once per Python worker, counted by ``LOAD_COUNT``.

A trained vision model drops in at ``_project``: replace the matmul with
``onnxruntime.InferenceSession.run`` on the same stacked tensor.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from manga_translator_spark.functions import load_weights

CANON_H = 8
CANON_W = 32
EMBED_DIM = 16
_WEIGHTS_FILE = "media_embed_weights.npz"
# the file scripts/gen_media_embed_weights.py writes
_WEIGHTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), _WEIGHTS_FILE)


def build_weights() -> dict:
    """Deterministic md5-derived random projection, (CANON_H*CANON_W, EMBED_DIM).

    Each input-pixel row expands md5 digests to EMBED_DIM floats in
    [-1, 1) — same derivation style as the committed glyph bitmaps."""
    d_in = CANON_H * CANON_W
    rows = []
    for i in range(d_in):
        vals: list[float] = []
        counter = 0
        while len(vals) < EMBED_DIM:
            h = hashlib.md5(f"mediaproj:{i}:{counter}".encode()).digest()
            vals.extend(
                int.from_bytes(h[j : j + 4], "big") / 2**31 - 1.0 for j in (0, 4, 8, 12)
            )
            counter += 1
        rows.append(vals[:EMBED_DIM])
    proj = np.array(rows, dtype=np.float32) / np.sqrt(np.float32(d_in))
    return {"proj": proj, "canon": np.array([CANON_H, CANON_W]), "dim": np.array(EMBED_DIM)}


class MediaEmbedder:
    """Decode-aware batched feature extractor over committed .npz weights."""

    def __init__(self):
        with load_weights(_WEIGHTS_FILE) as z:
            self.proj = z["proj"].astype(np.float32)
        if self.proj.shape != (CANON_H * CANON_W, EMBED_DIM):
            raise ValueError("media embed weight shape mismatch")
        self.matmul_calls = 0  # instrumentation: one per batch

    def _canon(self, img: np.ndarray) -> np.ndarray:
        from manga_translator_spark.functions.glyph_model import resize_gray

        if img.shape != (CANON_H, CANON_W):
            img = resize_gray(img, CANON_W, CANON_H)
        return img

    def _project(self, stack: np.ndarray) -> np.ndarray:
        """(B, H*W) float32 -> (B, EMBED_DIM) L2-normalized.  The
        onnxruntime drop-in point."""
        out = stack @ self.proj
        self.matmul_calls += 1
        norms = np.linalg.norm(out, axis=1, keepdims=True)
        np.maximum(norms, 1e-12, out=norms)
        return out / norms

    def embed_arrays(self, images: list[np.ndarray | None]) -> list[list[float] | None]:
        """Batched embedding: every decodable image joins ONE stacked
        tensor / ONE matmul; None in -> None out (caller falls back)."""
        out: list[list[float] | None] = [None] * len(images)
        idxs = [i for i, img in enumerate(images) if img is not None and img.ndim == 2]
        if not idxs:
            return out
        stack = np.stack(
            [self._canon(images[i]).astype(np.float32) / 255.0 for i in idxs]
        ).reshape(len(idxs), CANON_H * CANON_W)
        vecs = self._project(stack)
        for row, i in enumerate(idxs):
            out[i] = vecs[row].tolist()
        return out


# Per-worker singleton (reference: model loaded once per plugin instance).
_MODEL: MediaEmbedder | None = None
LOAD_COUNT = 0


def get_media_embedder() -> MediaEmbedder:
    global _MODEL, LOAD_COUNT
    if _MODEL is None:
        _MODEL = MediaEmbedder()
        LOAD_COUNT += 1
    return _MODEL
