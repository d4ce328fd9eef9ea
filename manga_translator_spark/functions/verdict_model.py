"""Tiny fixed-weight numpy patch-verdict model for the repair cleaner.

The reference's deep cleaners never score patches with handwritten
heuristics — they stack same-shaped patches into one tensor and push it
through a network per batch (cleaning/lama.py:118-142 ``clean_patches``;
deepfillv2.py:39-167).  The sandbox ships no ONNX runtime, so — exactly
like ``functions/glyph_model.py`` did for the OCR stage — this module
replaces the repair stage's Python keep/drop heuristic with REAL tensor
math over committed weights:

* each trimmed patch is featurized into a fixed-width float32 vector
  (clipped length + sentence-final-punctuation indicator — the two
  signals the verdict depends on);
* ``PatchVerdictNet`` is a linear classifier with weights loaded from a
  committed ``.npz``: ``logits = X @ W + b``, ``keep = argmax == 1`` —
  ONE matmul per Arrow batch, counted by ``matmul_calls``;
* the weights are a closed form that is PROVABLY decision-equivalent to
  the documented keep rule ``len(t) >= MIN_KEEP_LEN and t endswith
  sentence punctuation``: with ``f0 = min(len, LEN_CLIP)`` and
  ``f1 ∈ {0,1}`` the margin ``f0 + (LEN_CLIP+1)*f1 - (MIN_KEEP_LEN +
  LEN_CLIP + 0.5)`` is positive iff both conditions hold (when f1=0 the
  margin tops out at ``LEN_CLIP - (MIN_KEEP_LEN + LEN_CLIP + 0.5) < 0``;
  when f1=1 it is ``f0 - MIN_KEEP_LEN - 0.5 > 0`` iff ``f0 >=
  MIN_KEEP_LEN``) — a property test asserts the equivalence;
* the model is a per-worker singleton (``get_verdict_model``): weights
  load once per Python worker, counted by ``LOAD_COUNT`` (reference loads
  cleaner models once per plugin instance, cleaning/lama.py:51).

Swapping in a trained model is one change: replace the matmul+argmax in
``infer`` with ``onnxruntime.InferenceSession.run`` on the same feature
tensor.
"""

from __future__ import annotations

import os

try:  # rule_keep (the fallback oracle) must import even without numpy
    import numpy as np
except ImportError:  # pragma: no cover — numpy is baked into the sandbox
    np = None

from manga_translator_spark.functions import load_weights

_WEIGHTS_FILE = "verdict_weights.npz"
# the file scripts/gen_verdict_weights.py writes
_WEIGHTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), _WEIGHTS_FILE)

# Keep rule the closed-form weights encode (and the fallback implements).
MIN_KEEP_LEN = 60
LEN_CLIP = 120
SENTENCE_END = (".", "!", "?")
FEATURE_NAMES = ("len_clip", "sentence_end")


def rule_keep(text: str) -> bool:
    """The verdict as a plain predicate — the no-numpy fallback and the
    property-test oracle the committed weights must reproduce exactly."""
    return len(text) >= MIN_KEEP_LEN and text.endswith(SENTENCE_END)


def build_features(texts: list[str]) -> np.ndarray:
    """(n,) patch texts -> (n, 2) float32 feature tensor."""
    n = len(texts)
    lens = np.fromiter((len(t) for t in texts), dtype=np.float32, count=n)
    ends = np.fromiter(
        (t.endswith(SENTENCE_END) for t in texts), dtype=np.float32, count=n
    )
    return np.stack([np.minimum(lens, float(LEN_CLIP)), ends], axis=1)


def build_weights() -> dict:
    """Closed-form decision-equivalent weights (proof in module docstring)."""
    w = np.zeros((2, 2), dtype=np.float32)
    b = np.zeros(2, dtype=np.float32)
    w[0, 1] = 1.0  # clipped length
    w[1, 1] = float(LEN_CLIP + 1)  # sentence-end indicator
    b[1] = -(MIN_KEEP_LEN + LEN_CLIP + 0.5)
    return {
        "weights": w,
        "bias": b,
        "features": np.array(FEATURE_NAMES),
        "len_clip": np.array(LEN_CLIP),
        "min_keep_len": np.array(MIN_KEEP_LEN),
    }


class PatchVerdictNet:
    """Fixed-weight linear keep/drop classifier over committed .npz weights."""

    def __init__(self):
        with load_weights(_WEIGHTS_FILE) as z:
            self.weights = z["weights"].astype(np.float32)  # (n_features, 2)
            self.bias = z["bias"].astype(np.float32)  # (2,)
            self.features = [str(f) for f in z["features"]]
        if self.weights.shape != (len(self.features), 2):
            raise ValueError("verdict weight shape mismatch")
        self.matmul_calls = 0  # instrumentation: one per batch

    def infer(self, texts: list[str]) -> np.ndarray:
        """Batch of patch texts -> (n,) bool keep verdicts via ONE matmul +
        argmax.  The onnxruntime drop-in point."""
        if not texts:
            return np.zeros(0, dtype=bool)
        x = build_features(texts)
        logits = x @ self.weights + self.bias  # (n, 2)
        self.matmul_calls += 1
        return np.argmax(logits, axis=1) == 1


# Per-worker singleton (reference: model loaded once per plugin instance).
_MODEL: PatchVerdictNet | None = None
LOAD_COUNT = 0


def get_verdict_model() -> PatchVerdictNet:
    global _MODEL, LOAD_COUNT
    if _MODEL is None:
        _MODEL = PatchVerdictNet()
        LOAD_COUNT += 1
    return _MODEL
