"""Word-vector model with a lazy per-executor load (SURVEY §2.4 A8).

The reference loads a spaCy model inside its Celery workers, sharing it
copy-on-write across forked processes (``models/word_vector_models.py:1-11``,
``models/__init__.py:5-19``), and sketches a column's word vectors with
it. The Spark equivalent of that pattern is a module-level lazy
singleton: each Python worker loads the model once, every Arrow batch of
the column-sketch word-vector UDFs
(:mod:`findopendata_spark.sketch.column_sketch`) reuses it.

spaCy isn't in this container, so the model is pluggable:
``_load_model()`` returns the real pipeline when importable, else a
deterministic hash-vector stand-in (clearly marked) that preserves the
dataflow — vector dimension, token iteration, OOV accounting — so tests
exercise the real Spark plumbing and a deployment only swaps the loader.
"""

from __future__ import annotations

import numpy as np

VEC_DIM = 16
_MODEL = None  # per-executor lazy singleton (one load per Python worker)


class _HashVectorModel:
    """Deterministic stand-in: token vector = splitmix64-seeded floats;
    tokens shorter than 3 chars count as out-of-vocabulary (a fixed,
    documented rule so oov accounting is testable)."""

    def vectors(self, tokens: list[str]) -> tuple[np.ndarray, int]:
        """Per-token vectors for one value (scalar API over the same
        vectorized kernel the column-sketch batch path calls)."""
        toks = np.asarray(tokens, dtype=object)
        if len(toks) == 0:
            return np.zeros((0, VEC_DIM), dtype=np.float32), 0
        vecs, ok = self._token_vectors(toks)
        return vecs, int((~ok).sum())

    @staticmethod
    def _token_vectors(tokens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(in-vocab token vectors, in-vocab mask) — fully vectorized:
        utf-8 encode via np.char, truncate/NUL-pad to 8 bytes with
        astype('S8') (byte-equal to ``t.encode()[:8].ljust(8, b'\\0')``),
        one splitmix64 sweep over the (n, VEC_DIM) seed grid."""
        from findopendata_spark.crawler.graph import splitmix64

        u = tokens.astype("U")
        ok = np.char.str_len(u) >= 3
        if not ok.any():
            return np.zeros((0, VEC_DIM), dtype=np.float32), ok
        enc = np.char.encode(u[ok], "utf-8").astype("S8")
        seeds = np.frombuffer(
            np.ascontiguousarray(enc).tobytes(), dtype=np.uint64
        )
        grid = seeds[:, None] + np.arange(VEC_DIM, dtype=np.uint64)[None, :]
        with np.errstate(over="ignore"):
            base = splitmix64(grid)
        return (base.astype(np.float64) / 2**64).astype(np.float32), ok


def _load_model():
    global _MODEL
    if _MODEL is None:
        try:  # real pipeline when available (not in this container)
            import spacy  # noqa: F401

            _MODEL = spacy.load("en_core_web_md")  # pragma: no cover
        except Exception:  # noqa: BLE001
            _MODEL = _HashVectorModel()
    return _MODEL
