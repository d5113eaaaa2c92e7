"""Deterministic hashing embedder (U1/U2) — the engine's stand-in for
graphiti's network embedder clients.

Reference surface mirrored: EmbedderClient.create with fixed
EMBEDDING_DIM = 1024 (/root/reference/graphiti_core/embedder/client.py:22-34)
and the newline-flattening call sites node.generate_name_embedding /
edge.generate_embedding (/root/reference/graphiti_core/nodes.py:262-269,
edges.py:199-208).

Design: feature-hashed byte 3-gram counts -> signed hashing trick ->
L2 normalization. Pure numpy — the whole batch is one concatenated byte
buffer, trigram windows are three shifted views of it, and the scatter
into the (n, dim) matrix is a single bincount; there is no per-string or
per-ngram Python loop (the Arrow batch IS the vectorization unit).
Two strings with shared 3-grams get high cosine — which is the property
entity resolution and similarity search rely on.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

EMBEDDING_DIM = 1024  # embedder/client.py:22

_MIX_A = np.int64(2654435761)  # Knuth multiplicative hash
_MIX_B = np.int64(1013904223)
_MASK32 = np.int64(0xFFFFFFFF)


def embed_texts(texts) -> np.ndarray:
    """Vectorized over a sequence of strings -> (n, EMBEDDING_DIM) float32,
    L2-normalized rows. Deterministic multiplicative feature hashing of
    byte trigrams of '^' + lower(text) + '$' (newlines flattened per
    nodes.py:264); sign from hash bit 16."""
    n, dim = len(texts), EMBEDDING_DIM
    out = np.zeros((n, dim), dtype=np.float64)
    if n == 0:
        return out.astype(np.float32)
    encoded = [
        ("^" + (t or "").lower().replace("\n", " ") + "$").encode("utf-8")
        for t in texts
    ]
    lens = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=n)
    buf = np.frombuffer(b"".join(encoded), dtype=np.uint8).astype(np.int64)
    # trigram value = 3 consecutive bytes as a 24-bit int; windows that
    # would cross a string boundary are masked out via the row index
    n_win = lens - 2  # every encoded string has >= 2 bytes ('^$')
    n_win = np.maximum(n_win, 0)
    row = np.repeat(np.arange(n), n_win)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # absolute window start positions: starts[i] + [0..n_win[i])
    pos = np.arange(len(row)) - np.repeat(
        np.cumsum(n_win) - n_win, n_win
    ) + np.repeat(starts, n_win)
    v = buf[pos] * 65536 + buf[pos + 1] * 256 + buf[pos + 2]
    h = (v * _MIX_A + _MIX_B) & _MASK32
    idx = h % dim
    sign = 1.0 - 2.0 * ((h >> 16) & 1)
    out = np.bincount(
        row * dim + idx, weights=sign, minlength=n * dim
    ).astype(np.float64, copy=False).reshape(n, dim)
    out[n_win == 0, 0] = 1.0  # degenerate empties keep a unit direction
    # einsum, not np.linalg.norm: norm's first call pays a ~2s lazy BLAS
    # threadpool init per Python worker process
    norms = np.sqrt(np.einsum("ij,ij->i", out, out))[:, None]
    norms[norms == 0] = 1.0
    out /= norms
    return out.astype(np.float32)


def embed_series(s: pd.Series) -> pd.Series:
    vecs = embed_texts(s.fillna("").tolist())
    return pd.Series(list(vecs), index=s.index)


def with_embedding(df, text_col: str, out_col: str):
    """Adds an ArrayType(Float) embedding column via mapInPandas (Arrow
    batches; one numpy pass per batch)."""
    from pyspark.sql import types as T

    # fresh StructType — StructType.add mutates in place, which would
    # corrupt the source DataFrame's cached schema
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = embed_series(pdf[text_col])
            yield pdf

    return df.mapInPandas(gen, schema=schema)
