"""Seeded input generator for the benchmark workloads.

The engine synthesizes its page corpus as a pure function of a
`documents.parquet` table (doc_id, text, lang, source, n_chars); see
`graphiti_spark/sources/pages.py`. This module writes that table, and
nothing the engine itself computes, so the program under test receives
only generated files.

Base documents are synthesized with the schema and value domains of the
engine's test corpus: `BASE_DOCS` rows of 30-word noise text, five
languages, 20 sources. A workload then samples doc ids, with `--seed`,
from the id range the engine's replicate path produces for
`replicate=REPLICATE` (`doc_id * REPLICATE + r`), and every sampled id
carries the text, lang and source of its base document, exactly as
`build_pages(..., replicate=REPLICATE)` would. The same seed gives the
same files, byte for byte.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 5000
REPLICATE = 10
ID_RANGE = BASE_DOCS * REPLICATE

_BASE_SEED = 20240101  # fixed: the base corpus is the same for every seed
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def base_documents() -> dict[str, np.ndarray]:
    """The fixed base corpus, column by column, indexed by base doc id."""
    rng = np.random.Generator(np.random.PCG64(_BASE_SEED))
    n_words = rng.integers(8, 96, size=BASE_DOCS)
    words = np.array(_WORDS)
    text = np.array(
        [" ".join(words[rng.integers(0, len(words), size=k)]) for k in n_words],
        dtype=object,
    )
    lang = np.array(_LANGS, dtype=object)[
        rng.choice(len(_LANGS), size=BASE_DOCS, p=_LANG_P)
    ]
    source = np.array([f"src{i % 20}" for i in range(BASE_DOCS)], dtype=object)
    return {"text": text, "lang": lang, "source": source}


def sample_ids(seed: int, n: int) -> np.ndarray:
    """`n` distinct doc ids from the replicate range, in seeded order."""
    if not 0 < n <= ID_RANGE:
        raise ValueError(f"cannot sample {n} distinct doc ids from {ID_RANGE}")
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.choice(ID_RANGE, size=n, replace=False).astype(np.int64)


def write_documents(out_dir: str, doc_ids: np.ndarray) -> str:
    """documents.parquet for `doc_ids` (sorted), in the engine's input
    schema; returns the directory the engine reads it from."""
    os.makedirs(out_dir, exist_ok=True)
    base = base_documents()
    ids = np.sort(doc_ids)
    b = ids // REPLICATE
    text = base["text"][b]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(text.tolist(), pa.string()),
            "lang": pa.array(base["lang"][b].tolist(), pa.string()),
            "source": pa.array(base["source"][b].tolist(), pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


def split_batches(doc_ids: np.ndarray, n_batches: int, batch_size: int):
    """Seeded order -> (standing ids, [batch ids, ...]): the last
    `n_batches * batch_size` sampled ids form the merge batches."""
    cut = len(doc_ids) - n_batches * batch_size
    if cut <= 0:
        raise ValueError("batches leave no standing corpus")
    batches = [
        doc_ids[cut + i * batch_size: cut + (i + 1) * batch_size]
        for i in range(n_batches)
    ]
    return doc_ids[:cut], batches


def make_queries(seed: int, n_calls: int, per_call: int) -> list[list[str]]:
    """Seeded search queries: an entity surface form of the corpus (person,
    organization or place) joined with relation and noise words, so both
    the fulltext and the embedding retrievers find candidates."""
    from graphiti_spark import corpus

    rng = np.random.Generator(np.random.PCG64(seed + 1))
    names = list(corpus.PERSONS) + list(corpus.ORGS) + list(corpus.PLACES)
    rel = ["works at", "based in", "moved to", "visited", "has led", "likes"]
    calls = []
    for _ in range(n_calls):
        qs = []
        for _ in range(per_call):
            parts = [names[rng.integers(len(names))], rel[rng.integers(len(rel))]]
            if rng.random() < 0.5:
                parts.append(names[rng.integers(len(names))])
            parts.append(_WORDS[rng.integers(len(_WORDS))])
            qs.append(" ".join(parts))
        calls.append(qs)
    return calls


def write_manifest(out_dir: str, manifest: dict) -> None:
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
