"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng`` seeded with the run's
``--seed`` (plus a fixed per-table salt), so one seed always yields the same
tables byte for byte. Tables follow the fixture schema the engine reads
(``events``, ``documents``, ``embeddings``); probe streams are arrays and
lists the workloads feed to the engine's public functions.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the fixture tables (TESTDATA.md / FIXTURES.md).
EVENTS_ROWS = 100_000
DOCS_ROWS = 5_000
EMB_ROWS = 2_000
EMB_DIM = 64
EMB_LABELS = 10
EMB_NOISE = 0.08  # per-dimension spread round a centre (cosine to it ~0.8)

EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
# the fixture documents' bag-of-words vocabulary, plus a seeded long tail so
# BM25 probes see realistic term rarity
COMMON_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
TAIL_WORDS = [f"t{i:03d}x" for i in range(400)]

_SALT = {"events": 1, "docs": 2, "emb": 3, "probe": 4, "mix": 5, "dups": 6}


def rng_for(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), _SALT[table]])


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    return path


# ── tables ──────────────────────────────────────────────────────────────────

def events_table(seed: int, n: int = EVENTS_ROWS) -> pa.Table:
    """``events`` in the fixture schema: ids in order, timestamps spread
    over 30 days from 2024-01-01, values rounded to cents."""
    rng = rng_for(seed, "events")
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start_us
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _doc_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(12, 80))
    common = rng.random(n) < 0.7
    words = [
        COMMON_WORDS[int(rng.integers(0, len(COMMON_WORDS)))]
        if c
        else TAIL_WORDS[min(int(rng.zipf(1.3)) - 1, len(TAIL_WORDS) - 1)]
        for c in common
    ]
    return " ".join(words)


def _docs_table(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids.astype(np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def documents_table(seed: int, n: int = DOCS_ROWS) -> pa.Table:
    rng = rng_for(seed, "docs")
    return _docs_table(np.arange(n), [_doc_text(rng) for _ in range(n)], rng)


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def embedding_centers(seed: int) -> np.ndarray:
    return _unit(rng_for(seed, "emb").standard_normal((EMB_LABELS, EMB_DIM)))


def embeddings_table(seed: int, n: int = EMB_ROWS, id0: int = 0, salt: int = 0) -> pa.Table:
    """Unit vectors clustered round ``EMB_LABELS`` seeded centres (label =
    centre), float32 like the fixture."""
    centers = embedding_centers(seed)
    rng = np.random.default_rng([int(seed), _SALT["emb"], 1 + salt])
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = _unit(centers[labels] + EMB_NOISE * rng.standard_normal((n, EMB_DIM)))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


# ── probe streams ─────────────────────────────────────────────────────────

def probe_queries(seed: int, n: int, n_terms: int = 4) -> tuple[np.ndarray, list[str]]:
    """index_serve reads: ``n`` query vectors near the seeded centres and
    ``n`` BM25 query strings of ``n_terms`` distinct fixture-vocabulary
    words, the shape of the engine's registered BM25 query
    (``plans.llmdata.BM25_QUERY``, "spark table merge window")."""
    rng = rng_for(seed, "probe")
    centers = embedding_centers(seed)
    qv = _unit(centers[rng.integers(0, EMB_LABELS, n)] + EMB_NOISE * rng.standard_normal((n, EMB_DIM)))
    terms = [
        " ".join(COMMON_WORDS[int(j)] for j in rng.choice(len(COMMON_WORDS), n_terms, replace=False))
        for _ in range(n)
    ]
    return qv.astype(np.float32), terms


def curation_tables(seed: int, n: int, dup_share: float) -> tuple[pa.Table, pa.Table]:
    """(history, delta) for the curation step: ``documents`` rows split like
    the engine's registered ``curate_increment`` plan (``doc_id % 3 != 0``
    is history, the rest the arriving delta). In the delta a seeded
    ``dup_share`` of rows become exact copies of a history text and as many
    again near copies (one word of a history text replaced)."""
    docs = documents_table(seed, n)
    ids = docs.column("doc_id").to_numpy()
    hist_rows = np.nonzero(ids % 3 != 0)[0]
    delta_rows = np.nonzero(ids % 3 == 0)[0]
    texts = docs.column("text").to_pylist()
    rng = rng_for(seed, "dups")
    n_dup = int(round(dup_share * len(delta_rows)))
    picked = rng.choice(len(delta_rows), 2 * n_dup, replace=False)
    sources = rng.choice(hist_rows, 2 * n_dup, replace=False)
    for j, (d, h) in enumerate(zip(picked, sources)):
        words = texts[h].split(" ")
        if j >= n_dup:  # near copy
            words[int(rng.integers(0, len(words)))] = COMMON_WORDS[int(rng.integers(0, len(COMMON_WORDS)))]
        texts[delta_rows[d]] = " ".join(words)
    docs = docs.set_column(docs.column_names.index("text"), "text", pa.array(texts))
    docs = docs.set_column(
        docs.column_names.index("n_chars"), "n_chars", pa.array(np.array([len(t) for t in texts], dtype=np.int64))
    )
    return docs.take(hist_rows), docs.take(delta_rows)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    return {name: _write(t, os.path.join(out_dir, f"{name}.parquet")) for name, t in tables.items()}

