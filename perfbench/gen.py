"""Seeded benchmark inputs: gas-sensor day CSVs and panel op sequences.

Every generator takes a ``numpy.random.Generator`` derived from the run's
``--seed`` through :func:`rng`, so one seed always yields the same bytes
and the same op sequence, and the program under test only ever sees the
generated files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

#: CSV header of the reference's wide day files (the 19 field labels are
#: the program's own ``gas_csv.FIELD_LABELS`` values, in column order).
FIELDS = (
    "CO (ppm)",
    "Humidity (%r.h.)",
    "Temperature (C)",
    "Flow rate (mL/min)",
    "Heater voltage (V)",
    *(f"R{i} (MOhm)" for i in range(1, 15)),
)
FIRST_DAY = dt.date(2016, 10, 1)
WINDOWS = ("1m", "5m", "15m", "1h")
WINDOW_S = {"1m": 60, "5m": 300, "15m": 900, "1h": 3600}

def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def day_name(day: dt.date) -> str:
    return f"{day:%Y%m%d}_000000.csv"


def gas_day(seed: int, day_index: int, rows: int) -> pd.DataFrame:
    """One wide day file: ``rows`` samples spread over 86 000 s at whole
    seconds, 19 fields with two decimals (exact under the engine's decimal
    means)."""
    g = rng(seed, 1, day_index)
    # whole seconds: the ingest truncates the offset to microseconds, so an
    # offset a double holds exactly keeps every reference check exact
    data = {"Time (s)": np.floor(np.arange(rows) * (86000.0 / rows))}
    for j, name in enumerate(FIELDS):
        data[name] = np.round(g.normal(10 + j, 3, rows), 2)
    return pd.DataFrame(data)


def write_gas_day(directory: str, seed: int, day_index: int, rows: int) -> str:
    """Write day ``day_index`` (0 = FIRST_DAY) and return its path. The
    write goes through a dot-file and a rename, so a watching stream never
    sees a partial file."""
    day = FIRST_DAY + dt.timedelta(days=day_index)
    path = os.path.join(directory, day_name(day))
    tmp = os.path.join(directory, "." + day_name(day) + ".tmp")
    gas_day(seed, day_index, rows).to_csv(tmp, index=False)
    os.rename(tmp, path)
    return path


def panel_ops(seed: int, n_days: int, shapes: dict[str, tuple[str, int]]):
    """Endless seeded sequence of dashboard refreshes (template, params).

    Each cycle refreshes every template once, in a seeded order. A
    template always runs with its own window and range length from
    ``shapes``, so every seed measures the same per-template cost; the
    seed decides the order, the field and where each range starts.
    """
    g = rng(seed, 2)
    names = tuple(shapes)
    while True:
        for k in g.permutation(len(names)):
            template = names[int(k)]
            window, span = shapes[template]
            # the join overlay compares a range with the one before it
            lo = span if template == "flux_join_overlay" else 0
            yield template, {
                "field": FIELDS[int(g.integers(len(FIELDS)))],
                "start_day": int(g.integers(lo, n_days - span + 1)),
                "days": span,
                "window": window,
            }


#: the documents table's vocabulary and languages (the shape of the
#: sf-style corpus the curation queries read)
VOCAB = (
    "the", "a", "spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "agg", "key", "query", "scan", "batch",
)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBED_DIM = 64
#: planted duplicates per shard, as shares of its documents
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05


def curation_shard(seed: int, index: int, n_docs: int):
    """Shard ``index``: (documents, embeddings, planted near-duplicate
    pairs). Documents are 10-100 words; a planted exact duplicate copies
    an earlier text, a planted near duplicate copies an earlier text of at
    least 30 words with one word replaced (3-shingle Jaccard at least
    25/31), and its embedding is the original's plus small noise."""
    g = rng(seed, 3, index)
    vocab = np.array(VOCAB)
    words = [list(vocab[g.integers(len(VOCAB), size=int(g.integers(10, 101)))])
             for _ in range(n_docs)]
    vecs = g.normal(size=(n_docs, EMBED_DIM))
    near = []
    n_exact, n_near = int(n_docs * EXACT_SHARE), int(n_docs * NEAR_SHARE)
    targets = g.permutation(np.arange(n_docs // 2, n_docs))[: n_exact + n_near]
    for k, t in enumerate(int(x) for x in targets):
        candidates = [s for s in range(n_docs // 2) if k < n_exact or len(words[s]) >= 30]
        s = candidates[int(g.integers(len(candidates)))]
        words[t] = list(words[s])
        vecs[t] = vecs[s] + g.normal(scale=0.05, size=EMBED_DIM)
        if k >= n_exact:
            j = int(g.integers(len(words[t])))
            words[t][j] = VOCAB[(VOCAB.index(words[t][j]) + 1 + int(g.integers(len(VOCAB) - 1)))
                                % len(VOCAB)]
            near.append((min(s, t), max(s, t)))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    texts = [" ".join(w) for w in words]
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": g.choice(np.array(LANGS), size=n_docs, p=LANG_P),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": g.integers(10, size=n_docs).astype(np.int32),
    })
    return docs, emb, sorted(near)


def write_shard(directory: str, seed: int, index: int, n_docs: int):
    """Write shard ``index`` as an sf-style directory (``documents.parquet``,
    ``embeddings.parquet``); return its path and planted near pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, emb, near = curation_shard(seed, index, n_docs)
    path = os.path.join(directory, f"shard{index:04d}")
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(path, "documents.parquet"))
    emb_table = pa.table({
        "vec_id": pa.array(emb["vec_id"]),
        "embedding": pa.array(list(emb["embedding"]), type=pa.list_(pa.float32())),
        "label": pa.array(emb["label"]),
    })
    pq.write_table(emb_table, os.path.join(path, "embeddings.parquet"))
    return path, near
