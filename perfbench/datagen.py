"""Seeded input generators for the benchmark.

Two families, both deterministic in ``seed``:

- :func:`write_llm_tables` writes the two tables the LLM-data queries
  read, ``documents`` and ``embeddings``, with the schemas and value
  domains of the catalog (FIXTURES.md §B) at any row count. About 5% of
  the documents are near-duplicates of an earlier one (the same text
  plus a trailing ``dup`` token), which is what the dedup queries look
  for.
- :func:`daily_market` builds the reference-shaped long tables of
  FIXTURES.md §A (prices, holdings, shares_outstanding, a market
  calendar) as pandas frames.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
EMB_LABELS = 10

# SPDR sector symbols (reference config/spdr_sectors.txt)
SECTORS = ["xlb", "xlc", "xle", "xlf", "xli", "xlk", "xlp", "xlre", "xlu", "xlv", "xly"]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array([w for w in VOCAB])
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 0.15, (EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, n)
    vec = centroids[label] + rng.normal(0.0, 1.0, (n, EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": label.astype(np.int32),
        }
    )


def write_llm_tables(out_dir: Path, n_documents: int, n_embeddings: int, seed: int) -> None:
    """Write ``documents`` and ``embeddings`` as ``{out_dir}/{table}.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    docs = _documents(np.random.default_rng([seed, 0]), n_documents)
    emb = _embeddings(np.random.default_rng([seed, 1]), n_embeddings)
    pq.write_table(docs, out_dir / "documents.parquet")
    pq.write_table(emb, out_dir / "embeddings.parquet")


def daily_market(seed: int, per_sector: list[int], history_days: int, new_days: int) -> dict:
    """FIXTURES.md §A tables over ``history_days + new_days`` consecutive
    weekdays. Sector ``SECTORS[i]`` holds ``per_sector[i]`` tickers and
    every ticker belongs to one sector; the last ``new_days`` weekdays
    are the ones the pipeline ingests one at a time.

    Returns pandas frames: ``prices`` (date, ticker, open, high, low,
    close, volume; money as 2-decimal floats), ``holdings`` (date,
    sector, ticker, weight, shares_held), ``shares_outstanding`` (date,
    sector, shares_outstanding), ``market_days`` (date), and the sorted
    lists ``days`` and ``tickers``."""
    rng = np.random.default_rng(seed)
    days = pd.bdate_range("2024-01-02", periods=history_days + new_days).date
    n_tickers = sum(per_sector)
    tickers = [f"t{i:03d}" for i in range(n_tickers)]
    sector_of = dict(zip(tickers, (s for s, n in zip(SECTORS, per_sector) for _ in range(n))))

    steps = rng.normal(0.0, 0.02, (len(days), n_tickers))
    close = rng.uniform(20.0, 400.0, n_tickers) * np.exp(np.cumsum(steps, axis=0))
    close = np.round(np.clip(close, 5.0, 600.0), 2)
    spread = np.round(close * rng.uniform(0.0, 0.03, close.shape), 2)
    prices = pd.DataFrame(
        {
            "date": np.repeat(days, n_tickers),
            "ticker": np.tile(tickers, len(days)),
            "open": (close - spread / 2).round(2).ravel(),
            "high": (close + spread).round(2).ravel(),
            "low": (close - spread).round(2).ravel(),
            "close": close.ravel(),
            "volume": rng.integers(100_000, 100_000_000, close.size),
        }
    )
    held = rng.integers(100_000, 10_000_000, n_tickers)
    drift = rng.integers(-5_000, 5_000, (len(days), n_tickers))
    shares_held = np.maximum(100_000, held + np.cumsum(drift, axis=0))
    holdings = pd.DataFrame(
        {
            "date": np.repeat(days, n_tickers),
            "sector": [sector_of[t] for t in tickers] * len(days),
            "ticker": np.tile(tickers, len(days)),
            "weight": np.round(rng.uniform(0.0, 0.2, shares_held.size), 6),
            "shares_held": shares_held.ravel(),
        }
    )
    base_out = rng.integers(10_000_000, 1_000_000_000, len(SECTORS))
    outstanding = pd.DataFrame(
        {
            "date": np.repeat(days, len(SECTORS)),
            "sector": SECTORS * len(days),
            "shares_outstanding": np.tile(base_out, len(days))
            + rng.integers(0, 1_000_000, len(days) * len(SECTORS)),
        }
    )
    return {
        "prices": prices,
        "holdings": holdings,
        "shares_outstanding": outstanding,
        "market_days": pd.DataFrame({"date": days}),
        "days": list(days),
        "tickers": tickers,
    }
