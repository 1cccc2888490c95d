"""Seeded input generators for the benchmark, and the open-loop load generator.

Everything the engine reads is produced here from ``--seed``; the engine only
ever sees the written log or corpus.

* :func:`events` draws the event stream of the streaming workload: Zipf-
  skewed keys, JSON values, a share of out-of-order events inside the
  watermark and a smaller share of late events far beyond it.
* :func:`documents` draws the curation corpus with the distribution of
  ``tools/gen_scale_data.py --vocab zipf:N`` (10..100 tokens per document,
  Zipf(1.07) vocabulary, five languages, twenty sources, 5% near-duplicate
  copies). Words are spelled with letters only: the tool's ``w000123``
  spelling is mostly digits, which lowers the quality score's alphabetic
  ratio so far that the pipeline's 0.65 quality filter drops nearly every
  document.

Importing this module starts nothing and needs no Spark.
"""

from __future__ import annotations

import numpy as np

# traffic dimensions of the event stream
N_KEYS = 50
KEY_ZIPF_S = 1.1
PARTITIONS = 3
WINDOW_MS = 100  # event-time tumbling window
EVENT_STEP_MS = 0.25  # event-time distance between consecutive events
OOO_SHARE = 0.10  # out of order, by at most OOO_MAX_MS (inside the watermark)
OOO_MAX_MS = 50
LATE_SHARE = 0.01  # each alone in a window long closed (beyond the watermark)


def key_weight(rank: int) -> int:
    """The dimension table's per-key weight (the ``join_table`` side)."""
    return rank % 5 + 1


def _zipf_ranks(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=n, p=p / p.sum())


def events(seed: int, n: int, t0_ms: int):
    """Draw ``n`` events. Returns a dict of numpy arrays: ``id``, ``rank``
    (key rank), ``part``, ``v`` (integer value), ``ts`` (event time, ms) and
    ``kind`` (0 on time, 1 out of order, 2 late).

    Event time advances ``EVENT_STEP_MS`` per event from ``t0_ms``. A late
    event gets a window of its own far before ``t0_ms`` (one per late event),
    so it is late however the engine batches it and its expected pane does not
    depend on arrival timing."""
    rng = np.random.default_rng(seed)
    rank = _zipf_ranks(rng, n, N_KEYS, KEY_ZIPF_S)
    v = rng.integers(1, 1000, size=n)
    u = rng.random(n)
    kind = np.where(u < LATE_SHARE, 2, np.where(u < LATE_SHARE + OOO_SHARE, 1, 0))
    idx = np.arange(n)
    ts = t0_ms + (idx * EVENT_STEP_MS).astype(np.int64)
    jitter = rng.integers(1, OOO_MAX_MS + 1, size=n)
    ts = np.where(kind == 1, ts - jitter, ts)
    # late: window index -(1000 + id) relative to t0, unique per event
    late_ts = t0_ms - (1000 + idx) * WINDOW_MS + WINDOW_MS // 2
    ts = np.where(kind == 2, late_ts, ts)
    return {
        "id": idx,
        "rank": rank,
        "part": rank % PARTITIONS,
        "v": v,
        "ts": ts.astype(np.int64),
        "kind": kind,
    }


def log_records(ev: dict) -> dict[int, list[tuple]]:
    """Per-partition ``(key, value, timestamp_ms)`` records for
    ``append_records``."""
    out: dict[int, list[tuple]] = {}
    for i, r, p, v, ts in zip(
        ev["id"].tolist(), ev["rank"].tolist(), ev["part"].tolist(),
        ev["v"].tolist(), ev["ts"].tolist(),
    ):
        out.setdefault(p, []).append((f"k{r:04d}", f'{{"id":{i},"v":{v}}}', ts))
    return out


def write_log(log_dir: str, ev: dict) -> None:
    from samza_spark.sources.log_datasource import append_records

    for p, recs in sorted(log_records(ev).items()):
        append_records(log_dir, p, recs)


# -- documents -----------------------------------------------------------------

VOCAB_WORDS = 20_000
VOCAB_ZIPF_S = 1.07
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(n_words: int) -> np.ndarray:
    """Distinct all-letter words, a bijective base-26 spelling of the rank."""
    words = []
    for i in range(n_words):
        k, w = i + 26 * 26, []
        while k:
            k, r = divmod(k - 1, 26)
            w.append(_LETTERS[r])
        words.append("".join(reversed(w)))
    return np.array(words)


def documents(seed: int, n: int) -> dict:
    """Draw ``n`` documents (columns of the ``documents`` table). Document i
    depends only on the seed and the documents before it, so the first m
    documents of a corpus are the corpus of size m."""
    rng = np.random.default_rng([seed, 7])
    vocab = _vocab(VOCAB_WORDS)
    p = 1.0 / np.arange(1, VOCAB_WORDS + 1) ** VOCAB_ZIPF_S
    cdf = np.cumsum(p / p.sum())
    texts: list[str] = []
    langs, sources = [], []
    for _ in range(n):
        length, dup, pick, lang, src = (
            int(rng.integers(10, 101)), rng.random() < 0.05,
            rng.random(), rng.random(), int(rng.integers(0, 20)),
        )
        if dup and texts:
            texts.append(texts[int(pick * len(texts))] + " dup")
        else:
            draws = np.searchsorted(cdf, rng.random(length), side="right")
            texts.append(" ".join(vocab[np.minimum(draws, VOCAB_WORDS - 1)]))
        langs.append(LANGS[int(np.searchsorted(np.cumsum(LANG_P), lang, side="right"))])
        sources.append(f"src{src}")
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_documents(path: str, docs: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({k: pa.array(v) for k, v in docs.items()}), path)
