"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng(seed)`` only and
writes parquet with fixed writer settings, so one seed gives
byte-identical files. The library under test only ever sees the
written files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
N_SOURCES = 20
# Jan 2024, the window the CUPED stage splits at Jan 16.
T0_US = 1_704_067_200_000_000
SPAN_US = 30 * 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True, use_dictionary=True)


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws from keys ``0..n_keys-1``. ``s == 0`` is uniform;
    otherwise P(rank r) is proportional to r**-s over a finite support,
    with ranks shuffled onto ids so the hot keys are not the small ids."""
    if s == 0:
        return rng.integers(0, n_keys, size=n, dtype=np.int64)
    p = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
    ranks = rng.choice(n_keys, size=n, p=p / p.sum())
    return rng.permutation(n_keys).astype(np.int64)[ranks]


def events_table(seed: int, n: int, n_keys: int, s: float) -> pa.Table:
    """The ``events`` schema of the repo's test data: event_id, ts
    (strictly increasing, microseconds, no zone), user_id, event_type,
    value (2-decimal, exponential, mean 50), props."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, SPAN_US - n, size=n)) + np.arange(n) + T0_US
    users = zipf_keys(rng, n, n_keys, s)
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    value = np.round(rng.exponential(50.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {i}}}' for i in k]),
    })


def write_events(out_dir: str, seed: int, n: int, n_keys: int, s: float) -> str:
    path = os.path.join(out_dir, "events.parquet")
    _write(events_table(seed, n, n_keys, s), path)
    return path


def write_event_files(out_dir: str, table: pa.Table, n_files: int) -> list[str]:
    """Split ``table`` (already in event-time order) into ``n_files``
    consecutive ts ranges, one parquet file each, with strictly
    increasing modification times so a file source consumes them in
    event-time order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, ns=(1_700_000_000_000_000_000 + i * 10**9,) * 2)
        paths.append(path)
    return paths


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "si", "po", "de", "an",
           "ve", "tor", "ble", "sha", "qui", "zen", "mar", "lin", "dus", "ex"]
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(syl[j] for j in rng.integers(0, len(syl), rng.integers(1, 4))))
    return sorted(words)


def documents_table(seed: int, n: int, exact_share: float = 0.10,
                    near_share: float = 0.15) -> pa.Table:
    """``documents`` schema (doc_id, text, lang, source, n_chars):
    ``exact_share`` of docs are verbatim copies of another doc,
    ``near_share`` are copies with about 15% of the words dropped, and
    the rest are fresh Zipf-worded docs. About 1% carry a C4 doc-level
    blocklist marker and about 5% carry an e-mail address or phone
    number, so the cleaning and redaction stages have work to do."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(rng, 600))
    wp = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.05
    wp /= wp.sum()
    n_exact, n_near = int(n * exact_share), int(n * near_share)
    n_fresh = n - n_exact - n_near
    texts: list[str] = []
    for _ in range(n_fresh):
        words = vocab[rng.choice(len(vocab), size=int(rng.integers(8, 90)), p=wp)]
        r = rng.random()
        if r < 0.01:
            words = np.append(words, ["lorem", "ipsum"])
        elif r < 0.035:
            words = np.append(words, f"user{int(rng.integers(0, 10**6))}@mail.example.org")
        elif r < 0.06:
            words = np.append(words, f"+1 555 {int(rng.integers(1000000, 9999999))}")
        texts.append(" ".join(words))
    for i in rng.integers(0, n_fresh, size=n_exact):
        texts.append(texts[i])
    for i in rng.integers(0, n_fresh, size=n_near):
        words = texts[i].split(" ")
        keep = rng.random(len(words)) >= 0.15
        keep[0] = True
        texts.append(" ".join(w for w, k in zip(words, keep) if k))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    lang = rng.integers(0, len(LANGS), size=n)
    src = rng.integers(0, N_SOURCES, size=n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in lang]),
        "source": pa.array([f"src{i}" for i in src]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_documents(out_dir: str, seed: int, n: int) -> str:
    path = os.path.join(out_dir, "documents.parquet")
    _write(documents_table(seed, n), path)
    return path


def files_hash(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
