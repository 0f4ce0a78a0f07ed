"""Seeded input generator for every benchmark workload.

The program under test only ever sees the files written here. Each
generator is a pure function of its seed and a frozen ``Props`` record, so
one seed gives byte-identical inputs; ``digest`` hashes the written files
so a run can prove it.

Table inputs (``write_tables``) form an sf-dir shaped set
(``events``/``documents``/``embeddings`` parquet with the testdata
schema). They keep every assumption documented above ``_BASE_CTE`` in
``__spark_entry__.py``, which the DuckDB oracles need to stay exact:

- ``events.props`` is a one-key JSON object ``{"k": <int>}``;
- ``event_id``/``user_id`` are non-negative, and ``event_id`` stays below
  10**12 so the tokens table's 12-digit ``doc_id`` keeps it whole;
- ``event_type`` and tags hold no newlines or regex metacharacters;
- ``value`` is a finite double.

Log rows (``log_line``) are a seeded mix of JSON, regex-format and
corrupt lines.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
LANGS = ["en", "de", "es", "fr", "zh"]
LEVELS = ["DEBUG", "INFO", "WARN", "ERROR"]
EMB_DIM = 64
TAGS = ["app.web", "app.api", "sys.auth", "db.query", "app.batch", "sys.cron"]


@dataclass(frozen=True)
class Props:
    """The input properties a workload varies."""

    n_events: int = 0
    n_docs: int = 0
    n_vectors: int = 0
    zipf_s: float = 1.2  # user / event-type skew exponent
    corrupt_share: float = 0.05
    regex_share: float = 0.3
    near_dup_share: float = 0.1
    vocab_size: int = 60
    n_clusters: int = 8


def _zipf_weights(n: int, s: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf weights over ``n`` items, in a seeded order."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.permutation(w / w.sum())


def _events(p: Props, rng: np.random.Generator) -> pa.Table:
    n = p.n_events
    # non-contiguous ids below 10**12: the tokens synthesized from them
    # change with the seed
    ids = np.sort(rng.choice(10**12, size=n, replace=False)).astype(np.int64)
    users = rng.zipf(1.0 + p.zipf_s, size=n).astype(np.int64) % 1000
    types = np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), size=n, p=_zipf_weights(len(EVENT_TYPES), p.zipf_s, rng))]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 86_400_000_000, size=n)
    ).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types.tolist(), pa.string()),
            "value": pa.array(np.round(rng.uniform(0, 500, size=n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
        }
    )


def _documents(p: Props, rng: np.random.Generator) -> pa.Table:
    vocab = np.array([f"w{i:03d}" for i in range(p.vocab_size)])
    texts: list[str] = []
    for i in range(p.n_docs):
        if i > 0 and rng.random() < p.near_dup_share:
            # near duplicate: copy an earlier doc, change one word in ten
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.choice(len(words), size=max(1, len(words) // 10), replace=False):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = vocab[rng.integers(0, len(vocab), size=int(rng.integers(20, 80)))].tolist()
        texts.append(" ".join(words))
    ids = np.arange(p.n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), size=p.n_docs)], pa.string()),
            "source": pa.array([f"src{i % 10}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(p: Props, rng: np.random.Generator) -> pa.Table:
    n = p.n_vectors
    centers = rng.standard_normal((p.n_clusters, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, p.n_clusters, size=n)
    # loose clusters: members share ~10% of their direction, so only the
    # seeded near duplicates clear the dedup cosine threshold
    vecs = 0.33 * centers[labels] + rng.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM)
    dups = np.flatnonzero(rng.random(n) < p.near_dup_share)
    dups = dups[dups > 0]
    src = (rng.random(len(dups)) * dups).astype(int)
    vecs[dups] = vecs[src] + 0.05 * rng.standard_normal((len(dups), EMB_DIM)) / np.sqrt(EMB_DIM)
    labels[dups] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, p: Props) -> None:
    """The sf-dir shaped set: events, documents and embeddings parquet."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, build in (("events", _events), ("documents", _documents), ("embeddings", _embeddings)):
        pq.write_table(build(p, rng), os.path.join(out_dir, f"{name}.parquet"))


def log_line(rng: np.random.Generator, p: Props) -> str:
    """One log line: JSON, regex-format or corrupt, in the seeded mix."""
    r = rng.random()
    level = LEVELS[int(rng.integers(0, len(LEVELS)))]
    uid, rid = int(rng.integers(0, 10_000)), int(rng.integers(0, 1_000_000))
    if r < p.corrupt_share:
        return '{"level": "' + level if rng.random() < 0.5 else f"{level} id=x{rid}"
    if r < p.corrupt_share + p.regex_share:
        return f"{level} id={rid} user={uid}"
    return json.dumps({"level": level.lower(), "user": uid, "req": rid, "msg": f"m{rid % 97}"})


def digest(paths: list[str]) -> str:
    """sha256 over the named files (or every file under named dirs)."""
    h = hashlib.sha256()
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs]
        else:
            files.append(p)
    for f in sorted(files):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def props_dict(p: Props) -> dict:
    return {k: v for k, v in asdict(p).items() if v}
