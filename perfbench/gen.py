"""Seeded input generator shared by every perfbench workload.

The program under test only ever sees generated input: document ids,
sessions and timestamps are explicit, so ``TopicStore`` never mints a
``time.time()`` stamp or a random id inside a timed region, and the same
seed always gives the same inputs.

A snapshot document is what a robot capture stores::

    {"_id": 24 hex, "_ts_meta": {"session", "sys_time", "ros_time"},
     "seq": int, "label": str,
     "robot": {"pose": {"x", "y", "theta"}, "battery": float},
     "scan": [float] * SCAN_LEN, "payload": bytes | None}

Ids and session ids are ObjectId-shaped: their first 8 hex digits are the
creation second, so ``get_unique_sessions`` derives real times from them.
"""

from __future__ import annotations

import json
import os

import numpy as np

T0 = 1_600_000_000  # capture epoch of every generated document
DOC_PERIOD_S = 0.05  # one snapshot every 50 ms of capture time
SCAN_LEN = 8
LABELS = ("idle", "moving", "docking", "charging", "error")
SITES = ("north", "south", "east")


def doc_id(seed: int, i: int) -> str:
    return f"{T0 + int(i * DOC_PERIOD_S):08x}{seed & 0xFFFFFFFF:08x}{i:08x}"


def session_id(seed: int, s: int) -> str:
    return f"{T0 + s * 3600:08x}5e55{seed & 0xFFFF:04x}{s:08x}"


def payload(seed: int, i: int, nbytes: int) -> bytes:
    """The binary payload of document ``i`` (regenerable for checks)."""
    return np.random.default_rng([seed, i, 7]).bytes(nbytes)


def make_docs(
    seed: int,
    start: int,
    n: int,
    docs_per_session: int,
    payload_every: int = 0,
    payload_bytes: int = 0,
) -> list[dict]:
    """Documents ``start .. start+n-1``; document ``i`` belongs to session
    ``i // docs_per_session`` (a robot records sessions one after
    another).  With ``payload_every`` k > 0, every k-th document carries a
    ``payload_bytes`` binary payload and the others carry ``None``."""
    rng = np.random.default_rng([seed, start, n])
    xs = rng.normal(0.0, 10.0, n).round(4)
    ys = rng.normal(0.0, 10.0, n).round(4)
    thetas = rng.uniform(-3.14159, 3.14159, n).round(5)
    batteries = rng.uniform(5.0, 100.0, n).round(2)
    scans = rng.uniform(0.1, 30.0, (n, SCAN_LEN)).round(3)
    labels = rng.integers(0, len(LABELS), n)
    lags = rng.uniform(0.0, 0.004, n).round(6)
    docs = []
    for k in range(n):
        i = start + k
        t = T0 + i * DOC_PERIOD_S
        blob = None
        if payload_every and i % payload_every == 0:
            blob = payload(seed, i, payload_bytes)
        docs.append(
            {
                "_id": doc_id(seed, i),
                "_ts_meta": {
                    "session": session_id(seed, i // docs_per_session),
                    "sys_time": t,
                    "ros_time": t - float(lags[k]),
                },
                "seq": i,
                "label": LABELS[int(labels[k])],
                "robot": {
                    "pose": {
                        "x": float(xs[k]),
                        "y": float(ys[k]),
                        "theta": float(thetas[k]),
                    },
                    "battery": float(batteries[k]),
                },
                "scan": [float(v) for v in scans[k]],
                "payload": blob,
            }
        )
    return docs


def doc_bytes(doc: dict) -> int:
    """User bytes of a document: its JSON without the binary payload,
    plus the payload's raw length."""
    blob = doc.get("payload")
    rest = {k: v for k, v in doc.items() if k != "payload"}
    return len(json.dumps(rest).encode()) + (len(blob) if blob else 0)


def sessions_table(seed: int, n_sessions: int) -> list[dict]:
    """One row per session: the robot and site that recorded it, and the
    previous session as ``parent`` (session 0 is its own parent), so a
    ``$graphLookup`` over ``parent`` walks back through the history."""
    return [
        {
            "session": session_id(seed, s),
            "robot": f"robot{(s * 7 + seed) % 5}",
            "site": SITES[(s + seed) % len(SITES)],
            "parent": session_id(seed, max(s - 1, 0)),
        }
        for s in range(n_sessions)
    ]


# -- text/vector corpus for the dedup and ANN operators ----------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def write_corpus_tables(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """``documents`` and ``embeddings`` parquet tables in the layout the
    registry queries read (``<out_dir>/<name>.parquet``): word texts over
    a small vocabulary with a few exact duplicates, and near-unit-norm
    64-d float vectors with a class label."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 11])
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        words = rng.choice(VOCAB, int(rng.integers(10, 101)))
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [LANGS[int(v)] for v in rng.integers(0, len(LANGS), n_docs)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    # on the 1/1000 grid the operators quantize to, so float32 rounding
    # never lands a component on a .5 boundary that engines round apart
    vecs = np.round(vecs, 3).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
