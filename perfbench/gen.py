"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same arguments
give byte-identical files, and :func:`fingerprint` hashes them so a run can
print what it measured.  Nothing here imports Spark or pyfads.

- :func:`write_events` — an ``events`` table with the shape of the sf0.1
  fixture: about one event per 26 s of event time, 1,500 users, five event
  types, values rounded to cents.
- :func:`taxi_files` — one gzipped NYCTaxiRideSource-format file per second
  of event time (a tenth of the lines are END events and about one in
  seventeen has empty lon/lat, as in ``pyfads.golden.taxi_fixture_lines``).
- :func:`write_corpus` — ``documents`` (word bags with planted near-duplicate
  families) and ``embeddings`` (a 64-d Gaussian mixture) in a directory whose
  basename carries the seed and both sizes, because pyfads caches its golden
  tables by that basename.
"""

from __future__ import annotations

import gzip
import hashlib
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1_500
MEAN_GAP_S = 26.0

# the fixture's 31-word vocabulary, so shingle statistics match sf0.1
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMB_DIM = 64
EMB_COMPONENTS = 10
# about this share of documents are planted near-duplicates of an earlier one
DUP_SHARE = 0.3


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def fingerprint(paths: "list[str]") -> str:
    """sha256 over the bytes of ``paths`` in the given order (first 16 hex)."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _write_parquet(table: pa.Table, path: str) -> None:
    # fixed writer settings: statistics and dictionary choices are part of
    # the bytes, so pin them instead of inheriting library defaults
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------


def events_arrays(seed: int, n: int) -> dict:
    """Column arrays of the events table, event_id ascending with ts."""
    rng = _rng(seed, 1)
    gaps_us = np.maximum(1, (rng.exponential(MEAN_GAP_S, n) * 1e6).astype(np.int64))
    ts_us = EPOCH_2024_S * 1_000_000 + np.cumsum(gaps_us)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": ts_us,
        "user_id": rng.integers(0, N_USERS, n, dtype=np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def write_events(seed: int, n: int, out_dir: str) -> str:
    """Write ``<out_dir>/events.parquet``; returns its path."""
    a = events_arrays(seed, n)
    table = pa.table(
        {
            "event_id": pa.array(a["event_id"], pa.int64()),
            "ts": pa.array(a["ts_us"], pa.timestamp("us")),
            "user_id": pa.array(a["user_id"], pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in a["event_type"]], pa.string()),
            "value": pa.array(a["value"], pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in a["k"]], pa.string()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    _write_parquet(table, path)
    return path


# ---------------------------------------------------------------------------
# taxi lines
# ---------------------------------------------------------------------------


def _fmt(sec: int) -> str:
    return datetime.fromtimestamp(sec, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def taxi_rows(seed: int, n_files: int, rows_per_file: int, stream: int = 2) -> list:
    """Rides as ``(file_index, rideId, taxiId, start_s, end_s, line)``.

    File ``i`` holds the rides that start in event second ``EPOCH_2024_S +
    i``, so equal arrivals never straddle a file and files arrive in event
    order.  rideIds are unique and grow with the file index."""
    rng = _rng(seed, stream)
    out = []
    for i in range(n_files):
        sec = EPOCH_2024_S + i
        taxi = rng.integers(2_013_000_001, 2_013_013_001, rows_per_file)
        dur = rng.integers(300, 1_297, rows_per_file)
        kind_end = rng.random(rows_per_file) < 0.1
        no_geo = rng.random(rows_per_file) < 1 / 17
        lon = rng.integers(0, 100, rows_per_file)
        lat = rng.integers(0, 100, rows_per_file)
        pax = rng.integers(1, 5, rows_per_file)
        drv = rng.integers(2_013_000_001, 2_013_020_001, rows_per_file)
        t_start = _fmt(sec)
        for j in range(rows_per_file):
            ride = 1 + i * rows_per_file + j
            end = sec + int(dur[j])
            t_end = _fmt(end)
            ta, tb = (t_end, t_start) if kind_end[j] else (t_start, t_end)
            g = ("", "") if no_geo[j] else (f"-73.9{lon[j]:02d}", f"40.7{lat[j]:02d}")
            line = ",".join(
                [
                    str(ride), "END" if kind_end[j] else "START", ta, tb,
                    g[0], g[1], g[0], g[1], str(pax[j]), str(taxi[j]), str(drv[j]),
                ]
            )
            out.append((i, ride, int(taxi[j]), sec, end, line))
    return out


def taxi_files(rows: list, n_files: int) -> "list[bytes]":
    """gzip bytes per file (gzip mtime pinned to 0 for identical bytes)."""
    per: list[list[str]] = [[] for _ in range(n_files)]
    for r in rows:
        per[r[0]].append(r[5])
    return [gzip.compress(("\n".join(ls) + "\n").encode(), mtime=0) for ls in per]


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def corpus_dir_name(seed: int, n_docs: int, n_vecs: int) -> str:
    return f"corpus_s{seed}_d{n_docs}_v{n_vecs}"


def documents_rows(seed: int, n_docs: int) -> "tuple[list, int]":
    """Documents as ``(doc_id, text, lang, source)`` plus the number of docs
    that are planted near-duplicates of an earlier doc.

    A planted doc copies an earlier base doc and then either substitutes one
    or two words (high Jaccard), keeps a contiguous ~90% excerpt (high
    containment), or repeats it exactly.  Families have 2-4 members."""
    rng = _rng(seed, 3)
    docs: list[tuple] = []
    n_planted = 0
    while len(docs) < n_docs:
        n_words = int(rng.integers(10, 101))
        words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)]
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        docs.append((len(docs), words, lang))
        if rng.random() < DUP_SHARE / 2 and n_words >= 20:
            for _ in range(int(rng.integers(1, 4))):
                if len(docs) >= n_docs:
                    break
                kind = int(rng.integers(0, 3))
                if kind == 0:
                    v = list(words)
                    for p in rng.integers(0, n_words, int(rng.integers(1, 3))):
                        v[int(p)] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                elif kind == 1:
                    cut = max(1, n_words // 10)
                    off = int(rng.integers(0, cut + 1))
                    v = words[off : off + n_words - cut]
                else:
                    v = list(words)
                docs.append((len(docs), v, lang))
                n_planted += 1
    rows = [(d, " ".join(w), lang, f"src{d % 20}") for d, w, lang in docs]
    return rows, n_planted


def write_corpus(seed: int, n_docs: int, n_vecs: int, parent: str) -> "tuple[str, int]":
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``<parent>/corpus_s<seed>_d<n_docs>_v<n_vecs>``; returns (dir, planted)."""
    d = os.path.join(parent, corpus_dir_name(seed, n_docs, n_vecs))
    os.makedirs(d, exist_ok=True)
    rows, n_planted = documents_rows(seed, n_docs)
    _write_parquet(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    rng = _rng(seed, 4)
    centers = rng.normal(0.0, 1.0, (EMB_COMPONENTS, EMB_DIM))
    labels = rng.integers(0, EMB_COMPONENTS, n_vecs)
    x = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write_parquet(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64), pa.int64()),
                "embedding": pa.array(list(x), pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32), pa.int32()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    return d, n_planted
