"""Seeded input generator for the benchmark.

Everything is derived from one ``numpy.random.Generator`` seeded by the
caller, and written with pyarrow without pandas metadata, so the same
seed and sizes give byte-identical files.  The physical schemas are the
harness layout the engine reads (``<dir>/events.parquet`` and
``<dir>/documents.parquet``; ``events.ts`` is TIMESTAMP(MICROS)).
"""

from __future__ import annotations

import datetime as dt
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
START = dt.datetime(2024, 1, 1)
DAY_US = 86_400_000_000
ACTIVITY_SIGMA = 0.9  # lognormal spread of per-user activity
DUP_FRAC = 0.2  # share of the corpus that is planted near-duplicates
VOCAB = 4000

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _activity(n_users: int, n_events: int) -> np.ndarray:
    """Events per user: the ``n_users`` evenly spaced quantiles of a
    lognormal (``ACTIVITY_SIGMA``), scaled to ``n_events`` by largest
    remainder.  The profile is the same for every seed, so the join
    fan-out, which is quadratic in a user's activity, does not change
    the amount of work from one seed to the next."""
    inv = statistics.NormalDist(0.0, ACTIVITY_SIGMA).inv_cdf
    weight = np.exp([inv((k + 0.5) / n_users) for k in range(n_users)])
    share = weight / weight.sum() * n_events
    counts = np.floor(share).astype(np.int64)
    short = n_events - int(counts.sum())
    counts[np.argsort(counts - share, kind="stable")[:short]] += 1
    return counts


def events_table(seed: int, n_events: int, n_users: int, days: int) -> pa.Table:
    """``n_events`` events of ``n_users`` users over ``days`` days.

    User activity is lognormal (see ``_activity``), so a heavy head of
    users carries a large share of the events, which is what makes the
    J1 join skewed.  The seed decides which user has which activity,
    and every event's time, value and props.  Each user's events cycle
    through the five harness types from a seeded offset, so a fifth of
    each user's events are conversions; each day holds the same number
    of events (to within one)."""
    rng = np.random.default_rng([seed, 1])
    counts = _activity(n_users, n_events)
    user = np.repeat(rng.permutation(n_users).astype(np.int64) + 1, counts)
    rank = np.arange(n_events) - np.repeat(np.cumsum(counts) - counts, counts)
    etype = (rank + np.repeat(rng.integers(0, len(EVENT_TYPES), n_users), counts)) % len(EVENT_TYPES)
    day = rng.permutation(np.arange(n_events, dtype=np.int64) * days // n_events)
    ts = day * DAY_US + rng.integers(0, DAY_US, size=n_events, dtype=np.int64)
    value = np.round(rng.uniform(1.0, 150.0, size=n_events), 2)
    k = rng.integers(0, 100, size=n_events)
    order = np.argsort(ts, kind="stable")
    start_us = int((START - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts[order] + start_us, type=pa.timestamp("us")),
            "user_id": pa.array(user[order]),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype[order]]),
            "value": pa.array(value[order]),
            "props": pa.array([f'{{"k": {int(v)}}}' for v in k[order]]),
        },
        schema=EVENTS_SCHEMA,
    )


def write_events(out_dir: str, seed: int, events: int, users: int, days: int) -> dict:
    """The whole window as ``<out_dir>/window/events.parquet`` and one
    file per day under ``<out_dir>/days/``."""
    t = events_table(seed, events, users, days)
    _write(t, os.path.join(out_dir, "window", "events.parquet"))
    day = (t.column("ts").cast(pa.int64()).to_numpy() // DAY_US).astype(np.int64)
    bounds = np.searchsorted(day, np.arange(day[0], day[0] + days + 1))
    day_files = []
    for i in range(days):
        name = (START + dt.timedelta(days=i)).strftime("events-%Y-%m-%d.parquet")
        path = os.path.join(out_dir, "days", name)
        _write(t.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        day_files.append(path)
    return {
        "events": events,
        "users": users,
        "days": days,
        "conversions": int(np.count_nonzero(t.column("event_type").to_numpy(zero_copy_only=False) == "purchase")),
        "window": os.path.join(out_dir, "window"),
        "day_files": day_files,
    }


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Distinct pronounceable words built from consonant-vowel pairs."""
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(1, 4))
        words.add("".join(cons[int(rng.integers(16))] + vows[int(rng.integers(5))] for _ in range(n)))
    return np.array(sorted(words), dtype=object)


def documents_table(seed: int, n_docs: int) -> tuple[pa.Table, pa.Table]:
    """Zipf word soup of 30-120 words per document; ``DUP_FRAC`` of the
    documents are planted near-duplicates, each a copy of an earlier
    original with one word replaced.  Returns (documents, planted
    pairs as (doc_a, doc_b) with doc_a < doc_b)."""
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(rng, VOCAB)
    rank_p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    rank_p /= rank_p.sum()
    n_dup = int(n_docs * DUP_FRAC)
    n_orig = n_docs - n_dup
    # the same spread of lengths for every seed, in a seeded order
    lengths = rng.permutation(30 + np.arange(n_orig) * 91 // n_orig)
    flat = rng.choice(VOCAB, size=int(lengths.sum()), p=rank_p)
    offs = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[flat[offs[i]:offs[i + 1]]]) for i in range(n_orig)]
    src = rng.choice(n_orig, size=n_dup, replace=False)
    for s in src:
        toks = texts[s].split(" ")
        pos = int(rng.integers(len(toks)))
        toks[pos] = "zq" + words[int(rng.integers(VOCAB))]
        texts.append(" ".join(toks))
    # shuffle ids so originals and copies interleave
    ids = rng.permutation(n_docs).astype(np.int64)
    langs = np.array(["de", "en", "es", "fr", "zh"], dtype=object)[rng.integers(0, 5, n_docs)]
    docs = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{int(i) % 4}" for i in ids]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
        schema=DOCS_SCHEMA,
    ).sort_by("doc_id")
    a, b = ids[src], ids[n_orig:]
    pairs = pa.table({"doc_a": pa.array(np.minimum(a, b)), "doc_b": pa.array(np.maximum(a, b))})
    return docs, pairs.sort_by([("doc_a", "ascending"), ("doc_b", "ascending")])


def write_documents(out_dir: str, seed: int, n_docs: int) -> dict:
    docs, pairs = documents_table(seed, n_docs)
    _write(docs, os.path.join(out_dir, "corpus", "documents.parquet"))
    _write(pairs, os.path.join(out_dir, "corpus", "planted_pairs.parquet"))
    return {
        "docs": n_docs,
        "planted_pairs": pairs.num_rows,
        "corpus": os.path.join(out_dir, "corpus"),
        "planted": os.path.join(out_dir, "corpus", "planted_pairs.parquet"),
    }

