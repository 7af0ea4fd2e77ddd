"""Seeded input generators. Each takes the workload seed as an argument;
the same seed gives byte-identical inputs, and nothing here touches
Spark or the library, so the program under test only ever sees the
files and rows these functions produce."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- ticks (candle_ingest, candle_query) -----------------------------------

# 8 series rather than ~20: a micro-batch's merge and rollup cost grows
# with the (series, year) partitions it rewrites, and at 20 series one
# ingest run needs ~90 s on a loaded 4-core host, too long for the
# benchmark's run budget.
SYMBOLS = [f"S{k:02d}" for k in range(8)]
TICKS_PER_FILE = 4800  # 8 symbols x 60 minutes x 10 ticks
LATE_SHARE = 0.1  # share of a file's ticks that restate earlier hours
LATE_HOURS = 2  # how far back a late tick may land
# 2023-12-31T20:00:00Z: the fifth hourly file crosses into 2024, so the
# (series, year) partitioning splits every series during the second
# timed micro-batch of candle_ingest.
TICK_START_S = 1_704_067_200 - 4 * 3600
HOUR_S = 3600
# Replay order of the streaming file sources follows mtime.
MTIME_BASE = 1_700_000_000


def ticks(seed: int, i: int) -> dict[str, np.ndarray]:
    """Tick file ``i`` (hour ``i`` after TICK_START_S) in the events
    schema. A LATE_SHARE of its ticks fall in the LATE_HOURS before it,
    so they restate minutes that earlier files already committed. event_id
    grows with the file index, so a restating tick is the newest one of
    its minute."""
    rng = np.random.default_rng([seed, 1, i])
    n = TICKS_PER_FILE
    sec = i * HOUR_S + rng.integers(0, HOUR_S, n)
    if i > 0:
        late = rng.random(n) < LATE_SHARE
        back = rng.integers(1, min(i, LATE_HOURS) * HOUR_S + 1, n)
        sec = np.where(late, i * HOUR_S - back, sec)
    return {
        "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
        "ts_us": (TICK_START_S + sec).astype(np.int64) * 1_000_000,
        "user_id": rng.integers(0, 1000, n).astype(np.int64),
        "code": np.array(SYMBOLS)[rng.integers(0, len(SYMBOLS), n)],
        "value": np.round(10.0 + 90.0 * rng.random(n), 2),
    }


def write_tick_file(src: str, seed: int, i: int) -> str:
    t = ticks(seed, i)
    table = pa.table(
        {
            "event_id": pa.array(t["event_id"], pa.int64()),
            "ts": pa.array(t["ts_us"], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(t["user_id"], pa.int64()),
            "event_type": pa.array(t["code"], pa.string()),
            "value": pa.array(t["value"], pa.float64()),
            "props": pa.nulls(len(t["value"]), pa.string()),
        }
    )
    path = os.path.join(src, f"ticks-{i:05d}.parquet")
    pq.write_table(table, path)
    os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
    return path


# --- candle queries ---------------------------------------------------------

# Request j has kind QUERY_CYCLE[j % 5]: a fixed 40/20/20/20 mix, so the
# median of a run does not depend on how the kinds happened to be drawn.
QUERY_CYCLE = ("range", "resample", "range", "sma", "asof")
QUERY_SPAN_MIN = 120  # every request reads two hours of one series


def query_request(seed: int, j: int, hours: int, kind: str | None = None) -> dict:
    """Request ``j`` of the seeded mix over a store holding ``hours``
    hours of 1-minute candles: a symbol and a QUERY_SPAN_MIN-minute
    [start, end) window on whole minutes, plus trade timestamps for as-of.
    ``kind`` overrides the drawn request kind (warm-up uses each once)."""
    rng = np.random.default_rng([seed, 2, j])
    kind = kind or QUERY_CYCLE[j % len(QUERY_CYCLE)]
    span_min = QUERY_SPAN_MIN
    start_min = int(rng.integers(0, hours * 60 - span_min + 1))
    start_s = TICK_START_S + start_min * 60
    req = {
        "j": j,
        "kind": kind,
        "code": SYMBOLS[int(rng.integers(0, len(SYMBOLS)))],
        "start_s": start_s,
        "end_s": start_s + span_min * 60,
    }
    if kind == "asof":
        req["trades_us"] = sorted(
            int(x)
            for x in (
                start_s * 1_000_000
                + rng.integers(0, span_min * 60 * 1_000_000, 50)
            )
        )
    return req


# --- corpus and vectors (the traced run's probe of the llm layers) ----------

VOCAB_SIZE = 2000
MARKERS = ("the", "a", "of", "and", "is")  # make every doc read as English
SEED_DOCS = 120
SHARD_DOCS = 80
DUP_SHARE = 0.2
SHORT_SHARE = 0.05
BAD_LINES = ('{"doc_id": 99, "text": "truncated mid-wri', "plain text, not a record")


def _vocab(rng) -> list[str]:
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        k = int(rng.integers(2, 5))
        words.add(
            "".join(
                letters[rng.integers(0, len(letters))]
                + vowels[rng.integers(0, len(vowels))]
                for _ in range(k)
            )
        )
    return sorted(words)


def _fresh_text(rng, vocab) -> str:
    words = [vocab[k] for k in rng.choice(len(vocab), int(rng.integers(60, 100)), replace=False)]
    for m in MARKERS:
        words.insert(int(rng.integers(0, len(words) + 1)), m)
    return " ".join(words)


def _near_dup(rng, vocab, text: str) -> str:
    """One word of ``text`` swapped for a word it lacks: Jaccard of the
    distinct-token sets is (n-1)/(n+1), above 0.97 at these lengths."""
    words = text.split(" ")
    have = set(words)
    pos = [k for k, w in enumerate(words) if w not in MARKERS]
    k = pos[int(rng.integers(0, len(pos)))]
    while True:
        w = vocab[int(rng.integers(0, len(vocab)))]
        if w not in have:
            break
    words[k] = w
    return " ".join(words)


def corpus(seed: int) -> tuple[list[dict], list[dict]]:
    """(seed docs, shard docs). The seed docs are indexed before the
    stream starts; the shard holds fresh docs, near-duplicates of a
    seed doc or an earlier shard doc (kind "dup"), and short docs the
    text gate rejects (kind "short"). Doc ids increase through both."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    seed_docs = [
        {"doc_id": i, "text": _fresh_text(rng, vocab), "kind": "fresh"} for i in range(SEED_DOCS)
    ]
    originals = [d["text"] for d in seed_docs]
    shard = []
    for i in range(SEED_DOCS, SEED_DOCS + SHARD_DOCS):
        u = rng.random()
        if u < DUP_SHARE:
            orig = originals[int(rng.integers(0, len(originals)))]
            shard.append({"doc_id": i, "text": _near_dup(rng, vocab, orig), "kind": "dup"})
        elif u < DUP_SHARE + SHORT_SHARE:
            words = [vocab[int(x)] for x in rng.integers(0, len(vocab), 8)]
            shard.append({"doc_id": i, "text": "the " + " ".join(words), "kind": "short"})
        else:
            text = _fresh_text(rng, vocab)
            shard.append({"doc_id": i, "text": text, "kind": "fresh"})
            originals.append(text)
    return seed_docs, shard


def record(d: dict) -> dict:
    return {
        "doc_id": d["doc_id"],
        "text": d["text"],
        "lang": "en",
        "source": "perfbench",
        "n_chars": len(d["text"]),
    }


def write_shard(path: str, docs: list[dict]) -> str:
    """``docs`` as JSONL records followed by the malformed BAD_LINES."""
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(record(d)) + "\n")
        for line in BAD_LINES:
            f.write(line + "\n")
    return path


def vectors(seed: int, n: int, dim: int, clusters: int = 8) -> np.ndarray:
    """``n`` float64 vectors around ``clusters`` random centres."""
    rng = np.random.default_rng([seed, 6])
    centres = rng.normal(size=(clusters, dim))
    return centres[rng.integers(0, clusters, n)] + 0.5 * rng.normal(size=(n, dim))


# --- input hash -------------------------------------------------------------


def input_hash(paths: list[str]) -> str:
    """sha256 over the generated files, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
