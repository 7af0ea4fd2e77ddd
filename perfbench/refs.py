"""Independent references, computed with DuckDB, pandas and numpy over
the generated inputs, and the checkers that compare the library's
outputs against them. Nothing here imports the library."""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pandas as pd

CANDLE_VALUES = ["open", "high", "low", "close", "volume", "bit_fields"]

# --- candles ------------------------------------------------------------------


def candles_from_ticks(tick_paths: list[str]) -> pd.DataFrame:
    """1-minute candles of every tick in ``tick_paths``: open/close are
    the values of the lowest/highest event_id in the minute, so a late
    tick that arrives in a later file restates its minute's close.
    Columns: code, ts_us, open, high, low, close, volume, bit_fields."""
    if not tick_paths:
        return pd.DataFrame(columns=["code", "ts_us", *CANDLE_VALUES])
    files = ", ".join(f"'{p}'" for p in tick_paths)
    con = duckdb.connect()
    try:
        return con.sql(
            f"""
            SELECT event_type AS code,
                   (epoch_us(ts) // 60000000) * 60000000 AS ts_us,
                   arg_min(value, event_id) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   arg_max(value, event_id) AS close,
                   sum(value) AS volume,
                   count(*)::BIGINT AS bit_fields
            FROM read_parquet([{files}])
            GROUP BY ALL ORDER BY code, ts_us
            """
        ).df()
    finally:
        con.close()


def rollup(c60: pd.DataFrame, length_s: int) -> pd.DataFrame:
    """Coarser candles from 1-minute candles: open of the earliest
    minute, close of the latest, max/min/sum of the rest."""
    con = duckdb.connect()
    try:
        con.register("c60", c60)
        return con.sql(
            f"""
            SELECT code, (ts_us // {length_s * 1_000_000}) * {length_s * 1_000_000} AS ts_us,
                   arg_min(open, ts_us) AS open, max(high) AS high, min(low) AS low,
                   arg_max(close, ts_us) AS close, sum(volume) AS volume,
                   sum(bit_fields)::BIGINT AS bit_fields
            FROM c60 GROUP BY ALL ORDER BY code, ts_us
            """
        ).df()
    finally:
        con.close()


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def bad_candle_keys(got: pd.DataFrame, ref: pd.DataFrame) -> set[tuple[str, int]]:
    """(code, ts_us) keys where ``got`` differs from ``ref``: missing,
    extra, duplicated, or with any value off by more than 1e-9
    relative."""
    bad: set[tuple[str, int]] = set()
    counts = got.groupby(["code", "ts_us"]).size()
    bad.update(counts[counts > 1].index.tolist())
    g = got.drop_duplicates(["code", "ts_us"]).set_index(["code", "ts_us"])
    r = ref.set_index(["code", "ts_us"])
    bad.update(set(g.index) ^ set(r.index))
    common = g.index.intersection(r.index)
    gv = g.loc[common, CANDLE_VALUES].to_numpy(dtype=float)
    rv = r.loc[common, CANDLE_VALUES].to_numpy(dtype=float)
    off = ~np.isclose(gv, rv, rtol=1e-9, atol=1e-9)
    bad.update(k for k, row in zip(common, off) if row.any())
    return bad


# --- query results ---------------------------------------------------------------


def digest(df: pd.DataFrame) -> tuple[int, tuple]:
    """Row count plus, per column, the null count and the fsum of the
    non-null values — the order-insensitive checksum every candle
    query is compared on."""
    sums = []
    for c in sorted(df.columns):
        col = df[c]
        sums.append((c, int(col.isna().sum()), math.fsum(float(x) for x in col.dropna())))
    return len(df), tuple(sums)


def same_digest(a: tuple[int, tuple], b: tuple[int, tuple]) -> bool:
    if a[0] != b[0] or len(a[1]) != len(b[1]):
        return False
    return all(
        ca == cb and na == nb and _close(sa, sb)
        for (ca, na, sa), (cb, nb, sb) in zip(a[1], b[1])
    )


def query_reference(c60: pd.DataFrame, req: dict) -> pd.DataFrame:
    """Expected rows of one candle-query request (see gen.query_request)
    over the 1-minute candle table ``c60``."""
    lo, hi = req["start_s"] * 1_000_000, req["end_s"] * 1_000_000
    rows = c60[(c60.code == req["code"]) & (c60.ts_us >= lo) & (c60.ts_us < hi)]
    rows = rows.sort_values("ts_us").reset_index(drop=True)
    kind = req["kind"]
    if kind == "range":
        return rows[["ts_us", *CANDLE_VALUES]]
    if kind == "resample":
        return rollup(rows, 900)[["ts_us", *CANDLE_VALUES]]
    if kind == "sma":
        out = rows[["ts_us", "close"]].copy()
        out["sma_20"] = rows["close"].rolling(20, min_periods=20).mean()
        return out
    if kind == "asof":
        trades = pd.DataFrame({"trade_us": req["trades_us"]})
        m = pd.merge_asof(
            trades, rows[["ts_us", "close"]], left_on="trade_us",
            right_on="ts_us", direction="backward",
        )
        return m.rename(columns={"close": "close_asof"})[["trade_us", "close_asof"]]
    raise ValueError(kind)


# --- llm layers ----------------------------------------------------------------


def text_tokens(text: str) -> list[str]:
    t = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
    return t.split(" ")


def pack_reference(kept_texts: dict[int, str], budget: int) -> pd.DataFrame:
    """Concatenate-and-chunk packing of the kept docs in id order."""
    ids = sorted(kept_texts)
    tok = np.array([len(text_tokens(kept_texts[i])) for i in ids], dtype=np.int64)
    cum = np.cumsum(tok)
    first = (cum - tok) // budget
    last = (cum - 1) // budget
    return pd.DataFrame(
        {"doc_id": ids, "tok_len": tok, "cum_tokens": cum, "bin_first": first,
         "bin_last": last, "n_bins": last - first + 1}
    )


def topk_reference(vecs: np.ndarray, query_ids: list[int], k: int) -> dict[int, list[int]]:
    """Exact cosine top-``k`` neighbours (row index = vector id) of each
    query id among the vectors that are not queries, scores rounded to
    6 decimals and ties broken by the lower id: the library's search
    contract, the one its exact q_simsearch_topk query states."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cand = sorted(set(range(len(vecs))) - set(query_ids))
    out = {}
    for q in query_ids:
        score = np.round(unit @ unit[q], 6)
        out[q] = sorted(cand, key=lambda i: (-score[i], i))[:k]
    return out
