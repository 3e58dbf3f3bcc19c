"""Independent reference computations the workload checks compare
against: the mean-reversion bot in plain pandas, shingle Jaccard in
plain Python and exact cosine top-k in numpy. None of this imports the
package under test.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

_POOL_RE = re.compile(r"(DAI|USDC|USDT)ETH(100|500|3000)_Swap\.csv$")


def load_swaps(files: list[str]) -> dict[str, pd.DataFrame]:
    """Per-pool (ts, tick) rows as the bots see them: unparseable or
    empty ticks dropped, duplicates kept."""
    out = {}
    for path in files:
        m = _POOL_RE.search(os.path.basename(path))
        df = pd.read_csv(path, dtype=str, keep_default_na=False)
        ts = pd.to_numeric(df["timestamp"], errors="coerce")
        tick = pd.to_numeric(df["tick"], errors="coerce")
        keep = ts.notna() & tick.notna()
        out[f"{m.group(1)}/ETH:{m.group(2)}"] = pd.DataFrame(
            {"ts": ts[keep].astype(np.int64), "tick": tick[keep].astype(np.int64)})
    return out


def _grid(df: pd.DataFrame, freq: int) -> pd.Series:
    """resample(freq).last().ffill() over the pool's own span, with
    orientation normalized (flip when the median tick is ≥ 0)."""
    sign = -1 if df["tick"].median() >= 0 else 1
    d = df.assign(tick=df["tick"] * sign, bucket=df["ts"] // freq * freq)
    last = d.sort_values("ts", kind="mergesort").groupby("bucket")["tick"].last()
    idx = np.arange(last.index.min(), last.index.max() + 1, freq)
    return last.reindex(idx).ffill()


def meanrevert(frames: dict[str, pd.DataFrame], *, mode: str, freq: int = 60,
               threshold: float = 0.5, lookback: int = 1440, entry_z: float = 2.0,
               exit_z: float = 0.5, max_hold: int = 10080) -> pd.DataFrame:
    prices = pd.concat({p: 1.0001 ** _grid(df, freq) for p, df in frames.items()},
                       axis=1).dropna()
    consensus = prices.mean(axis=1)
    trades = []
    for pool in prices.columns:
        price = prices[pool]
        if mode == "pct":
            dev = ((price / consensus - 1) * 100).to_numpy()
            sig = dev
        else:
            dev = price - consensus
            mean = dev.rolling(lookback, min_periods=lookback).mean()
            std = dev.rolling(lookback, min_periods=lookback).std(ddof=0)
            sig = ((dev - mean) / std.where(std != 0)).to_numpy()
        ts = price.index.to_numpy()
        pv = price.to_numpy()
        side, entry = None, -1
        for i, s in enumerate(sig):
            if s != s:
                continue
            if side is None:
                if (mode == "pct" and s <= -threshold) or (mode != "pct" and s <= -entry_z):
                    side, entry = "long", i
                elif (mode == "pct" and s >= threshold) or (mode != "pct" and s >= entry_z):
                    side, entry = "short", i
                continue
            if mode == "pct":
                close = (side == "long" and s >= 0) or (side == "short" and s <= 0)
            else:
                close = abs(s) <= exit_z or i - entry >= max_hold
            if close:
                ret = (pv[i] / pv[entry] - 1.0) * 100.0
                trades.append((pool, side, int(ts[entry]), int(ts[i]),
                               -ret if side == "short" else ret))
                side = None
    return pd.DataFrame(trades, columns=["pool", "side", "entry_ts", "exit_ts",
                                         "pct_return"]).astype(
        {"entry_ts": "int64", "exit_ts": "int64", "pct_return": "float64"})


def compare_trades(got: pd.DataFrame, want: pd.DataFrame) -> tuple[float, dict]:
    """Share of trades on which both sides agree (same pool, side, entry
    and exit bucket, return within 1e-6 relative), over the larger of
    the two trade lists."""
    key = ["pool", "side", "entry_ts", "exit_ts"]
    m = got[key + ["pct_return"]].merge(want, on=key, suffixes=("_got", "_want"))
    close = np.isclose(m["pct_return_got"].astype(float),
                       m["pct_return_want"].astype(float), rtol=1e-6, atol=1e-9)
    n = max(len(got), len(want))
    agree = int(close.sum()) / n if n else 1.0
    return agree, {"got": len(got), "want": len(want), "agree": int(close.sum())}


def _shingles(text: str, k: int = 3) -> set:
    toks = text.strip().split()
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def check_near_dups(docs_dir: str, pairs: list[tuple], planted: list[tuple],
                    threshold: float = 0.5) -> tuple[float, list]:
    """Recall against the planted pairs, and every reported pair whose
    Jaccard disagrees with a plain-Python recomputation."""
    t = pq.read_table(os.path.join(docs_dir, "docs.parquet")).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    bad = []
    for a, b, j in pairs:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        want = math.floor(len(sa & sb) / len(sa | sb) * 1e6) / 1e6
        if abs(want - j) > 1e-6 or want < threshold:
            bad.append((a, b, j, want))
    found = {(a, b) for a, b, _ in pairs}
    recall = sum(p in found for p in map(tuple, planted)) / len(planted)
    return recall, bad


def check_ann(emb_dir: str, rows: list, exact: dict, k: int) -> tuple[float, list]:
    """recall@k against the exact top-k, and every returned similarity
    that disagrees with numpy's cosine."""
    t = pq.read_table(os.path.join(emb_dir, "corpus.parquet")).to_pydict()
    vecs = np.array(t["embedding"])
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    got: dict[int, set] = {}
    bad = []
    for r in rows:
        got.setdefault(r.qid, set()).add(r.cid)
        want = float(unit[r.qid] @ unit[r.cid])
        if abs(want - r.sim) > 2e-6:
            bad.append((r.qid, r.cid, r.sim, want))
    hits = sum(len(got.get(q, set()) & set(top)) for q, top in exact.items())
    return hits / (k * len(exact)), bad
