"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and an output
directory, writes plain files (parquet or CSV) that the program reads
through its public functions, and returns the ground truth the checks
in ``workloads.py`` compare against; the same ground truth is written
beside the inputs as ``_truth.json`` (Spark skips files whose names
start with ``_``). Nothing here imports the package under test: the
expected values come from the generator's own arithmetic, not from the
code being measured.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# keccak-256 of the canonical signatures, written out so the generator
# does not rely on the package's own keccak implementation.
TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
SWAP_TOPIC = "0xc42079f94a6350d7e6235f29174924f928cc2ac818eb64fed8004e115fbcca67"
APPROVAL_TOPIC = "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"

TOKEN_ABI = [{"type": "event", "name": "Transfer", "inputs": [
    {"name": "from", "type": "address", "indexed": True},
    {"name": "to", "type": "address", "indexed": True},
    {"name": "value", "type": "uint256", "indexed": False}]}]
POOL_ABI = [{"type": "event", "name": "Swap", "inputs": [
    {"name": "sender", "type": "address", "indexed": True},
    {"name": "recipient", "type": "address", "indexed": True},
    {"name": "amount0", "type": "int256", "indexed": False},
    {"name": "amount1", "type": "int256", "indexed": False},
    {"name": "sqrtPriceX96", "type": "uint160", "indexed": False},
    {"name": "liquidity", "type": "uint128", "indexed": False},
    {"name": "tick", "type": "int24", "indexed": False}]}]

FIRST_BLOCK = 18_000_000
FIRST_TS = 1_700_000_000
BLOCK_SECONDS = 12


_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _hex_strings(words: np.ndarray) -> pa.Array:
    """(n, k) uint8 rows → arrow array of n ``0x``-prefixed lowercase
    hex strings, built as one ASCII buffer (no per-row Python)."""
    n, k = words.shape
    ascii_ = np.empty((n, 2 + 2 * k), dtype=np.uint8)
    ascii_[:, 0] = ord("0")
    ascii_[:, 1] = ord("x")
    ascii_[:, 2::2] = _HEX[words >> 4]
    ascii_[:, 3::2] = _HEX[words & 15]
    offsets = np.arange(0, n * (2 + 2 * k) + 1, 2 + 2 * k, dtype=np.int32)
    return pa.Array.from_buffers(pa.string(), n, [
        None, pa.py_buffer(offsets), pa.py_buffer(ascii_.tobytes())])


def _u64_be(x: np.ndarray) -> np.ndarray:
    """uint64/int64 values → (n, 8) big-endian two's-complement bytes."""
    return x.astype(">u8", copy=False).view(np.uint8).reshape(-1, 8)


def _word(lo: np.ndarray, hi: np.ndarray | None = None,
          negative: np.ndarray | None = None) -> np.ndarray:
    """32-byte ABI words from a low 64-bit limb, an optional second
    limb above it, and a sign mask (negative → 0xff sign extension;
    ``lo`` then holds the int64 two's-complement value)."""
    n = len(lo)
    w = np.zeros((n, 32), dtype=np.uint8)
    if negative is not None:
        w[negative, :24] = 0xFF
    w[:, 24:] = _u64_be(lo)
    if hi is not None:
        w[:, 16:24] = _u64_be(hi)
    return w


def _keep(out_dir: str, truth: dict) -> dict:
    with open(os.path.join(out_dir, "_truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def _addresses(rng: np.random.Generator, n: int) -> list[str]:
    return _hex_strings(rng.integers(0, 256, (n, 20), dtype=np.uint8)).to_pylist()


def raw_log_lake(rng: np.random.Generator, out_dir: str, *, n_logs: int,
                 logs_per_block: int = 40, files: int = 8) -> dict:
    """A raw-log lake of ERC-20 Transfer and Uniswap-V3 Swap logs.

    About 58% tracked-token Transfers, 32% tracked-pool Swaps (signed
    int256 amounts and negative int24 ticks), 5% Transfers from
    untracked addresses and 5% Approvals from tracked tokens; the last
    two must be filtered out. Files hold contiguous, sorted block
    ranges so a block-range filter can prune row groups. Returns the
    tracked addresses, the block range and the expected decode results.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_blocks = max(1, n_logs // logs_per_block)
    n = n_blocks * logs_per_block
    block = FIRST_BLOCK + np.repeat(np.arange(n_blocks, dtype=np.int64),
                                    logs_per_block)
    log_index = np.tile(np.arange(logs_per_block, dtype=np.int32), n_blocks)
    kind = rng.choice(4, size=n, p=[0.58, 0.32, 0.05, 0.05])
    tokens = _addresses(rng, 2)
    pools = _addresses(rng, 2)
    strangers = _addresses(rng, 8)
    users = _addresses(rng, 500)
    # addresses by index: tokens 0-1, pools 2-3, strangers 4-11
    addr_idx = np.where(kind == 1, 2 + rng.integers(0, 2, n), rng.integers(0, 2, n))
    addr_idx = np.where(kind == 2, 4 + rng.integers(0, 8, n), addr_idx)
    addr = pa.array(tokens + pools + strangers).take(pa.array(addr_idx))
    # topics by index: the three event topics, then the user addresses
    # left-padded to 32 bytes (indexed address params)
    topic_dict = pa.array([TRANSFER_TOPIC, SWAP_TOPIC, APPROVAL_TOPIC]
                          + ["0x" + "0" * 24 + u[2:] for u in users])
    t0_idx = np.where(kind == 1, 1, np.where(kind == 3, 2, 0))
    t_idx = np.stack([t0_idx, 3 + rng.integers(0, len(users), n),
                      3 + rng.integers(0, len(users), n)], axis=1).ravel()
    topics = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 3 * n + 1, 3, dtype=np.int32)),
        topic_dict.take(pa.array(t_idx)))

    # Transfer value: hi·2^64 + lo, below 10^23 so sums stay in decimal(38,0)
    v_lo = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64) * 2 \
        + rng.integers(0, 2, n).astype(np.uint64)
    v_hi = rng.integers(0, 4096, n).astype(np.uint64)
    transfer_data = _hex_strings(_word(v_lo, v_hi))
    # Swap words: two signed amounts, uint160 sqrt price, uint128
    # liquidity, signed int24 tick
    amt0 = rng.integers(-2**62, 2**62, n, dtype=np.int64)
    amt1 = rng.integers(-2**62, 2**62, n, dtype=np.int64)
    sp_lo = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
    sp_hi = rng.integers(0, 2**32, n).astype(np.uint64)
    liq_lo = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
    liq_hi = rng.integers(0, 2**40, n).astype(np.uint64)
    tick = rng.integers(-887272, 887273, n, dtype=np.int64)
    swap_words = np.concatenate([
        _word(amt0.view(np.uint64), negative=amt0 < 0),
        _word(amt1.view(np.uint64), negative=amt1 < 0),
        _word(sp_lo, sp_hi),
        _word(liq_lo, liq_hi),
        _word(tick.view(np.uint64), negative=tick < 0),
    ], axis=1)
    swap_data = _hex_strings(swap_words)
    data = pc.if_else(pa.array(kind == 1), swap_data, transfer_data)
    tx_hash = _hex_strings(rng.integers(0, 256, (n, 32), dtype=np.uint8))

    table = pa.table({
        "address": addr,
        "topics": topics,
        "data": data,
        "block_number": pa.array(block),
        "tx_hash": tx_hash,
        "log_index": pa.array(log_index),
    })
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"),
                       row_group_size=20_000)
    blocks = pa.table({
        "block_number": pa.array(FIRST_BLOCK + np.arange(n_blocks, dtype=np.int64)),
        "timestamp": pa.array(FIRST_TS + BLOCK_SECONDS * np.arange(n_blocks, dtype=np.int64)),
    })
    blocks_dir = out_dir + "_blocks"
    os.makedirs(blocks_dir, exist_ok=True)
    pq.write_table(blocks, os.path.join(blocks_dir, "blocks.parquet"))

    tr = kind == 0
    sw = kind == 1
    value = v_hi[tr].astype(object) * (1 << 64) + v_lo[tr].astype(object)
    return _keep(out_dir, {
        "tokens": tokens,
        "pools": pools,
        "first_block": FIRST_BLOCK,
        "last_block": FIRST_BLOCK + n_blocks - 1,
        "blocks_dir": blocks_dir,
        "n_raw": int(n),
        "transfer": {"count": int(tr.sum()), "value_sum": int(value.sum()),
                     "ts_sum": int((FIRST_TS + BLOCK_SECONDS
                                    * (block[tr] - FIRST_BLOCK)).sum())},
        "swap": {"count": int(sw.sum()),
                 "amount0_sum": int(amt0[sw].astype(object).sum()),
                 "amount1_sum": int(amt1[sw].astype(object).sum()),
                 "tick_sum": int(tick[sw].sum()),
                 "negative_ticks": int((tick[sw] < 0).sum())},
    })


SWAP_POOLS = (("USDC", 500, -1), ("DAI", 3000, 1), ("USDT", 100, -1))


def swap_csvs(rng: np.random.Generator, out_dir: str, *, days: int,
              mean_gap_s: float = 45.0) -> dict:
    """``{STABLE}ETH{FEE}_Swap.csv`` histories for three pools with the
    analytics-input traits: irregular spacing, malformed and empty
    ticks, verbatim duplicate rows (same ``tx_hash``) and both tick
    polarities. Ticks share a random walk plus a per-pool
    mean-reverting deviation, so both FSMs trade.

    Returns per-pool expected row counts and the list of files.
    """
    os.makedirs(out_dir, exist_ok=True)
    t0 = 1_704_067_200  # 2024-01-01 UTC
    span = days * 86_400
    truth = {"files": [], "rows_clean": 0, "rows_malformed": 0,
             "rows_duplicate": 0, "pools": {}}
    # one shared random walk sampled at 1 s resolution drives all pools
    walk = np.cumsum(rng.normal(0.0, 0.05, span + 1))
    for stable, fee, polarity in SWAP_POOLS:
        gaps = np.maximum(1, np.rint(rng.exponential(mean_gap_s, int(span / mean_gap_s * 1.2))))
        ts = np.cumsum(gaps).astype(np.int64)
        ts = ts[ts < span]
        # per-pool Ornstein-Uhlenbeck deviation on the event clock
        dev = np.empty(len(ts))
        x = 0.0
        for i, g in enumerate(rng.normal(0.0, 4.0, len(ts))):
            x = 0.995 * x + g
            dev[i] = x
        tick = np.rint(-195_000 + walk[ts] + dev).astype(np.int64) * polarity
        tx = _hex_strings(rng.integers(0, 256, (len(ts), 16), dtype=np.uint8)).to_pylist()
        tick_txt = tick.astype(str).astype(object)
        bad = rng.random(len(ts)) < 0.005
        empty = rng.random(len(ts)) < 0.003
        tick_txt[bad] = np.char.add(tick.astype(str)[bad], "x").astype(object)
        tick_txt[empty] = ""
        dup = (rng.random(len(ts)) < 0.01) & ~bad & ~empty
        lines = []
        for t, k, h, d in zip(ts + t0, tick_txt, tx, dup):
            line = f"{t},{k},{h}"
            lines.append(line)
            if d:
                lines.append(line)
        path = os.path.join(out_dir, f"{stable}ETH{fee}_Swap.csv")
        with open(path, "w") as f:
            f.write("timestamp,tick,tx_hash\n")
            f.write("\n".join(lines))
            f.write("\n")
        truth["files"].append(path)
        n_bad = int(bad.sum() + (empty & ~bad).sum())
        truth["rows_malformed"] += n_bad
        truth["rows_duplicate"] += int(dup.sum())
        truth["rows_clean"] += len(ts) - n_bad + int(dup.sum())
        truth["pools"][f"{stable}/ETH:{fee}"] = len(ts)
    return _keep(out_dir, truth)


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def doc_corpus(rng: np.random.Generator, out_dir: str, *, n_docs: int,
               near_dup_share: float = 0.2, exact_dup_share: float = 0.05,
               edit_share: float = 0.04) -> dict:
    """Documents with planted duplicates.

    ``near_dup_share`` of the documents are copies of an original with
    ``edit_share`` of their words replaced (shingle Jaccard ≈ 0.75,
    above the 0.5 verify threshold); ``exact_dup_share`` are copies
    differing only in letter case and spacing. Returns the planted
    pairs as (original id, copy id).
    """
    os.makedirs(out_dir, exist_ok=True)
    vocab = _words(rng, 4000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    n_near = int(n_docs * near_dup_share)
    n_exact = int(n_docs * exact_dup_share)
    n_orig = n_docs - n_near - n_exact
    texts: list[str] = []
    for _ in range(n_orig):
        texts.append(" ".join(rng.choice(vocab, rng.integers(40, 120), p=zipf)))
    near, exact = [], []
    src = rng.choice(n_orig, n_near + n_exact, replace=False)
    for j, s in enumerate(src):
        words = texts[s].split(" ")
        if j < n_near:
            n_edit = max(1, int(len(words) * edit_share))
            for pos in rng.choice(len(words), n_edit, replace=False):
                words[pos] = str(rng.choice(vocab)) + "q"
            texts.append(" ".join(words))
            near.append((int(s), len(texts) - 1))
        else:
            texts.append("  ".join(words).upper())
            exact.append((int(s), len(texts) - 1))
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
                             "text": pa.array(texts)}),
                   os.path.join(out_dir, "docs.parquet"), row_group_size=4096)
    return _keep(out_dir, {"n_docs": len(texts), "near_pairs": near,
                           "exact_pairs": exact})


def embedding_corpus(rng: np.random.Generator, out_dir: str, *, n_vecs: int,
                     n_queries: int, dim: int = 64, clusters: int = 64,
                     k: int = 10) -> dict:
    """Clustered embeddings plus a query subset of corpus members, with
    the exact cosine top-``k`` of each query (self excluded) computed
    in numpy."""
    os.makedirs(out_dir, exist_ok=True)
    centers = rng.normal(0.0, 1.0, (clusters, dim))
    members = rng.integers(0, clusters, n_vecs)
    vecs = centers[members] + rng.normal(0.0, 0.6, (n_vecs, dim))
    qids = np.sort(rng.choice(n_vecs, n_queries, replace=False))
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit[qids] @ unit.T
    sims[np.arange(n_queries), qids] = -np.inf
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    ids = np.arange(n_vecs, dtype=np.int64)
    emb = pa.array(list(vecs), type=pa.list_(pa.float64()))
    pq.write_table(pa.table({"vec_id": pa.array(ids), "embedding": emb}),
                   os.path.join(out_dir, "corpus.parquet"), row_group_size=2048)
    pq.write_table(pa.table({"vec_id": pa.array(ids[qids]),
                             "embedding": pa.array(list(vecs[qids]),
                                                   type=pa.list_(pa.float64()))}),
                   os.path.join(out_dir, "queries.parquet"))
    return _keep(out_dir, {
        "n_vecs": n_vecs, "n_queries": n_queries, "k": k,
        "exact_topk": {int(q): [int(c) for c in row] for q, row in zip(qids, top)}})
