"""End-to-end analytics programs — the reference's two bots as
engine pipelines (SURVEY §3.3), so a user of the reference can run the
same studies with the same knobs.

- ``meanrevert``: `analytics/stable_eth_meanrevert_bot.py` — CSV
  discovery → clean/normalize → resample+ffill grid → consensus →
  pct or z-score FSM backtest → monthly/yearly report.
- ``fee_ml``: `analytics/stable_fee_ml_bot.py` (recovered from
  bytecode) — per-pair fee pivot → EWM-detrended features → labeled
  dataset → scaler+logreg → metrics + NOW signals.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.timeseries import resample_ffill, rolling_mean_std, zscore
from .operators import backtest as bt
from .operators import mlplane as ml
from .sources.csv_source import normalize_polarity, read_swap_csvs, tick_to_price


@dataclass(frozen=True)
class MeanRevertParams:
    """CLI defaults mirror `stable_eth_meanrevert_bot.py:270-282`."""
    freq_s: int = 60
    mode: str = "zscore"          # pct | zscore
    threshold: float = 0.5        # pct mode, percent units
    lookback: int = 1440
    entry_z: float = 2.0
    exit_z: float = 0.5
    max_hold: int = 10080


def consensus_price_grid(spark: SparkSession, glob_path: str,
                         freq_s: int) -> DataFrame:
    """Steps 2-4 of the reference lifecycle: discover → clean →
    per-pool dense grid → cross-pool consensus mean."""
    raw = normalize_polarity(read_swap_csvs(spark, glob_path))
    dense = resample_ffill(raw, ts="ts", key="pool", value="tick",
                           seconds=freq_s)
    dense = dense.withColumn("price", tick_to_price("tick"))
    wb = Window.partitionBy("bucket_ts")
    return (
        dense.withColumn("consensus", F.avg("price").over(wb))
        .withColumn("n_pools", F.count("price").over(wb))
    )


def meanrevert(spark: SparkSession, glob_path: str,
               params: MeanRevertParams = MeanRevertParams()
               ) -> tuple[DataFrame, DataFrame]:
    """Full backtest; returns (trades, monthly_report).

    The backtest runs once, inside this call: ``trades`` is a local
    checkpoint, and ``monthly`` is derived from it, so collecting both
    reads the stored trades instead of re-running CSV → grid → FSM.
    A checkpoint, not ``cache()``: the cache matches later calls by
    plan, and would hand a long-lived session stale trades after the
    CSVs change.
    """
    if params.mode not in ("pct", "zscore"):
        raise ValueError(f"unknown meanrevert mode {params.mode!r}; "
                         "expected 'pct' or 'zscore'")
    grid = consensus_price_grid(spark, glob_path, params.freq_s)
    # inner-join semantics of the reference's merge fold: only buckets
    # where every pool has a value (a one-row broadcast join keeps the
    # pool count inside the plan instead of an extra job)
    pools = grid.agg(F.count_distinct("pool").alias("n_pools"))
    grid = grid.join(F.broadcast(pools), "n_pools")
    if params.mode == "pct":
        dev = (F.col("price") / F.col("consensus") - 1) * 100
        g = grid.withColumn("dev", dev)
        trades = bt.meanrevert_fsm_pct(
            g, pool="pool", ts="bucket_ts", price="price", dev="dev",
            threshold=params.threshold)
    else:
        g = grid.withColumn("dev", F.col("price") - F.col("consensus"))
        g = rolling_mean_std(g, value="dev", key="pool", order="bucket_ts",
                             n=params.lookback, min_periods=params.lookback,
                             ddof=0)
        g = g.withColumn("z", zscore("dev", "roll_mean", "roll_std"))
        trades = bt.meanrevert_fsm_zscore(
            g, pool="pool", ts="bucket_ts", price="price", z="z",
            entry_z=params.entry_z, exit_z=params.exit_z,
            max_hold=params.max_hold)
    trades = trades.localCheckpoint()
    return trades, bt.calendar_returns(trades)


@dataclass(frozen=True)
class FeeMlParams:
    """Defaults mirror `stable_fee_ml_bot.py:185-197` (pyc)."""
    freq_s: int = 10
    ema_hl_s: int = 300
    std_win_s: int = 300
    sigma_min: float = 0.5
    horizon_s: int = 120
    target_ticks: float = 2.0
    prob_thr: float = 0.6
    train_frac: float = 0.7


def fee_ml(spark: SparkSession, glob_path: str,
           params: FeeMlParams = FeeMlParams()
           ) -> tuple[DataFrame, DataFrame]:
    """Fee-tier ML study; returns (metrics, now_signals).

    Key = (pool) which encodes pair+fee; rows deduped on tx_hash (C6)
    before the grid, as the reference does (`:97-98` pyc).
    """
    raw = read_swap_csvs(spark, glob_path)
    w = Window.partitionBy("tx_hash").orderBy("ts", "pool")
    raw = raw.withColumn("_rn", F.row_number().over(w)) \
             .filter(F.col("_rn") == 1).drop("_rn")
    dense = resample_ffill(raw, ts="ts", key="pool", value="tick",
                           seconds=params.freq_s)
    hl_rows = max(1.0, params.ema_hl_s / params.freq_s)
    dense = bt.ewm_mean(dense, value="tick", key="pool", order="bucket_ts",
                        halflife=hl_rows,
                        min_periods=max(5, int(hl_rows) // 3),
                        out_col="bias")
    ds = ml.build_ml_dataset(
        dense, key="pool", ts="bucket_ts", value="tick",
        std_win=max(2, params.std_win_s // params.freq_s),
        sigma_min=params.sigma_min,
        horizon=max(1, params.horizon_s // params.freq_s),
        target=params.target_ticks,
    ).cache()
    train, test = ml.time_split(ds, ts="bucket_ts", frac=params.train_frac)
    model, metrics = ml.train_and_eval(train, test)
    signals = ml.now_signals(model, ds, key="pool", ts="bucket_ts",
                             prob_thr=params.prob_thr)
    return metrics, signals
