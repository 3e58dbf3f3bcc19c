"""The benchmark's workloads: what each runs, how it is checked, and
which per-layer numbers its traced run yields.

A workload generates its inputs from the seed (``generate``), runs one
user session of jobs through the package's public functions (``run``),
checks the outputs against the generator's ground truth or an
independent pandas/numpy computation (``check``) and, in the traced
run, turns its spans into per-layer numbers (``layers``).

``run`` returns one ``Step`` per call a user waits for. A step that
raises is recorded as failed and the session goes on; the failure is
counted against the attempts, never dropped.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
from spans import Tracer, noop


@dataclass
class Step:
    name: str
    seconds: float
    ok: bool
    error: str = ""


@dataclass
class Checked:
    correct: bool
    recall: float
    notes: dict = field(default_factory=dict)


def timed(steps: list[Step], name: str, fn):
    """Run ``fn`` as one step; record its wall time and outcome."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 — a failed step is data, not a crash
        steps.append(Step(name, time.perf_counter() - t0, False,
                          f"{type(e).__name__}: {e}"))
        traceback.print_exc(limit=2)
        return None
    steps.append(Step(name, time.perf_counter() - t0, True))
    return out


def _share(part: float, whole: float) -> float:
    return part / whole if whole > 0 else 0.0


# --------------------------------------------------------------------------
# index: bulk decode of a raw-log lake, then a catch-up replay of the same
# block range in increments through the progress cursor


class Index:
    name = "index"
    n_logs = 60_000
    increments = 10
    LAYERS = {
        "evm_logs.scan_share": "share",
        "evm_logs.rows_scanned": "count",
        "evm_logs.rows_scanned_per_row_in_range": "ratio",
        "abi.decode_share": "share",
        "abi.enrich_share": "share",
        "abi.enrich_shuffle_bytes": "bytes",
        "abi.rows_out_per_row_scanned": "ratio",
        "sinks.write_share": "share",
        "sinks.bytes_per_event": "bytes",
        "sinks.files_written": "count",
        "progress.cursor_read_share": "share",
        "progress.commit_share": "share",
        "progress.jobs_per_step": "count",
        "progress.cursor_files": "count",
    }

    def generate(self, rng, root: str) -> None:
        self.root = root
        self.lake = os.path.join(root, "lake")
        self.truth = gen.raw_log_lake(rng, self.lake, n_logs=self.n_logs)

    def probe(self, spark) -> None:
        spark.read.parquet(self.lake).count()

    def _events(self):
        from etl_evm_chain_spark.sources.abi import parse_abi
        return (("token", parse_abi(gen.TOKEN_ABI)["Transfer"]),
                ("pool", parse_abi(gen.POOL_ABI)["Swap"]))

    def _raw(self, spark):
        from etl_evm_chain_spark.sources.evm_logs import read_raw_logs
        return read_raw_logs(
            spark, self.lake,
            addresses=tuple(self.truth["tokens"] + self.truth["pools"]),
            topic0s=tuple(ev.topic0 for _, ev in self._events()))

    def run(self, spark, tr: Tracer) -> list[Step]:
        from etl_evm_chain_spark.sources import abi, progress, sinks

        self.bulk_dir = os.path.join(self.root, "out_bulk")
        self.inc_dir = os.path.join(self.root, "out_inc")
        self.cursor = os.path.join(self.root, "cursor")
        for d in (self.bulk_dir, self.inc_dir, self.cursor):
            shutil.rmtree(d, ignore_errors=True)
        blocks = spark.read.parquet(self.truth["blocks_dir"])
        events = self._events()
        steps: list[Step] = []

        def bulk():
            for i, (contract, ev) in enumerate(events):
                with tr.span("evm_logs.read_raw_logs"):
                    raw = self._raw(spark)
                    if tr.on:
                        noop(raw.filter(raw.topics[0] == ev.topic0))
                with tr.span("abi.decode_event"):
                    decoded = abi.decode_event(raw, ev, contract_name=contract)
                    if tr.on:
                        noop(decoded)
                with tr.span("abi.enrich"):
                    enriched = abi.enrich(decoded, blocks)
                    if tr.on:
                        noop(enriched)
                with tr.span("sinks.write_event_parquet"):
                    sinks.write_event_parquet(
                        enriched, self.bulk_dir,
                        mode="overwrite" if i == 0 else "append")

        timed(steps, "bulk", bulk)

        def decode(df):
            parts = [abi.decode_event(df, ev, contract_name=c) for c, ev in events]
            return abi.enrich(parts[0].unionByName(parts[1], allowMissingColumns=True),
                              blocks)

        raw = self._raw(spark)
        first, last = self.truth["first_block"], self.truth["last_block"]
        n_blocks = last - first + 1
        for i in range(1, self.increments + 1):
            latest = first + i * n_blocks // self.increments - 1

            def step(latest=latest):
                with tr.span("progress.incremental_decode"), \
                        tr.wrapped(progress, "read_watermark", "commit_watermark"):
                    return progress.incremental_decode(
                        spark, raw=raw, progress_path=self.cursor,
                        out_dir=self.inc_dir, decode=decode,
                        latest=latest, start=first)

            timed(steps, "catchup", step)
        return steps

    def check(self, spark, steps: list[Step]) -> Checked:
        from pyspark.sql import functions as F

        from etl_evm_chain_spark.sources.progress import read_watermark

        t = self.truth
        notes: dict = {}
        ok = True
        inc = spark.read.parquet(self.inc_dir)
        found = []
        stray = 0
        for contract, ev in self._events():
            part = spark.read.parquet(os.path.join(
                self.bulk_dir, f"contract_name={contract}", f"event_name={ev.name}"))
            if ev.name == "Transfer":
                row = part.agg(F.count(F.lit(1)).alias("n"),
                               F.sum("value").alias("v"),
                               F.sum("timestamp").alias("ts")).first()
                got = {"count": row.n, "value_sum": int(row.v or 0),
                       "ts_sum": int(row.ts or 0)}
                want = t["transfer"]
            else:
                row = part.agg(F.count(F.lit(1)).alias("n"),
                               F.sum("amount0").alias("a0"),
                               F.sum("amount1").alias("a1"),
                               F.sum("tick").alias("tk"),
                               F.sum((F.col("tick") < 0).cast("long")).alias("neg")).first()
                got = {"count": row.n, "amount0_sum": int(row.a0 or 0),
                       "amount1_sum": int(row.a1 or 0), "tick_sum": int(row.tk or 0),
                       "negative_ticks": int(row.neg or 0)}
                want = t["swap"]
            notes[ev.name] = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
            ok &= not notes[ev.name]
            found.append(min(got["count"], want["count"]) / want["count"])
            # catch-up union vs bulk, order-insensitive
            cols = sorted(part.columns)
            h = F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
            hb = part.agg(h, F.count(F.lit(1)).alias("n")).first()
            hi = (inc.filter((F.col("contract_name") == contract)
                             & (F.col("event_name") == ev.name))
                  .agg(h, F.count(F.lit(1)).alias("n")).first())
            stray += part.filter(~F.col("contract").isin(
                *(t["tokens"] + t["pools"]))).count()
            if (hb.h, hb.n) != (hi.h, hi.n):
                ok = False
                notes[ev.name + "_catchup"] = {"bulk": [str(hb.h), hb.n],
                                               "catchup": [str(hi.h), hi.n]}
        if stray:
            ok = False
            notes["untracked_rows"] = stray
        wm = read_watermark(spark, self.cursor)
        if wm != t["last_block"]:
            ok = False
            notes["watermark"] = [wm, t["last_block"]]
        notes = {k: v for k, v in notes.items() if v}
        return Checked(ok, min(found), notes)

    def layers(self, tr: Tracer, wall: float) -> dict:
        read = tr.wall("evm_logs.read_raw_logs")
        dec = tr.wall("abi.decode_event")
        enr = tr.wall("abi.enrich")
        write = tr.wall("sinks.write_event_parquet")
        scan = tr.engine("evm_logs.read_raw_logs")["input_records"]
        catch = tr.engine("progress.incremental_decode")
        n_steps = max(1, tr.count("progress.incremental_decode"))
        bulk_files = _files(self.bulk_dir)
        events = self.truth["transfer"]["count"] + self.truth["swap"]["count"]
        out_bytes = sum(os.path.getsize(p) for p in bulk_files)
        # each bulk prefix span re-runs the layers before it, so a
        # layer's self time is its span minus the previous prefix; the
        # read prefix runs once per event, hence the halving of rows
        return {
            "evm_logs.scan_share": read / wall,
            "evm_logs.rows_scanned": scan,
            "evm_logs.rows_scanned_per_row_in_range":
                _share(catch["input_records"], self.truth["n_raw"]),
            "abi.decode_share": (dec - read) / wall,
            "abi.enrich_share": (enr - dec) / wall,
            "abi.enrich_shuffle_bytes": tr.engine("abi.enrich")["shuffle_write_bytes"],
            "abi.rows_out_per_row_scanned": _share(events, scan / 2),
            "sinks.write_share": (write - enr) / wall,
            "sinks.bytes_per_event": _share(out_bytes, events),
            "sinks.files_written": len(bulk_files) + len(_files(self.inc_dir)),
            "progress.cursor_read_share": tr.wall("progress.read_watermark") / wall,
            "progress.commit_share": tr.wall("progress.commit_watermark") / wall,
            "progress.jobs_per_step": catch["jobs"] / n_steps,
            "progress.cursor_files": len(_files(self.cursor)),
        }


def _files(d: str) -> list[str]:
    return [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
            if f.endswith(".parquet")]


# --------------------------------------------------------------------------
# backtest: the two reference bots at their CLI defaults on a seeded
# swap history long enough for fee_ml's known EWM failure to show


class Backtest:
    name = "backtest"
    days = 4
    LAYERS = {
        "csv_source.read_share": "share",
        "csv_source.rows_dropped": "count",
        "timeseries.resample_ffill_share": "share",
        "timeseries.rolling_share": "share",
        "timeseries.grid_rows_per_input_row": "ratio",
        "backtest.fsm_share": "share",
        "backtest.ewm_share": "share",
    }

    def generate(self, rng, root: str) -> None:
        self.root = root
        self.csv_dir = os.path.join(root, "swaps")
        self.truth = gen.swap_csvs(rng, self.csv_dir, days=self.days)
        self.glob = os.path.join(self.csv_dir, "*_Swap.csv")

    def probe(self, spark) -> None:
        spark.read.text(self.glob).count()

    def run(self, spark, tr: Tracer) -> list[Step]:
        from etl_evm_chain_spark import pipelines

        steps: list[Step] = []
        self.trades = {}
        for mode in ("zscore", "pct"):
            params = pipelines.MeanRevertParams(mode=mode)
            if tr.on:
                self._trace_prefixes(spark, tr, params)

            def bot(params=params):
                with tr.span(f"pipelines.meanrevert.{params.mode}"):
                    trades, monthly = pipelines.meanrevert(spark, self.glob, params)
                    out = trades.toPandas()
                    monthly.collect()
                return out

            self.trades[mode] = timed(steps, f"meanrevert_{mode}", bot)

        if tr.on:
            self._trace_fee_prefixes(spark, tr)

        def fee():
            with tr.span("pipelines.fee_ml"):
                metrics, signals = pipelines.fee_ml(spark, self.glob)
                return metrics.collect(), signals.collect()

        timed(steps, "fee_ml", fee)
        return steps

    def _trace_prefixes(self, spark, tr: Tracer, params) -> None:
        """The meanrevert pipeline cut at each layer boundary, each
        prefix run to completion in its own span; the bot call that
        follows is the last prefix (FSM plus monthly report)."""
        from pyspark.sql import functions as F

        from etl_evm_chain_spark import pipelines
        from etl_evm_chain_spark.functions import timeseries as ts
        from etl_evm_chain_spark.sources import csv_source as cs

        m = params.mode
        with tr.span(f"csv_source.read_swap_csvs.{m}"):
            raw = cs.normalize_polarity(cs.read_swap_csvs(spark, self.glob))
            self.rows_read = raw.count()
        with tr.span(f"timeseries.resample_ffill.{m}"):
            grid = pipelines.consensus_price_grid(spark, self.glob, params.freq_s)
            self.grid_rows = grid.count()
        if m == "zscore":
            g = grid.filter(F.col("n_pools") == len(self.truth["pools"])) \
                .withColumn("dev", F.col("price") - F.col("consensus"))
            with tr.span(f"timeseries.rolling_mean_std.{m}"):
                g = ts.rolling_mean_std(g, value="dev", key="pool", order="bucket_ts",
                                        n=params.lookback, min_periods=params.lookback,
                                        ddof=0)
                noop(g.withColumn("z", ts.zscore("dev", "roll_mean", "roll_std")))

    def _trace_fee_prefixes(self, spark, tr: Tracer) -> None:
        """fee_ml's read, grid and EWM stages as prefixes, with its
        defaults; the EWM prefix raises the known error, which is
        recorded on its span."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from etl_evm_chain_spark import pipelines
        from etl_evm_chain_spark.functions import timeseries as ts
        from etl_evm_chain_spark.operators import backtest as bt
        from etl_evm_chain_spark.sources import csv_source as cs

        p = pipelines.FeeMlParams()
        with tr.span("csv_source.read_swap_csvs.fee"):
            raw = cs.read_swap_csvs(spark, self.glob)
            w = Window.partitionBy("tx_hash").orderBy("ts", "pool")
            raw = raw.withColumn("_rn", F.row_number().over(w)) \
                .filter(F.col("_rn") == 1).drop("_rn")
            noop(raw)
        with tr.span("timeseries.resample_ffill.fee"):
            dense = ts.resample_ffill(raw, ts="ts", key="pool", value="tick",
                                      seconds=p.freq_s)
            noop(dense)
        hl = max(1.0, p.ema_hl_s / p.freq_s)
        try:
            with tr.span("backtest.ewm_mean.fee"):
                noop(bt.ewm_mean(dense, value="tick", key="pool", order="bucket_ts",
                                 halflife=hl, min_periods=max(5, int(hl) // 3),
                                 out_col="bias"))
        except Exception:  # noqa: BLE001 — the known failure, kept on the span
            pass

    def check(self, spark, steps: list[Step]) -> Checked:
        import reference

        notes: dict = {}
        ok = True
        recall = []
        frames = reference.load_swaps(self.truth["files"])
        for mode, trades in self.trades.items():
            if trades is None:
                ok = False
                recall.append(0.0)
                continue
            want = reference.meanrevert(frames, mode=mode)
            agree, detail = reference.compare_trades(trades, want)
            recall.append(agree)
            if agree < 1.0:
                ok = False
                notes[mode] = detail
        fee = next(s for s in steps if s.name == "fee_ml")
        if not fee.ok:
            # the known defect: native EWM rescale past 1000*halflife
            # rows; Spark may wrap it in a job-abort error, so look for
            # its message anywhere in the text
            known = [line.strip() for line in fee.error.splitlines()
                     if "ewm_mean(method='native')" in line]
            notes["fee_ml"] = (known or fee.error.splitlines())[0][:300]
            ok &= bool(known)
        return Checked(ok, min(recall), notes)

    def layers(self, tr: Tracer, wall: float) -> dict:
        w = tr.wall
        read = w("csv_source.read_swap_csvs.zscore") + w("csv_source.read_swap_csvs.pct") \
            + w("csv_source.read_swap_csvs.fee")
        grid = (w("timeseries.resample_ffill.zscore") - w("csv_source.read_swap_csvs.zscore")
                + w("timeseries.resample_ffill.pct") - w("csv_source.read_swap_csvs.pct")
                + w("timeseries.resample_ffill.fee") - w("csv_source.read_swap_csvs.fee"))
        roll = w("timeseries.rolling_mean_std.zscore") - w("timeseries.resample_ffill.zscore")
        fsm = (w("pipelines.meanrevert.zscore") - w("timeseries.rolling_mean_std.zscore")
               + w("pipelines.meanrevert.pct") - w("timeseries.resample_ffill.pct"))
        ewm = w("backtest.ewm_mean.fee") - w("timeseries.resample_ffill.fee")
        lines = self.truth["rows_clean"] + self.truth["rows_malformed"]
        return {
            "csv_source.read_share": read / wall,
            "csv_source.rows_dropped": lines - self.rows_read,
            "timeseries.resample_ffill_share": grid / wall,
            "timeseries.rolling_share": roll / wall,
            "timeseries.grid_rows_per_input_row": self.grid_rows / self.rows_read,
            "backtest.fsm_share": fsm / wall,
            "backtest.ewm_share": ewm / wall,
        }


# --------------------------------------------------------------------------
# curate: near-duplicate and exact dedup of a document corpus, then
# approximate top-k search over an embedding corpus


class Curate:
    name = "curate"
    n_docs = 2500
    n_vecs = 2500
    n_queries = 40
    query_batches = 2
    k = 10
    LAYERS = {
        "dedup.signatures_share": "share",
        "dedup.candidates_share": "share",
        "dedup.verify_share": "share",
        "dedup.exact_share": "share",
        "dedup.candidates_per_verified_pair": "ratio",
        "dedup.near_dup_recall": "ratio",
        "similarity.ann_share": "share",
        "similarity.ann_recall_at_10": "ratio",
    }

    def generate(self, rng, root: str) -> None:
        self.root = root
        self.docs_dir = os.path.join(root, "docs")
        self.emb_dir = os.path.join(root, "emb")
        self.docs_truth = gen.doc_corpus(rng, self.docs_dir, n_docs=self.n_docs)
        self.emb_truth = gen.embedding_corpus(rng, self.emb_dir, n_vecs=self.n_vecs,
                                              n_queries=self.n_queries, k=self.k)

    def probe(self, spark) -> None:
        spark.read.parquet(self.docs_dir).count()

    def run(self, spark, tr: Tracer) -> list[Step]:
        from pyspark.sql import functions as F

        from etl_evm_chain_spark.operators import dedup, similarity

        docs = spark.read.parquet(self.docs_dir)
        corpus = spark.read.parquet(os.path.join(self.emb_dir, "corpus.parquet"))
        queries = spark.read.parquet(os.path.join(self.emb_dir, "queries.parquet"))
        steps: list[Step] = []

        def near():
            if tr.on:
                with tr.span("dedup.minhash_signatures"):
                    sig = dedup.minhash_signatures(docs)
                    noop(sig)
                with tr.span("dedup.lsh_candidate_pairs"):
                    self.n_candidates = dedup.lsh_candidate_pairs(sig).count()
            with tr.span("dedup.verified_near_dups"):
                return [tuple(r) for r in dedup.verified_near_dups(docs).collect()]

        self.near = timed(steps, "near_dups", near)

        def exact():
            with tr.span("dedup.exact_dedup"):
                return dedup.exact_dedup(docs).filter(F.col("n_dups") > 1).collect()

        self.exact = timed(steps, "exact_dedup", exact)

        qids = sorted(self.emb_truth["exact_topk"])
        self.ann = []
        for b in np.array_split(np.array(qids), self.query_batches):
            batch = queries.filter(F.col("vec_id").isin(*[int(x) for x in b]))

            def ann(batch=batch):
                with tr.span("similarity.ann_topk"):
                    return similarity.ann_topk(corpus, batch, k=self.k).collect()

            rows = timed(steps, "ann_topk", ann)
            self.ann.extend(rows or [])
        return steps

    def check(self, spark, steps: list[Step]) -> Checked:
        import reference

        notes: dict = {}
        near_recall = ann_recall = 0.0
        ok = all(s.ok for s in steps if s.name in ("near_dups", "exact_dedup", "ann_topk"))
        if self.near is not None:
            near_recall, bad = reference.check_near_dups(
                self.docs_dir, self.near, self.docs_truth["near_pairs"])
            notes["near_dup_recall"] = near_recall
            if bad:
                ok = False
                notes["near_dup_wrong_jaccard"] = bad[:5]
        if self.exact is not None:
            got = sorted((r.keep_id, r.n_dups) for r in self.exact)
            want = sorted((a, 2) for a, _ in self.docs_truth["exact_pairs"])
            if got != want:
                ok = False
                notes["exact_dedup"] = {"got": len(got), "want": len(want)}
        if self.ann:
            ann_recall, bad = reference.check_ann(
                self.emb_dir, self.ann, self.emb_truth["exact_topk"], self.k)
            notes["ann_recall_at_10"] = ann_recall
            if bad:
                ok = False
                notes["ann_wrong_similarity"] = bad[:5]
        self.recalls = (near_recall, ann_recall)
        return Checked(ok, near_recall * ann_recall, notes)

    def layers(self, tr: Tracer, wall: float) -> dict:
        sig = tr.wall("dedup.minhash_signatures")
        cand = tr.wall("dedup.lsh_candidate_pairs")
        return {
            "dedup.signatures_share": sig / wall,
            "dedup.candidates_share": (cand - sig) / wall,
            "dedup.verify_share": (tr.wall("dedup.verified_near_dups") - cand) / wall,
            "dedup.exact_share": tr.wall("dedup.exact_dedup") / wall,
            "dedup.candidates_per_verified_pair":
                _share(self.n_candidates, len(self.near or [])),
            "dedup.near_dup_recall": self.recalls[0],
            "similarity.ann_share": tr.wall("similarity.ann_topk") / wall,
            "similarity.ann_recall_at_10": self.recalls[1],
        }


class Analytics:
    """The downstream jobs: both bots, then corpus curation, in one
    session. They share no layer with ``index``."""

    name = "analytics"
    LAYERS = {**Backtest.LAYERS, **Curate.LAYERS}

    def __init__(self):
        self.parts = (Backtest(), Curate())

    def generate(self, rng, root: str) -> None:
        for part in self.parts:
            part.generate(rng, root)

    def probe(self, spark) -> None:
        for part in self.parts:
            part.probe(spark)

    def run(self, spark, tr: Tracer) -> list[Step]:
        return [s for part in self.parts for s in part.run(spark, tr)]

    def check(self, spark, steps: list[Step]) -> Checked:
        out = Checked(True, 1.0, {})
        for part in self.parts:
            c = part.check(spark, steps)
            out.correct &= c.correct
            out.recall *= c.recall
            out.notes[part.name] = c.notes
        return out

    def layers(self, tr: Tracer, wall: float) -> dict:
        return {k: v for part in self.parts for k, v in part.layers(tr, wall).items()}


WORKLOADS = {w.name: w for w in (Index, Analytics)}
# every traced run reports every workload's layer metrics; a layer the
# workload does not call reads 0
LAYER_METRICS = {k: v for w in WORKLOADS.values() for k, v in w.LAYERS.items()}
