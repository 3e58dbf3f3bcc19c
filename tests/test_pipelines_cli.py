"""End-to-end tests of the user surface: swap-CSV source, the two
analytics pipelines, the index CLI, and the REST job API — the
"reference user switches engines" workflows."""

from __future__ import annotations

import json
import math
import random
import urllib.request

import pytest
from pyspark.sql import functions as F

from etl_evm_chain_spark.functions.timeseries import zscore
from etl_evm_chain_spark.operators import backtest as bt
from etl_evm_chain_spark.pipelines import (
    FeeMlParams,
    MeanRevertParams,
    consensus_price_grid,
    fee_ml,
    meanrevert,
)
from etl_evm_chain_spark.sources.csv_source import read_swap_csvs
from tests.test_timeseries_kit import _sliding


def _write_swap_csvs(tmp_path):
    """Synthetic {STABLE}ETH{FEE}_Swap.csv set with the fixture traits
    FIXTURES.md B1 requires: malformed ticks, duplicate tx_hash,
    irregular spacing, both polarities."""
    rng = random.Random(7)
    base = 1700000000
    for name, polarity in (("USDCETH500_Swap.csv", -1),
                           ("DAIETH500_Swap.csv", -1),
                           ("USDTETH3000_Swap.csv", 1)):
        lines = ["timestamp,tick,tx_hash"]
        t = base
        for i in range(600):
            t += rng.randint(5, 120)            # irregular spacing
            tick = polarity * (200000 + int(40 * math.sin(i / 25)) + rng.randint(-8, 8))
            lines.append(f"{t},{tick},0x{i:04x}")
            if i % 97 == 0:
                lines.append(f"{t+1},{tick},0x{i:04x}")      # duplicate tx_hash
            if i % 101 == 0:
                lines.append(f"{t+2},notanumber,0xbad{i:x}")  # malformed tick
        (tmp_path / name).write_text("\n".join(lines))
    (tmp_path / "IGNOREME.csv").write_text("timestamp,tick,tx_hash\n1,2,0x0")
    return str(tmp_path / "*_Swap.csv")


def test_read_swap_csvs_discovery_and_cleaning(spark, tmp_path):
    glob = _write_swap_csvs(tmp_path)
    df = read_swap_csvs(spark, glob)
    pools = {r["pool"] for r in df.select("pool").distinct().collect()}
    assert pools == {"USDC/ETH:500", "DAI/ETH:500", "USDT/ETH:3000"}
    # malformed ticks were dropped by the parser
    assert df.filter("tick IS NULL").count() == 0
    assert df.count() > 1700


def test_meanrevert_pipeline_both_modes(spark, tmp_path):
    glob = _write_swap_csvs(tmp_path)
    trades_z, monthly = meanrevert(spark, glob, MeanRevertParams(
        freq_s=60, mode="zscore", lookback=30, entry_z=1.5, exit_z=0.5,
        max_hold=200))
    tz = trades_z.collect()
    assert len(tz) > 0
    assert all(r["exit_ts"] > r["entry_ts"] for r in tz)
    assert monthly.count() >= 1

    trades_p, _ = meanrevert(spark, glob, MeanRevertParams(
        freq_s=60, mode="pct", threshold=0.2))
    for r in trades_p.collect():
        assert r["side"] in ("long", "short")


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_meanrevert_runs_backtest_once(spark, tmp_path):
    glob = _write_swap_csvs(tmp_path)
    params = MeanRevertParams(freq_s=60, mode="zscore", lookback=30,
                              entry_z=1.5, exit_z=0.5, max_hold=200)
    trades, monthly = meanrevert(spark, glob, params)
    # both outputs read the stored trades: no FSM or window to re-run
    for df in (trades, monthly):
        plan = _optimized(df)
        assert "FlatMapGroupsInPandas" not in plan and "Window" not in plan, plan

    # the same trades as the FSM fed with the sliding-frame z-score
    grid = consensus_price_grid(spark, glob, params.freq_s)
    n_pools = grid.select("pool").distinct().count()
    g = grid.filter(F.col("n_pools") == n_pools) \
        .withColumn("dev", F.col("price") - F.col("consensus"))
    g = _sliding(g, value="dev", key="pool", order="bucket_ts", n=params.lookback,
                 min_periods=params.lookback, ddof=0) \
        .withColumn("z", zscore("dev", "roll_mean", "roll_std"))
    want = bt.meanrevert_fsm_zscore(
        g, pool="pool", ts="bucket_ts", price="price", z="z",
        entry_z=params.entry_z, exit_z=params.exit_z, max_hold=params.max_hold)

    def rows(df):
        return sorted((r["pool"], r["entry_ts"], r["exit_ts"], r["side"],
                       r["entry_price"], r["exit_price"], r["held_rows"],
                       r["entry_z"], r["exit_z"]) for r in df.collect())

    got, ref = rows(trades), rows(want)
    assert len(got) == len(ref) > 0
    for a, b in zip(got, ref):
        assert a[:7] == b[:7]
        assert a[7:] == pytest.approx(b[7:], rel=1e-9)


def test_meanrevert_rejects_unknown_mode(spark, tmp_path):
    glob = _write_swap_csvs(tmp_path)
    with pytest.raises(ValueError, match="'pct' or 'zscore'"):
        meanrevert(spark, glob, MeanRevertParams(mode="zcore"))


def test_fee_ml_pipeline(spark, tmp_path):
    glob = _write_swap_csvs(tmp_path)
    metrics, signals = fee_ml(spark, glob, FeeMlParams(
        freq_s=60, ema_hl_s=600, std_win_s=600, horizon_s=300,
        target_ticks=2.0))
    m = metrics.collect()[0]
    assert m["n_train"] > 0 and m["n_test"] > 0
    assert 0.0 <= m["accuracy"] <= 1.0
    sigs = signals.collect()
    assert {r["pool"] for r in sigs} <= {"USDC/ETH:500", "DAI/ETH:500",
                                         "USDT/ETH:3000"}
    assert all(r["signal"] in ("LONG", "NO TRADE") for r in sigs)


def test_index_cli_end_to_end(spark, tmp_path):
    import json as _json

    from etl_evm_chain_spark.cli import main as cli_main
    from etl_evm_chain_spark.sources.abi import RAW_LOG_SCHEMA
    from tests.test_evm import SWAPISH, _mklog, _word

    raw_dir = str(tmp_path / "raw")
    logs = [
        _mklog([SWAPISH.topic0, "0x" + _word(1)], [_word(10), _word(1)],
               block=5, idx=0),
        _mklog([SWAPISH.topic0, "0x" + _word(2)], [_word(20), _word(2)],
               block=50, idx=1),
    ]
    spark.createDataFrame(logs, RAW_LOG_SCHEMA).write.parquet(raw_dir)

    abi = [{"type": "event", "name": "Swapish", "inputs": [
        {"name": "sender", "type": "address", "indexed": True},
        {"name": "amount", "type": "uint256", "indexed": False},
        {"name": "tick", "type": "int24", "indexed": False}]}]
    (tmp_path / "pool.json").write_text(_json.dumps(abi))
    out = str(tmp_path / "out")
    (tmp_path / "config.yaml").write_text(f"""
rpc_url: http://unused:8545
start_block: 10
storage:
  type: parquet
  path: {out}
contracts:
  - name: Pool
    address: "0x{'11' * 20}"
    abi: pool.json
    events: [Swapish]
""")
    rc = cli_main(["index", "--config", str(tmp_path / "config.yaml"),
                   "--raw-logs", raw_dir])
    assert rc == 0
    back = spark.read.parquet(out)
    rows = back.collect()
    assert len(rows) == 1 and rows[0]["tick"] == 2  # start_block filter applied


@pytest.mark.usefixtures("spark")
def test_rest_api_lifecycle(spark):
    from etl_evm_chain_spark.api import make_server, serve_forever_in_thread

    done = []

    def runner(s, body):
        s.range(10000).selectExpr("sum(id)").collect()
        done.append(body["contracts"][0]["name"])

    server = make_server(spark, 0, runner=runner)
    port = server.server_address[1]
    serve_forever_in_thread(server)
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/jobs",
            data=json.dumps({"contracts": [{"name": "T", "address": "0xabc"}]}).encode(),
            method="POST")
        with urllib.request.urlopen(req) as r:
            assert r.status == 202
            job_id = json.loads(r.read())["job_id"]

        st = server.registry.wait(job_id, timeout=60)
        assert st.status == "finished" and done == ["T"]

        with urllib.request.urlopen(f"http://127.0.0.1:{port}/jobs/{job_id}") as r:
            assert json.loads(r.read())["status"] == "finished"

        bad = urllib.request.Request(
            f"http://127.0.0.1:{port}/jobs", data=b"{}", method="POST")
        try:
            urllib.request.urlopen(bad)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()


def test_curate_cli_end_to_end(spark, tmp_path, capsys):
    import json as _json

    from etl_evm_chain_spark.cli import main as cli_main

    docs_dir = str(tmp_path / "docs")
    rows = [(i, "word " * (i % 40 + 5), "src%d" % (i % 3)) for i in range(300)]
    spark.createDataFrame(rows, "doc_id long, text string, source string") \
        .write.parquet(docs_dir)

    out = str(tmp_path / "curated")
    rc = cli_main(["curate", "--docs", docs_dir, "--out", out,
                   "--sample", "0.5", "--context", "256"])
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(stats) <= {"train", "val", "test"}
    n_total = sum(stats.values())
    assert 0 < n_total < 300          # sampling dropped rows
    back = spark.read.parquet(out)
    assert back.count() == n_total
    assert {"split", "pack_id", "n_tok"} <= set(back.columns)
    # split must be a physical partition (train readers prune val/test)
    assert (tmp_path / "curated" / "split=train").exists()


def test_index_cli_live_fetch_via_fake_node(spark, tmp_path):
    """`index` without --raw-logs fetches live through the JSON-RPC
    client (chunked eth_getLogs against a local fake node) and decodes
    to the configured sink — the reference's headline mode end-to-end.
    """
    import json as _json
    import threading

    from etl_evm_chain_spark.cli import main as cli_main
    from tests.test_evm import SWAPISH, _word
    from tests.test_rpc import _FakeNode

    node = _FakeNode()
    node.latest = 60
    node.logs = [
        {
            "address": "0x" + "11" * 20,
            "topics": [SWAPISH.topic0, "0x" + _word(i)],
            "data": "0x" + _word(10 * i) + _word(i),
            "blockNumber": hex(i * 10),
            "transactionHash": f"0x{'ee' * 31}{i:02x}",
            "logIndex": "0x0",
        }
        for i in range(1, 6)            # blocks 10..50
    ]
    t = threading.Thread(target=node.serve_forever, daemon=True)
    t.start()
    try:
        abi = [{"type": "event", "name": "Swapish", "inputs": [
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "amount", "type": "uint256", "indexed": False},
            {"name": "tick", "type": "int24", "indexed": False}]}]
        (tmp_path / "pool.json").write_text(_json.dumps(abi))
        out = str(tmp_path / "out")
        (tmp_path / "config.yaml").write_text(f"""
rpc_url: {node.url}
start_block: 20
chunk_size: 10
storage:
  type: parquet
  path: {out}
contracts:
  - name: Pool
    address: "0x{'11' * 20}"
    abi: pool.json
    events: [Swapish]
""")
        rc = cli_main(["index", "--config", str(tmp_path / "config.yaml")])
        assert rc == 0
        rows = spark.read.parquet(out).collect()
        # start_block 20 keeps blocks 20..50 → ticks 2..5
        assert sorted(r["tick"] for r in rows) == [2, 3, 4, 5]
        assert all(r["contract_name"] == "Pool" for r in rows)
    finally:
        node.shutdown()


def test_index_cli_incremental_reorg_safe(spark, tmp_path):
    """`index --progress` runs one reorg-safe catch-up step per call:
    confirmation lag, resume past the watermark, hash-anchored rewind
    that physically replaces orphaned rows."""
    import json as _json
    import threading

    from etl_evm_chain_spark.cli import main as cli_main
    from tests.test_evm import SWAPISH, _word

    from tests.test_rpc import _FakeNode

    node = _FakeNode()
    node.latest = 60

    def mklog(i, amount):
        return {
            "address": "0x" + "11" * 20,
            "topics": [SWAPISH.topic0, "0x" + _word(i)],
            "data": "0x" + _word(amount) + _word(i),
            "blockNumber": hex(i * 10),
            "transactionHash": f"0x{'ee' * 31}{i:02x}",
            "logIndex": "0x0",
        }

    node.logs = [mklog(i, 10 * i) for i in range(1, 6)]  # blocks 10..50
    t = threading.Thread(target=node.serve_forever, daemon=True)
    t.start()
    try:
        abi = [{"type": "event", "name": "Swapish", "inputs": [
            {"name": "sender", "type": "address", "indexed": True},
            {"name": "amount", "type": "uint256", "indexed": False},
            {"name": "tick", "type": "int24", "indexed": False}]}]
        (tmp_path / "pool.json").write_text(_json.dumps(abi))
        out = str(tmp_path / "out")
        (tmp_path / "config.yaml").write_text(f"""
rpc_url: {node.url}
start_block: 0
chunk_size: 10
storage:
  type: parquet
  path: {out}
contracts:
  - name: Pool
    address: "0x{'11' * 20}"
    abi: pool.json
    events: [Swapish]
""")
        argv = ["index", "--config", str(tmp_path / "config.yaml"),
                "--progress", str(tmp_path / "prog"),
                "--confirmations", "5"]
        assert cli_main(argv) == 0          # step 1: blocks 0..55
        table = out + "/Pool_Swapish"
        ticks = sorted(r["tick"]
                       for r in spark.read.parquet(table).collect())
        assert ticks == [1, 2, 3, 4, 5]

        # chain grows; a new log lands at block 58
        node.logs.append(mklog(6, 60) | {"blockNumber": hex(58)})
        node.latest = 70
        assert cli_main(argv) == 0          # step 2: 56..65 picks it up
        ticks = sorted(r["tick"]
                       for r in spark.read.parquet(table).collect())
        assert ticks == [1, 2, 3, 4, 5, 6]

        # reorg: blocks >= 50 move to branch b — block 50's log is
        # replaced (amount changes), block 58's log is orphaned
        for b in range(50, 71):
            node.salts[b] = "b"
        node.logs = [mklog(i, 10 * i) for i in range(1, 5)] \
            + [mklog(5, 555)]
        assert cli_main(argv) == 0          # step 3: rewind + replay
        rows = {r["tick"]: int(r["amount"])
                for r in spark.read.parquet(table).collect()}
        assert rows == {1: 10, 2: 20, 3: 30, 4: 40, 5: 555}
    finally:
        node.shutdown()
