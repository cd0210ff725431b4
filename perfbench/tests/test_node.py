"""The load generator's chain and answer check, without Spark."""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import node  # noqa: E402
from rust_evm_indexer_spark.sources.rpc_http import HttpRpcClient  # noqa: E402

HISTORY = 60


def _chain() -> node.Chain:
    c = node.Chain(3, HISTORY)
    c.reorg(2)  # replaces the top two history heights
    c.reveal(70)  # past the first generated chunk
    return c


def test_chain_links_across_chunks_and_reorgs():
    c = _chain()
    srv = node.rpc_server([c])
    try:
        rpc = HttpRpcClient(f"http://127.0.0.1:{srv.server_port}")
        assert rpc.get_block_number() == c.head
        parent = rpc.get_block_with_txs(node.START_BLOCK)["hash"]
        for h in range(node.START_BLOCK + 1, c.head + 1):
            b = rpc.get_block_with_txs(h)
            assert b["number"] == h and b["parent_hash"] == parent
            parent = b["hash"]
        assert rpc.get_block_with_txs(c.head + 1) is None
    finally:
        srv.shutdown()
        srv.server_close()
    assert c.replaced == {node.START_BLOCK + HISTORY - 2, node.START_BLOCK + HISTORY - 1}


def _logs_record(chain, req, rows, cursor=None):
    if cursor is None:
        cursor = (rows[-1][0], rows[-1][1]) if rows else (None, None)
    return ("post_logs", 0.01, 200, "0-1", None, req, (rows, cursor))


def _canonical(chain, req):
    view = chain.view()
    rows = [r for h in range(req["fromBlock"], req["toBlock"] + 1) for r in view.logs[h]
            if r[3] == req["address"]]
    return rows[: req["pageSize"]]


def test_check_catches_missing_and_wrong_log_rows():
    c = _chain()
    stable = node.START_BLOCK + HISTORY - 3
    logs = c.view().logs
    hot = Counter(r[3] for h in range(node.START_BLOCK, stable + 1)
                  for r in logs[h]).most_common(1)[0][0]
    req = {"address": hot, "fromBlock": node.START_BLOCK, "toBlock": stable, "pageSize": 5}
    want = _canonical(c, req)
    assert len(want) == 5
    later = {**req, "toBlock": c.head, "pageSize": 500}
    tail = _canonical(c, {**later, "toBlock": stable})

    def mismatches(*records):
        return node.check_records(c, list(records), stable)["mismatches"]

    assert mismatches(_logs_record(c, req, want)) == 0
    assert mismatches(_logs_record(c, later, tail)) == 0      # newer heights not committed yet
    assert mismatches(_logs_record(c, req, [])) == 1          # empty page over committed rows
    assert mismatches(_logs_record(c, req, want[:3])) == 1    # truncated page
    assert mismatches(_logs_record(c, req, want[1:])) == 1    # a row skipped
    assert mismatches(_logs_record(c, later, tail[:-1])) == 1
    assert mismatches(_logs_record(c, req, want, cursor=(None, None))) == 1


def test_failed_requests_are_counted_not_checked():
    c = _chain()
    replaced = min(c.replaced)
    recs = [
        ("get_block", 0.01, 0, "0-1", replaced - 5, str(replaced - 5), None),  # refused
        ("get_block", 0.01, 404, "0-2", replaced, str(replaced), None),        # reorged away
        ("get_block", 0.01, 500, "0-3", replaced - 5, str(replaced - 5), None),
    ]
    out = node.check_records(c, recs, replaced - 1)
    assert out["failed"] == 2 and out["mismatches"] == 0
    assert [node.ok_record(c, r) for r in recs] == [False, True, False]
