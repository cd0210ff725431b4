"""Load generator for the chain workloads.

One separate process holds a seeded EVM chain and serves it over
Ethereum JSON-RPC on the wire, so the engine reads it through
``HttpRpcClient`` exactly as it would read a real node.  The chain is
the engine's own fixture chain: ``datagen.generate_chain`` blocks (the
FIXTURES.md distribution: empty blocks, NULL-rate topics, a hot
contract) behind a ``MockRpcClient``, which also reveals blocks
(``advance_head``) and serves reorgs (``schedule_reorg``).  This module
adds only the wire encoding, more chain when the revealed head nears
its tip, the reveal stamps, and for ``serve_live`` the REST clients and
the answer check.

The parent drives it over stdin/stdout, one JSON object per line:

    {"op": "reset", "history": N}        chain = N fixed history blocks
    {"op": "reveal", "n": 5}             closed loop: next n blocks
    {"op": "reorg", "depth": d}          replace the top d blocks by d+1
    {"op": "serve", ...}                 open loop + REST clients, then stats
    {"op": "canonical"}                  per-height hash/tx/log summary
    {"op": "reveals"}                    reveal stamps of canonical heights
    {"op": "quit"}

Times are ``time.monotonic()``, which is one system-wide clock on Linux,
so the parent can subtract them from its own stamps.

Threads: the RPC server answers from a pool of ``RPC_WORKERS`` threads
and the REST clients are ``CLIENTS`` threads, so the generator never
uses more than ``nproc`` (4) threads for load.  The listen backlog is
larger than the ingester's receipt fan-out (10), so no connection waits
on a SYN retransmit while the pool is busy.

The REST traffic of ``serve_live`` is an assumption, not a measurement:
no request mix of the reference indexer is published.  See
``README.md`` ("serve_live traffic") for what is assumed and why.
"""

from __future__ import annotations

import json
import random
import sys
import threading
import time
import urllib.error
import urllib.request
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from rust_evm_indexer_spark import datagen  # noqa: E402
from rust_evm_indexer_spark.sources.rpc import MockRpcClient  # noqa: E402

START_BLOCK = datagen.START_BLOCK
RPC_WORKERS = 2
CLIENTS = 2
LISTEN_BACKLOG = 64
HISTORY_SEED = 20_240_101  # the serve_live history is the same for every seed
CHUNK = 64                 # blocks generated at a time past the history


def log_id(block: int, tx_index: int, log_index: int) -> int:
    """The engine's deterministic log id (functions/evm.pack_log_id)."""
    return (block << 30) | (tx_index << 12) | log_index


def _q(v):
    """A quantity (int or decimal string) as a 0x-hex wire quantity."""
    return None if v is None else hex(int(v))


def wire_block(b: dict | None) -> dict | None:
    """``MockRpcClient.get_block_with_txs`` → ``eth_getBlockByNumber``."""
    if b is None:
        return None
    return {
        "hash": b["hash"], "number": _q(b["number"]), "parentHash": b["parent_hash"],
        "timestamp": _q(b["timestamp"]), "gasUsed": _q(b["gas_used"]),
        "gasLimit": _q(b["gas_limit"]), "baseFeePerGas": _q(b["base_fee_per_gas"]),
        "transactions": [
            {"hash": t["hash"], "transactionIndex": _q(t["transaction_index"]),
             "from": t["from"], "to": t["to"], "value": _q(t["value"]),
             "gasPrice": _q(t["gas_price"]), "maxFeePerGas": _q(t["max_fee_per_gas"]),
             "maxPriorityFeePerGas": _q(t["max_priority_fee_per_gas"]),
             "gas": _q(t["gas"]), "input": t["input"]}
            for t in b["transactions"]
        ],
    }


def wire_receipt(r: dict | None) -> dict | None:
    """``MockRpcClient.get_transaction_receipt`` → ``eth_getTransactionReceipt``."""
    if r is None:
        return None
    return {
        "transactionHash": r["transaction_hash"], "status": _q(r["status"]),
        "logs": [{"logIndex": _q(lg["log_index"]), "address": lg["address"],
                  "data": lg["data"], "topics": lg["topics"]} for lg in r["logs"]],
    }


class Chain:
    """The fixture chain behind a ``MockRpcClient``, with reveal stamps.

    ``history`` blocks come from a fixed seed and are revealed at once;
    later blocks come ``CHUNK`` at a time from the run seed, each chunk
    re-parented onto the tip before it."""

    def __init__(self, seed: int, history: int):
        self.lock = threading.RLock()
        self.rng = random.Random(seed)
        base = datagen.generate_chain(history, HISTORY_SEED) if history else self._chunk(
            START_BLOCK, None)
        self.rpc = MockRpcClient(base, head=START_BLOCK + history - 1)
        now = time.monotonic()
        self.revealed_at = {h: now for h in range(START_BLOCK, self.head + 1)}
        self.replaced: set[int] = set()
        self._view = None

    @property
    def head(self) -> int:
        return self.rpc.head

    def _chunk(self, start: int, parent: str | None) -> datagen.Chain:
        more = datagen.generate_chain(CHUNK, self.rng.getrandbits(32), start_block=start)
        for b in more.blocks:
            if parent is not None and b["block_number"] == start:
                b["parent_hash"] = parent
        return more

    def _extend(self, n: int) -> None:
        """Generate chain until ``n`` more blocks can be revealed."""
        c = self.rpc.chain
        while c.blocks[-1]["block_number"] < self.head + n:
            tip = c.blocks[-1]  # generate_chain and generate_fork_at end on the tip
            more = self._chunk(tip["block_number"] + 1, tip["block_hash"])
            c = datagen.Chain(c.blocks + more.blocks, c.transactions + more.transactions,
                              c.logs + more.logs, c.status)
        if c is not self.rpc.chain:
            self.rpc = MockRpcClient(c, head=self.head)

    def reveal(self, n: int) -> int:
        with self.lock:
            self._extend(n)
            self.rpc.advance_head(n)
            now = time.monotonic()
            for h in range(self.head - n + 1, self.head + 1):
                self.revealed_at[h] = now
            self._view = None
            return self.head

    def reorg(self, depth: int) -> int:
        """Replace the top ``depth`` blocks by a branch one block longer."""
        with self.lock:
            fork_height = self.head - depth + 1
            self.replaced.update(range(fork_height, self.head + 1))
            self.rpc.schedule_reorg(depth, seed=self.rng.getrandbits(32))  # reveals the branch
            now = time.monotonic()
            for h in range(fork_height, self.head + 1):
                self.revealed_at[h] = now
            self._view = None
            return fork_height

    def view(self) -> "CanonicalView":
        with self.lock:
            if self._view is None:
                self._view = CanonicalView(self.rpc)
            return self._view


class CanonicalView:
    """The revealed canonical chain, indexed for the requests and checks."""

    def __init__(self, rpc: MockRpcClient):
        logs_by_tx: dict[str, list[dict]] = {}
        for lg in rpc.chain.logs:
            logs_by_tx.setdefault(lg["transaction_hash"], []).append(lg)
        self.head = rpc.head
        self.blocks: dict[int, dict] = {}
        self.logs: dict[int, list[tuple]] = {}  # engine row shape, (block, id) order
        self.tx_from: dict[str, tuple[int, str]] = {}
        for h in range(START_BLOCK, rpc.head + 1):
            b = rpc.get_block_with_txs(h)
            self.blocks[h] = b
            rows = []
            for t in b["transactions"]:
                self.tx_from[t["hash"]] = (h, t["from"])
                for lg in logs_by_tx.get(t["hash"], []):
                    rows.append((h, log_id(h, t["transaction_index"], lg["log_index_in_tx"]),
                                 t["hash"], lg["contract_address"], lg["topic0"]))
            self.logs[h] = sorted(rows)

    def summary(self) -> list[list]:
        """[height, hash, n_tx, n_logs] for every canonical height."""
        return [[h, b["hash"], len(b["transactions"]), len(self.logs[h])]
                for h, b in self.blocks.items()]


class _PooledHTTPServer(HTTPServer):
    """HTTP server answering from a fixed thread pool."""

    request_queue_size = LISTEN_BACKLOG

    def __init__(self, addr, handler, workers: int):
        super().__init__(addr, handler)
        self._pool = ThreadPoolExecutor(max_workers=workers)

    def process_request(self, request, client_address):
        self._pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad connection must not stop the node
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)


def rpc_server(chain_ref: list) -> _PooledHTTPServer:
    """JSON-RPC over ``chain_ref[0]`` (a list, so ``reset`` can swap it)."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            method, params = body["method"], body.get("params", [])
            chain = chain_ref[0]
            with chain.lock:
                if method == "eth_blockNumber":
                    result = hex(chain.rpc.get_block_number())
                elif method == "eth_getBlockByNumber":
                    result = wire_block(chain.rpc.get_block_with_txs(int(params[0], 16)))
                elif method == "eth_getTransactionReceipt":
                    result = wire_receipt(chain.rpc.get_transaction_receipt(params[0]))
                else:
                    result = None
            data = json.dumps({"jsonrpc": "2.0", "id": body.get("id"), "result": result}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    srv = _PooledHTTPServer(("127.0.0.1", 0), Handler, RPC_WORKERS)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


# -- serve_live: REST clients ----------------------------------------------


def _http(api: str, method: str, path: str, body: dict | None, rid: str):
    req = urllib.request.Request(
        api + path,
        method=method,
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json", "X-Request-Id": rid},
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, None
    except OSError:  # refused or reset: a failed request, not a dead client
        return 0, None


def _recent(rng: random.Random, committed: int) -> int:
    """A committed height skewed toward the tip (assumed: exponential
    recency with a 12-block mean, about the last 2.5 minutes of mainnet)."""
    return max(START_BLOCK, committed - int(rng.expovariate(1 / 12)))


# one cycle of a client's requests: exact proportions, seeded order
# (assumed: block 30%, transaction 15%, stats 10%, logs by address 25%,
# a 3-page topic0 walk 15%, the hot address without bounds 5%)
MIX = ("block",) * 6 + ("tx",) * 3 + ("stats",) * 2 + ("addr",) * 5 + ("topic", "hot")


def rest_client(api: str, cid: int, seed: int, stop: threading.Event,
                chain: Chain, records: list) -> None:
    """Closed loop: the next request goes out when the last one returns.

    Each record is (kind, seconds, status, request id, height, request,
    answer) where ``height`` is the block a point lookup aimed at and
    ``answer`` holds just what the correctness check needs.  Addresses
    and topics are those of a log drawn at random from the history, so
    they are as skewed as the fixture chain (its hot contract and the
    Transfer topic dominate); heights are skewed toward the most recent
    committed block the client has seen in ``/stats`` (the store holds
    the whole history when the run starts)."""
    rng = random.Random(seed * 1000 + cid)
    view = chain.view()
    committed = view.head
    history_logs = [r for rows in view.logs.values() for r in rows]
    hot = Counter(r[3] for r in history_logs).most_common(1)[0][0]
    n = 0

    def call(kind, method, path, body=None):
        nonlocal n
        n += 1
        rid = f"{cid}-{n}"
        t0 = time.perf_counter()
        status, out = _http(api, method, path, body, rid)
        return kind, time.perf_counter() - t0, status, out, rid

    def logs(body):
        kind, dt, st, out, rid = call("post_logs", "POST", "/logs", body)
        records.append((kind, dt, st, rid, None, body, _logs_answer(out, st)))
        return out if st == 200 else None

    while not stop.is_set():
        slots = list(MIX)
        rng.shuffle(slots)
        for slot in slots:
            if stop.is_set():
                break
            if slot == "stats":
                kind, dt, st, out, rid = call("get_stats", "GET", "/stats")
                if st == 200 and out.get("lastProcessedBlock") is not None:
                    committed = max(committed, out["lastProcessedBlock"])
                records.append((kind, dt, st, rid, None, None, None))
            elif slot == "addr":
                hi = _recent(rng, committed)
                logs({"address": rng.choice(history_logs)[3],
                      "fromBlock": max(START_BLOCK, hi - 20), "toBlock": hi, "pageSize": 25})
            elif slot == "topic":
                body = None
                for _ in range(3):  # a walk that runs out starts again
                    if body is None:
                        body = {"topic0": rng.choice(history_logs)[4],
                                "fromBlock": max(START_BLOCK, _recent(rng, committed) - 40),
                                "pageSize": 20}
                    out = logs(dict(body))
                    if out is None or out["nextCursorBlock"] is None:
                        body = None
                    else:
                        body = {**body, "cursorBlock": out["nextCursorBlock"],
                                "cursorLogId": out["nextCursorLogId"]}
            elif slot == "hot":
                logs({"address": hot, "pageSize": 25})
            elif slot == "block":
                h = _recent(rng, committed)
                b = chain.view().blocks.get(h)
                ident = b["hash"] if b is not None and rng.random() < 0.5 else str(h)
                kind, dt, st, out, rid = call("get_block", "GET", f"/block/{ident}")
                ans = (out["blockNumber"], out["blockHash"]) if st == 200 else None
                records.append((kind, dt, st, rid, h, ident, ans))
            else:
                b = None
                while b is None or not b["transactions"]:
                    h = _recent(rng, committed)
                    b = chain.view().blocks.get(h)
                t = rng.choice(b["transactions"])
                kind, dt, st, out, rid = call("get_transaction", "GET",
                                              f"/transaction/{t['hash']}")
                ans = (out["blockNumber"], out["txHash"], out["fromAddress"]) if st == 200 else None
                records.append((kind, dt, st, rid, h, t["hash"], ans))


def _logs_answer(out, status):
    if status != 200:
        return None
    rows = [(r["blockNumber"], r["id"], r["transactionHash"], r["address"], r["topic0"])
            for r in out["logs"]]
    return rows, (out["nextCursorBlock"], out["nextCursorLogId"])


def ok_record(chain: Chain, rec: tuple) -> bool:
    """A request that succeeded: a 200, or a 404 for a point lookup
    whose block a reorg replaced after it was chosen."""
    st, h = rec[2], rec[4]
    return st == 200 or (st == 404 and h in chain.replaced)


def check_records(chain: Chain, records: list, stable: int) -> dict:
    """Compare every answer about a never-replaced height with the chain.

    Heights up to ``stable`` were committed before the first request and
    never reorged, so a ``POST /logs`` answer must hold every matching
    canonical row of those heights (up to the page size), empty answers
    included; beyond them it must be a prefix of the canonical rows, as
    commits land in height order.  The next cursor is the last row."""
    view = chain.view()
    bad: list = []
    checked = 0
    failed = sum(1 for r in records if not ok_record(chain, r))
    for kind, _, st, _, _, req, ans in records:
        if st != 200 or ans is None:
            continue
        if kind == "get_block":
            h = int(req) if req.isdigit() else ans[0]
            if h in chain.replaced or h not in view.blocks:
                continue
            checked += 1
            want_hash = view.blocks[h]["hash"]
            if ans != (h, want_hash) or (not req.isdigit() and req != want_hash):
                bad.append((kind, req, ans))
        elif kind == "get_transaction":
            if req not in view.tx_from or view.tx_from[req][0] in chain.replaced:
                continue
            h, sender = view.tx_from[req]
            checked += 1
            if ans != (h, req, sender):
                bad.append((kind, req, ans))
        elif kind == "post_logs":
            rows, cursor = ans
            rows = [tuple(r) for r in rows]
            lo = max(req.get("fromBlock", START_BLOCK), req.get("cursorBlock", START_BLOCK))
            hi = req.get("toBlock", view.head)
            # compare up to the first replaced height: an answer may come
            # from either branch there
            cut = min([h for h in chain.replaced if lo <= h <= hi] + [hi + 1])
            want = [
                r for h in range(lo, cut) for r in view.logs[h]
                if ("address" not in req or r[3] == req["address"])
                and ("topic0" not in req or r[4] == req["topic0"])
                and ("cursorBlock" not in req
                     or (r[0], r[1]) > (req["cursorBlock"], req["cursorLogId"]))
            ][: req["pageSize"]]
            must = [r for r in want if r[0] <= stable]
            got = [r for r in rows if r[0] < cut]
            checked += 1
            if (got[: len(must)] != must or got != want[: len(got)]
                    or cursor != ((rows[-1][0], rows[-1][1]) if rows else (None, None))):
                bad.append((kind, req, rows[:2], cursor))
    return {"checked": checked, "mismatches": len(bad), "failed": failed,
            "examples": bad[:3]}


def serve(chain: Chain, cmd: dict) -> dict:
    """Open-loop reveal schedule beside closed-loop REST clients."""
    rate, seconds, api = cmd["rate"], cmd["seconds"], cmd["api"]
    reorg_at = {int(k): d for k, d in cmd["reorgs"].items()}  # tick -> depth
    stable = chain.head - max(reorg_at.values(), default=0)
    stop = threading.Event()
    records: list = []
    clients = [
        threading.Thread(target=rest_client,
                         args=(api, i, cmd["seed"], stop, chain, records))
        for i in range(CLIENTS)
    ]
    for c in clients:
        c.start()
    lags, backlog_max, reorgs = [], 0, []
    t0 = time.monotonic()
    tick = 0
    while True:
        due = t0 + (tick + 1) / rate
        if due - t0 > seconds:
            break
        now = time.monotonic()
        if now < due:
            time.sleep(due - now)
            now = time.monotonic()
        backlog_max = max(backlog_max, int((now - due) * rate))
        lags.append(now - due)
        tick += 1
        if tick in reorg_at:
            d = reorg_at[tick]
            fork = chain.reorg(d)
            reorgs.append([fork, d, time.monotonic()])
        else:
            chain.reveal(1)
    time.sleep(max(0.0, t0 + seconds - time.monotonic()))
    stop.set()
    for c in clients:
        c.join(timeout=120)
    wall = time.monotonic() - t0
    lags.sort()
    return {
        "wall": wall,
        "head": chain.head,
        "reorgs": reorgs,
        "reveal_lag_p99_ms": 1000 * lags[min(len(lags) - 1, int(0.99 * len(lags)))] if lags else 0.0,
        "backlog_blocks_max": backlog_max,
        "records": [(k, dt, st, rid, ok_record(chain, r))
                    for r in records for k, dt, st, rid in [r[:4]]],
        "check": check_records(chain, records, stable),
        "alive_clients": sum(c.is_alive() for c in clients),
    }


def main() -> None:
    seed = int(sys.argv[1])
    chain_ref = [Chain(seed, 0)]
    srv = rpc_server(chain_ref)
    out = sys.stdout
    out.write(json.dumps({"url": f"http://127.0.0.1:{srv.server_port}"}) + "\n")
    out.flush()
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["op"]
        chain = chain_ref[0]
        if op == "reset":
            chain_ref[0] = Chain(seed, cmd["history"])
            reply = {"head": chain_ref[0].head}
        elif op == "reveal":
            reply = {"head": chain.reveal(cmd["n"]), "t": time.monotonic()}
        elif op == "reorg":
            fork = chain.reorg(cmd["depth"])
            reply = {"head": chain.head, "fork": fork, "t": time.monotonic()}
        elif op == "serve":
            reply = serve(chain, cmd)
        elif op == "canonical":
            reply = {"blocks": chain.view().summary(), "replaced": sorted(chain.replaced)}
        elif op == "reveals":
            reply = {"revealed_at": {h: chain.revealed_at[h] for h in chain.view().blocks}}
        elif op == "quit":
            break
        else:
            reply = {"error": f"unknown op {op}"}
        out.write(json.dumps(reply) + "\n")
        out.flush()
    srv.shutdown()
    srv.server_close()


if __name__ == "__main__":
    main()
