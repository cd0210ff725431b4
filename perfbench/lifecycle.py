"""The chain workloads: ``chain_follow`` (closed-loop ingest with reorgs)
and ``serve_live`` (open-loop ingest beside closed-loop REST reads on one
store).  Both drive the engine through its public classes only:
``HttpRpcClient`` → ``EvmIngester`` → ``TableStore`` → ``EvmApi`` /
``ArrowServing`` and the Flask app."""

from __future__ import annotations

import random
import shutil
import threading
import time

from common import (
    WORK, Node, cpu_seconds, fresh_dir, median, pct, peak_rss_mb, start_spark,
    stop_jvm, timed_setups,
)
from node import START_BLOCK

CF_REVEAL = 5              # blocks the node reveals per closed-loop cycle
CF_CYCLES_PER_REORG = 3    # plain cycles before each reorg
CF_MAINTAIN_EVERY = 8      # chain_follow's EvmIngester(maintain_every_cycles=...)
SL_MAINTAIN_EVERY = 8      # serve_live: a run has fewer cycles, so it never maintains
SL_RATE = 0.5              # serve_live reveal rate, blocks/s (open loop)
SL_REORG_DEPTH = 2         # serve_live: one reorg per run, on the first tick
SL_IDLE_POLL_S = 0.2       # serve_live: wait after a cycle that found nothing
SL_HISTORY = 300           # compacted history blocks in the serve_live store
SL_TIP = 40                # uncompacted tip blocks on top of it
STORE_TABLES = ("blocks", "transactions", "logs", "log_rollup")


# -- tracing hooks -------------------------------------------------------------


def instrument(tracer, *, client=None, ingester=None, store=None, api=None, app=None):
    """Wrap the public calls of each layer with spans (traced runs only)."""
    if not tracer.enabled:
        return
    if client is not None:
        for m in ("get_block_number", "get_block_with_txs", "get_transaction_receipt"):
            tracer.wrap(client, m, f"rpc.{m}", "rpc")
    if ingester is not None:
        import rust_evm_indexer_spark.ingest.commit as commit_mod
        import rust_evm_indexer_spark.ingest.rollup as rollup_mod

        tracer.wrap(ingester, "run_cycle", "ingest.run_cycle", "ingest")
        tracer.wrap(ingester, "_enrich_receipts", "ingest.enrich_receipts",
                    "ingest", fanout=True)
        if not hasattr(commit_mod.explode_batch, "__wrapped__"):
            tracer.wrap(commit_mod, "explode_batch", "ingest.explode_batch", "ingest")
            tracer.wrap(rollup_mod, "rollup_partials", "ingest.rollup_partials", "ingest")
    if store is not None:
        for m in ("commit", "rollback_from", "maintain"):
            tracer.wrap(store, m, f"store.{m}", "store", jobs=True)
        for m in ("read", "current_version", "read_status", "stats"):
            tracer.wrap(store, m, f"store.{m}", "store")
    if api is not None:
        for m in ("post_logs", "get_block", "get_transaction", "get_stats"):
            tracer.wrap(api, m, f"api.{m}", "api")
        for m in ("get_logs_page", "get_block", "get_transaction"):
            tracer.wrap(api._serving, m, f"serving.{m}", "serving")
    if app is not None:
        inner = app.wsgi_app

        def traced_wsgi(environ, start_response):
            with tracer.span("api.http", "api", rid=environ.get("HTTP_X_REQUEST_ID")):
                return list(inner(environ, start_response))

        app.wsgi_app = traced_wsgi


def _store_layout(store) -> dict:
    st = store.stats()
    tables = st["tables"]
    rows = sum(t["rows"] for t in tables.values())
    return {
        "manifest_version": st["version"],
        "fragments": {t: tables.get(t, {}).get("fragments", 0) for t in STORE_TABLES},
        "bytes_per_row": sum(t["bytes"] for t in tables.values()) / max(rows, 1),
    }


def layer_metrics(tracer, t0: float, t1: float, cycles: list) -> dict:
    """Per-layer numbers of the chain workloads from the spans that
    started inside the measured window [t0, t1)."""
    win = tracer.window(t0, t1)
    named = lambda name: [s for s in win if s.name == name]  # noqa: E731
    busy = lambda name: sum(s.dur for s in named(name))  # noqa: E731
    rpc = [s for s in win if s.layer == "rpc"]
    commits = named("store.commit")
    receipts = [s for s in rpc if s.name == "rpc.get_transaction_receipt"]
    ingested = [c for c in cycles if c[0] == "ingested"]
    out = {
        "rpc.calls": len(rpc),
        "rpc.busy_s": sum(s.dur for s in rpc),
        "rpc.retries": sum(1 for s in rpc if s.error),
        "ingest.explode_batch.busy_s": busy("ingest.explode_batch"),
        "ingest.rollup_partials.busy_s": busy("ingest.rollup_partials"),
        "ingest.receipts_per_cycle": len(receipts) / max(len(ingested), 1),
        "ingest.cycles.ingested": len(ingested),
        "ingest.cycles.reorg": sum(1 for c in cycles if c[0] == "reorg"),
        "ingest.cycles.idle": sum(1 for c in cycles if c[0] == "idle"),
        "store.commit.busy_s": sum(s.dur for s in commits),
        "store.commit.p50_s": median([s.dur for s in commits]) if commits else 0.0,
        "store.commit.jobs": median([s.jobs for s in commits]) if commits else 0,
        "store.rollback_from.busy_s": busy("store.rollback_from"),
        "store.maintain.busy_s": busy("store.maintain"),
        "store.current_version.busy_s": busy("store.current_version"),
        "store.read_status.busy_s": busy("store.read_status"),
    }
    out.update(tracer.summary(t0, t1))
    return out


def _check_store(spark, store, node: Node, upto: int | None = None) -> dict:
    """Every stored height's hash and tx/log counts equal the node's
    canonical chain, which has no height the store lacks (up to ``upto``
    when given: the store's checkpoint while the node runs ahead)."""
    from pyspark.sql import functions as F

    canon = node.call("canonical")["blocks"]
    want = {h: (bh, nt, nl) for h, bh, nt, nl in canon if upto is None or h <= upto}
    blocks = {r[0]: r[1] for r in store.read("blocks").select(
        "block_number", "block_hash").collect()}
    ntx = dict(store.read("transactions").groupBy("block_number").agg(
        F.count("*")).collect())
    nlog = dict(store.read("logs").groupBy("block_number").agg(F.count("*")).collect())
    got = {h: (blocks[h], ntx.get(h, 0), nlog.get(h, 0)) for h in blocks}
    bad = sorted(h for h in set(want) | set(got) if want.get(h) != got.get(h))
    return {"heights": len(want), "mismatched_heights": bad[:10], "ok": not bad}


# -- chain_follow --------------------------------------------------------------


def chain_follow(seed: int, seconds: float, tracer) -> dict:
    from rust_evm_indexer_spark.ingest import EvmIngester
    from rust_evm_indexer_spark.sources.rpc_http import HttpRpcClient
    from rust_evm_indexer_spark.store import TableStore

    run_dir = fresh_dir(WORK / "run" / "chain_follow")
    node = Node(seed)
    try:
        def setup():
            with tracer.span("session.start", "session"):
                spark = start_spark(tracer.spark_conf(run_dir))
            tracer.spark = spark
            node.call("reset", history=0)
            store = TableStore(spark, fresh_dir(run_dir / "store"))
            client = HttpRpcClient(node.url)
            ing = EvmIngester(spark, client, store, start_block=START_BLOCK,
                              maintain_every_cycles=CF_MAINTAIN_EVERY,
                              backoff_base=0.05)
            # the store starts with one batch: its first commit pays the
            # session's first-job costs here, not in the measured loop
            node.call("reveal", n=CF_REVEAL)
            ing.run_cycle()
            return spark, store, client, ing

        (spark, store, client, ing), setup_s, setup_times = timed_setups(
            setup, lambda st: st[0].stop())
        instrument(tracer, client=client, ingester=ing, store=store)

        cycles: list = []      # (kind, seconds)
        recoveries: list = []
        failed = 0

        def cycle():
            nonlocal failed
            t = time.perf_counter()
            try:
                res = ing.run_cycle()
            except Exception:  # noqa: BLE001 — counted, the next cycle retries
                failed += 1
                if failed > 3:
                    raise
                cycles.append(("failed", time.perf_counter() - t))
                return None
            cycles.append((res.kind, time.perf_counter() - t))
            return res

        def catch_up(head: int) -> None:
            """Cycle until the store holds the node's head block."""
            for _ in range(20):
                res = cycle()
                if res is not None and res.kind == "ingested" and res.to_block == head:
                    return
            raise RuntimeError(f"store did not reach the node head {head}")

        rng = random.Random(seed)
        t0 = time.perf_counter()
        head = head0 = START_BLOCK + CF_REVEAL - 1
        while not recoveries or time.perf_counter() - t0 < seconds:
            for _ in range(CF_CYCLES_PER_REORG):
                with tracer.span("gen.reveal", "gen"):
                    head = node.call("reveal", n=CF_REVEAL)["head"]
                catch_up(head)
            with tracer.span("gen.reorg", "gen"):
                head = node.call("reorg", depth=rng.randint(1, 4))["head"]
            t_fork = time.perf_counter()
            catch_up(head)
            recoveries.append(time.perf_counter() - t_fork)
        t1 = time.perf_counter()
        wall = t1 - t0

        rss = peak_rss_mb()
        ingested = [dt for k, dt in cycles if k == "ingested"]
        detail = {
            "ingest_blocks_per_s": (head - head0) / wall,
            "ingest_cycle_p50_s": median(ingested),
            "reorg_recovery_p50_s": median(recoveries),
            "reorgs": len(recoveries),
            "cycles": len(cycles),
            "wall_s": wall,
        }
        layout = _store_layout(store)
        check = _check_store(spark, store, node)
        spark.stop()
        layers = {}
        if tracer.enabled:
            tracer.attribute_jobs()
            layers = layer_metrics(tracer, t0, t1, cycles)
        return {
            "correct": check["ok"],
            "attempted": len(cycles),
            "failed": failed,
            "e2e": {
                "setup_s": setup_s,
                "peak_rss_mb": rss["total"],
                "op_p50_ms": 1000 * detail["ingest_cycle_p50_s"],
                "ops_per_s": detail["ingest_blocks_per_s"],
            },
            "detail": {**detail, "setup_times": setup_times, "rss_mb": rss, "check": check,
                       "store": layout},
            "layers": {**layers, **_layout_metrics(layout)},
        }
    finally:
        node.close()


def _layout_metrics(layout: dict) -> dict:
    out = {f"store.fragments.{t}": n for t, n in layout["fragments"].items()}
    out["store.bytes_per_row"] = layout["bytes_per_row"]
    out["store.manifest_version"] = layout["manifest_version"]
    return out


# -- serve_live ----------------------------------------------------------------


SERVE_STORE = WORK / "build" / "serve_store"


def build_serve_store() -> None:
    """The serve_live store at run start (``build.py`` runs this once per
    checkout): a compacted history of SL_HISTORY blocks (one backfill
    commit, then maintain) and an uncompacted tip of SL_TIP blocks in
    5-block cycles.  The history comes from a fixed chain seed, so one
    build serves every run seed."""
    from rust_evm_indexer_spark.datagen import INDEXER_NAME
    from rust_evm_indexer_spark.ingest import EvmIngester
    from rust_evm_indexer_spark.ingest.backfill import backfill
    from rust_evm_indexer_spark.sources.rpc_http import HttpRpcClient
    from rust_evm_indexer_spark.store import TableStore

    node = Node(0)
    try:
        spark = start_spark()
        store = TableStore(spark, fresh_dir(SERVE_STORE))
        node.call("reset", history=SL_HISTORY + SL_TIP)
        client = HttpRpcClient(node.url)
        backfill(spark, client, store, START_BLOCK, START_BLOCK + SL_HISTORY - 1,
                 indexer_name=INDEXER_NAME, fetch_partitions=4)
        for table in STORE_TABLES:
            store.maintain(table, max_fragments=1)
        EvmIngester(spark, client, store, start_block=START_BLOCK).run_until_caught_up()
        spark.stop()
        stop_jvm()
    finally:
        node.close()


def _warm_up(spark, snap, node: Node, root) -> None:
    """One ingest cycle and one read of each kind on a throwaway copy of
    the store, so the JVM's first-use costs (code generation, class
    loading) of the commit and read paths are paid before the set-ups
    and the measured window, as in a long-running server."""
    from rust_evm_indexer_spark.api import EvmApi
    from rust_evm_indexer_spark.ingest import EvmIngester
    from rust_evm_indexer_spark.sources.rpc_http import HttpRpcClient
    from rust_evm_indexer_spark.store import TableStore

    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(snap, root)
    store = TableStore(spark, root)
    node.call("reset", history=SL_HISTORY + SL_TIP)
    head = node.call("reveal", n=1)["head"]
    EvmIngester(spark, HttpRpcClient(node.url), store, start_block=START_BLOCK).run_cycle()
    api = EvmApi.from_store(store)
    api.get_block(str(head))
    api.post_logs({"fromBlock": head - 20, "toBlock": head, "pageSize": 25})
    api.get_stats()
    shutil.rmtree(root, ignore_errors=True)


def serve_live(seed: int, seconds: float, tracer) -> dict:
    import logging

    from werkzeug.serving import make_server

    from rust_evm_indexer_spark.api import EvmApi, create_app
    from rust_evm_indexer_spark.ingest import EvmIngester
    from rust_evm_indexer_spark.sources.rpc_http import HttpRpcClient
    from rust_evm_indexer_spark.store import TableStore

    logging.getLogger("werkzeug").setLevel(logging.ERROR)  # no per-request log line
    run_dir = fresh_dir(WORK / "run" / "serve_live")
    node = Node(seed)
    try:
        snap = SERVE_STORE
        spark = start_spark()
        t = time.perf_counter()
        _warm_up(spark, snap, node, run_dir / "warm")
        warm_s = time.perf_counter() - t
        spark.stop()
        node.call("reset", history=SL_HISTORY + SL_TIP)
        commits: list = []  # (last_processed_block, monotonic time) per commit

        def setup():
            with tracer.span("session.start", "session"):
                spark = start_spark(tracer.spark_conf(run_dir))
            tracer.spark = spark
            root = run_dir / "store"
            shutil.rmtree(root, ignore_errors=True)
            shutil.copytree(snap, root)
            store = TableStore(spark, root)
            commit = store.commit

            def stamped_commit(*a, **k):
                out = commit(*a, **k)
                commits.append((k["status"]["last_processed_block"], time.monotonic()))
                return out

            store.commit = stamped_commit
            client = HttpRpcClient(node.url)
            ing = EvmIngester(spark, client, store, start_block=START_BLOCK,
                              maintain_every_cycles=SL_MAINTAIN_EVERY,
                              backoff_base=0.05)
            api = EvmApi.from_store(store)
            app = create_app(api)
            srv = make_server("127.0.0.1", 0, app, threaded=True)
            # shutdown() in the teardown waits up to one poll interval
            threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.1},
                             daemon=True).start()
            return spark, store, client, ing, api, app, srv

        def teardown(st):
            st[6].shutdown()
            st[6].server_close()
            st[0].stop()

        state, setup_s, setup_times = timed_setups(setup, teardown, repeats=9)
        spark, store, client, ing, api, app, srv = state
        instrument(tracer, client=client, ingester=ing, store=store, api=api, app=app)
        layout0 = _store_layout(store)
        commits.clear()

        # one reorg of a fixed depth on the first tick, when the store
        # holds the node's whole chain: every run rolls back the same
        # blocks (a later reorg may or may not catch them committed)
        reorgs = {1: SL_REORG_DEPTH} if seconds * SL_RATE >= 1 else {}
        node.send("serve", rate=SL_RATE, seconds=seconds, reorgs=reorgs,
                  seed=seed, api=f"http://127.0.0.1:{srv.server_port}")
        box: list = []
        waiter = threading.Thread(target=lambda: box.append(node.recv()))
        waiter.start()
        cycles: list = []
        ranges: list = []   # (from_block, to_block, commit time) per ingesting cycle
        failed_cycles = 0
        t0 = time.perf_counter()
        cpu0 = cpu_seconds()
        while waiter.is_alive():
            t = time.perf_counter()
            try:
                res = ing.run_cycle()
            except Exception:  # noqa: BLE001 — counted, the next cycle retries
                failed_cycles += 1
                cycles.append(("failed", time.perf_counter() - t))
                if failed_cycles > 3:
                    raise
                continue
            cycles.append((res.kind, time.perf_counter() - t))
            if res.kind == "ingested":
                ranges.append((res.from_block, res.to_block, commits[-1][1]))
            elif res.kind == "idle":
                time.sleep(SL_IDLE_POLL_S)
        t1 = time.perf_counter()
        cpu = cpu_seconds() - cpu0
        waiter.join()
        gen = box[0]
        rss = peak_rss_mb()
        last = store.read_status()["last_processed_block"]

        revealed = {int(h): t for h, t in node.call("reveals")["revealed_at"].items()}
        committed_at: dict = {}
        for lo, hi, t in ranges:
            for h in range(lo, hi + 1):
                committed_at[h] = t       # the last commit of a height wins
        fresh = [committed_at[h] - revealed[h]
                 for h in revealed if h > START_BLOCK + SL_HISTORY + SL_TIP
                 and h in committed_at and committed_at[h] >= revealed[h]]
        ingested = [dt for k, dt in cycles if k == "ingested"]
        # latency and throughput count answered requests only: a request
        # that fails fast must not make the read path look faster
        answered = [r for r in gen["records"] if r[4]]
        lat = [r[1] for r in answered]
        logs = [r[1] for r in answered if r[0] == "post_logs"]
        mix = {}
        for kind in sorted({r[0] for r in answered}):
            d = [r[1] for r in answered if r[0] == kind]
            mix[kind] = {"n": len(d), "p50_ms": 1000 * median(d)}
        detail = {
            "read_p50_ms": 1000 * median(lat),
            "read_p99_ms": 1000 * pct(lat, 99),
            "logs_p50_ms": 1000 * median(logs),
            "reads_per_s": len(lat) / gen["wall"],
            "requests": len(lat),
            "freshness_p50_s": median(fresh) if fresh else None,
            "freshness_p90_s": pct(fresh, 90) if fresh else None,
            "fresh_blocks": len(fresh),
            "last_processed_block": last,
            "node_head": gen["head"],
            "reorgs": len(gen["reorgs"]),
            "ingest_cycle_p50_s": median(ingested) if ingested else None,
            "wall_s": gen["wall"],
            "warm_up_s": warm_s,
            "cpu_s": cpu,
            "mix": mix,
            "alive_clients": gen["alive_clients"],
        }
        layout = _store_layout(store)
        store_check = _check_store(spark, store, node, upto=last)
        teardown(state)
        layers = {}
        if tracer.enabled:
            tracer.attribute_jobs()
            layers = {**layer_metrics(tracer, t0, t1, cycles),
                      **serve_layers(tracer, t0, t1, gen)}
        check = gen["check"]
        return {
            "correct": store_check["ok"] and check["mismatches"] == 0
            and gen["alive_clients"] == 0,
            "attempted": len(gen["records"]),
            "failed": check["failed"],
            "e2e": {
                "setup_s": setup_s,
                "peak_rss_mb": rss["total"],
                "op_p50_ms": detail["read_p50_ms"],
                "ops_per_s": detail["reads_per_s"],
            },
            "protocol": {"reveal_rate_blocks_per_s": SL_RATE,
                         "fragments_at_start": layout0["fragments"]},
            "detail": {**detail, "setup_times": setup_times, "rss_mb": rss, "answers": check,
                       "store_check": store_check, "store_at_start": layout0,
                       "store": layout, "gen": {k: gen[k] for k in (
                           "reveal_lag_p99_ms", "backlog_blocks_max", "reorgs")}},
            "layers": {**layers, **_layout_metrics(layout)},
        }
    finally:
        node.close()


def serve_layers(tracer, t0: float, t1: float, gen: dict) -> dict:
    """Per-layer numbers of the read path from the spans of [t0, t1)."""
    win = tracer.window(t0, t1)

    def ms(name, q=50):
        d = [s.dur for s in win if s.name == name]
        return 1000 * pct(d, q) if d else 0.0

    serving = [s for s in win if s.layer == "serving"]
    fallbacks = sum(1 for s in serving if s.error == "ServingFallback")
    data_reqs = sum(1 for s in win if s.name in (
        "api.post_logs", "api.get_block", "api.get_transaction"))
    serving_by_rid = {s.rid: s.dur for s in serving if s.error is None}
    overhead = [dt - serving_by_rid[rid] for _, dt, _, rid, ok in gen["records"]
                if ok and rid in serving_by_rid]
    return {
        "serving.get_logs_page.p50_ms": ms("serving.get_logs_page"),
        "serving.get_block.p50_ms": ms("serving.get_block"),
        "serving.get_transaction.p50_ms": ms("serving.get_transaction"),
        "serving.fallbacks": fallbacks,
        "serving.fast_share": (len(serving) - fallbacks) / max(data_reqs, 1),
        "api.post_logs.p50_ms": ms("api.post_logs"),
        "api.post_logs.p99_ms": ms("api.post_logs", 99),
        "api.get_block.p50_ms": ms("api.get_block"),
        "api.get_transaction.p50_ms": ms("api.get_transaction"),
        "api.get_stats.p50_ms": ms("api.get_stats"),
        "api.overhead_p50_ms": 1000 * median(overhead) if overhead else 0.0,
        "gen.reveal_lag_p99_ms": gen["reveal_lag_p99_ms"],
        "gen.backlog_blocks_max": gen["backlog_blocks_max"],
    }
