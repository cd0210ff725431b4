"""Per-fragment bloom sidecars: the point-lookup index tier.

The reference serves ``WHERE address = $1`` from a Postgres index
(init.sql:71-74); min/max fragment stats can't prune hash-like keys, so
TableStore builds a bloom per (fragment, indexed column) and
``read(..., equals=...)`` drops definitely-excluded fragments before
Spark lists files.  Pruning must be CONSERVATIVE: identical results to
a full scan, always."""

from __future__ import annotations

from pyspark.sql import functions as F

from rust_evm_indexer_spark import datagen
from rust_evm_indexer_spark.ingest import EvmIngester
from rust_evm_indexer_spark.sources.rpc import MockRpcClient
from rust_evm_indexer_spark.store import TableStore
from rust_evm_indexer_spark.store import bloom as B


# -- pure bloom kernel -------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded_fp_rate():
    present = [f"0xkey{i:06d}" for i in range(1000)]
    bits, m, k, n = B.build_bloom(present)
    assert n == 1000
    assert all(B.might_contain(bits, m, k, v) for v in present)
    absent = [f"0xother{i:06d}" for i in range(10_000)]
    fp = sum(B.might_contain(bits, m, k, v) for v in absent)
    # 10 bits/key, k=7 → theoretical ~0.8%; allow slack, deterministic seed-free
    assert fp / len(absent) < 0.03


def test_bloom_normalization_is_case_insensitive():
    bits, m, k, _ = B.build_bloom(["0xAbCdEf"])
    assert B.might_contain(bits, m, k, "0xABCDEF")
    assert B.might_contain(bits, m, k, "0xabcdef")


# -- store integration -------------------------------------------------------


def _mk_store(spark, tmp_path, name="bloomstore"):
    return TableStore(
        spark, tmp_path / name, bloom_columns={"pts": ("addr",)}
    )


def _commit_batches(spark, store, n_batches=6, rows_per=40):
    """Disjoint address sets per fragment (addresses encode their batch)."""
    for b in range(n_batches):
        rows = [
            (b * 1000 + i, f"0xb{b:02d}a{i:04d}", 100 + b)
            for i in range(rows_per)
        ]
        df = spark.createDataFrame(rows, "id: long, addr: string, block_number: long")
        store.commit({"pts": df})


def test_bloom_prunes_fragments_on_point_lookup(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store)
    full = store.read("pts")
    n_full_files = len(full.inputFiles())
    probe = "0xb03a0007"  # lives only in batch 3's fragment
    pruned = store.read("pts", equals={"addr": probe})
    pruned_files = set(pruned.inputFiles())
    # the true fragment is retained; most others are bloom-pruned (allow
    # a false-positive fragment or two, never a false negative)
    assert len(pruned_files) < n_full_files
    assert len(pruned_files) <= 3 * (n_full_files // 6)
    got = pruned.filter(F.col("addr") == probe).collect()
    want = full.filter(F.col("addr") == probe).collect()
    assert got == want and len(got) == 1


def test_bloom_probe_is_case_insensitive_against_store(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store, n_batches=3)
    pruned = store.read("pts", equals={"addr": "0xB01A0001"})
    assert pruned.filter(F.lower(F.col("addr")) == "0xb01a0001").count() == 1


def test_bloom_absent_key_prunes_every_fragment(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store, n_batches=4)
    pruned = store.read("pts", equals={"addr": "0xdeadbeef_nowhere"})
    # all fragments definitely exclude the key → empty frame, right schema
    assert pruned.count() == 0
    assert set(pruned.columns) == {"id", "addr", "block_number"}


def test_bloom_composes_with_block_range_pruning(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store)
    # block range keeps batches 2-4; bloom then keeps only batch 3
    pruned = store.read(
        "pts", min_block=102, max_block=104, equals={"addr": "0xb03a0001"}
    )
    full = store.read("pts")
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert pruned.filter(F.col("addr") == "0xb03a0001").count() == 1


def test_null_and_unknown_column_probes_keep_everything(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store, n_batches=3)
    full_n = len(store.read("pts").inputFiles())
    assert len(store.read("pts", equals={"addr": None}).inputFiles()) == full_n
    assert len(store.read("pts", equals={"nope": "x"}).inputFiles()) == full_n


# -- real EVM ingest path ----------------------------------------------------


def _ingested_store(spark, tmp_path, n_blocks=20):
    chain = datagen.generate_chain(n_blocks=n_blocks, seed=11)
    store = TableStore(spark, tmp_path / "evmstore")
    ing = EvmIngester(
        spark,
        MockRpcClient(chain),
        store,
        start_block=datagen.START_BLOCK,
        backoff_base=0.01,
    )
    ing.run_until_caught_up()
    return store


def test_evm_defaults_build_blooms_and_get_logs_matches(spark, tmp_path):
    from rust_evm_indexer_spark.operators import GetLogsFilter, get_logs

    store = _ingested_store(spark, tmp_path)
    m = store.current_manifest()
    for frag in m.tables["logs"]:
        assert frag.blooms and "contract_address" in frag.blooms
    addr = store.read("logs").select("contract_address").first()[0]
    flt = GetLogsFilter(address=addr, page_size=1000)
    via_bloom = get_logs(
        store.read("logs", equals={"contract_address": addr}), flt
    ).collect()
    via_full = get_logs(store.read("logs"), flt).collect()
    assert via_bloom == via_full and len(via_bloom) > 0


def test_compaction_rebuilds_blooms_and_still_prunes(spark, tmp_path):
    store = _ingested_store(spark, tmp_path)
    before = store.read("logs").orderBy("id").collect()
    store.compact("logs", max_fragments=3, sort_within=("contract_address",))
    m = store.current_manifest()
    frags = m.tables["logs"]
    assert len(frags) <= 3
    for frag in frags:
        assert frag.blooms and "transaction_hash" in frag.blooms
    after = store.read("logs").orderBy("id").collect()
    assert after == before
    # a tx hash present in exactly one compacted range prunes to it
    tx = before[0]["transaction_hash"]
    pruned = store.read("logs", equals={"transaction_hash": tx})
    assert len(pruned.inputFiles()) < len(store.read("logs").inputFiles()) or len(frags) == 1
    assert (
        pruned.filter(F.col("transaction_hash") == tx).count()
        == store.read("logs").filter(F.col("transaction_hash") == tx).count()
    )


def test_catalog_bloom_entry_prunes_tx_fragments(spark):
    """The driver-gated store_tx_bloom_lookup entry must actually PRUNE:
    the compact fixture keeps transactions per-batch-fragmented (8
    fragments), a tx hash lives in exactly one, and min/max stats can't
    help — so the bloom tier must cut the file list."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from rust_evm_indexer_spark.catalog import _ensure_compact_fixture

    root = _ensure_compact_fixture(spark)
    store = TableStore(spark, root / "store")
    probe = pc.min(
        pq.read_table(str(root / "txs_snapshot"), columns=["tx_hash"])["tx_hash"]
    ).as_py()
    full = store.read("transactions")
    pruned = store.read("transactions", equals={"tx_hash": probe})
    n_full, n_pruned = len(full.inputFiles()), len(pruned.inputFiles())
    assert n_full >= 4  # per-batch fragmentation is the point of the fixture
    assert n_pruned <= max(2, n_full // 4)
    assert pruned.filter(F.col("tx_hash") == probe).count() == 1


def test_delete_equals_rewrites_only_containing_fragments(spark, tmp_path):
    """Targeted delete: fragments whose bloom excludes the key keep
    their PATHS (zero I/O), only the containing fragment is rewritten,
    and the deleted key is gone while everything else survives."""
    store = _mk_store(spark, tmp_path)
    _commit_batches(spark, store)
    before = {f.path for f in store.current_manifest().tables["pts"]}
    n_before = store.read("pts").count()
    stats = store.delete_equals("pts", "addr", "0xb02a0005")
    assert stats["deleted_rows"] == 1 and stats["rewritten"] == 1
    # bloom bounded the scan: ≤ a couple FP fragments beyond the true one
    assert stats["candidates"] <= 3
    after_frags = store.current_manifest().tables["pts"]
    kept_paths = {f.path for f in after_frags} & before
    assert len(kept_paths) == len(before) - 1  # 5 of 6 untouched
    assert store.read("pts").count() == n_before - 1
    assert store.read("pts").filter(F.col("addr") == "0xb02a0005").count() == 0
    # rewritten fragment got fresh blooms; a second delete of the same
    # key is a no-op that doesn't burn a manifest version
    v = store.current_manifest().version
    stats2 = store.delete_equals("pts", "addr", "0xb02a0005")
    assert stats2["rewritten"] == 0 and store.current_manifest().version == v


def test_delete_equals_is_case_insensitive_and_null_safe(spark, tmp_path):
    store = TableStore(spark, tmp_path / "nullstore", bloom_columns={"pts": ("addr",)})
    df = spark.createDataFrame(
        [(1, "0xAAA", 1), (2, None, 1), (3, "0xbbb", 1)],
        "id: long, addr: string, block_number: long",
    )
    store.commit({"pts": df})
    stats = store.delete_equals("pts", "addr", "0xaaa")
    assert stats["deleted_rows"] == 1
    left = {r["id"] for r in store.read("pts").collect()}
    assert left == {2, 3}  # the NULL-key row must survive the rewrite


def test_rollback_rewrite_keeps_blooms(spark, tmp_path):
    store = _ingested_store(spark, tmp_path)
    m = store.current_manifest()
    # pick a height strictly inside some fragment so rollback rewrites it
    frag = next(
        f for f in m.tables["logs"] if f.min_block is not None and f.max_block > f.min_block
    )
    store.rollback_from(frag.max_block)
    m2 = store.current_manifest()
    for f in m2.tables["logs"]:
        assert f.blooms and "contract_address" in f.blooms


def test_bloom_sidecar_cache_hits_and_caps(spark, tmp_path, monkeypatch):
    """Repeated point probes must read each (fragment, column) sidecar
    from disk ONCE — fragments are immutable, so the store's fragment
    cache can never go stale — and the cache stays bounded by bytes,
    evicting the least recently used entry."""
    from rust_evm_indexer_spark.store import TableStore
    from rust_evm_indexer_spark.store import bloom as _bloom
    from rust_evm_indexer_spark.store.fragment_cache import (
        _ENTRY_OVERHEAD,
        FragmentCache,
    )

    store = TableStore(spark, tmp_path / "cstore",
                       bloom_columns={"pts": ("addr",)}, dict_columns={})
    store.commit({"pts": spark.createDataFrame(
        [(i, f"0x{i:04x}", 1) for i in range(50)],
        "id: long, addr: string, block_number: long")})
    frag = store.current_manifest().tables["pts"][0]
    assert len(store._fragment_cache) == 0
    reads = []
    real_read = _bloom.read_sidecar

    def counting_read(fdir, col):
        reads.append(col)
        return real_read(fdir, col)

    monkeypatch.setattr(_bloom, "read_sidecar", counting_read)
    for probe in ("0x0001", "0x0002", "0x0001", "0xffff"):
        store._frag_keeps(frag, {"addr": probe})
    assert reads == ["addr"]
    key = (frag.path, "bloom:addr")
    assert store._fragment_cache.keys() == [key]
    # the cached bitset answers identically to a fresh read
    assert store._fragment_cache.get(key) == \
        real_read(store.root / frag.path, "addr")
    # cap: fill a budget of exactly four bitsets with other entries; the
    # re-read bitset then evicts the least recently used one
    n = len(store._fragment_cache.get(key))
    store._fragment_cache = FragmentCache(4 * (n + _ENTRY_OVERHEAD))
    stale = [(f"stale{i}", "bloom:c") for i in range(4)]
    for k in stale:
        assert store._fragment_cache.put(k, b"x" * n, n)
    store._fragment_cache.get(stale[0])  # now most recently used
    store._frag_keeps(frag, {"addr": "0x0003"})
    assert reads == ["addr", "addr"]
    assert store._fragment_cache.keys() == [stale[2], stale[3], stale[0], key]
    assert store._fragment_cache.nbytes <= store._fragment_cache.budget