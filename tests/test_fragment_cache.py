"""FragmentCache: the byte-bounded LRU a TableStore keeps for decoded
fragment artifacts (store/fragment_cache.py)."""

from __future__ import annotations

import sys
import threading

from rust_evm_indexer_spark.store.fragment_cache import (
    _ENTRY_OVERHEAD,
    FragmentCache,
)


def test_lru_eviction_and_admission():
    cache = FragmentCache(4 * (100 + _ENTRY_OVERHEAD))
    for k in "abcd":
        assert cache.put((k, "table"), k, 100)
    assert cache.get(("a", "table")) == "a"  # a is now most recent
    assert cache.put(("e", "table"), "e", 100)
    assert cache.keys() == [(k, "table") for k in "cdae"]
    assert cache.nbytes == 4 * (100 + _ENTRY_OVERHEAD)
    # past max_entry nothing is cached and nothing is evicted
    assert not cache.put(("huge", "table"), "x", cache.max_entry + 1)
    assert ("huge", "table") not in cache.keys() and len(cache) == 4
    # re-inserting a key replaces it without double counting
    assert cache.put(("c", "table"), "c2", 10)
    assert cache.get(("c", "table")) == "c2"
    assert cache.nbytes == 3 * (100 + _ENTRY_OVERHEAD) + 10 + _ENTRY_OVERHEAD


def test_get_or_load_caches_none_as_a_hit():
    cache = FragmentCache(1 << 20)
    loads = []

    def load():
        loads.append(1)
        return None, 0  # a negative marker ("too large") is a value too

    assert cache.get_or_load(("p", "table"), load) is None
    assert cache.get_or_load(("p", "table"), load) is None
    assert len(loads) == 1


def test_concurrent_put_get_keeps_byte_total_exact():
    """More threads than cores hammer overlapping keys with a tiny
    switch interval: a lost update in the byte accounting would leave
    ``nbytes`` different from the sum of the surviving entries."""
    cache = FragmentCache(64 * (50 + _ENTRY_OVERHEAD))
    errors: list[BaseException] = []

    def worker(seed):
        try:
            for i in range(3000):
                key = (f"f{(seed * 7 + i) % 97}", "table")
                if cache.get(key) is None:
                    cache.put(key, i, 10 + (i % 50))
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors
    assert cache.nbytes <= cache.budget
    assert cache.nbytes == sum(n for _, n in cache._entries.values())
