"""Byte-bounded LRU of decoded artifacts of immutable fragments.

A fragment directory is written once and never modified: commits,
rollbacks, compactions and deletes only ever write NEW fragment paths
and swap the manifest, and vacuum deletes whole unreferenced paths.  A
value decoded from ``(fragment path, artifact)`` therefore stays valid
for as long as any manifest references that path, and an entry for a
reclaimed path is never looked up again (no manifest names it) — it
just ages out of the LRU.  That makes the cache safe with no
invalidation protocol at all, across commits from other threads or
other processes.

One instance is owned by each :class:`TableStore`; its artifacts are
the decoded Arrow table of a fragment (``"table"``, the serving tier's
in-process scan input) and each bloom sidecar bitset
(``"bloom:<column>"``, the point-lookup pruning probe).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable

_MISSING = object()
#: bytes charged per entry on top of its value — the dict slot, key and
#: tuple — so zero-byte entries (negative markers) still count
_ENTRY_OVERHEAD = 128


class FragmentCache:
    """Thread-safe LRU bounded by the sum of its entries' byte sizes.

    ``budget`` caps the total; an entry larger than ``max_entry``
    (a quarter of the budget) is not admitted, so one oversized
    fragment can never flush the whole working set.  Loads run outside
    the lock: two threads missing on the same key may both decode it
    (the results are identical — the source is immutable), and the
    second insert simply replaces the first."""

    def __init__(self, budget: int):
        self.budget = budget
        self.max_entry = budget // 4
        self._entries: OrderedDict[tuple[str, str], tuple[Any, int]] = OrderedDict()
        self._bytes = 0
        self._lock = threading.Lock()

    @property
    def nbytes(self) -> int:
        return self._bytes

    def __len__(self) -> int:
        return len(self._entries)

    def keys(self) -> list[tuple[str, str]]:
        with self._lock:
            return list(self._entries)

    def get(self, key: tuple[str, str], default=None):
        with self._lock:
            hit = self._entries.get(key, _MISSING)
            if hit is _MISSING:
                return default
            self._entries.move_to_end(key)
            return hit[0]

    def put(self, key: tuple[str, str], value, nbytes: int) -> bool:
        """Insert ``value`` charged at ``nbytes`` (plus a fixed
        per-entry overhead), evicting least recently used entries until
        the total fits the budget.  Returns False (and caches nothing)
        past ``max_entry``."""
        if nbytes > self.max_entry:
            return False
        nbytes += _ENTRY_OVERHEAD
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self._bytes -= old[1]
            self._entries[key] = (value, nbytes)
            self._bytes += nbytes
            while self._bytes > self.budget:
                _, (_, evicted) = self._entries.popitem(last=False)
                self._bytes -= evicted
        return True

    def get_or_load(
        self, key: tuple[str, str], load: Callable[[], tuple[Any, int]]
    ):
        """Cached value for ``key``, else ``load()`` → ``(value,
        nbytes)``, offered to :meth:`put` and returned either way."""
        value = self.get(key, _MISSING)
        if value is _MISSING:
            value, nbytes = load()
            self.put(key, value, nbytes)
        return value
