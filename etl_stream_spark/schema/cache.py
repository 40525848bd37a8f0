"""TTL + LRU schema cache (SURVEY.md §1.1, §4).

Mirrors the reference's ``SchemaCache`` policy — 300 s TTL, 10 000-entry
cap with LRU eviction, periodic expired-entry cleanup
(``src/schema_cache.rs:11,43-54,71,113-182``). In the Spark rebuild the
catalog usually supplies schemas, but long-lived pipeline drivers still
cache per-table ``StructType``s (and their PK lists) to avoid re-reading
footers/catalogs on every reconcile tick. Pure driver-side Python — data
never flows through this.
"""

from __future__ import annotations

import time
from collections import OrderedDict
from collections.abc import Callable
from typing import Generic, TypeVar

V = TypeVar("V")

DEFAULT_TTL_S = 300.0
DEFAULT_MAX_ENTRIES = 10_000


class TtlLruCache(Generic[V]):
    def __init__(
        self,
        ttl_s: float = DEFAULT_TTL_S,
        max_entries: int = DEFAULT_MAX_ENTRIES,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.ttl_s = ttl_s
        self.max_entries = max_entries
        self._clock = clock
        self._entries: OrderedDict[str, tuple[float, V]] = OrderedDict()

    def get(self, key: str) -> V | None:
        hit = self._entries.get(key)
        if hit is None:
            return None
        stored_at, value = hit
        if self._clock() - stored_at > self.ttl_s:
            del self._entries[key]
            return None
        self._entries.move_to_end(key)  # LRU touch
        return value

    def put(self, key: str, value: V) -> None:
        self._entries[key] = (self._clock(), value)
        self._entries.move_to_end(key)
        while len(self._entries) > self.max_entries:
            self._entries.popitem(last=False)  # evict least-recently-used

    def get_or_load(self, key: str, load: Callable[[], V]) -> V:
        value = self.get(key)
        if value is None:
            value = load()
            self.put(key, value)
        return value

    def cleanup_expired(self) -> int:
        """Drop expired entries (the periodic cleanup task at
        ``schema_cache.rs:113-182``); returns count removed."""
        now = self._clock()
        stale = [k for k, (t, _) in self._entries.items() if now - t > self.ttl_s]
        for k in stale:
            del self._entries[k]
        return len(stale)

    def __len__(self) -> int:
        return len(self._entries)
