"""Statement/plan cache with GDFS eviction.

The reference keeps two query caches — SQLLogicalPlanCache and
SQLPhysicalPlanCache (src/lib/sql/sql_plan_cache.hpp) — both backed by a
Greedy-Dual-Frequency-Size policy (src/lib/cache/gdfs_cache.hpp): each entry
carries priority = L + frequency * cost / size, a hit re-inflates the
entry's priority, and eviction removes the minimum-priority entry and
raises the global inflation L to it, so cheap-to-rebuild or rarely-used
plans age out first while expensive, hot plans stick.

Here the cached value is the ANALYZED DataFrame for a statement's exact
text: Spark's `spark.sql` analyzes eagerly, so re-executing an identical
statement otherwise re-pays parsing + analysis + the engine's dialect
rewriting every time (the documented dominant cost of wide-expression
statements like `sim_pq_topk` — milliseconds to seconds of driver-side
Catalyst work, independent of data size). A cache hit returns the same
immutable lazy plan; Spark re-optimizes/executes it per action, so data
freshness within an unchanged catalog is untouched.

The physical-plan half lives in `Engine.fetch`: the first fetch of a cached
statement keeps its limited Dataset, and a hit re-executes that Dataset's
optimized and executed plan instead of building a new one — but only when
the plan holds no state between executions (no Exchange, broadcast, reused
exchange, subquery or adaptive node, whose first run leaves shuffle files,
a broadcast relation or a subquery result behind) and the statement folds
no time function (Spark turns `now()` into a literal while optimizing).
Each such hit still runs its job and reads the data: what is reused is a
plan, never a result. `physical_hits` counts them.

Validity is per relation. The catalog keeps a version per table, bumped
by the writes to that table (every DML and ALTER path goes through
`Catalog.replace_table`, compaction through `compact_table`), and an epoch,
bumped by every change a plan cannot be traced to one table through: DDL,
view and function changes, ROLLBACK [TO SAVEPOINT], the compaction purge,
writes to meta_* tables, exports (a plan may read the files), and every
other non-query statement the engine hands to Spark (SET, RESET, USE, ...).
Each bump sits where its change is made: in the `Catalog` method or the
engine handler. An entry stores the names its
statement can read — every identifier of its text, closed over the SQL of
the views and functions it names, an over-approximation that never misses
one — with the stamp `(epoch, versions of those names)` taken when it was
built; a lookup whose current stamp differs drops the entry. A write to one
table therefore leaves the cached reads of every other table valid.
While a transaction is open the engine bypasses the cache (two
visibilities share one session), so BEGIN and COMMIT move nothing: the
transaction's writes already moved their tables.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class _Entry:
    value: Any
    stamp: Any  # the validity stamp the entry was built under
    cost: float  # analysis wall-time, ms (GDFS cost term)
    size: float = 1.0
    frequency: int = 1
    priority: float = 0.0
    deps: tuple = ()  # what the stamp is computed over (the names read)


@dataclass
class GDFSCache:
    """gdfs_cache.hpp analog; thread-safe (engine statement lock already
    serializes callers, but the meta tables read stats lock-free)."""

    capacity: int = 1024
    hits: int = 0
    misses: int = 0
    evictions: int = 0
    invalidations: int = 0
    physical_hits: int = 0  # hits that re-executed a cached physical plan
    inflation: float = 0.0  # the GDFS "L"
    _entries: dict[str, _Entry] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def get(self, key: str, stamp: Callable[[tuple], Any]) -> Any | None:
        """The value stored under `key` if the stamp it was stored with
        equals `stamp(deps)`, the current stamp of the entry's deps."""
        with self._lock:
            e = self._entries.get(key)
            if e is None:
                self.misses += 1
                return None
            if e.stamp != stamp(e.deps):
                # stored under an older catalog state — drop it
                del self._entries[key]
                self.invalidations += 1
                self.misses += 1
                return None
            self.hits += 1
            e.frequency += 1
            e.priority = self.inflation + e.frequency * e.cost / e.size
            return e.value

    def put(self, key: str, value: Any, stamp: Any, cost: float,
            size: float = 1.0, deps: tuple = ()) -> None:
        with self._lock:
            if self.capacity <= 0:
                return
            if key not in self._entries and len(self._entries) >= self.capacity:
                victim = min(self._entries, key=lambda k: self._entries[k].priority)
                self.inflation = self._entries[victim].priority
                del self._entries[victim]
                self.evictions += 1
            self._entries[key] = _Entry(
                value=value, stamp=stamp, cost=cost, size=size,
                priority=self.inflation + cost / size, deps=deps,
            )

    def note_physical_hit(self) -> None:
        with self._lock:
            self.physical_hits += 1

    def clear(self) -> int:
        with self._lock:
            n = len(self._entries)
            self._entries.clear()
            self.inflation = 0.0
            return n

    def __len__(self) -> int:
        return len(self._entries)

    def snapshot(self) -> list[tuple[str, int, float, float]]:
        """(statement, frequency, cost_ms, priority) rows for
        meta_plan_cache_entries, hottest first."""
        with self._lock:
            return sorted(
                ((k, e.frequency, e.cost, e.priority)
                 for k, e in self._entries.items()),
                key=lambda r: -r[3],
            )
