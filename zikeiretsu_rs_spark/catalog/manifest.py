"""Per-metrics block manifest — the `_blocklist` analog.

The reference keeps a compressed `blocklist/<metrics>.list` file of
`BlockMetaInfo { block_timestamp: [since_sec, until_sec), timestamp_num }`
entries sorted by `until_sec` (block_list/mod.rs:109-120,199-215), used
for (a) time-range block pruning, (b) distinct-ts limit pushdown,
(c) `.describe` / `.block_list` metadata queries.

In the rebuild, (a) is served by Parquet partition pruning + row-group
stats, so the manifest exists for (b) limit-aware file pruning and
(c) metadata-query parity. It is a small JSON document per metrics —
metrics are discovered by listing this directory, mirroring
`fetch_all_metrics` scanning `blocklist/*.list` (storage/api/read.rs:33-81).

Concurrency: writes go through a tempfile + atomic rename locally
(the POSIX equivalent of the reference's lockfile-guarded
read-modify-write, storage/api/write.rs:191-202) or a single atomic
object PUT on object stores (fsio). Multi-writer setups should
serialize persists per metrics at the application level (as the
reference does with its per-metrics lockfile).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from . import fsio


@dataclass(frozen=True)
class BlockEntry:
    """One persisted batch (reference BlockMetaInfo,
    block_list/mod.rs:109-120). Ranges are nanosecond half-open
    [since_nanos, until_nanos]... inclusive `until` like the reference's
    block_timestamp (both bounds are observed data extremes)."""

    since_nanos: int
    until_nanos: int  # max observed ts (inclusive bound)
    rows: int
    distinct_ts: int  # reference `timestamp_num` (write.rs:176-182)
    written_at_nanos: int
    paths: tuple[str, ...] = ()  # dt partition dirs touched by this batch


# Process-local manifest cache: the `use_cache` query-setting analog
# of the reference's blocklist LRU (storage/cache/block_cache.rs:13-52
# caches downloaded block lists; SURVEY §7 prescribes NOT rebuilding
# the LRU machinery — parsed-manifest memoization is the one-line
# Spark-side equivalent). Semantics match the reference: with
# `use_cache = true` (the dialect default) a repeated query serves the
# manifest from memory WITHOUT re-fetching — another process's
# concurrent writes become visible on the next `use_cache = false`
# (or force_sync_cloud) query, exactly the reference's refresh knob.
# Same-process writes stay coherent: add_entry writes through.
_MANIFEST_CACHE: dict[str, list["BlockEntry"]] = {}


class Manifest:
    def __init__(self, db_dir: str, metrics: str):
        self.db_dir = db_dir
        self.metrics = metrics
        self.path = fsio.join(db_dir, "blocklist", f"{metrics}.json")

    # -- read ----------------------------------------------------------
    def exists(self) -> bool:
        return fsio.exists(self.path)

    def load(self, use_cache: bool = False) -> list[BlockEntry]:
        if use_cache and self.path in _MANIFEST_CACHE:
            return list(_MANIFEST_CACHE[self.path])
        if not self.exists():
            return []
        doc = fsio.read_json(self.path)
        entries = [
            BlockEntry(
                e["since_nanos"],
                e["until_nanos"],
                e["rows"],
                e["distinct_ts"],
                e["written_at_nanos"],
                tuple(e.get("paths", ())),
            )
            for e in doc["blocks"]
        ]
        _MANIFEST_CACHE[self.path] = list(entries)
        return entries

    def updated_at_nanos(self) -> int:
        if not self.exists():
            return 0
        return fsio.read_json(self.path).get("updated_at_nanos", 0)

    # -- write ---------------------------------------------------------
    def add_entry(self, entry: BlockEntry, updated_at_nanos: int) -> None:
        """Sorted insert by until_nanos (BlockList::add_blockmeta,
        block_list/mod.rs:199-215), atomic rewrite."""
        entries = self.load()
        entries.append(entry)
        entries.sort(key=lambda e: (e.until_nanos, e.since_nanos))
        self._write(entries, updated_at_nanos)

    def rewrite(self, entries: list[BlockEntry], updated_at_nanos: int) -> None:
        entries = sorted(entries, key=lambda e: (e.until_nanos, e.since_nanos))
        self._write(entries, updated_at_nanos)

    def _write(self, entries: list[BlockEntry], updated_at_nanos: int) -> None:
        doc = {
            "metrics": self.metrics,
            "updated_at_nanos": updated_at_nanos,
            "blocks": [dict(asdict(e), paths=list(e.paths)) for e in entries],
        }
        fsio.write_json_atomic(self.path, doc)
        # write-through: a same-process reader with use_cache=true sees
        # its own writes immediately
        _MANIFEST_CACHE[self.path] = list(entries)

    # -- queries -------------------------------------------------------
    def range(self) -> tuple[int, int] | None:
        """min since / max until over blocks (BlockList::range,
        block_list/mod.rs:166-194)."""
        entries = self.load()
        if not entries:
            return None
        return min(e.since_nanos for e in entries), max(e.until_nanos for e in entries)

    @staticmethod
    def search(
        entries: list[BlockEntry],
        since_nanos: int | None = None,
        until_nanos: int | None = None,
    ) -> list[BlockEntry]:
        """Range search over blocks sorted by until: the contiguous
        slice from the first block with `until >= since` through the
        last block with `since <= until`. Port of `BlockList::search`
        (block_list/mod.rs:254-328, spec pinned by its
        test_block_timestamps_search_1..5) including its boundary
        quirk: a block starting exactly at the exclusive `until` bound
        is INCLUDED (the row-level ts filter excludes its rows, so the
        over-inclusion is harmless and kept for parity)."""
        if not entries:
            return []
        lo = 0
        if since_nanos is not None:
            lo = next(
                (
                    i
                    for i, e in enumerate(entries)
                    if e.until_nanos >= since_nanos
                ),
                None,
            )
            if lo is None:
                return []
        hi = len(entries) - 1
        if until_nanos is not None:
            hi = next(
                (
                    i
                    for i in range(len(entries) - 1, -1, -1)
                    if entries[i].since_nanos <= until_nanos
                ),
                None,
            )
            if hi is None:
                return []
        return entries[lo : hi + 1]

    @staticmethod
    def prune_for_limit(
        entries: list[BlockEntry], n: int, *, tail: bool = False
    ) -> list[BlockEntry]:
        """L4 limit pushdown to block selection: the minimal prefix
        (head) / suffix (tail) of `entries` — sorted by until_nanos —
        whose cumulative `distinct_ts` reaches `n`. Port of
        `filter_block_metas_by_limit` (storage/api/read.rs:114-168,
        spec pinned by read.rs:470-512) including the exact-boundary
        rule: when the cumulative count hits `n` exactly, one extra
        adjacent block is kept in case it starts/ends on the same
        timestamp.

        Beyond the reference, the selection is then EXPANDED to every
        block overlapping the selected time bound — cross-block
        duplicate timestamps make per-block distinct counts overcount
        (the reference's own TODO acknowledges this), and the expansion
        guarantees the pruned file set contains every row inside the
        bound. Callers still verify sufficiency against the data (see
        translator._apply_limit)."""
        if not entries or n <= 0:
            return list(entries)
        order = list(reversed(entries)) if tail else list(entries)
        cum = 0
        selected: list[BlockEntry] | None = None
        for idx, e in enumerate(order):
            cum += e.distinct_ts
            if cum >= n:
                keep = idx + 2 if (cum == n and idx < len(order) - 1) else idx + 1
                selected = order[:keep]
                break
        if selected is None:
            return list(entries)
        # expand to a FIXED POINT: an entry pulled in by overlap can
        # extend the bound and overlap further entries
        if tail:
            bound = min(e.since_nanos for e in selected)
            while True:
                sel = [e for e in entries if e.until_nanos >= bound]
                new_bound = min(e.since_nanos for e in sel)
                if new_bound == bound:
                    return sel
                bound = new_bound
        bound = max(e.until_nanos for e in selected)
        while True:
            sel = [e for e in entries if e.since_nanos <= bound]
            new_bound = max(e.until_nanos for e in sel)
            if new_bound == bound:
                return sel
            bound = new_bound

    @staticmethod
    def list_metrics(db_dir: str) -> list[str]:
        """Discover metrics by listing manifest files
        (fetch_all_metrics, storage/api/read.rs:33-81)."""
        return fsio.list_json_names(fsio.join(db_dir, "blocklist"))
