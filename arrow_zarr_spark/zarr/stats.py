"""Sharded sidecar storage for per-object [min, max] statistics.

Writer statistics (``STATS_ATTR_KEY``) normally live inline in each
array's attribute JSON — one [lo, hi] pair per store object, parsed by
every planner. That is O(n_objects) metadata: fine at shard
granularity, ruinous on a million-object array (a multi-hundred-MB
zarr.json). Before round 8 the writers simply DROPPED stats past
``STATS_MAX_OBJECTS`` — losing planning-time pruning on exactly the
billion-object stores that need it most (r7 verdict item 5).

This module keeps pruning alive at any object count by moving
past-cap entry lists into fixed-size sidecar blocks::

    __stats__/<array>/<block>.json   # JSON list of up to
                                     # STATS_BLOCK_ENTRIES entries

while the attribute value becomes a tiny marker document::

    {"sidecar": 3, "n_entries": 180000, "block_entries": 65536}

(``sidecar`` = format version-cum-block-count; readers validate the
reassembled length). The planner resolves the marker LAZILY — blocks
load only during a pruning pass, only for predicate columns — so
un-filtered scans never touch the sidecar, and zarr.json stays
planning-readable forever.

What a write commits is decided in one place: :func:`build_entries`
fills any ordinal range of an array's entry list from the pairs the
write tasks computed, the old entries (through :class:`StatsPlan`'s
ordinal remap when a grid grows along an axis) and the fill pair.
Every writer runs it, over the whole list for inline stats and once
per sidecar block past the cap (``io._publish_stats``).

Soundness bar (same as inline stats): anything malformed — missing
block, wrong reassembled length, non-list content — resolves to None
and the reader treats the column as unknown. Bad stats may only ever
KEEP cells.

The reference records no statistics at all (``opener.rs:171-173``);
this whole layer is an extension, so the format is ours to define.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from .store import Store

__all__ = [
    "STATS_BLOCK_ENTRIES",
    "STATS_SIDECAR_PREFIX",
    "StatsPlan",
    "block_key",
    "build_entries",
    "delete_sidecar",
    "is_sidecar_marker",
    "iter_stats_blocks",
    "old_block",
    "old_block_ids",
    "old_entries",
    "resolve_stats",
    "sidecar_marker",
    "store_stats",
    "sweep_sidecar_tail",
    "union_bounds",
]

STATS_SIDECAR_PREFIX = "__stats__"

#: entries per sidecar block — 64Ki pairs is ~1-3 MB of JSON, one GET
#: per block during a pruning pass; a billion-object array is ~16k
#: blocks fetched ONLY when a predicate references the column
STATS_BLOCK_ENTRIES = 65536


def block_key(array_name: str, block: int) -> str:
    """Store key of one sidecar block (also the layout contract the
    write-side patch tasks and delta-update paths address)."""
    return f"{STATS_SIDECAR_PREFIX}/{array_name}/{block}.json"


_block_key = block_key


def is_sidecar_marker(value) -> bool:
    """True for the attribute form that points at sidecar blocks."""
    return (
        isinstance(value, dict)
        and isinstance(value.get("sidecar"), int)
        and value["sidecar"] > 0
        and isinstance(value.get("n_entries"), int)
        and isinstance(value.get("block_entries"), int)
        and value["block_entries"] > 0
    )


def delete_sidecar(store: Store, array_name: str) -> None:
    """Drop every sidecar block for ``array_name`` (invalidation and
    inline-migration both route here; missing keys are a no-op)."""
    for key in list(
        store.walk_prefix(f"{STATS_SIDECAR_PREFIX}/{array_name}")
    ):
        store.delete(key)


def sidecar_marker(n_entries: int, block_entries: int) -> dict:
    """The attribute value that points at ``n_entries`` entries stored
    in blocks of ``block_entries``."""
    return {
        "sidecar": -(-n_entries // block_entries),
        "n_entries": n_entries,
        "block_entries": block_entries,
    }


def sweep_sidecar_tail(store: Store, array_name: str, n_blocks: int) -> None:
    """Delete every block numbered ``n_blocks`` or higher: the tail a
    larger (or torn) earlier sidecar left behind. The walk lists the
    array's actual blocks, so unadvertised debris goes too; keys that
    are not ``<int>.json`` blocks are left alone."""
    prefix = f"{STATS_SIDECAR_PREFIX}/{array_name}/"
    for key in list(store.walk_prefix(prefix)):
        stem = key[len(prefix):]
        if (
            stem.endswith(".json")
            and stem[:-5].isdigit()
            and int(stem[:-5]) >= n_blocks
        ):
            store.delete(key)


def union_bounds(entry, other):
    """Union two encoded [lo, hi] pairs; unknown poisons."""
    if not entry or not other or None in entry or None in other:
        return None
    return [min(entry[0], other[0]), max(entry[1], other[1])]


@dataclass(frozen=True)
class StatsPlan:
    """The shape of one array's stats list after a write: its object
    grid (entries run in C order), the pair a never-written object
    takes (``fill`` — a scan materializes pure fill there), and, for
    an append along ``axis``, how far the OLD stats reach: ``old_len``
    positions in objects of ``cell`` positions along that axis. A fresh
    write, an added column or a recompute keeps ``old_len=0``; a 1-D
    table is the one-axis case, whose ordinal remap is the identity."""

    grid: Tuple[int, ...]
    fill: Optional[list] = None
    axis: int = 0
    old_len: int = 0
    cell: int = 1

    @property
    def radix(self) -> Tuple[int, int, int]:
        """(objects behind ``axis``, new count along it, old count)."""
        behind = 1
        for g in self.grid[self.axis + 1 :]:
            behind *= int(g)
        return behind, int(self.grid[self.axis]), -(-self.old_len // self.cell)

    @property
    def n(self) -> int:
        out = 1
        for g in self.grid:
            out *= int(g)
        return out

    @property
    def n_old(self) -> int:
        _, g_new, g_old = self.radix
        return self.n // g_new * g_old if g_new else 0

    @property
    def boundary(self) -> Optional[int]:
        """Index along ``axis`` of the partial old object, if any: its
        extension materializes fill, so its old bounds union with it."""
        return self.old_len // self.cell if self.old_len % self.cell else None

    @property
    def first_changed(self) -> int:
        """Every ordinal below this keeps its old entry unchanged."""
        return (self.old_len // self.cell) * self.radix[0]

    def locate(self, o: int) -> Tuple[Optional[int], bool]:
        """(old ordinal or None for a new object, on the boundary)."""
        behind, g_new, g_old = self.radix
        rest, suffix = divmod(o, behind)
        prefix, a = divmod(rest, g_new)
        if a >= g_old:
            return None, False
        return (prefix * g_old + a) * behind + suffix, a == self.boundary

    def new_ordinal(self, j: int) -> int:
        """Where old ordinal ``j`` lands in the grown grid."""
        behind, g_new, g_old = self.radix
        rest, suffix = divmod(j, behind)
        prefix, a = divmod(rest, g_old)
        return (prefix * g_new + a) * behind + suffix


def build_entries(
    plan: StatsPlan, lo: int, hi: int, written: Dict[int, object],
    old: Dict[int, object],
) -> List:
    """Entries for ordinals ``[lo, hi)`` of an array's committed stats
    — the one per-slot rule every writer commits by:

    - an object this call wrote takes the pair its task computed
      (``written``);
    - an old object takes its old entry through the ordinal remap
      (``old``, keyed by OLD ordinal; missing = unknown, None);
    - the partial boundary object unions that entry with the fill;
    - a new object nobody wrote takes the fill pair."""
    out: List = []
    for o in range(lo, hi):
        if o in written:
            out.append(written[o])
            continue
        j, on_boundary = plan.locate(o)
        if j is None:
            out.append(plan.fill)
        elif on_boundary:
            out.append(union_bounds(old.get(j), plan.fill))
        else:
            out.append(old.get(j))
    return out


def _old_block_size(value, n_old: int) -> int:
    """Entries per block of a recorded stats value that covers exactly
    ``n_old`` objects (an inline list is one block), else 0: stale
    stats are unknown, never a trusted prefix."""
    if isinstance(value, list):
        return max(n_old, 1) if len(value) == n_old else 0
    if is_sidecar_marker(value) and value["n_entries"] == n_old:
        return value["block_entries"]
    return 0


def old_block_ids(value, n_old: int, start: int = 0) -> range:
    """Blocks of a recorded stats value that hold ordinals >= start."""
    be = _old_block_size(value, n_old)
    return range(start // be, -(-n_old // be)) if be else range(0)


def old_block(
    store: Store, array_name: str, value, n_old: int, b: int
) -> Dict[int, object]:
    """{old ordinal: entry} of block ``b`` of a recorded stats value;
    empty when the block is missing, torn or the wrong length."""
    be = _old_block_size(value, n_old)
    lo = b * be
    want = min(be, n_old - lo)
    if isinstance(value, list):
        part = value[lo : lo + want]
    else:
        raw = store.get(_block_key(array_name, b))
        try:
            part = json.loads(raw) if raw is not None else None
        except ValueError:
            part = None
        if not isinstance(part, list) or len(part) != want:
            return {}
    return dict(zip(range(lo, lo + want), part))


def old_entries(
    store: Store, array_name: str, value, n_old: int, start: int = 0
) -> Dict[int, object]:
    """{old ordinal: entry} for every ordinal >= start of a recorded
    stats value (see :func:`old_block`)."""
    out: Dict[int, object] = {}
    for b in old_block_ids(value, n_old, start):
        out.update(old_block(store, array_name, value, n_old, b))
    return out


def store_stats(
    store: Store,
    array_name: str,
    entries: Optional[List],
    max_inline: int,
):
    """Return the attribute value for a complete ``entries`` list,
    writing sidecar blocks when the list exceeds ``max_inline``
    (writers commit through :func:`build_entries` instead, which
    rewrites only the blocks a write touches).

    - ``entries is None`` → returns None (caller pops the attribute);
    - ``len(entries) <= max_inline`` → returns the list itself
      (inline, the pre-round-8 format, still what every small store
      uses);
    - otherwise → writes ``ceil(n / STATS_BLOCK_ENTRIES)`` blocks and
      returns the marker dict.

    Always clears any previous sidecar first, so an array shrinking
    back under the cap (rechunk to bigger objects) leaves no debris
    and a re-written sidecar never mixes old and new blocks.
    """
    delete_sidecar(store, array_name)
    if entries is None:
        return None
    if len(entries) <= max_inline:
        return entries
    n = len(entries)
    n_blocks = -(-n // STATS_BLOCK_ENTRIES)
    for b in range(n_blocks):
        chunk = entries[
            b * STATS_BLOCK_ENTRIES : (b + 1) * STATS_BLOCK_ENTRIES
        ]
        store.set(
            _block_key(array_name, b),
            json.dumps(chunk).encode(),
        )
    return sidecar_marker(n, STATS_BLOCK_ENTRIES)


def iter_stats_blocks(store: Store, array_name: str, marker):
    """Yield one decoded block list at a time for a sidecar marker —
    the O(one-block) memory walk for callers that scan bounds without
    needing the reassembled list (upsert's key prune on a
    billion-object store must not materialize 16k blocks of JSON on
    the driver; r8 review finding). Yields None once and stops on any
    torn/malformed block — callers must treat that as
    "stats unknown", same soundness bar as :func:`resolve_stats`."""
    if not is_sidecar_marker(marker):
        yield None
        return
    for b in range(marker["sidecar"]):
        raw = store.get(_block_key(array_name, b))
        if raw is None:
            yield None
            return
        try:
            part = json.loads(raw)
        except ValueError:
            yield None
            return
        if not isinstance(part, list):
            yield None
            return
        yield part


def resolve_stats(store: Store, array_name: str, value) -> Optional[List]:
    """The full entries list from an attribute value: an inline list
    passes through; a sidecar marker loads and reassembles its blocks
    (the lazy read — callers only invoke this during a pruning pass).
    Anything else, or any inconsistency, is None (= no stats).

    Block fetches run through a small threadpool when there are
    several: on a remote store a big sidecar is thousands of GETs,
    and paying them serially would put minutes of latency into
    PLANNING (the I/O releases the GIL; order is preserved by
    ``Executor.map``)."""
    if isinstance(value, list):
        return value
    if not is_sidecar_marker(value):
        return None
    n_blocks = value["sidecar"]
    n_entries = value["n_entries"]

    def fetch(b: int):
        return store.get(_block_key(array_name, b))

    if n_blocks > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=8) as pool:
            raws = list(pool.map(fetch, range(n_blocks)))
    else:
        raws = [fetch(b) for b in range(n_blocks)]

    out: List = []
    for raw in raws:
        if raw is None:
            return None  # torn sidecar: unknown, never wrong
        try:
            part = json.loads(raw)
        except ValueError:
            return None
        if not isinstance(part, list):
            return None
        out.extend(part)
    if len(out) != n_entries:
        return None  # stale marker vs blocks: refuse the prefix
    return out


