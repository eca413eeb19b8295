"""D1-D3: the distributed URL-seen set — partitioned probabilistic
pre-filter (Bloom, or the deletable cuckoo filter) + exact left-anti join.

The reference's seen set is colly's in-memory FNV-64 hash set per collector
(pkg/xcrawl3r/xcrawl3r.go:31,347,422). At 10^10 URLs that set is ~160 GB of
hashes — too big for one broadcast, fine as a partitioned table. The design
here:

1. the ``seen`` state lives as a DataFrame/table keyed by
   (seed_id, url_hash) — per-seed scope mirrors the reference's fresh
   collector per seed (xcrawl3r.go:52); ``global_dedup`` collapses the key
   to url_hash only;
2. a *partitioned* filter (``SeenFilter``) over ``pmod(url_hash, P)``
   hash-ranges: one table per partition — a Bloom bitset, or a cuckoo
   table (operators/cuckoo.py) that can delete keys for TTL re-crawls —
   built executor-side, merged per pid on the driver and broadcast as
   {pid: bytes}; only tables cross the wire, never the seen rows. The
   filter carries its kind and geometry, so it is always probed and
   extended with the geometry that built it;
3. candidates probe their partition's table vectorized (numpy) — neither
   kind has false negatives, so survivors of the NOT-maybe-seen test are
   definitely new; the *maybe-seen* minority goes through the exact
   left-anti hash join to kill false positives.

The crawl loop (plans/crawl.py) does not use the filter: its membership
test is the plain exact anti-join, because per-wave BFS batches gave the
probe no measured win (a filter pays for membership over a window far
larger than one wave). ``anti_join_seen(seen_filter=...)`` is exercised by
the ``d1_bloom_anti_join`` / ``d1_cuckoo_anti_join`` queries
(__spark_entry__.py). At 10^10 scale each partition table stays ≤ a few
hundred MB and partitions are probed independently (no single giant
broadcast).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from xcrawl3r_spark.operators.cuckoo import CuckooTable


def _bloom_positions(hashes: np.ndarray, bits: int, k: int) -> Iterator[np.ndarray]:
    """k hash positions per input hash via double hashing h1 + i*h2."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(bits)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(bits)
    for i in range(k):
        yield (h1 + np.uint64(i) * h2) % np.uint64(bits)


def _set_bits(bitset: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitset, pos >> np.uint64(3),
                     np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))


def _test_bits(bitset: np.ndarray, pos: np.ndarray) -> np.ndarray:
    return (bitset[pos >> np.uint64(3)]
            >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1) > 0


class BloomTable:
    """One partition's Bloom bitset: ``bits`` bits, ``hashes`` positions
    per key. Same surface as cuckoo.CuckooTable (minus delete)."""

    def __init__(self, bits: int, hashes: int, bitset: np.ndarray | None = None):
        self.bits, self.hashes = bits, hashes
        self.bitset = (np.zeros(bits // 8, dtype=np.uint8)
                       if bitset is None else bitset)

    def insert_hashes(self, h: np.ndarray) -> None:
        for pos in _bloom_positions(h, self.bits, self.hashes):
            _set_bits(self.bitset, pos)

    def probe_hashes(self, h: np.ndarray) -> np.ndarray:
        hit = np.ones(len(h), dtype=bool)
        for pos in _bloom_positions(h, self.bits, self.hashes):
            hit &= _test_bits(self.bitset, pos)
        return hit

    def merge_from(self, other: "BloomTable") -> None:
        self.bitset |= other.bitset

    def to_bytes(self) -> bytes:
        return self.bitset.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes, bits: int, hashes: int) -> "BloomTable":
        if len(raw) * 8 != bits:
            raise ValueError(
                f"bloom table has {len(raw) * 8} bits, geometry asks for {bits}")
        return cls(bits, hashes, np.frombuffer(raw, dtype=np.uint8).copy())


_TABLES = {"bloom": BloomTable, "cuckoo": CuckooTable}


@dataclass(frozen=True)
class SeenFilter:
    """A hash-range partitioned seen-filter that carries its own geometry.

    ``geometry`` is ``(bits, hashes)`` for kind "bloom" and ``(buckets,)``
    for kind "cuckoo"; ``tables`` maps a partition id
    (``pmod(key, partitions)``) to that partition's serialized table —
    partitions no key hashed to have no table. Every operation reads the
    geometry from the filter itself, so a filter is always probed and
    extended with the geometry that built it, and ``merge`` refuses a
    filter of another geometry. build/merge/delete return new filters.
    """

    kind: str
    partitions: int
    geometry: tuple[int, ...]
    tables: dict[int, bytes] = field(default_factory=dict)

    def __post_init__(self) -> None:
        # checked here, once: a bad size would otherwise surface waves
        # later as an IndexError inside an executor fold (bits not a
        # multiple of 8) or put every key in one partition (P = 0)
        if self.kind not in _TABLES:
            raise ValueError(
                f"kind must be 'bloom' or 'cuckoo', got {self.kind!r}")
        if self.partitions < 1:
            raise ValueError(
                f"partitions must be >= 1, got {self.partitions}")
        if self.kind == "bloom":
            bits, hashes = self.geometry
            if bits < 8 or bits % 8:
                raise ValueError(
                    f"bits must be a positive multiple of 8, got {bits}")
            if hashes < 1:
                raise ValueError(f"hashes must be >= 1, got {hashes}")
        else:
            (buckets,) = self.geometry
            if buckets < 1:
                raise ValueError(f"buckets must be >= 1, got {buckets}")

    def empty(self) -> "SeenFilter":
        """Same kind and geometry, no keys."""
        return replace(self, tables={})

    def _new(self):
        return _TABLES[self.kind](*self.geometry)

    def _load(self, raw: bytes):
        return _TABLES[self.kind].from_bytes(raw, *self.geometry)

    def _fold(self, pieces) -> "SeenFilter":
        """Merge (pid, table bytes) pieces into this filter's tables, per
        pid (OR for Bloom, re-insert for cuckoo)."""
        raws = dict(self.tables)
        live: dict = {}  # pids that received a second piece
        for pid, raw in pieces:
            if pid not in raws:
                raws[pid] = raw
                continue
            if pid not in live:
                live[pid] = self._load(raws[pid])
            live[pid].merge_from(self._load(raw))
        raws.update((pid, t.to_bytes()) for pid, t in live.items())
        return replace(self, tables=raws)

    def build(self, keys: DataFrame, key: str = "url_hash") -> "SeenFilter":
        """This filter with every ``keys[key]`` folded in.

        Executor-side: each task folds its rows into one table per pid and
        emits (pid, table bytes); one collect brings those to the driver,
        which merges them per pid. Cross-the-wire volume is
        O(tasks * table size), independent of row count.
        """
        shell = self.empty()  # the closure ships the geometry, not tables

        def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            local: dict = {}
            for pdf in batches:
                h = pdf[key].to_numpy(dtype=np.int64)
                pids = h % shell.partitions
                for pid in np.unique(pids).tolist():
                    if pid not in local:
                        local[pid] = shell._new()
                    local[pid].insert_hashes(h[pids == pid])
            yield pd.DataFrame(
                {"pid": list(local), "tbl": [t.to_bytes() for t in local.values()]})

        rows = keys.select(key).mapInPandas(fold, "pid int, tbl binary").collect()
        return self._fold((r["pid"], bytes(r["tbl"])) for r in rows)

    def merge(self, other: "SeenFilter") -> "SeenFilter":
        """The union of two filters of one kind and geometry. Raises
        ValueError otherwise: a table probed with another geometry answers
        "unseen" for keys it holds."""
        mine = (self.kind, self.partitions, self.geometry)
        theirs = (other.kind, other.partitions, other.geometry)
        if mine != theirs:
            raise ValueError(f"cannot merge seen-filters {theirs} into {mine}")
        return self._fold(other.tables.items())

    def delete(self, hashes: np.ndarray) -> "SeenFilter":
        """Windowed-seen eviction: remove keys. Cuckoo only — Bloom bits
        cannot be unset."""
        if self.kind != "cuckoo":
            raise ValueError(f"a {self.kind} filter cannot delete keys")
        h = np.asarray(hashes, dtype=np.int64)
        pids = h % self.partitions
        out = dict(self.tables)
        for pid in np.unique(pids).tolist():
            if pid in out:
                t = self._load(out[pid])
                t.delete_hashes(h[pids == pid])
                out[pid] = t.to_bytes()
        return replace(self, tables=out)

    def probe(self, df: DataFrame, key: str = "url_hash") -> DataFrame:
        """Add boolean column ``maybe_seen`` by probing the broadcast tables.

        Rows with maybe_seen=false are DEFINITELY unseen (no false
        negatives) and can skip the exact anti-join.
        """
        b_tables = df.sparkSession.sparkContext.broadcast(self.tables)
        shell = self.empty()

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            tables = {pid: shell._load(raw) for pid, raw in b_tables.value.items()}
            for pdf in batches:
                h = pdf[key].to_numpy(dtype=np.int64)
                pids = h % shell.partitions
                maybe = np.zeros(len(h), dtype=bool)
                for pid in np.unique(pids).tolist():
                    t = tables.get(pid)
                    if t is None:
                        continue  # no table for this partition -> unseen
                    mask = pids == pid
                    maybe[mask] = t.probe_hashes(h[mask])
                out = pdf.copy()
                out["maybe_seen"] = maybe
                yield out

        schema = StructType(
            list(df.schema.fields) + [StructField("maybe_seen", BooleanType())]
        )
        return df.mapInPandas(probe, schema)


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    *,
    key: str = "dedup_key",
    seen_filter: SeenFilter | None = None,
    keys_unique: bool = False,
) -> DataFrame:
    """candidates \\ seen on ``key`` (D1). Per-seed scope (D2) is folded
    into the key upstream: dedup_key = xxhash64(seed_id, url) — the same
    hash-set membership semantics as colly's per-collector FNV-64 storage.

    With a ``seen_filter``: definitely-new rows bypass the shuffle
    entirely; only maybe-seen rows are anti-joined exactly. Equivalent to
    the plain anti-join by the no-false-negative property
    (property-tested) — CONTRACT: ``seen_filter`` must hold every key of
    ``seen``. A filter missing keys answers "new" for them (an empty
    filter answers "new" for everything) and they skip the exact join.

    ``keys_unique``: the crawl loop only ever inserts post-anti-join,
    batch-deduped rows, so seen keys are unique by construction — skip the
    distinct's full-seen shuffle in that case.
    """
    seen_keys = seen.select(key)
    if not keys_unique:
        seen_keys = seen_keys.distinct()
    if seen_filter is None:
        return candidates.join(seen_keys, key, "left_anti")
    probed = seen_filter.probe(candidates, key=key)
    # the fresh/maybe split consumes `probed` in BOTH union branches, and
    # Spark does not share common subplans across branches — without a
    # materialization the Python probe stage executes twice per batch.
    # One lazy DISK_ONLY checkpoint (bounded: one frontier wave) makes it
    # run once; both branches then read the materialized blocks.
    from pyspark import StorageLevel

    probed = probed.localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    checked = maybe.join(seen_keys, key, "left_anti")
    return fresh.unionByName(checked)
