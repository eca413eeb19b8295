"""Partitioned cuckoo filter — the deletable fallback to the Bloom
pre-filter for the URL-seen set (north rule: "partitioned Bloom filter
with cuckoo-filter fallback").

Why a cuckoo filter at all: Bloom bits cannot be deleted, so a windowed
seen-set (e.g. re-crawl after TTL, or evicting a revoked host) would need
periodic full rebuilds. A cuckoo filter supports delete() at the same
~O(1) probe cost and comparable space at low FPR (16-bit fingerprints,
4-way buckets -> FPR ~ 2*4/2^16 ~ 1.2e-4).

This module holds one partition's table only. Partitioning, the
executor-side build, the driver merge and the broadcast probe are shared
with the Bloom table in operators/dedup.py (``SeenFilter``). Each table is
a numpy array of shape (n_buckets, 4) uint16 fingerprints (0 = empty slot)
plus a small deterministic stash (evictions after max kicks land in the
stash, so the structure has NO false negatives by construction — property
tested). Two tables merge by re-inserting occupied slots (the alternate
bucket is recoverable from (bucket, fp): b2 = b1 xor H(fp) — partial-key
cuckoo). All arithmetic is integer/deterministic: resume stays
bit-identical.

At 10^10 keys: 16 bits x 1.05 slots/key ~ 2.6 GB total across partitions
— each partition's table a few hundred MB, broadcast independently,
same posture as the Bloom bitsets (SURVEY §7 arithmetic).
"""

from __future__ import annotations

import numpy as np

SLOTS = 4
MAX_KICKS = 500
_FP_MULT = np.uint64(0x9E3779B97F4A7C15)  # splitmix/fibonacci scramble
_BK_MULT = np.uint64(0xC2B2AE3D27D4EB4F)  # xxhash prime — independent mix


def _fingerprints(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints: multiply-scramble then take the top
    bits, so low-entropy inputs (small ints, sequential keys) still spread
    over the full fingerprint space."""
    fp = ((h.astype(np.uint64) * _FP_MULT) >> np.uint64(48)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _primary_buckets(h: np.ndarray, nb: int) -> np.ndarray:
    """Primary bucket index, independently scrambled from the fingerprint."""
    return (((h.astype(np.uint64) * _BK_MULT) >> np.uint64(16))
            % np.uint64(nb)).astype(np.int64)


def _next_pow2(n: int) -> int:
    return 1 << max(0, (n - 1)).bit_length()


def _alt_bucket(b: np.ndarray | int, fp: np.ndarray | int, nb: int) -> np.ndarray | int:
    """Partial-key alternate bucket: (b xor H(fp)) & (nb-1).

    REQUIRES nb to be a power of two: masking after xor is involutive
    (((b^f)&m ^ f)&m == b&m == b), so the pair (b1, b2) is recoverable
    from either member + fp — the property that makes both relocation and
    table-merge possible. With a composite nb and `% nb` the pairing is
    NOT involutive (measured 2719/4000 false negatives at nb=100), which
    is why CuckooTable rounds its geometry up to a power of two."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the mix
        fph = (np.uint64(fp) * _FP_MULT) >> np.uint64(48)
    return (np.uint64(b) ^ fph) & np.uint64(nb - 1)


class CuckooTable:
    """One partition's filter: (n_buckets, SLOTS) uint16 + stash."""

    def __init__(self, n_buckets: int, table: np.ndarray | None = None,
                 stash: list[tuple[int, int]] | None = None):
        # Geometry MUST be a power of two for the xor-pairing to be
        # involutive (see _alt_bucket). Round any requested size up; a
        # pre-built table must already have pow2 rows (it came from us).
        self.nb = _next_pow2(n_buckets) if table is None else n_buckets
        if table is not None and table.shape[0] & (table.shape[0] - 1):
            raise ValueError(
                f"cuckoo table rows must be a power of two, got {table.shape[0]}")
        self.table = (
            table if table is not None
            else np.zeros((self.nb, SLOTS), dtype=np.uint16)
        )
        self.stash: list[tuple[int, int]] = stash or []  # (bucket, fp)

    # -- single-key ops (driver-side merge/delete; vectorized probe below)
    def _insert_one(self, b1: int, fp: int) -> None:
        b2 = int(_alt_bucket(b1, fp, self.nb))
        for b in (b1, b2):
            row = self.table[b]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                return
        # deterministic kick chain: rotate slot 0 <- new, relocate victim
        b, cur = b1, fp
        for i in range(MAX_KICKS):
            row = self.table[b]
            victim = int(row[i % SLOTS])
            row[i % SLOTS] = cur
            cur = victim
            b = int(_alt_bucket(b, cur, self.nb))
            empty = np.flatnonzero(self.table[b] == 0)
            if len(empty):
                self.table[b][empty[0]] = cur
                return
        self.stash.append((b, cur))  # never lose a key -> no false negatives

    def insert_hashes(self, h: np.ndarray) -> None:
        if not len(h):
            return
        fps = _fingerprints(h)
        b1s = _primary_buckets(h, self.nb)
        for b1, fp in zip(b1s, fps):
            self._insert_one(int(b1), int(fp))

    def delete_hashes(self, h: np.ndarray) -> int:
        """Remove one occurrence per present key; returns #deleted."""
        n = 0
        fps = _fingerprints(h)
        b1s = _primary_buckets(h, self.nb)
        for b1, fp in zip(b1s, fps):
            b2 = int(_alt_bucket(int(b1), int(fp), self.nb))
            done = False
            for b in (int(b1), b2):
                hit = np.flatnonzero(self.table[b] == fp)
                if len(hit):
                    self.table[b][hit[0]] = 0
                    n += 1
                    done = True
                    break
            if not done:
                for i, (sb, sfp) in enumerate(self.stash):
                    if sfp == fp and sb in (int(b1), b2):
                        self.stash.pop(i)
                        n += 1
                        break
        return n

    def probe_hashes(self, h: np.ndarray) -> np.ndarray:
        """Vectorized membership: maybe-present boolean per hash."""
        if not len(h):
            return np.zeros(0, dtype=bool)
        fps = _fingerprints(h)
        b1 = _primary_buckets(h, self.nb)
        b2 = _alt_bucket(b1.astype(np.uint64), fps, self.nb).astype(np.int64)
        hit = (self.table[b1] == fps[:, None]).any(axis=1)
        hit |= (self.table[b2] == fps[:, None]).any(axis=1)
        if self.stash:
            sfp = np.array([fp for _, fp in self.stash], dtype=np.uint16)
            sb = np.array([b for b, _ in self.stash], dtype=np.int64)
            for i in range(len(sfp)):
                hit |= ((fps == sfp[i]) & ((b1 == sb[i]) | (b2 == sb[i])))
        return hit

    # -- (de)serialization for broadcast -------------------------------
    def to_bytes(self) -> bytes:
        import struct

        head = struct.pack("<II", self.nb, len(self.stash))
        stash = b"".join(
            struct.pack("<IH", b, fp) for b, fp in self.stash)
        return head + stash + self.table.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes, n_buckets: int | None = None) -> "CuckooTable":
        """Inverse of to_bytes; ``n_buckets`` (the requested geometry, if
        given) must round to the serialized table's row count."""
        import struct

        nb, ns = struct.unpack("<II", raw[:8])
        if n_buckets is not None and _next_pow2(n_buckets) != nb:
            raise ValueError(
                f"cuckoo table has {nb} buckets, geometry asks for {n_buckets}")
        pos = 8
        stash = []
        for _ in range(ns):
            b, fp = struct.unpack("<IH", raw[pos:pos + 6])
            stash.append((b, fp))
            pos += 6
        table = np.frombuffer(raw[pos:], dtype=np.uint16).reshape(nb, SLOTS).copy()
        return cls(nb, table, stash)

    def merge_from(self, other: "CuckooTable") -> None:
        """Fold other's keys in by re-insertion (alternate bucket is
        recoverable from (bucket, fp), so occupied slots re-insert
        losslessly)."""
        assert other.nb == self.nb, "partition tables must share geometry"
        bs, ss = np.nonzero(other.table)
        for b, s in zip(bs, ss):
            fp = int(other.table[b, s])
            # re-derive a canonical b1 for insert: either bucket works,
            # _insert_one tries both sides of the xor pair
            self._insert_one(int(b), fp)
        for b, fp in other.stash:
            self._insert_one(int(b), int(fp))
