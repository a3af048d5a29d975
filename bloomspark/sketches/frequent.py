"""Misra-Gries frequent-items (heavy-hitters / top-k) sketch.

Completes the classic sketch family the north rule enumerates: HLL /
Theta answer *how many distinct*, count-min answers *how often is this
one key*, t-digest / KLL answer *where in the distribution* — this one
answers *WHICH keys are the heavy hitters*, which count-min cannot do
without a driver-side candidate list (it has no item inventory).

Algorithm: Misra & Gries 1982 "Finding repeated elements", in the
MERGEABLE formulation of Agarwal, Cormode, Huang, Phillips, Wei &
Yi 2012 "Mergeable Summaries" (PODS): the state is at most ``k``
(item, count) pairs; whenever more than ``k`` items are tracked, the
(k+1)-th largest count ``t`` is subtracted from every counter and
non-positive counters are dropped.  Merging two summaries = add
counters pairwise, then apply the same trim.  The subtracted weights
accumulate into an explicit ``error`` field with the guarantee

    stored_count <= true_count <= stored_count + error,
    error <= n / (k + 1)   (n = total rows fed in, across all merges)

so every reported count carries deterministic lower/upper bounds, and
while ``error == 0`` (no trim has ever fired — distinct keys never
exceeded ``k`` in any partial or merge) every count is EXACT.  That
exact-while-small property is what lets the driver oracle compare
``top_k`` output against a plain ``GROUP BY ... ORDER BY count DESC``
(same trick as theta.py's exact mode); estimation-mode bounds are
asserted in tests/test_sketches.py.

State layout is vectorized: a sorted uint64 hash array + int64 count
array (numpy), with raw key bytes kept in a side dict only for the
hashes currently tracked (<= k after every trim).  A batch update is
``np.unique`` on the 64-bit key hashes + ``np.add.at`` — the only
Python-object work is materializing key bytes for FIRST occurrences of
newly tracked hashes, which any top-k sketch must do to be able to
name its items.  The 64-bit item hash reuses the repo's Guava-parity
murmur3_32 two-pass construction (theta.py / hll.py); hash collisions
would conflate two keys' counts and are negligible at 2^-64 per pair.

Reference parity note: Orestes-Bloomfilter has no frequent-items
sketch; this extends the mergeable-partial engine (engine.py) the
north-rule family runs on.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from ..hashing import Keys, murmur3_32
from ..partials import merge_sketch_payloads


class _FreqState:
    """``hashes`` sorted unique uint64; ``counts`` int64 aligned with
    ``hashes``; ``items`` maps tracked hash -> raw key bytes; ``error``
    = total weight ever subtracted by trims (global overcount bound);
    ``n`` = total rows observed."""

    __slots__ = ("hashes", "counts", "items", "error", "n")

    def __init__(self, hashes, counts, items, error=0, n=0):
        self.hashes = hashes
        self.counts = counts
        self.items = items
        self.error = error
        self.n = n


class FrequentItemsSketch:
    """Sketch spec for the engine (see engine.py contract)."""

    numeric = False

    def __init__(self, k: int = 1024, seed: int = 514229):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.seed = seed

    # -- engine contract ----------------------------------------------------

    def describe(self) -> str:
        return f"frequent(k={self.k}, seed={self.seed})"

    def payload_bytes(self) -> int:
        # hash + count + length prefix + ~48B of key bytes per slot
        return 32 + self.k * (8 + 8 + 4 + 48)

    def new_state(self) -> _FreqState:
        return _FreqState(
            np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64), {}
        )

    def update(self, state: _FreqState, keys: Keys) -> None:
        h = self._hash64(keys)
        uh, first_idx, batch_counts = np.unique(
            h, return_index=True, return_counts=True
        )
        self._combine(state, uh, batch_counts.astype(np.int64))
        # materialize key bytes ONLY for hashes that SURVIVED the trim
        # (<= k per batch).  A batch can carry far more distinct keys
        # than k; the pre-trim first-occurrence loop paid one Python
        # ``keys.get`` per distinct key, most of which the trim dropped
        # immediately (round-7 x22 profiling).  The bytes stored for a
        # surviving hash are identical either way: items[h] is the key
        # whose hash is h, whichever occurrence supplied it.
        if len(state.items) < len(state.hashes):
            tracked = (
                np.fromiter(
                    state.items.keys(), dtype=np.uint64, count=len(state.items)
                )
                if state.items
                else np.empty(0, dtype=np.uint64)
            )
            missing = state.hashes[~np.isin(state.hashes, tracked)]
            # every items-less survivor was introduced by THIS batch
            # (the items dict covers state.hashes on entry), so its
            # first occurrence is in uh/first_idx
            at = np.searchsorted(uh, missing)
            for hv, j in zip(missing, at):
                state.items[int(hv)] = keys.get(int(first_idx[j]))
        state.n += len(keys)

    def merge_states(self, a: _FreqState, b: _FreqState) -> _FreqState:
        out = _FreqState(
            a.hashes.copy(), a.counts.copy(), dict(a.items),
            a.error + b.error, a.n + b.n,
        )
        for hv, kb in b.items.items():
            out.items.setdefault(hv, kb)
        self._combine(out, b.hashes, b.counts)
        return out

    def serialize(self, state: _FreqState) -> bytes:
        # hashes are sorted -> byte-deterministic across partitionings
        head = struct.pack(
            "<IIqqI",
            self.k,
            self.seed & 0xFFFFFFFF,
            state.error,
            state.n,
            len(state.hashes),
        )
        parts = [head, state.hashes.tobytes(), state.counts.tobytes()]
        for hv in state.hashes:
            kb = state.items[int(hv)]
            parts.append(struct.pack("<I", len(kb)))
            parts.append(kb)
        return b"".join(parts)

    def deserialize(self, payload: bytes) -> _FreqState:
        k, seed, error, n, m = struct.unpack_from("<IIqqI", payload)
        if k != self.k or seed != (self.seed & 0xFFFFFFFF):
            raise ValueError(
                f"payload (k={k}, seed={seed}) does not match sketch "
                f"(k={self.k}, seed={self.seed & 0xFFFFFFFF})"
            )
        off = struct.calcsize("<IIqqI")
        hashes = np.frombuffer(payload, dtype=np.uint64, count=m, offset=off).copy()
        off += 8 * m
        counts = np.frombuffer(payload, dtype=np.int64, count=m, offset=off).copy()
        off += 8 * m
        items = {}
        for hv in hashes:
            (ln,) = struct.unpack_from("<I", payload, off)
            off += 4
            items[int(hv)] = payload[off : off + ln]
            off += ln
        return _FreqState(hashes, counts, items, error, n)

    # -- result API (via SketchHandle delegation) ---------------------------

    def top_k(self, state: _FreqState, n: int = 10):
        """Top-``n`` items by stored count, descending; ties broken by
        item bytes ascending (deterministic).  Returns a list of
        ``(item: str, count_lower: int, count_upper: int)`` where the
        true count is guaranteed inside [lower, upper]; lower == upper
        everywhere iff :meth:`is_exact`."""
        order = sorted(
            range(len(state.hashes)),
            key=lambda i: (-int(state.counts[i]), state.items[int(state.hashes[i])]),
        )[:n]
        return [
            (
                state.items[int(state.hashes[i])].decode("utf-8", "replace"),
                int(state.counts[i]),
                int(state.counts[i]) + state.error,
            )
            for i in order
        ]

    def frequent_items(self, state: _FreqState, min_fraction: float = 0.01):
        """Items whose count MAY exceed ``min_fraction * n`` (no false
        negatives: any item with true count > n/(k+1) + threshold is
        guaranteed present)."""
        thr = min_fraction * state.n
        return [
            (item, lo, hi)
            for item, lo, hi in self.top_k(state, len(state.hashes))
            if hi >= thr
        ]

    def estimate(self, state: _FreqState, key) -> float:
        """Stored (lower-bound) count for one key; 0 if not tracked."""
        kb = key if isinstance(key, bytes) else str(key).encode("utf-8")
        h = self._hash64(Keys.from_objects([kb]))[0]
        i = np.searchsorted(state.hashes, h)
        if i < len(state.hashes) and state.hashes[i] == h:
            return float(state.counts[i])
        return 0.0

    def is_exact(self, state: _FreqState) -> bool:
        return state.error == 0

    def error_bound(self, state: _FreqState) -> int:
        """Max overcount of ``upper`` / undercount of ``lower``;
        guaranteed <= n/(k+1)."""
        return int(state.error)

    def tracked(self, state: _FreqState) -> int:
        return int(len(state.hashes))

    # -- internals ----------------------------------------------------------

    def _combine(self, state: _FreqState, add_h: np.ndarray, add_c: np.ndarray):
        """state (+)= (add_h, add_c), then Misra-Gries trim to k."""
        all_h = np.concatenate([state.hashes, add_h])
        all_c = np.concatenate([state.counts, add_c])
        uniq, inv = np.unique(all_h, return_inverse=True)
        summed = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(summed, inv, all_c)
        if len(uniq) > self.k:
            # subtract the (k+1)-th largest count from everyone
            t = int(np.partition(summed, len(summed) - self.k - 1)[
                len(summed) - self.k - 1
            ])
            summed = summed - t
            keep = summed > 0
            uniq, summed = uniq[keep], summed[keep]
            state.error += t
        state.hashes, state.counts = uniq, summed
        kept = set(int(h) for h in uniq)
        state.items = {h: b for h, b in state.items.items() if h in kept}

    def _hash64(self, keys: Keys) -> np.ndarray:
        lo = murmur3_32(keys, self.seed).astype(np.uint64)
        hi = murmur3_32(keys, self.seed + 1).astype(np.uint64)
        return (hi << np.uint64(32)) | lo


def frequent_topk_per_group(
    grouped, sketch: FrequentItemsSketch, n: int = 10
):
    """Per-group heavy hitters -> (group, item, count_lower,
    count_upper, rank): the extractor for
    ``build_sketch_per_group(df, group_col, col, FrequentItemsSketch())``
    — 'top sources per language' style queries.  Runs executor-side
    (states never reach the driver), one row per (group, top item);
    rank is 1-based in (count desc, item asc) order, the same total
    order :meth:`FrequentItemsSketch.top_k` uses."""

    def apply(tbl: pa.Table) -> pa.Table:
        state = merge_sketch_payloads(sketch, tbl.column("payload").to_pylist())
        rows = sketch.top_k(state, n)
        return pa.table({
            "group": pa.array([tbl.column("group")[0].as_py()] * len(rows), pa.string()),
            "item": pa.array([r[0] for r in rows], pa.string()),
            "count_lower": pa.array([r[1] for r in rows], pa.int64()),
            "count_upper": pa.array([r[2] for r in rows], pa.int64()),
            "rank": pa.array(np.arange(1, len(rows) + 1, dtype=np.int64)),
        })

    return grouped.groupBy("group").applyInArrow(
        apply,
        schema=(
            "group string, item string, count_lower bigint, "
            "count_upper bigint, rank bigint"
        ),
    )
