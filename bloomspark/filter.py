"""Driver-side Bloom filter object: config + little-endian packed bits.

Re-expresses the reference's ``BloomFilter`` interface and in-memory
implementation
(/root/reference/src/main/java/orestes/bloomfilter/BloomFilter.java,
 .../memory/BloomFilterMemory.java) over a numpy uint8 byte array.

Bit layout matches ``java.util.BitSet``: bit *i* lives in byte ``i // 8``
at in-byte position ``i % 8`` (LSB-first), so ``to_byte_array()``
(trimmed at the last set bit) is byte-identical to
``BitSet.toByteArray()`` — required for the JSON wire format
(json/BloomFilterConverter.java:22-36).
"""

from __future__ import annotations

import base64
import json
import math
from typing import Iterable, List, Optional, Sequence

import numpy as np

from .hashing import hash_positions
from .params import FilterConfig

# byte -> number of set bits, for the sub-word tail (numpy 1.x has no
# bitwise_count)
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint64)

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def popcount(bits: np.ndarray) -> int:
    """Number of set bits in a uint8 array (BitSet.cardinality analog).

    Vectorized 64-bit SWAR — ~50x faster than a byte-table gather on
    multi-MB bitsets, which matters because every partition partial
    reports its ones-count."""
    bits = np.ascontiguousarray(bits)
    n64 = bits.size >> 3
    total = 0
    if n64:
        v = bits[: n64 * 8].view(np.uint64)
        with np.errstate(over="ignore"):
            v = v - ((v >> np.uint64(1)) & _M1)
            v = (v & _M2) + ((v >> np.uint64(2)) & _M2)
            v = (v + (v >> np.uint64(4))) & _M4
            total = int(((v * _H01) >> np.uint64(56)).sum())
    tail = bits[n64 * 8 :]
    if tail.size:
        total += int(_POPCOUNT8[tail].sum())
    return total


def set_positions(bits: np.ndarray, positions: np.ndarray) -> None:
    """OR the given bit positions into ``bits`` in place (duplicate-safe)."""
    flat = positions.ravel()
    byte_idx = flat >> 3
    masks = (np.uint8(1) << (flat & 7).astype(np.uint8))
    np.bitwise_or.at(bits, byte_idx, masks)


def test_positions(bits: np.ndarray, positions: np.ndarray) -> np.ndarray:
    """Per-row membership: all k bits set? positions is (N, k) -> (N,) bool."""
    byte_idx = positions >> 3
    shifts = (positions & 7).astype(np.uint8)
    got = (bits[byte_idx] >> shifts) & np.uint8(1)
    return got.all(axis=1)


def population_estimate(one_bits: int, m: int, k: int) -> float:
    """n̂ = -(m/k) * ln(1 - X/m), X clamped to m-1 (BloomFilter.java:285-293,
    the CHANGELOG 2.2.5 'Prevent size of Infinity' clamp)."""
    x = min(one_bits, m - 1)
    return -m / float(k) * math.log(1 - x / float(m))


class BloomFilter:
    """In-memory Bloom filter over a uint8 bitset.

    The driver-side result object of a distributed build, and a
    standalone single-process filter (the analog of
    ``BloomFilterMemory``).
    """

    __slots__ = ("config", "bits")

    def __init__(self, config: FilterConfig, bits: Optional[np.ndarray] = None):
        self.config = config
        if bits is None:
            bits = np.zeros(config.num_bytes, dtype=np.uint8)
        else:
            bits = np.asarray(bits, dtype=np.uint8)
            if bits.size > config.num_bytes:
                # an oversized buffer means the payload was built under a
                # DIFFERENT config — masking that as truncation hides
                # corruption (checkpoint/JSON load against wrong params)
                raise ValueError(
                    f"bits buffer is {bits.size} bytes but config needs "
                    f"{config.num_bytes}; refusing to truncate"
                )
            if bits.size < config.num_bytes:
                # short buffers are legal: Java BitSet.toByteArray trims
                # trailing zero bytes (json/BloomFilterConverter.java)
                padded = np.zeros(config.num_bytes, dtype=np.uint8)
                padded[: bits.size] = bits
                bits = padded
            else:
                bits = bits.copy()
        self.bits = bits

    # -- hashing ----------------------------------------------------------

    def hash_positions(self, key) -> List[int]:
        """Expose the k positions of one key (BloomFilter.hash,
        BloomFilter.java:193-205) — used by the golden tests."""
        return [int(x) for x in
                hash_positions([key], self.config.m, self.config.k, self.config.hash_method)[0]]

    def _positions(self, keys: Sequence) -> np.ndarray:
        return hash_positions(keys, self.config.m, self.config.k, self.config.hash_method)

    # -- mutation (BloomFilterMemory.addRaw java:25-34, clear java:37-39) --

    def add(self, key) -> bool:
        """Set the k bits for ``key``; True iff at least one bit was new."""
        return self.add_all([key])[0]

    def add_all(self, keys: Sequence) -> List[bool]:
        """Bulk add (BloomFilter.addAll, java:40-42).  Per-element
        'newly added' flags come from a pre-insert membership test —
        bit-identical end state to element-at-a-time insertion
        (asserted by the addAll bit-identity test, the analog of
        BloomFilterTest.addAllTest java:123-139)."""
        pos = self._positions(keys)
        added: List[bool] = []
        for row in range(pos.shape[0]):
            p = pos[row : row + 1]
            pre = bool(test_positions(self.bits, p)[0])
            set_positions(self.bits, p)
            added.append(not pre)
        return added

    def clear(self) -> None:
        self.bits[:] = 0

    # -- queries -----------------------------------------------------------

    def contains(self, key) -> bool:
        return bool(self.contains_all([key])[0])

    def contains_all(self, keys: Sequence) -> np.ndarray:
        """Bulk membership -> bool ndarray (the pipelined bulk-contains
        analog, redis/BloomFilterRedis.java:75-97)."""
        return test_positions(self.bits, self._positions(keys))

    def is_empty(self) -> bool:
        return not self.bits.any()

    def cardinality(self) -> int:
        return popcount(self.bits)

    def get_estimated_population(self) -> float:
        return population_estimate(self.cardinality(), self.config.m, self.config.k)

    def get_false_positive_probability(self, inserted: float) -> float:
        return self.config.false_positive_probability(inserted)

    def get_estimated_false_positive_probability(self) -> float:
        return self.get_false_positive_probability(self.get_estimated_population())

    # -- set algebra (BloomFilterMemory.union/intersect java:66-81) --------

    def _check_compatible(self, other: "BloomFilter") -> None:
        if not self.config.is_compatible_to(other.config):
            raise ValueError(
                f"Incompatible filters: {self.config} vs {other.config}"
            )

    def union(self, other: "BloomFilter") -> "BloomFilter":
        """OR merge — lossless, equivalent to inserting both element sets."""
        self._check_compatible(other)
        return BloomFilter(self.config, np.bitwise_or(self.bits, other.bits))

    def intersect(self, other: "BloomFilter") -> "BloomFilter":
        """AND merge — no false negatives for the true intersection."""
        self._check_compatible(other)
        return BloomFilter(self.config, np.bitwise_and(self.bits, other.bits))

    def union_inplace(self, other: "BloomFilter") -> None:
        self._check_compatible(other)
        np.bitwise_or(self.bits, other.bits, out=self.bits)

    # -- serde --------------------------------------------------------------

    def to_bytes(self) -> bytes:
        """Full-width bitset bytes (not trimmed)."""
        return self.bits.tobytes()

    def to_byte_array(self) -> bytes:
        """Trimmed bytes, identical to java.util.BitSet.toByteArray()."""
        nz = np.nonzero(self.bits)[0]
        if nz.size == 0:
            return b""
        return self.bits[: nz[-1] + 1].tobytes()

    @classmethod
    def from_bytes(cls, config: FilterConfig, data: bytes) -> "BloomFilter":
        """setBitSet analog (BloomFilterMemory.java:110-112)."""
        return cls(config, np.frombuffer(data, dtype=np.uint8))

    def to_json(self) -> str:
        """{m, h, b} wire format (BloomFilterConverter.toJson java:22-36)."""
        return json.dumps(
            {
                "m": self.config.m,
                "h": self.config.k,
                "b": base64.b64encode(self.to_byte_array()).decode("ascii"),
            }
        )

    @classmethod
    def from_json(cls, text: str) -> "BloomFilter":
        """fromJson analog (BloomFilterConverter.java:70-83) — like the
        reference, the hash method defaults to Murmur3KirschMitzenmacher."""
        root = json.loads(text)
        config = FilterConfig.complete(m=int(root["m"]), k=int(root["h"]))
        return cls.from_bytes(config, base64.b64decode(root["b"]))

    def to_base64(self) -> str:
        return base64.b64encode(self.to_byte_array()).decode("ascii")

    def clone(self) -> "BloomFilter":
        return BloomFilter(self.config, self.bits)

    # -- equality / repr (BloomFilterMemory.equals java:115-133) ------------

    def __eq__(self, other) -> bool:
        if not isinstance(other, BloomFilter):
            return NotImplemented
        return self.config.is_compatible_to(other.config) and np.array_equal(
            self.bits, other.bits
        )

    def __hash__(self):
        return hash((self.config.m, self.config.k, self.bits.tobytes()))

    def __repr__(self) -> str:
        return (
            f"BloomFilter(m={self.config.m}, k={self.config.k}, "
            f"hash={self.config.hash_method}, ones={self.cardinality()})"
        )


def merge_all(filters: Iterable[BloomFilter]) -> BloomFilter:
    """Associative OR-merge of compatible filters (the final-agg step)."""
    it = iter(filters)
    try:
        acc = next(it).clone()
    except StopIteration:
        raise ValueError("merge_all needs at least one filter") from None
    for f in it:
        acc.union_inplace(f)
    return acc
