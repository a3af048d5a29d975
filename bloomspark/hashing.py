"""Vectorized hash suite producing k bit positions in [0, m) per key.

Re-implements (from scratch, in numpy) the full 15-method hash suite of
the reference's ``HashProvider``
(/root/reference/src/main/java/orestes/bloomfilter/HashProvider.java:18-504)
with bit-exact Java semantics:

* ``Murmur3KirschMitzenmacher`` (default) — ``hashCassandra``,
  HashProvider.java:160-168: h1 = unsigned(murmur3_32(0, v)),
  h2 = unsigned(murmur3_32((int) h1, v)), pos_i = (h1 + i*h2) mod m.
  Fully vectorized (two murmur passes per batch, positions by broadcast).
* ``Murmur3`` — chained murmur3 + rejection sampling,
  HashProvider.java:156-158,320-332.  Vectorized with a mask-and-rehash
  loop over still-incomplete rows.
* ``FNVWithLCG`` — ``hashSimpleLCG``, HashProvider.java:131-154: FNV-ish
  32-bit fold (with Java's sign-extended byte XOR quirk,
  HashProvider.java:26-43) seeding Java's LCG.  Fully vectorized.
* ``MD5``/``SHA1``/``SHA256``/``SHA384``/``SHA512``/``MD2`` —
  ``hashCrypt``, HashProvider.java:341-388: digest chaining +
  little-endian bit-slice rejection sampling.  Per-key ``hashlib``
  (cryptographic digests are inherently per-message); batched at the
  Arrow-batch level.  MD2 uses a pure-Python RFC 1319 implementation.
* ``CRC32``/``Adler32`` — ``hashChecksum``, HashProvider.java:106-123,
  via ``zlib`` with the salt-byte update sequence.
* ``Murmur2`` — input-perturbation chaining, HashProvider.java:236-302.
* ``RNG`` — ``java.util.Random(FNV(value)).nextInt(m)`` replica,
  HashProvider.java:75-82.
* ``CarterWegman`` — BigInteger universal hashing replica,
  HashProvider.java:51-67.

All public entry points take a list/array of ``bytes`` keys and return
an ``(N, k)`` int64 position matrix.  Keys are UTF-8 bytes of the
element's string form (BloomFilter.toBytes, BloomFilter.java:152-154).
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Callable, Dict, List, Sequence

import numpy as np

SEED32 = 89478583  # HashProvider.java:19
_INT32_MAX = 2147483647
_INT32_MIN = -2147483648

_U32 = np.uint32
_U64 = np.uint64

# ---------------------------------------------------------------------------
# Key batching helpers
# ---------------------------------------------------------------------------


class Keys:
    """A batch of keys as one contiguous UTF-8 buffer + offsets.

    The zero-copy hot-path representation: built straight from an Arrow
    string/binary array's buffers, so no Python string/bytes objects are
    ever materialized for the vectorized hash paths (the library-wide
    'no per-row Python' rule from BASELINE.json input_hint).
    """

    __slots__ = ("data", "offsets")

    def __init__(self, data: np.ndarray, offsets: np.ndarray):
        self.data = data  # uint8, concatenated key bytes
        self.offsets = offsets  # int64, len == n+1

    def __len__(self) -> int:
        return len(self.offsets) - 1

    @property
    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    @classmethod
    def from_arrow(cls, arr) -> "Keys":
        """Zero-copy view over a pyarrow string/large_string/binary array."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if arr.null_count:
            arr = pc.fill_null(arr, "" if pa.types.is_string(arr.type)
                               or pa.types.is_large_string(arr.type) else b"")
        if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
            off_dtype = np.int64
        elif pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
            off_dtype = np.int32
        else:  # dictionary/other: re-encode through large_string
            arr = pc.cast(arr, pa.large_string())
            off_dtype = np.int64
        bufs = arr.buffers()
        offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
            arr.offset : arr.offset + len(arr) + 1
        ].astype(np.int64)
        data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
        return cls(data, offsets)

    @classmethod
    def from_objects(cls, keys: Sequence) -> "Keys":
        """From Python str/bytes objects (driver-side / test paths)."""
        encoded = [
            v if isinstance(v, bytes)
            else (v if isinstance(v, str) else str(v)).encode("utf-8")
            for v in keys
        ]
        offsets = np.zeros(len(encoded) + 1, dtype=np.int64)
        np.cumsum([len(b) for b in encoded], out=offsets[1:])
        data = np.frombuffer(b"".join(encoded), dtype=np.uint8)
        return cls(data, offsets)

    def get(self, i: int) -> bytes:
        """Materialize one key's bytes (slow per-row hash paths only)."""
        return self.data[self.offsets[i] : self.offsets[i + 1]].tobytes()

    def take(self, idx: np.ndarray) -> "Keys":
        """Row subset as a new contiguous Keys buffer — one vectorized
        gather (output byte t of segment j reads source byte
        ``starts[j] + (t - out_off[j])``), no per-row Python."""
        idx = np.asarray(idx, dtype=np.int64)
        lens = self.lengths[idx]
        out_off = np.zeros(len(idx) + 1, dtype=np.int64)
        np.cumsum(lens, out=out_off[1:])
        total = int(out_off[-1])
        if total == 0:
            return Keys(np.empty(0, dtype=np.uint8), out_off)
        base = np.repeat(self.offsets[idx] - out_off[:-1], lens)
        return Keys(self.data[np.arange(total, dtype=np.int64) + base], out_off)


def as_keys(keys) -> Keys:
    if isinstance(keys, Keys):
        return keys
    return Keys.from_objects(keys)


def keys_from_pandas(series) -> Keys:
    """pandas Series -> Keys via one C-level Arrow encode (no per-row
    Python).  Used by the streaming sketch's pandas batches; Arrow paths
    use :meth:`Keys.from_arrow` directly on the batch column."""
    import pyarrow as pa

    return Keys.from_arrow(pa.Array.from_pandas(series))


def as_bytes_array(keys: Sequence) -> np.ndarray:
    """Normalize a sequence of str/bytes keys to an object ndarray of bytes.

    Mirrors BloomFilter.toBytes (BloomFilter.java:152-154): UTF-8 of the
    element's string form.  Used by driver-side single/bulk element APIs;
    the distributed paths use :class:`Keys` instead.
    """
    out = np.empty(len(keys), dtype=object)
    for i, v in enumerate(keys):
        if isinstance(v, bytes):
            out[i] = v
        elif isinstance(v, str):
            out[i] = v.encode("utf-8")
        else:
            out[i] = str(v).encode("utf-8")
    return out


def _group_by_length(keys: Keys):
    """Yield (indices, (G, L) uint8 matrix) per distinct key byte-length.

    Vectorization strategy: murmur/FNV block loops depend only on the
    byte length, so rows of equal length are processed as one matrix.
    Gathers are pure fancy-indexing over the contiguous buffer — no
    Python objects in the loop.
    """
    lengths = keys.lengths
    starts = keys.offsets[:-1]
    data = keys.data
    if len(lengths) == 0:
        return
    uniq = np.unique(lengths)
    if len(uniq) == 1:
        # fast path: single length (e.g. sha hex keys) — one reshape if
        # contiguous, one gather otherwise
        length = int(uniq[0])
        idx = np.arange(len(lengths))
        if length == 0:
            yield idx, np.zeros((len(idx), 0), dtype=np.uint8)
            return
        if keys.offsets[0] == 0 and keys.offsets[-1] == data.size:
            yield idx, data.reshape(len(idx), length)
        else:
            yield idx, data[starts[:, None] + np.arange(length)[None, :]]
        return
    for length in uniq:
        idx = np.nonzero(lengths == length)[0]
        if length == 0:
            yield idx, np.zeros((len(idx), 0), dtype=np.uint8)
            continue
        mat = data[starts[idx][:, None] + np.arange(int(length))[None, :]]
        yield idx, mat


# ---------------------------------------------------------------------------
# murmur3_32 (Guava-compatible) — HashProvider.murmur3_signed, java:174-229
# ---------------------------------------------------------------------------

_C1 = _U32(0xCC9E2D51)
_C2 = _U32(0x1B873593)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U32(r)) | (x >> _U32(32 - r))


def _premix_blocks(mat: np.ndarray):
    """Seed-independent half of murmur3: per-4-byte-block mixed values
    K[:, j] = rotl(block_le_u32 * c1, 15) * c2, plus the mixed tail.

    Blocks are read as little-endian uint32 views (one memcpy, no
    shift-assembly), and the result is reusable across seed passes —
    Kirsch-Mitzenmacher needs two murmur evaluations of the same key, so
    this halves its per-key work.
    """
    n, length = mat.shape
    nblocks = length // 4
    with np.errstate(over="ignore"):
        if nblocks:
            body = np.ascontiguousarray(mat[:, : nblocks * 4])
            kcol = body.view("<u4").reshape(n, nblocks)
            K = kcol * _C1
            K = _rotl32(K, 15)
            K *= _C2
        else:
            K = None
        tail = length & 3
        if tail:
            base = nblocks * 4
            k1 = np.zeros(n, dtype=_U32)
            if tail == 3:
                k1 ^= mat[:, base + 2].astype(_U32) << _U32(16)
            if tail >= 2:
                k1 ^= mat[:, base + 1].astype(_U32) << _U32(8)
            k1 ^= mat[:, base].astype(_U32)
            k1 *= _C1
            k1 = _rotl32(k1, 15)
            k1 *= _C2
        else:
            k1 = None
    return K, k1, length


def _murmur3_from_premix(premix, seeds: np.ndarray) -> np.ndarray:
    """Seed-dependent half of murmur3 over premixed blocks."""
    K, tail_k1, length = premix
    h1 = seeds.astype(_U32, copy=True)
    with np.errstate(over="ignore"):
        if K is not None:
            for j in range(K.shape[1]):
                h1 ^= K[:, j]
                h1 = _rotl32(h1, 13)
                h1 = h1 * _U32(5) + _U32(0xE6546B64)
        if tail_k1 is not None:
            h1 ^= tail_k1
        # makeHash(): h1 ^= total length processed (java:219 — i += len
        # makes i the full input length)
        h1 ^= _U32(length)
        h1 ^= h1 >> _U32(16)
        h1 *= _U32(0x85EBCA6B)
        h1 ^= h1 >> _U32(13)
        h1 *= _U32(0xC2B2AE35)
        h1 ^= h1 >> _U32(16)
    return h1


def _murmur3_fixed(mat: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """murmur3_32 over an (N, L) uint8 matrix with per-row uint32 seeds."""
    return _murmur3_from_premix(_premix_blocks(mat), seeds)


def murmur3_32(keys, seeds) -> np.ndarray:
    """Vectorized Guava-compatible murmur3_32 -> uint32 array.

    ``keys`` is a :class:`Keys` buffer (or any sequence, converted);
    ``seeds`` is a scalar or per-row array; the uint32 bit pattern equals
    Java's signed int result (HashProvider.murmur3_signed).
    """
    keys = as_keys(keys)
    n = len(keys)
    if np.isscalar(seeds):
        seeds = np.full(n, seeds, dtype=_U32)
    else:
        seeds = np.asarray(seeds).astype(_U32)
    out = np.empty(n, dtype=_U32)
    for idx, mat in _group_by_length(keys):
        out[idx] = _murmur3_fixed(mat, seeds[idx])
    return out


def murmur3_signed_scalar(seed: int, data: bytes) -> int:
    """Scalar reference implementation (signed int), for tests/goldens."""
    u = int(murmur3_32(Keys.from_objects([data]), seed & 0xFFFFFFFF)[0])
    return u - (1 << 32) if u >= (1 << 31) else u


# ---------------------------------------------------------------------------
# Rejection sampling — HashProvider.rejectionSample, java:311-318
# ---------------------------------------------------------------------------


def _rejection_ok(abs64: np.ndarray, m: int) -> np.ndarray:
    """Acceptance mask for |x| (int64) per HashProvider.java:311-318.

    Java keeps Integer.MIN_VALUE negative under Math.abs and rejects it
    explicitly; in int64 its absolute value 2**31 exceeds the limit, so a
    single comparison covers both cases.
    """
    limit = _INT32_MAX - (_INT32_MAX % m)
    return abs64 <= limit


def rejection_sample_scalar(x: int, m: int) -> int:
    """Scalar replica of HashProvider.rejectionSample(int, int)."""
    if x == _INT32_MIN:
        return -1
    x = abs(x)
    if x > (_INT32_MAX - _INT32_MAX % m):
        return -1
    return x % m


# ---------------------------------------------------------------------------
# Murmur3KirschMitzenmacher (default) — hashCassandra, java:160-168
# ---------------------------------------------------------------------------


#: Row-chunk size for the KM hot path: keeps the premixed block matrix
#: (~chunk x L/4 uint32) and all pass temporaries L2-resident, which is
#: what lets 32 concurrent workers scale instead of fighting for DRAM
#: bandwidth.
_KM_CHUNK = 8192


def km_positions_h1(keys, m: int, k: int):
    """Kirsch-Mitzenmacher positions plus the raw h1 = murmur3(0, key)
    values (reused by builders as the lineage fingerprint, saving a third
    murmur evaluation per key).  Returns (pos (N,k) int64, h1 uint32)."""
    if m > 0x7FFFFFFF:
        # past the Java-int parity cap there is no reference behavior to
        # match; use the 64-bit KM variant (extended mode)
        return km64_positions_h1(keys, m, k)
    keys = as_keys(keys)
    n = len(keys)
    # positions fit uint32: the reference caps m at Java int (2^31,
    # FilterBuilder.java:31), and halving position width halves the
    # memory traffic of every downstream sort/scatter/serialize
    pos = np.empty((n, k), dtype=np.uint32)
    h1_out = np.empty(n, dtype=_U32)
    i_arr = np.arange(k, dtype=_U64)[None, :]
    mm = _U64(m)
    with np.errstate(over="ignore"):
        for idx, mat in _group_by_length(keys):
            contiguous = idx.size == n  # single-length fast path
            for s in range(0, idx.size, _KM_CHUNK):
                msub = mat[s : s + _KM_CHUNK]
                premix = _premix_blocks(msub)
                g1 = _murmur3_from_premix(premix, np.zeros(len(msub), dtype=_U32))
                # seed of the 2nd evaluation = (int) hash1: same 32 bits
                g2 = _murmur3_from_premix(premix, g1)
                # Java evaluates (hash1 + i*hash2) in signed 64-bit without
                # overflow (both < 2^32, i < k); uint64 is identical here.
                p = (g1.astype(_U64)[:, None] + i_arr * g2.astype(_U64)[:, None]) % mm
                if contiguous:
                    pos[s : s + _KM_CHUNK] = p.astype(np.uint32)
                    h1_out[s : s + _KM_CHUNK] = g1
                else:
                    sub = idx[s : s + _KM_CHUNK]
                    pos[sub] = p.astype(np.uint32)
                    h1_out[sub] = g1
    return pos, h1_out


def km64_positions_h1(keys, m: int, k: int):
    """64-bit Kirsch-Mitzenmacher for extended-mode filters (m beyond
    the Java-int parity cap): two 64-bit hashes assembled from four
    chained murmur3_32 evaluations sharing one premix, positions =
    (h1_64 + i*(h2_64|1)) mod m in uint64.  Returns (pos (N,k) uint64,
    h1 uint32) — h1 keeps fingerprint/lineage parity with the 32-bit
    path."""
    keys = as_keys(keys)
    n = len(keys)
    pos = np.empty((n, k), dtype=np.uint64)
    h1_out = np.empty(n, dtype=_U32)
    i_arr = np.arange(k, dtype=_U64)[None, :]
    mm = _U64(m)
    with np.errstate(over="ignore"):
        for idx, mat in _group_by_length(keys):
            contiguous = idx.size == n
            for s in range(0, idx.size, _KM_CHUNK):
                msub = mat[s : s + _KM_CHUNK]
                premix = _premix_blocks(msub)
                g1 = _murmur3_from_premix(premix, np.zeros(len(msub), dtype=_U32))
                g2 = _murmur3_from_premix(premix, g1)
                g3 = _murmur3_from_premix(premix, g2)
                g4 = _murmur3_from_premix(premix, g3)
                h1 = (g1.astype(_U64) << _U64(32)) | g2.astype(_U64)
                h2 = ((g3.astype(_U64) << _U64(32)) | g4.astype(_U64)) | _U64(1)
                p = (h1[:, None] + i_arr * h2[:, None]) % mm
                if contiguous:
                    pos[s : s + _KM_CHUNK] = p
                    h1_out[s : s + _KM_CHUNK] = g1
                else:
                    sub = idx[s : s + _KM_CHUNK]
                    pos[sub] = p
                    h1_out[sub] = g1
    return pos, h1_out


def positions_murmur3_km(keys, m: int, k: int) -> np.ndarray:
    return km_positions_h1(keys, m, k)[0]


# ---------------------------------------------------------------------------
# Murmur3 (chained + rejection) — hashMurmur3, java:156-158,320-332
# ---------------------------------------------------------------------------


def positions_murmur3(keys, m: int, k: int) -> np.ndarray:
    keys = as_keys(keys)
    n = len(keys)
    out = np.zeros((n, k), dtype=np.int64)
    counts = np.zeros(n, dtype=np.int64)
    seeds = np.zeros(n, dtype=_U32)
    # All rows advance their hash chain together; completed rows keep
    # hashing (cheap) so every step stays one vectorized batch call.
    # Rejections are rare (~m/2^31), so this takes ~k iterations.
    while True:
        incomplete = counts < k
        if not incomplete.any():
            break
        seeds = murmur3_32(keys, seeds)
        signed = seeds.astype(np.int32).astype(np.int64)
        a = np.abs(signed)
        ok = _rejection_ok(a, m) & incomplete
        rows = np.nonzero(ok)[0]
        out[rows, counts[rows]] = a[rows] % m
        counts[rows] += 1
    return out


# ---------------------------------------------------------------------------
# FNVWithLCG — hashSimpleLCG, java:131-154; FNV fold hashBytes, java:26-43
# ---------------------------------------------------------------------------

_FNV_PRIME = _U64(16777619)
_FNV_OFFSET = _U64(2166136261)
_LCG_MULT = _U64(0x5DEECE66D)
_LCG_ADD = _U64(0xB)
_LCG_MASK = _U64((1 << 48) - 1)


def fnv_hash_bytes(keys) -> np.ndarray:
    """Vectorized replica of HashProvider.hashBytes -> int32 array.

    Faithful to the Java quirk at HashProvider.java:37-38: the byte is
    XORed into the 64-bit accumulator *sign-extended*, so a negative byte
    sets the upper 32 bits, which then feed the next 64-bit multiply.
    """
    keys = as_keys(keys)
    n = len(keys)
    out = np.empty(n, dtype=np.int32)
    with np.errstate(over="ignore"):
        for idx, mat in _group_by_length(keys):
            res = np.full(len(idx), _FNV_OFFSET, dtype=_U64)
            signed = mat.astype(np.int8)
            for j in range(mat.shape[1]):
                res = (res * _FNV_PRIME) & _U64(0xFFFFFFFF)
                res ^= signed[:, j].astype(np.int64).astype(_U64)
            out[idx] = res.astype(_U32).astype(np.int32)
    return out


def positions_fnv_lcg(keys, m: int, k: int) -> np.ndarray:
    keys = as_keys(keys)
    h = fnv_hash_bytes(keys).astype(np.int64)
    reduced = np.abs(h)
    reduced[h == _INT32_MIN] = 42  # java:142-143
    seed = reduced.astype(_U64)
    out = np.empty((len(keys), k), dtype=np.int64)
    with np.errstate(over="ignore"):
        for i in range(k):
            seed = (seed * _LCG_MULT + _LCG_ADD) & _LCG_MASK
            out[:, i] = (seed >> _U64(18)).astype(np.int64) % m
    return out


# ---------------------------------------------------------------------------
# hashCrypt — MD5 / SHA* / MD2, java:341-388
# ---------------------------------------------------------------------------

# Pure-Python MD2 (RFC 1319) — hashlib does not ship MD2.
_MD2_S = [
    41, 46, 67, 201, 162, 216, 124, 1, 61, 54, 84, 161, 236, 240, 6, 19,
    98, 167, 5, 243, 192, 199, 115, 140, 152, 147, 43, 217, 188, 76, 130, 202,
    30, 155, 87, 60, 253, 212, 224, 22, 103, 66, 111, 24, 138, 23, 229, 18,
    190, 78, 196, 214, 218, 158, 222, 73, 160, 251, 245, 142, 187, 47, 238, 122,
    169, 104, 121, 145, 21, 178, 7, 63, 148, 194, 16, 137, 11, 34, 95, 33,
    128, 127, 93, 154, 90, 144, 50, 39, 53, 62, 204, 231, 191, 247, 151, 3,
    255, 25, 48, 179, 72, 165, 181, 209, 215, 94, 146, 42, 172, 86, 170, 198,
    79, 184, 56, 210, 150, 164, 125, 182, 118, 252, 107, 226, 156, 116, 4, 241,
    69, 157, 112, 89, 100, 113, 135, 32, 134, 91, 207, 101, 230, 45, 168, 2,
    27, 96, 37, 173, 174, 176, 185, 246, 28, 70, 97, 105, 52, 64, 126, 15,
    85, 71, 163, 35, 221, 81, 175, 58, 195, 92, 249, 206, 186, 197, 234, 38,
    44, 83, 13, 110, 133, 40, 132, 9, 211, 223, 205, 244, 65, 129, 77, 82,
    106, 220, 55, 200, 108, 193, 171, 250, 36, 225, 123, 8, 12, 189, 177, 74,
    120, 136, 149, 139, 227, 99, 232, 109, 233, 203, 213, 254, 59, 0, 29, 57,
    242, 239, 183, 14, 102, 88, 208, 228, 166, 119, 114, 248, 235, 117, 75, 10,
    49, 68, 80, 180, 143, 237, 31, 26, 219, 153, 141, 51, 159, 17, 131, 20,
]


def _md2(data: bytes) -> bytes:
    pad = 16 - (len(data) % 16)
    data = data + bytes([pad] * pad)
    checksum = bytearray(16)
    l = 0
    for i in range(0, len(data), 16):
        for j in range(16):
            c = data[i + j]
            checksum[j] ^= _MD2_S[c ^ l]
            l = checksum[j]
    data = data + bytes(checksum)
    x = bytearray(48)
    for i in range(0, len(data), 16):
        for j in range(16):
            x[16 + j] = data[i + j]
            x[32 + j] = x[16 + j] ^ x[j]
        t = 0
        for j in range(18):
            for kk in range(48):
                x[kk] ^= _MD2_S[t]
                t = x[kk]
            t = (t + j) % 256
    return bytes(x[:16])


def _digest_fn(method: str) -> Callable[[bytes], bytes]:
    if method == "MD2":
        return _md2
    # direct constructors: hashlib.new() re-resolves the algorithm name
    # per call and measures ~1.5x slower on this box (1.2M vs 1.8M
    # digests/s for sha256)
    ctor = {"MD5": hashlib.md5, "SHA1": hashlib.sha1, "SHA256": hashlib.sha256,
            "SHA384": hashlib.sha384, "SHA512": hashlib.sha512}[method]

    def f(data: bytes, _ctor=ctor) -> bytes:
        return _ctor(data).digest()

    return f


# -- vectorized MD5 (RFC 1321) ------------------------------------------------

#: round constants K[i] = floor(abs(sin(i+1)) * 2^32)
_MD5_K = np.array(
    [int(abs(__import__("math").sin(i + 1)) * (1 << 32)) & 0xFFFFFFFF
     for i in range(64)],
    dtype=np.uint32,
)
_MD5_S = np.array(
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4,
    dtype=np.uint32,
)


def _md5_matrix(mat: np.ndarray) -> np.ndarray:
    """MD5 of N same-length messages at once: (N, L) uint8 -> (N, 16)
    uint8.  The standard RFC 1321 compression, with every 32-bit lane a
    length-N numpy vector — the whole batch moves through the 64 rounds
    together, like the murmur premix path.  Parity with hashlib is
    golden-tested (tests/test_hashing.py)."""
    n, L = mat.shape
    n_blocks = (L + 9 + 63) // 64
    padded = np.zeros((n, n_blocks * 64), dtype=np.uint8)
    padded[:, :L] = mat
    padded[:, L] = 0x80
    bitlen = np.uint64(L * 8)
    padded[:, -8:] = np.frombuffer(bitlen.tobytes(), dtype=np.uint8)
    words = padded.view("<u4")  # (N, n_blocks*16)
    a = np.full(n, 0x67452301, dtype=np.uint32)
    b = np.full(n, 0xEFCDAB89, dtype=np.uint32)
    c = np.full(n, 0x98BADCFE, dtype=np.uint32)
    d = np.full(n, 0x10325476, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for blk in range(n_blocks):
            M = words[:, blk * 16 : (blk + 1) * 16]
            A, B, C, D = a.copy(), b.copy(), c.copy(), d.copy()
            for i in range(64):
                if i < 16:
                    f = (B & C) | (~B & D)
                    g = i
                elif i < 32:
                    f = (D & B) | (~D & C)
                    g = (5 * i + 1) & 15
                elif i < 48:
                    f = B ^ C ^ D
                    g = (3 * i + 5) & 15
                else:
                    f = C ^ (B | ~D)
                    g = (7 * i) & 15
                f = f + A + _MD5_K[i] + M[:, g]
                A = D
                D = C
                C = B
                s = int(_MD5_S[i])
                B = B + ((f << np.uint32(s)) | (f >> np.uint32(32 - s)))
            a += A
            b += B
            c += C
            d += D
    out = np.empty((n, 16), dtype=np.uint8)
    out[:, 0:4] = a[:, None].view(np.uint8).reshape(n, 4)
    out[:, 4:8] = b[:, None].view(np.uint8).reshape(n, 4)
    out[:, 8:12] = c[:, None].view(np.uint8).reshape(n, 4)
    out[:, 12:16] = d[:, None].view(np.uint8).reshape(n, 4)
    return out


def _extract_crypt_positions(words, active, counts, out, m, k, fs, nsplits):
    """Shared slice-extraction for the crypt family: little-endian
    fs-bit slices, accepted iff < m, scattered into the first free
    position slots.  All vectorized over the active rows."""
    mask = _U64((1 << fs) - 1)
    nwords = words.shape[1]
    with np.errstate(over="ignore"):
        for split in range(nsplits):
            w, o = divmod(split * fs, 64)
            v = words[:, w] >> _U64(o)
            if o + fs > 64 and w + 1 < nwords:
                v = v | (words[:, w + 1] << _U64(64 - o))
            v = v & mask
            ok = (v < _U64(m)) & (counts[active] < k)
            rows = active[ok]
            if rows.size:
                out[rows, counts[rows]] = v[ok].astype(np.int64)
                counts[rows] += 1


#: Matrix (whole-batch) digest kernels for the vectorized crypt path —
#: MD5 only.  Measured head-to-head on SHA-NI hosts (m = 19.2M, k = 7,
#: 100k keys, bit-equal outputs), per-row OpenSSL beats whole-batch
#: numpy kernels for SHA1 (238k vs 176k rows/s) and SHA256 (282k vs
#: 200k rows/s), while the MD5 kernel beats hashlib (248k vs 180k):
#: there is no MD5 instruction.  The numpy SHA kernels were deleted for
#: that reason (BASELINE.md "SHA matrix kernels retired").
_MATRIX_DIGESTS = {
    "MD5": (_md5_matrix, 16),
}


#: Row-chunk size for the matrix crypt kernels: the digest schedules
#: touch each length-N lane ~0.5-2k times per block, so lanes must stay
#: cache-resident (measured on this box: 32k-row chunks are ~1.6x the
#: throughput of 200k-row calls; 32k beat 4k/8k/16k in a sweep).
_CRYPT_CHUNK = 32768


def _positions_crypt_matrix(keys: Keys, m: int, k: int, method: str) -> np.ndarray:
    """Fully-vectorized crypt position path (the ``_MATRIX_DIGESTS``
    methods): digest chaining H(prev || key) runs through the method's
    matrix kernel per round, slices through the shared extractor — no
    hashlib, no per-row Python.  Bit-identical to the generic hashlib
    path (parity-tested)."""
    matrix_fn, dig_len = _MATRIX_DIGESTS[method]
    n = len(keys)
    fs = m.bit_length()
    out = np.empty((n, k), dtype=np.int64)
    counts = np.zeros(n, dtype=np.int64)
    nsplits = (dig_len * 8) // fs
    for idx, key_mat in _group_by_length(keys):
        for s in range(0, idx.size, _CRYPT_CHUNK):
            active = idx[s : s + _CRYPT_CHUNK].copy()
            kmat = key_mat[s : s + _CRYPT_CHUNK]
            msg = kmat  # round 1: H(key)
            local = np.arange(len(active))
            while active.size:
                dig = matrix_fn(msg)
                words = dig.view("<u8")  # digests are whole u64 lanes
                _extract_crypt_positions(words, active, counts, out, m, k, fs, nsplits)
                unfinished = counts[active] < k
                if not unfinished.any():
                    break
                # chain: H(digest || key) for the unfinished rows
                active = active[unfinished]
                local = local[unfinished]
                msg = np.concatenate([dig[unfinished], kmat[local]], axis=1)
    return out


def positions_crypt(keys, m: int, k: int, method: str) -> np.ndarray:
    """Replica of HashProvider.hashCrypt (java:341-388).

    digest_0 = H(value); digest_r = H(digest_{r-1} || value).  Each digest
    is consumed little-endian (BitSet.valueOf) in slices of
    ``m.bit_length()`` bits, each accepted iff < m.

    MD5 short-circuits to the fully numpy-vectorized matrix kernel (no
    hashlib at all, no per-row Python).  The SHA family stays on the
    generic path below — one C-speed hashlib call per (row, round), with
    slice extraction, acceptance and position scatter vectorized over
    the whole batch per round — because on SHA-NI hardware per-row
    OpenSSL beats whole-batch numpy SHA kernels (measured; see
    ``_MATRIX_DIGESTS``).  MD2 is pure-Python RFC 1319, the documented
    parity tier.
    """
    keys = as_keys(keys)
    if method in _MATRIX_DIGESTS:
        return _positions_crypt_matrix(keys, m, k, method)
    digest = _digest_fn(method)
    n = len(keys)
    fs = m.bit_length()  # 32 - Integer.numberOfLeadingZeros(m), java:367
    mask = _U64((1 << fs) - 1)
    out = np.empty((n, k), dtype=np.int64)
    counts = np.zeros(n, dtype=np.int64)
    key_bytes = [keys.get(i) for i in range(n)]
    prev: List[bytes] = [b""] * n
    active = np.arange(n)
    while active.size:
        # per-row digests (C-speed each), then batch slice extraction
        digs = [digest(prev[i] + key_bytes[i]) for i in active.tolist()]
        L = len(digs[0])
        nwords = (L + 7) // 8
        mat = np.frombuffer(b"".join(digs), dtype=np.uint8).reshape(active.size, L)
        if L % 8:
            mat = np.concatenate(
                [mat, np.zeros((active.size, nwords * 8 - L), dtype=np.uint8)], axis=1
            )
        words = mat.view("<u8")  # (A, nwords) little-endian 64-bit lanes
        nsplits = (L * 8) // fs
        with np.errstate(over="ignore"):
            for split in range(nsplits):
                w, o = divmod(split * fs, 64)
                v = words[:, w] >> _U64(o)
                if o + fs > 64 and w + 1 < nwords:
                    v = v | (words[:, w + 1] << _U64(64 - o))
                v = v & mask
                ok = (v < _U64(m)) & (counts[active] < k)
                rows = active[ok]
                if rows.size:
                    out[rows, counts[rows]] = v[ok].astype(np.int64)
                    counts[rows] += 1
        # chain: unfinished rows hash H(prev_digest || key) next round
        for j, i in enumerate(active.tolist()):
            prev[i] = digs[j]
        active = active[counts[active] < k]
    return out


# ---------------------------------------------------------------------------
# hashChecksum — CRC32 / Adler32, java:92-123
# ---------------------------------------------------------------------------


def _make_crc_table() -> np.ndarray:
    """The standard reflected CRC-32 table (poly 0xEDB88320) — drives
    the vectorized one-byte update below; parity with zlib.crc32 is
    asserted in tests."""
    tbl = np.empty(256, dtype=np.uint32)
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
        tbl[i] = c
    return tbl


_CRC_TABLE = _make_crc_table()
_ADLER_MOD = np.uint32(65521)


def _positions_checksum(keys, m: int, k: int, kind: str) -> np.ndarray:
    """Replica of hashChecksum (HashProvider.java:92-123): per position,
    extend the key's checksum by ONE byte, (count + salt++ + seed) & 0xFF
    (Checksum.update(int) consumes only the low byte, java:116), then
    rejection-sample.

    The per-key base checksum is one C-speed zlib call per row; the
    salt loop — the actual hot part, ~2k iterations per key — runs
    vectorized: a one-byte CRC update is table[(c^b)&0xFF] ^ (c>>8) on
    the pre-conditioned state, a one-byte Adler update is two modular
    adds, both whole-batch numpy ops.  All incomplete rows advance their
    (count, salt) state together, exactly matching the scalar loop."""
    keys = as_keys(keys)
    n = len(keys)
    is_crc = kind == "CRC32"
    base_fn = zlib.crc32 if is_crc else zlib.adler32
    init = 0 if is_crc else 1
    base = np.empty(n, dtype=np.uint32)
    for row in range(n):
        base[row] = base_fn(keys.get(row), init)
    out = np.empty((n, k), dtype=np.int64)
    counts = np.zeros(n, dtype=np.int64)
    active = np.arange(n)
    t = 0  # global iteration == per-row salt for every incomplete row
    with np.errstate(over="ignore"):
        if is_crc:
            # pre-condition once: zlib crc32 state = result ^ 0xFFFFFFFF
            pre = base ^ np.uint32(0xFFFFFFFF)
        while active.size:
            b = ((counts[active] + t + SEED32) & 0xFF).astype(np.uint32)
            t += 1
            if is_crc:
                c = pre[active]
                c = _CRC_TABLE[(c ^ b) & np.uint32(0xFF)] ^ (c >> np.uint32(8))
                val = c ^ np.uint32(0xFFFFFFFF)
            else:
                lo = (base[active] & np.uint32(0xFFFF)) + b
                lo %= _ADLER_MOD
                hi = ((base[active] >> np.uint32(16)) + lo) % _ADLER_MOD
                val = (hi << np.uint32(16)) | lo
            a = np.abs(val.astype(np.int32).astype(np.int64))
            ok = _rejection_ok(a, m) & (val.astype(np.int32) != np.int32(-(1 << 31)))
            rows = active[ok]
            if rows.size:
                out[rows, counts[rows]] = a[ok] % m
                counts[rows] += 1
            active = active[counts[active] < k]
    return out


def positions_crc32(keys, m: int, k: int) -> np.ndarray:
    return _positions_checksum(keys, m, k, "CRC32")


def positions_adler32(keys, m: int, k: int) -> np.ndarray:
    return _positions_checksum(keys, m, k, "Adler32")


# ---------------------------------------------------------------------------
# java.util.Random replica — for RNG and CarterWegman methods
# ---------------------------------------------------------------------------


class JavaRandom:
    """Minimal java.util.Random replica (LCG per the Java spec)."""

    def __init__(self, seed: int):
        self.seed = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

    def _next(self, bits: int) -> int:
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        r = self.seed >> (48 - bits)
        if bits == 32 and r >= (1 << 31):
            r -= 1 << 32
        return r

    def next_int(self, bound: int) -> int:
        if bound <= 0:
            raise ValueError("bound must be positive")
        if (bound & -bound) == bound:  # power of two
            return (bound * self._next(31)) >> 31
        while True:
            bits = self._next(31)
            val = bits % bound
            # int-overflow check from the Java spec
            if _int32(bits - val + (bound - 1)) >= 0:
                return val

    def next_long(self) -> int:
        hi = self._next(32)
        lo = self._next(32)
        v = (hi << 32) + lo
        # wrap to signed 64-bit
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= (1 << 63) else v


def _int32(x: int) -> int:
    x &= 0xFFFFFFFF
    return x - (1 << 32) if x >= (1 << 31) else x


_LCG_MULT = np.uint64(0x5DEECE66D)
_LCG_ADD = np.uint64(0xB)
_LCG_MASK = np.uint64((1 << 48) - 1)


def positions_rng(keys, m: int, k: int) -> np.ndarray:
    """hashRNG (java:75-82): Random(FNV(value)), k draws of nextInt(m).

    Vectorized java.util.Random: the 48-bit LCG state is a uint64
    vector; every incomplete row advances one nextInt attempt per
    iteration (nextInt's modulo-bias rejection included), bit-exact with
    the scalar JavaRandom replica (cross-checked in tests)."""
    keys = as_keys(keys)
    n = len(keys)
    seeds = fnv_hash_bytes(keys).astype(np.int64)
    state = (seeds.astype(np.uint64) ^ _LCG_MULT) & _LCG_MASK
    out = np.empty((n, k), dtype=np.int64)
    counts = np.zeros(n, dtype=np.int64)
    active = np.arange(n)
    pow2 = (m & -m) == m
    with np.errstate(over="ignore"):
        while active.size:
            st = (state[active] * _LCG_MULT + _LCG_ADD) & _LCG_MASK
            state[active] = st
            bits = (st >> np.uint64(17)).astype(np.int64)  # next(31)
            if pow2:
                val = (np.int64(m) * bits) >> np.int64(31)
                ok = np.ones(active.size, dtype=bool)
            else:
                val = bits % m
                # Java's int-overflow rejection: int32(bits - val + m-1) >= 0
                chk = (bits - val + (m - 1)) & 0xFFFFFFFF
                ok = chk < (1 << 31)
            rows = active[ok]
            if rows.size:
                out[rows, counts[rows]] = val[ok]
                counts[rows] += 1
            active = active[counts[active] < k]
    return out


_CW_PRIME64 = 53200200938189


def _mulmod46(x_mod: int, v: np.ndarray, p: int) -> np.ndarray:
    """(x_mod * v) % p vectorized without 128-bit ints: fold x_mod's
    16-bit chunks Horner-style — every intermediate stays < 2^63
    because p < 2^46 (r<<16 < 2^62, chunk*v < 2^62)."""
    pp = np.uint64(p)
    r = np.zeros(v.shape, dtype=np.uint64)
    for shift in (32, 16, 0):
        chunk = np.uint64((x_mod >> shift) & 0xFFFF)
        r = ((r << np.uint64(16)) + chunk * v) % pp
    return r


def positions_carter_wegman(keys, m: int, k: int) -> np.ndarray:
    """hashCarterWegman (java:51-67): (a*v + b) mod prime64 mod m.

    v = signed big-endian BigInteger of the value bytes (empty -> 0);
    a, b drawn from Random(seed32).nextLong() — the (a, b) sequence is
    identical for every key, so it is precomputed once.

    Vectorized: v mod p is a per-length-group Horner fold over the byte
    columns (r = r*256 + byte, mod p each step — fits uint64 since
    p < 2^46), with the signed-BigInteger twist handled as
    v - 2^(8L) mod p when the top bit is set; each position is then one
    chunked mulmod + add, whole-batch.  Bit-exact vs the scalar big-int
    form (cross-checked in tests)."""
    keys = as_keys(keys)
    n = len(keys)
    p = _CW_PRIME64
    r = JavaRandom(SEED32)
    ab = [(r.next_long() % p, r.next_long() % p) for _ in range(k)]
    v_mod = np.zeros(n, dtype=np.uint64)
    pp = np.uint64(p)
    with np.errstate(over="ignore"):
        for idx, mat in _group_by_length(keys):
            L = mat.shape[1]
            acc = np.zeros(idx.size, dtype=np.uint64)
            for j in range(L):
                acc = (acc * np.uint64(256) + mat[:, j].astype(np.uint64)) % pp
            if L:
                # signed big-endian: top bit set -> v = unsigned - 2^(8L)
                neg = mat[:, 0] >= 128
                if neg.any():
                    off = np.uint64(pow(2, 8 * L, p))
                    acc[neg] = (acc[neg] + pp - off) % pp
            # empty byte string hashes as b"\x00" (BigInteger needs >= 1
            # byte) -> value 0, which acc already is
            v_mod[idx] = acc
        out = np.empty((n, k), dtype=np.int64)
        for i, (a_mod, b_mod) in enumerate(ab):
            out[:, i] = ((_mulmod46(a_mod, v_mod, p) + np.uint64(b_mod)) % pp % np.uint64(m)).astype(np.int64)
    return out


# ---------------------------------------------------------------------------
# Murmur2 with input perturbation — java:236-302
# ---------------------------------------------------------------------------


def _murmur2(data: bytes, seed: int) -> int:
    m = 0x5BD1E995
    r = 24
    length = len(data)
    h = _int32(seed ^ length)
    i = 0
    rem = length
    while rem >= 4:
        k = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16) | (data[i + 3] << 24)
        k = _int32(k)
        k = _int32(k * m)
        k = _int32(k ^ ((k & 0xFFFFFFFF) >> r))
        k = _int32(k * m)
        h = _int32(h * m)
        h = _int32(h ^ k)
        i += 4
        rem -= 4
    if rem == 3:
        h = _int32(h ^ (data[i + 2] << 16))
    if rem >= 2:
        h = _int32(h ^ (data[i + 1] << 8))
    if rem >= 1:
        h = _int32(h ^ data[i])
        h = _int32(h * m)
    h = _int32(h ^ ((h & 0xFFFFFFFF) >> 13))
    h = _int32(h * m)
    h = _int32(h ^ ((h & 0xFFFFFFFF) >> 15))
    return h


def _murmur2_matrix(mat: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized murmur2 over N same-length byte rows -> uint32[N].
    Bit-exact with :func:`_murmur2` (cross-checked in tests)."""
    n, L = mat.shape
    M = _U32(0x5BD1E995)
    h = np.full(n, _U32((seed ^ L) & 0xFFFFFFFF), dtype=_U32)
    with np.errstate(over="ignore"):
        for c in range(0, L - 3, 4):
            kk = (
                mat[:, c].astype(_U32)
                | (mat[:, c + 1].astype(_U32) << _U32(8))
                | (mat[:, c + 2].astype(_U32) << _U32(16))
                | (mat[:, c + 3].astype(_U32) << _U32(24))
            )
            kk = kk * M
            kk = kk ^ (kk >> _U32(24))
            kk = kk * M
            h = (h * M) ^ kk
        rem = L % 4
        base = L - rem
        if rem == 3:
            h = h ^ (mat[:, base + 2].astype(_U32) << _U32(16))
        if rem >= 2:
            h = h ^ (mat[:, base + 1].astype(_U32) << _U32(8))
        if rem >= 1:
            h = h ^ mat[:, base].astype(_U32)
            h = h * M
        h = h ^ (h >> _U32(13))
        h = h * M
        h = h ^ (h >> _U32(15))
    return h


def positions_murmur2(keys, m: int, k: int) -> np.ndarray:
    """Vectorized replica of hashMurmur2 (HashProvider.java:236-258):
    each round perturbs the key bytes in place (increment the first
    non-127 byte, zeroing any leading 127s — java:245-253), re-hashes,
    and rejection-samples.  The perturbation, the murmur2 pass, and the
    acceptance all run as whole-batch numpy ops per length group; rounds
    continue only for rows still short of k positions."""
    keys = as_keys(keys)
    n = len(keys)
    out = np.empty((n, k), dtype=np.int64)
    for idx, mat0 in _group_by_length(keys):
        mat = mat0.copy()  # perturbation state, mutated per round
        L = mat.shape[1]
        cnt = np.zeros(idx.size, dtype=np.int64)
        res = np.empty((idx.size, k), dtype=np.int64)
        act = np.arange(idx.size)
        cols = np.arange(L)[None, :]
        while act.size:
            sub = mat[act]
            if L:
                m127 = sub == 127
                first = np.argmin(m127, axis=1)  # first non-127 byte
                all127 = m127.all(axis=1)
                sub[cols < first[:, None]] = 0   # leading 127s wrap to 0
                rows = np.nonzero(~all127)[0]
                sub[rows, first[rows]] += 1      # uint8 wraps like (x+1)&0xFF
                sub[all127] = 0
                mat[act] = sub
            h = _murmur2_matrix(sub, SEED32)
            a = np.abs(h.astype(np.int32).astype(np.int64))
            ok = _rejection_ok(a, m)
            rows = act[ok]
            if rows.size:
                res[rows, cnt[rows]] = a[ok] % m
                cnt[rows] += 1
            act = act[cnt[act] < k]
        out[idx] = res
    return out


# ---------------------------------------------------------------------------
# XXHash64 (Spark-native parity) — the fast-mode membership tier's hash.
#
# NOT part of the reference's HashProvider suite: this method exists so
# the 100-TB hot path can compute positions entirely JVM-side
# (pyspark.sql.functions.xxhash64 in whole-stage codegen, bloomspark/
# fast.py) while the driver-side library still understands the same
# filters.  These numpy kernels replicate Spark's XXH64
# (spark/common/unsafe .../hash/XXH64.java — standard xxHash64, seed 42
# for the first column, previous hash as the seed of the next), parity
# verified against F.xxhash64 in tests/test_fast.py.
# ---------------------------------------------------------------------------

_XP1 = _U64(0x9E3779B185EBCA87)
_XP2 = _U64(0xC2B2AE3D27D4EB4F)
_XP3 = _U64(0x165667B19E3779F9)
_XP4 = _U64(0x85EBCA77C2B2AE63)
_XP5 = _U64(0x27D4EB2F165667C5)

#: Spark's fixed xxhash64 seed (Murmur3Hash/XxHash64 expressions use 42).
XXH64_SPARK_SEED = 42

#: Constant second column of the fast tier's h2 = xxhash64(key, lit(C)):
#: any fixed long works (h2 is a full-avalanche mix of h1); this one is
#: xxHash's PRIME64_5, chosen to be odd and < 2^63 (Spark long literal).
FAST_SEED2 = 0x27D4EB2F165667C5


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _xxh_round(acc, inp):
    acc = acc + inp * _XP2
    acc = _rotl64(acc, 31)
    return acc * _XP1


def _xxh_fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U64(33))
    h = h * _XP2
    h = h ^ (h >> _U64(29))
    h = h * _XP3
    h = h ^ (h >> _U64(32))
    return h


def _xxh64_matrix(mat: np.ndarray, seed: int) -> np.ndarray:
    """xxHash64 of N same-length byte rows -> uint64[N], whole-batch."""
    n, L = mat.shape
    s = _U64(seed)
    with np.errstate(over="ignore"):
        if L >= 32:
            v1 = np.full(n, s + _XP1 + _XP2, dtype=_U64)
            v2 = np.full(n, s + _XP2, dtype=_U64)
            v3 = np.full(n, s, dtype=_U64)
            v4 = np.full(n, s - _XP1, dtype=_U64)
            nstripes = L // 32
            lanes = np.ascontiguousarray(mat[:, : nstripes * 32]).view("<u8")
            for st in range(nstripes):
                v1 = _xxh_round(v1, lanes[:, 4 * st])
                v2 = _xxh_round(v2, lanes[:, 4 * st + 1])
                v3 = _xxh_round(v3, lanes[:, 4 * st + 2])
                v4 = _xxh_round(v4, lanes[:, 4 * st + 3])
            h = _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
            for v in (v1, v2, v3, v4):
                h = (h ^ _xxh_round(np.zeros(n, dtype=_U64), v)) * _XP1 + _XP4
            off = nstripes * 32
        else:
            h = np.full(n, s + _XP5, dtype=_U64)
            off = 0
        h = h + _U64(L)
        rem = L - off
        while rem >= 8:
            k1 = np.ascontiguousarray(mat[:, off : off + 8]).view("<u8")[:, 0]
            h = h ^ _xxh_round(np.zeros(n, dtype=_U64), k1)
            h = _rotl64(h, 27) * _XP1 + _XP4
            off += 8
            rem -= 8
        if rem >= 4:
            k1 = np.ascontiguousarray(mat[:, off : off + 4]).view("<u4")[:, 0].astype(_U64)
            h = h ^ (k1 * _XP1)
            h = _rotl64(h, 23) * _XP2 + _XP3
            off += 4
            rem -= 4
        while rem:
            h = h ^ (mat[:, off].astype(_U64) * _XP5)
            h = _rotl64(h, 11) * _XP1
            off += 1
            rem -= 1
    return _xxh_fmix(h)


def xxh64(keys, seed: int = XXH64_SPARK_SEED) -> np.ndarray:
    """Vectorized xxHash64 over a Keys batch -> uint64 array whose bit
    pattern equals Spark's ``F.xxhash64(string_col)`` signed long."""
    keys = as_keys(keys)
    out = np.empty(len(keys), dtype=_U64)
    for idx, mat in _group_by_length(keys):
        out[idx] = _xxh64_matrix(mat, seed)
    return out


def xxh64_hash_long(value: int, seeds: np.ndarray) -> np.ndarray:
    """xxHash64 of ONE 8-byte little-endian long under per-row seeds —
    Spark's XXH64.hashLong, i.e. how ``F.xxhash64(key, lit(value))``
    folds the constant second column into the running hash."""
    with np.errstate(over="ignore"):
        k1 = _xxh_round(np.zeros(1, dtype=_U64), np.full(1, value & 0xFFFFFFFFFFFFFFFF, dtype=_U64))[0]
        h = seeds.astype(_U64) + _XP5 + _U64(8)
        h = h ^ k1
        h = _rotl64(h, 27) * _XP1 + _XP4
    return _xxh_fmix(h)


def positions_xxh64km(keys, m: int, k: int) -> np.ndarray:
    """Fast-tier positions: Kirsch-Mitzenmacher over Spark-native hashes.

    h1 = xxhash64(key), h2 = xxhash64(key, lit(FAST_SEED2)); positions
    are pmod(pmod(h1, m) + i * pmod(h2|1, m), m) — reduced mod m BEFORE
    the multiply so the identical arithmetic is expressible as Spark
    long expressions without ANSI overflow (fast.py builds exactly this
    expression tree; equality is asserted in tests/test_fast.py)."""
    keys = as_keys(keys)
    h1 = xxh64(keys)
    h2 = xxh64_hash_long(FAST_SEED2, h1)
    # signed-long pmod: numpy's % already yields the sign of the divisor
    a = h1.view(np.int64) % m
    b = (h2 | _U64(1)).view(np.int64) % m
    i_arr = np.arange(k, dtype=np.int64)[None, :]
    return (a[:, None] + i_arr * b[:, None]) % m


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

HashFn = Callable[[np.ndarray, int, int], np.ndarray]

_REGISTRY: Dict[str, HashFn] = {
    "Murmur3KirschMitzenmacher": positions_murmur3_km,
    "Murmur3": positions_murmur3,
    "FNVWithLCG": positions_fnv_lcg,
    "MD2": lambda keys, m, k: positions_crypt(keys, m, k, "MD2"),
    "MD5": lambda keys, m, k: positions_crypt(keys, m, k, "MD5"),
    "SHA1": lambda keys, m, k: positions_crypt(keys, m, k, "SHA1"),
    "SHA256": lambda keys, m, k: positions_crypt(keys, m, k, "SHA256"),
    "SHA384": lambda keys, m, k: positions_crypt(keys, m, k, "SHA384"),
    "SHA512": lambda keys, m, k: positions_crypt(keys, m, k, "SHA512"),
    "CRC32": positions_crc32,
    "Adler32": positions_adler32,
    "RNG": positions_rng,
    "CarterWegman": positions_carter_wegman,
    "Murmur2": positions_murmur2,
    "XXHash64KM": positions_xxh64km,
}


def get_hash_fn(method: str) -> HashFn:
    """Resolve a hash method name (HashProvider.HashMethod enum names) or
    accept a custom callable — the analog of the reference's pluggable
    HashFunction interface (HashProvider.java:394-405,
    FilterBuilder.hashFunction at FilterBuilder.java:283-286)."""
    if callable(method):
        return method
    try:
        return _REGISTRY[method]
    except KeyError:
        raise ValueError(f"Unknown hash method {method!r}") from None


def hash_positions(keys, m: int, k: int, method) -> np.ndarray:
    """Compute the (N, k) position matrix for a batch of keys.

    ``keys`` may be a :class:`Keys` buffer (hot path) or any sequence of
    str/bytes (driver-side convenience)."""
    return get_hash_fn(method)(as_keys(keys), m, k)
