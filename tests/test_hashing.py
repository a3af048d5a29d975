"""Hash-suite parity tests.

Strongest anchors are the reference's golden vectors
(test/memory/CountingBloomFilterMemoryTest.java:71-140): exact MD5
positions for "foo"/"bar" at (m=8143, k=6), and public murmur3_32 test
vectors (Guava/smhasher) standing in for MurmurTest.java:13-31.
"""

import hashlib

import numpy as np
import pytest

from bloomspark.hashing import (
    JavaRandom,
    as_bytes_array,
    fnv_hash_bytes,
    hash_positions,
    murmur3_32,
    murmur3_signed_scalar,
    rejection_sample_scalar,
)
from bloomspark.params import HASH_METHODS


def test_md5_golden_positions_foo_bar():
    # CountingBloomFilterMemoryTest.java:71-133
    foo = hash_positions(["foo"], 8143, 6, "MD5")[0]
    bar = hash_positions(["bar"], 8143, 6, "MD5")[0]
    assert sorted(int(x) for x in foo) == [4484, 4918, 5583, 6134, 6341, 7596]
    assert sorted(int(x) for x in bar) == [1770, 2285, 2861, 4742, 5431, 7745]


# Public murmur3_32 vectors (Guava HashTestUtils / smhasher verification set)
MURMUR3_VECTORS = [
    (0, b"", 0),
    (1, b"", 0x514E28B7),
    (0xFFFFFFFF, b"", 0x81F16F39),
    (0, b"\x00\x00\x00\x00", 0x2362F9DE),
    (0x9747B28C, b"aaaa", 0x5A97808A),
    (0x9747B28C, b"aaa", 0x283E0130),
    (0x9747B28C, b"aa", 0x5D211726),
    (0x9747B28C, b"a", 0x7FA09EA6),
    (0x9747B28C, b"abcd", 0xF0478627),
    (0x9747B28C, b"abc", 0xC84A62DD),
    (0x9747B28C, b"ab", 0x74875592),
    (0, b"a", 0x3C2569B2),
    (0, b"abc", 0xB3DD93FA),
    (0x9747B28C, b"Hello, world!", 0x24884CBA),
    (0x9747B28C, b"The quick brown fox jumps over the lazy dog", 0x2FA826CD),
]


@pytest.mark.parametrize("seed,data,expected", MURMUR3_VECTORS)
def test_murmur3_32_public_vectors(seed, data, expected):
    got = murmur3_32(as_bytes_array([data]), seed)[0]
    assert int(got) == expected


def test_murmur3_scalar_matches_vectorized():
    rng = np.random.RandomState(42)
    keys = [bytes(rng.randint(0, 256, size=n, dtype=np.uint8)) for n in range(100)]
    arr = as_bytes_array(keys)
    vec = murmur3_32(arr, 7)
    for i, kb in enumerate(keys):
        s = murmur3_signed_scalar(7, kb)
        assert (s & 0xFFFFFFFF) == int(vec[i])


def test_positions_in_range_all_methods():
    keys = ["foo", "bar", "", "Käsebrot", "x" * 300, "123"]
    for method in HASH_METHODS:
        pos = hash_positions(keys, 1000, 10, method)
        assert pos.shape == (6, 10)
        assert (pos >= 0).all() and (pos < 1000).all(), method


def test_determinism_all_methods():
    keys = ["alpha", "beta", "gamma"]
    for method in HASH_METHODS:
        a = hash_positions(keys, 8143, 6, method)
        b = hash_positions(keys, 8143, 6, method)
        assert (a == b).all(), method


def test_batch_order_independence():
    """Hashing key x must not depend on its neighbors in the batch."""
    for method in ("Murmur3KirschMitzenmacher", "Murmur3", "FNVWithLCG", "MD5"):
        solo = hash_positions(["needle"], 8143, 6, method)[0]
        batch = hash_positions(["a", "needle", "bb", "ccc"], 8143, 6, method)[1]
        assert (solo == batch).all(), method


def test_fnv_hash_bytes_signed_byte_quirk():
    """Bytes >= 0x80 are XORed sign-extended (HashProvider.java:37-38)."""

    def scalar_fnv(data: bytes) -> int:
        result = 2166136261
        for b in data:
            result = (result * 16777619) & 0xFFFFFFFF
            sb = b - 256 if b >= 128 else b
            result ^= sb
            result &= (1 << 64) - 1
        r = result & 0xFFFFFFFF
        return r - (1 << 32) if r >= (1 << 31) else r

    keys = [b"", b"abc", b"\xff\x80\x01", bytes(range(256)), "Käsebrot".encode()]
    got = fnv_hash_bytes(as_bytes_array(keys))
    for i, kb in enumerate(keys):
        assert int(got[i]) == scalar_fnv(kb), kb


def test_rejection_sample_constants():
    # HashProvider.java:311-318
    assert rejection_sample_scalar(-(2**31), 100) == -1
    limit = 2147483647 - 2147483647 % 100
    assert rejection_sample_scalar(limit, 100) == limit % 100
    assert rejection_sample_scalar(limit + 1, 100) == -1
    assert rejection_sample_scalar(-50, 7) == 50 % 7


def test_java_random_replica():
    # java.util.Random(42): first three nextInt() values (public knowledge)
    r = JavaRandom(42)
    assert r._next(32) == -1170105035
    assert r._next(32) == 234785527
    # nextInt(bound) stays in range and is deterministic
    vals = [JavaRandom(12345).next_int(1000) for _ in range(3)]
    assert vals[0] == vals[1] == vals[2]
    assert 0 <= vals[0] < 1000


def test_km_double_hashing_structure():
    """pos_i = (h1 + i*h2) mod m (HashProvider.hashCassandra java:160-168)."""
    keys = as_bytes_array(["structural"])
    m, k = 999983, 8
    pos = hash_positions(keys, m, k, "Murmur3KirschMitzenmacher")[0]
    h1 = int(murmur3_32(keys, 0)[0])
    h2 = int(murmur3_32(keys, np.array([h1], dtype=np.uint32))[0])
    expect = [(h1 + i * h2) % m for i in range(k)]
    assert [int(x) for x in pos] == expect


def test_crypt_digest_chaining():
    """digest_r = H(digest_{r-1} || value) (HashProvider.java:358-362)."""
    m, k = 7, 40  # tiny m forces several digest rounds (fs=3 bits)
    pos = hash_positions(["chain"], m, k, "SHA256")[0]
    # recompute manually
    value = b"chain"
    fs = m.bit_length()
    expected = []
    d = b""
    while len(expected) < k:
        d = hashlib.sha256(d + value).digest()
        big = int.from_bytes(d, "little")
        for split in range((len(d) * 8) // fs):
            if len(expected) >= k:
                break
            v = (big >> (split * fs)) & ((1 << fs) - 1)
            if v < m:
                expected.append(v)
    assert [int(x) for x in pos] == expected


def test_sha_matrix_kernels_parity(monkeypatch):
    """The whole-batch numpy MD5 kernel — the one matrix kernel still
    dispatched (hashing._MATRIX_DIGESTS) — is bit-identical to hashlib
    across lengths (incl. multi-block), and its position path matches
    the generic per-row hashlib chain path of ``positions_crypt``."""
    import numpy as np

    from bloomspark import hashing
    from bloomspark.hashing import Keys, _md5_matrix, positions_crypt

    rng = np.random.RandomState(0)
    for L in [0, 1, 7, 55, 56, 63, 64, 119, 120, 200]:
        mat = rng.randint(0, 256, size=(9, L)).astype(np.uint8)
        for i in range(9):
            b = mat[i].tobytes()
            assert _md5_matrix(mat)[i].tobytes() == hashlib.md5(b).digest()
    keys = Keys.from_objects([f"key{i}" for i in range(500)] + ["foo", "bar", ""])
    cases = [(8143, 6), (1 << 20, 7), (7, 40)]
    matrix = [positions_crypt(keys, m, k, "MD5") for m, k in cases]
    monkeypatch.setattr(hashing, "_MATRIX_DIGESTS", {})
    for (m, k), got in zip(cases, matrix):
        assert (got == positions_crypt(keys, m, k, "MD5")).all()


def test_md2_rfc1319_vectors():
    from bloomspark.hashing import _md2

    assert _md2(b"").hex() == "8350e5a3e24c153df2275c9f80692773"
    assert _md2(b"a").hex() == "32ec01ec4a6dac72c0ab96fb34c0b5d1"
    assert _md2(b"abc").hex() == "da853b0d3f88d99b30283a69e6ded6bb"
    assert _md2(b"message digest").hex() == "ab4f496bfb2a530b219ff33031fe06b0"


def test_custom_hash_function_plugin():
    """Custom HashFunction analog (FilterBuilder.java:283-286)."""

    def fixed(keys, m, k):
        return np.tile(np.arange(k), (len(keys), 1)) % m

    got = hash_positions(["a", "b"], 100, 4, fixed)
    assert got.tolist() == [[0, 1, 2, 3], [0, 1, 2, 3]]


def test_murmur2_vectorized_matches_scalar_reference():
    """The vectorized Murmur2 path (input perturbation + rejection) must
    be bit-exact with a direct scalar transcription of
    HashProvider.hashMurmur2 (java:236-258), including the 127-wrap
    carry in the perturbation and the INT32_MIN rejection."""
    import numpy as np

    from bloomspark.hashing import (
        SEED32,
        _murmur2,
        as_keys,
        positions_murmur2,
        rejection_sample_scalar,
    )

    def scalar_positions(key: bytes, m: int, k: int):
        data = bytearray(key)
        positions = []
        while len(positions) < k:
            for i in range(len(data)):
                if data[i] == 127:
                    data[i] = 0
                    continue
                data[i] = (data[i] + 1) & 0xFF
                break
            h = _murmur2(bytes(data), SEED32)
            s = rejection_sample_scalar(h, m)
            if s != -1:
                positions.append(s)
        return positions

    # keys that exercise the 127-carry (DEL char), multibyte utf-8,
    # varied lengths, and empty-adjacent shapes
    raw = [
        "foo", "bar", "a", "ab\x7f", "\x7f\x7f\x7fx", "key:123456",
        "日本語テキスト", "x" * 33, "\x7e\x7f\x7e", "zzz\x7f",
    ] + [f"k{i}" for i in range(200)]
    m, k = 8143, 5
    got = positions_murmur2(as_keys(raw), m, k)
    for row, s in enumerate(raw):
        expect = scalar_positions(s.encode("utf-8"), m, k)
        assert got[row].tolist() == expect, f"row {row} ({s!r})"

    # throughput guard: the batch path must stay vectorized (no per-row
    # python) — 50k keys in well under a second
    import time

    big = as_keys([f"key:{i}" for i in range(50_000)])
    t0 = time.time()
    positions_murmur2(big, m, 6)
    assert time.time() - t0 < 3.0


def test_checksum_vectorized_matches_scalar_reference():
    """CRC32/Adler32 positions must be bit-exact with a direct scalar
    transcription of hashChecksum (java:92-123) driven by zlib itself —
    this also proves the numpy CRC table + one-byte update equal
    zlib.crc32's own arithmetic."""
    import zlib

    from bloomspark.hashing import (
        SEED32,
        as_keys,
        positions_adler32,
        positions_crc32,
        rejection_sample_scalar,
    )

    def scalar(key: bytes, m: int, k: int, crc: bool):
        fn = zlib.crc32 if crc else zlib.adler32
        base = fn(key, 0 if crc else 1)
        positions, salt = [], 0
        while len(positions) < k:
            b = bytes([(len(positions) + salt + SEED32) & 0xFF])
            salt += 1
            val = fn(b, base) & 0xFFFFFFFF
            signed = val - (1 << 32) if val >= (1 << 31) else val
            h = rejection_sample_scalar(signed, m)
            if h != -1:
                positions.append(h)
        return positions

    raw = ["foo", "bar", "", "a", "key:42", "日本語", "x" * 100] + [
        f"k{i}" for i in range(150)
    ]
    m, k = 8143, 5
    got_crc = positions_crc32(as_keys(raw), m, k)
    got_adl = positions_adler32(as_keys(raw), m, k)
    for row, s in enumerate(raw):
        assert got_crc[row].tolist() == scalar(s.encode(), m, k, True), s
        assert got_adl[row].tolist() == scalar(s.encode(), m, k, False), s


def test_rng_and_carterwegman_vectorized_match_scalar():
    """RNG (java.util.Random replica) and CarterWegman positions must be
    bit-exact with direct scalar transcriptions of HashProvider.hashRNG
    (java:75-82) and hashCarterWegman (java:51-67)."""
    from bloomspark.hashing import (
        SEED32,
        JavaRandom,
        _CW_PRIME64,
        as_keys,
        fnv_hash_bytes,
        positions_carter_wegman,
        positions_rng,
    )

    raw = ["foo", "bar", "", "a", "key:42", "日本語", "\xff\x80", "x" * 40] + [
        f"k{i}" for i in range(150)
    ]
    kb = as_keys(raw)

    for m in (8143, 8192):  # non-power-of-two AND power-of-two nextInt
        k = 5
        got = positions_rng(kb, m, k)
        seeds = fnv_hash_bytes(kb)
        for row, s in enumerate(raw):
            r = JavaRandom(int(seeds[row]))
            assert got[row].tolist() == [r.next_int(m) for _ in range(k)], (m, s)

    m, k = 8143, 5
    got = positions_carter_wegman(kb, m, k)
    r = JavaRandom(SEED32)
    ab = [(r.next_long(), r.next_long()) for _ in range(k)]
    for row, s in enumerate(raw):
        key = s.encode("utf-8")
        v = int.from_bytes(key if key else b"\x00", "big", signed=True)
        expect = [((a * v + b) % _CW_PRIME64) % m for a, b in ab]
        assert got[row].tolist() == expect, s
