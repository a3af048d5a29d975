"""Core Bloom filter semantics (BloomFilter.java / BloomFilterMemory.java
re-expressed), including reference goldens:

- population estimate 12221 after 100k distinct adds into (m=8143, k=6, MD5)
  (testFullPopulation, CountingBloomFilterMemoryTest.java:135-140)
- word-list membership fixture (BloomFilterTest.java:97-121)
- union/intersect README fixture (README.md:226-247)
- JSON {m,h,b} round-trip (ConverterTest.java:18-34)
"""

import base64
import json

import numpy as np
import pytest

from bloomspark import BloomFilter, FilterConfig, merge_all, population_estimate


def make(n=1000, p=0.02, **kw):
    return BloomFilter(FilterConfig.complete(n=n, p=p, **kw))


def test_membership_words_fixture():
    # BloomFilterTest.normalTest fixture (java:97-121)
    bf = make()
    inserted = ["Käsebrot", "ist", "ein", "gutes", "Brot"]
    bf.add_all(inserted)
    for w in inserted:
        assert bf.contains(w)
    absent = ["Kartoffelsalat", "Dachlatte", "Die Sechszehnte", "Sonnenblumenkernbrot"]
    # p=0.02 with 5 elements in an n=1000 filter: FP essentially impossible
    assert not any(bf.contains(w) for w in absent)


def test_add_returns_newly_added():
    bf = make()
    assert bf.add("x") is True
    assert bf.add("x") is False  # all bits already set


def test_addall_bit_identity_with_single_adds():
    # addAllTest asserts b1.equals(b2) — bit-identical filters
    # (BloomFilterTest.java:123-139)
    keys = [f"key{i}" for i in range(500)]
    one = make()
    for k in keys:
        one.add(k)
    bulk = make()
    bulk.add_all(keys)
    assert one == bulk
    assert one.to_bytes() == bulk.to_bytes()


def test_all_hash_methods_roundtrip():
    # differentHashFunctionsTest (BloomFilterTest.java:141-164)
    from bloomspark.params import HASH_METHODS

    words = ["foo", "bar", "baz", "Käsebrot"]
    for method in HASH_METHODS:
        bf = make(n=100, p=0.01, hash_method=method)
        bf.add_all(words)
        assert all(bf.contains(w) for w in words), method


def test_population_golden_12221():
    # testFullPopulation (CountingBloomFilterMemoryTest.java:135-140):
    # add 100,000 distinct int-strings to (n=1000, p=0.02, MD5) -> 12221
    bf = make(hash_method="MD5")
    keys = [str(i) for i in range(100_000)]
    # fast path: set positions in bulk (bit-identical to add-at-a-time)
    from bloomspark.filter import set_positions
    from bloomspark.hashing import hash_positions

    pos = hash_positions(keys, bf.config.m, bf.config.k, "MD5")
    set_positions(bf.bits, pos)
    assert int(bf.get_estimated_population()) == 12221


def test_population_estimate_within_5pct():
    # BloomFilterPopulationTest.java:87-95
    rng = np.random.RandomState(7)
    keys = {str(x) for x in rng.randint(0, 10**9, size=400)}
    keys = list(keys)[:200]
    bf = make(n=10_000, p=0.01)
    bf.add_all(keys)
    est = bf.get_estimated_population()
    assert abs(est - 200) / 200 < 0.05


def test_population_clamp_no_infinity():
    # CHANGELOG 2.2.5 'Prevent size of Infinity': X clamped to m-1
    assert np.isfinite(population_estimate(10, 10, 2))


def test_union_intersect_readme_fixture():
    # README.md:226-247
    cfg = FilterConfig.complete(n=100, p=0.1)
    this_f = BloomFilter(cfg)
    that_f = BloomFilter(cfg)
    this_f.add("this")
    that_f.add("that")
    u = this_f.union(that_f)
    assert u.contains("this") and u.contains("that")

    other = BloomFilter(cfg)
    other.add("this")
    other.add("boggles")
    i = this_f.intersect(other)
    assert i.contains("this")
    assert not i.contains("boggles")


def test_union_requires_compatible():
    a = make(n=100, p=0.1)
    b = make(n=200, p=0.1)
    with pytest.raises(ValueError):
        a.union(b)


def test_merge_associativity_commutativity_idempotence():
    cfg = FilterConfig.complete(n=1000, p=0.01)
    parts = []
    for j in range(4):
        f = BloomFilter(cfg)
        f.add_all([f"p{j}-{i}" for i in range(100)])
        parts.append(f)
    ref = merge_all(parts)
    assert merge_all(parts[::-1]) == ref
    assert merge_all([parts[2], parts[0], parts[3], parts[1]]) == ref
    assert merge_all(parts + parts) == ref  # idempotent
    # lossless: union == filter built from all elements
    direct = BloomFilter(cfg)
    for j in range(4):
        direct.add_all([f"p{j}-{i}" for i in range(100)])
    assert direct == ref


def test_clear_isempty_clone():
    bf = make()
    assert bf.is_empty()
    bf.add("a")
    assert not bf.is_empty()
    c = bf.clone()
    bf.clear()
    assert bf.is_empty() and c.contains("a")


def test_bitset_byte_layout_little_endian():
    """to_byte_array must equal java.util.BitSet.toByteArray: bit i ->
    byte i//8, LSB-first, trimmed at the last set byte."""
    cfg = FilterConfig.complete(m=64, k=1)
    bf = BloomFilter(cfg)
    from bloomspark.filter import set_positions

    set_positions(bf.bits, np.array([0, 9, 23]))
    # bit 0 -> byte0 0x01; bit 9 -> byte1 0x02; bit 23 -> byte2 0x80
    assert bf.to_byte_array() == bytes([0x01, 0x02, 0x80])
    assert BloomFilter.from_bytes(cfg, bf.to_byte_array() ) == bf


def test_json_roundtrip_ululu():
    # ConverterTest.java:18-34
    bf = make(n=50, p=0.05)
    bf.add("Ululu")
    restored = BloomFilter.from_json(bf.to_json())
    assert restored.contains("Ululu")
    assert restored.config.m == bf.config.m and restored.config.k == bf.config.k
    obj = json.loads(bf.to_json())
    assert set(obj) == {"m", "h", "b"}
    assert base64.b64decode(obj["b"]) == bf.to_byte_array()


def test_fpp_accessors():
    bf = make()
    assert bf.get_false_positive_probability(1000) == pytest.approx(
        bf.config.false_positive_probability(1000)
    )
    bf.add_all([str(i) for i in range(100)])
    est = bf.get_estimated_false_positive_probability()
    assert 0 < est < 0.02


def test_hash_positions_exposed():
    bf = make(hash_method="MD5")
    assert sorted(bf.hash_positions("foo")) == [4484, 4918, 5583, 6134, 6341, 7596]


def test_exceed_capacity_fpp_within_10pct():
    # ExpiringTest.exceedCapacity semantics (java:209-230): overload 2x,
    # estimated FPP within 10% of analytic optimalP(k, m, 2n)
    cfg = FilterConfig.complete(n=500, p=0.01)
    bf = BloomFilter(cfg)
    from bloomspark.filter import set_positions
    from bloomspark.hashing import hash_positions as hp

    keys = [f"load{i}" for i in range(1000)]
    set_positions(bf.bits, hp(keys, cfg.m, cfg.k, cfg.hash_method))
    analytic = cfg.false_positive_probability(1000)
    est = bf.get_estimated_false_positive_probability()
    assert abs(est - analytic) / analytic < 0.10


def test_sql_registered_functions_match_dataframe_probes(spark):
    """bloomspark/sql.py: registered SQL functions reproduce
    with_membership / with_estimated_count exactly, including the
    int-key stringification, straight from spark.sql text."""
    from bloomspark import (
        CountingBloomFilter,
        FilterConfig,
        with_estimated_count,
        with_membership,
    )
    from bloomspark.filter import BloomFilter
    from bloomspark.sql import register_estimated_count, register_membership

    cfg = FilterConfig.complete(n=500, p=1e-9)
    bf = BloomFilter(cfg)
    bf.add_all([str(i) for i in range(0, 100, 2)])
    ccfg = FilterConfig.complete(n=500, p=1e-9, counting_bits=16)
    cbf = CountingBloomFilter(ccfg)
    for i in range(0, 100, 2):
        for _ in range(i % 5 + 1):
            cbf.add(str(i))

    register_membership(spark, "t_seen", bf)
    register_estimated_count(spark, "t_count", cbf)
    df = spark.range(100).withColumnRenamed("id", "k")
    df.createOrReplaceTempView("__sql_probe_test")
    got = {
        r["k"]: (r["m"], r["c"])
        for r in spark.sql(
            "SELECT k, t_seen(k) AS m, t_count(k) AS c FROM __sql_probe_test"
        ).collect()
    }
    want_m = {
        r["k"]: r["member"] for r in with_membership(df, "k", bf).collect()
    }
    want_c = {
        r["k"]: r["est_count"]
        for r in with_estimated_count(df, "k", cbf).collect()
    }
    assert got == {k: (want_m[k], want_c[k]) for k in want_m}
    # exactness at p=1e-9: evens counted, odds zero
    assert all(
        (got[k][0] and got[k][1] == k % 5 + 1) if k % 2 == 0
        else (not got[k][0] and got[k][1] == 0)
        for k in got
    )

    # boolean arguments render "true"/"false" like the JVM cast; float
    # arguments (and any type the JVM renders differently) are refused
    bf.add("true")
    register_membership(spark, "t_seen", bf)
    flags = spark.createDataFrame([(True,), (False,), (None,)], "b boolean")
    flags.createOrReplaceTempView("__sql_probe_bools")
    got_b = {
        r["b"]: r["m"]
        for r in spark.sql("SELECT b, t_seen(b) AS m FROM __sql_probe_bools").collect()
    }
    want_b = {r["b"]: r["member"] for r in with_membership(flags, "b", bf).collect()}
    assert got_b == want_b and got_b[True] and not got_b[False]
    for arg in ("CAST(k AS DOUBLE)", "CAST(k AS FLOAT)", "DATE'2020-01-01'"):
        for fn in ("t_seen", "t_count"):
            with pytest.raises(Exception, match="CAST the argument to STRING"):
                spark.sql(f"SELECT {fn}({arg}) FROM __sql_probe_test").collect()
