"""JVM-native fast-mode membership probe (bloomspark/fast.py).

The contract under test: the native expression tree (xxhash64 KM double
hashing, broadcast-join probe) is bit-identical to the numpy replica
registered as hash method "XXHash64KM" — so a ``build_bloom`` filter on
that method is probed natively and interoperates with every
driver-side operator — and its plans never touch a Python worker.  The
never-collected XXHash64KM form is the sharded tier; its counting
paths are pinned here against ``build_counting``."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomspark import (
    BloomFilter,
    CountingBloomFilter,
    FilterConfig,
    build_bloom,
    build_counting,
)
from bloomspark.fast import fast_position_cols, with_fast_membership
from bloomspark.hashing import (
    FAST_SEED2,
    Keys,
    positions_xxh64km,
    xxh64,
    xxh64_hash_long,
)
from bloomspark.probe import with_estimated_count, with_membership
from bloomspark.sharded import (
    build_sharded_counting,
    subtract_sharded_counting,
    with_sharded_estimated_count,
)

CFG = FilterConfig.complete(n=20_000, p=0.01, hash_method="XXHash64KM")

#: Edge lengths around every xxh64 block boundary (32-byte stripes,
#: 8-byte lanes, 4-byte chunk, byte tail) plus multi-byte UTF-8.
SAMPLES = [
    "", "a", "abc", "foo", "bar", "1234567", "12345678", "123456789",
    "x" * 31, "x" * 32, "x" * 33, "y" * 63, "y" * 64, "y" * 65,
    "unicode-éß中文🙂", "key with spaces and\ttabs",
]


def test_xxh64_matches_spark_native(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], "s string")
    rows = df.select(
        "s",
        F.xxhash64("s").alias("h1"),
        F.xxhash64("s", F.lit(FAST_SEED2)).alias("h2"),
    ).collect()
    keys = Keys.from_objects(SAMPLES)
    h1 = xxh64(keys).view(np.int64)
    h2 = xxh64_hash_long(FAST_SEED2, xxh64(keys)).view(np.int64)
    by_s = {r["s"]: (r["h1"], r["h2"]) for r in rows}
    for i, s in enumerate(SAMPLES):
        assert by_s[s] == (h1[i], h2[i]), repr(s)


def test_position_exprs_match_numpy_replica(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], "s string")
    cols = [c.alias(f"p{i}") for i, c in enumerate(fast_position_cols("s", CFG))]
    got = df.select("s", *cols).collect()
    keys = Keys.from_objects(SAMPLES)
    exp = positions_xxh64km(keys, CFG.m, CFG.k)
    by_s = {r["s"]: [r[f"p{i}"] for i in range(CFG.k)] for r in got}
    for i, s in enumerate(SAMPLES):
        assert by_s[s] == exp[i].tolist(), repr(s)


def test_native_probe_agrees_with_all_probe_tiers(spark, orders, customer):
    bf = build_bloom(orders, "o_custkey", CFG)
    native = {
        r["c_custkey"]: r["member"]
        for r in with_fast_membership(customer, "c_custkey", bf).collect()
    }
    pandas_tier = {
        r["c_custkey"]: r["member"]
        for r in with_membership(customer, "c_custkey", bf).collect()
    }
    assert native == pandas_tier
    for key, got in list(native.items())[:100]:
        assert got == bf.contains(str(key))


def test_fast_fpp_and_no_false_negatives(spark):
    n = 30_000
    cfg = FilterConfig.complete(n=n, p=0.01, hash_method="XXHash64KM")
    inserted = spark.range(n).select(F.concat(F.lit("k"), "id").alias("s"))
    bf = build_bloom(inserted, "s", cfg)
    probe_in = with_fast_membership(inserted, "s", bf)
    assert probe_in.where(~F.col("member")).count() == 0
    disjoint = spark.range(3 * n).select(F.concat(F.lit("no"), "id").alias("s"))
    fps = with_fast_membership(disjoint, "s", bf).where("member").count()
    assert fps / (3 * n) <= 2 * 0.01


def test_fast_filter_interop_union_json(spark, orders):
    """An XXHash64KM filter is an ordinary BloomFilter: algebra and serde
    work unchanged."""
    o = orders.where(F.col("o_orderstatus") == "O")
    f = orders.where(F.col("o_orderstatus") == "F")
    bf_o = build_bloom(o, "o_custkey", CFG)
    bf_f = build_bloom(f, "o_custkey", CFG)
    merged = bf_o.union(bf_f)
    assert merged.to_bytes() == build_bloom(
        orders.where(F.col("o_orderstatus").isin("O", "F")), "o_custkey", CFG
    ).to_bytes()
    # JSON {m,h,b} deliberately has no hash-method field (reference wire
    # parity, BloomFilterConverter.java:70-83): the payload round-trips
    # byte-exact; reattach the fast config explicitly on import
    restored = BloomFilter.from_json(bf_o.to_json())
    assert restored.to_byte_array() == bf_o.to_byte_array()
    reattached = BloomFilter(CFG, restored.bits)
    assert reattached.contains("1") == bf_o.contains("1")


def test_fast_requires_fast_method(spark, orders):
    """The probe reads the filter's own config: a parity-tier method is
    refused."""
    km = FilterConfig.complete(n=100, p=0.01)
    with pytest.raises(ValueError, match="XXHash64KM"):
        with_fast_membership(orders, "o_orderkey", BloomFilter(km))


def test_fast_extended_m_words_path(spark):
    """Extended m (beyond the Java-int cap): the position expressions
    stay 64-bit and agree with the numpy replica, while a driver bitset
    of an extended config has no broadcast probe and is refused,
    pointing at the sharded tier (a small extended m keeps the bitset
    cheap here)."""
    xcfg = FilterConfig.complete(
        m=(1 << 33), k=3, hash_method="XXHash64KM", extended=True
    )
    df = spark.createDataFrame([(s,) for s in SAMPLES], "s string")
    cols = [c.alias(f"p{i}") for i, c in enumerate(fast_position_cols("s", xcfg))]
    got = df.select("s", *cols).collect()
    exp = positions_xxh64km(Keys.from_objects(SAMPLES), xcfg.m, xcfg.k)
    by_s = {r["s"]: [r[f"p{i}"] for i in range(xcfg.k)] for r in got}
    for i, s in enumerate(SAMPLES):
        assert by_s[s] == exp[i].tolist(), repr(s)
    # some position lands past the Java-int range
    assert exp.max() >= 1 << 31
    small = FilterConfig.complete(
        m=1024, k=3, hash_method="XXHash64KM", extended=True
    )
    with pytest.raises(ValueError, match="sharded"):
        with_fast_membership(df, "s", BloomFilter(small))


def _shard_counters(shards, cfg):
    """The counter array of a one-shard counting table."""
    (payload,) = [r["counters"] for r in shards.collect()]
    return np.frombuffer(payload, dtype=CountingBloomFilter(cfg).counters.dtype)


def test_fast_counting_build_byte_identical(spark, lineitem):
    """The never-collected XXHash64KM counting table (one shard holds
    every key) == the collected build_counting, counter for counter (no
    count reaches the 32-bit counter width)."""
    cfg = FilterConfig.complete(n=2000, p=1e-6, counting_bits=32,
                                hash_method="XXHash64KM")
    shards = build_sharded_counting(lineitem, "l_partkey", cfg, num_shards=1)
    arrow = build_counting(lineitem, "l_partkey", cfg)
    assert (_shard_counters(shards, cfg) == arrow.counters).all()


def test_fast_estimated_count_probe(spark, lineitem):
    """Never-collected XXHash64KM estimates (sharded counting) equal
    exact GROUP BY counts at tiny FPP on a prime m; missing keys
    estimate 0."""
    cfg = FilterConfig.complete(n=2000, p=1e-9, counting_bits=32,
                                hash_method="XXHash64KM", prime_m=True)
    keys = lineitem.select("l_partkey").distinct()
    exact = {r["l_partkey"]: r["count"]
             for r in lineitem.groupBy("l_partkey").count().collect()}
    shards = build_sharded_counting(lineitem, "l_partkey", cfg, num_shards=4)
    via_table = {
        r["l_partkey"]: r["est_count"]
        for r in with_sharded_estimated_count(
            keys, "l_partkey", shards, cfg, num_shards=4
        ).collect()
    }
    assert via_table == exact
    missing = spark.createDataFrame([(99_999_999,)], "l_partkey long")
    assert with_sharded_estimated_count(
        missing, "l_partkey", shards, cfg, num_shards=4
    ).first()["est_count"] == 0


def test_fast_counting_saturation(spark):
    """Counter width holds on every counting path of the XXHash64KM
    method: nine adds of one key into 2-bit counters read 3 from the
    collected build, from the sharded table, and from the sharded table
    after an empty removal."""
    cfg = FilterConfig.complete(m=64, k=1, counting_bits=2,
                                hash_method="XXHash64KM")
    df = spark.createDataFrame([("x",)] * 9, "s string")
    probe = spark.createDataFrame([("x",)], "s string")
    cbf = build_counting(df, "s", cfg)
    assert cbf._overflows > 0
    shards = build_sharded_counting(df, "s", cfg, num_shards=1)
    removed = subtract_sharded_counting(
        shards, build_sharded_counting(df.limit(0), "s", cfg, num_shards=1), cfg
    )
    got = [
        with_estimated_count(probe, "s", cbf).first()["est_count"],
        *(
            with_sharded_estimated_count(
                probe, "s", t, cfg, num_shards=1
            ).first()["est_count"]
            for t in (shards, removed)
        ),
    ]
    assert got == [3, 3, 3]


def test_fast_probe_null_keys(spark):
    """Null keys hash as the empty string on both tiers (the Python
    tier's fill_null convention)."""
    df = spark.createDataFrame([("",), (None,), ("x",)], "s string")
    bf = build_bloom(spark.createDataFrame([("",)], "s string"), "s", CFG)
    got = {r["s"]: r["member"] for r in with_fast_membership(df, "s", bf).collect()}
    assert got[""] is True and got[None] is True


def test_fast_counting_removals_matches_parity_subtract(spark):
    """subtract_sharded_counting on one XXHash64KM shard ==
    build_counting_with_removals, position by position (floored
    subtraction is per-position in both)."""
    from bloomspark.build import build_counting_with_removals

    cfg = FilterConfig.complete(
        n=1_000, p=0.01, counting_bits=16, hash_method="XXHash64KM"
    )
    adds = spark.range(3_000).select((F.col("id") % 600).cast("string").alias("k"))
    removes = spark.range(600).select((F.col("id") % 300).cast("string").alias("k"))
    parity = build_counting_with_removals(adds, removes, "k", cfg)
    shards = subtract_sharded_counting(
        build_sharded_counting(adds, "k", cfg, num_shards=1),
        build_sharded_counting(removes, "k", cfg, num_shards=1),
        cfg,
    )
    assert (_shard_counters(shards, cfg) == parity.counters).all()


def test_probe_rejects_reserved_column_collisions(spark, orders):
    """ADVICE r4: a probe df already carrying the out_col or a '__f*'
    column must raise — a silent clobber/duplicate would corrupt the
    verdicts."""
    cfg = FilterConfig.complete(n=1000, p=0.01, hash_method="XXHash64KM")
    bf = build_bloom(orders, "o_orderkey", cfg)
    has_out = orders.withColumn("member", F.lit(True))
    with pytest.raises(ValueError, match="reserved"):
        with_fast_membership(has_out, "o_orderkey", bf)
    has_tmp = orders.withColumn("__fkv", F.lit("x"))
    with pytest.raises(ValueError, match="reserved"):
        with_fast_membership(has_tmp, "o_orderkey", bf)
    # a clean df still probes fine with a custom out_col
    ok = with_fast_membership(orders, "o_orderkey", bf, out_col="m2")
    assert "m2" in ok.columns
