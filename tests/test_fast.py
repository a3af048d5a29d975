"""JVM-native fast-mode membership tier (bloomspark/fast.py).

The contract under test: the native expression tree (xxhash64 KM double
hashing, bit_or word aggregation, broadcast-join probe) is bit-identical
to the numpy replica registered as hash method "XXHash64KM" — so fast
filters interoperate with every driver-side operator — and its plans
never touch a Python worker."""

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
from bloomspark.fast import (
    _with_fast_membership_exploded,
    build_fast_bloom,
    fast_bloom_words,
    fast_counting_positions,
    fast_position_cols,
    with_fast_estimated_count,
    with_fast_membership,
)
from bloomspark.hashing import (
    FAST_SEED2,
    Keys,
    positions_xxh64km,
    xxh64,
    xxh64_hash_long,
)
from bloomspark.probe import with_estimated_count, with_membership

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


def test_native_build_byte_identical_to_arrow_build(spark, orders):
    native = build_fast_bloom(orders, "o_orderkey", CFG)
    arrow = build_bloom(orders, "o_orderkey", CFG)
    assert native.to_bytes() == arrow.to_bytes()
    # ...which transitively proves the bit/word layout convention


def test_native_probe_agrees_with_all_probe_tiers(spark, orders, customer):
    bf = build_fast_bloom(orders, "o_custkey", CFG)
    native = {
        r["c_custkey"]: r["member"]
        for r in with_fast_membership(customer, "c_custkey", bf, CFG).collect()
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
    bf = build_fast_bloom(inserted, "s", cfg)
    probe_in = with_fast_membership(inserted, "s", bf, cfg)
    assert probe_in.where(~F.col("member")).count() == 0
    disjoint = spark.range(3 * n).select(F.concat(F.lit("no"), "id").alias("s"))
    fps = with_fast_membership(disjoint, "s", bf, cfg).where("member").count()
    assert fps / (3 * n) <= 2 * 0.01


def test_words_table_roundtrip_and_distributed_probe(spark, orders, customer):
    words = fast_bloom_words(orders, "o_custkey", CFG)
    via_words = {
        r["c_custkey"]: r["member"]
        for r in with_fast_membership(customer, "c_custkey", words, CFG).collect()
    }
    bf = build_fast_bloom(orders, "o_custkey", CFG)
    via_filter = {
        r["c_custkey"]: r["member"]
        for r in with_fast_membership(customer, "c_custkey", bf, CFG).collect()
    }
    assert via_words == via_filter


def test_fast_filter_interop_union_json(spark, orders):
    """A fast-built filter is an ordinary BloomFilter: algebra and serde
    work unchanged."""
    o = orders.where(F.col("o_orderstatus") == "O")
    f = orders.where(F.col("o_orderstatus") == "F")
    bf_o = build_fast_bloom(o, "o_custkey", CFG)
    bf_f = build_fast_bloom(f, "o_custkey", CFG)
    merged = bf_o.union(bf_f)
    assert merged.to_bytes() == build_fast_bloom(
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
    km = FilterConfig.complete(n=100, p=0.01)
    with pytest.raises(ValueError, match="XXHash64KM"):
        build_fast_bloom(orders, "o_orderkey", km)
    with pytest.raises(ValueError, match="XXHash64KM"):
        with_fast_membership(orders, "o_orderkey", BloomFilter(km), km)


def test_fast_extended_m_words_path(spark):
    """Extended-m (beyond the Java-int cap): the collected form is
    refused, but the distributed words table + native probe work —
    byte-free 64-bit positions end to end."""
    cfg = FilterConfig.complete(
        m=(1 << 33), k=3, hash_method="XXHash64KM", extended=True
    )
    df = spark.range(2_000).select(F.concat(F.lit("k"), "id").alias("s"))
    with pytest.raises(ValueError, match="extended"):
        build_fast_bloom(df, "s", cfg)
    words = fast_bloom_words(df, "s", cfg)
    # the extended config alone selects the exploded probe (the k-join
    # would densify ~one-set-bit blocks 512x)
    probed = with_fast_membership(df, "s", words, cfg)
    assert probed.where(~F.col("member")).count() == 0
    # a driver bitset of an extended config is refused, pointing at the
    # words table (a small extended m keeps the bitset cheap here)
    small = FilterConfig.complete(
        m=1024, k=3, hash_method="XXHash64KM", extended=True
    )
    with pytest.raises(ValueError, match="fast_bloom_words"):
        with_fast_membership(df, "s", BloomFilter(small), small)
    # numpy replica agrees on the 64-bit positions
    keys = Keys.from_objects(["k0", "k1"])
    exp = positions_xxh64km(keys, cfg.m, cfg.k)
    got = (
        df.limit(0)
        .sparkSession.createDataFrame([("k0",), ("k1",)], "s string")
        .select(*[c.alias(f"p{i}") for i, c in enumerate(fast_position_cols("s", cfg))])
        .collect()
    )
    for i in range(2):
        assert [got[i][f"p{j}"] for j in range(cfg.k)] == exp[i].tolist()


def test_fast_counting_build_byte_identical(spark, lineitem):
    """The native (pos, cnt) table == mapInArrow build_counting under the
    same XXHash64KM config, counter for counter (no count reaches the
    32-bit counter width, so no saturation is involved)."""
    cfg = FilterConfig.complete(n=2000, p=1e-6, counting_bits=32,
                                hash_method="XXHash64KM")
    tbl = fast_counting_positions(lineitem, "l_partkey", cfg).toArrow()
    native = np.zeros(cfg.m, dtype=np.int64)
    native[tbl["pos"].to_numpy()] = tbl["cnt"].to_numpy()
    arrow = build_counting(lineitem, "l_partkey", cfg)
    assert (native == arrow.counters.astype(np.int64)).all()


def test_fast_estimated_count_probe(spark, lineitem):
    """Native min-selection estimates over the distributed (pos, cnt)
    table equal exact GROUP BY counts at tiny FPP; missing keys
    estimate 0; a collected CountingBloomFilter is refused."""
    cfg = FilterConfig.complete(n=2000, p=1e-9, counting_bits=32,
                                hash_method="XXHash64KM")
    keys = lineitem.select("l_partkey").distinct()
    exact = {r["l_partkey"]: r["count"]
             for r in lineitem.groupBy("l_partkey").count().collect()}
    pos_table = fast_counting_positions(lineitem, "l_partkey", cfg)
    via_table = {
        r["l_partkey"]: r["est_count"]
        for r in with_fast_estimated_count(keys, "l_partkey", pos_table, cfg).collect()
    }
    assert via_table == exact
    missing = spark.createDataFrame([(99_999_999,)], "l_partkey long")
    assert with_fast_estimated_count(missing, "l_partkey", pos_table, cfg).first()[
        "est_count"
    ] == 0
    # the probe plan stays pure JVM
    probed = with_fast_estimated_count(keys, "l_partkey", pos_table, cfg)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInArrow" not in plan
    with pytest.raises(TypeError, match="with_estimated_count"):
        with_fast_estimated_count(keys, "l_partkey", CountingBloomFilter(cfg), cfg)


def test_fast_counting_saturation(spark):
    """A collected XXHash64KM counting filter comes from build_counting,
    and counter-width saturation applies there: 2-bit counters cap at 3
    and report overflows."""
    cfg = FilterConfig.complete(m=64, k=1, counting_bits=2,
                                hash_method="XXHash64KM")
    df = spark.createDataFrame([("x",)] * 9, "s string")
    cbf = build_counting(df, "s", cfg)
    assert int(cbf.counters.max()) == 3
    assert cbf._overflows > 0


def test_fast_probe_null_keys(spark):
    """Null keys hash as the empty string on both tiers (the Python
    tier's fill_null convention)."""
    df = spark.createDataFrame([("",), (None,), ("x",)], "s string")
    bf = build_fast_bloom(spark.createDataFrame([("",)], "s string"), "s", CFG)
    got = {r["s"]: r["member"] for r in with_fast_membership(df, "s", bf, CFG).collect()}
    assert got[""] is True and got[None] is True


def test_exploded_probe_strategy_matches_kjoin(spark):
    """The single-join exploded probe (the extended-m shape) agrees with
    the k-join blocked probe bit-for-bit on one words table, and with
    the k-join from a driver BloomFilter."""
    cfg = FilterConfig.complete(n=5_000, p=0.01, hash_method="XXHash64KM")
    keys = spark.range(5_000).select(F.col("id").cast("string").alias("k"))
    bf = build_fast_bloom(keys, "k", cfg)
    words = fast_bloom_words(keys, "k", cfg)
    probe = spark.range(0, 15_000).select(F.col("id").cast("string").alias("k"))

    base = with_fast_membership(probe, "k", bf, cfg).orderBy("k").toPandas()
    kjoin = with_fast_membership(probe, "k", words, cfg).orderBy("k").toPandas()
    expl = (
        _with_fast_membership_exploded(probe, "k", words, cfg, "member")
        .orderBy("k")
        .toPandas()
    )
    assert (base["member"] == kjoin["member"]).all()
    assert (kjoin["member"] == expl["member"]).all()
    # all true keys are members (no false negatives, ever)
    assert expl["member"][expl["k"].astype(int) < 5_000].all()


def test_fast_estimated_count_matches_arrow_probe_and_extended(spark):
    """The exploded count probe over the (pos, cnt) table gives the same
    estimate per key as the Arrow probe of a collected build_counting
    filter on the same XXHash64KM config, and the never-collected
    composition at extended m returns exact counts at tiny fill."""
    cfg = FilterConfig.complete(
        n=2_000, p=0.01, counting_bits=16, hash_method="XXHash64KM"
    )
    # keys with known multiplicity: id % 500 appears 4x
    keys = spark.range(2_000).select((F.col("id") % 500).cast("string").alias("k"))
    probe = spark.range(600).select(F.col("id").cast("string").alias("k"))
    base = (
        with_estimated_count(probe, "k", build_counting(keys, "k", cfg))
        .orderBy("k")
        .toPandas()
    )
    pos_tbl = fast_counting_positions(keys, "k", cfg)
    expl = (
        with_fast_estimated_count(probe, "k", pos_tbl, cfg).orderBy("k").toPandas()
    )
    assert (base["est_count"] == expl["est_count"]).all()

    # extended m: distributed (pos, cnt) -> exploded estimate, exact
    xcfg = FilterConfig.complete(
        m=2**33 + 64, k=4, counting_bits=16, extended=True,
        hash_method="XXHash64KM",
    )
    xpos = fast_counting_positions(keys, "k", xcfg)
    got = with_fast_estimated_count(probe, "k", xpos, xcfg).toPandas()
    ids = got["k"].astype(int)
    assert (got["est_count"] == np.where(ids < 500, 4, 0)).all()


def test_fast_counting_removals_matches_parity_subtract(spark):
    """fast_counting_positions_with_removals == parity-tier
    build_counting_with_removals, position by position, under the same
    XXHash64KM config (floored subtraction is per-position in both)."""
    from bloomspark.build import build_counting_with_removals
    from bloomspark.fast import fast_counting_positions_with_removals

    cfg = FilterConfig.complete(
        n=1_000, p=0.01, counting_bits=16, hash_method="XXHash64KM"
    )
    adds = spark.range(3_000).select((F.col("id") % 600).cast("string").alias("k"))
    removes = spark.range(600).select((F.col("id") % 300).cast("string").alias("k"))
    parity = build_counting_with_removals(adds, removes, "k", cfg)
    pos_tbl = fast_counting_positions_with_removals(adds, removes, "k", cfg).toPandas()
    got = np.zeros(cfg.m, dtype=np.int64)
    got[pos_tbl["pos"].to_numpy()] = pos_tbl["cnt"].to_numpy()
    assert (got == parity.counters.astype(np.int64)).all()


def test_probe_rejects_reserved_column_collisions(spark, orders):
    """ADVICE r4: a probe df already carrying the out_col or a '__f*'
    column must raise (both probe shapes, membership and counting) —
    silent clobber/duplicate behavior diverged per shape before."""
    cfg = FilterConfig.complete(n=1000, p=0.01, hash_method="XXHash64KM")
    bf = build_fast_bloom(orders, "o_orderkey", cfg)
    xcfg = FilterConfig.complete(
        m=2**33, k=3, extended=True, hash_method="XXHash64KM"
    )
    xwords = fast_bloom_words(orders, "o_orderkey", xcfg)
    ccfg = FilterConfig.complete(
        n=1000, p=0.01, counting_bits=16, hash_method="XXHash64KM"
    )
    pos_tbl = fast_counting_positions(orders, "o_orderkey", ccfg)

    has_out = orders.withColumn("member", F.lit(True))
    with pytest.raises(ValueError, match="reserved"):
        with_fast_membership(has_out, "o_orderkey", bf, cfg)
    has_tmp = orders.withColumn("__fkv", F.lit("x"))
    for src, c in ((bf, cfg), (xwords, xcfg)):
        with pytest.raises(ValueError, match="reserved"):
            with_fast_membership(has_tmp, "o_orderkey", src, c)
    with pytest.raises(ValueError, match="reserved"):
        with_fast_estimated_count(
            orders.withColumn("est_count", F.lit(0)), "o_orderkey", pos_tbl, ccfg
        )
    # a clean df still probes fine with a custom out_col
    ok = with_fast_membership(orders, "o_orderkey", bf, cfg, out_col="m2")
    assert "m2" in ok.columns
