"""Extended (64-bit m) mode: filters sized past the Java-int parity cap
(FilterBuilder.java:31).  At 10^12 keys / p=0.01 a filter needs ~10^13
bits — unrepresentable in the reference; bloomspark lifts the cap behind
an explicit ``extended=True`` flag (parity mode stays the default and
keeps rejecting, see test_params.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomspark import BloomFilter, FilterConfig, build_bloom, with_membership

#: Just past the cap: 2^31 + 2^27 bits = ~270 MB dense bitset; big
#: enough to force the uint64/sparse64 paths, small enough for CI.
M_BIG = 2**31 + 2**27


def test_extended_flag_validation():
    with pytest.raises(ValueError):
        FilterConfig.complete(m=M_BIG, k=4)  # parity cap holds by default
    with pytest.raises(ValueError):
        FilterConfig.complete(m=M_BIG, k=4, extended=True, hash_method="MD5")
    cfg = FilterConfig.complete(m=M_BIG, k=4, extended=True)
    assert cfg.m == M_BIG and cfg.extended
    # serde round-trips the flag
    assert FilterConfig.from_dict(cfg.to_dict()) == cfg


def test_extended_build_probe_roundtrip(spark):
    """Distributed build + broadcast probe at m > 2^31: no false
    negatives, false positives ~0 at this fill ratio, and the sparse64
    partial wire format merges byte-identically across partitionings."""
    cfg = FilterConfig.complete(m=M_BIG, k=4, extended=True)
    keys = spark.range(0, 20_000).select(
        F.concat(F.lit("k:"), F.col("id").cast("string")).alias("key")
    )
    bf = build_bloom(keys.repartition(8), "key", cfg)
    # positions exceed the 32-bit range somewhere in a 20k*4 sample
    from bloomspark.hashing import hash_positions

    pos = hash_positions([f"k:{i}" for i in range(2000)], cfg.m, cfg.k, cfg.hash_method)
    assert pos.max() > 2**31 - 1
    assert pos.dtype == np.uint64
    # no false negatives
    probed = with_membership(keys, "key", bf).where(~F.col("member")).count()
    assert probed == 0
    # disjoint probes: fill ratio is ~20k*4/2.3e9 -> FP chance ~1e-20
    other = spark.range(0, 20_000).select(
        F.concat(F.lit("x:"), F.col("id").cast("string")).alias("key")
    )
    fps = with_membership(other, "key", bf).where(F.col("member")).count()
    assert fps == 0
    # partition invariance (merge associativity at uint64 positions)
    bf2 = build_bloom(keys.repartition(3), "key", cfg)
    assert bf.to_bytes() == bf2.to_bytes()


def test_extended_driver_filter_parity():
    """Driver-side single-process filter works at extended m too (add /
    contains / union)."""
    cfg = FilterConfig.complete(m=M_BIG, k=3, extended=True)
    bf = BloomFilter(cfg)
    bf.add_all([f"a{i}" for i in range(100)])
    assert bool(bf.contains_all([f"a{i}" for i in range(100)]).all())
    other = BloomFilter(cfg)
    other.add_all(["zzz"])
    merged = bf.union(other)
    assert merged.contains("zzz") and merged.contains("a0")
