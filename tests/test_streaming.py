"""Expiring-filter semantics (batch tier) and streaming incremental
build (SURVEY.md §2.6 re-expressed)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from bloomspark import BloomFilter, FilterConfig
from bloomspark.streaming import ExpiringBloomFilter, streaming_bloom_build

CFG = FilterConfig.complete(n=1000, p=1e-6, counting_bits=16)


def _reads(spark, rows):
    return spark.createDataFrame(rows, "key string, ts_ms long, ttl_ms long")


def test_ttl_max_merge_and_expiry(spark):
    # two reads of the same key: TTL extends to the max (TimeMap semantics)
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("a", 1000, 500), ("a", 1000, 2000), ("b", 1000, 100)]), CFG
    )
    ttls = {r["key"]: r["expires_at_ms"] for r in ebf.ttls.collect()}
    assert ttls == {"a": 3000, "b": 1100}

    # at t=1200: b expired, a alive
    alive = {r["key"] for r in ebf.unexpired(1200).collect()}
    assert alive == {"a"}
    cbf = ebf.snapshot_filter(now_ms=1200)
    assert cbf.contains("a") and not cbf.contains("b")
    # at t=5000 everything expired
    assert ebf.snapshot_filter(now_ms=5000).is_empty()


def test_grace_period(spark):
    ebf = ExpiringBloomFilter.from_reads(_reads(spark, [("k", 0, 100)]), CFG)
    assert ebf.snapshot_filter(now_ms=150, grace_ms=0).is_empty()
    assert ebf.snapshot_filter(now_ms=150, grace_ms=100).contains("k")


def test_remaining_ttl(spark):
    ebf = ExpiringBloomFilter.from_reads(_reads(spark, [("k", 0, 100)]), CFG)
    probe = spark.createDataFrame([("k",), ("missing",)], "key string")
    got = {r["key"]: r["remaining_ms"] for r in ebf.remaining_ttl(probe, "key", 40).collect()}
    assert got["k"] == 60
    assert got["missing"] is None
    # expired -> null (reference returns null for expired TTLs)
    got2 = {r["key"]: r["remaining_ms"] for r in ebf.remaining_ttl(probe, "key", 200).collect()}
    assert got2["k"] is None


def test_snapshot_memoized_no_jobs_on_repeat_probe(spark):
    """Repeated probes at one now_ms must not rebuild the counting
    filter (the reference maintains it incrementally,
    ExpiringBloomFilterMemory.java:60-70): the second is_known/contains
    at the same (now_ms, grace_ms) launches ZERO Spark jobs."""
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("a", 1000, 500), ("b", 1200, 500)]), CFG
    )
    ebf = ebf.report_write(
        spark.createDataFrame([("a", 1100)], "key string, ts_ms long")
    )
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "key string")
    first = {r["key"]: r["known"] for r in ebf.is_known(keys, "key", 1300).collect()}
    ebf.contains(keys, "key", 1300)  # populate the cloned-filter cache too
    sc = spark.sparkContext
    sc.setJobGroup("memo-probe", "repeat probes at the same now_ms")
    try:
        again = ebf.is_known(keys, "key", 1300)  # lazy: must launch no job
        ebf.contains(keys, "key", 1300)
        assert list(sc.statusTracker().getJobIdsForGroup("memo-probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r["key"]: r["known"] for r in again.collect()} == first
    # a different now_ms is a different snapshot
    assert not ebf.snapshot_filter(5000).contains("a")
    # mutating the TTL table invalidates: the new instance rebuilds
    ebf2 = ebf.report_read(_reads(spark, [("c", 1250, 500)]))
    assert ebf2.snapshot_filter(1300).contains("c")
    assert not ebf.snapshot_filter(1300).contains("c")


def test_report_read_extends(spark):
    ebf = ExpiringBloomFilter.from_reads(_reads(spark, [("k", 0, 100)]), CFG)
    ebf2 = ebf.report_read(_reads(spark, [("k", 150, 100)]))
    assert ebf2.snapshot_filter(now_ms=200).contains("k")
    assert ebf.snapshot_filter(now_ms=200).is_empty()


def test_cleanup_ttls(spark):
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("old", 0, 10), ("new", 0, 10_000)]), CFG
    )
    cleaned = ebf.cleanup_ttls(now_ms=5000, grace_ms=0)
    assert {r["key"] for r in cleaned.ttls.collect()} == {"new"}


def test_is_known_column(spark):
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("a", 0, 10_000), ("b", 0, 10)]), CFG
    )
    probe = spark.createDataFrame([("a",), ("b",), ("c",)], "key string")
    got = {r["key"]: r["known"] for r in ebf.is_known(probe, "key", now_ms=500).collect()}
    assert got == {"a": True, "b": False, "c": False}


# ---------------------------------------------------------------------------
# write path — pytest mirror of ExpiringTest.java:100-230, 245-380, 594-662
# ---------------------------------------------------------------------------


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "key string")


def _writes(spark, rows):
    return spark.createDataFrame(rows, "key string, ts_ms long")


def test_write_before_read_not_admitted(spark):
    """ExpiringTest.testAddMultipleTimes:100-116: a write with no live
    lease returns null/false and is NOT contained; later reads extend
    the TTL to the max."""
    ebf = ExpiringBloomFilter.from_reads(_reads(spark, []), CFG)
    status = ebf.report_write_status(_writes(spark, [("1", 0)]))
    assert status.collect()[0]["remaining_ms"] is None
    ebf = ebf.report_write(_writes(spark, [("1", 0)]))
    # reads at t=10 with ttls 100/800/1500/20 -> lease = 10+1500
    ebf = ebf.report_read(
        _reads(spark, [("1", 10, 100), ("1", 10, 800), ("1", 10, 1500), ("1", 10, 20)])
    )
    got = ebf.remaining_ttl(_keys(spark, "1"), "key", now_ms=10).collect()[0]
    assert got["remaining_ms"] == 1500
    contained = ebf.contains(_keys(spark, "1"), "key", now_ms=10).collect()[0]
    assert contained["contained"] is False


def test_expiration_lifecycle(spark):
    """ExpiringTest.testExpiration:118-141: write during a live lease is
    admitted for the lease remainder; after expiry contains() is False
    and the TTL is null."""
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("1", 0, 50), ("1", 0, 100)]), CFG
    )
    status = {r["key"]: r["remaining_ms"]
              for r in ebf.report_write_status(_writes(spark, [("1", 0)])).collect()}
    assert status["1"] == 100
    ebf = ebf.report_write(_writes(spark, [("1", 0)]))
    assert ebf.contains(_keys(spark, "1"), "key", now_ms=0).collect()[0]["contained"]
    assert ebf.estimated_population() == 1
    # t=30: still cached, remaining 70
    got = ebf.remaining_ttl(_keys(spark, "1"), "key", now_ms=30).collect()[0]
    assert got["remaining_ms"] == 70
    # t=180: lease gone -> not contained, ttl null
    got = ebf.remaining_ttl(_keys(spark, "1"), "key", now_ms=180).collect()[0]
    assert got["remaining_ms"] is None
    assert not ebf.contains(_keys(spark, "1"), "key", now_ms=180).collect()[0]["contained"]


def test_grace_period_write_path(spark):
    """ExpiringTest.testGracePeriod:143-176: a write AFTER lease expiry
    is rejected; the key stays known through the grace period and
    cleanup honours it."""
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("1", 0, 500), ("1", 0, 700)]), CFG
    )
    k = _keys(spark, "1")
    assert ebf.is_known(k, "key", now_ms=0, grace_ms=2000).collect()[0]["known"]
    assert ebf.is_cached(k, "key", now_ms=0).collect()[0]["cached"]
    # write at t=1000 (lease expired at 700)
    assert ebf.report_write_status(_writes(spark, [("1", 1000)])).collect()[0][
        "remaining_ms"] is None
    ebf = ebf.report_write(_writes(spark, [("1", 1000)]))
    assert not ebf.contains(k, "key", now_ms=1000).collect()[0]["contained"]
    assert not ebf.is_cached(k, "key", now_ms=1000).collect()[0]["cached"]
    assert ebf.is_known(k, "key", now_ms=1000, grace_ms=2000).collect()[0]["known"]
    # cleanup before grace expiry keeps the lease record
    kept = ebf.cleanup_ttls(now_ms=1000, grace_ms=2000)
    assert kept.is_known(k, "key", now_ms=1000, grace_ms=2000).collect()[0]["known"]
    # cleanup after grace expiry drops it
    dropped = ebf.cleanup_ttls(now_ms=3000, grace_ms=2000)
    assert not dropped.is_known(k, "key", now_ms=3000, grace_ms=2000).collect()[0]["known"]
    assert dropped.estimated_population() == 0


def test_clone_isolation_and_bulk_writes(spark):
    """ExpiringTest.testClone:228-243 + testReportMultipleWrites:245-254:
    a cloned filter is isolated from later writes; bulk writes admit
    every leased key."""
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("1", 0, 50), ("2", 0, 50)]), CFG
    )
    ebf1 = ebf.report_write(_writes(spark, [("1", 0)]))
    bf = ebf1.cloned_bloom_filter(now_ms=0)
    ebf2 = ebf1.report_write(_writes(spark, [("2", 0)]))
    assert bf.contains("1") and not bf.contains("2")
    both = ebf.report_write(_writes(spark, [("1", 0), ("2", 0)]))
    got = {r["key"]: r["contained"]
           for r in both.contains(_keys(spark, "1", "2"), "key", now_ms=0).collect()}
    assert got == {"1": True, "2": True}


def test_clear_and_soft_clear(spark):
    """ExpiringTest.testClear:256-275 + softClear (ExpiringBloomFilter
    .java:152): clear drops filter AND TTLs; softClear drops only the
    filter/queue."""
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("1", 0, 50), ("2", 0, 50)]), CFG
    ).report_write(_writes(spark, [("1", 0)]))
    k = _keys(spark, "1", "2")
    soft = ebf.soft_clear()
    assert not any(
        r["contained"] for r in soft.contains(k, "key", now_ms=0).collect()
    )
    # TTLs survive a soft clear -> a re-write is admitted again
    re = soft.report_write(_writes(spark, [("1", 0)]))
    assert re.contains(_keys(spark, "1"), "key", 0).collect()[0]["contained"]
    hard = ebf.clear()
    assert hard.estimated_population() == 0
    assert hard.remaining_ttl(_keys(spark, "1"), "key", 0).collect()[0][
        "remaining_ms"] is None


def test_expiration_enable_disable(spark):
    """ExpirationQueue.setEnabled (java:48-65): disabling expiry freezes
    the filter contents past the lease; re-enabling resumes expiry."""
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("1", 0, 100)]), CFG
    ).report_write(_writes(spark, [("1", 0)]))
    k = _keys(spark, "1")
    frozen = ebf.disable_expiration()
    assert frozen.contains(k, "key", now_ms=500).collect()[0]["contained"]
    resumed = frozen.enable_expiration()
    assert not resumed.contains(k, "key", now_ms=500).collect()[0]["contained"]


def test_ttl_map_migration_matrix(spark):
    """ExpiringTest.java:594-662 migration matrix: TTL + expiration maps
    export/import and whole-state migrate_from preserve remaining TTLs
    and written state."""
    src = ExpiringBloomFilter.from_reads(
        _reads(spark, [("a", 0, 1000), ("b", 0, 2000)]), CFG
    ).report_write(_writes(spark, [("a", 10)]))
    ttl_map = src.get_time_to_live_map()
    exp_map = src.get_expiration_map()
    assert ttl_map == {"a": 1000, "b": 2000}
    assert exp_map == {"a": 1000}
    # import into a fresh filter
    dst = ExpiringBloomFilter.from_reads(_reads(spark, []), CFG)
    dst = dst.set_time_to_live_map(ttl_map).set_expiration_map(exp_map)
    assert dst.get_time_to_live_map() == ttl_map
    assert dst.contains(_keys(spark, "a"), "key", now_ms=10).collect()[0]["contained"]
    # whole-state migration max-merges leases
    other = ExpiringBloomFilter.from_reads(
        _reads(spark, [("b", 0, 5000), ("c", 0, 100)]), CFG
    ).report_write(_writes(spark, [("c", 0)]))
    merged = dst.migrate_from(other)
    assert merged.get_time_to_live_map() == {"a": 1000, "b": 5000, "c": 100}
    got = {r["key"]: r["contained"]
           for r in merged.contains(_keys(spark, "a", "b", "c"), "key", 10).collect()}
    assert got == {"a": True, "b": False, "c": True}
    # incompatible config is rejected
    import pytest as _pytest

    bad = ExpiringBloomFilter.from_reads(
        _reads(spark, []), FilterConfig.complete(n=50, p=0.1)
    )
    with _pytest.raises(ValueError):
        merged.migrate_from(bad)


def _stream_build(spark, ckpt, cfg):
    """Run a rate-source stream into streaming_bloom_build until the
    checkpoint holds ~100 keys (or 30 s pass); return the merged filter."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(F.col("value").cast("string").alias("key"))
    )
    q = streaming_bloom_build(stream, "key", cfg, ckpt)
    try:
        deadline = time.time() + 30
        seen = 0
        while time.time() < deadline:
            time.sleep(2)
            if os.path.exists(os.path.join(ckpt, "bitset.bin")):
                with open(os.path.join(ckpt, "bitset.bin"), "rb") as f:
                    bf = BloomFilter.from_bytes(cfg, f.read())
                seen = int(bf.get_estimated_population())
                if seen >= 100:
                    break
    finally:
        q.stop()
    assert seen >= 100, f"stream produced only ~{seen} keys"
    with open(os.path.join(ckpt, "bitset.bin"), "rb") as f:
        return BloomFilter.from_bytes(cfg, f.read())


def test_streaming_incremental_build(spark, tmp_path):
    """rate-source stream -> foreachBatch incremental filter; the merged
    checkpoint must contain every streamed key."""
    cfg = FilterConfig.complete(n=10_000, p=1e-6)
    bf = _stream_build(spark, str(tmp_path / "stream_ck"), cfg)
    # no false negatives over the streamed prefix
    assert all(bf.contains(str(i)) for i in range(50))


def test_streaming_fast_tier_build(spark, tmp_path):
    """The same micro-batch build on the XXHash64KM hash method: one
    code path for every method, and the merged checkpoint is an ordinary
    loadable filter with no false negatives."""
    cfg = FilterConfig.complete(n=10_000, p=1e-6, hash_method="XXHash64KM")
    bf = _stream_build(spark, str(tmp_path / "stream_fast_ck"), cfg)
    assert all(bf.contains(str(i)) for i in range(50))


def test_streaming_dedup_emits_each_key_once(spark, tmp_path):
    """Bloom streaming dedup over a rate stream whose values collapse to
    50 distinct keys: the output parquet holds each key EXACTLY once
    (duplicates across micro-batches are dropped by the accumulated
    filter, within-batch by dropDuplicates), and at p=1e-6 no genuinely
    new key is lost."""
    from bloomspark.streaming import streaming_dedup

    ckpt = str(tmp_path / "dedup_ck")
    out = str(tmp_path / "dedup_out")
    cfg = FilterConfig.complete(n=10_000, p=1e-6, hash_method="XXHash64KM")
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(
            (F.col("value") % 50).cast("string").alias("key"),
            F.col("timestamp"),
        )
    )
    q = streaming_dedup(stream, "key", cfg, ckpt, out)
    try:
        deadline = time.time() + 40
        while time.time() < deadline:
            time.sleep(2)
            try:
                if spark.read.parquet(out).count() >= 50:
                    time.sleep(5)  # let the in-flight batch persist its filter
                    break
            except Exception:
                continue  # no output files yet
    finally:
        q.stop()
    got = spark.read.parquet(out)
    keys = [r["key"] for r in got.select("key").collect()]
    assert sorted(keys) == sorted(set(keys)), "a key was emitted twice"
    assert set(keys) == {str(i) for i in range(50)}
    # the persisted filter knows the emitted keys — except possibly those
    # of one final in-flight batch that q.stop() interrupted between the
    # output append and the filter persist (the documented at-least-once
    # ordering: output first, filter second, so replays re-emit, never lose)
    with open(os.path.join(ckpt, "bitset.bin"), "rb") as f:
        bf = BloomFilter.from_bytes(cfg, f.read())
    missing = [k for k in keys if not bf.contains(k)]
    assert len(missing) <= 5, f"filter missing too many emitted keys: {missing}"


def test_streaming_dedup_parity_tier(spark, tmp_path):
    """Same contract on a parity-tier hash method (pandas probe path)."""
    from bloomspark.streaming import streaming_dedup

    ckpt = str(tmp_path / "dedup_pck")
    out = str(tmp_path / "dedup_pout")
    cfg = FilterConfig.complete(n=10_000, p=1e-6)
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "300")
        .load()
        .select((F.col("value") % 20).cast("string").alias("key"))
    )
    q = streaming_dedup(stream, "key", cfg, ckpt, out)
    try:
        deadline = time.time() + 40
        while time.time() < deadline:
            time.sleep(2)
            try:
                if spark.read.parquet(out).count() >= 20:
                    break
            except Exception:
                continue
    finally:
        q.stop()
    keys = [r["key"] for r in spark.read.parquet(out).collect()]
    assert sorted(keys) == sorted(set(keys))
    assert set(keys) == {str(i) for i in range(20)}


def test_streaming_dedup_generational_rotation(spark, tmp_path):
    """Double-buffer rotation, tested deterministically by driving the
    foreachBatch body with plain DataFrames: keys are suppressed for at
    least one and at most two generation windows, then re-admitted —
    bounded state on an infinite stream."""
    from bloomspark.streaming import _make_dedup_batch_processor

    ckpt, out = str(tmp_path / "rot_ck"), str(tmp_path / "rot_out")
    cfg = FilterConfig.complete(n=1000, p=1e-6, hash_method="XXHash64KM")
    proc = _make_dedup_batch_processor(
        "key", cfg, ckpt, out, rotate_at_population=30
    )

    def batch(keys):
        return spark.createDataFrame([(k,) for k in keys], "key string")

    def emitted():
        return [r["key"] for r in spark.read.parquet(out).collect()]

    a = [f"a{i}" for i in range(20)]
    b = [f"b{i}" for i in range(20)]
    c = [f"c{i}" for i in range(10)]
    d = [f"d{i}" for i in range(40)]

    proc(batch(a), 0)                 # gen0 pop 20 < 30: no rotation
    assert sorted(emitted()) == sorted(a)
    proc(batch(a + b), 1)             # only b new; pop 40 >= 30: rotate
    assert sorted(emitted()) == sorted(a + b)
    assert os.path.exists(os.path.join(ckpt, "bitset_prev.bin"))
    proc(batch(a + b + c), 2)         # a,b suppressed via prev; c new
    assert sorted(emitted()) == sorted(a + b + c)
    proc(batch(d), 3)                 # cur pop 10+40 >= 30: rotate again
    # a/b lived only in the first generation, now discarded -> re-admitted;
    # d was just rotated into prev -> still suppressed
    proc(batch(a[:5] + d[:5]), 4)
    final = emitted()
    assert sorted(k for k in final if k.startswith("d")) == sorted(d)
    for k in a[:5]:
        assert final.count(k) == 2  # first seen + re-admitted after expiry
    # state stayed two filters of m/8 bytes each
    assert os.path.getsize(os.path.join(ckpt, "bitset.bin")) <= cfg.num_bytes
    assert os.path.getsize(os.path.join(ckpt, "bitset_prev.bin")) <= cfg.num_bytes


def test_expiring_family_on_fast_method(spark):
    """The whole expiring lifecycle runs under the fast-tier hash method
    (XXHash64KM is a first-class registry method, so snapshot builds and
    probes just work)."""
    cfg = FilterConfig.complete(n=1000, p=1e-6, counting_bits=16,
                                hash_method="XXHash64KM")
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("a", 1000, 500), ("b", 1200, 500)]), cfg
    ).report_write(spark.createDataFrame([("a", 1100)], "key string, ts_ms long"))
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "key string")
    known = {r["key"]: r["known"] for r in ebf.is_known(keys, "key", 1300).collect()}
    assert known == {"a": True, "b": True, "c": False}
    contained = {r["key"]: r["contained"]
                 for r in ebf.contains(keys, "key", 1300).collect()}
    assert contained == {"a": True, "b": False, "c": False}


def test_applyinpandaswithstate_expiry(spark, tmp_path):
    """Event-time timers: a key's state expires when the watermark passes
    its TTL; transitions arrive on the output stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from bloomspark.streaming import expiring_membership_stream

    src = tmp_path / "events_src"
    src.mkdir()

    def write_batch(name, rows):
        t = pa.table(
            {
                "key": pa.array([r[0] for r in rows]),
                "event_time": pa.array(
                    [datetime.utcfromtimestamp(r[1]) for r in rows],
                    type=pa.timestamp("us"),
                ),
                "ttl_ms": pa.array([r[2] for r in rows], type=pa.int64()),
            }
        )
        pq.write_table(t, str(src / name))

    base = 1_700_000_000  # fixed epoch seconds
    write_batch("b1.parquet", [("a", base, 60_000), ("b", base, 5_000)])

    stream = (
        spark.readStream.schema("key string, event_time timestamp, ttl_ms long")
        .parquet(str(src))
    )
    out = expiring_membership_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("expiring_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows1 = {
            (r["key"], r["status"]): r["expires_at_ms"]
            for r in spark.sql("select * from expiring_test").collect()
        }
        assert rows1[("a", "known")] == base * 1000 + 60_000
        assert rows1[("b", "known")] == base * 1000 + 5_000

        # batch 2 advances the watermark past b's expiration (base+10s)
        # but not a's (base+60s)
        write_batch("b2.parquet", [("c", base + 10, 60_000)])
        q.processAllAvailable()
        # one more batch so the timer fires against the advanced watermark
        write_batch("b3.parquet", [("d", base + 11, 60_000)])
        q.processAllAvailable()
        rows2 = [
            (r["key"], r["status"])
            for r in spark.sql("select * from expiring_test").collect()
        ]
        assert ("b", "expired") in rows2
        assert ("a", "expired") not in rows2
    finally:
        q.stop()


def test_snapshot_clone_isolation_and_cache_bound(spark):
    """ADVICE r3: snapshot_filter/cloned_bloom_filter must return a fresh
    clone per call (the reference's getClonedBloomFilter contract) — a
    caller mutating the returned filter cannot poison later probes at the
    same now_ms — and the memo caches stay bounded."""
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("a", 1000, 500), ("b", 1000, 500)]), CFG
    )
    snap = ebf.snapshot_filter(now_ms=1200)
    assert snap.contains("a")
    snap.remove("a")
    snap.add("poison")
    again = ebf.snapshot_filter(now_ms=1200)
    assert again.contains("a") and not again.contains("poison")
    assert again is not snap

    ebf2 = ebf.report_write(
        spark.createDataFrame([("a", 1100)], "key string, ts_ms long")
    )
    bf = ebf2.cloned_bloom_filter(now_ms=1200)
    bf.add("poison")
    assert not ebf2.cloned_bloom_filter(now_ms=1200).contains("poison")

    # cache stays bounded: many distinct now_ms values do not accumulate
    for now in range(1201, 1201 + 3 * ExpiringBloomFilter._CACHE_MAX):
        ebf.snapshot_filter(now_ms=now)
    assert len(ebf._snapshots) <= ExpiringBloomFilter._CACHE_MAX


def test_streaming_dedup_sharded_matches_driver_path(spark, tmp_path):
    """Round-4 item 5: streaming dedup with never-collected SHARDED
    state — driven through the same batch sequence as the driver-filter
    path (incl. a generational rotation), the emitted output must be
    identical at exact-regime FPP.  State lives as save_sharded parquet
    generations; no bitset ever reaches the driver."""
    import json

    from bloomspark.streaming import (
        _make_dedup_batch_processor,
        _make_sharded_dedup_batch_processor,
    )

    cfg = FilterConfig.complete(n=1000, p=1e-9, hash_method="XXHash64KM")
    shard_cfg = FilterConfig.complete(n=250, p=1e-9, hash_method="XXHash64KM")

    drv_ck, drv_out = str(tmp_path / "dck"), str(tmp_path / "dout")
    sh_ck, sh_out = str(tmp_path / "sck"), str(tmp_path / "sout")
    drv = _make_dedup_batch_processor("key", cfg, drv_ck, drv_out,
                                      rotate_at_population=30)
    sh = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, sh_ck, sh_out, num_shards=4,
        rotate_at_population=30,
    )

    def batch(keys):
        return spark.createDataFrame([(k,) for k in keys], "key string")

    def emitted(out):
        return sorted(r["key"] for r in spark.read.parquet(out).collect())

    a = [f"a{i}" for i in range(20)]
    b = [f"b{i}" for i in range(20)]
    c = [f"c{i}" for i in range(10)]
    batches = [a, a + b, a + b + c, a[:5] + c[:5]]
    for i, ks in enumerate(batches):
        drv(batch(ks), i)
        sh(batch(ks), i)
        assert emitted(sh_out) == emitted(drv_out), f"diverged at batch {i}"

    # rotation really happened in the sharded state machine too
    state = json.load(open(os.path.join(sh_ck, "state.json")))
    assert state["prev"] is not None
    # resume: a NEW processor instance over the same checkpoint keeps
    # suppressing (state round-trips through the parquet generations)
    sh2 = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, sh_ck, sh_out, num_shards=4,
        rotate_at_population=30,
    )
    before = emitted(sh_out)
    sh2(batch(c), len(batches))  # all already seen -> nothing emitted
    assert emitted(sh_out) == before
    # orphan sweep keeps exactly the version dirs the cur/prev
    # manifests reference, nothing else
    state = json.load(open(os.path.join(sh_ck, "state.json")))
    live = set()
    for gen in (state["cur"], state["prev"]):
        if gen:
            live.update(
                os.path.basename(d) for d in gen["shard_dirs"].values()
            )
    gens = {d for d in os.listdir(sh_ck) if d.startswith("gen_v")}
    assert gens == live


def test_sharded_dedup_untouched_shards_not_rewritten(spark, tmp_path):
    """Round-5 item 2: the sharded dedup state machine writes ONLY the
    shards a batch touched.  A second batch whose keys land in a subset
    of shards must leave the first version dir's files byte-for-byte
    untouched (same paths, mtimes, sizes) and still referenced by the
    manifest for the untouched shards."""
    import json

    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    shard_cfg = FilterConfig.complete(n=200, p=1e-9, hash_method="XXHash64KM")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    sh = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, ck, out, num_shards=8
    )

    def batch(keys):
        return spark.createDataFrame([(k,) for k in keys], "key string")

    # batch 0 touches (with high probability) all 8 shards
    sh(batch([f"a{i}" for i in range(200)]), 0)
    state0 = json.load(open(os.path.join(ck, "state.json")))
    dirs0 = set(state0["cur"]["shard_dirs"].values())
    assert len(dirs0) == 1
    (v0,) = dirs0

    def snapshot(d):
        files = {}
        for root, _, names in os.walk(d):
            for n in names:
                p = os.path.join(root, n)
                st = os.stat(p)
                files[p] = (st.st_mtime_ns, st.st_size)
        return files

    before = snapshot(v0)

    # batch 1: ONE new key -> touches exactly one shard
    sh(batch(["zzz-new-key"]), 1)
    assert snapshot(v0) == before, "untouched version dir was rewritten"

    state1 = json.load(open(os.path.join(ck, "state.json")))
    sd = state1["cur"]["shard_dirs"]
    v1 = os.path.join(ck, "gen_v1")
    touched = [s for s, d in sd.items() if d == v1]
    assert len(touched) == 1, f"one-key batch touched shards {touched}"
    # every other shard still points at the original version dir
    assert all(d == v0 for s, d in sd.items() if s not in touched)
    # and the new version dir holds ONLY the touched shard's row
    rows = spark.read.parquet(os.path.join(v1, "shards")).collect()
    assert [int(r["shard"]) for r in rows] == [int(touched[0])]
    # suppression still exact: replaying both old and new keys emits nothing
    n_before = spark.read.parquet(out).count()
    sh(batch(["a0", "a150", "zzz-new-key"]), 2)
    assert spark.read.parquet(out).count() == n_before


def test_sharded_dedup_compaction_bounds_dir_fanout(spark, tmp_path):
    """With max_gen_dirs=2, a third delta dir triggers compaction: the
    manifest collapses to one dir, orphans are swept, and suppression
    survives the rewrite."""
    import json

    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    shard_cfg = FilterConfig.complete(n=200, p=1e-9, hash_method="XXHash64KM")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    sh = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, ck, out, num_shards=8, max_gen_dirs=2
    )

    def batch(keys):
        return spark.createDataFrame([(k,) for k in keys], "key string")

    seen = []
    for i in range(4):
        ks = [f"b{i}-{j}" for j in range(40)]
        seen += ks
        sh(batch(ks), i)
    state = json.load(open(os.path.join(ck, "state.json")))
    dirs = set(state["cur"]["shard_dirs"].values())
    assert len(dirs) <= 2, f"compaction did not bound fan-out: {dirs}"
    on_disk = {d for d in os.listdir(ck) if d.startswith("gen_v")}
    assert on_disk == {os.path.basename(d) for d in dirs}
    # all 8 shards present in the manifest and all keys still suppressed
    assert len(state["cur"]["shard_dirs"]) == 8
    n_before = spark.read.parquet(out).count()
    assert n_before == len(seen)
    sh(batch(seen), 99)
    assert spark.read.parquet(out).count() == n_before


def test_sharded_dedup_rejects_mismatched_restart(spark, tmp_path):
    """ADVICE r4: restarting over saved generations with a different
    (shard_config, num_shards) must raise, not silently mis-route."""
    import pytest

    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    shard_cfg = FilterConfig.complete(n=200, p=1e-9, hash_method="XXHash64KM")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    sh = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, ck, out, num_shards=8
    )
    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    sh(df, 0)

    bad_shards = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, ck, out, num_shards=4
    )
    with pytest.raises(ValueError, match="num_shards"):
        bad_shards(df, 1)

    other_cfg = FilterConfig.complete(n=500, p=1e-9, hash_method="XXHash64KM")
    bad_cfg = _make_sharded_dedup_batch_processor(
        "key", other_cfg, ck, out, num_shards=8
    )
    with pytest.raises(ValueError, match="saved generation"):
        bad_cfg(df, 1)


def test_sharded_dedup_rejects_uri_checkpoint_dir(tmp_path):
    """ADVICE r4: URI-schemed checkpoint_dir fails fast with a clear
    message instead of dying inside os.path manipulation."""
    import pytest

    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    shard_cfg = FilterConfig.complete(n=200, p=0.01, hash_method="XXHash64KM")
    with pytest.raises(ValueError, match="driver-local"):
        _make_sharded_dedup_batch_processor(
            "key", shard_cfg, "hdfs://nn/ck", str(tmp_path / "out")
        )


def test_expiring_lineage_bounded_by_auto_compaction(spark):
    """Round-5 item 5: 100 chained report_reads must not build a
    100-deep union DAG — auto-compaction truncates the plan every
    AUTO_COMPACT_EVERY mutations, and semantics are unchanged."""
    ebf = ExpiringBloomFilter.from_reads(
        _reads(spark, [("seed", 0, 10_000)]), CFG
    )

    def plan_depth(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("\n")

    depths = []
    for i in range(100):
        ebf = ebf.report_read(_reads(spark, [(f"k{i}", 0, 10_000)]))
        depths.append(plan_depth(ebf.ttls))
    # each un-compacted mutation adds union+groupBy nodes; a bounded
    # plan never exceeds one compaction window's worth of growth
    window = ExpiringBloomFilter.AUTO_COMPACT_EVERY
    assert max(depths) <= depths[0] + 4 * window, (
        f"plan depth grew unbounded: max {max(depths)} from {depths[0]}"
    )
    # compaction window really resets (depth drops after a checkpoint)
    assert min(depths[window:]) < max(depths[:window]) + 4
    # content is intact after repeated truncation
    alive = {r["key"] for r in ebf.unexpired(5_000).collect()}
    assert alive == {"seed"} | {f"k{i}" for i in range(100)}
    # manual compact() keeps snapshots valid and probes identical
    snap_before = ebf.snapshot_filter(now_ms=5_000)
    compacted = ebf.compact()
    assert compacted.snapshot_filter(now_ms=5_000).counters.tobytes() == \
        snap_before.counters.tobytes()


def test_streaming_dedup_replay_at_least_once_bound(spark, tmp_path):
    """Round-5 item 8: pin the documented at-least-once contract
    (streaming_dedup docstring).  A batch replayed after a crash in the
    window BETWEEN the output append and the filter store re-emits that
    batch's rows exactly once more — never loses them; a replay after
    the store completes is fully suppressed (idempotent OR)."""
    from bloomspark.streaming import _make_dedup_batch_processor

    cfg = FilterConfig.complete(n=1000, p=1e-9, hash_method="XXHash64KM")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    pb = _make_dedup_batch_processor("key", cfg, ck, out)
    keys = [f"k{i}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")

    def emitted():
        return sorted(r["key"] for r in spark.read.parquet(out).collect())

    pb(df, 0)
    assert emitted() == sorted(keys)
    # crash window: output already appended, filter store lost
    os.remove(os.path.join(ck, "bitset.bin"))
    pb(df, 0)  # Structured Streaming replays the failed batch
    assert emitted() == sorted(keys * 2), "replay must re-emit exactly once"
    # replay after a completed store: no third copy (no loss either)
    pb(df, 0)
    assert emitted() == sorted(keys * 2)
    # state converged: only genuinely new keys pass afterwards
    pb(spark.createDataFrame([("new1",), ("k3",)], "key string"), 1)
    assert emitted() == sorted(keys * 2 + ["new1"])


def test_sharded_dedup_replay_does_not_overwrite_committed_state(spark, tmp_path):
    """Round-5 review finding: Structured Streaming re-runs batch N when
    a crash falls between our state commit and Spark's offset commit.
    The replay's (empty) build must NOT overwrite the committed
    gen_v{N} the live manifest references — suppression must survive
    byte-for-byte, and no rows may be re-emitted."""
    import json

    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    shard_cfg = FilterConfig.complete(n=200, p=1e-9, hash_method="XXHash64KM")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    sh = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, ck, out, num_shards=8
    )

    def batch(keys):
        return spark.createDataFrame([(k,) for k in keys], "key string")

    keys = [f"k{i}" for i in range(100)]
    sh(batch(keys), 0)
    state0 = json.load(open(os.path.join(ck, "state.json")))
    (v0,) = set(state0["cur"]["shard_dirs"].values())

    def snapshot(d):
        files = {}
        for root, _, names in os.walk(d):
            for n in names:
                p = os.path.join(root, n)
                st = os.stat(p)
                files[p] = (st.st_mtime_ns, st.st_size)
        return files

    committed = snapshot(v0)
    n_before = spark.read.parquet(out).count()

    sh(batch(keys), 0)  # replay of the already-committed batch
    assert snapshot(v0) == committed, "replay overwrote committed state"
    assert spark.read.parquet(out).count() == n_before, "replay re-emitted"
    state1 = json.load(open(os.path.join(ck, "state.json")))
    assert set(state1["cur"]["shard_dirs"].values()) == {v0}
    # suppression still exact afterwards; new keys still pass
    sh(batch(keys + ["brand-new"]), 1)
    emitted = sorted(r["key"] for r in spark.read.parquet(out).collect())
    assert emitted == sorted(keys + ["brand-new"])


def test_sharded_dedup_migrates_pre_round5_state(spark, tmp_path):
    """A checkpoint whose state.json stores cur/prev as plain dir
    strings (the pre-manifest format) keeps suppressing after upgrade:
    the processor normalizes it to a manifest on first use."""
    import json

    from bloomspark.sharded import build_sharded_bloom, save_sharded
    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    shard_cfg = FilterConfig.complete(n=200, p=1e-9, hash_method="XXHash64KM")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    os.makedirs(ck)
    keys = [f"old{i}" for i in range(80)]
    gen = os.path.join(ck, "gen_v0")
    save_sharded(
        build_sharded_bloom(
            spark.createDataFrame([(k,) for k in keys], "key string"),
            "key", shard_cfg, num_shards=8,
        ),
        gen, shard_cfg, num_shards=8,
    )
    with open(os.path.join(ck, "state.json"), "w") as f:
        json.dump({"cur": gen, "prev": None}, f)

    sh = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, ck, out, num_shards=8
    )
    sh(spark.createDataFrame([(k,) for k in keys + ["fresh"]], "key string"), 1)
    emitted = sorted(r["key"] for r in spark.read.parquet(out).collect())
    assert emitted == ["fresh"], "legacy state was not honored"
    state = json.load(open(os.path.join(ck, "state.json")))
    assert isinstance(state["cur"], dict) and "shard_dirs" in state["cur"]


def test_streaming_dedup_exactly_once_output(spark, tmp_path):
    """Round-5 verdict item 4: with exactly_once_output=True the sink
    becomes idempotent — each batch owns output_dir/batch_id=N and a
    crash-window replay (output committed, filter store lost) writes
    ZERO duplicate rows end-to-end, closing the at-least-once gap the
    plain append sink documents."""
    from bloomspark.streaming import _make_dedup_batch_processor

    cfg = FilterConfig.complete(n=1000, p=1e-9, hash_method="XXHash64KM")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    pb = _make_dedup_batch_processor(
        "key", cfg, ck, out, exactly_once_output=True
    )
    keys = [f"k{i}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")

    def emitted():
        return sorted(r["key"] for r in spark.read.parquet(out).collect())

    pb(df, 0)
    assert emitted() == sorted(keys)
    # the crash window that forces a duplicate under the append sink
    # (test_streaming_dedup_replay_at_least_once_bound): output
    # committed, filter store lost, batch replayed
    os.remove(os.path.join(ck, "bitset.bin"))
    pb(df, 0)
    assert emitted() == sorted(keys), "exactly-once sink re-emitted"
    # replay after a completed store: still no duplicates, no loss
    pb(df, 0)
    assert emitted() == sorted(keys)
    # output is batch_id-partitioned; later batches land in their own dir
    pb(spark.createDataFrame([("new1",)], "key string"), 1)
    got = spark.read.parquet(out)
    assert sorted(r["key"] for r in got.collect()) == sorted(keys + ["new1"])
    assert {r["batch_id"] for r in got.select("batch_id").collect()} == {0, 1}


def test_sharded_streaming_dedup_exactly_once_output(spark, tmp_path):
    """The sharded tier honors the same exactly-once sink: a replay of
    batch N after its state commit (the committed-gen replay window)
    writes nothing to output."""
    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    shard_cfg = FilterConfig.complete(n=200, p=1e-9, hash_method="XXHash64KM")
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    sh = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, ck, out, num_shards=8, exactly_once_output=True
    )
    keys = [f"k{i}" for i in range(100)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    sh(df, 0)
    first = sorted(r["key"] for r in spark.read.parquet(out).collect())
    assert first == sorted(keys)
    sh(df, 0)  # replay
    assert sorted(r["key"] for r in spark.read.parquet(out).collect()) == first


def test_sharded_dedup_probes_generations_in_one_pass(spark, tmp_path):
    """Round-5 verdict item 1: after a rotation (cur AND prev both
    live) a batch must probe the UNION of both generations' shard
    tables in ONE with_sharded_membership pass — one cogroup shuffle of
    the batch — not one sequential pass per generation; and suppression
    must stay exact across both generations."""
    import bloomspark.sharded as sharded_mod
    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    calls = []
    real = sharded_mod.with_sharded_membership

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    orig = sharded_mod.with_sharded_membership
    sharded_mod.with_sharded_membership = counting
    try:
        shard_cfg = FilterConfig.complete(
            n=100, p=1e-9, hash_method="XXHash64KM"
        )
        ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
        sh = _make_sharded_dedup_batch_processor(
            "key", shard_cfg, ck, out, num_shards=4,
            rotate_at_population=20,
        )

        def batch(keys):
            return spark.createDataFrame([(k,) for k in keys], "key string")

        a = [f"a{i}" for i in range(30)]  # rotates cur -> prev
        b = [f"b{i}" for i in range(10)]
        sh(batch(a), 0)
        import json
        state = json.load(open(os.path.join(ck, "state.json")))
        assert state["prev"] is not None, "rotation must have happened"
        calls.clear()
        sh(batch(a + b), 1)  # both generations live: exactly ONE probe
        assert calls == [1], f"expected one probe pass, saw {len(calls)}"
        emitted = sorted(r["key"] for r in spark.read.parquet(out).collect())
        assert emitted == sorted(a + b)  # prev still suppresses a*
    finally:
        sharded_mod.with_sharded_membership = orig


def test_sharded_checkpoint_accepts_file_scheme(spark, tmp_path):
    """ADVICE r5: file:// is driver-local under a scheme — accepted and
    stripped; genuinely remote schemes still rejected up front."""
    from bloomspark.streaming import _make_sharded_dedup_batch_processor

    shard_cfg = FilterConfig.complete(n=100, p=1e-9, hash_method="XXHash64KM")
    ck = tmp_path / "ck"
    sh = _make_sharded_dedup_batch_processor(
        "key", shard_cfg, f"file://{ck}", str(tmp_path / "out"), num_shards=4
    )
    df = spark.createDataFrame([("x",), ("y",)], "key string")
    sh(df, 0)
    assert os.path.exists(os.path.join(str(ck), "state.json"))
    with pytest.raises(ValueError, match="driver-local"):
        _make_sharded_dedup_batch_processor(
            "key", shard_cfg, "hdfs://nn/ck", str(tmp_path / "out2")
        )


def test_windowed_distinct_stream_exact_and_finalizes(spark, tmp_path):
    """Windowed distinct-count stream (round 6): running estimates per
    micro-batch, a FINAL row once the watermark passes the window end,
    state freed after, and — in the Theta sketch's exact regime — every
    estimate equals the true COUNT(DISTINCT) of the keys that reached
    the window."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomspark.streaming import windowed_distinct_stream

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(name, rows):  # rows: (user_id, epoch_s)
        t = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array(
                    [r[1] * 1_000_000 for r in rows], type=pa.timestamp("us")
                ),
            }
        )
        pq.write_table(t, str(src / name))

    H = 3600
    base = 1_700_000_000 - (1_700_000_000 % H)  # hour-aligned epoch
    # window A [base, base+1h): users 1,2,3 (2 twice -> distinct 3)
    write_batch("b1.parquet", [(1, base + 10), (2, base + 20), (2, base + 30), (3, base + 40)])

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src))
    out = windowed_distinct_stream(stream, key_col="user_id", time_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("windowed_distinct_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows1 = spark.sql("select * from windowed_distinct_test").collect()
        running = [r for r in rows1 if not r["is_final"]]
        assert len(running) == 1 and running[0]["estimate"] == 3.0

        # batch 2: more keys in window A (late inside the watermark) +
        # first key of window B — watermark still at window A's end max
        write_batch("b2.parquet", [(9, base + 50), (10, base + H + 10)])
        q.processAllAvailable()
        # batch 3 advances the watermark past window A's end -> timer
        write_batch("b3.parquet", [(10, base + 2 * H + 10)])
        q.processAllAvailable()

        rows = spark.sql("select * from windowed_distinct_test").collect()
        finals = {
            r["window_start"].timestamp(): r
            for r in rows
            if r["is_final"]
        }
        assert base in finals  # window A closed
        assert finals[base]["estimate"] == 4.0  # users 1,2,3,9
        assert finals[base]["retained"] == 4
        # window A's running rows never exceeded the final (idempotent
        # distinct folding), and window B is still open (no final row)
        a_running = [
            r["estimate"]
            for r in rows
            if not r["is_final"] and r["window_start"].timestamp() == base
        ]
        assert max(a_running) <= 4.0
        # window B's end (base+2H) is also behind the final watermark
        # (base+2H+10), so it closed too, with its single user
        assert finals[base + H]["estimate"] == 1.0
        # window C holds the last event; its end is ahead of the
        # watermark, so it is still open — no final row, state live
        assert base + 2 * H not in finals
    finally:
        q.stop()


def test_windowed_quantiles_stream_exact_order_statistics(spark, tmp_path):
    """KLL-per-window quantiles in the uncompacted regime are exact
    order statistics at rank ceil(q*n), across multiple batches, and
    the window finalizes on watermark passage."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomspark.streaming import windowed_quantiles_stream

    src = tmp_path / "src"
    src.mkdir()
    H = 3600
    base = 1_700_000_000 - (1_700_000_000 % H)

    def write_batch(name, rows):  # rows: (value, epoch_s)
        t = pa.table(
            {
                "value": pa.array([r[0] for r in rows], type=pa.float64()),
                "ts": pa.array(
                    [r[1] * 1_000_000 for r in rows], type=pa.timestamp("us")
                ),
            }
        )
        pq.write_table(t, str(src / name))

    vals_a = [5.0, 1.0, 9.0, 3.0]
    write_batch("b1.parquet", [(v, base + 10 + i) for i, v in enumerate(vals_a)])
    stream = spark.readStream.schema("value double, ts timestamp").parquet(str(src))
    out = windowed_quantiles_stream(
        stream, value_col="value", time_col="ts", quantiles=(0.5, 0.9)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("windowed_quantiles_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )

    def rank_stat(vals, qq):
        s = sorted(vals)
        return s[min(math.ceil(qq * len(s)) - 1, len(s) - 1)]

    try:
        q.processAllAvailable()
        # batch 2: more window-A values (late, inside watermark) + a
        # window-C event that pushes the watermark past A's end
        vals_a2 = vals_a + [7.0, 2.0]
        write_batch("b2.parquet", [(7.0, base + 50), (2.0, base + 55),
                                   (4.0, base + 2 * H + 10)])
        q.processAllAvailable()
        write_batch("b3.parquet", [(8.0, base + 2 * H + 20)])
        q.processAllAvailable()
        rows = spark.sql("select * from windowed_quantiles_test").collect()
        finals = {r["window_start"].timestamp(): r for r in rows if r["is_final"]}
        assert base in finals
        assert finals[base]["q_5"] == rank_stat(vals_a2, 0.5)
        assert finals[base]["q_9"] == rank_stat(vals_a2, 0.9)
        # the pre-late-data running row saw only batch 1's values
        running_a = [r for r in rows
                     if not r["is_final"] and r["window_start"].timestamp() == base]
        assert running_a[0]["q_5"] == rank_stat(vals_a, 0.5)
    finally:
        q.stop()

    from bloomspark.streaming import windowed_quantiles_stream as wqs

    with pytest.raises(ValueError, match="quantiles"):
        wqs(stream, quantiles=(1.5,), value_col="value", time_col="ts")


def test_windowed_distinct_sliding_windows(spark, tmp_path):
    """slide= produces overlapping windows: one event lands in every
    window covering its timestamp, each with its own sketch state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomspark.streaming import windowed_distinct_stream

    src = tmp_path / "src"
    src.mkdir()
    H = 3600
    base = 1_700_000_000 - (1_700_000_000 % H)
    t = pa.table(
        {
            "user_id": pa.array([1, 2, 3], type=pa.int64()),
            # all three land at base + 90 min: inside two 2h windows
            # sliding by 1h ([base, base+2h) and [base+1h, base+3h))
            "ts": pa.array(
                [(base + 5400) * 1_000_000] * 3, type=pa.timestamp("us")
            ),
        }
    )
    pq.write_table(t, str(src / "b1.parquet"))
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(str(src))
    out = windowed_distinct_stream(
        stream, key_col="user_id", time_col="ts", window="2 hours", slide="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("windowed_sliding_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from windowed_sliding_test").collect()
        got = {
            int(r["window_start"].timestamp()): r["estimate"] for r in rows
        }
        assert got == {base: 3.0, base + H: 3.0}
    finally:
        q.stop()


def test_windowed_topk_stream_exact_ranking(spark, tmp_path):
    """Misra-Gries-per-window top-k: exact counts below k, the
    deterministic (count desc, item asc) ranking, and the exact flag."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomspark.streaming import windowed_topk_stream

    src = tmp_path / "src"
    src.mkdir()
    H = 3600
    base = 1_700_000_000 - (1_700_000_000 % H)
    keys = ["b"] * 3 + ["a"] * 3 + ["c"] * 5 + ["d"]
    t = pa.table(
        {
            "k": pa.array(keys, type=pa.string()),
            "ts": pa.array(
                [(base + 10 + i) * 1_000_000 for i in range(len(keys))],
                type=pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(t, str(src / "b1.parquet"))
    stream = spark.readStream.schema("k string, ts timestamp").parquet(str(src))
    out = windowed_topk_stream(stream, key_col="k", time_col="ts", n=3)
    q = (
        out.writeStream.format("memory")
        .queryName("windowed_topk_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from windowed_topk_test").collect()
        assert len(rows) == 1
        r = rows[0]
        # c(5) first; a and b tie at 3 -> item-ascending breaks it
        assert r["top_items"] == ["c", "a", "b"]
        assert r["top_counts"] == [5, 3, 3]
        assert r["exact"] is True
    finally:
        q.stop()
