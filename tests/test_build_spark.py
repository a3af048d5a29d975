"""Distributed build/probe correctness: the Spark layer must be
byte-identical to the driver-side library, across partitionings and
merge orders (the distributed extension of BloomFilterTest.addAllTest's
bit-identity assertion, BloomFilterTest.java:123-139)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomspark import BloomFilter, CountingBloomFilter, FilterConfig
from bloomspark.build import (
    build_bloom,
    build_counting,
    build_counting_with_removals,
    build_partials,
    merge_partial_rows,
)
from bloomspark.grouped import (
    build_bloom_per_group,
    build_counting_per_group,
    collect_group_filters,
)
from bloomspark.probe import with_estimated_count, with_membership

CFG = FilterConfig.complete(n=10_000, p=0.01)


def local_filter(config, keys):
    from bloomspark.filter import set_positions
    from bloomspark.hashing import hash_positions

    bf = BloomFilter(config)
    set_positions(bf.bits, hash_positions(keys, config.m, config.k, config.hash_method))
    return bf


def test_distributed_build_matches_local(spark, orders):
    keys = [str(r[0]) for r in orders.select("o_orderkey").collect()]
    expected = local_filter(CFG, keys)
    got = build_bloom(orders, "o_orderkey", CFG)
    assert got == expected
    assert got.to_bytes() == expected.to_bytes()


@pytest.mark.parametrize("parts", [1, 3, 16])
def test_build_partition_count_invariance(spark, orders, parts):
    """F5 extension: P ∈ {1, 3, 16} partitions -> byte-identical filters."""
    base = build_bloom(orders, "o_orderkey", CFG)
    redist = build_bloom(orders.repartition(parts), "o_orderkey", CFG)
    assert redist.to_bytes() == base.to_bytes()


def test_tree_merge_path_identical(spark, orders):
    direct = build_bloom(orders, "o_orderkey", CFG)
    treed = build_bloom(
        orders.repartition(12),
        "o_orderkey",
        CFG,
        tree_merge_threshold=4,
        tree_merge_groups=3,
    )
    assert treed.to_bytes() == direct.to_bytes()


def test_partials_lineage_metrics(spark, orders):
    partials = build_partials(orders.repartition(4), "o_orderkey", CFG).collect()
    assert len(partials) == 4
    total = sum(r["rows"] for r in partials)
    assert total == orders.count()
    for r in partials:
        assert r["ones"] > 0 and r["t_ms"] >= 0 and r["fingerprint"] >= 0
    merged = merge_partial_rows(partials, CFG)
    assert merged == build_bloom(orders, "o_orderkey", CFG)


def test_probe_column_no_false_negatives(spark, orders, customer):
    bf = build_bloom(orders, "o_custkey", CFG)
    probed = with_membership(customer, "c_custkey", bf).collect()
    truth = {r[0] for r in orders.select("o_custkey").distinct().collect()}
    for row in probed:
        if row["c_custkey"] in truth:
            assert row["member"], f"false negative for {row['c_custkey']}"


def test_probe_matches_driver_contains(spark, customer, orders):
    bf = build_bloom(orders, "o_custkey", CFG)
    rows = with_membership(customer, "c_custkey", bf).select("c_custkey", "member").collect()
    for r in rows:
        assert r["member"] == bf.contains(str(r["c_custkey"]))


def test_counting_build_matches_local(spark, lineitem):
    cfg = FilterConfig.complete(n=2000, p=1e-6, counting_bits=16)
    keys = [str(r[0]) for r in lineitem.select("l_partkey").collect()]
    local = CountingBloomFilter(cfg)
    local.add_batch(keys)
    dist = build_counting(lineitem, "l_partkey", cfg)
    assert dist == local
    # and the estimates equal exact counts at this tiny FPP
    exact = (
        lineitem.groupBy("l_partkey").count().collect()
    )
    for r in exact[:50]:
        assert dist.get_estimated_count(str(r["l_partkey"])) == r["count"]


def test_counting_estimated_count_column(spark, lineitem):
    cfg = FilterConfig.complete(n=2000, p=1e-6, counting_bits=32)
    cbf = build_counting(lineitem, "l_partkey", cfg)
    exact = {r["l_partkey"]: r["count"] for r in lineitem.groupBy("l_partkey").count().collect()}
    probed = with_estimated_count(
        lineitem.select("l_partkey").distinct(), "l_partkey", cbf
    ).collect()
    for r in probed:
        assert r["est_count"] == exact[r["l_partkey"]]


def test_distributed_remove(spark, lineitem):
    cfg = FilterConfig.complete(n=2000, p=1e-6, counting_bits=32)
    adds = lineitem
    removes = lineitem.where(F.col("l_returnflag") == "R")
    result = build_counting_with_removals(adds, removes, "l_partkey", cfg)
    exact = {
        r["l_partkey"]: r["count"]
        for r in lineitem.where(F.col("l_returnflag") != "R")
        .groupBy("l_partkey")
        .count()
        .collect()
    }
    sample = list(exact.items())[:50]
    for key, cnt in sample:
        assert result.get_estimated_count(str(key)) == cnt
    # removing everything -> empty filter
    empty = build_counting_with_removals(adds, adds, "l_partkey", cfg)
    assert empty.is_empty()


def test_grouped_build_with_skew(spark, code_table):
    """Per-repo filters via salted two-phase merge over the Zipf table."""
    cfg = FilterConfig.complete(n=500, p=0.001)
    grouped = build_bloom_per_group(code_table, "repo", "sha", cfg, salt_partitions=4)
    filters = collect_group_filters(grouped, cfg)
    # hot group exists and has ~20% of rows
    rows = code_table.withColumn("sha", F.sha2("content", 256)).collect()
    by_repo = {}
    for r in rows:
        by_repo.setdefault(r["repo"], set()).add(r["sha"])
    assert len(by_repo["org0/repo0"]) > 50
    for repo, shas in by_repo.items():
        bf = filters[repo]
        for sha in list(shas)[:20]:
            assert bf.contains(sha), (repo, sha)
    # salted two-phase must equal a driver-side per-group build
    for repo in ("org0/repo0", "org1/repo1"):
        expected = local_filter(cfg, sorted(by_repo[repo]))
        # driver build over the set; distributed hashed the multiset — same bits
        assert filters[repo].to_bytes() == expected.to_bytes()


def test_grouped_counting_build(spark, code_table):
    cfg = FilterConfig.complete(n=500, p=1e-6, counting_bits=32)
    grouped = build_counting_per_group(code_table, "repo", "sha", cfg, salt_partitions=4)
    rows = {r["group"]: r for r in grouped.collect()}
    exact = {
        r["repo"]: r["cnt"]
        for r in code_table.groupBy("repo").agg(F.count("*").alias("cnt")).collect()
    }
    for repo, cnt in exact.items():
        assert rows[repo]["rows"] == cnt
    # each group's counters equal a driver-side counting filter over
    # that group's keys (every row, duplicates included)
    keys_by_repo = {}
    for r in code_table.select("repo", "sha").collect():
        keys_by_repo.setdefault(r["repo"], []).append(r["sha"])
    for repo, keys in keys_by_repo.items():
        expected = CountingBloomFilter(cfg)
        expected.add_batch(keys)
        assert bytes(rows[repo]["counters"]) == expected.to_bytes(), repo
        assert rows[repo]["nonzero"] == int(np.count_nonzero(expected.counters))


def test_grouped_builds_identical_across_stage1_flushes(spark, monkeypatch):
    """One hot tenant holds almost every row; a stage-1 budget below one
    Arrow batch makes every task flush after each batch, so stage 2
    merges several partials per (task, group).  Both grouped builds
    must still equal the driver-side filters byte for byte."""
    import pyarrow as pa

    from bloomspark import grouped
    from bloomspark.hashing import Keys, get_hash_fn
    from bloomspark.partials import CounterAccumulator, PositionAccumulator

    cfg = FilterConfig.complete(n=2_000, p=0.01, counting_bits=16)
    df = spark.range(0, 4_000, 1, 2).select(
        F.when(F.col("id") % 100 == 7, F.lit("cold"))
        .when(F.col("id") % 100 == 9, F.lit(None))
        .otherwise(F.lit("hot"))
        .alias("g"),
        (F.col("id") % 1_500).cast("string").alias("k"),
    )
    keys_by_group = {}
    for r in df.collect():
        keys_by_group.setdefault(r["g"], []).append(r["k"])
    assert len(keys_by_group["hot"]) > 0.9 * 4_000

    budget = 1 << 10  # far below one 500-row batch of hashed positions
    monkeypatch.setattr(grouped, "_STAGE1_FLUSH_BYTES", budget)
    # the budget is read when the generator is built: every batch flushes
    batches = pa.Table.from_pydict(
        {"__group": [g for g in keys_by_group for _ in keys_by_group[g]],
         "__key": [k for g in keys_by_group for k in keys_by_group[g]]}
    ).to_batches(max_chunksize=500)
    def stage1_flushes(cfg):
        return [
            len(list(grouped._grouped_stage1_gen(cfg, new_acc, add, split, col)(
                iter(batches)
            )))
            for new_acc, add, split, col in (
                (lambda: PositionAccumulator(cfg.m, cfg.num_bytes),
                 PositionAccumulator.add, grouped._split_positions, "bitset"),
                (lambda: CounterAccumulator(cfg), CounterAccumulator.add_pairs,
                 grouped._split_position_counts, "counters"),
            )
        ]

    assert stage1_flushes(cfg) == [len(batches)] * 2 and len(batches) >= 8
    # int64 positions count 8 bytes each: a budget of 6 bytes per hashed
    # position flushes after every batch (counting at 4 bytes would
    # flush every other batch and hold twice the budget)
    cfg64 = FilterConfig.complete(
        n=2_000, p=0.01, counting_bits=16, hash_method="Murmur3"
    )
    assert get_hash_fn("Murmur3")(
        Keys.from_objects(["x"]), cfg64.m, cfg64.k
    ).dtype == np.int64
    monkeypatch.setattr(grouped, "_STAGE1_FLUSH_BYTES", 500 * cfg64.k * 6)
    assert stage1_flushes(cfg64) == [len(batches)] * 2
    monkeypatch.setattr(grouped, "_STAGE1_FLUSH_BYTES", budget)

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        gf = {r["group"]: r for r in build_bloom_per_group(df, "g", "k", cfg).collect()}
        gc = {r["group"]: r for r in build_counting_per_group(df, "g", "k", cfg).collect()}
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert set(gf) == set(gc) == set(keys_by_group)
    for g, keys in keys_by_group.items():
        assert gf[g]["rows"] == gc[g]["rows"] == len(keys)
        assert bytes(gf[g]["bitset"]) == local_filter(cfg, keys).to_bytes(), g
        expected = CountingBloomFilter(cfg)
        expected.add_batch(keys)
        assert bytes(gc[g]["counters"]) == expected.to_bytes(), g


def test_datagen_sha_invariant(spark, code_table):
    """Per-row invariant vs reference ingestion: Spark's sha2(content,256)
    equals Python hashlib.sha256 over UTF-8 (BASELINE.json input_hint)."""
    import hashlib

    from bloomspark.datagen import with_keys

    sample = with_keys(code_table).select("content", "sha").limit(100).collect()
    for r in sample:
        assert hashlib.sha256(r["content"].encode("utf-8")).hexdigest() == r["sha"]


def test_datagen_deterministic_across_partitionings(spark):
    from bloomspark.datagen import source_code_table

    a = source_code_table(spark, 500, partitions=1).orderBy("commit").collect()
    b = source_code_table(spark, 500, partitions=7).orderBy("commit").collect()
    assert a == b


def test_probe_disjoint_fpp_bound(spark):
    """F7: observed FPP on a disjoint probe set within 2x configured."""
    from bloomspark.datagen import probe_table, source_code_table, with_keys

    insert = with_keys(source_code_table(spark, 5000))
    cfg = FilterConfig.complete(n=5000, p=0.01)
    bf = build_bloom(insert, "sha", cfg)
    probes = probe_table(spark, 20_000)
    # verify disjointness, then measure
    overlap = insert.select("sha").intersect(probes.select("sha")).count()
    assert overlap == 0
    hits = with_membership(probes, "sha", bf).where(F.col("member")).count()
    observed = hits / 20_000
    assert observed <= 2 * 0.01, f"observed FPP {observed:.4%}"


def test_group_membership_probe(spark, customer):
    from bloomspark.grouped import with_group_membership

    cfg = FilterConfig.complete(n=500, p=1e-9)
    gf = build_bloom_per_group(customer, "c_mktsegment", "c_custkey", cfg)
    own = with_group_membership(customer, "c_mktsegment", "c_custkey", gf, cfg)
    assert own.where(~F.col("member")).count() == 0  # no false negatives
    # unknown keys probe False everywhere
    shifted = customer.withColumn("c_custkey", F.col("c_custkey") + 10_000_000)
    probed = with_group_membership(shifted, "c_mktsegment", "c_custkey", gf, cfg)
    assert probed.where(F.col("member")).count() == 0
    # a group missing from the filters table probes False, not null/error
    alien = customer.withColumn("c_mktsegment", F.lit("NO_SUCH_SEGMENT"))
    pa_ = with_group_membership(alien, "c_mktsegment", "c_custkey", gf, cfg)
    assert pa_.where(F.col("member")).count() == 0


def test_group_probe_strategy_routing(spark, customer):
    """The unified probe API: 'auto' routes to the never-collected
    cogroup plan when n_groups x state_bytes exceeds the broadcast
    budget, and both plans return identical results."""
    from bloomspark.grouped import (
        build_counting_per_group,
        with_group_estimated_count,
        with_group_membership,
    )

    cfg = FilterConfig.complete(n=500, p=1e-9)
    gf = build_bloom_per_group(customer, "c_mktsegment", "c_custkey", cfg)
    gf.persist()
    try:
        bcast = with_group_membership(
            customer, "c_mktsegment", "c_custkey", gf, cfg, strategy="broadcast"
        )
        cog = with_group_membership(
            customer, "c_mktsegment", "c_custkey", gf, cfg, strategy="cogroup"
        )
        assert "CoGroup" in cog._jdf.queryExecution().executedPlan().toString()
        key = lambda rows: sorted((r["c_custkey"], r["member"]) for r in rows)
        assert key(bcast.collect()) == key(cog.collect())
        # auto with a 1-byte budget must take the cogroup plan
        auto = with_group_membership(
            customer, "c_mktsegment", "c_custkey", gf, cfg, max_broadcast_bytes=1
        )
        assert "CoGroup" in auto._jdf.queryExecution().executedPlan().toString()
        assert key(auto.collect()) == key(bcast.collect())
    finally:
        gf.unpersist()
    ccfg = FilterConfig.complete(n=500, p=1e-9, counting_bits=16)
    gc = build_counting_per_group(customer, "c_mktsegment", "c_custkey", ccfg)
    gc.persist()
    try:
        a = with_group_estimated_count(
            customer, "c_mktsegment", "c_custkey", gc, ccfg, strategy="broadcast"
        )
        b = with_group_estimated_count(
            customer, "c_mktsegment", "c_custkey", gc, ccfg, strategy="cogroup"
        )
        key = lambda rows: sorted((r["c_custkey"], r["est_count"]) for r in rows)
        assert key(a.collect()) == key(b.collect())
    finally:
        gc.unpersist()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        with_group_membership(
            customer, "c_mktsegment", "c_custkey", gf, cfg, strategy="nope"
        )


def test_group_probes_match_driver_filters(spark):
    """Both grouped probes, on batches that interleave every group and
    mix present keys (counts 1-3) with absent ones, equal a driver-side
    probe of each row's own group filter, row by row."""
    from bloomspark.grouped import (
        with_group_estimated_count,
        with_group_membership,
    )

    cfg = FilterConfig.complete(n=300, p=0.2, counting_bits=16)
    adds = spark.range(0, 1_200, 1, 2).select(
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") % 400).cast("string").alias("k"),
    )
    probes = spark.range(0, 2_000, 1, 2).select(
        (F.col("id") % 8).cast("string").alias("g"),  # group "7" has no filter
        (F.col("id") % 800).cast("string").alias("k"),
    )
    gf = build_bloom_per_group(adds, "g", "k", cfg)
    gc = build_counting_per_group(adds, "g", "k", cfg)
    keys_by_group = {}
    for r in adds.collect():
        keys_by_group.setdefault(r["g"], []).append(r["k"])
    blooms, counters = {}, {}
    for g, keys in keys_by_group.items():
        blooms[g] = local_filter(cfg, keys)
        counters[g] = CountingBloomFilter(cfg)
        counters[g].add_batch(keys)
    got = (
        with_group_estimated_count(
            with_group_membership(probes, "g", "k", gf, cfg, strategy="broadcast"),
            "g", "k", gc, cfg, strategy="broadcast",
        )
        .collect()
    )
    member = [r["member"] for r in got]
    assert 0 < sum(member) < len(member)  # a mix of hits and misses
    for r in got:
        want = r["g"] in blooms and blooms[r["g"]].contains(r["k"])
        assert r["member"] == want, (r["g"], r["k"])
        want_count = (
            counters[r["g"]].get_estimated_count(r["k"]) if r["g"] in counters else 0
        )
        assert r["est_count"] == want_count, (r["g"], r["k"])


def test_grouped_build_and_probe_with_null_groups(spark):
    """Null group values are a group of their own (ADVICE r2: np.unique
    raised on None-vs-str when a null group shared an Arrow batch) —
    build, counting build, and both probes must treat them like any
    other group value."""
    from bloomspark.grouped import (
        with_group_estimated_count,
        with_group_membership,
    )

    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        rows = [("t1", "a"), (None, "b"), ("t2", "c"), (None, "b"), ("t1", "d")]
        df = spark.createDataFrame(rows, "g string, k string")
        cfg = FilterConfig.complete(n=100, p=1e-9, counting_bits=16)
        gf = build_bloom_per_group(df, "g", "k", cfg, salt_partitions=1)
        got = {r["group"]: r["rows"] for r in gf.collect()}
        assert got == {"t1": 2, None: 2, "t2": 1}
        probed = {
            (r["g"], r["k"]): r["member"]
            for r in with_group_membership(df, "g", "k", gf, cfg).collect()
        }
        assert all(probed.values())  # incl. the null-group rows
        # a key from another group does NOT probe true in the null group
        other = spark.createDataFrame([(None, "a")], "g string, k string")
        assert not with_group_membership(other, "g", "k", gf, cfg).first()["member"]
        gc = build_counting_per_group(df, "g", "k", cfg, salt_partitions=1)
        counts = {
            (r["g"], r["k"]): r["est_count"]
            for r in with_group_estimated_count(df, "g", "k", gc, cfg).collect()
        }
        assert counts[(None, "b")] == 2 and counts[("t1", "a")] == 1
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_build_report_metrics(spark, orders):
    from bloomspark import build_bloom, build_bloom_report

    bf, report = build_bloom_report(orders.repartition(4), "o_orderkey", CFG)
    assert bf == build_bloom(orders, "o_orderkey", CFG)
    assert report["rows"] == orders.count()
    assert report["ones"] == bf.cardinality()
    assert 0 < report["fill_ratio"] < 1
    assert len(report["partials"]) == 4
    assert all(p["kind"] in ("sparse", "dense") for p in report["partials"])
    import json

    json.dumps(report)  # must be JSON-serializable as-is


def test_collects_leave_arrow_conf_untouched(spark, orders):
    """Builds collect through ``toArrow``: a session with
    spark.sql.execution.arrow.pyspark.enabled=false keeps it false
    through build_bloom, build_counting, collect_group_filters and the
    grouped broadcast probe, and the bytes equal those built with the
    conf on."""
    from bloomspark.grouped import with_group_membership

    key = "spark.sql.execution.arrow.pyspark.enabled"
    ccfg = FilterConfig.complete(n=10_000, p=0.01, counting_bits=8)
    keyed = orders.select(
        F.col("o_orderstatus").alias("g"), F.col("o_orderkey").alias("k")
    )

    def run():
        grouped = build_bloom_per_group(keyed, "g", "k", CFG)
        probed = with_group_membership(keyed, "g", "k", grouped, CFG)
        return (
            build_bloom(orders, "o_orderkey", CFG).to_bytes(),
            build_counting(orders, "o_orderkey", ccfg).to_bytes(),
            {g: bf.to_bytes() for g, bf in collect_group_filters(grouped, CFG).items()},
            probed.where(~F.col("member")).count(),
        )

    before = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        off = run()
        assert spark.conf.get(key) == "false"
        spark.conf.set(key, "true")
        assert run() == off
        assert off[3] == 0
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_merge_kernels_refuse_unknown_kinds():
    """A payload of an unknown kind (e.g. a retired ``dense_z``) must not
    merge: read as positions it would set garbage bits silently."""
    from bloomspark.partials import (
        PositionAccumulator,
        add_counting_payload,
        merge_bloom_payloads,
    )

    acc = PositionAccumulator(CFG.m, CFG.num_bytes)
    acc.add(np.arange(0, 64, 3, dtype=np.uint32))
    kind, _, payload = acc.finish()
    assert kind == "sparse"
    bits = merge_bloom_payloads([kind], [payload], CFG)
    assert bits.tobytes() == local_filter_bits(np.arange(0, 64, 3)).tobytes()
    for bad in ("dense_z", "sparse_z", "bogus"):
        with pytest.raises(ValueError, match="unknown bloom partial kind"):
            merge_bloom_payloads(["dense", bad], [bits.tobytes(), payload], CFG)
    ccfg = FilterConfig.complete(n=100, p=0.01, counting_bits=8)
    counters = np.zeros(ccfg.m, dtype=np.uint8)
    with pytest.raises(ValueError, match="unknown counting partial kind"):
        add_counting_payload(counters, "cdense_z", b"\x00", ccfg, lambda n: None)


def local_filter_bits(positions):
    from bloomspark.filter import set_positions

    bits = np.zeros(CFG.num_bytes, dtype=np.uint8)
    set_positions(bits, np.asarray(positions, dtype=np.int64))
    return bits


def test_counting_partial_wire_kinds_byte_identical(spark, monkeypatch):
    """Round-4 item 1: counting partials are hybrid (csparse/cdense) like
    the bloom partials; forcing either wire kind must merge to the
    byte-identical counting filter."""
    import numpy as np

    import bloomspark.build as b
    import bloomspark.partials as partials
    from bloomspark import FilterConfig, build_counting

    keys = spark.range(2000).select(F.col("id").cast("string").alias("k")).repartition(4)
    # small m -> high fill: partials densify under the default policy
    cfg = FilterConfig.complete(n=200, p=0.05, counting_bits=16)
    dense_built = build_counting(keys, "k", cfg)
    pk = b.build_counting_partials(keys, "k", cfg).toPandas()
    assert set(pk["kind"]) == {"cdense"}

    # forbid dense accumulation -> every partial rides the sparse wire
    monkeypatch.setattr(partials, "COUNTING_DENSE_ALLOC_LIMIT", 0)
    sparse_built = build_counting(keys, "k", cfg)
    ps = b.build_counting_partials(keys, "k", cfg).toPandas()
    assert set(ps["kind"]) == {"csparse"}
    assert sparse_built.counters.tobytes() == dense_built.counters.tobytes()

    # tree-merge path handles (and re-emits) sparse partials too
    tree_built = build_counting(keys, "k", cfg, tree_merge_threshold=1)
    assert tree_built.counters.tobytes() == dense_built.counters.tobytes()
    monkeypatch.undo()

    # low fill at a larger m chooses sparse naturally (the 100-TB shape:
    # wire bytes track content, not m)
    big = FilterConfig.complete(n=500_000, p=0.01, counting_bits=16)
    pk2 = b.build_counting_partials(keys, "k", big).toPandas()
    assert set(pk2["kind"]) == {"csparse"}
    assert all(
        len(p) < big.m * 2 // 8 for p in pk2["counters"]
    ), "sparse payloads must be far below the dense m*dtype size"


def test_counting_build_extended_m(spark):
    """Round-4 item 1 done-criterion: an extended-m (m > 2^31) counting
    build completes in-sandbox — only possible because partials are
    sparse (csparse64), never m-proportional."""
    import bloomspark.build as b
    from bloomspark import FilterConfig, build_counting

    cfg = FilterConfig.complete(
        m=2**31 + 4096, k=3, counting_bits=8, extended=True,
        hash_method="Murmur3KirschMitzenmacher",
    )
    keys = spark.range(5000).select(F.col("id").cast("string").alias("k")).repartition(4)
    parts = b.build_counting_partials(keys, "k", cfg).toPandas()
    assert set(parts["kind"]) == {"csparse64"}
    cbf = build_counting(keys, "k", cfg)
    # every key added twice (union of two identical builds via merge):
    # exact counts at this fill (collision probability ~ (5000*3)^2/2^31)
    assert cbf.get_estimated_count("42") == 1
    assert cbf.get_estimated_count("4999") == 1
    assert cbf.get_estimated_count("not-present") == 0
    # NOTE: driver-side CBF.merge at extended m is dense O(m) arithmetic
    # (gigabytes of temporaries) — deliberately not exercised here; the
    # distributed merge paths stay sparse and are covered above.


def test_build_counting_refuses_oversized_driver_alloc(spark):
    """ADVICE r4: at huge extended m the final driver-side counter array
    (m x dtype) would OOM mid-numpy; build_counting must refuse up front
    with a pointer at the distributed tiers instead."""
    import pytest

    from bloomspark import FilterConfig, build_counting

    cfg = FilterConfig.complete(
        m=2**33, k=3, counting_bits=16, extended=True,
        hash_method="Murmur3KirschMitzenmacher",
    )
    keys = spark.range(10).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="max_driver_bytes"):
        build_counting(keys, "k", cfg)
