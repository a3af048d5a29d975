"""Distributed sketch builds (HLL / CMS / t-digest / KLL): error bounds
vs exact answers, merge associativity / partition invariance, and
checkpoint-resume — over the real testdata tables and the synthetic
source-code table (FIXTURES.md-style deterministic inputs)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomspark.sketches import (
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    TDigest,
    build_sketch,
    build_sketch_checkpointed,
)
from bloomspark.sources import source_code_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    # unpersist at teardown: a cached parquet read would otherwise plan
    # as InMemoryTableScan for every later read of the same path
    df = spark.read.parquet(f"{SF}/lineitem.parquet").cache()
    yield df
    df.unpersist()


def test_hll_distinct_within_bound(spark, lineitem):
    h = build_sketch(lineitem.repartition(8), "l_orderkey", HyperLogLog(p=14))
    exact = lineitem.select("l_orderkey").distinct().count()
    est = h.estimate()
    assert abs(est - exact) / exact < 3 * 1.04 / np.sqrt(2**14)
    assert h.rows == lineitem.count()


def test_hll_partition_invariance(spark, lineitem):
    """The merged registers must be IDENTICAL regardless of
    partitioning — merge is max, a lattice join."""
    a = build_sketch(lineitem.repartition(3), "l_orderkey", HyperLogLog(p=12))
    b = build_sketch(lineitem.repartition(17), "l_orderkey", HyperLogLog(p=12))
    assert np.array_equal(a.state, b.state)


def test_cms_counts_bounded(spark, lineitem):
    cms = CountMinSketch(width=1 << 15, depth=5)
    h = build_sketch(lineitem.repartition(8), "l_partkey", cms)
    exact = {
        r["l_partkey"]: r["cnt"]
        for r in lineitem.groupBy("l_partkey").agg(F.count("*").alias("cnt")).collect()
    }
    keys = [str(k) for k in exact]
    est = cms.estimate(h.state, keys)
    true = np.array([exact[k] for k in exact], dtype=np.int64)
    assert (est >= true).all()  # never under-counts, guaranteed
    assert (est <= true + max(h.sketch.error_bound(h.state), 1)).all()


def test_cms_partition_invariance(spark, lineitem):
    cms = CountMinSketch(width=1 << 12, depth=4)
    a = build_sketch(lineitem.repartition(3), "l_partkey", cms)
    b = build_sketch(lineitem.repartition(13), "l_partkey", cms)
    assert np.array_equal(a.state, b.state)  # add is exact: same totals


def test_tdigest_quantiles(spark, lineitem):
    td = TDigest(delta=200)
    h = build_sketch(lineitem.repartition(8), "l_extendedprice", td)
    vals = np.array(
        [r[0] for r in lineitem.select("l_extendedprice").collect()], dtype=np.float64
    )
    n = len(vals)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = h.quantile(q)
        rank_err = abs((vals <= est).sum() / n - q)
        assert rank_err < 0.01, f"q={q}: rank error {rank_err}"
    assert h.total_weight() == n


def test_kll_quantiles(spark, lineitem):
    kll = KLLSketch(k=256)
    h = build_sketch(lineitem.repartition(8), "l_extendedprice", kll)
    vals = np.array(
        [r[0] for r in lineitem.select("l_extendedprice").collect()], dtype=np.float64
    )
    n = len(vals)
    for q in (0.05, 0.5, 0.95):
        est = h.quantile(q)
        rank_err = abs((vals <= est).sum() / n - q)
        assert rank_err < 3.0 / 256 + 0.01, f"q={q}: rank error {rank_err}"


def test_sketch_checkpoint_resume(spark, lineitem, tmp_path):
    """Kill-and-resume: phase 1 sees only part of the input (simulated
    mid-build kill via pre-filtered buckets), phase 2 completes; the
    resumed HLL equals the cold build REGISTER-FOR-REGISTER."""
    d = str(tmp_path / "hll_ck")
    hll = HyperLogLog(p=12)
    partial = lineitem.where(
        F.pmod(F.xxhash64(F.col("l_orderkey").cast("string")), F.lit(8)).isin([0, 1])
    )
    build_sketch_checkpointed(partial, "l_orderkey", hll, d, num_buckets=8)
    resumed = build_sketch_checkpointed(lineitem, "l_orderkey", hll, d, num_buckets=8)
    cold = build_sketch(lineitem, "l_orderkey", HyperLogLog(p=12))
    assert np.array_equal(resumed.state, cold.state)
    # wrong num_buckets / different sketch config is rejected
    with pytest.raises(ValueError):
        build_sketch_checkpointed(lineitem, "l_orderkey", hll, d, num_buckets=4)
    with pytest.raises(ValueError):
        build_sketch_checkpointed(
            lineitem, "l_orderkey", HyperLogLog(p=11), d, num_buckets=8
        )


def test_cms_checkpoint_no_double_count(spark, lineitem, tmp_path):
    """The non-idempotent sketch: resume must not double-count rows in
    already-done buckets (ADVICE round-1 counting-checkpoint bug class)."""
    d = str(tmp_path / "cms_ck")
    cms = CountMinSketch(width=1 << 12, depth=4)
    partial = lineitem.where(
        F.pmod(F.xxhash64(F.col("l_partkey").cast("string")), F.lit(8)).isin([0, 1, 2])
    )
    build_sketch_checkpointed(partial, "l_partkey", cms, d, num_buckets=8)
    resumed = build_sketch_checkpointed(lineitem, "l_partkey", cms, d, num_buckets=8)
    cold = build_sketch(lineitem, "l_partkey", CountMinSketch(width=1 << 12, depth=4))
    assert np.array_equal(resumed.state, cold.state)


def test_tree_merge_equivalence(spark, lineitem):
    """Forcing the executor tree merge must not change any result
    (associativity)."""
    h1 = build_sketch(
        lineitem.repartition(16), "l_orderkey", HyperLogLog(p=12),
        tree_merge_threshold=4,
    )
    h2 = build_sketch(lineitem.repartition(16), "l_orderkey", HyperLogLog(p=12))
    assert np.array_equal(h1.state, h2.state)


# ---------------------------------------------------------------------------
# source-code table (north-rule input shape)
# ---------------------------------------------------------------------------


def test_source_code_table_deterministic(spark):
    df = source_code_table(spark, 1000, partitions=8)
    assert df.columns == ["repo", "path", "commit", "lang", "content"]
    assert df.count() == 1000
    # deterministic across partitionings
    a = sorted(tuple(r) for r in source_code_table(spark, 100, partitions=2).collect())
    b = sorted(tuple(r) for r in source_code_table(spark, 100, partitions=7).collect())
    assert a == b
    # skew: repo-0 holds ~1/4 + 1/97 of all files
    hot = df.where(F.col("repo") == "repo-0").count()
    assert hot > 1000 // 4


def test_source_code_sha_and_sketches(spark):
    """The full north-rule pass at toy scale: deterministic code table ->
    content sha256 per row -> HLL distinct-content estimate within
    bound, CMS per-repo file counts bounded, exact distinct as truth."""
    df = source_code_table(spark, 5000, partitions=16).withColumn(
        "sha", F.sha2(F.col("content"), 256)
    )
    exact = df.select("sha").distinct().count()
    h = build_sketch(df, "sha", HyperLogLog(p=14))
    assert abs(h.estimate() - exact) / exact < 3 * 1.04 / np.sqrt(2**14)
    cms = CountMinSketch(width=1 << 14, depth=5)
    c = build_sketch(df, "repo", cms)
    repo_counts = {
        r["repo"]: r["cnt"]
        for r in df.groupBy("repo").agg(F.count("*").alias("cnt")).collect()
    }
    est = cms.estimate(c.state, list(repo_counts))
    true = np.array(list(repo_counts.values()))
    assert (est >= true).all()
    assert (est - true).max() <= cms.error_bound(c.state) + 1


def test_streaming_hll_build(spark, tmp_path):
    """foreachBatch sketch maintenance: a file-source stream of key
    batches merges into a durable HLL whose estimate tracks the exact
    distinct count (max-merge makes replays exact)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomspark.sketches import HyperLogLog
    from bloomspark.streaming import load_sketch_state, streaming_sketch_build

    src = tmp_path / "keys_src"
    src.mkdir()
    hll = HyperLogLog(p=12)

    def write_batch(name, lo, hi):
        pq.write_table(
            pa.table({"key": pa.array([f"k{i}" for i in range(lo, hi)])}),
            str(src / name),
        )

    write_batch("b1.parquet", 0, 30_000)
    stream = spark.readStream.schema("key string").parquet(str(src))
    q = streaming_sketch_build(stream, "key", hll, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        st1 = load_sketch_state(hll, str(tmp_path / "ck"))
        est1 = hll.estimate(st1)
        assert abs(est1 - 30_000) / 30_000 < 3 * 1.04 / np.sqrt(2**12)
        # second batch overlaps the first: distinct only grows to 50k
        write_batch("b2.parquet", 20_000, 50_000)
        q.processAllAvailable()
        st2 = load_sketch_state(hll, str(tmp_path / "ck"))
        est2 = hll.estimate(st2)
        assert abs(est2 - 50_000) / 50_000 < 3 * 1.04 / np.sqrt(2**12)
    finally:
        q.stop()
    # config mismatch is rejected on resume
    with pytest.raises(ValueError):
        streaming_sketch_build(
            stream, "key", HyperLogLog(p=11), str(tmp_path / "ck")
        )


def test_grouped_hll_matches_per_group_builds(spark, lineitem):
    """Round-5: per-group sketches.  Each group's payload is
    byte-identical to a standalone build_sketch over that group's
    subset (state = pure function of the value multiset), estimates
    land within 3 sigma of exact per-group distincts, and the build is
    input-partitioning invariant."""
    from bloomspark.sketches import (
        HyperLogLog,
        build_sketch,
        build_sketch_per_group,
        sketch_values_per_group,
    )

    hll = HyperLogLog(p=12)
    grouped = build_sketch_per_group(
        lineitem, "l_returnflag", "l_orderkey", hll
    ).persist()
    payloads = {r["group"]: bytes(r["payload"]) for r in grouped.collect()}
    flags = [r[0] for r in lineitem.select("l_returnflag").distinct().collect()]
    assert set(payloads) == set(flags)

    for flag in flags:
        sub = lineitem.where(F.col("l_returnflag") == flag)
        solo = build_sketch(sub, "l_orderkey", hll)
        assert payloads[flag] == hll.serialize(solo.state), flag
        exact = sub.select("l_orderkey").distinct().count()
        est = hll.estimate(hll.deserialize(payloads[flag]))
        assert abs(est - exact) / exact <= 3 * hll.standard_error()

    vals = {
        r["group"]: r["value"]
        for r in sketch_values_per_group(grouped, hll).collect()
    }
    for flag in flags:
        assert vals[flag] == pytest.approx(
            hll.estimate(hll.deserialize(payloads[flag]))
        )

    other = build_sketch_per_group(
        lineitem.repartition(7), "l_returnflag", "l_orderkey", hll
    )
    assert {
        r["group"]: bytes(r["payload"]) for r in other.collect()
    } == payloads
    grouped.unpersist()


def test_grouped_tdigest_numeric_quantiles(spark, lineitem):
    """The grouped build generalizes to numeric sketches: per-group
    t-digest medians within the rank-error bound of exact."""
    from bloomspark.sketches import TDigest, build_sketch_per_group, sketch_values_per_group

    td = TDigest(delta=200)
    grouped = build_sketch_per_group(
        lineitem, "l_returnflag", "l_extendedprice", td
    )
    got = {
        r["group"]: r["value"]
        for r in sketch_values_per_group(
            grouped, td, method="quantile", args=(0.5,)
        ).collect()
    }
    for flag, want in (
        (r["l_returnflag"], r["med"])
        for r in lineitem.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("med"))
        .collect()
    ):
        lo, hi = (
            lineitem.where(F.col("l_returnflag") == flag)
            .agg(
                F.expr("percentile(l_extendedprice, 0.47)"),
                F.expr("percentile(l_extendedprice, 0.53)"),
            )
            .collect()[0]
        )
        assert lo <= got[flag] <= hi, (flag, got[flag], want)


def test_grouped_sketch_null_groups(spark):
    """Null group values build their own sketch (not a 'None' string
    group) — the same contract as the grouped Bloom builds."""
    from bloomspark.sketches import (
        HyperLogLog,
        build_sketch_per_group,
        sketch_values_per_group,
    )

    hll = HyperLogLog(p=12)
    rows = [("a", f"k{i}") for i in range(50)] + [
        (None, f"n{i}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    grouped = build_sketch_per_group(df, "g", "v", hll)
    got = {
        r["group"]: r["value"]
        for r in sketch_values_per_group(grouped, hll).collect()
    }
    assert set(got) == {"a", None}
    assert abs(got["a"] - 50) / 50 <= 3 * hll.standard_error()
    assert abs(got[None] - 30) / 30 <= 3 * hll.standard_error()


def test_sketch_rows_count_folded_values(spark, tmp_path):
    """``rows`` is the number of values folded into the state: on a
    numeric column with 25 NULLs in 100 rows the global, per-group and
    checkpointed builds all read 75, and every state equals the build
    over the 75 non-null rows."""
    from bloomspark.sketches import build_sketch_per_group

    df = spark.range(0, 100, 1, 3).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.when(F.col("id") % 4 == 0, F.lit(None))
        .otherwise(F.col("id").cast("double")).alias("v"),
    )
    kll = KLLSketch()
    glob = build_sketch(df, "v", kll)
    grouped = build_sketch_per_group(df, "g", "v", kll).collect()
    ck = build_sketch_checkpointed(df, "v", kll, str(tmp_path / "ck"), num_buckets=4)
    assert glob.rows == sum(r["rows"] for r in grouped) == ck.rows == 75
    assert sum(p["rows"] for p in glob.partials) == 75
    assert ck.quantile(0.0) == glob.quantile(0.0) == 1.0
    assert kll.serialize(glob.state) == kll.serialize(
        build_sketch(df.where(F.col("v").isNotNull()), "v", kll).state
    )


# --- Theta (KMV) sketch: set-operation cardinalities ------------------


def test_theta_exact_mode_set_ops(spark, lineitem):
    """With k above the true cardinality nothing is ever discarded
    (theta stays 2^64), so estimate/union/intersect/a_not_b are all
    EXACT — compared against Spark's own exact set algebra."""
    from bloomspark.sketches import ThetaSketch

    th = ThetaSketch(k=1 << 14)
    lo = lineitem.where(F.col("l_quantity") <= 25).select("l_orderkey")
    hi = lineitem.where(F.col("l_quantity") >= 20).select("l_orderkey")
    a = build_sketch(lo.repartition(5), "l_orderkey", th)
    b = build_sketch(hi.repartition(3), "l_orderkey", th)
    exact_a = lo.distinct().count()
    exact_b = hi.distinct().count()
    exact_and = lo.intersect(hi).count()
    exact_or = lo.union(hi).distinct().count()
    exact_not = lo.distinct().subtract(hi.distinct()).count()
    assert th.is_exact(a.state) and th.is_exact(b.state)
    assert a.estimate() == exact_a and b.estimate() == exact_b
    assert th.estimate(th.intersect(a.state, b.state)) == exact_and
    assert th.estimate(th.merge_states(a.state, b.state)) == exact_or
    assert th.estimate(th.a_not_b(a.state, b.state)) == exact_not


def test_theta_estimation_mode_bounds(spark):
    """k far below n: the bottom-k estimate lands within 5 relative
    standard errors (1/sqrt(k-2)) of exact, and the set-algebra
    identity |A∩B| + |A\\B| = |A| holds EXACTLY on the retained
    samples (all three share the same theta)."""
    from bloomspark.sketches import ThetaSketch

    th = ThetaSketch(k=1024)
    df = spark.range(0, 50_000, 1, 8).select(
        F.concat(F.lit("key:"), F.col("id")).alias("key")
    )
    h = build_sketch(df, "key", th)
    assert not th.is_exact(h.state)
    assert th.retained(h.state) == 1024
    rse = 1.0 / np.sqrt(1024 - 2)
    assert abs(h.estimate() - 50_000) / 50_000 < 5 * rse

    other = spark.range(25_000, 75_000, 1, 8).select(
        F.concat(F.lit("key:"), F.col("id")).alias("key")
    )
    g = build_sketch(other, "key", th)
    est_and = th.estimate(th.intersect(h.state, g.state))
    est_not = th.estimate(th.a_not_b(h.state, g.state))
    est_a = len(h.state.entries[
        h.state.entries < np.uint64(min(h.state.theta, g.state.theta))
    ]) * float(1 << 64) / min(h.state.theta, g.state.theta)
    assert est_and + est_not == pytest.approx(est_a)
    # and both land near truth (25k overlap): generous 10-sigma band,
    # deterministic hashes so this either always passes or never does
    assert abs(est_and - 25_000) / 25_000 < 10 * rse
    assert abs(est_not - 25_000) / 25_000 < 10 * rse


def test_theta_partition_invariance_and_serde(spark, lineitem):
    """Sorted-unique entries make the payload byte-deterministic
    across partitionings; deserialize rejects k/seed mismatches."""
    from bloomspark.sketches import ThetaSketch

    th = ThetaSketch(k=256)
    a = build_sketch(lineitem.repartition(3), "l_orderkey", th)
    b = build_sketch(lineitem.repartition(17), "l_orderkey", th)
    assert th.serialize(a.state) == th.serialize(b.state)
    rt = th.deserialize(th.serialize(a.state))
    assert rt.theta == a.state.theta
    assert np.array_equal(rt.entries, a.state.entries)
    with pytest.raises(ValueError, match="does not match"):
        ThetaSketch(k=512).deserialize(th.serialize(a.state))
    with pytest.raises(ValueError, match="does not match"):
        ThetaSketch(k=256, seed=7).deserialize(th.serialize(a.state))


# --- Misra-Gries frequent-items (heavy hitters) -----------------------


def test_frequent_exact_mode_top_k(spark, lineitem):
    """With k above the true distinct count no trim ever fires
    (error == 0), every count is exact, and top_k matches the exact
    GROUP BY ... ORDER BY count DESC (ties by key asc)."""
    from bloomspark.sketches import FrequentItemsSketch

    fs = FrequentItemsSketch(k=4096)
    h = build_sketch(lineitem.repartition(8), "l_partkey", fs)
    assert fs.is_exact(h.state)
    exact = {
        str(r["l_partkey"]): r["cnt"]
        for r in lineitem.groupBy("l_partkey").agg(F.count("*").alias("cnt")).collect()
    }
    assert fs.tracked(h.state) == len(exact)
    expect = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = h.top_k(20)
    assert [(item, lo) for item, lo, _hi in got] == expect
    assert all(lo == hi for _item, lo, hi in got)
    assert h.rows == lineitem.count()


def test_frequent_estimation_mode_bounds(spark):
    """k far below distinct: every stored count is a true lower bound,
    stored + error a true upper bound, error <= n/(k+1), and the real
    heavy hitters (items with count > n/(k+1)) are all present."""
    from bloomspark.sketches import FrequentItemsSketch

    # 64 heavy keys with ~1500 rows each + 100k singleton tail
    heavy = spark.range(0, 96_000, 1, 8).select(
        F.concat(F.lit("hot:"), (F.col("id") % 64)).alias("key")
    )
    tail = spark.range(0, 100_000, 1, 8).select(
        F.concat(F.lit("cold:"), F.col("id")).alias("key")
    )
    df = heavy.union(tail)
    fs = FrequentItemsSketch(k=256)
    h = build_sketch(df, "key", fs)
    n = 196_000
    assert not fs.is_exact(h.state)
    assert h.error_bound() <= n // (256 + 1) + 1
    assert fs.tracked(h.state) <= 256
    got = {item: (lo, hi) for item, lo, hi in h.top_k(256)}
    for i in range(64):
        item = f"hot:{i}"
        true = 1500
        assert item in got, f"heavy hitter {item} evicted"
        lo, hi = got[item]
        assert lo <= true <= hi
    # the top-64 by count must be exactly the hot keys
    top64 = [item for item, _lo, _hi in h.top_k(64)]
    assert all(t.startswith("hot:") for t in top64)


def test_frequent_merge_serde_and_exact_invariance(spark, lineitem):
    """Exact-mode states are partition-invariant (no trim -> plain
    counter adds, order-free) and byte-deterministic; deserialize
    rejects k/seed mismatches; estimate() finds single keys."""
    from bloomspark.sketches import FrequentItemsSketch

    fs = FrequentItemsSketch(k=4096)
    a = build_sketch(lineitem.repartition(3), "l_partkey", fs)
    b = build_sketch(lineitem.repartition(17), "l_partkey", fs)
    assert fs.serialize(a.state) == fs.serialize(b.state)
    rt = fs.deserialize(fs.serialize(a.state))
    assert np.array_equal(rt.hashes, a.state.hashes)
    assert np.array_equal(rt.counts, a.state.counts)
    assert rt.items == a.state.items and rt.n == a.state.n
    exact = {
        str(r["l_partkey"]): r["cnt"]
        for r in lineitem.groupBy("l_partkey").agg(F.count("*").alias("cnt")).collect()
    }
    some = sorted(exact)[:5]
    for key in some:
        assert fs.estimate(a.state, key) == exact[key]
    assert fs.estimate(a.state, "no-such-key") == 0.0
    with pytest.raises(ValueError, match="does not match"):
        FrequentItemsSketch(k=512).deserialize(fs.serialize(a.state))
    with pytest.raises(ValueError, match="does not match"):
        FrequentItemsSketch(k=4096, seed=7).deserialize(fs.serialize(a.state))


def test_frequent_topk_per_group_exact_vs_window(spark):
    """Grouped heavy hitters: per-lang top-2 sources over documents,
    exact mode (distinct sources per group << k), compared against
    Spark's own window-function answer with the same tie-break."""
    from pyspark.sql import Window

    from bloomspark.sketches import (
        FrequentItemsSketch,
        build_sketch_per_group,
        frequent_topk_per_group,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fs = FrequentItemsSketch(k=256)
    grouped = build_sketch_per_group(docs, "lang", "source", fs)
    got = frequent_topk_per_group(grouped, fs, n=2)
    got_rows = {
        (r["group"], r["item"], r["count_lower"], r["rank"])
        for r in got.collect()
    }
    assert all(r["count_lower"] == r["count_upper"] for r in got.collect())
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("source").asc()
    )
    want = (
        docs.groupBy("lang", "source")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
    )
    want_rows = {
        (r["lang"], r["source"], r["cnt"], r["rank"]) for r in want.collect()
    }
    assert got_rows == want_rows


def test_cms_inner_product_bounds_and_exactness():
    """Inner product = exact sum f_A*f_B when row hashes are
    collision-free; always >= exact; within the eps*N_A*N_B bound on a
    colliding configuration too."""
    import numpy as np

    from bloomspark.hashing import as_keys
    from bloomspark.sketches.cms import CountMinSketch

    s = CountMinSketch(width=1 << 14, depth=4)
    a, b = s.new_state(), s.new_state()
    s.update(a, as_keys([str(i % 100) for i in range(1000)]))   # f_A = 10
    s.update(b, as_keys([str(i % 150) for i in range(600)]))    # f_B = 4
    exact = 100 * 10 * 4  # shared keys 0..99
    est = s.inner_product(a, b)
    assert exact <= est <= exact + s.inner_product_bound(a, b)

    # a deliberately tiny width forces collisions: bound still holds
    t = CountMinSketch(width=32, depth=4)
    ta, tb = t.new_state(), t.new_state()
    t.update(ta, as_keys([str(i % 100) for i in range(1000)]))
    t.update(tb, as_keys([str(i % 150) for i in range(600)]))
    est2 = t.inner_product(ta, tb)
    assert exact <= est2 <= exact + t.inner_product_bound(ta, tb)

    with pytest.raises(ValueError):
        s.inner_product(a, t.new_state())


def test_estimate_join_size_matches_exact_join(spark):
    """estimate_join_size equals the true join cardinality on a
    small-domain key (collision-free rows), and never under-estimates
    on a wide-domain key."""
    from bloomspark.join import estimate_join_size

    left = spark.range(3000).select(
        (F.col("id") % 7).cast("string").alias("k")
    )
    right = spark.range(2000).select(
        (F.col("id") % 5).cast("string").alias("k")
    )
    exact = left.join(right, "k").count()
    est, bound = estimate_join_size(left, "k", right, "k")
    assert est == exact  # 7 and 5 distinct keys in 2^16 cells

    wide_l = spark.range(20000).select((F.col("id") % 3001).cast("string").alias("k"))
    wide_r = spark.range(15000).select((F.col("id") % 2003).cast("string").alias("k"))
    wexact = wide_l.join(wide_r, "k").count()
    west, wbound = estimate_join_size(wide_l, "k", wide_r, "k", width=1 << 12)
    assert wexact <= west <= wexact + wbound
