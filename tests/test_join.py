"""Bloom-pruned joins (bloomspark/join.py): the prune is conservative,
so the pruned join must be EXACTLY the plain join — every test here is
an equality against Spark's own unpruned join on the same inputs."""

import pytest
from pyspark.sql import functions as F

from bloomspark.join import bloom_prune_join, bloom_semi_filter


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def urgent(orders):
    # ~20% of orders: a realistic dimension-side selectivity
    return orders.where(F.col("o_orderpriority") == "1-URGENT")


def test_inner_join_equals_plain_join(lineitem, orders, urgent):
    pruned = bloom_prune_join(
        lineitem, urgent, ("l_orderkey", "o_orderkey"), p=0.01
    ).select("l_orderkey", "l_quantity", "o_orderpriority")
    plain = lineitem.join(
        urgent, lineitem["l_orderkey"] == urgent["o_orderkey"]
    ).select("l_orderkey", "l_quantity", "o_orderpriority")
    assert _rows(pruned) == _rows(plain)


def test_left_semi_equals_plain_semi(lineitem, urgent):
    pruned = bloom_prune_join(
        lineitem, urgent, ("l_orderkey", "o_orderkey"), how="left_semi", p=0.05
    ).select("l_orderkey", "l_linenumber")
    plain = lineitem.join(
        urgent, lineitem["l_orderkey"] == urgent["o_orderkey"], "left_semi"
    ).select("l_orderkey", "l_linenumber")
    assert _rows(pruned) == _rows(plain)


def test_same_name_key_merges_column(spark):
    big = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1000)], "key long, val string"
    )
    small = spark.createDataFrame(
        [(i, f"s{i}") for i in range(0, 1000, 7)], "key long, tag string"
    )
    out = bloom_prune_join(big, small, "key")
    assert out.columns == ["key", "val", "tag"]
    plain = big.join(small, on="key")
    assert _rows(out) == _rows(plain)


def test_duplicate_and_null_keys(spark):
    # dup keys on both sides multiply out exactly as in the plain join;
    # null keys never match even though the probe hashes null as ""
    big = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), (None, 4), ("z", 5)],
        "key string, v int",
    )
    small = spark.createDataFrame(
        [("a", 10), ("a", 20), (None, 30)], "key string, w int"
    )
    out = bloom_prune_join(big, small, "key")
    plain = big.join(small, on="key")
    assert _rows(out) == _rows(plain)
    assert len(_rows(out)) == 4  # a×a only


def test_distributed_filter_mode(lineitem, urgent, monkeypatch):
    """Filters over DRIVER_FILTER_MAX_BYTES go to the sharded tier: with
    the limit at 0 every filter takes that path, and the plan shows the
    shard cogroup probe, not a native words build."""
    monkeypatch.setattr("bloomspark.join.DRIVER_FILTER_MAX_BYTES", 0)
    pruned = bloom_prune_join(
        lineitem, urgent, ("l_orderkey", "o_orderkey"), p=0.01
    ).select("l_orderkey", "o_orderkey")
    executed = pruned._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in executed
    assert "bit_or" not in pruned._jdf.queryExecution().optimizedPlan().toString()
    plain = lineitem.join(
        urgent, lineitem["l_orderkey"] == urgent["o_orderkey"]
    ).select("l_orderkey", "o_orderkey")
    assert _rows(pruned) == _rows(plain)


def test_semi_filter_is_conservative_superset(spark):
    big = spark.createDataFrame(
        [(f"k{i}", i) for i in range(5000)], "key string, v int"
    )
    small = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 5000, 50)], "key string"
    )
    kept = bloom_semi_filter(big, "key", small, p=0.01)
    kept_keys = {r["key"] for r in kept.select("key").collect()}
    true_keys = {f"k{i}" for i in range(0, 5000, 50)}
    assert true_keys <= kept_keys  # no false negatives, ever
    # false positives bounded: ~p of the 4900 non-members, with slack
    assert len(kept_keys - true_keys) <= 0.05 * 4900


def test_n_build_skips_count_and_unsupported_how_raises(spark):
    big = spark.createDataFrame([(1, "x")], "key long, v string")
    small = spark.createDataFrame([(1,)], "key long")
    out = bloom_prune_join(big, small, "key", n_build=10)
    assert out.count() == 1
    with pytest.raises(ValueError, match="cannot be bloom-pruned"):
        bloom_prune_join(big, small, "key", how="left_outer")
    with pytest.raises(ValueError, match="composite"):
        bloom_prune_join(big, small, ("a", "b", "c"))


def test_prune_plan_is_native_and_prunes_before_join(lineitem, urgent):
    """The probe stage must be codegen'd broadcast joins (no Python
    workers) with the member filter applied BEFORE the exact join."""
    out = bloom_prune_join(lineitem, urgent, ("l_orderkey", "o_orderkey"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInArrow" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


from hypothesis import given, settings, strategies as st  # noqa: E402

_KEYS = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FFF),
        max_size=16,
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=5, deadline=None)
@given(big_keys=_KEYS, small_keys=_KEYS)
def test_prune_join_equality_property(spark, big_keys, small_keys):
    """For ARBITRARY unicode key multisets (guaranteed overlap: half the
    big side is appended to the small side), the pruned join equals the
    plain join — the conservative-prune contract end to end through the
    native hash, the blocked probe and the exact join."""
    small_keys = small_keys + big_keys[: len(big_keys) // 2]
    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate(big_keys)], "key string, v int"
    )
    small = spark.createDataFrame(
        [(k, j) for j, k in enumerate(small_keys)], "key string, w int"
    )
    out = bloom_prune_join(big, small, "key", p=0.05)
    plain = big.join(small, on="key")
    assert _rows(out) == _rows(plain)


def test_prune_join_auto_extends_past_sizing_cap(spark):
    """A dimension whose optimal m exceeds 2^31 at the requested p must
    not abort the prune — past DRIVER_FILTER_MAX_BYTES the filter goes
    to the sharded tier (64 shards sized for n/64 keys each); the
    result is still exactly the plain join.  The oversized n_build is
    deliberate: ~1.2 GB of shard bitsets, an accepted cost of the
    sharded route (BASELINE.md "Measured decision: one collected build,
    one never-collected tier")."""
    big = spark.range(5_000).select(
        (F.col("id") % 1_000).alias("k"), (F.col("id") % 7).alias("v")
    )
    small = spark.range(0, 1_000, 3).select(F.col("id").alias("k"))
    # n_build forced huge -> optimal m ~ 9.6e9 > 2^31: sharded path
    joined = bloom_prune_join(big, small, "k", n_build=1_000_000_000, p=0.01)
    expected = big.join(small, "k").count()
    assert joined.count() == expected


def test_prune_join_plan_construction_launches_no_jobs(spark, monkeypatch):
    """Round-5 item 4: constructing the bloom-pruned-join plan with the
    distributed filter (DRIVER_FILTER_MAX_BYTES at 0) launches ZERO
    driver jobs — the filter is sized by DEFAULT_EXPECTED_N (Spark's own
    runtime-bloom-filter trade), not a count() of the small side; same
    for the grouped probe's auto strategy when n_groups is hinted."""
    big = spark.range(0, 5000).selectExpr("id AS key", "id * 2 AS v")
    small = spark.range(0, 100).selectExpr("id AS key")
    monkeypatch.setattr("bloomspark.join.DRIVER_FILTER_MAX_BYTES", 0)
    sc = spark.sparkContext
    sc.setJobGroup("plan-only", "plan construction must be lazy")
    try:
        plan = bloom_prune_join(big, small, "key")
        from bloomspark.grouped import (
            build_bloom_per_group,
            with_group_membership,
        )
        from bloomspark import FilterConfig

        cfg = FilterConfig.complete(n=100, p=0.01)
        grouped = build_bloom_per_group(
            big.selectExpr("key", "pmod(key, 4) AS g"), "g", "key", cfg
        )
        # auto + n_groups hint resolves the strategy with zero jobs
        # (cogroup keeps the whole probe lazy; the broadcast plan's
        # toPandas collect is inherent to that strategy, not a count)
        probed = with_group_membership(
            big.selectExpr("key", "pmod(key, 4) AS g"), "g", "key",
            grouped, cfg, strategy="auto", n_groups=4,
            max_broadcast_bytes=1,
        )
        assert list(sc.statusTracker().getJobIdsForGroup("plan-only")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the deferred plans still compute correctly when acted on
    assert plan.count() == 100
    assert probed.where("member").count() == 5000


def test_semi_filter_warns_on_saturated_filter(spark):
    """ADVICE r5: a build side far above the sized n saturates the
    filter and the prune becomes pure overhead — the driver-mode build
    must emit a RuntimeWarning (the answer stays exact regardless); a
    correctly-sized filter stays quiet."""
    import warnings

    big = spark.range(100).select(F.col("id").alias("key"))
    small = spark.range(5000).select(F.col("id").alias("key"))
    with pytest.warns(RuntimeWarning, match="Pass n_build"):
        out = bloom_semi_filter(big, "key", small, n_build=10, p=0.01)
    # conservative superset still holds on the saturated filter
    assert out.count() == 100
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        bloom_semi_filter(big, "key", small, n_build=5000, p=0.01).count()


# --- sharded prune join: both sides huge, filter never collected ------


def test_sharded_prune_join_equals_plain_join(lineitem, urgent):
    from bloomspark.join import sharded_prune_join

    pruned = sharded_prune_join(
        lineitem, urgent, ("l_orderkey", "o_orderkey"), p=0.01,
        num_shards=8, n_build=2000,
    ).select("l_orderkey", "l_quantity", "o_orderpriority")
    plain = lineitem.join(
        urgent, lineitem["l_orderkey"] == urgent["o_orderkey"]
    ).select("l_orderkey", "l_quantity", "o_orderpriority")
    assert _rows(pruned) == _rows(plain)


def test_sharded_prune_join_same_name_and_semi(spark):
    from bloomspark.join import sharded_prune_join

    big = spark.createDataFrame(
        [(i, f"v{i}") for i in range(2000)], "key long, val string"
    )
    small = spark.createDataFrame(
        [(i, f"s{i}") for i in range(0, 2000, 13)], "key long, tag string"
    )
    out = sharded_prune_join(big, small, "key", num_shards=4, n_build=160)
    assert out.columns == ["key", "val", "tag"]
    assert _rows(out) == _rows(big.join(small, on="key"))
    semi = sharded_prune_join(
        big, small, "key", how="left_semi", num_shards=4, n_build=160
    )
    assert _rows(semi) == _rows(big.join(small, "key", "left_semi"))
    with pytest.raises(ValueError, match="cannot be bloom-pruned"):
        sharded_prune_join(big, small, "key", how="left_outer")


def test_sharded_semi_filter_conservative_superset(spark):
    from bloomspark.join import sharded_semi_filter

    big = spark.createDataFrame(
        [(f"k{i}", i) for i in range(5000)], "key string, v int"
    )
    small = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 5000, 50)], "key string"
    )
    kept = sharded_semi_filter(
        big, "key", small, p=0.01, num_shards=4, n_build=100
    )
    kept_keys = {r["key"] for r in kept.select("key").collect()}
    true_keys = {f"k{i}" for i in range(0, 5000, 50)}
    assert true_keys <= kept_keys  # no false negatives, ever
    assert len(kept_keys - true_keys) <= 0.05 * 4900


def test_sharded_prune_plan_cogroups_no_cartesian(spark):
    """The probe is ONE cogroup (both sides shuffle once on the shard
    id) feeding the exact join — never a cartesian, never a per-row
    bitset column; and plan construction with n_build launches zero
    driver jobs (DEFAULT_EXPECTED_N path when omitted)."""
    from bloomspark.join import sharded_prune_join

    big = spark.range(0, 5000).selectExpr("id AS key", "id * 2 AS v")
    small = spark.range(0, 100).selectExpr("id AS key")
    sc = spark.sparkContext
    sc.setJobGroup("sharded-plan-only", "plan construction must be lazy")
    try:
        out = sharded_prune_join(big, small, "key", num_shards=4)
        assert list(
            sc.statusTracker().getJobIdsForGroup("sharded-plan-only")
        ) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert out.count() == 100
