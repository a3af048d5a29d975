"""The traced run's layer suite: one timed call into each bloomspark layer
on the workload's own inputs, plus the isolation calls that give each
layer its floor (a key scan into Spark's ``noop`` sink, the driver-side
kernels, and an Arrow UDF that does no work).

Untraced runs never execute this module.  Every call here runs inside a
span, so the traced run's self time per layer includes it.
"""

from __future__ import annotations

import statistics

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import bloomspark as bs
from bloomspark.build import merge_partial_rows
from bloomspark.hashing import Keys

from .workloads import P_TARGET, checkpoint, noop_udf

#: Keys hashed and tested by the driver-side kernels.
DRIVER_KEYS = 1_000_000
#: Partitions of the global builds keyed on the group column (the hot-key
#: path: spread_repartition puts every row of one key in one partition).
HOT_PARTITIONS = 8
SHARDS = 16

UNITS = {
    "hashing.murmur3km_s": "s", "hashing.md5_s": "s",
    "filter.contains_s": "s", "filter.fill_ratio": "ratio",
    "build.scan_s": "s", "build.partials_s": "s", "build.merge_s": "s",
    "build.partial_bytes": "bytes", "build.partials": "count",
    "build.hot_key_s": "s", "build.hot_key_counting_s": "s",
    "build.partition_rows_max_over_median": "ratio",
    "build.partition_t_ms_max_over_median": "ratio",
    "probe.membership_s": "s", "probe.arrow_noop_s": "s",
    "grouped.bloom_build_s": "s", "grouped.counting_build_s": "s",
    "grouped.membership_s": "s", "grouped.estimated_count_s": "s",
    "grouped.filter_bytes": "bytes",
    "sharded.batch_build_s": "s", "sharded.merge_s": "s",
    "sharded.subtract_s": "s", "sharded.estimated_count_s": "s",
    "sharded.state_bytes": "bytes",
    "counting.nonzero_share": "ratio",
}


def noop_sink(df: DataFrame) -> None:
    """Run ``df`` to completion and discard the rows (no disk I/O)."""
    df.write.format("noop").mode("overwrite").save()


def _max_over_median(values) -> float:
    return max(values) / statistics.median(values)


def layer_suite(spark, li, ops) -> dict:
    """Run every layer's calls on ``li`` (a workloads.LayerInputs) and
    return the per-layer metrics as ``{name: {"value", "unit"}}``."""
    call = ops.call
    out = {}
    keys = li.keys
    cfg = bs.FilterConfig.complete(n=li.distinct_keys, p=P_TARGET,
                                   hash_method=li.hash_method)

    # -- driver-side kernels ---------------------------------------------
    table, _ = call("bench.collect_keys", "bench",
                    lambda: keys.select("key").limit(DRIVER_KEYS).toArrow())
    driver_keys = Keys.from_arrow(table.column("key").combine_chunks())
    for method, name in (("Murmur3KirschMitzenmacher", "murmur3km"), ("MD5", "md5")):
        _, out[f"hashing.{name}_s"] = call(
            f"hashing.hash_positions[{method}]", "hashing",
            lambda: bs.hash_positions(driver_keys, cfg.m, cfg.k, method))

    # -- global build, layer by layer -------------------------------------
    _, out["build.scan_s"] = call(
        "build.scan_noop", "build",
        lambda: noop_sink(keys.select(F.col("key").cast("string").alias("__key"))))
    _, out["build.partials_s"] = call(
        "build.build_partials_noop", "build",
        lambda: noop_sink(bs.build_partials(keys, "key", cfg)))
    rows, _ = call("build.collect_partials", "build",
                   lambda: bs.build_partials(keys, "key", cfg).toPandas().to_dict("records"))
    bf, out["build.merge_s"] = call("build.merge_partial_rows", "build",
                                    lambda: merge_partial_rows(rows, cfg))
    out["build.partial_bytes"] = sum(len(r["bitset"]) for r in rows)
    out["build.partials"] = len(rows)
    _, out["filter.contains_s"] = call(
        "filter.contains_all", "filter", lambda: bf.contains_all(driver_keys),
        lambda hits: bool(hits.all()))
    out["filter.fill_ratio"] = bf.cardinality() / cfg.m
    _, out["probe.membership_s"] = call(
        "probe.with_membership_noop", "probe",
        lambda: noop_sink(bs.with_membership(li.probe, "key", bf)))
    noop = noop_udf()
    _, out["probe.arrow_noop_s"] = call(
        "probe.arrow_noop", "probe",
        lambda: noop_sink(li.probe.withColumn("member", noop(F.col("key")))))

    # -- global builds keyed on the group column (hot key when skewed) -----
    hcfg = bs.FilterConfig.complete(n=li.groups, p=P_TARGET)
    hccfg = bs.FilterConfig.complete(n=li.groups, p=P_TARGET, counting_bits=32)
    _, out["build.hot_key_s"] = call(
        "build.build_bloom[num_partitions]", "build",
        lambda: bs.build_bloom(keys, "group", hcfg, num_partitions=HOT_PARTITIONS))
    _, out["build.hot_key_counting_s"] = call(
        "build.build_counting[num_partitions]", "build",
        lambda: bs.build_counting(keys, "group", hccfg, num_partitions=HOT_PARTITIONS))
    (_, report), _ = call(
        "build.build_bloom_report", "build",
        lambda: bs.build_bloom_report(keys, "group", hcfg, num_partitions=HOT_PARTITIONS))
    parts = report["partials"]
    out["build.partition_rows_max_over_median"] = _max_over_median([p["rows"] for p in parts])
    out["build.partition_t_ms_max_over_median"] = _max_over_median([p["t_ms"] for p in parts])

    # -- per-group filters -------------------------------------------------
    gcfg = bs.FilterConfig.complete(n=li.keys_per_group, p=P_TARGET,
                                    hash_method=li.hash_method)
    gb, out["grouped.bloom_build_s"] = call(
        "grouped.build_bloom_per_group", "grouped",
        lambda: checkpoint(bs.build_bloom_per_group(keys, "group", "key", gcfg)))
    gc, out["grouped.counting_build_s"] = call(
        "grouped.build_counting_per_group", "grouped",
        lambda: checkpoint(bs.build_counting_per_group(keys, "group", "key", gcfg)))
    # the build keys probe as present: no row may read False or 0
    _, out["grouped.membership_s"] = call(
        "grouped.with_group_membership", "grouped",
        lambda: bs.with_group_membership(keys, "group", "key", gb, gcfg, n_groups=li.groups)
        .agg(F.sum((~F.col("member")).cast("long"))).collect()[0][0],
        lambda misses: misses == 0)
    _, out["grouped.estimated_count_s"] = call(
        "grouped.with_group_estimated_count", "grouped",
        lambda: bs.with_group_estimated_count(keys, "group", "key", gc, gcfg,
                                              n_groups=li.groups)
        .agg(F.sum((F.col("est_count") < 1).cast("long"))).collect()[0][0],
        lambda misses: misses == 0)
    sizes = gb.agg(F.sum(F.length("bitset"))).collect()[0][0]
    out["grouped.filter_bytes"] = int(sizes)
    nonzero = gc.agg(F.sum("nonzero"), F.count(F.lit(1))).collect()[0]
    out["counting.nonzero_share"] = nonzero[0] / (nonzero[1] * gcfg.m)

    # -- sharded counting: add a batch, subtract it again, probe -----------
    scfg = bs.FilterConfig.complete(n=max(li.distinct_keys // SHARDS, 1), p=P_TARGET,
                                    hash_method=li.hash_method)
    sk, out["sharded.batch_build_s"] = call(
        "sharded.build_sharded_counting", "sharded",
        lambda: checkpoint(bs.build_sharded_counting(keys, "key", scfg, num_shards=SHARDS)))
    merged, out["sharded.merge_s"] = call(
        "sharded.merge_sharded_counting", "sharded",
        lambda: checkpoint(bs.merge_sharded_counting(sk, sk, scfg)))

    def counters(df):
        pdf = df.select("shard", "counters").toPandas()
        return {int(s): bytes(c) for s, c in zip(pdf["shard"], pdf["counters"])}

    state, out["sharded.subtract_s"] = call(
        "sharded.subtract_sharded_counting", "sharded",
        lambda: checkpoint(bs.subtract_sharded_counting(merged, sk, scfg)),
        lambda st: counters(st) == counters(sk))
    _, out["sharded.estimated_count_s"] = call(
        "sharded.with_sharded_estimated_count", "sharded",
        lambda: bs.with_sharded_estimated_count(li.probe, "key", state, scfg,
                                                num_shards=SHARDS)
        .agg(F.sum((F.col("present") & (F.col("est_count") < 1)).cast("long")))
        .collect()[0][0],
        lambda misses: misses == 0)
    out["sharded.state_bytes"] = int(state.agg(F.sum(F.length("counters"))).collect()[0][0])
    for df in (gb, gc, sk, merged, state):
        df.unpersist()
    return {k: {"value": v, "unit": UNITS[k]} for k, v in out.items()}
