"""Distributed Bloom filter construction on Spark.

The Spark replacement for the reference's Redis distribution layer
(/root/reference/src/main/java/orestes/bloomfilter/redis/*): instead of
one shared mutable bit array behind WATCH/MULTI transactions
(RedisBitSet.java:36-100, CountingBloomFilterRedis.java:114-156), each
partition builds an immutable local bitset from its Arrow batches and
the partials are OR-merged associatively — Spark's partial/final
aggregation shape, realized with ``mapInArrow`` (partials) + the
``applyInArrow`` tree merge of partials.py (final), because PySpark has
no native binary-reducing UDAF over opaque state.

Everything stays vectorized: Arrow batch -> numpy hash matrix ->
bool-array scatter -> ``np.packbits``.  No per-row Python anywhere in
the hot path (the Spark analog of the reference's pipelined bulk ops,
redis/BloomFilterRedis.java:51-97).

Scale notes (100 TB / 1000-executor design):
- Partials are 1 row x (m/8) bytes per partition.  Driver collect of P
  partials is P*m/8 bytes; above ``tree_merge_threshold`` partitions the
  build inserts a shuffle-light two-level merge (P -> G -> 1) so the
  driver sees one row.
- The plain build needs NO shuffle at all: any row may land in any
  partition, so we never repartition unless asked.
- Per-group (e.g. per-repo) builds are map-side partials per (partition,
  group), exposed in grouped.py.
"""

from __future__ import annotations

import time
from typing import Optional

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .counting import CountingBloomFilter, counter_dtype
from .filter import BloomFilter
from .params import FilterConfig
from .partials import (
    DEFAULT_TREE_MERGE_GROUPS,
    BloomFeed,
    CountingFeed,
    add_counting_payload,
    bloom_kernel,
    collect_rows,
    counting_kernel,
    map_stage1,
    merge_bloom_payloads,
    place_build_input,
    spread_repartition,  # noqa: F401 — re-exported for callers of build
    tree_merge,
)

PARTIAL_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("rows", pa.int64()),
        ("ones", pa.int64()),
        ("fingerprint", pa.int64()),
        ("t_ms", pa.float64()),
        ("kind", pa.string()),
        ("bitset", pa.binary()),
    ]
)

COUNTING_PARTIAL_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("rows", pa.int64()),
        ("nonzero", pa.int64()),
        ("overflows", pa.int64()),
        ("fingerprint", pa.int64()),
        ("t_ms", pa.float64()),
        ("kind", pa.string()),
        ("counters", pa.binary()),
    ]
)


def key_column(col: str, cast: bool = True) -> Column:
    """Normalize the key column: everything hashes as its string form,
    like the reference's toString()-based toBytes."""
    c = F.col(col)
    return c.cast("string") if cast else c


def reserve_probe_cols(
    df: DataFrame,
    out_col: str,
    *,
    exact: tuple = (),
    prefix: str | None = None,
    tier: str = "probe",
) -> None:
    """Probe paths stage fixed-name temp columns on the probe df and
    append ``out_col``; a caller column with one of those names would be
    silently clobbered (withColumn) or duplicated (select) — refuse
    loudly.  Shared contract of the fast (``prefix='__f'``) and sharded
    (``exact=('__key', '__shard')``) tiers."""
    clash = [
        c
        for c in df.columns
        if c == out_col
        or c in exact
        or (prefix is not None and c.startswith(prefix))
    ]
    if clash:
        parts = [f"out_col {out_col!r}"]
        if exact:
            parts.append("/".join(repr(e) for e in exact))
        if prefix is not None:
            parts.append(f"the {prefix!r}* temp prefix")
        raise ValueError(
            f"column(s) {clash} collide with the {tier} probe's reserved "
            f"names ({' and '.join(parts)}); rename or drop them before "
            "probing"
        )


def build_partials(df: DataFrame, col: str, config: FilterConfig) -> DataFrame:
    """Per-partition partial bitsets as a DataFrame (the map-side combine).

    One output row per input partition:
    ``(part_id, rows, ones, fingerprint, t_ms, kind, bitset)``.
    """
    keyed = df.select(key_column(col).alias("__key"))
    return map_stage1(keyed, PARTIAL_SCHEMA, BloomFeed(config))


def merge_partial_rows(rows, config: FilterConfig) -> BloomFilter:
    """Driver-side final merge of collected partial rows."""
    acc = merge_bloom_payloads(
        [r["kind"] for r in rows], [r["bitset"] for r in rows], config
    )
    return BloomFilter(config, acc)


def _merged_bloom_partials(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    num_partitions: Optional[int] = None,
    tree_merge_threshold: Optional[int] = None,
    tree_merge_groups: int = DEFAULT_TREE_MERGE_GROUPS,
) -> DataFrame:
    """The partials a bloom build collects: one per input partition, or
    ONE after the executor tree merge."""
    df, n_parts = place_build_input(df, col, num_partitions)
    return tree_merge(
        build_partials(df, col, config), n_parts, config.num_bytes,
        bloom_kernel(config), PARTIAL_SCHEMA,
        tree_merge_threshold, tree_merge_groups,
    )


def build_bloom_report(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    **kwargs,
):
    """build_bloom + a metrics/lineage report dict: wall time, rows,
    ones, per-collected-partial metrics (per input partition when no
    tree merge ran, the one merged partial otherwise), throughput."""
    t0 = time.time()
    rows = collect_rows(_merged_bloom_partials(df, col, config, **kwargs))
    bf = merge_partial_rows(rows, config)
    wall = time.time() - t0
    total_rows = int(sum(r["rows"] for r in rows))
    report = {
        "wall_sec": wall,
        "rows": total_rows,
        "rows_per_sec": total_rows / wall if wall > 0 else None,
        "ones": bf.cardinality(),
        "fill_ratio": bf.cardinality() / config.m,
        "estimated_population": bf.get_estimated_population(),
        "config": config.to_dict(),
        "partials": [
            {
                "part_id": r["part_id"],
                "rows": r["rows"],
                "ones": r["ones"],
                "fingerprint": r["fingerprint"],
                "t_ms": r["t_ms"],
                "kind": r["kind"],
            }
            for r in rows
        ],
    }
    return bf, report


def build_bloom(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    *,
    num_partitions: Optional[int] = None,
    tree_merge_threshold: Optional[int] = None,
    tree_merge_groups: int = DEFAULT_TREE_MERGE_GROUPS,
) -> BloomFilter:
    """Build a Bloom filter over ``df[col]`` distributed.

    Lifecycle (SURVEY.md §3.1): scan -> select key (column pruning pushes
    to the source) -> mapInArrow partials -> [executor tree merge when the
    partials would swamp the driver] -> driver OR-merge.  No shuffle in
    the default path; the tree merge shuffles only P partial rows.
    """
    partials = _merged_bloom_partials(
        df, col, config, num_partitions, tree_merge_threshold, tree_merge_groups
    )
    return merge_partial_rows(collect_rows(partials), config)


# ---------------------------------------------------------------------------
# Counting build
# ---------------------------------------------------------------------------


def build_counting_partials(
    df: DataFrame, col: str, config: FilterConfig, weight: int = 1
) -> DataFrame:
    """Per-partition counting partials: one
    ``(part_id, rows, nonzero, overflows, fingerprint, t_ms, kind,
    counters)`` row per input partition, each count times ``weight``."""
    keyed = df.select(key_column(col).alias("__key"))
    return map_stage1(keyed, COUNTING_PARTIAL_SCHEMA, CountingFeed(config, weight))


def _merged_counting_partials(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    num_partitions: Optional[int] = None,
    tree_merge_threshold: Optional[int] = None,
    tree_merge_groups: int = DEFAULT_TREE_MERGE_GROUPS,
) -> DataFrame:
    """The partials a counting build collects.  The tree merge runs
    THROUGH the hybrid accumulator: sparse inputs merge sparsely (no
    m-sized array at extended m) and each merged partial re-chooses the
    smaller wire form."""
    df, n_parts = place_build_input(df, col, num_partitions)
    return tree_merge(
        build_counting_partials(df, col, config), n_parts,
        config.m * counter_dtype(config.counting_bits).itemsize,
        counting_kernel(config, sparse=True), COUNTING_PARTIAL_SCHEMA,
        tree_merge_threshold, tree_merge_groups,
    )


def build_counting(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    *,
    num_partitions: Optional[int] = None,
    tree_merge_threshold: Optional[int] = None,
    tree_merge_groups: int = DEFAULT_TREE_MERGE_GROUPS,
    max_driver_bytes: int = 4 << 30,
) -> CountingBloomFilter:
    """Distributed counting-filter build: per-partition uint counters,
    merged by element-wise saturating add (associative & commutative up
    to saturation — the extension that makes the counting filter
    distributable; see counting.py module docstring).

    The partials and their tree merge stay m-free (sparse wire kinds),
    but the RETURN TYPE is a driver-held ``CountingBloomFilter`` whose
    counter array is m x dtype bytes.  Rather than dying by OOM deep in
    numpy at huge extended m (2^33 slots x 16-bit = 16 GiB), the build
    refuses up front when that allocation would exceed
    ``max_driver_bytes`` (default 4 GiB) and points at the tiers that
    never materialize a driver array."""
    counters_bytes = config.m * counter_dtype(config.counting_bits).itemsize
    if counters_bytes > max_driver_bytes:
        raise ValueError(
            f"build_counting would allocate a {counters_bytes / 2**30:.1f} "
            f"GiB driver-side counter array (m={config.m}, "
            f"{config.counting_bits}-bit counters), over the "
            f"max_driver_bytes limit of {max_driver_bytes / 2**30:.1f} GiB. "
            "At this scale keep the counters distributed in the sharded "
            "counting tier (build_sharded_counting + "
            "with_sharded_estimated_count). Pass max_driver_bytes to raise the "
            "limit if the driver really has the memory."
        )
    rows = collect_rows(_merged_counting_partials(
        df, col, config, num_partitions, tree_merge_threshold, tree_merge_groups
    ))
    cbf = CountingBloomFilter(config)
    total_over = 0
    for row in rows:
        add_counting_payload(
            cbf.counters, row.get("kind", "cdense"), row["counters"], config,
            cbf._on_overflow,
        )
        total_over += int(row["overflows"])
    cbf._overflows += total_over
    return cbf


def build_counting_with_removals(
    adds: DataFrame,
    removes: DataFrame,
    col: str,
    config: FilterConfig,
) -> CountingBloomFilter:
    """Distributed remove (SURVEY.md §3.3): removals aggregate into a
    second counter sketch subtracted (floored at 0) from the adds sketch
    — merge order is irrelevant by associativity, so no transactional
    machinery is needed (vs. redis/CountingBloomFilterRedis.java:119-156)."""
    added = build_counting(adds, col, config)
    removed = build_counting(removes, col, config)
    return added.subtract(removed)
