"""Sharded Bloom filters: the scale tier where ONE filter no longer fits.

At 10^12 keys / p=0.01 a single filter needs ~10^13 bits (1.25 TB) —
too big for any driver or broadcast, extended-m or not.  The sharded
form keeps the filter AS A DATAFRAME: shard s owns the keys with
``pmod(xxhash64(key), S) == s`` and holds an independent bitset sized
for n/S keys.  Nothing is ever collected:

- **build** = the salted per-group build (grouped.py) with the shard id
  as the group — one shuffle of (key, shard), bitsets stay distributed;
- **probe** = co-partition probes and shards on the shard id and test
  each partition's probe rows against its ONE local bitset via
  ``cogroup().applyInArrow``.  Each bitset crosses the wire once per
  probe job (S rows total), never once per probe row — the shape that
  survives a TB-scale filter, unlike a broadcast (too big) or a plain
  join (bitset duplicated onto every probe row).

FPP math: each shard is sized for its expected n/S keys with the same
p, so the union behaves like one optimal m*S-bit filter; xxhash64
sharding keeps shard loads within ~sqrt(S/n) of even, and the salted
two-phase build handles any residual skew.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .build import key_column, reserve_probe_cols
from .grouped import build_bloom_per_group
from .params import FilterConfig
from .partials import (
    bloom_kernel,
    counting_kernel,
    merge_bloom_payloads,
    merge_counting_payloads,
    merge_groups,
)


def shard_column(key_col: str, num_shards: int):
    return F.pmod(F.xxhash64(key_column(key_col)), F.lit(num_shards))


def _reserve_probe_cols(df: DataFrame, out_col: str) -> None:
    """Cogroup probes stage ``__key``/``__shard`` on the probe df —
    shared guard (same contract as the fast tier's ``__f*``)."""
    reserve_probe_cols(
        df, out_col, exact=("__key", "__shard"), tier="sharded"
    )


def build_sharded_bloom(
    df: DataFrame,
    col: str,
    shard_config: FilterConfig,
    *,
    num_shards: int = 64,
    salt_partitions: int = 8,
) -> DataFrame:
    """Distributed filter as a DataFrame (shard, rows, ones, bitset).

    ``shard_config`` sizes ONE shard — use
    ``FilterConfig.complete(n=total_n // num_shards, p=p)``.
    """
    sharded = df.select(
        key_column(col).alias("__key"),
        shard_column(col, num_shards).cast("string").alias("__shard"),
    )
    out = build_bloom_per_group(
        sharded, "__shard", "__key", shard_config, salt_partitions=salt_partitions
    )
    return out.select(
        F.col("group").cast("long").alias("shard"), "rows", "ones", "bitset"
    )


def _keyed_probe_side(df: DataFrame, col: str, num_shards: int):
    """(probe_side, key_col_name): the probe rows with their shard id,
    plus the name of the column the probe hashes.

    A string-typed key column IS its own cast — reusing it avoids
    shuffling a duplicate copy of every key (the sf1 probe's keys are
    64-byte sha strings; the copy was half the exchange).  Any other
    type travels pre-cast by Spark (key_column), so worker-side string
    formatting can never diverge from the build's cast."""
    from pyspark.sql.types import StringType

    probe_side = df.withColumn("__shard", shard_column(col, num_shards))
    if isinstance(df.schema[col].dataType, StringType):
        return probe_side, col
    return probe_side.withColumn("__key", key_column(col)), "__key"


def with_sharded_membership(
    df: DataFrame,
    col: str,
    shards: DataFrame,
    shard_config: FilterConfig,
    *,
    num_shards: int = 64,
    out_col: str = "member",
) -> DataFrame:
    """Probe every row of ``df`` against the sharded filter
    (:func:`_shard_probe`).  Shards absent from ``shards`` probe False.
    """
    from pyspark.sql.types import BooleanType

    from .filter import test_positions

    return _shard_probe(
        df, col, shards, shard_config, num_shards, out_col, BooleanType(),
        "bitset", merge_bloom_payloads, test_positions,
    )


def _shard_probe(
    df, col, shards, shard_config, num_shards, out_col, out_type,
    state_col, merge_state, lookup,
) -> DataFrame:
    """The sharded probe plan: both sides shuffle ONCE on the shard id
    (the probe rows by their key's shard, the S state rows by shard),
    then an Arrow cogroup evaluates ``lookup(state, positions)`` for
    each shard's probe batch against its ONE local state — the state
    appears once per task, never as a per-row column.  >1 state row
    per shard is a non-canonical (un-merged union) table:
    ``merge_state`` folds its rows, so probing it is probing the merge.
    Rows of shards without state read 0 / False.  The cogroup runs in
    ARROW (``applyInPandas`` materialized every key as a Python string
    object; ``Keys.from_arrow`` reads the contiguous UTF-8 buffers
    zero-copy — round-7)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    from .hashing import Keys, get_hash_fn

    _reserve_probe_cols(df, out_col)
    m, k, method = shard_config.m, shard_config.k, shard_config.hash_method
    out_dtype = bool if isinstance(out_type, BooleanType) else np.int64
    # StructType.add mutates in place — build a fresh schema instead of
    # appending to the DataFrame's cached one
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, out_type)]
    )
    probe_side, key_col = _keyed_probe_side(df, col, num_shards)
    shard_side = shards.select(F.col("shard").alias("__shard"), state_col)
    orig_cols = df.columns

    def probe(ptbl: pa.Table, stbl: pa.Table) -> pa.Table:
        result = np.zeros(ptbl.num_rows, dtype=out_dtype)
        if ptbl.num_rows and stbl.num_rows:
            state = merge_state(
                None, stbl.column(state_col).to_pylist(), shard_config
            )
            keys = Keys.from_arrow(ptbl.column(key_col).combine_chunks())
            result = lookup(state, get_hash_fn(method)(keys, m, k))
        out = ptbl.select(orig_cols)
        return out.append_column(out_col, pa.array(result))

    return (
        probe_side.groupBy("__shard")
        .cogroup(shard_side.groupBy("__shard"))
        .applyInArrow(probe, schema=out_schema)
    )

# ``rows`` is TOTAL EVER INSERTED into the shard (adds only — never
# decremented by subtract_sharded_counting, whose removes don't carry a
# reliable live count once subtraction floors at 0); use
# estimated_population_sharded_counting for the live-population number.
COUNTING_SHARDS_SCHEMA = "shard long, rows bigint, nonzero bigint, counters binary"

_COUNTING_SHARDS_PA_SCHEMA = pa.schema([
    ("shard", pa.int64()),
    ("rows", pa.int64()),
    ("nonzero", pa.int64()),
    ("counters", pa.binary()),
])


def build_sharded_counting(
    df: DataFrame,
    col: str,
    shard_config: FilterConfig,
    *,
    num_shards: int = 64,
    salt_partitions: int = 8,
) -> DataFrame:
    """Distributed counting filter as a DataFrame (shard, rows, nonzero,
    counters) — the counting twin of :func:`build_sharded_bloom`, for
    frequency estimates past broadcast scale without the exploded
    join's double shuffle (round-4 verdict item 6).

    ``shard_config`` sizes ONE shard (n = total_n // num_shards) and
    must carry ``counting_bits``.  Build = the salted two-phase
    per-group counting build (grouped.py) with the xxhash64 shard id as
    the group: one (shard, salt) shuffle, counter arrays never
    driver-resident.  Saturating add is associative up to saturation,
    so shard merges commute like the bitset OR."""
    sharded = df.select(
        key_column(col).alias("__key"),
        shard_column(col, num_shards).cast("string").alias("__shard"),
    )
    from .grouped import build_counting_per_group

    out = build_counting_per_group(
        sharded, "__shard", "__key", shard_config, salt_partitions=salt_partitions
    )
    return out.select(
        F.col("group").cast("long").alias("shard"), "rows", "nonzero", "counters"
    )


def with_sharded_estimated_count(
    df: DataFrame,
    col: str,
    shards: DataFrame,
    shard_config: FilterConfig,
    *,
    num_shards: int = 64,
    out_col: str = "est_count",
) -> DataFrame:
    """Minimum-selection frequency estimate of every row of ``df``
    against the sharded counting filter — the plan of
    :func:`with_sharded_membership` (:func:`_shard_probe`): each task
    reads its shard's ONE counter array (the array crosses the wire S
    times per job, never per probe row).  Shards absent from ``shards``
    estimate 0."""
    from pyspark.sql.types import LongType

    return _shard_probe(
        df, col, shards, shard_config, num_shards, out_col, LongType(),
        "counters", merge_counting_payloads,
        lambda counters, pos: counters[pos].min(axis=1).astype(np.int64),
    )

def merge_sharded_counting(
    a: DataFrame, b: DataFrame, shard_config: FilterConfig
) -> DataFrame:
    """Saturating-add merge of two sharded counting filters built under
    the SAME (shard_config, num_shards) — the counting twin of
    :func:`merge_sharded` (union + ``partials.merge_groups`` on the
    shard; counter arrays ride the shuffle once each, the driver never
    sees one).  For distributed remove use
    :func:`subtract_sharded_counting`."""
    cols = ("shard", "rows", "nonzero", "counters")
    both = a.select(*cols).unionByName(b.select(*cols))
    return merge_groups(
        both, "shard", counting_kernel(shard_config), _COUNTING_SHARDS_PA_SCHEMA
    )


def subtract_sharded_counting(
    adds: DataFrame, removes: DataFrame, shard_config: FilterConfig
) -> DataFrame:
    """Distributed remove at shard scale: per-shard element-wise
    subtract floored at 0 (``CountingBloomFilter.subtract`` semantics,
    the Spark replacement for the reference's Redis WATCH/MULTI retry
    loop, redis/CountingBloomFilterRedis.java:114-156) — build the
    removals as their own sharded sketch and subtract it; associativity
    of the underlying add makes batch order irrelevant.  Same plan as
    :func:`merge_sharded_counting`: one cogroup on the shard id, a
    counter array crosses the wire once per job.  Shards present only
    in ``removes`` vanish (nothing to subtract from); shards present
    only in ``adds`` pass through untouched.  Non-canonical inputs
    (multiple rows per shard, e.g. a raw union of builds) are summed
    per side first — identical to pre-merging them.

    The output's ``rows`` is the adds side's total-ever-inserted,
    deliberately NOT reduced by the removes (the schema contract —
    see :data:`COUNTING_SHARDS_SCHEMA`): after saturation/flooring the
    removes' row count is not a reliable live-population delta, so
    ``rows`` stays monotone and the live estimate comes from
    :func:`estimated_population_sharded_counting`."""
    add_side = adds.select("shard", "rows", "nonzero", "counters")
    rem_side = removes.select("shard", "counters")

    def sub(atbl: pa.Table, rtbl: pa.Table) -> pa.Table:
        if not atbl.num_rows:
            return _COUNTING_SHARDS_PA_SCHEMA.empty_table()
        acc = merge_counting_payloads(
            None, atbl.column("counters").to_pylist(), shard_config
        )
        if rtbl.num_rows:
            rem = merge_counting_payloads(
                None, rtbl.column("counters").to_pylist(), shard_config
            )
            np.subtract(acc, np.minimum(acc, rem), out=acc)
        return pa.table(
            {
                "shard": atbl.column("shard").slice(0, 1),
                "rows": [pc.sum(atbl.column("rows")).as_py()],
                "nonzero": [int(np.count_nonzero(acc))],
                "counters": [acc.tobytes()],
            },
            schema=_COUNTING_SHARDS_PA_SCHEMA,
        )

    return (
        add_side.groupBy("shard")
        .cogroup(rem_side.groupBy("shard"))
        .applyInArrow(sub, schema=COUNTING_SHARDS_SCHEMA)
    )


def estimated_population_sharded_counting(
    shards: DataFrame, shard_config: FilterConfig
) -> int:
    """Population estimate of a sharded counting filter: the
    swamidass-baldi estimate from each shard's NONZERO slot count
    (a counting filter's bit-level analog of `ones`), summed over
    shards — only S (shard, nonzero) rows reach the driver."""
    return _swamidass_baldi_sum(
        shards, "counters", "nonzero", shard_config, counting_kernel(shard_config)
    )


def _shard_set_counts(
    shards: DataFrame, payload_col: str, set_col: str, kernel
) -> DataFrame:
    """(shard, <set_col>) of each shard's merged state — the executor-
    side reduction of a non-canonical table (>1 row per shard)."""
    schema = pa.schema([("shard", pa.int64()), (set_col, pa.int64())])
    return merge_groups(shards.select("shard", payload_col), "shard", kernel, schema)


def _swamidass_baldi_sum(
    shards: DataFrame,
    payload_col: str,
    set_col: str,
    shard_config: FilterConfig,
    kernel,
) -> int:
    """Shared per-shard swamidass-baldi population sum
    (BloomFilter.getEstimatedPopulation, java:285-293) over whichever
    column carries the set-slot count (`ones` for bitsets, `nonzero`
    for counters).  Only S (shard, count) rows reach the driver.

    A non-canonical table (>1 row per shard, e.g. a raw union of
    builds) cannot be summed per ROW: overlapping slots double-count
    and the log is nonlinear in the slot count.  Those shards are
    merged executor-side first (:func:`_shard_set_counts` with the OR /
    saturating-add ``kernel``, identical to estimating the merge — the
    same union==merge contract the cogroup probes keep), and still only
    (shard, count) rows reach the driver."""
    import math

    m, k = shard_config.m, shard_config.k
    # canonical-ness first, via a cheap aggregate that reads ONLY the
    # shard column (never bitsets/counters) — so a non-canonical table
    # costs one tiny count job, not a discarded full collect
    probe = shards.agg(
        F.count("shard").alias("n"),
        F.count_distinct("shard").alias("d"),
    ).collect()[0]
    canonical = int(probe["n"]) == int(probe["d"])
    rows = (
        shards.select("shard", set_col)
        if canonical
        else _shard_set_counts(shards, payload_col, set_col, kernel)
    ).collect()
    total = 0.0
    for r in rows:
        x = min(int(r[set_col]), m - 1)
        total += -(m / k) * math.log(1.0 - x / m)
    return int(round(total))


def _hadoop_fs_and_path(spark, path: str, child: str):
    """(FileSystem, Path) for ``<path>/<child>`` resolved through the
    SAME Hadoop filesystem layer DataFrame.write uses — so an
    hdfs://... or s3a://... destination puts config.json in the same
    store as the parquet shards (a driver-local open() would silently
    split the two artifacts across filesystems)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path, child)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


SHARDS_SCHEMA = "shard long, rows bigint, ones bigint, bitset binary"

_SHARDS_PA_SCHEMA = pa.schema([
    ("shard", pa.int64()),
    ("rows", pa.int64()),
    ("ones", pa.int64()),
    ("bitset", pa.binary()),
])


def merge_sharded(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two sharded filters built under the SAME (shard_config,
    num_shards): union the shard rows, then ``partials.merge_groups`` on
    the shard.  One shuffle of <= 2S tiny-prefixed rows (bitsets ride
    the shuffle once each); the driver never sees a bitset.
    Associative and commutative like every bloom merge."""
    cols = ("shard", "rows", "ones", "bitset")
    both = a.select(*cols).unionByName(b.select(*cols))
    return merge_groups(both, "shard", bloom_kernel(None), _SHARDS_PA_SCHEMA)


def estimated_population_sharded(shards: DataFrame, shard_config: FilterConfig) -> int:
    """Population estimate of a sharded filter: the per-shard swamidass-
    baldi estimate from each shard's ones count, summed over shards
    (see :func:`_swamidass_baldi_sum`) — the driver never sees a
    bitset."""
    return _swamidass_baldi_sum(
        shards, "bitset", "ones", shard_config, bloom_kernel(shard_config)
    )


def save_sharded(
    shards: DataFrame,
    path: str,
    shard_config: FilterConfig,
    *,
    num_shards: int,
) -> None:
    """Persist the never-collected filter durably: the (shard, rows,
    ones, bitset) rows go to ``<path>/shards`` as parquet WRITTEN BY THE
    EXECUTORS (the driver never holds a bitset — the property that makes
    the tier work stays true through persistence), and the sizing config
    plus shard count go to ``<path>/config.json`` so a later session can
    probe without re-deriving anything.

    Both artifacts go through the Hadoop FileSystem resolved from
    ``path``, so local paths, hdfs:// and s3a:// all keep the parquet
    shards and the config in one store.  Note the config swap is
    write-tmp / delete / rename (portable across Hadoop filesystems,
    whose plain rename refuses existing targets) — not atomic like a
    POSIX replace; writers that need crash-atomic state transitions
    should write fresh version dirs behind a pointer, the way
    streaming_dedup_sharded does.

    Same durability role as the reference's named Redis filters
    (``FilterBuilder.name``/``overwriteIfExists``), at the scale where
    checkpoint.py's single-bitset layout stops fitting."""
    _save_sharded_impl(shards, path, shard_config, num_shards, "bloom")


def save_sharded_counting(
    shards: DataFrame,
    path: str,
    shard_config: FilterConfig,
    *,
    num_shards: int,
) -> None:
    """Durable persistence of the sharded COUNTING tier — identical
    layout and FS semantics to :func:`save_sharded`, with the counter
    arrays in the parquet and ``kind: counting`` in config.json so a
    membership loader cannot silently misread counter bytes as a
    bitset."""
    _save_sharded_impl(shards, path, shard_config, num_shards, "counting")


def _save_sharded_impl(
    shards: DataFrame,
    path: str,
    shard_config: FilterConfig,
    num_shards: int,
    kind: str,
) -> None:
    import json
    import os

    spark = shards.sparkSession
    shards.write.mode("overwrite").parquet(os.path.join(path, "shards"))
    payload = json.dumps(
        {
            "config": shard_config.to_dict(),
            "num_shards": int(num_shards),
            "kind": kind,
        }
    ).encode()
    fs, cfg_path = _hadoop_fs_and_path(spark, path, "config.json")
    tmp_path = spark._jvm.org.apache.hadoop.fs.Path(path, "config.json.tmp")
    out = fs.create(tmp_path, True)
    try:
        out.write(payload)
    finally:
        out.close()
    # Hadoop FS signals failure by RETURNING false, not raising; a
    # swallowed failure here would leave stale/absent config.json while
    # the parquet shards were already overwritten — a later load_sharded
    # would then probe with the wrong (m, k, num_shards).
    if fs.exists(cfg_path) and not fs.delete(cfg_path, False):
        raise IOError(f"save_sharded: failed to delete old {cfg_path}")
    if not fs.rename(tmp_path, cfg_path):
        raise IOError(
            f"save_sharded: failed to rename {tmp_path} -> {cfg_path}; "
            "config.json is missing — re-run save_sharded before loading"
        )


def load_sharded(spark, path: str):
    """-> (shards DataFrame, shard_config, num_shards), ready for
    :func:`with_sharded_membership`.  The bitsets load lazily from
    parquet into executors; nothing touches the driver."""
    return _load_sharded_impl(spark, path, "bloom")


def load_sharded_counting(spark, path: str):
    """-> (shards DataFrame, shard_config, num_shards), ready for
    :func:`with_sharded_estimated_count`.  Refuses a path saved by
    :func:`save_sharded` (membership bitsets are not counter arrays)."""
    return _load_sharded_impl(spark, path, "counting")


def _load_sharded_impl(spark, path: str, kind: str):
    import json
    import os

    fs, cfg_path = _hadoop_fs_and_path(spark, path, "config.json")
    stream = fs.open(cfg_path)
    try:
        raw = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    meta = json.loads(raw.decode())
    # pre-round-5 layouts wrote no kind field and were always bloom
    saved_kind = meta.get("kind", "bloom")
    if saved_kind != kind:
        raise ValueError(
            f"{path} holds a sharded {saved_kind!r} filter, not "
            f"{kind!r}; use the matching load function"
        )
    shards = spark.read.parquet(os.path.join(path, "shards"))
    return shards, FilterConfig.from_dict(meta["config"]), meta["num_shards"]
