"""JVM-native fast-mode membership tier: Bloom build + probe with zero
Python in the hot path.

Why this exists: every parity-tier build/probe crosses the JVM<->Python
Arrow boundary once per batch, and that hop is this repo's measured
scaling limiter (BASELINE.md "stage-by-stage": a no-op mapInArrow pass
scales only 2.9x from 2->8 pinned cores while the pure-JVM scan scales
3.73x).  Java-bit-parity genuinely requires Python hashing — but a user
who just wants "has this key been seen?" over 100 TB does not need
parity, they need the whole pipeline inside whole-stage codegen.  This
tier computes positions as native Spark long expressions
(``F.xxhash64``), aggregates bits with a native ``bit_or`` hash
aggregate, and probes with broadcast hash joins — scan to answer, no
Python worker anywhere.  (No reference file to cite: the reference is
single-node; the design target is the repo's own measurement.)

The hash scheme ("XXHash64KM") is Kirsch-Mitzenmacher double hashing
over Spark's xxhash64:

    h1 = xxhash64(key)                       -- seed 42, UTF-8 bytes
    h2 = xxhash64(key, lit(FAST_SEED2))      -- = XXH64.hashLong(C, h1)
    pos_i = pmod(pmod(h1, m) + i * pmod(h2|1, m), m)

reduced mod m BEFORE the multiply so every intermediate fits a Spark
long under ANSI arithmetic.  ``bloomspark.hashing.positions_xxh64km``
is the bit-identical numpy replica (registered as a normal hash
method), so fast-built filters are ordinary :class:`BloomFilter`
objects: driver ``contains``, union/intersect, JSON serde, checkpoint
and the broadcast pandas probe all work on them unchanged — and a
filter built by the parity-tier ``build_bloom`` with
``hash_method="XXHash64KM"`` is byte-identical to the native build
(asserted in tests/test_fast.py).

Plan shapes (pinned in tests/test_plans.py):

- **build**: scan -> project (hash exprs) -> explode(k) -> partial
  hash-agg -> exchange(word) -> final hash-agg.  Map-side combine caps
  each partition's shuffle output at its distinct words (<= m/64 rows),
  independent of row count — the 100-TB property.
- **probe**: scan -> project -> k broadcast hash joins on a BLOCKED
  form of the filter (4 KiB ``array<bigint>`` rows) -> project.  No
  shuffle, no Python.  Blocking matters: joining per 64-bit word makes
  the broadcast hash relation m/64 entries (3M for a 20M-key filter),
  and building + probing a relation that size measured 0.21M rows/s —
  33x SLOWER than the pandas probe.  At 512 words per block the
  relation is m/32768 entries (~6k): the join lookup stays
  cache-resident and each bit test is one in-place ``element_at`` into
  broadcast memory.  Measured on 20M rows x 32 cores: 12.2M rows/s
  vs 8.6M (pandas bitset probe) vs 0.21M (word-granular join).
- **extended-m and counting probes**: explode(k) -> ONE join against
  the never-collected (word, bits) or (pos, cnt) table -> min per
  distinct key -> re-join the probe rows.

Scale limits: the collected form needs m/8 driver bytes (same as any
single filter); the probe broadcasts ~k copies of the blocked filter
per executor (Catalyst does not reuse the exchange across the k joins
in all plans).  Past broadcast-sized filters, go to the sharded tier
(sharded.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import reserve_probe_cols
from .filter import BloomFilter
from .hashing import FAST_SEED2
from .params import FilterConfig

FAST_HASH_METHOD = "XXHash64KM"


def _require_fast(config: FilterConfig) -> None:
    if config.hash_method != FAST_HASH_METHOD:
        raise ValueError(
            f"fast tier requires hash_method={FAST_HASH_METHOD!r} "
            f"(got {config.hash_method!r}); parity-tier methods cannot be "
            "computed JVM-side"
        )


def _fast_key(col: str) -> Column:
    # nulls hash as the empty string, matching Keys.from_arrow's
    # fill_null on the Python side
    return F.coalesce(F.col(col).cast("string"), F.lit(""))


def _reserve_probe_cols(df: DataFrame, out_col: str) -> None:
    """Fast probes stage fixed-name ``__f*`` temp columns (kjoin
    withColumn clobbers, exploded select duplicates) — shared guard."""
    reserve_probe_cols(df, out_col, prefix="__f", tier="fast")


def fast_hash_cols(col: str, config: FilterConfig):
    """(a, b) = (pmod(h1, m), pmod(h2|1, m)) as native long Columns."""
    key = _fast_key(col)
    mm = F.lit(config.m)
    a = F.pmod(F.xxhash64(key), mm)
    b = F.pmod(F.xxhash64(key, F.lit(FAST_SEED2)).bitwiseOR(F.lit(1)), mm)
    return a, b


def fast_position_cols(col: str, config: FilterConfig):
    """The k bit positions as native long Columns (the JVM twin of
    hashing.positions_xxh64km)."""
    a, b = fast_hash_cols(col, config)
    mm = F.lit(config.m)
    return [F.pmod(a + F.lit(i) * b, mm) for i in range(config.k)]


def fast_bloom_words(df: DataFrame, col: str, config: FilterConfig) -> DataFrame:
    """The filter as a distributed (word, bits) DataFrame — 64-bit words
    of the bitset, only nonzero words present, little-endian bit order
    (word w bit j = global bit 64*w + j, identical byte layout to
    BloomFilter.to_bytes).  Entirely native: explode + bit_or hash
    aggregate, nothing ever leaves the JVM."""
    _require_fast(config)
    pos = F.explode(F.array(*fast_position_cols(col, config))).alias("pos")
    return (
        df.select(pos)
        .selectExpr(
            "pos div 64 AS word",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS mask",
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def build_fast_bloom(df: DataFrame, col: str, config: FilterConfig) -> BloomFilter:
    """Native build collected into an ordinary :class:`BloomFilter`.

    The driver receives at most m/64 (word, bits) rows — the dense
    bitset's own size in a sparse dress — via one ``toArrow`` collect.
    For filters too big to collect, keep :func:`fast_bloom_words`
    distributed or shard (sharded.py)."""
    _require_fast(config)
    if config.extended:
        raise ValueError(
            "extended-m fast filters cannot be collected to one driver "
            "bitset; keep fast_bloom_words distributed or use sharded.py"
        )
    tbl = fast_bloom_words(df, col, config).toArrow()
    n_words = (config.m + 63) // 64
    arr = np.zeros(n_words, dtype=np.uint64)
    if tbl.num_rows:
        arr[tbl["word"].to_numpy()] = tbl["bits"].to_numpy().view(np.uint64)
    bits = np.frombuffer(arr.tobytes(), dtype=np.uint8)[: config.num_bytes].copy()
    return BloomFilter(config, bits)


#: Words per probe block: 512 x 8 B = 4 KiB rows.  Keeps the broadcast
#: join hash relation at m/32768 entries (L2-resident lookups) while
#: each bit test is one in-place element_at into broadcast memory —
#: the measured sweet spot between the word-granular join (relation too
#: big: 0.21M rows/s) and one giant array row (BroadcastNestedLoopJoin
#: copies the build row per output row).
BLOCK_WORDS = 512

# ---------------------------------------------------------------------------
# Counting tier: the same zero-Python treatment for the counting filter.
# ---------------------------------------------------------------------------


def fast_counting_positions(df: DataFrame, col: str, config: FilterConfig) -> DataFrame:
    """Per-position counts as a distributed (pos, cnt) DataFrame — the
    counting filter in sparse native form.  explode(k positions) ->
    count(*) hash aggregate; map-side combine bounds each partition's
    shuffle output at its distinct positions."""
    _require_fast(config)
    pos = F.explode(F.array(*fast_position_cols(col, config))).alias("pos")
    return df.select(pos).groupBy("pos").agg(F.count("*").alias("cnt"))


def fast_counting_positions_with_removals(
    adds: DataFrame, removes: DataFrame, col: str, config: FilterConfig
) -> DataFrame:
    """Distributed counting-filter remove, fast tier: the removals'
    per-position counts subtract (floored at 0) from the adds' — the
    same negative-weight-merge reading of remove as the parity tier
    (build.build_counting_with_removals; reference semantics
    CountingBloomFilter.java remove contract), but expressed as one
    native outer join of two (pos, cnt) aggregates, so it composes with
    the exploded probe at extended m with nothing ever collected."""
    _require_fast(config)
    a = fast_counting_positions(adds, col, config)
    r = fast_counting_positions(removes, col, config).withColumnRenamed(
        "cnt", "__rcnt"
    )
    return (
        a.join(r, "pos", "left")
        .select(
            "pos",
            F.greatest(
                F.col("cnt") - F.coalesce(F.col("__rcnt"), F.lit(0)), F.lit(0)
            ).alias("cnt"),
        )
        .where(F.col("cnt") > 0)
    )


def with_fast_estimated_count(
    df: DataFrame,
    col: str,
    filter_src: DataFrame,
    config: FilterConfig,
    *,
    out_col: str = "est_count",
) -> DataFrame:
    """Minimum-selection frequency estimates with a 100% JVM plan over
    the never-collected (pos, cnt) table from
    :func:`fast_counting_positions` (or its ``_with_removals`` twin).

    Single-join estimate: explode the k positions, ONE left join
    against the sparse (pos, cnt) table, re-aggregate with min per
    distinct key value; positions absent from the table count 0.  The
    counting twin of the exploded membership probe, and like it the
    shape that works at extended m / low fill, where dense blocked
    counts would dwarf the actual (pos, cnt) content.  Keyed on the
    normalized key value, not a row id (see the membership twin).  A
    collected :class:`CountingBloomFilter` is probed by
    ``probe.with_estimated_count``."""
    _require_fast(config)
    _reserve_probe_cols(df, out_col)
    if not isinstance(filter_src, DataFrame):
        raise TypeError(
            "with_fast_estimated_count takes the distributed (pos, cnt) "
            "table from fast_counting_positions; probe a collected "
            "CountingBloomFilter with with_estimated_count"
        )
    kept = df.columns
    kv = "__fkv"
    keys = df.select(_fast_key(col).alias(kv)).distinct()
    exploded = keys.select(
        kv, F.explode(F.array(*fast_position_cols(kv, config))).alias("__pos")
    )
    joined = exploded.join(
        filter_src.select(F.col("pos").alias("__pos"), F.col("cnt").alias("__cnt")),
        "__pos",
        "left",
    )
    per_pos = F.coalesce(F.col("__cnt"), F.lit(0).cast("long"))
    flags = joined.groupBy(kv).agg(F.min(per_pos).alias(out_col))
    out = df.withColumn(kv, _fast_key(col)).join(flags, kv, "left")
    return out.select(
        *kept, F.coalesce(F.col(out_col), F.lit(0).cast("long")).alias(out_col)
    )


def blocks_from_bloom(spark: SparkSession, bloom: BloomFilter) -> DataFrame:
    """A BloomFilter's nonzero 4 KiB blocks as (block, array<bigint>) —
    the probe-side broadcast form.  Sparse filters yield few rows;
    dense ones at most m/(64*BLOCK_WORDS)."""
    _require_fast(bloom.config)
    raw = bloom.to_bytes()
    pad = (-len(raw)) % (8 * BLOCK_WORDS)
    arr = np.frombuffer(raw + b"\x00" * pad, dtype=np.uint64).reshape(
        -1, BLOCK_WORDS
    )
    nz = np.nonzero(arr.any(axis=1))[0]
    flat = arr[nz].view(np.int64).ravel()
    offsets = np.arange(len(nz) + 1, dtype=np.int32) * BLOCK_WORDS
    return spark.createDataFrame(
        pa.table(
            {
                "block": pa.array(nz.astype(np.int64)),
                "words": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            }
        )
    )


def words_to_blocks(words: DataFrame) -> DataFrame:
    """Assemble the distributed (word, bits) table into probe blocks —
    entirely native (groupBy block + map_from_entries + transform), for
    filters that were never collected."""
    wm = (
        words.groupBy(F.expr(f"word div {BLOCK_WORDS}").alias("block"))
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("word") % BLOCK_WORDS).cast("int").alias("key"),
                        F.col("bits").alias("value"),
                    )
                )
            ).alias("wm")
        )
    )
    return wm.select(
        "block",
        F.transform(
            F.sequence(F.lit(0), F.lit(BLOCK_WORDS - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("wm"), i), F.lit(0).cast("long")
            ),
        ).alias("words"),
    )


def _with_fast_membership_exploded(
    df: DataFrame,
    col: str,
    words: DataFrame,
    config: FilterConfig,
    out_col: str,
) -> DataFrame:
    """The single-join probe: explode the k positions, ONE join against
    the (word, bits) table on the word id, re-aggregate with a boolean
    min (= bool_and) per row id.

    Trade vs the k-join blocked probe: one join instead of k (the filter
    crosses the executor boundary once, not up to k times), but the
    distinct keys shuffle through explode->groupBy and the verdicts
    re-join the probe rows.  This is the ONLY probe shape that works
    for huge-m / low-fill filters (extended m): the dense 4 KiB blocked
    form degenerates there to ~one set bit per block, multiplying the
    broadcast by 512x (measured: a 2^33-bit filter of 600k keys blocks
    to a >2 GB broadcast; its words form is ~5 MB).

    The whole pipeline keys on the NORMALIZED KEY VALUE, never a row
    id: membership is a pure function of the key, so aggregating per
    distinct key is both cheaper (duplicate keys explode once) and
    immune to the monotonically_increasing_id pitfall (branch-dependent
    ids under non-deterministic upstream shuffles would silently
    mis-assign verdicts)."""
    kept = df.columns
    kv = "__fkv"
    keys = df.select(_fast_key(col).alias(kv)).distinct()
    exploded = keys.select(
        kv, F.explode(F.array(*fast_position_cols(kv, config))).alias("__pos")
    ).withColumn("__word", F.expr("__pos div 64"))
    joined = exploded.join(
        words.select(F.col("word").alias("__word"), F.col("bits").alias("__bits")),
        "__word",
        "left",
    )
    test = F.coalesce(
        F.expr("(shiftright(__bits, CAST(__pos % 64 AS INT)) & 1) = 1"),
        F.lit(False),
    )
    flags = joined.groupBy(kv).agg(F.min(test).alias(out_col))
    out = df.withColumn(kv, _fast_key(col)).join(flags, kv, "left")
    return out.select(*kept, F.coalesce(F.col(out_col), F.lit(False)).alias(out_col))


def with_fast_membership(
    df: DataFrame,
    col: str,
    filter_src: DataFrame | BloomFilter,
    config: FilterConfig,
    *,
    out_col: str = "member",
) -> DataFrame:
    """Append a boolean membership column with a 100% JVM plan.

    The config decides the shape.  A non-extended filter is probed by
    the k-join: each of the k positions is tested by a broadcast hash
    join of its block index against the blocked filter, then an
    in-place ``element_at`` + shift/mask; a missing block (left-join
    null) tests False.  The plan is scan -> k codegen'd broadcast joins
    -> project: no shuffle, no Python worker, no per-row bitset
    traffic.  MEASURED 20M rows, dense p=0.01 filter, fresh pinned
    JVMs, best-of-3 (BASELINE.md round-4): k-join 2.54M rows/s @4 cores
    / 6.21M @16 vs the exploded single join 0.22M / 0.37M — the explode
    shuffle costs ~12-17x.

    An extended-m filter is probed by the exploded single join
    (:func:`_with_fast_membership_exploded`): its dense 4 KiB blocks
    would be ~512x larger than the set bits they carry and the
    broadcast stops fitting.

    ``filter_src`` is an XXHash64KM :class:`BloomFilter` (non-extended
    only: an extended bitset is never collected) or the distributed
    (word, bits) table from :func:`fast_bloom_words`."""
    _require_fast(config)
    _reserve_probe_cols(df, out_col)
    if isinstance(filter_src, BloomFilter):
        if config.extended:
            raise ValueError(
                "extended-m fast filters are probed from the distributed "
                "fast_bloom_words table, not a driver BloomFilter"
            )
        if not filter_src.config.is_compatible_to(config):
            raise ValueError("filter is not compatible with the probe config")
        blocks = blocks_from_bloom(df.sparkSession, filter_src)
    elif config.extended:
        return _with_fast_membership_exploded(df, col, filter_src, config, out_col)
    else:
        blocks = words_to_blocks(filter_src)
    bits_per_block = 64 * BLOCK_WORDS
    a, b = fast_hash_cols(col, config)
    out = df.withColumn("__fa", a).withColumn("__fb", b)
    temp = ["__fa", "__fb"]
    tests = []
    for i in range(config.k):
        p, blk, w = f"__fp{i}", f"__fblk{i}", f"__fwords{i}"
        out = out.withColumn(
            p, F.pmod(F.col("__fa") + F.lit(i) * F.col("__fb"), F.lit(config.m))
        ).withColumn(blk, F.expr(f"{p} div {bits_per_block}"))
        out = out.join(
            F.broadcast(
                blocks.select(F.col("block").alias(blk), F.col("words").alias(w))
            ),
            blk,
            "left",
        )
        tests.append(
            F.coalesce(
                F.expr(
                    f"(shiftright(element_at({w}, "
                    f"CAST(({p} div 64) % {BLOCK_WORDS} AS INT) + 1), "
                    f"CAST({p} % 64 AS INT)) & 1) = 1"
                ),
                F.lit(False),
            )
        )
        temp += [p, blk, w]
    member = tests[0]
    for t in tests[1:]:
        member = member & t
    return out.withColumn(out_col, member).drop(*temp)
