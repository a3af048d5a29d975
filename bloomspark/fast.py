"""JVM-native fast-mode membership probe: zero Python in the probe plan.

Why this exists: every parity-tier probe crosses the JVM<->Python Arrow
boundary once per batch, and that hop is this repo's measured scaling
limiter (BASELINE.md "stage-by-stage": a no-op mapInArrow pass scales
only 2.9x from 2->8 pinned cores while the pure-JVM scan scales
3.73x).  Java-bit-parity genuinely requires Python hashing — but a user
who just wants "has this key been seen?" over 100 TB does not need
parity, they need the probe inside whole-stage codegen.  This module
computes positions as native Spark long expressions (``F.xxhash64``)
and probes with broadcast hash joins — scan to answer, no Python
worker.  (No reference file to cite: the reference is single-node; the
design target is the repo's own measurement.)

The hash scheme ("XXHash64KM") is Kirsch-Mitzenmacher double hashing
over Spark's xxhash64:

    h1 = xxhash64(key)                       -- seed 42, UTF-8 bytes
    h2 = xxhash64(key, lit(FAST_SEED2))      -- = XXH64.hashLong(C, h1)
    pos_i = pmod(pmod(h1, m) + i * pmod(h2|1, m), m)

reduced mod m BEFORE the multiply so every intermediate fits a Spark
long under ANSI arithmetic.  ``bloomspark.hashing.positions_xxh64km``
is the bit-identical numpy replica (registered as a normal hash
method), so the filter is built by the ordinary ``build_bloom`` with
``hash_method="XXHash64KM"`` and is an ordinary :class:`BloomFilter`:
driver ``contains``, union/intersect, JSON serde, checkpoint and the
broadcast Arrow probe all work on it unchanged.  A native explode +
``bit_or`` build is up to 0.4 s faster below ~600k keys but 1.7x
slower at 2M keys, and one collected build is kept (BASELINE.md
"Measured decision: one collected build, one never-collected tier").

Probe plan (pinned in tests/test_plans.py): scan -> project (hash
exprs) -> k broadcast hash joins on a BLOCKED form of the filter
(4 KiB ``array<bigint>`` rows) -> project.  No shuffle, no Python.
Blocking matters: joining per 64-bit word makes the broadcast hash
relation m/64 entries (3M for a 20M-key filter), and building + probing
a relation that size measured 0.21M rows/s — 33x SLOWER than the pandas
probe.  At 512 words per block the relation is m/32768 entries (~6k):
the join lookup stays cache-resident and each bit test is one in-place
``element_at`` into broadcast memory.  Measured on 20M rows x 32 cores:
12.2M rows/s vs 8.6M (pandas bitset probe) vs 0.21M (word-granular
join).

Scale limits: the filter is a collected bitset (m/8 driver bytes, as
any single filter), and the probe broadcasts ~k copies of the blocked
filter per executor (Catalyst does not reuse the exchange across the k
joins in all plans).  Past broadcast-sized filters, go to the sharded
tier (sharded.py), the one never-collected form.
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


def fast_position_cols(col: str, config: FilterConfig):
    """The k bit positions as native long Columns (the JVM twin of
    hashing.positions_xxh64km)."""
    key = _fast_key(col)
    mm = F.lit(config.m)
    a = F.pmod(F.xxhash64(key), mm)
    b = F.pmod(F.xxhash64(key, F.lit(FAST_SEED2)).bitwiseOR(F.lit(1)), mm)
    return [F.pmod(a + F.lit(i) * b, mm) for i in range(config.k)]


#: Words per probe block: 512 x 8 B = 4 KiB rows.  Keeps the broadcast
#: join hash relation at m/32768 entries (L2-resident lookups) while
#: each bit test is one in-place element_at into broadcast memory —
#: the measured sweet spot between the word-granular join (relation too
#: big: 0.21M rows/s) and one giant array row (BroadcastNestedLoopJoin
#: copies the build row per output row).
BLOCK_WORDS = 512


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


def with_fast_membership(
    df: DataFrame,
    col: str,
    bloom: BloomFilter,
    *,
    out_col: str = "member",
) -> DataFrame:
    """Append a boolean membership column with a 100% JVM plan.

    Each of the k positions is tested by a broadcast hash join of its
    block index against the blocked filter (:func:`blocks_from_bloom`),
    then an in-place ``element_at`` + shift/mask; a missing block
    (left-join null) tests False.  The plan is scan -> k codegen'd
    broadcast joins -> project: no shuffle, no Python worker, no
    per-row bitset traffic.  MEASURED 20M rows, dense p=0.01 filter,
    fresh pinned JVMs, best-of-3 (BASELINE.md round-4): k-join 2.54M
    rows/s @4 cores / 6.21M @16 vs an exploded single join 0.22M /
    0.37M — the explode shuffle costs ~12-17x.

    ``bloom`` is an XXHash64KM :class:`BloomFilter`, and its config
    decides the positions.  An extended-m config is refused: its dense
    4 KiB blocks would be ~512x larger than the set bits they carry, so
    filters past the driver limit live in the sharded tier."""
    config = bloom.config
    _require_fast(config)
    if config.extended:
        raise ValueError(
            "extended-m fast filters have no broadcast probe; keep a "
            "filter this size never collected in the sharded tier "
            "(build_sharded_bloom + with_sharded_membership)"
        )
    # fast probes stage fixed-name ``__f*`` temp columns
    reserve_probe_cols(df, out_col, prefix="__f", tier="fast")
    blocks = blocks_from_bloom(df.sparkSession, bloom)
    bits_per_block = 64 * BLOCK_WORDS
    positions = [f"__fp{i}" for i in range(config.k)]
    out = df.select(
        "*", *[p.alias(n) for p, n in zip(fast_position_cols(col, config), positions)]
    )
    temp = list(positions)
    tests = []
    for i, p in enumerate(positions):
        blk, w = f"__fblk{i}", f"__fwords{i}"
        out = out.withColumn(blk, F.expr(f"{p} div {bits_per_block}"))
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
        temp += [blk, w]
    member = tests[0]
    for t in tests[1:]:
        member = member & t
    return out.withColumn(out_col, member).drop(*temp)
