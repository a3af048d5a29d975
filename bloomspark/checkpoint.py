"""Checkpoint-resumable builds with per-partition lineage + metrics.

The Spark replacement for the reference's named-filter persistence
(config stored under the filter name with load-or-create semantics,
redis/helper/RedisKeys.java:35-57; ``overwriteIfExists``,
FilterBuilder.java:241-244).

Layout of a checkpoint directory:

    <dir>/config.json            filter configuration + build parameters
    <dir>/partials/              parquet: one row per bucket
        (bucket, rows, ones, fingerprint, t_ms, bitset)
    <dir>/bitset.bin             final merged bitset (written when complete)
    <dir>/lineage.json           per-bucket lineage + metrics snapshot

Resumability: rows are bucketed by ``pmod(xxhash64(key), num_buckets)``
— a deterministic content-addressed partitioning, so a bucket's input
(and therefore its partial) is identical across runs over the same
table.  On resume, buckets already present in ``partials/`` are skipped
and only missing buckets are scanned and rebuilt; the final filter is
byte-identical to a cold build (asserted in tests/test_checkpoint.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import pyarrow as pa

from .build import key_column
from .counting import CountingBloomFilter, counter_dtype, counter_max
from .filter import BloomFilter
from .hashing import Keys
from .params import FilterConfig
from .partials import (
    PositionAccumulator,
    add_counting_payload,
    collect_rows,
    hash_rows,
    merge_bloom_payloads,
    split_groups,
    wrap_fingerprint,
)

BUCKET_SCHEMA = (
    "bucket int, rows bigint, ones bigint, fingerprint bigint, "
    "t_ms double, kind string, bitset binary"
)

_BUCKET_PA_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("rows", pa.int64()),
        ("ones", pa.int64()),
        ("fingerprint", pa.int64()),
        ("t_ms", pa.float64()),
        ("kind", pa.string()),
        ("bitset", pa.binary()),
    ]
)


def _bucket_splits(batches, config: FilterConfig):
    """Per (batch, bucket): ``(bucket, positions, fingerprints)`` of an
    Arrow stream of (__key, __bucket) batches — each batch is hashed
    once and split by bucket with one sort (``partials.split_groups``);
    a bucket's rows keep their batch order."""
    for batch in batches:
        keys = Keys.from_arrow(batch.column(0))
        if len(keys) == 0:
            continue
        uniq, order, bounds = split_groups(batch.column(1))
        pos, h1 = hash_rows(keys, config)
        pos, h1 = pos[order], h1[order]
        for b, lo, hi in zip(uniq, bounds, bounds[1:]):
            yield int(b), pos[lo:hi], h1[lo:hi]


def _bucket_partials_gen(config: FilterConfig):
    """mapInArrow generator over (__key, __bucket) batches.

    Streams Arrow batches through per-bucket ``PositionAccumulator``s
    instead of materializing a whole bucket as one pandas DataFrame
    (the round-1 ``groupBy().applyInPandas`` shape held 1/num_buckets of
    the dataset in memory on one executor — an OOM at 100 TB).  Peak
    memory is one Arrow batch + the accumulators (bitset-sized, not
    row-sized).  A bucket is entirely within one partition because the
    input is hash-repartitioned on ``__bucket``, so the one-partial-row
    -per-bucket resume invariant is preserved."""
    m = config.m
    num_bytes = config.num_bytes

    def gen(batches):
        t0 = time.time()
        accs = {}  # bucket -> [accumulator, rows, fingerprint]
        with np.errstate(over="ignore"):
            for b, pos, h1 in _bucket_splits(batches, config):
                st = accs.setdefault(
                    b, [PositionAccumulator(m, num_bytes), 0, np.uint64(0)]
                )
                st[0].add(pos)
                st[1] += len(h1)
                st[2] = st[2] + h1.sum()
        if not accs:
            return
        rows_out = {k: [] for k in
                    ("bucket", "rows", "ones", "fingerprint", "t_ms", "kind", "bitset")}
        elapsed = (time.time() - t0) * 1000.0
        for b, (acc, rows, fp) in sorted(accs.items()):
            kind, ones, payload = acc.finish()
            rows_out["bucket"].append(b)
            rows_out["rows"].append(rows)
            rows_out["ones"].append(int(ones))
            rows_out["fingerprint"].append(wrap_fingerprint(fp))
            rows_out["t_ms"].append(elapsed / len(accs))
            rows_out["kind"].append(kind)
            rows_out["bitset"].append(payload)
        yield pa.RecordBatch.from_pydict(rows_out, schema=_BUCKET_PA_SCHEMA)

    return gen


def completed_buckets(spark: SparkSession, checkpoint_dir: str) -> List[int]:
    """Buckets whose partials already exist (the resume skip-list)."""
    path = os.path.join(checkpoint_dir, "partials")
    if not os.path.exists(path) or not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return []
    return [
        r["bucket"]
        for r in spark.read.parquet(path).select("bucket").distinct().collect()
    ]


def _resume_buckets(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    checkpoint_dir: str,
    num_buckets: int,
    overwrite_if_exists: bool,
    gen,
    schema: str,
    counting: bool,
):
    """Open (or start) the checkpoint in ``checkpoint_dir``, build the
    partials of its missing buckets with the mapInArrow ``gen`` and
    append them to ``partials/``.  -> (every bucket row, resumed
    buckets, built buckets).  A counting checkpoint also needs the same
    counter width."""
    spark = df.sparkSession
    os.makedirs(checkpoint_dir, exist_ok=True)
    config_path = os.path.join(checkpoint_dir, "config.json")
    partials_path = os.path.join(checkpoint_dir, "partials")

    if os.path.exists(config_path) and not overwrite_if_exists:
        existing = FilterConfig.from_dict(json.load(open(config_path))["config"])
        if not existing.is_compatible_to(config) or (
            counting and existing.counting_bits != config.counting_bits
        ):
            raise ValueError(
                f"Checkpoint at {checkpoint_dir} holds an incompatible config "
                f"{existing}; pass overwrite_if_exists=True to rebuild."
            )
    else:
        if overwrite_if_exists and os.path.exists(partials_path):
            shutil.rmtree(partials_path, ignore_errors=True)
        with open(config_path, "w") as f:
            json.dump({"config": config.to_dict(), "num_buckets": num_buckets}, f)

    meta = json.load(open(config_path))
    if meta["num_buckets"] != num_buckets:
        # resuming with a different bucket count would rebuild already-
        # done key ranges under a new pmod partitioning, and saturating-
        # add merge (unlike OR) is NOT idempotent — checkpointed keys
        # would silently double-count
        raise ValueError(
            f"Checkpoint was started with num_buckets={meta['num_buckets']}, "
            f"got {num_buckets}"
        )

    done = set(completed_buckets(spark, checkpoint_dir))
    missing = [b for b in range(num_buckets) if b not in done]
    if missing:
        keyed = df.select(key_column(col).alias("__key")).withColumn(
            "__bucket", F.pmod(F.xxhash64(F.col("__key")), F.lit(num_buckets))
        )
        if len(missing) < num_buckets:
            keyed = keyed.where(F.col("__bucket").isin(missing))
        keyed.repartition(num_buckets, "__bucket").mapInArrow(
            gen, schema=schema
        ).write.mode("append").parquet(partials_path)
    # Arrow collect — binary payloads
    return collect_rows(spark.read.parquet(partials_path)), done, missing


def _write_lineage(checkpoint_dir, num_buckets, done, missing, lineage, **extra):
    with open(os.path.join(checkpoint_dir, "lineage.json"), "w") as f:
        json.dump(
            {
                "num_buckets": num_buckets,
                "resumed_buckets": sorted(done),
                "built_buckets": missing,
                "total_rows": int(sum(l["rows"] for l in lineage.values())),
                **extra,
                "buckets": lineage,
            },
            f,
            indent=2,
        )


def build_bloom_checkpointed(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    checkpoint_dir: str,
    *,
    num_buckets: int = 32,
    overwrite_if_exists: bool = False,
) -> BloomFilter:
    """Build (or resume building) a Bloom filter with durable per-bucket
    partials and lineage.

    Kill the job at any point; re-running with the same arguments scans
    only the buckets whose partials are missing and produces a
    byte-identical filter.
    """
    all_rows, done, missing = _resume_buckets(
        df, col, config, checkpoint_dir, num_buckets, overwrite_if_exists,
        _bucket_partials_gen(config), BUCKET_SCHEMA, counting=False,
    )
    acc = merge_bloom_payloads(
        [r["kind"] for r in all_rows], [r["bitset"] for r in all_rows], config
    )
    lineage = {}
    for row in all_rows:
        lineage[str(row["bucket"])] = {
            "rows": row["rows"],
            "ones": row["ones"],
            "fingerprint": row["fingerprint"],
            "t_ms": row["t_ms"],
        }
    bf = BloomFilter(config, acc)
    with open(os.path.join(checkpoint_dir, "bitset.bin"), "wb") as f:
        f.write(bf.to_bytes())
    _write_lineage(
        checkpoint_dir, num_buckets, done, missing, lineage,
        ones=bf.cardinality(),
        estimated_population=bf.get_estimated_population(),
    )
    return bf


def load(checkpoint_dir: str) -> Optional[BloomFilter]:
    """Load a completed filter from a checkpoint dir (load-or-create
    read side, RedisKeys.java:35-57 analog)."""
    config_path = os.path.join(checkpoint_dir, "config.json")
    bits_path = os.path.join(checkpoint_dir, "bitset.bin")
    if not (os.path.exists(config_path) and os.path.exists(bits_path)):
        return None
    config = FilterConfig.from_dict(json.load(open(config_path))["config"])
    with open(bits_path, "rb") as f:
        return BloomFilter.from_bytes(config, f.read())


def remove(checkpoint_dir: str) -> None:
    """Delete filter + metadata (BloomFilter.remove, java:183-185 analog)."""
    shutil.rmtree(checkpoint_dir, ignore_errors=True)


COUNTING_BUCKET_SCHEMA = (
    "bucket int, rows bigint, nonzero bigint, fingerprint bigint, "
    "t_ms double, counters binary"
)

_COUNTING_BUCKET_PA_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("rows", pa.int64()),
        ("nonzero", pa.int64()),
        ("fingerprint", pa.int64()),
        ("t_ms", pa.float64()),
        ("counters", pa.binary()),
    ]
)


def _bucket_counters_gen(config: FilterConfig):
    """mapInArrow generator over (__key, __bucket) batches: one dense
    counter array per bucket — same O(batch + sketch) memory argument
    as :func:`_bucket_partials_gen`."""
    m = config.m
    dt = counter_dtype(config.counting_bits)
    mx = counter_max(config.counting_bits)

    def gen(batches):
        t0 = time.time()
        states = {}  # bucket -> [counters, rows, fingerprint]
        with np.errstate(over="ignore"):
            for b, pos, h1 in _bucket_splits(batches, config):
                st = states.setdefault(b, [np.zeros(m, dtype=dt), 0, np.uint64(0)])
                upos, ucnt = np.unique(pos.ravel(), return_counts=True)
                wide = st[0][upos].astype(np.uint64) + ucnt.astype(np.uint64)
                np.minimum(wide, np.uint64(mx), out=wide)
                st[0][upos] = wide.astype(dt)
                st[1] += len(h1)
                st[2] = st[2] + h1.sum()
        if not states:
            return
        cols = {k: [] for k in
                ("bucket", "rows", "nonzero", "fingerprint", "t_ms", "counters")}
        elapsed = (time.time() - t0) * 1000.0
        for b, (counters, rows, fp) in sorted(states.items()):
            cols["bucket"].append(b)
            cols["rows"].append(rows)
            cols["nonzero"].append(int(np.count_nonzero(counters)))
            cols["fingerprint"].append(wrap_fingerprint(fp))
            cols["t_ms"].append(elapsed / len(states))
            cols["counters"].append(counters.tobytes())
        yield pa.RecordBatch.from_pydict(cols, schema=_COUNTING_BUCKET_PA_SCHEMA)

    return gen


def build_counting_checkpointed(
    df: DataFrame,
    col: str,
    config: FilterConfig,
    checkpoint_dir: str,
    *,
    num_buckets: int = 32,
    overwrite_if_exists: bool = False,
):
    """Checkpoint-resumable counting build (same content-addressed
    bucketing and lineage as the plain filter; merge = saturating add,
    which is associative, so resume order is irrelevant)."""
    all_rows, done, missing = _resume_buckets(
        df, col, config, checkpoint_dir, num_buckets, overwrite_if_exists,
        _bucket_counters_gen(config), COUNTING_BUCKET_SCHEMA, counting=True,
    )
    cbf = CountingBloomFilter(config)
    lineage = {}
    for row in all_rows:
        if len(row["counters"]) == 0:
            lineage[str(row["bucket"])] = {
                "rows": 0, "nonzero": 0, "fingerprint": 0, "t_ms": 0.0,
            }
            continue
        add_counting_payload(
            cbf.counters, "cdense", row["counters"], config, cbf._on_overflow
        )
        lineage[str(row["bucket"])] = {
            "rows": row["rows"],
            "nonzero": row["nonzero"],
            "fingerprint": row["fingerprint"],
            "t_ms": row["t_ms"],
        }
    with open(os.path.join(checkpoint_dir, "counters.bin"), "wb") as f:
        f.write(cbf.to_bytes())
    _write_lineage(checkpoint_dir, num_buckets, done, missing, lineage)
    return cbf


def load_counting(checkpoint_dir: str):
    """Load a completed counting filter from its checkpoint dir."""
    config_path = os.path.join(checkpoint_dir, "config.json")
    bits_path = os.path.join(checkpoint_dir, "counters.bin")
    if not (os.path.exists(config_path) and os.path.exists(bits_path)):
        return None
    config = FilterConfig.from_dict(json.load(open(config_path))["config"])
    with open(bits_path, "rb") as f:
        return CountingBloomFilter.from_bytes(config, f.read())
