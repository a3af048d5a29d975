"""Checkpoint-resumable builds with per-partition lineage + metrics.

The Spark replacement for the reference's named-filter persistence
(config stored under the filter name with load-or-create semantics,
redis/helper/RedisKeys.java:35-57; ``overwriteIfExists``,
FilterBuilder.java:241-244).

Layout of a checkpoint directory:

    <dir>/config.json            filter configuration + build parameters
    <dir>/partials/              parquet: one row per bucket
        (bucket, rows, ones, fingerprint, t_ms, kind, bitset), or for
        counting (bucket, rows, nonzero, overflows, fingerprint, t_ms,
        counters)
    <dir>/bitset.bin             final merged bitset (written when complete)
    <dir>/lineage.json           per-bucket lineage + metrics snapshot

Resumability: rows are bucketed by ``pmod(xxhash64(key), num_buckets)``
— a deterministic content-addressed partitioning, so a bucket's input
(and therefore its partial) is identical across runs over the same
table.  On resume, buckets already present in ``partials/`` are skipped
and only missing buckets are scanned and rebuilt; the final filter is
byte-identical to a cold build (asserted in tests/test_checkpoint.py).
Every file outside ``partials/`` is written atomically
(:func:`write_atomic`), so a killed build never leaves a short
``bitset.bin`` behind.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import List, Optional

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import key_column
from .counting import CountingBloomFilter
from .filter import BloomFilter
from .params import FilterConfig
from .partials import (
    BloomFeed,
    CountingFeed,
    add_counting_payload,
    collect_rows,
    map_stage1,
    merge_bloom_payloads,
)

BUCKET_SCHEMA = pa.schema(
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


def write_atomic(path: str, data) -> None:
    """Write ``data`` (bytes or str) to ``path`` through a temp file and
    ``os.replace``: a reader, or a process killed mid-write, sees the
    old file or the new one, never a short one."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
            f.write(data)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def write_or_check_meta(path: str, meta: dict, compatible, hint: str) -> None:
    """The meta file of a state directory: written (atomically) when
    absent, else read back, and a ``ValueError`` unless
    ``compatible(stored)`` — state built under other parameters would
    silently merge wrong bits or counts."""
    if not os.path.exists(path):
        write_atomic(path, json.dumps(meta))
        return
    with open(path) as f:
        stored = json.load(f)
    if not compatible(stored):
        raise ValueError(
            f"{path} holds {stored}, but this build was given {meta}; {hint}"
        )


def _stored_scopes(spark: SparkSession, partials_path: str, scope: str) -> List[int]:
    if not os.path.exists(partials_path) or not any(
        f.endswith(".parquet") for f in os.listdir(partials_path)
    ):
        return []
    return [
        r[scope]
        for r in spark.read.parquet(partials_path).select(scope).distinct().collect()
    ]


def completed_buckets(spark: SparkSession, checkpoint_dir: str) -> List[int]:
    """Buckets whose partials already exist (the resume skip-list)."""
    return _stored_scopes(spark, os.path.join(checkpoint_dir, "partials"), "bucket")


def _resume_buckets(
    df: DataFrame,
    value: Column,
    checkpoint_dir: str,
    num_buckets: int,
    meta_name: str,
    meta: dict,
    compatible,
    feed,
    schema: pa.Schema,
    overwrite_if_exists: bool = False,
):
    """Open (or start) the checkpoint in ``checkpoint_dir``, build the
    partials of its missing buckets and append them to ``partials/``.
    -> (every bucket row, resumed buckets, built buckets).

    ``meta`` (with ``num_buckets``) goes to ``meta_name`` or must be
    ``compatible`` with what is there.  Rows are bucketed by
    ``pmod(xxhash64(value), num_buckets)`` and the buckets' rows are
    placed whole on one task each, so the one stage-1 generator emits
    one ``schema`` row per bucket (its first column).  A bucket is built
    exactly once, so resuming is safe for non-idempotent merges too."""
    spark = df.sparkSession
    os.makedirs(checkpoint_dir, exist_ok=True)
    meta_path = os.path.join(checkpoint_dir, meta_name)
    partials_path = os.path.join(checkpoint_dir, "partials")
    if overwrite_if_exists:
        write_atomic(meta_path, json.dumps(meta))
        shutil.rmtree(partials_path, ignore_errors=True)
    # resuming with a different bucket count would rebuild already-done
    # key ranges under a new pmod partitioning, and saturating-add merge
    # (unlike OR) is NOT idempotent — checkpointed keys would silently
    # double-count
    write_or_check_meta(
        meta_path, meta,
        lambda stored: stored["num_buckets"] == num_buckets and compatible(stored),
        "resume with the stored parameters, or rebuild (clear the "
        "directory, or pass overwrite_if_exists=True)",
    )

    scope = schema.names[0]
    done = set(_stored_scopes(spark, partials_path, scope))
    missing = [b for b in range(num_buckets) if b not in done]
    if missing:
        keyed = df.select(value.alias("__v")).withColumn(
            "__bucket", F.pmod(F.xxhash64(F.col("__v")), F.lit(num_buckets))
        )
        if len(missing) < num_buckets:
            keyed = keyed.where(F.col("__bucket").isin(missing))
        map_stage1(
            keyed.repartition(num_buckets, "__bucket"), schema, feed, scoped=True
        ).write.mode("append").parquet(partials_path)
    # mergeSchema: buckets written before a column was added read it as null
    stored = spark.read.option("mergeSchema", "true").parquet(partials_path)
    return collect_rows(stored), done, missing


def _config_meta(config: FilterConfig, num_buckets: int, counting: bool):
    """(meta, compatible) of a bloom or counting checkpoint: same m, k
    and hash method, and for counting the same counter width."""

    def compatible(stored):
        existing = FilterConfig.from_dict(stored["config"])
        return existing.is_compatible_to(config) and (
            not counting or existing.counting_bits == config.counting_bits
        )

    return {"config": config.to_dict(), "num_buckets": num_buckets}, compatible


def _write_lineage(checkpoint_dir, num_buckets, done, missing, lineage, **extra):
    write_atomic(
        os.path.join(checkpoint_dir, "lineage.json"),
        json.dumps(
            {
                "num_buckets": num_buckets,
                "resumed_buckets": sorted(done),
                "built_buckets": missing,
                "total_rows": int(sum(l["rows"] for l in lineage.values())),
                **extra,
                "buckets": lineage,
            },
            indent=2,
        ),
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
        df, key_column(col), checkpoint_dir, num_buckets, "config.json",
        *_config_meta(config, num_buckets, counting=False), BloomFeed(config),
        BUCKET_SCHEMA, overwrite_if_exists,
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
    write_atomic(os.path.join(checkpoint_dir, "bitset.bin"), bf.to_bytes())
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


COUNTING_BUCKET_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("rows", pa.int64()),
        ("nonzero", pa.int64()),
        ("overflows", pa.int64()),
        ("fingerprint", pa.int64()),
        ("t_ms", pa.float64()),
        ("counters", pa.binary()),
    ]
)


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
    which is associative, so resume order is irrelevant).  Each bucket
    stores its dense counter array and the clamps its build counted
    (``overflows``; null in buckets written before the column existed,
    read as 0), so a resumed filter reports the cold build's
    ``overflow_count``."""
    all_rows, done, missing = _resume_buckets(
        df, key_column(col), checkpoint_dir, num_buckets, "config.json",
        *_config_meta(config, num_buckets, counting=True),
        CountingFeed(config, dense=True), COUNTING_BUCKET_SCHEMA,
        overwrite_if_exists,
    )
    cbf = CountingBloomFilter(config)
    lineage = {}
    for row in all_rows:
        add_counting_payload(
            cbf.counters, "cdense", row["counters"], config, cbf._on_overflow
        )
        cbf._overflows += row.get("overflows") or 0
        lineage[str(row["bucket"])] = {
            "rows": row["rows"],
            "nonzero": row["nonzero"],
            "fingerprint": row["fingerprint"],
            "t_ms": row["t_ms"],
        }
    write_atomic(os.path.join(checkpoint_dir, "counters.bin"), cbf.to_bytes())
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
