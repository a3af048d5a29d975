"""Membership / frequency probes as vectorized DataFrame columns.

The Spark analog of the reference's pipelined bulk reads
(redis/BloomFilterRedis.java:75-97 bulk contains,
redis/CountingBloomFilterRedis.java:159-165 bulk counts) and of its
read-slave scaling (FilterBuilder.addReadSlave, RedisBitSet.java:37):
the merged filter is broadcast once and every executor probes its local
copy — a broadcast semi-join against a sketch.

Implemented as Arrow-native scalar UDFs over the broadcast bytes
(``arrow_udf`` — the batch reaches the worker as a pyarrow Array whose
UTF-8 buffers :meth:`Keys.from_arrow` views zero-copy; the earlier
pandas UDFs paid one Python string object per probe row just crossing
the serializer).  All k positions and bit tests are computed in numpy
per batch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.functions import arrow_udf

from .build import key_column
from .counting import CountingBloomFilter, counter_dtype
from .filter import BloomFilter, test_positions
from .hashing import Keys, get_hash_fn
from .params import FilterConfig


def _keys_from_arrow_any(arr) -> Keys:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return Keys.from_arrow(arr)


def _membership_fn(spark, bloom: BloomFilter):
    """Broadcast a snapshot of ``bloom`` and return the batch body every
    single-filter membership UDF shares: string keys -> booleans."""
    bc = spark.sparkContext.broadcast((bloom.config.to_dict(), bloom.to_bytes()))

    def contains(keys: pa.Array) -> pa.Array:
        cfg_dict, raw = bc.value
        cfg = FilterConfig.from_dict(cfg_dict)
        bits = np.frombuffer(raw, dtype=np.uint8)
        kb = _keys_from_arrow_any(keys)
        pos = get_hash_fn(cfg.hash_method)(kb, cfg.m, cfg.k)
        return pa.array(test_positions(bits, pos))

    return contains


def _estimated_count_fn(spark, cbf: CountingBloomFilter):
    """Broadcast a snapshot of ``cbf`` and return the shared batch body:
    string keys -> Minimum-Selection count estimates."""
    bc = spark.sparkContext.broadcast((cbf.config.to_dict(), cbf.to_bytes()))

    def estimate(keys: pa.Array) -> pa.Array:
        cfg_dict, raw = bc.value
        cfg = FilterConfig.from_dict(cfg_dict)
        counters = np.frombuffer(raw, dtype=counter_dtype(cfg.counting_bits))
        kb = _keys_from_arrow_any(keys)
        pos = get_hash_fn(cfg.hash_method)(kb, cfg.m, cfg.k)
        return pa.array(counters[pos].min(axis=1).astype(np.int64))

    return estimate


def membership_udf(df_or_spark, bloom: BloomFilter):
    """A reusable BooleanType Arrow UDF testing membership in ``bloom``."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return arrow_udf(_membership_fn(spark, bloom), "boolean")


def with_membership(
    df: DataFrame, col: str, bloom: BloomFilter, out_col: str = "member"
) -> DataFrame:
    """Append a boolean membership column (bulk ``contains``)."""
    probe = membership_udf(df, bloom)
    return df.withColumn(out_col, probe(key_column(col)))


def estimated_count_udf(df_or_spark, cbf: CountingBloomFilter):
    """A reusable LongType Arrow UDF: Minimum-Selection count estimate."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return arrow_udf(_estimated_count_fn(spark, cbf), "long")


def with_estimated_count(
    df: DataFrame, col: str, cbf: CountingBloomFilter, out_col: str = "est_count"
) -> DataFrame:
    """Append the estimated frequency of each row's key (bulk
    ``getEstimatedCount``)."""
    probe = estimated_count_udf(df, cbf)
    return df.withColumn(out_col, probe(key_column(col)))
