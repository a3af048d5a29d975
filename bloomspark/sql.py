"""SQL-callable surface: register built filters as named Spark SQL
functions, so `spark.sql(...)` queries (BI tools, notebook users, SQL
pipelines) can probe a sketch without touching the DataFrame API.

The reference exposes probes as Java methods (BloomFilter.contains,
CountingBloomFilter.getEstimatedCount); the Spark-native equivalent of
"callable from anywhere" is a registered function.  Registration
broadcasts the filter bytes ONCE (same mechanism as probe.py's UDFs);
every SQL invocation is an Arrow-batched vectorized probe, never
per-row Python.

Keys hash as their string form (build.key_column semantics), and the
registered functions CAST their argument to string internally, so
``seen(o_orderkey)`` works on any column type — matching
``with_membership(df, "o_orderkey", bf)`` bit-for-bit.

The fast tier (fast.py) is deliberately NOT registered here: its
probes are pure Column expression trees (no function call at all) —
use ``with_fast_membership`` or inline the expression; a SQL-named
wrapper would route them through Python and forfeit the tier's point.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf

from .counting import CountingBloomFilter
from .filter import BloomFilter
from .probe import _estimated_count_fn, _membership_fn


def _coerce_str(keys: pa.Array) -> pa.Array:
    # SQL callers pass any type; normalize like key_column's
    # cast("string") with one Arrow cast, which renders ints in decimal
    # and bools as true/false exactly like the JVM.  Float types are
    # REJECTED (round-7 advice): Arrow's repr ("0.0001", "10000000")
    # diverges from the JVM cast's Java Double.toString form ("1.0E-4",
    # "1.0E7") that the build side hashed, which would silently produce
    # false negatives; every other type is rejected the same way.  Cast
    # to string in SQL (CAST(x AS STRING)) so the JVM renders the key.
    t = keys.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return keys
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return pc.cast(keys, pa.string())
    why = (
        "float-typed arguments bit-faithfully (Arrow and Java "
        "Double.toString render them differently)"
        if pa.types.is_floating(t)
        else f"{t}-typed arguments bit-faithfully (only string, integer "
        "and boolean keys render like the JVM cast)"
    )
    raise ValueError(
        f"registered bloom SQL functions cannot hash {why}; CAST the "
        "argument to STRING in the SQL so the JVM formats it"
    )


def register_membership(
    spark: SparkSession, name: str, bloom: BloomFilter
) -> None:
    """Register ``name(key) -> boolean``: bulk ``contains`` against a
    snapshot of ``bloom`` (re-register after mutating the filter)."""
    contains = _membership_fn(spark, bloom)

    @arrow_udf("boolean")
    def probe(keys: pa.Array) -> pa.Array:
        return contains(_coerce_str(keys))

    spark.udf.register(name, probe)


def register_estimated_count(
    spark: SparkSession, name: str, cbf: CountingBloomFilter
) -> None:
    """Register ``name(key) -> long``: bulk Minimum-Selection count
    estimates against a snapshot of ``cbf``."""
    estimate = _estimated_count_fn(spark, cbf)

    @arrow_udf("long")
    def probe(keys: pa.Array) -> pa.Array:
        return estimate(_coerce_str(keys))

    spark.udf.register(name, probe)
