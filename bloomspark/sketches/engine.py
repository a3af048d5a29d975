"""Generic mergeable-sketch partial aggregation over Spark.

One harness for every sketch in this package — the exact shape of the
Bloom build (build.py, the Spark replacement for the reference's
shared-Redis-state distribution layer): scan -> ``mapInArrow`` partial
per partition -> optional executor tree merge -> associative driver
merge, with the stage-1 generator, tree merge, placement and merge
routine of partials.py and the checkpoint resume of checkpoint.py.  A
sketch plugs in five functions; the harness owns partitioning, Arrow
decoding, lineage metrics and tree-merge sizing.  ``rows`` everywhere
counts the values folded into a state: NULL and NaN numeric values are
dropped before folding (a NULL key folds as the empty string, as on
every hash path).

Sketch contract (duck-typed; see hll.py for the smallest example):

- ``new_state()``                      -> opaque state
- ``update(state, values)``            values = Keys (string mode) or
                                       float64 ndarray (numeric mode)
- ``merge_states(a, b)``               -> merged state (associative)
- ``serialize(state)`` / ``deserialize(bytes)``
- ``numeric``                          class attr: False = hash keys,
                                       True = numeric column
"""

from __future__ import annotations

import json
import os
from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..build import key_column
from ..checkpoint import _resume_buckets, write_atomic
from ..partials import (
    DEFAULT_TREE_MERGE_GROUPS,
    SketchFeed,
    collect_rows,
    map_stage1,
    merge_groups,
    merge_sketch_payloads,
    place_build_input,
    sketch_kernel,
    spread_for_map_side,
    tree_merge,
)

SKETCH_PARTIAL_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("rows", pa.int64()),
        ("t_ms", pa.float64()),
        ("payload", pa.binary()),
    ]
)

GROUPED_SKETCH_SCHEMA = pa.schema(
    [("group", pa.string()), ("rows", pa.int64()), ("payload", pa.binary())]
)


def _value_column(col: str, numeric: bool):
    return F.col(col).cast("double") if numeric else key_column(col)


def build_sketch_partials(df: DataFrame, col: str, sketch) -> DataFrame:
    """One (part_id, rows, t_ms, payload) row per input partition;
    ``rows`` counts the values folded (NULL and NaN numeric values are
    not)."""
    sel = df.select(_value_column(col, sketch.numeric).alias("__v"))
    return map_stage1(sel, SKETCH_PARTIAL_SCHEMA, SketchFeed(sketch))


def _merged_sketch_partials(
    df: DataFrame,
    col: str,
    sketch,
    num_partitions: Optional[int] = None,
    tree_merge_threshold: Optional[int] = None,
    tree_merge_groups: int = DEFAULT_TREE_MERGE_GROUPS,
) -> DataFrame:
    """The partials a sketch build collects: one per input partition,
    or ONE after the executor tree merge."""
    df, n_parts = place_build_input(df, col, num_partitions)
    return tree_merge(
        build_sketch_partials(df, col, sketch), n_parts, sketch.payload_bytes(),
        sketch_kernel(sketch), SKETCH_PARTIAL_SCHEMA,
        tree_merge_threshold, tree_merge_groups,
    )


class SketchHandle:
    """Driver-side result of a distributed sketch build: the merged
    state plus per-partial lineage metrics (rows, wall)."""

    __slots__ = ("sketch", "state", "rows", "partials")

    def __init__(self, sketch, state, rows, partials):
        self.sketch = sketch
        self.state = state
        self.rows = rows
        self.partials = partials

    def __getattr__(self, name):
        # result API (estimate/query/quantile/...) delegates to the
        # sketch with the merged state bound as first arg
        fn = getattr(self.sketch, name)
        return lambda *a, **kw: fn(self.state, *a, **kw)


def build_sketch(
    df: DataFrame,
    col: str,
    sketch,
    *,
    num_partitions: Optional[int] = None,
    tree_merge_threshold: Optional[int] = None,
    tree_merge_groups: int = DEFAULT_TREE_MERGE_GROUPS,
) -> SketchHandle:
    """Distributed sketch build.  No shuffle in the default path; the
    executor tree merge engages when P partials would swamp the driver
    (``partials.tree_merge``, the policy of the Bloom build)."""
    rows = collect_rows(_merged_sketch_partials(
        df, col, sketch, num_partitions, tree_merge_threshold, tree_merge_groups
    ))
    state = merge_sketch_payloads(sketch, [r["payload"] for r in rows])
    lineage = [
        {"part_id": r["part_id"], "rows": r["rows"], "t_ms": r["t_ms"]} for r in rows
    ]
    return SketchHandle(sketch, state, int(sum(r["rows"] for r in rows)), lineage)


def build_sketch_per_group(
    df: DataFrame,
    group_col: str,
    col: str,
    sketch,
    *,
    salt_partitions: int = 8,
) -> DataFrame:
    """One sketch per group -> DataFrame (group, rows, payload) — the
    grouped twin of :func:`build_sketch`, same two-phase shape as
    ``build_bloom_per_group`` (grouped.py): stage 1 accumulates one
    state per (input partition, group) inside ``mapInArrow``, placed by
    ``partials.spread_for_map_side``; stage 2 merges each group's
    states through ``partials.merge_groups``.  Sketch states never
    touch the driver; the classic use is approx-distinct / quantiles
    PER TENANT at a group count where per-group exact aggregation would
    shuffle the full table.  ``rows`` counts the values folded, as in
    :func:`build_sketch`."""
    keyed = df.select(
        _value_column(col, sketch.numeric).alias("__v"),
        F.col(group_col).cast("string").alias("__group"),
    )
    placed = spread_for_map_side(
        keyed, df, F.col("__group"),
        F.pmod(F.xxhash64(F.col("__v")), F.lit(salt_partitions)),
    )
    partials = map_stage1(
        placed, GROUPED_SKETCH_SCHEMA, SketchFeed(sketch), scoped=True, flush=True
    )
    return merge_groups(
        partials, "group", sketch_kernel(sketch), GROUPED_SKETCH_SCHEMA
    )


def sketch_values_per_group(
    grouped: DataFrame, sketch, method: str = "estimate", args: tuple = ()
) -> DataFrame:
    """Evaluate a sketch result method per group -> (group, rows,
    value double), executor-side (states never reach the driver)."""

    def apply(tbl: pa.Table) -> pa.Table:
        vals = [
            float(getattr(sketch, method)(sketch.deserialize(p), *args))
            for p in tbl.column("payload").to_pylist()
        ]
        return pa.table({
            "group": tbl.column("group"),
            "rows": tbl.column("rows"),
            "value": pa.array(vals, pa.float64()),
        })

    return grouped.groupBy("group").applyInArrow(
        apply, schema="group string, rows bigint, value double"
    )


def build_sketch_checkpointed(
    df: DataFrame,
    col: str,
    sketch,
    checkpoint_dir: str,
    *,
    num_buckets: int = 32,
) -> SketchHandle:
    """Checkpoint-resumable sketch build with per-bucket lineage.

    Rows are bucketed by ``pmod(xxhash64(value), num_buckets)`` — the
    same content-addressed partitioning as the Bloom checkpoint
    (checkpoint.py:16-22) — so each bucket's partial is a pure function
    of the input table and a killed build resumes by scanning only the
    missing buckets.  No partial is ever applied twice (each bucket is
    built exactly once), so the scheme is safe even for sketches whose
    merge is not idempotent (count-min adds); num_buckets is validated
    against the stored config for the same reason.
    """
    desc = sketch.describe()
    meta = {"sketch": desc, "num_buckets": num_buckets}
    rows, done, _ = _resume_buckets(
        df, _value_column(col, sketch.numeric), checkpoint_dir, num_buckets,
        "sketch.json", meta, lambda stored: stored["sketch"] == desc,
        SketchFeed(sketch), SKETCH_PARTIAL_SCHEMA,
    )
    state = merge_sketch_payloads(sketch, [r["payload"] for r in rows])
    lineage = [
        {"bucket": r["part_id"], "rows": r["rows"], "t_ms": r["t_ms"],
         "resumed": r["part_id"] in done}
        for r in rows
    ]
    write_atomic(
        os.path.join(checkpoint_dir, "lineage.json"),
        json.dumps({"num_buckets": num_buckets, "buckets": lineage}, indent=2),
    )
    return SketchHandle(sketch, state, int(sum(r["rows"] for r in rows)), lineage)
