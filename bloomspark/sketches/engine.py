"""Generic mergeable-sketch partial aggregation over Spark.

One harness for every sketch in this package — the exact shape of the
Bloom build (build.py, the Spark replacement for the reference's
shared-Redis-state distribution layer): scan -> ``mapInArrow`` partial
per partition -> optional executor tree merge -> associative driver
merge, with the tree merge, placement and merge routine of partials.py.  A sketch plugs in five functions; the harness owns partitioning,
Arrow decoding, lineage metrics, tree-merge sizing, and the
checkpoint-resume path (content-addressed buckets, identical to
checkpoint.py).

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

import time
from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..build import key_column
from ..hashing import Keys
from ..partials import (
    DEFAULT_TREE_MERGE_GROUPS,
    collect_rows,
    group_sort_key,
    merge_groups,
    merge_sketch_payloads,
    place_build_input,
    sketch_kernel,
    split_groups,
    spread_for_map_side,
    tree_merge,
)

SKETCH_PARTIAL_SCHEMA = "part_id int, rows bigint, t_ms double, payload binary"

_SKETCH_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int32()),
        ("rows", pa.int64()),
        ("t_ms", pa.float64()),
        ("payload", pa.binary()),
    ]
)


def _value_column(col: str, numeric: bool):
    return F.col(col).cast("double") if numeric else key_column(col)


def _decode(arr: pa.Array, numeric: bool):
    if numeric:
        vals = np.asarray(arr.drop_null(), dtype=np.float64)
        return vals
    return Keys.from_arrow(arr)


def build_sketch_partials(df: DataFrame, col: str, sketch) -> DataFrame:
    """One (part_id, rows, t_ms, payload) row per input partition."""
    numeric = sketch.numeric
    sel = df.select(_value_column(col, numeric).alias("__v"))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.time()
        state = sketch.new_state()
        rows = 0
        for batch in batches:
            vals = _decode(batch.column(0), numeric)
            if len(vals) == 0:
                continue
            sketch.update(state, vals)
            rows += len(vals)
        ctx = TaskContext.get()
        yield pa.RecordBatch.from_pydict(
            {
                "part_id": [ctx.partitionId() if ctx else -1],
                "rows": [rows],
                "t_ms": [(time.time() - t0) * 1000.0],
                "payload": [sketch.serialize(state)],
            },
            schema=_SKETCH_PA_SCHEMA,
        )

    return sel.mapInArrow(gen, schema=SKETCH_PARTIAL_SCHEMA)


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
        sketch_kernel(sketch), _SKETCH_PA_SCHEMA,
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


def _states_by_group(batches, sketch, group_idx: int, value_idx: int) -> dict:
    """{group: [state, rows]} over Arrow batches: each batch is split by
    its ``group_idx`` column with one null-safe sort (a null group is a
    group of its own) and each group's ``value_idx`` values, in batch
    order, update that group's state."""
    states = {}
    for batch in batches:
        if batch.num_rows == 0:
            continue
        uniq, order, bounds = split_groups(batch.column(group_idx))
        vals_all = batch.column(value_idx).take(order)
        for g, lo, hi in zip(uniq, bounds, bounds[1:]):
            vals = _decode(vals_all.slice(lo, hi - lo), sketch.numeric)
            st = states.setdefault(g, [sketch.new_state(), 0])
            sketch.update(st[0], vals)
            st[1] += hi - lo
    return states


GROUPED_SKETCH_SCHEMA = "group string, rows bigint, payload binary"

_GROUPED_SKETCH_PA_SCHEMA = pa.schema(
    [("group", pa.string()), ("rows", pa.int64()), ("payload", pa.binary())]
)


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
    shuffle the full table."""
    numeric = sketch.numeric
    keyed = df.select(
        F.col(group_col).cast("string").alias("__group"),
        _value_column(col, numeric).alias("__v"),
    )

    def stage1(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        states = _states_by_group(batches, sketch, 0, 1)
        if not states:
            return
        cols = {"group": [], "rows": [], "payload": []}
        for g, (st, rows) in sorted(states.items(), key=group_sort_key):
            cols["group"].append(g)
            cols["rows"].append(rows)
            cols["payload"].append(sketch.serialize(st))
        yield pa.RecordBatch.from_pydict(cols, schema=_GROUPED_SKETCH_PA_SCHEMA)

    placed = spread_for_map_side(
        keyed, df, F.col("__group"),
        F.pmod(F.xxhash64(F.col("__v")), F.lit(salt_partitions)),
    )
    partials = placed.mapInArrow(stage1, schema=GROUPED_SKETCH_SCHEMA)
    return merge_groups(
        partials, "group", sketch_kernel(sketch), _GROUPED_SKETCH_PA_SCHEMA
    )


def sketch_values_per_group(
    grouped: DataFrame, sketch, method: str = "estimate", args: tuple = ()
) -> DataFrame:
    """Evaluate a sketch result method per group -> (group, rows,
    value double), executor-side (states never reach the driver)."""
    import pandas as pd

    def apply(pdf):
        vals = [
            float(getattr(sketch, method)(sketch.deserialize(bytes(p)), *args))
            for p in pdf["payload"]
        ]
        return pd.DataFrame(
            {"group": pdf["group"], "rows": pdf["rows"], "value": vals}
        )

    return grouped.groupBy("group").applyInPandas(
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
    import json
    import os

    spark = df.sparkSession
    os.makedirs(checkpoint_dir, exist_ok=True)
    meta_path = os.path.join(checkpoint_dir, "sketch.json")
    partials_path = os.path.join(checkpoint_dir, "partials")
    desc = sketch.describe()
    if os.path.exists(meta_path):
        meta = json.load(open(meta_path))
        if meta["sketch"] != desc or meta["num_buckets"] != num_buckets:
            raise ValueError(
                f"Checkpoint at {checkpoint_dir} was built with "
                f"{meta['sketch']} x {meta['num_buckets']} buckets; "
                f"got {desc} x {num_buckets}"
            )
    else:
        with open(meta_path, "w") as f:
            json.dump({"sketch": desc, "num_buckets": num_buckets}, f)

    done = set()
    if os.path.exists(partials_path) and any(
        f.endswith(".parquet") for f in os.listdir(partials_path)
    ):
        done = {
            r["part_id"]
            for r in spark.read.parquet(partials_path).select("part_id").collect()
        }
    missing = [b for b in range(num_buckets) if b not in done]

    if missing:
        numeric = sketch.numeric
        keyed = df.select(_value_column(col, numeric).alias("__v")).withColumn(
            "__bucket", F.pmod(F.xxhash64(F.col("__v")), F.lit(num_buckets))
        )
        if len(missing) < num_buckets:
            keyed = keyed.where(F.col("__bucket").isin(missing))

        def gen(batches):
            t0 = time.time()
            states = _states_by_group(batches, sketch, 1, 0)
            if not states:
                return
            cols = {k: [] for k in ("part_id", "rows", "t_ms", "payload")}
            elapsed = (time.time() - t0) * 1000.0
            for b, (st, rows) in sorted(states.items()):
                cols["part_id"].append(b)
                cols["rows"].append(rows)
                cols["t_ms"].append(elapsed / len(states))
                cols["payload"].append(sketch.serialize(st))
            yield pa.RecordBatch.from_pydict(cols, schema=_SKETCH_PA_SCHEMA)

        keyed.repartition(num_buckets, "__bucket").mapInArrow(
            gen, schema=SKETCH_PARTIAL_SCHEMA
        ).write.mode("append").parquet(partials_path)

    rows = collect_rows(spark.read.parquet(partials_path))
    state = merge_sketch_payloads(sketch, [r["payload"] for r in rows])
    lineage = [
        {"bucket": r["part_id"], "rows": r["rows"], "t_ms": r["t_ms"],
         "resumed": r["part_id"] in done}
        for r in rows
    ]
    with open(os.path.join(checkpoint_dir, "lineage.json"), "w") as f:
        json.dump({"num_buckets": num_buckets, "buckets": lineage}, f, indent=2)
    return SketchHandle(sketch, state, int(sum(r["rows"] for r in rows)), lineage)
