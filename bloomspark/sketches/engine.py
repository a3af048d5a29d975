"""Generic mergeable-sketch partial aggregation over Spark.

One harness for every sketch in this package — the exact shape of the
Bloom build (build.py:220-310, the Spark replacement for the reference's
shared-Redis-state distribution layer): scan -> ``mapInArrow`` partial
per partition -> optional executor tree merge -> associative driver
merge.  A sketch plugs in five functions; the harness owns partitioning,
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

from ..build import (
    _collect_arrow,
    _resolve_num_partitions,
    _should_tree_merge,
    key_column,
    spread_repartition,
)
from ..hashing import Keys

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


def _merge_partials_udf(sketch):
    import pandas as pd

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        state = None
        for payload in pdf["payload"]:
            other = sketch.deserialize(bytes(payload))
            state = other if state is None else sketch.merge_states(state, other)
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].min())],
                "rows": [int(pdf["rows"].sum())],
                "t_ms": [float(pdf["t_ms"].sum())],
                "payload": [sketch.serialize(state)],
            }
        )

    return merge


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
    tree_merge_groups: int = 16,
) -> SketchHandle:
    """Distributed sketch build.  No shuffle in the default path; the
    executor tree merge engages when P partials would swamp the driver
    (same policy/threshold as the Bloom build)."""
    n_parts = _resolve_num_partitions(df, num_partitions)
    if num_partitions is not None:
        df = spread_repartition(df, num_partitions, col)
    partials = build_sketch_partials(df, col, sketch)
    if _should_tree_merge(n_parts, sketch.payload_bytes(), tree_merge_threshold):
        partials = (
            partials.withColumn(
                "part_id", F.pmod(F.col("part_id"), F.lit(tree_merge_groups))
            )
            .groupBy("part_id")
            .applyInPandas(_merge_partials_udf(sketch), schema=SKETCH_PARTIAL_SCHEMA)
        )
    rows = _collect_arrow(partials)
    state = None
    for r in rows:
        other = sketch.deserialize(bytes(r["payload"]))
        state = other if state is None else sketch.merge_states(state, other)
    if state is None:
        state = sketch.new_state()
    lineage = [
        {"part_id": r["part_id"], "rows": r["rows"], "t_ms": r["t_ms"]} for r in rows
    ]
    return SketchHandle(sketch, state, int(sum(r["rows"] for r in rows)), lineage)


GROUPED_SKETCH_SCHEMA = "group string, rows bigint, payload binary"


def build_sketch_per_group(
    df: DataFrame,
    group_col: str,
    col: str,
    sketch,
    *,
    salt_partitions: int = 8,
) -> DataFrame:
    """One sketch per group -> DataFrame (group, rows, payload) — the
    grouped twin of :func:`build_sketch`, same two-phase salted shape
    as ``build_bloom_per_group`` (grouped.py): stage 1 accumulates one
    state per (group, salt slice) inside ``mapInArrow``, stage 2 merges
    each group's <= salt_partitions states.  Sketch states never touch
    the driver; the classic use is approx-distinct / quantiles PER
    TENANT at a group count where per-group exact aggregation would
    shuffle the full table."""
    import pandas as pd

    numeric = sketch.numeric
    keyed = df.select(
        F.col(group_col).cast("string").alias("__group"),
        _value_column(col, numeric).alias("__v"),
        F.pmod(
            F.xxhash64(_value_column(col, numeric)), F.lit(salt_partitions)
        ).alias("__salt"),
    )

    from ..grouped import _group_sort_key, _split_groups

    def stage1(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        states: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # one null-safe sort split per batch (a null group is a
            # group of its own); slices keep each group's batch order
            uniq, order, bounds = _split_groups(batch.column(0))
            vals_all = batch.column(1).take(order)
            for g, lo, hi in zip(uniq, bounds, bounds[1:]):
                vals = _decode(vals_all.slice(lo, hi - lo), numeric)
                st = states.setdefault(g, [sketch.new_state(), 0])
                sketch.update(st[0], vals)
                st[1] += hi - lo
        if not states:
            return
        cols = {"group": [], "rows": [], "payload": []}
        for g, (st, rows) in sorted(states.items(), key=_group_sort_key):
            cols["group"].append(g)
            cols["rows"].append(rows)
            cols["payload"].append(sketch.serialize(st))
        yield pa.RecordBatch.from_pydict(
            cols,
            schema=pa.schema(
                [("group", pa.string()), ("rows", pa.int64()),
                 ("payload", pa.binary())]
            ),
        )

    def stage2(pdf):
        state = None
        for payload in pdf["payload"]:
            other = sketch.deserialize(bytes(payload))
            state = other if state is None else sketch.merge_states(state, other)
        return pd.DataFrame(
            {
                "group": [pdf["group"].iloc[0]],
                "rows": [int(pdf["rows"].sum())],
                "payload": [sketch.serialize(state)],
            }
        )

    # map-side stage 1 when the input's partitioning is statically
    # healthy (round-7, same policy as grouped._spread_keyed): no keyed
    # row shuffles, stage 2 merges <= P states per group; otherwise
    # spread once on (group, salt) as before
    from ..build import plan_num_partitions

    shuffle_parts = max(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    known = plan_num_partitions(df)
    if known is None or known * 2 < shuffle_parts:
        keyed = keyed.repartition(shuffle_parts, "__group", "__salt")
    partials = keyed.mapInArrow(stage1, schema=GROUPED_SKETCH_SCHEMA)
    return partials.groupBy("group").applyInPandas(
        stage2, schema=GROUPED_SKETCH_SCHEMA
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

        from ..grouped import _split_groups

        def gen(batches):
            t0 = time.time()
            states = {}
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                uniq, order, bounds = _split_groups(batch.column(1))
                vals_all = batch.column(0).take(order)
                for b, lo, hi in zip(uniq, bounds, bounds[1:]):
                    vals = _decode(vals_all.slice(lo, hi - lo), numeric)
                    st = states.setdefault(int(b), [sketch.new_state(), 0])
                    sketch.update(st[0], vals)
                    st[1] += hi - lo
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

    rows = _collect_arrow(spark.read.parquet(partials_path))
    state = None
    for r in rows:
        other = sketch.deserialize(bytes(r["payload"]))
        state = other if state is None else sketch.merge_states(state, other)
    if state is None:
        state = sketch.new_state()
    lineage = [
        {"bucket": r["part_id"], "rows": r["rows"], "t_ms": r["t_ms"],
         "resumed": r["part_id"] in done}
        for r in rows
    ]
    import json as _json
    with open(os.path.join(checkpoint_dir, "lineage.json"), "w") as f:
        _json.dump({"num_buckets": num_buckets, "buckets": lineage}, f, indent=2)
    return SketchHandle(sketch, state, int(sum(r["rows"] for r in rows)), lineage)
