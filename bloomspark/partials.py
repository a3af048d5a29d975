"""The partial protocol: what a partial is, how partials merge, where they
are built and how many of them reach the driver.

Every distributed build in this package has one shape (SURVEY.md §3.1):
a ``mapInArrow`` pass emits one partial per input partition (or per
(partition, group)) and the partials merge associatively.  This module
is the only one that knows that protocol:

- the wire: bloom partials are ``sparse`` (sorted uint32 positions),
  ``sparse64`` (uint64, extended m) or ``dense`` (packed little-endian
  bits); counting partials are ``csparse``/``csparse64`` (positions,
  then counts) or ``cdense`` (the counter array).  The accumulators pick
  the smaller form; every merge reads every kind and refuses others;
- the merge kernels: OR (bloom), saturating add (counting) and the
  sketch's ``merge_states``;
- ONE stage-1 generator, :func:`stage1_gen` (applied by
  :func:`map_stage1`): every build's map side — global, grouped and
  checkpoint-bucket; bloom, counting and sketch — hashes or decodes each
  Arrow batch once, splits it by scope and feeds one accumulator per
  scope;
- ONE executor-side merge, :func:`merge_groups`:
  ``groupBy(key).applyInArrow`` over ``pa.Table``, used by the tree
  merges, every grouped stage 2 and every shard merge;
- ONE tree-merge policy, :func:`tree_merge`: P -> G -> 1 on the
  executors once P partials would swamp the driver, so the driver
  collects one state;
- ONE map-side placement policy, :func:`spread_for_map_side`.
"""

from __future__ import annotations

import time
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .counting import add_saturating, counter_dtype, counter_max
from .filter import popcount
from .hashing import Keys, get_hash_fn, km_positions_h1, murmur3_32
from .params import FilterConfig

# ---------------------------------------------------------------------------
# Placement
# ---------------------------------------------------------------------------

#: Logical nodes that preserve their child's partition count — the walk
#: in :func:`plan_num_partitions` may step through these.
_PARTITION_PRESERVING = frozenset(
    {"Project", "Filter", "SubqueryAlias", "TypedFilter"}
)


def plan_num_partitions(df: DataFrame) -> Optional[int]:
    """Partition count read off the LOGICAL plan, without ``df.rdd``.

    ``df.rdd.getNumPartitions()`` forces the DataFrame -> Python-RDD
    conversion plan and measured ~0.5 s PER CALL on this host (round-7
    profiling, bench_extra.py) — it was the single largest fixed cost of
    every small build.  The common bench/production shapes end in
    ``repartition(n)`` / ``range(..., numSlices)`` under projections, so
    the count is statically known: walk down through partition-
    preserving unary nodes and read it.  Returns None when the plan
    shape is not statically decidable (callers fall back to df.rdd)."""
    try:
        node = df._jdf.queryExecution().logical()
        for _ in range(64):
            name = node.getClass().getSimpleName()
            if name == "Repartition":
                return int(node.numPartitions())
            if name == "RepartitionByExpression":
                opt = node.optNumPartitions()
                return int(opt.get()) if opt.isDefined() else None
            if name == "Range":
                opt = node.numSlices()
                return int(opt.get()) if opt.isDefined() else None
            if name == "LogicalRDD":
                # localCheckpoint()ed frames: the RDD already exists,
                # its partition count is a field read, not a plan build
                return int(node.rdd().getNumPartitions())
            if name in _PARTITION_PRESERVING:
                node = node.children().apply(0)
                continue
            return None
    except Exception:
        return None
    return None


def spread_repartition(df: DataFrame, num_partitions: int, col: str) -> DataFrame:
    """``df.repartition(n)`` for the partial builds, keyed on
    ``xxhash64(col)`` instead of round-robin.

    Round-robin repartition pays a local sort of every input partition
    (``spark.sql.execution.sortBeforeRepartition``, SPARK-23207) so that
    retried tasks reproduce their row assignment; hashing a
    deterministic per-row key needs no sort and measured 0.27 s vs
    0.63 s for the same 600k-row exchange (round-7, bench_extra).  The
    key's xxhash64 spreads evenly whenever the column has >> n distinct
    values (the build inputs' normal shape); duplicate keys co-locating
    is welcome — their positions dedupe inside one partial.  Callers
    repartitioning a near-constant column should pre-partition
    themselves.  Partial merges are associative/commutative, so ANY
    row-to-partition assignment yields the identical filter."""
    return df.repartition(num_partitions, F.xxhash64(F.col(col)))


def place_build_input(df: DataFrame, col: str, num_partitions: Optional[int]):
    """-> (input, P) for a one-partial-per-partition build: the explicit
    ``num_partitions`` spreads the input (:func:`spread_repartition`)
    and makes P exact; otherwise P is read off the plan, with
    ``df.rdd`` as the last resort."""
    if num_partitions is not None:
        return spread_repartition(df, num_partitions, col), num_partitions
    n = plan_num_partitions(df)
    return df, n if n is not None else df.rdd.getNumPartitions()


def spread_for_map_side(keyed: DataFrame, source: DataFrame, *cols) -> DataFrame:
    """Placement of a grouped stage 1 (partials per (partition, group)).

    When ``source``'s partition count is statically known and healthy
    (>= half the session's shuffle parallelism, e.g. a pre-repartitioned
    or range source) stage 1 runs directly on it: zero row shuffle, at
    most P partials per group.  Otherwise (single-row-group parquet
    scans plan as ONE partition) ``keyed`` is spread once on ``cols`` —
    (group, key-salt), which co-locates each group into a bounded
    number of cells.  Any placement yields the identical merged states
    (associative partials)."""
    shuffle_parts = max(
        int(source.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    known = plan_num_partitions(source)
    if known is not None and known * 2 >= shuffle_parts:
        return keyed
    return keyed.repartition(shuffle_parts, *cols)


def factorize_groups(groups):
    """(codes, uniques) over a possibly-null Arrow array.

    A null group gets its own code (dictionary-encoded with
    ``null_encoding='encode'``), so it builds/probes its own state like
    any other value; its unique is the Python ``None``."""
    if isinstance(groups, pa.ChunkedArray):
        groups = groups.combine_chunks()
    enc = groups.dictionary_encode(null_encoding="encode")
    codes = enc.indices.to_numpy(zero_copy_only=False)
    return codes, enc.dictionary.to_numpy(zero_copy_only=False).tolist()


def split_groups(groups):
    """Split one batch's rows by group: ``(uniques, order, bounds)``.

    ``order[bounds[i]:bounds[i + 1]]`` are the rows of ``uniques[i]``,
    in batch order — one stable argsort and one bincount per batch,
    instead of one ``codes == gi`` mask per group."""
    codes, uniq = factorize_groups(groups)
    order = np.argsort(codes, kind="stable")
    bounds = np.zeros(len(uniq) + 1, dtype=np.int64)
    np.cumsum(np.bincount(codes, minlength=len(uniq)), out=bounds[1:])
    return uniq, order, bounds.tolist()


def group_sort_key(item):
    # None scopes sort last (None is not orderable against str or int)
    return (item[0] is None, "" if item[0] is None else item[0])


# ---------------------------------------------------------------------------
# Stage-1 hashing and the wire
# ---------------------------------------------------------------------------


def hash_rows(keys, config: FilterConfig):
    """(positions, per-row uint64 fingerprint) of one batch — the
    fingerprint is murmur3(0, key), which the default KM hash computes
    anyway as h1; builds sum it per partial."""
    if config.hash_method == "Murmur3KirschMitzenmacher":
        pos, h1 = km_positions_h1(keys, config.m, config.k)
        return pos, h1.astype(np.uint64)
    pos = get_hash_fn(config.hash_method)(keys, config.m, config.k)
    return pos, murmur3_32(keys, 0).astype(np.uint64)


def wrap_fingerprint(total) -> int:
    """A uint64 fingerprint sum (or its exact int) as the non-negative
    int64 on the wire: the sum mod 2^63."""
    return int(total) % (1 << 63)


#: Dense bool-array scatter is used up to this filter size; beyond it the
#: packed-byte bincount trick keeps memory at O(m/8).
BOOL_SCATTER_LIMIT = 1 << 31
#: Partials switch to a dense bitset once the accumulated distinct
#: positions would serialize larger than the bitset itself.  Positions are
#: uint32 on the wire under the Java-int parity cap, uint64 beyond it
#: (extended mode; wire kind 'sparse64').
_SPARSE_POS_BYTES = 4
_SPARSE_KINDS = {"sparse": np.uint32, "sparse64": np.uint64}


def positions_to_dense_bits(uniq: np.ndarray, m: int, num_bytes: int) -> np.ndarray:
    """Distinct bit positions -> packed little-endian uint8 bitset.

    Small m: one bool scatter + packbits.  Huge m (> BOOL_SCATTER_LIMIT
    bits): chunked scatter so peak memory stays bounded instead of
    allocating an m-byte bool array."""
    if m <= BOOL_SCATTER_LIMIT:
        seen = np.zeros(m, dtype=bool)
        seen[uniq] = True
        bits = np.packbits(seen, bitorder="little")
        if bits.size < num_bytes:
            bits = np.pad(bits, (0, num_bytes - bits.size))
        return bits
    bits = np.zeros(num_bytes, dtype=np.uint8)
    uniq = np.sort(uniq)
    chunk_bits = BOOL_SCATTER_LIMIT >> 2
    for start in range(0, m, chunk_bits):
        lo = np.searchsorted(uniq, start)
        hi = np.searchsorted(uniq, min(start + chunk_bits, m))
        if lo == hi:
            continue
        width = min(chunk_bits, m - start)
        local = np.zeros(width, dtype=bool)
        local[uniq[lo:hi] - start] = True
        packed = np.packbits(local, bitorder="little")
        bits[start >> 3 : (start >> 3) + packed.size] |= packed
    return bits


class PositionAccumulator:
    """Per-partition distinct-positions accumulator.

    Stays sparse (concatenated position chunks, compacted by np.unique
    when they grow) and densifies only once the sparse form would be
    larger than the bitset — so a partition's cost is
    O(rows_seen * k), not O(m), when its fill is low.  This is what
    keeps per-partition work sane at 10^9-bit filters where each
    partition touches a tiny fraction of the bits."""

    __slots__ = ("m", "num_bytes", "chunks", "count", "seen", "pos_bytes")

    def __init__(self, m: int, num_bytes: int):
        self.m = m
        self.num_bytes = num_bytes
        self.chunks = []
        self.count = 0
        self.seen = None  # dense bool array once triggered
        # extended mode (m past the Java-int cap) carries uint64 positions
        self.pos_bytes = 8 if m > 0x7FFFFFFF else _SPARSE_POS_BYTES

    def add(self, pos: np.ndarray) -> None:
        flat = pos.ravel()
        if self.seen is not None:
            self.seen[flat] = True
            return
        self.chunks.append(flat)
        self.count += flat.size
        if self.count * self.pos_bytes > self.num_bytes:
            if self.m <= BOOL_SCATTER_LIMIT:
                self.seen = np.zeros(self.m, dtype=bool)
                for c in self.chunks:
                    self.seen[c] = True
                self.chunks = []
            elif self.count > (1 << 25):
                merged = np.unique(np.concatenate(self.chunks))
                self.chunks = [merged]
                self.count = merged.size

    def finish(self):
        """-> (kind, ones, payload_bytes)."""
        if self.seen is not None:
            bits = np.packbits(self.seen, bitorder="little")
            if bits.size < self.num_bytes:
                bits = np.pad(bits, (0, self.num_bytes - bits.size))
            return "dense", popcount(bits), bits.tobytes()
        uniq = (
            np.unique(np.concatenate(self.chunks))
            if self.chunks
            else np.zeros(0, dtype=np.uint32)
        )
        if uniq.size * self.pos_bytes >= self.num_bytes:
            bits = positions_to_dense_bits(uniq, self.m, self.num_bytes)
            return "dense", uniq.size, bits.tobytes()
        kind = "sparse64" if self.pos_bytes == 8 else "sparse"
        return kind, uniq.size, uniq.astype(_SPARSE_KINDS[kind]).tobytes()


def merge_bloom_payloads(
    kinds, payloads, config: Optional[FilterConfig]
) -> np.ndarray:
    """OR bloom partials of any kind into one dense bitset — the bloom
    merge kernel of every executor and driver merge.

    All sparse payloads merge through ONE concatenate+scatter (instead of
    one O(m) conversion each); dense payloads OR directly.  An unknown
    kind raises instead of being read as positions.  ``kinds=None``
    means every payload is a dense bitset (grouped and sharded tables
    carry no kind); ``config=None`` then sizes the bitset by the first
    payload (a sharded table carries no config)."""
    num_bytes = config.num_bytes if config is not None else len(payloads[0])
    acc = np.zeros(num_bytes, dtype=np.uint8)
    sparse = []
    for kind, payload in zip(kinds or ["dense"] * len(payloads), payloads):
        if kind == "dense":
            np.bitwise_or(acc, np.frombuffer(payload, dtype=np.uint8), out=acc)
        elif kind in _SPARSE_KINDS:
            sparse.append(np.frombuffer(payload, dtype=_SPARSE_KINDS[kind]))
        else:
            raise ValueError(f"unknown bloom partial kind {kind!r}")
    if sparse:
        if len({a.dtype for a in sparse}) > 1:
            sparse = [a.astype(np.uint64) for a in sparse]
        pos = np.unique(np.concatenate(sparse))
        np.bitwise_or(
            acc, positions_to_dense_bits(pos, config.m, config.num_bytes), out=acc
        )
    return acc


#: Dense counting partials allocate an m x dtype array; past this byte
#: size the accumulator stays sparse regardless of fill (extended-m
#: filters never densify — a 2^33-slot uint16 array is 16 GiB).
COUNTING_DENSE_ALLOC_LIMIT = 1 << 31
#: Compact the sparse (pos, cnt) chunks once this many entries
#: accumulate (bounds the transient memory between compactions).
_COUNTING_COMPACT_ENTRIES = 1 << 24


def _sum_by_position(pos: np.ndarray, cnt: np.ndarray):
    """(sorted distinct positions, per-position uint64 count sums) via
    one argsort + cumsum-diff — the vectorized groupBy-sum that keeps
    compaction O(E log E) with no np.add.at scatter."""
    order = np.argsort(pos, kind="stable")
    sp = pos[order]
    sc = cnt[order].astype(np.uint64)
    if sp.size == 0:
        return sp, sc
    boundaries = np.flatnonzero(sp[1:] != sp[:-1]) + 1
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [sp.size]))
    csum = np.concatenate(([np.uint64(0)], np.cumsum(sc, dtype=np.uint64)))
    return sp[starts], csum[ends] - csum[starts]


class CounterAccumulator:
    """Per-partition (position -> count) accumulator, the counting twin
    of :class:`PositionAccumulator` (round-3 verdict item 1: the dense
    ``m x dtype`` partial was the last m-proportional wire payload).

    Stays sparse — (pos, cnt) chunk pairs, compacted by a sort-merge sum
    when they grow — and densifies only once the sparse wire form would
    exceed the dense array AND the dense array is allocatable.  A
    partition's memory and wire cost is O(distinct positions seen), not
    O(m): what keeps the PARTIALS and their tree merge m-free at
    extended m (m > 2^31) — note ``build_counting`` still materializes
    an m-sized driver array at the very end and guards that allocation
    with ``max_driver_bytes``; only the sharded counting tier avoids
    O(m) driver memory outright.  Same reason the reference's Redis counting tier
    pipelines sparse position->count maps instead of shipping the
    counter array (redis/CountingBloomFilterRedis.java:55-108).

    Counts saturate at the counter max during compaction; saturating add
    is associative up to saturation, so clamping early vs late yields
    the same final counters.  ``overflows`` counts clamp events (same
    at-least-once granularity as the previous per-batch clamping).
    """

    __slots__ = (
        "m", "dt", "mx", "pos_dt", "entry_bytes", "dense_bytes",
        "dense_limit", "pos_chunks", "cnt_chunks", "count", "dense",
        "overflows",
    )

    def __init__(self, config: FilterConfig, dense_limit: Optional[int] = None):
        self.m = config.m
        self.dt = counter_dtype(config.counting_bits)
        self.mx = np.uint64(counter_max(config.counting_bits))
        self.pos_dt = np.uint64 if config.m > 0x7FFFFFFF else np.uint32
        self.entry_bytes = np.dtype(self.pos_dt).itemsize + self.dt.itemsize
        self.dense_bytes = config.m * self.dt.itemsize
        self.dense_limit = (
            COUNTING_DENSE_ALLOC_LIMIT if dense_limit is None else dense_limit
        )
        self.pos_chunks = []
        self.cnt_chunks = []
        self.count = 0
        self.dense = None
        self.overflows = 0

    @classmethod
    def factory(cls, config: FilterConfig):
        """A no-argument constructor with the dense policy frozen on the
        driver, so a policy override reaches the executors with the
        closure."""
        dense_limit = COUNTING_DENSE_ALLOC_LIMIT
        return lambda: cls(config, dense_limit)

    @classmethod
    def dense_factory(cls, config: FilterConfig):
        """A no-argument constructor of accumulators that are dense from
        the start and always finish as ``cdense`` (checkpoint buckets
        store the counter array)."""

        def new():
            acc = cls(config)
            acc.dense = np.zeros(acc.m, dtype=acc.dt)
            return acc

        return new

    def _add_dense(self, upos: np.ndarray, ucnt: np.ndarray) -> None:
        wide = self.dense[upos].astype(np.uint64) + ucnt.astype(np.uint64)
        over = int(np.count_nonzero(wide > self.mx))
        if over:
            self.overflows += over
            np.minimum(wide, self.mx, out=wide)
        self.dense[upos] = wide.astype(self.dt)

    def add(self, pos: np.ndarray, weight: int = 1) -> None:
        # per-batch pre-aggregation: positions -> distinct (pos, count)
        upos, ucnt = np.unique(pos.ravel(), return_counts=True)
        if weight != 1:
            ucnt = ucnt * weight
        self.add_pairs(upos, ucnt)

    def add_pairs(self, upos: np.ndarray, ucnt: np.ndarray) -> None:
        """Accumulate pre-aggregated (position, count) pairs (positions
        MAY repeat across calls — compaction sums them)."""
        if self.dense is not None:
            self._add_dense(upos, ucnt)
            return
        self.pos_chunks.append(upos)
        self.cnt_chunks.append(ucnt.astype(np.uint64))
        self.count += upos.size
        if (
            self.count * self.entry_bytes > self.dense_bytes
            and self.dense_bytes <= self.dense_limit
        ):
            self.dense = np.zeros(self.m, dtype=self.dt)
            for upos, ucnt in zip(self.pos_chunks, self.cnt_chunks):
                self._add_dense(upos, ucnt)
            self.pos_chunks, self.cnt_chunks = [], []
        elif self.count > _COUNTING_COMPACT_ENTRIES:
            self._compact()

    def add_payload(self, kind: str, payload: bytes, config: FilterConfig) -> None:
        """Accumulate one wire partial of any kind — makes the
        accumulator double as the sparse-in, sparse-out merge kernel
        (never materializes an m-sized array at extended m)."""
        if kind in ("cdense", "", None):
            arr = np.frombuffer(payload, dtype=self.dt)
            nz = np.nonzero(arr)[0]
            self.add_pairs(nz.astype(self.pos_dt), arr[nz].astype(np.uint64))
            return
        pos, cnt = _decode_counting_pairs(kind, payload, config)
        if pos.size:
            self.add_pairs(pos, cnt.astype(np.uint64))

    def _compact(self) -> None:
        upos, sums = _sum_by_position(
            np.concatenate(self.pos_chunks), np.concatenate(self.cnt_chunks)
        )
        over = int(np.count_nonzero(sums > self.mx))
        if over:
            self.overflows += over
            np.minimum(sums, self.mx, out=sums)
        self.pos_chunks, self.cnt_chunks = [upos], [sums]
        self.count = upos.size

    def finish(self):
        """-> (kind, nonzero, overflows, payload_bytes)."""
        if self.dense is not None:
            return (
                "cdense",
                int(np.count_nonzero(self.dense)),
                self.overflows,
                self.dense.tobytes(),
            )
        if self.pos_chunks:
            self._compact()
            upos, sums = self.pos_chunks[0], self.cnt_chunks[0]
        else:
            upos = np.zeros(0, dtype=self.pos_dt)
            sums = np.zeros(0, dtype=np.uint64)
        kind = "csparse64" if self.pos_dt is np.uint64 else "csparse"
        payload = upos.astype(self.pos_dt).tobytes() + sums.astype(self.dt).tobytes()
        return kind, int(upos.size), self.overflows, payload


def _decode_counting_pairs(kind: str, payload: bytes, config: FilterConfig):
    """sparse counting payload -> (positions, counts) arrays."""
    if kind not in ("csparse", "csparse64"):
        raise ValueError(f"unknown counting partial kind {kind!r}")
    pos_dt = np.uint64 if kind == "csparse64" else np.uint32
    dt = counter_dtype(config.counting_bits)
    entry = np.dtype(pos_dt).itemsize + dt.itemsize
    n = len(payload) // entry
    split = n * np.dtype(pos_dt).itemsize
    pos = np.frombuffer(payload, dtype=pos_dt, count=n)
    cnt = np.frombuffer(payload, dtype=dt, count=n, offset=split)
    return pos, cnt


def add_counting_payload(
    acc: np.ndarray, kind: str, payload: bytes, config: FilterConfig, on_overflow
) -> None:
    """Saturating-add ONE counting partial of any wire kind into a dense
    counter array — the dense counting merge kernel (grouped and shard
    merges, driver final merges, checkpoint resume), so mixed
    sparse/dense fleets always merge."""
    dt = counter_dtype(config.counting_bits)
    mx = counter_max(config.counting_bits)
    if kind in ("cdense", "", None):  # '' / None: dense payloads without a kind
        add_saturating(acc, np.frombuffer(payload, dtype=dt), mx, on_overflow)
        return
    pos, cnt = _decode_counting_pairs(kind, payload, config)
    if pos.size == 0:
        return
    wide = acc[pos].astype(np.uint64) + cnt.astype(np.uint64)
    over = int(np.count_nonzero(wide > np.uint64(mx)))
    if over:
        on_overflow(over)
        np.minimum(wide, np.uint64(mx), out=wide)
    acc[pos] = wide.astype(acc.dtype)


def merge_counting_payloads(
    kinds, payloads, config: FilterConfig, on_overflow=lambda n: None
) -> np.ndarray:
    """Saturating sum of counting partials of any kind into one dense
    counter array (``kinds=None``: all dense); ``on_overflow(n)`` sees
    each clamp."""
    acc = np.zeros(config.m, dtype=counter_dtype(config.counting_bits))
    for kind, payload in zip(kinds or ["cdense"] * len(payloads), payloads):
        add_counting_payload(acc, kind, payload, config, on_overflow)
    return acc


def merge_sketch_payloads(sketch, payloads):
    """Fold serialized sketch states with ``sketch.merge_states`` (an
    empty fold is ``new_state()``)."""
    state = None
    for payload in payloads:
        other = sketch.deserialize(bytes(payload))
        state = other if state is None else sketch.merge_states(state, other)
    return sketch.new_state() if state is None else state


# ---------------------------------------------------------------------------
# Stage 1: the one map-side generator
# ---------------------------------------------------------------------------

#: Per-task budget for the shares a flushing (grouped) stage 1 hands its
#: live accumulators; past it the accumulated partials flush as an early
#: record batch and accumulation restarts (stage 2 merges any number of
#: partials per scope).  Read on the driver when a generator is built.
_STAGE1_FLUSH_BYTES = 128 << 20


def _position_counts(codes: np.ndarray, n: int, pos: np.ndarray, m: int):
    """Counting split: ``(positions, counts)`` per scope code of one
    batch.  ONE ``np.unique`` over the batch's (code, position) cells
    pre-aggregates every scope at once — the pairs
    ``CounterAccumulator.add`` derives, without a call per scope."""
    if n * m >= 1 << 63:  # cells would overflow int64
        return [np.unique(pos[codes == i], return_counts=True) for i in range(n)]
    cells, counts = np.unique(
        codes.astype(np.int64)[:, None] * m + pos.astype(np.int64),
        return_counts=True,
    )
    bounds = np.searchsorted(cells, np.arange(n + 1) * m).tolist()
    return [
        ((cells[lo:hi] - i * m).astype(pos.dtype), counts[lo:hi])
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
    ]


class BloomFeed:
    """Stage-1 feed of a bloom build.  A batch's keys are hashed once —
    with :func:`hash_rows` when the partial carries a fingerprint — and
    each scope's positions go to its :class:`PositionAccumulator`."""

    #: bloom shares are slices of the positions sorted by scope
    sorts = True

    def __init__(self, config: FilterConfig):
        self.config = config
        m, num_bytes = config.m, config.num_bytes
        self.new = lambda: PositionAccumulator(m, num_bytes)

    def split(self, values: pa.Array, scopes, fingerprint: bool):
        """-> ``[(scope, rows, h1 sum, share)]`` of one batch."""
        config = self.config
        keys = Keys.from_arrow(values)
        if fingerprint:
            pos, h1 = hash_rows(keys, config)
        else:
            pos = get_hash_fn(config.hash_method)(keys, config.m, config.k)
            h1 = None
        if scopes is None:
            return [(None, len(keys), 0 if h1 is None else h1.sum(),
                     self._whole(pos))]
        codes, uniq = factorize_groups(scopes)
        rows = np.bincount(codes, minlength=len(uniq))
        ends = np.cumsum(rows)
        order = None
        if self.sorts or h1 is not None:
            order = np.argsort(codes, kind="stable")
        fps = [0] * len(uniq) if h1 is None else np.add.reduceat(h1[order], ends - rows)
        shares = self._shares(codes, len(uniq), pos, order, ends)
        return list(zip(uniq, rows.tolist(), fps, shares))

    @staticmethod
    def _whole(pos):
        return pos

    @staticmethod
    def _shares(codes, n, pos, order, ends):
        return np.split(pos[order], ends[:-1])

    @staticmethod
    def add(acc, pos) -> None:
        acc.add(pos)

    @staticmethod
    def finish(acc) -> dict:
        kind, ones, payload = acc.finish()
        return {"kind": kind, "ones": ones, "payload": payload}


class CountingFeed(BloomFeed):
    """Stage-1 feed of a counting build: each scope's (position, count)
    pairs go to its :class:`CounterAccumulator` — one that is dense from
    the start when ``dense`` (checkpoint buckets store the counter
    array).  A scoped batch is split by :func:`_position_counts`, with
    no sort unless the partial carries a fingerprint."""

    sorts = False

    def __init__(self, config: FilterConfig, weight: int = 1, dense: bool = False):
        self.config, self.weight = config, weight
        factory = CounterAccumulator.dense_factory if dense else CounterAccumulator.factory
        self.new = factory(config)

    @staticmethod
    def _whole(pos):
        return np.unique(pos.ravel(), return_counts=True)

    def _shares(self, codes, n, pos, order, ends):
        return _position_counts(codes, n, pos, self.config.m)

    def add(self, acc, pairs) -> None:
        upos, ucnt = pairs
        acc.add_pairs(upos, ucnt * self.weight if self.weight != 1 else ucnt)

    @staticmethod
    def finish(acc) -> dict:
        kind, nonzero, overflows, payload = acc.finish()
        return {"kind": kind, "nonzero": nonzero, "overflows": overflows,
                "payload": payload}


def decode_values(arr: pa.Array, numeric: bool):
    """A sketch's values of one Arrow array: float64 with NULL and NaN
    dropped (numeric), else ``Keys`` (a NULL key reads as the empty
    string, as on every hash path)."""
    if not numeric:
        return Keys.from_arrow(arr)
    vals = np.asarray(arr.drop_null(), dtype=np.float64)
    nan = np.isnan(vals)
    return vals[~nan] if nan.any() else vals


class SketchFeed:
    """Stage-1 feed of a sketch build: a batch keeps its Arrow values;
    each scope's share is decoded by :func:`decode_values` and updates
    that scope's state.  ``rows`` counts the values folded, so NULL and
    NaN numeric values are not counted."""

    def __init__(self, sketch):
        self.sketch = sketch
        self.new = sketch.new_state

    def split(self, values: pa.Array, scopes, fingerprint: bool):
        if scopes is None:
            parts = [(None, values)]
        else:
            uniq, order, bounds = split_groups(scopes)
            values = values.take(order)
            parts = [(g, values.slice(lo, hi - lo))
                     for g, lo, hi in zip(uniq, bounds, bounds[1:])]
        out = []
        for scope, arr in parts:
            vals = decode_values(arr, self.sketch.numeric)
            out.append((scope, len(vals), 0, vals))
        return out

    def add(self, state, vals) -> None:
        if len(vals):
            self.sketch.update(state, vals)

    def finish(self, state) -> dict:
        return {"payload": self.sketch.serialize(state)}


def _nbytes(share) -> int:
    return sum(a.nbytes for a in share) if isinstance(share, tuple) else share.nbytes


def stage1_gen(schema: pa.Schema, feed, *, scoped: bool = False, flush: bool = False):
    """THE map-side generator of every build (``mapInArrow``).

    Input batches carry the values in column 0 and, when ``scoped``, the
    scope — a group or a checkpoint bucket — in column 1.  ``feed``
    (:class:`BloomFeed`, :class:`CountingFeed`, :class:`SketchFeed`)
    prepares each batch once, splits it by scope with one sort and hands
    each scope's share to that scope's ``feed.new()`` accumulator.  A
    scope-less build has one scope, its partition id, and never sorts.

    Emits rows of ``schema``, filled by column name: the scope (the
    schema's first column), ``rows``, ``fingerprint`` (the wrapped h1
    sum; only a schema with the column pays for h1), ``t_ms`` (the
    task's time, split evenly over the scopes of one emit) and what
    ``feed.finish`` returns: ``kind``, the stats, and ``payload``, which
    fills the schema's last column.  With ``flush`` (grouped builds)
    the partials emit early whenever the shares handed to live
    accumulators pass :data:`_STAGE1_FLUSH_BYTES`; otherwise each scope
    gets one partial per task (a checkpoint bucket's rows all land in
    one task)."""
    fingerprint = "fingerprint" in schema.names
    flush_bytes = _STAGE1_FLUSH_BYTES if flush else None
    scope_col, payload_col = schema.names[0], schema.names[-1]

    def emit(accs, t0):
        t_ms = (time.time() - t0) * 1000.0 / len(accs)
        cols = {name: [] for name in schema.names}
        for scope, (acc, rows, fp) in sorted(accs.items(), key=group_sort_key):
            row = feed.finish(acc)
            row.update({scope_col: scope, payload_col: row.pop("payload"),
                        "rows": rows, "fingerprint": wrap_fingerprint(fp),
                        "t_ms": t_ms})
            for name, col in cols.items():
                col.append(row[name])
        return pa.RecordBatch.from_pydict(cols, schema=schema)

    def gen(batches):
        t0 = time.time()
        accs = {}  # scope -> [accumulator, rows, h1 sum]
        if not scoped:
            ctx = TaskContext.get()
            part = ctx.partitionId() if ctx else -1
            accs[part] = [feed.new(), 0, 0]
        pending = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            scopes = batch.column(1) if scoped else None
            for scope, rows, fp, share in feed.split(batch.column(0), scopes, fingerprint):
                key = scope if scoped else part
                st = accs.get(key)
                if st is None:
                    st = accs[key] = [feed.new(), 0, 0]
                feed.add(st[0], share)
                st[1] += rows
                st[2] += int(fp)
                pending += _nbytes(share)
            if flush_bytes is not None and pending > flush_bytes:
                yield emit(accs, t0)
                accs, pending, t0 = {}, 0, time.time()
        if accs:
            yield emit(accs, t0)

    return gen


def map_stage1(
    df: DataFrame, schema: pa.Schema, feed, *, scoped: bool = False, flush: bool = False
) -> DataFrame:
    """``df.mapInArrow`` of :func:`stage1_gen`: the partials of a build,
    with the columns of ``schema``."""
    return df.mapInArrow(
        stage1_gen(schema, feed, scoped=scoped, flush=flush),
        schema=from_arrow_schema(schema),
    )


# ---------------------------------------------------------------------------
# Kernels and the one executor-side merge
# ---------------------------------------------------------------------------


def _kinds(tbl: pa.Table):
    """The ``kind`` column, or None for tables of dense states that
    carry none (grouped, sharded)."""
    return tbl.column("kind").to_pylist() if "kind" in tbl.column_names else None


def bloom_kernel(config: Optional[FilterConfig]):
    """OR kernel for :func:`merge_groups`: ``(kind,) bitset`` rows ->
    ``ones``, ``kind`` (always ``dense``) and ``bitset``
    (``config=None``: dense rows only, see :func:`merge_bloom_payloads`)."""

    def merge(tbl: pa.Table) -> dict:
        bits = merge_bloom_payloads(
            _kinds(tbl), tbl.column("bitset").to_pylist(), config
        )
        return {"ones": popcount(bits), "kind": "dense", "bitset": bits.tobytes()}

    return merge


def counting_kernel(config: FilterConfig, *, sparse: bool = False):
    """Saturating-add kernel for :func:`merge_groups`: ``(kind,)
    counters`` rows -> ``nonzero``, ``overflows`` (clamped by this
    merge), ``kind`` and ``counters``.

    ``sparse=False`` emits the dense counter array (the grouped and
    sharded tables); ``sparse=True`` merges through
    :class:`CounterAccumulator`, which re-chooses the wire form and
    never allocates m counters at extended m (the tree merge)."""
    new_acc = CounterAccumulator.factory(config)

    def merge(tbl: pa.Table) -> dict:
        kinds = _kinds(tbl)
        payloads = tbl.column("counters").to_pylist()
        if sparse:
            acc = new_acc()
            for kind, payload in zip(kinds or ["cdense"] * len(payloads), payloads):
                acc.add_payload(kind, payload, config)
            kind, nonzero, overflows, payload = acc.finish()
            return {"nonzero": nonzero, "overflows": overflows,
                    "kind": kind, "counters": payload}
        clamped = []
        counters = merge_counting_payloads(kinds, payloads, config, clamped.append)
        return {"nonzero": int(np.count_nonzero(counters)),
                "overflows": sum(clamped), "kind": "cdense",
                "counters": counters.tobytes()}

    return merge


def sketch_kernel(sketch):
    """``merge_states`` kernel for :func:`merge_groups`: ``payload``
    rows -> ``payload``."""

    def merge(tbl: pa.Table) -> dict:
        state = merge_sketch_payloads(sketch, tbl.column("payload").to_pylist())
        return {"payload": sketch.serialize(state)}

    return merge


#: Bookkeeping columns a merge sums over its input rows; a kernel's own
#: value for one of them (the overflows its merge clamped) adds on top.
_SUMMED = ("rows", "t_ms", "overflows")


def merge_groups(df: DataFrame, key: str, kernel, schema: pa.Schema) -> DataFrame:
    """THE executor-side partial merge: ``groupBy(key).applyInArrow``,
    one output row per key with the columns of ``schema``.

    ``key`` passes through; ``rows``, ``t_ms`` and ``overflows`` are
    summed; ``fingerprint`` is the wrapped uint64 sum; every other
    column is what ``kernel(one key's pa.Table)`` returns for it.
    Kernels are associative and commutative, so Spark may group and
    order the rows in any way."""

    def merge(tbl: pa.Table) -> pa.Table:
        merged = kernel(tbl)
        cols = {}
        for field in schema:
            name = field.name
            if name == key:
                cols[name] = tbl.column(name).slice(0, 1)
                continue
            if name in _SUMMED:
                value = pc.sum(tbl.column(name)).as_py() + merged.get(name, 0)
            elif name == "fingerprint":
                value = wrap_fingerprint(
                    tbl.column(name).to_numpy().astype(np.uint64).sum()
                )
            else:
                value = merged[name]
            cols[name] = pa.array([value], field.type)
        return pa.table(cols, schema=schema)

    return df.groupBy(key).applyInArrow(merge, schema=from_arrow_schema(schema))


# ---------------------------------------------------------------------------
# Tree merge and collect
# ---------------------------------------------------------------------------

#: Partials are tree-merged on executors before the driver sees them
#: whenever their total upper-bound size exceeds this (collecting
#: gigabytes of partials through the driver socket is the scaling
#: bottleneck).
TREE_MERGE_COLLECT_BYTES = 128 << 20
#: Fan-in of the first executor-side merge level.
DEFAULT_TREE_MERGE_GROUPS = 16


def tree_merge(
    partials: DataFrame,
    n_parts: int,
    state_bytes: int,
    kernel,
    schema: pa.Schema,
    threshold: Optional[int] = None,
    groups: int = DEFAULT_TREE_MERGE_GROUPS,
) -> DataFrame:
    """The one tree-merge policy over ``part_id``-keyed partials.

    Engages above ``threshold`` partitions when given, else when more
    than 8 partials of up to ``state_bytes`` each would exceed
    :data:`TREE_MERGE_COLLECT_BYTES`.  Then two executor-side levels,
    P -> ``groups`` -> 1, so the driver collects ONE state: the
    driver-side serial fraction is what caps scaling efficiency."""
    if threshold is not None:
        engage = n_parts > threshold
    else:
        engage = n_parts > 8 and n_parts * state_bytes > TREE_MERGE_COLLECT_BYTES
    if not engage:
        return partials
    for part_id in (F.pmod(F.col("part_id"), F.lit(groups)), F.lit(0)):
        partials = merge_groups(
            partials.withColumn("part_id", part_id), "part_id", kernel, schema
        )
    return partials


def collect_rows(df: DataFrame):
    """Collect partial rows through the Arrow path — row-based collect()
    of multi-MB binary payloads through py4j is several times slower.
    ``toArrow`` always collects Arrow batches, whatever the session's
    ``spark.sql.execution.arrow.pyspark.enabled``."""
    return df.toArrow().to_pylist()
