"""The workloads: set-up, one timed step, and the output checks.

Each workload caches its seeded inputs and then runs timed steps.  A step
has a build/update phase and a probe phase; every call in them is an
operation that counts as attempted, and as failed when it raises or its
output fails a check.  Every call runs together with the Spark action
that forces it (``localCheckpoint``, or an aggregate that consumes the
probe column), so its time covers the work and not just plan
construction.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import bloomspark as bs

from . import inputs

P_TARGET = 0.01
PARTS = 8


class Failed(Exception):
    """An operation raised; the run cannot go on."""


class Ops:
    """Counts the operations of one process and times them in spans.

    A step returns ``{"build": {call: seconds}, "probe": {call: seconds}}``."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def call(self, name: str, layer: str, fn, check=None):
        """Run ``fn`` in a span and return (output, seconds).  ``check``
        gets the output and returns True when it is correct; it runs after
        the clock stops."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer):
                out = fn()
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"{name}: raised {exc!r}"[:300])
            raise Failed(name) from exc
        dt = time.perf_counter() - t0
        if check is not None and not check(out):
            self.failed += 1
            self.failures.append(f"{name}: output check failed")
        return out, dt

    def check(self, name: str, ok: bool) -> None:
        """A check made outside the timed calls."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: check failed")


def cached(df: DataFrame) -> DataFrame:
    df = df.cache()
    df.count()
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` in executor memory and cut its lineage."""
    return df.localCheckpoint(eager=True)


def noop_udf():
    """An Arrow UDF that does no work: a constant column per batch."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("boolean")
    def noop(keys: pa.Array) -> pa.Array:
        return pa.array(np.zeros(len(keys), dtype=bool))

    return noop


def probe_summary(out: DataFrame, est: Column, expect: Column, true: Column) -> dict:
    """Consume a probe in one aggregate.  ``under`` counts rows whose
    estimate is below ``expect`` (false negatives for membership, estimates
    below the true count for counting filters); ``fp`` counts rows with
    true count 0 and a positive estimate; ``rel_err`` sums
    (estimate - true) / true over present rows."""
    present = true > 0
    return out.agg(
        F.sum((est < expect).cast("long")).alias("under"),
        F.sum(F.when(~present, (est > 0).cast("long")).otherwise(0)).alias("fp"),
        F.sum((~present).cast("long")).alias("absent"),
        F.sum(present.cast("long")).alias("present"),
        F.sum(est).alias("est_sum"),
        F.sum(F.when(present, (est - true) / true).otherwise(0.0)).alias("rel_err"),
    ).collect()[0].asDict()


class LayerInputs:
    """What the traced layer suite needs from a workload: its build keys
    (``key``, ``group``), a probe (``key``, ``present``) and their sizes."""

    def __init__(self, keys, probe, distinct_keys, groups, keys_per_group, hash_method):
        self.keys = keys
        self.probe = probe
        self.distinct_keys = distinct_keys
        self.groups = groups
        self.keys_per_group = keys_per_group
        self.hash_method = hash_method


class Workload:
    name = ""
    hash_method = "Murmur3KirschMitzenmacher"
    #: Untimed steps in set-up.  One would run every call kind once; two,
    #: because calls keep speeding up over the first steps of a process.
    WARM_STEPS = 2

    def __init__(self, spark, seed: int, ops: Ops):
        self.spark = spark
        self.seed = seed
        self.ops = ops
        self.quality = None  # (fpp_ratio, count_error) of the first step
        self._noop = noop_udf()

    def reference(self) -> int:
        """The reference job, timed before every step to track the host's
        speed: the probe keys through an Arrow UDF that does no work, summed
        in one aggregate.  It has the probes' shape (cached scan, Arrow
        round trip to the Python workers, aggregate) and no bloomspark
        code."""
        m = self._noop(F.col("key")).cast("long")
        return self.probe.agg(F.sum(m)).collect()[0][0]

    def record_quality(self, fpp_ratio: float, count_error: float) -> None:
        """Both are deterministic for a seed, and every step repeats the
        same inputs, so every step must read the same."""
        q = (fpp_ratio, count_error)
        if self.quality is None:
            self.quality = q
        if q != self.quality:
            self.ops.check("fpp_ratio and count_error repeat", False)


# ---------------------------------------------------------------------------


class RepoIndex(Workload):
    """One global standard filter over distinct content shas, then a probe
    of half present, half absent keys."""

    name = "repo_index"
    ROWS = 2_000_000
    PROBE_ROWS = 1_000_000
    TENANTS = 500

    def setup(self) -> None:
        self.rows = self.ROWS
        self.config = bs.FilterConfig.complete(n=self.rows, p=P_TARGET,
                                               hash_method=self.hash_method)
        # the builds read only the key columns, so only those are cached
        self.table = cached(inputs.repo_index_table(
            self.spark, self.seed, self.rows, PARTS, self.TENANTS).select("repo", "sha"))
        self.probe = cached(inputs.repo_index_probe(
            self.spark, self.seed, self.PROBE_ROWS, PARTS))

    def step(self) -> dict:
        bf, t_build = self.ops.call(
            "build.build_bloom", "build",
            lambda: bs.build_bloom(self.table, "sha", self.config),
            lambda f: f.cardinality() > 0,
        )
        res, t_probe = self.ops.call(
            "probe.with_membership", "probe",
            lambda: self._probe(bf),
            lambda r: r["under"] == 0,
        )
        self.record_quality(
            res["fp"] / res["absent"] / P_TARGET,
            # repo_index has no counting filter.  Its count_error is the
            # standard filter's bulk count, (members reported - members
            # present) / members present over the probe.  With no false
            # negatives (checked) that is fp / present, a rescaled copy of
            # fpp_ratio with no signal of its own.
            (res["est_sum"] - res["present"]) / res["present"],
        )
        return {"build": {"build_bloom": t_build}, "probe": {"with_membership": t_probe}}

    def _probe(self, bf) -> dict:
        out = bs.with_membership(self.probe, "key", bf)
        true = F.col("present").cast("long")
        return probe_summary(out, F.col("member").cast("long"), true, true)

    def run_checks(self) -> None:
        absent = self.probe.where(~F.col("present")).select("key")
        present = self.table.select(F.col("sha").alias("key"))
        self.ops.check("absent keys disjoint", inputs.disjoint_check(present, absent) == 0)

    def layer_inputs(self) -> LayerInputs:
        return LayerInputs(
            keys=self.table.select(F.col("sha").alias("key"), F.col("repo").alias("group")),
            probe=self.probe.select("key", "present"),
            distinct_keys=self.rows, groups=self.TENANTS,
            keys_per_group=self.rows // self.TENANTS, hash_method=self.hash_method,
        )


# ---------------------------------------------------------------------------


class TenantSkew(Workload):
    """Per-tenant standard and counting filters where one tenant holds half
    the rows, plus global builds keyed on the tenant column (one key is
    half the rows) with an explicit partition count."""

    name = "tenant_skew"
    KEYS_PER_TENANT = 512
    COLD_TENANTS = 512
    HOT_REPEAT = 2 * COLD_TENANTS
    HOT_PARTITIONS = 8

    def setup(self) -> None:
        self.kpt = kpt = self.KEYS_PER_TENANT
        self.tenants = self.COLD_TENANTS + 1
        self.rows = 2 * kpt * self.HOT_REPEAT
        self.gconfig = bs.FilterConfig.complete(n=kpt, p=P_TARGET)
        self.hconfig = bs.FilterConfig.complete(n=self.tenants, p=P_TARGET)
        # the hot key's count (half the rows) needs more than 16-bit counters
        self.hcconfig = bs.FilterConfig.complete(n=self.tenants, p=P_TARGET,
                                                 counting_bits=32)
        self.table = cached(inputs.tenant_skew_table(
            self.spark, self.seed, kpt, self.COLD_TENANTS, self.HOT_REPEAT, PARTS
        ).select("repo", "sha"))
        self.probe = cached(inputs.tenant_skew_probe(
            self.spark, self.seed, kpt, self.tenants, self.HOT_REPEAT, PARTS))
        self.tenant_names = inputs.tenant_names(self.tenants)
        self.tenant_rows = [kpt * self.HOT_REPEAT] + [2 * kpt] * self.COLD_TENANTS
        self.grouped = ()

    def _rows_sum_ok(self, grouped: DataFrame) -> bool:
        return grouped.agg(F.sum("rows")).collect()[0][0] == self.rows

    def step(self) -> dict:
        call = self.ops.call
        for df in self.grouped:
            df.unpersist()
        gb, t1 = call(
            "grouped.build_bloom_per_group", "grouped",
            lambda: checkpoint(bs.build_bloom_per_group(
                self.table, "repo", "sha", self.gconfig)),
            self._rows_sum_ok,
        )
        gc, t2 = call(
            "grouped.build_counting_per_group", "grouped",
            lambda: checkpoint(bs.build_counting_per_group(
                self.table, "repo", "sha", self.gconfig)),
            self._rows_sum_ok,
        )
        self.grouped = (gb, gc)
        _, t3 = call(
            "build.build_bloom", "build",
            lambda: bs.build_bloom(self.table, "repo", self.hconfig,
                                   num_partitions=self.HOT_PARTITIONS),
            lambda f: bool(f.contains_all(self.tenant_names).all()),
        )
        _, t4 = call(
            "build.build_counting", "build",
            lambda: bs.build_counting(self.table, "repo", self.hcconfig,
                                      num_partitions=self.HOT_PARTITIONS),
            lambda c: bool((c.get_estimated_counts(self.tenant_names)
                            >= self.tenant_rows).all()),
        )
        true = F.col("true_count")
        mem, t5 = call(
            "grouped.with_group_membership", "grouped",
            lambda: probe_summary(
                bs.with_group_membership(self.probe, "repo", "key", gb, self.gconfig,
                                         n_groups=self.tenants),
                F.col("member").cast("long"), F.least(true, F.lit(1)), true),
            lambda r: r["under"] == 0,
        )
        est, t6 = call(
            "grouped.with_group_estimated_count", "grouped",
            lambda: probe_summary(
                bs.with_group_estimated_count(self.probe, "repo", "key", gc,
                                              self.gconfig, n_groups=self.tenants),
                F.col("est_count"), true, true),
            lambda r: r["under"] == 0,
        )
        self.record_quality(mem["fp"] / mem["absent"] / P_TARGET,
                            est["rel_err"] / est["present"])
        return {
            "build": {"build_bloom_per_group": t1, "build_counting_per_group": t2,
                      "build_bloom": t3, "build_counting": t4},
            "probe": {"with_group_membership": t5, "with_group_estimated_count": t6},
        }

    def run_checks(self) -> None:
        absent = self.probe.where(F.col("true_count") == 0).select("key")
        present = self.table.select(F.col("sha").alias("key"))
        self.ops.check("absent keys disjoint", inputs.disjoint_check(present, absent) == 0)

    def layer_inputs(self) -> LayerInputs:
        return LayerInputs(
            keys=self.table.select(F.col("sha").alias("key"), F.col("repo").alias("group")),
            probe=self.probe.select("key", (F.col("true_count") > 0).alias("present")),
            distinct_keys=self.tenants * self.kpt, groups=self.tenants,
            keys_per_group=self.kpt, hash_method=self.hash_method,
        )


WORKLOADS = {w.name: w for w in (RepoIndex, TenantSkew)}
