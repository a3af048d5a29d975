"""Seeded in-memory inputs for the workloads.

Every table is a Spark SQL expression over ``spark.range`` (no Python per
row, no files): the benchmark caches the result in executor memory during
set-up, and bloomspark only ever sees the finished DataFrames.  The seed
enters every key through a generator tag, so the same seed gives the same
keys and another seed gives an unrelated population.  Absent-key
populations use their own tag (``...-absent``) and are checked disjoint
from the present ones by :func:`disjoint_check`.

True counts are closed-form functions of the row id, so a probe DataFrame
carries its expected answer as a column and the correctness check runs
inside the same Spark job as the probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXTS = ["py", "java", "rs", "go", "md"]
LANGS = ["python", "java", "rust", "go", "markdown"]


def _code_columns(i: F.Column, seed: int, repo: F.Column, content: F.Column):
    """The source-code table shape ``(repo, path, commit, lang, content, sha)``
    around a given repo and content expression."""
    ext_idx = (i % len(EXTS)).cast("int")
    ext = F.element_at(F.array(*[F.lit(e) for e in EXTS]), ext_idx + 1)
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), ext_idx + 1)
    path = F.concat(
        F.lit("src/mod"), (i % 13).cast("string"), F.lit("/file"),
        (i % 977).cast("string"), F.lit("."), ext,
    )
    commit = F.lower(F.hex(F.xxhash64(F.lit(seed), F.floor(i / 64))))
    return [
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
        F.sha2(content, 256).alias("sha"),
    ]


def _content(tag: str, seed: int, *parts) -> F.Column:
    cols = [F.lit(f"// {tag}{seed}")]
    for p in parts:
        cols += [F.lit(":"), p.cast("string")]
    return F.concat(*cols)


def tenant_name(t: F.Column) -> F.Column:
    return F.concat(F.lit("org"), (t % 23).cast("string"), F.lit("/repo"), t.cast("string"))


def tenant_names(tenants: int) -> list:
    """The driver-side values of :func:`tenant_name` for 0..tenants-1."""
    return [f"org{t % 23}/repo{t}" for t in range(tenants)]


# ---------------------------------------------------------------------------
# repo_index: one global filter over distinct content shas
# ---------------------------------------------------------------------------


def repo_index_table(spark: SparkSession, seed: int, rows: int, parts: int,
                     tenants: int) -> DataFrame:
    """``rows`` distinct content shas spread evenly over ``tenants`` repos."""
    i = F.col("id")
    repo = tenant_name(F.pmod(F.xxhash64(F.lit(seed), i), F.lit(tenants)))
    return spark.range(0, rows, 1, parts).select(
        *_code_columns(i, seed, repo, _content("blob", seed, i))
    )


def repo_index_probe(spark: SparkSession, seed: int, rows: int, parts: int) -> DataFrame:
    """``rows`` probe keys: even ids re-derive a present sha (the content of
    table row ``id``), odd ids come from the absent population."""
    i = F.col("id")
    present = i % 2 == 0
    key = F.when(present, F.sha2(_content("blob", seed, i), 256)).otherwise(
        F.sha2(_content("blob-absent", seed, i), 256)
    )
    return spark.range(0, rows, 1, parts).select(
        key.alias("key"), present.alias("present")
    )


# ---------------------------------------------------------------------------
# tenant_skew: one hot tenant holds half the rows
# ---------------------------------------------------------------------------


def tenant_skew_table(spark: SparkSession, seed: int, keys_per_tenant: int,
                      cold_tenants: int, hot_repeat: int, parts: int) -> DataFrame:
    """Even rows belong to tenant 0 (the hot repo: ``keys_per_tenant``
    blobs, each repeated ``hot_repeat`` times); odd rows cycle over
    ``cold_tenants`` tenants whose blobs each appear twice.  Both halves
    hold ``keys_per_tenant * hot_repeat`` rows, so ``cold_tenants * 2``
    must equal ``hot_repeat``."""
    if cold_tenants * 2 != hot_repeat:
        raise ValueError("hot and cold halves must hold the same rows")
    half = keys_per_tenant * hot_repeat
    i = F.col("id")
    j = F.floor(i / 2)
    hot = i % 2 == 0
    t = F.when(hot, F.lit(0)).otherwise(1 + j % cold_tenants)
    q = F.when(hot, j % keys_per_tenant).otherwise(
        F.floor(j / cold_tenants) % keys_per_tenant)
    return spark.range(0, 2 * half, 1, parts).select(
        *_code_columns(i, seed, tenant_name(t), _content("blob", seed, t, q))
    )


def tenant_skew_probe(spark: SparkSession, seed: int, keys_per_tenant: int,
                      tenants: int, hot_repeat: int, parts: int) -> DataFrame:
    """Every present (tenant, blob) pair with its true count, plus as many
    absent pairs (same tenants, absent-tag blobs) with true count 0."""
    n = tenants * keys_per_tenant
    i = F.col("id")
    present = i < n
    j = F.when(present, i).otherwise(i - n)
    t = F.floor(j / keys_per_tenant)
    q = j % keys_per_tenant
    key = F.when(present, F.sha2(_content("blob", seed, t, q), 256)).otherwise(
        F.sha2(_content("blob-absent", seed, t, q), 256))
    true = F.when(~present, F.lit(0)).when(t == 0, F.lit(hot_repeat)).otherwise(F.lit(2))
    return spark.range(0, 2 * n, 1, parts).select(
        tenant_name(t).alias("repo"), key.alias("key"),
        true.cast("long").alias("true_count"),
    )


# ---------------------------------------------------------------------------


def disjoint_check(present: DataFrame, absent: DataFrame) -> int:
    """Number of absent keys that also occur in the present population
    (must be 0).  Joins the keys' xxhash64 values, and the strings only
    when some hash values are shared."""
    p = present.select(F.xxhash64("key").alias("h"))
    a = absent.select(F.xxhash64("key").alias("h"))
    if p.join(a, "h", "left_semi").limit(1).count() == 0:
        return 0
    return present.join(absent, "key", "left_semi").count()
