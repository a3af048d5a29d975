"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator family from SURVEY.md §2
over the driver's parquet tables and is paired with an exact DuckDB
oracle in ``oracle_sql()``.  Sketch queries are oracle-matchable because
the hashing is deterministic and the configured FPP is set low enough
(p=1e-9) that probe results equal exact set/count semantics on this
data — verified locally at sf0.01 (scripts/check_oracles.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bloomspark import (
    BloomFilter,
    FilterConfig,
    build_bloom,
    build_bloom_per_group,
    build_counting,
    build_counting_with_removals,
    with_estimated_count,
    with_membership,
)

#: Configured so probe/count results are exact on the test data: at
#: p=1e-9 the chance of any false positive across a few thousand probes
#: is ~1e-5, and the build is deterministic, so a local pass implies a
#: driver pass.
EXACT_P = 1e-9

# Sampling-oracle thresholds: the EXACT integers pipeline/sampling.py
# computes (same float literals, same accumulation order), baked into
# the DuckDB SQL so both engines make the identical integer compare.
_SAMPLE_SPACE = 16**15
_SAMPLE_T_20 = int(0.2 * _SAMPLE_SPACE)
_cum = 0.8
_SAMPLE_T_TRAIN = int(_cum * _SAMPLE_SPACE)
_cum += 0.1
_SAMPLE_T_VAL = int(_cum * _SAMPLE_SPACE)
# stratified_sample entry: per-language rates (zh deliberately absent
# -> dropped, the sampleBy convention)
_STRATA_FRACTIONS = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.0}
_STRATA_T = {s: int(f * _SAMPLE_SPACE) for s, f in _STRATA_FRACTIONS.items()}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 'has this order been seen in lineitem?' — distributed
    Bloom build over lineitem.l_orderkey + broadcast membership probe."""
    sf_dir = "/root/testdata/sf0.001"
    lineitem = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cfg = FilterConfig.complete(n=max(lineitem.count(), 1), p=EXACT_P)
    bf = build_bloom(lineitem, "l_orderkey", cfg)
    return with_membership(orders, "o_orderkey", bf, out_col="member").select(
        "o_orderkey", "member"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core probe path: bloom on custkeys with open orders, probe customers."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    open_orders = orders.where(F.col("o_orderstatus") == "O")
    cfg = FilterConfig.complete(n=max(open_orders.count(), 1), p=EXACT_P)
    bf = build_bloom(open_orders, "o_custkey", cfg)
    return (
        with_membership(customer, "c_custkey", bf, out_col="member")
        .select("c_custkey", "member")
    )


def q_bloom_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union (bitwise OR, BloomFilterMemory.java:66-72): lossless merge."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    cfg = FilterConfig.complete(n=max(orders.count(), 1), p=EXACT_P)
    bf_o = build_bloom(orders.where(F.col("o_orderstatus") == "O"), "o_custkey", cfg)
    bf_f = build_bloom(orders.where(F.col("o_orderstatus") == "F"), "o_custkey", cfg)
    merged = bf_o.union(bf_f)
    return (
        with_membership(customer, "c_custkey", merged, out_col="member_any")
        .select("c_custkey", "member_any")
    )


def q_bloom_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect (bitwise AND, BloomFilterMemory.java:75-81): no false
    negatives for the true intersection; exact here at p=1e-9."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    cfg = FilterConfig.complete(n=max(orders.count(), 1), p=EXACT_P)
    bf_o = build_bloom(orders.where(F.col("o_orderstatus") == "O"), "o_custkey", cfg)
    bf_f = build_bloom(orders.where(F.col("o_orderstatus") == "F"), "o_custkey", cfg)
    both = bf_o.intersect(bf_f)
    return (
        with_membership(customer, "c_custkey", both, out_col="member_both")
        .select("c_custkey", "member_both")
    )


def q_cbf_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counting filter frequency estimates == exact GROUP BY counts."""
    lineitem = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    cfg = FilterConfig.complete(
        n=max(part.count(), 1), p=EXACT_P, counting_bits=32
    )
    cbf = build_counting(lineitem, "l_partkey", cfg)
    return (
        with_estimated_count(part.select("p_partkey"), "p_partkey", cbf, "est_count")
        .select("p_partkey", "est_count")
    )


def q_cbf_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed remove: counts after subtracting returned lineitems."""
    lineitem = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    cfg = FilterConfig.complete(
        n=max(part.count(), 1), p=EXACT_P, counting_bits=32
    )
    cbf = build_counting_with_removals(
        lineitem,
        lineitem.where(F.col("l_returnflag") == "R"),
        "l_partkey",
        cfg,
    )
    return (
        with_estimated_count(part.select("p_partkey"), "p_partkey", cbf, "est_count")
        .select("p_partkey", "est_count")
    )


def q_grouped_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase per-group build: row counts per group are exact."""
    customer = _read(spark, sf_dir, "customer")
    cfg = FilterConfig.complete(n=2000, p=0.001)
    grouped = build_bloom_per_group(
        customer, "c_mktsegment", "c_custkey", cfg, salt_partitions=4
    )
    return grouped.select(
        F.col("group").alias("mktsegment"), F.col("rows").alias("n_members")
    )


def q_population_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property query: population estimate within ±2% of exact distinct
    (BloomFilter.getEstimatedPopulation, java:285-293)."""
    lineitem = _read(spark, sf_dir, "lineitem")
    cfg = FilterConfig.complete(n=max(lineitem.count(), 1), p=0.01)
    bf = build_bloom(lineitem, "l_orderkey", cfg)
    exact = lineitem.select("l_orderkey").distinct().count()
    est = bf.get_estimated_population()
    ok = abs(est - exact) / max(exact, 1) < 0.02
    return spark.createDataFrame(
        [("lineitem.l_orderkey", exact, bool(ok))],
        "key_col string, exact_distinct bigint, within_2pct boolean",
    )


def q_fpp_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property query: observed FPP on a disjoint probe population stays
    within 2x the configured bound (FalsePositivesTest / BFHashFP.java
    semantics)."""
    lineitem = _read(spark, sf_dir, "lineitem")
    n = lineitem.count()
    cfg = FilterConfig.complete(n=max(n, 1), p=0.01)
    bf = build_bloom(lineitem, "l_orderkey", cfg)
    # guaranteed-disjoint probes: orderkeys are small positive ints
    probes = spark.range(10_000_000_000, 10_000_000_000 + 3 * n).withColumnRenamed(
        "id", "probe_key"
    )
    fps = with_membership(probes, "probe_key", bf).where(F.col("member")).count()
    observed = fps / float(3 * n)
    return spark.createDataFrame(
        [("lineitem.l_orderkey", bool(observed <= 2 * 0.01))],
        "key_col string, fpp_within_bound boolean",
    )


def q_hash_golden_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference golden vectors as data: MD5 positions of foo/bar at
    (m=8143, k=6) (CountingBloomFilterMemoryTest.java:71-133)."""
    cfg = FilterConfig.complete(n=1000, p=0.02, hash_method="MD5")
    bf = BloomFilter(cfg)
    rows = [
        (key, int(pos))
        for key in ("foo", "bar")
        for pos in sorted(bf.hash_positions(key))
    ]
    return spark.createDataFrame(rows, "key string, position bigint")


def q_hash_goldens_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden positions of foo/bar at (m=8143, k=3) for ALL 14
    HashProvider methods (HashProvider.java:411-493) plus the
    Spark-native XXHash64KM fast-tier method.  The MD5 values are a
    subset of the reference-derived k=6 goldens
    (CountingBloomFilterMemoryTest.java:71-133); the rest freeze this
    repo's Java-parity implementations (each independently covered by
    tests/test_hashing.py: Guava murmur vectors, RFC1319 MD2, chi²
    uniformity; XXHash64KM parity vs F.xxhash64 in tests/test_fast.py)
    against regression."""
    from bloomspark.hashing import _REGISTRY, hash_positions

    rows = []
    for meth in sorted(_REGISTRY):
        for key in ("foo", "bar"):
            for pos in sorted(hash_positions([key], 8143, 3, meth)[0].tolist()):
                rows.append((meth, key, int(pos)))
    return spark.createDataFrame(rows, "method string, key string, position bigint")


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON serde round-trip (json/BloomFilterConverter.java:22-83):
    build -> toJson {m,h,b} -> fromJson -> probe.  Probe results after
    the round-trip must equal direct membership (byte-identity is also
    asserted in pytest; the driver gate sees the semantic equality)."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    open_orders = orders.where(F.col("o_orderstatus") == "O")
    cfg = FilterConfig.complete(n=max(open_orders.count(), 1), p=EXACT_P)
    bf = build_bloom(open_orders, "o_custkey", cfg)
    restored = BloomFilter.from_json(bf.to_json())
    return (
        with_membership(customer, "c_custkey", restored, out_col="member")
        .select("c_custkey", "member")
    )


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume equivalence (checkpoint.py; the reference's
    named persistence + load-or-create, redis/helper/RedisKeys.java:35-57):
    phase 1 builds only half the buckets (simulated kill), phase 2
    resumes over the full input; the resumed filter must be
    byte-identical to a cold build and probe exactly."""
    import shutil
    import tempfile

    from bloomspark.checkpoint import build_bloom_checkpointed

    orders = _read(spark, sf_dir, "orders")
    cfg = FilterConfig.complete(n=max(orders.count(), 1), p=EXACT_P)
    d = tempfile.mkdtemp(prefix="bloomspark_ckpt_")
    try:
        partial = orders.where(
            F.pmod(F.xxhash64(F.col("o_custkey").cast("string")), F.lit(8)).isin(
                [0, 1, 2]
            )
        )
        build_bloom_checkpointed(partial, "o_custkey", cfg, d, num_buckets=8)
        resumed = build_bloom_checkpointed(orders, "o_custkey", cfg, d, num_buckets=8)
        cold = build_bloom(orders, "o_custkey", cfg)
        identical = resumed.to_bytes() == cold.to_bytes()
        customer = _read(spark, sf_dir, "customer")
        probed = with_membership(customer, "c_custkey", resumed, out_col="member")
        return probed.select(
            "c_custkey", "member", F.lit(bool(identical)).alias("resume_byte_identical")
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_sha_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row invariant (BASELINE.json input_hint): sha2(content, 256)
    over the documents text column, Spark vs DuckDB byte-for-byte."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("sha")
    )


# ---------------------------------------------------------------------------
# sketch-library queries (north rule: HLL / CMS / t-digest / KLL over the
# source-code table shape) — bloomspark/sketches/, bloomspark/sources/
# ---------------------------------------------------------------------------

#: Size of the synthetic source-code table used by the code_* queries;
#: the DuckDB oracle regenerates the identical table from range(N).
_CODE_N = 20_000


def q_code_sha_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule input shape + per-row invariant: the deterministic
    (repo, path, commit, lang, content) source-code table, with
    sha2(content, 256) matched row-for-row against DuckDB regenerating
    the same table from range(N) (BASELINE.json input_hint)."""
    from bloomspark.sources import source_code_table

    df = source_code_table(spark, _CODE_N, partitions=16)
    return df.select("repo", "path", "commit", F.sha2("content", 256).alias("sha"))


def q_theta_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (KMV bottom-k) sketch set-operation cardinalities
    (sketches/theta.py, round-6): distinct custkeys holding open ('O')
    vs finished ('F') orders, plus their intersection / union /
    difference — the set algebra HLL cannot express.  With k=2^15
    above the true cardinalities theta never drops, every distinct
    hash is retained, and all five estimates are EXACT, so the oracle
    is plain SQL set algebra (estimation-mode error bounds are pinned
    in tests/test_sketches.py)."""
    from bloomspark.sketches import ThetaSketch, build_sketch

    orders = _read(spark, sf_dir, "orders")
    th = ThetaSketch(k=1 << 15)
    open_keys = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    final_keys = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    a = build_sketch(open_keys.repartition(8), "o_custkey", th)
    b = build_sketch(final_keys.repartition(8), "o_custkey", th)
    rows = [
        ("open", int(round(a.estimate()))),
        ("final", int(round(b.estimate()))),
        ("open_and_final", int(round(th.estimate(th.intersect(a.state, b.state))))),
        ("open_or_final", int(round(th.estimate(th.merge_states(a.state, b.state))))),
        ("open_not_final", int(round(th.estimate(th.a_not_b(a.state, b.state))))),
    ]
    return spark.createDataFrame(rows, "set_op string, distinct_custkeys bigint")


def q_frequent_repos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (sketches/frequent.py, round-6): the
    top-10 repos of the code table by file count, WITH identities —
    the query count-min cannot answer without a driver-side candidate
    list.  k=256 exceeds the 97 distinct repos, so no trim ever fires,
    error == 0, and the counts are EXACT; tie-break (count desc, repo
    asc) matches the SQL ORDER BY, so the oracle is a plain GROUP BY /
    ORDER BY / LIMIT.  Estimation-mode [lower, upper] bounds are pinned
    in tests/test_sketches.py."""
    from bloomspark.sketches import FrequentItemsSketch, build_sketch
    from bloomspark.sources import source_code_table

    df = source_code_table(spark, _CODE_N, partitions=16)
    fs = FrequentItemsSketch(k=256)
    h = build_sketch(df, "repo", fs)
    rows = [(item, lo, bool(lo == hi)) for item, lo, hi in h.top_k(10)]
    return spark.createDataFrame(
        rows, "repo string, cnt bigint, is_exact boolean"
    )


def _skip_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents re-written once per session as a 12-file
    range-clustered lake (doc_id ranges per file), the shape the
    data-skipping index prunes."""
    import tempfile

    global _SKIP_LAKE_PATH
    if _SKIP_LAKE_PATH is None:
        path = tempfile.mkdtemp(prefix="bloomspark_skiplake_") + "/documents"
        (
            _read(spark, sf_dir, "documents")
            .repartitionByRange(12, "doc_id")
            .write.mode("overwrite")
            .parquet(path)
        )
        _SKIP_LAKE_PATH = path
    return spark.read.parquet(_SKIP_LAKE_PATH)


_SKIP_LAKE_PATH = None


def q_file_skip_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index data skipping, point-lookup path
    (sources/skipping.py, round-6): per-file Bloom filters built by
    input_file_name() through the grouped two-phase build, probe keys'
    positions broadcast over one distributed prune pass, then ONLY the
    surviving files are read and the exact residual filter applied —
    identical to the full-scan IN filter (no false negatives), which
    is exactly what the oracle asserts."""
    from bloomspark.sources import build_file_index, pruned_read

    df = _skip_lake(spark, sf_dir)
    cfg = FilterConfig.complete(n=200, p=1e-4)
    index = build_file_index(df, "doc_id", cfg)
    ids = [3, 141, 468]
    return pruned_read(spark, index, "doc_id", ids, cfg).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def q_file_skip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping, range path (sources/skipping.py,
    round-6): typed per-file key_min/key_max bounds, range pruning as
    pure Catalyst comparisons (no probe pass), exact residual BETWEEN
    — identical to the full-scan BETWEEN filter."""
    from bloomspark.sources import build_file_index, pruned_read_range

    df = _skip_lake(spark, sf_dir)
    cfg = FilterConfig.complete(n=200, p=1e-4)
    index = build_file_index(df, "doc_id", cfg, zone_map=True)
    return pruned_read_range(spark, index, "doc_id", 100, 149).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


def q_grouped_topk_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group heavy hitters (sketches/frequent.py
    frequent_topk_per_group, round-6): each language's top-2 document
    sources — grouped MG states built through the salted two-phase
    shuffle, top-k extracted executor-side.  Exact mode (distinct
    sources per lang << k=256), same (count desc, item asc) total
    order as the SQL window, so the oracle is ROW_NUMBER over the
    exact GROUP BY."""
    from bloomspark.sketches import (
        FrequentItemsSketch,
        build_sketch_per_group,
        frequent_topk_per_group,
    )

    docs = _read(spark, sf_dir, "documents")
    fs = FrequentItemsSketch(k=256)
    grouped = build_sketch_per_group(docs, "lang", "source", fs)
    return frequent_topk_per_group(grouped, fs, n=2).select(
        F.col("group").alias("lang"),
        F.col("item").alias("source"),
        F.col("count_lower").alias("cnt"),
        F.col("rank").alias("rnk"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL count-distinct over the code table's content shas: estimate
    within 3 standard errors (1.04/sqrt(2^14)) of exact."""
    from bloomspark.sketches import HyperLogLog, build_sketch
    from bloomspark.sources import source_code_table

    df = source_code_table(spark, _CODE_N, partitions=16).select(
        F.sha2("content", 256).alias("sha")
    )
    h = build_sketch(df, "sha", HyperLogLog(p=14))
    exact = df.distinct().count()
    within = abs(h.estimate() - exact) / max(exact, 1) < 3 * 1.04 / (2**7)
    return spark.createDataFrame(
        [("content_sha", exact, bool(within))],
        "key_col string, exact_distinct bigint, within_3sigma boolean",
    )


def q_grouped_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL (sketches/engine.py build_sketch_per_group,
    round-5): approx distinct orderkeys per lineitem returnflag —
    sketch states built through the salted two-phase shuffle, never
    driver-resident; each group's estimate within 3 standard errors of
    its exact distinct (exact value-matched against the SQL GROUP BY,
    the bound carried as a boolean like hll_distinct)."""
    from bloomspark.sketches import (
        HyperLogLog,
        build_sketch_per_group,
        sketch_values_per_group,
    )

    hll = HyperLogLog(p=14)
    lineitem = _read(spark, sf_dir, "lineitem")
    grouped = build_sketch_per_group(lineitem, "l_returnflag", "l_orderkey", hll)
    est = sketch_values_per_group(grouped, hll).select(
        F.col("group").alias("l_returnflag"), "value"
    )
    exact = lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    se = 1.04 / (2**7)
    return (
        exact.join(est, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_distinct",
            (
                F.abs(F.col("value") - F.col("exact_distinct"))
                / F.greatest(F.col("exact_distinct"), F.lit(1))
                < 3 * se
            ).alias("within_3sigma"),
        )
    )


def q_cms_repo_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min per-repo file counts: estimate >= exact always, and
    within the eps*N bound (checked per repo; exact counts value-matched
    against the SQL GROUP BY)."""
    from bloomspark.sketches import CountMinSketch, build_sketch
    from bloomspark.sources import source_code_table

    df = source_code_table(spark, _CODE_N, partitions=16)
    cms = CountMinSketch(width=1 << 14, depth=5)
    h = build_sketch(df, "repo", cms)
    exact = df.groupBy("repo").agg(F.count("*").alias("exact_count"))
    pdf = exact.toPandas()
    est = cms.estimate(h.state, list(pdf["repo"]))
    bound = cms.error_bound(h.state)
    pdf["ge_exact"] = est >= pdf["exact_count"].to_numpy()
    pdf["within_eps"] = est <= pdf["exact_count"].to_numpy() + max(bound, 1)
    return spark.createDataFrame(pdf).select(
        "repo",
        F.col("exact_count").cast("long").alias("exact_count"),
        "ge_exact",
        "within_eps",
    )


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantiles of lineitem.l_extendedprice: the exact
    quantile is value-matched against DuckDB's quantile_cont, and the
    sketch estimate must sit within 1% RANK error of the target."""
    from bloomspark.sketches import TDigest, build_sketch

    lineitem = _read(spark, sf_dir, "lineitem")
    h = build_sketch(lineitem.repartition(16), "l_extendedprice", TDigest(delta=200))
    n = h.total_weight()
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    exact = (
        lineitem.agg(
            F.expr(
                "percentile(l_extendedprice, array({}))".format(
                    ",".join(str(q) for q in qs)
                )
            ).alias("p")
        ).first()["p"]
    )
    rows = []
    for q, ex in zip(qs, exact):
        est = h.quantile(q)
        rank_est = lineitem.where(F.col("l_extendedprice") <= est).count() / n
        rows.append((q, round(float(ex), 6), bool(abs(rank_est - q) < 0.01)))
    return spark.createDataFrame(
        rows, "q double, exact_quantile double, within_rank_eps boolean"
    )


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantiles of lineitem.l_extendedprice: exact quantiles
    value-matched vs DuckDB; sketch estimates within the O(1/k) rank
    bound (k=256, slack 3/k + 1%)."""
    from bloomspark.sketches import KLLSketch, build_sketch

    lineitem = _read(spark, sf_dir, "lineitem")
    h = build_sketch(lineitem.repartition(16), "l_extendedprice", KLLSketch(k=256))
    n = lineitem.count()
    qs = [0.05, 0.5, 0.95]
    exact = (
        lineitem.agg(
            F.expr(
                "percentile(l_extendedprice, array({}))".format(
                    ",".join(str(q) for q in qs)
                )
            ).alias("p")
        ).first()["p"]
    )
    rows = []
    for q, ex in zip(qs, exact):
        est = h.quantile(q)
        rank_est = lineitem.where(F.col("l_extendedprice") <= est).count() / n
        rows.append((q, round(float(ex), 6), bool(abs(rank_est - q) < 3.0 / 256 + 0.01)))
    return spark.createDataFrame(
        rows, "q double, exact_quantile double, within_rank_eps boolean"
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings tables)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 digest — hash-groupBy, map-side combinable."""
    from bloomspark.pipeline import exact_dedup

    docs = _read(spark, sf_dir, "documents")
    return exact_dedup(docs).select("digest", "keep_id", "dup_count")


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (explode + self-join)."""
    from bloomspark.pipeline import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.8).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified at 0.8 (the scale path;
    rows-only driver check — minhash is not SQL-expressible — but its
    verified output equals q_jaccard_pairs' pair set by construction)."""
    from bloomspark.pipeline import minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, verify_threshold=0.8).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution (pipeline/dedup.py round-5): the
    exact-verified MinHash+LSH pair set collapsed to connected
    components by min-label propagation — (doc_id, cluster_id =
    component minimum).  Oracle: the same exact pair set in SQL plus a
    recursive-CTE reachability closure; both sides are exact, so the
    match is strict."""
    from bloomspark.pipeline import duplicate_clusters, minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, verify_threshold=0.8)
    return duplicate_clusters(pairs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_pipeline_kept_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end to end in ONE plan:
    language-ID -> quality scoring -> keep en docs scoring >= 0.5 ->
    MinHash+LSH near-dup pairs within the kept set -> connected-
    component cluster resolution -> keep one representative per cluster
    -> token counts on the kept corpus.  Every stage is an operator
    this repo ships; the oracle replays the whole pipeline in SQL
    (the pair stage via exact jaccard, which the LSH path provably
    equals at this threshold; components via a recursive CTE), so the
    match is strict."""
    from bloomspark.pipeline import (
        dedup_keep_representatives,
        duplicate_clusters,
        minhash_lsh_pairs,
        with_language_id,
        with_quality,
        with_token_counts,
    )

    docs = _read(spark, sf_dir, "documents")
    scored = with_quality(with_language_id(docs))
    kept0 = scored.where(
        (F.col("lang_id") == "en") & (F.col("quality_score") >= 0.5)
    )
    pairs = minhash_lsh_pairs(
        kept0.select("doc_id", "text"), verify_threshold=0.8
    )
    kept = dedup_keep_representatives(kept0, duplicate_clusters(pairs))
    return with_token_counts(kept).select(
        "doc_id",
        "lang_id",
        F.round("quality_score", 6).alias("quality_score"),
        "n_ws_tokens",
    )


#: Fixed corpus for the simhash driver oracle.  The expected pairs below
#: were verified against an independent all-pairs exact-hamming oracle
#: (the banded pigeonhole pipeline found exactly the same set — the same
#: check tests/test_pipeline.py::test_simhash_near_dups runs on every
#: pytest pass), then frozen as VALUES so the driver gate value-matches.
_SIMHASH_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3, "a bloom filter is a space efficient probabilistic data structure"),
    (4, "a bloom filter is a space efficient probabilistic set structure"),
    (5, "completely unrelated content about cooking pasta with tomato sauce"),
    (6, "the quick brown fox jumps over the lazy dog near the river bank"),
    (7, "spark executes declarative dataframe plans with whole stage codegen"),
    (8, "spark executes declarative dataframe plans with whole stage compilation"),
]


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups within hamming 8 over a fixed corpus — the full
    banded pigeonhole pipeline (simhash_near_dups), value-matched
    against frozen golden pairs."""
    from bloomspark.pipeline import simhash_near_dups

    docs = spark.createDataFrame(_SIMHASH_CORPUS, "doc_id long, text string")
    return simhash_near_dups(docs, max_hamming=8).select("id_a", "id_b", "hamming")


def q_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (pipeline/dedup.py): the
    exact all-pairs kernel (``exact=True`` — the explicit opt-in; the
    LSH-bucketed default runs this same kernel within buckets), matched
    value-for-value against DuckDB's list_dot_product.  Threshold 0.4
    yields a meaningful pair set on the uniform-random fixture."""
    from bloomspark.pipeline import embedding_cosine_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, threshold=0.4, exact=True).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts: whitespace + BPE-ish subword pieces."""
    from bloomspark.pipeline import with_token_counts

    docs = _read(spark, sf_dir, "documents")
    return with_token_counts(docs).select("doc_id", "n_ws_tokens", "n_bpe_tokens")


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score."""
    from bloomspark.pipeline import with_quality

    docs = _read(spark, sf_dir, "documents")
    return with_quality(docs).select(
        "doc_id",
        "n_tokens",
        "alpha_ratio",
        "stopword_ratio",
        F.round("quality_score", 6).alias("quality_score"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language identification."""
    from bloomspark.pipeline import with_language_id

    docs = _read(spark, sf_dir, "documents")
    return with_language_id(docs).select("doc_id", "lang_id")


def q_windowed_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming #2: per-hour value quantiles via
    the generic windowed-sketch harness with KLL state.  Windows hold
    ~14 values << k=4096, so compactors never fire and the emitted
    quantiles are exact order statistics at rank ceil(q*n) — replayed
    by the oracle with SQL window functions.  Closed windows are read
    from their final row; open ones from their single running row
    (one input batch)."""
    import shutil
    import tempfile
    import uuid

    from bloomspark.streaming import windowed_quantiles_stream

    name = "wq_gate_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="bloomspark_wq_")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).parquet(src_dir)
    out = windowed_quantiles_stream(
        stream, value_col="value", time_col="ts", window="1 hour",
        quantiles=(0.5, 0.95),
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(src_dir, ignore_errors=True)
    ranked = spark.table(name).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("window_start").orderBy(F.col("is_final").desc())
        ),
    )
    return ranked.where(F.col("__rk") == 1).select(
        F.col("window_start").cast("long").alias("window_start_s"),
        F.round("q_5", 6).alias("q50"),
        F.round("q_95", 6).alias("q95"),
    )


def q_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming #3: top-3 event types per hour
    via the windowed Misra–Gries instance.  Distinct types per window
    (~6) fit k=64, so counts are exact and the deterministic
    (count desc, item asc) ranking is replayed by SQL row_number."""
    import shutil
    import tempfile
    import uuid

    from bloomspark.streaming import windowed_topk_stream

    name = "wt_gate_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="bloomspark_wt_")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).parquet(src_dir)
    out = windowed_topk_stream(
        stream, key_col="event_type", time_col="ts", window="1 hour", n=3
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(src_dir, ignore_errors=True)
    ranked = spark.table(name).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("window_start").orderBy(F.col("is_final").desc())
        ),
    )
    return ranked.where(F.col("__rk") == 1).select(
        F.col("window_start").cast("long").alias("window_start_s"),
        "top_items",
        "top_counts",
    )


def q_sample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% uniform sample keyed on doc_id
    (pipeline/sampling.py): the kept set is a pure function of the key,
    so DuckDB replays the identical 60-bit md5 threshold decision."""
    from bloomspark.pipeline import hash_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_sample(docs, ["doc_id"], fraction=0.2).select("doc_id")


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) over documents —
    per-row assignment, reproducible and leak-free as the corpus
    grows."""
    from bloomspark.pipeline import with_split

    docs = _read(spark, sf_dir, "documents")
    return with_split(docs, ["doc_id"]).select("doc_id", "split")


def q_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (k=200) pseudo-random sample: bottom-200 rows by full
    md5 of the salted key — executed as TakeOrderedAndProject (no full
    sort)."""
    from bloomspark.pipeline import bottom_k_sample

    docs = _read(spark, sf_dir, "documents")
    return bottom_k_sample(docs, ["doc_id"], k=200, salt="r6").select("doc_id")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling over the lang column: en at
    0.5, de kept whole, fr at 0.25, es at 0, zh unlisted (dropped) —
    one codegen CASE threshold, replayed exactly by DuckDB."""
    from bloomspark.pipeline import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(docs, ["doc_id"], "lang", _STRATA_FRACTIONS).select(
        "doc_id", "lang"
    )


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis–Spirakis A-ES,
    k=100, weight = n_chars): rank key u^(1/w) from the deterministic
    uniform, top-k via TakeOrderedAndProject."""
    from bloomspark.pipeline import weighted_sample

    docs = _read(spark, sf_dir, "documents")
    return weighted_sample(docs, ["doc_id"], "n_chars", k=100, salt="r6").select(
        "doc_id"
    )


_RANGE_BUCKETS = 8


def q_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced range bucketing (sources/layout.py):
    KLL-derived cut points at q = i/8 over documents.n_chars (exact
    order statistics in the uncompacted regime), bucket = count of cut
    points below the value.  The oracle recomputes the same ceil(q*n)
    rank cut points with SQL window functions."""
    from bloomspark.sources import with_range_bucket

    docs = _read(spark, sf_dir, "documents")
    return with_range_bucket(docs, "n_chars", _RANGE_BUCKETS).select(
        "doc_id", "range_bucket"
    )


def _range_bucket_oracle_sql() -> str:
    b = _RANGE_BUCKETS
    cuts = ", ".join(
        f"max(CASE WHEN rn = ceil(n * ({i}/{b}.0)) THEN v END) AS c{i}"
        for i in range(1, b)
    )
    bucket = " + ".join(
        f"(CASE WHEN d.n_chars > c.c{i} THEN 1 ELSE 0 END)" for i in range(1, b)
    )
    return f"""
        WITH s AS (
            SELECT n_chars AS v,
                   row_number() OVER (ORDER BY n_chars) AS rn,
                   count(*) OVER () AS n
            FROM documents
        ),
        c AS (SELECT {cuts} FROM s)
        SELECT d.doc_id, ({bucket})::INT AS range_bucket
        FROM documents d, c
    """


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS inner-product join-cardinality estimate (join.py
    estimate_join_size): events self-join on event_type — the key
    domain (~6 values) is far below the 2^16 width, the deterministic
    row hashes are collision-free there, and the estimate is EXACTLY
    the true join row count, which the oracle computes by running the
    join."""
    from bloomspark.join import estimate_join_size

    events = _read(spark, sf_dir, "events")
    est, _bound = estimate_join_size(events, "event_type", events, "event_type")
    return spark.createDataFrame([(int(est),)], "join_rows bigint")


def q_sql_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-callable surface (bloomspark/sql.py): the lineitem
    orderkey filter registered as a named function and probed from a
    plain spark.sql query — matches with_membership bit-for-bit and,
    at p=1e-9, the exact IN-subquery oracle."""
    from bloomspark.sql import register_membership

    lineitem = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cfg = FilterConfig.complete(n=max(lineitem.count(), 1), p=EXACT_P)
    bf = build_bloom(lineitem, "l_orderkey", cfg)
    register_membership(spark, "bloom_seen_gate", bf)
    orders.createOrReplaceTempView("__orders_sql_gate")
    return spark.sql(
        "SELECT o_orderkey, bloom_seen_gate(o_orderkey) AS member "
        "FROM __orders_sql_gate"
    )


def q_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming: distinct users per 1-hour
    event-time window via the stateful windowed Theta-sketch operator
    (streaming.windowed_distinct_stream, applyInPandasWithState +
    watermark).  The events parquet replays through a file streaming
    source into a memory sink; per window the max running estimate is
    the final one (distinct folding is monotone), and in the sketch's
    exact regime (<= ~20 users/window vs k=4096) it EQUALS
    COUNT(DISTINCT) — which is what the DuckDB oracle checks."""
    import shutil
    import tempfile
    import uuid

    from bloomspark.streaming import windowed_distinct_stream

    name = "wd_gate_" + uuid.uuid4().hex[:8]
    # the file streaming source wants a DIRECTORY; stage the read-only
    # events parquet into a temp dir via symlink (no data copy)
    src_dir = tempfile.mkdtemp(prefix="bloomspark_wd_")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).parquet(src_dir)
    out = windowed_distinct_stream(
        stream, key_col="user_id", time_col="ts", window="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(src_dir, ignore_errors=True)
    return spark.table(name).groupBy(
        F.col("window_start").cast("long").alias("window_start_s")
    ).agg(F.max("estimate").cast("long").alias("distinct_users"))


# mix_corpora gate constants: three 25-doc corpora (the sf0.01 per-
# source size) mixed 60/20/20 to an expected 100 rows — src0's rate is
# 2.4 (two full epochs + a 0.4-sampled partial), src1/src2 downsample
# at 0.8.  Sizes are passed EXPLICITLY (the no-driver-action path), so
# the rates — and the oracle thresholds derived from the same
# mixture_plan floats — are identical at any sf.
_MIX_SIZES = {"src0": 25, "src1": 25, "src2": 25}
_MIX_WEIGHTS = {"src0": 0.6, "src1": 0.2, "src2": 0.2}
_MIX_TOTAL = 100


def q_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing (pipeline/sampling.py mix_corpora):
    upsampling by whole epochs + one hash-sampled partial epoch,
    downsampling by hash threshold — replayed by the oracle as a
    UNION ALL of sampled selects built from the same mixture_plan."""
    from bloomspark.pipeline import mix_corpora

    docs = _read(spark, sf_dir, "documents")
    sources = {s: docs.where(F.col("source") == s) for s in _MIX_SIZES}
    out = mix_corpora(
        sources,
        ["doc_id"],
        _MIX_WEIGHTS,
        total_rows=_MIX_TOTAL,
        sizes=_MIX_SIZES,
    )
    return out.select("doc_id", "corpus", "epoch")


def _mix_oracle_sql() -> str:
    """UNION ALL replay of q_mix_corpora's plan, built from the SAME
    mixture_plan floats and int-truncated thresholds as mix_corpora."""
    from bloomspark.pipeline import mixture_plan
    from bloomspark.pipeline.sampling import SAMPLE_SPACE

    plan = mixture_plan(_MIX_SIZES, _MIX_WEIGHTS, _MIX_TOTAL)
    parts = []
    for name in _MIX_SIZES:
        k, frac = plan[name]
        for e in range(k):
            parts.append(
                f"SELECT doc_id, '{name}' AS corpus, {e} AS epoch "
                f"FROM documents WHERE source = '{name}'"
            )
        if frac > 0:
            t = int(frac * SAMPLE_SPACE)
            parts.append(
                f"SELECT doc_id, '{name}' AS corpus, {k} AS epoch "
                f"FROM documents WHERE source = '{name}' AND "
                f"('0x' || substr(md5('mix:{name}:e{k}' || chr(31) || "
                f"doc_id::VARCHAR), 1, 15))::BIGINT < {t}"
            )
    return " UNION ALL ".join(parts)


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic concat-then-chunk document packing
    (pipeline/packing.py): 8 independent hash buckets, 4096-token
    budget, n_chars as the token proxy — layout is a window running
    sum, replayed exactly by DuckDB window SQL."""
    from bloomspark.pipeline import pack_documents

    docs = _read(spark, sf_dir, "documents")
    return pack_documents(
        docs, ["doc_id"], "n_chars", budget=4096, num_buckets=8
    ).select("doc_id", "pack_bucket", "pack_id", "pack_offset")


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack fill audit over the same packing layout."""
    from bloomspark.pipeline import pack_documents, pack_stats

    docs = _read(spark, sf_dir, "documents")
    packed = pack_documents(docs, ["doc_id"], "n_chars", budget=4096, num_buckets=8)
    return pack_stats(packed, "n_chars")


def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for a fixed query vector (vec_id=0), built-in
    zip_with/aggregate arithmetic only."""
    from bloomspark.pipeline import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    top = brute_force_topk(emb, [float(x) for x in qvec], k=10)
    return top.select("id", F.round("cosine", 6).alias("cosine"))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN machinery checked exactly: spherical-kmeans cells are
    assigned to every vector, and probing ALL cells (n_probe = C) must
    reproduce the exact cosine top-8 — partitioning covers each row
    exactly once, pruning at full width is a no-op.  Recall at partial
    n_probe is measured in tests/test_pipeline.py."""
    from bloomspark.pipeline import ivf_topk, ivf_train_centroids

    emb = _read(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 1).select("embedding").first()[0]
    cent = ivf_train_centroids(emb, n_centroids=16, sample_rows=2000, seed=7)
    top = ivf_topk(emb, [float(x) for x in qvec], cent, k=8, n_probe=16)
    return top.select("id", F.round("cosine", 6).alias("cosine"))


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed kNN JOIN (simsearch.knn_join_lsh) checked exactly: at
    planes=1 the hamming-1 multiprobe covers BOTH buckets, so candidate
    generation is provably total and the operator must reproduce the
    exact per-left-vector cosine top-5 — the same full-width-identity
    trick as the ivf_topk oracle.  Recall at production widths (5
    planes, 6 tables) is measured in tests/test_pipeline.py."""
    from bloomspark.pipeline import knn_join_lsh

    emb = _read(spark, sf_dir, "embeddings")
    left = emb.where(F.col("vec_id") < 8)
    out = knn_join_lsh(left, emb, k=5, planes=1, tables=1, multiprobe=True)
    return out.select(
        "lid", "rid", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, fake-decode path (pipeline/multimodal.py):
    deterministic synthetic media blobs -> mapInPandas feature
    extraction.  The fake features are byte statistics, DuckDB-
    reproducible from the payload construction; mean/min/max are exact
    integers (mean*512 = byte sum, and n<=2^24 integers are float32-
    exact), so the value match is strict."""
    from bloomspark.pipeline.multimodal import extract_features, make_media_table

    media = make_media_table(spark, 64)
    feats = extract_features(media, decode_mode="fake")
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "sha",
        F.round(F.element_at("feature", 1) * 512, 0).cast("long").alias("byte_sum"),
        F.element_at("feature", 3).cast("long").alias("byte_min"),
        F.element_at("feature", 4).cast("long").alias("byte_max"),
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint dedup groups: documents sharing a
    fingerprint are exactly the documents sharing normalized text
    (lowercase + collapsed whitespace) — a REAL oracle, since DuckDB can
    group by the normalization even though it cannot compute the hash."""
    from bloomspark.pipeline import with_fingerprint

    docs = _read(spark, sf_dir, "documents")
    return (
        with_fingerprint(docs)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
        .select("keep_id", "dup_count")
    )


def q_events_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom over users who emitted an error event, probed for every user."""
    events = _read(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    errs = events.where(F.col("event_type") == "error")
    cfg = FilterConfig.complete(n=max(errs.count(), 1), p=EXACT_P)
    bf = build_bloom(errs, "user_id", cfg)
    return with_membership(users, "user_id", bf, out_col="had_error").select(
        "user_id", "had_error"
    )


def q_fast_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-native fast probe (fast.py): an XXHash64KM filter from
    build_bloom, probed by k broadcast block joins with positions as
    xxhash64 expressions — zero Python workers in the probe.  At p=1e-9
    membership equals the exact IN, so the DuckDB oracle is a plain
    subquery."""
    from bloomspark.fast import with_fast_membership

    lineitem = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cfg = FilterConfig.complete(
        n=max(lineitem.count(), 1), p=EXACT_P, hash_method="XXHash64KM"
    )
    bf = build_bloom(lineitem, "l_orderkey", cfg)
    return with_fast_membership(
        orders.select("o_orderkey"), "o_orderkey", bf
    ).select("o_orderkey", "member")


def q_fast_extended_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XXHash64KM membership past the driver-filter limit, never
    collected: the route bloom_semi_filter takes there — 64 shard
    bitsets (sharded.py) probed by co-partitioning orders on the shard
    id.  At p=1e-9 membership equals the exact IN."""
    from bloomspark.sharded import build_sharded_bloom, with_sharded_membership

    lineitem = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    n, num_shards = lineitem.count(), 64
    cfg = FilterConfig.complete(
        n=max(n // num_shards, 100), p=EXACT_P, hash_method="XXHash64KM"
    )
    shards = build_sharded_bloom(lineitem, "l_orderkey", cfg, num_shards=num_shards)
    return with_sharded_membership(
        orders.select("o_orderkey"), "o_orderkey", shards, cfg, num_shards=num_shards
    ).select("o_orderkey", "member")


def q_fast_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collected XXHash64KM counting filter: the mapInArrow build and the
    Arrow min-selection probe on the fast tier's hash method — frequency
    estimates equal exact GROUP BY counts at p=1e-9."""

    lineitem = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    cfg = FilterConfig.complete(
        n=max(part.count(), 1), p=EXACT_P, counting_bits=32,
        hash_method="XXHash64KM",
    )
    cbf = build_counting(lineitem, "l_partkey", cfg)
    return with_estimated_count(
        part.select("p_partkey"), "p_partkey", cbf
    ).select("p_partkey", "est_count")


def _fast_shard_counting_config(n: int, num_shards: int) -> FilterConfig:
    # prime_m: composite m lets Kirsch-Mitzenmacher position cycles
    # inflate min-selection estimates (FilterConfig.complete docstring)
    return FilterConfig.complete(
        n=max(n // num_shards, 100), p=EXACT_P, counting_bits=32,
        hash_method="XXHash64KM", prime_m=True,
    )


def q_fast_extended_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Never-collected XXHash64KM counting: lineitem partkey
    multiplicities in 16 shard counter arrays (sharded.py), probed by
    co-partitioning part keys on the shard id — no driver counter
    array.  Exact at p=1e-9, so the oracle is the plain GROUP BY."""
    from bloomspark.sharded import (
        build_sharded_counting,
        with_sharded_estimated_count,
    )

    lineitem = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    num_shards = 16
    cfg = _fast_shard_counting_config(lineitem.count(), num_shards)
    shards = build_sharded_counting(
        lineitem, "l_partkey", cfg, num_shards=num_shards
    )
    return with_sharded_estimated_count(
        part.select("p_partkey"), "p_partkey", shards, cfg,
        num_shards=num_shards,
    ).select("p_partkey", "est_count")


def q_fast_counts_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Never-collected XXHash64KM remove: the returned lines' sharded
    counts are subtracted from all lines' (subtract_sharded_counting,
    floored per counter), and the result is probed on the shard id —
    the counting remove contract with nothing collected."""
    from bloomspark.sharded import (
        build_sharded_counting,
        subtract_sharded_counting,
        with_sharded_estimated_count,
    )

    lineitem = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    num_shards = 16
    cfg = _fast_shard_counting_config(lineitem.count(), num_shards)
    adds = build_sharded_counting(
        lineitem, "l_partkey", cfg, num_shards=num_shards
    )
    removes = build_sharded_counting(
        lineitem.where(F.col("l_returnflag") == "R"), "l_partkey", cfg,
        num_shards=num_shards,
    )
    shards = subtract_sharded_counting(adds, removes, cfg)
    return with_sharded_estimated_count(
        part.select("p_partkey"), "p_partkey", shards, cfg,
        num_shards=num_shards,
    ).select("p_partkey", "est_count")


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned exact join (join.py): lineitem is pruned by a
    JVM-native fast-tier filter of the urgent orders' keys BEFORE the
    exact join, at a realistic p=0.01 — the prune is conservative (no
    false negatives) and the exact join removes false positives, so the
    result is identical to the plain join and the DuckDB oracle is just
    that join."""
    from bloomspark.join import bloom_prune_join

    lineitem = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    joined = bloom_prune_join(
        lineitem, urgent, ("l_orderkey", "o_orderkey"), p=0.01
    )
    return joined.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )


def q_sharded_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded bloom-pruned exact join (join.py, round-6): the
    both-sides-huge regime where the build side's filter is too big to
    collect or broadcast — lineitem is pruned against a SHARDED
    (never-collected) filter of the urgent orders' keys via one cogroup
    co-partition, then the ordinary exact join removes false positives,
    so the result is identical to the plain join and the DuckDB oracle
    is just that join."""
    from bloomspark.join import sharded_prune_join

    lineitem = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    joined = sharded_prune_join(
        lineitem, urgent, ("l_orderkey", "o_orderkey"), p=0.01, num_shards=16
    )
    # price sums carry ~1e-6 of summation-order float error; a whole-
    # dollar BIGINT is deterministic across Spark/DuckDB partial orders
    return joined.groupBy("l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 0).cast("long").alias("sum_price"),
        F.count("*").alias("cnt"),
    )


def q_sharded_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The never-collected filter tier (sharded.py): lineitem orderkeys
    sharded into 16 independent bitsets (the TB-scale shape where no
    single filter fits a driver/broadcast), probed by co-partitioning
    orders on the shard id — bitsets cross the wire once per job, not
    per probe row."""
    from bloomspark.sharded import build_sharded_bloom, with_sharded_membership

    lineitem = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    n, num_shards = lineitem.count(), 16
    cfg = FilterConfig.complete(n=max(n // num_shards, 100), p=EXACT_P)
    shards = build_sharded_bloom(lineitem, "l_orderkey", cfg, num_shards=num_shards)
    return with_sharded_membership(
        orders.select("o_orderkey"), "o_orderkey", shards, cfg, num_shards=num_shards
    ).select("o_orderkey", "member")


def q_sharded_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The never-collected COUNTING tier (sharded.py, round-5 item 6):
    lineitem partkey multiplicities in 16 independent counter arrays
    (the shape for frequency estimates past broadcast scale), probed by
    co-partitioning part keys on the shard id — counter arrays cross
    the wire once per job, never per probe row.  At p=1e-9 the
    minimum-selection estimate equals the exact GROUP BY count."""
    from bloomspark.sharded import (
        build_sharded_counting,
        with_sharded_estimated_count,
    )

    lineitem = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    n, num_shards = lineitem.count(), 16
    # prime_m: composite m lets Kirsch-Mitzenmacher position cycles
    # inflate min-selection estimates (FilterConfig.complete docstring);
    # a prime m keeps the exact-count oracle exact
    cfg = FilterConfig.complete(
        n=max(n // num_shards, 100), p=EXACT_P, counting_bits=32,
        prime_m=True,
    )
    shards = build_sharded_counting(
        lineitem, "l_partkey", cfg, num_shards=num_shards
    )
    return with_sharded_estimated_count(
        part.select("p_partkey"), "p_partkey", shards, cfg,
        num_shards=num_shards,
    ).select("p_partkey", "est_count")


def q_grouped_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tenant frequency probe: one counting filter per event_type
    (salted two-phase build), each (user, type) grid row's count
    estimated against its own group's filter via the broadcast-dict
    probe — estimates equal exact GROUP BY counts at p=1e-9."""
    from bloomspark.grouped import build_counting_per_group, with_group_estimated_count

    events = _read(spark, sf_dir, "events")
    cfg = FilterConfig.complete(
        n=max(events.count(), 1), p=EXACT_P, counting_bits=32
    )
    counters = build_counting_per_group(events, "event_type", "user_id", cfg)
    grid = events.select("user_id").distinct().crossJoin(
        events.select("event_type").distinct()
    )
    return with_group_estimated_count(
        grid, "event_type", "user_id", counters, cfg
    ).select("user_id", "event_type", "est_count")


def q_expiring_known(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache-sketch lifecycle over the events log (§2.6, ExpiringBloomFilter
    .java): every event grants its user a 10-min read lease (reportRead
    max-merge); 'error' events report writes (admitted only against a
    live lease); the filter is evaluated at now = max event time with a
    5-min grace.  cached/known/contained are all plain TTL SQL."""
    from bloomspark.streaming import ExpiringBloomFilter

    events = _read(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; the cast to timestamp applies the session
    # timezone as a CONSTANT offset over this one-month log, and every
    # output column is a comparison of such values, so the offset cancels
    ttl_ms, grace_ms = 600_000, 300_000
    reads = events.select(
        F.col("user_id").alias("key"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.lit(ttl_ms).alias("ttl_ms"),
    )
    n_users = events.select("user_id").distinct().count()
    cfg = FilterConfig.complete(n=max(n_users, 1), p=EXACT_P, counting_bits=16)
    ebf = ExpiringBloomFilter.from_reads(reads, cfg)
    ebf = ebf.report_write(
        events.where(F.col("event_type") == "error").select(
            F.col("user_id").alias("key"), F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
        ),
        "key",
        "ts_ms",
    )
    now_ms = events.agg(F.max(F.unix_millis(F.col("ts").cast("timestamp")))).first()[0]
    users = events.select(F.col("user_id").cast("string").alias("key")).distinct()
    cached = ebf.is_cached(users, "key", now_ms)
    known = ebf.is_known(users, "key", now_ms, grace_ms=grace_ms)
    contained = ebf.contains(users, "key", now_ms)
    return (
        cached.join(known.select("key", "known"), "key")
        .join(contained.select("key", "contained"), "key")
        .select("key", "cached", "known", "contained")
    )


def q_grouped_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group probe: (user, event_type) grid against per-type filters —
    broadcast-join + vectorized per-row-filter probe (with_group_membership)."""
    from bloomspark.grouped import with_group_membership

    events = _read(spark, sf_dir, "events")
    cfg = FilterConfig.complete(n=max(events.count(), 1), p=EXACT_P)
    filters = build_bloom_per_group(events, "event_type", "user_id", cfg)
    grid = events.select("user_id").distinct().crossJoin(
        events.select("event_type").distinct()
    )
    return with_group_membership(
        grid, "event_type", "user_id", filters, cfg, out_col="member"
    ).select("user_id", "event_type", "member")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bloom_membership": q_bloom_membership,
        "bloom_union": q_bloom_union,
        "bloom_intersect": q_bloom_intersect,
        "cbf_counts": q_cbf_counts,
        "cbf_remove": q_cbf_remove,
        "grouped_bloom": q_grouped_bloom,
        "population_estimate": q_population_estimate,
        "fpp_bound": q_fpp_bound,
        "hash_golden_md5": q_hash_golden_md5,
        "hash_goldens_all": q_hash_goldens_all,
        "json_roundtrip": q_json_roundtrip,
        "checkpoint_resume": q_checkpoint_resume,
        "sha_invariant": q_sha_invariant,
        "code_sha_invariant": q_code_sha_invariant,
        "hll_distinct": q_hll_distinct,
        "theta_sets": q_theta_sets,
        "frequent_repos": q_frequent_repos,
        "grouped_topk_sources": q_grouped_topk_sources,
        "file_skip_point": q_file_skip_point,
        "file_skip_range": q_file_skip_range,
        "grouped_hll_distinct": q_grouped_hll_distinct,
        "cms_repo_counts": q_cms_repo_counts,
        "tdigest_quantiles": q_tdigest_quantiles,
        "kll_quantiles": q_kll_quantiles,
        "dedup_exact": q_dedup_exact,
        "jaccard_pairs": q_jaccard_pairs,
        "minhash_lsh": q_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "pipeline_kept_corpus": q_pipeline_kept_corpus,
        "simhash_dups": q_simhash_dups,
        "cosine_dups": q_cosine_dups,
        "text_stats": q_text_stats,
        "doc_quality": q_doc_quality,
        "lang_id": q_lang_id,
        "range_bucket": q_range_bucket,
        "cms_join_size": q_cms_join_size,
        "sql_membership": q_sql_membership,
        "windowed_distinct": q_windowed_distinct,
        "windowed_quantiles": q_windowed_quantiles,
        "windowed_topk": q_windowed_topk,
        "sample_uniform": q_sample_uniform,
        "sample_split": q_sample_split,
        "sample_bottomk": q_sample_bottomk,
        "sample_stratified": q_sample_stratified,
        "sample_weighted": q_sample_weighted,
        "pack_documents": q_pack_documents,
        "pack_stats": q_pack_stats,
        "mix_corpora": q_mix_corpora,
        "knn_topk": q_knn_topk,
        "ivf_topk": q_ivf_topk,
        "knn_join": q_knn_join,
        "multimodal_features": q_multimodal_features,
        "fingerprints": q_fingerprints,
        "events_error_users": q_events_error_users,
        "grouped_membership": q_grouped_membership,
        "grouped_counts": q_grouped_counts,
        "sharded_membership": q_sharded_membership,
        "sharded_counts": q_sharded_counts,
        "fast_membership": q_fast_membership,
        "fast_extended_membership": q_fast_extended_membership,
        "fast_counts": q_fast_counts,
        "fast_extended_counts": q_fast_extended_counts,
        "fast_counts_remove": q_fast_counts_remove,
        "bloom_prune_join": q_bloom_prune_join,
        "sharded_prune_join": q_sharded_prune_join,
        "expiring_known": q_expiring_known,
    }


def oracle_sql() -> dict[str, str]:
    from bloomspark.sources import CODE_TABLE_SQL

    sqls = {
        "bloom_membership": """
            SELECT c_custkey,
                   c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
                       AS member
            FROM customer
        """,
        "bloom_union": """
            SELECT c_custkey,
                   c_custkey IN (SELECT o_custkey FROM orders
                                 WHERE o_orderstatus IN ('O', 'F')) AS member_any
            FROM customer
        """,
        "bloom_intersect": """
            SELECT c_custkey,
                   c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
                   AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
                       AS member_both
            FROM customer
        """,
        "cbf_counts": """
            SELECT p.p_partkey,
                   COALESCE(l.cnt, 0) AS est_count
            FROM part p
            LEFT JOIN (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey) l
              ON p.p_partkey = l.l_partkey
        """,
        "cbf_remove": """
            SELECT p.p_partkey,
                   COALESCE(l.cnt, 0) AS est_count
            FROM part p
            LEFT JOIN (SELECT l_partkey, count(*) AS cnt FROM lineitem
                       WHERE l_returnflag <> 'R' GROUP BY l_partkey) l
              ON p.p_partkey = l.l_partkey
        """,
        "grouped_bloom": """
            SELECT c_mktsegment AS mktsegment, count(*) AS n_members
            FROM customer GROUP BY c_mktsegment
        """,
        "population_estimate": """
            SELECT 'lineitem.l_orderkey' AS key_col,
                   count(DISTINCT l_orderkey) AS exact_distinct,
                   true AS within_2pct
            FROM lineitem
        """,
        "fpp_bound": """
            SELECT 'lineitem.l_orderkey' AS key_col, true AS fpp_within_bound
        """,
        "hash_golden_md5": """
            SELECT key, CAST(position AS BIGINT) AS position FROM (VALUES
                ('foo', 4484), ('foo', 4918), ('foo', 5583),
                ('foo', 6134), ('foo', 6341), ('foo', 7596),
                ('bar', 1770), ('bar', 2285), ('bar', 2861),
                ('bar', 4742), ('bar', 5431), ('bar', 7745)
            ) AS t(key, position)
        """,
        "hash_goldens_all": """
            SELECT method, key, CAST(position AS BIGINT) AS position FROM (VALUES
                ('Adler32', 'foo', 3443), ('Adler32', 'foo', 4229), ('Adler32', 'foo', 5015),
                ('Adler32', 'bar', 116), ('Adler32', 'bar', 902), ('Adler32', 'bar', 7473),
                ('CRC32', 'foo', 6302), ('CRC32', 'foo', 6836), ('CRC32', 'foo', 7443),
                ('CRC32', 'bar', 1119), ('CRC32', 'bar', 1308), ('CRC32', 'bar', 2713),
                ('CarterWegman', 'foo', 566), ('CarterWegman', 'foo', 4623), ('CarterWegman', 'foo', 6178),
                ('CarterWegman', 'bar', 3157), ('CarterWegman', 'bar', 3759), ('CarterWegman', 'bar', 4762),
                ('FNVWithLCG', 'foo', 3845), ('FNVWithLCG', 'foo', 5687), ('FNVWithLCG', 'foo', 6896),
                ('FNVWithLCG', 'bar', 4232), ('FNVWithLCG', 'bar', 7728), ('FNVWithLCG', 'bar', 7808),
                ('MD2', 'foo', 1208), ('MD2', 'foo', 2081), ('MD2', 'foo', 5216),
                ('MD2', 'bar', 3905), ('MD2', 'bar', 6153), ('MD2', 'bar', 7011),
                ('MD5', 'foo', 4918), ('MD5', 'foo', 6341), ('MD5', 'foo', 7596),
                ('MD5', 'bar', 2285), ('MD5', 'bar', 4742), ('MD5', 'bar', 5431),
                ('Murmur2', 'foo', 926), ('Murmur2', 'foo', 1743), ('Murmur2', 'foo', 1747),
                ('Murmur2', 'bar', 5321), ('Murmur2', 'bar', 6407), ('Murmur2', 'bar', 6630),
                ('Murmur3', 'foo', 1045), ('Murmur3', 'foo', 1496), ('Murmur3', 'foo', 7596),
                ('Murmur3', 'bar', 387), ('Murmur3', 'bar', 2773), ('Murmur3', 'bar', 6820),
                ('Murmur3KirschMitzenmacher', 'foo', 947), ('Murmur3KirschMitzenmacher', 'foo', 3496),
                ('Murmur3KirschMitzenmacher', 'foo', 6045), ('Murmur3KirschMitzenmacher', 'bar', 1450),
                ('Murmur3KirschMitzenmacher', 'bar', 4223), ('Murmur3KirschMitzenmacher', 'bar', 6820),
                ('RNG', 'foo', 2317), ('RNG', 'foo', 3477), ('RNG', 'foo', 5586),
                ('RNG', 'bar', 1560), ('RNG', 'bar', 6559), ('RNG', 'bar', 7970),
                ('SHA1', 'foo', 3595), ('SHA1', 'foo', 3647), ('SHA1', 'foo', 6829),
                ('SHA1', 'bar', 960), ('SHA1', 'bar', 3426), ('SHA1', 'bar', 5566),
                ('SHA256', 'foo', 1580), ('SHA256', 'foo', 6682), ('SHA256', 'foo', 7585),
                ('SHA256', 'bar', 4446), ('SHA256', 'bar', 5835), ('SHA256', 'bar', 7932),
                ('SHA384', 'foo', 408), ('SHA384', 'foo', 2302), ('SHA384', 'foo', 8063),
                ('SHA384', 'bar', 4372), ('SHA384', 'bar', 7211), ('SHA384', 'bar', 7380),
                ('SHA512', 'foo', 411), ('SHA512', 'foo', 5591), ('SHA512', 'foo', 7159),
                ('SHA512', 'bar', 2477), ('SHA512', 'bar', 2673), ('SHA512', 'bar', 3288),
                ('XXHash64KM', 'foo', 1249), ('XXHash64KM', 'foo', 6714), ('XXHash64KM', 'foo', 8053),
                ('XXHash64KM', 'bar', 769), ('XXHash64KM', 'bar', 2450), ('XXHash64KM', 'bar', 5681)
            ) AS t(method, key, position)
        """,
        "json_roundtrip": """
            SELECT c_custkey,
                   c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
                       AS member
            FROM customer
        """,
        "checkpoint_resume": """
            SELECT c_custkey,
                   c_custkey IN (SELECT o_custkey FROM orders) AS member,
                   true AS resume_byte_identical
            FROM customer
        """,
        "simhash_dups": """
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   CAST(hamming AS BIGINT) AS hamming
            FROM (VALUES (1, 2, 4), (1, 6, 0), (2, 6, 4), (3, 4, 5))
                 AS t(id_a, id_b, hamming)
        """,
        "fingerprints": """
            SELECT min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents
            GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
        """,
        "multimodal_features": """
            WITH m AS (
                SELECT i AS media_id,
                       CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image'
                            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                       repeat(sha256('media' || CAST(i AS VARCHAR)), 8) AS payload
                FROM range(64) t(i)
            )
            SELECT media_id, kind,
                   length(payload) AS n_bytes,
                   sha256(payload) AS sha,
                   CAST((SELECT sum(ascii(c)) FROM unnest(string_split(payload, '')) u(c)) AS BIGINT) AS byte_sum,
                   CAST((SELECT min(ascii(c)) FROM unnest(string_split(payload, '')) u(c)) AS BIGINT) AS byte_min,
                   CAST((SELECT max(ascii(c)) FROM unnest(string_split(payload, '')) u(c)) AS BIGINT) AS byte_max
            FROM m
        """,
        "sha_invariant": """
            SELECT doc_id, sha256(text) AS sha FROM documents
        """,
        "code_sha_invariant": """
            WITH code AS ({code_table})
            SELECT repo, path, commit, sha256(content) AS sha FROM code
        """,
        "hll_distinct": """
            WITH code AS ({code_table})
            SELECT 'content_sha' AS key_col,
                   count(DISTINCT sha256(content)) AS exact_distinct,
                   true AS within_3sigma
            FROM code
        """,
        "grouped_hll_distinct": """
            SELECT l_returnflag,
                   count(DISTINCT l_orderkey) AS exact_distinct,
                   true AS within_3sigma
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "theta_sets": """
            WITH o AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderstatus = 'O'),
                 f AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderstatus = 'F')
            SELECT 'open' AS set_op,
                   (SELECT count(*) FROM o) AS distinct_custkeys
            UNION ALL SELECT 'final', (SELECT count(*) FROM f)
            UNION ALL SELECT 'open_and_final',
                (SELECT count(*) FROM (SELECT * FROM o INTERSECT SELECT * FROM f))
            UNION ALL SELECT 'open_or_final',
                (SELECT count(*) FROM (SELECT * FROM o UNION SELECT * FROM f))
            UNION ALL SELECT 'open_not_final',
                (SELECT count(*) FROM (SELECT * FROM o EXCEPT SELECT * FROM f))
        """,
        "grouped_topk_sources": """
            WITH c AS (
                SELECT lang, source, count(*) AS cnt
                FROM documents GROUP BY lang, source
            )
            SELECT lang, source, cnt,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY cnt DESC, source ASC
                   ) AS rnk
            FROM c QUALIFY rnk <= 2
        """,
        "file_skip_point": """
            SELECT doc_id, text, lang, source, n_chars
            FROM documents WHERE doc_id IN (3, 141, 468)
        """,
        "file_skip_range": """
            SELECT doc_id, text, lang, source, n_chars
            FROM documents WHERE doc_id BETWEEN 100 AND 149
        """,
        "frequent_repos": """
            WITH code AS ({code_table})
            SELECT repo, count(*) AS cnt, true AS is_exact
            FROM code GROUP BY repo
            ORDER BY cnt DESC, repo ASC LIMIT 10
        """,
        "cms_repo_counts": """
            WITH code AS ({code_table})
            SELECT repo, count(*) AS exact_count,
                   true AS ge_exact, true AS within_eps
            FROM code GROUP BY repo
        """,
        "tdigest_quantiles": """
            SELECT CAST(0.01 AS DOUBLE) AS q,
                   round(quantile_cont(l_extendedprice, 0.01), 6) AS exact_quantile,
                   true AS within_rank_eps
            FROM lineitem
            UNION ALL
            SELECT CAST(0.25 AS DOUBLE) AS q,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS exact_quantile,
                   true AS within_rank_eps
            FROM lineitem
            UNION ALL
            SELECT CAST(0.5 AS DOUBLE) AS q,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_quantile,
                   true AS within_rank_eps
            FROM lineitem
            UNION ALL
            SELECT CAST(0.75 AS DOUBLE) AS q,
                   round(quantile_cont(l_extendedprice, 0.75), 6) AS exact_quantile,
                   true AS within_rank_eps
            FROM lineitem
            UNION ALL
            SELECT CAST(0.99 AS DOUBLE) AS q,
                   round(quantile_cont(l_extendedprice, 0.99), 6) AS exact_quantile,
                   true AS within_rank_eps
            FROM lineitem
        """,
        "kll_quantiles": """
            SELECT CAST(0.05 AS DOUBLE) AS q,
                   round(quantile_cont(l_extendedprice, 0.05), 6) AS exact_quantile,
                   true AS within_rank_eps
            FROM lineitem
            UNION ALL
            SELECT CAST(0.5 AS DOUBLE) AS q,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_quantile,
                   true AS within_rank_eps
            FROM lineitem
            UNION ALL
            SELECT CAST(0.95 AS DOUBLE) AS q,
                   round(quantile_cont(l_extendedprice, 0.95), 6) AS exact_quantile,
                   true AS within_rank_eps
            FROM lineitem
        """,
        "dedup_exact": """
            SELECT md5(text) AS digest,
                   min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "jaccard_pairs": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM documents
            ),
            sh0 AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, length(toks) - 2)) AS i
                FROM t WHERE length(toks) >= 3
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
                FROM sh0
                UNION
                SELECT DISTINCT doc_id, array_to_string(toks, ' ') AS shingle
                FROM t WHERE length(toks) < 3
            ),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            c AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT c.id_a, c.id_b,
                   round(nc / (sa.n + sb.n - nc), 6) AS jaccard
            FROM c
            JOIN sz sa ON sa.doc_id = c.id_a
            JOIN sz sb ON sb.doc_id = c.id_b
            WHERE nc / (sa.n + sb.n - nc) >= 0.8
        """,
        "minhash_lsh": """
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM documents
            ),
            sh0 AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, length(toks) - 2)) AS i
                FROM t WHERE length(toks) >= 3
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
                FROM sh0
                UNION
                SELECT DISTINCT doc_id, array_to_string(toks, ' ') AS shingle
                FROM t WHERE length(toks) < 3
            ),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            c AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT c.id_a, c.id_b,
                   round(nc / (sa.n + sb.n - nc), 6) AS jaccard
            FROM c
            JOIN sz sa ON sa.doc_id = c.id_a
            JOIN sz sb ON sb.doc_id = c.id_b
            WHERE nc / (sa.n + sb.n - nc) >= 0.8
        """,
        "dedup_clusters": """
            WITH RECURSIVE t AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM documents
            ),
            sh0 AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, length(toks) - 2)) AS i
                FROM t WHERE length(toks) >= 3
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
                FROM sh0
                UNION
                SELECT DISTINCT doc_id, array_to_string(toks, ' ') AS shingle
                FROM t WHERE length(toks) < 3
            ),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            c AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT c.id_a, c.id_b
                FROM c
                JOIN sz sa ON sa.doc_id = c.id_a
                JOIN sz sb ON sb.doc_id = c.id_b
                WHERE nc / (sa.n + sb.n - nc) >= 0.8
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ),
            reach(id, r) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
            )
            SELECT CAST(id AS BIGINT) AS doc_id,
                   CAST(min(r) AS BIGINT) AS cluster_id
            FROM reach GROUP BY id
        """,
        "pipeline_kept_corpus": """
            WITH RECURSIVE lq AS (
                SELECT doc_id, text,
                    length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for)\\b', 1)) AS c_en,
                    length(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein|mit|auf|zu)\\b', 1)) AS c_de,
                    length(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|une|dans|que|pour|pas)\\b', 1)) AS c_fr,
                    length(regexp_extract_all(lower(text), '\\b(el|la|los|y|es|una|en|que|por|con)\\b', 1)) AS c_es,
                    round(
                      (CASE WHEN length(text) BETWEEN 200 AND 50000 THEN 0.25 ELSE 0.0 END)
                    + (CASE WHEN length(text) / greatest(length(regexp_split_to_array(trim(text), '\\s+')), 1)
                             BETWEEN 3 AND 12 THEN 0.25 ELSE 0.0 END)
                    + (CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                             / greatest(length(text), 1) >= 0.6 THEN 0.25 ELSE 0.0 END)
                    + (CASE WHEN length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for)\\b', 1))
                             / greatest(length(regexp_split_to_array(trim(text), '\\s+')), 1) >= 0.05
                        THEN 0.25 ELSE 0.0 END), 6) AS quality_score
                FROM documents
            ),
            kept0 AS (
                SELECT doc_id, text, quality_score, 'en' AS lang_id
                FROM lq
                WHERE greatest(c_en, c_de, c_fr, c_es) > 0
                  AND c_en = greatest(c_en, c_de, c_fr, c_es)
                  AND quality_score >= 0.5
            ),
            t AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                FROM kept0
            ),
            sh0 AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, length(toks) - 2)) AS i
                FROM t WHERE length(toks) >= 3
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
                FROM sh0
                UNION
                SELECT DISTINCT doc_id, array_to_string(toks, ' ') AS shingle
                FROM t WHERE length(toks) < 3
            ),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            c AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT c.id_a, c.id_b
                FROM c
                JOIN sz sa ON sa.doc_id = c.id_a
                JOIN sz sb ON sb.doc_id = c.id_b
                WHERE nc / (sa.n + sb.n - nc) >= 0.8
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ),
            reach(id, r) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
            ),
            drop_ids AS (
                SELECT id FROM (
                    SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
                ) WHERE id != cluster_id
            )
            SELECT k.doc_id, k.lang_id, k.quality_score,
                   length(regexp_split_to_array(trim(k.text), '\\s+')) AS n_ws_tokens
            FROM kept0 k
            WHERE k.doc_id NOT IN (SELECT id FROM drop_ids)
        """,
        "cosine_dups": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            p AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))) AS c
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(c, 6) AS cosine
            FROM p WHERE c >= 0.4
        """,
        "text_stats": """
            SELECT doc_id,
                   length(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens,
                   length(regexp_extract_all(text, '(\\w+|[^\\w\\s])', 1)) AS n_bpe_tokens
            FROM documents
        """,
        "doc_quality": """
            SELECT doc_id,
                   length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                   round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / greatest(length(text), 1), 6) AS alpha_ratio,
                   round(length(regexp_extract_all(lower(text),
                             '\\b(the|and|of|to|in|is|that|it|was|for)\\b', 1))
                         / greatest(length(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
                       AS stopword_ratio,
                   round(
                     (CASE WHEN length(text) BETWEEN 200 AND 50000 THEN 0.25 ELSE 0.0 END)
                   + (CASE WHEN length(text) / greatest(length(regexp_split_to_array(trim(text), '\\s+')), 1)
                            BETWEEN 3 AND 12 THEN 0.25 ELSE 0.0 END)
                   + (CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                            / greatest(length(text), 1) >= 0.6 THEN 0.25 ELSE 0.0 END)
                   + (CASE WHEN length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for)\\b', 1))
                            / greatest(length(regexp_split_to_array(trim(text), '\\s+')), 1) >= 0.05
                       THEN 0.25 ELSE 0.0 END), 6) AS quality_score
            FROM documents
        """,
        "events_error_users": """
            SELECT user_id,
                   user_id IN (SELECT user_id FROM events WHERE event_type = 'error')
                       AS had_error
            FROM (SELECT DISTINCT user_id FROM events)
        """,
        "sharded_membership": """
            SELECT o_orderkey,
                   o_orderkey IN (SELECT l_orderkey FROM lineitem) AS member
            FROM orders
        """,
        "fast_membership": """
            SELECT o_orderkey,
                   o_orderkey IN (SELECT l_orderkey FROM lineitem) AS member
            FROM orders
        """,
        "fast_extended_membership": """
            SELECT o_orderkey,
                   o_orderkey IN (SELECT l_orderkey FROM lineitem) AS member
            FROM orders
        """,
        "sharded_counts": """
            SELECT p.p_partkey,
                   COALESCE(l.cnt, 0) AS est_count
            FROM part p
            LEFT JOIN (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey) l
              ON p.p_partkey = l.l_partkey
        """,
        "fast_counts": """
            SELECT p.p_partkey,
                   COALESCE(l.cnt, 0) AS est_count
            FROM part p
            LEFT JOIN (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey) l
              ON p.p_partkey = l.l_partkey
        """,
        "fast_extended_counts": """
            SELECT p.p_partkey,
                   COALESCE(l.cnt, 0) AS est_count
            FROM part p
            LEFT JOIN (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey) l
              ON p.p_partkey = l.l_partkey
        """,
        "fast_counts_remove": """
            SELECT p.p_partkey,
                   COALESCE(l.cnt, 0) AS est_count
            FROM part p
            LEFT JOIN (SELECT l_partkey, count(*) AS cnt FROM lineitem
                       WHERE l_returnflag <> 'R' GROUP BY l_partkey) l
              ON p.p_partkey = l.l_partkey
        """,
        "ivf_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
            scored AS (
                SELECT e.vec_id AS id,
                       list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS cos
                FROM embeddings e, q
            )
            SELECT id, round(cos, 6) AS cosine
            FROM scored ORDER BY cos DESC, id ASC LIMIT 8
        """,
        "bloom_prune_join": """
            SELECT l_returnflag,
                   ROUND(SUM(l_quantity), 6) AS sum_qty,
                   COUNT(*) AS cnt
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY l_returnflag
        """,
        "sharded_prune_join": """
            SELECT l_linestatus,
                   CAST(ROUND(SUM(l_extendedprice), 0) AS BIGINT) AS sum_price,
                   COUNT(*) AS cnt
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT'
            GROUP BY l_linestatus
        """,
        "grouped_counts": """
            WITH u AS (SELECT DISTINCT user_id FROM events),
                 t AS (SELECT DISTINCT event_type FROM events)
            SELECT u.user_id, t.event_type,
                   (SELECT count(*) FROM events e
                    WHERE e.user_id = u.user_id
                      AND e.event_type = t.event_type) AS est_count
            FROM u CROSS JOIN t
        """,
        "expiring_known": """
            WITH e AS (
                SELECT CAST(user_id AS VARCHAR) AS key,
                       epoch_ms(ts) AS ts_ms, event_type
                FROM events
            ),
            lease AS (SELECT key, max(ts_ms) + 600000 AS exp FROM e GROUP BY key),
            nowt AS (SELECT max(ts_ms) AS now FROM e),
            wr AS (
                SELECT DISTINCT e.key
                FROM e
                JOIN lease USING (key)
                CROSS JOIN nowt
                WHERE e.event_type = 'error'
                  AND lease.exp > e.ts_ms
                  AND lease.exp > nowt.now
            )
            SELECT l.key,
                   l.exp > n.now AS cached,
                   l.exp + 300000 > n.now AS known,
                   l.key IN (SELECT key FROM wr) AS contained
            FROM lease l CROSS JOIN nowt n
        """,
        "grouped_membership": """
            WITH u AS (SELECT DISTINCT user_id FROM events),
                 t AS (SELECT DISTINCT event_type FROM events)
            SELECT u.user_id, t.event_type,
                   EXISTS (SELECT 1 FROM events e
                           WHERE e.user_id = u.user_id
                             AND e.event_type = t.event_type) AS member
            FROM u CROSS JOIN t
        """,
        "lang_id": """
            WITH c AS (
                SELECT doc_id,
                    length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it|was|for)\\b', 1)) AS c_en,
                    length(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht|ein|mit|auf|zu)\\b', 1)) AS c_de,
                    length(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|une|dans|que|pour|pas)\\b', 1)) AS c_fr,
                    length(regexp_extract_all(lower(text), '\\b(el|la|los|y|es|una|en|que|por|con)\\b', 1)) AS c_es
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(c_en, c_de, c_fr, c_es) <= 0 THEN 'und'
                        WHEN c_en = greatest(c_en, c_de, c_fr, c_es) THEN 'en'
                        WHEN c_de = greatest(c_en, c_de, c_fr, c_es) THEN 'de'
                        WHEN c_fr = greatest(c_en, c_de, c_fr, c_es) THEN 'fr'
                        ELSE 'es' END AS lang_id
            FROM c
        """,
        "range_bucket": _range_bucket_oracle_sql(),
        "cms_join_size": """
            SELECT count(*)::BIGINT AS join_rows
            FROM events a JOIN events b ON a.event_type = b.event_type
        """,
        "sql_membership": """
            SELECT o_orderkey,
                   o_orderkey IN (SELECT l_orderkey FROM lineitem) AS member
            FROM orders
        """,
        "windowed_distinct": """
            SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start_s,
                   count(DISTINCT user_id) AS distinct_users
            FROM events
            GROUP BY 1
        """,
        "windowed_topk": """
            WITH c AS (
                SELECT date_trunc('hour', ts) AS h, event_type,
                       count(*)::BIGINT AS cnt
                FROM events GROUP BY 1, 2
            ),
            r AS (
                SELECT h, event_type, cnt,
                       row_number() OVER (PARTITION BY h
                           ORDER BY cnt DESC, event_type ASC) AS rk
                FROM c
            )
            SELECT epoch(h)::BIGINT AS window_start_s,
                   list(event_type ORDER BY rk) AS top_items,
                   list(cnt ORDER BY rk) AS top_counts
            FROM r WHERE rk <= 3 GROUP BY 1
        """,
        "windowed_quantiles": """
            WITH r AS (
                SELECT date_trunc('hour', ts) AS h, value,
                       row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                          ORDER BY value) AS rn,
                       count(*) OVER (PARTITION BY date_trunc('hour', ts)) AS n
                FROM events
            )
            SELECT epoch(h)::BIGINT AS window_start_s,
                   round(max(CASE WHEN rn = ceil(0.5 * n) THEN value END), 6)
                       AS q50,
                   round(max(CASE WHEN rn = ceil(0.95 * n) THEN value END), 6)
                       AS q95
            FROM r GROUP BY 1
        """,
        # sampling oracles: the 60-bit uniform is ('0x' || first 15 hex
        # of md5)::BIGINT — bit-identical to Spark's conv(substring(
        # md5(...), 1, 15), 16, 10).  Thresholds are the EXACT integers
        # sampling.py computes (same float accumulation, baked driver-
        # side below), so the kept sets match row-for-row.
        "sample_uniform": f"""
            SELECT doc_id FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                  < {_SAMPLE_T_20}
        """,
        "sample_split": f"""
            WITH h AS (
                SELECT doc_id,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS u
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN u < {_SAMPLE_T_TRAIN} THEN 'train'
                        WHEN u < {_SAMPLE_T_VAL} THEN 'val'
                        ELSE 'test' END AS split
            FROM h
        """,
        "sample_bottomk": """
            SELECT doc_id FROM documents
            ORDER BY md5('r6' || chr(31) || doc_id::VARCHAR) ASC
            LIMIT 200
        """,
        "sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                  < CASE lang WHEN 'en' THEN {_STRATA_T["en"]}
                              WHEN 'de' THEN {_STRATA_T["de"]}
                              WHEN 'fr' THEN {_STRATA_T["fr"]}
                              WHEN 'es' THEN {_STRATA_T["es"]}
                              ELSE 0 END
        """,
        "sample_weighted": f"""
            SELECT doc_id FROM (
                SELECT doc_id,
                       pow((('0x' || substr(md5('r6' || chr(31) || doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                           / {float(16**15)!r},
                           1.0 / n_chars) AS rk
                FROM documents WHERE n_chars > 0
                ORDER BY rk DESC LIMIT 100
            )
        """,
        "mix_corpora": _mix_oracle_sql(),
        "pack_documents": """
            WITH h AS (
                SELECT doc_id, n_chars,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS u
                FROM documents
            )
            SELECT doc_id,
                   (u % 8)::INT AS pack_bucket,
                   floor((sum(n_chars) OVER w - n_chars) / 4096)::BIGINT AS pack_id,
                   (sum(n_chars) OVER w - n_chars)::BIGINT AS pack_offset
            FROM h
            WINDOW w AS (PARTITION BY u % 8 ORDER BY u, doc_id
                         ROWS UNBOUNDED PRECEDING)
        """,
        "pack_stats": """
            WITH h AS (
                SELECT doc_id, n_chars,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS u
                FROM documents
            ),
            p AS (
                SELECT (u % 8)::INT AS pack_bucket,
                       floor((sum(n_chars) OVER w - n_chars) / 4096)::BIGINT
                           AS pack_id,
                       n_chars
                FROM h
                WINDOW w AS (PARTITION BY u % 8 ORDER BY u, doc_id
                             ROWS UNBOUNDED PRECEDING)
            )
            SELECT pack_bucket, pack_id,
                   count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS n_tokens
            FROM p GROUP BY 1, 2
        """,
        "knn_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT e.vec_id AS id,
                       list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS cos
                FROM embeddings e, q
            )
            SELECT id, round(cos, 6) AS cosine
            FROM scored ORDER BY cos DESC, id ASC LIMIT 10
        """,
        "knn_join": """
            WITH scored AS (
                SELECT l.vec_id AS lid, r.vec_id AS rid,
                       list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))) AS cos
                FROM embeddings l, embeddings r
                WHERE l.vec_id < 8
            ),
            ranked AS (
                SELECT lid, rid, cos,
                       row_number() OVER (
                           PARTITION BY lid ORDER BY cos DESC, rid ASC
                       ) AS rank
                FROM scored
            )
            SELECT lid, rid, round(cos, 6) AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
    }
    code = CODE_TABLE_SQL(_CODE_N)
    for k, sql in sqls.items():
        if "{code_table}" in sql:
            sqls[k] = sql.replace("{code_table}", code)
    return sqls
