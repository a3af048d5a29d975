#!/usr/bin/env python
"""Phase-level profiling of individual bench cells (round 7, guide §1).

NOT part of the frozen measurement contract (bench.py is the artifact of
record) — this file exists to isolate WHERE each cell's time goes, using
the noop sink (guide §1.4) so the computation is timed without the
collect, inside the exact same session configuration bench.py uses.

Usage: python bench_extra.py CELL [CELL...]
Cells: overhead q1 q6 q4 q13 q10 x20 x22 q7 q15 x21 s3 s4 s8 s1
Each phase is best-of-3 (clearCache between repeats), printed as one
line per phase.  Do NOT run alongside another Spark job.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BEST_OF = int(os.environ.get("BLOOMSPARK_BENCH_BEST_OF", "3"))


def make_spark():
    from bench import make_spark as _ms

    spark = _ms(CPUS, app="bloomspark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, best_of=BEST_OF, clear=True):
    best = None
    for _ in range(best_of):
        if clear:
            spark.catalog.clearCache()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"  {name:<52s} {best:8.3f} s")
    return best


def profile_overhead(spark):
    from pyspark.sql import functions as F

    print("[overhead] empty-job / scan floors")
    timed(spark, "range(32 parts).count  [job floor]",
          lambda: spark.range(0, 1_000, 1, CPUS).count())
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    timed(spark, "lineitem scan 1col noop",
          lambda: noop(li.select("l_orderkey")))
    timed(spark, "lineitem repartition(32) 1col noop",
          lambda: noop(li.repartition(CPUS).select("l_orderkey")))
    timed(spark, "df.rdd.getNumPartitions  [plan->rdd]",
          lambda: li.repartition(CPUS).select("l_orderkey").rdd.getNumPartitions())


def profile_q1(spark):
    from pyspark.sql import functions as F

    from bloomspark import FilterConfig, build_bloom
    from bloomspark.build import build_partials

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_li = li.count()
    cfg = FilterConfig.complete(n=n_li, p=0.01)
    build_bloom(li.limit(50_000), "l_orderkey", cfg, num_partitions=CPUS)  # warm
    print("[q1] bloom build phases")
    timed(spark, "scan+repartition+cast noop",
          lambda: noop(li.repartition(CPUS).select(
              F.col("l_orderkey").cast("string").alias("__key"))))
    timed(spark, "+ mapInArrow partials noop",
          lambda: noop(build_partials(li.repartition(CPUS), "l_orderkey", cfg)))
    timed(spark, "full build_bloom (collect+merge)",
          lambda: build_bloom(li, "l_orderkey", cfg, num_partitions=CPUS))


def profile_q6(spark):
    from pyspark.sql import functions as F

    from bloomspark import FilterConfig, build_bloom
    from bloomspark.build import build_partials

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_li = li.count()
    scfg = FilterConfig.complete(n=n_li, p=0.01)
    keyed = li.select(
        F.sha2(F.concat_ws(":", "l_orderkey", "l_linenumber"), 256).alias("sha")
    )
    build_bloom(keyed.limit(50_000), "sha", scfg, num_partitions=CPUS)  # warm
    print("[q6] sha-key build phases")
    timed(spark, "sha2 keys scan only noop", lambda: noop(keyed))
    timed(spark, "sha2 + repartition noop",
          lambda: noop(keyed.repartition(CPUS)))
    timed(spark, "+ mapInArrow partials noop",
          lambda: noop(build_partials(keyed.repartition(CPUS), "sha", scfg)))
    timed(spark, "full build_bloom",
          lambda: build_bloom(keyed, "sha", scfg, num_partitions=CPUS))


def profile_q4(spark):
    from pyspark.sql import functions as F

    from bloomspark import FilterConfig, build_counting, with_estimated_count

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_li = li.count()
    ccfg = FilterConfig.complete(n=max(n_li // 30, 1000), p=1e-6, counting_bits=16)
    cbf = build_counting(li, "l_partkey", ccfg, num_partitions=CPUS)
    print("[q4] count probe phases")
    timed(spark, "probe input scan noop", lambda: noop(li.select("l_partkey")))
    timed(spark, "with_estimated_count noop",
          lambda: noop(with_estimated_count(li.select("l_partkey"), "l_partkey", cbf)))
    timed(spark, "full probe + agg collect",
          lambda: with_estimated_count(li.select("l_partkey"), "l_partkey", cbf)
          .agg(F.sum("est_count")).collect())


def profile_q13(spark):
    from pyspark.sql import functions as F

    from bloomspark import FilterConfig
    from bloomspark.build import key_column
    from bloomspark.sharded import build_sharded_bloom, shard_column

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_li = li.count()
    num_shards = 64
    shcfg = FilterConfig.complete(n=max(n_li // num_shards, 1000), p=0.01)
    print("[q13] sharded build phases")
    src = li.repartition(CPUS)
    sharded = src.select(
        key_column("l_orderkey").alias("__key"),
        shard_column("l_orderkey", num_shards).cast("string").alias("__shard"),
    )
    timed(spark, "keyed select noop", lambda: noop(sharded))
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    timed(spark, "+ repartition(group,salt) noop",
          lambda: noop(sharded.withColumn(
              "__salt", F.pmod(F.xxhash64(F.col("__key")), F.lit(8))
          ).repartition(shuffle_parts, "__shard", "__salt")))

    def full():
        sh = build_sharded_bloom(src, "l_orderkey", shcfg, num_shards=num_shards).persist()
        sh.count()
        sh.unpersist()

    timed(spark, "full sharded build persist+count", full)


def profile_q10(spark):
    from bloomspark.sketches import TDigest, build_sketch
    from bloomspark.sketches.engine import build_sketch_partials

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    print("[q10] t-digest phases")
    td = TDigest(delta=200)
    timed(spark, "repartition 1col noop",
          lambda: noop(li.repartition(CPUS).select("l_extendedprice")))
    timed(spark, "+ mapInArrow partials noop",
          lambda: noop(build_sketch_partials(li.repartition(CPUS), "l_extendedprice", td)))
    timed(spark, "full build_sketch + quantile",
          lambda: build_sketch(li.repartition(CPUS), "l_extendedprice", td).quantile(0.99))


def profile_x20(spark):
    from bloomspark.pipeline import knn_join_lsh

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    print(f"[x20] knn join ({n} vectors)")
    timed(spark, "knn_join_lsh k=5 planes=10 tables=2 count",
          lambda: knn_join_lsh(emb, emb, k=5, planes=10, tables=2).count())


def profile_x22(spark):
    from bloomspark.sketches import FrequentItemsSketch, build_sketch

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    print("[x22] frequent items")
    timed(spark, "full frequent top_k(10)",
          lambda: build_sketch(li.repartition(CPUS), "l_partkey",
                               FrequentItemsSketch(k=2048)).top_k(10))


def profile_q7(spark):
    from bloomspark.pipeline import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.count()
    from bloomspark.pipeline import minhash_lsh_pairs as _w
    _w(docs.limit(500), verify_threshold=0.8).count()  # warm
    print("[q7] minhash lsh dedup")
    timed(spark, "cands only (no verify) count",
          lambda: minhash_lsh_pairs(docs.repartition(CPUS // 2)).count())
    timed(spark, "full verify count",
          lambda: minhash_lsh_pairs(docs.repartition(CPUS // 2),
                                    verify_threshold=0.8).count())


def profile_q15(spark):
    from pyspark.sql import functions as F

    from bloomspark.join import bloom_prune_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    n_urgent = urgent.count()
    print("[q15] bloom prune join")
    timed(spark, "full prune join count",
          lambda: bloom_prune_join(li.repartition(CPUS), urgent,
                                   ("l_orderkey", "o_orderkey"),
                                   n_build=n_urgent).count())


def profile_x21(spark):
    from pyspark.sql import functions as F

    from bloomspark.join import sharded_prune_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    n_urgent = urgent.count()
    print("[x21] sharded prune join")
    timed(spark, "full sharded prune join count",
          lambda: sharded_prune_join(li.repartition(CPUS), urgent,
                                     ("l_orderkey", "o_orderkey"),
                                     n_build=n_urgent, num_shards=16).count())


def _sf1_fact(spark, n_fact=6_000_000):
    from pyspark.sql import functions as F

    return spark.range(0, n_fact, 1, CPUS).select(
        F.sha2(F.col("id").cast("string"), 256).alias("sha"),
        F.pmod(F.col("id"), F.lit(n_fact // 4)).alias("fkey"),
        (F.col("id") % 100).alias("val"),
    )


def profile_s1(spark):
    from bloomspark import FilterConfig, build_bloom

    fact = _sf1_fact(spark)
    fcfg = FilterConfig.complete(n=6_000_000, p=0.01, hash_method="XXHash64KM")
    print("[s1] XXHash64KM build 6m phases (single-run each)")
    timed(spark, "fact scan (sha2 gen) noop", lambda: noop(fact), best_of=1)
    timed(spark, "full build_bloom (collect)",
          lambda: build_bloom(fact, "sha", fcfg), best_of=1)


def profile_s3(spark):
    from bloomspark import FilterConfig
    from bloomspark.sharded import build_sharded_bloom

    fact = _sf1_fact(spark)
    num_shards = 64
    shcfg = FilterConfig.complete(n=6_000_000 // num_shards, p=0.01)
    print("[s3] sharded build 6m (single-run)")

    def full():
        sh = build_sharded_bloom(fact, "sha", shcfg, num_shards=num_shards).persist()
        sh.count()
        sh.unpersist()

    timed(spark, "full sharded build", full, best_of=1)


def profile_s4(spark):
    from pyspark.sql import functions as F

    from bloomspark import FilterConfig
    from bloomspark.sharded import build_sharded_bloom, with_sharded_membership

    fact = _sf1_fact(spark)
    probes = spark.range(0, 3_000_000, 2, CPUS).select(
        F.sha2(F.col("id").cast("string"), 256).alias("sha")
    )
    num_shards = 64
    shcfg = FilterConfig.complete(n=6_000_000 // num_shards, p=0.01)
    shards = build_sharded_bloom(fact, "sha", shcfg, num_shards=num_shards).persist()
    shards.count()
    print("[s4] sharded probe 1.5m (single-run)")
    timed(spark, "probe input scan noop", lambda: noop(probes), best_of=1)
    timed(spark, "full cogroup probe count",
          lambda: with_sharded_membership(
              probes, "sha", shards, shcfg, num_shards=num_shards
          ).where("member").count(), best_of=1, clear=False)
    shards.unpersist()


def profile_s8(spark):
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bloomspark import FilterConfig
    from bloomspark.streaming import _make_dedup_batch_processor

    dcfg = FilterConfig.complete(n=2_000_000, p=0.01, hash_method="XXHash64KM")
    tmp = tempfile.mkdtemp(prefix="bloomspark_s8x_")
    print("[s8] streaming dedup (single-run, 3 batches)")
    try:
        proc = _make_dedup_batch_processor(
            "sha", dcfg, os.path.join(tmp, "ck"), os.path.join(tmp, "out")
        )
        for b in range(3):
            t0 = time.time()
            batch = spark.range(
                b * 250_000, b * 250_000 + 500_000, 1, CPUS
            ).select(F.sha2(F.col("id").cast("string"), 256).alias("sha"))
            proc(batch, b)
            print(f"  batch {b:<46d} {time.time() - t0:8.3f} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


PROFILES = {
    "overhead": profile_overhead,
    "q1": profile_q1,
    "q6": profile_q6,
    "q4": profile_q4,
    "q13": profile_q13,
    "q10": profile_q10,
    "x20": profile_x20,
    "x22": profile_x22,
    "q7": profile_q7,
    "q15": profile_q15,
    "x21": profile_x21,
    "s1": profile_s1,
    "s3": profile_s3,
    "s4": profile_s4,
    "s8": profile_s8,
}


def main():
    cells = [a for a in sys.argv[1:] if not a.startswith("-")] or ["overhead"]
    spark = make_spark()
    # same warm-up as bench.py: worker pool + codegen/runner init
    from pyspark.sql import functions as F

    from bloomspark import FilterConfig, build_bloom

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    wcfg = FilterConfig.complete(n=50_000, p=0.01)
    build_bloom(li.limit(50_000), "l_orderkey", wcfg, num_partitions=CPUS)
    for c in cells:
        PROFILES[c](spark)
    spark.stop()


if __name__ == "__main__":
    main()
