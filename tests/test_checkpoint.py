"""Checkpoint-resume equivalence (SURVEY.md §5 / FIXTURES.md F6):
kill after a partial build, resume, and the final filter is
byte-identical to a cold build; lineage records per-bucket metrics."""

import json
import os

import pytest

from bloomspark import FilterConfig
from bloomspark.build import build_bloom
from bloomspark.checkpoint import (
    build_bloom_checkpointed,
    completed_buckets,
    load,
    remove,
)

CFG = FilterConfig.complete(n=10_000, p=0.01)


def test_checkpoint_cold_build_and_load(spark, orders, tmp_path):
    d = str(tmp_path / "ck1")
    bf = build_bloom_checkpointed(orders, "o_orderkey", CFG, d, num_buckets=8)
    assert bf == build_bloom(orders, "o_orderkey", CFG)
    # load-side
    loaded = load(d)
    assert loaded == bf
    lineage = json.load(open(os.path.join(d, "lineage.json")))
    assert len(lineage["buckets"]) == 8
    assert lineage["total_rows"] == orders.count()
    assert all(v["rows"] > 0 for v in lineage["buckets"].values())


def test_checkpoint_resume_skips_done_buckets(spark, orders, tmp_path):
    d = str(tmp_path / "ck2")
    # phase 1: build only buckets {0,1,2} by feeding a filtered df — this
    # simulates a job killed partway (some partials durable, some missing)
    from pyspark.sql import functions as F

    partial_input = orders.where(
        F.pmod(F.xxhash64(F.col("o_orderkey").cast("string")), F.lit(8)).isin([0, 1, 2])
    )
    build_bloom_checkpointed(partial_input, "o_orderkey", CFG, d, num_buckets=8)
    # groupBy emits no rows for empty buckets, so only 0-2 are durable —
    # exactly the state after a mid-build kill
    assert set(completed_buckets(spark, d)) == {0, 1, 2}

    # phase 2: resume over the FULL input — only buckets 3..7 are rebuilt
    bf = build_bloom_checkpointed(orders, "o_orderkey", CFG, d, num_buckets=8)
    lineage = json.load(open(os.path.join(d, "lineage.json")))
    assert sorted(lineage["resumed_buckets"]) == [0, 1, 2]
    assert sorted(lineage["built_buckets"]) == [3, 4, 5, 6, 7]
    # byte-identical to a cold build
    assert bf.to_bytes() == build_bloom(orders, "o_orderkey", CFG).to_bytes()


def test_checkpoint_incompatible_config_rejected(spark, orders, tmp_path):
    d = str(tmp_path / "ck3")
    build_bloom_checkpointed(orders, "o_orderkey", CFG, d, num_buckets=4)
    other = FilterConfig.complete(n=500, p=0.1)
    with pytest.raises(ValueError):
        build_bloom_checkpointed(orders, "o_orderkey", other, d, num_buckets=4)
    # overwrite_if_exists rebuilds cleanly
    bf = build_bloom_checkpointed(
        orders, "o_orderkey", other, d, num_buckets=4, overwrite_if_exists=True
    )
    assert bf == build_bloom(orders, "o_orderkey", other)


def test_checkpoint_remove(spark, orders, tmp_path):
    d = str(tmp_path / "ck4")
    build_bloom_checkpointed(orders, "o_orderkey", CFG, d, num_buckets=4)
    assert load(d) is not None
    remove(d)
    assert load(d) is None


def test_bucket_determinism_across_runs(spark, orders, tmp_path):
    """Same input + num_buckets -> identical per-bucket fingerprints
    (the lineage contract that makes resume sound)."""
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_bloom_checkpointed(orders.repartition(3), "o_orderkey", CFG, d1, num_buckets=8)
    build_bloom_checkpointed(orders.repartition(11), "o_orderkey", CFG, d2, num_buckets=8)
    l1 = json.load(open(os.path.join(d1, "lineage.json")))["buckets"]
    l2 = json.load(open(os.path.join(d2, "lineage.json")))["buckets"]
    for b in l1:
        assert l1[b]["fingerprint"] == l2[b]["fingerprint"]
        assert l1[b]["rows"] == l2[b]["rows"]


def test_counting_checkpoint_resume(spark, lineitem, tmp_path):
    from pyspark.sql import functions as F

    from bloomspark import (
        build_counting,
        build_counting_checkpointed,
        load_counting_checkpoint,
    )

    cfg = FilterConfig.complete(n=2000, p=1e-6, counting_bits=32)
    d = str(tmp_path / "cck")
    # partial build (half the buckets' rows), then resume over full input
    half = lineitem.where(
        F.pmod(F.xxhash64(F.col("l_partkey").cast("string")), F.lit(8)) < 4
    )
    build_counting_checkpointed(half, "l_partkey", cfg, d, num_buckets=8)
    resumed = build_counting_checkpointed(lineitem, "l_partkey", cfg, d, num_buckets=8)
    cold = build_counting(lineitem, "l_partkey", cfg)
    assert resumed == cold
    loaded = load_counting_checkpoint(d)
    assert loaded == cold
    # estimates equal exact counts at this FPP
    exact = lineitem.groupBy("l_partkey").count().collect()
    for r in exact[:30]:
        assert loaded.get_estimated_count(str(r["l_partkey"])) == r["count"]


def test_counting_checkpoint_resumes_buckets_without_overflows(spark, lineitem, tmp_path):
    """Buckets written before the ``overflows`` column existed (the
    column dropped from the stored parquet) still resume to the cold
    counters; their missing overflow count reads as 0, so the resumed
    count is the cold checkpoint's less those buckets' stored clamps."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bloomspark import build_counting, build_counting_checkpointed

    cfg = FilterConfig.complete(n=200, p=0.01, counting_bits=2)
    d = str(tmp_path / "cck")
    half = lineitem.where(
        F.pmod(F.xxhash64(F.col("l_partkey").cast("string")), F.lit(8)) < 4
    )
    assert build_counting_checkpointed(
        half, "l_partkey", cfg, d, num_buckets=8
    ).overflow_count > 0
    parts = os.path.join(d, "partials")
    for name in os.listdir(parts):
        if name.endswith(".parquet"):
            path = os.path.join(parts, name)
            pq.write_table(pq.read_table(path).drop_columns(["overflows"]), path)
            # the local filesystem's checksum sidecar no longer matches
            os.remove(os.path.join(parts, f".{name}.crc"))

    resumed = build_counting_checkpointed(lineitem, "l_partkey", cfg, d, num_buckets=8)
    assert resumed.to_bytes() == build_counting(lineitem, "l_partkey", cfg).to_bytes()
    stored = spark.read.option("mergeSchema", "true").parquet(parts).toArrow()
    assert {b for b, o in zip(stored["bucket"].to_pylist(),
                              stored["overflows"].to_pylist()) if o is None} == {0, 1, 2, 3}

    cold_dir = str(tmp_path / "cold")
    cold = build_counting_checkpointed(lineitem, "l_partkey", cfg, cold_dir, num_buckets=8)
    cold_rows = spark.read.parquet(os.path.join(cold_dir, "partials")).toArrow()
    dropped = sum(o for b, o in zip(cold_rows["bucket"].to_pylist(),
                                    cold_rows["overflows"].to_pylist()) if b < 4)
    assert dropped > 0
    assert resumed.to_bytes() == cold.to_bytes()
    assert resumed.overflow_count == cold.overflow_count - dropped


def test_checkpoint_files_written_atomically(spark, orders, tmp_path, monkeypatch):
    """A write that dies before its rename leaves the previous
    ``bitset.bin`` whole (``load`` zero-pads a short file, which would
    read as false negatives) and no temp file behind."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "ck")
    partial_input = orders.where(
        F.pmod(F.xxhash64(F.col("o_orderkey").cast("string")), F.lit(8)) < 3
    )
    before = build_bloom_checkpointed(partial_input, "o_orderkey", CFG, d, num_buckets=8)
    bits_path = os.path.join(d, "bitset.bin")

    def killed(src, dst):
        raise OSError("killed before rename")

    monkeypatch.setattr(os, "replace", killed)
    with pytest.raises(OSError, match="killed"):
        build_bloom_checkpointed(orders, "o_orderkey", CFG, d, num_buckets=8)
    monkeypatch.undo()
    with open(bits_path, "rb") as f:
        assert f.read() == before.to_bytes()
    assert load(d) == before
    assert not [n for n in os.listdir(d) if n.endswith(".tmp")]
    full = build_bloom_checkpointed(orders, "o_orderkey", CFG, d, num_buckets=8)
    assert full == build_bloom(orders, "o_orderkey", CFG) != before
