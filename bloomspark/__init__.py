"""bloomspark — a PySpark-native distributed Bloom sketch library.

A from-scratch re-expression of Baqend/Orestes-Bloomfilter's
capabilities (standard + counting Bloom filters, optimal sizing math,
the full 15-method HashProvider suite) on Spark's execution model:
per-partition bitsets built with Arrow-batched vectorized numpy hashing
inside ``mapInArrow``, merged associatively through one ``applyInArrow``
routine (partials.py), with broadcast probe columns, map-side grouped
builds, and checkpoint-resumable lineage.
"""

from .params import (
    FilterConfig,
    optimal_m,
    optimal_k,
    optimal_n,
    optimal_p,
    HASH_METHODS,
    DEFAULT_HASH_METHOD,
)
from .filter import BloomFilter, merge_all, population_estimate
from .counting import CountingBloomFilter, merge_all_counting
from .hashing import hash_positions, murmur3_32, as_bytes_array
from .build import (
    build_bloom,
    build_bloom_report,
    build_counting,
    build_counting_with_removals,
    build_partials,
)
from .probe import with_membership, with_estimated_count
from .grouped import (
    build_bloom_per_group,
    build_counting_per_group,
    with_group_estimated_count,
    with_group_membership,
)
from .checkpoint import (
    build_bloom_checkpointed,
    build_counting_checkpointed,
    load as load_checkpoint,
    load_counting as load_counting_checkpoint,
)
from .sketches import (
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    TDigest,
    build_sketch,
    build_sketch_checkpointed,
)
from .sharded import (build_sharded_bloom, build_sharded_counting,
                      estimated_population_sharded,
                      estimated_population_sharded_counting,
                      load_sharded, load_sharded_counting, merge_sharded,
                      merge_sharded_counting, save_sharded,
                      save_sharded_counting, subtract_sharded_counting,
                      with_sharded_estimated_count, with_sharded_membership)
from .fast import blocks_from_bloom, with_fast_membership
from .join import (bloom_prune_join, bloom_semi_filter,
                   sharded_prune_join, sharded_semi_filter)
from .sources import read_table, source_code_table

__all__ = [
    "build_bloom",
    "build_bloom_report",
    "build_counting",
    "build_counting_with_removals",
    "build_partials",
    "with_membership",
    "with_estimated_count",
    "build_bloom_per_group",
    "build_counting_per_group",
    "build_bloom_checkpointed",
    "build_counting_checkpointed",
    "load_checkpoint",
    "load_counting_checkpoint",
    "with_group_membership",
    "with_group_estimated_count",
    "HyperLogLog",
    "CountMinSketch",
    "TDigest",
    "KLLSketch",
    "build_sketch",
    "build_sketch_checkpointed",
    "build_sharded_bloom",
    "with_sharded_membership",
    "merge_sharded",
    "estimated_population_sharded",
    "estimated_population_sharded_counting",
    "build_sharded_counting",
    "with_sharded_estimated_count",
    "merge_sharded_counting",
    "subtract_sharded_counting",
    "save_sharded_counting",
    "load_sharded_counting",
    "save_sharded",
    "load_sharded",
    "with_fast_membership",
    "blocks_from_bloom",
    "bloom_prune_join",
    "bloom_semi_filter",
    "sharded_prune_join",
    "sharded_semi_filter",
    "source_code_table",
    "read_table",
    "FilterConfig",
    "BloomFilter",
    "CountingBloomFilter",
    "merge_all",
    "merge_all_counting",
    "population_estimate",
    "optimal_m",
    "optimal_k",
    "optimal_n",
    "optimal_p",
    "hash_positions",
    "murmur3_32",
    "as_bytes_array",
    "HASH_METHODS",
    "DEFAULT_HASH_METHOD",
]

__version__ = "0.1.0"
