"""Deduplication operators for document corpora.

Five families, each chosen for a different scale/recall trade-off:

- **exact**: hash-groupBy on a content digest — one shuffle, exact.
- **n-gram Jaccard**: exact similarity on word shingles via
  explode + self-join — quadratic within shared shingles, used as the
  verification oracle for the approximate families.
- **MinHash + LSH**: shingle -> vectorized minhash signatures ->
  band-bucket join.  The candidate generation is a single
  explode+groupBy (no cross join), which is the only shape that
  survives 10^9 documents.
- **SimHash**: 64-bit weighted token fingerprint; near-dup candidates
  via the pigeonhole band trick (hamming <= d implies one of d+1 bands
  equal).
- **embedding cosine**: normalized-vector dot product; brute pairs for
  small dims, LSH-bucketed for scale (see simsearch.py).

All Python stays in Arrow-batched pandas UDFs operating on whole numpy
matrices; candidate generation and joins are native DataFrame ops that
Catalyst plans (broadcast/shuffle) like any other join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ..hashing import Keys, murmur3_32


def _flatten_offsets(arr: pa.Array):
    """Zero-copy (flat_values, relative_offsets) of an Arrow ListArray.

    The fast path for every tokens/shingles UDF: no Python object is
    created per element (round 1 flattened through a per-shingle list
    comprehension — the repo's no-per-row-Python invariant violated at
    the sub-row level, and 51% of the bench).  Null slots (null text)
    flatten as zero-length docs: ``ListArray.flatten()`` already skips
    null slots' value ranges in order, so zeroing their lengths in the
    offset diff re-aligns the offsets exactly — no ``to_pylist``
    round-trip of the whole batch (round-2 ADVICE: one null doc used to
    de-vectorize the entire batch)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off = np.asarray(arr.offsets, dtype=np.int64)
    if arr.null_count:
        lens = np.diff(off)
        lens[np.asarray(arr.is_null())] = 0
        out_off = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=out_off[1:])
        return arr.flatten(), out_off
    return arr.flatten(), off - off[0]

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest.

    One hash-aggregate: (digest) -> keep lowest id, count copies.  The
    digest groupBy is the canonical map-side-combinable shuffle; at
    100 TB the combine step collapses each partition's duplicates before
    the exchange.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# word shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingle_column(text_col: str, n: int = 3):
    """array<string> of word n-grams, all built-in (codegen'd) functions."""
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", tokens)))


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    stop_shingle_max_df: int = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs on distinct word n-grams.

    explode -> self-join on shingle -> |A∩B| by count, |A∪B| by
    inclusion-exclusion.  The join key is the shingle itself, so common
    shingles are the skew risk at scale: ``stop_shingle_max_df`` drops
    shingles appearing in more than that many docs BEFORE the self-join
    (the standard stop-shingle trick) — a shingle with document
    frequency f contributes f² join rows, so one hot shingle at 10⁶
    docs is 10¹² rows without the guard.  Sizes are computed over the
    same filtered sets, so the Jaccard stays internally consistent.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_column(text_col, n)).alias("shingles"),
    )
    exploded = sh.select("id", F.explode("shingles").alias("shingle"))
    if stop_shingle_max_df is not None:
        # document frequency is a map-side-combinable count; the hot set
        # is tiny by Zipf, so the anti-join broadcasts
        hot = (
            exploded.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > stop_shingle_max_df)
            .select("shingle")
        )
        exploded = exploded.join(F.broadcast(hot), "shingle", "left_anti")
        sizes = exploded.groupBy("id").agg(F.count("*").alias("n_sh"))
    else:
        sizes = sh.select("id", F.size("shingles").alias("n_sh"))
    common = (
        exploded.alias("a")
        .join(exploded.alias("b"), on="shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_SM1 = np.uint64(0xBF58476D1CE4E5B9)
_SM2 = np.uint64(0x94D049BB133111EB)


def _mix64(v: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — full-avalanche mixing.  An affine
    (a*h+b) mod p family is NOT min-wise independent here: for small h
    the map never wraps and preserves order, so one low-hash shingle
    dominates every minimum.  A per-function avalanche mix is."""
    v = v ^ (v >> np.uint64(30))
    v = v * _SM1
    v = v ^ (v >> np.uint64(27))
    v = v * _SM2
    v = v ^ (v >> np.uint64(31))
    return v


def _minhash_params(num_hashes: int, seed: int = 7):
    """Deterministic 64-bit seeds, one per hash function."""
    rng = np.random.RandomState(seed)
    lo = rng.randint(0, 1 << 32, size=num_hashes).astype(np.uint64)
    hi = rng.randint(0, 1 << 32, size=num_hashes).astype(np.uint64)
    return (hi << np.uint64(32)) | lo


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 128,
    seed: int = 7,
) -> DataFrame:
    """(id, signature array<long>[num_hashes]) via vectorized minhash.

    Shingling happens in codegen'd built-ins; the UDF receives the
    shingle arrays and computes, per Arrow batch, murmur3 of every
    shingle once and all num_hashes permutations by one (H, S) numpy
    broadcast — no per-row Python.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_column(text_col, n)).alias("shingles"),
    )
    return _signatures_from_shingles(sh, num_hashes=num_hashes, seed=seed)


def _signatures_from_shingles(
    sh: DataFrame, *, num_hashes: int = 128, seed: int = 7
) -> DataFrame:
    """(id, signature) from an existing (id, shingles) DataFrame — lets
    a caller share one (possibly persisted) shingle scan between the
    signature stage and the exact-verify stage."""
    seeds = _minhash_params(num_hashes, seed)
    n_h = num_hashes

    @arrow_udf("array<long>")
    def sig(shingles: pa.Array) -> pa.Array:
        flat, off = _flatten_offsets(shingles)
        counts = np.diff(off)
        if len(flat) == 0:
            return pa.ListArray.from_arrays(
                np.zeros(len(counts) + 1, dtype=np.int32),
                pa.array([], type=pa.int64()),
            )
        h = murmur3_32(Keys.from_arrow(flat), 0).astype(np.uint64)  # (S,)
        with np.errstate(over="ignore"):
            perms = _mix64(h[:, None] ^ seeds[None, :])  # (S, H)
        # per-doc minima in ONE ufunc pass: segment boundaries are the
        # starts of the non-empty docs (empty docs are zero-width, so
        # consecutive non-empty starts delimit exactly one doc's rows)
        nonempty = np.nonzero(counts > 0)[0]
        mins = np.minimum.reduceat(perms, off[:-1][nonempty], axis=0)  # (NE, H)
        out_counts = np.where(counts > 0, n_h, 0)
        out_off = np.concatenate(([0], np.cumsum(out_counts))).astype(np.int32)
        return pa.ListArray.from_arrays(
            pa.array(out_off, type=pa.int32()),
            pa.array(mins.view(np.int64).ravel(), type=pa.int64()),
        )

    return sh.select("id", sig(F.col("shingles")).alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 7,
    verify_threshold: float = None,
    max_bucket_size: int = 1000,
    persist_shingles: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over minhash signatures.

    signature -> ``bands`` bands of r = num_hashes/bands rows; a pair
    collides if any band is identical.  Candidates come from ONE
    explode(band hashes) -> groupBy(band, bucket) collect_list ->
    in-bucket pair explode.  This is a single-branch plan: the
    signature pipeline is scanned/computed ONCE (a self-join — round
    1's shape — recomputes the whole lineage on both sides and was 2x
    the scans and an extra shuffle).  Buckets larger than
    ``max_bucket_size`` are dropped: a B-id bucket yields B²/2 pairs
    in one task, and a pathological bucket (thousands of identical
    docs) belongs to exact dedup, not LSH — the standard guard.  If
    ``verify_threshold`` is set, candidates are verified with exact
    n-gram Jaccard and filtered.
    Returns (id_a, id_b [, jaccard]).

    When ``persist_shingles`` is on (the default with verification),
    the shared shingle scan is cached for the duration of the returned
    (lazy) DataFrame's consumption; because there is no natural release
    point inside a lazy plan, the cached partitions stay resident until
    the session ends or the caller calls
    :func:`unpersist_intermediates` on the result after consuming it
    (repeated calls in one long-lived session should do so, or pass
    ``persist_shingles=False``).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_column(text_col, n)).alias("shingles"),
    )
    persisted = None
    if verify_threshold is not None and persist_shingles:
        # the verify stage re-reads the shingle sets for both pair
        # sides; persisting turns 3 source scans + shingle recomputes
        # into 1 (MEMORY_AND_DISK: spills, never OOMs)
        from pyspark import StorageLevel

        sh = persisted = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _signatures_from_shingles(sh, num_hashes=num_hashes, seed=seed)
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.hash(F.concat_ws(",", F.slice("signature", bi * r + 1, r))).alias(
                        "bucket"
                    ),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(
            (F.size("ids") >= 2) & (F.size("ids") <= F.lit(max_bucket_size))
        )
    )
    # all i<j pairs within a bucket, JVM-side higher-order functions
    pair_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cands = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    if verify_threshold is None:
        return cands
    # verify ONLY the candidates (never the full pair space): join each
    # side's shingle set onto the pair and compute exact Jaccard with
    # JVM built-ins (array_intersect) — at scale candidates ≪ all pairs;
    # `sh` is the same (persisted) shingle scan the signatures used
    out = (
        cands.join(
            sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if persisted is not None:
        out._bloomspark_persisted = persisted  # release point: unpersist_intermediates
    return out


def unpersist_intermediates(result: DataFrame) -> bool:
    """Release intermediates cached by a pipeline operator (currently the
    shared shingle scan of :func:`minhash_lsh_pairs`).  Call AFTER the
    result DataFrame has been consumed; returns True if anything was
    unpersisted.  Safe no-op for results without cached intermediates."""
    handle = getattr(result, "_bloomspark_persisted", None)
    if handle is None:
        return False
    handle.unpersist()
    result._bloomspark_persisted = None
    return True


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over the pair set)
# ---------------------------------------------------------------------------


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iterations: int = 25,
    convergence_check_every: int = 2,
) -> DataFrame:
    """Group near-duplicate PAIRS into CLUSTERS -> (id, cluster_id),
    where cluster_id is the minimum member id of each connected
    component.  This is the step a training-data pipeline runs after
    pair generation: "doc A ~ B, B ~ C" must collapse to ONE kept
    document, which needs components, not pairs.

    Algorithm: min-label propagation (the Pregel formulation GraphX's
    connectedComponents uses) — every node starts labeled with its own
    id; each round every node takes the min of its and its neighbors'
    labels (one join + one groupBy over the symmetrized edge set);
    converged when a round changes nothing.  Rounds needed = graph
    diameter; LSH/banded dup clusters are near-cliques (diameter 2-3),
    so this terminates in a handful of rounds even at 10^12 docs —
    where an all-pairs or driver-side union-find cannot exist.  Each
    round localCheckpoints the label table: lineage stays one round
    deep instead of compounding joins, and the convergence check rides
    the same materialization.  The changed-count is a driver action per
    check, so it runs every ``convergence_check_every`` rounds (default
    2 — propagating once more over converged labels is a no-op, so the
    only cost of a sparser cadence is up to check_every-1 extra no-op
    rounds, against half the driver job count on deep graphs; set 1 to
    check every round).  Raises if ``max_iterations`` rounds did
    not converge (a pair graph with a 25-hop path is not a dup cluster
    — that means the threshold upstream is far too loose).

    Only nodes that appear in ``pairs`` are returned; singletons are
    the caller's complement (see :func:`dedup_keep_representatives`).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )
    if convergence_check_every < 1:
        raise ValueError("convergence_check_every must be >= 1")
    for rnd in range(1, max_iterations + 1):
        nbr = edges.join(
            labels.select(
                F.col("id").alias("dst"), F.col("label").alias("nlabel")
            ),
            "dst",
        ).select(F.col("src").alias("id"), F.col("nlabel").alias("label"))
        check_round = rnd % convergence_check_every == 0 or rnd == max_iterations
        # on check rounds the convergence count IS the materializing
        # action (lazy checkpoint computed by the count job, then read
        # back by every later consumer) — one job instead of an eager
        # checkpoint job plus a count job (round-7)
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=not check_round)
        )
        # compare to the immediately-previous round's labels, but only on
        # the cadence (plus the last permitted round, so the guard below
        # never fires on an unchecked convergence)
        if check_round:
            changed = (
                new_labels.join(
                    labels.select("id", F.col("label").alias("old")), "id"
                )
                .where(F.col("label") != F.col("old"))
                .count()
            )
            if changed == 0:
                return new_labels.select(
                    "id", F.col("label").alias("cluster_id")
                )
        labels = new_labels
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iterations} rounds: "
        "the pair graph has very long paths — tighten the upstream "
        "similarity threshold or raise max_iterations"
    )


def dedup_keep_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The kept corpus after cluster resolution: every document outside
    any cluster, plus each cluster's representative (its minimum id ==
    the cluster_id itself).  One left join; no shuffle of doc payloads
    beyond it."""
    drop = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_column(text_col: str = "text"):
    """64-bit SimHash as a LongType column (vectorized pandas UDF).

    Token hash = two murmur3_32 passes (seed 0 / seed 1) forming 64 bits;
    bit b of the fingerprint = sign of sum over tokens of (+1/-1).
    """

    @arrow_udf("long")
    def sim(tokens_col: pa.Array) -> pa.Array:
        flat, off = _flatten_offsets(tokens_col)
        counts = np.diff(off)
        n_docs = len(counts)
        if len(flat) == 0:
            return pa.array(np.zeros(n_docs, dtype=np.int64))
        keys = Keys.from_arrow(flat)
        lo = murmur3_32(keys, 0).astype(np.uint64)
        hi = murmur3_32(keys, 1).astype(np.uint64)
        h64 = (hi << np.uint64(32)) | lo  # (T,)
        # bit matrix -> +1/-1 contributions, summed per doc with ONE
        # segmented-reduce pass (see minhash's reduceat note)
        bits = ((h64[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
            np.int32
        )
        contrib = bits * 2 - 1  # (T, 64)
        nonempty = np.nonzero(counts > 0)[0]
        acc = np.zeros((n_docs, 64), dtype=np.int64)
        acc[nonempty] = np.add.reduceat(contrib, off[:-1][nonempty], axis=0)
        fp = (acc > 0).astype(np.uint64)
        out = np.zeros(n_docs, dtype=np.uint64)
        for b in range(64):
            out |= fp[:, b] << np.uint64(b)
        return pa.array(out.astype(np.int64))

    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return sim(tokens)


def simhash_near_dups(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into
    ``max_hamming+1`` bands; any pair within distance d agrees on at
    least one band, so candidates come from a band-equality join (no
    cross join), then exact popcount verification.
    Returns (id_a, id_b, hamming).

    Band buckets larger than ``max_bucket_size`` are DROPPED (a B-member
    bucket yields B²/2 candidate pairs in one task), so recall is not
    exhaustive when one band chunk collides across more than
    ``max_bucket_size`` documents — the same guard (and the same
    rationale) as :func:`minhash_lsh_pairs`; raise the limit for small
    corpora where exhaustive recall matters more than skew safety.
    """
    nbands = max_hamming + 1
    # bands must cover ALL 64 bits for the pigeonhole guarantee; the
    # boundaries distribute any remainder across bands
    bounds = [bi * 64 // nbands for bi in range(nbands + 1)]
    fp = df.select(F.col(id_col).alias("id"), simhash_column(text_col).alias("fp"))
    banded = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned(F.col("fp"), bounds[bi])
                        .bitwiseAND(F.lit((1 << (bounds[bi + 1] - bounds[bi])) - 1))
                        .alias("chunk"),
                    )
                    for bi in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select("id", "fp", "bb.band", "bb.chunk")
    # single-branch candidates (see minhash_lsh_pairs): group each band
    # chunk's members once, explode i<j pairs in the JVM — no self-join,
    # no double lineage
    buckets = (
        banded.groupBy("band", "chunk")
        .agg(F.sort_array(F.collect_list(F.struct("id", "fp"))).alias("xs"))
        .where((F.size("xs") >= 2) & (F.size("xs") <= F.lit(max_bucket_size)))
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("xs"),
            lambda x, i: F.transform(
                F.slice(F.col("xs"), i + F.lit(2), F.size(F.col("xs"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["fp"].alias("fp_a"),
                    y["fp"].alias("fp_b"),
                ),
            ),
        )
    )
    cands = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b", "p.fp_a", "p.fp_b")
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def _cosine_expr(a, b):
    """Cosine similarity of two array<float> columns with built-ins only
    (zip_with product + aggregate sum) — stays in the JVM."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def embedding_cosine_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_planes: int = 8,
    exact: bool = False,
    seed: int = 11,
) -> DataFrame:
    """Near-duplicate vector pairs by cosine similarity.

    Default (``bucket_planes=8``): random-hyperplane LSH — vectors join
    only within an identical B-bit sign bucket, the scale path (recall
    < 1, tunable by B and by OR-ing multiple tables).  ``exact=True``
    opts in to the quadratic all-pairs self-join — an explicit flag
    because a default that plans a cartesian join is a footgun at any
    real table size.
    Returns (id_a, id_b, cosine).
    """
    base = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if exact:
        base = base.withColumn("bucket", F.lit(0))
        join_on = ["bucket"]
    else:
        if bucket_planes <= 0:
            raise ValueError("bucket_planes must be > 0 (or pass exact=True)")
        base = base.withColumn(
            "bucket", _hyperplane_bucket_expr("v", bucket_planes, seed, emb)
        )
        join_on = ["bucket"]
    pairs = (
        base.alias("a")
        .join(base.alias("b"), on=join_on)
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _cosine_expr(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
    )
    return pairs.where(F.col("cosine") >= threshold)


def _batch_matrix(vecs: pa.Array):
    """(N, dim) float64 matrix from an Arrow list<float> batch, or None
    when the batch is ragged / carries nulls (the callers' documented
    degenerate-batch behavior).  Zero-copy flatten + reshape — the
    earlier pandas path built one Python list per vector."""
    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    if len(vecs) == 0 or vecs.null_count:
        return None
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    offsets = np.asarray(vecs.offsets, dtype=np.int64)
    lengths = np.diff(offsets)
    if lengths.size == 0 or lengths.min() != lengths.max() or lengths[0] == 0:
        return None
    return flat.reshape(len(vecs), int(lengths[0])).astype(np.float64, copy=False)


def _hyperplane_bucket_expr(vec_col: str, planes: int, seed: int, df: DataFrame):
    """B-bit sign bucket against deterministic random hyperplanes,
    evaluated with a vectorized Arrow UDF (one matmul per batch)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("long")
    def bucket(vecs: pa.Array) -> pa.Array:
        mat = _batch_matrix(vecs)
        if mat is None:
            return pa.array(np.zeros(len(vecs), dtype=np.int64))
        rng = np.random.RandomState(seed)
        h = rng.standard_normal((mat.shape[1], planes))
        signs = (mat @ h) > 0  # (N, B)
        out = np.zeros(len(vecs), dtype=np.int64)
        for b in range(planes):
            out |= signs[:, b].astype(np.int64) << b
        return pa.array(out)

    return bucket(F.col(vec_col))
