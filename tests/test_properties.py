"""Property-based tests (hypothesis) for the driver-side filter algebra
and the hash suite — laws that must hold for ARBITRARY inputs, not just
the fixtures: no false negatives, union/intersect monotonicity, counting
add/remove inversion, serde identity, position ranges for every method,
merge-order independence of the partial kernels.  All pure driver-side
(no Spark session), so the whole module runs in seconds."""

import numpy as np
from hypothesis import given, settings, strategies as st

from bloomspark import BloomFilter, CountingBloomFilter, FilterConfig
from bloomspark.hashing import _REGISTRY, hash_positions

#: text keys incl. unicode, the 127/255 perturbation edges, empties
KEYS = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FFF),
        max_size=24,
    ),
    min_size=1,
    max_size=40,
)

CFG = FilterConfig.complete(n=500, p=0.01)
CCFG = FilterConfig.complete(n=500, p=0.01, counting_bits=16)


@settings(max_examples=30, deadline=None)
@given(KEYS)
def test_no_false_negatives(keys):
    bf = BloomFilter(CFG)
    bf.add_all(keys)
    assert bool(bf.contains_all(keys).all())


@settings(max_examples=25, deadline=None)
@given(KEYS, KEYS)
def test_union_intersect_monotonicity(a, b):
    fa, fb = BloomFilter(CFG), BloomFilter(CFG)
    fa.add_all(a)
    fb.add_all(b)
    u = fa.union(fb)
    # union contains everything either side contains (bitwise superset)
    assert bool(u.contains_all(a).all()) and bool(u.contains_all(b).all())
    assert not np.any(np.frombuffer(fa.to_bytes(), np.uint8) & ~np.frombuffer(u.to_bytes(), np.uint8))
    # intersect is a bitwise subset of both
    i = fa.intersect(fb)
    ib = np.frombuffer(i.to_bytes(), np.uint8)
    assert not np.any(ib & ~np.frombuffer(fa.to_bytes(), np.uint8))
    assert not np.any(ib & ~np.frombuffer(fb.to_bytes(), np.uint8))
    # true intersection keys are contained (no false negatives survive AND)
    both = [k for k in a if k in set(b)]
    if both:
        assert bool(i.contains_all(both).all())


@settings(max_examples=25, deadline=None)
@given(KEYS)
def test_counting_add_remove_inverts(keys):
    cbf = CountingBloomFilter(CCFG)
    for key in keys:
        cbf.add(key)
    for key in keys:
        assert cbf.get_estimated_count(key) >= sum(1 for x in keys if x == key)
    for key in keys:
        cbf.remove(key)
    assert int(cbf.counters.sum()) == 0


@settings(max_examples=20, deadline=None)
@given(KEYS)
def test_json_and_bytes_roundtrip_identity(keys):
    bf = BloomFilter(CFG)
    bf.add_all(keys)
    assert BloomFilter.from_json(bf.to_json()) == bf
    assert BloomFilter.from_bytes(CFG, bf.to_bytes()) == bf


@settings(max_examples=20, deadline=None)
@given(KEYS, st.integers(0, 100))
def test_fast_hash_take_and_batch_invariance(keys, seed):
    """Fast-tier laws for arbitrary unicode keys: Keys.take is exact,
    hashing a row subset equals subsetting the hashes (no cross-row
    state), and xxh64 of a singleton equals its value inside any batch
    (length-group independence across the 4/8/32-byte boundaries)."""
    from bloomspark.hashing import Keys, positions_xxh64km, xxh64

    kb = Keys.from_objects(keys)
    rng = np.random.RandomState(seed)
    idx = rng.permutation(len(keys))[: max(1, len(keys) // 2)]
    sub = kb.take(idx)
    assert [sub.get(i) for i in range(len(idx))] == [kb.get(int(j)) for j in idx]
    full = positions_xxh64km(kb, 8143, 5)
    assert np.array_equal(positions_xxh64km(sub, 8143, 5), full[idx])
    h = xxh64(kb)
    for j in range(min(len(keys), 5)):
        assert xxh64(Keys.from_objects([keys[j]]))[0] == h[j]


@settings(max_examples=10, deadline=None)
@given(KEYS)
def test_all_methods_positions_in_range(keys):
    m, k = 8143, 4
    for method in sorted(_REGISTRY):
        if method == "MD2" and len(keys) > 5:
            keys = keys[:5]  # pure-Python parity tier, keep it quick
        pos = hash_positions(keys, m, k, method)
        assert pos.shape == (len(keys), k), method
        assert (np.asarray(pos, dtype=np.int64) >= 0).all(), method
        assert (np.asarray(pos, dtype=np.int64) < m).all(), method
        # determinism
        pos2 = hash_positions(keys, m, k, method)
        assert np.array_equal(np.asarray(pos), np.asarray(pos2)), method


@given(
    st.lists(
        st.tuples(st.integers(0, 8142), st.integers(1, 40)),
        min_size=0, max_size=300,
    ),
    st.sampled_from([0, 1, 10**9]),
)
@settings(max_examples=60, deadline=None)
def test_counter_accumulator_matches_naive(pairs, dense_limit):
    """CounterAccumulator (hybrid csparse/cdense wire) must agree with
    a naive dense saturating accumulation for ANY (pos, cnt) sequence
    and ANY densification policy — sparse-vs-dense is a wire choice,
    never a semantics choice."""
    from bloomspark.partials import CounterAccumulator, add_counting_payload
    from bloomspark.counting import counter_dtype, counter_max

    cfg = FilterConfig.complete(n=1000, p=0.02, counting_bits=8)
    dt, mx = counter_dtype(8), counter_max(8)

    naive = np.zeros(cfg.m, dtype=np.uint64)
    acc = CounterAccumulator(cfg, dense_limit)
    for pos, cnt in pairs:
        acc.add_pairs(
            np.array([pos], dtype=np.int64), np.array([cnt], dtype=np.int64)
        )
        naive[pos] = min(int(naive[pos]) + cnt, mx)
    kind, nonzero, _, payload = acc.finish()
    merged = np.zeros(cfg.m, dtype=dt)
    add_counting_payload(merged, kind, payload, cfg, lambda n: None)
    assert (merged.astype(np.uint64) == naive).all()
    assert nonzero == int(np.count_nonzero(naive))
    expected_kind = (
        "cdense"
        if acc.dense is not None
        else "csparse"
    )
    assert kind == expected_kind


@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=10**9),
        min_size=2,
        max_size=4,
    ),
    st.floats(min_value=1.0, max_value=1e7),
)
def test_mixture_plan_decomposition_invariants(sizes, total):
    """mixture_plan: rate decomposes exactly into k + frac with
    0 <= frac < 1; expected output rows sum to the requested total;
    the default total never produces k > 0 or frac beyond the
    scarcest corpus's full use."""
    from bloomspark.pipeline import mixture_plan

    names = sorted(sizes)
    w = 1.0 / len(names)
    weights = {n: w for n in names}
    weights[names[0]] += 1.0 - sum(weights.values())  # exact sum 1.0

    plan = mixture_plan(sizes, weights, total)
    expected = 0.0
    for n in names:
        k, frac = plan[n]
        assert k >= 0 and 0.0 <= frac < 1.0
        rate = weights[n] * total / sizes[n]
        assert abs((k + frac) - rate) < 1e-9 * max(rate, 1.0)
        expected += (k + frac) * sizes[n]
    assert abs(expected - total) < 1e-6 * max(total, 1.0)

    default_plan = mixture_plan(sizes, weights)
    rates = [k + f for k, f in default_plan.values()]
    assert max(rates) <= 1.0 + 1e-12  # never upsamples


@given(st.floats(min_value=0.0, max_value=1.0), st.floats(min_value=0.0, max_value=1.0))
def test_hash_sample_threshold_monotone(f1, f2):
    """Threshold construction is monotone in the fraction — the basis
    of the sample-nesting guarantee."""
    from bloomspark.pipeline.sampling import SAMPLE_SPACE

    lo, hi = sorted((f1, f2))
    assert int(lo * SAMPLE_SPACE) <= int(hi * SAMPLE_SPACE)


def _merge_tree(rows, kernel, cols, rnd):
    """Merge ``rows`` (dicts of ``cols``) through ``kernel`` as one
    random binary tree over a random permutation."""
    import pyarrow as pa

    rows = list(rows)
    rnd.shuffle(rows)

    def tree(part):
        if len(part) == 1:
            return part[0]
        cut = rnd.randint(1, len(part) - 1)
        merged = kernel(pa.Table.from_pylist([tree(part[:cut]), tree(part[cut:])]))
        return {c: merged[c] for c in cols}

    return tree(rows)


@given(
    KEYS,
    st.lists(st.sampled_from(["sparse", "dense"]), min_size=1, max_size=6),
    st.lists(st.sampled_from(["csparse", "cdense"]), min_size=1, max_size=6),
    st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_partial_merges_identical_in_any_tree_order(keys, bkinds, ckinds, seed):
    """Split a key set into partials of forced wire kinds and merge them
    through the shared kernels (partials.py) in random tree orders: the
    merged bytes equal a direct build every time, for bloom, counting
    (both the sparse-out tree-merge kernel and the dense-out kernel)
    and a sketch state."""
    import random

    from bloomspark.counting import counter_dtype
    from bloomspark.hashing import Keys
    from bloomspark.partials import (
        CounterAccumulator,
        bloom_kernel,
        counting_kernel,
        merge_bloom_payloads,
        merge_counting_payloads,
        positions_to_dense_bits,
        sketch_kernel,
    )
    from bloomspark.sketches import HyperLogLog

    rnd = random.Random(seed)
    pos = hash_positions(keys, CFG.m, CFG.k, CFG.hash_method)
    cpos = hash_positions(keys, CCFG.m, CCFG.k, CCFG.hash_method)

    def split(n):
        cuts = sorted(rnd.randint(0, len(keys)) for _ in range(n - 1))
        return [slice(a, b) for a, b in zip([0] + cuts, cuts + [len(keys)])]

    # bloom: sparse partials carry sorted distinct uint32 positions
    rows = []
    for kind, part in zip(bkinds, split(len(bkinds))):
        uniq = np.unique(pos[part])
        payload = (
            uniq.astype(np.uint32).tobytes() if kind == "sparse"
            else positions_to_dense_bits(uniq, CFG.m, CFG.num_bytes).tobytes()
        )
        rows.append({"kind": kind, "bitset": payload})
    expected = positions_to_dense_bits(np.unique(pos), CFG.m, CFG.num_bytes)
    for _ in range(3):
        root = _merge_tree(rows, bloom_kernel(CFG), ("kind", "bitset"), rnd)
        got = merge_bloom_payloads([root["kind"]], [root["bitset"]], CFG)
        assert got.tobytes() == expected.tobytes()

    # counting: csparse via an accumulator that never densifies, cdense
    # as the plain counter array
    direct = CountingBloomFilter(CCFG)
    direct.add_batch(keys)
    rows = []
    for kind, part in zip(ckinds, split(len(ckinds))):
        if kind == "csparse":
            acc = CounterAccumulator(CCFG, dense_limit=0)
            acc.add(cpos[part])
            got_kind, _, _, payload = acc.finish()
            assert got_kind == kind
        else:
            arr = np.zeros(CCFG.m, dtype=counter_dtype(CCFG.counting_bits))
            np.add.at(arr, cpos[part].ravel(), 1)
            payload = arr.tobytes()
        rows.append({"kind": kind, "counters": payload})
    for sparse in (True, False):
        for _ in range(2):
            root = _merge_tree(
                rows, counting_kernel(CCFG, sparse=sparse), ("kind", "counters"), rnd
            )
            got = merge_counting_payloads([root["kind"]], [root["counters"]], CCFG)
            assert got.tobytes() == direct.counters.tobytes()

    # sketch: HyperLogLog states
    hll = HyperLogLog(p=8)
    rows = []
    for part in split(rnd.randint(1, 6)):
        state = hll.new_state()
        if part.stop > part.start:
            hll.update(state, Keys.from_objects(keys[part]))
        rows.append({"payload": hll.serialize(state)})
    whole = hll.new_state()
    hll.update(whole, Keys.from_objects(keys))
    for _ in range(3):
        root = _merge_tree(rows, sketch_kernel(hll), ("payload",), rnd)
        assert root["payload"] == hll.serialize(whole)
