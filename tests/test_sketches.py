"""Sketch accuracy + merge-invariance tests."""

import functools

import numpy as np
import pyarrow as pa
import pytest

from drivel_spark.sketches import KLL, BottomK, HyperLogLog, SpaceSaving, hash64


def test_hash64_stable_and_salted():
    a = hash64(["x", "y", "z"])
    b = hash64(["x", "y", "z"])
    assert np.array_equal(a, b)
    c = hash64(["x", "y", "z"], salt=1)
    assert not np.array_equal(a, c)


def test_hll_accuracy():
    rng = np.random.default_rng(0)
    for true_n in (100, 10_000, 200_000):
        vals = rng.integers(0, 2**62, size=true_n).astype(str)
        vals = np.unique(vals)
        h = HyperLogLog(p=12)
        h.update(vals)
        est = h.estimate()
        assert abs(est - len(vals)) / len(vals) < 0.05, (true_n, est)


def test_hll_merge_equals_union():
    rng = np.random.default_rng(1)
    a_vals = rng.integers(0, 10**9, size=50_000).astype(str)
    b_vals = rng.integers(5 * 10**8, 15 * 10**8, size=50_000).astype(str)
    a, b, u = HyperLogLog(), HyperLogLog(), HyperLogLog()
    a.update(a_vals)
    b.update(b_vals)
    u.update(np.concatenate([a_vals, b_vals]))
    merged = a.merge(b)
    assert np.array_equal(merged.registers, u.registers)
    assert merged.estimate() == u.estimate()


def test_hll_serde():
    h = HyperLogLog()
    h.update(["a", "b", "c"])
    h2 = HyperLogLog.from_bytes(h.to_bytes())
    assert np.array_equal(h.registers, h2.registers)


def test_kll_quantile_accuracy():
    rng = np.random.default_rng(2)
    data = rng.lognormal(3, 1, size=100_000)
    sk = KLL(k=200)
    for chunk in np.array_split(data, 50):
        sk.update(chunk)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        true = np.quantile(data, q)
        est = sk.quantile(q)
        # rank error ≤ ~1.5% of n for k=200
        rank_true = np.searchsorted(np.sort(data), est) / data.size
        assert abs(rank_true - q) < 0.02, (q, true, est)


def test_kll_merge_accuracy():
    rng = np.random.default_rng(3)
    parts = [rng.normal(100, 15, size=20_000) for _ in range(8)]
    sketches = []
    for p in parts:
        sk = KLL(k=200)
        sk.update(p)
        sketches.append(sk)
    merged = sketches[0]
    for sk in sketches[1:]:
        merged = merged.merge(sk)
    alldata = np.concatenate(parts)
    assert merged.n == alldata.size
    for q in (0.1, 0.5, 0.9):
        est = merged.quantile(q)
        rank = np.searchsorted(np.sort(alldata), est) / alldata.size
        assert abs(rank - q) < 0.025


def test_kll_cdf_monotone():
    sk = KLL()
    sk.update(np.arange(1000.0))
    pts = np.array([0.0, 100.0, 500.0, 999.0])
    cdf = sk.cdf(pts)
    assert np.all(np.diff(cdf) >= 0)
    assert cdf[0] >= 0 and cdf[-1] <= 1.0


def test_kll_serde():
    sk = KLL()
    sk.update(np.arange(5000.0))
    sk2 = KLL.from_bytes(sk.to_bytes())
    assert sk2.n == sk.n
    assert sk2.quantile(0.5) == sk.quantile(0.5)


def test_spacesaving_exact_when_under_capacity():
    ss = SpaceSaving(capacity=10)
    s = pa.array(["a"] * 5 + ["b"] * 3 + ["c"] * 2)
    ss.update(s)
    assert ss.counts == {"a": 5, "b": 3, "c": 2}
    assert ss.is_exact


def test_spacesaving_heavy_hitters_survive():
    rng = np.random.default_rng(4)
    # zipf-ish: key0 dominates
    keys = np.concatenate(
        [np.full(50_000, "hot"), rng.integers(0, 5000, size=50_000).astype(str)]
    )
    rng.shuffle(keys)
    ss = SpaceSaving(capacity=64)
    for chunk in np.array_split(keys, 20):
        ss.update(pa.array(chunk))
    top = ss.top(1)
    assert top[0][0] == "hot"
    assert top[0][1] >= 50_000  # overestimates only


def test_spacesaving_merge():
    a, b = SpaceSaving(8), SpaceSaving(8)
    a.update(pa.array(["x"] * 10 + ["y"] * 5))
    b.update(pa.array(["x"] * 7 + ["z"] * 3))
    m = a.merge(b)
    assert m.counts["x"] == 17


def test_spacesaving_merge_keeps_keys_above_n_over_k():
    """A key missing from a side that has evicted gets that side's
    minimum as count and error (mergeable summaries), so a key whose
    true count exceeds N/k survives the merge; an exact side adds
    nothing."""
    a, b = SpaceSaving(2), SpaceSaving(2)
    a.update_counts({"z": 3, "b": 3})
    a.update_counts({"c": 1})  # evicts z: {b: 3, c: 4 (error 3)}
    b.update_counts({"z": 3})
    for m in (a.merge(b), b.merge(a)):
        assert "z" in m.counts  # true count 6 > N/k = 10/2
        for key, true in {"z": 6, "b": 3, "c": 1}.items():
            if key in m.counts:
                assert m.counts[key] - m.errors[key] <= true <= m.counts[key]
        assert not m.is_exact
    x, y = SpaceSaving(4), SpaceSaving(4)
    x.update_counts({"p": 2, "q": 1})
    y.update_counts({"q": 1, "r": 5})
    m = x.merge(y)  # both exact: plain sums, still exact
    assert (m.counts, m.is_exact) == ({"p": 2, "q": 2, "r": 5}, True)


def test_spacesaving_top_lists_only_guaranteed_keys():
    """Past capacity, ``top(n)`` lists ``(key, count, error)`` with the
    true count inside ``[count - error, count]``, and only keys that are
    in the true top n, whether the sketch was fed or merged; an exact
    sketch lists its n largest counts with error 0."""
    rng = np.random.default_rng(11)
    keys = rng.zipf(1.3, size=20_000).astype(str)
    values, counts = np.unique(keys, return_counts=True)
    true = dict(zip(values.tolist(), counts.tolist()))
    nth = sorted(true.values(), reverse=True)[9]  # the 10th largest true count
    fed = SpaceSaving(32)
    parts = []
    for chunk in np.array_split(keys, 8):
        fed.update(pa.array(chunk))
        part = SpaceSaving(32)
        part.update(pa.array(chunk))
        parts.append(part)
    merged = functools.reduce(lambda a, b: a.merge(b), parts)
    for sketch in (fed, merged):
        assert not sketch.is_exact
        top = sketch.top(10)
        assert 0 < len(top) < 10  # the 10 largest counts hold keys seen once
        for key, count, error in top:
            assert count - error <= true[key] <= count
            assert true[key] >= nth
    exact = SpaceSaving(8)
    exact.update_counts({"a": 5, "b": 3, "c": 3, "d": 1})
    assert exact.top(2) == [("a", 5, 0), ("b", 3, 0)]


def test_bottomk_deterministic_and_merge_invariant():
    vals = pa.array([f"v{i}" for i in range(1000)])
    whole = BottomK(16)
    whole.update(vals)
    a, b = BottomK(16), BottomK(16)
    a.update(vals[:300])
    b.update(vals[300:])
    ab = a.merge(b)
    ba = b.merge(a)
    assert sorted(ab.sample()) == sorted(whole.sample())
    assert sorted(ba.sample()) == sorted(whole.sample())


def test_tdigest_accuracy_and_merge():
    """t-digest: tail-accurate quantiles on a skewed distribution, and
    a k-way merge agrees with the single-digest answer within the
    rank-error bound (north_star: KLL/t-digest quantile sketches)."""
    import numpy as np

    from drivel_spark.sketches import TDigest

    rng = np.random.default_rng(7)
    data = np.exp(rng.normal(size=200_000))  # log-normal, heavy tail
    ranks = np.sort(data)

    def true_q(q):
        return float(ranks[min(int(q * len(ranks)), len(ranks) - 1)])

    td = TDigest(delta=200)
    td.update(data)
    for q, tol in ((0.5, 0.01), (0.99, 0.005), (0.999, 0.002)):
        est = td.quantile(q)
        # rank error: where does the estimate fall in the sorted data?
        rank = np.searchsorted(ranks, est) / len(ranks)
        assert abs(rank - q) <= tol, (q, rank)

    # mergeability: 16 partition digests merged == one digest, within bound
    parts = np.array_split(data, 16)
    merged = TDigest(delta=200)
    for part in parts:
        d = TDigest(delta=200)
        d.update(part)
        merged = merged.merge(d)
    assert merged.n == len(data)
    for q in (0.5, 0.99):
        rank = np.searchsorted(ranks, merged.quantile(q)) / len(ranks)
        assert abs(rank - q) <= 0.02

    # determinism: same input, same order -> identical bytes
    a, b = TDigest(200), TDigest(200)
    a.update(data[:5000]); b.update(data[:5000])
    assert a.to_bytes() == b.to_bytes()

    # cdf is monotone and hits the ends
    pts = np.quantile(data, [0.1, 0.5, 0.9])
    cdf = merged.cdf(pts)
    assert (np.diff(cdf) >= 0).all() and 0 <= cdf[0] <= 0.2 and 0.8 <= cdf[-1] <= 1


def test_profile_with_tdigest(spark, sf_small_dir):
    """ProfilerOptions(tdigest_delta>0) carries a t-digest through the
    distributed scan + tree combine; its median agrees with KLL's."""
    from drivel_spark.profiling import ProfilerOptions, profile

    li = spark.read.parquet(f"{sf_small_dir}/lineitem.parquet")
    prof = profile(
        li, columns=["l_extendedprice"], opts=ProfilerOptions(tdigest_delta=200)
    )
    acc = prof.column("l_extendedprice")
    assert acc.tdigest is not None and acc.tdigest.n == acc.kll.n
    kll_med, td_med = acc.kll.quantile(0.5), acc.tdigest.quantile(0.5)
    assert abs(td_med - kll_med) / kll_med < 0.05
    assert "tdigest_quantiles" in acc.summary()


# --- hash64 is pandas' hash_array, without pandas --------------------------

from hypothesis import given, seed, settings, strategies as st

_HASH_SETTINGS = settings(max_examples=200, deadline=None, database=None)
_SCALARS = st.one_of(
    st.text(max_size=64),  # non-ASCII; 0-64 chars crosses the 8-byte word edges
    st.binary(max_size=64),
    st.integers(),
    st.floats(allow_nan=True),
    st.none(),
    st.just(float("nan")),
)


def _pandas_hash(values):
    import pandas as pd

    return pd.util.hash_array(np.asarray(values, dtype=object), categorize=False)


@functools.cache
def _long_values_hash_equal():
    """An 8 KB and a 100 KB value and 200 8-KB windows: the payload and
    audio-window hashes in ops/multimodal.py call pandas, which must stay
    bit-identical to hash64.  Fixed values, so checked once."""
    rng = np.random.default_rng(20261019)
    windows = [rng.bytes(8192) for _ in range(200)]
    return all(np.array_equal(hash64(v), _pandas_hash(v))
               for v in ([rng.bytes(8192)], [rng.bytes(100_000)], windows))


@seed(20261019)
@_HASH_SETTINGS
@given(
    strs=st.lists(st.text(max_size=64), max_size=40),
    blobs=st.lists(st.binary(max_size=64), max_size=20),
    mixed=st.lists(_SCALARS, max_size=30),
    salt=st.integers(min_value=1, max_value=2**64 - 1),
)
def test_hash64_equals_pandas_hash_array(strs, blobs, mixed, salt):
    from drivel_spark.sketches.hashing import mix64

    for values in (strs, blobs, mixed, strs + [None, float("nan")]):
        try:
            want = _pandas_hash(values)
        except UnicodeDecodeError:  # numpy's str() of non-ASCII bytes, both ways
            with pytest.raises(UnicodeDecodeError):
                hash64(values)
            continue
        assert np.array_equal(hash64(values), want)
        assert np.array_equal(hash64(values, salt=salt), mix64(want, salt))
    # Arrow arrays hash from their buffers, sliced or not
    arr = pa.array(strs, pa.string())
    assert np.array_equal(hash64(arr), _pandas_hash(strs))
    assert np.array_equal(hash64(arr.slice(1)), _pandas_hash(strs[1:]))
    assert np.array_equal(hash64(pa.array(blobs, pa.binary())), _pandas_hash(blobs))
    assert _long_values_hash_equal()


@seed(20261019)
@_HASH_SETTINGS
@given(
    ints=st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=40),
    floats=st.lists(st.floats(allow_nan=True, allow_infinity=True), max_size=40),
)
def test_numeric_hashes_equal_pandas(ints, floats):
    """int64 arrays hash as ``str(v)`` (the fixtures' uniforms) and by
    their bits (the produce row key); float64 arrays hash by their bits
    (``NumericAcc``'s HLL feed)."""
    import pandas as pd

    from drivel_spark.sketches.hashing import hash_numeric

    i64 = np.array(ints, dtype=np.int64)
    assert np.array_equal(hash64(i64), _pandas_hash(i64))
    assert np.array_equal(hash_numeric(i64), pd.util.hash_array(i64))
    f64 = np.array(floats, dtype=np.float64)
    assert np.array_equal(hash_numeric(f64), pd.util.hash_array(f64))


# --- SpaceSaving: heap eviction == min() eviction ---------------------------


class _MinScanSpaceSaving:
    """The eviction rule as a linear scan: the least count, the earliest
    inserted key among equals."""

    def __init__(self, capacity):
        self.capacity, self.counts, self.errors = capacity, {}, {}

    def update_counts(self, counts):
        for key, c in counts.items():
            if key in self.counts:
                self.counts[key] += c
            elif len(self.counts) < self.capacity:
                self.counts[key], self.errors[key] = c, 0
            else:
                mkey = min(self.counts, key=self.counts.get)
                mcount = self.counts.pop(mkey)
                self.errors.pop(mkey)
                self.counts[key], self.errors[key] = mcount + c, mcount


def test_spacesaving_heap_evicts_what_min_scan_evicts():
    import pickle

    rng = np.random.default_rng(7)
    for trial in range(60):
        cap = int(rng.integers(1, 24))
        ref, ss = _MinScanSpaceSaving(cap), SpaceSaving(cap)
        for step in range(int(rng.integers(1, 12))):
            keys = rng.zipf(1.4, size=int(rng.integers(0, 400))).astype(str)
            counts = dict(zip(*np.unique(keys, return_counts=True)))
            counts = {str(k): int(c) for k, c in rng.permutation(list(counts.items()))}
            ref.update_counts(counts)
            ss.update_counts(counts)
            assert list(ss.counts.items()) == list(ref.counts.items()), (trial, step)
            assert ss.errors == ref.errors, (trial, step)
            if step % 3 == 1:  # mid-stream pickle: the heap is rebuilt lazily
                ss = pickle.loads(pickle.dumps(ss, protocol=4))


# SpaceSaving(3) after update_counts({"a": 5, "b": 2, "c": 1, "d": 4}),
# pickled by the release before the heap (slots capacity/counts/errors)
_OLD_SPACESAVING_PICKLE = bytes.fromhex(
    "8004957e000000000000008c1a64726976656c5f737061726b2e736b65746368"
    "65732e66726571948c0b5370616365536176696e679493942981944e7d94288c"
    "086361706163697479944b038c06636f756e7473947d94288c0161944b058c01"
    "62944b028c0164944b05758c066572726f7273947d942868084b0068094b0068"
    "0a4b0175758694622e"
)


def test_spacesaving_pickles_load_and_merge_across_versions():
    import pickle

    old = pickle.loads(_OLD_SPACESAVING_PICKLE)
    assert old.counts == {"a": 5, "b": 2, "d": 5} and old.errors == {"a": 0, "b": 0, "d": 1}
    old.update_counts({"e": 1, "b": 1})  # evicts b (2), then e (3)
    assert old.counts == {"a": 5, "d": 5, "b": 4}
    assert old.errors == {"a": 0, "d": 1, "b": 3}
    assert old.merge(SpaceSaving(3)).counts == {"a": 5, "d": 5, "b": 4}
    # the pickled state stays the three slots, so the old release reads it
    fresh = SpaceSaving(3)
    fresh.update_counts({"a": 5, "b": 2, "c": 1, "d": 4})
    assert pickle.dumps(fresh, protocol=4) == _OLD_SPACESAVING_PICKLE
