"""Contract of the top-k kernels.

The numpy helpers of the exact-kNN kernels: `_gram_int_exact`
(float64-BLAS integer gram behind a checked 2^53 exactness envelope)
and `_topk_cols_stable` / `_topk_rows_idx` (argpartition top-k
reproducing the full stable argsort's (value desc, id asc) tie rule).
These tests pin that the fast paths are BIT-IDENTICAL to the plain
forms, including the adversarial cases they could get wrong: boundary
ties wider than the partition pad, all-masked rows, and dot products
outside the float64-exact envelope. They run driver-side.

`operators.topk.topk_per_key`, the Spark per-key top-k every ANN
tail shares, is tested on a small frame through the session
``spark`` fixture.
"""

from __future__ import annotations

import math

import numpy as np

from lake_satellite_image_etl_spark.operators.similarity import (
    _gram_int_exact,
    _topk_cols_stable,
    _topk_rows_idx,
)


def _ref_cols(cos: np.ndarray, kk: int):
    """The replaced form: full stable argsort + keep filter."""
    nr, m = cos.shape
    kk = min(kk, m)
    order = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
    rows = np.repeat(np.arange(nr), kk)
    cols = order.ravel()
    keep = cos[rows, cols] > -np.inf
    return rows[keep], cols[keep]


def _ref_rows(cos: np.ndarray, kk: int):
    return np.argsort(-cos, axis=0, kind="stable")[: min(kk, cos.shape[0])]


def test_topk_matches_argsort_on_random_and_tied_matrices():
    rng = np.random.default_rng(7)
    for trial in range(300):
        nr = int(rng.integers(1, 40))
        m = int(rng.integers(1, 60))
        # few distinct values => dense ties, the case the id-stable
        # rule exists for
        cos = rng.integers(0, 4, size=(nr, m)).astype(np.float64)
        cos[rng.random((nr, m)) < 0.15] = -np.inf
        for kk in (1, 3, 7, m):
            r_ref, c_ref = _ref_cols(cos, kk)
            r_new, c_new = _topk_cols_stable(cos, kk)
            assert np.array_equal(r_ref, r_new), (trial, kk)
            assert np.array_equal(c_ref, c_new), (trial, kk)
            assert np.array_equal(
                _ref_rows(cos, kk), _topk_rows_idx(cos, kk)
            ), (trial, kk)


def test_topk_boundary_ties_wider_than_partition_pad():
    """A constant matrix puts EVERY column in the boundary tie — far
    wider than the kk+8 partition pad — forcing the per-row full-sort
    fallback; the result must still be the lowest-id columns."""
    cos = np.zeros((5, 64))
    rows, cols = _topk_cols_stable(cos, 3)
    assert np.array_equal(cols, np.tile([0, 1, 2], 5))
    oc = _topk_rows_idx(cos, 3)
    assert np.array_equal(oc, np.tile([[0], [1], [2]], (1, 64)))


def test_topk_nan_entries_match_argsort_reference():
    """r14 review: NaN (a zero-norm quantized vector's 0/0 cosine)
    compares False to everything, so the original `==` boundary-tie
    check never fired and argpartition-arbitrary NaN indices leaked
    into the tail slots where the stable argsort puts the LOWEST
    indices. The `~(a < b)` check routes NaN rows to the exact
    fallback — bit-identity must hold on NaN-bearing matrices too."""
    rng = np.random.default_rng(3)
    for trial in range(100):
        nr = int(rng.integers(2, 30))
        m = int(rng.integers(2, 40))
        cos = rng.integers(0, 4, size=(nr, m)).astype(np.float64)
        cos[rng.random((nr, m)) < 0.2] = np.nan
        cos[rng.random((nr, m)) < 0.1] = -np.inf
        for kk in (1, 3, m):
            r_ref, c_ref = _ref_cols(cos, kk)
            r_new, c_new = _topk_cols_stable(cos, kk)
            assert np.array_equal(r_ref, r_new), (trial, kk)
            assert np.array_equal(c_ref, c_new), (trial, kk)
        for kk in (1, 3, nr):
            assert np.array_equal(
                _ref_rows(cos, kk), _topk_rows_idx(cos, kk)
            ), (trial, kk)


def test_topk_all_masked_rows_emit_nothing():
    cos = np.full((3, 10), -np.inf)
    cos[1, 4] = 0.5  # one live entry in one row
    rows, cols = _topk_cols_stable(cos, 3)
    assert rows.tolist() == [1] and cols.tolist() == [4]


def test_gram_exact_inside_envelope_uses_values_identical_to_int64():
    rng = np.random.default_rng(11)
    # quantized-vector scale: round(x*10000) on unit-ish embeddings
    a = rng.integers(-60000, 60000, size=(200, 64)).astype(np.int64)
    got = _gram_int_exact(a, a.T)
    ref = (a @ a.T).astype(np.float64)
    assert got.dtype == np.float64
    assert np.array_equal(got, ref)


def test_gram_falls_back_outside_envelope():
    """Components near 2^27: single products reach ~2^54 > 2^53 (so
    float64 gemm WOULD round) while the full 64-term dot stays under
    2^60 (so int64 is still exact, no overflow) — the regime the
    fallback exists for. The helper must detect it from the DATA and
    produce the int64-exact values."""
    rng = np.random.default_rng(13)
    big = rng.integers(2**26, 2**27, size=(8, 64)).astype(np.int64)
    big[::2] *= -1
    got = _gram_int_exact(big, big.T)
    ref = (big @ big.T).astype(np.float64)
    assert np.array_equal(got, ref)
    # and the float64 route really would have differed here — the
    # fallback is doing work, not vacuously agreeing
    blas = big.astype(np.float64) @ big.astype(np.float64).T
    assert not np.array_equal(blas, ref)


def test_gram_envelope_boundary_is_data_driven():
    """One oversized component anywhere flips the whole call to the
    int64 path (the envelope is max-based, not average-based); both
    routes must produce the same values at either side of the
    boundary. Magnitudes chosen so int64 never overflows."""
    a = np.ones((4, 64), dtype=np.int64)
    a[2, 17] = 2**20  # amax²·64 = 2^46 < 2^53 — f64 route
    assert np.array_equal(_gram_int_exact(a, a.T), (a @ a.T).astype(np.float64))
    a[2, 17] = 2**25  # amax²·64 = 2^56 > 2^53 — int64 route
    assert np.array_equal(_gram_int_exact(a, a.T), (a @ a.T).astype(np.float64))


def test_gram_envelope_fractional_maxima_cannot_loosen_guard():
    """ADVICE r15: the exact-integer envelope check must CEIL the
    maxima, not truncate them — int() on an out-of-contract
    fractional max (inputs are supposed to be integer-valued) would
    weaken the bound (2.9 contributes 2) and could admit the
    inexact-float path. Constructed at the boundary: absmax
    94906265.5 truncates to a value whose square is just BELOW 2^53
    (old check would take the f64 route) but ceils to one just ABOVE
    it (new check routes to the exact fallback) — and the actual
    product here is odd and > 2^53, so the f64 route really rounds."""
    x, y = 94906267, 94906269  # odd·odd = 9007199705687823 > 2^53
    assert x * y > 2**53 and float(x * y) != x * y
    frac = 94906265.5
    assert math.trunc(frac) ** 2 * 1 < 2**53 < math.ceil(frac) ** 2 * 1
    a = np.array([[x]], dtype=np.int64)
    b = np.array([[y]], dtype=np.int64)
    got = _gram_int_exact(a, b.T, a_absmax=frac, b_absmax=frac)
    assert got[0, 0] == float(np.int64(x) * np.int64(y))


def test_topk_per_key_ties_short_groups_composite_key(spark):
    from lake_satellite_image_etl_spark.operators.topk import topk_per_key

    rows = [
        # group (1, "a"): score tie at the 2nd place — lower tie wins
        (1, "a", 0.9, 7),
        (1, "a", 0.5, 4),
        (1, "a", 0.5, 2),
        (1, "a", 0.1, 1),
        # group (1, "b"): fewer than k rows — all kept
        (1, "b", 0.3, 9),
        # group (2, "a"): same second key part, different first part
        (2, "a", 0.2, 5),
        (2, "a", 0.8, 6),
    ]
    df = spark.createDataFrame(rows, "g long, h string, s double, t long")
    got = topk_per_key(df, ["g", "h"], "s", "t", 2).select("g", "h", "t", "rank")
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "a", 2, 2),
        (1, "a", 7, 1),
        (1, "b", 9, 1),
        (2, "a", 5, 2),
        (2, "a", 6, 1),
    ]
    # single-column key, default rank column: the tie at k = 1
    # resolves to the lowest tie value
    one = topk_per_key(df.filter("s = 0.5"), "g", "s", "t", 1)
    assert [(r["t"], r["rank"]) for r in one.collect()] == [(2, 1)]
