"""The bucket verifier (functions/jaccard_verify.py) against a
brute-force Python Jaccard, on the i<j triangle (self-join buckets) and
the index x batch rectangle (incremental buckets), through every
physical path: the m x m matrix, the chunked enumeration, several
chunks per bucket, and the in-task thread pools."""

from __future__ import annotations

import numpy as np
import pytest

from tensorflow_recorder_spark.functions.jaccard_verify import verify_bucket

NH, RPB = 8, 2
VARIANTS = [
    {},
    {"matrix_budget": 0},
    {"matrix_budget": 0, "chunk_pairs": 7},
    {"giant_rows": 2, "giant_threads": 3},
    {"giant_rows": 2, "giant_threads": 3, "matrix_budget": 0, "chunk_pairs": 7},
]


def _bucket(rng, m, band_idx, kind):
    """m docs sharing band ``band_idx``'s slots, shaped so the cost
    model picks each intersection kernel somewhere:

    * "dense": signatures agree often (most pairs pass the est floor),
      small shingle sets;
    * "family": edits of one 3,000-element template (a majority core,
      tiny per-doc deltas);
    * "rare_small" / "rare_diverse": signatures agree only on the
      shared band except for a few planted near-duplicate pairs, over a
      small / a large shingle universe.
    """
    if kind == "dense":
        M8 = rng.randint(0, 3, size=(m, NH))
        sets = [
            np.unique(rng.randint(0, 40, size=rng.randint(1, 25)))
            for _ in range(m)
        ]
    elif kind == "family":
        M8 = rng.randint(0, 3, size=(m, NH))
        base = np.arange(3000)
        sets = [
            np.union1d(
                np.delete(base, rng.randint(0, 3000, size=rng.randint(0, 3))),
                rng.randint(3000, 3100, size=rng.randint(0, 3)),
            )
            for _ in range(m)
        ]
    else:
        M8 = rng.permutation(NH * m).reshape(m, NH) + 10
        universe, size = (100, 60) if kind == "rare_small" else (5000, 8)
        sets = [np.unique(rng.randint(0, universe, size=size)) for _ in range(m)]
        for _ in range(3):
            i, j = rng.choice(m, 2, replace=False)
            slots = rng.choice(NH, 3, replace=False)
            M8[j, slots] = M8[i, slots]
            sets[j] = np.union1d(sets[i][1:], [universe])
    M8[:, band_idx * RPB : (band_idx + 1) * RPB] = 5
    return M8.astype(np.int64), sets


def _brute(band_idx, ids, M8, sets, min_est, thr, pairs):
    out = {}
    for i, j in pairs:
        agree = [M8[i][k] == M8[j][k] for k in range(NH)]
        est = sum(agree) / NH
        if est < min_est:
            continue
        if any(all(agree[b * RPB : (b + 1) * RPB]) for b in range(band_idx)):
            continue
        a, b = set(sets[i].tolist()), set(sets[j].tolist())
        inter = len(a & b)
        jac = inter / (len(a) + len(b) - inter)
        if jac >= thr:
            out[(int(ids[i]), int(ids[j]))] = (est, jac)
    return out


def _as_dict(out):
    got = {
        (int(a), int(b)): (e, j) for a, b, e, j in zip(*(x.tolist() for x in out))
    }
    assert len(got) == len(out[0])  # every pair emitted once
    return got


KINDS = ["dense", "family", "rare_small", "rare_diverse"]


@pytest.mark.parametrize("kind", KINDS)
@pytest.mark.parametrize("min_est,thr", [(0.25, 0.3), (0.5, 0.5)])
def test_triangle_matches_bruteforce(kind, min_est, thr):
    rng = np.random.RandomState(11)
    for trial in range(12):
        m = rng.randint(2, 30) if kind == "dense" else rng.randint(20, 40)
        band_idx = trial % 4
        M8, sets = _bucket(rng, m, band_idx, kind)
        ids = np.sort(rng.choice(10_000, size=m, replace=False)).astype(np.int64)
        want = _brute(
            band_idx, ids, M8, sets, min_est, thr,
            [(i, j) for i in range(m) for j in range(i + 1, m)],
        )
        for kw in VARIANTS:
            got = _as_dict(
                verify_bucket(band_idx, ids, M8, sets, NH, RPB, min_est, thr, **kw)
            )
            assert got == want, (trial, kw)


@pytest.mark.parametrize("kind", KINDS)
def test_rectangle_matches_bruteforce(kind):
    """Only (side 0) x (side 1) pairs, id_a from side 0; an id on both
    sides pairs with itself."""
    rng = np.random.RandomState(5)
    for trial in range(12):
        m = rng.randint(2, 30) if kind == "dense" else rng.randint(20, 40)
        band_idx = trial % 4
        M8, sets = _bucket(rng, m, band_idx, kind)
        side = rng.randint(0, 2, size=m)
        ids = np.sort(rng.choice(10_000, size=m, replace=False)).astype(np.int64)
        if trial % 3 == 0 and (side == 0).any():
            # the same document on both sides
            i = int(np.flatnonzero(side == 0)[0])
            M8 = np.vstack([M8, M8[i]])
            sets = sets + [sets[i]]
            side = np.append(side, 1)
            ids = np.append(ids, ids[i])
        n = len(ids)
        want = _brute(
            band_idx, ids, M8, sets, 0.25, 0.3,
            [(i, j) for i in range(n) for j in range(n)
             if side[i] == 0 and side[j] == 1],
        )
        for kw in VARIANTS:
            got = _as_dict(
                verify_bucket(
                    band_idx, ids, M8, sets, NH, RPB, 0.25, 0.3, side=side, **kw
                )
            )
            assert got == want, (trial, kw)


def test_one_sided_rectangle_is_empty():
    rng = np.random.RandomState(3)
    M8, sets = _bucket(rng, 5, 0, "dense")
    out = verify_bucket(
        0, np.arange(5), M8, sets, NH, RPB, 0.0, 0.0, side=np.zeros(5, dtype=int)
    )
    assert all(len(x) == 0 for x in out)


def test_threaded_chunks_under_frequent_switching():
    """More chunk threads than cores, one pair per chunk and a tiny
    switch interval: the lock-guarded lazy dense/delta builds shared by
    the chunks must leave the result exact."""
    import sys

    rng = np.random.RandomState(9)
    M8, sets = _bucket(rng, 24, 1, "family")
    ids = np.arange(24, dtype=np.int64)
    want = _brute(
        1, ids, M8, sets, 0.25, 0.3,
        [(i, j) for i in range(24) for j in range(i + 1, 24)],
    )
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(5):
            got = _as_dict(
                verify_bucket(
                    1, ids, M8, sets, NH, RPB, 0.25, 0.3,
                    chunk_pairs=1, giant_rows=2, giant_threads=8,
                    matrix_budget=0,
                )
            )
            assert got == want and len(want) > 0
    finally:
        sys.setswitchinterval(old)
