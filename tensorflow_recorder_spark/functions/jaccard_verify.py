"""Exact-Jaccard verification of one LSH bucket (numpy only).

The per-bucket kernels behind :func:`..operators.dedup.lsh_verified_pairs`
and :func:`..operators.dedup.incremental_neardup_pairs`. A bucket is
every document sharing one (band, band key); each document carries its
MinHash signature row and its hashed-shingle array.
:func:`verify_bucket` enumerates the bucket's pairs, keeps those whose
estimated Jaccard reaches ``min_est`` and that no EARLIER band also
matches (a pair sharing several buckets is emitted by its first matching
band only), and returns the ones whose exact Jaccard reaches ``thr``.

Every path computes the same numbers: est = agreeing signature slots /
nh in float64; intersection counts are exact integers (float32 sgemm
cells are sums of 0/1 products < 2^24, exact under any panel split);
jaccard = inter / (|A| + |B| - inter) in float64.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np

# buckets this large run their kernels on an in-task thread pool
GIANT_BUCKET_ROWS = 1024
# self-join buckets with m * m <= this take the m x m matrix path
# (<= 64 MB of uint8 + bool matrices)
MATRIX_BUDGET = 1 << 24
# pairs enumerated per chunk on the chunked path
CHUNK_PAIRS = 1 << 20
# cap on a bucket's dense doc x vocab matrices (float32 sgemm operand,
# packed-bitset build)
_DENSE_BYTES = 256 << 20

_EMPTY = (
    np.zeros(0, dtype=np.int64),
    np.zeros(0, dtype=np.int64),
    np.zeros(0, dtype=np.float64),
    np.zeros(0, dtype=np.float64),
)


def bucket_thread_count(bytes_per_thread: int) -> int:
    """Thread-pool width for ONE giant bucket's in-task kernels.

    A template-family bucket is verified by a single task, the stage's
    straggler while sibling tasks finish and leave cores idle (the
    bucket is unsplittable by the shuffle). The heavy kernels inside it
    decompose exactly (per-slot paints SUM into the agreement matrix;
    sgemm panels over 0/1 indicator rows are integer sums < 2^24, exact
    in float32 under ANY split; pair chunks are independent), and
    numpy/BLAS release the GIL, so a small in-task thread pool recovers
    the idle cores without touching the plan. Width: conservative
    fraction of the machine (the stage's OTHER tasks are still running
    at stage start), memory-capped by the per-thread scratch the caller
    will allocate.
    """
    cap = max(2, min(8, (os.cpu_count() or 8) // 4))
    mem_cap = max(1, (256 << 20) // max(bytes_per_thread, 1))
    return max(1, min(cap, mem_cap))


class BucketSets:
    """One bucket's shingle sets CSR-encoded against the bucket
    vocabulary, plus the dense and core-delta forms some kernels use,
    each built once on first use (lock-guarded: pair chunks may run on
    a thread pool)."""

    def __init__(self, sh_vals):
        arrs = [np.asarray(a, dtype=np.int64) for a in sh_vals]
        m = len(arrs)
        self.lens = np.fromiter((len(a) for a in arrs), np.int64, m)
        vocab, indices = np.unique(np.concatenate(arrs), return_inverse=True)
        self.nv = len(vocab)
        self.indices = indices.astype(np.int64)
        self.indptr = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(self.lens, out=self.indptr[1:])
        self.sizes = self.lens.astype(np.float64)
        self._lock = threading.Lock()
        self._dense = None
        self._delta = None

    def dense(self):
        """(m, nv) float32 0/1 indicator matrix."""
        with self._lock:
            if self._dense is None:
                m = len(self.lens)
                d = np.zeros((m, self.nv), dtype=np.float32)
                d[np.repeat(np.arange(m, dtype=np.int64), self.lens), self.indices] = 1.0
                self._dense = d
            return self._dense

    def delta(self):
        """:func:`delta_csr` of the sets."""
        with self._lock:
            if self._delta is None:
                self._delta = delta_csr(self.indptr, self.indices, self.nv)
            return self._delta


def verify_bucket(
    band_idx: int,
    ids,
    M8,
    sh_vals,
    nh: int,
    rpb: int,
    min_est: float,
    thr: float,
    side=None,
    chunk_pairs: int = CHUNK_PAIRS,
    giant_rows: int = GIANT_BUCKET_ROWS,
    giant_threads: int | None = None,
    matrix_budget: int = MATRIX_BUDGET,
):
    """Verified pairs of ONE bucket of band ``band_idx``.

    ``ids`` (id-sorted), ``M8`` (signature rows, ``nh`` slots in bands
    of ``rpb``) and ``sh_vals`` (shingle arrays) are row-aligned.
    Without ``side`` the pairs are the i < j triangle (id_a < id_b);
    with ``side`` they are the (side 0 row) x (side 1 row) rectangle,
    id_a from side 0 — including an id paired with itself when it
    appears on both sides. Returns ``(id_a, id_b, est, jaccard)``
    arrays.

    ``chunk_pairs``, ``giant_rows``, ``giant_threads`` and
    ``matrix_budget`` are test hooks: forcing the chunked path
    (``matrix_budget=0``) or the threaded kernels (``giant_rows=2``)
    must not change the output.
    """
    m = len(ids)
    if side is None:
        a_rows = b_rows = None
    else:
        a_rows = np.flatnonzero(side == 0)
        b_rows = np.flatnonzero(side == 1)
        if len(a_rows) == 0 or len(b_rows) == 0:
            return _EMPTY
    sets = BucketSets(sh_vals)

    def threads(bytes_per_thread):
        if m < giant_rows:
            return 1
        if giant_threads is not None:
            return max(1, giant_threads)
        return bucket_thread_count(bytes_per_thread)

    if a_rows is None and m * m <= matrix_budget:
        parts = [
            _matrix_pairs(band_idx, M8, sets, nh, rpb, min_est, thr, threads(m * m))
        ]
    else:
        parts = _chunked_pairs(
            band_idx, M8, sets, a_rows, b_rows, nh, rpb, min_est, thr,
            chunk_pairs, threads,
        )
    parts = [p for p in parts if p is not None]
    if not parts:
        return _EMPTY
    ai, bi, est, jac = (np.concatenate([p[c] for p in parts]) for c in range(4))
    return ids[ai], ids[bi], est, jac


def _keep_verified(sets, ai, bi, est, inter, thr):
    """The pairs whose exact Jaccard (from the integer intersection
    counts ``inter``) reaches ``thr``, with it; None when none do."""
    inter = inter.astype(np.int64).astype(np.float64)
    jac = inter / (sets.sizes[ai] + sets.sizes[bi] - inter)
    keep = jac >= thr
    if not keep.any():
        return None
    return ai[keep], bi[keep], est[keep], jac[keep]


def slot_agreement(M8, nh: int, nthreads: int = 1):
    """(m, m) uint8 matrix of agreeing signature slots per doc pair.

    Docs agreeing on a slot form value groups, and each group paints a
    sub-square (+1 per slot): O(m² + Σ group²) byte writes instead of
    ~0.7 µs of numpy fancy-indexing per pair (a template-family bucket
    is nearly ALL pairs). With ``nthreads > 1`` the slots split across
    a pool into partial matrices whose uint8 sum is exact (each entry
    <= nh <= 255)."""
    m = len(M8)

    def paint(slots, out):
        for j in slots:
            vals = M8[:, j]
            order = np.argsort(vals, kind="stable")
            sv = vals[order]
            starts = np.flatnonzero(np.concatenate(([True], sv[1:] != sv[:-1])))
            bounds = np.concatenate((starts, [m]))
            for k in range(len(starts)):
                grp = order[bounds[k] : bounds[k + 1]]
                if len(grp) > 1:
                    out[np.ix_(grp, grp)] += 1
        return out

    if nthreads > 1 and nh > 1:
        nt = min(nthreads, nh)
        with ThreadPoolExecutor(nt) as pool:
            partials = list(
                pool.map(
                    paint,
                    [range(t, nh, nt) for t in range(nt)],
                    [np.zeros((m, m), dtype=np.uint8) for _ in range(nt)],
                )
            )
        A = partials[0]
        for p in partials[1:]:
            A += p
        return A
    return paint(range(nh), np.zeros((m, m), dtype=np.uint8))


def drop_earlier_bands(K, M8, band_idx: int, rpb: int) -> None:
    """Clear ``K[i, j]`` (in place) for every doc pair that fully agrees
    on some band before ``band_idx``: docs are grouped on each earlier
    band's slot tuple and each group's sub-square is cleared."""
    m = len(M8)
    for b in range(band_idx):
        cols = [M8[:, b * rpb + r] for r in range(rpb)]
        order = np.lexsort(cols[::-1])
        same = np.ones(m, dtype=bool)
        same[0] = False
        for c in cols:
            sc = c[order]
            same[1:] &= sc[1:] == sc[:-1]
        starts = np.flatnonzero(~same)
        bounds = np.concatenate((starts, [m]))
        for k in range(len(starts)):
            grp = order[bounds[k] : bounds[k + 1]]
            if len(grp) > 1:
                K[np.ix_(grp, grp)] = False


def _matrix_pairs(band_idx, M8, sets, nh, rpb, min_est, thr, nthreads):
    """Self-join bucket with m * m within the matrix budget: every
    pair's est and the earlier-band test read straight off m x m
    matrices, and only SURVIVORS are materialized as index arrays
    (measured at sf0.1: 1.92M of the giant bucket's 1.97M pairs survive
    the est filter; per-pair gathers made that filter the task's wall
    at 1.3 s, the matrices take ~0.1 s)."""
    m = len(M8)
    A = slot_agreement(M8, nh, nthreads)
    K = (A.astype(np.float64) / float(nh)) >= min_est
    drop_earlier_bands(K, M8, band_idx, rpb)
    ai, bi = np.nonzero(np.triu(K, k=1))
    if len(ai) == 0:
        return None
    ai = ai.astype(np.int64)
    bi = bi.astype(np.int64)
    est = A[ai, bi].astype(np.float64) / float(nh)
    nv = sets.nv
    csr_cost = 13.0 * int(sets.lens[bi].sum())
    blas_cost = m * m * nv * 0.04
    if m * nv * 4 <= _DENSE_BYTES and blas_cost < csr_cost:
        D = sets.dense()
        if nthreads > 1:
            G = np.empty((m, m), dtype=np.float32)
            step = -(-m // nthreads)
            spans = [(p0, min(p0 + step, m)) for p0 in range(0, m, step)]
            with ThreadPoolExecutor(len(spans)) as pool:
                list(
                    pool.map(
                        lambda s: np.matmul(D[s[0] : s[1]], D.T, out=G[s[0] : s[1]]),
                        spans,
                    )
                )
        else:
            G = D @ D.T
        inter = G[ai, bi]
    else:
        inter = intersect_counts_csr(sets.indptr, sets.indices, ai, bi)
    return _keep_verified(sets, ai, bi, est, inter, thr)


def _chunked_pairs(
    band_idx, M8, sets, a_rows, b_rows, nh, rpb, min_est, thr, chunk_pairs, threads
):
    """Verify the bucket's pairs in chunks of rows of the pair grid, so
    peak memory is O(chunk_pairs) pairs at any bucket size: the i < j
    triangle when ``a_rows`` is None, else the ``a_rows`` x ``b_rows``
    rectangle. Chunks are independent; above the giant threshold they
    run on an in-task pool (~40 B/pair of scratch caps its width).
    Returns a list of per-chunk results (None for an empty chunk)."""
    m = len(M8)
    tri = a_rows is None
    if tri:
        a_rows = b_rows = np.arange(m, dtype=np.int64)
    nb = len(b_rows)
    n_rows = m - 1 if tri else len(a_rows)  # the triangle's last row is empty
    rows_per_chunk = max(1, chunk_pairs // nb)

    def chunk(r0):
        r1 = min(r0 + rows_per_chunk, n_rows)
        p = np.arange(r0, r1, dtype=np.int64)
        first = p + 1 if tri else np.zeros(r1 - r0, dtype=np.int64)
        cnt = nb - first
        total = int(cnt.sum())
        if total == 0:
            return None
        # pair positions (pa into a_rows, pb into b_rows) enumerated
        # directly, without a (chunk x nb) bool mask
        pa = np.repeat(p, cnt)
        pb = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(cnt) - cnt - first, cnt)
        ai, bi = a_rows[pa], b_rows[pb]
        # est filter: gather each side's signature ROWS once, then one
        # vectorized compare
        eq = M8[ai] == M8[bi]
        est = eq.sum(axis=1) / float(nh)
        keep = est >= min_est
        for b in range(band_idx):
            keep &= ~eq[:, b * rpb : (b + 1) * rpb].all(axis=1)
        pa, pb, ai, bi, est = pa[keep], pb[keep], ai[keep], bi[keep], est[keep]
        if len(ai) == 0:
            return None
        # Kernel choice from four measured cost laws (all exact, so the
        # choice is speed-only): the DELTA kernel intersects against the
        # bucket's majority core, so on a near-duplicate family its work
        # is the tiny edit deltas (the sf0.1 giant 1983-doc bucket's 1.9M
        # surviving pairs verify in ~0.3 s vs ~2 s of sgemm); BLAS
        # row-panel sgemm ~0.04 ns per cell-vocab product; CSR mask
        # kernel ~13 ns per partner element; packed-bitset popcount
        # ~2.2 ns per pair-vocab-bit. Diverse buckets have an empty core
        # and fall through to the other three.
        nv = sets.nv
        csize, Mip, Mix, Pip, Pix = sets.delta()
        dlens = (Mip[1:] - Mip[:-1]) + (Pip[1:] - Pip[:-1])
        delta_cost = (
            13.0 * (int(dlens[ai].sum()) + int(dlens[bi].sum()))
            if csize
            else float("inf")
        )
        blas_cost = (r1 - r0) * nb * nv * 0.04
        csr_cost = 13.0 * int(sets.lens[bi].sum())
        pop_cost = 2.2 * len(ai) * nv
        if delta_cost < min(blas_cost, csr_cost, pop_cost):
            inter = intersect_counts_delta(csize, Mip, Mix, Pip, Pix, ai, bi)
        elif m * nv * 4 <= _DENSE_BYTES and blas_cost < min(csr_cost, pop_cost):
            D = sets.dense()
            if tri:
                panel = D[r0:r1] @ D.T
            else:
                panel = D[a_rows[r0:r1]] @ D[b_rows].T
            inter = panel[pa - r0, pb]
        elif pop_cost < csr_cost and m * nv <= _DENSE_BYTES:
            inter = intersect_counts_popcount(sets.indptr, sets.indices, nv, ai, bi)
        else:
            inter = intersect_counts_csr(sets.indptr, sets.indices, ai, bi)
        return _keep_verified(sets, ai, bi, est, inter, thr)

    starts = list(range(0, n_rows, rows_per_chunk))
    nthreads = min(threads(chunk_pairs * 40), max(len(starts), 1))
    if nthreads > 1:
        with ThreadPoolExecutor(nthreads) as pool:
            return list(pool.map(chunk, starts))
    return list(map(chunk, starts))


def intersect_counts_csr(indptr, indices, ai, bi):
    """Exact set-intersection counts for a pair list over a CSR-encoded
    family of distinct-element sets.

    ``indptr``/``indices`` encode each doc's distinct shingle ids (as
    indices into a bucket vocabulary); ``ai``/``bi`` are row indices of
    the pairs. Strategy: group the pairs by ``ai`` (one argsort), and
    per distinct left doc set a boolean vocab mask of its elements, then
    answer ALL of its partners with one fancy-index gather + one prefix
    sum — O(total partner set sizes) numpy work with no per-pair Python
    (measured 14.6 s -> 0.6 s against per-pair ``searchsorted`` on 2.4 M
    sf0.1 pairs, ~100 K vocab, identical counts).
    """
    inter = np.zeros(len(ai), dtype=np.int64)
    if len(ai) == 0 or len(indices) == 0:
        return inter
    order = np.argsort(ai, kind="stable")
    ai_s, bi_s = ai[order], bi[order]
    run_starts = np.flatnonzero(
        np.concatenate(([True], ai_s[1:] != ai_s[:-1]))
    )
    run_bounds = np.concatenate((run_starts, [len(ai_s)]))
    nvocab = int(indices.max()) + 1 if len(indices) else 0
    mask = np.zeros(nvocab, dtype=bool)
    lens_all = indptr[1:] - indptr[:-1]
    for r in range(len(run_starts)):
        r0, r1 = run_bounds[r], run_bounds[r + 1]
        a = ai_s[r0]
        ia = indices[indptr[a] : indptr[a + 1]]
        mask[ia] = True
        b_run = bi_s[r0:r1]
        starts = indptr[b_run]
        lengths = lens_all[b_run]
        total = int(lengths.sum())
        if total:
            # flat CSR index of every partner element (ranges -> flat):
            # element j of partner p sits at indices[starts[p] + j]
            ends = np.cumsum(lengths)
            offs = np.concatenate(([0], ends[:-1]))
            within = np.arange(total) - np.repeat(offs, lengths)
            flat = np.repeat(starts, lengths) + within
            hits = mask[indices[flat]]
            # per-partner hit counts via prefix sum (handles empty
            # partner sets exactly, unlike reduceat)
            cum = np.concatenate(([0], np.cumsum(hits)))
            inter[order[r0:r1]] = cum[ends] - cum[offs]
        mask[ia] = False
    return inter


def intersect_counts_popcount(indptr, indices, nvocab, ai, bi, chunk_pairs: int = 262_144):
    """Exact set-intersection counts via packed bitsets + popcount —
    the small-vocabulary kernel.

    Each doc's set becomes a ``ceil(nvocab/8)``-byte bitset row; per
    pair the count is ``popcount(row_a & row_b)``, evaluated for
    ``chunk_pairs`` pairs at a time as three vectorized uint8 passes
    (gather, AND, popcount + row sum). Cost is O(pairs x nvocab/8) with
    a tiny constant — on template-heavy corpora the vocabulary is small
    (2,041 distinct shingles at sf0.1) so this beats the CSR kernel's
    O(pairs x avg_set) passes by ~10x.
    """
    inter = np.zeros(len(ai), dtype=np.int64)
    if len(ai) == 0 or nvocab == 0:
        return inter
    n_rows = len(indptr) - 1
    dense = np.zeros((n_rows, nvocab), dtype=bool)
    rows = np.repeat(
        np.arange(n_rows, dtype=np.int64), indptr[1:] - indptr[:-1]
    )
    dense[rows, indices] = True
    packed = np.packbits(dense, axis=1)
    del dense
    pop = getattr(np, "bitwise_count", None)
    if pop is None:  # numpy < 2.0: 256-entry LUT gather
        lut = np.array(
            [bin(v).count("1") for v in range(256)], dtype=np.uint8
        )
    for c0 in range(0, len(ai), chunk_pairs):
        c1 = min(c0 + chunk_pairs, len(ai))
        anded = packed[ai[c0:c1]] & packed[bi[c0:c1]]
        counts = pop(anded) if pop is not None else lut[anded]
        inter[c0:c1] = counts.sum(axis=1, dtype=np.int64)
    return inter


def delta_csr(indptr, indices, nvocab):
    """Decompose a CSR set family against its majority CORE: the
    elements present in more than half the rows. Returns
    ``(core_size, M_indptr, M_indices, P_indptr, P_indices)`` where row
    i's set A_i = (core \\ M_i) ∪ P_i — M_i the core elements the row
    is MISSING, P_i its extras. On a near-duplicate family both deltas
    are tiny, which is what makes the delta intersection kernel linear
    in actual differences instead of set sizes."""
    n_rows = len(indptr) - 1
    df_counts = np.bincount(indices, minlength=nvocab)
    core_mask = df_counts > (n_rows >> 1)
    core_size = int(core_mask.sum())
    rows = np.repeat(
        np.arange(n_rows, dtype=np.int64), indptr[1:] - indptr[:-1]
    )
    in_core = core_mask[indices]
    # extras: original order within row preserved (CSR is row-major)
    P_indices = indices[~in_core]
    P_indptr = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(np.bincount(rows[~in_core], minlength=n_rows), out=P_indptr[1:])
    # missing-core: dense (rows x core) presence, absent cells -> M
    core_col = np.cumsum(core_mask, dtype=np.int64) - 1  # vocab -> core idx
    D = np.zeros((n_rows, core_size), dtype=bool)
    if core_size:
        D[rows[in_core], core_col[indices[in_core]]] = True
    m_rows, m_cols = np.nonzero(~D)  # sorted by row: CSR order
    M_indices = m_cols.astype(np.int64)
    M_indptr = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(np.bincount(m_rows, minlength=n_rows), out=M_indptr[1:])
    return core_size, M_indptr, M_indices, P_indptr, P_indices


def intersect_counts_delta(
    core_size, M_indptr, M_indices, P_indptr, P_indices, ai, bi
):
    """Exact set-intersection counts over a :func:`delta_csr`
    decomposition: ``|A∩B| = |C| - |Ma| - |Mb| + |Ma∩Mb| + |Pa∩Pb|``
    (set identity: C∩A∩B = C minus the union of the two missing-sets,
    inclusion-exclusion on Ma, Mb; (A∩B)\\C = Pa∩Pb). Work is
    O(pairs x delta sizes) — on a near-duplicate family deltas are
    ~10-30 elements vs ~300-element sets, an order of magnitude under
    the popcount/BLAS kernels, and still exact integers."""
    m_len = M_indptr[1:] - M_indptr[:-1]
    inter = (
        core_size
        - m_len[ai]
        - m_len[bi]
        + intersect_counts_csr(M_indptr, M_indices, ai, bi)
        + intersect_counts_csr(P_indptr, P_indices, ai, bi)
    )
    return inter.astype(np.int64)
