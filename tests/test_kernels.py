"""Spark-free golden tests for the numpy kernels (SURVEY.md §5.1)."""

from __future__ import annotations

import numpy as np
import pytest

from parallel_louvain_method_spark.functions import kernels
from tests.conftest import (
    CSR5_EDGES,
    EPS,
    GOLDEN16_EDGES,
    GOLDEN16_N_COMMUNITIES,
    GOLDEN16_Q_FINAL,
    GOLDEN16_Q_INITIAL,
)


def _arrays(edges):
    e = np.array(edges)
    return e[:, 0], e[:, 1], np.ones(len(e))


def test_csr5_layout_matches_reference():
    # golden arrays from /root/reference/tests/main_test.cpp:23-30
    csr = kernels.pack_csr(*_arrays(CSR5_EDGES))
    assert csr.row_index.tolist() == [0, 2, 5, 8, 9, 10]
    assert csr.column_index.tolist() == [1, 2, 0, 2, 3, 0, 1, 4, 1, 2]
    assert csr.weights.tolist() == [1.0] * 10
    assert csr.ecount == 5


def test_golden16_sequential_louvain():
    csr = kernels.pack_csr(*_arrays(GOLDEN16_EDGES))
    assert csr.ecount == 28  # tests/main_test.cpp:64
    deg = kernels.weighted_degrees(csr)
    m2 = 2.0 * csr.ecount
    q0 = kernels.modularity(np.zeros(16), deg, m2)
    assert q0 == pytest.approx(GOLDEN16_Q_INITIAL, abs=EPS)
    comm, in_w, tot, qs, improved, _ = kernels.louvain_sequential(csr)
    assert improved
    assert qs[-1] == pytest.approx(GOLDEN16_Q_FINAL, abs=EPS)
    assert len(set(comm.tolist())) == GOLDEN16_N_COMMUNITIES


def test_symmetrize_dedup_set_semantics():
    # exact duplicate collapses; parallel edge with different weight survives
    src = np.array([0, 0, 0])
    dst = np.array([1, 1, 1])
    w = np.array([1.0, 1.0, 2.0])
    s, d, ww = kernels.symmetrize_dedup_edges(src, dst, w)
    assert len(s) == 4  # (0,1,1) (0,1,2) (1,0,1) (1,0,2)
    # self-loop symmetrizes onto itself -> single entry
    s, d, ww = kernels.symmetrize_dedup_edges(
        np.array([2]), np.array([2]), np.array([3.0])
    )
    assert len(s) == 1


def test_self_loop_degree_counts_once():
    # src/graph.cpp:238-247: weighted_degree sums the CSR row; the deduped
    # self-loop contributes once
    csr = kernels.pack_csr(np.array([0, 0]), np.array([0, 1]), np.array([2.0, 1.0]))
    deg = kernels.weighted_degrees(csr)
    assert deg[0] == pytest.approx(3.0)
    assert deg[1] == pytest.approx(1.0)


def test_modularity_bounds_property():
    rng = np.random.default_rng(42)
    for _ in range(5):
        n = 30
        m = 80
        src = rng.integers(0, n, m)
        dst = rng.integers(0, n, m)
        w = np.ones(m)
        keep = src != dst
        csr = kernels.pack_csr(src[keep], dst[keep], w[keep])
        comm, in_w, tot, qs, _, _ = kernels.louvain_sequential(csr)
        assert all(-0.5 - 1e-9 <= q <= 1.0 + 1e-9 for q in qs)
        # modularity non-decreasing across sweeps (greedy local moves)
        assert all(qs[i + 1] >= qs[i] - 1e-9 for i in range(len(qs) - 1))


# --- hypothesis property tests (Spark-free, milliseconds each) -------------

from hypothesis import given, settings, strategies as st


@st.composite
def random_edge_lists(draw, max_n=24, max_m=60):
    n = draw(st.integers(min_value=2, max_value=max_n))
    m = draw(st.integers(min_value=1, max_value=max_m))
    src = draw(
        st.lists(st.integers(0, n - 1), min_size=m, max_size=m)
    )
    dst = draw(
        st.lists(st.integers(0, n - 1), min_size=m, max_size=m)
    )
    w = draw(
        st.lists(
            st.floats(min_value=0.25, max_value=4.0, allow_nan=False),
            min_size=m,
            max_size=m,
        )
    )
    return np.array(src), np.array(dst), np.array(w)


@given(random_edge_lists())
@settings(max_examples=60, deadline=None)
def test_symmetrize_dedup_invariants(e):
    """set semantics: output symmetric, exact-duplicate-free, sorted."""
    src, dst, w = e
    s, d, ww = kernels.symmetrize_dedup_edges(src, dst, w)
    triples = list(zip(s.tolist(), d.tolist(), ww.tolist()))
    assert len(triples) == len(set(triples))  # dedup
    assert triples == sorted(triples)  # (src, dst, weight) order
    fwd = set(zip(s.tolist(), d.tolist(), ww.tolist()))
    assert all((b, a, x) in fwd for a, b, x in fwd)  # symmetric


@given(random_edge_lists())
@settings(max_examples=40, deadline=None)
def test_csr_degree_mass_conservation(e):
    """Σ weighted_degree == Σ CSR weights; row_index is a valid prefix sum."""
    src, dst, w = e
    csr = kernels.pack_csr(src, dst, w)
    assert np.all(np.diff(csr.row_index) >= 0)
    assert csr.row_index[-1] == len(csr.column_index)
    deg = kernels.weighted_degrees(csr)
    assert deg.sum() == pytest.approx(csr.weights.sum())


@given(random_edge_lists())
@settings(max_examples=30, deadline=None)
def test_louvain_sequential_improves_or_holds(e):
    """Greedy local moves never decrease modularity; every vertex keeps a
    valid community label; labels form existing vertex ids."""
    src, dst, w = e
    keep = src != dst
    if not keep.any():
        return
    csr = kernels.pack_csr(src[keep], dst[keep], w[keep])
    n = len(csr.row_index) - 1
    deg = kernels.weighted_degrees(csr)
    m2 = float(csr.weights.sum())
    q0 = kernels.modularity(np.zeros(n), deg, m2)
    comm, in_w, tot, qs, improved, _ = kernels.louvain_sequential(csr, m2=m2)
    assert qs[-1] >= q0 - 1e-9
    assert all(qs[i + 1] >= qs[i] - 1e-9 for i in range(len(qs) - 1))
    assert comm.min() >= 0 and comm.max() < n
    # community totals conserve total degree mass
    assert tot.sum() == pytest.approx(deg.sum())


@given(random_edge_lists())
@settings(max_examples=30, deadline=None)
def test_vectorized_matches_quality_class(e):
    """The vectorized whole-graph level lands within the same quality class
    as the sequential reference semantics (synchronous dynamics may differ
    in exact partition, but Q must be >= the singleton baseline and not
    collapse)."""
    src, dst, w = e
    keep = src != dst
    if not keep.any():
        return
    ids, comm_s, _, q_seq, _, _ = kernels.louvain_sequential_edges(
        src[keep], dst[keep], w[keep]
    )
    ids_v, comm_v, _, q_vec, _, _ = kernels.louvain_vectorized_edges(
        src[keep], dst[keep], w[keep]
    )
    assert ids.tolist() == ids_v.tolist()
    # both run on m2 = total symmetric weight; singleton baseline Q0 <= both
    # (the vectorized engine returns its best-Q snapshot, so synchronous
    # oscillation can never leave it below the start state)
    s_d = np.searchsorted(ids, src[keep])
    d_d = np.searchsorted(ids, dst[keep])
    csr = kernels.pack_csr(s_d, d_d, w[keep], n=len(ids))
    deg = kernels.weighted_degrees(csr)
    q0 = kernels.modularity(np.zeros(len(deg)), deg, float(csr.weights.sum()))
    assert q_seq >= q0 - 1e-9
    assert q_vec >= q0 - 1e-9


@given(random_edge_lists())
@settings(max_examples=30, deadline=None)
def test_dense_kernel_prep_hoist_parity(e):
    """louvain_block_local_dense(pre=prepare_dense_block(...)) is
    bit-identical to the self-prepping call: the structural maps are
    community-independent, so hoisting them (the barrier engine's per-level
    optimization) must not change a single move."""
    src, dst, w = e
    keep = src != dst
    if not keep.any():
        return
    src, dst, w = src[keep], dst[keep], w[keep]
    nv = int(max(src.max(), dst.max())) + 1
    s = src.astype(np.int32)
    d = dst.astype(np.int32)
    comm = np.arange(nv, dtype=np.int64)
    deg = np.bincount(s, weights=w, minlength=nv) + np.bincount(
        d, weights=w, minlength=nv
    )
    m2 = float(deg.sum())
    tot = np.bincount(comm, weights=deg, minlength=nv)
    pre = kernels.prepare_dense_block(s, d, w, nv)
    for seed in (0, 1):
        v_a, c_a = kernels.louvain_block_local_dense(
            s, d, w, comm, deg, tot, m2, seed=seed
        )
        v_b, c_b = kernels.louvain_block_local_dense(
            s, d, w, comm, deg, tot, m2, seed=seed, pre=pre
        )
        assert v_a.tolist() == v_b.tolist()
        assert c_a.tolist() == c_b.tolist()


def test_barrier_blob_delta_zstd_roundtrip():
    """The barrier pack's sort + delta + zstd transport encoding restores
    (src, dst, weight) exactly, including the row reordering being a
    permutation (multiset equality) — the transport must be lossless."""
    import pickle

    import pyarrow as pa

    rng = np.random.default_rng(7)
    n, nv = 100_000, 5_000
    s = rng.integers(0, nv, n).astype(np.int32)
    d = rng.integers(0, nv, n).astype(np.int32)
    w = rng.integers(1, 9, n).astype(np.float64)
    # encode exactly as _pack does
    order = np.argsort(s, kind="stable")
    ss, dd, ww = s[order], d[order], w[order]
    sdelta = np.diff(ss, prepend=np.int32(0)).astype(np.int32)
    raw = pickle.dumps((sdelta, dd, ww), protocol=4)
    comp = pa.Codec("zstd", compression_level=1).compress(raw, asbytes=True)
    assert len(comp) < len(raw)
    # decode exactly as _level does
    back = pa.Codec("zstd").decompress(comp, len(raw), asbytes=True)
    s2delta, d2, w2 = pickle.loads(back)
    s2 = np.cumsum(s2delta, dtype=np.int64).astype(np.int32)
    assert (s2 == ss).all() and (d2 == dd).all() and (w2 == ww).all()
    # permutation of the original rows (same multiset of edges)
    a = sorted(zip(s.tolist(), d.tolist(), w.tolist()))
    b = sorted(zip(s2.tolist(), d2.tolist(), w2.tolist()))
    assert a == b


@given(random_edge_lists())
@settings(max_examples=30, deadline=None)
def test_local_kernels_report_real_moves_per_sweep(e):
    """Both driver-side kernels report per-sweep mover counts: the
    sequential kernel one per sweep, ending in its zero-move sweep; the
    vectorized kernel one per sweep up to its best-Q snapshot.  Either
    way the counts are positive in total exactly when the kernel reports
    an improvement (the multilevel driver's stop signal)."""
    src, dst, w = e
    keep = src != dst
    if not keep.any():
        return
    *_, sweeps, _, imp, moves = kernels.louvain_sequential_edges(
        src[keep], dst[keep], w[keep]
    )
    assert len(moves) == sweeps and moves[-1] == 0
    assert all(m >= 0 for m in moves)
    assert (sum(moves) > 0) == imp
    *_, sweeps_v, _, imp_v, moves_v = kernels.louvain_vectorized_edges(
        src[keep], dst[keep], w[keep]
    )
    assert len(moves_v) <= sweeps_v
    assert all(m >= 0 for m in moves_v)
    assert (sum(moves_v) > 0) == imp_v
