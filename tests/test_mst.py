"""Chu-Liu/Edmonds parity: brute force + the reference implementation.

The reference decode file (phonlp/models/common/chuliu_edmonds.py) is
pure numpy, so where it is available on disk we load it BY PATH (no
package import, no torch) and assert identical trees on random scores —
a behavioral oracle, not a code dependency; all engine code is
independent (phonlp_spark/kernel/mst.py).
"""

import importlib.util
import itertools
import os

import numpy as np
import pytest

from phonlp_spark.kernel.mst import max_spanning_tree, mst_single_root

REF_FILE = "/root/reference/phonlp/models/common/chuliu_edmonds.py"


def brute_force(scores, single_root):
    """Enumerate all head assignments; keep the best valid arborescence."""
    n = scores.shape[0]
    best, best_tree = -np.inf, None
    for heads in itertools.product(*[range(n)] * (n - 1)):
        heads = (0,) + heads
        if any(heads[i] == i for i in range(1, n)):
            continue
        if single_root and sum(1 for i in range(1, n) if heads[i] == 0) != 1:
            continue
        # validity: every node reaches 0 without cycling
        ok = True
        for i in range(1, n):
            seen, u = set(), i
            while u != 0:
                if u in seen:
                    ok = False
                    break
                seen.add(u)
                u = heads[u]
            if not ok:
                break
        if not ok:
            continue
        total = sum(scores[i, heads[i]] for i in range(1, n))
        if total > best:
            best, best_tree = total, heads
    return best, best_tree


def tree_score(scores, tree):
    return sum(scores[i, tree[i]] for i in range(1, len(tree)))


@pytest.mark.parametrize("n", [2, 3, 4, 5])
def test_against_brute_force(n):
    rng = np.random.default_rng(100 + n)
    for _ in range(40):
        s = rng.normal(size=(n, n))
        for single in (False, True):
            tree = (mst_single_root if single else max_spanning_tree)(s)
            assert tree[0] == 0
            best, _ = brute_force(s, single)
            assert np.isclose(tree_score(s, tree), best), (s, tree)
            if single:
                assert int(np.sum(tree[1:] == 0)) == 1


def test_handles_cycles_deterministically():
    # a matrix engineered to produce a greedy 2-cycle
    s = np.array([
        [0.0, -9, -9, -9],
        [1.0, -9, 5.0, 0.1],
        [0.2, 5.0, -9, 0.1],
        [0.3, 4.0, 0.1, -9],
    ])
    t1 = mst_single_root(s)
    t2 = mst_single_root(s)
    assert np.array_equal(t1, t2)
    best, _ = brute_force(s, True)
    assert np.isclose(tree_score(s, t1), best)


@pytest.mark.skipif(not os.path.exists(REF_FILE), reason="reference not on disk")
def test_matches_reference_module():
    spec = importlib.util.spec_from_file_location("ref_cle", REF_FILE)
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    rng = np.random.default_rng(7)
    for n in (2, 3, 5, 9, 17, 33):
        for _ in range(20):
            s = rng.normal(size=(n, n)).astype(np.float32)
            ours = mst_single_root(s)
            theirs = ref.chuliu_edmonds_one_root(s.copy())
            # scores tie-break identically only by accident; compare totals
            s64 = s.astype(np.float64)
            assert np.isclose(tree_score(s64, ours), tree_score(s64, theirs))
            assert int(np.sum(ours[1:] == 0)) == 1 == int(np.sum(np.asarray(theirs)[1:] == 0))


def test_native_solver_bit_identical_to_numpy():
    """The C fast path (kernel/_mst_c.c) must decode the EXACT tree the
    numpy implementation decodes — including argmax tie-breaking (first
    max) and float summation order (numpy pairwise sum) on exact-tie
    integer matrices.  Skipped implicitly when no compiler exists (the
    dispatcher then routes every call to the numpy path anyway)."""
    from phonlp_spark.kernel.mst import _mst_single_root_py, _native_fn
    if _native_fn() is None:
        pytest.skip("no C toolchain on this host")
    rng = np.random.default_rng(123)
    for trial in range(4000):
        n = int(rng.integers(2, 15)) if trial % 10 else int(rng.integers(15, 41))
        if trial % 3 == 0:
            s = rng.integers(-3, 4, size=(n, n)).astype(np.float64)
        elif trial % 3 == 1:
            s = rng.normal(size=(n, n))
        else:
            s = np.round(rng.normal(size=(n, n)) * 2) / 2
        if trial % 7 == 0:
            # NaN scores (a checkpoint whose logits hit inf - inf):
            # np.argmax picks the first NaN, so these must take the
            # numpy path
            s[rng.random(size=(n, n)) < 0.2] = np.nan
        assert np.array_equal(mst_single_root(s), _mst_single_root_py(s))


def test_native_loader_rejects_untrusted_library(tmp_path, monkeypatch):
    """A cached solver library that group/other can write, or that
    another uid owns, must never reach ctypes.CDLL; a private one does."""
    import ctypes
    import tempfile
    from phonlp_spark.kernel import mst
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    loaded = []
    monkeypatch.setattr(ctypes, "CDLL", lambda path, *a, **k: loaded.append(path))

    def plant(mode):
        so = mst._so_path()
        with open(so, "wb") as f:
            f.write(b"not a library")
        os.chmod(so, mode)
        return so

    plant(0o666)  # group/other writable
    assert mst._load_native() is None
    real_uid = os.getuid()
    with monkeypatch.context() as m:
        m.setattr(os, "getuid", lambda: real_uid + 1)  # owned by another uid
        plant(0o600)
        assert mst._load_native() is None
    assert loaded == []
    so = plant(0o600)
    mst._load_native()
    assert loaded == [so]
