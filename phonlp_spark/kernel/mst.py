"""Maximum spanning arborescence (Chu-Liu/Edmonds) for dependency decode.

Semantics contract (reference: phonlp/models/common/chuliu_edmonds.py,
called from phonlp/annotate_model.py:260-262): given a float score
matrix ``scores[dep, head]`` whose row/column 0 is the artificial ROOT,
return ``heads`` with ``heads[0] == 0`` and exactly one token attached
to ROOT (single-root constraint enforced by re-solving with each root
candidate pinned and keeping the best-scoring tree, reference
chuliu_edmonds.py:133-169).  Scores are upcast to float64 before
solving (reference chuliu_edmonds.py:136).

This file is an independent implementation: greedy argmax + walk-based
cycle detection + iterative-style cycle contraction, verified against
exhaustive enumeration in tests/test_mst.py.

Fast path: a bit-compatible C twin (_mst_c.c) compiled lazily with the
host toolchain and dispatched from mst_single_root — the per-sentence
numpy solve's small-array overhead was 56% of the annotation kernel's
CPU at sf1.0 (~29 us per _solve call for ~100 flops on 12-node
graphs).  The C solver replicates numpy's argmax first-max tie rule
AND numpy's pairwise summation order, so decoded trees are identical
bit for bit (asserted over randomized + exact-tie integer matrices in
tests/test_mst.py); when no compiler is available the numpy
implementation below serves unchanged.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

NEG_INF = -np.inf

_C_FN = None
_C_TRIED = False
_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_mst_c.c")


def _cache_dir() -> str:
    """Per-user build cache for the native solver: a 0700 directory in
    the temp dir, so no other user can plant or swap the library."""
    d = os.path.join(tempfile.gettempdir(), f"phonlp_mst-{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    return d


def _trusted(path: str) -> bool:
    """True when ``path`` belongs to the current uid and neither group
    nor other can write to it — the precondition for dlopen-ing it."""
    st = os.stat(path)
    return st.st_uid == os.getuid() and not st.st_mode & 0o022


def _so_path() -> str:
    with open(_SRC, "rb") as f:
        digest = hashlib.md5(f.read()).hexdigest()[:16]
    return os.path.join(_cache_dir(), f"phonlp_mst_{digest}.so")


def _load_native():
    """Compile (once per user and source digest, see _cache_dir) and
    ctypes-load the C solver; None when the host has no C compiler or
    the cached library or its directory fails the _trusted check.
    Concurrent workers race harmlessly: each compiles to a private name
    and os.replace is atomic."""
    try:
        so = _so_path()
        if not os.path.exists(so):
            tmp = f"{so}.tmp{os.getpid()}"
            subprocess.run(
                ["cc", "-O2", "-shared", "-fPIC", "-o", tmp, _SRC],
                check=True, capture_output=True)
            os.chmod(tmp, 0o700)
            os.replace(tmp, so)
        if not (_trusted(os.path.dirname(so)) and _trusted(so)):
            return None
        lib = ctypes.CDLL(so)
        fn = lib.phonlp_mst_single_root
        fn.restype = ctypes.c_int
        fn.argtypes = [ctypes.POINTER(ctypes.c_double), ctypes.c_int64,
                       ctypes.POINTER(ctypes.c_int64)]
        return fn
    except Exception:
        return None


def _native_fn():
    global _C_FN, _C_TRIED
    if not _C_TRIED:
        _C_FN = _load_native()
        _C_TRIED = True
    return _C_FN


def _first_cycle(heads: list[int]) -> list[int] | None:
    """Find one multi-node cycle in the functional graph, else None.

    Pure-python pointer walk (plain list in, plain list out): numpy
    scalar indexing in this loop measurably dominated decode time.
    """
    n = len(heads)
    state = bytearray(n)  # 0 new, 1 on current walk, 2 done
    for start in range(n):
        if state[start]:
            continue
        walk = []
        u = start
        while state[u] == 0:
            state[u] = 1
            walk.append(u)
            u = heads[u]
        if state[u] == 1:
            cyc = walk[walk.index(u):]
            if len(cyc) > 1:
                return cyc
        for v in walk:
            state[v] = 2
    return None


def _solve(scores: np.ndarray) -> np.ndarray:
    """Max arborescence on a prepared matrix (diag/root rows locked)."""
    heads = scores.argmax(axis=1)
    cyc_list = _first_cycle(heads.tolist())
    if cyc_list is None:
        return heads
    cyc = np.asarray(cyc_list, dtype=np.int64)

    n = scores.shape[0]
    in_cyc = np.zeros(n, dtype=bool)
    in_cyc[cyc] = True
    out_nodes = np.flatnonzero(~in_cyc)
    m = out_nodes.shape[0]

    cyc_arc_w = scores[cyc, heads[cyc]]
    cyc_total = cyc_arc_w.sum()

    # condensed graph: out_nodes keep their order; index m = the supernode
    cond = np.full((m + 1, m + 1), NEG_INF, dtype=scores.dtype)
    out_rows = scores[out_nodes]
    cond[:m, :m] = out_rows[:, out_nodes]

    # out-node dep, cycle head: keep the best in-cycle head per dep
    dep_block = out_rows[:, cyc]                          # [m, c]
    best_cyc_head = dep_block.argmax(axis=1)
    cond[:m, m] = dep_block[np.arange(m), best_cyc_head]

    # supernode dep, out-node head: pay for breaking one in-cycle arc
    enter_block = scores[cyc][:, out_nodes] - cyc_arc_w[:, None] + cyc_total
    best_entry = enter_block.argmax(axis=0)               # [m]
    cond[m, :m] = enter_block[best_entry, np.arange(m)]

    sub = _solve(cond)

    result = heads.copy()  # cycle-internal arcs survive except the broken one
    for i in range(m):
        h = int(sub[i])
        result[out_nodes[i]] = cyc[best_cyc_head[i]] if h == m else out_nodes[h]
    outer_head = int(sub[m])
    result[cyc[best_entry[outer_head]]] = out_nodes[outer_head]
    return result


def _prepare(scores: np.ndarray) -> np.ndarray:
    s = np.array(scores, dtype=np.float64, copy=True)
    np.fill_diagonal(s, NEG_INF)
    s[0, :] = NEG_INF
    s[0, 0] = 0.0
    return s


def max_spanning_tree(scores: np.ndarray) -> np.ndarray:
    """Unconstrained max arborescence; ROOT may have several children."""
    return _solve(_prepare(scores))


def mst_single_root(scores: np.ndarray) -> np.ndarray:
    """Max arborescence with exactly one child of ROOT.

    Dispatches to the bit-compatible C solver when available (see
    module docstring); the numpy path below is the fallback and the
    differential-test oracle; the C solver also hands back NaN score
    matrices, whose np.argmax tie rule it cannot replicate."""
    fn = _native_fn()
    if fn is not None:
        s = np.ascontiguousarray(scores, dtype=np.float64)
        n = s.shape[0]
        out = np.empty(n, dtype=np.int64)
        rc = fn(s.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
                ctypes.c_int64(n),
                out.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)))
        if rc == 0:
            return out
    return _mst_single_root_py(scores)


def _mst_single_root_py(scores: np.ndarray) -> np.ndarray:
    """numpy reference implementation (fallback + test oracle)."""
    base = _prepare(scores)
    tree = _solve(base)
    roots = np.flatnonzero(tree[1:] == 0) + 1
    if roots.shape[0] <= 1:
        return tree

    n = base.shape[0]
    best_score, best_tree = NEG_INF, tree
    for r in roots:
        pinned = base.copy()
        root_arc = pinned[r, 0]
        pinned[1:, 0] = NEG_INF
        pinned[r, :] = NEG_INF
        pinned[r, 0] = 0.0
        cand = _solve(pinned)
        arc_w = pinned[np.arange(n), cand]
        if np.all(arc_w > NEG_INF):
            total = arc_w.sum() + root_arc
            if total > best_score:
                best_score, best_tree = total, cand
    return best_tree
