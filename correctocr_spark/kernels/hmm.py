"""Character-level HMM: k-best beam search + parameter training.

Reference: CorrectOCR, ``model/hmm.py``.

The scalar beam :func:`k_best_beam` (``hmm.py:165-188``) is the oracle.
It is re-expressed as vectorized NumPy with **identical candidate
ordering**, including ties:

- the reference sorts path lists with Python's stable ``sorted(...,
  key=prob, reverse=True)``; ``reverse=True`` on a stable sort keeps
  equal-probability paths in generation order;
- generation order for the first two chars is ``for i in states for j in
  states`` (i-major); for later chars it is ``for j in states for x in
  paths`` (**j-major**, paths minor — note the inversion, hmm.py:183-184);
- ``np.argsort(-probs, kind='stable')`` reproduces exactly that order.

State order = insertion order of the ``init`` mapping (``hmm.py:26-30``:
``states = init.keys()``), which must be preserved from the params JSON.
Missing chars hit ``defaultdict(float)`` => probability-0 paths that are
kept when fewer than k nonzero paths exist — we therefore never prune
zero-probability paths.

**Batched beam** (:func:`kbest_arrays`, :func:`kbest_for_words`): the
beam after ``t + 1`` characters — its paths, their order and their
probabilities — depends only on those ``t + 1`` observed characters, or
more exactly on their emission columns (every char no state matches has
the same all-zero column). So each distinct observed prefix is stepped
once, however many words share it:

- prefixes get an id per depth, ``np.unique`` over ``(parent id, char)``;
  the step at depth ``t`` runs once per distinct depth-``t`` prefix and
  keeps, per beam slot, the new state and the parent slot it extends;
- a word's k-best is the beam of its full prefix, decoded by walking the
  slot back-pointers, one length group at a time; a length-1 word takes
  the top-k of its depth-0 vector, longer words extend every depth-0
  state at depth 1, exactly as the scalar beam does;
- the ordering argument is the scalar one, row by row: each step ranks
  its candidates by (probability desc, index in the reference's
  generation order asc) — i-major ``i*N + j`` at depth 1, j-major
  ``j*kk + x`` after — which is the stable argsort prefix;
- floats stay bitwise equal because every product is the scalar
  expression on the same operands in the same order — ``(a*T)*e`` at
  depth 1, ``(p*T[last])*e`` after — and nothing is summed or rescaled;
  sharing a prefix only skips recomputing identical rows;
- each depth is processed in chunks of 512 prefixes;
- empty words and words holding a multichar key take the scalar path
  (``hmm.py:194-220``); states of other than one character are decoded
  with a per-candidate ``"".join``.

**Sparse step** (:func:`_sparse_step`). The dense step scores every
extension of every path: N*N candidates at depth 1, N*k after. Yet a
path ``x`` (probability ``p_x``, last state ``s_x``) extended by the
observed char ``c`` reaches state ``j`` with ``p_x * tran[s_x, j] *
emis[j, c]``, so of its N extensions at most the k best by
``tran[s_x, j] * emis[j, c]`` can be among the step's top k: a global
top-k candidate is always among its own path's k best extensions.
:func:`_tables` precomputes per model and ``k``, for every ``(c, s)``,
those k states ``J[c, s]`` (ties to the lower ``j``) and the (k+1)-th
largest product ``G[c, s]``; the step scores only the k per path, with
the expressions above, and ranks them by the same key. Rounding can
reorder near-equal products, so the result of a row stands only when
its k-th kept probability ``v`` certifies that no excluded candidate
can rank above it:

- ``v > max_x p_x * G[c, s_x] * (1 + 1e-9)``: each excluded candidate's
  exact product is at most ``p_x * G[c, s_x]``, and its computed value
  and the computed bound are each within a few ulps (relative
  ``2**-53``) of exact, far inside the ``1e-9`` margin; strict, so a
  tie with an excluded candidate is never certified;
- ``v >= 2**-1022`` (the smallest normal float): below it the products
  underflow, the error is absolute rather than relative, and the margin
  proves nothing.

Every other row is redone by the dense step (:func:`_full_step`, the
same function the scalar-order argument above covers): boundary ties,
chars no state emits (all products 0), underflow to subnormals or 0. All
rows take the dense step when ``k >= N`` (nothing is excluded) or when a
model entry lies outside ``[0, 1]`` (the error bounds assume
probabilities); then :func:`_tables` is ``None``. With perfbench's
74-state model and k = 4, 2 of the 14,296 rows stepped for 3,565
``html_zipf`` words fall back.
"""

from __future__ import annotations

import itertools
import re
from typing import Dict, Iterable, Iterator, List, Mapping, Optional, Sequence, Tuple

import numpy as np

KBest = List[Tuple[str, float]]


class HMMParams:
    """Dense NumPy view of the reference's nested-dict parameters.

    ``init: {char->p}``, ``tran: {char->{char->p}}``,
    ``emis: {char->{char->p}}`` (``hmm.py:67-70``); state order is the
    ``init`` key order. Designed to be built once on the driver and
    broadcast to executors; treated as immutable once built, because the
    beam caches per-``k`` tables derived from it in ``_beam_tables``
    (not pickled: each process rebuilds its own).
    """

    __slots__ = ("states", "index", "init", "tran", "emis", "multichars", "_beam_tables")

    def __init__(
        self,
        init: Mapping[str, float],
        tran: Mapping[str, Mapping[str, float]],
        emis: Mapping[str, Mapping[str, float]],
        multichars: Optional[Mapping[str, List[str]]] = None,
    ):
        self.states: List[str] = list(init.keys())
        self.index: Dict[str, int] = {s: i for i, s in enumerate(self.states)}
        n = len(self.states)
        self.init = np.zeros(n, dtype=np.float64)
        self.tran = np.zeros((n, n), dtype=np.float64)
        self.emis = np.zeros((n, n), dtype=np.float64)
        for s, p in init.items():
            self.init[self.index[s]] = p
        for a, row in tran.items():
            ia = self.index.get(a)
            if ia is None:
                continue
            for b, p in row.items():
                ib = self.index.get(b)
                if ib is not None:
                    self.tran[ia, ib] = p
        for a, row in emis.items():
            ia = self.index.get(a)
            if ia is None:
                continue
            for b, p in row.items():
                ib = self.index.get(b)
                if ib is not None:
                    self.emis[ia, ib] = p
        self.multichars = dict(multichars or {})
        self._beam_tables: Dict[int, Optional[tuple]] = {}

    def __getstate__(self):
        return None, {s: getattr(self, s) for s in self.__slots__ if s != "_beam_tables"}

    def __setstate__(self, state):
        for s, v in state[1].items():
            setattr(self, s, v)
        self._beam_tables = {}

    # -- (de)serialization: the reference's JSON artifact shape -----------

    def to_dicts(self) -> list:
        """JSON shape ``[init, tran, emis]`` (``hmm.py:67-70``)."""
        init = {s: float(self.init[i]) for i, s in enumerate(self.states)}
        tran = {
            a: {b: float(self.tran[i, j]) for j, b in enumerate(self.states)}
            for i, a in enumerate(self.states)
        }
        emis = {
            a: {b: float(self.emis[i, j]) for j, b in enumerate(self.states)}
            for i, a in enumerate(self.states)
        }
        return [init, tran, emis]

    @classmethod
    def from_dicts(cls, data: Sequence, multichars=None) -> "HMMParams":
        init, tran, emis = data
        return cls(init, tran, emis, multichars)

    def is_valid(self) -> bool:
        """``hmm.py:107-130`` — init/tran/emis key sets must match.

        With the dense representation the inner-key check is structural;
        only NaN/negative sanity remains meaningful."""
        return bool(
            np.isfinite(self.init).all()
            and np.isfinite(self.tran).all()
            and np.isfinite(self.emis).all()
            and (self.init >= 0).all()
            and (self.tran >= 0).all()
            and (self.emis >= 0).all()
        )

    def _emis_col(self, ch: str) -> np.ndarray:
        """Emission column for an observed char; all-zeros if unknown
        (the ``defaultdict(float)`` fallthrough, ``hmm.py:52``)."""
        i = self.index.get(ch)
        if i is None:
            return np.zeros(len(self.states), dtype=np.float64)
        return self.emis[:, i]


def k_best_beam(params: HMMParams, word: str, k: int) -> KBest:
    """``hmm.py:165-188`` with identical ordering (see module docstring)."""
    states = params.states
    n = len(states)
    if n == 0:
        return []
    if len(word) == 1:
        probs = params.init * params._emis_col(word[0])
        order = np.argsort(-probs, kind="stable")
        return [(states[i], float(probs[i])) for i in order[:k]]

    # First two characters: i-major N*N enumeration (hmm.py:174-175).
    probs2 = (params.init * params._emis_col(word[0]))[:, None] * params.tran * params._emis_col(word[1])[None, :]
    flat = probs2.ravel()  # row-major == i-major
    order = np.argsort(-flat, kind="stable")[:k]
    paths_idx = [(int(f) // n, int(f) % n) for f in order]
    probs = flat[order]

    for t in range(2, len(word)):
        ecol = params._emis_col(word[t])
        last = np.fromiter((p[-1] for p in paths_idx), dtype=np.int64, count=len(paths_idx))
        # hmm.py:183-184 enumerates `for j in states for x in paths`:
        # j-major, path-minor — cand[j, x].
        cand = probs[None, :] * params.tran[last, :].T * ecol[:, None]
        flat = cand.ravel()
        order = np.argsort(-flat, kind="stable")[: k]
        m = len(paths_idx)
        new_paths = []
        for f in order:
            j, x = int(f) // m, int(f) % m
            new_paths.append(paths_idx[x] + (j,))
        paths_idx = new_paths
        probs = flat[order]

    return [
        ("".join(states[i] for i in seq), float(p))
        for seq, p in zip(paths_idx, probs)
    ][:k]


def _stable_topk_desc(flat: np.ndarray, k: int) -> Tuple[np.ndarray, np.ndarray]:
    """Row-wise top-k indices by value desc, ties by index asc — exactly
    ``np.argsort(-row, kind='stable')[:k]`` but O(M) via argpartition
    plus an exact tie repair at the k-th-value boundary."""
    w, m = flat.shape
    if m <= max(k, 64):
        order = np.argsort(-flat, axis=1, kind="stable")[:, :k]
        return order, np.take_along_axis(flat, order, axis=1)
    part = np.argpartition(-flat, k - 1, axis=1)[:, :k]
    pvals = np.take_along_axis(flat, part, axis=1)
    kth = pvals.min(axis=1)
    # partition is exact iff no kth-valued element was left outside:
    # then ordering the k selected by (value desc, index asc) equals the
    # stable argsort prefix. Ties at the boundary (mostly all-zero rows
    # from unknown chars) take the per-row repair path.
    n_eq_total = (flat == kth[:, None]).sum(axis=1)
    n_eq_sel = (pvals == kth[:, None]).sum(axis=1)
    ok = n_eq_total == n_eq_sel
    order_in_row = np.lexsort((part, -pvals), axis=-1)
    out = np.take_along_axis(part, order_in_row, axis=1)
    for wi in np.flatnonzero(~ok):
        row = flat[wi]
        kv = kth[wi]
        gt = np.flatnonzero(row > kv)
        need = k - len(gt)
        sel = np.concatenate([gt, np.flatnonzero(row == kv)[:need]]) if need > 0 else gt[:k]
        out[wi] = sel[np.lexsort((sel, -row[sel]))]
    return out, np.take_along_axis(flat, out, axis=1)


def _emis_rows(params: HMMParams) -> np.ndarray:
    """(N+1, N): row ``c`` is the emission column of observed char code
    ``c`` (see :func:`_char_codes`); row N, of unknown chars, is zero."""
    n = len(params.states)
    return np.concatenate([params.emis, np.zeros((n, 1))], axis=1).T


def _char_codes(params: HMMParams, text: str) -> np.ndarray:
    """Observed-char index per char of ``text``: the state index of a
    single-char state, or ``n`` (the all-zero emission column) for a char
    no state matches (``hmm.py:52``)."""
    n = len(params.states)
    single = sorted((ord(s), i) for s, i in params.index.items() if len(s) == 1)
    codes = np.array([c for c, _ in single] + [0x110000], dtype=np.int64)
    idx = np.array([i for _, i in single] + [n], dtype=np.int64)
    cps = np.frombuffer(text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    pos = np.searchsorted(codes, cps)
    return np.where(codes[pos] == cps, idx[pos], n)


#: A sparse row stands only when its k-th kept probability exceeds the
#: bound on every excluded candidate by this relative margin and is a
#: normal float (see module docstring).
_MARGIN = 1e-9
_TINY = np.finfo(np.float64).tiny


def _tables(params: HMMParams, k: int) -> Optional[tuple]:
    """The sparse step's per-model tables for beam width ``k``, built once
    per process and cached on ``params``; ``None`` when every row takes
    the full step (``k >= N``, or entries outside ``[0, 1]``).

    For observed char code ``c`` and predecessor state ``s``: ``J[c, s]``
    are the ``k`` states ``j`` with the largest ``tran[s, j] * emis[j, c]``
    (ties to the lower ``j``), ascending; ``TJ``/``EJ`` their ``tran`` and
    ``emis`` entries; ``G[c, s]`` the (k+1)-th largest product."""
    cache = params._beam_tables
    if k not in cache:
        n = len(params.states)
        cache[k] = None
        if 0 < k < n and all(((a >= 0) & (a <= 1)).all() for a in (params.init, params.tran, params.emis)):
            E = _emis_rows(params)
            w = params.tran[None, :, :] * E[:, None, :]  # w[c, s, j]
            best = np.argsort(-w, axis=2, kind="stable")[:, :, : k + 1]
            J = np.sort(best[:, :, :k], axis=2)
            G = np.take_along_axis(w, best[:, :, k:], axis=2)[:, :, 0]
            TJ = params.tran[np.arange(n)[:, None], J]
            EJ = E[np.arange(n + 1)[:, None, None], J]
            cache[k] = (J, TJ, EJ, G)
    return cache[k]


def _full_step(
    tran: np.ndarray, P: np.ndarray, S: np.ndarray, ec: np.ndarray, kn: int, first: bool
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One beam step for C prefixes over every extension of their paths
    (probabilities ``P`` and last states ``S``, both (C, kk); at depth 1
    the paths are the N states themselves), emission rows ``ec`` (C, N).
    Returns the top-``kn`` (state, parent slot, probability), each
    (C, kn), in the reference's generation order."""
    cand = (P[:, :, None] * tran[S]) * ec[:, None, :]  # cand[u, x, j]
    C, kk, n = cand.shape
    if first:  # i-major N*N enumeration (hmm.py:174-175)
        o, pr = _stable_topk_desc(cand.reshape(C, kk * n), kn)
        return o % n, o // n, pr
    # j-major, path-minor (hmm.py:183-184)
    o, pr = _stable_topk_desc(cand.transpose(0, 2, 1).reshape(C, n * kk), kn)
    return o // kk, o % kk, pr


def _sparse_step(
    tables: tuple, P: np.ndarray, S: np.ndarray, cc: np.ndarray, kn: int, first: bool
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """:func:`_full_step` over only each path's ``k`` best extensions
    (``cc``: observed char codes, (C,)), plus a per-row flag: where it is
    ``False`` the result is not certified and the row must be redone."""
    J, TJ, EJ, G = tables
    n, k = J.shape[1:]
    row = cc[:, None] * n + S  # (C, kk): table row of each path's (char, last state)
    Js = J.reshape(-1, k).take(row, axis=0)  # (C, kk, k)
    cand = (P[:, :, None] * TJ.reshape(-1, k).take(row, axis=0)) * EJ.reshape(-1, k).take(row, axis=0)
    bound = (P * G.take(row)).max(axis=1)
    C, kk, _ = Js.shape
    cand = cand.reshape(C, kk * k)
    if first:  # slot-major with ascending j: already the i-major flat order
        o, pr = _stable_topk_desc(cand, kn)
    else:  # rank by (probability desc, j-major flat index asc)
        o = np.argsort(-cand, axis=1)[:, : kn + 1]
        pr = np.take_along_axis(cand, o, axis=1)
        # the unstable sort is exact where the first kn + 1 values are
        # distinct; rows with a tie there are ranked by the full key
        for u in np.flatnonzero((pr[:, 1:] == pr[:, :-1]).any(axis=1)):
            flat = (Js[u] * kk + np.arange(kk)[:, None]).ravel()
            o[u, :kn] = np.lexsort((flat, -cand[u]))[:kn]
        o = o[:, :kn]
        pr = np.take_along_axis(cand, o, axis=1)
    st = np.take_along_axis(Js.reshape(C, -1), o, axis=1)
    ok = (pr[:, -1] > bound * (1 + _MARGIN)) & (pr[:, -1] >= _TINY)
    return st, o // k, pr, ok


def _prefix_beam(
    params: HMMParams, words: List[str], k: int, chunk: int = 512
) -> Iterator[Tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """The beam for non-empty words, each distinct observed prefix once
    (see module docstring). Yields one ``(word_indices, candidates,
    probabilities)`` per word length; row ``r`` of the two (M, k') arrays
    belongs to ``words[word_indices[r]]``."""
    n = len(params.states)
    W = len(words)
    lens = np.fromiter(map(len, words), dtype=np.int64, count=W)
    obs = _char_codes(params, "".join(words))
    order = np.argsort(-lens, kind="stable")  # longest first
    starts = (np.cumsum(lens) - lens)[order]
    lens_sorted = lens[order]
    # active[t]: words (sorted) with len > t are exactly the first active[t]
    active = np.searchsorted(-lens_sorted, -np.arange(int(lens_sorted[0])), side="left")
    E = _emis_rows(params)
    tables = _tables(params, k)

    # depth 0: one prefix per observed first char
    p0_keys, ids = np.unique(obs[starts], return_inverse=True)
    a0 = params.init[None, :] * E[p0_keys]  # (U0, n)
    word_ids = [ids]  # word_ids[t][w]: prefix id at depth t, w < active[t]
    # Per depth t >= 1: each prefix's parent id and, per beam slot, its
    # state, the parent slot it extends and its probability. Depth 0
    # keeps only the top-k of a0, which is what length-1 words return.
    top0, ptop0 = _stable_topk_desc(a0, min(k, n))
    parents, states, backs, probs = [None], [top0], [None], [ptop0]
    kk = n  # depth-1 paths extend every depth-0 state
    for t in range(1, len(active)):
        A = int(active[t])
        keys = ids[:A] * (n + 1) + obs[starts[:A] + t]
        uk, ids = np.unique(keys, return_inverse=True)
        par, ch = uk // (n + 1), uk % (n + 1)
        U = len(uk)
        kn = min(k, n * kk)
        st = np.empty((U, kn), dtype=np.int64)
        bk = np.empty((U, kn), dtype=np.int64)
        pr = np.empty((U, kn))
        for lo in range(0, U, chunk):
            hi = min(lo + chunk, U)
            pc, cc = par[lo:hi], ch[lo:hi]
            if t == 1:
                P, S = a0[pc], np.arange(n)[None, :]
            else:
                P, S = probs[t - 1][pc], states[t - 1][pc]
            redo = np.arange(hi - lo)
            if tables is not None:
                st[lo:hi], bk[lo:hi], pr[lo:hi], ok = _sparse_step(tables, P, S, cc, kn, t == 1)
                redo = redo[~ok]
            if len(redo):
                rows = lo + redo
                st[rows], bk[rows], pr[rows] = _full_step(
                    params.tran, P[redo], S if t == 1 else S[redo], E[cc[redo]], kn, t == 1
                )
        word_ids.append(ids)
        parents.append(par)
        states.append(st)
        backs.append(bk)
        probs.append(pr)
        kk = kn

    single = all(len(s) == 1 and s != "\0" for s in params.states)
    codes = np.array([ord(s) if len(s) == 1 else 0 for s in params.states], dtype=np.uint32)
    for L in range(1, len(active) + 1):
        lo, hi = (int(active[L]) if L < len(active) else 0), int(active[L - 1])
        if lo == hi:
            continue
        final, inv = np.unique(word_ids[L - 1][lo:hi], return_inverse=True)
        kn = states[L - 1].shape[1]
        seq = np.empty((len(final), kn, L), dtype=np.int64)
        pid = final
        slot = np.broadcast_to(np.arange(kn), (len(final), kn))
        for d in range(L - 1, 0, -1):
            seq[:, :, d] = states[d][pid[:, None], slot]
            slot = backs[d][pid[:, None], slot]
            pid = parents[d][pid]
        seq[:, :, 0] = states[0][pid[:, None], slot] if L == 1 else slot
        if single:
            strs = codes[seq].view(f"U{L}").reshape(len(final), kn)
        else:  # multi-character states: join per candidate
            strs = np.empty((len(final), kn), dtype=object)
            for (u, x), path in zip(np.ndindex(len(final), kn), seq.reshape(-1, L).tolist()):
                strs[u, x] = "".join(params.states[s] for s in path)
        yield order[lo:hi], strs[inv], probs[L - 1][final][inv]


def kbest_arrays(
    params: HMMParams, words: Sequence[str], k: int
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched :func:`kbest_for_word` as flat arrays: candidates (object
    array of str), probabilities and ``offsets``; word ``i`` owns
    ``[offsets[i], offsets[i+1])``. Bitwise-identical to the scalar
    function. Empty and multichar-bearing words take the scalar path."""
    subs = list(params.multichars)
    if not params.states:
        is_scalar = np.ones(len(words), dtype=bool)
    elif subs:
        is_scalar = np.array([not w or any(sub in w for sub in subs) for w in words], dtype=bool)
    else:  # no multichar keys: only empty words take the scalar path
        is_scalar = np.array([not w for w in words], dtype=bool)
    scalar = np.flatnonzero(is_scalar).tolist()
    beam_idx = np.flatnonzero(~is_scalar)
    groups = list(_prefix_beam(params, [words[i] for i in beam_idx], k)) if len(beam_idx) else []
    scalar_kb = [kbest_for_word(params, words[i], k) for i in scalar]
    counts = np.zeros(len(words), dtype=np.int64)
    for idx, strs, _pr in groups:
        counts[beam_idx[idx]] = strs.shape[1]
    counts[scalar] = [len(kb) for kb in scalar_kb]
    offsets = np.concatenate([[0], np.cumsum(counts)])
    cands = np.empty(int(offsets[-1]), dtype=object)
    probs = np.empty(int(offsets[-1]), dtype=np.float64)
    for idx, strs, pr in groups:
        pos = offsets[beam_idx[idx]][:, None] + np.arange(strs.shape[1])
        cands[pos] = strs
        probs[pos] = pr
    for i, kb in zip(scalar, scalar_kb):
        lo, hi = offsets[i], offsets[i + 1]
        cands[lo:hi] = [c for c, _ in kb]
        probs[lo:hi] = [p for _, p in kb]
    return cands, probs, offsets


def kbest_for_words(params: HMMParams, words: Sequence[str], k: int) -> List[KBest]:
    """Batched :func:`kbest_for_word`, results in input order, identical
    to the scalar function."""
    cands, probs, offsets = kbest_arrays(params, words, k)
    pairs = list(zip(cands.tolist(), probs.tolist()))
    return [pairs[lo:hi] for lo, hi in zip(offsets[:-1].tolist(), offsets[1:].tolist())]


def multichar_variants(word: str, original: str, replacements: List[str]) -> set:
    """``hmm.py:222-233`` — NOTE the reference uses the key as a regex
    pattern in ``re.split``; replicated verbatim."""
    variants = [original] + list(replacements)
    variant_words = set()
    pieces = re.split(original, word)
    for x in itertools.product(variants, repeat=word.count(original)):
        variant_words.add(
            "".join(
                elem
                for pair in itertools.zip_longest(pieces, x, fillvalue="")
                for elem in pair
            )
        )
    return variant_words


def kbest_for_word(params: HMMParams, word: str, k: int) -> KBest:
    """``hmm.py:194-220``; returns rank-ordered list (rank = index + 1).

    Empty word => k copies of ``('', 0.0)`` (``hmm.py:204-205``). The
    multichar re-rank keeps the stable original-first tie order
    (``hmm.py:218``).
    """
    if len(word) == 0:
        return [("", 0.0)] * k
    k_best = k_best_beam(params, word, k)
    for sub in params.multichars:
        if sub in word:
            for variant in multichar_variants(word, sub, params.multichars[sub]):
                if variant != word:
                    k_best.extend(k_best_beam(params, variant, k))
            k_best = sorted(k_best, key=lambda x: x[1], reverse=True)[:k]
    return k_best[:k]


# ---------------------------------------------------------------------------
# Training (HMMBuilder): hmm.py:263-447
# ---------------------------------------------------------------------------


def build_hmm_params(
    dictionary: Iterable[str],
    smoothing: float,
    character_set: Iterable[str],
    read_counts: Mapping[str, Mapping[str, float]],
    remove_chars: Sequence[str],
    gold_words,
    multichars=None,
) -> HMMParams:
    """Reference ``HMMBuilder`` (``hmm.py:266-447``) as a pure function.

    One deliberate divergence: the reference iterates Python *sets* when
    enumerating the final charset (``hmm.py:441``), so its state order —
    and therefore tie-breaks among equal/zero-probability candidates —
    depends on the process hash seed (nondeterministic across runs). We
    iterate ``sorted(charset)`` so training is deterministic; everywhere
    probabilities differ the outputs agree with the reference.

    ``gold_words`` is either the reference's word *stream* (a list with
    multiplicity) or a ``{word: count}`` mapping. Every use of the stream
    is an additive tally, so weighted counts are mathematically identical
    — the mapping form lets the Spark training path aggregate word counts
    distributed-side instead of re-materializing the 10^12-token stream
    in driver memory (groupBy(word).count() -> collect of the Zipf-bounded
    vocabulary only).
    """
    dictionary = list(dictionary)
    charset = set(character_set)
    remove = list(remove_chars)
    if isinstance(gold_words, Mapping):
        gold_word_counts: Dict[str, int] = dict(gold_words)
    else:
        gold_word_counts = {}
        for w in gold_words:
            gold_word_counts[w] = gold_word_counts.get(w, 0) + 1

    # _generate_confusion (hmm.py:301-328)
    confusion: Dict[str, Dict[str, float]] = {
        key: dict(value) for key, value in read_counts.items() if len(key) == 1
    }
    for unwanted in remove:
        confusion.pop(unwanted, None)
    for outer in confusion:
        inner = confusion[outer]
        for key in [kk for kk in inner if len(kk) != 1]:
            del inner[key]
        for unwanted in remove:
            inner.pop(unwanted, None)

    # _text_char_counts (hmm.py:332-351): the reference filters the text
    # char counts against the *configured* (pre-union) characterSet inside
    # _text_char_counts, and only afterwards unions the charset with the
    # surviving count keys + confusion keys (hmm.py:285). Gold/dictionary
    # characters outside the configured charset therefore do NOT become
    # HMM states (they can still appear as emission columns via confusion
    # inner keys). Pinned by test_builder_out_of_charset_gold_char.
    char_count: Dict[str, float] = {}
    for word, wn in gold_word_counts.items():
        for ch in word:
            char_count[ch] = char_count.get(ch, 0) + wn
    for word in dictionary:
        for ch in word:
            char_count[ch] = char_count.get(ch, 0) + 1
    char_count = {c: v for c, v in char_count.items() if c in charset}
    for unwanted in remove:
        char_count.pop(unwanted, None)
    charset = charset | set(char_count) | set(confusion)

    # _emission_probabilities (hmm.py:357-404)
    for char in char_count:
        if char not in confusion:
            confusion[char] = {char: char_count[char]}
    inner_charset = set().union(*[set(confusion[i]) for i in confusion]) if confusion else set()
    for char in confusion:
        for missing in sorted(inner_charset):
            if missing not in confusion[char]:
                confusion[char][missing] = 0.0
    for i in confusion:
        denom = sum(confusion[i].values()) + smoothing * len(confusion[i])
        for j in confusion[i]:
            confusion[i][j] = (confusion[i][j] + smoothing) / denom
    extra_chars = charset - set(remove)
    for char in sorted(extra_chars):
        if char not in confusion:
            confusion[char] = {i: 0.0 for i in sorted(inner_charset)}
    for i in confusion:
        for char in sorted(extra_chars):
            if char not in confusion[i]:
                confusion[i][char] = 0.0
    for char in sorted(extra_chars):
        confusion[char][char] = 1.0
    for outer in list(confusion.keys()):
        if outer not in charset:
            del confusion[outer]
        else:
            for inner in list(confusion[outer].keys()):
                if inner not in charset:
                    del confusion[outer][inner]
    emis = confusion

    # _init_tran_probabilities (hmm.py:408-447)
    tran_counts: Dict[str, Dict[str, float]] = {}
    init_counts: Dict[str, float] = {}

    def add_word(w: str, wn: int = 1) -> None:
        if len(w) > 0:
            init_counts[w[0]] = init_counts.get(w[0], 0) + wn
            for a, b in zip(w, w[1:]):
                tran_counts.setdefault(a, {})[b] = tran_counts.get(a, {}).get(b, 0) + wn

    for word, wn in gold_word_counts.items():
        add_word(word, wn)
    for word in dictionary:
        add_word(word)
    for unwanted in remove:
        charset.discard(unwanted)
        init_counts.pop(unwanted, None)
        tran_counts.pop(unwanted, None)
        for i in tran_counts:
            tran_counts[i].pop(unwanted, None)

    ordered = sorted(charset)  # deterministic state order (see docstring)
    init_out: Dict[str, float] = {}
    tran_out: Dict[str, Dict[str, float]] = {}
    init_denom = sum(init_counts.values()) + smoothing * len(charset)
    for i in ordered:
        init_out[i] = (init_counts.get(i, 0) + smoothing) / init_denom
        row = tran_counts.get(i, {})
        tran_denom = sum(row.values()) + smoothing * len(charset)
        tran_out[i] = {j: (row.get(j, 0) + smoothing) / tran_denom for j in ordered}

    # Reorder emission rows to the state order for a clean dense matrix.
    emis_out = {i: emis.get(i, {}) for i in ordered}
    return HMMParams(init_out, tran_out, emis_out, multichars)
