"""Batch edit distances (the Arrow hot path's entry point).

Computes NW / SHW / HW edit distances for a whole Arrow batch of
(query, target) string pairs: the strings are encoded once into flat
UTF-32 codepoint buffers and handed to the cffi-compiled Myers scan
(``edlib_spark._native``), which maps each pair's alphabet and runs the
banded bit-vector scan per pair in C — no per-row Python.

Key properties:
  * exact same results as ``edlib_spark.kernel.align`` (differentially
    tested) — distance d, or -1 when d > k;
  * per-pair k bound (the pipeline uses k = ceil(tau * max_len));
  * unbounded pairs run edlib's dynamic-k doubling (k = 64, 128, ...)
    as re-entrant calls over the pairs still unresolved;
  * one fallback: when the C scan is unavailable (no cffi or no
    compiler; ``_native`` warns once) or leaves a pair unscored (a
    failed scratch allocation), that pair is scored by
    ``kernel.align``, the executable spec every test compares against.
"""

from __future__ import annotations

import numpy as np

from . import kernel

def encode_flat(strings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One-shot flat encoding: (codepoint buffer, per-string start,
    per-string length).  A single join+encode is ~10x cheaper than
    per-string numpy conversion.  A lone surrogate, which a Python str
    may hold, encodes to its own codepoint instead of raising."""
    lens = np.fromiter((len(s) if s is not None else 0 for s in strings),
                       dtype=np.int64, count=len(strings))
    joined = "".join(s for s in strings if s) if len(strings) else ""
    buf = np.frombuffer(joined.encode("utf-32-le", "surrogatepass"),
                        dtype=np.uint32)
    start = np.zeros(len(strings), dtype=np.int64)
    if len(strings) > 1:
        np.cumsum(lens[:-1], out=start[1:])
    return buf, start, lens


def _encode_equalities(equalities):
    """Normalize additional-equality pairs (single-char str or int
    codepoints, the reference's EdlibEqualityPair edlib.h:92-95) into two
    parallel uint32 codepoint arrays.  Symmetry is applied downstream
    (both OR directions), matching the reference's symmetric matrix."""
    if not equalities:
        return None

    def _cp(v, pair):
        if isinstance(v, str):
            if len(v) != 1:
                raise ValueError(
                    "equality pair entries must be single characters or "
                    f"integer codepoints, got {v!r} in pair {pair!r}")
            return ord(v)
        return int(v)

    a = np.fromiter((_cp(p[0], p) for p in equalities), dtype=np.uint32)
    b = np.fromiter((_cp(p[1], p) for p in equalities), dtype=np.uint32)
    return a, b


def batch_edit_distance(queries, targets, mode: str = "NW", k=-1,
                        equalities=None):
    """Edit distances for N (query, target) pairs; -1 where distance > k.

    ``queries``/``targets``: sequences of str (None treated as "").
    ``k``: scalar or array of per-pair bounds; negative = unbounded.
    ``equalities``: optional iterable of (a, b) single-char pairs that
    the aligner treats as matching (EdlibEqualityPair semantics,
    reference edlib/src/edlib.cpp:63-94) — applied batch-wide as extra
    Peq plane ORs inside the C scan.
    Returns an int32 array of length N.
    """
    if mode not in ("NW", "SHW", "HW"):
        raise ValueError(f"invalid mode {mode!r}")
    # already-encoded (eqa, eqb) uint32 arrays pass through (recursive
    # calls); anything else — including a tuple OF pairs — is encoded
    eq_cp = equalities if (isinstance(equalities, tuple)
                           and len(equalities) == 2
                           and isinstance(equalities[0], np.ndarray)) \
        else _encode_equalities(equalities)
    n = len(queries)
    if len(targets) != n:
        raise ValueError("queries and targets must have equal length")
    out = np.full(n, -1, dtype=np.int32)
    if n == 0:
        return out

    k_arr = np.broadcast_to(np.asarray(k, dtype=np.int64), (n,)).copy()

    # ---- dynamic-k doubling for unbounded pairs (edlib.cpp:196-217):
    # banded scans at k = 64, 128, ... are far cheaper than one
    # full-band scan when the true distance is small relative to the
    # sequence length (the common case for near-duplicates)
    unb_mask = k_arr < 0
    if unb_mask.any():
        uidx = np.nonzero(unb_mask)[0]
        bidx = np.nonzero(~unb_mask)[0]
        if len(bidx):
            out[bidx] = batch_edit_distance(
                [queries[i] for i in bidx], [targets[i] for i in bidx],
                mode, k_arr[bidx], eq_cp)
        uq = [queries[i] or "" for i in uidx]
        ut = [targets[i] or "" for i in uidx]
        qlens = np.array([len(s) for s in uq], dtype=np.int64)
        tlens = np.array([len(s) for s in ut], dtype=np.int64)
        cap = np.maximum(qlens, tlens) if mode == "NW" else qlens
        res = np.full(len(uidx), -1, dtype=np.int32)
        active = np.arange(len(uidx))
        ktry = 64  # WORD_SIZE (edlib.cpp:199)
        while len(active):
            kk = np.minimum(ktry, cap[active])
            got = batch_edit_distance(
                [uq[i] for i in active], [ut[i] for i in active],
                mode, kk, eq_cp)
            final = (got >= 0) | (kk >= cap[active])
            res[active[final]] = got[final]
            active = active[~final]
            ktry *= 2
        out[uidx] = res
        return out

    # The C scan applies the empty-sequence short-circuit (which ignores
    # k, edlib.cpp:165-184), the NW k < |tlen - qlen| shortcut
    # (edlib.cpp:744-747) and the HW k <= qlen clamp itself.
    from . import _native
    q_buf, q_start, q_lens = encode_flat(queries)
    t_buf, t_start, t_lens = encode_flat(targets)
    got = _native.native_batch_distance(q_buf, q_start, q_lens, t_buf,
                                        t_start, t_lens, k_arr, mode,
                                        eq_cp)
    if got is None:
        todo = range(n)
    else:
        out = got
        todo = np.nonzero(got == _native.UNSUPPORTED)[0]
    if len(todo):
        eqs = None if eq_cp is None else [
            (chr(a), chr(b)) for a, b in zip(*eq_cp)
            if a < 0x110000 and b < 0x110000]
        for i in todo:
            out[i] = kernel.align(queries[i] or "", targets[i] or "", mode,
                                  k=int(k_arr[i]), additionalEqualities=eqs,
                                  max_alphabet=None)["editDistance"]
    return out
