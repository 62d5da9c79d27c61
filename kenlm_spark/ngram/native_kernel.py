"""On-demand compiled scorer kernel (ctypes around score_kernel.c).

The numpy ``score_batch`` sweep is memory-bandwidth-bound: every
per-order pass streams full-batch temporaries through the cache, which
costs a measured 3.5-4x single-thread floor against the reference's
cache-resident C++ (BENCH/BASELINE.md, kenlm_benchmark protocol).  The
C kernel walks each position once, keeping the hash recurrence, probe
chain and backoff charge in registers/L1 — the same access pattern as
the reference's query loop — and releases the GIL for the whole call,
so all 32 local executor threads score concurrently.

Strictly optional: ``kenlm_spark.native.load`` compiles and caches it
once per process; when that yields no library (no compiler, sandboxed
/tmp, ``KENLM_SPARK_NATIVE=0``) or the model's payload dtypes are
exotic, ``NGramModel`` runs the numpy path, which remains the portable
reference implementation.  Both paths are pinned bit-identical by
tests/test_model_golden.py's raw-bits A/B and the live differential
suite vs the compiled reference binding.
"""

from __future__ import annotations

import ctypes

import numpy as np

from kenlm_spark import native

_MAX_ORDER = 16

_SYMBOLS = {
    "score_stream": None,
    "score_captions": None,
    "hash_words": None,
    "score_eos_stream": ctypes.c_int64,
}


def load() -> ctypes.CDLL | None:
    """The compiled scorer library, or None for the numpy path."""
    return native.load(__package__, "score_kernel", _SYMBOLS)


class NativeScorer:
    """Per-process prepared ctypes view of one model's tables.

    Holds references to the model's numpy arrays (and per-order float64->
    float32 nothing — payloads must already be float32/uint64; anything
    else refuses so the numpy path keeps exact semantics).
    """

    def __init__(self, model) -> None:
        lib = load()
        if lib is None:
            raise RuntimeError("native kernel unavailable")
        N = model.order
        if not (1 <= N < _MAX_ORDER):
            raise RuntimeError(f"order {N} out of kernel range")
        if model.uni_prob.dtype != np.float32 or (
            model.uni_backoff.dtype != np.float32
        ):
            raise RuntimeError("non-float32 unigram payloads")
        self._lib = lib
        self._N = N
        self._refs = []  # keep arrays alive for the pointer lifetime

        u64p = ctypes.POINTER(ctypes.c_uint64)
        i64p = ctypes.POINTER(ctypes.c_int64)
        f32p = ctypes.POINTER(ctypes.c_float)

        def as_ptr(arr, ctype):
            a = np.ascontiguousarray(arr)
            self._refs.append(a)
            return a.ctypes.data_as(ctypes.POINTER(ctype))

        self._uni_prob = as_ptr(model.uni_prob, ctypes.c_float)
        self._uni_backoff = as_ptr(model.uni_backoff, ctypes.c_float)
        self._vocab_n = len(model.uni_prob)
        self._bos_id = model.bos_id
        self._eos_id = model.eos_id
        self._vtable = None  # built lazily by _ensure_vocab_table
        self._keys = (u64p * _MAX_ORDER)()
        self._nkeys = (ctypes.c_int64 * _MAX_ORDER)()
        self._tkeys = (u64p * _MAX_ORDER)()
        self._tidx = (i64p * _MAX_ORDER)()
        self._masks = (ctypes.c_uint64 * _MAX_ORDER)()
        self._probs = (f32p * _MAX_ORDER)()
        self._backoffs = (f32p * _MAX_ORDER)()
        for n in range(2, N + 1):
            ks = model.keys[n]
            ps = model.probs[n]
            if ks.dtype != np.uint64 or ps.dtype != np.float32:
                raise RuntimeError("non-canonical per-order dtypes")
            self._keys[n] = as_ptr(ks, ctypes.c_uint64)
            self._nkeys[n] = len(ks)
            self._probs[n] = as_ptr(ps, ctypes.c_float)
            if n < N:
                bo = model.backoffs[n]
                if bo.dtype != np.float32:
                    raise RuntimeError("non-canonical backoff dtype")
                self._backoffs[n] = as_ptr(bo, ctypes.c_float)
            table = model._ptable(n)
            if table is not None:
                tkeys, tidx, mask = table
                self._tkeys[n] = as_ptr(tkeys, ctypes.c_uint64)
                self._tidx[n] = as_ptr(tidx, ctypes.c_int64)
                self._masks[n] = int(mask)

    def _ensure_vocab_table(self, model) -> bool:
        """Build the MurmurHash64A-keyed probing vocab (the reference's
        own vocab design) once per process; False if the layout can't
        represent this vocab (in-vocab murmur collision, a zero hash,
        eos_id == 0 — all fall back to the dict path).  A miss maps to
        <unk>=0; an OOV token colliding with a vocab word maps to that
        word, exactly as the reference's hash-keyed vocab does."""
        if self._vtable is not None:
            return self._vtable is not False
        ok = False
        try:
            if self._eos_id != 0 and self._vocab_n:
                V = self._vocab_n
                words = [""] * V
                for w, i in model.vocab.items():
                    words[i] = w
                enc = [w.encode("utf-8") for w in words]
                lens = np.fromiter((len(b) for b in enc), np.int64, V)
                offs = np.zeros(V + 1, dtype=np.int64)
                np.cumsum(lens, out=offs[1:])
                buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
                hashes = np.empty(V, dtype=np.uint64)
                self._lib.hash_words(
                    buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
                    offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
                    ctypes.c_int64(V),
                    hashes.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
                )
                if len(np.unique(hashes)) == V:
                    from kenlm_spark.ngram.model import _build_probing_table

                    t = _build_probing_table(hashes)
                    if t is not None:
                        tkeys, tidx, mask = t
                        self._refs.extend([tkeys, tidx])
                        self._vtable = (
                            tkeys.ctypes.data_as(
                                ctypes.POINTER(ctypes.c_uint64)
                            ),
                            tidx.ctypes.data_as(
                                ctypes.POINTER(ctypes.c_int64)
                            ),
                            int(mask),
                        )
                        ok = True
        except Exception:
            ok = False
        if not ok:
            self._vtable = False
        return ok

    def score_captions(
        self,
        buf: np.ndarray,
        offsets: np.ndarray,
        stupid_backoff: bool,
        log10_alpha: float,
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(log10_score, oov_count, n_tokens) per caption over a packed
        utf-8 buffer + offsets — tokenize, vocab-map and score
        (bos=True, eos=True) fused in one GIL-free C pass."""
        if self._vtable in (None, False):
            raise RuntimeError("vocab table unavailable")
        n = len(offsets) - 1
        buf = np.ascontiguousarray(buf, dtype=np.uint8)
        offs = np.ascontiguousarray(offsets, dtype=np.int64)
        scores = np.empty(n, dtype=np.float64)
        oov = np.empty(n, dtype=np.int64)
        ntok = np.empty(n, dtype=np.int64)
        vkeys, vids, vmask = self._vtable
        self._lib.score_captions(
            buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
            offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            ctypes.c_int64(n),
            vkeys,
            vids,
            ctypes.c_uint64(vmask),
            ctypes.c_uint64(self._bos_id),
            ctypes.c_uint64(self._eos_id),
            ctypes.c_int32(self._N),
            self._uni_prob,
            self._uni_backoff,
            self._keys,
            self._nkeys,
            self._tkeys,
            self._tidx,
            self._masks,
            self._probs,
            self._backoffs,
            ctypes.c_int32(1 if stupid_backoff else 0),
            ctypes.c_double(log10_alpha),
            scores.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
            oov.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            ntok.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        )
        return scores, oov, ntok

    def _check_ids(self, ids_u: np.ndarray) -> None:
        """An out-of-range token id would index past the unigram arrays
        in C — a segfault that takes the whole executor down, where the
        numpy path merely raises IndexError.  One vectorized max() is
        cheap insurance (negative ids wrap to huge uint64s, so this
        also catches them)."""
        if len(ids_u) and int(ids_u.max()) >= self._vocab_n:
            raise IndexError(
                f"token id {int(ids_u.max())} out of range "
                f"(vocab size {self._vocab_n})"
            )

    def _call(
        self, flat, pos_in_sent, stupid_backoff, log10_alpha,
        sent_idx=None, n_sent=0, bos=True, want_tokens=True,
    ):
        T = len(flat)
        flat_u = np.ascontiguousarray(flat, dtype=np.uint64)
        self._check_ids(flat_u)
        pos = np.ascontiguousarray(pos_in_sent, dtype=np.int64)
        f64p = ctypes.POINTER(ctypes.c_double)
        i64p = ctypes.POINTER(ctypes.c_int64)
        token_prob = k = sent_scores = sent_oov = None
        if want_tokens:
            token_prob = np.empty(T, dtype=np.float64)
            k = np.empty(T, dtype=np.int64)
        if sent_idx is not None:
            sent_scores = np.zeros(n_sent, dtype=np.float64)
            sent_oov = np.zeros(n_sent, dtype=np.int64)
            si = np.ascontiguousarray(sent_idx, dtype=np.int64)
        self._lib.score_stream(
            flat_u.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
            pos.ctypes.data_as(i64p),
            ctypes.c_int64(T),
            ctypes.c_int32(self._N),
            self._uni_prob,
            self._uni_backoff,
            self._keys,
            self._nkeys,
            self._tkeys,
            self._tidx,
            self._masks,
            self._probs,
            self._backoffs,
            ctypes.c_int32(1 if stupid_backoff else 0),
            ctypes.c_double(log10_alpha),
            si.ctypes.data_as(i64p) if sent_idx is not None
            else ctypes.cast(None, i64p),
            ctypes.c_int32(1 if bos else 0),
            sent_scores.ctypes.data_as(f64p) if sent_scores is not None
            else ctypes.cast(None, f64p),
            sent_oov.ctypes.data_as(i64p) if sent_oov is not None
            else ctypes.cast(None, i64p),
            token_prob.ctypes.data_as(f64p) if token_prob is not None
            else ctypes.cast(None, f64p),
            k.ctypes.data_as(i64p) if k is not None
            else ctypes.cast(None, i64p),
        )
        return token_prob, k, sent_scores, sent_oov

    def score(
        self,
        flat: np.ndarray,
        pos_in_sent: np.ndarray,
        stupid_backoff: bool,
        log10_alpha: float,
    ) -> tuple[np.ndarray, np.ndarray]:
        """(token_prob float64, k int64) over the flat token stream —
        bit-identical to the numpy per-order sweep."""
        tp, k, _, _ = self._call(
            flat, pos_in_sent, stupid_backoff, log10_alpha
        )
        return tp, k

    def score_eos_stream_total(
        self,
        ids: np.ndarray,
        eos_id: int,
        bos_id: int,
        stupid_backoff: bool,
        log10_alpha: float,
    ) -> tuple[float, int]:
        """(total_log10, n_sent) over a raw EOS-delimited id stream —
        the zero-construction benchmark path: no flat array, no
        pos_in_sent, no sentence splits; the C walk uses a virtual BOS
        per sentence.  Per-position math is bit-identical to the other
        paths; the TOTAL is a single sequential sum over all scored
        positions (documented: np.sum over per-sentence scores groups
        differently in the low bits)."""
        ids_u = np.ascontiguousarray(ids, dtype=np.uint64)
        self._check_ids(ids_u)
        total = ctypes.c_double(0.0)
        n_sent = self._lib.score_eos_stream(
            ids_u.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
            ctypes.c_int64(len(ids_u)),
            ctypes.c_uint64(eos_id),
            ctypes.c_uint64(bos_id),
            ctypes.c_int32(self._N),
            self._uni_prob,
            self._uni_backoff,
            self._keys,
            self._nkeys,
            self._tkeys,
            self._tidx,
            self._masks,
            self._probs,
            self._backoffs,
            ctypes.c_int32(1 if stupid_backoff else 0),
            ctypes.c_double(log10_alpha),
            ctypes.byref(total),
        )
        return total.value, int(n_sent)

    def score_reduce(
        self,
        flat: np.ndarray,
        pos_in_sent: np.ndarray,
        sent_idx: np.ndarray,
        n_sent: int,
        bos: bool,
        stupid_backoff: bool,
        log10_alpha: float,
    ) -> tuple[np.ndarray, np.ndarray]:
        """(sent_scores float64, sent_oov int64): the whole per-token
        pass PLUS the per-sentence reduction in one GIL-free sweep —
        bit-identical to the numpy path's np.bincount epilogue (same
        position-order double adds)."""
        _, _, ss, so = self._call(
            flat, pos_in_sent, stupid_backoff, log10_alpha,
            sent_idx=sent_idx, n_sent=n_sent, bos=bos, want_tokens=False,
        )
        return ss, so
