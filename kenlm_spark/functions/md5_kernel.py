"""Batch h60 (md5-based 60-bit hash) via an on-demand compiled C kernel.

The operator Python passes (minhash signatures, contamination shingle
hashes, DSIR feature buckets) hash millions of short strings per task
with ``h60(s) = int(md5(s)[0:15], 16)``; hashlib costs ~0.9 µs per call
(per-call overhead dominates at these input sizes) and dominated the
passes.  ``md5_kernel.c`` is compiled and cached by the package's one
loader, ``kenlm_spark.native.load``, which runs ``_selftest`` — the
kernel against hashlib on empty strings, multi-block messages and every
padding boundary — before the library is used.  Without a library
(no compiler, failed self-test, ``KENLM_SPARK_NATIVE=0``) both batch
functions hash with hashlib; results are identical either way.
"""

from __future__ import annotations

import ctypes
import hashlib

import numpy as np

from kenlm_spark import native

_SYMBOLS = {"h60_batch": None, "h60_salted_batch": None}


def _h60_py(m: bytes) -> int:
    return int(hashlib.md5(m).hexdigest()[:15], 16)


def _pack(msgs: list[bytes]):
    """(bytes, offsets) pointers over the concatenated messages; each
    pointer keeps its array alive."""
    offs = np.zeros(len(msgs) + 1, dtype=np.int64)
    np.cumsum([len(m) for m in msgs], out=offs[1:])
    buf = np.frombuffer(b"".join(msgs) or b"\x00", dtype=np.uint8)
    return (
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
    )


def _h60_c(lib, msgs: list[bytes]) -> np.ndarray:
    buf, offs = _pack(msgs)
    out = np.empty(len(msgs), dtype=np.uint64)
    lib.h60_batch(
        buf, offs, ctypes.c_int64(len(msgs)),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    return out


def _h60_salted_c(lib, msgs: list[bytes], prefixes: list[bytes]):
    buf, offs = _pack(msgs)
    pbuf, poffs = _pack(prefixes)
    out = np.empty((len(msgs), len(prefixes)), dtype=np.uint64)
    lib.h60_salted_batch(
        buf, offs, ctypes.c_int64(len(msgs)),
        pbuf, poffs, ctypes.c_int32(len(prefixes)),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    return out


def _selftest(lib) -> bool:
    msgs = [b"", b"a", b"abc", b"0:" * 40, bytes(range(256)) * 3]
    msgs += [b"x" * n for n in (55, 56, 57, 63, 64, 65, 119, 120, 128)]
    pres = [b"", b"0:", b"15:", b"q" * 70]
    return list(_h60_c(lib, msgs)) == [_h60_py(m) for m in msgs] and (
        _h60_salted_c(lib, msgs, pres).ravel().tolist()
        == [_h60_py(p + m) for m in msgs for p in pres]
    )


def load() -> ctypes.CDLL | None:
    """The self-tested md5 library, or None for the hashlib path."""
    return native.load(__package__, "md5_kernel", _SYMBOLS, _selftest)


def h60_bytes_batch(msgs: list[bytes]) -> np.ndarray:
    """uint64[n]: h60 of each message."""
    lib = load()
    if lib is None:
        return np.fromiter(map(_h60_py, msgs), np.uint64, len(msgs))
    return _h60_c(lib, msgs)


def h60_salted_bytes_batch(
    msgs: list[bytes], prefixes: list[bytes]
) -> np.ndarray:
    """uint64[n, k]: h60(prefix_j || msg_i) — the per-hash-family salts
    of the minhash signature pass."""
    lib = load()
    if lib is None:
        out = np.empty((len(msgs), len(prefixes)), dtype=np.uint64)
        for i, m in enumerate(msgs):
            for j, p in enumerate(prefixes):
                out[i, j] = _h60_py(p + m)
        return out
    return _h60_salted_c(lib, msgs, prefixes)
