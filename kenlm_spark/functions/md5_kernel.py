"""Batch h60 (md5-based 60-bit hash) via an on-demand compiled C kernel.

The operator Python passes (minhash signatures, contamination shingle
hashes, DSIR feature buckets) hash millions of short strings per task
with ``h60(s) = int(md5(s)[0:15], 16)``; hashlib costs ~0.9 µs per call
(per-call overhead dominates at these input sizes) and dominated the
passes.  This wrapper compiles ``md5_kernel.c`` lazily with whatever
``cc`` is on PATH (the ``ngram/native_kernel.py`` pattern: cached in
/tmp by source hash, silent fallback to hashlib on any failure), then
**verifies the kernel against hashlib on a deterministic self-test**
covering empty strings, multi-block messages and every padding boundary
before trusting it.  Set KENLM_SPARK_NATIVE=0 to force the hashlib path.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import subprocess
import tempfile

import numpy as np

_lib = None
_lib_tried = False


def _selftest(lib) -> bool:
    msgs = [b"", b"a", b"abc", b"0:" * 40, bytes(range(256)) * 3]
    msgs += [b"x" * n for n in (55, 56, 57, 63, 64, 65, 119, 120, 128)]
    buf, offs = _pack(msgs)
    out = np.empty(len(msgs), dtype=np.uint64)
    lib.h60_batch(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        ctypes.c_int64(len(msgs)),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    want = [int(hashlib.md5(m).hexdigest()[:15], 16) for m in msgs]
    if list(out) != want:
        return False
    pres = [b"", b"0:", b"15:", b"q" * 70]
    pbuf, poffs = _pack(pres)
    out2 = np.empty(len(msgs) * len(pres), dtype=np.uint64)
    lib.h60_salted_batch(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        ctypes.c_int64(len(msgs)),
        pbuf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        poffs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        ctypes.c_int32(len(pres)),
        out2.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    want2 = [
        int(hashlib.md5(p + m).hexdigest()[:15], 16)
        for m in msgs
        for p in pres
    ]
    return list(out2) == want2


def _compile():
    global _lib, _lib_tried
    if _lib_tried:
        return _lib
    _lib_tried = True
    if os.environ.get("KENLM_SPARK_NATIVE", "1") == "0":
        return None
    try:
        # get_data reads the source from a directory and from a
        # --py-files zip alike; the compiler gets a cached copy
        src = pkgutil.get_data(__package__, "md5_kernel.c")
        tag = hashlib.sha256(src).hexdigest()[:16]
        cache = os.path.join(tempfile.gettempdir(), "kenlm_spark_native")
        os.makedirs(cache, exist_ok=True)
        so = os.path.join(cache, f"md5_kernel_{tag}.so")
        if not os.path.exists(so):
            tmp = so + f".{os.getpid()}.tmp"
            # the copy keeps the file's basename, which the .so records
            c_path = os.path.join(cache, tag, "md5_kernel.c")
            os.makedirs(os.path.dirname(c_path), exist_ok=True)
            with open(tmp + ".c", "wb") as fh:
                fh.write(src)
            os.replace(tmp + ".c", c_path)
            for cc in ("cc", "gcc", "clang", "g++"):
                try:
                    r = subprocess.run(
                        [cc, "-O3", "-fPIC", "-shared", "-o", tmp, c_path,
                         "-lm"],
                        capture_output=True,
                        timeout=120,
                    )
                except (OSError, subprocess.TimeoutExpired):
                    continue
                if r.returncode == 0:
                    os.replace(tmp, so)
                    break
            else:
                return None
        lib = ctypes.CDLL(so)
        lib.h60_batch.restype = None
        lib.h60_salted_batch.restype = None
        if not _selftest(lib):
            return None
        _lib = lib
    except Exception:
        _lib = None
    return _lib


def _pack(msgs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    offs = np.zeros(len(msgs) + 1, dtype=np.int64)
    np.cumsum([len(m) for m in msgs], out=offs[1:])
    buf = np.frombuffer(b"".join(msgs) or b"\x00", dtype=np.uint8)
    return buf, offs


def h60_bytes_batch(msgs: list[bytes]) -> np.ndarray:
    """uint64[n]: h60 of each message."""
    lib = _compile()
    if lib is None:
        return np.fromiter(
            (int(hashlib.md5(m).hexdigest()[:15], 16) for m in msgs),
            np.uint64,
            len(msgs),
        )
    buf, offs = _pack(msgs)
    out = np.empty(len(msgs), dtype=np.uint64)
    lib.h60_batch(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        ctypes.c_int64(len(msgs)),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    return out


def h60_salted_bytes_batch(
    msgs: list[bytes], prefixes: list[bytes]
) -> np.ndarray:
    """uint64[n, k]: h60(prefix_j || msg_i) — the per-hash-family salts
    of the minhash signature pass."""
    k = len(prefixes)
    lib = _compile()
    if lib is None:
        out = np.empty((len(msgs), k), dtype=np.uint64)
        for i, m in enumerate(msgs):
            for j, p in enumerate(prefixes):
                out[i, j] = int(hashlib.md5(p + m).hexdigest()[:15], 16)
        return out
    buf, offs = _pack(msgs)
    pbuf, poffs = _pack(prefixes)
    out = np.empty(len(msgs) * k, dtype=np.uint64)
    lib.h60_salted_batch(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        ctypes.c_int64(len(msgs)),
        pbuf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        poffs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        ctypes.c_int32(k),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    return out.reshape(len(msgs), k)
