"""The package's one loader for its ctypes C kernels.

``load(package, name, symbols, selftest)`` compiles ``<name>.c`` (read
with ``pkgutil.get_data``, so the source comes from a directory and from
a ``--py-files`` zip alike) with whatever ``cc`` is on PATH, caches the
shared object in ``$TMPDIR/kenlm_spark_native/<name>_<sha256[:16]>.so``,
and returns the ``CDLL`` — or ``None``, in which case the caller runs
its portable fallback (numpy scorer, hashlib).  Any failure falls back:
no compiler, a sandboxed /tmp, a missing symbol, a failed self-test.

Each kernel is built at most once per process.  The first call builds
under a lock, so threads that race it wait and all get the library;
later calls read the cached result without locking.  Processes that
race share the cache through atomic renames.

``KENLM_SPARK_NATIVE=0`` disables every kernel (the A/B tests use it).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import subprocess
import tempfile
import threading

_libs: dict[tuple[str, str], ctypes.CDLL | None] = {}
_lock = threading.Lock()


def load(package: str, name: str, symbols: dict, selftest=None):
    """The ``CDLL`` for ``package``'s ``<name>.c`` with each
    ``symbols`` entry's ``restype`` set, or ``None`` for the fallback.
    ``selftest(lib) -> bool`` runs once before the library is handed
    out; False means fallback."""
    key = (package, name)
    if key not in _libs:
        with _lock:
            if key not in _libs:
                _libs[key] = _build(package, name, symbols, selftest)
    return _libs[key]


def _build(package, name, symbols, selftest):
    if os.environ.get("KENLM_SPARK_NATIVE", "1") == "0":
        return None
    try:
        so = _compile(pkgutil.get_data(package, f"{name}.c"), name)
        if so is None:
            return None
        lib = ctypes.CDLL(so)
        for sym, restype in symbols.items():
            getattr(lib, sym).restype = restype
        if selftest is not None and not selftest(lib):
            return None
        return lib
    except Exception:
        return None


def _compile(src: bytes, name: str) -> str | None:
    tag = hashlib.sha256(src).hexdigest()[:16]
    cache = os.path.join(tempfile.gettempdir(), "kenlm_spark_native")
    os.makedirs(cache, exist_ok=True)
    so = os.path.join(cache, f"{name}_{tag}.so")
    if os.path.exists(so):
        return so
    tmp = so + f".{os.getpid()}.tmp"
    # the copy keeps the file's basename, which the .so records
    c_path = os.path.join(cache, tag, f"{name}.c")
    os.makedirs(os.path.dirname(c_path), exist_ok=True)
    with open(tmp + ".c", "wb") as fh:
        fh.write(src)
    os.replace(tmp + ".c", c_path)
    for cc in ("cc", "gcc", "clang", "g++"):
        try:
            r = subprocess.run(
                [cc, "-O3", "-fPIC", "-shared", "-o", tmp, c_path, "-lm"],
                capture_output=True,
                timeout=120,
            )
        except (OSError, subprocess.TimeoutExpired):
            continue
        if r.returncode == 0:
            os.replace(tmp, so)  # atomic vs concurrent builders
            return so
    return None
