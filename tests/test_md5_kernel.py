"""Batch md5 kernel (functions/md5_kernel.py): C path vs hashlib."""

import hashlib
import random
import string

import numpy as np

from kenlm_spark.functions import md5_kernel
from kenlm_spark.functions.md5_kernel import (
    h60_bytes_batch,
    h60_salted_bytes_batch,
)


def _ref(msgs):
    return [int(hashlib.md5(m).hexdigest()[:15], 16) for m in msgs]


def test_h60_batch_matches_hashlib_randomized():
    rng = random.Random(42)
    msgs = [
        "".join(
            rng.choices(string.printable + "éü∂", k=rng.randint(0, 200))
        ).encode()
        for _ in range(2000)
    ]
    # every padding boundary: messages of length 0..130 exactly
    msgs += [b"y" * n for n in range(131)]
    assert list(h60_bytes_batch(msgs)) == _ref(msgs)


def test_h60_salted_matches_hashlib():
    rng = random.Random(7)
    msgs = [
        " ".join(
            "".join(rng.choices(string.ascii_lowercase, k=5))
            for _ in range(3)
        ).encode()
        for _ in range(300)
    ]
    prefixes = [b""] + [f"{i}:".encode() for i in range(16)]
    got = h60_salted_bytes_batch(msgs, prefixes)
    for i, m in enumerate(msgs):
        for j, p in enumerate(prefixes):
            assert got[i, j] == int(
                hashlib.md5(p + m).hexdigest()[:15], 16
            )


def test_fallback_path_identical(monkeypatch):
    msgs = [b"", b"abc", b"x" * 100]
    native = list(h60_bytes_batch(msgs))
    monkeypatch.setattr(md5_kernel, "load", lambda: None)
    assert list(h60_bytes_batch(msgs)) == native
    prefixes = [b"0:", b"1:"]
    want = h60_salted_bytes_batch(msgs, prefixes)
    assert isinstance(want, np.ndarray)
    assert want.shape == (3, 2)


def test_values_fit_int64():
    msgs = [b"a", b"b", b"c"]
    out = h60_bytes_batch(msgs)
    assert int(out.max()) < 2**60


def test_concurrent_calls_match_hashlib():
    """The kernel's tables are written once when the library loads, so
    threads calling it at once (ctypes drops the GIL) all read the same
    constants."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    msgs = [f"doc {i} ".encode() * (i % 40) for i in range(3000)]
    want = _ref(msgs)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futs = [pool.submit(h60_bytes_batch, msgs) for _ in range(32)]
            results = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert all(list(r) == want for r in results)
