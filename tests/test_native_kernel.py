"""Raw-bits A/B pinning of the compiled scorer kernel (score_kernel.c via
native_kernel.py) against the numpy score_batch sweep.

The kernel exists to close the single-thread gap vs the reference's
compiled binding (BENCH/BASELINE.md, kenlm_benchmark protocol); its
contract is BIT-identity with the numpy path — same float64 bits per
token, same longest-match orders, same OOV counts — across backoff
modes, bos/eos modes, the probing fast path AND the binary-search path,
big models and toy models.  Live correctness vs the compiled reference
is covered by scripts/diff_reference.py, which scores through whichever
path is active (native by default)."""

from __future__ import annotations

import pathlib
import sys

import numpy as np
import pytest

FIXTURES = pathlib.Path(__file__).parent / "fixtures"
sys.path.insert(0, str(pathlib.Path(__file__).parent.parent / "scripts"))


def _native_available() -> bool:
    from kenlm_spark.ngram.native_kernel import load

    return load() is not None


pytestmark = pytest.mark.skipif(
    not _native_available(), reason="no C compiler available"
)


def _ab_compare(m, sents, **kw):
    """score_batch numpy vs native, raw float64 bits — both the
    per-token path (return_tokens=True → NativeScorer.score) and the
    totals-only path (return_tokens=False → score_reduce, whose in-C
    per-sentence accumulation must reproduce np.bincount's bits)."""
    m._native_scorer = None  # force numpy
    a = m.score_batch(sents, return_tokens=True, **kw)
    ar = m.score_batch(sents, **kw)
    del m.__dict__["_native_scorer"]
    assert m._native() is not None
    b = m.score_batch(sents, return_tokens=True, **kw)
    br = m.score_batch(sents, **kw)
    assert np.array_equal(a[0].view(np.uint64), b[0].view(np.uint64)), kw
    assert np.array_equal(a[1], b[1]) and np.array_equal(a[2], b[2]), kw
    for x, y in zip(a[3], b[3]):
        xa, ya = np.asarray(x), np.asarray(y)
        if xa.dtype == np.float64:
            assert np.array_equal(xa.view(np.uint64), ya.view(np.uint64)), kw
        else:
            assert np.array_equal(xa, ya), kw
    assert np.array_equal(ar[0].view(np.uint64), br[0].view(np.uint64)), kw
    assert np.array_equal(ar[1], br[1]) and np.array_equal(ar[2], br[2]), kw


def _random_sents(m, n, seed, max_len=30):
    rng = np.random.Generator(np.random.PCG64(seed))
    return [
        rng.integers(0, m.vocab_size, size=rng.integers(0, max_len)).astype(
            np.int64
        )
        for _ in range(n)
    ]


def test_native_bit_identical_toy_all_modes():
    """Toy fixture (below the probing threshold → binary-search path in
    C), every bos/eos/stupid combination, OOV ids included."""
    from kenlm_spark.ngram.arpa import load_arpa

    m = load_arpa(str(FIXTURES / "test.arpa"))
    sents = _random_sents(m, 400, seed=11)
    for stupid in (False, True):
        for bos in (True, False):
            for eos in (True, False):
                _ab_compare(
                    m, sents, bos=bos, eos=eos, stupid_backoff=stupid
                )


def test_native_bit_identical_big_model_probing():
    """24k-bigram random model — past _PROBING_MIN_KEYS, so the C kernel
    probes the same open-addressing tables as the numpy fast path."""
    from diff_reference import write_big_random_arpa

    from kenlm_spark.ngram.arpa import load_arpa
    from kenlm_spark.ngram.model import _PROBING_MIN_KEYS

    path = "/tmp/native_ab_big.arpa"
    write_big_random_arpa(path, seed=4242)
    m = load_arpa(path)
    assert len(m.keys[2]) >= _PROBING_MIN_KEYS
    sents = _random_sents(m, 600, seed=12, max_len=20)
    _ab_compare(m, sents, bos=True, eos=True, stupid_backoff=False)
    _ab_compare(m, sents, bos=False, eos=True, stupid_backoff=True)
    assert m._ptables.get(2) is not None, "probing tables not engaged"


def test_native_bit_identical_nounk_fixture():
    """The no-<unk> fixture exercises the synthesized-unknown path."""
    from kenlm_spark.ngram.arpa import load_arpa

    m = load_arpa(str(FIXTURES / "test_nounk.arpa"))
    sents = _random_sents(m, 300, seed=13)
    _ab_compare(m, sents, bos=True, eos=True, stupid_backoff=False)


def test_native_scorer_not_pickled():
    """Broadcast contract: ctypes handles never ship; each executor
    process rebuilds from the cached .so."""
    import pickle

    from kenlm_spark.ngram.arpa import load_arpa

    m = load_arpa(str(FIXTURES / "test.arpa"))
    assert m._native() is not None
    m2 = pickle.loads(pickle.dumps(m))
    assert "_native_scorer" not in m2.__dict__
    # and the restored model scores identically (rebuilding lazily)
    sents = _random_sents(m, 50, seed=14)
    a, _, _ = m.score_batch(sents)
    b, _, _ = m2.score_batch(sents)
    assert np.array_equal(a.view(np.uint64), b.view(np.uint64))


def test_native_disabled_by_env(monkeypatch):
    """KENLM_SPARK_NATIVE=0 must force the numpy path (used for A/B)."""
    import kenlm_spark.ngram.native_kernel as nk
    from kenlm_spark import native

    monkeypatch.setenv("KENLM_SPARK_NATIVE", "0")
    monkeypatch.setattr(native, "_libs", {})
    assert nk.load() is None


def test_score_id_stream_matches_score_batch():
    """score_id_stream (vectorized flat-build over an EOS-delimited
    stream, benchmark_cli's hot path) must reproduce split+score_batch
    raw bits — including empty sentences (consecutive EOS), a trailing
    fragment, and a no-EOS stream — on BOTH the native and numpy paths."""
    from kenlm_spark.ngram.arpa import load_arpa

    m = load_arpa(str(FIXTURES / "test.arpa"))
    eos = m.eos_id
    rng = np.random.Generator(np.random.PCG64(21))

    def make_stream(n_sent, frag):
        parts = []
        sents = []
        for _ in range(n_sent):
            body = rng.integers(0, m.vocab_size, size=rng.integers(0, 9))
            body = body[body != eos]
            sents.append(body.astype(np.int64))
            parts.append(np.append(body, eos))
        tail = None
        if frag:
            tail = rng.integers(1, m.vocab_size, size=5)
            tail = tail[tail != eos].astype(np.int64)
            parts.append(tail)
        stream = (
            np.concatenate(parts).astype(np.int64)
            if parts
            else np.empty(0, np.int64)
        )
        return stream, sents, tail

    for n_sent, frag in ((40, False), (40, True), (0, True), (1, False)):
        stream, sents, tail = make_stream(n_sent, frag)
        for native in (True, False):
            if native:
                m.__dict__.pop("_native_scorer", None)
                assert m._native() is not None
            else:
                m._native_scorer = None
            got_s, got_o, got_n = m.score_id_stream(stream)
            exp_parts = []
            if sents:
                exp_parts.append(m.score_batch(sents, bos=True, eos=True))
            if tail is not None and len(tail):
                exp_parts.append(m.score_batch([tail], bos=True, eos=False))
            exp_s = np.concatenate([p[0] for p in exp_parts])
            exp_o = np.concatenate([p[1] for p in exp_parts])
            exp_n = np.concatenate([p[2] for p in exp_parts])
            assert np.array_equal(
                got_s.view(np.uint64), exp_s.view(np.uint64)
            ), (n_sent, frag, native)
            assert np.array_equal(got_o, exp_o), (n_sent, frag, native)
            assert np.array_equal(got_n, exp_n), (n_sent, frag, native)


def test_score_eos_stream_total_matches():
    """The zero-construction raw-stream walk (score_id_stream_total via
    score_eos_stream) must agree with score_id_stream's per-sentence
    sums to sequential-vs-grouped rounding (and exactly here)."""
    from kenlm_spark.ngram.arpa import load_arpa

    m = load_arpa(str(FIXTURES / "test.arpa"))
    eos = m.eos_id
    rng = np.random.Generator(np.random.PCG64(31))
    parts = []
    for _ in range(500):
        b = rng.integers(0, m.vocab_size, size=rng.integers(0, 9))
        parts.append(np.append(b[b != eos], eos))
    parts.append(np.array([3, 4, 5]))  # trailing fragment
    ids = np.concatenate(parts).astype(np.int64)
    for stupid in (False, True):
        m.__dict__.pop("_native_scorer", None)
        assert m._native() is not None
        t_native = m.score_id_stream_total(ids, stupid_backoff=stupid)
        s, _, _ = m.score_id_stream(ids, stupid_backoff=stupid)
        t_batch = float(np.sum(s))
        assert abs(t_native - t_batch) <= 1e-9 * abs(t_batch), stupid


def test_native_rejects_out_of_range_ids():
    """Out-of-range / negative ids must raise (the numpy path's
    IndexError behavior), never reach the C kernel (segfault class)."""
    from kenlm_spark.ngram.arpa import load_arpa

    m = load_arpa(str(FIXTURES / "test.arpa"))
    assert m._native() is not None
    for bad in (m.vocab_size, -1):
        sents = [np.array([1, 2, bad], dtype=np.int64)]
        with pytest.raises(IndexError):
            m.score_batch(sents)
        with pytest.raises(IndexError):
            m.score_id_stream_total(sents[0])


def test_fused_caption_scorer_matches_legacy():
    """The fused C caption path (tokenize + murmur vocab + score in one
    pass, scorer._score_frame fast path) must be bitwise-equal to the
    legacy regex-split + dict-map + score_batch path — including
    multibyte UTF-8, runs of every delimiter, empty/None captions,
    literal specials, and captions longer than the model order."""
    import pandas as pd

    from kenlm_spark.ngram.arpa import load_arpa
    from kenlm_spark.ngram.scorer import _score_frame

    m = load_arpa(str(FIXTURES / "test.arpa"))
    vocab_words = [w for w in m.vocab if w not in ("<s>",)]
    rng = np.random.Generator(np.random.PCG64(77))
    rows = []
    for _ in range(300):
        k = int(rng.integers(0, 12))
        words = [
            vocab_words[int(rng.integers(0, len(vocab_words)))]
            if rng.random() < 0.7
            else rng.choice(["zzz", "héllo", "日本語", "a.b,c", "<unk>"])
            for _ in range(k)
        ]
        sep = rng.choice([" ", "  ", "\t", "\n", " \r ", "\x00"])
        rows.append(sep.join(words))
    rows += ["", None, "   ", "\t\n\r\x00", "x " * 500]
    texts = pd.Series(rows)
    for stupid in (False, True):
        m._native_scorer = None
        a = _score_frame(m, texts, stupid, 1 << 19)
        del m.__dict__["_native_scorer"]
        assert m._native() is not None
        assert m._native()._ensure_vocab_table(m)
        b = _score_frame(m, texts, stupid, 1 << 19)
        for col in a.columns:
            av, bv = a[col].to_numpy(), b[col].to_numpy()
            if av.dtype == np.float64:
                assert np.array_equal(
                    av.view(np.uint64), bv.view(np.uint64)
                ), (col, stupid)
            else:
                assert np.array_equal(av, bv), (col, stupid)


def test_kernels_compile_from_pyfiles_zip(tmp_path):
    """Executors that import the package from a --py-files zip get both
    compiled kernels, not the numpy/hashlib fallback: the zip carries
    the C sources and the loaders read them through the import system."""
    import json
    import os
    import subprocess

    from bench_scaling import make_pyfiles_zip

    zip_path = make_pyfiles_zip(str(tmp_path / "pkg.zip"))
    env = {**os.environ, "PYTHONPATH": zip_path, "TMPDIR": str(tmp_path)}
    env.pop("KENLM_SPARK_NATIVE", None)
    code = (
        "import json, kenlm_spark\n"
        "from kenlm_spark.functions import md5_kernel\n"
        "from kenlm_spark.ngram import native_kernel\n"
        "print(json.dumps([kenlm_spark.__file__,"
        " native_kernel.load() is not None,"
        " md5_kernel.load() is not None]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    origin, score, md5 = json.loads(out.stdout.strip().splitlines()[-1])
    assert origin.startswith(zip_path)
    assert (score, md5) == (True, True)
