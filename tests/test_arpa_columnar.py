"""The columnar ARPA loader against the line-at-a-time reference loader
(``tests/oracle_arpa.py``): same vocabulary, and the same bytes in every
array, so the sign of every zero counts. Also the grammar's errors."""

import bz2
import gzip
import io
import lzma
import os
import random
import sys
import warnings
from collections import Counter
from pathlib import Path

import numpy as np
import pytest

from kenlm_spark.ngram import arpa
from kenlm_spark.ngram.arpa import ArpaFormatError, load_arpa, loads_arpa
from kenlm_spark.ngram.hashing import ngram_key

from . import oracle_arpa

FIXTURES = Path(__file__).parent / "fixtures"
ARPAS = sorted(FIXTURES.glob("*.arpa"))


def assert_identical(got, want):
    assert got.order == want.order
    assert list(got.vocab.items()) == list(want.vocab.items())
    for name in ("uni_prob", "uni_backoff", "uni_extends", "uni_rest"):
        a, b = getattr(got, name), getattr(want, name)
        assert (a is None) == (b is None), name
        if a is not None:
            assert a.dtype == b.dtype and a.tobytes() == b.tobytes(), name
    for name in ("keys", "probs", "backoffs", "extends", "rests"):
        a, b = getattr(got, name), getattr(want, name)
        assert (a is None) == (b is None), name
        if a is None:
            continue
        assert list(a) == list(b), name
        for n in a:
            assert a[n].dtype == b[n].dtype, (name, n)
            assert a[n].shape == b[n].shape, (name, n)
            assert a[n].tobytes() == b[n].tobytes(), (name, n)


def assert_same_outcome(text, **kw):
    """Both loaders load ``text`` to identical models, or both reject it
    (the reference raises a bare ValueError for a bad number)."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        try:
            want = oracle_arpa.loads_arpa(text, **kw)
        except ValueError:
            with pytest.raises(ArpaFormatError):
                loads_arpa(text, **kw)
            return False
        assert_identical(loads_arpa(text, **kw), want)
    return True


@pytest.mark.parametrize("path", ARPAS, ids=lambda p: p.name)
@pytest.mark.parametrize("rest", [False, True])
@pytest.mark.parametrize("unknown_logprob", [None, -50])
def test_fixtures(path, rest, unknown_logprob):
    kw = {"rest": rest, "unknown_logprob": unknown_logprob}
    assert_identical(load_arpa(str(path), **kw),
                     oracle_arpa.load_arpa(str(path), **kw))


def _rewrite(text, rng, kind):
    """``text`` with its n-gram lines transformed by ``kind``."""
    sections, n = {}, None
    for line in text.split("\n"):
        if line.endswith("-grams:"):
            n = int(line[1:line.index("-")])
            sections[n] = []
        elif line.startswith("\\"):
            n = None
        elif n and line.strip():
            sections[n].append(line)

    def line_of(line):
        parts = line.split("\t")
        if kind == "srilm" and len(parts) == 3 and float(parts[2]) == 0.0:
            return "\t".join(parts[:2])  # zero backoffs left out
        if kind == "zeros" and rng.random() < 0.3:
            parts[0] = rng.choice(["-0.0", "0", "-0"])
        if kind == "zeros" and len(parts) == 3 and rng.random() < 0.3:
            parts[2] = rng.choice(["-0.0", "0"])
        return (" " if kind == "spaces" else "\t").join(parts)

    for n, lines in sections.items():
        if kind.startswith("prune") and n > 1:
            # contexts and suffixes go missing: some contexts then exist
            # only as blanks, and file order decides whether they count
            lines = [ln for ln in lines if rng.random() > 0.25]
        if kind.endswith("shuffle"):
            rng.shuffle(lines)
        sections[n] = [line_of(ln) for ln in lines]
    head = "".join(f"ngram {n}={len(v)}\n" for n, v in sections.items())
    body = "".join(f"\n\\{n}-grams:\n" + "".join(ln + "\n" for ln in v)
                   for n, v in sections.items())
    return f"\\data\\\n{head}{body}\n\\end\\\n"


KINDS = ("plain", "shuffle", "srilm", "zeros", "spaces", "prune",
         "prune-shuffle")


def test_random_models(tmp_path):
    """200 seeded random models (suffix holes, ±0.0 backoffs, a missing
    <unk>, orders up to 5), each also rewritten: lines shuffled per
    section, zero backoffs left out, literal ±0 weights, the
    space-separated producer form, and lines pruned (with and without a
    shuffle) so that contexts exist only as blanks."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from diff_reference import random_arpa, random_arpa_deep

    rng = random.Random(5)
    loaded = Counter()
    for i in range(200):
        path = str(tmp_path / f"r{i}.arpa")
        (random_arpa_deep if i % 2 else random_arpa)(rng, path)
        text = Path(path).read_text()
        assert_identical(load_arpa(path), oracle_arpa.load_arpa(path))
        for kind in KINDS:
            variant = _rewrite(text, rng, kind)
            loaded[kind] += assert_same_outcome(variant, rest=kind != "spaces")
        assert_same_outcome(text, unknown_logprob=-50, rest=True)
    # every plain rewrite loads; a pruned one often lacks a context
    assert all(loaded[k] == 200 for k in KINDS[:5]), loaded
    assert min(loaded["prune"], loaded["prune-shuffle"]) >= 20, loaded


ODD_WORDS = ["a", "b", "<s>", "</s>", "ü", "日本", "x\x0by", "c\xa0d", "<UNK>",
             "<unk>", ""]
ODD_NUMBERS = ["-1.5", " -1.5", "-1.5 ", "-0", "0", "0.5", "nan", "-inf", "inf",
               "-1_0", "-1e-3", "abc", "", "-\u0663", "+2"]


def test_odd_lines():
    """Small models whose lines mix odd words, number spellings Arrow does
    not read (``-1_0``, Arabic-Indic digits, padded fields), doubled
    spaces, stray tabs, the space form and CRLF: both loaders agree, or
    both reject."""
    rng = random.Random(7)

    def line(n):
        words = [rng.choice(ODD_WORDS) for _ in range(n)]
        prob, backoff = rng.choice(ODD_NUMBERS), rng.choice(ODD_NUMBERS)
        sep = rng.choice([" ", " ", " ", "  ", "\t"])
        return rng.choice([
            f"{prob}\t{sep.join(words)}\t{backoff}",
            f"{prob}\t{sep.join(words)}",
            " ".join([prob, *words, backoff]),
            f"{prob}\t{' '.join(words)}\t{backoff}\t",
        ])

    loaded = 0
    for _ in range(600):
        unigrams = [f"{rng.choice(ODD_NUMBERS[:5])}\t{w}\t-0.5"
                    for w in rng.sample(ODD_WORDS, rng.randint(1, 6))]
        sections = [unigrams] + [[line(n) for _ in range(rng.randint(1, 5))]
                                 for n in range(2, rng.randint(1, 3) + 1)]
        if rng.random() < 0.3:
            sections[0] = [line(1) for _ in unigrams]
        text = "\\data\\\n" + "".join(
            f"ngram {n}={len(s)}\n" for n, s in enumerate(sections, 1)
        ) + "".join(
            f"\n\\{n}-grams:\n"
            + "".join(ln + rng.choice(["\n", "\r\n"]) for ln in s)
            for n, s in enumerate(sections, 1)
        ) + "\n\\end\\\n"
        loaded += assert_same_outcome(text, rest=True)
    assert loaded >= 100


def test_compressed_copies(tmp_path):
    src = (FIXTURES / "test.arpa").read_bytes()
    want = oracle_arpa.load_arpa(str(FIXTURES / "test.arpa"))
    for name, pack in (("gz", gzip.compress), ("bz2", bz2.compress),
                       ("xz", lzma.compress)):
        path = tmp_path / f"m.{name}"
        path.write_bytes(pack(src))
        assert_identical(load_arpa(str(path)), want)


def test_crlf_line_endings(tmp_path):
    text = (FIXTURES / "test.arpa").read_text().replace("\n", "\r\n")
    assert assert_same_outcome(text)
    path = tmp_path / "crlf.arpa"
    path.write_bytes(text.encode())
    assert_identical(load_arpa(str(path)),
                     oracle_arpa.load_arpa(str(FIXTURES / "test.arpa")))


def test_space_separated_form():
    text = (FIXTURES / "test.arpa").read_text()
    spaced = "\n".join(
        " ".join(line.split("\t")) if "\t" in line else line
        for line in text.split("\n")
    )
    assert "\t" not in spaced
    assert assert_same_outcome(spaced)
    assert_identical(loads_arpa(spaced), loads_arpa(text))


HEADER = "\\data\\\nngram 1=3\nngram 2=2\n\n"
UNIGRAMS = "\\1-grams:\n-1.0\t<s>\t-0.5\n-1.5\ta\t-0.25\n-2.0\tb\n\n"
BIGRAMS = "\\2-grams:\n-0.5\t<s> a\n-0.75\ta b\n\n"
GOOD = HEADER + UNIGRAMS + BIGRAMS + "\\end\\\n"

# rejected by the line grammar itself
MALFORMED = {
    "missing data": GOOD.replace("\\data\\\n", ""),
    "non-contiguous orders": GOOD.replace("ngram 2=2", "ngram 3=2"),
    "fewer lines than counted": GOOD.replace("ngram 2=2", "ngram 2=3"),
    "more lines than counted": GOOD.replace("ngram 2=2", "ngram 2=1"),
    "wrong word count": GOOD.replace("-0.75\ta b", "-0.75\ta b a"),
    "non-finite backoff": GOOD.replace("-0.25", "inf"),
    "missing end": GOOD.replace("\\end\\\n", ""),
    "bad count line": GOOD.replace("ngram 1=3", "ngram 1=x"),
    "bad prob": GOOD.replace("-0.5\t<s> a", "abc\t<s> a"),
    "too many tabs": GOOD.replace("-0.75\ta b", "-0.75\ta b\t-0.1\t-0.2"),
}
# well-formed lines that do not make a model
INCONSISTENT = {
    "word not in unigrams": GOOD.replace("-0.75\ta b", "-0.75\ta c"),
    "missing context": HEADER.replace("ngram 2=2", "ngram 2=2\nngram 3=1")
    + UNIGRAMS + BIGRAMS + "\\3-grams:\n-0.1\tb a b\n\n\\end\\\n",
    "duplicate unigram": GOOD.replace("-2.0\tb", "-2.0\ta"),
}


def test_good_model_loads():
    assert assert_same_outcome(GOOD)


def test_repeated_ngram_line_last_wins():
    text = GOOD.replace("ngram 2=2", "ngram 2=3").replace(
        "-0.75\ta b\n", "-0.75\ta b\n-0.125\ta b\n"
    )
    assert assert_same_outcome(text)
    m = loads_arpa(text)
    key = np.uint64(ngram_key([m.vocab["a"], m.vocab["b"]]))
    assert m.probs[2][np.searchsorted(m.keys[2], key)] == np.float32(-0.125)
    # a large section, so that an unstable sort would reorder the repeats
    rng = random.Random(3)
    words = [f"w{i}" for i in range(60)]
    lines = [f"-{rng.randint(1, 999) / 100}\t{a} {b}"
             for a in words for b in words for _ in range(3)]
    rng.shuffle(lines)
    text = (f"\\data\\\nngram 1={len(words)}\nngram 2={len(lines)}\n\n\\1-grams:\n"
            + "".join(f"-1.5\t{w}\t-0.5\n" for w in words)
            + "\n\\2-grams:\n" + "\n".join(lines) + "\n\n\\end\\\n")
    assert assert_same_outcome(text)


def test_nan_weights():
    """Python's ``float`` decides what a number is, NaN sign included."""
    for nan in ("nan", "-nan", "NaN"):
        assert assert_same_outcome(GOOD.replace("-0.75\ta b", f"{nan}\ta b"),
                                   rest=True)
    with pytest.raises(ArpaFormatError):
        loads_arpa(GOOD.replace("-0.75\ta b", "nan(1)\ta b"))


@pytest.mark.parametrize("case", sorted(MALFORMED))
def test_malformed_input_raises(case):
    with pytest.raises(ArpaFormatError):
        loads_arpa(MALFORMED[case])
    with pytest.raises(ArpaFormatError):
        list(arpa.arpa_sections(io.StringIO(MALFORMED[case])))


@pytest.mark.parametrize("case", sorted(INCONSISTENT))
def test_inconsistent_model_raises(case):
    list(arpa.arpa_sections(io.StringIO(INCONSISTENT[case])))
    with pytest.raises(ArpaFormatError):
        loads_arpa(INCONSISTENT[case])
    with pytest.raises(ArpaFormatError):
        oracle_arpa.loads_arpa(INCONSISTENT[case])


def test_positive_prob_clamped_with_warning():
    text = GOOD.replace("-1.5\ta", "0.5\ta")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        m = loads_arpa(text)
    assert any("clamped" in str(w.message) for w in caught)
    assert m.uni_prob[m.word_id("a")].tobytes() == np.float32(0.0).tobytes()
