"""filter_cli: the lm/filter tool twin over the oracle-green filter
operators (the reference binary needs boost and can't be compiled here;
semantics are pinned by the q_filter_* oracle queries instead)."""

import os

import pytest

from kenlm_spark.filter_cli import main
from kenlm_spark.ngram.arpa import load_arpa

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
ARPA = os.path.join(FIX, "test.arpa")


def _grams(path):
    from kenlm_spark.oracle import arpa_ngram_rows

    return {(n, g) for n, g, _, _ in arpa_ngram_rows(path)}


def test_copy_roundtrip(tmp_path, spark):
    out = str(tmp_path / "copy.arpa")
    assert main(["copy", ARPA, out]) == 0
    assert _grams(out) == _grams(ARPA)
    assert load_arpa(out).score("looking on a little more loin") == load_arpa(
        ARPA
    ).score("looking on a little more loin")


def test_single_mode(tmp_path, spark):
    voc = tmp_path / "v.txt"
    voc.write_text("looking on a little more loin")
    out = str(tmp_path / "single.arpa")
    assert main(["single", f"vocab:{voc}", ARPA, out]) == 0
    m = load_arpa(out)
    # exactly the sentence words + specials (tags always pass)
    assert set(m.vocab) == {
        "<unk>", "<s>", "</s>",
        "looking", "on", "a", "little", "more", "loin",
    }
    # the filtered model still scores the in-vocab sentence identically
    assert m.score("looking on a little more loin") == load_arpa(ARPA).score(
        "looking on a little more loin"
    )


def test_context_modifier_keeps_more(tmp_path, spark):
    """context: only all-but-last must pass, so grams whose LAST word is
    out-of-vocab survive — strictly more grams than plain single."""
    voc = tmp_path / "v.txt"
    voc.write_text("looking on a little more")
    plain, ctx = str(tmp_path / "p.arpa"), str(tmp_path / "c.arpa")
    assert main(["single", f"vocab:{voc}", ARPA, plain]) == 0
    assert main(["context", "single", f"vocab:{voc}", ARPA, ctx]) == 0
    gp, gc = _grams(plain), _grams(ctx)
    assert gp < gc
    assert (5, "on a little more loin") in gc  # loin OOV but is the LAST word
    assert (5, "on a little more loin") not in gp


def test_union_vs_multiple(tmp_path, spark):
    voc = tmp_path / "s.txt"
    voc.write_text("looking on a little more loin\nscreening on considering\n")
    u = str(tmp_path / "u.arpa")
    m = str(tmp_path / "m")
    assert main(["union", f"vocab:{voc}", ARPA, u]) == 0
    assert main(["multiple", f"vocab:{voc}", ARPA, m]) == 0
    gu = _grams(u)
    g0, g1 = _grams(m + "0"), _grams(m + "1")
    assert g0 | g1 == gu  # union mode == union of multiple-mode outputs
    assert (1, "screening") in g1 and (1, "screening") not in g0
    # union is narrower than single on the union vocabulary: "looking
    # screening" (if it existed) would need BOTH sentences; check a real
    # cross-sentence bigram is excluded
    assert not any(
        g for n, g in gu
        if n == 2 and "screening" in g.split() and "little" in g.split()
    )


def test_phrase_modifier(tmp_path, spark):
    voc = tmp_path / "p.txt"
    voc.write_text("looking on\na little more loin\n")
    out = str(tmp_path / "ph.arpa")
    assert main(["phrase", "union", f"vocab:{voc}", ARPA, out]) == 0
    g = _grams(out)
    assert (2, "looking on") in g            # one whole phrase
    assert (3, "on a little") in g           # phrase suffix + phrase prefix
    assert (2, "more loin") in g             # inside one phrase
    assert (2, "biarritz ,") not in g


def test_bad_args(tmp_path):
    assert main(["bogus", ARPA, "x"]) == 2
    assert main(["union", ARPA, "x"]) == 2  # missing vocab:


def test_raw_count_format(tmp_path, spark):
    """raw modifier: count-file lines (w1 w2<TAB>count, count_io.hh)
    filter through the same modes and pass through verbatim."""
    counts = tmp_path / "counts.txt"
    counts.write_text(
        "looking on\t5\non a\t4\na little\t3\nbiarritz ,\t2\nmore loin\t7\n"
    )
    voc = tmp_path / "v.txt"
    voc.write_text("looking on a little more loin")
    out = str(tmp_path / "filtered.txt")
    assert main(["raw", "single", f"vocab:{voc}", str(counts), out]) == 0
    lines = set(open(out).read().splitlines())
    assert lines == {"looking on\t5", "on a\t4", "a little\t3", "more loin\t7"}
    # copy mode round-trips the raw file
    out2 = str(tmp_path / "copy.txt")
    assert main(["raw", "copy", str(counts), out2]) == 0
    assert set(open(out2).read().splitlines()) == set(
        counts.read_text().splitlines()
    )


@pytest.mark.parametrize("broken", [
    ("\\2-grams:", "\\3-grams:"),  # a section header that does not match
    ("\\end\\", ""),  # no \end\ line
])
def test_malformed_model_raises(tmp_path, broken):
    """The model is read through the loader's line grammar: a bad section
    header or a missing \\end\\ raises instead of being misparsed."""
    from kenlm_spark.ngram.arpa import ArpaFormatError

    bad = tmp_path / "bad.arpa"
    bad.write_text(open(ARPA).read().replace(*broken))
    with pytest.raises(ArpaFormatError):
        main(["copy", str(bad), str(tmp_path / "out.arpa")])


def test_malformed_header_raises_under_optimize(tmp_path):
    """``python -O`` strips assert statements; the header check must hold
    there too."""
    import subprocess
    import sys

    bad = tmp_path / "bad.arpa"
    bad.write_text(open(ARPA).read().replace("\\2-grams:", "\\3-grams:"))
    run = subprocess.run(
        [sys.executable, "-O", "-m", "kenlm_spark.filter_cli", "copy",
         str(bad), str(tmp_path / "out.arpa")],
        capture_output=True, text=True,
        cwd=os.path.join(os.path.dirname(__file__), ".."),
    )
    assert run.returncode != 0
    assert "ArpaFormatError" in run.stderr
    assert not (tmp_path / "out.arpa").exists()
