"""Reference ARPA loader for the columnar loader's bit-identity test.

A verbatim copy of the line-at-a-time parser that
``kenlm_spark.ngram.arpa`` used before it became a columnar reader: one
``readline`` per n-gram, per-line suffix/context hashing, blanks and
activation through a dict of ``[prob, backoff, suffix]`` lists, and a
per-entry MaxRestBuild. It shares no code with the columnar loader except
the hash recurrence, the model class and the error type, so
``tests/test_arpa_columnar.py`` can require byte-equal arrays.
"""

from __future__ import annotations

import gzip
import io
import warnings

import numpy as np

from kenlm_spark.ngram.arpa import ArpaFormatError
from kenlm_spark.ngram.hashing import combine_word_hash
from kenlm_spark.ngram.model import UNK, UNKNOWN_MISSING_LOGPROB, NGramModel

NEG_ZERO = np.float32(-0.0)
POS_ZERO = np.float32(0.0)

# Entry slots: [prob, backoff, suffix_key_of_order_m_minus_1]
_PROB, _BACKOFF, _SUFFIX = 0, 1, 2


def _open(path: str):
    """Transparent decompression by magic bytes, like the reference's
    util/read_compressed.cc (gzip/bzip2/xz) — extension-agnostic."""
    with open(path, "rb") as probe:
        magic = probe.read(6)
    if magic[:2] == b"\x1f\x8b":
        return io.TextIOWrapper(gzip.open(path, "rb"), encoding="utf-8")
    if magic[:3] == b"BZh":
        import bz2

        return io.TextIOWrapper(bz2.open(path, "rb"), encoding="utf-8")
    if magic == b"\xfd7zXZ\x00":
        import lzma

        return io.TextIOWrapper(lzma.open(path, "rb"), encoding="utf-8")
    return open(path, encoding="utf-8")


def load_arpa(path: str, rest: bool = False,
              unknown_logprob: float | None = None) -> NGramModel:
    with _open(path) as f:
        return parse_arpa(f, rest=rest, unknown_logprob=unknown_logprob)


def loads_arpa(text: str, rest: bool = False,
               unknown_logprob: float | None = None) -> NGramModel:
    return parse_arpa(io.StringIO(text), rest=rest,
                      unknown_logprob=unknown_logprob)


def parse_arpa(f, rest: bool = False,
               unknown_logprob: float | None = None) -> NGramModel:  # noqa: C901 - mirrors the reference loader
    """``unknown_logprob`` overrides the -100 substituted for a missing
    ``<unk>`` (build_binary's -u / Config::unknown_missing_logprob)."""
    # --- \data\ header (lm/read_arpa.cc:47-86)
    line = f.readline()
    while line and line.strip() == "":
        line = f.readline()
    if line.strip() != "\\data\\":
        raise ArpaFormatError(f"expected \\data\\ header, got {line!r}")
    counts: list[int] = []
    while True:
        line = f.readline().strip()
        if not line:
            break
        if not line.startswith("ngram "):
            raise ArpaFormatError(f"bad count line {line!r}")
        order_s, count_s = line[len("ngram ") :].split("=")
        if int(order_s) != len(counts) + 1:
            raise ArpaFormatError("non-contiguous n-gram orders in header")
        counts.append(int(count_s))
    order = len(counts)
    if order < 1:
        raise ArpaFormatError("no n-gram counts")

    # --- unigrams
    _expect_header(f, 1)
    vocab: dict[str, int] = {UNK: 0}
    uni_rows: list[tuple[int, float, float]] = []  # (id, prob, backoff)
    saw_unk = False
    next_id = 1
    for _ in range(counts[0]):
        prob, words, backoff = _parse_ngram_line(f, 1)
        word = words[0]
        if word in (UNK, "<UNK>"):
            wid, saw_unk = 0, True
        else:
            if word in vocab:
                raise ArpaFormatError(f"duplicate unigram {word!r}")
            wid = next_id
            vocab[word] = wid
            next_id += 1
        uni_rows.append((wid, prob, backoff))

    vocab_size = next_id
    uni_prob = np.zeros(vocab_size, dtype=np.float32)
    uni_backoff = np.full(vocab_size, NEG_ZERO, dtype=np.float32)
    if not saw_unk:
        uni_prob[0] = (
            UNKNOWN_MISSING_LOGPROB
            if unknown_logprob is None
            else np.float32(unknown_logprob)
        )  # lm/model.cc:121-126 / build_binary -u
        uni_backoff[0] = POS_ZERO
    for wid, prob, backoff in uni_rows:
        uni_prob[wid] = prob
        uni_backoff[wid] = backoff

    # --- orders 2..N with blank materialization + activation
    # tables[n]: key -> [prob, backoff, suffix_key]  (suffix_key = key of the
    # last n-1 words; for n == 2 that is the last word id)
    tables: dict[int, dict[int, list]] = {n: {} for n in range(2, order + 1)}

    def activate(m: int, ctx_key: int, required: bool) -> None:
        """SetExtension on the order-m entry that is a context.

        lm/search_hashed.cc:23-55; for real n-grams a missing context is a
        format error ("The context of every n-gram should appear as an
        (n-1)-gram").
        """
        if m == 1:
            if np.signbit(uni_backoff[ctx_key]) and uni_backoff[ctx_key] == 0.0:
                uni_backoff[ctx_key] = POS_ZERO
            return
        ent = tables[m].get(ctx_key)
        if ent is None:
            if required:
                raise ArpaFormatError(
                    f"the context of every {m + 1}-gram should appear as a {m}-gram"
                )
            return
        if ent[_BACKOFF] == 0.0 and np.signbit(np.float32(ent[_BACKOFF])):
            ent[_BACKOFF] = float(POS_ZERO)

    for n in range(2, order + 1):
        _expect_header(f, n)
        table = tables[n]
        for _ in range(counts[n - 1]):
            prob, words, backoff = _parse_ngram_line(f, n)
            ids = []
            for w in words:
                wid = vocab.get(w, 0)
                if wid == 0 and w not in (UNK, "<UNK>"):
                    raise ArpaFormatError(
                        f"word {w!r} not in unigrams but appears in a {n}-gram"
                    )
                ids.append(wid)

            # Suffix keys: skeys[m] = key of the last m words, m in 2..n.
            skeys = {1: ids[-1]}
            h = ids[-1]
            for m in range(2, n + 1):
                h = combine_word_hash(h, ids[n - m])
                skeys[m] = h
            table[skeys[n]] = [prob, backoff, skeys[n - 1]]

            # FindLower (lm/search_hashed.cc:57-78): find longest existing
            # proper suffix; hallucinate blanks in between.
            basis = None
            blank_orders: list[int] = []
            for m in range(n - 1, 0, -1):
                if m == 1 or skeys[m] in tables[m]:
                    basis = m
                    break
                blank_orders.append(m)

            if blank_orders:
                # AdjustLower (lm/search_hashed.cc:81-133): chain probs up.
                # The reference accumulates in FLOAT32 (`float prob; prob
                # += backoff`), so every step rounds to float32 here too
                # — double accumulation drifts a ulp on multi-charge
                # chains, which the binary writers' byte-identity checks
                # catch.
                if basis == 1:
                    chain_prob = np.float32(uni_prob[ids[-1]])
                else:
                    chain_prob = np.float32(tables[basis][skeys[basis]][_PROB])
                # context keys: ckeys[m] = key of words[n-m-1 .. n-2]
                # (the length-m context of the (m+1)-suffix).
                ckeys = {1: ids[-2]}
                hh = ids[-2]
                for m in range(2, n):
                    hh = combine_word_hash(hh, ids[n - 1 - m])
                    ckeys[m] = hh
                for m in sorted(blank_orders):  # ascending: basis+1 .. n-1
                    cm = m - 1
                    if cm == 1:
                        bo = np.float32(uni_backoff[ckeys[1]])
                        activate(1, ckeys[1], required=False)
                        chain_prob = np.float32(chain_prob + bo)
                    else:
                        ent = tables[cm].get(ckeys[cm])
                        if ent is not None:
                            chain_prob = np.float32(
                                chain_prob + np.float32(ent[_BACKOFF])
                            )
                            activate(cm, ckeys[cm], required=False)
                    tables[m][skeys[m]] = [
                        float(chain_prob),
                        float(NEG_ZERO),
                        skeys[m - 1],
                    ]

            # Activation of this n-gram's own context (prefix of n-1 words),
            # ActivateUnigram / ActivateLowerMiddle.
            pkey = ids[n - 2]
            for j in range(n - 3, -1, -1):
                pkey = combine_word_hash(pkey, ids[j])
            activate(n - 1, pkey, required=True)

    _expect_end(f)

    # --- finalize: sorted arrays + extends flags (suffix closure)
    keys: dict[int, np.ndarray] = {}
    probs: dict[int, np.ndarray] = {}
    backoffs: dict[int, np.ndarray] = {}
    extends: dict[int, np.ndarray] = {}
    uni_extends = np.zeros(vocab_size, dtype=bool)
    suffix_sets: dict[int, set] = {m: set() for m in range(1, order)}
    for n in range(2, order + 1):
        for ent in tables[n].values():
            suffix_sets[n - 1].add(ent[_SUFFIX])
    for wid in suffix_sets.get(1, ()):
        uni_extends[wid] = True
    # --- REST_PROBING (MaxRestBuild, lm/value_build.hh:35-62): rest of an
    # entry = max(-|own prob|, rest of every n-gram that extends it left),
    # i.e. the max over the whole left-extension closure. Computed top-down
    # (order → 2) so each level is final before it feeds the level below —
    # equivalent to the reference's incremental MarkExtends/MarkLower
    # cascade (kMarkEvenLower pushes to unigrams too).
    uni_rest = None
    rest_tables: dict[int, dict[int, np.float32]] | None = None
    if rest:
        uni_rest = -np.abs(uni_prob)
        rest_tables = {
            n: {
                k: np.float32(-abs(np.float32(v[_PROB])))
                for k, v in tables[n].items()
            }
            for n in range(2, order)
        }
        for n in range(order, 1, -1):
            for k, v in tables[n].items():
                val = (
                    np.float32(-abs(np.float32(v[_PROB])))
                    if n == order
                    else rest_tables[n][k]
                )
                s = v[_SUFFIX]
                if n - 1 == 1:
                    if val > uni_rest[s]:
                        uni_rest[s] = val
                elif val > rest_tables[n - 1][s]:
                    rest_tables[n - 1][s] = val

    rests: dict[int, np.ndarray] | None = {} if rest else None
    for n in range(2, order + 1):
        items = sorted(tables[n].items())
        karr = np.array([k for k, _ in items], dtype=np.uint64)
        parr = np.array([v[_PROB] for _, v in items], dtype=np.float32)
        keys[n] = karr
        probs[n] = parr
        if n < order:
            backoffs[n] = np.array([v[_BACKOFF] for _, v in items], dtype=np.float32)
            sset = suffix_sets[n]
            extends[n] = np.array([k in sset for k, _ in items], dtype=bool)
            if rest:
                rests[n] = np.array(
                    [rest_tables[n][k] for k, _ in items], dtype=np.float32
                )

    return NGramModel(
        uni_rest=uni_rest,
        rests=rests,
        order=order,
        vocab=vocab,
        uni_prob=uni_prob,
        uni_backoff=uni_backoff,
        uni_extends=uni_extends,
        keys=keys,
        probs=probs,
        backoffs=backoffs,
        extends=extends,
    )


def _expect_header(f, n: int) -> None:
    line = f.readline()
    while line and line.strip() == "":
        line = f.readline()
    if line.strip() != f"\\{n}-grams:":
        raise ArpaFormatError(f"expected \\{n}-grams: header, got {line!r}")


def _expect_end(f) -> None:
    line = f.readline()
    while line and line.strip() == "":
        line = f.readline()
    if line.strip() != "\\end\\":
        raise ArpaFormatError(f"expected \\end\\, got {line!r}")


def _parse_ngram_line(f, n: int) -> tuple[float, list[str], float]:
    line = f.readline()
    if not line:
        raise ArpaFormatError(f"unexpected EOF in {n}-gram section")
    parts = line.rstrip("\r\n").split("\t")
    # lm/read_arpa.cc:22-23 — fields are tab separated, words space separated.
    # Some ARPA producers emit spaces everywhere; fall back to whitespace split
    # (the reference's FilePiece treats tab and space alike for words).
    if len(parts) == 1:
        toks = line.split()
        if len(toks) == n + 2:
            parts = [toks[0], " ".join(toks[1 : n + 1]), toks[n + 1]]
        elif len(toks) == n + 1:
            parts = [toks[0], " ".join(toks[1:])]
    if len(parts) == 2:
        prob_s, words_s = parts
        backoff = float(NEG_ZERO)
    elif len(parts) == 3:
        prob_s, words_s, backoff_s = parts
        backoff = float(backoff_s)
        if backoff == 0.0:
            backoff = float(NEG_ZERO)  # lm/read_arpa.cc:121
        if not np.isfinite(backoff):
            raise ArpaFormatError(f"bad backoff {backoff_s!r}")
    else:
        raise ArpaFormatError(f"bad {n}-gram line {line!r}")
    prob = float(prob_s)
    if prob > 0.0:  # lm/read_arpa.hh:46-50
        warnings.warn(f"positive log probability {prob} clamped to 0", stacklevel=3)
        prob = 0.0
    words = words_s.split(" ")
    if len(words) != n:
        raise ArpaFormatError(f"expected {n} words, got {words!r}")
    return prob, words, backoff
