"""Columnar ARPA loader producing an :class:`NGramModel`.

Semantics of the reference ARPA reader and probing-table construction:

* ``\\data\\`` header with per-order counts, then per-order sections of
  ``log10prob<tab>w1 .. wn[<tab>log10backoff]`` (``lm/read_arpa.cc:47-157``).
* positive probabilities clamp to 0 with a warning (``lm/read_arpa.hh:46-50``).
* a missing backoff field and an explicit ``0.0`` both load as ``-0.0``
  ("never a context" sentinel, ``lm/read_arpa.cc:112-121``); entries later
  observed as a context of a longer n-gram flip to ``+0.0`` ("activation",
  ``lm/search_hashed.cc:23-55``).
* blanks: if an n-gram's suffix at some lower order is missing, hallucinate
  it with prob from the backoff chain and backoff ``-0.0``
  (``lm/search_hashed.cc:57-133``).
* an n-gram containing a word absent from the unigram section is an error
  unless the word is ``<unk>``/``<UNK>`` (``lm/read_arpa.hh:80-84``).
* missing ``<unk>``: prob -100 backoff 0 (``lm/model.cc:121-126``).

The reference fills its tables with one C++ loop per line; this loader
works on whole orders, so no Python bytecode runs per n-gram.

:func:`arpa_sections` is the package's one ARPA line grammar. It reads
everything after the counts at once and finds each order's section by its
newline offsets. A check on the bytes (tab, space and newline positions)
confirms that all lines of a section have the same shape; then one Arrow
``split_pattern`` cuts the whole section on tabs and spaces, and each
column is a stride of the cells. Arrow casts the prob and backoff columns
to float64; it rounds as Python's ``float`` does, and NaNs and anything
Arrow does not read go through ``float`` itself. A section whose lines
differ in shape (a backoff left out on some lines, or the space-separated
producer form) is first rewritten to the common shape.

:func:`parse_arpa` then builds the tables with numpy passes:

1. words map to ids once per section (Arrow ``index_in``);
2. every suffix and context key comes from ``combine_word_hash_vec``;
3. blanks: the missing suffixes of an order are the proper suffixes of
   longer n-grams that are not n-grams themselves. The reference creates
   each one while walking the first n-gram that has it as a suffix, so
   that n-gram's position in the file is the blank's creation time. A
   blank's prob is its suffix's prob plus its context's backoff, added in
   float32, order by order ascending. The context always exists by then:
   it is a suffix of the creating n-gram's context, which must exist;
4. activation and ``extends`` are vectorized membership tests; the
   creation times give the sign a zero backoff had when the reference
   charged it;
5. MaxRestBuild (``rest=True``) is ``np.maximum.at`` top-down.

The result is byte-identical to the line-at-a-time loader it replaced
(``tests/test_arpa_columnar.py``).
"""

from __future__ import annotations

import gzip
import io
import warnings
from collections import Counter
from itertools import compress
from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .hashing import combine_word_hash_vec
from .model import UNK, UNKNOWN_MISSING_LOGPROB, NGramModel

NEG_ZERO = np.float32(-0.0)
POS_ZERO = np.float32(0.0)

_UNK_SPELLINGS = frozenset((UNK, "<UNK>"))
_NEVER = np.iinfo(np.int64).max  # activation time of a never-activated entry


class ArpaFormatError(ValueError):
    pass


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


def load_arpa_grams(path: str, rest: bool = False,
                    unknown_logprob: float | None = None):
    """``(model, grams)`` from one read of ``path``: ``grams[n]`` lists the
    order-n word tuples in file order, repeats included (the binary
    writers need the ARPA's own counts and insertion order)."""
    grams: dict[int, list[tuple[str, ...]]] = {}

    def keep_grams(sections):
        for sec in sections:
            grams[sec.n] = sec.grams()
            yield sec

    with _open(path) as f:
        model = _build(keep_grams(arpa_sections(f)), rest, unknown_logprob)
    return model, grams


# ---------------------------------------------------------------- grammar


class ArpaSection(NamedTuple):
    """One order's section, column-wise in file order."""

    n: int
    order: int  # the file's highest order
    text: str  # the section's lines, without line endings, joined by "\n"
    prob: np.ndarray  # float64, positive values clamped to 0
    cols: list[pa.Array]  # cols[j]: the (j+1)-th word of every n-gram
    backoff: np.ndarray  # float64, -0.0 where absent or zero

    @property
    def lines(self) -> list[str]:
        return self.text.split("\n") if len(self.prob) else []

    def grams(self) -> list[tuple[str, ...]]:
        return list(zip(*(col.to_pylist() for col in self.cols)))


def arpa_sections(f) -> Iterator[ArpaSection]:
    """The ARPA line grammar: the ``\\data\\`` counts, one
    :class:`ArpaSection` per order, then ``\\end\\``. Every malformed
    input raises :class:`ArpaFormatError`.

    After the counts the rest of ``f`` is read at once; its newline
    offsets locate each section, which is decoded and split whole."""
    counts = _read_counts(f)
    data = f.read().encode("utf-8", "surrogatepass")
    ends = np.flatnonzero(np.frombuffer(data, np.uint8) == 10)
    if data and not data.endswith(b"\n"):
        ends = np.append(ends, len(data))  # a last line without a newline
    at = 0  # the next line

    def text(first: int, last: int) -> str:
        """Lines ``first`` .. ``last - 1``, joined by newlines."""
        start = ends[first - 1] + 1 if first else 0
        return data[start:ends[last - 1] if last > first else start].decode(
            "utf-8", "surrogatepass")

    def expect(want: str) -> None:
        nonlocal at
        while at < len(ends) and not text(at, at + 1).strip():
            at += 1
        got = text(at, at + 1) if at < len(ends) else ""
        if got.strip() != want:
            raise ArpaFormatError(f"expected {want}, got {got!r}")
        at += 1

    for n, count in enumerate(counts, 1):
        expect(f"\\{n}-grams:")
        if at + count > len(ends):
            raise ArpaFormatError(f"unexpected EOF in {n}-gram section")
        yield _section(n, len(counts), text(at, at + count), count)
        at += count
    expect("\\end\\")


def _read_counts(f) -> list[int]:
    """The ``\\data\\`` block (lm/read_arpa.cc:47-86)."""
    line = f.readline()
    while line and not line.strip():
        line = f.readline()
    if line.strip() != "\\data\\":
        raise ArpaFormatError(f"expected \\data\\, got {line!r}")
    counts: list[int] = []
    while line := f.readline().strip():
        order_s, _, count_s = line.partition("=")
        try:
            if not order_s.startswith("ngram "):
                raise ValueError
            n, count = int(order_s[len("ngram "):]), int(count_s)
        except ValueError:
            raise ArpaFormatError(f"bad count line {line!r}") from None
        if n != len(counts) + 1:
            raise ArpaFormatError("non-contiguous n-gram orders in header")
        if count < 0:
            raise ArpaFormatError(f"bad count line {line!r}")
        counts.append(count)
    if not counts:
        raise ArpaFormatError("no n-gram counts")
    return counts


def _tabs_if_plain(text: str, count: int, n: int) -> int:
    """1 or 2 if each of the ``count`` lines of ``text`` has that many
    tabs and ``n - 1`` spaces, all in the words field; else 0. Found on
    the UTF-8 bytes, where tab, space and newline bytes only stand for
    themselves: with exactly ``t`` tabs per line on average, the k-th
    group of ``t`` tabs must lie in line k, and likewise for spaces."""
    raw = np.frombuffer(text.encode("utf-8", "surrogatepass"), np.uint8)
    tabs = np.flatnonzero(raw == 9)
    spaces = np.flatnonzero(raw == 32)
    if len(tabs) not in (count, 2 * count) or len(spaces) != (n - 1) * count:
        return 0
    t = len(tabs) // count
    tabs = tabs.reshape(count, t)
    ends = np.append(np.flatnonzero(raw == 10), len(raw))
    starts = np.concatenate([[0], ends[:-1] + 1])
    words_end = tabs[:, 1] if t == 2 else ends
    spaces = spaces.reshape(count, n - 1)
    plain = (tabs[:, 0] >= starts).all() and (tabs[:, -1] < ends).all()
    if n > 1:
        plain = plain and (spaces[:, 0] > tabs[:, 0]).all() and (
            spaces[:, -1] < words_end).all()
    return t if plain else 0


def _canonical(n: int, line: str) -> str:
    """``line`` as ``prob<tab>w1 .. wn<tab>backoff``, its number fields
    stripped (``float`` ignores surrounding whitespace). A line without
    tabs splits on whitespace: some producers emit spaces everywhere."""
    parts = line.split("\t")
    if len(parts) == 1:
        toks = line.split()
        if len(toks) == n + 2:
            parts = [toks[0], " ".join(toks[1:n + 1]), toks[n + 1]]
        elif len(toks) == n + 1:
            parts = [toks[0], " ".join(toks[1:])]
    if len(parts) == 2:
        parts.append("0")
    if len(parts) != 3:
        raise ArpaFormatError(f"bad {n}-gram line {line!r}")
    prob_s, words_s, backoff_s = parts
    try:
        float(prob_s), float(backoff_s)
    except ValueError as exc:
        raise ArpaFormatError(f"bad {n}-gram line {line!r}: {exc}") from None
    if words_s.count(" ") != n - 1:
        raise ArpaFormatError(f"expected {n} words, got {words_s.split(' ')!r}")
    return "\t".join((prob_s.strip(), words_s, backoff_s.strip()))


def _floats(cells: pa.Array, n: int) -> np.ndarray:
    """``float`` of every cell. Arrow's cast rounds correctly, as
    ``float`` does, and reads a subset of ``float``'s syntax plus
    ``nan(...)``; so a column it rejects, and every NaN, go through
    ``float`` itself."""
    try:
        out = pc.cast(cells, pa.float64()).to_numpy(zero_copy_only=False,
                                                      writable=True)
        redo = np.flatnonzero(np.isnan(out))
    except pa.ArrowInvalid:
        out, redo = np.zeros(len(cells)), np.arange(len(cells))
    try:
        out[redo] = [float(c) for c in cells.take(redo).to_pylist()]
    except ValueError as exc:
        raise ArpaFormatError(f"bad number in the {n}-gram section: {exc}") from None
    return out


def _section(n: int, order: int, text: str, count: int) -> ArpaSection:
    """Split one section column-wise: fields are tab separated and words
    space separated (lm/read_arpa.cc:22-23), so once every line has the
    same shape, one split of the whole section on both gives each column
    as a stride. An absent backoff reads as 0, which loads as -0.0 like
    an explicit zero."""
    if not count:
        empty = np.zeros(0)
        return ArpaSection(n, order, "", empty,
                           [pa.array([], pa.large_string())] * n, empty)
    if "\r" in text:
        text = "\n".join([line.rstrip("\r") for line in text.split("\n")])
    fields = text
    tabs = _tabs_if_plain(fields, count, n)
    if not tabs:
        fields = "\n".join([_canonical(n, line) for line in text.split("\n")])
        tabs = 2
    stride = n + tabs
    cells = pc.split_pattern(pa.array(
        [fields.replace("\t", " ").replace("\n", " ")], pa.large_string()
    ), " ").flatten()
    del fields

    def column(j: int) -> pa.Array:
        return cells.take(np.arange(j, count * stride, stride))

    prob = _floats(column(0), n)
    backoff = _floats(column(n + 1), n) if tabs == 2 else np.zeros(count)
    cols = [column(1 + j) for j in range(n)]
    del cells
    if not np.isfinite(backoff).all():
        bad = text.split("\n")[int(np.argmin(np.isfinite(backoff)))]
        raise ArpaFormatError(f"bad backoff in {n}-gram line {bad!r}")
    backoff[backoff == 0.0] = -0.0  # lm/read_arpa.cc:121
    positive = prob > 0.0  # lm/read_arpa.hh:46-50
    for p in prob[positive].tolist():
        warnings.warn(f"positive log probability {p} clamped to 0")
    prob[positive] = 0.0
    return ArpaSection(n, order, text, prob, cols, backoff)


# ----------------------------------------------------------------- tables


class _Table(NamedTuple):
    """One order's entries while loading, sorted by key; ``suffix`` is the
    key of each entry's (n-1)-word suffix (a word id for n == 2)."""

    keys: np.ndarray
    prob: np.ndarray
    backoff: np.ndarray
    suffix: np.ndarray


def _find(keys: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Positions of ``q`` in the sorted ``keys``, and which were found.
    The queries are searched in sorted order, which keeps the binary
    searches in cache."""
    if not len(keys):
        return np.zeros(len(q), np.int64), np.zeros(len(q), bool)
    by_key = np.argsort(q)
    pos = np.empty(len(q), np.int64)
    pos[by_key] = np.searchsorted(keys, q[by_key])
    np.minimum(pos, len(keys) - 1, out=pos)
    return pos, keys[pos] == q


def parse_arpa(f, rest: bool = False,
               unknown_logprob: float | None = None) -> NGramModel:
    """``unknown_logprob`` overrides the -100 substituted for a missing
    ``<unk>`` (build_binary's -u / Config::unknown_missing_logprob)."""
    return _build(arpa_sections(f), rest, unknown_logprob)


def _vocab(words: list[str]) -> tuple[dict[str, int], np.ndarray]:
    """Vocabulary in file order (``<unk>`` = 0) and each unigram line's id."""
    is_unk = np.fromiter(map(_UNK_SPELLINGS.__contains__, words), bool, len(words))
    named = list(compress(words, (~is_unk).tolist()))
    vocab = {UNK: 0}
    vocab.update(zip(named, range(1, len(named) + 1)))
    if len(vocab) <= len(named):
        dup = next(w for w, c in Counter(named).items() if c > 1)
        raise ArpaFormatError(f"duplicate unigram {dup!r}")
    wid = np.zeros(len(words), np.int64)
    wid[~is_unk] = np.arange(1, len(named) + 1)
    return vocab, wid


def _ids(sec: ArpaSection, words: pa.Array) -> list[np.ndarray]:
    """The section's word ids, one uint64 array per word position;
    ``words`` lists the vocabulary in id order."""
    ids = []
    for col in sec.cols:
        wid = pc.index_in(col, value_set=words)
        if wid.null_count:
            for w in col.filter(wid.is_null()).to_pylist():
                if w not in _UNK_SPELLINGS:
                    raise ArpaFormatError(
                        f"word {w!r} not in unigrams but appears in a "
                        f"{sec.n}-gram"
                    )
            wid = wid.fill_null(0)
        ids.append(wid.to_numpy().astype(np.uint64))
    return ids


def _build(sections, rest: bool, unknown_logprob: float | None) -> NGramModel:
    sections = iter(sections)
    uni = next(sections)
    order = uni.order
    vocab, wid = _vocab(uni.cols[0].to_pylist())
    vocab_size = len(vocab)
    uni_prob = np.zeros(vocab_size, dtype=np.float32)
    uni_backoff = np.full(vocab_size, NEG_ZERO, dtype=np.float32)
    keep = np.ones(len(wid), bool)
    unk_rows = np.flatnonzero(wid == 0)
    if not len(unk_rows):
        uni_prob[0] = (
            UNKNOWN_MISSING_LOGPROB
            if unknown_logprob is None
            else np.float32(unknown_logprob)
        )  # lm/model.cc:121-126 / build_binary -u
        uni_backoff[0] = POS_ZERO
    keep[unk_rows[:-1]] = False  # a repeated <unk> line: the last one wins
    uni_prob[wid[keep]] = uni.prob[keep]
    uni_backoff[wid[keep]] = uni.backoff[keep]
    del uni
    words = pa.array(list(vocab), pa.large_string())

    tables = {1: _Table(np.arange(vocab_size, dtype=np.uint64), uni_prob,
                        uni_backoff, None)}
    # per order m: the would-be blanks each section meets, as (key, time,
    # suffix key, context key) of their first occurrence; the time of an
    # n-gram is its position over all sections
    none = np.zeros(0, np.uint64)
    pending = {m: [(none, np.zeros(0, np.int64), none, none)]
               for m in range(2, order + 1)}
    # per order k < N: contexts of ARPA (k+1)-grams (activation)
    ctx_of_real: dict[int, np.ndarray] = {}
    clock = 0
    for sec in sections:
        n = sec.n
        ids = _ids(sec, words)
        rows = len(sec.prob)
        # suffix keys skey[m] = key of the last m words (lm/search_hashed.cc
        # :183-187); context keys ckey[c] = key of the c words before the last
        skey = [None, ids[n - 1]]
        for m in range(2, n + 1):
            skey.append(combine_word_hash_vec(skey[-1], ids[n - m]))
        ckey = [None, ids[n - 2]]
        for c in range(2, n):
            ckey.append(combine_word_hash_vec(ckey[-1], ids[n - 1 - c]))
        ctx = ckey[n - 1]

        srt = np.argsort(skey[n])
        if (skey[n][srt[1:]] == skey[n][srt[:-1]]).any():
            srt = np.argsort(skey[n], kind="stable")  # the last line wins
        last = np.ones(rows, bool)
        last[:-1] = skey[n][srt[1:]] != skey[n][srt[:-1]]
        sel = srt[last]
        real = _Table(skey[n][sel], sec.prob[sel].astype(np.float32),
                      sec.backoff[sel].astype(np.float32), skey[n - 1][sel])
        del sec

        if n >= 3:
            # "The context of every n-gram should appear as an (n-1)-gram",
            # possibly as a blank that this gram or an earlier one of the
            # section created
            miss = np.flatnonzero(~_find(tables[n - 1].keys, ctx)[1])
            if len(miss):
                sk, first = np.unique(skey[n - 1], return_index=True)
                pos, hit = _find(sk, ctx[miss])
                if not (hit & (first[pos] <= miss)).all():
                    raise ArpaFormatError(
                        f"the context of every {n}-gram should appear as a "
                        f"{n - 1}-gram"
                    )
        ctx_of_real[n - 1] = np.unique(ctx)

        for m in range(2, n):
            at = np.flatnonzero(~_find(tables[m].keys, skey[m])[1])
            if len(at):
                u, first = np.unique(skey[m][at], return_index=True)
                at = at[first]
                pending[m].append((u, clock + at, skey[m - 1][at], ckey[m - 1][at]))
        tables[n] = real
        clock += rows

    # blanks and activation, order by order ascending: the blanks of order
    # m charge and activate contexts of order m - 1
    for m in range(2, order + 1):
        lower = tables[m - 1]
        bkeys, born, bsuf, bctx = map(np.concatenate, zip(*pending[m]))
        bkeys, first = np.unique(bkeys, return_index=True)
        born, bsuf, bctx = born[first], bsuf[first], bctx[first]
        # A blank's context exists when the blank is made: it is a suffix of
        # the context of the n-gram that makes it, which must exist. Each
        # entry's activation time is -1 if it is the context of an ARPA
        # m-gram, else the time of the first blank it is the context of.
        cpos = _find(lower.keys, bctx)[0]
        act = np.full(len(lower.keys), _NEVER, np.int64)
        np.minimum.at(act, cpos, born)
        act[_find(lower.keys, ctx_of_real[m - 1])[0]] = -1

        # AdjustLower (lm/search_hashed.cc:81-133): prob of the suffix plus
        # the context's backoff as it stood when the blank was made,
        # accumulated in FLOAT32 as the reference does
        charge = lower.backoff[cpos]
        charge[(charge == 0.0) & (act[cpos] < born)] = POS_ZERO
        value = lower.prob[_find(lower.keys, bsuf)[0]] + charge
        # SetExtension: an activated -0.0 backoff becomes +0.0
        lower.backoff[(act < _NEVER) & (lower.backoff == 0.0)] = POS_ZERO

        if len(bkeys):
            real = tables[m]
            merged = np.argsort(np.concatenate([real.keys, bkeys]))
            tables[m] = _Table(
                np.concatenate([real.keys, bkeys])[merged],
                np.concatenate([real.prob, value])[merged],
                np.concatenate([
                    real.backoff, np.full(len(bkeys), NEG_ZERO, np.float32)
                ])[merged],
                np.concatenate([real.suffix, bsuf])[merged],
            )

    # --- extends (suffix closure) and REST_PROBING (MaxRestBuild,
    # lm/value_build.hh:35-62): rest of an entry = max(-|own prob|, rest of
    # every n-gram that extends it left), top-down so each level is final
    # before it feeds the level below
    suffix_pos = {n: _find(tables[n - 1].keys, tables[n].suffix)[0]
                  for n in range(2, order + 1)}
    extends = {n: np.zeros(len(tables[n].keys), bool) for n in range(1, order)}
    for n in range(2, order + 1):
        extends[n - 1][suffix_pos[n]] = True
    uni_extends = extends.pop(1, np.zeros(vocab_size, bool))
    uni_rest = None
    rests: dict[int, np.ndarray] | None = None
    if rest:
        rest_of = {n: -np.abs(tables[n].prob) for n in range(1, order + 1)}
        for n in range(order, 1, -1):
            val = rest_of[n]  # a NaN never wins the reference's `>` test
            np.maximum.at(rest_of[n - 1], suffix_pos[n],
                          np.where(np.isnan(val), -np.inf, val).astype(np.float32))
        uni_rest = rest_of[1]
        rests = {n: rest_of[n] for n in range(2, order)}

    return NGramModel(
        uni_rest=uni_rest,
        rests=rests,
        order=order,
        vocab=vocab,
        uni_prob=uni_prob,
        uni_backoff=uni_backoff,
        uni_extends=uni_extends,
        keys={n: tables[n].keys for n in range(2, order + 1)},
        probs={n: tables[n].prob for n in range(2, order + 1)},
        backoffs={n: tables[n].backoff for n in range(2, order)},
        extends=extends,
    )
