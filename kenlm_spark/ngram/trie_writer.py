"""KenLM TRIE binary-model WRITER (model type 2) — the inverse of
:mod:`kenlm_spark.ngram.trie`, completing the write side of SURVEY §2
O6: ``build_binary -o trie``-compatible files, the reference's headline
compact deployment format (``lm/search_trie.cc:546-572``,
``lm/trie.cc:74-84``, ``lm/trie_sort.cc``).

Layout facts (no code) — all shared with the fixture-verified reader:

* header — same sanity + FixedWidthParameters block as probing
  (``lm/binary_format.cc:20-133``) with model_type=2, search_version=1,
  counts AFTER blank materialization;
* sorted vocabulary — ``lm/vocab.cc:83-86``: u64 hash count + sorted
  MurmurHash64A array (``<unk>`` excluded); ids are 1 + sort position,
  strings NUL-joined in id order at the end of the file;
* trie structure — each n-gram is a root-to-node path of words read
  RIGHT-to-LEFT (root level = last word, ``lm/search_trie.hh:82-88``),
  so level n sorts its grams by REVERSED word tuple; an entry's parent
  is its length-(n-1) SUFFIX, children are contiguous and word-sorted;
* blanks — when an n-gram's suffix path is missing from the ARPA, the
  builder materializes a blank node whose prob is the backed-off chain
  prob of the longest existing suffix and whose backoff is ±0.0 by the
  SetExtension rule (``lm/search_trie.cc:207-213,240-248``,
  ``lm/blank.hh``). These are EXACTLY the values
  :func:`kenlm_spark.ngram.arpa.parse_arpa` materializes for the
  probing tables, so this writer looks every entry's weights up in the
  parsed model by probing hash key instead of re-deriving them;
* unigram region — (counts[0]+2) × (f32 prob, f32 backoff, u64 next)
  (``lm/trie.hh:21-26``); record ``bound`` carries the end sentinel;
* bit-packed middles/longest — per entry LSB-first: word
  (RequiredBits(counts[0])), value (31-bit non-positive prob float +
  f32 backoff for middles; 31-bit prob for longest), inline next
  pointer (RequiredBits(next-level count)); region size
  ``((1+entries)*total_bits+7)//8 + 8`` slop (``lm/trie.cc:39-46``).

Verified three ways (tests/test_trie_writer.py): byte-identical to the
reference's own ``build_binary -o trie`` fixture, round-trips through
our trie reader to score-parity with the ARPA model, and loads in the
COMPILED reference with identical per-token scores (diff harness).
"""

from __future__ import annotations

import struct

import numpy as np

from kenlm_spark.ngram.arpa import load_arpa_grams
from kenlm_spark.ngram.binary import (
    MAGIC,
    _FIXED_SIZE,
    _MAGIC_FIELD,
    _SANITY_SIZE,
    _align8,
)
from kenlm_spark.ngram.hashing import combine_word_hash, murmur_hash64a
from kenlm_spark.ngram.model import UNK, NGramModel
from kenlm_spark.ngram.trie import _chop_bits

TRIE_TYPE = 2
TRIE_SEARCH_VERSION = 1  # lm/search_trie.hh kVersion
DEFAULT_MULTIPLIER = 1.5  # probing multiplier field is still in the header
QUANT_VERSION = 2  # lm/quantize.cc kSeparatelyQuantizeVersion
BHIKSHA_VERSION = 0  # lm/bhiksha.cc kArrayBhikshaVersion


def _make_bins(values: np.ndarray, n_bins: int) -> np.ndarray:
    """lm/quantize.cc MakeBins: sort, split into equal-count chunks, center
    = double left-to-right sum / float32(count); zero-length bucket copies
    the previous center (-inf for the first)."""
    v = np.sort(values.astype(np.float32))
    centers = np.empty(n_bins, dtype=np.float32)
    start = 0
    for i in range(n_bins):
        finish = (len(v) * (i + 1)) // n_bins
        if finish == start:
            centers[i] = centers[i - 1] if i else -np.inf
        else:
            # double accumulation in sorted order (cumsum is sequential)
            s = np.cumsum(v[start:finish], dtype=np.float64)[-1]
            centers[i] = np.float32(s / np.float64(np.float32(finish - start)))
        start = finish
    return centers


def _encode_nearest(
    centers: np.ndarray, values: np.ndarray, reserved: int
) -> np.ndarray:
    """lm/quantize.hh Bins::Encode: lower_bound over centers[reserved:],
    then nearest center with ties to the upper (float32 distance compare)."""
    v = values.astype(np.float32)
    above = np.searchsorted(centers[reserved:], v, side="left") + reserved
    idx = np.empty(len(v), dtype=np.uint64)
    lo_clip = np.minimum(above, len(centers) - 1)
    prev = centers[np.maximum(lo_clip - 1, 0)]
    take_lower = (v - prev) < (centers[lo_clip] - v)
    nearest = lo_clip - np.where(take_lower, 1, 0)
    idx[:] = np.where(
        above == reserved,
        reserved,
        np.where(above == len(centers), len(centers) - 1, nearest),
    )
    return idx


def _encode_backoff_bins(
    centers: np.ndarray, values: np.ndarray
) -> np.ndarray:
    """EncodeBackoff: ±0.0 map to the reserved slots (sign bit chooses:
    -0.0 → 0 kNoExtensionQuant, +0.0 → 1 kExtensionQuant); everything
    else nearest-center over centers[2:]."""
    v = values.astype(np.float32)
    is_zero = v == 0.0
    signbit = np.signbit(v)
    enc = _encode_nearest(centers, v, 2)
    return np.where(is_zero, np.where(signbit, 0, 1), enc).astype(np.uint64)


def _required_bits(max_value: int) -> int:
    if not max_value:
        return 0
    ret = 1
    while max_value := max_value >> 1:
        ret += 1
    return ret


def _scatter_bits(
    region: np.ndarray, bit_offs: np.ndarray, values: np.ndarray, length: int
) -> None:
    """Vectorized WriteInt57/WriteFloat32 twin: OR ``length``-bit values
    into the byte array LSB-first at arbitrary bit offsets. The value
    shifted by (off & 7) spans at most 64+7 bits = 9 bytes; the +8-byte
    region slop guarantees the window stays in bounds."""
    if not len(values):
        return
    byte = (bit_offs >> np.uint64(3)).astype(np.int64)
    shift = (bit_offs & np.uint64(7)).astype(np.uint64)
    v = values.astype(np.uint64)
    lo = (v << shift).view(np.uint8).reshape(-1, 8)  # mod-2^64 keeps low bits
    hi = np.where(
        shift > 0, v >> (np.uint64(64) - np.where(shift > 0, shift, 1)), 0
    ).astype(np.uint8)
    for k in range(8):
        np.bitwise_or.at(region, byte + k, lo[:, k])
    np.bitwise_or.at(region, byte + 8, hi)


def _model_lookup(model: NGramModel, n: int, keys: np.ndarray):
    """probs/backoffs for order-n grams by probing hash key (the model's
    key arrays are sorted)."""
    pos = np.minimum(np.searchsorted(model.keys[n], keys),
                     len(model.keys[n]) - 1)
    if not np.array_equal(model.keys[n][pos], keys):
        raise AssertionError(f"order-{n} gram missing from parsed model")
    backoff = (
        model.backoffs[n][pos]
        if n < model.order
        else np.zeros(len(pos), dtype=np.float32)
    )
    return model.probs[n][pos], backoff


def write_trie(arpa_path: str, out_path: str,
               multiplier: float = DEFAULT_MULTIPLIER,
               quant_bits: int | None = None,
               backoff_bits: int | None = None,
               array_bits: int | None = None,
               unknown_logprob: float | None = None,
               include_vocab: bool = True) -> None:
    """Serialize an ARPA file as a TRIE-layout KenLM v5 binary.

    ``quant_bits``/``backoff_bits`` (both or neither; the reference's
    ``-q``/``-b``) emit the quantized layouts: per-order equal-count bins
    (lm/quantize.cc MakeBins) with backoff slots 0/1 reserved for ∓0.0.
    ``array_bits`` (the reference's ``-a``) emits Bhiksha-compressed next
    pointers: per-middle uint64 offset arrays + inline low bits with the
    ChopBits cost argmin (lm/bhiksha.cc). All four resulting model types
    (2-5) are byte-identical to ``build_binary`` given the same flags."""
    if (quant_bits is None) != (backoff_bits is None):
        raise ValueError("pass both quant_bits and backoff_bits or neither")
    quantized = quant_bits is not None
    model_type = TRIE_TYPE + (1 if quantized else 0) + (
        2 if array_bits is not None else 0
    )
    model, grams = load_arpa_grams(arpa_path, unknown_logprob=unknown_logprob)
    order = model.order
    if order < 2:
        raise ValueError("trie layout needs order >= 2")
    saw_unk = any(g[0] in (UNK, "<UNK>") for g in grams[1])

    # ---- SortedVocabulary ids: <unk>=0, others by murmur hash rank
    words = [w for w in model.vocab if w != UNK]
    hashes = np.array([murmur_hash64a(w.encode("utf-8")) for w in words],
                      dtype=np.uint64)
    hsort = np.argsort(hashes, kind="stable")
    trie_id = {UNK: 0}
    for rank, wi in enumerate(hsort):
        trie_id[words[wi]] = rank + 1
    bound = len(trie_id)

    # arpa-side ids drive the model-key lookups for weights
    aid = model.vocab

    # ---- blank materialization in tuple space: every real n-gram needs
    # its whole suffix path present (lm/search_trie.cc BlankManager)
    tuples: dict[int, set] = {n: set(map(tuple, grams[n])) for n in grams}
    for n in range(3, order + 1):
        for g in grams[n]:
            for m in range(2, n):
                tuples[m].add(g[n - m:])

    def gram_key(g: tuple[str, ...]) -> int:
        ids = [aid.get(w, 0) for w in g]
        h = ids[-1]
        for m in range(2, len(ids) + 1):
            h = combine_word_hash(h, ids[len(ids) - m])
        return h

    # ---- per level: sort by reversed trie-id tuple, fetch weights.
    # trie header counts[0] = bound (a synthesized <unk> IS counted here,
    # unlike the probing header — measured against build_binary on
    # no-<unk> ARPAs)
    counts_fixed = [bound] + [len(tuples[n]) for n in range(2, order + 1)]
    word_bits = _required_bits(counts_fixed[0])

    levels = []  # n>=2: dict(words, prob, backoff, child_start)
    for n in range(2, order + 1):
        glist = sorted(
            tuples[n], key=lambda g: tuple(trie_id[w] for w in reversed(g))
        )
        keys = np.fromiter(
            (np.uint64(gram_key(g)) for g in glist),
            dtype=np.uint64, count=len(glist),
        )
        prob, backoff = _model_lookup(model, n, keys)
        prob = prob.copy()
        backoff = backoff.copy()
        raw_set = {k: set(map(tuple, grams[k])) for k in grams}

        def f32_blank_prob(g: tuple[str, ...]) -> np.float32:
            """The trie build accumulates a blank's chained prob in
            FLOAT32 (SRISucks values_ + BackoffMessages::Apply `base +=
            backoff`), one add per REAL charged context, levels
            ascending — 1 ulp off the parse's double-accumulated chain.
            basis = the deepest REAL suffix (BlankManager skips blank
            levels via kBadProb), charges = the blank's context suffixes
            of lengths [based_on, L) that exist as real grams."""
            L = len(g)
            based_on = 1
            for b in range(L - 1, 1, -1):
                if g[L - b:] in raw_set.get(b, ()):
                    based_on = b
                    break
            if based_on == 1:
                p = np.float32(model.uni_prob[aid[g[-1]]])
            else:
                bk = np.uint64(gram_key(g[L - based_on:]))
                pos = int(np.searchsorted(model.keys[based_on], bk))
                p = np.float32(model.probs[based_on][pos])
            ctx = g[:-1]
            for i in range(based_on, L):
                ci = ctx[len(ctx) - i:]
                if i == 1:
                    bo = np.float32(model.uni_backoff[aid[ci[0]]])
                elif ci in raw_set.get(i, ()):
                    ck = np.uint64(gram_key(ci))
                    pos = int(np.searchsorted(model.keys[i], ck))
                    bo = np.float32(model.backoffs[i][pos])
                else:
                    continue
                p = np.float32(p + bo)
            return p

        if n < order:
            # BLANK backoff ±0.0 follows the trie build's message
            # machinery, which differs from the probing parse's activate()
            # in two corners (lm/search_trie.cc:100-133, 207-213):
            #   (a) GetBlank forces kNoExtensionBackoff for blanks at
            #       order total_order-1 regardless of messages;
            #   (b) BackoffMessages::Apply walks the sorted real-gram
            #       stream and DROPS messages once it is exhausted — a
            #       blank sorting after the LAST real gram of its order
            #       never receives its extension mark.
            # Real grams are unaffected (their contexts are real by the
            # ARPA context requirement and their flips coincide with the
            # parse's), so only blank entries are overridden here.
            real = np.fromiter(
                (g in raw_set.get(n, ()) for g in glist),
                dtype=bool, count=len(glist),
            )
            blank = ~real
            neg_zero = np.float32(-0.0)
            if n == order - 1:
                backoff[blank] = neg_zero
            else:
                real_idx = np.flatnonzero(real)
                last_real = real_idx[-1] if len(real_idx) else -1
                dropped = blank & (
                    np.arange(len(glist)) > last_real
                )
                backoff[dropped] = neg_zero
            for bi in np.flatnonzero(blank):
                prob[bi] = f32_blank_prob(glist[bi])
        levels.append(
            {
                "grams": glist,
                "words": np.array(
                    [trie_id[g[0]] for g in glist], dtype=np.uint64
                ),
                "prob": prob,
                "backoff": backoff,
            }
        )

    # ---- next pointers: children of a level-n entry are the level-(n+1)
    # entries whose length-n suffix equals it; both sides are in reversed-
    # tuple order, so starts come from one linear merge (searchsorted on
    # the child SUFFIX sequence, which is sorted identically).
    uni_next = np.zeros(bound + 1, dtype=np.uint64)
    if order >= 2:
        last_ids = np.array(
            [trie_id[g[-1]] for g in levels[0]["grams"]], dtype=np.int64
        )
        uni_next[1:] = np.cumsum(np.bincount(last_ids, minlength=bound))
    for li in range(len(levels) - 1):
        n = li + 2
        parent_rev = [
            tuple(trie_id[w] for w in reversed(g)) for g in levels[li]["grams"]
        ]
        child_suffix_rev = [
            tuple(trie_id[w] for w in reversed(g[1:]))
            for g in levels[li + 1]["grams"]
        ]
        starts = np.searchsorted(
            np.array(child_suffix_rev, dtype=np.int64)
            .view([("", np.int64)] * n)
            .ravel()
            if child_suffix_rev
            else np.empty(0, dtype=[("", np.int64)] * n),
            np.array(parent_rev, dtype=np.int64)
            .view([("", np.int64)] * n)
            .ravel()
            if parent_rev
            else np.empty(0, dtype=[("", np.int64)] * n),
            side="left",
        )
        levels[li]["next"] = np.append(
            starts, len(child_suffix_rev)
        ).astype(np.uint64)

    # ---- quantization tables (lm/quantize.cc Train/TrainProb): trained
    # over every stored value of the order — real grams AND blanks (the
    # reference feeds blank probs in via SRISucks "additional"); backoff
    # training excludes exact ±0.0 (reserved slots represent those)
    prob_tab: dict[int, np.ndarray] = {}
    back_tab: dict[int, np.ndarray] = {}
    if quantized:
        for li in range(len(levels) - 1):
            n = li + 2
            prob_tab[n] = _make_bins(levels[li]["prob"], 1 << quant_bits)
            bo = levels[li]["backoff"].astype(np.float32)
            back_tab[n] = np.concatenate(
                [
                    np.array([-0.0, 0.0], dtype=np.float32),
                    _make_bins(bo[bo != 0.0], (1 << backoff_bits) - 2),
                ]
            )
        prob_tab[order] = _make_bins(levels[-1]["prob"], 1 << quant_bits)
        mid_qbits, long_qbits = quant_bits + backoff_bits, quant_bits
    else:
        mid_qbits, long_qbits = 63, 31

    # ---- assemble the file
    out = bytearray()
    out += MAGIC + b"\x00" * (_MAGIC_FIELD - len(MAGIC))
    out += struct.pack("<3f", 0.0, 1.0, -0.5)
    out += struct.pack("<3I", 1, 0xFFFFFFFF, 0)
    out += struct.pack("<Q", 1)
    assert len(out) == _SANITY_SIZE
    out += struct.pack("<B3x", order)
    out += struct.pack("<f", multiplier)
    out += struct.pack("<i", model_type)
    out += struct.pack("<B3x", 1 if include_vocab else 0)
    out += struct.pack("<I", TRIE_SEARCH_VERSION)
    assert len(out) == _SANITY_SIZE + _FIXED_SIZE
    out += struct.pack(f"<{order}Q", *counts_fixed)
    out += b"\x00" * (_align8(len(out)) - len(out))

    # vocab region: u64 count + sorted hashes, sized 8*(counts[0]+1)
    # (counts[0] = bound, so this holds with or without an ARPA <unk>)
    out += struct.pack("<Q", len(hashes))
    out += hashes[hsort].tobytes()
    out += b"\x00" * 8

    # quant region: 8-byte header then per-middle (prob, backoff) tables
    # and the longest prob table (lm/quantize.cc SetupMemory layout)
    if quantized:
        out += struct.pack(
            "<3B5x", QUANT_VERSION, quant_bits, backoff_bits
        )
        for li in range(len(levels) - 1):
            out += prob_tab[li + 2].tobytes()
            out += back_tab[li + 2].tobytes()
        out += prob_tab[order].tobytes()

    # unigram array: counts[0]+2 records; [bound] = sentinel next
    uni = np.zeros(bound + 2,
                   dtype=np.dtype([("p", "<f4"), ("b", "<f4"), ("n", "<u8")]))
    inv = np.empty(bound, dtype=np.int64)  # trie id -> arpa id
    for w, tid in trie_id.items():
        inv[tid] = aid[w]
    uni["p"][:bound] = model.uni_prob[inv]
    uni["b"][:bound] = model.uni_backoff[inv]
    uni["n"][:bound] = uni_next[:bound]
    uni["n"][bound] = uni_next[bound]
    out += uni.tobytes()

    # middles: word | value | next, LSB-first. value = 31-bit prob +
    # f32 backoff (plain) or backoff-bin + prob-bin indices (quantized);
    # next = full inline pointer (plain) or Bhiksha offset-array + low
    # bits (array layouts)
    for li in range(len(levels) - 1):
        n = li + 2
        entries = counts_fixed[n - 1]
        max_next = counts_fixed[n]
        nxt = levels[li]["next"]
        if array_bits is not None:
            required = _required_bits(max_next)
            chop = _chop_bits(entries + 1, max_next, array_bits)
            inline = required - chop
            acount = (max_next >> (required - chop)) + 1
            # Bhiksha region: 2-byte header at the (possibly unaligned)
            # base, u64 offsets at ALIGN8(base)+8, sized 8*(1+acount)+7
            off0 = len(out)
            breg = bytearray(8 * (1 + acount) + 7)
            breg[0] = BHIKSHA_VERSION
            breg[1] = array_bits
            highs = (nxt >> np.uint64(inline)) if inline else nxt
            offsets = np.searchsorted(
                highs, np.arange(acount, dtype=np.uint64), side="left"
            ).astype("<u8")
            pos = _align8(off0) + 8 - off0
            breg[pos : pos + 8 * acount] = offsets.tobytes()
            out += breg
            low = (
                nxt & np.uint64((1 << inline) - 1) if inline else
                np.zeros(len(nxt), dtype=np.uint64)
            )
        else:
            inline = _required_bits(max_next)
            low = nxt
        total = word_bits + mid_qbits + inline
        region = np.zeros(((1 + entries) * total + 7) // 8 + 8, dtype=np.uint8)
        offs = np.arange(entries, dtype=np.uint64) * np.uint64(total)
        _scatter_bits(region, offs, levels[li]["words"], word_bits)
        if quantized:
            bidx = _encode_backoff_bins(back_tab[n], levels[li]["backoff"])
            pidx = _encode_nearest(prob_tab[n], levels[li]["prob"], 0)
            _scatter_bits(
                region, offs + np.uint64(word_bits), bidx, backoff_bits
            )
            _scatter_bits(
                region, offs + np.uint64(word_bits + backoff_bits),
                pidx, quant_bits,
            )
        else:
            p31 = levels[li]["prob"].astype(np.float32).view(
                np.uint32
            ) & np.uint32(0x7FFFFFFF)
            _scatter_bits(region, offs + np.uint64(word_bits), p31, 31)
            b32 = levels[li]["backoff"].astype(np.float32).view(np.uint32)
            _scatter_bits(region, offs + np.uint64(word_bits + 31), b32, 32)
        if inline:
            offs1 = np.arange(entries + 1, dtype=np.uint64) * np.uint64(total)
            _scatter_bits(
                region, offs1 + np.uint64(word_bits + mid_qbits), low, inline
            )
        out += region.tobytes()

    # longest: word | prob (31-bit float or prob-bin index)
    entries = counts_fixed[order - 1]
    total = word_bits + long_qbits
    region = np.zeros(((1 + entries) * total + 7) // 8 + 8, dtype=np.uint8)
    offs = np.arange(entries, dtype=np.uint64) * np.uint64(total)
    _scatter_bits(region, offs, levels[-1]["words"], word_bits)
    if quantized:
        pidx = _encode_nearest(prob_tab[order], levels[-1]["prob"], 0)
        _scatter_bits(region, offs + np.uint64(word_bits), pidx, quant_bits)
    else:
        p31 = levels[-1]["prob"].astype(np.float32).view(np.uint32) & np.uint32(
            0x7FFFFFFF
        )
        _scatter_bits(region, offs + np.uint64(word_bits), p31, 31)
    out += region.tobytes()

    # vocab strings, id order, NUL-joined (omitted by build_binary -v)
    if include_vocab:
        by_id = sorted(trie_id.items(), key=lambda kv: kv[1])
        for w, _ in by_id:
            out += w.encode("utf-8") + b"\x00"

    with open(out_path, "wb") as fh:
        fh.write(bytes(out))
