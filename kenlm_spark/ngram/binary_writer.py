"""KenLM binary-model WRITER (probing layout) — the inverse of
:mod:`kenlm_spark.ngram.binary`, so models estimated or filtered in this
engine can be handed BACK to the reference engine (or any kenlm user) as
a ready-to-mmap ``.klm`` file.

Same layout facts as the reader (lm/binary_format.cc:20-133 header,
lm/vocab.cc:218-283 probing vocabulary + NUL-joined word strings,
lm/search_hashed.cc:206-219 search area, util/probing_hash_table.hh
DivMod placement: ideal slot = hash % buckets, linear probe to the first
empty (key 0) slot). The sign-bit encoding is applied in reverse: grams
that extend left store a positive prob (lm/value_build.hh:26-29).

Golden-tested by loading the written file through the COMPILED reference
binding and comparing scores (tests/test_binary_loader.py).
"""

from __future__ import annotations

import struct

import numpy as np

from kenlm_spark.ngram.binary import (
    MAGIC,
    PROBING,
    _FIXED_SIZE,
    _MAGIC_FIELD,
    _SANITY_SIZE,
    _align8,
    _buckets,
)
from kenlm_spark.ngram.hashing import murmur_hash64a
from kenlm_spark.ngram.model import UNK, NGramModel

DEFAULT_MULTIPLIER = 1.5  # lm/config.cc:16


def _probing_insert(buckets: int, entries: list[tuple[int, bytes]]) -> bytearray:
    """DivMod probing placement: (key, payload_bytes) into a zeroed table
    of ``buckets`` slots of uniform size; empty = key 0."""
    slot_size = 8 + len(entries[0][1]) if entries else 8
    table = bytearray(buckets * slot_size)
    occupied = [False] * buckets
    for key, payload in entries:
        i = key % buckets
        while occupied[i]:
            i = (i + 1) % buckets
        occupied[i] = True
        struct.pack_into("<Q", table, i * slot_size, key)
        table[i * slot_size + 8 : (i + 1) * slot_size] = payload
    return table


def write_binary(model: NGramModel, path: str,
                 multiplier: float = DEFAULT_MULTIPLIER) -> None:
    """Serialize an NGramModel as a PROBING-layout KenLM v5 binary.

    For REST models use :func:`write_probing_from_arpa` with
    ``rest=True`` (byte-identical to the reference's writer)."""
    if model.has_rest:
        raise NotImplementedError(
            "this sorted-view writer emits the plain PROBING layout; "
            "write REST_PROBING with write_probing_from_arpa(rest=True)"
        )
    order = model.order
    V = len(model.vocab)
    counts = [V] + [len(model.keys[n]) for n in range(2, order + 1)]

    out = bytearray()
    # --- Sanity + FixedWidthParameters + counts (binary_format.cc:46-82)
    out += MAGIC + b"\x00" * (_MAGIC_FIELD - len(MAGIC))
    out += struct.pack("<3f", 0.0, 1.0, -0.5)
    out += struct.pack("<3I", 1, 0xFFFFFFFF, 0)
    out += struct.pack("<Q", 1)
    assert len(out) == _SANITY_SIZE
    out += struct.pack("<B3x", order)
    out += struct.pack("<f", multiplier)
    out += struct.pack("<i", PROBING)
    out += struct.pack("<B3x", 1)  # has_vocabulary
    out += struct.pack("<I", 0)   # search_version
    assert len(out) == _SANITY_SIZE + _FIXED_SIZE
    out += struct.pack(f"<{order}Q", *counts)
    out += b"\x00" * (_align8(len(out)) - len(out))

    # --- ProbingVocabulary: 8-byte header + (hash -> id) probing table.
    # <unk> (id 0) is never inserted (lm/vocab.cc:258-268).
    out += struct.pack("<2I", 0, V)  # version, bound
    vbuckets = _buckets(counts[0], multiplier)
    ventries = [
        (murmur_hash64a(w.encode("utf-8")), struct.pack("<I", wid))
        for w, wid in model.vocab.items()
        if w != UNK
    ]
    out += _probing_insert(vbuckets, ventries)

    # --- search area: unigrams then one probing table per order
    # (search_hashed.cc:206-219). Sign-bit: extends-left => positive prob
    # (value.hh:16-40); backoff bytes preserved (±0.0 semantics).
    def enc_prob(prob: np.ndarray, ext: np.ndarray) -> np.ndarray:
        # the reference stores probs AS READ (<= 0, so the sign bit is
        # naturally set) and only CLEARS it via MarkExtends — it never
        # forces it, so a literal "0.0" prob (<s>) stays +0.0 and reads
        # back as extends-left (bug-compatible byte parity)
        bits = prob.astype(np.float32).view(np.uint32)
        return np.where(ext, bits & np.uint32(0x7FFFFFFF), bits).view(
            np.float32
        )

    uni = np.zeros(counts[0] + 1, dtype=np.dtype([("p", "<f4"), ("b", "<f4")]))
    uni["p"][:V] = enc_prob(model.uni_prob, model.uni_extends)
    uni["b"][:V] = model.uni_backoff
    out += uni.tobytes()

    for n in range(2, order + 1):
        nb = _buckets(counts[n - 1], multiplier)
        keys = model.keys[n]
        if n < order:
            probs = enc_prob(model.probs[n], model.extends[n])
            payloads = [
                struct.pack("<2f", float(p), float(b))
                for p, b in zip(probs, model.backoffs[n])
            ]
        else:
            payloads = [
                struct.pack("<f", float(p))
                for p in model.probs[n].astype(np.float32)
            ]
        out += _probing_insert(
            nb, list(zip((int(k) for k in keys), payloads))
        ) if len(keys) else bytes(nb * (8 + (8 if n < order else 4)))

    # --- vocabulary strings, id order, NUL-joined (vocab.cc:67-79)
    by_id = sorted(model.vocab.items(), key=lambda kv: kv[1])
    assert by_id[0][0] == UNK
    for w, _ in by_id:
        out += w.encode("utf-8") + b"\x00"

    with open(path, "wb") as fh:
        fh.write(bytes(out))


def write_probing_from_arpa(arpa_path: str, path: str,
                            multiplier: float = DEFAULT_MULTIPLIER,
                            rest: bool = False,
                            unknown_logprob: float | None = None,
                            include_vocab: bool = True) -> None:
    """PROBING writer with build_binary's exact byte layout.

    Two facts the NGramModel-based :func:`write_binary` cannot
    reproduce (it keeps a sorted key view):

    * header counts and bucket sizing use the ORIGINAL ARPA counts —
      hallucinated blanks are inserted into the tables but never
      counted (lm/search_hashed.cc FindOrInsert into the
      already-allocated table);
    * collision placement depends on INSERTION ORDER: real grams in
      ARPA file order, blanks at their discovery position during the
      FindLower walk of later sections.

    This function reconstructs both from the ARPA text and emits files
    byte-identical to ``build_binary probing`` (tests/test_binary_writer
    fuzz vs the compiled reference). Values come from the parse (float32
    chain accumulation matches lm/search_hashed.cc AdjustLower).
    """
    import numpy as np

    from kenlm_spark.ngram.arpa import load_arpa_grams
    from kenlm_spark.ngram.hashing import combine_word_hash

    model, grams = load_arpa_grams(
        arpa_path, rest=rest, unknown_logprob=unknown_logprob
    )
    order = model.order
    aid = model.vocab
    arpa_counts = [len(grams[n]) for n in range(1, order + 1)]

    def gram_key(g):
        ids = [aid.get(w, 0) for w in g]
        h = ids[-1]
        for m in range(2, len(ids) + 1):
            h = combine_word_hash(h, ids[len(ids) - m])
        return h

    # insertion sequences: real grams in file order; blanks where the
    # FindLower walk of each later gram first creates them
    present: dict[int, set] = {n: set() for n in range(2, order + 1)}
    seq: dict[int, list] = {n: [] for n in range(2, order + 1)}
    for n in range(2, order + 1):
        for g in grams[n]:
            k = gram_key(g)
            if k not in present[n]:
                present[n].add(k)
                seq[n].append(k)
            blank_orders = []
            for m in range(n - 1, 0, -1):
                if m == 1 or gram_key(g[n - m:]) in present[m]:
                    break
                blank_orders.append(m)
            for m in sorted(blank_orders):
                km = gram_key(g[n - m:])
                present[m].add(km)
                seq[m].append(km)

    V = len(model.vocab)  # includes the synthesized <unk> when absent
    out = bytearray()
    out += MAGIC + b"\x00" * (_MAGIC_FIELD - len(MAGIC))
    out += struct.pack("<3f", 0.0, 1.0, -0.5)
    out += struct.pack("<3I", 1, 0xFFFFFFFF, 0)
    out += struct.pack("<Q", 1)
    out += struct.pack("<B3x", order)
    out += struct.pack("<f", multiplier)
    out += struct.pack("<i", 1 if rest else PROBING)  # REST_PROBING = 1
    out += struct.pack("<B3x", 1 if include_vocab else 0)
    out += struct.pack("<I", 0)
    out += struct.pack(f"<{order}Q", *arpa_counts)
    out += b"\x00" * (_align8(len(out)) - len(out))

    # header counts stay the ARPA counts; the vocab bound counts the
    # synthesized <unk> (build_binary COMPLAIN path: "<unk> missing,
    # substituting -100"), and the unigram array is counts[0]+1 slots
    out += struct.pack("<2I", 0, V)  # ProbingVocabulary header
    vbuckets = _buckets(arpa_counts[0], multiplier)
    ventries = [
        (murmur_hash64a(w.encode("utf-8")), struct.pack("<I", wid))
        for w, wid in model.vocab.items()
        if w != UNK
    ]
    out += _probing_insert(vbuckets, ventries)

    def enc_prob(prob: np.ndarray, ext: np.ndarray) -> np.ndarray:
        # the reference stores probs AS READ (<= 0, so the sign bit is
        # naturally set) and only CLEARS it via MarkExtends — it never
        # forces it, so a literal "0.0" prob (<s>) stays +0.0 and reads
        # back as extends-left (bug-compatible byte parity)
        bits = prob.astype(np.float32).view(np.uint32)
        return np.where(ext, bits & np.uint32(0x7FFFFFFF), bits).view(
            np.float32
        )

    if rest:
        uni = np.zeros(
            arpa_counts[0] + 1,
            dtype=np.dtype([("p", "<f4"), ("b", "<f4"), ("r", "<f4")]),
        )
        uni["r"][:V] = model.uni_rest
    else:
        uni = np.zeros(arpa_counts[0] + 1,
                       dtype=np.dtype([("p", "<f4"), ("b", "<f4")]))
    uni["p"][:V] = enc_prob(model.uni_prob, model.uni_extends)
    uni["b"][:V] = model.uni_backoff
    out += uni.tobytes()

    for n in range(2, order + 1):
        nb = _buckets(arpa_counts[n - 1], multiplier)
        keys = np.fromiter(
            (np.uint64(k) for k in seq[n]), dtype=np.uint64, count=len(seq[n])
        )
        pos = np.searchsorted(model.keys[n], keys)
        if n < order:
            probs = enc_prob(
                model.probs[n][pos], model.extends[n][pos]
            )
            if rest:
                payloads = [
                    struct.pack("<3f", float(p), float(b), float(r))
                    for p, b, r in zip(
                        probs, model.backoffs[n][pos], model.rests[n][pos]
                    )
                ]
            else:
                payloads = [
                    struct.pack("<2f", float(p), float(b))
                    for p, b in zip(probs, model.backoffs[n][pos])
                ]
        else:
            payloads = [
                struct.pack("<f", float(p))
                for p in model.probs[n][pos].astype(np.float32)
            ]
        assert len(seq[n]) < nb, "blank overflow past table capacity"
        out += _probing_insert(nb, list(zip((int(k) for k in seq[n]), payloads)))

    if include_vocab:  # strings omitted by build_binary -v
        by_id = sorted(model.vocab.items(), key=lambda kv: kv[1])
        assert by_id[0][0] == UNK
        for w, _ in by_id:
            out += w.encode("utf-8") + b"\x00"

    with open(path, "wb") as fh:
        fh.write(bytes(out))
