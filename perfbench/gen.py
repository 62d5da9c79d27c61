"""Seeded inputs for the benchmark's workloads.

Everything here is a pure function of ``(workload, seed)``: the same seed
writes byte-identical parquet files and ARPA text. Nothing in this module
imports the program under test; the program only ever sees the files.

* ``filter``   — an ``(image_id, bytes, w, h, fmt, caption, phash)`` table
  split into more parquet files than cores, plus a trigram ARPA model
  estimated here (absolute discounting) from a seeded training corpus whose
  vocabulary and higher orders exceed the scorer's 16,384-keys-per-order
  probing-index crossover.
* ``curate``   — ``docs``, a ``(doc_id, text)`` corpus with planted
  near-duplicate clusters (cliques and edit chains, heavy-tailed sizes),
  plus a held-out ``heldout`` slice with planted leaked passages.

``filter`` also holds, under ``probe/lm``, a small caption corpus the
program estimates a model from and filters with it: its traced run measures
there the layers that neither workload's own job calls.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows (documents) per workload, fixed so a seed alone names the inputs.
SIZES = {"filter": 20_000, "dedup": 4_000}
#: Sizes of the small inputs under ``probe/`` on which a traced run
#: measures the layers that no workload's own job calls.
PROBE_SIZES = {"lm": 300}
#: Seed of the layout of every input (caption kinds and lengths, the dedup
#: corpus's clusters), the same for every run seed, so the work of a run
#: does not depend on its seed.
LAYOUT_SEED = 20240917
#: Parquet files per table: more scan splits than the 4 local cores.
N_FILES = 12

EN_STOP = "the a an and of to in is on with for it this that was as at by are be".split()
# Every language profile of the program's language-ID, so synthetic content
# words never collide with a stopword of any language.
ALL_STOP = set(
    EN_STOP
    + "der die das und ist ein eine mit von zu auf nicht im den dem des als auch".split()
    + "le la les et un une est dans pour que qui au du sur pas je vous avec ce".split()
    + "el los las y un una es en que por para con del no se su al lo como".split()
    + "il lo gli di un una che per con non si sono della nel alla dei".split()
    + "o os um uma em para com do da mais foi sao pelo na nos".split()
    + "de het een en van is op met voor niet aan bij ook naar uit zijn".split()
)
NON_EN = [
    "der hund ist auf dem tisch und die katze auch nicht",
    "le chat est dans la maison et il dort pas mal",
    "el perro es muy grande y en la casa con los ninos",
    "il gatto sulla sedia e non si muove per niente",
    "o cachorro muito bonito em casa com a familia",
    "de hond is in het park en hij loopt met de baas",
]
PII = [
    "contact me at jane.roe{n}@example.com for details",
    "call 555-{n:03d}-4567 now",
    "visit https://example.com/item?id={n} today",
    "my ssn is 123-45-{n:04d} ok",
    "card 4111 1111 1111 {n:04d} expires soon",
    "server at 10.0.{m}.{m} is down",
]
TOXIC = ["damn", "hell", "crap", "shit"]

_CONS = list("bcdfghjklmnprstvz")
_VOW = list("aeiou")


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words of 4-9 letters that are
    no language's stopword."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = 2 * (n - len(words)) + 64
        syllables = rng.integers(2, 4, m)
        cons = rng.integers(len(_CONS), size=(m, 4))
        vows = rng.integers(len(_VOW), size=(m, 3))
        closed = rng.random(m) < 0.3
        for j in range(m):
            k = int(syllables[j])
            w = "".join(_CONS[cons[j, i]] + _VOW[vows[j, i]] for i in range(k))
            if closed[j]:
                w += _CONS[cons[j, 3]]
            if w not in seen and w not in ALL_STOP:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class _Sentences:
    """English-like token stream: a stopword about a third of the time,
    otherwise a Zipf-distributed content word."""

    def __init__(self, rng: np.random.Generator, vocab: list[str], s: float = 1.05):
        self.rng = rng
        self.vocab = vocab
        self.cdf = np.cumsum(_zipf_weights(len(vocab), s))

    def tokens(self, k: int) -> list[str]:
        rng = self.rng
        stop = rng.random(k) < 0.33
        stops = rng.integers(0, len(EN_STOP), k)
        idx = np.searchsorted(self.cdf, rng.random(k) * self.cdf[-1])
        idx = np.minimum(idx, len(self.vocab) - 1)
        return [
            EN_STOP[int(s)] if is_stop else self.vocab[int(i)]
            for is_stop, s, i in zip(stop, stops, idx)
        ]


def _zipf_len(rng: np.random.Generator, lo: int, cap: int, a: float = 1.8) -> int:
    return int(min(lo + rng.zipf(a) * 2, cap))


# ------------------------------------------------------------------ model


def estimate_arpa(sentences: list[list[str]], vocab: list[str], path: str,
                  discount: float = 0.7) -> dict:
    """Trigram ARPA by absolute discounting: p(w|h) = (c(hw) - D) / c(h.),
    backoff(h) = D * N1+(h.) / c(h.); every vocabulary word is a unigram
    (add-one), so the unigram order is the full vocabulary."""
    uni: Counter = Counter()
    grams = {2: Counter(), 3: Counter()}
    for toks in sentences:
        seq = ["<s>"] + toks + ["</s>"]
        uni.update(seq[1:])
        for n in (2, 3):
            for i in range(len(seq) - n + 1):
                grams[n][tuple(seq[i : i + n])] += 1
    ctx_total: dict[int, dict] = {n: defaultdict(int) for n in (2, 3)}
    ctx_types: dict[int, dict] = {n: defaultdict(int) for n in (2, 3)}
    for n in (2, 3):
        for g, c in grams[n].items():
            ctx_total[n][g[:-1]] += c
            ctx_types[n][g[:-1]] += 1

    def bo(ctx: tuple) -> float:
        n = len(ctx) + 1
        if n > 3 or ctx not in ctx_total[n]:
            return 0.0
        return float(np.log10(discount * ctx_types[n][ctx] / ctx_total[n][ctx]))

    words = ["<unk>", "<s>", "</s>"] + sorted(set(vocab) | set(EN_STOP))
    total = sum(uni.values()) + len(words)
    lines = {1: [], 2: [], 3: []}
    for w in words:
        if w == "<s>":
            p = -99.0
        else:
            p = float(np.log10((uni.get(w, 0) + 1) / total))
        lines[1].append(f"{p:.6f}\t{w}\t{bo((w,)):.6f}")
    for n in (2, 3):
        for g in sorted(grams[n]):
            c = grams[n][g]
            p = float(np.log10((c - discount) / ctx_total[n][g[:-1]]))
            text = " ".join(g)
            if n < 3:
                lines[n].append(f"{p:.6f}\t{text}\t{bo(g):.6f}")
            else:
                lines[n].append(f"{p:.6f}\t{text}")
    with open(path, "w") as fh:
        fh.write("\\data\\\n")
        for n in (1, 2, 3):
            fh.write(f"ngram {n}={len(lines[n])}\n")
        for n in (1, 2, 3):
            fh.write(f"\n\\{n}-grams:\n")
            fh.write("\n".join(lines[n]) + "\n")
        fh.write("\n\\end\\\n")
    return {f"model_{n}grams": len(lines[n]) for n in (1, 2, 3)}


# ------------------------------------------------------------------ tables


def _write_table(columns: dict, schema: pa.Schema, out_dir: str) -> None:
    """Write ``columns`` as N_FILES parquet files of contiguous row ranges."""
    os.makedirs(out_dir)
    table = pa.Table.from_pydict(columns, schema=schema)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


IMAGES_SCHEMA = pa.schema(
    [
        pa.field("image_id", pa.string(), nullable=False),
        pa.field("bytes", pa.binary()),
        pa.field("w", pa.int32()),
        pa.field("h", pa.int32()),
        pa.field("fmt", pa.string()),
        pa.field("caption", pa.string()),
        pa.field("phash", pa.int64()),
    ]
)
DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.int64()), pa.field("text", pa.string())])


def _captions(layout: np.random.Generator, sent: _Sentences, n: int) -> list[str]:
    """The caption mix of the program's own synthetic table: in-vocab
    English of Zipfian length, OOV injections, non-English, PII, toxic,
    junk, very long, empty and short captions. ``layout`` draws each
    caption's kind and length, the same for every seed, so a run's work
    does not depend on the seed; the seed's ``sent`` draws the words and
    numbers."""
    rng = sent.rng
    out = []
    for _ in range(n):
        r = layout.random()
        if r < 0.55:
            caption = " ".join(sent.tokens(_zipf_len(layout, 3, 200)))
        elif r < 0.65:
            toks = sent.tokens(_zipf_len(layout, 3, 40))
            for _ in range(int(layout.integers(1, 4))):
                toks.insert(int(rng.integers(0, len(toks) + 1)),
                            f"zqx{int(rng.integers(0, 99999))}")
            caption = " ".join(toks)
        elif r < 0.73:
            caption = NON_EN[int(layout.integers(len(NON_EN)))]
        elif r < 0.81:
            snippet = PII[int(layout.integers(len(PII)))]
            caption = " ".join(sent.tokens(5)) + " " + snippet.format(
                n=int(rng.integers(0, 999)), m=int(rng.integers(0, 255))
            )
        elif r < 0.85:
            toks = sent.tokens(6)
            toks.insert(3, TOXIC[int(layout.integers(len(TOXIC)))])
            caption = " ".join(toks)
        elif r < 0.90:
            kind = int(layout.integers(0, 3))
            if kind == 0:
                caption = " ".join(str(int(x)) for x in rng.integers(0, 9999, 8))
            elif kind == 1:
                caption = " ".join([sent.tokens(1)[0]] * int(layout.integers(8, 20)))
            else:
                caption = " ".join(t.upper() for t in sent.tokens(12))
        elif r < 0.93:
            caption = " ".join(sent.tokens(int(layout.integers(256, 640))))
        elif r < 0.96:
            caption = "" if layout.random() < 0.5 else "   "
        else:
            caption = " ".join(sent.tokens(2))
        out.append(caption)
    return out


def gen_filter(seed: int, out: str) -> dict:
    n = SIZES["filter"]
    layout = np.random.default_rng([LAYOUT_SEED, 1])
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, 20_000)
    sent = _Sentences(rng, vocab)
    training = [sent.tokens(_zipf_len(layout, 4, 40)) for _ in range(7_000)]
    stats = estimate_arpa(training, vocab, os.path.join(out, "model.arpa"))
    captions = _captions(layout, sent, n)
    w = rng.integers(8, 17, n).astype(np.int32)
    h = rng.integers(8, 17, n).astype(np.int32)
    base = rng.integers(0, 256, (n, 3))
    images = []
    for i in range(n):
        xs = np.arange(int(w[i]) * int(h[i]) * 3)
        images.append(((base[i][xs % 3] + xs // 3) % 256).astype(np.uint8).tobytes())
    _write_table(
        {
            "image_id": [f"img{i:08d}" for i in range(n)],
            "bytes": images,
            "w": w,
            "h": h,
            "fmt": ["raw"] * n,
            "caption": captions,
            "phash": rng.integers(-(2**62), 2**62, n),
        },
        IMAGES_SCHEMA,
        os.path.join(out, "images"),
    )
    stats.update(_text_stats(captions))
    stats["training_tokens"] = sum(len(t) for t in training)
    return stats


def gen_lm(seed: int, out: str, n: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng, 2_000)
    texts = _captions(np.random.default_rng([LAYOUT_SEED, 2]), _Sentences(rng, vocab), n)
    _write_table(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts},
        DOCS_SCHEMA,
        os.path.join(out, "docs"),
    )
    return _text_stats(texts)


def gen_dedup(seed: int, out: str) -> dict:
    """Corpus of 60-token documents over a flat vocabulary (unrelated
    documents share no shingles) with planted duplicate clusters:

    * cliques — a base document plus copies with 0 or 1 substituted token
      (0 makes an exact duplicate);
    * edit chains — each member substitutes one token of the previous one;
      members more than 3 steps apart fall below the 0.7 shingle-Jaccard
      threshold, so label propagation needs several rounds.

    Cluster sizes are Zipfian (2..24; chains capped at 8). The layout (each
    cluster's kind and size) is the same for every seed, so pair and round
    counts, and with them the work of a run, do not depend on the seed; the
    seed picks the words, the edits and the doc ids. A chain's ids rise
    along it, so its canonical (minimum) id sits at one end and label
    propagation needs the most rounds. The held-out slice (a tenth of the
    corpus's size) copies a 10-token passage from a corpus document into a
    fifth of its documents (planted leaks)."""
    n = SIZES["dedup"]
    layout = np.random.default_rng(LAYOUT_SEED)
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng, 20_000)
    doc_len = 60

    def doc() -> list[str]:
        return [vocab[int(i)] for i in rng.integers(0, len(vocab), doc_len)]

    def substitute(toks: list[str], k: int) -> list[str]:
        toks = list(toks)
        for p in rng.choice(doc_len, size=k, replace=False):
            toks[int(p)] = vocab[int(rng.integers(len(vocab)))]
        return toks

    texts: list[list[str]] = []
    clusters: list[tuple[str, list[int]]] = []
    while len(texts) < n * 0.4:
        chain = layout.random() < 0.35
        size = int(min(1 + layout.zipf(1.7), 8 if chain else 24))
        members = [doc()]
        for _ in range(size - 1):
            prev = members[-1] if chain else members[0]
            members.append(substitute(prev, 1 if chain else int(rng.integers(0, 2))))
        clusters.append(("chain" if chain else "clique",
                          list(range(len(texts), len(texts) + size))))
        texts.extend(members)
    while len(texts) < n:
        texts.append(doc())
    # random doc ids, so a clique's canonical (minimum) id is anywhere in it
    ids = rng.permutation(len(texts)).astype(np.int64)
    for kind, members in clusters:
        if kind == "chain":
            ids[members] = np.sort(ids[members])
    clusters_out = [
        {"kind": kind, "ids": sorted(int(ids[i]) for i in members)}
        for kind, members in clusters
    ]
    order = np.argsort(ids)
    _write_table(
        {"doc_id": ids[order], "text": [" ".join(texts[i]) for i in order]},
        DOCS_SCHEMA,
        os.path.join(out, "docs"),
    )
    heldout, leaked = [], []
    for j in range(n // 10):
        toks = doc()[:40]
        if j % 5 == 0:
            src = int(rng.integers(len(texts)))
            start = int(rng.integers(0, doc_len - 10))
            toks[10:20] = texts[src][start : start + 10]
            leaked.append(int(ids[src]))
        heldout.append(" ".join(toks))
    _write_table(
        {"doc_id": np.arange(len(heldout), dtype=np.int64) + 10**9, "text": heldout},
        DOCS_SCHEMA,
        os.path.join(out, "heldout"),
    )
    with open(os.path.join(out, "planted.json"), "w") as fh:
        json.dump({"clusters": clusters_out, "leaked": sorted(set(leaked))}, fh)
    sizes = [len(c["ids"]) for c in clusters_out]
    stats = _text_stats([" ".join(t) for t in texts])
    stats.update(
        clusters=len(sizes),
        cluster_size_max=max(sizes),
        cluster_size_mean=round(float(np.mean(sizes)), 3),
        chain_share=round(sum(c["kind"] == "chain" for c in clusters_out) / len(sizes), 3),
        clustered_docs=sum(sizes),
        heldout_docs=len(heldout),
        leaked_docs=len(set(leaked)),
    )
    return stats


def _text_stats(texts: list[str]) -> dict:
    lens = np.array([len(t.split()) for t in texts])
    vocab = {w for t in texts for w in t.split()}
    q = np.quantile(lens, [0.5, 0.9, 0.99]) if len(lens) else [0, 0, 0]
    return {
        "rows": len(texts),
        "tokens": int(lens.sum()),
        "vocabulary": len(vocab),
        "len_p50": float(q[0]),
        "len_p90": float(q[1]),
        "len_p99": float(q[2]),
        "len_max": int(lens.max()) if len(lens) else 0,
    }


def _probes(seed: int, out: str, **parts) -> dict:
    """Each part's small inputs under ``probe/<part>``."""
    stats = {}
    for part, fn in parts.items():
        path = os.path.join(out, "probe", part)
        os.makedirs(path)
        stats.update({f"probe_{part}_{k}": v
                      for k, v in fn(seed, path, PROBE_SIZES[part]).items()})
    return stats


def gen_filter_inputs(seed: int, out: str) -> dict:
    stats = gen_filter(seed, out)
    stats.update(_probes(seed, out, lm=gen_lm))
    return stats


GENERATORS = {"filter": gen_filter_inputs, "curate": gen_dedup}


def version() -> str:
    """Hash of this generator's source and sizes, so that inputs cached by
    another version of it are never reused."""
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    h.update(json.dumps([SIZES, PROBE_SIZES, LAYOUT_SEED, N_FILES]).encode())
    return h.hexdigest()[:16]


def inputs(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Directory holding ``workload``'s inputs for ``seed`` (generated on the
    first call, then reused), and their stats."""
    path = os.path.join(cache_root, f"{workload}-seed{seed}-{version()}")
    stats_path = os.path.join(path, "stats.json")
    if not os.path.exists(stats_path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        stats = GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "stats.json"), "w") as fh:
            json.dump(stats, fh, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(stats_path) as fh:
        return path, json.load(fh)


if __name__ == "__main__":
    import sys

    path, stats = inputs(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({"path": path, "stats": stats}))
