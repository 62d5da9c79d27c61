"""Expected outputs, computed without Spark, and the checks against them.

* caption filtering (``filter``, and the LM build under the model it
  estimated): keep, drop_reason and scrubbed_caption of a seeded sample
  equal ``tests/oracle_filter.reference_row`` (the program's row-by-row
  pure-Python reference); the row count, and for ``filter`` the observed
  keep/drop/scrub totals, equal a recount of the committed snapshot.
* dedup (``curate``): components equal a union-find over the same verified
  pairs, every verified pair's Jaccard is recomputed from the text, each
  planted cluster is exactly one component, and exact-duplicate groups and
  contamination counts equal plain-Python recomputations.

Snapshots are read with pyarrow, never through the program.
"""

from __future__ import annotations

import hashlib
import re
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

#: The reference tokenizer's delimiter set (NUL, tab, LF, CR, space).
DELIMS = re.compile("[\x00\t\n\r ]+")
SAMPLE = 300
SAMPLE_SEED = 20240917


class CheckFailed(AssertionError):
    """An output differs from its expectation."""


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _tokens(text: str | None) -> list[str]:
    return [t for t in DELIMS.split(text or "") if t]


def _sample(n: int) -> np.ndarray:
    return np.random.default_rng(SAMPLE_SEED).choice(n, size=min(SAMPLE, n), replace=False)


# ---------------------------------------------------------- caption filter


def _reference(ids, captions, model) -> dict:
    from tests.oracle_filter import reference_row

    out = {}
    for i in _sample(len(ids)):
        ref = reference_row(model, captions[i])
        out[ids[i]] = (ref["keep"], ref["drop_reason"], ref["scrubbed_caption"])
    return out


def filter_reference(images_dir: str, model) -> dict:
    t = pq.read_table(images_dir, columns=["image_id", "caption"])
    return _reference(t["image_id"].to_pylist(), t["caption"].to_pylist(), model)


def lm_reference(docs_dir: str, model) -> dict:
    t = pq.read_table(docs_dir, columns=["doc_id", "text"])
    ids = [str(i) for i in t["doc_id"].to_pylist()]
    return _reference(ids, t["text"].to_pylist(), model)


def check_decisions(data_path: str, rows: int, expected: dict) -> dict:
    """Row count and sampled decisions of a committed snapshot; returns the
    snapshot's keep/drop/scrub recount."""
    t = pq.read_table(data_path, columns=["image_id", "caption", "keep",
                                          "drop_reason", "scrubbed_caption"])
    _expect(t.num_rows == rows, f"snapshot has {t.num_rows} rows, expected {rows}")
    cols = {c: t[c].to_pylist() for c in t.column_names}
    got = {i: (k, r, s) for i, k, r, s in zip(
        cols["image_id"], cols["keep"], cols["drop_reason"], cols["scrubbed_caption"])}
    for image_id, want in expected.items():
        _expect(got.get(image_id) == want,
                f"{image_id}: got {got.get(image_id)}, reference {want}")
    keep = sum(bool(k) for k in cols["keep"])
    return {
        "n_rows": t.num_rows,
        "n_keep": keep,
        "n_drop": t.num_rows - keep,
        "n_scrubbed": sum(s != (c or "") for s, c in zip(
            cols["scrubbed_caption"], cols["caption"])),
    }


def check_filter_snapshot(data_path: str, totals: dict, rows: int, expected: dict) -> None:
    recount = check_decisions(data_path, rows, expected)
    for k, v in recount.items():
        _expect(totals[k] == v, f"observed {k}={totals[k]}, snapshot recount {v}")


def kernel_tokens_per_s(images_dir: str, model, n: int = 5000, reps: int = 5) -> float:
    """In-driver ``NGramModel.score_batch`` over a seeded sample of at most
    ``n`` captions: scored tokens (words plus </s>) per second, median of
    ``reps``."""
    captions = pq.read_table(images_dir, columns=["caption"])["caption"].to_pylist()
    pick = np.random.default_rng(SAMPLE_SEED).choice(
        len(captions), size=min(n, len(captions)), replace=False)
    ids = [model.map_ids(_tokens(captions[i])) for i in pick]
    tokens = sum(len(x) + 1 for x in ids)
    model.score_batch(ids)  # per-process kernel load and index build
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        model.score_batch(ids)
        times.append(time.perf_counter() - t0)
    return tokens / statistics.median(times)


# ------------------------------------------------------------------- dedup


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(text: str, k: int) -> set[str]:
    toks = _tokens(text.lower())
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}


def dedup_reference(docs_dir: str, heldout_dir: str, planted: dict) -> dict:
    docs = pq.read_table(docs_dir)
    ids, texts = docs["doc_id"].to_pylist(), docs["text"].to_pylist()
    held = set()
    for t in pq.read_table(heldout_dir)["text"].to_pylist():
        held |= _shingles(t, 5)
    groups: dict[str, list[int]] = defaultdict(list)
    for i, t in zip(ids, texts):
        groups[DELIMS.sub(" ", t.lower())].append(i)
    overlap = {i: len(_shingles(t, 5) & held) for i, t in zip(ids, texts)}
    _expect(all(overlap[i] > 0 for i in planted["leaked"]), "a planted leak has no overlap")
    return {
        "texts": dict(zip(ids, texts)),
        "clusters": [frozenset(c["ids"]) for c in planted["clusters"]],
        "exact": sorted((_h60(g), len(m), min(m)) for g, m in groups.items()),
        "contamination": sorted((i, n, n > 0) for i, n in overlap.items()),
    }


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: vertex → minimum vertex id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def check_dedup(path: str, pairs: list[tuple[int, int, float]], expected: dict) -> None:
    texts = expected["texts"]
    for a, b, jac in pairs:
        sa, sb = _shingles(texts[a], 3), _shingles(texts[b], 3)
        want = len(sa & sb) / len(sa | sb)
        _expect(a < b and jac >= 0.7 and abs(jac - want) < 1e-6,
                f"pair ({a}, {b}) jaccard {jac}, recomputed {want}")
    comp = components([(a, b) for a, b, _ in pairs])
    t = pq.read_table(f"{path}/components")
    got = dict(zip(t["id"].to_pylist(), t["comp"].to_pylist()))
    _expect(got == comp, "components differ from union-find over the same pairs")
    members: dict[int, set] = defaultdict(set)
    for v, c in comp.items():
        members[c].add(v)
    for cluster in expected["clusters"]:
        c = comp.get(min(cluster))
        _expect(c is not None and members[c] == cluster,
                f"planted cluster of {len(cluster)} (min id {min(cluster)}) not recovered")
    t = pq.read_table(f"{path}/keep")
    keep = dict(zip(t["doc_id"].to_pylist(), t["keep"].to_pylist()))
    _expect(keep == {i: comp.get(i, i) == i for i in texts}, "canonical keep differs")
    t = pq.read_table(f"{path}/exact")
    exact = sorted(zip(t["text_hash"].to_pylist(), t["n_docs"].to_pylist(),
                       t["keep_id"].to_pylist()))
    _expect(exact == expected["exact"], "exact-duplicate groups differ")
    t = pq.read_table(f"{path}/contamination")
    cont = sorted(zip(t["doc_id"].to_pylist(), t["n_overlap"].to_pylist(),
                      t["contaminated"].to_pylist()))
    _expect(cont == expected["contamination"], "contamination counts differ")
