"""Tests for dedup / similarity / ngram operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_duplicates_catches_planted(spark):
    from kenlm_spark.operators.dedup import exact_duplicates

    rows = [(1, "a b c"), (2, "a  b\tc"), (3, "different text"), (4, "A b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["keep_id"]: r["n_docs"] for r in exact_duplicates(df).collect()}
    # 1,2,4 normalize to "a b c" (whitespace collapsed, lowercased)
    assert out[1] == 3
    assert out[3] == 1


def test_minhash_finds_planted_near_dups(spark):
    from kenlm_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " ok"),  # near-dup of 1
        (3, "completely unrelated words about spark query planning"),
        (4, base.replace("quick", "quick very") + " ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.4).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_bucket_guard_prefilters_and_keeps_one_exchange(spark):
    """r5 OOM guard: the (band, bucket) size filter runs BEFORE
    collect_list via a window count sharing the groupBy's hash
    partitioning — oversized buckets never reach the aggregation list
    buffer, and the plan still has exactly ONE Exchange (the window's)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        (F.col("id") % 5).alias("band"),
        (F.col("id") % 7).alias("bucket"),
        "id",
    )
    w = Window.partitionBy("band", "bucket")
    out = (
        df.withColumn("_n", F.count(F.lit(1)).over(w))
        .filter((F.col("_n") > 1) & (F.col("_n") <= 10))
        .groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("Exchange") == 1
    # and FilterExec sits below the aggregate (guard precedes the list)
    assert final.index("Filter") > final.index("HashAggregate") or \
        "ObjectHashAggregate" in final


def test_minhash_degenerate_bucket_dropped(spark):
    """A boilerplate mega-bucket (all-identical docs) is dropped by
    max_bucket BEFORE list materialization; distinct docs still pair."""
    from kenlm_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, "boilerplate header text repeated verbatim") for i in range(40)]
    rows += [(100, base), (101, base + " ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, jaccard_threshold=0.4, max_bucket=10
        ).collect()
    }
    assert (100, 101) in pairs
    assert not any(a < 100 for a, _ in pairs)


def test_simhash_hamming_for_near_text(spark):
    from kenlm_spark.operators.dedup import simhash

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    near = bin(sigs[1] ^ sigs[2]).count("1")
    far = bin(sigs[1] ^ sigs[3]).count("1")
    assert near < far


def test_lsh_recall_vs_exact(spark, emb):
    from kenlm_spark.operators.similarity import brute_force_topk, lsh_bucket_topk

    qids = list(range(8))
    exact = brute_force_topk(emb, qids, k=10).collect()
    approx = lsh_bucket_topk(emb, qids, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # 8 tables x 4 planes


def test_simhash_near_pairs_exact_recall(spark, docs):
    """Banded candidate generation must find EVERY pair with Hamming <=
    max_hamming (pigeonhole over max_hamming+1 bands) — compared against
    a brute-force all-pairs popcount over the same fingerprints. The
    round-1 two-byte-band scheme fails this for distance-2/3 pairs whose
    differing bits straddle both bands."""
    from itertools import combinations

    from kenlm_spark.operators.dedup import simhash, simhash_near_pairs

    sigs = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    brute = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r["id_a"], r["id_b"]) for r in simhash_near_pairs(docs).collect()
    }
    assert banded == brute


def test_simhash_near_pairs_straddling_bits(spark):
    """Planted Hamming-2 pair whose differing bits live in different
    15-bit bands: a correct scheme must still surface it (any distance-2
    pair differs in at most 2 of the 4 bands, so >=2 bands agree)."""
    from kenlm_spark.operators.dedup import simhash, simhash_near_pairs

    # Find two word swaps that flip bits in different bands by searching
    # deterministic candidate texts against the real fingerprint fn.
    base_words = [f"w{i}" for i in range(40)]
    rows = [(0, " ".join(base_words))]
    cand_id = 1
    for i in range(40):
        words = list(base_words)
        words[i] = f"alt{i}"
        rows.append((cand_id, " ".join(words)))
        cand_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    base_sig = sigs[0]
    # pick planted ids whose fingerprints are Hamming 1-3 from the base
    # with differing bits spread across distinct 15-bit bands
    near = {
        i: bin(sigs[i] ^ base_sig).count("1")
        for i in sigs
        if i != 0 and 1 <= bin(sigs[i] ^ base_sig).count("1") <= 3
    }
    straddlers = [
        i
        for i in near
        if len({b // 15 for b in range(60) if (sigs[i] ^ base_sig) >> b & 1})
        > 1
    ]
    assert straddlers, "synthetic corpus produced no straddling near-pair"
    found = {
        (r["id_a"], r["id_b"]) for r in simhash_near_pairs(df).collect()
    }
    for i in straddlers:
        assert (0, i) in found


def test_embedding_lsh_dedup_finds_planted(spark):
    """Near-identical vectors (cosine → 1) land in the same bucket in
    essentially every table (P(miss) ≈ (θ/π · planes)^tables), so the LSH
    path must surface them; unrelated vectors must not appear."""
    from kenlm_spark.operators.similarity import embedding_near_dups

    rng = np.random.RandomState(7)
    base = rng.randn(64)
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in base + 1e-4 * rng.randn(64)]),  # planted dup
        (3, [float(x) for x in rng.randn(64)]),
        (4, [float(x) for x in rng.randn(64)]),
        (5, [float(x) for x in -base]),  # anti-correlated, never a dup
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in embedding_near_dups(df, threshold=0.95, use_lsh=True).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    assert all(p == (1, 2) for p in pairs)


def test_embedding_lsh_dedup_subset_of_exact(spark, emb):
    """LSH candidates verified exactly → every reported pair must also be
    in the exact O(n²) result with an identical score (no false positives),
    and planted-quality recall at this θ must be high."""
    from kenlm_spark.operators.similarity import embedding_near_dups

    lsh = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in embedding_near_dups(emb, threshold=0.4, use_lsh=True).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in embedding_near_dups(emb, threshold=0.4, use_lsh=False).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[p] == s for p, s in lsh.items())


def test_embedding_lsh_bucket_verify_identical(spark, emb):
    """The opt-in per-bucket vectorized verify (pair-dense regime) must
    return the EXACT (id_a, id_b, score) set of the default id-only-band
    + Catalyst-fold path — including score values bit-for-bit."""
    from kenlm_spark.operators.similarity import embedding_near_dups

    default = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in embedding_near_dups(
            emb, threshold=0.4, use_lsh=True, n_planes=8
        ).collect()
    }
    bucket = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in embedding_near_dups(
            emb, threshold=0.4, use_lsh=True, n_planes=8,
            bucket_verify=True,
        ).collect()
    }
    assert default == bucket and len(default) > 0


def test_seq_cos_blocks_matches_per_pair_seq_dot():
    """The one blocked cosine verify equals per-pair ``_seq_dot`` rounding
    bit for bit.  1,300 columns give 961-row blocks, so the 1,300 rows
    cross a block boundary.  Entries span 12 decades, so a dot summed in
    any other order (a BLAS matmul, say) rounds differently."""
    from kenlm_spark.operators.similarity import _seq_cos_blocks, _seq_dot

    rng = np.random.default_rng(5)
    scale = 10.0 ** rng.integers(-3, 9, (1300, 20))
    v = rng.standard_normal((1300, 20)) * scale
    blocks = list(_seq_cos_blocks(v, v))
    starts = [s for s, _ in blocks]
    assert len(blocks) > 1
    assert starts == [0, *np.cumsum([len(b) for _, b in blocks])[:-1]]
    got = np.concatenate([b for _, b in blocks])
    want = np.stack(
        [np.round(_seq_dot(np.broadcast_to(r, v.shape), v), 6) for r in v]
    )
    assert np.array_equal(got.view(np.uint64), want.view(np.uint64))


def test_embedding_exact_path_size_guard(spark):
    """The exact O(n²) path must fail fast above max_exact_rows instead of
    silently cross-joining an arbitrarily large DataFrame; use_lsh=True
    and an explicitly raised guard both proceed."""
    from kenlm_spark.operators.similarity import embedding_near_dups

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="use_lsh=True"):
        embedding_near_dups(df, max_exact_rows=10)
    # explicit override keeps the old contract reachable
    embedding_near_dups(df, max_exact_rows=100).collect()
    # the LSH scale path never hits the guard
    embedding_near_dups(df, use_lsh=True, max_exact_rows=10).collect()


def test_pandas_topk_matches_catalyst(spark, emb):
    from kenlm_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_pandas,
    )

    qids = [0, 1, 2]
    qrows = (
        emb.filter(F.col("vec_id").isin(qids))
        .orderBy("vec_id")
        .collect()
    )
    qvecs = np.array([list(r["embedding"]) for r in qrows])
    a = brute_force_topk(emb, qids, k=5).collect()
    b = brute_force_topk_pandas(emb, qvecs, qids, k=5).collect()
    sa = {(r["query_id"], r["neighbor_id"]) for r in a}
    sb = {(r["query_id"], r["neighbor_id"]) for r in b}
    # Allow boundary ties to differ on at most one neighbor per query.
    assert len(sa & sb) >= len(sa) - len(qids)


def test_langid_nb_learns_crafted_languages(spark):
    """On data where the label actually correlates with character
    distributions, the in-engine NB must learn it (the sf testdata's
    lang labels are uncorrelated with its synthetic text, so accuracy
    there is bounded by the majority prior — this pins real learning)."""
    from kenlm_spark.filtering.langid_nb import (
        predict_langid_nb,
        train_langid_nb,
    )

    rng = np.random.RandomState(5)
    alphabets = {"aa": "abcde", "bb": "nopqr", "cc": "vwxyz"}
    rows = []
    i = 0
    for lang, alpha in alphabets.items():
        for _ in range(30):
            words = [
                "".join(rng.choice(list(alpha), size=rng.randint(3, 8)))
                for _ in range(12)
            ]
            rows.append((i, " ".join(words), lang))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    weights, priors = train_langid_nb(docs)
    pred = {
        r["id"]: r["lang_nb"]
        for r in predict_langid_nb(docs, weights, priors).collect()
    }
    correct = sum(1 for did, _, lang in rows if pred[did] == lang)
    assert correct / len(rows) >= 0.95


def test_phrase_filter_sql_parity_randomized():
    """The recursive-CTE coverage DP (oracle) and the Python DP are
    independent implementations — they must agree on random word tuples."""
    import duckdb

    from kenlm_spark.operators.phrase_filter import (
        _build_index,
        covers,
        phrase_filter_sql,
    )

    phrases = [["x", "a", "b"], ["c", "y"], ["b"], ["y", "y", "z", "a"]]
    rng = np.random.RandomState(11)
    alphabet = list("abcxyz")
    tuples = [
        tuple(rng.choice(alphabet, size=rng.randint(1, 6)))
        for _ in range(200)
    ]
    grams = sorted({" ".join(t) for t in tuples})
    ng = "ng(ord, gram) AS (VALUES " + ", ".join(
        f"(1, '{g}')" for g in grams
    ) + ")"
    kept_sql = {
        r[1] for r in duckdb.sql(phrase_filter_sql(ng, phrases)).fetchall()
    }
    by_first, pset = _build_index(phrases)
    kept_py = {g for g in grams if covers(g.split(" "), by_first, pset)}
    assert kept_sql == kept_py


def test_winnow_fingerprint_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. 2003): any shared substring
    of length >= w + k - 1 yields at least one shared fingerprint hash;
    unrelated docs share (essentially) none."""
    from kenlm_spark.operators.fingerprint import winnow_fingerprints

    shared = "identical plagiarized passage of text"
    rows = [
        (1, f"intro words before {shared} and a tail"),
        (2, f"{shared} with a completely different continuation here"),
        (3, "nothing in common with either document at all frankly"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(df).collect():
        fps.setdefault(r["id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert not (fps[1] & fps[3] & fps[2])


def test_winnow_rolling_equals_direct(spark):
    """The incremental rolling hash must equal the direct polynomial."""
    import numpy as np

    from kenlm_spark.operators.fingerprint import B, M, _kgram_hashes

    rng = np.random.RandomState(3)
    codes = rng.randint(32, 1000, size=50)
    k = 5
    rolled = _kgram_hashes(codes, k)
    direct = [
        sum(int(codes[p + j]) * pow(B, k - 1 - j, M) for j in range(k)) % M
        for p in range(len(codes) - k + 1)
    ]
    assert rolled.tolist() == direct


def test_filter_union_max_posting_guard(spark):
    """Stop-word skew guard: with a non-binding cap the result equals the
    exact path; with a binding cap, ultra-common words are treated as
    universally present (result is a superset of exact)."""
    from kenlm_spark.operators.model_filter import filter_union, sentence_postings

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the dog ran"),
            (3, "the bird flew"),
            (4, "a cat ran home"),
            (5, "the fish swam"),
        ],
        "doc_id long, text string",
    )
    ngrams = spark.createDataFrame(
        [
            (2, ["the", "cat"]),     # sentence 1 covers
            (2, ["the", "home"]),    # no single sentence has both
            (2, ["cat", "ran"]),     # sentence 4 covers
            (1, ["<s>"]),            # tag-only: always kept
        ],
        "order int, words array<string>",
    )
    postings = sentence_postings(docs)

    def kept(**kw):
        return {
            tuple(r["words"]) for r in filter_union(ngrams, postings, **kw).collect()
        }

    exact = kept()
    assert exact == {("the", "cat"), ("cat", "ran"), ("<s>",)}
    # cap larger than any posting list: identical
    assert kept(max_posting=100) == exact
    # 'the' appears in 4 sentences; cap=3 makes it universal, so
    # ("the","home") now qualifies via any sentence containing 'home'
    guarded = kept(max_posting=3)
    assert exact <= guarded
    assert ("the", "home") in guarded


def test_ngram_counts_pad_semantics(spark):
    from kenlm_spark.operators.ngrams import ngram_counts

    df = spark.createDataFrame([("a b",), ("",)], "text string")
    out = {r["gram"]: r["cnt"] for r in ngram_counts(df, "text", 2, pad=True).collect()}
    assert out == {"<s> a": 1, "a b": 1, "b </s>": 1, "<s> </s>": 1}


def test_interpolate_identity_weights(spark):
    """lambda=(1,0) must reproduce model A's probabilities on A's n-grams."""
    import os

    from kenlm_spark.operators.interpolate_models import interpolate_models
    from kenlm_spark.oracle import arpa_ngram_rows

    fx = os.path.join(os.path.dirname(__file__), "fixtures")

    def as_df(path):
        rows = [(n, g.split(" "), p, b) for n, g, p, b in arpa_ngram_rows(path)]
        return spark.createDataFrame(
            rows,
            "order int, words array<string>, log10_prob double, log10_backoff double",
        )

    a = as_df(os.path.join(fx, "test.arpa"))
    b = as_df(os.path.join(fx, "test_nounk.arpa"))
    out = interpolate_models([a, b], [1.0, 0.0], order=5)
    got = {(r["ord"], r["gram"]): r["log10_prob"] for r in out.collect()}
    for r in a.collect():
        key = (r["order"], " ".join(r["words"]))
        assert got[key] == pytest.approx(r["log10_prob"], abs=1e-5), key


def test_interpolate_mixture_bounds(spark):
    """Mixed prob must lie between the two models' evaluated probs."""
    import os

    from kenlm_spark.operators.interpolate_models import interpolate_models
    from kenlm_spark.oracle import arpa_ngram_rows
    from kenlm_spark.ngram.arpa import load_arpa

    fx = os.path.join(os.path.dirname(__file__), "fixtures")

    def as_df(path):
        rows = [(n, g.split(" "), p, b) for n, g, p, b in arpa_ngram_rows(path)]
        return spark.createDataFrame(
            rows,
            "order int, words array<string>, log10_prob double, log10_backoff double",
        )

    out = interpolate_models(
        [as_df(os.path.join(fx, "test.arpa")), as_df(os.path.join(fx, "test_nounk.arpa"))],
        [0.6, 0.4],
        order=5,
    )
    ma = load_arpa(os.path.join(fx, "test.arpa"))
    mb = load_arpa(os.path.join(fx, "test_nounk.arpa"))
    for r in out.limit(0).collect():
        pass
    rows = [r for r in out.collect() if r["ord"] == 1][:20]
    for r in rows:
        w = r["gram"]
        pa = 10.0 ** ma.score(w, bos=False, eos=False)
        pb = 10.0 ** mb.score(w, bos=False, eos=False)
        mixed = 10.0 ** r["log10_prob"]
        lo, hi = min(pa, pb), max(pa, pb)
        # output log10 probs are rounded to 6 decimals -> ~2e-6 relative
        assert lo * (1 - 3e-6) - 1e-9 <= mixed <= hi * (1 + 3e-6) + 1e-9, (
            w, pa, pb, mixed,
        )


def test_phrase_filter_coverage(spark):
    from kenlm_spark.operators.phrase_filter import phrase_filter

    ngrams = spark.createDataFrame(
        [
            (3, ["a", "b", "c"]),      # covered: [a b] + [c d] prefix
            (2, ["b", "c"]),           # inside suffix/prefix chain
            (3, ["c", "a", "b"]),      # c (suffix of [c d]? no, c is prefix)...
            (2, ["x", "y"]),           # not coverable
            (1, ["a"],),
        ],
        "order int, words array<string>",
    )
    phrases = [["a", "b"], ["c", "d"]]
    kept = {tuple(r["words"]) for r in phrase_filter(ngrams, phrases).collect()}
    assert ("a", "b", "c") in kept      # [a b] + prefix of [c d]
    assert ("b", "c") in kept           # suffix of [a b] + prefix of [c d]
    assert ("a",) in kept               # prefix of [a b]
    assert ("x", "y") not in kept
    # "c a b": suffix 'c'? [c d] suffix is 'd' or 'c d' — 'c' is a PREFIX not
    # suffix, so the left edge fails -> dropped.
    assert ("c", "a", "b") not in kept


def test_phrase_filter_whole_inside(spark):
    from kenlm_spark.operators.phrase_filter import phrase_filter

    ngrams = spark.createDataFrame(
        [(2, ["b", "c"]), (2, ["a", "d"])], "order int, words array<string>"
    )
    kept = {
        tuple(r["words"])
        for r in phrase_filter(ngrams, [["a", "b", "c", "d"]]).collect()
    }
    assert ("b", "c") in kept  # strictly inside one phrase
    assert ("a", "d") not in kept


def test_ivf_recall_vs_exact(spark, emb):
    from kenlm_spark.operators.ivf import ivf_topk
    from kenlm_spark.operators.similarity import brute_force_topk

    qids = list(range(6))
    exact = brute_force_topk(emb, qids, k=10).collect()
    approx = ivf_topk(emb, qids, k=10, n_cells=8, n_probe=3).collect()
    es, aps = {}, {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        aps.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(es[q] & aps.get(q, set())) / len(es[q]) for q in es]
    assert sum(recalls) / len(recalls) >= 0.5


def test_ivf_deterministic(spark, emb):
    from kenlm_spark.operators.ivf import train_centroids

    c1 = train_centroids(emb, k=4, iters=3)
    c2 = train_centroids(emb, k=4, iters=3)
    assert np.array_equal(c1, c2)


def test_dedup_components_and_canonical(spark):
    """Transitive closure over near-dup pairs: chains collapse to one
    component labeled by the min id; canonical-drop keeps exactly one
    doc per cluster plus all unpaired docs."""
    from kenlm_spark.operators.dedup import (
        dedup_canonical_drop,
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["comp"] for r in dedup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id long"
    )
    keep = {
        r["doc_id"]: r["keep"]
        for r in dedup_canonical_drop(docs, pairs).collect()
    }
    assert keep == {
        1: True, 2: False, 3: False, 4: False,
        10: True, 11: False, 20: True, 21: False, 99: True,
    }


def test_dedup_components_long_chain_converges(spark):
    """A 40-node path graph (diameter 39) resolves to one component: the
    round count does not grow with the graph's diameter."""
    from kenlm_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["comp"] for r in dedup_components(pairs, max_iter=60).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 41


def _union_find(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_min_labels_matches_union_find():
    """The numpy union-find of the local pass labels every node with its
    component's smallest index, on random sparse and dense graphs."""
    from kenlm_spark.operators.dedup import _min_labels

    rng = np.random.default_rng(5)
    for n, m in ((1, 0), (50, 20), (300, 280), (300, 2000)):
        a, b = rng.integers(0, n, m), rng.integers(0, n, m)
        want = _union_find(zip(a.tolist(), b.tolist()))
        got = _min_labels(a, b, n)
        assert all(got[x] == want.get(x, x) for x in range(n))


def test_dedup_components_weak_local_contraction(spark, monkeypatch):
    """Edges left in 16 uncoalesced partitions: each partition's
    union-find sees scattered path edges and contracts little, so later
    rounds must shrink the partition count. A 200-node path (ids
    shuffled) plus cliques still matches a plain union-find within the
    default max_iter, in at most 1 + log4(16) rounds; max_iter=1 raises."""
    import random

    from kenlm_spark import session
    from kenlm_spark.operators.dedup import dedup_components

    rng = random.Random(3)
    ids = list(range(1000, 1200))
    rng.shuffle(ids)
    pairs = list(zip(ids, ids[1:]))
    for base, size in ((5000, 3), (6000, 6), (7000, 9)):
        pairs += [(base + i, base + j) for i in range(size) for j in range(i)]
    rounds = []
    real = session.checkpoint_disk
    monkeypatch.setattr(
        session, "checkpoint_disk", lambda df: rounds.append(1) or real(df)
    )
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        comp = {r["id"]: r["comp"] for r in dedup_components(df).collect()}
        assert comp == _union_find(pairs)
        assert 2 <= len(rounds) <= 3
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_components(df, max_iter=1)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dedup_components_null_ends_and_int_ids(spark):
    """int ids stay int, and a pair with a null end links nothing: its
    other end stands alone, plus one (null, null) row."""
    from kenlm_spark.operators.dedup import (
        dedup_canonical_drop,
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (5, 6)], "id_a int, id_b int"
    )
    comp = dedup_components(pairs)
    assert comp.schema.simpleString() == "struct<id:int,comp:int>"
    rows = sorted(
        (tuple(r) for r in comp.collect()), key=lambda r: (r[0] is None, r)
    )
    assert rows == [(1, 1), (2, 1), (3, 3), (5, 5), (6, 5), (None, None)]
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6]], "doc_id int")
    keep = dict(tuple(r) for r in dedup_canonical_drop(docs, pairs).collect())
    assert keep == {1: True, 2: False, 3: True, 5: True, 6: False}


def test_ivf_pq_recall_vs_exact(spark, emb):
    """IVF-PQ (coarse cells + sampled-codebook product quantization) is
    the lossiest ANN tier; its top-10 must still overlap the exact
    brute-force top-10 substantially, and returned ranks must be dense
    per query."""
    from kenlm_spark.operators.ivf import ivf_pq_topk
    from kenlm_spark.operators.similarity import brute_force_topk

    qids = list(range(8))
    exact = {}
    for r in brute_force_topk(emb, qids, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    ranks = {}
    for r in ivf_pq_topk(emb, qids, k=10).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.3  # PQ tier: coarse but sane
    for q, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1))


def test_repetition_metrics_planted(spark):
    """Gopher repetition signals on planted inputs: duplicated lines,
    a dominant repeated word, and a repeated bigram."""
    from kenlm_spark.filtering.quality import repetition_metric_exprs

    rows = [
        (1, "same line\nsame line\nother line"),
        (2, "spam spam spam spam unique"),
        (3, "the cat the cat the cat sat"),
        (4, "all distinct words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = repetition_metric_exprs("text")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            m["dup_line_ratio"].alias("dl"),
            m["top_word_ratio"].alias("tw"),
            m["top_bigram_ratio"].alias("tb"),
        ).collect()
    }
    assert got[1]["dl"] == pytest.approx(1 / 3)
    assert got[2]["tw"] == pytest.approx(4 / 5)
    assert got[3]["tb"] == pytest.approx(3 / 6)  # "the cat" 3x of 6 bigrams
    assert got[4]["dl"] == 0.0 and got[4]["tw"] == pytest.approx(1 / 5)


def test_url_filter_planted(spark):
    """URL metrics + blocklist filter on planted inputs: domain
    extraction (scheme/www variants, lowercasing), blocklist drop, and
    no-URL docs keeping."""
    from kenlm_spark.filtering.urls import (
        domain_blocklist_filter,
        url_metric_exprs,
    )

    rows = [
        (1, "see https://Bad.Example.com/x and http://ok.org/y"),
        (2, "plain text no links"),
        (3, "www.bad.example.com mirror"),
        (4, "also https://fine.net only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = url_metric_exprs("text")
    got = {
        r["doc_id"]: (r["n"], sorted(r["d"]))
        for r in df.select(
            "doc_id", m["n_urls"].alias("n"), m["domains"].alias("d")
        ).collect()
    }
    assert got[1] == (2, ["bad.example.com", "ok.org"])
    assert got[2] == (0, [])
    assert got[3] == (1, ["bad.example.com"])
    block = spark.createDataFrame([("bad.example.com",)], "domain string")
    keep = {
        r["doc_id"]: r["url_keep"]
        for r in domain_blocklist_filter(df, block).collect()
    }
    assert keep == {1: False, 2: True, 3: False, 4: True}


def test_deterministic_sample_stability(spark):
    """Hash-threshold sampling is a pure function of the id: identical
    row sets across repartitionings (where DataFrame.sample is not),
    fraction within statistical tolerance, strata respected."""
    from kenlm_spark.operators.dedup import (
        deterministic_sample,
        stratified_sample,
    )

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in deterministic_sample(df, 0.25).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(df.repartition(13), 0.25).collect()
    }
    assert a == b
    assert abs(len(a) / 20000 - 0.25) < 0.02

    strat = df.withColumn(
        "s", (F.col("doc_id") % 2 == 0).cast("string")
    )
    out = stratified_sample(strat, "s", {"true": 0.1, "false": 0.9})
    counts = {
        r["s"]: r["n"]
        for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert abs(counts["true"] / 10000 - 0.1) < 0.02
    assert abs(counts["false"] / 10000 - 0.9) < 0.02


def test_passage_dedup_planted(spark):
    """A passage (10-token window) duplicated across docs survives only
    in its first (doc_id, index) occurrence; clean text reassembles the
    surviving passages in order."""
    from kenlm_spark.operators.dedup import passage_dedup

    shared = "a b c d e f g h i j"  # exactly one window
    rows = [
        (1, shared + " unique tail one two three four five six seven x"),
        (2, shared + " other words here that do not repeat at all y"),
        (3, "completely different text with ten distinct tokens here z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in passage_dedup(df, window=10).collect()}
    assert out[1]["clean_text"].startswith(shared)
    assert out[1]["n_dropped"] == 0
    # doc 2's first window == shared -> dropped; its second window stays
    assert out[2]["n_dropped"] == 1
    assert not out[2]["clean_text"].startswith(shared)
    assert "other words here" in out[2]["clean_text"]
    assert out[3]["n_dropped"] == 0


def test_contamination_planted(spark):
    """A corpus doc sharing a 5-gram with the benchmark is flagged with
    the distinct-overlap count; clean docs report 0."""
    from kenlm_spark.operators.dedup import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "today the quick brown fox jumps far away"),
            (2, "entirely unrelated words about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in contamination_check(corpus, bench).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_overlap"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_overlap"] == 0


def test_passage_dedup_matches_bruteforce(spark):
    """Randomized parity vs a pure-python first-global-occurrence
    oracle over a tiny alphabet (forcing cross-doc passage collisions)."""
    import random

    rng = random.Random(42)
    alpha = ["a", "b", "c"]
    rows = [
        (i, " ".join(rng.choice(alpha) for _ in range(rng.randrange(0, 35))))
        for i in range(60)
    ]
    W = 4
    from kenlm_spark.operators.dedup import passage_dedup

    got = {
        r["doc_id"]: (r["clean_text"], r["n_passages"], r["n_dropped"])
        for r in passage_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"), window=W
        ).collect()
    }
    seen: set[str] = set()
    for did, text in rows:  # rows are in (doc_id, idx) order already
        toks = text.split()
        passages = [
            " ".join(toks[i : i + W]) for i in range(0, len(toks), W)
        ]
        keep = []
        dropped = 0
        for p in passages:
            if p in seen:
                dropped += 1
            else:
                seen.add(p)
                keep.append(p)
        expect = (" ".join(keep), len(passages), dropped)
        assert got[did] == expect, (did, got[did], expect)


def test_contamination_matches_bruteforce(spark):
    """Randomized parity vs pure-python shingle-set intersection."""
    import random

    rng = random.Random(7)
    alpha = ["x", "y", "z", "w"]
    K = 3

    def mk(n):
        return [
            (i, " ".join(rng.choice(alpha) for _ in range(rng.randrange(0, 20))))
            for i in range(n)
        ]

    bench_rows = [(100 + i, t) for i, t in enumerate(t for _, t in mk(10))]
    corpus_rows = mk(40)

    def sh(text):
        toks = text.split()
        if len(toks) >= K:
            return {
                " ".join(toks[i : i + K]) for i in range(len(toks) - K + 1)
            }
        return {" ".join(toks)}

    bench_set = set().union(*(sh(t) for _, t in bench_rows))
    from kenlm_spark.operators.dedup import contamination_check

    got = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in contamination_check(
            spark.createDataFrame(corpus_rows, "doc_id long, text string"),
            spark.createDataFrame(bench_rows, "doc_id long, text string"),
            shingle_k=K,
        ).collect()
    }
    for did, text in corpus_rows:
        n = len(sh(text) & bench_set)
        assert got[did] == (n, n > 0), (did, got[did], n)


def test_contamination_broadcast_guard_both_paths(spark):
    """The broadcast-size guard (dedup.contamination_check): a benchmark
    hash set over max_broadcast_hashes warns and falls back to the
    shuffle join; under it, it broadcast-hints. Both paths — and the
    explicit broadcast=True/False overrides — produce identical rows,
    and the fallback path stays correct even with AQE's own broadcast
    disabled (a true sort-merge/shuffled-hash plan)."""
    import warnings

    from kenlm_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon tok{i}") for i in range(30)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    expected = rows(contamination_check(corpus, bench, broadcast=True))

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        guarded = contamination_check(
            corpus, bench, max_broadcast_hashes=0
        )
        got_fallback = rows(guarded)
    assert any("falling back to a shuffle join" in str(w.message) for w in caught)
    assert got_fallback == expected

    # small side under the threshold: no warning, broadcast hint taken
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got_bcast = rows(contamination_check(corpus, bench))
    assert not any(
        "falling back to a shuffle join" in str(w.message) for w in caught
    )
    assert got_bcast == expected

    # force a genuine non-broadcast physical plan for the fallback leg
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert rows(contamination_check(corpus, bench, broadcast=False)) == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_repetition_metrics_frame_parity(spark):
    """r8: the Arrow-pass repetition twin is BIT-identical to the
    Catalyst exprs on adversarial inputs (empty text, NULL, single
    token, whitespace runs, duplicated lines with edge spacing)."""
    from kenlm_spark.filtering.quality import (
        repetition_metric_exprs,
        repetition_metrics_frame,
    )

    rows = [
        (1, "same line\nsame line\nother line"),
        (2, "spam spam spam spam unique"),
        (3, "the cat the cat the cat sat"),
        (4, "all distinct words here now"),
        (5, ""),
        (6, None),
        (7, "one"),
        (8, "  padded \n padded  \n\t tabbed \n"),
        (9, "a\x00b\tc\rd  e"),
        (10, "UP up Up uP"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = repetition_metric_exprs("text")
    want = {
        r["doc_id"]: (r["dl"], r["tw"], r["tb"])
        for r in df.select(
            "doc_id",
            m["dup_line_ratio"].alias("dl"),
            m["top_word_ratio"].alias("tw"),
            m["top_bigram_ratio"].alias("tb"),
        ).collect()
    }
    got = {
        r["id"]: (
            r["dup_line_ratio"], r["top_word_ratio"], r["top_bigram_ratio"]
        )
        for r in repetition_metrics_frame(df).collect()
    }
    assert got == want  # exact equality, not approx
