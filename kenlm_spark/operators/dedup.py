"""Deduplication operators for training-data pipelines.

Four families, each a first-class `queries()` entry with a DuckDB oracle:

* exact          — hash-groupBy on normalized text (one shuffle).
* MinHash + LSH  — shingle → K minhashes → band buckets → bucket-join →
                   exact-Jaccard verify. The scale path for near-dup at
                   10^12 docs: candidate generation is a groupBy on band
                   keys (linear), never an all-pairs join.
* SimHash        — 60-bit bit-majority fingerprint over token hashes;
                   near-dup = small Hamming distance, candidates via
                   max_hamming+1 bit-bands (pigeonhole: recall is exact).
* n-gram Jaccard — the verify step, also usable standalone on candidates.

Pairs become clusters in `dedup_components`: per round, one Arrow pass
union-finds each partition's edges and one groupBy links the local roots
a vertex received; a round in one partition resolves everything, so
rounds ≤ 1 + ⌈log₄ P⌉ for P shuffle partitions, whatever the diameter.
`dedup_canonical_drop` keeps each cluster's minimum id.

Cross-engine hash: h(s) = int(md5(s)[0:15], 16) — 60 bits, identical in
Spark (`conv(substring(md5(x),1,15),16,10)`) and DuckDB
(`CAST('0x' || substring(md5(x),1,15) AS BIGINT)`), so every stage is
oracle-checkable. Per-hash-family salting uses md5("i:"+s).

Scale notes: normalization/shingling is per-row Catalyst; signatures are
one explode + one groupBy with K min() partial aggregates; LSH banding
re-keys the signature table (no data explosion beyond bucket pairs);
skewed buckets (boilerplate shingles) are capped by `max_bucket` with a
logged drop — the standard guard against quadratic bucket blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kenlm_spark.functions.text import TOKEN_DELIMS_RE

# ----------------------------------------------------------------- helpers


def norm_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), TOKEN_DELIMS_RE, " ")


def _norm_sql(text: str) -> str:
    return (
        f"regexp_replace(lower(coalesce({text}, '')), "
        "'[\\x00\\t\\n\\r ]+', ' ', 'g')"
    )


def h60(col: Column) -> Column:
    """Shared 60-bit hash: int(md5(x)[0:15], 16)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _h60_sql(x: str) -> str:
    return f"CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"


def shingles_expr(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text."""
    toks = F.array_remove(F.split(norm_text(col), " "), "")
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    sh = F.when(
        F.size(toks) >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(sh)


def _shingles_sql(text: str, k: int = 3) -> str:
    toks = f"list_filter(regexp_split_to_array({_norm_sql(text)}, ' '), t -> t <> '')"
    return f"""list_distinct(
      CASE WHEN len({toks}) >= {k}
           THEN list_transform(generate_series(1, len({toks}) - {k - 1}),
                               i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' '))
           ELSE [array_to_string({toks}, ' ')] END)"""


# ------------------------------------------------------------------- exact


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_hash, n_docs, keep_id): groups of byte-identical (normalized)
    docs; keep_id is the smallest id (the canonical survivor)."""
    return (
        df.select(F.col(id_col).alias("id"), h60(norm_text(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("id").alias("keep_id"),
        )
    )


def exact_duplicates_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
SELECT {_h60_sql(_norm_sql(text_col))} AS text_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       MIN({id_col}) AS keep_id
FROM {table} GROUP BY 1
"""


# ----------------------------------------------------------------- minhash


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k_hashes: int = 16, shingle_k: int = 3,
) -> DataFrame:
    """(id, sig_0..sig_{K-1}): K minhash values per document.

    Map-only: signatures depend only on the document's own shingles, so
    they are computed per Arrow batch in Python with a cross-document
    shingle→hashes memo (corpus shingle vocabulary ≪ shingle count) —
    no explode shuffle, no K min-aggregates, and exactly the same 60-bit
    md5 integers as the DuckDB twin (the round-1 Catalyst md5+conv chain
    evaluated 16 hashes per shingle row and dominated the bench)."""
    import hashlib

    import pandas as pd

    from kenlm_spark.functions.text import PY_TOKEN_RE

    wide = _minhash_wide(df, id_col, text_col, k_hashes, shingle_k)
    return wide.select(
        "id", *[F.col("sigs")[i].alias(f"sig_{i}") for i in range(k_hashes)]
    )


def _minhash_wide(
    df: DataFrame, id_col: str, text_col: str, k_hashes: int, shingle_k: int
) -> DataFrame:
    """(id, sigs array<long>, sh array<long>): signatures AND the distinct
    shingle set in one Python pass (the shingle set is needed again by the
    exact-Jaccard verify; computing it once here avoids re-running the
    Catalyst regex/transform subtree on both sides of the verify join).

    Shingles are carried as 60-bit md5 HASHES, not strings: distinct
    strings map to distinct hashes (collision ~n²/2⁶¹, and the DuckDB twin
    hashes identically so any collision would still agree), set sizes —
    and therefore Jaccard — are preserved, and the verify join's shuffle
    payload drops from ~15 bytes/char of shingle text to 8 bytes/shingle.
    That payload was what kept the N→4N scaling probe overhead-bound at
    box-feasible corpus sizes (BENCH/BASELINE.md r2)."""
    import numpy as np
    import pandas as pd

    from kenlm_spark.functions.md5_kernel import h60_salted_bytes_batch
    from kenlm_spark.functions.text import PY_TOKEN_RE

    # identity hash first, then the k per-family salts — one kernel call
    # yields the (shingle, 1 + k_hashes) hash matrix (r8: the hashlib
    # loop at ~0.9 µs/call was the pass's floor; the batch C kernel is
    # ~3.5x, same int(md5[:15], 16) integers, A/B-verified on load)
    prefixes = [b""] + [f"{i}:".encode() for i in range(k_hashes)]

    def batch(pdfs):
        for pdf in pdfs:
            uniq: dict[bytes, int] = {}
            doc_ids = []
            doc_rows = []
            texts = pdf[text_col].fillna("").str.lower()
            for did, text in zip(pdf[id_col], texts):
                toks = [t for t in PY_TOKEN_RE.split(text) if t]
                if len(toks) >= shingle_k:
                    sh = {
                        " ".join(toks[j : j + shingle_k])
                        for j in range(len(toks) - shingle_k + 1)
                    }
                else:
                    sh = {" ".join(toks)}
                rows = np.fromiter(
                    (
                        uniq.setdefault(s.encode(), len(uniq))
                        for s in sh
                    ),
                    np.int64,
                    len(sh),
                )
                doc_ids.append(did)
                doc_rows.append(rows)
            if not doc_ids:
                continue
            mat = h60_salted_bytes_batch(
                list(uniq.keys()), prefixes
            ).astype(np.int64)
            out = []
            for did, rows in zip(doc_ids, doc_rows):
                sub = mat[rows]
                out.append(
                    (did, sub[:, 1:].min(axis=0).tolist(), sub[:, 0].tolist())
                )
            yield pd.DataFrame(out, columns=["id", "sigs", "sh"])

    return df.select(id_col, text_col).mapInPandas(
        batch, "id long, sigs array<long>, sh array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k_hashes: int = 16, band_size: int = 2, shingle_k: int = 3,
    jaccard_threshold: float = 0.7, max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Bands of `band_size` minhashes bucket candidates; buckets larger than
    `max_bucket` are dropped (boilerplate guard); candidates verified with
    exact shingle Jaccard.
    """
    # One Python pass computes signatures + shingle sets; checkpointed so
    # the band/bucket fan-out and the verify joins reuse the tiny
    # materialized table instead of re-running the pass.
    from kenlm_spark.session import checkpoint_disk

    wide = checkpoint_disk(
        _minhash_wide(df, id_col, text_col, k_hashes, shingle_k)
    )
    n_bands = k_hashes // band_size
    # One explode instead of a union of per-band selects: the signature
    # table is scanned once, not once per band branch.
    band_structs = []
    for b in range(n_bands):
        cols = [F.col("sigs")[b * band_size + j] for j in range(band_size)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                h60(
                    F.concat_ws("_", *[c.cast("string") for c in cols])
                ).alias("bucket"),
            )
        )
    bands = wide.select(
        "id", F.explode(F.array(*band_structs)).alias("_bb")
    ).select("id", F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"))
    # ONE exchange replaces the r3 chain of four (bucket-size groupBy,
    # left-anti guard join, bucket self-join's two shuffled sides): group
    # each (band, bucket) once, drop oversized buckets (same guard
    # semantics), and expand the <= max_bucket member list to its i<j
    # pairs map-side — per-bucket arrays are tiny, so the HOF expansion
    # stays cheap while the bands stream crosses the wire exactly once.
    # Measured N→4N effect: the per-stage scheduling barriers this chain
    # contributed are gone (BENCH/BASELINE.md r4).
    #
    # OOM guard (r5): the size filter runs BEFORE collect_list, as a
    # window count over the same (band, bucket) hash partitioning — a
    # degenerate bucket (boilerplate/empty docs sharing one band value)
    # never reaches the non-spillable aggregation list buffer; WindowExec
    # buffers rows in a spillable sorter instead.  The window's exchange
    # satisfies the groupBy's distribution, so this stays ONE exchange
    # (asserted in tests/test_dedup.py).
    w_bucket = Window.partitionBy("band", "bucket")
    members = (
        bands.withColumn("_n", F.count(F.lit(1)).over(w_bucket))
        .filter((F.col("_n") > 1) & (F.col("_n") <= max_bucket))
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x as id_a, y as id_b))))"
    )
    pairs = (
        members.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sh = wide.select("id", "sh")
    pairs = (
        pairs.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    pairs = pairs.withColumn(
        "_inter", F.size(F.array_intersect("sh_a", "sh_b"))
    )
    jac = F.col("_inter").cast("double") / (
        F.size("sh_a") + F.size("sh_b") - F.col("_inter")
    )
    return pairs.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= jaccard_threshold)


def jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    shingle_k: int = 3, jaccard_threshold: float = 0.7,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-duplicate pairs — the O(n²) ground-truth
    baseline for the MinHash path (same shingling, same 60-bit shingle
    hashes, no banding): every pair with shingle-set Jaccard >= threshold.

    Scale contract: all-pairs is the tiny-N / per-bucket tool;
    ``minhash_lsh_pairs`` is the corpus-scale path (its verify step IS
    this exact Jaccard, applied only to LSH candidates).
    """
    shl = F.transform(shingles_expr(text_col, shingle_k), h60)
    docs = df.select(F.col(id_col).alias("id"), shl.alias("shl"))
    n_part = df.sparkSession.sparkContext.defaultParallelism
    a = docs.select(F.col("id").alias("id_a"), F.col("shl").alias("sh_a")).repartition(n_part)
    b = docs.select(F.col("id").alias("id_b"), F.col("shl").alias("sh_b"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return pairs.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= jaccard_threshold)


def jaccard_pairs_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    shingle_k: int = 3, jaccard_threshold: float = 0.7,
) -> str:
    return f"""
WITH shs AS (
  SELECT {id_col} AS id, {_shingles_sql(text_col, shingle_k)} AS shl FROM {table}
),
sh AS (SELECT id, list_transform(shl, s -> {_h60_sql('s')}) AS shl FROM shs),
verified AS (
  SELECT a.id AS id_a, b.id AS id_b,
         round(CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
               / (len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl))),
               6) AS jaccard
  FROM sh a JOIN sh b ON a.id < b.id
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {jaccard_threshold}
"""


def minhash_lsh_pairs_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    k_hashes: int = 16, band_size: int = 2, shingle_k: int = 3,
    jaccard_threshold: float = 0.7, max_bucket: int = 1000,
) -> str:
    sig_cols = ", ".join(
        f"MIN({_h60_sql(repr(str(i) + ':') + ' || s')}) AS sig_{i}"
        for i in range(k_hashes)
    )
    n_bands = k_hashes // band_size
    band_selects = []
    for b in range(n_bands):
        cols = " || '_' || ".join(
            f"CAST(sig_{b * band_size + j} AS VARCHAR)" for j in range(band_size)
        )
        band_selects.append(
            f"SELECT id, {b} AS band, {_h60_sql('(' + cols + ')')} AS bucket FROM sigs"
        )
    bands_union = " UNION ALL ".join(band_selects)
    return f"""
WITH shs AS (
  SELECT {id_col} AS id, {_shingles_sql(text_col, shingle_k)} AS shl FROM {table}
),
sh AS (
  -- same 60-bit shingle identity hashes the Spark side carries (set
  -- sizes, hence Jaccard, preserved; any collision would collide
  -- identically on both engines)
  SELECT id, list_transform(shl, s -> {_h60_sql('s')}) AS shl FROM shs
),
exploded AS (SELECT id, unnest(shl) AS s FROM shs),
sigs AS (SELECT id, {sig_cols} FROM exploded GROUP BY id),
bands AS ({bands_union}),
small AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket
  HAVING count(*) <= {max_bucket}
),
kept AS (SELECT b.* FROM bands b JOIN small s USING (band, bucket)),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
verified AS (
  SELECT p.id_a, p.id_b,
         round(CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
               / (len(sa.shl) + len(sb.shl) - len(list_intersect(sa.shl, sb.shl))),
               6) AS jaccard
  FROM pairs p
  JOIN sh sa ON sa.id = p.id_a
  JOIN sh sb ON sb.id = p.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {jaccard_threshold}
"""


# ----------------------------------------------------------------- simhash


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """(id, simhash): bit-majority fingerprint over token 60-bit hashes.

    Map-only: the fingerprint depends only on the document's own tokens,
    so it is computed per Arrow batch in numpy — no explode, no shuffle,
    no 60-aggregate codegen (the round-1 explode+groupBy shape shuffled
    every token for what is a per-row function). Exact-integer math, so
    the DuckDB twin (which still uses the relational form) matches
    bit-for-bit. Docs with zero tokens are absent from the output (same
    as unnesting an empty token list).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from kenlm_spark.functions.text import PY_TOKEN_RE

    tok_re = PY_TOKEN_RE
    shifts = np.arange(bits, dtype=np.uint64)

    def batch(pdfs):
        memo: dict[str, int] = {}

        def h(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                memo[tok] = v
            return v

        for pdf in pdfs:
            ids_out, sigs_out = [], []
            texts = pdf[text_col].fillna("").str.lower()
            for did, text in zip(pdf[id_col], texts):
                toks = [t for t in tok_re.split(text) if t]
                if not toks:
                    continue
                hs = np.asarray([h(t) for t in toks], dtype=np.uint64)
                ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
                sig = int(
                    ((ones * 2 > len(toks)).astype(np.uint64) << shifts).sum()
                )
                ids_out.append(did)
                sigs_out.append(sig)
            yield pd.DataFrame({"id": ids_out, "simhash": sigs_out})

    return df.select(id_col, text_col).mapInPandas(batch, "id long, simhash long")


def simhash_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    bits: int = 60,
) -> str:
    toks = f"list_filter(regexp_split_to_array({_norm_sql(text_col)}, ' '), t -> t <> '')"
    bit_sums = ", ".join(
        f"SUM((h >> {b}) & 1) AS b{b}" for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{b} * 2 > n THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH t AS (
  SELECT {id_col} AS id, {_h60_sql('tok')} AS h
  FROM (SELECT {id_col}, unnest({toks}) AS tok FROM {table})
),
agg AS (SELECT id, count(*) AS n, {bit_sums} FROM t GROUP BY id)
SELECT id, CAST({sig} AS BIGINT) AS simhash FROM agg
"""


def _band_slices(bits: int, max_hamming: int) -> list[tuple[int, int, int]]:
    """(band_index, shift, width) covering all ``bits`` with exactly
    ``max_hamming + 1`` bands — the pigeonhole guarantee: a pair with
    Hamming distance <= max_hamming differs in at most max_hamming bands,
    so it MUST agree on at least one (guaranteed recall, unlike the
    round-1 2-band scheme which silently missed distance-2/3 pairs whose
    differing bits straddled both bands). The first bands absorb any
    remainder bit."""
    n_bands = max_hamming + 1
    width = bits // n_bands
    rem = bits % n_bands
    out, shift = [], 0
    for i in range(n_bands):
        w = width + (1 if i < rem else 0)
        out.append((i, shift, w))
        shift += w
    return out


def simhash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 60, max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance.

    Candidates come from ``max_hamming + 1`` bit-bands (15 bits each at
    the 60-bit default — 32k buckets per band, which keeps band buckets
    small as the corpus grows), verified with an exact popcount. Recall
    is exact by pigeonhole; see ``_band_slices``.
    """
    sig = simhash(df, id_col, text_col, bits)
    band_keys = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright("simhash", shift)
            .bitwiseAND(F.lit((1 << w) - 1))
            .alias("band_key"),
        )
        for i, shift, w in _band_slices(bits, max_hamming)
    ]
    bands = sig.select(
        "id", "simhash", F.explode(F.array(*band_keys)).alias("_b")
    ).select(
        "id", "simhash",
        F.col("_b.band").alias("band"), F.col("_b.band_key").alias("band_key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def simhash_near_pairs_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    bits: int = 60, max_hamming: int = 3,
) -> str:
    inner = simhash_sql(table, id_col, text_col, bits).strip()
    band_selects = " UNION ALL ".join(
        f"SELECT id, simhash, {i} AS band, "
        f"(simhash >> {shift}) & {(1 << w) - 1} AS band_key FROM sig"
        for i, shift, w in _band_slices(bits, max_hamming)
    )
    return f"""
WITH sig AS ({inner}),
bands AS ({band_selects})
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ----------------------------------------------------- passages / contamination


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
) -> DataFrame:
    """Passage-granular exact dedup — the corpus-level substring-dedup
    shape of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") approximated at fixed ``window``-token
    passages: each document splits into consecutive non-overlapping
    passages, only the FIRST global occurrence of each distinct passage
    survives (ordered by (doc_id, passage index) — deterministic), and
    surviving passages reassemble per document.

    Returns (doc_id, clean_text, n_passages, n_dropped).  Two shuffles
    at any scale, both skew-safe:

    1. first occurrence = ``groupBy(h60(p)).agg(min(struct(id, i, p)))``
       — the shuffle key is an int64 hash (never the raw 10-token
       string), and min() is an algebraic aggregate with PARTIAL
       (map-side) combine, so a viral boilerplate passage (cookie
       banners, license headers: billions of copies in a real crawl)
       collapses to one row per map task before the exchange.  (id, i)
       is unique across passage rows, so min(struct(id, i, p)) is
       exactly the (doc_id, index)-ordered first occurrence carrying
       its own text; collisions of the 60-bit hash merge the colliding
       passages on both engines identically (the SQL twin partitions by
       the same hash).  A Window over the raw passage string — the
       previous formulation — had neither property: string shuffle
       payload and no partial aggregation, i.e. a hot passage funneled
       every occurrence to one reducer.
    2. survivor reassembly = ``groupBy(doc)`` over first occurrences
       only (bounded per doc).

    n_passages needs NO shuffle at all: non-overlapping windows over a
    non-empty token array are all non-empty, so the per-doc passage
    count is ceil(n_tokens / window), computed map-side on the corpus
    scan; n_dropped = n_passages - survivors.  The final left join
    attaches survivors to that map-only spine, covering zero-token docs
    without routing empty passages through the hash exchange (a skew
    hot spot at web scale, where empty docs are billions).
    """
    toks = F.array_remove(F.split(norm_text(text_col), " "), "")
    base = df.select(F.col(id_col).alias("id"), toks.alias("toks"))
    n_pass = F.ceil(F.size("toks") / F.lit(window)).cast("int")
    passages = (
        base.withColumn(
            "i",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n_pass - 1, F.lit(0)))
            ),
        )
        .withColumn(
            "p",
            F.concat_ws(
                " ", F.slice("toks", F.col("i") * window + 1, window)
            ),
        )
        .filter(F.col("p") != "")
        .select("id", "i", "p")
    )
    first = (
        passages.withColumn("ph", h60(F.col("p")))
        .groupBy("ph")
        .agg(F.min(F.struct("id", "i", "p")).alias("fo"))
        .select(
            F.col("fo.id").alias("id"),
            F.col("fo.i").alias("i"),
            F.col("fo.p").alias("p"),
        )
    )
    kept_per_doc = (
        first.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "p"))),
                    lambda st: st["p"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_kept"),
        )
    )
    spine = base.select(
        F.col("id").alias("doc_id"),
        F.when(F.size("toks") > 0, n_pass.cast("long"))
        .otherwise(F.lit(0))
        .alias("n_passages"),
    )
    return (
        spine.join(kept_per_doc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_passages",
            (
                F.col("n_passages") - F.coalesce("n_kept", F.lit(0))
            ).alias("n_dropped"),
        )
    )


def passage_dedup_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
) -> str:
    toks = (
        f"list_filter(regexp_split_to_array({_norm_sql(text_col)}, ' '), "
        "t -> t <> '')"
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {toks} AS toks FROM {table}
),
passages AS (
  SELECT id, i, array_to_string(
           list_slice(toks, i * {window} + 1, i * {window} + {window}), ' '
         ) AS p
  FROM base, unnest(generate_series(
         0, greatest(CAST(ceil(len(toks) / {window}.0) AS INTEGER) - 1, 0)
       )) AS t(i)
),
ranked AS (
  -- first occurrence is resolved per 60-bit passage HASH (mirrors the
  -- Spark side's skew-safe groupBy(h60(p)) exchange, collisions and all)
  SELECT id, i, p,
         row_number() OVER (PARTITION BY {_h60_sql('p')} ORDER BY id, i) AS rn
  FROM passages WHERE p <> ''
),
per_doc AS (
  SELECT id,
         coalesce(string_agg(CASE WHEN rn = 1 THEN p END, ' ' ORDER BY i),
                  '') AS clean_text,
         CAST(count(*) AS BIGINT) AS n_passages,
         CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
  FROM ranked GROUP BY id
)
SELECT d.{id_col} AS doc_id,
       coalesce(pd.clean_text, '') AS clean_text,
       coalesce(pd.n_passages, 0) AS n_passages,
       coalesce(pd.n_dropped, 0) AS n_dropped
FROM {table} d LEFT JOIN per_doc pd ON pd.id = d.{id_col}
"""


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    broadcast: bool | None = None,
    max_broadcast_hashes: int = 2_000_000,
) -> DataFrame:
    """Benchmark-contamination flagging: for every corpus document, the
    number of DISTINCT ``shingle_k``-gram shingles it shares with the
    benchmark set (the n-gram-overlap decontamination rule of GPT-3
    appendix C / The Pile).  Returns (doc_id, n_overlap, contaminated).

    Shape at scale: both sides reduce to distinct 64-bit shingle hashes
    before the equi-join; the corpus side is one explode + one join +
    one groupBy, no crossJoin anywhere.

    Broadcast guard: eval sets are small relative to a training corpus,
    so the benchmark hash set normally broadcasts — but a user pointing
    this at a billion-row "benchmark" must not hit a silent sort-merge
    cliff.  With ``broadcast=None`` (default) the distinct-hash set is
    counted first (one cheap job over the small side): at or below
    ``max_broadcast_hashes`` (2M hashes ~ 48 MB of broadcast relation)
    it is broadcast-hinted; above, a warning documents the fallback to
    a shuffle join (correct, adds one corpus-side exchange on gh).
    Pass ``broadcast=True/False`` to skip the count job — True keeps a
    composed caller (e.g. the curation DAG) fully lazy.
    """
    def grams(d: DataFrame):
        # Per-doc distinct 60-bit shingle hashes, map-only and
        # stream-legal, computed in ONE Arrow pass (r8, guide §4.2): the
        # r5 Catalyst chain (transform(sequence→slice→concat_ws→md5+conv)
        # + two array_distincts) ran as interpreted HOF lambdas and cost
        # 2.1s for the sf1.0 corpus side vs 0.6s for this pass — the
        # same per-shingle md5 integers (int(md5[:15],16) == h60), the
        # same tokenization (PY_TOKEN_RE == the split of norm_text, the
        # parity the minhash wide pass already pins), the same per-doc
        # set semantics (a Python set == array_distinct-before-and-after-
        # hash).  Deduping post-explode instead would need a stateful
        # dropDuplicates on a stream; the per-doc set keeps it map-only.
        import numpy as np
        import pandas as pd

        from kenlm_spark.functions.md5_kernel import h60_bytes_batch
        from kenlm_spark.functions.text import PY_TOKEN_RE

        id_type = dict(d.dtypes)[id_col]

        def batch(pdfs):
            for pdf in pdfs:
                uniq: dict[bytes, int] = {}
                ids, rows = [], []
                texts = pdf[text_col].fillna("").str.lower()
                for did, text in zip(pdf[id_col], texts):
                    toks = [x for x in PY_TOKEN_RE.split(text) if x]
                    if len(toks) >= shingle_k:
                        sh = {
                            " ".join(toks[j : j + shingle_k])
                            for j in range(len(toks) - shingle_k + 1)
                        }
                    else:
                        sh = {" ".join(toks)}
                    for s in sh:
                        ids.append(did)
                        rows.append(uniq.setdefault(s.encode(), len(uniq)))
                if ids:
                    hs = h60_bytes_batch(list(uniq.keys())).astype(np.int64)
                    yield pd.DataFrame(
                        {"id": ids, "gh": hs[np.asarray(rows, np.int64)]}
                    )

        return d.select(id_col, text_col).mapInPandas(
            batch, f"id {id_type}, gh long"
        )

    bench_g = grams(benchmark).select("gh").distinct()
    if broadcast is None:
        # persist across the size probe and the real join: without it
        # the benchmark-side explode+hash+distinct runs twice (once for
        # this count, again when the joined result executes). The set is
        # <= max_broadcast_hashes rows when it matters; it stays cached
        # for the job's lifetime (same footprint as the broadcast).
        bench_g = bench_g.persist()
        n_hashes = bench_g.count()
        broadcast = n_hashes <= max_broadcast_hashes
        if not broadcast:
            import warnings

            warnings.warn(
                f"contamination_check: benchmark side has {n_hashes:,} "
                f"distinct shingle hashes (> {max_broadcast_hashes:,}); "
                "falling back to a shuffle join (one extra corpus-side "
                "exchange on gh). Raise max_broadcast_hashes only if "
                "executors can hold the broadcast relation.",
                stacklevel=2,
            )
    if broadcast:
        bench_g = F.broadcast(bench_g)
    # One LEFT join + ONE aggregation: every doc emits >=1 shingle
    # (shingles_expr yields [""] for empty text), so grouping the
    # left-joined gram stream by id covers zero-overlap docs without
    # joining back to the corpus — one fewer shuffle, and the shape
    # stays legal on a STREAMING corpus side ((id, gh) pairs are
    # distinct by construction above, so plain sum == count distinct,
    # and no stream-stream join).
    marked = grams(corpus).join(
        bench_g.withColumn("_hit", F.lit(1)), "gh", "left"
    )
    return (
        marked.groupBy("id")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_overlap")
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_overlap",
            (F.col("n_overlap") > 0).alias("contaminated"),
        )
    )


def contamination_check_sql(
    corpus_where: str,
    benchmark_where: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
) -> str:
    sh = _shingles_sql(text_col, shingle_k)
    return f"""
WITH bench_g AS (
  SELECT DISTINCT {_h60_sql('g')} AS gh
  FROM (SELECT unnest({sh}) AS g FROM {table} WHERE {benchmark_where})
),
doc_g AS (
  SELECT id, {_h60_sql('g')} AS gh FROM (
    SELECT {id_col} AS id, unnest({sh}) AS g
    FROM {table} WHERE {corpus_where}
  )
),
hits AS (
  SELECT d.id, CAST(count(DISTINCT d.gh) AS BIGINT) AS n_overlap
  FROM doc_g d JOIN bench_g b ON b.gh = d.gh
  GROUP BY d.id
)
SELECT c.{id_col} AS doc_id,
       coalesce(h.n_overlap, 0) AS n_overlap,
       coalesce(h.n_overlap, 0) > 0 AS contaminated
FROM (SELECT * FROM {table} WHERE {corpus_where}) c
LEFT JOIN hits h ON h.id = c.{id_col}
"""


# ------------------------------------------------- components / canonical


def _min_labels(a, b, n: int):
    """Component label of each of ``n`` nodes joined by index edges a–b:
    the smallest node index of its component. Vectorized union-find —
    every root hooks onto the smallest root across its edges
    (``np.minimum.at``), then pointer jumping flattens the forest —
    repeated until no edge joins two roots. Pointers only ever decrease,
    so each root is its component's minimum."""
    import numpy as np

    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        split = la != lb
        if not split.any():
            return lab
        np.minimum.at(
            lab, np.maximum(la, lb)[split], np.minimum(la, lb)[split]
        )
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def _local_roots(batches):
    """mapInArrow body: union-find over one partition's (u, v) edges,
    emitting (v, r) for every vertex with r = the smallest id of its
    local component. A null v marks a pair with a null end: its non-null
    end stands alone, and one (null, null) row keeps the null vertex."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches).combine_chunks()
    u, v = tbl.column("u"), tbl.column("v")
    typ = u.type
    real = pc.is_valid(u)
    uu = u.filter(real).to_numpy()
    vv = pc.coalesce(v, u).filter(real).to_numpy()
    ids, inv = np.unique(np.concatenate([uu, vv]), return_inverse=True)
    roots = ids[_min_labels(inv[: len(uu)], inv[len(uu):], len(ids))]
    names = ["v", "r"]
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids, typ), pa.array(roots, typ)], names
    )
    if v.null_count:
        yield pa.RecordBatch.from_arrays([pa.nulls(1, typ)] * 2, names)


def dedup_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(id, comp): connected components of the duplicate-pair graph —
    comp = the MINIMUM doc id reachable from ``id``. Pairs alone don't
    dedup a corpus; transitive closure does (a~b, b~c ⇒ keep one of
    {a,b,c}), and near-dup relations are not transitive, so this is a
    real operator, not a groupBy. A pair with a null end links nothing:
    its other end is its own component, plus one (null, null) row.

    Each round is one Arrow pass and one groupBy over the round's edges
    (at first the distinct undirected pairs, ``least``/``greatest``):

    * the pass runs a numpy union-find over each partition's edges and
      emits (v, r), r = the smallest id of v's local component;
    * ``groupBy(v)`` takes comp = min(r) and the set of roots v got; a
      vertex that got several roots links them, and those link edges are
      the next round's input. Labels compose with one left join per
      extra round, and the loop stops when a round has no links.

    Every round is checkpointed (flat lineage). The common case is one
    round: AQE coalesces a dedup pair set into one partition, whose
    union-find is global. Otherwise each later round coalesces its link
    edges into a quarter of the previous round's partitions, so rounds ≤
    1 + ⌈log₄ P⌉ for P shuffle partitions whatever the graph's diameter
    (a round in one partition leaves no links). Exhausting ``max_iter``
    raises instead of returning partial labels.
    """
    from pyspark.sql.types import StructField, StructType

    from kenlm_spark.session import checkpoint_disk

    a, b = F.col(id_a), F.col(id_b)
    edges = pairs.select(
        F.least(a, b).alias("u"),
        F.when(a.isNotNull() & b.isNotNull(), F.greatest(a, b)).alias("v"),
    ).distinct()
    typ = edges.schema["u"].dataType
    schema = StructType([StructField("v", typ), StructField("r", typ)])
    labels = parts = None
    for _ in range(max_iter):
        rnd = checkpoint_disk(
            edges.mapInArrow(_local_roots, schema)
            .groupBy("v")
            .agg(F.min("r").alias("comp"), F.collect_set("r").alias("roots"))
        )
        if labels is None:
            labels = rnd.select(F.col("v").alias("id"), "comp")
        else:
            labels = labels.join(
                rnd, labels["comp"] == rnd["v"], "left"
            ).select(
                labels["id"],
                F.coalesce(rnd["comp"], labels["comp"]).alias("comp"),
            )
        edges = rnd.select(
            F.col("comp").alias("u"), F.explode("roots").alias("v")
        ).where(F.col("u") != F.col("v"))
        if edges.isEmpty():
            return labels
        n = edges.rdd.getNumPartitions()
        parts = max(1, min(n, parts or n) // 4)
        edges = edges.coalesce(parts)
    # Exhausting max_iter leaves labels that are NOT components yet;
    # returning them silently would yield wrong canonical survivors.
    raise RuntimeError(
        f"dedup_components did not converge in {max_iter} rounds; "
        f"raise max_iter"
    )


def dedup_canonical_drop(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, keep): the end-to-end dedup decision — every document
    keeps True except non-canonical duplicate-cluster members (cluster
    canonical = minimum doc id, the usual deterministic tie-break)."""
    comp = dedup_components(pairs)
    drop = comp.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return docs.select(id_col).join(
        drop.withColumn("_drop", F.lit(True)), id_col, "left"
    ).select(
        id_col, F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep")
    )


def dedup_components_sql(
    pairs_sql: str, jaccard_threshold: float = 0.5,
) -> str:
    """DuckDB twin of dedup_components over a pair-producing query:
    recursive transitive closure, then comp = min reachable id."""
    return f"""
WITH RECURSIVE base AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM base
  UNION
  SELECT id_b AS src, id_a AS dst FROM base
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT id, MIN(r) AS comp FROM reach GROUP BY id
"""


def dedup_canonical_sql(
    pairs_sql: str, table: str = "documents", id_col: str = "doc_id",
) -> str:
    """DuckDB twin of dedup_canonical_drop: recursive closure, then every
    document keeps unless it is a non-canonical cluster member."""
    return f"""
WITH RECURSIVE pbase AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pbase
  UNION
  SELECT id_b AS src, id_a AS dst FROM pbase
),
verts AS (SELECT DISTINCT src AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
SELECT d.{id_col}, (c.id IS NULL OR c.comp = c.id) AS keep
FROM {table} d LEFT JOIN comp c ON c.id = d.{id_col}
"""


# ------------------------------------------------- deterministic sampling


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Reproducible Bernoulli-style sampling: keep a row iff
    ``h60(salt || id) mod 1_000_000 < fraction * 1_000_000``.

    Unlike ``DataFrame.sample`` (per-partition XORShift — results change
    with partitioning and engine), the decision is a pure function of
    the row id: stable across runs, partition layouts, engines (the
    DuckDB twin agrees row-for-row), and resumable jobs — the property a
    training-data pipeline needs so re-running a 100-TB sample job
    selects the SAME documents. Map-only, no shuffle."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    bucket = F.pmod(
        h60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    return df.filter(bucket < int(fraction * 1_000_000))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    default_fraction: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "sample",
    pushdown_barrier: bool = False,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample low-quality /
    overrepresented-language strata): ``fractions`` maps stratum value →
    keep fraction; unlisted strata use ``default_fraction``. Same
    hash-threshold decision as :func:`deterministic_sample` — map-only,
    engine-stable, no shuffle.

    ``pushdown_barrier`` (r8): when the strata column is an EXPENSIVE
    derived expression (q_sample_stratified's 8-regexp lang_expr), the
    optimizer inlines it into this filter and pushes the predicate below
    any parallelizing repartition into the scan stage — on a single-file
    toy input that serializes ~30 inlined regexp copies (no codegen CSE
    in pushed predicates) onto ONE task: measured 16.9s vs 2.0s at
    sf1.0.  True adds an always-false non-deterministic OR-arm
    (``monotonically_increasing_id() < 0``) which Spark cannot split or
    push, pinning the filter ABOVE the projection so the stratum
    evaluates once per row in the parallel stage (guide §4.4's
    asNondeterministic lesson applied to a builtin expression).  The
    kept row set is bit-identical — the arm is always false."""
    bucket = F.pmod(
        h60(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    # ONE reference to the strata column (r8): the r4 when-chain
    # mentioned it once per stratum, and when the stratum is a derived
    # expression (q_sample_stratified's 8-regexp lang_expr) every
    # mention re-inlines the whole expression into the pushed filter —
    # measured 24.7s vs 1.1s for the bare lang projection at sf1.0.  A
    # map lookup keeps the decision identical (missing key -> NULL ->
    # default, exactly the old otherwise-chain) with a single mention.
    pairs = [
        x
        for value, frac in sorted(fractions.items())
        for x in (F.lit(value), F.lit(int(frac * 1_000_000)))
    ]
    thr = (
        F.coalesce(
            F.element_at(F.create_map(*pairs), F.col(strata_col)),
            F.lit(int(default_fraction * 1_000_000)),
        )
        if fractions
        else F.lit(int(default_fraction * 1_000_000))
    )
    cond = bucket < thr
    if pushdown_barrier:
        cond = cond | (F.monotonically_increasing_id() < 0)
    return df.filter(cond)


def stratified_sample_sql(
    strata_expr: str,
    fractions: dict,
    default_fraction: float = 0.0,
    table: str = "documents",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> str:
    """DuckDB twin: identical 60-bit hash, identical thresholds."""
    h = _h60_sql(f"'{salt}:' || CAST({id_col} AS VARCHAR)")
    cases = " ".join(
        f"WHEN ({strata_expr}) = '{v}' THEN {int(f * 1_000_000)}"
        for v, f in sorted(fractions.items())
    )
    thr = f"CASE {cases} ELSE {int(default_fraction * 1_000_000)} END"
    return f"""
SELECT * FROM {table}
WHERE ({h} % 1000000 + 1000000) % 1000000 < {thr}
"""
