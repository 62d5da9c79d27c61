"""Similarity search over embedding columns (array<float>).

Two paths:

* ``brute_force_topk`` — exact cosine top-k. The dot product stays in
  Catalyst (``F.aggregate`` over ``F.zip_with``) — acceptable here because
  the operator is a small-query × big-corpus join where the lambda cost is
  dwarfed by the crossJoin; a Pandas-UDF/numpy variant
  (``brute_force_topk_pandas``) is provided for wide fan-outs.
* ``lsh_topk`` — random-hyperplane (sign) LSH: 60-bit-hash-seeded
  deterministic pseudo-random projections bucket vectors; candidates are
  re-ranked exactly within buckets. The scale path: candidate generation is
  a groupBy join on bucket keys, linear in corpus size.

At 10^12 scale: queries are broadcast (small side), the corpus scan stays
partition-parallel, and per-partition top-k (via window rank over bucket
candidates) avoids any global sort until the final k×|queries| rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot_unrolled(a, b, dim: int):
    """Left-to-right 64-term sum — codegen-friendly (no interpreted lambda)
    and bitwise-identical to the oracle's sequential list_sum."""
    acc = None
    for i in range(1, dim + 1):
        t = F.element_at(a, i) * F.element_at(b, i)
        acc = t if acc is None else acc + t
    return acc


def _norm_unrolled(a, dim: int):
    acc = None
    for i in range(1, dim + 1):
        t = F.element_at(a, i) * F.element_at(a, i)
        acc = t if acc is None else acc + t
    return F.sqrt(acc)


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for the given query ids.

    Output: (query_id, neighbor_id, score r6, rank) — rank deterministic
    (score desc, neighbor_id asc).
    """
    base = emb.select(
        F.col(id_col).alias("nid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    queries = base.filter(F.col("nid").isin(query_ids)).select(
        F.col("nid").alias("query_id"), F.col("v").alias("qv")
    )
    # ensure_min_partitions (r8): spread the corpus side of the probe —
    # a single-file table otherwise scores every (row, query) dot on one
    # task; no-op when the scan already has enough splits.
    from kenlm_spark.session import ensure_min_partitions

    joined = ensure_min_partitions(base).crossJoin(
        F.broadcast(queries)
    ).filter(F.col("nid") != F.col("query_id"))
    dim = int(emb.select(F.size(vec_col).alias("d")).first()["d"])
    # unrolled sequential sum: float-identical to the HOF fold (both
    # left-to-right) but stays inside whole-stage codegen
    cos = _dot_unrolled(F.col("qv"), F.col("v"), dim) / (
        _norm_unrolled(F.col("qv"), dim) * _norm_unrolled(F.col("v"), dim)
    )
    scored = joined.select(
        "query_id",
        F.col("nid").alias("neighbor_id"),
        F.round(cos, 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("long"))
    )


def brute_force_topk_sql(
    query_ids: list[int],
    k: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH base AS (
  SELECT {id_col} AS nid,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
  FROM {table}
),
q AS (SELECT nid AS query_id, v AS qv FROM base WHERE nid IN ({ids})),
scored AS (
  SELECT q.query_id, b.nid AS neighbor_id,
         round(
           list_sum(list_transform(generate_series(1, len(q.qv)),
                                   i -> q.qv[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
              * sqrt(list_sum(list_transform(b.v, x -> x * x)))),
           6) AS score
  FROM base b CROSS JOIN q
  WHERE b.nid <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def brute_force_topk_pandas(
    emb: DataFrame,
    query_vectors: np.ndarray,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Numpy/Arrow variant: per-partition matmul top-k, then global merge.

    The corpus never concentrates: each Arrow batch computes a (batch × Q)
    score matrix and keeps its local top-k; the final exact top-k is a tiny
    window over (#partitions × k × Q) rows.
    """
    import pandas as pd

    spark = emb.sparkSession
    qm = np.asarray(query_vectors, dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qm, list(query_ids), k))

    def score_batches(batches):
        q, qids, kk = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            scores = mat @ q.T  # (batch, Q)
            for j, qid in enumerate(qids):
                col = scores[:, j]
                mask = ids != qid
                order = np.argsort(-col[mask])[:kk]
                sel_ids = ids[mask][order]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": sel_ids,
                        "score": np.round(col[mask][order], 6),
                    }
                )

    schema = "query_id long, neighbor_id long, score double"
    local = emb.select(id_col, vec_col).mapInPandas(score_batches, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("long"))
    )


def _normalized(
    emb: DataFrame, id_col: str, vec_col: str, dim: int, checkpoint: bool
) -> DataFrame:
    """(nid, vn): unit-normalized double vectors.

    ``checkpoint`` is load-bearing for the exact/crossJoin path: without it
    CollapseProject inlines the normalization into the pair stage and
    recomputes it per PAIR (measured 40s at sf0.1). The LSH path joins on
    ids instead, where the projection materializes once per row at the
    join boundary, so no checkpoint (and no extra job) is needed."""
    base = emb.select(
        F.col(id_col).alias("nid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    out = base.select(
        "nid",
        F.transform("v", lambda x: x / _norm_unrolled(F.col("v"), dim)).alias(
            "vn"
        ),
    )
    if checkpoint:
        from kenlm_spark.session import checkpoint_disk

        return checkpoint_disk(out)
    return out


def _seq_sq_norm(x: np.ndarray) -> np.ndarray:
    """Row norms with dim-SEQUENTIAL accumulation: bitwise-identical to
    DuckDB's list_sum (left-to-right fold), unlike numpy's pairwise sum."""
    acc = np.zeros(len(x))
    for i in range(x.shape[1]):
        acc = acc + x[:, i] * x[:, i]
    return np.sqrt(acc)


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot with dim-sequential accumulation (DuckDB list_sum
    order), vectorized across rows."""
    acc = np.zeros(len(a))
    for i in range(a.shape[1]):
        acc = acc + a[:, i] * b[:, i]
    return acc


def _seq_cos_blocks(a: np.ndarray, b: np.ndarray):
    """Yield ``(s, score)`` row blocks of ``np.round(a @ b.T, 6)``, the
    dot accumulated dim-sequentially (``_seq_dot``'s order, element for
    element): ``score[r, j]`` is the rounded dot of ``a[s + r]`` and
    ``b[j]``.  A block holds about 10 MB of scores, so the dim passes
    stay in cache; block size never changes an element's operation order.

    ``a`` and ``b`` are 2-D float64 arrays; no row is dropped or checked
    for nulls.  The verify groups stack ``vn`` columns written by a 2-D
    numpy pass (``semdedup_labels.assign_pass``,
    ``embedding_near_dups.wide_pass``, ``curation``'s fused pass), and
    ``retrieval_recall`` builds both sides with ``np.asarray`` in its own
    pass; each raises on a null or ragged vector within an Arrow batch.
    The SemDeDup, curation and retrieval passes also fix the dim to their
    broadcast centroids or pool.  ``wide_pass`` fixes it per task only,
    so an embedding column whose dim differs between input partitions
    reaches ``bucket_grp``'s ``np.stack`` and raises ``ValueError``
    there, where the id-only-band verify drops the cross-dim pairs."""
    rows = max(1, 10_000_000 // (8 * max(len(b), 1)))
    for s in range(0, len(a), rows):
        acc = np.zeros((min(rows, len(a) - s), len(b)))
        for d in range(a.shape[1]):
            acc += a[s : s + rows, d : d + 1] * b[None, :, d]
        yield s, np.round(acc, 6)


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = False,
    n_planes: int = 16,
    n_tables: int = 8,
    max_bucket: int = 2000,
    max_exact_rows: int = 100_000,
    bucket_verify: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score >= t).

    Return contract: with the default ``use_lsh=False`` the result is the
    EXACT pair set (every pair with cosine >= threshold), computed O(n²) —
    correct at any threshold but only viable at tiny N. ``use_lsh=True``
    is the scale path and an explicit trade-off opt-in: candidates come
    from multi-table sign-LSH buckets — then verified exactly — so the
    result is a SUBSET of the exact pairs. Recall: P(pair surfaces) =
    1-(1-(1-θ/π)^planes)^tables for angle θ — with the 16-plane default,
    ≈0.8 at cosine 0.95 and →1 as cosine→1, while random pairs collide at
    ~2^-16 per table, which is what keeps buckets small (and candidate
    generation near-linear) as the corpus grows; ``n_planes`` trades recall
    at looser thresholds against bucket size, and buckets larger than
    ``max_bucket`` are dropped (boilerplate / zero-vector guard, same
    contract as the MinHash ``max_bucket`` — dense clusters beyond it are
    silently skipped). Deterministic md5 hyperplanes make the LSH path
    itself oracle-checkable (``embedding_near_dups_sql(use_lsh=True)``).

    The exact path refuses inputs above ``max_exact_rows`` (default 100k
    ≈ 5e9 comparisons): at larger N the O(n²) cross join is a cluster
    accident, not a slow query — callers there must opt into
    ``use_lsh=True`` (or raise the guard deliberately).
    """
    if not use_lsh:
        n_rows = emb.count()
        if n_rows > max_exact_rows:
            raise ValueError(
                f"embedding_near_dups exact path on {n_rows} rows would "
                f"cross-join O(n²); pass use_lsh=True (bucketed + exact "
                f"verify) or raise max_exact_rows explicitly"
            )
        dim = int(emb.select(F.size(vec_col).alias("d")).first()["d"])
        normed = _normalized(emb, id_col, vec_col, dim, checkpoint=True)
        spark = emb.sparkSession
        n_part = spark.sparkContext.defaultParallelism
        a = normed.select(
            F.col("nid").alias("id_a"), F.col("vn").alias("va")
        ).repartition(n_part)
        b = normed.select(F.col("nid").alias("id_b"), F.col("vn").alias("vb"))
        pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
        cos = _dot_unrolled(F.col("va"), F.col("vb"), dim)
        return pairs.select(
            "id_a", "id_b", F.round(cos, 6).alias("score")
        ).filter(F.col("score") >= threshold)

    import pandas as pd

    def wide_pass(batches):
        p_mat = None
        weights = 1 << np.arange(n_planes)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if p_mat is None:
                p_mat = lsh_plane_matrix(x.shape[1], n_planes, n_tables)
            signs = (x @ p_mat.T) >= 0
            bks = (
                (signs.reshape(len(x), n_tables, n_planes) * weights)
                .sum(axis=2)
                .astype("int32")
            )
            vn = x / _seq_sq_norm(x)[:, None]
            yield pd.DataFrame(
                {
                    "nid": pdf[id_col].to_numpy(),
                    "vn": [list(map(float, r)) for r in vn],
                    "buckets": [list(map(int, r)) for r in bks],
                }
            )

    # ONE corpus pass computes normalized vectors + all table buckets;
    # checkpointed so the downstream fan-out (bucket-size agg, anti-join,
    # self-join, verify joins) re-reads the tiny materialized table instead
    # of re-running Python (at production scale this is the written index).
    # ensure_min_partitions (r8): a single-file embedding table would
    # otherwise run the Arrow pass and every downstream probe on ONE task.
    from kenlm_spark.session import ensure_min_partitions

    from kenlm_spark.session import checkpoint_disk

    wide = checkpoint_disk(
        ensure_min_partitions(emb.select(id_col, vec_col)).mapInPandas(
            wide_pass, "nid long, vn array<double>, buckets array<int>"
        )
    )
    bands = wide.select("nid", F.posexplode("buckets").alias("t", "bucket"))
    big = (
        bands.groupBy("t", "bucket")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket)
    )
    bands = bands.join(big.select("t", "bucket"), ["t", "bucket"], "left_anti")
    if bucket_verify:
        # Pair-DENSE regime (r8, opt-in): when the candidate pair count
        # exceeds n_tables × corpus (loose thresholds / few planes —
        # this module's synthetic entry regime), the id-only-band shape
        # below inverts: the pair-scale distinct + two vector joins +
        # an interpreted per-pair fold move and compute MORE than the
        # bucket rows themselves.  Here vectors ride the (t, bucket)
        # exchange once (n_tables × corpus payload — the deliberate
        # NON-default, see the id-only-band note below) and each bucket
        # verifies vectorized in numpy: dim-sequential accumulation ==
        # the fold's IEEE order, np.round(x, 6) == the rint recipe, NaN
        # fails `>= threshold` under numpy exactly as nanvl does; the
        # cross-table distinct collapses multi-table duplicates (score
        # is a pure function of the pair).  Verified set-equal against
        # the Catalyst path on the full 7.5M-candidate workload.
        thr = float(threshold)

        def bucket_grp(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
            m = len(pdf)
            if m < 2:
                return empty
            order = np.argsort(pdf["nid"].to_numpy(), kind="stable")
            ids = pdf["nid"].to_numpy()[order]
            V = np.stack(pdf["vn"].to_numpy()[order])
            outs = []
            col = np.arange(m)
            for s, sc in _seq_cos_blocks(V, V):
                gi = np.arange(s, s + len(sc))
                mask = (sc >= thr) & (col[None, :] > gi[:, None])
                ii, jj = np.nonzero(mask)
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[gi[ii]],
                            "id_b": ids[jj],
                            "score": sc[ii, jj],
                        }
                    )
                )
            return pd.concat(outs) if outs else empty

        return (
            bands.join(wide.select("nid", "vn"), "nid")
            .groupBy("t", "bucket")
            .applyInPandas(bucket_grp, "id_a long, id_b long, score double")
            .distinct()
        )
    a, b = bands.alias("a"), bands.alias("b")
    # id-only band shuffle: vectors never ride through the n_tables-way
    # explode; they rejoin once per side below.
    pairs = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.nid") < F.col("b.nid")),
        )
        .select(F.col("a.nid").alias("id_a"), F.col("b.nid").alias("id_b"))
        .distinct()
    )
    joined = pairs.join(
        wide.select(F.col("nid").alias("id_a"), F.col("vn").alias("va")), "id_a"
    ).join(
        wide.select(F.col("nid").alias("id_b"), F.col("vn").alias("vb")), "id_b"
    )

    # Catalyst verify (r8, same recipe as semdedup_losers): left-fold
    # aggregate/zip_with dot == _seq_dot's IEEE order; rint(x*1e6)/1e6 is
    # bit-for-bit np.round(x, 6); ~isnan reproduces numpy's
    # NaN-never-qualifies (Spark otherwise orders NaN greatest).  Deletes
    # the Arrow crossing of 2×dim doubles per candidate pair.
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.call_function("rint", dot * F.lit(1000000.0)) / F.lit(
        1000000.0
    )
    # nanvl -> NULL: a NaN score fails the >= in one evaluation (numpy's
    # NaN-never-qualifies), and the emitted score column is untouched
    # for qualifying rows (a non-NaN score passes nanvl unchanged)
    return joined.select("id_a", "id_b", score.alias("score")).filter(
        F.nanvl("score", F.lit(None).cast("double"))
        >= F.lit(float(threshold))
    )


def _normed_ctes(table: str, id_col: str, vec_col: str) -> str:
    return f"""base AS (
  SELECT {id_col} AS nid, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
  FROM {table}
),
normed AS (
  SELECT nid,
         list_transform(v, x -> x / sqrt(list_sum(
           list_transform(generate_series(1, len(v)), i -> v[i] * v[i])))) AS vn
  FROM base
)"""


def embedding_near_dups_sql(
    threshold: float = 0.95,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = False,
    n_planes: int = 16,
    n_tables: int = 8,
    max_bucket: int = 2000,
) -> str:
    if not use_lsh:
        return f"""
WITH {_normed_ctes(table, id_col, vec_col)},
pairs AS (
  SELECT a.nid AS id_a, b.nid AS id_b,
         round(
           list_sum(list_transform(generate_series(1, len(a.vn)),
                                   i -> a.vn[i] * b.vn[i])),
           6) AS score
  FROM normed a JOIN normed b ON a.nid < b.nid
)
SELECT id_a, id_b, score FROM pairs WHERE score >= {threshold}
"""
    return f"""
WITH {_normed_ctes(table, id_col, vec_col)},
{_buckets_sql_ctes(n_planes, n_tables)},
small AS (
  SELECT t, bucket FROM buckets GROUP BY t, bucket
  HAVING count(*) <= {max_bucket}
),
kept AS (SELECT b.* FROM buckets b JOIN small s USING (t, bucket)),
cand AS (
  SELECT DISTINCT a.nid AS id_a, b.nid AS id_b
  FROM kept a JOIN kept b
    ON a.t = b.t AND a.bucket = b.bucket AND a.nid < b.nid
),
pairs AS (
  SELECT c.id_a, c.id_b,
         round(
           list_sum(list_transform(generate_series(1, len(na.vn)),
                                   i -> na.vn[i] * nb.vn[i])),
           6) AS score
  FROM cand c
  JOIN normed na ON na.nid = c.id_a
  JOIN normed nb ON nb.nid = c.id_b
)
SELECT id_a, id_b, score FROM pairs WHERE score >= {threshold}
"""


# ------------------------------------------------------------------- LSH


def _hyperplane(dim: int, plane: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplane from md5 (no RNG state)."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()
        vals.append(int(h[:15], 16) / float(1 << 60) - 0.5)
    return np.asarray(vals)


def lsh_plane_matrix(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """(n_tables*n_planes, dim) hyperplane matrix; row t*n_planes+p is
    plane p of table t (id = t*1000+p, matching the SQL twin)."""
    return np.stack(
        [
            _hyperplane(dim, t * 1000 + p)
            for t in range(n_tables)
            for p in range(n_planes)
        ]
    )


def lsh_buckets(
    emb: DataFrame,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(nid, t, bucket): sign-LSH bucket of every vector in every table.

    Bucket bits come from one numpy matmul per Arrow batch (X @ planes.T)
    inside ``mapInPandas`` — the Catalyst-expression variant unrolled
    dim x planes x tables ≈ 2k codegen terms per row and was
    planning-bound (same lesson as IVF's ``assign_cells``). Map-only: no
    shuffle; the t-explode happens JVM-side via posexplode.
    """
    import pandas as pd

    spark = emb.sparkSession
    planes = lsh_plane_matrix(dim, n_planes, n_tables)
    bc = spark.sparkContext.broadcast(planes)

    def run(batches):
        p_mat = bc.value
        weights = 1 << np.arange(n_planes)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            signs = (x @ p_mat.T) >= 0  # (batch, n_tables*n_planes)
            b = (
                (signs.reshape(len(x), n_tables, n_planes) * weights)
                .sum(axis=2)
                .astype("int32")
            )
            yield pd.DataFrame(
                {
                    "nid": pdf[id_col].to_numpy(),
                    "buckets": [list(map(int, row)) for row in b],
                }
            )

    wide = emb.select(id_col, vec_col).mapInPandas(
        run, "nid long, buckets array<int>"
    )
    return wide.select("nid", F.posexplode("buckets").alias("t", "bucket"))


def _buckets_sql_ctes(n_planes: int, n_tables: int) -> str:
    """DuckDB twin of ``lsh_buckets`` over the ``base`` CTE: the md5
    hyperplane coefficients are regenerated in SQL, so the oracle shares
    no Python state with the Spark side."""
    return f"""planes AS (
  SELECT t.t, p.p,
         list(CAST(('0x' || substring(
                md5(CAST(t.t * 1000 + p.p AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)),
                1, 15)) AS BIGINT) / 1152921504606846976.0 - 0.5
              ORDER BY d.d) AS coef
  FROM range(0, {n_tables}) t(t), range(0, {n_planes}) p(p),
       (SELECT unnest(generate_series(0, len(v) - 1)) AS d
        FROM (SELECT v FROM base LIMIT 1)) d(d)
  GROUP BY t.t, p.p
),
buckets AS (
  SELECT b.nid, pl.t,
         SUM(CASE WHEN list_sum(list_transform(
                    generate_series(1, len(b.v)), i -> b.v[i] * pl.coef[i])) >= 0
                  THEN 1 << pl.p ELSE 0 END) AS bucket
  FROM base b CROSS JOIN planes pl
  GROUP BY b.nid, pl.t
)"""


def lsh_bucket_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH + exact re-rank in buckets.

    ``n_tables`` independent hash tables of ``n_planes`` hyperplanes each
    (the classical recall lever: P(candidate) = 1-(1-p^b)^L); candidates
    are the union over tables, re-ranked exactly. Deterministic:
    hyperplanes derive from md5, no RNG state, so the whole path has a
    DuckDB oracle (``lsh_bucket_topk_sql``).

    Scale shape: query buckets/vectors are computed driver-side from the
    (tiny, by contract) query set and broadcast; ONE corpus pass computes
    each row's buckets, matches them against the query tables, and scores
    the matches exactly (dim-sequential numpy, DuckDB-bit-identical), so
    only (query, candidate, score) rows — not vectors — reach the final
    global top-k window. One scan, one Python crossing, one shuffle.
    """
    import pandas as pd

    spark = emb.sparkSession

    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    dim = len(qrows[0][vec_col])
    planes = lsh_plane_matrix(dim, n_planes, n_tables)
    weights = 1 << np.arange(n_planes)
    qids = np.asarray([int(r[id_col]) for r in qrows], dtype=np.int64)
    qm = np.asarray(
        [np.asarray(r[vec_col], dtype=np.float64) for r in qrows]
    )  # (nq, dim)
    qsigns = (qm @ planes.T) >= 0
    qbuckets = (
        (qsigns.reshape(len(qm), n_tables, n_planes) * weights)
        .sum(axis=2)
        .astype("int64")
    )  # (nq, n_tables)
    qnorms = _seq_sq_norm(qm)
    bc = spark.sparkContext.broadcast((planes, qids, qm, qbuckets, qnorms))

    def score_pass(batches):
        p_mat, q_ids, q_m, q_b, q_n = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            signs = (x @ p_mat.T) >= 0
            bks = (
                (signs.reshape(len(x), n_tables, n_planes) * weights)
                .sum(axis=2)
                .astype("int64")
            )
            norms = _seq_sq_norm(x)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                mask = (bks == q_b[j]).any(axis=1) & (ids != qid)
                if not mask.any():
                    continue
                xm = x[mask]
                dots = _seq_dot(np.broadcast_to(q_m[j], xm.shape), xm)
                out_q.append(np.full(mask.sum(), qid, dtype=np.int64))
                out_n.append(ids[mask])
                out_s.append(np.round(dots / (q_n[j] * norms[mask]), 6))
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "score": np.concatenate(out_s),
                }
            )

    scored = emb.select(id_col, vec_col).mapInPandas(
        score_pass, "query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("long"))
    )


def lsh_bucket_topk_sql(
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH base AS (
  SELECT {id_col} AS nid, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
  FROM {table}
),
{_buckets_sql_ctes(n_planes, n_tables)},
qb AS (SELECT nid AS query_id, t, bucket FROM buckets WHERE nid IN ({ids})),
cand AS (
  SELECT DISTINCT q.query_id, b.nid
  FROM buckets b JOIN qb q ON b.t = q.t AND b.bucket = q.bucket
  WHERE b.nid <> q.query_id
),
scored AS (
  SELECT c.query_id, c.nid AS neighbor_id,
         round(
           list_sum(list_transform(generate_series(1, len(qv.v)),
                                   i -> qv.v[i] * bv.v[i]))
           / (sqrt(list_sum(list_transform(qv.v, x -> x * x)))
              * sqrt(list_sum(list_transform(bv.v, x -> x * x)))),
           6) AS score
  FROM cand c
  JOIN base qv ON qv.nid = c.query_id
  JOIN base bv ON bv.nid = c.nid
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""
