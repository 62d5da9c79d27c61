"""SemDeDup — semantic deduplication over an embedding column
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"): k-means cluster the corpus embeddings,
then inside each cluster drop all but one member of every near-duplicate
group (pairwise cosine >= tau), keeping the member LEAST similar to its
cluster centroid (the paper's keep rule — low-typicality examples carry
the most information; ties break to the smaller id).

Spark-first shape:

* clustering reuses the IVF coarse quantizer (`ivf.train_centroids` —
  deterministic Lloyd over a hash-threshold sample — and the same
  argmin assignment), so at production scale the SemDeDup pass shares
  its index with similarity search.
* ONE Arrow pass per corpus row computes (cell, unit vector, cosine to
  own centroid); it is checkpointed, and the candidate self-join
  shuffles (nid, cell) only — vectors rejoin per side at the verify
  boundary (the id-only-band lesson from `similarity.embedding_near_dups`).
* candidate pairs come from cell equality — SemDeDup is exact WITHIN
  clusters and blind across them by construction (that locality is the
  point: at 10^12 rows, n_cells scales with the corpus so cells stay
  bounded; `max_cell` guards degenerate clusters the same way
  `max_bucket` guards LSH buckets). The default cap is sibling-scale
  (5,000 — a few× the LSH/phash ``max_bucket=2000`` since cells are
  coarser than buckets): the in-cell join is O(m²), so one
  just-under-cap cell costs ≤ ~12.5M pairs — bounded even if an
  all-zero-embedding shard lands in one cell. Cells OVER the cap are
  hash-SPLIT rather than dropped (``split_oversized``, default on): a
  cell of n rows pairs within ``ceil(n / max_cell)`` deterministic
  id-hash subcells, so its per-row candidate cost is capped at exactly
  the worst ALLOWED healthy cell (O(max_cell) pairs/row — linear in n
  overall, never quadratic) while near-dups still collapse to ≤ nsplit
  survivors instead of escaping dedup entirely. Id-hash is the only
  split that bounds the truly degenerate case (identical vectors defeat
  any content-based split); cross-subcell pairs are unseen, which is
  the same blindness SemDeDup already accepts across cells.
  ``split_oversized=False`` restores the drop-the-cell guard. Callers
  in the paper's 50k-cells regime can raise the cap knowingly.
* the dropped-id set is pair-bounded and broadcasts back onto the
  corpus spine for keep labels — no corpus-keyed shuffle after the
  cell join.

Cross-engine parity contracts (DuckDB twin `semdedup_sql`): cosine and
distances accumulate dim-SEQUENTIALLY (`_seq_dot` order == list_sum's
left fold); both cosines round at 6 before any comparison; argmin ties
break to the lowest cell; the pair loser is decided on the ROUNDED
centroid cosine with id tie-break.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenlm_spark.operators.ivf import kmeans_assign_ctes, train_centroids
from kenlm_spark.operators.similarity import (
    _seq_cos_blocks,
    _seq_dot,
    _seq_sq_norm,
)


def semdedup_labels(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.95,
    n_cells: int = 8,
    iters: int = 5,
    sample: int = 4096,
    sample_frac: float = 0.5,
    max_cell: int = 5_000,
    broadcast_drops: bool = True,
    split_oversized: bool = True,
) -> DataFrame:
    """(nid, cell, c_sim, keep) — SemDeDup keep/drop labels.

    ``c_sim`` is the cosine between the unit vector and its cluster's
    unit centroid (rounded at 6 — the loser-rule input). ``keep`` is
    false iff some same-cell neighbor with cosine >= ``tau`` beats this
    row under the paper's rule (the MORE centroid-typical member of a
    near-dup pair drops; ties drop the larger id).

    ``broadcast_drops``: the loser set is duplicate-bounded — broadcast
    by default, but set False on dedup-heavy corpora where it grows to
    corpus scale (same contract as
    ``multimodal.phash_dedup_labels(broadcast_drops=...)``).
    """
    cent = train_centroids(
        emb, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
        sample=sample, sample_frac=sample_frac,
    )
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(cent, dtype=np.float64))

    def assign_pass(batches):
        c = bc.value
        c2 = (c**2).sum(axis=1)
        cn = c / _seq_sq_norm(c)[:, None]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # same distance shape as ivf.assign_cells (argmin ties to
            # the lowest cell, matching the SQL row_number tie-break)
            d2 = (X**2).sum(axis=1, keepdims=True) - 2.0 * (X @ c.T) + c2
            cell = d2.argmin(axis=1).astype("int32")
            vn = X / _seq_sq_norm(X)[:, None]
            c_sim = np.round(_seq_dot(vn, cn[cell]), 6)
            yield pd.DataFrame(
                {
                    "nid": pdf[id_col].to_numpy(),
                    "vn": [list(map(float, r)) for r in vn],
                    "cell": cell,
                    "c_sim": c_sim,
                }
            )

    # one corpus pass, checkpointed: the downstream fan-out (cell-size
    # guard, candidate pair join, label join) re-reads the materialized
    # (nid, vn, cell, c_sim) instead of re-running Python — at
    # production scale this is the written cluster index.
    # ensure_min_partitions (r8): a single-file embedding table would
    # otherwise run the assign pass AND the in-cell pair probe on ONE
    # task (guide §2.6 stragglers); at production scale the scan has
    # thousands of splits and this is a no-op.
    from kenlm_spark.session import ensure_min_partitions

    from kenlm_spark.session import checkpoint_disk

    wide = checkpoint_disk(
        ensure_min_partitions(emb.select(id_col, vec_col)).mapInPandas(
            assign_pass,
            "nid long, vn array<double>, cell int, c_sim double",
        )
    )
    losers = semdedup_losers(
        wide,
        tau=tau,
        max_cell=max_cell,
        split_oversized=split_oversized,
        dim=int(np.asarray(cent).shape[1]),
    ).withColumn("_drop", F.lit(True))
    if broadcast_drops:
        losers = F.broadcast(losers)
    return wide.join(losers, "nid", "left").select(
        "nid",
        "cell",
        "c_sim",
        F.col("_drop").isNull().alias("keep"),
    )


_SPLIT_SALT = "semsplit:"


def semdedup_losers(
    wide: DataFrame,
    tau: float = 0.95,
    max_cell: int = 5_000,
    split_oversized: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """(nid) — the SemDeDup dropped-id set over a pre-assigned
    ``(nid, vn, cell, c_sim)`` DataFrame (``vn`` unit vectors, ``c_sim``
    rounded centroid cosine). Factored out of :func:`semdedup_labels` so
    composed jobs that compute the assignment in their own fused Arrow
    pass (`curation.curate_multimodal_full`) reuse the guard + candidate
    + verify stages unchanged. The result is duplicate-bounded — callers
    broadcast it back onto their spine.

    Cells over ``max_cell`` split into ``ceil(n / max_cell)``
    deterministic id-hash subcells and pair within them (see module
    docstring); for cells at or under the cap ``nsplit = 1`` and the
    subcell term is identically 0, so healthy corpora are bit-unchanged.
    ``split_oversized=False`` drops oversized cells from pairing instead
    (the pre-r7 guard).

    Verify is pure Catalyst (r8, guide §4.1): the pair cosine is a
    left-fold ``aggregate(zip_with(va, vb, *), 0.0, +)`` — the identical
    IEEE operation order as the numpy ``_seq_dot`` it replaced — rounded
    as ``rint(x * 1e6) / 1e6``, which is bit-for-bit ``np.round(x, 6)``
    (numpy's documented multiply/rint/divide recipe).  This deletes the
    two pair-scale id-keyed vector rejoins AND the Arrow crossing of
    every candidate pair (2×dim doubles/pair — the dominant cost at any
    scale); the vectors now ride the single (cell, sub) shuffle of the
    corpus-sized ``wide`` table instead.  NaN guards reproduce numpy
    comparison semantics exactly (numpy: any comparison with NaN is
    false; Spark orders NaN greatest): a NaN score never qualifies, and
    a NaN centroid cosine on either side makes ``id_b`` the loser, both
    matching the old verify bit-for-bit."""
    from kenlm_spark.operators.dedup import h60

    counts = wide.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    if split_oversized:
        splits = counts.select(
            "cell",
            F.expr(f"((_n - 1) div {max_cell}) + 1").alias("_nsplit"),
        )
        sub = (
            wide.select("nid", "cell", "vn", "c_sim")
            .join(F.broadcast(splits), "cell")
            .select(
                "nid",
                "cell",
                "vn",
                "c_sim",
                F.pmod(
                    h60(
                        F.concat(
                            F.lit(_SPLIT_SALT), F.col("nid").cast("string")
                        )
                    ),
                    F.col("_nsplit"),
                ).alias("sub"),
            )
        )
    else:
        big = counts.filter(F.col("_n") > max_cell).select("cell")
        sub = (
            wide.select("nid", "cell", "vn", "c_sim")
            .join(big, "cell", "left_anti")
            .withColumn("sub", F.lit(0).cast("long"))
        )
    a = sub.select(
        "cell",
        "sub",
        F.col("nid").alias("id_a"),
        F.col("vn").alias("va"),
        F.col("c_sim").alias("ca"),
    )
    b = sub.select(
        "cell",
        "sub",
        F.col("nid").alias("id_b"),
        F.col("vn").alias("vb"),
        F.col("c_sim").alias("cb"),
    )
    if dim is None or dim > 16:
        # big/unknown dims (r8, guide §4.2): the 64-term HOF fold ran
        # interpreted per pair and dominated the query (4.6s for 12.5M
        # in-cell pairs at sf1.0); a per-(cell, sub) numpy pass computes
        # the whole pair block vectorized — same (cell, sub) exchange
        # the self-join needed, vectors cross Arrow once per ROW (not
        # per pair), and every IEEE operation matches: dim-sequential
        # accumulation == the fold's left fold, np.round(x, 6) == the
        # rint recipe, NaN scores fail `>= tau` under numpy semantics,
        # NaN centroid cosines lose id_b — verified set-equal against
        # the Catalyst path on 12.5M pairs before switching.  Small
        # known dims keep the unrolled codegen chain below (its Arrow
        # crossing would cost more than the chain).
        tau_f = float(tau)

        def grp(pdf: pd.DataFrame) -> pd.DataFrame:
            m = len(pdf)
            if m < 2:
                return pd.DataFrame({"nid": pd.Series([], dtype="int64")})
            order = np.argsort(pdf["nid"].to_numpy(), kind="stable")
            ids = pdf["nid"].to_numpy()[order]
            V = np.stack(pdf["vn"].to_numpy()[order])
            ca = pdf["c_sim"].to_numpy()[order]
            out: set = set()
            col = np.arange(m)
            for s, score in _seq_cos_blocks(V, V):
                gi = np.arange(s, s + len(score))
                # ids sorted: column index > row index <=> id_a < id_b
                mask = (score >= tau_f) & (col[None, :] > gi[:, None])
                ii, jj = np.nonzero(mask)
                gi_i = gi[ii]
                A, Bc = ca[gi_i], ca[jj]
                nan = np.isnan(A) | np.isnan(Bc)
                loser = np.where(
                    nan, ids[jj], np.where(A > Bc, ids[gi_i], ids[jj])
                )
                out.update(loser.tolist())
            return pd.DataFrame(
                {"nid": pd.Series(sorted(out), dtype="int64")}
            )

        return (
            sub.select("nid", "cell", "sub", "vn", "c_sim")
            .groupBy("cell", "sub")
            .applyInPandas(grp, "nid long")
            .distinct()
        )
    pairs = a.join(b, ["cell", "sub"]).filter(F.col("id_a") < F.col("id_b"))
    # small known dims: an unrolled left-to-right chain (seeded with
    # the fold's exact 0.0 + x1 first step, so every IEEE operation
    # matches) runs in whole-stage codegen with no per-pair array
    # allocation — measured 6x over the HOF at dim 8 / 8M pairs.
    from functools import reduce

    dot = reduce(
        lambda acc, i: acc
        + F.element_at("va", i) * F.element_at("vb", i),
        range(2, dim + 1),
        F.lit(0.0) + F.element_at("va", 1) * F.element_at("vb", 1),
    )
    score = F.call_function("rint", dot * F.lit(1000000.0)) / F.lit(
        1000000.0
    )
    # paper rule on rounded cosines: the more centroid-typical member
    # drops; ties drop the larger id (NaN cosines: id_b, as numpy did)
    loser = (
        F.when(F.isnan("ca") | F.isnan("cb"), F.col("id_b"))
        .when(
            (F.col("ca") > F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("id_a") > F.col("id_b"))),
            F.col("id_a"),
        )
        .otherwise(F.col("id_b"))
    )
    # nanvl -> NULL makes a NaN score fail the >= in ONE evaluation of
    # the fold (a separate ~isnan conjunct would re-evaluate the whole
    # aggregate per conjunct inside the join condition — measured 2x)
    qualifies = F.nanvl(score, F.lit(None).cast("double")) >= F.lit(
        float(tau)
    )
    return pairs.filter(qualifies).select(loser.alias("nid")).distinct()


_CBAL_SALT = "cbal:"


def cluster_balanced_sample(
    emb: DataFrame,
    per_cell: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 5,
    sample: int = 4096,
    sample_frac: float = 0.5,
) -> DataFrame:
    """(nid, cell, n_cell, sampled) — cluster-balanced diversity
    sampling: downsample each k-means cell to ~``per_cell`` members so
    head clusters (boilerplate-dense regions of embedding space) stop
    dominating the training mix — the balancing step run after SemDeDup
    in DataComp-style curation.

    Quotas are hash-threshold EXPECTED counts, not exact ranks: a row
    samples iff ``h60(salt || id) % 1e6  *  n_cell  <  per_cell * 1e6``
    (pure BIGINT arithmetic — bit-exact across engines, no float
    boundary). This is deliberate: an exact per-cell top-K needs a
    rank over the cell — a corpus-scale Window with no partial
    aggregation, the viral-cell skew trap — while the threshold form is
    one partially-aggregated count per cell (broadcast back; ≤ n_cells
    rows) plus a map-only filter. Quota variance is binomial
    (~sqrt(per_cell)), irrelevant at curation scale.
    """
    from kenlm_spark.operators.dedup import h60
    from kenlm_spark.operators.ivf import assign_cells, train_centroids

    cent = train_centroids(
        emb, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
        sample=sample, sample_frac=sample_frac,
    )
    assigned = assign_cells(emb, cent, id_col=id_col, vec_col=vec_col)
    counts = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_cell")
    )
    hmod = F.pmod(
        h60(F.concat(F.lit(_CBAL_SALT), F.col("nid").cast("string"))),
        F.lit(1_000_000),
    )
    return (
        assigned.select("nid", "cell")
        .join(F.broadcast(counts), "cell")
        .select(
            "nid",
            "cell",
            "n_cell",
            (hmod * F.col("n_cell") < per_cell * 1_000_000).alias("sampled"),
        )
    )


def cluster_balanced_sample_sql(
    per_cell: int = 100,
    n_cells: int = 8,
    iters: int = 5,
    sample: int = 4096,
    sample_frac: float = 0.5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`cluster_balanced_sample` (shared k-means
    CTEs; DuckDB's %% is signed, hence the +1e6 fold)."""
    ctes = kmeans_assign_ctes(
        n_cells, iters, sample, sample_frac, table, id_col, vec_col
    )
    h = (
        f"CAST(('0x' || substring(md5('{_CBAL_SALT}' || "
        f"CAST(a.nid AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_cell
        FROM assigned GROUP BY cell)
SELECT a.nid, a.cell, c.n_cell,
       ((({h} % 1000000) + 1000000) % 1000000) * c.n_cell
         < {per_cell} * 1000000 AS sampled
FROM assigned a JOIN cnt c ON c.cell = a.cell
"""


def _sql_dot(x: str, y: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({x})), "
        f"i -> {x}[i] * {y}[i]))"
    )


def _sql_unit(x: str) -> str:
    return (
        f"list_transform({x}, e -> e / sqrt(list_sum("
        f"list_transform(generate_series(1, len({x})), "
        f"i -> {x}[i] * {x}[i]))))"
    )


def semdedup_label_ctes(
    ctes: list[str],
    tau: float,
    max_cell: int,
    iters: int,
    split_oversized: bool = True,
) -> list[str]:
    """Append the SemDeDup normc/wide/cellsplit/subbed/losers CTEs to a
    CTE list that already ends in ``assigned(nid, v, cell)`` +
    ``cent{iters}`` (from ``kmeans_assign_ctes`` over any embedding
    source). Shared by :func:`semdedup_sql` and the q_curation_full
    oracle. Mirrors :func:`semdedup_losers` including the oversized-cell
    id-hash split (same salt, same h60 arithmetic)."""
    dot, unit = _sql_dot, _sql_unit
    ctes = list(ctes)
    ctes.append(
        f"""normc AS (
  SELECT cell, {unit('c')} AS cn FROM cent{iters}
)"""
    )
    ctes.append(
        f"""wide AS (
  SELECT a.nid, a.cell, {unit('a.v')} AS vn,
         round({dot(unit('a.v'), 'nc.cn')}, 6) AS c_sim
  FROM assigned a JOIN normc nc ON nc.cell = a.cell
)"""
    )
    if split_oversized:
        h = (
            f"CAST(('0x' || substring(md5('{_SPLIT_SALT}' || "
            f"CAST(w.nid AS VARCHAR)), 1, 15)) AS BIGINT)"
        )
        ctes.append(
            f"""cellsplit AS (
  SELECT cell, CAST((count(*) - 1) // {max_cell} + 1 AS BIGINT) AS nsplit
  FROM wide GROUP BY cell
)"""
        )
        ctes.append(
            f"""subbed AS (
  SELECT w.nid, w.cell, w.vn, w.c_sim,
         (({h} % s.nsplit) + s.nsplit) % s.nsplit AS sub
  FROM wide w JOIN cellsplit s ON s.cell = w.cell
)"""
        )
    else:
        ctes.append(
            f"""cellsplit AS (
  SELECT cell FROM wide GROUP BY cell HAVING count(*) <= {max_cell}
)"""
        )
        ctes.append(
            """subbed AS (
  SELECT w.nid, w.cell, w.vn, w.c_sim, CAST(0 AS BIGINT) AS sub
  FROM wide w JOIN cellsplit s ON s.cell = w.cell
)"""
        )
    ctes.append(
        f"""losers AS (
  SELECT DISTINCT CASE
      WHEN a.c_sim > b.c_sim
        OR (a.c_sim = b.c_sim AND a.nid > b.nid) THEN a.nid
      ELSE b.nid END AS nid
  FROM subbed a
  JOIN subbed b ON a.cell = b.cell AND a.sub = b.sub AND a.nid < b.nid
  WHERE round({dot('a.vn', 'b.vn')}, 6) >= {tau}
)"""
    )
    return ctes


def semdedup_sql(
    tau: float = 0.95,
    n_cells: int = 8,
    iters: int = 5,
    sample: int = 4096,
    sample_frac: float = 0.5,
    max_cell: int = 5_000,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    split_oversized: bool = True,
) -> str:
    """DuckDB twin of :func:`semdedup_labels`: identical k-means CTEs
    (shared with the IVF oracle via ``kmeans_assign_ctes``), unit
    normalization and centroid cosine with list_sum's sequential fold,
    the same round-6 / tie-break loser rule and oversized-cell split."""
    ctes = kmeans_assign_ctes(
        n_cells, iters, sample, sample_frac, table, id_col, vec_col
    )
    ctes = semdedup_label_ctes(ctes, tau, max_cell, iters, split_oversized)
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT w.nid, w.cell, w.c_sim,
       w.nid NOT IN (SELECT nid FROM losers) AS keep
FROM wide w
"""
