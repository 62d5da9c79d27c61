"""Image-text alignment filtering — the CLIP-score gate of LAION /
DataComp-style pair curation: embed the image and its caption, keep the
pair iff cosine(text_emb, image_emb) >= threshold (LAION-400M used
CLIP ViT-B/32 at 0.28).

The container has no CLIP/torch, so the encoders are PLUGGABLE
callables over Arrow batches — the real deployment passes open_clip
encode functions; the default raises an actionable error. Tests and the
oracle query inject :func:`fake_text_encoder` / :func:`fake_image_encoder`:
deterministic md5-derived vectors whose recipe is reproducible in SQL,
so the whole Spark-side contract — one mapInPandas crossing, batch
shapes, unit-normalization, the dim-sequential cosine, the threshold
gate — is value-checked end to end against DuckDB even without the
model. (The same deterministic-fake contract as the image decoder in
`operators/multimodal.py`.)

Scale shape: map-only — one Arrow pass per row, no shuffle; the real
encoder's weights load once per executor (the fastText-adapter cache
pattern) and batches ride Arrow.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenlm_spark.operators.similarity import (
    _seq_cos_blocks,
    _seq_dot,
    _seq_sq_norm,
)


def _fake_vec(salt: str, key: str, dim: int) -> np.ndarray:
    """Deterministic pseudo-embedding: component c =
    (int(md5(f'{salt}{c}:{key}')[:8], 16) % 1000) / 1000 - 0.5 —
    bit-reproducible in Spark (conv/substring/md5) and DuckDB."""
    return np.array(
        [
            (
                int(
                    hashlib.md5(f"{salt}{c}:{key}".encode()).hexdigest()[:8],
                    16,
                )
                % 1000
            )
            / 1000.0
            - 0.5
            for c in range(dim)
        ]
    )


def _fake_encoder(salt: str, dim: int):
    """Batch twin of :func:`_fake_vec` (r8): one salted-md5 kernel call
    per batch instead of n×dim hashlib calls.  ``int(hexdigest[:8], 16)``
    is the top 32 of the kernel's 60-bit hash (``h60 >> 28``), so the
    components are integer-identical."""
    from kenlm_spark.functions.md5_kernel import h60_salted_bytes_batch

    prefixes = [f"{salt}{c}:".encode() for c in range(dim)]

    def enc(keys):
        # f"{...}" in the per-key twin stringified non-str keys (numeric
        # image ids); str() keeps that, and `or ""` keeps its falsy rule
        msgs = [str(k or "").encode() for k in keys]
        if not msgs:
            return np.zeros((0, dim), dtype=np.float64)
        m = h60_salted_bytes_batch(msgs, prefixes)
        return ((m >> np.uint64(28)) % np.uint64(1000)).astype(
            np.float64
        ) / 1000.0 - 0.5

    return enc


def fake_text_encoder(dim: int = 8):
    """list[str] -> (n, dim) float64 — deterministic caption encoder."""
    return _fake_encoder("at:", dim)


def fake_image_encoder(dim: int = 8):
    """list[str] -> (n, dim) float64 — deterministic image encoder
    keyed on an image KEY column (a real encoder consumes bytes; the
    fake stands in for pixels the container cannot decode)."""
    return _fake_encoder("ai:", dim)


def _default_encoder(*_a, **_k):
    raise ImportError(
        "no encoder injected: install open_clip/torch and pass "
        "text_encoder/image_encoder callables (batch -> ndarray) to "
        "alignment_scores, or use fake_text_encoder/fake_image_encoder "
        "for plumbing tests"
    )


def alignment_scores(
    df: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    image_key_col: str = "image_id",
    text_encoder=None,
    image_encoder=None,
    threshold: float = 0.28,
) -> DataFrame:
    """(id, align_score, keep) — cosine(text_emb, image_emb) per pair,
    rounded at 6 (the oracle-parity contract), gated at ``threshold``.
    One mapInPandas crossing; encoders are called once per Arrow batch.
    """
    tenc = text_encoder or _default_encoder
    ienc = image_encoder or _default_encoder

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t = np.asarray(tenc(list(pdf["_cap"])), dtype=np.float64)
            im = np.asarray(ienc(list(pdf["_key"])), dtype=np.float64)
            tn = t / _seq_sq_norm(t)[:, None]
            inn = im / _seq_sq_norm(im)[:, None]
            score = np.round(_seq_dot(tn, inn), 6)
            yield pd.DataFrame(
                {
                    "id": pdf["_id"].to_numpy(),
                    "align_score": score,
                    "keep": score >= threshold,
                }
            )

    # internal aliases: with the default image_key_col == id_col the
    # naive 3-column select would duplicate a name, and a duplicated
    # pandas label silently returns a 2-column frame inside the batch
    return df.select(
        F.col(id_col).alias("_id"),
        F.col(caption_col).alias("_cap"),
        F.col(image_key_col).alias("_key"),
    ).mapInPandas(run, "id long, align_score double, keep boolean")


def fake_vec_sql(salt: str, expr: str, dim: int) -> str:
    """The DuckDB twin of :func:`_fake_vec` — a DOUBLE[] literal of
    ``dim`` md5-derived components over a VARCHAR expression. Shared by
    :func:`alignment_scores_sql` and the q_curation_full oracle (which
    feeds the same fake image embeddings into the k-means CTEs)."""
    comps = ", ".join(
        f"(CAST('0x' || substring(md5('{salt}{c}:' || {expr}), 1, 8) "
        f"AS BIGINT) % 1000) / 1000.0 - 0.5"
        for c in range(dim)
    )
    return f"[{comps}]"


def alignment_scores_sql(
    dim: int = 8,
    threshold: float = 0.28,
    table: str = "documents",
    id_col: str = "doc_id",
    caption_col: str = "text",
    image_key_expr: str | None = None,
    threshold_repr: str | None = None,
) -> str:
    """DuckDB twin of :func:`alignment_scores` with the fake encoders
    (the real-encoder path has no SQL twin by nature). ``image_key_expr``
    defaults to the id cast to VARCHAR, matching the query's fake keying.
    """
    key = image_key_expr or f"CAST({id_col} AS VARCHAR)"
    vec = lambda salt, expr: fake_vec_sql(salt, expr, dim)  # noqa: E731

    def unit(x: str) -> str:
        return (
            f"list_transform({x}, e -> e / sqrt(list_sum("
            f"list_transform(generate_series(1, len({x})), "
            f"i -> {x}[i] * {x}[i]))))"
        )

    dot = (
        "list_sum(list_transform(generate_series(1, len(tn)), "
        "i -> tn[i] * inn[i]))"
    )
    thr = threshold_repr or repr(threshold)
    return f"""
WITH _av AS (
  SELECT {id_col} AS id,
         {vec('at:', f"coalesce({caption_col}, '')")} AS tv,
         {vec('ai:', f"coalesce({key}, '')")} AS iv
  FROM {table}
),
_an AS (SELECT id, {unit('tv')} AS tn, {unit('iv')} AS inn FROM _av)
SELECT id, round({dot}, 6) AS align_score,
       round({dot}, 6) >= {thr} AS keep
FROM _an
"""


# ------------------------------------------------------- retrieval eval

_POOL_SALT = "pool:"


def retrieval_recall(
    df: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    image_key_col: str = "image_id",
    pool_mod: int = 5,
    k: int = 5,
    text_encoder=None,
    image_encoder=None,
) -> DataFrame:
    """(id, own_cos, rank, hit1, hitk) — text→image retrieval recall,
    the standard eval of CLIP-filtered pair data: for each caption, rank
    its OWN image by cosine among a deterministic hash-sampled negative
    pool (1/``pool_mod`` of the corpus images) plus itself.

    Scale shape: the pool is bounded (a sample, not the corpus) and its
    unit image vectors broadcast; the corpus then crosses Python ONCE —
    each Arrow batch embeds its captions + own images and ranks against
    the resident pool matrix, map-only, no shuffle. This is exactly the
    sampled-negatives protocol large-scale retrieval evals use (a full
    corpus ranking is O(N²) and nobody runs it at 10^12).

    Determinism/parity contract: cosines accumulate dim-SEQUENTIALLY and
    round at 6 before any comparison; ``rank`` = 1 + #{pool j ≠ i :
    (c_j, -j) beats (own, -i)} with ties broken toward the smaller id
    (a pool member tying the own image outranks it iff j < i) — the
    identical rule in the DuckDB twin.
    """
    spark = df.sparkSession
    tenc = text_encoder or _default_encoder
    ienc = image_encoder or _default_encoder
    from kenlm_spark.operators.dedup import h60

    pool_rows = (
        df.select(
            F.col(id_col).alias("pid"),
            F.col(image_key_col).cast("string").alias("pkey"),
        )
        .filter(
            F.pmod(
                h60(F.concat(F.lit(_POOL_SALT), F.col(id_col).cast("string"))),
                F.lit(pool_mod),
            )
            == 0
        )
        .collect()  # bounded by construction: a 1/pool_mod sample of ids
    )
    if not pool_rows:
        raise ValueError("empty negative pool: lower pool_mod")
    pool_ids = np.asarray([r["pid"] for r in pool_rows], dtype=np.int64)
    pv = np.asarray(ienc([r["pkey"] for r in pool_rows]), dtype=np.float64)
    pvn = pv / _seq_sq_norm(pv)[:, None]
    bc = spark.sparkContext.broadcast((pool_ids, pvn))

    def run(batches):
        pids, pmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            t = np.asarray(tenc(list(pdf["_cap"])), dtype=np.float64)
            im = np.asarray(ienc(list(pdf["_key"])), dtype=np.float64)
            tn = t / _seq_sq_norm(t)[:, None]
            inn = im / _seq_sq_norm(im)[:, None]
            own = np.round(_seq_dot(tn, inn), 6)
            ids = pdf["_id"].to_numpy()
            # pool cosines with the same sequential-over-dims fold the
            # SQL twin's list_sum uses, row-tiled so the dim passes and
            # the rank comparisons stay in cache (a full batch×pool slab
            # cost dim+3 DRAM sweeps per batch at a 10k pool).
            rank = np.empty(len(tn), dtype=np.int64)
            for s, pc in _seq_cos_blocks(tn, pmat):
                e = s + len(pc)
                beats = (
                    (pc > own[s:e, None])
                    | (
                        (pc == own[s:e, None])
                        & (pids[None, :] < ids[s:e, None])
                    )
                ) & (pids[None, :] != ids[s:e, None])
                rank[s:e] = 1 + beats.sum(axis=1)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "own_cos": own,
                    "rank": rank.astype("int64"),
                    "hit1": rank == 1,
                    "hitk": rank <= k,
                }
            )

    return df.select(
        F.col(id_col).alias("_id"),
        F.col(caption_col).alias("_cap"),
        F.col(image_key_col).cast("string").alias("_key"),
    ).mapInPandas(
        run, "id long, own_cos double, rank long, hit1 boolean, hitk boolean"
    )


def retrieval_recall_sql(
    dim: int = 8,
    pool_mod: int = 5,
    k: int = 5,
    table: str = "documents",
    id_col: str = "doc_id",
    caption_col: str = "text",
    image_key_expr: str | None = None,
) -> str:
    """DuckDB twin of :func:`retrieval_recall` with the fake encoders
    (cross join against the pool — fine at oracle scale; the Spark side
    broadcasts the pool instead)."""
    key = image_key_expr or f"CAST({id_col} AS VARCHAR)"
    vec = lambda salt, expr: fake_vec_sql(salt, expr, dim)  # noqa: E731

    def unit(x: str) -> str:
        return (
            f"list_transform({x}, e -> e / sqrt(list_sum("
            f"list_transform(generate_series(1, len({x})), "
            f"i -> {x}[i] * {x}[i]))))"
        )

    def dot(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, len({a})), "
            f"i -> {a}[i] * {b}[i]))"
        )

    h = (
        f"CAST(('0x' || substring(md5('{_POOL_SALT}' || "
        f"CAST(id AS VARCHAR)), 1, 15)) AS BIGINT)"
    )
    return f"""
WITH _rv AS (
  SELECT {id_col} AS id,
         {vec('at:', f"coalesce({caption_col}, '')")} AS tv,
         {vec('ai:', f"coalesce({key}, '')")} AS iv
  FROM {table}
),
_rn AS (SELECT id, {unit('tv')} AS tn, {unit('iv')} AS inn FROM _rv),
_own AS (SELECT id, tn, round({dot('tn', 'inn')}, 6) AS own_cos FROM _rn),
_pool AS (
  SELECT id AS pid, inn AS pvn FROM _rn
  WHERE (({h} % {pool_mod}) + {pool_mod}) % {pool_mod} = 0
),
_beats AS (
  SELECT o.id, o.own_cos,
         SUM(CASE WHEN p.pid <> o.id AND (
               round({dot('o.tn', 'p.pvn')}, 6) > o.own_cos
               OR (round({dot('o.tn', 'p.pvn')}, 6) = o.own_cos
                   AND p.pid < o.id)
             ) THEN 1 ELSE 0 END) AS beats
  FROM _own o CROSS JOIN _pool p
  GROUP BY o.id, o.own_cos
)
SELECT id, own_cos,
       CAST(1 + beats AS BIGINT) AS rank,
       (1 + beats) = 1 AS hit1,
       (1 + beats) <= {k} AS hitk
FROM _beats
"""
