"""DuckDB-SQL oracle generators for the driver's correctness gate.

The centerpiece is :func:`scoring_sql`: a pure-SQL reimplementation of the
backoff n-gram scoring recursion (p(w|ctx) = longest-match prob + backoff
charges — the telescoped form of /root/reference/lm/model.cc:134-296) over
an inlined VALUES table of the ARPA model. It shares no code with the Spark
scorer, so a per-row match is a genuinely independent check of the engine.

Float discipline: ARPA weights are inlined as the exact float64 widening of
their float32 storage (matching the scorer's arrays), so both sides sum the
same numbers; outputs are rounded to absorb summation-order ulps.
"""

from __future__ import annotations

import numpy as np

from kenlm_spark.functions.text import TOKEN_DELIMS_RE

_SQL_TOKS_TMPL = (
    "list_filter(regexp_split_to_array(coalesce({text}, ''), "
    "'" + TOKEN_DELIMS_RE + "'), t -> t <> '')"
)


def sql_tokens(text_expr: str) -> str:
    """DuckDB expression: reference-delimiter tokenization of a text column."""
    return _SQL_TOKS_TMPL.format(text=text_expr)


def _f32(x: float) -> str:
    return repr(float(np.float32(x)))


def arpa_ngram_rows(path: str) -> list[tuple[int, str, float, float]]:
    """(order, gram, prob, backoff) rows straight from an ARPA file.

    Reads through the loader's line grammar: missing/explicit-zero backoff
    → -0.0 (sign of zero is irrelevant to score totals); adds the
    (-100, 0) <unk> default when the file lacks it (lm/model.cc:121-126).
    """
    from itertools import repeat

    from kenlm_spark.ngram.arpa import _open, arpa_sections

    rows: list[tuple[int, str, float, float]] = []
    saw_unk = False
    with _open(path) as f:
        for sec in arpa_sections(f):
            grams = list(map(" ".join, sec.grams()))
            if sec.n == 1:
                unk = [g in ("<unk>", "<UNK>") for g in grams]
                saw_unk = any(unk)
                grams = ["<unk>" if u else g for g, u in zip(grams, unk)]
            rows += zip(repeat(sec.n), grams, sec.prob.tolist(),
                        sec.backoff.tolist())
    if not saw_unk:
        rows.append((1, "<unk>", -100.0, 0.0))
    return rows


def ngram_values_cte(path: str) -> str:
    rows = arpa_ngram_rows(path)
    vals = ",\n    ".join(
        f"({n}, '{g.replace(chr(39), chr(39) * 2)}', "
        f"CAST({_f32(p)} AS DOUBLE), CAST({_f32(b)} AS DOUBLE))"
        for n, g, p, b in rows
    )
    return f"ng(ord, gram, p, bo) AS (VALUES\n    {vals})"


def scoring_sql(
    arpa_path: str,
    order: int = 5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    include_raw: bool = False,
    stupid_backoff: bool = False,
) -> str:
    """Full-sentence KenLM scoring in DuckDB SQL.

    Output: (id, log10_prob r3, log10_ppl r4, oov_count, n_tokens) per row,
    BOS+EOS semantics identical to Model.score(s, bos=True, eos=True).
    With ``stupid_backoff``, learned backoff charges are replaced by a fixed
    log10(0.4) penalty per skipped context order (model.py's fallback mode).
    """
    N = order
    toks = sql_tokens(text_col)
    g_exprs = ",\n      ".join(
        f"array_to_string(list_slice(ts, greatest(p-{n - 1}, 1), p), ' ') AS g{n}"
        for n in range(1, N + 1)
    )
    c_exprs = ",\n      ".join(
        f"array_to_string(list_slice(ts, greatest(p-{m}, 1), p-1), ' ') AS c{m}"
        for m in range(1, N)
    )
    g_joins = "\n      ".join(
        f"LEFT JOIN ng n{n} ON n{n}.ord = {n} AND n{n}.gram = g.g{n}"
        for n in range(1, N + 1)
    )
    b_joins = "\n      ".join(
        f"LEFT JOIN ng b{m} ON b{m}.ord = {m} AND b{m}.gram = g.c{m}"
        for m in range(1, N)
    )
    cb_exprs = ",\n        ".join(
        f"CASE WHEN g.p - {m} >= 1 THEN coalesce(b{m}.bo, 0) ELSE 0 END AS cb{m}"
        for m in range(1, N)
    )
    # CASE arms: longest match wins; charge backoffs for orders k..L
    # (KN mode) or log10(0.4) per skipped order (stupid-backoff mode).
    import numpy as np  # local: keep module import surface small

    log_alpha = repr(float(np.log10(0.4)))
    arms = []
    for n in range(N, 1, -1):
        if stupid_backoff:
            charges = f"(least(p - 1, {N - 1}) - {n - 1}) * {log_alpha}"
        else:
            charges = " + ".join(f"cb{m}" for m in range(n, N)) or "0"
        arms.append(f"WHEN p{n} IS NOT NULL THEN p{n} + {charges}")
    if stupid_backoff:
        ultimate = f"p1 + least(p - 1, {N - 1}) * {log_alpha}"
    else:
        ultimate = " + ".join(["p1"] + [f"cb{m}" for m in range(1, N)])
    case = "CASE " + " ".join(arms) + f" ELSE {ultimate} END"

    return f"""
WITH {ngram_values_cte(arpa_path)},
vocab AS (
  SELECT list(gram) AS vl FROM ng WHERE ord = 1 AND gram <> '<unk>'
),
docs AS (
  SELECT {id_col} AS id, {toks} AS raw FROM {table}
),
mapped AS (
  SELECT d.id,
         CAST(len(d.raw) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(d.raw, t -> NOT list_contains(v.vl, t))) AS BIGINT)
           AS oov_count,
         list_prepend('<s>', list_append(
           list_transform(d.raw,
             t -> CASE WHEN list_contains(v.vl, t) THEN t ELSE '<unk>' END),
           '</s>')) AS ts
  FROM docs d CROSS JOIN vocab v
),
positions AS (
  SELECT id, n_tokens, oov_count, ts,
         unnest(generate_series(2, len(ts))) AS p
  FROM mapped
),
g AS (
  SELECT id, n_tokens, oov_count, p,
      {g_exprs},
      {c_exprs}
  FROM positions
),
j AS (
  SELECT g.id, g.n_tokens, g.oov_count, g.p,
         {", ".join(f"n{n}.p AS p{n}" for n in range(1, N + 1))},
         {cb_exprs.replace(chr(10) + "        ", chr(10) + "         ")}
  FROM g
      {g_joins}
      {b_joins}
),
tok AS (
  SELECT id, n_tokens, oov_count, {case} AS s FROM j
)
SELECT id AS {id_col},
       round(SUM(s), 3) AS log10_prob,
       round(-SUM(s) / (MAX(n_tokens) + 1), 4) AS log10_ppl,
       MAX(oov_count) AS oov_count,
       MAX(n_tokens) AS n_tokens{", SUM(s) AS log10_prob_raw" if include_raw else ""}
FROM tok
GROUP BY id
"""
